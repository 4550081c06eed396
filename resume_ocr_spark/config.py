"""Engine constants.

Semantics-bearing values mirror the reference exactly (file:line cited);
scale-tuning values are ours.
"""

# --- reference semantics (must not drift) ---------------------------------
# reference: app/config/constants.py:4-16
MAX_FILE_SIZE = 10 * 1024 * 1024  # 10 MB payload cap -> error-as-data above this
# reference: app/services/ocr_service.py:61 — direct-text PDF threshold
PDF_TEXT_THRESHOLD = 200
# reference: app/utils/validation_service.py:149 — classifier input cap
VALIDATION_TEXT_CAP = 3000
# reference: app/routers/analysis.py:543-544 — ranked mode returns top-5
TOP_K = 5
# reference: app/services/ocr_service.py:117 — ordered page markers
PAGE_MARKER = "\n--- Página {} ---\n"
# reference: app/services/llm_service.py:16 — score bounds
SCORE_MIN, SCORE_MAX = 0.0, 10.0
# seniority thresholds (years of experience -> label), replacing the LLM
# judgement of llm_service.py:93 with a deterministic rubric
SENIORITY_JUNIOR_MAX_YEARS = 2
SENIORITY_PLENO_MAX_YEARS = 6

# --- engine scale tuning ---------------------------------------------------
# media spans per doc above this count as skewed (SURVEY.md §4: media-heavy
# docs pin tasks); the corpus generators draw the skew tail above it. The
# pipeline needs no salt: the OCR stage repartitions by (doc_id, offset),
# so a skewed doc's spans spread over every task
SKEW_SPAN_THRESHOLD = 32
# Iceberg-layout shim: number of hash(doc_id) buckets in the warehouse
WAREHOUSE_BUCKETS = 8
# Arrow batch size for the extraction UDFs (bounds per-batch memory when a
# batch holds multi-MB media payloads)
ARROW_MAX_RECORDS_PER_BATCH = 256
