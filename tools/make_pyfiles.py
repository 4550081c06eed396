"""Package the engine for ``spark-submit --py-files``.

Produces dist/resume_ocr_spark.zip (or the path given as the first
argument) containing the package (sources only). The zip is a build
output, not a tracked file: build it before each submit. Cluster usage:

    python tools/make_pyfiles.py [out.zip]
    spark-submit --py-files dist/resume_ocr_spark.zip \
        tools/submit_extraction.py \
        --warehouse s3://bucket/warehouse --output s3://bucket/out \
        --run-id run-2026-08-16 [--query "senior data engineer ..."]
"""

from __future__ import annotations

import os
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(out: str | None = None) -> str:
    out = out or os.path.join(ROOT, "dist", "resume_ocr_spark.zip")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    pkg = os.path.join(ROOT, "resume_ocr_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, ROOT))
    print(out)
    return out


if __name__ == "__main__":
    main(*sys.argv[1:2])
