"""End-to-end test of tools/submit_extraction.py on a tiny warehouse: a
good run prints its JSON summary line with the oracle's ok-count, and the
job refuses a bad query or chunk size (2), a missing warehouse (3) and a
run in which every document failed (1)."""

import json

import pytest

from resume_ocr_spark import corpus, oracle, pipeline, warehouse


@pytest.fixture
def extract(tmp_path, run_job):
    def run(wh, *extra):
        return run_job(["submit_extraction", "--warehouse", wh,
                        "--output", str(tmp_path / "out"), "--run-id", "r1",
                        *extra])

    return run


def test_good_run_prints_summary_with_oracle_ok_count(spark, tmp_path,
                                                      extract):
    docs, blobs = corpus.gen_corpus(6, seed=5151, with_edge_cases=False)
    docs.append({"doc_id": "lost", "spans": [
        {"kind": "image", "text": None, "media_ref": "blob:lost",
         "offset": 0}]})
    wh = str(tmp_path / "wh")
    warehouse.build_warehouse(spark, wh, docs, blobs)
    rc, out, err = extract(wh, "--query", "senior python engineer")
    assert rc == 0, err
    audit = json.loads(out)
    assert audit["run"] == "r1"
    assert set(audit) == {"run", "buckets", "docs", "ocr_pages",
                          "parse_failures", "ok_docs"}
    exp = oracle.run_pipeline(docs, blobs, query=None)
    assert audit["docs"] == len(docs)
    n_ok = sum(r["analysis"]["error"] is None for r in exp.values())
    assert audit["ok_docs"] == n_ok == len(docs) - 1


def test_refusals(spark, tmp_path, extract):
    missing = str(tmp_path / "no_warehouse")
    rc, _, err = extract(missing)
    assert rc == 3 and "unreachable" in err
    rc, _, err = extract(missing, "--query", "de a e o")
    assert rc == 2 and "no content terms" in err
    rc, _, err = extract(missing, "--query", "python " * 400)
    assert rc == 2 and "longer than 2500" in err
    for size in ("0", "-2"):
        rc, _, err = extract(missing, "--chunk-size", size)
        assert rc == 2 and "invalid chunk size" in err
        with pytest.raises(ValueError, match="chunk_size"):
            pipeline.run_extraction(spark, missing, str(tmp_path / "out"),
                                    "r1", chunk_size=int(size))


def test_all_documents_failed(spark, tmp_path, extract):
    docs = [{"doc_id": f"d{i}",
             "spans": [{"kind": "image", "text": None,
                        "media_ref": f"blob:missing:{i}", "offset": 0}]}
            for i in range(4)]
    blobs = [{"media_ref": "blob:unused", "kind": "image", "payload": b"x"}]
    wh = str(tmp_path / "wh")
    warehouse.build_warehouse(spark, wh, docs, blobs)
    rc, out, err = extract(wh)
    assert rc == 1, err
    assert json.loads(out)["ok_docs"] == 0
    assert "all documents failed" in err


def test_resume_under_another_query_is_refused(spark, tmp_path, extract):
    """A run is scored under one query: resuming it under another exits 2
    and leaves the run as it was."""
    docs, blobs = corpus.gen_corpus(4, seed=5151, with_edge_cases=False)
    wh = str(tmp_path / "wh")
    warehouse.build_warehouse(spark, wh, docs, blobs)
    rc, _, err = extract(wh, "--query", "senior python engineer")
    assert rc == 0, err
    rc, _, err = extract(wh, "--query", "junior chef")
    assert rc == 2 and "senior python engineer" in err, err
    rc, _, err = extract(wh, "--query", "senior python engineer")
    assert rc == 0, err
