"""End-to-end test of tools/submit_extraction.py on a tiny warehouse: a
good run prints its summary line with the oracle's ok-count, and the
job refuses a bad query or chunk size (2), a missing warehouse (3) and a
run in which every document failed (1)."""

import logging
import re
import sys

import pytest

from resume_ocr_spark import corpus, oracle, pipeline, warehouse


@pytest.fixture
def run_job(tmp_path, capsys):
    from tools import submit_extraction

    root = logging.getLogger()
    saved = list(root.handlers)

    def run(wh, *extra):
        old = sys.argv
        sys.argv = ["submit_extraction.py", "--warehouse", wh,
                    "--output", str(tmp_path / "out"), "--run-id", "r1",
                    "--log-dir", str(tmp_path / "logs"), *extra]
        try:
            rc = submit_extraction.main()
        finally:
            sys.argv = old
        return rc, capsys.readouterr()

    yield run
    # the job installs its own log sink; hand the root logger back
    for h in list(root.handlers):
        if h not in saved:
            h.close()
            root.removeHandler(h)
    for h in saved:
        if h not in root.handlers:
            root.addHandler(h)


def test_good_run_prints_summary_with_oracle_ok_count(spark, tmp_path,
                                                      run_job):
    docs, blobs = corpus.gen_corpus(6, seed=5151, with_edge_cases=False)
    docs.append({"doc_id": "lost", "spans": [
        {"kind": "image", "text": None, "media_ref": "blob:lost",
         "offset": 0}]})
    wh = str(tmp_path / "wh")
    warehouse.build_warehouse(spark, wh, docs, blobs)
    rc, out = run_job(wh, "--query", "senior python engineer")
    assert rc == 0, out.err
    line = out.out.strip().splitlines()[-1]
    m = re.fullmatch(r"run=r1 buckets=(\d+) docs=(\d+) ocr_pages=\d+ "
                     r"parse_failures=\d+ ok_docs=(\d+)", line)
    assert m, line
    exp = oracle.run_pipeline(docs, blobs, query=None)
    assert int(m.group(2)) == len(docs)
    n_ok = sum(r["analysis"]["error"] is None for r in exp.values())
    assert int(m.group(3)) == n_ok == len(docs) - 1


def test_refusals(spark, tmp_path, run_job):
    missing = str(tmp_path / "no_warehouse")
    rc, out = run_job(missing)
    assert rc == 3 and "unreachable" in out.err
    rc, out = run_job(missing, "--query", "de a e o")
    assert rc == 2 and "no content terms" in out.err
    rc, out = run_job(missing, "--query", "python " * 400)
    assert rc == 2 and "longer than 2500" in out.err
    for size in ("0", "-2"):
        rc, out = run_job(missing, "--chunk-size", size)
        assert rc == 2 and "invalid chunk size" in out.err
        with pytest.raises(ValueError, match="chunk_size"):
            pipeline.run_extraction(spark, missing, str(tmp_path / "out"),
                                    "r1", chunk_size=int(size))


def test_all_documents_failed(spark, tmp_path, run_job):
    docs = [{"doc_id": f"d{i}",
             "spans": [{"kind": "image", "text": None,
                        "media_ref": f"blob:missing:{i}", "offset": 0}]}
            for i in range(4)]
    blobs = [{"media_ref": "blob:unused", "kind": "image", "payload": b"x"}]
    wh = str(tmp_path / "wh")
    warehouse.build_warehouse(spark, wh, docs, blobs)
    rc, out = run_job(wh)
    assert rc == 1, out.err
    assert out.out.strip().endswith("ok_docs=0")
    assert "all documents failed" in out.err


def test_resume_under_another_query_is_refused(spark, tmp_path, run_job):
    """A run is scored under one query: resuming it under another exits 2
    and leaves the run as it was."""
    docs, blobs = corpus.gen_corpus(4, seed=5151, with_edge_cases=False)
    wh = str(tmp_path / "wh")
    warehouse.build_warehouse(spark, wh, docs, blobs)
    rc, out = run_job(wh, "--query", "senior python engineer")
    assert rc == 0, out.err
    rc, out = run_job(wh, "--query", "junior chef")
    assert rc == 2 and "senior python engineer" in out.err, out.err
    rc, out = run_job(wh, "--query", "senior python engineer")
    assert rc == 0, out.err
