"""spark-submit --py-files packaging: the engine must run from the zip.

north_rule: "packaged for spark-submit --py-files". No real spark-submit in
the sandbox, so this pins the two properties --py-files relies on:

  1. the dist zip is importable as a zipimport package (driver side), and
  2. a pipeline whose UDFs were pickled from zip-imported modules executes
     on executors with the zip shipped via ``addPyFile`` (executor side).

Run in a subprocess so the zip import can't be satisfied by the repo
checkout already present on this process's sys.path.
"""

import os
import subprocess
import sys
import textwrap
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package_sources() -> set[str]:
    pkg = os.path.join(ROOT, "resume_ocr_spark")
    return {
        os.path.relpath(os.path.join(d, f), ROOT).replace(os.sep, "/")
        for d, _, files in os.walk(pkg) if "__pycache__" not in d
        for f in files if f.endswith(".py")
    }


def test_pipeline_runs_from_pyfiles_zip(tmp_path):
    # built into tmp_path: the test never rewrites anything in the checkout
    zip_path = str(tmp_path / "resume_ocr_spark.zip")
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_pyfiles.py"),
         zip_path], check=True, capture_output=True)
    with zipfile.ZipFile(zip_path) as zf:
        assert set(zf.namelist()) == _package_sources()

    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {zip_path!r})
        import resume_ocr_spark
        assert {zip_path!r} in resume_ocr_spark.__file__, resume_ocr_spark.__file__
        from resume_ocr_spark.session import get_spark
        from resume_ocr_spark import corpus, warehouse, oracle
        from resume_ocr_spark.operators import extract
        spark = get_spark(app_name="pyfiles_test", cores=4,
                          shuffle_partitions=8)
        spark.sparkContext.addPyFile({zip_path!r})
        docs, blobs = corpus.gen_corpus(12, seed=4242)
        root = {str(tmp_path / "wh")!r}
        warehouse.build_warehouse(spark, root, docs, blobs)
        out = extract.extract_documents(
            warehouse.read_table(spark, root, "documents_raw"),
            warehouse.read_table(spark, root, "media_blobs"))
        rows = {{r["doc_id"]: r for r in out.collect()}}
        exp = oracle.run_pipeline(docs, blobs, query=None)
        key = lambda s: (s["kind"], s["text"], s["media_ref"], s["offset"])
        for d in docs:
            got = [key(s.asDict()) for s in rows[d["doc_id"]]["spans"]]
            want = [key(s) for s in exp[d["doc_id"]]["spans"]]
            assert got == want, d["doc_id"]
        print("PYFILES_OK", len(docs))
    """)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only source
    proc = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=420)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "PYFILES_OK" in proc.stdout
