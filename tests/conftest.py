import importlib
import logging
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    from resume_ocr_spark.session import get_spark

    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def small_corpus():
    from resume_ocr_spark import corpus

    return corpus.gen_corpus(40, seed=42)


@pytest.fixture
def run_job(tmp_path, capsys):
    """``run_job(["submit_<job>", *args])`` runs that ``tools/`` job
    in-process and returns ``(rc, stdout, stderr)``. Its run events go to
    ``tmp_path / "logs"``; the root logger's handlers and level, which
    the job's log sink replaces, are handed back afterwards."""
    root = logging.getLogger()
    saved, level = list(root.handlers), root.level

    def run(argv):
        name, *args = argv
        main = importlib.import_module(f"tools.{name}").main
        capsys.readouterr()
        rc = main(["--log-dir", str(tmp_path / "logs"), *args])
        out = capsys.readouterr()
        return rc, out.out, out.err

    yield run
    for h in list(root.handlers):
        if h not in saved:
            h.close()
            root.removeHandler(h)
    for h in saved:
        if h not in root.handlers:
            root.addHandler(h)
    root.setLevel(level)
