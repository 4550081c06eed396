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
