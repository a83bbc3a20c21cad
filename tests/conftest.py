import shutil

import pytest

from pdf_extraction_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def work_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("work")
    yield str(d)
    shutil.rmtree(str(d), ignore_errors=True)
