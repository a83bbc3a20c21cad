import os
import shutil

import pytest

from pdf_extraction_spark.session import build_session


def pytest_configure(config):
    # pytest makes only the last directory of --basetemp (pytest.ini:
    # .work/pytest-tmp); a fresh checkout has no .work/ yet
    if config.option.basetemp:
        os.makedirs(os.path.dirname(os.path.abspath(config.option.basetemp)), exist_ok=True)


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
