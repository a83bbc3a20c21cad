import contextlib
import os
import shutil

import pytest

from pdf_extraction_spark.plans import stage_store
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


@pytest.fixture
def crash_before_commit(monkeypatch):
    """``with crash_before_commit(stage): run(...)`` makes
    ``stage_store.commit_stage`` raise for ``stage`` inside the block,
    where a real crash lands: after every earlier stage committed and
    before this one did.  The block must raise that crash."""

    @contextlib.contextmanager
    def crash(stage):
        commit = stage_store.commit_stage

        def crashing(df, root, name, run_id):
            if name == stage:
                raise RuntimeError(f"injected crash before the {stage} commit")
            return commit(df, root, name, run_id)

        with monkeypatch.context() as m:
            m.setattr(stage_store, "commit_stage", crashing)
            with pytest.raises(RuntimeError, match="injected crash"):
                yield

    return crash
