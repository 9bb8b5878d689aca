from __future__ import annotations

import os

import pytest

from parcialbigdata_spark.session import get_spark

#: The status store keeps every job and stage of the test session. Tests
#: count a call's jobs and read its stages' task counts; past Spark's
#: default of 1000 retained jobs and stages, a long session would evict
#: them before the test reads them.
_RETAIN_STATUS = "spark.ui.retainedJobs=100000;spark.ui.retainedStages=100000"


@pytest.fixture(scope="session")
def spark():
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    # Caller overrides apply after these, so they still win.
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, (_RETAIN_STATUS, extra)))
    try:
        s = get_spark("parcialbigdata-tests")
    finally:
        if extra is None:
            del os.environ["SPARK_GRAFT_EXTRA_CONF"]
        else:
            os.environ["SPARK_GRAFT_EXTRA_CONF"] = extra
    yield s
    s.stop()
