from __future__ import annotations

import pytest

from sparkcheck.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sparkcheck-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s


@pytest.fixture(autouse=True)
def _pin_session_conf(request):
    """Tests share one JVM SparkSession, but code under test may
    legitimately call get_spark() itself (the CLI entrypoints do) —
    getOrCreate applies builder confs onto the EXISTING session, so a
    CLI test bumps spark.sql.shuffle.partitions from 4 to 32 for every
    later test. Re-pin the session defaults before each test so plan
    shapes don't depend on test file ordering."""
    if "spark" not in request.fixturenames:
        yield
        return
    s = request.getfixturevalue("spark")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    yield


@pytest.fixture
def collects(spark, monkeypatch):
    """The job description in force at each ``DataFrame.collect()`` the
    test makes, in call order (``len`` counts the collects)."""
    cls = type(spark.range(1))
    real = cls.collect
    seen = []

    def spy(self):
        seen.append(spark.sparkContext.getLocalProperty("spark.job.description"))
        return real(self)

    monkeypatch.setattr(cls, "collect", spy)
    return seen
