from __future__ import annotations

import pytest

from spanner_jdbc_converter_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck(sf_dir):
    from spanner_jdbc_converter_spark.oracle import duckdb_connection

    con = duckdb_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture
def lazy_stages(monkeypatch):
    """Make ``session.stage`` the identity for one test, so an operator's
    plan shows its whole pipeline instead of checkpoint scans."""
    from spanner_jdbc_converter_spark import session

    monkeypatch.setattr(session, "stage", lambda *frames: frames)


@pytest.fixture
def collected_plans(spark, monkeypatch):
    """A list that receives the executed physical plan (``simple``
    explain) of every ``DataFrame.collect`` in one test, in order;
    ``first``, ``head`` and ``take`` collect too."""
    cls = type(spark.range(1))
    real = cls.collect
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    plans: list[str] = []

    def collect(self):
        rows = real(self)
        plans.append(self._jdf.queryExecution().explainString(mode))
        return rows

    monkeypatch.setattr(cls, "collect", collect)
    return plans


@pytest.fixture
def connected_groups_rounds(monkeypatch):
    """``run(pairs, **kw)`` returns ``(dedup.connected_groups(pairs, **kw),
    rounds)``.  Rounds are counted from the stats-reset checkpoints the
    call makes: the first canonicalizes the edges, each later one ends a
    round."""
    from spanner_jdbc_converter_spark import session
    from spanner_jdbc_converter_spark.operators import dedup as dd

    calls = []
    real = session.stats_reset_checkpoint

    def counted(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(session, "stats_reset_checkpoint", counted)

    def run(pairs, **kw):
        calls.clear()
        groups = dd.connected_groups(pairs, **kw)
        return groups, len(calls) - 1

    return run
