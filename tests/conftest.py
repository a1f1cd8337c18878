from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from logpipe_spark.session import build_session

    s = build_session(app_name="logpipe_spark_tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_TINY}/{t}.parquet'"
        )
    yield con
    con.close()


class QueryBuilds:
    """One build of each driver query per session, shared by the
    oracle-parity and plan-invariant gates.

    ``build`` calls ``queries()[name](spark, SF_TINY)`` and records the
    executed plan string at once, before any action runs, so the plan
    gates see the pre-execution plan (not AQE's final plan), together with
    the number of its RDD scans that read a Python RDD. Only these two are
    kept; ``plan`` and ``python_rdd_scans`` build on a cache miss, so
    either gate file still runs alone.
    """

    def __init__(self, spark):
        import __spark_entry__ as entrymod

        self.spark = spark
        self.queries = entrymod.queries()
        self.plans: dict[str, str] = {}
        self.python_scans: dict[str, int] = {}

    def build(self, name: str):
        df = self.queries[name](self.spark, SF_TINY)
        self.plans[name] = df._jdf.queryExecution().executedPlan().toString()
        self.python_scans[name] = python_rdd_scans(df)
        return df

    def plan(self, name: str) -> str:
        if name not in self.plans:
            self.build(name)
        return self.plans[name]

    def python_rdd_scans(self, name: str) -> int:
        if name not in self.python_scans:
            self.build(name)
        return self.python_scans[name]


def python_rdd_scans(df) -> int:
    """RDD scans in ``df``'s optimized plan whose RDD lineage holds a
    PythonRDD (a ``createDataFrame(<list>)`` frame). A checkpointed RDD's
    lineage stops at its checkpoint, so a localCheckpoint does not count."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum("PythonRDD" in leaves.apply(i).rdd().toDebugString()
               for i in range(leaves.size())
               if leaves.apply(i).nodeName() == "LogicalRDD")


@pytest.fixture(scope="session")
def query_builds(spark):
    return QueryBuilds(spark)
