from __future__ import annotations

import os

import duckdb
import pytest

from slice_db_spark.session import get_spark, load_catalog

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("slice_db_spark_tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def catalog(spark):
    return load_catalog(spark, SF_DIR)


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def rows_set(df):
    """Spark DataFrame -> set of tuples with normalized values (for
    order-insensitive comparison against duckdb)."""
    return {tuple(r) for r in df.collect()}


def ddb_set(con, sql):
    return {tuple(r) for r in con.sql(sql).fetchall()}


def _sql_executions(spark):
    """The session's SQL status store entries, oldest first, once every
    posted event has reached the store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return spark._jsparkSession.sharedState().statusStore().executionsList()


def last_execution_id(spark) -> int:
    """Id of the session's latest SQL execution (-1 before the first)."""
    execs = _sql_executions(spark)
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def max_plan_chars(spark, after_id: int) -> tuple[int, int]:
    """(last SQL execution id, longest physical-plan description among the
    executions after ``after_id``)."""
    execs = _sql_executions(spark)
    last, longest = after_id, 0
    for i in reversed(range(execs.size())):
        e = execs.apply(i)
        if e.executionId() <= after_id:
            break
        last = max(last, e.executionId())
        longest = max(longest, len(e.physicalPlanDescription()))
    return last, longest
