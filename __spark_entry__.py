"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (referentially-closed slice
capture — the reference's ``slicedb dump`` semantics — over the sf0.001
star schema).  ``queries()`` / ``oracle_sql()`` expose every implemented
operator from SURVEY.md §2 plus the LLM-pipeline extensions; oracles are
DuckDB SQL computing identical results (see
``slice_db_spark/plans/queries.py`` for the cross-engine determinism
rules).  Every registry entry carries an oracle — the RNG/FPE scrub is
gated structurally (its invariants, predicted all-true, are the compared
frame).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from slice_db_spark.plans import queries as Q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: slice-capture closure of 20 customers on sf0.001."""
    return Q.queries()["closure_customers"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return Q.queries()


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()
