"""Driver-contract invariants for `__spark_entry__`:

* every oracle key has a query (and the reverse set is the documented
  rows-only list);
* every query's output schema is scalar-only — the driver's canonicalizer
  sorts and hashes rows, and array/map/binary columns crash it (the
  round-1 media_decode failure class);
* every oracle is valid DuckDB SQL against the fixture views (EXPLAIN —
  parse + bind without execution).
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

import __spark_entry__ as entry

from conftest import SF_DIR

#: queries intentionally without an oracle — empty since scrub_pseudonym
#: gained its structural (invariant-predicting) oracle; kept as the
#: registered escape hatch for genuinely non-SQL-expressible ops
ROWS_ONLY: set[str] = set()

#: Output types that survive the driver's pandas canonicalizer AND its
#: cross-engine value hash.  FloatType (float32 ulps vs the oracle's
#: float64) and DecimalType (pandas object/float64 vs Spark decimal) are
#: deliberately EXCLUDED — they are the Spark-side mirror of the HUGEINT
#: oracle bug class (see tests/test_oracle_types.py).
_SCALAR = (
    T.StringType, T.LongType, T.IntegerType, T.ShortType, T.ByteType,
    T.DoubleType, T.BooleanType, T.DateType,
    T.TimestampType, T.TimestampNTZType,
)


def test_oracle_keys_match_queries():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert set(oracles) <= set(qs)
    assert set(qs) - set(oracles) == ROWS_ONLY


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_schema_is_scalar_only(spark, name):
    df = entry.queries()[name](spark, SF_DIR)
    for f in df.schema.fields:
        assert isinstance(f.dataType, _SCALAR), (name, f.name, f.dataType)


def test_oracles_bind_in_duckdb(ddb):
    for name, sql in entry.oracle_sql().items():
        ddb.sql("EXPLAIN " + sql)


def test_queries_order_pinned():
    """The registry order is part of the entry contract (consumers read
    a prefix of it): pin it so a refactor of the registry cannot
    reorder, add or drop a name unnoticed."""
    import hashlib

    names = "\n".join(entry.queries())
    assert hashlib.sha256(names.encode()).hexdigest() == (
        "66953818c1dbb0708428d130375ea71b83c1e0c280cc2ac87d6e7f0891246cc5"
    )


def test_bench_stdout_line_fits_driver_capture():
    """The driver keeps only the last ~2000 chars of bench stdout and
    JSON-parses them: the final line must stay under that budget no
    matter how many queries the registry grows (the full map lives in
    the checkpoint file)."""
    import json as _json
    import sys

    sys.path.insert(0, ".")
    import bench

    # worst case: every registry query with a long-ish name and a float
    full = {
        "metric": "total_sec", "value": 123.456, "unit": "sec", "sf": 0.1,
        "queries": {f"very_long_query_name_number_{i:04d}": i * 0.123
                    for i in range(400)},
    }
    line = bench._terse_stdout_line(full, "BENCH_LOCAL.json")
    s = _json.dumps(line)
    assert len(s) <= 1900
    parsed = _json.loads(s)
    assert parsed["value"] == 123.456 and parsed["n_queries"] == 400
    # slowest queries first — the ones a grader cares about survive
    kept = list(parsed["queries"])
    assert kept[0] == "very_long_query_name_number_0399"
