"""Driver-contract invariants for `__spark_entry__`:

* every oracle key has a query (and the reverse set is the documented
  rows-only list);
* every query's output schema is scalar-only — the driver's canonicalizer
  sorts and hashes rows, and array/map/binary columns crash it (the
  round-1 media_decode failure class);
* every oracle is valid DuckDB SQL against the fixture views (EXPLAIN —
  parse + bind without execution);
* the name lists kept outside the registry (bench's sweep and single-shot
  sets, the plan audit) name registered entries, and the first headline
  entry to reach each registry memo is single-shot in bench.
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


def _bench_and_audit():
    import importlib.util
    import os
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    import bench

    spec = importlib.util.spec_from_file_location(
        "plan_report", os.path.join(root, "tools", "plan_report.py"))
    plan_report = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(plan_report)
    return bench, plan_report


def test_bench_and_audit_lists_name_registered_entries():
    """bench's sweep and single-shot sets and the plan audit list are the
    hand-kept name lists left outside the registry: a typo there would
    only surface after bench's whole headline loop."""
    bench, plan_report = _bench_and_audit()
    registered = set(entry.queries())
    for names in (bench.SWEEP, bench.SINGLE_SHOT, plan_report.AUDIT):
        assert names and set(names) <= registered, set(names) - registered


def test_first_reacher_of_each_memo_is_single_shot():
    """Each registry memo is filled by the first headline entry, in bench's
    run order (registry order), whose code reaches its accessor: that
    entry must be timed once, or best-of-N reports the cache read and the
    materialization drops out of the total.  No other entry is single-shot:
    a later reader's own work is timed best-of-N.  Reachability is over the
    module's functions, plus module-level lists of entry names (the
    panorama families run through ``queries()``)."""
    import ast
    import inspect

    from slice_db_spark.plans import queries as Q

    bench, _ = _bench_and_audit()
    fns = {name: getattr(fn, "func", fn).__name__ for name, fn in Q.queries().items()}
    refs, name_lists = {}, {}
    for node in ast.parse(inspect.getsource(Q)).body:
        if isinstance(node, ast.FunctionDef):  # the body only: not the oracle
            refs[node.name] = {
                x.id for part in (node.args, *node.body) for x in ast.walk(part)
                if isinstance(x, ast.Name)
            }
        elif isinstance(node, ast.Assign) and isinstance(node.value, (ast.List, ast.Tuple)):
            elts = [e.value for e in node.value.elts if isinstance(e, ast.Constant)]
            if elts and set(elts) <= set(fns):
                name_lists[node.targets[0].id] = {fns[e] for e in elts}

    def reach(fn):
        seen, todo = set(), [fn]
        while todo:
            f = todo.pop()
            if f in seen:
                continue
            seen.add(f)
            for r in refs.get(f, ()):
                todo.extend(name_lists.get(r, {r} if r in refs else ()))
        return seen

    firsts = {
        accessor: next(n for n in Q.headline() if accessor in reach(fns[n]))
        for accessor in ("_subset", "_jaccard_pairs_05", "minhash_lsh", "_flat_opq_rotation")
    }
    assert set(firsts.values()) == bench.SINGLE_SHOT, firsts
