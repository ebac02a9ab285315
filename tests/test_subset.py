"""Subset-engine correctness vs DuckDB recursive-CTE oracle.

The oracle materializes the full (tbl,key)→(tbl,key) FK edge relation for
the configured directions and computes the closure with WITH RECURSIVE —
an independent formulation of the same semantics (reference fixture model:
`test/test_dump.py:47-104`).
"""

from __future__ import annotations

from slice_db_spark.config.model import Reference, Root, SchemaConfig, Table
from slice_db_spark.plans.subset import DRIVER_ROWS, Subsetter
from slice_db_spark.plans.tpch import KEY_EXPRS, tpch_schema

from conftest import ddb_set, last_execution_id, max_plan_chars, rows_set

# Directed edges of tpch_schema(reverse_fanout=True) as (src tbl, dst tbl)
# pairs over single-bigint surrogate keys; a src frontier row discovers dst
# rows.  Forward: child->parent.  Reverse: parent->child.
#
# No-backtrack caveat (reference `slice_db/dump_temp_table.py:75-86`): rows
# arriving through an edge never traverse its inverse.  In this star schema
# that only changes results for the customer->orders reverse edge when
# customers were themselves *discovered* (not roots): a customer pulled in
# by one of its orders must not fan out to its sibling orders.  Tests whose
# roots are customers use the full edge list; tests rooted elsewhere drop
# the customer-fanout edge (marked %(fanout)s).
FORWARD_EDGES = """
  SELECT 'nation' AS t1, CAST(n_nationkey AS BIGINT) k1, 'region' t2, CAST(n_regionkey AS BIGINT) k2 FROM nation
  UNION ALL SELECT 'customer', c_custkey, 'nation', c_nationkey FROM customer
  UNION ALL SELECT 'supplier', s_suppkey, 'nation', s_nationkey FROM supplier
  UNION ALL SELECT 'orders', o_orderkey, 'customer', o_custkey FROM orders
  UNION ALL SELECT 'lineitem', l_orderkey * 8 + l_linenumber, 'orders', l_orderkey FROM lineitem
  UNION ALL SELECT 'lineitem', l_orderkey * 8 + l_linenumber, 'part', l_partkey FROM lineitem
  UNION ALL SELECT 'lineitem', l_orderkey * 8 + l_linenumber, 'supplier', l_suppkey FROM lineitem
  UNION ALL SELECT 'orders', l_orderkey, 'lineitem', l_orderkey * 8 + l_linenumber FROM lineitem
"""
CUSTOMER_FANOUT_EDGE = (
    "  UNION ALL SELECT 'customer', o_custkey, 'orders', o_orderkey FROM orders\n"
)


def oracle_sql(roots_sql: str, customer_fanout: bool = True) -> str:
    edges = FORWARD_EDGES + (CUSTOMER_FANOUT_EDGE if customer_fanout else "")
    return f"""
WITH RECURSIVE edges AS ({edges}),
roots AS ({roots_sql}),
closure AS (
  SELECT t1, k1 FROM roots
  UNION
  SELECT e.t2, e.k2 FROM closure c JOIN edges e ON e.t1 = c.t1 AND e.k1 = c.k1
)
SELECT t1 AS tbl, k1 AS key FROM closure
"""


def run_subset(spark, catalog, roots):
    schema = tpch_schema()
    cat = {t: catalog[t] for t in schema.tables}
    eng = Subsetter(spark, cat, schema)
    res = eng.run(roots)
    return eng, res


def test_closure_single_customer(spark, catalog, ddb):
    eng, res = run_subset(spark, catalog, [Root("customer", "c_custkey = 1")])
    got = rows_set(eng.closure_keys(res, KEY_EXPRS))
    want = ddb_set(
        ddb,
        oracle_sql(
            "SELECT 'customer' t1, CAST(c_custkey AS BIGINT) k1 FROM customer WHERE c_custkey = 1"
        ),
    )
    assert got == want
    # sanity: the slice reaches every table type
    tbls = {t for t, _ in got}
    assert {"customer", "orders", "lineitem", "part", "supplier", "nation", "region"} <= tbls


def test_closure_orders_date_root(spark, catalog, ddb):
    cond = "o_orderdate < timestamp '1995-02-01'"
    eng, res = run_subset(spark, catalog, [Root("orders", cond)])
    got = rows_set(eng.closure_keys(res, KEY_EXPRS))
    want = ddb_set(
        ddb,
        oracle_sql(
            "SELECT 'orders' t1, CAST(o_orderkey AS BIGINT) k1 FROM orders "
            "WHERE o_orderdate < TIMESTAMP '1995-02-01'",
            customer_fanout=False,
        ),
    )
    assert got == want


def test_union_of_roots(spark, catalog, ddb):
    eng, res = run_subset(
        spark,
        catalog,
        [Root("customer", "c_custkey in (1, 2)"), Root("supplier", "s_suppkey = 3")],
    )
    got = rows_set(eng.closure_keys(res, KEY_EXPRS))
    want = ddb_set(
        ddb,
        oracle_sql(
            "SELECT 'customer' t1, CAST(c_custkey AS BIGINT) k1 FROM customer WHERE c_custkey IN (1,2) "
            "UNION ALL SELECT 'supplier', CAST(s_suppkey AS BIGINT) FROM supplier WHERE s_suppkey = 3"
        ),
    )
    assert got == want


def test_export_rows_match_keys(spark, catalog):
    """Row identity is the declared key tuple (the reference keys on physical
    ctid — SURVEY §7 hard parts): every row sharing a visited key tuple is
    exported, so exported *distinct keys* equal the visited counts and
    exported rows are at least that many (synthetic lineitem has duplicate
    (l_orderkey, l_linenumber) tuples)."""
    eng, res = run_subset(spark, catalog, [Root("customer", "c_custkey = 1")])
    tables = eng.export(res)
    schema = tpch_schema()
    for t, df in tables.items():
        keys = schema.tables[t].keys()
        assert df.select(*keys).distinct().count() == res.row_counts[t]
        assert df.count() >= res.row_counts[t]
    # exported orders all belong to customer 1's closure
    o = tables["orders"].select("o_custkey").distinct().collect()
    assert {r[0] for r in o} == {1}


def test_empty_root(spark, catalog):
    eng, res = run_subset(spark, catalog, [Root("customer", "c_custkey = -42")])
    assert res.keys == {}
    assert res.row_counts == {}


def test_regimes_agree(spark, catalog, ddb):
    """Driver regime, mid-flight spill, and pure distributed produce the
    identical closure.  A spill lifts the driver state into DataFrames
    after the overflowing round and the distributed loop continues from
    the next round; only when a job of that round hit its row limit (its
    rows are truncated) is the round-start state lifted and the round
    redone distributed."""
    schema = tpch_schema()
    cat = {t: catalog[t] for t in schema.tables}
    roots = [Root("customer", "c_custkey <= 3")]
    want = ddb_set(
        ddb,
        oracle_sql(
            "SELECT 'customer' t1, CAST(c_custkey AS BIGINT) k1 FROM customer WHERE c_custkey <= 3"
        ),
    )
    # budget -> driver rounds before the first distributed one.  At 130 no
    # job of round 2 exceeds the budget but their sum does: round 2 is kept
    # and the distributed rounds start at round 3.  At 40 a round-2 job hits
    # its row limit, so round 2 is redone distributed.
    spill_after = {130: 2, 40: 1}
    seen_modes = set()
    for driver_rows in (200_000, 130, 40, 0):
        eng = Subsetter(spark, cat, schema, driver_rows=driver_rows)
        res = eng.run(roots)
        got = rows_set(eng.closure_keys(res, KEY_EXPRS))
        assert got == want, f"driver_rows={driver_rows}"
        modes = tuple(h.get("mode", "dist") for h in res.history)
        seen_modes.add(modes)
        if driver_rows in spill_after:
            k = spill_after[driver_rows]
            assert modes[:k] == ("driver",) * k, (driver_rows, modes)
            assert set(modes[k:]) == {"dist"}, (driver_rows, modes)
    # all three regimes actually exercised
    assert any(all(m == "driver" for m in ms) for ms in seen_modes)
    assert any(ms and ms[0] == "driver" and ms[-1] == "dist" for ms in seen_modes)
    assert any(all(m == "dist" for m in ms) for ms in seen_modes)


def _emp_shift_schema() -> SchemaConfig:
    # emp(eid string, mgr string) with a two-direction self-FK, and
    # shift(day date, slot int) -- a composite key -- with a nullable FK to emp
    return SchemaConfig(
        tables={
            "emp": Table(id="emp", name="emp", columns=["eid", "mgr"], id_columns=["eid"]),
            "shift": Table(
                id="shift", name="shift", columns=["day", "slot", "eid"],
                id_columns=["day", "slot"],
            ),
        },
        references={
            "emp_mgr": Reference(
                id="emp_mgr", table="emp", columns=["mgr"], reference_table="emp",
                reference_columns=["eid"], directions=["forward", "reverse"],
            ),
            "shift_emp": Reference(
                id="shift_emp", table="shift", columns=["eid"], reference_table="emp",
                reference_columns=["eid"], directions=["forward", "reverse"],
            ),
        },
    )


def test_string_date_keys_null_fks_self_reference(spark):
    """Non-integer and composite keys, NULL FKs, a duplicate key row and a
    self-reference with a 2-cycle give one closure in every regime, and
    the distributed rounds keep their plans small (lineage is cut every
    round)."""
    import datetime

    day = datetime.date
    emp = spark.createDataFrame(
        [("a", None), ("b", "a"), ("c", "a"), ("d", "b"), ("d", "c"),
         ("x", "y"), ("y", "x"), ("z", None)],
        "eid string, mgr string",
    )
    shift = spark.createDataFrame(
        [(day(2024, 1, 1), 1, "b"), (day(2024, 1, 1), 2, None), (day(2024, 1, 2), 1, "x"),
         (day(2024, 1, 2), 2, "d"), (day(2024, 1, 3), 1, "z")],
        "day date, slot int, eid string",
    )
    schema = _emp_shift_schema()
    roots = [
        Root("emp", "eid = 'b'"),
        Root("shift", "day = date'2024-01-02' AND slot = 1"),
        Root("shift", "day = date'2024-01-01' AND slot = 2"),
    ]
    # b pulls its manager a (whose NULL manager goes nowhere) and its report
    # d; d arrived through the reverse edge so it does not climb back to
    # its managers b/c, but pulls its shift.  Shift (01-02, 1) pulls x,
    # which reaches y both ways (the 2-cycle); the NULL-FK shift pulls
    # nothing.
    want = {
        "emp": {("a",), ("b",), ("d",), ("x",), ("y",)},
        "shift": {(day(2024, 1, 1), 1), (day(2024, 1, 2), 2), (day(2024, 1, 2), 1),
                  (day(2024, 1, 1), 2)},
    }
    last = last_execution_id(spark)
    for driver_rows in (DRIVER_ROWS, 3, 1, 0):
        eng = Subsetter(spark, {"emp": emp, "shift": shift}, schema, driver_rows=driver_rows)
        res = eng.run(roots)
        got = {t: rows_set(df) for t, df in res.keys.items()}
        assert got == want, driver_rows
        modes = {h["mode"] for h in res.history}
        assert ("dist" in modes) == (driver_rows < DRIVER_ROWS), (driver_rows, modes)
        assert res.row_counts == {t: len(k) for t, k in want.items()}, driver_rows
        # every physical row of a visited key exports: d has two
        assert eng.export(res)["emp"].count() == 6, driver_rows
        last, longest = max_plan_chars(spark, last)
        assert longest < 1_000_000, (driver_rows, longest)


def test_edge_plan_orders_by_stats(spark, catalog):
    """A3: with table stats, edges process destination-size-ascending (the
    reference's reltuples heuristic); without, stable name order."""
    from slice_db_spark.session import parquet_row_counts

    from conftest import SF_DIR

    schema = tpch_schema()
    cat = {t: catalog[t] for t in schema.tables}
    stats = parquet_row_counts(SF_DIR, list(schema.tables))
    assert stats["region"] < stats["nation"] < stats["lineitem"]
    eng = Subsetter(spark, cat, schema, table_rows=stats)
    dsts = [e[3] for e in eng._edge_plan()]
    sizes = [stats[d] for d in dsts]
    assert sizes == sorted(sizes)
    # no stats -> name-sorted destinations (deterministic fallback)
    eng2 = Subsetter(spark, cat, schema)
    dsts2 = [e[3] for e in eng2._edge_plan()]
    assert dsts2 == sorted(dsts2)


def test_footer_schema_matches_inferred(spark):
    """The pyarrow-supplied catalog schema must equal Spark's own
    inference for every fixture table (else silent read miscasts)."""
    import os

    from slice_db_spark.session import TABLES, _spark_schema_from_footer

    from conftest import SF_DIR

    checked = 0
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if not os.path.exists(path):
            continue
        supplied = _spark_schema_from_footer(path)
        assert supplied is not None, t
        inferred = spark.read.parquet(path).schema
        assert supplied == inferred, (t, supplied, inferred)
        checked += 1
    assert checked >= 8
    # unreadable path -> None (caller falls back to inference)
    assert _spark_schema_from_footer("/nonexistent/x.parquet") is None


def test_closure_scale_invariant_under_fact_replication(spark, catalog, tmp_path):
    """Scale-stress invariant (the bench.py 10x section relies on it):
    replicating customer/orders/lineitem k times with per-copy key
    offsets (shared 1x part/supplier/nation/region) must change NEITHER
    the closure key set NOR the BFS round count for the original roots —
    the copies are unreachable (part/supp edges are forward-only), so
    only per-round scan/join cost may grow."""
    from bench import build_scaled_tpch

    roots = [Root("customer", "c_custkey <= 3")]
    eng1, res1 = run_subset(spark, catalog, roots)
    keys1 = rows_set(eng1.closure_keys(res1, KEY_EXPRS))

    # the SAME dataset the `catalog` fixture loaded — a different env knob
    # here would compare closures across two different SFs
    from conftest import SF_DIR

    paths = build_scaled_tpch(spark, SF_DIR, 3, str(tmp_path))
    schema = tpch_schema()
    cat = {t: spark.read.parquet(paths[t]) for t in schema.tables}
    eng3 = Subsetter(spark, cat, schema)
    res3 = eng3.run(roots)
    keys3 = rows_set(eng3.closure_keys(res3, KEY_EXPRS))

    assert res3.rounds == res1.rounds
    assert keys3 == keys1
    # and the replicated fact tables really are k-times bigger
    assert cat["lineitem"].count() == 3 * catalog["lineitem"].count()
