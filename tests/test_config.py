import pytest

from slice_db_spark.config import SchemaConfig, check_cycles, filter_children
from slice_db_spark.config.graph import CycleError, descendants, topo_order
from slice_db_spark.plans.tpch import tpch_schema


def test_roundtrip_json():
    s = tpch_schema()
    s2 = SchemaConfig.loads(s.dumps())
    assert s2.to_dict() == s.to_dict()
    assert s2.tables["lineitem"].keys() == ["l_orderkey", "l_linenumber"]
    assert s2.references["orders_customer_fkey"].directions == ["forward", "reverse"]


def test_validate_rejects_bad_ref():
    s = tpch_schema()
    s.references["orders_customer_fkey"].reference_table = "nope"
    with pytest.raises(ValueError):
        s.validate()


def test_no_cycle_in_tpch():
    assert check_cycles(tpch_schema()) is None


def test_cycle_detected():
    d = {
        "tables": {"a": {"columns": ["id", "b_id"]}, "b": {"columns": ["id", "a_id"]}},
        "references": {
            "a_b": {"table": "a", "columns": ["b_id"], "referenceTable": "b", "referenceColumns": ["id"]},
            "b_a": {"table": "b", "columns": ["a_id"], "referenceTable": "a", "referenceColumns": ["id"]},
        },
    }
    s = SchemaConfig.from_dict(d)
    with pytest.raises(CycleError):
        check_cycles(s)


def test_self_loop_cycle():
    d = {
        "tables": {"dir": {"columns": ["id", "parent_id"], "idColumns": ["id"]}},
        "references": {
            "self": {"table": "dir", "columns": ["parent_id"], "referenceTable": "dir", "referenceColumns": ["id"]}
        },
    }
    s = SchemaConfig.from_dict(d)
    assert check_cycles(s, raise_on_cycle=False) is not None


def test_descendants_and_filter_children():
    s = tpch_schema()
    desc = descendants(s, ["customer"])
    assert desc == {"customer", "orders", "lineitem"}
    filtered = filter_children(s, ["customer"])
    # reverse pruned nowhere inside the closure; orders/lineitem edges keep it
    assert "reverse" in filtered.references["orders_customer_fkey"].directions
    assert "reverse" in filtered.references["lineitem_orders_fkey"].directions


def test_topo_order():
    s = tpch_schema()
    order = topo_order(s)
    pos = {t: i for i, t in enumerate(order)}
    assert pos["region"] < pos["nation"] < pos["customer"] < pos["orders"] < pos["lineitem"]
    assert pos["part"] < pos["lineitem"] and pos["supplier"] < pos["lineitem"]


def test_topo_levels():
    from slice_db_spark.config.graph import topo_levels

    s = tpch_schema()
    levels = topo_levels(s)
    # level index of each table
    pos = {t: i for i, lvl in enumerate(levels) for t in lvl}
    assert pos["region"] == 0 and pos["part"] == 0
    assert pos["nation"] == 1
    assert pos["customer"] == 2 and pos["supplier"] == 2
    assert pos["orders"] == 3
    assert pos["lineitem"] == 4
    # flattening the levels is a valid topo order
    flat = [t for lvl in levels for t in lvl]
    assert sorted(flat) == sorted(s.tables)
    for r in s.references.values():
        if r.table != r.reference_table:
            assert pos[r.reference_table] < pos[r.table]


def test_topo_levels_cycle_raises():
    from slice_db_spark.config.graph import topo_levels

    d = {
        "tables": {"a": {"columns": ["id", "b_id"]}, "b": {"columns": ["id", "a_id"]}},
        "references": {
            "a_b": {"table": "a", "columns": ["b_id"], "referenceTable": "b", "referenceColumns": ["id"]},
            "b_a": {"table": "b", "columns": ["a_id"], "referenceTable": "a", "referenceColumns": ["id"]},
        },
    }
    with pytest.raises(CycleError):
        topo_levels(SchemaConfig.from_dict(d))


def test_default_driver_memory_is_half_the_host_capped(monkeypatch):
    """spark.driver.memory defaults to half the physical memory, between
    1g and 16g, read from sysconf (no JVM is started)."""
    from slice_db_spark import session

    def host(gib):
        conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
        monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)

    host(15)
    assert session.default_driver_memory() == "7680m"
    host(64)
    assert session.default_driver_memory() == "16384m"
    host(1)
    assert session.default_driver_memory() == "1024m"
