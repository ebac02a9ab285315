"""The engine's query surface for the driver contract (`__spark_entry__.py`):
every operator from SURVEY.md §2 plus the LLM-pipeline extensions, each as a
``(spark, sf_dir) -> DataFrame`` callable with (where SQL-expressible) a
DuckDB oracle string computing the identical result.

Cross-engine determinism rules used throughout:

* integers stay BIGINT; ratios of integers divide in double (exact same
  result both engines);
* money aggregates cast to DECIMAL before SUM (exact), then to DOUBLE;
* every md5-derived hash uses :mod:`..operators.hashing` (identical bits in
  Spark and DuckDB);
* rankings order by a rounded value + id tie-break so float ulps can't
  flip ranks;
* column names are aliased identically on both sides (the driver sorts
  columns by name and hashes values).
"""

from __future__ import annotations

import functools
import os
import re
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..config.model import Root
from ..operators import curation, dedup, multimodal, similarity, sketches
from ..operators import text as textops
from ..functions.transforms import build_registry, transform_dataframe
from ..session import load_catalog
from .subset import Subsetter
from .tpch import KEY_EXPRS, tpch_schema

# --------------------------------------------------------------------- caches

import threading as _threading

#: guards every per-sf_dir memo below — registry entries run side by
#: side from driver threads (``_concurrently`` builds panorama parts that
#: way, and callers may run entries from their own threads), so a memo's
#: check-then-build must be atomic or two threads build (and one leaks)
#: the same persisted frame.  RLock: memo builders call
#: catalog() (itself guarded) while holding the lock.
_MEMO_LOCK = _threading.RLock()

_CATALOGS: dict[str, dict[str, DataFrame]] = {}
_SUBSETS: dict = {}


def catalog(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    with _MEMO_LOCK:
        if sf_dir not in _CATALOGS:
            _CATALOGS[sf_dir] = load_catalog(spark, sf_dir)
        return _CATALOGS[sf_dir]


def _subset(spark: SparkSession, sf_dir: str, name: str, roots: list[Root]):
    """Traversals are shared by several queries (closure, export, manifest
    counts) — memoize per (sf_dir, root-set)."""
    key = (sf_dir, name)
    with _MEMO_LOCK:
        if key not in _SUBSETS:
            from ..session import parquet_row_counts

            schema = tpch_schema()
            cat = {t: catalog(spark, sf_dir)[t] for t in schema.tables}
            eng = Subsetter(
                spark, cat, schema,
                table_rows=parquet_row_counts(sf_dir, list(schema.tables)),
            )
            _SUBSETS[key] = (eng, eng.run(roots))
        return _SUBSETS[key]


# --------------------------------------------------------------------- registry


class _Query(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str
    headline: bool


#: every entry in registration order, which is the contract order of
#: ``queries()`` — the entries below are defined in that order
_REGISTRY: dict[str, _Query] = {}


def _register(name: str, fn, oracle: str, headline: bool = True) -> None:
    with _MEMO_LOCK:  # module-level dicts are written only under the lock
        assert name not in _REGISTRY, f"query {name!r} registered twice"
        _REGISTRY[name] = _Query(fn, oracle, headline)


def query(oracle: str, headline: bool = True):
    """Register the decorated ``(spark, sf_dir) -> DataFrame`` builder under
    its ``__name__``, with the DuckDB SQL computing the identical result.
    ``headline=False`` leaves it out of bench.py's timed list."""
    def record(fn):
        _register(fn.__name__, fn, oracle, headline)
        return fn
    return record


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Oracle-gated query registry, in registration order."""
    return {name: q.fn for name, q in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in _REGISTRY.items()}


def headline() -> list[str]:
    """The entries bench.py times, in registration order."""
    return [name for name, q in _REGISTRY.items() if q.headline]


# =====================================================================
# DuckDB oracle SQL builders (shared fragments)
# =====================================================================

def _norm_sql(c: str) -> str:
    # mirrors operators.text.normalize
    return (
        f"trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'),"
        f" ' +', ' ', 'g'))"
    )


def _toks_sql(c: str) -> str:
    return f"str_split({_norm_sql(c)}, ' ')"


def _ntok_sql(c: str) -> str:
    return f"(CASE WHEN {_norm_sql(c)} = '' THEN 0 ELSE len({_toks_sql(c)}) END)"


def _hash64_sql(e: str) -> str:
    return f"CAST(('0x' || substr(md5({e}), 1, 15)) AS BIGINT)"


def _shingles_sql(c: str, n: int, distinct: bool = True) -> str:
    # mirrors operators.dedup.shingles: word n-grams over tokens
    # (distinct=False keeps occurrences — operators.curation.gram_table)
    toks = _toks_sql(c)
    grams = (
        f"list_transform(range(1, greatest(len({toks}) - {n - 1}, 1) + 1),"
        f" i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )
    return f"list_distinct({grams})" if distinct else grams


# shingle column = 60-bit md5 hash (matches operators.dedup.shingle_table:
# both engines join/count hashed shingles, bit-equal even under collision)
_SHINGLE_CTE = (
    "st AS (SELECT DISTINCT doc_id, {h} AS shingle FROM"
    " (SELECT doc_id, unnest({sh}) AS s FROM documents))"
)


def _q(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def _simhash_oracle(n: int, bits: int) -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h // {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(bits)
    )
    recompose = " + ".join(f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)" for b in range(bits))
    return f"""
WITH sh AS (SELECT DISTINCT doc_id, unnest({_shingles_sql('text', n)}) AS s FROM documents),
h AS (SELECT doc_id, {_hash64_sql('s')} AS h FROM sh),
bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
SELECT doc_id, {recompose} AS simhash FROM bits
"""


def _jaccard_pairs_cte(threshold: float, max_df: int) -> str:
    """Shared capped-exact-Jaccard pair CTE chain, ending in ``jp``
    (id_a, id_b, jaccard ≥ threshold) — the SQL twin of
    ``dedup.ngram_jaccard_pairs``."""
    return f"""{_SHINGLE_CTE.format(sh=_shingles_sql('text', 3), h=_hash64_sql('s'))},
keep AS (SELECT shingle FROM st GROUP BY shingle
         HAVING count(*) > 1 AND count(*) <= {max_df}),
p AS (SELECT st.* FROM st JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM st GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM p a JOIN p b USING (shingle) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2),
jp AS (
  SELECT id_a, id_b, round(shared / (sa.n + sb.n - shared), 6) AS jaccard
  FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(shared / (sa.n + sb.n - shared), 6) >= {threshold})"""


def _minhash_cte(k: int, n: int) -> str:
    params = dedup.minhash_params(k)
    values = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(params))
    return f"""
sh AS (SELECT DISTINCT doc_id, {_hash64_sql('s')} AS shingle FROM
       (SELECT doc_id, unnest({_shingles_sql('text', n)}) AS s FROM documents)),
mh AS (
  SELECT doc_id, j,
         min(((shingle % {dedup.MINHASH_MOD}) * a + b) % {dedup.MINHASH_P}) AS minhash
  FROM sh CROSS JOIN (VALUES {values}) AS fam(j, a, b) GROUP BY doc_id, j
)"""


def _ann_scored_sql(planes: list[list[float]] | None, probe_hamming: int | None) -> str:
    """Shared scored-pairs CTE for the ANN oracles."""
    sig_q = similarity.signature_sql("qv", planes) if planes else None
    sig_c = similarity.signature_sql("cv", planes) if planes else None
    cand_filter = ""
    sig_cols = ""
    if planes:
        sig_cols = f", {sig_q} AS qsig, {sig_c} AS csig"
        cand_filter = (
            f"WHERE list_sum(list_transform(range(1, {len(planes)} + 1),"
            f" i -> abs(qsig[i] - csig[i]))) <= {probe_hamming}"
        )
    return f"""
q AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id >= 5),
pairs AS (SELECT q_id, vec_id, qv, cv{sig_cols} FROM q CROSS JOIN c),
scored AS (
  SELECT q_id, vec_id,
    round(
      list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i]))
      / (sqrt(list_sum(list_transform(qv, x -> x * x)))
         * sqrt(list_sum(list_transform(cv, x -> x * x)))), 6) AS sim
  FROM pairs {cand_filter}
)"""


def _closure_oracle(roots_sql: str, customer_fanout: bool) -> str:
    """WITH RECURSIVE closure over the star-schema FK graph, single-bigint
    surrogate keys (same KEY_EXPRS as the Spark side).  Forward edges =
    child pulls parent; fanout edges = parent pulls children.  The
    no-backtrack rule (reference `slice_db/dump_temp_table.py:75-86`) only
    bites on the customer→orders fanout when customers are *discovered*;
    queries rooted at customers keep it, others drop it."""
    edges = """
      SELECT 'nation' AS t1, CAST(n_nationkey AS BIGINT) k1, 'region' t2, CAST(n_regionkey AS BIGINT) k2 FROM nation
      UNION ALL SELECT 'customer', c_custkey, 'nation', c_nationkey FROM customer
      UNION ALL SELECT 'supplier', s_suppkey, 'nation', s_nationkey FROM supplier
      UNION ALL SELECT 'orders', o_orderkey, 'customer', o_custkey FROM orders
      UNION ALL SELECT 'lineitem', l_orderkey * 8 + l_linenumber, 'orders', l_orderkey FROM lineitem
      UNION ALL SELECT 'lineitem', l_orderkey * 8 + l_linenumber, 'part', l_partkey FROM lineitem
      UNION ALL SELECT 'lineitem', l_orderkey * 8 + l_linenumber, 'supplier', l_suppkey FROM lineitem
      UNION ALL SELECT 'orders', l_orderkey, 'lineitem', l_orderkey * 8 + l_linenumber FROM lineitem
    """
    if customer_fanout:
        edges += "  UNION ALL SELECT 'customer', o_custkey, 'orders', o_orderkey FROM orders\n"
    return f"""
WITH RECURSIVE edges AS ({edges}),
roots AS ({roots_sql}),
closure AS (
  SELECT t1, k1 FROM roots
  UNION
  SELECT e.t2, e.k2 FROM closure c JOIN edges e ON e.t1 = c.t1 AND e.k1 = c.k1
)
"""


CLOSURE_ROOTS = {
    "closure_customers": (
        [Root("customer", "c_custkey <= 20")],
        "SELECT 'customer' t1, CAST(c_custkey AS BIGINT) k1 FROM customer WHERE c_custkey <= 20",
        True,
    ),
    "closure_orders_recent": (
        [Root("orders", "o_orderdate >= timestamp '2001-06-01'")],
        "SELECT 'orders' t1, CAST(o_orderkey AS BIGINT) k1 FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '2001-06-01'",
        False,
    ),
    "closure_multi_root": (
        [Root("customer", "c_custkey <= 5"), Root("supplier", "s_suppkey <= 3")],
        "SELECT 'customer' t1, CAST(c_custkey AS BIGINT) k1 FROM customer WHERE c_custkey <= 5 "
        "UNION ALL SELECT 'supplier', CAST(s_suppkey AS BIGINT) FROM supplier WHERE s_suppkey <= 3",
        True,
    ),
}


def _closure_df(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    roots, _, _ = CLOSURE_ROOTS[name]
    eng, res = _subset(spark, sf_dir, name, roots)
    return eng.closure_keys(res, KEY_EXPRS)


# =====================================================================
# Registry entries, in registry order: each builder with its oracle,
# after the constants and helpers it is the first entry to use
# =====================================================================


@query(headline=False, oracle="SELECT o_orderkey, o_custkey, o_totalprice AS total FROM orders WHERE o_totalprice > 400000")
def root_scan(spark, sf_dir):
    """S2/P2: arbitrary SQL predicate scan returning row keys + columns."""
    return (
        catalog(spark, sf_dir)["orders"]
        .where(F.expr("o_totalprice > 400000"))
        .select("o_orderkey", "o_custkey", F.col("o_totalprice").alias("total"))
    )


@query(headline=False, oracle="SELECT c_custkey, c_name, c_mktsegment FROM customer")
def projection(spark, sf_dir):
    """P1: explicit ordered column projection."""
    return catalog(spark, sf_dir)["customer"].select("c_custkey", "c_name", "c_mktsegment")


@query(headline=False, oracle=_q("""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """))
def semi_join(spark, sf_dir):
    """J1-style forward discovery: parents referenced by a filtered child
    frontier (left_semi gives DISTINCT for free)."""
    c = catalog(spark, sf_dir)
    frontier = c["orders"].where("o_totalprice > 400000")
    return (
        c["customer"]
        .join(
            F.broadcast(frontier.select(F.col("o_custkey").alias("c_custkey")).distinct()),
            on="c_custkey",
            how="left_semi",
        )
        .select("c_custkey", "c_name")
    )


@query(headline=False, oracle=_q("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (
          SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """))
def anti_join(spark, sf_dir):
    """A1/U2 visited-set semantics: keys NOT already seen (left_anti)."""
    c = catalog(spark, sf_dir)
    return (
        c["customer"]
        .join(
            c["orders"].where("o_totalprice > 400000").select(F.col("o_custkey").alias("c_custkey")),
            on="c_custkey",
            how="left_anti",
        )
        .select("c_custkey", "c_name")
    )


@query(headline=False, oracle=_q("""
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
        WHERE EXISTS (
          SELECT 1 FROM lineitem k
          WHERE k.l_orderkey = lineitem.l_orderkey AND k.l_linenumber = lineitem.l_linenumber
            AND k.l_returnflag = 'R' AND k.l_discount > 0.08)
    """))
def multicol_semi_join(spark, sf_dir):
    """J4: multi-column equi semi-join on the composite lineitem key."""
    c = catalog(spark, sf_dir)
    keys = (
        c["lineitem"]
        .where("l_returnflag = 'R' AND l_discount > 0.08")
        .select("l_orderkey", "l_linenumber")
        .distinct()
    )
    return (
        c["lineitem"]
        .join(keys, on=["l_orderkey", "l_linenumber"], how="left_semi")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


# one traversal builder per CLOSURE_ROOTS entry; bench times the flagship
for _name, _spec in CLOSURE_ROOTS.items():
    _register(
        _name, functools.partial(_closure_df, name=_name),
        _closure_oracle(*_spec[1:]) + "SELECT t1 AS tbl, k1 AS key FROM closure",
        headline=_name == "closure_customers",
    )


_customer_closure = _closure_oracle(*CLOSURE_ROOTS["closure_customers"][1:])


@query(oracle=_customer_closure + _q("""
        SELECT l.* FROM lineitem l
        JOIN (SELECT k1 FROM closure WHERE t1 = 'lineitem') c
          ON l.l_orderkey * 8 + l.l_linenumber = c.k1
    """))
def slice_export_lineitem(spark, sf_dir):
    """S3/S6: full rows of one table for a captured slice closure."""
    eng, res = _subset(spark, sf_dir, "closure_customers", CLOSURE_ROOTS["closure_customers"][0])
    return eng.export(res)["lineitem"]


@query(headline=False, oracle=_customer_closure + "SELECT t1 AS tbl, count(*) AS row_count FROM closure GROUP BY t1")
def slice_manifest_counts(spark, sf_dir):
    """A2: manifest per-table row (key) counts for a slice."""
    return (
        _closure_df(spark, sf_dir, "closure_customers")
        .groupBy(F.col("tbl"))
        .agg(F.count(F.lit(1)).alias("row_count"))
    )


@query(headline=False, oracle=(
    "SELECT 'orders_o_orderkey_seq' AS seq_id, max(o_orderkey) AS last_value FROM orders"
))
def sequence_last_value(spark, sf_dir):
    """S4/A4: sequence last_value = max of the owning column."""
    return (
        catalog(spark, sf_dir)["orders"]
        .agg(F.max("o_orderkey").alias("last_value"))
        .select(F.lit("orders_o_orderkey_seq").alias("seq_id"), "last_value")
    )


@query(oracle=_q("""
        SELECT c_custkey,
          CASE WHEN c_name IS NULL THEN NULL ELSE 'REDACTED' END AS name_const,
          regexp_replace(c_name, '(?i)Customer\\#', 'Client#', 'g') AS name_replaced,
          CAST(NULL AS DOUBLE) AS acct_null,
          CASE WHEN c_name IS NULL OR c_name = '' THEN c_name
               ELSE 'DEMO ' || CAST(row_number() OVER (ORDER BY c_custkey) AS VARCHAR)
          END AS demo_counter
        FROM customer
    """))
def scrub_deterministic(spark, sf_dir):
    """T4/T5/T6/T7 through the real pandas-UDF scrub path: const, replace
    (case-insensitive literal), null, and the stateful counter
    (row_number-over-key-order reading of IncrementingConstTransform)."""
    reg, _ = build_registry(
        {
            "toconst": {"class": "ConstTransform", "config": {"value": "REDACTED"}},
            "fixname": {"class": "ReplaceTransform", "config": {"old": "Customer#", "new": "Client#"}},
            "wipe": {"class": "NullTransform"},
        },
        pepper="abc",
    )
    df = catalog(spark, sf_dir)["customer"].select(
        "c_custkey",
        F.col("c_name").alias("name_const"),
        F.col("c_name").alias("name_replaced"),
        F.col("c_acctbal").alias("acct_null"),
        F.col("c_name").alias("demo_counter"),
    )
    return transform_dataframe(
        df,
        {"name_const": reg["toconst"], "name_replaced": reg["fixname"], "acct_null": reg["wipe"]},
        stateful={"demo_counter": ({"value": "DEMO"}, ["c_custkey"])},
    )


def _scrub_pseudonym_frame(spark, sf_dir):
    """The raw pseudonymized frame (T1/T2/T9: alphanumeric, FPE-unique,
    given-name) — deterministic for pepper 'abc'; pytest goldens pin the
    actual output values."""
    reg, _ = build_registry(
        {
            "anon": {"class": "AlphanumericTransform"},
            "uniq": {"class": "AlphanumericTransform", "config": {"unique": True}},
            "gname": {"class": "GivenNameTransform"},
        },
        pepper="abc",
    )
    df = catalog(spark, sf_dir)["customer"].select(
        "c_custkey",
        F.col("c_name").alias("name_anon"),
        F.col("c_name").alias("name_fpe"),
        F.col("c_mktsegment").alias("segment_name"),
    )
    return transform_dataframe(
        df, {"name_anon": reg["anon"], "name_fpe": reg["uniq"], "segment_name": reg["gname"]}
    )


# Structural oracle for the RNG/FPE scrub: the pseudonymized VALUES are
# not SQL-reproducible, but the transform contract predicts every
# invariant true for every row — so the oracle is the all-ones frame
# and any Spark-side violation (length drift, class leak, FPE
# collision, nondeterminism) breaks the value hash.
@query(headline=False, oracle=_q("""
        SELECT c_custkey,
               CAST(1 AS BIGINT) AS len_ok,
               CAST(1 AS BIGINT) AS class_ok,
               CAST(1 AS BIGINT) AS fpe_class_ok,
               CAST(1 AS BIGINT) AS fpe_unique_ok,
               CAST(1 AS BIGINT) AS det_ok,
               CAST(1 AS BIGINT) AS gname_ok
        FROM customer
    """))
def scrub_pseudonym(spark, sf_dir):
    """T1/T2/T9 under a STRUCTURAL oracle: the RNG/FPE output values are
    not SQL-expressible, but their invariants are — per-row length
    preservation, per-position character-class preservation (lower→lower,
    upper→upper, digit→digit, other→identical), determinism (two
    independently built UDF instances agree row-for-row), FPE injectivity
    (unique inputs stay unique outputs), and the given-name codomain.  The
    DuckDB oracle predicts every check true for every customer row, so any
    violated invariant breaks the driver's value hash.  Output values
    themselves are pinned by pytest goldens (tests/test_transforms.py)."""
    a = _scrub_pseudonym_frame(spark, sf_dir)
    b = _scrub_pseudonym_frame(spark, sf_dir)  # independent registry build
    orig = catalog(spark, sf_dir)["customer"].select("c_custkey", "c_name", "c_mktsegment")

    def sig(c):
        # per-position class signature; all non-alphanumerics pass through
        s = F.regexp_replace(c, "[a-z]", "l")
        s = F.regexp_replace(s, "[A-Z]", "u")
        return F.regexp_replace(s, "[0-9]", "d")

    def sig_any(c):
        # FPE draws from the union alphabet of the classes present in the
        # value, so its per-position guarantee is weaker: alphanumeric
        # stays alphanumeric, everything else is fixed in place
        return F.regexp_replace(c, "[A-Za-z0-9]", "x")

    fpe_card = a.groupBy("name_fpe").agg(F.count(F.lit(1)).alias("__n"))
    j = (
        a.select(
            "c_custkey",
            F.col("name_anon").alias("a_anon"),
            F.col("name_fpe").alias("a_fpe"),
            F.col("segment_name").alias("a_seg"),
        )
        .join(
            b.select(
                "c_custkey",
                F.col("name_anon").alias("b_anon"),
                F.col("name_fpe").alias("b_fpe"),
                F.col("segment_name").alias("b_seg"),
            ),
            "c_custkey",
        )
        .join(orig, "c_custkey")
        .join(fpe_card, fpe_card["name_fpe"] == F.col("a_fpe"))
    )
    return j.select(
        "c_custkey",
        (F.length("a_anon") == F.length("c_name")).cast("bigint").alias("len_ok"),
        (sig(F.col("a_anon")) == sig(F.col("c_name"))).cast("bigint").alias("class_ok"),
        (sig_any(F.col("a_fpe")) == sig_any(F.col("c_name"))).cast("bigint").alias("fpe_class_ok"),
        (F.col("__n") == 1).cast("bigint").alias("fpe_unique_ok"),
        (
            (F.col("a_anon") == F.col("b_anon"))
            & (F.col("a_fpe") == F.col("b_fpe"))
            & (F.col("a_seg") == F.col("b_seg"))
        ).cast("bigint").alias("det_ok"),
        F.col("a_seg").rlike("^[A-Za-z]+$").cast("bigint").alias("gname_ok"),
    )


K_ANON_K = 5


@query(oracle=_q(f"""
        SELECT CAST(c_nationkey AS INTEGER) AS c_nationkey, c_mktsegment,
               count(*) AS group_n,
               count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) AS l_diversity,
               CAST(CASE WHEN count(*) < {K_ANON_K} THEN 1 ELSE 0 END AS BIGINT) AS at_risk
        FROM customer GROUP BY 1, 2
    """))
def k_anonymity(spark, sf_dir):
    """Privacy audit of the scrub surface: k-anonymity + l-diversity per
    quasi-identifier group.  The reference pseudonymizes columns
    (slice_db/transform.py); this measures whether the RETAINED
    quasi-identifiers (nation, market segment) still isolate people:
    groups smaller than k are re-identification risks, and groups whose
    sensitive attribute (account-balance band) takes few distinct values
    leak it even at size ≥ k.  One partial-aggregated groupBy; the
    distinct count runs as the standard two-phase expand — |groups| is
    dimension-bounded, so the report is metadata-sized at any scale."""
    c = catalog(spark, sf_dir)["customer"]
    band = F.expr("cast(floor(c_acctbal / 2000) as bigint)")
    return (
        c.select("c_nationkey", "c_mktsegment", band.alias("__band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("group_n"),
            F.countDistinct("__band").alias("l_diversity"),
        )
        .select(
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            "c_mktsegment",
            F.col("group_n").cast("bigint").alias("group_n"),
            F.col("l_diversity").cast("bigint").alias("l_diversity"),
            F.when(F.col("group_n") < K_ANON_K, F.lit(1)).otherwise(F.lit(0))
            .cast("bigint").alias("at_risk"),
        )
    )


@query(oracle=_q("""
        WITH g AS (
          SELECT l_returnflag, l_linestatus,
                 sum(CAST(l_quantity AS DECIMAL(18,6))) AS sq,
                 sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sbp,
                 sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS sdp,
                 count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
          GROUP BY l_returnflag, l_linestatus)
        SELECT l_returnflag, l_linestatus,
               CAST(round(sq, 2) AS DOUBLE) AS sum_qty,
               CAST(round(sbp, 2) AS DOUBLE) AS sum_base_price,
               CAST(round(sdp, 2) AS DOUBLE) AS sum_disc_price,
               CAST(sq AS DOUBLE) / count_order AS avg_qty,
               CAST(sbp AS DOUBLE) / count_order AS avg_price,
               count_order
        FROM g
    """))
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape (scan → filter → groupBy agg).  DECIMAL-exact sums
    cast to DOUBLE; averages derived from exact sums by double division."""
    li = catalog(spark, sf_dir)["lineitem"].where("l_shipdate <= timestamp '2001-09-01'")
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).alias("_sq"),
        F.sum(dec("l_extendedprice")).alias("_sbp"),
        F.sum((dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount")))).alias("_sdp"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("_sq"), 2).cast("double").alias("sum_qty"),
        F.round(F.col("_sbp"), 2).cast("double").alias("sum_base_price"),
        F.round(F.col("_sdp"), 2).cast("double").alias("sum_disc_price"),
        (F.col("_sq").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("_sbp").cast("double") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


@query(oracle=_q("""
        WITH rev AS (
          SELECT o_orderkey, o_orderpriority,
                 CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
          FROM customer JOIN orders ON c_custkey = o_custkey
          JOIN lineitem ON o_orderkey = l_orderkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1999-01-01'
            AND l_shipdate > TIMESTAMP '1999-01-01'
          GROUP BY o_orderkey, o_orderpriority)
        SELECT o_orderkey, o_orderpriority, revenue,
               CAST(row_number() OVER (ORDER BY revenue DESC, o_orderkey) AS BIGINT) AS rank
        FROM rev QUALIFY rank <= 10
    """))
def q3_top_orders(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join → agg → deterministic top-10 (rounded
    revenue + orderkey tie-break instead of LIMIT-with-ties)."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    rev = (
        c["customer"].where("c_mktsegment = 'BUILDING'")
        .join(c["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .where("o_orderdate < timestamp '1999-01-01'")
        .join(c["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .where("l_shipdate > timestamp '1999-01-01'")
        .groupBy("o_orderkey", "o_orderpriority")
        .agg((F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount")))).alias("_rev"))
        .select("o_orderkey", "o_orderpriority", F.round(F.col("_rev"), 2).cast("double").alias("revenue"))
    )
    # Two-phase top-k: orderBy+limit plans as TakeOrderedAndProject (each
    # partition keeps its local top-10, the driver merges 10×P rows) — the
    # rank window then runs over ≤10 rows.  A rank-then-filter global window
    # would funnel EVERY aggregated group through one partition at scale.
    top = rev.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("o_orderkey"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("o_orderkey", "o_orderpriority", "revenue", "rank")
    )


@query(oracle=_q("""
        SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                              * CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1999-01-01'
          AND l_shipdate < TIMESTAMP '2000-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """))
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: the pushdown showcase — every predicate reaches the
    parquet scan (range + equality filters, zero joins), then one global
    DECIMAL-exact aggregate."""
    dec = lambda c: F.col(c).cast("decimal(18,6)")  # noqa: E731
    li = catalog(spark, sf_dir)["lineitem"].where(
        "l_shipdate >= timestamp '1999-01-01' AND l_shipdate < timestamp '2000-01-01'"
        " AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
    )
    return li.agg(
        F.round(F.sum(dec("l_extendedprice") * dec("l_discount")), 2)
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(oracle=_q("""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
    """))
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (adapted to the fixture's columns): orders per
    priority in one quarter having at least one late-shipped line
    (l_shipdate after o_orderdate stands in for commit<receipt).  The
    EXISTS is a left_semi join — no row multiplication from multi-line
    orders, the shape Q4 exists to test."""
    c = catalog(spark, sf_dir)
    late = (
        c["lineitem"]
        .join(c["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .where("l_shipdate > o_orderdate")
        .select("l_orderkey")
    )
    return (
        c["orders"]
        .where("o_orderdate >= timestamp '1996-01-01' AND o_orderdate < timestamp '1996-04-01'")
        .join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(oracle=_q("""
        SELECT c_custkey, c_name, n_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """))
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top 20 customers by revenue lost to returned
    items in one quarter (customer⋈orders⋈lineitem + broadcast nation;
    DECIMAL-exact revenue, deterministic custkey tie-break)."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    rev = (
        c["lineitem"]
        .where("l_returnflag = 'R'")
        .join(c["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .where("o_orderdate >= timestamp '1996-01-01' AND o_orderdate < timestamp '1996-07-01'")
        .join(c["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(c["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))).alias("_rev"))
        .select(
            "c_custkey", "c_name", "n_name",
            F.round(F.col("_rev"), 2).cast("double").alias("revenue"),
        )
    )
    return rev.orderBy(F.desc("revenue"), "c_custkey").limit(20)


_REV = ("CAST(l_extendedprice AS DECIMAL(18,6))"
        " * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))")


@query(oracle=_q(f"""
        SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {_REV}
                                           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                     / CAST(sum({_REV}) AS DOUBLE), 4) AS promo_pct,
               CAST(round(sum({_REV}), 2) AS DOUBLE) AS total_revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
    """))
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: promotional revenue share for one ship-month —
    conditional aggregation over a fact⋈dim join (broadcast part, filter
    pushed to the lineitem scan; DECIMAL-exact sums, one double division
    at the end)."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))
    j = (
        c["lineitem"]
        .where("l_shipdate >= timestamp '1996-01-01' AND l_shipdate < timestamp '1996-02-01'")
        .join(F.broadcast(c["part"]), F.col("l_partkey") == F.col("p_partkey"))
    )
    return j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,6)"))).alias("_p"),
        F.sum(rev).alias("_t"),
        F.count(F.lit(1)).alias("n_lines"),
    ).select(
        F.round(F.lit(100.0) * F.col("_p").cast("double") / F.col("_t").cast("double"), 4).alias("promo_pct"),
        F.round(F.col("_t"), 2).cast("double").alias("total_revenue"),
        F.col("n_lines").cast("bigint").alias("n_lines"),
    )


@query(oracle=_q(f"""
        WITH r AS (SELECT l_suppkey, sum({_REV}) AS _r
                   FROM lineitem
                   WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
                   GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, CAST(round(_r, 2) AS DOUBLE) AS total_revenue
        FROM r JOIN supplier ON l_suppkey = s_suppkey
        WHERE _r = (SELECT max(_r) FROM r)
        ORDER BY s_suppkey
    """))
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue — aggregate, take the max as a driver scalar (metadata-sized;
    replaces Q15's view-self-join), filter on DECIMAL equality (exact
    cross-engine), join supplier names back."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    rev = (
        c["lineitem"]
        .where("l_shipdate >= timestamp '1996-01-01' AND l_shipdate < timestamp '1996-04-01'")
        .groupBy("l_suppkey")
        .agg(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))).alias("_r"))
    )
    rev = rev.localCheckpoint(eager=True)  # two consumers: max agg + filter
    # the max as a broadcast 1-row aggregate instead of a blocking driver
    # scalar (r11): one job, identical DECIMAL equality
    mx = rev.agg(F.max("_r").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("_r") == F.col("__mx"))
        .join(F.broadcast(c["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("_r"), 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(oracle=_q("""
        WITH big AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,6))) AS _q
                     FROM lineitem GROUP BY l_orderkey HAVING _q > 150)
        SELECT c_custkey, c_name, o_orderkey,
               CAST(epoch(o_orderdate) AS BIGINT) AS o_date_s,
               o_totalprice, CAST(_q AS DOUBLE) AS sum_qty
        FROM orders JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """))
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: top-20 largest-quantity orders — group-filter on
    the fact (DECIMAL-exact quantity sums, map-side combinable), then
    join the small surviving key set to orders⋈customer (broadcast the
    survivors, not the facts)."""
    c = catalog(spark, sf_dir)
    big = (
        c["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("_q"))
        .where("_q > 150")
    )
    return (
        c["orders"]
        .join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_date_s"),
            "o_totalprice",
            F.col("_q").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@query(oracle=_q(f"""
        SELECT CAST(round(sum({_REV}), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
    """))
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under a disjunction of brand/size/quantity
    bands — the OR-of-ANDs predicate Catalyst must keep sargable (the
    common p_partkey equi-join stays the join condition; the disjunction
    becomes a post-join filter with per-branch pushdown of the common
    bounds)."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    j = c["lineitem"].join(F.broadcast(c["part"]), F.col("l_partkey") == F.col("p_partkey"))
    cond = (
        "(p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)"
        " OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)"
        " OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)"
    )
    return j.where(cond).agg(
        F.round(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))),
            2,
        ).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    ).select("revenue", F.col("n_items").cast("bigint").alias("n_items"))


@query(oracle=_q(f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               CAST(round(sum({_REV}), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_11')
            OR (n1.n_name = 'NATION_11' AND n2.n_name = 'NATION_9'))
        GROUP BY 1, 2, 3
    """))
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between two nations, either
    direction, by ship-year — a two-dimension star join where BOTH
    dimension chains (supplier→nation, orders→customer→nation) are
    broadcast and the pair predicate `(n1,n2) ∈ {(A,B),(B,A)}` prunes the
    fact rows right after the first broadcast join.  Only the final
    3-key groupBy shuffles, and it is partial-aggregated map-side."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    pair = ("NATION_9", "NATION_11")
    n1 = c["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    ).where(F.col("supp_nation").isin(*pair))
    n2 = c["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    ).where(F.col("cust_nation").isin(*pair))
    j = (
        c["lineitem"]
        .where(
            "l_shipdate >= timestamp '1995-01-01' AND l_shipdate < timestamp '1997-01-01'"
        )
        .join(F.broadcast(c["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(c["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            f"(supp_nation = '{pair[0]}' AND cust_nation = '{pair[1]}')"
            f" OR (supp_nation = '{pair[1]}' AND cust_nation = '{pair[0]}')"
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))),
                2,
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.col("l_year").cast("int").alias("l_year"),
            "revenue",
            F.col("n_items").cast("bigint").alias("n_items"),
        )
    )


@query(oracle=_q("""
        WITH pc AS (SELECT o_custkey, count(*) AS n FROM orders
                    WHERE o_orderpriority <> '1-URGENT' GROUP BY o_custkey),
             cc AS (SELECT coalesce(pc.n, 0) AS c_count
                    FROM customer LEFT JOIN pc ON c_custkey = o_custkey)
        SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
        FROM cc GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """))
def q13_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of customers by order count, with an
    order-side filter — the canonical outer-join + double aggregation.
    Orders pre-aggregate to per-customer counts FIRST (map-side combine
    collapses the fact table before any join), the customer left join
    fills the zero bucket, and the second groupBy is tiny."""
    c = catalog(spark, sf_dir)
    per_cust = (
        c["orders"]
        .where("o_orderpriority <> '1-URGENT'")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    counts = (
        c["customer"]
        .join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(oracle=_q("""
        WITH j AS (SELECT l_partkey,
                          CAST(l_quantity AS DECIMAL(18,6)) AS qty,
                          CAST(l_extendedprice AS DECIMAL(18,6)) AS price
                   FROM lineitem JOIN part ON l_partkey = p_partkey
                   WHERE p_brand = 'Brand#4' AND p_size <= 10),
             pp AS (SELECT l_partkey AS pk, sum(qty) AS sumq, count(*) AS cnt
                    FROM j GROUP BY l_partkey)
        SELECT CAST(floor(CAST(sum(price) AS DOUBLE) * 100e0 / 7e0) AS BIGINT)
                 AS avg_yearly_cents,
               count(*) AS n_items
        FROM j JOIN pp ON l_partkey = pk
        WHERE CAST(5 AS DECIMAL(18,6)) * qty * cnt < sumq
    """))
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: yearly revenue lost to small-quantity orders of
    one brand — the correlated per-group average, decorrelated as
    aggregate-then-broadcast-join-back.  The brand filter broadcasts into
    the fact scan; the per-part (sum, count) frame is metadata-sized and
    broadcast, so the avg comparison `qty < 0.2·avg(qty)` becomes the
    exact integer form `5·qty·cnt < sum` (DECIMAL, bit-equal
    cross-engine) with no second fact shuffle."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    parts = c["part"].where("p_brand = 'Brand#4' AND p_size <= 10").select("p_partkey")
    j = (
        c["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", dec("l_quantity").alias("_qty"), dec("l_extendedprice").alias("_price"))
    )
    j = j.localCheckpoint(eager=True)  # two consumers: per-part avg + the filtered sum
    per_part = j.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("_qty").alias("_sumq"), F.count(F.lit(1)).alias("_cnt")
    )
    small = (
        j.join(F.broadcast(per_part), F.col("l_partkey") == F.col("_pk"))
        .where(F.lit(5).cast("decimal(18,6)") * F.col("_qty") * F.col("_cnt") < F.col("_sumq"))
    )
    return small.agg(
        F.sum("_price").alias("_s"), F.count(F.lit(1)).alias("n_items")
    ).select(
        F.floor(F.col("_s").cast("double") * F.lit(100.0) / F.lit(7.0)).cast("bigint").alias("avg_yearly_cents"),
        F.col("n_items").cast("bigint").alias("n_items"),
    )


@query(oracle=_q("""
        WITH avg_bal AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS tot,
                                count(*) AS cnt
                         FROM customer WHERE c_acctbal > 0)
        SELECT n_name,
               count(*) AS numcust,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS totacctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE CAST(c_acctbal AS DECIMAL(18,6)) * (SELECT cnt FROM avg_bal)
                > CAST((SELECT tot FROM avg_bal) AS DECIMAL(28,6))
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        GROUP BY n_name
        ORDER BY n_name
    """))
def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: per-nation count and balance of above-average
    customers with no high-value orders — global-scalar subquery + anti
    join.  The positive-balance average lands as ONE driver scalar pair
    (sum, count — metadata-sized, the same regime q15 uses), the
    comparison `bal·cnt > sum` stays DECIMAL-exact, and the anti join
    probes only the pre-filtered high-value order keys."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    # the (sum, count) pair as a broadcast 1-row aggregate instead of a
    # blocking driver scalar (r11): one job; `bal·cnt > sum` stays
    # DECIMAL-exact with the scalars as columns
    scal = (
        c["customer"].where("c_acctbal > 0")
        .agg(F.sum(dec("c_acctbal")).alias("__tot"),
             F.count(F.lit(1)).alias("__cnt"))
    )
    big = c["orders"].where("o_totalprice > 400000").select("o_custkey")
    rich_idle = (
        c["customer"]
        .crossJoin(F.broadcast(scal))
        .where(dec("c_acctbal") * F.col("__cnt") > F.col("__tot"))
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    )
    return (
        rich_idle.join(F.broadcast(c["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(dec("c_acctbal")), 2).cast("double").alias("totacctbal"),
        )
        .orderBy("n_name")
    )


@query(oracle=_q("""
        SELECT l_linestatus AS ship_mode,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                 AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                 AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY l_linestatus
        ORDER BY ship_mode
    """))
def q12_shipmode(spark, sf_dir):
    """TPC-H Q12 shape (adapted — the synthetic lineitem has no
    l_shipmode/l_commitdate/l_receiptdate, so l_linestatus stands in for
    the mode and a ship-year band for the receipt window): conditional
    priority counting after the orders⋈lineitem equi-join.  The date band
    pushes into the parquet scan, the join shuffles once on orderkey with
    both sides pre-filtered/pre-projected, and the CASE aggregation is
    partial map-side — the 100 TB plan is scan → one shuffle → tiny
    2-row result."""
    c = catalog(spark, sf_dir)
    j = (
        c["lineitem"]
        .where(
            "l_shipdate >= timestamp '1995-01-01' AND l_shipdate < timestamp '1996-01-01'"
        )
        .select("l_orderkey", "l_linestatus")
        .join(
            c["orders"].select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(F.col("l_linestatus").alias("ship_mode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("ship_mode")
    )


@query(oracle=_q("""
        WITH eu_supp AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'),
        pp AS (SELECT p_partkey, p_name FROM part
               WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'),
        offers AS (
          SELECT p_partkey, l_suppkey, min(l_extendedprice) AS cost
          FROM lineitem
          JOIN pp ON l_partkey = p_partkey
          WHERE l_suppkey IN (SELECT s_suppkey FROM eu_supp)
          GROUP BY p_partkey, l_suppkey),
        mc AS (SELECT p_partkey AS pk, min(cost) AS m FROM offers GROUP BY p_partkey),
        win AS (
          SELECT o.p_partkey, o.cost, min(o.l_suppkey) AS w_suppkey
          FROM offers o JOIN mc ON o.p_partkey = mc.pk AND o.cost = mc.m
          GROUP BY o.p_partkey, o.cost)
        SELECT s_acctbal, s_name, n_name, win.p_partkey, p_name,
               cost AS supply_cost
        FROM win
        JOIN eu_supp ON w_suppkey = s_suppkey
        JOIN pp ON win.p_partkey = pp.p_partkey
    """))
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (adapted — no partsupp table, so the distinct
    (part, supplier) offers observed in lineitem stand in for it, with
    min(l_extendedprice) as the supply cost): cheapest EUROPE-region
    supplier per large part — the correlated MIN subquery, decorrelated
    as aggregate-then-join-back.  Region membership broadcasts into the
    fact scan (nation⋈region is metadata-sized), the per-part minimum is
    a second map-side-combined aggregate over the offers frame, and ties
    resolve to the smallest supplier key so the result is deterministic.
    min() of doubles is order-independent, hence bit-exact cross-engine."""
    c = catalog(spark, sf_dir)
    europe = (
        c["nation"]
        .join(c["region"].where("r_name = 'EUROPE'"), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    supp = (
        c["supplier"]
        .join(F.broadcast(europe), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    parts = c["part"].where("p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'").select("p_partkey", "p_name")
    offers = (
        c["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp.select("s_suppkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    offers = offers.localCheckpoint(eager=True)  # two consumers: min-per-part + winner pick
    min_cost = offers.groupBy(F.col("p_partkey").alias("_pk")).agg(F.min("cost").alias("_mc"))
    winners = (
        offers.join(
            F.broadcast(min_cost),
            (F.col("p_partkey") == F.col("_pk")) & (F.col("cost") == F.col("_mc")),
        )
        .groupBy("p_partkey", "cost")
        .agg(F.min("l_suppkey").alias("w_suppkey"))
    )
    return (
        winners.join(F.broadcast(supp), F.col("w_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(parts), "p_partkey")
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("cost").alias("supply_cost"),
        )
    )


@query(oracle=_q("""
        WITH pv AS (
          SELECT l_partkey,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                     * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6))))
                   AS DECIMAL(18,6)) AS v
          FROM lineitem
          WHERE l_suppkey IN (
            SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3')
          GROUP BY l_partkey),
        tot AS (SELECT sum(v) AS t FROM pv)
        SELECT l_partkey AS ps_partkey,
               CAST(round(v, 2) AS DOUBLE) AS part_value
        FROM pv
        WHERE v * 1000 > CAST((SELECT t FROM tot) AS DECIMAL(28,6))
    """))
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape (adapted — lineitem revenue per part for one
    nation's suppliers stands in for partsupp stock value): parts whose
    value exceeds a fraction of the nation's total — the global-scalar
    HAVING.  The per-part aggregate is computed ONCE (localCheckpoint,
    two consumers); the grand total folds the already-aggregated frame to
    one driver scalar (metadata-sized, the q22 regime), and the fraction
    predicate stays DECIMAL-exact: ``value·1000 > total``, never a
    lossy division."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    supp = (
        c["supplier"]
        .join(F.broadcast(c["nation"].where("n_name = 'NATION_3'")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    per_part = (
        c["lineitem"]
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount")))
            .cast("decimal(18,6)")
            .alias("_v")
        )
    )
    per_part = per_part.localCheckpoint(eager=True)
    # the total as a broadcast 1-row aggregate instead of a blocking
    # driver scalar (r11): one job, identical DECIMAL comparison
    tot = per_part.agg(F.sum("_v").alias("__tot"))
    return (
        per_part.crossJoin(F.broadcast(tot))
        .where(F.col("_v") * F.lit(1000) > F.col("__tot"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.round(F.col("_v"), 2).cast("double").alias("part_value"),
        )
    )


@query(oracle=_q("""
        WITH bridge AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM bridge JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 10, 15, 20, 25)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
    """))
def q16_supplier_count(spark, sf_dir):
    """TPC-H Q16 shape (adapted — the distinct (part, supplier) pairs in
    lineitem stand in for partsupp, and negative-balance suppliers for
    the complaints NOT-IN set): suppliers able to supply each surviving
    (brand, type, size) bucket.  The excluded-supplier set is
    metadata-sized and anti-joined broadcast; the part attribute filter
    broadcasts into the bridge scan; count(DISTINCT) runs as the standard
    two-phase expand — the only full shuffle is on the grouping key."""
    c = catalog(spark, sf_dir)
    excl = c["supplier"].where("s_acctbal < 0").select("s_suppkey")
    parts = c["part"].where(
        "p_brand <> 'Brand#3' AND p_type <> 'PROMO' AND p_size IN (1, 5, 10, 15, 20, 25)"
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bridge = c["lineitem"].select("l_partkey", "l_suppkey").distinct()
    return (
        bridge.join(F.broadcast(excl), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .select(
            "p_brand",
            "p_type",
            F.col("p_size").cast("int").alias("p_size"),
            F.col("supplier_cnt").cast("bigint").alias("supplier_cnt"),
        )
    )


@query(oracle=_q("""
        WITH qsp AS (
          SELECT l_suppkey, l_partkey,
                 CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS q
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate < TIMESTAMP '1996-01-01'
            AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%gear%')
          GROUP BY l_suppkey, l_partkey),
        qp AS (SELECT l_partkey AS pk, sum(q) AS qt FROM qsp GROUP BY l_partkey),
        heavy AS (
          SELECT DISTINCT l_suppkey
          FROM qsp JOIN qp ON l_partkey = pk
          WHERE CAST(5 AS DECIMAL(18,6)) * q > qt)
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_5'
          AND s_suppkey IN (SELECT l_suppkey FROM heavy)
        ORDER BY s_name
    """))
def q20_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (adapted — shipped-quantity share stands in for
    the availqty threshold): NATION_5 suppliers who shipped more than 20%
    of some gear part's 1995 volume — the nested-IN chain, decorrelated.
    Per-(supplier, part) quantities aggregate once; the per-part total
    derives from THAT frame (no second fact scan); the 20% predicate is
    the q17 integer form ``5·q_sp > q_total`` in DECIMAL; and the final
    membership is a broadcast semi-join against the 100-row supplier
    dimension."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    gear = c["part"].where("p_name LIKE '%gear%'").select("p_partkey")
    q_sp = (
        c["lineitem"]
        .where(
            "l_shipdate >= timestamp '1995-01-01' AND l_shipdate < timestamp '1996-01-01'"
        )
        .join(F.broadcast(gear), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).cast("decimal(18,6)").alias("_q"))
    )
    q_sp = q_sp.localCheckpoint(eager=True)  # two consumers: per-part total + share filter
    q_p = q_sp.groupBy(F.col("l_partkey").alias("_pk")).agg(F.sum("_q").alias("_qt"))
    heavy = (
        q_sp.join(F.broadcast(q_p), F.col("l_partkey") == F.col("_pk"))
        .where(F.lit(5).cast("decimal(18,6)") * F.col("_q") > F.col("_qt"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        c["supplier"]
        .join(F.broadcast(c["nation"].where("n_name = 'NATION_5'")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


@query(oracle=_q("""
        WITH d AS (SELECT (epoch_us(o_orderdate) // 86400000000) * 86400000000 AS day_us,
                          count(*) AS n,
                          sum(CAST(o_totalprice AS DECIMAL(18,6))) AS s
                   FROM orders GROUP BY 1),
             b AS (SELECT min(day_us) AS mn, max(day_us) AS mx FROM d),
             days AS (SELECT unnest(range((SELECT mn FROM b),
                                          (SELECT mx FROM b) + 1,
                                          86400000000)) AS day_us)
        SELECT day_us,
               coalesce(n, 0) AS n_orders,
               coalesce(CAST(round(s, 2) AS DOUBLE), 0e0) AS revenue
        FROM days LEFT JOIN d USING (day_us)
    """))
def daily_gapfill(spark, sf_dir):
    """Gap-filled daily order revenue: a generated date dimension (driver
    min/max scalars → `spark.range` with a one-day step — a leaf Range
    plan, no Python RDD) left-joined to the per-day aggregate, zeros
    filled.  Day buckets are `floor(epoch_µs / 86400e6)` so no timezone
    or calendar library is involved and the bucket arithmetic is
    bit-identical cross-engine.  The fact scan aggregates BEFORE the
    join; the date dimension is |days|-sized and broadcast."""
    DAY_US = 86_400_000_000
    o = catalog(spark, sf_dir)["orders"]
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    # `div` = exact integral division (the double-division floor(a/b) form
    # can misround within one ulp of a bucket boundary; DuckDB's `//` is
    # exact, so Spark must be too)
    day = F.expr(f"(unix_micros(o_orderdate) div {DAY_US}) * {DAY_US}")
    daily = o.groupBy(day.alias("__d")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dec("o_totalprice")).alias("__s"),
    )
    # r11 (guide §5): the min/max used to be a blocking .first() feeding a
    # driver-built Range leaf — the day spine is now exploded from the same
    # 1-row aggregate INSIDE the plan (sequence() is inclusive of every
    # mn + k·step ≤ mx, exactly the old range(mn, mx+1, step) set), so the
    # query is one job instead of two serial ones.
    bounds = o.agg(F.min(day).alias("__mn"), F.max(day).alias("__mx"))
    days = bounds.select(
        F.explode(F.sequence("__mn", "__mx", F.lit(DAY_US))).alias("day_us")
    )
    return (
        days.join(F.broadcast(daily), days.day_us == daily.__d, "left_outer")
        .select(
            "day_us",
            F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce(F.round(F.col("__s"), 2).cast("double"), F.lit(0.0)).alias("revenue"),
        )
    )


_events_transitions_sql = _q("""
        WITH p AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
                   FROM events),
             pr AS (SELECT event_type AS prev_type,
                           lead(event_type) OVER (PARTITION BY user_id
                                                  ORDER BY ts_us, event_id) AS next_type
                    FROM p),
             cnt AS (SELECT prev_type, next_type, count(*) AS n FROM pr
                     WHERE next_type IS NOT NULL GROUP BY 1, 2)
        SELECT prev_type, next_type, n,
               CAST(floor(1e6 * n / sum(n) OVER (PARTITION BY prev_type)) AS BIGINT)
                 AS p_ppm
        FROM cnt
    """)


@query(oracle=_events_transitions_sql)
def events_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences, with exact ppm conditional probabilities."""
    from ..operators.events import transition_matrix

    return transition_matrix(catalog(spark, sf_dir)["events"])


MARKOV_ROUNDS = 3

_mk_rounds = "".join(
    """,
pi{t} AS (SELECT next_type AS state,
                 CAST(sum((pi_ppm * p_ppm) // 1000000) AS BIGINT) AS pi_ppm
          FROM tm JOIN pi{p} ON pi{p}.state = tm.prev_type
          GROUP BY next_type)""".format(t=t, p=t - 1)
    for t in range(1, MARKOV_ROUNDS + 1)
)


@query(oracle=f"""
WITH tm AS ({_events_transitions_sql}),
ks AS (SELECT count(DISTINCT prev_type) AS k FROM tm),
pi0 AS (SELECT DISTINCT prev_type AS state,
               CAST(1000000 // (SELECT k FROM ks) AS BIGINT) AS pi_ppm
        FROM tm)
{_mk_rounds}
SELECT state, pi_ppm FROM pi{MARKOV_ROUNDS}
""")
def markov_stationary(spark, sf_dir):
    """Stationary distribution of the event-type Markov chain by fixed
    power iteration, entirely in integer ppm: ``π_{t+1}(j) = Σ_i
    (π_t(i)·P_ppm(i,j)) div 1e6`` from a uniform start — the
    where-does-the-funnel-settle statistic.  The chain matrix is the
    (already-gated) transition operator; rounds are unrolled in the
    oracle like PageRank's.  Every frame is |states|²-bounded, so the
    iteration is metadata-scale whatever the event volume."""
    from ..operators.events import transition_matrix

    tm = transition_matrix(catalog(spark, sf_dir)["events"]).select(
        "prev_type", "next_type", "p_ppm"
    )
    tm = tm.localCheckpoint(eager=True)  # reused every round
    states = tm.select(F.col("prev_type").alias("state")).distinct()
    # r11 (guide §5): |states| as a broadcast 1-row aggregate instead of a
    # blocking .first() — 1_000_000 // k == 1000000 div k for positive k,
    # so the uniform prior is identical and one serial job disappears.
    kf = states.agg(F.count(F.lit(1)).alias("__k"))
    pi = states.crossJoin(F.broadcast(kf)).select(
        "state", F.expr("CAST(1000000 div __k AS BIGINT)").alias("pi_ppm")
    )
    for _ in range(MARKOV_ROUNDS):
        pi = (
            tm.join(pi.withColumnRenamed("state", "prev_type"), "prev_type")
            .groupBy(F.col("next_type").alias("state"))
            .agg(F.sum(F.expr("(pi_ppm * p_ppm) div 1000000")).alias("pi_ppm"))
        )
    return pi.select("state", F.col("pi_ppm").cast("bigint").alias("pi_ppm"))


@query(oracle=_q(f"""
        WITH base AS (SELECT doc_id AS id, {_norm_sql('text')} AS nrm FROM documents),
             nb AS (SELECT id, lead(id, 1) OVER w AS n1, lead(id, 2) OVER w AS n2
                    FROM base WHERE nrm <> ''
                    WINDOW w AS (PARTITION BY substr(nrm, 1, 2) ORDER BY nrm, id)),
             cand AS (SELECT DISTINCT least(id, o) AS a_id, greatest(id, o) AS b_id
                      FROM (SELECT id, unnest([n1, n2]) AS o FROM nb)
                      WHERE o IS NOT NULL),
             {_SHINGLE_CTE.format(sh=_shingles_sql('text', 3), h=_hash64_sql('s'))},
             sz AS (SELECT doc_id, count(*) AS sz FROM st GROUP BY 1),
             sh AS (SELECT a_id, b_id, count(*) AS shared
                    FROM cand
                    JOIN st sa ON sa.doc_id = a_id
                    JOIN st sb ON sb.doc_id = b_id AND sb.shingle = sa.shingle
                    GROUP BY 1, 2)
        SELECT a_id, b_id, CAST(shared AS BIGINT) AS shared,
               CAST(floor(1e6 * shared / (za.sz + zb.sz - shared)) AS BIGINT)
                 AS jaccard_ppm
        FROM sh JOIN sz za ON za.doc_id = a_id JOIN sz zb ON zb.doc_id = b_id
    """))
def dedup_sorted_nbrs(spark, sf_dir):
    """Sorted-neighborhood blocking (prefix blocks, window 2) with exact
    shingle-Jaccard scores — the sort-based candidate generator next to
    the hash-based LSH families."""
    return dedup.sorted_neighborhood_pairs(
        catalog(spark, sf_dir)["documents"], window=2, block_chars=2
    )


@query(oracle=_q(f"""
        WITH tok AS (SELECT doc_id, t FROM
                       (SELECT doc_id, unnest({_toks_sql('text')}) AS t FROM documents)
                     WHERE t <> ''),
             tf AS (SELECT doc_id, t AS token, count(*) AS tf FROM tok GROUP BY 1, 2),
             dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
             nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
             scored AS (SELECT doc_id, token,
                               tf * CAST(floor(1e6 * (SELECT n FROM nd) / df) AS BIGINT)
                                 AS score
                        FROM tf JOIN dfreq USING (token))
        SELECT doc_id, token, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, token) AS BIGINT) AS rank
        FROM scored QUALIFY rank <= 3
    """))
def tfidf_terms(spark, sf_dir):
    """Top-3 characteristic terms per document by exact-integer TF-IDF
    (rational idf in fixed-point millionths)."""
    return textops.tfidf_top_terms(catalog(spark, sf_dir)["documents"], k=3)


COLLOC_MIN_COUNT = 5
COLLOC_K = 20


@query(oracle=_q(f"""
        WITH t AS (SELECT doc_id, {_toks_sql('text')} AS toks FROM documents),
             bg AS (SELECT w1, w2, count(*) AS n_ab FROM
                      (SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
                              unnest(list_transform(range(1, len(toks)), i -> toks[i+1])) AS w2
                       FROM t WHERE len(toks) >= 2)
                    GROUP BY 1, 2 HAVING count(*) >= {COLLOC_MIN_COUNT}),
             uni AS (SELECT tk, count(*) AS n FROM
                       (SELECT unnest(toks) AS tk FROM t) WHERE tk <> '' GROUP BY 1),
             tots AS (SELECT (SELECT CAST(sum(n) AS BIGINT) FROM uni) AS n_total,
                             (SELECT CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT)
                              FROM (SELECT CASE WHEN {_norm_sql('text')} = '' THEN []
                                                ELSE {_toks_sql('text')} END AS toks
                                    FROM documents) z) AS b_total)
        SELECT w1, w2, CAST(n_ab AS BIGINT) AS n_ab,
               CAST(floor((1e6 * n_ab / b_total) * (n_total / ua.n) * (n_total / ub.n))
                    AS BIGINT) AS lift_ppm
        FROM bg JOIN uni ua ON ua.tk = w1 JOIN uni ub ON ub.tk = w2
        CROSS JOIN tots
        ORDER BY lift_ppm DESC, w1, w2 LIMIT {COLLOC_K}
    """))
def collocations(spark, sf_dir):
    """Top-20 adjacent-word collocations by PMI-style lift (floor-ppm,
    min support 5) — corpus phrase mining."""
    return textops.collocations(
        catalog(spark, sf_dir)["documents"], min_count=COLLOC_MIN_COUNT, k=COLLOC_K
    )


KNN_QUERY_SPLIT = 20  # vec_id < 20 are queries, the rest the labeled corpus


@query(oracle=_q(f"""
        WITH q AS (SELECT vec_id AS q_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                   FROM embeddings WHERE vec_id < {KNN_QUERY_SPLIT}),
             c AS (SELECT vec_id, label,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
                   FROM embeddings WHERE vec_id >= {KNN_QUERY_SPLIT}),
             scored AS (
               SELECT q_id, vec_id, label,
                 round(
                   list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i]))
                   / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                      * sqrt(list_sum(list_transform(cv, x -> x * x)))), 6) AS sim
               FROM q CROSS JOIN c),
             nn AS (SELECT q_id, label,
                           row_number() OVER (PARTITION BY q_id
                                              ORDER BY sim DESC, vec_id) AS rank
                    FROM scored QUALIFY rank <= 5),
             votes AS (SELECT q_id, label, count(*) AS votes, min(rank) AS best_rank
                       FROM nn GROUP BY 1, 2)
        SELECT q_id, CAST(label AS INTEGER) AS pred_label,
               CAST(votes AS BIGINT) AS votes, CAST(best_rank AS BIGINT) AS best_rank
        FROM votes
        QUALIFY row_number() OVER (PARTITION BY q_id
                                   ORDER BY votes DESC, best_rank, label) = 1
    """))
def knn_classify(spark, sf_dir):
    """k-NN majority-vote label prediction (k=5, exact cosine neighbors,
    deterministic vote tie-breaks) over the embeddings table."""
    emb = catalog(spark, sf_dir)["embeddings"]
    q = emb.where(f"vec_id < {KNN_QUERY_SPLIT}").select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return similarity.knn_label_vote(emb.where(f"vec_id >= {KNN_QUERY_SPLIT}"), q, k=5)


@query(oracle=_q(f"""
        WITH j AS (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 {_REV} AS rev,
                 ns.n_name AS supp_nation
          FROM lineitem
          JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation nc ON c_nationkey = nc.n_nationkey
          JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ns ON s_nationkey = ns.n_nationkey
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01')
        SELECT o_year,
               CAST(floor(1e6 * CAST(sum(CASE WHEN supp_nation = 'NATION_9'
                                              THEN rev
                                              ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                          / CAST(sum(rev) AS DOUBLE)) AS BIGINT) AS mkt_share_ppm,
               CAST(round(sum(rev), 2) AS DOUBLE) AS total_revenue
        FROM j GROUP BY o_year
    """))
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's yearly share of a region's market for
    one part type — a five-dimension star where every dimension chain
    broadcasts into the fact scan and the share is a conditional/total
    aggregate ratio per year (DECIMAL-exact sums, one floor-ppm double
    division at the end)."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))
    asia_nations = (
        c["nation"]
        .join(F.broadcast(c["region"].where("r_name = 'ASIA'")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    supp_nation = c["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    j = (
        c["lineitem"]
        .join(F.broadcast(c["part"].where("p_type = 'PROMO'").select("p_partkey")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(c["orders"].where(
            "o_orderdate >= timestamp '1995-01-01' AND o_orderdate < timestamp '1997-01-01'"),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
        .join(F.broadcast(c["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_9", rev).otherwise(zero)).alias("_n"),
            F.sum(rev).alias("_d"),
        )
        .select(
            F.col("o_year").cast("int").alias("o_year"),
            F.floor(F.lit(1e6) * F.col("_n").cast("double") / F.col("_d").cast("double"))
            .cast("bigint").alias("mkt_share_ppm"),
            F.round(F.col("_d"), 2).cast("double").alias("total_revenue"),
        )
    )


@query(oracle=_q("""
        WITH j AS (SELECT l_orderkey, l_suppkey,
                          CASE WHEN epoch_us(l_shipdate)
                                    > epoch_us(o_orderdate) + 7776000000000
                               THEN 1 ELSE 0 END AS late
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             po AS (SELECT l_orderkey,
                           count(DISTINCT l_suppkey) AS n_supp,
                           count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late,
                           max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
                    FROM j GROUP BY 1),
             wt AS (SELECT late_supp AS s_suppkey, count(*) AS numwait
                    FROM po WHERE n_supp >= 2 AND n_late = 1 GROUP BY 1)
        SELECT s.s_suppkey, s_name, numwait
        FROM wt JOIN supplier s USING (s_suppkey)
        ORDER BY numwait DESC, s_name LIMIT 20
    """))
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the ONLY late shipper in a
    multi-supplier order — the double-correlated EXISTS / NOT EXISTS,
    decorrelated into ONE per-order aggregate: ``countDistinct`` supplier
    totals + the unique late supplier via ``max(when(late))`` (legal
    exactly because the filter pins n_late = 1).  No repeated fact
    self-joins — the classic formulation scans lineitem three times, this
    one once.  Lateness = shipped > 90 days after order date, in exact
    epoch-µs integer arithmetic."""
    c = catalog(spark, sf_dir)
    LATE_US = 90 * 86_400_000_000
    j = (
        c["lineitem"]
        .join(c["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.unix_micros("l_shipdate") > F.unix_micros("o_orderdate") + F.lit(LATE_US))
            .cast("int").alias("late"),
        )
    )
    po = j.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    wt = (
        po.where("n_supp >= 2 AND n_late = 1")
        .groupBy(F.col("late_supp").alias("s_suppkey"))
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        wt.join(F.broadcast(c["supplier"].select("s_suppkey", "s_name")), "s_suppkey")
        .select("s_suppkey", "s_name", F.col("numwait").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(oracle=_q("""
        WITH m AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
                               AS INTEGER) AS month_id,
                          sum(CAST(o_totalprice AS DECIMAL(18,6))) AS s
                   FROM orders GROUP BY 1)
        SELECT month_id,
               CAST(round(s, 2) AS DOUBLE) AS revenue,
               CAST(round(lag(s) OVER w, 2) AS DOUBLE) AS prev_revenue,
               CAST(floor(1e6 * CAST(s AS DOUBLE)
                          / CAST(lag(s) OVER w AS DOUBLE)) AS BIGINT) AS growth_ppm
        FROM m WINDOW w AS (ORDER BY month_id)
    """))
def revenue_mom(spark, sf_dir):
    """Month-over-month revenue growth: per-month DECIMAL-exact totals
    with a lag window for the previous month and a floor-ppm growth
    ratio.  The lag window is global BY CONSTRUCTION over the
    month-aggregated frame — bounded by the calendar (one row per month),
    never by data volume, the same justification as the q3 rank-above-
    TakeOrdered window."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    monthly = c["orders"].groupBy(
        (F.year("o_orderdate") * F.lit(100) + F.month("o_orderdate")).alias("month_id")
    ).agg(F.sum(dec("o_totalprice")).alias("_s"))
    w = Window.orderBy("month_id")
    return monthly.select(
        F.col("month_id").cast("int").alias("month_id"),
        F.round(F.col("_s"), 2).cast("double").alias("revenue"),
        F.round(F.lag("_s").over(w), 2).cast("double").alias("prev_revenue"),
        F.floor(
            F.lit(1e6) * F.col("_s").cast("double") / F.lag("_s").over(w).cast("double")
        ).cast("bigint").alias("growth_ppm"),
    )


@query(oracle=_q("""
        WITH p AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
                   FROM events),
             s AS (SELECT event_type AS p1,
                          lead(event_type, 1) OVER w AS p2,
                          lead(event_type, 2) OVER w AS p3
                   FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        SELECT p1, p2, p3, count(*) AS n
        FROM s WHERE p2 IS NOT NULL AND p3 IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY n DESC, p1, p2, p3 LIMIT 10
    """))
def events_paths(spark, sf_dir):
    """Top-10 three-step event paths across all user sequences
    (sequence mining via user-partitioned forward leads)."""
    from ..operators.events import top_paths

    return top_paths(catalog(spark, sf_dir)["events"], length=3, k=10)


_lang_rows = " UNION ALL ".join(
    f"SELECT '{lang}' AS lang, [{', '.join(repr(w) for w in ws)}] AS sw"
    for lang, ws in sorted(textops.STOPWORDS.items())
)


@query(oracle=_q(f"""
        WITH langs AS ({_lang_rows}),
        t AS (SELECT doc_id, list_distinct({_toks_sql('text')}) AS toks FROM documents),
        scores AS (
          SELECT doc_id, lang, len(list_intersect(toks, sw)) / CAST(len(sw) AS DOUBLE) AS score
          FROM t CROSS JOIN langs),
        pred AS (
          SELECT doc_id, lang AS pred_lang
          FROM scores
          QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) = 1),
        cm AS (SELECT d.lang AS decl_lang, pred_lang, count(*) AS n_docs
               FROM documents d JOIN pred USING (doc_id)
               GROUP BY 1, 2)
        SELECT decl_lang, pred_lang, n_docs,
               CAST(floor(1e6 * n_docs / sum(n_docs) OVER (PARTITION BY decl_lang))
                    AS BIGINT) AS share_ppm
        FROM cm
    """))
def lang_confusion(spark, sf_dir):
    """Declared-vs-detected language confusion matrix — the audit that
    catches mislabeled corpus partitions before they poison a training
    mix.  Joins the n-gram detector's prediction back to the declared
    `lang` column; per declared language the row share is exact floor-ppm
    over a declared-language-partitioned window."""
    docs = catalog(spark, sf_dir)["documents"]
    pred = textops.lang_id(docs).select("doc_id", "pred_lang")
    cm = (
        docs.select("doc_id", F.col("lang").alias("decl_lang"))
        .join(pred, "doc_id")
        .groupBy("decl_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("decl_lang")
    return cm.select(
        "decl_lang",
        "pred_lang",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.floor(F.lit(1e6) * F.col("n_docs") / F.sum("n_docs").over(w))
        .cast("bigint").alias("share_ppm"),
    )


JACCARD_MAX_DF = 1000


@query(oracle=f"""
WITH {_SHINGLE_CTE.format(sh=_shingles_sql('text', 3), h=_hash64_sql('s'))},
keep AS (SELECT shingle FROM st GROUP BY shingle
         HAVING count(*) > 1 AND count(*) <= {JACCARD_MAX_DF}),
p AS (SELECT st.* FROM st JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM st GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM p a JOIN p b USING (shingle) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2),
pr AS (SELECT id_a, id_b
       FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
       WHERE round(shared / (sa.n + sb.n - shared), 6) >= 0.8),
lab AS (SELECT least(da.source, db.source) AS src_a,
               greatest(da.source, db.source) AS src_b
        FROM pr JOIN documents da ON da.doc_id = id_a
                JOIN documents db ON db.doc_id = id_b)
SELECT src_a, src_b, count(*) AS n_pairs FROM lab GROUP BY 1, 2
""")
def dedup_cross_source(spark, sf_dir):
    """Cross-source duplicate-leakage matrix: near-duplicate pairs (the
    capped exact-Jaccard operator at the dedup threshold) bucketed by the
    source pair they span — the report that tells a curation run which
    feeds re-publish each other.  Pair volume is already dedup-bounded;
    the two source lookups are narrow equi-joins."""
    docs = catalog(spark, sf_dir)["documents"]
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_df=JACCARD_MAX_DF)
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("__sa")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("__sb")), "id_b")
        .select(
            F.least("__sa", "__sb").alias("src_a"),
            F.greatest("__sa", "__sb").alias("src_b"),
        )
    )
    return lab.groupBy("src_a", "src_b").agg(F.count(F.lit(1)).alias("n_pairs"))


FUNNEL_STAGES = ["signup", "view", "click", "purchase"]

# funnel: one CTE per stage, each min-over strictly-later events
_funnel_ctes = ", ".join([
    f"s0 AS (SELECT user_id, min(epoch_us(ts)) AS t_{FUNNEL_STAGES[0]} "
    f"FROM events WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id)"
] + [
    f"s{i} AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_{s} "
    f"FROM events e JOIN s{i - 1} USING (user_id) "
    f"WHERE e.event_type = '{s}' AND epoch_us(e.ts) > s{i - 1}.t_{FUNNEL_STAGES[i - 1]} "
    f"GROUP BY e.user_id)"
    for i, s in enumerate(FUNNEL_STAGES[1:], 1)
])
_funnel_cols = ", ".join(f"t_{s}" for s in FUNNEL_STAGES)

_funnel_joins = " ".join(f"LEFT JOIN s{i} USING (user_id)" for i in range(1, len(FUNNEL_STAGES)))

# funnel_rates: same stage CTEs, collapsed to one count row, unpacked
# into one summary row per stage
_n_cols = ", ".join(f"count(t_{s}) AS n{i}" for i, s in enumerate(FUNNEL_STAGES))
_stage_rows = [
    f"SELECT '{s}' AS stage, CAST({i + 1} AS INTEGER) AS stage_idx,"
    f" CAST(n{i} AS BIGINT) AS n_users,"
    f" CASE WHEN n0 > 0 THEN CAST(floor(1e6 * n{i} / n0) AS BIGINT) END"
    f" AS conv_from_first_ppm,"
    f" CASE WHEN n{max(i - 1, 0)} > 0"
    f" THEN CAST(floor(1e6 * n{i} / n{max(i - 1, 0)}) AS BIGINT) END"
    f" AS conv_from_prev_ppm FROM a"
    for i, s in enumerate(FUNNEL_STAGES)
]


@query(oracle=_q(
    f"WITH {_funnel_ctes}, "
    f"f AS (SELECT user_id, {_funnel_cols} FROM s0 {_funnel_joins}), "
    f"a AS (SELECT {_n_cols} FROM f) "
    + " UNION ALL ".join(_stage_rows)
))
def funnel_rates(spark, sf_dir):
    """Stage-level funnel summary: users reaching each stage plus exact
    ppm conversion vs the first and previous stages.  Composes the funnel
    operator; the rate rows unpack from ONE single-row aggregate (an
    explode of literals-and-counts structs — no driver round trip, no
    second fact scan)."""
    from ..operators.events import funnel

    f = funnel(catalog(spark, sf_dir)["events"], FUNNEL_STAGES)
    agg = f.agg(
        *[F.count(f"t_{s}").alias(f"__n{i}") for i, s in enumerate(FUNNEL_STAGES)]
    )
    structs = []
    for i, s in enumerate(FUNNEL_STAGES):
        n = F.col(f"__n{i}")
        first = F.col("__n0")
        prev = F.col(f"__n{max(i - 1, 0)}")
        structs.append(
            F.struct(
                F.lit(s).alias("stage"),
                F.lit(i + 1).cast("int").alias("stage_idx"),
                n.cast("bigint").alias("n_users"),
                F.when(first > 0, F.floor(F.lit(1e6) * n / first))
                .cast("bigint").alias("conv_from_first_ppm"),
                F.when(prev > 0, F.floor(F.lit(1e6) * n / prev))
                .cast("bigint").alias("conv_from_prev_ppm"),
            )
        )
    return agg.select(F.explode(F.array(*structs)).alias("__s")).select("__s.*")


@query(oracle=_q("""
        WITH wk AS (SELECT DISTINCT user_id,
                      CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS wk
                    FROM events),
        first AS (SELECT user_id, min(wk) AS cohort FROM wk GROUP BY user_id),
        p AS (SELECT user_id,
                     CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS wk,
                     CAST(round(value * 1e6) AS BIGINT) AS fx
              FROM events WHERE event_type = 'purchase'),
        cells AS (SELECT cohort AS cohort_week, p.wk - cohort AS week_offset,
                         CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_buyers,
                         CAST(sum(fx) AS BIGINT) AS rev_micro
                  FROM p JOIN first USING (user_id) GROUP BY 1, 2)
        SELECT cohort_week, week_offset, n_buyers, rev_micro,
               CAST(sum(rev_micro) OVER (PARTITION BY cohort_week ORDER BY week_offset
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ltv_micro
        FROM cells
    """))
def cohort_ltv(spark, sf_dir):
    """Cohort lifetime value: purchase value accumulated per (first-week
    cohort, week offset) in exact micro-units."""
    from ..operators.events import cohort_value

    return cohort_value(catalog(spark, sf_dir)["events"], value_type="purchase")


_sw_list = ", ".join(f"'{w}'" for w in textops.STOPWORDS["en"])

_quality_sql = _q(f"""
        WITH q AS (
          SELECT doc_id,
            CAST(length(text) AS BIGINT) AS n_chars,
            length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
            {_toks_sql('text')} AS toks,
            {_ntok_sql('text')} AS n_tok
          FROM documents),
        r AS (
          SELECT doc_id, n_chars,
            least(n_chars / 500.0, 1.0) AS length_score,
            alpha / greatest(n_chars, 1) AS alpha_ratio,
            len(list_filter(toks, x -> list_contains([{_sw_list}], x))) / greatest(n_tok, 1) AS stopword_ratio,
            len(list_distinct(toks)) / greatest(n_tok, 1) AS distinct_ratio,
            CAST(len(list_intersect(list_distinct(toks), [{_sw_list}])) AS BIGINT) AS n_stopwords_present
          FROM q)
        SELECT doc_id, n_chars,
          round(length_score, 4) AS length_score,
          round(alpha_ratio, 4) AS alpha_ratio,
          round(stopword_ratio, 4) AS stopword_ratio,
          round(distinct_ratio, 4) AS distinct_ratio,
          round((length_score + alpha_ratio + stopword_ratio + distinct_ratio) / 4.0, 4) AS quality_score,
          n_stopwords_present
        FROM r
    """)

# bigram LM: mirrors operators/text.py::lm_bigram_score exactly —
# parallel unnests zip in DuckDB, hashes/floors/rounds match Spark
_lm_score_sql = _q(f"""
        WITH t AS (SELECT doc_id, {_toks_sql('text')} AS toks FROM documents),
        bg AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
                 unnest(list_transform(range(1, len(toks)),
                        i -> toks[i] || chr(1) || toks[i+1])) AS w12
               FROM t WHERE len(toks) >= 2),
        occ AS (SELECT doc_id, {_hash64_sql('w1')} AS h1,
                       {_hash64_sql('w12')} AS h12,
                       CAST(count(*) AS BIGINT) AS n_occ
                FROM bg GROUP BY 1, 2, 3),
        c12 AS (SELECT h12, CAST(sum(n_occ) AS BIGINT) AS c12 FROM occ GROUP BY 1),
        c1  AS (SELECT h1,  CAST(sum(n_occ) AS BIGINT) AS c1  FROM occ GROUP BY 1),
        v AS (SELECT count(DISTINCT tok) AS vn FROM
                (SELECT unnest({_toks_sql('text')}) AS tok FROM documents)
              WHERE tok != ''),
        fx AS (SELECT doc_id, n_occ,
                      CAST(floor(1e6 * (c12 + 1) / (c1 + vn)) AS BIGINT) AS fx
               FROM occ JOIN c12 USING (h12) JOIN c1 USING (h1) CROSS JOIN v)
        SELECT doc_id,
               CAST(sum(n_occ) AS BIGINT) AS n_bigrams,
               round(CAST(sum(n_occ * fx) AS BIGINT)
                     / CAST(sum(n_occ) AS DOUBLE), 4) AS lm_score
        FROM fx GROUP BY doc_id
    """)


# percentile blend: the two score pipelines reuse their own oracle
# strings verbatim as CTEs, so the blend can never drift from the
# gated operators it composes
@query(oracle=_q(f"""
        WITH q AS ({_quality_sql}),
             lm AS ({_lm_score_sql}),
             j AS (SELECT d.doc_id, d.source, q.quality_score, lm.lm_score
                   FROM documents d
                   JOIN q ON q.doc_id = d.doc_id
                   JOIN lm ON lm.doc_id = d.doc_id),
             r AS (SELECT doc_id, source,
                          CAST(floor(1e6 * percent_rank() OVER (
                                 PARTITION BY source ORDER BY quality_score, doc_id))
                               AS BIGINT) AS q_pct_ppm,
                          CAST(floor(1e6 * percent_rank() OVER (
                                 PARTITION BY source ORDER BY lm_score, doc_id))
                               AS BIGINT) AS lm_pct_ppm
                   FROM j)
        SELECT doc_id, source, q_pct_ppm, lm_pct_ppm,
               CAST(floor((q_pct_ppm + lm_pct_ppm) / 2e0) AS BIGINT) AS blend_ppm
        FROM r
    """))
def quality_blend(spark, sf_dir):
    """Per-source percentile-calibrated quality blend: the heuristic
    quality score and the bigram-LM score each percent-rank WITHIN their
    source (per-source calibration — raw scores aren't comparable across
    feeds with different length/style profiles), then average in exact
    ppm.  The pattern for combining any set of quality signals into one
    curation key; both inputs are the already-oracle-gated operators."""
    docs = catalog(spark, sf_dir)["documents"]
    q = textops.quality_score(docs).select("doc_id", "quality_score")
    lm = textops.lm_bigram_score(docs).select("doc_id", "lm_score")
    j = (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .join(lm, "doc_id")
    )
    wq = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    wl = Window.partitionBy("source").orderBy("lm_score", "doc_id")
    q_ppm = F.floor(F.lit(1e6) * F.percent_rank().over(wq)).cast("bigint")
    lm_ppm = F.floor(F.lit(1e6) * F.percent_rank().over(wl)).cast("bigint")
    return j.select(
        "doc_id",
        "source",
        q_ppm.alias("q_pct_ppm"),
        lm_ppm.alias("lm_pct_ppm"),
    ).select(
        "doc_id",
        "source",
        "q_pct_ppm",
        "lm_pct_ppm",
        F.floor((F.col("q_pct_ppm") + F.col("lm_pct_ppm")) / F.lit(2.0))
        .cast("bigint").alias("blend_ppm"),
    )


@query(oracle=_q("""
        WITH base AS (
          SELECT vec_id, label,
                 unnest(range(0, len(embedding))) AS dim,
                 unnest(list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT))) AS fx
          FROM embeddings),
        cent AS (SELECT label, dim,
                        CAST(floor(CAST(sum(fx) AS DOUBLE) / count(*)) AS BIGINT) AS cfx
                 FROM base GROUP BY 1, 2),
        cnorm AS (SELECT label, CAST(sum(cfx * cfx) AS BIGINT) AS nb FROM cent GROUP BY 1),
        dots AS (SELECT vec_id, base.label,
                        CAST(sum(fx * cfx) AS BIGINT) AS dot,
                        CAST(sum(fx * fx) AS BIGINT) AS na
                 FROM base JOIN cent USING (label, dim) GROUP BY 1, 2),
        pv AS (SELECT dots.label,
                      CAST(floor(1e6 * dot / (sqrt(CAST(na AS DOUBLE))
                                              * sqrt(CAST(nb AS DOUBLE)))) AS BIGINT) AS cp
               FROM dots JOIN cnorm ON cnorm.label = dots.label)
        SELECT CAST(label AS INTEGER) AS label,
               count(*) AS n_vecs,
               CAST(floor(CAST(sum(cp) AS DOUBLE) / count(*)) AS BIGINT) AS mean_cos_ppm,
               CAST(min(cp) AS BIGINT) AS min_cos_ppm
        FROM pv GROUP BY 1
    """))
def label_coherence(spark, sf_dir):
    """Per-label embedding coherence report (exact fixed-point centroids
    and cosine-to-centroid stats)."""
    return similarity.label_centroids(catalog(spark, sf_dir)["embeddings"])


@query(oracle=_q("""
        WITH c AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS win_start_s,
                          event_type, count(*) AS n
                   FROM events GROUP BY 1, 2)
        SELECT win_start_s, event_type, n,
               CAST(row_number() OVER (PARTITION BY win_start_s
                                       ORDER BY n DESC, event_type) AS BIGINT) AS rnk
        FROM c QUALIFY rnk <= 3
    """))
def events_trending(spark, sf_dir):
    """Top-3 trending event types per tumbling hour — windowed counts
    with a window-partitioned rank (the batch shape of a streaming
    trending dashboard; exact integral-div hour buckets)."""
    e = catalog(spark, sf_dir)["events"]
    counts = (
        e.groupBy(
            F.expr("(unix_micros(ts) div 3600000000) * 3600").alias("win_start_s"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("win_start_s").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("win_start_s", "event_type", F.col("n").cast("bigint").alias("n"), "rnk")
    )


@query(oracle=_q(f"""
        WITH tok AS (SELECT source, t FROM
                       (SELECT source, unnest({_toks_sql('text')}) AS t FROM documents)
                     WHERE t <> ''),
             pst AS (SELECT source, t, count(*) AS o FROM tok GROUP BY 1, 2),
             corpus AS (SELECT t, CAST(sum(o) AS BIGINT) AS c FROM pst GROUP BY 1),
             vocab AS (SELECT t, c FROM corpus ORDER BY c DESC, t LIMIT 100),
             totals AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_tokens
                        FROM pst GROUP BY 1),
             tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS nt FROM totals),
             cells AS (SELECT p.source, totals.n_tokens, p.o,
                              CAST(c AS DOUBLE) * totals.n_tokens
                                / (SELECT nt FROM tot) AS e
                       FROM pst p JOIN vocab USING (t)
                       JOIN totals ON totals.source = p.source)
        SELECT source, n_tokens,
               CAST(sum(floor(1e6 * (o - e) * (o - e) / e)) AS BIGINT) AS chi2_ppm
        FROM cells GROUP BY 1, 2
    """))
def source_drift(spark, sf_dir):
    """Per-source token-distribution drift vs the corpus (χ²-style over
    the top-100 corpus tokens, per-cell floored ppm)."""
    return textops.source_token_drift(catalog(spark, sf_dir)["documents"], top_v=100)


@query(oracle=_q("""
        WITH v AS (SELECT vec_id,
                          unnest(range(0, len(embedding))) AS dim,
                          unnest(list_transform(embedding,
                                 x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT))) AS fx
                   FROM embeddings),
             ma AS (SELECT dim, CAST(floor(CAST(sum(fx) AS DOUBLE) / count(*)) AS BIGINT)
                           AS mean_a_fx
                    FROM v WHERE vec_id % 2 = 0 GROUP BY 1),
             mb AS (SELECT dim, CAST(floor(CAST(sum(fx) AS DOUBLE) / count(*)) AS BIGINT)
                           AS mean_b_fx
                    FROM v WHERE vec_id % 2 = 1 GROUP BY 1)
        SELECT CAST(dim AS INTEGER) AS dim, mean_a_fx, mean_b_fx,
               abs(mean_a_fx - mean_b_fx) AS shift_fx
        FROM ma JOIN mb USING (dim)
        ORDER BY shift_fx DESC, dim LIMIT 10
    """))
def embedding_drift(spark, sf_dir):
    """Top-10 embedding dimensions by mean shift between the even- and
    odd-id halves of the corpus — the snapshot-vs-snapshot encoder/feed
    drift monitor in exact fixed point."""
    emb = catalog(spark, sf_dir)["embeddings"]
    return similarity.embedding_dim_drift(
        emb.where("vec_id % 2 = 0"), emb.where("vec_id % 2 = 1"), k=10
    )


def _concurrently(spark, *builds):
    """The results of the zero-argument ``builds``, in order, each run in
    its own driver thread that keeps the caller's job group and tags.  Only for
    builds whose eager jobs leave cores idle when run one after another,
    and only where an interleaved A/B showed it pays (numbers at each
    caller)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=len(builds)) as pool:
        futs = [pool.submit(inheritable_thread_target(spark)(b)) for b in builds]
        return [f.result() for f in futs]


#: result-row counts summarized by dedup_panorama — each name must be an
#: oracle-gated dedup query so the panorama oracle can embed its SQL
PANORAMA_FAMILIES = [
    "dedup_exact", "dedup_jaccard", "dedup_containment",
    "minhash_lsh", "simhash_pairs", "dedup_chunks",
]

CONTAINMENT_THRESHOLD = 0.9

CHUNK_TOKENS = 20

_dedup_exact_sql = _q(f"""
        SELECT min(doc_id) AS doc_id,
               {_hash64_sql(f"coalesce(CAST(text AS VARCHAR), chr(0))")} AS content_hash,
               count(*) AS dup_count
        FROM documents GROUP BY 2
    """)

# Shared chunk-table CTE (mirror of operators.dedup.chunk_table):
# fixed-width token chunks with string, hash, token length, and the
# packed first-occurrence owner (doc_id * 2^CHUNK_OWNER_SHIFT + pos)
# — ONE definition feeds all three chunk oracles, like the operators
# all consume one chunk_table.
_chunk_n = CHUNK_TOKENS
_chunk_str = f"array_to_string(list_slice(toks, pos * {_chunk_n} + 1, pos * {_chunk_n} + {_chunk_n}), ' ')"
_CHUNK_CTE = f"""
        t AS (SELECT doc_id, {_toks_sql('text')} AS toks FROM documents),
        t2 AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        c AS (SELECT doc_id, n, toks,
                     unnest(range(0, (n + {_chunk_n - 1}) // {_chunk_n})) AS pos
              FROM t2),
        h0 AS (SELECT doc_id, pos, {_chunk_str} AS chunk,
                 least({_chunk_n}, n - pos * {_chunk_n}) AS chunk_len,
                 doc_id * {1 << 20} + pos AS pk
               FROM c),
        h AS (SELECT doc_id, pos, chunk, chunk_len, pk,
                {_hash64_sql('chunk')} AS chunk_hash FROM h0)"""
_dedup_chunks_sql = _q(f"""
        WITH {_CHUNK_CTE},
        w AS (SELECT chunk_hash, min(pk) AS wpk FROM h GROUP BY chunk_hash)
        SELECT h.doc_id, count(*) AS n_chunks,
               CAST(sum(CASE WHEN pk <> wpk THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
               CAST(sum(CASE WHEN pk = wpk THEN chunk_len ELSE 0 END) AS BIGINT) AS kept_tokens
        FROM h JOIN w USING (chunk_hash) GROUP BY h.doc_id
    """)

# keep = posting-list cap mirror of ngram_jaccard_pairs(max_df): only
# shingles in 2..max_df docs can contribute shared counts — identical
# on both engines, so the comparison stays exact
_dedup_jaccard_sql = f"""
WITH {_SHINGLE_CTE.format(sh=_shingles_sql('text', 3), h=_hash64_sql('s'))},
keep AS (SELECT shingle FROM st GROUP BY shingle
         HAVING count(*) > 1 AND count(*) <= {JACCARD_MAX_DF}),
p AS (SELECT st.* FROM st JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM st GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM p a JOIN p b USING (shingle) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, round(shared / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE round(shared / (sa.n + sb.n - shared), 6) >= 0.8
"""

_dedup_containment_sql = f"""
WITH {_SHINGLE_CTE.format(sh=_shingles_sql('text', 3), h=_hash64_sql('s'))},
keep AS (SELECT shingle FROM st GROUP BY shingle
         HAVING count(*) > 1 AND count(*) <= {JACCARD_MAX_DF}),
p AS (SELECT st.* FROM st JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM st GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM p a JOIN p b USING (shingle) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, round(shared / least(sa.n, sb.n), 6) AS containment
FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE round(shared / least(sa.n, sb.n), 6) >= {CONTAINMENT_THRESHOLD}
"""

_minhash_lsh_sql = f"""
WITH {_minhash_cte(16, 3)},
bands AS (
  SELECT doc_id, j // 4 AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS band_hash
  FROM mh GROUP BY doc_id, j // 4),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_hash) WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT id_a, id_b, count(*) AS shared
  FROM cands JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
  WHERE a.shingle = b.shingle GROUP BY 1, 2)
SELECT id_a, id_b, round(shared / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE round(shared / (sa.n + sb.n - shared), 6) >= 0.5
"""

# pigeonhole banding: 32 bits / 4 bands = 8-bit chunks; any pair at
# Hamming distance < 4 shares at least one exact chunk
_simhash_pairs_sql = f"""
WITH sigs AS ({_simhash_oracle(2, 32)}),
b AS (SELECT doc_id, simhash, band, (simhash // (1 << (band * 8))) % 256 AS chunk
      FROM sigs CROSS JOIN (SELECT unnest(range(4)) AS band)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
         a.simhash AS sa, b2.simhash AS sb
  FROM b a JOIN b b2 USING (band, chunk) WHERE a.doc_id < b2.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


# panorama: each family's own oracle SQL embedded verbatim and counted
@query(oracle=" UNION ALL ".join(
    f"SELECT '{name}' AS family, count(*) AS n_rows FROM ({sql})"
    for name, sql in zip(PANORAMA_FAMILIES, (
        _dedup_exact_sql, _dedup_jaccard_sql, _dedup_containment_sql,
        _minhash_lsh_sql, _simhash_pairs_sql, _dedup_chunks_sql,
    ))
))
def dedup_panorama(spark, sf_dir):
    """One-line-per-family duplication datasheet: result-row counts of
    every dedup family over the same corpus — the summary a curation run
    publishes before choosing its dedup strategy.  Each family's count is
    a single aggregate over the already-gated operator (LSH reuses its
    memoized pair cache); the oracle embeds each family's own oracle SQL
    verbatim, so the panorama can never drift from the operators it
    summarizes."""
    # several families run eager checkpoints while building.  Overlapped,
    # on 4-core local[4] (sf0.1, three rounds of 10 interleaved pairs):
    # one after the other was slower in 25 of 30 pairs, by +1.9, +0.6
    # and +2.8 s at the round medians (17.4-19.4 s overlapped).
    all_q = queries()
    families = _concurrently(spark, *(
        functools.partial(all_q[name], spark, sf_dir) for name in PANORAMA_FAMILIES
    ))
    return functools.reduce(DataFrame.unionByName, [
        fam.agg(F.count(F.lit(1)).alias("__n")).select(
            F.lit(name).alias("family"),
            F.col("__n").cast("bigint").alias("n_rows"),
        )
        for name, fam in zip(PANORAMA_FAMILIES, families)
    ])


_JP05_PAIRS: dict = {}


def _jaccard_pairs_05(spark, sf_dir):
    """The 0.5-threshold exact pair graph feeds several consumers
    (nearest_doc's argmax, doc_pagerank's edges) — memoized per sf_dir
    like the traversals and LSH pairs, as one real pipeline stage whose
    output downstream analytics share."""
    with _MEMO_LOCK:
        if sf_dir not in _JP05_PAIRS:
            _JP05_PAIRS[sf_dir] = dedup.ngram_jaccard_pairs(
                catalog(spark, sf_dir)["documents"],
                threshold=0.5,
                max_df=JACCARD_MAX_DF,
            ).persist()
        return _JP05_PAIRS[sf_dir]


@query(oracle=f"""
WITH {_jaccard_pairs_cte(0.5, JACCARD_MAX_DF)},
sym AS (SELECT id_a AS doc_id, id_b AS nn_id, jaccard FROM jp
        UNION ALL
        SELECT id_b, id_a, jaccard FROM jp)
SELECT doc_id, nn_id, jaccard FROM sym
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY jaccard DESC, nn_id) = 1
""")
def nearest_doc(spark, sf_dir):
    """Each document's most similar other document by exact capped
    Jaccard at 0.5 (argmax over the symmetrized pair graph)."""
    from pyspark.sql import Window

    pairs = _jaccard_pairs_05(spark, sf_dir)
    sym = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("nn_id"), "jaccard"
    ).unionByName(
        pairs.select(F.col("id_b").alias("doc_id"), F.col("id_a").alias("nn_id"), "jaccard")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), F.asc("nn_id"))
    return (
        sym.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select("doc_id", "nn_id", "jaccard")
    )


@query(oracle=f"""
WITH {_minhash_cte(16, 3)},
bands AS (
  SELECT doc_id, j // 2 AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS band_hash
  FROM mh GROUP BY doc_id, j // 2),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_hash) WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT id_a, id_b, count(*) AS shared
  FROM cands JOIN sh a ON a.doc_id = id_a JOIN sh b ON b.doc_id = id_b
  WHERE a.shingle = b.shingle GROUP BY 1, 2),
neg AS (
  SELECT id_a, id_b, round(shared / (sa.n + sb.n - shared), 6) AS jaccard
  FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(shared / (sa.n + sb.n - shared), 6) >= 0.0
    AND round(shared / (sa.n + sb.n - shared), 6) < 0.3),
sym AS (SELECT id_a AS anchor, id_b AS negative, jaccard FROM neg
        UNION ALL SELECT id_b, id_a, jaccard FROM neg)
SELECT anchor, negative, jaccard,
       CAST(row_number() OVER (PARTITION BY anchor
                               ORDER BY jaccard DESC, negative) AS BIGINT) AS rank
FROM sym QUALIFY rank <= 2
""")
def contrastive_negs(spark, sf_dir):
    """Hard-negative mining: per anchor the 2 most similar documents
    UNDER the near-dup threshold, from the MinHash band candidate pool."""
    # 8 bands of 2 rows: band-collision probability ~j^2, so the candidate
    # pool reaches well below the dup threshold (4x4 banding ~j^4 surfaces
    # only near-dups and leaves the negative pool empty on this corpus)
    return dedup.contrastive_negatives(
        catalog(spark, sf_dir)["documents"], k=2, max_jaccard=0.3, mh_k=16, bands=8
    )


@query(oracle=f"""
WITH {_jaccard_pairs_cte(0.5, JACCARD_MAX_DF)},
e AS (SELECT id_a AS src, id_b AS dst FROM jp
      UNION ALL SELECT id_b, id_a FROM jp),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
p0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS pr FROM deg),
c1 AS (SELECT dst, sum(pr // deg) AS s FROM e
       JOIN p0 ON p0.node = e.src JOIN deg ON deg.src = e.src GROUP BY dst),
p1 AS (SELECT node, CAST(150000 + (85 * coalesce(s, 0)) // 100 AS BIGINT) AS pr
       FROM p0 LEFT JOIN c1 ON c1.dst = p0.node),
c2 AS (SELECT dst, sum(pr // deg) AS s FROM e
       JOIN p1 ON p1.node = e.src JOIN deg ON deg.src = e.src GROUP BY dst),
p2 AS (SELECT node, CAST(150000 + (85 * coalesce(s, 0)) // 100 AS BIGINT) AS pr
       FROM p1 LEFT JOIN c2 ON c2.dst = p1.node),
c3 AS (SELECT dst, sum(pr // deg) AS s FROM e
       JOIN p2 ON p2.node = e.src JOIN deg ON deg.src = e.src GROUP BY dst),
p3 AS (SELECT node, CAST(150000 + (85 * coalesce(s, 0)) // 100 AS BIGINT) AS pr
       FROM p2 LEFT JOIN c3 ON c3.dst = p2.node)
SELECT node, CAST(deg AS BIGINT) AS degree, pr AS pr_ppm
FROM p3 JOIN deg ON deg.src = p3.node
""")
def doc_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank (3 rounds, 0.85 damping) over the
    0.5-threshold Jaccard similarity graph — survivor-importance inside
    duplicate families.  Shares the memoized pair graph with
    nearest_doc."""
    return dedup.doc_pagerank(_jaccard_pairs_05(spark, sf_dir), iters=3)


@query(oracle=f"""
WITH {_jaccard_pairs_cte(0.5, JACCARD_MAX_DF)},
tri AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM jp e1
  JOIN jp e2 ON e2.id_a = e1.id_b
  JOIN jp e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
tn AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri)
  GROUP BY node),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT id_a AS node FROM jp UNION ALL SELECT id_b FROM jp)
  GROUP BY node)
SELECT deg.node, CAST(degree AS BIGINT) AS degree,
       CAST(coalesce(n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN degree > 1
            THEN CAST(coalesce(n_triangles, 0) * 2 AS DOUBLE) / (degree * (degree - 1))
            ELSE 0e0 END AS clustering
FROM deg LEFT JOIN tn ON tn.node = deg.node
""")
def doc_triangles(spark, sf_dir):
    """Triangle participation + local clustering coefficient over the
    0.5-threshold Jaccard pair graph — clique-like duplicate families
    (coefficient → 1) vs chained near-miss paths (coefficient → 0).
    Third consumer of the memoized pair graph (with nearest_doc and
    doc_pagerank): one similarity stage, several analytics."""
    return dedup.triangle_counts(_jaccard_pairs_05(spark, sf_dir))


@query(oracle=f"""
WITH {_jaccard_pairs_cte(0.5, JACCARD_MAX_DF)},
g AS (SELECT least(9, CAST(floor(jaccard * 10) AS INTEGER)) AS band,
             count(*) AS n_pairs
      FROM jp GROUP BY 1)
SELECT CAST(band AS INTEGER) AS band,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_pairs_at_or_above
FROM g
""")
def jaccard_threshold_sweep(spark, sf_dir):
    """Threshold-sensitivity report for the near-dup cutoff: pair counts
    and affected-doc counts per 0.1-wide Jaccard band, from ONE scan of
    the memoized 0.5-threshold pair graph — the marginal-cost curve a
    curation run reads before committing to a cutoff (how many more
    pairs does lowering the bar to 0.7 admit?).  Cumulative counts come
    from a window over the ≤5-row band frame."""
    from pyspark.sql import Window

    pairs = _jaccard_pairs_05(spark, sf_dir)
    band = F.expr("least(9, CAST(floor(jaccard * 10) AS INT))")
    g = pairs.groupBy(band.alias("band")).agg(F.count(F.lit(1)).alias("n_pairs"))
    w = Window.orderBy(F.desc("band")).rowsBetween(Window.unboundedPreceding, 0)
    return g.select(
        F.col("band").cast("int").alias("band"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
    ).withColumn("cum_pairs_at_or_above", F.sum("n_pairs").over(w).cast("bigint"))


@query(oracle=f"""
WITH {_SHINGLE_CTE.format(sh=_shingles_sql('text', 3), h=_hash64_sql('s'))},
first AS (SELECT shingle, min(doc_id) AS f FROM st GROUP BY 1)
SELECT st.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN f = st.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((sum(CASE WHEN f = st.doc_id THEN 1 ELSE 0 END) * 1000000) // count(*)
            AS BIGINT) AS novelty_ppm
FROM st JOIN first USING (shingle)
GROUP BY st.doc_id
""")
def doc_novelty(spark, sf_dir):
    """Per-document novelty against everything ingested BEFORE it
    (doc_id order): the fraction of a doc's distinct shingles whose
    FIRST occurrence is this doc — the diminishing-returns curve that
    tells a crawl when more of the same source stops adding content.
    One aggregation assigns each shingle its min owner, one join back
    scores the docs; both keyed on the 8-byte shingle hash, no
    quadratic anywhere."""
    st = dedup.shingle_table(catalog(spark, sf_dir)["documents"])
    st = st.localCheckpoint(eager=True)  # first-owner agg + per-doc join
    first = st.groupBy("shingle").agg(F.min("doc_id").alias("__first"))
    return (
        st.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.when(F.col("__first") == F.col("doc_id"), 1).otherwise(0)).alias("__new"),
        )
        .select(
            "doc_id",
            F.col("__n").cast("bigint").alias("n_shingles"),
            F.col("__new").cast("bigint").alias("n_novel"),
            F.expr("(__new * 1000000) div __n").cast("bigint").alias("novelty_ppm"),
        )
    )


DOC_HOPS_ROUNDS = 3

_hops_rounds = "".join(
    f""",
r{k} AS (SELECT node, min(hop) AS hop FROM (
  SELECT node, hop FROM r{k - 1}
  UNION ALL
  SELECT e.dst AS node, CAST({k} AS BIGINT) AS hop
  FROM e JOIN r{k - 1} ON e.src = r{k - 1}.node) GROUP BY node)"""
    for k in range(1, DOC_HOPS_ROUNDS + 1)
)


@query(oracle=f"""
WITH {_jaccard_pairs_cte(0.5, JACCARD_MAX_DF)},
e AS (SELECT id_a AS src, id_b AS dst FROM jp
      UNION ALL SELECT id_b, id_a FROM jp),
r0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS hop FROM e WHERE src < 10)
{_hops_rounds}
SELECT node, CAST(hop AS BIGINT) AS hop FROM r{DOC_HOPS_ROUNDS}
""")
def doc_hops(spark, sf_dir):
    """Bounded-round BFS distance labeling over the 0.5-Jaccard pair
    graph from a seed set (doc_id < 10): hop 0 = seeds, hop k = first
    reached in round k — duplicate-family blast-radius analysis (how far
    does contamination propagate through near-dup chains?).  Fourth
    consumer of the memoized pair graph.  Each round is one join +
    min-aggregate over the frontier; rounds are FIXED (the oracle
    unrolls them as CTEs, the pagerank pattern), and unreached docs
    don't appear — no unbounded iteration, no driver loop."""
    pairs = _jaccard_pairs_05(spark, sf_dir)
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    e = e.localCheckpoint(eager=True)
    nodes = e.select(F.col("src").alias("node")).distinct()
    dist = nodes.where(F.col("node") < 10).select(
        "node", F.lit(0).cast("bigint").alias("hop")
    )
    for k in range(1, DOC_HOPS_ROUNDS + 1):
        reached = (
            e.join(dist.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), F.lit(k).cast("bigint").alias("hop"))
        )
        dist = (
            dist.unionByName(reached)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
        )
    return dist


RP_DIM, RP_SEED = 8, "rp"

_rp_planes = similarity.random_planes(RP_DIM, 64, seed=RP_SEED)
_rp_vals = ", ".join(
    f"({j}, {i + 1}, {int(round(w * 1_000_000))})"
    for j, row in enumerate(_rp_planes)
    for i, w in enumerate(row)
)


@query(oracle=f"""
WITH qv AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
base AS (SELECT vec_id, unnest(range(1, 65)) AS i, unnest(e) AS x FROM qv),
w AS (SELECT * FROM (VALUES {_rp_vals}) AS t(dim, i, wt))
SELECT vec_id, CAST(dim AS BIGINT) AS dim, CAST(sum(x * wt) AS BIGINT) AS proj_fx
FROM base JOIN w USING (i) GROUP BY vec_id, dim
""")
def rp_project(spark, sf_dir):
    """Johnson–Lindenstrauss random projection 64→8, exact integer
    fixed-point (see operators/similarity.py::random_projection) — the
    cheap narrow-vector pre-step before ANN/clustering.  Pure per-row
    map over driver-constant weights; zero shuffles."""
    return similarity.random_projection(
        catalog(spark, sf_dir)["embeddings"], out_dim=RP_DIM, seed=RP_SEED
    )


# HLL: the oracle rebuilds every register and the harmonic sum from
# the same md5 hashing, integer shifts, and the shared rho CASE chain
_HLL_M = sketches.HLL_M
_hll_rho = sketches._rho_case_sql("sfx")


# e-notation: a bare 256.0 parses as DECIMAL in DuckDB and overflows
def _dlit(x: float) -> str:
    r = repr(float(x))
    return r if "e" in r else r + "e0"


_hll_est_sql = (
    f"CAST(floor({_dlit(sketches.HLL_ALPHA)} * {_dlit(_HLL_M)} * {_dlit(_HLL_M)}"
    f" * {_dlit(1 << sketches.HLL_SCALE_POW)} / hs) AS BIGINT)"
)


@query(oracle=_q(f"""
        WITH h AS (SELECT {_hash64_sql("'hll:' || CAST(o_custkey AS VARCHAR)")} AS h
                   FROM orders WHERE o_custkey IS NOT NULL),
        b AS (SELECT h % {_HLL_M} AS bucket, (h // {_HLL_M}) % {1 << 32} AS sfx FROM h),
        r AS (SELECT bucket, max({_hll_rho}) AS rho FROM b GROUP BY 1),
        fullr AS (SELECT t.i AS bucket, coalesce(r.rho, 0) AS rho
                  FROM (SELECT unnest(range(0, {_HLL_M})) AS i) t
                  LEFT JOIN r ON r.bucket = t.i),
        s AS (SELECT CAST(sum(CAST(1 AS BIGINT) << ({sketches.HLL_SCALE_POW} - rho))
                          AS BIGINT) AS hs FROM fullr),
        est AS (SELECT hs, {_hll_est_sql} AS estimate FROM s),
        ex AS (SELECT count(DISTINCT o_custkey) AS nd FROM orders)
        SELECT 'o_custkey' AS col_name,
               CAST(nd AS BIGINT) AS exact_distinct,
               CAST({_HLL_M} AS BIGINT) AS n_registers,
               hs AS harmonic_scaled,
               estimate,
               CAST(floor(1e6 * abs(estimate - nd) / nd) AS BIGINT) AS err_ppm
        FROM est CROSS JOIN ex
    """))
def sketch_hll(spark, sf_dir):
    """From-scratch deterministic HyperLogLog distinct-count of order
    customers, WITH its own correctness gate: the oracle reproduces every
    register and the estimate bit-for-bit (engine builtins like
    `approx_count_distinct` can never be cross-verified).  Exact distinct
    is a driver scalar for the error column."""
    o = catalog(spark, sf_dir)["orders"]
    # exact distinct as a broadcast 1-row aggregate instead of a blocking
    # driver scalar (r11): one job, same exact count
    nd = o.agg(F.countDistinct("o_custkey").cast("bigint").alias("__nd"))
    est = sketches.hll_estimate(o, "o_custkey")
    return est.crossJoin(F.broadcast(nd)).select(
        F.lit("o_custkey").alias("col_name"),
        F.col("__nd").alias("exact_distinct"),
        "n_registers",
        "harmonic_scaled",
        "estimate",
        F.floor(
            F.lit(1e6) * F.abs(F.col("estimate") - F.col("__nd")) / F.col("__nd")
        ).cast("bigint").alias("err_ppm"),
    )


_CMS_W = sketches.CMS_WIDTH
_cms_cells = " UNION ALL ".join(
    "SELECT {j} AS rw, {h} % {w} AS cell,"
    " CAST(sum(exact_n) AS BIGINT) AS cnt FROM exact GROUP BY 1, 2".format(
        j=j, w=_CMS_W, h=_hash64_sql("'cms:%d:' || v" % j)
    )
    for j in range(sketches.CMS_DEPTH)
)
_cms_probes = " UNION ALL ".join(
    "SELECT l_suppkey AS key, {j} AS rw, {h} % {w} AS cell FROM topk".format(
        j=j, w=_CMS_W, h=_hash64_sql("'cms:%d:' || CAST(l_suppkey AS VARCHAR)" % j)
    )
    for j in range(sketches.CMS_DEPTH)
)


@query(oracle=_q(f"""
        WITH exact AS (SELECT CAST(l_suppkey AS VARCHAR) AS v, l_suppkey,
                              count(*) AS exact_n
                       FROM lineitem GROUP BY 1, 2),
        topk AS (SELECT l_suppkey, exact_n FROM exact
                 ORDER BY exact_n DESC, l_suppkey LIMIT 10),
        cells AS ({_cms_cells}),
        probes AS ({_cms_probes}),
        est AS (SELECT key, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_estimate
                FROM probes LEFT JOIN cells USING (rw, cell) GROUP BY key)
        SELECT t.l_suppkey, CAST(exact_n AS BIGINT) AS exact_n, cms_estimate,
               CAST(cms_estimate - exact_n AS BIGINT) AS over_count
        FROM topk t JOIN est ON est.key = t.l_suppkey
    """))
def sketch_cms(spark, sf_dir):
    """Count-Min frequency estimates for the 10 heaviest lineitem
    suppliers, next to their exact counts — the estimate is
    exact-or-over by construction and every cell is integer-reproducible.
    The sketch builds from the pre-aggregated per-supplier counts (one
    fact scan), not from raw rows per depth row."""
    li = catalog(spark, sf_dir)["lineitem"]
    exact = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("exact_n"))
    exact = exact.localCheckpoint(eager=True)  # feeds sketch cells + top-k
    topk = exact.orderBy(F.desc("exact_n"), "l_suppkey").limit(10)
    est = sketches.cms_estimates(
        exact, "l_suppkey", topk.select(F.col("l_suppkey").alias("key")),
        weight_col="exact_n",
    )
    return (
        topk.join(F.broadcast(est), topk.l_suppkey == est.key)
        .select(
            "l_suppkey",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_n")).cast("bigint").alias("over_count"),
        )
    )


HQ_PROBS = (50, 90, 99)


@query(oracle=_q("""
        WITH q AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS q FROM orders),
        st AS (SELECT min(q) AS lo, max(q) AS hi, count(*) AS n,
                      max(q) - min(q) + 1 AS span FROM q),
        b AS (SELECT least(127, greatest(0,
                 ((q - (SELECT lo FROM st)) * 128) // (SELECT span FROM st))) AS bucket
              FROM q),
        c AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket),
        cum AS (SELECT bucket, cnt,
                       coalesce(sum(cnt) OVER (ORDER BY bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                FROM c),
        p AS (SELECT unnest([50, 90, 99]) AS p_pct),
        probed AS (SELECT cum.*, p.p_pct,
                          (p.p_pct * (SELECT n FROM st) + 99) // 100 AS needed
                   FROM cum CROSS JOIN p),
        hit AS (SELECT * FROM probed WHERE cum_before + cnt >= needed
                QUALIFY row_number() OVER (PARTITION BY p_pct ORDER BY bucket) = 1),
        est AS (SELECT p_pct,
                       (SELECT lo FROM st) + (bucket * (SELECT span FROM st)) // 128
                       + ((needed - cum_before)
                          * (((bucket + 1) * (SELECT span FROM st)) // 128
                             - (bucket * (SELECT span FROM st)) // 128)) // cnt AS est_cents
                FROM hit),
        ex AS (SELECT 50 AS p_pct, quantile_cont(q, 0.50) AS exact_cents FROM q
               UNION ALL SELECT 90, quantile_cont(q, 0.90) FROM q
               UNION ALL SELECT 99, quantile_cont(q, 0.99) FROM q)
        SELECT CAST(est.p_pct AS BIGINT) AS p_pct,
               CAST(est_cents AS BIGINT) AS est_cents,
               CAST(exact_cents AS DOUBLE) AS exact_cents,
               CAST(floor(1e6 * abs(est_cents - exact_cents) / exact_cents) AS BIGINT)
                 AS err_ppm
        FROM est JOIN ex ON ex.p_pct = est.p_pct
    """))
def sketch_quantile(spark, sf_dir):
    """Histogram quantile sketch WITH self-evaluation: a 128-bucket exact
    integer histogram of order-price cents (mergeable state — bucket-wise
    sum, the distributed shape), integer-interpolated p50/p90/p99
    estimates, and the exact percentile + error ppm alongside — the
    approximate answer and its own correctness measurement in one result
    (the lsh_recall / minhash_est pattern).  At 100 TB the sketch path
    needs one partial-agg scan; the exact path (full sort) exists here
    only as the evaluation yardstick."""
    o = catalog(spark, sf_dir)["orders"]
    qc = F.round(F.col("o_totalprice") * 100).cast("bigint")
    lo, hi, n = o.agg(F.min(qc), F.max(qc), F.count(F.lit(1))).first()
    counts = sketches.hist_counts(o, "o_totalprice", int(lo), int(hi))
    est = sketches.hist_quantiles(spark, counts, int(lo), int(hi), int(n), HQ_PROBS)
    exact_row = o.select(qc.alias("__q")).agg(
        *[F.expr(f"percentile(__q, {p / 100.0})").alias(f"__p{p}") for p in HQ_PROBS]
    )
    ex = exact_row.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(p).cast("bigint").alias("p_pct"),
                    F.col(f"__p{p}").alias("exact_cents"),
                )
                for p in HQ_PROBS
            ])
        ).alias("__s")
    ).select("__s.*")
    return (
        est.join(F.broadcast(ex), "p_pct")
        .select(
            "p_pct",
            "est_cents",
            F.col("exact_cents").cast("double").alias("exact_cents"),
            F.floor(
                F.lit(1e6) * F.abs(F.col("est_cents") - F.col("exact_cents"))
                / F.col("exact_cents")
            ).cast("bigint").alias("err_ppm"),
        )
    )


_jsz_a = " UNION ALL ".join(
    "SELECT {j} AS rw, {h} % {w} AS cell, CAST(sum(n) AS BIGINT) AS cnt"
    " FROM oa GROUP BY 1, 2".format(
        j=j, w=_CMS_W, h=_hash64_sql("'jsz:%d:' || v" % j)
    )
    for j in range(sketches.CMS_DEPTH)
)
_jsz_b = " UNION ALL ".join(
    "SELECT {j} AS rw, {h} % {w} AS cell, CAST(sum(n) AS BIGINT) AS cnt"
    " FROM ob GROUP BY 1, 2".format(
        j=j, w=_CMS_W, h=_hash64_sql("'jsz:%d:' || v" % j)
    )
    for j in range(sketches.CMS_DEPTH)
)


@query(oracle=_q(f"""
        WITH oa AS (SELECT CAST(o_orderkey AS VARCHAR) AS v, o_orderkey AS k,
                           count(*) AS n FROM orders GROUP BY 1, 2),
        ob AS (SELECT CAST(l_orderkey AS VARCHAR) AS v, l_orderkey AS k,
                      count(*) AS n FROM lineitem GROUP BY 1, 2),
        ca AS ({_jsz_a}),
        cb AS ({_jsz_b}),
        tot AS (SELECT (SELECT sum(n) FROM oa) AS na, (SELECT sum(n) FROM ob) AS nb),
        ip AS (SELECT ca.rw, sum(ca.cnt * cb.cnt) AS ip
               FROM ca JOIN cb ON ca.rw = cb.rw AND ca.cell = cb.cell
               GROUP BY 1),
        corr AS (SELECT (ip * {sketches.CMS_WIDTH}
                         - (SELECT na FROM tot) * (SELECT nb FROM tot))
                        // {sketches.CMS_WIDTH - 1} AS c
                 FROM ip),
        med AS (SELECT list_sort(list(c)) AS cs FROM corr),
        est AS (SELECT CAST((cs[2] + cs[3]) // 2 AS BIGINT) AS est_join_rows FROM med),
        ex AS (SELECT CAST(sum(oa.n * ob.n) AS BIGINT) AS exact_join_rows
               FROM oa JOIN ob ON oa.k = ob.k)
        SELECT est_join_rows, exact_join_rows,
               CAST(floor(1e6 * abs(est_join_rows - exact_join_rows)
                          / exact_join_rows) AS BIGINT) AS err_ppm
        FROM est CROSS JOIN ex
    """))
def join_size_est(spark, sf_dir):
    """Join-cardinality estimation from Count-Min sketches — the classic
    planner aid: |A ⋈ B| on a key is the inner product of the two
    frequency vectors.  The raw sketched inner product carries a
    ``Σa·Σb/width`` collision term that swamps the signal when distinct
    keys ≫ width, so each depth row applies the AMS bias correction
    ``(ip·W − Σa·Σb) div (W−1)`` — exact integers — and the MEDIAN of
    the corrected rows is the estimate (min would re-bias a corrected,
    sign-symmetric error).  Self-evaluating: the exact join size (a
    per-key count join the planner can't afford at 100 TB) rides along
    with err_ppm.  The sketch path touches only two KB-sized cell
    tables + two row counts — shuffle sizing BEFORE paying for it."""
    c = catalog(spark, sf_dir)
    W = sketches.CMS_WIDTH
    # r11 (guide §5): the two table row counts used to be blocking .count()
    # driver round-trips feeding long literals — they ride as a broadcast
    # 1-row cross join now (same bigint product, two fewer serial jobs).
    nf = (
        c["orders"].agg(F.count(F.lit(1)).alias("__na"))
        .crossJoin(c["lineitem"].agg(F.count(F.lit(1)).alias("__nb")))
    )
    a = sketches.cms_cells(c["orders"].select("o_orderkey"), "o_orderkey", salt="jsz")
    b = sketches.cms_cells(c["lineitem"].select("l_orderkey"), "l_orderkey", salt="jsz")
    prod = (
        a.withColumnRenamed("cnt", "__ca")
        .join(b.withColumnRenamed("cnt", "__cb"), ["row", "cell"])
        .groupBy("row")
        .agg(F.sum(F.col("__ca") * F.col("__cb")).alias("__ip"))
        .crossJoin(F.broadcast(nf))
        .select(F.expr(f"(__ip * {W} - __na * __nb) div {W - 1}").alias("__corr"))
        .agg(F.sort_array(F.collect_list("__corr")).alias("__cs"))
        .select(
            F.expr("(element_at(__cs, 2) + element_at(__cs, 3)) div 2").alias(
                "est_join_rows"
            )
        )
    )
    ka = c["orders"].groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("__na"))
    kb = c["lineitem"].groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("__nb"))
    exact = (
        ka.join(kb, F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.sum(F.col("__na") * F.col("__nb")).alias("exact_join_rows"))
    )
    # two 1-row frames: tagged union + conditional agg (a literal-key
    # join would constant-fold to a nested-loop product — plan lint)
    both = prod.select(F.lit("e").alias("__t"), F.col("est_join_rows").alias("__v")).unionByName(
        exact.select(F.lit("x").alias("__t"), F.col("exact_join_rows").alias("__v"))
    )
    g = both.agg(
        F.max(F.when(F.col("__t") == "e", F.col("__v"))).alias("est_join_rows"),
        F.max(F.when(F.col("__t") == "x", F.col("__v"))).alias("exact_join_rows"),
    )
    return g.select(
        F.col("est_join_rows").cast("bigint").alias("est_join_rows"),
        F.col("exact_join_rows").cast("bigint").alias("exact_join_rows"),
        F.floor(
            F.lit(1e6)
            * F.abs(F.col("est_join_rows") - F.col("exact_join_rows"))
            / F.col("exact_join_rows")
        ).cast("bigint").alias("err_ppm"),
    )


DECONTAM_N = 4

_BLOOM_M = sketches.BLOOM_M
_bloom_bits = " UNION ALL ".join(
    "SELECT DISTINCT {h} % {m} AS bit FROM bs".format(
        m=_BLOOM_M, h=_hash64_sql("'bloom:%d:' || CAST(shingle AS VARCHAR)" % j)
    )
    for j in range(sketches.BLOOM_K)
)
_bloom_probes = " UNION ALL ".join(
    "SELECT doc_id, shingle, {h} % {m} AS bit FROM st WHERE doc_id % 97 != 0".format(
        m=_BLOOM_M, h=_hash64_sql("'bloom:%d:' || CAST(shingle AS VARCHAR)" % j)
    )
    for j in range(sketches.BLOOM_K)
)


@query(oracle=_q(f"""
        WITH st AS (SELECT DISTINCT doc_id, {_hash64_sql('s')} AS shingle FROM
               (SELECT doc_id, unnest({_shingles_sql('text', DECONTAM_N)}) AS s
                FROM documents)),
        bs AS (SELECT DISTINCT shingle FROM st WHERE doc_id % 97 = 0),
        bits AS (SELECT DISTINCT bit FROM ({_bloom_bits})),
        probes AS ({_bloom_probes}),
        cand AS (SELECT doc_id, shingle FROM probes
                 JOIN bits USING (bit) GROUP BY 1, 2
                 HAVING count(*) = {sketches.BLOOM_K}),
        nb AS (SELECT doc_id, count(*) AS n_bloom FROM cand GROUP BY 1),
        ne AS (SELECT doc_id, count(*) AS n_exact FROM st JOIN bs USING (shingle)
               WHERE doc_id % 97 != 0 GROUP BY 1),
        sz AS (SELECT doc_id, count(*) AS n_grams FROM st
               WHERE doc_id % 97 != 0 GROUP BY 1)
        SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
               CAST(n_bloom AS BIGINT) AS n_bloom,
               CAST(coalesce(n_exact, 0) AS BIGINT) AS n_exact,
               CAST(n_bloom - coalesce(n_exact, 0) AS BIGINT) AS bloom_fp
        FROM nb JOIN sz USING (doc_id) LEFT JOIN ne USING (doc_id)
    """))
def bloom_decontam(spark, sf_dir):
    """Bloom-prefiltered decontamination audit: the benchmark shingle set
    compresses to a KB-scale bloom bit table (vs broadcasting the full
    set — the 100 TB eval-overlap pre-filter), the corpus index probes it,
    and the report shows per flagged doc the candidate count next to the
    exact overlap — ``bloom_fp = n_bloom − n_exact ≥ 0`` makes the
    no-false-negative / bounded-false-positive contract a measured
    number."""
    docs = catalog(spark, sf_dir)["documents"]
    bench_sh = dedup.shingle_table(
        docs.where("doc_id % 97 = 0"), n=DECONTAM_N
    ).select("shingle").distinct().localCheckpoint(eager=True)  # bits + exact join
    corpus_st = dedup.shingle_table(
        docs.where("doc_id % 97 != 0"), n=DECONTAM_N
    ).localCheckpoint(eager=True)  # three consumers: sizes, bloom probe, exact join
    bits = sketches.bloom_bits(bench_sh, "shingle")
    n_bloom = (
        sketches.bloom_candidates(corpus_st, "shingle", bits)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bloom"))
    )
    n_exact = (
        corpus_st.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_exact"))
    )
    sizes = corpus_st.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (
        n_bloom.join(sizes, "doc_id")
        .join(n_exact, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_bloom").cast("bigint").alias("n_bloom"),
            F.coalesce(F.col("n_exact"), F.lit(0)).cast("bigint").alias("n_exact"),
            (F.col("n_bloom") - F.coalesce(F.col("n_exact"), F.lit(0)))
            .cast("bigint").alias("bloom_fp"),
        )
    )


@query(oracle=_q("""
        SELECT n_name AS supp_nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(round(sum(
                 CAST(l_extendedprice AS DECIMAL(18,6))
                   * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
                 - CAST(p_retailprice AS DECIMAL(18,6))
                   * CAST(l_quantity AS DECIMAL(18,6))
                   * CAST('0.1' AS DECIMAL(18,6))
               ), 2) AS DOUBLE) AS profit,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    """))
def q9_profit_nation(spark, sf_dir):
    """TPC-H Q9 shape: product-line profit by supplier nation and order
    year — a part-name LIKE filter broadcast into the fact, a
    two-measure DECIMAL expression (revenue − cost; cost synthesizes from
    retail price × quantity × an exact DECIMAL 0.1, this schema having no
    partsupp), and a two-key rollup.  The LIKE predicate prunes parts
    BEFORE the join, never scanning it on the fact side."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    parts = c["part"].where("p_name LIKE '%red%'").select("p_partkey", "p_retailprice")
    supp_nation = c["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    profit = (
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))
        - dec("p_retailprice") * dec("l_quantity") * F.lit("0.1").cast("decimal(18,6)")
    )
    j = (
        c["lineitem"]
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(c["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("sn_key"))
        .join(c["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        j.groupBy("supp_nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(F.sum(profit), 2).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "supp_nation",
            F.col("o_year").cast("int").alias("o_year"),
            "profit",
            F.col("n_items").cast("bigint").alias("n_items"),
        )
    )


@query(oracle=_q("""
        WITH m AS (SELECT DISTINCT o_custkey,
                          CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mm
                   FROM orders),
        isl AS (SELECT o_custkey, mm,
                       mm - row_number() OVER (PARTITION BY o_custkey ORDER BY mm) AS g
                FROM m),
        st AS (SELECT o_custkey, g, count(*) AS streak_months, min(mm) AS s
               FROM isl GROUP BY 1, 2),
        best AS (SELECT o_custkey, streak_months, s FROM st
                 QUALIFY row_number() OVER (PARTITION BY o_custkey
                                            ORDER BY streak_months DESC, s) = 1)
        SELECT o_custkey, streak_months,
               CAST(floor(s / 12e0) AS INTEGER) AS start_year,
               CAST(s % 12 AS INTEGER) AS start_month0
        FROM best
        ORDER BY streak_months DESC, o_custkey LIMIT 20
    """))
def customer_streaks(spark, sf_dir):
    """Gaps-and-islands: each customer's longest run of consecutive
    order months — the classic ``month_seq − row_number`` island grouping
    (all integers, customer-partitioned windows, TakeOrdered top-20)."""
    c = catalog(spark, sf_dir)
    months = (
        c["orders"]
        .select(
            "o_custkey",
            (F.year("o_orderdate") * F.lit(12) + F.month("o_orderdate")).alias("__m"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("__m")
    islands = months.withColumn("__isl", F.col("__m") - F.row_number().over(w))
    streaks = islands.groupBy("o_custkey", "__isl").agg(
        F.count(F.lit(1)).alias("streak_months"), F.min("__m").alias("__start")
    )
    wbest = Window.partitionBy("o_custkey").orderBy(
        F.desc("streak_months"), F.asc("__start")
    )
    best = streaks.withColumn("__r", F.row_number().over(wbest)).where("__r = 1")
    return (
        best.select(
            "o_custkey",
            F.col("streak_months").cast("bigint").alias("streak_months"),
            F.floor(F.col("__start") / F.lit(12)).cast("int").alias("start_year"),
            ((F.col("__start") % F.lit(12))).cast("int").alias("start_month0"),
        )
        .orderBy(F.desc("streak_months"), "o_custkey")
        .limit(20)
    )


SAMPLE_K = 25


@query(oracle=_q(f"""
        SELECT doc_id, source,
               {_hash64_sql("'sample:' || CAST(doc_id AS VARCHAR)")} AS h
        FROM documents
        ORDER BY h, doc_id LIMIT {SAMPLE_K}
    """))
def sample_bottomk(spark, sf_dir):
    """Deterministic uniform corpus sample via bottom-k hashing: the k
    documents with the smallest salted md5 hash — a uniform sample with
    NO RNG state (stable under partitioning, re-runs, and corpus append;
    two shards' samples merge by re-taking the k smallest — the classic
    KMV/bottom-k sketch property).  TakeOrdered, never a global sort."""
    d = catalog(spark, sf_dir)["documents"]
    from ..operators.hashing import hash64

    h = hash64(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "source", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(SAMPLE_K)
    )


WSAMPLE_K = 200


@query(oracle=f"""
WITH u AS (SELECT doc_id, n_chars,
                  {_hash64_sql("'ws:' || CAST(doc_id AS VARCHAR)")} % {1 << 30} AS u
           FROM documents),
p AS (SELECT doc_id, n_chars, (n_chars * {1 << 30}) // (u + 1) AS priority FROM u)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(priority AS BIGINT) AS priority
FROM p ORDER BY priority DESC, doc_id LIMIT {WSAMPLE_K}
""")
def weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (priority
    sampling, Duffield et al. — public): each document gets priority
    ``(weight · 2³⁰) div (hash(id) mod 2³⁰ + 1)`` — the integer analog
    of w/u — and the global top-k by priority is the sample, so
    inclusion probability scales with weight (here: document length, the
    token-budget-proportional choice) yet every run and every engine
    picks the IDENTICAL set.  No transcendentals (the classic
    u^(1/w) exponential keys need log), no RNG state.  Scale: a pure
    per-row map + TakeOrdered top-k — no full sort."""
    from ..operators.hashing import hash64

    d = catalog(spark, sf_dir)["documents"]
    u = hash64(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))) % F.lit(1 << 30)
    pri = F.expr(f"(n_chars * {1 << 30}) div (__u + 1)")
    ranked = (
        d.select("doc_id", "n_chars", u.alias("__u"))
        .select("doc_id", "n_chars", pri.alias("priority"))
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(WSAMPLE_K)
    )
    return ranked.select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"),
                         F.col("priority").cast("bigint").alias("priority"))


# incremental == recompute: the oracle is the STRAIGHT full aggregate
@query(oracle=_q("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS revenue,
               count(*) AS n_orders
        FROM orders GROUP BY 1, 2
    """))
def rollup_delta(spark, sf_dir):
    """Incremental view maintenance gated against full recompute: the
    per-(priority, status) revenue aggregate is maintained as BASE state
    (orders with o_orderkey % 10 != 0) plus a DELTA batch (the rest),
    merged by re-aggregating partial (sum, count) pairs — the additive
    merge every distributive aggregate supports.  The ORACLE is the
    straight full aggregate over all orders, so the gate proves
    incremental == recompute bit-for-bit (sums stay DECIMAL-exact).  At
    100 TB this is the only affordable shape: the delta is mini-batch
    sized and the merge touches |groups| rows, never the base fact."""
    o = catalog(spark, sf_dir)["orders"]
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731

    def part(df):
        return df.groupBy("o_orderpriority", "o_orderstatus").agg(
            F.sum(dec("o_totalprice")).alias("__s"), F.count(F.lit(1)).alias("__n")
        )

    base = part(o.where("o_orderkey % 10 != 0"))
    delta = part(o.where("o_orderkey % 10 = 0"))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.sum("__s").alias("__s"), F.sum("__n").alias("__n"))
    )
    return merged.select(
        "o_orderpriority",
        "o_orderstatus",
        F.round(F.col("__s"), 2).cast("double").alias("revenue"),
        F.col("__n").cast("bigint").alias("n_orders"),
    )


HLL_SPLIT_TS = "timestamp '1998-01-01'"


# HLL union/merge: three register chains (A, B, merged) + exacts
def _hll_regs(p: str, flt: str) -> str:
    return (
        "{p}h AS (SELECT {h} AS h FROM orders WHERE o_custkey IS NOT NULL"
        " AND {flt}), "
        "{p}b AS (SELECT h % {m} AS bucket, (h // {m}) % {two32} AS sfx FROM {p}h), "
        "{p}r AS (SELECT bucket, max({rho}) AS rho FROM {p}b GROUP BY 1)"
    ).format(
        p=p, flt=flt, m=_HLL_M, two32=1 << 32, rho=_hll_rho,
        h=_hash64_sql("'hll:' || CAST(o_custkey AS VARCHAR)"),
    )


def _hll_est_from(p: str, regs: str) -> str:
    return (
        "{p}f AS (SELECT coalesce(r.rho, 0) AS rho FROM"
        " (SELECT unnest(range(0, {m})) AS i) t"
        " LEFT JOIN {regs} r ON r.bucket = t.i), "
        "{p}s AS (SELECT CAST(sum(CAST(1 AS BIGINT) << ({sp} - rho)) AS BIGINT)"
        " AS hs FROM {p}f), "
        "{p}e AS (SELECT {est} AS estimate FROM {p}s)"
    ).format(p=p, regs=regs, m=_HLL_M, sp=sketches.HLL_SCALE_POW, est=_hll_est_sql)


_BEFORE_1998 = "o_orderdate < TIMESTAMP '1998-01-01'"
_FROM_1998 = "o_orderdate >= TIMESTAMP '1998-01-01'"


@query(oracle=_q(f"""
        WITH {_hll_regs("a", _BEFORE_1998)},
        {_hll_regs("b", _FROM_1998)},
        mr AS (SELECT bucket, max(rho) AS rho FROM
                 (SELECT * FROM ar UNION ALL SELECT * FROM br) GROUP BY 1),
        {_hll_est_from("ea", "ar")},
        {_hll_est_from("eb", "br")},
        {_hll_est_from("eu", "mr")},
        xa AS (SELECT count(DISTINCT o_custkey) AS n FROM orders WHERE {_BEFORE_1998}),
        xb AS (SELECT count(DISTINCT o_custkey) AS n FROM orders WHERE {_FROM_1998}),
        xu AS (SELECT count(DISTINCT o_custkey) AS n FROM orders)
        SELECT CAST(xa.n AS BIGINT) AS a_exact, eae.estimate AS a_est,
               CAST(xb.n AS BIGINT) AS b_exact, ebe.estimate AS b_est,
               CAST(xu.n AS BIGINT) AS union_exact, eue.estimate AS union_est,
               CAST(xa.n + xb.n - xu.n AS BIGINT) AS inter_exact,
               CAST(eae.estimate + ebe.estimate - eue.estimate AS BIGINT) AS inter_est,
               CAST(floor(1e6 * abs(eue.estimate - xu.n) / xu.n) AS BIGINT)
                 AS union_err_ppm
        FROM eae, ebe, eue, xa, xb, xu
    """))
def sketch_hll_union(spark, sf_dir):
    """HLL MERGEABILITY demo with a correctness gate: customer sets of
    two order-date halves sketched separately, union cardinality from the
    MERGED registers (register-wise max — the property that makes the
    sketch shard-distributable), intersection by inclusion–exclusion,
    every estimate next to its exact count.  One row."""
    o = catalog(spark, sf_dir)["orders"]
    a = o.where(f"o_orderdate < {HLL_SPLIT_TS}")
    b = o.where(f"o_orderdate >= {HLL_SPLIT_TS}")
    # the two half-corpus register builds are one-task scans of the
    # single-row-group orders fixture.  Overlapped, on 4-core local[4]
    # (sf0.1, 10 interleaved pairs): 1.68 s median, 2.12 s one after the
    # other, slower in 10 of 10 pairs.
    ra, rb = _concurrently(
        spark,
        lambda: sketches.hll_registers(a, "o_custkey").localCheckpoint(eager=True),
        lambda: sketches.hll_registers(b, "o_custkey").localCheckpoint(eager=True),
    )
    # tagged union + one-row conditional aggregate (a literal-key join of
    # single-row frames constant-folds into a nested loop — harmless at
    # one row, but the plan lint rightly has no way to know that)
    tag = lambda df, t: df.select(F.lit(t).alias("__t"), "estimate")  # noqa: E731
    ests = (
        tag(sketches.hll_estimate_from_registers(spark, ra), "a")
        .unionByName(tag(sketches.hll_estimate_from_registers(spark, rb), "b"))
        .unionByName(
            tag(
                sketches.hll_estimate_from_registers(spark, sketches.hll_merge(ra, rb)),
                "u",
            )
        )
        .agg(
            F.max(F.when(F.col("__t") == "a", F.col("estimate"))).alias("a_est"),
            F.max(F.when(F.col("__t") == "b", F.col("estimate"))).alias("b_est"),
            F.max(F.when(F.col("__t") == "u", F.col("estimate"))).alias("union_est"),
        )
    )
    # r11 (guide §1.2): the three exact counts fuse into ONE aggregation
    # job via conditional countDistinct (a NULL-when row never counts) —
    # identical values, two fewer serial driver actions.
    ex = o.agg(
        F.countDistinct(
            F.when(F.expr(f"o_orderdate < {HLL_SPLIT_TS}"), F.col("o_custkey"))
        ).alias("a"),
        F.countDistinct(
            F.when(F.expr(f"o_orderdate >= {HLL_SPLIT_TS}"), F.col("o_custkey"))
        ).alias("b"),
        F.countDistinct("o_custkey").alias("u"),
    ).collect()[0]
    na, nb, nu = int(ex["a"]), int(ex["b"]), int(ex["u"])
    return ests.select(
        F.lit(int(na)).cast("bigint").alias("a_exact"),
        "a_est",
        F.lit(int(nb)).cast("bigint").alias("b_exact"),
        "b_est",
        F.lit(int(nu)).cast("bigint").alias("union_exact"),
        "union_est",
        F.lit(int(na + nb - nu)).cast("bigint").alias("inter_exact"),
        (F.col("a_est") + F.col("b_est") - F.col("union_est")).alias("inter_est"),
        F.floor(
            F.lit(1e6) * F.abs(F.col("union_est") - F.lit(int(nu))) / F.lit(int(nu))
        ).cast("bigint").alias("union_err_ppm"),
    )


SLIDE_HOUR_US = 3_600_000_000

_P50 = 1 << sketches.HLL_SCALE_POW


@query(oracle=_q(f"""
        WITH b AS (SELECT (epoch_us(ts) // {SLIDE_HOUR_US}) * {SLIDE_HOUR_US} AS w,
                          user_id
                   FROM events WHERE user_id IS NOT NULL),
        hh AS (SELECT w, {_hash64_sql("'swin:' || CAST(user_id AS VARCHAR)")} AS h FROM b),
        rb AS (SELECT w, h % {_HLL_M} AS bucket, (h // {_HLL_M}) % {1 << 32} AS sfx FROM hh),
        r AS (SELECT w, bucket, max({_hll_rho}) AS rho FROM rb GROUP BY 1, 2),
        offs AS (SELECT unnest([0, 1, 2]) AS o),
        sl AS (SELECT w - o * {SLIDE_HOUR_US} AS win_start_us, bucket, rho
               FROM r CROSS JOIN offs),
        m AS (SELECT win_start_us, bucket, max(rho) AS rho FROM sl GROUP BY 1, 2),
        g AS (SELECT win_start_us,
                     CAST(sum(CAST(1 AS BIGINT) << ({sketches.HLL_SCALE_POW} - rho))
                          AS BIGINT)
                     + ({_HLL_M} - count(*)) * CAST({_P50} AS BIGINT) AS hs
              FROM m GROUP BY 1),
        est AS (SELECT win_start_us, hs, {_hll_est_sql} AS estimate FROM g),
        exd AS (SELECT win_start_us, count(*) AS nd FROM (
                  SELECT DISTINCT w - o * {SLIDE_HOUR_US} AS win_start_us, user_id
                  FROM (SELECT DISTINCT w, user_id FROM b) CROSS JOIN offs)
                GROUP BY 1)
        SELECT est.win_start_us,
               hs AS harmonic_scaled,
               estimate,
               CAST(nd AS BIGINT) AS exact_distinct,
               CAST(floor(1e6 * abs(estimate - nd) / nd) AS BIGINT) AS err_ppm
        FROM est JOIN exd ON exd.win_start_us = est.win_start_us
    """))
def events_sliding_distinct(spark, sf_dir):
    """Sliding-window distinct users via HLL register merge — THE sketch
    use case: exact distinct counts cannot be combined across windows
    (users recur), but registers can, so each tumbling hour is sketched
    ONCE and every 3-hour sliding window merges three register sets by
    max(ρ).  Self-evaluating: the exact sliding distinct (full re-count,
    the expensive path this replaces) rides along with err_ppm.  Scale:
    registers are 256 rows per hour regardless of traffic; the sliding
    merge shuffles |windows|·256 rows, never user ids."""
    e = catalog(spark, sf_dir)["events"]
    w = F.expr(f"(unix_micros(ts) div {SLIDE_HOUR_US}) * {SLIDE_HOUR_US}")
    base = e.select(w.alias("__w"), "user_id")
    regs = sketches.hll_registers_by(base, "user_id", ["__w"], salt="swin")
    offs = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("__o")
    slid = regs.select("__w", "bucket", "rho", offs).select(
        (F.col("__w") - F.col("__o") * F.lit(SLIDE_HOUR_US)).alias("win_start_us"),
        "bucket",
        "rho",
    )
    merged = slid.groupBy("win_start_us", "bucket").agg(F.max("rho").alias("rho"))
    est = sketches.hll_estimates_by(merged, ["win_start_us"])
    ex = (
        base.distinct()
        .select("__w", "user_id", offs)
        .select(
            (F.col("__w") - F.col("__o") * F.lit(SLIDE_HOUR_US)).alias("win_start_us"),
            "user_id",
        )
        .distinct()
        .groupBy("win_start_us")
        .agg(F.count(F.lit(1)).alias("exact_distinct"))
    )
    return est.join(ex, "win_start_us").select(
        "win_start_us",
        "harmonic_scaled",
        "estimate",
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        F.floor(
            F.lit(1e6) * F.abs(F.col("estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct")
        ).cast("bigint").alias("err_ppm"),
    )


@query(oracle=f"""
WITH vp AS ({_minhash_lsh_sql}),
{_minhash_cte(16, 3).lstrip()},
m AS (SELECT vp.id_a, vp.id_b, vp.jaccard,
             sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) AS nm
      FROM vp JOIN mh ma ON ma.doc_id = vp.id_a
              JOIN mh mb ON mb.doc_id = vp.id_b AND mb.j = ma.j
      GROUP BY 1, 2, 3)
SELECT id_a, id_b, jaccard,
       CAST(floor(1e6 * nm / 16) AS BIGINT) AS est_ppm,
       CAST(floor(1e6 * nm / 16) - floor(1e6 * jaccard) AS BIGINT) AS err_ppm
FROM m
""")
def minhash_est(spark, sf_dir):
    """MinHash self-evaluation: per verified LSH pair, the signature
    estimate of Jaccard (matching components / k, the quantity banding
    actually thresholds on) next to the exact value — the report that
    justifies a chosen k.  Signature agreement is a 16-element zip over
    the already-computed arrays; only verified pairs (tiny) reach it."""
    docs = catalog(spark, sf_dir)["documents"]
    pairs = minhash_lsh(spark, sf_dir)
    sigs = dedup.minhash_signatures(docs, k=16)
    j = (
        pairs.join(
            sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("__sa")), "id_a"
        )
        .join(sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("__sb")), "id_b")
    )
    nm = F.aggregate(
        F.zip_with("__sa", "__sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return j.select(
        "id_a",
        "id_b",
        "jaccard",
        F.floor(F.lit(1e6) * nm / F.lit(16)).cast("bigint").alias("est_ppm"),
        (
            F.floor(F.lit(1e6) * nm / F.lit(16)) - F.floor(F.lit(1e6) * F.col("jaccard"))
        ).cast("bigint").alias("err_ppm"),
    )


@query(oracle=_q("""
        WITH b AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS win_start_s,
                          event_type, count(*) AS n
                   FROM events GROUP BY 1, 2),
             m AS (SELECT event_type, quantile_cont(n, 0.5) AS med FROM b GROUP BY 1)
        SELECT win_start_s, event_type, n, CAST(med AS DOUBLE) AS med,
               CAST(floor(1e6 * abs(n - med) / med) AS BIGINT) AS dev_ppm
        FROM b JOIN m USING (event_type)
        WHERE floor(1e6 * abs(n - med) / med) > 500000
    """))
def events_anomaly(spark, sf_dir):
    """Volume-anomaly buckets: hourly per-type counts deviating from the
    type's median hour by more than ±50% (exact ppm deviation; the alert
    rule of an ops dashboard).  Median per type is an exact percentile
    over the |types|×|hours|-bounded bucket frame; the deviation filter
    is one broadcast join back."""
    e = catalog(spark, sf_dir)["events"]
    buckets = e.groupBy(
        F.expr("(unix_micros(ts) div 3600000000) * 3600").alias("win_start_s"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    buckets = buckets.localCheckpoint(eager=True)  # median + join back
    med = buckets.groupBy("event_type").agg(
        F.expr("percentile(n, 0.5)").alias("med")
    )
    dev = F.floor(F.lit(1e6) * F.abs(F.col("n") - F.col("med")) / F.col("med"))
    return (
        buckets.join(F.broadcast(med), "event_type")
        .select(
            "win_start_s",
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("med").cast("double").alias("med"),
            dev.cast("bigint").alias("dev_ppm"),
        )
        .where(F.col("dev_ppm") > 500_000)
    )


@query(oracle=_q("""
        WITH rev AS (SELECT n_name, s_suppkey,
                            sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                * (CAST(1 AS DECIMAL(18,6))
                                   - CAST(l_discount AS DECIMAL(18,6)))) AS r
                     FROM lineitem
                     JOIN supplier ON l_suppkey = s_suppkey
                     JOIN nation ON s_nationkey = n_nationkey
                     GROUP BY 1, 2),
             rk AS (SELECT n_name,
                           row_number() OVER w AS rk,
                           sum(r) OVER (w ROWS UNBOUNDED PRECEDING) AS cum,
                           sum(r) OVER (PARTITION BY n_name) AS tot,
                           count(*) OVER (PARTITION BY n_name) AS n
                    FROM rev
                    WINDOW w AS (PARTITION BY n_name ORDER BY r DESC, s_suppkey))
        SELECT n_name,
               CAST(min(rk) AS BIGINT) AS pareto_suppliers,
               CAST(max(n) AS BIGINT) AS n_suppliers,
               CAST(floor(1e6 * min(rk) / max(n)) AS BIGINT) AS concentration_ppm
        FROM rk
        WHERE CAST(5 AS DECIMAL(18,6)) * cum >= CAST(4 AS DECIMAL(18,6)) * tot
        GROUP BY n_name
    """))
def nation_pareto(spark, sf_dir):
    """Pareto concentration per nation: the smallest supplier set covering
    80% of the nation's revenue — cumulative DECIMAL window per nation
    (never global), the 80% cut as the exact integer comparison
    ``5·cum ≥ 4·total`` so no ratio ever rounds."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    rev = (
        c["lineitem"]
        .join(F.broadcast(c["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))).alias("_r"))
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("_r"), "s_suppkey")
    wall = Window.partitionBy("n_name")
    ranked = rev.select(
        "n_name",
        F.row_number().over(w).alias("_rk"),
        F.sum("_r").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("_cum"),
        F.sum("_r").over(wall).alias("_tot"),
        F.count(F.lit(1)).over(wall).alias("_n"),
    )
    return (
        ranked.where(F.lit(5).cast("decimal(18,6)") * F.col("_cum") >= F.lit(4).cast("decimal(18,6)") * F.col("_tot"))
        .groupBy("n_name")
        .agg(
            F.min("_rk").alias("pareto_suppliers"),
            F.max("_n").alias("n_suppliers"),
        )
        .select(
            "n_name",
            F.col("pareto_suppliers").cast("bigint").alias("pareto_suppliers"),
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            F.floor(F.lit(1e6) * F.col("pareto_suppliers") / F.col("n_suppliers"))
            .cast("bigint").alias("concentration_ppm"),
        )
    )


@query(oracle=_q(f"""
        WITH tf AS (SELECT doc_id, t, count(*) AS tf FROM
                      (SELECT doc_id, unnest({_toks_sql('text')}) AS t FROM documents)
                    WHERE t <> '' GROUP BY 1, 2),
             a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n,
                          count(*) AS n_distinct,
                          CAST(sum(tf * tf) AS BIGINT) AS s2
                   FROM tf GROUP BY 1)
        SELECT doc_id, n AS n_tokens, n_distinct,
               CAST(1000000 - floor(1e6 * s2 / (n * n)) AS BIGINT) AS gini_ppm
        FROM a
    """))
def token_gini(spark, sf_dir):
    """Per-document token diversity as Gini impurity
    ``1 − Σ(tf/n)²`` in exact ppm — the degenerate-text detector that
    needs NO logarithm (entropy would; Gini is rational, so the oracle is
    exact).  Low gini = few tokens dominate (spam/boilerplate)."""
    docs = catalog(spark, sf_dir)["documents"]
    tf = (
        docs.select("doc_id", F.explode(textops.tokens("text")).alias("t"))
        .where(F.col("t") != "")
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("_n"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(F.col("tf") * F.col("tf")).alias("_s2"),
        )
        .select(
            "doc_id",
            F.col("_n").cast("bigint").alias("n_tokens"),
            F.col("n_distinct").cast("bigint").alias("n_distinct"),
            (
                F.lit(1_000_000)
                - F.floor(F.lit(1e6) * F.col("_s2") / (F.col("_n") * F.col("_n")))
            ).cast("bigint").alias("gini_ppm"),
        )
    )


@query(oracle=_q("""
        WITH med AS (SELECT o_orderpriority,
                            quantile_cont(o_totalprice, 0.5) AS median_price,
                            count(*) AS n_orders
                     FROM orders GROUP BY 1),
             dev AS (SELECT o.o_orderpriority,
                            abs(o.o_totalprice - m.median_price) AS d
                     FROM orders o JOIN med m USING (o_orderpriority)),
             mad AS (SELECT o_orderpriority, quantile_cont(d, 0.5) AS mad
                     FROM dev GROUP BY 1)
        SELECT o_orderpriority, CAST(n_orders AS BIGINT) AS n_orders,
               CAST(median_price AS DOUBLE) AS median_price,
               CAST(mad AS DOUBLE) AS mad
        FROM med JOIN mad USING (o_orderpriority)
    """))
def orders_mad(spark, sf_dir):
    """Robust per-priority price statistics: exact median and median
    absolute deviation (MAD) — outlier-resistant where mean/stddev are
    not, and float-safe where stddev's sum-of-squares accumulation order
    would diverge cross-engine.  Two exact percentile passes (the same
    `percentile` ↔ `quantile_cont` parity the length-quantile operator
    pins); the group frame is |priorities|-bounded so the median join
    back broadcasts."""
    o = catalog(spark, sf_dir)["orders"]
    med = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    dev = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(F.col("o_totalprice") - F.col("median_price")).alias("__d"),
    )
    mad = dev.groupBy("o_orderpriority").agg(F.expr("percentile(__d, 0.5)").alias("mad"))
    return (
        med.join(F.broadcast(mad), "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("median_price").cast("double").alias("median_price"),
            F.col("mad").cast("double").alias("mad"),
        )
    )


@query(oracle=_q("""
        WITH b AS (SELECT l_returnflag,
                          CAST(round(l_quantity * 100) AS BIGINT) AS x,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS y
                   FROM lineitem),
             g AS (SELECT l_returnflag, count(*) AS n,
                          sum(x) AS sx, sum(y) AS sy,
                          sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
                   FROM b GROUP BY 1)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n_items,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS corr,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope_cents
        FROM g
    """))
def price_qty_corr(spark, sf_dir):
    """Pearson correlation + OLS slope of (quantity, price) per return
    flag, from EXACT integer moments: inputs quantize to cents
    (``round(x·100)`` — exact for 2-dp doubles), the six sufficient
    statistics (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as
    order-independent integer/DECIMAL sums, and only the final scalar
    formula runs in double — a fixed expression over identical exact
    inputs, so both engines round identically.  This is the cross-engine-
    safe alternative to built-in ``corr()``, whose float accumulation is
    partition-order-dependent.  Scale: one partial-aggregated groupBy —
    moments merge associatively, the 100 TB shape."""
    li = catalog(spark, sf_dir)["lineitem"]
    x = F.round(F.col("l_quantity") * 100).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    base = li.select("l_returnflag", x.alias("__x"), y.alias("__y"))
    g = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum((F.col("__x") * F.col("__y")).cast("decimal(38,0)")).alias("__sxy"),
        F.sum((F.col("__x") * F.col("__x")).cast("decimal(38,0)")).alias("__sxx"),
        F.sum((F.col("__y") * F.col("__y")).cast("decimal(38,0)")).alias("__syy"),
    )
    n, sx, sy = [F.col(c).cast("double") for c in ("__n", "__sx", "__sy")]
    sxy, sxx, syy = [F.col(c).cast("double") for c in ("__sxy", "__sxx", "__syy")]
    num = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return g.select(
        "l_returnflag",
        F.col("__n").cast("bigint").alias("n_items"),
        F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6).alias("corr"),
        F.round(num / vx, 6).alias("slope_cents"),
    )


@query(oracle=_q("""
        WITH daily AS (
          SELECT date_trunc('month', o_orderdate) AS m,
                 day(o_orderdate) AS d,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100) AS BIGINT) AS y
          FROM orders GROUP BY 1, 2),
        g AS (SELECT m, count(*) AS n, sum(d) AS sx, sum(y) AS sy,
                     sum(d * y) AS sxy, sum(d * d) AS sxx
              FROM daily GROUP BY 1 HAVING count(*) >= 2)
        SELECT epoch_us(m) AS month_us, CAST(n AS BIGINT) AS n_days,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS slope_cents_per_day
        FROM g
    """))
def revenue_trend(spark, sf_dir):
    """Per-month OLS slope of daily revenue over the day-of-month index —
    the monotone-drift detector for a rollup feed.  Daily revenue
    aggregates to exact cents FIRST (map-side combine collapses the fact
    table), then per-month moments over ≤31 (day, cents) points: Σy²
    goes through DECIMAL(38,0) because daily-cents squares overflow
    int64 at scale.  The slope formula runs in double over exact sums
    (same determinism argument as price_qty_corr)."""
    o = catalog(spark, sf_dir)["orders"]
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    daily = (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").alias("__m"),
            F.dayofmonth("o_orderdate").alias("__d"),
        )
        .agg(
            F.round(F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("__y")
        )
    )
    g = daily.groupBy("__m").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__d").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__d") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__d") * F.col("__d")).alias("__sxx"),
    )
    g = g.where(F.col("__n") >= 2)  # a single active day has zero x-variance
    n, sx, sy, sxy, sxx = [
        F.col(c).cast("double") for c in ("__n", "__sx", "__sy", "__sxy", "__sxx")
    ]
    return g.select(
        F.unix_micros(F.col("__m")).alias("month_us"),
        F.col("__n").cast("bigint").alias("n_days"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4).alias("slope_cents_per_day"),
    )


@query(oracle=_q("""
        WITH t AS (SELECT count(*) AS total FROM lineitem)
        SELECT l_orderkey, count(*) AS n_rows,
               CAST(floor(1e6 * count(*) / (SELECT total FROM t)) AS BIGINT) AS ppm
        FROM lineitem GROUP BY l_orderkey
        ORDER BY n_rows DESC, l_orderkey LIMIT 10
    """))
def lineitem_key_skew(spark, sf_dir):
    """Join-key skew diagnostic (`plans/scale.py::key_skew`): the top-10
    heaviest l_orderkey values with exact ppm shares — the number that
    decides whether `salted_join` is worth it."""
    from .scale import key_skew

    return key_skew(catalog(spark, sf_dir)["lineitem"], ["l_orderkey"], k=10)


BASKET_MIN_PAIR = 2


@query(oracle=_q(f"""
        WITH li AS (SELECT DISTINCT l_orderkey, p_brand
                    FROM lineitem JOIN part ON l_partkey = p_partkey),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
        marg AS (SELECT p_brand AS b, count(*) AS nb FROM li GROUP BY 1),
        pairs AS (
          SELECT a.p_brand AS brand_a, c.p_brand AS brand_b, count(*) AS n_ab
          FROM li a JOIN li c ON a.l_orderkey = c.l_orderkey
          WHERE a.p_brand < c.p_brand
          GROUP BY 1, 2 HAVING count(*) >= {BASKET_MIN_PAIR})
        SELECT brand_a, brand_b,
               CAST(n_ab AS BIGINT) AS n_ab,
               CAST(ma.nb AS BIGINT) AS n_a,
               CAST(mb.nb AS BIGINT) AS n_b,
               CAST(floor(1e6 * (CAST(n_ab AS DOUBLE) * CAST((SELECT n_orders FROM n) AS DOUBLE)
                    / (CAST(ma.nb AS DOUBLE) * CAST(mb.nb AS DOUBLE)))) AS BIGINT) AS lift_ppm
        FROM pairs
        JOIN marg ma ON ma.b = brand_a
        JOIN marg mb ON mb.b = brand_b
    """))
def basket_affinity(spark, sf_dir):
    """Market-basket affinity: part-brand pairs co-purchased within an
    order, with support counts and integer-ppm lift
    ``P(ab)/(P(a)·P(b))`` — the collocations operator applied to
    baskets instead of token windows.  Pair generation is a self-join
    WITHIN an order (bounded by basket size — C(k,2) pairs per order,
    never corpus-quadratic); lift's double division follows the
    mirrored-expression rule over exact integer counts."""
    c = catalog(spark, sf_dir)
    li = (
        c["lineitem"]
        .join(F.broadcast(c["part"].select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    li = li.localCheckpoint(eager=True)  # pair join + both marginals
    # basket count as a broadcast 1-row aggregate instead of a blocking
    # driver scalar (r11): one job, same exact count
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("__no"))
    marg = li.groupBy(F.col("p_brand").alias("__b")).agg(F.count(F.lit(1)).alias("__nb"))
    pairs = (
        li.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
        .join(
            li.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b")),
            "l_orderkey",
        )
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= BASKET_MIN_PAIR)
    )
    j = (
        pairs.join(F.broadcast(marg.withColumnRenamed("__b", "brand_a")
                               .withColumnRenamed("__nb", "__na")), "brand_a")
        .join(F.broadcast(marg.withColumnRenamed("__b", "brand_b")), "brand_b")
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (
        F.col("n_ab").cast("double") * F.col("__no").cast("double")
        / (F.col("__na").cast("double") * F.col("__nb").cast("double"))
    )
    return j.select(
        "brand_a",
        "brand_b",
        F.col("n_ab").cast("bigint").alias("n_ab"),
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        F.floor(F.lit(1e6) * lift).cast("bigint").alias("lift_ppm"),
    )


@query(oracle=_q("""
        WITH cu AS (SELECT c_nationkey AS nk, count(*) AS n_cust
                    FROM customer GROUP BY 1),
        su AS (SELECT s_nationkey AS nk, count(*) AS n_supp
               FROM supplier GROUP BY 1)
        SELECT coalesce(cu.nk, su.nk) AS nationkey,
               coalesce(n_cust, 0) AS n_cust,
               coalesce(n_supp, 0) AS n_supp
        FROM cu FULL OUTER JOIN su ON cu.nk = su.nk
    """))
def nation_participation(spark, sf_dir):
    """FULL OUTER join surface: per-nation customer and supplier counts
    merged so nations missing either side still appear (count coalesced
    to zero) — the reconciliation-report shape."""
    c = catalog(spark, sf_dir)
    cust = c["customer"].groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust"))
    supp = c["supplier"].groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_supp"))
    j = cust.join(supp, cust["c_nationkey"] == supp["s_nationkey"], "full_outer")
    return j.select(
        F.coalesce(cust["c_nationkey"], supp["s_nationkey"]).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).cast("bigint").alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).cast("bigint").alias("n_supp"),
    )


@query(oracle=_q("""
        SELECT o_custkey, o_orderkey,
               epoch_us(o_orderdate) AS o_date_us,
               CAST(row_number() OVER w AS BIGINT) AS order_seq,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w, 2)
                    AS DOUBLE) AS running_total
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """))
def orders_running_total(spark, sf_dir):
    """Cumulative ROWS-frame window (the running-balance shape): per
    customer, orders in (date, key) order with the running DECIMAL-exact
    total-price sum — complements the RANGE interval frame
    (`events_moving_avg`) with the unbounded-preceding family."""
    from pyspark.sql.window import Window

    c = catalog(spark, sf_dir)["orders"]
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return c.select(
        "o_custkey",
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_date_us"),
        F.row_number().over(w).cast("bigint").alias("order_seq"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).over(w), 2)
        .cast("double")
        .alias("running_total"),
    )


@query(oracle=_q("""
        SELECT CAST(floor(o_totalprice / 25000e0) AS BIGINT) AS bucket,
               CAST(floor(o_totalprice / 25000e0) AS BIGINT) * 25000 AS bucket_lo,
               count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS sum_price
        FROM orders GROUP BY 1, 2
    """))
def price_histogram(spark, sf_dir):
    """Fixed-width histogram of order totals: floor-division bucketing
    (width 25k) with DECIMAL-exact per-bucket sums — one
    map-side-combinable aggregation, the data-distribution report every
    profiling pass wants next to the quantiles."""
    c = catalog(spark, sf_dir)["orders"]
    bucket = F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("bigint")
    return (
        c.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            "bucket",
            (F.col("bucket") * F.lit(25000)).cast("bigint").alias("bucket_lo"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            "sum_price",
        )
    )


_ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority"]


@query(oracle=_q(" UNION ALL ".join(
    f"SELECT '{col}' AS column_name,"
    f" count(*) - count({col}) AS n_nulls,"
    f" CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct FROM orders"
    for col in _ORDERS_COLS
)))
def profile_orders(spark, sf_dir):
    """Data-profiling sweep: per-column null and distinct counts for the
    orders table in ONE aggregation pass (every count/countDistinct rides
    the same scan), unpivoted to a (column, n_nulls, n_distinct) report —
    the first query run against any newly-landed dataset."""
    c = catalog(spark, sf_dir)["orders"]
    aggs = []
    for col in c.columns:
        aggs.append((F.count(F.lit(1)) - F.count(col)).alias(f"__n_{col}"))
        aggs.append(F.countDistinct(col).alias(f"__d_{col}"))
    row = c.agg(*aggs)
    stack = ", ".join(f"'{col}', __n_{col}, __d_{col}" for col in c.columns)
    return row.select(
        F.expr(f"stack({len(c.columns)}, {stack}) AS (column_name, n_nulls, n_distinct)")
    ).select(
        "column_name",
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
    )


@query(oracle=_q("""
        SELECT c_custkey, c_mktsegment,
               CAST(ntile(10) OVER w AS BIGINT) AS decile,
               CAST(floor(1e6 * percent_rank() OVER w) AS BIGINT) AS pct_rank_fx,
               CAST(floor(1e6 * cume_dist() OVER w) AS BIGINT) AS cume_fx
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """))
def balance_deciles(spark, sf_dir):
    """Ranking-function family: ntile / percent_rank / cume_dist over one
    segment-partitioned, fully tie-broken window (never a global sort;
    percent_rank and cume_dist are integer ratios, so exact)."""
    from pyspark.sql.window import Window

    c = catalog(spark, sf_dir)["customer"]
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        # fixed-point floors, not round(…, 6): rank ratios land exactly on
        # decimal .5 boundaries where the engines' double rounding differs
        F.floor(F.lit(1e6) * F.percent_rank().over(w)).alias("pct_rank_fx"),
        F.floor(F.lit(1e6) * F.cume_dist().over(w)).alias("cume_fx"),
    )


@query(oracle=_q("""
        WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
        urgent AS (SELECT o_custkey AS c_custkey FROM orders
                   WHERE o_orderpriority = '1-URGENT')
        SELECT 'both' AS op, c_custkey FROM
          (SELECT c_custkey FROM rich INTERSECT SELECT c_custkey FROM urgent)
        UNION ALL
        SELECT 'only_rich' AS op, c_custkey FROM
          (SELECT c_custkey FROM rich EXCEPT SELECT c_custkey FROM urgent)
    """))
def customer_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT surfaces: customers holding the top balance
    band versus customers with urgent orders, tagged by which set
    operation produced them."""
    c = catalog(spark, sf_dir)
    rich = c["customer"].where("c_acctbal > 5000").select("c_custkey")
    urgent = (
        c["orders"].where("o_orderpriority = '1-URGENT'")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    both = rich.intersect(urgent).select(F.lit("both").alias("op"), "c_custkey")
    only_rich = rich.subtract(urgent).select(F.lit("only_rich").alias("op"), "c_custkey")
    return both.unionByName(only_rich)


@query(oracle=_q("""
        WITH dim AS (SELECT c_custkey, c_mktsegment AS segment,
                            CAST(0 AS BIGINT) AS valid_from,
                            CAST(NULL AS BIGINT) AS valid_to
                     FROM customer),
        ch AS (SELECT c_custkey, 'SEG-A' AS segment,
                      CAST(1000000 AS BIGINT) AS eff
               FROM customer WHERE c_custkey % 9 = 1
               UNION ALL
               SELECT c_custkey, 'SEG-B', CAST(2000000 AS BIGINT)
               FROM customer WHERE c_custkey % 27 = 1),
        new_rows AS (SELECT c_custkey, segment, eff AS valid_from,
                            lead(eff) OVER (PARTITION BY c_custkey ORDER BY eff)
                              AS valid_to
                     FROM ch),
        fc AS (SELECT c_custkey, min(eff) AS fe FROM ch GROUP BY 1),
        closed AS (SELECT d.c_custkey, d.segment, d.valid_from,
                          coalesce(fe, d.valid_to) AS valid_to
                   FROM dim d LEFT JOIN fc USING (c_custkey))
        SELECT * FROM closed UNION ALL SELECT * FROM new_rows
    """))
def customer_scd2(spark, sf_dir):
    """SCD type-2 gate (`operators/cdc.py::scd2_apply`): customers become
    a current-only dimension; every 9th key changes segment at t=1s and
    every 27th changes AGAIN at t=2s, so closing, chaining, and the new
    current row all fire.  Interval columns are BIGINT epoch-µs."""
    from ..operators import cdc

    c = catalog(spark, sf_dir)["customer"]
    dim = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("bigint").alias("valid_from"),
        F.lit(None).cast("bigint").alias("valid_to"),
    )
    ch1 = c.where("c_custkey % 9 = 1").select(
        "c_custkey", F.lit("SEG-A").alias("segment"),
        F.lit(1_000_000).cast("bigint").alias("eff"),
    )
    ch2 = c.where("c_custkey % 27 = 1").select(
        "c_custkey", F.lit("SEG-B").alias("segment"),
        F.lit(2_000_000).cast("bigint").alias("eff"),
    )
    return cdc.scd2_apply(dim, ch1.unionByName(ch2), ["c_custkey"], effective_col="eff")


@query(oracle=_q("""
        SELECT coalesce(n_name, 'ALL') AS nation,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                    * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2)
                    AS DOUBLE) AS revenue,
               count(*) AS n_lines,
               CAST(GROUPING(n_name, o_orderpriority) AS BIGINT) AS gid
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP(n_name, o_orderpriority)
    """))
def revenue_rollup(spark, sf_dir):
    """Multi-level aggregate in one pass: ROLLUP(nation, priority) emits
    leaf, per-nation subtotal, and grand-total rows with a grouping_id
    discriminator — Spark's partial-aggregating grouping-sets expansion,
    NOT three separate scans."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    # collapse the fact to order grain FIRST (~4:1 at TPC-H fanout): the
    # widest shuffle of the chain then moves one row per order instead of
    # one per line, and decimal partial sums re-aggregate exactly
    per_order = c["lineitem"].groupBy("l_orderkey").agg(
        F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))).alias("_orev"),
        F.count(F.lit(1)).alias("_olines"),
    )
    j = (
        per_order
        .join(c["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(c["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.rollup("n_name", "o_orderpriority")
        .agg(
            F.sum("_orev").alias("_rev"),
            F.sum("_olines").alias("n_lines"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.round(F.col("_rev"), 2).cast("double").alias("revenue"),
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.col("gid").cast("bigint").alias("gid"),
        )
    )


@query(oracle=_q("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS revenue,
               count(*) AS n_orders,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """))
def status_cube(spark, sf_dir):
    """CUBE(status, priority): all four grouping combinations in ONE
    partial-aggregating grouping-sets expansion — the cross-tab analog
    of revenue_rollup's hierarchy (ROLLUP emits 3 of the 4; CUBE adds
    the per-priority margin)."""
    o = catalog(spark, sf_dir)["orders"]
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum(dec("o_totalprice")).alias("_rev"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.round(F.col("_rev"), 2).cast("double").alias("revenue"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("gid").cast("bigint").alias("gid"),
        )
    )


PIVOT_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@query(oracle=_q("""
        SELECT o_orderstatus,
               CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS n_1,
               CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS n_2,
               CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS n_3,
               CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS n_4,
               CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS n_5
        FROM orders GROUP BY o_orderstatus
    """))
def status_pivot(spark, sf_dir):
    """Pivot: order counts per status × priority, priorities widened to
    columns (explicit value list, so the schema is static and the plan is
    ONE partial-aggregating pass — no per-value scans)."""
    c = catalog(spark, sf_dir)["orders"]
    piv = (
        c.groupBy("o_orderstatus")
        .pivot("o_orderpriority", PIVOT_PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    cols = [F.col("o_orderstatus")]
    for p in PIVOT_PRIORITIES:
        alias = "n_" + p.split("-")[0]
        cols.append(F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("bigint").alias(alias))
    return piv.select(*cols)


@query(oracle=_q("""
        WITH t AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
                 CAST(round(value * 1e6) AS BIGINT) AS vfx,
                 lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                          ORDER BY epoch_us(ts), event_id)
                   - epoch_us(ts) AS hold
          FROM events),
        h AS (SELECT * FROM t WHERE hold IS NOT NULL)
        SELECT user_id,
               count(*) AS n_held,
               CAST(sum(hold) AS BIGINT) AS span_us,
               CAST(floor(CAST(sum(CAST(vfx AS HUGEINT) * hold) AS DOUBLE)
                          / CAST(sum(hold) AS DOUBLE)) AS BIGINT) AS twa_fx
        FROM h GROUP BY user_id
    """))
def events_twa(spark, sf_dir):
    """Time-weighted average of the event value per user — the
    hypertable/timeseries statistic where plain avg() lies (irregular
    sampling: a value that HELD for an hour must weigh more than one
    that held a second).  Each value holds until the user's next event
    (lead window); weights are exact µs integers, values fix to ×1e6
    ints, and the single division of two exact int64 sums happens once
    per user — bit-identical cross-engine.  One window pass + one
    groupBy, both keyed by user."""
    from pyspark.sql import Window

    e = catalog(spark, sf_dir)["events"]
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy("__us", "event_id")
    t = e.select(
        "user_id", "event_id", us.alias("__us"),
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("__vfx"),
    ).withColumn("__hold", F.lead("__us").over(w) - F.col("__us"))
    held = t.where(F.col("__hold").isNotNull())
    # vfx·hold reaches ~1e21 for day-long holds — product and sum go
    # through DECIMAL (the oracle's hugeint), only the final division
    # drops to double over the two exact sums
    g = held.groupBy("user_id").agg(
        F.sum((F.col("__vfx").cast("decimal(20,0)") * F.col("__hold")).cast("decimal(38,0)"))
        .alias("__wsum"),
        F.sum("__hold").alias("__tspan"),
        F.count(F.lit(1)).alias("n_held"),
    )
    return g.select(
        "user_id",
        F.col("n_held").cast("bigint").alias("n_held"),
        F.col("__tspan").cast("bigint").alias("span_us"),
        F.floor(F.col("__wsum").cast("double") / F.col("__tspan").cast("double"))
        .cast("bigint").alias("twa_fx"),
    )


@query(oracle=_q("""
        WITH t AS (
          SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
                 epoch_us(ts) AS us, event_id,
                 CAST(round(value * 1e6) AS BIGINT) AS vfx
          FROM events),
        o_ AS (SELECT day_us, vfx AS open_fx FROM t
               QUALIFY row_number() OVER (PARTITION BY day_us ORDER BY us, event_id) = 1),
        c_ AS (SELECT day_us, vfx AS close_fx FROM t
               QUALIFY row_number() OVER (PARTITION BY day_us ORDER BY us DESC, event_id DESC) = 1),
        g AS (SELECT day_us, min(vfx) AS low_fx, max(vfx) AS high_fx,
                     count(*) AS n_events
              FROM t GROUP BY day_us)
        SELECT g.day_us, open_fx, high_fx, low_fx, close_fx, n_events
        FROM g JOIN o_ ON o_.day_us = g.day_us JOIN c_ ON c_.day_us = g.day_us
    """))
def events_ohlc(spark, sf_dir):
    """OHLC (candlestick) bars: per day, the first/last/min/max event
    value with struct-ordered deterministic open/close (min/max over
    (ts, event_id, value) structs — field-order comparison pins ties
    exactly, where arg_min/max semantics differ across engines).  One
    partial-aggregated groupBy; values fix to ×1e6 ints."""
    DAY_US = 86_400_000_000
    e = catalog(spark, sf_dir)["events"]
    day = F.expr(f"(unix_micros(ts) div {DAY_US}) * {DAY_US}")
    vfx = F.round(F.col("value") * 1_000_000).cast("bigint")
    t = e.select(
        day.alias("day_us"),
        F.unix_micros("ts").alias("__us"),
        F.col("event_id").alias("__eid"),
        vfx.alias("__vfx"),
    )
    s = F.struct("__us", "__eid", "__vfx")
    return (
        t.groupBy("day_us")
        .agg(
            F.min(s).alias("__first"),
            F.max(s).alias("__last"),
            F.min("__vfx").alias("low_fx"),
            F.max("__vfx").alias("high_fx"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "day_us",
            F.col("__first.__vfx").alias("open_fx"),
            F.col("high_fx"),
            F.col("low_fx"),
            F.col("__last.__vfx").alias("close_fx"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


@query(oracle=_q("""
        WITH t AS (SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
                          (epoch_us(ts) // 3600000000) % 24 AS hour
                   FROM events),
        tot AS (SELECT count(*) AS n FROM t)
        SELECT CAST(dow AS INTEGER) AS dow, CAST(hour AS INTEGER) AS hour,
               count(*) AS n,
               (count(*) * 1000000) // (SELECT n FROM tot) AS share_ppm
        FROM t GROUP BY 1, 2
    """))
def events_heatmap(spark, sf_dir):
    """Weekday×hour activity heatmap with traffic share — the dashboard
    staple.  Weekday and hour come from pure epoch arithmetic
    (``(day + 4) mod 7`` — 1970-01-01 was a Thursday — and
    ``hour mod 24``), never calendar/timezone functions whose locale
    rules two engines may disagree on.  Share is integer ppm against
    the driver-scalar total.  One partial-agg groupBy over ≤168 cells."""
    e = catalog(spark, sf_dir)["events"]
    # total as a broadcast 1-row aggregate instead of a blocking driver
    # scalar (r11, guide §1.2): one job instead of two serial ones;
    # identical integer arithmetic
    total = e.agg(F.count(F.lit(1)).cast("bigint").alias("__tot"))
    dow = F.expr("((unix_micros(ts) div 86400000000) + 4) % 7")
    hour = F.expr("(unix_micros(ts) div 3600000000) % 24")
    return (
        e.groupBy(dow.alias("dow"), hour.alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("dow").cast("int").alias("dow"),
            F.col("hour").cast("int").alias("hour"),
            F.col("n").cast("bigint").alias("n"),
            F.expr("(n * 1000000) div __tot").cast("bigint").alias("share_ppm"),
        )
    )


@query(oracle=_q("""
        WITH mx AS (SELECT max(epoch_us(o_orderdate)) AS mx FROM orders),
        g AS (SELECT o_custkey AS c_custkey,
                     max(epoch_us(o_orderdate)) AS last_us,
                     count(*) AS f,
                     CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100) AS BIGINT)
                       AS cents
              FROM orders GROUP BY 1)
        SELECT c_custkey,
               CAST(((SELECT mx FROM mx) - last_us) // 86400000000 AS BIGINT)
                 AS recency_days,
               CAST(f AS BIGINT) AS frequency,
               cents AS monetary_cents,
               CAST((4 - least(4, (((SELECT mx FROM mx) - last_us) // 86400000000) // 180)) * 100
                    + least(4, f // 2) * 10
                    + least(4, cents // 100000000) AS BIGINT) AS rfm_code
        FROM g
    """))
def customer_rfm(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary) with FIXED
    threshold bands — the no-global-sort rule again (quantile banding
    would need a full sort; fixed bands are the 100 TB form and keep a
    customer's band stable as others churn).  Recency anchors on the
    corpus' own max order date (driver scalar); monetary goes through
    DECIMAL cents; the composite code is ``r·100 + f·10 + m``."""
    o = catalog(spark, sf_dir)["orders"]
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    # corpus max order date as a broadcast 1-row aggregate instead of a
    # blocking driver scalar (r11): one job, identical integer arithmetic
    mx = o.agg(F.max(F.unix_micros("o_orderdate")).alias("__mx"))
    g = o.groupBy("o_custkey").agg(
        F.max(F.unix_micros("o_orderdate")).alias("__last"),
        F.count(F.lit(1)).alias("__f"),
        F.round(F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("__cents"),
    ).crossJoin(F.broadcast(mx))
    recency_days = F.expr("(__mx - __last) div 86400000000")
    r_band = F.lit(4) - F.expr("least(4, ((__mx - __last) div 86400000000) div 180)")
    f_band = F.expr("least(4, __f div 2)")
    m_band = F.expr("least(4, __cents div 100000000)")  # $1M-wide monetary bands
    return g.select(
        F.col("o_custkey").alias("c_custkey"),
        recency_days.cast("bigint").alias("recency_days"),
        F.col("__f").cast("bigint").alias("frequency"),
        F.col("__cents").alias("monetary_cents"),
        (r_band * 100 + f_band * 10 + m_band).cast("bigint").alias("rfm_code"),
    )


@query(oracle=_q("""
        WITH per AS (SELECT o_custkey,
                            CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100)
                                 AS BIGINT) AS cents
                     FROM orders GROUP BY 1),
        tot AS (SELECT sum(cents) AS t FROM per),
        r AS (SELECT o_custkey, cents,
                     sum(cents) OVER (ORDER BY cents DESC, o_custkey
                                      ROWS UNBOUNDED PRECEDING) AS cum
              FROM per),
        cls AS (SELECT CASE WHEN cum * 100 <= (SELECT t FROM tot) * 80 THEN 'A'
                            WHEN cum * 100 <= (SELECT t FROM tot) * 95 THEN 'B'
                            ELSE 'C' END AS abc_class,
                       cents
                FROM r)
        SELECT abc_class, count(*) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS revenue_cents,
               CAST((sum(cents) * 1000000) // (SELECT t FROM tot) AS BIGINT)
                 AS share_ppm
        FROM cls GROUP BY 1
    """))
def customer_abc(spark, sf_dir):
    """ABC revenue classification: customers sorted by revenue, classed
    A/B/C at the 80% / 95% cumulative-share breakpoints — inventory-
    analysis Pareto banding at the customer grain, with exact integer
    cents and ``cum·100 ≤ tot·80`` DECIMAL-free integer comparisons — no
    share division ever happens.

    Scale shape (two-pass, NO global window): the cumulative order is
    decomposed into revenue-range buckets (equal-depth boundaries from
    one `approxQuantile` over the checkpointed per-customer frame), the
    running sum runs per bucket, and each bucket's offset — the total of
    all higher-revenue buckets — is a ~|buckets|-row collect folded back
    as a literal map.  The cumulative value depends only on the global
    (revenue DESC, custkey ASC) order, so bucket boundaries are
    correctness-neutral; every partition sorts only its own slice even
    when the customer grain itself is cluster-sized."""
    from pyspark.sql import Window

    o = catalog(spark, sf_dir)["orders"]
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    per = o.groupBy("o_custkey").agg(
        F.round(F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("__cents")
    )
    per = per.localCheckpoint(eager=True)  # bounds + bucket sums + window
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    bounds = per.selectExpr("CAST(__cents AS DOUBLE) AS __k").approxQuantile(
        "__k", [i / n_parts for i in range(1, n_parts)], 0.01
    )
    bucket = functools.reduce(
        lambda acc, b: acc + F.when(F.col("__cents") < F.lit(b), 1).otherwise(0),
        sorted({b for b in bounds if b == b}),
        F.lit(0),
    )  # higher revenue -> fewer boundaries above -> LOWER bucket id
    bucketed = per.withColumn("__b", bucket)
    sums = {
        r["__b"]: r["__s"]
        for r in bucketed.groupBy("__b").agg(F.sum("__cents").alias("__s")).collect()
    }  # metadata-sized (<= n_parts rows)
    # the global total is the sum of the bucket sums already on the
    # driver — the former separate per.agg(sum) action computed the
    # identical exact integer (r11, one fewer serial job)
    tot = sum(sums.values())
    running, offsets = 0, {}
    for b in sorted(sums):
        offsets[b] = running
        running += sums[b]
    off_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]), F.col("__b")
    )
    w = (
        Window.partitionBy("__b")
        .orderBy(F.desc("__cents"), F.asc("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = bucketed.withColumn("__cum", F.sum("__cents").over(w) + off_expr)
    cls = (
        F.when(F.col("__cum") * 100 <= F.lit(int(tot)) * 80, F.lit("A"))
        .when(F.col("__cum") * 100 <= F.lit(int(tot)) * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return (
        ranked.select(cls.alias("abc_class"), "__cents")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("__cents").alias("__sum"),
        )
        .select(
            "abc_class",
            F.col("n_customers").cast("bigint").alias("n_customers"),
            F.col("__sum").cast("bigint").alias("revenue_cents"),
            F.expr(f"(__sum * 1000000) div {int(tot)}").cast("bigint").alias("share_ppm"),
        )
    )


@query(oracle=_q("""
        WITH upd AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority,
                 (o_orderkey % 13 = 0) AS del
          FROM orders WHERE o_orderkey % 7 = 0
          UNION ALL
          SELECT -o_orderkey - 1, o_custkey, o_orderstatus, o_totalprice,
                 o_orderdate, o_orderpriority, FALSE
          FROM orders WHERE o_orderkey % 11 = 3),
        kept AS (SELECT o.* FROM orders o
                 ANTI JOIN upd u ON o.o_orderkey = u.o_orderkey)
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               epoch_us(o_orderdate) AS o_date_us, o_orderpriority
        FROM kept
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               epoch_us(o_orderdate) AS o_date_us, o_orderpriority
        FROM upd WHERE NOT del
    """))
def orders_upsert(spark, sf_dir):
    """CDC merge gate (`operators/cdc.py::merge_upsert`): every 7th order
    key receives a doubled-price update, keys ≡ 3 (mod 11) spawn
    brand-new negative-key inserts, and the 7∩13 overlap (≡ 0 mod 91) is
    tombstoned — update-wins, insert, and delete semantics all fire in one
    gated result."""
    from ..operators import cdc

    c = catalog(spark, sf_dir)["orders"]
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    upd = c.where("o_orderkey % 7 = 0").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        "o_orderdate", "o_orderpriority",
        (F.col("o_orderkey") % 13 == 0).alias("__del"),
    )
    ins = c.where("o_orderkey % 11 = 3").select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", F.lit(False).alias("__del"),
    )
    merged = cdc.merge_upsert(c.select(*cols), upd.unionByName(ins),
                              ["o_orderkey"], delete_col="__del")
    return merged.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_date_us"),
        "o_orderpriority",
    )


_zorder_sql = " + ".join(
    f"(((__x >> {i}) & 1) << {2 * i}) + (((__y >> {i}) & 1) << {2 * i + 1})"
    for i in range(16)
)


@query(oracle=f"""
WITH b AS (SELECT CAST(o_custkey AS BIGINT) AS __x,
                  epoch_us(o_orderdate) // 86400000000 AS __y
           FROM orders),
z AS (SELECT __x, __y, CAST({_zorder_sql} AS BIGINT) AS __z FROM b),
st AS (SELECT min(__z) AS zmin, max(__z) - min(__z) + 1 AS span FROM z)
SELECT CAST(least(15, ((__z - (SELECT zmin FROM st)) * 16) // (SELECT span FROM st))
            AS BIGINT) AS file_id,
       count(*) AS n_rows,
       CAST(min(__x) AS BIGINT) AS x_min, CAST(max(__x) AS BIGINT) AS x_max,
       CAST(min(__y) AS BIGINT) AS y_min, CAST(max(__y) AS BIGINT) AS y_max
FROM z GROUP BY 1
""")
def zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering report: orders keyed by
    (custkey, order-day) interleave into a z key, split into 16 equal
    z-ranges ('files'), and each range reports min/max of BOTH
    dimensions — the data-skipping statistics a scan planner prunes
    with.  Unlike a single-column sort, ranges narrow on both axes at
    once (`plans/scale.py::zorder_file_stats`)."""
    from .scale import zorder_file_stats

    o = catalog(spark, sf_dir)["orders"].select(
        "o_custkey",
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("order_day"),
    )
    return zorder_file_stats(o, "o_custkey", "order_day")


@query(headline=False, oracle=_q("""
        SELECT o_orderpriority,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                   * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2)
                   AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """))
def salted_join_revenue(spark, sf_dir):
    """Skew-salted fact-to-dim join gated against the PLAIN join's oracle:
    `plans/scale.py::salted_join` must be result-identical by construction
    (the salt only changes partitioning), so the oracle is the unsalted
    SQL join — this pins the identity through the driver contract, not
    just the unit test."""
    from .scale import salted_join

    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    li = c["lineitem"].select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_discount"
    )
    od = c["orders"].select("o_orderkey", "o_orderpriority")
    j = salted_join(li, od, ["o_orderkey"], salt=8)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(oracle=_q("""
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """))
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way star join with broadcast dims → per-nation
    revenue."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    return (
        c["lineitem"]
        .join(c["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .where("o_orderdate >= timestamp '1996-01-01' AND o_orderdate < timestamp '1998-01-01'")
        .join(c["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(c["supplier"], (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(c["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(c["region"]).where("r_name = 'ASIA'"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - dec("l_discount"))).alias("_rev"))
        .select("n_name", F.round(F.col("_rev"), 2).cast("double").alias("revenue"))
    )


@query(oracle=_q("""
        SELECT o_custkey, o_orderkey, o_totalprice AS total,
               CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders WHERE o_custkey <= 200 QUALIFY rn <= 3
    """))
def window_top_orders(spark, sf_dir):
    """W1/O1: ranking window — top-3 orders per customer, deterministic
    tie-breaks."""
    o = catalog(spark, sf_dir)["orders"].where("o_custkey <= 200")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .where("rn <= 3")
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("total"), "rn")
    )


@query(oracle=_q("""
        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_s, event_type,
               count(*) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """))
def events_bucket_agg(spark, sf_dir):
    """Tumbling-window batch aggregation over the event stream table:
    5-minute buckets (epoch-second keys for engine-neutral output)."""
    e = catalog(spark, sf_dir)["events"]
    bucket = (F.floor(F.unix_timestamp("ts") / 300) * 300).cast("bigint")
    return (
        e.groupBy(bucket.alias("bucket_s"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4).alias("sum_value"),
        )
    )


# The streaming builders run the IDENTICAL plan under readStream (unified
# API; tests/test_streaming.py proves stream == batch across micro-batches)
# — gating their batch path here proves batch == oracle, closing the loop.
# Projections keep exact values only (counts, epoch seconds): double sums
# are order-dependent across engines and already gated decimal-exact by
# events_bucket_agg.
@query(oracle=_q("""
        SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_s,
               c_mktsegment AS segment, count(*) AS n
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """))
def stream_enrich(spark, sf_dir):
    """Stream-static enrichment (batch path): events joined to the
    customer dimension, hourly counts per market segment."""
    from ..streaming.events import enriched_segment_counts

    c = catalog(spark, sf_dir)
    return enriched_segment_counts(c["events"], c["customer"])


@query(headline=False, oracle=_q("""
        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS ws, event_type,
               count(*) AS n
        FROM events GROUP BY 1, 2
    """))
def stream_tumbling(spark, sf_dir):
    from ..streaming.events import tumbling_event_counts

    df = tumbling_event_counts(catalog(spark, sf_dir)["events"], window="5 minutes")
    return df.select(
        F.unix_timestamp("window_start").alias("ws"), "event_type", "n"
    )


# an event at t falls in the two 10-min windows starting at
# floor300(t) and floor300(t) - 300 (both are > t - 600 by definition)
@query(headline=False, oracle=_q("""
        SELECT ws, event_type, count(*) AS n FROM (
          SELECT unnest([CAST(floor(epoch(ts) / 300) * 300 AS BIGINT),
                         CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT)]) AS ws,
                 event_type
          FROM events)
        GROUP BY 1, 2
    """))
def stream_sliding(spark, sf_dir):
    from ..streaming.events import sliding_event_rates

    df = sliding_event_rates(
        catalog(spark, sf_dir)["events"], window="10 minutes", slide="5 minutes"
    )
    return df.select(
        F.unix_timestamp("window_start").alias("ws"), "event_type", "n"
    )


# session_window semantics: windows are [start, last_event + gap); a
# new event exactly at the previous end starts a NEW session (break on
# delta >= gap).  Gap math in MICROSECONDS (event times carry sub-second
# precision); the final ss/se truncate to epoch seconds exactly like the
# Spark wrapper's unix_timestamp
@query(headline=False, oracle=_q("""
        WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        s AS (
          SELECT user_id, t,
                 CASE WHEN lag(t) OVER w IS NULL
                           OR t - lag(t) OVER w >= 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        g AS (
          SELECT user_id, t,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM s)
        SELECT user_id, min(t) // 1000000 AS ss,
               (max(t) + 1800000000) // 1000000 AS se, count(*) AS n_events
        FROM g GROUP BY user_id, sid
    """))
def stream_session(spark, sf_dir):
    from ..streaming.events import sessionized_counts

    df = sessionized_counts(catalog(spark, sf_dir)["events"], gap="30 minutes")
    return df.select(
        "user_id",
        F.unix_timestamp("session_start").alias("ss"),
        F.unix_timestamp("session_end").alias("se"),
        "n_events",
    )


@query(headline=False, oracle=_q("""
        SELECT user_id, count(*) AS n_events,
               epoch_us(max(ts)) // 1000000 AS last_s
        FROM events GROUP BY user_id
    """))
def stream_user_state(spark, sf_dir):
    """Batch path of the applyInPandasWithState per-user running totals
    (the unified-API oracle the stream tests compare against)."""
    from ..streaming.events import user_activity_state

    df = user_activity_state(catalog(spark, sf_dir)["events"])
    return df.select(
        "user_id", "n_events", F.unix_timestamp("last_ts").alias("last_s")
    )


@query(oracle=_q("""
        SELECT event_id, user_id, event_type,
               epoch_us(ts) AS ts_us, value
        FROM events
    """))
def stream_dedup(spark, sf_dir):
    """Batch path of the streaming exactly-once dedup
    (`streaming/events.py::streaming_dedup`, dropDuplicatesWithinWatermark
    when streaming): the doubled event table collapses back to one row per
    event_id.  Duplicates are byte-identical, so the arbitrary-survivor
    semantics of dropDuplicates is still deterministic."""
    from ..streaming.events import streaming_dedup

    e = catalog(spark, sf_dir)["events"]
    d = streaming_dedup(e.unionByName(e))
    return d.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value",
    )


@query(headline=False, oracle=_q("""
        SELECT CAST(props->>'$.k' AS BIGINT) AS k, count(*) AS n FROM events GROUP BY 1
    """))
def events_json_extract(spark, sf_dir):
    """T17-adjacent data-plane JSON: extract a JSON field, aggregate."""
    e = catalog(spark, sf_dir)["events"]
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n"))


@query(oracle=_q("""
        WITH b AS (SELECT event_id, user_id,
                          epoch_us(ts) AS ts_us,
                          CAST(round(value * 1e6) AS BIGINT) AS fx
                   FROM events)
        SELECT event_id, user_id, ts_us,
               count(*) OVER w AS n_window,
               round(CAST(sum(fx) OVER w AS BIGINT)
                     / count(*) OVER w / 1e6, 4) AS avg_value_1h
        FROM b
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """))
def events_moving_avg(spark, sf_dir):
    """Per-user trailing one-hour moving average of event value — a RANGE
    interval window frame (peers by event-time seconds, so equal-ts ties
    are frame-complete and the result is deterministic).  Fixed-point
    micro-units keep the windowed sum exact cross-engine; partitioned by
    user, so no global window at any scale."""
    from pyspark.sql.window import Window

    e = catalog(spark, sf_dir)["events"]
    base = e.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * F.lit(1e6)).cast("bigint").alias("__fx"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-(3_600_000_000 - 1), 0)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.round(F.sum("__fx").over(w) / F.count(F.lit(1)).over(w) / F.lit(1e6), 4).alias(
            "avg_value_1h"
        ),
    )


_funnel_reached = " + ".join(
    f"(CASE WHEN t_{s} IS NOT NULL THEN 1 ELSE 0 END)" for s in FUNNEL_STAGES
)


@query(headline=False, oracle=_q(f"""
        WITH {_funnel_ctes}
        SELECT user_id, {_funnel_cols}, CAST({_funnel_reached} AS BIGINT) AS n_stages_reached
        FROM s0 {_funnel_joins}
    """))
def events_funnel(spark, sf_dir):
    """Strictly-sequential conversion funnel signup→view→click→purchase
    (per-user earliest stage times, epoch-µs)."""
    from ..operators.events import funnel

    return funnel(catalog(spark, sf_dir)["events"], FUNNEL_STAGES)


_events_sessionize_sql = _q("""
        WITH t AS (
          SELECT user_id, event_id, epoch_us(ts) AS us,
            CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                 THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        s AS (
          SELECT user_id, us,
            sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_id
          FROM t)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               count(*) AS n_events, min(us) AS start_us, max(us) AS end_us,
               max(us) - min(us) AS duration_us
        FROM s GROUP BY user_id, session_id
    """)


@query(headline=False, oracle=_events_sessionize_sql)
def events_sessionize(spark, sf_dir):
    """Gap-based batch sessionization (30-min gap), the batch analog of
    the streaming session window."""
    from ..operators.events import sessionize

    return sessionize(catalog(spark, sf_dir)["events"], gap_minutes=30)


# as-of via the same tagged-union running-last formulation the Spark
# operator uses (DuckDB's native ASOF JOIN leaves equal-timestamp
# tie-breaks unspecified; the window form pins them)
@query(oracle=_q("""
        WITH l AS (SELECT user_id, epoch_us(ts) AS us, 1 AS side,
                          event_id AS l_id, NULL::BIGINT AS r
                   FROM events WHERE event_type = 'purchase'),
        r AS (SELECT user_id, epoch_us(ts) AS us, 0 AS side,
                     NULL::BIGINT AS l_id, event_id AS r
              FROM events WHERE event_type = 'click'),
        u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        m AS (SELECT user_id, us, l_id,
                last_value(r IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY us, side, r
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
              FROM u)
        SELECT m.user_id, m.l_id AS purchase_id, m.us AS purchase_us,
               m.click_id, c.us AS click_us, m.us - c.us AS gap_us
        FROM m LEFT JOIN (SELECT event_id, epoch_us(ts) AS us FROM events
                          WHERE event_type = 'click') c
               ON m.click_id = c.event_id
        WHERE m.l_id IS NOT NULL
    """))
def events_asof(spark, sf_dir):
    """As-of join: each purchase matched to the user's latest
    prior-or-simultaneous click (tagged-union + running-last window —
    Spark's sort-merge reading of ASOF JOIN; one shuffle on user_id)."""
    from ..operators.events import asof_join

    e = catalog(spark, sf_dir)["events"]
    purchases = e.where(F.col("event_type") == "purchase")
    clicks = e.where(F.col("event_type") == "click")
    m = asof_join(purchases, clicks)
    click_ts = clicks.select(
        F.col("event_id").alias("r_id"), F.unix_micros("ts").alias("click_us")
    )
    # no broadcast hint: the right stream is corpus-sized at scale — AQE
    # picks broadcast when it actually fits
    return (
        m.join(click_ts, on="r_id", how="left")
        .select(
            "user_id",
            F.col("l_id").alias("purchase_id"),
            F.col("l_us").alias("purchase_us"),
            F.col("r_id").alias("click_id"),
            "click_us",
            (F.col("l_us") - F.col("click_us")).alias("gap_us"),
        )
    )


RANGE_JOIN_WINDOW_US = 600_000_000  # 10 minutes


@query(oracle=_q(f"""
        WITH a AS (SELECT user_id, event_id AS error_id, epoch_us(ts) AS a_us
                   FROM events WHERE event_type = 'error'),
        b AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS b_us
              FROM events WHERE event_type = 'purchase')
        SELECT a.user_id, error_id, purchase_id, b_us - a_us AS dt_us
        FROM a JOIN b USING (user_id)
        WHERE b_us >= a_us AND b_us - a_us <= {RANGE_JOIN_WINDOW_US}
    """))
def events_range_join(spark, sf_dir):
    """Bounded range join: every (error, purchase) pair of one user at
    most 10 minutes apart — interval-bucket equi-join decomposition (no
    inequality join, no per-user cross product)."""
    from ..operators.events import range_pairs

    e = catalog(spark, sf_dir)["events"]
    return range_pairs(
        e.where(F.col("event_type") == "error"),
        e.where(F.col("event_type") == "purchase"),
        window_us=RANGE_JOIN_WINDOW_US,
    ).select(
        "user_id",
        F.col("a_id").alias("error_id"),
        F.col("b_id").alias("purchase_id"),
        "dt_us",
    )


@query(oracle=_q("""
        WITH wk AS (SELECT DISTINCT user_id,
                      CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS wk
                    FROM events),
        first AS (SELECT user_id, min(wk) AS cohort FROM wk GROUP BY user_id)
        SELECT cohort AS cohort_week, wk - cohort AS week_offset,
               count(*) AS n_users
        FROM wk JOIN first USING (user_id)
        GROUP BY 1, 2
    """))
def events_retention(spark, sf_dir):
    """Weekly cohort retention triangle: distinct users per
    (first-activity week, week offset) — derives entirely from the
    distinct (user, week) frame, one fact scan."""
    from ..operators.events import retention_cohorts

    return retention_cohorts(catalog(spark, sf_dir)["events"])


PROMO_N = 10
PROMO_EVERY_US = 3 * 86_400_000_000
PROMO_LEN_US = 12 * 3_600_000_000


# the overlap join's oracle: the sessionize oracle verbatim as a CTE
# (drift-proof composition) + a naive inequality join — fine for the
# ORACLE, which runs on oracle-scale data; the Spark side must use
# the bucket-decomposed equi-join instead
@query(oracle=f"""
WITH sess AS ({_events_sessionize_sql}),
t0 AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
promos AS (SELECT p AS promo_id,
                  (SELECT t0 FROM t0) + p * {PROMO_EVERY_US} AS ps,
                  (SELECT t0 FROM t0) + p * {PROMO_EVERY_US} + {PROMO_LEN_US} AS pe
           FROM (SELECT unnest(range(0, {PROMO_N})) AS p))
SELECT user_id, session_id, CAST(promo_id AS BIGINT) AS promo_id,
       start_us, end_us,
       CAST(least(end_us, pe) - greatest(start_us, ps) AS BIGINT) AS overlap_us
FROM sess JOIN promos
  ON greatest(start_us, ps) <= least(end_us, pe)
""")
def sessions_promo_overlap(spark, sf_dir):
    """Interval×interval OVERLAP join (sessions vs promo windows) via
    bucket decomposition — the missing sibling of the point-in-interval
    range join: both sides explode to day buckets, candidates pair on a
    hash equi-join, the exact closed-interval predicate filters, and
    multi-bucket duplicates drop.  Promo windows are generated from the
    corpus' own min timestamp (driver scalar → spark.range — a leaf
    Range plan), so the query is self-contained and deterministic."""
    from ..operators.events import overlap_join, sessionize

    e = catalog(spark, sf_dir)["events"]
    sessions = sessionize(e)
    # r11 (guide §5): the corpus-min timestamp joins the promo spine as a
    # broadcast 1-row aggregate instead of a blocking .first() — identical
    # bigint arithmetic, one job instead of two serial ones.
    t0f = e.agg(F.min(F.unix_micros("ts")).alias("__t0"))
    promos = spark.range(PROMO_N).crossJoin(F.broadcast(t0f)).select(
        F.col("id").cast("bigint").alias("promo_id"),
        (F.col("__t0") + F.col("id") * F.lit(PROMO_EVERY_US)).alias("promo_start_us"),
        (F.col("__t0") + F.col("id") * F.lit(PROMO_EVERY_US) + F.lit(PROMO_LEN_US)).alias(
            "promo_end_us"
        ),
    )
    j = overlap_join(
        sessions.select("user_id", "session_id", "start_us", "end_us"),
        promos,
        left_cols=("start_us", "end_us"),
        right_cols=("promo_start_us", "promo_end_us"),
    )
    return j.select(
        "user_id", "session_id", "promo_id", "start_us", "end_us", "overlap_us"
    )


_DAY_US = 86_400_000_000


@query(oracle=f"""
WITH sess AS ({_events_sessionize_sql}),
days AS (SELECT start_us, end_us,
                unnest(range(start_us // {_DAY_US}, end_us // {_DAY_US} + 1)) AS d
         FROM sess),
cl AS (SELECT d * {_DAY_US} AS day_us,
              greatest(start_us, d * {_DAY_US}) AS s,
              least(end_us, (d + 1) * {_DAY_US} - 1) AS e
       FROM days),
del AS (SELECT day_us, s AS us, 1 AS delta FROM cl
        UNION ALL SELECT day_us, e + 1, -1 FROM cl),
run AS (SELECT day_us, delta,
               sum(delta) OVER (PARTITION BY day_us ORDER BY us, delta DESC
                                ROWS UNBOUNDED PRECEDING) AS c
        FROM del)
SELECT CAST(day_us AS BIGINT) AS day_us,
       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       CAST(max(c) AS BIGINT) AS peak_concurrency
FROM run GROUP BY day_us
""")
def session_concurrency(spark, sf_dir):
    """Per-day PEAK concurrent sessions — the capacity-planning number.
    Sessions decompose to the days they touch (the overlap-join bucket
    trick), each contributing +1 at its clamped start and −1 just after
    its clamped end; the running sum is windowed PER DAY (never a global
    ordering), with +1 sorted before −1 at equal timestamps so closed
    intervals meeting at a point count as overlapping.  Peak = max of
    the running sum.  All integer µs; the oracle embeds the sessionize
    oracle verbatim."""
    from pyspark.sql import Window

    from ..operators.events import sessionize

    DAY = 86_400_000_000
    s = sessionize(catalog(spark, sf_dir)["events"])
    days = s.select(
        "user_id",
        "session_id",
        "start_us",
        "end_us",
        F.explode(F.expr(f"sequence(start_us div {DAY}, end_us div {DAY})")).alias("__d"),
    )
    clamped = days.select(
        (F.col("__d") * DAY).alias("day_us"),
        F.greatest("start_us", F.col("__d") * DAY).alias("__s"),
        F.least("end_us", (F.col("__d") + 1) * DAY - 1).alias("__e"),
    )
    deltas = clamped.select(
        "day_us", F.col("__s").alias("__us"), F.lit(1).alias("__delta")
    ).unionByName(
        clamped.select("day_us", (F.col("__e") + 1).alias("__us"), F.lit(-1).alias("__delta"))
    )
    w = Window.partitionBy("day_us").orderBy(
        F.asc("__us"), F.desc("__delta")
    ).rowsBetween(Window.unboundedPreceding, 0)
    run = deltas.withColumn("__c", F.sum("__delta").over(w))
    return (
        run.groupBy("day_us")
        .agg(
            (F.sum(F.when(F.col("__delta") == 1, 1).otherwise(0))).alias("n_sessions"),
            F.max("__c").alias("peak_concurrency"),
        )
        .select(
            "day_us",
            F.col("n_sessions").cast("bigint").alias("n_sessions"),
            F.col("peak_concurrency").cast("bigint").alias("peak_concurrency"),
        )
    )


@query(oracle=_dedup_exact_sql)
def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(catalog(spark, sf_dir)["documents"], ["text"])


@query(oracle=_dedup_jaccard_sql)
def dedup_jaccard(spark, sf_dir):
    """Exact-verify n-gram Jaccard with the scale-safe posting-list cap.
    The oracle applies the IDENTICAL cap, so results are bit-equal by
    construction (both engines compute the same lower-bound jaccard);
    semantically the cap only drops pairs whose similarity rides on
    shingles shared by >1000 documents (operators/dedup.py recall
    contract)."""
    return dedup.ngram_jaccard_pairs(
        catalog(spark, sf_dir)["documents"], threshold=0.8, max_df=JACCARD_MAX_DF
    )


@query(oracle=_dedup_chunks_sql)
def dedup_chunks(spark, sf_dir):
    """Chunk-level (line-dedup analog) exact dedup bookkeeping: per doc,
    how many fixed-width token chunks it holds, how many are duplicates
    of an earlier (id, pos) occurrence corpus-wide, and the tokens that
    survive a rewrite."""
    return dedup.chunk_dedup_stats(
        catalog(spark, sf_dir)["documents"], chunk_tokens=CHUNK_TOKENS
    )


@query(oracle=_q(f"""
        WITH {_CHUNK_CTE},
        w AS (SELECT chunk_hash, min(pk) AS wpk FROM h GROUP BY chunk_hash)
        SELECT h.doc_id,
               coalesce(string_agg(CASE WHEN pk = wpk THEN chunk END, ' ' ORDER BY pos), '') AS text,
               CAST(sum(CASE WHEN pk <> wpk THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM h JOIN w USING (chunk_hash) GROUP BY h.doc_id
    """))
def dedup_rewrite(spark, sf_dir):
    """The rewrite half of line/chunk dedup: document text with duplicate
    chunks removed (first occurrence survives), plus the drop count."""
    return dedup.chunk_dedup_rewrite(
        catalog(spark, sf_dir)["documents"], chunk_tokens=CHUNK_TOKENS
    )


@query(oracle=_q(f"""
        WITH {_CHUNK_CTE}
        SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_occurrences, min(doc_id) AS first_doc
        FROM h GROUP BY chunk_hash
        HAVING count(DISTINCT doc_id) >= 2
        ORDER BY n_docs DESC, n_occurrences DESC, chunk_hash
        LIMIT 20
    """))
def boilerplate(spark, sf_dir):
    """Boilerplate detection: the 20 chunks shared by the most documents
    (deterministic n_docs/n_occurrences/hash ordering; TakeOrdered top-k,
    no global sort)."""
    return dedup.boilerplate_chunks(
        catalog(spark, sf_dir)["documents"], chunk_tokens=CHUNK_TOKENS
    )


@query(oracle=_q("""
        SELECT source, count(*) AS n_docs,
               round(quantile_cont(length(text), 0.5), 4) AS p50_chars,
               round(quantile_cont(length(text), 0.9), 4) AS p90_chars,
               round(quantile_cont(length(text), 0.99), 4) AS p99_chars
        FROM documents GROUP BY source
    """))
def length_quantiles(spark, sf_dir):
    """Per-source length percentiles (exact percentile; the curation
    threshold-setting statistic — approx_percentile is the same-schema
    100 TB path)."""
    return textops.length_quantiles(catalog(spark, sf_dir)["documents"])


CHUNK_WIN, CHUNK_STRIDE = 32, 24

_win, _stride = CHUNK_WIN, CHUNK_STRIDE


@query(oracle=f"""
WITH t AS (
  SELECT doc_id, {_toks_sql('text')} AS toks, {_ntok_sql('text')} AS nt
  FROM documents WHERE {_norm_sql('text')} <> ''),
w AS (
  SELECT doc_id, toks,
         unnest(range(0, 1 + ((greatest(nt - {_win}, 0) + {_stride - 1}) // {_stride}))) AS chunk_idx
  FROM t),
c AS (
  SELECT doc_id, chunk_idx,
         list_slice(toks, chunk_idx * {_stride} + 1, chunk_idx * {_stride} + {_win}) AS ch
  FROM w)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(ch) AS BIGINT) AS n_tokens,
       {_hash64_sql("array_to_string(ch, ' ')")} AS chunk_hash
FROM c
""")
def chunk_windows(spark, sf_dir):
    """Sliding token-window chunking (RAG passage granularity): overlapping
    32-token windows advancing by 24, last window keeps the remainder,
    empty docs yield nothing — a pure codegen sequence+explode, no shuffle
    (see operators/text.py::token_windows for the scale argument)."""
    return textops.token_windows(
        catalog(spark, sf_dir)["documents"], window=CHUNK_WIN, stride=CHUNK_STRIDE
    )


CHAR_NGRAM_N = 4

_char_n = CHAR_NGRAM_N


@query(oracle=f"""
WITH t AS (SELECT doc_id, {_norm_sql('text')} AS nrm FROM documents
           WHERE length({_norm_sql('text')}) >= {_char_n}),
g AS (SELECT doc_id, length(nrm) AS len,
             list_transform(range(1, length(nrm) - {_char_n - 1} + 1),
                            i -> substr(nrm, CAST(i AS INT), {_char_n})) AS gr
      FROM t)
SELECT doc_id,
       CAST(len - {_char_n - 1} AS BIGINT) AS n_grams,
       CAST(len(list_distinct(gr)) AS BIGINT) AS n_distinct,
       CAST((len(list_distinct(gr)) * 1000000) // (len - {_char_n - 1}) AS BIGINT)
         AS diversity_ppm
FROM g
""")
def char_diversity(spark, sf_dir):
    """Character 4-gram diversity — the compressibility proxy (LZ-style
    compressors exploit repeated substrings, so distinct-grams/total-
    grams tracks compression ratio without a codec in the loop): the
    char-level complement of the token-level repetition metrics.
    Computed with materialized-once substring tables (the HOF
    re-evaluation rule), pure codegen, no shuffle beyond the per-doc
    row."""
    d = catalog(spark, sf_dir)["documents"]
    n = CHAR_NGRAM_N
    t = d.select(
        "doc_id", textops.normalize(F.col("text")).alias("__n")
    ).where(F.length("__n") >= n)
    grams = F.expr(
        f"transform(sequence(1, length(__n) - {n - 1}), i -> substring(__n, i, {n}))"
    )
    t = t.select("doc_id", F.length("__n").alias("__len"), grams.alias("__g"))
    return t.select(
        "doc_id",
        (F.col("__len") - F.lit(n - 1)).cast("bigint").alias("n_grams"),
        F.size(F.array_distinct("__g")).cast("bigint").alias("n_distinct"),
        F.expr(f"(size(array_distinct(__g)) * 1000000) div (__len - {n - 1})")
        .cast("bigint").alias("diversity_ppm"),
    )


@query(oracle=_dedup_containment_sql)
def dedup_containment(spark, sf_dir):
    """Near-subset duplicates: shared/min-size ≥ 0.9 — the asymmetric
    (quotation/repost) duplicates Jaccard structurally under-scores."""
    return dedup.ngram_containment_pairs(
        catalog(spark, sf_dir)["documents"],
        threshold=CONTAINMENT_THRESHOLD,
        max_df=JACCARD_MAX_DF,
    )


@query(oracle=f"""
WITH b AS (SELECT doc_id, {_norm_sql('text')} AS nrm FROM documents
           WHERE {_norm_sql('text')} <> ''),
kt AS (SELECT doc_id, substr(nrm, 1, 40) AS pfx, str_split(nrm, ' ')[1] AS blk FROM b),
ok AS (SELECT blk FROM kt GROUP BY blk HAVING count(*) > 1 AND count(*) <= 50),
kk AS (SELECT kt.* FROM kt JOIN ok USING (blk))
SELECT a.doc_id AS id_a, c.doc_id AS id_b,
       CAST(levenshtein(a.pfx, c.pfx) AS BIGINT) AS dist
FROM kk a JOIN kk c USING (blk)
WHERE a.doc_id < c.doc_id AND levenshtein(a.pfx, c.pfx) <= 2
""")
def fuzzy_typo_pairs(spark, sf_dir):
    """Blocked edit-distance matching: typo/OCR-noise duplicate pairs
    that shingle-set methods structurally miss (one typo perturbs n
    shingles but moves levenshtein by 1).  First-token blocking with a
    max_block cap (the max_df analog), distance only on candidate
    40-char prefixes."""
    return dedup.fuzzy_pairs(catalog(spark, sf_dir)["documents"])


@query(headline=False, oracle=f"WITH {_minhash_cte(16, 3)} SELECT doc_id, j, minhash FROM mh")
def minhash_sigs(spark, sf_dir):
    """MinHash signatures, exploded to scalar rows (doc_id, j, minhash)."""
    sigs = dedup.minhash_signatures(catalog(spark, sf_dir)["documents"], k=16)
    return sigs.select("doc_id", F.posexplode("sig").alias("j", "minhash")).select(
        "doc_id", F.col("j").cast("bigint").alias("j"), "minhash"
    )


_LSH_PAIRS: dict = {}


@query(oracle=_minhash_lsh_sql)
def minhash_lsh(spark, sf_dir):
    """Memoized like the traversals (_subset): the clustering query
    consumes these pairs, as a real dedup pipeline would."""
    with _MEMO_LOCK:
        if sf_dir not in _LSH_PAIRS:
            _LSH_PAIRS[sf_dir] = dedup.minhash_lsh_pairs(
                catalog(spark, sf_dir)["documents"], k=16, bands=4,
                threshold=0.5
            ).persist()
        return _LSH_PAIRS[sf_dir]


# incremental probe: identical signature/shingle CTEs, asymmetric
# candidate join — every 5th doc is the "arriving batch", rest corpus
_dedup_incremental_sql = f"""
WITH {_minhash_cte(16, 3)},
bands AS (
  SELECT doc_id, j // 4 AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j)) AS band_hash
  FROM mh GROUP BY doc_id, j // 4),
cands AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
  FROM bands a JOIN bands b USING (band, band_hash)
  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT new_id, corpus_id, count(*) AS shared
  FROM cands JOIN sh a ON a.doc_id = new_id JOIN sh b ON b.doc_id = corpus_id
  WHERE a.shingle = b.shingle GROUP BY 1, 2)
SELECT new_id, corpus_id, round(shared / (sa.n + sb.n - shared), 6) AS jaccard
FROM shared JOIN sizes sa ON sa.doc_id = new_id JOIN sizes sb ON sb.doc_id = corpus_id
WHERE round(shared / (sa.n + sb.n - shared), 6) >= 0.5
"""


@query(oracle=_dedup_incremental_sql)
def dedup_incremental(spark, sf_dir):
    """Continuous-ingestion regime: an arriving batch (every 5th doc_id)
    probed against the standing corpus (the rest) — asymmetric LSH, only
    new×corpus candidates (`operators/dedup.py::incremental_lsh_pairs`)."""
    docs = catalog(spark, sf_dir)["documents"]
    return dedup.incremental_lsh_pairs(
        docs.where(F.col("doc_id") % 5 == 0),
        docs.where(F.col("doc_id") % 5 != 0),
        k=16,
        bands=4,
        threshold=0.5,
    )


# feature hashing: signed token routing, long-form vectors
@query(oracle=_q(f"""
        WITH tok AS (SELECT doc_id, t FROM
                       (SELECT doc_id, unnest({_toks_sql('text')}) AS t FROM documents)
                     WHERE t != ''),
        h AS (SELECT doc_id, {_hash64_sql('t')} AS h FROM tok)
        SELECT doc_id, h % 64 AS dim_idx,
               CAST(sum(CASE WHEN (h // 4294967296) % 2 = 1 THEN 1 ELSE -1 END)
                    AS BIGINT) AS weight
        FROM h GROUP BY doc_id, h % 64
    """))
def feature_hash(spark, sf_dir):
    """Feature-hashing document vectors in verifiable long form
    (`operators/text.py::feature_hash_table`, dim=64, signed hashing
    trick)."""
    return textops.feature_hash_table(catalog(spark, sf_dir)["documents"], dim=64)


# banding self-evaluation: exact pairs at the LSH threshold vs the
# verified LSH pairs (reused verbatim as a subquery)
@query(oracle=f"""
WITH {_SHINGLE_CTE.format(sh=_shingles_sql('text', 3), h=_hash64_sql('s'))},
keep AS (SELECT shingle FROM st GROUP BY shingle
         HAVING count(*) > 1 AND count(*) <= {JACCARD_MAX_DF}),
p AS (SELECT st.* FROM st JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM st GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM p a JOIN p b USING (shingle) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2),
exact AS (
  SELECT id_a, id_b
  FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(shared / (sa.n + sb.n - shared), 6) >= 0.5),
lsh AS (SELECT id_a, id_b FROM ({_minhash_lsh_sql})),
c AS (SELECT count(*) AS n_common FROM exact JOIN lsh USING (id_a, id_b))
SELECT (SELECT count(*) FROM exact) AS n_exact,
       (SELECT count(*) FROM lsh) AS n_lsh,
       (SELECT count(*) FROM exact) - n_common AS n_missed,
       CASE WHEN (SELECT count(*) FROM exact) = 0 THEN 1000000
            ELSE 1000000 * n_common // (SELECT count(*) FROM exact) END AS recall_ppm
FROM c
""")
def lsh_recall(spark, sf_dir):
    """Banding self-evaluation (`operators/dedup.py::lsh_recall_report`):
    exact posting-list Jaccard pairs at 0.5 vs the k=16/b=4 MinHash
    pipeline's verified pairs — the recall number a production run
    publishes next to its banding config."""
    return dedup.lsh_recall_report(
        catalog(spark, sf_dir)["documents"],
        threshold=0.5,
        k=16,
        bands=4,
        max_df=JACCARD_MAX_DF,
    )


# components via WITH RECURSIVE: rep(id) = min id reachable from id
# over the (undirected) near-dup pair edges
@query(oracle=f"""
WITH RECURSIVE lsh_pairs AS ({_minhash_lsh_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM lsh_pairs
  UNION ALL SELECT id_b, id_a FROM lsh_pairs),
reach AS (
  SELECT src AS id, src AS r FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
SELECT id AS doc_id, min(r) AS rep_id FROM reach GROUP BY id
""")
def dedup_clusters(spark, sf_dir):
    """End of the fuzzy-dedup pipeline: MinHash-LSH pairs → connected
    components → (doc_id, rep_id) canonical-survivor mapping."""
    cc = dedup.connected_components(minhash_lsh(spark, sf_dir))
    return cc.select(F.col("id").alias("doc_id"), F.col("rep").alias("rep_id"))


@query(oracle=_simhash_oracle(2, 32))
def simhash_sigs(spark, sf_dir):
    return dedup.simhash_signatures(catalog(spark, sf_dir)["documents"], n=2, bits=32)


@query(oracle=_simhash_pairs_sql)
def simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: pigeonhole band join + bit_count(xor) verify."""
    df = dedup.simhash_near_pairs(
        catalog(spark, sf_dir)["documents"], max_hamming=3, n=2, bits=32, bands=4
    )
    return df.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


@query(oracle=f"""
WITH t AS (SELECT doc_id, {_toks_sql('text')} AS toks FROM documents),
h AS (SELECT doc_id,
        list_transform(range(1, greatest(len(toks) - 4, 1) + 1),
          i -> {_hash64_sql("array_to_string(list_slice(toks, i, i + 4), ' ')")}) AS hashes
      FROM t WHERE len(toks) > 0),
w AS (SELECT doc_id,
        list_distinct(list_transform(range(1, greatest(len(hashes) - 7, 1) + 1),
          i -> list_min(list_slice(hashes, i, i + 7)))) AS fps
      FROM h)
SELECT DISTINCT doc_id, unnest(fps) AS fingerprint FROM w
""")
def doc_fingerprints(spark, sf_dir):
    return textops.fingerprints(catalog(spark, sf_dir)["documents"], k=5, window=8)


@query(oracle=_q(f"""
        SELECT doc_id,
          CAST({_ntok_sql('text')} AS BIGINT) AS n_tokens,
          CAST(len(list_distinct({_toks_sql('text')})) AS BIGINT) AS n_distinct_tokens,
          round(length(regexp_replace({_norm_sql('text')}, ' ', '', 'g'))
                / greatest({_ntok_sql('text')}, 1), 4) AS mean_token_len
        FROM documents
    """))
def token_stats(spark, sf_dir):
    df = textops.word_token_stats(catalog(spark, sf_dir)["documents"])
    return df.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("bigint").alias("n_distinct_tokens"),
        "mean_token_len",
    )


_bpe_pat = textops.BPE_PATTERN.replace("'", "''")


@query(oracle=_q(f"""
        WITH t AS (
          SELECT doc_id, length(text) AS lc,
                 len(regexp_extract_all(text, '{_bpe_pat}')) AS n
          FROM documents)
        SELECT doc_id, CAST(n AS BIGINT) AS n_bpe_tokens,
               round(lc / greatest(n, 1), 4) AS chars_per_token
        FROM t
    """))
def bpe_tokens(spark, sf_dir):
    return textops.bpe_token_stats(catalog(spark, sf_dir)["documents"])


@query(oracle=_quality_sql)
def quality(spark, sf_dir):
    df = textops.quality_score(catalog(spark, sf_dir)["documents"])
    return df.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "length_score",
        "alpha_ratio",
        "stopword_ratio",
        "distinct_ratio",
        "quality_score",
        F.col("n_stopwords_present").cast("bigint").alias("n_stopwords_present"),
    )


@query(oracle=_q(f"""
        WITH langs AS ({_lang_rows}),
        t AS (SELECT doc_id, list_distinct({_toks_sql('text')}) AS toks FROM documents),
        scores AS (
          SELECT doc_id, lang, len(list_intersect(toks, sw)) / CAST(len(sw) AS DOUBLE) AS score
          FROM t CROSS JOIN langs)
        SELECT doc_id, lang AS pred_lang, round(score, 4) AS lang_score
        FROM scores
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) = 1
    """))
def language_id(spark, sf_dir):
    return textops.lang_id(catalog(spark, sf_dir)["documents"])


@query(oracle=_q(f"""
        WITH tok AS (SELECT DISTINCT doc_id, {_hash64_sql('t')} AS tok FROM
               (SELECT doc_id, unnest(list_distinct({_toks_sql('text')})) AS t
                FROM documents)),
        dfreq AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok)
        SELECT doc_id,
          CAST(count(*) AS BIGINT) AS n_distinct_tokens,
          round(sum(df) / CAST(count(*) AS DOUBLE), 4) AS mean_token_df,
          CAST(min(df) AS BIGINT) AS min_token_df,
          CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        FROM tok JOIN dfreq USING (tok)
        GROUP BY doc_id
    """))
def token_rarity(spark, sf_dir):
    """Corpus-df-driven rarity scoring (two-stage: token document
    frequencies → per-doc aggregates)."""
    return textops.token_rarity(catalog(spark, sf_dir)["documents"])


@query(oracle=_lm_score_sql)
def lm_score(spark, sf_dir):
    """Corpus-trained add-one bigram LM, per-document mean
    micro-probability (CCNet-style perplexity filtering in exact integer
    arithmetic — `operators/text.py::lm_bigram_score`)."""
    return textops.lm_bigram_score(catalog(spark, sf_dir)["documents"])


# top-k bigrams: occurrence-keeping grams via the shared shingle mirror
@query(oracle=_q(f"""
        WITH t AS (SELECT {_toks_sql('text')} AS toks FROM documents),
        g AS (SELECT unnest(list_transform(range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i+1])) AS gram
              FROM t WHERE len(toks) >= 2)
        SELECT gram, CAST(count(*) AS BIGINT) AS n_occ
        FROM g GROUP BY gram
        ORDER BY n_occ DESC, gram LIMIT 20
    """))
def ngram_vocab(spark, sf_dir):
    """Corpus-wide top-20 bigrams by occurrence (vocabulary induction /
    collocation mining; TakeOrdered top-k, deterministic gram tie-break)."""
    return textops.ngram_topk(catalog(spark, sf_dir)["documents"], n=2, k=20)


BM25_QUERY = "spark window batch stream"

# BM25: rational idf, e-notation literals (plain 2.2 parses as DECIMAL
# in DuckDB and would change the arithmetic type lattice)
_terms = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY.lower().split())))


@query(oracle=_q(f"""
        WITH tok AS (SELECT doc_id, t FROM
                       (SELECT doc_id, unnest({_toks_sql('text')}) AS t FROM documents)
                     WHERE t != ''),
        dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) / count(*) AS avgdl FROM dl),
        tf AS (SELECT doc_id, t, count(*) AS tf FROM tok
               WHERE t IN ({_terms}) GROUP BY 1, 2),
        dfq AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
        c AS (SELECT doc_id,
                CAST(floor(1e6
                     * ((n - df + 0.5e0) / (df + 0.5e0))
                     * (tf * 2.2e0)
                     / (tf + 1.2e0 * (0.25e0 + 0.75e0 * dl / avgdl))) AS BIGINT) AS c
              FROM tf JOIN dfq USING (t) JOIN dl USING (doc_id) CROSS JOIN st)
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_fx,
               count(*) AS n_terms
        FROM c GROUP BY doc_id
        ORDER BY score_fx DESC, doc_id LIMIT 20
    """))
def bm25_rank(spark, sf_dir):
    """Lexical BM25-shaped retrieval of the corpus against a fixed query
    (`operators/text.py::bm25_topk` — rational idf + fixed-point floors,
    so the oracle is exact)."""
    return textops.bm25_topk(catalog(spark, sf_dir)["documents"], BM25_QUERY, k=20)


# corpus datasheet: quality CTE per doc -> fixed-point mean per stratum
@query(oracle=_q(f"""
        WITH q AS (
          SELECT doc_id, source, lang,
            CAST(length(text) AS BIGINT) AS n_chars,
            length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
            {_toks_sql('text')} AS toks,
            {_ntok_sql('text')} AS n_tok,
            len(regexp_extract_all(text, '{_bpe_pat}')) AS n_bpe
          FROM documents),
        r AS (
          SELECT doc_id, source, lang, n_chars, n_tok, n_bpe,
            least(n_chars / 500.0, 1.0) AS length_score,
            alpha / greatest(n_chars, 1) AS alpha_ratio,
            len(list_filter(toks, x -> list_contains([{_sw_list}], x)))
              / greatest(n_tok, 1) AS stopword_ratio,
            len(list_distinct(toks)) / greatest(n_tok, 1) AS distinct_ratio
          FROM q),
        fx AS (
          SELECT source, lang, n_chars, n_tok, n_bpe,
            CAST(round(round((length_score + alpha_ratio + stopword_ratio
                              + distinct_ratio) / 4.0, 4) * 1e4) AS BIGINT) AS qfx
          FROM r)
        SELECT source, lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(n_tok) AS BIGINT) AS total_tokens,
               CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
               CAST(floor(CAST(sum(qfx) AS BIGINT) / count(*)) AS BIGINT)
                 AS mean_quality_fx
        FROM fx GROUP BY source, lang
    """))
def corpus_datasheet(spark, sf_dir):
    """Per-(source, lang) corpus datasheet: volumes + fixed-point mean
    quality (`operators/text.py::corpus_report`)."""
    return textops.corpus_report(catalog(spark, sf_dir)["documents"])


# markup extraction: rebuild the identical HTML, strip with the same
# RE2-safe patterns and entity decode order (&amp; LAST)
_html = (
    "'<html><head><title>d' || CAST(doc_id AS VARCHAR)"
    " || '</title><style>p{color:red}</style></head><body><h1>' || source"
    " || '</h1><p class=\"main\">' || replace(text, ' and ', ' &amp; ')"
    " || '</p><script>var x=1;</script>"
    "<footer>&copy; corp</footer></body></html>'"
)


@query(oracle=_q(f"""
        WITH h AS (SELECT doc_id, {_html} AS html FROM documents),
        s1 AS (SELECT doc_id,
                 regexp_replace(html,
                   '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t,
                 CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags
               FROM h),
        s2 AS (SELECT doc_id, n_tags,
                 replace(replace(replace(replace(replace(
                   regexp_replace(t, '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&amp;', '&') AS t
               FROM s1)
        SELECT doc_id,
               trim(regexp_replace(t, '[ \t\r\n]+', ' ', 'g')) AS extracted,
               CAST(length(trim(regexp_replace(t, '[ \t\r\n]+', ' ', 'g'))) AS BIGINT)
                 AS extracted_chars,
               n_tags
        FROM s2
    """))
def html_extract(spark, sf_dir):
    """Markup-to-text extraction gate: documents wrapped in deterministic
    HTML (title/style/h1/p/script/footer + entity-escaped ampersands — the
    `_pii_blob` synthesis pattern), then stripped by
    `operators/curation.py::strip_markup`; the oracle rebuilds and strips
    the identical markup, so tag/entity/whitespace fidelity is
    hash-gated."""
    from ..operators.curation import markup_stats

    docs = catalog(spark, sf_dir)["documents"]
    html = F.concat(
        F.lit("<html><head><title>d"),
        F.col("doc_id").cast("string"),
        F.lit('</title><style>p{color:red}</style></head><body><h1>'),
        F.col("source"),
        F.lit('</h1><p class="main">'),
        F.replace(F.col("text"), F.lit(" and "), F.lit(" &amp; ")),
        F.lit('</p><script>var x=1;</script><footer>&copy; corp</footer></body></html>'),
    )
    return markup_stats(docs.select("doc_id", html.alias("html")))


def _pii_blob(spark, sf_dir):
    """Documents with a deterministic synthetic contact block appended —
    the corpus itself is PII-free word salad, so the blob (a pure
    arithmetic function of doc_id, mirrored in the oracle) gives every
    PII class real matches to count and redact."""
    docs = catalog(spark, sf_dir)["documents"]
    d = F.col("doc_id")
    blob = F.concat(
        F.col("text"),
        F.lit(" contact user"), d.cast("string"), F.lit("@mail.example.com"),
        F.lit(" tel 555-"), (d % 900 + 100).cast("string"),
        F.lit("-"), (d % 9000 + 1000).cast("string"),
        F.lit(" ip 192.168."), (d % 256).cast("string"),
        F.lit("."), ((d * 7) % 256).cast("string"),
        F.lit(" ssn "), (d % 900 + 100).cast("string"),
        F.lit("-"), (d % 90 + 10).cast("string"),
        F.lit("-"), (d % 9000 + 1000).cast("string"),
    )
    return docs.select("doc_id", blob.alias("text"))


# curation: PII blob mirrors _pii_blob arithmetic exactly
_pii_blob_sql = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'"
    " || ' tel 555-' || CAST(doc_id % 900 + 100 AS VARCHAR)"
    " || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)"
    " || ' ip 192.168.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)"
    " || ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR)"
    " || '-' || CAST(doc_id % 90 + 10 AS VARCHAR)"
    " || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR)"
)
_pii_counts = ", ".join(
    f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{name}"
    for name, pat in curation.PII_PATTERNS
)
_pii_total = " + ".join(f"n_{name}" for name, _ in curation.PII_PATTERNS)


def _pii_redact_sql(col: str) -> str:
    for name, pat in curation.PII_PATTERNS:
        col = f"regexp_replace({col}, '{pat}', '<{name.upper()}>', 'g')"
    return col


@query(oracle=_q(f"""
        WITH b AS (SELECT doc_id, {_pii_blob_sql} AS t FROM documents),
        c AS (SELECT doc_id, {_pii_counts}, {_pii_redact_sql('t')} AS redacted FROM b)
        SELECT doc_id, n_email, n_ssn, n_phone, n_ipv4,
               {_pii_total} AS n_pii, redacted
        FROM c
    """))
def pii_scrub(spark, sf_dir):
    """PII detection + redaction counts over the blob-augmented corpus
    (every class fires on every row; the hashed result pins both the
    counts and the redacted text byte-for-byte)."""
    return curation.pii_stats(_pii_blob(spark, sf_dir))


SPLIT_WEIGHTS = {"train": 900, "val": 50, "test": 50}

_split_h = _hash64_sql("'split:' || CAST(doc_id AS VARCHAR)")


def _split_case_sql() -> str:
    case, lo = "CASE", 0
    for nm, width in SPLIT_WEIGHTS.items():
        lo += width
        case += f" WHEN bucket < {lo} THEN '{nm}'"
    return case + " END"


@query(headline=False, oracle=_q(f"""
        WITH b AS (SELECT doc_id, {_split_h} % {curation.SPLIT_BUCKETS} AS bucket
                   FROM documents)
        SELECT doc_id, bucket, {_split_case_sql()} AS split FROM b
    """))
def split_assign(spark, sf_dir):
    """Deterministic hash-bucketed train/val/test assignment."""
    return curation.split_assign(catalog(spark, sf_dir)["documents"], SPLIT_WEIGHTS)


@query(oracle=_q(f"""
        WITH st AS (SELECT DISTINCT doc_id, {_hash64_sql('s')} AS shingle FROM
               (SELECT doc_id, unnest({_shingles_sql('text', DECONTAM_N)}) AS s
                FROM documents)),
        bs AS (SELECT DISTINCT shingle FROM st WHERE doc_id % 97 = 0)
        SELECT doc_id, count(*) AS n_overlap
        FROM st JOIN bs USING (shingle)
        WHERE doc_id % 97 != 0
        GROUP BY doc_id
        HAVING count(*) >= 1
    """))
def decontam(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing ≥1 distinct word
    4-gram with the benchmark subset (doc_id % 97 == 0)."""
    docs = catalog(spark, sf_dir)["documents"]
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return curation.decontaminate(corpus, bench, n=DECONTAM_N)


@query(oracle=_q(f"""
        WITH g AS (SELECT doc_id, {_hash64_sql('s')} AS gram FROM
               (SELECT doc_id, unnest({_shingles_sql('text', 2, distinct=False)}) AS s
                FROM documents)),
        pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
        SELECT doc_id,
          CAST(sum(c) AS BIGINT) AS n_grams,
          CAST(count(*) AS BIGINT) AS n_distinct_grams,
          round(max(c) / CAST(sum(c) AS DOUBLE), 4) AS top_gram_frac,
          round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 4)
            AS dup_gram_frac
        FROM pg GROUP BY doc_id
    """))
def repetition(spark, sf_dir):
    """Gopher-style word-2-gram repetition metrics per document."""
    return curation.repetition_stats(catalog(spark, sf_dir)["documents"], n=2)


MIX_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}

_mix_h = _hash64_sql("'mix:' || source || ':' || CAST(doc_id AS VARCHAR)")
_mix_pred = " OR ".join(
    f"(source = '{v}' AND {_mix_h} % {curation.MIX_BUCKETS}"
    f" < {int(round(frac * curation.MIX_BUCKETS))})"
    for v, frac in MIX_FRACTIONS.items()
)


@query(headline=False, oracle=_q(f"""
        SELECT doc_id, source FROM documents WHERE {_mix_pred}
    """))
def source_mix(spark, sf_dir):
    """Stratified source-mix downsampling: deterministic per-source keep
    fractions (the domain-reweighting step of a training-data run)."""
    sampled = curation.stratified_sample(
        catalog(spark, sf_dir)["documents"], MIX_FRACTIONS
    )
    return sampled.select("doc_id", "source")


SOURCE_CAP = 10


@query(oracle=_q(f"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_hash64_sql("'cap:' || CAST(doc_id AS VARCHAR)")}, doc_id
                 ) AS rn
          FROM documents)
        WHERE rn <= {SOURCE_CAP}
    """))
def source_cap(spark, sf_dir):
    """Hard per-source cap (at most N docs per source, hash-order
    deterministic) — the absolute-bound guard after fractional mixing."""
    capped = curation.per_stratum_cap(
        catalog(spark, sf_dir)["documents"], cap=SOURCE_CAP
    )
    return capped.select("doc_id", "source")


TEMP_BUDGET = 250_000


@query(oracle=_q(f"""
        WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
             s AS (SELECT source, n_docs,
                          CAST(floor(1e6 * sqrt(n_docs)) AS BIGINT) AS sv FROM n),
             t AS (SELECT sum(sv) AS tot FROM s)
        SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
               CAST((sv * 1000000) // (SELECT tot FROM t) AS BIGINT) AS weight_ppm,
               CAST(({TEMP_BUDGET} * sv) // (SELECT tot FROM t) AS BIGINT) AS quota_docs
        FROM s
    """))
def source_temperature(spark, sf_dir):
    """Temperature-scaled (α=0.5) mixture weights + document quotas per
    source — the training-mix planning step (square-root temperature
    upweights small sources; exact integer weight/quota arithmetic)."""
    return curation.temperature_weights(
        catalog(spark, sf_dir)["documents"], budget=TEMP_BUDGET
    )


@query(oracle=_q(f"""
        WITH t AS (
          SELECT lang, {_ntok_sql('text')} AS w,
                 len(regexp_extract_all(text, '{_bpe_pat}')) AS b,
                 length(text) AS c
          FROM documents)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(w) AS BIGINT) AS n_words,
               CAST(sum(b) AS BIGINT) AS n_bpe,
               CAST(sum(b) AS DOUBLE) / greatest(sum(w), 1) AS fertility,
               CAST(sum(c) AS DOUBLE) / greatest(sum(b), 1) AS chars_per_bpe
        FROM t GROUP BY lang
    """))
def token_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (BPE pre-tokens per word, chars
    per BPE token) — the sequence-budget efficiency audit driving
    multilingual mixture and vocab decisions."""
    return textops.tokenizer_fertility(catalog(spark, sf_dir)["documents"])


@query(oracle=f"""
WITH q AS ({_quality_sql}),
b AS (SELECT doc_id,
             least(9, CAST(floor(quality_score * 10) AS INTEGER)) AS bucket,
             {_hash64_sql("'curriculum:' || CAST(doc_id AS VARCHAR)")} AS h
      FROM q)
SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
       CAST(row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS BIGINT) AS pos
FROM b
""")
def curriculum_order(spark, sf_dir):
    """Curriculum bucketing: fixed-threshold quality buckets (no global
    sort) + deterministic hash-order position within each bucket — the
    stream order a difficulty-staged trainer consumes."""
    return curation.curriculum_order(catalog(spark, sf_dir)["documents"])


PACK_BUDGET = 128
PACK_SHARDS = 8

_pack_sequences_sql = _q(f"""
        WITH t AS (SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS BIGINT) AS shard,
                          CAST({_ntok_sql('text')} AS BIGINT) AS n_tokens
                   FROM documents),
        w AS (SELECT *, CAST(coalesce(SUM(n_tokens) OVER (
                 PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS start_offset
              FROM t)
        SELECT doc_id, shard, n_tokens, start_offset,
          start_offset // {PACK_BUDGET} AS first_seq,
          (start_offset + greatest(n_tokens, 1) - 1) // {PACK_BUDGET} AS last_seq,
          CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
               ELSE (start_offset + greatest(n_tokens, 1) - 1) // {PACK_BUDGET}
                    - start_offset // {PACK_BUDGET} + 1 END AS n_seqs
        FROM w
    """)


@query(headline=False, oracle=_pack_sequences_sql)
def pack_sequences(spark, sf_dir):
    """Sequence-packing offsets: per-shard token-stream concatenation cut
    into fixed 128-token training sequences."""
    return curation.pack_offsets(
        catalog(spark, sf_dir)["documents"], budget=PACK_BUDGET, n_shards=PACK_SHARDS
    )


@query(oracle=f"""
WITH p AS ({_pack_sequences_sql})
SELECT shard, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST((sum(n_tokens) + {PACK_BUDGET - 1}) // {PACK_BUDGET} AS BIGINT)
         AS n_seqs_used,
       CAST(((sum(n_tokens) + {PACK_BUDGET - 1}) // {PACK_BUDGET}) * {PACK_BUDGET}
            - sum(n_tokens) AS BIGINT) AS tail_waste_tokens,
       CAST((sum(n_tokens) * 1000000)
            // (((sum(n_tokens) + {PACK_BUDGET - 1}) // {PACK_BUDGET}) * {PACK_BUDGET})
            AS BIGINT) AS fill_ppm,
       CAST(sum(CASE WHEN n_seqs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_straddling_docs
FROM p GROUP BY shard
""")
def pack_efficiency(spark, sf_dir):
    """Packing-efficiency report per shard: sequences used (ceil in
    integral div), tail waste, fill ppm, and boundary-straddling doc
    count — the numbers that decide whether the packing budget or the
    shard count needs retuning.  Composes the pack_sequences operator;
    its oracle embeds that query's oracle verbatim as a CTE."""
    docs = catalog(spark, sf_dir)["documents"]
    packed = curation.pack_offsets(docs, budget=PACK_BUDGET, n_shards=PACK_SHARDS)
    B = PACK_BUDGET
    g = packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("__tot"),
        F.sum(F.when(F.col("n_seqs") > 1, 1).otherwise(0)).alias("__straddle"),
    )
    n_seqs = F.expr(f"(__tot + {B - 1}) div {B}")
    return g.select(
        "shard",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("__tot").cast("bigint").alias("total_tokens"),
        n_seqs.cast("bigint").alias("n_seqs_used"),
        (n_seqs * B - F.col("__tot")).cast("bigint").alias("tail_waste_tokens"),
        F.expr(f"(__tot * 1000000) div (((__tot + {B - 1}) div {B}) * {B})")
        .cast("bigint").alias("fill_ppm"),
        F.col("__straddle").cast("bigint").alias("n_straddling_docs"),
    )


SHARDS_OLD, SHARDS_NEW = 8, 9


def _rdv_sql(k_shards: int) -> str:
    structs = ", ".join(
        "{{'h': {h}, 'k': {k}}}".format(
            h=_hash64_sql(f"'shard:{k}:' || CAST(doc_id AS VARCHAR)"), k=k
        )
        for k in range(k_shards)
    )
    return f"list_max([{structs}]).k"


@query(oracle=f"""
WITH t AS (SELECT doc_id,
                  {_rdv_sql(SHARDS_OLD)} AS r_old,
                  {_rdv_sql(SHARDS_NEW)} AS r_new,
                  doc_id % {SHARDS_OLD} AS m_old,
                  doc_id % {SHARDS_NEW} AS m_new
           FROM documents),
g AS (SELECT count(*) AS n,
             sum(CASE WHEN r_old <> r_new THEN 1 ELSE 0 END) AS rm,
             sum(CASE WHEN m_old <> m_new THEN 1 ELSE 0 END) AS mm
      FROM t)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(rm AS BIGINT) AS moved_rendezvous,
       CAST(mm AS BIGINT) AS moved_mod,
       CAST((rm * 1000000) // n AS BIGINT) AS rdv_moved_ppm,
       CAST((mm * 1000000) // n AS BIGINT) AS mod_moved_ppm
FROM g
""")
def shard_rebalance(spark, sf_dir):
    """Rendezvous (highest-random-weight) shard assignment and its
    rebalancing cost when the shard count grows 8→9: each doc goes to
    ``argmax_k hash(doc, k)``, so adding a shard moves ONLY the docs the
    new shard now wins — the minimal-movement property (expected moved
    fraction 1/9 ≈ 111111 ppm) that naive ``hash mod K`` lacks (it
    moves ~8/9).  Pure per-row integer argmax over K hashes, exact in
    any engine; the report compares both strategies' moved counts."""
    from ..operators.hashing import hash64

    d = catalog(spark, sf_dir)["documents"].select("doc_id")

    def rdv(k_shards):
        scores = F.array(*[
            F.struct(
                hash64(F.concat(F.lit(f"shard:{k}:"), F.col("doc_id").cast("string"))).alias("h"),
                F.lit(k).alias("k"),
            )
            for k in range(k_shards)
        ])
        return F.array_max(scores)["k"]

    t = d.select(
        "doc_id",
        rdv(SHARDS_OLD).alias("__r_old"),
        rdv(SHARDS_NEW).alias("__r_new"),
        (F.col("doc_id") % SHARDS_OLD).alias("__m_old"),
        (F.col("doc_id") % SHARDS_NEW).alias("__m_new"),
    )
    # r11 (guide §1.2): `t` is a row-preserving projection of `d`, so the
    # total rides the SAME aggregation as the two movement sums — the old
    # shape paid a separate blocking .count() job for it.
    return (
        t.agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.when(F.col("__r_old") != F.col("__r_new"), 1).otherwise(0)).alias("__rm"),
            F.sum(F.when(F.col("__m_old") != F.col("__m_new"), 1).otherwise(0)).alias("__mm"),
        )
        .select(
            F.col("__n").cast("bigint").alias("n_docs"),
            F.col("__rm").cast("bigint").alias("moved_rendezvous"),
            F.col("__mm").cast("bigint").alias("moved_mod"),
            F.expr("(__rm * 1000000) div __n").cast("bigint").alias("rdv_moved_ppm"),
            F.expr("(__mm * 1000000) div __n").cast("bigint").alias("mod_moved_ppm"),
        )
    )


@query(oracle=_q("""
        WITH per AS (
          SELECT n_name,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100) AS BIGINT)
                   AS cents
          FROM customer
          JOIN orders ON c_custkey = o_custkey
          JOIN nation ON c_nationkey = n_nationkey
          GROUP BY n_name),
        tot AS (SELECT sum(cents) AS t FROM per),
        sh AS (SELECT n_name, (cents * 1000000) // (SELECT t FROM tot) AS ppm FROM per)
        SELECT count(*) AS n_nations,
               CAST(sum(ppm * ppm) AS BIGINT) AS hhi_ppm2,
               CAST(max(ppm) AS BIGINT) AS top_share_ppm
        FROM sh
    """))
def nation_hhi(spark, sf_dir):
    """Herfindahl–Hirschman concentration index of revenue across
    nations — the single-number complement of the Pareto/Gini reports:
    shares quantize to exact integer ppm first, then HHI = Σ share²
    (ppm² units) — fully integer, so engines agree bit-for-bit and the
    index is reproducible run-to-run.  Two tiny aggregations over a
    25-row frame after one fact rollup."""
    c = catalog(spark, sf_dir)
    dec = lambda col: F.col(col).cast("decimal(18,6)")  # noqa: E731
    per = (
        c["customer"]
        .join(c["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(c["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("__cents"))
    )
    per = per.localCheckpoint(eager=True)  # total + share projection
    # r11 (guide §5): the grand total joins the share projection as a
    # broadcast 1-row aggregate over the checkpointed 25-row frame instead
    # of a blocking .first() — identical integer division, one fewer job.
    totf = per.agg(F.sum("__cents").alias("__tot"))
    shares = per.crossJoin(F.broadcast(totf)).select(
        "n_name", F.expr("(__cents * 1000000) div __tot").alias("__ppm")
    )
    return shares.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nations"),
        F.sum(F.col("__ppm") * F.col("__ppm")).cast("bigint").alias("hhi_ppm2"),
        F.max("__ppm").cast("bigint").alias("top_share_ppm"),
    )


@query(oracle=f"""
WITH {_ann_scored_sql(None, None)}
SELECT q_id, vec_id, sim,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
""")
def ann_brute(spark, sf_dir):
    emb = catalog(spark, sf_dir)["embeddings"]
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    df = similarity.brute_force_topk(emb.where("vec_id >= 5"), q, k=5)
    return df.select("q_id", "vec_id", "sim", F.col("rank").cast("bigint").alias("rank"))


ANN_PLANES = similarity.random_planes(8, 64)


@query(oracle=f"""
WITH {_ann_scored_sql(ANN_PLANES, 1)}
SELECT q_id, vec_id, sim,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
""")
def ann_lsh(spark, sf_dir):
    emb = catalog(spark, sf_dir)["embeddings"]
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    # n_queries hint: |Q| is known from the predicate, so the broadcast
    # decision needs no eager capped-count job
    df = similarity.lsh_topk(
        emb.where("vec_id >= 5"), q, ANN_PLANES, k=5, probe_hamming=1, n_queries=5
    )
    return df.select("q_id", "vec_id", "sim", F.col("rank").cast("bigint").alias("rank"))


ANN_IVF_CELLS = 8
ANN_IVF_NPROBE = 2


# IVF: same algorithm in SQL — md5-ordered centroid sample, rounded
# cosine assignment with first-index tie-break (matches numpy argmax /
# array_position), nprobe probes, exact scoring of probed cells only
def _dot(a, b):
    return f"list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"


def _cos(a, b):
    return (
        f"round({_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})), 6)"
    )


@query(oracle=f"""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
corp AS (SELECT vec_id, v FROM v WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < 5),
cents AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) AS ci, cv FROM (
    SELECT vec_id, v AS cv, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
    FROM corp ORDER BY h, vec_id LIMIT {ANN_IVF_CELLS})),
assign AS (
  SELECT c.vec_id, ct.ci, {_cos('c.v', 'ct.cv')} AS s
  FROM corp c CROSS JOIN cents ct),
cell AS (
  SELECT vec_id, ci FROM assign
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) = 1),
probes AS (
  SELECT q_id, qv, ci FROM (
    SELECT q.q_id, q.qv, ct.ci, {_cos('q.qv', 'ct.cv')} AS s
    FROM qry q CROSS JOIN cents ct)
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY s DESC, ci) <= {ANN_IVF_NPROBE}),
scored AS (
  SELECT p.q_id, c2.vec_id, {_cos('p.qv', 'c2.v')} AS sim
  FROM probes p JOIN cell ON cell.ci = p.ci JOIN corp c2 ON c2.vec_id = cell.vec_id)
SELECT q_id, vec_id, sim,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
""")
def ann_ivf(spark, sf_dir):
    """IVF scale path: md5-sampled centroids → cell assignment (one matmul
    per Arrow batch) → probe-cell equi-join → exact scoring."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    cents = similarity.ivf_centroids(corpus, ANN_IVF_CELLS)
    df = similarity.ivf_topk(corpus, q, cents, k=5, nprobe=ANN_IVF_NPROBE)
    return df.select("q_id", "vec_id", "sim", F.col("rank").cast("bigint").alias("rank"))


def _ann_base(corpus):
    """ONE persisted ``(vec_id, __e)`` quantized projection per ANN
    query (r11 optimization): centroid training, codebook sampling,
    min/max training, encode and the exact re-rank all read this cache
    instead of each re-scanning (and re-quantizing) the corpus parquet
    — the guide §2.1 "remove the pass, not the shuffle" move.  The
    frame stays referenced by the returned plan, so the final action
    reads the cache too; Spark's ContextCleaner reclaims the blocks
    once the query result is dropped."""
    return corpus.select(
        F.col("vec_id"), similarity.quantize_expr("embedding").alias("__e")
    ).persist()


ANN_IVF_KM_ITERS = 2

# k-means IVF: the Lloyd refinement unrolled iteration-by-iteration in
# CTEs, in the same ×1000 fixed-point as the Spark side — integer L2
# assignment (first-min tie), floor-divided integer means (the double
# division of two exact ints is IEEE-identical), empty cells keep the
# previous centroid, candidates rank by exact integer dot product.
_il2 = lambda a, b: (  # noqa: E731
    f"list_sum(list_transform(range(1, 65), i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
)
_idot = lambda a, b: f"list_sum(list_transform(range(1, 65), i -> {a}[i]*{b}[i]))"  # noqa: E731


def _lloyd_iter(n: int) -> str:
    prev = f"cents{n}"
    return f"""
asg{n} AS (
  SELECT c.vec_id, c.e, ct.ci, {_il2('c.e', 'ct.cv')} AS d
  FROM corp c CROSS JOIN {prev} ct),
cell{n} AS (
  SELECT vec_id, e, ci FROM asg{n}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) = 1),
sums{n} AS (
  SELECT ci, i, SUM(e[i]) AS sf, COUNT(*) AS n FROM cell{n} CROSS JOIN dims
  GROUP BY ci, i),
means{n} AS (
  SELECT ci, list(CAST(floor(CAST(sf AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cv
  FROM sums{n} GROUP BY ci),
cents{n + 1} AS (
  SELECT ci, cv FROM means{n}
  UNION ALL
  SELECT ci, cv FROM {prev} WHERE ci NOT IN (SELECT ci FROM means{n}))"""


_km_final = f"cents{ANN_IVF_KM_ITERS}"
_ann_ivf_kmeans_sql = f"""
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
corp AS (SELECT vec_id, e FROM v WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 5),
dims AS (SELECT unnest(range(1, 65)) AS i),
cents0 AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) AS ci, e AS cv FROM (
    SELECT vec_id, e, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
    FROM corp ORDER BY h, vec_id LIMIT {ANN_IVF_CELLS})),
{','.join(_lloyd_iter(n) for n in range(ANN_IVF_KM_ITERS))},
cellF AS (
  SELECT vec_id, e, ci FROM (
    SELECT c.vec_id, c.e, ct.ci, {_il2('c.e', 'ct.cv')} AS d
    FROM corp c CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) = 1),
probes AS (
  SELECT q_id, qe, ci FROM (
    SELECT q.q_id, q.qe, ct.ci, {_il2('q.qe', 'ct.cv')} AS d
    FROM qry q CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d, ci) <= {ANN_IVF_NPROBE}),
scored AS (
  SELECT p.q_id, cf.vec_id, {_idot('p.qe', 'cf.e')} AS dot
  FROM probes p JOIN cellF cf ON cf.ci = p.ci)
SELECT q_id, vec_id, CAST(dot AS BIGINT) AS dot,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
"""


@query(oracle=_ann_ivf_kmeans_sql)
def ann_ivf_kmeans(spark, sf_dir):
    """IVF with Lloyd-refined centroids, entirely in fixed-point int64
    (quantize → integer-L2 assignment → floor-divided means → exact
    integer dot ranking) so the DuckDB oracle replays the refinement
    bit-for-bit.  On clustered embeddings the refined cells track the
    clusters, recovering recall that md5-sampled seeding leaves behind
    (`tests/test_similarity.py` pins refined ≥ sampled recall)."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    base = _ann_base(corpus)
    cents = similarity.ivf_centroids_kmeans(
        corpus, ANN_IVF_CELLS, iters=ANN_IVF_KM_ITERS, base=base
    )
    return similarity.ivf_topk_kmeans(
        corpus, q, cents, k=5, nprobe=ANN_IVF_NPROBE, base=base
    )


PQ_M = 4        # subspaces (dim 64 → 16-dim subvectors)
PQ_CODES = 16   # codebook entries per subspace

# PQ: fixed-point (×1000 round) embeddings make every distance an
# exact int64, so argmin/rank ties are impossible to flip across
# engines; codebook = md5-order sample, j is 0-based (numpy argmin)
_PQ_SUB = 64 // PQ_M


def _pq_sqdist(a, b, m="sp.m"):
    return (
        f"list_sum(list_transform(range(1, {_PQ_SUB} + 1), i -> "
        f"({a}[{m} * {_PQ_SUB} + i] - {b}[{m} * {_PQ_SUB} + i])"
        f" * ({a}[{m} * {_PQ_SUB} + i] - {b}[{m} * {_PQ_SUB} + i])))"
    )


_PQ_QUANT = (
    "qv AS (SELECT vec_id, list_transform(embedding, "
    "x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e FROM embeddings)"
)
_PQ_CENTS = (
    "cents AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS j, e AS ce FROM "
    "(SELECT vec_id, e, {h} AS h FROM {src} ORDER BY h, vec_id LIMIT "
    + str(PQ_CODES)
    + ")), sp AS (SELECT unnest(range(0, "
    + str(PQ_M)
    + ")) AS m)"
)


@query(oracle=f"""
WITH {_PQ_QUANT},
{_PQ_CENTS.format(h=_hash64_sql("CAST(vec_id AS VARCHAR)"), src="qv")},
dists AS (
  SELECT v.vec_id, sp.m, c.j, {_pq_sqdist('v.e', 'c.ce')} AS d
  FROM qv v CROSS JOIN sp CROSS JOIN cents c)
SELECT vec_id, m, j AS code FROM dists
QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1
""")
def pq_codes(spark, sf_dir):
    """Product-quantization encoding of the full embedding table:
    (vec_id, m, code) — m codes replace the raw vector (64× smaller at
    dim=64/m=4).  Fixed-point integer distances end to end, so the
    assignment is bit-exact across engines."""
    emb = catalog(spark, sf_dir)["embeddings"]
    cb = similarity.pq_codebook(emb, n_codes=PQ_CODES)
    return similarity.pq_encode(emb, cb, m_subspaces=PQ_M)


@query(oracle=f"""
WITH {_PQ_QUANT},
corp AS (SELECT vec_id, e FROM qv WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, e AS qe FROM qv WHERE vec_id < 5),
{_PQ_CENTS.format(h=_hash64_sql("CAST(vec_id AS VARCHAR)"), src="corp")},
dists AS (
  SELECT v.vec_id, sp.m, c.j, {_pq_sqdist('v.e', 'c.ce')} AS d
  FROM corp v CROSS JOIN sp CROSS JOIN cents c),
codes AS (
  SELECT vec_id, m, j AS code FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
dt AS (
  SELECT q.q_id, sp.m, c.j AS code, {_pq_sqdist('q.qe', 'c.ce')} AS d
  FROM qry q CROSS JOIN sp CROSS JOIN cents c),
scored AS (
  SELECT dt.q_id, codes.vec_id, CAST(sum(dt.d) AS BIGINT) AS adist
  FROM codes JOIN dt ON dt.m = codes.m AND dt.code = codes.code
  GROUP BY 1, 2)
SELECT q_id, vec_id, adist,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
""")
def ann_pq(spark, sf_dir):
    """PQ asymmetric-distance top-k: per-query integer distance table
    broadcast against the corpus codes — the memory-side ANN scale path
    (no raw vectors read during the scan)."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    base = _ann_base(corpus)
    cb = similarity.pq_codebook(corpus, n_codes=PQ_CODES, base=base)
    return similarity.pq_adc_topk(
        corpus, q, cb, m_subspaces=PQ_M, k=5, base=base
    )


# SQ8 scalar quantization (r11): per-dim min/max over the corpus,
# floor-affine codes, exact x255-space integer ADC — the whole
# chain restated
_ann_sq8_sql = """
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
corp AS (SELECT vec_id, e FROM v WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 5),
dims AS (SELECT unnest(range(0, 64)) AS d),
mm AS (SELECT d.d AS d, min(c.e[d.d + 1]) AS vmin,
              greatest(max(c.e[d.d + 1]) - min(c.e[d.d + 1]), 1) AS sp
       FROM corp c, dims d GROUP BY d.d),
codes AS (SELECT c.vec_id, m.d,
                 ((c.e[m.d + 1] - m.vmin) * 255) // m.sp AS code
          FROM corp c, mm m),
scored AS (
  SELECT q.q_id, k.vec_id,
         CAST(sum((255 * q.qe[k.d + 1] - (255 * m.vmin + k.code * m.sp))
                  * (255 * q.qe[k.d + 1] - (255 * m.vmin + k.code * m.sp)))
              AS BIGINT) AS adist
  FROM codes k JOIN mm m USING (d) CROSS JOIN qry q
  GROUP BY 1, 2)
SELECT q_id, vec_id, adist,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id)
            AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
"""


@query(oracle=_ann_sq8_sql)
def ann_sq8(spark, sf_dir):
    """SQ8 scalar-quantization ADC top-k (r11) — the OTHER classic
    memory-side ANN compression (per-DIMENSION uint8 codes, FAISS's
    ScalarQuantizer shape): training is ONE map-side-partial min/max
    scan (`operators/similarity.py::sq8_minmax` — no codebook, no
    centroid drift under appends), encoding is a codegen affine +
    integer division per dimension, and the probe broadcasts a
    dim×256 integer distance table per query — the same
    broadcast-join + partial-sum plan as `ann_pq`, exact int64 in the
    ×255 fixed-point space end to end.  The oracle replays min/max →
    codes → ADC verbatim."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    base = _ann_base(corpus)
    vmin, span = similarity.sq8_minmax(corpus, base=base)
    return similarity.sq8_adc_topk(corpus, q, vmin, span, k=5, base=base)


# IVF,SQ8 composite (r11): the Lloyd chain (cells + probes) scopes
# the SQ8 integer ADC to probed cells — min/max over the WHOLE
# corpus (the flat chain's quantizer), codes per candidate row
@query(oracle=f"""
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
corp AS (SELECT vec_id, e FROM v WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 5),
dims AS (SELECT unnest(range(1, 65)) AS i),
cents0 AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) AS ci, e AS cv FROM (
    SELECT vec_id, e, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
    FROM corp ORDER BY h, vec_id LIMIT {ANN_IVF_CELLS})),
{','.join(_lloyd_iter(n) for n in range(ANN_IVF_KM_ITERS))},
cellF AS (
  SELECT vec_id, e, ci FROM (
    SELECT c.vec_id, c.e, ct.ci, {_il2('c.e', 'ct.cv')} AS d
    FROM corp c CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) = 1),
probes AS (
  SELECT q_id, ci FROM (
    SELECT q.q_id, ct.ci, {_il2('q.qe', 'ct.cv')} AS d
    FROM qry q CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d, ci) <= {ANN_IVF_NPROBE}),
dcols AS (SELECT unnest(range(0, 64)) AS d),
mm AS (SELECT dc.d AS d, min(c.e[dc.d + 1]) AS vmin,
              greatest(max(c.e[dc.d + 1]) - min(c.e[dc.d + 1]), 1) AS sp
       FROM corp c, dcols dc GROUP BY dc.d),
codes AS (SELECT cf.vec_id, cf.ci, m.d,
                 ((cf.e[m.d + 1] - m.vmin) * 255) // m.sp AS code
          FROM cellF cf, mm m),
scored AS (
  SELECT p.q_id, k.vec_id,
         CAST(sum((255 * q.qe[k.d + 1] - (255 * m.vmin + k.code * m.sp))
                  * (255 * q.qe[k.d + 1] - (255 * m.vmin + k.code * m.sp)))
              AS BIGINT) AS adist
  FROM probes p
  JOIN codes k ON k.ci = p.ci
  JOIN mm m ON m.d = k.d
  JOIN qry q ON q.q_id = p.q_id
  GROUP BY 1, 2)
SELECT q_id, vec_id, adist,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id)
            AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
""")
def ann_ivfsq8(spark, sf_dir):
    """IVF,SQ8 composite (r11) — the remaining quantization-matrix cell
    ({flat, IVF} × {PQ, SQ}): the Lloyd coarse quantizer prunes scan
    volume to the probed cells, SQ8 codes prune bytes/vector inside
    them, and the ADC runs the same broadcast dim×256 integer table as
    `ann_sq8` over candidates only
    (`operators/similarity.py::ivfsq8_topk`).  Exact int64 end to end,
    so the oracle unrolls Lloyd → per-dim min/max → codes → probes →
    ADC verbatim."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    base = _ann_base(corpus)
    cents = similarity.ivf_centroids_kmeans(
        corpus, ANN_IVF_CELLS, iters=ANN_IVF_KM_ITERS, base=base
    )
    vmin, span = similarity.sq8_minmax(corpus, base=base)
    return similarity.ivfsq8_topk(
        corpus, q, cents, vmin, span, k=5, nprobe=ANN_IVF_NPROBE, base=base
    )


#: refined IVF-PQ: ADC shortlist size handed to the exact re-rank
RERANK_K = 10


# refined SQ8 (r11): the ann_sq8 ADC chain keeps k_prime, then an
# exact integer dot over the raw quantized vectors re-ranks
@query(oracle=f"""
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
corp AS (SELECT vec_id, e FROM v WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 5),
dcols AS (SELECT unnest(range(0, 64)) AS d),
mm AS (SELECT dc.d AS d, min(c.e[dc.d + 1]) AS vmin,
              greatest(max(c.e[dc.d + 1]) - min(c.e[dc.d + 1]), 1) AS sp
       FROM corp c, dcols dc GROUP BY dc.d),
codes AS (SELECT c.vec_id, m.d,
                 ((c.e[m.d + 1] - m.vmin) * 255) // m.sp AS code
          FROM corp c, mm m),
adist AS (
  SELECT q.q_id, k.vec_id,
         sum((255 * q.qe[k.d + 1] - (255 * m.vmin + k.code * m.sp))
             * (255 * q.qe[k.d + 1] - (255 * m.vmin + k.code * m.sp)))
           AS ad
  FROM codes k JOIN mm m USING (d) CROSS JOIN qry q
  GROUP BY 1, 2),
short AS (
  SELECT q_id, vec_id FROM adist
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY ad, vec_id)
          <= {RERANK_K}),
rr AS (
  SELECT s.q_id, s.vec_id,
         CAST({_idot('q.qe', 'c.e')} AS BIGINT) AS dot
  FROM short s JOIN corp c ON c.vec_id = s.vec_id
  JOIN qry q ON q.q_id = s.q_id)
SELECT q_id, vec_id, dot,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id)
            AS BIGINT) AS rank
FROM rr QUALIFY rank <= 5
""")
def ann_sq8_refined(spark, sf_dir):
    """REFINED SQ8 (r11) — the FAISS two-stage recipe on the
    scalar-quantized chain: top-k_prime ADC candidates re-ranked by the
    exact integer dot of the raw quantized vectors
    (`operators/similarity.py::sq8_refined_topk` — a broadcast-pruned
    |Q|×k_prime vector fetch, never a second corpus scan), so
    quantizer rounding cannot flip the final order.  The oracle chains
    the ann_sq8 ADC shortlist into an exact-dot re-rank."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    base = _ann_base(corpus)
    vmin, span = similarity.sq8_minmax(corpus, base=base)
    return similarity.sq8_refined_topk(
        corpus, q, vmin, span, k=5, k_prime=RERANK_K, base=base
    )


# persisted SQ8: identical ranking contract to the in-memory chain
# (shared plan, parity-pinned), so the oracle string is shared
@query(oracle=_ann_sq8_sql)
def ann_sq8_index(spark, sf_dir):
    """Persisted SQ8 path under the hash gate (r11): train +
    materialize the index (`similarity.build_sq8_index`: meta.json =
    the whole per-dim min/max quantizer, codes/ parquet), then answer
    the SAME query batch through `probe_sq8_index` — the probe runs
    the IDENTICAL shared broadcast-ADC plan as the in-memory
    `ann_sq8` chain, so the oracle is the same string; any code-array
    storage, quantizer-sidecar, or probe drift breaks this hash.
    Result checkpointed before the temp index dir is deleted."""
    import shutil
    import tempfile

    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    tmp = tempfile.mkdtemp(prefix="sq8_idx_q_")
    try:
        similarity.build_sq8_index(corpus, tmp)
        return similarity.probe_sq8_index(
            spark, tmp, q, k=5
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


DEDUP_PLANES = similarity.random_planes(16, 64, seed="dedup")
DEDUP_EMB_THRESHOLD = 0.42
DEDUP_EMB_BANDS = 4

# normalize-then-dot mirrors operators/similarity.embedding_near_pairs:
# one normalization per vector, a single dot per candidate pair
_NORM_CTE = (
    "r AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS r FROM {src}),\n"
    "n AS (SELECT vec_id, sqrt(list_sum(list_transform(r, x -> x * x))) AS nrm, r FROM r),\n"
    "v AS (SELECT vec_id, list_transform(r, x -> x / nrm) AS v FROM n)"
)
_DOT_SCORED = (
    "scored AS (\n"
    "  SELECT id_a, id_b,\n"
    "    round(list_sum(list_transform(range(1, len(va.v) + 1), i -> va.v[i] * vb.v[i])), 6) AS sim\n"
    "  FROM cand JOIN v va ON va.vec_id = id_a JOIN v vb ON vb.vec_id = id_b)"
)
_emb_band_rows = len(DEDUP_PLANES) // DEDUP_EMB_BANDS


@query(oracle=f"""
WITH {_NORM_CTE.format(src='embeddings')},
s AS (SELECT vec_id, {similarity.signature_sql('v', DEDUP_PLANES)} AS sig FROM v),
b AS (SELECT vec_id, band,
        array_to_string(list_transform(list_slice(sig, band * {_emb_band_rows} + 1, band * {_emb_band_rows} + {_emb_band_rows}),
                                       x -> CAST(x AS VARCHAR)), '') AS key
      FROM s CROSS JOIN (SELECT unnest(range({DEDUP_EMB_BANDS})) AS band)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b a JOIN b b2 USING (band, key) WHERE a.vec_id < b2.vec_id),
{_DOT_SCORED}
SELECT id_a, id_b, sim FROM scored WHERE sim >= {DEDUP_EMB_THRESHOLD}
""")
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup with banded hyperplane-LSH blocking (the
    100 TB plan: per-band hash joins, no cross join)."""
    emb = catalog(spark, sf_dir)["embeddings"]
    return similarity.embedding_near_pairs(
        emb, threshold=DEDUP_EMB_THRESHOLD, planes=DEDUP_PLANES, bands=DEDUP_EMB_BANDS
    )


# production-selectivity config: r = 32/4 = 8 bits per band prunes
# unrelated pairs to ~4·(1/2)^8 ≈ 1.5% of all-pairs (vs ~22% for the r=4
# demo above) while keeping recall 1.0 for exact duplicates (identical
# vectors share every band)
DEDUP_HI_PLANES = similarity.random_planes(32, 64, seed="dedup-hi")
DEDUP_HI_THRESHOLD = 0.9
DEDUP_HI_BANDS = 4
DEDUP_HI_SEED_N = 20
DEDUP_HI_OFFSET = 100000

_emb_hi_band_rows = len(DEDUP_HI_PLANES) // DEDUP_HI_BANDS


@query(oracle=f"""
WITH seeded AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {DEDUP_HI_OFFSET}, embedding FROM embeddings WHERE vec_id < {DEDUP_HI_SEED_N}),
{_NORM_CTE.format(src='seeded')},
s AS (SELECT vec_id, {similarity.signature_sql('v', DEDUP_HI_PLANES)} AS sig FROM v),
b AS (SELECT vec_id, band,
        array_to_string(list_transform(list_slice(sig, band * {_emb_hi_band_rows} + 1, band * {_emb_hi_band_rows} + {_emb_hi_band_rows}),
                                       x -> CAST(x AS VARCHAR)), '') AS key
      FROM s CROSS JOIN (SELECT unnest(range({DEDUP_HI_BANDS})) AS band)),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
  FROM b a JOIN b b2 USING (band, key) WHERE a.vec_id < b2.vec_id),
{_DOT_SCORED}
SELECT id_a, id_b, sim FROM scored WHERE sim >= {DEDUP_HI_THRESHOLD}
""")
def dedup_embedding_hi(spark, sf_dir):
    """Near-dup detection at a PRODUCTION threshold (cosine ≥ 0.9) and
    production LSH selectivity (r=8).  The synthetic embeddings have no
    natural ≥0.9 pairs, so the query seeds exact duplicates (id-offset
    copies of the first 20 vectors — pure deterministic arithmetic the
    oracle mirrors with UNION ALL): each seeded pair MUST come back with
    sim 1.0 — banding cannot drop an identical-signature pair — which
    makes the gate verify recall, not just selectivity."""
    emb = catalog(spark, sf_dir)["embeddings"]
    base = emb.select("vec_id", "embedding")
    seeded = base.unionByName(
        base.where(F.col("vec_id") < DEDUP_HI_SEED_N).select(
            (F.col("vec_id") + DEDUP_HI_OFFSET).alias("vec_id"), "embedding"
        )
    )
    return similarity.embedding_near_pairs(
        seeded,
        threshold=DEDUP_HI_THRESHOLD,
        planes=DEDUP_HI_PLANES,
        bands=DEDUP_HI_BANDS,
    )


SEMDEDUP_CELLS = 8
SEMDEDUP_ITERS = 2


# SemDeDup: the same Lloyd-refinement CTE chain as ann_ivf_kmeans
# (corp = the whole corpus here) assigns cells; candidates pair within
# a cell only; the verdict left-joins the distinct loser set.
@query(oracle=f"""
WITH qv AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
corp AS (SELECT vec_id, e FROM qv),
dims AS (SELECT unnest(range(1, 65)) AS i),
cents0 AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) AS ci, e AS cv FROM (
    SELECT vec_id, e, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
    FROM corp ORDER BY h, vec_id LIMIT {SEMDEDUP_CELLS})),
{','.join(_lloyd_iter(n) for n in range(SEMDEDUP_ITERS))},
cellF AS (
  SELECT vec_id, ci FROM (
    SELECT c.vec_id, ct.ci, {_il2('c.e', 'ct.cv')} AS d
    FROM corp c CROSS JOIN cents{SEMDEDUP_ITERS} ct)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) = 1),
{_NORM_CTE.format(src='embeddings')},
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cellF a JOIN cellF b ON a.ci = b.ci AND a.vec_id < b.vec_id),
{_DOT_SCORED},
dups AS (SELECT DISTINCT id_b FROM scored WHERE sim >= {DEDUP_EMB_THRESHOLD})
SELECT cf.vec_id, CAST(cf.ci AS INTEGER) AS cell,
       CAST(CASE WHEN d.id_b IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM cellF cf LEFT JOIN dups d ON cf.vec_id = d.id_b
""")
def semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings, prune
    within-cluster cosine near-duplicates — the paper's recipe for taming
    the O(n²) semantic-dedup scan at web scale (Σ|cell|² work, cell count
    the knob).  Centroids are the same fixed-point Lloyd refinement as
    `ann_ivf_kmeans` (bit-replayable), the within-cell pairing is one
    hash-shuffle self-join, and the verdict frame covers the WHOLE corpus
    so the oracle checks keeps and drops alike."""
    emb = catalog(spark, sf_dir)["embeddings"]
    cents = similarity.ivf_centroids_kmeans(emb, SEMDEDUP_CELLS, iters=SEMDEDUP_ITERS)
    return similarity.semantic_dedup(emb, cents, threshold=DEDUP_EMB_THRESHOLD)


PIPE_QUALITY_MIN = 0.48


# composition gate: the full curation pipeline (quality -> exact ->
# jaccard pairs -> components -> survivors), each stage the same SQL
# as its individually-gated oracle, re-rooted on the filtered corpus
@query(oracle=f"""
WITH RECURSIVE qual AS ({_quality_sql}),
kept AS (SELECT d.doc_id, d.text FROM documents d JOIN qual USING (doc_id)
         WHERE qual.quality_score >= {PIPE_QUALITY_MIN}),
winners AS (SELECT min(doc_id) AS doc_id FROM kept
            GROUP BY {_hash64_sql("coalesce(CAST(text AS VARCHAR), chr(0))")}),
k2 AS (SELECT kept.* FROM kept JOIN winners USING (doc_id)),
st AS (SELECT DISTINCT doc_id, {_hash64_sql('s')} AS shingle
       FROM (SELECT doc_id, unnest({_shingles_sql('text', 3)}) AS s FROM k2)),
keepsh AS (SELECT shingle FROM st GROUP BY shingle
           HAVING count(*) > 1 AND count(*) <= {JACCARD_MAX_DF}),
p AS (SELECT st.* FROM st JOIN keepsh USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM st GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM p a JOIN p b USING (shingle) WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2),
prs AS (
  SELECT id_a, id_b
  FROM shared JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(shared / (sa.n + sb.n - shared), 6) >= 0.8),
edges AS (SELECT id_a AS src, id_b AS dst FROM prs
          UNION ALL SELECT id_b, id_a FROM prs),
reach AS (
  SELECT src AS id, src AS r FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
losers AS (SELECT id FROM (SELECT id, min(r) AS rep FROM reach GROUP BY id)
           WHERE rep != id)
SELECT k2.doc_id, qual.quality_score
FROM k2 JOIN qual USING (doc_id)
WHERE k2.doc_id NOT IN (SELECT id FROM losers)
""")
def corpus_pipeline(spark, sf_dir):
    """The end-to-end curation pipeline a training-data run composes from
    this engine's operators: quality filter → exact dedup → near-dup
    pair detection (posting-list-capped Jaccard) → duplicate clustering →
    canonical survivors.  Output: (doc_id, quality_score) of documents
    that survive every stage.

    Every stage is one of the individually-oracle-gated operators; this
    query gates their COMPOSITION (filters must propagate through the
    dedup stages, cluster losers must drop, survivors keep their scores).
    Scale shape: the quality filter is a pure codegen map that prunes
    before any shuffle; exact dedup shuffles only (hash, id); the pair
    stage inherits the max_df posting-list cap; clustering consumes only
    pair ids."""
    docs = catalog(spark, sf_dir)["documents"]
    scored = textops.quality_score(docs).select("doc_id", "quality_score")
    kept_ids = scored.where(F.col("quality_score") >= PIPE_QUALITY_MIN)
    kept = docs.join(kept_ids.select("doc_id"), "doc_id")
    winners = dedup.exact_dedup(kept, ["text"]).select("doc_id")
    corpus2 = kept.join(winners, "doc_id", "left_semi")
    pairs = dedup.ngram_jaccard_pairs(corpus2, threshold=0.8, max_df=JACCARD_MAX_DF)
    cc = dedup.connected_components(pairs)
    losers = cc.where(F.col("rep") != F.col("id")).select(F.col("id").alias("doc_id"))
    return (
        corpus2.select("doc_id")
        .join(losers, "doc_id", "left_anti")
        .join(kept_ids, "doc_id")
        .select("doc_id", "quality_score")
    )


def _media_decoded(spark, sf_dir):
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.decode_media(multimodal.attach_payload(docs, "doc_id", "text"))


# the multimodal stub decoder is md5-derived (operators/multimodal.py:
# _stub_decode), so DuckDB reproduces it from md5(text); features are
# 16-bit windows of the digest at byte offsets (4+2i) mod 16, i.e. hex
# positions 9,13,17,21,25,29,1,5
_feat_vals = ", ".join(f"({i}, {2 * ((4 + 2 * i) % 16) + 1})" for i in range(8))
_media_cte = """
m AS (SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS kind,
             md5(coalesce(text, '')) AS h
      FROM documents),
d AS (SELECT media_id, kind,
        16 + ('0x' || substr(h, 1, 2))::INT % 240 AS width,
        16 + ('0x' || substr(h, 3, 2))::INT % 240 AS height,
        1 + ('0x' || substr(h, 5, 2))::INT % 8 AS n_frames,
        h
      FROM m)
"""


@query(oracle=f"""
WITH {_media_cte}
SELECT media_id, kind, width, height, n_frames, feat_idx,
       ('0x' || substr(h, pos, 4))::INT AS feat_u16
FROM d CROSS JOIN (VALUES {_feat_vals}) AS f(feat_idx, pos)
""")
def media_decode(spark, sf_dir):
    """Multimodal plumbing: binary payload → mapInPandas decode (stubbed
    md5 codec, real schema/Arrow batching).  Gated cross-engine: the
    ``array<float>`` features are exploded to scalar rows and re-quantized
    to the u16 the stub derived them from (exact round-trip — float32 of
    n/65535 scaled back recovers n), so the driver's canonicalizer can
    hash rows and DuckDB can reproduce them from ``md5(text)``."""
    decoded = _media_decoded(spark, sf_dir)
    return decoded.select(
        "media_id",
        "kind",
        "width",
        "height",
        "n_frames",
        F.posexplode("features").alias("feat_idx", "feat"),
    ).select(
        "media_id",
        "kind",
        "width",
        "height",
        "n_frames",
        "feat_idx",
        F.round(F.col("feat") * 65535).cast("int").alias("feat_u16"),
    )


@query(oracle=f"""
WITH {_media_cte}
SELECT media_id, kind, unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx
FROM d
""")
def media_frames(spark, sf_dir):
    """Frame-sampling contract over the decoded stub (scalar projection)."""
    frames = multimodal.sample_frames(_media_decoded(spark, sf_dir), every=2)
    return frames.select("media_id", "kind", F.col("frame_idx").cast("bigint").alias("frame_idx"))


@query(oracle=_q("""
        SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS kind,
               16 AS width, 16 AS height,
               md5(coalesce(text, '') || ':16x16') AS payload_md5,
               CAST(16 AS BIGINT) AS n_bytes
        FROM documents
    """))
def media_resize(spark, sf_dir):
    """Binary-in/binary-out resize stage (stub codec); gated by projecting
    the output payload's hex — DuckDB reproduces md5(payload + marker)."""
    docs = catalog(spark, sf_dir)["documents"]
    media = multimodal.attach_payload(docs, "doc_id", "text")
    out = multimodal.resize_media(media, 16, 16)
    return out.select(
        "media_id",
        "kind",
        "width",
        "height",
        F.lower(F.hex("payload")).alias("payload_md5"),
        "n_bytes",
    )


@query(headline=False, oracle=_q("""
        WITH s AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
            CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
            CAST(50 + doc_id % 200 AS BIGINT) AS n_samples,
            list_transform(range(0, CAST(50 + doc_id % 200 AS INT)),
                           i -> abs((doc_id * 31 + i * 7) % 65536 - 32768)) AS aa
          FROM documents)
        SELECT media_id, sample_rate, n_samples,
               CAST(list_sum(aa) AS BIGINT) AS sum_abs,
               CAST(list_max(aa) AS BIGINT) AS max_abs
        FROM s
    """))
def media_wav_stats(spark, sf_dir):
    """REAL codec gate: synthesize mono PCM16 WAV payloads from pure
    doc_id arithmetic, then parse them back with the struct-level RIFF
    reader and emit integer stats.  The oracle computes the same stats
    from the arithmetic alone — any encoder/parser byte-offset or
    endianness bug breaks the hash match."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.wav_stats(multimodal.synth_wav(docs))


@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 CAST(8 + doc_id % 9 AS BIGINT) AS w,
                 CAST(8 + doc_id % 7 AS BIGINT) AS h
          FROM documents),
        px AS (
          SELECT media_id, w, h,
                 list_transform(range(0, CAST(w * h AS INT)),
                   i -> (media_id * 13 + (i // w) * w + (i % w) * 3) % 256) AS p
          FROM d),
        ds AS (
          SELECT media_id,
                 list_sum(list_transform(
                   list_filter(range(0, CAST(w * h AS INT)),
                               i -> (i % w) % 2 = 0 AND (i // w) % 2 = 0),
                   i -> (media_id * 13 + (i // w) * w + (i % w) * 3) % 256)) AS dsum
          FROM px)
        SELECT px.media_id, w AS width, h AS height,
               CAST(list_sum(p) AS BIGINT) AS sum_px,
               CAST(list_max(p) AS BIGINT) AS max_px,
               CAST(dsum AS BIGINT) AS ds2_sum
        FROM px JOIN ds ON ds.media_id = px.media_id
    """))
def media_pgm_stats(spark, sf_dir):
    """REAL codec gate #3 (textual-header branch): synthesize binary
    netpbm P5 images from doc_id arithmetic, parse them back, and emit
    pixel stats plus the numpy [::2, ::2] downsample sum — any header
    or stride bug breaks the arithmetic hash match."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.pgm_stats(multimodal.synth_pgm(docs))


BMP_RESIZE_W = 12
BMP_RESIZE_H = 10


@query(headline=False, oracle=_q(f"""
        WITH s AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 8 + doc_id % 9 AS w, 8 + (3 * doc_id) % 9 AS h
          FROM documents)
        SELECT media_id,
          CAST({BMP_RESIZE_W} AS BIGINT) AS width,
          CAST({BMP_RESIZE_H} AS BIGINT) AS height,
          CAST(list_sum(list_transform(range(0, {BMP_RESIZE_H}), i ->
            list_sum(list_transform(range(0, {BMP_RESIZE_W}), j ->
              (media_id + 3 * ((j * w) // {BMP_RESIZE_W})
                        + 5 * ((i * h) // {BMP_RESIZE_H})) % 256))))
            AS BIGINT) AS sum_red
        FROM s
    """))
def media_bmp_resize(spark, sf_dir):
    """REAL image chain gate: arithmetic BMP synth → struct decode →
    numpy nearest-neighbor resize → re-encode → decode → integer pixel
    stats.  The oracle recomputes the resampled pixel sum from the
    synthesis arithmetic + the exact (dst·src)//dst index convention, so
    any error in row order, padding, channel order, or resampling breaks
    the match."""
    docs = catalog(spark, sf_dir)["documents"]
    media = multimodal.synth_bmp(docs)
    resized = multimodal.resize_bmp(media, BMP_RESIZE_W, BMP_RESIZE_H)
    return multimodal.bmp_stats(resized)


_media_png_stats_sql = _q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 CAST(8 + doc_id % 9 AS BIGINT) AS w,
                 CAST(8 + (3 * doc_id) % 7 AS BIGINT) AS h
          FROM documents),
        px AS (
          SELECT media_id, w, h,
                 list_transform(range(0, CAST(w * h AS INT)),
                   i -> (media_id * 7 + (i % w) * 3 + (i // w) * 5) % 256) AS p
          FROM d),
        ds AS (
          SELECT media_id,
                 list_sum(list_transform(
                   list_filter(range(0, CAST(w * h AS INT)),
                               i -> (i % w) % 2 = 0 AND (i // w) % 2 = 0),
                   i -> (media_id * 7 + (i % w) * 3 + (i // w) * 5) % 256)) AS dsum
          FROM px)
        SELECT px.media_id, w AS width, h AS height,
               CAST(list_sum(p) AS BIGINT) AS sum_px,
               CAST(list_max(p) AS BIGINT) AS max_px,
               CAST(dsum AS BIGINT) AS ds2_sum
        FROM px JOIN ds ON ds.media_id = px.media_id
    """)


@query(oracle=_media_png_stats_sql)
def media_png_stats(spark, sf_dir):
    """REAL codec gate #4 — the format a crawl actually contains: PNGs
    synthesized from doc_id arithmetic (scanline filters cycling through
    None/Sub/Up/Average/Paeth across the corpus), then chunk-parsed,
    CRC-checked, zlib-inflated, and unfiltered back to pixels.  Any
    filter-reconstruction, chunk-framing, or deflate bug breaks the
    arithmetic hash match."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.png_stats(multimodal.synth_png(docs))


# Adam7: interlacing reorders samples, it never changes them — the
# non-interlaced pixel oracle gates the interlaced corpus VERBATIM
@query(oracle=_media_png_stats_sql)
def media_png_interlaced(spark, sf_dir):
    """ADAM7-INTERLACED PNG under the hash gate (r9) — the progressive-
    render shape older encoders emit, previously a quarantine: the SAME
    texture corpus as `media_png_stats` encoded interlaced
    (`operators/multimodal.py::encode_png_interlaced` — seven
    independently-filtered sub-images, filters cycling over pass
    scanlines, empty passes emitting no scanlines), de-interlaced by
    `decode_png`'s strided scatter through the shared unfilter.
    Interlacing REORDERS samples without changing them, so the
    NON-INTERLACED pixel oracle gates this corpus verbatim — any pass
    geometry, per-pass filter state, or scatter bug breaks the hash."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.png_stats(multimodal.synth_png_interlaced(docs))


# URL curation oracles: the oracle does NOT mirror the Spark regex —
# it constructs the expected canonical strings directly from the same
# doc_id arithmetic the synthesizer uses, so a parsing bug on either
# side breaks the match.
_url_raw = """
        (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'http' END)
        || '://WWW.' || upper(source) || '.Site' || CAST(doc_id % 7 AS VARCHAR) || '.'
        || (CASE WHEN doc_id % 4 = 0 THEN 'COM' WHEN doc_id % 4 = 1 THEN 'org'
                 WHEN doc_id % 4 = 2 THEN 'Net' ELSE 'io' END)
        || (CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
                 WHEN doc_id % 5 = 0 THEN ':80'
                 WHEN doc_id % 17 = 0 THEN ':8080' ELSE '' END)
        || (CASE WHEN doc_id % 11 = 0 THEN '//Articles//' ELSE '/Articles/' END)
        || CAST(doc_id AS VARCHAR)
        || (CASE WHEN doc_id % 13 = 0 THEN ''
                 WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR) || '&gclid=abc'
                 ELSE '?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=Spring&page='
                      || CAST(doc_id % 5 AS VARCHAR) END)
        || (CASE WHEN doc_id % 3 = 1 THEN '#sec-' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END)
    """
_url_canon = """
        (CASE WHEN doc_id % 3 = 0 THEN 'https' ELSE 'http' END)
        || '://www.' || source || '.site' || CAST(doc_id % 7 AS VARCHAR) || '.'
        || (CASE WHEN doc_id % 4 = 0 THEN 'com' WHEN doc_id % 4 = 1 THEN 'org'
                 WHEN doc_id % 4 = 2 THEN 'net' ELSE 'io' END)
        || (CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 <> 0 AND doc_id % 17 = 0
                 THEN ':8080' ELSE '' END)
        || '/Articles/' || CAST(doc_id AS VARCHAR)
        || (CASE WHEN doc_id % 13 = 0 THEN ''
                 WHEN doc_id % 2 = 0 THEN '?id=' || CAST(doc_id AS VARCHAR)
                 ELSE '?id=' || CAST(doc_id AS VARCHAR) || '&page='
                      || CAST(doc_id % 5 AS VARCHAR) END)
    """
_url_domain = """
        'site' || CAST(doc_id % 7 AS VARCHAR) || '.'
        || (CASE WHEN doc_id % 4 = 0 THEN 'com' WHEN doc_id % 4 = 1 THEN 'org'
                 WHEN doc_id % 4 = 2 THEN 'net' ELSE 'io' END)
    """


@query(oracle=_q(f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               {_url_raw} AS url,
               {_url_canon} AS canon_url,
               {_url_domain} AS domain
        FROM documents
    """))
def url_canonical(spark, sf_dir):
    """Crawl-layer URL canonicalization (the stage before every text
    dedup): lowercase scheme/host, strip default ports (keep :8080),
    collapse duplicate path slashes, drop fragments and tracking params
    while preserving the remaining query order.  Pure JVM codegen
    (`parse_url` + regexp + one higher-order filter); the oracle
    constructs the expected canonical strings independently from the
    same doc_id arithmetic, so either side's parsing bug breaks the
    hash."""
    docs = catalog(spark, sf_dir)["documents"]
    u = curation.canonicalize_url(curation.synth_url(docs))
    return u.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "url", "canon_url", "domain"
    )


@query(oracle=f"""
WITH q AS ({_quality_sql}),
{_jaccard_pairs_cte(0.5, JACCARD_MAX_DF)},
dup AS (SELECT DISTINCT doc_id
        FROM (SELECT id_a AS doc_id FROM jp UNION ALL SELECT id_b FROM jp)),
dom AS (SELECT CAST(d.doc_id AS BIGINT) AS doc_id, {_url_domain} AS domain
        FROM documents d)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
       CAST(sum(CAST(floor(1e6 * q.quality_score) AS BIGINT)) // count(*) AS BIGINT) AS q_mean_ppm
FROM dom
JOIN q ON q.doc_id = dom.doc_id
LEFT JOIN dup ON dup.doc_id = dom.doc_id
GROUP BY domain
""")
def domain_stats(spark, sf_dir):
    """Per-registrable-domain corpus report: doc counts, near-dup share
    (membership in the memoized 0.5-Jaccard pair graph), and mean quality
    in fixed-point ppm — the aggregation a domain blocklist decision
    reads.  One groupBy over metadata-narrow columns; the pair graph is
    the shared pipeline stage other analytics already reuse."""
    docs = catalog(spark, sf_dir)["documents"]
    dom = curation.canonicalize_url(curation.synth_url(docs)).select("doc_id", "domain")
    q = textops.quality_score(docs).select(
        "doc_id",
        F.floor(F.lit(1e6) * F.col("quality_score")).cast("bigint").alias("__q_ppm"),
    )
    pairs = _jaccard_pairs_05(spark, sf_dir)
    dup_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    g = (
        dom.join(q, "doc_id")
        .join(dup_ids, "doc_id", "left")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))).alias("dup_docs"),
            F.sum("__q_ppm").alias("__qs"),
        )
    )
    return g.select(
        "domain",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("dup_docs").cast("bigint").alias("dup_docs"),
        F.expr("__qs div n_docs").cast("bigint").alias("q_mean_ppm"),
    )


# pixels == synth values by construction (even-offset constant blocks
# survive the q=16 quantize/IDCT pipeline exactly; proven in
# tests/test_multimodal.py::test_jpeg_exact_roundtrip_piecewise_constant),
# so the oracle mirrors the BLOCK arithmetic: 64 pixels and 16
# [::2, ::2] downsample hits per 8x8 block
_media_jpeg_stats_sql = _q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 CAST(8 * (1 + doc_id % 3) AS BIGINT) AS w,
                 CAST(8 * (1 + (3 * doc_id + 1) % 2) AS BIGINT) AS h
          FROM documents),
        b AS (
          SELECT media_id, w, h,
                 list_transform(range(0, CAST((w // 8) * (h // 8) AS INT)),
                   i -> 128 + 2 * ((3 * media_id + 5 * (i % (w // 8))
                                    + 7 * (i // (w // 8))) % 48)) AS v
          FROM d)
        SELECT media_id, w AS width, h AS height,
               CAST(64 * list_sum(v) AS BIGINT) AS sum_px,
               CAST(list_max(v) AS BIGINT) AS max_px,
               CAST(16 * list_sum(v) AS BIGINT) AS ds2_sum
        FROM b
    """)


@query(oracle=_media_jpeg_stats_sql)
def media_jpeg_stats(spark, sf_dir):
    """REAL codec gate #5 — the format MOST of a crawl actually is:
    baseline JPEGs synthesized from doc_id arithmetic (8x8-constant
    blocks whose even level-shift offsets survive the uniform-q=16
    quantize/IDCT pipeline bit-exactly), then marker-parsed,
    Huffman-decoded, dequantized and IDCT'd back to pixels.  Any
    entropy-coding, zigzag, byte-stuffing, or DCT-scaling bug breaks
    the arithmetic hash match — while the payload traverses the same
    lossy machinery arbitrary JPEGs do."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.jpeg_stats(multimodal.synth_jpeg(docs))


# maintenance gate: build -> replayed duplicate append -> compact ->
# probe must return EXACTLY what the in-memory incremental probe
# returns, so the oracle is the same string — compaction losing or
# duplicating any signature row breaks this hash
@query(headline=False, oracle=_dedup_incremental_sql)
def dedup_index_compacted(spark, sf_dir):
    """Maintenance path under the hash gate: the SAME near-dup pairs must
    come out of a PERSISTED LSH index that was stressed by a replayed
    (fully duplicated) signature append and then compacted
    (`plans/scale.py::compact_lsh_index`: dropDuplicates + size-targeted
    rewrite + crash-safe staging swap + parameter-sidecar preserve) as
    out of the pure in-memory operator — the oracle string is shared
    VERBATIM with `dedup_incremental`, so any row the compaction loses or
    duplicates breaks the hash.  The probe result is eagerly
    checkpointed inside, so the temp index can be deleted before the
    driver consumes the frame."""
    import shutil
    import tempfile

    from . import scale as _scale

    docs = catalog(spark, sf_dir)["documents"]
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    tmp = tempfile.mkdtemp(prefix="lsh_compact_q_")
    idx = os.path.join(tmp, "idx")
    try:
        dedup.build_lsh_index(corpus, idx, k=16, bands=4)
        # simulate a crashed-checkpoint replay: the whole signature set
        # appended a second time (duplicates are what compaction drops)
        spark.read.parquet(idx).write.mode("append").partitionBy("band").parquet(idx)
        _scale.compact_lsh_index(spark, idx, target_file_bytes=1 << 20)
        return dedup.probe_lsh_index(
            spark, idx, new, k=16, bands=4, threshold=0.5, corpus_df=corpus
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# persisted-index probe: identical ranking contract to the in-memory
# IVF pipeline (parity-tested), so the oracle is the same string —
# any index-layout/probe drift breaks this hash
@query(headline=False, oracle=_ann_ivf_kmeans_sql)
def ann_index_probe(spark, sf_dir):
    """Persisted-index ANN path under the hash gate: train + materialize
    the IVF index (`similarity.build_ivf_index`: centroids.json +
    __cell-partitioned inverted lists), then answer the SAME query batch
    through `probe_ivf_index` — identical ranking contract to the
    in-memory `ann_ivf_kmeans` (exact integer dot, id tie-breaks), so the
    oracle string is shared verbatim.  Any drift between the persisted
    layout and the in-memory pipeline (assignment, quantization, probe
    pruning) breaks the hash.  Result is checkpointed so the temp index
    can be deleted before the driver consumes it."""
    import shutil
    import tempfile

    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    tmp = tempfile.mkdtemp(prefix="ivf_index_q_")
    try:
        similarity.build_ivf_index(
            corpus, tmp, n_cells=ANN_IVF_CELLS, iters=ANN_IVF_KM_ITERS
        )
        return similarity.probe_ivf_index(
            spark, tmp, q, k=5, nprobe=ANN_IVF_NPROBE
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# video: lossless container, so the oracle mirrors the synth pixels
# directly; kept frames = every 2nd index per clip
@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 CAST(8 + doc_id % 5 AS BIGINT) AS w,
                 CAST(8 + (2 * doc_id) % 3 AS BIGINT) AS h,
                 CAST(2 + doc_id % 4 AS BIGINT) AS n
          FROM documents),
        fr AS (
          SELECT media_id, w, h,
                 unnest(range(0, CAST(n AS INT), 2)) AS frame_idx
          FROM d),
        px AS (
          SELECT media_id, frame_idx, w, h,
                 list_transform(range(0, CAST(w * h AS INT)),
                   i -> (11 * media_id + 3 * (i % w) + 5 * (i // w)
                         + 17 * frame_idx) % 256) AS p
          FROM fr)
        SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
               w AS width, h AS height,
               CAST(list_sum(p) AS BIGINT) AS sum_px,
               CAST(list_max(p) AS BIGINT) AS max_px
        FROM px
    """))
def media_y4m_frames(spark, sf_dir):
    """REAL codec gate #6 — video: mono YUV4MPEG2 clips synthesized from
    doc_id arithmetic, stream-parsed (header tags, per-frame strides) and
    frame-sampled for real (every 2nd frame), one row per KEPT frame with
    exact integer luma stats.  Retires the stub behind the frame-sampling
    contract: any header/stride/sampling bug breaks the arithmetic hash."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.y4m_frame_stats(multimodal.synth_y4m(docs), every=2)


BPE_TRAIN_ROUNDS = 8


# BPE training: the merge rounds unroll as CTE pairs (count+argmax,
# then replace-merge), the doc_pagerank pattern.  Double-space symbol
# delimiters make non-overlapping replace() the exact classic merge
# in both engines (see operators/text.py::bpe_train_merges).
# every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
# scalar-subquery references would expand v{r-1} multiplicatively per
# round (exponential plan, "too many open files" on the leaf scans)
def _bpe_round_ctes() -> str:
    _bpe_parts = [f"""
v0 AS MATERIALIZED (
  SELECT cnt,
         '  ' || array_to_string(list_transform(range(1, len(w) + 1),
                                                i -> w[i]), '  ')
             || '  </w>  ' AS s
  FROM (SELECT t AS w, count(*) AS cnt FROM
          (SELECT unnest({_toks_sql('text')}) AS t FROM documents)
        WHERE t != '' GROUP BY t))"""]
    for _r in range(1, BPE_TRAIN_ROUNDS + 1):
        _bpe_parts.append(f"""
b{_r} AS MATERIALIZED (
  SELECT split_part(pair, ' ', 1) AS sa, split_part(pair, ' ', 2) AS sb, n,
         ' ' || split_part(pair, ' ', 1) || '  ' || split_part(pair, ' ', 2) || ' ' AS pat,
         ' ' || split_part(pair, ' ', 1) || split_part(pair, ' ', 2) || ' ' AS rep
  FROM (
    SELECT pair, sum(cnt) AS n FROM (
      SELECT cnt,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS pair
      FROM (SELECT cnt, str_split(trim(s), '  ') AS t FROM v{_r - 1}))
    GROUP BY pair)
  ORDER BY n DESC, pair LIMIT 1),
v{_r} AS MATERIALIZED (
  SELECT cnt,
         replace(s, (SELECT pat FROM b{_r}), (SELECT rep FROM b{_r})) AS s
  FROM v{_r - 1})""")
    return ",".join(_bpe_parts)


_bpe_ctes = _bpe_round_ctes()
_bpe_final = "\nUNION ALL ".join(
    f"SELECT {r} AS merge_round, sa AS sym_a, sb AS sym_b, "
    f"CAST(n AS BIGINT) AS pair_count FROM b{r}"
    for r in range(1, BPE_TRAIN_ROUNDS + 1)
)


@query(oracle="WITH " + _bpe_ctes + "\n" + _bpe_final)
def bpe_train(spark, sf_dir):
    """Tokenizer TRAINING over the corpus: learn the first 8 BPE merges
    (word-frequency vocab from one distributed pass, then per-round
    weighted pair counts + deterministic argmax + greedy left-to-right
    merge — `operators/text.py::bpe_train_merges`).  The oracle unrolls
    the rounds as CTEs, so engine drift in counting, tie-breaks, or merge
    application breaks the hash."""
    docs = catalog(spark, sf_dir)["documents"]
    return textops.bpe_train_merges(docs, rounds=BPE_TRAIN_ROUNDS)


# train-then-apply: the SAME unrolled round chain, read out as the
# final vocabulary's symbols-per-word distribution
@query(oracle=(
    "WITH " + _bpe_ctes + f"""
SELECT CAST(len(t) AS BIGINT) AS n_symbols,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(cnt) AS BIGINT) AS n_occurrences
FROM (SELECT cnt, str_split(trim(s), '  ') AS t FROM v{BPE_TRAIN_ROUNDS})
GROUP BY 1"""
))
def bpe_apply(spark, sf_dir):
    """Train-then-APPLY: segment the corpus vocabulary with the learned
    merges and report the symbols-per-word distribution — how much
    sequence budget the first 8 merges buy.  Shares the training core
    (and the unrolled oracle CTE chain) with `bpe_train`, so the two can
    never drift."""
    docs = catalog(spark, sf_dir)["documents"]
    return textops.bpe_segment_stats(docs, rounds=BPE_TRAIN_ROUNDS)


# exact-substring span dedup: positions ride the gram explode, dup
# spans are a HAVING >= 2, coverage is a range explode — shared CTE
# prefix between the stats and rewrite readouts
_span_cte = f"""
t AS (
  SELECT doc_id, str_split(nrm, ' ') AS t,
         CASE WHEN nrm = '' THEN 0 ELSE len(str_split(nrm, ' ')) END AS n
  FROM (SELECT doc_id, {_norm_sql('text')} AS nrm FROM documents)),
g AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(t, pos + 1, pos + 8), ' ') AS gram
  FROM (SELECT doc_id, t, unnest(range(0, greatest(n - 7, 0))) AS pos
        FROM t WHERE n >= 8)),
dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
cov AS (SELECT DISTINCT doc_id, idx FROM (
          SELECT doc_id, unnest(range(pos, pos + 8)) AS idx
          FROM g JOIN dup USING (gram)))"""


@query(oracle=f"""
WITH {_span_cte},
c AS (SELECT doc_id, count(*) AS dup_n FROM cov GROUP BY doc_id)
SELECT t.doc_id, CAST(n AS BIGINT) AS n_tokens,
       CAST(coalesce(dup_n, 0) AS BIGINT) AS n_dup_tokens,
       CAST(n - coalesce(dup_n, 0) AS BIGINT) AS n_clean_tokens
FROM t LEFT JOIN c USING (doc_id)
""")
def dedup_substring(spark, sf_dir):
    """Exact-substring dedup measurement (Lee et al. 2021): per-document
    counts of tokens covered by any 8-token span that occurs more than
    once corpus-wide.  Positions ride the shingle explode; duplicate
    spans are one hash groupBy; coverage is a bounded sequence explode —
    the Spark-expressible formulation of suffix-array span dedup."""
    docs = catalog(spark, sf_dir)["documents"]
    return dedup.duplicate_span_stats(docs, span_tokens=8)


@query(oracle=f"""
WITH {_span_cte},
k AS (SELECT doc_id, idx, t[idx + 1] AS tok
      FROM (SELECT doc_id, t, unnest(range(0, n)) AS idx FROM t WHERE n > 0)),
kept AS (SELECT k.* FROM k ANTI JOIN cov USING (doc_id, idx)),
r AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text,
             count(*) AS kept_n
      FROM kept GROUP BY doc_id)
SELECT t.doc_id, coalesce(r.text, '') AS text,
       CAST(n - coalesce(kept_n, 0) AS BIGINT) AS n_removed
FROM t LEFT JOIN r USING (doc_id)
""")
def dedup_substring_rewrite(spark, sf_dir):
    """The rewrite half: documents with every duplicated 8-token span
    REMOVED (both occurrences — the span policy, unlike the chunk
    rewrite's first-copy-wins), survivors rejoined in position order."""
    docs = catalog(spark, sf_dir)["documents"]
    return dedup.duplicate_span_rewrite(docs, span_tokens=8)


# windowed audio features: sample values AND their successors come
# from the synth arithmetic directly, so zero crossings need no
# window function; pairs crossing a window boundary belong to no
# window ((i+1) % 50 != 0 keeps i and i+1 in the same window)
@query(oracle=_q("""
        WITH s AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 CAST(50 + doc_id % 200 AS BIGINT) AS n,
                 unnest(range(0, CAST(50 + doc_id % 200 AS INT))) AS i
          FROM documents),
        v AS (
          SELECT media_id, n, i, i // 50 AS window_idx,
                 (media_id * 31 + i * 7) % 65536 - 32768 AS val,
                 (media_id * 31 + (i + 1) * 7) % 65536 - 32768 AS nxt
          FROM s)
        SELECT media_id, CAST(window_idx AS BIGINT) AS window_idx,
               CAST(count(*) AS BIGINT) AS n_in_window,
               CAST(sum(val * val) AS BIGINT) AS energy,
               CAST(sum(CASE WHEN (i + 1) % 50 != 0 AND i + 1 < n
                              AND val * nxt < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_crossings
        FROM v GROUP BY media_id, window_idx
    """))
def media_wav_windows(spark, sf_dir):
    """Short-time audio features over the real WAV byte path: per
    50-sample window, exact integer energy and zero-crossing count — the
    VAD/speech-pipeline features, in arithmetic the oracle replays from
    the synth formula (crossings computed arithmetically from adjacent
    sample values, no window function)."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.wav_window_stats(multimodal.synth_wav(docs), window=50)


# continuous-ingestion span regime: corpus half's DISTINCT grams are
# the standing index, batch half rewrites against them ∪ its own
# within-batch duplicates (owner exclusion is moot — the id spaces
# are disjoint, exactly the streaming contract)
_dedup_span_incremental_sql = f"""
WITH t AS (
  SELECT doc_id, str_split(nrm, ' ') AS t,
         CASE WHEN nrm = '' THEN 0 ELSE len(str_split(nrm, ' ')) END AS n
  FROM (SELECT doc_id, {_norm_sql('text')} AS nrm FROM documents)),
bt AS (SELECT * FROM t WHERE doc_id % 5 = 0),
ct AS (SELECT * FROM t WHERE doc_id % 5 != 0),
cg AS (SELECT DISTINCT array_to_string(list_slice(t, pos + 1, pos + 8), ' ') AS gram
       FROM (SELECT t, unnest(range(0, greatest(n - 7, 0))) AS pos
             FROM ct WHERE n >= 8)),
bg AS (SELECT doc_id, pos,
              array_to_string(list_slice(t, pos + 1, pos + 8), ' ') AS gram
       FROM (SELECT doc_id, t, unnest(range(0, greatest(n - 7, 0))) AS pos
             FROM bt WHERE n >= 8)),
dupb AS (SELECT gram FROM bg GROUP BY gram HAVING count(*) >= 2),
hit AS (SELECT gram FROM cg UNION SELECT gram FROM dupb),
cov AS (SELECT DISTINCT doc_id, idx FROM (
          SELECT doc_id, unnest(range(pos, pos + 8)) AS idx
          FROM bg JOIN hit USING (gram))),
k AS (SELECT doc_id, idx, t[idx + 1] AS tok
      FROM (SELECT doc_id, t, unnest(range(0, n)) AS idx FROM bt WHERE n > 0)),
kept AS (SELECT k.* FROM k ANTI JOIN cov USING (doc_id, idx)),
r AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text,
             count(*) AS kept_n
      FROM kept GROUP BY doc_id)
SELECT bt.doc_id, coalesce(r.text, '') AS text,
       CAST(n - coalesce(kept_n, 0) AS BIGINT) AS n_removed
FROM bt LEFT JOIN r USING (doc_id)
"""


@query(oracle=_dedup_span_incremental_sql)
def dedup_span_incremental(spark, sf_dir):
    """Continuous-ingestion exact-substring regime under the hash gate:
    the standing corpus (doc_id % 5 != 0) materializes its span-gram
    index, the arriving batch (% 5 == 0) is rewritten against it —
    standing-span and within-batch duplicated tokens removed, survivors
    rejoined in order.  The streaming sink runs exactly this machinery
    per micro-batch (`operators/dedup.py::incremental_span_rewrite`),
    so the ingest path's rewrite semantics sit under the same oracle as
    the batch operator.  Result checkpointed before the temp index dir
    is deleted."""
    import shutil
    import tempfile

    docs = catalog(spark, sf_dir)["documents"]
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    tmp = tempfile.mkdtemp(prefix="span_idx_q_")
    idx = os.path.join(tmp, "idx")
    try:
        dedup.build_span_index(corpus, idx, span_tokens=8)
        return dedup.incremental_span_rewrite(
            spark, idx, batch, span_tokens=8
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# wide-hash mode: identical results below the 64-bit birthday
# horizon (the whole point of the width is what happens ABOVE it),
# so the narrow oracle string applies verbatim
@query(oracle=_dedup_span_incremental_sql)
def dedup_span_incremental_wide(spark, sf_dir):
    """The continuous exact-substring regime in WIDE-HASH mode: the
    standing index stores BOTH md5 halves per gram (120-bit key — the
    collision horizon past ~10⁹ standing grams the 64-bit docstring
    caveat names), the probe joins on both.  Results are identical to
    `dedup_span_incremental` wherever 64-bit keys don't collide — i.e.
    everywhere below the birthday horizon — so the oracle IS that
    query's oracle verbatim; the unit suite plants an artificial
    low-half collision to show the wide probe rejecting what the narrow
    key would falsely match."""
    import shutil
    import tempfile

    docs = catalog(spark, sf_dir)["documents"]
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    tmp = tempfile.mkdtemp(prefix="span_idx_w_")
    idx = os.path.join(tmp, "idx")
    try:
        dedup.build_span_index(corpus, idx, span_tokens=8, wide_hash=True)
        return dedup.incremental_span_rewrite(
            spark, idx, batch, span_tokens=8, wide_hash=True
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


#: batched BPE: driver rounds and symbol-disjoint merges per round — the
#: production-merge-count scale path (driver round-trips O(merges/K))
BPE_BATCH_ROUNDS = 2
BPE_BATCH_K = 4

#: candidate cap per round (Spark collects this many ranked pairs before
#: the skip-greedy scan; the oracle mirrors it as ``rk <= CAP``)
BPE_BATCH_CAP = 4 * BPE_BATCH_K + 4


# BATCHED BPE training: per round, one ranked-candidate CTE, K greedy
# pick CTEs (each = lowest-rank candidate symbol-disjoint from all
# earlier picks, within the same rk <= CAP the Spark learner
# collects), and one chained-replace CTE; empty picks degrade to a
# chr(1) sentinel replace (never matches).  Same MATERIALIZED rule as
# the serial chain.
def _bpe_train_batched_sql() -> str:
    _bb_parts = [f"""
u0 AS MATERIALIZED (
  SELECT cnt,
         '  ' || array_to_string(list_transform(range(1, len(w) + 1),
                                                i -> w[i]), '  ')
             || '  </w>  ' AS s
  FROM (SELECT t AS w, count(*) AS cnt FROM
          (SELECT unnest({_toks_sql('text')}) AS t FROM documents)
        WHERE t != '' GROUP BY t))"""]
    _bb_reads = []
    for _r in range(1, BPE_BATCH_ROUNDS + 1):
        _bb_parts.append(f"""
c{_r} AS MATERIALIZED (
  SELECT split_part(pair, ' ', 1) AS sa, split_part(pair, ' ', 2) AS sb, n,
         row_number() OVER (ORDER BY n DESC, pair) AS rk
  FROM (
    SELECT pair, sum(cnt) AS n FROM (
      SELECT cnt,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS pair
      FROM (SELECT cnt, str_split(trim(s), '  ') AS t FROM u{_r - 1}))
    GROUP BY pair))""")
        for _j in range(1, BPE_BATCH_K + 1):
            if _j == 1:
                _bb_parts.append(
                    f"\np{_r}_1 AS MATERIALIZED (SELECT * FROM c{_r} WHERE rk = 1)"
                )
            else:
                _excl = " UNION ".join(
                    f"SELECT sa FROM p{_r}_{i} UNION SELECT sb FROM p{_r}_{i}"
                    for i in range(1, _j)
                )
                _bb_parts.append(f"""
p{_r}_{_j} AS MATERIALIZED (
  SELECT * FROM c{_r}
  WHERE rk <= {BPE_BATCH_CAP}
    AND sa NOT IN ({_excl}) AND sb NOT IN ({_excl})
  ORDER BY rk LIMIT 1)""")
            _bb_reads.append(
                f"SELECT {_r} AS r, {_j} AS j, sa, sb, n FROM p{_r}_{_j}"
            )
        if _r < BPE_BATCH_ROUNDS:  # final round's rewrite is never read
            _expr = "s"
            for _j in range(1, BPE_BATCH_K + 1):
                _expr = (
                    f"replace({_expr},\n"
                    f"  coalesce((SELECT ' ' || sa || '  ' || sb || ' ' "
                    f"FROM p{_r}_{_j}), chr(1)),\n"
                    f"  coalesce((SELECT ' ' || sa || sb || ' ' "
                    f"FROM p{_r}_{_j}), ''))"
                )
            _bb_parts.append(f"""
u{_r} AS MATERIALIZED (
  SELECT cnt, {_expr} AS s FROM u{_r - 1})""")
    return (
        "WITH " + ",".join(_bb_parts) + """
SELECT CAST(row_number() OVER (ORDER BY r, j) AS BIGINT) AS merge_round,
       sa AS sym_a, sb AS sym_b, CAST(n AS BIGINT) AS pair_count
FROM (""" + "\nUNION ALL ".join(_bb_reads) + ")"
    )


@query(oracle=_bpe_train_batched_sql())
def bpe_train_batched(spark, sf_dir):
    """BATCHED tokenizer training: each driver round learns up to
    ``BPE_BATCH_K`` symbol-disjoint merges (skip-greedy down the
    count-desc/pair-asc ranking, capped at ``BPE_BATCH_CAP`` candidates)
    and applies them as one chained replace — driver round-trips drop
    from O(merges) to O(merges/K), the fix for serial training's
    job-submission bottleneck at production merge counts (30k+).  The
    oracle unrolls the SAME batched selection per round (ranked-candidate
    CTE + K greedy pick CTEs + one chained-replace CTE), so engine drift
    in ranking, conflict skipping, or batch application breaks the
    hash."""
    docs = catalog(spark, sf_dir)["documents"]
    return textops.bpe_train_merges(
        docs, rounds=BPE_BATCH_ROUNDS, batch_merges=BPE_BATCH_K
    )


#: pHash pairing knobs: 63 signature bits, 7 bands of 9 — complete for
#: Hamming ≤ 6 by pigeonhole (max_hamming < bands)
PHASH_BANDS = 7
PHASH_MAX_HAMMING = 6

# shared fixed-point DCT basis literal (multimodal.PHASH_DCT_K is the
# single source of truth for the engine AND every pHash oracle)
_k_vals = ",".join(
    f"({u},{x},{multimodal.PHASH_DCT_K[u][x]})"
    for u in range(8)
    for x in range(8)
)

# pHash: synth pixels from doc_id arithmetic (the media_jpeg_stats
# formula), nearest-neighbor 8x8 grid, EXACT integer DCT from the
# SHARED coefficient table (multimodal.PHASH_DCT_K — single source
# of truth for both engines), median threshold via list_sort, then
# brute-force xor/bit_count pairing (the banding is complete for
# hamming <= 6, so brute force is the oracle of the banded join)
_phash_cte = f"""d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS seed
  FROM documents),
d2 AS (SELECT media_id, slot, seed,
              8 + seed % 5 AS w, 8 + (3 * seed) % 7 AS h
       FROM d),
kk(u, x, c) AS (VALUES {_k_vals}),
g AS (
  SELECT media_id, gi, gj,
         CASE WHEN slot = 8 THEN base + 4
              WHEN slot = 9 THEN base - base // 16
              ELSE base END AS val
  FROM (
    SELECT media_id, slot, gi, gj,
           (17 * seed + 3 * px * px + 7 * py * py
            + 5 * px * py + 11 * px + 13 * py) % 251 AS base
    FROM (SELECT media_id, slot, seed, gi, gj,
                 (gj * w) // 8 AS px, (gi * h) // 8 AS py
          FROM d2, range(0, 8) r1(gi), range(0, 8) r2(gj)))),
coef AS (
  SELECT media_id, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, ku.u, kv.u),
ac AS (SELECT media_id, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id),
ph AS (SELECT ac.media_id,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id) GROUP BY ac.media_id)"""
_media_phash_pairs_sql = f"""
WITH {_phash_cte}
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
"""


@query(oracle=_media_phash_pairs_sql)
def media_phash_pairs(spark, sf_dir):
    """Perceptual image near-dedup — the multimodal analog of the text
    near-dup stack: textured BMPs with PLANTED near-duplicates
    (`operators/multimodal.py::synth_texture_bmp` — every group of ten
    ids carries a brightness-shifted and a contrast-reduced replay of
    its slot-0 texture) decode through the REAL codec, hash to a 63-bit
    fixed-point-DCT pHash (`phash_media` — integer basis
    `PHASH_DCT_K`, median threshold), and pair by Hamming ≤ 6 via the
    SAME banding/verify core text SimHash uses
    (`operators/dedup.py::hamming_near_pairs`).  The oracle replays the
    whole chain arithmetically: synth pixels from doc_id arithmetic,
    the integer DCT from the shared coefficient table, median via
    list_sort, and brute-force xor/bit_count pairing — any drift in
    resampling, DCT, thresholding, or banding completeness breaks the
    hash."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.phash_media(multimodal.synth_texture_bmp(docs))
    pairs = dedup.hamming_near_pairs(
        sigs, "phash", "media_id",
        bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING,
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


# ImageIO lane: BMP decode is bit-exact vs the repo codec (pinned by
# tests), so the file-based JVM-decoded pairing sits under the SAME
# arithmetic oracle
@query(oracle=_media_phash_pairs_sql)
def media_phash_imageio(spark, sf_dir):
    """The JVM-NATIVE decode lane under the hash gate: the same textured
    synth corpus lands as .bmp FILES, Spark's built-in `image` data
    source (Java ImageIO) decodes them inside the scan, the decoded
    pixels feed the SAME fixed-point DCT pHash, and the banded pairing
    must reproduce `media_phash_pairs` exactly — ImageIO's BMP decode is
    bit-exact vs the repo codec, so the arithmetic oracle holds
    VERBATIM (`operators/multimodal.py::phash_image_files`; staging goes
    through the executor-side spill bridge since r11 — production
    corpora already sit in files, which is the lane's premise)."""
    import shutil
    import tempfile

    docs = catalog(spark, sf_dir)["documents"]
    tmp = tempfile.mkdtemp(prefix="imageio_q_")
    corpus = os.path.join(tmp, "corpus")
    try:
        # r11: executor-side staging through the crash-safe spill bridge
        # (shard=<pid>/<media_id>.bmp — the same digit-run identity the
        # ImageIO lane reads) instead of a serial driver collect+write
        # loop over every payload.  precheck_ids=False: the synth emits
        # exactly one row per id, so the spill is ONE distributed pass
        # (the within-partition digest backstop and written-vs-landed
        # reconciliation stay on).
        media = multimodal.synth_texture_bmp(docs).select(
            "media_id", "format", "payload"
        )
        multimodal.spill_media_to_files(media, corpus, precheck_ids=False)
        sigs = multimodal.phash_image_files(spark, corpus).localCheckpoint(
            eager=True
        )
        pairs = dedup.hamming_near_pairs(
            sigs, "phash", "media_id",
            bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING,
        )
        return pairs.select(
            "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# in-column spill bridge: the executor-side file spill changes the
# decode rate, not one pixel — same verbatim oracle
@query(oracle=_media_phash_pairs_sql)
def media_phash_incolumn_imageio(spark, sf_dir):
    """IN-COLUMN payloads through the JVM-native decode lane (r9) — the
    last Python-rate decode path retired: the same textured synth
    corpus stays a PAYLOAD COLUMN, `operators/multimodal.py::
    phash_media_spilled` spills it to sharded files from the EXECUTORS
    (`spill_media_to_files` — foreachPartition, `shard=<pid>` partition
    discovery, crash-safe staging swap, zero driver staging), Spark's
    `image` source (Java ImageIO) decodes the spilled files inside the
    scan, and the banded pairing must reproduce the `media_phash_pairs`
    oracle VERBATIM — ImageIO's BMP decode is bit-exact vs the repo
    codec, so spilling changes nothing but the decode rate."""
    import shutil
    import tempfile

    docs = catalog(spark, sf_dir)["documents"]
    tmp = tempfile.mkdtemp(prefix="incolumn_q_")
    corpus = os.path.join(tmp, "corpus")
    try:
        sigs = multimodal.phash_media_spilled(
            spark, multimodal.synth_texture_bmp(docs), corpus
        ).localCheckpoint(eager=True)
        pairs = dedup.hamming_near_pairs(
            sigs, "phash", "media_id",
            bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING,
        )
        return pairs.select(
            "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# continuous image-dedup regime: corpus half's signatures are the
# standing index, batch half probes asymmetrically — same CTE chain,
# split readout (the id spaces are disjoint, so the probe's
# self-exclusion is moot, exactly the streaming contract)
@query(oracle=f"""
WITH {_phash_cte}
SELECT a.media_id AS new_id, b.media_id AS corpus_id,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b ON a.media_id % 5 = 0 AND b.media_id % 5 != 0
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
""")
def media_phash_incremental(spark, sf_dir):
    """Continuous image-dedup regime under the hash gate: the standing
    media corpus (doc_id % 5 != 0) materializes its persisted pHash
    signature index (the `streaming/media.py::ingest_media_stream`
    layout: (corpus_id, phash) parquet + banding sidecar), the arriving
    batch (% 5 == 0) probes it asymmetrically via the banded join
    (`operators/dedup.py::hamming_near_pairs_asym`) — exactly the
    per-micro-batch machinery of the streaming sink, so continuous image
    ingest sits under the same oracle as the batch pairing.  Result
    checkpointed before the temp index dir is deleted."""
    import shutil
    import tempfile

    from ..streaming.media import write_phash_meta

    docs = catalog(spark, sf_dir)["documents"]
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    tmp = tempfile.mkdtemp(prefix="phash_idx_q_")
    idx = os.path.join(tmp, "idx")
    try:
        multimodal.phash_media(multimodal.synth_texture_bmp(corpus)).select(
            F.col("media_id").alias("corpus_id"), "phash"
        ).write.mode("overwrite").parquet(idx)
        write_phash_meta(idx, 63, PHASH_BANDS, PHASH_MAX_HAMMING)
        probe = multimodal.phash_media(multimodal.synth_texture_bmp(batch))
        return dedup.hamming_near_pairs_asym(
            probe, spark.read.parquet(idx), "phash",
            bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING,
        ).select(
            "new_id", "corpus_id",
            F.col("hamming").cast("bigint").alias("hamming"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# progressive transmission reorders bits, not coefficients: the
# decoded pixels are identical to the baseline gate's, so the oracle
# IS the baseline oracle verbatim
@query(oracle=_media_jpeg_stats_sql)
def media_jpeg_progressive(spark, sf_dir):
    """PROGRESSIVE (SOF2) JPEG under the hash gate: the same synth
    pattern as `media_jpeg_stats`, but encoded through the four-phase
    spectral-selection + successive-approximation scan script
    (`operators/multimodal.py::encode_jpeg_progressive`) and decoded by
    the Annex-G multi-scan accumulator.  Progressive transmission
    reorders BITS, not coefficients, so the decoded pixels — and
    therefore the oracle SQL — are identical to the baseline gate's; any
    DC/AC first-or-refinement, EOB-run, or correction-bit bug breaks the
    hash."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.jpeg_stats(multimodal.synth_jpeg(docs, progressive=True))


#: audio fingerprint pairing knobs: 30 delta bits (31 windows), 6 bands
#: of 5 — complete for Hamming ≤ 4 by pigeonhole
AUDIO_FP_BANDS = 6
AUDIO_FP_MAX_HAMMING = 4

# audio fingerprint: samples -> exact integer window energies ->
# adjacent-delta sign bits -> 30-bit fingerprint, then brute-force
# xor/bit_count pairing (the completeness oracle of the banded join)
_media_audio_pairs_sql = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS seed
  FROM documents),
s AS (
  SELECT media_id, i // 50 AS w,
         CASE WHEN slot = 8 THEN 2 * base
              WHEN slot = 9 THEN base + (i % 127) - 63
              ELSE base END AS smp
  FROM (SELECT media_id, slot, i,
               (17 * seed + (3 + seed % 5) * i * i
                + (11 + seed % 13) * i) % 4096 - 2048 AS base
        FROM d, range(0, 1550) r(i))),
e AS (SELECT media_id, w, sum(smp * smp) AS energy FROM s GROUP BY media_id, w),
b AS (SELECT e1.media_id, e1.w AS w,
             CASE WHEN e2.energy > e1.energy THEN 1 ELSE 0 END AS bit
      FROM e e1 JOIN e e2 ON e2.media_id = e1.media_id AND e2.w = e1.w + 1),
f AS (SELECT media_id,
             CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(w AS INT))) AS BIGINT)
               AS afp
      FROM b GROUP BY media_id)
SELECT a.media_id AS id_a, bb.media_id AS id_b,
       CAST(bit_count(xor(a.afp, bb.afp)) AS BIGINT) AS hamming
FROM f a JOIN f bb ON a.media_id < bb.media_id
WHERE bit_count(xor(a.afp, bb.afp)) <= {AUDIO_FP_MAX_HAMMING}
"""


@query(oracle=_media_audio_pairs_sql)
def media_audio_pairs(spark, sf_dir):
    """Perceptual AUDIO near-dedup — the third modality gets the same
    near-dup rights as text and images: synthesized PCM16 clips with
    planted near-duplicates (`operators/multimodal.py::synth_audio_clips`
    — every ten ids carry an amplitude-doubled and a jittered replay of
    slot 0) decode through the real WAV codec, fingerprint to 30
    energy-delta bits (`audio_fingerprint` — exact integer window
    energies, bit per adjacent-window sign), and pair by Hamming ≤ 4 via
    the SAME banding/verify core as SimHash and pHash.  The oracle
    replays samples→energies→delta bits→fingerprint arithmetically and
    brute-forces the pairing."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.audio_fingerprint(multimodal.synth_audio_clips(docs))
    pairs = dedup.hamming_near_pairs(
        sigs, "afp", "media_id",
        bits=30, bands=AUDIO_FP_BANDS, max_hamming=AUDIO_FP_MAX_HAMMING,
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


#: offset-robust audio pairing knobs: 16-bit sub-fingerprints, a pair
#: needs >= 8 matching windows at its best-voted offset, stopword
#: sub-fingerprints (row count > 1000) dropped before the join
AUDIO_SUBFP_BITS = 16
AUDIO_OFFSET_MIN_MATCHES = 8
AUDIO_SUBFP_MAX_DF = 1000

# offset-robust audio: the trimmed/padded synth replays window-align
# by construction; the oracle replays samples -> window energies ->
# delta-sign bits -> per-start-window sub-fingerprints, then votes
# exact-match pairs per offset and keeps each pair's best offset.
# The CTE prefix (through `sub`) is SHARED with the incremental
# readout so the batch and continuous regimes can never drift.
_audio_sub_cte = f"""d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS seed
  FROM documents),
si AS (SELECT media_id, slot, seed,
              unnest(range(0, CASE WHEN slot = 8 THEN 1450
                                   WHEN slot = 9 THEN 1700
                                   ELSE 1550 END)) AS i
       FROM d),
s AS (SELECT media_id, i // 50 AS w,
             CASE WHEN slot = 8 THEN
                    (17 * seed + (3 + seed % 5) * (i + 100) * (i + 100)
                     + (11 + seed % 13) * (i + 100)) % 4096 - 2048
                  WHEN slot = 9 AND i < 150 THEN
                    (29 * seed + 7 * i * i + 3 * i) % 4096 - 2048
                  WHEN slot = 9 THEN
                    (17 * seed + (3 + seed % 5) * (i - 150) * (i - 150)
                     + (11 + seed % 13) * (i - 150)) % 4096 - 2048
                  ELSE
                    (17 * seed + (3 + seed % 5) * i * i
                     + (11 + seed % 13) * i) % 4096 - 2048
             END AS smp
      FROM si),
e AS (SELECT media_id, w, sum(smp * smp) AS energy FROM s GROUP BY media_id, w),
bit AS (SELECT e1.media_id, e1.w AS w,
               CASE WHEN e2.energy > e1.energy THEN 1 ELSE 0 END AS b
        FROM e e1 JOIN e e2 ON e2.media_id = e1.media_id AND e2.w = e1.w + 1),
sub AS (SELECT b0.media_id, b0.w AS win_idx,
               CAST(sum(bj.b * (CAST(1 AS BIGINT)
                                << CAST(bj.w - b0.w AS INT))) AS BIGINT) AS subfp
        FROM bit b0 JOIN bit bj
          ON bj.media_id = b0.media_id
         AND bj.w BETWEEN b0.w AND b0.w + {AUDIO_SUBFP_BITS - 1}
        GROUP BY b0.media_id, b0.w
        HAVING count(*) = {AUDIO_SUBFP_BITS})"""
_media_audio_offset_pairs_sql = f"""
WITH {_audio_sub_cte},
keep AS (SELECT subfp FROM sub GROUP BY subfp
         HAVING count(*) <= {AUDIO_SUBFP_MAX_DF}),
subk AS (SELECT sub.media_id, sub.win_idx, sub.subfp
         FROM sub JOIN keep USING (subfp)),
votes AS (SELECT a.media_id AS id_a, b.media_id AS id_b,
                 a.win_idx - b.win_idx AS woff, count(*) AS n
          FROM subk a JOIN subk b
            ON a.subfp = b.subfp AND a.media_id < b.media_id
          GROUP BY 1, 2, 3)
SELECT id_a, id_b, CAST(woff AS BIGINT) AS win_offset,
       CAST(n AS BIGINT) AS n_matched
FROM (SELECT *, row_number() OVER (PARTITION BY id_a, id_b
                                   ORDER BY n DESC, woff) AS rk
      FROM votes)
WHERE rk = 1 AND n >= {AUDIO_OFFSET_MIN_MATCHES}
"""


@query(oracle=_media_audio_offset_pairs_sql)
def media_audio_offset_pairs(spark, sf_dir):
    """OFFSET-ROBUST audio near-dedup — the gap the clip-level
    fingerprint leaves open: a clipped or padded replay shifts every
    energy window, so its single 30-bit fingerprint diverges wholesale
    and `media_audio_pairs` misses it.  Here each clip emits a per-window
    sub-fingerprint SEQUENCE (`operators/multimodal.py::
    audio_subfingerprints` — the actual Haitsma-Kalker probe shape) and
    pairs match by exact sub-fingerprint votes at a consistent window
    offset (`audio_offset_pairs`).  The synth corpus
    (`synth_audio_clips_offset`) plants a front-TRIMMED (2 windows) and
    a front-PADDED (3 windows) replay per ten-id group; the oracle
    replays samples→window energies→delta bits→sub-fingerprints
    arithmetically and brute-forces the vote."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.audio_subfingerprints(
        multimodal.synth_audio_clips_offset(docs),
        frame_bits=AUDIO_SUBFP_BITS,
    )
    return multimodal.audio_offset_pairs(
        sigs,
        min_matches=AUDIO_OFFSET_MIN_MATCHES,
        max_df=AUDIO_SUBFP_MAX_DF,
    )


# continuous offset-audio regime: corpus half's sub-fingerprints are
# the standing index (the stopword cap is computed over THAT side,
# the side whose posting lengths explode), batch half probes — same
# CTE prefix, split readout (disjoint id spaces make the probe's
# self-exclusion moot, the streaming contract)
@query(oracle=f"""
WITH {_audio_sub_cte},
keep AS (SELECT subfp FROM sub WHERE media_id % 5 != 0 GROUP BY subfp
         HAVING count(*) <= {AUDIO_SUBFP_MAX_DF}),
votes AS (SELECT a.media_id AS new_id, b.media_id AS corpus_id,
                 a.win_idx - b.win_idx AS woff, count(*) AS n
          FROM sub a
          JOIN keep ON a.subfp = keep.subfp
          JOIN sub b ON a.subfp = b.subfp
           AND a.media_id % 5 = 0 AND b.media_id % 5 != 0
          GROUP BY 1, 2, 3)
SELECT new_id, corpus_id, CAST(woff AS BIGINT) AS win_offset,
       CAST(n AS BIGINT) AS n_matched
FROM (SELECT *, row_number() OVER (PARTITION BY new_id, corpus_id
                                   ORDER BY n DESC, woff) AS rk
      FROM votes)
WHERE rk = 1 AND n >= {AUDIO_OFFSET_MIN_MATCHES}
""")
def media_audio_offset_incremental(spark, sf_dir):
    """Continuous OFFSET-ROBUST audio dedup under the hash gate: the
    standing corpus (doc_id % 5 != 0) materializes its persisted
    sub-fingerprint index ((corpus_id, win_idx, subfp) parquet), the
    arriving batch (% 5 == 0) probes it via
    `operators/multimodal.py::audio_offset_pairs_asym` — the per-batch
    machinery a fingerprint='audio-offset' ingest lane runs, so the
    continuous regime sits under the same arithmetic oracle as the batch
    pairing (stopword cap computed over the STANDING index).  Result
    checkpointed before the temp index dir is deleted."""
    import shutil
    import tempfile

    docs = catalog(spark, sf_dir)["documents"]
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    tmp = tempfile.mkdtemp(prefix="afp_idx_q_")
    idx = os.path.join(tmp, "idx")
    try:
        multimodal.audio_subfingerprints(
            multimodal.synth_audio_clips_offset(corpus),
            frame_bits=AUDIO_SUBFP_BITS,
        ).select(
            F.col("media_id").alias("corpus_id"), "win_idx", "subfp"
        ).write.mode("overwrite").parquet(idx)
        probe = multimodal.audio_subfingerprints(
            multimodal.synth_audio_clips_offset(batch),
            frame_bits=AUDIO_SUBFP_BITS,
        )
        return multimodal.audio_offset_pairs_asym(
            probe, spark.read.parquet(idx),
            min_matches=AUDIO_OFFSET_MIN_MATCHES, max_df=AUDIO_SUBFP_MAX_DF,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# video: per-frame pHash (same DCT table literal), sequences zipped
# brute-force — same-length clips whose max aligned-frame distance
# stays within the threshold
_video_cte = f"""d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS seed
  FROM documents),
df AS (SELECT media_id, slot, seed,
              unnest(range(0, CAST(3 + seed % 3 AS INT))) AS f
       FROM d),
kk(u, x, c) AS (VALUES {_k_vals}),
g AS (
  SELECT media_id, f, gi, gj,
         CASE WHEN slot = 8 THEN base + 4
              WHEN slot = 9 THEN base - base // 16
              ELSE base END AS val
  FROM (
    SELECT media_id, slot, f, gi, gj,
           (17 * seed + (3 + (seed + f) % 5) * (2 * gj) * (2 * gj)
            + (11 + seed % 13) * (2 * gi) * (2 * gi)
            + 5 * (2 * gj) * (2 * gi)) % 251 AS base
    FROM df, range(0, 8) r1(gi), range(0, 8) r2(gj))),
coef AS (
  SELECT media_id, f, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, f, ku.u, kv.u),
ac AS (SELECT media_id, f, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, f, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id, f),
ph AS (SELECT ac.media_id, ac.f,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id, f) GROUP BY ac.media_id, ac.f),
v AS (SELECT media_id, list(phash ORDER BY f) AS hs FROM ph GROUP BY media_id)"""

_media_video_pairs_sql = f"""
WITH {_video_cte}
SELECT id_a, id_b, n_frames, max_frame_hamming FROM (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         CAST(len(a.hs) AS BIGINT) AS n_frames,
         CAST(list_max(list_transform(range(1, len(a.hs) + 1),
              i -> bit_count(xor(a.hs[i], b.hs[i])))) AS BIGINT)
           AS max_frame_hamming
  FROM v a JOIN v b ON a.media_id < b.media_id AND len(a.hs) = len(b.hs))
WHERE max_frame_hamming <= {PHASH_MAX_HAMMING}
"""


@query(oracle=_media_video_pairs_sql)
def media_video_pairs(spark, sf_dir):
    """Perceptual VIDEO near-dedup — per-frame pHash over the real Y4M
    codec (`operators/multimodal.py::video_phash`, the SAME hash
    arithmetic as still images via `_phash_of_pixels`), paired by
    `video_near_pairs`: same frame count AND every aligned frame within
    Hamming ≤ 6, candidates banded on the first frame (complete by
    pigeonhole, verify = JVM-side zip_with/bit_count).  The synth corpus
    (`synth_texture_y4m`) plants brightness-shifted (distance 0) and
    contrast-reduced clip replays per ten-id group; the oracle replays
    pixels→per-frame DCT hashes→sequence-zip brute force."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.video_phash(multimodal.synth_texture_y4m(docs))
    return multimodal.video_near_pairs(
        sigs, bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING
    )


#: trim-robust video pairing knobs: offsets within ±1 frame, at least 2
#: overlapping frames, at most 1 frame of the longer clip unexplained
VIDEO_TRIM_MAX = 1
VIDEO_TRIM_MIN_OVERLAP = 2

# trim-robust video pairing: the trim synth re-derives each frame
# from its SOURCE index (emitted frame f of a trimmed slot renders
# source frame f+1), per-frame hashes go through the same DCT chain,
# and the readout brute-forces every pair x offset in [-1, 1] —
# every overlapping aligned frame within threshold, at most one
# frame of the longer clip unexplained
_video_trim_cte = f"""d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS seed
  FROM documents),
df AS (SELECT media_id, slot, seed,
              unnest(range(0, CAST(3 + seed % 3 AS INT)
                              - CASE WHEN slot >= 8 THEN 1 ELSE 0 END)) AS f
       FROM d),
kk(u, x, c) AS (VALUES {_k_vals}),
g AS (
  SELECT media_id, f, gi, gj,
         base + CASE WHEN slot = 9 THEN 4 ELSE 0 END AS val
  FROM (
    SELECT media_id, slot, f, gi, gj,
           (17 * seed
            + (3 + (seed + f + CASE WHEN slot >= 8 THEN 1 ELSE 0 END) % 5)
              * (2 * gj) * (2 * gj)
            + (11 + seed % 13) * (2 * gi) * (2 * gi)
            + 5 * (2 * gj) * (2 * gi)) % 251 AS base
    FROM df, range(0, 8) r1(gi), range(0, 8) r2(gj))),
coef AS (
  SELECT media_id, f, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, f, ku.u, kv.u),
ac AS (SELECT media_id, f, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, f, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id, f),
ph AS (SELECT ac.media_id, ac.f,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id, f) GROUP BY ac.media_id, ac.f),
v AS (SELECT media_id, list(phash ORDER BY f) AS hs FROM ph GROUP BY media_id)"""
_video_trim_readout = """
scored AS (
  SELECT {ca}, {cb}, frame_offset, na, nb,
         least(na, nb + frame_offset) - greatest(0, frame_offset) AS ov,
         list_max(list_transform(
           range(greatest(0, frame_offset) + 1,
                 least(na, nb + frame_offset) + 1),
           i -> bit_count(xor(ahs[i], bhs[i - frame_offset])))) AS mh
  FROM pairs)
SELECT {ca}, {cb}, CAST(frame_offset AS BIGINT) AS frame_offset,
       CAST(ov AS BIGINT) AS n_overlap,
       CAST(mh AS BIGINT) AS max_frame_hamming
FROM scored
WHERE mh IS NOT NULL AND mh <= {mh_max}
  AND ov >= {min_ov}
  AND ov >= greatest(na, nb) - {max_trim}
"""
_vt_read_sym = _video_trim_readout.format(
    ca="id_a", cb="id_b", mh_max=PHASH_MAX_HAMMING,
    min_ov=VIDEO_TRIM_MIN_OVERLAP, max_trim=VIDEO_TRIM_MAX,
)

_media_video_trimmed_pairs_sql = f"""
WITH {_video_trim_cte},
pairs AS (
  SELECT a.media_id AS id_a, b.media_id AS id_b, dd.d AS frame_offset,
         len(a.hs) AS na, len(b.hs) AS nb, a.hs AS ahs, b.hs AS bhs
  FROM v a JOIN v b ON a.media_id < b.media_id
  CROSS JOIN (SELECT unnest(range(-{VIDEO_TRIM_MAX}, {VIDEO_TRIM_MAX} + 1)) AS d) dd),{_vt_read_sym}"""


@query(oracle=_media_video_trimmed_pairs_sql)
def media_video_trimmed_pairs(spark, sf_dir):
    """TRIM-ROBUST video near-dedup — the gap the equal-length contract
    leaves open: a re-encoded clip with one frame trimmed never matches
    `media_video_pairs`.  Per-frame pHashes pair by aligned-run voting
    (`operators/multimodal.py::video_trimmed_pairs`: candidates band
    EVERY frame, a (pair, offset) hypothesis qualifies when every
    overlapping aligned frame is within Hamming ≤ 6 and at most one
    frame of the longer clip is unexplained).  The synth corpus
    (`synth_texture_y4m_trim`) plants a one-frame-front-trimmed replay
    and the same trim at +4 brightness per ten-id group; the oracle
    replays pixels→per-frame DCT hashes and brute-forces every pair ×
    offset."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.video_phash(multimodal.synth_texture_y4m_trim(docs))
    return multimodal.video_trimmed_pairs(
        sigs,
        bits=63,
        bands=PHASH_BANDS,
        max_hamming=PHASH_MAX_HAMMING,
        max_trim=VIDEO_TRIM_MAX,
        min_overlap=VIDEO_TRIM_MIN_OVERLAP,
    )


def _video_incremental(spark, sf_dir, sigs, batch_pred, probe):
    """The continuous video-dedup sequence the incremental entries share:
    the standing corpus (documents failing ``batch_pred``) writes its
    per-frame signature index (``sigs`` of the documents, in
    `multimodal.video_index_rows` layout) to a temp dir, the arriving
    batch's signatures ``probe(batch_sigs, index)`` it, and the result is
    checkpointed before the temp dir is deleted.  Both signature frames
    are eager checkpoints: each feeds several joins (the frame-count
    aggregate; the banding/candidate/verify branches of the probe) and
    would otherwise recompute the Python synth+decode+DCT pipeline per
    consumer."""
    import shutil
    import tempfile

    docs = catalog(spark, sf_dir)["documents"]
    tmp = tempfile.mkdtemp(prefix="video_idx_q_")
    idx = os.path.join(tmp, "idx")
    try:
        csigs = sigs(docs.where(~batch_pred)).localCheckpoint(eager=True)
        multimodal.video_index_rows(csigs).write.mode("overwrite").parquet(idx)
        bsigs = sigs(docs.where(batch_pred)).localCheckpoint(eager=True)
        return probe(bsigs, spark.read.parquet(idx)).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_vt_read_asym = _video_trim_readout.format(
    ca="new_id", cb="corpus_id", mh_max=PHASH_MAX_HAMMING,
    min_ov=VIDEO_TRIM_MIN_OVERLAP, max_trim=VIDEO_TRIM_MAX,
)


# continuous trim-robust regime: corpus half's per-frame hashes are
# the standing index, batch half probes — same CTE chain and readout
# template, split pairing (disjoint id spaces make self-exclusion
# moot, the streaming contract)
@query(oracle=f"""
WITH {_video_trim_cte},
pairs AS (
  SELECT a.media_id AS new_id, b.media_id AS corpus_id, dd.d AS frame_offset,
         len(a.hs) AS na, len(b.hs) AS nb, a.hs AS ahs, b.hs AS bhs
  FROM v a JOIN v b ON a.media_id % 5 = 0 AND b.media_id % 5 != 0
  CROSS JOIN (SELECT unnest(range(-{VIDEO_TRIM_MAX}, {VIDEO_TRIM_MAX} + 1)) AS d) dd),{_vt_read_asym}""")
def media_video_trimmed_incremental(spark, sf_dir):
    """Continuous TRIM-ROBUST video dedup under the hash gate: the
    standing corpus (doc_id % 5 != 0) materializes its persisted
    per-frame signature index (the video lane's (corpus_id, frame_idx,
    phash, n_frames) layout), the arriving batch (% 5 == 0) probes it
    via `operators/multimodal.py::video_trimmed_pairs_asym` — the
    aligned-run contract made continuous, which also subsumes the
    equal-length contract at offset 0 (the probe a sink swaps in to
    widen its match contract).  Result checkpointed before the temp
    index dir is deleted."""
    return _video_incremental(
        spark, sf_dir,
        lambda d: multimodal.video_phash(multimodal.synth_texture_y4m_trim(d)),
        F.col("doc_id") % 5 == 0,
        lambda probe, index: multimodal.video_trimmed_pairs_asym(
            probe, index,
            bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING,
            max_trim=VIDEO_TRIM_MAX, min_overlap=VIDEO_TRIM_MIN_OVERLAP,
        ),
    )


def _lane_report(label, names, lanes):
    """One row per lane, in order: the lane's name in column ``label``,
    its pair count and the items a min-id-wins pass would drop (distinct
    ``id_b`` of the pair frame)."""
    return functools.reduce(DataFrame.unionByName, [
        pairs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("id_b").cast("bigint").alias("n_dup_items"),
        ).select(F.lit(name).alias(label), "n_pairs", "n_dup_items")
        for name, pairs in zip(names, lanes)
    ])


# cross-modality panorama: the three pair oracles verbatim as
# subqueries — composition can't drift from the gated components
@query(oracle=f"""
SELECT 'image' AS modality, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT id_b) AS BIGINT) AS n_dup_items
FROM ({_media_phash_pairs_sql})
UNION ALL
SELECT 'audio', CAST(count(*) AS BIGINT), CAST(count(DISTINCT id_b) AS BIGINT)
FROM ({_media_audio_pairs_sql})
UNION ALL
SELECT 'video', CAST(count(*) AS BIGINT), CAST(count(DISTINCT id_b) AS BIGINT)
FROM ({_media_video_pairs_sql})
""")
def media_dedup_panorama(spark, sf_dir):
    """One MEDIA dedup report across all three perceptual modalities —
    the multimodal analog of `dedup_panorama`: per modality, the
    near-dup pair count and how many items would drop under the
    min-id-wins convention (distinct ids on the losing side).  Reuses
    the exact pair queries (`media_phash_pairs`/`media_audio_pairs`/
    `media_video_pairs`); the oracle embeds their oracle SQL verbatim as
    subqueries, so the panorama can never drift from its components."""
    return _lane_report("modality", ["image", "audio", "video"], [
        fn(spark, sf_dir)
        for fn in (media_phash_pairs, media_audio_pairs, media_video_pairs)
    ])


# IVF-PQ composite: the unrolled Lloyd chain (cells + probes) feeds
# the PQ code/table chain — candidates are the probed cells' members,
# ranked by summed integer ADC lookups.  PQ centroids renamed `pqc`
# (the Lloyd chain owns the `cents{{n}}` names).
@query(oracle=f"""
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
corp AS (SELECT vec_id, e FROM v WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 5),
dims AS (SELECT unnest(range(1, 65)) AS i),
cents0 AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) AS ci, e AS cv FROM (
    SELECT vec_id, e, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
    FROM corp ORDER BY h, vec_id LIMIT {ANN_IVF_CELLS})),
{','.join(_lloyd_iter(n) for n in range(ANN_IVF_KM_ITERS))},
cellF AS (
  SELECT vec_id, ci FROM (
    SELECT c.vec_id, ct.ci, {_il2('c.e', 'ct.cv')} AS d
    FROM corp c CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) = 1),
probes AS (
  SELECT q_id, ci FROM (
    SELECT q.q_id, ct.ci, {_il2('q.qe', 'ct.cv')} AS d
    FROM qry q CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d, ci) <= {ANN_IVF_NPROBE}),
pqc AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS j, e AS ce FROM
        (SELECT vec_id, e, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
         FROM corp ORDER BY h, vec_id LIMIT {PQ_CODES})),
sp AS (SELECT unnest(range(0, {PQ_M})) AS m),
cdists AS (
  SELECT c.vec_id, sp.m, pc.j, {_pq_sqdist('c.e', 'pc.ce')} AS d
  FROM corp c CROSS JOIN sp CROSS JOIN pqc pc),
codes AS (
  SELECT vec_id, m, j AS code FROM cdists
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
dt AS (
  SELECT q.q_id, sp.m, pc.j AS code, {_pq_sqdist('q.qe', 'pc.ce')} AS d
  FROM qry q CROSS JOIN sp CROSS JOIN pqc pc),
scored AS (
  SELECT p.q_id, codes.vec_id, CAST(sum(dt.d) AS BIGINT) AS adist
  FROM probes p
  JOIN cellF cf ON cf.ci = p.ci
  JOIN codes ON codes.vec_id = cf.vec_id
  JOIN dt ON dt.q_id = p.q_id AND dt.m = codes.m AND dt.code = codes.code
  GROUP BY 1, 2)
SELECT q_id, vec_id, adist,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
""")
def ann_ivfpq(spark, sf_dir):
    """IVF-PQ composite ANN under the hash gate — the production pairing
    (FAISS IVFPQ): k-means-refined coarse cells prune the scan to nprobe
    cells per query, and within them the PQ asymmetric-distance scan
    ranks by summed integer table lookups over CODES only
    (`operators/similarity.py::ivfpq_topk`).  IVF bounds scan volume, PQ
    bounds bytes per scanned vector — the two costs multiply, which is
    the 100 TB plan.  All-int64 arithmetic end to end, so the oracle
    composes the unrolled Lloyd chain with the PQ code/table chain and
    replays every rank."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    base = _ann_base(corpus)
    cents = similarity.ivf_centroids_kmeans(
        corpus, ANN_IVF_CELLS, iters=ANN_IVF_KM_ITERS, base=base
    )
    cb = similarity.pq_codebook(corpus, n_codes=PQ_CODES, base=base)
    return similarity.ivfpq_topk(
        corpus, q, cents, cb, m_subspaces=PQ_M, k=5, nprobe=ANN_IVF_NPROBE,
        base=base,
    )


# refined IVF-PQ: the Lloyd chain feeds residuals (vector - cell
# centroid), per-subspace codebooks sample residual subvectors in
# per-subspace md5 order, ADC tables are built per (query, probed
# cell) from the query residual, and the top-k' shortlist re-ranks
# by exact integer dot product
@query(oracle=f"""
WITH v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
corp AS (SELECT vec_id, e FROM v WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 5),
dims AS (SELECT unnest(range(1, 65)) AS i),
cents0 AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) AS ci, e AS cv FROM (
    SELECT vec_id, e, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
    FROM corp ORDER BY h, vec_id LIMIT {ANN_IVF_CELLS})),
{','.join(_lloyd_iter(n) for n in range(ANN_IVF_KM_ITERS))},
cellE AS (
  SELECT vec_id, e, ci FROM (
    SELECT c.vec_id, c.e, ct.ci, {_il2('c.e', 'ct.cv')} AS d
    FROM corp c CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) = 1),
res AS (SELECT cf.vec_id, cf.ci,
               list_transform(range(1, 65), i -> cf.e[i] - ct.cv[i]) AS re
        FROM cellE cf JOIN {_km_final} ct USING (ci)),
sp AS (SELECT unnest(range(0, {PQ_M})) AS m),
rcb AS (
  SELECT m, row_number() OVER (PARTITION BY m ORDER BY h, vec_id) - 1 AS j, re
  FROM (SELECT sp.m AS m, r.vec_id AS vec_id, r.re AS re,
               {_hash64_sql("CAST(r.vec_id AS VARCHAR) || ':' || CAST(sp.m AS VARCHAR)")} AS h
        FROM res r CROSS JOIN sp)
  QUALIFY row_number() OVER (PARTITION BY m ORDER BY h, vec_id) <= {PQ_CODES}),
cdist AS (
  SELECT r.vec_id, c.m, c.j,
         list_sum(list_transform(range(1, {_PQ_SUB} + 1), i ->
           (r.re[c.m * {_PQ_SUB} + i] - c.re[c.m * {_PQ_SUB} + i])
           * (r.re[c.m * {_PQ_SUB} + i] - c.re[c.m * {_PQ_SUB} + i]))) AS d
  FROM res r CROSS JOIN rcb c),
codes AS (SELECT vec_id, m, j AS code FROM cdist
          QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
probes AS (
  SELECT q_id, qe, ci FROM (
    SELECT q.q_id, q.qe, ct.ci, {_il2('q.qe', 'ct.cv')} AS d
    FROM qry q CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d, ci) <= {ANN_IVF_NPROBE}),
qres AS (SELECT p.q_id, p.ci,
                list_transform(range(1, 65), i -> p.qe[i] - ct.cv[i]) AS qr
         FROM probes p JOIN {_km_final} ct USING (ci)),
dt AS (
  SELECT qr.q_id, qr.ci, c.m, c.j AS code,
         list_sum(list_transform(range(1, {_PQ_SUB} + 1), i ->
           (qr.qr[c.m * {_PQ_SUB} + i] - c.re[c.m * {_PQ_SUB} + i])
           * (qr.qr[c.m * {_PQ_SUB} + i] - c.re[c.m * {_PQ_SUB} + i]))) AS d
  FROM qres qr CROSS JOIN rcb c),
scored AS (
  SELECT p.q_id, cf.vec_id, CAST(sum(dt.d) AS BIGINT) AS adist
  FROM probes p
  JOIN cellE cf ON cf.ci = p.ci
  JOIN codes ON codes.vec_id = cf.vec_id
  JOIN dt ON dt.q_id = p.q_id AND dt.ci = p.ci
         AND dt.m = codes.m AND dt.code = codes.code
  GROUP BY 1, 2),
shortlist AS (
  SELECT q_id, vec_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id)
          <= {RERANK_K}),
rr AS (SELECT s.q_id, s.vec_id, {_idot('q.qe', 'c.e')} AS dot
       FROM shortlist s JOIN qry q USING (q_id) JOIN corp c USING (vec_id))
SELECT q_id, vec_id, CAST(dot AS BIGINT) AS dot,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS BIGINT) AS rank
FROM rr QUALIFY rank <= 5
""")
def ann_ivfpq_refined(spark, sf_dir):
    """REFINED IVF-PQ under the hash gate — the full FAISS recipe the
    composite `ann_ivfpq` approximates: PQ codes encode RESIDUALS
    (vector − cell centroid) with PER-SUBSPACE codebooks
    (`operators/similarity.py::residual_codebooks`), the query's ADC
    table is built per probed cell from the query residual, and the
    top-k′ ADC candidates re-rank by EXACT integer dot product
    (broadcast-pruned vector fetch).  All-int64 end to end; the oracle
    composes the unrolled Lloyd chain, the per-subspace residual
    codebook sampling, the per-cell ADC tables, and the re-rank."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    base = _ann_base(corpus)
    cents = similarity.ivf_centroids_kmeans(
        corpus, ANN_IVF_CELLS, iters=ANN_IVF_KM_ITERS, base=base
    )
    res = similarity.assigned_residuals(corpus, cents, base=base).persist()
    cbs = similarity.residual_codebooks(
        corpus, cents, m_subspaces=PQ_M, n_codes=PQ_CODES, residuals=res
    )
    return similarity.ivfpq_refined_topk(
        corpus, q, cents, cbs,
        m_subspaces=PQ_M, k=5, k_prime=RERANK_K, nprobe=ANN_IVF_NPROBE,
        assigned=res,
    )


OPQ_ROUNDS = 2


# OPQ: the refined chain with a LEARNED signed-permutation rotation
# unrolled round by round — per round: per-subspace codebook sample
# from the rotated residuals, per-vector encode + reconstruction,
# the 64x64 cross-covariance D[r,c] = sum recon[r]*residual[c], and
# the 64-step greedy Procrustes extraction (max |D| over unused
# rows/cols via JOIN+QUALIFY, not LATERAL: DuckDB 1.0 silently ends a
# recursive CTE whose LATERAL scans a parquet-backed chain
# rows/cols, ties row-then-col, sign of the chosen entry) as a
# RECURSIVE CTE; the final rotation feeds the encode/ADC while the
# re-rank stays on raw vectors
def _opq_encode_sql(t: int, y_src: str) -> str:
    """CTEs rcb{t}/cdist{t}/codes{t}: sample + encode in the
        rotated space of round t."""
    return f"""rcb{t} AS MATERIALIZED (
  SELECT m, row_number() OVER (PARTITION BY m ORDER BY h, vec_id) - 1 AS j,
         y AS re
  FROM (SELECT sp.m AS m, yy.vec_id AS vec_id, yy.y AS y,
               {_hash64_sql("CAST(yy.vec_id AS VARCHAR) || ':' || CAST(sp.m AS VARCHAR)")} AS h
        FROM {y_src} yy CROSS JOIN sp)
  QUALIFY row_number() OVER (PARTITION BY m ORDER BY h, vec_id) <= {PQ_CODES}),
cdist{t} AS (
  SELECT yy.vec_id, c.m, c.j,
         list_sum(list_transform(range(1, {_PQ_SUB} + 1), i ->
           (yy.y[c.m * {_PQ_SUB} + i] - c.re[c.m * {_PQ_SUB} + i])
           * (yy.y[c.m * {_PQ_SUB} + i] - c.re[c.m * {_PQ_SUB} + i]))) AS d
  FROM {y_src} yy CROSS JOIN rcb{t} c),
codes{t} AS MATERIALIZED (SELECT vec_id, m, j AS code FROM cdist{t}
             QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1)"""


def _opq_round_sql(t: int, y_src: str) -> str:
    """One full OPQ round: encode CTEs + reconstruction + covariance
        + the recursive greedy -> rot{t}(r, c, s)."""
    return f"""{_opq_encode_sql(t, y_src)},
recon{t} AS (SELECT cd.vec_id, p.r, b.re[p.r] AS yv
             FROM codes{t} cd JOIN pos p ON p.m = cd.m
             JOIN rcb{t} b ON b.m = cd.m AND b.j = cd.code),
D{t} AS MATERIALIZED (SELECT rc.r AS r, cols.c AS c,
                CAST(sum(rc.yv * res.re[cols.c]) AS BIGINT) AS v
         FROM recon{t} rc JOIN res ON res.vec_id = rc.vec_id
         CROSS JOIN (SELECT unnest(range(1, 65)) AS c) cols
         GROUP BY rc.r, cols.c),
pick{t}(step, rr_, cc_, vv_, used_r, used_c) AS (
  SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
  UNION ALL
  SELECT pick{t}.step + 1, D{t}.r, D{t}.c, D{t}.v,
         list_append(pick{t}.used_r, D{t}.r),
         list_append(pick{t}.used_c, D{t}.c)
  FROM pick{t} JOIN D{t}
    ON NOT list_contains(pick{t}.used_r, D{t}.r)
   AND NOT list_contains(pick{t}.used_c, D{t}.c)
  WHERE pick{t}.step < 64
  QUALIFY row_number() OVER (ORDER BY abs(D{t}.v) DESC, D{t}.r, D{t}.c) = 1),
rot{t} AS MATERIALIZED (SELECT rr_ AS r, cc_ AS c, CASE WHEN vv_ >= 0 THEN 1 ELSE -1 END AS s
           FROM pick{t} WHERE step > 0)"""


def _opq_rotate_sql(name: str, rot: str) -> str:
    return f"""{name} AS MATERIALIZED (
  SELECT res.vec_id, list({rot}.s * res.re[{rot}.c] ORDER BY {rot}.r) AS y
  FROM res CROSS JOIN {rot} GROUP BY res.vec_id)"""


_ann_opq_sql = f"""
WITH RECURSIVE v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
corp AS (SELECT vec_id, e FROM v WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 5),
dims AS (SELECT unnest(range(1, 65)) AS i),
cents0 AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) AS ci, e AS cv FROM (
    SELECT vec_id, e, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
    FROM corp ORDER BY h, vec_id LIMIT {ANN_IVF_CELLS})),
{','.join(_lloyd_iter(n) for n in range(ANN_IVF_KM_ITERS))},
cellE AS (
  SELECT vec_id, e, ci FROM (
    SELECT c.vec_id, c.e, ct.ci, {_il2('c.e', 'ct.cv')} AS d
    FROM corp c CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) = 1),
res AS MATERIALIZED (SELECT cf.vec_id, cf.ci,
               list_transform(range(1, 65), i -> cf.e[i] - ct.cv[i]) AS re
        FROM cellE cf JOIN {_km_final} ct USING (ci)),
sp AS (SELECT unnest(range(0, {PQ_M})) AS m),
pos AS (SELECT sp.m AS m, sp.m * {_PQ_SUB} + i AS r
        FROM sp, range(1, {_PQ_SUB} + 1) t(i)),
y1 AS MATERIALIZED (SELECT vec_id, re AS y FROM res),
{_opq_round_sql(1, 'y1')},
{_opq_rotate_sql('y2', 'rot1')},
{_opq_round_sql(2, 'y2')},
{_opq_rotate_sql('y3', 'rot2')},
{_opq_encode_sql(3, 'y3')},
probes AS (
  SELECT q_id, qe, ci FROM (
    SELECT q.q_id, q.qe, ct.ci, {_il2('q.qe', 'ct.cv')} AS d
    FROM qry q CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d, ci) <= {ANN_IVF_NPROBE}),
qres AS (SELECT p.q_id, p.ci,
                list_transform(range(1, 65), i -> p.qe[i] - ct.cv[i]) AS qr
         FROM probes p JOIN {_km_final} ct USING (ci)),
qy AS (SELECT qres.q_id, qres.ci,
              list(rot2.s * qres.qr[rot2.c] ORDER BY rot2.r) AS qyv
       FROM qres CROSS JOIN rot2 GROUP BY qres.q_id, qres.ci),
dt AS (
  SELECT qy.q_id, qy.ci, c.m, c.j AS code,
         list_sum(list_transform(range(1, {_PQ_SUB} + 1), i ->
           (qy.qyv[c.m * {_PQ_SUB} + i] - c.re[c.m * {_PQ_SUB} + i])
           * (qy.qyv[c.m * {_PQ_SUB} + i] - c.re[c.m * {_PQ_SUB} + i]))) AS d
  FROM qy CROSS JOIN rcb3 c),
scored AS (
  SELECT p.q_id, cf.vec_id, CAST(sum(dt.d) AS BIGINT) AS adist
  FROM probes p
  JOIN cellE cf ON cf.ci = p.ci
  JOIN codes3 ON codes3.vec_id = cf.vec_id
  JOIN dt ON dt.q_id = p.q_id AND dt.ci = p.ci
         AND dt.m = codes3.m AND dt.code = codes3.code
  GROUP BY 1, 2),
shortlist AS (
  SELECT q_id, vec_id FROM scored
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id)
          <= {RERANK_K}),
rr AS (SELECT s.q_id, s.vec_id, {_idot('q.qe', 'c.e')} AS dot
       FROM shortlist s JOIN qry q USING (q_id) JOIN corp c USING (vec_id))
SELECT q_id, vec_id, CAST(dot AS BIGINT) AS dot,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS BIGINT) AS rank
FROM rr QUALIFY rank <= 5
"""


@query(oracle=_ann_opq_sql)
def ann_opq(spark, sf_dir):
    """OPQ-rotated refined IVF-PQ under the hash gate (r9) — the Ge et
    al. optimization the plain subspace split leaves on the table: an
    ORTHOGONAL rotation learned before splitting, restricted to the
    hyperoctahedral group (signed permutations) so every step is exact
    int64 and the oracle can replay it bit-for-bit.
    `operators/similarity.py::opq_signed_permutation` alternates
    assignment (sample codebooks from rotated residuals, encode,
    reconstruct) with rotation (Procrustes over signed permutations =
    greedy max-|cross-covariance| extraction) for OPQ_ROUNDS rounds
    from a deterministic identity init; the final rotation feeds
    `residual_codebooks` and `ivfpq_refined_topk` (encode/ADC in the
    rotated space, exact re-rank on raw vectors).  The oracle unrolls
    BOTH rounds: codebook sampling, per-vector encode+reconstruct, the
    64×64 covariance, and the 64-step greedy via a recursive CTE."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    base = _ann_base(corpus)
    cents = similarity.ivf_centroids_kmeans(
        corpus, ANN_IVF_CELLS, iters=ANN_IVF_KM_ITERS, base=base
    )
    res = similarity.assigned_residuals(corpus, cents, base=base).persist()
    perm, signs = similarity.opq_signed_permutation(
        corpus, cents, m_subspaces=PQ_M, n_codes=PQ_CODES, rounds=OPQ_ROUNDS,
        residuals=res,
    )
    cbs = similarity.residual_codebooks(
        corpus, cents, m_subspaces=PQ_M, n_codes=PQ_CODES,
        perm=perm, signs=signs, residuals=res,
    )
    return similarity.ivfpq_refined_topk(
        corpus, q, cents, cbs,
        m_subspaces=PQ_M, k=5, k_prime=RERANK_K, nprobe=ANN_IVF_NPROBE,
        perm=perm, signs=signs, assigned=res,
    )


# persisted OPQ-IVFPQ probe: identical ranking contract to the
# in-memory OPQ chain (parity-tested), so the oracle is the same
# string — any index-layout/rotation-sidecar/probe drift breaks it
@query(oracle=_ann_opq_sql)
def ann_opq_index(spark, sf_dir):
    """Persisted OPQ-IVFPQ path under the hash gate (r9): train +
    materialize the full index (`similarity.build_ivfpq_index`:
    meta.json with centroids/rotation/codebooks + __cell-partitioned
    (id, vector, codes) lists), then answer the SAME query batch through
    `probe_ivfpq_index` — identical ranking contract to the in-memory
    `ann_opq` chain (parity-tested), so the oracle is the same string;
    any index-layout, rotation-sidecar, code-storage, or probe drift
    breaks this hash.  Result checkpointed before the temp index dir is
    deleted."""
    import shutil
    import tempfile

    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    tmp = tempfile.mkdtemp(prefix="opq_idx_q_")
    try:
        similarity.build_ivfpq_index(
            corpus, tmp, n_cells=ANN_IVF_CELLS, iters=ANN_IVF_KM_ITERS,
            m_subspaces=PQ_M, n_codes=PQ_CODES, opq_rounds=OPQ_ROUNDS,
        )
        return similarity.probe_ivfpq_index(
            spark, tmp, q, k=5, k_prime=RERANK_K, nprobe=ANN_IVF_NPROBE,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_FLAT_OPQ: dict = {}


def _corpus_fingerprint(sf_dir: str, table: str = "embeddings") -> tuple:
    """(mtime_ns, size) of every file under ``<sf_dir>/<table>.parquet``
    (file or directory) — the memo key component that invalidates a
    cached training artifact when the corpus parquet is REGENERATED
    in-place mid-process (test harness, long bench session) rather
    than silently reusing a stale rotation (r10 advisory)."""
    import os as _os

    path = _os.path.join(sf_dir, f"{table}.parquet")
    try:
        if _os.path.isdir(path):
            out = []
            for root, _dirs, files in sorted(_os.walk(path)):
                for f in sorted(files):
                    st = _os.stat(_os.path.join(root, f))
                    out.append((f, st.st_mtime_ns, st.st_size))
            return tuple(out)
        st = _os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ()


def _flat_opq_rotation(spark, sf_dir):
    """The flat-stack OPQ rotation (trained with ``centroids=None``)
    feeds BOTH `ann_pq_opq` and `ann_ivfpq_opq` — memoized per corpus
    SNAPSHOT like the 0.5-Jaccard pair graph: one training pipeline
    whose tiny (perm, signs) output downstream consumers share,
    exactly how a production deployment trains a rotation once per
    corpus snapshot.  The memo keys on (sf_dir, parquet mtimes/sizes),
    so regenerating the embeddings table in-place retrains instead of
    reusing a stale rotation (r11, advisory fix)."""
    key = (sf_dir, _corpus_fingerprint(sf_dir))
    with _MEMO_LOCK:
        if key not in _FLAT_OPQ:
            emb = catalog(spark, sf_dir)["embeddings"]
            corpus = emb.where("vec_id >= 5")
            _FLAT_OPQ[key] = similarity.opq_signed_permutation(
                corpus, None, m_subspaces=PQ_M, n_codes=PQ_CODES,
                rounds=OPQ_ROUNDS,
            )
        return _FLAT_OPQ[key]


# OPQ for the FLAT PQ stack (r10): the SAME two-round rotation
# unroll with res = the quantized vectors themselves (centroid = 0),
# then the plain ann_pq chain — shared md5(id)-order codebook,
# per-subspace nearest-code, query distance table — entirely in the
# rot2-rotated space
@query(oracle=f"""
WITH RECURSIVE qv AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
corp AS (SELECT vec_id, e FROM qv WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, e AS qe FROM qv WHERE vec_id < 5),
res AS MATERIALIZED (SELECT vec_id, e AS re FROM corp),
sp AS (SELECT unnest(range(0, {PQ_M})) AS m),
pos AS (SELECT sp.m AS m, sp.m * {_PQ_SUB} + i AS r
        FROM sp, range(1, {_PQ_SUB} + 1) t(i)),
y1 AS MATERIALIZED (SELECT vec_id, re AS y FROM res),
{_opq_round_sql(1, 'y1')},
{_opq_rotate_sql('y2', 'rot1')},
{_opq_round_sql(2, 'y2')},
{_opq_rotate_sql('y3', 'rot2')},
pcb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS j, y AS ce FROM (
  SELECT vec_id, y, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
  FROM y3 ORDER BY h, vec_id LIMIT {PQ_CODES})),
fdists AS (
  SELECT v.vec_id, sp.m, c.j, {_pq_sqdist('v.y', 'c.ce')} AS d
  FROM y3 v CROSS JOIN sp CROSS JOIN pcb c),
fcodes AS (
  SELECT vec_id, m, j AS code FROM fdists
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
qrot AS (SELECT qry.q_id, list(rot2.s * qry.qe[rot2.c] ORDER BY rot2.r) AS qy
         FROM qry CROSS JOIN rot2 GROUP BY qry.q_id),
fdt AS (
  SELECT q.q_id, sp.m, c.j AS code, {_pq_sqdist('q.qy', 'c.ce')} AS d
  FROM qrot q CROSS JOIN sp CROSS JOIN pcb c),
scored AS (
  SELECT fdt.q_id, fcodes.vec_id, CAST(sum(fdt.d) AS BIGINT) AS adist
  FROM fcodes JOIN fdt ON fdt.m = fcodes.m AND fdt.code = fcodes.code
  GROUP BY 1, 2)
SELECT q_id, vec_id, adist,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
""")
def ann_pq_opq(spark, sf_dir):
    """OPQ for the FLAT (non-residual) PQ stack (r10) — the rotation the
    residual chain got in r9, threaded through
    `pq_codebook`/`pq_encode`/`pq_adc_topk`: the trainer runs with
    ``centroids=None`` (the "residual" is the quantized vector itself),
    and the learned signed permutation rotates the corpus encode, the
    shared codebook, and the query ADC table in lockstep — same rows
    sampled (the codebook keys on ids, not vectors), same int64
    exactness, better subspace splits.  The oracle reuses the `ann_opq`
    round unroll (recursive greedy Procrustes) with the residual frame
    replaced by the quantized vectors, then replays the flat `ann_pq`
    code/table chain in the rotated space."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    base = _ann_base(corpus)
    perm, signs = _flat_opq_rotation(spark, sf_dir)
    cb = similarity.pq_codebook(
        corpus, n_codes=PQ_CODES, perm=perm, signs=signs, base=base
    )
    return similarity.pq_adc_topk(
        corpus, q, cb, m_subspaces=PQ_M, k=5, perm=perm, signs=signs,
        base=base,
    )


# OPQ for the composite IVF-PQ (r10): the Lloyd cells/probes of
# ann_ivfpq + the two-round rotation unroll of ann_pq_opq + the
# flat code/table chain in the rotated space — cell assignment
# stays raw (isometry)
@query(oracle=f"""
WITH RECURSIVE v AS (SELECT vec_id,
  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS e
  FROM embeddings),
corp AS (SELECT vec_id, e FROM v WHERE vec_id >= 5),
qry AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 5),
dims AS (SELECT unnest(range(1, 65)) AS i),
cents0 AS (
  SELECT row_number() OVER (ORDER BY h, vec_id) AS ci, e AS cv FROM (
    SELECT vec_id, e, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
    FROM corp ORDER BY h, vec_id LIMIT {ANN_IVF_CELLS})),
{','.join(_lloyd_iter(n) for n in range(ANN_IVF_KM_ITERS))},
cellF AS (
  SELECT vec_id, ci FROM (
    SELECT c.vec_id, ct.ci, {_il2('c.e', 'ct.cv')} AS d
    FROM corp c CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, ci) = 1),
probes AS (
  SELECT q_id, ci FROM (
    SELECT q.q_id, ct.ci, {_il2('q.qe', 'ct.cv')} AS d
    FROM qry q CROSS JOIN {_km_final} ct)
  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY d, ci) <= {ANN_IVF_NPROBE}),
res AS MATERIALIZED (SELECT vec_id, e AS re FROM corp),
sp AS (SELECT unnest(range(0, {PQ_M})) AS m),
pos AS (SELECT sp.m AS m, sp.m * {_PQ_SUB} + i AS r
        FROM sp, range(1, {_PQ_SUB} + 1) t(i)),
y1 AS MATERIALIZED (SELECT vec_id, re AS y FROM res),
{_opq_round_sql(1, 'y1')},
{_opq_rotate_sql('y2', 'rot1')},
{_opq_round_sql(2, 'y2')},
{_opq_rotate_sql('y3', 'rot2')},
pcb AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS j, y AS ce FROM (
  SELECT vec_id, y, {_hash64_sql("CAST(vec_id AS VARCHAR)")} AS h
  FROM y3 ORDER BY h, vec_id LIMIT {PQ_CODES})),
fdists AS (
  SELECT v.vec_id, sp.m, c.j, {_pq_sqdist('v.y', 'c.ce')} AS d
  FROM y3 v CROSS JOIN sp CROSS JOIN pcb c),
fcodes AS (
  SELECT vec_id, m, j AS code FROM fdists
  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) = 1),
qrot AS (SELECT qry.q_id, list(rot2.s * qry.qe[rot2.c] ORDER BY rot2.r) AS qy
         FROM qry CROSS JOIN rot2 GROUP BY qry.q_id),
fdt AS (
  SELECT q.q_id, sp.m, c.j AS code, {_pq_sqdist('q.qy', 'c.ce')} AS d
  FROM qrot q CROSS JOIN sp CROSS JOIN pcb c),
scored AS (
  SELECT p.q_id, fcodes.vec_id, CAST(sum(fdt.d) AS BIGINT) AS adist
  FROM probes p
  JOIN cellF cf ON cf.ci = p.ci
  JOIN fcodes ON fcodes.vec_id = cf.vec_id
  JOIN fdt ON fdt.q_id = p.q_id AND fdt.m = fcodes.m
          AND fdt.code = fcodes.code
  GROUP BY 1, 2)
SELECT q_id, vec_id, adist,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS BIGINT) AS rank
FROM scored QUALIFY rank <= 5
""")
def ann_ivfpq_opq(spark, sf_dir):
    """OPQ for the COMPOSITE IVF-PQ (r10) — completing the rotation
    across all three PQ chains (flat `ann_pq_opq`, residual `ann_opq`,
    and now the shared-codebook composite): cell assignment stays on
    the raw quantized vectors (rotation is an isometry — rotating the
    coarse quantizer would change nothing), while the PQ encode, the
    shared codebook, and the query ADC tables all run in the learned
    rotated space.  The oracle composes the unrolled Lloyd chain with
    the two-round rotation unroll and the flat code/table chain.  The
    rotation comes from the `_FLAT_OPQ` memo that `ann_pq_opq` (earlier
    in registry order) fills, so this entry's bench time excludes OPQ
    training."""
    emb = catalog(spark, sf_dir)["embeddings"]
    corpus = emb.where("vec_id >= 5")
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    base = _ann_base(corpus)
    cents = similarity.ivf_centroids_kmeans(
        corpus, ANN_IVF_CELLS, iters=ANN_IVF_KM_ITERS, base=base
    )
    perm, signs = _flat_opq_rotation(spark, sf_dir)
    cb = similarity.pq_codebook(
        corpus, n_codes=PQ_CODES, perm=perm, signs=signs, base=base
    )
    return similarity.ivfpq_topk(
        corpus, q, cents, cb, m_subspaces=PQ_M, k=5,
        nprobe=ANN_IVF_NPROBE, perm=perm, signs=signs, base=base,
    )


def _video_near_pairs_asym(probe, index):
    return multimodal.video_near_pairs_asym(
        probe, index, bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING
    )


# continuous video regime: corpus half's per-frame signatures are the
# standing index, batch half probes with the same aligned-sequence
# contract — shared CTE chain, split readout (disjoint id spaces make
# the probe's self-exclusion moot, the streaming contract)
@query(oracle=f"""
WITH {_video_cte}
SELECT new_id, corpus_id, n_frames, max_frame_hamming FROM (
  SELECT a.media_id AS new_id, b.media_id AS corpus_id,
         CAST(len(a.hs) AS BIGINT) AS n_frames,
         CAST(list_max(list_transform(range(1, len(a.hs) + 1),
              i -> bit_count(xor(a.hs[i], b.hs[i])))) AS BIGINT)
           AS max_frame_hamming
  FROM v a JOIN v b
    ON a.media_id % 5 = 0 AND b.media_id % 5 != 0
   AND len(a.hs) = len(b.hs))
WHERE max_frame_hamming <= {PHASH_MAX_HAMMING}
""")
def media_video_incremental(spark, sf_dir):
    """Continuous video-dedup regime under the hash gate: the standing
    corpus (doc_id % 5 != 0) materializes its persisted per-frame
    signature index (the video lane's layout: (corpus_id, frame_idx,
    phash, n_frames) parquet), the arriving batch (% 5 == 0) probes it
    via `operators/multimodal.py::video_near_pairs_asym` — exactly the
    per-micro-batch machinery of `ingest_media_stream(fingerprint=
    "video")`, so continuous video ingest sits under the same oracle as
    the batch pairing.  Result checkpointed before the temp index dir is
    deleted."""
    return _video_incremental(
        spark, sf_dir,
        lambda d: multimodal.video_phash(multimodal.synth_texture_y4m(d)),
        F.col("doc_id") % 5 == 0,
        _video_near_pairs_asym,
    )


#: shot-cut threshold: a frame more than this many pHash bits from its
#: predecessor starts a new shot (planted synth: within-shot distance is
#: exactly 0, cross-shot 22-46 — 16 sits safely between)
VIDEO_CUT_HAMMING = 16


# shot detection: the shots synth re-seeds the quadratic texture per
# 2-frame shot (+3 brightness on each shot's second frame — AC
# invariant, distance 0); per-frame hashes go through the same DCT
# chain, then lag-window cuts and a running shot id replay the
# operator's windows verbatim
@query(oracle=f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(doc_id AS BIGINT) AS seed
  FROM documents),
df AS (SELECT media_id, seed,
              unnest(range(0, CAST(2 * (2 + seed % 3) AS INT))) AS f
       FROM d),
kk(u, x, c) AS (VALUES {_k_vals}),
g AS (
  SELECT media_id, f, gi, gj,
         (17 * s2 + (3 + s2 % 5) * (2 * gj) * (2 * gj)
          + (11 + s2 % 13) * (2 * gi) * (2 * gi)
          + 5 * (2 * gj) * (2 * gi)) % 251 + 3 * (f % 2) AS val
  FROM (SELECT media_id, f, seed + 101 * (f // 2) AS s2 FROM df),
       range(0, 8) r1(gi), range(0, 8) r2(gj)),
coef AS (
  SELECT media_id, f, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, f, ku.u, kv.u),
ac AS (SELECT media_id, f, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, f, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id, f),
ph AS (SELECT ac.media_id, ac.f,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id, f) GROUP BY ac.media_id, ac.f),
lagged AS (SELECT media_id, f, phash,
                  lag(phash) OVER (PARTITION BY media_id ORDER BY f) AS prev
           FROM ph),
cuts AS (SELECT media_id, f,
                CASE WHEN prev IS NULL
                          OR bit_count(xor(phash, prev)) > {VIDEO_CUT_HAMMING}
                     THEN 1 ELSE 0 END AS is_cut
         FROM lagged),
sh AS (SELECT media_id, f,
              sum(is_cut) OVER (PARTITION BY media_id ORDER BY f) - 1
                AS shot_idx
       FROM cuts)
SELECT media_id, CAST(shot_idx AS BIGINT) AS shot_idx,
       CAST(min(f) AS BIGINT) AS start_frame,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(min(f) + (count(*) - 1) // 2 AS BIGINT) AS keyframe_idx
FROM sh GROUP BY media_id, shot_idx
""")
def media_video_shots(spark, sf_dir):
    """SHOT (scene-change) detection + keyframe sampling — the
    segmentation a video pipeline runs before frame-sampling into a
    training set (`operators/multimodal.py::video_shots`): a frame more
    than `VIDEO_CUT_HAMMING` pHash bits from its predecessor starts a
    new shot, and each shot's MIDDLE frame is its keyframe.  The synth
    corpus (`synth_texture_y4m_shots`) plants `2 + seed mod 3` shots of
    two frames each — the shot's second frame is a +3 brightness drift
    (pHash distance exactly 0), a shot change re-seeds the quadratic
    texture (distance 22-46).  Per-clip windows only (state is one
    clip's frames, never global); the oracle replays
    pixels→per-frame DCT hashes→lag cuts→running shot ids."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.video_phash(multimodal.synth_texture_y4m_shots(docs))
    return multimodal.video_shots(sigs, cut_threshold=VIDEO_CUT_HAMMING)


# EXIF: the oracle never parses bytes — it constructs the expected
# fields from the same id arithmetic the synth used (the synth_url
# pattern), so any marker-walk / byte-order / IFD-offset / inline-vs-
# indirected bug in the parser breaks the match
@query(oracle="""
SELECT CAST(doc_id AS BIGINT) AS media_id,
       doc_id % 10 != 0 AS has_exif,
       CASE WHEN doc_id % 10 = 0 THEN NULL
            WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
       CASE WHEN doc_id % 10 = 0 THEN NULL
            ELSE CAST(1 + doc_id % 8 AS BIGINT) END AS orientation,
       CASE WHEN doc_id % 10 = 0 THEN NULL
            ELSE 'CAM' || (doc_id % 5) END AS make,
       CASE WHEN doc_id % 10 = 0 THEN NULL
            ELSE 'MODEL-' || (doc_id % 7) END AS model,
       CASE WHEN doc_id % 10 = 0 THEN NULL
            ELSE printf('%04d:%02d:%02d %02d:%02d:%02d',
                        2010 + doc_id % 15, 1 + doc_id % 12,
                        1 + doc_id % 28, doc_id % 24, doc_id % 60,
                        (7 * doc_id) % 60) END AS "datetime",
       CASE WHEN doc_id % 10 = 0 THEN NULL
            ELSE printf('%04d:%02d:%02d %02d:%02d:%02d',
                        2009 + doc_id % 15, 1 + doc_id % 12,
                        1 + doc_id % 28, doc_id % 24, doc_id % 60,
                        (7 * doc_id) % 60) END AS datetime_original,
       CASE WHEN doc_id % 10 = 0 THEN NULL
            ELSE CAST(100 + doc_id % 900 AS BIGINT) END AS exif_w,
       CASE WHEN doc_id % 10 = 0 THEN NULL
            ELSE CAST(50 + doc_id % 500 AS BIGINT) END AS exif_h
FROM documents
""")
def media_exif(spark, sf_dir):
    """EXIF curation metadata from real JPEG bytes — orientation (needed
    before geometry-sensitive signatures), capture timestamps (temporal
    filtering), camera make/model (source stratification), declared
    dimensions.  `synth_jpeg_exif` splices a spec-shaped APP1 TIFF tree
    (both II and MM byte orders by id parity, all eight orientation
    values, indirected ASCII + inline SHORT/LONG entries, a chained Exif
    sub-IFD) into the real JPEG byte path; ids divisible by 10 carry no
    EXIF at all (the common crawl case — null fields, not a failure).
    `operators/multimodal.py::exif_metadata` walks markers and IFDs
    dependency-free; the oracle constructs every expected field
    independently from the id arithmetic (the `synth_url` pattern)."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.exif_metadata(multimodal.synth_jpeg_exif(docs))


#: image curation gate knobs: both sides at least 32px, longer side at
#: most 3x the shorter (the LAION-style pre-filter defaults)
GATE_MIN_SIDE = 32
GATE_MAX_ASPECT = 3


# curation gate: dims re-derived from the synth arithmetic, gate
# conditions replayed verbatim — the ENGINE's dims come from the
# real BMP decode, so a header/stride bug breaks the match
@query(oracle=f"""
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
                  CAST(4 + (7 * doc_id) % 61 AS BIGINT) AS w,
                  CAST(4 + (11 * doc_id) % 93 AS BIGINT) AS h
           FROM documents)
SELECT media_id, w AS width, h AS height,
       least(w, h) >= {GATE_MIN_SIDE}
         AND greatest(w, h) <= {GATE_MAX_ASPECT} * least(w, h) AS keep,
       CASE WHEN least(w, h) < {GATE_MIN_SIDE} THEN 'small'
            WHEN greatest(w, h) > {GATE_MAX_ASPECT} * least(w, h)
              THEN 'aspect'
            ELSE 'ok' END AS reason
FROM d
""")
def media_curation_gate(spark, sf_dir):
    """Image curation gate — the LAION-style dimension/aspect pre-filter
    every image-text corpus applies before any expensive stage
    (`operators/multimodal.py::media_gate`, pure JVM expressions over
    decoded dims).  The synth corpus (`synth_varied_bmp`) spans 4-96px
    with many skewed aspects; the REAL BMP decode supplies the
    dimensions (a header/stride bug breaks the match), the oracle
    re-derives them from the id arithmetic and replays the gate."""
    docs = catalog(spark, sf_dir)["documents"]
    decoded = multimodal.decode_media(multimodal.synth_varied_bmp(docs))
    return multimodal.media_gate(
        decoded, min_side=GATE_MIN_SIDE, max_aspect=GATE_MAX_ASPECT
    )


# orientation-normalized pairing: the oracle renders every id's
# DISPLAY pixels (slots 8/9 fold to their group seed — normalization
# makes their matrices EQUAL slot-0's by construction, which is
# exactly what the engine must reproduce through the EXIF parse +
# index permutation + exact JPEG decode), then the shared DCT chain
# and brute-force pairing
_media_phash_oriented_sql = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS seed
  FROM documents),
d2 AS (SELECT media_id, seed,
              8 * (2 + seed % 3) AS w,
              8 * (2 + (3 * seed + 1) % 2) AS h
       FROM d),
kk(u, x, c) AS (VALUES {_k_vals}),
g AS (
  SELECT media_id, gi, gj,
         128 + 2 * ((3 * seed
                     + (5 + seed % 17) * bx
                     + (7 + seed % 13) * by
                     + (1 + seed % 5) * bx * by) % 48) AS val
  FROM (SELECT media_id, seed,
               gi, gj,
               ((gj * w) // 8) // 8 AS bx, ((gi * h) // 8) // 8 AS by
        FROM d2, range(0, 8) r1(gi), range(0, 8) r2(gj))),
coef AS (
  SELECT media_id, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, ku.u, kv.u),
ac AS (SELECT media_id, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id),
ph AS (SELECT ac.media_id,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id) GROUP BY ac.media_id)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
"""


@query(oracle=_media_phash_oriented_sql)
def media_phash_oriented(spark, sf_dir):
    """ORIENTATION-NORMALIZED image near-dedup — the rotated-refetch gap
    the raw pHash leaves open: a phone photo re-served with an EXIF
    orientation tag (sensor matrix stored, display rotation tagged) has
    a wildly different raw hash.  `synth_jpeg_oriented` plants a
    90°-CCW-stored/orientation-6 and a mirrored/orientation-2 refetch
    of each group's slot-0 image;
    `operators/multimodal.py::phash_media_oriented` parses the tag,
    normalizes pixels to display orientation (lossless index
    permutations over the exact q=16 JPEG decode), and runs the SAME
    fixed-point DCT hash, so the planted refetches land at distance 0.
    The oracle replays the DISPLAY-orientation pixel arithmetic (slots
    8/9 fold to their group seed) through the shared DCT chain and
    brute-forces the pairing."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.phash_media_oriented(
        multimodal.synth_jpeg_oriented(docs)
    )
    pairs = dedup.hamming_near_pairs(
        sigs, "phash", "media_id",
        bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING,
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


# dihedral-minimum pairing: the oracle renders the FULL ORBIT — all
# eight orientation-sampled grids per seed (slots 8/9 fold to their
# group seed: their stored matrices are dihedral transforms of
# slot-0's, and group closure makes the orbits — hence the min —
# EQUAL), then the shared DCT chain, min over orientations, and
# brute-force pairing
_media_phash_dihedral_sql = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS seed
  FROM documents),
d2 AS (SELECT media_id, seed,
              8 * (8 + seed % 3) AS w,
              8 * (8 + (3 * seed + 1) % 2) AS h
       FROM d),
kk(u, x, c) AS (VALUES {_k_vals}),
base AS (
  SELECT media_id, seed, w, h, o, gi, gj,
         CASE WHEN o <= 4 THEN (gi * h) // 8 ELSE (gi * w) // 8 END AS ri,
         CASE WHEN o <= 4 THEN (gj * w) // 8 ELSE (gj * h) // 8 END AS cj
  FROM d2, range(1, 9) ro(o), range(0, 8) r1(gi), range(0, 8) r2(gj)),
src AS (
  SELECT media_id, seed, o, gi, gj,
         CASE WHEN o IN (1, 2) THEN ri WHEN o IN (3, 4) THEN h - 1 - ri
              WHEN o IN (5, 8) THEN cj ELSE h - 1 - cj END AS r,
         CASE WHEN o IN (1, 4) THEN cj WHEN o IN (2, 3) THEN w - 1 - cj
              WHEN o IN (5, 6) THEN ri ELSE w - 1 - ri END AS c
  FROM base),
g AS (
  SELECT media_id, o, gi, gj,
         128 + 2 * ((3 * seed
                     + (5 + seed % 17) * (c // 8)
                     + (7 + seed % 13) * (r // 8)
                     + (1 + seed % 5) * (c // 8) * (r // 8)) % 48) AS val
  FROM src),
coef AS (
  SELECT media_id, o, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, o, ku.u, kv.u),
ac AS (SELECT media_id, o, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, o, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id, o),
ph8 AS (SELECT ac.media_id, ac.o,
               CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                             ELSE 0 END) AS BIGINT) AS phash
        FROM ac JOIN med USING (media_id, o) GROUP BY ac.media_id, ac.o),
ph AS (SELECT media_id, min(phash) AS phash FROM ph8 GROUP BY media_id)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
"""


@query(oracle=_media_phash_dihedral_sql)
def media_phash_dihedral(spark, sf_dir):
    """ROTATION-INVARIANT image near-dedup WITHOUT EXIF (r9) — the
    stripped-refetch gap the oriented lane leaves open: re-hosting
    pipelines strip metadata, so a rotated copy carries no orientation
    tag to normalize by.  `synth_jpeg_dihedral` plants a 90°-rotated
    and a mirrored refetch of each group's slot-0 image with NO EXIF;
    `operators/multimodal.py::phash_media_dihedral` hashes the MINIMUM
    over the 8 dihedral-orbit pHashes (D4 group closure makes exact
    transforms land at distance 0 even for non-square images).  The
    oracle renders ALL EIGHT orientation-sampled grids per seed through
    the shared DCT chain, takes the min, and brute-forces the pairing —
    any transform-indexing, orbit, or min bug breaks the hash."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.phash_media_dihedral(
        multimodal.synth_jpeg_dihedral(docs)
    )
    pairs = dedup.hamming_near_pairs(
        sigs, "phash", "media_id",
        bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING,
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


# continuous dihedral regime: the full-orbit chain with an
# asymmetric batch-vs-corpus readout (disjoint id spaces, the
# streaming contract — same derivation pattern as the other
# *_incremental oracles)
_dihedral_readout = 'SELECT a.media_id AS id_a'
_dihedral_body = _media_phash_dihedral_sql[
    : _media_phash_dihedral_sql.rindex(_dihedral_readout)
]


@query(oracle=_dihedral_body + f"""SELECT a.media_id AS new_id, b.media_id AS corpus_id,
       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
FROM ph a JOIN ph b
  ON a.media_id % 5 = 0 AND b.media_id % 5 != 0
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
""")
def media_dihedral_incremental(spark, sf_dir):
    """Continuous ROTATION-INVARIANT image dedup (r9) — the streaming
    regime of `media_phash_dihedral`: the standing corpus (doc_id % 5 !=
    0) materializes its persisted DIHEDRAL signature index (the
    `ingest_media_stream(fingerprint="phash-dihedral")` layout), the
    arriving batch (% 5 == 0) probes it via the banded asymmetric join —
    so a stripped-rotation refetch dedups at the door, continuously.
    The oracle reuses the full-orbit dihedral chain with an asymmetric
    readout."""
    import shutil
    import tempfile

    from ..streaming.media import write_phash_meta

    docs = catalog(spark, sf_dir)["documents"]
    batch = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    tmp = tempfile.mkdtemp(prefix="dihedral_idx_q_")
    idx = os.path.join(tmp, "idx")
    try:
        multimodal.phash_media_dihedral(
            multimodal.synth_jpeg_dihedral(corpus)
        ).select(
            F.col("media_id").alias("corpus_id"), "phash"
        ).write.mode("overwrite").parquet(idx)
        write_phash_meta(
            idx, 63, PHASH_BANDS, PHASH_MAX_HAMMING,
            fingerprint="phash-dihedral",
        )
        probe = multimodal.phash_media_dihedral(
            multimodal.synth_jpeg_dihedral(batch)
        )
        return dedup.hamming_near_pairs_asym(
            probe, spark.read.parquet(idx), "phash",
            bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING,
        ).select(
            "new_id", "corpus_id",
            F.col("hamming").cast("bigint").alias("hamming"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# KMV/theta set algebra: bottom-k samples, thresholds, the union
# re-take, and the 2^40 fixed-point scaling replayed verbatim
_KMV_K = sketches.KMV_K
_KMV_RANGE = sketches.KMV_RANGE
_KMV_SCALE = 1 << 40


@query(oracle=f"""
WITH ha AS (SELECT DISTINCT {_hash64_sql("'kmv:' || CAST(o_custkey AS VARCHAR)")} AS h
            FROM orders WHERE {_BEFORE_1998}),
hb AS (SELECT DISTINCT {_hash64_sql("'kmv:' || CAST(o_custkey AS VARCHAR)")} AS h
       FROM orders WHERE {_FROM_1998}),
ska AS (SELECT h FROM ha ORDER BY h LIMIT {_KMV_K}),
skb AS (SELECT h FROM hb ORDER BY h LIMIT {_KMV_K}),
sa AS (SELECT count(*) AS n, max(h) AS mx FROM ska),
sb AS (SELECT count(*) AS n, max(h) AS mx FROM skb),
ta AS (SELECT CASE WHEN n >= {_KMV_K} THEN mx ELSE {_KMV_RANGE} END AS t, n FROM sa),
tb AS (SELECT CASE WHEN n >= {_KMV_K} THEN mx ELSE {_KMV_RANGE} END AS t, n FROM sb),
th AS (SELECT least(ta.t, tb.t) AS theta FROM ta, tb),
um AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
       ORDER BY h LIMIT {_KMV_K}),
su AS (SELECT count(*) AS n, max(h) AS mx FROM um),
tu AS (SELECT CASE WHEN n >= {_KMV_K} THEN mx ELSE {_KMV_RANGE} END AS t, n FROM su),
c AS (SELECT
        (SELECT count(*) FROM ska, th WHERE h < theta) AS c_a,
        (SELECT count(*) FROM ska JOIN skb USING (h), th WHERE h < theta)
          AS c_int),
xa AS (SELECT count(DISTINCT o_custkey) AS n FROM orders WHERE {_BEFORE_1998}),
xb AS (SELECT count(DISTINCT o_custkey) AS n FROM orders WHERE {_FROM_1998}),
xu AS (SELECT count(DISTINCT o_custkey) AS n FROM orders)
SELECT
  CAST(CASE WHEN ta.t >= {_KMV_RANGE} THEN ta.n
            ELSE ({_KMV_K - 1} * {_KMV_SCALE}) // ((ta.t >> 20) + 1) END AS BIGINT)
    AS a_est,
  CAST(CASE WHEN tb.t >= {_KMV_RANGE} THEN tb.n
            ELSE ({_KMV_K - 1} * {_KMV_SCALE}) // ((tb.t >> 20) + 1) END AS BIGINT)
    AS b_est,
  CAST(CASE WHEN tu.t >= {_KMV_RANGE} THEN tu.n
            ELSE ({_KMV_K - 1} * {_KMV_SCALE}) // ((tu.t >> 20) + 1) END AS BIGINT)
    AS union_est,
  CAST(CASE WHEN th.theta >= {_KMV_RANGE} THEN c.c_int
            ELSE (c.c_int * {_KMV_SCALE}) // ((th.theta >> 20) + 1) END AS BIGINT)
    AS inter_est,
  CAST(CASE WHEN th.theta >= {_KMV_RANGE} THEN c.c_a - c.c_int
            ELSE ((c.c_a - c.c_int) * {_KMV_SCALE}) // ((th.theta >> 20) + 1) END
       AS BIGINT) AS diff_est,
  CAST(xa.n AS BIGINT) AS a_exact, CAST(xb.n AS BIGINT) AS b_exact,
  CAST(xu.n AS BIGINT) AS union_exact,
  CAST(xa.n + xb.n - xu.n AS BIGINT) AS inter_exact,
  CAST(xu.n - xb.n AS BIGINT) AS diff_exact
FROM ta, tb, tu, th, c, xa, xb, xu
""")
def sketch_theta_diff(spark, sf_dir):
    """KMV/theta-sketch SET ALGEBRA with the estimate HLL can't give:
    a DIFFERENCE cardinality (A-not-B — 'how many customers does the
    first half contribute that the second doesn't', the corpus-mixing
    question), from bottom-k hash SAMPLES
    (`operators/sketches.py::kmv_sketch/kmv_set_stats`): theta = the
    smaller of the two sketch thresholds, every retained hash below
    theta is a uniform union sample at rate theta/2^60, and scaled
    'in A' / 'in both' / 'in A not B' counts estimate the set sizes in
    exact 2^40 fixed-point integer arithmetic.  Sketches are KB-sized
    TakeOrdered frames (merge = pool + re-take k — the shard-merge
    property); the driver only touches ≤k-row aggregates.  Every
    estimate sits next to its exact count."""
    o = catalog(spark, sf_dir)["orders"]
    a_keys = o.where(f"o_orderdate < {HLL_SPLIT_TS}").select("o_custkey")
    b_keys = o.where(f"o_orderdate >= {HLL_SPLIT_TS}").select("o_custkey")
    # r11 (guide §1.2): kmv_set_stats collects each KB-sized sketch once
    # and runs the set algebra driver-side, so the eager checkpoints that
    # fed its former five distributed actions are gone; the three exact
    # counts fuse into ONE aggregation job (conditional countDistinct —
    # a NULL-when row never counts).  25 jobs → 4, identical values.
    a_est, b_est, u_est, i_est, d_est = sketches.kmv_set_stats(
        sketches.kmv_sketch(a_keys, "o_custkey"),
        sketches.kmv_sketch(b_keys, "o_custkey"),
    )
    ex = o.agg(
        F.countDistinct(
            F.when(F.expr(f"o_orderdate < {HLL_SPLIT_TS}"), F.col("o_custkey"))
        ).alias("a"),
        F.countDistinct(
            F.when(F.expr(f"o_orderdate >= {HLL_SPLIT_TS}"), F.col("o_custkey"))
        ).alias("b"),
        F.countDistinct("o_custkey").alias("u"),
    ).collect()[0]
    a_ex, b_ex, u_ex = int(ex["a"]), int(ex["b"]), int(ex["u"])
    return spark.createDataFrame(
        [(a_est, b_est, u_est, i_est, d_est,
          a_ex, b_ex, u_ex, a_ex + b_ex - u_ex, u_ex - b_ex)],
        "a_est bigint, b_est bigint, union_est bigint, inter_est bigint,"
        " diff_est bigint, a_exact bigint, b_exact bigint,"
        " union_exact bigint, inter_exact bigint, diff_exact bigint",
    )


# shot reuse: the reuse synth renders slot 8/9 second shots from the
# group clip's shot textures; hashes, lag cuts, shot ids and
# keyframes replay the operator's windows, then keyframe pairs
# brute-force across clips and roll up per clip pair
_media_shot_reuse_sql = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CAST(doc_id - doc_id % 10 AS BIGINT) AS g
  FROM documents),
df AS (SELECT media_id, slot, g,
              unnest(range(0, CAST(CASE WHEN slot >= 8 THEN 4
                                        ELSE 2 * (2 + media_id % 3)
                                   END AS INT))) AS f
       FROM d),
kk(u, x, c) AS (VALUES {_k_vals}),
g AS (
  SELECT media_id, f, gi, gj,
         (17 * s2 + (3 + s2 % 5) * (2 * gj) * (2 * gj)
          + (11 + s2 % 13) * (2 * gi) * (2 * gi)
          + 5 * (2 * gj) * (2 * gi)) % 247 + 2 * (f % 2) + add AS val
  FROM (SELECT media_id, f,
               CASE WHEN slot = 8 THEN
                      CASE WHEN f < 2 THEN media_id ELSE g END
                    WHEN slot = 9 THEN
                      CASE WHEN f < 2 THEN media_id ELSE g + 101 END
                    ELSE media_id + 101 * (f // 2) END AS s2,
               CASE WHEN slot = 9 AND f >= 2 THEN 4 ELSE 0 END AS add
        FROM df),
       range(0, 8) r1(gi), range(0, 8) r2(gj)),
coef AS (
  SELECT media_id, f, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, f, ku.u, kv.u),
ac AS (SELECT media_id, f, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, f, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id, f),
ph AS (SELECT ac.media_id, ac.f,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id, f) GROUP BY ac.media_id, ac.f),
lagged AS (SELECT media_id, f, phash,
                  lag(phash) OVER (PARTITION BY media_id ORDER BY f) AS prev
           FROM ph),
cuts AS (SELECT media_id, f,
                CASE WHEN prev IS NULL
                          OR bit_count(xor(phash, prev)) > {VIDEO_CUT_HAMMING}
                     THEN 1 ELSE 0 END AS is_cut
         FROM lagged),
sh AS (SELECT media_id, f,
              sum(is_cut) OVER (PARTITION BY media_id ORDER BY f) - 1
                AS shot_idx
       FROM cuts),
shots AS (SELECT media_id, shot_idx,
                 min(f) + (count(*) - 1) // 2 AS kf
          FROM sh GROUP BY media_id, shot_idx),
kfh AS (SELECT s.media_id, s.shot_idx, p.phash
        FROM shots s JOIN ph p ON p.media_id = s.media_id AND p.f = s.kf)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shot_matches,
       CAST(min(bit_count(xor(a.phash, b.phash))) AS BIGINT) AS min_hamming
FROM kfh a JOIN kfh b
  ON a.media_id < b.media_id
 AND bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
GROUP BY a.media_id, b.media_id
"""


@query(oracle=_media_shot_reuse_sql)
def media_shot_reuse(spark, sf_dir):
    """PARTIAL-CONTENT video dedup — clip pairs sharing a SHOT, the
    compilation/re-edit case whole-clip contracts miss
    (`operators/multimodal.py::shot_reuse_pairs`: segment at perceptual
    cuts, fetch one keyframe hash per shot, band keyframes across clips,
    roll up per clip pair).  `synth_texture_y4m_shot_reuse` plants a
    verbatim shot reuse (slot 8) and a +4-brightness shot reuse (slot 9,
    keyframe distance exactly 0) per ten-id group; the oracle replays
    pixels→frame hashes→lag cuts→shot ids→keyframes→brute-force
    cross-clip keyframe pairing."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.video_phash(
        multimodal.synth_texture_y4m_shot_reuse(docs)
    )
    return multimodal.shot_reuse_pairs(
        sigs,
        cut_threshold=VIDEO_CUT_HAMMING,
        bits=63,
        bands=PHASH_BANDS,
        max_hamming=PHASH_MAX_HAMMING,
    )


#: time-based audio windows: 320 windows/sec = 50 samples at 16 kHz (the
#: synth rate), 100 at 32 kHz — same time spans at any rate
AUDIO_WINDOWS_PER_SEC = 320

# resample-robust audio: time-based windows make a duplicated-sample
# re-encode's windows cover the SAME original spans — the oracle
# computes original-window energies once and applies each slot's
# exact energy multiplier (x2 duplication, x8 with amplitude
# doubling), which flips no strict comparison
_media_audio_resampled_pairs_sql = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS seed
  FROM documents),
e0 AS (
  SELECT media_id, slot, i // 50 AS w, sum(base * base) AS energy0
  FROM (SELECT media_id, slot, i,
               (17 * seed + (3 + seed % 5) * i * i
                + (11 + seed % 13) * i) % 4096 - 2048 AS base
        FROM d, range(0, 1550) r(i))
  GROUP BY media_id, slot, i // 50),
e AS (SELECT media_id, w,
             energy0 * CASE WHEN slot = 8 THEN 2
                            WHEN slot = 9 THEN 8 ELSE 1 END AS energy
      FROM e0),
b AS (SELECT e1.media_id, e1.w AS w,
             CASE WHEN e2.energy > e1.energy THEN 1 ELSE 0 END AS bit
      FROM e e1 JOIN e e2 ON e2.media_id = e1.media_id AND e2.w = e1.w + 1),
f AS (SELECT media_id,
             CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(w AS INT))) AS BIGINT)
               AS afp
      FROM b GROUP BY media_id)
SELECT a.media_id AS id_a, bb.media_id AS id_b,
       CAST(bit_count(xor(a.afp, bb.afp)) AS BIGINT) AS hamming
FROM f a JOIN f bb ON a.media_id < bb.media_id
WHERE bit_count(xor(a.afp, bb.afp)) <= {AUDIO_FP_MAX_HAMMING}
"""


@query(oracle=_media_audio_resampled_pairs_sql)
def media_audio_resampled_pairs(spark, sf_dir):
    """RESAMPLE-ROBUST audio near-dedup — the re-encode gap fixed
    sample-count windows leave open: the same audio at 2× the sample
    rate puts different content in every window and never matches.
    TIME-based windows (`audio_fingerprint(windows_per_sec=320)` —
    window length from the WAV header rate) cover the same time spans
    at any rate, so an integral-factor resample scales each window's
    energy uniformly and no delta sign flips.
    `synth_audio_clips_resampled` plants a 2×-sample-duplicated 32 kHz
    replay and the same at double amplitude (energy ×8) per ten-id
    group — both land at distance exactly 0; the oracle replays original
    samples→time-window energies→the slot's exact energy multiplier→
    delta bits→brute-force pairing."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.audio_fingerprint(
        multimodal.synth_audio_clips_resampled(docs),
        # bits pinned to the pairing width below: the 1550-sample synth
        # happens to cap at 31 windows (30 delta bits), but a longer
        # clip under the default bits=63 would exceed the banding's
        # 30-bit pigeonhole and silently break completeness.
        bits=30,
        windows_per_sec=AUDIO_WINDOWS_PER_SEC,
    )
    pairs = dedup.hamming_near_pairs(
        sigs, "afp", "media_id",
        bits=30, bands=AUDIO_FP_BANDS, max_hamming=AUDIO_FP_MAX_HAMMING,
    )
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


# disposal-2 original vs browser flatten (r11): white-matte canvas
# values at the 8x8 downsample points, per-frame DCT/median hash,
# brute-force sequence zip — slot 8 = verbatim white flatten
# (distance 0), slot 9 = contrast-reduced (within threshold)
_media_gif_disposal2_pairs_sql = f"""
WITH dd AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS m
  FROM documents),
p AS (
  SELECT media_id, slot, m,
         40 + m % 9 AS w, 36 + (3 * m) % 11 AS h,
         2 + m % 3 AS x0, 1 + m % 3 AS y0,
         33 + m % 3 AS pw0, 30 + m % 3 AS ph0,
         1 + m % 3 AS x1, 2 + m % 3 AS y1,
         30 + m % 3 AS pw1, 22 + m % 3 AS ph1
  FROM dd),
kk(u, x, c) AS (VALUES {_k_vals}),
pts AS (
  SELECT p.*, f.f AS f, gi.gi AS gi, gj.gj AS gj,
         (gj.gj * w) // 8 AS x, (gi.gi * h) // 8 AS y
  FROM p, range(0, 2) f(f), range(0, 8) gi(gi), range(0, 8) gj(gj)),
c AS (
  SELECT media_id, slot, f, gi, gj,
         CASE WHEN f = 0 AND x >= x0 AND x < x0 + pw0
                   AND y >= y0 AND y < y0 + ph0
              THEN (19 * m + 5 * (x - x0) * (x - x0) + 7 * (y - y0)
                    + 3 * (x - x0) * (y - y0)) % 251
              WHEN f = 1 AND x >= x1 AND x < x1 + pw1
                   AND y >= y1 AND y < y1 + ph1
              THEN (29 * m + 3 * (x - x1) + 11 * (y - y1)
                    + (x - x1) * (y - y1)) % 251
              ELSE 255 END AS v0
  FROM pts),
g AS (
  SELECT media_id, f, gi, gj,
         CASE WHEN slot = 9 THEN v0 - v0 // 16 ELSE v0 END AS val
  FROM c),
coef AS (
  SELECT media_id, f, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, f, ku.u, kv.u),
ac AS (SELECT media_id, f, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, f, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id, f),
ph AS (SELECT ac.media_id, ac.f,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id, f) GROUP BY ac.media_id, ac.f),
v AS (SELECT media_id, list(phash ORDER BY f) AS hs FROM ph GROUP BY media_id)
SELECT id_a, id_b, n_frames, max_frame_hamming FROM (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         CAST(len(a.hs) AS BIGINT) AS n_frames,
         CAST(list_max(list_transform(range(1, len(a.hs) + 1),
              i -> bit_count(xor(a.hs[i], b.hs[i])))) AS BIGINT)
           AS max_frame_hamming
  FROM v a JOIN v b ON a.media_id < b.media_id AND len(a.hs) = len(b.hs))
WHERE max_frame_hamming <= {PHASH_MAX_HAMMING}
"""

# cross-format GIF/APNG pairing (r11): the gif-video texture chain
# verbatim — slots 0-7 GIF originals, slot 8 the APNG re-encode
# (identical values), slot 9 the +4-brightness APNG (AC-invariant)
_apng_gif_cte = f"""d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS seed
  FROM documents),
d2 AS (SELECT media_id, slot, seed,
              40 + seed % 9 AS w, 36 + (3 * seed) % 11 AS h
       FROM d),
df AS (SELECT media_id, slot, seed, w, h,
              unnest(range(0, CAST(2 + seed % 4 AS INT))) AS f
       FROM d2),
kk(u, x, c) AS (VALUES {_k_vals}),
g AS (
  SELECT media_id, f, gi, gj,
         CASE WHEN slot = 9 THEN base + 4 ELSE base END AS val
  FROM (
    SELECT media_id, slot, f, gi, gj,
           (17 * seed
            + 3 * ((gj * w) // 8) * ((gj * w) // 8)
            + 7 * ((gi * h) // 8) * ((gi * h) // 8)
            + 5 * ((gj * w) // 8) * ((gi * h) // 8)
            + 11 * ((gj * w) // 8) + 13 * ((gi * h) // 8)
            + 29 * f) % 251 AS base
    FROM df, range(0, 8) r1(gi), range(0, 8) r2(gj))),
coef AS (
  SELECT media_id, f, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, f, ku.u, kv.u),
ac AS (SELECT media_id, f, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, f, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id, f),
ph AS (SELECT ac.media_id, ac.f,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id, f) GROUP BY ac.media_id, ac.f),
v AS (SELECT media_id, list(phash ORDER BY f) AS hs FROM ph GROUP BY media_id)"""
_media_apng_gif_pairs_sql = f"""
WITH {_apng_gif_cte}
SELECT id_a, id_b, n_frames, max_frame_hamming FROM (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         CAST(len(a.hs) AS BIGINT) AS n_frames,
         CAST(list_max(list_transform(range(1, len(a.hs) + 1),
              i -> bit_count(xor(a.hs[i], b.hs[i])))) AS BIGINT)
           AS max_frame_hamming
  FROM v a JOIN v b ON a.media_id < b.media_id AND len(a.hs) = len(b.hs))
WHERE max_frame_hamming <= {PHASH_MAX_HAMMING}
"""


# robustness panorama: the six lane oracles verbatim as
# subqueries — composition can't drift from the gated components
@query(oracle=f"""
SELECT 'image_oriented' AS lane, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT id_b) AS BIGINT) AS n_dup_items
FROM ({_media_phash_oriented_sql})
UNION ALL
SELECT 'image_dihedral', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT id_b) AS BIGINT)
FROM ({_media_phash_dihedral_sql})
UNION ALL
SELECT 'audio_offset', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT id_b) AS BIGINT)
FROM ({_media_audio_offset_pairs_sql})
UNION ALL
SELECT 'audio_resampled', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT id_b) AS BIGINT)
FROM ({_media_audio_resampled_pairs_sql})
UNION ALL
SELECT 'video_trimmed', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT id_b) AS BIGINT)
FROM ({_media_video_trimmed_pairs_sql})
UNION ALL
SELECT 'video_shot_reuse', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT id_b) AS BIGINT)
FROM ({_media_shot_reuse_sql})
UNION ALL
SELECT 'gif_browser_flatten', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT id_b) AS BIGINT)
FROM ({_media_gif_disposal2_pairs_sql})
UNION ALL
SELECT 'anim_cross_format', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT id_b) AS BIGINT)
FROM ({_media_apng_gif_pairs_sql})
""")
def media_robust_panorama(spark, sf_dir):
    """One report across the eight ROBUSTNESS lanes the plain perceptual
    contracts miss (r8, +dihedral r9, +browser flatten and cross-format
    r11): EXIF-rotated refetches (`media_phash_oriented`), EXIF-STRIPPED
    rotations (`media_phash_dihedral`), clipped/padded audio replays
    (`media_audio_offset_pairs`), resampled re-encodes
    (`media_audio_resampled_pairs`), one-frame video trims
    (`media_video_trimmed_pairs`), cross-clip shot reuse
    (`media_shot_reuse`), disposal-2 GIFs vs their browser-style
    white-matte flattens (`media_gif_disposal2_pairs`), and animations
    re-encoded across CONTAINERS — GIF vs APNG
    (`media_apng_gif_pairs`) — per lane, the pair count and the items a
    min-id-wins pass would drop.  The oracle embeds each lane's oracle
    SQL verbatim as a subquery (the dedup_panorama drift-proof
    composition pattern)."""
    lanes = {
        "image_oriented": media_phash_oriented,
        "image_dihedral": media_phash_dihedral,
        "audio_offset": media_audio_offset_pairs,
        "audio_resampled": media_audio_resampled_pairs,
        "video_trimmed": media_video_trimmed_pairs,
        "video_shot_reuse": media_shot_reuse,
        "gif_browser_flatten": media_gif_disposal2_pairs,
        "anim_cross_format": media_apng_gif_pairs,
    }
    # each lane's build runs its own chain of eager synth/decode/
    # fingerprint checkpoints.  Overlapped, on 4-core local[4] (sf0.1, 10
    # interleaved pairs): 39.4 s median, 42.4 s one after the other,
    # slower in 9 of 10 pairs.
    return _lane_report("lane", list(lanes), _concurrently(spark, *(
        functools.partial(fn, spark, sf_dir) for fn in lanes.values()
    )))


# GIF: lossless, so the oracle mirrors the synth texture arithmetic
# pixel-for-pixel (the PGM/BMP stats pattern) — the engine's numbers
# come through real LZW decode + palette mapping
_media_gif_stats_sql = _q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 CAST(40 + doc_id % 9 AS BIGINT) AS w,
                 CAST(36 + (3 * doc_id) % 11 AS BIGINT) AS h
          FROM documents),
        px AS (
          SELECT media_id, w, h,
                 list_transform(range(0, CAST(w * h AS INT)),
                   i -> (17 * media_id + 3 * (i % w) * (i % w)
                         + 7 * (i // w) * (i // w)
                         + 5 * (i % w) * (i // w)
                         + 11 * (i % w) + 13 * (i // w)) % 251) AS p
          FROM d),
        ds AS (
          SELECT media_id,
                 list_sum(list_transform(
                   list_filter(range(0, CAST(w * h AS INT)),
                               i -> (i % w) % 2 = 0 AND (i // w) % 2 = 0),
                   i -> (17 * media_id + 3 * (i % w) * (i % w)
                         + 7 * (i // w) * (i // w)
                         + 5 * (i % w) * (i // w)
                         + 11 * (i % w) + 13 * (i // w)) % 251)) AS dsum
          FROM px)
        SELECT px.media_id, w AS width, h AS height,
               CAST(list_sum(p) AS BIGINT) AS sum_px,
               CAST(list_max(p) AS BIGINT) AS max_px,
               CAST(dsum AS BIGINT) AS ds2_sum
        FROM px JOIN ds ON ds.media_id = px.media_id
    """)


@query(oracle=_media_gif_stats_sql)
def media_gif_stats(spark, sf_dir):
    """REAL codec gate #6 — GIF, the third most common crawl image
    format: textured grayscale GIFs synthesized from doc_id arithmetic
    (1440-2208 pixels of 251 distinct values — every image drives the
    LZW code width through real 9→10→11-bit growth), then parsed, LZW-decoded and palette-mapped
    back to exact integer pixel statistics
    (`operators/multimodal.py::encode_gif/decode_gif/gif_stats`).  GIF
    is lossless, so the oracle mirrors the texture arithmetic
    pixel-for-pixel — any bit-packing, code-width, clear-code, or
    palette bug breaks the hash.  In-column GIF payloads get the same
    decode rights the ImageIO file lane already had."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.gif_stats(multimodal.synth_gif(docs))


# animated GIF: frame count / duration / first-frame stats all from
# id arithmetic (frame 0 IS the still synth's texture) — no decoder
# in the oracle at all
@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 CAST(40 + doc_id % 9 AS BIGINT) AS w,
                 CAST(36 + (3 * doc_id) % 11 AS BIGINT) AS h,
                 CAST(2 + doc_id % 4 AS BIGINT) AS nf,
                 CAST(4 + doc_id % 7 AS BIGINT) AS delay_cs
          FROM documents),
        px AS (
          SELECT media_id, w, h, nf, delay_cs,
                 list_transform(range(0, CAST(w * h AS INT)),
                   i -> (17 * media_id + 3 * (i % w) * (i % w)
                         + 7 * (i // w) * (i // w)
                         + 5 * (i % w) * (i // w)
                         + 11 * (i % w) + 13 * (i // w)) % 251) AS p
          FROM d)
        SELECT media_id, w AS width, h AS height,
               nf AS n_frames,
               CAST(nf * delay_cs AS BIGINT) AS duration_cs,
               CAST(list_sum(p) AS BIGINT) AS first_sum_px,
               CAST(list_max(p) AS BIGINT) AS first_max_px
        FROM px
    """))
def media_gif_animated(spark, sf_dir):
    """ANIMATED GIF under the hash gate (r9) — the web's animation
    container, previously first-frame-only with no metadata: per
    payload, the STRICT block walk's frame count + summed GCE delays
    (`operators/multimodal.py::gif_anim_info` — a malformed Graphic
    Control Extension raises instead of misreporting) paired with
    first-frame exact pixel statistics through the real LZW decode.
    `synth_gif_animated` derives everything from id arithmetic
    (``2 + k mod 4`` frames at ``4 + k mod 7`` cs each; frame 0 is
    EXACTLY the still synth's texture), so the oracle re-derives frame
    count, duration, and first-frame statistics with no decoder at
    all — any GCE misparse, frame miscount, or first-frame drift
    breaks the hash."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.gif_anim_stats(multimodal.synth_gif_animated(docs))


# animated-GIF pairing via the video lane: the SAME per-frame
# DCT/median/sequence-zip chain over the GIF texture arithmetic,
# slots 8/9 folding to their seed with the planted brightness /
# contrast transforms applied after the mod
_gif_video_cte = f"""d AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS seed
  FROM documents),
d2 AS (SELECT media_id, slot, seed,
              40 + seed % 9 AS w, 36 + (3 * seed) % 11 AS h
       FROM d),
df AS (SELECT media_id, slot, seed, w, h,
              unnest(range(0, CAST(2 + seed % 4 AS INT))) AS f
       FROM d2),
kk(u, x, c) AS (VALUES {_k_vals}),
g AS (
  SELECT media_id, f, gi, gj,
         CASE WHEN slot = 8 THEN base + 4
              WHEN slot = 9 THEN base - base // 16
              ELSE base END AS val
  FROM (
    SELECT media_id, slot, f, gi, gj,
           (17 * seed
            + 3 * ((gj * w) // 8) * ((gj * w) // 8)
            + 7 * ((gi * h) // 8) * ((gi * h) // 8)
            + 5 * ((gj * w) // 8) * ((gi * h) // 8)
            + 11 * ((gj * w) // 8) + 13 * ((gi * h) // 8)
            + 29 * f) % 251 AS base
    FROM df, range(0, 8) r1(gi), range(0, 8) r2(gj))),
coef AS (
  SELECT media_id, f, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, f, ku.u, kv.u),
ac AS (SELECT media_id, f, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, f, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id, f),
ph AS (SELECT ac.media_id, ac.f,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id, f) GROUP BY ac.media_id, ac.f),
v AS (SELECT media_id, list(phash ORDER BY f) AS hs FROM ph GROUP BY media_id)"""


@query(oracle=f"""
WITH {_gif_video_cte}
SELECT id_a, id_b, n_frames, max_frame_hamming FROM (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         CAST(len(a.hs) AS BIGINT) AS n_frames,
         CAST(list_max(list_transform(range(1, len(a.hs) + 1),
              i -> bit_count(xor(a.hs[i], b.hs[i])))) AS BIGINT)
           AS max_frame_hamming
  FROM v a JOIN v b ON a.media_id < b.media_id AND len(a.hs) = len(b.hs))
WHERE max_frame_hamming <= {PHASH_MAX_HAMMING}
""")
def media_gif_video_pairs(spark, sf_dir):
    """ANIMATED-GIF near-dedup through the VIDEO lane (r9) — the meme
    re-encode case: `gif_video_phash` adapts every GIF frame into the
    video lane's per-frame signature schema, and the UNCHANGED
    `video_near_pairs` machinery (same frame count + every aligned
    frame within Hamming ≤ 6, candidates banded on frame 0) pairs the
    planted replays: `synth_gif_animated_dups` re-encodes each group's
    slot-0 animation at +4 brightness (distance 0) and contrast-reduced
    per ten-id group.  The oracle replays frames→per-frame DCT hashes→
    sequence-zip brute force with the GIF texture arithmetic — any LZW,
    frame-walk, luma, or sequence-zip bug breaks the hash."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.gif_video_phash(multimodal.synth_gif_animated_dups(docs))
    return multimodal.video_near_pairs(
        sigs, bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING
    )


# composited animated GIF (r10): the oracle re-derives all three
# composited canvases CASE-by-CASE — frame 0 is the base texture;
# frame 1 overlays the partial rect minus its transparent holes on
# the disposal-d0 canvas; frame 2 overlays on the disposal-d1
# result.  Interlace never appears: it's pure row reordering the
# reader undoes, which is exactly the point of the verbatim check.
@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS m,
                 40 + doc_id % 9 AS w, 36 + (3 * doc_id) % 11 AS h,
                 1 + doc_id % 3 AS d0, 1 + (doc_id // 3) % 3 AS d1,
                 3 + doc_id % 5 AS ox1, 2 + doc_id % 7 AS oy1,
                 11 + doc_id % 6 AS pw1, 9 + doc_id % 5 AS ph1,
                 1 + doc_id % 9 AS ox2, 4 + doc_id % 3 AS oy2,
                 13 + doc_id % 4 AS pw2, 7 + doc_id % 6 AS ph2
          FROM documents),
        px0 AS (
          SELECT d.*, f.f AS f, unnest(range(0, w * h)) AS i
          FROM d, range(0, 3) f(f)),
        px AS (SELECT *, i % w AS x, i // w AS y FROM px0),
        c AS (
          SELECT m, f, i, d0, d1,
                 (17 * m + 3 * x * x + 7 * y * y + 5 * x * y
                  + 11 * x + 13 * y) % 251 AS b,
                 (x >= ox1 AND x < ox1 + pw1
                  AND y >= oy1 AND y < oy1 + ph1) AS in1,
                 (23 * m + 7 * (x - ox1) * (x - ox1) + 5 * (y - oy1)
                  + 3 * (x - ox1) * (y - oy1)) % 251 AS p1,
                 (((x - ox1) + 2 * (y - oy1) + m) % 5 = 0) AS tr1,
                 (x >= ox2 AND x < ox2 + pw2
                  AND y >= oy2 AND y < oy2 + ph2) AS in2,
                 (31 * m + 11 * (x - ox2) + 13 * (y - oy2)
                  + (x - ox2) * (x - ox2)) % 251 AS p2
          FROM px),
        l1 AS (
          SELECT m, f, i, d1, in1, in2, p1, tr1, p2, b,
                 CASE WHEN d0 = 1 THEN b ELSE 0 END AS u1
          FROM c),
        l2 AS (
          SELECT m, f, i, d1, in1, in2, p2, b, u1,
                 CASE WHEN in1 AND NOT tr1 THEN p1 ELSE u1 END AS c1
          FROM l1),
        l3 AS (
          SELECT m, f, i, in2, p2, b, c1,
                 CASE WHEN d1 = 1 THEN c1
                      WHEN d1 = 2 THEN (CASE WHEN in1 THEN 0 ELSE c1 END)
                      ELSE u1 END AS u2
          FROM l2),
        v AS (
          SELECT m, f, i,
                 CASE WHEN f = 0 THEN b
                      WHEN f = 1 THEN c1
                      ELSE (CASE WHEN in2 THEN p2 ELSE u2 END) END AS val
          FROM l3)
        SELECT m AS media_id, CAST(f AS BIGINT) AS frame_idx,
               CAST(sum(val) AS BIGINT) AS sum_px,
               CAST(sum((1 + i % 97) * val) AS BIGINT) AS wsum_px
        FROM v GROUP BY m, f
    """))
def media_gif_composited(spark, sf_dir):
    """GIF disposal/transparency COMPOSITING under the hash gate (r10) —
    the real-crawl animated-GIF shape that previously quarantined:
    partial frames at nonzero offsets, disposal methods 1/2/3, a GCE
    transparent index (underlying canvas shows through), and a 4-pass
    interlaced frame, all composited the way a browser paints them
    (`operators/multimodal.py::gif_frames/_gif_decode_frames`).
    `synth_gif_composited` plants three frames per id cycling all nine
    (d0, d1) disposal combinations with arithmetic textures, and
    `gif_composited_stats` reduces each composited canvas to a plain +
    POSITION-WEIGHTED pixel sum — the oracle re-derives every canvas
    CASE-by-CASE from id arithmetic, so a wrong offset, wrong disposal
    restore region, transparency misread, or transposed de-interlace
    breaks the hash even when the plain sum survives."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.gif_composited_stats(multimodal.synth_gif_composited(docs))


# interlaced still GIF (r10): de-interlacing is pure row
# reordering, so the oracle is the non-interlaced one VERBATIM
@query(oracle=_media_gif_stats_sql)
def media_gif_interlaced(spark, sf_dir):
    """INTERLACED still GIF under the hash gate (r10) — same LZW, same
    palette mapping, rows written in the GIF 4-pass order with the
    descriptor's interlace flag set (`encode_gif(..., interlaced=True)`
    → `_gif_interlace_rows` scatter on decode).  De-interlacing is pure
    row reordering, so the ORACLE IS THE NON-INTERLACED ONE VERBATIM —
    any off-by-one in the pass boundaries shuffles rows and breaks the
    position-sensitive downsampled-sum column (`ds2_sum` keeps even
    rows only, so row misplacement moves different values into it)."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.gif_stats(multimodal.synth_gif(docs, interlaced=True))


# optimized-vs-flattened GIF pairing (r10): the composited CASE
# chain evaluated ONLY at the 8x8 nearest-neighbor downsample
# points, per-frame DCT/median hash, brute-force sequence zip;
# slot 8 = verbatim flatten (identical values), slot 9 = +4
# brightness (ACs unchanged) — both land at distance 0
@query(oracle=f"""
WITH dd AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS m
  FROM documents),
p AS (
  SELECT media_id, slot, m,
         40 + m % 9 AS w, 36 + (3 * m) % 11 AS h,
         1 + m % 3 AS d0, 1 + (m // 3) % 3 AS d1,
         3 + m % 5 AS ox1, 2 + m % 7 AS oy1,
         11 + m % 6 AS pw1, 9 + m % 5 AS ph1,
         1 + m % 9 AS ox2, 4 + m % 3 AS oy2,
         13 + m % 4 AS pw2, 7 + m % 6 AS ph2
  FROM dd),
kk(u, x, c) AS (VALUES {_k_vals}),
pts AS (
  SELECT p.*, f.f AS f, gi.gi AS gi, gj.gj AS gj,
         (gj.gj * w) // 8 AS x, (gi.gi * h) // 8 AS y
  FROM p, range(0, 3) f(f), range(0, 8) gi(gi), range(0, 8) gj(gj)),
c AS (
  SELECT media_id, slot, f, gi, gj, d0, d1,
         (17 * m + 3 * x * x + 7 * y * y + 5 * x * y
          + 11 * x + 13 * y) % 251 AS b,
         (x >= ox1 AND x < ox1 + pw1
          AND y >= oy1 AND y < oy1 + ph1) AS in1,
         (23 * m + 7 * (x - ox1) * (x - ox1) + 5 * (y - oy1)
          + 3 * (x - ox1) * (y - oy1)) % 251 AS p1,
         (((x - ox1) + 2 * (y - oy1) + m) % 5 = 0) AS tr1,
         (x >= ox2 AND x < ox2 + pw2
          AND y >= oy2 AND y < oy2 + ph2) AS in2,
         (31 * m + 11 * (x - ox2) + 13 * (y - oy2)
          + (x - ox2) * (x - ox2)) % 251 AS p2
  FROM pts),
l1 AS (
  SELECT media_id, slot, f, gi, gj, d1, in1, in2, p1, tr1, p2, b,
         CASE WHEN d0 = 1 THEN b ELSE 0 END AS u1
  FROM c),
l2 AS (
  SELECT media_id, slot, f, gi, gj, d1, in1, in2, p2, b, u1,
         CASE WHEN in1 AND NOT tr1 THEN p1 ELSE u1 END AS c1
  FROM l1),
l3 AS (
  SELECT media_id, slot, f, gi, gj, in2, p2, b, c1,
         CASE WHEN d1 = 1 THEN c1
              WHEN d1 = 2 THEN (CASE WHEN in1 THEN 0 ELSE c1 END)
              ELSE u1 END AS u2
  FROM l2),
g AS (
  SELECT media_id, f, gi, gj,
         (CASE WHEN f = 0 THEN b
               WHEN f = 1 THEN c1
               ELSE (CASE WHEN in2 THEN p2 ELSE u2 END) END)
         + (CASE WHEN slot = 9 THEN 4 ELSE 0 END) AS val
  FROM l3),
coef AS (
  SELECT media_id, f, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, f, ku.u, kv.u),
ac AS (SELECT media_id, f, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, f, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id, f),
ph AS (SELECT ac.media_id, ac.f,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id, f) GROUP BY ac.media_id, ac.f),
v AS (SELECT media_id, list(phash ORDER BY f) AS hs FROM ph GROUP BY media_id)
SELECT id_a, id_b, n_frames, max_frame_hamming FROM (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         CAST(len(a.hs) AS BIGINT) AS n_frames,
         CAST(list_max(list_transform(range(1, len(a.hs) + 1),
              i -> bit_count(xor(a.hs[i], b.hs[i])))) AS BIGINT)
           AS max_frame_hamming
  FROM v a JOIN v b ON a.media_id < b.media_id AND len(a.hs) = len(b.hs))
WHERE max_frame_hamming <= {PHASH_MAX_HAMMING}
""")
def media_gif_optimized_pairs(spark, sf_dir):
    """OPTIMIZED-vs-FLATTENED GIF dedup through the video lane (r10) —
    the compositing payoff: GIF optimizers emit partial frames with
    disposal methods, re-encoders emit full flattened frames, and both
    render the same animation, so they must pair.  Because `gif_frames`
    COMPOSITES (r10), the partial-frame original's per-frame pHashes
    equal its flattened re-encode's exactly — `synth_gif_composited_dups`
    plants a verbatim flatten (distance 0) and a +4-brightness flatten
    (distance 0 — brightness invariance) per ten-id group, and the
    UNCHANGED `video_near_pairs` machinery pairs them.  The oracle
    re-derives every composited canvas CASE-by-CASE at the 8×8
    downsample points, replays the per-frame DCT/median hash, and
    brute-forces the sequence zip — a compositing bug that merely
    shifts pixels would break the pairing, not just a stats column."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.gif_video_phash(multimodal.synth_gif_composited_dups(docs))
    return multimodal.video_near_pairs(
        sigs, bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING
    )


# GIF compositing-relevance features (r10): pure id arithmetic —
# slots 0-7 carry the composited synth's GCE/descriptor plan,
# flattened slots 8/9 are all-full-frame disposal-1; r11 appends
# the loop/comment fields (the synth writes loop=0, no comments)
@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot
          FROM documents)
        SELECT media_id,
               CAST(3 AS BIGINT) AS n_frames,
               CAST(CASE WHEN slot < 8 THEN 2 ELSE 0 END AS BIGINT)
                 AS partial_frames,
               CAST(CASE WHEN slot < 8 THEN 1 ELSE 0 END AS BIGINT)
                 AS transparent_frames,
               CAST(CASE WHEN slot < 8 AND media_id % 2 = 0 THEN 1 ELSE 0 END
                 AS BIGINT) AS interlaced_frames,
               CAST(CASE WHEN slot < 8 THEN
                 (CASE WHEN 1 + media_id % 3 = 2 THEN 1 ELSE 0 END)
                 + (CASE WHEN 1 + (media_id // 3) % 3 = 2 THEN 1 ELSE 0 END)
                 ELSE 0 END AS BIGINT) AS disposal_bg,
               CAST(CASE WHEN slot < 8 THEN
                 (CASE WHEN 1 + media_id % 3 = 3 THEN 1 ELSE 0 END)
                 + (CASE WHEN 1 + (media_id // 3) % 3 = 3 THEN 1 ELSE 0 END)
                 ELSE 0 END AS BIGINT) AS disposal_prev,
               CAST(0 AS BIGINT) AS loop_count,
               CAST(0 AS BIGINT) AS n_comments,
               CAST(0 AS BIGINT) AS comment_bytes
        FROM d
    """))
def media_gif_features(spark, sf_dir):
    """GIF compositing-relevance features under the hash gate (r10) —
    the structural numbers `analyze-media` reports before any decode:
    per payload, frame count, PARTIAL-frame count (offset or
    sub-screen rect), transparency / interlace counts, and
    restore-disposal counts (methods 2/3), all from the strict block
    walk alone (`operators/multimodal.py::gif_anim_features` — no LZW).
    Over `synth_gif_composited_dups` every field folds to id
    arithmetic: slots 0-7 have 3 frames with 2 partial, 1 transparent,
    interlace iff the id is even, and disposal counts derived from the
    (1 + k mod 3, 1 + (k div 3) mod 3, 0) GCE cycle; flattened slots
    8/9 are all-full-frame disposal-1 animations (all zeros)."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.gif_feature_meta(
        multimodal.synth_gif_composited_dups(docs)
    )


# local color tables (r10): frame 0 = gray base; frame 1 overlays
# the rect through ITS OWN 64-entry palette — red channel =
# (3*((11k + 3u + 5v) mod 64) + k) mod 251 inside the rect
@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS m,
                 40 + doc_id % 9 AS w, 36 + (3 * doc_id) % 11 AS h,
                 2 + doc_id % 7 AS ox, 3 + doc_id % 5 AS oy,
                 12 + doc_id % 5 AS pw, 10 + doc_id % 4 AS ph
          FROM documents),
        px0 AS (
          SELECT d.*, f.f AS f, unnest(range(0, w * h)) AS i
          FROM d, range(0, 2) f(f)),
        px AS (SELECT *, i % w AS x, i // w AS y FROM px0),
        v AS (
          SELECT m, f, i,
                 CASE WHEN f = 1 AND x >= ox AND x < ox + pw
                           AND y >= oy AND y < oy + ph
                      THEN (3 * ((11 * m + 3 * (x - ox) + 5 * (y - oy))
                                 % 64) + m) % 251
                      ELSE (17 * m + 3 * x * x + 7 * y * y + 5 * x * y
                            + 11 * x + 13 * y) % 251 END AS val
          FROM px)
        SELECT m AS media_id, CAST(f AS BIGINT) AS frame_idx,
               CAST(sum(val) AS BIGINT) AS sum_px,
               CAST(sum((1 + i % 97) * val) AS BIGINT) AS wsum_px
        FROM v GROUP BY m, f
    """))
def media_gif_local_palette(spark, sf_dir):
    """Per-frame LOCAL color tables under the hash gate (r10) — the GIF
    feature that forces compositing into RGB SPACE: frame 1's partial
    rect indexes its own 64-entry palette
    (`synth_gif_local_palette`), so a compositor that blends palette
    INDICES, or maps frame pixels through the global table, paints
    wrong colors.  `gif_composited_stats`' red-channel plain +
    position-weighted sums gate it; the oracle re-derives frame 0 from
    the gray base arithmetic and frame 1 from ``(3·((11k + 3u + 5v)
    mod 64) + k) mod 251`` inside the rect."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.gif_composited_stats(
        multimodal.synth_gif_local_palette(docs)
    )


# disposal-2 dual-matte compositing (r11): two partial frames, the
# first disposal-2-cleared and left exposed; per-pixel value = the
# frame's rect texture inside the rect, else the MATTE — the spec
# background gray (70 + m mod 100) for the *_bg columns, 255 for
# the *_page columns.  A reader with the r10 RGB canvas gets every
# page column wrong over the exposed region.
@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS m,
                 40 + doc_id % 9 AS w, 36 + (3 * doc_id) % 11 AS h,
                 70 + doc_id % 100 AS bgv,
                 2 + doc_id % 3 AS x0, 1 + doc_id % 3 AS y0,
                 33 + doc_id % 3 AS pw0, 30 + doc_id % 3 AS ph0,
                 1 + doc_id % 3 AS x1, 2 + doc_id % 3 AS y1,
                 30 + doc_id % 3 AS pw1, 22 + doc_id % 3 AS ph1
          FROM documents),
        px0 AS (
          SELECT d.*, f.f AS f, unnest(range(0, w * h)) AS i
          FROM d, range(0, 2) f(f)),
        px AS (SELECT *, i % w AS x, i // w AS y FROM px0),
        v AS (
          SELECT m, f, i, bgv,
                 CASE WHEN f = 0 AND x >= x0 AND x < x0 + pw0
                           AND y >= y0 AND y < y0 + ph0
                      THEN (19 * m + 5 * (x - x0) * (x - x0)
                            + 7 * (y - y0)
                            + 3 * (x - x0) * (y - y0)) % 251
                      WHEN f = 1 AND x >= x1 AND x < x1 + pw1
                           AND y >= y1 AND y < y1 + ph1
                      THEN (29 * m + 3 * (x - x1) + 11 * (y - y1)
                            + (x - x1) * (y - y1)) % 251
                      ELSE NULL END AS pv
          FROM px)
        SELECT m AS media_id, CAST(f AS BIGINT) AS frame_idx,
               CAST(sum(coalesce(pv, bgv)) AS BIGINT) AS sum_bg,
               CAST(sum((1 + i % 97) * coalesce(pv, bgv)) AS BIGINT)
                 AS wsum_bg,
               CAST(sum(coalesce(pv, 255)) AS BIGINT) AS sum_page,
               CAST(sum((1 + i % 97) * coalesce(pv, 255)) AS BIGINT)
                 AS wsum_page
        FROM v GROUP BY m, f
    """))
def media_gif_disposal2(spark, sf_dir):
    """Browser-parity DISPOSAL-2 compositing under the hash gate (r11)
    — the r10 divergence retired: `_gif_decode_frames_rgba` keeps an
    RGBA canvas (disposal 2 clears to TRANSPARENT, browser semantics)
    and the flatten matte decides what exposed pixels show.
    `synth_gif_disposal2` plants two partial frames on a
    nonzero-background-index screen where frame 0's disposal-2 clear
    stays exposed in frame 1; `gif_dual_matte_stats` decodes ONCE and
    flattens under BOTH mattes — spec background (70 + k mod 100 gray)
    and page white — so the exposed region's sums differ between the
    matte columns by exactly the CASE arithmetic the oracle re-derives
    per pixel.  A reader that still bakes the background color into
    the canvas gets the page columns wrong; one that clears to the
    wrong rect gets both wrong."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.gif_dual_matte_stats(
        multimodal.synth_gif_disposal2(docs)
    )


@query(oracle=_media_gif_disposal2_pairs_sql)
def media_gif_disposal2_pairs(spark, sf_dir):
    """DISPOSAL-2 original vs BROWSER-FLATTEN pairing (r11) — the crawl
    case the r10 spec-background reader could not pair: a disposal-2
    optimized GIF against the full-frame white-matte flatten a
    browser-side re-encoder emits.  `gif_video_phash(matte=white)`
    composites the original the way the flattener saw it, so the
    planted verbatim flatten (slot 8 of `synth_gif_disposal2_dups`)
    lands at distance 0 and the contrast-reduced flatten (slot 9)
    within threshold, through the UNCHANGED `video_near_pairs`
    machinery.  The oracle re-derives every white-matte canvas at the
    8×8 downsample points, replays the DCT/median hash, and
    brute-forces the sequence zip."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.gif_video_phash(
        multimodal.synth_gif_disposal2_dups(docs), matte=(255, 255, 255)
    )
    return multimodal.video_near_pairs(
        sigs, bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING
    )


# GIF loop/comment metadata (r11): two full frames, disposal 1;
# loop_count NULL when the NETSCAPE ext is omitted (k mod 3 = 0),
# else (5k+2) mod 60000; comments fold to the planted lengths
@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS m, doc_id % 3 AS r
          FROM documents)
        SELECT m AS media_id,
               CAST(2 AS BIGINT) AS n_frames,
               CAST(0 AS BIGINT) AS partial_frames,
               CAST(0 AS BIGINT) AS transparent_frames,
               CAST(0 AS BIGINT) AS interlaced_frames,
               CAST(0 AS BIGINT) AS disposal_bg,
               CAST(0 AS BIGINT) AS disposal_prev,
               CAST(CASE WHEN r = 0 THEN NULL
                         ELSE (5 * m + 2) % 60000 END AS BIGINT)
                 AS loop_count,
               CAST(r AS BIGINT) AS n_comments,
               CAST(CASE WHEN r = 0 THEN 0
                         WHEN r = 1 THEN 1 + m % 13
                         ELSE 2 + m % 13 + (m + 1) % 13 END AS BIGINT)
                 AS comment_bytes
        FROM d
    """))
def media_gif_loop_meta(spark, sf_dir):
    """GIF loop/comment METADATA under the hash gate (r11): the strict
    block walk now parses the NETSCAPE2.0 application extension (loop
    count — None when absent, the play-once default; first one wins,
    matching browsers) and comment extensions (count + total bytes)
    instead of generically skipping them
    (`operators/multimodal.py::_gif_walk_blocks`), surfacing them
    through `gif_anim_features`/`gif_feature_meta` and the
    `analyze-media` animation section.  `synth_gif_loop_meta` plants
    id-arithmetic loop counts (omitted for k mod 3 = 0) and 0-2
    comments of arithmetic lengths; the oracle folds every field to
    CASE arithmetic.  Quarantine for malformed extension blocks is
    unchanged (truncated sub-blocks still raise); a non-NETSCAPE app
    extension degrades to a generic event, as browsers do."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.gif_feature_meta(multimodal.synth_gif_loop_meta(docs))


# APNG dual-matte compositing (r11): three frames — opaque base
# (dispose d0), a SOURCE rect with alpha-0 punch-through holes
# (dispose d1), and an OVER rect at per-pixel fractional alpha.
# NULL models a transparent canvas pixel; the blend arithmetic is
# the integer-exact half-up form the engine uses: bg opaque v →
# (255·(p2·fa + v·(255−fa)) + 32512) // 65025 (matte-independent),
# bg transparent → p2 at alpha fa, flattened per matte as
# (p2·fa + m·(255−fa) + 127) // 255
@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS m,
                 40 + doc_id % 9 AS w, 36 + (3 * doc_id) % 11 AS h,
                 doc_id % 3 AS d0, (doc_id // 3) % 3 AS d1,
                 3 + doc_id % 5 AS ox1, 2 + doc_id % 7 AS oy1,
                 11 + doc_id % 6 AS pw1, 9 + doc_id % 5 AS ph1,
                 1 + doc_id % 9 AS ox2, 4 + doc_id % 3 AS oy2,
                 13 + doc_id % 4 AS pw2, 7 + doc_id % 6 AS ph2
          FROM documents),
        px0 AS (
          SELECT d.*, f.f AS f, unnest(range(0, w * h)) AS i
          FROM d, range(0, 3) f(f)),
        px AS (SELECT *, i % w AS x, i // w AS y FROM px0),
        c AS (
          SELECT m, f, i, d0, d1,
                 (17 * m + 3 * x * x + 7 * y * y + 5 * x * y
                  + 11 * x + 13 * y) % 251 AS b,
                 (x >= ox1 AND x < ox1 + pw1
                  AND y >= oy1 AND y < oy1 + ph1) AS in1,
                 (23 * m + 7 * (x - ox1) * (x - ox1) + 5 * (y - oy1)
                  + 3 * (x - ox1) * (y - oy1)) % 251 AS p1,
                 (((x - ox1) + 2 * (y - oy1) + m) % 5 = 0) AS hole,
                 (x >= ox2 AND x < ox2 + pw2
                  AND y >= oy2 AND y < oy2 + ph2) AS in2,
                 (31 * m + 11 * (x - ox2) + 13 * (y - oy2)
                  + (x - ox2) * (x - ox2)) % 251 AS p2,
                 (37 * m + 2 * (x - ox2) * (x - ox2)
                  + 3 * (y - oy2)) % 256 AS fa
          FROM px),
        l1 AS (
          SELECT *, CASE WHEN d0 = 0 THEN b ELSE NULL END AS u0
          FROM c),
        l2 AS (
          SELECT *,
                 CASE WHEN in1
                      THEN (CASE WHEN hole THEN NULL ELSE p1 END)
                      ELSE u0 END AS o1,
                 CASE WHEN in1 AND d1 = 0
                      THEN (CASE WHEN hole THEN NULL ELSE p1 END)
                      WHEN in1 AND d1 = 1 THEN NULL
                      ELSE u0 END AS s1
          FROM l1),
        v AS (
          SELECT m, f, i,
                 CASE WHEN f = 0 THEN b
                      WHEN f = 1 THEN coalesce(o1, 255)
                      WHEN NOT in2 THEN coalesce(s1, 255)
                      WHEN s1 IS NOT NULL THEN
                        (255 * (p2 * fa + s1 * (255 - fa)) + 32512) // 65025
                      WHEN fa = 0 THEN 255
                      ELSE (p2 * fa + 255 * (255 - fa) + 127) // 255
                 END AS vw,
                 CASE WHEN f = 0 THEN b
                      WHEN f = 1 THEN coalesce(o1, 0)
                      WHEN NOT in2 THEN coalesce(s1, 0)
                      WHEN s1 IS NOT NULL THEN
                        (255 * (p2 * fa + s1 * (255 - fa)) + 32512) // 65025
                      WHEN fa = 0 THEN 0
                      ELSE (p2 * fa + 127) // 255
                 END AS vb
          FROM l2)
        SELECT m AS media_id, CAST(f AS BIGINT) AS frame_idx,
               CAST(sum(vw) AS BIGINT) AS sum_white,
               CAST(sum((1 + i % 97) * vw) AS BIGINT) AS wsum_white,
               CAST(sum(vb) AS BIGINT) AS sum_black,
               CAST(sum((1 + i % 97) * vb) AS BIGINT) AS wsum_black
        FROM v GROUP BY m, f
    """))
def media_apng_composited(spark, sf_dir):
    """APNG compositing under the hash gate (r11) — the animation
    semantics GIF cannot express: `operators/multimodal.py::
    _apng_decode_frames_rgba` parses acTL/fcTL/fdAT through the SHARED
    PNG chunk/zlib/unfilter machinery and composites dispose 0-2 with
    blend SOURCE (replaces the region INCLUDING alpha — an alpha-0
    source pixel punches a hole) and blend OVER (integer-exact
    straight-alpha compositing).  `synth_apng_composited` plants all
    of it from id arithmetic — frame 1 SOURCE-writes punch-through
    holes, frame 2 OVER-blends at per-pixel fractional alpha onto a
    dispose-shaped canvas — and `apng_dual_matte_stats` flattens each
    composited frame under BOTH white and black mattes, so exposed
    and fractional-alpha pixels must track the matte by exactly the
    alpha-weighted arithmetic the oracle re-derives CASE-by-CASE.  A
    reader that skips alpha-0 SOURCE pixels (GIF semantics), rounds
    the blend differently, or mis-scopes a dispose region breaks at
    least one of the four sum columns."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.apng_dual_matte_stats(
        multimodal.synth_apng_composited(docs)
    )


@query(oracle=_media_apng_gif_pairs_sql)
def media_apng_gif_pairs(spark, sf_dir):
    """CROSS-FORMAT animation dedup (r11) — the container-migration
    case a modern crawl actually contains: the same animation
    circulating as a GIF and as its APNG re-encode.
    `synth_apng_gif_pairs` plants, per ten-id group, eight GIF
    animations plus slot 0's APNG re-encode (verbatim gray values) and
    a +4-brightness APNG; `anim_video_phash` dispatches each payload
    to the right compositing reader by magic bytes and emits the ONE
    per-frame pHash contract, so `video_near_pairs` — UNCHANGED —
    lands (0,8), (0,9), (8,9) at distance 0.  The oracle replays the
    shared texture arithmetic at the 8×8 downsample points through
    the DCT/median chain and brute-forces the sequence zip; container
    format never enters the hash, which is the point."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.anim_video_phash(multimodal.synth_apng_gif_pairs(docs))
    return multimodal.video_near_pairs(
        sigs, bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING
    )


# APNG optimized-vs-flattened pairing (r11): the dual-matte CASE
# chain (white column) evaluated ONLY at the 8x8 downsample points,
# per-frame DCT/median hash, brute-force sequence zip; slot 8 =
# verbatim flatten (distance 0), slot 9 = contrast-reduced
@query(oracle=f"""
WITH dd AS (
  SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 10 AS slot,
         CASE WHEN doc_id % 10 >= 8 THEN doc_id - doc_id % 10
              ELSE doc_id END AS m
  FROM documents),
p AS (
  SELECT media_id, slot, m,
         40 + m % 9 AS w, 36 + (3 * m) % 11 AS h,
         m % 3 AS d0, (m // 3) % 3 AS d1,
         3 + m % 5 AS ox1, 2 + m % 7 AS oy1,
         11 + m % 6 AS pw1, 9 + m % 5 AS ph1,
         1 + m % 9 AS ox2, 4 + m % 3 AS oy2,
         13 + m % 4 AS pw2, 7 + m % 6 AS ph2
  FROM dd),
kk(u, x, c) AS (VALUES {_k_vals}),
pts AS (
  SELECT p.*, f.f AS f, gi.gi AS gi, gj.gj AS gj,
         (gj.gj * w) // 8 AS x, (gi.gi * h) // 8 AS y
  FROM p, range(0, 3) f(f), range(0, 8) gi(gi), range(0, 8) gj(gj)),
c AS (
  SELECT media_id, slot, f, gi, gj, d0, d1,
         (17 * m + 3 * x * x + 7 * y * y + 5 * x * y
          + 11 * x + 13 * y) % 251 AS b,
         (x >= ox1 AND x < ox1 + pw1
          AND y >= oy1 AND y < oy1 + ph1) AS in1,
         (23 * m + 7 * (x - ox1) * (x - ox1) + 5 * (y - oy1)
          + 3 * (x - ox1) * (y - oy1)) % 251 AS p1,
         (((x - ox1) + 2 * (y - oy1) + m) % 5 = 0) AS hole,
         (x >= ox2 AND x < ox2 + pw2
          AND y >= oy2 AND y < oy2 + ph2) AS in2,
         (31 * m + 11 * (x - ox2) + 13 * (y - oy2)
          + (x - ox2) * (x - ox2)) % 251 AS p2,
         (37 * m + 2 * (x - ox2) * (x - ox2)
          + 3 * (y - oy2)) % 256 AS fa
  FROM pts),
l1 AS (SELECT *, CASE WHEN d0 = 0 THEN b ELSE NULL END AS u0 FROM c),
l2 AS (
  SELECT *,
         CASE WHEN in1 THEN (CASE WHEN hole THEN NULL ELSE p1 END)
              ELSE u0 END AS o1,
         CASE WHEN in1 AND d1 = 0
              THEN (CASE WHEN hole THEN NULL ELSE p1 END)
              WHEN in1 AND d1 = 1 THEN NULL
              ELSE u0 END AS s1
  FROM l1),
g AS (
  SELECT media_id, f, gi, gj,
         CASE WHEN slot = 9 THEN v0 - v0 // 16 ELSE v0 END AS val
  FROM (
    SELECT media_id, slot, f, gi, gj,
           CASE WHEN f = 0 THEN b
                WHEN f = 1 THEN coalesce(o1, 255)
                WHEN NOT in2 THEN coalesce(s1, 255)
                WHEN s1 IS NOT NULL THEN
                  (255 * (p2 * fa + s1 * (255 - fa)) + 32512) // 65025
                WHEN fa = 0 THEN 255
                ELSE (p2 * fa + 255 * (255 - fa) + 127) // 255
           END AS v0
    FROM l2)),
coef AS (
  SELECT media_id, f, ku.u AS u, kv.u AS v,
         sum(CAST(ku.c AS BIGINT) * kv.c * val) AS cf
  FROM g JOIN kk ku ON ku.x = g.gi JOIN kk kv ON kv.x = g.gj
  GROUP BY media_id, f, ku.u, kv.u),
ac AS (SELECT media_id, f, u * 8 + v - 1 AS bit_i, cf
       FROM coef WHERE NOT (u = 0 AND v = 0)),
med AS (SELECT media_id, f, list_sort(list(cf))[32] AS med
        FROM ac GROUP BY media_id, f),
ph AS (SELECT ac.media_id, ac.f,
              CAST(sum(CASE WHEN cf > med THEN (CAST(1 AS BIGINT) << bit_i)
                            ELSE 0 END) AS BIGINT) AS phash
       FROM ac JOIN med USING (media_id, f) GROUP BY ac.media_id, ac.f),
v AS (SELECT media_id, list(phash ORDER BY f) AS hs FROM ph GROUP BY media_id)
SELECT id_a, id_b, n_frames, max_frame_hamming FROM (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         CAST(len(a.hs) AS BIGINT) AS n_frames,
         CAST(list_max(list_transform(range(1, len(a.hs) + 1),
              i -> bit_count(xor(a.hs[i], b.hs[i])))) AS BIGINT)
           AS max_frame_hamming
  FROM v a JOIN v b ON a.media_id < b.media_id AND len(a.hs) = len(b.hs))
WHERE max_frame_hamming <= {PHASH_MAX_HAMMING}
""")
def media_apng_optimized_pairs(spark, sf_dir):
    """APNG compositing PAYOFF (r11) — the optimized-pairs gate the GIF
    lane got in r10, now through dispose/blend semantics GIF cannot
    express: a partial-frame APNG with SOURCE punch-through holes and a
    fractional-alpha OVER frame pairs its FULL-CANVAS white-matte
    flatten re-encode at distance 0 (and a contrast-reduced flatten
    within threshold) through the UNCHANGED `video_near_pairs`
    machinery, under white-matte `apng_video_phash`.  The planted
    flattens derive from id arithmetic alone
    (`synth_apng_optimized_dups`); the oracle re-derives the full
    layered CASE chain — canvas state, integer blend, matte — at the
    8×8 downsample points, replays the DCT/median hash, and
    brute-forces the sequence zip."""
    docs = catalog(spark, sf_dir)["documents"]
    sigs = multimodal.apng_video_phash(
        multimodal.synth_apng_optimized_dups(docs), matte=(255, 255, 255)
    )
    return multimodal.video_near_pairs(
        sigs, bits=63, bands=PHASH_BANDS, max_hamming=PHASH_MAX_HAMMING
    )


# cross-format continuous regime: GIF slots are the standing index,
# APNG slots probe — same hash chain, split readout (disjoint id
# spaces make the probe's self-exclusion moot, the streaming
# contract)
@query(oracle=f"""
WITH {_apng_gif_cte}
SELECT new_id, corpus_id, n_frames, max_frame_hamming FROM (
  SELECT a.media_id AS new_id, b.media_id AS corpus_id,
         CAST(len(a.hs) AS BIGINT) AS n_frames,
         CAST(list_max(list_transform(range(1, len(a.hs) + 1),
              i -> bit_count(xor(a.hs[i], b.hs[i])))) AS BIGINT)
           AS max_frame_hamming
  FROM v a JOIN v b
    ON a.media_id % 10 >= 8 AND b.media_id % 10 < 8
   AND len(a.hs) = len(b.hs))
WHERE max_frame_hamming <= {PHASH_MAX_HAMMING}
""")
def media_anim_incremental(spark, sf_dir):
    """CROSS-FORMAT continuous animation dedup under the hash gate
    (r11): the standing corpus (GIF slots of `synth_apng_gif_pairs`)
    materializes its persisted per-frame signature index in the video
    lane's layout, and the arriving batch — the APNG re-encodes —
    probes it via `video_near_pairs_asym` THROUGH `anim_video_phash`,
    exactly the per-micro-batch machinery of
    `ingest_media_stream(fingerprint="anim-video")`: a GIF indexed
    yesterday rejects its APNG re-encode arriving today.  The oracle is
    the cross-format hash chain with a batch-vs-corpus split readout."""
    # the corpus/batch split runs BELOW the opaque synth:
    # `synth_apng_gif_pairs` emits exactly one row per input id with
    # media_id == doc_id, so filtering doc_id first is row-identical to
    # filtering media_id after — and Spark cannot push a filter through
    # mapInPandas, so the post-synth form encoded the FULL corpus in
    # BOTH branches (2× the Python GIF/APNG encode work).
    return _video_incremental(
        spark, sf_dir,
        lambda d: multimodal.anim_video_phash(multimodal.synth_apng_gif_pairs(d)),
        F.col("doc_id") % 10 >= 8,
        _video_near_pairs_asym,
    )


# APNG structural features (r11): pure id arithmetic — 3 frames,
# frames 1/2 always sub-canvas, one OVER frame, dispose counts
# from the (k mod 3, (k div 3) mod 3, 0) plan, num_plays = k mod 7
@query(headline=False, oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS m,
                 doc_id % 3 AS d0, (doc_id // 3) % 3 AS d1
          FROM documents)
        SELECT m AS media_id,
               CAST(3 AS BIGINT) AS n_frames,
               CAST(2 AS BIGINT) AS partial_frames,
               CAST(1 AS BIGINT) AS over_frames,
               CAST((CASE WHEN d0 = 1 THEN 1 ELSE 0 END)
                    + (CASE WHEN d1 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS dispose_bg,
               CAST((CASE WHEN d0 = 2 THEN 1 ELSE 0 END)
                    + (CASE WHEN d1 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS dispose_prev,
               CAST(m % 7 AS BIGINT) AS num_plays,
               CAST(0 AS BIGINT) AS default_hidden,
               CAST(0 AS BIGINT) AS total_delay_ms
        FROM d
    """))
def media_apng_features(spark, sf_dir):
    """APNG structural features under the hash gate (r11) — the
    `analyze-media` numbers from the CHUNK WALK alone (CRC-verified,
    no inflate): frame/partial counts, blend-OVER and dispose 1/2
    counts (how much of an APNG corpus needs the full compositing
    lane), acTL num_plays, and the default-image-hidden layout flag
    (`operators/multimodal.py::apng_anim_features`).  Over
    `synth_apng_composited` every field folds to id arithmetic."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.apng_feature_meta(
        multimodal.synth_apng_composited(docs)
    )


# stereo WAV: the oracle rebuilds both channel fields and the
# shifted floor-average downmix, then the abs statistics — any
# interleave/stride/downmix-rounding bug breaks the hash
@query(oracle=_q("""
        WITH s AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
            CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
            CAST(50 + doc_id % 200 AS BIGINT) AS n_samples,
            list_transform(range(0, CAST(50 + doc_id % 200 AS INT)),
              i -> abs((((doc_id * 31 + i * 7) % 65536 - 32768)
                        + ((doc_id * 13 + i * 11) % 65536 - 32768)
                        + 65536) // 2 - 32768)) AS aa
          FROM documents)
        SELECT media_id, sample_rate, n_samples,
               CAST(list_sum(aa) AS BIGINT) AS sum_abs,
               CAST(list_max(aa) AS BIGINT) AS max_abs
        FROM s
    """))
def media_wav_stereo(spark, sf_dir):
    """STEREO WAV decode under the hash gate — the most common real WAV
    shape, previously a quarantine: `decode_wav` downmixes interleaved
    PCM16 L/R to mono as ``(L + R + 65536) div 2 − 32768`` (shifted so
    floor division and truncation agree — Python, Spark SQL and DuckDB
    compute the identical sample).  `synth_wav_stereo` carries two
    independent deterministic channel fields; the oracle replays the
    interleave, the downmix arithmetic, and the abs-statistics over the
    mono projection."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.wav_stats(multimodal.synth_wav_stereo(docs))


# WAV depths: every normalized sample re-derived in pure integers —
# the mod results feeding // are non-negative, so floor and truncate
# agree across engines; the float32 lane's dyadic samples make
# floor(f*32768) equal n*32 exactly, clamp mirrored via LEAST
@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id,
                 doc_id % 4 AS v,
                 CAST(1 + (doc_id // 4) % 2 AS BIGINT) AS ch,
                 CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS sample_rate,
                 CAST(40 + doc_id % 50 AS BIGINT) AS nf
          FROM documents),
        s AS (
          SELECT media_id, v, ch, sample_rate, nf,
                 CASE v WHEN 0 THEN 8 WHEN 1 THEN 16 WHEN 2 THEN 24
                        ELSE 32 END AS bits,
                 list_transform(range(0, CAST(nf * ch AS INT)), j ->
                   CASE v
                     WHEN 0 THEN ((7 * media_id + 11 * j) % 256 - 128) * 256
                     WHEN 1 THEN (31 * media_id + 7 * j) % 65536 - 32768
                     WHEN 2 THEN ((131 * media_id + 17 * j) % 16777216) // 256
                                 - 32768
                     ELSE LEAST(((13 * media_id + 5 * j) % 2049 - 1024) * 32,
                                32767)
                   END) AS s16
          FROM d),
        m AS (
          SELECT media_id, sample_rate, bits, ch, nf,
                 CASE WHEN ch = 1 THEN list_transform(s16, x -> abs(x))
                      ELSE list_transform(range(0, CAST(nf AS INT)), i ->
                        abs((s16[2 * i + 1] + s16[2 * i + 2] + 65536) // 2
                            - 32768))
                 END AS aa
          FROM s)
        SELECT media_id, sample_rate, CAST(bits AS BIGINT) AS bits,
               ch AS channels, nf AS n_samples,
               CAST(list_sum(aa) AS BIGINT) AS sum_abs,
               CAST(list_max(aa) AS BIGINT) AS max_abs
        FROM m
    """))
def media_wav_depths(spark, sf_dir):
    """WAV DEPTH coverage under the hash gate (r9) — the depths real
    corpora actually ship beyond PCM16: 8-bit unsigned, 24-bit PCM, and
    IEEE float32, each normalized to the 16-bit scale with pinned floor
    semantics (`operators/multimodal.py::decode_wav` — 8-bit
    ``(b−128)·256``, 24-bit arithmetic-shift floor, float32
    ``floor(f·32768)`` with the +1.0 → 32767 clamp), mono and stereo
    with the SAME downmix contract as the 16-bit path.
    `synth_wav_depths` cycles depth and channels from id arithmetic
    with float samples chosen as dyadic rationals, so the oracle
    re-derives every normalized sample in pure integers — any depth
    branch, sign-extension, normalization, or clamp bug breaks the
    hash."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.wav_depth_stats(multimodal.synth_wav_depths(docs))


# PNG color-type variants: per-pixel contributions re-derived from
# the synth arithmetic per variant (palette = 3x the index through
# the gray PLTE, RGBA = r+g+b with alpha dropped, gray+alpha = gray)
@query(oracle=_q("""
        WITH d AS (
          SELECT CAST(doc_id AS BIGINT) AS media_id, doc_id % 3 AS v,
                 CAST(8 + doc_id % 9 AS BIGINT) AS w,
                 CAST(8 + (3 * doc_id) % 7 AS BIGINT) AS h
          FROM documents),
        cells AS (
          SELECT media_id, v, w, h,
                 unnest(range(0, CAST(w * h AS INT))) AS i
          FROM d),
        px AS (
          SELECT media_id, w, h, i % w AS x, i // w AS y,
                 CASE v
                   WHEN 0 THEN 3 * ((7 * media_id + 3 * (i % w)
                                     + 5 * (i // w)) % 251)
                   WHEN 1 THEN ((7 * media_id + 3 * (i % w)
                                 + 5 * (i // w)) % 256)
                             + ((11 * media_id + 2 * (i % w)
                                 + 3 * (i // w)) % 256)
                             + ((13 * media_id + (i % w)
                                 + 7 * (i // w)) % 256)
                   ELSE (7 * media_id + 3 * (i % w) + 5 * (i // w)) % 256
                 END AS s,
                 CASE v
                   WHEN 0 THEN (7 * media_id + 3 * (i % w)
                                + 5 * (i // w)) % 251
                   WHEN 1 THEN greatest(
                     (7 * media_id + 3 * (i % w) + 5 * (i // w)) % 256,
                     (11 * media_id + 2 * (i % w) + 3 * (i // w)) % 256,
                     (13 * media_id + (i % w) + 7 * (i // w)) % 256)
                   ELSE (7 * media_id + 3 * (i % w) + 5 * (i // w)) % 256
                 END AS m
          FROM cells)
        SELECT media_id, w AS width, h AS height,
               CAST(sum(s) AS BIGINT) AS sum_px,
               CAST(max(m) AS BIGINT) AS max_px,
               CAST(sum(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN s
                             ELSE 0 END) AS BIGINT) AS ds2_sum
        FROM px GROUP BY media_id, w, h
    """))
def media_png_variants(spark, sf_dir):
    """PNG COLOR-TYPE coverage under the hash gate — the shapes the web
    actually serves beyond gray/RGB, previously quarantined: PALETTE
    (indices through the PLTE table), RGBA and gray+alpha (alpha drops,
    opaque statistics).  `synth_png_variants` cycles the three by id
    mod 3 with channel fields from id arithmetic;
    `operators/multimodal.py::decode_png` inflates, unfilters,
    palette-maps / alpha-drops, and `png_stats` reports exact integer
    statistics the oracle re-derives per variant — any PLTE indexing,
    channel-stride, or alpha-slicing bug breaks the hash."""
    docs = catalog(spark, sf_dir)["documents"]
    return multimodal.png_stats(multimodal.synth_png_variants(docs))
