"""Physical-plan audits: pin the plans we want at 100× scale.

Every assertion here encodes a scale property the operators rely on —
parquet filter/column pushdown, broadcast joins for small sides, and the
absence of unbounded cartesian products — so a refactor that silently
regresses the plan fails CI, not the cluster.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from slice_db_spark.plans import queries as Q

from conftest import SF_DIR


@pytest.fixture(scope="module")
def plans(spark):
    qs = Q.queries()
    cache: dict[str, str] = {}

    def plan_of(name: str) -> str:
        if name not in cache:
            buf = io.StringIO()
            with redirect_stdout(buf):
                qs[name](spark, SF_DIR).explain("formatted")
            cache[name] = buf.getvalue()
        return cache[name]

    return plan_of


def test_root_scan_pushdown(plans):
    """The root predicate must reach the parquet scan, not evaluate
    post-scan (a full-table read at 100 TB)."""
    p = plans("root_scan")
    assert "PushedFilters" in p
    assert "GreaterThan(o_totalprice" in p


def test_projection_prunes_columns(plans):
    """A 3-column projection must read 3 columns (ReadSchema), not the
    whole customer row."""
    p = plans("projection")
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read and all(
        "c_address" not in ln and "c_comment" not in ln for ln in read
    ), read


def test_q5_broadcasts_dimensions(plans):
    """Region/nation (tiny dims) must broadcast; shuffling lineitem against
    a 5-row table would be the classic scale mistake."""
    p = plans("q5_region_revenue")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_semi_join_shape(plans):
    p = plans("semi_join")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_lsh_paths_have_no_cross_join(plans):
    """The LSH scale paths must stay equi-joins; only the documented
    brute-force baseline may nest-loop (and only as a BROADCAST loop)."""
    for name in ("minhash_lsh", "simhash_pairs", "dedup_embedding", "ann_lsh",
                 "ann_ivf", "ann_ivfpq", "media_phash_pairs",
                 "media_audio_pairs", "media_video_pairs"):
        p = plans(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
    brute = plans("ann_brute")
    assert "CartesianProduct" not in brute
    assert "BroadcastNestedLoopJoin" in brute  # documented small-|Q| baseline


def test_text_ops_are_codegen_only(plans):
    """Text analysis is pure column expressions — no Python workers
    (BatchEvalPython/ArrowEvalPython) in the plan."""
    for name in ("token_stats", "bpe_tokens", "quality", "language_id", "doc_fingerprints"):
        p = plans(name)
        assert "EvalPython" not in p, name


def test_jaccard_single_index_shuffle(plans):
    """The posting-list Jaccard shape: ONE shuffle of the inverted index
    (the shingle window) directly feeding collect_list with no re-shuffle
    between them, then only the pair-count and two per-doc size
    aggregates — 4 hash exchanges total.  Guards against the round-2
    regression shape (groupBy + left_semi + self-join = extra full-index
    shuffles)."""
    plan = plans("dedup_jaccard")
    assert plan.count("Exchange hashpartitioning") <= 4
    # the df-cap filter runs inside the window stage, not as a join
    assert "left_semi" not in plan.lower()


def test_curation_ops_plan_shapes(plans):
    """Curation operators keep their scale shapes: decontamination
    broadcasts the (small) benchmark shingle set — the corpus index must
    never shuffle into a sort-merge join against it; PII scrub, split
    assignment, and source mixing are pure per-row codegen (no joins, no
    Python workers); packing windows per shard rather than globally."""
    p = plans("decontam")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    for name in ("pii_scrub", "split_assign", "source_mix"):
        p = plans(name)
        assert "Join" not in p, name
        assert "EvalPython" not in p, name
    pack = plans("pack_sequences")
    assert "Window" in pack
    # shard-partitioned window: the sort key list must include shard
    assert "shard" in pack
    assert "EvalPython" not in pack


def test_q6_full_pushdown(plans):
    """Q6 is the pushdown showcase: every predicate (shipdate range,
    discount range, quantity bound) must reach the parquet scan as a
    PushedFilter — at 100 TB these filters are the difference between a
    row-group-pruned scan and reading the whole fact table."""
    p = plans("q6_forecast_revenue")
    assert "PushedFilters" in p
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
        assert any(frag in ln for ln in pushed), frag


def test_funnel_scans_bounded_by_stages(plans):
    """The funnel must not re-derive the fact table per stage-join (the
    naive per-stage filter+join shape scans events 3k+ times); the
    aggregate-first shape scans at most once per stage, each with the
    stage's type filter pushed to the scan."""
    import re

    p = plans("events_funnel")
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) <= 4


def test_asof_single_exchange_no_join(plans):
    """The as-of core is ONE hash exchange on user_id feeding a window —
    no inequality join, no cartesian product.  (The single extra
    broadcast join re-attaches click attributes.)"""
    p = plans("events_asof")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Window") >= 1
    # exactly one shuffle keyed by user_id for the window itself
    assert p.count("hashpartitioning(user_id") == 1, p


def test_range_join_is_equi_join(plans):
    """The interval-bucket range join must plan as a plain equi-join on
    (user_id, bin) — never a nested-loop/cartesian comparison."""
    p = plans("events_range_join")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "PushedFilters" in p


def test_chunk_dedup_partial_agg(plans):
    """Winner-per-chunk-hash must partially aggregate map-side (skew
    armor for hot duplicated chunks): HashAggregate appears below the
    exchange (partial) and above it (final)."""
    p = plans("dedup_chunks")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2


def test_pq_adc_broadcasts_distance_table(plans):
    """The ADC scan must join the (tiny) per-query distance table to the
    codes by BROADCAST — shuffling the codes table on (m, code) would
    funnel the whole corpus through n_codes*m partitions."""
    p = plans("ann_pq")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # the adist aggregation partially aggregates before the (q, id) shuffle
    assert p.count("HashAggregate") >= 2


def test_q4_semi_join_no_multiplication(plans):
    """The EXISTS must plan as a semi join (one output row per order), and
    the quarter filter must push to the orders scan."""
    p = plans("q4_order_priority")
    assert "LeftSemi" in p
    assert "PushedFilters" in p and "o_orderdate" in p


def test_q10_broadcasts_nation(plans):
    p = plans("q10_returned_items")
    assert "BroadcastHashJoin" in p
    assert "IsNotNull(l_returnflag)" in p or "EqualTo(l_returnflag,R)" in p


# --------------------------------------------------------------------------
# Whole-registry lint: every queries() entry, automatically.  Catches future
# scale-killers (cartesian products, per-row Python UDFs, single-partition
# windows, lost parquet pushdown) without a hand-written test per query.

#: documented small-|Q| brute-force baseline — the ONE sanctioned nested loop
_ALLOWED_NESTED_LOOP = {"ann_brute", "knn_classify"}

#: scalar-fold cross joins (r11): a global scalar (total, max date, exact
#: distinct count, vocabulary size…) that used to be a blocking
#: .first()/.count() during plan construction is now a broadcast 1-ROW
#: aggregate cross-joined into the plan — one job instead of two serial
#: ones.  The resulting BroadcastNestedLoopJoin's build side is exactly
#: one row by construction (a global aggregate), bounded at any input
#: volume, so it is not the all-pairs scale killer the lint hunts.
_ALLOWED_SCALAR_BROADCAST = {
    "basket_affinity",
    "bm25_rank",
    "collocations",
    "customer_rfm",
    "events_heatmap",
    "join_size_est",
    "lm_score",
    "markov_stationary",
    "nation_hhi",
    "q11_important_stock",
    "q22_idle_customers",
    "quality_blend",
    "sessions_promo_overlap",
    "sketch_hll",
    "source_drift",
    "source_temperature",
    "tfidf_terms",
}

#: global (unpartitioned) windows allowed only where the window input is
#: bounded by something other than data volume:
#:  - q3_top_orders: rank assignment ABOVE TakeOrderedAndProject (≤10 rows)
#:  - scrub_deterministic: per-partition-offset window of the scalable
#:    running counter — one row per shuffle partition (bounded by config)
#:  - revenue_mom: lag window over the month-aggregated frame — one row
#:    per calendar month, bounded by time span not data volume
_ALLOWED_GLOBAL_WINDOW = {
    "q3_top_orders",
    # scrub_deterministic: the data-grain counter window is bucket-
    # partitioned (transforms._global_running_count); the remaining
    # unpartitioned window is the per-bucket offset cumulation over a
    # <= |shuffle partitions|-row frame
    "scrub_deterministic",
    "revenue_mom",
    # sketch_quantile: the cumulative window runs over the 128-row
    # histogram STATE frame (post-aggregation, metadata-sized at any
    # input volume), not over input rows
    "sketch_quantile",
    # jaccard_threshold_sweep: cumulative window over the <=5-row band
    # frame (post-aggregation), not over pairs
    "jaccard_threshold_sweep",
    # customer_abc graduated OUT of this list: its cumulative order now
    # decomposes into revenue-range buckets with a metadata-sized offset
    # collect (the two-pass shape) — the template for any future
    # cumulative over a data-volume-sized frame
}

#: queries whose plan must keep a NON-EMPTY PushedFilters on a parquet scan
#: (each filters a source column; losing pushdown = full-table scan at 100 TB)
_EXPECTED_PUSHDOWN = {
    "root_scan", "semi_join", "anti_join", "multicol_semi_join",
    "slice_export_lineitem", "q1_pricing_summary", "q3_top_orders",
    "q4_order_priority", "q5_region_revenue", "q6_forecast_revenue",
    "q10_returned_items", "salted_join_revenue", "window_top_orders",
    "q7_nation_volume", "q13_order_distribution", "q22_idle_customers",
    # q17_small_qty_revenue: localCheckpoint (two-consumer reuse) cuts the
    # visible lineage above the filtered part⋈lineitem scan, same as q15
    "stream_enrich", "stream_tumbling", "stream_sliding", "stream_session",
    "events_funnel", "events_asof", "events_range_join", "events_retention",
    "decontam", "ann_brute", "ann_lsh", "ann_ivf", "ann_pq",
    "knn_classify",
    # dedup_embedding / dedup_embedding_hi / simhash_pairs graduated OUT
    # of this list in r11: the banded self-join now eagerly checkpoints
    # its signature frame (one fingerprint pass instead of two — the
    # 08c7de6 materialization), which cuts the visible lineage above the
    # scan exactly like q15/q17's two-consumer checkpoints.  The only
    # pushed filter those scans ever had was IsNotNull(id) — every row is
    # fingerprinted by design — and it still applies inside the
    # checkpoint-materialization job.
    "corpus_pipeline",
}

_GLOBAL_WINDOW_RE = __import__("re").compile(
    r"windowspecdefinition\(\s*[\w#]+\s+(ASC|DESC)", __import__("re").IGNORECASE
)


#: queries whose final ORDER BY (TPC-H presentation order, no LIMIT) sorts
#: the POST-AGGREGATION result — a frame bounded by group cardinality
#: (2-25 rows at any input volume), so the range exchange moves metadata,
#: not data.  Everything else must avoid range exchanges entirely.
_ALLOWED_RANGE_EXCHANGE = {
    "q12_shipmode",      # |linestatus| rows
    "q13_order_distribution",  # |distinct order counts| rows
    "q15_top_supplier",  # ties at the max: ~1 row
    "q20_excess_suppliers",    # qualifying suppliers
    "q22_idle_customers",      # |phone prefixes| rows
}


def test_registry_lint_no_scale_killers(plans):
    """Every registered query: no CartesianProduct, no row-at-a-time Python
    (BatchEvalPython), nested-loop joins only where documented, no
    unpartitioned window outside the justified set, and no range exchange
    anywhere — a global sort (or a repartitionByRange whose sampling pass
    re-executes the child) has no place in any registered plan; every
    ordering need is served by TakeOrdered, partitioned windows, or the
    value-derived bucket decomposition."""
    for name in Q.queries():
        p = plans(name)
        assert "CartesianProduct" not in p, name
        assert "BatchEvalPython" not in p, name
        if name not in _ALLOWED_RANGE_EXCHANGE:
            assert "rangepartitioning" not in p, (
                f"{name}: range exchange (global sort / repartitionByRange) "
                "in the plan — use TakeOrdered, a partitioned window, or "
                "bucket decomposition instead"
            )
        if name in _ALLOWED_SCALAR_BROADCAST:
            # the sanctioned nested loop is the 1-row scalar broadcast —
            # it must be a Cross with a broadcast build side, and never
            # more than a couple per plan (a data-volume nested loop
            # would still fail here via the Inner/LeftOuter join type)
            import re as _re

            nl = _re.findall(r"BroadcastNestedLoopJoin (\w+)", p)
            assert all(j == "Cross" for j in nl), (name, nl)
        elif name not in _ALLOWED_NESTED_LOOP:
            assert "BroadcastNestedLoopJoin" not in p, name
        if name not in _ALLOWED_GLOBAL_WINDOW:
            assert not _GLOBAL_WINDOW_RE.search(p), (
                f"{name}: unpartitioned window funnels all rows through one "
                "partition — partition it or justify in _ALLOWED_GLOBAL_WINDOW"
            )


def test_registry_lint_pushdown(plans):
    """Queries that filter source columns must keep a non-empty parquet
    PushedFilters — regression here silently becomes a full-table read."""
    import re

    for name in sorted(_EXPECTED_PUSHDOWN):
        p = plans(name)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
        assert any(s.strip() for s in pushed), f"{name}: lost parquet pushdown"


def test_scrub_counter_single_udf_pass_no_range_exchange(plans):
    """The stateful-counter fix must hold: the scrub plan evaluates the
    Arrow UDFs exactly once (a repartitionByRange above them would
    re-evaluate the whole UDF pass inside the range-sampling job) and
    contains no range exchange at all — the window buckets on a pure
    function of the key instead."""
    import re

    p = plans("scrub_deterministic")
    # formatted explain prints each node in the tree AND as a numbered
    # detail block — count distinct node ids
    nodes = set(re.findall(r"\((\d+)\) ArrowEvalPython", p))
    assert len(nodes) == 1, p
    assert "rangepartitioning" not in p
    # r7: the bucket-offset fold replaced the offsets broadcast join and
    # its single-partition window — every Window left in the plan must be
    # partitioned (no WindowExec all-to-one-partition funnel)
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "_pid" in spec, p


# ------------------------------------------------------------ source lints
# AST checks over the package source: invariants that used to hold only
# by care (no Spark session needed).

import ast
import os

_PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "slice_db_spark")

#: dict methods that mutate the receiver
_DICT_WRITES = {"pop", "popitem", "clear", "update", "setdefault"}


def _module_memos(tree: ast.Module) -> set[str]:
    """Module-level names bound to an EMPTY dict literal — the memos a
    query fills at run time (constant tables start non-empty)."""
    memos = set()
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        if isinstance(value, ast.Dict) and not value.keys:
            memos |= {t.id for t in targets if isinstance(t, ast.Name)}
    return memos


def _unguarded_memo_writes(src: str) -> list[str]:
    """Every write to a module-level memo inside a function that is not
    lexically inside ``with _MEMO_LOCK:`` — item assignment/deletion,
    rebinding, and the mutating dict methods.  A nested function resets
    the guard: its body runs later, outside the enclosing ``with``."""
    tree = ast.parse(src)
    memos = _module_memos(tree)
    bad: list[str] = []

    def memo_ref(node) -> str | None:
        if isinstance(node, ast.Subscript):
            node = node.value
        if isinstance(node, ast.Name) and node.id in memos:
            return node.id
        return None

    def visit(node, guarded: bool) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            guarded = False
        if isinstance(node, (ast.With, ast.AsyncWith)) and any(
            isinstance(i.context_expr, ast.Name)
            and i.context_expr.id == "_MEMO_LOCK"
            for i in node.items
        ):
            guarded = True
        if not guarded:
            targets = []
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            elif isinstance(node, ast.Delete):
                targets = node.targets
            for t in targets:
                name = memo_ref(t)
                if name:
                    bad.append(f"line {node.lineno}: {name}")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _DICT_WRITES
                and memo_ref(node.func.value)
            ):
                bad.append(
                    f"line {node.lineno}: {node.func.value.id}.{node.func.attr}"
                )
        for child in ast.iter_child_nodes(node):
            visit(child, guarded)

    for top in tree.body:
        # module-level statements run once at import, single-threaded
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            visit(top, False)
    return bad


def test_memo_writes_hold_memo_lock():
    """Registry entries run side by side from driver threads (the
    panoramas' ``_concurrently`` builds, callers' own threads): every
    write to a module-level memo in plans/queries.py must hold
    ``_MEMO_LOCK``."""
    with open(os.path.join(_PKG, "plans", "queries.py")) as f:
        src = f.read()
    memos = _module_memos(ast.parse(src))
    # discovery must find today's memos, or the lint below is vacuous
    assert {"_CATALOGS", "_SUBSETS", "_JP05_PAIRS", "_LSH_PAIRS",
            "_FLAT_OPQ"} <= memos, memos
    assert _unguarded_memo_writes(src) == []


def test_memo_lint_catches_planted_unguarded_writes():
    planted = '''
_MEMO_LOCK = None
_MEMO = {}
TABLE = {"a": 1}

def fill(k, v):
    _MEMO[k] = v

def drop(k):
    with _MEMO_LOCK:
        _MEMO.pop(k)
    _MEMO.setdefault(k, 1)

def later(k):
    with _MEMO_LOCK:
        def cb():
            _MEMO.clear()
        return cb

def reset():
    global _MEMO
    _MEMO = {}
    del _MEMO[1]
    TABLE.update(b=2)
'''
    bad = _unguarded_memo_writes(planted)
    assert [b.split(": ")[1] for b in bad] == [
        "_MEMO", "_MEMO.setdefault", "_MEMO.clear", "_MEMO", "_MEMO",
    ], bad


def test_multimodal_map_in_pandas_only_in_map_rows():
    """Every Python-worker stage in operators/multimodal.py goes through
    the one row-mapper ``_map_rows`` (batch loop, typed output columns,
    the quarantine rule) — a hand-written ``mapInPandas`` elsewhere would
    bring the duplicated batch plumbing back."""
    with open(os.path.join(_PKG, "operators", "multimodal.py")) as f:
        tree = ast.parse(f.read())
    sites: list[tuple[str, int]] = []

    def visit(node, owner: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and owner == "":
            owner = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mapInPandas"
        ):
            sites.append((owner, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    visit(tree, "")
    assert [owner for owner, _ in sites] == ["_map_rows"], sites


#: the only functions that may construct a ThreadPoolExecutor: the
#: user-set ``--jobs`` pools of dump and restore (the reference's one
#: kind of driver concurrency) and the driver pools measured to pay on a
#: 4-core host (numbers at each site; ``_concurrently`` serves
#: ``sketch_hll_union`` and the dedup and robust-media panoramas)
_POOL_OWNERS = [
    "Subsetter._run_driver", "_concurrently", "_run_levels", "load_catalog",
    "write_slice", "write_slice_zip",
]


def _pool_owners(src: str) -> list[str]:
    """The owner of every ``ThreadPoolExecutor(...)`` call in ``src``: the
    top-level function (``Class.method`` for a method) that lexically
    encloses it, ``""`` at module or class level.  A nested function
    counts as its enclosing function."""
    owners: list[str] = []

    def visit(node, owner: str, in_func: bool) -> None:
        if not in_func and isinstance(
            node, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            in_func = not isinstance(node, ast.ClassDef)
            owner = f"{owner}.{node.name}" if owner else node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name == "ThreadPoolExecutor":
                owners.append(owner if in_func else "")
        for child in ast.iter_child_nodes(node):
            visit(child, owner, in_func)

    visit(ast.parse(src), "", False)
    return owners


def test_thread_pools_only_in_allowlist():
    """A driver thread pool is a speed mechanism; it stays only where a
    measurement on a 4-core host shows it pays or the user sets ``--jobs``.
    Jobs submitted from pool threads also lose the caller's job group."""
    owners = []
    for root, _, files in os.walk(_PKG):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(root, fn)) as f:
                    owners += _pool_owners(f.read())
    assert sorted(owners) == _POOL_OWNERS, owners


def test_pool_lint_catches_planted_constructions():
    planted = '''
import concurrent.futures
from concurrent.futures import ThreadPoolExecutor

POOL = ThreadPoolExecutor(2)

def load_catalog():
    with ThreadPoolExecutor(4) as ex:
        pass

def panorama():
    def build():
        return concurrent.futures.ThreadPoolExecutor(max_workers=3)
    return build

class Subsetter:
    pool = ThreadPoolExecutor(1)

    def _run_driver(self):
        def collect():
            with ThreadPoolExecutor(16) as ex:
                pass
'''
    assert _pool_owners(planted) == [
        "", "load_catalog", "panorama", "", "Subsetter._run_driver",
    ]


def _callers(src: str, names: tuple[str, ...]) -> dict[str, set[str]]:
    """For each of ``names``, the top-level functions of ``src`` that call
    it (``F.row_number()`` and ``_cell_l2_vec(...)`` alike; a nested
    function counts as its enclosing one)."""
    out: dict[str, set[str]] = {n: set() for n in names}
    for top in ast.parse(src).body:
        if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in out:
                    out[name].add(top.name)
    return out


def test_ann_probe_and_rank_tail_have_one_definition():
    """Each integer ANN chain and persisted-index probe in
    operators/similarity.py runs the one cell probe (``_probe_cells``)
    and the one rank tail (``_topk_rank``); the cosine family keeps its
    own ``sim``-ranked tails.  A hand-copied probe or tail brings back
    the copies that only parity tests kept in step."""
    with open(os.path.join(_PKG, "operators", "similarity.py")) as f:
        got = _callers(f.read(), ("_cell_l2_vec", "row_number"))
    assert got == {
        "_cell_l2_vec": {"_assign_cells_int", "_probe_cells"},
        "row_number": {
            "_topk_rank", "_probe_cells",
            "brute_force_topk", "knn_label_vote", "lsh_topk", "ivf_topk",
        },
    }, got


def test_ann_lint_catches_planted_copies():
    planted = '''
from pyspark.sql import functions as F
from pyspark.sql.functions import row_number

def _probe_cells(q):
    return _cell_l2_vec(q), F.row_number()

def probe_ivf_index(q):
    dists = _cell_l2_vec(q)
    def tail():
        return row_number()
    return dists, tail

RANK = F.row_number()
'''
    assert _callers(planted, ("_cell_l2_vec", "row_number")) == {
        "_cell_l2_vec": {"_probe_cells", "probe_ivf_index"},
        "row_number": {"_probe_cells", "probe_ivf_index"},
    }
