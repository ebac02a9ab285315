"""Referentially-closed subsetting ("slice capture") as iterative semi-joins.

Reference semantics (rivethealth/slice-db): starting from root rows matching
a SQL predicate, walk the FK graph — forward (child pulls its referenced
parent) and reverse (parent pulls all referencing children) — collecting row
identities until a fixed point, then export exactly those rows
(`slice_db/dump.py:75-174`, `slice_db/dump_temp_table.py:44-124`).  A row
discovered through an edge does **not** traverse the inverse direction of
that same edge (`slice_db/dump_temp_table.py:75-86`): a parent pulled in
only to satisfy a child's FK does not fan out to all its other children.
The reference runs this as recursive per-segment tasks issuing SQL to
PostgreSQL, with a driver-side sorted-array visited set
(`slice_db/collection/set.py:7-25`).

Spark-first re-design (NOT a translation):

* One BFS **round = one batch of Spark jobs**.  Each FK edge with a
  non-empty frontier is a ``left_semi`` discovery join followed by a
  ``left_anti`` join against the visited-key DataFrame (the reference's
  IntSet dedup, distributed).
* Per table the frontier is ONE DataFrame of key columns plus a
  ``__blocked`` tag — the inverse of the edge each key arrived through
  (NULL for roots).  An edge expands every frontier row not blocked for it;
  keys discovered by several edges in one round carry several tags and
  expand under the union of their allowances (round-synchronous reading of
  the reference's scheduler-dependent ordering).
* Action budget: ONE checkpoint+count per destination table per round
  (the count doubles as the termination check and the broadcast-size
  estimate).  Catalyst sees everything else lazily — source-row
  re-attachment is one join per source table per round, shared by all its
  outgoing edges through the persisted-plan cache.
* Frontiers and visited sets hold **key columns only** (narrow rows); full
  rows re-attach by one semi-join at export (the reference similarly
  re-fetches rows by ctid, `slice_db/dump_temp_table.py:170-186`).
* Small frontiers are **broadcast** — the analog of the reference loading
  frontier ids into an ANALYZEd temp table so the PG planner joins well
  (`slice_db/dump_temp_table.py:234-250`); large ones go through AQE.
* ``localCheckpoint`` every round truncates the iterative lineage, so a
  round's plan stays the size of one round; the superseded round
  checkpoints are released when the traversal ends.
* Every table touched by the traversal is scanned ONCE: its key+FK-column
  projection is persisted up front and every round's discovery joins hit
  the cache instead of re-reading the source R×edges times (the reference
  equivalently keeps all ids server-side and never re-reads table data).
  The projection is a few percent of table width, so even at 100 TB the
  cached working set is cluster-RAM/disk sized.
* Small traversals run in a **driver regime** that keeps the same state as
  driver-side Arrow tables: per table the visited store holds every
  physical row (scan columns) of each visited key, and the frontier one
  (key, ``__blocked``) row per arrival.  The no-backtrack, visited and
  first-edge checks are Arrow semi/anti joins, and lifting the state into
  the distributed regime is one ``createDataFrame`` per table.

Scale notes (100 TB, 1000 executors): per-round cost is bounded by frontier
size whenever frontiers broadcast — the big-table side never shuffles, the
scan is pruned to key+FK columns by Catalyst.  Visited sets are pure key
columns (checkpointed ``MEMORY_AND_DISK``); termination costs exactly one count
per active table per round.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from ..config.model import FORWARD, REVERSE, Root, SchemaConfig
from ..session import release

# Below this many frontier rows the discovery semi-join broadcasts the
# frontier side (no shuffle of the big table).
BROADCAST_ROWS = 2_000_000
# Traversal-state budget for the driver regime (rows held on the driver —
# the reference holds ALL ids driver-side in a numpy IntSet at ~4 B/row;
# our rows carry a few key/FK values, so 200k ≈ tens of MB).
DRIVER_ROWS = 200_000

_BLOCKED = "__blocked"


@dataclass
class SubsetResult:
    """Outcome of a traversal: per-table distinct key DataFrames + stats.

    ``history`` has one entry per round: ``new`` counts the next frontier's
    (key, ``__blocked``) rows per table in both regimes, and ``mode`` is
    ``driver`` or ``dist``."""

    keys: dict[str, DataFrame]
    rounds: int = 0
    row_counts: dict[str, int] = field(default_factory=dict)
    history: list[dict] = field(default_factory=list)


def _inverse(direction: str) -> str:
    return REVERSE if direction == FORWARD else FORWARD


def _tagged_counts(dfs: dict[str, DataFrame]) -> dict[str, int]:
    """Materialize every DataFrame and return its row count in ONE Spark
    job: union single-column tagged projections, groupBy-count, collect.
    (N separate .count() actions would serialize N job submissions — the
    dominant cost of small iterative rounds.)"""
    if not dfs:
        return {}
    tagged = None
    for name, df in dfs.items():
        part = df.select(F.lit(name).alias("__t"))
        tagged = part if tagged is None else tagged.union(part)
    return {r["__t"]: r["count"] for r in tagged.groupBy("__t").count().collect()}


def _sig(rid: str, direction: str) -> str:
    return f"{rid}|{direction}"


def _distinct(t: pa.Table) -> pa.Table:
    return t.group_by(t.column_names).aggregate([])


def _semi(left: pa.Table, right: pa.Table, keys: list[str], anti: bool = False) -> pa.Table:
    """Rows of ``left`` whose ``keys`` occur (``anti``: do not occur) in
    ``right``.  NULL keys never match, as in the Spark joins."""
    how = "left anti" if anti else "left semi"
    return left.join(right.select(keys), keys=keys, join_type=how)


class Subsetter:
    def __init__(
        self,
        spark: SparkSession,
        catalog: dict[str, DataFrame],
        schema: SchemaConfig,
        broadcast_rows: int = BROADCAST_ROWS,
        max_rounds: int = 200,
        driver_rows: int = DRIVER_ROWS,
        table_rows: dict[str, int] | None = None,
    ):
        schema.validate()
        self.spark = spark
        self.catalog = catalog
        self.schema = schema
        self.broadcast_rows = broadcast_rows
        self.max_rounds = max_rounds
        self.driver_rows = driver_rows
        self.table_rows = table_rows
        self._key_mult: dict[str, float] = {}

    # ------------------------------------------------------------------ util
    def _keys(self, table: str) -> list[str]:
        return self.schema.tables[table].keys()

    def _dst(self, rid: str, direction: str) -> str:
        r = self.schema.references[rid]
        return r.reference_table if direction == FORWARD else r.table

    def _maybe_broadcast(self, df: DataFrame, n: int) -> DataFrame:
        return F.broadcast(df) if n <= self.broadcast_rows else df

    def _mult(self, t: str, scans: dict[str, DataFrame]) -> float:
        """Rows-per-key multiplicity estimate for ``t`` (≥ 1).

        Frontier sizes count (key, tag) rows; the discovery join's build
        side is the frontier re-joined to the table's physical rows, so
        for tables whose declared keys are NOT unique the build input is
        frontier × multiplicity and gating the broadcast on the frontier
        count alone could OOM executors.  One approx_count_distinct per
        table (cached for the whole traversal, over the persisted scan)
        buys a safe estimate."""
        if t not in self._key_mult:
            base = scans.get(t, self.catalog[t])
            row = base.agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct(F.struct(*self._keys(t))).alias("d"),
            ).first()
            self._key_mult[t] = max(1.0, row["n"] / max(row["d"], 1))
        return self._key_mult[t]

    def _edge_plan(self) -> list[tuple[str, str, str, str]]:
        """(rid, direction, src, dst) for every configured traversal,
        deterministically ordered.  With ``table_rows`` stats (free from
        parquet footers — ``session.parquet_row_counts`` — or the live
        catalog's reltuples) edges sort destination-size-ascending, the
        reference's cheap-edges-first heuristic
        (`slice_db/dump_temp_table.py:110-117`); without stats a stable
        name sort (in a synchronous round, order only affects job
        submission order)."""
        plan = []
        for r in self.schema.references.values():
            for d in r.directions:
                src = r.table if d == FORWARD else r.reference_table
                dst = self._dst(r.id, d)
                if src in self.catalog and dst in self.catalog:
                    plan.append((r.id, d, src, dst))
        stats = self.table_rows or {}
        big = 1 << 62
        plan.sort(key=lambda e: (stats.get(e[3], big), e[3], e[0], e[1]))
        return plan

    # ------------------------------------------------------------------ run
    def run(self, roots: list[Root]) -> SubsetResult:
        """Capture the referential closure of ``roots``.

        Two regimes, both producing identical closures:

        * **driver regime** (traversal state ≤ ``driver_rows``): visited and
          frontier sets are driver-side Arrow tables — the distributed
          reading of the reference's driver-side ``IntSet``
          (`slice_db/collection/set.py`).  Each round runs ONE broadcast
          semi-join per active edge against the cached scans, collected with
          ``toArrow`` in parallel threads; dedup/no-backtrack bookkeeping is
          Arrow joins.  No persists, no Spark anti-joins, no checkpoint
          lineage — a round costs one tiny Spark job per edge.
        * **distributed regime**: frontiers/visited as DataFrames with
          anti-join dedup (the 100 TB path).  Entered from the start when the
          roots already exceed the budget, or mid-traversal when a round
          overflows it: the state after that round is lifted into DataFrames
          and the loop continues distributed from the next round.  Only if
          one of the round's jobs hit its row limit (so its rows are
          truncated) is the round-start state lifted instead, and the round
          redone distributed.
        """
        for root in roots:
            if root.table not in self.catalog:
                raise ValueError(
                    f"unknown root table {root.table!r}; catalog tables: {sorted(self.catalog)}"
                )
        plan = self._edge_plan()
        persisted: list[DataFrame] = []
        scan_cols, scans = self._build_scans(plan, persisted)
        history: list[dict] = []

        state = None
        if self.driver_rows > 0:
            out = self._run_driver(roots, plan, scan_cols, scans, history)
            if isinstance(out, SubsetResult):
                for df in persisted:
                    release(df)
                return out
            state = out  # mid-flight spill (or None: roots exceed budget)

        if state is None:
            state = self._seed_distributed(roots, persisted)
        return self._run_distributed(state, plan, scans, persisted, history)

    def _build_scans(self, plan, persisted):
        """ONE pruned scan per participating table, shared by every round:
        keys + every FK column any edge needs.  Without this each round
        re-reads the source once per edge touching the table."""
        scan_cols: dict[str, set] = {}
        for rid, d, src, dst in plan:
            r = self.schema.references[rid]
            out_cols = r.columns if d == FORWARD else r.reference_columns
            dst_cols = r.reference_columns if d == FORWARD else r.columns
            scan_cols.setdefault(src, set(self._keys(src))).update(out_cols)
            scan_cols.setdefault(dst, set(self._keys(dst))).update(dst_cols)
        scans: dict[str, DataFrame] = {}
        for t, cols in scan_cols.items():
            df = self.catalog[t].select(*sorted(cols)).persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(df)
            scans[t] = df
        if len(scans) > 1:
            # Warm every persisted scan CONCURRENTLY instead of paying each
            # table's first parquet read inside the round that first touches
            # it (which serializes reads across rounds: round 1 reads
            # orders, round 2 stalls on lineitem, ...).  Fire-and-forget
            # counts from daemon threads — rounds that reach a still-warming
            # scan just block on the in-flight cache build; traversals that
            # end early waste at most one count per table over columns the
            # traversal was going to read anyway.  Pays on 4-core local[4]:
            # perfbench seed-3 narrow slice 1.25-1.48 s, 1.52-1.85 s without.
            import threading

            for t, df in scans.items():

                def warm(d=df):
                    try:
                        d.count()
                    except Exception:
                        pass  # traversal surfaces any real scan error itself

                threading.Thread(target=warm, daemon=True).start()
        return scan_cols, scans

    def _key_schema(self, t: str, extra_blocked: bool = False) -> StructType:
        fields = [
            StructField(c, self.catalog[t].schema[c].dataType, True) for c in self._keys(t)
        ]
        if extra_blocked:
            fields.append(StructField(_BLOCKED, StringType(), True))
        return StructType(fields)

    # ------------------------------------------------------------ driver mode
    def _run_driver(self, roots, plan, scan_cols, scans, history):
        """Driver-regime traversal; returns a SubsetResult, a lifted
        distributed state (mid-flight spill), or None (roots exceed the
        budget — caller reseeds distributed from scratch)."""
        from concurrent.futures import ThreadPoolExecutor

        budget = self.driver_rows

        # Every physical row of the given keys (test data may contain
        # duplicate key tuples; the closure is defined over key identity, so
        # every row of a visited key both exports and expands — same as the
        # distributed src_rows re-join), one row past the budget at most.
        def by_key_rows(t: str, key_df):
            base = scans[t] if t in scans else self.catalog[t].select(*self._keys(t))
            cols = sorted(scan_cols[t]) if t in scan_cols else self._keys(t)
            return (
                base.join(F.broadcast(key_df), on=self._keys(t), how="left_semi")
                .select(*cols)
                .limit(budget + 1)
            )

        def collect(jobs):
            if not jobs:
                return []
            # pays on 4-core local[4]: perfbench seed-3 narrow slice 1.25-1.48 s,
            # 1.36-1.94 s with the edge jobs collected one by one
            with ThreadPoolExecutor(max_workers=min(16, len(jobs))) as ex:
                return list(ex.map(lambda j: (*j[:-1], j[-1].toArrow()), jobs))

        seed_jobs = []
        for root in roots:
            seed_keys = (
                self.catalog[root.table]
                .where(F.expr(root.condition))
                .select(*self._keys(root.table))
                .distinct()
            )
            seed_jobs.append((root.table, by_key_rows(root.table, seed_keys)))
        # store[t]: every physical row of each visited key, in scan columns
        # (they carry the FK values outgoing edges need, so rounds never
        # re-fetch source rows).
        store: dict[str, pa.Table] = {}

        def absorb(t: str, rows: pa.Table) -> None:
            # a key already stored has all its rows (an earlier root, or an
            # earlier edge of the same round, returned its whole row set)
            if t in store:
                rows = pa.concat_tables([store[t], _semi(rows, store[t], self._keys(t), anti=True)])
            store[t] = rows

        for t, rows in collect(seed_jobs):
            absorb(t, rows)
        # budget check AFTER dedup so rows shared by overlapping roots
        # count once (None → caller reseeds the distributed regime)
        if sum(rows.num_rows for rows in store.values()) > budget:
            return None
        # frontier[t]: one (key, __blocked) row per arrival; roots arrive
        # unblocked (NULL)
        frontier: dict[str, pa.Table] = {}
        for t, rows in store.items():
            keys = _distinct(rows.select(self._keys(t)))
            if keys.num_rows:
                frontier[t] = keys.append_column(_BLOCKED, pa.nulls(keys.num_rows, pa.string()))

        rounds = 0
        while frontier and rounds < self.max_rounds:
            rounds += 1
            t0 = time.time()
            jobs = []
            for rid, d, src, dst in plan:
                if src not in frontier:
                    continue
                r = self.schema.references[rid]
                out_cols = r.columns if d == FORWARD else r.reference_columns
                dst_cols = r.reference_columns if d == FORWARD else r.columns
                dkeys = self._keys(dst)
                # no-backtrack: a key expands unless every arrival blocks it
                blocked = pc.fill_null(pc.equal(frontier[src][_BLOCKED], _sig(rid, d)), False)
                open_keys = frontier[src].filter(pc.invert(blocked))
                # NULL FKs never equi-join
                vals = _semi(store[src], open_keys, self._keys(src)).select(out_cols).drop_null()
                if not vals.num_rows:
                    continue
                vals = _distinct(vals)
                if d == FORWARD and sorted(dst_cols) == sorted(dkeys):
                    # Forward edge onto the destination's OWN keys: the FK
                    # values ARE the destination keys, so the visited check
                    # is a driver-side anti-join (the reference's IntSet
                    # membership, `slice_db/collection/set.py`) — hub
                    # parents reached by every child (nation/region) cost
                    # ZERO Spark jobs once visited, and a round whose
                    # discoveries are all visited skips entirely.
                    novel = vals.rename_columns(dst_cols).select(dkeys)
                    if dst in store:
                        visited = store[dst].select(dkeys)
                        novel = _semi(novel.cast(visited.schema), visited, dkeys, anti=True)
                    if not novel.num_rows:
                        continue
                    key_df = self.spark.createDataFrame(novel, self._key_schema(dst))
                    jobs.append((rid, d, dst, by_key_rows(dst, key_df)))
                    continue
                fields = StructType(
                    [
                        StructField(f"__k{i}", self.catalog[src].schema[c].dataType, True)
                        for i, c in enumerate(out_cols)
                    ]
                )
                local = self.spark.createDataFrame(vals.rename_columns(fields.names), fields)
                cond = [F.col(c) == F.col(f"__k{i}") for i, c in enumerate(dst_cols)]
                # no .distinct(): the downstream left_semi ignores build-side
                # duplicates and the driver store dedups collected rows — a
                # distinct here costs one extra shuffle stage per edge job
                found_keys = (
                    scans[dst].join(F.broadcast(local), on=cond, how="left_semi").select(*dkeys)
                )
                jobs.append((rid, d, dst, by_key_rows(dst, found_keys)))

            results = collect(jobs)
            if any(rows.num_rows > budget for *_, rows in results):
                # a job hit its limit, so this round's rows are truncated:
                # redo the round distributed from the round-start state
                return self._lift_state(store, frontier, rounds - 1)

            visited_before = dict(store)
            arrivals: dict[str, list[pa.Table]] = {}
            for rid, d, dst, rows in results:
                ks = self._keys(dst)
                if dst in visited_before:
                    rows = _semi(rows, visited_before[dst], ks, anti=True)
                keys = _distinct(rows.select(ks))
                tags = pa.array([_sig(rid, _inverse(d))] * keys.num_rows, pa.string())
                arrivals.setdefault(dst, []).append(keys.append_column(_BLOCKED, tags))
                absorb(dst, rows)
            frontier = {}
            for t, parts in arrivals.items():
                fr = pa.concat_tables(parts)
                if fr.num_rows:
                    frontier[t] = fr
            history.append(
                {
                    "round": rounds,
                    "new": {t: fr.num_rows for t, fr in frontier.items()},
                    "sec": round(time.time() - t0, 3),
                    "mode": "driver",
                }
            )
            if frontier and sum(rows.num_rows for rows in store.values()) > budget:
                # the round overflowed the budget: keep it and continue
                # distributed from the next round
                return self._lift_state(store, frontier, rounds)

        visited = self._visited(store)
        # lazy local checkpoint: the first action materializes JVM-side
        # blocks and every later consumer (export joins, audits, manifest
        # counts) reads those instead of re-shipping driver rows
        return SubsetResult(
            keys={t: df.localCheckpoint(eager=False) for t, (df, _) in visited.items()},
            rounds=rounds,
            row_counts={t: n for t, (_, n) in visited.items()},
            history=history,
        )

    def _visited(self, store) -> dict[str, tuple[DataFrame, int]]:
        """(DataFrame of the distinct visited keys, their count) per table."""
        out = {}
        for t, rows in store.items():
            keys = _distinct(rows.select(self._keys(t)))
            if keys.num_rows:
                out[t] = (self.spark.createDataFrame(keys, self._key_schema(t)), keys.num_rows)
        return out

    def _lift_state(self, store, frontier, rounds_done):
        """Lift the driver tables into the distributed-state tuple."""
        visited = self._visited(store)
        return (
            {
                t: self.spark.createDataFrame(fr, self._key_schema(t, extra_blocked=True))
                for t, fr in frontier.items()
            },
            {t: fr.num_rows for t, fr in frontier.items()},
            {t: df for t, (df, _) in visited.items()},
            {t: n for t, (_, n) in visited.items()},
            rounds_done,
        )

    # ------------------------------------------------------- distributed mode
    def _seed_distributed(self, roots, persisted):
        """Union of root predicate scans per table (reference: multiple
        --root args share one visited set, slice_db/dump.py:84-91)."""
        seeds: dict[str, DataFrame] = {}
        for root in roots:
            df = self.catalog[root.table]
            keys = df.where(F.expr(root.condition)).select(*self._keys(root.table)).distinct()
            seeds[root.table] = (
                seeds[root.table].union(keys).distinct() if root.table in seeds else keys
            )
        seed_sizes = _tagged_counts(
            {t: keys.persist(StorageLevel.MEMORY_AND_DISK) for t, keys in seeds.items()}
        )
        frontier: dict[str, DataFrame] = {}
        fsize: dict[str, int] = {}
        visited: dict[str, DataFrame] = {}
        vsize: dict[str, int] = {}
        for t, keys in seeds.items():
            persisted.append(keys)
            n = seed_sizes.get(t, 0)
            if n == 0:
                continue
            frontier[t] = keys.withColumn(_BLOCKED, F.lit(None).cast("string"))
            fsize[t] = n
            visited[t] = keys
            vsize[t] = n
        return frontier, fsize, visited, vsize, 0

    def _run_distributed(self, state, plan, scans, persisted, history) -> SubsetResult:
        frontier, fsize, visited, vsize, rounds = state
        while frontier and rounds < self.max_rounds:
            rounds += 1
            _t0 = time.time()

            # One source-row re-attachment join per active table, shared by
            # all its outgoing edges (lazy; materialized by the per-dst
            # actions below, reused through the persisted plan).
            src_rows: dict[str, DataFrame] = {}
            for t, keys_df in frontier.items():
                need = set(self._keys(t))
                for rid, d, src, _ in plan:
                    if src == t:
                        r = self.schema.references[rid]
                        need.update(r.columns if d == FORWARD else r.reference_columns)
                base = scans[t] if t in scans else self.catalog[t]
                src_rows[t] = (
                    base.select(*sorted(need))
                    .join(self._maybe_broadcast(keys_df, fsize[t]), on=self._keys(t))
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                persisted.append(src_rows[t])

            # dst -> list of (tagged new-key DataFrames)
            discovered: dict[str, list[DataFrame]] = {}
            for rid, d, src, dst in plan:
                if src not in frontier:
                    continue
                r = self.schema.references[rid]
                out_cols = r.columns if d == FORWARD else r.reference_columns
                dst_cols = r.reference_columns if d == FORWARD else r.columns
                sig = _sig(rid, d)
                elig = src_rows[src].where(
                    F.col(_BLOCKED).isNull() | (F.col(_BLOCKED) != sig)
                )
                join_keys = elig.select(
                    *[F.col(c).alias(f"__k{i}") for i, c in enumerate(out_cols)]
                )
                # the build side is frontier (key, tag) rows × the source
                # table's rows-per-key multiplicity — gate the broadcast on
                # that estimate, not the frontier count alone
                build_rows = int(fsize[src] * self._mult(src, scans))
                if build_rows > self.broadcast_rows:
                    # shuffle path: shrink the join input; the broadcast
                    # path skips this — left_semi ignores build-side dupes
                    # and the extra shuffle costs more than it saves
                    join_keys = join_keys.distinct()
                cond = [F.col(c) == F.col(f"__k{i}") for i, c in enumerate(dst_cols)]
                found = (
                    scans[dst]
                    .join(self._maybe_broadcast(join_keys, build_rows), on=cond, how="left_semi")
                    .select(*self._keys(dst))
                )
                if dst in visited:
                    found = found.join(
                        self._maybe_broadcast(visited[dst], vsize[dst]),
                        on=self._keys(dst),
                        how="left_anti",
                    )
                discovered.setdefault(dst, []).append(
                    found.withColumn(_BLOCKED, F.lit(_sig(rid, _inverse(d))))
                )

            # Merge discoveries → candidate frontiers, each a lazy local
            # checkpoint (caches AND cuts the lineage), then ONE union-count
            # job materializes every candidate and returns all sizes —
            # termination + broadcast estimates for the whole round in a
            # single Spark action.  Checkpoints stay in ``persisted`` until
            # the traversal ends: a later checkpoint may still read them.
            candidates: dict[str, DataFrame] = {}
            for dst, parts in discovered.items():
                new = parts[0]
                for p in parts[1:]:
                    new = new.union(p)
                new = new.distinct().localCheckpoint(eager=False)
                persisted.append(new)
                candidates[dst] = new

            next_frontier: dict[str, DataFrame] = {}
            next_size: dict[str, int] = {}
            if candidates:
                sizes = _tagged_counts(candidates)
                for dst, new in candidates.items():
                    n = sizes.get(dst, 0)
                    if n == 0:
                        continue
                    next_frontier[dst] = new
                    next_size[dst] = n
                    new_keys = new.select(*self._keys(dst)).distinct()
                    prev = visited.get(dst)
                    # no distinct on the union: new_keys is anti-joined
                    # against prev and internally distinct, so the union is
                    # already a set — a distinct here would re-shuffle the
                    # whole visited table every round
                    merged = prev.union(new_keys) if prev is not None else new_keys
                    vsize[dst] = vsize.get(dst, 0) + n
                    visited[dst] = merged.localCheckpoint(eager=False)
                    persisted.append(visited[dst])

            history.append(
                {
                    "round": rounds,
                    "new": dict(next_size),
                    "sec": round(time.time() - _t0, 3),
                    "mode": "dist",
                }
            )
            for df in src_rows.values():
                df.unpersist()
            frontier, fsize = next_frontier, next_size

        # Truncate lineage on the results and release every intermediate
        # cache: a traversal leaves dozens of persisted plans with deep
        # iterative lineage behind, and every LATER query compilation pays
        # plan canonicalization against the cache registry — checkpointed
        # leaf plans make that cost constant.
        final = {t: v.localCheckpoint(eager=False) for t, v in visited.items()}
        # ONE job materializes every checkpoint and returns all counts;
        # intermediates are released only after the finals are solid.
        row_counts = _tagged_counts(final)
        for df in persisted:
            release(df)
        return SubsetResult(keys=final, rounds=rounds, row_counts=row_counts, history=history)

    # ---------------------------------------------------------------- export
    def export(self, result: SubsetResult) -> dict[str, DataFrame]:
        """Full rows for every table in the slice — one semi-join per table
        (the reference's row re-fetch by id, `slice_db/dump_temp_table.py:170-186`).
        Row identity is the declared key tuple: all rows sharing a visited
        key tuple are exported (the reference keys on physical ctid —
        SURVEY §7 hard parts)."""
        out = {}
        for t, keys in result.keys.items():
            k = self._maybe_broadcast(keys, result.row_counts.get(t, 0))
            out[t] = self.catalog[t].join(k, on=self._keys(t), how="left_semi")
        return out

    def closure_keys(self, result: SubsetResult, key_exprs: dict[str, str]) -> DataFrame:
        """Flatten the closure to a (tbl, key) DataFrame for auditing/oracle
        comparison.  ``key_exprs[t]`` is a SQL expression over t's columns
        producing a single BIGINT surrogate (e.g. composite-key packing)."""
        if not result.keys:
            return self.spark.createDataFrame([], "tbl string, key bigint")
        parts = []
        for t, keys in sorted(result.keys.items()):
            parts.append(
                keys.select(
                    F.lit(t).alias("tbl"),
                    F.expr(key_exprs.get(t, self._keys(t)[0])).cast("bigint").alias("key"),
                )
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.union(p)
        # the union stacks every table's traversal partitioning (|tables| ×
        # shuffle.partitions tasks for an audit-sized frame); coalesce —
        # no shuffle — back to ONE session-width task wave.  The knob that
        # sizes every other stage sizes this one too, so it stays
        # proportional at cluster scale.
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions", "200"))
        return df.coalesce(n)
