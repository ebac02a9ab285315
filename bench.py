"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": "total_sec", "value": N, "unit": "sec",
"queries": {name: sec}, "sf": X}.

Each query is fully materialized through the `noop` sink (all columns
computed, nothing collected to the driver) — the closest local analog of a
cluster job writing output.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from slice_db_spark.plans import queries as Q
from slice_db_spark.session import get_spark

#: entries timed once instead of best-of-N.  The first headline entry (in
#: registry order) to reach a registry memo (traversal, pair graph, LSH
#: pairs, OPQ rotation) fills it on its first run, and a rerun would time
#: the cache read: single-shot reports the materialization exactly once.
#: Later readers of a memo stay best-of-N, so their own work is timed like
#: every other entry's.  tests/test_entry_contract.py checks that this set
#: is exactly the memos' first reachers.
SINGLE_SHOT = {
    "closure_customers", "nearest_doc", "ann_pq_opq",
    # runs before minhash_lsh and minhash_est, and builds the LSH pairs
    # through its minhash_lsh family
    "dedup_panorama",
}

# dedup/ANN queries re-run against a FACTOR×-scaled corpus so posting-list
# and candidate-volume blowups show up as numbers (set SPARK_GRAFT_SWEEP=0
# to skip, or to another integer factor)
SWEEP = [
    "dedup_exact",
    "dedup_chunks",
    "dedup_rewrite",
    "dedup_jaccard",
    "minhash_lsh",
    "dedup_sorted_nbrs",
    "dedup_substring",
    "dedup_incremental",
    "dedup_clusters",
    "simhash_pairs",
    "media_phash_pairs",
    # NOT swept: dedup_embedding (r=4 demo) grows ~quadratically in candidate
    # volume by design (documented in operators/similarity.py) — it stays a
    # base-SF headline + correctness query only.  The production-selectivity
    # r=8 config is the swept one and should stay near-flat at corpus growth.
    # NOT swept: semdedup — within-cell work is Σ|cell|², so a fixed 8-cell
    # demo config grows quadratically under corpus scaling; production scales
    # the cell count with n (√n cells ≈ linear), which the fixed-seed oracle
    # can't replay at varying n, so it stays a base-SF query.
    "dedup_embedding_hi",
    "ann_lsh",
    "ann_ivf",
    "ann_ivf_kmeans",
    "ann_pq",
    # r10: the OPQ-rotated flat chain — sweeps the fused single-scan
    # codebook sampling (2 trainer scans + KB driver state should track
    # corpus growth ~linearly like plain ann_pq)
    "ann_pq_opq",
    "ann_sq8",
]


def warm_up(spark, cpus: int) -> None:
    """Steady-state warmup: cluster executors and their Python workers are
    long-lived, so per-query numbers should measure operator cost, not
    one-time process spawn.  One tiny shuffle warms JVM codegen; one tiny
    pandas UDF spawns the Arrow Python worker pool (otherwise the first
    UDF-bearing query is charged ~4 s of fork+import)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(v: pd.Series) -> pd.Series:
        return v * 1.0

    warm = spark.range(0, cpus * 100, 1, cpus).selectExpr("id", "id % 7 AS k")
    warm.groupBy("k").count().write.format("noop").mode("overwrite").save()
    warm.select(_warm(warm.id.cast("double"))).write.format("noop").mode("overwrite").save()


def build_scaled_corpus(spark, sf_dir: str, factor: int, out_dir: str) -> None:
    """Materialize a factor× documents/embeddings corpus (one-time setup,
    NOT timed).  Copies must look like NEW content, not duplicates — a
    verbatim k× replication would add k² cross-copy duplicate pairs and
    measure an artificial pair blowup instead of corpus growth:

    * documents: per-copy Caesar rotation of the letters (``translate``,
      JVM-side) keeps length/token/df structure but makes shingles
      disjoint across copies;
    * embeddings: per-copy deterministic sign-flip pattern preserves
      within-copy cosine structure (cos(s·a, s·b) = cos(a, b)) while
      decorrelating copies.
    """
    import hashlib

    from pyspark.sql import functions as F

    alpha = "abcdefghijklmnopqrstuvwxyz"
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    parts = [docs]
    for i in range(1, factor):
        rot = alpha[i:] + alpha[:i]
        parts.append(
            docs.select(
                (F.col("doc_id") + i * 100_000_000).alias("doc_id"),
                F.translate("text", alpha + alpha.upper(), rot + rot.upper()).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    scaled_docs = parts[0]
    for p in parts[1:]:
        scaled_docs = scaled_docs.unionByName(p)
    scaled_docs.write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()[0])
    parts = [emb]
    for i in range(1, factor):
        signs = [
            1.0 if hashlib.md5(f"sweep:{i}:{j}".encode()).digest()[0] % 2 else -1.0
            for j in range(dim)
        ]
        sarr = F.array(*[F.lit(s) for s in signs])
        parts.append(
            emb.select(
                (F.col("vec_id") + i * 100_000_000).alias("vec_id"),
                F.zip_with("embedding", sarr, lambda x, s: (x * s).cast("float")).alias(
                    "embedding"
                ),
                "label",
            )
        )
    scaled_emb = parts[0]
    for p in parts[1:]:
        scaled_emb = scaled_emb.unionByName(p)
    scaled_emb.write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))


def build_scaled_tpch(spark, sf_dir: str, factor: int, out_dir: str) -> dict:
    """Materialize a factor× customer/orders/lineitem (one-time setup, NOT
    timed) with per-copy key offsets so FKs stay consistent: copy i's
    customers own copy i's orders own copy i's lineitems, while part /
    supplier / nation / region stay the shared 1× dimensions (lineitem's
    part/supp FKs keep pointing at them — forward-only edges, so the
    closure from the ORIGINAL roots reaches no copy rows and its key set
    is provably scale-invariant; `tests/test_subset.py` pins that).
    Returns the table-path map for the scaled catalog."""
    from pyspark.sql import functions as F

    C_OFF, O_OFF = 10_000_000, 100_000_000
    paths = {t: os.path.join(sf_dir, f"{t}.parquet")
             for t in ("region", "nation", "part", "supplier")}
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    def rep(df, shifts):
        parts = [df]
        for i in range(1, factor):
            p = df
            for col, off in shifts.items():
                p = p.withColumn(col, F.col(col) + i * off)
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    rep(cust, {"c_custkey": C_OFF}).write.mode("overwrite").parquet(
        os.path.join(out_dir, "customer.parquet"))
    rep(orders, {"o_orderkey": O_OFF, "o_custkey": C_OFF}).write.mode(
        "overwrite").parquet(os.path.join(out_dir, "orders.parquet"))
    rep(li, {"l_orderkey": O_OFF}).write.mode("overwrite").parquet(
        os.path.join(out_dir, "lineitem.parquet"))
    for t in ("customer", "orders", "lineitem"):
        paths[t] = os.path.join(out_dir, f"{t}.parquet")
    return paths


def main():
    # argv is validated FIRST: the old shape parsed --control after the
    # 35-minute query loop, so a bad invocation burned the whole run
    # before erroring.  A bare --control now means "use the default
    # prior" instead of failing at all.
    control_arg: str | None = None
    if "--control" in sys.argv:
        ci = sys.argv.index("--control")
        if ci + 1 < len(sys.argv) and not sys.argv[ci + 1].startswith("-"):
            control_arg = sys.argv[ci + 1]
        else:
            control_arg = ""  # bare flag: fall through to the default

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        sf = sf_dir
    spark = get_spark("bench", cpus=cpus)

    warm_up(spark, cpus)

    qs = Q.queries()
    # best-of-N per query (default 2): single-shot numbers on a shared box
    # swing ±2× with ambient load; the minimum is the steady-state
    # operator cost a cluster scheduler would see.  Memoized plan caches
    # (traversals, LSH pairs) make reruns of THOSE queries cache-reads by
    # design — that is the pipeline semantics, not a timing artifact.
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "2")))
    def timed(fn, n: int) -> float:
        best = None
        for _ in range(n):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return round(best, 3)

    # Dead-state reclaim between queries: localCheckpoint RDDs from a
    # finished query hold executor memory until BOTH garbage collectors
    # notice the dropped references — without the nudge, a growing suite
    # taxes the queries that FOLLOW the checkpoint-heavy ones (the r7
    # +18% drift).  Deliberately NOT clearCache(): designed cross-query
    # memoization (closure -> slice_export, the shared pair graphs) is
    # pipeline semantics and must keep working.
    import gc as _gc

    def reclaim_dead_state():
        _gc.collect()
        spark.sparkContext._jvm.System.gc()

    times: dict[str, float] = {}
    for i, name in enumerate(Q.headline()):
        times[name] = timed(
            lambda: qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save(),
            1 if name in SINGLE_SHOT else repeat,
        )
        print(f"# {name}: {times[name]}s", file=sys.stderr)
        if (i + 1) % 10 == 0:
            reclaim_dead_state()
    total = round(sum(times.values()), 3)

    out = {
        "metric": "total_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }

    # Progressive checkpoint: the full run (headline + sweep + closure +
    # restore) can outlive a caller's capture window (the round-4 driver
    # artifact was a truncated tail, parsed: null) — so every completed
    # section also lands in a local JSON file that survives truncation.
    ckpt_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")

    # Same-host regression control (r9): load the PRIOR artifact's
    # per-query map BEFORE this run overwrites the checkpoint file, and
    # emit a machine-checkable {prior vs current common-query subtotal}
    # block into this artifact — raw cross-day totals swing ±30% with VM
    # speed, so the verdict must compare THIS host's numbers on the
    # COMMON query list, not totals across hosts/rounds.  Source:
    # --control <path> / SPARK_GRAFT_BENCH_CONTROL, defaulting to the
    # committed BENCH_LOCAL.json from the previous round.
    control_path = control_arg or os.environ.get(
        "SPARK_GRAFT_BENCH_CONTROL"
    ) or ("BENCH_LOCAL.json" if os.path.exists("BENCH_LOCAL.json") else None)
    control_prior: dict | None = None
    if control_path and os.path.exists(control_path):
        try:
            with open(control_path) as f:
                control_prior = json.load(f)
        except (OSError, ValueError):
            control_prior = None
    if control_prior is not None:
        import math as _math

        prior_q = control_prior.get("queries", {})
        common = sorted(q for q in prior_q if q in times)
        prior_sub = sum(prior_q[q] for q in common)
        cur_sub = sum(times[q] for q in common)
        # Per-query ratios (r11): the subtotal ratio alone cannot
        # attribute a single query's movement (same-code host drift is
        # ±6-14% ACROSS the board, a real regression/win is localized),
        # so the artifact carries every common query's current/prior
        # ratio plus the largest movers with their raw seconds — a
        # claimed per-query win must be readable from this block alone.
        per_q = {
            q: round(times[q] / prior_q[q], 3)
            for q in common if prior_q[q]
        }
        movers = sorted(
            (q for q in common if prior_q[q] and times[q]),
            key=lambda q: abs(_math.log(times[q] / prior_q[q])),
            reverse=True,
        )[:10]
        out["control"] = {
            "control_file": control_path,
            "control_total": control_prior.get("value"),
            "n_common": len(common),
            "prior_common_subtotal": round(prior_sub, 3),
            "current_common_subtotal": round(cur_sub, 3),
            "ratio": round(cur_sub / prior_sub, 3) if prior_sub else None,
            "per_query_ratio": per_q,
            "top_movers": [
                {
                    "query": q,
                    "prior": round(prior_q[q], 3),
                    "current": round(times[q], 3),
                    "ratio": round(times[q] / prior_q[q], 3),
                }
                for q in movers
            ],
        }
        ctl_brief = {k: v for k, v in out["control"].items()
                     if k != "per_query_ratio"}
        print(f"# control: {ctl_brief}", file=sys.stderr)

    def checkpoint():
        if not ckpt_path:
            return
        try:
            tmp = ckpt_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(out, f)
                f.write("\n")
            os.replace(tmp, ckpt_path)
        except OSError:
            pass

    checkpoint()

    factor = int(os.environ.get("SPARK_GRAFT_SWEEP", "4"))
    if factor > 1:
        import tempfile

        sweep_dir = tempfile.mkdtemp(prefix="bench_sweep_")
        build_scaled_corpus(spark, sf_dir, factor, sweep_dir)  # setup, untimed
        spark.catalog.clearCache()  # drop memoized 1x shingle/pair caches
        sweep_times: dict[str, float] = {}
        for name in SWEEP:
            sweep_times[name] = timed(
                lambda: qs[name](spark, sweep_dir).write.format("noop").mode("overwrite").save(),
                1 if name in SINGLE_SHOT else repeat,
            )
            print(f"# {name}@{factor}x: {sweep_times[name]}s", file=sys.stderr)
        out["scale_sweep"] = {
            "factor": factor,
            "base": {k: times[k] for k in SWEEP if k in times},
            "queries": sweep_times,
        }
        checkpoint()

    # The headline closure runs the driver regime (the small-slice path).
    # Time the DISTRIBUTED regime once too — the 100 TB path (DataFrame
    # frontiers, anti-join visited sets) — so its fixed per-round cost is
    # a recorded number, not a claim.  Reported OUTSIDE the total: it
    # recomputes the same closure a second way.
    if os.environ.get("SPARK_GRAFT_DIST_CLOSURE", "1") == "1":
        from slice_db_spark.plans.subset import Subsetter
        from slice_db_spark.plans.tpch import tpch_schema
        from slice_db_spark.session import parquet_row_counts

        schema = tpch_schema()
        cat = {t: Q.catalog(spark, sf_dir)[t] for t in schema.tables}
        eng = Subsetter(
            spark, cat, schema, driver_rows=0,
            table_rows=parquet_row_counts(sf_dir, list(schema.tables)),
        )
        t0 = time.time()
        res = eng.run(Q.CLOSURE_ROOTS["closure_customers"][0])
        out["closure_distributed_regime"] = {
            "sec": round(time.time() - t0, 3),
            "rounds": res.rounds,
            "keys": sum(res.row_counts.values()),
        }
        print(f"# closure (distributed regime): {out['closure_distributed_regime']}",
              file=sys.stderr)
        checkpoint()

    # Closure at a DEEPER scale point (~sf1 when factor=10 from sf0.1:
    # 6M lineitem): the BFS subsetter is the flagship, so its round count
    # and wall time under a 10× fact-table scale-up are recorded numbers,
    # not claims.  The scaled copies are unreachable from the fixed roots
    # (forward-only part/supp edges), so keys/rounds must MATCH the 1×
    # run — only the per-round scan/join cost grows.  Reported OUTSIDE
    # the total (untimed setup, one-shot run).
    scale_factor = int(os.environ.get("SPARK_GRAFT_CLOSURE_SCALE", "10"))
    if scale_factor > 1 and os.environ.get("SPARK_GRAFT_DIST_CLOSURE", "1") == "1":
        import shutil
        import tempfile

        from slice_db_spark.plans.subset import Subsetter
        from slice_db_spark.plans.tpch import tpch_schema
        from slice_db_spark.session import parquet_row_counts

        scaled_dir = tempfile.mkdtemp(prefix="bench_closure_scale_")
        paths = build_scaled_tpch(spark, sf_dir, scale_factor, scaled_dir)  # untimed
        schema = tpch_schema()
        counts = parquet_row_counts(sf_dir, list(schema.tables))
        for t in ("customer", "orders", "lineitem"):
            counts[t] *= scale_factor
        cat = {t: spark.read.parquet(paths[t]) for t in schema.tables}
        eng = Subsetter(spark, cat, schema, driver_rows=0, table_rows=counts)
        t0 = time.time()
        res = eng.run(Q.CLOSURE_ROOTS["closure_customers"][0])
        out["closure_scale_stress"] = {
            "factor": scale_factor,
            "sec": round(time.time() - t0, 3),
            "rounds": res.rounds,
            "keys": sum(res.row_counts.values()),
            "base": out.get("closure_distributed_regime"),
        }
        print(f"# closure ({scale_factor}x stress): {out['closure_scale_stress']}",
              file=sys.stderr)
        shutil.rmtree(scaled_dir, ignore_errors=True)
        checkpoint()

    # restore --jobs: the concurrent per-table write path is correctness-
    # tested but was never TIMED — record a serial-vs-parallel restore of
    # the dependency-independent tables so a future serialization
    # regression (e.g. an accidental global lock around the per-table
    # writers) shows up as a number.  Reported OUTSIDE the total: it
    # re-writes the same tables two ways.
    if os.environ.get("SPARK_GRAFT_BENCH_RESTORE", "1") == "1":
        import shutil
        import tempfile

        from slice_db_spark.plans.restore import restore_to_parquet
        from slice_db_spark.plans.tpch import tpch_schema

        schema = tpch_schema()
        cat = Q.catalog(spark, sf_dir)
        # orders/customer/supplier/part share no dependency edge once their
        # parents are in place, so --jobs can overlap all four writes
        tables = {t: cat[t] for t in ("region", "nation", "customer",
                                      "supplier", "part", "orders")}
        restore_sec = {}
        for jobs in (1, 4):
            dst = tempfile.mkdtemp(prefix=f"bench_restore_j{jobs}_")
            t0 = time.time()
            restore_to_parquet(tables, schema, dst, jobs=jobs)
            restore_sec[f"jobs_{jobs}"] = round(time.time() - t0, 3)
            shutil.rmtree(dst, ignore_errors=True)
        out["restore_parallel"] = restore_sec
        print(f"# restore_parallel: {restore_sec}", file=sys.stderr)
        checkpoint()

    # End-to-end streaming ingest throughput: the full gauntlet (quality
    # gate -> exact dedup -> LSH near-dedup with index growth -> span
    # dedup with index growth) over the documents corpus as a landing
    # drain — the ops number a crawl pipeline plans capacity with.
    # Reported OUTSIDE the total (setup untimed, one-shot run).
    if os.environ.get("SPARK_GRAFT_BENCH_INGEST", "1") == "1":
        import shutil
        import tempfile

        from slice_db_spark.streaming.corpus import ingest_corpus_stream

        land = tempfile.mkdtemp(prefix="bench_ingest_land_")
        work = tempfile.mkdtemp(prefix="bench_ingest_")
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        n_docs = docs.count()
        docs.selectExpr("doc_id", "text", "lang", "source", "n_chars").coalesce(
            4
        ).write.mode("overwrite").json(land)
        t0 = time.time()
        ingest_corpus_stream(
            spark, land, os.path.join(work, "corpus"),
            os.path.join(work, "ckpt"), min_quality=0.3,
            lsh_index=os.path.join(work, "lsh"),
            span_index=os.path.join(work, "span"),
        )
        dt = time.time() - t0
        landed = spark.read.parquet(os.path.join(work, "corpus")).count()
        out["ingest_pipeline"] = {
            "docs_in": n_docs,
            "docs_landed": landed,
            "sec": round(dt, 3),
            "docs_per_sec": round(n_docs / dt, 1),
        }
        print(f"# ingest_pipeline: {out['ingest_pipeline']}", file=sys.stderr)
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
        checkpoint()

    # Media ingest throughput: exact payload dedup + perceptual pHash
    # near-dedup with persisted-index growth, over real-codec BMP
    # payloads — the images/sec a crawl's media lane plans with.
    # Reported OUTSIDE the total (setup untimed, one-shot run).
    if os.environ.get("SPARK_GRAFT_BENCH_INGEST", "1") == "1":
        import shutil
        import tempfile

        from slice_db_spark.operators.multimodal import synth_texture_bmp
        from slice_db_spark.streaming.media import ingest_media_stream

        land = tempfile.mkdtemp(prefix="bench_media_land_")
        work = tempfile.mkdtemp(prefix="bench_media_")
        ids = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id"
        )
        n_imgs = ids.count()
        synth_texture_bmp(ids).coalesce(4).write.mode("overwrite").parquet(land)
        t0 = time.time()
        ingest_media_stream(
            spark, land, os.path.join(work, "media"),
            os.path.join(work, "ckpt"),
            phash_index=os.path.join(work, "phash"),
        )
        dt = time.time() - t0
        landed = spark.read.parquet(os.path.join(work, "media")).count()
        out["media_ingest_pipeline"] = {
            "imgs_in": n_imgs,
            "imgs_landed": landed,
            "sec": round(dt, 3),
            "imgs_per_sec": round(n_imgs / dt, 1),
        }
        print(
            f"# media_ingest_pipeline: {out['media_ingest_pipeline']}",
            file=sys.stderr,
        )
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
        checkpoint()

    # Media decode DATASHEET: measured bytes/s of the pure-Python codec
    # lane vs the JVM ImageIO lane on the SAME realistic-size images,
    # plus the per-stage cost split of a media ingest batch (md5 exact
    # gate / decode+pHash / index probe) — the numbers behind the
    # production note that file-backed corpora should take the ImageIO
    # lane.  Reported OUTSIDE the total (setup untimed, one-shot runs).
    if os.environ.get("SPARK_GRAFT_BENCH_MEDIA_SHEET", "1") == "1":
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from slice_db_spark.operators import multimodal as MM
        from slice_db_spark.operators.dedup import hamming_near_pairs_asym

        def synth_big(ids_df, side: int, fmt: str):
            """Textured side×side images (~196 KB BMP / entropy-coded
            JPEG) — decode work scales with pixels, so realistic
            dimensions, not the 8-16 px oracle synths."""
            import numpy as np

            def run(batches):
                for pdf in batches:
                    rows = []
                    for k in pdf["doc_id"]:
                        k = int(k)
                        xs = np.arange(side)[None, :]
                        ys = np.arange(side)[:, None]
                        px = (
                            (17 * k + 3 * xs * xs + 7 * ys * ys + 5 * xs * ys)
                            % 251
                        ).astype("uint8")
                        if fmt == "bmp":
                            payload = MM.encode_bmp(
                                side, side,
                                np.repeat(px[:, :, None], 3, axis=2),
                            )
                        else:
                            payload = MM.encode_jpeg(side, side, px)
                        rows.append((k, "image", payload, fmt, len(payload)))
                    yield pd.DataFrame(
                        rows,
                        columns=["media_id", "kind", "payload", "format",
                                 "n_bytes"],
                    )

            return ids_df.mapInPandas(run, schema=MM.MEDIA_SCHEMA)

        sheet: dict = {}
        # JPEG at realistic dimensions: per-file overhead dominates tiny
        # images and hides the decode constant factor the sheet exists to
        # measure (synthetic entropy is still ~10x lighter than a photo,
        # noted in the committed artifact's interpretation)
        for fmt, side, n_img in (("bmp", 256, 192), ("jpeg", 256, 96)):
            ids = spark.range(0, n_img).selectExpr("id AS doc_id")
            land = tempfile.mkdtemp(prefix=f"bench_sheet_{fmt}_")
            media = synth_big(ids, side, fmt)
            media.coalesce(8).write.mode("overwrite").parquet(land)  # untimed
            payloads = spark.read.parquet(land)
            total_bytes = payloads.agg(F.sum("n_bytes")).first()[0]
            t0 = time.time()
            MM.phash_media(payloads).write.format("noop").mode("overwrite").save()
            py_sec = time.time() - t0
            files = tempfile.mkdtemp(prefix=f"bench_sheet_files_{fmt}_")
            for r in payloads.select("media_id", "payload").collect():
                ext = "jpg" if fmt == "jpeg" else fmt
                with open(os.path.join(files, f"{r.media_id}.{ext}"), "wb") as f:
                    f.write(bytes(r.payload))
            t0 = time.time()
            MM.phash_image_files(spark, files).write.format("noop").mode(
                "overwrite"
            ).save()
            jvm_sec = time.time() - t0
            # r9 in-column spill bridge: executor-side file spill + the
            # same ImageIO scan, timed END TO END (spill included) —
            # the honest number for column-resident payloads.
            # Since the r10 format dispatch the BMP row never spills
            # (it re-routes to the Python lane), so its
            # incolumn_spill_* fields measure the dispatch overhead
            # (one column-pruned distinct-formats job ≈ 0.3 s fixed) on
            # top of the Python lane — sub-1.0 at these synthetic sizes
            # because the corpus hashes in ~0.3 s, NOT a decode-rate
            # pessimization (the pre-dispatch 0.3-0.4x was)
            spill_dest = tempfile.mkdtemp(prefix=f"bench_sheet_spill_{fmt}_")
            shutil.rmtree(spill_dest)
            t0 = time.time()
            MM.phash_media_spilled(spark, payloads, spill_dest).write.format(
                "noop"
            ).mode("overwrite").save()
            spill_sec = time.time() - t0
            sheet[fmt] = {
                "images": n_img,
                "side_px": side,
                "payload_mb": round(total_bytes / 1e6, 1),
                "python_codec_sec": round(py_sec, 3),
                "python_codec_mb_per_sec": round(total_bytes / 1e6 / py_sec, 2),
                "imageio_sec": round(jvm_sec, 3),
                "imageio_mb_per_sec": round(total_bytes / 1e6 / jvm_sec, 2),
                "speedup": round(py_sec / jvm_sec, 1),
                "incolumn_spill_sec": round(spill_sec, 3),
                "incolumn_spill_mb_per_sec": round(
                    total_bytes / 1e6 / spill_sec, 2
                ),
                "incolumn_spill_speedup": round(py_sec / spill_sec, 1),
            }
            shutil.rmtree(land, ignore_errors=True)
            shutil.rmtree(files, ignore_errors=True)
            shutil.rmtree(spill_dest, ignore_errors=True)

        # r9 in-column spill bridge at PHOTO-SCALE dimensions: at 256px
        # fixed job costs still mask the decode gap (the entries above
        # stay for cross-round comparability); at 768px decode work
        # dominates and the bridge shows its real margin — the Python
        # lane saturates near 9 MB/s while spill+ImageIO keeps scaling
        ids = spark.range(0, 128, 1, 32).selectExpr("id AS doc_id")
        land = tempfile.mkdtemp(prefix="bench_sheet_incol_")
        synth_big(ids, 768, "jpeg").write.mode("overwrite").parquet(land)
        payloads = spark.read.parquet(land)
        total_bytes = payloads.agg(F.sum("n_bytes")).first()[0]
        t0 = time.time()
        MM.phash_media(payloads).write.format("noop").mode("overwrite").save()
        py_sec = time.time() - t0
        spill_dest = tempfile.mkdtemp(prefix="bench_sheet_incol_spill_")
        shutil.rmtree(spill_dest)
        t0 = time.time()
        MM.phash_media_spilled(spark, payloads, spill_dest).write.format(
            "noop"
        ).mode("overwrite").save()
        spill_sec = time.time() - t0
        sheet["jpeg_768px_incolumn"] = {
            "images": 128,
            "side_px": 768,
            "payload_mb": round(total_bytes / 1e6, 1),
            "python_codec_sec": round(py_sec, 3),
            "python_codec_mb_per_sec": round(total_bytes / 1e6 / py_sec, 2),
            "incolumn_spill_sec": round(spill_sec, 3),
            "incolumn_spill_mb_per_sec": round(
                total_bytes / 1e6 / spill_sec, 2
            ),
            "incolumn_spill_speedup": round(py_sec / spill_sec, 1),
        }
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(spill_dest, ignore_errors=True)

        # r10: the STREAMING --jvm-decode lane end to end — one landed
        # JPEG micro-batch through ingest_media_stream with the default
        # Python decode vs the per-batch spill+ImageIO lane (fresh
        # out/checkpoint dirs each; the whole sink pipeline is timed:
        # md5 gate, decode, index build, corpus append)
        from slice_db_spark.streaming.media import ingest_media_stream

        ids = spark.range(0, 96, 1, 8).selectExpr("id AS doc_id")
        land = tempfile.mkdtemp(prefix="bench_sheet_stream_")
        # the file source reads bare parquet FILES from the landing dir
        # (the crawler-fetcher layout) — land one micro-batch file
        staged = tempfile.mkdtemp(prefix="bench_sheet_stream_stage_")
        synth_big(ids, 512, "jpeg").coalesce(1).write.mode(
            "overwrite"
        ).parquet(staged)
        part = [f for f in os.listdir(staged) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(staged, part),
                    os.path.join(land, "b0.parquet"))
        shutil.rmtree(staged, ignore_errors=True)
        stream_secs = {}
        for label, flag in (("python", False), ("jvm", True)):
            out_dir = tempfile.mkdtemp(prefix=f"bench_stream_out_{label}_")
            ck = tempfile.mkdtemp(prefix=f"bench_stream_ck_{label}_")
            shutil.rmtree(out_dir)  # the sink creates it; idx is a sibling
            idx = out_dir + "_idx"
            t0 = time.time()
            ingest_media_stream(
                spark, land, out_dir, ck,
                phash_index=idx, jvm_decode=flag,
            )
            stream_secs[label] = time.time() - t0
            shutil.rmtree(out_dir, ignore_errors=True)
            shutil.rmtree(idx, ignore_errors=True)
            shutil.rmtree(ck, ignore_errors=True)
        sheet["streaming_jvm"] = {
            "images": 96,
            "side_px": 512,
            "format": "jpeg",
            "python_lane_sec": round(stream_secs["python"], 3),
            "jvm_lane_sec": round(stream_secs["jvm"], 3),
            "jvm_lane_speedup": round(
                stream_secs["python"] / stream_secs["jvm"], 2
            ),
        }
        shutil.rmtree(land, ignore_errors=True)

        # per-stage split of one media ingest batch over the BMP set:
        # the md5 exact gate is a fraction of a decode, which is why the
        # sink hashes BEFORE decoding
        ids = spark.range(0, 192).selectExpr("id AS doc_id")
        land = tempfile.mkdtemp(prefix="bench_sheet_stages_")
        synth_big(ids, 256, "bmp").coalesce(8).write.mode("overwrite").parquet(land)
        payloads = spark.read.parquet(land)
        t0 = time.time()
        payloads.withColumn("content_hash", F.md5(F.col("payload"))).write.format(
            "noop"
        ).mode("overwrite").save()
        md5_sec = time.time() - t0
        sigs = MM.phash_media(payloads)
        t0 = time.time()
        sigs.write.format("noop").mode("overwrite").save()
        decode_sec = time.time() - t0
        idx = tempfile.mkdtemp(prefix="bench_sheet_idx_")
        sigs.select(
            F.col("media_id").alias("corpus_id"), "phash"
        ).write.mode("overwrite").parquet(idx)  # untimed index build
        probe_sigs = sigs.localCheckpoint(eager=True)  # untimed: isolate probe
        t0 = time.time()
        hamming_near_pairs_asym(
            probe_sigs, spark.read.parquet(idx), "phash"
        ).write.format("noop").mode("overwrite").save()
        probe_sec = time.time() - t0
        t0 = time.time()
        MM.media_dims(payloads, null_on_error=True).write.format("noop").mode(
            "overwrite"
        ).save()
        dims_sec = time.time() - t0
        sheet["ingest_stage_split_bmp_256px"] = {
            "md5_gate_sec": round(md5_sec, 3),
            "header_dims_gate_sec": round(dims_sec, 3),
            "decode_phash_sec": round(decode_sec, 3),
            "index_probe_sec": round(probe_sec, 3),
        }
        shutil.rmtree(land, ignore_errors=True)
        shutil.rmtree(idx, ignore_errors=True)
        out["media_decode_datasheet"] = sheet
        print(f"# media_decode_datasheet: {sheet}", file=sys.stderr)
        checkpoint()

    # r11: probe-index --output at PRODUCTION RESULT-SET shape — 10^5
    # queries against a persisted IVF index through the CLI command
    # itself (not a lookalike): the default print path collects k×10^5
    # result rows to the driver; --output writes them as parquet from
    # the executors.  The gap is the number behind the "production
    # sizes" claim in probe-index --output's docs.
    if os.environ.get("SPARK_GRAFT_BENCH_PROBE_SHEET", "1") == "1":
        import contextlib
        import io
        import shutil
        import tempfile

        from slice_db_spark import cli as _cli
        from slice_db_spark.operators.similarity import build_ivf_index

        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        pdir = tempfile.mkdtemp(prefix="bench_probe_sheet_")
        # an assertion mid-block must not leak the replicated 100k-row
        # corpus under /tmp: cleanup is registered up front and the
        # happy path still removes it eagerly (r11 review fix)
        import atexit as _atexit

        _atexit.register(shutil.rmtree, pdir, ignore_errors=True)
        idx = os.path.join(pdir, "idx")
        build_ivf_index(emb, idx, n_cells=8, iters=1)  # untimed setup
        with open(os.path.join(idx, "index.json"), "w") as f:
            json.dump({"kind": "ivf", "n_cells": 8, "iters": 1,
                       "id_col": "vec_id", "vec_col": "embedding"}, f)
        n_reps = max(1, 100_000 // max(1, emb.count()))
        qpath = os.path.join(pdir, "queries")
        (
            emb.crossJoin(spark.range(n_reps).selectExpr("id AS rep"))
            .selectExpr(
                f"vec_id * {n_reps} + rep AS q_id",
                "transform(embedding, x -> x + CAST(rep AS FLOAT) / 1000)"
                " AS embedding",
            )
            .write.mode("overwrite").parquet(qpath)
        )
        n_q = spark.read.parquet(qpath).count()

        def run_probe(extra):
            t0 = time.time()
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                rc = _cli.main(
                    ["probe-index", "--k", "5", "--nprobe", "1"]
                    + extra + [idx, qpath]
                )
            assert rc == 0
            return time.time() - t0, buf.getvalue()

        outp = os.path.join(pdir, "results")
        out_sec, out_line = run_probe(["--output", outp])
        n_rows = json.loads(out_line)["n_results"]
        print_sec, _ = run_probe([])
        out["probe_output_datasheet"] = {
            "kind": "ivf",
            "n_queries": n_q,
            "k": 5,
            "result_rows": n_rows,
            "print_path_sec": round(print_sec, 3),
            "output_parquet_sec": round(out_sec, 3),
            "output_vs_print": round(out_sec / print_sec, 2),
        }
        print(f"# probe_output_datasheet: {out['probe_output_datasheet']}",
              file=sys.stderr)
        shutil.rmtree(pdir, ignore_errors=True)
        checkpoint()

    # r11: the fused one-scan OPQ codebook sampler vs the pre-r10 shape
    # (one TakeOrdered job per subspace), bit-identical outputs asserted,
    # on a replicated 100k-vector residual frame — the r10 fusion win as
    # a RECORDED ratio instead of a same-code-drift-confounded per-query
    # movement.  (The headline ann_opq/ann_pq_opq queries contain the
    # fused path; this block isolates it.)
    if os.environ.get("SPARK_GRAFT_BENCH_OPQ_SHEET", "1") == "1":
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from slice_db_spark.operators import similarity as S_
        from slice_db_spark.operators.hashing import hash64

        M_SUB, N_CODES = 4, 16
        emb0 = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        dim = len(emb0.select("embedding").first()[0])
        sub = dim // M_SUB
        reps = max(1, 100_000 // max(1, emb0.count()))
        rdir = tempfile.mkdtemp(prefix="bench_opq_sampler_")
        import atexit as _atexit

        _atexit.register(shutil.rmtree, rdir, ignore_errors=True)
        (
            emb0.crossJoin(spark.range(reps).selectExpr("id AS rep"))
            .selectExpr(f"vec_id * {reps} + rep AS vec_id", "embedding")
            .repartition(cpus)
            .write.mode("overwrite").parquet(rdir)   # untimed setup
        )
        # the residual frame stays LAZY over the corpus parquet
        # (quantize + rotation), exactly the trainer's shape — the
        # fusion's win IS the (m−1) upstream passes each TakeOrdered
        # job re-ran; over a pre-materialized frame the comparison
        # would instead measure JVM-sort vs Arrow-Python constants
        perm = list(range(dim))[::-1]
        signs = [1, -1] * (dim // 2)
        res = (
            spark.read.parquet(rdir)
            .select("vec_id", S_.quantize_expr("embedding").alias("__q"))
            .select(
                "vec_id", S_._rotate_expr("__q", perm, signs).alias("__r")
            )
        )
        n_vec = res.count()

        def fused():
            return S_._sample_subspace_codebooks(
                res, M_SUB, N_CODES, sub, "vec_id"
            )

        def unfused():
            cbs = []
            for m in range(M_SUB):
                rows = (
                    res.select(
                        hash64(
                            F.concat(F.col("vec_id").cast("string"),
                                     F.lit(f":{m}"))
                        ).alias("h"),
                        F.col("vec_id").cast("long").alias("id"),
                        F.expr(
                            f"slice(__r, {m * sub + 1}, {sub})"
                        ).alias("sv"),
                    )
                    .orderBy("h", "id").limit(N_CODES).collect()
                )
                cbs.append([[int(v) for v in r.sv] for r in rows])
            return cbs

        got_fused = fused()
        got_unfused = unfused()
        assert got_fused == got_unfused, "sampler fusion changed codebooks"
        fused_sec = timed(fused, repeat)
        unfused_sec = timed(unfused, repeat)
        out["opq_sampler_datasheet"] = {
            "vectors": n_vec,
            "m_subspaces": M_SUB,
            "n_codes": N_CODES,
            "fused_one_scan_sec": fused_sec,
            "per_subspace_jobs_sec": unfused_sec,
            "fusion_speedup": round(unfused_sec / fused_sec, 2),
        }
        print(f"# opq_sampler_datasheet: {out['opq_sampler_datasheet']}",
              file=sys.stderr)
        shutil.rmtree(rdir, ignore_errors=True)
        checkpoint()

    print(json.dumps(_terse_stdout_line(out, ckpt_path)))


def _terse_stdout_line(out: dict, detail_path: str, budget: int = 1900) -> dict:
    """The driver captures only the LAST ~2000 chars of stdout and JSON-
    parses them — a full 160+-query line truncates mid-object and records
    ``parsed: null`` (rounds 4-6).  Emit the contract fields plus as many
    of the SLOWEST queries as fit in the budget; the complete per-query
    map and every extra section live in ``detail_path`` (the progressive
    checkpoint file, committed each round)."""
    line = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": len(out["queries"]),
        "detail_file": detail_path or "BENCH_LOCAL.json",
        "queries": {},
    }
    if "control" in out:
        # the full per-query ratio map (200+ entries) AND top_movers live
        # in the detail file ONLY — inlining them ate the stdout budget
        # (r11: top_movers left room for just 26 queries vs 57 in r10,
        # collapsing the driver's round-over-round comparison window to
        # 20 queries).  Keep only the verdict fields.
        line["control"] = {
            k: v for k, v in out["control"].items()
            if k not in ("per_query_ratio", "top_movers")
        }
    for name, sec in sorted(out["queries"].items(), key=lambda kv: -kv[1]):
        line["queries"][name] = sec
        if len(json.dumps(line)) > budget:
            del line["queries"][name]
            break
    return line


if __name__ == "__main__":
    main()
