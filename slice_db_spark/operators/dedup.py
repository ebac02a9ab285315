"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design for 100 TB:

* **Exact** — one hash-shuffle on a 60-bit content hash; winner = min id per
  group (deterministic).  Map-side partial aggregation applies; no row data
  moves, only (hash, id).
* **n-gram Jaccard** — exact pairwise similarity via an inverted index
  (explode shingles → self-join on shingle → count shared).  Cost is
  bounded by shingle posting-list sizes, which explode on frequent
  shingles; at scale, run it only on MinHash-LSH candidates (``verify`` in
  :func:`minhash_lsh_pairs` does exactly that).
* **MinHash + LSH** — the scale path: k hash functions over shingles give a
  fixed-width signature per doc (narrow!), banding buckets candidates, one
  shuffle per stage, and only candidate pairs are verified exactly.
* **SimHash** — 60-bit weighted-majority signature; near-dups share bands
  of bits.  Signature computation is a pure map (no shuffle).
* **Embedding cosine** — see :mod:`.similarity`; near-dup = pairs above a
  cosine threshold among LSH-bucketed candidates.

All hashes are md5-derived (:mod:`.hashing`) so DuckDB oracles reproduce
results exactly.  No Python UDFs anywhere.

Cache lifecycle: pair operators persist their shingle index
(MEMORY_AND_DISK) because several plan branches consume it; the persist is
deliberately left to Spark's LRU eviction rather than eagerly unpersisted —
the returned DataFrame is lazy, so consumers may materialize it at any
later point, and an unpersist here would silently recompute the whole
index per branch.  Long-running sessions that interleave many corpora can
call ``spark.catalog.clearCache()`` between them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import release
from .hashing import hash64
from .text import normalize


# ------------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct content (min id wins — deterministic).

    Returns (id, content_hash, dup_count): survivors with their group size.
    A 100 TB-friendly shape: only (hash, id) shuffles, full rows are
    recovered by a later semi-join on the id.
    """
    content = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in content_cols])
    return (
        df.select(F.col(id_col), hash64(content).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, "content_hash", "dup_count")
    )


# ---------------------------------------------------------------- shingles


def _shingle_expr(toks, n: int, distinct: bool = True):
    """Shingle array over an ALREADY-MATERIALIZED token-array column.

    Built from O(1) ``get`` lookups, not ``slice`` (higher-order functions
    evaluate interpreted, so a slice-per-position would cost O(len²) per
    document); ``get`` returns NULL past the end and ``concat_ws`` drops
    NULLs, which reproduces the slice semantics on short token lists.

    ``toks`` MUST be a plain column reference: an interpreted HOF lambda
    re-evaluates its argument subtree per element, so passing the raw
    ``split(normalize(text))`` expression here costs
    O(positions × n × regex(len)) per document — materialize the tokens
    in a projection first (see :func:`shingle_table`).

    ``distinct=False`` keeps every occurrence (repetition metrics need
    occurrence counts; dedup paths always want the distinct set)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - F.lit(n), F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.get(toks, i + F.lit(j)) for j in range(n)]),
    )
    return F.array_distinct(grams) if distinct else grams


def shingles(col, n: int = 3):
    """Distinct word n-gram shingles of the normalized text (array<string>).
    Convenience form over the raw text column — for hot paths prefer
    :func:`shingle_table`, which materializes the token array first (see
    :func:`_shingle_expr` for why)."""
    return _shingle_expr(F.split(normalize(col), " "), n)


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Inverted index: (id, shingle-hash) distinct pairs.

    ``shingle`` is the 60-bit md5-derived hash of the n-gram, NOT the
    string: joins/aggregations downstream shuffle 8-byte ints instead of
    n-word strings (~3× less shuffle bytes, cheaper comparisons), and the
    DuckDB oracles hash identically so results agree absent intra-document
    hash collisions.  (Edge asymmetry: Spark dedups shingle *strings* per
    doc before hashing while the oracle CTE dedups after, so a ≈2⁻⁶⁰
    intra-doc 60-bit collision would keep a duplicate (id, hash) pair here
    and not there — practically negligible, noted for honesty.)

    :func:`shingles` already dedups within each document (array_distinct),
    so with unique ids per input row the pairs are globally distinct with
    NO shuffle — a full ``.distinct()`` here would re-shuffle the entire
    index for nothing.  Callers with duplicate id rows must pre-dedup."""
    toks = df.select(
        F.col(id_col), F.split(normalize(F.col(text_col)), " ").alias("__toks")
    )
    return toks.select(
        F.col(id_col), F.explode(_shingle_expr(F.col("__toks"), n)).alias("__s")
    ).select(F.col(id_col), hash64(F.col("__s")).alias("shingle"))


# ---------------------------------------------------------- n-gram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard similarity ≥ threshold.

    (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 6 places.
    Inverted-index join: pairs sharing ≥1 shingle are the only candidates.

    ``max_df`` caps posting lists: shingles occurring in more than
    ``max_df`` documents are excluded from the candidate self-join (a
    shingle in 10⁴ docs would emit 10⁸ candidate rows — the standard
    stop-shingle cap).  **Recall contract**: shared counts can only
    shrink, and union sizes stay exact, so reported jaccard is a lower
    bound — no false positives ever; a pair is missed only when its
    similarity above ``threshold`` depends on shingles shared by more
    than ``max_df`` documents.  Near-dup pairs share mostly rare
    shingles, so practical recall loss is ~0; for guaranteed recall on
    huge corpora use :func:`minhash_lsh_pairs` (probabilistic but
    df-independent).  ``None`` = exact all-pairs (only safe for small
    corpora).
    """
    st, shared = _posting_shared_counts(df, text_col, id_col, n, max_df)
    return _jaccard_filter(shared, st, id_col, threshold)


def _posting_shared_counts(df, text_col, id_col, n, max_df):
    """(persisted shingle table, per-pair shared-shingle counts) via the
    bounded posting-list shape shared by the Jaccard and containment
    operators."""
    from pyspark.sql import Window

    # the inverted index feeds two plan branches (posting lists, sizes);
    # cache it so the explode+distinct computes once
    st = shingle_table(df, text_col, id_col, n).persist()
    # Posting-list formulation: ONE shuffle of the index (by shingle)
    # computes the document frequency as a window count, filters in place,
    # and builds the posting list with a shuffle-free collect_list (the
    # groupBy reuses the window's hash partitioning).  A shingle in one
    # document can never contribute a pair, and shingles above ``max_df``
    # are capped out BEFORE collect_list runs, so every collected array is
    # bounded by max_df ids (≤ 8 KB at max_df=1000) — no hot-key agg
    # buffer blowup at any corpus size; the df computation itself streams
    # through the window operator (spills, never materializes the list).
    # This replaces the round-2 shape (full-index groupBy + left_semi of
    # the index against its own aggregate + index self-join = three extra
    # full-index shuffles) that regressed BENCH_r02.
    w = Window.partitionBy("shingle")
    df_filter = (F.col("__df") > 1) & (
        F.col("__df") <= max_df if max_df is not None else F.lit(True)
    )
    posting = (
        st.withColumn("__df", F.count(F.lit(1)).over(w))
        .where(df_filter)
        .groupBy("shingle")
        .agg(F.collect_list(id_col).alias("__ids"))
    )
    # pair generation is a local double-explode over each (bounded)
    # posting list — d·(d-1)/2 surviving rows per shingle, zero joins
    shared = (
        posting.select(F.explode("__ids").alias("id_a"), F.col("__ids"))
        .select("id_a", F.explode("__ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return st, shared


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Near-SUBSET duplicate pairs: containment = shared / min(|A|, |B|)
    ≥ threshold (id_a < id_b, rounded to 6 places).

    Containment catches the asymmetric duplicates Jaccard structurally
    misses: a long document quoting a short one wholesale can have
    Jaccard ≈ |small|/|big| (arbitrarily low) while its containment is
    ≈ 1 — the repost/quotation/boilerplate-wrapper case.  Same bounded
    posting-list candidate generation and ``max_df`` recall contract as
    :func:`ngram_jaccard_pairs` (shared counts are lower bounds under the
    cap; min-size denominators stay exact).
    """
    st, shared = _posting_shared_counts(df, text_col, id_col, n, max_df)
    sizes = st.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("nb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment", F.round(F.col("shared") / F.least("na", "nb"), 6)
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def _jaccard_filter(shared: DataFrame, st: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """(id_a, id_b, shared-count) + inverted index → exact Jaccard ≥ t."""
    sizes = st.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("nb"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard", F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6)
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ----------------------------------------------------------------- minhash


# Universal-hash family parameters for MinHash: h_j(x) = (a_j·x + b_j) mod P
# over 30-bit base hashes, so products stay < 2^60 (no BIGINT overflow in
# any engine).  a/b derive from md5 of the family index — fixed public
# constants, identical in the DuckDB oracle.
MINHASH_MOD = 1 << 30
MINHASH_P = 1073741789  # largest prime < 2^30


def minhash_params(k: int) -> list[tuple[int, int]]:
    import hashlib

    out = []
    for j in range(k):
        d = hashlib.md5(f"mh:{j}".encode()).digest()
        a = 1 + int.from_bytes(d[:8], "big") % (MINHASH_P - 1)
        b = int.from_bytes(d[8:], "big") % MINHASH_P
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    k: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """k-permutation MinHash signature per document.

    minhash_j = min over shingles of (a_j·h + b_j) mod P, h = md5-derived
    base hash — ONE md5 per shingle, then k cheap integer mixes (the
    classic universal-hash construction; k salted md5 passes would cost
    k× the hashing).  Output: (id, sig array<bigint> of length k).
    Pure map, no shuffle.
    """
    # Relational formulation: explode the (distinct) shingles, hash once in
    # whole-stage codegen, then k vectorized min-aggregates.  The
    # array-fold alternative (array_min over transform) evaluates
    # interpreted per element and loses 10×+ on wide documents; one
    # narrow-row shuffle per doc is the better trade at every scale.
    return minhash_signatures_from_shingles(shingle_table(df, text_col, id_col, n), k, id_col)


def minhash_signatures_from_shingles(
    st: DataFrame, k: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """Signatures from an existing (id, shingle) inverted index — lets
    LSH reuse ONE persisted shingle table for both signature computation
    and candidate verification instead of re-normalizing the corpus."""
    hashed = st.withColumn("__h", F.col("shingle") % MINHASH_MOD)
    aggs = [
        F.min((F.col("__h") * F.lit(a) + F.lit(b)) % MINHASH_P).alias(f"mh{j}")
        for j, (a, b) in enumerate(minhash_params(k))
    ]
    return (
        hashed.groupBy(id_col)
        .agg(*aggs)
        .select(F.col(id_col), F.array(*[F.col(f"mh{j}") for j in range(k)]).alias("sig"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    verify: bool = True,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact verification.

    Signatures are split into ``bands`` bands of ``k/bands`` rows; docs
    agreeing on any full band are candidates (one shuffle on band hash).
    With ``verify`` the candidates' true n-gram Jaccard is computed and
    filtered at ``threshold`` — output (id_a, id_b, jaccard); without, the
    raw candidate pairs (id_a, id_b).

    At 100 TB: candidates ≪ all-pairs; the exact verification join touches
    only candidate ids (broadcast when small).
    """
    assert k % bands == 0, "k must divide into equal bands"
    # ONE shingle pass feeds both the signatures and (with verify) the
    # exact-Jaccard check — normalize/shingle is the dominant map cost
    st = shingle_table(df, text_col, id_col, n)
    if verify:
        st = st.persist()
    return lsh_pairs_from_shingles(st, k, bands, threshold, id_col, verify=verify)


def lsh_pairs_from_shingles(
    st: DataFrame,
    k: int,
    bands: int,
    threshold: float,
    id_col: str = "doc_id",
    verify: bool = True,
) -> DataFrame:
    """The banded self-join + exact-Jaccard verify over a PREBUILT shingle
    table — the shared core of :func:`minhash_lsh_pairs` and the streaming
    ingest's within-batch pass (one definition, no drift).  The caller
    owns ``st``'s persistence (verify consumes it three times)."""
    assert k % bands == 0, "k must divide into equal bands"
    # the self-join's two sides are separate subtrees (no exchange reuse
    # across aliases): checkpoint the banded signatures — |docs|·bands
    # rows of (band, hash, id), KB-scale per million docs — so the
    # MinHash aggregation over the shingle table runs once, not twice
    banded = _banded_signatures(st, "id_a", k, bands, id_col).localCheckpoint(
        eager=True
    )
    cands = (
        banded.join(
            banded.select("band", "band_hash", F.col("id_a").alias("id_b")),
            ["band", "band_hash"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if not verify:
        return cands
    # join the second side on (id, shingle) — joining on id alone would
    # emit |shingles_a| × |shingles_b| rows per candidate pair before the
    # equality filter; the two-column hash join emits only shared shingles
    shared = (
        cands.join(st.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
        .join(st.select(F.col(id_col).alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return _jaccard_filter(shared, st, id_col, threshold)


def incremental_lsh_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    verify: bool = True,
) -> DataFrame:
    """Continuous-ingestion near-dedup: which NEW documents near-duplicate
    the EXISTING corpus.

    Asymmetric LSH: candidates are only new × corpus — never
    corpus × corpus (already deduped) and never new × new (run
    `minhash_lsh_pairs` on the batch alone for that) — so per-batch cost
    scales with |batch| × band-collision rate, independent of |corpus|².
    The corpus side's banded signatures are a pure function of the corpus:
    at scale compute them once and persist as the LSH *index* (parquet
    partitioned by band hash); each arriving batch computes only ITS
    signatures and probes.  Caller guarantees the two id spaces are
    disjoint (overlapping ids would silently merge size counts).

    Output ``(new_id, corpus_id, jaccard)`` with exact n-gram Jaccard ≥
    ``threshold`` (``verify=False`` returns raw candidates)."""
    assert k % bands == 0, "k must divide into equal bands"

    st_new = shingle_table(new_df, text_col, id_col, n)
    st_corp = shingle_table(corpus_df, text_col, id_col, n)
    if verify:
        st_new = st_new.persist()
        st_corp = st_corp.persist()
    # the SAME band-hash construction `build_lsh_index` persists — one
    # definition, so the end-to-end path and the index probe can never
    # drift apart in signature format
    cands = (
        _banded_signatures(st_new, "new_id", k, bands, id_col)
        .join(_banded_signatures(st_corp, "corpus_id", k, bands, id_col),
              ["band", "band_hash"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    if not verify:
        return cands
    # cache the (small) candidate frame: both the broadcast prune below
    # and the shared-shingle join consume it, and an uncached plan would
    # re-run the banding join per consumer (released with the shingle
    # tables below — no per-batch executor-storage leak)
    cands = cands.persist()
    # PROBE-SIDE PRUNING (r9): the verify stage only ever reads corpus
    # shingles of CANDIDATE docs, but an unpruned join shuffles the FULL
    # corpus shingle table — the term that grew the 4x-corpus sweep to
    # 2.43x.  A broadcast semi-join on the (per-batch-bounded) candidate
    # corpus ids cuts both the shared-shingle join and the corpus-size
    # aggregation to candidate rows only, so verify cost scales with the
    # batch's collision volume, not |corpus|.  (The banding pass above
    # still scans the corpus once — at scale that side is the PERSISTED
    # index, see build_lsh_index/probe_lsh_index.)
    cand_corpus = cands.select(F.col("corpus_id").alias(id_col)).distinct()
    st_corp_hit = st_corp.join(F.broadcast(cand_corpus), id_col)
    shared = (
        cands.join(st_new.select(F.col(id_col).alias("new_id"), "shingle"), "new_id")
        .join(
            st_corp_hit.select(F.col(id_col).alias("corpus_id"), "shingle"),
            ["corpus_id", "shingle"],
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = st_new.groupBy(id_col).agg(F.count(F.lit(1)).alias("na")).select(
        F.col(id_col).alias("new_id"), "na"
    )
    sb = st_corp_hit.groupBy(id_col).agg(F.count(F.lit(1)).alias("nb")).select(
        F.col(id_col).alias("corpus_id"), "nb"
    )
    out = (
        shared.join(sa, "new_id")
        .join(sb, "corpus_id")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )
    # Materialize the (small) verified pair frame, then release the cached
    # shingle tables — otherwise they leak into executor storage for the
    # session's lifetime (same pattern as connected_components).
    out = out.localCheckpoint(eager=True)
    cands.unpersist()
    st_new.unpersist()
    st_corp.unpersist()
    return out


# ------------------------------------------------------------------ simhash


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    bits: int = 32,
) -> DataFrame:
    """SimHash: per-bit weighted majority over shingle hashes.

    bit_b(doc) = 1 if sum over shingles of (+1 if bit b of hash64(shingle)
    set else -1) > 0.  Output (id, simhash BIGINT).  Pure map +
    aggregate-free (array reduce per row) — no shuffle.
    """
    # Relational formulation (same rationale as minhash_signatures): hash
    # every exploded shingle in codegen, then `bits` vectorized ±1 sum
    # aggregates, then recompose the signature from the sign bits.
    toks = df.select(
        F.col(id_col), F.split(normalize(F.col(text_col)), " ").alias("__toks")
    )
    st = toks.select(
        F.col(id_col), F.explode(_shingle_expr(F.col("__toks"), n)).alias("__s")
    ).withColumn("__h", hash64(F.col("__s")))
    bit_aggs = [
        F.sum(
            F.when(F.shiftright("__h", b) % 2 == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    sim = None
    for b in range(bits):
        contrib = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = contrib if sim is None else sim + contrib
    return st.groupBy(id_col).agg(*bit_aggs).select(F.col(id_col), sim.alias("simhash"))


def _driver_components(
    pairs: DataFrame, a_col: str, b_col: str, rows: list | None = None
) -> DataFrame:
    """Union-find on the driver with min-id roots — the hybrid regime for
    pair graphs under the budget (the subsetter's driver-regime argument,
    `plans/subset.py`: LSH pair sets are orders of magnitude smaller than
    the corpus, so a handful of distributed join rounds costs more in job
    overhead than one collect + microseconds of union-find).  ``rows``
    lets the caller hand over the already-collected edge list (the budget
    probe collects it anyway) so the pair pipeline — often the expensive
    verify join — is evaluated ONCE, not once per action.  Union-find is
    row-order-independent: roots are component minima either way."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    rows = pairs.select(a_col, b_col).collect() if rows is None else rows
    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # min id becomes the root -> rep = component min
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    out = [(x, find(x)) for x in parent]
    id_type = dict(pairs.dtypes)[a_col]
    return pairs.sparkSession.createDataFrame(out, f"id {id_type}, rep {id_type}")


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_rounds: int = 50,
    driver_rows: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: (id, rep)
    where ``rep`` is the smallest id reachable from ``id`` — the canonical
    survivor of the duplicate cluster (min-id wins, deterministic, the
    same rule as :func:`exact_dedup`).

    Iterative min-label propagation, the standard Spark shape (one
    join + min-aggregate per round, converging in O(component diameter)
    rounds — near-dup clusters are shallow, so a handful).  Same lineage
    rule as the subsetter: every round's labels are a ``localCheckpoint``
    (materialized by the round's ONE aggregate action for the fixed
    point), so no round's plan grows with the round count, and every
    round checkpoint is released through its RDD when the loop ends.
    Only ids appearing in ``pairs`` are emitted; unpaired docs are their
    own implicit singletons.

    Hybrid regime: pair graphs at or under ``driver_rows`` edges collect
    to the driver and run union-find — near-dup pair sets are tiny
    relative to the corpus, and per-round Spark job overhead dominates
    them.  The budget probe IS the edge fetch (one ``limit(cap+1)``
    collect of the two id columns decides the regime and, under the cap,
    already holds every edge), so the pair pipeline is evaluated once.
    Bigger graphs run the distributed loop; ``driver_rows=0`` forces it.

    Raises ``RuntimeError`` if ``max_rounds`` is exhausted before the
    fixed point: partially-propagated labels are NOT component minima, and
    returning them silently would diverge from any exact oracle.  A
    component of diameter > ``max_rounds`` (pathological for near-dup
    graphs) needs a higher budget or a contraction-style algorithm
    (large-star/small-star converges in O(log n) rounds).
    """
    from pyspark.storagelevel import StorageLevel

    if driver_rows:
        # Budget probe and edge fetch in ONE action: collect at most
        # cap+1 (id_a, id_b) rows — ≤16 MB at the default cap, driver-
        # safe by construction.  The former shape ran limit().count()
        # and then, in the driver regime, re-collected the SAME pairs —
        # evaluating the candidate+verify pipeline twice (guide §1.2
        # "don't compute things you throw away").
        probe = pairs.select(a_col, b_col).limit(driver_rows + 1).collect()
        if len(probe) <= driver_rows:
            return _driver_components(pairs, a_col, b_col, rows=probe)

    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("rep", F.col("id"))
    ).persist(StorageLevel.MEMORY_AND_DISK)

    persisted = [edges, labels]
    # Fixed-point detection: per-id labels only ever DECREASE (the min-agg
    # includes the old label), so the label total strictly decreases until
    # convergence — one aggregate on the already-persisted labels per
    # round, replacing a left_anti join+count (a full extra shuffle of
    # both label sets per round).  decimal(38,0) keeps the sum exact:
    # 2^63-bounded reps × any realistic row count stays far below 10^38.
    label_sum = F.sum(F.col("rep").cast("decimal(38,0)"))
    prev_sum = labels.agg(label_sum).first()[0]
    for _ in range(max_rounds):
        nbr = edges.join(labels, edges["dst"] == labels["id"]).select(
            F.col("src").alias("id"), "rep"
        )
        labels = (
            labels.union(nbr)
            .groupBy("id")
            .agg(F.min("rep").alias("rep"))
            .localCheckpoint(eager=False)
        )
        persisted.append(labels)
        cur_sum = labels.agg(label_sum).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # diameter > max_rounds: propagation advances one hop per round, so
        # a long-path component would need O(diameter) more rounds.  Switch
        # regimes instead of raising: star contraction HALVES long paths
        # every alternation, converging in O(log n) rounds.  Its result is
        # an eager checkpoint, so the rounds are released after it.
        try:
            return _star_components(pairs, a_col, b_col, ids=labels.select("id"))
        finally:
            for df in persisted:
                release(df)

    # the last round's checkpoint is the result; release the rest
    for df in persisted[:-1]:
        release(df)
    return labels


def _star_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    ids: DataFrame | None = None,
    max_alternations: int = 40,
) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — the O(log n)-round regime for
    graphs whose diameter defeats per-hop label propagation.

    Each alternation rewrites the edge set:

    * large-star: every node links its LARGER neighbors to the minimum of
      its closed neighborhood — long paths fold in half;
    * small-star: every node links its smaller neighbors (and itself) to
      that minimum — stars flatten onto their centers.

    The fixed point is a forest of stars whose centers are the component
    minima, so ``rep = min(center, id)``.  Every step is a groupBy +
    equi-join on node id (no skew beyond the component structure itself;
    the paper's hash-partitioned variant drops in unchanged at cluster
    scale).  Convergence is detected by an exact (count, sum) checksum
    pair on the canonical edge set — both sums in decimal(38,0), so no
    overflow ambiguity.

    Each alternation ends in an EAGER ``localCheckpoint``: the edge
    rewrite stacks unions+joins+distincts, so without per-round plan
    truncation Catalyst's logical plan grows geometrically and analysis
    OOMs the driver around round 7 — the classic iterative-Spark trap
    (the same rule as the propagation loop above)."""
    all_ids = (
        ids
        if ids is not None
        else pairs.select(F.col(a_col).alias("id"))
        .union(pairs.select(F.col(b_col).alias("id")))
        .distinct()
    )
    # canonical undirected edge set: (u > v), self-loops dropped
    E = (
        pairs.where(F.col(a_col) != F.col(b_col))
        .select(
            F.greatest(a_col, b_col).alias("u"), F.least(a_col, b_col).alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def checksum(e: DataFrame):
        dec = lambda c: F.sum(F.col(c).cast("decimal(38,0)"))  # noqa: E731
        r = e.agg(F.count("*").alias("n"), dec("u").alias("su"), dec("v").alias("sv")).first()
        return (r["n"], r["su"], r["sv"])

    prev = checksum(E)
    for rounds in range(1, max_alternations + 1):
        # ---- large-star: from each node u, link neighbors v > u to
        # m(u) = min(neighborhood(u) ∪ {u})
        sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m_lg = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", "u").alias("m"))
        )
        large = (
            sym.join(m_lg, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        E1 = (
            large.where(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
        )
        # ---- small-star: from each node u over its SMALLER neighbors,
        # link every member (u included) to the minimum
        m_sm = E1.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            E1.join(m_sm, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(m_sm.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        E2 = (
            small.where(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
        )
        E2 = E2.localCheckpoint(eager=True)
        cur = checksum(E2)
        release(E)
        E = E2
        if cur == prev:
            break
        prev = cur
    else:
        release(E)
        raise RuntimeError(
            f"star contraction did not converge in {max_alternations} "
            "alternations — not expected for any graph (O(log n) bound); "
            "raise max_alternations"
        )

    # converged: E is a star forest; every non-center u has exactly its
    # center as min-v, centers never appear on the u side
    reps = E.groupBy("u").agg(F.min("v").alias("rep")).select(
        F.col("u").alias("id"), "rep"
    )
    out = (
        all_ids.join(reps, "id", "left")
        .select("id", F.coalesce("rep", F.col("id")).alias("rep"))
        .localCheckpoint(eager=True)
    )
    release(E)
    return out


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    bits: int = 32,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate blocking: split the ``bits``-bit signature into ``bands``
    contiguous chunks; by pigeonhole any pair within distance < bands shares
    at least one exact chunk — join on (chunk index, chunk value), then
    verify the true Hamming distance via ``bit_count(xor)``
    (:func:`hamming_near_pairs`, shared with the image pHash pairs).
    """
    sigs = simhash_signatures(df, text_col, id_col, n, bits)
    return hamming_near_pairs(
        sigs, "simhash", id_col, bits=bits, bands=bands, max_hamming=max_hamming
    )


def hamming_near_pairs(
    sigs: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near pairs of any bit-signature frame by Hamming distance ≤
    ``max_hamming`` — ONE banding/verify definition shared by text
    SimHash and image pHash (signature semantics differ, the pairing
    machinery must not drift).

    Complete when ``max_hamming < bands`` (pigeonhole over contiguous
    ``bits // bands``-bit chunks: fewer flipped bits than bands means at
    least one chunk is untouched) — violating that precondition raises,
    it does not silently under-recall; the chunk equi-join keeps
    candidate volume at Σ|bucket|² per band, never corpus².  Output:
    (id_a, id_b, hamming) with ``id_a < id_b``."""
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least max_hamming+1 bands "
            f"(got {bands}): the pigeonhole completeness guarantee breaks"
        )
    # The self-join's two sides are separate plan subtrees (differing
    # only in aliases), and neither Catalyst nor AQE reuses the exchange
    # across them — without a materialization the ENTIRE upstream
    # signature pipeline (often Python synth+decode+DCT) runs twice per
    # action.  Eagerly checkpoint the minimal (id, sig) projection —
    # 16 bytes/row whatever the corpus — so fingerprints are computed
    # exactly once (the guide §8 decision-pass shape; measured 2.6→2.0 s
    # on the oriented-pHash lane at sf0.1).
    sigs = sigs.select(id_col, sig_col).localCheckpoint(eager=True)
    banded = _hamming_banded(sigs, sig_col, id_col, bits, bands)
    left = banded.select("band", "chunk", F.col(id_col).alias("id_a"), F.col("__sig").alias("sig_a"))
    right = banded.select("band", "chunk", F.col(id_col).alias("id_b"), F.col("__sig").alias("sig_b"))
    return (
        left.join(right, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def _hamming_banded(
    sigs: DataFrame, sig_col: str, id_col: str, bits: int, bands: int
) -> DataFrame:
    """(id, __sig, band, chunk) — the banding projection shared by the
    self-join (:func:`hamming_near_pairs`) and the asymmetric index
    probe (:func:`hamming_near_pairs_asym`), one definition.

    Chunks are extracted with EXACT bit ops (``shiftrightunsigned`` +
    ``bitwiseAND``), never division: Long ``/`` in Spark is DOUBLE
    division, and a 63-bit signature ≥ 2^53 rounds before the cast —
    band 0 collapses into one giant bucket (Σ|bucket|² → n²) and
    rounding carries corrupt chunks on UNTOUCHED bit ranges, silently
    dropping true near pairs the pigeonhole argument promises to keep."""
    if bits % bands != 0:
        raise ValueError(f"bits={bits} must divide evenly into bands={bands}")
    chunk = bits // bands
    mask = (1 << chunk) - 1
    return sigs.select(
        F.col(id_col),
        F.col(sig_col).alias("__sig"),
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col(sig_col), b * chunk).bitwiseAND(
                    F.lit(mask)
                )
                for b in range(bands)
            ])
        ).alias("band", "chunk"),
    )


def hamming_near_pairs_asym(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    sig_col: str,
    id_col: str = "media_id",
    corpus_id_col: str = "corpus_id",
    bits: int = 63,
    bands: int = 7,
    max_hamming: int = 6,
) -> DataFrame:
    """Asymmetric Hamming probe: NEW signatures against a standing
    signature frame (the persisted pHash index) — band both sides with
    the shared projection, equi-join on (band, chunk), verify with
    ``bit_count(xor)``.  Per-batch cost scales with the new side's band
    buckets, never with corpus-internal pair volume (the
    ``probe_lsh_index`` regime).  Pairs where the corpus row's id equals
    the probing id are EXCLUDED — a replayed epoch whose signatures
    already landed must not match itself (the owner-exclusion contract
    shared with the span index).  Output: (new_id, corpus_id,
    hamming)."""
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least max_hamming+1 bands "
            f"(got {bands}): the pigeonhole completeness guarantee breaks"
        )
    nb = _hamming_banded(new_sigs, sig_col, id_col, bits, bands)
    cb = _hamming_banded(
        corpus_sigs.select(
            F.col(corpus_id_col).alias("__cid"), F.col(sig_col)
        ),
        sig_col, "__cid", bits, bands,
    )
    left = nb.select("band", "chunk", F.col(id_col).alias("new_id"), F.col("__sig").alias("sig_a"))
    right = cb.select("band", "chunk", F.col("__cid").alias(corpus_id_col), F.col("__sig").alias("sig_b"))
    return (
        left.join(right, ["band", "chunk"])
        .where(F.col("new_id") != F.col(corpus_id_col))
        .select(
            "new_id", corpus_id_col,
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------- chunk dedup


#: packed (id, pos) chunk-owner encoding: id * 2^20 + pos.  Bounds
#: documents at 2^20 chunks (~21M tokens at the default width) — far
#: above any real document; min() over it selects the first corpus-wide
#: occurrence with one partial-aggregating pass.
CHUNK_OWNER_SHIFT = 20


def chunk_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 20,
    with_text: bool = False,
) -> DataFrame:
    """(id, pos, chunk-hash, chunk_len, owner_pk[, chunk]) — the document
    split into fixed ``chunk_tokens``-token chunks (last chunk partial).
    The token-array analog of line splitting for corpora without line
    structure; the granularity line-level dedup (CCNet/RefinedWeb-style)
    operates at.  ``with_text=True`` keeps the chunk STRING column (the
    rewrite path needs it; stats/boilerplate prune it for free).

    Chunks are built from O(1) ``get`` lookups over the materialized
    token array (see :func:`_shingle_expr` for why not ``slice``);
    ``concat_ws`` drops the NULL gets past the end, reproducing the
    partial last chunk.  One explode, no shuffle.
    """
    c = chunk_tokens
    toks = df.select(
        F.col(id_col), F.split(normalize(F.col(text_col)), " ").alias("__toks")
    ).withColumn("__n", F.size("__toks"))
    nchunks = F.floor((F.col("__n") + F.lit(c - 1)) / F.lit(c)).cast("bigint")
    chunks = F.transform(
        F.sequence(F.lit(0).cast("bigint"), nchunks - 1),
        lambda i: F.concat_ws(
            " ", *[F.get(F.col("__toks"), (i * c + F.lit(j)).cast("int")) for j in range(c)]
        ),
    )
    cols = [
        F.col(id_col),
        F.col("pos").cast("bigint").alias("pos"),
        hash64(F.col("__chunk")).alias("chunk_hash"),
        F.least(F.lit(c), F.col("__n") - F.col("pos") * c).cast("bigint").alias("chunk_len"),
        (F.col(id_col) * F.lit(1 << CHUNK_OWNER_SHIFT) + F.col("pos")).alias("owner_pk"),
    ]
    if with_text:
        cols.append(F.col("__chunk").alias("chunk"))
    return toks.select(
        F.col(id_col), F.col("__n"), F.posexplode(chunks).alias("pos", "__chunk")
    ).select(*cols)


def chunk_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 20,
) -> DataFrame:
    """Chunk-level exact dedup over the whole corpus: a chunk's FIRST
    occurrence (smallest (id, pos)) survives; later occurrences are
    duplicates.  Returns per document
    ``(id, n_chunks, dup_chunks, kept_tokens)`` — the bookkeeping a
    line-dedup pass needs to rewrite the corpus.

    Scale shape: the winner per chunk-hash comes from ``groupBy(hash)
    .agg(min(packed-owner))`` — partial aggregation combines map-side, so
    a chunk duplicated across millions of documents (the exact thing this
    operator hunts) collapses to one row per partition BEFORE the
    shuffle; a window over the hash would funnel every copy of a hot
    chunk through one task instead.  The join back on the hash is
    skew-safe for the same reason: the winner side is one row per hash
    (AQE splits any residual probe skew).  Owner packing: see
    :data:`CHUNK_OWNER_SHIFT`.
    """
    chunks = chunk_table(df, text_col, id_col, chunk_tokens)
    winners = chunks.groupBy("chunk_hash").agg(F.min("owner_pk").alias("__wpk"))
    return (
        chunks.join(winners, on="chunk_hash")
        .withColumn("__dup", (F.col("owner_pk") != F.col("__wpk")).cast("bigint"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("__dup").alias("dup_chunks"),
            F.sum(F.when(F.col("__dup") == 0, F.col("chunk_len")).otherwise(F.lit(0))).alias(
                "kept_tokens"
            ),
        )
    )


def boilerplate_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 20,
    min_docs: int = 2,
    top: int = 20,
) -> DataFrame:
    """Boilerplate detection: the chunks repeated across the most
    documents (headers/footers/licenses — the content line-level dedup
    exists to strip).  Returns the ``top`` chunk hashes by document
    frequency: ``(chunk_hash, n_docs, n_occurrences, first_doc)`` with a
    deterministic (n_docs, n_occurrences, chunk_hash) ordering.

    One partial-aggregating ``groupBy(hash)`` — hot boilerplate chunks
    collapse map-side — then a driver top-k (``orderBy().limit()``
    plans as TakeOrdered: per-partition heaps, no global sort)."""
    return (
        chunk_table(df, text_col, id_col, chunk_tokens)
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(id_col).alias("first_doc"),
        )
        .where(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "chunk_hash")
        .limit(top)
    )


def chunk_dedup_rewrite(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 20,
) -> DataFrame:
    """The rewrite half of chunk-level dedup: each document's text with
    its duplicate chunks REMOVED (first corpus-wide (id, pos) occurrence
    survives, later copies drop out; surviving chunks rejoin in position
    order).  Returns ``(id, text, n_dropped)``; documents whose every
    chunk was seen elsewhere come back with empty text, not missing rows.

    Unlike :func:`chunk_dedup_stats` this must move the chunk STRINGS
    through the winner join (the rewrite needs them), so its shuffle is
    corpus-sized — the price of materializing output; run the stats
    operator first when only measurements are needed.  The winner side
    stays (hash → packed owner) aggregates: map-side combine still
    collapses hot chunks before any join."""
    chunks = chunk_table(df, text_col, id_col, chunk_tokens, with_text=True)
    winners = chunks.groupBy("chunk_hash").agg(F.min("owner_pk").alias("__wpk"))
    return (
        chunks.join(winners, on="chunk_hash")
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("owner_pk") == F.col("__wpk"),
                                F.struct(F.col("pos"), F.col("chunk").alias("s")),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
            ).alias(text_col),
            F.sum((F.col("owner_pk") != F.col("__wpk")).cast("bigint")).alias("n_dropped"),
        )
    )


def lsh_recall_report(
    df: DataFrame,
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    max_df: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-evaluation of the LSH candidate generator: exact
    posting-list Jaccard pairs (ground truth at ``threshold``) vs the
    banded MinHash pipeline's verified pairs — one row of
    ``(n_exact, n_lsh, n_missed, recall_ppm)``.

    The number a production dedup run publishes next to its banding
    config: recall_ppm says what fraction of true near-dup pairs the
    band structure surfaces (verified LSH pairs are always a subset of
    the exact set, so precision is 1 by construction and not reported).
    Both pair sets are engine-verifiable, hence so is the report."""
    exact = ngram_jaccard_pairs(
        df, threshold=threshold, n=n, max_df=max_df, text_col=text_col, id_col=id_col
    ).select("id_a", "id_b")
    lsh = minhash_lsh_pairs(
        df, k=k, bands=bands, threshold=threshold, n=n, text_col=text_col, id_col=id_col
    ).select("id_a", "id_b")
    # r11 (guide §1.2/§2.4): the old shape ran THREE blocking count jobs
    # (exact, lsh, exact⋉lsh), and because neither pair frame was
    # materialized, the left_semi re-evaluated BOTH heavyweight pair
    # pipelines a second time — the shingle/MinHash work ran twice per
    # report.  A tagged union + per-pair aggregate computes all three
    # counts in ONE job that evaluates each pipeline exactly once; the
    # multiset semantics match the old counts (an exact-side row counts
    # toward n_common iff its pair key appears on the LSH side — the
    # left_semi definition).
    tagged = exact.select(
        "id_a", "id_b", F.lit(1).alias("__e"), F.lit(0).alias("__l")
    ).unionByName(
        lsh.select("id_a", "id_b", F.lit(0).alias("__e"), F.lit(1).alias("__l"))
    )
    per_pair = tagged.groupBy("id_a", "id_b").agg(
        F.sum("__e").alias("__se"), F.sum("__l").alias("__sl")
    )
    row = per_pair.agg(
        F.sum("__se").alias("__n_exact"),
        F.sum("__sl").alias("__n_lsh"),
        F.sum(F.when(F.col("__sl") > 0, F.col("__se")).otherwise(0)).alias("__n_common"),
    )
    return row.select(
        F.coalesce(F.col("__n_exact"), F.lit(0)).cast("bigint").alias("n_exact"),
        F.coalesce(F.col("__n_lsh"), F.lit(0)).cast("bigint").alias("n_lsh"),
        F.coalesce(F.col("__n_exact") - F.col("__n_common"), F.lit(0))
        .cast("bigint").alias("n_missed"),
        F.when(
            F.coalesce(F.col("__n_exact"), F.lit(0)) == 0, F.lit(1_000_000)
        ).otherwise(
            F.expr("(1000000 * __n_common) div __n_exact")
        ).cast("bigint").alias("recall_ppm"),
    )


# ------------------------------------------------- sorted neighborhood


def sorted_neighborhood_pairs(
    df: DataFrame,
    window: int = 2,
    block_chars: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs with shingle-Jaccard scores —
    the classic record-linkage blocking method, as a complement to the
    hash-based families (MinHash/SimHash bands): sort documents by a
    normalized key, compare each to its next ``window`` neighbors.

    The distributed form blocks FIRST (prefix of the normalized text,
    ``block_chars`` chars) and sorts only within blocks, so the window
    pass is a per-partition ``lead`` — no global sort, no unpartitioned
    window.  A prefix block can skew on natural text ("the …"); widen
    ``block_chars`` or blend in a length bucket when one block dominates
    (same remedy as any hot key).  Candidates then get exact Jaccard over
    the 60-bit shingle-hash sets (one :func:`shingle_table` pass; sizes
    and shared counts are two narrow aggregations).  Pairs sharing no
    shingle are dropped — they scored 0 and blocking already makes no
    recall claim about them.

    Output: (a_id, b_id, shared, jaccard_ppm), a_id < b_id, exact
    fixed-point Jaccard in parts-per-million."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("__id"), normalize(F.col(text_col)).alias("__norm")
    ).where(F.col("__norm") != "")
    w = Window.partitionBy(F.substring("__norm", 1, block_chars)).orderBy(
        "__norm", "__id"
    )
    nbrs = base.select(
        "__id",
        F.array(*[F.lead("__id", i).over(w) for i in range(1, window + 1)]).alias("__nb"),
    )
    cand = (
        nbrs.select("__id", F.explode("__nb").alias("__other"))
        .where(F.col("__other").isNotNull())
        .select(
            F.least("__id", "__other").alias("a_id"),
            F.greatest("__id", "__other").alias("b_id"),
        )
        .distinct()
    )
    st = shingle_table(df, text_col, id_col, n)
    sizes = st.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    shared = (
        cand.join(st.select(F.col(id_col).alias("a_id"), "shingle"), "a_id")
        .join(st.select(F.col(id_col).alias("b_id"), "shingle"), ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(sizes.select(F.col(id_col).alias("a_id"), F.col("__sz").alias("__sa")), "a_id")
        .join(sizes.select(F.col(id_col).alias("b_id"), F.col("__sz").alias("__sb")), "b_id")
        .select(
            "a_id",
            "b_id",
            F.col("shared").cast("bigint").alias("shared"),
            F.floor(
                F.lit(1e6) * F.col("shared")
                / (F.col("__sa") + F.col("__sb") - F.col("shared"))
            ).cast("bigint").alias("jaccard_ppm"),
        )
    )


# ------------------------------------------------- similarity-graph analytics


def nearest_neighbor_doc(
    df: DataFrame,
    threshold: float = 0.5,
    max_df: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Each document's single most similar other document (by exact
    capped n-gram Jaccard at ``threshold``) — the lookup behind "show me
    what this near-duplicates".  Pairs symmetrize and a per-anchor window
    takes the argmax with (jaccard desc, id) tie-break; documents with no
    pair above threshold are absent.

    Output: (doc_id, nn_id, jaccard)."""
    from pyspark.sql import Window

    pairs = ngram_jaccard_pairs(
        df, threshold=threshold, text_col=text_col, id_col=id_col, n=n, max_df=max_df
    )
    both = pairs.select(
        F.col("id_a").alias(id_col), F.col("id_b").alias("nn_id"), "jaccard"
    ).unionByName(
        pairs.select(F.col("id_b").alias(id_col), F.col("id_a").alias("nn_id"), "jaccard")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("jaccard"), F.asc("nn_id"))
    return (
        both.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select(id_col, "nn_id", "jaccard")
    )


def contrastive_negatives(
    df: DataFrame,
    k: int = 2,
    max_jaccard: float = 0.3,
    mh_k: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    ``k`` most lexically similar documents that are NOT near-duplicates —
    MinHash-band candidates (so some lexical overlap exists) whose exact
    Jaccard stays under ``max_jaccard``, ranked hardest-first.

    Random negatives are trivially easy for a contrastive objective;
    band-collision + sub-threshold-Jaccard is the standard cheap "hard"
    pool.  Candidates sharing zero shingles never surface (the exact
    verification join is inner) — they would be easy negatives anyway.

    Scale: identical to the LSH dedup path (banded equi-join, candidate
    volume ≪ all-pairs), plus an anchor-partitioned top-k window over the
    already-small negative pool.  Output:
    (anchor, negative, jaccard, rank)."""
    from pyspark.sql import Window

    pairs = minhash_lsh_pairs(
        df, k=mh_k, bands=bands, threshold=0.0,
        text_col=text_col, id_col=id_col, n=n, verify=True,
    ).where(F.col("jaccard") < max_jaccard)
    both = pairs.select(
        F.col("id_a").alias("anchor"), F.col("id_b").alias("negative"), "jaccard"
    ).unionByName(
        pairs.select(F.col("id_b").alias("anchor"), F.col("id_a").alias("negative"), "jaccard")
    )
    w = Window.partitionBy("anchor").orderBy(F.desc("jaccard"), F.asc("negative"))
    return (
        both.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("anchor", "negative", "jaccard", "rank")
    )


def doc_pagerank(
    pairs: DataFrame,
    iters: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected similarity-pair graph,
    entirely in exact integer ppm — the importance signal for choosing
    canonical survivors inside duplicate families (keep the hub, drop the
    satellites) or weighting a retrieval mix.

    ``PR₀ = 1e6``; each round ``PRₜ₊₁ = 150000 + (85·Σ inbound
    PRₜ(src)//deg(src)) // 100`` — the classic 0.85 damping in integer
    floor arithmetic, so every engine reproduces identical bits with NO
    float accumulation and the oracle can unroll the same rounds as CTEs.
    Fixed iteration count (power-iteration convergence is geometric;
    ranking stabilizes in a handful of rounds) keeps the plan bounded —
    for long chains use star contraction first, not more rounds.

    Scale: per round one (src-keyed join + dst-keyed partial agg); the
    rank frame is |nodes|-sized.  Isolated documents never enter (no
    edges).  Output: (node, degree, pr_ppm)."""
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    e = e.localCheckpoint(eager=True)  # reused every round
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pr = deg.select(F.col("src").alias("node"), F.lit(1_000_000).cast("bigint").alias("pr"))
    for _ in range(iters):
        contrib = (
            e.join(pr.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(F.expr("pr div deg")).alias("__s"))
        )
        pr = (
            pr.select("node")
            .join(contrib, F.col("node") == F.col("dst"), "left_outer")
            .select(
                "node",
                (
                    F.lit(150_000)
                    + F.expr("(85 * coalesce(__s, 0L)) div 100")
                ).cast("bigint").alias("pr"),
            )
        )
    return (
        pr.join(deg, F.col("node") == F.col("src"))
        .select("node", F.col("deg").cast("bigint").alias("degree"), F.col("pr").alias("pr_ppm"))
    )


def triangle_counts(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient over
    an undirected pair graph (edges canonical ``id_a < id_b``) — the
    community-density signal that separates tight duplicate FAMILIES
    (cliques: coefficient → 1) from chained false-positive paths
    (coefficient → 0) in a similarity graph.

    Uses the ordered-triple join: a triangle a<b<c is counted exactly
    once as edges (a,b)+(b,c)+(a,c), so no division-by-symmetry is
    needed.  Scale shape: two hash equi-joins on node keys over the
    EDGE list (never the node×node space) — the standard distributed
    triangle enumeration; with canonical ordering each join's left key
    is the edge's higher endpoint, which bounds fan-out by the forward
    degree (≈ m^1.5 total work, the theoretical bound for triangle
    listing).  Output: (node, degree, n_triangles, clustering) where
    ``clustering = 2·T / (deg·(deg−1))``, an exact long/long double
    ratio (0.0 for degree-1 nodes)."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    e = e.localCheckpoint(eager=True)  # three joins + the degree count reuse it
    tri = (
        e.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
        .join(
            e.select(F.col("a").alias("t_b"), F.col("b").alias("t_c")),
            "t_b",
        )
        .join(
            e.select(F.col("a").alias("t_a"), F.col("b").alias("t_c")),
            ["t_a", "t_c"],
        )
    )
    per_node = (
        tri.select(F.col("t_a").alias("node"))
        .unionByName(tri.select(F.col("t_b").alias("node")))
        .unionByName(tri.select(F.col("t_c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(per_node, "node", "left_outer")
        .select(
            "node",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.when(
                F.col("degree") > 1,
                (F.coalesce("n_triangles", F.lit(0)) * F.lit(2)).cast("double")
                / (F.col("degree") * (F.col("degree") - F.lit(1))),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


def fuzzy_pairs(
    df: DataFrame,
    max_dist: int = 2,
    prefix_chars: int = 40,
    max_block: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Blocked fuzzy matching (record-linkage style): candidate pairs
    share their FIRST normalized token (the blocking key); a pair
    matches when the edit distance of their ``prefix_chars``-char
    normalized prefixes is ≤ ``max_dist``.  Catches the typo/OCR-noise
    duplicates that token-set methods (Jaccard/MinHash) miss — a one-
    character typo changes every shingle containing it, but moves edit
    distance by 1.

    Scale shape: the block join is a hash equi-join on the first token;
    ``max_block`` caps block size the same way ``max_df`` caps posting
    lists (drop keys whose block exceeds it — stopword-led documents
    would otherwise create quadratic blocks; the cap is the documented
    selectivity/recall knob).  Levenshtein runs ONLY on candidate
    pairs, on bounded prefixes — O(prefix²) per candidate, never per
    row-pair of the corpus.  Output: (id_a, id_b, dist), id_a < id_b.
    """
    base = df.select(
        F.col(id_col),
        normalize(F.col(text_col)).alias("__n"),
    ).where(F.col("__n") != "")
    keyed = base.select(
        F.col(id_col),
        F.substring("__n", 1, prefix_chars).alias("__p"),
        F.split(F.col("__n"), " ")[0].alias("__k"),
    )
    ok = (
        keyed.groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where((F.col("__c") > 1) & (F.col("__c") <= max_block))
        .select("__k")
    )
    keyed = keyed.join(F.broadcast(ok), "__k")
    a = keyed.select(F.col(id_col).alias("id_a"), F.col("__p").alias("__pa"), "__k")
    b = keyed.select(F.col(id_col).alias("id_b"), F.col("__p").alias("__pb"), "__k")
    return (
        a.join(b, "__k")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__pa", "__pb").cast("bigint").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


# --------------------------------------------------- persisted LSH index
# The continuous-ingestion scale path `incremental_lsh_pairs` documents:
# the corpus side's banded signatures are a pure function of the corpus,
# so a standing deployment computes them ONCE, persists them partitioned
# by band, and each arriving batch computes only ITS signatures and
# probes — per-batch cost independent of corpus size and of any
# corpus-internal pair structure.


def _banded_signatures(
    st: DataFrame, out_id: str, k: int, bands: int, id_col: str
) -> DataFrame:
    """(id, band, band_hash) rows from a shingle table: one md5 per band
    over the concatenated row minima."""
    r = k // bands
    sigs = minhash_signatures_from_shingles(st, k, id_col)
    return sigs.select(
        F.col(id_col).alias(out_id),
        F.posexplode(
            F.array(
                *[
                    F.md5(F.concat_ws(",", *[F.col("sig")[b * r + i].cast("string") for i in range(r)]))
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


#: filename of the index parameter sidecar — leading underscore so Spark's
#: parquet reader skips it as metadata (same convention as ``_SUCCESS``)
LSH_META_NAME = "_lsh_meta.json"


def write_lsh_meta(path: str, k: int, bands: int, n: int) -> None:
    """Persist the (k, bands, n) the index was built with next to its
    parquet files — band hashes are a pure function of these, so a probe
    with different parameters silently returns ZERO candidates instead of
    erroring.  The sidecar makes the mismatch a hard error."""
    import json
    import os

    with open(os.path.join(path, LSH_META_NAME), "w") as f:
        json.dump({"k": k, "bands": bands, "n": n}, f)


def read_lsh_meta(path: str) -> dict | None:
    """Load the index parameter sidecar; ``None`` for a pre-sidecar index
    (accepted for back-compat — the caller's parameters are trusted).
    A PRESENT but malformed sidecar raises ValueError: silently ignoring
    it would let a probe run with wrong parameters and match nothing."""
    import json
    import os

    fp = os.path.join(path, LSH_META_NAME)
    try:
        with open(fp) as f:
            meta = json.load(f)
    except OSError:
        return None
    except ValueError as e:
        raise ValueError(f"corrupt LSH index sidecar {fp}: {e}") from e
    if not (
        isinstance(meta, dict)
        and all(isinstance(meta.get(key), int) for key in ("k", "bands", "n"))
    ):
        raise ValueError(
            f"corrupt LSH index sidecar {fp}: expected integer k/bands/n, got {meta!r}"
        )
    return meta


def check_lsh_meta(path: str, k: int, bands: int, n: int) -> None:
    """Raise ``ValueError`` when the persisted index at ``path`` was built
    with different (k, bands, n) than the probe is about to use."""
    meta = read_lsh_meta(path)
    if meta is None:
        return
    got = (meta.get("k"), meta.get("bands"), meta.get("n"))
    if got != (k, bands, n):
        raise ValueError(
            f"LSH index at {path} was built with (k, bands, n)={got}; "
            f"probing with ({k}, {bands}, {n}) would produce incompatible "
            "band hashes and silently match nothing"
        )


def build_lsh_index(
    corpus_df: DataFrame,
    path: str,
    k: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """Materialize the corpus LSH index at ``path``: banded MinHash rows
    ``(corpus_id, band, band_hash, n_shingles)`` written as parquet
    partitioned by ``band``.  ``n_shingles`` rides along so a verifying
    probe can compute exact Jaccard denominators without re-shingling the
    corpus.  Rebuild (or append new partitions) when the corpus grows —
    the index is a pure function of (corpus, k, bands, n)."""
    import os as _os
    import shutil as _shutil

    from ..sources.atomic import swap_dir

    assert k % bands == 0, "k must divide into equal bands"
    st = shingle_table(corpus_df, text_col, id_col, n)
    sizes = st.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    banded = _banded_signatures(st, "corpus_id", k, bands, id_col)
    # crash-safe REBUILD (r10, the ANN-index pattern): a plain overwrite
    # deletes the live index first, so a mid-build crash would destroy
    # the standing index the streaming probe serves from
    path = _os.path.normpath(path)
    staging = path + ".staging"
    if _os.path.isdir(staging):
        _shutil.rmtree(staging)
    (
        banded.join(sizes.select(F.col(id_col).alias("corpus_id"), "n_shingles"), "corpus_id")
        .write.mode("overwrite")
        # Spark's own job-commit marker would land at the STAGING ROOT
        # before the meta sidecar is written, and recover_dir promotes
        # on that exact path — suppress it so the hand-stamped
        # ``_SUCCESS`` below (meta included) is the only promotion
        # token (r10 advisory)
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy("band")
        .parquet(staging)
    )
    write_lsh_meta(staging, k, bands, n)
    with open(_os.path.join(staging, "_SUCCESS"), "w"):
        pass
    swap_dir(path)


def probe_lsh_index(
    spark,
    path: str,
    new_df: DataFrame,
    k: int = 16,
    bands: int = 4,
    threshold: float | None = None,
    corpus_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    st_new: DataFrame | None = None,
) -> DataFrame:
    """Probe a persisted LSH index with a new batch.

    Returns candidate ``(new_id, corpus_id)`` pairs from the band-hash
    equi-join — the only shuffle is the batch's own (tiny) signature set
    against the index's matching band buckets.  With ``threshold`` AND
    ``corpus_df`` given, verifies candidates to exact n-gram Jaccard ≥
    threshold (the corpus text is re-read only for the candidate ids —
    a semi-join-pruned scan, not a full re-shingle).

    ``st_new``: a PREBUILT (and caller-persisted) shingle table of
    ``new_df`` — callers that already shingled the batch (the streaming
    ingest's within-batch pass) pass it to avoid running the dominant
    normalize/shingle map a second time; its persistence stays theirs."""
    assert k % bands == 0, "k must divide into equal bands"
    check_lsh_meta(path, k, bands, n)  # mismatched params = zero matches
    index = spark.read.parquet(path)
    own_st = st_new is None
    if own_st:
        st_new = shingle_table(new_df, text_col, id_col, n)
        if threshold is not None and corpus_df is not None:
            st_new = st_new.persist()
    cands = (
        _banded_signatures(st_new, "new_id", k, bands, id_col)
        .join(index, ["band", "band_hash"])
        .select("new_id", "corpus_id", "n_shingles")
        .groupBy("new_id", "corpus_id")
        .agg(F.first("n_shingles").alias("nb"))
    )
    if threshold is None or corpus_df is None:
        return cands.select("new_id", "corpus_id")
    # the verify path consumes the candidate frame three times (candidate
    # ids, shared-shingle join, denominator join) — persist so the index
    # read + band join runs once, not per consumer.  try/finally: an
    # error mid-verify must not leak executor storage across retried
    # streaming batches
    cands = cands.persist()
    try:
        cand_ids = cands.select(F.col("corpus_id").alias(id_col)).distinct()
        st_corp = shingle_table(
            corpus_df.join(cand_ids, id_col, "left_semi"), text_col, id_col, n
        )
        shared = (
            cands.join(st_new.select(F.col(id_col).alias("new_id"), "shingle"), "new_id")
            .join(
                st_corp.select(F.col(id_col).alias("corpus_id"), "shingle"),
                ["corpus_id", "shingle"],
            )
            .groupBy("new_id", "corpus_id")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        sa = st_new.groupBy(id_col).agg(F.count(F.lit(1)).alias("na")).select(
            F.col(id_col).alias("new_id"), "na"
        )
        out = (
            shared.join(sa, "new_id")
            .join(cands.select("new_id", "corpus_id", "nb"), ["new_id", "corpus_id"])
            .withColumn(
                "jaccard",
                F.round(F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")), 6),
            )
            .where(F.col("jaccard") >= threshold)
            .select("new_id", "corpus_id", "jaccard")
        )
        out = out.localCheckpoint(eager=True)
    finally:
        cands.unpersist()
        if own_st:
            st_new.unpersist()
    return out


def _span_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, __toks, __n) — normalized token arrays with the empty-text
    count fix, shared by every span-dedup path (one definition)."""
    return df.select(
        F.col(id_col), F.split(normalize(F.col(text_col)), " ").alias("__toks")
    ).withColumn(
        "__n",
        F.when(F.element_at("__toks", 1) == "", F.lit(0)).otherwise(F.size("__toks")),
    )


def _span_grams(
    base: DataFrame, L: int, id_col: str, wide: bool = False
) -> DataFrame:
    """(id, pos, 8-byte gram hash[, second hash half]) for every L-gram
    position, reduced in ONE projection and eagerly checkpointed: its
    consumers (dup-gram groupBy, index probe, coverage join) would
    otherwise each recompute the dominant normalize/shingle explode, and
    the hash keeps every shuffle 8 (or 16, ``wide``) bytes/key instead
    of the raw L-word string."""
    from .hashing import hash64, hash64_hi

    cols = [F.col(id_col), F.col("pos"), hash64(F.col("gram")).alias("gh")]
    if wide:
        cols.append(hash64_hi(F.col("gram")).alias("gh2"))
    return (
        base.where(F.col("__n") >= L)
        .select(
            F.col(id_col),
            F.posexplode(_shingle_expr(F.col("__toks"), L, distinct=False)).alias(
                "pos", "gram"
            ),
        )
        .select(*cols)
        .localCheckpoint(eager=True)
    )


def _covered_positions(
    grams: DataFrame, hits: DataFrame, L: int, id_col: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """DISTINCT (id, __idx) token positions inside hit grams; ``hits``
    is (id, gram-key) pairs (per-document, so owner exclusions apply);
    ``keys`` defaults to the 64-bit ``gh``, the wide mode passes both
    halves."""
    keys = keys or ["gh"]
    return (
        grams.join(hits.distinct(), [id_col, *keys], "left_semi")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(L - 1))).alias(
                "__idx"
            ),
        )
        .distinct()
    )


def _rewrite_from_covered(
    base: DataFrame, covered: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, text, n_removed): drop covered token positions, rejoin
    survivors in position order — the shared rewrite tail of the batch
    and incremental span-dedup paths."""
    tok_rows = base.where(F.col("__n") > 0).select(
        F.col(id_col), F.posexplode("__toks").alias("__idx", "__tok")
    )
    kept = tok_rows.join(covered, [id_col, "__idx"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__idx"), F.col("__tok").alias("s")))
                ),
                lambda x: x["s"],
            ),
        ).alias(text_col),
        F.count(F.lit(1)).alias("__kept"),
    )
    return (
        base.join(reassembled, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            (F.col("__n") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def _dup_span_covered(df: DataFrame, L: int, text_col: str, id_col: str):
    """Shared span-dedup core: returns ``(base, covered)`` where ``base``
    is (id, __toks, __n) and ``covered`` the DISTINCT (id, __idx) token
    positions inside any corpus-wide duplicated L-gram."""
    base = _span_base(df, text_col, id_col)
    grams = _span_grams(base, L, id_col)
    dup = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("__c")).where(
        F.col("__c") >= 2
    )
    hits = grams.join(dup.select("gh"), "gh").select(id_col, "gh")
    return base, _covered_positions(grams, hits, L, id_col)


def duplicate_span_stats(
    df: DataFrame,
    span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring dedup measurement (the Lee et al. 2021
    "Deduplicating Training Data" shape): a token span of length
    ``span_tokens`` that occurs MORE THAN ONCE corpus-wide (any document,
    including the same one) marks all its token positions as duplicated.

    Distributed shape: positions ride the shingle explode (O(1)-get
    grams over the materialized token array, like :func:`shingle_table`),
    duplicate grams come from one hash groupBy (map-side combine collapses
    hot spans), covered indices are a bounded ``sequence`` explode
    (≤ span_tokens × occurrences) deduplicated per (doc, index) — never
    a suffix array on the driver, never corpus².

    Output per document: (doc_id, n_tokens, n_dup_tokens, n_clean_tokens);
    documents with no duplicated span come back with zeros, not missing
    rows.

    Hash-width tradeoff: grams are reduced to a 64-bit hash
    (:func:`hashing.hash64`), so two UNRELATED grams collide with
    birthday probability ~m²/2⁶⁵ for m distinct grams — negligible below
    ~10⁹ grams, but a full 100 TB corpus (≫2³² grams) would silently
    delete clean tokens at measurable rates.  At that scale widen the
    gram key to a 128-bit pair (both md5 halves: the second half mirrors
    in DuckDB as ``substr(md5(e), 16, 15)``) — kept 64-bit here because
    the oracle parity chain and the persisted index row format share the
    single-column key."""
    base, cov = _dup_span_covered(df, span_tokens, text_col, id_col)
    covered = cov.groupBy(id_col).agg(F.count(F.lit(1)).alias("__dup"))
    return (
        base.join(covered, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__n").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("__dup"), F.lit(0)).cast("bigint").alias("n_dup_tokens"),
            (F.col("__n") - F.coalesce(F.col("__dup"), F.lit(0)))
            .cast("bigint")
            .alias("n_clean_tokens"),
        )
    )


def duplicate_span_rewrite(
    df: DataFrame,
    span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The rewrite half of exact-substring dedup: every token covered by
    a corpus-wide duplicated ``span_tokens``-gram is REMOVED (both
    occurrences — the Lee et al. policy for spans, unlike the chunk
    rewrite's first-copy-wins), survivors rejoin in position order.
    Returns ``(id, text, n_removed)``; fully-duplicated documents come
    back with empty text, not missing rows.  NOTE the rewrite operates in
    normalized token space — the output text is the normalized
    reassembly (callers keeping original formatting apply the rewrite
    only to affected documents; see the streaming sink)."""
    base, covered = _dup_span_covered(df, span_tokens, text_col, id_col)
    return _rewrite_from_covered(base, covered, text_col, id_col)


#: filename of the span-index parameter sidecar (underscore-prefixed so
#: parquet readers skip it, like the LSH sidecar)
SPAN_META_NAME = "_span_meta.json"


def build_span_index(
    corpus_df: DataFrame,
    path: str,
    span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    wide_hash: bool = False,
) -> None:
    """Materialize the corpus SPAN index at ``path``: the DISTINCT
    (8-byte gram hash, owner doc id) pairs of every ``span_tokens``-token
    gram in the corpus, as parquet.  The continuous exact-substring dedup
    probe is then one equi-join of a batch's (tiny) gram set against the
    ``gh`` column — per-batch cost independent of corpus-internal
    duplication, the same standing-index regime as
    :func:`build_lsh_index`.  The owner id lets a probing document ignore
    grams IT contributed — which makes the index append safe to run
    BEFORE the corpus append (a replayed epoch sees its own grams but
    excludes them by owner), so a crash between the two appends can only
    duplicate hashes, never lose coverage.

    Index rows carry the same 64-bit gram hash as
    :func:`duplicate_span_stats` (see its hash-width note) by default;
    ``wide_hash=True`` stores BOTH md5 halves (columns ``gh``/``gh2``, a
    120-bit key — DuckDB mirrors the second half as
    ``CAST(('0x' || substr(md5(e), 16, 15)) AS BIGINT)``), pushing the
    birthday horizon past any real corpus — the mode to build a
    standing index expected to exceed ~10⁹ grams with.  The sidecar
    records the width; probes with the other width raise."""
    import os as _os
    import shutil as _shutil

    from ..sources.atomic import swap_dir

    # crash-safe REBUILD (r10): staging + swap, like build_lsh_index
    path = _os.path.normpath(path)
    staging = path + ".staging"
    if _os.path.isdir(staging):
        _shutil.rmtree(staging)
    (
        _span_gram_hashes(
            corpus_df, span_tokens, text_col, id_col, wide=wide_hash
        )
        .write.mode("overwrite")
        # suppress Spark's own staging-root _SUCCESS: the hand-stamped
        # marker below (after the meta sidecar) is the only promotion
        # token recover_dir may trust (r10 advisory)
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(staging)
    )
    write_span_meta(staging, span_tokens, wide_hash)
    with open(_os.path.join(staging, "_SUCCESS"), "w"):
        pass
    swap_dir(path)


def _span_gram_hashes(
    df: DataFrame, span_tokens: int, text_col: str, id_col: str,
    wide: bool = False,
) -> DataFrame:
    """DISTINCT (gh[, gh2], owner_id) span-gram hashes of a document
    frame — the index row shape shared by build and append."""
    base = _span_base(df, text_col, id_col)
    cols = ["gh", "gh2"] if wide else ["gh"]
    return (
        _span_grams(base, span_tokens, id_col, wide=wide)
        .select(F.col(id_col).alias("owner_id"), *cols)
        .distinct()
    )


def write_span_meta(
    path: str, span_tokens: int, wide_hash: bool = False
) -> None:
    """Persist the span length AND key width the index was built with
    (gram hashes are a pure function of the length — a mismatched probe
    would silently remove nothing or the wrong spans; a width mismatch
    either fails on the missing ``gh2`` column or silently forfeits the
    collision protection the wide build paid for)."""
    import json
    import os

    with open(os.path.join(path, SPAN_META_NAME), "w") as f:
        json.dump({"span_tokens": span_tokens, "wide_hash": wide_hash}, f)


def read_span_meta(path: str) -> dict | None:
    """Load the span-index sidecar; ``None`` when absent, ValueError when
    present but malformed (same contract as :func:`read_lsh_meta`)."""
    import json
    import os

    fp = os.path.join(path, SPAN_META_NAME)
    try:
        with open(fp) as f:
            meta = json.load(f)
    except OSError:
        return None
    except ValueError as e:
        raise ValueError(f"corrupt span index sidecar {fp}: {e}") from e
    if not (isinstance(meta, dict) and isinstance(meta.get("span_tokens"), int)):
        raise ValueError(
            f"corrupt span index sidecar {fp}: expected integer span_tokens, "
            f"got {meta!r}"
        )
    if not isinstance(meta.get("wide_hash", False), bool):
        raise ValueError(
            f"corrupt span index sidecar {fp}: expected boolean wide_hash, "
            f"got {meta!r}"
        )
    return meta


def check_span_meta(
    path: str, span_tokens: int, wide_hash: bool | None = None
) -> None:
    """Raise ``ValueError`` when the persisted span index at ``path`` was
    built with a different ``span_tokens`` than the probe is about to use
    (mirrors :func:`check_lsh_meta`): mismatched gram lengths hash to
    disjoint keys, so the probe would silently remove nothing — or, when
    the probe length divides the index length's grams coincidentally,
    the wrong spans.  When ``wide_hash`` is given, a key-width mismatch
    raises too: a wide probe of a narrow index fails on the missing
    ``gh2`` column, and a narrow probe of a wide index would silently
    forfeit the collision protection the build paid for."""
    meta = read_span_meta(path)
    if meta is None:
        return
    got = meta.get("span_tokens")
    if got != span_tokens:
        raise ValueError(
            f"span index at {path} was built with span_tokens={got}; "
            f"probing with span_tokens={span_tokens} would hash disjoint "
            "gram keys and silently match nothing"
        )
    if wide_hash is not None and meta.get("wide_hash", False) != wide_hash:
        raise ValueError(
            f"span index at {path} was built with "
            f"wide_hash={meta.get('wide_hash', False)}; probing with "
            f"wide_hash={wide_hash} would mismatch the gram key width"
        )


def incremental_span_rewrite(
    spark,
    index_path: str,
    new_df: DataFrame,
    span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    wide_hash: bool = False,
) -> DataFrame:
    """Continuous exact-substring dedup for an arriving batch: every
    token covered by a ``span_tokens``-gram that (a) already exists in
    the standing span index, or (b) occurs more than once WITHIN the
    batch, is removed; survivors rejoin in position order.

    Asymmetric by construction: the standing corpus is immutable, so only
    the NEW copy of a cross-corpus span is removable (the batch analog of
    the Lee et al. remove-all policy degrades to remove-the-new-copy at
    ingest time).  Grams whose index row is OWNED by the probing document
    itself are ignored — a replayed epoch whose grams already landed
    (:func:`append_span_index` runs before the corpus append) rewrites
    bit-identically instead of emptying its own documents.  Returns the
    rewritten frame (id, text, n_removed); like
    :func:`duplicate_span_rewrite`, the output text is the NORMALIZED
    reassembly (the streaming sink keeps original formatting for
    unaffected documents by applying this only where n_removed > 0).
    ``wide_hash=True`` probes on BOTH md5 halves — the index must have
    been built wide (the sidecar check raises otherwise)."""
    check_span_meta(index_path, span_tokens, wide_hash)
    L = span_tokens
    keys = ["gh", "gh2"] if wide_hash else ["gh"]
    base = _span_base(new_df, text_col, id_col)
    grams = _span_grams(base, L, id_col, wide=wide_hash)
    dup_within = grams.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__c")
    ).where(F.col("__c") >= 2).select(*keys)
    # cross-corpus hits, EXCLUDING rows this document itself owns (replay
    # self-match guard — see docstring); the join output is id-paired so
    # the owner inequality can apply per probing document
    in_corpus = (
        grams.join(spark.read.parquet(index_path), keys)
        .where(F.col("owner_id") != F.col(id_col))
        .select(id_col, *keys)
    )
    dup_hits = grams.join(dup_within, keys).select(id_col, *keys)
    covered = _covered_positions(
        grams, in_corpus.union(dup_hits), L, id_col, keys=keys
    )
    return _rewrite_from_covered(base, covered, text_col, id_col)


def append_span_index(
    spark,
    index_path: str,
    df: DataFrame,
    span_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    wide_hash: bool = False,
) -> None:
    """Extend the span index with (gh, owner_id) rows — run BEFORE the
    corpus append (the owner exclusion makes replays self-immune), so a
    crash between the two appends can only duplicate hashes, never lose
    coverage; duplicates cost probe I/O only and compaction
    (`plans.scale.compact_parquet` + dropDuplicates) reclaims them."""
    check_span_meta(index_path, span_tokens, wide_hash)
    _span_gram_hashes(
        df, span_tokens, text_col, id_col, wide=wide_hash
    ).write.mode("append").parquet(index_path)
