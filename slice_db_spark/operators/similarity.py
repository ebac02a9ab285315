"""Similarity search over embedding columns (``array<float>``).

Two strategies:

* :func:`brute_force_topk` — exact cosine top-k: query set (small) is
  broadcast and crossed with the corpus; dot products run JVM-side via
  ``aggregate(zip_with(...))`` in whole-stage codegen.  O(|Q|·|C|) — the
  correctness baseline and the right plan when |Q| is small.
* :func:`lsh_topk` — the scale path: random-hyperplane LSH (sign of the
  projection onto fixed pseudo-random planes) buckets vectors; only
  candidates within a signature Hamming radius are scored (multi-probe).
  Planes come from :func:`random_planes` — md5-derived constants computed
  once on the driver and inlined as literals, so the DuckDB oracle uses
  the *identical* numbers and the operator stays fully deterministic.

The LSH candidate step is an equi-join on the signature key: the query
side is expanded to every signature within the probe Hamming radius
(multi-probe), so "within distance h" becomes a plain hash join — a
broadcast join for small query sets, a shuffle bucket join at cluster
scale.  No cross join exists anywhere on the scale path.

Cosine values are rounded (1e-6) before ranking so cross-engine float
summation differences cannot flip ranks; ties break on vec_id.

Recall characteristics (tested, `tests/test_similarity.py`): on
clustered embeddings — the real workload — LSH/IVF/PQ all retrieve
planted tight clusters at ≥0.85 recall@k.  On UNIFORM-RANDOM vectors
hashing methods approach random selection (no locality exists to
exploit); the synthetic benchmark corpus is that worst case, so its
absolute recall is not a quality signal — brute_force_topk is the
exact baseline either way.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, LongType


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    """Pair cosine as a JVM expression (``aggregate(zip_with(...))``).

    Deliberately NOT a pandas UDF: scoring candidate pairs in Python
    would ship BOTH vectors per pair over Arrow (candidates × 2 × dim ×
    8 bytes — measured slower end-to-end than the interpreted expression
    at every tested scale).  Python vectorization pays off only where the
    input is one vector per ROW (signature computation), not per pair."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def random_planes(planes: int, dim: int, seed: str = "lsh") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, i) =
    ``md5(seed:p:i)[:15 hex] / 2^59 - 1`` ∈ [-1, 1).  Pure driver-side
    constants — inline the same numbers into any engine's SQL."""
    out = []
    for p in range(planes):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()[:15], 16)
            row.append(h / float(1 << 59) - 1.0)
        out.append(row)
    return out


def signature(vec, planes: list[list[float]]):
    """Sign signature (array<int> of 0/1) of ``vec`` against ``planes``;
    projection = dot(plane, vec) computed by index so term order (and thus
    float rounding) matches the SQL oracle exactly."""
    comps = []
    for row in planes:
        proj = None
        for i, w in enumerate(row):
            term = F.lit(w) * F.element_at(vec, i + 1).cast("double")
            proj = term if proj is None else proj + term
        comps.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)))
    return F.array(*comps)


def signature_vec(planes: list[list[float]]):
    """Arrow-vectorized :func:`signature`: one numpy matmul per batch
    instead of a (planes × dim)-term Catalyst expression tree per row —
    the expression form evaluates interpreted at ~0.5 ms/row, the matmul
    at ~100 ns/row.

    Float parity with the SQL oracle's sequential term sum: matmul may
    reorder the additions, but the reordering error is bounded by
    ~dim·eps·Σ|terms| ≈ 1e-15 while the smallest observed |projection|
    margin on the test embeddings is ~5e-6 — ten orders of magnitude of
    headroom, so the sign (the only thing kept) can never differ.
    """
    P = np.array(planes, dtype=np.float64).T  # dim × planes

    @pandas_udf(ArrayType(IntegerType()))
    def sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.array(v.tolist(), dtype=np.float64)
        bits = (M @ P >= 0).astype(np.int32)
        return pd.Series(list(bits))

    return sig


def signature_sql(vec_expr: str, planes: list[list[float]]) -> str:
    """DuckDB rendering of :func:`signature` (list of 0/1)."""
    comps = []
    for row in planes:
        terms = " + ".join(
            f"({w!r}) * CAST({vec_expr}[{i + 1}] AS DOUBLE)" for i, w in enumerate(row)
        )
        comps.append(f"CASE WHEN ({terms}) >= 0 THEN 1 ELSE 0 END")
    return "[" + ", ".join(comps) + "]"


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    carry_cols: tuple = (),
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``queries``: (q_id, embedding).  Output: (q_id, vec_id, sim, rank) with
    rank 1..k, sim rounded to 6 places, deterministic tie-break on vec_id.
    Self-matches (same id) are not excluded — filter upstream if needed.
    ``carry_cols``: extra corpus columns to ride through the scoring and
    top-k (e.g. a label) — one narrow column through the existing scan
    beats a second corpus scan + join downstream.
    """
    q = F.broadcast(
        queries.select(F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv"))
    )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cv"),
        *[F.col(cc) for cc in carry_cols],
    )
    scored = q.crossJoin(c).select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("sim"),
        *carry_cols,
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank", *carry_cols)
    )


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "q_id",
) -> DataFrame:
    """k-NN majority-vote classification over an embedding corpus.

    For each query vector, take the exact top-``k`` cosine neighbors
    (:func:`brute_force_topk` — swap in :func:`lsh_topk`/IVF/PQ candidates
    for corpus scale; the vote logic below is strategy-agnostic) and
    predict the modal neighbor label.  Deterministic end-to-end: neighbor
    ties break on ``id_col``, vote ties on (more votes, better best-rank,
    smaller label).

    Output: (q_id, pred_label, votes, best_rank) — one row per query.
    The vote aggregation groups |Q|·k rows, metadata-sized next to the
    scoring step, so classification adds no scale cost beyond the
    neighbor search itself.  The label rides THROUGH the scoring scan
    (``carry_cols``) — the earlier shape re-scanned and broadcast the
    whole (id, label) corpus projection just to label k·|Q| rows, an
    extra corpus pass here and a corpus-sized broadcast at scale."""
    labeled = brute_force_topk(
        corpus.withColumn("__lbl", F.col(label_col)),
        queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, carry_cols=("__lbl",),
    )
    votes = labeled.groupBy(query_id_col, "__lbl").agg(
        F.count(F.lit(1)).alias("votes"), F.min("rank").alias("best_rank")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("votes"), F.asc("best_rank"), F.asc("__lbl")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            query_id_col,
            F.col("__lbl").cast("int").alias("pred_label"),
            F.col("votes").cast("bigint").alias("votes"),
            F.col("best_rank").cast("bigint").alias("best_rank"),
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    probe_hamming: int = 1,
    broadcast_rows: int = 100_000,
    n_queries: int | None = None,
    broadcast: bool | None = None,
) -> DataFrame:
    """Approximate top-k: score only candidates whose hyperplane signature
    is within ``probe_hamming`` bits of the query's.

    The probe side (|Q| × n_probes rows, each carrying the query vector)
    is broadcast only while it stays under ``broadcast_rows``.  The
    decision uses, in order: the explicit ``broadcast`` override, the
    caller-supplied ``n_queries`` hint, and only as a last resort a capped
    count on ``queries`` (reads at most the cap, not the full set — but it
    IS an eager Spark job that re-evaluates the queries plan, so callers
    composing this lazily or with an expensive query plan should pass the
    hint).  Bigger query sets fall back to a shuffle hash join on the
    signature key, the plan that survives |Q| at corpus scale.

    Candidate generation is a multi-probe HASH JOIN, not a filtered cross
    join: each query row explodes into every signature key within the
    probe radius (``sum_{d<=h} C(planes, d)`` probes — 9 for 8 planes at
    h=1) and joins the corpus on signature equality.  A corpus vector's
    single signature can match at most one distinct probe, so the join
    emits each candidate exactly once — the same candidate set as a
    Hamming-distance filter, as one equi-join that scales to any corpus
    size.

    Output schema matches :func:`brute_force_topk`; recall < 1 by design —
    the oracle for this operator is the *same algorithm* in SQL, not exact
    top-k.
    """
    from itertools import combinations

    nb = len(planes)
    sig = signature_vec(planes)

    def key_of(bits, flipped=()):
        return F.concat_ws(
            "",
            *[
                (F.lit(1) - F.element_at(bits, i + 1) if i in flipped else F.element_at(bits, i + 1)).cast(
                    "string"
                )
                for i in range(nb)
            ],
        )

    c = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv"))
        .withColumn("__csig", sig(F.col("__cv")))
        .withColumn("__key", key_of(F.col("__csig")))
        .drop("__csig")
    )
    flip_sets = [fs for d in range(probe_hamming + 1) for fs in combinations(range(nb), d)]
    q = (
        queries.select(F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv"))
        .withColumn("__qsig", sig(F.col("__qv")))
        .select(
            query_id_col,
            "__qv",
            F.explode(F.array(*[key_of(F.col("__qsig"), fs) for fs in flip_sets])).alias("__key"),
        )
    )
    q_cap = max(1, broadcast_rows // len(flip_sets))
    if broadcast is None:
        n_q = n_queries if n_queries is not None else queries.limit(q_cap + 1).count()
        broadcast = n_q <= q_cap
    scored = (
        (F.broadcast(q) if broadcast else q)
        .join(c, "__key")
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def centroid_scores_vec(centroids: list[list[float]]):
    """Arrow-vectorized per-row scores against normalized centroids:
    one (batch × dim) @ (dim × cells) matmul, rounded to 6 places so the
    SQL oracle's sequential sums can never flip an argmax/tie-break."""
    C = np.array(centroids, dtype=np.float64)
    C = (C / np.linalg.norm(C, axis=1, keepdims=True)).T  # dim × cells

    @pandas_udf(ArrayType(DoubleType()))
    def scores(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.array(v.tolist(), dtype=np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-30)
        return pd.Series(list(np.round(M @ C, 6)))

    return scores


def ivf_centroids(
    corpus: DataFrame, n_cells: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic coarse quantizer: the ``n_cells`` corpus vectors with
    the smallest md5-derived hash of their id (a uniform pseudo-random
    sample both engines select identically — the IVF analog of k-means
    seeding, skipping the iterative refinement that would break
    cross-engine determinism).  One tiny driver-side job, like the
    reference's stats scan (`slice_db/dump.py:603-613`)."""
    from .hashing import hash64

    rows = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(hash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_cells)
        .collect()
    )
    return [list(r["v"]) for r in rows]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors are assigned to their nearest
    centroid cell (inverted file), queries probe their ``nprobe`` nearest
    cells, and only vectors in probed cells are scored exactly.

    The scale shape: assignment is one matmul per Arrow batch (pure map),
    candidate generation is an equi-join on the cell id — cells
    hash-partition evenly by construction (uniform pseudo-random
    centroids), so no cross join and no skew at any corpus size.  Recall
    is governed by nprobe/n_cells; the oracle is the same algorithm in
    SQL, as with :func:`lsh_topk`."""
    scores = centroid_scores_vec(centroids)

    c = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__cv"))
        .withColumn("__s", scores(F.col("__cv")))
        # argmax with first-index tie-break (matches the oracle's
        # list_position(s, list_max(s)))
        .withColumn("__cell", F.expr("array_position(__s, array_max(__s))").cast("int"))
        .drop("__s")
    )
    q = (
        queries.select(F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("__qv"))
        .withColumn("__s", scores(F.col("__qv")))
        .select(query_id_col, "__qv", F.posexplode("__s").alias("__i", "__score"))
    )
    w_probe = Window.partitionBy(query_id_col).orderBy(F.desc("__score"), F.asc("__i"))
    probes = (
        q.withColumn("__pr", F.row_number().over(w_probe))
        .where(F.col("__pr") <= nprobe)
        .select(query_id_col, "__qv", (F.col("__i") + 1).alias("__cell"))
    )
    scored = probes.join(c, "__cell").select(
        query_id_col,
        id_col,
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def embedding_near_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    planes: list[list[float]] | None = None,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) with
    id_a < id_b and cosine >= ``threshold`` (rounded to 6 places).

    ``planes=None`` scores every pair — O(n²), the correctness baseline
    for small corpora.  With ``planes``, banded hyperplane LSH blocks the
    search (the minhash-LSH band trick applied to sign signatures): the
    signature splits into ``bands`` groups and two vectors are candidates
    iff ANY band matches exactly, i.e. one narrow hash-shuffle join per
    band instead of a cross join — the plan that survives 100×, with
    recall 1-(1-p^r)^b, p = 1 - θ/π.  Approximate by design: the oracle
    is the same algorithm in SQL, as with :func:`lsh_topk`.

    Candidate volume scales as n²·(1/2)^r per band for unrelated vectors
    (r = planes/bands), so r is THE cost knob: r=4 verifies ~22% of all
    pairs (only acceptable for small corpora or low thresholds), r=8
    ~1.5%, r=16 ~0.006%.  For true near-duplicate thresholds (≥0.9,
    p≈0.86) r=8–16 keeps recall high while pruning hard; low thresholds
    fundamentally force low selectivity (an LSH limitation, not an
    implementation one).

    Verification cost: vectors are L2-normalized ONCE per row (O(n·dim))
    so each candidate pair pays a single interpreted dot product instead
    of dot + two norms — 3× less per-pair work, and the per-pair term is
    what dominates at low r.  The DuckDB oracles mirror the exact
    normalize-then-dot formula so 6-dp rounding agrees.
    """
    c = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("__r"))
        # materialize the norm BEFORE the transform: an interpreted HOF
        # re-evaluates its argument subtree per element, so an inline
        # aggregate here would cost O(dim²) per row
        .withColumn("__nrm", _norm(F.col("__r")))
        .select(
            F.col(id_col),
            F.transform(F.col("__r"), lambda x: x / F.col("__nrm")).alias("__v"),
        )
    )
    if planes is None:
        # self-join sides are separate subtrees (no exchange reuse):
        # checkpoint the normalized frame so the per-row norm+divide HOF
        # runs once, not once per side
        c = c.localCheckpoint(eager=True)
        a = c.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
        b = c.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        r = len(planes) // bands
        # materialize the signature as a column FIRST: referencing the raw
        # signature expression per band would copy its whole (planes × dim)
        # term tree into every band key and blow up the plan
        # ...and checkpoint (id, __v, __sig) — one row per vector — so the
        # interpreted normalize + planes×dim signature arithmetic runs
        # ONCE: the banded self-join's two sides are separate plan
        # subtrees that neither Catalyst nor AQE dedups
        sigd = c.withColumn("__sig", signature_vec(planes)(F.col("__v"))).localCheckpoint(
            eager=True
        )
        # (band, key) rows: key = the band's bits rendered as a string —
        # a short join key that hash-partitions evenly
        banded = sigd.select(
            F.col(id_col),
            F.col("__v"),
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            "",
                            *[
                                F.element_at(F.col("__sig"), bi * r + j + 1).cast("string")
                                for j in range(r)
                            ],
                        ).alias("key"),
                    )
                    for bi in range(bands)
                ])
            ).alias("__bk"),
        ).select(id_col, "__v", "__bk.band", "__bk.key")
        pairs = (
            banded.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), "band", "key")
            .join(
                banded.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), "band", "key"),
                ["band", "key"],
            )
            .where(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    return (
        pairs.select(
            "id_a", "id_b", F.round(_dot(F.col("__va"), F.col("__vb")), 6).alias("sim")
        )
        .where(F.col("sim") >= threshold)
    )


# ------------------------------------------------------ product quantization

#: fixed-point scale for PQ: embeddings quantize to round(x * SCALE) int64
#: BEFORE any distance math, so every downstream distance/argmin/sum is
#: exact integer arithmetic — bit-identical across engines and immune to
#: float-summation-order ties (numpy pairwise sums vs SQL sequential sums).
PQ_SCALE = 1000


def quantize_expr(vec_col: str):
    """array<bigint> fixed-point embedding: ``round(x * PQ_SCALE)`` per
    component (codegen; DuckDB mirrors the identical expression)."""
    return F.expr(
        f"transform({vec_col}, x -> CAST(round(CAST(x AS DOUBLE) * {PQ_SCALE}) AS BIGINT))"
    )


def pq_codebook(
    corpus: DataFrame,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    perm: list[int] | None = None,
    signs: list[int] | None = None,
    base: DataFrame | None = None,
) -> list[list[int]]:
    """Deterministic PQ codebook source: the ``n_codes`` corpus vectors
    with the smallest md5-derived id hash, QUANTIZED (the same md5-order
    sampling as :func:`ivf_centroids`, skipping k-means refinement for
    cross-engine determinism).  Returns ``n_codes`` full-dimension int
    vectors; subspace slicing happens at encode time, so one codebook
    serves every subspace (code j of subspace m = centroid j's m-th
    subvector).  With ``perm``/``signs`` (r10 — the OPQ rotation from
    :func:`opq_signed_permutation` trained with ``centroids=None``) the
    sampled vectors are stored ROTATED: the SAME rows are picked
    (sampling keys on the id, not the vector), but the codebook lives
    in the rotated space the encoder and ADC table will quantize in.
    ``base`` (r11): a caller-owned persisted ``(id, __e)`` quantized
    projection — the sampling reads it instead of re-scanning the
    corpus parquet."""
    from .hashing import hash64

    if base is not None:
        keyed = base.select(F.col(id_col), F.col("__e").alias("e"))
    else:
        keyed = corpus.select(F.col(id_col), quantize_expr(vec_col).alias("e"))
    if perm is not None:
        keyed = keyed.select(
            F.col(id_col), _rotate_expr("e", perm, signs).alias("e")
        )
    rows = (
        keyed.orderBy(hash64(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_codes)
        .collect()
    )
    return [list(r["e"]) for r in rows]


def _pq_subspace_codes(codebook: list[list[int]], m_subspaces: int) -> "np.ndarray":
    C = np.array(codebook, dtype=np.int64)  # n_codes × dim
    if C.shape[1] % m_subspaces:
        raise ValueError(f"dim {C.shape[1]} not divisible by {m_subspaces} subspaces")
    return C


def _pq_codes_vec(codebook: list[list[int]], m_subspaces: int):
    """Arrow-vectorized PQ encoder over a quantized-vector column —
    the nearest-codebook-subvector argmin of :func:`pq_encode`, exposed
    so composite chains (:func:`ivfpq_topk`) can compute codes in the
    SAME projection as the cell assignment instead of re-scanning the
    corpus and joining two derivations of the same row back together."""
    C = _pq_subspace_codes(codebook, m_subspaces)
    sub = C.shape[1] // m_subspaces

    @pandas_udf(ArrayType(IntegerType()))
    def codes_of(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.array(v.tolist(), dtype=np.int64)
        out = np.empty((M.shape[0], m_subspaces), dtype=np.int32)
        for m in range(m_subspaces):
            S = M[:, m * sub : (m + 1) * sub]
            Cm = C[:, m * sub : (m + 1) * sub]
            d = (
                (S * S).sum(axis=1, keepdims=True)
                + (Cm * Cm).sum(axis=1)[None, :]
                - 2 * (S @ Cm.T)
            )
            out[:, m] = np.argmin(d, axis=1)  # first-min tie-break
        return pd.Series(list(out))

    return codes_of


def pq_encode(
    corpus: DataFrame,
    codebook: list[list[int]],
    m_subspaces: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    perm: list[int] | None = None,
    signs: list[int] | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """PQ encoding: split each (quantized) vector into ``m_subspaces``
    subvectors and store, per subspace, the index of the nearest codebook
    subvector (L2, first-min tie-break).  Output exploded to
    ``(id, m, code)`` BIGINTs.

    This is THE memory-side ANN scale move: m codes of ≤1 byte replace
    dim × 4 raw bytes (64× compression at dim=64/m=4), so a 100 TB
    embedding corpus's codes fit hot storage and the ADC scan
    (:func:`pq_adc_topk`) never touches raw vectors.  Encoding is one
    int64 matmul per (Arrow batch × subspace) — exact arithmetic, no
    float ties.  With ``perm``/``signs`` each vector is OPQ-rotated
    (JVM-side, exact) before the subspace split — the codebook must
    come from :func:`pq_codebook` with the SAME rotation."""
    codes_of = _pq_codes_vec(codebook, m_subspaces)

    quant = (
        base
        if base is not None
        else corpus.select(F.col(id_col), quantize_expr(vec_col).alias("__e"))
    )
    if perm is not None:
        quant = quant.select(
            F.col(id_col), _rotate_expr("__e", perm, signs).alias("__e")
        )
    return (
        quant
        .select(F.col(id_col), F.posexplode(codes_of(F.col("__e"))).alias("m", "code"))
        .select(
            id_col, F.col("m").cast("bigint").alias("m"), F.col("code").cast("bigint").alias("code")
        )
    )


def _adc_dtable(
    queries: DataFrame,
    codebook: list[list[int]],
    m_subspaces: int,
    query_id_col: str,
    vec_col: str,
    perm: list[int] | None = None,
    signs: list[int] | None = None,
) -> DataFrame:
    """Per-query integer ADC distance table ``(q, m, code, __d)`` — tiny
    (|Q| × m × n_codes rows), broadcast by callers; ONE definition
    shared by the flat ADC scan (:func:`pq_adc_topk`) and the IVF-PQ
    composite (:func:`ivfpq_topk`)."""
    C = _pq_subspace_codes(codebook, m_subspaces)
    sub = C.shape[1] // m_subspaces

    @pandas_udf(ArrayType(ArrayType(DoubleType())))
    def dtable_of(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.array(v.tolist(), dtype=np.int64)
        out = []
        for row in M:
            t = np.empty((m_subspaces, C.shape[0]), dtype=np.int64)
            for m in range(m_subspaces):
                q = row[m * sub : (m + 1) * sub]
                Cm = C[:, m * sub : (m + 1) * sub]
                t[m] = ((Cm - q[None, :]) ** 2).sum(axis=1)
            out.append(t.astype(np.float64))
        return pd.Series(out)

    qq = queries.select(
        F.col(query_id_col), quantize_expr(vec_col).alias("__e")
    )
    if perm is not None:
        qq = qq.select(
            F.col(query_id_col), _rotate_expr("__e", perm, signs).alias("__e")
        )
    return (
        qq
        .select(F.col(query_id_col), F.posexplode(dtable_of(F.col("__e"))).alias("m", "__row"))
        .select(
            query_id_col,
            F.col("m").cast("bigint").alias("m"),
            F.posexplode("__row").alias("__j", "__d"),
        )
        .select(
            query_id_col,
            "m",
            F.col("__j").cast("bigint").alias("code"),
            F.col("__d").cast("bigint").alias("__d"),
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: list[list[int]],
    m_subspaces: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    perm: list[int] | None = None,
    signs: list[int] | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: each query precomputes a
    (subspace × code) integer distance table; a corpus vector's
    approximate distance is the SUM of m table lookups on its codes —
    no raw vectors are read during the scan.  With ``perm``/``signs``
    the whole chain runs in the OPQ-rotated space (r10): corpus encode,
    codebook, and query table all rotate with the SAME exact
    signed-permutation, so ADC distances approximate true L2 better
    while staying int64 (rotation is an isometry — exact distances are
    unchanged, only the subspace split improves).

    Scale shape: the distance table is |Q| × m × n_codes rows — tiny —
    and broadcasts; the scan is one map-side hash join (codes ⋈ table on
    (q, m, code)) + one partially-aggregating sum keyed by (q, id).  All
    distances are exact int64 (quantized inputs), so ranking is
    deterministic with an id tie-break.  Output
    ``(q_id, vec_id, adist, rank)``."""
    codes = pq_encode(
        corpus, codebook, m_subspaces, id_col=id_col, vec_col=vec_col,
        perm=perm, signs=signs, base=base,
    )
    dt = _adc_dtable(
        queries, codebook, m_subspaces, query_id_col, vec_col,
        perm=perm, signs=signs,
    )
    scored = (
        codes.join(F.broadcast(dt), on=["m", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__d").alias("adist"))
    )
    return _topk_rank(scored, "adist", False, k, id_col, query_id_col)


# --------------------------------------------------- scalar quantization
# SQ8 (r11): the OTHER classic memory-side ANN compression (FAISS's
# ScalarQuantizer) — per-DIMENSION uint8 codes instead of PQ's per-
# subspace centroids.  One corpus scan trains the quantizer (per-dim
# min/max, map-side partial aggregation — 2·dim scalar aggregates, no
# shuffle of vector rows); codes are 1 byte/dim (dim·8 bits vs PQ's
# m·log2(n_codes) — coarser compression, zero training beyond min/max,
# and NO codebook drift under appends, the operational case SQ exists
# for).  Everything stays exact int64 on the PQ_SCALE fixed-point
# vectors, so the DuckDB oracle replays the full chain: code =
# ((x − vmin)·255) div span (floor; x spans [vmin, vmax] so codes span
# [0, 255] with no clamp), dequantization works in the ×255 integer
# space (recon255 = 255·vmin + code·span), and the asymmetric distance
# is Σ_d (255·q_d − recon255_d)² — exact integers end to end.

#: SQ8 quantization levels (codes 0..255)
SQ8_LEVELS = 255


def sq8_minmax(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    base: DataFrame | None = None,
) -> tuple[list[int], list[int]]:
    """Train the SQ8 quantizer: per-dimension ``(vmin, span)`` of the
    fixed-point corpus in ONE scan — ``2·dim`` scalar min/max
    aggregates, all map-side partial (the reduce state is KB-sized, no
    vector shuffle).  ``span`` floors at 1 so a constant dimension
    quantizes to code 0 instead of dividing by zero.  ``base`` (r11):
    a caller-owned persisted ``(id, __e)`` quantized projection —
    the dim probe and the min/max scan read the cache instead of the
    corpus parquet."""
    if base is not None:
        q = base.select("__e")
        dim = len(q.first()[0])
    else:
        dim = len(corpus.select(vec_col).first()[0])
        q = corpus.select(quantize_expr(vec_col).alias("__e"))
    aggs = []
    for d in range(dim):
        aggs.append(F.min(F.col("__e")[d]).alias(f"__mn{d}"))
        aggs.append(F.max(F.col("__e")[d]).alias(f"__mx{d}"))
    row = q.agg(*aggs).collect()[0]
    vmin = [int(row[f"__mn{d}"]) for d in range(dim)]
    span = [max(int(row[f"__mx{d}"]) - vmin[d], 1) for d in range(dim)]
    return vmin, span


def _sq8_param_arrays(vmin: list[int], span: list[int]):
    vm = F.array(*[F.lit(int(v)) for v in vmin])
    sp = F.array(*[F.lit(int(s)) for s in span])
    return vm, sp


def _sq8_codes_array(vmin: list[int], span: list[int], quant_col: str = "__e"):
    """array<bigint> SQ8 codes of a quantized-vector column — one
    indexed ``transform`` (codegen).  Codes CLAMP to [0, 255]: vectors
    inside the training range are unaffected (the affine maps [vmin,
    vmax] onto [0, 255] exactly), and APPENDED vectors outside it
    saturate instead of escaping the code space — the standard SQ
    append contract between retrains."""
    vm = "array(" + ",".join(str(int(v)) for v in vmin) + ")"
    sp = "array(" + ",".join(str(int(s)) for s in span) + ")"
    return F.expr(
        f"transform({quant_col}, (x, i) -> greatest(CAST(0 AS BIGINT),"
        f" least(CAST({SQ8_LEVELS} AS BIGINT),"
        f" CAST((x - element_at({vm}, i + 1)) * {SQ8_LEVELS} AS BIGINT)"
        f" div element_at({sp}, i + 1))))"
    )


def sq8_encode(
    corpus: DataFrame,
    vmin: list[int],
    span: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    base: DataFrame | None = None,
) -> DataFrame:
    """SQ8 encoding → one ``(id, d, code)`` row per dimension (the PQ
    ``(id, m, code)`` shape, so the ADC join plan is identical).  All
    codegen: quantize, per-dim affine, integer division — no Python in
    the scan.  ``base`` (r11): caller-owned persisted ``(id, __e)``."""
    src = (
        base
        if base is not None
        else corpus.select(F.col(id_col), quantize_expr(vec_col).alias("__e"))
    )
    return src.select(
        F.col(id_col),
        F.posexplode(_sq8_codes_array(vmin, span)).alias("d", "code"),
    )


def sq8_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vmin: list[int],
    span: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    base: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over SQ8 codes: each query precomputes
    a (dimension × 256-code) integer distance table — ``dim·256`` rows
    per query, KB-sized, broadcast — and a corpus vector's approximate
    squared L2 is the sum of ``dim`` lookups on its codes.  Same scale
    shape as :func:`pq_adc_topk` (map-side broadcast hash join +
    partially-aggregating sum keyed by (q, id)); distances are exact
    int64 in the ×255 space, so ranking is deterministic with an id
    tie-break.  Output ``(q_id, vec_id, adist, rank)``."""
    codes = sq8_encode(
        corpus, vmin, span, id_col=id_col, vec_col=vec_col, base=base
    )
    dt = _sq8_dtable(queries, vmin, span, query_id_col, vec_col)
    return _sq8_rank(codes, dt, k, id_col, query_id_col)


def _sq8_dtable(
    queries: DataFrame, vmin: list[int], span: list[int],
    query_id_col: str, vec_col: str,
) -> DataFrame:
    """Per-query SQ8 ADC table: (q, d, code 0..255, exact ×255-space
    squared distance) — dim·256 rows per query, broadcast-sized."""
    vm, sp = _sq8_param_arrays(vmin, span)
    return (
        queries.select(
            F.col(query_id_col),
            F.posexplode(quantize_expr(vec_col)).alias("d", "__qx"),
            vm.alias("__vm"), sp.alias("__sp"),
        )
        .select(
            F.col(query_id_col), F.col("d"), "__qx", "__vm", "__sp",
            F.explode(F.sequence(F.lit(0), F.lit(SQ8_LEVELS))).alias("code"),
        )
        .select(
            F.col(query_id_col), F.col("d"),
            F.col("code").cast("bigint").alias("code"),
            F.expr(
                f"({SQ8_LEVELS} * __qx"
                f" - ({SQ8_LEVELS} * element_at(__vm, d + 1)"
                f"    + code * element_at(__sp, d + 1)))"
                f" * ({SQ8_LEVELS} * __qx"
                f"    - ({SQ8_LEVELS} * element_at(__vm, d + 1)"
                f"       + code * element_at(__sp, d + 1)))"
            ).alias("__d"),
        )
    )


def _sq8_rank(
    codes: DataFrame, dt: DataFrame, k: int, id_col: str, query_id_col: str,
    join_keys: tuple = ("d", "code"),
) -> DataFrame:
    """Shared SQ8 scoring: broadcast-hash-join the ADC table onto the
    (id, d, code) rows, partially-aggregating sum keyed by (q, id),
    deterministic id tie-break.  Its users are :func:`sq8_adc_topk`
    (and through it the :func:`sq8_refined_topk` shortlist),
    :func:`probe_sq8_index` and, with ``join_keys`` carrying the query
    id, :func:`ivfsq8_topk` — one plan, so the bit-parity / tie-break
    contract lives in a single place."""
    scored = (
        codes.withColumn("code", F.col("code").cast("bigint"))
        .join(F.broadcast(dt), on=list(join_keys))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__d").alias("adist"))
    )
    return _topk_rank(scored, "adist", False, k, id_col, query_id_col)


def _topk_rank(
    scored: DataFrame, score_col: str, descending: bool, k: int,
    id_col: str, query_id_col: str,
) -> DataFrame:
    """The ONE rank tail of the integer ANN chains: window by query,
    order by the score (id tie-break), keep k, cast rank.  Its users
    are :func:`_sq8_rank`, :func:`pq_adc_topk`, :func:`ivfpq_topk`,
    :func:`_ivf_score` and :func:`_ivfpq_refined_score` (the ADC
    k′ shortlist) and :func:`_exact_rerank`.  The cosine family ranks by
    ``sim`` with an int rank and keeps its own tails."""
    order = F.desc(score_col) if descending else F.asc(score_col)
    w = Window.partitionBy(query_id_col).orderBy(order, F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            query_id_col, id_col, score_col,
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def _int_dot():
    """Exact int64 dot product of the query ``__qe`` and row ``__e``
    quantized vectors — the score of the IVF chains and of every exact
    re-rank."""
    return F.aggregate(
        F.zip_with("__qe", "__e", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )


def _exact_rerank(
    rows: DataFrame, shortlist: DataFrame, queries: DataFrame, k: int,
    id_col: str, vec_col: str, query_id_col: str,
) -> DataFrame:
    """Refine stage of the two-stage chains: broadcast the ``|Q| × k′``
    ``(q, id)`` shortlist into the ``(id, __e)`` rows (a semi-join-pruned
    vector fetch) and rank by the exact integer dot, descending."""
    qvec = queries.select(
        F.col(query_id_col), quantize_expr(vec_col).alias("__qe")
    )
    rr = (
        rows.join(F.broadcast(shortlist), id_col)
        .join(F.broadcast(qvec), query_id_col)
        .select(query_id_col, id_col, _int_dot().alias("dot"))
    )
    return _topk_rank(rr, "dot", True, k, id_col, query_id_col)


def sq8_refined_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vmin: list[int],
    span: list[int],
    k: int = 5,
    k_prime: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    base: DataFrame | None = None,
) -> DataFrame:
    """REFINED SQ8 — the FAISS two-stage recipe on the scalar-quantized
    chain (r11, the SQ analog of :func:`ivfpq_refined_topk`'s re-rank):
    the top-``k_prime`` ADC candidates from :func:`sq8_adc_topk` are
    RE-RANKED by the exact integer dot product of the raw quantized
    vectors.  Within the shortlist, quantizer rounding can no longer
    flip the ordering; the shortlist itself remains ADC-selected
    (squared-L2 in the ×255 space), so — exactly like the FAISS
    refine stage it mirrors — a vector the ADC metric ranks outside
    ``k_prime`` stays pruned even if its exact dot is top-k.  The
    re-rank output is pruned to ``|Q| × k_prime`` rows by a broadcast
    semi-join; the fetch still SCANS the corpus once more to
    re-quantize the shortlisted vectors (two corpus passes total —
    cache the corpus upstream when probing repeatedly).  Exact int64
    end to end; output ``(q_id, vec_id, dot, rank)`` — exact-dot
    descending, id tie-break."""
    shortlist = sq8_adc_topk(
        corpus, queries, vmin, span, k=k_prime,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        base=base,
    ).select(query_id_col, id_col)
    corpus_q = (
        base
        if base is not None
        else corpus.select(F.col(id_col), quantize_expr(vec_col).alias("__e"))
    )
    return _exact_rerank(
        corpus_q, shortlist, queries, k, id_col, vec_col, query_id_col
    )


def ivfsq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    vmin: list[int],
    span: list[int],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    base: DataFrame | None = None,
) -> DataFrame:
    """IVF,SQ8 composite top-k (r11) — the remaining cell of the
    quantization matrix ({flat, IVF} × {PQ, SQ}, the FAISS
    ``IVF<n>,SQ8`` shape): the Lloyd coarse quantizer prunes the SCAN
    VOLUME to each query's ``nprobe`` nearest cells, SQ8 codes prune
    the BYTES/VECTOR inside them — candidates are the probed cells'
    code rows, ranked by the same exact ×255-space integer ADC as
    :func:`sq8_adc_topk` (broadcast dim×256 table per query, id
    tie-break).  Everything stays exact int64 (quantized vectors,
    integer L2 cell assignment, integer ADC), so the DuckDB oracle
    replays assignment → min/max → codes → probes → ADC verbatim.
    Output ``(q_id, vec_id, adist, rank)``."""
    corpus_q = (
        base
        if base is not None
        else corpus.select(F.col(id_col), quantize_expr(vec_col).alias("__e"))
    )
    codes = _assign_cells_int(corpus_q, centroids).select(
        F.col(id_col), F.col("__cell"),
        F.posexplode(_sq8_codes_array(vmin, span)).alias("d", "code"),
    )
    probes = _probe_cells(
        queries, centroids, nprobe, query_id_col, vec_col
    ).select(query_id_col, "__cell")
    dt = _sq8_dtable(queries, vmin, span, query_id_col, vec_col)
    candidates = codes.join(F.broadcast(probes), "__cell")
    return _sq8_rank(
        candidates, dt, k, id_col, query_id_col,
        join_keys=(query_id_col, "d", "code"),
    )


def build_sq8_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train and materialize the persisted SQ8 index: ``meta.json``
    (per-dimension vmin/span — the ENTIRE quantizer, driver-side bytes)
    and ``codes/`` parquet holding one ``(id, array<code>)`` row per
    vector — dim bytes of signal per row, no raw vectors.  Same
    crash-safe staging + ``_SUCCESS`` + atomic-swap discipline as the
    other persisted builders (a plain overwrite would destroy the live
    index a production probe serves from).  Returns the meta dict."""
    import json
    import os
    import shutil

    from ..sources.atomic import swap_dir

    # r11: one persisted quantized projection serves the min/max
    # training scan AND the code write (previously two corpus scans)
    base = corpus.select(
        F.col(id_col), quantize_expr(vec_col).alias("__e")
    ).persist()
    try:
        vmin, span = sq8_minmax(corpus, id_col=id_col, vec_col=vec_col, base=base)
        rows = base.select(
            F.col(id_col), _sq8_codes_array(vmin, span).alias("__codes")
        )
        path = os.path.normpath(path)
        staging = path + ".staging"
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        os.makedirs(staging)
        rows.write.mode("overwrite").parquet(os.path.join(staging, "codes"))
    finally:
        base.unpersist()
    meta = {"vmin": vmin, "span": span}
    with open(os.path.join(staging, "meta.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(staging, "_SUCCESS"), "w"):
        pass
    swap_dir(path)
    return meta


def probe_sq8_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Top-k search against a persisted SQ8 index — reads the quantizer
    from ``meta.json`` (bytes), unrolls the stored code arrays, and
    runs the IDENTICAL broadcast-ADC ranking as :func:`sq8_adc_topk`
    (bit-parity pinned).  SQ8 is the sequential-scan compression: no
    cells to prune, the scan reads dim-byte codes instead of raw
    vectors — the bytes/vector lever, complementing IVF's
    scan-volume lever."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    codes = (
        spark.read.parquet(os.path.join(path, "codes"))
        .select(F.col(id_col), F.posexplode("__codes").alias("d", "code"))
    )
    dt = _sq8_dtable(queries, meta["vmin"], meta["span"], query_id_col, vec_col)
    return _sq8_rank(codes, dt, k, id_col, query_id_col)


def append_sq8_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental SQ8 maintenance: encode NEW vectors with the
    persisted ``meta.json`` quantizer (nothing retrains — min/max of
    the union only widens, and out-of-range arrivals SATURATE at codes
    0/255 per the shared clamp, the standard SQ contract between
    retrains) and append their code rows.  Probes see them immediately,
    bit-identically to :func:`sq8_adc_topk` over the union corpus with
    the frozen quantizer.  Same writer-lease + recover discipline as
    the other appenders."""
    import json
    import os

    from ..sources.atomic import dir_lock, recover_dir

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    rows = new_vectors.select(
        F.col(id_col), quantize_expr(vec_col).alias("__e")
    ).select(
        F.col(id_col),
        _sq8_codes_array(meta["vmin"], meta["span"]).alias("__codes"),
    )
    codes_dir = os.path.join(path, "codes")
    with dir_lock(codes_dir) as lease:
        recover_dir(codes_dir)
        lease.check()
        rows.write.mode("append").parquet(codes_dir)


def compact_sq8_index(spark, path: str, target_file_bytes: int = 128 << 20) -> dict:
    """Maintenance for the persisted SQ8 index: rewrite the append-heavy
    ``codes/`` dir to size-targeted files, dropping replay-duplicated
    rows; ``meta.json`` lives outside and is untouched by the swap."""
    import os

    from ..plans.scale import _compact_dir

    return _compact_dir(
        spark, os.path.join(path, "codes"), target_file_bytes, [],
        lambda df: df.dropDuplicates(),
    )


# --------------------------------------------------------- k-means IVF
# Lloyd-refined coarse quantizer, entirely in PQ_SCALE fixed-point int64 so
# the DuckDB oracle replays it exactly: assignment is integer squared-L2
# argmin (first-min tie-break), the update is a floor-divided integer mean
# (sums are exact, the double division of two exact ints is IEEE-identical
# in both engines), and empty cells keep their previous centroid.  On
# clustered data (the real workload) the refined cells follow the clusters,
# so nprobe probes recover what md5-sampled cells miss.


def _cell_l2_vec(centroids: list[list[int]]):
    """Arrow-vectorized integer squared-L2 distances of each (quantized)
    row vector to every centroid — exact int64, no float ties."""
    C = np.array(centroids, dtype=np.int64)  # cells × dim

    @pandas_udf(ArrayType(LongType()))
    def dists(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.array(v.tolist(), dtype=np.int64)
        d = (
            (M * M).sum(axis=1, keepdims=True)
            + (C * C).sum(axis=1)[None, :]
            - 2 * (M @ C.T)
        )
        return pd.Series(list(d))

    return dists


def _assign_cells_int(corpus_q: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Add 1-based ``__cell`` (nearest centroid, integer L2, first-min
    tie-break) to a quantized corpus (``__e`` column)."""
    dists = _cell_l2_vec(centroids)
    return (
        corpus_q.withColumn("__d", dists(F.col("__e")))
        .withColumn("__cell", F.expr("array_position(__d, array_min(__d))").cast("int"))
        .drop("__d")
    )


def _probe_cells(
    queries: DataFrame, centroids: list[list[int]], nprobe: int,
    query_id_col: str, vec_col: str,
) -> DataFrame:
    """Each query's ``nprobe`` nearest cells as ``(q, __qe, __cell)``:
    integer squared-L2 to every centroid, ranked with a cell-index
    tie-break, 1-based ``__cell`` like :func:`_assign_cells_int`.  The
    one cell probe of every IVF chain and persisted-index probe."""
    dists = _cell_l2_vec(centroids)
    q = (
        queries.select(F.col(query_id_col), quantize_expr(vec_col).alias("__qe"))
        .withColumn("__d", dists(F.col("__qe")))
        .select(query_id_col, "__qe", F.posexplode("__d").alias("__i", "__dist"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("__dist"), F.asc("__i"))
    return (
        q.withColumn("__pr", F.row_number().over(w))
        .where(F.col("__pr") <= nprobe)
        .select(query_id_col, "__qe", (F.col("__i") + 1).alias("__cell"))
    )


def ivf_centroids_kmeans(
    corpus: DataFrame,
    n_cells: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    base: DataFrame | None = None,
) -> list[list[int]]:
    """Fixed-iteration Lloyd refinement of the md5-sampled seeds, in
    PQ_SCALE fixed-point (quantized centroids, integer assignment,
    floor-divided integer means) so the refinement is bit-reproducible in
    any engine.  Each iteration is two narrow distributed jobs: an
    assignment map and a (cell, dim) partial-aggregating sum — the
    collected state is ``n_cells × dim`` ints, never corpus-sized.

    ``base`` (r11): a caller-owned ``(id, __e)`` quantized projection,
    already persisted, shared with the rest of the caller's chain (OPQ
    training, codebook sampling, encode) so the whole query quantizes
    and scans the corpus once instead of once per stage.  The caller
    keeps lifecycle responsibility; results are bit-identical."""
    from .hashing import hash64

    # ONE quantized projection persisted across the seed scan and every
    # Lloyd iteration — the earlier shape re-read the parquet and re-ran
    # quantize_expr per iteration (seed + iters + 1 scans); with the cache
    # the corpus is scanned once
    own_base = base is None
    if own_base:
        base = corpus.select(
            F.col(id_col), quantize_expr(vec_col).alias("__e")
        ).persist()
    try:
        seeds = (
            base.orderBy(hash64(F.col(id_col).cast("string")), F.col(id_col))
            .limit(n_cells)
            .collect()
        )
        cents = [list(r["__e"]) for r in seeds]
        if not cents:
            return cents
        dim = len(cents[0])
        quant = base.select("__e")
        for _ in range(max(0, iters)):
            assigned = _assign_cells_int(quant, cents)
            sums = (
                assigned.select("__cell", F.posexplode("__e").alias("__i", "__x"))
                .groupBy("__cell", "__i")
                .agg(F.sum("__x").alias("__s"), F.count("*").alias("__n"))
                .collect()
            )
            by_cell: dict[int, list[int]] = {}
            counts: dict[int, int] = {}
            for r in sums:
                by_cell.setdefault(r["__cell"], [0] * dim)[r["__i"]] = r["__s"]
                counts[r["__cell"]] = r["__n"]
            cents = [
                [
                    int(np.floor(by_cell[ci + 1][i] / counts[ci + 1]))
                    for i in range(dim)
                ]
                if (ci + 1) in by_cell
                else cents[ci]  # empty cell keeps its previous centroid
                for ci in range(len(cents))
            ]
    finally:
        if own_base:
            base.unpersist()
    return cents


def ivf_topk_kmeans(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    base: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k over k-means-refined integer centroids: corpus vectors
    assign to their L2-nearest cell, queries probe their ``nprobe``
    nearest cells, candidates rank by EXACT integer dot product of the
    quantized vectors (descending, id tie-break) — every comparison is
    int64, so no cross-engine float tie can flip a rank.  Same scale
    shape as :func:`ivf_topk`: map-side assignment, equi-join on the cell
    id, per-query top-k.  ``base`` (r11): caller-owned persisted
    ``(id, __e)`` shared with the trainer."""
    if base is None:
        base = corpus.select(F.col(id_col), quantize_expr(vec_col).alias("__e"))
    return _ivf_score(
        _assign_cells_int(base, centroids), queries, centroids, k, nprobe,
        id_col, vec_col, query_id_col,
    )


def _ivf_score(
    rows: DataFrame, queries: DataFrame, centroids: list[list[int]],
    k: int, nprobe: int, id_col: str, vec_col: str, query_id_col: str,
) -> DataFrame:
    """The IVF scorer over ``(id, __e, __cell)`` index rows: probe the
    ``nprobe`` nearest cells, equi-join on the cell id (a persisted
    ``__cell``-partitioned read prunes the unprobed partitions), rank by
    exact integer dot.  :func:`ivf_topk_kmeans` feeds rows assigned in
    memory, :func:`probe_ivf_index` the persisted cells."""
    probes = _probe_cells(queries, centroids, nprobe, query_id_col, vec_col)
    scored = probes.join(rows, "__cell").select(
        query_id_col, id_col, _int_dot().alias("dot")
    )
    return _topk_rank(scored, "dot", True, k, id_col, query_id_col)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    codebook: list[list[int]],
    m_subspaces: int = 4,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    perm: list[int] | None = None,
    signs: list[int] | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ composite ANN — the production shape (FAISS's IVFPQ): the
    coarse quantizer prunes the scan to each query's ``nprobe`` nearest
    cells, and WITHIN those cells the ranking is the asymmetric-distance
    PQ scan — codes only, no raw vectors read.  At 100 TB this is the
    pairing that works: IVF bounds the scan volume (nprobe/cells of the
    corpus), PQ bounds the bytes per scanned vector (m codes vs dim×4),
    and the two costs multiply.

    Everything stays exact int64 (quantized inputs, integer L2 cell
    assignment with first-min tie-break, integer ADC tables), so ranks
    are deterministic and the DuckDB oracle replays them bit-for-bit.
    Output ``(q_id, vec_id, adist, rank)`` — ascending approximate
    distance, id tie-break.  With ``perm``/``signs`` (r10) the PQ side
    runs OPQ-rotated (encode + codebook + query tables in lockstep,
    like :func:`pq_adc_topk`) while cell assignment stays on the raw
    quantized vectors — rotation is an isometry, so rotating the coarse
    quantizer too would change nothing but the constant factor.

    r11 (optimization): cell assignment and PQ codes are two functions
    of the SAME corpus row, so they are computed in ONE projection over
    one scan — the earlier shape derived them as two independent
    subtrees (two corpus scans) and equi-joined them back on the id,
    a corpus-sized shuffle that moved no information.  ``base``: a
    caller-owned (persisted) ``(id, __e)`` quantized projection shared
    with the rest of the caller's chain."""
    codes_of = _pq_codes_vec(codebook, m_subspaces)
    enc_col = F.col("__e")
    if perm is not None:
        enc_col = _rotate_expr("__e", perm, signs)
    if base is None:
        base = corpus.select(F.col(id_col), quantize_expr(vec_col).alias("__e"))
    cand_rows = _assign_cells_int(
        base,
        centroids,
    ).select(
        F.col(id_col),
        "__cell",
        F.posexplode(codes_of(enc_col)).alias("m", "code"),
    ).select(
        id_col,
        "__cell",
        F.col("m").cast("bigint").alias("m"),
        F.col("code").cast("bigint").alias("code"),
    )
    probes = _probe_cells(
        queries, centroids, nprobe, query_id_col, vec_col
    ).select(query_id_col, "__cell")
    dt = _adc_dtable(
        queries, codebook, m_subspaces, query_id_col, vec_col,
        perm=perm, signs=signs,
    )
    cand = cand_rows.join(F.broadcast(probes), "__cell")
    scored = (
        cand.join(F.broadcast(dt), on=[query_id_col, "m", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__d").alias("adist"))
    )
    return _topk_rank(scored, "adist", False, k, id_col, query_id_col)


def _centroid_lookup_expr(centroids: list[list[int]]):
    """Array-literal centroid table indexed by the 1-based ``__cell``
    column — a JVM-side lookup (no join, no Python) for residual
    computation; cells × dim literals stay tiny (metadata-sized)."""
    table = F.array(
        *[F.array(*[F.lit(int(x)) for x in cv]) for cv in centroids]
    )
    return F.element_at(table, F.col("__cell"))


def _rotate_expr(col: str, perm: list[int], signs: list[int]):
    """JVM-side signed-permutation rotation of an integer array column:
    ``y[r] = signs[r] · x[perm[r]]`` — an ORTHOGONAL matrix whose
    entries are ±1/0, so the rotation is exact in int64 and replays
    verbatim in the DuckDB oracle (the property a real-valued OPQ
    rotation could never have cross-engine)."""
    return F.array(
        *[
            (F.col(col)[perm[r]] * F.lit(int(signs[r]))).cast("long")
            for r in range(len(perm))
        ]
    )


def _greedy_signed_permutation(D) -> tuple[list[int], list[int]]:
    """Procrustes restricted to SIGNED PERMUTATIONS: maximize
    ``Σ_r s[r] · D[r, perm[r]]`` by greedy extraction — repeatedly take
    the largest ``|D[r, c]|`` over unused rows/cols (ties: row, then
    col; sign +1 on D ≥ 0).  Scanning one global (|v| desc, r, c) order
    and skipping used rows/cols picks exactly the same entries as the
    step-by-step argmax, which is how the SQL oracle unrolls it."""
    dim = D.shape[0]
    perm = [0] * dim
    signs = [1] * dim
    used_r: set[int] = set()
    used_c: set[int] = set()
    order = sorted(
        ((abs(int(D[r, c])), r, c) for r in range(dim) for c in range(dim)),
        key=lambda t: (-t[0], t[1], t[2]),
    )
    for _, r, c in order:
        if r in used_r or c in used_c:
            continue
        perm[r] = c
        signs[r] = 1 if int(D[r, c]) >= 0 else -1
        used_r.add(r)
        used_c.add(c)
        if len(used_r) == dim:
            break
    return perm, signs


def _residuals_frame(
    corpus: DataFrame,
    centroids: list[list[int]],
    id_col: str,
    vec_col: str,
    base: DataFrame | None = None,
    full: bool = False,
) -> DataFrame:
    """(id, __r) IVF residuals — the shared front end of the residual
    codebook sampling and the OPQ trainer.  ``base`` substitutes a
    caller-persisted ``(id, __e)`` quantized projection for the corpus
    re-scan; ``full=True`` keeps ``__e``/``__cell`` alongside ``__r`` so
    ONE materialization can feed the trainer, the codebook sampler, the
    encoder, and the exact re-rank (r11)."""
    src = (
        base
        if base is not None
        else corpus.select(F.col(id_col), quantize_expr(vec_col).alias("__e"))
    )
    out = _assign_cells_int(src, centroids).withColumn(
        "__r",
        F.zip_with(
            F.col("__e"), _centroid_lookup_expr(centroids),
            lambda a, b: a - b,
        ),
    )
    return out if full else out.select(id_col, "__r")


def assigned_residuals(
    corpus: DataFrame,
    centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    base: DataFrame | None = None,
) -> DataFrame:
    """Public full ``(id, __e, __cell, __r)`` assigned-residual frame
    (r11) — the one materialization a residual-PQ chain needs: persist
    it once and hand it to :func:`opq_signed_permutation`
    (``residuals=``), :func:`residual_codebooks` (``residuals=``) and
    :func:`ivfpq_refined_topk` (``assigned=``), so training, sampling,
    encode and the exact re-rank all read one cached frame instead of
    four corpus scans re-running the cell-assignment UDF."""
    return _residuals_frame(
        corpus, centroids, id_col, vec_col, base=base, full=True
    )


def opq_signed_permutation(
    corpus: DataFrame,
    centroids: list[list[int]] | None,
    m_subspaces: int = 4,
    n_codes: int = 16,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residuals: DataFrame | None = None,
) -> tuple[list[int], list[int]]:
    """OPQ rotation for the PQ stack (Ge et al.'s non-parametric loop,
    restricted to the HYPEROCTAHEDRAL group so every step is exact
    int64): alternate (1) ASSIGNMENT — sample per-subspace codebooks
    from the currently-rotated residuals and encode every corpus
    residual to its reconstruction — with (2) ROTATION — solve the
    Procrustes problem ``min_R Σ‖R·x − x̂‖²`` over signed permutations,
    which reduces to greedy extraction on the cross-covariance
    ``D[r, c] = Σ_i x̂_i[r] · x_i[c]`` (:func:`_greedy_signed_permutation`).
    Deterministic init = identity; each round re-solves R against the
    ORIGINAL residuals (not composed), so the oracle unrolls the rounds
    as independent chains.

    ``centroids=None`` (r10) trains the rotation for the FLAT PQ stack:
    the "residual" is the quantized vector itself (centroid ≡ 0), so
    the learned rotation feeds :func:`pq_codebook`/:func:`pq_encode`/
    :func:`pq_adc_topk` instead of the residual chain — the same loop,
    one fewer subtraction.

    Scale shape: per round, one corpus scan for the Arrow-batched
    encode+partial-D (map-side 64×64 int sums, driver-summed — KB-sized
    like the centroid fetches) plus ONE codebook-sampling scan covering
    all m subspaces (fused in r10 — previously m TakeOrdered jobs per
    round re-read the spilled residual frame).  Returns ``(perm,
    signs)`` for :func:`_rotate_expr`.

    ``residuals`` (r11): a caller-owned, already-persisted residual
    frame carrying ``(id, __r)`` (extra columns ignored) — the trainer
    skips building and persisting its own, so one materialization can
    be shared with the downstream codebook sampling and encode.  The
    caller keeps lifecycle responsibility."""
    import numpy as np

    from pyspark.sql.types import ArrayType as _AT, LongType as _LT
    from pyspark.sql.types import StructField as _SF, StructType as _ST

    own_res = residuals is None
    if not own_res:
        res = residuals
    elif centroids is None:
        res = corpus.select(
            F.col(id_col), quantize_expr(vec_col).alias("__r")
        ).persist()
    else:
        res = _residuals_frame(corpus, centroids, id_col, vec_col).persist()
    try:
        if centroids is not None:
            dim = len(centroids[0])
        else:
            first = res.select("__r").first()
            if first is None:
                raise ValueError(
                    "opq_signed_permutation: empty corpus — nothing to "
                    "train the rotation on"
                )
            dim = len(first["__r"])
        if dim % m_subspaces:
            raise ValueError(
                f"dim {dim} not divisible by {m_subspaces} subspaces"
            )
        sub = dim // m_subspaces
        perm = list(range(dim))
        signs = [1] * dim
        for _ in range(rounds):
            rot = res.select(
                F.col(id_col),
                F.col("__r").alias("__x"),
                _rotate_expr("__r", perm, signs).alias("__y"),
            )
            cbs = _sample_subspace_codebooks(
                rot.select(id_col, F.col("__y").alias("__r")),
                m_subspaces, n_codes, sub, id_col,
            )
            CBS = [np.array(cb, dtype=np.int64) for cb in cbs]

            def dsum(batches, _CBS=CBS, _m=m_subspaces, _sub=sub, _dim=dim):
                total = np.zeros((_dim, _dim), dtype=np.int64)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.array(pdf["__x"].tolist(), dtype=np.int64)
                    Y = np.array(pdf["__y"].tolist(), dtype=np.int64)
                    R = np.empty_like(Y)
                    for m in range(_m):
                        S = Y[:, m * _sub : (m + 1) * _sub]
                        Cm = _CBS[m]
                        d = (
                            (S * S).sum(axis=1, keepdims=True)
                            + (Cm * Cm).sum(axis=1)[None, :]
                            - 2 * (S @ Cm.T)
                        )
                        R[:, m * _sub : (m + 1) * _sub] = Cm[
                            np.argmin(d, axis=1)
                        ]
                    total += R.T @ X
                yield pd.DataFrame({"d": [total.ravel().tolist()]})

            partials = rot.mapInPandas(
                dsum, schema=_ST([_SF("d", _AT(_LT()))])
            ).collect()
            D = np.zeros((dim, dim), dtype=np.int64)
            for row in partials:
                D += np.array(row["d"], dtype=np.int64).reshape(dim, dim)
            perm, signs = _greedy_signed_permutation(D)
        return perm, signs
    finally:
        if own_res:
            res.unpersist()


def _sample_subspace_codebooks(
    res: DataFrame, m_subspaces: int, n_codes: int, sub: int, id_col: str
) -> list[list[list[int]]]:
    """Per-subspace md5-order sampling of residual subvectors from a
    ``(id, __r)`` frame — the codebook construction of
    :func:`residual_codebooks`, shared with the OPQ trainer (which
    feeds it ROTATED residuals).

    ONE scan for all m codebooks (r10): the previous shape ran one
    ``orderBy(hash).limit(n_codes)`` job per subspace — m × rounds
    TakeOrdered passes over a residual frame that spills (= re-reads)
    at corpus scale.  Now every partition keeps m running
    ``(hash, id)``-smallest accumulators across its Arrow batches and
    emits ≤ m × n_codes candidate rows carrying only the m-th
    SUBVECTOR; the driver merge handles numPartitions × m × n_codes
    rows — metadata-sized.  The sampling order is UNCHANGED
    (``md5(id || ':' || m)`` asc, id asc — integer ids, which every
    caller has), so codebooks — and the downstream oracle hashes —
    are bit-identical to the per-subspace jobs."""
    from pyspark.sql.types import (
        ArrayType as _AT,
        IntegerType as _IT,
        LongType as _LT,
        StructField as _SF,
        StructType as _ST,
    )

    from .hashing import hash64

    keyed = res.select(
        F.col(id_col).cast("long").alias("__id"),
        "__r",
        *[
            hash64(
                F.concat(F.col(id_col).cast("string"), F.lit(f":{m}"))
            ).alias(f"__h{m}")
            for m in range(m_subspaces)
        ],
    )
    out_schema = _ST(
        [
            _SF("m", _IT()),
            _SF("h", _LT()),
            _SF("id", _LT()),
            _SF("sv", _AT(_LT())),
        ]
    )

    def topk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best: list[pd.DataFrame | None] = [None] * m_subspaces
        for pdf in batches:
            if not len(pdf):
                continue
            for m in range(m_subspaces):
                cand = pd.DataFrame(
                    {
                        "h": pdf[f"__h{m}"],
                        "id": pdf["__id"],
                        "sv": [
                            list(r)[m * sub : (m + 1) * sub]
                            for r in pdf["__r"]
                        ],
                    }
                )
                if best[m] is not None:
                    cand = pd.concat([best[m], cand], ignore_index=True)
                best[m] = cand.sort_values(["h", "id"]).head(n_codes)
        rows = [
            (m, int(r.h), int(r.id), list(r.sv))
            for m in range(m_subspaces)
            if best[m] is not None
            for r in best[m].itertuples()
        ]
        if rows:  # empty partitions yield nothing (Arrow dtype safety)
            yield pd.DataFrame(rows, columns=["m", "h", "id", "sv"])

    cand_rows = keyed.mapInPandas(topk, schema=out_schema).collect()
    cbs: list[list[list[int]]] = []
    for m in range(m_subspaces):
        rows = sorted(
            (r for r in cand_rows if r["m"] == m),
            key=lambda r: (r["h"], r["id"]),
        )[:n_codes]
        cbs.append([list(r["sv"]) for r in rows])
    return cbs


def residual_codebooks(
    corpus: DataFrame,
    centroids: list[list[int]],
    m_subspaces: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    perm: list[int] | None = None,
    signs: list[int] | None = None,
    residuals: DataFrame | None = None,
) -> list[list[list[int]]]:
    """PER-SUBSPACE PQ codebooks trained on IVF RESIDUALS — the FAISS
    IVFPQ construction the single shared raw-vector codebook
    (:func:`pq_codebook`) approximates: residual r = quantized vector −
    its cell centroid concentrates the energy PQ must encode, and each
    subspace gets its OWN codebook (subspace m samples the ``n_codes``
    residual subvectors of the corpus rows with smallest
    ``md5(id || ':' || m)`` — distinct deterministic training rows per
    subspace, the md5-order sampling of :func:`pq_codebook` made
    per-subspace).  With ``perm``/``signs`` (from
    :func:`opq_signed_permutation`) the residuals are OPQ-ROTATED
    before slicing, so each codebook trains in the rotated space the
    encoder will quantize in.  Returns ``codebooks[m] = n_codes ×
    (dim/m)`` exact ints; collected state is m × n_codes × dim/m —
    metadata-sized.

    ``residuals`` (r11): a caller-owned, already-materialized RAW
    (un-rotated) residual frame carrying ``(id, __r)`` — skips the
    corpus re-scan and the private persist; the rotation (when any)
    still applies here, JVM-side, bit-identically."""
    own = residuals is None
    assigned = (
        residuals
        if residuals is not None
        else _residuals_frame(corpus, centroids, id_col, vec_col)
    )
    if perm is not None:
        assigned = assigned.select(
            F.col(id_col), _rotate_expr("__r", perm, signs).alias("__r")
        )
    if own:
        assigned = assigned.persist()
    try:
        dim = len(centroids[0])
        if dim % m_subspaces:
            raise ValueError(
                f"dim {dim} not divisible by {m_subspaces} subspaces"
            )
        sub = dim // m_subspaces
        return _sample_subspace_codebooks(
            assigned, m_subspaces, n_codes, sub, id_col
        )
    finally:
        if own:
            assigned.unpersist()


def _residual_codes_vec(codebooks: list[list[list[int]]]):
    """Arrow-vectorized per-subspace argmin over residual arrays —
    code m = index of the L2-nearest entry of codebook m (first-min
    tie-break, exact int64)."""
    CBS = [np.array(cb, dtype=np.int64) for cb in codebooks]
    m_subspaces = len(CBS)
    sub = CBS[0].shape[1]

    @pandas_udf(ArrayType(IntegerType()))
    def codes_of(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.array(v.tolist(), dtype=np.int64)
        out = np.empty((M.shape[0], m_subspaces), dtype=np.int32)
        for m in range(m_subspaces):
            S = M[:, m * sub : (m + 1) * sub]
            Cm = CBS[m]
            d = (
                (S * S).sum(axis=1, keepdims=True)
                + (Cm * Cm).sum(axis=1)[None, :]
                - 2 * (S @ Cm.T)
            )
            out[:, m] = np.argmin(d, axis=1)
        return pd.Series(list(out))

    return codes_of


def _residual_dtable_vec(codebooks: list[list[list[int]]]):
    """Arrow-vectorized per-(query, cell) ADC table over residual
    arrays: m × n_codes integer squared-L2 entries."""
    CBS = [np.array(cb, dtype=np.int64) for cb in codebooks]
    m_subspaces = len(CBS)
    sub = CBS[0].shape[1]

    @pandas_udf(ArrayType(ArrayType(DoubleType())))
    def dtable_of(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.array(v.tolist(), dtype=np.int64)
        out = []
        for row in M:
            t = np.empty((m_subspaces, CBS[0].shape[0]), dtype=np.int64)
            for m in range(m_subspaces):
                q = row[m * sub : (m + 1) * sub]
                t[m] = ((CBS[m] - q[None, :]) ** 2).sum(axis=1)
            out.append(t.astype(np.float64))
        return pd.Series(out)

    return dtable_of


def ivfpq_refined_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    m_subspaces: int = 4,
    k: int = 5,
    k_prime: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    perm: list[int] | None = None,
    signs: list[int] | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """REFINED IVF-PQ — :func:`ivfpq_topk` upgraded to the full FAISS
    recipe: (1) PQ encodes RESIDUALS (vector − cell centroid) with
    PER-SUBSPACE codebooks (:func:`residual_codebooks`), so the codes
    spend their bits on the within-cell detail the coarse quantizer
    left; (2) the query's ADC table is built per PROBED CELL from the
    query residual in that cell; (3) the top-``k_prime`` ADC candidates
    are RE-RANKED by the exact integer dot product of the raw quantized
    vectors — a broadcast-semi-join-pruned fetch of ``|Q| × k_prime``
    vectors, never a second corpus scan.

    Scale shape: same as :func:`ivfpq_topk` (codes ⋈ broadcast probes ⋈
    broadcast tables + one partial-agg sum), plus the re-rank's pruned
    vector fetch.  Everything is exact int64, so ranks replay
    bit-for-bit in the DuckDB oracle.  Output
    ``(q_id, vec_id, dot, rank)`` — exact-dot descending, id
    tie-break.

    ``assigned`` (r11): a caller-owned, already-persisted
    ``(id, __e, __cell, __r)`` frame (:func:`_residuals_frame` with
    ``full=True``, RAW residuals) — both the encode chain and the
    exact re-rank read it instead of re-scanning and re-assigning the
    corpus, so one materialization serves the caller's whole chain."""
    res = (
        assigned
        if assigned is not None
        else _residuals_frame(corpus, centroids, id_col, vec_col, full=True)
    )
    return _ivfpq_refined_score(
        _ivfpq_rows(res, codebooks, perm, signs, id_col), queries, centroids,
        codebooks, k, k_prime, nprobe, id_col, vec_col, query_id_col,
        perm=perm, signs=signs,
    )


def _ivfpq_rows(
    res: DataFrame, codebooks: list[list[list[int]]],
    perm: list[int] | None, signs: list[int] | None, id_col: str,
) -> DataFrame:
    """Refined IVF-PQ index rows ``(id, __e, __cell, __codes)`` from a
    full ``(id, __e, __cell, __r)`` residual frame: the (OPQ-rotated)
    residual encoded against the per-subspace codebooks.  The in-memory
    chain scores these rows directly; :func:`build_ivfpq_index` and
    :func:`append_ivfpq_index` write them to ``cells/``."""
    if perm is not None:
        # OPQ: encode/ADC operate in the rotated space; the exact
        # re-rank stays on raw vectors (rotation preserves L2)
        res = res.withColumn("__r", _rotate_expr("__r", perm, signs))
    codes_of = _residual_codes_vec(codebooks)
    return res.select(
        id_col, "__e", "__cell", codes_of(F.col("__r")).alias("__codes")
    )


def _ivfpq_refined_score(
    rows: DataFrame, queries: DataFrame, centroids: list[list[int]],
    codebooks: list[list[list[int]]], k: int, k_prime: int, nprobe: int,
    id_col: str, vec_col: str, query_id_col: str,
    perm: list[int] | None = None, signs: list[int] | None = None,
) -> DataFrame:
    """The refined IVF-PQ scorer over ``(id, __e, __cell, __codes)``
    index rows: probe the ``nprobe`` nearest cells, build each query's
    ADC table per probed cell from its (rotated) residual there, sum the
    stored codes' table entries, keep the ``k_prime`` ADC shortlist and
    re-rank it by exact integer dot against the rows' ``__e``.
    :func:`ivfpq_refined_topk` feeds rows encoded in memory,
    :func:`probe_ivfpq_index` the persisted cells."""
    probes = _probe_cells(queries, centroids, nprobe, query_id_col, vec_col)
    qres = probes.withColumn(
        "__qr",
        F.zip_with(
            F.col("__qe"), _centroid_lookup_expr(centroids), lambda a, b: a - b
        ),
    )
    if perm is not None:
        qres = qres.withColumn("__qr", _rotate_expr("__qr", perm, signs))
    dtable_of = _residual_dtable_vec(codebooks)
    dt = (
        qres.select(
            query_id_col,
            "__cell",
            F.posexplode(dtable_of(F.col("__qr"))).alias("m", "__row"),
        )
        .select(
            query_id_col,
            "__cell",
            F.col("m").cast("bigint").alias("m"),
            F.posexplode("__row").alias("__j", "__d"),
        )
        .select(
            query_id_col,
            "__cell",
            "m",
            F.col("__j").cast("bigint").alias("code"),
            F.col("__d").cast("bigint").alias("__d"),
        )
    )
    # outer: over a column, a plain posexplode makes Catalyst infer a
    # size(__codes) > 0 filter and push it below the projection that
    # encodes __codes in memory, which then runs the encoder twice.
    # Every row holds m codes, so the outer form emits the same rows.
    codes = rows.select(
        id_col, "__cell", F.posexplode_outer("__codes").alias("m", "code"),
    ).select(
        id_col,
        "__cell",
        F.col("m").cast("bigint").alias("m"),
        F.col("code").cast("bigint").alias("code"),
    )
    scored = (
        codes.join(
            F.broadcast(probes.select(query_id_col, "__cell")), "__cell"
        )
        .join(F.broadcast(dt), on=[query_id_col, "__cell", "m", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("__d").alias("adist"))
    )
    shortlist = _topk_rank(
        scored, "adist", False, k_prime, id_col, query_id_col
    ).select(query_id_col, id_col)
    return _exact_rerank(
        rows.select(id_col, "__e"), shortlist, queries, k,
        id_col, vec_col, query_id_col,
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[int]],
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style cluster-then-prune semantic deduplication (Abbas et
    al. 2023, arXiv:2303.09540 — public paper): assign every vector to
    its nearest k-means cell, score pairwise cosine ONLY within a cell,
    and drop any vector that has a smaller-id neighbor above
    ``threshold`` in its cell.  Returns the full corpus as
    ``(id, cell, kept)`` with ``kept`` ∈ {0, 1}.

    This is the quadratic-taming shape the paper proposes for web-scale
    corpora: the O(n²) cosine scan becomes Σ|cell|², and the cell count
    is THE cost knob (√n cells ≈ linear total work on balanced data).
    In Spark the within-cell pairing is a self-equi-join on the cell id
    — one hash shuffle, no cross join — and the keep/drop verdict is a
    left-outer probe of the distinct loser set.  Cell assignment is
    exact integer L2 over the PQ_SCALE-quantized vectors (first-min
    tie-break) and similarities round to 6 dp, so the DuckDB oracle
    replays every verdict bit-for-bit."""
    c = _assign_cells_int(
        corpus.select(
            F.col(id_col),
            quantize_expr(vec_col).alias("__e"),
            F.col(vec_col).cast("array<double>").alias("__r"),
        ),
        centroids,
    )
    c = (
        c.withColumn("__nrm", _norm(F.col("__r")))
        .select(
            F.col(id_col),
            F.col("__cell"),
            F.transform(F.col("__r"), lambda x: x / F.col("__nrm")).alias("__v"),
        )
        .localCheckpoint(eager=True)  # consumed by both sides of the self-join
    )
    pairs = (
        c.select(F.col(id_col).alias("id_a"), F.col("__cell").alias("__ca"), F.col("__v").alias("__va"))
        .join(
            c.select(F.col(id_col).alias("id_b"), F.col("__cell").alias("__cb"), F.col("__v").alias("__vb")),
            F.col("__ca") == F.col("__cb"),
        )
        .where(F.col("id_a") < F.col("id_b"))
    )
    dups = (
        pairs.where(F.round(_dot(F.col("__va"), F.col("__vb")), 6) >= threshold)
        .select(F.col("id_b").alias("__dup"))
        .distinct()
    )
    return (
        c.join(dups, F.col(id_col) == F.col("__dup"), "left_outer")
        .select(
            F.col(id_col),
            F.col("__cell").cast("int").alias("cell"),
            F.when(F.col("__dup").isNull(), F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias("kept"),
        )
    )


def random_projection(
    corpus: DataFrame,
    out_dim: int = 8,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim`` dimensions,
    in exact integer fixed-point: vectors quantize to ×1000 int64
    (:func:`quantize_expr`), plane weights to ×1e6, and each output
    component is the int64 dot product — bit-identical in any engine,
    no float accumulation order to disagree about.  Returns exploded
    scalars ``(id, dim, proj_fx)`` (true value = proj_fx / 1e9).

    The JL lemma bounds pairwise-distance distortion by the OUTPUT
    dimension alone, so this is the standard cheap pre-step before ANN /
    clustering on wide embeddings: an 8× narrower vector with the same
    neighborhood structure.  Scale shape: a pure per-row map over
    driver-constant weights (out_dim HOF dot products per row) — no
    shuffle, no UDF, embarrassingly parallel; the oracle's join-form
    replay is only for verification."""
    planes = random_planes(out_dim, _vec_dim(corpus, vec_col), seed=seed)
    planes_fx = [[int(round(w * 1_000_000)) for w in row] for row in planes]
    projs = []
    for row in planes_fx:
        arr = F.array(*[F.lit(w).cast("bigint") for w in row])
        projs.append(
            F.aggregate(
                F.zip_with(F.col("__e"), arr, lambda x, wt: x * wt),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            )
        )
    return (
        corpus.select(F.col(id_col), quantize_expr(vec_col).alias("__e"))
        .select(F.col(id_col), F.posexplode(F.array(*projs)).alias("dim", "proj_fx"))
        .select(F.col(id_col), F.col("dim").cast("bigint").alias("dim"), "proj_fx")
    )


def _vec_dim(corpus: DataFrame, vec_col: str) -> int:
    """Embedding width from one row (metadata-sized driver probe)."""
    row = corpus.select(F.size(vec_col).alias("d")).first()
    return int(row["d"]) if row else 0


def label_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid coherence report — the embedding-space audit
    that flags incoherent label groups (mislabeled data, collapsed
    clusters) before they feed a training mix.

    Everything is exact fixed-point: components quantize to
    ``floor(x·1e6)`` int64 once, the centroid is the exact floor of the
    per-dimension mean, and each vector's cosine to its label centroid is
    computed from pure int64 dot products (the only doubles are the final
    sqrt/divide, identical cross-engine from identical integers, then
    floored to ppm).  Mean coherence per label is an integer floor-mean of
    the ppm values — no float accumulation anywhere.

    Scale: the explode shuffles (label, dim)-keyed rows — bounded by
    |labels|·dim after the map-side combine; the centroid frame is
    metadata-sized and broadcast back; per-vector dots partial-aggregate
    before the final |labels|-sized rollup.

    Output: (label, n_vecs, mean_cos_ppm, min_cos_ppm)."""
    base = (
        emb.select(
            F.col(id_col),
            F.col(label_col).alias("__lbl"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "__x"),
        )
        .select(
            id_col,
            "__lbl",
            "dim",
            F.floor(F.col("__x") * F.lit(1e6)).cast("bigint").alias("__fx"),
        )
    )
    base = base.localCheckpoint(eager=True)  # consumers: centroid agg + dot join
    cent = base.groupBy("__lbl", "dim").agg(
        F.floor(F.sum("__fx").cast("double") / F.count(F.lit(1))).cast("bigint").alias("__cfx")
    )
    cnorm = cent.groupBy("__lbl").agg(F.sum(F.col("__cfx") * F.col("__cfx")).alias("__nb"))
    dots = (
        base.join(F.broadcast(cent), ["__lbl", "dim"])
        .groupBy(id_col, "__lbl")
        .agg(
            F.sum(F.col("__fx") * F.col("__cfx")).alias("__dot"),
            F.sum(F.col("__fx") * F.col("__fx")).alias("__na"),
        )
    )
    cos_ppm = F.floor(
        F.lit(1e6)
        * F.col("__dot")
        / (F.sqrt(F.col("__na").cast("double")) * F.sqrt(F.col("__nb").cast("double")))
    )
    per_vec = dots.join(F.broadcast(cnorm), "__lbl").select(
        "__lbl", cos_ppm.cast("bigint").alias("__cp")
    )
    return (
        per_vec.groupBy("__lbl")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.floor(F.sum("__cp").cast("double") / F.count(F.lit(1))).cast("bigint").alias("mean_cos_ppm"),
            F.min("__cp").alias("min_cos_ppm"),
        )
        .select(
            F.col("__lbl").alias("label"),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            "mean_cos_ppm",
            "min_cos_ppm",
        )
    )


def embedding_dim_drift(
    a: DataFrame,
    b: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``k`` embedding dimensions by mean shift between two corpus
    snapshots — the drift monitor that catches an encoder change or a
    feed skew before it silently degrades every ANN index built on top.

    Per dimension: exact fixed-point means (``floor`` of the int64
    component sums over counts, same quantization as
    :func:`label_centroids`) for both sides and their absolute shift —
    all integers end to end, so the report is bit-reproducible.

    Scale: two explodes collapse map-side into |dim|-sized frames; the
    final join/sort runs on |dim| rows.  Output:
    (dim, mean_a_fx, mean_b_fx, shift_fx), shift descending."""

    def dim_means(df, mean_name):
        return (
            df.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("dim", "__x"))
            .groupBy("dim")
            .agg(
                F.floor(
                    F.sum(F.floor(F.col("__x") * F.lit(1e6)).cast("bigint")).cast("double")
                    / F.count(F.lit(1))
                ).cast("bigint").alias(mean_name)
            )
        )

    j = dim_means(a, "mean_a_fx").join(dim_means(b, "mean_b_fx"), "dim")
    return (
        j.select(
            F.col("dim").cast("int").alias("dim"),
            "mean_a_fx",
            "mean_b_fx",
            F.abs(F.col("mean_a_fx") - F.col("mean_b_fx")).alias("shift_fx"),
        )
        .orderBy(F.desc("shift_fx"), "dim")
        .limit(k)
    )


# --------------------------------------------------- persisted IVF index
# The ANN analog of dedup.build_lsh_index: a standing deployment trains
# the coarse quantizer ONCE, persists the centroids (KB of JSON) and the
# cell-partitioned inverted lists (quantized vectors parquet), and each
# query batch reads only its probed cells — the index build cost
# amortizes across every search, and cell partitioning turns nprobe into
# actual partition pruning instead of a full-corpus scan.


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[int]]:
    """Train the fixed-point k-means quantizer and materialize the index
    at ``path``: ``centroids.json`` (driver-side, n_cells × dim ints) and
    ``cells/`` parquet partitioned by ``__cell`` holding (id, quantized
    vector).  Returns the centroids."""
    import json
    import os

    import shutil

    from ..sources.atomic import swap_dir

    # ONE quantized projection persisted for the whole build (r11): the
    # trainer's seed/Lloyd passes and the final assignment write all
    # read it — previously the corpus parquet was scanned (and
    # re-quantized) once by the trainer's own persist and again for the
    # write
    base = corpus.select(
        F.col(id_col), quantize_expr(vec_col).alias("__e")
    ).persist()
    try:
        cents = ivf_centroids_kmeans(
            corpus, n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
            base=base,
        )
        assigned = _assign_cells_int(base, cents)
        # crash-safe REBUILD (r10): everything lands in <path>.staging and
        # promotes atomically — a plain overwrite deletes the live index
        # first, so a mid-build crash would destroy the standing index a
        # production probe is serving from
        path = os.path.normpath(path)
        staging = path + ".staging"
        if os.path.isdir(staging):
            shutil.rmtree(staging)
        os.makedirs(staging)
        assigned.write.mode("overwrite").partitionBy("__cell").parquet(
            os.path.join(staging, "cells")
        )
    finally:
        base.unpersist()
    with open(os.path.join(staging, "centroids.json"), "w") as f:
        json.dump(cents, f)
    with open(os.path.join(staging, "_SUCCESS"), "w"):
        pass
    swap_dir(path)
    return cents


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Top-k search against a persisted IVF index: queries rank centroids
    from the (tiny) JSON, probe their ``nprobe`` nearest cells via an
    equi-join against the cell-partitioned inverted lists, and rank
    candidates by exact integer dot product — identical results to
    :func:`ivf_topk_kmeans` over the same centroids, because both run
    :func:`_ivf_score`; only the rows differ: here the pre-assigned
    index (no re-quantization, no re-assignment, and the broadcast cell
    join prunes unprobed partitions)."""
    import json
    import os

    with open(os.path.join(path, "centroids.json")) as f:
        cents = json.load(f)
    return _ivf_score(
        spark.read.parquet(os.path.join(path, "cells")), queries, cents, k,
        nprobe, id_col, vec_col, query_id_col,
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    iters: int = 2,
    m_subspaces: int = 4,
    n_codes: int = 16,
    opq_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train and materialize the FULL OPQ-IVFPQ index — the persisted
    form of the :func:`ivfpq_refined_topk` + :func:`opq_signed_permutation`
    pipeline, so continuous query serving never re-trains: ``meta.json``
    (centroids, the learned signed-permutation rotation, the per-subspace
    residual codebooks — all exact ints, driver-side KBs) and ``cells/``
    parquet partitioned by ``__cell`` holding ``(id, quantized vector,
    PQ codes)`` — the raw vector rides along for the exact re-rank, the
    codes for the ADC scan.  Returns the meta dict."""
    import json
    import os

    import shutil

    from ..sources.atomic import swap_dir

    # r11: ONE quantized projection + ONE assigned-residual frame serve
    # the whole build.  Previously each stage re-derived its input from
    # the corpus parquet: the trainer persisted its own quantized frame,
    # the OPQ trainer and the codebook sampler each persisted their own
    # residual frame (re-running the cell-assignment UDF), and the final
    # encode assigned cells a fourth time — 4 corpus scans and 3
    # redundant assignment passes for bit-identical numbers.
    base = corpus.select(
        F.col(id_col), quantize_expr(vec_col).alias("__e")
    ).persist()
    try:
        cents = ivf_centroids_kmeans(
            corpus, n_cells, iters=iters, id_col=id_col, vec_col=vec_col,
            base=base,
        )
        res = _residuals_frame(
            corpus, cents, id_col, vec_col, base=base, full=True
        ).persist()
        try:
            perm, signs = opq_signed_permutation(
                corpus, cents, m_subspaces=m_subspaces, n_codes=n_codes,
                rounds=opq_rounds, id_col=id_col, vec_col=vec_col,
                residuals=res,
            )
            cbs = residual_codebooks(
                corpus, cents, m_subspaces=m_subspaces, n_codes=n_codes,
                id_col=id_col, vec_col=vec_col, perm=perm, signs=signs,
                residuals=res,
            )
            # crash-safe REBUILD (r10, like build_ivf_index): staging +
            # swap, so the standing index survives a mid-build crash
            path = os.path.normpath(path)
            staging = path + ".staging"
            if os.path.isdir(staging):
                shutil.rmtree(staging)
            os.makedirs(staging)
            _ivfpq_rows(res, cbs, perm, signs, id_col).write.mode(
                "overwrite"
            ).partitionBy("__cell").parquet(os.path.join(staging, "cells"))
        finally:
            res.unpersist()
    finally:
        base.unpersist()
    meta = {
        "centroids": cents,
        "perm": perm,
        "signs": signs,
        "codebooks": cbs,
        "m_subspaces": m_subspaces,
        "n_codes": n_codes,
    }
    with open(os.path.join(staging, "meta.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(staging, "_SUCCESS"), "w"):
        pass
    swap_dir(path)
    return meta


def probe_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    k_prime: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Refined OPQ-IVFPQ search against a persisted index — IDENTICAL
    ranking to :func:`ivfpq_refined_topk` with the index's rotation and
    codebooks, because both run :func:`_ivfpq_refined_score`; only the
    rows differ: here the pre-encoded index.  Probes rank centroids
    from the (tiny) meta, the broadcast cell join prunes unprobed
    ``__cell`` partitions, the ADC sums stored codes against the
    query's per-cell rotated-residual tables, and the top-k′ shortlist
    re-ranks by exact integer dot against the STORED vectors — no
    re-quantization, no re-encoding, no second corpus scan."""
    import json
    import os

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    return _ivfpq_refined_score(
        spark.read.parquet(os.path.join(path, "cells")), queries,
        meta["centroids"], meta["codebooks"], k, k_prime, nprobe,
        id_col, vec_col, query_id_col, perm=meta["perm"], signs=meta["signs"],
    )


def append_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign NEW vectors to the index's
    EXISTING centroids (read from the persisted ``centroids.json`` — the
    quantizer is not retrained, exactly like a production IVF deployment
    between periodic retrains) and append their quantized rows to the
    cell-partitioned inverted lists.  Probes see the new vectors
    immediately; retrain by rebuilding with :func:`build_ivf_index` when
    cell balance drifts.

    Runs under the cells dir's writer lease (the same lock
    :func:`compact_ivf_index` holds across its read→swap) and recovers a
    mid-swap-crashed cells dir first — an unlocked append could land rows
    between a live compaction's read and swap and silently lose them, or
    recreate a fresh cells dir next to a stranded ``.old`` and let the
    next swap delete the whole pre-compaction index."""
    import json
    import os

    from ..sources.atomic import dir_lock, recover_dir

    with open(os.path.join(path, "centroids.json")) as f:
        cents = json.load(f)
    assigned = _assign_cells_int(
        new_vectors.select(F.col(id_col), quantize_expr(vec_col).alias("__e")), cents
    )
    cells = os.path.join(path, "cells")
    with dir_lock(cells) as lease:
        recover_dir(cells)
        lease.check()
        assigned.write.mode("append").partitionBy("__cell").parquet(cells)


def append_ivfpq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental OPQ-IVFPQ maintenance (r11): encode NEW vectors with
    the index's EXISTING centroids, rotation, and codebooks (read from
    the persisted ``meta.json`` — nothing retrains, exactly how a
    production PQ deployment absorbs arrivals between periodic
    retrains) and append ``(id, quantized vector, PQ codes)`` rows to
    the cell-partitioned inverted lists.  Probes see the new vectors
    immediately with bit-identical scoring to a rebuild that reuses the
    same training artifacts; retrain via :func:`build_ivfpq_index` when
    cell balance or quantization error drifts.

    Same writer-lease + recover discipline as :func:`append_ivf_index`:
    an unlocked append could land rows between a live compaction's
    read and swap and silently lose them."""
    import json
    import os

    from ..sources.atomic import dir_lock, recover_dir

    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    rows = _ivfpq_rows(
        _residuals_frame(
            new_vectors, meta["centroids"], id_col, vec_col, full=True
        ),
        meta["codebooks"], meta["perm"], meta["signs"], id_col,
    )
    cells = os.path.join(path, "cells")
    with dir_lock(cells) as lease:
        recover_dir(cells)
        lease.check()
        rows.write.mode("append").partitionBy("__cell").parquet(cells)


def compact_ivf_index(spark, path: str, target_file_bytes: int = 128 << 20) -> dict:
    """Maintenance for the persisted IVF index: compact the
    cell-partitioned inverted lists to size-targeted files (keeping the
    ``__cell`` directory partitioning, so probes keep pruning), dropping
    replay-duplicated rows.  ``centroids.json`` lives OUTSIDE the cells
    dir and is untouched by the swap."""
    import os

    from ..plans.scale import _compact_dir

    return _compact_dir(
        spark, os.path.join(path, "cells"), target_file_bytes, ["__cell"],
        lambda df: df.dropDuplicates(),
    )
