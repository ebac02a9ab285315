"""Dedup operator contracts beyond the driver's oracle gate: SimHash
banding completeness, the hot-shingle posting-list cap's recall contract,
and the ANN broadcast/shuffle path equivalence.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from slice_db_spark.operators import dedup, similarity


def test_simhash_banding_complete(catalog):
    """Pigeonhole guarantee: with 32 bits / 4 bands, every pair at Hamming
    distance ≤ 3 (< bands) shares a full 8-bit chunk, so the banded join
    must find EXACTLY the pairs the brute-force signature comparison finds."""
    docs = catalog["documents"]
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    ids = sorted(sigs)
    want = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {tuple(r) for r in dedup.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert got == want and len(want) > 0


def test_jaccard_max_df_matches_exact(catalog):
    """Recall contract: near-dup pairs share mostly rare shingles, so a
    posting-list cap well above the near-dup cluster size changes nothing
    on this corpus — while bounding the self-join's worst case."""
    docs = catalog["documents"]
    exact = {tuple(r) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    capped = {
        tuple(r) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_df=50).collect()
    }
    assert capped == exact and len(exact) > 0


def test_jaccard_max_df_is_lower_bound(catalog):
    """An aggressive cap may only DROP pairs / lower jaccard — never invent
    pairs (false positives are impossible by construction)."""
    docs = catalog["documents"]
    exact = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
              dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=3).collect()}
    for pair, j in capped.items():
        assert pair in exact and j <= exact[pair] + 1e-9


def test_lsh_topk_shuffle_path_matches_broadcast(catalog):
    """broadcast_rows=1 forces the shuffle hash join; results must equal
    the broadcast plan's (same candidates, same scores)."""
    emb = catalog["embeddings"]
    planes = similarity.random_planes(8, 64)
    q = emb.where("vec_id < 5").select(F.col("vec_id").alias("q_id"), "embedding")
    c = emb.where("vec_id >= 5")
    bc = {tuple(r) for r in similarity.lsh_topk(c, q, planes, k=5).collect()}
    sh = {tuple(r) for r in similarity.lsh_topk(c, q, planes, k=5, broadcast_rows=1).collect()}
    assert sh == bc and len(bc) > 0


def test_connected_components_match_union_find(catalog):
    """Min-label propagation equals a driver-side union-find ground truth
    over the LSH pair graph."""
    docs = catalog["documents"]
    pairs = [(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_pairs(docs, k=16, bands=4, threshold=0.5).collect()]
    assert pairs
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    pairs_df = catalog["documents"].sparkSession.createDataFrame(
        pairs, "id_a bigint, id_b bigint"
    )
    # driver_rows=0 forces the distributed min-label loop (the default
    # driver regime IS a union-find — comparing it to itself proves nothing)
    got = {r["id"]: r["rep"] for r in
           dedup.connected_components(pairs_df, driver_rows=0).collect()}
    assert got == want
    # and the driver regime must agree with the distributed loop
    got_driver = {r["id"]: r["rep"] for r in
                  dedup.connected_components(pairs_df).collect()}
    assert got_driver == got


def test_results_invariant_to_shuffle_partitions(spark, catalog):
    """Operator outputs must not depend on the physical shuffle layout —
    the distributed-correctness property that lets the same code run on 32
    local threads or 1000 executors."""
    docs = catalog["documents"]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for parts in ("5", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            pairs = {tuple(r) for r in dedup.minhash_lsh_pairs(docs).collect()}
            cc = {tuple(r) for r in dedup.connected_components(
                spark.createDataFrame(sorted(pairs), "id_a bigint, id_b bigint, j double")
                .select("id_a", "id_b")).collect()}
            ex = {tuple(r) for r in dedup.exact_dedup(docs, ["text"]).collect()}
            results.append((pairs, cc, ex))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert results[0] == results[1]
    assert all(len(x) > 0 for x in results[0])


def test_connected_components_long_path_falls_back_to_stars(spark):
    """A component of diameter > max_rounds must still produce EXACT
    component minima: propagation hands off to large-star/small-star
    contraction (O(log n) alternations) instead of raising."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint"
    )
    # max_rounds=2 < diameter 12: previously a RuntimeError, now the
    # contraction fallback finishes the job with identical labels
    cc = dedup.connected_components(chain, max_rounds=2, driver_rows=0)
    got = {(r.id, r.rep) for r in cc.collect()}
    assert got == {(i, 0) for i in range(13)}, got
    # the same chain converges within budget too; the driver regime
    # (default) always converges
    cc = dedup.connected_components(chain, max_rounds=30, driver_rows=0)
    assert {r.rep for r in cc.collect()} == {0}
    assert {r.rep for r in dedup.connected_components(chain).collect()} == {0}


def test_connected_components_cuts_and_releases_lineage(spark):
    """The distributed loop checkpoints every round and releases the
    round checkpoints: on a 25-node chain (about 25 propagation rounds)
    no SQL execution of a call describes a physical plan of 1 M
    characters, and a caller that releases each result leaves the
    session's persistent RDDs where they were."""
    from conftest import last_execution_id, max_plan_chars

    from slice_db_spark.session import release

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(24)], "id_a bigint, id_b bigint"
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    sizes = []
    for _ in range(3):
        last = last_execution_id(spark)
        cc = dedup.connected_components(chain, driver_rows=0)
        assert {(r.id, r.rep) for r in cc.collect()} == {(i, 0) for i in range(25)}
        _, longest = max_plan_chars(spark, last)
        assert longest < 1_000_000, longest
        release(cc)
        sizes.append(jsc.getPersistentRDDs().size())
    assert max(sizes) <= before, (before, sizes)


def test_star_contraction_matches_union_find(spark):
    """Property: star contraction labels == driver union-find labels on
    random graphs (paths, forests, cliques, cross-links)."""
    import random

    rng = random.Random(7)
    edges = []
    # a 40-node path (long diameter), a 10-clique, random cross noise
    edges += [(i, i + 1) for i in range(100, 140)]
    edges += [(a, b) for a in range(200, 210) for b in range(a + 1, 210)]
    nodes = list(range(100, 141)) + list(range(200, 210)) + list(range(300, 330))
    for _ in range(25):
        edges.append((rng.choice(nodes), rng.choice(nodes)))
    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    want = {
        (r.id, r.rep) for r in dedup._driver_components(pairs, "id_a", "id_b").collect()
    }
    got = {(r.id, r.rep) for r in dedup._star_components(pairs).collect()}
    assert got == want


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc quoted wholesale inside a long one: containment ≈ 1
    while Jaccard is far below any near-dup threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, short + " " + filler)], "doc_id bigint, text string"
    )
    cont = dedup.ngram_containment_pairs(df, threshold=0.9).collect()
    assert len(cont) == 1 and cont[0]["id_a"] == 1 and cont[0]["containment"] >= 0.9
    jac = dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # Jaccard misses the asymmetric duplicate


def test_containment_max_df_lower_bound(catalog):
    """Under the posting-list cap, containment (like Jaccard) is a lower
    bound: capped results are a subset of exact results on this corpus."""
    docs = catalog["documents"]
    exact = {tuple(r) for r in dedup.ngram_containment_pairs(docs, threshold=0.9).collect()}
    capped = {
        tuple(r)
        for r in dedup.ngram_containment_pairs(docs, threshold=0.9, max_df=50).collect()
    }
    assert capped <= exact and len(exact) > 0


# ------------------------------------------------------------ chunk dedup


def test_chunk_dedup_first_occurrence_wins(spark):
    from slice_db_spark.operators.dedup import chunk_dedup_stats

    blk_a = " ".join(f"a{i}" for i in range(20))   # 20-token shared chunk
    blk_b = " ".join(f"b{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, blk_a + " " + blk_b),        # owns both chunks
            (2, blk_a + " tail words"),      # chunk 0 dups doc 1; partial chunk unique
            (3, blk_b),                      # single chunk, dups doc 1 pos 1
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in chunk_dedup_stats(docs, chunk_tokens=20).collect()}
    assert out[1] == {"doc_id": 1, "n_chunks": 2, "dup_chunks": 0, "kept_tokens": 40}
    assert out[2] == {"doc_id": 2, "n_chunks": 2, "dup_chunks": 1, "kept_tokens": 2}
    assert out[3] == {"doc_id": 3, "n_chunks": 1, "dup_chunks": 1, "kept_tokens": 0}


def test_chunk_dedup_partial_chunk_identity(spark):
    from slice_db_spark.operators.dedup import chunk_dedup_stats

    # identical 5-token docs dedup against each other; 20-token chunking
    # must treat the partial chunk as one unit
    docs = spark.createDataFrame(
        [(1, "one two three four five"), (2, "one two three four five"),
         (3, "one two three four DIFFERENT")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in chunk_dedup_stats(docs, chunk_tokens=20).collect()}
    assert out[1]["dup_chunks"] == 0 and out[1]["kept_tokens"] == 5
    assert out[2]["dup_chunks"] == 1 and out[2]["kept_tokens"] == 0
    assert out[3]["dup_chunks"] == 0 and out[3]["kept_tokens"] == 5


def test_boilerplate_ranks_by_document_frequency(spark):
    from slice_db_spark.operators.dedup import boilerplate_chunks

    hdr = " ".join(f"h{i}" for i in range(20))    # shared by 3 docs
    ftr = " ".join(f"f{i}" for i in range(20))    # shared by 2 docs
    docs = spark.createDataFrame(
        [
            (1, hdr + " " + ftr),
            (2, hdr + " unique body two"),
            (3, hdr + " " + ftr),
            (4, "entirely unique content here"),
        ],
        "doc_id bigint, text string",
    )
    out = boilerplate_chunks(docs, chunk_tokens=20).collect()
    assert [r["n_docs"] for r in out] == [3, 2]
    assert out[0]["first_doc"] == 1 and out[0]["n_occurrences"] == 3


def test_fast_hash_switch_preserves_dedup_structure(spark, monkeypatch):
    """SLICE_FAST_HASH=1 (xxhash64) must produce the same dedup GROUPS as
    the default md5 path — operators are hash-algorithm-agnostic; only
    the cross-engine oracles pin md5."""
    from slice_db_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta"),
         (4, "delta"), (5, "unique text here")],
        "doc_id bigint, text string",
    )

    def groups():
        rows = D.exact_dedup(docs, ["text"]).collect()
        return sorted((r["doc_id"], r["dup_count"]) for r in rows)

    md5_groups = groups()
    monkeypatch.setenv("SLICE_FAST_HASH", "1")
    xx_groups = groups()
    assert md5_groups == xx_groups == [(1, 2), (3, 2), (5, 1)]
    # hashes themselves differ (proves the switch took effect)
    monkeypatch.delenv("SLICE_FAST_HASH")
    h_md5 = {r["doc_id"]: r["content_hash"] for r in D.exact_dedup(docs, ["text"]).collect()}
    monkeypatch.setenv("SLICE_FAST_HASH", "1")
    h_xx = {r["doc_id"]: r["content_hash"] for r in D.exact_dedup(docs, ["text"]).collect()}
    assert h_md5[1] != h_xx[1]
    assert all(h >= 0 for h in h_xx.values())


def test_chunk_dedup_rewrite_drops_later_copies(spark):
    from slice_db_spark.operators.dedup import chunk_dedup_rewrite

    blk = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, blk + " tail one"),
            (2, blk + " tail two"),   # chunk 0 dups doc 1; partial chunk unique
            (3, blk),                 # whole doc is a dup -> empty rewrite
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in chunk_dedup_rewrite(docs, chunk_tokens=20).collect()}
    assert out[1]["text"] == blk + " tail one" and out[1]["n_dropped"] == 0
    assert out[2]["text"] == "tail two" and out[2]["n_dropped"] == 1
    assert out[3]["text"] == "" and out[3]["n_dropped"] == 1


def test_incremental_lsh_only_cross_pairs(spark):
    """Asymmetric probe: exact duplicates across the batch/corpus split
    are found; corpus-internal and batch-internal duplicates are NOT
    reported (that's the standing index's / intra-batch pass's job)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),              # corpus
        (2, base + " extra"),   # corpus near-dup of 1 -> must NOT appear
        (10, base),             # new: near-dup of corpus 1 and 2
        (20, "completely different text about spark shuffles and parquet files"),
        (30, "completely different text about spark shuffles and parquet files"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    new = df.where("doc_id >= 10")
    corpus = df.where("doc_id < 10")
    got = {(r.new_id, r.corpus_id) for r in
           dedup.incremental_lsh_pairs(new, corpus, k=16, bands=4, threshold=0.5).collect()}
    assert (10, 1) in got and (10, 2) in got
    # 20/30 duplicate each other but are both NEW -> never emitted
    assert all(a >= 10 and b < 10 for a, b in got)


def test_incremental_lsh_jaccard_matches_symmetric(spark, catalog):
    """The asymmetric probe's verified pairs == the symmetric LSH pairs
    restricted to cross-split, with identical jaccard values."""
    docs = catalog["documents"]
    import pyspark.sql.functions as F
    sym = set()
    for r in dedup.minhash_lsh_pairs(docs, k=16, bands=4, threshold=0.5).collect():
        if (r.id_a % 5 == 0) != (r.id_b % 5 == 0):  # straddles the split
            new, corp = (r.id_a, r.id_b) if r.id_a % 5 == 0 else (r.id_b, r.id_a)
            sym.add((new, corp, r.jaccard))
    inc = {
        (r.new_id, r.corpus_id, r.jaccard)
        for r in dedup.incremental_lsh_pairs(
            docs.where(F.col("doc_id") % 5 == 0),
            docs.where(F.col("doc_id") % 5 != 0),
            k=16, bands=4, threshold=0.5,
        ).collect()
    }
    assert inc == sym


def test_lsh_recall_report_perfect_on_exact_dups(spark):
    """Exact duplicates always collide in every band, so recall is 1e6
    ppm and n_missed == 0; the exact pair count matches ground truth."""
    base = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally different words appear in this document here")],
        "doc_id bigint, text string",
    )
    row = dedup.lsh_recall_report(df, threshold=0.5).collect()[0]
    assert row.n_exact == 1 and row.n_lsh == 1
    assert row.n_missed == 0 and row.recall_ppm == 1_000_000


def test_sorted_neighborhood_finds_adjacent_near_dups(spark):
    """Near-identical docs share a sort prefix, land adjacent in their
    block, and surface as a high-Jaccard pair; an unrelated doc in a
    different block pairs with nobody."""
    a = "apple banana cherry date elderberry fig grape honeydew"
    b = "apple banana cherry date elderberry fig grape kiwi"  # one word differs
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, "zebra yak xerus wolf vulture unau tapir snake")],
        "doc_id bigint, text string",
    )
    rows = dedup.sorted_neighborhood_pairs(df, window=2, block_chars=2).collect()
    pairs = {(r.a_id, r.b_id): r for r in rows}
    assert (1, 2) in pairs
    r = pairs[(1, 2)]
    # shingle sets (n=3): 6 each, 5 shared -> jaccard 5/7
    assert r.shared == 5
    assert r.jaccard_ppm == 1_000_000 * 5 // 7
    assert all(a_id != 3 and b_id != 3 for a_id, b_id in pairs)


def test_sorted_neighborhood_window_limits_pairs(spark):
    """Window=1 within one block yields only adjacent pairs of the sort
    order, not all pairs."""
    docs = [(i, f"common prefix words here variant {w}") for i, w in
            enumerate(["alpha", "beta", "gamma"])]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = dedup.sorted_neighborhood_pairs(df, window=1, block_chars=2).collect()
    got = sorted((r.a_id, r.b_id) for r in rows)
    assert got == [(0, 1), (1, 2)]  # sort order alpha<beta<gamma, no (0,2)


def test_nearest_neighbor_doc_argmax(spark):
    """Each doc maps to its single highest-Jaccard partner; ties and
    sub-threshold pairs behave deterministically."""
    a = "one two three four five six seven eight"
    b = "one two three four five six seven nine"   # high overlap with a
    c = "one two three four ten eleven twelve thirteen"  # lower overlap
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id bigint, text string"
    )
    out = {r.doc_id: r for r in dedup.nearest_neighbor_doc(df, threshold=0.1).collect()}
    assert out[1].nn_id == 2 and out[2].nn_id == 1  # mutual nearest
    assert out[3].nn_id in (1, 2)
    assert out[1].jaccard > out[3].jaccard


def test_doc_pagerank_hub_ranks_highest(spark):
    """Star graph: the hub accumulates rank from every leaf; integer
    arithmetic matches a driver-side simulation of the same recurrence."""
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a bigint, id_b bigint"
    )
    out = {r.node: r for r in dedup.doc_pagerank(pairs, iters=3).collect()}
    assert out[0].degree == 4 and all(out[i].degree == 1 for i in range(1, 5))
    assert out[0].pr_ppm > out[1].pr_ppm
    # driver simulation of the identical integer recurrence
    pr = {n: 1_000_000 for n in range(5)}
    deg = {0: 4, 1: 1, 2: 1, 3: 1, 4: 1}
    edges = [(0, i) for i in range(1, 5)] + [(i, 0) for i in range(1, 5)]
    for _ in range(3):
        s = {n: 0 for n in pr}
        for src, dst in edges:
            s[dst] += pr[src] // deg[src]
        pr = {n: 150_000 + (85 * s[n]) // 100 for n in pr}
    assert {n: r.pr_ppm for n, r in out.items()} == pr


def test_contrastive_negatives_under_threshold_only(spark):
    """With 16 bands of 1 row, modest-overlap pairs collide and surface
    as negatives; near-duplicates above max_jaccard never do."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta iota"      # ~0.71 jaccard
    part = "alpha beta gamma delta epsilon foo bar baz"        # j = 3/9 ≈ 0.33
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, part)], "doc_id bigint, text string"
    )
    out = dedup.contrastive_negatives(df, k=2, max_jaccard=0.5, mh_k=16, bands=16)
    rows = out.collect()
    got = {(r.anchor, r.negative) for r in rows}
    assert (1, 2) not in got and (2, 1) not in got  # near-dup excluded
    assert all(r.jaccard < 0.5 for r in rows)
    assert (1, 3) in got or (3, 1) in got  # the modest-overlap pair surfaces


def test_triangle_counts_clique_path_and_tail(spark):
    """Crafted graph: a 4-clique (every node in C(3,2)=3 triangles,
    clustering 1.0), a 3-path (no triangles, clustering 0), and a
    triangle with a pendant tail (the junction node's coefficient
    dilutes to 1/3: one closed pair of its three neighbor pairs)."""
    from slice_db_spark.operators import dedup as D

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    path = [(10, 11), (11, 12), (12, 13)]
    tailed = [(20, 21), (20, 22), (21, 22), (20, 23)]
    df = spark.createDataFrame(clique + path + tailed, "id_a bigint, id_b bigint")
    got = {r["node"]: (r["degree"], r["n_triangles"], r["clustering"])
           for r in D.triangle_counts(df).collect()}
    for n in range(1, 5):
        assert got[n] == (3, 3, 1.0)
    assert got[11] == (2, 0, 0.0) and got[13] == (1, 0, 0.0)
    assert got[20] == (3, 1, 1 / 3)
    assert got[21] == (2, 1, 1.0) and got[23] == (1, 0, 0.0)


def test_fuzzy_pairs_catches_typos_jaccard_misses(spark):
    """A one-character typo in a short doc: 3-gram Jaccard collapses
    (every shingle containing the typo changes) but edit distance is 1 —
    fuzzy_pairs must report the pair; unrelated docs sharing the block
    token must NOT pair (distance > cap); oversized blocks are dropped."""
    from slice_db_spark.operators import dedup as D

    base = "quantum computing will change cryptography forever"
    typo = "quantum computing will chanje cryptography forever"
    other = "quantum leap in a totally different direction here"
    rows = [(1, base), (2, typo), (3, other)]
    # an oversized block: 60 docs starting with 'the' — must be dropped
    rows += [(100 + i, f"the filler document number {i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in D.fuzzy_pairs(df, max_dist=2, max_block=50).collect()}
    assert got == {(1, 2): 1}
    jac = {(r.id_a, r.id_b) for r in
           D.ngram_jaccard_pairs(df.where("doc_id <= 3"), threshold=0.8).collect()}
    assert (1, 2) not in jac  # the blind spot fuzzy matching covers


def test_doc_hops_bfs_distances_on_crafted_graph(spark):
    """Crafted path + branch: seeds at hop 0, chain nodes at their true
    BFS distance, nodes beyond the round bound absent, min-distance wins
    when two seeds compete."""
    import slice_db_spark.plans.queries as Q

    # seeds: 1, 5.  chain 1-20-21-22-23 (23 is 4 hops: beyond bound 3);
    # 30 adjacent to BOTH 1 and 5 → hop 1; 5-40-20: 20 reachable in 2
    # via 5 but 1 via 1 → min wins
    pairs = [(1, 20), (20, 21), (21, 22), (22, 23), (1, 30), (5, 30), (5, 40), (40, 20)]
    df = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    Q._JP05_PAIRS["__hops__"] = df
    try:
        got = {r["node"]: r["hop"] for r in Q.doc_hops(spark, "__hops__").collect()}
    finally:
        del Q._JP05_PAIRS["__hops__"]
    assert got[1] == 0 and got[5] == 0
    assert got[30] == 1 and got[20] == 1 and got[40] == 1
    assert got[21] == 2 and got[22] == 3
    assert 23 not in got  # beyond the 3-round bound


def test_doc_novelty_first_occurrence_order(spark):
    """An exact copy arriving later scores 0 novelty; the original keeps
    1.0; a half-overlapping doc lands in between by exact shingle
    counts."""
    import slice_db_spark.plans.queries as Q

    a = "alpha beta gamma delta epsilon zeta"          # 4 shingles
    b = a                                              # full copy
    c = "gamma delta epsilon zeta eta theta"           # shares 2 of 4 shingles
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "doc_id bigint, text string")
    Q._CATALOGS["__nv__"] = {"documents": df}
    try:
        got = {r["doc_id"]: r for r in Q.doc_novelty(spark, "__nv__").collect()}
    finally:
        del Q._CATALOGS["__nv__"]
    assert got[1]["novelty_ppm"] == 1_000_000
    assert got[2]["novelty_ppm"] == 0
    assert got[3]["n_shingles"] == 4 and got[3]["n_novel"] == 2
    assert got[3]["novelty_ppm"] == 500_000


def test_incremental_lsh_releases_cached_shingles(spark):
    """incremental_lsh_pairs(verify=True) persists its two shingle tables;
    they must be unpersisted once the (small) verified pair frame is
    materialized — not leak into executor storage for the session's
    lifetime."""
    from slice_db_spark.operators.dedup import incremental_lsh_pairs

    corpus = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % i) for i in range(20)],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog 3"),
         (101, "completely unrelated text about spark shuffles and joins")],
        "doc_id bigint, text string",
    )
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    pairs = incremental_lsh_pairs(new, corpus, threshold=0.5)
    assert {(r.new_id, r.corpus_id) for r in pairs.collect()} >= {(100, 3)}
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # the eager localCheckpoint of the result may remain (+1); the two
    # shingle-table persists must be gone
    assert after - before <= 1


def test_lsh_index_build_probe_matches_incremental(spark, tmp_path):
    """The persisted-index probe is the same math as incremental_lsh_pairs
    run end-to-end: identical candidates, identical verified pairs; the
    index parquet is band-partitioned."""
    import os

    from slice_db_spark.operators.dedup import (
        build_lsh_index,
        incremental_lsh_pairs,
        probe_lsh_index,
    )

    corpus = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % i) for i in range(25)],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog 7"),
         (101, "totally unrelated text about parquet row groups and arrow")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "lsh_index")
    build_lsh_index(corpus, idx)
    assert any(d.startswith("band=") for d in os.listdir(idx))

    want_cands = {
        (r.new_id, r.corpus_id)
        for r in incremental_lsh_pairs(new, corpus, verify=False).collect()
    }
    got_cands = {
        (r.new_id, r.corpus_id) for r in probe_lsh_index(spark, idx, new).collect()
    }
    assert got_cands == want_cands and (100, 7) in got_cands

    want = {
        (r.new_id, r.corpus_id, r.jaccard)
        for r in incremental_lsh_pairs(new, corpus, threshold=0.5).collect()
    }
    got = {
        (r.new_id, r.corpus_id, r.jaccard)
        for r in probe_lsh_index(
            spark, idx, new, threshold=0.5, corpus_df=corpus
        ).collect()
    }
    assert got == want and got


def test_duplicate_span_stats_and_rewrite(spark):
    """Exact-substring span dedup: a shared 9-token span (two overlapping
    8-grams) marks its tokens in BOTH documents; unrelated docs untouched;
    the rewrite removes covered tokens and rejoins survivors in order."""
    from slice_db_spark.operators.dedup import (
        duplicate_span_rewrite,
        duplicate_span_stats,
    )

    df = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog and then sleeps"),
        (2, "intro words the quick brown fox jumps over the lazy dog tail"),
        (3, "a completely different document with no shared spans at all here"),
        (4, "short doc"),
    ], "doc_id bigint, text string")
    stats = {r.doc_id: (r.n_tokens, r.n_dup_tokens, r.n_clean_tokens)
             for r in duplicate_span_stats(df, span_tokens=8).collect()}
    assert stats[1] == (12, 9, 3)
    assert stats[2] == (12, 9, 3)
    assert stats[3] == (11, 0, 11)
    assert stats[4] == (2, 0, 2)  # shorter than the span: no grams, kept

    rw = {r.doc_id: (r.text, r.n_removed)
          for r in duplicate_span_rewrite(df, span_tokens=8).collect()}
    assert rw[1] == ("and then sleeps", 9)
    assert rw[2] == ("intro words tail", 9)
    assert rw[3][1] == 0
    assert rw[4] == ("short doc", 0)


def test_duplicate_span_within_document(spark):
    """A span repeated WITHIN one document counts as duplicated (the Lee
    et al. policy) — and a fully-duplicated doc returns empty text, not
    a missing row."""
    from slice_db_spark.operators.dedup import (
        duplicate_span_rewrite,
        duplicate_span_stats,
    )

    span = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, f"{span} {span}")], "doc_id bigint, text string"
    )
    s = duplicate_span_stats(df, span_tokens=8).first()
    assert (s.n_tokens, s.n_dup_tokens, s.n_clean_tokens) == (16, 16, 0)
    r = duplicate_span_rewrite(df, span_tokens=8).first()
    assert (r.text, r.n_removed) == ("", 16)


def test_incremental_span_rewrite_crafted(spark, tmp_path):
    """Incremental span rewrite on crafted inputs: corpus spans removed
    from the batch (not the corpus), within-batch duplicates from both
    copies, self-owned grams ignored (replay immunity), untouched batch
    docs intact."""
    from slice_db_spark.operators.dedup import (
        append_span_index,
        build_span_index,
        incremental_span_rewrite,
    )

    span = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(1, f"{span} corpus tail")], "doc_id bigint, text string"
    )
    idx = str(tmp_path / "idx")
    build_span_index(corpus, idx)

    s2 = "one two three four five six seven eight"
    batch = spark.createDataFrame([
        (10, f"intro {span} outro"),           # corpus span removed
        (11, f"{s2} first"), (12, f"{s2} second"),  # within-batch pair
        (13, "novel content with nothing shared anywhere at all"),
    ], "doc_id bigint, text string")
    got = {r.doc_id: (r.text, r.n_removed)
           for r in incremental_span_rewrite(spark, idx, batch).collect()}
    assert got[10] == ("intro outro", 8)
    assert got[11] == ("first", 8) and got[12] == ("second", 8)
    assert got[13][1] == 0

    # replay immunity: the batch's own grams already appended
    append_span_index(spark, idx, batch.where("doc_id = 13"))
    again = {r.doc_id: r.n_removed
             for r in incremental_span_rewrite(
                 spark, idx, batch.where("doc_id = 13")).collect()}
    assert again[13] == 0  # self-owned grams ignored


def test_span_index_wide_hash_mode(spark, tmp_path):
    """r8 wide-hash span index pins: (1) the wide build/probe round-trip
    behaves identically to narrow on collision-free data; (2) a planted
    LOW-HALF collision (same gh, different gh2) falsely matches through
    the narrow key but is REJECTED by the wide probe — the exact failure
    the 120-bit key buys protection from; (3) key-width mismatches raise
    both directions instead of silently probing wrong."""
    import pytest

    from pyspark.sql import functions as F

    from slice_db_spark.operators import dedup as D

    span = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(1, f"{span} corpus tail")], "doc_id bigint, text string"
    )
    widx = str(tmp_path / "widx")
    D.build_span_index(corpus, widx, wide_hash=True)
    assert D.read_span_meta(widx) == {"span_tokens": 8, "wide_hash": True}
    assert set(spark.read.parquet(widx).columns) == {"owner_id", "gh", "gh2"}

    batch = spark.createDataFrame(
        [(10, f"intro {span} outro"),
         (13, "novel content with nothing shared anywhere at all")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: (r.text, r.n_removed)
           for r in D.incremental_span_rewrite(
               spark, widx, batch, wide_hash=True).collect()}
    assert got[10] == ("intro outro", 8)
    assert got[13][1] == 0

    # planted low-half collision: an index row carrying doc 13's REAL
    # 64-bit gh but a different high half.  Narrow key -> false match
    # (clean tokens silently deleted); wide key -> rejected.
    probe = batch.where("doc_id = 13")
    g = D._span_grams(
        D._span_base(probe, "text", "doc_id"), 8, "doc_id", wide=True
    ).collect()
    fake = spark.createDataFrame(
        [(999, r.gh, r.gh2 + 1) for r in g],
        "owner_id bigint, gh bigint, gh2 bigint",
    )
    cidx = str(tmp_path / "collide_wide")
    fake.write.parquet(cidx)
    D.write_span_meta(cidx, 8, True)
    wide_rm = {r.doc_id: r.n_removed
               for r in D.incremental_span_rewrite(
                   spark, cidx, probe, wide_hash=True).collect()}
    assert wide_rm[13] == 0  # collision rejected on the high half

    nidx = str(tmp_path / "collide_narrow")
    fake.select("owner_id", "gh").write.parquet(nidx)
    D.write_span_meta(nidx, 8, False)
    narrow_rm = {r.doc_id: r.n_removed
                 for r in D.incremental_span_rewrite(
                     spark, nidx, probe).collect()}
    assert narrow_rm[13] > 0  # the 64-bit key false-matches

    # width mismatch raises both directions
    with pytest.raises(ValueError, match="wide_hash"):
        D.incremental_span_rewrite(spark, widx, batch, wide_hash=False)
    with pytest.raises(ValueError, match="wide_hash"):
        D.incremental_span_rewrite(spark, nidx, probe, wide_hash=True)
    with pytest.raises(ValueError, match="wide_hash"):
        D.append_span_index(spark, widx, batch, wide_hash=False)

    # replay immunity holds in wide mode: own grams appended, re-probe
    # removes nothing
    D.append_span_index(spark, widx, probe, wide_hash=True)
    again = {r.doc_id: r.n_removed
             for r in D.incremental_span_rewrite(
                 spark, widx, probe, wide_hash=True).collect()}
    assert again[13] == 0

    # gh2 mirrors the documented DuckDB rendering
    import duckdb

    row = D._span_grams(
        D._span_base(probe, "text", "doc_id"), 8, "doc_id", wide=True
    ).select("gh", "gh2").first()
    base = D._span_base(probe, "text", "doc_id").select(
        F.concat_ws(" ", F.slice("__toks", 1, 8)).alias("gram")
    ).first()
    lo, hi = duckdb.sql(
        "SELECT CAST(('0x' || substr(md5(?), 1, 15)) AS BIGINT),"
        "       CAST(('0x' || substr(md5(?), 16, 15)) AS BIGINT)",
        params=[base.gram, base.gram],
    ).fetchone()
    assert (row.gh, row.gh2) == (lo, hi)


def test_incremental_span_rewrite_checks_meta(spark, tmp_path):
    """ADVICE r6 pin: a direct caller probing a persisted span index with
    a mismatched span_tokens raises instead of silently removing nothing
    (mirrors check_lsh_meta)."""
    import pytest

    from slice_db_spark.operators.dedup import (
        build_span_index,
        incremental_span_rewrite,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta tail")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "idx")
    build_span_index(corpus, idx, span_tokens=8)
    batch = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta eta theta other")],
        "doc_id bigint, text string",
    )
    with pytest.raises(ValueError, match="span_tokens=8"):
        incremental_span_rewrite(spark, idx, batch, span_tokens=5)
    # matching length still works
    got = incremental_span_rewrite(spark, idx, batch, span_tokens=8).collect()
    assert got[0].n_removed == 8


def test_hamming_banding_exact_bit_extraction(spark):
    """REVIEW r7 pin: band chunks must come from exact bit ops — Long `/`
    is DOUBLE division in Spark, and signatures >= 2^53 rounded before
    the cast, collapsing band 0 and silently losing true near pairs.
    High-bit signatures with known distances must match brute force
    EXACTLY, and the completeness precondition must raise, not
    under-recall."""
    import itertools
    import random

    import pytest

    from slice_db_spark.operators.dedup import hamming_near_pairs

    rng = random.Random(7)
    rows = [(i, rng.getrandbits(63)) for i in range(30)]
    # plant near pairs ON TOP-BIT-HEAVY signatures (the broken regime)
    base = (1 << 62) | (1 << 53) | (1 << 35) | (1 << 3)
    rows += [
        (100, base),
        (101, base ^ 1),                       # d=1 in the lowest bit
        (102, base ^ (1 << 62)),               # d=1 in the TOP bit
        (103, base ^ ((1 << 40) | (1 << 41))), # d=2 mid-band
        (104, base ^ 0b1110110),               # d=5 spread low
    ]
    sigs = spark.createDataFrame(rows, "media_id bigint, phash bigint")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_near_pairs(
            sigs, "phash", "media_id", bits=63, bands=7, max_hamming=6
        ).collect()
    }
    brute = {
        (ia, ib): bin(sa ^ sb).count("1")
        for (ia, sa), (ib, sb) in itertools.combinations(rows, 2)
        if bin(sa ^ sb).count("1") <= 6
    }
    assert got == brute and {(100, 101), (100, 102), (100, 103)} <= set(brute)

    with pytest.raises(ValueError, match="pigeonhole|bands"):
        hamming_near_pairs(sigs, "phash", "media_id",
                           bits=63, bands=7, max_hamming=7)
    with pytest.raises(ValueError, match="divide evenly"):
        hamming_near_pairs(sigs, "phash", "media_id",
                           bits=63, bands=4, max_hamming=3)


def test_index_staging_never_promotable_without_meta(spark, tmp_path, monkeypatch):
    """r11 advisory fix: build_lsh_index / build_span_index suppress
    Spark's own job-commit _SUCCESS at the staging root, so a crash in
    the window between the parquet write and the meta sidecar leaves a
    staging dir recover_dir will NOT promote (it promotes only on the
    hand-stamped _SUCCESS, written after the sidecar).  Before the fix
    a sidecar-less staging could be promoted and every probe would then
    fail on the missing meta."""
    import os

    import pytest

    import slice_db_spark.operators.dedup as D
    from slice_db_spark.sources.atomic import recover_dir

    corpus = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog %d" % i)
         for i in range(10)],
        "doc_id bigint, text string",
    )

    def boom(*_a, **_k):
        raise RuntimeError("crash before sidecar")

    # LSH: crash between parquet write and write_lsh_meta
    idx = str(tmp_path / "lsh_idx")
    monkeypatch.setattr(D, "write_lsh_meta", boom)
    with pytest.raises(RuntimeError, match="crash before sidecar"):
        D.build_lsh_index(corpus, idx, k=8, bands=2)
    monkeypatch.undo()
    staging = idx + ".staging"
    assert os.path.isdir(staging), "parquet write itself completed"
    assert not os.path.exists(os.path.join(staging, "_SUCCESS"))
    recover_dir(idx)
    assert not os.path.isdir(idx), "incomplete staging must not promote"
    # the next build cleans the dangling staging and succeeds
    D.build_lsh_index(corpus, idx, k=8, bands=2)
    assert D.read_lsh_meta(idx) is not None
    assert not os.path.exists(staging)

    # span: same window, same invariant
    sidx = str(tmp_path / "span_idx")
    monkeypatch.setattr(D, "write_span_meta", boom)
    with pytest.raises(RuntimeError, match="crash before sidecar"):
        D.build_span_index(corpus, sidx)
    monkeypatch.undo()
    sstaging = sidx + ".staging"
    assert os.path.isdir(sstaging)
    assert not os.path.exists(os.path.join(sstaging, "_SUCCESS"))
    recover_dir(sidx)
    assert not os.path.isdir(sidx)
    D.build_span_index(corpus, sidx)
    assert D.read_span_meta(sidx) is not None
