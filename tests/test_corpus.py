"""Corpus ingestion boundary: JSONL/CSV round-trips with declared schema,
corrupt-record quarantine, and the streaming dedup-on-arrival pipeline
(idempotent cross-batch anti-join appends).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from slice_db_spark.sources import corpus as C
from slice_db_spark.streaming import corpus as SC

ROWS = [
    {"doc_id": 1, "text": "plain text", "lang": "en", "source": "s0", "n_chars": 10},
    {"doc_id": 2, "text": 'quotes " commas, and\nnewlines', "lang": "en", "source": "s1", "n_chars": 29},
    {"doc_id": 3, "text": None, "lang": None, "source": "s0", "n_chars": None},
    {"doc_id": 4, "text": "unicode é中文", "lang": "zh", "source": "s1", "n_chars": 11},
]


def _key(r):
    return (r["doc_id"], r["text"], r["lang"], r["source"], r["n_chars"])


def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    with open(src / "part-0.jsonl", "w") as f:
        for r in ROWS:
            f.write(json.dumps(r) + "\n")
        f.write("{ this is not json\n")
    df = C.read_corpus(spark, str(src), fmt="jsonl")
    clean, bad = C.split_corrupt(df)
    assert {_key(r) for r in clean.collect()} == {_key(r) for r in ROWS}
    assert bad.count() == 1 and "not json" in bad.collect()[0]["raw"]
    # write back sharded and re-read
    out = tmp_path / "out"
    C.write_corpus(clean, str(out), fmt="jsonl", shards=2)
    back, bad2 = C.split_corrupt(C.read_corpus(spark, str(out), fmt="jsonl"))
    assert {_key(r) for r in back.collect()} == {_key(r) for r in ROWS}
    assert bad2.count() == 0
    assert len([f for f in os.listdir(out) if f.startswith("part-")]) == 2


def test_csv_roundtrip_quoted_fields(spark, tmp_path):
    rows = [
        (1, "plain text", "en", "s0", 10),
        (2, 'quotes " and commas, here', "en", "s1", 25),
        (4, "unicode é中文", "zh", "s1", 11),
    ]
    df = spark.createDataFrame(rows, schema=C.DOCUMENTS_SCHEMA)
    out = tmp_path / "csv"
    C.write_corpus(df, str(out), fmt="csv")
    back, bad = C.split_corrupt(C.read_corpus(spark, str(out), fmt="csv"))
    got = {_key(r) for r in back.collect()}
    by_id = {k[0]: k for k in got}
    assert set(by_id) == {1, 2, 4}
    assert by_id[2][1] == rows[1][1]  # quote/comma intact
    assert by_id[4][1] == rows[2][1]  # unicode intact
    assert bad.count() == 0


def test_read_corpus_rejects_unknown_format(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        C.read_corpus(spark, str(tmp_path), fmt="xml")
    with pytest.raises(ValueError):
        C.write_corpus(spark.range(1), str(tmp_path), fmt="xml")


def _write_batch(d, name, rows):
    with open(os.path.join(d, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_ingest_dedups_across_batches(spark, tmp_path):
    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    quar = str(tmp_path / "quarantine")

    _write_batch(land, "b0.jsonl", ROWS[:2])
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, quarantine=quar)
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert "content_hash" in got.columns

    # second drop: one replayed doc (same text, new id), one new, one corrupt
    _write_batch(
        land,
        "b1.jsonl",
        [
            {"doc_id": 9, "text": "plain text", "lang": "en", "source": "s9", "n_chars": 10},
            {"doc_id": 5, "text": "genuinely new", "lang": "en", "source": "s0", "n_chars": 13},
        ],
    )
    with open(land / "b2.jsonl", "w") as f:
        f.write("not json at all\n")
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, quarantine=quar)
    final = spark.read.parquet(out)
    assert final.count() == 3  # duplicate text suppressed
    assert {r["doc_id"] for r in final.collect()} == {1, 2, 5}
    # content hashes are unique by construction
    assert final.select("content_hash").distinct().count() == 3
    assert spark.read.json(quar).count() == 1


def test_streaming_quarantine_replay_idempotent(spark, tmp_path):
    """A replayed epoch must OVERWRITE its quarantine partition, not
    re-append: simulate replay by re-running the same landing dir under a
    fresh checkpoint (same epoch numbering) — corrupt rows stay at 1 and
    the corpus stays deduplicated."""
    land = tmp_path / "land"
    land.mkdir()
    _write_batch(land, "good.jsonl", ROWS[:2])
    with open(land / "bad.jsonl", "w") as f:
        f.write("not json at all\n")
    out = str(tmp_path / "corpus")
    quar = str(tmp_path / "quarantine")

    SC.ingest_corpus_stream(spark, str(land), out, str(tmp_path / "ckpt1"), quarantine=quar)
    assert spark.read.json(quar).count() == 1
    SC.ingest_corpus_stream(spark, str(land), out, str(tmp_path / "ckpt2"), quarantine=quar)
    assert spark.read.json(quar).count() == 1  # overwritten, not appended
    assert spark.read.parquet(out).count() == 2  # anti-join held too


def test_streaming_ingest_collapses_identical_rows(spark, tmp_path):
    """Two byte-identical rows in one batch share (content_hash, doc_id) —
    the winner join alone would keep both; dropDuplicates collapses them."""
    land = tmp_path / "land"
    land.mkdir()
    row = {"doc_id": 7, "text": "same", "lang": "en", "source": "a", "n_chars": 4}
    _write_batch(land, "b0.jsonl", [row, row])
    out = str(tmp_path / "corpus")
    SC.ingest_corpus_stream(spark, str(land), out, str(tmp_path / "ckpt"))
    assert spark.read.parquet(out).count() == 1


def test_streaming_ingest_within_batch_dedup(spark, tmp_path):
    land = tmp_path / "land"
    land.mkdir()
    _write_batch(
        land,
        "b0.jsonl",
        [
            {"doc_id": 7, "text": "same", "lang": "en", "source": "a", "n_chars": 4},
            {"doc_id": 3, "text": "same", "lang": "en", "source": "b", "n_chars": 4},
        ],
    )
    out = str(tmp_path / "corpus")
    SC.ingest_corpus_stream(spark, str(land), out, str(tmp_path / "ckpt"))
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 3  # min id wins


def test_csv_corrupt_capture(spark, tmp_path):
    src = tmp_path / "csv_bad"
    src.mkdir()
    with open(src / "a.csv", "w") as f:
        f.write('1,"good text",en,s0,9\n')
        f.write('not-a-number,"bad id",en,s0,6\n')
        f.write('3,"unterminated quote,en,s0,5\n')
    clean, bad = C.split_corrupt(C.read_corpus(spark, str(src), fmt="csv"))
    assert [r["doc_id"] for r in clean.collect()] == [1]
    raws = {r["raw"] for r in bad.collect()}
    assert len(raws) == 2 and any("not-a-number" in r for r in raws)


def test_streaming_ingest_quality_gate(spark, tmp_path):
    """min_quality drops junk at ingest: the gated doc lands in the
    rejects sink, never the corpus; good docs flow through; a replay of
    the same data stays idempotent for both sinks."""
    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    rej = str(tmp_path / "rejects")

    good = {
        "doc_id": 1,
        "text": "this is a perfectly normal readable document with many plain "
                "english words that the quality heuristics all like " * 3,
        "lang": "en", "source": "s0", "n_chars": 100,
    }
    junk = {"doc_id": 2, "text": "zzzz zzzz zzzz zzzz", "lang": "en",
            "source": "s0", "n_chars": 19}
    _write_batch(land, "b0.jsonl", [good, junk])
    SC.ingest_corpus_stream(
        spark, str(land), out, str(tmp_path / "ckpt"), min_quality=0.5, rejects=rej
    )
    got = spark.read.parquet(out)
    assert [r.doc_id for r in got.collect()] == [1]
    rejected = spark.read.json(rej)
    assert [r.doc_id for r in rejected.collect()] == [2]

    # same landing dir, fresh checkpoint: anti-join + per-epoch overwrite
    # keep both sinks stable
    SC.ingest_corpus_stream(
        spark, str(land), out, str(tmp_path / "ckpt2"), min_quality=0.5, rejects=rej
    )
    assert spark.read.parquet(out).count() == 1
    assert spark.read.json(rej).count() == 1


def test_streaming_ingest_near_dedup_via_lsh_index(spark, tmp_path):
    """Continuous near-dedup: with lsh_index set, a later batch's document
    that near-duplicates (but does not exactly match) standing-corpus text
    is dropped; novel documents land and extend the index, so a THIRD
    batch near-duplicating the second is also caught."""
    import os as _os
    import time as _time

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "lsh_index")

    base = "the quick brown fox jumps over the lazy dog again and again %s"
    b0 = [{"doc_id": 1, "text": base % "one", "lang": "en", "source": "a", "n_chars": 1},
          {"doc_id": 2, "text": "completely different text about spark shuffles and joins",
           "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b0.jsonl", b0)
    _os.utime(_os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, lsh_index=idx)
    assert spark.read.parquet(out).count() == 2
    assert _os.path.isdir(idx)

    # batch 2: near-dup of doc 1 (one word differs -> jaccard >= 0.5 but
    # not exact), plus one novel doc
    b1 = [{"doc_id": 10, "text": base % "two", "lang": "en", "source": "a", "n_chars": 1},
          {"doc_id": 11, "text": "a genuinely novel document mentioning parquet row groups",
           "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b1.jsonl", b1)
    _os.utime(_os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, lsh_index=idx)
    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert got == {1, 2, 11}  # 10 dropped as a near-dup of 1

    # batch 3: near-dup of the batch-2 SURVIVOR (index grew) + replay noop
    b2 = [{"doc_id": 20, "text": "a genuinely novel document mentioning parquet row group",
           "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b2.jsonl", b2)
    _os.utime(_os.path.join(land, "b2.jsonl"), (1_000_000_200,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, lsh_index=idx)
    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert got == {1, 2, 11}  # 20 near-dups doc 11

    # drained checkpoint: replay is a no-op on both corpus and results
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, lsh_index=idx)
    assert {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()} == {1, 2, 11}


def test_streaming_ingest_quality_and_neardup_rejects_coexist(spark, tmp_path):
    """Quality rejects (rejects/epoch_id=N) and near-dup rejects (sibling
    root rejects.neardup/epoch_id=N) must not share one partitioned root —
    mixed partition column names break discovery for readers of either
    sink (review-finding pin)."""
    import os as _os

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    rej = str(tmp_path / "rejects")
    idx = str(tmp_path / "idx")

    good = ("a perfectly reasonable document about data processing "
            "pipelines and their quality characteristics %s")
    b0 = [{"doc_id": 1, "text": good % "one", "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b0.jsonl", b0)
    _os.utime(_os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, min_quality=0.2,
                            rejects=rej, lsh_index=idx)

    # batch 2: one near-dup of doc 1, one low-quality row
    b1 = [{"doc_id": 10, "text": good % "two", "lang": "en", "source": "a", "n_chars": 1},
          {"doc_id": 11, "text": "x x x x x x x x x x x x x x x x x x",
           "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b1.jsonl", b1)
    _os.utime(_os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, min_quality=0.2,
                            rejects=rej, lsh_index=idx)

    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert kept == {1}
    # BOTH sinks are independently readable with clean partition discovery
    quality_rejects = {r.doc_id for r in spark.read.json(rej).collect()}
    neardup_rejects = {r.doc_id for r in spark.read.json(rej + ".neardup").collect()}
    assert 11 in quality_rejects
    assert neardup_rejects == {10}


def test_streaming_ingest_within_batch_near_dup(spark, tmp_path):
    """Two near-duplicate (non-identical) documents arriving in the SAME
    micro-batch: the standing index can't catch them (its signatures land
    only after the batch), so the within-batch banded self-join must —
    min doc_id wins, the loser goes to the neardup rejects sink."""
    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    idx = str(tmp_path / "idx")
    rej = str(tmp_path / "rejects")

    base = "the quick brown fox jumps over the lazy dog again and again %s"
    b0 = [
        {"doc_id": 5, "text": base % "one", "lang": "en", "source": "a", "n_chars": 1},
        {"doc_id": 9, "text": base % "two", "lang": "en", "source": "a", "n_chars": 1},
        {"doc_id": 7, "text": "completely different text about spark shuffles and joins",
         "lang": "en", "source": "a", "n_chars": 1},
    ]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, lsh_index=idx, rejects=rej)

    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert kept == {5, 7}  # 9 near-dups 5 within the batch; min id wins
    neardup = {r.doc_id for r in spark.read.json(rej + ".neardup").collect()}
    assert neardup == {9}
    # the dropped doc's signatures must NOT have entered the index
    ids = {r.corpus_id for r in spark.read.parquet(idx).select("corpus_id").collect()}
    assert ids == {5, 7}


def test_streaming_ingest_writes_and_respects_index_meta(spark, tmp_path):
    """First ingest creation stamps the index with its parameters; an
    index pre-built with NON-default parameters is appended to and probed
    with ITS parameters (read from the sidecar), not the hardcoded
    defaults — a silent band-hash mismatch would stop near-dedup without
    an error."""
    from slice_db_spark.operators import dedup as D

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")

    base = "the quick brown fox jumps over the lazy dog again and again %s"
    b0 = [{"doc_id": 1, "text": base % "one", "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)

    # default-parameter creation path stamps the sidecar
    idx_default = str(tmp_path / "idx_default")
    SC.ingest_corpus_stream(spark, str(land), out, str(tmp_path / "ck0"),
                            lsh_index=idx_default)
    assert D.read_lsh_meta(idx_default) == {"k": 16, "bands": 4, "n": 3}

    # non-default pre-built index: ingest must follow the sidecar
    idx = str(tmp_path / "idx_nondefault")
    D.build_lsh_index(spark.read.parquet(out), idx, k=8, bands=2)
    b1 = [{"doc_id": 10, "text": base % "two", "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b1.jsonl", b1)
    os.utime(os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, str(tmp_path / "ck1"),
                            lsh_index=idx)
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert kept == {1}  # 10 caught via the (8, 2, 3)-parameter probe
    assert D.read_lsh_meta(idx) == {"k": 8, "bands": 2, "n": 3}


def test_streaming_ingest_url_dedup(spark, tmp_path):
    """Streaming analog of curate --url-dedup: refetches of an
    already-ingested canonical URL drop at the door (cross-batch, via the
    corpus's persisted canon_url column), same-batch refetches collapse
    to the min doc_id, and NULL/junk-URL rows pass through untouched."""
    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    rej = str(tmp_path / "rejects")

    b0 = [
        {"doc_id": 1, "text": "first fetch of the page", "lang": "en",
         "source": "a", "n_chars": 1, "url": "https://Example.com/a/?utm_source=x"},
        {"doc_id": 4, "text": "same page fetched again in the same batch",
         "lang": "en", "source": "a", "n_chars": 1,
         "url": "https://example.com:443/a/"},
        {"doc_id": 2, "text": "a document with no url at all", "lang": "en",
         "source": "a", "n_chars": 1, "url": None},
        {"doc_id": 3, "text": "another no-url document", "lang": "en",
         "source": "a", "n_chars": 1, "url": None},
    ]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, url_dedup="url", rejects=rej)
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert kept == {1, 2, 3}  # 4 = same-batch refetch of 1; nulls pass through
    urldup = {r.doc_id for r in spark.read.json(rej + ".urldup").collect()}
    assert urldup == {4}

    # batch 2: cross-batch refetch (different text, same canonical URL)
    b1 = [{"doc_id": 10, "text": "the page content changed slightly on refetch",
           "lang": "en", "source": "a", "n_chars": 1,
           "url": "https://EXAMPLE.com/a/#frag"}]
    _write_batch(land, "b1.jsonl", b1)
    os.utime(os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, url_dedup="url", rejects=rej)
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert kept == {1, 2, 3}  # 10 dropped against the standing corpus
    # the persisted corpus carries canon_url for the cheap cross-batch join
    assert "canon_url" in spark.read.parquet(out).columns


def test_streaming_ingest_url_mode_mismatch_raises(spark, tmp_path):
    """Mixing --url-dedup modes against one corpus is a hard, clear error
    in BOTH directions — not an AnalysisException mid-join and not
    schema-short appends that later reads resolve nondeterministically."""
    import pytest

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    b0 = [{"doc_id": 1, "text": "plain corpus document", "lang": "en",
           "source": "a", "n_chars": 1}]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, str(tmp_path / "ck0"))

    b1 = [{"doc_id": 2, "text": "with url", "lang": "en", "source": "a",
           "n_chars": 1, "url": "https://example.com/x"}]
    _write_batch(land, "b1.jsonl", b1)
    os.utime(os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    with pytest.raises(Exception, match="WITHOUT url dedup"):
        SC.ingest_corpus_stream(spark, str(land), out, str(tmp_path / "ck1"),
                                url_dedup="url")

    # reverse direction: url corpus + plain ingest
    out2 = str(tmp_path / "corpus2")
    SC.ingest_corpus_stream(spark, str(land), out2, str(tmp_path / "ck2"),
                            url_dedup="url")
    b2 = [{"doc_id": 3, "text": "plain again", "lang": "en", "source": "a",
           "n_chars": 1}]
    _write_batch(land, "b2.jsonl", b2)
    os.utime(os.path.join(land, "b2.jsonl"), (1_000_000_200,) * 2)
    with pytest.raises(Exception, match="WITH url dedup"):
        SC.ingest_corpus_stream(spark, str(land), out2, str(tmp_path / "ck3"))


def test_lsh_meta_corrupt_sidecar_raises(tmp_path):
    """A present-but-malformed _lsh_meta.json is a hard error, not a
    silent None that would let wrong-parameter appends through."""
    import os as _os

    import pytest

    from slice_db_spark.operators import dedup as D

    idx = tmp_path / "idx"
    idx.mkdir()
    (idx / "_lsh_meta.json").write_text("[16, 4, 3]")
    with pytest.raises(ValueError, match="corrupt"):
        D.read_lsh_meta(str(idx))
    (idx / "_lsh_meta.json").write_text('{"k": 16}')
    with pytest.raises(ValueError, match="corrupt"):
        D.read_lsh_meta(str(idx))
    (idx / "_lsh_meta.json").write_text("{not json")
    with pytest.raises(ValueError, match="corrupt"):
        D.read_lsh_meta(str(idx))
    _os.remove(idx / "_lsh_meta.json")
    assert D.read_lsh_meta(str(idx)) is None  # absent = legacy, accepted


def test_streaming_ingest_auto_compact(spark, tmp_path):
    """--compact-files closes the append-only loop operationally: after
    the drain, a corpus past the file-count threshold is compacted in
    place (rows intact, fewer files) without an external maintenance
    job."""
    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")

    for b in range(3):
        rows = [{"doc_id": 100 * b + i, "text": f"unique document {b} {i} about topic {i}",
                 "lang": "en", "source": "a", "n_chars": 1} for i in range(4)]
        _write_batch(land, f"b{b}.jsonl", rows)
        os.utime(os.path.join(land, f"b{b}.jsonl"), (1_000_000_000 + 100 * b,) * 2)
        SC.ingest_corpus_stream(spark, str(land), out,
                                str(tmp_path / "ckpt"), compact_files=2)

    from slice_db_spark.plans.scale import _scan_parquet_files

    files, _, _, _ = _scan_parquet_files(out)
    assert len(files) <= 2  # 3 appended batches collapsed by the drain hook
    assert spark.read.parquet(out).count() == 12


def test_compact_files_requires_available_now(spark, tmp_path):
    """The post-drain compaction hook cannot run on a continuous stream —
    the combination fails loudly instead of silently never compacting."""
    import pytest

    land = tmp_path / "land"
    land.mkdir()
    with pytest.raises(ValueError, match="available_now"):
        SC.ingest_corpus_stream(spark, str(land), str(tmp_path / "c"),
                                str(tmp_path / "ck"), available_now=False,
                                compact_files=4)


def test_streaming_ingest_span_dedup(spark, tmp_path):
    """Continuous exact-substring dedup: a later batch's document that
    repeats an 8-token span of the standing corpus lands with the span
    REMOVED (not dropped); within-batch duplicated spans are removed from
    both copies; the span index grows with each batch; a drained-
    checkpoint replay is a no-op."""
    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    sidx = str(tmp_path / "span_idx")

    span = "alpha beta gamma delta epsilon zeta eta theta"
    b0 = [{"doc_id": 1, "text": f"{span} unique tail one", "lang": "en",
           "source": "a", "n_chars": 1}]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    texts = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert texts[1] == f"{span} unique tail one"  # first copy intact
    import os as _os

    assert _os.path.isfile(_os.path.join(sidx, "_span_meta.json"))

    # batch 2: repeats the standing span (different doc) + a fresh doc
    b1 = [{"doc_id": 10, "text": f"intro {span} and fresh words after",
           "lang": "en", "source": "a", "n_chars": 1},
          {"doc_id": 11, "text": "a wholly different document with novel content entirely",
           "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b1.jsonl", b1)
    os.utime(os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    texts = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert texts[10] == "intro and fresh words after"  # span removed
    assert texts[11].startswith("a wholly different")

    # batch 3: within-batch duplicated span, removed from BOTH copies
    s2 = "one two three four five six seven eight"
    b2 = [{"doc_id": 20, "text": f"{s2} first suffix", "lang": "en",
           "source": "a", "n_chars": 1},
          {"doc_id": 21, "text": f"{s2} second suffix", "lang": "en",
           "source": "a", "n_chars": 1}]
    _write_batch(land, "b2.jsonl", b2)
    os.utime(os.path.join(land, "b2.jsonl"), (1_000_000_200,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    texts = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert texts[20] == "first suffix" and texts[21] == "second suffix"

    # drained replay: nothing changes
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 10, 11, 20, 21}


def test_streaming_ingest_span_dedup_wide(spark, tmp_path):
    """r8 wide-hash plumbing: span_wide=True on a FIRST build lands a
    wide index (sidecar records it, rows carry gh2), a later batch
    inherits the width from the sidecar (no flag needed) and the
    cross-batch rewrite works identically."""
    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    sidx = str(tmp_path / "span_idx")

    span = "alpha beta gamma delta epsilon zeta eta theta"
    b0 = [{"doc_id": 1, "text": f"{span} unique tail one", "lang": "en",
           "source": "a", "n_chars": 1}]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(
        spark, str(land), out, ckpt, span_index=sidx, span_wide=True
    )
    from slice_db_spark.operators.dedup import read_span_meta

    assert read_span_meta(sidx) == {"span_tokens": 8, "wide_hash": True}
    assert "gh2" in spark.read.parquet(sidx).columns

    b1 = [{"doc_id": 10, "text": f"intro {span} and fresh words after",
           "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b1.jsonl", b1)
    os.utime(os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    # no flag on the second run: width comes from the sidecar
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    texts = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert texts[10] == "intro and fresh words after"


def test_streaming_lsh_index_meta_first_survives_crash(spark, tmp_path, monkeypatch):
    """The LSH sidecar is stamped before the first signature append, as
    the span and pHash lanes do: a batch that dies on the sidecar write
    leaves no rows behind, so the replay stamps it, and the corpus equals
    a run without the fault.  Written after the append, the replay found
    rows, never wrote the sidecar, and left the index untagged."""
    import pytest

    from slice_db_spark.operators import dedup as D

    land = tmp_path / "land"
    land.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again %s"
    b0 = [{"doc_id": 1, "text": base % "one", "lang": "en", "source": "a", "n_chars": 1},
          {"doc_id": 2, "text": "completely different text about spark shuffles and joins",
           "lang": "en", "source": "a", "n_chars": 1}]
    b1 = [{"doc_id": 10, "text": base % "two", "lang": "en", "source": "a", "n_chars": 1},
          {"doc_id": 11, "text": "a genuinely novel document mentioning parquet row groups",
           "lang": "en", "source": "a", "n_chars": 1}]

    def run(tag):
        out = str(tmp_path / f"corpus_{tag}")
        SC.ingest_corpus_stream(spark, str(land), out, str(tmp_path / f"ck_{tag}"),
                                lsh_index=str(tmp_path / f"idx_{tag}"))
        return out

    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    real, calls = D.write_lsh_meta, []

    def fail_first(*a, **kw):
        calls.append(a)
        if len(calls) == 1:
            raise OSError("crash on the sidecar write")
        return real(*a, **kw)

    monkeypatch.setattr(D, "write_lsh_meta", fail_first)
    with pytest.raises(Exception):
        run("fault")
    monkeypatch.setattr(D, "write_lsh_meta", real)
    out = run("fault")  # replay of the failed batch, same checkpoint
    assert D.read_lsh_meta(str(tmp_path / "idx_fault")) == {"k": 16, "bands": 4, "n": 3}

    _write_batch(land, "b1.jsonl", b1)
    os.utime(os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    out = run("fault")
    clean = run("clean")
    ids = [
        {r.doc_id for r in spark.read.parquet(o).select("doc_id").collect()}
        for o in (out, clean)
    ]
    assert ids[0] == ids[1] == {1, 2, 11}  # 10 near-dups doc 1


def test_streaming_span_index_meta_first_and_untagged_refusal(spark, tmp_path):
    """REVIEW r8 pins: (1) the span sidecar lands BEFORE the first gram
    append, so no crash window can leave rows whose span length / key
    width a differently-flagged replay would silently mismatch; (2) an
    index with rows but no sidecar is refused."""
    import pytest

    from slice_db_spark.operators.dedup import read_span_meta

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    sidx = str(tmp_path / "span_idx")

    b0 = [{"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta eta theta",
           "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(
        spark, str(land), out, str(tmp_path / "ck1"),
        span_index=sidx, span_wide=True,
    )
    assert read_span_meta(sidx)["wide_hash"] is True

    # untagged index (rows, no sidecar) is refused instead of silently
    # re-parameterized by whatever flags the replay happens to carry
    sidx2 = str(tmp_path / "span_idx2")
    spark.createDataFrame(
        [(1, 2, 3)], "owner_id bigint, gh bigint, gh2 bigint"
    ).write.parquet(sidx2)
    with pytest.raises(Exception, match="no _span_meta"):
        SC.ingest_corpus_stream(
            spark, str(land), str(tmp_path / "corpus2"),
            str(tmp_path / "ck2"), span_index=sidx2,
        )


def test_streaming_span_dedup_replay_self_immune(spark, tmp_path):
    """Crash between span-index append and corpus append: on replay the
    batch's grams are ALREADY in the index (owned by its own doc ids) —
    the owner exclusion must leave the document intact instead of
    emptying it, and coverage is never lost."""
    from slice_db_spark.operators import dedup as D

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    sidx = str(tmp_path / "span_idx")

    b0 = [{"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta eta theta tail",
           "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)

    # simulate the crash state for batch 2: grams landed, corpus rows not
    doc2 = "completely novel content spanning eight tokens here now yes indeed"
    b1 = [{"doc_id": 2, "text": doc2, "lang": "en", "source": "a", "n_chars": 1}]
    pre = spark.createDataFrame([(2, doc2)], "doc_id bigint, text string")
    D.append_span_index(spark, sidx, pre)

    _write_batch(land, "b1.jsonl", b1)
    os.utime(os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    texts = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    # own grams ignored: the document lands with its text INTACT
    assert texts[2] == doc2


def test_streaming_span_dedup_preserves_formatting_and_exact_order(spark, tmp_path):
    """Review pins: (1) documents WITHOUT duplicated spans land with
    their original text verbatim (casing, punctuation, URLs) — the
    normalized rewrite applies only to affected docs; (2) span dedup runs
    AFTER exact dedup, so an exact refetch (same text, new doc_id) drops
    entirely (the curate ordering) instead of landing as a gutted empty
    row."""
    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    sidx = str(tmp_path / "span_idx")

    fancy = "Hello, World! Visit https://Example.com/Path?q=1 NOW."
    span = "alpha beta gamma delta epsilon zeta eta theta"
    b0 = [
        {"doc_id": 1, "text": fancy, "lang": "en", "source": "a", "n_chars": 1},
        {"doc_id": 2, "text": f"{span} tail one", "lang": "en", "source": "a",
         "n_chars": 1},
    ]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    texts = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert texts[1] == fancy  # untouched doc: ORIGINAL formatting kept

    # batch 2: exact refetch of doc 1 (new id) + a doc repeating the span
    b1 = [
        {"doc_id": 10, "text": fancy, "lang": "en", "source": "a", "n_chars": 1},
        {"doc_id": 11, "text": f"Intro! {span} And, After?", "lang": "en",
         "source": "a", "n_chars": 1},
    ]
    _write_batch(land, "b1.jsonl", b1)
    os.utime(os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    rows = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert 10 not in rows  # exact refetch dropped whole (not gutted)
    assert rows[11] == "intro and after"  # affected doc: normalized rewrite
    # within-batch identical pair: exact dedup keeps ONE INTACT copy
    b2 = [
        {"doc_id": 20, "text": f"{span} same tail", "lang": "en", "source": "a",
         "n_chars": 1},
        {"doc_id": 21, "text": f"{span} same tail", "lang": "en", "source": "a",
         "n_chars": 1},
    ]
    _write_batch(land, "b2.jsonl", b2)
    os.utime(os.path.join(land, "b2.jsonl"), (1_000_000_200,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    rows = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert 21 not in rows          # exact duplicate collapsed first
    assert rows[20] == "same tail"  # winner then loses only the corpus span


def test_streaming_span_dedup_remove_all_cross_batch(spark, tmp_path):
    """ADVICE r6 pin: the span index is built from PRE-rewrite grams, so
    a span whose within-batch copies were ALL removed still enters the
    index — a third copy arriving in a LATER batch is removed too
    (cross-batch coverage matches the batch operator's remove-all
    policy)."""
    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    sidx = str(tmp_path / "span_idx")

    s = "one two three four five six seven eight"
    b0 = [{"doc_id": 1, "text": f"{s} first suffix", "lang": "en",
           "source": "a", "n_chars": 1},
          {"doc_id": 2, "text": f"{s} second suffix", "lang": "en",
           "source": "a", "n_chars": 1}]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    texts = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert texts[1] == "first suffix" and texts[2] == "second suffix"

    # batch 2: a THIRD copy of the span — must match the standing grams
    # even though no stored document carries the span anymore
    b1 = [{"doc_id": 3, "text": f"{s} third suffix", "lang": "en",
           "source": "a", "n_chars": 1}]
    _write_batch(land, "b1.jsonl", b1)
    os.utime(os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt, span_index=sidx)
    texts = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert texts[3] == "third suffix"


def test_streaming_lsh_plus_span_signatures_describe_stored_text(spark, tmp_path):
    """ADVICE r6 pin: with --lsh-index AND --span-index on, the appended
    signatures and n_shingles are computed from the REWRITTEN (stored)
    text — a pre-rewrite n_shingles would inflate the verified probe's
    Jaccard denominator and let near-dups just above threshold slip."""
    from slice_db_spark.operators import dedup as D

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    sidx = str(tmp_path / "span_idx")
    lidx = str(tmp_path / "lsh_idx")

    span = "alpha beta gamma delta epsilon zeta eta theta"
    b0 = [{"doc_id": 1, "text": f"{span} unique tail one two", "lang": "en",
           "source": "a", "n_chars": 1}]
    _write_batch(land, "b0.jsonl", b0)
    os.utime(os.path.join(land, "b0.jsonl"), (1_000_000_000,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt,
                            lsh_index=lidx, span_index=sidx)

    # batch 2: repeats the standing span with an otherwise-different tail
    # (below the 0.5 near-dup threshold, so it survives the LSH probe and
    # then loses the span to the rewrite)
    b1 = [{"doc_id": 10,
           "text": f"{span} totally different following words land here now",
           "lang": "en", "source": "a", "n_chars": 1}]
    _write_batch(land, "b1.jsonl", b1)
    os.utime(os.path.join(land, "b1.jsonl"), (1_000_000_100,) * 2)
    SC.ingest_corpus_stream(spark, str(land), out, ckpt,
                            lsh_index=lidx, span_index=sidx)

    stored = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert stored[10] == "totally different following words land here now"

    meta = D.read_lsh_meta(lidx)
    expected = D.shingle_table(
        spark.createDataFrame([(10, stored[10])], "doc_id bigint, text string"),
        "text", "doc_id", meta["n"],
    ).count()
    got = {
        int(r.n_shingles)
        for r in spark.read.parquet(lidx)
        .where(F.col("corpus_id") == 10)
        .select("n_shingles").distinct().collect()
    }
    assert got == {expected}  # index describes the STORED text


def test_streaming_ingest_periodic_compaction_continuous(spark, tmp_path):
    """r7: in-stream periodic compaction — a CONTINUOUS (non-drain)
    ingest with compact_every keeps its file counts bounded while dedup
    behavior is unchanged across the compactions (exact refetch and
    near-dup both still drop AFTER the corpus/index were rewritten)."""
    import pytest

    from slice_db_spark.plans.scale import _scan_parquet_files

    land = tmp_path / "land"
    land.mkdir()
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    lidx = str(tmp_path / "lsh_idx")

    # flag validation
    with pytest.raises(ValueError, match="compact_files"):
        SC.ingest_corpus_stream(spark, str(land), out, ckpt, compact_every=2)
    with pytest.raises(ValueError, match=">= 1"):
        SC.ingest_corpus_stream(spark, str(land), out, ckpt,
                                compact_files=2, compact_every=0)

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    batches = [
        [{"doc_id": 1, "text": base, "lang": "en", "source": "a", "n_chars": 1}],
        [{"doc_id": 2, "text": "completely unrelated second document with fresh novel words",
          "lang": "en", "source": "a", "n_chars": 1}],
        [{"doc_id": 3, "text": "third document also entirely distinct from everything before",
          "lang": "en", "source": "a", "n_chars": 1}],
        [{"doc_id": 10, "text": base, "lang": "en", "source": "a", "n_chars": 1}],  # exact refetch
        [{"doc_id": 11,  # near-dup of doc 1 (one token changed)
          "text": base.replace("today", "tonight"),
          "lang": "en", "source": "a", "n_chars": 1}],
        [{"doc_id": 12, "text": "a final unique document closing the stream with new content",
          "lang": "en", "source": "a", "n_chars": 1}],
    ]
    for i, rows in enumerate(batches):
        _write_batch(land, f"b{i}.jsonl", rows)
        os.utime(os.path.join(land, f"b{i}.jsonl"), (1_000_000_000 + i * 100,) * 2)

    # continuous stream, one landing file per epoch: 6 epochs, compaction
    # every 2 — without it the corpus would hold >= 4 epoch-append files
    q = SC.ingest_corpus_stream(
        spark, str(land), out, ckpt, available_now=False, lsh_index=lidx,
        compact_files=2, compact_every=2, max_files_per_trigger=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert rows == {1, 2, 3, 12}  # refetch (10) and near-dup (11) dropped
    files, _, _, _ = _scan_parquet_files(out)
    assert len(files) <= 3  # bounded: 4 survivor epochs compacted down
    # the LSH index survived its compactions with meta intact
    from slice_db_spark.operators import dedup as D

    assert D.read_lsh_meta(lidx) is not None
