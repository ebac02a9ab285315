"""Streaming corpus ingestion: continuously land JSONL document shards
into a deduplicated parquet corpus.

The shape a crawl pipeline needs: files arrive in a landing directory,
each micro-batch is exact-deduplicated within itself AND against
everything already ingested, clean rows append to the corpus, malformed
lines go to a quarantine sink.  No reference counterpart (the reference is
batch-only); specced directly against Structured Streaming.

Scale notes:

* The cross-batch dedup is a ``left_anti`` hash join of the (small)
  micro-batch against the target's (hash) column — with the corpus stored
  partitioned/bucketed by content hash, that read prunes to the matching
  buckets; state never lives in the streaming state store, so it cannot
  grow unbounded (the ``dropDuplicates``-without-watermark trap this
  design avoids).
* ``foreachBatch`` gives exactly-once appends per epoch via the
  checkpoint: a replayed batch re-runs the same anti-join and finds its
  rows already present, so replays are idempotent BY CONSTRUCTION, not by
  sink transactionality.
* File listing cost is bounded with ``maxFilesPerTrigger``; at cloud
  scale swap the directory listing for a notification-backed source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.hashing import hash64
from ..sources.atomic import dir_lock, recover_dir
from ..sources.corpus import DOCUMENTS_SCHEMA, _parse_lines, split_corrupt


def read_corpus_stream(
    spark: SparkSession,
    in_path: str,
    schema=DOCUMENTS_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming JSONL reader with the same schema/corrupt-record contract
    as the batch :func:`..sources.corpus.read_corpus` (text scan +
    ``from_json``, so malformed lines surface as data)."""
    r = spark.readStream
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _parse_lines(r.text(in_path), schema, "jsonl")


def ingest_corpus_stream(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    quarantine: str | None = None,
    text_col: str = "text",
    available_now: bool = True,
    min_quality: float | None = None,
    rejects: str | None = None,
    lsh_index: str | None = None,
    lsh_threshold: float = 0.5,
    lock_timeout: float = 600.0,
    url_dedup: str | None = None,
    compact_files: int | None = None,
    compact_every: int | None = None,
    span_index: str | None = None,
    span_tokens: int = 8,
    span_wide: bool = False,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the ingestion
    stream: JSONL landing dir → optional quality gate → per-batch exact
    dedup (min doc_id wins within a batch) → anti-join against
    already-ingested content hashes → optional NEAR-dup probe against the
    persisted LSH index → parquet append.  Returns the StreamingQuery.

    ``min_quality`` drops documents whose composite
    :func:`..operators.text.quality_score` falls below the threshold —
    filtering AT INGEST (before any dedup shuffle) is where a crawl
    pipeline wants its cheapest gate.  Rejected rows land in ``rejects``
    (per-epoch overwrite, idempotent on replay exactly like the
    quarantine sink).

    ``lsh_index`` turns on continuous near-dedup: each batch is first
    near-deduplicated AGAINST ITSELF (banded self-join + exact-Jaccard
    verify, min doc_id wins — the standing index can't catch two
    near-duplicates arriving in the same micro-batch, its signatures land
    only after the batch), then the survivors are probed against the
    band-partitioned MinHash index at that path
    (:func:`..operators.dedup.probe_lsh_index`, verified to exact Jaccard
    ≥ ``lsh_threshold`` against the standing corpus text), near-dups
    drop, and the remaining rows' banded signatures APPEND to the index —
    so per-batch cost stays independent of corpus size.  Signature
    parameters (k, bands, n) come from the index's own ``_lsh_meta.json``
    sidecar when present (written before the first signature append),
    so an index built with non-default parameters can never be appended
    to with incompatible band hashes.  The signature append lands BEFORE the
    corpus append: a crash between the two leaves extra signature rows on
    replay, which is harmless (probe candidates are per-pair
    deduplicated), while the reverse order could silently lose coverage.

    ``lock_timeout`` is how long a batch waits for the sink writer locks —
    raise it when a long-running compaction legitimately holds them (the
    lock's heartbeat keeps it fresh for hours; see
    :func:`..sources.atomic.dir_lock`), so the compaction degrades to
    ingest latency instead of failing the StreamingQuery.

    ``compact_files`` is the operational close of the append-only loop:
    after the drain (``available_now`` runs only), if the corpus has
    grown past that many parquet files it is compacted in place
    (`..plans.scale.compact_parquet`, and `compact_lsh_index` for the
    signature index when one is configured) — the same crash-safe,
    lease-fenced rewrite an external maintenance job would run, so a
    long-lived ingest directory never degrades into a small-files swamp
    without anyone scheduling maintenance.

    ``compact_every`` makes that maintenance IN-STREAM and periodic:
    every N epochs the same threshold check runs between batches —
    after the epoch's locks release, so the compaction takes the writer
    lease itself (the sink's fixed acquisition order, no deadlock) and
    the next micro-batch simply waits on the lock like any concurrent
    appender.  This is what keeps a CONTINUOUS (non-``available_now``)
    ingest's file counts bounded without a drain ever happening;
    requires ``compact_files`` as the threshold.  A crash mid-compaction
    is already covered by the per-batch ``recover_dir`` calls.
    ``max_files_per_trigger`` bounds how many landing files form one
    micro-batch (epoch sizing at scale).

    ``span_index`` turns on CONTINUOUS exact-substring dedup (the Lee et
    al. span policy at ingest), as the LAST stage before the corpus
    append: documents whose tokens sit inside a ``span_tokens``-gram
    already present in the standing span index (`..operators.dedup.
    build_span_index` layout: distinct (gram hash, owner doc id) rows) or
    duplicated within the batch land with those tokens REMOVED —
    unaffected documents keep their original text verbatim, and the
    stored ``content_hash`` stays the hash of the ORIGINAL text so
    refetches of already-seen content keep dropping in the exact-dedup
    anti-join.  The landing documents' gram hashes extend the index
    BEFORE the corpus append; the owner id makes a replayed epoch ignore
    its own grams, so that ordering can only duplicate hashes on a crash
    — never lose coverage, never self-empty documents (duplicates are
    reclaimed by `..plans.scale.compact_span_index`).  Span length comes
    from the index's own ``_span_meta.json`` when present.

    ``url_dedup`` names a URL column carried by the landing JSONL (the
    reader schema is extended with it): each batch's URLs are
    canonicalized (`..operators.curation.canonicalize_url`) and exact
    canonical-URL duplicates collapse BEFORE any text stage — within the
    batch (min doc_id wins) and against the standing corpus's persisted
    ``canon_url`` column (a pruned single-column anti-join, the same
    cross-batch shape as the content-hash dedup).  Rows with a NULL /
    unparseable URL pass through untouched; dropped refetches land in the
    sibling ``<rejects>.urldup`` sink.  This is the streaming analog of
    ``curate --url-dedup`` — a crawl drops refetches at the door instead
    of paying shingle/signature cost on them."""
    def _sink(batch: DataFrame, epoch_id: int) -> None:
        # Writer lock(s) for the whole read->append section: a LIVE
        # compaction of the corpus or index takes the same lock, so its
        # read->swap can never interleave with this batch's append and
        # drop the appended rows.  Fixed acquisition order (corpus, then
        # index) matches every other taker - no deadlock cycle exists.
        import contextlib

        with contextlib.ExitStack() as locks:
            corpus_lease = locks.enter_context(
                dir_lock(out_path, timeout=lock_timeout)
            )
            index_lease = None
            if lsh_index is not None:
                index_lease = locks.enter_context(
                    dir_lock(lsh_index, timeout=lock_timeout)
                )
            span_lease = None
            if span_index is not None:
                span_lease = locks.enter_context(
                    dir_lock(span_index, timeout=lock_timeout)
                )
            _sink_locked(batch, epoch_id, corpus_lease, index_lease, span_lease)
        # periodic in-stream maintenance: AFTER the epoch's locks release
        # (the compaction takes the same writer lease itself — holding it
        # here would deadlock the non-reentrant lock); runs between
        # batches, so the stream's own next epoch just waits on the lock
        if compact_every is not None and (int(epoch_id) + 1) % compact_every == 0:
            _maybe_compact()

    def _sink_locked(
        batch: DataFrame, epoch_id: int, corpus_lease, index_lease, span_lease
    ) -> None:
        # the corpus/index dirs can be transiently ABSENT mid-swap if a
        # concurrent `compact` crashed between its two renames — recover
        # them BEFORE deciding whether the cross-batch anti-join and the
        # LSH probe apply, or a fresh append would silently restart the
        # corpus from this batch while the history sits stranded in .old
        recover_dir(out_path)
        if lsh_index is not None:
            recover_dir(lsh_index)
        if span_index is not None:
            recover_dir(span_index)
        target_exists = os.path.isdir(out_path)
        if target_exists:
            # column contract up front: a corpus created with --url-dedup
            # carries url/canon_url in every file; mixing modes would
            # either crash the cross-batch join (missing canon_url) or
            # append schema-short files that later reads resolve against
            # a nondeterministically-picked footer
            corpus_cols = set(batch.sparkSession.read.parquet(out_path).columns)
            if url_dedup is not None and "canon_url" not in corpus_cols:
                raise ValueError(
                    f"corpus at {out_path} was created WITHOUT url dedup "
                    "(no canon_url column); refetch filtering against it is "
                    "impossible — rebuild the corpus or drop --url-dedup"
                )
            if url_dedup is None and "canon_url" in corpus_cols:
                raise ValueError(
                    f"corpus at {out_path} carries canon_url (created WITH "
                    "url dedup); run ingest with --url-dedup to keep the "
                    "column contract"
                )
        clean, bad = split_corrupt(batch)
        if quarantine is not None:
            # one directory per epoch, OVERWRITTEN on replay: the corpus
            # append is idempotent via the anti-join, so the quarantine must
            # be idempotent too — a plain append would duplicate corrupt
            # rows every time the checkpoint replays this epoch
            bad.write.mode("overwrite").json(
                os.path.join(quarantine, f"epoch_id={int(epoch_id)}")
            )
        if url_dedup is not None:
            from ..operators.curation import canonicalize_url

            # crawl order: refetch collapse FIRST (cheapest identity, pure
            # codegen) so duplicate fetches never reach quality scoring or
            # any dedup shuffle.  NULL canon_url (absent field / malformed
            # URL) passes through — no stable fetch identity to collapse on
            canon = canonicalize_url(clean, url_col=url_dedup).drop("host", "domain")
            with_url = canon.where(F.col("canon_url").isNotNull())
            no_url = canon.where(F.col("canon_url").isNull())
            winners = with_url.groupBy("canon_url").agg(
                F.min("doc_id").alias("doc_id")
            )
            keep = with_url.join(winners, ["canon_url", "doc_id"], "left_semi")
            if target_exists:
                # canon_url is PERSISTED in the corpus, so the cross-batch
                # anti-join scans one pruned column — never re-canonicalizes
                seen_urls = (
                    batch.sparkSession.read.parquet(out_path)
                    .select("canon_url")
                    .where(F.col("canon_url").isNotNull())
                )
                keep = keep.join(seen_urls, "canon_url", "left_anti")
            if rejects is not None:
                with_url.join(keep.select("doc_id"), "doc_id", "left_anti").write.mode(
                    "overwrite"
                ).json(os.path.join(rejects + ".urldup", f"epoch_id={int(epoch_id)}"))
            clean = keep.unionByName(no_url)
        if min_quality is not None:
            from ..operators.text import quality_score

            passing = quality_score(clean, text_col=text_col).where(
                F.col("quality_score") >= F.lit(min_quality)
            ).select("doc_id")
            if rejects is not None:
                clean.join(passing, "doc_id", "left_anti").write.mode(
                    "overwrite"
                ).json(os.path.join(rejects, f"epoch_id={int(epoch_id)}"))
            clean = clean.join(passing, "doc_id", "left_semi")
        hashed = clean.withColumn("content_hash", hash64(F.col(text_col)))
        # fully identical rows (same hash AND doc_id) collapse first — the
        # min-doc_id winner join below would keep BOTH copies otherwise
        hashed = hashed.dropDuplicates(["content_hash", "doc_id"])
        # within-batch winners: min doc_id per content hash (deterministic)
        w = hashed.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
        batch_unique = hashed.join(w, ["content_hash", "doc_id"], "left_semi")
        if target_exists:
            # the hash is PERSISTED in the corpus, so the anti-join scans a
            # single pruned column of the target, never re-hashing the
            # accumulated text (ReadSchema = content_hash only)
            seen = batch.sparkSession.read.parquet(out_path).select("content_hash")
            batch_unique = batch_unique.join(seen, "content_hash", "left_anti")
        if lsh_index is not None:
            from ..operators import dedup as _dedup

            from .media import _index_has_rows

            sp = batch.sparkSession
            # a dir holding only the sidecar cannot be read as parquet
            has_rows = _index_has_rows(lsh_index)
            # (k, bands, n) come from the index's own sidecar — appending
            # differently-parameterized band hashes would silently stop
            # the probe from ever matching them.  Rows without a sidecar
            # (a pre-sidecar index) are accepted with the defaults.
            meta = _dedup.read_lsh_meta(lsh_index)
            lk, lb, ln = (
                (meta["k"], meta["bands"], meta["n"]) if meta else (16, 4, 3)
            )
            if meta is None and not has_rows:
                # sidecar FIRST, like the span and pHash lanes: a crash
                # between the first append and a trailing meta write
                # would leave rows that no later batch stamps
                os.makedirs(lsh_index, exist_ok=True)
                _dedup.write_lsh_meta(lsh_index, lk, lb, ln)
            # the near-dedup stage consumes batch_unique several times
            # (probe shingles, rejects write, signature append, corpus
            # append) — persist once instead of re-running the parse +
            # quality UDF + dedup joins per consumer; try/finally so an
            # error mid-batch can't leak executor storage across retries
            persisted = batch_unique.persist()
            st = _dedup.shingle_table(persisted, text_col, "doc_id", ln).persist()
            try:
                # WITHIN-batch near-dedup: the standing index only covers
                # PRIOR batches — pair the batch against itself (shared
                # `lsh_pairs_from_shingles` core, no drift), min doc_id wins
                near = (
                    _dedup.lsh_pairs_from_shingles(
                        st, lk, lb, lsh_threshold, "doc_id"
                    )
                    .select(F.col("id_b").alias("doc_id"))
                    .distinct()
                )
                if has_rows and target_exists:
                    corpus = sp.read.parquet(out_path)
                    near = near.union(
                        _dedup.probe_lsh_index(
                            sp, lsh_index, persisted, k=lk, bands=lb,
                            threshold=lsh_threshold, corpus_df=corpus,
                            text_col=text_col, n=ln,
                            st_new=st,  # the SAME shingle pass, not a second one
                        ).select(F.col("new_id").alias("doc_id"))
                    ).distinct()
                # three consumers (rejects semi-join, corpus anti-join,
                # signature anti-join) — materialize the tiny id frame
                # once instead of re-running the verify joins per consumer
                near = near.localCheckpoint(eager=True)
                if rejects is not None:
                    # SIBLING root, not a subdir of `rejects`: mixing
                    # epoch_id=N and neardup-epoch dirs under one root
                    # breaks partition discovery for readers of the
                    # quality-rejects sink
                    persisted.join(near, "doc_id", "left_semi").write.mode(
                        "overwrite"
                    ).json(
                        os.path.join(rejects + ".neardup", f"epoch_id={int(epoch_id)}")
                    )
                batch_unique = persisted.join(near, "doc_id", "left_anti")
                # span rewrite FIRST: the corpus stores the rewritten
                # text, so the appended signatures/n_shingles must
                # describe it — signatures from the pre-rewrite text
                # would give later verified probes a stale, inflated
                # Jaccard denominator and let near-dups just above
                # threshold slip past the index
                batch_unique, affected = _span_stage(batch_unique, span_lease)
                # survivors' signatures, derived from the SAME shingle
                # pass (filtering st by survivor id ≡ re-shingling
                # survivors).  Replays may re-append signature rows;
                # duplicates are harmless (candidates are per-pair
                # deduplicated) — losing them is not
                st_surv = st.join(near, "doc_id", "left_anti")
                if affected is not None:
                    # rewrite changed SOME survivors' text: checkpoint
                    # the rewritten frame (consumed by the re-shingle AND
                    # the corpus append) and re-shingle ONLY the affected
                    # docs — the untouched majority keeps its rows from
                    # the already-persisted shingle pass
                    batch_unique = batch_unique.localCheckpoint(eager=True)
                    st_surv = st_surv.join(
                        affected, "doc_id", "left_anti"
                    ).unionByName(
                        _dedup.shingle_table(
                            batch_unique.join(affected, "doc_id", "left_semi"),
                            text_col, "doc_id", ln,
                        )
                    )
                sizes = st_surv.groupBy("doc_id").agg(
                    F.count(F.lit(1)).alias("n_shingles")
                )
                index_lease.check()  # fenced: never append on a lost lease
                (
                    _dedup._banded_signatures(st_surv, "corpus_id", lk, lb, "doc_id")
                    .join(
                        sizes.select(
                            F.col("doc_id").alias("corpus_id"), "n_shingles"
                        ),
                        "corpus_id",
                    )
                    .write.mode("append").partitionBy("band").parquet(lsh_index)
                )
                corpus_lease.check()
                batch_unique.write.mode("append").parquet(out_path)
            finally:
                st.unpersist()
                persisted.unpersist()
        else:
            batch_unique, _ = _span_stage(batch_unique, span_lease)
            corpus_lease.check()  # fenced: never append on a lost lease
            batch_unique.write.mode("append").parquet(out_path)

    def _span_stage(bu: DataFrame, span_lease):
        """Exact-substring dedup as the LAST stage before the corpus
        append — AFTER exact dedup (identical copies collapse to one
        intact winner first, the curate ordering; the content hash stays
        the hash of the ORIGINAL text, so refetches of already-ingested
        content keep dropping in the anti-join even though the stored
        copy was span-rewritten).  The rewrite applies ONLY to documents
        with covered tokens: everything else keeps its original text
        verbatim (the token-space rewrite is normalized by nature).  The
        index append runs BEFORE the corpus append (the LSH ordering):
        the per-gram owner id makes a replayed epoch ignore its own
        grams, so a crash between the appends can only duplicate hashes —
        never lose coverage, never self-empty documents.

        The index rows come from the PRE-rewrite grams: a span whose
        within-batch copies were ALL removed still enters the index
        (owner-tagged by the docs that carried it), so a later batch's
        copy matches the standing grams and is removed too — cross-batch
        coverage matches the batch operator's remove-all policy instead
        of silently readmitting the span.  Replay stays bit-identical:
        the extra rows are self-owned by this epoch's doc ids and the
        probe's owner exclusion skips them.

        Returns ``(frame, affected_ids)`` — the ids whose text the
        rewrite changed (None when the stage is off), so the LSH branch
        can re-shingle ONLY those instead of the whole batch."""
        if span_index is None:
            return bu, None
        from ..operators import dedup as _sdedup

        meta = (
            _sdedup.read_span_meta(span_index)
            if os.path.isdir(span_index)
            else None
        )
        stok = meta["span_tokens"] if meta else span_tokens
        # key width is an INDEX property (what the stored rows carry) —
        # a wide standing index keeps probing wide at ingest; span_wide
        # only picks the width for a FIRST build (no sidecar yet)
        swide = bool(meta.get("wide_hash", False)) if meta else span_wide
        from .media import _index_has_rows

        has_rows = (
            _index_has_rows(span_index) if os.path.isdir(span_index) else False
        )
        if meta is None and has_rows:
            # rows but no sidecar: this writer stamps the sidecar BEFORE
            # the first append, so this state means the sidecar was
            # deleted or the dir was built by hand — the rows' span
            # length AND key width are unknowable; a replay started with
            # different flags would silently downgrade a wide index (or
            # probe with disjoint gram keys).  Refuse.
            raise ValueError(
                f"span index at {span_index} has rows but no "
                "_span_meta.json sidecar — restore the sidecar "
                "(write_span_meta) or rebuild the index"
            )
        if meta is None:
            # sidecar FIRST: a crash between the first append and a
            # trailing meta write would leave rows whose parameters a
            # replay (possibly with different flags) could no longer
            # establish; a sidecar with zero rows is harmless
            os.makedirs(span_index, exist_ok=True)
            _sdedup.write_span_meta(span_index, stok, swide)
        if has_rows:
            rw = _sdedup.incremental_span_rewrite(
                bu.sparkSession, span_index, bu,
                span_tokens=stok, text_col=text_col, wide_hash=swide,
            )
        else:
            # first batch: no standing grams yet — within-batch only
            rw = _sdedup.duplicate_span_rewrite(
                bu, span_tokens=stok, text_col=text_col
            )
        # tiny (affected docs only) and consumed by the rewrite join AND
        # the caller's shingle filters — materialize once
        affected = rw.where(F.col("n_removed") > 0).select(
            "doc_id", F.col(text_col).alias("__rwtext")
        ).localCheckpoint(eager=True)
        out = (
            bu.join(affected, "doc_id", "left")
            .withColumn(
                text_col, F.coalesce(F.col("__rwtext"), F.col(text_col))
            )
            .drop("__rwtext")
        )
        span_lease.check()
        # PRE-rewrite grams (see docstring): removed spans stay probe-able
        _sdedup.append_span_index(
            bu.sparkSession, span_index, bu,
            span_tokens=stok, text_col=text_col, wide_hash=swide,
        )
        return out, affected.select("doc_id")

    schema = DOCUMENTS_SCHEMA
    if url_dedup is not None:
        from pyspark.sql import types as T

        schema = T.StructType(
            list(DOCUMENTS_SCHEMA) + [T.StructField(url_dedup, T.StringType())]
        )
    def _maybe_compact() -> None:
        if compact_files is None:
            return
        from ..plans.scale import (
            _scan_parquet_files,
            compact_lsh_index,
            compact_parquet,
            compact_span_index,
        )

        if os.path.isdir(out_path):
            files, _, _, _ = _scan_parquet_files(os.path.normpath(out_path))
            if len(files) > compact_files:
                compact_parquet(spark, out_path)
        if lsh_index is not None and os.path.isdir(lsh_index):
            files, _, _, _ = _scan_parquet_files(os.path.normpath(lsh_index))
            if len(files) > compact_files:
                compact_lsh_index(spark, lsh_index)
        if span_index is not None and os.path.isdir(span_index):
            files, _, _, _ = _scan_parquet_files(os.path.normpath(span_index))
            if len(files) > compact_files:
                compact_span_index(spark, span_index)

    if compact_every is not None and compact_files is None:
        raise ValueError(
            "compact_every needs compact_files as the file-count threshold"
        )
    if compact_every is not None and compact_every < 1:
        raise ValueError("compact_every must be >= 1")
    if compact_files is not None and not available_now and compact_every is None:
        # the post-drain hook never fires on a continuous stream, so
        # silently accepting the flag would accrete one file per
        # micro-batch forever while the caller believes maintenance runs
        raise ValueError(
            "compact_files only applies to available_now drains — pass "
            "compact_every for periodic in-stream compaction, or run a "
            "separate `compact` (same writer lock) for continuous streams"
        )
    stream = read_corpus_stream(
        spark, in_path, schema=schema,
        max_files_per_trigger=max_files_per_trigger,
    )
    writer = stream.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        _maybe_compact()
        return q
    return writer.start()
