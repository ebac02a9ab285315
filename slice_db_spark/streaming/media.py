"""Streaming MEDIA ingestion: continuously land binary image shards into
a deduplicated parquet media corpus with a persisted perceptual-hash
index — image dedup made continuous, exactly like the text pipeline's
LSH/span indexes.

Landing format is parquet with the ``operators.multimodal.MEDIA_SCHEMA``
columns (media_id, kind, payload, format, n_bytes): binary payloads
don't survive JSONL, and a crawl's media fetcher writes parquet shards
anyway.  Each micro-batch:

1. exact-deduplicates by the FULL payload md5 (32-hex string — the
   128-bit width keeps birthday collisions negligible at ~1e9 media
   rows, where the text pipeline's 60-bit ``hash64`` would start
   silently dropping distinct payloads at ~n²/2⁶¹) within the batch and
   against the corpus's persisted ``content_hash`` column —
   byte-identical refetches drop on the hash alone, BEFORE the
   expensive pure-Python decode.  Corpora written by pre-r8 versions
   carry a BIGINT (60-bit) ``content_hash``; the sink refuses them with
   a pointer to :func:`migrate_media_corpus`,
2. quarantines undecodable survivors (unknown format / malformed bytes —
   the codecs' ValueError contract, surfaced as NULL pHashes; an
   undecodable exact-dup of a corpus row drops as a dup instead) and
   cross-batch media_id reuse (a DIFFERENT payload arriving under an id
   the corpus already owns — appending it would interleave two clips'
   signature rows under one corpus_id and silently break later
   near-dup recall; quarantined to ``<quarantine>.idreuse`` per epoch),
3. near-deduplicates perceptually: 63-bit fixed-point-DCT pHash
   (:func:`..operators.multimodal.phash_media`), within-batch Hamming
   pairs (min media_id wins) plus an asymmetric banded probe against the
   persisted signature index
   (:func:`..operators.dedup.hamming_near_pairs_asym`),
4. appends the survivors' signature rows to the index BEFORE the
   corpus append — ``(corpus_id, phash)`` for image/audio modes,
   ``(corpus_id, frame_idx, phash, n_frames)`` for video (the LSH/span
   ordering): the probe excludes rows whose corpus_id equals the
   probing id, so a replayed epoch ignores its own pre-crash signatures
   and rewrites bit-identically; a crash between the appends can only
   duplicate signature rows (reclaimed by
   ``plans.scale.compact_phash_index``), never lose coverage.
   Signatures live ONLY in the index; the corpus stores the payload row
   plus ``content_hash`` uniformly across modes (corpora written by
   pre-video versions additionally carry a ``phash`` column — compact
   once or read with ``mergeSchema`` when migrating).

Every read->append section holds the same fenced writer leases the text
sink uses (``sources.atomic.dir_lock``), so live compaction can never
interleave with an append and drop rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.atomic import dir_lock, recover_dir

#: filename of the pHash-index parameter sidecar (underscore-prefixed so
#: parquet readers skip it, like the LSH/span sidecars)
PHASH_META_NAME = "_phash_meta.json"


def write_phash_meta(
    path: str, bits: int, bands: int, max_hamming: int,
    fingerprint: str = "phash",
    windows_per_sec: int | None = None,
    gif_matte: tuple[int, int, int] | None = None,
) -> None:
    """Persist the signature mode + banding parameters the index serves —
    probing with different (fingerprint, bits, bands) silently matches
    nothing (or mixes incomparable signatures).  ``windows_per_sec``
    (audio time-window mode) is recorded only when set: fingerprints
    built with different windowings are just as incomparable as
    different modalities.  ``gif_matte`` (r11, gif-video mode) likewise:
    per-frame hashes composited under different flatten mattes differ
    over disposal-2-exposed regions, so the matte is an index
    property."""
    import json

    meta = {"bits": bits, "bands": bands, "max_hamming": max_hamming,
            "fingerprint": fingerprint}
    if windows_per_sec is not None:
        meta["windows_per_sec"] = windows_per_sec
    if gif_matte is not None:
        meta["gif_matte"] = list(gif_matte)
    with open(os.path.join(path, PHASH_META_NAME), "w") as f:
        json.dump(meta, f)


def read_phash_meta(path: str) -> dict | None:
    """Load the pHash-index sidecar; ``None`` when absent, ValueError
    when present but malformed (the LSH sidecar contract)."""
    import json

    fp = os.path.join(path, PHASH_META_NAME)
    try:
        with open(fp) as f:
            meta = json.load(f)
    except OSError:
        return None
    except ValueError as e:
        raise ValueError(f"corrupt phash index sidecar {fp}: {e}") from e
    if not (
        isinstance(meta, dict)
        and all(isinstance(meta.get(k), int) for k in ("bits", "bands", "max_hamming"))
    ):
        raise ValueError(
            f"corrupt phash index sidecar {fp}: expected integer bits/bands/"
            f"max_hamming, got {meta!r}"
        )
    return meta


def migrate_media_corpus(
    spark: SparkSession, path: str, lock_timeout: float = 600.0
) -> dict:
    """One-time migration of a pre-r8 media corpus whose ``content_hash``
    is the legacy 60-bit BIGINT prefix: recompute the FULL 32-hex md5
    from the stored payloads and atomically swap the rewritten corpus in
    (staging + ``swap_dir``, under the corpus writer lease so a live
    ingest can never interleave).  Idempotent — a corpus already carrying
    a string hash is returned unchanged.  Returns a small report dict."""
    from ..sources.atomic import swap_dir

    with dir_lock(path, timeout=lock_timeout) as lease:
        recover_dir(path)
        corpus = spark.read.parquet(path)
        if dict(corpus.dtypes).get("content_hash") == "string":
            return {"migrated": False, "rows": corpus.count()}
        staging = os.path.normpath(path) + ".staging"
        out = corpus.drop("content_hash").withColumn(
            "content_hash", F.md5(F.col("payload"))
        )
        out.write.mode("overwrite").parquet(staging)
        lease.check()  # fenced: never promote on a lost lease
        swap_dir(path)
        return {"migrated": True, "rows": spark.read.parquet(path).count()}


def _index_has_rows(path: str) -> bool:
    """True when the signature index holds at least one parquet file —
    a dir containing only the sidecar (fresh, meta-first stamped) must
    neither be probed (read.parquet would fail on an empty dir) nor be
    treated as untagged rows."""
    if not os.path.isdir(path):
        return False
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def ingest_media_stream(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    phash_index: str | None = None,
    quarantine: str | None = None,
    rejects: str | None = None,
    available_now: bool = True,
    fingerprint: str = "phash",
    bits: int | None = None,
    bands: int | None = None,
    max_hamming: int | None = None,
    lock_timeout: float = 600.0,
    source: str = "parquet",
    file_ids: str = "digits",
    min_side: int | None = None,
    max_aspect: int | None = None,
    windows_per_sec: int | None = None,
    jvm_decode: bool = False,
    gif_matte: tuple[int, int, int] | None = None,
):
    """Start (and with ``available_now`` run to completion) the media
    ingestion stream — see the module docstring for the per-batch
    pipeline.  ``phash_index`` turns on continuous perceptual dedup;
    ``fingerprint`` picks the modality's signature: ``"phash"`` (images:
    63-bit DCT hash, banding 63/7, threshold 6), ``"audio"`` (PCM clips:
    30-bit energy-delta fingerprint, banding 30/6, threshold 4), or
    ``"video"`` (one 63-bit pHash PER FRAME; near-dup = equal frame
    counts with every aligned frame within threshold; index rows carry
    (frame_idx, n_frames) so the asym probe replays the same contract),
    or ``"gif-video"`` (r10: animated GIFs COMPOSITED per frame —
    `gif_frames` disposal/transparency/interlace reconstruction feeding
    `gif_video_phash` — under the identical per-frame video contract,
    so an optimizer-style partial-frame GIF and its flattened re-encode
    dedup at the door), or ``"anim-video"`` (r11: CROSS-FORMAT — GIF and
    APNG payloads magic-dispatch to their compositing readers into the
    same per-frame contract, so ONE index dedups an animation across
    containers) — ONE lane per modality, all machinery shared.  (fingerprint, bits,
    bands) come from the index's own sidecar when it already exists (a
    mode mismatch raises); ``max_hamming`` is a per-probe threshold and
    always the caller's.

    ``source`` picks the landing layout: ``"parquet"`` (default — shards
    already carrying MEDIA_SCHEMA columns) or ``"files"`` — a directory
    of RAW media files drained through Spark's ``binaryFile`` streaming
    source (the layout a crawler's fetcher actually writes): media_id =
    the file name's first digit run (``file_ids="digits"``, falling back
    to a 60-bit path hash for digit-less names so NULL ids can never
    collapse distinct files in the id-winner join) or always the path
    hash (``file_ids="path-hash"`` — collision-safe for arbitrary
    names); format = the lowercased extension (``jpg`` normalized to
    ``jpeg``).  Every downstream stage (exact md5 gate, id guards,
    quarantine, perceptual index) is SHARED with the parquet lane.

    ``min_side``/``max_aspect`` turn on the image CURATION GATE (the
    text lane's ``min_quality`` analog): exact-dedup survivors whose
    HEADER-parsed dimensions (:func:`..operators.multimodal.media_dims`
    — ~30 bytes read, no decode) fail ``min(w,h) >= min_side`` or
    ``max(w,h) <= max_aspect*min(w,h)`` drop to ``<rejects>.gate``
    BEFORE the expensive signature decode ever touches them.  Rows
    whose header doesn't parse pass through — the codec quarantine
    downstream owns undecodable payloads.  Image lane only
    (``fingerprint="phash"``).  Returns the StreamingQuery."""
    from ..operators import dedup as _dedup
    from ..operators import multimodal as _mm
    from ..operators.hashing import hash64

    _MODES = {
        "phash": (63, 7, 6, lambda b: _mm.phash_media(b, null_on_error=True)),
        # rotation-invariant image lane (r9): the orbit-min hash, so a
        # stripped-rotation refetch dedups at the door like any other
        "phash-dihedral": (
            63, 7, 6,
            lambda b: _mm.phash_media_dihedral(b, null_on_error=True),
        ),
        "audio": (
            30, 6, 4,
            lambda b: _mm.audio_fingerprint(
                b, null_on_error=True, windows_per_sec=windows_per_sec
            ).select("media_id", F.col("afp").alias("phash")),
        ),
        # video: one signature row per FRAME (media_id, frame_idx, phash)
        "video": (63, 7, 6, lambda b: _mm.video_phash(b, null_on_error=True)),
        # animated GIFs through the SAME per-frame contract (r10): the
        # compositing decode (gif_frames) feeds gif_video_phash, so an
        # optimizer-style partial-frame GIF and its flattened re-encode
        # dedup at the door like any video replay
        # gif_matte (r11): composite under an explicit page matte so
        # the standing index pairs disposal-2 originals against
        # BROWSER-style flattens (screenshot pipelines, ImageMagick
        # -background ... -flatten re-encodes); default = the spec
        # background reading
        "gif-video": (
            63, 7, 6,
            lambda b: _mm.gif_video_phash(
                b, null_on_error=True,
                matte=("background" if gif_matte is None
                       else tuple(gif_matte)),
            ),
        ),
        # CROSS-FORMAT animation lane (r11): per-payload magic-byte
        # dispatch between the GIF and APNG compositing readers into
        # the SAME per-frame contract — ONE standing index dedups an
        # animation regardless of container, so a GIF's APNG re-encode
        # (or vice versa) rejects at the door; gif_matte applies to
        # both readers
        "anim-video": (
            63, 7, 6,
            lambda b: _mm.anim_video_phash(
                b, null_on_error=True,
                matte=("background" if gif_matte is None
                       else tuple(gif_matte)),
            ),
        ),
    }
    if fingerprint not in _MODES:
        raise ValueError(f"unknown fingerprint mode {fingerprint!r}")
    _def_bits, _def_bands, _def_h, _sig_fn = _MODES[fingerprint]
    if jvm_decode:
        # JVM decode lane for the image ingest (r9): per batch, spill
        # the survivor payloads to sharded files executor-side and hash
        # through Spark's ImageIO scan (operators/multimodal.py::
        # phash_media_spilled) — native-rate decode for compressed
        # formats instead of the Python codecs.  Signature parity with
        # the Python lane: BMP/PNG/GIF bit-exact, JPEG within the
        # pairing threshold (±1/pixel IDCT rounding — the r8 parity
        # pin), so an index built by either lane probes correctly with
        # the other.  The spill dir lives next to the corpus (shared
        # storage on a cluster, the sink's own requirement) and is
        # removed as soon as the batch's signatures are checkpointed.
        if fingerprint not in ("phash", "phash-dihedral"):
            raise ValueError(
                "jvm_decode applies to the image lanes "
                f"(phash/phash-dihedral), not {fingerprint!r}"
            )
        # Coverage: ImageIO reads the web formats (JPEG/PNG/GIF); the
        # bridge's r10 format dispatch keeps uncompressed formats
        # (BMP/PGM — "decode" is a numpy slice, spilling was a measured
        # pessimization) on the Python lane, so PGM-class payloads now
        # hash under this flag too instead of NULL-quarantining.

        def _sig_fn(b):  # noqa: F811 — deliberate lane override
            import shutil as _sh
            import tempfile as _tf

            from pyspark.sql import functions as F

            root = out_path + ".jvmspill"
            os.makedirs(root, exist_ok=True)
            d = _tf.mkdtemp(dir=root)
            try:
                # rows the file bridge cannot carry (negative media_id —
                # the digit-run identity would drop the sign — or NULL
                # id/payload) would raise EXECUTOR-SIDE in
                # spill_media_to_files and fail the whole streaming
                # batch; split them out and emit NULL-phash rows so they
                # flow to quarantine like any other undecodable (r10,
                # advisory fix) — one bad row must not become a stream
                # outage when the default Python lane survives it.
                spillable = (
                    F.col("media_id").isNotNull()
                    & (F.col("media_id") >= 0)
                    & F.col("payload").isNotNull()
                )
                good = b.filter(spillable)
                bad = b.filter(~spillable)
                sigs = _mm.phash_media_spilled(
                    spark,
                    good.select("media_id", "format", "payload"),
                    os.path.join(d, "corpus"),
                    null_on_error=True,
                    dihedral=(fingerprint == "phash-dihedral"),
                ).unionByName(
                    bad.select(
                        "media_id",
                        F.lit(None).cast("long").alias("phash"),
                    )
                )
                return sigs.localCheckpoint(eager=True)
            finally:
                _sh.rmtree(d, ignore_errors=True)
                try:  # drop the spill root when no other batch is in it
                    os.rmdir(root)
                except OSError:
                    pass
    bits = _def_bits if bits is None else bits
    bands = _def_bands if bands is None else bands
    max_hamming = _def_h if max_hamming is None else max_hamming
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least max_hamming+1 bands "
            f"(got {bands}): the banded probe would silently under-recall"
        )
    if (min_side is not None or max_aspect is not None) and fingerprint not in (
        "phash", "phash-dihedral", "gif-video", "anim-video"
    ):
        raise ValueError(
            "min_side/max_aspect gate image dimensions — only the "
            "image lanes (phash/phash-dihedral/gif-video/anim-video), "
            "not "
            f"{fingerprint!r}"
        )
    if min_side is not None and min_side < 1:
        raise ValueError(f"min_side must be >= 1, got {min_side}")
    if max_aspect is not None and max_aspect < 1:
        raise ValueError(f"max_aspect must be >= 1, got {max_aspect}")
    if windows_per_sec is not None and fingerprint != "audio":
        raise ValueError(
            "windows_per_sec is the audio lane's time-window mode — "
            f"meaningless with fingerprint={fingerprint!r}"
        )
    if gif_matte is not None:
        if fingerprint not in ("gif-video", "anim-video"):
            raise ValueError(
                "gif_matte picks the animation lanes' flatten color — "
                f"meaningless with fingerprint={fingerprint!r}"
            )
        gif_matte = tuple(int(v) for v in gif_matte)
        if len(gif_matte) != 3 or not all(0 <= v <= 255 for v in gif_matte):
            raise ValueError(
                f"gif_matte must be an RGB triple in 0-255, got {gif_matte!r}"
            )

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        import contextlib

        with contextlib.ExitStack() as locks:
            corpus_lease = locks.enter_context(
                dir_lock(out_path, timeout=lock_timeout)
            )
            index_lease = None
            if phash_index is not None:
                index_lease = locks.enter_context(
                    dir_lock(phash_index, timeout=lock_timeout)
                )
            _sink_locked(batch, epoch_id, corpus_lease, index_lease)

    def _sink_locked(batch: DataFrame, epoch_id: int, corpus_lease, index_lease):
        recover_dir(out_path)
        if phash_index is not None:
            recover_dir(phash_index)
        target_exists = os.path.isdir(out_path)
        sp = batch.sparkSession

        # exact dedup FIRST (md5 accepts BINARY directly — no string
        # cast, arbitrary bytes are not valid UTF-8): byte-identical
        # refetches drop on the hash alone, before the expensive
        # pure-Python decode ever touches them.  An undecodable payload
        # that exactly duplicates a corpus row drops as a dup instead of
        # re-quarantining — the cheaper of the two correct outcomes.
        # FULL 32-hex md5, not the 60-bit hash64 prefix: at the media
        # scale this sink targets (~1e9 rows), 60-bit birthday collisions
        # (~n²/2⁶¹) would silently drop distinct payloads as exact dups
        hashed = batch.withColumn("content_hash", F.md5(F.col("payload")))
        hashed = hashed.dropDuplicates(["content_hash", "media_id"])
        # media_id is the IDENTITY key: two rows sharing an id with
        # DIFFERENT payloads would both survive the per-hash winner join
        # and corrupt the per-id signature grouping (the video lane's
        # frame sequences interleave, n_frames inflates, and every later
        # genuine near-dup is rejected) — keep one row per id
        # deterministically (min content hash wins)
        wid = hashed.groupBy("media_id").agg(
            F.min("content_hash").alias("content_hash")
        )
        hashed = hashed.join(wid, ["media_id", "content_hash"], "left_semi")
        if target_exists:
            # two column-pruned scans of the corpus (content_hash for the
            # exact gate, media_id for the id-reuse guard) — deliberate:
            # materializing both key columns per epoch would pin
            # corpus-sized state in executor memory, while pruned parquet
            # scans stream and stay per-column cheap at any corpus size
            corpus_keys = sp.read.parquet(out_path).select(
                "media_id", "content_hash"
            )
            if dict(corpus_keys.dtypes)["content_hash"] != "string":
                raise ValueError(
                    f"media corpus at {out_path} carries a legacy 60-bit "
                    "BIGINT content_hash; run migrate_media_corpus to "
                    "rewrite it with the full 128-bit md5 before ingesting "
                    "further batches — mixing widths would break the "
                    "exact-dedup anti-join"
                )
            hashed = hashed.join(
                corpus_keys.select("content_hash"), "content_hash", "left_anti"
            )
            # cross-batch id-reuse guard: a NEW payload arriving under a
            # media_id the corpus already owns would land a SECOND
            # signature sequence under the same corpus_id — the video
            # lane's aligned-frame join would then mix frames from both
            # clips, inflate max_frame_hamming, and silently stop
            # matching genuine near-duplicates of either.  (A replay of
            # the SAME payload never reaches here — it dropped on the
            # content-hash anti-join above.)  Quarantine the colliding
            # rows per epoch (idempotent overwrite) and drop them —
            # BEFORE the per-payload winner selection below, so a new
            # payload arriving under BOTH a reused and a fresh id still
            # lands under the fresh one instead of vanishing with its
            # quarantined min-id row.
            reused = (
                hashed.join(
                    corpus_keys.select("media_id").distinct(),
                    "media_id", "left_semi",
                )
                .select("media_id", "format", "n_bytes")
                .localCheckpoint(eager=True)
            )
            if quarantine is not None:
                reused.write.mode("overwrite").json(
                    os.path.join(
                        quarantine + ".idreuse", f"epoch_id={int(epoch_id)}"
                    )
                )
            hashed = hashed.join(
                reused.select("media_id"), "media_id", "left_anti"
            )
        w = hashed.groupBy("content_hash").agg(F.min("media_id").alias("media_id"))
        survivors = hashed.join(w, ["content_hash", "media_id"], "left_semi")

        # image curation gate on HEADER-parsed dims — rejects drop
        # BEFORE the expensive signature decode (the md5-gate-first
        # philosophy, one stage later); unparseable headers pass
        # through, the codec quarantine downstream owns them
        if min_side is not None or max_aspect is not None:
            dims = _mm.media_dims(survivors, null_on_error=True)
            wc, hc = F.col("width"), F.col("height")
            small, skewed = _mm.media_gate_conditions(
                wc, hc, min_side, max_aspect
            )
            gated = (
                dims.where(wc.isNotNull() & hc.isNotNull() & (small | skewed))
                .select("media_id")
                .localCheckpoint(eager=True)
            )
            if rejects is not None:
                survivors.join(gated, "media_id", "left_semi").select(
                    "media_id", "format", "n_bytes"
                ).write.mode("overwrite").json(
                    os.path.join(rejects + ".gate", f"epoch_id={int(epoch_id)}")
                )
            survivors = survivors.join(gated, "media_id", "left_anti")

        # decode ONLY the exact-dedup survivors: NULL phash = undecodable
        # (the mode's signature column is aliased to `phash` — the
        # generic "perceptual signature" slot of the index layout;
        # video emits one row PER FRAME, so signatures stay in their own
        # frame and the corpus row set joins by id only)
        survivors = survivors.persist()
        sigs_all = _sig_fn(survivors).persist()
        try:
            bad_ids = (
                sigs_all.where(F.col("phash").isNull())
                .select("media_id").distinct()
            )
            if quarantine is not None:
                # per-epoch overwrite: idempotent on replay, like the
                # text sink's quarantine
                survivors.join(bad_ids, "media_id", "left_semi").select(
                    "media_id", "format", "n_bytes"
                ).write.mode("overwrite").json(
                    os.path.join(quarantine, f"epoch_id={int(epoch_id)}")
                )
            uniq = survivors.join(bad_ids, "media_id", "left_anti")
            sigs = sigs_all.join(bad_ids, "media_id", "left_anti")

            if phash_index is not None:
                meta = (
                    read_phash_meta(phash_index)
                    if os.path.isdir(phash_index)
                    else None
                )
                # fingerprint/bits/bands are INDEX properties (what the
                # stored signatures were built from); max_hamming is a
                # per-probe threshold — the sidecar records it as
                # provenance but must not override the caller's
                if meta and meta.get("fingerprint", "phash") != fingerprint:
                    raise ValueError(
                        f"index at {phash_index} was built with fingerprint="
                        f"{meta.get('fingerprint', 'phash')!r}; ingesting with "
                        f"{fingerprint!r} would mix incomparable signatures"
                    )
                if meta and meta.get("windows_per_sec") != windows_per_sec:
                    raise ValueError(
                        f"index at {phash_index} was built with "
                        f"windows_per_sec={meta.get('windows_per_sec')!r}; "
                        f"ingesting with {windows_per_sec!r} would mix "
                        "fingerprints from different window lengths"
                    )
                if meta and meta.get("gif_matte") != (
                    list(gif_matte) if gif_matte is not None else None
                ):
                    raise ValueError(
                        f"index at {phash_index} was built with "
                        f"gif_matte={meta.get('gif_matte')!r}; ingesting "
                        f"with {gif_matte!r} would mix hashes composited "
                        "under different flatten mattes"
                    )
                if meta is None and _index_has_rows(phash_index):
                    # rows but no sidecar: our writer stamps the sidecar
                    # BEFORE the first append, so this state means the
                    # sidecar was deleted or the dir was built by hand —
                    # the rows' signature mode is UNKNOWABLE; refuse
                    # rather than risk mixing modes
                    raise ValueError(
                        f"index at {phash_index} has rows but no "
                        f"{PHASH_META_NAME} sidecar — restore the sidecar "
                        "(write_phash_meta) or rebuild the index"
                    )
                b_, n_ = (meta["bits"], meta["bands"]) if meta else (bits, bands)
                h_ = max_hamming
                if meta is None:
                    # sidecar FIRST: a crash between the first append and
                    # a trailing meta write would leave rows whose mode a
                    # replay (possibly with a different --fingerprint)
                    # could no longer establish; a sidecar with zero rows
                    # is harmless
                    os.makedirs(phash_index, exist_ok=True)
                    write_phash_meta(
                        phash_index, b_, n_, h_, fingerprint,
                        windows_per_sec=windows_per_sec,
                        gif_matte=gif_matte,
                    )
                # within-batch perceptual pairs: min media_id wins (the
                # standing index only covers prior batches)
                if fingerprint in ("video", "gif-video", "anim-video"):
                    near = (
                        _mm.video_near_pairs(
                            sigs, bits=b_, bands=n_, max_hamming=h_
                        )
                        .select(F.col("id_b").alias("media_id"))
                        .distinct()
                    )
                    if _index_has_rows(phash_index):
                        near = near.union(
                            _mm.video_near_pairs_asym(
                                sigs, sp.read.parquet(phash_index),
                                bits=b_, bands=n_, max_hamming=h_,
                            ).select(F.col("new_id").alias("media_id"))
                        ).distinct()
                else:
                    flat = sigs.select("media_id", "phash")
                    near = (
                        _dedup.hamming_near_pairs(
                            flat, "phash", "media_id",
                            bits=b_, bands=n_, max_hamming=h_,
                        )
                        .select(F.col("id_b").alias("media_id"))
                        .distinct()
                    )
                    if _index_has_rows(phash_index):
                        near = near.union(
                            _dedup.hamming_near_pairs_asym(
                                flat, sp.read.parquet(phash_index), "phash",
                                id_col="media_id", corpus_id_col="corpus_id",
                                bits=b_, bands=n_, max_hamming=h_,
                            ).select(F.col("new_id").alias("media_id"))
                        ).distinct()
                near = near.localCheckpoint(eager=True)
                if rejects is not None:
                    uniq.join(near, "media_id", "left_semi").select(
                        "media_id", "format", "n_bytes"
                    ).write.mode("overwrite").json(
                        os.path.join(
                            rejects + ".neardup", f"epoch_id={int(epoch_id)}"
                        )
                    )
                uniq = uniq.join(near, "media_id", "left_anti")
                index_lease.check()  # fenced: never append on a lost lease
                idx_rows = sigs.join(near, "media_id", "left_anti")
                if fingerprint in ("video", "gif-video", "anim-video"):
                    idx_rows = _mm.video_index_rows(idx_rows)
                else:
                    idx_rows = idx_rows.select(
                        F.col("media_id").alias("corpus_id"), "phash"
                    )
                idx_rows.write.mode("append").parquet(phash_index)
            corpus_lease.check()
            # signatures live in the INDEX; the corpus stores the payload
            # row + content_hash uniformly across modes
            uniq.write.mode("append").parquet(out_path)
        finally:
            sigs_all.unpersist()
            survivors.unpersist()

    from ..operators.multimodal import MEDIA_SCHEMA

    if source == "parquet":
        stream = spark.readStream.schema(MEDIA_SCHEMA).parquet(in_path)
    elif source == "files":
        from pyspark.sql.types import (
            BinaryType, LongType, StringType, StructField, StructType,
            TimestampType,
        )

        if file_ids not in ("digits", "path-hash"):
            raise ValueError(
                f"file_ids must be 'digits' or 'path-hash', got {file_ids!r}"
            )
        bin_schema = StructType([
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ])
        raw = spark.readStream.format("binaryFile").schema(bin_schema).load(
            in_path
        )
        path_hash = hash64(F.col("path"))
        if file_ids == "digits":
            digit_id = F.expr(
                "try_cast(regexp_extract(regexp_extract(path, '([^/]+)$', 1),"
                " '(\\\\d+)', 1) AS BIGINT)"
            )
            # digit-less names fall back to the path hash: a NULL id
            # would collapse EVERY unidentified file into one row at the
            # per-id winner join
            mid = F.coalesce(digit_id, path_hash)
        else:
            mid = path_hash
        ext = F.lower(
            F.regexp_extract(
                F.regexp_extract(F.col("path"), r"([^/]+)$", 1),
                r"\.([A-Za-z0-9]+)$", 1,
            )
        )
        stream = raw.select(
            mid.alias("media_id"),
            F.lit("image").alias("kind"),
            F.col("content").alias("payload"),
            F.when(ext == "jpg", F.lit("jpeg")).otherwise(ext).alias("format"),
            F.length("content").cast("bigint").alias("n_bytes"),
        )
    else:
        raise ValueError(f"unknown source {source!r}")
    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
