"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Images/audio/video travel as ``binary`` columns with a metadata struct;
decode / feature-extraction / resize / frame-sampling / fixture synthesis
run in Python workers, and every one of those stages goes through ONE
row-mapper, :func:`_map_rows`.  Adding a stage means writing a per-row
function and declaring its output schema: the row-mapper owns the Arrow
batch loop, builds each output column from the schema's field type
(LONG -> nullable ``Int64``, BOOLEAN -> nullable ``boolean``, so NULL
rows and 63-bit hashes survive the Arrow conversion), makes the single
``mapInPandas`` call, and holds the quarantine rule: a row whose
function raises ``ValueError``/``struct.error`` fails the job, or under
``null_on_error=True`` becomes a NULL row keyed by the input's media id
(the ingest sink's quarantine split).  Fixture synthesizers use the thin
:func:`_synth` on top of it: a function from an id to
``(payload, format)``.

EIGHT decoders are fully real and dependency-free — WAV (PCM 8/16/24-bit
and float32, mono/stereo), 24-bit BMP, binary PGM, PNG (zlib inflate +
per-scanline unfilter, Adam7), APNG (frame compositing with alpha
blending), baseline + progressive JPEG (Huffman entropy decode +
dequantize + IDCT + YCbCr), GIF (LZW, interlace, animated-frame
compositing), and Y4M video (YUV4MPEG2 stream parsing + real frame
sampling) — while formats that genuinely need external libraries
(compressed video, exotic stills) keep an honest stub (clearly marked
below); the Spark-side contract
— schemas, batch shapes, partitioning behavior — is identical either way,
so swapping a stub body for PIL/ffmpeg is a local change.

Batch sizing note for 100 TB: payload rows are wide, so cap
``spark.sql.execution.arrow.maxRecordsPerBatch`` (the session default
10k rows/batch is too big for multi-MB blobs) and partition by size
(``maxPartitionBytes``), not row count.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("format", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def _column(values, dtype):
    """One output column for a schema field: LONG and BOOLEAN fields
    become nullable ``Int64``/``boolean`` arrays, so a NULL never turns
    a column into float64 (which would round 63-bit hashes and ids)."""
    if isinstance(dtype, LongType):
        return pd.array(values, dtype="Int64")
    if isinstance(dtype, BooleanType):
        return pd.array(values, dtype="boolean")
    return list(values)


def _map_rows(df, schema, fn, cols, null_on_error=False, null_tail=None):
    """The one Python-worker stage of this module (``mapInPandas``).

    ``fn(*row)`` runs over the ``cols`` values of each input row and
    returns a LIST of output rows in ``schema`` order — one for most
    stages, one per frame or window for the sequence stages.  The
    quarantine rule lives here: when ``fn`` raises ``ValueError`` or
    ``struct.error`` the job fails, or under ``null_on_error`` the input
    row becomes ONE output row of its first ``cols`` value (the media id)
    followed by ``null_tail`` (default: NULL in every other column)."""
    tail = (None,) * (len(schema) - 1) if null_tail is None else null_tail

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in zip(*(pdf[c] for c in cols)):
                try:
                    out += fn(*row)
                except (ValueError, struct.error):
                    if not null_on_error:
                        raise
                    out.append((row[0],) + tail)
            data = list(zip(*out)) if out else [()] * len(schema)
            yield pd.DataFrame(
                {f.name: _column(v, f.dataType) for f, v in zip(schema, data)}
            )

    return df.mapInPandas(run, schema=schema)


#: MEDIA_SCHEMA ``kind`` of a synthesized format (every other one is an image)
_FORMAT_KIND = {"wav": "audio", "y4m": "video"}


def _synth(df: DataFrame, id_col: str, make) -> DataFrame:
    """Fixture-synthesizer plumbing: ``make(k)`` returns ``(payload,
    format)`` for integer id ``k``; one MEDIA_SCHEMA row per input id."""

    def row(k):
        k = int(k)
        payload, fmt = make(k)
        return [(k, _FORMAT_KIND.get(fmt, "image"), payload, fmt, len(payload))]

    return _map_rows(df.select(F.col(id_col)), MEDIA_SCHEMA, row, [id_col])


def attach_payload(df: DataFrame, id_col: str, text_col: str, kind: str = "image") -> DataFrame:
    """Build a media table from any source column by treating its bytes as
    the opaque payload — the test-data path (documents → fake media)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("raw").alias("format"),
        F.length(F.encode(F.col(text_col), "UTF-8")).cast("long").alias("n_bytes"),
    )


def _stub_decode(payload: bytes, n_features: int = 8) -> tuple[int, int, int, list[float]]:
    """STUB — deterministic fake decoder.

    A real deployment decodes with PIL/ffmpeg here; this environment ships
    neither, so we derive (width, height, n_frames, features) from the
    payload's md5 so tests are deterministic and the plumbing (schema,
    Arrow batching, partition behavior) is exercised for real.
    """
    d = hashlib.md5(payload or b"").digest()
    width = 16 + d[0] % 240
    height = 16 + d[1] % 240
    n_frames = 1 + d[2] % 8
    features = [
        int.from_bytes(d[(4 + 2 * i) % 16 : (4 + 2 * i) % 16 + 2] or b"\0\0", "big") / 65535.0
        for i in range(n_features)
    ]
    return width, height, n_frames, features


def _real_decode(fmt: str, payload: bytes, n_features: int):
    """Dispatch to a real codec by the format column.  Images report true
    dimensions and ``n_features`` luminance row-band means in [0, 1];
    audio reports (n_samples, 1) and band mean-absolute amplitudes.
    Returns None for formats without a real codec (stub fallback)."""
    import numpy as np

    if fmt == "wav":
        _, samples = decode_wav(payload)
        arr = np.abs(np.asarray(samples, dtype=np.float64)) / 32768.0
        bands = np.array_split(arr, n_features)
        feats = [float(b.mean()) if len(b) else 0.0 for b in bands]
        return len(samples), 1, 1, feats
    if fmt == "y4m":
        w, h, frames = decode_y4m(payload)
        lum = (
            frames.astype(np.float64).mean(axis=0)
            if len(frames)
            else np.zeros((h, w))
        )
        bands = np.array_split(lum, n_features, axis=0)
        feats = [float(b.mean()) / 255.0 if b.size else 0.0 for b in bands]
        return w, h, len(frames), feats
    decoded = _decode_pixels(fmt, payload)
    if decoded is None:
        return None
    w, h, px = decoded
    lum = px.astype(np.float64)
    if lum.ndim == 3:
        lum = lum.mean(axis=2)
    bands = np.array_split(lum, n_features, axis=0)
    feats = [float(b.mean()) / 255.0 if b.size else 0.0 for b in bands]
    return w, h, 1, feats


def _decode_pixels(fmt: str, payload: bytes):
    """Real-codec still-image pixel decode shared by the feature
    extractor and the perceptual-hash path: ``(w, h, ndarray)`` for the
    formats with a real codec in this repo, ``None`` otherwise (caller
    stubs or skips).  Malformed payloads raise the codec's ValueError —
    quarantine upstream, same contract as :func:`decode_media`."""
    if fmt == "png":
        return decode_png(payload)
    if fmt in ("jpeg", "jpg"):
        return decode_jpeg(payload)
    if fmt == "bmp":
        return decode_bmp(payload)
    if fmt == "pgm":
        return decode_pgm(payload)
    if fmt == "gif":
        return decode_gif(payload)
    return None


def decode_media(df: DataFrame, n_features: int = 8) -> DataFrame:
    """Decode/feature-extract media payloads via Arrow-batched mapInPandas.

    Input rows follow MEDIA_SCHEMA; output DECODED_SCHEMA.  One Python
    worker per partition, Arrow transfer both ways; payload column is
    dropped as early as possible so only features shuffle downstream.

    Formats with a real codec in this repo — ``wav``, ``bmp``, ``pgm``,
    ``png``, ``jpeg``/``jpg``, ``gif``, ``y4m`` (true frame count) — decode for
    real (true dimensions + band features); anything
    else goes through the clearly-marked deterministic stub, so the
    generic entry point is exactly what a PIL/ffmpeg deployment would
    ship, minus the library-gated formats.  Malformed payloads of a known
    format raise (codec ``ValueError``) — quarantine upstream."""

    def one(mid, kind, fmt, p):
        d = _real_decode(fmt, bytes(p) if p is not None else b"", n_features)
        return [(mid, kind) + (d if d is not None else _stub_decode(p, n_features))]

    cols = ["media_id", "kind", "format", "payload"]
    return _map_rows(df, DECODED_SCHEMA, one, cols)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)


#: fixed-point 8-point DCT-II basis, K[u][x] = round(2^15 * cos((2x+1)uπ/16)).
#: HARD-CODED integer literals (not computed at import): the pHash and its
#: DuckDB oracle must share bit-identical coefficients, and a libm cos()
#: re-derivation risks a last-ulp flip at the round() boundary on some
#: platform.  Pure-integer products keep the whole transform exact:
#: |K·K·pixel| ≤ 2^30 · 255 and 64 summands fit int64 with ~18 bits spare.
PHASH_DCT_K = [
    [32768, 32768, 32768, 32768, 32768, 32768, 32768, 32768],
    [32138, 27246, 18205, 6393, -6393, -18205, -27246, -32138],
    [30274, 12540, -12540, -30274, -30274, -12540, 12540, 30274],
    [27246, -6393, -32138, -18205, 18205, 32138, 6393, -27246],
    [23170, -23170, -23170, 23170, 23170, -23170, -23170, 23170],
    [18205, -32138, 6393, 27246, -27246, -6393, 32138, -18205],
    [12540, -30274, 30274, -12540, -12540, 30274, -30274, 12540],
    [6393, -18205, 27246, -32138, 32138, -27246, 18205, -6393],
]

PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
    ]
)


def _phash_of_pixels(px, w: int, h: int) -> int:
    """The 63-bit pHash of one decoded pixel array — ONE definition of
    the luma/resample/DCT/median arithmetic shared by the still-image
    hash (:func:`phash_media`) and the per-frame video hash
    (:func:`video_phash`), so the two can never drift."""
    import numpy as np

    K = np.array(PHASH_DCT_K, dtype=np.int64)
    px = np.asarray(px).astype(np.int64)
    if px.ndim == 3:
        px = (299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]) // 1000
    rows = (np.arange(8) * h) // 8
    cols = (np.arange(8) * w) // 8
    g = px[np.ix_(rows, cols)]
    coef = K @ g @ K.T
    ac = coef.ravel()[1:]
    med = int(np.sort(ac)[31])
    return int(sum(1 << i for i, b in enumerate(ac > med) if b))


def phash_media(df: DataFrame, null_on_error: bool = False) -> DataFrame:
    """Perceptual 63-bit DCT hash per image — the signature that gives
    images the same near-dedup rights as text (pair them with
    ``operators.dedup.hamming_near_pairs``).

    Per image, Arrow-batched: real-codec pixel decode
    (:func:`_decode_pixels`), integer-luma grayscale
    (``(299r + 587g + 114b) div 1000``), nearest-neighbor resample to an
    8×8 grid (``g[i][j] = px[(i·h) div 8][(j·w) div 8]`` — the box-filter
    front-end is the quality upgrade, documented), EXACT fixed-point 2-D
    DCT (:data:`PHASH_DCT_K`, pure int64), then one bit per AC
    coefficient: set iff the coefficient exceeds the MEDIAN of the 63 ACs
    (the classic pHash threshold; the 32nd of 63 sorted values, ties →
    0).  Bit i of the hash is AC index ``u*8 + v - 1`` in row-major
    order; 63 bits keep the hash in a non-negative BIGINT in both
    engines, so the DuckDB oracle replays the arithmetic verbatim.

    Brightness shifts leave every AC (hence the hash) unchanged;
    contrast scaling preserves most threshold signs — while any
    structurally different image diverges in ~half the bits.  Output:
    (media_id, phash).

    ``null_on_error=True`` returns a NULL phash for undecodable rows
    (unknown format / malformed payload) instead of failing the job —
    the ingest sink splits those into its quarantine; analytic queries
    keep the default raise so a bad payload can't silently vanish."""
    def one(mid, fmt: str, payload: bytes):
        decoded = _decode_pixels(fmt, bytes(payload))
        if decoded is None:
            raise ValueError(f"phash_media: no real codec for format {fmt!r}")
        w, h, px = decoded
        return [(mid, _phash_of_pixels(px, w, h))]

    return _map_rows(
        df, PHASH_SCHEMA, one, ["media_id", "format", "payload"], null_on_error
    )


def phash_image_files(
    spark,
    path: str,
    null_on_error: bool = False,
    ids: str = "digits",
    dihedral: bool = False,
) -> DataFrame:
    """JVM-NATIVE image decode lane — the production path for
    FILE-BACKED image corpora: Spark's built-in ``image`` data source
    (Java ImageIO, already on every Spark classpath — no new
    dependencies) decodes JPEG/PNG/BMP/GIF at native rate inside the
    scan, and ONLY the decoded pixel matrix crosses into Python, where
    the SAME fixed-point DCT pHash (:func:`_phash_of_pixels`) runs over
    an Arrow batch.  This retires the pure-Python codecs' constant
    factor for the dominant case (a crawl's images sit in files /
    object storage); the Python codecs remain the cross-engine oracle
    and the in-column-payload fallback.

    Parity contract (pinned by tests): ImageIO's BMP/PNG decode is
    BIT-EXACT vs the repo codecs, so pHashes are identical and the
    arithmetic DuckDB oracles hold verbatim; JPEG (lossy IDCT rounding
    is implementation-defined) agrees within ±1 per pixel on this
    repo's synth patterns, keeping pHash within the pairing threshold.

    ``ids`` picks the identity: ``"digits"`` (default) takes the first
    digit run of the file NAME — the oracle-replayable layout of the
    synth gates, which REQUIRES unique digit runs (``img_12.jpg`` and
    ``12_thumb.png`` would silently merge under one id and same-id
    near-dups stop pairing); production corpora with arbitrary names use
    ``"path-hash"`` (60-bit md5 of the full origin path — collision-safe
    and unique per file, not SQL-replayable).  Files without a usable
    identity or that ImageIO cannot decode (mode == -1 / empty data)
    raise by default; ``null_on_error=True`` emits a NULL pHash row
    instead (the ingest quarantine contract; a digit-less file also gets
    a NULL media_id).  Output: (media_id, phash)."""
    if ids not in ("digits", "path-hash"):
        raise ValueError(f"ids must be 'digits' or 'path-hash', got {ids!r}")
    img = spark.read.format("image").load(path).select("image.*")
    if ids == "digits":
        mid = F.expr(
            "try_cast(regexp_extract(regexp_extract(origin, '([^/]+)$', 1),"
            " '(\\\\d+)', 1) AS BIGINT)"
        )
    else:
        from .hashing import hash64

        mid = hash64(F.col("origin"))
    df = img.select(
        mid.alias("media_id"),
        "height", "width", "nChannels", "mode", "data",
    )

    import numpy as np

    def one(mid, h, w, nc, mode, data):
        if pd.isna(mid):
            raise ValueError("no digit run in image file name")
        buf = bytes(data) if data is not None else b""
        if mode == -1 or h <= 0 or w <= 0 or len(buf) != h * w * nc:
            raise ValueError("undecodable image file")
        arr = np.frombuffer(buf, np.uint8).reshape(h, w, nc)
        if nc == 1:
            px = arr[:, :, 0]
        elif nc == 3:
            px = arr[:, :, ::-1]          # OpenCV BGR -> RGB
        elif nc == 4:
            px = arr[:, :, [2, 1, 0]]     # BGRA -> RGB
        else:
            raise ValueError(f"unsupported channel count {nc}")
        if dihedral:
            # orbit-min canonical hash — identical values to
            # phash_media_dihedral (the decode lane changes the rate, not
            # the pixels, on lossless formats)
            return [(mid, min(
                _phash_of_pixels(t, t.shape[1], t.shape[0])
                for t in (_apply_exif_orientation(px, o) for o in range(1, 9))
            ))]
        return [(mid, _phash_of_pixels(px, int(w), int(h)))]

    cols = ["media_id", "height", "width", "nChannels", "mode", "data"]
    return _map_rows(df, PHASH_SCHEMA, one, cols, null_on_error)


#: payload format -> spilled file extension (ImageIO sniffs content, but
#: conventional extensions keep the corpus browsable / glob-filterable)
_SPILL_EXT = {"jpeg": "jpg"}

#: formats whose "decode" is a numpy slice — the spill bridge is pure
#: overhead for these (datasheet-measured 0.3-0.4×), so
#: phash_media_spilled routes them to the Python lane instead
_UNCOMPRESSED_FORMATS = ("bmp", "pgm")


def spill_media_to_files(
    df: DataFrame, dest: str, precheck_ids: bool = True
) -> str:
    """DISTRIBUTED in-column → file spill: write each ``(media_id,
    format, payload)`` row to ``<dest>/shard=<partitionId>/
    <media_id>.<ext>`` from the EXECUTORS (``foreachPartition``) — zero
    driver staging, so the bridge scales with the cluster, not with one
    machine's heap.  The ``shard=<pid>`` layout is standard Spark
    partition discovery: a plain ``spark.read.format("image")
    .load(dest)`` enumerates every shard with no recursive-lookup
    option, and the synthetic ``shard`` partition column is dropped by
    the lane's ``select("image.*")``.

    Crash-safe like every sink here (``sources/atomic.py``): shards land
    in ``<dest>.staging``, the driver stamps ``_SUCCESS`` only after the
    spill job COMPLETES, and :func:`..sources.atomic.swap_dir` promotes
    staging to live — a killed spill leaves no half-written corpus at
    ``dest``, and :func:`..sources.atomic.recover_dir` applies.

    Deployment note: ``dest`` must be storage every executor can reach
    (in local mode any directory; on a cluster a shared filesystem or a
    FUSE-mounted object store — the same requirement as Spark's own
    file sinks).  Misconfiguration there is SILENT data loss (executors
    write their local disks, the driver promotes an empty staging dir),
    so after the spill job the driver RECONCILES the job-side
    UNIQUE-FILENAME count against the files it can actually see under
    staging and raises on mismatch — before ``_SUCCESS`` is stamped
    (r10, advisory fix).  Exact duplicate rows (same id, same payload —
    the exact-dedup stage's left_semi keeps duplicate left rows)
    overwrite benignly and count once (r11 advisory); the same id with
    a DIFFERENT payload raises as id reuse.  Duplicate ids are handled
    ACROSS partitions too (r11 review fix): one cheap keys-only
    aggregate (id, payload-md5 — map-side partial, no payload shuffle)
    detects them up front; the common no-duplicate case pays only that
    aggregate, a rare benign-duplicate batch reshuffles JUST the
    duplicated ids' rows, and cross-partition id reuse raises instead
    of landing two conflicting ``<id>.<ext>`` files in different
    shards.  The per-partition digest map stays as the within-partition
    backstop.  Rows with a NULL media_id
    or payload raise — the caller's ingest gate quarantines those
    before the bridge.

    ``precheck_ids=False`` (r11) skips the cross-partition duplicate-id
    aggregate — ONE pass over the payloads instead of two — for callers
    whose upstream CONTRACT already guarantees unique ids (the synth
    generators emit exactly one row per id; a production ingest lane's
    id-reuse quarantine runs before the bridge).  The within-partition
    digest backstop and the written-vs-landed reconciliation stay on.
    Returns ``dest`` (normalized)."""
    import os as _os
    import shutil as _shutil

    from ..sources.atomic import swap_dir

    if precheck_ids:
        key_stats = (
            # NULL ids are excluded here so the executor-side NULL guard
            # keeps owning that error; NULL payloads md5 to NULL (ignored
            # by countDistinct) for the same reason
            df.where(F.col("media_id").isNotNull())
            .groupBy("media_id")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.countDistinct(F.md5("payload")).alias("__k"),
            )
            .where("__n > 1")
        )
        dup_keys = key_stats.collect()
        reused = [r.media_id for r in dup_keys if r["__k"] > 1]
        if reused:
            raise ValueError(
                f"spill_media_to_files: media_id(s) {sorted(reused)[:5]} "
                "appear with DIFFERENT payloads — id reuse; quarantine "
                "upstream before spilling"
            )
        if dup_keys:
            # benign exact duplicates possibly split across partitions:
            # reshuffle only those ids' rows so each id writes exactly once
            dup_ids = df.sparkSession.createDataFrame(
                [(int(r.media_id),) for r in dup_keys], "media_id bigint"
            )
            uniq = df.join(F.broadcast(dup_ids), "media_id", "left_anti")
            deduped = (
                df.join(F.broadcast(dup_ids), "media_id", "left_semi")
                .dropDuplicates(["media_id"])
            )
            df = uniq.unionByName(deduped)

    dest = _os.path.normpath(dest)
    staging = dest + ".staging"
    if _os.path.isdir(staging):
        _shutil.rmtree(staging)
    _os.makedirs(staging)

    def write_partition(rows):
        import hashlib as _hashlib
        import os

        from pyspark import TaskContext

        shard = None
        # name -> payload md5: EXACT duplicate rows (same media_id, same
        # payload, twice in one micro-batch — the exact-dedup stage's
        # left_semi keeps duplicate left rows) overwrite within a shard
        # benignly; counting raw writes made the reconciliation below
        # blame shared storage for them (r10 advisory).  Count UNIQUE
        # filenames instead, and keep the loud failure for the case
        # that IS corruption: the same id arriving with a DIFFERENT
        # payload (id reuse the ingest gate should have quarantined).
        written_names = {}
        for r in rows:
            if r.media_id is None or r.payload is None:
                raise ValueError(
                    "spill_media_to_files: NULL media_id/payload — "
                    "quarantine upstream before spilling"
                )
            if r.media_id < 0:
                # the file lane's digit-run identity would silently
                # drop the sign and attribute the hash to the wrong id
                raise ValueError(
                    f"spill_media_to_files: negative media_id "
                    f"{r.media_id} cannot round-trip the file lane's "
                    "digit-run identity — remap upstream"
                )
            if shard is None:  # lazily, so empty partitions write nothing
                pid = TaskContext.get().partitionId()
                shard = os.path.join(staging, f"shard={pid}")
                os.makedirs(shard, exist_ok=True)
            ext = _SPILL_EXT.get(r.format, r.format)
            name = os.path.join(shard, f"{int(r.media_id)}.{ext}")
            payload = bytes(r.payload)
            digest = _hashlib.md5(payload).digest()
            prev = written_names.get(name)
            if prev is not None:
                if prev != digest:
                    raise ValueError(
                        f"spill_media_to_files: media_id "
                        f"{int(r.media_id)} appears twice with "
                        "DIFFERENT payloads — id reuse; quarantine "
                        "upstream before spilling"
                    )
                continue  # benign exact duplicate: one file, one count
            with open(name, "wb") as f:
                f.write(payload)
            written_names[name] = digest
        yield len(written_names)

    written = (
        df.select("media_id", "format", "payload")
        .rdd.mapPartitions(write_partition)
        .sum()
    )
    landed = sum(
        len(files)
        for root, _dirs, files in _os.walk(staging)
        if _os.path.basename(root).startswith("shard=")
    )
    if landed != int(written):
        _shutil.rmtree(staging, ignore_errors=True)
        raise IOError(
            f"spill_media_to_files: executors reported {int(written)} "
            f"unique files written but only {landed} are visible under "
            f"{staging} — dest is not executor-shared storage; "
            "refusing to promote a partial corpus"
        )
    with open(_os.path.join(staging, "_SUCCESS"), "w"):
        pass
    swap_dir(dest)
    return dest


def phash_media_spilled(
    spark,
    df: DataFrame,
    staging_dir: str,
    null_on_error: bool = False,
    dihedral: bool = False,
) -> DataFrame:
    """IN-COLUMN payloads through the JVM-NATIVE decode lane — the
    bridge that retires the pure-Python codecs' constant factor for
    column-resident corpora too (files were already covered by
    :func:`phash_image_files`): :func:`spill_media_to_files` spills the
    payload column to sharded files executor-side, then the ImageIO
    lane decodes them inside the scan and the SAME fixed-point DCT
    pHash runs over the decoded pixels.  Same parity contract as the
    file lane (BMP/PNG bit-exact, JPEG ±1/pixel), so pHashes — and the
    arithmetic DuckDB oracles — are unchanged.

    The spill is EAGER (a Spark job); the returned frame is lazy over
    the spilled files, so keep ``staging_dir`` alive until the result
    is consumed (or ``localCheckpoint(eager=True)`` it first).  The
    spill I/O is one sequential write + one sequential read of the
    payload bytes — amortized many times over by native-vs-Python
    decode on compressed formats (measured in
    ``BENCH_LOCAL.json::media_decode_datasheet``).

    FORMAT DISPATCH (r10): only ENTROPY-CODED formats take the spill
    bridge — for uncompressed formats (BMP/PGM) "decode" is a numpy
    slice, so the file round-trip was a measured 0.3-0.4×
    PESSIMIZATION; those rows stay on the Python lane (which is also
    bit-exact vs ImageIO on BMP, the r8 parity pin) and the two lanes
    union.  A NULL format routes to the Python lane too (it raises
    there, or NULL-quarantines under ``null_on_error`` — a NULL-safe
    ``isin`` would drop the row from BOTH lanes).  Side effect: PGM —
    which ImageIO cannot read, so it NULL-quarantined under the pure
    bridge — now hashes like any in-column payload.  Lane presence is
    decided by ONE column-pruned distinct-formats job, not per-lane
    emptiness probes.

    The three-column projection is ``localCheckpoint``-ed (eager) so
    the upstream plan — in the streaming jvm lane: the md5 gate,
    anti-joins, and id-reuse quarantine joins — runs ONCE, not once
    per consumer (distinct-formats job, Python-lane filter, spill
    job) (r11, advisory fix).  Lineage truncation is safe here: the
    spill lane is eager anyway, and a lost checkpoint block inside a
    streaming micro-batch surfaces as a batch failure foreachBatch
    retries."""
    df = df.select("media_id", "format", "payload").localCheckpoint(
        eager=True
    )
    fmts = {
        r["format"] for r in df.select("format").distinct().collect()
    }
    has_py = bool(fmts & set(_UNCOMPRESSED_FORMATS)) or None in fmts
    has_spill = bool(fmts - set(_UNCOMPRESSED_FORMATS) - {None})
    dispatch_py = (
        F.col("format").isin(*_UNCOMPRESSED_FORMATS)
        | F.col("format").isNull()
    )
    py_hash = phash_media_dihedral if dihedral else phash_media
    parts = []
    if has_py:
        parts.append(
            py_hash(df.where(dispatch_py), null_on_error=null_on_error)
            .select("media_id", "phash")
        )
    if has_spill:
        spill_media_to_files(df.where(~dispatch_py), staging_dir)
        parts.append(
            phash_image_files(
                spark, staging_dir,
                null_on_error=null_on_error, dihedral=dihedral,
            )
        )
    if not parts:
        return py_hash(df, null_on_error=null_on_error).select(
            "media_id", "phash"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def resize_media(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize stage: binary payload in → binary payload out via Arrow-batched
    mapInPandas over MEDIA_SCHEMA rows.

    STUB codec (like :func:`_stub_decode`): the "resized" payload is the
    md5 digest of ``payload + b":{w}x{h}"`` — deterministic, so the
    DuckDB oracle reproduces it; a real deployment swaps the body for
    PIL/ffmpeg and keeps the schema/batching contract unchanged."""
    marker = f":{width}x{height}".encode()

    def one(mid, kind, p):
        out = hashlib.md5((p if p is not None else b"") + marker).digest()
        return [(mid, kind, width, height, out, len(out))]

    return _map_rows(df, RESIZED_SCHEMA, one, ["media_id", "kind", "payload"])


# ---------------------------------------------------------- real WAV codec
# One REAL codec with zero dependencies proves the decode plumbing beyond
# the stubs: RIFF/WAVE PCM16 is fully specified by `struct`, so encode →
# Spark binary column → parse-and-extract runs the same path a PIL/ffmpeg
# deployment would, with an arithmetic oracle checking the bytes survived.

import math
import struct


def encode_wav(samples: list[int], rate: int) -> bytes:
    """Minimal RIFF/WAVE writer: mono PCM16 little-endian."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[int, list[int]]:
    """Minimal RIFF/WAVE parser: returns (sample_rate, samples) with
    every depth NORMALIZED to the 16-bit scale — PCM at 8 (unsigned),
    16, and 24 bits plus IEEE float32 (fmt 3), the depths real corpora
    actually ship (r9).  STEREO downmixes to mono AFTER normalization
    as ``(L + R + 65536) div 2 − 32768`` — the shifted numerator is
    non-negative, so floor division and truncation agree and Python,
    Spark SQL, and DuckDB compute the identical sample (a bare
    ``(L+R)//2`` floors in Python but truncates in both SQL engines on
    odd negative sums).  Anything else — including partial 24-bit/
    float32 samples, stereo half frames, and float samples outside
    [−1, 1] (NaN included) — raises ``ValueError``: a real pipeline
    routes those rows to quarantine, mirroring the corpus readers."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt, channels, rate, bits = struct.unpack("<HHI", payload[20:28]) + (
        struct.unpack("<H", payload[34:36])[0],
    )
    if channels not in (1, 2) or (fmt, bits) not in (
        (1, 8), (1, 16), (1, 24), (3, 32)
    ):
        raise ValueError(f"unsupported WAV encoding fmt={fmt} ch={channels} bits={bits}")
    if payload[36:40] != b"data":
        raise ValueError("missing data chunk")
    (n_bytes,) = struct.unpack("<I", payload[40:44])
    data = payload[44 : 44 + n_bytes]
    # every depth normalizes to the 16-BIT SCALE with floor semantics,
    # so downstream features (windows, fingerprints) are depth-agnostic:
    # 8-bit unsigned -> (b − 128)·256; 24-bit -> s >> 8 (arithmetic
    # shift = the non-negative floor form (s + 2^23) div 256 − 32768,
    # identical in Python and both SQL engines); float32 -> floor
    # (f·32768) with +1.0 clamped to 32767 (f is required in [−1, 1];
    # NaN fails the range check and quarantines)
    if bits == 16:
        samples = list(struct.unpack(f"<{len(data) // 2}h", data))
    elif bits == 8:
        samples = [(b - 128) * 256 for b in data]
    elif bits == 24:
        if len(data) % 3:
            raise ValueError("24-bit WAV with a partial sample")
        samples = [
            int.from_bytes(data[j : j + 3], "little", signed=True) >> 8
            for j in range(0, len(data), 3)
        ]
    else:  # float32
        if len(data) % 4:
            raise ValueError("float32 WAV with a partial sample")
        samples = []
        for f_ in struct.unpack(f"<{len(data) // 4}f", data):
            if not (-1.0 <= f_ <= 1.0):  # also rejects NaN
                raise ValueError(f"float WAV sample out of [-1, 1]: {f_}")
            s = math.floor(f_ * 32768.0)
            samples.append(32767 if s == 32768 else s)
    if channels == 2:
        if len(samples) % 2:
            raise ValueError("stereo WAV with a half frame (odd sample count)")
        samples = [
            (samples[i] + samples[i + 1] + 65536) // 2 - 32768
            for i in range(0, len(samples), 2)
        ]
    return rate, samples


def encode_wav_stereo(left: list[int], right: list[int], rate: int) -> bytes:
    """Minimal RIFF/WAVE writer: STEREO PCM16 little-endian, L/R
    interleaved per frame."""
    if len(left) != len(right):
        raise ValueError("stereo channels must have equal length")
    inter = [s for pair in zip(left, right) for s in pair]
    data = struct.pack(f"<{len(inter)}h", *inter)
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 2, rate, rate * 4, 4, 16,
        b"data", len(data),
    )
    return hdr + data


def synth_wav_stereo(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic STEREO PCM16 WAV per row — left channel is the
    :func:`synth_wav` field ``((31k + 7i) mod 65536) − 32768``, right is
    an independent ``((13k + 11i) mod 65536) − 32768``, ``50 + k mod
    200`` frames at ``8000 + (k mod 8)·1000`` Hz.  Exercises the decode
    downmix on real interleaved bytes; the SQL oracle mirrors the
    shifted floor-average arithmetic sample-for-sample."""

    def make(k: int):
        n = 50 + k % 200
        left = [((k * 31 + i * 7) % 65536) - 32768 for i in range(n)]
        right = [((k * 13 + i * 11) % 65536) - 32768 for i in range(n)]
        return encode_wav_stereo(left, right, 8000 + (k % 8) * 1000), "wav"

    return _synth(df, id_col, make)


def encode_wav_typed(
    samples, rate: int, bits: int, channels: int = 1
) -> bytes:
    """Minimal RIFF/WAVE writer for an EXPLICIT depth: PCM 8 (unsigned
    bytes 0-255) / 16 / 24 bits or IEEE float32 (fmt code 3).
    ``samples`` are NATIVE-depth values, already interleaved when
    ``channels=2`` — this writer exists to drive the decoder's depth
    branches with real bytes."""
    if bits == 8:
        data = bytes(int(s) for s in samples)
    elif bits == 16:
        data = struct.pack(f"<{len(samples)}h", *samples)
    elif bits == 24:
        data = b"".join(
            int(s).to_bytes(3, "little", signed=True) for s in samples
        )
    elif bits == 32:
        data = struct.pack(f"<{len(samples)}f", *samples)
    else:
        raise ValueError(f"unsupported depth {bits}")
    fmt_code = 3 if bits == 32 else 1
    block = channels * bits // 8
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, fmt_code, channels, rate, rate * block, block, bits,
        b"data", len(data),
    )
    return hdr + data


def synth_wav_depths(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic WAVs cycling DEPTH by ``k mod 4`` (8-bit unsigned,
    PCM16, PCM24, float32) and CHANNELS by ``(k div 4) mod 2`` (mono /
    stereo), ``40 + k mod 50`` frames at ``8000 + (k mod 8)·1000`` Hz.
    Raw stream value j (interleaved when stereo):

    * 8-bit:   ``(7k + 11j) mod 256`` (unsigned byte)
    * 16-bit:  ``(31k + 7j) mod 65536 − 32768``
    * 24-bit:  ``(131k + 17j) mod 2^24 − 2^23``
    * float32: ``((13k + 5j) mod 2049 − 1024) / 1024`` — dyadic
      rationals, exactly representable in float32, so the decoder's
      ``floor(f · 32768)`` equals the oracle's pure-integer ``n · 32``
      (with the +1.0 → 32767 clamp mirrored on both sides)."""
    def make(k: int):
        bits = (8, 16, 24, 32)[k % 4]
        channels = 1 + (k // 4) % 2
        n = (40 + k % 50) * channels
        if bits == 8:
            raw = [(7 * k + 11 * j) % 256 for j in range(n)]
        elif bits == 16:
            raw = [(31 * k + 7 * j) % 65536 - 32768 for j in range(n)]
        elif bits == 24:
            raw = [
                (131 * k + 17 * j) % 16777216 - 8388608
                for j in range(n)
            ]
        else:
            raw = [
                ((13 * k + 5 * j) % 2049 - 1024) / 1024.0
                for j in range(n)
            ]
        payload = encode_wav_typed(
            raw, 8000 + (k % 8) * 1000, bits, channels
        )
        return payload, "wav"

    return _synth(df, id_col, make)


WAV_DEPTH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("bits", LongType()),
        StructField("channels", LongType()),
        StructField("n_samples", LongType()),
        StructField("sum_abs", LongType()),
        StructField("max_abs", LongType()),
    ]
)


def wav_depth_stats(df: DataFrame) -> DataFrame:
    """REAL decode over every WAV depth branch: parse, normalize to the
    16-bit scale, downmix when stereo, then exact integer |sample|
    statistics — plus the header's depth/channel fields so the oracle
    pins that the RIGHT branch ran, not just that some samples came
    out."""

    def one(mid, payload):
        p = bytes(payload)
        bits = struct.unpack("<H", p[34:36])[0]
        channels = struct.unpack("<H", p[22:24])[0]
        rate, samples = decode_wav(p)
        aa = [abs(s) for s in samples]
        return [(mid, rate, bits, channels, len(samples), sum(aa), max(aa))]

    return _map_rows(df, WAV_DEPTH_SCHEMA, one, ["media_id", "payload"])


def synth_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic mono PCM16 WAV per row — sample i of row k is
    ``((k·31 + i·7) mod 65536) − 32768`` at rate ``8000 + (k mod 8)·1000``
    with ``50 + k mod 200`` samples: pure arithmetic an SQL oracle can
    mirror, so the encode→decode byte path is verifiable end-to-end."""

    def make(k: int):
        n = 50 + k % 200
        samples = [((k * 31 + i * 7) % 65536) - 32768 for i in range(n)]
        return encode_wav(samples, 8000 + (k % 8) * 1000), "wav"

    return _synth(df, id_col, make)


def synth_audio_clips(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PCM16 clips with PLANTED perceptual near-duplicates
    — the audio fingerprint test corpus (:func:`synth_wav`'s linear ramp
    is fingerprint-degenerate the way the plain image synths are
    pHash-degenerate).

    Every clip is 1550 samples (31 energy windows of 50) of quadratic
    pseudo-noise with SEED-DEPENDENT coefficients,
    ``base(i) = ((17·seed + (3 + seed mod 5)·i² + (11 + seed mod 13)·i)
    mod 4096) − 2048`` — a seed entering only as an additive constant
    would just value-shift the field and every clip's energy profile
    (hence fingerprint) would collapse together.  Ids group in tens:
    slots 0-7 are distinct clips (seed = id); slot 8 replays the group's
    slot-0 clip at DOUBLE amplitude (energy ×4 — every energy DELTA
    keeps its sign, fingerprint distance 0: amplitude invariance, the
    audio analog of pHash brightness invariance); slot 9 replays it with
    additive jitter ``(i mod 127) − 63`` (mild distortion — a few delta
    signs flip, distances land 0-3).  Pure arithmetic an SQL oracle
    mirrors sample-for-sample."""

    def make(k: int):
        slot = k % 10
        seed = k - slot if slot >= 8 else k
        base = [
            ((17 * seed + (3 + seed % 5) * i * i
              + (11 + seed % 13) * i) % 4096) - 2048
            for i in range(1550)
        ]
        if slot == 8:
            samples = [2 * s for s in base]
        elif slot == 9:
            samples = [s + (i % 127) - 63 for i, s in enumerate(base)]
        else:
            samples = base
        return encode_wav(samples, 16000), "wav"

    return _synth(df, id_col, make)


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("afp", LongType()),
    ]
)


def audio_fingerprint(
    df: DataFrame,
    window: int = 50,
    bits: int = 63,
    null_on_error: bool = False,
    windows_per_sec: int | None = None,
) -> DataFrame:
    """Energy-profile audio fingerprint — the dependency-free
    Haitsma-Kalker shape (their spectral bands become time windows here:
    no FFT in this sandbox, and the delta-sign construction is the part
    that matters): per clip, exact integer window energies
    ``E_w = Σ s²`` over ``window`` samples, then one bit per adjacent
    pair, set iff ``E_{w+1} > E_w``.  Doubling the amplitude scales
    every energy by 4 and flips no delta sign — amplitude-invariant the
    way pHash is brightness-invariant — while structurally different
    audio diverges in ~half the bits.

    The signature is BOUNDED to ``bits`` delta bits so it always fits a
    signed BIGINT: clips with more than ``bits + 1`` raw windows fold
    consecutive windows into ``≤ bits + 1`` equal-stride groups (group
    energy = sum of member energies) before taking deltas — whole-clip
    coverage rather than a head truncation, and a clip short enough to
    need no fold (≤ ``bits + 1`` windows) hashes exactly as before.
    Without the bound, any clip over ``(bits + 1) · window`` samples
    (~0.2 s at 16 kHz with the defaults) would shift past bit 63 and
    overflow the Int64 Arrow column — crashing the ingest stream instead
    of quarantining.  Output: (media_id, afp BIGINT, bit w = group-w
    delta); pair with :func:`..operators.dedup.hamming_near_pairs`.

    Offset sensitivity: one clip-level signature shifts wholesale when a
    replay is clipped or padded — use :func:`audio_subfingerprints` +
    :func:`audio_offset_pairs` for offset-robust pairing; this stays the
    cheap first pass.

    RESAMPLE sensitivity: fixed SAMPLE-count windows tie the signature
    to the encoding rate — the same audio re-encoded at 2× the sample
    rate puts different content in every window and never matches.
    ``windows_per_sec`` switches to TIME-based windows
    (``window = max(1, rate // windows_per_sec)`` from the WAV header):
    windows then cover the same time spans at any rate, and a resample
    scales window energies uniformly — delta signs (hence the
    fingerprint) are preserved exactly for integral-factor resamples
    and approximately for the rest."""
    if not (1 <= bits <= 63):
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    if windows_per_sec is not None and windows_per_sec < 1:
        raise ValueError(
            f"windows_per_sec must be >= 1, got {windows_per_sec}"
        )

    def one(mid, payload: bytes):
        rate, samples = decode_wav(bytes(payload))
        win = (
            window
            if windows_per_sec is None
            else max(1, rate // windows_per_sec)
        )
        n_win = len(samples) // win
        e = [
            sum(s * s for s in samples[w * win : (w + 1) * win])
            for w in range(n_win)
        ]
        if len(e) > bits + 1:
            stride = -(-len(e) // (bits + 1))  # ceil
            e = [
                sum(e[g * stride : (g + 1) * stride])
                for g in range(-(-len(e) // stride))
            ]
        return [(mid, sum(1 << w for w in range(len(e) - 1) if e[w + 1] > e[w]))]

    return _map_rows(
        df, AUDIO_FP_SCHEMA, one, ["media_id", "payload"], null_on_error
    )


def synth_audio_clips_offset(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PCM16 clips with PLANTED OFFSET replays — the
    offset-robust fingerprint test corpus.  Slots 0-7 are the same
    quadratic pseudo-noise clips as :func:`synth_audio_clips` (seed =
    id, 1550 samples); slot 8 replays the group's slot-0 clip TRIMMED
    by 100 samples (two energy windows) off the front — every window
    energy shifts two positions, so the clip-level fingerprint misses
    it entirely; slot 9 replays it PADDED with 150 samples (three
    windows) of seed-dependent pseudo-noise at the front.  Trim/pad
    lengths are window multiples so the replayed windows align exactly
    (the sub-fingerprint granularity note on
    :func:`audio_subfingerprints`).  Pure arithmetic an SQL oracle
    mirrors sample-for-sample."""

    def make(k: int):
        slot = k % 10
        seed = k - slot if slot >= 8 else k

        def base(i: int) -> int:
            return (
                (17 * seed + (3 + seed % 5) * i * i
                 + (11 + seed % 13) * i) % 4096
            ) - 2048

        if slot == 8:
            samples = [base(i + 100) for i in range(1450)]
        elif slot == 9:
            samples = [
                ((29 * seed + 7 * i * i + 3 * i) % 4096) - 2048
                for i in range(150)
            ] + [base(i) for i in range(1550)]
        else:
            samples = [base(i) for i in range(1550)]
        return encode_wav(samples, 16000), "wav"

    return _synth(df, id_col, make)


AUDIO_SUBFP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("win_idx", LongType()),
        StructField("subfp", LongType()),
    ]
)


def synth_audio_clips_resampled(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic PCM16 clips with PLANTED RESAMPLED replays — the
    resample-robust fingerprint test corpus.  Slots 0-7 are the
    :func:`synth_audio_clips` quadratic pseudo-noise clips at 16 kHz
    (seed = id); slot 8 replays the group's slot-0 clip SAMPLE-
    DUPLICATED 2× at a 32 kHz header rate (the integral-factor
    re-encode: every time-based window's energy doubles, no delta sign
    flips); slot 9 is the same resample at DOUBLE amplitude (energy ×8
    — still sign-invariant).  Under fixed sample-count windows both
    replays put different content in every window and never match; the
    oracle mirrors sample-for-sample."""

    def make(k: int):
        slot = k % 10
        seed = k - slot if slot >= 8 else k
        base = [
            ((17 * seed + (3 + seed % 5) * i * i
              + (11 + seed % 13) * i) % 4096) - 2048
            for i in range(1550)
        ]
        if slot == 8:
            samples = [s for s in base for _ in (0, 1)]
            rate = 32000
        elif slot == 9:
            samples = [2 * s for s in base for _ in (0, 1)]
            rate = 32000
        else:
            samples = base
            rate = 16000
        return encode_wav(samples, rate), "wav"

    return _synth(df, id_col, make)


def audio_subfingerprints(
    df: DataFrame,
    window: int = 50,
    frame_bits: int = 16,
    null_on_error: bool = False,
) -> DataFrame:
    """Per-window SUB-fingerprint sequence — the actual Haitsma-Kalker
    probe shape (one fingerprint per overlapping frame, matched by ANY
    window, not one fingerprint per clip): for every start window
    ``w``, ``frame_bits`` adjacent energy-delta sign bits
    (bit j = ``E_{w+j+1} > E_{w+j}``) pack into one small integer.  A
    replay clipped or padded by a multiple of ``window`` samples shifts
    its windows wholesale, so its sub-fingerprints EQUAL the original's
    at a constant index offset — :func:`audio_offset_pairs` recovers
    the pair (and the offset) by exact-match voting, where the single
    clip-level :func:`audio_fingerprint` shifts every bit and misses.
    Offsets that are not window multiples land between window
    boundaries; production deployments shrink ``window`` (denser
    window starts, the Haitsma-Kalker heavily-overlapped frames) to
    bound that quantization — the knob, not the algorithm, is
    sandbox-scaled here.

    Output: one row per (clip, start window) — (media_id, win_idx,
    subfp), subfp in [0, 2^frame_bits).  ``null_on_error=True`` emits a
    single NULL-subfp row for undecodable payloads (the quarantine
    contract of :func:`phash_media`/:func:`video_phash`)."""
    if not (1 <= frame_bits <= 62):
        raise ValueError(f"frame_bits must be in [1, 62], got {frame_bits}")

    def one(mid, payload: bytes):
        _, samples = decode_wav(bytes(payload))
        n_win = len(samples) // window
        e = [
            sum(s * s for s in samples[w * window : (w + 1) * window])
            for w in range(n_win)
        ]
        bits = [1 if e[w + 1] > e[w] else 0 for w in range(len(e) - 1)]
        if len(bits) < frame_bits:
            # decodable but too short to carry ANY sub-fingerprint
            # (< frame_bits + 1 windows) — take the quarantine path
            # instead of silently emitting zero rows and vanishing from
            # pairing (the video_phash zero-frame contract)
            raise ValueError("clip too short for any sub-fingerprint")
        return [
            (mid, w0, sum(bits[w0 + j] << j for j in range(frame_bits)))
            for w0 in range(len(bits) - frame_bits + 1)
        ]

    return _map_rows(
        df, AUDIO_SUBFP_SCHEMA, one, ["media_id", "payload"], null_on_error,
        null_tail=(0, None),
    )


def audio_offset_pairs(
    sigs: DataFrame,
    min_matches: int = 8,
    max_df: int = 1000,
    id_col: str = "media_id",
) -> DataFrame:
    """Offset-robust audio pairing over sub-fingerprint sequences: join
    on EXACT sub-fingerprint value, let every match vote for its index
    offset (``win_a − win_b``), and keep a pair when its best-voted
    offset explains at least ``min_matches`` matching windows.  Output
    ``(id_a, id_b, offset, n_matched)`` — one row per pair, best offset
    (vote-count desc, smaller offset tie-break).

    Scale shape: the join is an equi-join on the subfp value — one hash
    shuffle, never corpus²; ``max_df`` drops "stopword" sub-fingerprints
    (global row count above the cap) before the join, the posting-list
    cap that keeps degenerate constant-energy audio from creating
    quadratic hot keys.  At corpus scale, raise ``frame_bits`` (32 bits
    = the published Haitsma-Kalker width) so the key space, not the
    cap, bounds bucket sizes."""
    # the sub-fingerprint frame feeds THREE consumers (the stopword
    # aggregate and both join sides) — without eager materialization
    # each branch recomputes the upstream decode+energy Python pipeline
    s = sigs.where(F.col("subfp").isNotNull()).localCheckpoint(eager=True)
    keep = (
        s.groupBy("subfp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_df)
        .select("subfp")
    )
    sk = s.join(keep, "subfp", "left_semi")
    a = sk.select(
        F.col(id_col).alias("id_a"), F.col("win_idx").alias("__wa"), "subfp"
    )
    b = sk.select(
        F.col(id_col).alias("id_b"), F.col("win_idx").alias("__wb"), "subfp"
    )
    votes = (
        a.join(b, "subfp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy(
            "id_a", "id_b", (F.col("__wa") - F.col("__wb")).alias("win_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    w = Window.partitionBy("id_a", "id_b").orderBy(
        F.desc("n_matched"), F.asc("win_offset")
    )
    return (
        votes.withColumn("__rk", F.row_number().over(w))
        .where((F.col("__rk") == 1) & (F.col("n_matched") >= min_matches))
        .select(
            "id_a",
            "id_b",
            F.col("win_offset").cast("bigint").alias("win_offset"),
            F.col("n_matched").cast("bigint").alias("n_matched"),
        )
    )


def audio_offset_pairs_asym(
    new_sigs: DataFrame,
    corpus_index: DataFrame,
    min_matches: int = 8,
    max_df: int = 1000,
    id_col: str = "media_id",
) -> DataFrame:
    """Asymmetric OFFSET-ROBUST audio probe: a batch's sub-fingerprint
    sequences against a persisted index whose rows are
    ``(corpus_id, win_idx, subfp)`` — the continuous-ingest analog of
    :func:`audio_offset_pairs`, same vote contract (exact sub-fingerprint
    matches at a consistent window offset, best offset must explain ≥
    ``min_matches`` windows).  Per-batch cost scales with the new side's
    sub-fingerprints, never with corpus-internal pair volume; the
    ``max_df`` stopword cap is computed over the STANDING index (its
    posting lengths are what explode on degenerate audio).  Rows whose
    corpus_id equals the probing id are EXCLUDED (replay self-immunity,
    the owner-exclusion contract).  Output:
    ``(new_id, corpus_id, win_offset, n_matched)``."""
    new_s = new_sigs.where(F.col("subfp").isNotNull()).localCheckpoint(
        eager=True
    )
    # replay-duplicated index rows (the crash contract: index appends land
    # before the corpus append, so a replayed epoch re-appends its rows)
    # must not inflate the per-offset vote counts — reduce to distinct
    # (corpus_id, win_idx, subfp) BEFORE the df cap and the vote join, the
    # same reduction video_trimmed_pairs_asym applies to its frame rows
    corpus = (
        corpus_index.where(F.col("subfp").isNotNull())
        .select("corpus_id", "win_idx", "subfp")
        .distinct()
    )
    keep = (
        corpus.groupBy("subfp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_df)
        .select("subfp")
    )
    a = new_s.join(keep, "subfp", "left_semi").select(
        F.col(id_col).alias("new_id"), F.col("win_idx").alias("__wa"), "subfp"
    )
    b = corpus.join(keep, "subfp", "left_semi").select(
        "corpus_id", F.col("win_idx").alias("__wb"), "subfp"
    )
    votes = (
        a.join(b, "subfp")
        .where(F.col("new_id") != F.col("corpus_id"))
        .groupBy(
            "new_id", "corpus_id",
            (F.col("__wa") - F.col("__wb")).alias("win_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    w = Window.partitionBy("new_id", "corpus_id").orderBy(
        F.desc("n_matched"), F.asc("win_offset")
    )
    return (
        votes.withColumn("__rk", F.row_number().over(w))
        .where((F.col("__rk") == 1) & (F.col("n_matched") >= min_matches))
        .select(
            "new_id",
            "corpus_id",
            F.col("win_offset").cast("bigint").alias("win_offset"),
            F.col("n_matched").cast("bigint").alias("n_matched"),
        )
    )


WAV_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("sum_abs", LongType()),
        StructField("max_abs", LongType()),
    ]
)


def wav_stats(df: DataFrame) -> DataFrame:
    """REAL decode stage: parse each WAV payload (:func:`decode_wav`) and
    emit integer audio statistics — integers, so engines compare exactly.
    Payload column drops at this stage; only 5 scalars flow on."""

    def one(mid, payload):
        rate, samples = decode_wav(bytes(payload))
        aa = [abs(s) for s in samples]
        return [(mid, rate, len(samples), sum(aa), max(aa) if aa else 0)]

    return _map_rows(df, WAV_STATS_SCHEMA, one, ["media_id", "payload"])


# ---------------------------------------------------------- real BMP codec
# The image analog of the WAV codec: uncompressed 24-bit BMP is fully
# specified by struct (BGR, bottom-up rows, 4-byte row padding), and
# nearest-neighbor resize is exact integer index math — so the whole
# decode → numpy resize → re-encode chain is real AND arithmetic-oracle
# verifiable.


def encode_bmp(width: int, height: int, pixels) -> bytes:
    """Minimal 24-bit uncompressed BMP writer.  ``pixels`` is a numpy
    uint8 array of shape (height, width, 3) in top-down RGB order."""
    import numpy as np

    row_bytes = width * 3
    pad = (-row_bytes) % 4
    img_size = (row_bytes + pad) * height
    hdr = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 0, 0, 0, 0)
    bgr = pixels[:, :, ::-1]  # RGB -> BGR
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        rows.append(bgr[y].tobytes() + b"\x00" * pad)
    return hdr + info + b"".join(rows)


def decode_bmp(payload: bytes):
    """Minimal 24-bit BMP parser → (width, height, numpy (h, w, 3) RGB
    top-down).  Raises ``ValueError`` for anything but the uncompressed
    24-bit layout."""
    import numpy as np

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack("<I", payload[10:14])
    size, width, height, planes, bits, comp = struct.unpack("<IiiHHI", payload[14:34])
    if size != 40 or bits != 24 or comp != 0 or planes != 1 or height <= 0:
        raise ValueError(f"unsupported BMP: hdr={size} bits={bits} comp={comp}")
    row_bytes = width * 3
    pad = (-row_bytes) % 4
    out = np.empty((height, width, 3), dtype="uint8")
    pos = offset
    for y in range(height - 1, -1, -1):
        row = np.frombuffer(payload[pos : pos + row_bytes], dtype="uint8")
        out[y] = row.reshape(width, 3)[:, ::-1]  # BGR -> RGB
        pos += row_bytes + pad
    return width, height, out


def synth_texture_bmp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic TEXTURED grayscale BMP per row, with PLANTED
    perceptual near-duplicates — the pHash test corpus (plain
    :func:`synth_bmp`/:func:`synth_jpeg` patterns are gradients /
    block ramps whose pHashes collapse degenerately).

    Every id's texture is a quadratic-form pseudo-noise field
    ``base(x, y) = (17·seed + 3x² + 7y² + 5xy + 11x + 13y) mod 251``
    (251 < 256 leaves headroom so the planted edits never wrap), size
    ``(8 + seed mod 5) × (8 + 3·seed mod 7)``.  Ids are grouped in tens:
    slots 0-7 are distinct textures (seed = id); slot 8 replays the
    group's slot-0 texture at +4 brightness (pHash distance 0 — the
    AC spectrum is brightness-invariant); slot 9 replays it at reduced
    contrast (``base - base div 16``), a small-but-nonzero perceptual
    edit.  Pure arithmetic an SQL oracle mirrors pixel-for-pixel."""
    import numpy as np

    def make(k: int):
        slot = k % 10
        seed = k - slot if slot >= 8 else k
        w, h = 8 + seed % 5, 8 + (3 * seed) % 7
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        base = (
            17 * seed + 3 * xs * xs + 7 * ys * ys
            + 5 * xs * ys + 11 * xs + 13 * ys
        ) % 251
        if slot == 8:
            gray = base + 4
        elif slot == 9:
            gray = base - base // 16
        else:
            gray = base
        px = np.repeat(gray.astype("uint8")[:, :, None], 3, axis=2)
        return encode_bmp(w, h, px), "bmp"

    return _synth(df, id_col, make)


def synth_bmp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic BMP per row: size (8 + k mod 9) × (8 + 3k mod 9),
    grayscale pixel(x, y) = (k + 3x + 5y) mod 256 — pure arithmetic an
    SQL oracle mirrors."""
    import numpy as np

    def make(k: int):
        w, h = 8 + k % 9, 8 + (3 * k) % 9
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        gray = ((k + 3 * xs + 5 * ys) % 256).astype("uint8")
        px = np.repeat(gray[:, :, None], 3, axis=2)
        return encode_bmp(w, h, px), "bmp"

    return _synth(df, id_col, make)


def resize_bmp(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize stage: decode BMP → nearest-neighbor index
    (src = (dst · src_extent) // dst_extent, exact integer math) →
    re-encode.  Same MEDIA_SCHEMA in and out — a drop-in replacement for
    the stub :func:`resize_media` when the format is BMP."""
    import numpy as np

    def one(mid, kind, payload):
        w, h, px = decode_bmp(bytes(payload))
        sx = (np.arange(width) * w) // width
        sy = (np.arange(height) * h) // height
        out = encode_bmp(width, height, px[sy[:, None], sx[None, :]])
        return [(mid, kind, out, "bmp", len(out))]

    return _map_rows(df, MEDIA_SCHEMA, one, ["media_id", "kind", "payload"])


BMP_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_red", LongType()),
    ]
)


def bmp_stats(df: DataFrame) -> DataFrame:
    """Decode BMP payloads → integer pixel statistics (exact for any SQL
    oracle): dimensions + sum of the red channel."""

    def one(mid, payload):
        w, h, px = decode_bmp(bytes(payload))
        return [(mid, w, h, int(px[:, :, 0].astype("int64").sum()))]

    return _map_rows(df, BMP_STATS_SCHEMA, one, ["media_id", "payload"])


def sample_frames(df: DataFrame, every: int = 2) -> DataFrame:
    """Frame-sampling contract: one output row per kept frame index.

    Pure column ops — the per-frame payload decode would live in a
    mapInPandas stage like :func:`decode_media` (stubbed environment)."""
    return df.select(
        "media_id",
        "kind",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every))).alias("frame_idx"),
        "features",
    )


# ---------------------------------------------------------- real PGM codec
# Third real codec (after WAV and BMP): binary netpbm P5 grayscale — an
# ASCII header + raw bytes, so the parser exercises the textual-header
# branch the struct-only codecs don't, and 2× downsampling is pure numpy
# slicing the oracle can mirror arithmetically.


def encode_pgm(width: int, height: int, pixels) -> bytes:
    """Minimal binary PGM (P5) writer.  ``pixels``: numpy uint8 (h, w)."""
    return f"P5\n{width} {height}\n255\n".encode("ascii") + pixels.tobytes()


def decode_pgm(payload: bytes):
    """Minimal P5 parser → (width, height, numpy uint8 (h, w)).  Raises
    ``ValueError`` on non-P5 or truncated payloads (quarantine rows)."""
    import numpy as np

    if not payload.startswith(b"P5"):
        raise ValueError("not a binary PGM (P5) payload")
    parts = payload.split(b"\n", 3)
    if len(parts) < 4:
        raise ValueError("truncated PGM header")
    dims = parts[1].split()
    if len(dims) != 2 or parts[2] != b"255":
        raise ValueError(f"unsupported PGM header {parts[1]!r}/{parts[2]!r}")
    w, h = int(dims[0]), int(dims[1])
    raw = parts[3]
    if len(raw) < w * h:
        raise ValueError("truncated PGM data")
    return w, h, np.frombuffer(raw[: w * h], dtype=np.uint8).reshape(h, w)


def synth_pgm(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic grayscale PGM per row: ``w = 8 + k mod 9``,
    ``h = 8 + k mod 7``, pixel (x, y) = ``(k·13 + y·w + x·3) mod 256`` —
    pure arithmetic, SQL-mirrorable, so the encode→decode byte path is
    verifiable end-to-end."""
    import numpy as np

    def make(k: int):
        w, h = 8 + k % 9, 8 + k % 7
        ys, xs = np.mgrid[0:h, 0:w]
        px = ((k * 13 + ys * w + xs * 3) % 256).astype(np.uint8)
        return encode_pgm(w, h, px), "pgm"

    return _synth(df, id_col, make)


def _pixel_stats(decode, red_only: bool = False):
    """Per-row ``(media_id, width, height, sum_px, max_px, ds2_sum)`` of
    a still-image decoder's output — the exact integer statistics shared
    by the PGM/PNG/JPEG/GIF stats stages, over every sample or, with
    ``red_only``, over the red channel alone."""

    def one(mid, payload):
        w, h, px = decode(bytes(payload))
        if red_only:
            px = px[:, :, 0].astype("int64")
        ds = px[::2, ::2]
        return [(mid, w, h, int(px.sum()), int(px.max()), int(ds.sum()))]

    return one


PGM_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_px", LongType()),
        StructField("max_px", LongType()),
        StructField("ds2_sum", LongType()),
    ]
)


def pgm_stats(df: DataFrame) -> DataFrame:
    """REAL decode + numpy 2× downsample: parse each PGM payload, report
    integer pixel statistics and the sum of the ``[::2, ::2]``-sampled
    image (the frame-sample/resize arithmetic on a real byte path).
    Payloads drop here; six int64 scalars flow on."""
    return _map_rows(
        df, PGM_STATS_SCHEMA, _pixel_stats(decode_pgm), ["media_id", "payload"]
    )


# ---------------------------------------------------------- real PNG codec
# The format a real crawl actually contains.  Dependency-free: chunk
# framing with CRC32 verification, IDAT inflate via stdlib zlib, and
# per-scanline unfilter (None/Sub/Up/Average/Paeth per the PNG spec
# §4.5.4) reconstructed byte-exactly.  Bit depth 8, grayscale (color 0)
# and truecolor RGB (color 2), non-interlaced — the shapes synthetic and
# crawl thumbnails actually use.  Replaces the `_stub_decode` path for
# PNG payloads; the stub remains for formats whose codecs genuinely need
# external libraries.

import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth_vec(a, b, c):
    """Vectorized Paeth predictor (PNG spec pseudo-code, numpy int64)."""
    import numpy as np

    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(width: int, height: int, pixels, row_filters=None) -> bytes:
    """Minimal PNG writer: uint8 ``(h, w)`` grayscale or ``(h, w, 3)``
    RGB.  ``row_filters`` picks the per-scanline filter type (default
    cycles 0..4, so every unfilter branch of the decoder sees real
    traffic); filtering uses the TRUE pixel values, so it vectorizes."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    bpp = 1 if gray else 3
    stride = width * bpp
    if row_filters is None:
        row_filters = [y % 5 for y in range(height)]
    flat = px.reshape(height, stride).astype(np.int64)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    zeros = np.zeros(bpp, dtype=np.int64)
    for y in range(height):
        row = flat[y]
        left = np.concatenate([zeros, row[:-bpp]]) if stride > bpp else np.zeros_like(row)
        up_left = np.concatenate([zeros, prev[:-bpp]]) if stride > bpp else np.zeros_like(row)
        ft = int(row_filters[y]) % 5
        if ft == 0:
            pred = 0
        elif ft == 1:
            pred = left
        elif ft == 2:
            pred = prev
        elif ft == 3:
            pred = (left + prev) >> 1
        else:
            pred = _paeth_vec(left, prev, up_left)
        raw.append(ft)
        raw += ((row - pred) & 0xFF).astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0 if gray else 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_typed(
    width: int, height: int, samples, color_type: int, plte: bytes | None = None
) -> bytes:
    """Minimal PNG writer for an EXPLICIT color type (palette 3 needs
    ``plte``; gray+alpha 4 / RGBA 6 take the alpha in the last
    channel).  Filter-0 scanlines — the filter variety is the grayscale
    gate's job; this writer exists to drive the decoder's color-type
    branches with real chunk streams."""
    import numpy as np

    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    px = np.asarray(samples, dtype=np.uint8).reshape(height, width * bpp)
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(height))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG needs a PLTE table")
        out += _png_chunk(b"PLTE", plte)
    return out + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")


def synth_png_variants(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PNGs cycling the NON-gray color types by id mod 3 —
    the shapes the web actually serves: palette (indices
    ``(7k + 3x + 5y) mod 251`` through a 256-gray PLTE), RGBA
    (``r = (7k+3x+5y) mod 256, g = (11k+2x+3y) mod 256,
    b = (13k+x+7y) mod 256`` with an ignored alpha), and gray+alpha.
    Size ``(8 + k mod 9) × (8 + 3k mod 7)``; pure arithmetic an SQL
    oracle mirrors through the decoder's palette-map / alpha-drop."""
    import numpy as np

    def make(k: int):
        w, h = 8 + k % 9, 8 + (3 * k) % 7
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        base = ((7 * k + 3 * xs + 5 * ys) % 256).astype(np.uint8)
        v = k % 3
        if v == 0:
            idx = ((7 * k + 3 * xs + 5 * ys) % 251).astype(np.uint8)
            plte = bytes(i for i in range(256) for _ in range(3))
            payload = encode_png_typed(w, h, idx, 3, plte)
        elif v == 1:
            rgba = np.stack(
                [
                    base,
                    ((11 * k + 2 * xs + 3 * ys) % 256).astype(np.uint8)
                    + 0 * base,
                    ((13 * k + xs + 7 * ys) % 256).astype(np.uint8)
                    + 0 * base,
                    ((xs + ys) % 256).astype(np.uint8) + 0 * base,
                ],
                axis=2,
            )
            payload = encode_png_typed(w, h, rgba, 6)
        else:
            ga = np.stack(
                [base, ((xs * ys) % 256).astype(np.uint8) + 0 * base],
                axis=2,
            )
            payload = encode_png_typed(w, h, ga, 4)
        return payload, "png"

    return _synth(df, id_col, make)


#: Adam7 pass origins and strides: (x0, y0, dx, dy) per PNG spec §8.2
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, n_rows: int, stride: int, bpp: int) -> bytes:
    """Reconstruct ``n_rows`` scanlines of ``stride`` bytes each from
    filtered data (one filter byte + stride bytes per row) — the five
    PNG filter types, shared by the sequential and Adam7 paths (each
    Adam7 pass filters against ITS OWN previous scanline)."""
    recon = bytearray()
    prev = bytes(stride)
    for y in range(n_rows):
        base = y * (stride + 1)
        ft = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ft == 0:
            pass
        elif ft == 1:
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        recon += line
        prev = bytes(line)
    return bytes(recon)


def decode_png(payload: bytes):
    """Minimal PNG parser → ``(width, height, numpy uint8 (h, w) or
    (h, w, 3))``.  Verifies chunk CRCs, inflates the concatenated IDAT
    stream, and reconstructs each scanline per its filter byte.  All
    five bit-depth-8 color types decode: gray (0), RGB (2), PALETTE (3
    — indices map through the PLTE table, the web's icon/chart format),
    gray+alpha (4) and RGBA (6) — alpha drops (treated as opaque; the
    curation/dedup pipelines consume opaque statistics).  ADAM7
    interlacing (r9) de-interlaces through the same unfilter: seven
    independently-filtered sub-images scattered back by stride —
    a reordering, never a change, of the sample values.  Raises
    ``ValueError`` for malformed payloads or sub-8-bit depths
    (quarantine rows)."""
    import numpy as np

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, seen_end = 8, None, bytearray(), False
    plte = None
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) != ln or pos + 12 + ln > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = body
        elif tag == b"PLTE":
            plte = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            seen_end = True
            break
        pos += 12 + ln
    if ihdr is None or not seen_end:
        raise ValueError("missing IHDR/IEND")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if (
        depth != 8
        or color not in (0, 2, 3, 4, 6)
        or comp
        or filt
        or interlace not in (0, 1)
    ):
        raise ValueError(
            f"unsupported PNG: depth={depth} color={color} interlace={interlace}"
        )
    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    stride = w * bpp
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT stream: {e}") from e
    if interlace == 0:
        if len(raw) != h * (stride + 1):
            raise ValueError("PNG data length mismatch")
        recon = _png_unfilter(raw, h, stride, bpp)
    else:
        # Adam7: seven independently-filtered sub-images, reassembled by
        # strided scatter — interlacing REORDERS samples, it never
        # changes them, so the non-interlaced oracles gate this verbatim
        recon_arr = np.zeros(h * stride, dtype=np.uint8).reshape(h, w, bpp)
        off = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue  # empty pass: NO scanlines at all, per spec
            pstride = pw * bpp
            end = off + ph * (pstride + 1)
            if end > len(raw):
                raise ValueError("PNG interlaced data length mismatch")
            sub = _png_unfilter(raw[off:end], ph, pstride, bpp)
            off = end
            recon_arr[y0::dy, x0::dx] = np.frombuffer(
                sub, dtype=np.uint8
            ).reshape(ph, pw, bpp)
        if off != len(raw):
            raise ValueError("PNG interlaced data length mismatch")
        recon = recon_arr.tobytes()
    arr = np.frombuffer(bytes(recon), dtype=np.uint8)
    if color == 0:
        return w, h, arr.reshape(h, w)
    if color == 2:
        return w, h, arr.reshape(h, w, 3)
    if color == 3:
        if plte is None or len(plte) == 0 or len(plte) % 3:
            raise ValueError("palette PNG without a valid PLTE chunk")
        idx = arr.reshape(h, w)
        if int(idx.max(initial=0)) >= len(plte) // 3:
            raise ValueError("PNG palette index outside the PLTE table")
        lut = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        return w, h, lut[idx]
    if color == 4:
        return w, h, arr.reshape(h, w, 2)[:, :, 0]
    return w, h, arr.reshape(h, w, 4)[:, :, :3]


def synth_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic grayscale PNG per row: ``w = 8 + k mod 9``,
    ``h = 8 + (3k) mod 7``, pixel (x, y) = ``(7k + 3x + 5y) mod 256``;
    the per-scanline filter cycles ``(k + y) mod 5`` so the corpus as a
    whole exercises every filter type.  Pure arithmetic, SQL-mirrorable."""
    import numpy as np

    def make(k: int):
        w, h = 8 + k % 9, 8 + (3 * k) % 7
        ys, xs = np.mgrid[0:h, 0:w]
        px = ((7 * k + 3 * xs + 5 * ys) % 256).astype(np.uint8)
        return encode_png(w, h, px, row_filters=[(k + y) % 5 for y in range(h)]), "png"

    return _synth(df, id_col, make)


def encode_png_interlaced(width: int, height: int, pixels, row_filters=None) -> bytes:
    """Minimal ADAM7-interlaced PNG writer: uint8 ``(h, w)`` grayscale
    or ``(h, w, 3)`` RGB.  Each of the seven passes is extracted by
    stride, filtered as an independent sub-image (``row_filters`` picks
    the filter per GLOBAL pass-scanline index, default cycles 0..4 so
    the interlaced path exercises every unfilter branch), and an empty
    pass emits no scanlines at all — the spec shape tiny images hit."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2
    bpp = 1 if gray else 3
    px3 = px.reshape(height, width, bpp).astype(np.int64)
    raw = bytearray()
    row_no = 0
    zeros = np.zeros(bpp, dtype=np.int64)
    for x0, y0, dx, dy in _ADAM7_PASSES:
        sub = px3[y0::dy, x0::dx]
        ph, pw = sub.shape[0], sub.shape[1]
        if pw == 0 or ph == 0:
            continue
        pstride = pw * bpp
        flat = sub.reshape(ph, pstride)
        prev = np.zeros(pstride, dtype=np.int64)
        for y in range(ph):
            row = flat[y]
            left = (
                np.concatenate([zeros, row[:-bpp]])
                if pstride > bpp
                else np.zeros_like(row)
            )
            up_left = (
                np.concatenate([zeros, prev[:-bpp]])
                if pstride > bpp
                else np.zeros_like(row)
            )
            ft = (
                int(row_filters[row_no]) % 5
                if row_filters is not None
                else row_no % 5
            )
            row_no += 1
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = prev
            elif ft == 3:
                pred = (left + prev) >> 1
            else:
                pred = _paeth_vec(left, prev, up_left)
            raw.append(ft)
            raw += ((row - pred) & 0xFF).astype(np.uint8).tobytes()
            prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0 if gray else 2, 0, 0, 1)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def synth_png_interlaced(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The :func:`synth_png` texture encoded ADAM7-INTERLACED — same
    size and pixel arithmetic (``(7k + 3x + 5y) mod 256``, ``(8 + k mod
    9) × (8 + 3k mod 7)``), filters cycling ``(k + r) mod 5`` over the
    pass scanlines.  Interlacing reorders samples without changing
    them, so the non-interlaced stats oracle gates this corpus
    VERBATIM."""
    import numpy as np

    def make(k: int):
        w, h = 8 + k % 9, 8 + (3 * k) % 7
        ys, xs = np.mgrid[0:h, 0:w]
        px = ((7 * k + 3 * xs + 5 * ys) % 256).astype(np.uint8)
        payload = encode_png_interlaced(
            w, h, px, row_filters=[(k + r) % 5 for r in range(7 * h)]
        )
        return payload, "png"

    return _synth(df, id_col, make)


def resize_png(df: DataFrame, width: int, height: int) -> DataFrame:
    """REAL resize on the PNG byte path: decode → nearest-neighbor index
    (``src = (dst · src_extent) // dst_extent``) → re-encode.  Same
    MEDIA_SCHEMA in and out, like :func:`resize_bmp`."""
    import numpy as np

    def one(mid, kind, payload):
        w, h, px = decode_png(bytes(payload))
        sx = (np.arange(width) * w) // width
        sy = (np.arange(height) * h) // height
        out = encode_png(width, height, px[sy[:, None], sx[None, :]])
        return [(mid, kind, out, "png", len(out))]

    return _map_rows(df, MEDIA_SCHEMA, one, ["media_id", "kind", "payload"])


PNG_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_px", LongType()),
        StructField("max_px", LongType()),
        StructField("ds2_sum", LongType()),
    ]
)


def png_stats(df: DataFrame) -> DataFrame:
    """REAL decode + numpy 2× downsample over the PNG byte path: inflate,
    unfilter, then report exact integer pixel statistics (same contract
    as :func:`pgm_stats`, so the oracle arithmetic carries over)."""
    return _map_rows(
        df, PNG_STATS_SCHEMA, _pixel_stats(decode_png), ["media_id", "payload"]
    )


# --------------------------------------------------------- real JPEG codec
# The other format a real crawl actually contains (most of it, in fact).
# Dependency-free baseline sequential DCT per ITU T.81: marker/segment
# framing, DQT/DHT/SOF0/SOS parsing, canonical Huffman entropy decode with
# 0xFF00 byte-unstuffing, DC differential + (run, size) AC run-length
# coding, dequantize -> inverse zigzag -> separable float IDCT -> level
# shift, and JFIF YCbCr <-> RGB for 3-component images.  Scope (honest,
# like the PNG codec's): 8-bit baseline, grayscale or chroma-subsampled
# color (sampling factors in {1, 2}: 4:4:4 / 4:2:0 / 4:2:2 / 4:4:0),
# DRI/RSTn restart intervals supported; progressive scans raise
# ValueError for upstream quarantine.  The Huffman tables the
# ENCODER emits are canonical fixed-length tables carried in DHT (the
# decoder builds its tables from DHT generically, so third-party baseline
# files with Annex K tables decode too).
#
# Reference parity note: the reference engine (slice-db) has no media
# path at all; this extends the LLM-pipeline surface the same way
# wav/bmp/pgm/png did (multimodal rows in SURVEY.md §2 appendix).


def _jpeg_zigzag() -> list[tuple[int, int]]:
    """The 64 (row, col) coordinates in JPEG zigzag scan order, generated
    from the anti-diagonal traversal rule instead of a typed-in table."""
    out = []
    for s in range(15):
        diag = [(u, s - u) for u in range(max(0, s - 7), min(s, 7) + 1)]
        if s % 2 == 0:
            diag.reverse()
        out += diag
    return out


_ZIGZAG = _jpeg_zigzag()

#: flat (8·u + v) index per zigzag position — the vectorized gather the
#: per-block coordinate loop used to do one scalar at a time (r11)
_ZIGZAG_FLAT = [8 * u + v for (u, v) in _ZIGZAG]


def _plane_zigzag_q(plane, a, qtab):
    """Quantized zigzag coefficients of EVERY 8×8 block of a padded
    float64 plane at once → ``(by, bx, 64)`` int64 (DC unclipped, ACs
    clamped to the baseline ±1023 magnitude cap).  The per-block
    arithmetic is exactly the serial form's — the same float64 8×8
    GEMMs per block slice, the same floor+0.5 rounding, the same AC
    clip — batched over the block axis, so emitted entropy streams are
    byte-identical (r11)."""
    import numpy as np

    h, w = plane.shape
    by, bx = h // 8, w // 8
    blocks = (
        plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3).reshape(by * bx, 8, 8)
    )
    q = np.floor((a @ blocks @ a.T) / qtab + 0.5).astype(np.int64)
    zz = q.reshape(by * bx, 64)[:, _ZIGZAG_FLAT]
    zz[:, 1:] = np.clip(zz[:, 1:], -1023, 1023)
    return zz.reshape(by, bx, 64)


def _dct_basis():
    """Orthonormal 8-point DCT-II basis A (A @ f @ A.T = coefficients;
    A.T @ F @ A = samples)."""
    import math

    import numpy as np

    a = np.zeros((8, 8))
    for u in range(8):
        c = math.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16)
    return a


def _jpeg_huff_spec():
    """(bits, vals) pairs for the DC and AC tables this encoder emits:
    canonical FIXED-LENGTH tables (twelve 4-bit DC codes; 162 8-bit AC
    codes covering EOB, ZRL and every (run 0-15, size 1-10) symbol).
    Valid Huffman tables (Kraft < 1, the all-ones code unused), carried
    verbatim in DHT — suboptimal compression, zero transcription risk."""
    dc_bits = [0] * 16
    dc_bits[3] = 12
    dc_vals = list(range(12))
    ac_bits = [0] * 16
    ac_bits[7] = 162
    ac_vals = [0x00, 0xF0] + [r * 16 + s for r in range(16) for s in range(1, 11)]
    return (dc_bits, dc_vals), (ac_bits, ac_vals)


def _jpeg_prog_huff_spec():
    """AC table for PROGRESSIVE scans: the baseline symbol set plus the
    fourteen EOBn codes (s = 0, r = 1..14 — EOB runs of 2..32767, Annex
    G.1.2.2) baseline tables never carry.  176 symbols at a fixed 8 bits
    is still a valid canonical table (≤ 255, all-ones code unused)."""
    ac_bits = [0] * 16
    ac_bits[7] = 176
    ac_vals = (
        [0x00, 0xF0]
        + [r * 16 for r in range(1, 15)]  # EOB1..EOB14
        + [r * 16 + s for r in range(16) for s in range(1, 11)]
    )
    return ac_bits, ac_vals


def _huff_encode_map(bits, vals):
    """Canonical code assignment per T.81 Annex C: {symbol: (code, len)}."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_map(bits, vals):
    """Canonical code assignment inverted for decoding: {(len, code): sym}."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


def _jpeg_skip_entropy(data: bytes, pos: int) -> int:
    """Position of the first REAL marker after an entropy-coded segment
    starting at ``pos``: stuffed 0xFF00 pairs and RSTn markers belong to
    the entropy stream, 0xFF fill bytes may pad before a marker
    (T.81 B.1.1.2)."""
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        nxt = data[pos + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:  # stuffing / restart
            pos += 2
        elif nxt == 0xFF:  # fill byte
            pos += 1
        else:
            return pos
    raise ValueError("truncated JPEG entropy stream")


class _JpegBitReader:
    """MSB-first bit reader with 0xFF00 unstuffing; an unexpected marker
    inside the entropy stream is a hard error — expected RSTn markers are
    consumed at restart boundaries via :meth:`sync_restart`."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.d):
                raise ValueError("truncated JPEG entropy stream")
            b = self.d[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.d):
                    raise ValueError("truncated JPEG entropy stream")
                if self.d[self.pos] == 0x00:
                    self.pos += 1
                else:
                    raise ValueError("marker inside JPEG entropy stream")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self, n: int) -> None:
        """Consume an RSTn marker at a restart boundary: discard the
        current byte's padding bits, allow 0xFF fill bytes before the
        marker (T.81 B.1.1.2 permits them anywhere a marker may appear),
        then expect 0xD0+n (modulo-8 sequence per T.81 E.1.4)."""
        self.n = 0  # byte-align: padding bits before the marker drop
        if self.pos >= len(self.d) or self.d[self.pos] != 0xFF:
            raise ValueError("missing JPEG restart marker")
        while self.pos < len(self.d) and self.d[self.pos] == 0xFF:
            self.pos += 1  # consume the marker prefix + any fill bytes
        if self.pos >= len(self.d) or self.d[self.pos] != 0xD0 + (n % 8):
            raise ValueError("missing/misnumbered JPEG restart marker")
        self.pos += 1


def _jpeg_magnitude(v: int) -> tuple[int, int]:
    """(size, appended bits) per T.81 F.1.2.1: negatives are stored as
    v + 2^size - 1 (one's-complement of the magnitude)."""
    if v == 0:
        return 0, 0
    size = abs(v).bit_length()
    return size, (v if v > 0 else v + (1 << size) - 1)


def _jpeg_extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _rgb_to_ycbcr(px):
    """JFIF full-range RGB -> YCbCr planes (uint8, half-up rounding)."""
    import numpy as np

    r = px[:, :, 0].astype(np.float64)
    g = px[:, :, 1].astype(np.float64)
    b = px[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return [
        np.clip(np.floor(p + 0.5), 0, 255).astype(np.uint8) for p in (y, cb, cr)
    ]


def _ycbcr_to_rgb(y, cb, cr):
    import numpy as np

    y = y.astype(np.float64)
    cb = cb.astype(np.float64) - 128.0
    cr = cr.astype(np.float64) - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack(
        [np.clip(np.floor(p + 0.5), 0, 255).astype(np.uint8) for p in (r, g, b)],
        axis=2,
    )


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(
    width: int,
    height: int,
    pixels,
    quant: int = 16,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Minimal baseline JPEG writer: uint8 ``(h, w)`` grayscale or
    ``(h, w, 3)`` RGB (converted to JFIF YCbCr; ``subsampling`` one of
    "444"/"420"/"422"/"440" — subsampled modes box-filter chroma by the
    sampling factors and interleave the Y blocks per MCU; 4:2:0 is the
    layout real crawl JPEGs use).  One uniform
    quantization table (every entry = ``quant``) — with ``quant=16``,
    images that are piecewise-constant per 8x8 block with EVEN
    (value - 128) offsets round-trip EXACTLY at 4:4:4 (DC lands exactly
    half a quantization step from every rounding boundary; all ACs
    quantize to 0), which is what makes a pure-arithmetic oracle possible
    for a lossy format.  Edge blocks pad by replication."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    color = px.ndim == 3
    if not 0 <= restart_interval <= 0xFFFF:
        raise ValueError(f"restart_interval out of range: {restart_interval}")
    # luma sampling factors per mode (chroma is always 1x1): the chroma
    # planes box-filter by the same factors
    modes = {"444": (1, 1), "420": (2, 2), "422": (2, 1), "440": (1, 2)}
    if subsampling not in modes:
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    ycc = _rgb_to_ycbcr(px) if color else [px]
    fh, fv = modes[subsampling]
    if color and (fh, fv) != (1, 1):

        def _box(c):
            c2 = np.pad(
                c,
                ((0, (-c.shape[0]) % fv), (0, (-c.shape[1]) % fh)),
                mode="edge",
            ).astype(np.float64)
            m = sum(
                c2[dy::fv, dx::fh] for dy in range(fv) for dx in range(fh)
            ) / float(fh * fv)
            return np.clip(np.floor(m + 0.5), 0, 255).astype(np.uint8)

        planes = [ycc[0], _box(ycc[1]), _box(ycc[2])]
        samp = [(fh, fv), (1, 1), (1, 1)]
    else:
        planes = ycc
        samp = [(1, 1)] * len(ycc)
    a = _dct_basis()
    qtab = np.full((8, 8), float(quant))
    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg_huff_spec()
    dc_map = _huff_encode_map(dc_bits, dc_vals)
    ac_map = _huff_encode_map(ac_bits, ac_vals)
    hmax = max(h for h, _ in samp)
    vmax = max(v for _, v in samp)
    mcux, mcuy = -(-width // (8 * hmax)), -(-height // (8 * vmax))
    padded = []
    for (h_i, v_i), p in zip(samp, planes):
        ph, pw = mcuy * 8 * v_i, mcux * 8 * h_i
        padded.append(
            np.pad(
                p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])), mode="edge"
            ).astype(np.float64)
            - 128.0
        )
    w = _JpegBitWriter()
    pred = [0] * len(planes)

    # r11: DCT + quantization + zigzag (and the baseline ±1023 AC clamp
    # — size 10 cap; DC keeps its full range, the DC table carries size
    # 11) for EVERY block of every plane in one batched numpy pass; the
    # serial loop below only does the entropy coding.  `.tolist()` once
    # so the bit loop indexes Python ints, not numpy scalars.
    zz_planes = [
        _plane_zigzag_q(p, a, qtab).tolist() for p in padded
    ]

    def _enc_block(zz_plane, by_i: int, bx_i: int, ci: int) -> None:
        zz = zz_plane[by_i][bx_i]
        size, bitsv = _jpeg_magnitude(zz[0] - pred[ci])
        pred[ci] = zz[0]
        code, ln = dc_map[size]
        w.write(code, ln)
        w.write(bitsv, size)
        run = 0
        last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
        for i in range(1, last_nz + 1):
            if zz[i] == 0:
                run += 1
                continue
            while run >= 16:
                code, ln = ac_map[0xF0]  # ZRL
                w.write(code, ln)
                run -= 16
            size, bitsv = _jpeg_magnitude(zz[i])
            code, ln = ac_map[run * 16 + size]
            w.write(code, ln)
            w.write(bitsv, size)
            run = 0
        if last_nz < 63:
            code, ln = ac_map[0x00]  # EOB
            w.write(code, ln)

    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                # T.81 E.1.4: pad to a byte boundary, emit RSTn (marker
                # bytes bypass stuffing), reset every DC predictor
                w.flush()
                w.buf += bytes([0xFF, 0xD0 + (mcu_n // restart_interval - 1) % 8])
                pred[:] = [0] * len(pred)
            mcu_n += 1
            for ci, ((h_i, v_i), zz_plane) in enumerate(zip(samp, zz_planes)):
                for by in range(v_i):
                    for bx in range(h_i):
                        _enc_block(
                            zz_plane, my * v_i + by, mx * h_i + bx, ci
                        )
    w.flush()

    ncomp = len(planes)
    out = bytearray(b"\xff\xd8")  # SOI
    out += _jpeg_seg(
        0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    zz_q = bytes(int(qtab[u, v]) for (u, v) in _ZIGZAG)
    for tq in range(2 if color else 1):
        out += _jpeg_seg(0xDB, bytes([tq]) + zz_q)
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for c in range(ncomp):
        h_i, v_i = samp[c]
        sof += bytes([c + 1, (h_i << 4) | v_i, 0 if c == 0 else 1])
    out += _jpeg_seg(0xC0, sof)
    for tid in range(2 if color else 1):
        out += _jpeg_seg(0xC4, bytes([0x00 | tid] + dc_bits) + bytes(dc_vals))
        out += _jpeg_seg(0xC4, bytes([0x10 | tid] + ac_bits) + bytes(ac_vals))
    if restart_interval:
        out += _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for c in range(ncomp):
        tid = 0 if c == 0 else 1
        sos += bytes([c + 1, tid * 16 + tid])
    sos += bytes([0, 63, 0])
    out += _jpeg_seg(0xDA, sos)
    out += w.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_progressive(
    width: int,
    height: int,
    pixels,
    quant: int = 16,
    restart_interval: int = 0,
) -> bytes:
    """Progressive (SOF2) JPEG writer — the fixture generator for the
    progressive decode path and a real spectral-selection + successive-
    approximation encoder in its own right.  uint8 ``(h, w)`` grayscale
    or ``(h, w, 3)`` RGB at 4:4:4 (subsampling stays baseline-only);
    same uniform quantization table as :func:`encode_jpeg`, so the
    exactness construction (even offsets at q=16) carries over —
    progressive transmission reorders BITS, not coefficients.

    Fixed four-phase scan script, chosen to exercise every Annex G
    decode branch: (1) interleaved DC first at Al=1 (point transform),
    (2) per-component AC first 1..63 at Al=1 (EOB-run coding), (3) DC
    refinement, (4) per-component AC refinement (correction bits
    interleaved into ZRL / newly-significant runs, buffered across EOB
    runs — the G.1.2.3 flow)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    color = px.ndim == 3
    if not 0 <= restart_interval <= 0xFFFF:
        raise ValueError(f"restart_interval out of range: {restart_interval}")
    planes = _rgb_to_ycbcr(px) if color else [px]
    ncomp = len(planes)
    a = _dct_basis()
    qtab = np.full((8, 8), float(quant))
    (dc_bits, dc_vals), _ = _jpeg_huff_spec()
    ac_bits, ac_vals = _jpeg_prog_huff_spec()  # EOBn codes included
    dc_map = _huff_encode_map(dc_bits, dc_vals)
    ac_map = _huff_encode_map(ac_bits, ac_vals)
    mcux, mcuy = -(-width // 8), -(-height // 8)

    # quantized zigzag coefficients per component, computed once —
    # batched over every block (r11, same arithmetic, see
    # _plane_zigzag_q)
    coefs = []
    for p in planes:
        pad = np.pad(
            p, ((0, mcuy * 8 - p.shape[0]), (0, mcux * 8 - p.shape[1])),
            mode="edge",
        ).astype(np.float64) - 128.0
        coefs.append(_plane_zigzag_q(pad, a, qtab))

    def _emit(w, m, sym):
        code, ln = m[sym]
        w.write(code, ln)

    class _AcScan:
        """Per-scan EOB-run state.  ``be_bits`` are correction bits OWNED
        by the pending EOB run (they flush right after the EOBn code);
        the current block's in-flight correction bits live in a local
        buffer and flush AFTER the next symbol — two distinct buffers,
        or the decoder's read order desyncs (the libjpeg BE/BR split)."""

        def __init__(self, w):
            self.w = w
            self.eobrun = 0
            self.be_bits: list[int] = []

        def flush(self):
            if self.eobrun > 0:
                nbits = self.eobrun.bit_length() - 1
                _emit(self.w, ac_map, nbits << 4)
                if nbits:
                    self.w.write(self.eobrun & ((1 << nbits) - 1), nbits)
                self.eobrun = 0
            for b in self.be_bits:
                self.w.write(b, 1)
            self.be_bits = []

    def _ac_first_block(w, st, zz, al):
        r = 0
        for k in range(1, 64):
            t = zz[k]
            neg = t < 0
            if neg:
                t = -t
            t >>= al  # AC point transform is a MAGNITUDE shift
            if t == 0:
                r += 1
                continue
            st.flush()
            while r > 15:
                _emit(w, ac_map, 0xF0)
                r -= 16
            nbits = t.bit_length()
            _emit(w, ac_map, (r << 4) + nbits)
            w.write((~t if neg else t) & ((1 << nbits) - 1), nbits)
            r = 0
        if r > 0:
            st.eobrun += 1
            if st.eobrun == 0x7FFF:
                st.flush()

    def _ac_refine_block(w, st, zz, al):
        absv = [abs(int(v)) >> al for v in zz]
        eob = 0
        for k in range(1, 64):
            if absv[k] == 1:
                eob = k
        r = 0
        br: list[int] = []  # this block's in-flight correction bits
        for k in range(1, 64):
            temp = absv[k]
            if temp == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                st.flush()
                _emit(w, ac_map, 0xF0)
                r -= 16
                for b in br:
                    w.write(b, 1)
                br = []
            if temp > 1:
                # already nonzero at the coarser precision: one
                # correction bit, buffered until the next code
                br.append(temp & 1)
                continue
            st.flush()
            _emit(w, ac_map, (r << 4) + 1)
            w.write(1 if zz[k] > 0 else 0, 1)
            for b in br:
                w.write(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            st.eobrun += 1
            st.be_bits += br
            # bound the buffered-bit memory like libjpeg's MAX_CORR_BITS
            if st.eobrun == 0x7FFF or len(st.be_bits) > 937:
                st.flush()

    def _scan_bytes(sel_cis, ss, se, ah, al):
        w = _JpegBitWriter()
        st = _AcScan(w)
        pred = {ci: 0 for ci in sel_cis}
        n_unit = 0

        def tick():
            nonlocal n_unit
            if restart_interval and n_unit and n_unit % restart_interval == 0:
                st.flush()
                w.flush()
                w.buf += bytes(
                    [0xFF, 0xD0 + (n_unit // restart_interval - 1) % 8]
                )
                for ci in pred:
                    pred[ci] = 0
            n_unit += 1

        for by in range(mcuy):
            for bx in range(mcux):
                tick()
                for ci in sel_cis:
                    zz = coefs[ci][by, bx]
                    if ss == 0 and ah == 0:  # DC first (arithmetic shift)
                        t = int(zz[0]) >> al
                        size, bitsv = _jpeg_magnitude(t - pred[ci])
                        pred[ci] = t
                        _emit(w, dc_map, size)
                        w.write(bitsv, size)
                    elif ss == 0:  # DC refinement: one bit per block
                        w.write((int(zz[0]) >> al) & 1, 1)
                    elif ah == 0:
                        _ac_first_block(w, st, [int(v) for v in zz], al)
                    else:
                        _ac_refine_block(w, st, zz, al)
        st.flush()
        w.flush()
        hdr = bytes([len(sel_cis)])
        for ci in sel_cis:
            tid = 0 if ci == 0 else 1
            hdr += bytes([ci + 1, (tid << 4) | tid])
        hdr += bytes([ss, se, (ah << 4) | al])
        return _jpeg_seg(0xDA, hdr) + w.buf

    out = bytearray(b"\xff\xd8")
    out += _jpeg_seg(
        0xE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    zz_q = bytes(int(qtab[u, v]) for (u, v) in _ZIGZAG)
    for tq in range(2 if color else 1):
        out += _jpeg_seg(0xDB, bytes([tq]) + zz_q)
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for c in range(ncomp):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += _jpeg_seg(0xC2, sof)  # SOF2: progressive
    for tid in range(2 if color else 1):
        out += _jpeg_seg(0xC4, bytes([0x00 | tid] + dc_bits) + bytes(dc_vals))
        out += _jpeg_seg(0xC4, bytes([0x10 | tid] + ac_bits) + bytes(ac_vals))
    if restart_interval:
        out += _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
    all_cis = list(range(ncomp))
    out += _scan_bytes(all_cis, 0, 0, 0, 1)  # DC first, Al=1
    for ci in all_cis:  # AC first per component, Al=1
        out += _scan_bytes([ci], 1, 63, 0, 1)
    out += _scan_bytes(all_cis, 0, 0, 1, 0)  # DC refinement
    for ci in all_cis:  # AC refinement per component
        out += _scan_bytes([ci], 1, 63, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)


def _decode_jpeg_progressive(payload: bytes, frame, scans, qtabs):
    """Progressive (SOF2) scan accumulation per T.81 Annex G: every scan
    deposits spectral-selection / successive-approximation bits into
    per-component zigzag coefficient arrays; dequantize + IDCT run ONCE
    at the end over the accumulated coefficients (same reconstruction
    arithmetic as the baseline path).

    Covered: interleaved and single-component DC scans (first +
    refinement), single-component AC scans (first with EOB-run coding,
    refinement with correction bits interleaved into ZRL / newly-
    significant runs — the G.1.2.3 flow), restart intervals (byte-align,
    modulo-8 RSTn, DC-predictor and EOB-run reset), and tables redefined
    between scans (each scan decodes against its snapshot)."""
    import numpy as np

    w_, h, comps = frame
    hmax = max(h_i for _, h_i, _, _ in comps)
    vmax = max(v_i for _, _, v_i, _ in comps)
    mcux, mcuy = -(-w_ // (8 * hmax)), -(-h // (8 * vmax))
    ci_by_cid = {cid: i for i, (cid, _, _, _) in enumerate(comps)}
    # zigzag-indexed coefficient store, one padded block grid per comp
    coefs = [
        np.zeros((mcuy * v_i, mcux * h_i, 64), dtype=np.int32)
        for _, h_i, v_i, _ in comps
    ]

    for sel, ss, se, ah, al, data_pos, tabs, rst in scans:
        reader = _JpegBitReader(payload, data_pos)
        eobrun = 0

        def _huff(table):
            code = 0
            for length in range(1, 17):
                code = (code << 1) | reader.bit()
                sym = table.get((length, code))
                if sym is not None:
                    return sym
            raise ValueError("invalid JPEG Huffman code")

        def _ac_first(blk, ac_tab):
            nonlocal eobrun
            if eobrun > 0:
                eobrun -= 1
                return
            k = ss
            while k <= se:
                sym = _huff(ac_tab)
                r, s = sym >> 4, sym & 15
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.bits(r)
                    break
                k += r
                if k > se:
                    raise ValueError("JPEG AC run past band end")
                blk[k] = _jpeg_extend(reader.bits(s), s) << al
                k += 1

        def _ac_refine(blk, ac_tab):
            # T.81 G.1.2.3 / the classic refinement flow: correction
            # bits for already-nonzero coefficients interleave into the
            # zero-history runs of ZRL and newly-significant codes
            nonlocal eobrun
            p1, m1 = 1 << al, -1 << al
            k = ss
            if eobrun == 0:
                while k <= se:
                    sym = _huff(ac_tab)
                    r, s = sym >> 4, sym & 15
                    if s:
                        if s != 1:
                            raise ValueError("bad JPEG refinement symbol")
                        s = p1 if reader.bit() else m1
                    else:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += reader.bits(r)
                            break
                    while k <= se:
                        if blk[k] != 0:
                            if reader.bit() and (int(blk[k]) & p1) == 0:
                                blk[k] += p1 if blk[k] >= 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if s:
                        if k > se:
                            raise ValueError("JPEG refinement run past band end")
                        blk[k] = s
                    k += 1
            if eobrun > 0:
                while k <= se:
                    if blk[k] != 0:
                        if reader.bit() and (int(blk[k]) & p1) == 0:
                            blk[k] += p1 if blk[k] >= 0 else m1
                    k += 1
                eobrun -= 1

        # quarantine contract: every malformed-stream shape raises
        # ValueError here, never IndexError/KeyError mid-decode
        if not 0 <= ss <= se <= 63:
            raise ValueError(f"bad JPEG spectral range Ss={ss} Se={se}")
        for cid, _, _ in sel:
            if cid not in ci_by_cid:
                raise ValueError(f"JPEG scan references unknown component {cid}")
        try:
            dc_tabs = {cid: tabs[(0, tdc)] for cid, tdc, _ in sel} if ss == 0 else {}
            ac_tabs = {cid: tabs[(1, tac)] for cid, _, tac in sel} if se > 0 else {}
        except KeyError as e:
            raise ValueError(f"missing JPEG table {e}") from e
        pred = {cid: 0 for cid, _, _ in sel}
        if ss == 0 and se != 0:
            raise ValueError("JPEG DC scan must have Se = 0")
        if ss != 0 and len(sel) != 1:
            raise ValueError("JPEG AC scans are single-component")

        def _dc_unit(cid, by, bx):
            ci = ci_by_cid[cid]
            blk = coefs[ci][by, bx]
            if ah == 0:
                size = _huff(dc_tabs[cid])
                pred[cid] += _jpeg_extend(reader.bits(size), size)
                blk[0] = pred[cid] << al
            elif reader.bit():
                blk[0] |= 1 << al

        n_unit = 0

        def _restart_tick():
            nonlocal n_unit, eobrun
            if rst and n_unit and n_unit % rst == 0:
                reader.sync_restart(n_unit // rst - 1)
                for cid in pred:
                    pred[cid] = 0
                eobrun = 0
            n_unit += 1

        if ss == 0 and len(sel) > 1:  # interleaved DC scan (MCU order)
            for my in range(mcuy):
                for mx in range(mcux):
                    _restart_tick()
                    for cid, _, _ in sel:
                        _, h_i, v_i, _ = comps[ci_by_cid[cid]]
                        for by in range(v_i):
                            for bx in range(h_i):
                                _dc_unit(cid, my * v_i + by, mx * h_i + bx)
        else:  # single-component scan: the component's own block raster
            cid = sel[0][0]
            ci = ci_by_cid[cid]
            _, h_i, v_i, _ = comps[ci]
            # non-interleaved block grid: ceil(ceil(dim * f / fmax) / 8)
            # (T.81 A.1.1 component dimensions, NOT the padded MCU grid)
            comp_w = -(-(w_ * h_i) // hmax)
            comp_h = -(-(h * v_i) // vmax)
            nbx, nby = -(-comp_w // 8), -(-comp_h // 8)
            for by in range(nby):
                for bx in range(nbx):
                    _restart_tick()
                    if ss == 0:
                        _dc_unit(cid, by, bx)
                    elif ah == 0:
                        _ac_first(coefs[ci][by, bx], ac_tabs[cid])
                    else:
                        _ac_refine(coefs[ci][by, bx], ac_tabs[cid])

    # one reconstruction pass over the accumulated coefficients — the
    # same dequantize/IDCT/clip arithmetic as the baseline block decode
    a = _dct_basis()
    planes = []
    for ci, (cid, h_i, v_i, tq) in enumerate(comps):
        try:
            q = qtabs[tq]
        except KeyError as e:
            raise ValueError(f"missing JPEG table {e}") from e
        # batched dequant + IDCT + clip over every block (r11 — the same
        # per-block float64 arithmetic as the serial loop, stacked)
        nby, nbx = coefs[ci].shape[0], coefs[ci].shape[1]
        qarr = np.asarray(q, dtype=np.int64)
        co = np.zeros((nby * nbx, 64))
        co[:, _ZIGZAG_FLAT] = coefs[ci].reshape(nby * nbx, 64) * qarr
        px = np.clip(
            np.floor(a.T @ co.reshape(-1, 8, 8) @ a + 128.5), 0, 255
        ).astype(np.uint8)
        plane = (
            px.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        planes.append(plane)
    up = []
    for plane, (_, h_i, v_i, _) in zip(planes, comps):
        if h_i != hmax or v_i != vmax:
            plane = np.repeat(np.repeat(plane, vmax // v_i, axis=0),
                              hmax // h_i, axis=1)
        up.append(plane[:h, :w_])
    if len(up) == 1:
        return w_, h, up[0]
    return w_, h, _ycbcr_to_rgb(*up)


def decode_jpeg(payload: bytes):
    """Baseline AND progressive JPEG parser -> ``(width, height, numpy
    uint8 (h, w) or (h, w, 3))``.  Generic within scope: quantization and
    Huffman tables come from the file's own DQT/DHT segments (canonical
    assignment per Annex C) and sampling factors from SOF0/SOF2 —
    third-party files decode as long as they are 8-bit baseline
    sequential or progressive (spectral selection + successive
    approximation, Annex G), with sampling factors in {1, 2} (4:4:4,
    4:2:0, 4:2:2, 4:4:0 all in scope; chroma upsamples by replication)
    and with or without DRI/RSTn restart intervals.  Everything else
    (lossless, arithmetic-coded, 12-bit, hierarchical) raises ValueError
    (quarantine rows)."""
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict] = {}
    frame = None
    scan = None
    restart_interval = 0
    progressive = False
    prog_scans: list[tuple] = []
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        # T.81 B.1.1.2: markers may be preceded by any number of 0xFF
        # fill bytes — consume them or the fill byte parses as a marker
        # and the real marker byte corrupts the segment length
        while pos < len(payload) and payload[pos] == 0xFF:
            pos += 1
        if pos >= len(payload):
            raise ValueError("truncated JPEG marker")
        marker = payload[pos]
        pos += 1
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM/RSTn: standalone
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (ln,) = struct.unpack(">H", payload[pos : pos + 2])
        body = payload[pos + 2 : pos + ln]
        if len(body) != ln - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT: one or more tables per segment
            p = 0
            while p < len(body):
                # each table is 1 id byte + 64 entries; a short tail would
                # build a <64-entry table and dequantize would IndexError
                # mid-decode instead of honoring the quarantine contract
                if p + 65 > len(body):
                    raise ValueError("truncated JPEG DQT table")
                pq, tq = body[p] >> 4, body[p] & 15
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                qtabs[tq] = list(body[p + 1 : p + 65])
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                # 1 id byte + 16 count bytes + sum(counts) values
                if p + 17 > len(body):
                    raise ValueError("truncated JPEG DHT table")
                tc, th = body[p] >> 4, body[p] & 15
                bits = list(body[p + 1 : p + 17])
                nv = sum(bits)
                if p + 17 + nv > len(body):
                    raise ValueError("truncated JPEG DHT table")
                vals = list(body[p + 17 : p + 17 + nv])
                htabs[(tc, th)] = _huff_decode_map(bits, vals)
                p += 17 + nv
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF segment")
            progressive = marker == 0xC2
            prec, h, w_, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            if nc not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {nc}")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                h_i, v_i = samp >> 4, samp & 15
                if nc == 1:
                    # single-component scans are non-interleaved; the
                    # sampling factors are irrelevant (T.81 A.2.2)
                    h_i = v_i = 1
                if h_i not in (1, 2) or v_i not in (1, 2):
                    raise ValueError(
                        f"unsupported JPEG sampling factors {h_i}x{v_i}"
                    )
                comps.append((cid, h_i, v_i, tq))
            frame = (w_, h, comps)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline (SOF0) and progressive (SOF2) JPEG supported"
            )
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("truncated JPEG DRI segment")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if not body or len(body) < 4 + 2 * body[0]:
                raise ValueError("truncated JPEG SOS segment")
            nc = body[0]
            sel = []
            for c in range(nc):
                cid, tids = body[1 + 2 * c : 3 + 2 * c]
                sel.append((cid, tids >> 4, tids & 15))
            if progressive:
                # spectral selection + successive approximation live in
                # the SOS tail; tables/DRI may be redefined between
                # scans, so snapshot the CURRENT state per scan and keep
                # walking markers (entropy bytes are skipped, the scan
                # itself decodes after the header walk)
                ss, se, aa = body[1 + 2 * nc : 4 + 2 * nc]
                prog_scans.append(
                    (sel, ss, se, aa >> 4, aa & 15, pos + ln,
                     dict(htabs), restart_interval)
                )
                pos = _jpeg_skip_entropy(payload, pos + ln)
                continue
            scan = (sel, pos + ln)
            break
        pos += ln
    if progressive:
        if frame is None or not prog_scans:
            raise ValueError("missing SOF2/SOS")
        return _decode_jpeg_progressive(payload, frame, prog_scans, qtabs)
    if frame is None or scan is None:
        raise ValueError("missing SOF0/SOS")
    w_, h, comps = frame
    sel, data_pos = scan
    if len(sel) != len(comps):
        raise ValueError("scan/frame component mismatch")
    a = _dct_basis()
    reader = _JpegBitReader(payload, data_pos)
    by_cid = {cid: (h_i, v_i, tq) for cid, h_i, v_i, tq in comps}
    hmax = max(h_i for _, h_i, _, _ in comps)
    vmax = max(v_i for _, _, v_i, _ in comps)
    mcux, mcuy = -(-w_ // (8 * hmax)), -(-h // (8 * vmax))
    planes = [
        np.zeros((mcuy * 8 * v_i, mcux * 8 * h_i), dtype=np.uint8)
        for _, h_i, v_i, _ in comps
    ]
    pred = [0] * len(comps)

    def _decode_huff(table):
        code = 0
        for length in range(1, 17):
            code = (code << 1) | reader.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    # r11: the entropy walk (inherently serial — DC predictors and the
    # bit stream chain block to block) only COLLECTS each block's zigzag
    # coefficients; dequantization, the 8×8 IDCTs and the clip run
    # batched over all blocks per component afterwards — the identical
    # per-block float64 arithmetic (zz·q into a float 8×8, A.T @ C @ A,
    # floor(·+128.5) clip 0..255), so decoded pixels are bit-identical.
    blocks_zz: list[list] = [[] for _ in comps]  # per ci: [(y0, x0, zz)]
    qs_used: list = [None] * len(comps)

    def _decode_block(ci: int, dc_tab, ac_tab, q, y0: int, x0: int) -> None:
        zz = [0] * 64
        size = _decode_huff(dc_tab)
        pred[ci] += _jpeg_extend(reader.bits(size), size)
        zz[0] = pred[ci]
        k = 1
        while k < 64:
            sym = _decode_huff(ac_tab)
            if sym == 0x00:  # EOB
                break
            run, size = sym >> 4, sym & 15
            if size == 0:
                if run != 15:
                    raise ValueError("bad JPEG AC symbol")
                k += 16
                continue
            k += run
            if k > 63:
                raise ValueError("JPEG AC run past block end")
            zz[k] = _jpeg_extend(reader.bits(size), size)
            k += 1
        qs_used[ci] = q
        blocks_zz[ci].append((y0, x0, zz))

    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                # T.81 E.1.4: byte-align, consume RSTn (modulo-8 count),
                # reset every DC predictor
                reader.sync_restart(mcu_n // restart_interval - 1)
                pred[:] = [0] * len(pred)
            mcu_n += 1
            for ci, (cid, tdc, tac) in enumerate(sel):
                try:
                    dc_tab = htabs[(0, tdc)]
                    ac_tab = htabs[(1, tac)]
                    h_i, v_i, tq = by_cid[cid]
                    q = qtabs[tq]
                except KeyError as e:
                    raise ValueError(f"missing JPEG table {e}") from e
                for by in range(v_i):
                    for bx in range(h_i):
                        _decode_block(
                            ci, dc_tab, ac_tab, q,
                            (my * v_i + by) * 8, (mx * h_i + bx) * 8,
                        )
    # batched dequant + IDCT + clip per component (r11)
    for ci, blks in enumerate(blocks_zz):
        if not blks:
            continue
        qarr = np.asarray(qs_used[ci], dtype=np.int64)
        zzarr = np.asarray([zz for _, _, zz in blks], dtype=np.int64)
        co = np.zeros((len(blks), 64))
        co[:, _ZIGZAG_FLAT] = zzarr * qarr
        px = np.clip(
            np.floor(a.T @ co.reshape(-1, 8, 8) @ a + 128.5), 0, 255
        ).astype(np.uint8)
        plane = planes[ci]
        for (y0, x0, _), blk in zip(blks, px):
            plane[y0 : y0 + 8, x0 : x0 + 8] = blk
    # chroma upsampling by sample replication (nearest), then crop
    up = []
    for plane, (_, h_i, v_i, _) in zip(planes, comps):
        if h_i != hmax or v_i != vmax:
            plane = np.repeat(np.repeat(plane, vmax // v_i, axis=0),
                              hmax // h_i, axis=1)
        up.append(plane[:h, :w_])
    if len(up) == 1:
        return w_, h, up[0]
    return w_, h, _ycbcr_to_rgb(*up)


def synth_jpeg(
    df: DataFrame, id_col: str = "doc_id", progressive: bool = False
) -> DataFrame:
    """Deterministic grayscale JPEG per row, EXACT by construction:
    ``w = 8 * (1 + k mod 3)``, ``h = 8 * (1 + (3k + 1) mod 2)``, and
    every 8x8 block (bx, by) is constant-valued
    ``v = 128 + 2 * ((3k + 5*bx + 7*by) mod 48)``.  With the uniform
    q=16 table, even (v - 128) offsets make quantization, dequantization
    and the float IDCT land exactly 0.5 away from every rounding
    boundary, so decode returns the synthesized pixels bit-exactly and
    the oracle mirrors them with pure integer arithmetic — while the
    bytes still traverse real Huffman coding, zigzag, byte stuffing and
    marker framing.  ``progressive=True`` routes through the SOF2
    multi-scan encoder (:func:`encode_jpeg_progressive`) — progressive
    transmission reorders bits, not coefficients, so the exactness (and
    the oracle) carries over unchanged."""
    import numpy as np

    enc = encode_jpeg_progressive if progressive else encode_jpeg

    def make(k: int):
        w, h = 8 * (1 + k % 3), 8 * (1 + (3 * k + 1) % 2)
        bys, bxs = np.mgrid[0 : h // 8, 0 : w // 8]
        blocks = (128 + 2 * ((3 * k + 5 * bxs + 7 * bys) % 48)).astype(
            np.uint8
        )
        px = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        return enc(w, h, px), "jpeg"

    return _synth(df, id_col, make)


JPEG_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_px", LongType()),
        StructField("max_px", LongType()),
        StructField("ds2_sum", LongType()),
    ]
)


def jpeg_stats(df: DataFrame) -> DataFrame:
    """REAL decode over the JPEG byte path: Huffman-decode, dequantize,
    IDCT, then report exact integer pixel statistics (same contract as
    :func:`png_stats`/:func:`pgm_stats`)."""
    return _map_rows(
        df, JPEG_STATS_SCHEMA, _pixel_stats(decode_jpeg), ["media_id", "payload"]
    )


def synth_varied_bmp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic constant-color BMPs with WIDELY VARYING dimensions —
    the curation-gate test corpus: ``w = 4 + 7k mod 61``,
    ``h = 4 + 11k mod 93`` (tiny through 96px, many skewed aspects),
    fill value ``37k mod 251``.  Real 24-bit BMP bytes; dims and sizes
    are pure id arithmetic an SQL oracle mirrors."""
    import numpy as np

    def make(k: int):
        w = 4 + (7 * k) % 61
        h = 4 + (11 * k) % 93
        px = np.full((h, w, 3), (37 * k) % 251, dtype=np.uint8)
        return encode_bmp(w, h, px), "bmp"

    return _synth(df, id_col, make)


DIMS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)


def _header_dims(fmt: str, data: bytes) -> tuple[int, int] | None:
    """Image dimensions from the HEADER ALONE — no entropy decode, no
    pixel pass: BMP reads the info header, PNG the IHDR chunk, JPEG
    walks markers to the first SOF frame header, PGM parses the netpbm
    token header.  Raises ValueError on structural damage; returns None
    for formats without a header parser here (audio/video/unknown —
    the caller decides whether that passes through)."""
    if fmt == "bmp":
        if len(data) < 26 or data[:2] != b"BM":
            raise ValueError("BMP header truncated or bad magic")
        hdr_size = struct.unpack_from("<I", data, 14)[0]
        if hdr_size < 40:
            raise ValueError(f"BMP info header too small ({hdr_size} < 40)")
        w, h = struct.unpack_from("<ii", data, 18)
        if w <= 0 or h == 0:
            raise ValueError(f"BMP dims invalid ({w}x{h})")
        return int(w), int(abs(h))  # negative height = top-down rows
    if fmt == "png":
        if len(data) < 24 or data[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("PNG signature truncated or bad")
        if data[12:16] != b"IHDR":
            raise ValueError("PNG first chunk is not IHDR")
        w, h = struct.unpack_from(">II", data, 16)
        return int(w), int(h)
    if fmt in ("jpeg", "jpg"):
        for marker, start, seg_len in _jpeg_marker_segments(data):
            # every SOF frame header (baseline/extended/progressive,
            # 0xC0-0xCF minus DHT 0xC4 / JPG 0xC8 / DAC 0xCC) carries
            # h at payload offset +1, w at +3
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if seg_len < 7:
                    raise ValueError("JPEG SOF segment too short")
                h, w = struct.unpack_from(">HH", data, start + 1)
                return int(w), int(h)
        raise ValueError("JPEG has no SOF frame header")
    if fmt == "gif":
        if len(data) < 10 or data[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("GIF header truncated or bad magic")
        w, h = struct.unpack_from("<HH", data, 6)
        return int(w), int(h)
    if fmt == "pgm":
        if data[:2] != b"P5":
            raise ValueError("PGM bad magic")
        toks: list[int] = []
        pos = 2
        while len(toks) < 2 and pos < min(len(data), 512):
            ch = data[pos]
            if ch == 0x23:  # comment
                while pos < len(data) and data[pos] != 0x0A:
                    pos += 1
            elif 0x30 <= ch <= 0x39:
                start = pos
                while pos < len(data) and 0x30 <= data[pos] <= 0x39:
                    pos += 1
                toks.append(int(data[start:pos]))
            else:
                pos += 1
        if len(toks) < 2:
            raise ValueError("PGM header truncated")
        return toks[0], toks[1]
    return None


def media_dims(df: DataFrame, null_on_error: bool = False) -> DataFrame:
    """Image dimensions from HEADERS ONLY (:func:`_header_dims`) — the
    cheap pre-decode probe a dimension gate should run on: a 100 TB
    image ingest must reject a 16px thumbnail for the cost of reading
    ~30 bytes, not a full Huffman+IDCT decode.  Formats without a
    header parser (audio/video) return NULL dims — the caller's gate
    passes them through to the stage that understands them.  Malformed
    headers raise (or null the row under ``null_on_error``).  Output:
    (media_id, width, height)."""

    def one(mid, fmt: str, payload):
        return [(mid,) + (_header_dims(fmt, bytes(payload)) or (None, None))]

    return _map_rows(
        df, DIMS_SCHEMA, one, ["media_id", "format", "payload"], null_on_error
    )


def media_gate_conditions(w, h, min_side: int, max_aspect: int | None):
    """The gate's two failure predicates as column expressions —
    ONE definition shared by :func:`media_gate` (the query surface and
    its oracle) and the ingest sink's pre-decode gate, so the two can
    never drift.  ``max_aspect=None`` disables the aspect check
    (a never-true literal)."""
    small = F.least(w, h) < min_side if min_side is not None else F.lit(False)
    skewed = (
        F.greatest(w, h) > max_aspect * F.least(w, h)
        if max_aspect is not None
        else F.lit(False)
    )
    return small, skewed


def media_gate(
    decoded: DataFrame,
    min_side: int = 32,
    max_aspect: int = 3,
) -> DataFrame:
    """Image curation gate over DECODED dimensions — the LAION-style
    pre-filter every image-text corpus applies before any expensive
    stage (too-small images carry no signal; extreme aspect ratios are
    banners/sprites, not photographs): keep iff ``min(w, h) ≥
    min_side`` AND ``max(w, h) ≤ max_aspect · min(w, h)``.  Pure JVM
    column expressions over the (media_id, width, height) frame — the
    gate itself never touches Python, so it composes with
    :func:`decode_media` (in-column payloads) or the ImageIO file lane
    at scan rate.  ``reason`` is the FIRST failing check (side before
    aspect — deterministic), ``'ok'`` for keepers.  Output:
    (media_id, width, height, keep, reason)."""
    if min_side < 1 or max_aspect < 1:
        raise ValueError(
            f"min_side and max_aspect must be >= 1, got {min_side}, {max_aspect}"
        )
    w, h = F.col("width"), F.col("height")
    small, skewed = media_gate_conditions(w, h, min_side, max_aspect)
    known = w.isNotNull() & h.isNotNull()
    return decoded.select(
        "media_id",
        w.cast("bigint").alias("width"),
        h.cast("bigint").alias("height"),
        # NULL dims (a non-image row, or a header the prober couldn't
        # parse) stay NULL in BOTH columns — a keep=NULL/reason='ok'
        # split would let a groupBy(reason) report count ungated rows
        # as passing while a where(keep) filter drops them
        F.when(known, ~small & ~skewed).alias("keep"),
        F.when(known & small, F.lit("small"))
        .when(known & skewed, F.lit("aspect"))
        .when(known, F.lit("ok"))
        .alias("reason"),
    )


# ------------------------------------------------------------ EXIF metadata
# Real crawl JPEGs carry an APP1 Exif segment (a TIFF IFD tree) with the
# metadata an image-curation gate actually filters on: orientation (needed
# before any geometry-sensitive signature), capture timestamp (temporal
# filtering / dedup tie-breaks), camera make/model (source stratification),
# and the declared pixel dimensions.  Parsed here dependency-free from the
# TIFF structure per CIPA DC-008: byte-order mark (II little / MM big),
# magic 42, IFD0 entries of (tag u16, type u16, count u32, value-or-offset
# u32), values longer than 4 bytes indirected relative to the TIFF header.

_EXIF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def _build_exif_app1(
    byte_order: str,
    make: str,
    model: str,
    datetime_str: str,
    datetime_original: str,
    orientation: int,
    exif_w: int,
    exif_h: int,
) -> bytes:
    """Serialize one APP1 Exif segment (marker + length + "Exif\\0\\0" +
    TIFF blob): IFD0 holds Make/Model/Orientation/DateTime and the Exif
    IFD pointer; the Exif IFD holds DateTimeOriginal and the pixel
    dimensions.  Offsets are TIFF-relative per the spec."""
    e = "<" if byte_order == "II" else ">"
    mk = make.encode() + b"\0"
    md = model.encode() + b"\0"
    dt = datetime_str.encode() + b"\0"
    dto = datetime_original.encode() + b"\0"

    def ser_ifd(entries, ifd_off):
        """Serialize one IFD at ``ifd_off``: values ≤ 4 bytes inline
        (right-padded, per the TIFF spec), longer values indirected into
        the data area that follows the IFD table."""
        data_start = ifd_off + 2 + 12 * len(entries) + 4
        blob = b""
        out = struct.pack(e + "H", len(entries))
        for tag, typ, cnt, raw in entries:
            if len(raw) <= 4:
                val4 = raw + b"\0" * (4 - len(raw))
            else:
                val4 = struct.pack(e + "I", data_start + len(blob))
                blob += raw
            out += struct.pack(e + "HHI", tag, typ, cnt) + val4
        out += struct.pack(e + "I", 0)  # no chained IFD
        return out + blob

    def indirect_size(entries):
        return sum(len(raw) for _, _, _, raw in entries if len(raw) > 4)

    ifd0_off = 8
    ifd0_entries = [
        (0x010F, 2, len(mk), mk),                              # Make
        (0x0110, 2, len(md), md),                              # Model
        (0x0112, 3, 1, struct.pack(e + "H", orientation)),     # Orientation
        (0x0132, 2, len(dt), dt),                              # DateTime
    ]
    exif_ifd_off = (
        ifd0_off + 2 + 12 * 5 + 4 + indirect_size(ifd0_entries)
    )
    if exif_ifd_off % 2:  # word-align the sub-IFD
        exif_ifd_off += 1
    ifd0_entries.append(
        (0x8769, 4, 1, struct.pack(e + "I", exif_ifd_off))     # Exif pointer
    )
    ifd0 = ser_ifd(ifd0_entries, ifd0_off)
    exif_entries = [
        (0x9003, 2, len(dto), dto),                        # DateTimeOriginal
        (0xA002, 4, 1, struct.pack(e + "I", exif_w)),      # PixelXDimension
        (0xA003, 4, 1, struct.pack(e + "I", exif_h)),      # PixelYDimension
    ]
    tiff = (
        (b"II" if byte_order == "II" else b"MM")
        + struct.pack(e + "H", 42)
        + struct.pack(e + "I", ifd0_off)
        + ifd0
    )
    tiff += b"\0" * (exif_ifd_off - len(tiff))
    tiff += ser_ifd(exif_entries, exif_ifd_off)
    body = b"Exif\0\0" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def synth_jpeg_exif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic EXIF-tagged JPEGs: the :func:`synth_jpeg` byte path
    with an APP1 Exif segment spliced after SOI.  Every field derives
    from id arithmetic so an SQL oracle constructs the expected values
    independently (the `synth_url` pattern): byte order alternates II/MM
    by id parity (both parser paths exercised under the oracle),
    ``orientation = 1 + k mod 8`` (all eight spec values),
    ``make = CAM(k mod 5)``, ``model = MODEL-(k mod 7)``,
    ``DateTime = (2010 + k mod 15):(1 + k mod 12):(1 + k mod 28)
    (k mod 24):(k mod 60):(7k mod 60)`` in the spec's
    ``YYYY:MM:DD HH:MM:SS`` form, ``DateTimeOriginal`` one year earlier,
    and declared dimensions ``100 + k mod 900`` × ``50 + k mod 500``.
    Ids divisible by 10 get NO EXIF segment (the common crawl case —
    the parser must pass them through with null fields, not fail)."""
    import numpy as np

    def make(k: int):
        px = np.full((8, 8), 128, dtype=np.uint8)
        payload = encode_jpeg(8, 8, px)
        if k % 10 != 0:
            dt = (
                f"{2010 + k % 15:04d}:{1 + k % 12:02d}:"
                f"{1 + k % 28:02d} {k % 24:02d}:{k % 60:02d}:"
                f"{(7 * k) % 60:02d}"
            )
            dto = (
                f"{2009 + k % 15:04d}:{1 + k % 12:02d}:"
                f"{1 + k % 28:02d} {k % 24:02d}:{k % 60:02d}:"
                f"{(7 * k) % 60:02d}"
            )
            app1 = _build_exif_app1(
                "II" if k % 2 == 0 else "MM",
                f"CAM{k % 5}",
                f"MODEL-{k % 7}",
                dt,
                dto,
                1 + k % 8,
                100 + k % 900,
                50 + k % 500,
            )
            payload = payload[:2] + app1 + payload[2:]
        return payload, "jpeg"

    return _synth(df, id_col, make)


EXIF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("has_exif", BooleanType()),
        StructField("byte_order", StringType()),
        StructField("orientation", LongType()),
        StructField("make", StringType()),
        StructField("model", StringType()),
        StructField("datetime", StringType()),
        StructField("datetime_original", StringType()),
        StructField("exif_w", LongType()),
        StructField("exif_h", LongType()),
    ]
)


def _parse_exif_tiff(data: bytes) -> dict:
    """Walk a TIFF blob (IFD0 + optional Exif sub-IFD) and return the
    curation-relevant tags.  Raises ValueError on structural damage
    (truncation, bad byte order, bad magic) — the quarantine contract."""
    if len(data) < 8:
        raise ValueError("EXIF TIFF header truncated")
    bo = data[0:2]
    if bo == b"II":
        e = "<"
    elif bo == b"MM":
        e = ">"
    else:
        raise ValueError(f"EXIF bad byte-order mark {bo!r}")
    if struct.unpack_from(e + "H", data, 2)[0] != 42:
        raise ValueError("EXIF bad TIFF magic")
    out = {"byte_order": bo.decode()}

    def read_value(typ, cnt, raw_off):
        size = _EXIF_TYPE_SIZE.get(typ, 1) * cnt
        if size > 4:
            off = struct.unpack_from(e + "I", data, raw_off)[0]
        else:
            off = raw_off
        if off + size > len(data):
            raise ValueError("EXIF value runs past segment end")
        if typ == 2:
            return data[off : off + cnt].split(b"\0")[0].decode(
                "ascii", "replace"
            )
        if typ == 3:
            return struct.unpack_from(e + "H", data, off)[0]
        if typ == 4:
            return struct.unpack_from(e + "I", data, off)[0]
        return None

    def walk(ifd_off, tags):
        if ifd_off + 2 > len(data):
            raise ValueError("EXIF IFD offset past segment end")
        n = struct.unpack_from(e + "H", data, ifd_off)[0]
        if ifd_off + 2 + 12 * n > len(data):
            raise ValueError("EXIF IFD entries truncated")
        found = {}
        for i in range(n):
            base = ifd_off + 2 + 12 * i
            tag, typ, cnt = struct.unpack_from(e + "HHI", data, base)
            if tag in tags:
                found[tag] = read_value(typ, cnt, base + 8)
        return found

    ifd0 = walk(
        struct.unpack_from(e + "I", data, 4)[0],
        {0x010F, 0x0110, 0x0112, 0x0132, 0x8769},
    )
    out["make"] = ifd0.get(0x010F)
    out["model"] = ifd0.get(0x0110)
    out["orientation"] = ifd0.get(0x0112)
    out["datetime"] = ifd0.get(0x0132)
    out["datetime_original"] = None
    out["exif_w"] = None
    out["exif_h"] = None
    if 0x8769 in ifd0:
        sub = walk(int(ifd0[0x8769]), {0x9003, 0xA002, 0xA003})
        out["datetime_original"] = sub.get(0x9003)
        out["exif_w"] = sub.get(0xA002)
        out["exif_h"] = sub.get(0xA003)
    return out


def _jpeg_marker_segments(data: bytes):
    """Yield ``(marker, seg_start, seg_len)`` for each sized segment of
    a JPEG's header marker stream, stopping at SOS/EOI — the ONE marker
    walk shared by the header-dims probe and the EXIF finder.  Skips
    0xFF fill bytes before markers (T.81 B.1.1.2 allows any number; the
    full decoder consumes them too) and standalone markers (SOI/TEM/
    RSTn).  ``seg_start`` points at the segment's first payload byte
    (after the 2-byte length).  Raises ValueError on damage (no SOI,
    lost sync, segment length past the payload)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG marker sync lost at {pos}")
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1  # fill byte: 0xFF repeated before the marker code
        if pos + 4 > len(data):
            break
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9 or marker == 0xDA:  # EOI / SOS: header ends
            return
        seg_len = struct.unpack_from(">H", data, pos + 2)[0]
        if seg_len < 2 or pos + 2 + seg_len > len(data):
            raise ValueError("JPEG segment length runs past payload")
        yield marker, pos + 4, seg_len
        pos += 2 + seg_len


def _find_exif_tiff(data: bytes) -> bytes | None:
    """Walk a JPEG's marker stream and return the TIFF blob of its Exif
    APP1 segment, or None when the image carries no EXIF.  Raises
    ValueError on marker-stream damage (the shared walker's
    contract)."""
    for marker, start, seg_len in _jpeg_marker_segments(data):
        if marker == 0xE1 and data[start : start + 6] == b"Exif\0\0":
            return data[start + 6 : start - 2 + seg_len]
    return None


def exif_metadata(df: DataFrame, null_on_error: bool = False) -> DataFrame:
    """Extract EXIF curation metadata from JPEG payloads, Arrow-batched:
    walk the marker stream for an APP1 segment with the ``Exif\\0\\0``
    prefix and parse its TIFF IFDs (:func:`_parse_exif_tiff`).  A JPEG
    with NO Exif segment is a normal row with ``has_exif = false`` and
    null fields (most crawl images); a STRUCTURALLY DAMAGED Exif
    segment raises (or nulls the whole row under ``null_on_error`` —
    the ingest quarantine split).  Output: (media_id, has_exif,
    byte_order, orientation, make, model, datetime, datetime_original,
    exif_w, exif_h)."""

    fields = EXIF_SCHEMA.fieldNames()[2:]

    def one(mid, payload: bytes):
        tiff = _find_exif_tiff(bytes(payload))
        if tiff is None:
            return [(mid, False) + (None,) * len(fields)]
        meta = _parse_exif_tiff(tiff)
        return [(mid, True) + tuple(meta[f] for f in fields)]

    return _map_rows(
        df, EXIF_SCHEMA, one, ["media_id", "payload"], null_on_error
    )


def _apply_exif_orientation(px, orientation: int):
    """Map STORED pixels to DISPLAY pixels per the EXIF orientation tag
    (CIPA DC-008 / the PIL ``exif_transpose`` table).  Pure index
    permutations — lossless, so a rotated refetch normalizes to the
    bit-identical pixel matrix.  Works on 2-D (grayscale) and 3-D (RGB)
    arrays."""
    import numpy as np

    if orientation == 2:
        return px[:, ::-1]
    if orientation == 3:
        return px[::-1, ::-1]
    if orientation == 4:
        return px[::-1, :]
    if orientation == 5:
        return np.swapaxes(px, 0, 1)
    if orientation == 6:
        return np.rot90(px, k=-1)
    if orientation == 7:
        return np.swapaxes(px[::-1, ::-1], 0, 1)
    if orientation == 8:
        return np.rot90(px, k=1)
    if orientation == 1:
        return px
    raise ValueError(f"EXIF orientation out of range: {orientation}")


def phash_media_oriented(df: DataFrame, null_on_error: bool = False) -> DataFrame:
    """ORIENTATION-NORMALIZED perceptual hash — the rotated-refetch gap
    :func:`phash_media` leaves open: a phone photo re-served with its
    EXIF orientation tag (the camera stores the sensor matrix and tags
    how to display it) has a wildly different raw pHash, so genuine
    duplicates never pair.  Here JPEG payloads first yield their EXIF
    orientation (:func:`_find_exif_tiff`; missing EXIF or a non-JPEG
    format = orientation 1), the decoded pixels are normalized to
    DISPLAY orientation (:func:`_apply_exif_orientation` — lossless
    index permutations), and the SAME fixed-point DCT hash runs on the
    normalized matrix.  Output: (media_id, phash) — pair with
    ``hamming_near_pairs`` exactly like the raw hash."""
    import numpy as np

    def one(mid, fmt: str, payload: bytes):
        data = bytes(payload)
        orientation = 1
        if fmt in ("jpeg", "jpg"):
            tiff = _find_exif_tiff(data)
            if tiff is not None:
                parsed = _parse_exif_tiff(tiff).get("orientation")
                if parsed is not None:
                    if not 1 <= int(parsed) <= 8:
                        raise ValueError(
                            f"EXIF orientation out of range: {parsed}"
                        )
                    orientation = int(parsed)
        decoded = _decode_pixels(fmt, data)
        if decoded is None:
            raise ValueError(
                f"phash_media_oriented: no real codec for format {fmt!r}"
            )
        px = _apply_exif_orientation(np.asarray(decoded[2]), orientation)
        return [(mid, _phash_of_pixels(px, px.shape[1], px.shape[0]))]

    return _map_rows(
        df, PHASH_SCHEMA, one, ["media_id", "format", "payload"], null_on_error
    )


def phash_media_dihedral(df: DataFrame, null_on_error: bool = False) -> DataFrame:
    """ROTATION/REFLECTION-INVARIANT perceptual hash WITHOUT EXIF — the
    gap :func:`phash_media_oriented` leaves open: a rotated refetch
    whose EXIF was STRIPPED (most re-hosting pipelines strip metadata)
    carries no orientation tag to normalize by.  The canonical hash is
    the MINIMUM of the 8 pHashes over the image's dihedral orbit
    (:func:`_apply_exif_orientation` for orientations 1-8 — the full
    D4 group: identity, 3 rotations, 4 reflections).  Group closure
    makes this EXACTLY invariant: if B = T(A) for any dihedral T, the
    orbit {T_o(B)} equals {T_o(A)} as a set, so the hash multisets —
    and their minimum — are identical, even for non-square images
    (where individual transforms resample a swapped grid).  For
    NEAR-duplicates the invariance is approximate (the argmin
    orientation may differ between copies — the standard min-over-orbit
    canonicalization caveat); exact transforms land at distance 0.
    Output: (media_id, phash) — pair with ``hamming_near_pairs``."""
    import numpy as np

    def one(mid, fmt: str, payload: bytes):
        decoded = _decode_pixels(fmt, bytes(payload))
        if decoded is None:
            raise ValueError(
                f"phash_media_dihedral: no real codec for format {fmt!r}"
            )
        px = np.asarray(decoded[2])
        return [(mid, min(
            _phash_of_pixels(t, t.shape[1], t.shape[0])
            for t in (_apply_exif_orientation(px, o) for o in range(1, 9))
        ))]

    return _map_rows(
        df, PHASH_SCHEMA, one, ["media_id", "format", "payload"], null_on_error
    )


def synth_jpeg_dihedral(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic JPEGs with PLANTED EXIF-STRIPPED rotated refetches
    — the dihedral-hash test corpus: the :func:`synth_jpeg_oriented`
    seed images (same CRT-mixed block texture, so no two seeds
    collide), but slot 8 stores the group's slot-0 image rotated 90°
    CCW and slot 9 stores it mirrored, BOTH WITH NO EXIF AT ALL — the
    re-hosted-and-stripped case the oriented lane cannot recover.
    Rotation/mirroring preserve the 8×8-block-constant structure, so
    the q=16 JPEG pipeline stays bit-exact and the dihedral orbits of
    slots 8/9 EQUAL slot-0's (pHash distance 0 under the min-hash).

    Dims are ``8·(8 + s mod 3) × 8·(8 + (3s+1) mod 2)`` — DELIBERATELY
    larger block grids than the oriented synth: under the ORBIT MIN the
    oriented corpus's 2-4-block grids collapse to 152 distinct hashes
    over 500 ids (incidental cross-orientation coincidences — 7.9k
    spurious pairs), while 8-10-per-side grids keep all 400 folded ids
    distinct (150 planted pairs + 1 near-miss at sf0.01)."""
    import numpy as np

    def make(k: int):
        slot = k % 10
        seed = k - slot if slot >= 8 else k
        w, h = 8 * (8 + seed % 3), 8 * (8 + (3 * seed + 1) % 2)
        bys, bxs = np.mgrid[0 : h // 8, 0 : w // 8]
        blocks = (
            128 + 2 * (
                (3 * seed
                 + (5 + seed % 17) * bxs
                 + (7 + seed % 13) * bys
                 + (1 + seed % 5) * bxs * bys) % 48
            )
        ).astype(np.uint8)
        px = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        if slot == 8:
            px = np.rot90(px, k=1)
        elif slot == 9:
            px = px[:, ::-1]
        return encode_jpeg(px.shape[1], px.shape[0], px), "jpeg"

    return _synth(df, id_col, make)


def synth_jpeg_oriented(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic JPEGs with PLANTED EXIF-ROTATED refetches — the
    orientation-normalization test corpus.  Slots 0-7 are the
    :func:`synth_jpeg` block-textured exact images in display
    orientation (even ids carry an EXIF block with orientation 1, odd
    ids carry NO EXIF — both parser paths sit under the oracle); slot 8
    STORES the group's slot-0 image rotated 90° counter-clockwise and
    tags orientation 6 (rotate 90° CW to display — the phone-camera
    case); slot 9 stores it mirrored and tags orientation 2.  Rotation
    and mirroring keep the 8×8-block-constant structure, so the q=16
    JPEG pipeline stays bit-exact and normalized pixels equal slot-0's
    display matrix EXACTLY (pHash distance 0).

    Unlike :func:`synth_jpeg` (whose ``3k mod 48`` block pattern
    collapses distinct seeds onto identical images every 48 ids — fine
    for a stats gate, catastrophic for a PAIRING gate), the block value
    mixes the seed through four coprime residues (``3s, s mod 17,
    s mod 13, s mod 5`` — CRT period ≫ any test corpus) and dims start
    at 16 so no image degenerates to one constant block (whose all-zero
    AC spectrum would pair with every other constant image)."""
    import numpy as np

    def make(k: int):
        slot = k % 10
        seed = k - slot if slot >= 8 else k
        w, h = 8 * (2 + seed % 3), 8 * (2 + (3 * seed + 1) % 2)
        bys, bxs = np.mgrid[0 : h // 8, 0 : w // 8]
        blocks = (
            128 + 2 * (
                (3 * seed
                 + (5 + seed % 17) * bxs
                 + (7 + seed % 13) * bys
                 + (1 + seed % 5) * bxs * bys) % 48
            )
        ).astype(np.uint8)
        px = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        orientation = 1
        if slot == 8:
            px = np.rot90(px, k=1)   # stored CCW; display = CW
            orientation = 6
        elif slot == 9:
            px = px[:, ::-1]         # stored mirrored
            orientation = 2
        payload = encode_jpeg(px.shape[1], px.shape[0], px)
        if slot >= 8 or k % 2 == 0:
            app1 = _build_exif_app1(
                "II" if k % 2 == 0 else "MM",
                "CAM", "M",
                "2020:01:01 00:00:00", "2020:01:01 00:00:00",
                orientation, px.shape[1], px.shape[0],
            )
            payload = payload[:2] + app1 + payload[2:]
        return payload, "jpeg"

    return _synth(df, id_col, make)


# ------------------------------------------------------------ real GIF codec
# The third most common crawl image format after JPEG/PNG.  File-backed
# GIFs already decode at native rate through the ImageIO lane; this codec
# gives IN-COLUMN payloads the same rights (they quarantined before).
# Real LZW both directions: variable code widths 9→12 bits LSB-first,
# dictionary reset on the 4096-entry fill, data framed in ≤255-byte
# sub-blocks per the spec.  Animation/interlace deliberately raise for
# quarantine (first-frame-only and de-interlacing are library territory).


def _gif_interlace_rows(height: int) -> list[int]:
    """GIF 4-pass interlace row order (spec appendix E): rows 0,8,16…
    then 4,12…, then 2,6,10…, then the odd rows.  The writer emits
    pixel rows in this order; the reader scatters decoded row ``j``
    back to original row ``order[j]`` — pure reordering, shared with
    nothing else (PNG's Adam7 interlaces columns too)."""
    return [
        r
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
        for r in range(start, height, step)
    ]


def encode_gif(width: int, height: int, pixels, interlaced: bool = False) -> bytes:
    """Minimal GIF89a writer: one image, 256-entry GRAYSCALE global color
    table (``palette[i] = (i, i, i)``), REAL LZW compression.
    ``pixels`` is a numpy (h, w) uint8 array of palette indices (= gray
    values).  ``interlaced=True`` writes the 4-pass interlaced row
    order with the descriptor's interlace flag set (r10)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.shape != (height, width):
        raise ValueError(f"pixels shape {px.shape} != ({height}, {width})")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    out += bytes(i for i in range(256) for _ in range(3))       # gray GCT
    out += _gif_image_block(width, height, px, interlaced=interlaced)
    out += b"\x3b"
    return bytes(out)


def _gif_image_block(
    width: int,
    height: int,
    pixels,
    x: int = 0,
    y: int = 0,
    interlaced: bool = False,
    palette: bytes | None = None,
) -> bytes:
    """One image block: descriptor (with offset + interlace flag +
    optional LOCAL color table) + LZW min-code-size + framed sub-blocks
    + terminator (shared by the still, animated, and composited
    writers).  Real LZW: variable code widths 9→12 bits LSB-first,
    dictionary reset on the 4096-entry fill.  ``pixels`` is a numpy
    (height, width) uint8 index array; ``palette`` is ``3·2^n`` RGB
    bytes written as this frame's local color table (r10)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if interlaced:
        px = px[_gif_interlace_rows(height)]
    raw = px.tobytes()
    ipacked = 0x40 if interlaced else 0
    if palette is not None:
        n_entries = len(palette) // 3
        bits = n_entries.bit_length() - 1
        if len(palette) != 3 * (1 << bits) or not 1 <= bits <= 8:
            raise ValueError(
                f"GIF local color table must be 3*2^n bytes (n in 1..8), "
                f"got {len(palette)}"
            )
        ipacked |= 0x80 | (bits - 1)
    out = bytearray(
        b"\x2c" + struct.pack("<HHHHB", x, y, width, height, ipacked)
    )
    if palette is not None:
        out += palette
    mcs = 8
    out.append(mcs)
    clear, eoi = 1 << mcs, (1 << mcs) + 1

    codes: list[tuple[int, int]] = []  # (code, bit width)
    width_bits = mcs + 1
    # dictionary keyed on (prefix CODE, next byte) instead of the grown
    # byte string: same entries, same indices, same emitted code stream
    # (r11 — the bytes-keyed form paid O(len) concat+hash per input
    # byte, quadratic on runs; this is O(1) per byte)
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    codes.append((clear, width_bits))
    cur = -1  # current prefix as a code; roots are the bytes themselves
    for b in raw:
        if cur < 0:
            cur = b
            continue
        key = (cur, b)
        nxt = table.get(key)
        if nxt is not None:
            cur = nxt
            continue
        codes.append((cur, width_bits))
        table[key] = next_code
        next_code += 1
        if next_code - 1 == (1 << width_bits) and width_bits < 12:
            width_bits += 1
        if next_code > 4095:
            codes.append((clear, width_bits))
            table = {}
            next_code = eoi + 1
            width_bits = mcs + 1
        cur = b
    if cur >= 0:
        codes.append((cur, width_bits))
    codes.append((eoi, width_bits))

    acc = n_bits = 0
    data = bytearray()
    for code, wb in codes:
        acc |= code << n_bits
        n_bits += wb
        while n_bits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8
    if n_bits:
        data.append(acc & 0xFF)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif_animated(
    width: int,
    height: int,
    frames,
    delays_cs: list[int],
    loop: int = 0,
) -> bytes:
    """Minimal ANIMATED GIF89a writer: full-screen grayscale frames
    (numpy ``(n, h, w)`` uint8 palette indices), one Graphic Control
    Extension per frame carrying its delay in centiseconds, and the
    NETSCAPE2.0 looping application extension (``loop=0`` = forever —
    the web default).  Same 256-entry gray global color table and real
    LZW as :func:`encode_gif`."""
    import numpy as np

    fr = np.asarray(frames, dtype=np.uint8)
    if fr.ndim != 3 or fr.shape[1:] != (height, width):
        raise ValueError(f"frames shape {fr.shape} != (n, {height}, {width})")
    if len(delays_cs) != fr.shape[0]:
        raise ValueError("one delay per frame required")
    specs = [
        {"px": f, "delay_cs": int(delay), "disposal": 1}
        for f, delay in zip(fr, delays_cs)
    ]
    return encode_gif_frames(width, height, specs, loop=loop)


def encode_gif_frames(
    width: int,
    height: int,
    specs: list[dict],
    loop: int | None = 0,
    bg_index: int = 0,
    comments: list[bytes] | None = None,
) -> bytes:
    """GENERAL animated-GIF89a writer (r10): per-frame dict specs drive
    everything the compositing reader consumes —

    - ``px``: numpy ``(fh, fw)`` uint8 palette indices (gray palette)
    - ``x``/``y``: frame offset on the logical screen (default 0)
    - ``delay_cs``: GCE delay, centiseconds (default 0)
    - ``disposal``: GCE disposal method 0-3 (default 0)
    - ``transparent``: palette index drawn as transparent, or None
    - ``interlaced``: write this frame's rows in 4-pass order
    - ``palette``: ``3·2^n`` RGB bytes as this frame's LOCAL color
      table (r10 — overrides the gray global table for this frame)

    Same 256-entry gray global color table and real LZW as
    :func:`encode_gif`; the logical-screen background color index
    (``bg_index``) is what disposal-2 restores to.  ``loop=None``
    omits the NETSCAPE2.0 extension entirely (play once — the shape
    single-pass encoders emit); ``comments`` writes one COMMENT
    extension per entry, split into ≤255-byte sub-blocks (r11)."""
    import numpy as np

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0xF7, bg_index, 0)
    out += bytes(i for i in range(256) for _ in range(3))       # gray GCT
    if loop is not None:
        out += (
            b"\x21\xff\x0bNETSCAPE2.0\x03\x01"
            + struct.pack("<H", loop)
            + b"\x00"
        )
    for comment in comments or ():
        out += b"\x21\xfe"
        for i in range(0, len(comment), 255):
            chunk = comment[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    for spec in specs:
        px = np.asarray(spec["px"], dtype=np.uint8)
        fh, fw = px.shape
        x, y = int(spec.get("x", 0)), int(spec.get("y", 0))
        if x + fw > width or y + fh > height:
            raise ValueError("GIF frame rect outside the logical screen")
        disposal = int(spec.get("disposal", 0))
        if not 0 <= disposal <= 3:
            raise ValueError(f"GIF disposal method {disposal} undefined")
        transparent = spec.get("transparent")
        gpacked = disposal << 2
        if transparent is not None:
            gpacked |= 0x01
        out += b"\x21\xf9\x04" + struct.pack(
            "<BHB", gpacked, int(spec.get("delay_cs", 0)),
            int(transparent or 0),
        ) + b"\x00"
        out += _gif_image_block(
            fw, fh, px, x=x, y=y,
            interlaced=bool(spec.get("interlaced", False)),
            palette=spec.get("palette"),
        )
    out += b"\x3b"
    return bytes(out)


def _gif_lzw_decode(data: bytes, mcs: int, need: int) -> bytes:
    """GIF LZW decode of one image's pooled sub-block data → exactly
    ``need`` palette-index bytes.  Variable code widths, clear-code
    resets, the KwKwK case; raises ``ValueError`` on truncation or
    out-of-range codes (the shared quarantine contract)."""
    import numpy as np

    clear, eoi = 1 << mcs, (1 << mcs) + 1
    # r11: codes are pulled in numpy BATCHES at the current width instead
    # of a per-code Python bit loop; a batch never outlives its width (it
    # is capped at the worst-case distance to the next width bump and cut
    # short on clear/bump), so the extracted values are exactly the ones
    # the serial reader would produce.
    #
    # r11 second pass (guide §1.2 "per-task work"): every LZW table entry
    # created after a code is, by construction, a SLICE of the output
    # already produced — the entry appended while emitting code t equals
    # out[prev_start : prev_start + prev_len + 1] (prev was the previous
    # emission, and the current emission's first byte lands right after
    # it).  So the table stores (start, len) int pairs into the output
    # buffer and emission is one memoryview slice copy — no per-code
    # bytes concatenation.  Same codes, same emissions, same errors at
    # the same positions (differential-pinned incl. corruptions).
    width_bits = mcs + 1
    next_code = eoi + 1
    starts: list[int] = []  # table entry (code eoi+1+i) -> out[start:start+len]
    lens: list[int] = []
    # overshoot headroom: the final emission may exceed `need` by at most
    # one table-entry length (< 4104 — entries grow by one byte per code)
    out = bytearray(need + 4104)
    mv = memoryview(out)
    out_len = 0
    buf = np.frombuffer(bytes(data) + b"\x00\x00", np.uint8)
    total_bits = len(data) * 8
    pos = 0
    prev_start = 0
    prev_len = 0  # 0 <=> no previous code (stream start / after clear)
    s_app = starts.append
    l_app = lens.append

    while out_len < need:
        k_width = (
            ((1 << width_bits) - next_code + 1) if width_bits < 12 else (1 << 30)
        )
        k_avail = (total_bits - pos) // width_bits
        if k_avail <= 0:
            raise ValueError("GIF LZW stream truncated")
        n = min(k_width, k_avail, need - out_len + 1, 4096)
        offs = pos + width_bits * np.arange(n, dtype=np.int64)
        bi = offs >> 3
        sh = (offs & 7).astype(np.uint32)
        codes = (
            (
                (
                    buf[bi].astype(np.uint32)
                    | (buf[bi + 1].astype(np.uint32) << 8)
                    | (buf[bi + 2].astype(np.uint32) << 16)
                )
                >> sh
            )
            & ((1 << width_bits) - 1)
        ).tolist()
        consumed = 0
        w_used = width_bits
        for code in codes:
            consumed += 1
            if code == clear:
                starts.clear()
                lens.clear()
                next_code = eoi + 1
                width_bits = mcs + 1
                prev_len = 0
                break
            if code == eoi:
                pos += consumed * w_used
                if out_len < need:
                    raise ValueError("GIF pixel data short of descriptor size")
                return bytes(out[:need])
            if prev_len == 0:
                if code >= clear:
                    raise ValueError(f"GIF LZW bad first code {code}")
                out[out_len] = code
                prev_start = out_len
                prev_len = 1
                out_len += 1
                if out_len >= need:
                    break
                continue
            grew = False
            if code < clear:  # root: single byte
                if next_code < 4096:
                    s_app(prev_start)
                    l_app(prev_len + 1)
                    next_code += 1
                    grew = next_code == (1 << width_bits) and width_bits < 12
                out[out_len] = code
                prev_start = out_len
                prev_len = 1
                out_len += 1
            elif code < next_code:
                if code <= eoi:  # the unused clear/eoi table slots
                    raise ValueError(f"GIF LZW code {code} out of range")
                i = code - eoi - 1
                es = starts[i]
                el = lens[i]
                if next_code < 4096:
                    s_app(prev_start)
                    l_app(prev_len + 1)
                    next_code += 1
                    grew = next_code == (1 << width_bits) and width_bits < 12
                out[out_len:out_len + el] = mv[es:es + el]
                prev_start = out_len
                prev_len = el
                out_len += el
            elif code == next_code:  # the KwKwK case: entry = prev + prev[0]
                el = prev_len + 1
                if next_code < 4096:
                    s_app(prev_start)
                    l_app(el)
                    next_code += 1
                    grew = next_code == (1 << width_bits) and width_bits < 12
                out[out_len:out_len + prev_len] = mv[prev_start:prev_start + prev_len]
                out[out_len + prev_len] = out[prev_start]
                prev_start = out_len
                prev_len = el
                out_len += el
            else:
                raise ValueError(f"GIF LZW code {code} out of range")
            if grew:
                width_bits += 1
                break
            if out_len >= need:
                break
        pos += consumed * w_used
    return bytes(out[:need])


def _gif_resolve_matte(matte, bg_rgb):
    """A flatten matte as an RGB triple: ``"background"`` = the LSD
    background color (the spec reading — reproduces every pre-r11
    hash), or an explicit ``(r, g, b)`` (browsers composite against
    the PAGE, so cross-tool flatten comparisons pass the page color —
    white for the ImageMagick ``-background white -flatten`` shape)."""
    import numpy as np

    if isinstance(matte, str):
        if matte != "background":
            raise ValueError(f"unknown GIF matte {matte!r}")
        return bg_rgb
    m = np.asarray(matte, dtype=np.uint8)
    if m.shape != (3,):
        raise ValueError("GIF matte must be 'background' or an RGB triple")
    return m


def _gif_flatten_rgba(frame, matte_rgb):
    """RGBA composited frame → RGB against ``matte_rgb`` (alpha here is
    binary: GIF pixels are opaque or fully transparent)."""
    import numpy as np

    return np.where(
        frame[:, :, 3:] == 0, matte_rgb, frame[:, :, :3]
    ).astype(np.uint8)


def _gif_decode_frames(
    payload: bytes,
    need_trailer: bool,
    max_frames: int | None = None,
    matte="background",
):
    """Shared GIF decode + COMPOSITING core → ``(sw, sh, [frame RGB
    arrays])`` of composited full-screen frames, flattened against
    ``matte`` (see :func:`_gif_resolve_matte`).  Thin wrapper over the
    RGBA core :func:`_gif_decode_frames_rgba`; the default matte is the
    LSD background color, which makes it pixel-identical to the r10
    spec-background reader — every pre-r11 stat/pHash/pairing is
    reproduced bit-for-bit."""
    sw, sh, frames, bg_rgb = _gif_decode_frames_rgba(
        payload, need_trailer, max_frames
    )
    m = _gif_resolve_matte(matte, bg_rgb)
    return sw, sh, [_gif_flatten_rgba(f, m) for f in frames]


def _gif_decode_frames_rgba(
    payload: bytes, need_trailer: bool, max_frames: int | None = None
):
    """GIF decode + BROWSER-PARITY compositing core (r10, RGBA r11) →
    ``(sw, sh, [frame RGBA arrays], bg_rgb)`` of composited FULL-SCREEN
    frames, the way a browser renders them:

    - the canvas starts fully TRANSPARENT (browser semantics — flatten
      chooses what shows through; the spec's background-color reading
      is the default matte at the wrapper),
    - each image is drawn at its descriptor offset with alpha 255;
      pixels equal to the GCE transparent index are skipped (the prior
      canvas shows through),
    - after a frame is emitted its disposal method runs: 0/1 keep,
      2 clear the frame rect to TRANSPARENT (browser semantics, r11 —
      under the default background matte this flattens to exactly the
      spec's restore-to-background-color), 3 restore the rect to the
      canvas as it was before the frame drew,
    - interlaced images are de-interlaced (4-pass row scatter).

    The r10 reader kept an RGB canvas and wrote the background COLOR
    into never-painted and disposal-2-cleared pixels, which diverged
    from browser/ImageMagick-style flattens whenever a disposal-2
    stream with a nonzero background index left the cleared region
    exposed.  The RGBA canvas tracks exposure exactly; the flatten
    matte decides its color — ``matte="background"`` reproduces every
    r10 hash, an explicit page color gives the browser flatten.

    Strict-walk quarantine contract: structural damage, a malformed or
    DUPLICATE Graphic Control Extension, an undefined disposal method
    (4-7), a frame rect outside the logical screen, or an out-of-palette
    VISIBLE pixel all raise ``ValueError`` (a transparent pixel's index
    may legally exceed the palette).  ``need_trailer=False`` +
    ``max_frames=1`` is the lenient first-frame path thumbnails use."""
    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, packed, bg_index = struct.unpack_from("<HHBB", payload, 6)
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(payload):
            raise ValueError("GIF global color table truncated")
        palette = payload[pos : pos + 3 * n]
        pos += 3 * n
    if palette is not None and bg_index * 3 + 2 < len(palette):
        bg_rgb = np.frombuffer(
            palette[bg_index * 3 : bg_index * 3 + 3], dtype=np.uint8
        )
    else:
        bg_rgb = np.zeros(3, dtype=np.uint8)
    if sw == 0 or sh == 0:
        raise ValueError("GIF zero-size logical screen")
    canvas = np.zeros((sh, sw, 4), dtype=np.uint8)
    frames: list = []
    pending: tuple[int, int | None] | None = None
    saw_trailer = False
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            saw_trailer = True
            break
        if block == 0x21:  # extension
            if pos >= len(payload):
                raise ValueError("GIF extension label truncated")
            label = payload[pos]
            pos += 1
            if label == 0xF9:  # Graphic Control Extension — strict
                if pos + 6 > len(payload):
                    raise ValueError("GIF GCE truncated")
                if payload[pos] != 4:
                    raise ValueError(
                        f"GIF GCE block size {payload[pos]} != 4"
                    )
                gpacked = payload[pos + 1]
                tindex = payload[pos + 4]
                if payload[pos + 5] != 0:
                    raise ValueError("GIF GCE missing terminator")
                pos += 6
                disposal = (gpacked >> 2) & 0x07
                if disposal > 3:
                    raise ValueError(
                        f"GIF disposal method {disposal} undefined"
                    )
                if pending is not None:
                    raise ValueError("GIF duplicate GCE before image")
                pending = (disposal, tindex if gpacked & 0x01 else None)
            else:
                while pos < len(payload) and payload[pos] != 0:
                    pos += 1 + payload[pos]
                if pos >= len(payload):
                    raise ValueError("GIF extension unterminated")
                pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"GIF unknown block 0x{block:02x} at {pos - 1}")
        if pos + 9 > len(payload):
            raise ValueError("GIF image descriptor truncated")
        ix, iy, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        if iw == 0 or ih == 0:
            raise ValueError("GIF zero-size frame")
        if ix + iw > sw or iy + ih > sh:
            raise ValueError("GIF frame rect outside the logical screen")
        pal = palette
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(payload):
                raise ValueError("GIF local color table truncated")
            pal = payload[pos : pos + 3 * n]
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF image has no color table")
        if pos >= len(payload):
            raise ValueError("GIF LZW header truncated")
        mcs = payload[pos]
        pos += 1
        if not 2 <= mcs <= 11:
            raise ValueError(f"GIF bad LZW min code size {mcs}")
        data = bytearray()
        while pos < len(payload) and payload[pos] != 0:
            ln = payload[pos]
            if pos + 1 + ln > len(payload):
                raise ValueError("GIF data sub-block truncated")
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        if pos >= len(payload):
            raise ValueError("GIF data blocks unterminated")
        pos += 1

        out = _gif_lzw_decode(bytes(data), mcs, iw * ih)
        idx = np.frombuffer(out, dtype=np.uint8).reshape(ih, iw)
        if ipacked & 0x40:
            deinter = np.empty_like(idx)
            deinter[_gif_interlace_rows(ih)] = idx
            idx = deinter
        disposal, tindex = pending if pending is not None else (0, None)
        pending = None
        visible = None if tindex is None else (idx != tindex)
        if visible is None:
            vmax = int(idx.max(initial=0))
        elif visible.any():
            vmax = int(idx[visible].max())
        else:
            vmax = -1  # fully transparent frame: nothing to palette-map
        if vmax * 3 + 2 >= len(pal):
            raise ValueError("GIF pixel index outside the color table")
        lut = np.frombuffer(pal, dtype=np.uint8)
        lut = lut[: (len(pal) // 3) * 3].reshape(-1, 3)
        rgb = lut[np.minimum(idx, len(lut) - 1)]
        region = canvas[iy : iy + ih, ix : ix + iw]
        prev = region.copy() if disposal == 3 else None
        if visible is None:
            region[:, :, :3] = rgb
            region[:, :, 3] = 255
        else:
            region[:, :, :3][visible] = rgb[visible]
            region[:, :, 3][visible] = 255
        frames.append(canvas.copy())
        if max_frames is not None and len(frames) >= max_frames:
            return sw, sh, frames, bg_rgb
        if disposal == 2:
            # browser semantics (r11): clear to TRANSPARENT; the spec's
            # restore-to-background-color is the default flatten matte
            canvas[iy : iy + ih, ix : ix + iw] = 0
        elif disposal == 3:
            canvas[iy : iy + ih, ix : ix + iw] = prev
    if need_trailer and not saw_trailer:
        # a partial frame stack from a truncated stream would silently
        # change n_frames (and so the equal-length video pairing) — the
        # strict-walk quarantine contract applies to EVERY frame reader
        raise ValueError("GIF stream missing trailer")
    if not frames:
        raise ValueError("GIF stream contains no image")
    return sw, sh, frames, bg_rgb


def decode_gif(payload: bytes):
    """Minimal GIF parser → (width, height, numpy (h, w, 3) RGB top-down)
    of the FIRST composited frame — for an ANIMATED GIF this is the
    first frame as a browser paints it (the thumbnail/dedup convention;
    :func:`gif_anim_info` reads the animation metadata and
    :func:`gif_frames` decodes every frame).  Real LZW decode (variable
    widths, clear-code resets), 4-pass de-interlace, offset/transparency
    compositing over the background canvas (r10 — previously these
    quarantined).  Raises ``ValueError`` on structural damage,
    out-of-palette visible indices, or a stream with no image —
    quarantine upstream, the shared codec contract."""
    sw, sh, frames = _gif_decode_frames(
        payload, need_trailer=False, max_frames=1
    )
    return sw, sh, frames[0]


GIF_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_px", LongType()),
        StructField("max_px", LongType()),
        StructField("ds2_sum", LongType()),
    ]
)


def gif_stats(df: DataFrame) -> DataFrame:
    """REAL decode over the GIF byte path: LZW-decode, palette-map, then
    exact integer pixel statistics on the red channel (the grayscale
    synth's palette is ``(i, i, i)``, so red = the original gray value —
    same contract as :func:`jpeg_stats`)."""
    one = _pixel_stats(decode_gif, red_only=True)
    return _map_rows(df, GIF_STATS_SCHEMA, one, ["media_id", "payload"])


def synth_gif(
    df: DataFrame, id_col: str = "doc_id", interlaced: bool = False
) -> DataFrame:
    """Deterministic textured grayscale GIFs: the quadratic texture of
    :func:`synth_texture_bmp` (``(17k + 3x² + 7y² + 5xy + 11x + 13y)
    mod 251``), size ``(40 + k mod 9) × (36 + 3k mod 11)`` — 1440-2208
    pixels of 251 distinct values add 1675-2423 LZW dictionary entries,
    so EVERY image drives the code width through the 512/1024 (and the
    larger ones through the 2048) transitions under the oracle; the
    4096-entry dictionary reset is unit-test territory
    (test_gif_codec_roundtrip_and_contracts' 120×100 image).  GIF is
    lossless, so an SQL oracle mirrors the texture arithmetic
    pixel-for-pixel."""
    import numpy as np

    def make(k: int):
        w, h = 40 + k % 9, 36 + (3 * k) % 11
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        px = (
            (17 * k + 3 * xs * xs + 7 * ys * ys + 5 * xs * ys
             + 11 * xs + 13 * ys) % 251
        ).astype(np.uint8)
        return encode_gif(w, h, px, interlaced=interlaced), "gif"

    return _synth(df, id_col, make)


def _gif_walk_blocks(payload: bytes):
    """STRICT block walk of a GIF stream — yields
    ``("gce", delay_cs, disposal, has_transparency)``, ``("ext",
    label)``, ``("loop", count)`` for a NETSCAPE2.0 application
    extension (r11), ``("comment", n_bytes)`` for a comment extension
    (r11), and ``("image", iw, ih, interlaced, ix, iy)`` events up
    to the trailer (consumers index positionally, so the r10 feature
    fields extend the tuples without breaking ``ev[1]`` readers;
    unknown event TYPES must be skipped by consumers, which every
    reader here does by matching ``ev[0]``).
    Unlike :func:`decode_gif`'s lenient first-image
    scan, this validates the framing the animation metadata depends on:
    a Graphic Control Extension whose block size isn't 4 (or that is
    missing its terminator), or a DUPLICATE GCE before an image (r10 —
    the compositing reader quarantines those streams, so the metadata
    pass must not count them as healthy) raises — a malformed GCE would
    otherwise silently misreport delays/frame counts.  Sub-block
    FRAMING stays strict for every extension (truncation raises, the
    unchanged quarantine); an application extension whose body is not
    the NETSCAPE2.0 ``\\x03\\x01<loop u16>`` shape degrades to a plain
    ``("ext", 0xFF)`` event — browsers ignore unknown app extensions,
    they don't quarantine the file."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    packed = payload[10]
    pos = 13
    gce_pending = False
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))
        if pos > len(payload):
            raise ValueError("GIF global color table truncated")
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:
            return
        if block == 0x21:
            if pos >= len(payload):
                raise ValueError("GIF extension label truncated")
            label = payload[pos]
            pos += 1
            if label == 0xF9:
                if pos + 6 > len(payload):
                    raise ValueError("GIF GCE truncated")
                size = payload[pos]
                if size != 4:
                    raise ValueError(f"GIF GCE block size {size} != 4")
                gpacked = payload[pos + 1]
                delay = struct.unpack_from("<H", payload, pos + 2)[0]
                if payload[pos + 5] != 0:
                    raise ValueError("GIF GCE missing terminator")
                pos += 6
                if gce_pending:
                    raise ValueError("GIF duplicate GCE before image")
                gce_pending = True
                yield ("gce", delay, (gpacked >> 2) & 0x07,
                       bool(gpacked & 0x01))
            else:
                subs = []
                while pos < len(payload) and payload[pos] != 0:
                    ln = payload[pos]
                    if pos + 1 + ln > len(payload):
                        raise ValueError("GIF extension sub-block truncated")
                    subs.append(payload[pos + 1 : pos + 1 + ln])
                    pos += 1 + ln
                if pos >= len(payload):
                    raise ValueError("GIF extension unterminated")
                pos += 1
                if (
                    label == 0xFF
                    and len(subs) >= 2
                    and subs[0] == b"NETSCAPE2.0"
                    and len(subs[1]) == 3
                    and subs[1][0] == 1
                ):
                    yield ("loop", struct.unpack_from("<H", subs[1], 1)[0])
                elif label == 0xFE:
                    yield ("comment", sum(len(s) for s in subs))
                else:
                    yield ("ext", label)
            continue
        if block != 0x2C:
            raise ValueError(f"GIF unknown block 0x{block:02x} at {pos - 1}")
        if pos + 9 > len(payload):
            raise ValueError("GIF image descriptor truncated")
        ix, iy, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        if ipacked & 0x80:
            pos += 3 * (2 << (ipacked & 0x07))
            if pos > len(payload):
                raise ValueError("GIF local color table truncated")
        pos += 1  # LZW min code size
        while pos < len(payload) and payload[pos] != 0:
            pos += 1 + payload[pos]
        if pos >= len(payload):
            raise ValueError("GIF data blocks unterminated")
        pos += 1
        gce_pending = False
        yield ("image", iw, ih, bool(ipacked & 0x40), ix, iy)
    raise ValueError("GIF stream missing trailer")


def gif_anim_info(payload: bytes) -> tuple[int, int, int, int]:
    """Animation metadata from the block structure ALONE — no LZW
    decode, the header-dims-gate idea applied to animation: returns
    ``(width, height, n_frames, duration_cs)`` where n_frames counts
    image descriptors and duration sums each frame's GCE delay
    (a frame without a preceding GCE contributes 0 — the spec default).
    Raises on structural damage including a malformed GCE."""
    sw, sh = struct.unpack_from("<HH", payload, 6) if len(payload) >= 10 else (0, 0)
    n_frames = 0
    duration = 0
    pending_delay = 0
    saw_any = False
    for ev in _gif_walk_blocks(payload):
        saw_any = True
        if ev[0] == "gce":
            pending_delay = ev[1]
        elif ev[0] == "image":
            n_frames += 1
            duration += pending_delay
            pending_delay = 0
    if not saw_any or n_frames == 0:
        raise ValueError("GIF stream contains no image")
    return int(sw), int(sh), n_frames, duration


def gif_frames(payload: bytes, matte="background"):
    """Decode EVERY frame of a (possibly animated) GIF →
    ``(width, height, numpy (n, h, w, 3) RGB)`` of COMPOSITED
    full-screen frames (r10): partial/offset frames, disposal methods
    0-3, the GCE transparent index, and 4-pass interlace all composite
    the way a browser renders them (:func:`_gif_decode_frames_rgba`) —
    the real-crawl animated-GIF shape, which previously quarantined.
    ``matte`` picks the flatten color for exposed (transparent) canvas
    pixels: the default ``"background"`` is the GIF spec's
    restore-to-background reading; an explicit ``(r, g, b)`` is the
    page color a browser/ImageMagick flatten composites against (r11).
    Structural damage, undefined disposal (4-7), duplicate GCEs,
    out-of-screen rects, and a missing trailer still raise for
    quarantine."""
    import numpy as np

    sw, sh, frames = _gif_decode_frames(
        payload, need_trailer=True, matte=matte
    )
    return sw, sh, np.stack(frames)


GIF_ANIM_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("duration_cs", LongType()),
        StructField("first_sum_px", LongType()),
        StructField("first_max_px", LongType()),
    ]
)


def gif_anim_stats(df: DataFrame) -> DataFrame:
    """Animated-GIF report under the hash gate: the structural walk's
    frame count + total duration (:func:`gif_anim_info` — strict GCE
    framing) paired with FIRST-FRAME exact pixel statistics through the
    real LZW decode (:func:`decode_gif` — the first-frame convention
    thumbnails and perceptual dedup use).  Any GCE misparse, frame
    miscount, or first-frame decode drift breaks the oracle hash."""

    def one(mid, payload):
        p = bytes(payload)
        w, h, n_frames, duration = gif_anim_info(p)
        dw, dh, px = decode_gif(p)
        if (dw, dh) != (w, h):
            raise ValueError("GIF first-frame dims != screen dims")
        g = px[:, :, 0].astype("int64")
        return [(mid, w, h, n_frames, duration, int(g.sum()), int(g.max()))]

    return _map_rows(df, GIF_ANIM_SCHEMA, one, ["media_id", "payload"])


GIF_ANIM_META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("duration_cs", LongType()),
    ]
)


def gif_anim_meta(df: DataFrame, null_on_error: bool = False) -> DataFrame:
    """Animation metadata ALONE (:func:`gif_anim_info` — the strict
    block walk, no LZW decode): the cheap per-payload pass the
    `analyze-media` report and gate-threshold tuning read.
    ``null_on_error=True`` emits NULL fields for structurally damaged
    payloads instead of failing the report."""
    return _map_rows(
        df, GIF_ANIM_META_SCHEMA,
        lambda mid, payload: [(mid,) + gif_anim_info(bytes(payload))],
        ["media_id", "payload"], null_on_error,
    )


def gif_anim_features(payload: bytes) -> tuple:
    """COMPOSITING-relevance features from the block structure ALONE
    (r10, no LZW decode — the gate-threshold economics of
    :func:`gif_anim_info`): ``(n_frames, partial_frames,
    transparent_frames, interlaced_frames, disposal_bg, disposal_prev,
    loop_count, n_comments, comment_bytes)``
    where a frame is PARTIAL if its rect is offset or smaller than the
    logical screen, TRANSPARENT if its GCE sets the transparency flag,
    and disposal_bg/disposal_prev count methods 2 and 3 — the numbers
    that say how much of a GIF corpus actually needs the compositing
    lane (real crawls: most of it).  r11 adds the NETSCAPE2.0 loop
    count (``None`` when the extension is absent — play once; 0 means
    loop forever; the FIRST extension wins, matching browsers) and
    comment-extension counts/bytes — provenance markers encoders and
    crawl pipelines stamp that a dedup report wants surfaced."""
    if len(payload) < 10:
        raise ValueError("not a GIF payload")
    sw, sh = struct.unpack_from("<HH", payload, 6)
    n = partial = transparent = interlaced = d_bg = d_prev = 0
    n_comments = comment_bytes = 0
    loop_count = None
    pending: tuple[int, bool] | None = None
    for ev in _gif_walk_blocks(payload):
        if ev[0] == "gce":
            pending = (ev[2], ev[3])
        elif ev[0] == "loop":
            if loop_count is None:
                loop_count = ev[1]
        elif ev[0] == "comment":
            n_comments += 1
            comment_bytes += ev[1]
        elif ev[0] == "image":
            _, iw, ih, inter, ix, iy = ev
            n += 1
            if (ix, iy) != (0, 0) or (iw, ih) != (sw, sh):
                partial += 1
            if inter:
                interlaced += 1
            disposal, transp = pending if pending is not None else (0, False)
            pending = None
            if transp:
                transparent += 1
            if disposal == 2:
                d_bg += 1
            elif disposal == 3:
                d_prev += 1
    if n == 0:
        raise ValueError("GIF stream contains no image")
    return (n, partial, transparent, interlaced, d_bg, d_prev,
            loop_count, n_comments, comment_bytes)


GIF_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("partial_frames", LongType()),
        StructField("transparent_frames", LongType()),
        StructField("interlaced_frames", LongType()),
        StructField("disposal_bg", LongType()),
        StructField("disposal_prev", LongType()),
        StructField("loop_count", LongType()),
        StructField("n_comments", LongType()),
        StructField("comment_bytes", LongType()),
    ]
)


def gif_feature_meta(df: DataFrame, null_on_error: bool = False) -> DataFrame:
    """Per-payload :func:`gif_anim_features` over a media frame — the
    cheap structural pass `analyze-media` reads to report how much of a
    GIF corpus uses partial frames / transparency / interlace /
    restore-disposals (i.e. exercises the compositing reader), plus
    loop/comment metadata (r11), before any decode is paid for."""
    return _map_rows(
        df, GIF_FEATURES_SCHEMA,
        lambda mid, payload: [(mid,) + gif_anim_features(bytes(payload))],
        ["media_id", "payload"], null_on_error,
    )


def _video_rows(df: DataFrame, frames_of, null_on_error: bool) -> DataFrame:
    """Per-frame pHash rows in the :data:`VIDEO_PHASH_SCHEMA` shape —
    the ONE frame loop of every video-lane adapter: ``frames_of(payload)``
    returns ``(w, h, frames)`` (grayscale or RGB frames; RGB goes through
    the shared integer luma of :func:`_phash_of_pixels`).  Undecodable
    payloads quarantine as one ``(media_id, 0, NULL)`` row."""

    def one(mid, payload):
        w, h, frames = frames_of(bytes(payload))
        return [
            (mid, i, _phash_of_pixels(fr, w, h)) for i, fr in enumerate(frames)
        ]

    return _map_rows(
        df, VIDEO_PHASH_SCHEMA, one, ["media_id", "payload"], null_on_error,
        null_tail=(0, None),
    )


def gif_video_phash(
    df: DataFrame, null_on_error: bool = False, matte="background"
) -> DataFrame:
    """Per-FRAME 63-bit pHash over animated GIFs — the adapter that
    gives animated GIFs the video lane's dedup rights: one row per
    frame with the same schema as :func:`video_phash`, so the
    sequence-pairing machinery (``video_near_pairs`` /
    ``video_trimmed_pairs`` / shot reuse) applies unchanged.
    ``matte`` (r11) picks the flatten color for exposed canvas pixels —
    pass the page color (e.g. white) to pair originals against
    BROWSER-style flattens of disposal-2 streams; the default
    background matte reproduces the r10 hashes."""
    return _video_rows(
        df, lambda payload: gif_frames(payload, matte=matte), null_on_error
    )


def synth_gif_animated(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic ANIMATED grayscale GIFs: ``2 + k mod 4`` full-screen
    frames of the :func:`synth_gif` texture shifted by ``29·f`` per
    frame (``(17k + 3x² + 7y² + 5xy + 11x + 13y + 29f) mod 251`` —
    frame 0 is EXACTLY the still synth's image, so first-frame oracles
    share its arithmetic), per-frame GCE delay ``4 + k mod 7``
    centiseconds, NETSCAPE loop extension.  Size ``(40 + k mod 9) ×
    (36 + 3k mod 11)`` like the still synth."""
    import numpy as np

    def make(k: int):
        w, h = 40 + k % 9, 36 + (3 * k) % 11
        n_frames = 2 + k % 4
        delay = 4 + k % 7
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        base = (
            17 * k + 3 * xs * xs + 7 * ys * ys + 5 * xs * ys
            + 11 * xs + 13 * ys
        )
        frames = np.stack(
            [((base + 29 * f) % 251).astype(np.uint8)
             for f in range(n_frames)]
        )
        payload = encode_gif_animated(
            w, h, frames, [delay] * n_frames
        )
        return payload, "gif"

    return _synth(df, id_col, make)


def synth_gif_animated_dups(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """:func:`synth_gif_animated` with PLANTED re-encoded replays — the
    animated-meme dedup corpus: slots 0-7 are the plain animated synth;
    slot 8 replays the group's slot-0 ANIMATION at +4 brightness (every
    frame's pHash lands at distance 0 — brightness invariance); slot 9
    replays it contrast-reduced (``v − v div 16`` — most threshold signs
    survive, within the pairing threshold).  Transforms apply AFTER the
    mod (pixel ≤ 254, inside the gray palette); dims/frame count/delays
    fold to the seed so the equal-length video pairing contract holds."""
    import numpy as np

    def make(k: int):
        slot = k % 10
        seed = k - slot if slot >= 8 else k
        w, h = 40 + seed % 9, 36 + (3 * seed) % 11
        n_frames = 2 + seed % 4
        delay = 4 + seed % 7
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        base = (
            17 * seed + 3 * xs * xs + 7 * ys * ys + 5 * xs * ys
            + 11 * xs + 13 * ys
        )
        frames = np.stack(
            [((base + 29 * f) % 251) for f in range(n_frames)]
        )
        if slot == 8:
            frames = frames + 4
        elif slot == 9:
            frames = frames - frames // 16
        payload = encode_gif_animated(
            w, h, frames.astype(np.uint8), [delay] * n_frames
        )
        return payload, "gif"

    return _synth(df, id_col, make)


def _position_weights(w: int, h: int):
    """The ``1 + (y·w + x) mod 97`` weight grid of the position-weighted
    frame sums: a correctly-valued but misplaced overlay changes them."""
    import numpy as np

    return (1 + (np.arange(h * w, dtype=np.int64) % 97)).reshape(h, w)


def _red_sums(frame, wts) -> tuple[int, int]:
    """Plain and position-weighted sums of an RGB frame's red channel."""
    g = frame[:, :, 0].astype("int64")
    return int(g.sum()), int((g * wts).sum())


GIF_COMPOSITED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("sum_px", LongType()),
        StructField("wsum_px", LongType()),
    ]
)


def gif_composited_stats(df: DataFrame, matte="background") -> DataFrame:
    """Per-COMPOSITED-FRAME exact integer statistics (r10): every frame
    through :func:`gif_frames`' disposal/transparency/offset/interlace
    compositing (flattened against ``matte`` — default the spec's
    background color, r11), then the red channel's plain sum and a
    POSITION-WEIGHTED sum ``Σ (1 + (y·w + x) mod 97) · px`` — the
    weighting makes a correctly-valued but misplaced overlay (wrong
    offset, wrong disposal restore region, transposed de-interlace)
    break the oracle hash even when the plain sum survives."""

    def one(mid, payload):
        w, h, frames = gif_frames(bytes(payload), matte=matte)
        wts = _position_weights(w, h)
        return [
            (mid, i) + _red_sums(fr, wts) for i, fr in enumerate(frames)
        ]

    return _map_rows(df, GIF_COMPOSITED_SCHEMA, one, ["media_id", "payload"])


def synth_gif_composited(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic COMPOSITED-ANIMATION corpus (r10) — three frames
    per id ``k`` on the ``(40 + k mod 9) × (36 + 3k mod 11)`` logical
    screen with background index 0, exercising every disposal method ×
    transparency × offset × interlace combination from id arithmetic:

    - frame 0: full-screen opaque base texture ``B = (17k + 3x² + 7y²
      + 5xy + 11x + 13y) mod 251`` (the shared still-synth field),
      disposal ``d0 = 1 + k mod 3``,
    - frame 1: PARTIAL rect at ``(3 + k mod 5, 2 + k mod 7)`` sized
      ``(11 + k mod 6) × (9 + k mod 5)``, texture ``P1 = (23k + 7u² +
      5v + 3uv) mod 251`` with TRANSPARENT index 255 planted where
      ``(u + 2v + k) mod 5 = 0`` (the underlying canvas shows
      through), disposal ``d1 = 1 + (k div 3) mod 3`` — k mod 9 cycles
      all nine (d0, d1) combinations,
    - frame 2: partial opaque rect at ``(1 + k mod 9, 4 + k mod 3)``
      sized ``(13 + k mod 4) × (7 + k mod 6)``, texture ``P2 = (31k +
      11u + 13v + u²) mod 251``, INTERLACED for even k.

    Every composited pixel is pure id arithmetic, so a SQL oracle
    re-derives all three canvases CASE-by-CASE with no decoder."""
    return _synth(df, id_col, lambda k: (_gif_composited_payload(k), "gif"))


def _gif_composited_payload(k: int) -> bytes:
    """The :func:`synth_gif_composited` payload for one id — shared with
    the dup-planting synth so the "original" bytes are identical."""
    import numpy as np

    w, h = 40 + k % 9, 36 + (3 * k) % 11
    xs = np.arange(w)[None, :]
    ys = np.arange(h)[:, None]
    base = (
        (17 * k + 3 * xs * xs + 7 * ys * ys + 5 * xs * ys
         + 11 * xs + 13 * ys) % 251
    ).astype(np.uint8)
    pw1, ph1 = 11 + k % 6, 9 + k % 5
    us = np.arange(pw1)[None, :]
    vs = np.arange(ph1)[:, None]
    p1 = (
        (23 * k + 7 * us * us + 5 * vs + 3 * us * vs) % 251
    ).astype(np.uint8)
    p1[(us + 2 * vs + k) % 5 == 0] = 255  # transparent index
    pw2, ph2 = 13 + k % 4, 7 + k % 6
    us = np.arange(pw2)[None, :]
    vs = np.arange(ph2)[:, None]
    p2 = (
        (31 * k + 11 * us + 13 * vs + us * us) % 251
    ).astype(np.uint8)
    return encode_gif_frames(
        w, h,
        [
            {"px": base, "delay_cs": 3, "disposal": 1 + k % 3},
            {"px": p1, "x": 3 + k % 5, "y": 2 + k % 7,
             "delay_cs": 4, "disposal": 1 + (k // 3) % 3,
             "transparent": 255},
            {"px": p2, "x": 1 + k % 9, "y": 4 + k % 3,
             "delay_cs": 5, "disposal": 0,
             "interlaced": k % 2 == 0},
        ],
    )


def synth_gif_local_palette(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic LOCAL-color-table corpus (r10): frame 0 is the
    full-screen gray-palette base texture; frame 1 overlays a partial
    rect whose pixels index a 64-entry per-frame LOCAL palette
    ``pal[i] = ((3i + k) mod 251, (5i + 2k) mod 251, (7i + 3k) mod
    251)`` with indices ``(11k + 3u + 5v) mod 64`` — compositing must
    happen in RGB SPACE through each frame's own table (an index-space
    compositor, or one that reuses the global table, maps wrong colors
    and breaks the red-channel oracle arithmetic)."""
    import numpy as np

    def make(k: int):
        w, h = 40 + k % 9, 36 + (3 * k) % 11
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        base = (
            (17 * k + 3 * xs * xs + 7 * ys * ys + 5 * xs * ys
             + 11 * xs + 13 * ys) % 251
        ).astype(np.uint8)
        pw, ph = 12 + k % 5, 10 + k % 4
        us = np.arange(pw)[None, :]
        vs = np.arange(ph)[:, None]
        idx = ((11 * k + 3 * us + 5 * vs) % 64).astype(np.uint8)
        pal = bytes(
            c
            for i in range(64)
            for c in ((3 * i + k) % 251, (5 * i + 2 * k) % 251,
                      (7 * i + 3 * k) % 251)
        )
        payload = encode_gif_frames(
            w, h,
            [
                {"px": base, "delay_cs": 2, "disposal": 1},
                {"px": idx, "x": 2 + k % 7, "y": 3 + k % 5,
                 "delay_cs": 3, "disposal": 0, "palette": pal},
            ],
        )
        return payload, "gif"

    return _synth(df, id_col, make)


def synth_gif_composited_dups(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """:func:`synth_gif_composited` with planted FLATTENED re-encodes —
    the optimized-vs-unoptimized GIF dedup case a real crawl hits
    constantly: GIF optimizers emit partial frames with disposal
    methods; re-encoders emit full composited frames; both render the
    SAME animation.  Slots 0-7 are the partial-frame composited synth;
    slot 8 re-encodes the group's slot-0 animation as FULL-SCREEN
    flattened frames (the composited canvases written verbatim — every
    frame pHash lands at distance 0 because compositing is exactly what
    the reader reconstructs); slot 9 flattens at +4 brightness (DCT ACs
    unchanged, distance 0 — brightness invariance).  All ids decode to
    3 frames, so the equal-length video pairing contract holds."""
    import numpy as np

    def _composited(k: int):
        w, h = 40 + k % 9, 36 + (3 * k) % 11
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        B = (17 * k + 3 * xs * xs + 7 * ys * ys + 5 * xs * ys
             + 11 * xs + 13 * ys) % 251
        d0, d1 = 1 + k % 3, 1 + (k // 3) % 3
        ox1, oy1 = 3 + k % 5, 2 + k % 7
        pw1, ph1 = 11 + k % 6, 9 + k % 5
        ox2, oy2 = 1 + k % 9, 4 + k % 3
        pw2, ph2 = 13 + k % 4, 7 + k % 6
        us = np.arange(pw1)[None, :]
        vs = np.arange(ph1)[:, None]
        P1 = (23 * k + 7 * us * us + 5 * vs + 3 * us * vs) % 251
        T1 = (us + 2 * vs + k) % 5 == 0
        us = np.arange(pw2)[None, :]
        vs = np.arange(ph2)[:, None]
        P2 = (31 * k + 11 * us + 13 * vs + us * us) % 251
        C0 = B.copy()
        U1 = B.copy() if d0 == 1 else np.zeros_like(B)
        C1 = U1.copy()
        reg = C1[oy1:oy1 + ph1, ox1:ox1 + pw1]
        reg[~T1] = P1[~T1]
        U2 = C1.copy()
        if d1 == 2:
            U2[oy1:oy1 + ph1, ox1:ox1 + pw1] = 0
        elif d1 == 3:
            U2 = U1.copy()
        C2 = U2.copy()
        C2[oy2:oy2 + ph2, ox2:ox2 + pw2] = P2
        return w, h, [C0, C1, C2]

    def make(k: int):
        slot = k % 10
        if slot < 8:
            payload = _gif_composited_payload(k)
        else:
            w, h, frames = _composited(k - slot)
            shift = 4 if slot == 9 else 0
            payload = encode_gif_frames(
                w, h,
                [
                    {"px": (fr + shift).astype(np.uint8),
                     "delay_cs": 3 + i, "disposal": 1}
                    for i, fr in enumerate(frames)
                ],
            )
        return payload, "gif"

    return _synth(df, id_col, make)


GIF_DUAL_MATTE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("sum_bg", LongType()),
        StructField("wsum_bg", LongType()),
        StructField("sum_page", LongType()),
        StructField("wsum_page", LongType()),
    ]
)


def gif_dual_matte_stats(
    df: DataFrame, page=(255, 255, 255)
) -> DataFrame:
    """Per-composited-frame statistics under BOTH flatten mattes (r11):
    ONE RGBA decode per payload (:func:`_gif_decode_frames_rgba`), the
    canvas flattened twice — against the GIF spec's LSD background
    color and against a ``page`` color (browser/ImageMagick flatten) —
    then the red channel's plain + position-weighted sums per matte.
    On a disposal-2 stream whose cleared region stays exposed, the two
    matte columns DIFFER over exactly that region — the gate that pins
    browser semantics (clear to transparent) against the r10 RGB
    reader, which baked the background color into the canvas and could
    not express the page flatten at all."""
    import numpy as np

    page_rgb = np.asarray(page, dtype=np.uint8)
    if page_rgb.shape != (3,):
        raise ValueError("page matte must be an RGB triple")

    def one(mid, payload):
        w, h, frames, bg = _gif_decode_frames_rgba(
            bytes(payload), need_trailer=True
        )
        wts = _position_weights(w, h)
        return [
            (mid, i)
            + _red_sums(_gif_flatten_rgba(fr, bg), wts)
            + _red_sums(_gif_flatten_rgba(fr, page_rgb), wts)
            for i, fr in enumerate(frames)
        ]

    return _map_rows(df, GIF_DUAL_MATTE_SCHEMA, one, ["media_id", "payload"])


def _gif_disposal2_geometry(k: int):
    """The :func:`synth_gif_disposal2` frame plan for id ``k`` — shared
    by the payload writer and the flatten arithmetic so the planted
    browser-flatten replays are derived from id arithmetic alone (never
    from this repo's decoder)."""
    w, h = 40 + k % 9, 36 + (3 * k) % 11
    bgi = 70 + k % 100
    # rects cover MOST of the screen (so cross-id pHash distances are
    # texture-driven, not matte-driven — a mostly-matte canvas would
    # band every id near every other and the pairing query would grow
    # quadratically with corpus size); frame 0's rect always reaches
    # rows frame 1's cannot (y0+ph0 >= 31 > 28 >= y1+ph1), so the
    # disposal-2 exposure is guaranteed nonempty
    r0 = (2 + k % 3, 1 + k % 3, 33 + k % 3, 30 + k % 3)
    r1 = (1 + k % 3, 2 + k % 3, 30 + k % 3, 22 + k % 3)
    return w, h, bgi, r0, r1


def _gif_disposal2_textures(k: int):
    import numpy as np

    _w, _h, _bgi, (x0, y0, pw0, ph0), (x1, y1, pw1, ph1) = (
        _gif_disposal2_geometry(k)
    )
    us = np.arange(pw0)[None, :]
    vs = np.arange(ph0)[:, None]
    p0 = (
        (19 * k + 5 * us * us + 7 * vs + 3 * us * vs) % 251
    ).astype(np.uint8)
    us = np.arange(pw1)[None, :]
    vs = np.arange(ph1)[:, None]
    p1 = ((29 * k + 3 * us + 11 * vs + us * vs) % 251).astype(np.uint8)
    return p0, p1


def _gif_disposal2_payload(k: int) -> bytes:
    """One :func:`synth_gif_disposal2` payload: two PARTIAL frames on a
    screen whose background index is NONZERO (gray value 70 + k mod
    100), frame 0 disposal 2 — its cleared rect stays EXPOSED in frame
    1 (frame 1's smaller rect never covers it), the exact shape where
    the spec's restore-to-background and the browser's
    clear-to-transparent diverge."""
    _p0, _p1 = _gif_disposal2_textures(k)
    w, h, bgi, (x0, y0, _pw0, _ph0), (x1, y1, _pw1, _ph1) = (
        _gif_disposal2_geometry(k)
    )
    return encode_gif_frames(
        w, h,
        [
            {"px": _p0, "x": x0, "y": y0, "delay_cs": 3, "disposal": 2},
            {"px": _p1, "x": x1, "y": y1, "delay_cs": 4, "disposal": 0},
        ],
        bg_index=bgi,
    )


def _gif_disposal2_flat_frames(k: int, page: int = 255):
    """Full-screen BROWSER flattens of :func:`_gif_disposal2_payload`
    on a ``page``-gray matte, from id arithmetic alone: frame 0 = rect
    0 over page, frame 1 = rect 1 over page (rect 0 was disposal-2
    cleared to transparent, so the page shows through everywhere
    else)."""
    import numpy as np

    p0, p1 = _gif_disposal2_textures(k)
    w, h, _bgi, (x0, y0, pw0, ph0), (x1, y1, pw1, ph1) = (
        _gif_disposal2_geometry(k)
    )
    f0 = np.full((h, w), page, dtype=np.uint8)
    f0[y0:y0 + ph0, x0:x0 + pw0] = p0
    f1 = np.full((h, w), page, dtype=np.uint8)
    f1[y1:y1 + ph1, x1:x1 + pw1] = p1
    return w, h, [f0, f1]


def synth_gif_disposal2(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic DISPOSAL-2 EXPOSURE corpus (r11): per id, two
    partial frames on a nonzero-background-index screen where frame
    0's disposal-2 clear stays exposed in frame 1 (see
    :func:`_gif_disposal2_payload`) — the case where spec-background
    and browser flattens diverge, gated by
    :func:`gif_dual_matte_stats`' per-matte sums."""
    return _synth(df, id_col, lambda k: (_gif_disposal2_payload(k), "gif"))


def synth_gif_disposal2_dups(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """:func:`synth_gif_disposal2` with planted BROWSER-FLATTEN
    re-encodes (r11) — the crawl case the r10 RGB reader could not
    pair: a disposal-2 optimized GIF vs the full-frame flatten a
    browser-side re-encoder (screenshot pipeline, ImageMagick
    ``-coalesce -background white -flatten``) emits.  Slots 0-7 are
    the partial-frame disposal-2 synth; slot 8 re-encodes the group's
    slot-0 animation as FULL-SCREEN white-matte flattens (distance 0
    under a white-matte :func:`gif_video_phash`); slot 9 flattens
    contrast-reduced (``v − v div 16``, within the pairing threshold).
    All ids decode to 2 frames, so the equal-length video pairing
    contract holds."""
    import numpy as np

    def make(k: int):
        slot = k % 10
        if slot < 8:
            payload = _gif_disposal2_payload(k)
        else:
            w, h, frames = _gif_disposal2_flat_frames(k - slot)
            if slot == 9:
                frames = [
                    (fr.astype(np.int64) - fr // 16).astype(
                        np.uint8
                    )
                    for fr in frames
                ]
            payload = encode_gif_frames(
                w, h,
                [
                    {"px": fr, "delay_cs": 3 + i, "disposal": 1}
                    for i, fr in enumerate(frames)
                ],
            )
        return payload, "gif"

    return _synth(df, id_col, make)


def synth_gif_loop_meta(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic LOOP/COMMENT metadata corpus (r11): two full-screen
    frames of the animated synth texture per id ``k``, with the
    metadata extensions planted from id arithmetic —

    - NETSCAPE2.0 loop count ``(5k + 2) mod 60000`` when ``k mod 3 ≠
      0``; the extension is OMITTED (play once, ``loop_count`` NULL)
      when ``k mod 3 = 0``,
    - ``k mod 3`` comment extensions, the i-th of length ``1 + (k + i)
      mod 13`` bytes —

    so :func:`gif_anim_features`' loop/comment fields fold to CASE
    arithmetic for the oracle."""
    import numpy as np

    def make(k: int):
        w, h = 40 + k % 9, 36 + (3 * k) % 11
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        base = (
            17 * k + 3 * xs * xs + 7 * ys * ys + 5 * xs * ys
            + 11 * xs + 13 * ys
        )
        payload = encode_gif_frames(
            w, h,
            [
                {"px": ((base + 29 * f) % 251).astype(np.uint8),
                 "delay_cs": 3 + f, "disposal": 1}
                for f in range(2)
            ],
            loop=None if k % 3 == 0 else (5 * k + 2) % 60000,
            comments=[
                bytes([(k + i) % 251]) * (1 + (k + i) % 13)
                for i in range(k % 3)
            ],
        )
        return payload, "gif"

    return _synth(df, id_col, make)


# ------------------------------------------------------------- APNG codec
# ANIMATED PNG — the other animation container a crawl actually holds
# (GIF's successor on the modern web: stickers, emoji, UI captures).  The
# reference has no media code at all (slice_db is a PostgreSQL capture
# tool); this lane exists for the large-scale training-data pipeline: an
# animation that circulates as BOTH GIF and APNG re-encodes must dedup
# across the container formats, and APNG's alpha compositing (blend OVER,
# fractional alpha) is the arithmetic GIF's binary transparency never
# exercises.  Frame data rides the EXISTING PNG machinery (`_png_unfilter`
# per frame region, the same zlib/CRC framing), compositing rides the r11
# RGBA-canvas + matte-flatten design — generalized to REAL alpha: the
# flatten is alpha-weighted, dispose/blend follow the APNG spec (PNG third
# edition §12 / the original Mozilla spec), and blend OVER uses an
# integer-exact form of the spec's straight-alpha compositing so the
# DuckDB oracles re-derive every blended pixel.


def _apng_chunk_walk(payload: bytes):
    """Yield ``(tag, body)`` for every chunk of a PNG stream, verifying
    length framing and CRCs — the strict-walk quarantine contract the
    GIF block walk set: structural damage raises ``ValueError`` instead
    of misreporting.  Stops after IEND."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + ln]
        if len(body) != ln or pos + 12 + ln > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        yield tag, body
        if tag == b"IEND":
            return
        pos += 12 + ln
    raise ValueError("PNG stream missing IEND")


def encode_apng_frames(
    width: int,
    height: int,
    specs: list[dict],
    num_plays: int = 0,
    bkgd: tuple[int, int, int] | None = None,
    hidden_default=None,
) -> bytes:
    """GENERAL APNG writer (r11) — the fixture generator that drives
    every branch of the compositing reader.  Per-frame dict specs:

    - ``px``: numpy ``(fh, fw, 4)`` uint8 straight-alpha RGBA samples
    - ``x``/``y``: frame offset on the canvas (default 0)
    - ``delay_num``/``delay_den``: fcTL delay fraction (default 0/100)
    - ``dispose``: 0 none / 1 background / 2 previous
    - ``blend``: 0 SOURCE (replace incl. alpha) / 1 OVER (composite)

    Layout: IHDR (RGBA-8) → acTL → [bKGD] → fcTL(0) → IDAT holding
    frame 0 (which must be full-canvas at (0,0), per spec for an
    IDAT-backed first frame) → per later frame fcTL + fdAT, one shared
    sequence counter.  ``hidden_default`` (a full-canvas RGBA array)
    writes the default image to IDAT WITHOUT a leading fcTL — the
    "default image is not part of the animation" shape — and every
    spec'd frame goes to fdAT.  Frame scanlines are filter-0; the
    filter variety gate is the still-PNG synth's job."""
    import numpy as np

    def frame_data(px):
        fh, fw = px.shape[:2]
        raw = b"".join(
            b"\x00" + px[yy].tobytes() for yy in range(fh)
        )
        return zlib.compress(raw)

    # validate every spec before writing a byte, then emit ONE stream:
    # a hidden default means IDAT (no sequence number) comes right
    # after acTL/bKGD and every animation frame rides fdAT; otherwise
    # frame 0 (which must be full-canvas) IS the IDAT image, preceded
    # by its fcTL
    frames = []
    for i, spec in enumerate(specs):
        px = np.ascontiguousarray(np.asarray(spec["px"], dtype=np.uint8))
        if px.ndim != 3 or px.shape[2] != 4:
            raise ValueError("APNG frame px must be (fh, fw, 4) RGBA")
        fh, fw = px.shape[:2]
        x, y = int(spec.get("x", 0)), int(spec.get("y", 0))
        if x < 0 or y < 0 or x + fw > width or y + fh > height:
            raise ValueError("APNG frame rect outside the canvas")
        dispose = int(spec.get("dispose", 0))
        blend = int(spec.get("blend", 0))
        if not 0 <= dispose <= 2:
            raise ValueError(f"APNG dispose_op {dispose} undefined")
        if blend not in (0, 1):
            raise ValueError(f"APNG blend_op {blend} undefined")
        if i == 0 and hidden_default is None and (
            (x, y) != (0, 0) or (fw, fh) != (width, height)
        ):
            raise ValueError("APNG IDAT-backed first frame must be full-canvas")
        frames.append((px, fw, fh, x, y,
                       int(spec.get("delay_num", 0)),
                       int(spec.get("delay_den", 100)), dispose, blend))
    if hidden_default is not None:
        dflt = np.ascontiguousarray(
            np.asarray(hidden_default, dtype=np.uint8)
        )
        if dflt.shape != (height, width, 4):
            raise ValueError("APNG hidden default image must be full-canvas RGBA")

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 6, 0, 0, 0)
    out = bytearray(_PNG_SIG + _png_chunk(b"IHDR", ihdr))
    out += _png_chunk(b"acTL", struct.pack(">II", len(specs), num_plays))
    if bkgd is not None:
        out += _png_chunk(b"bKGD", struct.pack(">HHH", *bkgd))
    if hidden_default is not None:
        out += _png_chunk(b"IDAT", frame_data(dflt))
    seq = 0
    for i, (px, fw, fh, x, y, dnum, dden, dispose, blend) in enumerate(frames):
        out += _png_chunk(b"fcTL", struct.pack(
            ">IIIIIHHBB", seq, fw, fh, x, y, dnum, dden, dispose, blend,
        ))
        seq += 1
        data = frame_data(px)
        if i == 0 and hidden_default is None:
            out += _png_chunk(b"IDAT", data)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + data)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def _apng_blend_over(dst, src):
    """Integer-exact APNG blend OVER (straight alpha, uint8 in/out).
    The spec composes in [0, 1] floats; with 0-255 channels the exact
    rationals are ``out_a = (fa·255 + ba·(255−fa)) / 255`` and
    ``out_c = (fc·fa·255 + bc·ba·(255−fa)) / (fa·255 + ba·(255−fa))``
    — both rounded HALF-UP here, so every blended pixel is one integer
    expression the SQL oracles restate.  Fully-transparent results keep
    zeroed color channels."""
    import numpy as np

    fa = src[..., 3:].astype(np.int64)
    ba = dst[..., 3:].astype(np.int64)
    fc = src[..., :3].astype(np.int64)
    bc = dst[..., :3].astype(np.int64)
    num_a = fa * 255 + ba * (255 - fa)
    out_a = (num_a + 127) // 255
    safe = np.maximum(num_a, 1)
    out_c = (fc * fa * 255 + bc * ba * (255 - fa) + safe // 2) // safe
    out_c = np.where(num_a == 0, 0, out_c)
    return np.concatenate([out_c, out_a], axis=2).astype(np.uint8)


def _rgba_flatten(frame, matte_rgb):
    """RGBA → RGB against ``matte_rgb`` with REAL alpha weighting
    (round half-up) — the generalization of :func:`_gif_flatten_rgba`
    APNG's fractional alpha needs; identical on binary-alpha frames."""
    import numpy as np

    a = frame[:, :, 3:].astype(np.int64)
    c = frame[:, :, :3].astype(np.int64)
    m = np.asarray(matte_rgb, dtype=np.int64)
    return ((c * a + m * (255 - a) + 127) // 255).astype(np.uint8)


def _png_samples_to_rgba(arr, color: int, plte, fw: int, fh: int):
    """Decoded PNG samples (any depth-8 color type) → straight-alpha
    ``(fh, fw, 4)`` RGBA.  Gray / palette / RGB frames are opaque;
    gray+alpha and RGBA carry their alpha through."""
    import numpy as np

    out = np.empty((fh, fw, 4), dtype=np.uint8)
    if color == 0:
        g = arr.reshape(fh, fw)
        out[:, :, 0] = out[:, :, 1] = out[:, :, 2] = g
        out[:, :, 3] = 255
    elif color == 2:
        out[:, :, :3] = arr.reshape(fh, fw, 3)
        out[:, :, 3] = 255
    elif color == 3:
        if plte is None or len(plte) == 0 or len(plte) % 3:
            raise ValueError("palette PNG without a valid PLTE chunk")
        idx = arr.reshape(fh, fw)
        if int(idx.max(initial=0)) >= len(plte) // 3:
            raise ValueError("PNG palette index outside the PLTE table")
        lut = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        out[:, :, :3] = lut[idx]
        out[:, :, 3] = 255
    elif color == 4:
        ga = arr.reshape(fh, fw, 2)
        out[:, :, 0] = out[:, :, 1] = out[:, :, 2] = ga[:, :, 0]
        out[:, :, 3] = ga[:, :, 1]
    else:
        out[:] = arr.reshape(fh, fw, 4)
    return out


def _apng_decode_frames_rgba(payload: bytes):
    """APNG decode + compositing core (r11) → ``(w, h, [frame RGBA
    arrays], bg_rgb, num_plays)`` of composited full-canvas frames,
    browser-style:

    - the canvas starts fully TRANSPARENT,
    - each frame's region decodes through the SHARED PNG scanline
      machinery (its own zlib stream, its own filter bytes,
      :func:`_png_unfilter` at the region's stride),
    - blend 0 (SOURCE) replaces the region INCLUDING alpha — an
      alpha-0 source pixel punches a hole GIF's skip-the-index
      transparency cannot, blend 1 (OVER) alpha-composites via
      :func:`_apng_blend_over`,
    - after a frame is emitted its dispose_op runs: 0 keep, 1 clear
      the region to transparent, 2 restore the region to the canvas as
      it was before the frame drew; the FIRST frame's dispose 2 is
      treated as 1 (spec: there is no previous),
    - the default image: an fcTL BEFORE IDAT makes the IDAT image
      frame 0 (and it must be full-canvas); otherwise the IDAT image
      is a fallback for non-animated readers and is NOT composited.

    ``bg_rgb`` is the bKGD chunk's color (zeros when absent) — the
    matte :func:`apng_frames` resolves ``"background"`` to.  Strict
    quarantine contract (ValueError): missing/duplicate acTL, fcTL
    count vs acTL mismatch, out-of-order sequence numbers, undefined
    dispose/blend ops, out-of-canvas rects, non-full-canvas IDAT
    frame 0, fdAT before any fcTL, tRNS (palette alpha — unsupported),
    truncated or CRC-damaged chunks, non-depth-8 streams."""
    import numpy as np

    ihdr = None
    plte = None
    bkgd = None
    actl = None
    idat = bytearray()
    fctl_list: list = []  # (fctl fields, bytearray data, uses_idat)
    cur = None
    expect_seq = 0
    saw_idat = False
    saw_end = False
    for tag, body in _apng_chunk_walk(payload):
        if tag == b"IHDR":
            ihdr = body
        elif tag == b"PLTE":
            plte = body
        elif tag == b"tRNS":
            raise ValueError("APNG tRNS (palette alpha) unsupported")
        elif tag == b"bKGD":
            bkgd = body
        elif tag == b"acTL":
            if actl is not None:
                raise ValueError("duplicate acTL chunk")
            if saw_idat:
                raise ValueError("acTL after IDAT")
            if len(body) != 8:
                raise ValueError("acTL length != 8")
            actl = struct.unpack(">II", body)
        elif tag == b"fcTL":
            if len(body) != 26:
                raise ValueError("fcTL length != 26")
            seq, fw, fh, fx, fy, dnum, dden, dispose, blend = struct.unpack(
                ">IIIIIHHBB", body
            )
            if seq != expect_seq:
                raise ValueError(
                    f"APNG sequence number {seq} != expected {expect_seq}"
                )
            expect_seq += 1
            if dispose > 2:
                raise ValueError(f"APNG dispose_op {dispose} undefined")
            if blend > 1:
                raise ValueError(f"APNG blend_op {blend} undefined")
            if not saw_idat and any(c[2] for c in fctl_list):
                # the spec allows AT MOST ONE fcTL before IDAT (the
                # IDAT-backed frame 0); a second one would replay the
                # same IDAT bytes as a fabricated extra frame
                raise ValueError("APNG multiple fcTL chunks before IDAT")
            cur = [
                (fw, fh, fx, fy, dnum, dden, dispose, blend),
                bytearray(),
                not saw_idat,
            ]
            fctl_list.append(cur)
        elif tag == b"fdAT":
            if len(body) < 4:
                raise ValueError("fdAT missing sequence number")
            (seq,) = struct.unpack(">I", body[:4])
            if seq != expect_seq:
                raise ValueError(
                    f"APNG sequence number {seq} != expected {expect_seq}"
                )
            expect_seq += 1
            if cur is None or cur[2]:
                raise ValueError("fdAT without a preceding post-IDAT fcTL")
            cur[1] += body[4:]
        elif tag == b"IDAT":
            saw_idat = True
            idat += body
        elif tag == b"IEND":
            saw_end = True
    if ihdr is None or not saw_end or not saw_idat:
        raise ValueError("missing IHDR/IDAT/IEND")
    if actl is None:
        raise ValueError("PNG without acTL is not animated")
    w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or color not in (0, 2, 3, 4, 6) or comp or filt or interlace:
        raise ValueError(
            f"unsupported APNG: depth={depth} color={color} "
            f"interlace={interlace}"
        )
    if w == 0 or h == 0:
        raise ValueError("APNG zero-size canvas")
    n_frames, num_plays = actl
    if n_frames != len(fctl_list) or n_frames == 0:
        raise ValueError(
            f"acTL num_frames {n_frames} != {len(fctl_list)} fcTL chunks"
        )
    bpp = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    if bkgd is not None:
        if color == 3:
            if len(bkgd) != 1:
                raise ValueError("bKGD length for palette PNG != 1")
            bg_rgb = _png_samples_to_rgba(
                np.array([bkgd[0]], dtype=np.uint8), 3, plte, 1, 1
            )[0, 0, :3]
        elif color in (0, 4):
            if len(bkgd) != 2:
                raise ValueError("bKGD length for grayscale PNG != 2")
            v = struct.unpack(">H", bkgd)[0]
            if v > 255:
                raise ValueError("bKGD sample exceeds bit depth")
            bg_rgb = np.full(3, v, dtype=np.uint8)
        else:
            if len(bkgd) != 6:
                raise ValueError("bKGD length for RGB PNG != 6")
            vals = struct.unpack(">HHH", bkgd)
            if max(vals) > 255:
                raise ValueError("bKGD sample exceeds bit depth")
            bg_rgb = np.asarray(vals, dtype=np.uint8)
    else:
        bg_rgb = np.zeros(3, dtype=np.uint8)

    def decode_region(data: bytes, fw: int, fh: int):
        try:
            raw = zlib.decompress(bytes(data))
        except zlib.error as e:
            raise ValueError(f"corrupt APNG frame data: {e}") from e
        stride = fw * bpp
        if len(raw) != fh * (stride + 1):
            raise ValueError("APNG frame data length mismatch")
        recon = _png_unfilter(raw, fh, stride, bpp)
        return _png_samples_to_rgba(
            np.frombuffer(recon, dtype=np.uint8), color, plte, fw, fh
        )

    canvas = np.zeros((h, w, 4), dtype=np.uint8)
    frames: list = []
    for i, (meta, data, uses_idat) in enumerate(fctl_list):
        fw, fh, fx, fy, _dn, _dd, dispose, blend = meta
        if fw == 0 or fh == 0 or fx + fw > w or fy + fh > h:
            raise ValueError("APNG frame rect outside the canvas")
        if uses_idat:
            if (fx, fy) != (0, 0) or (fw, fh) != (w, h):
                raise ValueError(
                    "APNG IDAT-backed first frame must be full-canvas"
                )
            if len(data):
                raise ValueError("fdAT attached to the IDAT-backed frame")
            px = decode_region(bytes(idat), fw, fh)
        else:
            px = decode_region(bytes(data), fw, fh)
        region = canvas[fy : fy + fh, fx : fx + fw]
        if dispose == 2:
            saved = region.copy()
        if blend == 0:
            canvas[fy : fy + fh, fx : fx + fw] = px
        else:
            canvas[fy : fy + fh, fx : fx + fw] = _apng_blend_over(region, px)
        frames.append(canvas.copy())
        if dispose == 1 or (dispose == 2 and i == 0):
            canvas[fy : fy + fh, fx : fx + fw] = 0
        elif dispose == 2:
            canvas[fy : fy + fh, fx : fx + fw] = saved
    return w, h, frames, bg_rgb, num_plays


def apng_frames(payload: bytes, matte="background"):
    """APNG → ``(w, h, [composited full-canvas RGB frames])`` flattened
    against ``matte``: ``"background"`` = the bKGD chunk's color (black
    when absent — APNG has no GIF-style mandatory background, and the
    canvas itself starts transparent), or an explicit RGB triple (the
    page color a browser would flatten against).  The flatten is
    ALPHA-WEIGHTED (:func:`_rgba_flatten`) — APNG frames carry real
    fractional alpha, not GIF's binary transparency."""
    w, h, frames, bg_rgb, _plays = _apng_decode_frames_rgba(payload)
    m = _gif_resolve_matte(matte, bg_rgb)
    return w, h, [_rgba_flatten(f, m) for f in frames]


def apng_video_phash(
    df: DataFrame, null_on_error: bool = False, matte="background"
) -> DataFrame:
    """Per-frame 63-bit pHash over animated PNGs — the adapter that
    gives APNG the video lane's dedup rights, exactly as
    :func:`gif_video_phash` did for GIF: one row per composited frame
    in the :data:`VIDEO_PHASH_SCHEMA` shape, the SAME integer luma +
    fixed-point DCT chain, so ``video_near_pairs`` and the streaming
    index apply unchanged."""
    return _video_rows(
        df, lambda payload: apng_frames(payload, matte=matte), null_on_error
    )


def anim_video_phash(
    df: DataFrame, null_on_error: bool = False, matte="background"
) -> DataFrame:
    """CROSS-FORMAT animation fingerprints: per-payload magic-byte
    dispatch between the GIF and APNG compositing readers, emitting the
    ONE per-frame pHash contract — so an animation that circulates as
    both a GIF and an APNG re-encode pairs through the unchanged video
    machinery, and one streaming index dedups animations regardless of
    container (``fingerprint="anim-video"``).  ``matte`` applies to
    both readers (``"background"`` = each format's own reading: the
    GIF LSD background color / the PNG bKGD chunk or black); payloads
    that are neither format raise (or NULL-quarantine)."""

    def frames_of(b: bytes):
        if b[:6] in (b"GIF87a", b"GIF89a"):
            return gif_frames(b, matte=matte)
        if b[:8] == _PNG_SIG:
            return apng_frames(b, matte=matte)
        raise ValueError("neither a GIF nor a PNG payload")

    return _video_rows(df, frames_of, null_on_error)


def apng_anim_features(payload: bytes) -> tuple:
    """APNG structural features from the CHUNK WALK alone (no inflate —
    the gate-threshold economics of :func:`gif_anim_features`):
    ``(n_frames, partial_frames, over_frames, dispose_bg, dispose_prev,
    num_plays, default_hidden, total_delay_ms)`` where a frame is
    PARTIAL if its fcTL region is offset or smaller than the canvas,
    OVER counts blend_op 1 (the frames that actually need alpha
    compositing), dispose_bg/prev count dispose_ops 1/2, num_plays is
    acTL's loop field (0 = forever), ``default_hidden`` flags the
    default-image-not-in-animation layout, and the total delay sums
    ``round(1000·num/den)`` with the spec's den-0→100 reading.
    Raises on structural damage — the strict-walk quarantine
    contract."""
    ihdr = None
    actl = None
    saw_idat = saw_end = False
    n = partial = over = d_bg = d_prev = 0
    first_before_idat = None
    delay_ms = 0
    expect_seq = 0
    for tag, body in _apng_chunk_walk(payload):
        if tag == b"IHDR":
            ihdr = body
        elif tag == b"acTL":
            if actl is not None:
                raise ValueError("duplicate acTL chunk")
            if len(body) != 8:
                raise ValueError("acTL length != 8")
            actl = struct.unpack(">II", body)
        elif tag == b"fcTL":
            if len(body) != 26:
                raise ValueError("fcTL length != 26")
            seq, fw, fh, fx, fy, dnum, dden, dispose, blend = struct.unpack(
                ">IIIIIHHBB", body
            )
            if seq != expect_seq:
                raise ValueError(
                    f"APNG sequence number {seq} != expected {expect_seq}"
                )
            expect_seq += 1
            if first_before_idat is None:
                first_before_idat = not saw_idat
            elif first_before_idat and not saw_idat:
                raise ValueError("APNG multiple fcTL chunks before IDAT")
            n += 1
            if ihdr is None:
                raise ValueError("fcTL before IHDR")
            w, h = struct.unpack(">II", ihdr[:8])
            if (fx, fy) != (0, 0) or (fw, fh) != (w, h):
                partial += 1
            if blend == 1:
                over += 1
            if dispose == 1:
                d_bg += 1
            elif dispose == 2:
                d_prev += 1
            delay_ms += round(1000 * dnum / (dden or 100))
        elif tag == b"fdAT":
            if len(body) < 4:
                raise ValueError("fdAT missing sequence number")
            (seq,) = struct.unpack(">I", body[:4])
            if seq != expect_seq:
                raise ValueError(
                    f"APNG sequence number {seq} != expected {expect_seq}"
                )
            expect_seq += 1
        elif tag == b"IDAT":
            saw_idat = True
        elif tag == b"IEND":
            saw_end = True
    if ihdr is None or not saw_end or not saw_idat:
        raise ValueError("missing IHDR/IDAT/IEND")
    if actl is None:
        raise ValueError("PNG without acTL is not animated")
    if actl[0] != n or n == 0:
        raise ValueError(f"acTL num_frames {actl[0]} != {n} fcTL chunks")
    return (
        n, partial, over, d_bg, d_prev, actl[1],
        0 if first_before_idat else 1, delay_ms,
    )


APNG_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("partial_frames", LongType()),
        StructField("over_frames", LongType()),
        StructField("dispose_bg", LongType()),
        StructField("dispose_prev", LongType()),
        StructField("num_plays", LongType()),
        StructField("default_hidden", LongType()),
        StructField("total_delay_ms", LongType()),
    ]
)


def apng_feature_meta(df: DataFrame, null_on_error: bool = False) -> DataFrame:
    """Per-payload :func:`apng_anim_features` over a media frame — the
    cheap structural pass `analyze-media` reads for APNG corpora,
    before any inflate is paid for."""
    return _map_rows(
        df, APNG_FEATURES_SCHEMA,
        lambda mid, payload: [(mid,) + apng_anim_features(bytes(payload))],
        ["media_id", "payload"], null_on_error,
    )


APNG_DUAL_MATTE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("sum_white", LongType()),
        StructField("wsum_white", LongType()),
        StructField("sum_black", LongType()),
        StructField("wsum_black", LongType()),
    ]
)


def apng_dual_matte_stats(df: DataFrame) -> DataFrame:
    """Per-composited-frame statistics under TWO flatten mattes (white
    page / black): ONE RGBA decode per payload, the canvas flattened
    twice, then the red channel's plain + position-weighted sums per
    matte.  Exposed-transparent and FRACTIONAL-alpha pixels track the
    matte by exactly the alpha-weighted arithmetic the oracle
    re-derives — a reader that mishandles SOURCE's alpha punch-through,
    OVER's integer blend, or any dispose op breaks at least one
    column."""
    import numpy as np

    white = np.full(3, 255, dtype=np.uint8)
    black = np.zeros(3, dtype=np.uint8)

    def one(mid, payload):
        w, h, frames, _bg, _plays = _apng_decode_frames_rgba(bytes(payload))
        wts = _position_weights(w, h)
        return [
            (mid, i)
            + _red_sums(_rgba_flatten(fr, white), wts)
            + _red_sums(_rgba_flatten(fr, black), wts)
            for i, fr in enumerate(frames)
        ]

    return _map_rows(df, APNG_DUAL_MATTE_SCHEMA, one, ["media_id", "payload"])


def _apng_composited_fields(k: int):
    """The :func:`synth_apng_composited` frame plan for id ``k`` as
    numpy fields — shared by the payload writer and the arithmetic
    flatten so planted re-encodes derive from id arithmetic alone
    (never from the decoder under test)."""
    import numpy as np

    w, h = 40 + k % 9, 36 + (3 * k) % 11
    xs = np.arange(w)[None, :]
    ys = np.arange(h)[:, None]
    b = (
        (17 * k + 3 * xs * xs + 7 * ys * ys + 5 * xs * ys
         + 11 * xs + 13 * ys) % 251
    ).astype(np.int64) + np.zeros((h, w), dtype=np.int64)
    ox1, oy1 = 3 + k % 5, 2 + k % 7
    pw1, ph1 = 11 + k % 6, 9 + k % 5
    us = np.arange(pw1)[None, :]
    vs = np.arange(ph1)[:, None]
    p1 = (
        (23 * k + 7 * us * us + 5 * vs + 3 * us * vs) % 251
    ).astype(np.int64) + np.zeros((ph1, pw1), dtype=np.int64)
    hole = ((us + 2 * vs + k) % 5 == 0) | np.zeros(
        (ph1, pw1), dtype=bool
    )
    ox2, oy2 = 1 + k % 9, 4 + k % 3
    pw2, ph2 = 13 + k % 4, 7 + k % 6
    us = np.arange(pw2)[None, :]
    vs = np.arange(ph2)[:, None]
    p2 = (
        (31 * k + 11 * us + 13 * vs + us * us) % 251
    ).astype(np.int64) + np.zeros((ph2, pw2), dtype=np.int64)
    fa = (
        (37 * k + 2 * us * us + 3 * vs) % 256
    ).astype(np.int64) + np.zeros((ph2, pw2), dtype=np.int64)
    return (w, h, b, (ox1, oy1, pw1, ph1, p1, hole),
            (ox2, oy2, pw2, ph2, p2, fa))


def _apng_composited_payload(k: int) -> bytes:
    import numpy as np

    (w, h, b, (ox1, oy1, pw1, ph1, p1, hole),
     (ox2, oy2, pw2, ph2, p2, fa)) = _apng_composited_fields(k)
    bb = b.astype(np.uint8)
    f0 = np.dstack([bb, bb, bb, np.full((h, w), 255, np.uint8)])
    pp1 = p1.astype(np.uint8)
    a1 = np.where(hole, 0, 255).astype(np.uint8)
    f1 = np.dstack([pp1, pp1, pp1, a1])
    pp2 = p2.astype(np.uint8)
    f2 = np.dstack([pp2, pp2, pp2, fa.astype(np.uint8)])
    return encode_apng_frames(
        w, h,
        [
            {"px": f0, "dispose": k % 3, "blend": 0},
            {"px": f1, "x": ox1, "y": oy1,
             "dispose": (k // 3) % 3, "blend": 0},
            {"px": f2, "x": ox2, "y": oy2, "dispose": 0, "blend": 1},
        ],
        num_plays=k % 7,
    )


def _apng_composited_flat_frames(k: int, matte: int = 255):
    """The three ``matte``-flattened composited frames of
    :func:`_apng_composited_payload` from id arithmetic ALONE — the
    same layered derivation the dual-matte SQL oracle states (canvas
    state as value-or-transparent, the integer blend formulas), with
    no call into the decoder under test."""
    import numpy as np

    (w, h, b, (ox1, oy1, pw1, ph1, p1, hole),
     (ox2, oy2, pw2, ph2, p2, fa)) = _apng_composited_fields(k)
    d0, d1 = k % 3, (k // 3) % 3
    NONE = -1  # transparent marker in value space

    u0 = b.copy() if d0 == 0 else np.full((h, w), NONE, np.int64)
    # frame 1 visible + post-dispose state
    o1 = u0.copy()
    s1 = u0.copy()
    r1v = np.where(hole, NONE, p1)
    o1[oy1:oy1 + ph1, ox1:ox1 + pw1] = r1v
    if d1 == 0:
        s1[oy1:oy1 + ph1, ox1:ox1 + pw1] = r1v
    elif d1 == 1:
        s1[oy1:oy1 + ph1, ox1:ox1 + pw1] = NONE
    # d1 == 2: rect reverts to u0 (already there)
    # frame 2 visible over s1 in rect2
    f2 = np.where(s1 == NONE, matte, s1)
    bgv = s1[oy2:oy2 + ph2, ox2:ox2 + pw2]
    opaque = bgv != NONE
    blended = (
        255 * (p2 * fa + np.where(opaque, bgv, 0) * (255 - fa)) + 32512
    ) // 65025
    over_transparent = np.where(
        fa == 0, matte, (p2 * fa + matte * (255 - fa) + 127) // 255
    )
    f2[oy2:oy2 + ph2, ox2:ox2 + pw2] = np.where(
        opaque, blended, over_transparent
    )
    f0 = b.copy()
    f1 = np.where(o1 == NONE, matte, o1)
    return w, h, [fr.astype(np.uint8) for fr in (f0, f1, f2)]


def synth_apng_optimized_dups(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """:func:`synth_apng_composited` with planted FLATTEN re-encodes
    (r11) — the APNG compositing payoff, mirroring the GIF
    optimized-pairs gate: slots 0-7 are the dispose/blend synth
    verbatim; slot 8 re-encodes the group's slot-0 animation as
    FULL-CANVAS opaque white-matte flattens (distance 0 under a
    white-matte :func:`apng_video_phash` — through the punch-through
    holes AND the fractional-alpha blend); slot 9 flattens
    contrast-reduced (``v − v div 16``, within the pairing threshold).
    The flatten frames derive from id arithmetic alone."""
    import numpy as np

    def make(k: int):
        slot = k % 10
        if slot < 8:
            payload = _apng_composited_payload(k)
        else:
            w, h, frames = _apng_composited_flat_frames(k - slot)
            if slot == 9:
                frames = [
                    (fr.astype(np.int64) - fr // 16).astype(
                        np.uint8
                    )
                    for fr in frames
                ]
            payload = encode_apng_frames(
                w, h,
                [
                    {"px": np.dstack(
                        [fr, fr, fr,
                         np.full((h, w), 255, np.uint8)]
                    ), "dispose": 0, "blend": 0}
                    for fr in frames
                ],
            )
        return payload, "png"

    return _synth(df, id_col, make)


def synth_apng_composited(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic APNG corpus cycling dispose × blend semantics —
    the APNG analog of :func:`synth_gif_composited`, with the two
    things GIF cannot express planted on purpose: SOURCE-blend alpha-0
    punch-through and fractional-alpha OVER blending.  Per id ``k``
    (canvas ``(40 + k mod 9) × (36 + 3k mod 11)``, grayscale RGBA):

    - frame 0: full-canvas opaque base ``b = (17k + 3x² + 7y² + 5xy +
      11x + 13y) mod 251``, dispose ``k mod 3`` (0 keep / 1 clears the
      whole canvas / 2 ≡ background on the first frame),
    - frame 1: rect ``(3 + k mod 5, 2 + k mod 7) · (11 + k mod 6) ×
      (9 + k mod 5)``, SOURCE blend of ``p1 = (23k + 7u² + 5v + 3uv)
      mod 251`` with alpha 0 where ``(u + 2v + k) mod 5 = 0`` (the
      punch-through holes) else 255, dispose ``(k div 3) mod 3``,
    - frame 2: rect ``(1 + k mod 9, 4 + k mod 3) · (13 + k mod 4) ×
      (7 + k mod 6)``, OVER blend of ``p2 = (31k + 11u + 13v + u²)
      mod 251`` at alpha ``(37k + 2u² + 3v) mod 256`` — every blended
      pixel exercises the integer-exact compositing formula.

    Pure id arithmetic end to end, so the dual-matte oracle re-derives
    every flattened pixel CASE-by-CASE."""
    return _synth(df, id_col, lambda k: (_apng_composited_payload(k), "png"))


def synth_apng_gif_pairs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """CROSS-FORMAT duplicate corpus: per group of ten ids, slots 0-7
    are the :func:`synth_gif_animated` GIF animations verbatim (their
    own ids as seeds), slot 8 is the SAME animation as slot 0
    re-encoded as an opaque full-frame APNG (identical gray values —
    the GIF→APNG re-encode a modern pipeline emits), and slot 9 the
    APNG re-encode at +4 brightness (pHash distance 0 — AC
    invariance).  `anim_video_phash` must land (0,8), (0,9), (8,9) at
    distance 0 per group through the UNCHANGED `video_near_pairs`
    machinery — the cross-container dedup payoff."""
    import numpy as np

    def make(k: int):
        slot = k % 10
        seed = k - slot if slot >= 8 else k
        w, h = 40 + seed % 9, 36 + (3 * seed) % 11
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        base = (
            17 * seed + 3 * xs * xs + 7 * ys * ys + 5 * xs * ys
            + 11 * xs + 13 * ys
        )
        n_frames = 2 + seed % 4
        if slot < 8:
            payload = encode_gif_frames(
                w, h,
                [
                    {"px": ((base + 29 * f) % 251).astype(np.uint8),
                     "delay_cs": 4 + seed % 7, "disposal": 1}
                    for f in range(n_frames)
                ],
            )
            fmt = "gif"
        else:
            add = 4 if slot == 9 else 0
            specs = []
            for f in range(n_frames):
                g = (
                    ((base + 29 * f) % 251 + add) % 256
                ).astype(np.uint8) + np.zeros((h, w), np.uint8)
                specs.append(
                    {"px": np.dstack(
                        [g, g, g, np.full((h, w), 255, np.uint8)]
                    ), "dispose": 0, "blend": 0}
                )
            payload = encode_apng_frames(w, h, specs)
            fmt = "png"
        return payload, fmt

    return _synth(df, id_col, make)


# ---------------------------------------------------------- real Y4M codec
# VIDEO, dependency-free: YUV4MPEG2 is the uncompressed interchange format
# every ffmpeg pipeline can emit (`-f yuv4mpeg2`) — an ASCII stream header
# (W/H/F/C tags), then "FRAME\n" + raw planes per frame.  Mono (Cmono) is
# written and parsed in full; 4:2:0 variants parse by reading the luma
# plane and skipping chroma (the analysis path is luminance anyway).  This
# retires the video stub the same way PNG/JPEG retired the stills stub:
# real header parsing, real per-frame strides, real frame sampling.


def encode_y4m(width: int, height: int, frames, fps: tuple[int, int] = (25, 1)) -> bytes:
    """Minimal YUV4MPEG2 writer: uint8 ``(n_frames, h, w)`` grayscale
    frames, ``Cmono`` colorspace."""
    import numpy as np

    fr = np.asarray(frames, dtype=np.uint8)
    out = bytearray(
        f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 Cmono\n".encode()
    )
    for f in fr:
        out += b"FRAME\n"
        out += f.tobytes()
    return bytes(out)


def decode_y4m(payload: bytes):
    """YUV4MPEG2 parser → ``(width, height, numpy uint8 (n_frames, h, w))``
    luma frames.  ``Cmono`` reads the full frame; ``C420*`` reads the luma
    plane and skips the chroma planes; other colorspaces raise ValueError
    (quarantine rows), as do truncated frames or malformed headers."""
    import numpy as np

    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("unterminated Y4M stream header")
    w = h = None
    colorspace = "C420jpeg"  # the spec default when no C tag is present
    for tok in payload[9:nl].split():
        tag, val = chr(tok[0]), tok[1:].decode("ascii", "replace")
        if tag == "W":
            w = int(val)
        elif tag == "H":
            h = int(val)
        elif tag == "C":
            colorspace = "C" + val
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if colorspace == "Cmono":
        frame_bytes, luma_bytes = w * h, w * h
    elif colorspace.startswith("C420"):
        if w % 2 or h % 2:
            raise ValueError("odd dimensions with 4:2:0 chroma")
        frame_bytes, luma_bytes = w * h * 3 // 2, w * h
    else:
        raise ValueError(f"unsupported Y4M colorspace {colorspace}")
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or payload[pos : pos + 5] != b"FRAME":
            raise ValueError("malformed Y4M FRAME header")
        pos = fnl + 1
        plane = payload[pos : pos + luma_bytes]
        if len(plane) != luma_bytes or pos + frame_bytes > len(payload):
            raise ValueError("truncated Y4M frame")
        frames.append(np.frombuffer(plane, dtype=np.uint8).reshape(h, w))
        pos += frame_bytes
    return w, h, np.stack(frames) if frames else np.zeros((0, h, w), dtype=np.uint8)


def synth_y4m(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic mono Y4M clip per row: ``w = 8 + k mod 5``,
    ``h = 8 + (2k) mod 3``, ``n_frames = 2 + k mod 4``, frame f pixel
    (x, y) = ``(11k + 3x + 5y + 17f) mod 256``.  Lossless container, so
    the oracle mirrors the pixels directly."""
    import numpy as np

    def make(k: int):
        w, h, n = 8 + k % 5, 8 + (2 * k) % 3, 2 + k % 4
        fs, ys, xs = np.mgrid[0:n, 0:h, 0:w]
        px = ((11 * k + 3 * xs + 5 * ys + 17 * fs) % 256).astype(np.uint8)
        return encode_y4m(w, h, px), "y4m"

    return _synth(df, id_col, make)


def synth_texture_y4m(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic textured mono Y4M clips with PLANTED perceptual
    near-duplicates — the video fingerprint test corpus.  16×16 frames
    (the pHash 8×8 grid samples every other pixel), ``3 + seed mod 3``
    frames; frame f pixel ``base(x, y, f) = ((17·seed
    + (3 + (seed + f) mod 5)·x² + (11 + seed mod 13)·y² + 5xy) mod 251)``
    — the frame index perturbs the QUADRATIC coefficient so frames
    differ structurally, not just by brightness.  Ids group in tens:
    slots 0-7 distinct clips (seed = id); slot 8 = the group's slot-0
    clip at +4 brightness (every frame hash identical — video distance
    0); slot 9 = contrast-reduced (``base − base div 16``, small
    per-frame distances).  Pure arithmetic an SQL oracle mirrors."""
    import numpy as np

    def make(k: int):
        slot = k % 10
        seed = k - slot if slot >= 8 else k
        n = 3 + seed % 3
        fs, ys, xs = np.mgrid[0:n, 0:16, 0:16]
        base = (
            17 * seed
            + (3 + (seed + fs) % 5) * xs * xs
            + (11 + seed % 13) * ys * ys
            + 5 * xs * ys
        ) % 251
        if slot == 8:
            px = base + 4
        elif slot == 9:
            px = base - base // 16
        else:
            px = base
        return encode_y4m(16, 16, px.astype(np.uint8)), "y4m"

    return _synth(df, id_col, make)


def synth_texture_y4m_trim(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic textured Y4M clips with PLANTED TRIMMED replays —
    the trim-robust video pairing test corpus.  Slots 0-7 are the same
    textured clips as :func:`synth_texture_y4m` (seed = id, ``3 + seed
    mod 3`` frames); slot 8 replays the group's slot-0 clip with the
    FIRST FRAME DROPPED (the one-frame front trim a re-encode commonly
    introduces — its frame count differs, so the equal-length contract
    of :func:`video_near_pairs` can never match it); slot 9 is the same
    trim at +4 brightness (per-frame pHash distance 0 — brightness
    invariance).  Pure arithmetic an SQL oracle mirrors."""
    import numpy as np

    def make(k: int):
        slot = k % 10
        seed = k - slot if slot >= 8 else k
        n = 3 + seed % 3
        fs, ys, xs = np.mgrid[0:n, 0:16, 0:16]
        base = (
            17 * seed
            + (3 + (seed + fs) % 5) * xs * xs
            + (11 + seed % 13) * ys * ys
            + 5 * xs * ys
        ) % 251
        if slot == 8:
            px = base[1:]
        elif slot == 9:
            px = base[1:] + 4
        else:
            px = base
        return encode_y4m(16, 16, px.astype(np.uint8)), "y4m"

    return _synth(df, id_col, make)


def synth_texture_y4m_shots(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic textured mono Y4M clips with PLANTED SHOT
    STRUCTURE — the scene-change detection test corpus.  Each clip has
    ``2 + seed mod 3`` shots of exactly 2 frames: frame f belongs to
    shot ``f div 2`` and renders the quadratic texture of
    ``seed + 101·(f div 2)`` (a shot change re-seeds the texture, so
    consecutive cross-shot frames diverge in ~half their pHash bits),
    while the shot's second frame adds a +3 BRIGHTNESS drift (uniform
    shift — every AC coefficient, hence the pHash, is identical:
    within-shot frame distance is exactly 0).  Pure arithmetic an SQL
    oracle mirrors."""
    import numpy as np

    def make(k: int):
        seed = k
        n = 2 * (2 + seed % 3)
        fs, ys, xs = np.mgrid[0:n, 0:16, 0:16]
        s2 = seed + 101 * (fs // 2)
        px = (
            17 * s2
            + (3 + s2 % 5) * xs * xs
            + (11 + s2 % 13) * ys * ys
            + 5 * xs * ys
        ) % 251 + 3 * (fs % 2)
        return encode_y4m(16, 16, px.astype(np.uint8)), "y4m"

    return _synth(df, id_col, make)


def synth_texture_y4m_shot_reuse(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic shot-structured Y4M clips with PLANTED CROSS-CLIP
    SHOT REUSE — the partial-content-dedup test corpus (a compilation
    reusing one scene of another clip matches NO whole-clip contract).
    Slots 0-7: own clips with ``2 + k mod 3`` two-frame shots, shot s
    textured by ``seed + 101·s`` (the :func:`synth_texture_y4m_shots`
    scheme, mod 247 to leave brightness headroom).  Slot 8: shot 0 its
    own texture, shot 1 REUSES the group slot-0 clip's shot-0 texture
    verbatim.  Slot 9: shot 1 reuses the group clip's shot-1 texture at
    +4 brightness (keyframe pHash distance exactly 0).  Within-shot
    second frames add a +2 drift (AC-invariant).  Pure arithmetic an
    SQL oracle mirrors."""
    import numpy as np

    def make(k: int):
        slot = k % 10
        g = k - slot
        n = 4 if slot >= 8 else 2 * (2 + k % 3)
        fs, ys, xs = np.mgrid[0:n, 0:16, 0:16]
        if slot == 8:
            s2 = np.where(fs < 2, k, g)
            add = 0 * fs
        elif slot == 9:
            s2 = np.where(fs < 2, k, g + 101)
            add = np.where(fs < 2, 0, 4)
        else:
            s2 = k + 101 * (fs // 2)
            add = 0 * fs
        px = (
            17 * s2
            + (3 + s2 % 5) * xs * xs
            + (11 + s2 % 13) * ys * ys
            + 5 * xs * ys
        ) % 247 + 2 * (fs % 2) + add
        return encode_y4m(16, 16, px.astype(np.uint8)), "y4m"

    return _synth(df, id_col, make)


VIDEO_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("phash", LongType()),
    ]
)


def video_phash(df: DataFrame, null_on_error: bool = False) -> DataFrame:
    """Per-frame 63-bit pHash over the real Y4M codec — the SAME hash
    arithmetic as still images (:func:`_phash_of_pixels`), one row per
    frame.  Output: (media_id, frame_idx, phash).
    ``null_on_error=True`` emits one (media_id, 0, NULL) row per
    undecodable payload instead of failing the job (the ingest
    quarantine split); analytic queries keep the default raise."""

    def frames_of(payload: bytes):
        w, h, frames = decode_y4m(payload)
        if len(frames) == 0:
            # a header-only stream decodes "successfully" with zero
            # frames — there is nothing to fingerprint, so it must take
            # the quarantine path, not silently bypass perceptual dedup
            raise ValueError("zero-frame Y4M stream")
        return w, h, frames

    return _video_rows(df, frames_of, null_on_error)


def video_shots(
    sigs: DataFrame,
    cut_threshold: int = 16,
    id_col: str = "media_id",
) -> DataFrame:
    """SHOT (scene-change) detection over per-frame pHashes — the
    standard content-based segmentation a video training-data pipeline
    runs before sampling frames: decoding every frame of every clip
    into the training set is redundant (adjacent frames are
    near-identical), so clips split at perceptual cuts and ONE keyframe
    per shot represents it.

    A frame starts a new shot when its pHash is more than
    ``cut_threshold`` Hamming bits from the PREVIOUS frame (a hard cut;
    the first frame always starts shot 0).  Output one row per shot:
    ``(media_id, shot_idx, start_frame, n_frames, keyframe_idx)`` with
    ``keyframe_idx`` the shot's MIDDLE frame (``start + (n-1) div 2`` —
    the first frame of a shot often still carries transition artifacts
    in real encodes; the middle is the stable representative).

    Scale: both windows partition BY CLIP and order by frame index —
    state is one clip's frames, never global; the groupBy is map-side
    combinable on (clip, shot).  Composes downstream: join keyframe_idx
    back to the frame table to fetch keyframe signatures, then pair
    them with ``hamming_near_pairs`` for shot-level near-dedup."""
    if cut_threshold < 0:
        raise ValueError(f"cut_threshold must be >= 0, got {cut_threshold}")
    w = Window.partitionBy(id_col).orderBy("frame_idx")
    prev = F.lag("phash").over(w)
    cut = F.when(
        prev.isNull()
        | (F.bit_count(F.col("phash").bitwiseXOR(prev)) > cut_threshold),
        1,
    ).otherwise(0)
    run = Window.partitionBy(id_col).orderBy("frame_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    framed = sigs.select(id_col, "frame_idx", "phash").withColumn(
        "__shot", F.sum(cut).over(run) - F.lit(1)
    )
    return (
        framed.groupBy(id_col, "__shot")
        .agg(
            F.min("frame_idx").alias("start_frame"),
            F.count(F.lit(1)).alias("n_frames"),
        )
        .select(
            F.col(id_col),
            F.col("__shot").cast("bigint").alias("shot_idx"),
            F.col("start_frame").cast("bigint").alias("start_frame"),
            F.col("n_frames").cast("bigint").alias("n_frames"),
            (
                F.col("start_frame")
                + F.floor((F.col("n_frames") - 1) / 2)
            ).cast("bigint").alias("keyframe_idx"),
        )
    )


def shot_reuse_pairs(
    sigs: DataFrame,
    cut_threshold: int = 16,
    bits: int = 63,
    bands: int = 7,
    max_hamming: int = 6,
) -> DataFrame:
    """PARTIAL-CONTENT video dedup: clip pairs sharing at least one SHOT
    — the compilation/re-edit case every whole-clip contract
    (equal-length, trimmed, aligned-run) misses, because the reused
    scene is a fraction of either clip.  Composes the shot machinery:
    segment each clip (:func:`video_shots`), fetch one KEYFRAME hash
    per shot (an equi-join back to the frame table), and pair keyframes
    ACROSS clips with the shared Hamming-banding core — candidate
    volume follows keyframe count (shots, not frames), the banding is
    pigeonhole-complete, and the per-pair rollup counts matching
    (shot_a, shot_b) keyframe pairs.  Output:
    ``(id_a, id_b, n_shot_matches, min_hamming)`` with id_a < id_b."""
    from .dedup import hamming_near_pairs

    shots = video_shots(sigs, cut_threshold=cut_threshold)
    kf = (
        shots.join(
            sigs.select(
                "media_id",
                F.col("frame_idx").alias("keyframe_idx"),
                "phash",
            ),
            ["media_id", "keyframe_idx"],
        )
        .select(
            F.struct(
                F.col("media_id").alias("i"), F.col("shot_idx").alias("s")
            ).alias("__k"),
            "phash",
        )
        # the banding self-join consumes this frame four ways; without
        # eager materialization each branch re-runs the upstream Python
        # decode + per-frame DCT + both shot windows
        .localCheckpoint(eager=True)
    )
    pairs = hamming_near_pairs(
        kf, "phash", "__k", bits=bits, bands=bands, max_hamming=max_hamming
    )
    return (
        pairs.where(F.col("id_a.i") != F.col("id_b.i"))
        .groupBy(
            F.col("id_a.i").alias("id_a"), F.col("id_b.i").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n_shot_matches"),
            F.min("hamming").alias("min_hamming"),
        )
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
            F.col("n_shot_matches").cast("bigint").alias("n_shot_matches"),
            F.col("min_hamming").cast("bigint").alias("min_hamming"),
        )
    )


def video_near_pairs(
    sigs: DataFrame,
    id_col: str = "media_id",
    bits: int = 63,
    bands: int = 7,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate VIDEO pairs from per-frame signatures: two clips
    match iff they have the SAME frame count and EVERY aligned frame
    pair is within ``max_hamming``.  Candidates come from banding the
    FIRST frame's hash (complete: the criterion requires frame 0 within
    ``max_hamming`` too, so pigeonhole applies to it); the verify step
    zips the full hash sequences JVM-side (``zip_with`` + ``bit_count``,
    no Python).  Output: (id_a, id_b, n_frames, max_frame_hamming)."""
    from .dedup import _hamming_banded

    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least max_hamming+1 bands "
            f"(got {bands}): the pigeonhole completeness guarantee breaks"
        )
    # the sequence frame feeds FOUR join branches (both banding sides,
    # both verify sides); without eager materialization each branch
    # recomputes the upstream decode+per-frame-DCT Python pipeline
    vec = (
        sigs.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("frame_idx", "phash"))
            ).alias("__fr")
        )
        .select(
            F.col(id_col),
            F.expr("transform(__fr, x -> x.phash)").alias("hashes"),
        )
        .withColumn("__h0", F.element_at("hashes", 1))
        .localCheckpoint(eager=True)
    )
    banded = _hamming_banded(vec, "__h0", id_col, bits, bands)
    cand = (
        banded.select("band", "chunk", F.col(id_col).alias("id_a"))
        .join(
            banded.select("band", "chunk", F.col(id_col).alias("id_b")),
            ["band", "chunk"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = vec.select(F.col(id_col).alias("id_a"), F.col("hashes").alias("ha"))
    vb = vec.select(F.col(id_col).alias("id_b"), F.col("hashes").alias("hb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .where(F.size("ha") == F.size("hb"))
        .withColumn(
            "max_frame_hamming",
            F.expr(
                "aggregate(zip_with(ha, hb, (x, y) -> bit_count(x ^ y)),"
                " 0, (acc, v) -> greatest(acc, v))"
            ).cast("bigint"),
        )
        .where(F.col("max_frame_hamming") <= max_hamming)
        .select(
            "id_a", "id_b",
            F.size("ha").cast("bigint").alias("n_frames"),
            "max_frame_hamming",
        )
    )


def video_trimmed_pairs(
    sigs: DataFrame,
    id_col: str = "media_id",
    bits: int = 63,
    bands: int = 7,
    max_hamming: int = 6,
    max_trim: int = 1,
    min_overlap: int = 2,
) -> DataFrame:
    """TRIM-ROBUST video pairing — the gap the equal-length contract of
    :func:`video_near_pairs` leaves open: a re-encoded clip with one
    frame trimmed has a different frame count and never matches there.
    Here two clips pair at frame offset ``d`` (|d| ≤ ``max_trim``,
    frame ``f`` of A aligns with frame ``f − d`` of B) when EVERY
    overlapping aligned frame is within ``max_hamming``, the overlap is
    at least ``min_overlap`` frames, and at most ``max_trim`` frames of
    the longer clip are unexplained — the longest-aligned-run
    formulation restricted to contiguous head/tail trims.

    Candidates band EVERY frame's hash (complete: a qualifying pair's
    every aligned frame is within ``max_hamming``, so each one shares a
    band by pigeonhole and votes the (pair, offset) hypothesis);
    verification joins the aligned frames per hypothesis and aggregates
    count + max Hamming — one equi-join on (band, chunk), one on the
    alignment key, never clips².  Output: one row per qualifying
    (pair, offset): (id_a, id_b, frame_offset, n_overlap,
    max_frame_hamming)."""
    from .dedup import _hamming_banded

    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least max_hamming+1 bands "
            f"(got {bands}): the pigeonhole completeness guarantee breaks"
        )
    if max_trim < 0:
        raise ValueError(f"max_trim must be >= 0, got {max_trim}")
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    # the signature frame feeds the banding (twice), both verify sides
    # and the frame-count aggregate — eager materialization keeps the
    # Python decode+DCT pipeline from recomputing per consumer
    sigs = sigs.select(id_col, "frame_idx", "phash").localCheckpoint(
        eager=True
    )
    keyed = sigs.select(
        F.struct(
            F.col(id_col).alias("i"), F.col("frame_idx").alias("f")
        ).alias("__k"),
        "phash",
    )
    banded = _hamming_banded(keyed, "phash", "__k", bits, bands)
    left = banded.select(
        "band", "chunk", F.col("__k.i").alias("id_a"), F.col("__k.f").alias("__fa")
    )
    right = banded.select(
        "band", "chunk", F.col("__k.i").alias("id_b"), F.col("__k.f").alias("__fb")
    )
    cand = (
        left.join(right, ["band", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", (F.col("__fa") - F.col("__fb")).alias("frame_offset")
        )
        .where(F.abs(F.col("frame_offset")) <= max_trim)
        .distinct()
    )
    fa = sigs.select(
        F.col(id_col).alias("id_a"),
        F.col("frame_idx").alias("__fa"),
        F.col("phash").alias("__pa"),
    )
    fb = sigs.select(
        F.col(id_col).alias("__idb"),
        F.col("frame_idx").alias("__fb"),
        F.col("phash").alias("__pb"),
    )
    aligned = cand.join(fa, "id_a").join(
        fb,
        (F.col("id_b") == F.col("__idb"))
        & (F.col("__fb") == F.col("__fa") - F.col("frame_offset")),
    )
    stats = aligned.groupBy("id_a", "id_b", "frame_offset").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.max(
            F.bit_count(F.col("__pa").bitwiseXOR(F.col("__pb")))
        ).alias("max_frame_hamming"),
    )
    nfr = sigs.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    na = nfr.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = nfr.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        stats.join(na, "id_a")
        .join(nb, "id_b")
        .where(
            (F.col("max_frame_hamming") <= max_hamming)
            & (F.col("n_overlap") >= min_overlap)
            & (
                F.col("n_overlap")
                >= F.greatest(F.col("__na"), F.col("__nb")) - max_trim
            )
        )
        .select(
            "id_a",
            "id_b",
            F.col("frame_offset").cast("bigint").alias("frame_offset"),
            F.col("n_overlap").cast("bigint").alias("n_overlap"),
            F.col("max_frame_hamming").cast("bigint").alias("max_frame_hamming"),
        )
    )


def video_trimmed_pairs_asym(
    new_sigs: DataFrame,
    corpus_index: DataFrame,
    bits: int = 63,
    bands: int = 7,
    max_hamming: int = 6,
    max_trim: int = 1,
    min_overlap: int = 2,
) -> DataFrame:
    """Asymmetric TRIM-ROBUST video probe: a batch's per-frame pHashes
    against the persisted video signature index
    (``(corpus_id, frame_idx, phash, n_frames)`` rows) — the
    continuous-ingest analog of :func:`video_trimmed_pairs`, same
    aligned-run contract (a (pair, offset) hypothesis with |offset| ≤
    ``max_trim`` qualifies when every overlapping aligned frame is
    within ``max_hamming``, the overlap is ≥ ``min_overlap``, and at
    most ``max_trim`` frames of the longer clip are unexplained).
    Candidates band EVERY frame of both sides; per-batch cost follows
    the new side's band buckets.  With ``max_trim ≥ 0`` the offset-0
    full-overlap case subsumes the equal-length contract of
    :func:`video_near_pairs_asym`, so a sink can widen its match
    contract by swapping probes.  Pairs where corpus_id equals the
    probing id are EXCLUDED (replay self-immunity).  Output:
    ``(new_id, corpus_id, frame_offset, n_overlap, max_frame_hamming)``."""
    from .dedup import _hamming_banded

    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least max_hamming+1 bands "
            f"(got {bands}): the pigeonhole completeness guarantee breaks"
        )
    if max_trim < 0:
        raise ValueError(f"max_trim must be >= 0, got {max_trim}")
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    new_s = new_sigs.select("media_id", "frame_idx", "phash").localCheckpoint(
        eager=True
    )
    # replay-duplicated index rows (the crash contract) must not inflate
    # counts: reduce to distinct frames first
    corpus = corpus_index.select(
        "corpus_id", "frame_idx", "phash", "n_frames"
    ).distinct()
    nk = new_s.select(
        F.struct(
            F.col("media_id").alias("i"), F.col("frame_idx").alias("f")
        ).alias("__k"),
        "phash",
    )
    ck = corpus.select(
        F.struct(
            F.col("corpus_id").alias("i"), F.col("frame_idx").alias("f")
        ).alias("__k"),
        "phash",
    )
    nb = _hamming_banded(nk, "phash", "__k", bits, bands)
    cb = _hamming_banded(ck, "phash", "__k", bits, bands)
    cand = (
        nb.select(
            "band", "chunk",
            F.col("__k.i").alias("new_id"), F.col("__k.f").alias("__fa"),
        )
        .join(
            cb.select(
                "band", "chunk",
                F.col("__k.i").alias("corpus_id"), F.col("__k.f").alias("__fb"),
            ),
            ["band", "chunk"],
        )
        .where(F.col("new_id") != F.col("corpus_id"))
        .select(
            "new_id", "corpus_id",
            (F.col("__fa") - F.col("__fb")).alias("frame_offset"),
        )
        .where(F.abs(F.col("frame_offset")) <= max_trim)
        .distinct()
    )
    fa = new_s.select(
        F.col("media_id").alias("new_id"),
        F.col("frame_idx").alias("__fa"),
        F.col("phash").alias("__pa"),
    )
    fb = corpus.select(
        F.col("corpus_id").alias("__idb"),
        F.col("frame_idx").alias("__fb"),
        F.col("phash").alias("__pb"),
    )
    aligned = cand.join(fa, "new_id").join(
        fb,
        (F.col("corpus_id") == F.col("__idb"))
        & (F.col("__fb") == F.col("__fa") - F.col("frame_offset")),
    )
    stats = aligned.groupBy("new_id", "corpus_id", "frame_offset").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.max(
            F.bit_count(F.col("__pa").bitwiseXOR(F.col("__pb")))
        ).alias("max_frame_hamming"),
    )
    na = new_s.groupBy("media_id").agg(F.count(F.lit(1)).alias("__na")).select(
        F.col("media_id").alias("new_id"), "__na"
    )
    nbf = corpus.groupBy("corpus_id").agg(F.max("n_frames").alias("__nb"))
    return (
        stats.join(na, "new_id")
        .join(nbf, "corpus_id")
        .where(
            (F.col("max_frame_hamming") <= max_hamming)
            & (F.col("n_overlap") >= min_overlap)
            & (
                F.col("n_overlap")
                >= F.greatest(F.col("__na"), F.col("__nb")) - max_trim
            )
        )
        .select(
            "new_id",
            "corpus_id",
            F.col("frame_offset").cast("bigint").alias("frame_offset"),
            F.col("n_overlap").cast("bigint").alias("n_overlap"),
            F.col("max_frame_hamming").cast("bigint").alias("max_frame_hamming"),
        )
    )


def video_index_rows(sigs: DataFrame) -> DataFrame:
    """The persisted video signature index layout that
    :func:`video_near_pairs_asym` and :func:`video_trimmed_pairs_asym`
    read: per-frame ``(media_id, frame_idx, phash)`` signatures become
    ``(corpus_id, frame_idx, phash, n_frames)`` rows, each carrying its
    clip's frame count for the probes' length contracts."""
    nfr = sigs.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames")
    )
    return sigs.join(nfr, "media_id").select(
        F.col("media_id").alias("corpus_id"), "frame_idx", "phash", "n_frames"
    )


def video_near_pairs_asym(
    new_sigs: DataFrame,
    corpus_index: DataFrame,
    bits: int = 63,
    bands: int = 7,
    max_hamming: int = 6,
) -> DataFrame:
    """Asymmetric video probe: NEW clips' per-frame signatures against a
    persisted video signature index whose rows are
    ``(corpus_id, frame_idx, phash, n_frames)`` — the continuous-ingest
    analog of :func:`video_near_pairs`, same match contract (equal frame
    counts, every ALIGNED frame within ``max_hamming``).

    Candidates band the FIRST frame of both sides (complete: the
    criterion bounds frame 0 too) and must agree on the frame count;
    verification joins the aligned frame pairs and requires every one
    within threshold.  Pairs where corpus_id equals the probing id are
    EXCLUDED (replay self-immunity, the owner-exclusion contract).
    Output: (new_id, corpus_id, n_frames, max_frame_hamming)."""
    from .dedup import _hamming_banded

    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least max_hamming+1 bands "
            f"(got {bands}): the pigeonhole completeness guarantee breaks"
        )
    nn = new_sigs.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    ).localCheckpoint(eager=True)
    nh = new_sigs.where(F.col("frame_idx") == 0)
    nb = _hamming_banded(nh, "phash", "media_id", bits, bands).join(
        nn, "media_id"
    )
    ch = corpus_index.where(F.col("frame_idx") == 0).select(
        "corpus_id", "phash", F.col("n_frames").alias("__cn")
    )
    cb = _hamming_banded(ch, "phash", "corpus_id", bits, bands).join(
        ch.select("corpus_id", "__cn"), "corpus_id"
    )
    cand = (
        nb.select("band", "chunk", F.col("media_id").alias("new_id"), "__n")
        .join(
            cb.select("band", "chunk", "corpus_id", "__cn"),
            ["band", "chunk"],
        )
        .where(
            (F.col("new_id") != F.col("corpus_id"))
            & (F.col("__n") == F.col("__cn"))
        )
        .select("new_id", "corpus_id", F.col("__n").alias("n_frames"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # aligned-frame verify: every frame pair within threshold
    aligned = (
        cand.join(
            new_sigs.select(
                F.col("media_id").alias("new_id"), "frame_idx",
                F.col("phash").alias("__pa"),
            ),
            "new_id",
        )
        .join(
            corpus_index.select(
                "corpus_id", "frame_idx", F.col("phash").alias("__pb")
            ),
            ["corpus_id", "frame_idx"],
        )
        .withColumn(
            "__ham", F.bit_count(F.col("__pa").bitwiseXOR(F.col("__pb")))
        )
    )
    return (
        aligned.groupBy("new_id", "corpus_id", "n_frames")
        .agg(
            # DISTINCT frame indexes: crash-replayed index appends leave
            # duplicate rows, which would otherwise inflate the match
            # count past n_frames and break the all-frames criterion
            F.count_distinct("frame_idx").alias("__matched"),
            F.max("__ham").cast("bigint").alias("max_frame_hamming"),
        )
        .where(
            (F.col("__matched") == F.col("n_frames"))
            & (F.col("max_frame_hamming") <= max_hamming)
        )
        .select("new_id", "corpus_id", "n_frames", "max_frame_hamming")
    )


Y4M_FRAME_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_px", LongType()),
        StructField("max_px", LongType()),
    ]
)


def y4m_frame_stats(df: DataFrame, every: int = 2) -> DataFrame:
    """REAL frame sampling over the video byte path: parse the stream,
    keep every ``every``-th frame, one output row per KEPT frame with
    exact integer luma statistics — the per-frame analog of
    :func:`png_stats`, and the real-codec successor of the stub-backed
    :func:`sample_frames` contract."""

    def one(mid, payload):
        w, h, frames = decode_y4m(bytes(payload))
        return [
            (mid, idx, w, h, int(frames[idx].sum()), int(frames[idx].max()))
            for idx in range(0, len(frames), every)
        ]

    return _map_rows(df, Y4M_FRAME_STATS_SCHEMA, one, ["media_id", "payload"])


WAV_WINDOW_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("window_idx", LongType()),
        StructField("n_in_window", LongType()),
        StructField("energy", LongType()),
        StructField("zero_crossings", LongType()),
    ]
)


def wav_window_stats(df: DataFrame, window: int = 50) -> DataFrame:
    """Windowed audio features over the REAL WAV byte path: per
    fixed-size sample window, the exact integer energy (sum of squared
    samples) and zero-crossing count (adjacent within-window pairs with
    strictly opposite signs) — the short-time features a speech/VAD
    pipeline extracts, in integer arithmetic an SQL oracle mirrors
    exactly.  One row per (clip, window); the last window may be
    partial."""
    import numpy as np

    def one(mid, payload):
        _, samples = decode_wav(bytes(payload))
        v = np.asarray(samples, dtype=np.int64)
        out = []
        for w0 in range(0, len(v), window):
            seg = v[w0 : w0 + window]
            zc = int(((seg[:-1] * seg[1:]) < 0).sum())
            out.append((mid, w0 // window, len(seg), int((seg * seg).sum()), zc))
        return out

    return _map_rows(df, WAV_WINDOW_SCHEMA, one, ["media_id", "payload"])
