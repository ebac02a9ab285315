"""The quarantine contract of every multimodal stage that takes
``null_on_error``: in a batch that mixes valid payloads with one
undecodable payload, the undecodable row becomes a NULL row under
``null_on_error=True`` and fails the job under ``False``, and the valid
rows come out exactly as they do without the bad row.

Media ids and hashes sit at or above 2^53, where a float64 detour in the
pandas -> Arrow conversion would round them."""

from __future__ import annotations

import os

import pytest

from slice_db_spark.operators import multimodal as M

BIG = 2**60
BAD = b"garbage payload, not media"
BAD_ID = BIG + 999


def _long_clip(seed: int, n: int = 3200) -> bytes:
    """A quadratic pseudo-noise PCM16 clip long enough (64 windows of
    50 samples) for 63-bit fingerprints and 60-bit sub-fingerprints."""
    return M.encode_wav(
        [((17 * seed + (3 + seed % 5) * i * i + (11 + seed % 13) * i) % 4096)
         - 2048 for i in range(n)],
        16000,
    )


def _synth_rows(synth, n):
    def rows(spark):
        ids = spark.createDataFrame([(k,) for k in range(n)], "doc_id bigint")
        return [(bytes(r.payload), r.format)
                for r in synth(ids).orderBy("media_id").collect()]
    return rows


def _clips(spark):
    return [(_long_clip(s), "wav") for s in range(4)]


#: stage -> (valid payload source, NULL row tail after media_id, column
#: that must carry values >= 2^53 in the valid output, or None)
CASES = {
    "phash_media": (M.phash_media, _synth_rows(M.synth_texture_bmp, 8), (None,), "phash"),
    "phash_media_oriented": (
        M.phash_media_oriented, _synth_rows(M.synth_jpeg_oriented, 10), (None,), "phash"),
    "phash_media_dihedral": (
        M.phash_media_dihedral, _synth_rows(M.synth_jpeg_dihedral, 10), (None,), "phash"),
    "media_dims": (M.media_dims, _synth_rows(M.synth_png, 6), (None, None), None),
    "exif_metadata": (
        M.exif_metadata, _synth_rows(M.synth_jpeg_exif, 11), (None,) * 9, None),
    "audio_fingerprint": (M.audio_fingerprint, _clips, (None,), "afp"),
    "audio_subfingerprints": (
        lambda df, null_on_error: M.audio_subfingerprints(
            df, frame_bits=60, null_on_error=null_on_error),
        _clips, (0, None), "subfp"),
    "gif_anim_meta": (
        M.gif_anim_meta, _synth_rows(M.synth_gif_animated, 4), (None,) * 4, None),
    "gif_feature_meta": (
        M.gif_feature_meta, _synth_rows(M.synth_gif_loop_meta, 4), (None,) * 9, None),
    "apng_feature_meta": (
        M.apng_feature_meta, _synth_rows(M.synth_apng_composited, 4), (None,) * 8, None),
    "gif_video_phash": (
        M.gif_video_phash, _synth_rows(M.synth_gif_animated_dups, 4), (0, None), "phash"),
    "apng_video_phash": (
        M.apng_video_phash, _synth_rows(M.synth_apng_composited, 4), (0, None), "phash"),
    "anim_video_phash": (
        M.anim_video_phash, _synth_rows(M.synth_apng_gif_pairs, 10), (0, None), "phash"),
    "video_phash": (
        M.video_phash, _synth_rows(M.synth_texture_y4m, 6), (0, None), "phash"),
}


def _one_batch(spark, rows):
    return spark.createDataFrame(
        [(mid, "image", bytearray(p), fmt, len(p)) for mid, p, fmt in rows],
        M.MEDIA_SCHEMA,
    ).coalesce(1)


def _check(valid, mixed, null_tail, big_col, raise_mixed):
    """``valid``: output over the valid rows alone; ``mixed``: output
    with the bad row under ``null_on_error=True``."""
    assert len(valid) >= 2
    assert sorted(r for r in mixed if r[0] != BAD_ID) == sorted(valid)
    assert [r for r in mixed if r[0] == BAD_ID] == [(BAD_ID,) + null_tail]
    assert all(r[0] >= 2**53 for r in valid)
    if big_col is not None:
        assert any(v >= 2**53 for v in big_col), "no hash >= 2^53 in the case"
    with pytest.raises(Exception, match="ValueError|struct.error"):
        raise_mixed()


@pytest.mark.parametrize("name", sorted(CASES))
def test_quarantine_contract(spark, name):
    stage, source, null_tail, big = CASES[name]
    good = [(BIG + k, p, fmt) for k, (p, fmt) in enumerate(source(spark))]
    good_df = _one_batch(spark, good)
    mixed_df = _one_batch(spark, good + [(BAD_ID, BAD, good[0][2])])
    assert mixed_df.rdd.getNumPartitions() == 1

    valid = stage(good_df, null_on_error=False).collect()
    mixed = [tuple(r) for r in stage(mixed_df, null_on_error=True).collect()]
    _check(
        [tuple(r) for r in valid],
        mixed,
        null_tail,
        [r[big] for r in valid] if big else None,
        lambda: stage(mixed_df, null_on_error=False).collect(),
    )


def test_quarantine_contract_image_files(spark, tmp_path):
    """The file-backed lane (:func:`phash_image_files`): every file
    packed into one scan partition, so the bad file shares the batch."""
    ids = spark.createDataFrame([(k,) for k in range(8)], "doc_id bigint")
    d = str(tmp_path / "imgs")
    os.makedirs(d)
    for r in M.synth_texture_bmp(ids).collect():
        with open(os.path.join(d, f"{BIG + r.media_id}.bmp"), "wb") as f:
            f.write(bytes(r.payload))
    keep = {k: spark.conf.get(k, None) for k in (
        "spark.sql.files.minPartitionNum", "spark.sql.files.openCostInBytes")}
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try:
        valid = [tuple(r) for r in M.phash_image_files(spark, d).collect()]
        with open(os.path.join(d, f"{BAD_ID}.bmp"), "wb") as f:
            f.write(BAD)
        scan = spark.read.format("image").load(d)
        assert scan.rdd.getNumPartitions() == 1
        mixed = [tuple(r) for r in M.phash_image_files(
            spark, d, null_on_error=True).collect()]
        _check(
            valid, mixed, (None,), [r[1] for r in valid],
            lambda: M.phash_image_files(spark, d).collect(),
        )
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
