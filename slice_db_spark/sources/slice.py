"""Slice artifact sink/source.

The reference packages a slice as a ZIP of ``manifest.json`` + per-table
TSV segments + per-sequence value files (`slice_db/slice.py:9-105`,
manifest shape `slice_db/formats/manifest.py:9-61`).  Our native layout is
cluster-friendly parquet — one directory per table, written in parallel —
with the same camelCase ``manifest.json`` shape at the root (tables:
columns/name/schema/segments, sequences: name/schema + value, preData/
postData counts) so reference tooling can read the metadata unchanged.

Segment accounting: the reference caps segments at 50k ids
(`slice_db/dump_temp_table.py:30`); parquet files play the segment role,
so ``segments`` records one entry per written file part with its row
count summed to the table total (manifest-count parity is what restore
validates, `slice_db/restore.py:172-217`).

A TSV compatibility codec (PostgreSQL COPY text escapes,
`slice_db/pg/copy.py:7-63`) is provided for interop with reference
slices: all escaping runs JVM-side as chained string expressions — no
Python in the row path.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config.model import SchemaConfig


# ------------------------------------------------------------ COPY escapes

_COPY_ESCAPES = [("\\", "\\\\"), ("\b", "\\b"), ("\f", "\\f"), ("\n", "\\n"),
                 ("\r", "\\r"), ("\t", "\\t"), ("\v", "\\v")]


def copy_escape(col) -> "F.Column":
    """PostgreSQL COPY text escaping of a string column; NULL → ``\\N``.
    (The reference's serializer maps ``\\v`` to ``\\t`` — a bug at
    `slice_db/pg/copy.py:56` we do not reproduce.)"""
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for raw, esc in _COPY_ESCAPES:
        out = F.replace(out, F.lit(raw), F.lit(esc))
    return F.coalesce(out, F.lit("\\N"))


def copy_unescape(col) -> "F.Column":
    """Inverse of :func:`copy_escape` (``\\N`` → NULL first)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.when(c == "\\N", F.lit(None).cast("string")).otherwise(c)
    # unescape via a single pass: replace escape pairs longest-first,
    # using a placeholder for the literal backslash to avoid re-matching
    out = F.replace(out, F.lit("\\\\"), F.lit("\x00"))
    for raw, esc in _COPY_ESCAPES[1:]:
        out = F.replace(out, F.lit(esc), F.lit(raw))
    return F.replace(out, F.lit("\x00"), F.lit("\\"))


# ---------------------------------------------------------------- manifest


@dataclass
class SliceManifest:
    tables: dict[str, dict] = field(default_factory=dict)
    sequences: dict[str, dict] = field(default_factory=dict)
    pre_data: int = 0
    post_data: int = 0

    def to_dict(self) -> dict:
        return {
            "preData": {"count": self.pre_data},
            "postData": {"count": self.post_data},
            "sequences": self.sequences,
            "tables": self.tables,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "SliceManifest":
        return cls(
            tables=dict(d.get("tables", {})),
            sequences=dict(d.get("sequences", {})),
            pre_data=d.get("preData", {}).get("count", 0),
            post_data=d.get("postData", {}).get("count", 0),
        )


def _table_dir(out_dir: str, tid: str) -> str:
    return os.path.join(out_dir, tid.replace(".", "__"))


def _schema_section_path(out_dir: str, section: str, index: int) -> str:
    # same entry layout as the reference zip (`slice_db/slice.py:20-22`)
    return os.path.join(out_dir, section, f"{index + 1}.sql")


def _part_files(path: str, fmt: str) -> list[str]:
    # recursive walk: partitioned tables nest part files under
    # key=value directories; ordering stays deterministic (full path)
    suffix = {"parquet": ".parquet", "orc": ".orc"}.get(fmt, ".txt")
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("part-") and f.endswith(suffix):
                out.append(os.path.join(root, f))
    return sorted(out)


def _count_lines(path: str) -> int:
    n = 0
    with open(path, "rb") as f:
        while chunk := f.read(1 << 20):
            n += chunk.count(b"\n")
    return n


def _part_row_counts(path: str, fmt: str) -> list[tuple[str, int]]:
    """(part file, row count) per written part, in filename order.  Parquet
    counts come from the footer metadata (no data read); text parts are
    newline-counted in 1 MiB streamed chunks."""
    if fmt == "parquet":
        import pyarrow.parquet as pq

        return [(p, pq.ParquetFile(p).metadata.num_rows) for p in _part_files(path, fmt)]
    if fmt == "orc":
        import pyarrow.orc as po

        return [(p, po.ORCFile(p).nrows) for p in _part_files(path, fmt)]
    return [(p, _count_lines(p)) for p in _part_files(path, fmt)]


def write_slice(
    tables: dict[str, DataFrame],
    schema: SchemaConfig,
    out_dir: str,
    sequences: dict[str, int] | None = None,
    fmt: str = "parquet",
    pre_data: list[str] | None = None,
    post_data: list[str] | None = None,
    jobs: int = 1,
    partition_by: dict[str, list[str]] | None = None,
) -> SliceManifest:
    """Materialize a slice: per-table parquet (or COPY-escaped TSV) +
    ``manifest.json``.  Each written file part is one manifest segment.
    ``pre_data``/``post_data`` DDL statements (S5) are stored one per
    ``pre-data/{i}.sql`` / ``post-data/{i}.sql`` file with their counts in
    the manifest — the reference's include-schema layout
    (`slice_db/dump.py:443-455`).

    ``jobs > 1`` writes tables concurrently from driver threads (the
    reference's ``dump --jobs`` worker pool, `slice_db/cli/main.py:108-114`
    — there it multiplies export connections; here concurrent Spark job
    submission lets small-table writes overlap a big table's write
    instead of serializing behind it).  The manifest is assembled after
    all writes in the original table order, so output is identical."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = SliceManifest()
    for section, stmts in (("pre-data", pre_data), ("post-data", post_data)):
        if not stmts:
            continue
        os.makedirs(os.path.join(out_dir, section), exist_ok=True)
        for i, stmt in enumerate(stmts):
            with open(_schema_section_path(out_dir, section, i), "w") as f:
                f.write(stmt)
        if section == "pre-data":
            manifest.pre_data = len(stmts)
        else:
            manifest.post_data = len(stmts)
    def write_table(tid: str):
        df = tables[tid]
        t = schema.tables.get(tid)
        cols = t.columns if t and t.columns else df.columns
        path = _table_dir(out_dir, tid)
        pcols = (partition_by or {}).get(tid)
        if pcols:
            # partition columns may be derived (not in the declared table
            # schema) — keep them for the layout; the manifest's "columns"
            # stays the declared order, so readers reproduce it
            cols = list(cols) + [c for c in pcols if c not in cols]
        out = df.select(*cols)
        if fmt == "tsv":
            line = F.concat_ws("\t", *[copy_escape(F.col(c).cast("string")) for c in cols])
            out.select(line.alias("value")).write.mode("overwrite").text(path)
        elif fmt == "orc":
            out.write.mode("overwrite").orc(path)
        elif pcols:
            # hive-layout partitioned table: readers get PartitionFilters
            # (directory pruning — the 100 TB data-skipping lever) for
            # predicates on the partition columns; the manifest records
            # the layout so restore/read can rebuild column order
            out.write.mode("overwrite").partitionBy(*pcols).parquet(path)
        else:
            out.write.mode("overwrite").parquet(path)
        # Segment accounting from file METADATA, not a re-read: exactly one
        # Spark job per table (the write itself).  Parquet part files carry
        # the row count in their footer; TSV parts are newline-counted with
        # a driver-local streamed scan (the TSV sink is the single-artifact
        # interop path, not the 100 TB path — parquet pays zero data I/O).
        # empty parts are skipped, matching the re-read accounting this
        # replaces (a zero-row group never appeared in the groupBy)
        segs = [{"rowCount": n} for _, n in _part_row_counts(path, fmt) if n > 0]
        meta = {
            "columns": list(cols),
            "name": t.name if t else tid,
            "schema": t.schema if t else "",
            "segments": segs,
        }
        if pcols and fmt == "parquet":
            meta["partitionedBy"] = list(pcols)
        return meta

    if jobs > 1 and len(tables) > 1:
        from concurrent.futures import ThreadPoolExecutor

        # the user-set `dump --jobs` pool (slice_db/cli/main.py:108-114)
        with ThreadPoolExecutor(max_workers=jobs) as ex:
            metas = list(ex.map(write_table, tables))
    else:
        metas = [write_table(tid) for tid in tables]
    for tid, meta in zip(tables, metas):
        manifest.tables[tid] = meta
    for sid, value in (sequences or {}).items():
        s = schema.sequences.get(sid)
        manifest.sequences[sid] = {
            "name": s.name if s else sid,
            "schema": s.schema if s else "",
            "value": value,
        }
        with open(os.path.join(out_dir, f"{sid}.txt"), "w") as f:
            f.write(str(value))
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest.to_dict(), f, indent=2, sort_keys=True)
    return manifest


def read_slice(
    spark: SparkSession, in_dir: str, fmt: str = "parquet"
) -> tuple[dict[str, DataFrame], SliceManifest]:
    """Open a slice directory: manifest + per-table DataFrames.  TSV slices
    are split + COPY-unescaped back to string columns in manifest column
    order (typed restore casts against the target schema)."""
    with open(os.path.join(in_dir, "manifest.json")) as f:
        manifest = SliceManifest.from_dict(json.load(f))
    tables: dict[str, DataFrame] = {}
    for tid, meta in manifest.tables.items():
        path = _table_dir(in_dir, tid)
        if fmt == "tsv":
            raw = spark.read.text(path)
            parts = F.split(F.col("value"), "\t", -1)
            cols = [
                copy_unescape(parts.getItem(i)).alias(c) for i, c in enumerate(meta["columns"])
            ]
            tables[tid] = raw.select(*cols)
        elif fmt == "orc":
            tables[tid] = spark.read.orc(path).select(*meta["columns"])
        else:
            tables[tid] = spark.read.parquet(path).select(*meta["columns"])
    return tables, manifest


# ------------------------------------------------------------ zip container


def write_slice_zip(
    tables: dict[str, DataFrame],
    schema: SchemaConfig,
    zip_path: str,
    sequences: dict[str, int] | None = None,
    pre_data: list[str] | None = None,
    post_data: list[str] | None = None,
    workdir: str | None = None,
    jobs: int = 1,
) -> SliceManifest:
    """Write a slice as ONE zip64 archive with the reference's exact entry
    layout (`slice_db/slice.py:9-28,69-105`): ``manifest.json``,
    ``{table_id}/{i}.tsv`` COPY-text segments (1-based), ``{seq_id}.txt``,
    ``{section}/{i}.sql`` — so reference tooling opens our slices
    unchanged.

    Execution model: the TSV rendering is fully distributed (the same
    JVM-side COPY-escape pipeline as ``write_slice(fmt="tsv")``, one Spark
    job per table into ``workdir``, ``jobs`` tables staged concurrently);
    only the final packaging streams the part files into the archive
    driver-side, because a zip is inherently a single-writer artifact.
    This is the interop/export path — at cluster scale the parquet
    directory layout is the native slice.
    """
    import shutil
    import tempfile
    import zipfile

    td = workdir or tempfile.mkdtemp(prefix="slice_zip_")
    try:
        manifest = SliceManifest()

        def stage(tid: str) -> tuple[list, str]:
            df = tables[tid]
            t = schema.tables.get(tid)
            cols = t.columns if t and t.columns else df.columns
            line = F.concat_ws(
                "\t", *[copy_escape(F.col(c).cast("string")) for c in cols]
            )
            path = os.path.join(td, tid.replace(".", "__"))
            df.select(*cols).select(line.alias("value")).write.mode(
                "overwrite"
            ).text(path)
            return list(cols), path

        if jobs > 1 and len(tables) > 1:
            from concurrent.futures import ThreadPoolExecutor

            # the user-set `dump --jobs` pool (slice_db/cli/main.py:108-114)
            with ThreadPoolExecutor(max_workers=jobs) as ex:
                staged = dict(zip(tables, ex.map(stage, tables)))
        else:
            staged = {tid: stage(tid) for tid in tables}

        with zipfile.ZipFile(zip_path, "w", compression=zipfile.ZIP_DEFLATED) as zf:
            for section, stmts in (("pre-data", pre_data), ("post-data", post_data)):
                for i, stmt in enumerate(stmts or []):
                    zf.writestr(f"{section}/{i + 1}.sql", stmt)
                if section == "pre-data":
                    manifest.pre_data = len(stmts or [])
                else:
                    manifest.post_data = len(stmts or [])
            for tid, (cols, path) in staged.items():
                t = schema.tables.get(tid)
                segs = []
                for part, n in _part_row_counts(path, "tsv"):
                    if n == 0:
                        continue
                    with open(part, "rb") as src, zf.open(
                        f"{tid}/{len(segs) + 1}.tsv", "w", force_zip64=True
                    ) as dst:
                        shutil.copyfileobj(src, dst, 1 << 20)
                    segs.append({"rowCount": n})
                manifest.tables[tid] = {
                    "columns": list(cols),
                    "name": t.name if t else tid,
                    "schema": t.schema if t else "",
                    "segments": segs,
                }
            for sid, value in (sequences or {}).items():
                s = schema.sequences.get(sid)
                manifest.sequences[sid] = {
                    "name": s.name if s else sid,
                    "schema": s.schema if s else "",
                    "value": value,
                }
                zf.writestr(f"{sid}.txt", str(value))
            zf.writestr(
                "manifest.json", json.dumps(manifest.to_dict(), indent=2, sort_keys=True)
            )
        return manifest
    finally:
        if workdir is None:
            shutil.rmtree(td, ignore_errors=True)


def read_slice_zip(
    spark: SparkSession, zip_path: str, workdir: str | None = None
) -> tuple[dict[str, DataFrame], SliceManifest]:
    """Open a reference-layout slice archive (ours or slice-db's own).

    Extracts the archive to ``workdir`` (a fresh temp dir by default —
    returned DataFrames read lazily from it, so it must outlive them; pass
    an explicit ``workdir`` to control the lifetime) and wires each
    table's ``{i}.tsv`` segments through the COPY-unescape reader in
    manifest column order.  Restore casts types against the target schema
    exactly as for directory TSV slices."""
    import tempfile
    import zipfile

    td = workdir or tempfile.mkdtemp(prefix="slice_unzip_")
    with zipfile.ZipFile(zip_path) as zf:
        names = set(zf.namelist())
        zf.extractall(td)
    with open(os.path.join(td, "manifest.json")) as f:
        manifest = SliceManifest.from_dict(json.load(f))
    tables: dict[str, DataFrame] = {}
    for tid, meta in manifest.tables.items():
        seg_paths = [
            os.path.join(td, f"{tid}/{i + 1}.tsv")
            for i in range(len(meta.get("segments", [])))
            if f"{tid}/{i + 1}.tsv" in names
        ]
        parts = F.split(F.col("value"), "\t", -1)
        cols = [
            copy_unescape(parts.getItem(i)).alias(c)
            for i, c in enumerate(meta["columns"])
        ]
        if seg_paths:
            tables[tid] = spark.read.text(seg_paths).select(*cols)
        else:  # zero-segment (empty) table: preserve the schema
            empty = spark.createDataFrame([], "value string")
            tables[tid] = empty.select(*cols)
    return tables, manifest


def read_slice_zip_schema(workdir: str, manifest: SliceManifest) -> tuple[list[str], list[str]]:
    """DDL sections of an extracted slice archive (same on-disk layout as
    directory slices, so this simply delegates)."""
    return read_slice_schema(workdir, manifest)


def read_slice_schema(in_dir: str, manifest: SliceManifest) -> tuple[list[str], list[str]]:
    """DDL sections of a slice, in replay order (restore runs pre-data
    before rows and post-data after — `slice_db/restore.py:69-75,91-97`)."""
    out: list[list[str]] = []
    for section, count in (("pre-data", manifest.pre_data), ("post-data", manifest.post_data)):
        stmts = []
        for i in range(count):
            with open(_schema_section_path(in_dir, section, i)) as f:
                stmts.append(f.read())
        out.append(stmts)
    return out[0], out[1]
