"""Command-line surface mirroring the reference CLI (``slicedb`` —
`slice_db/cli/main.py:56-90`), re-based on parquet + Spark:

* ``dump``            — capture a referentially-closed slice from a
  parquet catalog dir or a live database (``--url``, snapshot-pinned);
  ``--root table condition`` repeatable, ``--transform``/``--pepper``
  scrubbing, ``--include-schema`` DDL sections (synthesized or real
  ``pg_dump`` via ``--ddl-url``), ``--format parquet|tsv|zip``
  (``-`` streams the zip to stdout), ``--output-type sql``, ``--jobs``.
* ``restore``         — materialize a slice (parquet dir or live
  ``--url``) in FK dependency order; ``--include-schema`` DDL replay,
  ``--defer-constraints`` (cyclic FKs, one COPY-backed transaction),
  ``--transaction`` (all-or-nothing), ``--disable-triggers``,
  ``--jobs``; ``-`` reads the archive from stdin.
* ``transform``       — re-scrub an existing slice (implemented; the
  reference ships a no-op stub).
* ``schema``          — live pg_catalog introspection → schema config;
  ``schema-infer`` derives a skeleton from parquet files.
* ``schema-filter``   — the reference's children-closure pruning.
* ``transform-field`` — scalar REPL for one value.
* ``verify-slice`` / ``diff-slice`` — manifest integrity check (file
  metadata only) and key-level diff of two slices.
* ``curate`` / ``ingest`` — corpus-curation chain (optional
  ``--chunk-dedup`` rewrite stage) and streaming dedup-on-arrival
  ingestion (engine extensions; no reference analog).

Global: ``--version``, ``--log-level``, ``@argsfile`` argument files.
"""

from __future__ import annotations

import argparse
import json
import os
import secrets
import sys


def _load_schema(path: str):
    from .config.model import SchemaConfig

    with open(path) as f:
        cfg = SchemaConfig.from_dict(json.load(f))
    cfg.validate()
    return cfg


def cmd_dump(args) -> int:
    from .session import get_spark

    schema = _load_schema(args.schema)
    spark = get_spark("slicedb-dump")
    snap = None
    if args.url and args.include_schema and not args.ddl_url:
        args.ddl_url = args.url  # same database supplies rows and DDL
    if args.url:
        # live-database dump: every partition reader of every table pins
        # the SAME exported snapshot — the reference's point-in-time
        # guarantee; the master transaction stays open until the slice is
        # fully written (see finally below)
        from .sources.pg_schema import export_snapshot

        snap = export_snapshot(spark, args.url)
    try:
        if snap is not None:
            from .sources.pg_schema import jdbc_snapshot_catalog

            catalog = jdbc_snapshot_catalog(
                spark, args.url, schema, snapshot_id=snap.snapshot_id
            )
        else:
            if not args.input:
                print("dump: a catalog dir (or --url) is required", file=sys.stderr)
                return 2
            catalog = {
                tid: spark.read.parquet(os.path.join(args.input, f"{t.name}.parquet"))
                for tid, t in schema.tables.items()
                if os.path.exists(os.path.join(args.input, f"{t.name}.parquet"))
            }
        return _dump_with_catalog(args, spark, schema, catalog)
    finally:
        if snap is not None:
            snap.close()


def _dump_with_catalog(args, spark, schema, catalog) -> int:
    from .config.model import Root
    from .functions.transforms import build_registry, transform_dataframe
    from .plans.subset import Subsetter
    from .sources.slice import write_slice

    roots = [Root(table, condition) for table, condition in args.root]
    eng = Subsetter(spark, catalog, schema)
    result = eng.run(roots)
    tables = eng.export(result)

    if args.transform:
        with open(args.transform) as f:
            tcfg = json.load(f)
        pepper = args.pepper or secrets.token_hex(8)
        reg, stateful_specs = build_registry(
            tcfg.get("transforms", {}), pepper, wordlist_dir=args.wordlist_dir, ffx_compat=args.ffx_compat
        )
        for tid, spec in tcfg.get("tables", {}).items():
            if tid not in tables:
                continue
            cols = spec.get("columns", {})
            scalar = {c: reg[n] for c, n in cols.items() if n in reg}
            stateful = {
                c: (stateful_specs[n].get("config", {}), schema.tables[tid].keys())
                for c, n in cols.items()
                if n in stateful_specs
            }
            tables[tid] = transform_dataframe(tables[tid], scalar, stateful=stateful)

    pre_data = post_data = None
    if args.include_schema:
        if args.ddl_url:
            from .sources.ddl import pg_dump_sections

            pre_data, post_data = pg_dump_sections(args.ddl_url)
        else:
            from .sources.ddl import synthesize_ddl

            pre_data, post_data = synthesize_ddl(schema, tables)

    from .plans.restore import capture_sequences

    if args.output_type == "sql":
        from .sources.sqlscript import write_sql_script

        if args.jobs > 1:
            print(
                "dump: --jobs ignored for --output-type sql "
                "(one ordered script is inherently a single writer)",
                file=sys.stderr,
            )
        order = write_sql_script(
            tables,
            schema,
            args.output,
            sequences=capture_sequences(tables, schema),
            pre_data=pre_data,
            post_data=post_data,
        )
        print(json.dumps({"rounds": result.rounds, "order": order}))
        return 0

    if args.format == "zip":
        import shutil
        import tempfile

        from .sources.slice import write_slice_zip

        # reference convention: output '-' streams the zip to stdout
        # (`slice_db/cli/main.py:115-120`); the JSON report moves to
        # stderr so the archive bytes stay clean
        to_stdout = args.output == "-"
        if to_stdout:
            fd, zip_path = tempfile.mkstemp(suffix=".zip", prefix="slice_dump_")
            os.close(fd)
        else:
            zip_path = args.output
        manifest = write_slice_zip(
            tables,
            schema,
            zip_path,
            sequences=capture_sequences(tables, schema),
            pre_data=pre_data,
            post_data=post_data,
            jobs=args.jobs,
        )
        if to_stdout:
            with open(zip_path, "rb") as f:
                shutil.copyfileobj(f, sys.stdout.buffer, 1 << 20)
            sys.stdout.buffer.flush()
            os.unlink(zip_path)
    else:
        pb = {}
        for spec in args.partition_by or []:
            tid, _, cols = spec.partition("=")
            pb[tid] = [c for c in cols.split(",") if c]
        manifest = write_slice(
            tables,
            schema,
            args.output,
            sequences=capture_sequences(tables, schema),
            fmt=args.format,
            pre_data=pre_data,
            post_data=post_data,
            jobs=args.jobs,
            partition_by=pb or None,
        )
    counts = {t: sum(s["rowCount"] for s in m["segments"]) for t, m in manifest.tables.items()}
    out = {"rounds": result.rounds, "rows": counts}
    if args.include_schema:
        out["preData"] = manifest.pre_data
        out["postData"] = manifest.post_data
    report = sys.stderr if args.format == "zip" and args.output == "-" else sys.stdout
    print(json.dumps(out), file=report)
    return 0


def cmd_restore(args) -> int:
    from .plans.restore import restore_to_jdbc_with_schema, restore_to_parquet
    from .session import get_spark
    from .sources.slice import read_slice, read_slice_schema

    if args.url and args.transaction and args.jobs > 1:
        # the reference's rule (`slice_db/restore.py:44-45`) — a clean CLI
        # error, not restore_to_jdbc_with_schema's traceback
        print(
            "restore: a single transaction must be disabled for parallelism > 1 "
            "(drop --transaction or use --jobs 1)",
            file=sys.stderr,
        )
        return 2
    schema = _load_schema(args.schema)
    spark = get_spark("slicedb-restore")
    import shutil

    stdin_tmp: str | None = None
    extract_dir: str | None = None
    try:
        if args.format == "zip":
            import tempfile

            from .sources.slice import read_slice_zip

            zip_in = args.input
            if zip_in == "-":
                # reference convention: input '-' reads the archive from stdin
                fd, zip_in = tempfile.mkstemp(suffix=".zip", prefix="slice_stdin_")
                stdin_tmp = zip_in
                with os.fdopen(fd, "wb") as f:
                    shutil.copyfileobj(sys.stdin.buffer, f, 1 << 20)
            sections_dir = tempfile.mkdtemp(prefix="slice_restore_")
            extract_dir = sections_dir
            tables, manifest = read_slice_zip(spark, zip_in, workdir=sections_dir)
        else:
            sections_dir = args.input
            tables, manifest = read_slice(spark, args.input, fmt=args.format)
        seqs = {sid: int(m["value"]) for sid, m in manifest.sequences.items()}
        if args.dry_run:
            # plan only: dependency order, per-table rows, sequences — no
            # writes, no target connection (safe against a live --url)
            from .config.graph import topo_order

            order = topo_order(schema, set(tables))
            rows = {
                t: sum(s["rowCount"] for s in m["segments"])
                for t, m in manifest.tables.items()
            }
            print(json.dumps({"dryRun": True, "order": order, "rows": rows,
                              "sequences": seqs}))
            return 0
        if args.url:
            pre = post = None
            if args.include_schema:
                pre, post = read_slice_schema(sections_dir, manifest)
            order = restore_to_jdbc_with_schema(
                tables,
                schema,
                args.url,
                sequences=seqs,
                pre_data=pre,
                post_data=post,
                defer_constraints=args.defer_constraints,
                jobs=args.jobs,
                transaction=args.transaction,
                disable_triggers=args.disable_triggers,
            )
        else:
            if not args.output:
                print("restore: an output dir (or --url) is required", file=sys.stderr)
                return 2
            order = restore_to_parquet(
                tables, schema, args.output, sequences=seqs, jobs=args.jobs
            )
        print(json.dumps({"order": order, "sequences": seqs}))
        return 0
    finally:
        # the extraction dir backs lazily-read DataFrames only until the
        # restore actions above complete, so both temps are safe to drop here
        if stdin_tmp:
            try:
                os.unlink(stdin_tmp)
            except OSError:
                pass
        if extract_dir:
            shutil.rmtree(extract_dir, ignore_errors=True)


def cmd_transform(args) -> int:
    """Re-scrub an existing slice into a new slice.  The reference declares
    this command but ships a no-op stub (`slice_db/cli/transform.py:1-2`,
    README "TODO") — here it is implemented: read slice → apply the
    transform config → write slice (manifest/sections/sequences carried
    over)."""
    from .functions.transforms import build_registry, transform_dataframe
    from .session import get_spark
    from .sources.slice import (
        read_slice,
        read_slice_schema,
        read_slice_zip,
        write_slice,
        write_slice_zip,
    )

    schema = _load_schema(args.schema)
    spark = get_spark("slicedb-transform")
    if args.format == "zip":
        import tempfile

        sections_dir = tempfile.mkdtemp(prefix="slice_transform_")
        tables, manifest = read_slice_zip(spark, args.input, workdir=sections_dir)
    else:
        sections_dir = args.input
        tables, manifest = read_slice(spark, args.input, fmt=args.format)
    with open(args.transform) as f:
        tcfg = json.load(f)
    pepper = args.pepper or secrets.token_hex(8)
    reg, stateful_specs = build_registry(
        tcfg.get("transforms", {}), pepper, wordlist_dir=args.wordlist_dir, ffx_compat=args.ffx_compat
    )
    for tid, spec in tcfg.get("tables", {}).items():
        if tid not in tables:
            continue
        cols = spec.get("columns", {})
        scalar = {c: reg[n] for c, n in cols.items() if n in reg}
        stateful = {
            c: (stateful_specs[n].get("config", {}), schema.tables[tid].keys())
            for c, n in cols.items()
            if n in stateful_specs
        }
        tables[tid] = transform_dataframe(tables[tid], scalar, stateful=stateful)
    pre, post = read_slice_schema(sections_dir, manifest)
    seqs = {sid: int(m["value"]) for sid, m in manifest.sequences.items()}
    if args.format == "zip":
        write_slice_zip(
            tables, schema, args.output, sequences=seqs,
            pre_data=pre or None, post_data=post or None, jobs=args.jobs,
        )
    else:
        write_slice(
            tables, schema, args.output, sequences=seqs, fmt=args.format,
            pre_data=pre or None, post_data=post or None, jobs=args.jobs,
        )
    print(json.dumps({"tables": sorted(tables)}))
    return 0


def cmd_curate(args) -> int:
    """Run the corpus-curation chain on a document corpus: quality filter
    → exact dedup → capped-Jaccard near-dup pairs → connected components
    → canonical survivors, written as a new corpus (any supported format)
    plus a JSON report of per-stage counts on stdout."""
    from pyspark.sql import functions as F

    from .operators import dedup
    from .operators import text as textops
    from .session import get_spark
    from .sources.corpus import read_corpus, split_corrupt, write_corpus

    spark = get_spark("slicedb-curate")
    schema = None
    if args.url_dedup:
        # the corpus reader parses with a DECLARED schema; extend it with
        # the URL column so the crawl metadata survives the parse
        from pyspark.sql import types as T

        from .sources.corpus import DOCUMENTS_SCHEMA

        schema = T.StructType(
            list(DOCUMENTS_SCHEMA) + [T.StructField(args.url_dedup, T.StringType())]
        )
    raw = read_corpus(spark, args.input, fmt=args.input_format,
                      **({"schema": schema} if schema is not None else {}))
    docs, bad = split_corrupt(raw)
    docs = docs.persist()
    report = {"input_rows": docs.count(), "corrupt_rows": bad.count()}

    if args.url_dedup:
        # crawl order: canonicalize the URL column and collapse exact
        # canonical-URL duplicates (min doc_id wins) BEFORE any text work —
        # refetches of the same page never reach the expensive stages
        from .operators.curation import canonicalize_url

        # rows with a NULL url (field absent) OR a NULL canonical form
        # (malformed URL — try_parse_url yields NULL) pass through
        # untouched: they carry no stable fetch identity to collapse on,
        # and grouping them would silently merge N distinct junk-URL
        # documents into one survivor
        canon = canonicalize_url(docs, url_col=args.url_dedup)
        with_url = canon.where(F.col("canon_url").isNotNull())
        no_url = canon.where(F.col("canon_url").isNull())
        url_winners = with_url.groupBy("canon_url").agg(F.min("doc_id").alias("doc_id"))
        docs = (
            with_url.join(url_winners.select("doc_id"), "doc_id", "left_semi")
            .unionByName(no_url)
            .drop("host", "domain", "canon_url")
            .persist()
        )
        report["after_url_dedup"] = docs.count()

    scored = textops.quality_score(docs).select("doc_id", "quality_score")
    kept_ids = scored.where(F.col("quality_score") >= args.quality_min)
    kept = docs.join(kept_ids.select("doc_id"), "doc_id").persist()
    report["after_quality"] = kept.count()

    winners = dedup.exact_dedup(kept, ["text"]).select("doc_id")
    corpus = kept.join(winners, "doc_id", "left_semi").persist()
    report["after_exact_dedup"] = corpus.count()

    if args.chunk_dedup:
        # line-level (chunk) rewrite between exact and fuzzy dedup — the
        # RefinedWeb-style ordering: repeated boilerplate chunks drop
        # before near-dup detection so they can't glue unrelated docs
        rewritten = dedup.chunk_dedup_rewrite(
            corpus, chunk_tokens=args.chunk_tokens
        ).withColumnRenamed("text", "__new_text")
        corpus = (
            corpus.join(rewritten.select("doc_id", "__new_text"), "doc_id")
            .withColumn("text", F.col("__new_text"))
            .drop("__new_text")
            .where(F.col("text") != "")
            .persist()
        )
        report["after_chunk_dedup"] = corpus.count()

    if args.span_dedup:
        # exact-substring (Lee et al.) rewrite after the chunk stage:
        # duplicated token spans (any document, both occurrences) drop
        # before near-dup detection; only AFFECTED documents take the
        # normalized rewrite — everything else keeps its original text
        rw = dedup.duplicate_span_rewrite(corpus, span_tokens=args.span_tokens)
        affected = rw.where(F.col("n_removed") > 0).select(
            "doc_id", F.col("text").alias("__new_text")
        )
        corpus = (
            corpus.join(affected, "doc_id", "left")
            .withColumn("text", F.coalesce(F.col("__new_text"), F.col("text")))
            .drop("__new_text")
            .where(F.col("text") != "")
            .persist()
        )
        report["after_span_dedup"] = corpus.count()

    pairs = dedup.ngram_jaccard_pairs(
        corpus, threshold=args.jaccard_threshold, max_df=args.max_df
    )
    cc = dedup.connected_components(pairs)
    losers = cc.where(F.col("rep") != F.col("id")).select(F.col("id").alias("doc_id"))
    survivors = corpus.join(losers, "doc_id", "left_anti").persist()
    report["after_near_dedup"] = survivors.count()
    write_corpus(survivors, args.output, fmt=args.output_format, shards=args.shards)
    print(json.dumps(report))
    return 0


def cmd_ingest(args) -> int:
    """One-shot streaming ingestion run (availableNow): drain the landing
    directory's JSONL into the deduplicated parquet corpus."""
    from .session import get_spark
    from .streaming.corpus import ingest_corpus_stream

    spark = get_spark("slicedb-ingest")
    ingest_corpus_stream(
        spark,
        args.landing,
        args.corpus,
        checkpoint=args.checkpoint,
        quarantine=args.quarantine,
        min_quality=args.min_quality,
        rejects=args.rejects,
        lsh_index=args.lsh_index,
        lsh_threshold=args.lsh_threshold,
        url_dedup=args.url_dedup,
        compact_files=args.compact_files,
        compact_every=args.compact_every,
        span_index=args.span_index,
        span_tokens=args.span_tokens,
        span_wide=args.span_wide,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    report = {"corpus_rows": spark.read.parquet(args.corpus).count()}
    # per-sink counters, derived from the sinks themselves (no streaming
    # accumulators to lose on replay): each exists only when configured
    sinks = {"quarantined": args.quarantine}
    if args.rejects:
        sinks["quality_rejected"] = args.rejects
        sinks["near_dup_rejected"] = args.rejects + ".neardup"
        if args.url_dedup:
            sinks["url_dup_rejected"] = args.rejects + ".urldup"
    import os as _os

    for key, path in sinks.items():
        if path and _os.path.isdir(path):
            report[key] = spark.read.json(path).count()
    print(json.dumps(report))
    return 0


def _parse_matte(spec: str | None):
    """``--gif-matte`` parser: 'white' / 'black' / 'r,g,b' → RGB triple
    (None passes through — the spec-background default)."""
    if spec is None:
        return None
    named = {"white": (255, 255, 255), "black": (0, 0, 0)}
    if spec.lower() in named:
        return named[spec.lower()]
    parts = spec.split(",")
    try:
        matte = tuple(int(v) for v in parts)
    except ValueError:
        matte = ()
    if len(matte) != 3 or not all(0 <= v <= 255 for v in matte):
        raise SystemExit(
            f"--gif-matte must be 'white', 'black', or 'r,g,b' "
            f"(0-255 each), got {spec!r}"
        )
    return matte


def cmd_ingest_media(args) -> int:
    """One-shot streaming media ingestion run (availableNow): drain the
    landing directory's parquet image shards into the deduplicated media
    corpus, maintaining the persisted pHash signature index."""
    from .session import get_spark
    from .streaming.media import ingest_media_stream

    spark = get_spark("slicedb-ingest-media")
    ingest_media_stream(
        spark,
        args.landing,
        args.corpus,
        checkpoint=args.checkpoint,
        phash_index=args.phash_index,
        quarantine=args.quarantine,
        rejects=args.rejects,
        fingerprint=args.fingerprint,
        max_hamming=args.max_hamming,
        source=args.source,
        file_ids=args.file_ids,
        min_side=args.min_side,
        max_aspect=args.max_aspect,
        windows_per_sec=args.windows_per_sec,
        jvm_decode=args.jvm_decode,
        gif_matte=_parse_matte(args.gif_matte),
    )
    report = {"corpus_rows": spark.read.parquet(args.corpus).count()}
    import os as _os

    sinks = {"quarantined": args.quarantine}
    if args.rejects:
        sinks["near_dup_rejected"] = args.rejects + ".neardup"
        if args.min_side is not None or args.max_aspect is not None:
            sinks["gate_rejected"] = args.rejects + ".gate"
    for key, path in sinks.items():
        if path and _os.path.isdir(path):
            report[key] = spark.read.json(path).count()
    print(json.dumps(report))
    return 0


def cmd_compact(args) -> int:
    """Compact an append-heavy parquet sink (or an LSH signature / IVF
    inverted-list index) to size-targeted files behind the crash-safe
    staging swap; prints the before/after file counts."""
    from .plans.scale import compact_lsh_index, compact_parquet
    from .session import get_spark

    if sum(map(bool, (args.lsh_index, args.ivf_index, args.span_index,
                      args.phash_index))) > 1:
        print(json.dumps({"error": "--lsh-index/--ivf-index/--span-index/"
                          "--phash-index are exclusive"}))
        return 2
    if (args.lsh_index or args.ivf_index or args.span_index
            or args.phash_index) and args.partition_by is not None:
        print(json.dumps({"error": "index compaction fixes the partitioning; "
                          "--partition-by does not apply"}))
        return 2
    spark = get_spark("slicedb-compact")
    if args.lsh_index:
        report = compact_lsh_index(spark, args.path, target_file_bytes=args.target_bytes)
    elif args.ivf_index:
        from .operators.similarity import compact_ivf_index, compact_sq8_index

        # the flag covers every ANN index; an SQ8 index keeps a codes/
        # dir where the others keep cells/
        if (_ann_index_kind(args.path) or (None,))[0] == "sq8":
            report = compact_sq8_index(
                spark, args.path, target_file_bytes=args.target_bytes
            )
        else:
            report = compact_ivf_index(
                spark, args.path, target_file_bytes=args.target_bytes
            )
    elif args.span_index:
        from .plans.scale import compact_span_index

        report = compact_span_index(spark, args.path, target_file_bytes=args.target_bytes)
    elif args.phash_index:
        from .plans.scale import compact_phash_index

        report = compact_phash_index(spark, args.path, target_file_bytes=args.target_bytes)
    else:
        # '--partition-by ""' is the explicit FLATTEN escape hatch ([]);
        # omitting the flag auto-detects and preserves hive layouts (None)
        pb = None
        if args.partition_by is not None:
            pb = [c.strip() for c in args.partition_by.split(",") if c.strip()]
        report = compact_parquet(
            spark, args.path, target_file_bytes=args.target_bytes,
            partition_by=pb,
        )
    print(json.dumps(report))
    return 0


def cmd_chunk(args) -> int:
    """Split a document corpus into overlapping token-window chunks
    (retrieval/passage granularity) and write the chunk table: doc_id,
    chunk_idx, n_tokens, chunk_hash, and (with --text) the chunk text.
    Pure map-stage job — parallelizes per input split at any size."""
    from .operators import text as textops
    from .session import get_spark
    from .sources.corpus import read_corpus, split_corrupt

    spark = get_spark("slicedb-chunk")
    docs, _ = split_corrupt(read_corpus(spark, args.input, fmt=args.input_format))
    chunks = textops.token_windows(
        docs, window=args.window, stride=args.stride, keep_text=args.text
    )
    if args.shards:
        chunks = chunks.repartition(args.shards)
    chunks.write.mode("overwrite").parquet(args.output)
    out = spark.read.parquet(args.output)
    print(
        json.dumps(
            {
                "docs": docs.count(),
                "chunks": out.count(),
                "window": args.window,
                "stride": args.stride,
            }
        )
    )
    return 0


def cmd_fsck(args) -> int:
    """Consistency check of a corpus and its standing indexes — the ops
    command a long-lived ingest deployment runs before trusting a sink:
    corpus row/file counts and column contract (canon_url presence vs
    the declared url-dedup mode), index sidecar validity (corrupt JSON is
    an error, absent is reported), and index row health (replay-duplicate
    share — high values mean compaction is overdue).  Prints one JSON
    report; exit 2 on any contract violation."""
    import os as _os

    from .operators import dedup as D
    from .plans.scale import _scan_parquet_files
    from .session import get_spark

    from pyspark.sql import functions as F

    spark = get_spark("slicedb-fsck")
    report: dict = {}
    errors: list[str] = []

    def _readable(path: str, what: str):
        """Missing / empty / mid-swap-crashed dirs are ERROR ENTRIES in
        the report (the exact broken states a checker exists to name),
        never raw AnalysisException tracebacks.  A BARE PARQUET FILE is
        a valid corpus too (r11 — build-index/probe-index already took
        one; fsck refused the same argument)."""
        if _os.path.isfile(path):
            # a non-parquet / truncated / zero-byte file is an error
            # ENTRY like the broken-dir states, not a traceback (the
            # read is forced with a schema probe so the failure
            # surfaces here, not at the first count)
            try:
                frame = spark.read.parquet(path)
                frame.schema  # forces footer/schema read
            except Exception as e:  # AnalysisException/Py4J wrappers
                errors.append(
                    f"{what} file is not readable parquet: {path} "
                    f"({str(e).splitlines()[0][:200]})"
                )
                return None, []
            return frame, [path]
        if not _os.path.isdir(path):
            hint = (" (a .old sibling exists — a compaction crashed "
                    "mid-swap; run recover or compact)"
                    if _os.path.isdir(_os.path.normpath(path) + ".old") else "")
            errors.append(f"{what} dir missing: {path}{hint}")
            return None, []
        files, _, _, _ = _scan_parquet_files(_os.path.normpath(path))
        if not files:
            errors.append(f"{what} contains no parquet files: {path}")
            return None, []
        return spark.read.parquet(path), files

    def _index_entry(path: str, meta_reader, what: str):
        try:
            meta = meta_reader(path) if _os.path.isdir(path) else None
        except ValueError as e:
            errors.append(str(e))
            meta = None
        rows, _ = _readable(path, what)
        if rows is None:
            return {"meta": meta}
        # one job: total + distinct in a single aggregate pass
        n, distinct = rows.agg(
            F.count(F.lit(1)),
            F.count_distinct(*[F.col(c) for c in rows.columns]),
        ).first()
        return {
            "rows": n, "distinct_rows": distinct,
            "replay_dup_ppm": 0 if n == 0 else (n - distinct) * 1_000_000 // n,
            "meta": meta,
        }

    corpus, files = _readable(args.corpus, "corpus")
    if corpus is not None:
        if _os.path.isfile(args.corpus):
            total_bytes = _os.path.getsize(args.corpus)
        else:
            _, total_bytes, _, _ = _scan_parquet_files(
                _os.path.normpath(args.corpus)
            )
        report["corpus"] = {
            "rows": corpus.count(),
            "files": len(files),
            "bytes": total_bytes,
            "has_canon_url": "canon_url" in corpus.columns,
        }
        if args.url_dedup and "canon_url" not in corpus.columns:
            errors.append("url-dedup declared but corpus has no canon_url column")
    if args.lsh_index:
        report["lsh_index"] = _index_entry(args.lsh_index, D.read_lsh_meta, "LSH index")
    if args.span_index:
        report["span_index"] = _index_entry(args.span_index, D.read_span_meta, "span index")
    if args.phash_index:
        from .streaming.media import read_phash_meta

        report["phash_index"] = _index_entry(
            args.phash_index, read_phash_meta, "pHash index"
        )
    if args.ivf_index:
        import json as _json

        cj = _os.path.join(args.ivf_index, "centroids.json")
        entry: dict = {}
        try:
            with open(cj) as f:
                cents = _json.load(f)
            entry["n_cells"] = len(cents)
        except (OSError, ValueError) as e:
            errors.append(f"IVF centroids.json unreadable: {e}")
        cells, _ = _readable(_os.path.join(args.ivf_index, "cells"), "IVF cells")
        if cells is not None:
            entry["rows"] = cells.count()
        report["ivf_index"] = entry
    if args.sq8_index:
        import json as _json

        mj = _os.path.join(args.sq8_index, "meta.json")
        entry = {}
        meta = None
        try:
            with open(mj) as f:
                meta = _json.load(f)
        except (OSError, ValueError) as e:
            errors.append(f"SQ8 meta.json unreadable: {e}")
        shape_ok = False
        if meta is not None:
            vmin, span = meta.get("vmin"), meta.get("span")
            ok_lists = (
                isinstance(vmin, list) and isinstance(span, list)
                and vmin and len(vmin) == len(span)
                and all(isinstance(v, int) for v in vmin)
                and all(isinstance(v, int) for v in span)
            )
            if not ok_lists:
                errors.append(
                    "SQ8 meta needs equal-length integer vmin/span lists"
                )
            elif any(v < 1 for v in span):
                errors.append("SQ8 meta span entries must be >= 1")
            else:
                shape_ok = True
                entry["dim"] = len(vmin)
        codes, _ = _readable(
            _os.path.join(args.sq8_index, "codes"), "SQ8 codes"
        )
        if codes is not None:
            entry["rows"] = codes.count()
            if shape_ok:
                from pyspark.sql import functions as _F

                dim = len(meta["vmin"])
                bad = codes.where(
                    (_F.size("__codes") != dim)
                    | _F.exists(
                        "__codes", lambda c: (c < 0) | (c > 255)
                    )
                ).count()
                entry["bad_code_rows"] = bad
                if bad:
                    errors.append(
                        f"SQ8 codes: {bad} rows with wrong arity or "
                        "out-of-range codes"
                    )
        report["sq8_index"] = entry
    if args.ivfpq_index:
        import json as _json

        mj = _os.path.join(args.ivfpq_index, "meta.json")
        entry = {}
        meta = None
        try:
            with open(mj) as f:
                meta = _json.load(f)
        except (OSError, ValueError) as e:
            errors.append(f"OPQ-IVFPQ meta.json unreadable: {e}")
        if meta is not None:
            # fsck exists to REPORT corruption — a structurally broken
            # meta (empty centroids, missing/zero m_subspaces, missing
            # n_codes) must land in errors[], not crash the checker
            # with IndexError/KeyError/ZeroDivisionError (r10, advisory
            # fix)
            cents = meta.get("centroids")
            m_sub = meta.get("m_subspaces")
            n_codes = meta.get("n_codes")
            entry["n_cells"] = len(cents) if isinstance(cents, list) else None
            entry["m_subspaces"] = m_sub
            shape_ok = True
            if (
                not isinstance(cents, list)
                or not cents
                or not isinstance(cents[0], list)
                or not cents[0]
            ):
                errors.append("OPQ-IVFPQ meta has no/empty centroids")
                shape_ok = False
            if not isinstance(m_sub, int) or m_sub <= 0:
                errors.append(
                    f"OPQ-IVFPQ meta m_subspaces must be a positive "
                    f"integer, got {m_sub!r}"
                )
                shape_ok = False
            if not isinstance(n_codes, int) or n_codes <= 0:
                errors.append(
                    f"OPQ-IVFPQ meta n_codes must be a positive "
                    f"integer, got {n_codes!r}"
                )
                shape_ok = False
            if shape_ok:
                dim = len(cents[0])
                perm, signs = meta.get("perm", []), meta.get("signs", [])
                if sorted(perm) != list(range(dim)):
                    errors.append(
                        "OPQ rotation perm is not a permutation of the "
                        f"dimension range (dim={dim})"
                    )
                if not set(signs) <= {1, -1} or len(signs) != dim:
                    errors.append(
                        "OPQ rotation signs must be ±1 per dimension"
                    )
                cbs = meta.get("codebooks", [])
                if len(cbs) != m_sub or any(
                    len(cb) != n_codes
                    or any(len(e) != dim // m_sub for e in cb)
                    for cb in cbs
                ):
                    errors.append(
                        "OPQ-IVFPQ codebooks shape mismatch vs "
                        "m_subspaces/n_codes/dim"
                    )
            else:
                meta = None  # the cell scan below needs a sane meta
        cells, _ = _readable(
            _os.path.join(args.ivfpq_index, "cells"), "OPQ-IVFPQ cells"
        )
        if cells is not None and meta is not None:
            entry["rows"] = cells.count()
            bad = cells.where(
                (F.size("__codes") != int(meta["m_subspaces"]))
                | F.exists(
                    "__codes",
                    lambda c: (c < 0) | (c >= int(meta["n_codes"])),
                )
            ).count()
            entry["bad_code_rows"] = bad
            if bad:
                errors.append(
                    f"OPQ-IVFPQ index has {bad} rows with out-of-contract "
                    "code vectors (wrong arity or code outside the "
                    "codebook range)"
                )
        report["ivfpq_index"] = entry
    if args.media_corpus:
        mc, _ = _readable(args.media_corpus, "media corpus")
        if mc is not None:
            entry = {"rows": mc.count()}
            width = dict(mc.dtypes).get("content_hash")
            entry["content_hash_type"] = width
            if width == "bigint":
                errors.append(
                    "media corpus carries the legacy 60-bit BIGINT "
                    "content_hash — run migrate_media_corpus before "
                    "further ingest (collision horizon ~1e9 rows)"
                )
            elif width != "string":
                errors.append(
                    f"media corpus content_hash has unexpected type "
                    f"{width!r} (expected the 32-hex md5 string)"
                )
            # media_id is the identity key: duplicates mean the sink's
            # id guards were bypassed (hand-written corpus) and the
            # video lane's frame grouping is corrupt
            n_ids, n_distinct = mc.agg(
                F.count(F.lit(1)), F.count_distinct("media_id")
            ).first()
            entry["duplicate_ids"] = n_ids - n_distinct
            if n_ids != n_distinct:
                errors.append(
                    f"media corpus has {n_ids - n_distinct} duplicate "
                    "media_id rows — one id must own exactly one payload"
                )
            report["media_corpus"] = entry
    # overall verdict rides IN the report (r11): a populated index
    # section next to a fatal corpus error read as healthy to anything
    # that didn't check errors[] / the exit code
    report["status"] = "error" if errors else "ok"
    report["errors"] = errors
    print(json.dumps(report))
    return 2 if errors else 0


def cmd_phash_files(args) -> int:
    """Perceptual near-dup pairs over a DIRECTORY OF IMAGE FILES through
    the JVM-native ImageIO decode lane — the production entry point for
    file-backed corpora (`operators/multimodal.py::phash_image_files`):
    decode happens inside the scan at native rate, undecodable files
    surface as a quarantine count, and the pairing is the same banded
    Hamming join every perceptual lane uses.  Prints one JSON report."""
    from pyspark.sql import functions as F

    from .operators import multimodal as _mm
    from .operators.dedup import hamming_near_pairs
    from .session import get_spark

    spark = get_spark("slicedb-phash-files")
    sigs = _mm.phash_image_files(
        spark, args.path, null_on_error=True, ids=args.ids,
        dihedral=args.dihedral,
    ).localCheckpoint(eager=True)
    bad = sigs.where(F.col("phash").isNull()).count()
    good = sigs.where(F.col("phash").isNotNull())
    pairs = hamming_near_pairs(
        good, "phash", "media_id",
        bits=63, bands=7, max_hamming=args.max_hamming,
    )
    rows = [r.asDict() for r in pairs.orderBy("id_a", "id_b").collect()]
    print(json.dumps({
        "files": sigs.count(),
        "undecodable_or_unidentified": bad,
        "n_pairs": len(rows),
        "pairs": rows[: args.limit],
    }))
    return 0


def cmd_build_index(args) -> int:
    """Train and materialize a persisted ANN index from an embedding
    parquet — the CLI lifecycle for the vector indexes (r10): the LSH
    text index has had ``ingest --lsh-index`` since r5, but the
    IVF / OPQ-IVFPQ stacks were library-only — a production operator
    could not train or probe without writing Python.  Wraps
    `operators/similarity.py::build_ivf_index/build_ivfpq_index`,
    writes an ``index.json`` sidecar recording kind + build params
    (the probe and `fsck` read it), and prints one JSON build report."""
    from .operators import similarity as S
    from .session import get_spark

    spark = get_spark("slicedb-build-index")
    corpus = spark.read.parquet(args.corpus)
    if args.append:
        # incremental maintenance: assign new vectors to the EXISTING
        # training artifacts (no retrain) — ivf appends quantized rows
        # against the persisted centroids; ivfpq (r11) additionally
        # encodes PQ codes with the persisted rotation + codebooks, so
        # probes score appended vectors bit-identically to a rebuild
        # that reused the same artifacts
        found = _ann_index_kind(args.index)
        if found is None:
            print(f"--append needs an existing ANN index at {args.index}",
                  file=sys.stderr)
            return 2
        kind, id_col, vec_col = found
        if kind == "ivf":
            append = S.append_ivf_index
        elif kind == "ivfpq":
            append = S.append_ivfpq_index
        elif kind == "sq8":
            # frozen per-dim quantizer; out-of-range arrivals saturate
            append = S.append_sq8_index
        else:
            print(f"--append supports kind=ivf/ivfpq/sq8, index is {kind!r}",
                  file=sys.stderr)
            return 2
        append(spark, args.index, corpus, id_col=id_col, vec_col=vec_col)
        report = {"kind": kind, "id_col": id_col, "vec_col": vec_col}
        sidecar_path = os.path.join(args.index, "index.json")
        if os.path.exists(sidecar_path):
            with open(sidecar_path) as f:
                report = json.load(f)
        print(json.dumps({**report, "appended": corpus.count(),
                          "index": args.index}))
        return 0
    if args.kind == "ivfpq":
        meta = S.build_ivfpq_index(
            corpus, args.index, n_cells=args.cells, iters=args.iters,
            m_subspaces=args.m_subspaces, n_codes=args.codes,
            opq_rounds=args.opq_rounds,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        sidecar = {
            "kind": "ivfpq", "n_cells": len(meta["centroids"]),
            "iters": args.iters, "m_subspaces": meta["m_subspaces"],
            "n_codes": meta["n_codes"], "opq_rounds": args.opq_rounds,
            "id_col": args.id_col, "vec_col": args.vec_col,
        }
    elif args.kind == "sq8":
        meta = S.build_sq8_index(
            corpus, args.index, id_col=args.id_col, vec_col=args.vec_col,
        )
        sidecar = {
            "kind": "sq8", "dim": len(meta["vmin"]),
            "id_col": args.id_col, "vec_col": args.vec_col,
        }
    else:
        cents = S.build_ivf_index(
            corpus, args.index, n_cells=args.cells, iters=args.iters,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        sidecar = {
            "kind": "ivf", "n_cells": len(cents), "iters": args.iters,
            "id_col": args.id_col, "vec_col": args.vec_col,
        }
    with open(os.path.join(args.index, "index.json"), "w") as f:
        json.dump(sidecar, f)
    print(json.dumps({**sidecar, "rows": corpus.count(), "index": args.index}))
    return 0


def _ann_index_kind(path: str) -> tuple | None:
    """``(kind, id_col, vec_col)`` of the ANN index at ``path``, or None
    when it holds none.  The ``index.json`` sidecar that ``build-index``
    writes decides; an index built by the library has none, so its
    layout does, with the library's default column names: ``meta.json``
    holds either an SQ8 quantizer (``vmin``) or the IVF-PQ artifacts,
    ``centroids.json`` is IVF."""
    sidecar = os.path.join(path, "index.json")
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            s = json.load(f)
        return (s.get("kind"), s.get("id_col", "vec_id"),
                s.get("vec_col", "embedding"))
    meta = os.path.join(path, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return ("sq8" if "vmin" in json.load(f) else "ivfpq",
                    "vec_id", "embedding")
    if os.path.exists(os.path.join(path, "centroids.json")):
        return "ivf", "vec_id", "embedding"
    return None


def cmd_probe_index(args) -> int:
    """Top-k search against a persisted ANN index built by
    ``build-index`` or the library — :func:`_ann_index_kind` names the
    kind and columns — probes with
    `operators/similarity.py::probe_ivf_index/probe_ivfpq_index/probe_sq8_index`
    (partition-pruned cell reads, exact integer ranking — bit-identical
    to the library call), and prints one JSON result set."""
    from .operators import similarity as S
    from .session import get_spark

    found = _ann_index_kind(args.index)
    if found is None:
        print(f"no ANN index at {args.index} (index.json / meta.json / "
              "centroids.json all missing)", file=sys.stderr)
        return 2
    kind, id_col, vec_col = found
    if kind not in ("ivf", "ivfpq", "sq8"):
        print(f"unknown index kind {kind!r} in "
              f"{os.path.join(args.index, 'index.json')}", file=sys.stderr)
        return 2

    spark = get_spark("slicedb-probe-index")
    queries = spark.read.parquet(args.queries)
    if "q_id" not in queries.columns:
        if id_col not in queries.columns:
            print(f"queries parquet needs a q_id or {id_col} column",
                  file=sys.stderr)
            return 2
        queries = queries.withColumnRenamed(id_col, "q_id")
    if kind == "ivfpq":
        res = S.probe_ivfpq_index(
            spark, args.index, queries, k=args.k, k_prime=args.k_prime,
            nprobe=args.nprobe, id_col=id_col, vec_col=vec_col,
        )
    elif kind == "sq8":
        res = S.probe_sq8_index(
            spark, args.index, queries, k=args.k,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        res = S.probe_ivf_index(
            spark, args.index, queries, k=args.k, nprobe=args.nprobe,
            id_col=id_col, vec_col=vec_col,
        )
    if args.output:
        # production result sets don't fit a JSON report — write the
        # full frame as parquet and print counts only
        res = res.localCheckpoint(eager=True)
        res.write.mode("overwrite").parquet(args.output)
        print(json.dumps({
            "kind": kind, "k": args.k, "nprobe": args.nprobe,
            "n_queries": queries.count(), "n_results": res.count(),
            "output": args.output,
        }))
        return 0
    rows = [r.asDict() for r in res.orderBy("q_id", "rank").collect()]
    print(json.dumps({
        "kind": kind, "k": args.k, "nprobe": args.nprobe,
        "n_queries": queries.count(), "n_results": len(rows),
        "results": rows[: args.limit],
    }))
    return 0


def cmd_train_bpe(args) -> int:
    """Learn BPE merges from the corpus (the tokenizer-training pass) and
    write them as parquet at the output path; prints a JSON summary with
    the merge list and the segmented vocabulary's symbols-per-word
    distribution so a run can be sanity-read without Spark."""
    from .operators import text as textops
    from .session import get_spark
    from .sources.corpus import read_corpus, split_corrupt

    spark = get_spark("slicedb-train-bpe")
    docs, _ = split_corrupt(read_corpus(spark, args.input, fmt=args.input_format))
    merges, vocab = textops._bpe_train(
        docs, args.rounds, "text", batch_merges=args.batch_merges
    )
    merges = merges.localCheckpoint(eager=True)
    merges.repartition(1).write.mode("overwrite").parquet(args.output)
    # the SAME distribution definition the oracle-gated bpe_apply query
    # reads — the CLI report can never drift from the verified surface
    dist = textops.segment_length_dist(vocab).orderBy("n_symbols")
    print(json.dumps({
        "rounds": args.rounds,
        "merges": [r.asDict() for r in merges.orderBy("merge_round").collect()],
        "segment_lengths": [r.asDict() for r in dist.collect()],
    }))
    return 0


def cmd_analyze(args) -> int:
    """Corpus analytics report as one JSON object on stdout: per-stratum
    datasheet, length quantiles, per-source token-distribution drift, and
    a duplication summary — the numbers a curation run reads BEFORE
    setting its thresholds.  Sections are selectable; each reuses the
    oracle-gated operator, so the CLI can never disagree with the query
    surface."""
    from .operators import dedup
    from .operators import text as textops
    from .session import get_spark
    from .sources.corpus import read_corpus, split_corrupt

    spark = get_spark("slicedb-analyze")
    docs, bad = split_corrupt(read_corpus(spark, args.input, fmt=args.input_format))
    docs = docs.persist()
    report: dict = {"rows": docs.count(), "corrupt_rows": bad.count()}
    secs = set(args.sections.split(",")) if args.sections else {
        "datasheet", "lengths", "drift", "dedup"
    }
    unknown = secs - {"datasheet", "lengths", "drift", "dedup"}
    if unknown:
        print(f"unknown --sections: {','.join(sorted(unknown))}", file=sys.stderr)
        return 2
    if "datasheet" in secs:
        report["datasheet"] = [r.asDict() for r in textops.corpus_report(docs).collect()]
    if "lengths" in secs:
        report["length_quantiles"] = [
            r.asDict() for r in textops.length_quantiles(docs).collect()
        ]
    if "drift" in secs:
        report["source_drift"] = [
            r.asDict() for r in textops.source_token_drift(docs).collect()
        ]
    if "dedup" in secs:
        winners = dedup.exact_dedup(docs, ["text"]).count()
        pairs = dedup.ngram_jaccard_pairs(
            docs, threshold=args.jaccard_threshold, max_df=args.max_df
        ).count()
        report["dedup"] = {
            "exact_winners": winners,
            "exact_dup_docs": report["rows"] - winners,
            "near_dup_pairs": pairs,
        }
    print(json.dumps(report))
    return 0


def cmd_analyze_media(args) -> int:
    """Media-corpus analytics report as one JSON object on stdout:
    format mix, header-parsed dimension quantiles, curation-gate pass
    rates, and EXIF coverage — the numbers an image-curation run reads
    BEFORE setting its gate thresholds.  Each section reuses the
    oracle-gated operator (`media_dims`/`media_gate`/`exif_metadata`),
    so the CLI can never disagree with the query surface."""
    from pyspark.sql import functions as F

    from .operators import multimodal as mm
    from .session import get_spark

    spark = get_spark("slicedb-analyze-media")
    media = spark.read.parquet(args.corpus)
    report: dict = {"rows": media.count()}
    report["formats"] = {
        r["format"]: r["n"]
        for r in media.groupBy("format")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    dims = mm.media_dims(media, null_on_error=True).persist()
    try:
        parsed = dims.where(F.col("width").isNotNull())
        n_parsed = parsed.count()
        report["dims_parsed"] = n_parsed
        if n_parsed:
            q = parsed.agg(
                F.expr("percentile(width, array(0.5, 0.9))").alias("wq"),
                F.expr("percentile(height, array(0.5, 0.9))").alias("hq"),
            ).collect()[0]
            report["width_p50_p90"] = [int(v) for v in q["wq"]]
            report["height_p50_p90"] = [int(v) for v in q["hq"]]
            gate = mm.media_gate(
                parsed, min_side=args.min_side, max_aspect=args.max_aspect
            )
            report["gate"] = {
                r["reason"]: r["n"]
                for r in gate.groupBy("reason")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
    finally:
        dims.unpersist()
    jpegs = media.where(F.col("format").isin("jpeg", "jpg"))
    if jpegs.limit(1).count():
        ex = mm.exif_metadata(jpegs, null_on_error=True).persist()
        try:
            report["exif"] = {
                "jpeg_rows": ex.count(),
                "with_exif": ex.where("has_exif").count(),
                "damaged": ex.where("has_exif is null").count(),
                "orientation_hist": {
                    int(r["orientation"]): r["n"]
                    for r in ex.where(F.col("orientation").isNotNull())
                    .groupBy("orientation")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                },
            }
        finally:
            ex.unpersist()
    gifs = media.where(F.col("format") == "gif")
    if gifs.limit(1).count():
        am = mm.gif_anim_meta(gifs, null_on_error=True).persist()
        try:
            parsed = am.where(F.col("n_frames").isNotNull())
            section = {
                "gif_rows": am.count(),
                "damaged": am.where(F.col("n_frames").isNull()).count(),
                "animated": parsed.where("n_frames > 1").count(),
                "frames_hist": {
                    int(r["n_frames"]): r["n"]
                    for r in parsed.groupBy("n_frames")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                },
            }
            anim = parsed.where("n_frames > 1")
            if anim.limit(1).count():
                q = anim.agg(
                    F.expr(
                        "percentile(duration_cs, array(0.5, 0.9))"
                    ).alias("dq")
                ).collect()[0]
                section["duration_cs_p50_p90"] = [int(v) for v in q["dq"]]
            # compositing-relevance mix (r10): how much of this GIF
            # corpus exercises partial frames / transparency / interlace
            # / restore disposals — strict block walk only, no decode
            feat = mm.gif_feature_meta(gifs, null_on_error=True)
            fq = feat.where(F.col("n_frames").isNotNull()).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("partial_frames") > 0).cast("long")).alias("p"),
                F.sum((F.col("transparent_frames") > 0).cast("long")).alias("t"),
                F.sum((F.col("interlaced_frames") > 0).cast("long")).alias("i"),
                F.sum(
                    ((F.col("disposal_bg") + F.col("disposal_prev")) > 0)
                    .cast("long")
                ).alias("d"),
                # loop/comment metadata (r11): same strict-walk pass
                F.sum(F.col("loop_count").isNotNull().cast("long"))
                .alias("lp"),
                F.sum((F.col("loop_count") == 0).cast("long")).alias("lf"),
                F.sum((F.col("n_comments") > 0).cast("long")).alias("cm"),
                F.sum("comment_bytes").alias("cb"),
            ).collect()[0]
            if fq["n"]:
                section["compositing"] = {
                    "with_partial_frames": int(fq["p"]),
                    "with_transparency": int(fq["t"]),
                    "with_interlace": int(fq["i"]),
                    "with_restore_disposal": int(fq["d"]),
                }
                section["metadata"] = {
                    "with_loop_extension": int(fq["lp"]),
                    "loop_forever": int(fq["lf"]),
                    "with_comments": int(fq["cm"]),
                    "comment_bytes": int(fq["cb"] or 0),
                }
            report["animation"] = section
        finally:
            am.unpersist()
    pngs = media.where(F.col("format") == "png")
    if pngs.limit(1).count():
        # APNG mix (r11): the chunk-walk structural pass — a plain PNG
        # is not animated (n_frames NULL via the acTL contract), so the
        # same null_on_error split separates stills from animations;
        # CRC-damaged streams land in the same NULL bucket, priced into
        # the "still_or_damaged" reading
        af = mm.apng_feature_meta(pngs, null_on_error=True).persist()
        try:
            anim = af.where(F.col("n_frames").isNotNull())
            n_anim = anim.count()
            section = {
                "png_rows": af.count(),
                "animated": n_anim,
                "still_or_damaged": af.where(
                    F.col("n_frames").isNull()
                ).count(),
            }
            if n_anim:
                fq = anim.agg(
                    F.sum((F.col("partial_frames") > 0).cast("long"))
                    .alias("p"),
                    F.sum((F.col("over_frames") > 0).cast("long"))
                    .alias("o"),
                    F.sum(
                        ((F.col("dispose_bg") + F.col("dispose_prev")) > 0)
                        .cast("long")
                    ).alias("d"),
                    F.sum((F.col("num_plays") == 0).cast("long"))
                    .alias("lf"),
                    F.sum((F.col("default_hidden") > 0).cast("long"))
                    .alias("hd"),
                    F.expr(
                        "percentile(total_delay_ms, array(0.5, 0.9))"
                    ).alias("dq"),
                ).collect()[0]
                section["compositing"] = {
                    "with_partial_frames": int(fq["p"]),
                    "with_over_blend": int(fq["o"]),
                    "with_restore_dispose": int(fq["d"]),
                    "loop_forever": int(fq["lf"]),
                    "hidden_default_image": int(fq["hd"]),
                }
                section["delay_ms_p50_p90"] = [int(v) for v in fq["dq"]]
            report["apng"] = section
        finally:
            af.unpersist()
    print(json.dumps(report))
    return 0


def cmd_schema_filter(args) -> int:
    from .config.graph import filter_children

    schema = _load_schema(args.schema)
    out = filter_children(schema, args.tables)
    print(out.dumps())
    return 0


def cmd_schema(args) -> int:
    """The reference's first-run entry point (`slice_db/cli/schema.py:9-14`):
    introspect a live database's pg_catalog over JDBC and print the schema
    config JSON (edit by hand, then feed to ``dump --schema``)."""
    from .session import get_spark
    from .sources.pg_schema import introspect

    spark = get_spark("slicedb-schema")
    cfg = introspect(spark, args.url)
    print(cfg.dumps())
    return 0


def cmd_verify_slice(args) -> int:
    """Integrity-check a slice against its manifest: per-table row counts
    (parquet footers / TSV line counts — zero Spark jobs), segment
    counts, and declared sequence files.  Exit 0 clean, 1 with a JSON
    diagnosis per mismatch — the check a restore pipeline runs before
    loading a slice it didn't produce."""
    import tempfile
    import zipfile

    from .sources.slice import (
        SliceManifest,
        _count_lines,
        _part_row_counts,
        _table_dir,
    )

    import shutil

    slice_dir = args.input
    extract_dir: str | None = None
    if args.format == "zip":
        extract_dir = tempfile.mkdtemp(prefix="slice_verify_")
        with zipfile.ZipFile(args.input) as zf:
            zf.extractall(extract_dir)
        slice_dir = extract_dir
    try:
        fmt = args.format
        with open(os.path.join(slice_dir, "manifest.json")) as f:
            manifest = SliceManifest.from_dict(json.load(f))
        problems = []
        for tid, meta in manifest.tables.items():
            declared = sum(s["rowCount"] for s in meta["segments"])
            path = _table_dir(slice_dir, tid)
            if not os.path.isdir(path):
                problems.append({"table": tid, "error": "missing_table_dir"})
                continue
            if args.format == "zip":
                # zip layout: {table}/{i}.tsv files, not part-*
                actual = sum(
                    _count_lines(os.path.join(path, p))
                    for p in sorted(os.listdir(path))
                    if p.endswith(".tsv")
                )
            else:
                actual = sum(n for _, n in _part_row_counts(path, fmt))
            if actual != declared:
                problems.append(
                    {"table": tid, "declared": declared, "actual": actual, "error": "row_count"}
                )
            if args.format != "zip" and len(meta["segments"]) != sum(
                1 for _, n in _part_row_counts(path, fmt) if n > 0
            ):
                problems.append({"table": tid, "error": "segment_count"})
        for sid in manifest.sequences:
            if not os.path.exists(os.path.join(slice_dir, f"{sid}.txt")):
                problems.append({"sequence": sid, "error": "missing_sequence_file"})
        print(json.dumps({"ok": not problems, "problems": problems}))
        return 0 if not problems else 1
    finally:
        if extract_dir:
            shutil.rmtree(extract_dir, ignore_errors=True)


def cmd_diff_slice(args) -> int:
    """Compare two slices key-by-key: per-table rows only in A, only in
    B, and common — the audit a re-captured slice runs against its
    predecessor (did the closure grow/shrink, and where?).  Key identity
    comes from the schema's declared id columns; distributed anti/semi
    joins, one line of JSON per table."""
    from pyspark.sql import functions as F

    from .session import get_spark
    from .sources.slice import read_slice

    schema = _load_schema(args.schema)
    spark = get_spark("slicedb-diff")
    a_tables, _ = read_slice(spark, args.a, fmt=args.format)
    b_tables, _ = read_slice(spark, args.b, fmt=args.format)
    report = {}
    for tid in sorted(set(a_tables) | set(b_tables)):
        if tid not in a_tables or tid not in b_tables:
            report[tid] = {"only_in": "a" if tid in a_tables else "b"}
            continue
        keys = schema.tables[tid].keys() if tid in schema.tables else None
        a = a_tables[tid].select(*keys) if keys else a_tables[tid]
        b = b_tables[tid].select(*keys) if keys else b_tables[tid]
        on = keys or a.columns
        report[tid] = {
            "only_a": a.join(b, on=on, how="left_anti").count(),
            "only_b": b.join(a, on=on, how="left_anti").count(),
            "common": a.join(b, on=on, how="left_semi").count(),
        }
    changed = any(
        v.get("only_a") or v.get("only_b") or "only_in" in v for v in report.values()
    )
    print(json.dumps({"identical": not changed, "tables": report}))
    return 0 if not changed else 1


def cmd_schema_infer(args) -> int:
    import pyarrow.parquet as pq

    tables = {}
    for fn in sorted(os.listdir(args.input)):
        if not fn.endswith(".parquet"):
            continue
        name = fn[: -len(".parquet")]
        cols = [f.name for f in pq.read_schema(os.path.join(args.input, fn))]
        tables[name] = {"name": name, "schema": "", "columns": cols, "idColumns": cols[:1]}
    print(json.dumps({"tables": tables, "references": {}, "sequences": {}}, indent=2, sort_keys=True))
    return 0


def cmd_queries(args) -> int:
    """List the registered analytic queries (the driver-contract registry);
    every entry carries a cross-engine SQL oracle."""
    from .plans import queries as Q

    for name in Q.queries():
        print(f"{name}\toracle")
    return 0


def cmd_plan(args) -> int:
    """Print a registered query's physical plan (`explain formatted`) —
    the per-query view of the PLANS.md audit, for eyeballing pushdown,
    broadcasts, and partial aggregates before shipping a change."""
    from .plans import queries as Q

    qs = Q.queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; run 'queries' to list", file=sys.stderr)
        return 2
    from .session import get_spark

    spark = get_spark("slicedb-spark-plan")
    df = qs[args.name](spark, args.sf_dir)
    df.explain(mode=args.mode)
    return 0


def cmd_search(args) -> int:
    """BM25 lexical retrieval over a document corpus: top-k matches for
    the query string, JSON lines of (doc_id, score_fx, n_terms, snippet)."""
    from .operators.text import bm25_topk
    from .session import get_spark
    from .sources.corpus import read_corpus, split_corrupt

    spark = get_spark("slicedb-search")
    docs, _ = split_corrupt(read_corpus(spark, args.corpus, fmt=args.input_format))
    hits = bm25_topk(docs, args.query, k=args.k)
    snip = docs.selectExpr("doc_id", "substr(text, 1, 120) as snippet")
    out = hits.join(snip, "doc_id").orderBy(hits["score_fx"].desc(), "doc_id")
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_sql(args) -> int:
    """Run arbitrary Spark SQL over the catalog: every parquet table in
    the data dir registers as a temp view, the query executes through
    the full Catalyst pipeline (AQE on), and results stream to stdout as
    JSON lines or TSV.  ``-`` reads the query from stdin.  The 'run any
    query you run today' escape hatch — the registry covers the curated
    surface, this covers everything else ANSI SQL can say."""
    import os as _os

    from .session import get_spark

    query = args.query
    if query == "-":
        query = sys.stdin.read()
    spark = get_spark("slicedb-sql")
    for name in sorted(_os.listdir(args.data_dir)):
        if name.endswith(".parquet"):
            spark.read.parquet(_os.path.join(args.data_dir, name)).createOrReplaceTempView(
                name[: -len(".parquet")]
            )
    df = spark.sql(query)
    if args.explain:
        df.explain(mode="formatted")
        return 0
    rows = df.limit(args.limit).collect() if args.limit else df.collect()
    if args.format == "tsv":
        print("\t".join(df.columns))
        for r in rows:
            print("\t".join("" if v is None else str(v) for v in r))
    else:
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_transform_field(args) -> int:
    from .functions.transforms import build_registry

    with open(args.transform) as f:
        tcfg = json.load(f)
    reg, _ = build_registry(
        tcfg.get("transforms", {}), args.pepper, wordlist_dir=args.wordlist_dir, ffx_compat=args.ffx_compat
    )
    print(reg[args.name](args.field))
    return 0


def main(argv: list[str] | None = None) -> int:
    from . import __version__

    # fromfile_prefix_chars: the reference's @argsfile convention
    # (`slice_db/cli/main.py:57-59`)
    p = argparse.ArgumentParser(prog="slicedb-spark", fromfile_prefix_chars="@")
    p.add_argument(
        "-v", "--version", action="version", version=f"%(prog)s {__version__}"
    )
    p.add_argument(
        "--log-level",
        choices=["ERROR", "WARN", "INFO", "DEBUG"],
        default="WARN",
        help="Spark log level for the session (default: %(default)s)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("dump", help="capture a referentially-closed slice")
    d.add_argument("--schema", required=True, help="schema config JSON path")
    d.add_argument(
        "--url",
        help="dump from a live database (JDBC URL) with one exported "
        "snapshot pinning every reader, instead of a parquet catalog dir",
    )
    d.add_argument("--root", nargs=2, action="append", required=True, metavar=("TABLE", "COND"))
    d.add_argument("--transform", help="transform config JSON path")
    d.add_argument("--pepper", help="determinism pepper (random when omitted)")
    d.add_argument(
        "--wordlist-dir",
        help="load transform wordlists from a reference-layout directory "
        "(given-name.txt etc.) for golden compatibility",
    )
    d.add_argument("--ffx-compat", action="store_true",
                   help="pyffx-compatible cipher for alphanumeric unique mode (reference golden parity)")
    d.add_argument(
        "--format",
        choices=["parquet", "orc", "tsv", "zip"],
        default="parquet",
        help="zip = single reference-layout zip64 archive (output is a .zip path)",
    )
    d.add_argument(
        "--partition-by",
        action="append",
        metavar="TABLE=COL[,COL...]",
        help="hive-partition a table's parquet output by these columns "
        "(repeatable; directory-level pruning for partition predicates)",
    )
    d.add_argument(
        "--include-schema",
        action="store_true",
        help="store pre-data/post-data DDL sections in the slice "
        "(synthesized from config + Catalyst types, or real pg_dump "
        "output with --ddl-url)",
    )
    d.add_argument(
        "--ddl-url",
        help="live database URL (JDBC or libpq) to pg_dump the DDL "
        "sections from, instead of synthesizing them",
    )
    d.add_argument(
        "--output-type",
        choices=["slice", "sql"],
        default="slice",
        help="sql = one executable SQL script (COPY blocks + setval; "
        "the reference's --output-type sql)",
    )
    d.add_argument(
        "-j",
        "--jobs",
        type=int,
        default=1,
        help="stage/write slice tables concurrently (the reference's dump "
        "worker pool; concurrent Spark job submission overlaps "
        "small-table writes with big ones; no effect on --output-type "
        "sql, whose single ordered script is one writer)",
    )
    d.add_argument(
        "input", nargs="?", help="catalog dir of <table>.parquet files (omit with --url)"
    )
    d.add_argument("output", help="slice output dir")
    d.set_defaults(fn=cmd_dump)

    r = sub.add_parser("restore", help="materialize a slice in FK order")
    r.add_argument("--schema", required=True)
    r.add_argument("--format", choices=["parquet", "orc", "tsv", "zip"], default="parquet")
    r.add_argument("--dry-run", action="store_true",
                   help="print the dependency-ordered restore plan (tables, rows, "
                   "sequences) without writing anything")
    r.add_argument("--url", help="restore into a live database (JDBC URL) instead of parquet")
    r.add_argument(
        "--include-schema",
        action="store_true",
        help="with --url: replay the slice's pre-data DDL before rows and post-data after",
    )
    r.add_argument(
        "--defer-constraints",
        action="store_true",
        help="with --url: single transaction + SET CONSTRAINTS ALL DEFERRED (cyclic FKs)",
    )
    r.add_argument(
        "--transaction",
        action="store_true",
        help="with --url: load every table in ONE transaction (all rows "
        "commit or none; serial by definition — incompatible with --jobs, "
        "the reference's exact trade)",
    )
    r.add_argument(
        "--disable-triggers",
        action="store_true",
        help="with --url: suspend triggers + FK enforcement during the "
        "load (ALTER TABLE ... DISABLE TRIGGER ALL around parallel "
        "writes; replica replication role on the single-transaction "
        "path; needs a privileged role)",
    )
    r.add_argument(
        "--jobs",
        type=int,
        default=1,
        help="write dependency-independent tables concurrently (ignored with "
        "--defer-constraints, whose single transaction is inherently serial)",
    )
    r.add_argument("input", help="slice dir (or .zip archive with --format zip)")
    r.add_argument("output", nargs="?", help="target parquet dir (omit with --url)")
    r.set_defaults(fn=cmd_restore)

    t = sub.add_parser("transform", help="re-scrub an existing slice")
    t.add_argument("--schema", required=True)
    t.add_argument("--transform", required=True)
    t.add_argument("--pepper", help="determinism pepper (random when omitted)")
    t.add_argument("--wordlist-dir", help="reference-layout wordlist directory")
    t.add_argument("--ffx-compat", action="store_true",
                   help="pyffx-compatible cipher for alphanumeric unique mode (reference golden parity)")
    t.add_argument("--format", choices=["parquet", "orc", "tsv", "zip"], default="parquet")
    t.add_argument("-j", "--jobs", type=int, default=1,
                   help="write transformed tables concurrently")
    t.add_argument("input", help="slice dir (or .zip archive with --format zip)")
    t.add_argument("output", help="new slice dir (or .zip path)")
    t.set_defaults(fn=cmd_transform)

    cu = sub.add_parser("curate", help="quality-filter + dedup a document corpus")
    cu.add_argument("--input-format", choices=["jsonl", "csv", "parquet"], default="parquet")
    cu.add_argument("--output-format", choices=["jsonl", "csv", "parquet"], default="parquet")
    cu.add_argument("--quality-min", type=float, default=0.4)
    cu.add_argument("--jaccard-threshold", type=float, default=0.8)
    cu.add_argument("--max-df", type=int, default=1000)
    cu.add_argument(
        "--chunk-dedup",
        action="store_true",
        help="insert chunk-level (line-dedup analog) rewrite between the "
        "exact and fuzzy stages; fully-duplicated documents drop",
    )
    cu.add_argument("--chunk-tokens", type=int, default=20)
    cu.add_argument(
        "--span-dedup",
        action="store_true",
        help="exact-substring stage (Lee et al.): remove token spans "
        "duplicated anywhere in the corpus (both occurrences) before "
        "near-dup detection; only affected docs take the normalized rewrite",
    )
    cu.add_argument("--span-tokens", type=int, default=8)
    cu.add_argument(
        "--url-dedup",
        metavar="COLUMN",
        default=None,
        help="canonicalize the given URL column and drop exact "
        "canonical-URL duplicates before any text stage (crawl order)",
    )
    cu.add_argument("--shards", type=int, default=None)
    cu.add_argument("input", help="corpus path (documents shape)")
    cu.add_argument("output", help="curated corpus output path")
    cu.set_defaults(fn=cmd_curate)

    ing = sub.add_parser("ingest", help="drain a JSONL landing dir into a deduped corpus")
    ing.add_argument("--checkpoint", required=True)
    ing.add_argument("--quarantine", default=None)
    ing.add_argument(
        "--min-quality", type=float, default=None,
        help="drop documents below this composite quality score at ingest",
    )
    ing.add_argument(
        "--rejects", default=None,
        help="sink dir for quality-gated rows (per-epoch overwrite, replay-idempotent)",
    )
    ing.add_argument(
        "--lsh-index", default=None,
        help="band-partitioned MinHash index dir: probe each batch for "
        "near-dups of the standing corpus and extend the index with the "
        "survivors (continuous near-dedup)",
    )
    ing.add_argument("--lsh-threshold", type=float, default=0.5)
    ing.add_argument(
        "--url-dedup",
        metavar="COLUMN",
        default=None,
        help="canonicalize the given URL column and drop refetches of "
        "already-ingested canonical URLs before any text stage (the "
        "streaming analog of curate --url-dedup)",
    )
    ing.add_argument(
        "--compact-files",
        type=int,
        default=None,
        help="after the drain, compact the corpus (and LSH index) in "
        "place when it has grown past this many parquet files",
    )
    ing.add_argument(
        "--compact-every",
        type=int,
        default=None,
        help="run the --compact-files threshold check every N epochs "
        "IN-STREAM (between micro-batches, under the writer lease) — "
        "keeps a long-running ingest's file counts bounded without "
        "waiting for a drain",
    )
    ing.add_argument(
        "--span-index",
        default=None,
        help="span-gram hash index dir: rewrite each batch's documents "
        "removing token spans already in the corpus (continuous "
        "exact-substring dedup) and extend the index with the survivors",
    )
    ing.add_argument("--span-tokens", type=int, default=8)
    ing.add_argument(
        "--span-wide", action="store_true",
        help="build a NEW span index with the 120-bit (both md5 halves) "
             "gram key — the width for standing indexes expected to "
             "exceed ~1e9 grams; an existing index keeps its own width",
    )
    ing.add_argument(
        "--max-files-per-trigger",
        type=int,
        default=None,
        help="bound how many landing files form one micro-batch",
    )
    ing.add_argument("landing", help="landing directory of .jsonl files")
    ing.add_argument("corpus", help="parquet corpus directory (appended)")
    ing.set_defaults(fn=cmd_ingest)

    im = sub.add_parser(
        "ingest-media",
        help="streaming media ingestion: parquet image shards -> "
        "deduplicated media corpus with a persisted pHash index",
    )
    im.add_argument("--checkpoint", required=True)
    im.add_argument("--phash-index", default=None,
                    help="persisted signature index dir ((corpus_id, phash) "
                    "rows; video mode adds frame_idx/n_frames): turns on "
                    "continuous perceptual near-dedup")
    im.add_argument("--quarantine", default=None,
                    help="JSON sink for undecodable payloads")
    im.add_argument("--rejects", default=None,
                    help="JSON sink root for perceptual near-dup drops "
                    "(sibling <rejects>.neardup)")
    im.add_argument("--fingerprint",
                    choices=["phash", "phash-dihedral", "audio", "video",
                             "gif-video", "anim-video"],
                    default="phash",
                    help="signature modality: 63-bit image pHash (banding "
                    "63/7, threshold 6), its rotation-invariant dihedral "
                    "variant, 30-bit audio energy fingerprint "
                    "(30/6, threshold 4), per-frame video pHash (equal "
                    "frame counts, every aligned frame within threshold), "
                    "gif-video (animated GIFs composited per frame "
                    "through the same video contract), or anim-video "
                    "(cross-format: GIF and APNG dispatch by magic bytes "
                    "into one index, so re-encodes across containers "
                    "dedup at the door)")
    im.add_argument("--jvm-decode", action="store_true",
                    help="decode image batches through the JVM ImageIO "
                    "lane via an executor-side file spill (native-rate "
                    "for compressed formats; uncompressed BMP/PGM "
                    "auto-route to the Python lane where decode is a "
                    "numpy slice)")
    im.add_argument("--max-hamming", type=int, default=None)
    im.add_argument("--source", choices=["parquet", "files"],
                    default="parquet",
                    help="landing layout: MEDIA_SCHEMA parquet shards, or "
                    "a directory of raw media FILES drained through the "
                    "binaryFile streaming source (the fetcher layout)")
    im.add_argument("--file-ids", choices=["digits", "path-hash"],
                    default="digits",
                    help="file-source identity: first digit run of the "
                    "name (path-hash fallback for digit-less names) or "
                    "always the 60-bit path hash")
    im.add_argument("--min-side", type=int, default=None,
                    help="image curation gate: drop images whose shorter "
                    "side is below this (header-parsed dims, pre-decode; "
                    "rejects land in <rejects>.gate)")
    im.add_argument("--max-aspect", type=int, default=None,
                    help="image curation gate: drop images whose longer "
                    "side exceeds this multiple of the shorter")
    im.add_argument("--gif-matte", default=None,
                    help="gif-/anim-video lane flatten matte: 'white', "
                    "'black', "
                    "or 'r,g,b' — composite under the page color so the "
                    "index pairs disposal-2 originals against browser-"
                    "style flattens; default = the GIF spec's background "
                    "color; recorded in the index sidecar, a mismatched "
                    "re-ingest raises")
    im.add_argument("--windows-per-sec", type=int, default=None,
                    help="audio lane: TIME-based energy windows (window "
                    "length = rate/this from the WAV header) — resample-"
                    "robust fingerprints; recorded in the index sidecar, "
                    "a mismatched re-ingest raises")
    im.add_argument("landing", help="landing directory of parquet shards "
                    "with MEDIA_SCHEMA columns")
    im.add_argument("corpus", help="parquet media corpus directory (appended)")
    im.set_defaults(fn=cmd_ingest_media)

    pf = sub.add_parser(
        "phash-files",
        help="perceptual near-dup pairs over a directory of image FILES "
        "via the JVM-native ImageIO decode lane",
    )
    pf.add_argument("--ids", choices=["digits", "path-hash"],
                    default="digits",
                    help="identity: first digit run of the file name "
                    "(unique digit runs required) or a 60-bit hash of "
                    "the full path (collision-safe for arbitrary names)")
    pf.add_argument("--max-hamming", type=int, default=6)
    pf.add_argument("--dihedral", action="store_true",
                    help="orbit-min rotation-invariant hash: pairs "
                    "EXIF-stripped rotated refetches too")
    pf.add_argument("--limit", type=int, default=1000,
                    help="cap on pairs printed in the report")
    pf.add_argument("path", help="directory of image files (jpg/png/bmp/gif)")
    pf.set_defaults(fn=cmd_phash_files)

    cp = sub.add_parser("compact", help="rewrite an append-heavy parquet sink to size-targeted files")
    cp.add_argument("--target-bytes", type=int, default=128 << 20)
    cp.add_argument("--partition-by", default=None,
                    help="comma-separated partition columns (omit: auto-"
                    "detect and preserve hive layout; empty string: force "
                    "a flat rewrite)")
    cp.add_argument("--lsh-index", action="store_true",
                    help="treat the path as a band-partitioned LSH signature "
                    "index: also drop replay-duplicated rows")
    cp.add_argument("--ivf-index", action="store_true",
                    help="treat the path as a persisted IVF (or OPQ-IVFPQ) "
                    "index: compact its __cell-partitioned inverted lists, "
                    "dropping replay-duplicated rows (centroids.json / "
                    "meta.json untouched; probe results are bit-stable, "
                    "pinned)")
    cp.add_argument("--span-index", action="store_true",
                    help="treat the path as a span-gram index: drop "
                    "replay-duplicated (hash, owner) rows, keep the sidecar")
    cp.add_argument("--phash-index", action="store_true",
                    help="treat the path as a media signature index (image/"
                    "audio: (corpus_id, phash) rows; video adds frame_idx/"
                    "n_frames): drop replay-duplicated rows, keep the "
                    "mode/banding sidecar")
    cp.add_argument("path", help="parquet directory to compact in place")
    cp.set_defaults(fn=cmd_compact)

    ch = sub.add_parser("chunk", help="token-window chunk a corpus (RAG passages)")
    ch.add_argument("--input-format", choices=["jsonl", "csv", "parquet"], default="parquet")
    ch.add_argument("--window", type=int, default=32, help="tokens per chunk")
    ch.add_argument("--stride", type=int, default=24, help="token advance between chunks")
    ch.add_argument("--text", action="store_true", help="emit chunk text, not just its hash")
    ch.add_argument("--shards", type=int, default=None)
    ch.add_argument("input", help="corpus path (documents shape)")
    ch.add_argument("output", help="chunk-table parquet output path")
    ch.set_defaults(fn=cmd_chunk)

    fs = sub.add_parser("fsck", help="consistency check of a corpus and its standing indexes")
    fs.add_argument("--url-dedup", action="store_true",
                    help="assert the corpus carries the url-dedup column contract")
    fs.add_argument("--lsh-index", default=None)
    fs.add_argument("--span-index", default=None)
    fs.add_argument("--media-corpus", default=None,
                    help="media corpus dir: checks content_hash width "
                    "(legacy 60-bit is an error) and media_id uniqueness")
    fs.add_argument("--ivf-index", default=None)
    fs.add_argument("--sq8-index", default=None,
                    help="SQ8 index dir (meta.json vmin/span contract + "
                    "code arity/range check)")
    fs.add_argument("--ivfpq-index", default=None,
                    help="OPQ-IVFPQ index dir (meta.json rotation/codebook "
                    "contract + cell list code-range check)")
    fs.add_argument("--phash-index", default=None,
                    help="media signature index dir to check (any mode)")
    fs.add_argument("corpus", help="parquet corpus directory")
    fs.set_defaults(fn=cmd_fsck)

    bi = sub.add_parser(
        "build-index",
        help="train + persist an ANN index (IVF or OPQ-IVFPQ) from an "
        "embedding parquet",
    )
    bi.add_argument("--kind", choices=["ivf", "ivfpq", "sq8"], default="ivfpq")
    bi.add_argument("--cells", type=int, default=8,
                    help="coarse-quantizer cells (k-means)")
    bi.add_argument("--iters", type=int, default=2,
                    help="Lloyd refinement iterations")
    bi.add_argument("--m-subspaces", type=int, default=4,
                    help="PQ subspaces (ivfpq)")
    bi.add_argument("--codes", type=int, default=16,
                    help="PQ codes per subspace (ivfpq)")
    bi.add_argument("--opq-rounds", type=int, default=2,
                    help="OPQ rotation training rounds (ivfpq)")
    bi.add_argument("--append", action="store_true",
                    help="assign (and for ivfpq: PQ-encode) the corpus "
                    "with an EXISTING index's trained artifacts and "
                    "append to its cell lists (no retrain — the "
                    "production between-retrains shape)")
    bi.add_argument("--id-col", default="vec_id")
    bi.add_argument("--vec-col", default="embedding")
    bi.add_argument("corpus", help="embedding parquet (id + vector columns)")
    bi.add_argument("index", help="index output directory")
    bi.set_defaults(fn=cmd_build_index)

    pi = sub.add_parser(
        "probe-index",
        help="top-k search against a persisted ANN index (kind "
        "auto-detected from its sidecar)",
    )
    pi.add_argument("--k", type=int, default=5)
    pi.add_argument("--k-prime", type=int, default=10,
                    help="ADC shortlist handed to the exact re-rank (ivfpq)")
    pi.add_argument("--nprobe", type=int, default=2,
                    help="cells probed per query")
    pi.add_argument("--limit", type=int, default=1000,
                    help="cap on result rows printed")
    pi.add_argument("--output", default=None,
                    help="write the FULL result set as parquet here "
                    "instead of printing rows (production result sizes)")
    pi.add_argument("index", help="index directory from build-index")
    pi.add_argument("queries", help="query parquet (q_id or the index's "
                    "id column + vector column)")
    pi.set_defaults(fn=cmd_probe_index)

    tb = sub.add_parser("train-bpe", help="learn BPE merges from a corpus (tokenizer training)")
    tb.add_argument("--input-format", choices=["jsonl", "csv", "parquet"], default="parquet")
    tb.add_argument("--rounds", type=int, default=8)
    tb.add_argument("--batch-merges", type=int, default=1,
                    help="symbol-disjoint merges learned per driver round "
                    "(1 = exact serial; >1 cuts driver round-trips to "
                    "O(merges/K), the production-merge-count scale path)")
    tb.add_argument("input", help="corpus path (documents shape)")
    tb.add_argument("output", help="parquet output path for the merge table")
    tb.set_defaults(fn=cmd_train_bpe)

    an = sub.add_parser("analyze", help="corpus analytics report (JSON on stdout)")
    an.add_argument("--input-format", choices=["jsonl", "csv", "parquet"], default="parquet")
    an.add_argument(
        "--sections", default=None,
        help="comma list of datasheet,lengths,drift,dedup (default: all)",
    )
    an.add_argument("--jaccard-threshold", type=float, default=0.8)
    an.add_argument("--max-df", type=int, default=1000)
    an.add_argument("input", help="corpus path (documents shape)")
    an.set_defaults(fn=cmd_analyze)

    am = sub.add_parser(
        "analyze-media",
        help="media-corpus analytics report (JSON on stdout): format mix, "
        "header-dims quantiles, curation-gate pass rates, EXIF coverage",
    )
    am.add_argument("--min-side", type=int, default=32)
    am.add_argument("--max-aspect", type=int, default=3)
    am.add_argument("corpus", help="parquet media corpus (MEDIA_SCHEMA columns)")
    am.set_defaults(fn=cmd_analyze_media)

    sf = sub.add_parser("schema-filter", help="children-closure reverse pruning")
    sf.add_argument("--schema", required=True)
    sf.add_argument("tables", nargs="+")
    sf.set_defaults(fn=cmd_schema_filter)

    sc = sub.add_parser("schema", help="introspect a live database into a schema config")
    sc.add_argument("--url", required=True, help="JDBC URL (jdbc:postgresql://...)")
    sc.set_defaults(fn=cmd_schema)

    vs = sub.add_parser("verify-slice", help="integrity-check a slice against its manifest")
    vs.add_argument("--format", choices=["parquet", "orc", "tsv", "zip"], default="parquet")
    vs.add_argument("input", help="slice dir (or .zip with --format zip)")
    vs.set_defaults(fn=cmd_verify_slice)

    ds = sub.add_parser("diff-slice", help="key-level diff of two slices")
    ds.add_argument("--schema", required=True)
    ds.add_argument("--format", choices=["parquet", "orc", "tsv"], default="parquet")
    ds.add_argument("a")
    ds.add_argument("b")
    ds.set_defaults(fn=cmd_diff_slice)

    si = sub.add_parser("schema-infer", help="schema config skeleton from parquet dir")
    si.add_argument("input")
    si.set_defaults(fn=cmd_schema_infer)

    qs = sub.add_parser("queries", help="list registered analytic queries")
    qs.set_defaults(fn=cmd_queries)

    pl = sub.add_parser("plan", help="print a registered query's physical plan")
    pl.add_argument("name")
    pl.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pl.add_argument("--mode", default="formatted",
                    choices=["simple", "extended", "formatted", "cost", "codegen"])
    pl.set_defaults(fn=cmd_plan)

    se = sub.add_parser("search", help="BM25 lexical retrieval over a corpus")
    se.add_argument("--input-format", choices=["jsonl", "csv", "parquet"], default="parquet")
    se.add_argument("-k", type=int, default=10, help="number of hits")
    se.add_argument("corpus", help="corpus path (documents shape)")
    se.add_argument("query", help="query string (whitespace terms)")
    se.set_defaults(fn=cmd_search)

    sq = sub.add_parser("sql", help="run arbitrary SQL over a parquet data dir")
    sq.add_argument("--data-dir", default="/root/testdata/sf0.01",
                    help="directory of <table>.parquet files to register as views")
    sq.add_argument("--format", choices=["jsonl", "tsv"], default="jsonl")
    sq.add_argument("--limit", type=int, default=None, help="cap returned rows")
    sq.add_argument("--explain", action="store_true",
                    help="print the physical plan instead of executing")
    sq.add_argument("query", help="SQL text, or '-' to read from stdin")
    sq.set_defaults(fn=cmd_sql)

    tf = sub.add_parser("transform-field", help="transform one value")
    tf.add_argument("--transform", required=True)
    tf.add_argument("--pepper", required=True)
    tf.add_argument("--wordlist-dir", help="reference-layout wordlist directory")
    tf.add_argument("--ffx-compat", action="store_true",
                   help="pyffx-compatible cipher for alphanumeric unique mode (reference golden parity)")
    tf.add_argument("name", help="named transform")
    tf.add_argument("field", help="value to transform")
    tf.set_defaults(fn=cmd_transform_field)

    args = p.parse_args(argv)
    # applied by get_spark when the command creates its session
    os.environ["SPARK_GRAFT_LOG_LEVEL"] = args.log_level
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
