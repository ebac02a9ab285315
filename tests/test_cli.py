"""CLI end-to-end: dump (with scrub) → restore on parquet dirs, plus the
metadata commands — the reference's test style (`test/test_dump.py`,
`test/test_dump_transform.py`) on the star-schema fixtures."""

from __future__ import annotations

import io
import json
import os
from contextlib import redirect_stdout

import pytest

from slice_db_spark import cli
from slice_db_spark.plans.tpch import tpch_schema

from conftest import SF_DIR


@pytest.fixture(scope="module")
def schema_json(tmp_path_factory):
    p = tmp_path_factory.mktemp("cfg") / "schema.json"
    p.write_text(tpch_schema().dumps())
    return str(p)


@pytest.fixture(scope="module")
def transform_json(tmp_path_factory):
    p = tmp_path_factory.mktemp("cfg") / "transform.json"
    p.write_text(json.dumps({
        "tables": {"customer": {"columns": {"c_name": "gname", "c_acctbal": "wipe"}}},
        "transforms": {
            "gname": {"class": "GivenNameTransform"},
            "wipe": {"class": "NullTransform"},
            "anon": {"class": "AlphanumericTransform"},
        },
    }))
    return str(p)


def run_cli(*argv, expect_rc: int = 0) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(list(argv))
    assert rc == expect_rc
    return buf.getvalue()


def test_dump_restore_roundtrip(spark, schema_json, transform_json, tmp_path):
    slice_dir = str(tmp_path / "slice")
    out = run_cli(
        "dump", "--schema", schema_json, "--root", "customer", "c_custkey = 1",
        "--transform", transform_json, "--pepper", "abc",
        SF_DIR, slice_dir,
    )
    stats = json.loads(out.strip().splitlines()[-1])
    assert stats["rows"]["customer"] == 1 and stats["rows"]["orders"] >= 1
    assert os.path.exists(os.path.join(slice_dir, "manifest.json"))

    # scrubbed: c_name is a wordlist name, acctbal NULL
    cust = spark.read.parquet(os.path.join(slice_dir, "customer")).collect()
    assert cust[0].c_acctbal is None
    assert not cust[0].c_name.startswith("Customer#")

    target = str(tmp_path / "restored")
    out = run_cli("restore", "--schema", schema_json, slice_dir, target)
    order = json.loads(out.strip().splitlines()[-1])["order"]
    assert order.index("region") < order.index("nation") < order.index("customer")
    assert spark.read.parquet(os.path.join(target, "customer")).count() == 1


def test_schema_filter_cli(schema_json):
    out = run_cli("schema-filter", "--schema", schema_json, "customer")
    cfg = json.loads(out)
    assert "reverse" in cfg["references"]["orders_customer_fkey"]["directions"]


def test_schema_infer_cli():
    out = run_cli("schema-infer", SF_DIR)
    cfg = json.loads(out)
    assert "lineitem" in cfg["tables"]
    assert cfg["tables"]["lineitem"]["columns"][0] == "l_orderkey"


def test_transform_field_cli(transform_json):
    out1 = run_cli("transform-field", "--transform", transform_json, "--pepper", "abc",
                   "anon", "Sample 42")
    out2 = run_cli("transform-field", "--transform", transform_json, "--pepper", "abc",
                   "anon", "Sample 42")
    assert out1 == out2 and out1.strip() != "Sample 42"


def test_transform_existing_slice(spark, schema_json, transform_json, tmp_path):
    """`slicedb transform` implemented for real (the reference ships a
    no-op stub, `slice_db/cli/transform.py:1-2`): dump unscrubbed, then
    re-scrub the slice; rows/manifest carry over, configured columns
    change."""
    raw = str(tmp_path / "raw")
    run_cli("dump", "--schema", schema_json, "--root", "customer", "c_custkey = 1",
            SF_DIR, raw)
    scrubbed = str(tmp_path / "scrubbed")
    run_cli("transform", "--schema", schema_json, "--transform", transform_json,
            "--pepper", "abc", raw, scrubbed)
    before = spark.read.parquet(os.path.join(raw, "customer")).collect()[0]
    after = spark.read.parquet(os.path.join(scrubbed, "customer")).collect()[0]
    assert before.c_custkey == after.c_custkey
    assert before.c_name.startswith("Customer#")
    assert not after.c_name.startswith("Customer#")
    assert after.c_acctbal is None
    # untransformed tables identical
    assert (spark.read.parquet(os.path.join(scrubbed, "orders")).count()
            == spark.read.parquet(os.path.join(raw, "orders")).count())


def test_dump_include_schema_cli(spark, schema_json, tmp_path):
    """--include-schema stores replayable DDL sections in the slice."""
    out = str(tmp_path / "slice_schema")
    stats = json.loads(run_cli(
        "dump", "--schema", schema_json, "--include-schema",
        "--root", "customer", "c_custkey = 1", SF_DIR, out,
    ).strip().splitlines()[-1])
    assert stats["preData"] > 0 and stats["postData"] > 0
    assert os.path.exists(os.path.join(out, "pre-data", "1.sql"))
    manifest = json.load(open(os.path.join(out, "manifest.json")))
    assert manifest["preData"]["count"] == stats["preData"]
    first = open(os.path.join(out, "pre-data", "1.sql")).read()
    assert first.startswith("CREATE ")


def test_dump_restore_zip_cli(spark, schema_json, tmp_path):
    """--format zip: dump to one reference-layout archive, restore from it."""
    import zipfile

    zp = str(tmp_path / "slice.zip")
    out = run_cli(
        "dump", "--schema", schema_json, "--root", "customer", "c_custkey = 1",
        "--format", "zip", SF_DIR, zp,
    )
    rows = json.loads(out)["rows"]
    assert rows["customer"] == 1 and rows["orders"] > 0
    with zipfile.ZipFile(zp) as zf:
        assert "manifest.json" in zf.namelist()

    target = str(tmp_path / "db")
    out = run_cli("restore", "--schema", schema_json, "--format", "zip", zp, target)
    order = json.loads(out)["order"]
    assert order.index("customer") < order.index("orders")
    got = spark.read.parquet(os.path.join(target, "orders")).count()
    assert got == rows["orders"]


def test_schema_cli_emits_config_json(monkeypatch):
    """`schema --url`: introspects and prints a round-trippable schema
    config (introspection itself is unit-tested in test_pg_schema; live in
    test_pg_live)."""
    from slice_db_spark.config.model import SchemaConfig
    from slice_db_spark.sources import pg_schema

    cfg = SchemaConfig.from_dict({
        "tables": {
            "public.parent": {"name": "parent", "schema": "public",
                              "columns": ["id"], "idColumns": ["id"]},
            "public.child": {"name": "child", "schema": "public",
                             "columns": ["id", "parent_id"], "idColumns": ["id"]},
        },
        "references": {
            "child_parent_fk": {
                "table": "public.child", "columns": ["parent_id"],
                "referenceTable": "public.parent", "referenceColumns": ["id"],
            }
        },
    })
    seen = {}

    def fake_introspect(spark, url, properties=None):
        seen["url"] = url
        return cfg

    monkeypatch.setattr(pg_schema, "introspect", fake_introspect)
    out = run_cli("schema", "--url", "jdbc:postgresql://h/db")
    assert seen["url"] == "jdbc:postgresql://h/db"
    back = SchemaConfig.loads(out)
    back.validate()
    assert back.tables["public.child"].columns == ["id", "parent_id"]
    assert back.references["child_parent_fk"].reference_table == "public.parent"


def test_transform_zip_slice(spark, schema_json, transform_json, tmp_path):
    """Full migration story: dump a .zip slice, re-scrub it into a new
    .zip with the transform command (the reference ships this as a no-op
    stub), reopen and check the scrub applied."""
    from slice_db_spark.sources import read_slice_zip

    zp = str(tmp_path / "a.zip")
    run_cli(
        "dump", "--schema", schema_json, "--root", "customer", "c_custkey = 1",
        "--include-schema", "--format", "zip", SF_DIR, zp,
    )
    zp2 = str(tmp_path / "b.zip")
    out = run_cli(
        "transform", "--schema", schema_json, "--transform", transform_json,
        "--pepper", "abc", "--format", "zip", zp, zp2,
    )
    assert "customer" in json.loads(out)["tables"]

    orig, m1 = read_slice_zip(spark, zp, workdir=str(tmp_path / "ua"))
    scrubbed, m2 = read_slice_zip(spark, zp2, workdir=str(tmp_path / "ub"))
    assert m2.pre_data == m1.pre_data and m1.pre_data > 0  # sections carried
    o = {r["c_custkey"]: r for r in orig["customer"].collect()}
    s = {r["c_custkey"]: r for r in scrubbed["customer"].collect()}
    assert set(o) == set(s)
    for k in o:
        assert s[k]["c_name"] != o[k]["c_name"]      # gname scrub applied
        assert s[k]["c_acctbal"] == "\\N" or s[k]["c_acctbal"] is None  # wiped


def test_dump_output_type_sql(spark, schema_json, tmp_path):
    """dump --output-type sql: one executable script (the reference's SQL
    output mode), schema sections included when requested."""
    from slice_db_spark.sources.ddl import split_statements

    script = str(tmp_path / "out.sql")
    out = run_cli(
        "dump", "--schema", schema_json, "--root", "customer", "c_custkey = 1",
        "--include-schema", "--output-type", "sql", SF_DIR, script,
    )
    order = json.loads(out)["order"]
    assert order.index("customer") < order.index("orders")
    text = open(script).read()
    assert 'COPY "customer"' in text or 'COPY "public"."customer"' in text
    assert "CREATE TABLE" in text
    assert text.index("CREATE TABLE") < text.index("COPY ")


def test_dump_url_arg_parsing(monkeypatch, tmp_path):
    """`dump --url <jdbc> <output>`: the single positional must land on
    output (catalog dir omitted); the snapshot-pinned live catalog is
    requested and closed."""
    from slice_db_spark.plans.tpch import tpch_schema
    from slice_db_spark.sources import pg_schema

    schema_file = tmp_path / "s.json"
    schema_file.write_text(tpch_schema().dumps())
    seen = {}

    class FakeSnap:
        snapshot_id = "00000003-00000002-1"

        def close(self):
            seen["closed"] = True

    def fake_export(spark, url):
        seen["url"] = url
        return FakeSnap()

    def fake_catalog(spark, url, schema, snapshot_id=None, **kw):
        seen["snapshot_id"] = snapshot_id
        raise RuntimeError("stop-after-catalog")

    monkeypatch.setattr(pg_schema, "export_snapshot", fake_export)
    monkeypatch.setattr(pg_schema, "jdbc_snapshot_catalog", fake_catalog)
    import pytest as _pytest

    from slice_db_spark import cli

    with _pytest.raises(RuntimeError, match="stop-after-catalog"):
        cli.main([
            "dump", "--schema", str(schema_file), "--root", "customer", "c_custkey = 1",
            "--url", "jdbc:postgresql://h/db", str(tmp_path / "out"),
        ])
    assert seen["url"] == "jdbc:postgresql://h/db"
    assert seen["snapshot_id"] == "00000003-00000002-1"
    assert seen.get("closed") is True


def test_curate_cli(spark, tmp_path):
    """Curate the fixture documents corpus end-to-end; the report's stage
    counts must be monotone non-increasing and the output re-readable."""
    out = str(tmp_path / "curated")
    report = json.loads(
        run_cli(
            "curate",
            "--input-format", "parquet",
            "--quality-min", "0.4",
            os.path.join(SF_DIR, "documents.parquet"),
            out,
        )
    )
    assert report["corrupt_rows"] == 0
    assert (
        report["input_rows"]
        >= report["after_quality"]
        >= report["after_exact_dedup"]
        >= report["after_near_dedup"]
        > 0
    )
    back = spark.read.parquet(out)
    assert back.count() == report["after_near_dedup"]
    assert set(back.columns) >= {"doc_id", "text"}


def test_chunk_cli(spark, tmp_path):
    """Chunk the fixture corpus; the chunk table must cover every
    non-empty doc, respect the window bound, and carry text only when
    asked."""
    out = str(tmp_path / "chunks")
    report = json.loads(
        run_cli(
            "chunk",
            "--window", "16",
            "--stride", "12",
            "--text",
            os.path.join(SF_DIR, "documents.parquet"),
            out,
        )
    )
    assert report["chunks"] >= report["docs"] > 0
    back = spark.read.parquet(out)
    assert back.count() == report["chunks"]
    assert set(back.columns) == {"doc_id", "chunk_idx", "n_tokens", "chunk_hash", "chunk_text"}
    mx = back.agg({"n_tokens": "max"}).first()[0]
    assert 0 < mx <= 16


def test_ingest_cli(spark, tmp_path):
    land = tmp_path / "land"
    land.mkdir()
    with open(land / "a.jsonl", "w") as f:
        f.write('{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s", "n_chars": 11}\n')
        f.write('{"doc_id": 2, "text": "hello world", "lang": "en", "source": "s", "n_chars": 11}\n')
    corpus = str(tmp_path / "corpus")
    report = json.loads(
        run_cli("ingest", "--checkpoint", str(tmp_path / "ckpt"), str(land), corpus)
    )
    assert report["corpus_rows"] == 1  # exact dup suppressed on arrival


def test_python_dash_m_entry_point():
    """Packaging parity with the reference's console script
    (`/root/reference/setup.py:23-27`): `python -m slice_db_spark`
    reaches the CLI (pyproject.toml installs the same `main` as
    `slicedb-spark`)."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "slice_db_spark", "--version"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr
    assert "slicedb-spark 0.1.0" in out.stdout


def test_restore_cli_transaction_jobs_clean_error(capsys, tmp_path):
    """`restore --url --transaction --jobs 2` must exit 2 with a stderr
    message (the reference's user-facing report), not a raw traceback."""
    from slice_db_spark import cli

    schema = tmp_path / "schema.json"
    schema.write_text('{"tables": {}, "references": {}, "sequences": {}}')
    rc = cli.main([
        "restore", "--schema", str(schema),
        "--url", "jdbc:postgresql://nowhere/db",
        "--transaction", "--jobs", "2", str(tmp_path),
    ])
    assert rc == 2
    err = capsys.readouterr().err
    assert "single transaction" in err and "Traceback" not in err


def test_transaction_excludes_jobs():
    """The reference's exact rule (`slice_db/restore.py:44-45`): a single
    transaction cannot parallelize — rejected before any connection."""
    import pytest

    from slice_db_spark.config.model import SchemaConfig
    from slice_db_spark.plans.restore import restore_to_jdbc_with_schema

    with pytest.raises(ValueError, match="single transaction"):
        restore_to_jdbc_with_schema(
            {}, SchemaConfig(tables={}, references={}, sequences={}),
            "jdbc:postgresql://nowhere/db", transaction=True, jobs=2,
        )


def test_restore_cli_has_reference_parity_flags():
    """`restore --transaction/--disable-triggers` parse (reference
    `slice_db/cli/main.py:152-193`)."""
    import argparse

    from slice_db_spark.cli import main

    # parse-only: intercept before execution by asking for --help on the
    # subcommand and checking the flags are present
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    try:
        with redirect_stdout(buf):
            main(["restore", "--help"])
    except SystemExit:
        pass
    text = buf.getvalue()
    assert "--transaction" in text and "--disable-triggers" in text


def test_dump_zip_to_stdout_restore_from_stdin(spark, schema_json, tmp_path, monkeypatch):
    """reference I/O convention: dump -o '-' streams the zip archive to
    stdout (report on stderr); restore -i '-' reads it from stdin —
    `slicedb dump | slicedb restore` works as a pipe."""
    import io as _io
    import sys as _sys
    import zipfile

    class _StdoutWithBuffer:
        def __init__(self):
            self.buffer = _io.BytesIO()
            self._text = _io.StringIO()

        def write(self, s):
            return self._text.write(s)

        def flush(self):
            pass

    fake_out = _StdoutWithBuffer()
    monkeypatch.setattr(_sys, "stdout", fake_out)
    rc = cli.main([
        "dump", "--schema", schema_json, "--root", "customer", "c_custkey = 1",
        "--format", "zip", SF_DIR, "-",
    ])
    assert rc == 0
    blob = fake_out.buffer.getvalue()
    monkeypatch.undo()
    assert blob and zipfile.ZipFile(_io.BytesIO(blob)).namelist()
    # no JSON report mixed into the archive bytes
    assert not fake_out._text.getvalue().strip()

    class _StdinWithBuffer:
        def __init__(self, data):
            self.buffer = _io.BytesIO(data)

    monkeypatch.setattr(_sys, "stdin", _StdinWithBuffer(blob))
    target = str(tmp_path / "db")
    out = run_cli("restore", "--schema", schema_json, "--format", "zip", "-", target)
    assert json.loads(out)["order"]
    assert spark.read.parquet(os.path.join(target, "customer")).count() == 1



def test_curate_cli_chunk_dedup_stage(spark, tmp_path):
    """--chunk-dedup inserts the line-level rewrite: stage count appears
    in the report and the output text has duplicate chunks removed."""
    out = str(tmp_path / "curated_chunks")
    report = json.loads(
        run_cli(
            "curate",
            "--input-format", "parquet",
            "--quality-min", "0.0",
            "--chunk-dedup",
            os.path.join(SF_DIR, "documents.parquet"),
            out,
        )
    )
    assert "after_chunk_dedup" in report
    assert report["after_exact_dedup"] >= report["after_chunk_dedup"] > 0
    back = spark.read.parquet(out)
    assert back.where("text = ''").count() == 0


def test_verify_slice_clean_and_tampered(spark, schema_json, tmp_path):
    """verify-slice: clean slice passes; a truncated part file or a
    deleted sequence file is diagnosed with exit 1."""
    import glob
    import shutil

    slice_dir = str(tmp_path / "vslice")
    run_cli("dump", "--schema", schema_json, "--root", "customer", "c_custkey = 1",
            SF_DIR, slice_dir)
    out = json.loads(run_cli("verify-slice", slice_dir))
    assert out["ok"] and out["problems"] == []

    # tamper: drop one parquet part from a table
    tampered = str(tmp_path / "vslice_bad")
    shutil.copytree(slice_dir, tampered)
    part = glob.glob(os.path.join(tampered, "orders", "part-*.parquet"))[0]
    os.unlink(part)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(["verify-slice", tampered])
    assert rc == 1
    diag = json.loads(buf.getvalue())
    assert not diag["ok"]
    assert any(p.get("table") == "orders" for p in diag["problems"])


def test_diff_slice_identical_and_grown(spark, schema_json, tmp_path):
    """diff-slice: identical slices → exit 0; a wider root predicate →
    positive only_b counts and exit 1."""
    a = str(tmp_path / "slice_a")
    run_cli("dump", "--schema", schema_json, "--root", "customer", "c_custkey = 1",
            SF_DIR, a)
    out = json.loads(run_cli("diff-slice", "--schema", schema_json, a, a))
    assert out["identical"]
    assert all(v["only_a"] == 0 and v["only_b"] == 0 for v in out["tables"].values())

    b = str(tmp_path / "slice_b")
    run_cli("dump", "--schema", schema_json, "--root", "customer", "c_custkey <= 2",
            SF_DIR, b)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(["diff-slice", "--schema", schema_json, a, b])
    assert rc == 1
    diff = json.loads(buf.getvalue())
    assert not diff["identical"]
    cust = diff["tables"]["customer"]
    assert cust["only_b"] == 2 and cust["only_a"] == 0 and cust["common"] == 1


def test_verify_slice_zip_format(spark, schema_json, tmp_path):
    """verify-slice --format zip: a dump-produced archive verifies clean
    (TSV line counts against the manifest inside the zip)."""
    zp = str(tmp_path / "v.zip")
    run_cli("dump", "--schema", schema_json, "--root", "customer", "c_custkey = 1",
            "--format", "zip", SF_DIR, zp)
    out = json.loads(run_cli("verify-slice", "--format", "zip", zp))
    assert out["ok"] and out["problems"] == []


def test_transform_field_ffx_compat_matches_reference_goldens(tmp_path):
    """`transform-field --ffx-compat` reproduces the reference CLI's
    pinned outputs for BOTH AlphanumericTransform modes
    (`test/test_transform_field.py::test_transform_field_alphanumeric`
    and `::test_transform_field_alphanumeric_unique`)."""
    p = tmp_path / "t.json"
    p.write_text(json.dumps({"transforms": {
        "": {"class": "AlphanumericTransform"},
        "uniq": {"class": "AlphanumericTransform", "config": {"unique": True}},
    }}))
    out = run_cli("transform-field", "--transform", str(p), "--pepper", "abc",
                  "--ffx-compat", "", "123 Main St $9.99")
    assert out == "850 Xxqy Wh $0.97\n"
    # unique golden uses transform name "" in the reference; instance pepper
    # is pepper+name, so bind a second spec under "" semantics via name ""
    p2 = tmp_path / "t2.json"
    p2.write_text(json.dumps({"transforms": {
        "": {"class": "AlphanumericTransform", "config": {"unique": True}},
    }}))
    out = run_cli("transform-field", "--transform", str(p2), "--pepper", "abc",
                  "--ffx-compat", "", "abc")
    assert out == "grk\n"


def test_dump_restore_orc_format(spark, schema_json, tmp_path):
    """--format orc end-to-end: dump writes ORC slice parts, restore reads
    them back and materializes the same rows."""
    slice_dir = str(tmp_path / "slice_orc")
    out = run_cli(
        "dump", "--schema", schema_json, "--root", "customer", "c_custkey = 1",
        "--format", "orc", SF_DIR, slice_dir,
    )
    stats = json.loads(out.strip().splitlines()[-1])
    assert stats["rows"]["customer"] == 1
    import glob
    assert glob.glob(os.path.join(slice_dir, "customer", "part-*.orc"))

    target = str(tmp_path / "restored_orc")
    run_cli("restore", "--schema", schema_json, "--format", "orc", slice_dir, target)
    assert spark.read.parquet(os.path.join(target, "customer")).count() == 1


def test_queries_and_plan_cli(spark, capsys):
    out = run_cli("queries")
    lines = dict(l.split("\t") for l in out.strip().splitlines())
    # scrub_pseudonym gained its structural oracle in r5 — nothing is
    # rows-only anymore
    assert lines["root_scan"] == "oracle" and lines["scrub_pseudonym"] == "oracle"
    assert "rows-only" not in lines.values()
    assert len(lines) >= 90
    # plan: formatted explain of a registered query reaches stdout
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(["plan", "root_scan", "--sf-dir", SF_DIR])
    assert rc == 0
    assert "Physical Plan" in buf.getvalue() and "PushedFilters" in buf.getvalue()
    # unknown name: clean exit 2
    assert cli.main(["plan", "nope"]) == 2


def test_analyze_cli(spark, tmp_path):
    """Analyze the fixture corpus: every requested section lands in the
    JSON report with sane shapes; unknown sections are a clean error."""
    report = json.loads(
        run_cli(
            "analyze",
            "--input-format", "parquet",
            "--sections", "datasheet,dedup,drift",
            os.path.join(SF_DIR, "documents.parquet"),
        )
    )
    assert report["rows"] == 500 and report["corrupt_rows"] == 0
    assert len(report["datasheet"]) > 0
    assert {"exact_winners", "exact_dup_docs", "near_dup_pairs"} <= set(report["dedup"])
    assert report["dedup"]["exact_winners"] + report["dedup"]["exact_dup_docs"] == 500
    srcs = {r["source"] for r in report["source_drift"]}
    assert len(srcs) == 20 and all(r["chi2_ppm"] >= 0 for r in report["source_drift"])


def test_analyze_cli_rejects_unknown_section(tmp_path):
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "slice_db_spark", "analyze",
         "--sections", "nope", os.path.join(SF_DIR, "documents.parquet")],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 2
    assert "unknown --sections" in out.stderr


def test_ingest_cli_min_quality(spark, tmp_path):
    land = tmp_path / "land"
    land.mkdir()
    good_text = ("a perfectly normal readable document with many plain english "
                 "words that the quality heuristics all like " * 3)
    with open(land / "a.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": good_text, "lang": "en",
                            "source": "s", "n_chars": len(good_text)}) + "\n")
        f.write('{"doc_id": 2, "text": "zzzz zzzz zzzz", "lang": "en", "source": "s", "n_chars": 14}\n')
    corpus = str(tmp_path / "corpus")
    rejects = str(tmp_path / "rejects")
    report = json.loads(
        run_cli("ingest", "--checkpoint", str(tmp_path / "ckpt"),
                "--min-quality", "0.45", "--rejects", rejects, str(land), corpus)
    )
    assert report["corpus_rows"] == 1
    assert report["quality_rejected"] == 1  # per-sink counter in the report
    assert spark.read.json(rejects).count() == 1


def test_sql_cli_runs_adhoc_query(tmp_path):
    """Ad-hoc SQL over registered catalog views: aggregate + join execute
    through Catalyst and stream out as JSON lines; --explain prints a
    plan instead."""
    out = run_cli(
        "sql",
        "--data-dir", SF_DIR,
        "--format", "jsonl",
        "SELECT n_name, count(*) AS n FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name",
    )
    rows = [json.loads(line) for line in out.strip().splitlines()]
    assert len(rows) == 25 and all(r["n"] > 0 for r in rows)
    plan = run_cli("sql", "--data-dir", SF_DIR, "--explain",
                   "SELECT count(*) FROM orders WHERE o_totalprice > 400000")
    assert "Physical Plan" in plan and "PushedFilters" in plan


def test_search_cli_bm25_hits(tmp_path):
    """BM25 search over the fixture corpus: hits come back scored
    descending with snippets, and every hit contains a query term."""
    out = run_cli(
        "search", "--input-format", "parquet", "-k", "5",
        os.path.join(SF_DIR, "documents.parquet"), "vector merge",
    )
    rows = [json.loads(line) for line in out.strip().splitlines()]
    assert 0 < len(rows) <= 5
    scores = [r["score_fx"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all("snippet" in r and r["n_terms"] >= 1 for r in rows)


def test_restore_dry_run_plan_only(spark, schema_json, tmp_path):
    """--dry-run prints the dependency-ordered plan (tables, rows,
    sequences) and writes NOTHING."""
    slice_dir = str(tmp_path / "s")
    run_cli(
        "dump", "--schema", schema_json,
        "--root", "customer", "c_custkey <= 2",
        SF_DIR, slice_dir,
    )
    out_dir = str(tmp_path / "restored")
    rep = json.loads(run_cli(
        "restore", "--schema", schema_json, "--dry-run", slice_dir, out_dir,
    ))
    assert rep["dryRun"] is True
    assert rep["order"].index("customer") < rep["order"].index("orders")
    assert rep["rows"]["customer"] > 0
    assert not os.path.exists(out_dir)


def test_curate_cli_url_dedup_stage(spark, tmp_path):
    """--url-dedup collapses canonical-URL refetches (tracking params,
    case, default ports, fragments) before any text stage; min doc_id
    wins and the output schema matches the input."""
    src = tmp_path / "crawl"
    rows = [
        # three fetches of the SAME page (different raw URLs), distinct text
        {"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta", "lang": "en",
         "source": "web", "n_chars": 35,
         "url": "http://News.Example.com/story/42?utm_source=tw"},
        {"doc_id": 2, "text": "completely different second document text", "lang": "en",
         "source": "web", "n_chars": 42,
         "url": "HTTP://news.example.COM:80/story/42#top"},
        {"doc_id": 3, "text": "a third unrelated document body here", "lang": "en",
         "source": "web", "n_chars": 37,
         "url": "http://news.example.com/story/42?fbclid=x"},
        # a different page survives alongside
        {"doc_id": 4, "text": "the quick brown fox jumps over the lazy dog", "lang": "en",
         "source": "web", "n_chars": 44,
         "url": "http://news.example.com/story/43"},
        # no url field at all: no fetch identity, passes through untouched
        {"doc_id": 5, "text": "document without any url metadata attached", "lang": "en",
         "source": "web", "n_chars": 43},
    ]
    src.mkdir()
    (src / "part.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    out = str(tmp_path / "curated_url")
    report = json.loads(
        run_cli(
            "curate",
            "--input-format", "jsonl",
            "--url-dedup", "url",
            "--quality-min", "0.0",
            str(src),
            out,
        )
    )
    assert report["after_url_dedup"] == 3
    back = spark.read.parquet(out)
    kept = {r.doc_id for r in back.select("doc_id").collect()}
    assert kept == {1, 4, 5}  # min doc_id per canonical URL; null-url passes through
    assert "url" in back.columns and "canon_url" not in back.columns


def test_curate_cli_url_dedup_malformed_urls_pass_through(spark, tmp_path):
    """Junk URLs canonicalize to NULL and must NOT collapse into one
    group: every distinct junk-URL document survives (review-finding
    pin — grouping NULL canon_url would keep 1 of N)."""
    src = tmp_path / "crawl2"
    src.mkdir()
    rows = [
        {"doc_id": 1, "text": "first document with a junk url field", "lang": "en",
         "source": "web", "n_chars": 37, "url": "not a url"},
        {"doc_id": 2, "text": "second document with another junk url", "lang": "en",
         "source": "web", "n_chars": 38, "url": "also::not::a::url"},
        {"doc_id": 3, "text": "a document with a real address here", "lang": "en",
         "source": "web", "n_chars": 36, "url": "http://ok.example.com/p"},
    ]
    (src / "part.jsonl").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    out = str(tmp_path / "curated_junk")
    report = json.loads(
        run_cli(
            "curate", "--input-format", "jsonl", "--url-dedup", "url",
            "--quality-min", "0.0", str(src), out,
        )
    )
    assert report["after_url_dedup"] == 3
    kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert kept == {1, 2, 3}


def test_compact_cli(spark, tmp_path):
    sink = str(tmp_path / "sprawl")
    for i in range(5):
        spark.range(i * 10, (i + 1) * 10).repartition(3).write.mode("append").parquet(sink)
    report = json.loads(run_cli("compact", "--target-bytes", str(1 << 30), sink))
    assert report["files_after"] < report["files_before"]
    assert sorted(r.id for r in spark.read.parquet(sink).collect()) == list(range(50))


def test_cli_train_bpe(capsys, tmp_path, spark):
    """`train-bpe` learns merges from a corpus, writes the merge table as
    parquet, and prints a JSON summary with the segment-length
    distribution (the Sennrich example's first merges pin the output)."""
    import json as _json

    from slice_db_spark import cli

    text = " ".join(["low"] * 5 + ["newest"] * 6)
    src = tmp_path / "docs"
    spark.createDataFrame(
        [(1, text, "en", "a", len(text))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(str(src))
    out = tmp_path / "merges"
    rc = cli.main(["train-bpe", "--rounds", "3", str(src), str(out)])
    assert rc == 0
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # round 1: 'e s' wins the 6-way tie lexicographically; round 2:
    # 'e w' < 'es t' (space sorts before 's'); round 3: 'es t'
    assert [(m["sym_a"], m["sym_b"]) for m in rep["merges"]] == [
        ("e", "s"), ("e", "w"), ("es", "t")
    ]
    got = {r.merge_round: (r.sym_a, r.sym_b, r.pair_count)
           for r in spark.read.parquet(str(out)).collect()}
    assert got[1] == ("e", "s", 6)
    assert sum(d["n_words"] for d in rep["segment_lengths"]) == 2


def test_cli_fsck(capsys, tmp_path, spark):
    """fsck reports corpus/index health and exits 2 on contract
    violations (missing canon_url under --url-dedup, corrupt sidecar)."""
    from slice_db_spark import cli
    from slice_db_spark.operators import dedup as D

    corpus = tmp_path / "corpus"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id bigint, text string",
    )
    docs.write.parquet(str(corpus))
    sidx = tmp_path / "span"
    D.build_span_index(docs, str(sidx))
    D.append_span_index(spark, str(sidx), docs)  # replay duplicates

    rc = cli.main(["fsck", "--span-index", str(sidx), str(corpus)])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert rep["corpus"]["rows"] == 1 and not rep["corpus"]["has_canon_url"]
    assert rep["span_index"]["replay_dup_ppm"] == 500_000  # exactly doubled
    assert rep["span_index"]["meta"] == {"span_tokens": 8, "wide_hash": False}

    # violations: url contract + corrupt sidecar
    (sidx / "_span_meta.json").write_text("[8]")
    rc = cli.main(["fsck", "--url-dedup", "--span-index", str(sidx), str(corpus)])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2
    assert any("canon_url" in e for e in rep["errors"])
    assert any("corrupt" in e for e in rep["errors"])


def test_cli_fsck_missing_paths_report_not_crash(tmp_path, capsys):
    """Review pin: missing / empty / mid-swap-crashed paths are ERROR
    entries in the JSON report with exit 2 — never a raw
    AnalysisException traceback (those are the states fsck exists to
    name)."""
    from slice_db_spark import cli

    rc = cli.main(["fsck", "--span-index", str(tmp_path / "missing_idx"),
                   str(tmp_path / "missing_corpus")])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2
    assert any("corpus dir missing" in e for e in rep["errors"])
    assert any("span index dir missing" in e for e in rep["errors"])

    empty = tmp_path / "empty"
    empty.mkdir()
    rc = cli.main(["fsck", str(empty)])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 2 and any("no parquet" in e for e in rep["errors"])


def test_curate_span_dedup_stage(spark, tmp_path):
    """curate --span-dedup removes corpus-wide duplicated token spans
    (both copies) between the chunk and fuzzy stages; untouched docs keep
    their original text verbatim."""
    src = tmp_path / "docs"
    span = "alpha beta gamma delta epsilon zeta eta theta"
    fancy = ("A perfectly Normal, readable document: with plain english "
             "words the quality heuristics all like, and MORE of them too!")
    spark.createDataFrame(
        [
            (1, f"{span} first unique readable tail with several plain words",
             "en", "s", 1),
            (2, f"{span} second unique readable tail and different plain words",
             "en", "s", 1),
            (3, fancy, "en", "s", 1),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(str(src))
    out = tmp_path / "curated"
    rep = json.loads(run_cli(
        "curate", "--quality-min", "0.0", "--span-dedup",
        str(src), str(out),
    ).strip().splitlines()[-1])
    assert rep["after_span_dedup"] == 3
    texts = {r.doc_id: r.text for r in spark.read.parquet(str(out)).collect()}
    assert span not in texts[1] and span not in texts[2]  # both copies cut
    assert texts[3] == fancy  # untouched doc keeps original formatting


def test_cli_ingest_media_and_phash_compact(spark, tmp_path):
    """ingest-media drains parquet image shards with exact + perceptual
    dedup and reports sink counters; compact --phash-index reclaims
    replay duplicates and keeps the banding sidecar."""
    import shutil

    from slice_db_spark.operators import multimodal as M
    from slice_db_spark.streaming.media import read_phash_meta

    land = str(tmp_path / "land")
    os.makedirs(land)
    idx = str(tmp_path / "idx")
    corpus = str(tmp_path / "media")
    rej = str(tmp_path / "rej")

    ids = spark.createDataFrame([(0,), (1,), (8,)], "doc_id bigint")
    tmp = str(tmp_path / "stage")
    M.synth_texture_bmp(ids).coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(tmp, part), os.path.join(land, "b0.parquet"))

    out = run_cli(
        "ingest-media", "--checkpoint", str(tmp_path / "ckpt"),
        "--phash-index", idx, "--rejects", rej, land, corpus,
    )
    rep = json.loads(out.strip().splitlines()[-1])
    # id 8 is the planted brightness near-dup of id 0
    assert rep["corpus_rows"] == 2 and rep["near_dup_rejected"] == 1

    # replay-duplicate the index rows, then reclaim them
    df = spark.read.parquet(idx)
    df.write.mode("append").parquet(idx)
    out = run_cli("compact", "--phash-index", idx)
    rep = json.loads(out.strip().splitlines()[-1])
    assert spark.read.parquet(idx).count() == 2
    assert read_phash_meta(idx)["bands"] == 7


def test_cli_fsck_phash_index(spark, tmp_path):
    """fsck validates the pHash signature index: row health (replay
    duplicate share) and the banding sidecar ride the same _index_entry
    machinery as the LSH/span indexes."""
    import shutil

    from pyspark.sql import functions as F

    from slice_db_spark.operators import multimodal as M
    from slice_db_spark.streaming.media import write_phash_meta

    corpus = str(tmp_path / "media")
    idx = str(tmp_path / "idx")
    imgs = M.synth_texture_bmp(
        spark.createDataFrame([(0,), (1,)], "doc_id bigint")
    )
    imgs.write.mode("overwrite").parquet(corpus)
    sigs = M.phash_media(imgs).select(
        F.col("media_id").alias("corpus_id"), "phash"
    )
    sigs.write.mode("append").parquet(idx)
    sigs.write.mode("append").parquet(idx)  # replay duplicates
    write_phash_meta(idx, 63, 7, 6)

    out = run_cli("fsck", "--phash-index", idx, corpus)
    rep = json.loads(out.strip().splitlines()[-1])
    assert rep["errors"] == []
    assert rep["phash_index"]["replay_dup_ppm"] == 500_000
    assert rep["phash_index"]["meta"]["bands"] == 7


def test_cli_fsck_media_corpus_width_and_ids(spark, tmp_path):
    """r8: fsck --media-corpus flags the legacy 60-bit BIGINT
    content_hash (exit 2 with a migration pointer) and duplicate
    media_id rows; a current-layout corpus passes clean."""
    from pyspark.sql import functions as F

    from slice_db_spark.operators import multimodal as M
    from slice_db_spark.operators.hashing import hash64

    imgs = M.synth_texture_bmp(
        spark.createDataFrame([(0,), (1,)], "doc_id bigint")
    )
    good = str(tmp_path / "good")
    imgs.withColumn("content_hash", F.md5(F.col("payload"))).write.parquet(good)
    rep = json.loads(
        run_cli("fsck", "--media-corpus", good, good).strip().splitlines()[-1]
    )
    assert rep["errors"] == []
    assert rep["media_corpus"] == {
        "rows": 2, "content_hash_type": "string", "duplicate_ids": 0,
    }

    legacy = str(tmp_path / "legacy")
    imgs.withColumn("content_hash", hash64(F.col("payload"))).write.parquet(legacy)
    rep = json.loads(
        run_cli("fsck", "--media-corpus", legacy, legacy, expect_rc=2)
        .strip().splitlines()[-1]
    )
    assert any("legacy" in e for e in rep["errors"])


def test_cli_phash_files(spark, tmp_path):
    """r8: the phash-files subcommand runs the ImageIO decode lane over
    a directory of image files — planted brightness replays pair, the
    undecodable file lands in the quarantine count."""
    import os as _os

    from slice_db_spark.operators import multimodal as M

    d = str(tmp_path / "imgs")
    _os.makedirs(d)
    rows = M.synth_texture_bmp(
        spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint")
    ).select("media_id", "payload").collect()
    for r in rows:
        open(_os.path.join(d, f"{r.media_id}.bmp"), "wb").write(bytes(r.payload))
    open(_os.path.join(d, "junk.bmp"), "wb").write(b"nope")

    rep = json.loads(run_cli("phash-files", d).strip().splitlines()[-1])
    assert rep["files"] == 11 and rep["undecodable_or_unidentified"] == 1
    got = {(p["id_a"], p["id_b"]) for p in rep["pairs"]}
    assert (0, 8) in got and (0, 9) in got  # planted replays of slot 0


def test_analyze_media_cli(spark, tmp_path):
    """r8 analyze-media: format mix, header-dims quantiles, gate pass
    rates, and EXIF coverage land in one JSON report over a mixed media
    corpus — each section reusing the gated operators."""
    from slice_db_spark.operators import multimodal as M

    ids = spark.createDataFrame([(i,) for i in range(20)], "doc_id bigint")
    corpus = str(tmp_path / "media")
    M.synth_varied_bmp(ids).unionByName(
        M.synth_jpeg_exif(
            spark.createDataFrame([(i,) for i in range(100, 110)],
                                  "doc_id bigint"))
    ).write.parquet(corpus)

    report = json.loads(run_cli("analyze-media", corpus))
    assert report["rows"] == 30
    assert report["formats"] == {"bmp": 20, "jpeg": 10}
    assert report["dims_parsed"] == 30
    assert len(report["width_p50_p90"]) == 2
    assert sum(report["gate"].values()) == 30
    assert set(report["gate"]) <= {"ok", "small", "aspect"}
    # ids 100-109: id 100 (%10==0) carries no EXIF, the rest do
    assert report["exif"]["jpeg_rows"] == 10
    assert report["exif"]["with_exif"] == 9
    assert report["exif"]["damaged"] == 0
    assert sum(report["exif"]["orientation_hist"].values()) == 9


def test_analyze_media_animation_section(spark, tmp_path):
    """r9 analyze-media animation section: GIF corpora report animated
    share, frame-count histogram, duration quantiles, and damaged
    payload counts — all through the strict-GCE block walk, no LZW
    decode."""
    from slice_db_spark.operators import multimodal as M

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id bigint")
    stills = M.synth_gif(
        spark.createDataFrame([(i,) for i in range(100, 104)], "doc_id bigint")
    )
    corpus = str(tmp_path / "media")
    damaged = spark.createDataFrame(
        [(999, "image", bytearray(b"GIF89a then nothing sensible"), "gif", 28)],
        M.MEDIA_SCHEMA,
    )
    M.synth_gif_animated(ids).unionByName(stills).unionByName(
        damaged
    ).write.parquet(corpus)

    report = json.loads(run_cli("analyze-media", corpus))
    anim = report["animation"]
    assert anim["gif_rows"] == 17
    assert anim["damaged"] == 1
    # synth_gif_animated: 2 + k % 4 frames, all > 1; stills are 1-frame
    assert anim["animated"] == 12
    assert anim["frames_hist"]["1"] == 4 or anim["frames_hist"].get(1) == 4
    total = sum(anim["frames_hist"].values())
    assert total == 16
    assert len(anim["duration_cs_p50_p90"]) == 2
    # r10 compositing-relevance mix: this corpus is all full-frame
    # opaque non-interlaced disposal-1 animations
    assert anim["compositing"] == {
        "with_partial_frames": 0,
        "with_transparency": 0,
        "with_interlace": 0,
        "with_restore_disposal": 0,
    }
    # r11 loop/comment metadata: the 12 animated synths carry the
    # NETSCAPE loop-forever extension; the 4 stills carry none
    assert anim["metadata"] == {
        "with_loop_extension": 12,
        "loop_forever": 12,
        "with_comments": 0,
        "comment_bytes": 0,
    }


def test_analyze_media_loop_comment_metadata(spark, tmp_path):
    """r11 analyze-media metadata block over the loop/comment synth:
    loop extensions absent for k mod 3 = 0, comment counts/bytes fold
    to the planted arithmetic — all from the strict walk, no decode."""
    from slice_db_spark.operators import multimodal as M

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id bigint")
    corpus = str(tmp_path / "media")
    M.synth_gif_loop_meta(ids).write.parquet(corpus)
    report = json.loads(run_cli("analyze-media", corpus))
    md = report["animation"]["metadata"]
    assert md["with_loop_extension"] == 8   # k % 3 != 0
    assert md["loop_forever"] == 0          # planted counts are >= 2
    assert md["with_comments"] == 8         # k % 3 in (1, 2)
    want_bytes = sum(
        1 + (k + i) % 13 for k in range(12) for i in range(k % 3)
    )
    assert md["comment_bytes"] == want_bytes


def test_analyze_media_compositing_mix(spark, tmp_path):
    """r10: a composited-synth corpus reports the partial-frame /
    transparency / interlace / restore-disposal mix — the numbers that
    say how much of a GIF corpus needs the compositing lane."""
    from slice_db_spark.operators import multimodal as M

    ids = spark.createDataFrame([(i,) for i in range(20)], "doc_id bigint")
    corpus = str(tmp_path / "media")
    M.synth_gif_composited_dups(ids).write.parquet(corpus)
    report = json.loads(run_cli("analyze-media", corpus))
    comp = report["animation"]["compositing"]
    # slots 0-7 (16 ids) are partial+transparent; flattened 8/9 aren't
    assert comp["with_partial_frames"] == 16
    assert comp["with_transparency"] == 16
    # interlace: even ids among slots 0-7
    assert comp["with_interlace"] == 8
    # restore disposal (2 or 3) present unless both GCE methods are 1:
    # k%3==0 and (k//3)%3==0 -> k in {0,9,18} but 9,18 are slots 8/9
    # (flattened); slot<8 ids with all-keep disposals: k=0 only
    assert comp["with_restore_disposal"] == 15


def test_fsck_ivfpq_index(spark, tmp_path):
    """r9 fsck over the persisted OPQ-IVFPQ index: a healthy index
    reports shape/row stats with no errors; a corrupted rotation (perm
    no longer a permutation) and an out-of-range code row both land as
    error entries with exit 2."""
    import random

    from slice_db_spark.operators import similarity as S

    rng = random.Random(3)
    rows = [(100 + i, [rng.uniform(-1, 1) for _ in range(16)])
            for i in range(30)]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    d = str(tmp_path / "idx")
    S.build_ivfpq_index(corpus, d, n_cells=4, iters=1, m_subspaces=4,
                        n_codes=8, opq_rounds=1)
    cdir = str(tmp_path / "docs")
    spark.createDataFrame([(1, "t", "s")], "doc_id bigint, text string, source string").write.parquet(cdir)
    report = json.loads(run_cli("fsck", "--ivfpq-index", d, cdir))
    assert report["errors"] == []
    e = report["ivfpq_index"]
    assert e["n_cells"] == 4 and e["m_subspaces"] == 4
    assert e["rows"] == 30 and e["bad_code_rows"] == 0

    # corrupt the rotation: duplicate one perm entry
    meta = json.load(open(os.path.join(d, "meta.json")))
    meta["perm"][0] = meta["perm"][1]
    json.dump(meta, open(os.path.join(d, "meta.json"), "w"))
    report = json.loads(run_cli("fsck", "--ivfpq-index", d, cdir,
                                expect_rc=2))
    assert any("not a permutation" in err for err in report["errors"])

    # r10 advisory fix: STRUCTURALLY corrupt meta must be reported, not
    # crash the checker (empty centroids -> IndexError, missing
    # m_subspaces -> KeyError/ZeroDivisionError before)
    meta = json.load(open(os.path.join(d, "meta.json")))
    meta["centroids"] = []
    del meta["m_subspaces"]
    meta["n_codes"] = 0
    json.dump(meta, open(os.path.join(d, "meta.json"), "w"))
    report = json.loads(run_cli("fsck", "--ivfpq-index", d, cdir,
                                expect_rc=2))
    errs = "\n".join(report["errors"])
    assert "no/empty centroids" in errs
    assert "m_subspaces must be a positive integer" in errs
    assert "n_codes must be a positive integer" in errs


def test_build_probe_index_cli_roundtrip(spark, tmp_path):
    """r10 ANN index CLI lifecycle: build-index --kind ivfpq trains +
    persists the OPQ-IVFPQ index with an index.json sidecar, fsck
    --ivfpq-index passes on it, and probe-index returns EXACTLY the
    library probe's rows (bit-for-bit parity — the contract every
    persisted probe honors).  The IVF kind round-trips through the same
    pair, and a sidecar-less directory fails with a clear error."""
    import random

    from slice_db_spark.operators import similarity as S

    rng = random.Random(5)
    rows = [(100 + i, [rng.uniform(-1, 1) for _ in range(16)])
            for i in range(40)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).write.parquet(str(tmp_path / "emb"))
    spark.createDataFrame(
        rows[:3], "vec_id bigint, embedding array<float>"
    ).write.parquet(str(tmp_path / "q"))
    cdir = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "t", "s")], "doc_id bigint, text string, source string"
    ).write.parquet(cdir)

    d = str(tmp_path / "idx")
    rep = json.loads(run_cli(
        "build-index", "--kind", "ivfpq", "--cells", "4", "--iters", "1",
        "--m-subspaces", "4", "--codes", "8", "--opq-rounds", "1",
        str(tmp_path / "emb"), d,
    ))
    assert rep["kind"] == "ivfpq" and rep["rows"] == 40
    assert rep["n_cells"] == 4 and os.path.exists(os.path.join(d, "index.json"))

    fsck = json.loads(run_cli("fsck", "--ivfpq-index", d, cdir))
    assert fsck["errors"] == []

    got = json.loads(run_cli(
        "probe-index", "--k", "3", "--k-prime", "6", "--nprobe", "2",
        d, str(tmp_path / "q"),
    ))
    assert got["kind"] == "ivfpq" and got["n_queries"] == 3
    q = spark.read.parquet(str(tmp_path / "q")).withColumnRenamed(
        "vec_id", "q_id")
    lib = [r.asDict() for r in S.probe_ivfpq_index(
        spark, d, q, k=3, k_prime=6, nprobe=2,
    ).orderBy("q_id", "rank").collect()]
    assert got["results"] == lib  # bit-for-bit parity with the library

    # IVF kind through the same pair
    d2 = str(tmp_path / "idx2")
    rep2 = json.loads(run_cli(
        "build-index", "--kind", "ivf", "--cells", "4", "--iters", "1",
        str(tmp_path / "emb"), d2,
    ))
    assert rep2["kind"] == "ivf"
    got2 = json.loads(run_cli(
        "probe-index", "--k", "3", "--nprobe", "2", d2, str(tmp_path / "q")))
    lib2 = [r.asDict() for r in S.probe_ivf_index(
        spark, d2, q, k=3, nprobe=2,
    ).orderBy("q_id", "rank").collect()]
    assert got2["kind"] == "ivf" and got2["results"] == lib2

    # not an index -> rc 2
    run_cli("probe-index", str(tmp_path / "docs"), str(tmp_path / "q"),
            expect_rc=2)

    # r10 --append: new vectors join the EXISTING ivf quantizer and are
    # probe-visible; ivfpq and sidecar-less targets refuse
    rng2 = random.Random(9)
    extra = [(900 + i, [rng2.uniform(-1, 1) for _ in range(16)])
             for i in range(5)]
    spark.createDataFrame(
        extra, "vec_id bigint, embedding array<float>"
    ).write.parquet(str(tmp_path / "emb2"))
    rep3 = json.loads(run_cli(
        "build-index", "--append", str(tmp_path / "emb2"), d2))
    assert rep3["appended"] == 5
    spark.createDataFrame(
        extra[:1], "vec_id bigint, embedding array<float>"
    ).write.parquet(str(tmp_path / "q2"))
    got3 = json.loads(run_cli(
        "probe-index", "--k", "1", "--nprobe", "4",
        d2, str(tmp_path / "q2")))
    assert got3["results"][0]["vec_id"] == 900  # appended row found
    run_cli("build-index", "--append", str(tmp_path / "emb2"),
            str(tmp_path / "docs"), expect_rc=2)  # no sidecar

    # r10 --output: the full result set lands as parquet, rows equal
    # the printed form
    outp = str(tmp_path / "probe_out")
    rep4 = json.loads(run_cli(
        "probe-index", "--k", "3", "--k-prime", "6", "--nprobe", "2",
        "--output", outp, d, str(tmp_path / "q"),
    ))
    assert rep4["output"] == outp and rep4["n_results"] == 9
    written = [r.asDict() for r in spark.read.parquet(outp)
               .orderBy("q_id", "rank").collect()]
    assert written == lib

    # r11 --append for ivfpq: new vectors are PQ-encoded with the
    # persisted rotation + codebooks (no retrain), probe-visible, and
    # fsck still reports zero bad code rows
    rep5 = json.loads(run_cli(
        "build-index", "--append", str(tmp_path / "emb2"), d))
    assert rep5["appended"] == 5 and rep5["kind"] == "ivfpq"
    got5 = json.loads(run_cli(
        "probe-index", "--k", "1", "--k-prime", "50", "--nprobe", "4",
        d, str(tmp_path / "q2")))
    assert got5["results"][0]["vec_id"] == 900
    fsck2 = json.loads(run_cli("fsck", "--ivfpq-index", d, cdir))
    assert fsck2["errors"] == []
    assert fsck2["ivfpq_index"]["rows"] == 45
    assert fsck2["ivfpq_index"]["bad_code_rows"] == 0


def test_phash_files_dihedral_flag(spark, tmp_path):
    """r9: phash-files --dihedral pairs an EXIF-stripped 90-degree
    rotated refetch the plain run misses."""
    from slice_db_spark.operators import multimodal as M

    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id bigint")
    d = str(tmp_path / "imgs")
    os.makedirs(d)
    for r in M.synth_jpeg_dihedral(ids).select("media_id", "payload").collect():
        open(os.path.join(d, f"{r.media_id}.jpg"), "wb").write(bytes(r.payload))
    plain = json.loads(run_cli("phash-files", d))
    dih = json.loads(run_cli("phash-files", "--dihedral", d))
    plain_pairs = {(p["id_a"], p["id_b"]) for p in plain["pairs"]}
    dih_pairs = {(p["id_a"], p["id_b"]) for p in dih["pairs"]}
    assert (0, 8) in dih_pairs and (0, 9) in dih_pairs
    assert (0, 8) not in plain_pairs


def test_fsck_bare_parquet_corpus_and_status(spark, tmp_path):
    """r11: fsck accepts a BARE parquet file as the corpus argument
    (matching build-index/probe-index) and carries an overall status
    field — a populated index section next to a fatal corpus error must
    not read as healthy without checking errors[]."""
    import random

    from slice_db_spark.operators import similarity as S

    rng = random.Random(7)
    rows = [(100 + i, [rng.uniform(-1, 1) for _ in range(16)])
            for i in range(30)]
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>")
    d = str(tmp_path / "idx")
    S.build_ivfpq_index(corpus, d, n_cells=4, iters=1, m_subspaces=4,
                        n_codes=8, opq_rounds=1)

    # bare parquet FILE corpus: coalesce to one part and point at it
    fdir = str(tmp_path / "one")
    corpus.coalesce(1).write.parquet(fdir)
    part = next(p for p in os.listdir(fdir) if p.endswith(".parquet"))
    bare = os.path.join(fdir, part)

    report = json.loads(run_cli("fsck", "--ivfpq-index", d, bare))
    assert report["status"] == "ok" and report["errors"] == []
    assert report["corpus"]["rows"] == 30 and report["corpus"]["files"] == 1
    assert report["corpus"]["bytes"] == os.path.getsize(bare)
    assert report["ivfpq_index"]["bad_code_rows"] == 0

    # fatal corpus error + healthy index: status must say error
    report = json.loads(run_cli(
        "fsck", "--ivfpq-index", d, str(tmp_path / "nope"), expect_rc=2))
    assert report["status"] == "error"
    assert report["ivfpq_index"]["rows"] == 30  # section still populated
    assert any("corpus dir missing" in e for e in report["errors"])


def test_analyze_media_apng_section(spark, tmp_path):
    """r11 analyze-media APNG block: a PNG corpus mixing animated
    (synth_apng_composited) and still payloads reports the
    animated/still split and the compositing-relevance mix — the
    chunk-walk pass only, no inflate."""
    from slice_db_spark.operators import multimodal as M

    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id bigint")
    stills = spark.createDataFrame(
        [(100 + i,) for i in range(5)], "doc_id bigint"
    )
    corpus = str(tmp_path / "media")
    M.synth_apng_composited(ids).unionByName(
        M.synth_png(stills)
    ).write.parquet(corpus)
    report = json.loads(run_cli("analyze-media", corpus))
    sec = report["apng"]
    assert sec["png_rows"] == 17
    assert sec["animated"] == 12 and sec["still_or_damaged"] == 5
    comp = sec["compositing"]
    # every composited synth has 2 partial frames and 1 OVER frame
    assert comp["with_partial_frames"] == 12
    assert comp["with_over_blend"] == 12
    assert comp["hidden_default_image"] == 0
    # dispose 1/2 present unless k%3 == 0 AND (k//3)%3 == 0 -> k in {0, 9}
    assert comp["with_restore_dispose"] == 10
    # num_plays = k%7 == 0 -> k in {0, 7}
    assert comp["loop_forever"] == 2
    assert sec["delay_ms_p50_p90"] == [0, 0]


def test_build_probe_index_sq8_lifecycle(spark, tmp_path):
    """r11 SQ8 CLI lifecycle: build-index --kind sq8 trains the min/max
    quantizer and persists codes; probe-index is bit-identical to the
    library probe; --append encodes with the FROZEN quantizer (out-of-
    range vectors saturate) and the probe equals the frozen-artifact
    chain over the union; compact --ivf-index reclaims a replayed
    append with bit-stable probes; fsck --sq8-index reports 0 bad
    rows."""
    import random

    from slice_db_spark.operators import similarity as S

    rng = random.Random(31)
    dim = 8
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).write.parquet(emb)
    qp = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, rows[2][1]), (1, rows[7][1])],
        "q_id bigint, embedding array<float>",
    ).write.parquet(qp)
    idx = str(tmp_path / "idx")

    rep = json.loads(run_cli("build-index", "--kind", "sq8", emb, idx))
    assert rep["kind"] == "sq8" and rep["dim"] == dim and rep["rows"] == 40
    probe = json.loads(run_cli("probe-index", "--k", "4", idx, qp))
    assert probe["kind"] == "sq8" and probe["n_results"] == 8
    got = {(r["q_id"], r["vec_id"], r["adist"], r["rank"])
           for r in probe["results"]}
    q = spark.read.parquet(qp)
    lib = {tuple(r) for r in S.probe_sq8_index(spark, idx, q, k=4).collect()}
    assert got == lib

    # append out-of-range vectors: frozen quantizer, saturating codes
    newp = str(tmp_path / "new")
    new = [(100 + i, [2.0 * v for v in rows[i][1]]) for i in range(6)]
    spark.createDataFrame(
        new, "vec_id bigint, embedding array<float>"
    ).write.parquet(newp)
    rep = json.loads(run_cli("build-index", "--append", newp, idx))
    assert rep["appended"] == 6
    meta = json.load(open(os.path.join(idx, "meta.json")))
    union = spark.createDataFrame(
        rows + new, "vec_id bigint, embedding array<float>"
    )
    after = {tuple(r) for r in S.probe_sq8_index(spark, idx, q, k=4).collect()}
    frozen = {tuple(r) for r in S.sq8_adc_topk(
        union, q, meta["vmin"], meta["span"], k=4
    ).collect()}
    assert after == frozen

    # replayed append -> compact reclaims, probe bit-stable, fsck clean
    json.loads(run_cli("build-index", "--append", newp, idx))
    json.loads(run_cli("compact", "--ivf-index", idx))
    assert spark.read.parquet(os.path.join(idx, "codes")).count() == 46
    stable = {tuple(r) for r in S.probe_sq8_index(spark, idx, q, k=4).collect()}
    assert stable == after
    rep = json.loads(run_cli("fsck", "--sq8-index", idx, emb))
    assert rep["sq8_index"] == {"dim": dim, "rows": 46, "bad_code_rows": 0}
    assert not rep.get("errors")


def test_append_and_compact_library_built_sq8_index(spark, tmp_path):
    """An SQ8 index built by the library has no index.json: build-index
    --append and compact --ivf-index name its kind from meta.json, the
    rule probe-index uses, so the append encodes with the frozen
    quantizer and the compaction keeps the codes/ layout."""
    import random

    from slice_db_spark.operators import similarity as S

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    schema = "vec_id bigint, embedding array<float>"
    idx = str(tmp_path / "idx")
    S.build_sq8_index(spark.createDataFrame(rows[:16], schema), idx)
    assert not os.path.exists(os.path.join(idx, "index.json"))
    newp = str(tmp_path / "new")
    spark.createDataFrame(rows[16:], schema).write.parquet(newp)

    rep = json.loads(run_cli("build-index", "--append", newp, idx))
    assert (rep["kind"], rep["appended"]) == ("sq8", 4)
    q = spark.createDataFrame([(0, rows[3][1])], "q_id bigint, embedding array<float>")
    before = {tuple(r) for r in S.probe_sq8_index(spark, idx, q, k=3).collect()}
    run_cli("build-index", "--append", newp, idx)  # replayed append
    json.loads(run_cli("compact", "--ivf-index", idx))
    assert spark.read.parquet(os.path.join(idx, "codes")).count() == 20
    assert {tuple(r) for r in S.probe_sq8_index(spark, idx, q, k=3).collect()} == before


def test_fsck_bare_file_corpus_not_parquet(tmp_path):
    """r11 review fix: fsck pointed at an existing but non-parquet file
    reports an error ENTRY (status=error, exit 2), never a raw
    AnalysisException traceback."""
    bogus = tmp_path / "corpus.jsonl"
    bogus.write_text('{"doc_id": 1}\n')
    out = run_cli("fsck", str(bogus), expect_rc=2)
    rep = json.loads(out.strip().splitlines()[-1])
    assert rep["status"] == "error"
    assert any("not readable parquet" in e for e in rep["errors"])
