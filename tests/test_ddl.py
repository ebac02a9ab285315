"""S5 DDL passthrough: statement splitter goldens and the include-schema
round-trip — dump a slice WITH schema sections, then restore schema + rows
into an EMPTY database (DuckDB standing in for the reference's dropped-and-
recreated PostgreSQL, `test/test_dump.py:107-166`).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from slice_db_spark.config.model import Reference, Root, SchemaConfig, Sequence, Table
from slice_db_spark.plans.subset import Subsetter
from slice_db_spark.sources.ddl import parse_statements, split_statements, synthesize_ddl
from slice_db_spark.sources.slice import read_slice, read_slice_schema, write_slice
from slice_db_spark.sources.sqlscript import write_sql_script


# ------------------------------------------------------------- splitter


def test_parse_statements_reference_golden():
    # the reference's own golden (`test/test_token.py:4-7`)
    sql = 'CREATE TABLE "a"();--foo;bar\nCREATE TABLE b();'
    assert list(parse_statements(sql)) == [
        'CREATE TABLE "a"()',
        "--foo;bar\nCREATE TABLE b()",
    ]


def test_parse_statements_quoting():
    assert list(parse_statements("SELECT 'a;b'; SELECT 1;")) == ["SELECT 'a;b'", " SELECT 1"]
    assert list(parse_statements("SELECT 'it''s; ok'; SELECT 2;")) == [
        "SELECT 'it''s; ok'",
        " SELECT 2",
    ]
    assert list(parse_statements('SELECT ";" FROM "t;x"; END;')) == [
        'SELECT ";" FROM "t;x"',
        " END",
    ]
    # trailing fragment without ';' is yielded; split_statements drops noise
    assert list(parse_statements("A; B")) == ["A", " B"]
    assert split_statements("A;\n--c\n") == ["A"]


def test_parse_statements_unterminated():
    with pytest.raises(ValueError):
        list(parse_statements("SELECT 'oops"))
    with pytest.raises(ValueError):
        list(parse_statements('SELECT "oops'))


# ------------------------------------------------- include-schema round-trip


def _parent_child_schema() -> SchemaConfig:
    # the reference fixture model (`test/test_dump.py:12-45`): parent(id),
    # child(id, parent_id) with a two-direction FK and an id sequence
    return SchemaConfig(
        tables={
            "public.parent": Table(
                id="public.parent", name="parent", schema="public",
                columns=["id"], id_columns=["id"], sequences=["public.parent_id_seq"],
            ),
            "public.child": Table(
                id="public.child", name="child", schema="public",
                columns=["id", "parent_id"], id_columns=["id"],
            ),
        },
        references={
            "child_parent_id_fkey": Reference(
                id="child_parent_id_fkey", table="public.child", columns=["parent_id"],
                reference_table="public.parent", reference_columns=["id"],
                directions=["forward", "reverse"],
            )
        },
        sequences={"public.parent_id_seq": Sequence(
            id="public.parent_id_seq", schema="public", name="parent_id_seq",
            table="public.parent", column="id")},
    )


@pytest.fixture(scope="module")
def parent_child(spark):
    parent = spark.createDataFrame([(1,), (2,)], "id bigint")
    child = spark.createDataFrame([(1, 1), (2, 1), (3, 2)], "id bigint, parent_id bigint")
    return {"public.parent": parent, "public.child": child}


def test_include_schema_roundtrip_into_empty_db(spark, parent_child, tmp_path):
    schema = _parent_child_schema()
    eng = Subsetter(spark, parent_child, schema)
    res = eng.run([Root("public.parent", "id = 1")])
    tables = eng.export(res)

    pre, post = synthesize_ddl(schema, tables)
    out = str(tmp_path / "slice")
    manifest = write_slice(
        tables, schema, out, sequences={"public.parent_id_seq": 2},
        pre_data=pre, post_data=post,
    )
    assert manifest.pre_data == len(pre) and manifest.post_data == len(post)
    assert os.path.exists(os.path.join(out, "pre-data", "1.sql"))

    # restore into an EMPTY database: replay pre-data DDL, then rows
    back_tables, back_manifest = read_slice(spark, out)
    pre2, post2 = read_slice_schema(out, back_manifest)
    assert (pre2, post2) == (pre, post)

    con = duckdb.connect()
    for stmt in pre2:
        con.execute(stmt)
    for tid in back_tables:
        t = schema.tables[tid]
        con.execute(
            f'INSERT INTO "{t.schema}"."{t.name}" '
            f"SELECT * FROM read_parquet('{os.path.join(out, tid.replace('.', '__'))}/*.parquet')"
        )
    # reference assertion (`test/test_dump.py:160-166`): parent id=1 pulls
    # children 1,2 but not 3
    assert con.sql('SELECT id FROM "public"."parent" ORDER BY id').fetchall() == [(1,)]
    assert con.sql(
        'SELECT id, parent_id FROM "public"."child" ORDER BY id'
    ).fetchall() == [(1, 1), (2, 1)]
    # pre-data created the sequence object (value replay is the SQL/JDBC
    # sink's setval path; the parquet sink uses _sequences.json — see
    # test_restore_sequence_roundtrip)
    assert con.sql('SELECT nextval(\'"public"."parent_id_seq"\')').fetchall() == [(1,)]

    # post-data carries the FK constraints (PostgreSQL replay path; DuckDB
    # cannot ALTER TABLE ADD FOREIGN KEY, so validate shape not execution)
    assert any("FOREIGN KEY" in s and '"child_parent_id_fkey"' in s for s in post2)


def test_restore_sequence_roundtrip(spark, parent_child, tmp_path):
    """Sequence round-trip (`test/test_dump_sequence.py:17-73`): the dumped
    last_value survives slice → restore, with monotonic-max (setval only
    if greater) on re-restore."""
    from slice_db_spark.plans.restore import (
        capture_sequences, restore_sequences, restore_to_parquet,
    )

    schema = _parent_child_schema()
    eng = Subsetter(spark, parent_child, schema)
    tables = eng.export(eng.run([Root("public.parent", "id >= 1")]))

    seqs = capture_sequences(tables, schema)
    assert seqs == {"public.parent_id_seq": 2}  # max(parent.id) of the slice

    out = str(tmp_path / "slice")
    write_slice(tables, schema, out, sequences=seqs)
    back_tables, back_manifest = read_slice(spark, out)
    assert back_manifest.sequences["public.parent_id_seq"]["value"] == 2

    target = str(tmp_path / "restored")
    restore_to_parquet(back_tables, schema, target, sequences={
        sid: int(m["value"]) for sid, m in back_manifest.sequences.items()})
    state_file = os.path.join(target, "_sequences.json")
    assert os.path.exists(state_file)
    import json as _json

    assert _json.load(open(state_file)) == {"public.parent_id_seq": 2}
    # monotonic max: a later restore with a SMALLER value must not regress,
    # a larger one advances
    assert restore_sequences(target, {"public.parent_id_seq": 1}) == {
        "public.parent_id_seq": 2}
    assert restore_sequences(target, {"public.parent_id_seq": 7}) == {
        "public.parent_id_seq": 7}


def test_sql_script_includes_schema_sections(spark, parent_child, tmp_path):
    schema = _parent_child_schema()
    pre, post = synthesize_ddl(schema, parent_child)
    path = str(tmp_path / "restore.sql")
    write_sql_script(parent_child, schema, path, sequences={"public.parent_id_seq": 2},
                     pre_data=pre, post_data=post)
    text = open(path).read()
    i_create = text.index("CREATE TABLE")
    i_copy = text.index("COPY ")
    i_fk = text.index("ADD CONSTRAINT")
    assert i_create < i_copy < i_fk
    # parent COPY precedes child COPY (FK topological order)
    assert text.index('COPY "public"."parent"') < text.index('COPY "public"."child"')
    # statements in the script parse back cleanly
    assert any(s.startswith("CREATE TABLE") for s in split_statements(text.split("COPY ")[0]))


def test_tsv_slice_carries_schema_sections(spark, parent_child, tmp_path):
    """DDL sections are format-independent: a TSV-compat slice stores and
    replays the same pre/post-data files as parquet."""
    schema = _parent_child_schema()
    pre, post = synthesize_ddl(schema, parent_child)
    out = str(tmp_path / "slice_tsv")
    manifest = write_slice(parent_child, schema, out, fmt="tsv",
                           pre_data=pre, post_data=post)
    back_tables, back_manifest = read_slice(spark, out, fmt="tsv")
    assert read_slice_schema(out, back_manifest) == (pre, post)
    # TSV rows round-trip (string-typed; restore casts against target)
    got = {(r["id"], r["parent_id"]) for r in back_tables["public.child"].collect()}
    assert got == {("1", "1"), ("2", "1"), ("3", "2")}
    assert manifest.pre_data == len(pre)


def test_jdbc_to_libpq():
    from slice_db_spark.sources.ddl import jdbc_to_libpq

    assert (
        jdbc_to_libpq("jdbc:postgresql://h:5/db?user=u&password=w")
        == "postgresql://h:5/db?user=u&password=w"
    )
    # libpq URIs / DSNs pass through
    assert jdbc_to_libpq("postgresql://h/db") == "postgresql://h/db"
    assert jdbc_to_libpq("host=h dbname=db") == "host=h dbname=db"


def test_pg_dump_sections_plumbing(tmp_path):
    """pg_dump invocation contract without a live server: a stub binary
    records its argv and emits pg_dump-shaped section output; the function
    must pass the reference's flags (`slice_db/dump.py:334-341`) and split
    the output into statements."""
    import json as _json
    import os
    import stat

    from slice_db_spark.sources.ddl import pg_dump_sections

    stub = tmp_path / "pg_dump"
    log = tmp_path / "argv.json"
    stub.write_text(
        "#!/bin/sh\n"
        f"echo \"$@\" >> {log}\n"
        "case \"$*\" in\n"
        "*pre-data*) printf -- '--\\n-- PostgreSQL database dump\\n--\\n"
        "CREATE TABLE \"public\".\"t\" (\\n \"a\" integer NOT NULL\\n);\\n';;\n"
        "*post-data*) printf 'ALTER TABLE \"public\".\"t\" ADD CONSTRAINT \"t_pkey\" "
        "PRIMARY KEY (\"a\");\\nCREATE INDEX \"i\" ON \"public\".\"t\" (\"a\");\\n';;\n"
        "esac\n"
    )
    stub.chmod(stub.stat().st_mode | stat.S_IEXEC)

    pre, post = pg_dump_sections("jdbc:postgresql://x/db", pg_dump_bin=str(stub))
    # the pg_dump comment banner stays attached to the first statement
    # (comments are valid SQL; replay is unchanged)
    assert len(pre) == 1
    assert pre[0].endswith('CREATE TABLE "public"."t" (\n "a" integer NOT NULL\n)')
    assert post[0].startswith('ALTER TABLE "public"."t" ADD CONSTRAINT')
    assert len(post) == 2 and post[1].startswith("CREATE INDEX")
    calls = log.read_text().strip().splitlines()
    for call, section in zip(calls, ("pre-data", "post-data")):
        args = call.split()
        # the reference's exact flag set, connection as a libpq URI
        assert args[0] == "-BO"
        assert "--disable-dollar-quoting" in args and "--no-acl" in args
        assert "--quote-all-identifiers" in args
        assert args[args.index("--section") + 1] == section
        assert args[args.index("--dbname") + 1] == "postgresql://x/db"


def test_pg_dump_sections_missing_binary():
    import pytest as _pytest

    from slice_db_spark.sources.ddl import pg_dump_sections

    with _pytest.raises(RuntimeError, match="exited|not found"):
        pg_dump_sections("jdbc:postgresql://nohost:1/db", pg_dump_bin="/nonexistent/pg_dump")
