"""Dependency-ordered materialization ("restore") of a slice.

Reference semantics: restore tables so that FK targets are written before
their referents; cycles are only legal when a deferrable constraint lets a
single transaction defer checks (`slice_db/restore.py:128-161`,
`README.md:145-158`).

Spark mapping: topological order is metadata work on the driver
(``config.graph.topo_order``); each table write is a Spark job.  Sinks:

* parquet (default here — cluster-native restore target),
* JDBC (``df.write.jdbc(mode="append")``) when a live database URL is given;
  cyclic schemas with deferrable constraints need a single-connection
  transactional writer, which is outside Spark's parallel JDBC writer model
  — we surface that case as an explicit error instead of corrupting state.
"""

from __future__ import annotations

import json
import logging
import os

from pyspark.sql import DataFrame, functions as F

from ..config.graph import CycleError, topo_levels, topo_order
from ..config.model import SchemaConfig

SEQUENCES_FILE = "_sequences.json"


def restore_order(schema: SchemaConfig, tables: list[str]) -> list[str]:
    """Write order for the given tables (parents first)."""
    return topo_order(schema, tables)


def _run_levels(levels: list[list[str]], jobs: int, write) -> list[str]:
    """Execute ``write(table)`` level-by-level, ``jobs`` tables of a level
    concurrently — the reference's ``restore --jobs`` parallelism
    (`slice_db/cli/main.py:165-171`).  Spark supports concurrent job
    submission from driver threads, so independent table writes overlap
    on the cluster; the level barrier preserves FK ordering.  The first
    failure cancels not-yet-started writes and re-raises (the reference's
    cancel-on-error queue semantics, `slice_db/concurrent/queue.py`)."""
    from concurrent.futures import ThreadPoolExecutor

    done: list[str] = []
    if jobs <= 1:
        for level in levels:
            for t in level:
                write(t)
                done.append(t)
        return done
    # the user-set `restore --jobs` pool (slice_db/cli/main.py:165-171)
    with ThreadPoolExecutor(max_workers=jobs) as pool:
        for level in levels:
            futures = {t: pool.submit(write, t) for t in level}
            errs = []
            for t, fut in futures.items():
                try:
                    fut.result()
                    done.append(t)
                except Exception as e:  # collect, then fail after the level
                    errs.append((t, e))
            if errs:
                raise errs[0][1]
    return done


def capture_sequences(
    tables: dict[str, DataFrame], schema: SchemaConfig
) -> dict[str, int]:
    """last_value per configured sequence with a table/column binding
    (S4: the parquet analog of ``SELECT last_value FROM seq``,
    `slice_db/dump.py:227-257`) — computed over the SLICED rows, one
    combined aggregate job per owning table."""
    by_table: dict[str, list] = {}
    for sid, s in schema.sequences.items():
        if s.table and s.column and s.table in tables:
            by_table.setdefault(s.table, []).append(sid)
    out: dict[str, int] = {}
    for t, sids in by_table.items():
        row = tables[t].agg(
            *[F.max(schema.sequences[sid].column).alias(sid) for sid in sids]
        ).first()
        for sid in sids:
            if row[sid] is not None:
                out[sid] = int(row[sid])
    return out


def restore_sequences(out_dir: str, sequences: dict[str, int]) -> dict[str, int]:
    """Apply sequence values to a parquet target dir with the reference's
    monotonic-max semantics — setval only when greater
    (`slice_db/restore.py:100-115`, `slice_db/sql.py:44`).  Values live in
    ``_sequences.json``; returns the merged state."""
    path = os.path.join(out_dir, SEQUENCES_FILE)
    state: dict[str, int] = {}
    if os.path.exists(path):
        with open(path) as f:
            state = {k: int(v) for k, v in json.load(f).items()}
    for sid, value in sequences.items():
        if state.get(sid, -(1 << 63)) < int(value):
            state[sid] = int(value)
    if state:
        os.makedirs(out_dir, exist_ok=True)
        with open(path, "w") as f:
            json.dump(state, f, indent=2, sort_keys=True)
    return state


def restore_to_parquet(
    tables: dict[str, DataFrame],
    schema: SchemaConfig,
    out_dir: str,
    mode: str = "append",
    sequences: dict[str, int] | None = None,
    jobs: int = 1,
) -> list[str]:
    """Materialize slice tables under ``out_dir/<table>`` in dependency
    order; returns the order used.  ``sequences`` (id → last_value) are
    merged into the target's ``_sequences.json`` with monotonic-max
    semantics.  ``jobs > 1`` writes dependency-independent tables
    concurrently (:func:`_run_levels`)."""
    try:
        levels = topo_levels(schema, list(tables))
    except CycleError:
        # Parquet has no FK constraints — order is irrelevant for a file
        # sink, so a cyclic schema degrades to sorted order (the JDBC sink
        # would instead require the deferrable single-txn path).
        levels = [sorted(tables)] if jobs > 1 else [[t] for t in sorted(tables)]
    order = _run_levels(
        levels,
        jobs,
        lambda t: tables[t].write.mode(mode).parquet(
            os.path.join(out_dir, t.replace(".", "__"))
        ),
    )
    if sequences:
        restore_sequences(out_dir, sequences)
    return order


#: per-connection init applied by ``disable_triggers`` — PostgreSQL's
#: replica role suppresses user triggers AND FK enforcement for the
#: session (what ``--disable-triggers`` means in pg_restore terms).
DISABLE_TRIGGERS_SQL = "SET session_replication_role = replica"


def restore_to_jdbc(
    tables: dict[str, DataFrame],
    schema: SchemaConfig,
    url: str,
    properties: dict | None = None,
    jobs: int = 1,
    disable_triggers: bool = False,
) -> list[str]:
    """Append slice tables to a live database in FK order (parallel Spark
    JDBC writers — the fast path for acyclic schemas).  ``jobs > 1``
    loads dependency-independent tables concurrently, each on its own
    pool of JDBC writer connections (the reference's ``--jobs`` with
    ``--no-transaction``).  Raises CycleError for cyclic schemas: no
    write order satisfies the constraints, use
    :func:`restore_to_jdbc_deferred`.

    ``disable_triggers`` (reference ``restore --disable-triggers``,
    `slice_db/cli/main.py:157-164` — declared there but never wired to
    its writer; implemented for real here) uses pg_restore's mechanism:
    ``ALTER TABLE ... DISABLE TRIGGER ALL`` on every target table before
    the writes, re-enabled after.  Table-level trigger state is CATALOG
    state, not session state, so it holds across every parallel JDBC
    writer connection the executors open (a session-scoped
    ``session_replication_role`` cannot reach those connections —
    Spark's ``sessionInitStatement`` option applies only to reads).
    FK constraints are system triggers, so this also suspends FK checks;
    requires table ownership/superuser, like pg_restore's equivalent."""
    levels = topo_levels(schema, list(tables))  # CycleError propagates

    def write(t: str) -> None:
        name = schema.tables[t].name if t in schema.tables else t
        tables[t].write.jdbc(
            url=url, table=name, mode="append", properties=properties or {}
        )

    if not disable_triggers or not tables:
        return _run_levels(levels, jobs, write)

    def qual(t: str) -> str:
        meta = schema.tables.get(t)
        name = meta.name if meta else t
        return f'"{meta.schema}"."{name}"' if meta and meta.schema else f'"{name}"'

    spark = next(iter(tables.values())).sparkSession
    conn = _driver_connection(spark, url, properties)
    try:
        st = conn.createStatement()
        for t in tables:
            st.execute(f"ALTER TABLE {qual(t)} DISABLE TRIGGER ALL")
        try:
            return _run_levels(levels, jobs, write)
        finally:
            # best-effort per table: one dead statement must not leave the
            # REMAINING tables with triggers/FK checks off in catalog state
            # (nor mask the original write error with its own)
            failed: list[str] = []
            for t in tables:
                try:
                    st.execute(f"ALTER TABLE {qual(t)} ENABLE TRIGGER ALL")
                except Exception:
                    failed.append(qual(t))
            try:
                st.close()
            except Exception:
                pass
            if failed:
                logging.getLogger(__name__).error(
                    "could not re-enable triggers on: %s", ", ".join(failed)
                )
    finally:
        conn.close()


def _driver_connection(spark, url: str, properties: dict | None = None):
    """One driver-side JDBC connection honoring the same ``properties``
    dict the Spark JDBC writers use (credentials are commonly supplied
    there rather than URL-embedded)."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        props.setProperty(str(k), str(v))
    return jvm.java.sql.DriverManager.getConnection(url, props)


def restore_to_jdbc_with_schema(
    tables: dict[str, DataFrame],
    schema: SchemaConfig,
    url: str,
    sequences: dict[str, int] | None = None,
    pre_data: list[str] | None = None,
    post_data: list[str] | None = None,
    defer_constraints: bool = False,
    jobs: int = 1,
    transaction: bool = False,
    disable_triggers: bool = False,
    properties: dict | None = None,
) -> list[str]:
    """The reference's full live-database restore (`slice_db/restore.py:
    49-115`): replay pre-data DDL, load rows in FK order, apply sequence
    values with setval-if-greater semantics, replay post-data DDL.

    DDL and setval run on one autocommit JDBC connection (each statement
    visible before the parallel Spark writers start); rows go through
    :func:`restore_to_jdbc`, or :func:`restore_to_jdbc_deferred` when
    ``transaction`` (reference ``--transaction``: all rows commit or none
    — one connection, so inherently serial like the reference's
    jobs-vs-transaction trade) or ``defer_constraints`` (cyclic schemas /
    deferrable constraints; implies the single transaction)."""
    if transaction and jobs > 1:
        # the reference's exact rule (`slice_db/restore.py:44-45`)
        raise ValueError("A single transaction must be disabled for parallelism > 1")
    spark = next(iter(tables.values())).sparkSession
    conn = _driver_connection(spark, url, properties)
    try:
        st = conn.createStatement()
        for stmt in pre_data or ():
            st.execute(stmt)
        if defer_constraints or transaction:
            # single-transaction path: one connection by definition, so
            # table-level parallelism cannot apply (the reference makes the
            # same trade: --jobs requires --no-transaction)
            order = restore_to_jdbc_deferred(
                tables,
                schema,
                url,
                defer=defer_constraints,
                disable_triggers=disable_triggers,
                properties=properties,
            )
        else:
            order = restore_to_jdbc(
                tables,
                schema,
                url,
                properties=properties,
                jobs=jobs,
                disable_triggers=disable_triggers,
            )
        for sid, value in (sequences or {}).items():
            s = schema.sequences.get(sid)
            name = s.name if s and s.name else sid
            target = f'"{s.schema}"."{name}"' if s and s.schema else f'"{name}"'
            st.execute(
                f"SELECT pg_catalog.setval('{target}', {int(value)}) "
                f"WHERE (SELECT last_value FROM {target}) < {int(value)}"
            )
        for stmt in post_data or ():
            st.execute(stmt)
        st.close()
    finally:
        conn.close()
    return order


def _copy_line(df: DataFrame) -> DataFrame:
    """Render each row as one PostgreSQL COPY text line (JVM-side: the
    slice sink's escape pipeline, so the driver only relays bytes).
    Binary columns render as ``\\x``-hex bytea input; everything else is
    the Catalyst string cast, which PG's text input parsers accept
    (dates/timestamps/decimals/booleans)."""
    from ..sources.slice import copy_escape

    fields = []
    for name, dtype in df.dtypes:
        col = F.col(name)
        rendered = F.concat(F.lit("\\x"), F.hex(col)) if dtype == "binary" else col.cast("string")
        fields.append(copy_escape(rendered))
    return df.select(F.concat_ws("\t", *fields).alias("value"))


def _copy_chunks(df: DataFrame, flush_bytes: int) -> DataFrame:
    """Glom rendered COPY lines into ~``flush_bytes`` multi-line strings
    JVM-side, so the driver boundary (``toLocalIterator``) is crossed once
    per chunk instead of once per row (~1000× fewer crossings at the
    default 1 MiB).  Row order inside COPY is semantically irrelevant, so
    the grouping only has to keep chunks within one source partition:
    ``monotonically_increasing_id() div rows_per_chunk`` does (ids are
    ``pid<<33 | idx``, so a quotient group can never span partitions for
    any realistic partition size).  ``rows_per_chunk`` comes from a
    1000-row sample of rendered line widths — one cheap job."""
    lines = _copy_line(df)
    sample = lines.limit(1000).select(
        F.avg(F.length("value")).alias("w")
    ).collect()[0]
    avg_width = int(sample["w"] or 0) + 1  # +1 for the newline
    rows_per_chunk = max(1, flush_bytes // avg_width)
    chunk = (F.monotonically_increasing_id() / rows_per_chunk).cast("bigint")
    return (
        lines.groupBy(chunk.alias("_chunk"))
        .agg(F.concat_ws("\n", F.collect_list("value")).alias("value"))
        .select("value")
    )


def _jdbc_value(jvm, v):
    """Convert a Python value to a JDBC-compatible Java object for
    ``setObject``.  date/datetime map to explicit ``java.sql`` types —
    safe for every JDBC driver regardless of which py4j converters the
    session registered.  Decimal passes through: py4j converts it to
    ``java.math.BigDecimal`` natively (both directions)."""
    import datetime

    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += ".%06d" % v.microsecond
        return jvm.java.sql.Timestamp.valueOf(s)
    if isinstance(v, datetime.date):
        return jvm.java.sql.Date.valueOf(v.isoformat())
    return v


def restore_to_jdbc_deferred(
    tables: dict[str, DataFrame],
    schema: SchemaConfig,
    url: str,
    batch_size: int = 1000,
    flush_bytes: int = 1 << 20,
    defer: bool = True,
    disable_triggers: bool = False,
    properties: dict | None = None,
) -> list[str]:
    """Single-transaction restore with ``SET CONSTRAINTS ALL DEFERRED`` —
    the reference's cyclic-FK path (`slice_db/restore.py:131-161`,
    README.md:147-155): a cycle is only restorable when constraint checks
    defer to COMMIT, which requires ONE connection and one transaction.
    ``defer=False`` keeps the one-transaction all-or-nothing contract
    (reference ``--transaction``) with immediate constraint checks —
    legal for acyclic schemas since rows load in topo order.
    ``disable_triggers`` additionally sets the replica replication role
    for the session (no triggers, no FK enforcement).

    Inherently serial, so this is a driver-side writer by design, but the
    row path is COPY, not INSERT: lines are COPY-text-rendered inside
    Spark (:func:`_copy_line` — the same JVM escape pipeline as the TSV
    slice sink), glommed JVM-side into ~``flush_bytes`` multi-line chunks
    (:func:`_copy_chunks`), streamed via ``toLocalIterator`` (one chunk
    per driver crossing), and pushed to
    ``org.postgresql.copy.CopyManager`` — the reference's throughput
    model (`slice_db/restore.py:187-217`).  Against the former per-cell
    py4j ``setObject`` loop this removes ~``rows × cols`` py4j
    round-trips per table; against a per-LINE relay it removes another
    ~1000× of driver crossings, and COPY itself is the fastest
    single-connection ingest PostgreSQL offers.

    Non-PostgreSQL JDBC targets (no CopyManager) fall back to prepared
    statements in ``batch_size`` batches with explicit Java-type
    conversion for date/timestamp/decimal values (py4j cannot auto-convert
    them).  Use :func:`restore_to_jdbc` for acyclic schemas — it
    parallelizes per table."""
    try:
        order = restore_order(schema, list(tables))
    except CycleError:
        order = sorted(tables)  # deferral makes any order legal

    spark = next(iter(tables.values())).sparkSession
    jvm = spark._jvm
    conn = _driver_connection(spark, url, properties)
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        if disable_triggers:
            st.execute(DISABLE_TRIGGERS_SQL)
        if defer:
            st.execute("SET CONSTRAINTS ALL DEFERRED")
        st.close()
        try:
            copy_api = conn.getCopyAPI()  # PgConnection only
        except Exception:
            copy_api = None
        for t in order:
            meta = schema.tables.get(t)
            name = meta.name if meta else t
            qual = f'"{meta.schema}"."{name}"' if meta and meta.schema else f'"{name}"'
            df = tables[t]
            cols = df.columns
            quoted = ", ".join(f'"{c}"' for c in cols)
            if copy_api is not None:
                copy_in = copy_api.copyIn(f"COPY {qual} ({quoted}) FROM STDIN")
                try:
                    for row in _copy_chunks(df, flush_bytes).toLocalIterator():
                        data = (row[0] + "\n").encode("utf-8")
                        copy_in.writeToCopy(data, 0, len(data))
                    copy_in.endCopy()
                except Exception:
                    if copy_in.isActive():
                        copy_in.cancelCopy()
                    raise
            else:
                sql = (
                    f"INSERT INTO {qual} ({quoted}) "
                    f"VALUES ({', '.join(['?'] * len(cols))})"
                )
                ps = conn.prepareStatement(sql)
                pending = 0
                for row in df.toLocalIterator():
                    for i, c in enumerate(cols):
                        ps.setObject(i + 1, _jdbc_value(jvm, row[c]))
                    ps.addBatch()
                    pending += 1
                    if pending >= batch_size:
                        ps.executeBatch()
                        pending = 0
                if pending:
                    ps.executeBatch()
                ps.close()
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()
    return order
