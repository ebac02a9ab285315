"""SparkSession construction tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the conf below is written so
the same code scales to a 1000-executor cluster: AQE enabled for runtime
re-planning (skew joins, partition coalescing), shuffle partitions sized by
env, Arrow enabled for the pandas-UDF scrub path, UTC session timezone so
results are comparable across engines (DuckDB oracles are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def default_driver_memory() -> str:
    """``spark.driver.memory`` unless ``SPARK_GRAFT_DRIVER_MEM`` is set: half
    the host's physical memory, between 1g and 16g.  A fixed 16g let three
    default sessions on a 15 GB host page it until one JVM died."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf: keep the old default
        return "16g"
    return f"{min(max(phys // 2 >> 20, 1024), 16384)}m"


def get_spark(app_name: str = "slice_db_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # managed-table warehouse for bucketed layouts (plans/scale.py);
        # static conf, so it must be set before session creation
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/slice_db_spark_warehouse"),
        )
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # test parquet uses TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in load_catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(os.environ.get("SPARK_GRAFT_LOG_LEVEL", "WARN"))
    return spark


def release(df) -> None:
    """Drop the blocks of a persisted or locally checkpointed DataFrame
    (``unpersist()`` does not reach a checkpoint's RDD)."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def load_catalog(spark: SparkSession, sf_dir: str, tables=TABLES):
    """Load the test star schema as a dict of DataFrames.

    Missing tables are skipped so older sf dirs without documents/embeddings
    still load.

    The fixtures are single-row-group parquet files, which Spark cannot
    split — every scan would run as ONE task.  The text/embedding tables
    feed interpreted higher-order-function and Arrow-Python operators
    (CPU-bound per row), so those are round-robin repartitioned to the
    session's parallelism at load; on a real cluster multi-file inputs
    split naturally and this is a no-op concern.  Relational tables are
    left unsplit so selective filters keep their parquet pushdown.
    """
    from concurrent.futures import ThreadPoolExecutor

    cpu_heavy = {"documents", "embeddings"}
    parallelism = spark.sparkContext.defaultParallelism
    present = [
        (t, os.path.join(sf_dir, f"{t}.parquet"))
        for t in tables
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
    ]

    # Two costs hide in a naive serial `spark.read.parquet` loop: a
    # JVM-side footer-inference pass per table, and the back-to-back py4j
    # round-trips (~2-3 s of catalog-open latency for ten tables on a cold
    # session).  Supplying the schema from the parquet footer via pyarrow
    # (microseconds, no JVM) skips the inference pass entirely;
    # ThreadPoolExecutor overlaps the remaining reader construction.
    def load(tp):
        t, path = tp
        df = None
        st = _spark_schema_from_footer(path)
        if st is not None:
            try:
                df = spark.read.schema(st).parquet(path)
            except Exception:
                df = None  # exotic type mapping — fall back to inference
        if df is None:
            df = spark.read.parquet(path)
        df = normalize_timestamps(df, path)
        if t in cpu_heavy:
            df = df.repartition(parallelism)
        return t, df

    # pays on 4-core local[4]: a cold sf0.1 catalog opens in 0.25-0.34 s,
    # 0.43-0.47 s serially
    with ThreadPoolExecutor(max_workers=min(8, max(1, len(present)))) as ex:
        return dict(ex.map(load, present))


def _spark_schema_from_footer(path: str):
    """Catalyst schema from the parquet footer via pyarrow — no Spark job,
    no JVM round-trip.  Mirrors the session's reader configuration:
    ``timestamp[ns]`` maps to LONG (the ``nanosAsLong`` legacy conf) and
    naive timestamps stay NTZ (``normalize_timestamps`` casts to LTZ).
    Returns None when the footer isn't readable (caller infers)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    target = _first_parquet_part(path)
    if target is None:
        return None
    try:
        arrow = pq.read_schema(target)
        fields = [
            pa.field(f.name, pa.int64(), f.nullable)
            if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns" and f.type.tz is None
            else f
            for f in arrow
        ]
        return from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True)
    except Exception:
        return None


def parquet_row_counts(sf_dir: str, tables=TABLES) -> dict[str, int]:
    """Row counts from parquet FOOTER metadata — zero Spark jobs.  The
    engine's analog of the reference's one-time ``reltuples`` stats scan
    (`slice_db/dump.py:603-613`), used to order traversal edges
    cheapest-destination-first."""
    import pyarrow.parquet as pq

    out = {}
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            out[t] = pq.ParquetFile(path).metadata.num_rows
    return out


def _first_parquet_part(path: str | None) -> str | None:
    """Resolve a fixture file OR a Spark-written directory to one parquet
    part file carrying the (uniform) schema; None when there is none."""
    if path is None:
        return None
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        return os.path.join(path, parts[0]) if parts else None
    return path


def normalize_timestamps(df, path: str | None = None):
    """Normalize event-time columns to session-timezone TIMESTAMP (LTZ).

    Fixture parquet has shipped both TIMESTAMP(NANOS) (read as ``long``
    under ``nanosAsLong``) and naive TIMESTAMP(MICROS) (read as
    ``TIMESTAMP_NTZ``).  Watermarks and cross-engine comparisons want
    plain ``timestamp``; with a UTC session timezone the NTZ→LTZ cast is
    value-preserving, so both shapes converge to the same column.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ns_fields = set()
    part = _first_parquet_part(path)
    if part is not None:
        import pyarrow.parquet as pq

        arrow_schema = pq.read_schema(part)
        ns_fields = {f.name for f in arrow_schema if str(f.type) == "timestamp[ns]"}
    for field in df.schema.fields:
        if isinstance(field.dataType, T.LongType) and field.name in ns_fields:
            df = df.withColumn(
                field.name, F.timestamp_micros((F.col(field.name) / 1000).cast("long"))
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df
