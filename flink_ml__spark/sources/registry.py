"""Table loading for the synthetic TPC-H-ish test datasets.

The reference reads its fixtures driver-side (BufferedReader →
``env.fromCollection``, ``example/AHPExample.java:52-72``); here sources
are real distributed parquet scans with predicate pushdown and column
pruning via the DataFrame reader.

One environment quirk handled centrally: ``events.parquet`` stores ``ts``
as parquet TIMESTAMP(NANOS), which Spark's reader only accepts as int64
via ``spark.sql.legacy.parquet.nanosAsLong``; we set that at read time and
convert back to a proper timestamp column (microsecond precision).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# session confs the engine's semantics REQUIRE: non-ANSI (Java-like
# NULL-propagating) arithmetic, and epoch-aligned UTC event-time windows
# (F.window buckets shift with the session tz, diverging from the
# DuckDB oracles)
_REQUIRED_CONF = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def _pin_session_conf(spark: SparkSession,
                      extra: dict[str, str] | None = None) -> None:
    """Pin the engine's required session confs, LOUDLY when that changes
    an effective value: the driver may hand us a foreign session, and
    the pin must win for correctness — but silently re-timezoning a
    user's session mid-flight is worse than a warning. A value that
    already matches is left alone: no warning, no ``conf.set`` round
    trip, so subsequent calls only read."""
    import warnings

    for k, v in {**_REQUIRED_CONF, **(extra or {})}.items():
        cur = spark.conf.get(k, None)
        if cur is not None and cur.lower() == v.lower():
            continue
        if cur is not None:
            warnings.warn(
                f"load_table: overriding session conf {k}={cur!r} with "
                f"{v!r} — required for the engine's oracle-parity "
                "semantics (non-ANSI arithmetic, UTC event-time)",
                RuntimeWarning, stacklevel=3)
        spark.conf.set(k, v)


# parquet schemas already inferred in this process: path -> (the file's
# (st_size, st_mtime_ns, st_ino) when inferred, schema); one entry per
# path, replaced when the file changes
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing a schema inferred earlier
    for the same file instead of reading its footer again."""
    try:
        st = os.stat(path)
    except OSError:  # not a local path: no identity to key on
        return spark.read.parquet(path)
    ident = (st.st_size, st.st_mtime_ns, st.st_ino)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == ident:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (ident, df.schema)
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one test table as a distributed parquet scan.

    Contract: this call pins ``spark.sql.ansi.enabled=false`` and
    ``spark.sql.session.timeZone=UTC`` on the GIVEN session (plus
    ``nanosAsLong`` for ``events``) — the engine's NULL/arithmetic and
    event-time semantics depend on them. A session that carried
    different values is overridden with a ``RuntimeWarning``; pass a
    dedicated session (``flink_ml__spark.session.get_spark``) if those
    confs must not change.

    Schema memo: the first load of a file infers its schema from the
    parquet footer (a Spark job, ~70 ms on a 4-core host); later loads
    in the same process pass that schema to ``spark.read.schema``
    (~10 ms, no job). The memo
    is keyed by the path's ``(path, st_size, st_mtime_ns, st_ino)``, so
    a file rewritten at the same path — even with another schema — gets
    a new key and is inferred again. A dataset directory is keyed by the
    directory's own stat, which changes when files are added, removed or
    renamed in it (Spark's overwrite recreates the directory); a path
    ``os.stat`` cannot see (a remote URI) is inferred every time."""
    sf_dir = sf_dir or DEFAULT_SF_DIR
    _pin_session_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        _pin_session_conf(
            spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"})
        df = _read_parquet(spark, path)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            # integer division: `/` goes through double and epoch-nanos
            # (~1.7e18) exceed double's 2^53 exact range, silently
            # perturbing ~12% of timestamps by 1 µs
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif not isinstance(df.schema["ts"].dataType, T.TimestampType):
            # newer fixtures store ts as parquet timestamp[us] with no
            # timezone → Spark reads TIMESTAMP_NTZ, which time functions
            # like unix_millis reject; with the session tz pinned to UTC
            # (above) the cast is a pure re-tag, not a wall-clock shift
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet(spark, path)


def read_csv(spark: SparkSession, path: str, *, header: bool = True,
             infer_schema: bool = True, schema: str | None = None,
             sep: str = ",") -> DataFrame:
    """CSV source — the reference's fixtures are CSVs read driver-side
    (``example/AHPExample.java:52-72``); here it is a distributed scan
    with column pruning (schema inference runs one extra pass, so pass an
    explicit ``schema`` for large inputs)."""
    reader = (spark.read.option("header", header).option("sep", sep))
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, *,
              schema: str | None = None, multiline: bool = False) -> DataFrame:
    """JSON-lines source (``pom.xml:69-77`` declares a JSON connector the
    reference never exercises). Pass an explicit ``schema`` (DDL string)
    for large inputs — inference costs an extra pass."""
    reader = spark.read.option("multiline", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(df: DataFrame, path: str, *, mode: str = "overwrite",
                  partition_by: list[str] | None = None,
                  max_records_per_file: int | None = None) -> None:
    """Partitioned parquet sink. ``partition_by`` columns become
    directory partitions — the scan-side contract for partition pruning
    (filters on those columns skip whole directories at 100 TB).
    ``max_records_per_file`` caps file sizes so downstream scans get
    even splits."""
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(df: DataFrame, table: str, bucket_cols: list[str],
                         num_buckets: int, *, mode: str = "overwrite",
                         sort_cols: list[str] | None = None,
                         path: str | None = None) -> None:
    """Bucketed managed-table sink: co-locates future joins/aggregations
    on ``bucket_cols`` — two tables bucketed the same way join with NO
    shuffle on either side, the highest-leverage layout choice for
    repeated large-scale joins. (Bucketing requires ``saveAsTable``;
    plain ``.parquet(path)`` cannot record bucket metadata.)"""
    writer = (df.write.mode(mode)
              .bucketBy(num_buckets, *bucket_cols))
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def read_stream(spark: SparkSession, fmt: str, **options) -> DataFrame:
    """Streaming source factory (``pom.xml:69-77`` declares Kafka/JSON
    connectors the reference never exercises). ``fmt``: 'kafka', 'rate',
    'parquet', ... — options passed through to ``readStream``; file
    formats require a ``schema`` option (DDL string)."""
    reader = spark.readStream.format(fmt)
    schema = options.pop("schema", None)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def register_tables(spark: SparkSession, sf_dir: str | None = None,
                    tables: list[str] | None = None) -> dict[str, DataFrame]:
    """Load + register each table as a temp view; returns the DataFrames."""
    out = {}
    for name in tables or TABLES:
        df = load_table(spark, name, sf_dir)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def zorder_key(df: DataFrame, cols: list[str], *, bits: int = 8):
    """Z-order (Morton) curve key over ``cols`` — the multi-column
    clustering layout (Morton 1966; Delta Lake's OPTIMIZE ZORDER
    uses the same idea): each column quantizes into ``2^bits``
    equal-width cells between its min and max (a tiny driver
    aggregate, folded in as literals), and the cell indices' bits
    interleave so rows close in EVERY dimension get close keys.
    Sorting/range-partitioning by the key clusters multi-dimensional
    neighborhoods into the same files, so per-file min/max stats
    prune scans filtered on ANY of the columns — single-column sort
    orders only prune their leading column. Returns
    ``(key_column, stats)`` where stats maps col → (min, max).

    Total key width is ``bits·len(cols)`` and must fit a bigint
    (≤ 62); NULLs and constant columns quantize to cell 0.
    """
    if not cols:
        raise ValueError("need at least one column")
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must be <= 62")
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"__mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    stats = {c: (row[f"__mn_{c}"], row[f"__mx_{c}"]) for c in cols}
    n_cells = 1 << bits
    key = F.lit(0).cast("bigint")
    for ci, c in enumerate(cols):
        mn, mx = stats[c]
        if mn is None or mx is None or mx == mn:
            continue  # constant/empty column adds no bits
        scale = n_cells / (mx - mn)
        q = F.least(
            F.greatest(
                F.floor((F.col(c).cast("double") - F.lit(mn))
                        * F.lit(scale)).cast("bigint"),
                F.lit(0).cast("bigint")),
            F.lit(n_cells - 1).cast("bigint"))
        q = F.coalesce(q, F.lit(0).cast("bigint"))
        for b in range(bits):
            key = key + (F.shiftright(q, b).bitwiseAND(F.lit(1))
                         * F.lit(1 << (b * len(cols) + ci)).cast("bigint"))
    return key, stats


def write_zorder_parquet(df: DataFrame, path: str, cols: list[str], *,
                         bits: int = 8, num_files: int = 8,
                         mode: str = "overwrite") -> None:
    """Z-order clustered parquet sink: range-partition on the Morton
    key into ``num_files`` splits and sort within each, so parquet
    row-group/file min-max stats are tight on EVERY ``cols`` member
    and scans filtered on any of them prune files. The key is layout
    only — it is not written."""
    key, _ = zorder_key(df, cols, bits=bits)
    (df.withColumn("__zk", key)
     .repartitionByRange(num_files, "__zk")
     .sortWithinPartitions("__zk")
     .drop("__zk")
     .write.mode(mode).parquet(path))


def read_jsonl_stream(spark: SparkSession, path: str, schema: str,
                      *, watermark: tuple[str, str] | None = None,
                      **options) -> DataFrame:
    """JSON-lines file streaming source — the exercised counterpart of
    the reference's declared (never-used) JSON connector
    (``pom.xml:69-77``): newline-delimited JSON files appearing under
    ``path`` stream in with the declared ``schema`` (DDL string —
    REQUIRED: schema inference on an unbounded source would re-scan
    forever). ``watermark=("ts_col", "10 minutes")`` attaches the
    late-data bound windowed aggregations need.

    100 TB design: file listing is incremental (new files only);
    parsing is Catalyst's native JSON reader (JVM, no Python);
    corrupt lines land NULL per ``mode=PERMISSIVE`` unless overridden
    via ``options``."""
    reader = spark.readStream.schema(schema).format("json")
    for k, v in options.items():
        reader = reader.option(k, v)
    out = reader.load(path)
    if watermark is not None:
        out = out.withWatermark(*watermark)
    return out


def read_kafka_json(spark: SparkSession, bootstrap_servers: str,
                    topic: str, value_schema: str, *,
                    starting_offsets: str = "earliest",
                    watermark: tuple[str, str] | None = None,
                    **options) -> DataFrame:
    """Kafka JSON-value streaming source (the reference's other
    declared connector): the canonical plan is kafka source → value
    cast to string → ``from_json`` with a declared schema (one codegen
    projection) → payload fields plus the kafka metadata columns
    (``topic``, ``partition``, ``offset``, ``kafka_ts``).

    Requires the spark-sql-kafka connector package on the classpath;
    without it, ``.load()`` raises Spark's missing-data-source error
    at plan-build time (fail-fast — no silent stub).

    100 TB design: one consumer per kafka partition; keep topic
    partitions ≥ executor cores. The JSON parse is JVM-side; schema
    drift lands NULL fields (PERMISSIVE), which
    :class:`~flink_ml__spark.functions.linkage.JsonSchemaProfiler`
    run on a batch sample detects before it silently poisons a
    pipeline."""
    reader = (spark.readStream.format("kafka")
              .option("kafka.bootstrap.servers", bootstrap_servers)
              .option("subscribe", topic)
              .option("startingOffsets", starting_offsets))
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.load()
    out = (raw.select(
        F.from_json(F.col("value").cast("string"), value_schema)
         .alias("__v"),
        "topic", "partition", "offset",
        F.col("timestamp").alias("kafka_ts"))
        .select("__v.*", "topic", "partition", "offset", "kafka_ts"))
    if watermark is not None:
        out = out.withWatermark(*watermark)
    return out


def read_orc(spark: SparkSession, path: str,
             schema: str | None = None) -> DataFrame:
    """ORC source (built into Spark; the columnar lake format besides
    parquet that warehouse migrations actually carry). Predicate
    pushdown and column pruning work identically to parquet — the
    `.explain` PushedFilters/ReadSchema contract holds."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
    """Partitioned ORC sink — same partition-pruning contract as
    :func:`write_parquet`."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_text(spark: SparkSession, path: str, *,
              whole: bool = False) -> DataFrame:
    """Raw-text corpus source: one row per LINE (``value`` string), or
    one row per FILE with ``wholetext`` — the two shapes raw crawl/
    corpus drops arrive in before any schema exists. Pair with
    ``F.input_file_name()`` upstream for provenance columns."""
    return spark.read.option("wholetext", whole).text(path)


def write_jsonl(df: DataFrame, path: str, *, mode: str = "overwrite",
                compression: str | None = "gzip") -> None:
    """JSON-lines sink (one object per line, optionally gzipped) — the
    interchange format most external training-data tooling consumes."""
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def overwrite_partitions(df: DataFrame, path: str,
                         partition_by: list[str]) -> None:
    """DYNAMIC partition overwrite: replace ONLY the directory
    partitions present in ``df``, leaving every other partition of the
    table untouched — the idempotent daily-reload pattern (re-running
    yesterday's load must not wipe the rest of the table, which is
    exactly what a plain ``mode("overwrite")`` + ``partitionBy`` does).

    Implemented with Spark's ``partitionOverwriteMode=dynamic`` scoped
    to THIS write (writer-level option — no session-conf mutation, so
    concurrent writers keep their own semantics)."""
    if not partition_by:
        raise ValueError("partition_by must be non-empty — use "
                         "write_parquet for unpartitioned tables")
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_by)
     .parquet(path))


def read_merged_schema(spark: SparkSession, path: str) -> DataFrame:
    """Parquet source with SCHEMA EVOLUTION: union the footers of every
    file so late-added columns surface as NULL for old files
    (``mergeSchema`` — off by default in Spark because footer-merging
    costs a pass over file metadata; turn it on deliberately at read
    time, never session-wide)."""
    return spark.read.option("mergeSchema", True).parquet(path)
