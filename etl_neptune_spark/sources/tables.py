"""Snapshot-table sources.

The reference extracts from four source families — SQL-over-HTTP scans,
AWS API paginated scans, K8s API scans, and template fetches (reference
`lambda/etl_deepflow/neptune_etl_deepflow.py:116-136`,
`lambda/etl_aws/neptune_etl_aws.py:356-782`,
`lambda/etl_cfn/neptune_etl_cfn.py:169-198`). In this engine every
source materializes as a columnar Parquet snapshot table read through
``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning, and partition pruning for free — the collect_* flatten step of
the reference becomes a plain ``select`` projection (SURVEY §2.1 SRC1).

Every parquet read without a given schema goes through ``read_parquet``,
which infers a schema once per footer layout and session settings:
Spark's inference reads only the footer's message type, the footer's
Spark row-metadata entry and the ``_INFERENCE_CONFS`` settings, so a
single local file whose footer and settings match a file read before
takes that file's schema and launches no inference job. Directories
and non-local paths are inferred on every read.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver-generated snapshot tables (TESTDATA.md).
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Driver parquet generations have stored timestamps either as
# TIMESTAMP(MICROS) — which Spark reads as TIMESTAMP_NTZ when the file
# carries isAdjustedToUTC=false — or as TIMESTAMP(NANOS), which Spark
# surfaces as nanos-since-epoch longs under
# spark.sql.legacy.parquet.nanosAsLong (see session.get_spark).
# load_table normalizes BOTH encodings to plain TimestampType
# (microsecond precision — the same truncation DuckDB applies when
# reading TIMESTAMP_NS), so downstream plans see one schema either way
# and time functions like unix_millis/unix_timestamp (which reject NTZ)
# always analyze. The session is pinned to UTC so the NTZ→TIMESTAMP
# reinterpretation is exact.
_NANOS_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# The session settings Spark 4.1's parquet schema inference reads
# (ParquetToSparkSchemaConverter, including its variant reader).
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
)
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# Inferred schemas by (message type, Spark row metadata, settings).
_SCHEMAS: dict[tuple, T.StructType] = {}


def _layout_key(spark: SparkSession, path: str) -> tuple | None:
    """The inference key of a single local parquet file, read from its
    footer on the driver; None for a directory, a non-local path or a
    footer pyarrow cannot read."""
    import pyarrow.parquet as pq

    url = urlparse(path)
    local = url.path if url.scheme == "file" else path
    if url.scheme not in ("", "file") or not os.path.isfile(local):
        return None
    try:
        meta = pq.read_metadata(local)
    except (OSError, ValueError):
        return None
    # The first line of pyarrow's text names the object's address.
    message = str(meta.schema).split("\n", 1)[1]
    row_meta = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    return message, row_meta, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema of an earlier read
    of the same footer layout under the same settings when there is one
    (no inference job)."""
    key = _layout_key(spark, path)
    schema = None if key is None else _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMAS[key] = df.schema
    return df


def _pin_utc(spark: SparkSession) -> None:
    # All NTZ↔instant round-trips in this module assume a UTC session;
    # pin it defensively for sessions not built by session.get_spark
    # (e.g. the verification driver's own session), matching the
    # nanosAsLong defensive set below.
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str, raw_filter=None) -> DataFrame:
    """Read one snapshot table. Plain parquet scan → full pushdown.

    ``raw_filter`` (a Column predicate over the *raw* parquet schema,
    i.e. before the timestamp restoration) is applied directly on
    the scan so simple comparisons against literals reach the reader as
    ``PushedFilters`` — the hook the lookback-window plans use to get
    row-group / partition pruning on the time axis.
    """
    # Runtime-settable; required even when the session wasn't built by
    # session.get_spark (e.g. the verification driver's own session).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _pin_utc(spark)
    df = read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")
    if raw_filter is not None:
        df = df.filter(raw_filter)
    dtypes = dict(df.dtypes)
    for c in _NANOS_TS_COLS.get(name, ()):
        # `div` truncates toward zero; identical to floor division for
        # the post-1970 (non-negative) epochs this data model uses.
        if c in df.columns and dtypes[c] == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    # NTZ→TIMESTAMP: a pure reinterpretation under the UTC session pin,
    # applied to every NTZ column (not just the known time columns) so
    # the "one schema either way" contract holds for any future table.
    for c, dt in dtypes.items():
        if dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Driver-resolved time anchors, cached per (table path, column) and the
# file's (size, mtime), so a table rewritten at the same path is anchored
# again. One tiny bounded action per process per table version — the one
# place a driver-side value is the right plan (VERDICT r1): a `max(ts)`
# scan is answerable from parquet footer stats
# (spark.sql.parquet.aggregatePushdown), and turning the anchor into a
# literal is what lets the main scan's lookback predicate
# partition-prune instead of reading all history. Mirrors the
# reference's source-side literal window (etl_df/neptune_etl_df.py:641,
# `time > now() - 300` pushed into the store).
# Cache value: (max epoch-micros | None, raw parquet dtype string).
_ANCHOR_CACHE: dict[tuple, tuple[int | None, str]] = {}


def _ts_anchor(
    spark: SparkSession, sf_dir: str, table: str = "events", col: str = "ts"
) -> tuple[int | None, str]:
    """(max epoch-micros of the time column, raw parquet dtype string).

    Works for both parquet encodings: TIMESTAMP(MICROS) (TimestampType
    or TIMESTAMP_NTZ, ``unix_micros`` post-agg) and
    TIMESTAMP(NANOS)-as-bigint (``div 1000``). The aggregate is
    answerable from parquet footer stats (aggregatePushdown), so the
    action is bounded regardless of table size.
    """
    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    try:
        st = os.stat(path)
        version = (st.st_size, st.st_mtime_ns)
    except OSError:
        version = None
    key = (path, col, version)
    if key not in _ANCHOR_CACHE:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _pin_utc(spark)
        df = read_parquet(spark, path)
        raw_dt = dict(df.dtypes).get(col, "")
        raw_nanos = raw_dt == "bigint"
        prev = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        try:
            agg = df.agg(F.max(col).alias("mx"))
            # cast handles both TIMESTAMP and TIMESTAMP_NTZ raw columns;
            # the session is pinned to UTC (above) so the NTZ round-trip
            # through epoch micros (here and in load_events_lookback) is
            # exact.
            mx = F.expr("mx div 1000") if raw_nanos else F.unix_micros(F.col("mx").cast("timestamp"))
            row = agg.select(mx.alias("mx_us")).first()
        finally:
            spark.conf.set("spark.sql.parquet.aggregatePushdown", prev)
        _ANCHOR_CACHE[key] = (None if row is None else row["mx_us"], raw_dt)
    return _ANCHOR_CACHE[key]


def max_ts_micros(spark: SparkSession, sf_dir: str, table: str = "events", col: str = "ts") -> int | None:
    """Max value of a snapshot table's time column, as epoch micros."""
    return _ts_anchor(spark, sf_dir, table, col)[0]


def lookback_cutoff_micros(
    spark: SparkSession, sf_dir: str, days: int, table: str = "events", col: str = "ts"
) -> int | None:
    """Epoch-micros cutoff for a trailing ``days`` window ending at
    max(ts) — bit-identical to ``ts >= max_ts - INTERVAL days DAYS`` on
    the microsecond-precision TimestampType column."""
    max_us = max_ts_micros(spark, sf_dir, table, col)
    if max_us is None:
        return None
    return max_us - days * 86_400 * 1_000_000


def load_events_lookback(spark: SparkSession, sf_dir: str, days: int) -> DataFrame:
    """``events`` restricted to the trailing ``days`` window, with the
    cutoff resolved to a literal so the predicate reaches the parquet
    scan (``PushedFilters`` / row-group stats / partition pruning on a
    date-partitioned layout). At 100 TB this is the difference between
    scanning 5 minutes and scanning all history (VERDICT r1 §Perf)."""
    cutoff_us = lookback_cutoff_micros(spark, sf_dir, days)
    if cutoff_us is None:
        return load_table(spark, sf_dir, "events", raw_filter=F.lit(False))
    _, raw_dt = _ts_anchor(spark, sf_dir, "events", "ts")
    # Every branch constant-folds to a pushable literal predicate on the
    # raw scan column; in nanos space `ns div 1000 >= C_us` iff
    # `ns >= C_us * 1000` for the post-1970 (non-negative) epochs this
    # data model uses, so the encodings filter identically.
    if raw_dt == "bigint":
        raw_filter = F.col("ts") >= F.lit(cutoff_us * 1_000)
    else:
        cut = F.timestamp_micros(F.lit(cutoff_us))
        if raw_dt == "timestamp_ntz":
            cut = cut.cast("timestamp_ntz")
        raw_filter = F.col("ts") >= cut
    return load_table(spark, sf_dir, "events", raw_filter=raw_filter)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Read several snapshot tables at once."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register snapshot tables as temp views for the SQL surface."""
    for n in names or TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
