"""Source readers — the engine's scan surface (SURVEY.md §2.1 S1).

The reference's only source is a Postgres windowed scan executed through
Benthos ``sql_raw`` (benthos.go:77-82); our engine's primary source is
parquet (the test harness's format and the natural 100 TB archive format),
with the JDBC mapping documented on :func:`read_jdbc_window`.

Nanosecond-timestamp handling: the driver's synthetic parquet stores
TIMESTAMP(NANOS) columns, which Spark's vectorized reader rejects
([PARQUET_TYPE_ILLEGAL]). With ``spark.sql.legacy.parquet.nanosAsLong``
those columns arrive as LongType nanoseconds; :func:`load_table`
normalizes them back to TimestampType at microsecond precision (floor
division — identical to DuckDB's nanos→micros truncation, so oracle
comparisons agree). Detection is from the parquet footer via pyarrow, so
the mapping is schema-driven, not hardcoded.
"""

from __future__ import annotations

import os
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fingerprint(path: str) -> tuple:
    """Cheap change-detection key for a parquet file/dir: (mtime, size)
    of the file, or (file count, max mtime) of the directory. Keying the
    caches on it means in-process appends/rewrites invalidate naturally —
    a bare-path key would keep serving stale footer stats (e.g. the
    broadcast gate still hinting a table that has grown past the
    threshold within one long-lived session)."""
    if os.path.isdir(path):
        parts = [
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        ]
        return (len(parts), max((os.path.getmtime(p) for p in parts), default=0.0))
    st = os.stat(path)
    return (st.st_mtime, st.st_size)


def _nano_ts_columns(path: str) -> tuple[str, ...]:
    return _nano_ts_columns_cached(path, _fingerprint(path))


@lru_cache(maxsize=256)
def _nano_ts_columns_cached(path: str, _fp: tuple) -> tuple[str, ...]:
    """Columns physically stored as INT64 TIMESTAMP(NANOS) in the parquet
    footer — the encoding Spark can only read via nanosAsLong (as bigint).

    The check must use the parquet PHYSICAL type, not the arrow-converted
    schema: pyarrow reports legacy INT96 timestamps (Spark's own default
    output format) as timestamp[ns] too, but Spark reads INT96 natively
    as TimestampType — normalizing those would corrupt them."""
    # path may be a directory of part files (our sinks) or a single file
    if os.path.isdir(path):
        parts = [p for p in os.listdir(path) if p.endswith(".parquet")]
        if not parts:
            return ()
        path = os.path.join(path, parts[0])
    meta_schema = pq.read_metadata(path).schema
    out = []
    for i in range(len(meta_schema)):
        col = meta_schema.column(i)
        if (
            col.physical_type == "INT64"
            and col.logical_type.type == "TIMESTAMP"
            and '"timeUnit": "nanoseconds"' in col.logical_type.to_json()
        ):
            out.append(col.name)
    return tuple(out)


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """``spark.sql.legacy.parquet.nanosAsLong`` must be on for Spark to
    read TIMESTAMP(NANOS) parquet at all ([PARQUET_TYPE_ILLEGAL]
    otherwise). It is runtime-settable in Spark 4.x, and the caller may
    hand us ANY session (the correctness harness builds its own), so the
    conf is (re)applied here — on the read path — not at session build.

    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is forced off for the
    same reason: Spark ≥4.1 infers tz-naive parquet timestamps
    (isAdjustedToUTC=false — the test data's encoding, and DuckDB's
    default output) as TIMESTAMP_NTZ, which ``withWatermark``,
    ``unix_micros`` etc. reject. The session tz is pinned UTC, so reading
    naive values as TIMESTAMP is value-identical to NTZ — and matches the
    DuckDB oracle, whose timestamps are UTC-naive.

    ``spark.sql.session.timeZone`` is pinned UTC here too, not only in
    the session factory: the naive→TIMESTAMP normalization is
    value-identical ONLY under UTC, so an externally-built session in
    any other zone would silently shift every wall-clock value relative
    to the oracle.

    Non-ANSI arithmetic is part of the same session contract (see
    session.py): result-identical for the NULL-safe query corpus, ~17%
    cheaper on scan+agg shapes than Spark 4's checked default."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.ansi.enabled", "false"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable conf on some builds; session factory already set it


def cast_ntz_to_timestamp(df: DataFrame) -> DataFrame:
    """Defensive normalization: cast any TIMESTAMP_NTZ column to
    TIMESTAMP. No-op when the NTZ-inference conf above took effect (the
    common case); covers sessions where that conf is immutable or data
    written NTZ explicitly. Value-stable because the session tz is UTC.
    Narrow projection — fused into the scan by codegen, zero cost."""
    from pyspark.sql import types as _T

    ntz = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _T.TimestampNTZType)
    ]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_parquet_normalized(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet, normalizing nano-timestamp columns to TimestampType
    (micros, floor) so all downstream operators see real timestamps. The
    extra projection is a narrow op fused into the scan stage by
    whole-stage codegen — no measurable cost, and filter/column pushdown
    on the remaining columns is unaffected."""
    _ensure_nanos_conf(spark)
    df = spark.read.parquet(path)
    for c in _nano_ts_columns(path):
        # integer division — double division loses precision on int64 nanos
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return cast_ntz_to_timestamp(df)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table by name from an sf dir."""
    return read_parquet_normalized(spark, os.path.join(sf_dir, f"{name}.parquet"))


def estimate_rows(path: str) -> int:
    """Row-count estimate from parquet footers, driver-side, no Spark job
    — the pg_class-stats analog (postgres.go:144-149). Used to gate
    broadcast hints: cheap enough to call at plan-build time. Cached per
    (path, content fingerprint) so rewrites invalidate."""
    return _estimate_rows_cached(path, _fingerprint(path))


@lru_cache(maxsize=256)
def _estimate_rows_cached(path: str, _fp: tuple) -> int:
    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.read_metadata(path).num_rows


def estimate_bytes(path: str) -> int:
    """Uncompressed-size estimate from parquet footers (sum of row-group
    ``total_byte_size``), driver-side, no Spark job — the companion of
    :func:`estimate_rows` for BYTE-gated decisions. Broadcast hints must
    gate on bytes, not rows: a 10M-row dim of wide strings is multiple
    GB in executor memory even though its row count reads
    dimension-sized. Uncompressed is the right basis — that is what the
    broadcast relation occupies after decoding."""
    return _estimate_bytes_cached(path, _fingerprint(path))


def _meta_total_bytes(md) -> int:
    return sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))


@lru_cache(maxsize=256)
def _estimate_bytes_cached(path: str, _fp: tuple) -> int:
    if os.path.isdir(path):
        return sum(
            _meta_total_bytes(pq.read_metadata(os.path.join(path, f)))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return _meta_total_bytes(pq.read_metadata(path))


def read_jdbc_window(
    spark: SparkSession,
    url: str,
    query: str,
    *,
    partition_column: str | None = None,
    lower: str | None = None,
    upper: str | None = None,
    num_partitions: int = 1,
    query_timeout_s: int | None = None,
    fetchsize: int | None = None,
) -> DataFrame:
    """S1's literal JDBC form — a windowed source scan with optional
    intra-table parallelism (the reference runs each table as ONE
    sequential stream, cdc.go:115-140; Spark shards the same window scan
    across ``num_partitions`` executors via partitionColumn bounds, a
    strict scale improvement, SURVEY.md §4).

    ``query_timeout_s`` maps the reference's per-statement timeout
    (``statement_timeout`` from PG_TIMEOUT_MILLIS, postgres.go:34) to the
    Spark JDBC ``queryTimeout`` option (seconds — callers converting from
    the reference's millisecond env var divide by 1000). ``fetchsize``
    is the row-batch envelope of the JDBC cursor (the batching analog of
    benthos.go's count/byte_size knobs). No live JDBC endpoint exists in
    this harness; the option contract is pinned by
    tests/test_jdbc_contract.py against a recording stub reader."""
    reader = spark.read.format("jdbc").option("url", url).option("query", query)
    if partition_column:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", lower)
            .option("upperBound", upper)
            .option("numPartitions", str(num_partitions))
        )
    if query_timeout_s is not None:
        reader = reader.option("queryTimeout", str(int(query_timeout_s)))
    if fetchsize is not None:
        reader = reader.option("fetchsize", str(int(fetchsize)))
    return reader.load()
