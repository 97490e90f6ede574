"""SparkSession factory + engine configuration.

The reference parameterizes everything through env config
(sample.env:1-29): source DSNs, NMS column, sink routing, batching, and
timestamp-munging flags (SURVEY.md §1.4). Here that becomes a plain
``EngineConfig`` dataclass and one well-tuned local SparkSession.

Scale notes (100 TB / 1000-executor design stance):
- AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  shuffle-partition counts at scale.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. Locally we pin it near core count so tiny SFs don't pay
  200-task overhead.
- Arrow enabled for the (rare) pandas-UDF paths.
- Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "leftshove-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults target the test harness (local[N]), N = ``SPARK_GRAFT_CPUS``
    or else the CPUs this process may run on; N also sets the shuffle
    partitions. On a real cluster the same confs hold, with
    master/resources supplied by the submitter.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Permissive (non-ANSI) arithmetic — the Spark 3.x default. Spark 4
        # flips spark.sql.ansi.enabled on, which wraps every sum/cast in
        # overflow/validity checks; measured ~17% uniform tax on the
        # scan+agg headliners (r7 A/B at sf0.1). The engine's query corpus
        # is NULL-safe by construction (try_divide on any zero-denominator
        # path, lossless decimal up-casts before sums), so the two modes
        # are result-identical here — verified by the full DuckDB oracle
        # gate running under this conf.
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # write micros, not legacy INT96: smaller, pushdown-friendly, and
        # readable by every modern engine without special-casing
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark ≥4.1 infers tz-naive parquet as TIMESTAMP_NTZ; keep the
        # engine on TIMESTAMP (session tz is UTC ⇒ value-identical) so
        # watermarks/unix_micros/ts arithmetic work uniformly
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@dataclass
class EngineConfig:
    """Engine knobs — mirrors the reference's env surface (sample.env:1-29).

    Field ↔ reference mapping:
      replication_buffer_secs  ↔ PG_REPLICATION_BUFFER_SECS (sample.env:7)
      batch_count              ↔ BQ_BATCH_COUNT   (benthos.go:113-116)
      concurrent_streams       ↔ BENTHOS_CONCURRENT_STREAMS (cdc.go:115-118)
      munge_invalid_ts_to_null ↔ MUNGE_INVALID_TIMESTAMPS_TO_NULL (postgres.go:72-79)
      munge_invalid_ts_to_min  ↔ MUNGE_INVALID_TIMESTAMPS_TO_MIN  (postgres.go:80-85)
      munge_min_timestamp      ↔ MUNGE_MIN_TIMESTAMP (postgres.go:72-101; default epoch)
      max_step_hours           ↔ 336h max watermark advance (cdc.go:70, 80)
      backlog_batches          ↔ 8×batch catch-up trigger (cdc.go:69)

    BQ_BATCH_BYTES and BQ_BATCH_PERIOD (benthos.go:117-124) have no
    analog: they size and time the reference's BigQuery load batches,
    and every capture here is one Spark write per window, so no field
    would change anything. Neither has OUTPUT_TYPE (benthos.go:85-105):
    the sink is always parquet.

    The W25 fold has one write layout (whatever its shuffle produces);
    ``maintain_state_every_cycles`` — or a direct
    ``Engine.maintain_state`` call — is the one control that bounds a
    state store's file count and crash debris.
    """

    replication_buffer_secs: int = 180
    batch_count: int = 4096
    concurrent_streams: int = 1
    munge_invalid_ts_to_null: bool = False
    munge_invalid_ts_to_min: bool = False
    munge_min_timestamp: str = "1970-01-01 00:00:00"
    max_step_hours: int = 336
    backlog_batches: int = 8
    # D7: apply additive schema drift to sinks (ADD-COLUMN analog,
    # bigquery.go:366-389). False = reference default (log drift only).
    evolve_schema: bool = False
    # W25: maintain a MATERIALIZED current-state table (<sink>_current)
    # beside each append-only sink — each capture folds its delta via
    # the bucket-selective latest-per-key upsert, so the consumer's hot
    # path reads O(live keys) instead of paying the view's full-history
    # window. False = reference behavior (view only).
    materialize_current_state: bool = False
    # key-bucket count for the W25 table (crc32(pkey) % n); size to the
    # key population — per-bucket state is bounded by live keys
    current_state_buckets: int = 16
    # run Engine.maintain_state (compaction + orphan vacuum; a lost
    # generation race re-plans, retries once, then defers) over every
    # materialized state table every N cycles of Engine.run — the one
    # control for a state store's file count and debris. 0 = off (run
    # Engine.maintain_state from a maintenance window instead); the
    # capture loop stays safe either way because the fold side retries
    # over maintenance commits.
    maintain_state_every_cycles: int = 0
    # read by no engine code; kept only because the benchmark's CDC
    # workload passes it (ROADMAP direction 2 removes both)
    warehouse_dir: str = "/tmp/leftshove_spark_warehouse"
