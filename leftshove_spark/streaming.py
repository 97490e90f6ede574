"""Structured Streaming CDC variant — the ``-cdc`` loop as a stream
(SURVEY.md §7 Phase 4; main.go:47-65, cdc.go:16-145).

The reference's loop re-queries a window per cycle; the Spark-native
generalization is a file-source stream over a landing directory:

    readStream(landing) → capture transform (F2–F6) → withWatermark (W3)
      → foreachBatch(append + watermark commit) (W5)

Mapping to the reference:

- **W1 micro-batch loop** — ``trigger(availableNow=True)`` is ``-runonce``
  (drain what exists, stop); ``trigger(processingTime=...)`` is the
  ``for { cdc() }`` loop, with the trigger period playing the role of the
  sink batch period (benthos.go:121-124).
- **F1 windowing** — the file source's *new-file tracking* replaces the
  NMS window predicate: each micro-batch is exactly the not-yet-processed
  input, the same "each row captured once" contract, enforced by the
  checkpoint rather than a generated WHERE clause.
- **W3 replication buffer** — ``withWatermark(nms, buffer)`` bounds how
  late a row may arrive and still join stateful aggregations; the same
  lag the reference keeps via ``hi ≤ now − buffer`` (cdc.go:72-76).
- **W5 transactional commit** — offsets are committed to the checkpoint
  only after ``foreachBatch`` returns, so a failed batch is retried:
  at-least-once append + the J3 dedup view = the reference's delivery
  model, exactly (cdc.go:127-136). The StateStore watermark is advanced
  inside the batch fn for parity/observability with the batch engine.
- **W4 fan-out** — one StreamingQuery per table; Spark schedules them
  concurrently on the shared executor pool (cdc.go:115-140).
- **§2.11 processor hook** — ``transform`` is the Bloblang-slot analog
  (benthos.go:39-44): an arbitrary DataFrame→DataFrame applied between
  source and sink.

Scale notes: file-source streams scale to thousands of files per trigger
(``maxFilesPerTrigger`` is the backpressure knob ≙ batch_count); the
capture transform stays narrow (zero shuffle per batch); watermark state
is O(1). At 100 TB the landing dir would be an object-store prefix and
the checkpoint a durable path — same code.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

# Executor-raised marker for the fused version-stamp conflict check in
# _maintain_bucketed_state: the assert_true message leads with this so
# the driver-side except arm can recognize the failure and re-raise it
# as the contractual ValueError (tests match "version key").
_VK_CONFLICT_MARK = "conflicting payloads share a version key"

from .schema import SNAPSHOT_COL
from .snapshot import rewrite_column
from .sources import _nano_ts_columns, _ensure_nanos_conf, cast_ntz_to_timestamp
from .state import StateStore


def _timestamp_schema(schema):
    """Rewrite TIMESTAMP_NTZ fields to TIMESTAMP in an explicit reader
    schema. Streaming event time MUST be TimestampType (``withWatermark``
    rejects NTZ); with the session tz pinned UTC the re-typed read is
    value-identical, so forcing it at the schema seam keeps every
    downstream stream builder type-stable under Spark ≥4.1's NTZ
    inference."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(f.name, T.TimestampType(), f.nullable, f.metadata)
            if isinstance(f.dataType, T.TimestampNTZType)
            else f
            for f in schema.fields
        ]
    )


def _streaming_source(
    spark: SparkSession,
    landing_dir: str,
    max_files: int | None,
    schema=None,
):
    """File-source readStream with the engine's nano-timestamp
    normalization (streaming requires an explicit schema; we take it from
    the files already landed — the reference likewise seeds schema before
    capture, postgres.go:158-184). ``schema`` overrides the inference
    for a source dir that has NO files yet — the live composed pipeline
    (W28) starts its downstream stages on still-empty intermediate dirs
    whose schema is known from the landing dir. An explicit schema is
    the BATCH-VISIBLE one (post nano-normalization): the caller derived
    it from a batch read, so no nano rewrite is applied."""
    _ensure_nanos_conf(spark)
    if schema is None:
        schema = spark.read.parquet(landing_dir).schema
        nano_cols = _nano_ts_columns(landing_dir)
    else:
        nano_cols = []
    reader = spark.readStream.schema(_timestamp_schema(schema))
    if max_files:
        reader = reader.option("maxFilesPerTrigger", str(max_files))
    df = reader.parquet(landing_dir)
    for c in nano_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _spark_field_paths(struct) -> set[str]:
    """Every dotted field path a Spark StructType resolves — top-level
    names plus nested struct fields (through arrays and maps): the
    exact namespace a parquet scan projects by, so the drift guard can
    catch an ADDED NESTED field, not only top-level columns."""
    from pyspark.sql import types as T

    out: set[str] = set()

    def walk(prefix: str, dt) -> None:
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                out.add(prefix + f.name)
                walk(prefix + f.name + ".", f.dataType)
        elif isinstance(dt, T.ArrayType):
            walk(prefix + "element.", dt.elementType)
        elif isinstance(dt, T.MapType):
            walk(prefix + "key.", dt.keyType)
            walk(prefix + "value.", dt.valueType)

    walk("", struct)
    return out


def _arrow_field_paths(schema) -> set[str]:
    """The pyarrow-footer mirror of :func:`_spark_field_paths` — same
    dotted-path namespace, so set difference is exactly the fields a
    pinned-schema scan would silently drop."""
    import pyarrow as pa

    out: set[str] = set()

    def walk(prefix: str, typ) -> None:
        if pa.types.is_struct(typ):
            for f in typ:
                out.add(prefix + f.name)
                walk(prefix + f.name + ".", f.type)
        elif (
            pa.types.is_list(typ)
            or pa.types.is_large_list(typ)
            or pa.types.is_fixed_size_list(typ)
        ):
            walk(prefix + "element.", typ.value_type)
        elif pa.types.is_map(typ):
            walk(prefix + "key.", typ.key_type)
            walk(prefix + "value.", typ.item_type)

    for f in schema:
        out.add(f.name)
        walk(f.name + ".", f.type)
    return out


def make_schema_drift_guard(landing_dir: str, pinned_schema) -> Callable[[], None]:
    """Per-trigger guard against the ONE schema-evolution failure a
    pinned-schema file stream cannot surface itself (VERDICT r15 next
    #3, W29): a file landing with fields the stream's schema LACKS is
    silently projected down — the new field's data is dropped with no
    error, and once the batch's checkpoint commits, dropped for good.
    Compared as full DOTTED PATHS (r16 review), so an added field
    inside a nested struct (``meta.lang``) is caught exactly like a
    new top-level column. (Changed/incompatible types already fail
    loudly at scan time; files NARROWER than the schema are
    legitimately NULL-padded.)

    The returned callable is invoked at the top of each ``foreachBatch``
    — BEFORE any write, so raising aborts the batch with its checkpoint
    uncommitted: stop the pipeline, restart with the widened schema, and
    the flagged file re-reads in full (lossless additive evolution via
    restart — the D7a discipline one layer up). Cost per trigger: one
    directory listing (the same O(dir) listing the file source itself
    performs to discover the trigger's files) plus footer reads for
    files newer than the mtime high-water cursor — O(new files) ~ the
    ingest rate; the de-dup memory holds only files inside the cursor's
    slack window, never one entry per file ever landed (r16 review).
    Assumption the cursor rests on: files LAND with fresh mtimes (true
    for Spark writes and any copy that stamps on write); a producer
    that preserves ancient mtimes (``cp -p``) slips under the cursor —
    land through a normal write path."""
    import pyarrow.parquet as pq

    pinned = _spark_field_paths(pinned_schema)
    slack = 60.0  # mtime granularity/ordering slop across writers
    state = {"cursor": 0.0, "seen": {}}

    def check() -> None:
        cursor = state["cursor"]
        seen = state["seen"]
        new_cursor = cursor
        failed_floor = None  # keep the cursor behind unreadable files
        for dirpath, dirnames, filenames in os.walk(landing_dir):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            for e in filenames:
                if not e.endswith(".parquet") or e.startswith(("_", ".")):
                    continue
                p = os.path.join(dirpath, e)
                try:
                    mt = os.path.getmtime(p)
                except OSError:
                    continue
                if mt < cursor - slack or p in seen:
                    continue
                try:
                    paths = _arrow_field_paths(pq.read_schema(p))
                except (OSError, ValueError):
                    # mid-write file — recheck next trigger; hold the
                    # cursor at/below it so it stays in the window even
                    # if its mtime never advances
                    failed_floor = mt if failed_floor is None else min(failed_floor, mt)
                    continue
                extra = sorted(paths - pinned)
                if extra:
                    # raise WITHOUT marking the file seen or advancing
                    # the cursor: Structured Streaming retries the
                    # batch, and the retry must re-flag the same file,
                    # not sail past it as already-examined
                    raise ValueError(
                        f"schema drift in {landing_dir}: {e} carries "
                        f"field(s) {extra} the stream's pinned schema "
                        "lacks — the file source would silently DROP "
                        "them. Stop the pipeline and restart it with "
                        "the widened schema — derive it with a "
                        "mergeSchema read (spark.read.option("
                        "'mergeSchema','true').parquet(landing_dir)"
                        ".schema; a plain read samples ONE footer and "
                        "can return the narrow shape again). This "
                        "batch's checkpoint is uncommitted, so the "
                        "file re-reads in full — no data loss. Or "
                        "re-land the file without the new fields."
                    )
                seen[p] = mt
                new_cursor = max(new_cursor, mt)
        if failed_floor is not None:
            new_cursor = min(new_cursor, failed_floor)
        state["cursor"] = new_cursor
        state["seen"] = {
            q: m for q, m in seen.items() if m >= new_cursor - slack
        }

    return check


def _start_file_stream(
    spark: SparkSession,
    *,
    query_name: str,
    landing_dir: str,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
    once: bool,
    processing_time: str,
    max_files_per_trigger: int | None = None,
    source_schema=None,
    plan: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """The one skeleton every ``start_*`` stream here starts through:
    the file source (:func:`_streaming_source`), ``plan`` over it
    (default: the source itself), and a named ``foreachBatch`` query
    triggered availableNow (``once``) or every ``processing_time``.
    Each batch first runs :func:`make_schema_drift_guard`, so a landed
    file carrying fields the source schema lacks fails the stream
    BEFORE ``batch_fn`` writes anything, checkpoint uncommitted;
    ``batch_fn`` then runs inside its own ``ext.cache.pin_scope``: the
    frames it pins with ``cache.pin`` are released when it returns, and
    pins taken outside the batch (by the caller, or by another thread
    meanwhile) stay."""
    from .ext import cache

    src = _streaming_source(
        spark, landing_dir, max_files_per_trigger, schema=source_schema
    )
    drift_guard = make_schema_drift_guard(landing_dir, src.schema)
    out = src if plan is None else plan(src)

    def guarded_batch(batch_df: DataFrame, batch_id: int) -> None:
        drift_guard()
        with cache.pin_scope():
            batch_fn(batch_df, batch_id)

    os.makedirs(checkpoint_dir, exist_ok=True)
    trigger = {"availableNow": True} if once else {"processingTime": processing_time}
    return (
        out.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(guarded_batch)
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )


def build_stream_capture(
    src: DataFrame,
    nms_col: str,
    *,
    buffer_secs: int = 180,
    munge_to_null: bool = False,
    munge_to_min: bool = False,
    min_ts: str = "1970-01-01 00:00:00",
    stringify_arrays: bool = False,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The streaming capture plan: F2–F5 rewrites + W3 watermark + F6 stamp
    (+ the §2.11 processor hook). F1 is the file source's own new-file
    tracking — no predicate needed."""
    src = cast_ntz_to_timestamp(src)  # withWatermark rejects NTZ event time
    cols = [
        rewrite_column(
            f,
            munge_to_null=munge_to_null,
            munge_to_min=munge_to_min,
            min_ts=min_ts,
            stringify_arrays=stringify_arrays,
        )
        for f in src.schema.fields
    ]
    out = (
        src.withWatermark(nms_col, f"{buffer_secs} seconds")
        .select(*cols)
        .withColumn(SNAPSHOT_COL, F.current_timestamp())
    )
    if transform is not None:
        out = transform(out)
    return out


def start_stream_capture(
    spark: SparkSession,
    *,
    name: str,
    landing_dir: str,
    sink_path: str,
    checkpoint_dir: str,
    nms_col: str,
    dsn: str = "0",
    state: StateStore | None = None,
    buffer_secs: int = 180,
    once: bool = True,
    processing_time: str = "20 seconds",
    max_files_per_trigger: int | None = None,
    munge_to_null: bool = False,
    munge_to_min: bool = False,
    min_ts: str = "1970-01-01 00:00:00",
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """One table's capture stream (cdc.go:106-140 analog).

    ``once=True`` ≙ ``-runonce`` (availableNow: drain and stop);
    otherwise a continuous micro-batch loop at ``processing_time`` ≙
    ``for { cdc() }`` with the sink batch period (main.go:47-65). A
    landed file with fields the inferred schema lacks fails the stream
    before any write (:func:`_start_file_stream`), never captured
    without them."""
    from .ext import cache

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        # W5: the append happens inside the batch; Spark commits the
        # checkpoint offset only after this returns. A crash mid-append
        # ⇒ the batch re-runs ⇒ duplicate rows ⇒ J3 view dedups.
        cache.pin(batch_df)
        batch_df.write.mode("append").parquet(sink_path)
        if state is not None:
            row = batch_df.agg(
                F.max(nms_col).alias("hi"), F.count(F.lit(1)).alias("n")
            ).collect()[0]
            if row["hi"] is not None:
                st = state.get(name, dsn)
                now = datetime.now(timezone.utc).replace(tzinfo=None)
                new_nms = max(row["hi"], st.nms) if st and st.nms else row["hi"]
                if st is not None:
                    state.commit_watermark(name, dsn, new_nms, row["n"], now)

    return _start_file_stream(
        spark,
        query_name=f"capture_{name}",
        landing_dir=landing_dir,
        checkpoint_dir=checkpoint_dir,
        batch_fn=batch_fn,
        once=once,
        processing_time=processing_time,
        max_files_per_trigger=max_files_per_trigger,
        plan=lambda src: build_stream_capture(
            src,
            nms_col,
            buffer_secs=buffer_secs,
            munge_to_null=munge_to_null,
            munge_to_min=munge_to_min,
            min_ts=min_ts,
            transform=transform,
        ),
    )


def sessionize_stream(
    src: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    gap_secs: int = 1800,
    buffer_secs: int = 180,
) -> DataFrame:
    """Custom stateful streaming operator — gap-based sessionization via
    ``applyInPandasWithState`` (the escape hatch for operators Spark's
    built-in streaming aggregations can't express: per-group state that
    both MERGES and EMITS mid-stream).

    Per key, state is the open session ``(start, last, n)`` in epoch
    micros; each micro-batch folds its (sorted) events in, EMITS every
    session closed by a gap ``> gap_secs``, and keeps the still-open one
    in state. Batch-parity: emitted sessions equal
    :func:`operators.analytic.sessionize` minus each key's final
    (still-open) session — asserted in pytest.

    Scale: state is O(1) per active key and lives in the state store
    (RocksDB-backed on a real cluster); each batch shuffles only on
    ``key_col``. Arrow moves groups in vectorized batches — this is the
    sanctioned Pandas path, not a row-at-a-time UDF. Late events inside
    the watermark merge by gap rule regardless of arrival batch; the
    open session per key flushes only on a closing gap (NoTimeout — an
    event-time timeout would flush on watermark passage, but availableNow
    drains never advance past the final batch, so parity tests would
    race; documented trade-off)."""
    import pandas as pd  # local: executor-side dependency of the UDF only
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    src = cast_ntz_to_timestamp(src)  # withWatermark rejects NTZ event time
    gap_us = gap_secs * 1_000_000
    out_schema = StructType(
        [
            StructField(key_col, src.schema[key_col].dataType),
            StructField("session_start", TimestampType()),
            StructField("last_ts", TimestampType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
        ]
    )

    def fn(key, pdfs, state):
        micros: list[int] = []
        for pdf in pdfs:
            s = pd.to_datetime(pdf[ts_col])
            micros.extend(s.astype("datetime64[ns]").astype("int64") // 1000)
        micros.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed: list[tuple[int, int, int]] = []
        for t in micros:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_us:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                last = max(last, t)
                n += 1
        if start is not None:
            state.update((int(start), int(last), int(n)))
        if closed:
            yield pd.DataFrame(
                {
                    key_col: [key[0]] * len(closed),
                    "session_start": pd.to_datetime([c[0] for c in closed], unit="us"),
                    "last_ts": pd.to_datetime([c[1] for c in closed], unit="us"),
                    "n_events": [c[2] for c in closed],
                }
            )

    return (
        src.withWatermark(ts_col, f"{buffer_secs} seconds")
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def tumbling_window_stream(
    src: DataFrame,
    nms_col: str,
    *,
    window: str = "1 day",
    buffer_secs: int = 180,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """W7 generalized — streaming tumbling-window aggregation with late-data
    handling: count + watermark per (window, groups). The watermark lets
    Spark drop state for closed windows (bounded memory at any runtime)."""
    src = cast_ntz_to_timestamp(src)  # withWatermark rejects NTZ event time
    groups = group_cols or []
    return (
        src.withWatermark(nms_col, f"{buffer_secs} seconds")
        .groupBy(F.window(nms_col, window).alias("w"), *groups)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), *groups, "n")
    )


def dedup_stream(
    src: DataFrame,
    key_cols: list[str],
    ts_col: str,
    *,
    buffer_secs: int = 180,
) -> DataFrame:
    """W12 — streaming exactly-once dedup: at-least-once capture upstream
    (retries, overlapping windows) collapses to exactly-once delivery
    downstream, the streaming twin of the J3 batch dedup view.

    ``dropDuplicatesWithinWatermark`` keys state on ``key_cols`` and —
    unlike plain ``dropDuplicates`` whose state grows forever — evicts
    a key's entry once the watermark passes its last-seen event time,
    so state is bounded by (keys arriving within the watermark horizon)
    at ANY runtime length. Duplicates separated by more than the buffer
    are the upstream contract's job (the reference's replication buffer
    bounds capture skew the same way, config.go:61-64); within it,
    delivery is exactly-once."""
    src = cast_ntz_to_timestamp(src)  # withWatermark rejects NTZ event time
    return src.withWatermark(ts_col, f"{buffer_secs} seconds").dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    *,
    max_delay_secs: int = 3600,
    buffer_secs: int = 180,
    how: str = "inner",
) -> DataFrame:
    """W13 — watermarked stream-stream equi-join with a bounded
    event-time range (the impression↔conversion shape: right events
    join left events at most ``max_delay_secs`` later).

    BOTH inputs are watermarked and the join condition bounds
    ``right_ts`` to ``[left_ts, left_ts + max_delay]`` — together these
    let Spark compute a state watermark per side and EVICT buffered rows
    once they can no longer match (without the range bound, each side
    would buffer forever). State per side ≈ rows inside
    (watermark + max_delay), independent of stream length; the join
    itself hash-partitions both sides on ``key`` — one co-located
    shuffle, the same plan family as the batch equi-join."""
    lw = cast_ntz_to_timestamp(left).withWatermark(left_ts, f"{buffer_secs} seconds")
    rw = cast_ntz_to_timestamp(right).withWatermark(right_ts, f"{buffer_secs} seconds")
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_delay_secs} SECONDS"))
    )
    return lw.join(rw, cond, how)


def curate_stream(
    src: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    min_tokens: int = 20,
    min_uniq_ratio: float = 0.5,
    min_quality: float = 0.3,
) -> DataFrame:
    """W16 — streaming corpus curation: the batch quality gate + split
    assignment applied UNCHANGED to a document stream.

    Composition proof more than new machinery: every stage is stateless
    — the Arrow-batched stats pass (ext.text.text_stats → mapInPandas,
    a narrow transform), the threshold gate, and the md5-bucket split
    (a pure function of the id) — so the streaming micro-batch plan IS
    the batch plan, with no state store, no watermark, and bounded
    memory by construction. Because the split hashes the id rather than
    rolling a counter, a document ingested today lands in the same
    train/val/test split it would have landed in at any other time —
    the property that makes incremental corpus ingestion composable
    with frozen eval sets.

    Returns ``(id_col, n_tokens, uniq_ratio, stop_ratio, avg_token_len,
    quality_score, split)`` for passing documents."""
    from .ext.pipeline import hash_split
    from .ext.text import quality_filter

    gated = quality_filter(
        src,
        text_col=text_col,
        id_col=id_col,
        min_tokens=min_tokens,
        min_uniq_ratio=min_uniq_ratio,
        min_quality=min_quality,
    )
    return hash_split(gated, id_col=id_col)


def maintain_history(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    key_cols: list[str] | str,
    order_col: str,
    tiebreak_cols: list[str] | None = None,
    n_buckets: int = 16,
    keep_generations: int | None = None,
    retention_sec: float | None = None,
) -> None:
    """W18 — incremental SCD-Type-2 maintenance: fold one micro-batch of
    new versions into a persistent history table (``views.history_view``
    intervals), rewriting ONLY the key buckets the batch touches.

    The state parquet is partitioned by ``bucket = crc32(key) % n``;
    a batch whose keys land in b buckets reads and rewrites those b
    partitions and leaves the rest byte-identical — the
    partition-selective merge pattern plain parquet supports without an
    ACID table format (on Delta/Iceberg this becomes a MERGE; the
    bucketing stays, it is what bounds the merge's scan). Within the
    touched buckets, stored rows (open AND closed intervals — late
    versions may split a closed interval) union the batch and the
    interval chain is re-derived by the SAME window as the batch view,
    so `streaming state == history_view(all data so far)` by
    construction; the parity test drives three chunks through and
    compares against the one-shot batch answer.

    Cost per batch at scale: O(batch + rows in touched buckets); with
    hash bucketing, hot-key concentration caps at the bucket grain —
    raise ``n_buckets`` so a bucket fits executor memory.

    Version-key contract: ``(key_cols, order_col, tiebreak_cols)`` must
    uniquely identify a version's PAYLOAD. Byte-identical redeliveries
    (at-least-once upstream) collapse harmlessly; two different
    payloads carrying the same version stamp raise ``ValueError``
    before anything is written (previous state intact) — silently
    keeping an arbitrary one would make state nondeterministic across
    runs."""
    from .views import history_view

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    _maintain_bucketed_state(
        spark,
        state_dir,
        batch,
        keys,
        order_col,
        tiebreak_cols,
        n_buckets,
        lambda m: history_view(
            m, keys, order_col=order_col, tiebreak_cols=tiebreak_cols
        ),
        keep_generations=keep_generations,
        retention_sec=retention_sec,
    )


def maintain_current_state(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    key_cols: list[str] | str,
    order_col: str,
    tiebreak_cols: list[str] | None = None,
    n_buckets: int = 16,
    keep_generations: int | None = None,
    retention_sec: float | None = None,
) -> None:
    """W25 — incrementally MATERIALIZED current-state table: fold one
    micro-batch of new versions into a persistent latest-per-key
    compaction, rewriting only the key buckets the batch touches.

    This is the missing half of the reference's current-state story:
    its consumer artifact is a VIEW over the append-only ``<t>_cdc``
    sink (bigquery.go:187-207) and BigQuery pays the latest-per-key
    window on every read — a cost that grows with HISTORY. This table
    costs O(batch + touched-bucket state) per maintenance call and
    O(state) per read: at 100 TB of history with 1 TB of live keys,
    reads touch the 1 TB. ``views.latest_per_key_window`` over the full
    sink remains the definitional form (and the oracle this table is
    gated against); the engine keeps both because the view is always
    exactly right and the table is the hot-path consumer surface — the
    MERGE-upsert analog the reference delegates to its warehouse.

    Correctness leans on latest-per-key being an associative
    per-key fold: ``latest(latest(A) ∪ B) = latest(A ∪ B)``, with the
    order made TOTAL by ``tiebreak_cols`` (same contract as the view).
    Late rows are absorbed exactly — an older version arriving after a
    newer one loses the window and changes nothing; at-least-once
    redeliveries collapse via the same all-columns dedup as
    :func:`maintain_history`, and two DIFFERENT payloads on one version
    stamp raise with state intact. Note the check sees only the stored
    LATEST rows plus the batch: a redelivered SUPERSEDED version with a
    drifted payload is invisible here by design — this table stores
    state, not history; run :func:`maintain_history` beside it when the
    version log itself must be conflict-audited.

    Same layout/cost discipline as W18: parquet partitioned by
    ``bucket = crc32(key) % n``, a batch touching b buckets reads and
    dynamic-partition-overwrites those b, untouched buckets stay
    byte-identical. Per-bucket state is bounded by LIVE KEYS (one row
    each), so buckets only grow with the keyspace — size ``n_buckets``
    to the key population, not the history volume."""
    from .views import latest_per_key_window

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    _maintain_bucketed_state(
        spark,
        state_dir,
        batch,
        keys,
        order_col,
        tiebreak_cols,
        n_buckets,
        lambda m: latest_per_key_window(
            m, keys, order_col=order_col, tiebreak_cols=tiebreak_cols
        ),
        keep_generations=keep_generations,
        retention_sec=retention_sec,
        # latest_per_key_window sorts (order, tiebreaks) DESC — align the
        # conflict guard's window so the write plan sorts once
        derive_order_desc=True,
    )


def history_state_table(
    spark: SparkSession, state_dir: str, generation: int | None = None
) -> DataFrame:
    """Read a :func:`maintain_history` table — every version with its
    [valid_from, valid_to) interval and is_current flag, resolved from
    ONE committed manifest generation (statestore.read_state): a fold
    committing concurrently can never serve a mix of old and new
    buckets. The bucket partition column stays internal. ``generation``
    pins a retained older generation (time travel — window =
    statestore.list_generations)."""
    from . import statestore

    return statestore.read_state(
        spark, state_dir, generation=generation
    ).drop("__bucket")


def current_state_table(
    spark: SparkSession, state_dir: str, generation: int | None = None
) -> DataFrame:
    """Read a :func:`maintain_current_state` table — one row per live
    key, no window, no history scan; the partition column stays
    internal. The read resolves ONE committed manifest generation
    (statestore.read_state), so a fold committing concurrently can
    never serve this scan a mix of old and new buckets. For point reads
    use :func:`current_state_lookup`, which prunes the scan to the
    key's single bucket; ``generation`` pins a retained older
    generation ('what was live before that fold?' — window =
    statestore.list_generations, widened by the K16 retention knobs);
    for downstream incremental consumption read only the buckets a
    fold touched via statestore.read_changed / changed_partitions."""
    from . import statestore

    return statestore.read_state(
        spark, state_dir, generation=generation
    ).drop("__bucket")


# bits of each integral type: a Python int inside its range renders
# under Spark's cast(string) as str() renders it
_INTEGRAL_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def _driver_key_parts(key_values: dict, stored_types: dict) -> list | None:
    """Each bound key as Spark's ``cast(<stored type>) → cast(string)``
    renders it (None for NULL), when every pair is one whose rendering
    is proven byte-identical in Python: an ``int`` (not ``bool``) inside
    an integral column's range, or a ``str`` against a plain string
    column. None when any pair is not, so the lookup stays on Spark."""
    parts = []
    for k, v in key_values.items():
        dt = stored_types[k]
        bits = _INTEGRAL_BITS.get(dt.simpleString())
        if bits is not None and (v is None or type(v) is int):
            if v is not None and not -(1 << (bits - 1)) <= v < 1 << (bits - 1):
                return None
            parts.append(None if v is None else str(v))
        elif dt.simpleString() == "string" and (v is None or type(v) is str):
            parts.append(v)
        else:
            return None
    return parts


def current_state_lookup(
    spark: SparkSession,
    state_dir: str,
    key_values: dict[str, object],
    n_buckets: int = 16,
) -> DataFrame:
    """Point lookup against a W25 table with BUCKET PRUNING: only the
    key's crc32 bucket is read, from the files the current manifest
    lists for it (1/n of the table's bytes), then filtered to the key —
    a key probe, not a table scan.

    Integral and string keys are served on the driver with no Spark
    job: for a Python ``int`` (not ``bool``) inside an integral
    column's range, or a ``str`` against a string column, Python's
    rendering is byte-identical to Spark's ``cast(string)``, so
    :func:`statestore.bucket_of` hashes the bytes
    :func:`statestore.bucket_expr` hashes, and
    :func:`statestore.read_partition_arrow` reads the bucket with
    pyarrow into a local relation. Every other key (boolean, float,
    decimal, date and timestamp columns, a value whose Python type does
    not match the column) and every bucket the driver read cannot
    render exactly goes through Spark: each literal is cast to the
    stored column's exact type, then through the maintainer's own
    ``cast(string) → concat_ws → crc32`` expression, because Python's
    ``str(v)`` diverges from Spark's cast on booleans (``True`` vs
    ``true``), many floats and sub-second timestamps.

    ``key_values`` must bind every key column the maintainer bucketed
    on, in the SAME order it was given (the bucket hash concatenates
    values in key order); ``n_buckets`` must match the maintainer's."""
    from . import statestore

    m = statestore.load_manifest(state_dir)
    if m is None:
        raise ValueError(f"{state_dir} has no committed state manifest")
    schema = statestore.manifest_schema(state_dir, m)
    stored_types = {f.name: f.dataType for f in schema.fields}
    driver_parts = _driver_key_parts(key_values, stored_types)
    if driver_parts is not None:
        import pyarrow.compute as pc

        cond = None
        for k, v in key_values.items():
            e = pc.field(k).is_null() if v is None else pc.field(k) == v
            cond = e if cond is None else cond & e
        table = statestore.read_partition_arrow(
            state_dir, m, statestore.bucket_of(driver_parts, n_buckets), cond
        )
        if table is not None:
            return spark.createDataFrame(table, schema=schema)
    # the literals must pass through the EXACT stored type, or float
    # and decimal renderings diverge
    parts = [
        F.lit(v).cast(stored_types[k]).cast("string")
        for k, v in key_values.items()
    ]
    bucket = spark.range(1).select(
        statestore.bucket_expr(parts, n_buckets).alias("b")
    ).collect()[0]["b"]
    df = statestore.read_state(
        spark, state_dir, partition_values=[str(bucket)], _manifest=m
    )
    # the ROW filter needs the same type fidelity as the bucket hash:
    # an uncast F.lit widens a float32 column to double,
    # so float32(0.1) != lit(0.1) and the probe resolves the right
    # bucket yet silently returns no rows — cast through the stored type
    for k, v in key_values.items():
        df = df.filter(
            F.col(k).isNull()
            if v is None
            else (F.col(k) == F.lit(v).cast(stored_types[k]))
        )
    return df.drop("__bucket")


def start_current_state_stream(
    spark: SparkSession,
    *,
    landing_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    key_cols: list[str] | str,
    order_col: str,
    tiebreak_cols: list[str] | None = None,
    n_buckets: int = 16,
    once: bool = True,
    processing_time: str = "20 seconds",
    max_files_per_trigger: int | None = None,
    keep_generations: int | None = None,
    retention_sec: float | None = None,
    source_schema=None,
) -> StreamingQuery:
    """W26 — Structured Streaming maintenance of the W25 materialized
    current-state table: every micro-batch of landed versions folds
    into the compacted table via :func:`maintain_current_state` — the
    streaming half of the story whose batch half runs inside the
    engine's capture loop. Versions order by their EVENT time
    (``order_col`` — the landed data's own column; no snapshot
    stamping), so late and out-of-order arrivals resolve exactly as in
    batch: latest-per-key is an associative fold, N micro-batches ≡
    one batch over everything landed (pytest-pinned across triggers).

    Delivery: foreachBatch + checkpoint give at-least-once — a crashed
    batch re-runs and its redelivered rows collapse in the fold's
    all-columns dedup; a version-stamp payload CONFLICT fails the
    stream loudly (the maintainer's contract) rather than admitting
    nondeterministic state. Cost per trigger: O(batch + touched
    buckets); the stream carries no Spark state store — the parquet
    table IS the state, readable (and bucket-prunable via
    :func:`current_state_lookup`) between triggers.

    ``keep_generations`` / ``retention_sec`` thread through to the
    manifest GC: THIS maintainer is the fast-cadence deployment the
    SCALE.md reader-latency envelope is about — a 20 s trigger with a
    >40 s analytical reader MUST widen the retention here, so the knob
    has to be reachable from the stream API, not only from the batch
    fold.

    ``source_schema`` lets the stream start on a still-empty landing
    dir (the live composed pipeline's downstream stages, W28). A landed
    file with fields the stream's schema lacks fails the stream before
    any fold (:func:`_start_file_stream`): no generation is committed."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        maintain_current_state(
            spark,
            state_dir,
            batch_df,
            keys,
            order_col,
            tiebreak_cols=tiebreak_cols,
            n_buckets=n_buckets,
            keep_generations=keep_generations,
            retention_sec=retention_sec,
        )

    return _start_file_stream(
        spark,
        query_name="current_state_maintenance",
        landing_dir=landing_dir,
        checkpoint_dir=checkpoint_dir,
        batch_fn=batch_fn,
        once=once,
        processing_time=processing_time,
        max_files_per_trigger=max_files_per_trigger,
        source_schema=source_schema,
    )


def _maintain_bucketed_state(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak_cols: list[str] | None,
    n_buckets: int,
    derive,
    keep_generations: int | None = None,
    retention_sec: float | None = None,
    derive_order_desc: bool = False,
) -> None:
    """Shared W18/W25 maintenance core: crc32-bucket the batch, read
    ONLY the touched buckets' stored rows, collapse byte-identical
    redeliveries, fail loudly on version-stamp payload conflicts, apply
    ``derive`` (history_view for W18, latest_per_key_window for W25)
    over the merged rows, and commit the touched buckets ATOMICALLY
    through the manifest store (statestore.commit_fold) — a reader
    resolving the table at ANY instant sees one committed generation,
    never a mix of old and new buckets (VERDICT r11 #1: dynamic
    partition overwrite could serve exactly that torn read).

    Schema evolution composes (ADVICE r11): stored buckets written
    before a D7 column-add merge with the evolved batch via
    ``unionByName(allowMissingColumns=True)`` in BOTH directions — old
    stored rows surface NULL for new columns, and a column the batch no
    longer carries survives as NULL-padded history rather than wedging
    every subsequent fold on UNRESOLVED_COLUMN."""
    from pyspark.sql import functions as F

    from . import statestore

    bucket = statestore.bucket_expr(
        [F.col(k).cast("string") for k in keys], n_buckets
    )
    incoming = batch.withColumn("__bucket", bucket)
    touched = [r["__bucket"] for r in incoming.select("__bucket").distinct().collect()]
    if not touched:
        return
    if statestore.has_state(state_dir):
        stored = statestore.read_state(
            spark, state_dir, partition_values=[str(t) for t in touched]
        )
        # derived columns (W18's interval chain) are re-derived, never
        # merged as stored values
        derived_cols = {"valid_from", "valid_to", "is_current"}
        stored = stored.select(
            *[c for c in stored.columns if c not in derived_cols]
        )
        merged = stored.unionByName(incoming, allowMissingColumns=True)
    else:
        merged = incoming
    value_cols = [c for c in merged.columns if c != "__bucket"]
    # Map-bearing columns (top-level or nested — Spark rejects both in
    # dropDuplicates, ADVICE r8) dedup through a to_json proxy: a
    # byte-identical redelivery serializes identically and collapses; a
    # same-entries-reordered map serializes differently and surfaces as
    # a version-stamp conflict below — fail-safe, never a silent pick.
    from .schema import type_contains_map

    map_cols = [
        f.name
        for f in merged.schema.fields
        if f.name != "__bucket" and type_contains_map(f.dataType)
    ]
    dedup_cols = [c for c in value_cols if c not in map_cols] + [
        f"__dd_{c}" for c in map_cols
    ]
    for c in map_cols:
        merged = merged.withColumn(f"__dd_{c}", F.to_json(F.col(c)))
    vkey = keys + [order_col] + list(tiebreak_cols or [])
    # ONE exchange for the whole fold (r16 optimization, guide §2.4):
    # pre-partition the merged rows by the fold keys — the redelivery
    # dedup aggregation (grouping ⊇ keys), the conflict-count window
    # (partition ⊇ keys), and the derive's per-key window (partition =
    # keys) are all satisfied by this hash distribution, so the write
    # plan shuffles once instead of three times.
    merged = merged.repartition(*[F.col(k) for k in keys])
    merged = merged.dropDuplicates(dedup_cols).drop(
        *[f"__dd_{c}" for c in map_cols]
    )
    # At-least-once delivery: a redelivered version must not create a
    # duplicate (zero-length-interval) link in the chain; the dedup
    # above collapses byte-identical redeliveries only. A genuine
    # update that reuses the same (key, order, tiebreak) stamp with a
    # DIFFERENT payload is not a redelivery and must not be silently
    # resolved by an arbitrary row pick — it surfaces as a
    # version-stamp conflict. The check is FUSED into the write pass
    # (r16, guide §1.2: one less full-pass action per micro-batch) and
    # rides the DERIVE's own window spec (guide §2.4: the guard used to
    # partition by the full vkey, forcing a second whole-partition sort
    # in every fold write; under the derive's (keys, order, tiebreaks)
    # sort — either direction — rows sharing a full vkey are ADJACENT,
    # so a null-safe lag-equality over the sort columns detects exactly
    # the rows a per-vkey count>1 would flag). assert_true fails the
    # write job before the manifest flips, so the previous state stays
    # intact exactly as the old collect-then-raise form guaranteed; the
    # except arm below re-raises it as the contractual ValueError.
    # ADVICE r16: the lag-equality guard's equivalence to a per-vkey
    # count>1 check depends on sort_cols being EXACTLY the non-key tail
    # of vkey (the derive window's order columns). Derive it from vkey
    # so an edit to either can never desynchronize the two.
    sort_cols = vkey[len(keys):]
    assert sort_cols == [order_col] + list(tiebreak_cols or [])
    wv = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[
            F.col(c).desc() if derive_order_desc else F.col(c)
            for c in sort_cols
        ]
    )
    # lag(lit(1)) is NULL exactly on each partition's first row — guards
    # the all-NULL-sort-cols first row from eqNullSafe(NULL, NULL)=true
    has_pred = F.lag(F.lit(1)).over(wv).isNotNull()
    dup = has_pred
    for c in sort_cols:
        dup = dup & F.lag(F.col(c)).over(wv).eqNullSafe(F.col(c))
    sample = F.concat_ws(", ", *[F.col(c).cast("string") for c in vkey])
    guarded = (
        merged.withColumn("__vk_dup", dup)
        .filter(
            F.assert_true(
                ~F.col("__vk_dup"),
                F.concat(F.lit(f"{_VK_CONFLICT_MARK} {tuple(vkey)} — e.g. ("), sample, F.lit(")")),
            ).isNull()
        )
        .drop("__vk_dup")
    )
    try:
        out = derive(guarded)
        # commit only the touched buckets — atomically, via the
        # manifest flip (readers mid-scan keep the prior generation).
        # The RETRYING form (r16): a concurrent maintenance pass
        # (statestore.maintain_store — compaction, contents-preserving
        # by construction) may win the generation CAS between this
        # fold's read and its commit; losing to it must not kill the
        # streaming query, so the fold re-commits over the compacted
        # base (value-identical — the pinned read's files outlive the
        # maintenance commit). An unstamped racer still raises.
        statestore.commit_fold_retrying(
            spark,
            state_dir,
            out,
            "__bucket",
            [str(t) for t in touched],
            keep_generations=keep_generations,
            retention_sec=retention_sec,
        )
    except ValueError:
        raise
    except Exception as e:  # noqa: BLE001 — surface the fused conflict check
        # the assert_true above fired inside the write job (before the
        # manifest flip — previous state intact, a failed scratch dir is
        # swept by vacuum_orphans): re-raise as the contractual
        # ValueError, with the executor's sample vkey preserved
        msg = str(e)
        if _VK_CONFLICT_MARK in msg:
            start = msg.index(_VK_CONFLICT_MARK)
            detail = msg[start:].splitlines()[0].strip()
            raise ValueError(
                f"{detail}; a version key must uniquely identify its "
                "payload. Add a discriminating tiebreak column (capture "
                "sequence) or repair the upstream duplicate."
            ) from None
        raise


def start_near_dedup_stream(
    spark: SparkSession,
    *,
    landing_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.6,
    once: bool = True,
    processing_time: str = "20 seconds",
    max_files_per_trigger: int | None = None,
    source_schema=None,
) -> StreamingQuery:
    """W20 — streaming near-dup ADMISSION CONTROL: every micro-batch of
    documents is screened against the persisted LSH index before it may
    join the corpus. The streaming engine runs EXACTLY the incremental
    batch loop (minhash_lsh_pairs_incremental → in-batch connected
    components → keep-one), so stream-admitted ≡ batch-folded — no
    second dedup discipline to keep consistent.

    Per micro-batch, inside ``foreachBatch``:

    1. mine pairs TOUCHING the batch against the standing index (cost ∝
       the batch's bucket collisions — the corpus contributes only its
       stored index, never re-shingled);
    2. drop every batch doc that near-dups an already-admitted corpus
       doc; among batch-internal near-dup clusters keep the min id
       (exact connected components — batches are small, the O(log d)
       rounds are cheap here);
    3. append survivors to ``out_dir`` — carrying EVERY landed column
       (the admission stream chains into decontamination / state
       materialization, which need the embedding and version columns)
       — and their (id, sh, bands) rows to ``index_dir``: the index
       grows with ADMITTED docs only. Because parquet dirs with mixed
       column sets resolve to whichever file infers first, point a
       deployment at a FRESH ``out_dir`` rather than appending wide
       rows into an ``(id, content)``-only dir.

    Delivery: the checkpoint offset commits after the appends, so a
    crash mid-batch replays it — appends are at-least-once. Replay is
    convergent for the index (id-collision upsert semantics) but can
    duplicate out_dir rows; downstream reads dedup exactly like every
    other at-least-once sink here (J3 view / exact_dedup). At 100 TB
    the index lives partitioned by a band-key prefix and the per-batch
    cost stays O(batch + collisions) — the same envelope as
    minhash_lsh_pairs_incremental.

    ``source_schema`` lets the stream start on a still-EMPTY landing
    dir (the live composed pipeline started ahead of the first wave);
    files landing later must physically match it — Spark-written
    micros timestamps, not raw nano parquet, which only the
    inference path normalizes. A landed file with fields the stream's
    schema lacks fails the stream before any write, and each batch
    releases only the pins it took (:func:`_start_file_stream`)."""
    from pyspark.sql import types as T

    from .ext import cache
    from .ext.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_incremental,
    )
    from .ext.graph import connected_components

    def integral_ids(src: DataFrame) -> DataFrame:
        id_type = src.schema[id_col].dataType
        if not isinstance(
            id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            # connected_components casts ids to long; a string id would
            # cast to NULL (non-ANSI) and silently disable in-batch dedup —
            # fail loudly instead (hash string ids to int64 upstream)
            raise TypeError(
                f"near-dedup admission needs an integral {id_col!r} "
                f"(got {id_type.simpleString()}); hash string ids to int64 first"
            )
        return src

    def batch_fn(full_df: DataFrame, batch_id: int) -> None:
        # survivors keep EVERY landed column (the admission stream
        # chains into downstream stages — decontamination needs the
        # embedding, state materialization the version column); only
        # the LSH mining itself projects to (id, content)
        full_df = cache.pin(full_df)
        batch_df = full_df.select(id_col, content_col)
        if batch_df.isEmpty():
            return
        have_index = os.path.isdir(index_dir) and any(
            not e.startswith(("_", ".")) for e in os.listdir(index_dir)
        )
        if have_index:
            idx = spark.read.parquet(index_dir)
            corpus_ids = idx.select(F.col("id").alias("__cid"))
            pairs = minhash_lsh_pairs_incremental(
                batch_df,
                idx,
                content_col,
                id_col,
                jaccard_threshold=jaccard_threshold,
            )
        else:
            from .ext.dedup import minhash_lsh_pairs

            corpus_ids = None
            pairs = minhash_lsh_pairs(
                batch_df,
                content_col,
                id_col,
                jaccard_threshold=jaccard_threshold,
            )
        pairs = cache.pin(pairs)
        batch_ids = batch_df.select(F.col(id_col).alias("__bid")).distinct()
        if corpus_ids is not None:
            # batch docs pairing with an admitted corpus doc: out
            vs_corpus = (
                pairs.join(corpus_ids, pairs.id_a == F.col("__cid"), "left_semi")
                .select(F.col("id_b").alias("__drop"))
                .unionAll(
                    pairs.join(
                        corpus_ids, pairs.id_b == F.col("__cid"), "left_semi"
                    ).select(F.col("id_a").alias("__drop"))
                )
                .distinct()
            )
        else:
            vs_corpus = spark.createDataFrame([], "__drop long")
        # batch-internal clusters: keep the min id per component
        internal = pairs.join(
            batch_ids, pairs.id_a == F.col("__bid"), "left_semi"
        ).join(batch_ids, pairs.id_b == F.col("__bid"), "left_semi")
        comp = connected_components(internal.select("id_a", "id_b"))
        internal_drops = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("__drop")
        )
        drops = vs_corpus.unionAll(internal_drops).distinct()
        survivors = cache.pin(
            full_df.join(drops, full_df[id_col] == F.col("__drop"), "left_anti")
        )
        survivors.write.mode("append").parquet(out_dir)
        build_minhash_index(
            survivors.select(id_col, content_col),
            content_col,
            id_col,
        ).write.mode("append").parquet(index_dir)

    return _start_file_stream(
        spark,
        query_name="near_dedup_admission",
        landing_dir=landing_dir,
        checkpoint_dir=checkpoint_dir,
        batch_fn=batch_fn,
        once=once,
        processing_time=processing_time,
        max_files_per_trigger=max_files_per_trigger,
        source_schema=source_schema,
        plan=integral_ids,
    )


def start_decontaminate_stream(
    spark: SparkSession,
    *,
    landing_dir: str,
    benchmark_emb_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    quarantine_dir: str | None = None,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    once: bool = True,
    processing_time: str = "20 seconds",
    max_files_per_trigger: int | None = None,
    source_schema=None,
) -> StreamingQuery:
    """W27 — streaming SEMANTIC-DECONTAMINATION admission: every
    micro-batch of embedded documents is screened against the frozen
    benchmark embedding set (X64's exact integer-cosine Arrow pass)
    before it may join the corpus — the W20 admission-control pattern
    applied to eval leakage instead of near-duplication. Contaminated
    rows (cosine ≥ ``threshold`` to ANY benchmark item) are dropped
    from ``out_dir`` and, when ``quarantine_dir`` is given, appended
    there WITH their matched benchmark id and cosine — the audit trail
    a data-governance review wants (what leaked, from where, how
    close).

    The benchmark set is read once per batch from
    ``benchmark_emb_dir`` (small by contract — it rides the operator's
    closure as an int64 matrix) and is FROZEN the way W23/W24 freeze
    codebooks: growing the benchmark mid-stream would silently change
    past admissions' meaning; new benchmark = new stream + re-screen.

    Delivery: checkpoint offsets commit after the appends —
    at-least-once, replays duplicate out_dir rows and downstream
    dedups on the id like every other sink here. Per trigger the cost
    is ONE narrow Arrow pass over the batch (O(batch·|benchmark|)
    integer multiply-adds, no shuffle, no join) plus the appends;
    stream-admitted ≡ batch-filtered by construction (the same
    operator runs both — pytest-pinned across triggers).

    ``source_schema`` lets the stream start on a still-empty landing
    dir (the live composed pipeline's downstream stages, W28). A landed
    file with fields the stream's schema lacks fails the stream before
    any write (:func:`_start_file_stream`)."""
    from .ext import cache
    from .ext.pipeline import decontaminate_semantic

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = cache.pin(batch_df)
        if batch_df.isEmpty():
            return
        bench = spark.read.parquet(benchmark_emb_dir)
        flagged = cache.pin(
            decontaminate_semantic(
                batch_df,
                bench,
                threshold=threshold,
                id_col=id_col,
                vec_col=vec_col,
                dim=dim,
            )
        )
        survivors = batch_df.join(flagged.select(id_col), id_col, "left_anti")
        survivors.write.mode("append").parquet(out_dir)
        if quarantine_dir is not None:
            batch_df.join(flagged, id_col).write.mode("append").parquet(
                quarantine_dir
            )

    return _start_file_stream(
        spark,
        query_name="decontaminate_admission",
        landing_dir=landing_dir,
        checkpoint_dir=checkpoint_dir,
        batch_fn=batch_fn,
        once=once,
        processing_time=processing_time,
        max_files_per_trigger=max_files_per_trigger,
        source_schema=source_schema,
    )


def maintain_rollup(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    ts_col: str,
    key_cols: list[str] | str,
    *,
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    window: str = "1 day",
    keep_generations: int | None = None,
    retention_sec: float | None = None,
) -> None:
    """W21 — incremental tumbling-window rollup (the hypertable
    continuous-aggregate pattern): fold one micro-batch into a
    persistent per-(key, window) aggregate table, rewriting ONLY the
    day-partitions the batch touches.

    The state stores MERGEABLE partials — count, per-column sum/min/max
    — so folding is: partial-aggregate the batch (map-side combine),
    union the touched partitions' stored partials, re-aggregate on
    (keys, window_start), dynamic-partition-overwrite the touched
    ``__wday`` partitions. count merges as sum-of-counts, sum as
    sum-of-sums, min/max as min/max — by associativity
    ``incremental state ≡ one-shot groupBy of all rows so far``
    (parity-tested; averages derive as sum/count at read time via
    :func:`rollup_view`, never stored). Late data needs no special
    case: a late row's window partition is simply touched again.

    Cost per batch at scale: O(batch + stored partials in touched
    day-partitions) — the partial table is O(keys × windows), orders
    below the raw data; untouched history is never read or rewritten
    (byte-identical, same dynamic-overwrite discipline as
    maintain_history). Windows align to the epoch (``F.window``), so
    day rollups coincide with ``date_trunc('day')`` in any engine."""
    sum_cols = list(sum_cols or [])
    min_cols = list(min_cols or [])
    max_cols = list(max_cols or [])
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def partials(df: DataFrame, n_expr) -> DataFrame:
        aggs = [F.sum(n_expr).alias("__n")]
        aggs += [F.sum(c).alias(f"__sum_{c}") for c in sum_cols]
        aggs += [F.min(c).alias(f"__min_{c}") for c in min_cols]
        aggs += [F.max(c).alias(f"__max_{c}") for c in max_cols]
        return df.groupBy(
            *keys, F.col("__wstart").alias("window_start")
        ).agg(*aggs)

    batchp = partials(
        cast_ntz_to_timestamp(batch).withColumn(
            "__wstart", F.window(F.col(ts_col), window).start
        ),
        F.lit(1),
    ).withColumn("__wday", F.to_date("window_start"))
    touched = [r["__wday"] for r in batchp.select("__wday").distinct().collect()]
    if not touched:
        return
    from . import statestore

    if statestore.has_state(state_dir):
        stored = statestore.read_state(
            spark, state_dir, partition_values=[str(t) for t in touched]
        )
        merged_src = stored.unionByName(batchp)
    else:
        merged_src = batchp
    # re-aggregate the union of partials: stored __n re-merges via
    # sum(__n); sums/mins/maxes likewise — the same partials() shape
    # with the count expression swapped for the stored counts
    remerged = (
        merged_src.groupBy(*keys, "window_start")
        .agg(
            F.sum("__n").alias("__n"),
            *[F.sum(f"__sum_{c}").alias(f"__sum_{c}") for c in sum_cols],
            *[F.min(f"__min_{c}").alias(f"__min_{c}") for c in min_cols],
            *[F.max(f"__max_{c}").alias(f"__max_{c}") for c in max_cols],
        )
        .withColumn("__wday", F.to_date("window_start"))
    )
    # atomic manifest commit of the touched day-partitions (same
    # discipline as the bucketed folds — no torn reads mid-fold; the
    # retrying form tolerates a concurrent contents-preserving
    # maintenance commit, r16)
    statestore.commit_fold_retrying(
        spark,
        state_dir,
        remerged,
        "__wday",
        [str(t) for t in touched],
        keep_generations=keep_generations,
        retention_sec=retention_sec,
    )


def rollup_view(
    spark: SparkSession,
    state_dir: str,
    *,
    sum_cols: list[str] | None = None,
    min_cols: list[str] | None = None,
    max_cols: list[str] | None = None,
    avg_cols: list[str] | None = None,
) -> DataFrame:
    """Read-side of :func:`maintain_rollup`: final aggregate values per
    (key, window_start) — counts, sums, mins, maxes straight from the
    partials, averages derived as sum/count. A time predicate on
    ``window_start``/``__wday`` prunes state partitions at the scan."""
    from . import statestore

    st = statestore.read_state(spark, state_dir)
    out = st.withColumnRenamed("__n", "n")
    for c in sum_cols or []:
        out = out.withColumnRenamed(f"__sum_{c}", f"sum_{c}")
    for c in min_cols or []:
        out = out.withColumnRenamed(f"__min_{c}", f"min_{c}")
    for c in max_cols or []:
        out = out.withColumnRenamed(f"__max_{c}", f"max_{c}")
    for c in avg_cols or []:
        out = out.withColumn(
            f"avg_{c}", F.col(f"sum_{c}").cast("double") / F.col("n")
        )
    return out.drop("__wday")


def maintain_corpus_stats(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    group_cols: list[str] | str,
    *,
    content_col: str = "text",
    id_col: str = "doc_id",
    length_col: str | None = None,
    k: int = 256,
    keep_generations: int | None = None,
    retention_sec: float | None = None,
) -> None:
    """W22 — incremental corpus accounting with mergeable sketches: the
    continuous-aggregate pattern (W21) extended from scalar partials to
    the sketch family. Folds one micro-batch into a persistent
    per-group stats table carrying:

    - the exact :func:`ext.pipeline.dataset_fingerprint` components
      (counts, DECIMAL hash sum, XOR, id-hash probes);
    - ``content_kmv`` — the KMV sketch of DISTINCT content
      (hash60(content)), estimating unique-document cardinality;
    - ``len_sketch`` — the bottom-k length sample, estimating the
      length distribution.

    Every component is associative, so after any number of folds the
    state equals the one-shot accounting of all rows so far
    (driver-hash-certified by ``w22_corpus_stats_incremental``, not
    just pytest). Per batch the cost is O(batch + groups·k); the state
    is O(groups·k) longs committed as one manifest generation per fold
    (tiny — sketches, not data).

    Delivery contract: the exact fingerprint components assume
    EXACTLY-ONCE batches (a redelivered batch double-counts sums — put
    :func:`start_curated_stream`'s dedup stage upstream). The KMV
    distinct-content estimate is redelivery-IMMUNE (distinct hashes),
    which makes ``n_docs − est_distinct_content`` exactly the signal
    that catches both duplicated shards and duplicated documents."""
    from . import statestore
    from .ext.pipeline import dataset_fingerprint
    from .ext.sketch import bottomk_sample_sketch, kmv_sketch

    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if not gcols:
        raise ValueError("group_cols must be non-empty")
    b = batch
    if length_col is None:
        length_col = "__len"
        b = b.withColumn("__len", F.length(F.col(content_col)).cast("long"))
    fp = dataset_fingerprint(b, content_col, id_col, gcols)
    kmv = kmv_sketch(b, content_col, gcols, k=k).select(
        *gcols, F.col("sketch").alias("content_kmv")
    )
    bk = bottomk_sample_sketch(
        b, length_col, gcols, k=k, id_col=id_col
    ).select(*gcols, F.col("sketch").alias("len_sketch"))
    stats = fp.join(kmv, gcols).join(bk, gcols)

    # the state is O(groups·k) — one unpartitioned manifest generation
    # per fold, committed atomically (readers mid-scan keep the prior
    # generation)
    if statestore.has_state(state_dir):
        merged = _merge_corpus_stats(
            statestore.read_state(spark, state_dir).unionByName(stats),
            gcols,
            k,
        )
    else:
        merged = _merge_corpus_stats(stats, gcols, k)
    statestore.commit_fold_retrying(
        spark,
        state_dir,
        merged,
        None,
        [""],
        keep_generations=keep_generations,
        retention_sec=retention_sec,
    )


def _merge_corpus_stats(rows: DataFrame, gcols: list[str], k: int) -> DataFrame:
    """Re-aggregate stats rows per group — every component associative:
    sums re-summed (DECIMAL(38,0) for the hash sum), XORs re-XORed,
    extremes re-extremed, KMV = k smallest DISTINCT of the union,
    bottom-k = k smallest of the concatenation."""
    return rows.groupBy(*gcols).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.col("content_sum").cast("decimal(38,0)"))
        .cast("string")
        .alias("content_sum"),
        F.bit_xor("content_xor").alias("content_xor"),
        F.min("id_hash_min").alias("id_hash_min"),
        F.max("id_hash_max").alias("id_hash_max"),
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("content_kmv")))),
            1,
            k,
        ).alias("content_kmv"),
        F.slice(
            F.array_sort(F.flatten(F.collect_list("len_sketch"))), 1, k
        ).alias("len_sketch"),
    )


def corpus_stats_view(spark: SparkSession, state_dir: str, *, k: int = 256) -> DataFrame:
    """Read-side of :func:`maintain_corpus_stats`: the exact fingerprint
    columns plus the sketch-derived estimates — unique-content
    cardinality (:func:`ext.sketch.kmv_estimate`), p50/p90 length
    (:func:`ext.sketch.bottomk_quantile`), and the duplication signal
    ``n_docs − est_distinct_content``."""
    from . import statestore
    from .ext.sketch import bottomk_quantile, kmv_estimate

    st = statestore.read_state(spark, state_dir)
    return st.select(
        *[c for c in st.columns if c not in ("content_kmv", "len_sketch")],
        F.coalesce(F.element_at("content_kmv", k), F.lit(-1)).alias(
            "kth_content_hash"
        ),
        kmv_estimate(F.col("content_kmv"), k=k).alias("est_distinct_content"),
        bottomk_quantile(F.col("len_sketch"), 1, 2).alias("est_len_p50"),
        bottomk_quantile(F.col("len_sketch"), 9, 10).alias("est_len_p90"),
    )


def start_embedding_index_stream(
    spark: SparkSession,
    *,
    landing_dir: str,
    index_dir: str,
    books: list[list[list[int]]],
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    once: bool = True,
    processing_time: str = "20 seconds",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """W23 — streaming searchable-corpus maintenance: every micro-batch
    of embeddings is PQ-encoded against FROZEN codebooks and its codes
    appended to the persistent index — the corpus becomes searchable
    (:func:`ext.similarity.knn_pq_adc_codes` over the codes table,
    never re-encoding; exact rerank on fetch) as it streams in,
    without ever rebuilding anything.

    Consistency is free by construction: :func:`ext.similarity.pq_encode`
    is a PURE function of (vector, codebooks), so stream-appended codes
    are byte-identical to a batch re-encode of the same rows
    (pytest-pinned) — there is no index-rebuild discipline to schedule,
    and replayed batches (at-least-once appends) duplicate rows whose
    codes are identical; search dedups on the id like every other
    at-least-once sink here. Codebooks stay frozen because changing
    them would silently re-map the EXISTING codes' meaning; retrain =
    write a NEW index dir and cut over (the standard ANN-index
    versioning practice).

    Per batch the work is one narrow Arrow encode pass over the
    batch (vectorized per-subspace argmin-L2, see pq_encode) and an
    append of m small ints per row — O(batch), no shuffle, no state.
    A landed file with fields the inferred schema lacks fails the
    stream before any write (:func:`_start_file_stream`)."""
    from .ext.similarity import pq_encode

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        enc = pq_encode(batch_df, books, id_col=id_col, vec_col=vec_col).drop("qv")
        enc.write.mode("append").parquet(index_dir)

    return _start_file_stream(
        spark,
        query_name="embedding_index",
        landing_dir=landing_dir,
        checkpoint_dir=checkpoint_dir,
        batch_fn=batch_fn,
        once=once,
        processing_time=processing_time,
        max_files_per_trigger=max_files_per_trigger,
    )


def _corpus_stages(
    spark: SparkSession,
    *,
    landing_dir: str,
    work_dir: str,
    benchmark_emb_dir: str,
    cents: list[list[int]],
    books: list[list[list[int]]],
    text_col: str,
    id_col: str,
    vec_col: str,
    order_col: str,
    jaccard_threshold: float,
    threshold: float,
    n_buckets: int,
    keep_generations: int | None,
    retention_sec: float | None,
    admit_schema,
    schema,
    processing_time: str | None,
) -> tuple[dict[str, str], dict[str, Callable[[], StreamingQuery]]]:
    """The composed corpus pipeline's stage directories and its four
    stage starters keyed by stage, upstream first — the one wiring both
    deployments run. Admission reads ``admit_schema``, the three
    downstream stages ``schema``. ``processing_time=None`` starts each
    stage as an availableNow drain, otherwise as a loop at that period;
    either way it checkpoints under ``work_dir/ck/<stage>``."""
    dirs = {
        d: os.path.join(work_dir, d)
        for d in "admitted clean quarantine lsh_index ivfadc_index state".split()
    }

    def ck(stage: str) -> str:
        return os.path.join(work_dir, "ck", stage)

    if processing_time is None:
        trigger = {"once": True}
    else:
        trigger = {"once": False, "processing_time": processing_time}
    return dirs, {
        "admit": lambda: start_near_dedup_stream(
            spark,
            landing_dir=landing_dir,
            index_dir=dirs["lsh_index"],
            out_dir=dirs["admitted"],
            checkpoint_dir=ck("admit"),
            content_col=text_col,
            id_col=id_col,
            jaccard_threshold=jaccard_threshold,
            source_schema=admit_schema,
            **trigger,
        ),
        "decontaminate": lambda: start_decontaminate_stream(
            spark,
            landing_dir=dirs["admitted"],
            benchmark_emb_dir=benchmark_emb_dir,
            out_dir=dirs["clean"],
            checkpoint_dir=ck("decontaminate"),
            quarantine_dir=dirs["quarantine"],
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            source_schema=schema,
            **trigger,
        ),
        "index": lambda: start_ivfadc_index_stream(
            spark,
            landing_dir=dirs["clean"],
            index_dir=dirs["ivfadc_index"],
            cents=cents,
            books=books,
            checkpoint_dir=ck("index"),
            id_col=id_col,
            vec_col=vec_col,
            source_schema=schema,
            **trigger,
        ),
        "state": lambda: start_current_state_stream(
            spark,
            landing_dir=dirs["clean"],
            state_dir=dirs["state"],
            checkpoint_dir=ck("state"),
            key_cols=id_col,
            order_col=order_col,
            n_buckets=n_buckets,
            keep_generations=keep_generations,
            retention_sec=retention_sec,
            source_schema=schema,
            **trigger,
        ),
    }


def run_corpus_stream_pipeline(
    spark: SparkSession,
    *,
    landing_dir: str,
    work_dir: str,
    benchmark_emb_dir: str,
    cents: list[list[int]],
    books: list[list[list[int]]],
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    order_col: str = "version",
    jaccard_threshold: float = 0.6,
    threshold: float = 0.95,
    n_buckets: int = 16,
    timeout_sec: int = 300,
    keep_generations: int | None = None,
    retention_sec: float | None = None,
    schema=None,
) -> dict[str, str]:
    """The COMPOSED streaming corpus story: admit → decontaminate →
    index → materialize, wired as four checkpointed ``availableNow``
    streams chained by directories — the Medallion-style DAG the four
    individually-tested streams were built for, now one call:

    1. **W20 admission** (:func:`start_near_dedup_stream`): landed docs
       are screened against the persistent LSH index; near-dups of
       admitted corpus docs are rejected, survivors land in
       ``admitted/`` with EVERY column intact;
    2. **W27 decontamination** (:func:`start_decontaminate_stream`):
       admitted docs whose embedding sits within ``threshold`` cosine
       of any benchmark item divert to ``quarantine/`` (with matched
       benchmark id + cosine — the audit trail); the clean corpus
       lands in ``clean/``;
    3. **W24 indexing** (:func:`start_ivfadc_index_stream`): clean docs
       are cell-assigned + residual-PQ-encoded against the FROZEN
       (cents, books) and appended to the cell-partitioned ANN index;
    4. **W26 materialization** (:func:`start_current_state_stream`):
       clean docs fold into the manifest-committed current-state table
       (latest ``order_col`` per ``id_col``).

    Each stage owns a checkpoint under ``work_dir/ck/``, so CALLING
    THIS AGAIN after more files land processes exactly the new files
    through all four stages — the incremental re-run is the deployment
    story (:func:`start_corpus_stream_pipeline_live` runs the same four
    streams concurrently; availableNow keeps the demo/test
    deterministic). Landed rows must carry ``(id_col, text_col,
    vec_col, order_col)``; the composition is pytest-pinned ≡ the batch
    composition of the same four operators
    (tests/test_streaming_composed.py). Returns the stage directory
    map.

    A stage that has not drained within ``timeout_sec`` raises
    ``TimeoutError``: ``awaitTermination``'s False return is a TIMEOUT,
    not completion — silently starting the next stage would snapshot a
    partial upstream directory and drop the stragglers from
    clean/index/state with no error anywhere. ``keep_generations`` /
    ``retention_sec`` reach stage 4's manifest GC.

    Mid-landing schema evolution: each stage fails loudly — checkpoint
    uncommitted — when a landed file carries fields its schema lacks (a
    pinned/inferred-schema source silently projects them away, and a
    plain inference may sample a NARROW footer even when wider files
    landed). The lossless remedy is the same re-run with ``schema`` set
    to the mergeSchema-derived wider shape
    (``spark.read.option('mergeSchema','true')
    .parquet(landing_dir).schema``) — the flagged files then read in
    full and older narrow files NULL-pad; ``schema=None`` keeps
    per-stage inference for the stable-schema common case."""
    dirs, stages = _corpus_stages(
        spark,
        landing_dir=landing_dir,
        work_dir=work_dir,
        benchmark_emb_dir=benchmark_emb_dir,
        cents=cents,
        books=books,
        text_col=text_col,
        id_col=id_col,
        vec_col=vec_col,
        order_col=order_col,
        jaccard_threshold=jaccard_threshold,
        threshold=threshold,
        n_buckets=n_buckets,
        keep_generations=keep_generations,
        retention_sec=retention_sec,
        admit_schema=schema,
        schema=schema,
        processing_time=None,
    )
    for stage, start in stages.items():
        q = start()
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(
                f"stage '{stage}' did not drain within {timeout_sec}s; "
                "downstream stages would snapshot a partial directory — "
                "raise timeout_sec or reduce the landed wave"
            )
    return dirs


def start_corpus_stream_pipeline_live(
    spark: SparkSession,
    *,
    landing_dir: str,
    work_dir: str,
    benchmark_emb_dir: str,
    cents: list[list[int]],
    books: list[list[list[int]]],
    text_col: str = "text",
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    order_col: str = "version",
    jaccard_threshold: float = 0.6,
    threshold: float = 0.95,
    n_buckets: int = 16,
    processing_time: str = "2 seconds",
    keep_generations: int | None = None,
    retention_sec: float | None = None,
    schema=None,
) -> tuple[dict[str, str], list[StreamingQuery]]:
    """The CONTINUOUS deployment mode of the composed corpus pipeline:
    the same four stages as :func:`run_corpus_stream_pipeline` — admit
    → decontaminate → index → materialize — but started as four
    CONCURRENTLY-RUNNING ``processingTime`` streams chained by
    directories. New files landing in ``landing_dir`` flow through all
    four stages while they run; each stage's file source picks up its
    upstream's appends on its next trigger, so end-to-end latency is a
    few trigger periods, not a re-run.

    The downstream stages start on still-EMPTY intermediate dirs, so
    their sources take an explicit schema — derived from the landing
    dir's BATCH-VISIBLE schema (``sources.read_parquet_normalized``:
    nano-timestamp columns surface as TimestampType, exactly the types
    stage 1's foreachBatch frames carry and therefore the types the
    admitted/clean parquet is physically written with; a raw
    ``spark.read.parquet(...).schema`` would claim LongType for nano
    columns and mis-describe the normalized downstream files). Every
    stage preserves the landed columns, so admitted/ and clean/ carry
    the landing schema. ``schema`` overrides the derivation when the
    landing dir itself is still empty at start — it is then threaded
    to ALL FOUR stages including admission, and later-landing files
    must physically match it (Spark-written micros timestamps, not raw
    nano parquet — only the inference path normalizes nanos). With a
    populated landing dir, stage 1 keeps schema INFERENCE so physical
    nano columns are read and normalized correctly. Checkpoints
    live under the same ``work_dir/ck/`` as the availableNow form —
    the two modes are interchangeable deployments of one pipeline: a
    live run stopped cleanly can be drained the rest of the way by one
    availableNow re-run, and vice versa (same checkpoints, same stage
    contracts; pytest pins live end-state ≡ chained end-state).

    Mid-stream schema evolution: a stage whose landed file carries
    columns its pinned schema lacks FAILS LOUDLY before any write
    (:func:`make_schema_drift_guard`), checkpoint uncommitted, so
    additive evolution is a lossless RESTART with the widened
    ``schema``: the flagged file re-reads in full, downstream narrow
    files NULL-pad through mergeSchema/unionByName, and the state fold
    widens additively (D7a discipline). Never a silent column drop.

    Returns ``(stage_dirs, [admit, decontaminate, index, state])`` —
    the queries in upstream-to-downstream order. Shutdown: stop the
    ADMIT query first, wait for the downstream dirs to drain (poll the
    state table / clean dir), then :func:`stop_corpus_stream_pipeline`
    stops the rest; or just stop everything and let the next start's
    checkpoints resume exactly where each stage left off
    (at-least-once end to end, the same delivery story as each stage
    alone). The state stage remains the statestore's ONE writer — the
    four streams write disjoint dirs, so the concurrency adds no new
    commit race."""
    admit_schema = schema  # explicit only for a still-empty landing dir
    if schema is None:
        # the BATCH-VISIBLE schema (nano → TimestampType) — what stage
        # 1's normalized frames carry and the intermediate parquet is
        # physically written with; stage 1 itself keeps inference so
        # raw nano landing files read correctly
        from .sources import read_parquet_normalized

        schema = read_parquet_normalized(spark, landing_dir).schema
    dirs, stages = _corpus_stages(
        spark,
        landing_dir=landing_dir,
        work_dir=work_dir,
        benchmark_emb_dir=benchmark_emb_dir,
        cents=cents,
        books=books,
        text_col=text_col,
        id_col=id_col,
        vec_col=vec_col,
        order_col=order_col,
        jaccard_threshold=jaccard_threshold,
        threshold=threshold,
        n_buckets=n_buckets,
        keep_generations=keep_generations,
        retention_sec=retention_sec,
        admit_schema=admit_schema,
        schema=schema,
        processing_time=processing_time,
    )
    # the sources must EXIST before their streams start; the
    # intermediate schemas equal the landing schema (both stages
    # preserve every landed column)
    for d in (landing_dir, dirs["admitted"], dirs["clean"]):
        os.makedirs(d, exist_ok=True)
    return dirs, [start() for start in stages.values()]


def stop_corpus_stream_pipeline(queries: list[StreamingQuery]) -> None:
    """Stop a live composed pipeline's queries (upstream first) and
    wait for each to terminate. Files a stopped upstream had already
    appended but a downstream had not yet triggered on are NOT lost —
    the downstream's checkpoint resumes exactly there on the next
    start (live or availableNow)."""
    for q in queries:
        q.stop()
    for q in queries:
        q.awaitTermination()


def start_ivfadc_index_stream(
    spark: SparkSession,
    *,
    landing_dir: str,
    index_dir: str,
    cents: list[list[int]],
    books: list[list[list[int]]],
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    once: bool = True,
    processing_time: str = "20 seconds",
    max_files_per_trigger: int | None = None,
    source_schema=None,
) -> StreamingQuery:
    """W24 — streaming IVFADC index maintenance: W23's frozen-codebook
    discipline applied to the two-level index. Every micro-batch is
    cell-assigned + residual-PQ-encoded in one Arrow pass
    (:func:`ext.similarity.ivfadc_encode` is a pure function of
    (vector, cents, books) — stream-appended rows ≡ batch re-encode,
    same pytest-pinned consistency argument as W23) and appended to
    the index PARTITIONED BY cell. That layout is the entire point at
    100 TB: :func:`ext.similarity.knn_ivfadc_codes` probes nprobe
    cells per query, and on a cell-partitioned parquet index the probe
    join prunes to nprobe/n_centroids of the index's bytes (Spark's
    dynamic partition pruning on the broadcast probe side) — the scan
    narrows as the index grows. Retrain (new cents/books) = new index
    dir + cutover, exactly as W23; at-least-once replays dedup on
    vec_id at search time (knn_ivfadc_codes' dedup flag). O(batch) per
    trigger, no shuffle, no state. ``source_schema`` lets the stream
    start on a still-empty landing dir (the live composed pipeline's
    downstream stages, W28); a landed file with fields that schema
    lacks fails the stream before any write (:func:`_start_file_stream`)."""
    from .ext.similarity import ivfadc_encode

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        enc = ivfadc_encode(batch_df, cents, books, id_col, vec_col)
        enc.write.mode("append").partitionBy("cell").parquet(index_dir)

    return _start_file_stream(
        spark,
        query_name="ivfadc_index",
        landing_dir=landing_dir,
        checkpoint_dir=checkpoint_dir,
        batch_fn=batch_fn,
        once=once,
        processing_time=processing_time,
        max_files_per_trigger=max_files_per_trigger,
        source_schema=source_schema,
    )
