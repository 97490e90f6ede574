"""Structured Streaming tests — the Phase-4 `-cdc` loop analog
(main.go:47-65): runonce drain, incremental pickup of new files,
checkpoint-backed exactly-once file tracking, the §2.11 transform hook,
and the streaming tumbling-window agg."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from leftshove_spark import views
from leftshove_spark.state import StateStore, TableState
from leftshove_spark.streaming import start_stream_capture, tumbling_window_stream
from leftshove_spark.sources import load_table

from conftest import SF0001

CUT = datetime(2024, 1, 15)


@pytest.fixture(scope="module")
def halves(spark, tmp_path_factory):
    """Events fixture split into two parquet 'landings' by ts."""
    root = tmp_path_factory.mktemp("stream")
    ev = load_table(spark, SF0001, "events")
    h1 = ev.filter(F.col("ts") <= F.lit(CUT))
    h2 = ev.filter(F.col("ts") > F.lit(CUT))
    landing = str(root / "landing")
    h1.coalesce(1).write.mode("overwrite").parquet(landing)
    return {
        "root": root,
        "landing": landing,
        "h1_n": h1.count(),
        "h1_max_ts": h1.agg(F.max("ts")).collect()[0][0],
        "h2": h2,
        "total_n": ev.count(),
    }


def _run_once(spark, halves, state=None, transform=None):
    q = start_stream_capture(
        spark,
        name="ev",
        landing_dir=halves["landing"],
        sink_path=str(halves["root"] / "sink"),
        checkpoint_dir=str(halves["root"] / "ckpt"),
        nms_col="ts",
        state=state,
        once=True,
        transform=transform,
    )
    q.awaitTermination(120)
    return q


def test_runonce_drains_landing_and_commits_state(spark, halves):
    state = StateStore()
    state.upsert(TableState(name="ev", dsn="0", nms_column="ts"))
    _run_once(spark, halves, state=state)
    sink = spark.read.parquet(str(halves["root"] / "sink"))
    assert sink.count() == halves["h1_n"]
    assert "snapshot_tm" in sink.columns  # F6 stamp
    st = state.get("ev", "0")
    assert st.nms == halves["h1_max_ts"]  # watermark = max(ts) of the batch
    assert st.last_row_count == halves["h1_n"]


def test_incremental_pickup_is_exactly_once_on_files(spark, halves):
    # land the second half, re-run with the SAME checkpoint: only new
    # files are processed (F1's "each row captured once", enforced by
    # the checkpoint instead of a generated WHERE).
    halves["h2"].coalesce(1).write.mode("append").parquet(halves["landing"])
    _run_once(spark, halves)
    sink = spark.read.parquet(str(halves["root"] / "sink"))
    assert sink.count() == halves["total_n"]  # no re-capture of half 1
    # value-level exactly-once: every event_id appears exactly once
    assert sink.select("event_id").distinct().count() == halves["total_n"]


def test_rerun_with_no_new_files_appends_nothing(spark, halves):
    _run_once(spark, halves)
    sink = spark.read.parquet(str(halves["root"] / "sink"))
    assert sink.count() == halves["total_n"]


def test_dedup_view_over_streaming_sink_matches_batch(spark, halves):
    sink = spark.read.parquet(str(halves["root"] / "sink"))
    latest = views.latest_per_key_window(sink, "user_id", order_col="ts",
                                         tiebreak_cols=["event_id"])
    batch = views.latest_per_key_window(
        load_table(spark, SF0001, "events"), "user_id", order_col="ts",
        tiebreak_cols=["event_id"],
    )
    assert latest.count() == batch.count()
    diff = latest.select("event_id").exceptAll(batch.select("event_id"))
    assert diff.count() == 0


def test_transform_hook(spark, tmp_path):
    """§2.11 — the Bloblang-slot analog (benthos.go:39-44,
    'root = content().uppercase()'): a mid-stream DataFrame transform."""
    ev = load_table(spark, SF0001, "events").limit(200)
    landing = str(tmp_path / "landing")
    ev.coalesce(1).write.parquet(landing)
    q = start_stream_capture(
        spark,
        name="ev",
        landing_dir=landing,
        sink_path=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        nms_col="ts",
        once=True,
        transform=lambda df: df.withColumn("event_type", F.upper("event_type")),
    )
    q.awaitTermination(120)
    sink = spark.read.parquet(str(tmp_path / "sink"))
    vals = [r[0] for r in sink.select("event_type").distinct().collect()]
    assert vals and all(v == v.upper() for v in vals)


def test_capture_stream_fails_loudly_on_schema_drift(spark, tmp_path):
    """A file landing with a column the capture stream's schema lacks
    stops the stream before it writes: the sink keeps only the rows
    captured before the drift, and the watermark does not move. The
    stream runs continuously so its schema is inferred while only the
    narrow file has landed."""
    import os

    from pyspark.errors import StreamingQueryException

    landing = str(tmp_path / "landing")
    sink = str(tmp_path / "sink")
    os.makedirs(landing)
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (2, datetime(2024, 1, 2))],
        "id long, ts timestamp",
    ).coalesce(1).write.mode("append").parquet(landing)
    state = StateStore()
    state.upsert(TableState(name="drift", dsn="0", nms_column="ts"))
    q = start_stream_capture(
        spark,
        name="drift",
        landing_dir=landing,
        sink_path=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        nms_col="ts",
        state=state,
        once=False,
        processing_time="1 second",
    )
    try:
        q.processAllAvailable()
        assert spark.read.parquet(sink).count() == 2
        nms = state.get("drift", "0").nms
        assert nms == datetime(2024, 1, 2)

        spark.createDataFrame(
            [(3, datetime(2024, 1, 3), "en")], "id long, ts timestamp, lang string"
        ).coalesce(1).write.mode("append").parquet(landing)
        with pytest.raises(StreamingQueryException, match="schema drift.*lang"):
            q.awaitTermination(120)
    finally:
        q.stop()
    assert spark.read.parquet(sink).count() == 2
    assert state.get("drift", "0").nms == nms


def test_tumbling_window_stream_matches_batch(spark, tmp_path):
    """W7 streaming — daily tumbling counts via memory sink == batch."""
    ev = load_table(spark, SF0001, "events")
    landing = str(tmp_path / "landing")
    ev.coalesce(1).write.parquet(landing)
    src = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .parquet(landing)
    )
    agg = tumbling_window_stream(src, "ts", window="1 day", group_cols=["event_type"])
    q = (
        agg.writeStream.queryName("w7_test")
        .format("memory")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("w7_test")
    exp = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0


def test_sessionize_stream_closes_sessions_across_batches(spark, tmp_path):
    """applyInPandasWithState sessionizer: state survives micro-batches
    (a session spanning two files merges), and every gap-closed session
    is emitted exactly once; each key's final session stays open."""
    import time

    from leftshove_spark.streaming import sessionize_stream

    def _t(h, m):
        return datetime(2024, 1, 1, h, m)

    landing = str(tmp_path / "landing")
    batch1 = [("u1", _t(10, 0)), ("u1", _t(10, 10)), ("u2", _t(10, 0))]
    batch2 = [
        ("u1", _t(10, 20)),  # continues u1's open session from batch 1
        ("u1", _t(12, 0)),   # > 30 min gap → closes it
        ("u2", _t(13, 0)),
        ("u2", _t(13, 5)),
    ]
    schema = "user_id string, ts timestamp"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(landing)
    time.sleep(1.2)  # file-source orders batches by mod time
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(landing)

    src = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    sess = sessionize_stream(src, "user_id", "ts", gap_secs=1800)
    q = (
        sess.writeStream.queryName("sess_test")
        .format("memory")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.last_ts, r.n_events)
        for r in spark.table("sess_test").collect()
    }
    assert got == {
        ("u1", _t(10, 0), _t(10, 20), 3),  # spans both batches → state worked
        ("u2", _t(10, 0), _t(10, 0), 1),
    }


def test_dedup_stream_collapses_at_least_once_to_exactly_once(spark, tmp_path):
    """W12 — duplicated capture files drain to exactly one row per key,
    equal to the batch dedup of the same union; state is
    watermark-bounded (dropDuplicatesWithinWatermark)."""
    import time

    from leftshove_spark.streaming import dedup_stream

    ev = load_table(spark, SF0001, "events")
    h1 = ev.filter(F.col("ts") <= F.lit(CUT))
    dup = h1.filter(F.col("event_id") % 3 == 0)  # re-captured overlap
    h2 = ev.filter(F.col("ts") > F.lit(CUT))
    landing = str(tmp_path / "landing")
    h1.coalesce(1).write.mode("append").parquet(landing)
    time.sleep(1.2)
    dup.unionAll(h2).coalesce(1).write.mode("append").parquet(landing)

    src = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(landing)
    )
    q = (
        dedup_stream(src, ["event_id"], "ts")
        .writeStream.queryName("w12_test")
        .format("memory")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.table("w12_test")
    assert got.count() == ev.count()  # exactly one row per event_id
    assert got.select("event_id").distinct().count() == ev.count()
    assert got.select(*ev.columns).exceptAll(ev).count() == 0


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """W13 — watermarked stream-stream range join == the batch join with
    the identical condition; out-of-window conversions never match."""
    from datetime import timedelta

    from leftshove_spark.streaming import stream_stream_join

    t0 = datetime(2024, 1, 1, 10, 0)
    imps = [(u, t0 + timedelta(minutes=10 * i)) for i, u in enumerate(["u1", "u2", "u3"])]
    convs = [
        ("u1", t0 + timedelta(minutes=5)),    # within 1h of u1's imp
        ("u2", t0 + timedelta(hours=3)),      # too late — no match
        ("u3", t0 + timedelta(minutes=1)),    # BEFORE u3's imp — no match
        ("u3", t0 + timedelta(minutes=50)),   # within window
    ]
    l_dir, r_dir = str(tmp_path / "imps"), str(tmp_path / "convs")
    ldf = spark.createDataFrame(imps, "user_id string, imp_ts timestamp")
    rdf = spark.createDataFrame(convs, "user_id string, conv_ts timestamp")
    ldf.coalesce(1).write.parquet(l_dir)
    rdf.coalesce(1).write.parquet(r_dir)

    ls = spark.readStream.schema(ldf.schema).parquet(l_dir)
    rs = spark.readStream.schema(rdf.schema).parquet(r_dir)
    joined = stream_stream_join(
        ls, rs, "user_id", "imp_ts", "conv_ts", max_delay_secs=3600
    ).select(ls["user_id"], "imp_ts", "conv_ts")
    q = (
        joined.writeStream.queryName("w13_test")
        .format("memory")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = spark.table("w13_test")
    exp = ldf.join(
        rdf,
        (ldf.user_id == rdf.user_id)
        & (rdf.conv_ts >= ldf.imp_ts)
        & (rdf.conv_ts <= ldf.imp_ts + F.expr("INTERVAL 3600 SECONDS")),
    ).select(ldf["user_id"], "imp_ts", "conv_ts")
    assert got.count() == exp.count() == 2
    assert got.exceptAll(exp).count() == 0
    assert {r["user_id"] for r in got.collect()} == {"u1", "u3"}


def test_curate_stream_matches_batch(spark, tmp_path):
    """W16 streaming — quality gate + hash split over a document stream
    equals the batch composition exactly (all stages stateless)."""
    from leftshove_spark.ext.pipeline import hash_split
    from leftshove_spark.ext.text import quality_filter
    from leftshove_spark.streaming import curate_stream

    docs = load_table(spark, SF0001, "documents")
    landing = str(tmp_path / "docs_landing")
    docs.coalesce(2).write.parquet(landing)
    src = (
        spark.readStream.schema(spark.read.parquet(landing).schema)
        .parquet(landing)
    )
    q = (
        curate_stream(src)
        .writeStream.queryName("w16_test")
        .format("memory")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("w16_test")
    exp = hash_split(quality_filter(docs), id_col="doc_id")
    assert got.count() == exp.count() > 0
    assert got.exceptAll(exp).count() == 0
    # every split bucket is represented and stable vs the pure function
    assert {r["split"] for r in got.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }


def test_maintain_history_incremental_equals_batch(spark, tmp_path):
    """W18 parity: three micro-batches (with one redelivered chunk for
    at-least-once) folded through maintain_history produce EXACTLY the
    one-shot history_view of all rows — intervals, tiebreaks, and
    is_current flags included."""
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import history_state_table, maintain_history
    from leftshove_spark.views import history_view

    state = str(tmp_path / "hist")
    o = load_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    chunks = [o.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
    for batch in [chunks[0], chunks[1], chunks[1], chunks[2]]:  # chunk 1 twice
        maintain_history(
            spark, state, batch, "o_custkey", "o_orderdate",
            tiebreak_cols=["o_orderkey"],
        )
    got = {
        (r["o_orderkey"], r["o_custkey"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in history_state_table(spark, state).collect()
    }
    want = {
        (r["o_orderkey"], r["o_custkey"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in history_view(
            o, "o_custkey", order_col="o_orderdate", tiebreak_cols=["o_orderkey"]
        )
        .select("o_orderkey", "o_custkey", "valid_from", "valid_to", "is_current")
        .collect()
    }
    assert got == want


def test_maintain_history_rewrites_only_touched_buckets(spark, tmp_path):
    """Partition-selective merge: a batch touching one key replaces
    exactly ONE bucket's file list in the manifest — every untouched
    bucket's committed files carry over by reference, byte-identical on
    disk (the manifest store never rewrites a file in place)."""
    import os

    from leftshove_spark import statestore
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import maintain_history

    state = str(tmp_path / "hist")
    o = load_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    maintain_history(spark, state, o, "o_custkey", "o_orderdate",
                     tiebreak_cols=["o_orderkey"])
    m1 = statestore.load_manifest(state)

    def meta(relpaths):
        out = {}
        for rel in relpaths:
            p = os.path.join(state, "data", rel)
            out[rel] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before_meta = meta([r for rels in m1["files"].values() for r in rels])
    one = o.orderBy("o_orderkey").limit(1)
    maintain_history(spark, state, one, "o_custkey", "o_orderdate",
                     tiebreak_cols=["o_orderkey"])
    m2 = statestore.load_manifest(state)
    changed = [v for v in m2["files"] if m2["files"][v] != m1["files"].get(v)]
    assert len(changed) == 1  # the single-key batch touches exactly one
    # untouched buckets: same relpaths, same bytes on disk
    for v, rels in m2["files"].items():
        if v not in changed:
            assert rels == m1["files"][v]
            assert meta(rels) == {r: before_meta[r] for r in rels}


def test_maintain_current_state_incremental_equals_view(spark, tmp_path):
    """W25 parity: micro-batches (with one redelivered chunk and the
    LAST chunk carrying the OLDEST rows — late data must lose the
    window) folded through maintain_current_state produce EXACTLY the
    one-shot latest-per-key view of all rows, and re-running the final
    batch converges (at-least-once)."""
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import current_state_table, maintain_current_state
    from leftshove_spark.views import latest_per_key_window

    state = str(tmp_path / "cur")
    o = load_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    # chunk 2 = the oldest third (late arrival), fed last AND twice
    w = latest_per_key_window(
        o, "o_custkey", order_col="o_orderdate", tiebreak_cols=["o_orderkey"]
    )
    chunks = [o.filter(F.col("o_orderkey") % 3 == i) for i in (1, 2, 0)]
    for batch in [chunks[0], chunks[1], chunks[2], chunks[2]]:
        maintain_current_state(
            spark, state, batch, "o_custkey", "o_orderdate",
            tiebreak_cols=["o_orderkey"],
        )
    got = {
        tuple(r) for r in current_state_table(spark, state).collect()
    }
    want = {tuple(r) for r in w.collect()}
    assert got == want
    # exactly one row per live key — the table IS the state
    n_keys = o.select("o_custkey").distinct().count()
    assert len(got) == n_keys


def test_maintain_current_state_touched_buckets_and_conflicts(spark, tmp_path):
    """W25 layout + safety: a single-key batch rewrites only its bucket
    (every other bucket byte-identical), and a version-stamp payload
    conflict raises with state intact."""
    import os

    import pytest

    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import maintain_current_state

    state = str(tmp_path / "cur")
    o = load_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    maintain_current_state(spark, state, o, "o_custkey", "o_orderdate",
                           tiebreak_cols=["o_orderkey"])
    from leftshove_spark import statestore

    m1 = statestore.load_manifest(state)
    one = o.orderBy("o_orderkey").limit(1)
    maintain_current_state(spark, state, one, "o_custkey", "o_orderdate",
                           tiebreak_cols=["o_orderkey"])
    m2 = statestore.load_manifest(state)
    changed = [v for v in m2["files"] if m2["files"][v] != m1["files"].get(v)]
    assert len(changed) == 1  # single-key batch → one bucket replaced
    for v, rels in m2["files"].items():
        if v not in changed:
            assert rels == m1["files"][v]  # carried over by reference
            for rel in rels:
                assert os.path.exists(os.path.join(state, "data", rel))

    from leftshove_spark.streaming import current_state_table

    rows_before = sorted(
        map(tuple, current_state_table(spark, state).collect())
    )
    conflict = spark.createDataFrame(
        [(1, "2199-01-01", 10), (1, "2199-01-01", 20)],
        "o_custkey long, o_orderdate string, o_orderkey long",
    ).select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("o_orderdate")
    )
    with pytest.raises(ValueError, match="version key"):
        maintain_current_state(
            spark, state, conflict, "o_custkey", "o_orderdate"
        )
    rows_after = sorted(
        map(tuple, current_state_table(spark, state).collect())
    )
    assert rows_after == rows_before


def test_current_state_stream_equals_batch_fold(spark, tmp_path):
    """W26: two triggers of streamed micro-batches (the SECOND carrying
    the OLDEST versions — late data must lose) leave the materialized
    table exactly ≡ one-shot latest-per-key over everything landed, and
    the table is readable between triggers."""
    import os

    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import (
        current_state_table,
        start_current_state_stream,
    )
    from leftshove_spark.views import latest_per_key_window

    o = load_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "cur")
    os.makedirs(landing)

    # trigger 1: the NEWER two-thirds
    newer = o.filter(F.col("o_orderkey") % 3 != 0)
    newer.write.mode("append").parquet(landing)
    q = start_current_state_stream(
        spark,
        landing_dir=landing,
        state_dir=state,
        checkpoint_dir=str(tmp_path / "ck"),
        key_cols="o_custkey",
        order_col="o_orderdate",
        tiebreak_cols=["o_orderkey"],
        once=True,
    )
    assert q.awaitTermination(120), "current-state stream did not drain"
    mid = {
        tuple(r) for r in current_state_table(spark, state).collect()
    }
    want_mid = {
        tuple(r)
        for r in latest_per_key_window(
            newer, "o_custkey", order_col="o_orderdate",
            tiebreak_cols=["o_orderkey"],
        ).collect()
    }
    assert mid == want_mid  # readable + correct between triggers

    # trigger 2: the oldest third lands LATE
    o.filter(F.col("o_orderkey") % 3 == 0).write.mode("append").parquet(landing)
    q = start_current_state_stream(
        spark,
        landing_dir=landing,
        state_dir=state,
        checkpoint_dir=str(tmp_path / "ck"),
        key_cols="o_custkey",
        order_col="o_orderdate",
        tiebreak_cols=["o_orderkey"],
        once=True,
    )
    assert q.awaitTermination(120), "current-state stream did not drain"
    got = {tuple(r) for r in current_state_table(spark, state).collect()}
    want = {
        tuple(r)
        for r in latest_per_key_window(
            o, "o_custkey", order_col="o_orderdate",
            tiebreak_cols=["o_orderkey"],
        ).collect()
    }
    assert got == want


def test_current_state_stream_fails_loudly_on_schema_drift(spark, tmp_path):
    """A standalone W26 stream guards its landing dir: after a first
    batch, a file landing with a column the stream's schema lacks
    fails the next run before any fold, so the table's committed
    generation does not change."""
    import os

    from leftshove_spark import statestore
    from leftshove_spark.streaming import (
        current_state_table,
        start_current_state_stream,
    )

    landing = str(tmp_path / "landing")
    state = str(tmp_path / "cur")
    os.makedirs(landing)
    spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], "k long, v long, p string"
    ).coalesce(1).write.mode("append").parquet(landing)
    narrow = spark.read.parquet(landing).schema

    def run():
        return start_current_state_stream(
            spark,
            landing_dir=landing,
            state_dir=state,
            checkpoint_dir=str(tmp_path / "ck"),
            key_cols="k",
            order_col="v",
            n_buckets=4,
            once=True,
            source_schema=narrow,
        )

    assert run().awaitTermination(120), "current-state stream did not drain"
    gens = statestore.list_generations(state)
    assert gens and current_state_table(spark, state).count() == 2

    spark.createDataFrame(
        [(3, 2, "c", "en")], "k long, v long, p string, lang string"
    ).coalesce(1).write.mode("append").parquet(landing)
    q = run()
    try:
        with pytest.raises(Exception, match="schema drift.*lang"):
            q.awaitTermination(120)
    finally:
        q.stop()
    assert statestore.list_generations(state) == gens
    assert current_state_table(spark, state).count() == 2


def test_maintain_current_state_map_payload(spark, tmp_path):
    """W25 inherits W18's map-payload handling through the shared core:
    map-bearing columns dedup via the to_json proxy (Spark rejects maps
    in dropDuplicates), byte-identical redeliveries collapse, and the
    latest version's map survives."""
    from leftshove_spark.streaming import current_state_table, maintain_current_state

    state = str(tmp_path / "cur")
    b1 = spark.createDataFrame(
        [(1, "2030-01-01", {"a": 1}), (2, "2030-01-01", {"b": 2})],
        "k long, d string, m map<string,int>",
    )
    maintain_current_state(spark, state, b1, "k", "d")
    maintain_current_state(spark, state, b1, "k", "d")  # redelivery
    b2 = spark.createDataFrame(
        [(1, "2030-02-01", {"a": 9})], "k long, d string, m map<string,int>"
    )
    maintain_current_state(spark, state, b2, "k", "d")
    got = {
        r["k"]: (r["d"], dict(r["m"]))
        for r in current_state_table(spark, state).collect()
    }
    assert got == {1: ("2030-02-01", {"a": 9}), 2: ("2030-01-01", {"b": 2})}


def test_maintain_current_state_folds_a_field_added_inside_a_struct(
    spark, tmp_path
):
    """The restart-with-wider-schema path the drift guard prescribes:
    after folds at ``meta struct<a>``, a batch at ``struct<a, lang>``
    folds into the same bucket as the old rows, the old version reads
    back with ``meta.lang`` NULL, and a point lookup returns the new
    field."""
    from leftshove_spark.streaming import (
        current_state_lookup,
        current_state_table,
        maintain_current_state,
    )

    state = str(tmp_path / "cur")
    b1 = spark.createDataFrame(
        [(1, "2030-01-01", ("x",)), (2, "2030-01-01", ("y",))],
        "k long, d string, meta struct<a: string>",
    )
    maintain_current_state(spark, state, b1, "k", "d", n_buckets=1)
    b2 = spark.createDataFrame(
        [(2, "2030-02-01", ("z", "en"))],
        "k long, d string, meta struct<a: string, lang: string>",
    )
    maintain_current_state(spark, state, b2, "k", "d", n_buckets=1)
    maintain_current_state(spark, state, b2, "k", "d", n_buckets=1)
    got = sorted(
        (r["k"], r["d"], r["meta"]["a"], r["meta"]["lang"])
        for r in current_state_table(spark, state).collect()
    )
    assert got == [(1, "2030-01-01", "x", None), (2, "2030-02-01", "z", "en")]
    (row,) = current_state_lookup(spark, state, {"k": 2}, n_buckets=1).collect()
    assert row["meta"]["lang"] == "en"


def _jobs_during(spark, group, fn):
    """``fn()``'s result and the Spark jobs it launched, counted under
    a job group through the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_current_state_lookup_prunes_to_one_bucket(spark, tmp_path):
    """W25 point reads resolve only the key's bucket from the manifest:
    with every other bucket's data files deleted from a copy of the
    store, each probe still returns exactly the full-table filter's row,
    including under multi-key concatenation."""
    import glob
    import os
    import shutil

    from leftshove_spark import statestore
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import (
        current_state_lookup,
        current_state_table,
        maintain_current_state,
    )

    state = str(tmp_path / "cur")
    o = load_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    maintain_current_state(spark, state, o, "o_custkey", "o_orderdate",
                           tiebreak_cols=["o_orderkey"])
    keys = [
        r["o_custkey"]
        for r in o.select("o_custkey").distinct().limit(20).collect()
    ]
    full = current_state_table(spark, state)
    stored = statestore.read_state(spark, state)
    bucket_dirs = {
        os.path.dirname(p) for p in glob.glob(f"{state}/data/__bucket=*/*.parquet")
    }
    assert len(bucket_dirs) > 1  # deleting the other buckets removes data
    for i, k in enumerate(keys):
        want = sorted(map(tuple, full.filter(F.col("o_custkey") == k).collect()))
        (b,) = {r["__bucket"] for r in stored.filter(F.col("o_custkey") == k).collect()}
        pruned = str(tmp_path / f"pruned{i}")
        shutil.copytree(state, pruned)
        for f in glob.glob(f"{pruned}/data/__bucket=*/*.parquet"):
            if f.split("__bucket=")[1].split("/")[0] != str(b):
                os.remove(f)
        got = sorted(map(tuple, current_state_lookup(spark, pruned, {"o_custkey": k}).collect()))
        assert got == want and len(got) == 1

    # multi-key maintainer: same shared-expression discipline
    state2 = str(tmp_path / "cur2")
    maintain_current_state(
        spark, state2, o, ["o_custkey", "o_orderkey"], "o_orderdate"
    )
    r0 = o.limit(1).collect()[0]
    got = current_state_lookup(
        spark, state2, {"o_custkey": r0["o_custkey"], "o_orderkey": r0["o_orderkey"]}
    ).collect()
    assert len(got) == 1 and got[0]["o_orderkey"] == r0["o_orderkey"]


def test_current_state_lookup_launches_no_spark_job(spark, tmp_path):
    """Lookups on a ``long`` key and on a ``string`` key are served on
    the driver: the lookup and its collect launch 0 Spark jobs, and each
    returns the full-table filter's rows at the table's schema, for
    present, absent and NULL keys."""
    from leftshove_spark.streaming import (
        current_state_lookup,
        current_state_table,
        maintain_current_state,
    )

    rows = [
        (i, f"s{i}", datetime(2030, 1, 1, 0, 0, i % 60, 250000),
         [i, -i], {"a": i}, ("x", i), "2030-01-01")
        for i in range(60)
    ]
    schema = ("k long, s string, ts timestamp, arr array<int>, "
              "m map<string,int>, st struct<a: string, b: int>, d string")
    df = spark.createDataFrame(rows + [(None,) * 6 + ("2030-01-01",)], schema)
    for key, probes in (("k", [0, 17, 59, 1000, None]), ("s", ["s3", "s59", "", "nope", None])):
        state = str(tmp_path / f"by_{key}")
        maintain_current_state(spark, state, df, key, "d", n_buckets=4)
        full = current_state_table(spark, state)
        for v in probes:
            probe, jobs = _jobs_during(
                spark, f"w25-census-{key}-{v}",
                lambda: current_state_lookup(spark, state, {key: v}, n_buckets=4),
            )
            got, collect_jobs = _jobs_during(
                spark, f"w25-census-collect-{key}-{v}", probe.collect
            )
            assert jobs == [] and collect_jobs == [], (key, v)
            cond = F.col(key).isNull() if v is None else F.col(key) == v
            want = full.filter(cond).collect()
            assert sorted(map(str, got)) == sorted(map(str, want)), (key, v)
            assert probe.schema == full.schema


def test_current_state_lookup_on_driver_conforms_evolved_files(spark, tmp_path):
    """A fold rewrites only the buckets it touches, so after a batch
    that adds a column and widens another, untouched buckets still hold
    files at the old schema. The driver read conforms them as Spark's
    read does: the added column reads NULL, the widened one up-casts,
    and every lookup launches no job and equals the full-table filter."""
    from leftshove_spark.streaming import (
        current_state_lookup,
        current_state_table,
        maintain_current_state,
    )

    state = str(tmp_path / "cur")
    b1 = spark.createDataFrame(
        [(k, k * 10, "2030-01-01") for k in range(40)], "k long, v int, d string"
    )
    maintain_current_state(spark, state, b1, "k", "d", n_buckets=8)
    b2 = spark.createDataFrame(
        [(3, 1 << 40, "2030-02-01", "new")], "k long, v long, d string, w string"
    )
    maintain_current_state(spark, state, b2, "k", "d", n_buckets=8)
    full = current_state_table(spark, state)
    assert full.schema["v"].dataType.simpleString() == "bigint"
    for k in range(40):
        got, jobs = _jobs_during(
            spark, f"w25-evolved-{k}",
            lambda: current_state_lookup(spark, state, {"k": k}, n_buckets=8).collect(),
        )
        assert jobs == [], k
        assert got == full.filter(F.col("k") == k).collect(), k
    (row,) = current_state_lookup(spark, state, {"k": 3}, n_buckets=8).collect()
    assert (row["v"], row["w"]) == (1 << 40, "new")


def test_current_state_lookup_on_driver_reads_int96_timestamps(spark, tmp_path):
    """A store written by a session on Spark's default INT96 timestamp
    output (no ``outputTimestampType`` conf) holds naive INT96 values.
    The driver read takes them as the UTC instants Spark wrote: lookups
    launch no job and return the Spark read's rows, for sub-second and
    pre-1970 values at the top level and inside a struct."""
    import glob

    import pyarrow.parquet as pq

    from leftshove_spark.streaming import (
        current_state_lookup,
        current_state_table,
        maintain_current_state,
    )

    stamps = [
        datetime(2030, 1, 1, 0, 0, 1, 250001),
        datetime(1969, 12, 31, 23, 59, 59, 999999),
        datetime(1901, 3, 4, 5, 6, 7, 123456),
    ]
    df = spark.createDataFrame(
        [(k, stamps[k % 3], (stamps[(k + 1) % 3],), "2030-01-01") for k in range(30)],
        "k long, ts timestamp, st struct<t: timestamp>, d string",
    )
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        state = str(tmp_path / "int96")
        maintain_current_state(spark, state, df, "k", "d", n_buckets=4)
    finally:
        spark.conf.set(key, old)
    sch = pq.ParquetFile(glob.glob(f"{state}/**/*.parquet", recursive=True)[0]).schema
    physical = {sch.column(i).path: sch.column(i).physical_type for i in range(len(sch))}
    assert physical["ts"] == physical["st.t"] == "INT96"
    full = current_state_table(spark, state)
    for v in (0, 1, 2, 29, 1000):
        probe, jobs = _jobs_during(
            spark, f"w25-int96-{v}",
            lambda: current_state_lookup(spark, state, {"k": v}, n_buckets=4),
        )
        got, collect_jobs = _jobs_during(spark, f"w25-int96-collect-{v}", probe.collect)
        assert jobs == [] and collect_jobs == [], v
        want = full.filter(F.col("k") == v).collect()
        assert sorted(map(str, got)) == sorted(map(str, want)), v
        assert len(got) == (v < 30)


def test_driver_bucket_matches_bucket_expr(spark):
    """The driver's bucket (``_driver_key_parts`` then
    ``statestore.bucket_of``) equals Spark's ``bucket_expr`` over the
    stored columns for seeded byte/short/int/long values (negatives,
    min and max), strings (empty, non-ASCII, one holding the 0x1f
    separator), NULL parts and multi-key tuples."""
    import random

    from pyspark.sql import types as T

    from leftshove_spark import statestore
    from leftshove_spark.streaming import _driver_key_parts

    rng = random.Random(8)
    bits = {"b": 8, "s": 16, "i": 32, "l": 64}
    strings = ["", "a", "é", "日本語", "naïve\x1fsep", "\x1f", "tab\tnl\n", "🙂"]
    rows = []
    for n in range(200):
        row = []
        for c, w in bits.items():
            lo, hi = -(1 << (w - 1)), (1 << (w - 1)) - 1
            edge = [lo, hi, lo + 1, hi - 1, 0, -1, 1]
            row.append(edge[n] if n < len(edge) else rng.randint(lo, hi))
        row.append(strings[n % len(strings)] + ("" if n < len(strings) else str(rng.random())))
        if n % 11 == 10:
            row[n % 5] = None  # a NULL part
        rows.append(tuple(row))
    schema = "b tinyint, s smallint, i int, l bigint, t string"
    df = spark.createDataFrame(rows, schema)
    types = {f.name: f.dataType for f in df.schema.fields}
    assert isinstance(types["b"], T.ByteType) and isinstance(types["s"], T.ShortType)
    key_sets = [["b"], ["s"], ["i"], ["l"], ["t"], ["i", "t"], ["t", "l", "b"],
                ["b", "s", "i", "l", "t"]]
    for n_buckets in (16, 7):
        got = df.select(
            *[
                statestore.bucket_expr(
                    [F.col(c).cast("string") for c in ks], n_buckets
                ).alias("|".join(ks))
                for ks in key_sets
            ]
        ).collect()
        for row, spark_row in zip(rows, got):
            named = dict(zip(["b", "s", "i", "l", "t"], row))
            for ks in key_sets:
                parts = _driver_key_parts({c: named[c] for c in ks}, types)
                assert parts is not None, (ks, row)
                want = spark_row["|".join(ks)]
                assert statestore.bucket_of(parts, n_buckets) == want, (ks, row)


def test_current_state_lookup_key_type_fidelity(spark, tmp_path):
    """ADVICE r11: the lookup's bucket hash must be byte-identical to
    the maintainer's ``crc32(concat_ws(cast(k as string)))`` for EVERY
    atomic key type — the old Python ``str(v)`` replica diverged on
    booleans (``True`` vs ``true``), floats near the scientific-
    notation switch, and sub-second timestamps, silently probing the
    wrong bucket (an existing key looked absent). Each probe must
    return exactly the full-table filter's row. Only an ``int`` on an
    integral column and a ``str`` on a string column are served on the
    driver; every other key type, and a Python value whose type does not
    match the column (``5.0`` or ``True`` on a ``long``), takes the
    Spark path, which launches jobs."""
    from datetime import datetime
    from decimal import Decimal

    from leftshove_spark.streaming import (
        current_state_lookup,
        current_state_table,
        maintain_current_state,
    )

    cases = [
        # (schema, rows, probes) — probes list (key_value, n_expected, on_driver)
        (
            "k boolean, d string, v long",
            [(True, "2030-01-01", 1), (False, "2030-01-01", 2)],
            [(True, 1, False), (False, 1, False)],
        ),
        (
            "k double, d string, v long",
            [(0.1, "2030-01-01", 1), (1e16, "2030-01-01", 2), (0.5, "2030-01-01", 3)],
            [(0.1, 1, False), (1e16, 1, False), (0.5, 1, False), (2.5, 0, False)],
        ),
        # float32: ADVICE r12 — the ROW filter (not just the bucket
        # hash) must cast the literal, or the column widens to double
        # and float32(0.1) != lit(0.1) silently returns no rows
        (
            "k float, d string, v long",
            [(0.1, "2030-01-01", 1), (2.7, "2030-01-01", 2), (0.5, "2030-01-01", 3)],
            [(0.1, 1, False), (2.7, 1, False), (0.5, 1, False), (9.9, 0, False)],
        ),
        (
            "k timestamp, d string, v long",
            [
                (datetime(2030, 1, 1, 12, 0, 0, 500000), "2030-01-01", 1),
                (datetime(2030, 1, 2, 0, 0, 0), "2030-01-01", 2),
            ],
            [
                (datetime(2030, 1, 1, 12, 0, 0, 500000), 1, False),
                (datetime(2030, 1, 2, 0, 0, 0), 1, False),
            ],
        ),
        # decimal renders its scale ("1.10"), which str(Decimal("1.1")) does not
        (
            "k decimal(12,2), d string, v long",
            [(Decimal("1.10"), "2030-01-01", 1), (Decimal("-3.00"), "2030-01-01", 2)],
            [(Decimal("1.1"), 1, False), (Decimal("1.10"), 1, False),
             (Decimal("-3"), 1, False), (Decimal("2.00"), 0, False)],
        ),
        (
            "k string, d string, v long",
            [("a", "2030-01-01", 1), (None, "2030-01-01", 2)],
            [("a", 1, True), (None, 1, True)],
        ),
        # mismatched Python values on a long column go through Spark's cast
        (
            "k long, d string, v long",
            [(1, "2030-01-01", 1), (5, "2030-01-01", 2)],
            [(5.0, 1, False), (True, 1, False), (5, 1, True), (1, 1, True)],
        ),
    ]
    for i, (schema, rows, probes) in enumerate(cases):
        state = str(tmp_path / f"cur{i}")
        maintain_current_state(
            spark, state, spark.createDataFrame(rows, schema), "k", "d"
        )
        full = current_state_table(spark, state)
        ktype = full.schema["k"].dataType
        for kv, n, on_driver in probes:
            got, jobs = _jobs_during(
                spark, f"w25-fidelity-{i}-{kv!r}",
                lambda: current_state_lookup(spark, state, {"k": kv}).collect(),
            )
            assert (jobs == []) == on_driver, f"{schema}: key {kv!r} launched {jobs}"
            # the reference filter casts the literal too — comparing a
            # float32 column against an uncast double literal misses
            cond = (
                F.col("k").isNull()
                if kv is None
                else (F.col("k") == F.lit(kv).cast(ktype))
            )
            want = full.filter(cond).collect()
            assert len(got) == n, f"{schema}: key {kv!r} → {len(got)} rows, want {n}"
            assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_maintain_history_rejects_version_stamp_conflicts(spark, tmp_path):
    """Version-key contract: byte-identical redeliveries collapse, but
    two DIFFERENT payloads sharing (key, order, tiebreaks) raise before
    anything is written — state on disk stays exactly as it was."""
    import pytest

    from leftshove_spark.streaming import history_state_table, maintain_history

    state = str(tmp_path / "hist")
    ok = spark.createDataFrame(
        [(1, "2026-01-01", "a")], "k long, d string, v string"
    )
    maintain_history(spark, state, ok, "k", "d")
    before = sorted(map(tuple, history_state_table(spark, state).collect()))

    conflict = spark.createDataFrame(
        [(1, "2026-01-02", "b"), (1, "2026-01-02", "c")],
        "k long, d string, v string",
    )
    with pytest.raises(ValueError, match="version key"):
        maintain_history(spark, state, conflict, "k", "d")
    after = sorted(map(tuple, history_state_table(spark, state).collect()))
    assert after == before  # nothing written

    # identical redelivery is NOT a conflict
    maintain_history(spark, state, ok, "k", "d")
    assert history_state_table(spark, state).count() == 1


def test_maintain_history_map_payload_column(spark, tmp_path):
    """ADVICE r8: map-typed payload columns are illegal in
    dropDuplicates, so the redelivery dedup goes through a to_json
    proxy — identical redeliveries still collapse, genuine updates
    still chain, and no AnalysisException escapes."""
    from leftshove_spark.streaming import history_state_table, maintain_history

    state = str(tmp_path / "hist")
    b1 = spark.createDataFrame(
        [(1, "2026-01-01", {"a": 1})], "k long, d string, m map<string,int>"
    )
    maintain_history(spark, state, b1, "k", "d")
    maintain_history(spark, state, b1, "k", "d")  # redelivery collapses
    assert history_state_table(spark, state).count() == 1

    b2 = spark.createDataFrame(
        [(1, "2026-01-02", {"a": 2})], "k long, d string, m map<string,int>"
    )
    maintain_history(spark, state, b2, "k", "d")
    rows = history_state_table(spark, state).orderBy("d").collect()
    assert [r["is_current"] for r in rows] == [False, True]
    assert rows[1]["m"] == {"a": 2}


def test_version_tiebreaks_skip_nested_maps(spark):
    """ADVICE r8: a map nested in an array/struct payload column is as
    unorderable as a top-level map — _version_tiebreaks must skip both
    so history()/state_at()/vacuum never hit orderBy AnalysisException."""
    from leftshove_spark.engine import Engine

    df = spark.createDataFrame(
        [],
        "k long, snapshot_tm timestamp, plain string, "
        "top_map map<string,int>, arr_map array<map<string,int>>, "
        "struct_map struct<inner:map<string,int>>, "
        "deep array<struct<x:int,m:map<string,int>>>, "
        "safe_struct struct<a:int,b:string>",
    )
    assert Engine._version_tiebreaks(df, "k") == ["plain", "safe_struct"]


def test_near_dedup_stream_admission(spark, tmp_path):
    """W20: per-micro-batch near-dup admission against the persisted
    index. Batch 1 (unique docs) is admitted whole — including only one
    representative of an in-batch near-dup pair; batch 2's near-dups of
    ADMITTED docs are rejected while its novel docs are admitted; the
    index holds exactly the admitted ids."""
    import os

    from leftshove_spark.streaming import start_near_dedup_stream

    landing = str(tmp_path / "landing")
    index_dir = str(tmp_path / "index")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def doc(i, extra=""):
        base = " ".join(f"tok{i} word{j} common{j % 3}" for j in range(12))
        return (i, base + (" " + extra if extra else ""))

    os.makedirs(landing)
    b1 = [doc(i) for i in range(5)]
    b1.append((100, b1[0][1] + " tail"))  # in-batch near-dup of doc 0
    spark.createDataFrame(b1, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    q = start_near_dedup_stream(
        spark,
        landing_dir=landing,
        index_dir=index_dir,
        out_dir=out_dir,
        checkpoint_dir=ck,
        once=True,
    )
    q.awaitTermination(120)
    admitted1 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert admitted1 == {0, 1, 2, 3, 4}  # 100 deduped in-batch (min id kept)

    # batch 2: near-dups of admitted docs + genuinely novel docs
    b2 = [(200, b1[1][1] + " suffix"), (201, b1[3][1] + " x")]
    b2 += [doc(i + 50) for i in range(2)]  # novel: 50, 51
    spark.createDataFrame(b2, "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    q = start_near_dedup_stream(
        spark,
        landing_dir=landing,
        index_dir=index_dir,
        out_dir=out_dir,
        checkpoint_dir=ck,
        once=True,
    )
    q.awaitTermination(120)
    admitted2 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert admitted2 == {0, 1, 2, 3, 4, 50, 51}
    idx_ids = {r["id"] for r in spark.read.parquet(index_dir).select("id").collect()}
    assert idx_ids == admitted2


def test_maintain_rollup_incremental_equals_batch_and_touches_only_hit_days(
    spark, tmp_path
):
    """W21 parity: three chunked folds (one re-delivered window of LATE
    data) produce exactly the one-shot aggregate, and a batch touching
    one day leaves every other day-partition's files byte-identical."""
    import os

    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import maintain_rollup, rollup_view

    state = str(tmp_path / "rollup")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "ts", F.col("value").cast("decimal(18,4)").alias("value")
    )
    for i in range(3):
        maintain_rollup(
            spark, state, ev.filter(F.col("event_id") % 3 == i),
            "ts", ["event_type"], sum_cols=["value"], window="1 day",
        )
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in rollup_view(spark, state, sum_cols=["value"]).collect()
    }
    want = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["s"])
        for r in ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want

    from leftshove_spark import statestore

    m1 = statestore.load_manifest(state)
    # late data for exactly one existing day
    one_day = ev.orderBy("event_id").limit(1).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    maintain_rollup(
        spark, state, one_day, "ts", ["event_type"], sum_cols=["value"],
        window="1 day",
    )
    m2 = statestore.load_manifest(state)
    changed_days = [
        v for v in m2["files"] if m2["files"][v] != m1["files"].get(v)
    ]
    assert len(changed_days) == 1
    # every other day-partition carries over by reference, bytes intact
    for v, rels in m2["files"].items():
        if v not in changed_days:
            assert rels == m1["files"][v]
            for rel in rels:
                assert os.path.exists(os.path.join(state, "data", rel))
    # and the late row is counted
    total_n = sum(
        r["n"] for r in rollup_view(spark, state, sum_cols=["value"]).collect()
    )
    assert total_n == ev.count() + 1


def test_near_dedup_stream_rejects_string_ids(spark, tmp_path):
    """r9 review: a string id would cast to NULL inside connected
    components and silently disable in-batch dedup — the stream must
    refuse it loudly."""
    import os

    import pytest

    from leftshove_spark.streaming import start_near_dedup_stream

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    spark.createDataFrame(
        [("u-1", "some text here")], "doc_id string, text string"
    ).write.mode("append").parquet(landing)
    with pytest.raises(TypeError, match="integral"):
        start_near_dedup_stream(
            spark,
            landing_dir=landing,
            index_dir=str(tmp_path / "idx"),
            out_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ck"),
            once=True,
        )


def test_corpus_stats_fold_and_duplication_signal(spark, tmp_path):
    """Three folds ≡ one-shot accounting (the w22 oracle certifies the
    values; here: state row shape + the KMV duplication signal). A
    REDELIVERED batch double-counts the exact fingerprint (documented
    at-least-once caveat) while the distinct-content estimate stays
    put — n_docs − est_distinct_content is the detector."""
    import pyspark.sql.functions as F

    from leftshove_spark.streaming import corpus_stats_view, maintain_corpus_stats

    rows = [(i, "g", f"text body number {i % 40}") for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, g string, text string")
    state = str(tmp_path / "stats")
    for i in range(3):
        maintain_corpus_stats(
            spark, state, df.filter(F.col("doc_id") % 3 == i), "g", k=64
        )
    v = corpus_stats_view(spark, state, k=64).first()
    assert v["n_docs"] == 120
    # 40 distinct texts, k=64 unsaturated -> estimate is EXACT
    assert v["est_distinct_content"] == 40.0
    assert v["n_docs"] - v["est_distinct_content"] == 80  # dup signal

    # redelivery: fingerprint double-counts, KMV does not
    maintain_corpus_stats(
        spark, state, df.filter(F.col("doc_id") % 3 == 0), "g", k=64
    )
    v2 = corpus_stats_view(spark, state, k=64).first()
    assert v2["n_docs"] == 160
    assert v2["est_distinct_content"] == 40.0


def test_corpus_stats_manifests_record_schema_and_reads_infer_none(
    spark, tmp_path, monkeypatch
):
    """W22 folds rewrite the sketch columns (``array<bigint>``) with
    nested nullability that differs between the first fold and later
    ones. Nullability is not a retype, so every manifest the folds
    write records the read schema, and resolving a read's schema runs
    no Spark job (no parquet footer inference)."""
    import pyspark.sql.functions as F

    from leftshove_spark import statestore
    from leftshove_spark.streaming import maintain_corpus_stats

    written = []
    real_write = statestore._write_manifest

    def recording_write(state_dir, manifest):
        written.append(manifest)
        return real_write(state_dir, manifest)

    monkeypatch.setattr(statestore, "_write_manifest", recording_write)
    rows = [(i, "g", f"text body number {i % 40}") for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, g string, text string")
    state = str(tmp_path / "stats")
    for i in range(3):
        maintain_corpus_stats(
            spark, state, df.filter(F.col("doc_id") % 3 == i), "g", k=64
        )
    assert [m["gen"] for m in written] == [1, 2, 3]
    assert all(m.get("schema") is not None for m in written)

    sc = spark.sparkContext
    group = "read-state-schema-probe"
    sc.setJobGroup(group, "resolve a state read's schema")
    try:
        fields = statestore.read_state(spark, state).schema.fieldNames()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert "content_kmv" in fields
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_embedding_index_stream_equals_batch_encode(spark, tmp_path):
    """W23: stream-appended PQ codes must be byte-identical to a batch
    re-encode of the same rows (pq_encode is a pure function of
    (vector, frozen codebooks)), and the index is searchable between
    triggers."""
    import os

    import pyspark.sql.functions as F

    from conftest import SF0001
    from leftshove_spark.ext import similarity as S
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import start_embedding_index_stream

    emb = load_table(spark, SF0001, "embeddings")
    books = S.pq_train_codebooks(emb)
    landing = str(tmp_path / "landing")
    index = str(tmp_path / "index")
    os.makedirs(landing)

    emb.filter(F.col("vec_id") % 2 == 0).write.mode("append").parquet(landing)
    q = start_embedding_index_stream(
        spark,
        landing_dir=landing,
        index_dir=index,
        books=books,
        checkpoint_dir=str(tmp_path / "ck"),
        once=True,
    )
    assert q.awaitTermination(120), "index stream did not drain"
    n1 = spark.read.parquet(index).count()
    assert n1 == emb.filter(F.col("vec_id") % 2 == 0).count()

    # the index is SEARCHABLE between triggers — ADC over the persisted
    # codes, no re-encoding, equals ADC over a fresh batch encode of
    # the same rows
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), S.quantize("embedding").alias("qqv")
    )
    got = S.knn_pq_adc_codes(spark.read.parquet(index), queries, books).collect()
    want = S.knn_pq_adc_codes(
        S.pq_encode(emb.filter(F.col("vec_id") % 2 == 0), books).drop("qv"),
        queries,
        books,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0

    emb.filter(F.col("vec_id") % 2 == 1).write.mode("append").parquet(landing)
    q = start_embedding_index_stream(
        spark,
        landing_dir=landing,
        index_dir=index,
        books=books,
        checkpoint_dir=str(tmp_path / "ck"),
        once=True,
    )
    assert q.awaitTermination(120), "index stream did not drain"

    streamed = spark.read.parquet(index)
    batch = S.pq_encode(emb, books).drop("qv")
    assert streamed.count() == emb.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_ivfadc_index_stream_equals_batch_encode_and_probes_prune(spark, tmp_path):
    """W24: stream-appended IVFADC rows ≡ batch re-encode (pure
    function of (vector, frozen cents+books)); the cell-partitioned
    index is searchable between triggers and search results equal the
    batch path, including with replayed duplicate rows (dedup guard)."""
    import os

    import pyspark.sql.functions as F

    from conftest import SF0001
    from leftshove_spark.ext import similarity as S
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import start_ivfadc_index_stream

    emb = load_table(spark, SF0001, "embeddings")
    cents, books = S.ivfadc_train(emb)
    landing = str(tmp_path / "landing")
    index = str(tmp_path / "index")
    os.makedirs(landing)

    emb.filter(F.col("vec_id") % 2 == 0).write.mode("append").parquet(landing)
    q = start_ivfadc_index_stream(
        spark,
        landing_dir=landing,
        index_dir=index,
        cents=cents,
        books=books,
        checkpoint_dir=str(tmp_path / "ck"),
        once=True,
    )
    assert q.awaitTermination(120), "ivfadc index stream did not drain"
    idx = spark.read.parquet(index)
    assert idx.count() == emb.filter(F.col("vec_id") % 2 == 0).count()
    # partitioned layout: cell=<N> directories exist (the pruning unit)
    assert any(d.startswith("cell=") for d in os.listdir(index))

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), S.quantize("embedding").alias("qqv")
    )
    got = S.knn_ivfadc_codes(idx, queries, cents, books).collect()
    want = S.knn_ivfadc_codes(
        S.ivfadc_encode(emb.filter(F.col("vec_id") % 2 == 0), cents, books),
        queries,
        cents,
        books,
        dedup=False,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0

    # second trigger: only the new half is encoded; final index ≡ batch
    emb.filter(F.col("vec_id") % 2 == 1).write.mode("append").parquet(landing)
    q = start_ivfadc_index_stream(
        spark,
        landing_dir=landing,
        index_dir=index,
        cents=cents,
        books=books,
        checkpoint_dir=str(tmp_path / "ck"),
        once=True,
    )
    assert q.awaitTermination(120), "ivfadc index stream did not drain"
    streamed = spark.read.parquet(index).select(
        "vec_id", "cell", *[c for c in idx.columns if c.startswith("code_")]
    )
    batch = S.ivfadc_encode(emb, cents, books).select(*streamed.columns)
    # partition column round-trips as int32 — align types before except
    streamed = streamed.withColumn("cell", F.col("cell").cast("long"))
    assert streamed.count() == emb.count()
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0

    # at-least-once replay: duplicate rows in the index must not eat
    # top-k slots when dedup=True (each id's copies carry equal codes)
    dup = spark.read.parquet(index)
    doubled = dup.unionByName(dup)
    got_dup = S.knn_ivfadc_codes(doubled, queries, cents, books, dedup=True).collect()
    full = S.knn_ivfadc_codes(
        S.ivfadc_encode(emb, cents, books), queries, cents, books, dedup=False
    )
    assert sorted(map(tuple, got_dup)) == sorted(map(tuple, full.collect()))


def test_decontaminate_stream_equals_batch_filter(spark, tmp_path):
    """W27: two streamed triggers of semantic-decontamination admission
    leave out_dir ≡ the one-shot batch filter over everything landed;
    contaminated rows land in quarantine WITH their matched benchmark
    id; replaying a drained stream appends nothing new logically
    (at-least-once, id-dedup downstream)."""
    import os

    from leftshove_spark.ext.pipeline import decontaminate_semantic
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import start_decontaminate_stream

    em = load_table(spark, SF0001, "embeddings").select("vec_id", "embedding")
    landing = str(tmp_path / "landing")
    bench_dir = str(tmp_path / "bench")
    out = str(tmp_path / "out")
    quar = str(tmp_path / "quarantine")
    os.makedirs(landing)
    # benchmark = perturbed copies of vectors 480+ under shifted ids
    bench = em.filter(F.col("vec_id") >= 480).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < 4, F.lit(0.0).cast("float")).otherwise(x),
        ).alias("embedding"),
    )
    bench.write.parquet(bench_dir)

    def run_once():
        q = start_decontaminate_stream(
            spark,
            landing_dir=landing,
            benchmark_emb_dir=bench_dir,
            out_dir=out,
            checkpoint_dir=str(tmp_path / "ck"),
            quarantine_dir=quar,
            threshold=0.9,
            dim=64,
            once=True,
        )
        assert q.awaitTermination(120), "decontaminate stream did not drain"

    em.filter(F.col("vec_id") % 2 == 0).write.mode("append").parquet(landing)
    run_once()
    em.filter(F.col("vec_id") % 2 == 1).write.mode("append").parquet(landing)
    run_once()

    flagged_ids = {
        r["vec_id"]
        for r in decontaminate_semantic(em, bench, threshold=0.9, dim=64)
        .select("vec_id")
        .collect()
    }
    admitted = {r["vec_id"] for r in spark.read.parquet(out).collect()}
    want = {r["vec_id"] for r in em.collect()} - flagged_ids
    assert admitted == want
    # quarantine carries the audit columns
    qrows = {
        r["vec_id"]: r["matched_benchmark_id"]
        for r in spark.read.parquet(quar).collect()
    }
    assert set(qrows) == flagged_ids
    for vid, bid in qrows.items():
        assert bid >= 100000


def test_current_state_stream_threads_retention_knobs(spark, tmp_path):
    """r13: the SCALE.md reader-latency envelope says a fast-cadence
    maintainer with slow readers MUST widen the manifest GC retention —
    so the knob has to be reachable from the W26 STREAM API (the exact
    deployment the envelope is about), not only from the batch fold.
    With keep_generations=3 the stream's folds keep every replaced
    generation's manifest (and files) across two commits."""
    import os

    from leftshove_spark import statestore
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import start_current_state_stream

    o = load_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "cur")
    os.makedirs(landing)
    for wave in (0, 1, 2):
        o.filter(F.col("o_orderkey") % 3 == wave).write.mode(
            "append"
        ).parquet(landing)
        q = start_current_state_stream(
            spark,
            landing_dir=landing,
            state_dir=state,
            checkpoint_dir=str(tmp_path / "ck"),
            key_cols="o_custkey",
            order_col="o_orderdate",
            tiebreak_cols=["o_orderkey"],
            once=True,
            keep_generations=3,
        )
        assert q.awaitTermination(120)
    gens = statestore._list_manifests(state)
    # all three generations' manifests retained — the default keep=1
    # would have dropped gen 1 at commit 3 (1 < 3-1); its survival
    # proves the stream API delivered the wider knob to the folds
    assert gens[0] == 1 and len(gens) >= 3


def test_current_state_table_generation_pin(spark, tmp_path):
    """r13: the W25 table reader exposes statestore time travel — pin
    the read to a retained generation and see what was live BEFORE a
    fold (audit/debug), within the K16 retention window."""
    from leftshove_spark.streaming import (
        current_state_table,
        maintain_current_state,
    )

    state = str(tmp_path / "cur")
    b1 = spark.createDataFrame(
        [(1, "2030-01-01", "a"), (2, "2030-01-01", "b")],
        "k long, d string, v string",
    )
    maintain_current_state(
        spark, state, b1, "k", "d", keep_generations=2
    )
    b2 = spark.createDataFrame(
        [(1, "2030-02-01", "A")], "k long, d string, v string"
    )
    maintain_current_state(
        spark, state, b2, "k", "d", keep_generations=2
    )
    now = {
        (r["k"], r["v"]) for r in current_state_table(spark, state).collect()
    }
    assert now == {(1, "A"), (2, "b")}
    before = {
        (r["k"], r["v"])
        for r in current_state_table(spark, state, generation=1).collect()
    }
    assert before == {(1, "a"), (2, "b")}


def test_change_feed_drives_incremental_downstream_replica(spark, tmp_path):
    """r13 K17 end-to-end, r14 form: a downstream consumer keeps a
    replica of the W26 materialized table with ONE call per maintenance
    wave — statestore.sync_state, which reads only the buckets each
    commit touched (the pinned-sync protocol, packaged; VERDICT r13
    next #1 asked exactly this: the hand-wired protocol this test used
    to spell out became the helper). Replica ≡ full table after every
    wave, untouched replica buckets never rewritten."""
    import os

    from leftshove_spark import statestore
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import (
        current_state_table,
        start_current_state_stream,
    )

    o = load_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    landing = str(tmp_path / "landing")
    state = str(tmp_path / "cur")
    replica = str(tmp_path / "replica")
    os.makedirs(landing)

    def bucket_listings() -> dict[str, list[str]]:
        return {
            d: sorted(os.listdir(os.path.join(replica, d)))
            for d in os.listdir(replica)
            if d.startswith("__bucket=")
        }

    prev_gen = None
    for wave in (0, 1, 2):
        o.filter(F.col("o_orderkey") % 3 == wave).write.mode(
            "append"
        ).parquet(landing)
        q = start_current_state_stream(
            spark,
            landing_dir=landing,
            state_dir=state,
            checkpoint_dir=str(tmp_path / "ck"),
            key_cols="o_custkey",
            order_col="o_orderdate",
            tiebreak_cols=["o_orderkey"],
            once=True,
            keep_generations=4,  # track back to the consumer's last gen
        )
        assert q.awaitTermination(120)

        before = bucket_listings() if wave else {}
        gen = statestore.sync_state(spark, state, replica)
        assert gen == statestore.list_generations(state)[-1]
        assert statestore.last_synced_generation(replica) == gen

        got = {
            (r["o_custkey"], r["o_orderkey"])
            for r in spark.read.parquet(replica).collect()
        }
        want = {
            (r["o_custkey"], r["o_orderkey"])
            for r in current_state_table(spark, state).collect()
        }
        assert got == want  # replica ≡ full table after every wave

        if wave and prev_gen is not None:
            # buckets the wave did NOT touch kept their exact files —
            # the sync was incremental, not a re-clone
            touched = set(
                statestore.changed_partitions(state, prev_gen, to_gen=gen)
            )
            untouched = {
                d: ls
                for d, ls in before.items()
                if d.split("=", 1)[1] not in touched
            }
            after = bucket_listings()
            for d, ls in untouched.items():
                assert after[d] == ls
        prev_gen = gen


def test_fold_files_per_bucket_caps_write_layout(spark, tmp_path):
    """r15 (K20's flip side): a fold's output arrives through the
    dedup/window shuffle, landing one file per (write task × touched
    bucket) — with AQE coalescing off (standing in for cluster-scale
    shuffle width) every touched bucket fragments in a single fold.
    files_per_bucket shapes the write at the source: per-bucket file
    counts stay ≤ the knob, and the folded VALUES are identical to the
    unshaped store's."""
    from leftshove_spark import statestore
    from leftshove_spark.streaming import (
        current_state_table,
        maintain_current_state,
    )

    rows = [(k, f"v{k}", k * 10) for k in range(200)]
    batch = spark.createDataFrame(rows, "pk long, v string, ts long")
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        plain = str(tmp_path / "plain")
        shaped = str(tmp_path / "shaped")
        maintain_current_state(spark, plain, batch, "pk", "ts", n_buckets=4)
        maintain_current_state(
            spark, shaped, batch, "pk", "ts", n_buckets=4, files_per_bucket=1
        )
    finally:
        spark.conf.set(coalesce_key, prev)

    mp = statestore.load_manifest(plain)
    ms = statestore.load_manifest(shaped)
    assert any(len(rels) > 1 for rels in mp["files"].values()), (
        "the unshaped fold should fragment with coalescing off — if this "
        "stops holding, the scenario no longer exercises the knob"
    )
    assert all(len(rels) <= 1 for rels in ms["files"].values())
    got_plain = sorted(
        (r["pk"], r["v"], r["ts"])
        for r in current_state_table(spark, plain).collect()
    )
    got_shaped = sorted(
        (r["pk"], r["v"], r["ts"])
        for r in current_state_table(spark, shaped).collect()
    )
    assert got_plain == got_shaped == sorted(rows)


def test_fold_files_per_bucket_invalid_raises(spark, tmp_path):
    """r15 review: files_per_bucket=0 must fail loudly, not silently
    skip the shaping the knob's contract promises."""
    import pytest

    from leftshove_spark.streaming import maintain_current_state

    batch = spark.createDataFrame([(1, "a", 1)], "pk long, v string, ts long")
    with pytest.raises(ValueError, match="files_per_bucket"):
        maintain_current_state(
            spark,
            str(tmp_path / "bad"),
            batch,
            "pk",
            "ts",
            files_per_bucket=0,
        )
