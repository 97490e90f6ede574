"""Engine operator tests: W1 run loop, §2.11 transform hook, F7
discovery seed, and the no-count-job row estimate."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from leftshove_spark.engine import Engine
from leftshove_spark.session import EngineConfig
from leftshove_spark.sources import load_table

from conftest import SF0001


def _engine(spark, tmp_path, **cfg):
    return Engine(
        spark,
        EngineConfig(**cfg),
        state_path=str(tmp_path / "state.json"),
        sink_root=str(tmp_path / "sink"),
    )


def test_discover_finds_tables_owning_nms_column(spark, tmp_path):
    """F7 — seed without an explicit table list (postgres.go:208 analog):
    only `events` owns a `ts` column among the fixtures."""
    eng = _engine(spark, tmp_path)
    found = eng.discover(SF0001, "ts", pkey_columns={"events": "event_id"})
    assert [s["name"] for s in found] == ["events"]
    assert found[0]["pkey_column"] == "event_id"
    seeded = eng.seed(found)
    assert len(seeded) == 1 and seeded[0].name == "events"
    # a column owned by several tables discovers them all
    multi = eng.discover(SF0001, "o_orderkey")
    assert [s["name"] for s in multi] == ["orders"]


def test_run_loop_catches_up(spark, tmp_path):
    """W1 — Engine.run drives N cycles; the sink converges to the source
    through the bounded windows (main.go:56-64 for{cdc()} analog)."""
    eng = _engine(spark, tmp_path)
    eng.seed(eng.discover(SF0001, "ts", pkey_columns={"events": "event_id"}))
    eng.create_sinks()
    clock = {"t": datetime(2026, 8, 1)}

    def now_fn():
        clock["t"] += timedelta(hours=1)
        return clock["t"]

    results = eng.run(max_cycles=4, now_fn=now_fn, snapshot_at=datetime(2026, 1, 1))
    assert len(results) == 4
    src_n = load_table(spark, SF0001, "events").count()
    assert eng.current_state("events").count() == src_n


def test_transform_hook_applies_mid_capture(spark, tmp_path):
    """§2.11 — the processor slot (benthos.go:39-44): uppercase a column
    mid-capture; the sink must carry the transformed rows."""
    eng = _engine(spark, tmp_path)
    eng.seed(eng.discover(SF0001, "ts", pkey_columns={"events": "event_id"}))
    eng.create_sinks()
    eng.set_transform("events", lambda df: df.withColumn("event_type", F.upper("event_type")))
    eng.run(max_cycles=3, now_fn=lambda: datetime(2026, 8, 1))
    sink = spark.read.parquet(eng.sink_path(eng.state.get("events", "0")))
    vals = [r[0] for r in sink.select("event_type").distinct().collect()]
    assert vals and all(v == v.upper() for v in vals)


def test_row_count_cached_no_spark_job(spark, tmp_path):
    """The controller's count feed comes from parquet footers with a
    per-file cache — no Spark count job per cycle (What's-wrong #5)."""
    eng = _engine(spark, tmp_path)
    eng.seed([
        {"name": "events", "path": f"{SF0001}/events.parquet", "nms_column": "ts"},
    ])
    st = eng.state.get("events", "0")
    n1 = eng._source_row_count(st)
    assert n1 == load_table(spark, SF0001, "events").count()
    # cache primed: same file served from state.extra, not re-read
    assert len(st.extra["file_counts"]) == 1
    before = dict(st.extra["file_counts"])
    n2 = eng._source_row_count(st)
    assert n2 == n1 and st.extra["file_counts"] == before


def test_engine_history_and_as_of(spark, tmp_path):
    """J5/J6 through the engine API: after multi-cycle capture, the
    history view's current slice equals current_state, each pkey has
    exactly one open interval, and state_as_of at the final watermark
    matches current_state's keys."""
    eng = _engine(spark, tmp_path)
    eng.seed(eng.discover(SF0001, "ts", pkey_columns={"events": "event_id"}))
    eng.create_sinks()
    clock = {"t": datetime(2026, 8, 1)}

    def now_fn():
        clock["t"] += timedelta(hours=1)
        return clock["t"]

    eng.run(max_cycles=4, now_fn=now_fn, snapshot_at=datetime(2026, 1, 1))
    hist = eng.history("events")
    cur = eng.current_state("events")
    open_per_key = (
        hist.filter(F.col("is_current")).groupBy("event_id").count().collect()
    )
    assert all(r["count"] == 1 for r in open_per_key)
    assert hist.filter(F.col("is_current")).count() == cur.count()
    asof = eng.state_as_of("events", datetime(2030, 1, 1))
    assert asof.count() == cur.count()


def test_engine_history_error_paths(spark, tmp_path):
    """history() names its failure modes: unknown table -> KeyError,
    seeded-but-pkeyless table -> ValueError (history is undefined
    without a key to chain versions on)."""
    import pytest

    eng = _engine(spark, tmp_path)
    eng.seed(eng.discover(SF0001, "ts", pkey_columns={"events": "event_id"}))
    with pytest.raises(KeyError):
        eng.history("nonexistent")
    for st in eng.state.all():
        st.pkey_column = None
        eng.state.upsert(st)
    with pytest.raises(ValueError):
        eng.history("events")


def test_engine_state_at_matches_state_as_of(spark, tmp_path):
    """The pushdown fast path and the interval path answer the same
    question: identical pkey sets at T through the engine API."""
    eng = _engine(spark, tmp_path)
    eng.seed(eng.discover(SF0001, "ts", pkey_columns={"events": "event_id"}))
    eng.create_sinks()
    clock = {"t": datetime(2026, 8, 1)}

    def now_fn():
        clock["t"] += timedelta(hours=1)
        return clock["t"]

    eng.run(max_cycles=3, now_fn=now_fn, snapshot_at=datetime(2026, 1, 1))
    T = datetime(2030, 1, 1)
    fast = {r["event_id"] for r in eng.state_at("events", T).select("event_id").collect()}
    slow = {r["event_id"] for r in eng.state_as_of("events", T).select("event_id").collect()}
    assert fast == slow and fast


def test_engine_history_deterministic_on_snapshot_tm_ties(spark, tmp_path):
    """r7 advice: two captured versions of a pkey sharing snapshot_tm (a
    same-cycle source duplicate) must yield a DETERMINISTIC interval
    chain — Engine now passes the payload columns as tiebreaks, so the
    winner is the max over (snapshot_tm, payload) and history /
    state_as_of / state_at agree on the same row, not an arbitrary
    partition-order pick."""
    from datetime import datetime

    src = spark.createDataFrame(
        [(1, datetime(2026, 1, 1), "a")], "id long, ts timestamp, v string"
    )
    p = str(tmp_path / "acc.parquet")
    src.write.parquet(p)
    eng = _engine(spark, tmp_path)
    eng.seed([{"name": "acc", "path": p, "nms_column": "ts", "pkey_column": "id"}])
    eng.create_sinks()
    st = next(s for s in eng.state.all() if s.name == "acc")
    t0, t1 = datetime(2026, 2, 1), datetime(2026, 3, 1)
    cdc = spark.createDataFrame(
        [
            (1, datetime(2026, 1, 1), "a", t0),
            (1, datetime(2026, 1, 2), "b", t1),  # tie pair at t1 with
            (1, datetime(2026, 1, 3), "c", t1),  # different payloads
        ],
        "id long, ts timestamp, v string, snapshot_tm timestamp",
    )
    cdc.write.mode("overwrite").parquet(eng.sink_path(st))

    hist = eng.history("acc")
    cur = hist.filter(F.col("is_current")).collect()
    # max over (snapshot_tm, ts, v): both candidates share t1, ts breaks
    assert len(cur) == 1 and cur[0]["v"] == "c"
    # the interval chain is total: valid_to of the 'b' version is t1
    b = hist.filter(F.col("v") == "b").collect()[0]
    assert b["valid_to"] == t1 and not b["is_current"]

    T = datetime(2026, 4, 1)
    fast = [(r["id"], r["v"]) for r in eng.state_at("acc", T).select("id", "v").collect()]
    slow = [(r["id"], r["v"]) for r in eng.state_as_of("acc", T).select("id", "v").collect()]
    assert fast == slow == [(1, "c")]


def test_engine_changes_between(spark, tmp_path):
    """Change feed across capture instants: keys captured in (t1, t2]
    show as 'added' on an append-only sink; an updated version of an
    existing pkey shows as 'changed'; nothing is 'removed'."""
    from datetime import datetime

    src = spark.createDataFrame(
        [(1, datetime(2026, 1, 1), "a")], "id long, ts timestamp, v string"
    )
    p = str(tmp_path / "acc.parquet")
    src.write.parquet(p)
    eng = _engine(spark, tmp_path)
    eng.seed([{"name": "acc", "path": p, "nms_column": "ts", "pkey_column": "id"}])
    eng.create_sinks()
    st = next(s for s in eng.state.all() if s.name == "acc")
    t0, t1, t2 = (datetime(2026, 2, 1), datetime(2026, 3, 1), datetime(2026, 4, 1))
    cdc = spark.createDataFrame(
        [
            (1, datetime(2026, 1, 1), "a", t0),   # initial
            (2, datetime(2026, 1, 2), "b", t1),   # new key in (t0, t1]
            (1, datetime(2026, 1, 3), "a2", t2),  # new version of 1 in (t1, t2]
        ],
        "id long, ts timestamp, v string, snapshot_tm timestamp",
    )
    cdc.write.mode("overwrite").parquet(eng.sink_path(st))

    d01 = {(r["id"], r["change_type"]) for r in eng.changes_between("acc", t0, t1).collect()}
    assert d01 == {(2, "added")}
    d12 = {(r["id"], r["change_type"]) for r in eng.changes_between("acc", t1, t2).collect()}
    assert d12 == {(1, "changed")}
    d02 = {(r["id"], r["change_type"]) for r in eng.changes_between("acc", t0, t2).collect()}
    assert d02 == {(1, "changed"), (2, "added")}


def test_engine_vacuum_snapshots_preserves_post_horizon_state(spark, tmp_path):
    """Retention contract: after vacuum(horizon), every state_at(ts)
    with ts >= horizon is IDENTICAL to before; pre-horizon versions are
    gone except each key's baseline; sink has no staging leftovers."""
    import os
    from datetime import datetime

    src = spark.createDataFrame(
        [(1, datetime(2026, 1, 1), "a")], "id long, ts timestamp, v string"
    )
    p = str(tmp_path / "acc.parquet")
    src.write.parquet(p)
    eng = _engine(spark, tmp_path)
    eng.seed([{"name": "acc", "path": p, "nms_column": "ts", "pkey_column": "id"}])
    eng.create_sinks()
    st = next(s for s in eng.state.all() if s.name == "acc")
    ts = [datetime(2026, m, 1) for m in range(1, 7)]
    cdc = spark.createDataFrame(
        # key 1: versions in months 1,2,5; key 2: months 1,3; key 3: month 6
        [(1, datetime(2026, 1, 1), "a1", ts[0]),
         (1, datetime(2026, 1, 2), "a2", ts[1]),
         (1, datetime(2026, 1, 3), "a5", ts[4]),
         (2, datetime(2026, 1, 4), "b1", ts[0]),
         (2, datetime(2026, 1, 5), "b3", ts[2]),
         (3, datetime(2026, 1, 6), "c6", ts[5])],
        "id long, ts timestamp, v string, snapshot_tm timestamp",
    )
    cdc.write.mode("overwrite").parquet(eng.sink_path(st))

    horizon = datetime(2026, 4, 1)
    before = {
        t: sorted((r["id"], r["v"]) for r in eng.state_at("acc", t).collect())
        for t in ts[3:] + [datetime(2027, 1, 1)]
    }
    kept = eng.vacuum_snapshots("acc", horizon)
    # keys 1,2 keep one pre-horizon baseline each (a2, b3) + months 5,6
    assert kept == 4
    after = {
        t: sorted((r["id"], r["v"]) for r in eng.state_at("acc", t).collect())
        for t in before
    }
    assert after == before
    # forfeited history: a1/b1 gone
    vs = {r["v"] for r in spark.read.parquet(eng.sink_path(st)).collect()}
    assert vs == {"a2", "b3", "a5", "c6"}
    assert not any(e.startswith(".compact") for e in os.listdir(eng.sink_path(st)))


def test_backfill_idempotent_late_data_repair(spark, tmp_path):
    """K11: late rows landing with historical nms (beyond the
    replication buffer) are folded in exactly once; already-captured
    versions never duplicate; re-running the backfill appends 0; the
    backfilled version interleaves into SCD2 history at its historical
    position (snapshot_tm = nms), not at repair time."""
    from datetime import datetime

    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig

    work = str(tmp_path)
    src_dir = f"{work}/src.parquet"
    rows = [
        (1, "a-v1", datetime(2030, 1, 1)),
        (1, "a-v2", datetime(2030, 3, 1)),
        (2, "b-v1", datetime(2030, 1, 15)),
    ]
    spark.createDataFrame(
        rows, "pk long, v string, ts timestamp"
    ).write.parquet(src_dir)

    eng = Engine(
        spark,
        EngineConfig(replication_buffer_secs=0, max_step_hours=24 * 365),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng.seed([{"name": "t", "path": src_dir, "nms_column": "ts",
               "pkey_column": "pk"}])
    eng.create_sinks()
    # timely captures: each cycle stamps close to the versions it sees,
    # so capture-time history tracks source-time (the deployment the
    # nms-stamped backfill is designed for)
    eng.run_cycle(now=datetime(2030, 1, 20), snapshot_at=datetime(2030, 1, 20))
    eng.run_cycle(now=datetime(2030, 3, 10), snapshot_at=datetime(2030, 3, 10))
    sink = eng.sink_path(next(s for s in eng.state.all() if s.name == "t"))
    assert spark.read.parquet(sink).count() == 3

    # late data: a version of pk=1 dated BETWEEN v1 and v2 arrives after
    # the watermark has moved past it
    spark.createDataFrame(
        [(1, "a-v1.5", datetime(2030, 2, 1))], "pk long, v string, ts timestamp"
    ).write.mode("append").parquet(src_dir)

    n = eng.backfill("t", datetime(2030, 1, 1), datetime(2030, 3, 1))
    assert n == 1  # only the late row; captured versions not re-appended
    assert spark.read.parquet(sink).count() == 4
    assert eng.backfill("t", datetime(2030, 1, 1), datetime(2030, 3, 1)) == 0

    hist = {(r["v"]): r for r in eng.history("t").filter("pk = 1").collect()}
    assert set(hist) == {"a-v1", "a-v1.5", "a-v2"}
    # historical interleave: v1 -> v1.5 -> v2, v2 current
    assert hist["a-v1"]["valid_to"] == hist["a-v1.5"]["valid_from"]
    assert hist["a-v1.5"]["valid_to"] == hist["a-v2"]["valid_from"]
    assert hist["a-v2"]["is_current"] and not hist["a-v1.5"]["is_current"]
    # point-in-time query lands on the backfilled version: after its
    # nms stamp (2030-02-01), before v2's capture (2030-03-10)
    mid = eng.state_as_of("t", datetime(2030, 2, 15)).filter("pk = 1").collect()
    assert [r["v"] for r in mid] == ["a-v1.5"]


def test_change_feed_applies_to_replica(spark, tmp_path):
    """The change-feed consumer loop: a replica seeded from state_at(t1)
    plus the applied payload feed equals state_at(t2) exactly; applying
    the same feed twice is idempotent; a removed key disappears."""
    from datetime import datetime

    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig
    from leftshove_spark.views import apply_changes

    work = str(tmp_path)
    src_dir = f"{work}/src.parquet"
    rows = [
        (1, "a-v1", datetime(2030, 1, 1)),
        (2, "b-v1", datetime(2030, 1, 1)),
        (1, "a-v2", datetime(2030, 2, 1)),
        (3, "c-v1", datetime(2030, 2, 1)),
    ]
    spark.createDataFrame(rows, "pk long, v string, ts timestamp").write.parquet(
        src_dir
    )
    eng = Engine(
        spark,
        EngineConfig(replication_buffer_secs=0, max_step_hours=24 * 365),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng.seed([{"name": "t", "path": src_dir, "nms_column": "ts",
               "pkey_column": "pk"}])
    eng.create_sinks()
    eng.run_cycle(now=datetime(2030, 1, 10), snapshot_at=datetime(2030, 1, 10))
    eng.run_cycle(now=datetime(2030, 2, 10), snapshot_at=datetime(2030, 2, 10))

    t1, t2 = datetime(2030, 1, 15), datetime(2030, 2, 15)
    replica = f"{work}/replica"
    eng.state_at("t", t1).drop("snapshot_tm").write.parquet(replica)

    feed = eng.changes_between("t", t1, t2, include_payload=True)
    assert set(feed.columns) == {"pk", "change_type", "v", "ts"}
    apply_changes(spark, replica, feed, "pk")
    got = sorted(map(tuple, spark.read.parquet(replica).select("pk", "v").collect()))
    want = sorted(
        map(tuple, eng.state_at("t", t2).select("pk", "v").collect())
    )
    assert got == want == [(1, "a-v2"), (2, "b-v1"), (3, "c-v1")]

    apply_changes(spark, replica, feed, "pk")  # idempotent
    assert sorted(
        map(tuple, spark.read.parquet(replica).select("pk", "v").collect())
    ) == want

    # synthetic removal flows through as a delete
    removal = spark.createDataFrame(
        [(2, "removed", None, None)], "pk long, change_type string, v string, ts timestamp"
    )
    apply_changes(spark, replica, removal, "pk")
    assert sorted(
        r["pk"] for r in spark.read.parquet(replica).collect()
    ) == [1, 3]


def test_engine_lifecycle_survives_widened_sink(spark, tmp_path):
    """r9 review: refresh_view (inside run_cycle) and a create_sinks
    restart must not crash on the mixed-schema sink D7b widening
    leaves behind — every evolved-sink read funnels through the
    widened-schema fallback."""
    from datetime import datetime

    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig

    work = str(tmp_path)
    src = f"{work}/src.parquet"
    spark.createDataFrame(
        [(1, 5, datetime(2030, 1, 1))], "pk int, v int, ts timestamp"
    ).write.parquet(src)
    eng = Engine(
        spark,
        EngineConfig(replication_buffer_secs=0, evolve_schema=True),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng.seed([{"name": "t", "path": src, "nms_column": "ts", "pkey_column": "pk"}])
    eng.create_sinks()
    eng.run_cycle(now=datetime(2030, 1, 2), snapshot_at=datetime(2030, 1, 2))
    sink = eng.sink_path(next(s for s in eng.state.all() if s.name == "t"))
    spark.createDataFrame(
        [(2_999_999_999, 7, datetime(2030, 2, 1), datetime(2030, 2, 1))],
        "pk long, v long, ts timestamp, snapshot_tm timestamp",
    ).write.mode("append").parquet(sink)

    # run_cycle end-to-end (capture + refresh_view) over the mixed sink
    eng.run_cycle(now=datetime(2030, 3, 1), snapshot_at=datetime(2030, 3, 1))
    assert spark.table("t").count() == 2  # view readable, both pks

    # engine restart: create_sinks diffs the live schema again
    eng2 = Engine(
        spark,
        EngineConfig(replication_buffer_secs=0, evolve_schema=True),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng2.create_sinks()
    assert eng2.current_state("t").count() == 2


def test_run_cycle_auto_applies_source_schema_drift(spark, tmp_path):
    """VERDICT r10 #9 — the capture loop composes D6 detection with the
    D7/D7b apply path: seed + capture, then the SOURCE widens (int→long
    pk/v) AND grows a column, and the next run_cycle applies the
    evolution automatically — no manual apply_schema_diff. History and
    the current-state view stay readable across the widening, the
    cached state schema updates, and the new column is NULL on old
    rows."""
    from datetime import datetime

    from pyspark.sql import types as T

    from leftshove_spark.engine import Engine
    from leftshove_spark.schema import schema_from_json
    from leftshove_spark.session import EngineConfig
    from leftshove_spark.sources import read_parquet_normalized

    work = str(tmp_path)
    src = f"{work}/src.parquet"
    spark.createDataFrame(
        [(1, 5, datetime(2030, 1, 1))], "pk int, v int, ts timestamp"
    ).write.parquet(src)
    eng = Engine(
        spark,
        EngineConfig(replication_buffer_secs=0, evolve_schema=True),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng.seed([{"name": "t", "path": src, "nms_column": "ts", "pkey_column": "pk"}])
    eng.create_sinks()
    eng.run_cycle(now=datetime(2030, 1, 2), snapshot_at=datetime(2030, 1, 2))

    # the source widens AND gains a column (the upstream ALTER TABLE)
    spark.createDataFrame(
        [
            (1, 5, datetime(2030, 1, 1), None),
            (2_999_999_999, 7_000_000_000, datetime(2030, 2, 1), "new"),
        ],
        "pk long, v long, ts timestamp, note string",
    ).write.mode("overwrite").parquet(src)

    # 3 cycles: the controller caps watermark advance at max_step_hours
    # (336 h) per cycle, and the gap is ~30 days
    for _ in range(3):
        eng.run_cycle(now=datetime(2030, 3, 1), snapshot_at=datetime(2030, 3, 1))

    st = next(s for s in eng.state.all() if s.name == "t")
    cached = schema_from_json(st.sink_schema_json)
    by_name = {f.name: f.dataType for f in cached.fields}
    assert by_name["pk"] == T.LongType() and by_name["v"] == T.LongType()
    assert "note" in by_name
    # current-state view readable over the mixed sink; both pks present,
    # widened values intact, old rows NULL in the added column
    cur = {r["pk"]: r for r in spark.table("t").collect()}
    assert set(cur) == {1, 2_999_999_999}
    assert cur[2_999_999_999]["v"] == 7_000_000_000
    assert cur[2_999_999_999]["note"] == "new"
    assert cur[1]["note"] is None
    # SCD2 history over the evolved sink stays derivable
    hist = eng.history("t")
    assert hist.count() == 2 and "valid_from" in hist.columns
    # a THIRD cycle with no further drift is a clean no-op
    eng.run_cycle(now=datetime(2030, 4, 1), snapshot_at=datetime(2030, 4, 1))
    assert spark.table("t").count() == 2


def test_view_survives_vacuum_and_backfill(spark, tmp_path):
    """r11: vacuum_snapshots REWRITES the sink (staged swap) and
    backfill APPENDS to it — both must re-register the current-state
    view, or the next spark.table(t) read lists deleted/missing files
    (found by the demo's post-vacuum assertion)."""
    from datetime import datetime, timedelta

    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig

    work = str(tmp_path)
    src = f"{work}/src.parquet"
    rows = [
        (k, f"v{k}-{d}", datetime(2030, 1, 1) + timedelta(days=d))
        for k in range(4)
        for d in range(3)
    ]
    spark.createDataFrame(rows, "pk long, v string, ts timestamp").write.parquet(src)
    eng = Engine(
        spark,
        EngineConfig(replication_buffer_secs=0),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng.seed([{"name": "t", "path": src, "nms_column": "ts", "pkey_column": "pk"}])
    eng.create_sinks()
    eng.run_cycle(now=datetime(2030, 1, 10), snapshot_at=datetime(2030, 1, 10))
    assert eng.current_state("t").count() == 4

    eng.vacuum_snapshots("t", datetime(2030, 1, 2))
    # the view must be readable and correct AFTER the sink rewrite
    assert eng.current_state("t").count() == 4

    filled = eng.backfill("t", datetime(2029, 12, 1), datetime(2030, 1, 9))
    assert eng.current_state("t").count() == 4  # readable after append
    assert filled >= 0


def test_engine_materialized_current_state_tracks_view(spark, tmp_path):
    """W25 engine integration: with materialize_current_state on, every
    capture cycle folds its delta into <sink>_current, and the table
    stays ≡ the deterministic latest-per-key form of the full sink
    after EVERY cycle — including a re-captured window (watermark
    deliberately rolled back to simulate a crash before commit).
    Engine.maintain_state then sweeps planted past-grace crash debris
    and compacts a fragmented bucket, both without disturbing
    table ≡ view."""
    from datetime import datetime, timedelta

    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig
    from leftshove_spark.views import latest_per_key_window

    work = str(tmp_path)
    src = f"{work}/src.parquet"
    rows = [
        (k, f"v{k}-{d}", datetime(2030, 1, 1) + timedelta(days=d, minutes=k))
        for k in range(6)
        for d in range(4)
    ]
    spark.createDataFrame(rows, "pk long, v string, ts timestamp").write.parquet(src)
    eng = Engine(
        spark,
        EngineConfig(
            replication_buffer_secs=0,
            materialize_current_state=True,
            current_state_buckets=4,
        ),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng.seed([{"name": "t", "path": src, "nms_column": "ts", "pkey_column": "pk"}])
    eng.create_sinks()

    def table_vs_view():
        st = next(s for s in eng.state.all() if s.name == "t")
        cdc, _ = eng._cdc_df("t")
        view = latest_per_key_window(
            cdc, "pk", order_col="snapshot_tm", tiebreak_cols=["ts"]
        )
        got = sorted(
            (r["pk"], r["v"], r["ts"])
            for r in eng.current_state_table("t").collect()
        )
        want = sorted(
            (r["pk"], r["v"], r["ts"])
            for r in view.select("pk", "v", "ts").collect()
        )
        return got, want

    now = datetime(2030, 1, 3)
    for cycle in range(3):
        eng.run_cycle(now=now, snapshot_at=now)
        got, want = table_vs_view()
        assert got == want, f"cycle {cycle}: {got} != {want}"
        now += timedelta(days=2)

    # crash-before-commit: roll the watermark back one window and
    # re-capture — the sink double-appends (at-least-once), the fold
    # re-folds, and table ≡ view still holds
    st = next(s for s in eng.state.all() if s.name == "t")
    eng.state.commit_watermark(
        "t", st.dsn, st.nms - timedelta(days=2), st.last_row_count, now
    )
    eng.run_cycle(now=now, snapshot_at=now)
    got, want = table_vs_view()
    assert got == want
    # and the table is exactly one row per live key
    assert len(got) == 6

    # the maintenance pass sweeps planted past-grace crash debris from
    # the state store (a partition the cycles never fold again would
    # otherwise keep it forever); live state is untouched
    import os as _os
    import time as _time

    from leftshove_spark import statestore

    st = next(s for s in eng.state.all() if s.name == "t")
    state_dir = eng.current_state_path(st)
    bucket = next(
        d
        for d in _os.listdir(_os.path.join(state_dir, "data"))
        if d.startswith("__bucket=")
    )
    planted = _os.path.join(
        state_dir, "data", bucket, "g0000000099-feedbeef-part-0.parquet"
    )
    with open(planted, "wb") as fh:
        fh.write(b"PAR1")
    old_ts = _time.time() - statestore.ORPHAN_SWEEP_GRACE_SEC - 60
    _os.utime(planted, (old_ts, old_ts))
    res = eng.maintain_state("t")
    assert not _os.path.exists(planted)
    assert any(v.endswith(_os.path.basename(planted)) for v in res["vacuumed"])
    got, want = table_vs_view()
    assert got == want

    # K20: at cluster scale a fold's wide shuffle writes a file per
    # (write task × touched bucket) — AQE coalesces that away at this
    # test's size, so fragment one bucket deliberately (a multi-task
    # rewrite of its own rows), then compact through the engine's
    # maintenance pass: counts drop, and table ≡ view is undisturbed.
    m = statestore.load_manifest(state_dir)
    all_buckets = sorted(m["files"])
    # one task per key → every bucket's rows land one file per key, so
    # any bucket holding >=2 of the 6 keys fragments deterministically
    scattered = statestore.read_state(spark, state_dir).repartitionByRange(
        6, "pk"
    )
    statestore.commit_fold(spark, state_dir, scattered, "__bucket", all_buckets)
    m = statestore.load_manifest(state_dir)
    frag = {v: len(rels) for v, rels in m["files"].items() if len(rels) >= 2}
    assert frag  # 6 keys over 4 buckets: pigeonhole guarantees one
    plan = eng.maintain_state("t", min_files=2)["compacted"]
    assert set(plan) == set(frag)
    m2 = statestore.load_manifest(state_dir)
    for v, n in plan.items():
        assert len(m2["files"][v]) <= n < frag[v]
    got, want = table_vs_view()
    assert got == want


def test_backfill_folds_into_materialized_state(spark, tmp_path):
    """r11 regression: backfill's post-append W25 fold must see the
    MATERIALIZED repair rows — the append invalidates any cached plan
    reading the sink path, and a persisted anti-join silently
    recomputed to EMPTY against the already-repaired sink (the fold
    then wrote nothing; demo smoke caught it). localCheckpoint cuts
    the path dependency; table ≡ view after the repair."""
    from datetime import datetime, timedelta

    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig
    from leftshove_spark.views import latest_per_key_window

    work = str(tmp_path)
    src = f"{work}/src.parquet"
    rows = [
        (k, f"v{k}-{d}", datetime(2030, 1, 1) + timedelta(days=d))
        for k in range(4)
        for d in range(4)
    ]
    spark.createDataFrame(rows, "pk long, v string, ts timestamp").write.parquet(src)
    eng = Engine(
        spark,
        EngineConfig(replication_buffer_secs=0, materialize_current_state=True),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng.seed([{"name": "t", "path": src, "nms_column": "ts", "pkey_column": "pk"}])
    eng.create_sinks()
    # capture only day 0 (now caps the window), then BACKFILL days 1-3
    eng.run_cycle(
        now=datetime(2030, 1, 1, 12), snapshot_at=datetime(2030, 1, 1, 12)
    )
    assert eng.current_state_table("t").count() == 4
    filled = eng.backfill("t", datetime(2030, 1, 1), datetime(2030, 2, 1))
    assert filled == 12  # days 1-3 for 4 keys
    cdc, _ = eng._cdc_df("t")
    want = sorted(
        (r["pk"], r["v"])
        for r in latest_per_key_window(
            cdc, "pk", order_col="snapshot_tm", tiebreak_cols=["ts"]
        )
        .select("pk", "v")
        .collect()
    )
    got = sorted(
        (r["pk"], r["v"])
        for r in eng.current_state_table("t").select("pk", "v").collect()
    )
    assert got == want
    assert [v for _, v in got] == [f"v{k}-3" for k in range(4)]


def test_apply_changes_null_key_rows(spark, tmp_path):
    """r9 review: NULL key values must delete/replace null-safely —
    snapshot_diff matches them null-safely, so the apply must too."""
    from leftshove_spark.views import apply_changes, snapshot_diff

    replica = str(tmp_path / "rep")
    old = spark.createDataFrame(
        [(None, "x-old"), (1, "a")], "pk long, v string"
    )
    new = spark.createDataFrame(
        [(None, "x-new"), (1, "a")], "pk long, v string"
    )
    old.write.parquet(replica)
    feed = snapshot_diff(old, new, "pk", include_payload=True)
    apply_changes(spark, replica, feed, "pk")
    rows = sorted(
        ((r["pk"], r["v"]) for r in spark.read.parquet(replica).collect()),
        key=lambda t: (t[0] is not None, t[0]),
    )
    assert rows == [(None, "x-new"), (1, "a")]
    apply_changes(spark, replica, feed, "pk")  # idempotent with NULL keys
    assert spark.read.parquet(replica).count() == 2

    removal = snapshot_diff(new, new.filter("pk IS NOT NULL"), "pk",
                            include_payload=True)
    apply_changes(spark, replica, removal, "pk")
    assert [r["pk"] for r in spark.read.parquet(replica).collect()] == [1]


def test_one_tiebreak_convention_view_table_vacuum_agree(spark, tmp_path):
    """ADVICE r11 medium: a pkey with TWO versions in one capture
    (shared snapshot_tm) must resolve identically everywhere — the
    REGISTERED catalog view, the W25 materialized table, state_at, and
    the post-vacuum sink all order versions by the one convention
    (nms first, then payload columns by name). Before r12 the view had
    no tiebreak at all and vacuum used a different list, so the view
    was nondeterministic vs the table and vacuum could retain a
    different 'latest' than the fold kept."""
    from datetime import datetime, timedelta

    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig

    work = str(tmp_path)
    src = f"{work}/src.parquet"
    # keys 0..3, each with TWO same-cycle versions (both inside the
    # first capture window → both stamped with one snapshot_tm)
    rows = [
        (k, f"v{k}-{i}", datetime(2030, 1, 1, 6 + i))
        for k in range(4)
        for i in range(2)
    ]
    spark.createDataFrame(rows, "pk long, v string, ts timestamp").write.parquet(src)
    eng = Engine(
        spark,
        EngineConfig(
            replication_buffer_secs=0,
            materialize_current_state=True,
            current_state_buckets=4,
        ),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng.seed([{"name": "t", "path": src, "nms_column": "ts", "pkey_column": "pk"}])
    eng.create_sinks()
    now = datetime(2030, 1, 2)
    eng.run_cycle(now=now, snapshot_at=now)

    def rows_of(df):
        return sorted((r["pk"], r["v"], r["ts"]) for r in df.select("pk", "v", "ts").collect())

    view_rows = rows_of(eng.current_state("t"))       # registered view
    table_rows = rows_of(eng.current_state_table("t"))  # W25 table
    at_rows = rows_of(eng.state_at("t", now))
    assert view_rows == table_rows == at_rows
    # the convention picks the greater nms within the shared stamp
    assert [v for _, v, _ in view_rows] == [f"v{k}-1" for k in range(4)]

    # vacuum with a horizon ABOVE the stamp keeps each key's single
    # latest pre-horizon version — the SAME row every surface holds
    kept = eng.vacuum_snapshots("t", now + timedelta(days=1))
    assert kept == 4
    assert rows_of(eng.current_state("t")) == view_rows
    assert rows_of(eng.state_at("t", now + timedelta(days=2))) == view_rows
    # and the materialized table (untouched by vacuum) still agrees
    assert rows_of(eng.current_state_table("t")) == view_rows


def test_evolution_composes_with_materialized_current_state(spark, tmp_path):
    """ADVICE r11 medium #1: evolve_schema=True + materialize_current_
    state=True — after _evolve_on_drift adds a column mid-loop, the
    capture batch carries it but the stored <t>_current buckets don't;
    the fold must align the schemas (old rows NULL) instead of raising
    UNRESOLVED_COLUMN on every subsequent cycle and wedging the table
    (the failure landed after append_snapshot but before the watermark
    commit, so the sink re-appended the same window each retry)."""
    from datetime import datetime

    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig

    work = str(tmp_path)
    src = f"{work}/src.parquet"
    spark.createDataFrame(
        [(1, 5, datetime(2030, 1, 1)), (2, 6, datetime(2030, 1, 1))],
        "pk long, v long, ts timestamp",
    ).write.parquet(src)
    eng = Engine(
        spark,
        EngineConfig(
            replication_buffer_secs=0,
            evolve_schema=True,
            materialize_current_state=True,
            current_state_buckets=4,
        ),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng.seed([{"name": "t", "path": src, "nms_column": "ts", "pkey_column": "pk"}])
    eng.create_sinks()
    eng.run_cycle(now=datetime(2030, 1, 2), snapshot_at=datetime(2030, 1, 2))
    assert eng.current_state_table("t").count() == 2

    # upstream ALTER TABLE: a new column (and a new version of pk 1)
    spark.createDataFrame(
        [
            (1, 5, datetime(2030, 1, 1), None),
            (2, 6, datetime(2030, 1, 1), None),
            (1, 50, datetime(2030, 1, 10), "x"),
        ],
        "pk long, v long, ts timestamp, note string",
    ).write.mode("overwrite").parquet(src)
    eng.run_cycle(now=datetime(2030, 1, 20), snapshot_at=datetime(2030, 1, 20))

    got = {
        r["pk"]: (r["v"], r["note"])
        for r in eng.current_state_table("t").collect()
    }
    assert got == {1: (50, "x"), 2: (6, None)}
    # the watermark DID commit (no wedge): a further cycle is a no-op
    # skip, and the table keeps agreeing with the registered view
    eng.run_cycle(now=datetime(2030, 1, 21), snapshot_at=datetime(2030, 1, 21))
    view = {
        r["pk"]: (r["v"], r["note"]) for r in eng.current_state("t").collect()
    }
    assert view == got


def test_engine_maintain_state_cadence_in_run_loop(spark, tmp_path):
    """K21 engine wiring (r16): maintain_state_every_cycles=N runs the
    compaction+vacuum maintenance pass (statestore.maintain_store,
    loss-discipline form) inside Engine.run every N cycles — and the
    pass never disturbs the capture semantics: the materialized table
    still ≡ the deterministic latest-per-key view afterwards, and the
    maintained store's per-bucket file counts respect the compaction
    plan. The fragmentation it compacts arises the way it does on a
    cluster: with AQE partition coalescing off, the fold's shuffle
    writes one file per (write task × touched bucket)."""
    from datetime import datetime, timedelta

    from leftshove_spark import statestore
    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig
    from leftshove_spark.views import latest_per_key_window

    work = str(tmp_path)
    src = f"{work}/src.parquet"
    rows = [
        (k, f"v{k}-{d}", datetime(2030, 1, 1) + timedelta(days=d, minutes=k))
        for k in range(6)
        for d in range(4)
    ]
    spark.createDataFrame(rows, "pk long, v string, ts timestamp").write.parquet(src)
    eng = Engine(
        spark,
        EngineConfig(
            replication_buffer_secs=0,
            materialize_current_state=True,
            current_state_buckets=4,
            maintain_state_every_cycles=2,
        ),
        state_path=f"{work}/state.json",
        sink_root=f"{work}/sink",
    )
    eng.seed([{"name": "t", "path": src, "nms_column": "ts", "pkey_column": "pk"}])
    eng.create_sinks()

    calls = []
    real = eng.maintain_state

    def counting(table, **kw):
        res = real(table, min_files=2, **kw)
        calls.append((table, res))
        return res

    eng.maintain_state = counting
    # the session is shared: restore the coalescing conf afterwards
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        eng.run(max_cycles=4, now_fn=lambda: datetime(2030, 1, 3))
    finally:
        spark.conf.set(key, prev)
    # cadence: every 2 of 4 cycles → exactly 2 maintenance passes
    assert [t for t, _ in calls] == ["t", "t"]
    # a pass actually compacted (the uncoalesced fold left ≥2-file
    # buckets) and none surfaced an error
    assert any(res["compacted"] for _, res in calls)

    # semantics untouched: table ≡ view
    cdc, _ = eng._cdc_df("t")
    view = latest_per_key_window(
        cdc, "pk", order_col="snapshot_tm", tiebreak_cols=["ts"]
    )
    got = sorted(
        (r["pk"], r["v"], r["ts"]) for r in eng.current_state_table("t").collect()
    )
    want = sorted(
        (r["pk"], r["v"], r["ts"]) for r in view.select("pk", "v", "ts").collect()
    )
    assert got == want

    # the maintained store's layout matches its final manifest plan
    st = next(s for s in eng.state.all() if s.name == "t")
    m = statestore.load_manifest(eng.current_state_path(st))
    assert m is not None and all(len(v) >= 1 for v in m["files"].values())


# Fields no engine code reads, each with the reason it still exists.
_UNREAD_CONFIG_FIELDS = {
    # passed by the benchmark's CDC workload (perfbench/cdc.py), whose
    # files only a benchmark change may edit; ROADMAP direction 2
    # removes the pass-through and this field together
    "warehouse_dir",
}


def test_every_engine_config_field_is_read():
    """Every EngineConfig field is read as ``config.<field>`` somewhere
    in the package: a field nothing reads is a knob that changes
    nothing. The listed exceptions must stay unread, so the list
    cannot go stale."""
    import ast
    from pathlib import Path

    import leftshove_spark

    root = Path(leftshove_spark.__file__).parent
    session = ast.parse((root / "session.py").read_text())
    cls = next(
        n
        for n in ast.walk(session)
        if isinstance(n, ast.ClassDef) and n.name == "EngineConfig"
    )
    fields = {
        n.target.id
        for n in cls.body
        if isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name)
    }
    read = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.Attribute)
                and isinstance(node.ctx, ast.Load)
                and node.attr in fields
            ):
                continue
            owner = node.value
            if (isinstance(owner, ast.Attribute) and owner.attr == "config") or (
                isinstance(owner, ast.Name) and owner.id == "config"
            ):
                read.add(node.attr)
    unread = fields - read - _UNREAD_CONFIG_FIELDS
    assert not unread, f"EngineConfig fields never read as config.<field>: {sorted(unread)}"
    stale = _UNREAD_CONFIG_FIELDS & read
    assert not stale, f"listed as unread but read: {sorted(stale)}"
