"""S3/S4/S7 parity tests: the line-JSON sink loaded with an explicit
schema (benthos.go:95-104, bigquery.go:217-250) and the per-table
stream-config dump (benthos.go:146-160)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from leftshove_spark.engine import Engine
from leftshove_spark.session import EngineConfig
from leftshove_spark.sinks import write_json_lines
from leftshove_spark.sources import load_table

from conftest import SF0001


def test_s4_json_load_with_explicit_schema(spark, tmp_path):
    """S3's line-JSON sink output loads as S4 does (bigquery.go:217-250):
    the declared schema is authoritative, with no inference pass, and a
    field absent from the JSON arrives as a typed null column."""
    src = load_table(spark, SF0001, "nation").select("n_nationkey", "n_name")
    json_dir = str(tmp_path / "nation_json")
    write_json_lines(src, json_dir)

    # declared schema: one real field narrowed + one absent field
    loaded = spark.read.schema(
        "n_nationkey INT, n_name STRING, missing_field DOUBLE"
    ).json(json_dir)
    assert [f.simpleString() for f in loaded.schema.fields] == [
        "n_nationkey:int",
        "n_name:string",
        "missing_field:double",
    ]
    rows = loaded.collect()
    assert len(rows) == src.count()
    assert all(r["missing_field"] is None for r in rows)
    names = {r["n_name"] for r in rows}
    assert {r["n_name"] for r in src.collect()} == names


def test_s7_stream_config_dump(spark, tmp_path):
    """S7 — one JSON config per tracked table at <dsn>_<table>.json, with
    the engine's live plan for the table."""
    eng = Engine(
        spark,
        EngineConfig(batch_count=1234),
        state_path=str(tmp_path / "state.json"),
        sink_root=str(tmp_path / "sink"),
    )
    eng.seed(eng.discover(SF0001, "ts", pkey_columns={"events": "event_id"}))
    eng.set_transform("events", lambda df: df)
    conf_dir = str(tmp_path / "stream_configs")
    eng.write_stream_configs(conf_dir)

    files = sorted(os.listdir(conf_dir))
    assert files == ["0_events.json"]  # <dsn>_<table>.json, dsn defaults "0"
    with open(os.path.join(conf_dir, files[0])) as f:
        conf = json.load(f)
    assert conf["table"] == "events"
    assert conf["nms_column"] == "ts"
    assert conf["pkey_column"] == "event_id"
    assert conf["batch"]["count"] == 1234
    assert conf["has_transform"] is True
    assert conf["sink_path"].endswith("events_cdc")
    assert conf["watermark"] is not None  # seed computed a min-watermark


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    """append_snapshot(partition_cols=[dt]) + a dt filter: the scan must
    read ONLY the matching partition directories — PartitionFilters in
    the plan and a file count strictly below the total."""
    from datetime import datetime

    from leftshove_spark.sinks import append_snapshot
    from leftshove_spark.sources import load_table

    ev = load_table(spark, SF0001, "events").withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    path = str(tmp_path / "part_sink")
    append_snapshot(ev, path, partition_cols=["dt"])
    all_days = spark.read.parquet(path)
    one_day = all_days.filter(F.col("dt") == "2024-01-10")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # the dt predicate must be classified as a PARTITION filter (directory
    # pruning at planning time), not a post-scan data filter
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "2024-01-10" in pf
    exp = ev.filter(F.col("dt") == "2024-01-10").drop("dt")
    assert one_day.drop("dt").exceptAll(exp).count() == 0
    assert one_day.count() == exp.count()


def test_write_clustered_yields_disjoint_file_ranges(spark, tmp_path):
    """write_clustered: per-file min/max footer stats on the cluster
    column must form (boundary-touching) DISJOINT ranges — the property
    parquet zone-map pruning needs — and the data round-trips."""
    import pyarrow.parquet as pq

    from leftshove_spark.sinks import write_clustered
    from leftshove_spark.sources import load_table

    ev = load_table(spark, SF0001, "events").select("event_id", "ts", "user_id")
    path = str(tmp_path / "clustered")
    write_clustered(ev, path, ["ts"], n_files=8)
    ranges = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "ts"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4  # really split into multiple range files
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint up to shared boundary values
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    assert back.exceptAll(ev).count() == 0


def test_compact_landing_preserves_rows_and_reduces_files(spark, tmp_path):
    """Micro-batch soup (40 tiny files) compacts to the byte-targeted
    count with the row multiset intact and the directory swapped
    atomically (no staging dir left behind)."""
    from leftshove_spark.sinks import compact_landing

    path = str(tmp_path / "landing")
    df = load_table(spark, "/root/testdata/sf0.001", "orders")
    df.repartition(40).write.parquet(path)
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before >= 40
    before = sorted(r["o_orderkey"] for r in spark.read.parquet(path).collect())

    n = compact_landing(spark, path, target_file_bytes=10**9)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert n == 1 and len(files) == 1
    assert ".compact_tmp" not in os.listdir(path)
    after = sorted(r["o_orderkey"] for r in spark.read.parquet(path).collect())
    assert after == before


def test_compact_landing_recovers_from_stale_staging_dirs(spark, tmp_path):
    """r7 advice: a crashed prior compaction leaves .compact_tmp (and
    possibly .compact_trash holding the authoritative files). The next
    run must (a) not count the stale staging bytes in its size
    estimate, (b) restore trash contents when the promote never ran,
    and (c) still preserve rows exactly."""
    import os
    import shutil

    from leftshove_spark.sinks import compact_landing

    path = str(tmp_path / "landing")
    df = spark.range(1000).selectExpr("id", "id % 7 AS k")
    df.repartition(6).write.parquet(path)
    want = 1000

    # crash scenario 1: stale tmp from a run that died mid-write
    tmp = os.path.join(path, ".compact_tmp")
    df.limit(10).write.parquet(tmp)
    compact_landing(spark, path, target_file_bytes=10**9)
    assert not os.path.exists(tmp)
    assert spark.read.parquet(path).count() == want

    # crash scenario 2: every data file moved to trash, promote never
    # ran (the worst spot — directory looks empty) -> recovered
    trash = os.path.join(path, ".compact_trash")
    os.makedirs(trash)
    for entry in os.listdir(path):
        if not entry.startswith(("_", ".")):
            os.rename(os.path.join(path, entry), os.path.join(trash, entry))
    compact_landing(spark, path, target_file_bytes=10**9)
    assert spark.read.parquet(path).count() == want
    assert not os.path.exists(trash) and not os.path.exists(tmp)

    # crash scenario 3: mid-swap — tmp holds the COMPLETE new state
    # (trash's existence certifies the write finished), some old files
    # still sit in path, none promoted yet. Recovery must finish the
    # swap from tmp: rows = the new state exactly, no old/new mix.
    new_state = df.selectExpr("id", "k", "'new' AS tag").limit(600)
    new_state.coalesce(1).write.parquet(tmp)
    os.makedirs(trash)
    # move only SOME old files to trash to model the interrupted loop
    moved = 0
    for entry in os.listdir(path):
        if not entry.startswith(("_", ".")) and moved < 1:
            os.rename(os.path.join(path, entry), os.path.join(trash, entry))
            moved += 1
    compact_landing(spark, path, target_file_bytes=10**9)
    out = spark.read.parquet(path)
    assert out.count() == 600 and "tag" in out.columns
    assert not os.path.exists(trash) and not os.path.exists(tmp)
    shutil.rmtree(path)


def test_staged_swap_recovers_mid_promote_crash(spark, tmp_path):
    """ADVICE r8 (high): a crash DURING the promote loop — some new
    files already in path, the rest still in tmp — must roll forward to
    the complete new state. The pre-manifest recovery trashed the
    already-promoted files (kept only the not-yet-promoted remainder);
    the manifest makes the new state explicit."""
    import os

    from leftshove_spark.sinks import _recover_staging

    path = str(tmp_path / "landing")
    old = spark.range(1000).selectExpr("id", "'old' AS tag")
    old.repartition(3).write.parquet(path)
    new = spark.range(600).selectExpr("id", "'new' AS tag")

    tmp = os.path.join(path, ".compact_tmp")
    trash = os.path.join(path, ".compact_trash")
    new.repartition(3).write.parquet(tmp)
    os.makedirs(trash)
    new_names = sorted(os.listdir(tmp))
    with open(os.path.join(trash, ".manifest"), "w") as fh:
        fh.write("\n".join(new_names))
    # old files fully displaced, then promote 2 of 3 new files -> crash
    for entry in os.listdir(path):
        if entry not in (".compact_tmp", ".compact_trash"):
            os.rename(os.path.join(path, entry), os.path.join(trash, entry))
    promoted = 0
    for entry in list(new_names):
        if promoted < 2:
            os.rename(os.path.join(tmp, entry), os.path.join(path, entry))
            promoted += 1

    _recover_staging(path)
    out = spark.read.parquet(path)
    assert out.count() == 600
    assert out.filter("tag <> 'new'").count() == 0
    assert not os.path.exists(tmp) and not os.path.exists(trash)


def test_staged_swap_recovers_post_promote_crash(spark, tmp_path):
    """ADVICE r8 (high), worst case: crash between the last promote and
    ``rmdir(tmp)`` — tmp empty, trash present, path holds the full new
    state. The pre-manifest recovery treated empty-tmp's listing as the
    new state and deleted the ENTIRE dataset; with the manifest the
    recovery is a no-op cleanup."""
    import os

    from leftshove_spark.sinks import _recover_staging

    path = str(tmp_path / "landing")
    new = spark.range(600).selectExpr("id", "'new' AS tag")
    new.repartition(3).write.parquet(path)

    tmp = os.path.join(path, ".compact_tmp")
    trash = os.path.join(path, ".compact_trash")
    os.makedirs(tmp)  # empty: every entry was promoted
    os.makedirs(trash)
    names = sorted(
        e
        for e in os.listdir(path)
        if e not in (".compact_tmp", ".compact_trash")
    )
    with open(os.path.join(trash, ".manifest"), "w") as fh:
        fh.write("\n".join(names))
    with open(os.path.join(trash, "part-oldfile.parquet"), "wb") as fh:
        fh.write(b"stale old bytes")

    _recover_staging(path)
    out = spark.read.parquet(path)
    assert out.count() == 600
    assert not os.path.exists(tmp) and not os.path.exists(trash)


def test_staged_swap_recovers_mid_displace_crash(spark, tmp_path):
    """Crash while displacing old files (manifest committed, no promote
    yet): recovery finishes the displace AND the promote — final rows =
    new state exactly."""
    import os

    from leftshove_spark.sinks import _recover_staging

    path = str(tmp_path / "landing")
    spark.range(1000).selectExpr("id", "'old' AS tag").repartition(
        4
    ).write.parquet(path)
    tmp = os.path.join(path, ".compact_tmp")
    trash = os.path.join(path, ".compact_trash")
    spark.range(600).selectExpr("id", "'new' AS tag").repartition(2).write.parquet(tmp)
    os.makedirs(trash)
    with open(os.path.join(trash, ".manifest"), "w") as fh:
        fh.write("\n".join(sorted(os.listdir(tmp))))
    moved = 0
    for entry in os.listdir(path):
        if entry not in (".compact_tmp", ".compact_trash") and moved < 2:
            os.rename(os.path.join(path, entry), os.path.join(trash, entry))
            moved += 1

    _recover_staging(path)
    out = spark.read.parquet(path)
    assert out.count() == 600
    assert out.filter("tag <> 'new'").count() == 0
    assert not os.path.exists(tmp) and not os.path.exists(trash)
