"""Manifest-committed state store (statestore.py) — the r12 answer to
VERDICT r11 "What's missing #1": bucketed folds used to commit via
dynamic partition overwrite, which could serve a reader a TORN state
(bucket A new + bucket B old) mid-fold. These tests pin the commit
protocol's guarantees:

- a reader interleaved at ANY point of a fold sees either the old or
  the new generation, never a mix (the manifest flip is the only
  visibility point);
- a reader that resolved the PREVIOUS generation keeps scanning files
  that still exist (one-generation GC grace);
- a crash before the manifest flip leaves the old state authoritative
  and the re-run converges;
- schema evolution composes with the folds (ADVICE r11 medium #1);
- deferred GC bounds the on-disk file population.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import SF0001

from leftshove_spark import statestore
from leftshove_spark.sources import load_table
from leftshove_spark.streaming import (
    current_state_lookup,
    current_state_table,
    maintain_current_state,
)
from leftshove_spark.views import latest_per_key_window


def _orders(spark):
    return load_table(spark, SF0001, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )


def test_reader_mid_fold_sees_old_or_new_never_a_mix(spark, tmp_path, monkeypatch):
    """THE torn-read pin: interpose a reader at the exact instant
    between the fold's file moves and the manifest flip (the window
    where dynamic partition overwrite used to serve a mix) — the
    reader must see EXACTLY the pre-fold state; after the fold returns,
    a fresh reader sees exactly the post-fold state."""
    state = str(tmp_path / "cur")
    o = _orders(spark)
    old_half = o.filter(F.col("o_orderkey") % 2 == 0)
    maintain_current_state(spark, state, old_half, "o_custkey", "o_orderdate",
                           tiebreak_cols=["o_orderkey"])
    want_old = sorted(
        map(tuple, current_state_table(spark, state).collect())
    )

    seen_mid_flip: list = []
    real_write = statestore._write_manifest

    def spy_write(state_dir, manifest):
        # files for the new generation are already moved into data/ —
        # the exact instant a directory-listing reader would tear
        mid = sorted(map(tuple, current_state_table(spark, state).collect()))
        seen_mid_flip.append(mid)
        real_write(state_dir, manifest)

    monkeypatch.setattr(statestore, "_write_manifest", spy_write)
    new_half = o.filter(F.col("o_orderkey") % 2 == 1)
    maintain_current_state(spark, state, new_half, "o_custkey", "o_orderdate",
                           tiebreak_cols=["o_orderkey"])
    monkeypatch.setattr(statestore, "_write_manifest", real_write)

    assert seen_mid_flip == [want_old]  # mid-fold reader: OLD state exactly
    want_new = sorted(
        map(
            tuple,
            latest_per_key_window(
                o, "o_custkey", order_col="o_orderdate",
                tiebreak_cols=["o_orderkey"],
            ).collect(),
        )
    )
    got_new = sorted(map(tuple, current_state_table(spark, state).collect()))
    assert got_new == want_new  # post-fold reader: NEW state exactly


def test_reader_resolved_before_fold_survives_the_commit(spark, tmp_path):
    """A reader that resolved generation N keeps collecting generation
    N's rows even after generation N+1 commits — its files live one
    further generation (GC grace), so in-flight scans never hit
    deleted paths."""
    state = str(tmp_path / "cur")
    o = _orders(spark)
    maintain_current_state(
        spark, state, o.filter(F.col("o_orderkey") % 2 == 0),
        "o_custkey", "o_orderdate", tiebreak_cols=["o_orderkey"],
    )
    reader = current_state_table(spark, state)  # resolves gen 1's files
    want = sorted(map(tuple, reader.collect()))
    maintain_current_state(
        spark, state, o.filter(F.col("o_orderkey") % 2 == 1),
        "o_custkey", "o_orderdate", tiebreak_cols=["o_orderkey"],
    )
    # the pre-fold reader still scans gen 1's (still existing) files
    assert sorted(map(tuple, reader.collect())) == want


def test_crash_before_manifest_flip_leaves_old_state_and_rerun_converges(
    spark, tmp_path, monkeypatch
):
    """Crash at the worst instant — new files moved into data/, manifest
    NOT flipped: readers still resolve the old generation; the retried
    fold (at-least-once redelivery) converges to the right state; the
    crashed attempt's orphan files are swept by the retry (grace
    zeroed: this debris simulates a crash, not a racing writer)."""
    monkeypatch.setattr(statestore, "ORPHAN_SWEEP_GRACE_SEC", 0.0)
    state = str(tmp_path / "cur")
    o = _orders(spark)
    maintain_current_state(
        spark, state, o.filter(F.col("o_orderkey") % 2 == 0),
        "o_custkey", "o_orderdate", tiebreak_cols=["o_orderkey"],
    )
    want_old = sorted(map(tuple, current_state_table(spark, state).collect()))

    real_write = statestore._write_manifest

    def crash(state_dir, manifest):
        raise RuntimeError("simulated crash before manifest flip")

    monkeypatch.setattr(statestore, "_write_manifest", crash)
    new_half = o.filter(F.col("o_orderkey") % 2 == 1)
    with pytest.raises(RuntimeError, match="simulated crash"):
        maintain_current_state(
            spark, state, new_half, "o_custkey", "o_orderdate",
            tiebreak_cols=["o_orderkey"],
        )
    monkeypatch.setattr(statestore, "_write_manifest", real_write)

    # old state authoritative after the crash
    assert (
        sorted(map(tuple, current_state_table(spark, state).collect()))
        == want_old
    )
    # retry converges
    maintain_current_state(
        spark, state, new_half, "o_custkey", "o_orderdate",
        tiebreak_cols=["o_orderkey"],
    )
    want = sorted(
        map(
            tuple,
            latest_per_key_window(
                o, "o_custkey", order_col="o_orderdate",
                tiebreak_cols=["o_orderkey"],
            ).collect(),
        )
    )
    assert (
        sorted(map(tuple, current_state_table(spark, state).collect()))
        == want
    )
    # the crashed attempt's orphans are gone: every parquet under data/
    # is referenced by a live manifest (current files or GC-grace
    # garbage)
    live = set()
    for gen in statestore._list_manifests(state):
        import json

        with open(statestore._manifest_path(state, gen)) as fh:
            m = json.load(fh)
        for rels in m["files"].values():
            live.update(rels)
        live.update(m["garbage"])
    on_disk = set()
    data = os.path.join(state, "data")
    for dp, _, fs in os.walk(data):
        for f in fs:
            if f.endswith(".parquet"):
                on_disk.add(os.path.relpath(os.path.join(dp, f), data))
    assert on_disk <= live


def test_deferred_gc_bounds_file_population(spark, tmp_path):
    """N folds leave at most two generations' files per bucket on disk
    — replaced files survive exactly one further commit (reader grace)
    and are then deleted; manifests older than the grace are dropped.
    retention_sec=0 isolates the GENERATION bound (the r14 default is
    600 s — test_default_retention_spans_fast_commits pins that)."""
    state = str(tmp_path / "cur")
    one = spark.createDataFrame(
        [(1, i, i) for i in range(1, 6)], "k long, d long, v long"
    )
    for i in range(1, 6):
        maintain_current_state(
            spark, state, one.filter(F.col("d") == i), "k", "d",
            retention_sec=0.0,
        )
    gens = statestore._list_manifests(state)
    assert len(gens) <= 2  # grace window only
    # the single touched bucket holds at most 2 generations of files
    data = os.path.join(state, "data")
    bucket_dirs = os.listdir(data)
    assert len(bucket_dirs) == 1
    files = [
        f
        for f in os.listdir(os.path.join(data, bucket_dirs[0]))
        if f.endswith(".parquet")
    ]
    tags = {f.split("-")[0] for f in files}
    assert len(tags) <= 2
    # and the state itself is the single latest row
    rows = current_state_table(spark, state).collect()
    assert len(rows) == 1 and rows[0]["d"] == 5


def test_fold_composes_with_schema_evolution(spark, tmp_path):
    """ADVICE r11 medium #1: after a D7 column-add, the capture batch
    carries the new column but stored buckets don't — the fold must
    align both sides (old rows surface NULL) instead of wedging every
    subsequent cycle on UNRESOLVED_COLUMN; and the reverse direction
    (stored has a column the batch lacks) must survive too."""
    state = str(tmp_path / "cur")
    b1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "k long, d long, v string"
    )
    maintain_current_state(spark, state, b1, "k", "d")
    # the schema evolves: new column w arrives
    b2 = spark.createDataFrame(
        [(1, 20, "a2", 7.5)], "k long, d long, v string, w double"
    )
    maintain_current_state(spark, state, b2, "k", "d")
    got = {
        r["k"]: (r["d"], r["v"], r["w"])
        for r in current_state_table(spark, state).collect()
    }
    assert got == {1: (20, "a2", 7.5), 2: (10, "b", None)}
    # a LATER batch without w (writer not yet upgraded) still folds
    b3 = spark.createDataFrame([(2, 30, "b3")], "k long, d long, v string")
    maintain_current_state(spark, state, b3, "k", "d")
    got = {
        r["k"]: (r["d"], r["v"], r["w"])
        for r in current_state_table(spark, state).collect()
    }
    assert got == {1: (20, "a2", 7.5), 2: (30, "b3", None)}


def test_unpartitioned_store_roundtrip(spark, tmp_path):
    """partition_col=None (the W22 corpus-stats shape): whole-table
    generations, same atomic flip, same deferred GC."""
    state = str(tmp_path / "flat")
    df1 = spark.createDataFrame([(1, "a")], "k long, v string")
    statestore.commit_fold(spark, state, df1, None, [""])
    assert [tuple(r) for r in statestore.read_state(spark, state).collect()] == [
        (1, "a")
    ]
    df2 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    statestore.commit_fold(spark, state, df2, None, [""])
    got = sorted(tuple(r) for r in statestore.read_state(spark, state).collect())
    assert got == [(1, "a"), (2, "b")]
    assert len(statestore._list_manifests(state)) <= 2


def test_concurrent_reader_never_sees_torn_generation(spark, tmp_path):
    """Empirical concurrency net beside the deterministic interleave
    pin: a reader thread loops full-table reads WHILE six folds commit.
    Every fold updates ALL 20 keys (spread over every bucket) to one
    shared version stamp, so any read mixing two generations would
    show two distinct stamps — the exact cross-bucket tear dynamic
    partition overwrite could serve. Every observed snapshot must be
    complete (20 rows) and uniform (one stamp)."""
    import threading

    from pyspark.sql import functions as F

    state = str(tmp_path / "cur")
    keys = list(range(20))

    def batch(version):
        return spark.createDataFrame(
            [(k, version, f"v{version}") for k in keys],
            "k long, d long, v string",
        )

    maintain_current_state(spark, state, batch(0), "k", "d", n_buckets=8)

    stop = threading.Event()
    violations: list = []

    def reader():
        while not stop.is_set():
            try:
                rows = current_state_table(spark, state).collect()
            except Exception as e:  # a read must never fail mid-fold
                violations.append(f"read failed: {e}")
                return
            stamps = {r["d"] for r in rows}
            if len(rows) != len(keys) or len(stamps) != 1:
                violations.append(
                    f"torn snapshot: {len(rows)} rows, stamps {sorted(stamps)}"
                )
                return

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for version in range(1, 7):
            maintain_current_state(
                spark, state, batch(version), "k", "d", n_buckets=8
            )
    finally:
        stop.set()
        t.join(timeout=60)
    assert not violations, violations
    final = {r["k"]: r["d"] for r in current_state_table(spark, state).collect()}
    assert final == {k: 6 for k in keys}


def _flat_files(state: str) -> set[str]:
    data = os.path.join(state, "data")
    out = set()
    for dp, _, fs in os.walk(data):
        for f in fs:
            if f.endswith(".parquet"):
                out.add(os.path.relpath(os.path.join(dp, f), data))
    return out


def _live_files(state: str) -> set[str]:
    import json

    live = set()
    for gen in statestore._list_manifests(state):
        with open(statestore._manifest_path(state, gen)) as fh:
            m = json.load(fh)
        for rels in m["files"].values():
            live.update(rels)
        live.update(m["garbage"])
    return live


def test_time_retention_protects_reader_slower_than_two_commits(
    spark, tmp_path
):
    """VERDICT r12 next #1 — the last residual scale-correctness edge:
    generation-counted grace alone means a reader that resolved
    generation N loses N's files after TWO further commits (they enter
    garbage at N+1 and are deleted at commit N+2) — at a 20 s trigger
    cadence a 40 s scan can hit FileNotFound mid-job. RED HALF: that is
    exactly what retention_sec=0 (eager reclaim — the pre-r14 DEFAULT)
    does. GREEN HALF: with a time-based retention bound, THREE further
    commits leave the slow reader's files untouched and its collect
    still succeeds. (The r14 default is 600 s —
    test_default_retention_spans_fast_commits pins that.)"""

    def batch(version):
        return spark.createDataFrame(
            [(1, version, f"v{version}")], "k long, d long, v string"
        )

    # --- red half: eager reclaim — the pre-r14 default, demonstrated
    state = str(tmp_path / "fast_gc")
    zero = dict(retention_sec=0.0)
    maintain_current_state(spark, state, batch(0), "k", "d", **zero)
    gen1_files = _flat_files(state)
    reader = current_state_table(spark, state)  # resolves gen 1
    maintain_current_state(spark, state, batch(1), "k", "d", **zero)
    maintain_current_state(spark, state, batch(2), "k", "d", **zero)
    # gen 1's files are gone after two further commits
    assert not (gen1_files & _flat_files(state))

    # --- green half: time retention keeps the slow reader alive
    state = str(tmp_path / "retained")
    kw = dict(retention_sec=3600.0)
    maintain_current_state(spark, state, batch(0), "k", "d", **kw)
    gen1_files = _flat_files(state)
    reader = current_state_table(spark, state)  # resolves gen 1
    want = sorted(map(tuple, reader.collect()))
    for v in (1, 2, 3):  # THREE commits while the reader is mid-scan
        maintain_current_state(spark, state, batch(v), "k", "d", **kw)
    assert gen1_files <= _flat_files(state)  # nothing deleted yet
    assert sorted(map(tuple, reader.collect())) == want  # scan survives
    # fresh readers see the newest generation regardless
    got = current_state_table(spark, state).collect()
    assert len(got) == 1 and got[0]["d"] == 3
    # and once the wall-clock bound passes, GC resumes: replaying the
    # sweep with a far-future clock drops everything past the
    # generation grace
    cur = statestore.load_manifest(state)["gen"]
    statestore._gc(state, cur, retention_sec=3600.0, _now=1e18)
    assert not (gen1_files & _flat_files(state))


def test_gc_keep_generations_widens_the_grace(spark, tmp_path):
    """keep_generations=k keeps a replaced file alive through k further
    commits (default 1) — the generation-count half of the retention
    policy, surfaced as a caller knob (ADVICE r12); retention_sec=0
    isolates it from the (since r14, nonzero) wall-clock half."""
    state = str(tmp_path / "keep3")
    kw = dict(keep_generations=3, retention_sec=0.0)

    def batch(version):
        return spark.createDataFrame(
            [(1, version, f"v{version}")], "k long, d long, v string"
        )

    maintain_current_state(spark, state, batch(0), "k", "d", **kw)
    gen1_files = _flat_files(state)
    maintain_current_state(spark, state, batch(1), "k", "d", **kw)
    maintain_current_state(spark, state, batch(2), "k", "d", **kw)
    maintain_current_state(spark, state, batch(3), "k", "d", **kw)
    # gens since replacement: 3 → still within the widened grace
    assert gen1_files <= _flat_files(state)
    maintain_current_state(spark, state, batch(4), "k", "d", **kw)
    assert not (gen1_files & _flat_files(state))


def test_writer_fence_rejects_racing_commit(spark, tmp_path, monkeypatch):
    """VERDICT r12 next #5: the single-writer contract is now ENFORCED,
    not just assumed — two folds racing one state_dir resolve to one
    winner; the loser's manifest flip fails the create-exclusive link
    and raises ConcurrentCommitError with the store reflecting exactly
    the winner's commit. The loser's moved files are unreferenced
    orphans removed by the next successful commit's sweep (grace
    zeroed so the sweep fires within the test's lifetime)."""
    monkeypatch.setattr(statestore, "ORPHAN_SWEEP_GRACE_SEC", 0.0)
    state = str(tmp_path / "flat")
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        None,
        [""],
    )

    real_write = statestore._write_manifest
    fired = []

    def interpose(state_dir, manifest):
        if not fired:
            fired.append(1)
            # a competing writer slips in a FULL commit for the same
            # target generation before this writer's flip
            statestore.commit_fold(
                spark,
                state,
                spark.createDataFrame([(2, "winner")], "k long, v string"),
                None,
                [""],
            )
        real_write(state_dir, manifest)

    monkeypatch.setattr(statestore, "_write_manifest", interpose)
    with pytest.raises(statestore.ConcurrentCommitError):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame([(3, "loser")], "k long, v string"),
            None,
            [""],
        )
    monkeypatch.setattr(statestore, "_write_manifest", real_write)

    # the store reflects the WINNER, consistently readable
    got = sorted(
        tuple(r) for r in statestore.read_state(spark, state).collect()
    )
    assert got == [(2, "winner")]
    # the next successful commit sweeps the loser's orphan files
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame([(4, "next")], "k long, v string"),
        None,
        [""],
    )
    assert _flat_files(state) <= _live_files(state)


def test_dir_without_manifest_is_not_a_store(spark, tmp_path):
    """A directory holding parquet but no ``_manifests`` (the pre-r12
    layout) is not read as state: every read path raises ValueError
    naming the directory, and has_state reports no state."""
    state = str(tmp_path / "nomanifest")
    spark.createDataFrame(
        [(1, 3, "a"), (2, 5, "b")], "k long, __bucket int, v string"
    ).write.partitionBy("__bucket").parquet(state)
    assert statestore.load_manifest(state) is None
    assert not statestore.has_state(state)
    with pytest.raises(ValueError, match="nomanifest"):
        statestore.read_state(spark, state)
    with pytest.raises(ValueError, match="nomanifest"):
        statestore.read_state(spark, state, partition_values=["3"])
    with pytest.raises(ValueError, match="nomanifest"):
        current_state_lookup(spark, state, {"k": 1})


def test_non_widening_retype_is_refused_before_any_write(spark, tmp_path):
    """A commit whose data columns retype a recorded column
    non-wideningly (``v string`` then ``v long``) would leave a store no
    single read schema opens. It raises ValueError before writing
    anything: the generation list and the data files are unchanged, no
    scratch dir is left, and the old rows still read."""
    state = str(tmp_path / "retype")
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame([(1, "1", "a")], "k long, p string, v string"),
        "p",
        ["1"],
    )

    def files():
        return sorted(
            os.path.relpath(os.path.join(dp, f), state)
            for dp, _, fs in os.walk(state)
            for f in fs
        )

    gens, before = statestore.list_generations(state), files()
    with pytest.raises(ValueError, match="column v"):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame([(2, "1", 7)], "k long, p string, v long"),
            "p",
            ["1"],
        )
    assert statestore.list_generations(state) == gens
    assert files() == before
    got = [
        (r["k"], r["v"]) for r in statestore.read_state(spark, state).collect()
    ]
    assert got == [(1, "a")]


def test_nested_additive_evolution_merges_into_the_recorded_schema(
    spark, tmp_path
):
    """A field added inside a struct (``meta struct<a>`` then
    ``struct<a, lang>``) is the additive evolution the schema-drift
    guard asks a restart to carry. The commit succeeds, the manifest
    records the merged struct, and a row written before the change
    reads back with ``meta.lang`` NULL. A nested non-widening retype
    is still refused, naming the nested column."""
    from pyspark.sql.types import StructType

    state = str(tmp_path / "nested")
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame(
            [(1, "1", ("x",))], "k long, p string, meta struct<a: string>"
        ),
        "p",
        ["1"],
    )
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame(
            [(2, "2", ("y", "en"))],
            "k long, p string, meta struct<a: string, lang: string>",
        ),
        "p",
        ["2"],
    )
    recorded = StructType.fromJson(statestore.load_manifest(state)["schema"])
    assert recorded["meta"].dataType.fieldNames() == ["a", "lang"]
    got = sorted(
        (r["k"], r["meta"]["a"], r["meta"]["lang"])
        for r in statestore.read_state(spark, state).collect()
    )
    assert got == [(1, "x", None), (2, "y", "en")]
    gens = statestore.list_generations(state)
    with pytest.raises(ValueError, match="column meta.a"):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(
                [(3, "3", (7, "de"))],
                "k long, p string, meta struct<a: long, lang: string>",
            ),
            "p",
            ["3"],
        )
    assert statestore.list_generations(state) == gens


def test_empty_first_commit_records_the_schema(spark, tmp_path):
    """A first commit that writes no files still records its data
    columns' read schema, so the store is readable once data lands and
    every later manifest carries the schema too."""
    from pyspark.sql.types import StructType

    state = str(tmp_path / "emptyfirst")
    schema = "k long, p string, v string"
    statestore.commit_fold(
        spark, state, spark.createDataFrame([], schema), "p", ["1"]
    )
    m1 = statestore.load_manifest(state)
    assert m1["files"] == {}
    assert m1.get("schema") is not None
    assert StructType.fromJson(m1["schema"]).simpleString() == (
        "struct<k:bigint,v:string>"
    )
    statestore.commit_fold(
        spark, state, spark.createDataFrame([(1, "1", "a")], schema), "p", ["1"]
    )
    assert statestore.load_manifest(state).get("schema") == m1["schema"]
    got = [
        (r["k"], r["v"]) for r in statestore.read_state(spark, state).collect()
    ]
    assert got == [(1, "a")]


def test_manifest_without_schema_is_refused(spark, tmp_path):
    """A manifest that records no read schema (written before schema
    recording) is refused: reads, point lookups and commits raise
    ValueError naming the store instead of inferring a schema from
    parquet footers, and the refused commit writes nothing."""
    import json

    state = str(tmp_path / "noschema")
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame(
            [(1, 3, "a"), (2, 5, "b")], "k long, __bucket int, v string"
        ),
        "__bucket",
        ["3", "5"],
    )
    m = statestore.load_manifest(state)
    del m["schema"]
    with open(statestore._manifest_path(state, m["gen"]), "w") as fh:
        json.dump(m, fh)
    with pytest.raises(ValueError, match="noschema"):
        statestore.read_state(spark, state)
    with pytest.raises(ValueError, match="noschema"):
        current_state_lookup(spark, state, {"k": 1})
    with pytest.raises(ValueError, match="noschema"):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame([(3, 3, "c")], "k long, __bucket int, v string"),
            "__bucket",
            ["3"],
        )
    assert statestore.list_generations(state) == [m["gen"]]


def test_pure_deletion_partition_sweeps_crashed_orphans(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: the pre-flip orphan sweep covered only partitions
    the commit WROTE files into — a touched partition whose fold output
    is empty (a pure deletion) kept a crashed prior attempt's orphans
    forever. The sweep now covers the union of touched and written
    partitions (grace zeroed: crash debris, not a racing writer)."""
    monkeypatch.setattr(statestore, "ORPHAN_SWEEP_GRACE_SEC", 0.0)
    state = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(1, "5", "a"), (2, "7", "b")], "k long, p string, v string"
    )
    statestore.commit_fold(spark, state, df, "p", ["5", "7"])

    # crash an attempt that rewrites partition 5 → orphan files there
    def crash(state_dir, manifest):
        raise RuntimeError("simulated crash")

    monkeypatch.setattr(statestore, "_write_manifest", crash)
    upd = spark.createDataFrame([(9, "5", "z")], "k long, p string, v string")
    with pytest.raises(RuntimeError, match="simulated crash"):
        statestore.commit_fold(spark, state, upd, "p", ["5"])
    monkeypatch.undo()  # undoes the grace patch too — re-zero it
    monkeypatch.setattr(statestore, "ORPHAN_SWEEP_GRACE_SEC", 0.0)
    orphans = _flat_files(state) - _live_files(state)
    assert orphans and all(o.startswith("p=5/") for o in orphans)

    # a PURE DELETION of partition 5: touched but zero output rows
    empty = spark.createDataFrame([], "k long, p string, v string")
    statestore.commit_fold(spark, state, empty, "p", ["5"])
    assert _flat_files(state) <= _live_files(state)  # orphans swept
    got = sorted(
        tuple(r) for r in statestore.read_state(spark, state).collect()
    )
    # partition discovery reads p=7 back as an int — values compare
    # through str() like the store's own partition encoding
    assert [(k, v, str(p)) for k, v, p in got] == [(2, "b", "7")]


def test_writer_fence_rejects_stale_generation_past_gc(
    spark, tmp_path, monkeypatch
):
    """r13 fence hole: a loser stalled long enough for the winner to
    commit keep_generations+1 FURTHER times finds its target
    generation's manifest already GC'd — the bare create-exclusive
    link would SUCCEED and the loser's write be silently lost (readers
    resolve the higher generation). The pre-link highest-generation
    check turns that into the loud ConcurrentCommitError."""
    state = str(tmp_path / "stale")

    def row(k, v):
        return spark.createDataFrame([(k, v)], "k long, v string")

    # retention_sec=0 throughout: the scenario NEEDS the winner's
    # commits to GC the stalled writer's target manifest promptly
    statestore.commit_fold(
        spark, state, row(1, "base"), None, [""], retention_sec=0.0
    )

    real_write = statestore._write_manifest
    fired = []

    def interpose(state_dir, manifest):
        if not fired:
            fired.append(1)
            # the winner commits THREE times while this writer stalls:
            # with keep_generations=1 the third commit GCs the stalled
            # writer's target manifest, so the old link-only fence
            # would no longer collide
            for i, v in enumerate(["w1", "w2", "w3"]):
                statestore.commit_fold(
                    spark, state, row(10 + i, v), None, [""],
                    retention_sec=0.0,
                )
            assert statestore._list_manifests(state_dir)[0] > manifest["gen"]
        real_write(state_dir, manifest)

    monkeypatch.setattr(statestore, "_write_manifest", interpose)
    with pytest.raises(statestore.ConcurrentCommitError):
        statestore.commit_fold(spark, state, row(99, "stalled"), None, [""])
    monkeypatch.undo()

    got = sorted(tuple(r) for r in statestore.read_state(spark, state).collect())
    assert got == [(12, "w3")]


def test_part_sweep_race_maps_to_concurrent_commit_error(
    spark, tmp_path, monkeypatch
):
    """r13 fence hole: a racing winner's post-commit ``.part`` sweep
    can delete this writer's in-flight part between fsync and link —
    the resulting FileNotFoundError must surface as the documented
    ConcurrentCommitError (callers catch the fence exception), with
    the store intact."""
    state = str(tmp_path / "partrace")
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        None,
        [""],
    )

    real_link = os.link

    def sweep_then_fail(src, dst, *a, **kw):
        if src.endswith(".part") and state in src:
            # the racing winner's _gc already removed our part
            os.remove(src)
            return real_link(src, dst)  # raises FileNotFoundError
        return real_link(src, dst, *a, **kw)

    monkeypatch.setattr(statestore.os, "link", sweep_then_fail)
    with pytest.raises(statestore.ConcurrentCommitError, match="FileNotFound"):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame([(2, "b")], "k long, v string"),
            None,
            [""],
        )
    monkeypatch.undo()
    got = sorted(tuple(r) for r in statestore.read_state(spark, state).collect())
    assert got == [(1, "a")]


def test_time_travel_read_and_change_feed(spark, tmp_path):
    """r13: generation-pinned reads (time travel for audits) and the
    manifest-level change feed — a downstream incremental consumer
    that processed generation G re-reads ONLY the partitions whose
    file sets changed since G, within the retention window the K16
    knobs already define."""
    state = str(tmp_path / "tt")

    def fold(rows, touched):
        df = spark.createDataFrame(rows, "k long, p string, v string")
        statestore.commit_fold(
            spark, state, df, "p", touched, keep_generations=3
        )

    fold([(1, "1", "a"), (2, "2", "b"), (3, "3", "c")], ["1", "2", "3"])
    fold([(2, "2", "B")], ["2"])  # gen 2: rewrite p=2
    fold([(3, "3", "C"), (4, "3", "d")], ["3"])  # gen 3: rewrite p=3

    assert statestore.list_generations(state) == [1, 2, 3]

    # time travel: generation 2 is the state between folds 2 and 3
    # (partition discovery reads p back as int — compare through str(),
    # the store's own partition encoding, like the pure-deletion test)
    got_g2 = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in statestore.read_state(spark, state, generation=2).collect()
    )
    assert got_g2 == [(1, "1", "a"), (2, "2", "B"), (3, "3", "c")]

    # the change feed names exactly the touched partitions
    assert statestore.changed_partitions(state, 1) == ["2", "3"]
    assert statestore.changed_partitions(state, 2) == ["3"]
    assert statestore.changed_partitions(state, 3) == []
    assert statestore.changed_partitions(state, 1, to_gen=2) == ["2"]

    # incremental consumption: read_changed(since 2) is p=3's new rows
    got = sorted(
        r["k"] for r in statestore.read_changed(spark, state, 2).collect()
    )
    assert got == [3, 4]
    # the pinned sync form: diff AND scan resolve against the SAME
    # retained generation — gen 2's view of what changed since gen 1
    pinned = sorted(
        (r["k"], r["v"])
        for r in statestore.read_changed(spark, state, 1, to_gen=2).collect()
    )
    assert pinned == [(2, "B")]
    # nothing changed since current: well-typed empty relation
    empty = statestore.read_changed(spark, state, 3)
    assert empty.count() == 0 and "k" in empty.columns

    # a PURE DELETION is a change: the feed names the partition, the
    # read returns no rows for it (replace-by-partition contract)
    fold([], ["1"])  # gen 4 deletes p=1
    assert statestore.changed_partitions(state, 3) == ["1"]
    assert statestore.read_changed(spark, state, 3).count() == 0


def test_time_travel_window_is_the_retention_window(spark, tmp_path):
    """Past keep_generations the pinned read raises KeyError with the
    widening hint, rather than scanning a half-GC'd file set
    (retention_sec=0 so the generation bound alone drives the GC)."""
    state = str(tmp_path / "ttgc")

    def fold(k, v):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame([(k, v)], "k long, v string"),
            None,
            [""],
            retention_sec=0.0,
        )

    fold(1, "a")
    fold(2, "b")
    fold(3, "c")  # default keep=1: gen 1's manifest is dropped here
    gens = statestore.list_generations(state)
    assert 1 not in gens and gens[-1] == 3
    with pytest.raises(KeyError, match="keep_generations"):
        statestore.read_state(spark, state, generation=1)
    with pytest.raises(KeyError, match="keep_generations"):
        statestore.changed_partitions(state, 1)
    # a never-committed store cannot pin at all
    with pytest.raises(KeyError, match="no committed generations"):
        statestore.read_state(spark, str(tmp_path / "empty"), generation=1)


def test_orphan_sweep_spares_young_inflight_files(spark, tmp_path, monkeypatch):
    """r13: the pre-flip orphan sweep must not delete a RACING writer's
    just-moved, not-yet-referenced step-2 files (the winner would then
    commit a manifest pointing at deleted files — the one way the
    fence's 'store intact' claim could break). Files younger than
    ORPHAN_SWEEP_GRACE_SEC are spared; once past the grace they are
    crash debris and swept as before."""
    import os

    state = str(tmp_path / "race")
    df = spark.createDataFrame([(1, "5", "a")], "k long, p string, v string")
    statestore.commit_fold(spark, state, df, "p", ["5"])

    # a racing winner's seconds-old step-2 file: moved into data/,
    # referenced by no manifest YET (its flip comes moments later)
    planted = os.path.join(
        state, "data", "p=5", "g0000000099-feedbeef-part-0.parquet"
    )
    with open(planted, "wb") as fh:
        fh.write(b"PAR1")

    upd = spark.createDataFrame([(2, "5", "b")], "k long, p string, v string")
    statestore.commit_fold(spark, state, upd, "p", ["5"])
    assert os.path.exists(planted)  # young ⇒ spared (default grace)

    # past the grace it is debris: the next sweep removes it
    monkeypatch.setattr(statestore, "ORPHAN_SWEEP_GRACE_SEC", 0.0)
    upd2 = spark.createDataFrame([(3, "5", "c")], "k long, p string, v string")
    statestore.commit_fold(spark, state, upd2, "p", ["5"])
    assert not os.path.exists(planted)


def test_moved_files_age_from_move_time_not_write_time(spark, tmp_path):
    """r13: the sweep grace must measure time-since-entry-into-data/,
    not time-since-scratch-write (os.rename preserves mtime, so a fold
    whose Spark write outlasts the grace would move files that already
    look old — and a racing loser's sweep would delete them as debris).
    commit_fold re-stamps each moved file at the move; and a planted
    unreferenced file with an OLD mtime is swept even under the
    default grace."""
    import os
    import time

    state = str(tmp_path / "mt")
    t0 = time.time()
    df = spark.createDataFrame([(1, "5", "a")], "k long, p string, v string")
    statestore.commit_fold(spark, state, df, "p", ["5"])
    pdir = os.path.join(state, "data", "p=5")
    for f in os.listdir(pdir):
        if f.endswith(".parquet"):
            assert os.path.getmtime(os.path.join(pdir, f)) >= t0 - 1

    # debris that is genuinely old (crashed long ago) is swept even
    # with the default grace in force
    planted = os.path.join(pdir, "g0000000098-deadbeef-part-0.parquet")
    with open(planted, "wb") as fh:
        fh.write(b"PAR1")
    old = time.time() - statestore.ORPHAN_SWEEP_GRACE_SEC - 60
    os.utime(planted, (old, old))
    upd = spark.createDataFrame([(2, "5", "b")], "k long, p string, v string")
    statestore.commit_fold(spark, state, upd, "p", ["5"])
    assert not os.path.exists(planted)


def test_default_retention_spans_fast_commits(spark, tmp_path):
    """r14 (VERDICT r13 next #3): with NO knobs at all, a reader that
    resolved generation 1 survives THREE immediate further commits —
    the out-of-box grace is the 600 s wall-clock default, not the
    two-commit-cadence envelope retention_sec=0 used to ship. Safe by
    default; eager reclaim is now the opt-in."""
    state = str(tmp_path / "default_ret")

    def batch(version):
        return spark.createDataFrame(
            [(1, version, f"v{version}")], "k long, d long, v string"
        )

    assert statestore.GC_RETENTION_SEC >= 600.0
    maintain_current_state(spark, state, batch(0), "k", "d")
    gen1_files = _flat_files(state)
    reader = current_state_table(spark, state)  # resolves gen 1
    want = sorted(map(tuple, reader.collect()))
    for v in (1, 2, 3):  # fast commits, no retention knobs anywhere
        maintain_current_state(spark, state, batch(v), "k", "d")
    assert gen1_files <= _flat_files(state)  # nothing deleted yet
    assert sorted(map(tuple, reader.collect())) == want  # scan survives
    got = current_state_table(spark, state).collect()
    assert len(got) == 1 and got[0]["d"] == 3  # fresh readers see gen 4


def test_vacuum_orphans_caps_crash_loop_debris(spark, tmp_path, monkeypatch):
    """r14 (VERDICT r13 what's-wrong #1): crash debris on a partition
    NEVER folded again is invisible to the per-commit touched-partition
    sweep — a crash-loop can stack several attempts' worth. The offline
    vacuum_orphans entry point removes every past-grace unreferenced
    file across ALL partitions (plus a stale .fold_tmp), while live
    generations and sub-grace in-flight files survive."""
    import time

    state = str(tmp_path / "vac")
    df = spark.createDataFrame(
        [(1, "5", "a"), (2, "7", "b")], "k long, p string, v string"
    )
    statestore.commit_fold(spark, state, df, "p", ["5", "7"])

    # two crashed attempts stack debris on p=7; later folds touch ONLY
    # p=5, so the per-commit sweep never visits the debris
    def crash(state_dir, manifest):
        raise RuntimeError("simulated crash")

    real_write = statestore._write_manifest
    for attempt in range(2):
        monkeypatch.setattr(statestore, "_write_manifest", crash)
        upd = spark.createDataFrame(
            [(8 + attempt, "7", "z")], "k long, p string, v string"
        )
        with pytest.raises(RuntimeError, match="simulated crash"):
            statestore.commit_fold(spark, state, upd, "p", ["7"])
        monkeypatch.setattr(statestore, "_write_manifest", real_write)
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame([(3, "5", "c")], "k long, p string, v string"),
        "p",
        ["5"],
    )
    debris = _flat_files(state) - _live_files(state)
    assert len(debris) >= 2 and all(d.startswith("p=7/") for d in debris)

    # young debris is spared (it may be a racing writer's in-flight
    # step-2 output) ...
    assert statestore.vacuum_orphans(state) == []
    assert (_flat_files(state) - _live_files(state)) == debris

    # a stale crashed scratch dir is debris too
    tmp_dir = os.path.join(state, ".fold_tmp")
    os.makedirs(tmp_dir)
    old = time.time() - statestore.ORPHAN_SWEEP_GRACE_SEC - 60
    os.utime(tmp_dir, (old, old))
    # ... past the grace it is removed — and ONLY it
    live_before = _live_files(state)
    for rel in debris:
        p = os.path.join(state, "data", rel)
        os.utime(p, (old, old))
    removed = statestore.vacuum_orphans(state)
    assert {r for r in removed if r != ".fold_tmp"} == {
        os.path.join("data", d) for d in debris
    }
    assert ".fold_tmp" in removed and not os.path.isdir(tmp_dir)
    assert _flat_files(state) <= _live_files(state)
    assert _live_files(state) == live_before
    got = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in statestore.read_state(spark, state).collect()
    )
    # fold 2 REPLACED p=5's content (the commit contract), p=7 intact
    assert got == [(2, "7", "b"), (3, "5", "c")]
    # a store with no manifests is left alone (nothing defines 'live')
    assert statestore.vacuum_orphans(str(tmp_path / "nostore")) == []


def test_read_changed_unpinned_resolves_one_generation(
    spark, tmp_path, monkeypatch
):
    """ADVICE r13: the convenience form (to_gen=None) used to resolve
    the current generation TWICE — once for the partition list, once
    for the scan — so a fold committing between the two calls yielded a
    torn view. It now snapshots the generation once: a fold injected
    exactly between the diff and the scan changes nothing the call
    returns."""
    state = str(tmp_path / "pin")

    def fold(rows, touched):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(rows, "k long, p string, v string"),
            "p",
            touched,
            keep_generations=4,
        )

    fold([(1, "1", "a"), (2, "2", "b")], ["1", "2"])
    fold([(2, "2", "B")], ["2"])  # gen 2

    real_diff = statestore.changed_partitions
    fired = []

    def diff_then_fold(*a, **kw):
        out = real_diff(*a, **kw)
        if not fired:
            fired.append(1)
            # a fold lands AFTER the diff, BEFORE the scan: gen 3
            # rewrites p=1, which the since-gen-1 diff did NOT report
            fold([(1, "1", "A3")], ["1"])
        return out

    monkeypatch.setattr(statestore, "changed_partitions", diff_then_fold)
    got = sorted(
        (r["k"], r["v"])
        for r in statestore.read_changed(spark, state, 1).collect()
    )
    monkeypatch.undo()
    # the unpinned call resolved gen 2 throughout: p=2's gen-2 rows,
    # and NOT gen 3's p=1 rewrite (which its own next sync will report:
    # changed_partitions(2) now names p=1)
    assert got == [(2, "B")]
    assert "1" in statestore.changed_partitions(state, 2)


def test_sync_state_incremental_then_full_resync(spark, tmp_path):
    """r14 (VERDICT r13 next #1): sync_state keeps a plain-parquet
    replica following the store — incrementally while the feed window
    holds (only touched partitions rewritten), by full re-clone after a
    retention lapse, replica ≡ table at EVERY step, bookkeeping carried
    in the replica itself."""
    state = str(tmp_path / "src")
    replica = str(tmp_path / "rep")

    def fold(rows, touched, **kw):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(rows, "k long, p string, v string"),
            "p",
            touched,
            **kw,
        )

    def replica_equals_table():
        got = sorted(
            (r["k"], str(r["p"]), r["v"])
            for r in spark.read.parquet(replica).collect()
        )
        want = sorted(
            (r["k"], str(r["p"]), r["v"])
            for r in statestore.read_state(spark, state).collect()
        )
        assert got == want

    def pdir_listing(v):
        d = os.path.join(replica, f"p={v}")
        return sorted(os.listdir(d)) if os.path.isdir(d) else None

    # wave 0: first sync is a full clone
    fold([(1, "1", "a"), (2, "2", "b"), (3, "3", "c")], ["1", "2", "3"])
    g = statestore.sync_state(spark, state, replica)
    assert g == 1 and statestore.last_synced_generation(replica) == 1
    replica_equals_table()

    # waves 1-3: incremental — untouched partition dirs are NOT
    # rewritten (their file listings stay byte-identical)
    untouched = pdir_listing("1")
    fold([(2, "2", "B")], ["2"], keep_generations=4)
    g = statestore.sync_state(spark, state, replica)
    assert g == 2 and pdir_listing("1") == untouched
    replica_equals_table()

    fold([(3, "3", "C"), (4, "3", "d")], ["3"], keep_generations=4)
    g = statestore.sync_state(spark, state, replica)
    assert g == 3 and pdir_listing("1") == untouched
    replica_equals_table()

    # a pure deletion propagates: the partition dir leaves the replica
    fold([], ["2"], keep_generations=4)
    g = statestore.sync_state(spark, state, replica)
    assert g == 4 and pdir_listing("2") is None
    replica_equals_table()

    # no-op sync: nothing committed since → same generation back
    assert statestore.sync_state(spark, state, replica) == 4

    # retention lapse: two eager-GC folds drop gen 4 from retention —
    # the next sync cannot diff against it and falls back to a FULL
    # re-clone instead of surfacing the KeyError
    fold([(5, "1", "e")], ["1"], retention_sec=0.0)
    fold([(6, "3", "f")], ["3"], retention_sec=0.0)
    assert 4 not in statestore.list_generations(state)
    g = statestore.sync_state(spark, state, replica)
    assert g == statestore.list_generations(state)[-1]
    assert statestore.last_synced_generation(replica) == g
    replica_equals_table()
    # explicit last_gen overrides the marker (caller bookkeeping)
    assert statestore.sync_state(spark, state, replica, last_gen=g) == g
    replica_equals_table()

    # a store that never committed has no feed to sync from
    with pytest.raises(ValueError, match="no committed generations"):
        statestore.sync_state(spark, str(tmp_path / "empty"), replica)


def test_sync_state_unpartitioned_store(spark, tmp_path):
    """An unpartitioned store degenerates to a full staged rewrite per
    sync (the whole table is its one partition) — same contract, same
    marker bookkeeping."""
    state = str(tmp_path / "flat")
    replica = str(tmp_path / "flatrep")

    def fold(rows):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(rows, "k long, v string"),
            None,
            [""],
            keep_generations=3,
        )

    fold([(1, "a"), (2, "b")])
    assert statestore.sync_state(spark, state, replica) == 1
    fold([(1, "A"), (3, "c")])
    assert statestore.sync_state(spark, state, replica) == 2
    got = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(replica).collect()
    )
    want = sorted(
        (r["k"], r["v"])
        for r in statestore.read_state(spark, state).collect()
    )
    assert got == want == [(1, "A"), (3, "c")]


def test_vacuum_spares_live_inflight_scratch_tree(spark, tmp_path):
    """r14 review: a fold whose Spark write into .fold_tmp outlasts the
    grace keeps writing files DEEP in the tree while the top-level dir
    mtime stays at creation — vacuum must age the scratch by the
    newest mtime in the tree (spared while any entry is fresh), and
    sweep it only once the whole tree is past grace."""
    import time

    state = str(tmp_path / "vtree")
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame([(1, "5", "a")], "k long, p string, v string"),
        "p",
        ["5"],
    )
    tmp_dir = os.path.join(state, ".fold_tmp", "_temporary", "0")
    os.makedirs(tmp_dir)
    old = time.time() - statestore.ORPHAN_SWEEP_GRACE_SEC - 60
    # top-level dirs look old; one deep in-flight task file is FRESH
    fresh = os.path.join(tmp_dir, "part-00000.parquet")
    with open(fresh, "wb") as fh:
        fh.write(b"PAR1")
    for p in (
        os.path.join(state, ".fold_tmp"),
        os.path.join(state, ".fold_tmp", "_temporary"),
        tmp_dir,
    ):
        os.utime(p, (old, old))
    assert statestore.vacuum_orphans(state) == []  # live write spared
    assert os.path.exists(fresh)
    # the write finished long ago (every entry old) → debris, swept
    os.utime(fresh, (old, old))
    assert statestore.vacuum_orphans(state) == [".fold_tmp"]
    assert not os.path.isdir(os.path.join(state, ".fold_tmp"))


def test_sync_state_survives_mid_sync_retention_lapse(
    spark, tmp_path, monkeypatch
):
    """r14 review, semantics refined r15: the generation sync_state
    pinned can be GC'd MID-SYNC by a fast eager-reclaim maintainer
    (two commits between the snapshot and a pinned read). Either way
    the caller needs no retention-protocol knowledge:

    - if the pinned files were already reclaimed, the read surfaces as
      FileNotFound → re-snapshot + full re-clone (same sync);
    - if the pinned files still exist (replaced files outlive their
      replacement one further generation), the sync COMPLETES as a
      consistent snapshot of the pinned generation — the manifest's
      disappearance alone is not an error — and the NEXT sync, unable
      to diff against the lapsed marker, full-resyncs to head.

    This test drives the second (benign) path end-to-end."""
    state = str(tmp_path / "lapse")
    replica = str(tmp_path / "lapserep")

    def fold(rows, touched):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(rows, "k long, p string, v string"),
            "p",
            touched,
            retention_sec=0.0,
        )

    fold([(1, "1", "a"), (2, "2", "b")], ["1", "2"])
    assert statestore.sync_state(spark, state, replica) == 1
    fold([(2, "2", "B")], ["2"])  # gen 2 — the sync below pins this

    real_read = statestore.read_state
    fired = []

    def read_then_lapse(*a, **kw):
        if not fired:
            fired.append(1)
            # two eager commits land AFTER the snapshot, BEFORE the
            # pinned read: gen 2 falls out of retention
            fold([(3, "1", "c")], ["1"])
            fold([(4, "2", "d")], ["2"])
            assert 2 not in statestore.list_generations(state)
        return real_read(*a, **kw)

    monkeypatch.setattr(statestore, "read_state", read_then_lapse)
    gen = statestore.sync_state(spark, state, replica)
    monkeypatch.undo()
    # the pinned files still existed → the sync completed as a
    # CONSISTENT snapshot of the pinned generation 2
    assert gen == 2 and statestore.last_synced_generation(replica) == 2
    got = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in spark.read.parquet(replica).collect()
    )
    assert got == [(1, "1", "a"), (2, "2", "B")]  # exactly gen 2
    # the next sync cannot diff against the lapsed gen 2 → full resync
    gen = statestore.sync_state(spark, state, replica)
    assert gen == statestore.list_generations(state)[-1]
    got = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in spark.read.parquet(replica).collect()
    )
    want = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in statestore.read_state(spark, state).collect()
    )
    assert got == want
    assert statestore.last_synced_generation(replica) == gen


def test_sync_state_follows_concurrent_live_maintainer(spark, tmp_path):
    """r14 capstone: two REAL actors, no interposition — a maintainer
    thread committing folds on its own cadence while the consumer loop
    calls sync_state whenever it likes. Every sync must leave the
    replica exactly equal to the generation-pinned table at the
    generation the sync returned (keep_generations wide enough that
    each returned generation is still retained for the check) — the
    pinned-sync protocol holding under genuine interleaving, not a
    scripted one."""
    import threading
    import time

    state = str(tmp_path / "live")
    replica = str(tmp_path / "liverep")
    N_FOLDS = 7

    def fold(i):
        rows = [(i * 10 + j, str(j % 3), f"v{i}") for j in range(3)]
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(rows, "k long, p string, v string"),
            "p",
            sorted({str(j % 3) for j in range(3)}),
            keep_generations=30,
        )

    fold(0)  # gen 1 exists before the race starts
    errors: list[BaseException] = []

    def maintainer():
        try:
            for i in range(1, N_FOLDS):
                fold(i)
                time.sleep(0.2)
        except BaseException as e:  # surface thread failures in the test
            errors.append(e)

    t = threading.Thread(target=maintainer)
    t.start()
    checks = 0
    try:
        while t.is_alive() or checks == 0:
            g = statestore.sync_state(spark, state, replica)
            got = sorted(
                (r["k"], str(r["p"]), r["v"])
                for r in spark.read.parquet(replica).collect()
            )
            want = sorted(
                (r["k"], str(r["p"]), r["v"])
                for r in statestore.read_state(
                    spark, state, generation=g
                ).collect()
            )
            assert got == want, f"replica diverged at generation {g}"
            checks += 1
    finally:
        t.join()
    assert not errors, errors
    # final sync converges on the last committed generation
    g = statestore.sync_state(spark, state, replica)
    assert g == statestore.list_generations(state)[-1] == N_FOLDS
    got = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in spark.read.parquet(replica).collect()
    )
    want = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in statestore.read_state(spark, state).collect()
    )
    assert got == want and checks >= 1


def _replica_listing(replica: str):
    """Every data file under the replica as (relpath, size, mtime_ns,
    inode), marker excluded — byte-identical across a no-op sync."""
    out = []
    for dirpath, _dirs, files in os.walk(replica):
        for f in files:
            if f.startswith("_SYNC_GEN"):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out.append(
                (os.path.relpath(p, replica), st.st_size, st.st_mtime_ns, st.st_ino)
            )
    return sorted(out)


def test_sync_state_noop_rewrites_nothing(spark, tmp_path, monkeypatch):
    """ADVICE r14 (medium): ``last_gen == gen`` must be a TRUE no-op.
    The r14 code fell through to the full-clone branch (touched stayed
    None), rewriting the entire replica via a staged swap on every idle
    maintenance wave — O(table) work plus a reader-visible swap window
    where the contract promises O(0). Pin it two ways: the staged-swap
    machinery is never invoked, and the partition file listings stay
    byte-identical (path + size + mtime + inode)."""
    from leftshove_spark import sinks

    state = str(tmp_path / "noop")
    replica = str(tmp_path / "nooprep")

    def fold(rows, touched):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(rows, "k long, p string, v string"),
            "p",
            touched,
        )

    fold([(1, "1", "a"), (2, "2", "b")], ["1", "2"])
    assert statestore.sync_state(spark, state, replica) == 1
    before = _replica_listing(replica)
    assert before  # the clone actually landed files

    def bomb(*a, **kw):
        raise AssertionError("no-op sync must not rewrite any partition")

    monkeypatch.setattr(sinks, "rewrite_dir_staged", bomb)
    # marker path (last_gen read from the replica) and explicit
    # last_gen override both short-circuit
    assert statestore.sync_state(spark, state, replica) == 1
    assert statestore.sync_state(spark, state, replica, last_gen=1) == 1
    monkeypatch.undo()
    assert _replica_listing(replica) == before
    assert statestore.last_synced_generation(replica) == 1
    # and the next real commit still syncs incrementally
    fold([(2, "2", "B")], ["2"])
    assert statestore.sync_state(spark, state, replica) == 2
    got = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in spark.read.parquet(replica).collect()
    )
    assert got == [(1, "1", "a"), (2, "2", "B")]


def test_sync_state_replica_side_error_surfaces_first_try(
    spark, tmp_path, monkeypatch
):
    """ADVICE r14 (low): the retention-lapse heuristic classified ANY
    'FileNotFound' message as a lapse — including replica-side
    FileNotFoundError from a misconfigured replica path — silently
    burning two full re-clone retries before the real error surfaced.
    A FileNotFound that does NOT reference the source store must
    surface on the FIRST attempt; one that does must still retry."""
    from leftshove_spark import sinks

    state = str(tmp_path / "srcerr")
    replica = str(tmp_path / "srcerrrep")
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame([(1, "1", "a")], "k long, p string, v string"),
        "p",
        ["1"],
    )

    calls = []
    real = sinks.rewrite_dir_staged

    def replica_side_enoent(*a, **kw):
        calls.append(1)
        raise FileNotFoundError(
            f"[Errno 2] No such file or directory: '{replica}/p=1/part-0.parquet'"
        )

    monkeypatch.setattr(sinks, "rewrite_dir_staged", replica_side_enoent)
    with pytest.raises(FileNotFoundError):
        statestore.sync_state(spark, state, replica)
    assert len(calls) == 1  # no silent re-clone retries
    monkeypatch.undo()

    # green half: a FileNotFound naming the SOURCE store is
    # retention-shaped — retried (and succeeds once it stops firing)
    calls.clear()

    def source_side_fnf_once(*a, **kw):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError(
                f"FileNotFoundException: File {state}/data/p=1/f.parquet "
                "does not exist"
            )
        return real(*a, **kw)

    monkeypatch.setattr(sinks, "rewrite_dir_staged", source_side_fnf_once)
    assert statestore.sync_state(spark, state, replica) == 1
    assert len(calls) == 2
    got = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in spark.read.parquet(replica).collect()
    )
    assert got == [(1, "1", "a")]


def test_compaction_reduces_files_preserves_everything(spark, tmp_path):
    """r15 (K20): per-cycle folds add a file per touched bucket, so hot
    partitions fragment at maintenance cadence. compact_partitions
    rewrites fragmented partitions as ONE ordinary fenced commit —
    file counts drop to the plan, contents are byte-for-byte the same
    relation, time travel still serves the pre-compaction generation,
    the change feed reports exactly the rewritten partitions, an
    untouched partition's file list carries over by reference, and a
    sync_state replica follows with identical values."""
    state = str(tmp_path / "cmp")
    replica = str(tmp_path / "cmprep")

    # p=2 committed once (single file, stays put); p=1 committed as a
    # deliberately fragmented multi-task write (what a hot bucket looks
    # like after many maintenance folds)
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame([(100, "2", "w")], "k long, p string, v string"),
        "p",
        ["2"],
        keep_generations=20,
    )
    frag = spark.createDataFrame(
        [(i, "1", f"v{i}") for i in range(8)], "k long, p string, v string"
    ).repartition(4)
    statestore.commit_fold(spark, state, frag, "p", ["1"], keep_generations=20)
    m = statestore.load_manifest(state)
    pre_gen = m["gen"]
    n_before = len(m["files"]["1"])
    assert n_before >= 2 and len(m["files"]["2"]) == 1
    files_p2_before = list(m["files"]["2"])

    want = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in statestore.read_state(spark, state).collect()
    )
    assert statestore.sync_state(spark, state, replica) == pre_gen

    plan = statestore.compaction_plan(state, target_file_bytes=1 << 30)
    assert plan == {"1": 1}  # p=2 is single-file — nothing to gain
    executed = statestore.compact_partitions(
        spark, state, target_file_bytes=1 << 30, keep_generations=20
    )
    assert executed == plan

    m2 = statestore.load_manifest(state)
    assert m2["gen"] == pre_gen + 1
    assert len(m2["files"]["1"]) == 1
    assert m2["files"]["2"] == files_p2_before  # carried by reference

    got = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in statestore.read_state(spark, state).collect()
    )
    assert got == want  # contents untouched
    # time travel: the pre-compaction generation still reads (retention)
    old = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in statestore.read_state(spark, state, generation=pre_gen).collect()
    )
    assert old == want
    # the change feed reports exactly the rewritten partition
    assert statestore.changed_partitions(state, pre_gen) == ["1"]
    # a replica synced pre-compaction follows incrementally
    assert statestore.sync_state(spark, state, replica) == pre_gen + 1
    got_rep = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in spark.read.parquet(replica).collect()
    )
    assert got_rep == want


def test_compaction_target_bytes_and_thresholds(spark, tmp_path):
    """r15 (K20): the plan honors target_file_bytes (a partition larger
    than the target splits into >=2 deterministic-salt files), skips
    partitions below min_files, and an empty plan commits NOTHING (no
    new generation)."""
    state = str(tmp_path / "cmpt")
    rows = [(i, "1", "x" * 200) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, p string, v string").repartition(6)
    statestore.commit_fold(spark, state, df, "p", ["1"], keep_generations=20)
    m = statestore.load_manifest(state)
    assert len(m["files"]["1"]) >= 3
    data = os.path.join(state, statestore._DATA_DIR)
    total = sum(
        os.path.getsize(os.path.join(data, rel)) for rel in m["files"]["1"]
    )

    # below min_files → empty plan, no commit
    assert statestore.compaction_plan(state, min_files=50) == {}
    gen_before = statestore.load_manifest(state)["gen"]
    assert statestore.compact_partitions(spark, state, min_files=50) == {}
    assert statestore.load_manifest(state)["gen"] == gen_before

    # target below the partition's bytes → split into ceil(total/target)
    target = total // 2 + 1
    plan = statestore.compaction_plan(state, target_file_bytes=target)
    assert plan == {"1": 2}
    statestore.compact_partitions(
        spark, state, target_file_bytes=target, keep_generations=20
    )
    m2 = statestore.load_manifest(state)
    assert len(m2["files"]["1"]) == 2  # both salt groups landed a file
    got = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in statestore.read_state(spark, state).collect()
    )
    assert got == sorted((k, p, v) for k, p, v in rows)

    # fixed point: once a partition is down to one file, no target can
    # propose further work (rewritten files recompress smaller, so the
    # SAME target may legitimately propose a further 2→1 merge first)
    statestore.compact_partitions(
        spark, state, target_file_bytes=1 << 30, keep_generations=20
    )
    assert len(statestore.load_manifest(state)["files"]["1"]) == 1
    assert statestore.compaction_plan(state, target_file_bytes=target) == {}


def test_compaction_unpartitioned_store(spark, tmp_path):
    """r15 (K20): an unpartitioned store compacts as its single ''
    partition — same fence, same contract."""
    state = str(tmp_path / "cmpflat")
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k long, v string"
    ).repartition(5)
    statestore.commit_fold(spark, state, df, None, [""], keep_generations=20)
    m = statestore.load_manifest(state)
    assert len(m["files"][""]) >= 2
    want = sorted(
        (r["k"], r["v"]) for r in statestore.read_state(spark, state).collect()
    )
    plan = statestore.compact_partitions(spark, state, target_file_bytes=1 << 30)
    assert plan == {"": 1}
    m2 = statestore.load_manifest(state)
    assert len(m2["files"][""]) == 1
    got = sorted(
        (r["k"], r["v"]) for r in statestore.read_state(spark, state).collect()
    )
    assert got == want


def test_sync_state_schema_evolution_forces_uniform_replica(spark, tmp_path):
    """r15: a store evolution (added column) landing in SOME partitions
    would, under a naive incremental swap, leave the replica with
    mixed per-partition schemas — and a plain
    spark.read.parquet(replica) silently DROPS the new column whenever
    the footer it samples predates the evolution (reproduced: evolving
    the later-sorting partition lost the column and its values).
    sync_state records the schema the replica was uniformly written
    with and full-re-clones on drift, so the plain-read contract holds
    through evolution; syncs with an unchanged schema stay
    incremental."""
    state = str(tmp_path / "evo")
    replica = str(tmp_path / "evorep")

    def fold(rows, schema, touched):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(rows, schema),
            "p",
            touched,
            keep_generations=10,
        )

    def replica_equals_table():
        got = sorted(
            tuple(str(r[c]) for c in sorted(r.asDict()))
            for r in spark.read.parquet(replica).collect()
        )
        want = sorted(
            tuple(str(r[c]) for c in sorted(r.asDict()))
            for r in statestore.read_state(spark, state).collect()
        )
        assert got == want

    fold([(1, "1", "a"), (2, "2", "b")], "k long, p string, v string", ["1", "2"])
    assert statestore.sync_state(spark, state, replica) == 1
    replica_equals_table()

    # same-schema fold stays incremental: untouched dir not rewritten
    p1 = sorted(os.listdir(os.path.join(replica, "p=1")))
    fold([(2, "2", "B")], "k long, p string, v string", ["2"])
    assert statestore.sync_state(spark, state, replica) == 2
    assert sorted(os.listdir(os.path.join(replica, "p=1"))) == p1
    replica_equals_table()

    # evolution lands ONLY in the later-sorting partition — the exact
    # case the naive swap loses; the drift guard full-re-clones and the
    # plain read keeps the new column across ALL partitions
    fold(
        [(3, "2", "c", "NEW")],
        "k long, p string, v string, extra string",
        ["2"],
    )
    assert statestore.sync_state(spark, state, replica) == 3
    rep = spark.read.parquet(replica)
    assert "extra" in rep.columns
    replica_equals_table()
    # p=1 was rewritten too (uniform schema), even though untouched
    assert sorted(os.listdir(os.path.join(replica, "p=1"))) != p1

    # post-evolution syncs are incremental again under the new schema
    p1b = sorted(os.listdir(os.path.join(replica, "p=1")))
    fold(
        [(4, "2", "d", "NEW2")],
        "k long, p string, v string, extra string",
        ["2"],
    )
    assert statestore.sync_state(spark, state, replica) == 4
    assert sorted(os.listdir(os.path.join(replica, "p=1"))) == p1b
    replica_equals_table()

    # a pre-schema-marker replica (older sync_state wrote it) forces
    # one uniform re-clone, then records the schema
    os.remove(os.path.join(replica, "_SYNC_SCHEMA"))
    fold(
        [(5, "1", "e", "NEW3")],
        "k long, p string, v string, extra string",
        ["1"],
    )
    assert statestore.sync_state(spark, state, replica) == 5
    assert os.path.exists(os.path.join(replica, "_SYNC_SCHEMA"))
    replica_equals_table()


def test_compaction_escaped_null_and_map_partitions(spark, tmp_path):
    """r15 review: compaction routing must key on the MANIFEST's file
    lists, never on partition-value equality — directory names are
    path-escaped (':' → '%3A') and NULL is a sentinel dir, so a join
    on the decoded column vs the manifest key matches nothing and
    commit_fold would then DELETE those partitions' rows outright.
    Also: the content salt must tolerate map-bearing payload columns
    (xxhash64 rejects MapType; the to_json proxy applies)."""
    state = str(tmp_path / "esc")
    rows = [
        (i, "a:b", f"v{i}", {"x": i}) for i in range(6)
    ] + [
        (10 + i, None, f"w{i}", {"y": i}) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows, "k long, p string, v string, m map<string,int>"
    ).repartition(4)
    touched = ["a%3Ab", "__HIVE_DEFAULT_PARTITION__"]
    statestore.commit_fold(spark, state, df, "p", touched, keep_generations=20)
    m = statestore.load_manifest(state)
    assert set(m["files"]) == set(touched)
    assert all(len(rels) >= 2 for rels in m["files"].values())

    want = sorted(
        (r["k"], r["p"], r["v"], tuple(sorted((r["m"] or {}).items())))
        for r in statestore.read_state(spark, state).collect()
    )
    plan = statestore.compact_partitions(
        spark, state, target_file_bytes=1 << 30, keep_generations=20
    )
    assert set(plan) == set(touched)
    m2 = statestore.load_manifest(state)
    assert set(m2["files"]) == set(touched)  # nothing deleted
    assert all(len(rels) == 1 for rels in m2["files"].values())
    got = sorted(
        (r["k"], r["p"], r["v"], tuple(sorted((r["m"] or {}).items())))
        for r in statestore.read_state(spark, state).collect()
    )
    assert got == want and len(got) == 12


def test_sync_state_pads_narrow_partitions_incrementally(spark, tmp_path):
    """r15 review: in a long-evolved store, a fold touching a dormant
    bucket rewrites it WITHOUT columns only other buckets carry — the
    incoming partition is NARROWER than the replica's recorded schema.
    That must NOT force a full re-clone (it would make every such wave
    O(table)); the partition is NULL-padded to the recorded shape and
    the sync stays incremental, replica uniform, plain read keeps all
    columns."""
    state = str(tmp_path / "narrow")
    replica = str(tmp_path / "narrowrep")

    def fold(rows, schema, touched):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(rows, schema),
            "p",
            touched,
            keep_generations=10,
        )

    # store evolved long ago: partition 1 carries 'extra', partition 2
    # was last written before the evolution (narrow)
    fold([(1, "1", "a", "E1")], "k long, p string, v string, extra string", ["1"])
    fold([(2, "2", "b")], "k long, p string, v string", ["2"])
    assert statestore.sync_state(spark, state, replica) == 2
    rep = spark.read.parquet(replica)
    assert "extra" in rep.columns

    # a fold rewrites the narrow partition, still narrow
    p1 = sorted(os.listdir(os.path.join(replica, "p=1")))
    fold([(3, "2", "c")], "k long, p string, v string", ["2"])
    assert statestore.sync_state(spark, state, replica) == 3
    # incremental: the wide partition dir was NOT rewritten
    assert sorted(os.listdir(os.path.join(replica, "p=1"))) == p1
    rep = spark.read.parquet(replica)
    assert "extra" in rep.columns
    got = sorted(
        (r["k"], str(r["p"]), r["v"], r["extra"]) for r in rep.collect()
    )
    assert got == [(1, "1", "a", "E1"), (3, "2", "c", None)]


def test_sync_state_full_clone_rewrites_schema_marker(spark, tmp_path):
    """r15 review: a full re-clone's root swap displaces the replica's
    _SYNC_SCHEMA marker to trash — it must be rewritten after EVERY
    clone, not only on schema change, or the next sync finds no
    recorded schema and pays a second unnecessary full clone."""
    state = str(tmp_path / "mk")
    replica = str(tmp_path / "mkrep")

    def fold(rows, touched, **kw):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(rows, "k long, p string, v string"),
            "p",
            touched,
            **kw,
        )

    fold([(1, "1", "a"), (2, "2", "b")], ["1", "2"])
    assert statestore.sync_state(spark, state, replica) == 1
    # force a retention lapse → full re-clone with UNCHANGED schema
    fold([(3, "1", "c")], ["1"], retention_sec=0.0)
    fold([(4, "2", "d")], ["2"], retention_sec=0.0)
    assert 1 not in statestore.list_generations(state)
    g = statestore.sync_state(spark, state, replica)
    assert os.path.exists(os.path.join(replica, "_SYNC_SCHEMA"))

    # and the NEXT sync is incremental, not another clone
    from leftshove_spark import sinks

    p1 = sorted(os.listdir(os.path.join(replica, "p=1")))
    fold([(5, "2", "e")], ["2"], keep_generations=5)
    real = sinks.rewrite_dir_staged
    roots = []

    def spy(df, path, **kw):
        roots.append(path)
        return real(df, path, **kw)

    import unittest.mock as mock

    with mock.patch.object(sinks, "rewrite_dir_staged", spy):
        assert statestore.sync_state(spark, state, replica) == g + 1
    # only the touched partition dir was swapped — no root re-clone
    assert roots == [os.path.join(replica, "p=2")]
    assert sorted(os.listdir(os.path.join(replica, "p=1"))) == p1


def test_sync_state_sibling_prefix_path_not_retention_shaped(
    spark, tmp_path, monkeypatch
):
    """r15 review: the retention heuristic must match the source path
    at PATH BOUNDARIES — '/a/state' is a raw substring of
    '/a/state_replica', so a Spark FileNotFound naming the sibling
    replica dir would be misclassified as a source retention lapse and
    silently retried as full re-clones."""
    from leftshove_spark import sinks

    state = str(tmp_path / "st")
    replica = f"{state}_replica"  # state path is a string prefix
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame([(1, "1", "a")], "k long, p string, v string"),
        "p",
        ["1"],
    )
    calls = []

    def spark_shaped_replica_fnf(*a, **kw):
        calls.append(1)
        raise RuntimeError(
            f"FileNotFoundException: File {replica}/p=1/f.parquet "
            "does not exist"
        )

    monkeypatch.setattr(sinks, "rewrite_dir_staged", spark_shaped_replica_fnf)
    with pytest.raises(RuntimeError):
        statestore.sync_state(spark, state, replica)
    assert len(calls) == 1  # surfaced first try, no re-clone retries


def test_sync_state_partition_type_inference_not_drift(spark, tmp_path):
    """r15 review (reproduced): the partition column's INFERRED type
    depends on which dirs a read selects — p=1 alone infers int where
    the full store (holding 'x') infers string, and a NULL-sentinel
    read infers void. The drift guard must exclude the partition
    column (it never reaches the replica's data files), or every sync
    touching such a partition silently degrades to a full O(table)
    re-clone forever."""
    from leftshove_spark import sinks

    state = str(tmp_path / "ti")
    replica = str(tmp_path / "tirep")

    def fold(rows, touched):
        statestore.commit_fold(
            spark,
            state,
            spark.createDataFrame(rows, "k long, p string, v string"),
            "p",
            touched,
            keep_generations=10,
        )

    fold(
        [(1, "1", "a"), (2, "x", "b"), (3, None, "c")],
        ["1", "x", "__HIVE_DEFAULT_PARTITION__"],
    )
    assert statestore.sync_state(spark, state, replica) == 1

    # folds touching the int-looking and the NULL partition: both must
    # sync INCREMENTALLY (no root re-clone)
    roots = []
    real = sinks.rewrite_dir_staged

    def spy(df, path, **kw):
        roots.append(path)
        return real(df, path, **kw)

    import unittest.mock as mock

    fold([(1, "1", "A")], ["1"])
    with mock.patch.object(sinks, "rewrite_dir_staged", spy):
        assert statestore.sync_state(spark, state, replica) == 2
    fold([(4, None, "C")], ["__HIVE_DEFAULT_PARTITION__"])
    with mock.patch.object(sinks, "rewrite_dir_staged", spy):
        assert statestore.sync_state(spark, state, replica) == 3
    assert roots == [
        os.path.join(replica, "p=1"),
        os.path.join(replica, "p=__HIVE_DEFAULT_PARTITION__"),
    ]
    got = sorted(
        (r["k"], r["p"], r["v"])
        for r in spark.read.parquet(replica).collect()
    )
    want = sorted(
        (r["k"], r["p"], r["v"])
        for r in statestore.read_state(spark, state).collect()
    )
    assert got == want


def _fold(spark, state, rows, touched, **kw):
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame(rows, "k long, p string, v string"),
        "p",
        touched,
        keep_generations=kw.pop("keep_generations", 20),
        **kw,
    )


def test_compaction_preserves_noncanonical_partition_keys(spark, tmp_path):
    """ADVICE r15 (low #1): a partition value whose directory form is
    not the canonical rendering of its inferred type — '01' beside '1',
    both inferred int 1 by partition discovery — must round-trip
    through compaction byte-identically. The pre-r16 rewrite read the
    column via discovery and re-rendered it through partitionBy, so
    key '01' was deleted from the manifest and its rows re-keyed under
    '1'; compaction now re-attaches the DECODED MANIFEST KEY as a
    string literal, which renders verbatim."""
    state = str(tmp_path / "noncanon")
    frag01 = spark.createDataFrame(
        [(i, "01", f"a{i}") for i in range(6)], "k long, p string, v string"
    ).repartition(3)
    statestore.commit_fold(spark, state, frag01, "p", ["01"], keep_generations=20)
    frag1 = spark.createDataFrame(
        [(100 + i, "1", f"b{i}") for i in range(6)], "k long, p string, v string"
    ).repartition(3)
    statestore.commit_fold(spark, state, frag1, "p", ["1"], keep_generations=20)
    m = statestore.load_manifest(state)
    assert set(m["files"]) == {"01", "1"}
    assert all(len(rels) >= 2 for rels in m["files"].values())

    plan = statestore.compact_partitions(
        spark, state, target_file_bytes=1 << 30, keep_generations=20
    )
    assert set(plan) == {"01", "1"}
    m2 = statestore.load_manifest(state)
    # the keys survive byte-identically — '01' neither deleted nor
    # merged into '1' — and each holds exactly the planned single file
    assert set(m2["files"]) == {"01", "1"}
    assert all(len(rels) == 1 for rels in m2["files"].values())
    # the rows stayed under their own key: pruned reads per key
    k01 = sorted(
        r["k"]
        for r in statestore.read_state(
            spark, state, partition_values=["01"]
        ).collect()
    )
    k1 = sorted(
        r["k"]
        for r in statestore.read_state(
            spark, state, partition_values=["1"]
        ).collect()
    )
    assert k01 == list(range(6))
    assert k1 == [100 + i for i in range(6)]


def test_compaction_loses_race_to_fold_loudly(spark, tmp_path):
    """ADVICE r15 (low #2): the lost-update window. A fold committing
    between compaction's manifest pin and its commit used to be
    silently adopted as the new base and then OVERWRITTEN with data
    pinned to the older generation — the racer's changes reverted with
    no error. commit_fold's expected_base_gen check turns that into a
    loud ConcurrentCommitError with the racer's commit intact."""
    state = str(tmp_path / "race")
    frag = spark.createDataFrame(
        [(i, "1", f"v{i}") for i in range(6)], "k long, p string, v string"
    ).repartition(3)
    statestore.commit_fold(spark, state, frag, "p", ["1"], keep_generations=20)
    base_gen = statestore.load_manifest(state)["gen"]

    def racing_fold():
        _fold(spark, state, [(999, "1", "RACER")], ["1"])

    with pytest.raises(statestore.ConcurrentCommitError):
        statestore.compact_partitions(
            spark,
            state,
            target_file_bytes=1 << 30,
            keep_generations=20,
            _pre_commit_hook=racing_fold,
        )
    # the racer's commit is the surviving current generation — its row
    # present, the compaction attempt invisible
    m = statestore.load_manifest(state)
    assert m["gen"] == base_gen + 1 and not m.get("maintenance")
    ks = sorted(
        r["k"] for r in statestore.read_state(spark, state).collect()
    )
    assert ks == [999]  # the racer REPLACED partition 1 (fold contract)


def test_maintain_store_retries_lost_race_and_converges(spark, tmp_path):
    """VERDICT r15 next #1 (maintenance side): maintain_store absorbs a
    lost generation race — re-plans against the racer's generation and
    lands the compaction on the retry; after `retries` losses it
    defers to the next cycle instead of raising. The final state holds
    BOTH the racer's fold and the compacted layout."""
    state = str(tmp_path / "maint")
    frag = spark.createDataFrame(
        [(i, "1", f"v{i}") for i in range(6)], "k long, p string, v string"
    ).repartition(3)
    statestore.commit_fold(spark, state, frag, "p", ["1"], keep_generations=20)

    def racing_fold():
        # the racer ADDS partition 2 (does not touch partition 1), so
        # the retry must still find partition 1 fragmented
        frag2 = spark.createDataFrame(
            [(100 + i, "2", f"w{i}") for i in range(4)],
            "k long, p string, v string",
        ).repartition(2)
        statestore.commit_fold(
            spark, state, frag2, "p", ["2"], keep_generations=20
        )

    res = statestore.maintain_store(
        spark,
        state,
        target_file_bytes=1 << 30,
        min_files=2,
        keep_generations=20,
        retries=1,
        backoff_sec=0.0,
        vacuum_grace_sec=0.0,
        _pre_commit_hook=racing_fold,
    )
    assert res["lost_races"] == 1
    # the retry re-planned over BOTH now-fragmented partitions
    assert set(res["compacted"]) == {"1", "2"}
    m = statestore.load_manifest(state)
    assert m.get("maintenance") is True
    assert all(len(rels) == 1 for rels in m["files"].values())
    got = sorted(
        (r["k"], str(r["p"])) for r in statestore.read_state(spark, state).collect()
    )
    assert got == [(i, "1") for i in range(6)] + [
        (100 + i, "2") for i in range(4)
    ]

    # exhausted retries DEFER (no raise), reporting the losses
    def always_race():
        _fold(spark, state, [(999, "3", "R")], ["3"])

    # re-fragment so a plan exists
    statestore.commit_fold(
        spark,
        state,
        spark.createDataFrame(
            [(200 + i, "1", f"z{i}") for i in range(4)],
            "k long, p string, v string",
        ).repartition(2),
        "p",
        ["1"],
        keep_generations=20,
    )
    res2 = statestore.maintain_store(
        spark,
        state,
        target_file_bytes=1 << 30,
        min_files=2,
        keep_generations=20,
        retries=0,
        backoff_sec=0.0,
        _pre_commit_hook=always_race,
    )
    assert res2["lost_races"] == 1 and res2["compacted"] == {}


def test_fold_retries_over_maintenance_commit_only(spark, tmp_path, monkeypatch):
    """VERDICT r15 next #1 (fold side): commit_fold_retrying re-commits
    a fold that lost the generation CAS to a CONTENTS-PRESERVING
    maintenance commit (the 'maintenance' manifest stamp), but
    re-raises when the racer was an unstamped DATA writer — retrying
    over a genuine second fold would silently clobber its rows."""
    state = str(tmp_path / "foldretry")
    frag = spark.createDataFrame(
        [(i, "1", f"v{i}") for i in range(6)], "k long, p string, v string"
    ).repartition(3)
    statestore.commit_fold(spark, state, frag, "p", ["1"], keep_generations=20)

    real_commit = statestore.commit_fold
    calls = {"n": 0}

    def lose_once_to_maintenance(*a, **kw):
        if calls["n"] == 0:
            calls["n"] += 1
            # the maintenance racer wins the CAS first...
            statestore.compact_partitions(
                spark, state, target_file_bytes=1 << 30, keep_generations=20
            )
            raise statestore.ConcurrentCommitError("simulated lost CAS")
        return real_commit(*a, **kw)

    monkeypatch.setattr(statestore, "commit_fold", lose_once_to_maintenance)
    out = spark.createDataFrame(
        [(i, "1", f"v{i}") for i in range(6)] + [(50, "1", "NEW")],
        "k long, p string, v string",
    )
    statestore.commit_fold_retrying(
        spark, state, out, "p", ["1"], keep_generations=20
    )
    monkeypatch.undo()
    assert calls["n"] == 1
    ks = sorted(
        r["k"] for r in statestore.read_state(spark, state).collect()
    )
    assert ks == [0, 1, 2, 3, 4, 5, 50]  # the retried fold landed

    # an UNSTAMPED racer (second data writer) re-raises
    calls2 = {"n": 0}

    def lose_once_to_data_writer(*a, **kw):
        if calls2["n"] == 0:
            calls2["n"] += 1
            real_commit(
                spark,
                state,
                spark.createDataFrame(
                    [(777, "1", "OTHER")], "k long, p string, v string"
                ),
                "p",
                ["1"],
                keep_generations=20,
            )
            raise statestore.ConcurrentCommitError("simulated lost CAS")
        return real_commit(*a, **kw)

    monkeypatch.setattr(statestore, "commit_fold", lose_once_to_data_writer)
    with pytest.raises(statestore.ConcurrentCommitError):
        statestore.commit_fold_retrying(
            spark, state, out, "p", ["1"], keep_generations=20
        )
    monkeypatch.undo()
    ks2 = sorted(
        r["k"] for r in statestore.read_state(spark, state).collect()
    )
    assert ks2 == [777]  # the data writer's commit stands untouched


def test_sync_state_noop_claim_against_empty_replica_clones(spark, tmp_path):
    """ADVICE r15 (low #3): sync_state(..., last_gen=<current gen>)
    against a replica_dir that does not exist (or was wiped) must NOT
    skip the clone — the old code created the directory and stamped a
    _SYNC_GEN marker anyway, minting an empty replica that every later
    marker-driven sync treated as current. The claim is honored only
    when the replica actually holds a prior sync."""
    state = str(tmp_path / "claim")
    replica = str(tmp_path / "claimrep")
    _fold(spark, state, [(1, "1", "a"), (2, "2", "b")], ["1", "2"])
    gen = statestore.load_manifest(state)["gen"]

    # replica never synced: the caller's currency claim is refuted by
    # the empty dir — a full clone lands the data
    assert statestore.sync_state(spark, state, replica, last_gen=gen) == gen
    got = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in spark.read.parquet(replica).collect()
    )
    assert got == [(1, "1", "a"), (2, "2", "b")]

    # wiped replica: same refutation
    import shutil as _sh

    _sh.rmtree(replica)
    assert statestore.sync_state(spark, state, replica, last_gen=gen) == gen
    assert sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in spark.read.parquet(replica).collect()
    ) == [(1, "1", "a"), (2, "2", "b")]

    # a replica that DOES hold the prior sync keeps the no-op fast path
    from leftshove_spark import sinks

    def bomb(*a, **kw):
        raise AssertionError("no-op sync must not rewrite any partition")

    import pytest as _pt

    mp = _pt.MonkeyPatch()
    mp.setattr(sinks, "rewrite_dir_staged", bomb)
    try:
        assert statestore.sync_state(spark, state, replica, last_gen=gen) == gen
    finally:
        mp.undo()


def test_conditional_put_commit_variant(spark, tmp_path, monkeypatch):
    """r16 (VERDICT r15 next #8): the object-store commit variant
    SCALE.md promises — swap the manifest link's CREATE-EXCLUSIVE CAS
    for a conditional put behind the _write_manifest seam. Against a
    filesystem-backed put-if-absent fake: folds commit and read back
    identically, the fence still resolves two writers racing one
    generation to exactly one winner (the loser raises, store intact),
    and a competitor's already-present key surfaces as
    ConcurrentCommitError — never a silent overwrite."""
    calls = {"puts": 0, "race_next": False}

    def put_if_absent(path, payload):
        # the fake's atomicity: O_CREAT|O_EXCL — exactly the semantics
        # S3 If-None-Match:* / GCS ifGenerationMatch=0 provide. With
        # race_next set, a competitor's put lands the SAME key first
        # (the mid-commit race: after this writer's manifest load,
        # before its put).
        calls["puts"] += 1
        if calls["race_next"]:
            calls["race_next"] = False
            import json as _json

            with open(path, "w", encoding="utf-8") as fh:
                comp = _json.loads(payload)
                comp["files"] = {}  # distinguishable competitor content
                fh.write(_json.dumps(comp))
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, payload.encode("utf-8"))
            os.fsync(fd)
        finally:
            os.close(fd)

    monkeypatch.setattr(statestore, "MANIFEST_PUT_IF_ABSENT", put_if_absent)
    state = str(tmp_path / "objstore")
    _fold(spark, state, [(1, "1", "a"), (2, "2", "b")], ["1", "2"])
    _fold(spark, state, [(2, "2", "B")], ["2"])
    assert calls["puts"] == 2
    got = sorted(
        (r["k"], str(r["p"]), r["v"])
        for r in statestore.read_state(spark, state).collect()
    )
    assert got == [(1, "1", "a"), (2, "2", "B")]
    # no .part debris — the conditional-put path writes the key directly
    mdir = os.path.join(state, statestore._MANIFEST_DIR)
    assert not [e for e in os.listdir(mdir) if ".part" in e]

    # the fence: a competitor's put lands the target key between this
    # fold's manifest load and its own put — the conditional put finds
    # the key present, the loser raises, the winner's manifest stands
    cur = statestore.load_manifest(state)
    calls["race_next"] = True
    with pytest.raises(statestore.ConcurrentCommitError):
        _fold(spark, state, [(9, "1", "LOSER")], ["1"])
    after = statestore.load_manifest(state)
    assert after["gen"] == cur["gen"] + 1
    assert after["files"] == {}  # the COMPETITOR's content won, verbatim


def test_compaction_key_roundtrip_battery(spark, tmp_path):
    """r16: the decoded-manifest-key rewrite must round-trip EVERY
    directory-encoding class byte-identically through compaction —
    leading zeros (non-canonical int forms), Spark path-escaped
    characters (colon, slash, equals, hash, percent, space), unicode,
    negative and decimal number forms, and the NULL sentinel. Ground
    truth is whatever encoding commit_fold's own write produced; the
    battery asserts compaction preserves the key set exactly and every
    pruned per-key read returns its own rows."""
    values = [
        "01",
        "1",
        "a:b",
        "a/b",
        "sp ace",
        "té%st",
        "eq=val",
        "#hash",
        "-3",
        "0.10",
        None,
    ]
    state = str(tmp_path / "battery")
    rows = [
        (100 * i + j, v, f"p{i}r{j}")
        for i, v in enumerate(values)
        for j in range(4)
    ]
    df = spark.createDataFrame(
        rows, "k long, p string, v string"
    ).repartition(3)
    statestore.commit_fold(spark, state, df, "p", [], keep_generations=20)
    m = statestore.load_manifest(state)
    keys_before = set(m["files"])
    assert len(keys_before) == len(values)  # every value got its own dir
    by_key_before = {
        key: sorted(
            r["k"]
            for r in statestore.read_state(
                spark, state, partition_values=[key]
            ).collect()
        )
        for key in keys_before
    }
    assert all(len(ks) == 4 for ks in by_key_before.values())

    plan = statestore.compact_partitions(
        spark, state, target_file_bytes=1 << 30, keep_generations=20
    )
    # only ≥2-file keys qualify (a repartitioned write may leave some
    # single-file); the battery's pin is that EVERY planned key
    # round-trips and the key SET is byte-identical afterwards
    assert plan and set(plan) <= keys_before
    m2 = statestore.load_manifest(state)
    assert set(m2["files"]) == keys_before  # byte-identical key set
    assert all(len(m2["files"][key]) == 1 for key in plan)
    for key, want in by_key_before.items():
        got = sorted(
            r["k"]
            for r in statestore.read_state(
                spark, state, partition_values=[key]
            ).collect()
        )
        assert got == want, key


def test_compaction_over_date_partitioned_rollup_store(spark, tmp_path):
    """K20 × W21 composition (r16): the decoded-key rewrite holds for
    DATE-valued partition directories too — a fragmented rollup store
    (__wday=YYYY-MM-DD partitions) compacts with byte-identical keys
    and an unchanged rollup_view."""
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import maintain_rollup, rollup_view

    state = str(tmp_path / "rollup")
    ev = load_table(spark, SF0001, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.col("value").cast("decimal(18,4)").alias("value"),
    )
    # three chunked folds fragment each hit day across commits
    for i in range(3):
        maintain_rollup(
            spark,
            state,
            ev.filter(F.col("event_id") % 3 == i),
            "ts",
            ["event_type"],
            sum_cols=["value"],
            window="1 day",
            keep_generations=20,
        )
    m1 = statestore.load_manifest(state)
    keys_before = set(m1["files"])
    assert keys_before and all("-" in k for k in keys_before)  # date dirs
    want = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in rollup_view(spark, state, sum_cols=["value"]).collect()
    }

    # fragment one day explicitly (locally AQE coalesces each fold's
    # write to a single file per day; at cluster scale the shuffle
    # width does this for free): same rows, three-task layout
    day = sorted(keys_before)[0]
    frag = statestore.read_state(
        spark, state, partition_values=[day]
    ).repartition(3)
    statestore.commit_fold(
        spark, state, frag, "__wday", [day], keep_generations=20
    )
    assert len(statestore.load_manifest(state)["files"][day]) >= 2

    plan = statestore.compact_partitions(
        spark, state, target_file_bytes=1 << 30, keep_generations=20
    )
    assert day in plan
    m2 = statestore.load_manifest(state)
    assert set(m2["files"]) == keys_before  # date keys round-trip
    assert all(len(m2["files"][k]) == n for k, n in plan.items())
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in rollup_view(spark, state, sum_cols=["value"]).collect()
    }
    assert got == want
