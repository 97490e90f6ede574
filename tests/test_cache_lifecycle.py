"""Pinned-intermediate lifecycle (r7 advice #6) + conditional fan-out
(r7 advice #5).

#6: the shingle/simhash Arrow stages persist their output because the
near-dup callers read it 2-3×; every pin now registers with
leftshove_spark.ext.cache so an owner can release it surgically. These
tests prove the contract: after a dedup gate query completes and the
owner calls release_pins(), the session's cache manager is empty — no
slow cache leak in a long-running engine process. A pin belongs to the
innermost pin_scope open in the calling context, or to the root list;
one thread's scope exit or release_pins() never reaches another
thread's pins, and no module but ext.cache persists a frame.

#5: the pre-Arrow-stage repartition exists only to fan a NARROW local
scan out to the cluster width; when the input is already cluster-wide
(the 100 TB case — the scan has >= width splits) no shuffle may be
added. Checked behaviorally: partition count passes through unchanged
for wide inputs, fans out to defaultParallelism for narrow ones.
"""

import pytest
from pyspark.sql import functions as F

from conftest import SF0001

from leftshove_spark.ext import cache
from leftshove_spark.ext.dedup import _staged_shingles, _staged_simhash
from leftshove_spark.ext.text import fingerprint
from leftshove_spark.sources import read_parquet_normalized


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture
def docs(spark):
    return read_parquet_normalized(spark, f"{SF0001}/documents.parquet")


@pytest.fixture(autouse=True)
def clean_cache(spark):
    """The cache-empty assertions are about THIS test's pins; a shared
    session may carry caches from earlier suites — start clean."""
    cache.release_pins()
    spark.catalog.clearCache()
    yield


# The gate queries whose plans pin intermediates (LSH stages, the
# incremental index). Each must leave the cache manager empty once the
# consumer releases the pins.
_PINNING_QUERIES = [
    "x_dedup_minhash_lsh",
    "x_dedup_simhash",
    "x_dedup_index_incremental",
]


@pytest.mark.parametrize("name", _PINNING_QUERIES)
def test_dedup_gate_query_releases_all_pins(spark, name):
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, SF0001)
    assert df.collect() is not None
    released = cache.release_pins()
    assert released >= 1, f"{name}: expected at least one registered pin"
    assert cache.pinned_count() == 0
    assert _cache_empty(spark), f"{name}: cache manager not empty after release"


def test_release_pins_idempotent(spark, docs):
    staged = _staged_shingles(docs, "text", "doc_id", pin=True)
    staged.count()
    assert cache.release_pins() == 1
    assert cache.release_pins() == 0
    assert _cache_empty(spark)


@pytest.mark.parametrize(
    "stage",
    [
        lambda d: _staged_shingles(d, "text", "doc_id", pin=True),
        lambda d: _staged_simhash(d, "text", "doc_id"),
        lambda d: fingerprint(d),
    ],
    ids=["shingles_pinned", "simhash", "fingerprint"],
)
def test_arrow_stage_adds_no_shuffle_on_wide_input(spark, docs, stage):
    width = spark.sparkContext.defaultParallelism
    wide = docs.repartition(width + 3)
    out = stage(wide)
    try:
        # mapInPandas preserves partitioning; any repartition would
        # change the count to exactly `width`
        assert out.rdd.getNumPartitions() == width + 3
    finally:
        cache.release_pins()


@pytest.mark.parametrize(
    "stage",
    [
        lambda d: _staged_shingles(d, "text", "doc_id", pin=True),
        lambda d: _staged_simhash(d, "text", "doc_id"),
        lambda d: fingerprint(d),
    ],
    ids=["shingles_pinned", "simhash", "fingerprint"],
)
def test_arrow_stage_fans_out_narrow_input(spark, docs, stage):
    width = spark.sparkContext.defaultParallelism
    narrow = docs.coalesce(1)
    out = stage(narrow)
    try:
        assert out.rdd.getNumPartitions() == width
    finally:
        cache.release_pins()


def test_pin_scope_releases_only_its_own_pins(spark, docs):
    """r14 (ADVICE r13): the context-manager pin form for library
    callers — pins taken inside the scope are released on exit, pins
    that existed before it survive (scopes nest and compose with the
    gate's release-at-entry discipline), and release_pins() called
    inside a scope doesn't break the exit accounting."""
    outer = cache.pin(docs.select("doc_id"))
    outer.count()
    assert cache.pinned_count() == 1

    with cache.pin_scope():
        inner = _staged_shingles(docs.limit(50), "text", "doc_id")
        inner.count()
        assert cache.pinned_count() >= 2
    assert cache.pinned_count() == 1  # inner released, outer kept
    assert outer.storageLevel.useMemory  # the outer pin is still live

    # nesting: the inner scope's exit leaves the outer scope's pins
    with cache.pin_scope():
        a = cache.pin(docs.select("text"))
        a.count()
        with cache.pin_scope():
            b = cache.pin(docs.select("lang"))
            b.count()
            assert cache.pinned_count() == 3
        assert cache.pinned_count() == 2
    assert cache.pinned_count() == 1

    # release_pins() inside a scope empties everything; exit is a no-op
    with cache.pin_scope():
        cache.pin(docs.select("source")).count()
        assert cache.release_pins() == 2  # outer + this scope's pin
    assert cache.pinned_count() == 0
    assert _cache_empty(spark)


def test_pin_scope_survives_mid_scope_release(spark, docs):
    """r14 review: pins taken AFTER a release_pins() that ran inside
    the scope must still be released at exit — identity accounting,
    not a length watermark (a length index would leave them below the
    watermark and leak them)."""
    with cache.pin_scope():
        cache.release_pins()  # registry rewritten under the scope
        late = cache.pin(docs.select("doc_id"))
        late.count()
        assert cache.pinned_count() == 1
    assert cache.pinned_count() == 0
    assert not late.storageLevel.useMemory  # actually unpersisted
    assert _cache_empty(spark)


def test_pin_scope_holds_entry_pins_alive(spark, docs):
    """A scope keeps no record of the pins held when it opened: a
    release_pins() inside it releases those with the scope's own, and a
    pin taken after that release is still the scope's and is released
    at exit."""
    pre = cache.pin(docs.select("doc_id"))
    pre.count()
    with cache.pin_scope():
        assert cache.release_pins() == 1
        assert not pre.storageLevel.useMemory
        late = cache.pin(docs.select("text"))
        late.count()
        assert cache.pinned_count() == 1
    assert cache.pinned_count() == 0
    assert not late.storageLevel.useMemory
    assert _cache_empty(spark)


def test_pin_held_outside_a_stream_survives_it(spark, docs, tmp_path):
    """A stream batch releases only the pins it took: a frame pinned
    before a near-dedup admission stream runs is still cached and
    registered after the stream drains, while the LSH pins the batch
    took are gone."""
    import os

    from leftshove_spark.streaming import start_near_dedup_stream

    held = cache.pin(docs.select("doc_id"))
    held.count()
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    os.makedirs(landing)
    spark.createDataFrame(
        [(i, " ".join(f"tok{i} word{j}" for j in range(12))) for i in range(4)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(landing)
    q = start_near_dedup_stream(
        spark,
        landing_dir=landing,
        index_dir=str(tmp_path / "index"),
        out_dir=out,
        checkpoint_dir=str(tmp_path / "ck"),
        once=True,
    )
    assert q.awaitTermination(120), "admission stream did not drain"
    assert spark.read.parquet(out).count() == 4
    try:
        assert held.is_cached
        assert any(p is held for p in cache._PINNED)
        assert cache.pinned_count() == 1
    finally:
        cache.release_pins()


def _held_pin_outlives_stream(spark, docs, run_stream):
    """``run_stream()`` drains a stream while a frame pinned before it
    is held: afterwards the session has exactly the persisted RDDs it
    had before (the batch's pins are gone) and the held pin is still
    cached and registered."""
    held = cache.pin(docs.select("doc_id"))
    held.count()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    try:
        run_stream()
        assert jsc.getPersistentRDDs().size() == before
        assert held.storageLevel.useMemory
        assert any(p is held for p in cache._PINNED)
        assert cache.pinned_count() == 1
    finally:
        cache.release_pins()


def test_pin_held_outside_a_capture_stream_survives_it(spark, docs, tmp_path):
    from datetime import datetime

    from leftshove_spark.state import StateStore, TableState
    from leftshove_spark.streaming import start_stream_capture

    landing = str(tmp_path / "landing")
    spark.createDataFrame(
        [(i, datetime(2024, 1, 1 + i)) for i in range(4)], "id long, ts timestamp"
    ).coalesce(1).write.parquet(landing)
    state = StateStore()
    state.upsert(TableState(name="ev", dsn="0", nms_column="ts"))

    def run_stream():
        q = start_stream_capture(
            spark,
            name="ev",
            landing_dir=landing,
            sink_path=str(tmp_path / "sink"),
            checkpoint_dir=str(tmp_path / "ck"),
            nms_col="ts",
            state=state,
            once=True,
        )
        assert q.awaitTermination(120), "capture stream did not drain"
        assert spark.read.parquet(str(tmp_path / "sink")).count() == 4
        assert state.get("ev", "0").last_row_count == 4

    _held_pin_outlives_stream(spark, docs, run_stream)


def test_pin_held_outside_a_decontaminate_stream_survives_it(spark, docs, tmp_path):
    from leftshove_spark.sources import load_table
    from leftshove_spark.streaming import start_decontaminate_stream

    em = load_table(spark, SF0001, "embeddings").select("vec_id", "embedding")
    landing = str(tmp_path / "landing")
    bench_dir = str(tmp_path / "bench")
    quar = str(tmp_path / "quarantine")
    em.filter(F.col("vec_id") < 40).coalesce(1).write.parquet(landing)
    # the benchmark holds exact copies of two landed vectors
    em.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    ).write.parquet(bench_dir)

    def run_stream():
        q = start_decontaminate_stream(
            spark,
            landing_dir=landing,
            benchmark_emb_dir=bench_dir,
            out_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ck"),
            quarantine_dir=quar,
            threshold=0.9,
            dim=64,
            once=True,
        )
        assert q.awaitTermination(120), "decontaminate stream did not drain"
        assert spark.read.parquet(str(tmp_path / "out")).count() == 38
        assert spark.read.parquet(quar).count() == 2

    _held_pin_outlives_stream(spark, docs, run_stream)


def _in_thread_scope(pins: list):
    """Start a thread that opens a pin_scope, pins ``pins`` into it and
    holds the scope open until the returned ``leave`` event is set."""
    import threading

    entered, leave = threading.Event(), threading.Event()

    def batch():
        with cache.pin_scope():
            for df in pins:
                cache.pin(df).count()
            entered.set()
            leave.wait(60)

    t = threading.Thread(target=batch)
    t.start()
    assert entered.wait(60), "scope thread did not start"
    return t, leave


def test_scope_exit_keeps_another_threads_pin(spark, docs):
    """A pin the main thread takes while thread A is inside a pin_scope
    (a stream batch, say) is not A's: A's exit leaves it cached and in
    the root list, and releases only A's own pin."""
    own = docs.select("text")
    t, leave = _in_thread_scope([own])
    held = cache.pin(docs.select("doc_id"))
    held.count()
    leave.set()
    t.join(60)
    assert not t.is_alive()
    try:
        assert held.storageLevel.useMemory
        assert any(p is held for p in cache._PINNED)
        assert not own.storageLevel.useMemory
    finally:
        cache.release_pins()
    assert _cache_empty(spark)


def test_release_pins_leaves_another_threads_scope(spark, docs):
    """A main-thread release_pins() while thread A's scope is open
    releases the root list only: A's pin stays cached until A's exit
    releases it."""
    own = docs.select("text")
    t, leave = _in_thread_scope([own])
    try:
        assert cache.release_pins() == 0
        assert cache.pinned_count() == 0
        assert own.storageLevel.useMemory
    finally:
        leave.set()
        t.join(60)
    assert not t.is_alive()
    assert not own.storageLevel.useMemory
    assert _cache_empty(spark)


class _FakeFrame:
    """Stands in for a DataFrame in the registry race: records only
    whether it is persisted."""

    persisted = False

    def persist(self, level):
        self.persisted = True
        return self

    def unpersist(self, blocking=False):
        self.persisted = False
        return self


def test_pin_racing_release_is_released_or_kept():
    """Pinning threads racing releasing threads (a live stream's
    foreachBatch releases while operators beside it pin): every frame
    still persisted afterwards must still be registered, so the next
    release_pins() reaches it — a racing pin is released or kept, never
    dropped from the registry while persisted."""
    import sys
    import threading

    batches = [[_FakeFrame() for _ in range(5_000)] for _ in range(4)]

    def pinner(frames):
        for f in frames:
            cache.pin(f)

    done = threading.Event()

    def releaser():
        while not done.is_set():
            cache.release_pins()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads densely
    try:
        releasers = [threading.Thread(target=releaser) for _ in range(2)]
        pinners = [threading.Thread(target=pinner, args=(b,)) for b in batches]
        for t in releasers + pinners:
            t.start()
        for t in pinners:
            t.join(timeout=60)
        done.set()
        for t in releasers:
            t.join(timeout=60)
    finally:
        done.set()
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in releasers + pinners)
    frames = [f for b in batches for f in b]
    registered = {id(f) for f in cache._PINNED}
    leaked = [f for f in frames if f.persisted and id(f) not in registered]
    assert not leaked, f"{len(leaked)} persisted frames fell out of the registry"
    cache.release_pins()
    assert not any(f.persisted for f in frames)


def test_only_ext_cache_persists():
    """Every cached intermediate in the package is owned by ext.cache:
    no module outside it calls ``.persist(``, ``.unpersist(`` or
    ``.cache()``. (``localCheckpoint`` truncates lineage; it is no
    cache and stays allowed.)"""
    import ast
    from pathlib import Path

    import leftshove_spark

    root = Path(leftshove_spark.__file__).parent
    owner = root / "ext" / "cache.py"
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            ):
                continue
            attr = node.func.attr
            if attr in ("persist", "unpersist") or (
                attr == "cache" and not node.args and not node.keywords
            ):
                found.append(f"{path.relative_to(root)}:{node.lineno} .{attr}")
    assert not found, "persist outside ext.cache (use cache.pin / pin_scope):\n" + (
        "\n".join(found)
    )
