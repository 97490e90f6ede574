"""Pinned-intermediate lifecycle (r7 advice #6) + conditional fan-out
(r7 advice #5).

#6: the shingle/simhash Arrow stages persist their output because the
near-dup callers read it 2-3×; every pin now registers with
leftshove_spark.ext.cache so an owner can release it surgically. These
tests prove the contract: after a dedup gate query completes and the
owner calls release_pins(), the session's cache manager is empty — no
slow cache leak in a long-running engine process.

#5: the pre-Arrow-stage repartition exists only to fan a NARROW local
scan out to the cluster width; when the input is already cluster-wide
(the 100 TB case — the scan has >= width splits) no shuffle may be
added. Checked behaviorally: partition count passes through unchanged
for wide inputs, fans out to defaultParallelism for narrow ones.
"""

import pytest

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
    """ADVICE r14: the scope records entry-time pins as STRONG
    references, not bare id()s. If release_pins() inside the scope
    dropped the registry's reference and the DataFrame were collected,
    a later pin could reuse the freed id() and be misclassified as
    pre-existing at exit (leaked past the scope). Holding the objects
    makes id reuse impossible for the scope's lifetime."""
    import gc
    import weakref

    pre = cache.pin(docs.select("doc_id"))
    pre.count()
    ref = weakref.ref(pre)
    with cache.pin_scope() as scope:
        cache.release_pins()  # registry drops its reference
        del pre  # caller drops theirs too
        gc.collect()
        assert ref() is not None  # the scope itself keeps it alive
        assert any(ref() is b for b in scope._before)
        late = cache.pin(docs.select("text"))
        late.count()
    # the late pin was correctly classified as scope-owned and released
    assert cache.pinned_count() == 0
    assert not late.storageLevel.useMemory
    gc.collect()
    assert ref() is None  # exit drops the held references
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
