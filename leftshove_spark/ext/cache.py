"""Pinned-intermediate lifecycle: a session-wide registry so persisted
stage outputs have an OWNER that releases them.

The shingle / simhash signature stages persist their Arrow-stage output
because near-dup callers read it 2-3× (signature build + verification
joins) — without the pin each reference re-runs tokenize+md5 over the
whole corpus (420 s → 35 s for the minhash pipeline at sf0.1). But the
returned DataFrames are lazy, so the pin must outlive the operator call;
before r8 the only release path was a blanket ``spark.clearCache()``
(bench.py did; a long-running engine process would leak cache slowly —
SCALE.md known trade-off #1).

Every pin now registers here, and callers that finish consuming a
dedup/fingerprint result call :func:`release_pins` — surgical (only our
pins, not the caller's own cached tables) and idempotent.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_PINNED: list[DataFrame] = []
# Guards every read-modify-write of _PINNED: a live stream's
# foreachBatch thread calls release_pins() while other threads pin. A
# pin is registered after it is persisted, and a release takes the
# registry in one swap, so a racing pin() is either released by that
# release or left registered — never persisted and unregistered.
_LOCK = threading.Lock()


def pin(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    eager: bool = False,
) -> DataFrame:
    """Persist ``df`` and register it for later :func:`release_pins`.

    ``eager`` materializes the pin NOW with one count job. Use it when
    the first consuming action fans out into SEVERAL concurrent plan
    stages over the pin (AQE materializes independent exchanges as
    parallel jobs): against a still-cold pin each of those stages
    recomputes the pinned stage from scratch — measured 8 parallel
    34-task recomputations of the Arrow shingle stage (~0.33 s each)
    where the warm-cache read is 0.04 s. One eager pass turns that into
    compute-once + cached reads. Leave False (lazy) when the first
    consumer is a single serial stage (a seed sort, a lone aggregation)
    — it materializes the pin on its own without the extra read-back."""
    df.persist(level)
    with _LOCK:
        _PINNED.append(df)
    if eager:
        df.count()
    return df


def release_pins() -> int:
    """Unpersist every registered pin (non-blocking); returns how many
    were released. Safe to call at any time — an unpersisted stage
    recomputes if referenced again, it never breaks correctness."""
    with _LOCK:
        released = _PINNED[:]
        _PINNED.clear()
    for df in released:
        df.unpersist()
    return len(released)


def pinned_count() -> int:
    return len(_PINNED)


class pin_scope:
    """Context-manager form of the pin lifecycle (ADVICE r13) for
    LIBRARY callers outside the gate/bench convention: operators that
    pin intermediates (decontaminate(attribute=True), the LSH stages)
    leak one persist per call into a long-lived session unless the
    caller remembers :func:`release_pins`. Inside a scope, pins taken
    by the wrapped calls are released on exit — but only the pins the
    scope ADDED: pre-existing pins (an outer scope's, or a gate
    query's) survive, so scopes nest and compose with the gate's
    release-at-entry discipline.

        with cache.pin_scope():
            hits = decontaminate(corpus, bench, attribute=True)
            report = hits.groupBy(...).agg(...).collect()  # consume HERE
        # the attribution join's persist is released; `hits` remains a
        # valid lazy frame (it recomputes if referenced again)
    """

    def __enter__(self) -> "pin_scope":
        # IDENTITY accounting, not a length index: release_pins()
        # running inside the scope (an operator's own cleanup, or the
        # caller's) rewrites the registry under us, and pins taken
        # after it would land below a length watermark and silently
        # survive exit (r14 review). STRONG references, not bare id()s
        # (ADVICE r14): if release_pins() inside the scope dropped the
        # registry's reference and the DataFrame were collected, a
        # later pin could reuse the freed id() and be misclassified as
        # pre-existing on exit — holding the objects keeps every
        # recorded id() unique for the scope's lifetime.
        with _LOCK:
            self._before: list[DataFrame] = list(_PINNED)
        return self

    def __exit__(self, *exc) -> None:
        before_ids = {id(b) for b in self._before}
        with _LOCK:
            released = [df for df in _PINNED if id(df) not in before_ids]
            _PINNED[:] = [df for df in _PINNED if id(df) in before_ids]
        for df in released:
            df.unpersist()
        self._before = []
