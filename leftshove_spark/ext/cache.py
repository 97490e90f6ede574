"""The one owner of every persisted intermediate in the package.

Operators persist a stage output when its callers read it more than
once: the shingle / simhash signature stages feed both the signature
build and the verification joins, and without the cache each reference
re-runs tokenize+md5 over the whole corpus (420 s → 35 s for the
minhash pipeline at sf0.1). The returned frames are lazy, so the cache
has to outlive the operator call, and something other than the
operator has to drop it. Every persist therefore goes through
:func:`pin`, and every pin belongs to exactly one owner:

- the innermost open :class:`pin_scope` of the calling context, whose
  exit releases exactly the pins taken in it. Scopes nest, and the
  open scopes live in a ``contextvars.ContextVar``, so one thread's
  scope (a stream's ``foreachBatch`` batch, say) never holds or
  releases another thread's pins;
- the root list ``_PINNED``, when no scope is open. :func:`release_pins`
  releases the root together with the calling context's open scopes;
  gate queries and the bench call it between runs.

Release is surgical (only pinned frames, never a caller's own cached
tables) and idempotent: a released frame recomputes if referenced
again, it never breaks correctness.
"""

from __future__ import annotations

import threading
from contextvars import ContextVar

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_PINNED: list[DataFrame] = []
# The calling context's open scopes, innermost last. A tuple, so a
# scope pushed in one context is never seen by another.
_SCOPES: ContextVar[tuple[list[DataFrame], ...]] = ContextVar(
    "pin_scopes", default=()
)
# Guards every read-modify-write of a pin list: the root list is shared
# by every thread. A pin is registered after it is persisted, and a
# release empties each list in one swap, so a racing pin() is either
# released by that release or left registered — never persisted and
# unregistered.
_LOCK = threading.Lock()


def _release(lists: list[list[DataFrame]]) -> int:
    with _LOCK:
        released = [df for pins in lists for df in pins]
        for pins in lists:
            pins.clear()
    for df in released:
        df.unpersist()
    return len(released)


def pin(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    eager: bool = False,
) -> DataFrame:
    """Persist ``df`` and register it with the innermost open
    :class:`pin_scope`, or with the root list when none is open.

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
    scopes = _SCOPES.get()
    with _LOCK:
        (scopes[-1] if scopes else _PINNED).append(df)
    if eager:
        df.count()
    return df


def release_pins() -> int:
    """Unpersist (non-blocking) the root pins and the pins of the
    calling context's open scopes; returns how many were released.
    Another thread's open scopes keep theirs."""
    return _release([_PINNED, *_SCOPES.get()])


def pinned_count() -> int:
    """How many pins :func:`release_pins` would release right now."""
    with _LOCK:
        return sum(len(pins) for pins in [_PINNED, *_SCOPES.get()])


class pin_scope:
    """Owns the pins taken while it is open in the calling context and
    releases exactly those on exit. Pins taken before it, by an outer
    scope, or by another thread stay.

        with cache.pin_scope():
            hits = decontaminate(corpus, bench, attribute=True)
            report = hits.groupBy(...).agg(...).collect()  # consume HERE
        # the attribution join's persist is released; `hits` remains a
        # valid lazy frame (it recomputes if referenced again)
    """

    def __enter__(self) -> "pin_scope":
        self._pins: list[DataFrame] = []
        self._token = _SCOPES.set((*_SCOPES.get(), self._pins))
        return self

    def __exit__(self, *exc) -> None:
        _SCOPES.reset(self._token)
        _release([self._pins])
