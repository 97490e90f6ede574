"""ANN index ROTATION — generation-pointer cutover for retrained
vector indexes (VERDICT r15 next #2).

An IVFADC/PQ index is (codes parquet, frozen cents/books): a retrain
replaces ALL of it at once — new codebooks make old codes meaningless,
so a searcher must never see new codes with old books or a
half-written codes directory. The reference handles the analogous
problem with create-then-swap view cutovers (bigquery.go:187-207); an
engine that owns its storage needs the swap itself. This module is the
statestore manifest-flip discipline (statestore.py) reduced to the
whole-index-replacement case:

Layout::

    index_root/
      _generations/gen-0000000002.json         # the COMMIT POINTER
      gen-0000000001-3fa9c1d2/cell=.../*.parquet  # superseded → GC'd
      gen-0000000002-8be04711/cell=.../*.parquet  # current codes

Build directories are uuid-suffixed so concurrent rotations never
share one (the CAS loser removes only its OWN bytes). A pointer file
is the complete description of one index generation::

    {"gen": 2, "path": "gen-0000000002-8be04711",
     "meta": {"cents": ..., "books": ...}, "committed_at": <epoch sec>}

:func:`rotate_index` builds the next generation in its OWN directory
(invisible — no pointer resolves it), then flips the pointer via the
same fsync + CREATE-EXCLUSIVE link CAS the statestore uses: a searcher
resolving the index at ANY instant gets exactly one generation's codes
and THAT generation's codebooks, never a mix; two concurrent rotations
resolve to one winner (the loser raises
:class:`statestore.ConcurrentCommitError`, the store intact).
Superseded generations are removed only after BOTH ``keep_generations``
further rotations AND ``retention_sec`` wall-clock SINCE SUPERSESSION
(the next pointer's commit time, not the generation's own age) have
passed — a searcher that resolved the old pointer just before the flip
keeps scanning files that still exist (set ``retention_sec`` to the
longest expected search; same reader-grace contract as the statestore
GC).

Streaming composition: :func:`streaming.start_ivfadc_index_stream`
appends micro-batches into the CURRENT generation's directory
(:func:`current_index` resolves it at stream start). A retrain is:
build gen N+1 via :func:`rotate_index` (re-encoding the corpus with the
new codebooks), stop the maintainer, restart it pointed at the new
directory — in-flight searches on gen N finish on gen N's files.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..statestore import ConcurrentCommitError

_GEN_DIR = "_generations"


def _pointer_path(index_root: str, gen: int) -> str:
    return os.path.join(index_root, _GEN_DIR, f"gen-{gen:010d}.json")


def _list_pointers(index_root: str) -> list[int]:
    gdir = os.path.join(index_root, _GEN_DIR)
    if not os.path.isdir(gdir):
        return []
    return sorted(
        int(e[4:-5])
        for e in os.listdir(gdir)
        if e.startswith("gen-") and e.endswith(".json")
    )


def current_index(index_root: str, generation: int | None = None) -> dict | None:
    """Resolve a committed index generation — the current one by
    default, a retained older one when ``generation`` is given (a
    searcher that snapshotted the pointer before a cutover re-resolves
    its own generation). Returns the pointer dict with ``path``
    expanded to an absolute directory, or None when no generation was
    ever committed; raises KeyError for a requested generation that is
    not retained."""
    gens = _list_pointers(index_root)
    if not gens:
        if generation is not None:
            raise KeyError(f"{index_root} has no committed index generations")
        return None
    if generation is not None and generation not in gens:
        raise KeyError(
            f"index generation {generation} of {index_root} is not retained "
            f"(have {gens}); widen keep_generations/retention_sec on the "
            "rotation"
        )
    g = gens[-1] if generation is None else generation
    try:
        with open(_pointer_path(index_root, g), encoding="utf-8") as fh:
            ptr = json.load(fh)
    except FileNotFoundError:
        # TOCTOU with a concurrent rotation's GC (r16 review): the
        # pointer listed a moment ago was removed before the open —
        # surface the DOCUMENTED retention error, not a raw OSError
        raise KeyError(
            f"index generation {g} of {index_root} was garbage-"
            "collected between listing and read; widen "
            "keep_generations/retention_sec on the rotation"
        ) from None
    ptr["path"] = os.path.join(index_root, ptr["path"])
    return ptr


def read_index(
    spark: SparkSession, index_root: str, generation: int | None = None
) -> tuple[DataFrame, dict]:
    """The searcher entry point: resolve the pointer ONCE and return
    ``(codes, meta)`` — the codes scan over exactly that generation's
    directory plus the codebooks it was encoded with. A rotation
    committing concurrently changes nothing this read sees (its files
    survive the retention grace). Raises ValueError for an index that
    has never committed."""
    ptr = current_index(index_root, generation)
    if ptr is None:
        raise ValueError(
            f"{index_root} holds no committed index generation — build one "
            "with rotate_index first"
        )
    return spark.read.parquet(ptr["path"]), ptr.get("meta") or {}


def rotate_index(
    index_root: str,
    build_fn,
    meta: dict | None = None,
    keep_generations: int = 1,
    retention_sec: float = 600.0,
) -> int:
    """Cut the index over to a freshly-built generation. ``build_fn``
    is called with the new generation's directory path and must write
    the complete codes relation there (e.g.
    ``lambda d: ivfadc_encode(corpus, cents, books).write
    .partitionBy("cell").parquet(d)``); ``meta`` (JSON-serializable —
    typically ``{"cents": ..., "books": ...}``) rides the pointer so a
    searcher always pairs codes with the codebooks that produced them.
    Returns the committed generation number.

    Crash/race discipline (the statestore protocol, whole-index case):
    each build lands in its OWN uuid-suffixed directory (r16 review —
    a generation-keyed build dir let a racing loser delete the
    winner's committed data), so concurrent rotations never touch each
    other's bytes; the pointer flip is the statestore's shared CAS
    (:func:`statestore._commit_pointer` — CREATE-EXCLUSIVE link, or
    the MANIFEST_PUT_IF_ABSENT conditional put on object stores), so
    two rotations racing one root resolve to one winner; the loser
    raises :class:`statestore.ConcurrentCommitError`, removes only its
    OWN build directory, and the winner's generation is untouched. A
    crash during ``build_fn`` leaves the old pointer current and an
    unreferenced build dir that the next rotation's debris sweep
    removes past the age grace. Superseded generations are removed
    only past BOTH retention bounds measured from SUPERSESSION (see
    the module docstring)."""
    from .. import statestore as _ss

    os.makedirs(os.path.join(index_root, _GEN_DIR), exist_ok=True)
    gens = _list_pointers(index_root)
    gen = (gens[-1] + 1) if gens else 1
    rel = f"gen-{gen:010d}-{uuid.uuid4().hex[:8]}"
    target = os.path.join(index_root, rel)
    build_fn(target)
    ptr = {
        "gen": gen,
        "path": rel,
        "meta": meta or {},
        "committed_at": time.time(),
    }
    try:
        _ss._commit_pointer(
            _pointer_path(index_root, gen), json.dumps(ptr)
        )
    except ConcurrentCommitError:
        # the loser removes only its OWN build — the winner's directory
        # has a different uuid suffix and its pointer already resolves
        shutil.rmtree(target, ignore_errors=True)
        raise
    _gc(index_root, gen, keep_generations, retention_sec)
    return gen


def _gc(
    index_root: str, current_gen: int, keep_generations: int, retention_sec: float
) -> None:
    """Remove superseded index generations past BOTH retention bounds.
    The wall-clock bound is measured from SUPERSESSION — the commit
    time of the NEXT generation's pointer — not from the generation's
    own commit (r16 review: own-age gave a long-lived current
    generation ZERO reader grace the instant a retrain landed); a
    searcher that resolved the old pointer just before the flip keeps
    its files for ``keep_generations`` further rotations AND
    ``retention_sec`` seconds after the flip. Unreferenced build
    directories (crashed or CAS-losing rotations) are swept past the
    statestore orphan grace, aged by the newest mtime in their tree so
    an in-flight racer's Spark write is never reaped. Idempotent,
    best-effort (a crash mid-GC re-runs on the next rotation)."""
    from .. import statestore as _ss

    now = time.time()
    gens = _list_pointers(index_root)
    ptrs: dict[int, dict] = {}
    unreadable = False
    for g in gens:
        try:
            with open(_pointer_path(index_root, g), encoding="utf-8") as fh:
                ptrs[g] = json.load(fh)
        except (OSError, json.JSONDecodeError):
            # conservative on BOTH destructive paths (r16 review): an
            # unreadable pointer must never shorten a reader grace or
            # orphan a live directory
            ptrs[g] = None
            unreadable = True
    for i, g in enumerate(gens):
        if g >= current_gen or (current_gen - g) < max(1, keep_generations):
            continue
        if ptrs.get(g) is None:
            continue  # can't resolve its directory — leave both alone
        successor = gens[i + 1]  # exists: g < current_gen ≤ gens[-1]
        if ptrs.get(successor) is None:
            continue  # unknown supersession time ⇒ assume inside grace
        superseded_at = ptrs[successor].get("committed_at", 0.0)
        if (now - superseded_at) < retention_sec:
            continue
        rel = ptrs[g].get("path", f"gen-{g:010d}")
        shutil.rmtree(os.path.join(index_root, rel), ignore_errors=True)
        try:
            os.remove(_pointer_path(index_root, g))
        except FileNotFoundError:
            pass
        ptrs.pop(g, None)
    # sweep crash/CAS-loser debris: build dirs no retained pointer
    # references, past the age grace (tree-newest mtime — a racing
    # rotation's in-flight Spark write stays protected). Skipped
    # entirely while any retained pointer is unreadable — the
    # referenced set would be incomplete and a LIVE generation's
    # directory could be reaped as debris (r16 review).
    if not unreadable:
        referenced = {p.get("path") for p in ptrs.values() if p}
        for e in os.listdir(index_root):
            full = os.path.join(index_root, e)
            if (
                e.startswith("gen-")
                and os.path.isdir(full)
                and e not in referenced
                and (now - _ss._tree_newest_mtime(full))
                >= _ss.ORPHAN_SWEEP_GRACE_SEC
            ):
                shutil.rmtree(full, ignore_errors=True)
    # sweep orphan .part pointers — only past the age grace: a racing
    # rotation's in-flight part swept mid-commit would turn into a
    # spurious ConcurrentCommitError AND discard its finished build
    # (rotate_index has no retry), so young parts are sacrosanct
    # (r16 review)
    gdir = os.path.join(index_root, _GEN_DIR)
    for e in os.listdir(gdir):
        if ".part" in e and e.startswith("gen-"):
            p = os.path.join(gdir, e)
            try:
                if (now - os.path.getmtime(p)) >= _ss.ORPHAN_SWEEP_GRACE_SEC:
                    os.remove(p)
            except FileNotFoundError:
                pass


def knn_ivfadc_rotated(
    spark: SparkSession,
    index_root: str,
    queries: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 4,
    sub_dim: int | None = None,
    generation: int | None = None,
) -> DataFrame:
    """:func:`similarity.knn_ivfadc_codes` resolved through the
    rotation pointer: codes AND codebooks come from ONE committed
    generation, so a search issued before/during/after a retrain
    cutover scores old codes with old books or new codes with new
    books — never a mix. ``generation`` pins an older retained
    generation (a long-running search session re-resolving its own
    snapshot)."""
    from .similarity import PQ_SUB, knn_ivfadc_codes

    codes, meta = read_index(spark, index_root, generation)
    if "cents" not in meta or "books" not in meta:
        raise ValueError(
            f"{index_root}: the committed generation carries no "
            "cents/books meta — rotate_index(meta={'cents':..., "
            "'books':...}) is required for IVFADC search"
        )
    return knn_ivfadc_codes(
        codes,
        queries,
        meta["cents"],
        meta["books"],
        k=k,
        nprobe=nprobe,
        sub_dim=PQ_SUB if sub_dim is None else sub_dim,
    )
