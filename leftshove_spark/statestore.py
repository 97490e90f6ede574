"""Manifest-committed partitioned state store — atomic reader-visible
commits for the incrementally-maintained state tables (W18 history, W21
rollups, W22 corpus stats, W25 current state).

Problem (VERDICT r11 "What's missing #1"): the bucketed folds used to
commit via Spark's dynamic partition overwrite, which is not atomic
across partitions on plain parquet — a reader listing the directory
DURING a fold could see bucket A new + bucket B old, or a bucket
mid-rewrite. The reference never faces this because it delegates state
commits to BigQuery's atomic load jobs (bigquery.go:125-140); an engine
that owns its storage needs the commit protocol itself. This module is
that protocol — the same manifest-pointer discipline Delta/Iceberg use,
reduced to the two operations the folds need (replace a set of
partitions; read a consistent snapshot):

Layout::

    state_dir/
      _manifests/gen-0000000007.json   # the COMMIT POINTER (see below)
      data/__bucket=3/g0000000007-part-00000-<uuid>.parquet
      data/__bucket=5/g0000000004-part-00000-<uuid>.parquet

A manifest is the complete file listing of one table generation::

    {"gen": 7, "partition_col": "__bucket",
     "files": {"3": ["__bucket=3/g0000000007-part-...parquet"], ...},
     "garbage": ["__bucket=3/g0000000004-part-...parquet"],
     "schema": {"type": "struct", "fields": [...]}}

``schema`` is the read schema of the data columns (partition column
excluded), recorded by every commit and widened across evolutions at
every depth (a field added inside a struct merges in); it
is the store's only schema source — no read infers one from parquet
footers, and a manifest without it is refused.

Commit protocol (:func:`commit_fold`) — single writer, lock-free readers:

1. write the fold output to a scratch dir (a per-commit unique
   ``.fold_tmp-*``) — new bytes
   only, nothing a reader can resolve;
2. MOVE the new files beside the old ones under ``data/`` with a
   generation prefix (renames of unreferenced files — still invisible);
3. write ``gen-N.json`` via write-to-part + fsync + atomic
   CREATE-EXCLUSIVE link — THE commit point: readers resolve the
   highest complete manifest, so every read maps to exactly one
   generation's file set, never a mix. The exclusive create is also
   the WRITER FENCE: a second writer racing the same generation loses
   the link and raises :class:`ConcurrentCommitError`, store intact;
4. garbage-collect: a file replaced at generation G is deleted only
   once BOTH ``keep_generations`` further commits AND
   ``retention_sec`` wall-clock have passed (manifests are
   timestamped) — the generation grace keeps a reader that resolved
   generation N-1 *before* this commit scanning files that still
   exist, and the time bound protects readers slower than the commit
   cadence (set it to the longest expected scan).

Crash safety: a crash before step 3's link leaves the old manifest
current and only unreferenced orphan bytes on disk — removed by a
LATER commit's sweep of its touched partitions once past the
:data:`ORPHAN_SWEEP_GRACE_SEC` age grace (the grace keeps a racing
writer's in-flight files safe; its cost is that crash debris on a
partition never folded again persists as bounded dead bytes — one
crashed attempt's worth — rather than being swept by the immediate
retry); the link itself is atomic;
a crash after it re-runs only the idempotent GC. There is no
read-during-fold window at all — that is the point.

Contract: ONE writer per state_dir (the folds are driven by one
maintenance loop / one foreachBatch stream by construction — W26's
checkpointed trigger serializes them); readers need no coordination.
On a shared filesystem or object store with atomic rename (HDFS, local,
NFS) this holds as-is; on S3-style stores swap step 3 for a
conditional-put of the manifest key — the file layout is already
rename-free beneath the manifest.

Partition values are carried as the STRINGS Spark encodes into
partition directory names (``__bucket=3`` → ``"3"``); callers pass
``str(value)`` of int/date partition values, which match that encoding.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_TMP_DIR = ".fold_tmp"

# GC retention defaults (VERDICT r12 next #1 / ADVICE r12): a replaced
# file is deleted only once BOTH conditions hold —
#   (a) ≥ GC_KEEP_GENERATIONS further commits have happened, and
#   (b) ≥ GC_RETENTION_SEC wall-clock has passed since the commit that
#       replaced it (manifests are timestamped at commit).
# Generation-count grace alone gives a reader that resolved manifest
# N-1 a survival window of exactly the next TWO commit cadences — at a
# 20 s maintenance trigger a 40 s analytical scan can lose files
# mid-job. Time-based retention is the discipline every production
# table format pairs with manifest commits (Delta's vacuum horizon);
# deployments with long-running readers set `retention_sec` to their
# longest expected scan. Both knobs are per-call parameters of
# :func:`commit_fold` (threaded through the streaming maintainers);
# these module values are only the defaults.
#
# The default retention is NONZERO (r14, VERDICT r13 next #3): 0.0 made
# the out-of-box grace exactly the two-commit-cadence envelope the r12
# verdict flagged — a 20 s maintenance trigger gave an unsuspecting
# reader 40 s before its files vanished mid-scan. 600 s (one orphan-
# grace period) means any scan shorter than ten minutes survives ANY
# commit cadence with no tuning — safe by default, tunable to 0.0 for
# tests/ephemeral stores that want eager space reclaim (the same
# safe-by-default choice behind Delta's 7-day vacuum horizon).
GC_KEEP_GENERATIONS = 1
GC_RETENTION_SEC = 600.0

# Pre-flip orphan-sweep age grace (r13): the sweep deletes files in the
# touched partitions that no manifest references — crashed-commit
# debris. But a RACING writer's step-2 files are also momentarily
# unreferenced (they become referenced at its link moments later), and
# a stalled loser's sweep deleting them would let the winner commit a
# manifest pointing at deleted files — the one way the fence's "store
# intact" guarantee could break. Files younger than this grace are
# spared (a genuinely in-flight commit is seconds old; crashed debris
# survives one extra cycle and is swept by a later commit — delayed
# cleanup is harmless, deleting a winner's live files is not).
# Clock discipline (ADVICE r13): the age comparison reads 'now' from a
# PROBE FILE's mtime on the store's own filesystem (:func:`_fs_now`),
# not the sweeping process's clock — candidate mtimes were stamped by
# OTHER processes (racing writers, possibly other hosts), and on a
# network filesystem both sides of the comparison must come from the
# same stamping authority (the server), or writer-vs-sweeper clock skew
# larger than the grace re-opens the delete-a-live-writer race the
# grace exists to close. Residual assumption: ONE filesystem stamps all
# files of a store — true for local/NFS/HDFS mounts; S3-style stores
# replace this whole path with conditional-put (module docstring).
ORPHAN_SWEEP_GRACE_SEC = 600.0


# Optional OBJECT-STORE commit hook (r16, SCALE.md's one undischarged
# architectural assumption made pluggable): on stores without atomic
# CREATE-EXCLUSIVE link semantics (S3-style), set this to a callable
# ``put_if_absent(path: str, payload: str) -> None`` that performs an
# ATOMIC conditional put of the manifest key (S3 ``If-None-Match: *``,
# GCS ``ifGenerationMatch=0``) and raises :class:`FileExistsError` when
# the key already exists. :func:`_write_manifest` then routes the
# commit point — and ONLY the commit point — through it: the data
# layout beneath the pointer is already rename-free (scratch files are
# new keys; 'moves' become copies on such stores), so the conditional
# put is the complete swap the module docstring promises. The hook
# covers the COMMIT protocol; a full object-store deployment also needs
# listing/read adapters for the `_manifests/` prefix, which plain
# s3fs/gcs mounts provide.
MANIFEST_PUT_IF_ABSENT = None


class ConcurrentCommitError(RuntimeError):
    """Raised when :func:`commit_fold` detects a second writer racing
    the single-writer contract: the manifest flip found this commit's
    target generation already taken (or a higher one committed). The
    store is untouched by the loser — its moved files are unreferenced
    orphans swept by the next successful commit's pre-flip sweep."""


def bucket_expr(string_cols: list, n_buckets: int):
    """The ONE bucket-hash expression every maintainer and every lookup
    share: ``abs(crc32(concat_ws(US, cols))) % n``. Callers pass
    already-``cast("string")`` columns (maintainers cast the stored
    column; lookups cast a literal to the stored column's exact type
    first, so both render bytes identically — ADVICE r11: a Python
    ``str(v)`` re-implementation diverged on bool/float/timestamp).
    :func:`bucket_of` is its driver twin for the integral and string
    keys whose Python rendering is byte-identical."""
    return (
        F.abs(F.crc32(F.concat_ws("\x1f", *string_cols))) % n_buckets
    ).cast("int")


def bucket_of(parts: list[str | None], n_buckets: int) -> int:
    """:func:`bucket_expr` on the driver, over key values already
    rendered as Spark's ``cast(string)`` renders them (None for NULL).
    It hashes the same bytes: ``concat_ws`` skips NULLs, and crc32 is
    non-negative, so ``abs`` changes nothing."""
    joined = "\x1f".join(p for p in parts if p is not None)
    return zlib.crc32(joined.encode("utf-8")) % n_buckets


def _fs_now(state_dir: str) -> float:
    """'now' as the STORE's filesystem stamps it: the mtime of a fresh
    probe file created (and removed) inside ``state_dir``. Age checks
    against file mtimes written by OTHER processes must use the same
    stamping authority as those mtimes (see the clock-discipline note
    at :data:`ORPHAN_SWEEP_GRACE_SEC`); falls back to ``time.time()``
    when the dir is unwritable (a read-only mount has nothing to sweep
    anyway)."""
    probe = os.path.join(state_dir, f".clock-{uuid.uuid4().hex[:8]}.probe")
    try:
        with open(probe, "w", encoding="utf-8"):
            pass
        return os.path.getmtime(probe)
    except OSError:
        return time.time()
    finally:
        try:
            os.remove(probe)
        except OSError:
            pass


def _manifest_path(state_dir: str, gen: int) -> str:
    return os.path.join(state_dir, _MANIFEST_DIR, f"gen-{gen:010d}.json")


def _list_manifests(state_dir: str) -> list[int]:
    mdir = os.path.join(state_dir, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    gens = []
    for e in os.listdir(mdir):
        if e.startswith("gen-") and e.endswith(".json"):
            gens.append(int(e[4:-5]))
    return sorted(gens)


def load_manifest(state_dir: str, generation: int | None = None) -> dict | None:
    """Resolve a committed generation's manifest — the current one
    (highest complete manifest) by default, a specific retained one
    when ``generation`` is given. Returns None when the store has
    never committed; raises KeyError when the requested generation is
    not retained (GC'd past ``keep_generations`` / ``retention_sec``,
    or never committed — including a wiped/recreated store with no
    manifests at all: a caller pinning a generation MUST be told the
    history it tracked is gone, never handed None as if the store were
    merely fresh)."""
    gens = _list_manifests(state_dir)
    if not gens:
        if generation is not None:
            raise KeyError(
                f"{state_dir} has no committed generations to pin "
                f"(requested {generation})"
            )
        return None
    if generation is not None and generation not in gens:
        raise KeyError(
            f"generation {generation} of {state_dir} is not retained "
            f"(have {gens}); widen keep_generations/retention_sec on "
            "the maintainer to keep a longer history window"
        )
    g = gens[-1] if generation is None else generation
    with open(_manifest_path(state_dir, g), encoding="utf-8") as fh:
        return json.load(fh)


def list_generations(state_dir: str) -> list[int]:
    """Retained committed generations, ascending; the highest is
    current. Older ones are time-travel-readable via
    ``read_state(generation=...)`` within the SAME envelope as a slow
    reader (SCALE.md): generation G's file set is fully intact while
    the garbage of generations G+1..current is uncollected — with the
    default ``keep_generations=1`` that is exactly the previous
    generation until the next commit; widen the knobs for a longer
    audit window."""
    return _list_manifests(state_dir)


def changed_partitions(
    state_dir: str, since_gen: int, to_gen: int | None = None
) -> list[str]:
    """Partition values whose file sets DIFFER between two retained
    generations — the manifest-level change feed: a downstream
    incremental consumer that processed generation G re-reads ONLY
    these partitions at the current generation (O(touched) downstream
    work per maintenance commit, no change log, no full rescan).
    Membership is exact, not heuristic: a fold rewrites every file of
    each touched partition under a fresh commit tag, so file-list
    equality ⇔ the partition was untouched by every intervening fold.
    The tracking window IS the retention window (``since_gen`` must
    still be retained — raises KeyError past it; widen
    ``keep_generations`` on the maintainer to track further back)."""
    # load_manifest with a non-None generation returns a dict or
    # raises (unretained gen / wiped store) — no silent fallbacks here.
    # old loading successfully means manifests EXIST, so the second
    # load cannot return None even in its to_gen=None convenience form
    # (ADVICE r13: the legacy `if new is None` branch was unreachable).
    old = load_manifest(state_dir, since_gen)
    new = load_manifest(state_dir, to_gen)
    assert new is not None
    of, nf = old["files"], new["files"]
    return sorted(
        v
        for v in set(of) | set(nf)
        if of.get(v) != nf.get(v)
    )


def read_changed(
    spark: SparkSession,
    state_dir: str,
    since_gen: int,
    to_gen: int | None = None,
) -> DataFrame:
    """The rows of every partition :func:`changed_partitions` reports —
    the incremental-consumption read: after each maintenance commit a
    downstream job calls this with the last generation it processed
    and gets exactly the partitions that could have changed
    (well-typed empty relation when none did). Consumers that need
    deletes reconcile per partition (the returned partitions' new
    content REPLACES their old content — the same replace-by-partition
    contract the folds commit under).

    The SYNC PROTOCOL needs ``to_gen``: snapshot
    ``gen = list_generations(dir)[-1]`` FIRST, read with
    ``to_gen=gen``, then record ``seen_gen = gen``. Without the pin, a
    fold committing between this read and the consumer's own
    generation bookkeeping would leave that fold's partitions neither
    in this read nor in the next sync's diff — permanently stale
    replica buckets, silently. With the pin, both the partition list
    and the scanned files resolve against the SAME retained
    generation. ``to_gen=None`` keeps the convenience form for
    one-shot reads where the caller does no generation bookkeeping —
    and even that form snapshots the current generation ONCE
    internally, so a fold committing mid-call can
    never tear the partition list from the scanned files: the
    difference from passing ``to_gen`` yourself is only WHOSE
    bookkeeping records the generation, never consistency."""
    if to_gen is None:
        gens = list_generations(state_dir)
        # empty ⇒ fall through: changed_partitions raises the same
        # KeyError load_manifest(since_gen) raises on a wiped store
        if gens:
            to_gen = gens[-1]
    return read_state(
        spark,
        state_dir,
        partition_values=changed_partitions(
            state_dir, since_gen, to_gen=to_gen
        ),
        generation=to_gen,
    )


def _write_manifest(state_dir: str, manifest: dict) -> None:
    """THE commit point: fsync'd write + atomic CREATE-EXCLUSIVE link.
    Isolated in its own function so tests can interpose a reader (or a
    crash) exactly between the file moves and the pointer flip.

    The link (not rename) is the writer fence (VERDICT r12 next #5):
    ``os.link`` fails with FileExistsError when the target generation
    was already committed by a racing writer — a compare-and-swap on
    the generation number, so two folds racing one state_dir resolve
    to exactly one winner; the loser raises
    :class:`ConcurrentCommitError` with the store intact (rename would
    have silently clobbered the winner's pointer). On S3-style stores
    this maps to a conditional-put of the manifest key.

    Two fence holes the bare link leaves open are closed here (r13):

    - a loser stalled long enough for the racing winner to commit
      ``keep_generations + 1`` FURTHER times finds its target
      generation's manifest already GC'd — its link would SUCCEED and
      the write be silently lost (readers resolve the higher
      generation). The pre-link highest-generation check turns that
      into the loud :class:`ConcurrentCommitError`; the residual
      check-to-link window needs the winner to complete MULTIPLE full
      commits within it, strictly narrower than the stall the hole
      requires.
    - a racing winner's post-commit ``.part`` sweep can delete this
      writer's in-flight part between fsync and link; the resulting
      ``FileNotFoundError`` is mapped to :class:`ConcurrentCommitError`
      (only another writer's sweep removes a foreign part — the
      single-writer contract is already violated)."""
    os.makedirs(os.path.join(state_dir, _MANIFEST_DIR), exist_ok=True)
    path = _manifest_path(state_dir, manifest["gen"])
    existing = _list_manifests(state_dir)
    if existing and existing[-1] >= manifest["gen"]:
        raise ConcurrentCommitError(
            f"generation {existing[-1]} of {state_dir} is already "
            f"committed, past this fold's target {manifest['gen']} "
            "(single-writer contract violated); this fold's output is "
            "unreferenced and will be swept"
        )
    _commit_pointer(path, json.dumps(manifest))


def _commit_pointer(path: str, payload: str) -> None:
    """THE shared pointer-flip CAS: fsync'd part write + atomic
    CREATE-EXCLUSIVE link — or, when :data:`MANIFEST_PUT_IF_ABSENT` is
    installed, one atomic conditional put of the key. Shared between
    state-store manifests (:func:`_write_manifest`) and ANN index
    rotations (ext/annindex.py), so the object-store swap and every
    protocol fix apply to BOTH commit points (r16 review — the inline
    duplicate left index cutovers on os.link semantics object stores
    don't provide). Raises :class:`ConcurrentCommitError` on a lost
    CAS: the key already present, or this writer's part file swept by
    a racing winner's GC (only another writer's sweep removes a
    foreign part)."""
    if MANIFEST_PUT_IF_ABSENT is not None:
        try:
            MANIFEST_PUT_IF_ABSENT(path, payload)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"{path} was committed by another writer (conditional "
                "put found the key already present): this writer's "
                "output is unreferenced and will be swept"
            ) from None
        return
    part = f"{path}.{uuid.uuid4().hex[:8]}.part"
    with open(part, "w", encoding="utf-8") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(part, path)
    except (FileExistsError, FileNotFoundError) as e:
        try:
            os.remove(part)
        except FileNotFoundError:
            pass
        raise ConcurrentCommitError(
            f"{path} was committed by another writer "
            f"({type(e).__name__} at the link): this writer's output "
            "is unreferenced and will be swept"
        ) from None
    try:
        # the link SUCCEEDED — the commit is durable regardless of the
        # part's fate; a racing writer's .part sweep may have removed
        # it already and must not turn a committed fold into an error
        os.remove(part)
    except FileNotFoundError:
        pass


def _gc(
    state_dir: str,
    current_gen: int,
    keep_generations: int | None = None,
    retention_sec: float | None = None,
    _now: float | None = None,
) -> None:
    """Post-commit sweep (idempotent, best-effort). A file replaced at
    generation G (listed in manifest G's ``garbage``) is deleted at
    commit N only when BOTH retention conditions hold:

    - ``N - G ≥ keep_generations`` — a reader that resolved G-1 just
      before G's flip scans files that manifest G-1 references, and
      those appear only in garbage(G), so each kept generation extends
      the grace by one commit cadence;
    - ``now - committed_at(G) ≥ retention_sec`` — the WALL-CLOCK bound
      (VERDICT r12 next #1): generation counting alone ties the reader
      grace to the commit cadence, which a fast maintenance loop can
      shrink under a long analytical scan. Manifests written before
      the timestamp existed read as age ∞ (legacy behavior preserved).

    A manifest file is dropped only after its garbage is processed AND
    it is older than ``current_gen - keep_generations`` — readers
    resolve the highest manifest, so retained old manifests are inert
    (they only carry garbage lists awaiting retention)."""
    keep = GC_KEEP_GENERATIONS if keep_generations is None else keep_generations
    ret = GC_RETENTION_SEC if retention_sec is None else retention_sec
    now = time.time() if _now is None else _now
    data = os.path.join(state_dir, _DATA_DIR)
    for gen in _list_manifests(state_dir):
        if gen >= current_gen:
            continue
        try:
            with open(_manifest_path(state_dir, gen), encoding="utf-8") as fh:
                m = json.load(fh)
        except (OSError, json.JSONDecodeError):
            m = {}
        if (current_gen - gen) < keep:
            continue
        if (now - m.get("committed_at", 0.0)) < ret:
            continue
        for rel in m.get("garbage", []):
            try:
                os.remove(os.path.join(data, rel))
            except FileNotFoundError:
                pass
        if gen < current_gen - keep:
            try:
                # two sanctioned writers (a fold and a maintenance
                # pass, r16) can run _gc concurrently — losing the
                # remove race must not crash a commit that already
                # landed (r16 review #2)
                os.remove(_manifest_path(state_dir, gen))
            except FileNotFoundError:
                pass
    mdir = os.path.join(state_dir, _MANIFEST_DIR)
    for e in os.listdir(mdir):
        if e.endswith(".part"):
            p = os.path.join(mdir, e)
            try:
                # age guard (r16 review #2): a CONCURRENT sanctioned
                # writer's in-flight part must not be swept mid-commit
                # — its loss maps to a spurious ConcurrentCommitError.
                # Crash debris just waits one grace period.
                if (now - os.path.getmtime(p)) >= ORPHAN_SWEEP_GRACE_SEC:
                    os.remove(p)
            except FileNotFoundError:
                pass


def _live_set(state_dir: str) -> set[str]:
    """Every data-relative path ANY retained manifest references —
    current files AND garbage awaiting retention. This is THE
    definition of 'not an orphan' for both sweeps (the per-commit
    pre-flip sweep and :func:`vacuum_orphans`); keeping it in one
    place means a manifest-format change cannot make the two sweeps
    disagree about what is deletable (r14 review)."""
    live: set[str] = set()
    for gen in _list_manifests(state_dir):
        try:
            with open(_manifest_path(state_dir, gen), encoding="utf-8") as fh:
                m = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        for rels in m.get("files", {}).values():
            live.update(rels)
        live.update(m.get("garbage", []))
    return live


def _tree_newest_mtime(root: str) -> float:
    """The newest mtime anywhere under ``root`` (the root itself
    included). A directory's own mtime only changes when its DIRECT
    entries change — a Spark job writing deep under
    ``.fold_tmp/_temporary/...`` for longer than the sweep grace
    leaves the top-level dir looking old while the write is very much
    alive; age must be measured against the most recent activity in
    the tree (r14 review — the directory analog of the move-time
    re-stamp)."""
    newest = 0.0
    try:
        newest = os.path.getmtime(root)
    except OSError:
        pass
    for dp, dns, fns in os.walk(root):
        for e in dns + fns:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(dp, e)))
            except OSError:
                pass
    return newest


def _sweep_orphans(
    state_dir: str,
    pcol: str | None,
    partition_values: list[str],
    exempt: set[str],
) -> None:
    """Remove files in the given partitions that no live manifest
    references and that are not in ``exempt`` (the files the in-flight
    commit just moved) — debris from a commit that crashed between the
    file moves and the manifest rename. Scoped to the partitions this
    commit touches, so the sweep is O(touched), not O(table). Files
    younger than :data:`ORPHAN_SWEEP_GRACE_SEC` are spared — they may
    be a RACING writer's step-2 output about to be referenced by its
    own flip (see the constant's comment); crashed debris just waits
    one grace period for a later commit's sweep. 'now' comes from the
    store's own filesystem (:func:`_fs_now`), not this process's
    clock — see the clock-discipline note at the grace constant."""
    now = _fs_now(state_dir)
    data = os.path.join(state_dir, _DATA_DIR)
    live: set[str] = set(exempt) | _live_set(state_dir)
    for v in partition_values:
        pdir = os.path.join(data, f"{pcol}={v}") if pcol else data
        if not os.path.isdir(pdir):
            continue
        for e in os.listdir(pdir):
            rel = f"{pcol}={v}/{e}" if pcol else e
            if e.endswith(".parquet") and rel not in live:
                p = os.path.join(pdir, e)
                try:
                    if (now - os.path.getmtime(p)) < ORPHAN_SWEEP_GRACE_SEC:
                        continue
                    os.remove(p)
                except FileNotFoundError:
                    pass


def vacuum_orphans(
    state_dir: str, grace_sec: float | None = None
) -> list[str]:
    """Offline maintenance sweep over the WHOLE store (VERDICT r13
    what's-wrong #1): remove every data file that no retained manifest
    references, across ALL partitions, sparing files younger than the
    grace — plus stale ``.fold_tmp*`` scratch dirs past the same grace
    (commits that crashed during their step-1 Spark writes).

    The per-commit pre-flip sweep is deliberately scoped to the
    partitions that commit touches, so crash debris on a partition
    never folded again persists as bounded dead bytes — and a
    crash-LOOP on a hot partition can stack several attempts' worth
    before each grace expires. This entry point caps both: run it any
    time, offline or as the vacuum half of every :func:`maintain_store`
    pass (``Engine.maintain_state``); committed generations
    are untouched by construction (the live set spans every retained
    manifest's files AND garbage), and a concurrently racing writer's
    in-flight files are spared by the same age grace — measured on the
    store's filesystem clock (:func:`_fs_now`) — that protects them
    from the pre-flip sweep. Returns the store-relative paths removed.

    A directory with no manifests is left alone: there is no commit
    pointer to define 'referenced' against."""
    if not _list_manifests(state_dir):
        return []
    grace = ORPHAN_SWEEP_GRACE_SEC if grace_sec is None else grace_sec
    now = _fs_now(state_dir)
    live = _live_set(state_dir)
    removed: list[str] = []
    data = os.path.join(state_dir, _DATA_DIR)
    for dirpath, dirnames, filenames in os.walk(data):
        # keep col=value partition dirs whatever their prefix (the
        # engine's own partition column is __bucket); prune only
        # metadata/staging dirs
        dirnames[:] = [
            d
            for d in dirnames
            if "=" in d or not d.startswith(("_", "."))
        ]
        for f in filenames:
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, data)
            if rel in live:
                continue
            try:
                if (now - os.path.getmtime(p)) < grace:
                    continue
                os.remove(p)
                removed.append(os.path.join(_DATA_DIR, rel))
            except FileNotFoundError:
                pass
    # age each scratch dir by the NEWEST mtime in its tree, not the top
    # dir's — a live fold's Spark write keeps creating files deep under
    # _temporary/ while the top-level mtime stays at creation time, so
    # a >grace-long write would otherwise look like old debris and its
    # in-flight scratch would be deleted mid-write (r14 review). Every
    # .fold_tmp* entry is a candidate: commits use per-commit unique
    # scratch names (r16), and the legacy shared name still sweeps.
    for e in sorted(os.listdir(state_dir)):
        if not e.startswith(_TMP_DIR):
            continue
        tmp = os.path.join(state_dir, e)
        if os.path.isdir(tmp) and (now - _tree_newest_mtime(tmp)) >= grace:
            shutil.rmtree(tmp, ignore_errors=True)
            removed.append(e)
    return removed


def compaction_plan(
    state_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict[str, int]:
    """Which partitions :func:`compact_partitions` would rewrite, and
    into how many files — the dry-run half, so a maintenance loop can
    inspect/log before paying the rewrite. A partition qualifies when
    its live file count is ``>= min_files`` AND rewriting at
    ``target_file_bytes`` would actually REDUCE its file count (a
    10-file partition already at 10× the target gains nothing from a
    rewrite and is skipped). Returns
    ``{partition_value: target_file_count}``; empty for a directory
    with no manifest."""
    m = load_manifest(state_dir)
    if m is None:
        return {}
    data = os.path.join(state_dir, _DATA_DIR)
    plan: dict[str, int] = {}
    for v, rels in m["files"].items():
        if len(rels) < max(min_files, 2):
            continue
        size = sum(os.path.getsize(os.path.join(data, rel)) for rel in rels)
        n = max(1, -(-size // target_file_bytes)) if target_file_bytes > 0 else 1
        if n < len(rels):
            plan[v] = n
    return plan


def _decode_partition_value(v: str):
    """Manifest key (the directory-ENCODED partition string Spark wrote:
    path-escaped, NULL = ``__HIVE_DEFAULT_PARTITION__``) → the raw value
    whose re-encoding by ``partitionBy`` reproduces the SAME directory
    name. Spark's escaping is %XX on a fixed char set with ``%`` itself
    escaped, so canonical directory names round-trip through a plain
    URL-unquote. Returns None for the NULL sentinel (``F.lit(None)``
    re-renders it)."""
    if v == "__HIVE_DEFAULT_PARTITION__":
        return None
    from urllib.parse import unquote

    return unquote(v)


_TASK_ID_MEMO: dict[int, list[int]] = {}


def _injective_task_ids(spark: SparkSession, total: int) -> list[int]:
    """``total`` bigints whose Spark hash-partitioning residues mod
    ``total`` are pairwise distinct — ``repartition(total, tid)`` on
    them puts each distinct tid in its OWN task. Found by probing
    ``F.hash`` (the same Murmur3 HashPartitioning applies) over a
    synthesized range and keeping the first id per residue: one tiny
    aggregate job, O(total) collected rows. Position ``i`` of the
    result is the id for residue ``i``. Memoized per ``total`` (r16):
    the table is a pure function of the integer — Murmur3 over
    ``range(k)`` sees no data, no conf — so repeat compactions skip
    the probe job."""
    if total <= 1:
        return [0] * total
    if total in _TASK_ID_MEMO:
        return _TASK_ID_MEMO[total]
    k = 64 * total
    for _ in range(4):
        probe = (
            spark.range(k)
            .select(
                F.pmod(F.hash(F.col("id")), F.lit(total)).alias("r"),
                F.col("id"),
            )
            .groupBy("r")
            .agg(F.min("id").alias("tid"))
            .collect()
        )
        if len(probe) == total:
            by_r = {row["r"]: row["tid"] for row in probe}
            _TASK_ID_MEMO[total] = [by_r[r] for r in range(total)]
            return _TASK_ID_MEMO[total]
        k *= 8  # coupon-collector tail — practically unreachable
    raise RuntimeError(
        f"could not find {total} hash-distinct task ids in {k} probes"
    )


def compact_partitions(
    spark: SparkSession,
    state_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    keep_generations: int | None = None,
    retention_sec: float | None = None,
    _pre_commit_hook=None,
) -> dict[str, int]:
    """Small-file maintenance: rewrite fragmented partitions into
    ~``target_file_bytes`` files as ONE ordinary fenced commit — the
    OPTIMIZE/compaction analog for this store. A fold's write lands
    one file per (write task × touched partition): at cluster scale
    the fold output arrives through a wide shuffle, so every touched
    partition fragments into up-to-shuffle-width small files in a
    single fold, and the scan cost becomes file-open-bound long before
    it is byte-bound. Contents are
    untouched BY CONSTRUCTION: the selected partitions' rows are read
    pinned to the current generation and committed back verbatim
    through :func:`commit_fold`, so the writer fence, GC retention
    (readers pinned to pre-compaction generations keep scanning the
    old files until BOTH retention bounds pass), time travel, and the
    change feed all apply unchanged. Downstream :func:`sync_state`
    replicas see the compacted partitions as changed (the feed's
    file-list contract) and converge on identical values.

    Layout inside a rewritten partition is a deterministic content
    salt — ``pmod(xxhash64(data columns), n)`` — so the output file
    count is reproducible and independent of the input task layout.
    The selection is read at the manifest's recorded schema, so an old
    narrow partition compacted beside an evolved one is rewritten at
    that schema (missing columns NULL) — exactly what any read through
    :func:`read_state` already returns for it.
    Returns the executed plan (``{partition_value: target_file_count}``;
    empty = nothing qualified, no commit made). Raises
    :class:`ConcurrentCommitError` like any fold if a writer races the
    compaction; the store is left intact."""
    plan = compaction_plan(state_dir, target_file_bytes, min_files)
    if not plan:
        return {}
    m = load_manifest(state_dir)
    gen, pcol = m["gen"], m["partition_col"]
    touched = sorted(plan)
    total = sum(plan.values())
    if pcol:
        # Exact group→task routing. The selection is ONE pruned read
        # with the partition column typed as an explicit STRING — never
        # let discovery TYPE it (p=01 alone infers int 1; rewriting
        # through partitionBy would then re-render it canonically and
        # silently re-key the partition). Rows get their (base, n) by a
        # null-safe broadcast join against the DECODED manifest key,
        # never the raw one: directory names are path-escaped (':' →
        # '%3A') and NULL is a sentinel dir (→ NULL string →
        # eqNullSafe), so matching the raw key would drop those
        # partitions' rows and commit_fold would then DELETE them. Every
        # manifest key is a directory name Spark's own partitionBy
        # wrote, and its escaping ('%' itself → '%25', uppercase hex)
        # decodes injectively, so no two keys share a route.
        #
        # Each row's global ordinal = base + a deterministic content
        # salt pmod(xxhash64(data cols), n). A plain hash repartition
        # on the ordinal collides ~1/e of the groups into shared tasks
        # (birthday problem), silently merging files the plan promised
        # to split — and range partitioning balances by ROW COUNT, not
        # distinct ordinals, so uneven groups merge too. Instead, each
        # ordinal maps to a task id probed to a DISTINCT Spark hash
        # residue mod ``total``: repartition then puts every group in
        # its own task, landing exactly the planned file count at
        # ~target_file_bytes each.
        from pyspark.sql.types import StringType, StructField

        from .schema import type_contains_map

        str_schema = StructType(
            list(manifest_schema(state_dir, m).fields)
            + [StructField(pcol, StringType())]
        )
        df = read_state(
            spark,
            state_dir,
            partition_values=touched,
            generation=gen,
            _manifest=m,
            _schema=str_schema,
        )
        route_rows, base = [], 0
        for v in touched:
            route_rows.append((_decode_partition_value(v), base, int(plan[v])))
            base += plan[v]
        rdf = spark.createDataFrame(
            route_rows, "__cp_k string, __cp_base bigint, __cp_n bigint"
        )
        df = df.join(
            F.broadcast(rdf),
            F.col(pcol).eqNullSafe(F.col("__cp_k")),
            "inner",
        ).drop("__cp_k")
        tids = _injective_task_ids(spark, total)
        odf = spark.createDataFrame(
            list(enumerate(tids)), "__cp_ord int, __cp_tid long"
        )
        data_cols = [
            c
            for c in df.columns
            if c not in (pcol, "__cp_base", "__cp_n")
        ]
        # xxhash64 rejects map-bearing inputs — salt their to_json
        # proxy instead (the dedup proxy pattern, _maintain_bucketed_state)
        salt_in = [
            F.to_json(F.col(c))
            if type_contains_map(df.schema[c].dataType)
            else F.col(c)
            for c in data_cols
        ]
        df = (
            df.withColumn(
                "__cp_ord",
                (
                    F.col("__cp_base")
                    + F.pmod(F.xxhash64(*salt_in), F.col("__cp_n"))
                ).cast("int"),
            )
            .join(F.broadcast(odf), "__cp_ord", "inner")
            .repartition(total, F.col("__cp_tid"))
            .drop("__cp_base", "__cp_n", "__cp_ord", "__cp_tid")
        )
    else:
        df = read_state(
            spark, state_dir, partition_values=touched, generation=gen, _manifest=m
        ).repartition(total)
    if _pre_commit_hook is not None:
        _pre_commit_hook()  # test seam: interpose a racing fold here
    commit_fold(
        spark,
        state_dir,
        df,
        pcol,
        touched,
        keep_generations=keep_generations,
        retention_sec=retention_sec,
        # the read above pinned generation `gen`: committing over a
        # LATER base would silently revert a racing fold's touched
        # partitions to their pinned-gen contents (a lost update) —
        # commit_fold re-checks the base and raises
        # ConcurrentCommitError instead, store intact
        expected_base_gen=gen,
        _maintenance=True,
    )
    return plan


def commit_fold(
    spark: SparkSession,
    state_dir: str,
    out: DataFrame,
    partition_col: str | None,
    touched_values: list[str],
    keep_generations: int | None = None,
    retention_sec: float | None = None,
    expected_base_gen: int | None = None,
    _maintenance: bool = False,
) -> None:
    """Atomically replace the ``touched_values`` partitions with ``out``
    (which must carry ``partition_col`` and only touched partitions'
    rows — and MAY read from the store's current files: they are not
    moved, only superseded). Untouched partitions carry over
    byte-identical by reference. ``keep_generations`` /
    ``retention_sec`` bound how long replaced files outlive their
    replacement (None = the module defaults; see the GC constants).
    Raises :class:`ConcurrentCommitError` — store intact — when a
    racing writer violates the single-writer contract. See the module
    docstring for the protocol.

    ``expected_base_gen`` pins the commit to a read snapshot: a caller
    that derived ``out`` from generation G passes G, and the commit
    then lands as EXACTLY G+1 or raises — a racer committing
    G+1 first is caught either by the pre-write base check here or by
    the manifest link's generation CAS, never silently overwritten with
    data pinned to the older generation. Pass 0 to assert the store has
    never committed. ``_maintenance`` stamps the manifest as a
    contents-preserving rewrite (compaction) — the marker
    :func:`commit_fold_retrying` consults to decide a lost race is safe
    to retry over.

    Raises ValueError — before anything is written, store and
    generation unchanged — when ``out``'s data columns retype a
    recorded column non-wideningly (``v string`` then ``v long``): no
    single read schema could open both generations' files."""
    cur = load_manifest(state_dir)
    if cur is not None and cur.get("partition_col") != partition_col:
        raise ValueError(
            f"state store {state_dir} is partitioned by "
            f"{cur.get('partition_col')!r}, not {partition_col!r}"
        )
    if expected_base_gen is not None:
        cur_gen = cur["gen"] if cur else 0
        if cur_gen != expected_base_gen:
            raise ConcurrentCommitError(
                f"{state_dir} is at generation {cur_gen}, not the "
                f"expected base {expected_base_gen} this fold's read "
                "pinned — a writer raced between the read and the "
                "commit; nothing was written"
            )
    gen = (cur["gen"] + 1) if cur else 1
    # the read schema this commit records, checked BEFORE any write:
    # out's data columns, widened against the recorded schema (relaxed
    # too: a store may have recorded nested non-null flags)
    written = _relax_nullability(
        StructType([f for f in out.schema.fields if f.name != partition_col])
    )
    prev = _relax_nullability(manifest_schema(state_dir, cur)) if cur else None
    try:
        widened = _widen_schema(prev, written) if prev else written
    except ValueError as e:
        raise ValueError(
            f"state store {state_dir}: {e}; nothing was written"
        ) from None
    data = os.path.join(state_dir, _DATA_DIR)
    # a UNIQUE scratch dir per commit: the sanctioned
    # concurrent writers — a maintenance compaction racing a live fold
    # — would otherwise share (and rmtree / cross-read) one
    # .fold_tmp, failing the fold with FileNotFoundException instead
    # of the fence, or worse moving each other's files under the wrong
    # commit tag. A crashed commit's scratch is swept by
    # vacuum_orphans past the age grace (every .fold_tmp* entry).
    tmp = os.path.join(state_dir, f"{_TMP_DIR}-{uuid.uuid4().hex[:8]}")

    # 1. materialize the fold output in scratch — reader-invisible
    w = out.write.mode("overwrite")
    if partition_col:
        w = w.partitionBy(partition_col)
    w.parquet(tmp)

    # 2. move new files beside the old under data/ (still invisible)
    new_files: dict[str, list[str]] = {}
    commit_tag = f"g{gen:010d}-{uuid.uuid4().hex[:8]}"
    if partition_col:
        part_dirs = [
            e for e in os.listdir(tmp) if e.startswith(f"{partition_col}=")
        ]
    else:
        part_dirs = [""]
    for pd in part_dirs:
        src_dir = os.path.join(tmp, pd) if pd else tmp
        dst_dir = os.path.join(data, pd) if pd else data
        os.makedirs(dst_dir, exist_ok=True)
        value = pd.split("=", 1)[1] if pd else ""
        rels = []
        for f in sorted(os.listdir(src_dir)):
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            new_name = f"{commit_tag}-{f}"
            dst = os.path.join(dst_dir, new_name)
            os.rename(os.path.join(src_dir, f), dst)
            # re-stamp mtime to the MOVE time: rename preserves the
            # scratch-write stamp, so a fold whose Spark write took
            # longer than ORPHAN_SWEEP_GRACE_SEC would move files that
            # already look old — and a racing loser's sweep would
            # delete them as debris despite the grace.
            # Age must measure time-since-entry-into-data/, not
            # time-since-write.
            os.utime(dst, None)
            rels.append(f"{pd}/{new_name}" if pd else new_name)
        new_files[value] = rels
    shutil.rmtree(tmp, ignore_errors=True)

    # 3. the commit point: next generation's manifest
    files = dict(cur["files"]) if cur else {}
    garbage: list[str] = []
    for v in {str(t) for t in touched_values} | set(new_files):
        garbage.extend(files.get(v, []))
        rels = new_files.get(v, [])
        if rels:
            files[v] = rels
        else:
            files.pop(v, None)
    # a commit that wrote no files keeps the recorded schema — except
    # the first, which has none to keep
    schema = widened if prev is None or any(new_files.values()) else prev
    manifest = {
        "gen": gen,
        "partition_col": partition_col,
        "files": files,
        "garbage": garbage,
        "committed_at": time.time(),
        "schema": schema.jsonValue(),
    }
    if _maintenance:
        manifest["maintenance"] = True
    # pre-flip orphan sweep: files a CRASHED commit moved into the
    # touched partitions but never referenced, exempting the files this
    # commit just moved (bounded to this commit's partitions). Swept
    # over the UNION of touched and written partitions: a
    # touched partition whose fold output is empty — a pure deletion —
    # appears in touched_values but not new_files, and a crashed prior
    # attempt's orphans there must still be removed.
    _sweep_orphans(
        state_dir,
        partition_col,
        sorted({str(t) for t in touched_values} | set(new_files)),
        {rel for rels in new_files.values() for rel in rels},
    )
    _write_manifest(state_dir, manifest)

    # 4. deferred GC of replaced files past BOTH retention bounds
    _gc(state_dir, gen, keep_generations, retention_sec)


def commit_fold_retrying(
    spark: SparkSession,
    state_dir: str,
    out: DataFrame,
    partition_col: str | None,
    touched_values: list[str],
    keep_generations: int | None = None,
    retention_sec: float | None = None,
    retries: int = 2,
    backoff_sec: float = 0.5,
) -> None:
    """:func:`commit_fold` for folds that may legitimately race
    CONTENTS-PRESERVING maintenance (VERDICT r15 next #1): the one
    sanctioned concurrent writer on a live store is the maintenance
    loop (:func:`maintain_store` — compaction rewrites the same rows
    into fewer files), and a fold losing the generation CAS to it must
    not kill the streaming query that drives the fold. On
    :class:`ConcurrentCommitError` this inspects the generations
    committed since the fold started: if EVERY one carries the
    ``maintenance`` stamp (written only by :func:`compact_partitions`),
    the racer changed no row values, so re-running the commit — same
    ``out`` plan, re-materialized against the new base generation — is
    value-identical and safe; it retries after ``backoff_sec``. Any
    unstamped intervening generation means a second DATA writer raced
    (a genuine single-writer-contract violation) and the error
    re-raises loudly, exactly as the plain fold would. ``out`` must
    read the store (if at all) through pinned paths
    (:func:`read_state` snapshots do), so a retry re-scans the same
    files — GC retention keeps them live through the maintenance
    commit that displaced them."""
    base = load_manifest(state_dir)
    base_gen = base["gen"] if base else 0
    for attempt in range(retries + 1):
        try:
            # pin every attempt to the base this wrapper last inspected
            # (r16 review #2): without the pin, a DATA writer slipping
            # in during the backoff would be reloaded as the base and
            # silently overwritten — the lost-update class
            # expected_base_gen exists to close. With it, any commit
            # landing after the inspection makes this attempt raise,
            # and the stamp check below decides retry vs re-raise.
            commit_fold(
                spark,
                state_dir,
                out,
                partition_col,
                touched_values,
                keep_generations=keep_generations,
                retention_sec=retention_sec,
                expected_base_gen=base_gen,
            )
            return
        except ConcurrentCommitError:
            since = [g for g in _list_manifests(state_dir) if g > base_gen]
            all_maintenance = bool(since)
            for g in since:
                try:
                    mg = load_manifest(state_dir, g)
                except KeyError:
                    mg = None
                if not (mg or {}).get("maintenance"):
                    all_maintenance = False  # a DATA writer raced
                    break
            if attempt >= retries or not all_maintenance:
                raise
            base_gen = max(since)
            time.sleep(backoff_sec)


def maintain_store(
    spark: SparkSession,
    state_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 8,
    keep_generations: int | None = None,
    retention_sec: float | None = None,
    vacuum_grace_sec: float | None = None,
    retries: int = 1,
    backoff_sec: float = 0.5,
    _pre_commit_hook=None,
) -> dict:
    """One maintenance pass over a live store — compaction plus orphan
    vacuum — with the CIVILIZED loss discipline a maintenance loop
    racing a live fold writer needs (VERDICT r15 next #1): compaction
    is contents-preserving, so losing the generation CAS to a
    concurrent fold costs nothing but the rewrite — catch the
    :class:`ConcurrentCommitError`, back off, re-plan against the new
    generation, and after ``retries`` losses DEFER to the next
    maintenance cycle rather than surfacing an error (the fold always
    wins; maintenance is best-effort by design). The inverse race —
    the FOLD losing to a maintenance commit — is handled on the fold
    side by :func:`commit_fold_retrying` via the ``maintenance``
    manifest stamp. Together the two make
    compact-while-streaming a supported deployment: every commit is
    still one fenced generation CAS; no locks, no coordination beyond
    the manifest.

    Returns ``{"compacted": plan, "lost_races": n, "vacuumed": [...]}``
    — ``compacted`` empty when nothing qualified OR every attempt lost
    (distinguish via ``lost_races``). No-op (all-empty result) for
    stores with no manifest yet."""
    out = {"compacted": {}, "lost_races": 0, "vacuumed": []}
    if not _list_manifests(state_dir):
        return out
    hook = _pre_commit_hook
    for attempt in range(retries + 1):
        try:
            out["compacted"] = compact_partitions(
                spark,
                state_dir,
                target_file_bytes=target_file_bytes,
                min_files=min_files,
                keep_generations=keep_generations,
                retention_sec=retention_sec,
                _pre_commit_hook=hook,
            )
            break
        except ConcurrentCommitError:
            out["lost_races"] += 1
            hook = None  # the seam provokes at most the first attempt
            if attempt >= retries:
                break  # defer to the next maintenance cycle
            time.sleep(backoff_sec)
    out["vacuumed"] = vacuum_orphans(state_dir, grace_sec=vacuum_grace_sec)
    return out


def _relax_nullability(dt):
    """``dt`` with every nullability flag true at every depth (struct
    fields, array elements, map values) and field metadata dropped —
    the form a manifest records. Reading non-null data as nullable is
    always safe, and a parquet read reports top-level columns nullable
    whatever the writer declared, so two writes that differ only in
    declared nullability (``array<bigint>`` with and without
    ``containsNull``) never count as a retype."""
    from pyspark.sql.types import ArrayType, MapType, StructField

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _relax_nullability(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_relax_nullability(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _relax_nullability(dt.keyType),
            _relax_nullability(dt.valueType),
            True,
        )
    return dt


def _widen_schema(prev, new, path: str = ""):
    """The read schema that opens files written at both ``prev`` and
    ``new``, merged at every depth: struct fields match by name (prev's
    order kept, new-only fields appended — a field added inside a
    struct surfaces as NULL in older files), array elements and map
    keys and values merge the same way, and a leaf keeps the WIDER type
    (schema.is_widening's lossless ladder). Raises ValueError naming
    the (dotted) column on a non-widening retype."""
    from pyspark.sql.types import ArrayType, MapType, StructField

    from .schema import widen_types

    if prev == new:
        return prev
    if isinstance(prev, StructType) and isinstance(new, StructType):
        by_name = {f.name: f for f in new.fields}
        out = []
        for f in prev.fields:
            nf = by_name.pop(f.name, None)
            dt = f.dataType if nf is None else _widen_schema(
                f.dataType, nf.dataType, f"{path}{f.name}."
            )
            out.append(StructField(f.name, dt, True))
        out.extend(by_name[f.name] for f in new.fields if f.name in by_name)
        return StructType(out)
    if isinstance(prev, ArrayType) and isinstance(new, ArrayType):
        return ArrayType(
            _widen_schema(prev.elementType, new.elementType, f"{path}element."),
            True,
        )
    if isinstance(prev, MapType) and isinstance(new, MapType):
        return MapType(
            _widen_schema(prev.keyType, new.keyType, f"{path}key."),
            _widen_schema(prev.valueType, new.valueType, f"{path}value."),
            True,
        )
    try:
        return widen_types(prev, new)
    except ValueError:
        raise ValueError(
            f"column {path.rstrip('.')} is recorded as "
            f"{prev.simpleString()} and cannot widen to "
            f"{new.simpleString()}"
        ) from None


def manifest_schema(state_dir: str, m: dict) -> StructType:
    """The read schema of manifest ``m``'s data columns (partition
    column excluded) — the store's only schema source. Raises
    ValueError naming ``state_dir`` for a manifest that records none:
    such a store predates schema recording and is not readable."""
    if m.get("schema") is None:
        raise ValueError(
            f"{state_dir}: generation {m['gen']} records no read schema; "
            "the store predates schema recording and must be rebuilt "
            "(delete the state dir and re-run the fold)"
        )
    return StructType.fromJson(m["schema"])


def read_state(
    spark: SparkSession,
    state_dir: str,
    partition_values: list[str] | None = None,
    generation: int | None = None,
    _manifest: dict | None = None,
    _schema=None,
) -> DataFrame:
    """Snapshot read: resolve the current manifest ONCE and scan exactly
    that generation's files — a fold committing concurrently changes
    nothing this read sees (its files survive one further generation).
    ``partition_values`` prunes to the named partitions *before Spark
    ever lists a file* — stronger than partition-filter pruning: the
    scan's file list IS the pruned set. The read schema is the one the
    manifest records (:func:`manifest_schema`), so no read infers it
    from parquet footers and every selection reads at the same shape:
    columns added after a file was written surface as NULL in it, and
    widened types up-cast. A directory with no manifest, or whose
    manifest records no schema, is not a readable store: the read
    raises ValueError naming it.

    ``generation`` pins the read to a RETAINED older generation (time
    travel for audits/debug: 'what did the state look like before that
    fold?'); the readable window is :func:`list_generations` — raises
    KeyError past it (widen ``keep_generations``/``retention_sec`` on
    the maintainer for a longer window)."""
    # ``_manifest`` lets callers reuse their already-pinned manifest;
    # ``_schema`` overrides the recorded schema (compaction reads the
    # partition column as a string)
    m = _manifest if _manifest is not None else load_manifest(state_dir, generation)
    if m is None:
        raise ValueError(f"{state_dir} has no committed state manifest")
    schema = manifest_schema(state_dir, m) if _schema is None else _schema
    data = os.path.join(state_dir, _DATA_DIR)
    sel = m["files"]
    if partition_values is not None:
        want = {str(v) for v in partition_values}
        sel = {v: rels for v, rels in sel.items() if v in want}
    paths = [os.path.join(data, rel) for rels in sel.values() for rel in rels]
    reader = spark.read.schema(schema)
    if m["partition_col"]:
        reader = reader.option("basePath", data)
    if not paths:
        # empty selection (or empty table): read ONE committed file
        # (limit 0) so callers get a well-typed empty relation with the
        # partition column's true derived type
        first = next((rels[0] for rels in m["files"].values() if rels), None)
        if first is None:
            raise ValueError(f"state store {state_dir} holds no data")
        return reader.parquet(os.path.join(data, first)).limit(0)
    return reader.parquet(*paths)


def _arrow_readable(dt) -> bool:
    """Whether every leaf of ``dt`` is a type a driver-side pyarrow read
    returns as Spark's parquet reader does: numbers, plain strings,
    binary, booleans, dates and timestamps, inside structs, arrays and
    maps. A schema with any other leaf keeps its reads on Spark."""
    from pyspark.sql import types as T

    if isinstance(dt, StructType):
        return all(_arrow_readable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _arrow_readable(dt.elementType)
    if isinstance(dt, T.MapType):
        return _arrow_readable(dt.keyType) and _arrow_readable(dt.valueType)
    if isinstance(dt, T.StringType):
        return dt == T.StringType()  # a collated string compares differently
    return isinstance(
        dt,
        (
            T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType, T.BinaryType,
            T.DateType, T.TimestampType, T.TimestampNTZType,
        ),
    )


def _same_clock(at, dt, ft=None) -> bool:
    """Whether a file's Arrow type ``at`` stores timestamps the way the
    read type ``dt`` reads them, at every depth: an instant (tz-aware,
    as TIMESTAMP_MICROS is written) for TIMESTAMP, a wall clock (naive)
    for TIMESTAMP_NTZ. A naive value read as TIMESTAMP is an instant
    only when ``ft``, the type Spark wrote the file's column as, says
    TIMESTAMP: Spark writes INT96 (its default output type) as a naive
    UTC instant. Without that record the read stays on Spark."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if pa.types.is_timestamp(at):
        if isinstance(dt, T.TimestampNTZType):
            return at.tz is None
        return at.tz is not None or isinstance(ft, T.TimestampType)
    if pa.types.is_struct(at) and isinstance(dt, StructType):
        want = {f.name: f.dataType for f in dt.fields}
        wrote = (
            {f.name: f.dataType for f in ft.fields}
            if isinstance(ft, StructType) else {}
        )
        fields = [at.field(i) for i in range(at.num_fields)]
        return all(
            f.name not in want or _same_clock(f.type, want[f.name], wrote.get(f.name))
            for f in fields
        )
    if pa.types.is_list(at) and isinstance(dt, T.ArrayType):
        return _same_clock(
            at.value_type, dt.elementType, getattr(ft, "elementType", None)
        )
    if pa.types.is_map(at) and isinstance(dt, T.MapType):
        return _same_clock(
            at.key_type, dt.keyType, getattr(ft, "keyType", None)
        ) and _same_clock(at.item_type, dt.valueType, getattr(ft, "valueType", None))
    return True  # any other shape mismatch fails the cast instead


def _written_type(t, name: str):
    """The Spark type column ``name`` of the pyarrow table ``t`` was
    written as, from the row schema Spark stores in every parquet
    footer it writes; None for a file another writer made."""
    raw = (t.schema.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if raw is None:
        return None
    written = StructType.fromJson(json.loads(raw))
    return written[name].dataType if name in written.names else None


# Spark stamps files written in the LEGACY (Julian) calendar with these
# keys; their dates and timestamps need Spark's rebase
_LEGACY_CALENDAR_KEYS = {b"org.apache.spark.legacyDateTime", b"org.apache.spark.legacyINT96"}


def read_partition_arrow(state_dir: str, m: dict, value, row_filter):
    """Partition ``value`` of manifest ``m`` read on the driver with
    pyarrow, launching no Spark job: only the rows matching the pyarrow
    expression ``row_filter``, conformed to the manifest's read schema
    as :func:`read_state` reads it (a column missing from a file reads
    as NULL, a widened type is cast; the partition column is left out).
    An empty partition gives an empty table of that schema. Returns
    None when a type or a file is outside what this read renders
    exactly (:func:`_arrow_readable`, :func:`_same_clock`, a
    legacy-calendar file, a cast Arrow refuses); the caller then reads
    with Spark. INT96 timestamps read at microseconds, Spark's own
    precision."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = manifest_schema(state_dir, m)
    if not _arrow_readable(schema):
        return None
    target = to_arrow_schema(schema)
    data = os.path.join(state_dir, _DATA_DIR)
    tables = []
    try:
        for rel in m["files"].get(str(value), []):
            t = pq.read_table(
                os.path.join(data, rel), filters=row_filter, partitioning=None,
                coerce_int96_timestamp_unit="us",
            )
            if _LEGACY_CALENDAR_KEYS & set(t.schema.metadata or {}):
                return None
            cols = []
            for af, sf in zip(target, schema.fields):
                if af.name not in t.column_names:
                    cols.append(pa.nulls(t.num_rows, af.type))
                    continue
                c = t.column(af.name)
                if not _same_clock(c.type, sf.dataType) and not _same_clock(
                    c.type, sf.dataType, _written_type(t, af.name)
                ):
                    return None
                cols.append(c.cast(af.type))
            tables.append(pa.Table.from_arrays(cols, schema=target))
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
        return None
    # an empty table of one empty chunk per column: createDataFrame
    # refuses a struct-of-timestamp column with no chunks at all
    if not any(t.num_rows for t in tables):
        return target.empty_table()
    return pa.concat_tables(tables)


_SYNC_GEN_FILE = "_SYNC_GEN"
_SYNC_SCHEMA_FILE = "_SYNC_SCHEMA"


def _schema_key(schema) -> str:
    """Order- and nullability-insensitive schema identity for the
    replica drift check: sorted (name, type) pairs. Nullability and
    field order jitter across parquet round-trips and merge order;
    neither changes what a plain replica read returns."""
    return json.dumps(
        sorted((f.name, f.dataType.simpleString()) for f in schema.fields)
    )


def _recorded_schema(replica_dir: str):
    """The StructType the replica was last uniformly written with
    (``_SYNC_SCHEMA``), or None for a pre-marker replica / unreadable
    marker (both force one full re-clone, which re-records it)."""
    try:
        with open(
            os.path.join(replica_dir, _SYNC_SCHEMA_FILE), encoding="utf-8"
        ) as fh:
            return StructType.fromJson(json.loads(fh.read()))
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _replica_holds_data(replica_dir: str) -> bool:
    """True when ``replica_dir`` contains at least one parquet data
    file — the cheap 'this replica has actually been cloned' probe the
    no-op fast path gates on (ADVICE r15): a caller-supplied
    ``last_gen`` equal to the current generation must not skip the
    clone against a missing/wiped replica, or the skip would mint an
    empty replica that every marker-driven sync thereafter treats as
    current. Walk with early exit; staging/metadata dirs pruned."""
    if not os.path.isdir(replica_dir):
        return False
    for dirpath, dirnames, filenames in os.walk(replica_dir):
        dirnames[:] = [
            d for d in dirnames if "=" in d or not d.startswith(("_", "."))
        ]
        for f in filenames:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                return True
    return False


def last_synced_generation(replica_dir: str) -> int | None:
    """The generation :func:`sync_state` last brought ``replica_dir``
    to, or None for a replica that has never completed a sync (the
    marker is written only AFTER every partition landed — a crash
    mid-sync leaves the previous marker, so the next sync re-applies
    from there and converges)."""
    try:
        with open(
            os.path.join(replica_dir, _SYNC_GEN_FILE), encoding="utf-8"
        ) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return None


def sync_state(
    spark: SparkSession,
    state_dir: str,
    replica_dir: str,
    last_gen: int | None = None,
) -> int:
    """Bring a plain-parquet REPLICA of a manifest state store up to the
    store's current generation — the change-feed CONSUMER helper:
    incremental when the feed window allows, full re-clone when it
    doesn't, with no retention-protocol knowledge required of the
    caller. Returns the generation synced to; the same value is
    persisted in the replica (``_SYNC_GEN``), so the normal loop is
    just ``sync_state(spark, state_dir, replica)`` per maintenance
    wave — ``last_gen`` overrides the marker for callers doing their
    own generation bookkeeping.

    Protocol (the :func:`read_changed` pinned-sync protocol, packaged):

    1. snapshot ``gen = list_generations(state_dir)[-1]`` ONCE — every
       read below pins to it, so a fold committing mid-sync changes
       nothing this sync sees;
    2. no ``last_gen`` (fresh replica) → full clone; ``last_gen ==
       gen`` → no-op;
    3. otherwise replace exactly the partitions
       :func:`changed_partitions` reports between the two generations
       — each through its own crash-recoverable staged swap
       (sinks.rewrite_dir_staged), partitions the diff reports deleted
       removed outright; KeyError (``last_gen`` fell out of retention
       during a maintenance pause — statestore GC) → full re-clone
       instead of an error surfaced to the consumer. A lapse landing
       MID-sync (an eager-reclaim maintainer commits past the pinned
       generation between snapshot and read) resolves one of two ways,
       neither needing caller involvement: the pinned files are
       already gone → FileNotFound → re-snapshot + full re-clone this
       sync; or they still exist (replaced files outlive replacement
       one further generation) → the sync completes as a CONSISTENT
       snapshot of the pinned generation and the next sync, unable to
       diff against the lapsed marker, full-resyncs. Schema drift is
       one comparison: the manifest's recorded schema against the one
       the replica was uniformly written with (``_SYNC_SCHEMA``).
       Equal → incremental, and every partition read returns that
       shape (a narrow partition of a long-evolved store comes back
       NULL-padded); different (the store evolved) or missing → a
       full re-clone at the store's schema, because a mixed-schema
       replica makes a plain ``spark.read.parquet(replica)`` silently
       drop columns the sampled footer lacks;
    4. only after every partition landed, atomically advance the
       replica's marker. A crash anywhere re-syncs from the OLD marker
       next call — partition replacement is idempotent, so the replica
       converges rather than tearing.

    The replica is Hive-partitioned by the store's partition column
    (``spark.read.parquet(replica_dir)`` reads it back with partition
    discovery); an unpartitioned store degenerates to a full staged
    rewrite per sync — the whole table is its one partition. Per sync
    the work is O(touched partitions): one pruned file-list read + one
    swap per changed partition, never a rescan of untouched ones."""
    from .sinks import recover_staged, rewrite_dir_staged

    if last_gen is None:
        last_gen = last_synced_generation(replica_dir)

    def _retention_shaped(e: BaseException) -> bool:
        # a generation this sync pinned fell out of retention MID-SYNC
        # (a fast maintainer running eager-reclaim knobs committed past
        # it between the snapshot and a read): manifest-level lapses
        # raise KeyError; a pinned scan losing its files mid-job
        # surfaces as Spark's FileNotFound family. Both mean the same
        # thing — re-snapshot and re-clone — and surfacing either would
        # leak the retention protocol this helper exists to hide. The
        # FileNotFound heuristic is scoped to the SOURCE store: the
        # message must reference state_dir, so a replica-side
        # FileNotFoundError (rewrite_dir_staged against a missing or
        # misconfigured replica path) surfaces on its FIRST occurrence
        # instead of being silently retried as full re-clones.
        if isinstance(e, KeyError):
            return True
        s = str(e)
        if not (
            "FileNotFound" in s
            or "FILE_NOT_FOUND" in s
            or "PATH_NOT_FOUND" in s
        ):
            return False
        # path-boundary match on the RESOLVED source path, not a raw
        # substring: '/a/state' is a substring of
        # '/a/state_replica', and a relative 'state' matches inside
        # 'replica_state/...' — both would re-mask replica-side errors
        # as retention lapses. A hit must start at a path boundary and
        # end at one.
        ap = os.path.abspath(state_dir).rstrip("/")
        i = s.find(ap)
        while i != -1:
            before_ok = i == 0 or not (s[i - 1].isalnum() or s[i - 1] in "._-")
            j = i + len(ap)
            after_ok = j == len(s) or not (s[j].isalnum() or s[j] in "._-")
            if before_ok and after_ok:
                return True
            i = s.find(ap, i + 1)
        return False

    # both schemas cover DATA columns only: the partition column never
    # reaches the replica's data files
    recorded = _recorded_schema(replica_dir)
    rec_key = _schema_key(recorded) if recorded is not None else None
    schema = None
    full_cloned = False
    for attempt in range(3):
        gens = _list_manifests(state_dir)
        if not gens:
            raise ValueError(
                f"{state_dir} has no committed generations to sync from"
            )
        gen = gens[-1]
        if last_gen == gen:
            # already current — a genuine no-op: skip all data work,
            # still refresh the marker below so callers relying on it
            # converge. Trust a CALLER-supplied claim only when the
            # replica actually holds a prior sync: against a
            # missing/wiped replica_dir the skip would still stamp a
            # _SYNC_GEN marker, minting an empty replica every later
            # marker-driven sync treats as current. An empty replica
            # of a store that itself holds no data is consistent —
            # only a data-bearing store forces the clone.
            if (
                last_synced_generation(replica_dir) is not None
                or _replica_holds_data(replica_dir)
                or not (load_manifest(state_dir, gen) or {}).get("files")
            ):
                break
            last_gen = None  # empty replica claiming currency → clone
        try:
            m = load_manifest(state_dir, gen)
            pcol = m["partition_col"]
            schema = manifest_schema(state_dir, m)
            # incremental only when the replica was uniformly written
            # at the store's current read schema: every partition read
            # returns that shape, so the replica stays uniform and a
            # plain spark.read.parquet(replica) never meets a footer
            # lacking a column. A replica with no marker or an older
            # schema (the store evolved) is re-cloned whole.
            touched: list[str] | None = None
            if last_gen is not None and _schema_key(schema) == rec_key:
                try:
                    touched = changed_partitions(
                        state_dir, last_gen, to_gen=gen
                    )
                except KeyError:
                    touched = None  # retention lapsed → full re-clone
            if touched is None:
                full_cloned = True
                rewrite_dir_staged(
                    read_state(spark, state_dir, generation=gen, _manifest=m),
                    replica_dir,
                    partition_by=[pcol] if pcol else None,
                )
            for v in touched or []:
                pdir = (
                    os.path.join(replica_dir, f"{pcol}={v}")
                    if pcol
                    else replica_dir
                )
                if v in m["files"]:
                    part = read_state(
                        spark,
                        state_dir,
                        partition_values=[v],
                        generation=gen,
                        _manifest=m,
                    )
                    rewrite_dir_staged(part.drop(pcol) if pcol else part, pdir)
                else:
                    # the diff says the partition was deleted
                    recover_staged(pdir)
                    shutil.rmtree(pdir, ignore_errors=True)
            break
        except Exception as e:
            if attempt < 2 and _retention_shaped(e):
                last_gen = None  # next attempt re-snapshots + re-clones
                continue
            raise
    os.makedirs(replica_dir, exist_ok=True)
    # schema marker first: a crash between the two writes leaves the
    # OLD generation marker with the new schema — the next sync
    # re-applies from the old marker, and a stale compare can only err
    # toward a full re-clone, never toward a torn replica. Rewritten
    # after EVERY full clone (its root swap displaces the old marker to
    # trash) and whenever the file is missing (an unpartitioned store's
    # incremental swap is also a root swap).
    spath = os.path.join(replica_dir, _SYNC_SCHEMA_FILE)
    if schema is not None and (full_cloned or not os.path.exists(spath)):
        sp = f"{spath}.{uuid.uuid4().hex[:8]}.part"
        with open(sp, "w", encoding="utf-8") as fh:
            fh.write(json.dumps(schema.jsonValue()))
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(sp, spath)
    marker = os.path.join(replica_dir, _SYNC_GEN_FILE)
    part_path = f"{marker}.{uuid.uuid4().hex[:8]}.part"
    with open(part_path, "w", encoding="utf-8") as fh:
        fh.write(str(gen))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(part_path, marker)
    return gen


def has_state(state_dir: str) -> bool:
    """True when the store has a committed manifest holding data."""
    m = load_manifest(state_dir)
    return m is not None and bool(m["files"])
