"""Sinks — append-only snapshot sink + JSON-lines file sink.

The reference routes captured rows to one of two sinks (OUTPUT_TYPE,
benthos.go:85-105): a BigQuery batch-append load (S2, benthos.go:110-144 —
NDJSON, WRITE_APPEND, CREATE_NEVER, batching by count/bytes/period) or a
line-delimited JSON file (S3, benthos.go:95-104). Our engine's default
sink is append-mode parquet (columnar, splittable — what you want a
100 TB CDC archive stored as); the NDJSON sink is kept for parity.

Scale notes: append-mode parquet writes are embarrassingly parallel (one
file per task, no shuffle). ``maxRecordsPerFile`` plays the role of the
reference's batch-size knobs, bounding file sizes so downstream scans get
even splits. The sink table should be partitioned by a time bucket of
snapshot_tm at real scale so the dedup view and retention prune partitions
— ``partition_cols`` hooks that in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def append_snapshot(
    df: DataFrame,
    path: str,
    *,
    partition_cols: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """S2 analog — append-only columnar sink (WRITE_APPEND ≙ mode("append"),
    CREATE_NEVER ≙ table pre-created by engine.create_sinks; batch-size
    knobs ≙ maxRecordsPerFile)."""
    w = df.write.mode("append")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(path)


def write_json_lines(df: DataFrame, path: str) -> None:
    """S3 — line-delimited JSON file sink (benthos.go:95-104: ``codec:
    lines``). One JSON object per row, arrays/structs serialized inline —
    the reference's row-message form (benthos.go:130)."""
    df.write.mode("overwrite").json(path)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    *,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Range-clustered layout — the zone-map pruning primitive.

    ``repartitionByRange`` gives each output file a DISJOINT value range
    on the cluster columns and ``sortWithinPartitions`` orders rows
    inside, so every parquet footer carries tight min/max stats per
    row group. A pushed-down range predicate then skips whole row
    groups/files at scan time instead of decoding them — for
    time-series or key-range query patterns at 100 TB this is the
    difference between scanning one day and scanning the corpus
    (the analog of warehouse clustering keys). Cost: one range shuffle
    at write, amortized over every subsequent pruned scan; the range
    boundaries come from Spark's reservoir sampling of the input."""
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode(mode)
        .parquet(path)
    )


_STAGING = (".compact_tmp", ".compact_trash")
_MANIFEST = ".manifest"


def _displace_to_trash(src: str, trash: str, name: str) -> None:
    """Move ``src`` into ``trash`` under ``name``, suffixing on the
    (unreachable-by-design, defensively handled) name collision so an
    old file is never silently destroyed."""
    import os

    dst = os.path.join(trash, name)
    i = 0
    while os.path.exists(dst):
        i += 1
        dst = os.path.join(trash, f"{name}.old{i}")
    os.rename(src, dst)


def _finish_swap(path: str, tmp: str, trash: str, new_names: set) -> None:
    """Drive (or re-drive — every step is idempotent) the swap to its
    committed end state: path holds exactly ``new_names``, staging dirs
    gone. Old entries not in the manifest are displaced to the trash;
    manifest entries still in tmp are promoted, displacing any
    same-named old leftover (e.g. _SUCCESS) first — never the other
    way round, so a crash at ANY point loses nothing (ADVICE r8: the
    pre-manifest recovery trashed already-promoted files)."""
    import os
    import shutil

    for entry in os.listdir(path):
        if entry not in _STAGING and entry not in new_names:
            _displace_to_trash(os.path.join(path, entry), trash, entry)
    if os.path.isdir(tmp):
        for entry in os.listdir(tmp):
            dst = os.path.join(path, entry)
            if os.path.exists(dst):
                # an old same-named entry the displace loop kept (its
                # name is in the manifest): the tmp copy is the new one
                _displace_to_trash(dst, trash, entry)
            os.rename(os.path.join(tmp, entry), dst)
        os.rmdir(tmp)
    shutil.rmtree(trash, ignore_errors=True)


def _recover_staging(path) -> None:
    """Recover stale staging dirs from a crashed staged rewrite.

    The committed-state record is ``.compact_trash/.manifest`` — the
    complete listing of the new state, persisted (atomic rename) BEFORE
    any file moves, so recovery never has to infer which path entries
    are new: manifest ⇒ roll the swap forward via :func:`_finish_swap`.
    Pre-manifest states are unambiguous too: trash-present without a
    manifest means no move has happened yet (the manifest write is the
    first action after ``makedirs(trash)``), so tmp — if present —
    still holds the complete new state and its listing serves as the
    manifest; with neither manifest nor tmp, a populated path means the
    promote finished (drop trash) and an empty one means restore from
    trash."""
    import os
    import shutil

    tmp = os.path.join(path, ".compact_tmp")
    trash = os.path.join(path, ".compact_trash")
    if os.path.isdir(trash):
        manifest = os.path.join(trash, _MANIFEST)
        if os.path.isfile(manifest):
            with open(manifest, encoding="utf-8") as fh:
                new_names = {line for line in fh.read().split("\n") if line}
            _finish_swap(path, tmp, trash, new_names)
        elif os.path.isdir(tmp):
            # crash before the manifest landed ⇒ nothing was moved yet
            # and tmp's listing defines the complete new state
            _finish_swap(path, tmp, trash, set(os.listdir(tmp)))
        elif any(not e.startswith(("_", ".")) for e in os.listdir(path)):
            # promote finished, crash before the trash drop
            shutil.rmtree(trash, ignore_errors=True)
        else:
            # no new state anywhere — restore the old files
            for entry in os.listdir(trash):
                if not entry.startswith(_MANIFEST):
                    os.rename(os.path.join(trash, entry), os.path.join(path, entry))
            shutil.rmtree(trash, ignore_errors=True)
    elif os.path.isdir(tmp):
        # no trash ⇒ the tmp write may be incomplete; old state intact
        shutil.rmtree(tmp)


def recover_staged(path: str) -> None:
    """Public entry to :func:`_recover_staging` — any flow that READS a
    directory that is also a staged-rewrite target must recover first:
    a crash mid-swap leaves files split between path/tmp/trash, and a
    reader's file listing taken before recovery sees partial state
    (worse, a fresh-state branch keyed on "dir looks empty" would then
    overwrite the trash — silent loss). No-op (two isdir checks) when
    the last swap completed."""
    _recover_staging(path)


def rewrite_dir_staged(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    """Replace ``path``'s contents with ``df`` — which may READ from
    ``path`` (the write to the staging dir materializes it before any
    original file moves) — via the crash-recoverable trash-then-promote
    swap. The new-state manifest is fsync'd into the trash dir (atomic
    rename) before the first move, so a crash at any later point rolls
    FORWARD deterministically in :func:`_recover_staging` (see
    compact_landing's docstring for the non-atomicity caveat).
    ``partition_by`` writes Hive-layout partition dirs — the swap
    machinery moves those top-level ``col=value`` dirs exactly as it
    moves files (statestore.sync_state's full-clone path needs the
    replica partitioned so later syncs can swap single partitions)."""
    import os

    _recover_staging(path)
    tmp = os.path.join(path, ".compact_tmp")
    trash = os.path.join(path, ".compact_trash")
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(tmp)
    os.makedirs(trash)
    new_names = set(os.listdir(tmp))
    manifest = os.path.join(trash, _MANIFEST)
    with open(manifest + ".part", "w", encoding="utf-8") as fh:
        fh.write("\n".join(sorted(new_names)))
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(manifest + ".part", manifest)
    _finish_swap(path, tmp, trash, new_names)


def compact_landing(
    spark,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction — coalesce a landing directory's file soup
    into ~``target_file_bytes`` files. Micro-batch ingest (the engine's
    own append sink included) accretes one file per trigger per
    partition; at scale the resulting file population dominates scan
    cost (footer reads, task scheduling, no row-group locality). This
    rewrites the directory with file count = ceil(bytes / target),
    preserving rows exactly.

    Returns the new file count. Plan: one read + ``repartition(n)``
    round-robin shuffle + swap via staging directories: write to
    ``path/.compact_tmp``, move the old files into ``path/.compact_trash``
    (ONE recoverable step — a crash after it leaves all data intact in
    the trash dir), promote tmp, then drop the trash. The swap is NOT
    atomic — directory renames over a populated directory aren't
    portable — so a concurrent reader listing mid-swap can see a
    partial file set; schedule compaction in the ingest loop's quiet
    window, or on object stores run it inside the table-format's
    commit protocol instead. The repartition is deliberate (not
    ``coalesce``): coalesce would chain the narrow dependency into the
    scan and skew output file sizes with input file sizes; compaction
    EXISTS to fix size skew, so it pays the one shuffle."""
    import math
    import os

    _recover_staging(path)

    total = 0
    for dp, dns, fs in os.walk(path):
        # prune hidden/metadata subtrees (a stale staging dir counted
        # by basename-only filtering used to inflate the estimate)
        dns[:] = [d for d in dns if not d.startswith(("_", "."))]
        total += sum(
            os.path.getsize(os.path.join(dp, f))
            for f in fs
            if not f.startswith(("_", "."))
        )
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.format(fmt).load(path)
    rewrite_dir_staged(df.repartition(n), path, fmt=fmt)
    return n


def zorder_value(cols: list, bits: int = 16):
    """Z-order (Morton) key over 2+ pre-bucketed integer columns: the
    bits of each input interleave into one long, so rows close in the
    z-value are close in EVERY input dimension — range-clustering by it
    yields files whose parquet min/max stats are tight on all the
    columns at once, where single-column clustering helps only its
    leading column (the Delta/Iceberg OPTIMIZE ZORDER layout, as a pure
    codegen expression).

    Inputs must already be integer bucket ranks in [0, 2^bits) —
    use :func:`bucket_rank` for the min/max scaling. bits × len(cols)
    must fit in int64 (≤ 62)."""
    n = len(cols)
    assert n >= 2 and bits * n <= 62
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cs):
            # bit b of column i lands at interleaved position b*n + i
            z = z + F.shiftleft(
                F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)), b * n + i
            )
    return z


def bucket_rank(col, lo, hi, bits: int = 16):
    """Min/max-scaled integer rank in [0, 2^bits) for :func:`zorder_value`
    — linear scaling against broadcast global bounds (two scalar
    aggregates). For heavily skewed columns swap in a range-partition
    rank; the interleave is unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    span = F.greatest(F.lit(hi).cast("double") - F.lit(lo).cast("double"), F.lit(1.0))
    scaled = (c.cast("double") - F.lit(lo).cast("double")) / span * ((1 << bits) - 1)
    # floor, not round: unambiguous at .5 boundaries, so the expression
    # is bit-identical cross-engine (IEEE doubles + floor both sides)
    return F.least(
        F.greatest(F.floor(scaled).cast("long"), F.lit(0)), F.lit((1 << bits) - 1)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    *,
    n_files: int = 32,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Multi-dimension clustered layout: compute global min/max per
    z-order column (one scalar aggregate pass), bucket-rank each,
    interleave into the Morton key, then range-cluster + sort by it —
    :func:`write_clustered` generalized so range predicates on ANY of
    the z-order columns prune files/row groups, not just the first.
    Cost: one extra narrow projection over the clustering shuffle
    write_clustered already pays."""
    bounds = df.agg(
        *[F.min(c).alias(f"__lo_{c}") for c in zorder_cols],
        *[F.max(c).alias(f"__hi_{c}") for c in zorder_cols],
    ).collect()[0]
    ranks = [
        bucket_rank(c, bounds[f"__lo_{c}"], bounds[f"__hi_{c}"], bits)
        for c in zorder_cols
    ]
    z = zorder_value(ranks, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
