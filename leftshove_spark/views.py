"""Current-state dedup views — the reference's flagship queryable artifact.

The reference materializes an append-only ``<table>_cdc`` sink and exposes
"current state" as a view keeping only the newest snapshot per primary key
(bigquery.go:187-207):

    SELECT * FROM t
    WHERE (pkey, snapshot_tm) IN
          (SELECT (pkey, MAX(snapshot_tm)) FROM t GROUP BY pkey)

Semantically that is the window query
``row_number() OVER (PARTITION BY pkey ORDER BY snapshot_tm DESC) = 1``
(SURVEY.md §2.3 J3, §2.5) — which is also the *faster* plan at scale: one
shuffle on pkey, no self-join, no subquery rebroadcast. Both forms are
provided; the window form is the default.

Scale notes: the window form shuffles once on the partition key and sorts
within partitions — the minimum work any latest-per-key computation needs.
The semi-join form shuffles the same data twice (agg + join); Catalyst
decorrelates the tuple-IN into a left-semi join, but it's still strictly
more work. At 100 TB prefer the window form; if pkey is skewed, AQE
skew-split handles the sort side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key_window(
    df: DataFrame,
    key_cols: list[str] | str,
    order_col: str = "snapshot_tm",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Latest row per key via row_number() — canonical dedup view (J3).

    ``tiebreak_cols`` make ordering total when ``order_col`` ties (the
    reference's tuple-IN form keeps *all* rows tied at max snapshot_tm;
    row_number keeps exactly one — pass tiebreakers for determinism).
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_per_key_semijoin(
    df: DataFrame,
    key_cols: list[str] | str,
    order_col: str = "snapshot_tm",
) -> DataFrame:
    """Latest row(s) per key via groupBy+max left-semi join — the literal
    translation of the reference's tuple-IN view (bigquery.go:190-192).

    Keeps ALL rows tied at the max (exact reference semantics). Provided
    for parity testing; prefer :func:`latest_per_key_window` at scale.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    maxes = df.groupBy(*keys).agg(F.max(order_col).alias(order_col))
    return df.join(maxes, on=[*keys, order_col], how="left_semi")


def history_view(
    df: DataFrame,
    key_cols: list[str] | str,
    order_col: str = "snapshot_tm",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """SCD-Type-2 history view over an append-only snapshot table — the
    companion of the current-state view (bigquery.go:187-207 keeps only
    the NEWEST row per key; this keeps every version with its validity
    interval, the query users run to ask "what did this row say at time
    T").

    Each version row gains ``valid_from`` (its own snapshot stamp),
    ``valid_to`` (the NEXT version's stamp — half-open [from, to), the
    same convention as the capture windows), and ``is_current``
    (no successor). One window over the same (key, order) spec as the
    dedup view: one shuffle on key, sort within partitions — identical
    cost to latest-per-key, so materializing history is never more
    expensive than materializing current state.

    ``tiebreak_cols`` make the version order total when ``order_col``
    ties (same contract as latest_per_key_window) — required for a
    deterministic interval chain."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    order = [F.col(order_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("valid_from", F.col(order_col))
        .withColumn("valid_to", F.lead(order_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def as_of(history: DataFrame, ts, ts_type: str = "timestamp") -> DataFrame:
    """Point-in-time query over a :func:`history_view` table — the rows
    that were current at instant ``ts``: ``valid_from <= ts < valid_to``
    with an open ``valid_to`` meaning "still current". Pure filter —
    pushed into the scan, so on a range-clustered or bucket-partitioned
    history table this prunes files/row-groups and touches only the
    versions overlapping ``ts``."""
    t = F.lit(ts).cast(ts_type)
    return history.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )


def state_at(
    df: DataFrame,
    key_cols: list[str] | str,
    ts,
    order_col: str = "snapshot_tm",
    tiebreak_cols: list[str] | None = None,
    ts_type: str = "timestamp",
) -> DataFrame:
    """State as of instant ``ts`` computed DIRECTLY from the snapshot
    source with the time predicate pushed to the scan — the fast path
    beside ``as_of(history_view(df), ts)`` when the validity interval
    columns aren't needed.

    Equivalence argument (pytest-pinned): the version current at T is
    the one with the greatest ``order_col`` ≤ T per key; versions AFTER
    T can only ever be its successors, so dropping them changes nothing
    about which row wins — it merely opens that row's interval. Hence
    ``filter(order_col <= T)`` then latest-per-key ≡ the interval
    filter over the full history. The filter is a plain scan predicate,
    so a clustered/partitioned snapshot table prunes files and row
    groups — the derived-history form cannot (the lead() window blocks
    pushdown; see j6's plan)."""
    t = F.lit(ts).cast(ts_type)
    return latest_per_key_window(
        df.filter(F.col(order_col) <= t),
        key_cols,
        order_col=order_col,
        tiebreak_cols=tiebreak_cols,
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | str,
    compare_cols: list[str] | None = None,
    include_unchanged: bool = False,
    include_payload: bool = False,
) -> DataFrame:
    """Data-level diff of two snapshots of the same table — the row
    complement of the schema diff (schema.diff_schemas / D6): per key,
    is the row ``added`` (new only), ``removed`` (old only),
    ``changed`` (both, any compare column differs) or ``unchanged``.
    The CDC validation primitive: diff a capture cycle's output against
    the source, or two points of a history table, and alert on
    unexpected drift.

    ``compare_cols`` defaults to every shared non-key column. Change
    detection is per-column ``IS DISTINCT FROM`` on the NATIVE types —
    no stringification, so float formatting and NULLs cannot produce
    false diffs, and NULL→value / value→NULL count as changes.

    Plan: one full outer sort-merge join on the key (both sides shuffle
    once — the minimum for an exact diff); the classification is pure
    codegen. Output is O(keys), or O(changes) with the default
    ``include_unchanged=False`` filter, which pushes past the join.
    At 100 TB: bucket both snapshots on the key to pre-co-locate the
    join, and diff partition-by-partition when snapshots are
    date-partitioned."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in keys
        ]
    # explicit presence markers (a key column may itself be NULL — the
    # null-safe join matches those, so key-isNotNull is not a valid
    # presence test)
    o = old.select(*keys, *compare_cols, F.lit(True).alias("__in_old")).alias("__o")
    n = new.select(*keys, *compare_cols, F.lit(True).alias("__in_new")).alias("__n")
    cond = [F.col(f"__o.{k}").eqNullSafe(F.col(f"__n.{k}")) for k in keys]
    joined = o.join(n, cond, "full_outer")  # list of Columns ANDs
    change_terms = [
        ~F.col(f"__o.{c}").eqNullSafe(F.col(f"__n.{c}")) for c in compare_cols
    ]
    any_change = change_terms[0] if change_terms else F.lit(False)
    for t in change_terms[1:]:
        any_change = any_change | t
    change_type = (
        F.when(F.col("__o.__in_old").isNull(), F.lit("added"))
        .when(F.col("__n.__in_new").isNull(), F.lit("removed"))
        .when(any_change, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    payload = (
        # new-side values ride along (NULL for removed rows) — the form
        # a downstream replica can APPLY (views.apply_changes) rather
        # than merely audit
        [F.col(f"__n.{c}").alias(c) for c in compare_cols]
        if include_payload
        else []
    )
    out = joined.select(
        *[F.coalesce(F.col(f"__n.{k}"), F.col(f"__o.{k}")).alias(k) for k in keys],
        change_type.alias("change_type"),
        *payload,
    )
    return out if include_unchanged else out.filter(F.col("change_type") != "unchanged")


def retention_select(
    df: DataFrame,
    horizon,
    key_cols: list[str] | str,
    order_col: str = "snapshot_tm",
    tiebreak_cols: list[str] | None = None,
    ts_type: str = "timestamp",
) -> DataFrame:
    """The rows a snapshot-retention pass KEEPS: everything at or after
    the ``horizon``, plus each key's single latest version from before
    it. That baseline version is exactly what makes every
    :func:`state_at` / :func:`as_of` query with ``ts >= horizon``
    return identical results after the purge (pytest-pinned); history
    before the horizon is forfeited — that is the point of retention.

    Plan: a pushed-down split on ``order_col`` (both branches prune a
    clustered sink), latest-per-key only over the pre-horizon slice,
    union. Cost ~ one current-state view of the expired slice."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    t = F.lit(horizon).cast(ts_type)
    recent = df.filter(F.col(order_col) >= t)
    baseline = latest_per_key_window(
        df.filter(F.col(order_col) < t),
        keys,
        order_col=order_col,
        tiebreak_cols=tiebreak_cols,
    )
    return recent.unionByName(baseline)


def temporal_join(
    left_hist: DataFrame,
    right_hist: DataFrame,
    key_cols: list[str] | str,
    lsuffix: str = "_l",
    rsuffix: str = "_r",
) -> DataFrame:
    """SQL:2011-style temporal join of two :func:`history_view` tables:
    one output row per pair of versions whose validity intervals
    OVERLAP on the same key, carrying the INTERSECTED interval — "align
    these two tables' histories", the query a CDC consumer writes to
    ask what table A and table B said at the same moments (each
    output interval is a maximal span where neither side changed).

    Open intervals (``valid_to`` NULL = still current) compose
    naturally: both engines' ``least``/``greatest`` ignore NULLs, so
    the intersection's ``valid_to`` is the earlier close, or NULL when
    both sides are open. ``is_current`` = both inputs current.

    Plan: ONE equi-join (hash) on the key; the overlap predicate is a
    post-join filter, so per-key cost is |versions_l| × |versions_r| —
    fine for the typical handful of versions per key; a key with
    thousands of versions on both sides should pre-filter by time
    range (as_of slices) first. Payload columns that collide get
    lsuffix/rsuffix."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    meta = {"valid_from", "valid_to", "is_current"}
    l_pay = [c for c in left_hist.columns if c not in meta and c not in keys]
    r_pay = [c for c in right_hist.columns if c not in meta and c not in keys]
    clash = set(l_pay) & set(r_pay)
    l = left_hist.select(
        *keys,
        *[F.col(c).alias(c + lsuffix if c in clash else c) for c in l_pay],
        F.col("valid_from").alias("__lf"),
        F.col("valid_to").alias("__lt"),
    )
    r = right_hist.select(
        *[F.col(k).alias(f"__rk_{k}") for k in keys],
        *[F.col(c).alias(c + rsuffix if c in clash else c) for c in r_pay],
        F.col("valid_from").alias("__rf"),
        F.col("valid_to").alias("__rt"),
    )
    cond = [F.col(k).eqNullSafe(F.col(f"__rk_{k}")) for k in keys]
    overlap = (
        F.col("__rt").isNull() | (F.col("__lf") < F.col("__rt"))
    ) & (F.col("__lt").isNull() | (F.col("__rf") < F.col("__lt")))
    joined = l.join(r, cond).filter(overlap)
    return joined.select(
        *keys,
        *[c + lsuffix if c in clash else c for c in l_pay],
        *[c + rsuffix if c in clash else c for c in r_pay],
        F.greatest("__lf", "__rf").alias("valid_from"),
        F.least("__lt", "__rt").alias("valid_to"),
        (F.col("__lt").isNull() & F.col("__rt").isNull()).alias("is_current"),
    )


def apply_changes(
    spark,
    replica_dir: str,
    feed: DataFrame,
    key_cols: list[str] | str,
) -> None:
    """Apply a payload-carrying change feed (:func:`snapshot_diff` with
    ``include_payload=True``, or ``Engine.changes_between(...,
    include_payload=True)``) to a downstream REPLICA directory — the
    consumer half of the change-feed story: a warehouse copy follows
    the capture sink by applying O(changes) rows per sync instead of
    re-copying the table.

    Semantics: ``removed`` keys are deleted, ``changed`` keys replaced,
    ``added`` keys inserted — one left-anti join on the feed's keys
    plus a union of the non-removed payloads, rewritten through the
    crash-recoverable staged swap (sinks.rewrite_dir_staged), so a
    crash mid-apply never leaves a half-applied replica. Applying the
    same feed twice is idempotent (delete-then-insert of identical
    rows). The invariant pytest pins:
    ``apply(state_at(t1), changes_between(t1, t2)) ≡ state_at(t2)``.

    At scale, partition the replica by a key bucket and swap only the
    touched buckets (the maintain_history discipline); the feed side is
    already O(changes)."""
    from .sinks import recover_staged, rewrite_dir_staged

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # a crash mid-swap on a PREVIOUS apply leaves the replica split
    # across path/tmp/trash; the read below lists files NOW, before
    # rewrite_dir_staged's own recovery, so heal first
    recover_staged(replica_dir)
    cur = spark.read.parquet(replica_dir).alias("__cur")
    upserts = feed.filter(F.col("change_type") != "removed").drop("change_type")
    touched = feed.select(*keys).distinct().alias("__tch")
    # NULL-SAFE anti join: snapshot_diff matches NULL key values
    # null-safely (its documented contract), so the delete must too — a
    # plain anti join would keep an old NULL-key row (NULL != NULL),
    # duplicating it beside its replacement and breaking idempotence
    cond = [
        F.col(f"__cur.{k}").eqNullSafe(F.col(f"__tch.{k}")) for k in keys
    ]
    nxt = cur.join(touched, cond, "left_anti").unionByName(upserts)
    rewrite_dir_staged(nxt, replica_dir)
