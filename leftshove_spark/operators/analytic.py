"""Analytic operator surface — sessionization, per-group top-k, pivot,
full-outer reconciliation, higher-order array functions.

These extend the reference's relational battery (SURVEY.md §2.2–2.7) with
the analytic shapes its SQL surface implies but never names: the
reference pushes GROUP BY / window SQL to Postgres or BigQuery
(postgres.go:43-115, bigquery.go:187-207), where users write exactly
these forms on the captured snapshots. Each is expressed as built-in
DataFrame ops only — no UDFs, everything whole-stage-codegen'd.

Scale notes:
- ``sessionize`` uses Spark's native ``session_window`` — one shuffle on
  the partition key, sessions merged in-partition by the gap; state never
  leaves the executor. Identical cost to latest-per-key.
- ``topk_per_group`` is rank-then-filter: one shuffle on the group key;
  with k bounded the filter prunes inside the window operator
  (WindowGroupLimit pushes k into the sort at execution).
- ``pivot_counts`` takes an EXPLICIT value list: ``.pivot(col)`` without
  values runs a distinct scan job first — at 100 TB that is a full extra
  pass; with values it is one hash aggregation, wide columns built
  map-side.
- ``full_outer_join`` on the join key keeps both shuffles aligned on the
  same key (no re-partition between agg and join).
- ``array_battery`` runs entirely inside codegen over the array column —
  per-row loops happen in the JVM, not Python; this is the pattern for
  embedding feature extraction without a single UDF.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..ext import cache


# Above this boundary count the O(p)-per-row indicator sum switches to
# the O(log p) WHEN-tree binary search. 64 keeps the common local[32]
# plans on the flat codegen-friendliest form.
_LINEAR_PID_MAX = 64


def _partition_of(key: Column, bound_lits: list[Column]) -> Column:
    """``#{b in bounds : key > b}`` for ASCENDING-sorted boundary
    literals — the analytic range-partition assignment. Small boundary
    sets use the flat indicator sum; large ones a balanced WHEN-tree
    binary search: O(p) expression nodes either way, but each row
    evaluates only the O(log p) comparisons on its root-to-leaf path
    (the documented escape for thousands-of-partitions clusters — both
    forms are pure functions of the row, so determinism is unchanged)."""
    if len(bound_lits) <= _LINEAR_PID_MAX:
        pid = F.lit(0)
        for b in bound_lits:
            pid = pid + (key > b).cast("int")
        return pid

    def go(lo: int, hi: int) -> Column:
        # pid for keys whose answer is known to lie in [lo, hi]
        if lo >= hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(key > bound_lits[mid], go(mid + 1, hi)).otherwise(
            go(lo, mid)
        )

    return go(0, len(bound_lits))


def exact_global_rank(
    df: DataFrame,
    order_cols: list[str],
    *,
    rank_col: str = "rank",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact dense global row_number over a TOTAL order (``order_cols``
    must be a unique key) WITHOUT a single-partition window — the
    scalable form of ``row_number() OVER (ORDER BY ...)``.

    Plan: range-repartition on the order key (all keys in partition i
    sort before partition i+1), rank locally per partition (parallel
    windows keyed on ``spark_partition_id``), then add each partition's
    cumulative row-count offset via a broadcast join. The offsets are an
    O(num_partitions) control-plane read — bounded by cluster width, not
    data — the same class as watermark scalars, not a data collect.

    Cost: one sampling pass (range shuffle + per-partition summary, the
    input cached for that one job) + one hash shuffle of the projected
    key columns for the ranking pass, plus a broadcast of ≤
    num_partitions offset rows. A naive global window is a shuffle
    followed by a single-task sort of the entire input; this form keeps
    every stage at full parallelism, which is the difference between
    minutes and a dead executor at 100 TB.

    Determinism (the r6→r7 bug): Spark's range partitioner seeds its
    reservoir sampling from the RDD id, which CHANGES between actions —
    an offsets job and a result job that each re-execute
    ``repartitionByRange`` can disagree on partition membership, which
    silently corrupts ranks (observed at sf0.1 with 8 shuffle
    partitions: 5000 rows, 4907 distinct ranks). So sampling happens
    ONCE: the summary job collects each range partition's row count AND
    its maximum key, and the ranking pass re-derives the partition id
    ANALYTICALLY — ``pid = #{boundaries < key}`` against the collected
    maxima as literals — a pure function of the row that no re-sampled
    boundary can perturb. The assignment expression is a flat indicator
    sum (O(p) struct comparisons per row, codegen'd) up to 64
    boundaries, and a balanced WHEN-tree binary search (O(log p)
    comparisons evaluated per row) past that — at 1000-executor scale
    p ≈ 10⁴ and the linear form would burn 10⁴ comparisons per row;
    both forms are pytest-pinned identical at p ∈ {8, 64, 512}."""
    bound_lits, nonempty = _range_summary(df, order_cols, num_partitions)
    offsets, acc = [], 0
    for i, r in enumerate(nonempty):
        offsets.append((i, acc))
        acc += r["n"]
    key = F.struct(*[F.col(c) for c in order_cols])
    pid = _partition_of(key, bound_lits)
    assigned = df.withColumn("__pid", pid)
    wloc = Window.partitionBy("__pid").orderBy(*order_cols)
    local = assigned.withColumn("__lrank", F.row_number().over(wloc))
    off_df = df.sparkSession.createDataFrame(offsets, "__pid int, __offset bigint")
    out = (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(rank_col, (F.col("__offset") + F.col("__lrank")).cast("long"))
        .drop("__pid", "__lrank", "__offset")
    )
    if total_col is not None:
        # the total fell out of the summary pass — no extra count job
        out = out.withColumn(total_col, F.lit(acc).cast("long"))
    return out


def _range_summary(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int | None,
    weight_col: str | None = None,
):
    """The sample-ONCE pass both global-analytic operators share: range
    partition on the order key, collect each partition's (count, max
    key) — plus (weight sum, null-weight count) when ``weight_col`` is
    given — and rebuild the boundary literals the downstream pass uses
    to re-derive membership analytically (the r6→r7 determinism fix:
    re-executing the range partitioner re-samples; these maxima
    don't). Returns ``(bound_lits, nonempty_summary_rows)`` — an
    O(num_partitions) control-plane read."""
    spark = df.sparkSession
    p = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    key = F.struct(*[F.col(c) for c in order_cols])
    aggs = [F.count(F.lit(1)).alias("n"), F.max(key).alias("mx")]
    if weight_col is not None:
        aggs += [
            F.sum(F.col(weight_col).cast("long")).alias("w"),
            F.sum(F.col(weight_col).isNull().cast("long")).alias("w_nulls"),
        ]
    parts = df.repartitionByRange(p, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    # the range partitioner reads its input twice (sampling, shuffle):
    # cache it for this job so its upstream runs once; a caller's cache
    # stays, ours is dropped so no persisted block outlives the call
    with cache.pin_scope():
        if df.storageLevel == StorageLevel.NONE:
            cache.pin(df)
        summary = sorted(
            parts.groupBy("__pid").agg(*aggs).collect(), key=lambda r: r["__pid"]
        )
    # boundaries = maxima of all but the last non-empty partition;
    # membership in job-2 ≡ membership in job-1 because range
    # partitioning separates partitions exactly at these maxima
    nonempty = [r for r in summary if r["n"] > 0]
    bound_lits = [
        F.struct(*[F.lit(r["mx"][i]).alias(c) for i, c in enumerate(order_cols)])
        for r in nonempty[:-1]
    ]
    return bound_lits, nonempty


def exact_global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    weight_col: str,
    *,
    cum_col: str = "cum_weight",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """:func:`exact_global_cumsum_with_total` without the scalar."""
    out, _ = exact_global_cumsum_with_total(
        df,
        order_cols,
        weight_col,
        cum_col=cum_col,
        total_col=total_col,
        num_partitions=num_partitions,
    )
    return out


def exact_global_cumsum_with_total(
    df: DataFrame,
    order_cols: list[str],
    weight_col: str,
    *,
    cum_col: str = "cum_weight",
    total_col: str | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact running ``SUM(weight) OVER (ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING)`` over a TOTAL order WITHOUT a single-partition
    window — :func:`exact_global_rank`'s machinery generalized from
    counting to weight accumulation (weighted sampling, token budgeting
    and curriculum scheduling all need the global prefix sum, not the
    rank). Returns ``(df_with_cum, total_weight)`` — the total falls
    out of the sampling pass for free, and weighted-sampling callers
    need it driver-side to derive stride thresholds.

    Plan: identical envelope to ``exact_global_rank`` — one
    range-partition sampling pass whose per-partition summary now also
    carries ``sum(weight)``, the analytic boundary re-derivation (same
    determinism argument: partition membership is a pure function of
    the row against collected maxima literals), a per-partition window
    sum at full parallelism, and a broadcast of ≤ num_partitions
    cumulative-weight offsets. Every stage is parallel; the naive form
    is a single-task sort of the entire input.

    Weights must be non-null (a prefix sum over missing weights has no
    well-defined semantics); the check rides the summary pass for
    free and raises before any result job."""
    bound_lits, nonempty = _range_summary(
        df, order_cols, num_partitions, weight_col=weight_col
    )
    n_nulls = sum(r["w_nulls"] for r in nonempty)
    if n_nulls:
        raise ValueError(
            f"exact_global_cumsum: {n_nulls} NULL values in weight "
            f"column {weight_col!r} — fill or filter them first"
        )
    offsets, acc = [], 0
    for i, r in enumerate(nonempty):
        offsets.append((i, acc))
        acc += r["w"]
    key = F.struct(*[F.col(c) for c in order_cols])
    pid = _partition_of(key, bound_lits)
    assigned = df.withColumn("__pid", pid)
    wloc = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = assigned.withColumn(
        "__lcum", F.sum(F.col(weight_col).cast("long")).over(wloc)
    )
    off_df = df.sparkSession.createDataFrame(offsets, "__pid int, __woff bigint")
    out = (
        local.join(F.broadcast(off_df), "__pid")
        .withColumn(cum_col, (F.col("__woff") + F.col("__lcum")).cast("long"))
        .drop("__pid", "__lcum", "__woff")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.lit(int(acc)).cast("long"))
    return out, int(acc)


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization: events of one ``key_col`` belong to the
    same session while each successive event starts at or before
    ``prev_ts + gap`` — Spark merges an event landing exactly on the
    closing edge; only a STRICTLY larger gap opens a new session.

    Returns one row per (key, session): session_start, last_ts, n_events.
    """
    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("last_ts"),
            F.col("n_events"),
        )
    )


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str | Column,
    k: int,
    *,
    tiebreak_cols: list[str] | None = None,
    ascending: bool = False,
) -> DataFrame:
    """Top-k rows per group by ``order_col`` — rank-then-filter with a
    deterministic total order (ties broken by ``tiebreak_cols``).

    One shuffle on the group key; Spark's WindowGroupLimit rewrite turns
    the rn<=k filter into a per-partition top-k heap, so the full sort
    never materializes. This is the scalable form of "best N per entity"
    (a self-join formulation is quadratic per group).
    """
    order = F.col(order_col) if isinstance(order_col, str) else order_col
    keys = [order.asc() if ascending else order.desc()]
    keys += [F.col(c).asc() for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*group_cols).orderBy(*keys)
    return (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= k)
    )


def pivot_counts(
    df: DataFrame,
    group_col: str,
    pivot_col: str,
    values: list[str],
) -> DataFrame:
    """Long→wide count pivot with an explicit value list (never the
    2-pass distinct-then-pivot form). Absent combinations become 0, the
    conditional-aggregation convention (Spark's pivot leaves them null).
    """
    out = df.groupBy(group_col).pivot(pivot_col, values).count()
    return out.na.fill(0, subset=values)


def full_outer_join(
    left: DataFrame, right: DataFrame, on: str | list[str]
) -> DataFrame:
    """J4 — full outer equi-join with USING-style key coalescing (join on
    column names, so Spark emits one coalesced key column). Both inputs
    should already be aggregated/distinct on the key; the join reuses
    whichever side's hash partitioning survives."""
    return left.join(right, on=on, how="full_outer")


def array_battery(df: DataFrame, id_col: str, arr_col: str) -> DataFrame:
    """Higher-order-function battery over an ``array<float>`` column —
    the no-UDF embedding feature-extraction pattern: every lambda below
    compiles to a codegen'd loop in the JVM (transform / filter /
    aggregate / exists / slice), nothing crosses to Python.

    Float elements are cast to double BEFORE arithmetic so both engines
    (and any oracle) compute the identical IEEE doubles; sums fold
    left-to-right in element order, which is deterministic (no partition
    -order dependence — the reduction is per-row).
    """
    dbl = F.transform(F.col(arr_col), lambda x: x.cast("double"))
    l2 = F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x)
    head_sum = F.aggregate(
        F.slice(dbl, 1, 8), F.lit(0.0), lambda acc, x: acc + x
    )
    return df.select(
        F.col(id_col),
        F.size(arr_col).alias("n_dims"),
        F.round(l2, 6).alias("l2_norm_sq"),
        F.size(F.filter(dbl, lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max(dbl), 6).alias("max_val"),
        F.round(head_sum, 6).alias("head8_sum"),
        F.exists(dbl, lambda x: x > 3.0).alias("has_gt3"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float = 0.01,
    hi: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group winsorization — clamp ``value_col`` to its group's
    [lo, hi] exact interpolated percentiles, the standard outlier
    treatment before aggregating noisy numeric features.

    Two-pass shape: one grouped percentile aggregation (O(groups) rows)
    broadcast back onto the stream, then a pure-codegen
    ``least(greatest(...))`` clamp — the corpus is scanned twice but
    never shuffled. Exactness: Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the (n-1)·p + linear-interpolation
    definition (verified bit-identical by the o7 battery), and the
    clamp is a comparison, so winsorized values hash exactly
    cross-engine. At 100 TB with high-cardinality groups, swap in
    ``approx_percentile`` bounds (t-digest, mergeable) — the clamp is
    unchanged.

    NULL group keys are clamped against their own bounds, not dropped:
    the join is null-safe (``<=>``), so the NULL group — which groupBy
    does produce a bounds row for — matches it, and a clamp operator
    preserves row count by construction. (A plain equi-join silently
    dropped those rows pre-r8.) The SQL twin is ``JOIN ... ON g IS NOT
    DISTINCT FROM g``, not ``USING``."""
    out = out_col or f"{value_col}_wins"
    bounds = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({value_col}, {lo})").alias("__lo"),
        F.expr(f"percentile({value_col}, {hi})").alias("__hi"),
    )
    b = bounds.select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols], "__lo", "__hi"
    )
    cond = reduce(
        lambda x, y: x & y,
        [F.col(c).eqNullSafe(F.col(f"__g_{c}")) for c in group_cols],
    )
    return (
        df.join(F.broadcast(b), cond)
        .withColumn(
            out,
            F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
        )
        .drop("__lo", "__hi", *[f"__g_{c}" for c in group_cols])
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    *,
    c_num: int = 3,
    c_den: int = 1,
    flag_col: str = "is_outlier",
) -> DataFrame:
    """Per-group robust outlier flags: mark a row when its absolute
    deviation from the group MEDIAN exceeds ``(c_num/c_den) ×`` the
    group's MEDIAN absolute deviation — the MAD rule, the
    robust-statistics complement of :func:`winsorize` (which clamps by
    tail quantiles; MAD *detects*, immune to the very outliers it
    hunts, with a 50% breakdown point vs 0% for z-scores whose
    mean/stddev the outliers themselves drag).

    Adds ``__med``/``__mad``-derived columns: group median ``med``,
    ``mad``, absolute deviation ``abs_dev``, and the boolean flag.
    Medians are the DISCRETE lower median (value at position
    ``ceil(n/2)`` of the value-sorted group) and the flag compares
    ``abs_dev · c_den > c_num · mad`` — everything integer-exact on
    integral inputs, no interpolation, no floats, so flags hash
    identically cross-engine.

    Plan: every step is a window over the SAME partitioning
    (partitionBy group key; only the in-partition sort order differs
    between the value rank and the deviation rank), so the whole
    operator plans as ONE group-key exchange followed by stacked
    in-partition sort+window stages — no join-backs, no second
    shuffle, no re-scan (plan-pinned by pytest: exactly one
    hashpartitioning exchange). The flag is pure codegen. A
    corpus-sized per-key window is the same envelope as any per-key
    ranking at 100 TB; for high-cardinality groups the medians could
    come from :func:`ext.sketch.bottomk_sample_sketch` instead — the
    flag expression is unchanged."""
    gcols = list(group_cols)
    wg = Window.partitionBy(*gcols)
    order_tiebreak: list[str] = []

    def _median_over(col: str) -> Column:
        # value at rank ceil(n/2) of the in-group sort by `col` —
        # vrn == ceil(n/2) stated as 2·vrn == n + n%2 to stay in pure
        # integer comparisons; the conditional max over the full
        # partition extracts that one value for every row
        vrn = F.row_number().over(wg.orderBy(col, *order_tiebreak))
        n = F.count(F.lit(1)).over(wg)
        picked = F.when(vrn * 2 == n + n % 2, F.col(col))
        return F.max(picked).over(
            wg.orderBy(col, *order_tiebreak).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )

    out = df.withColumn("med", _median_over(value_col).cast("long"))
    out = out.withColumn(
        "abs_dev", F.abs(F.col(value_col).cast("long") - F.col("med"))
    )
    out = out.withColumn("mad", _median_over("abs_dev").cast("long"))
    return out.withColumn(
        flag_col,
        F.col("abs_dev") * F.lit(c_den) > F.lit(c_num) * F.col("mad"),
    )


def ols_trend(
    df: DataFrame,
    x: Column,
    y: Column,
    group_cols: list[str],
) -> DataFrame:
    """Per-group ordinary-least-squares trend + Pearson correlation with
    EXACT integer sufficient statistics — the drift detector a corpus
    accounting pipeline runs per source/day ("is quality sliding as we
    ingest?"). ``x`` and ``y`` must be integer columns (the caller
    quantizes — epoch seconds, cents, token counts).

    Why exact: the five sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    Σy²) are DECIMAL(38,0) sums of integer products — order-free and
    bit-identical in any engine (a float Σxy differs across partition
    orders, un-gateable). Only the final ratios touch floats, each one
    a fixed short sequence of correctly-rounded IEEE ops replayed
    verbatim in the oracle:

    - slope = num/den, num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)²
    - intercept = Σy/n − slope·(Σx/n)   (all in doubles, same order)
    - pearson_r = num / (sqrt(den)·sqrt(n·Σy² − (Σy)²))

    Degenerate groups (n < 2 or zero x-variance) emit NULLs via an
    explicit CASE — never an engine-specific inf/NaN.

    Plan: ONE groupBy with map-side partial aggregation — O(groups)
    rows move; the scan stays narrow.

    Quantization contract: the decimal(38,0) statistics are exact to
    ~1e38, but the three covariance terms are materialized as BIGINT
    before the double cast — DuckDB's HUGEINT→DOUBLE conversion is a
    two-step float composition (not correctly rounded), so an exact
    integer > 2^63 can land on DIFFERENT doubles across engines (found
    at sf0.01: 1-ulp slope divergence). int64-range terms convert
    exactly everywhere. The caller therefore quantizes x and y so that
    n²·var terms stay under 2^63 — e.g. hours-since-a-fixed-epoch ×
    cents for ~10^5-row groups; coarser units (days, whole currency)
    as groups grow.

    Envelope violations are SIGNALLED, not silent (ADVICE r10): the
    output carries ``overflowed`` — true when any covariance term's
    exact decimal value falls outside int64 — so callers can tell a
    quantization-envelope violation (re-quantize and re-run) from the
    legitimate NULLs of a degenerate group (n < 2 or zero variance,
    ``overflowed`` false). The check compares the DECIMAL terms against
    the int64 bound (exact, mode-independent — never relying on
    non-ANSI cast-to-NULL), and an overflowed group's slope/intercept/
    pearson_r are forced NULL on BOTH engines rather than inheriting
    either engine's out-of-range cast behavior."""
    d38 = "decimal(38,0)"
    xd, yd = x.cast(d38), y.cast(d38)
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum(xd).alias("__sx"),
        F.sum(yd).alias("__sy"),
        F.sum(xd * yd).alias("__sxy"),
        F.sum(xd * xd).alias("__sxx"),
        F.sum(yd * yd).alias("__syy"),
    )
    i64_max = 9223372036854775807
    num_d = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den_d = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    deny_d = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    # int64 envelope checked on the EXACT decimal terms, and the long
    # cast taken only inside it — deterministic in ANSI and non-ANSI
    # sessions alike (an unguarded out-of-range decimal→long cast
    # throws under ANSI and NULLs otherwise)
    in_env = (
        (F.abs(num_d) <= F.lit(i64_max))
        & (F.abs(den_d) <= F.lit(i64_max))
        & (F.abs(deny_d) <= F.lit(i64_max))
    )
    num = F.when(in_env, num_d.cast("long")).cast("double")
    den = F.when(in_env, den_d.cast("long")).cast("double")
    deny = F.when(in_env, deny_d.cast("long")).cast("double")
    nn = F.col("__n").cast("double")
    slope = F.when((F.col("__n") >= 2) & (den != 0), num / den)
    intercept = F.when(
        (F.col("__n") >= 2) & (den != 0),
        F.col("__sy").cast("double") / nn
        - (num / den) * (F.col("__sx").cast("double") / nn),
    )
    r = F.when(
        (F.col("__n") >= 2) & (den != 0) & (deny != 0),
        num / (F.sqrt(den) * F.sqrt(deny)),
    )
    # a decimal-precision blowout (term NULL, value beyond 10^38 in a
    # non-ANSI session) is out-of-envelope a fortiori: ~in_env is then
    # NULL, so coalesce pins the flag true for n >= 2 groups
    overflowed = (F.col("__n") >= 2) & F.coalesce(
        ~in_env, F.lit(True)
    )
    return g.select(
        *group_cols,
        F.col("__n").cast("long").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r.alias("pearson_r"),
        overflowed.alias("overflowed"),
    )
