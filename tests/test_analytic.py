"""Analytic operator unit tests — sessionize boundary semantics, top-k
tiebreaks, pivot zero-fill, full-outer coalescing, HOF battery values."""

from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import SF001, SF0001
from leftshove_spark.operators import analytic as A
from leftshove_spark.sources import load_table


def _ts(minute, second=0):
    return datetime(2024, 1, 1, 0, minute, second)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user a: 3 events within gaps < 30m → one session
        Row(user_id="a", ts=_ts(0)),
        Row(user_id="a", ts=_ts(10)),
        Row(user_id="a", ts=_ts(39, 59)),
        # user b: event exactly AT prev+30m MERGES (inclusive edge);
        # one second past it opens a new session
        Row(user_id="b", ts=_ts(0)),
        Row(user_id="b", ts=_ts(30)),
        Row(user_id="b", ts=datetime(2024, 1, 1, 2, 0, 1)),
        # user c: single event
        Row(user_id="c", ts=_ts(5)),
    ]
    return spark.createDataFrame(rows)


def test_sessionize_gap_merge_and_boundary(events):
    out = {
        (r.user_id, r.session_start): (r.n_events, r.last_ts)
        for r in A.sessionize(events, "user_id", "ts", gap="30 minutes").collect()
    }
    assert out[("a", _ts(0))] == (3, _ts(39, 59))  # merged chain
    # exactly-at-gap event merges; the distant one starts a new session
    assert out[("b", _ts(0))] == (2, _ts(30))
    assert out[("b", datetime(2024, 1, 1, 2, 0, 1))] == (1, datetime(2024, 1, 1, 2, 0, 1))
    assert out[("c", _ts(5))] == (1, _ts(5))


def test_topk_per_group_tiebreak(spark):
    df = spark.createDataFrame(
        [
            Row(g="x", id=1, v=10.0),
            Row(g="x", id=2, v=10.0),  # tie on v → lower id ranks first
            Row(g="x", id=3, v=5.0),
            Row(g="x", id=4, v=1.0),
            Row(g="y", id=5, v=7.0),
        ]
    )
    out = A.topk_per_group(df, ["g"], "v", 2, tiebreak_cols=["id"]).collect()
    got = {(r.g, r.rank_in_group): r.id for r in out}
    assert got == {("x", 1): 1, ("x", 2): 2, ("y", 1): 5}


def test_pivot_counts_zero_fill(spark):
    df = spark.createDataFrame(
        [Row(k="u1", t="a"), Row(k="u1", t="a"), Row(k="u2", t="b")]
    )
    out = {r.k: (r.a, r.b) for r in A.pivot_counts(df, "k", "t", ["a", "b"]).collect()}
    assert out == {"u1": (2, 0), "u2": (0, 1)}


def test_full_outer_join_coalesces_key(spark):
    left = spark.createDataFrame([Row(k=1, n_l=2), Row(k=2, n_l=1)])
    right = spark.createDataFrame([Row(k=2, n_r=5), Row(k=3, n_r=7)])
    out = A.full_outer_join(left, right, "k")
    assert out.columns == ["k", "n_l", "n_r"]  # single coalesced key col
    got = {r.k: (r.n_l, r.n_r) for r in out.collect()}
    assert got == {1: (2, None), 2: (1, 5), 3: (None, 7)}


def test_array_battery_values(spark):
    df = spark.createDataFrame(
        [Row(vec_id=1, embedding=[3.0, -4.0, 0.5])],
        "vec_id bigint, embedding array<float>",
    )
    r = A.array_battery(df, "vec_id", "embedding").collect()[0]
    assert r.n_dims == 3
    assert r.l2_norm_sq == pytest.approx(9 + 16 + 0.25)
    assert r.n_pos == 2  # 0.5 and 3.0; strict >0 excludes nothing else
    assert r.max_val == 3.0
    assert r.head8_sum == pytest.approx(-0.5)  # slice longer than array is ok
    assert r.has_gt3 is False  # strict >3.0


def test_approx_percentile_near_exact(spark):
    """The 100-TB percentile path: approx_percentile (one pass, mergeable
    sketch) vs the exact sort-based median — bounded relative error."""
    from conftest import SF0001
    from leftshove_spark.sources import load_table
    import pyspark.sql.functions as F

    li = load_table(spark, SF0001, "lineitem")
    r = li.agg(
        F.median("l_quantity").alias("exact"),
        F.approx_percentile("l_quantity", 0.5, 10000).alias("approx"),
    ).collect()[0]
    assert abs(r.approx - r.exact) <= 1.0  # quantities are 1..50


def test_exact_global_rank_matches_global_window(spark):
    """The distributed ranker (range shuffle + per-partition windows +
    broadcast offsets) must equal row_number() OVER (ORDER BY ...) —
    same ranks, no single-partition exchange in the plan."""
    from conftest import SF0001
    from leftshove_spark.operators.analytic import exact_global_rank
    from leftshove_spark.sources import load_table
    from pyspark.sql import Window as W
    import pyspark.sql.functions as F

    # filter, not limit: a global limit plans its own SinglePartition
    # exchange and would mask what this test asserts about the ranker
    ev = load_table(spark, SF0001, "events").select("event_id", "ts").filter(
        F.col("event_id") % 2 == 0
    )
    got = exact_global_rank(ev, ["ts", "event_id"], rank_col="r", total_col="n")
    want = ev.withColumn("r", F.row_number().over(W.orderBy("ts", "event_id")))
    diff = (
        got.select("event_id", "r")
        .exceptAll(want.select("event_id", "r"))
        .count()
    )
    assert diff == 0
    assert got.select("n").first()["n"] == ev.count()
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_exact_global_rank_leaves_no_cached_blocks(spark):
    """r6 leaked one MEMORY_AND_DISK entry per exact_global_rank call
    (the locally-ranked intermediate was persisted with no reachable
    handle). The ranker now relies on shuffle-stage reuse instead of a
    persist, so a full x_quality_deciles run must not grow the set of
    persistent RDDs."""
    from conftest import SF0001
    import __spark_entry__ as entrymod

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    entrymod.queries()["x_quality_deciles"](spark, SF0001).collect()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after == before


def test_global_rank_operators_run_their_input_once(spark):
    """Spark's range partitioner reads its input twice (a sampling
    pass, then the shuffle); the summary job caches the input, so a
    row-count observer on the input of a direct exact_global_rank or
    weighted_systematic_sample call reports each row once, not twice.
    The cache is the operator's own: it leaves no persisted RDD behind,
    and a caller's cache of the input stays."""
    from pyspark.sql import Observation

    from leftshove_spark.ext.pipeline import weighted_systematic_sample

    docs = load_table(spark, SF0001, "documents").select("doc_id", "n_chars")
    n = docs.count()
    runs = {
        "rank": lambda df: A.exact_global_rank(df, ["doc_id"]),
        "wss": lambda df: weighted_systematic_sample(df, 40, "n_chars"),
    }
    jsc = spark.sparkContext._jsc
    for name, run in runs.items():
        before = jsc.getPersistentRDDs().size()
        obs = Observation()
        assert run(docs.observe(obs, F.count(F.lit(1)).alias("rows"))).count() > 0
        assert obs.get["rows"] == n, name
        assert jsc.getPersistentRDDs().size() == before, name
    cached = docs.filter(F.col("doc_id") % 2 == 0).cache()
    try:
        runs["rank"](cached).count()
        assert cached.storageLevel.useMemory
    finally:
        cached.unpersist()


def test_decile_formula_matches_ntile_at_tiny_n(spark):
    """The re-derived ntile math in x_quality_deciles must match the
    window ntile even when N < buckets (each row its own bucket: the
    q = N div 10 = 0 regime, where the otherwise-branch divides by zero
    and must never be evaluated)."""
    from pyspark.sql import Window as W
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i, float(i) / 10) for i in range(7)], "doc_id bigint, score double"
    )
    want = df.withColumn(
        "decile", F.ntile(10).over(W.orderBy("score", "doc_id")).cast("long")
    )
    # replicate the query's expression on exact ranks (N=7 → q=0, r=7)
    rank = F.row_number().over(W.orderBy("score", "doc_id"))
    q, r = F.lit(0), F.lit(7)
    head = r * (q + 1)
    decile = (
        F.when(rank <= head, F.ceil(rank / (q + 1)))
        .otherwise(r + F.ceil((rank - head) / q))
        .cast("long")
    )
    got = df.withColumn("decile", decile)
    assert sorted(got.collect()) == sorted(want.collect())


def test_exact_global_rank_permutation_across_partition_counts(spark):
    """r7 regression: the range partitioner re-samples boundaries per
    ACTION (seed = RDD id), so deriving offsets in one job and ranks in
    another silently corrupted ranks at some partition counts (sf0.1 @
    8 partitions: 5000 rows, 4907 distinct ranks). The fix assigns
    partitions analytically from boundaries collected ONCE; rank must
    be a permutation of 1..N at every partition count."""
    from leftshove_spark.operators.analytic import exact_global_rank

    ev = load_table(spark, SF001, "events").select("event_id", "value")
    n = ev.count()
    for p in (3, 8, 17):
        ranked = exact_global_rank(
            ev, ["value", "event_id"], rank_col="r", total_col="n", num_partitions=p
        )
        agg = ranked.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("r").alias("mn"),
            F.max("r").alias("mx"),
            F.count_distinct("r").alias("nd"),
            F.max("n").alias("tot"),
        ).collect()[0]
        assert (agg["cnt"], agg["mn"], agg["mx"], agg["nd"], agg["tot"]) == (
            n, 1, n, n, n,
        ), f"rank not a permutation at num_partitions={p}: {agg}"


def test_history_view_interval_chain(spark):
    """SCD2 contract: per key the versions chain — valid_to equals the
    NEXT version's valid_from (half-open, no gaps, no overlaps) and
    exactly one row per key is current."""
    from leftshove_spark.sources import load_table
    from leftshove_spark.views import history_view

    o = load_table(spark, SF0001, "orders")
    h = history_view(
        o, "o_custkey", order_col="o_orderdate", tiebreak_cols=["o_orderkey"]
    ).select("o_custkey", "o_orderkey", "valid_from", "valid_to", "is_current")
    rows = h.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["o_custkey"], []).append(r)
    assert by_key
    for key, versions in by_key.items():
        versions.sort(key=lambda r: (r["valid_from"], r["o_orderkey"]))
        assert sum(r["is_current"] for r in versions) == 1
        assert versions[-1]["is_current"] and versions[-1]["valid_to"] is None
        for prev, nxt in zip(versions, versions[1:]):
            assert prev["valid_to"] == nxt["valid_from"]


def test_winsorize_per_row_contract(spark):
    """Winsorize contract, per row against independently recomputed
    group bounds: interior values pass through untouched, values below
    lo land exactly ON lo, values above hi exactly ON hi — and the
    clamp actually fires on this fixture. (Winsorization is NOT
    exactly idempotent: clamping piles mass on the boundary, which
    shifts the interpolated percentile of the clamped distribution a
    hair inward — a property of (n-1)·p interpolation, not a bug.)"""
    from leftshove_spark.operators.analytic import winsorize
    from leftshove_spark.sources import load_table

    ev = load_table(spark, SF0001, "events").select("event_id", "event_type", "value")
    out = winsorize(ev, "value", ["event_type"], lo=0.05, hi=0.95)
    bounds = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.05)").alias("lo"),
            F.expr("percentile(value, 0.95)").alias("hi"),
        )
        .collect()
    }
    clamped = 0
    for r in out.collect():
        lo, hi = bounds[r["event_type"]]
        if r["value"] < lo:
            assert r["value_wins"] == lo
            clamped += 1
        elif r["value"] > hi:
            assert r["value_wins"] == hi
            clamped += 1
        else:
            assert r["value_wins"] == r["value"]
    assert clamped > 0


def test_winsorize_clamps_null_group_rows(spark):
    """r7 advice: a clamp operator must preserve row count — rows whose
    group column is NULL clamp against the NULL group's own bounds
    (groupBy produces one) via the null-safe join, instead of silently
    vanishing through a plain equi-join."""
    from leftshove_spark.operators.analytic import winsorize

    rows = [(i, None if i < 10 else "g", float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = winsorize(df, "v", ["grp"], lo=0.0, hi=0.5)
    got = out.collect()
    assert len(got) == 20  # no rows dropped
    # the NULL group's hi bound is its own median (0..9 -> 4.5), so its
    # large values clamp to 4.5 — proof it matched ITS bounds row
    null_rows = {r["id"]: r["v_wins"] for r in got if r["grp"] is None}
    assert null_rows[9] == 4.5 and null_rows[0] == 0.0


def test_exact_global_rank_binary_search_parity(spark):
    """The WHEN-tree binary-search partition assignment (p > 64) must
    produce exactly the ranks the flat indicator sum produces: the full
    1..N permutation at p ∈ {8, 64, 512} on the same 5000-key input."""
    import pyspark.sql.functions as F
    from leftshove_spark.operators.analytic import exact_global_rank

    df = spark.range(5000).select(
        ((F.col("id") * 2654435761) % 100003).alias("k"), F.col("id")
    )
    want = None
    for p in (8, 64, 512):
        got = exact_global_rank(df, ["k", "id"], rank_col="r", num_partitions=p)
        rows = sorted(
            (r["k"], r["id"], r["r"]) for r in got.collect()
        )
        assert sorted(r[2] for r in rows) == list(range(1, 5001))
        if want is None:
            want = rows
        else:
            assert rows == want


def test_partition_of_linear_equals_binary_search(spark):
    """_partition_of: both forms agree cell-for-cell on a 200-boundary
    grid (forced past and under the switchover) including keys exactly
    AT boundary values (ties go low: pid counts strict key > bound)."""
    import pyspark.sql.functions as F
    from leftshove_spark.operators import analytic as A

    bounds = [F.struct(F.lit(v).alias("v")) for v in range(0, 1000, 5)]
    key = F.struct(F.col("id").alias("v"))
    df = spark.range(-10, 1010)
    lin = A._partition_of(key, bounds[: A._LINEAR_PID_MAX])
    # same prefix through the tree path by forcing the threshold
    tree_all = A._partition_of(key, bounds)  # 200 > 64 -> tree
    # linear twin of the full set, built inline
    lin_all = F.lit(0)
    for b in bounds:
        lin_all = lin_all + (key > b).cast("int")
    out = df.select(
        (tree_all == lin_all).alias("full_eq"),
    )
    assert out.filter(~F.col("full_eq")).count() == 0
    assert df.select((lin == A._partition_of(key, bounds[:64])).alias("e")).filter(
        ~F.col("e")
    ).count() == 0


def test_exact_global_cumsum_matches_global_window(spark):
    """The distributed prefix sum must equal SUM(w) OVER (ORDER BY ...
    ROWS UNBOUNDED PRECEDING) — same running totals, no
    single-partition exchange, and the returned scalar is the grand
    total."""
    from conftest import SF0001
    from leftshove_spark.operators.analytic import exact_global_cumsum_with_total
    from leftshove_spark.sources import load_table
    from pyspark.sql import Window as W
    import pyspark.sql.functions as F

    ev = load_table(spark, SF0001, "events").select("event_id", "ts").filter(
        F.col("event_id") % 2 == 0
    ).withColumn("w", (F.col("event_id") % 7 + 1).cast("long"))
    got, total = exact_global_cumsum_with_total(
        ev, ["ts", "event_id"], "w", cum_col="cum"
    )
    want = ev.withColumn(
        "cum",
        F.sum("w").over(
            W.orderBy("ts", "event_id").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    )
    assert (
        got.select("event_id", "cum")
        .exceptAll(want.select("event_id", "cum"))
        .count()
        == 0
    )
    assert total == ev.agg(F.sum("w")).first()[0]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_mad_outliers_flags_planted_outliers_only(spark):
    """A tight cluster plus planted extremes: exactly the extremes are
    flagged; med/mad match hand-computed discrete medians; NULL group
    keys keep their rows (null-safe joins, winsorize's r8 lesson)."""
    from leftshove_spark.operators.analytic import mad_outliers
    import pyspark.sql.functions as F

    rows = [("a", i, 100 + (i % 5)) for i in range(20)]          # 100..104
    rows += [("a", 100, 5000), ("a", 101, 1)]                    # extremes
    rows += [(None, 200 + i, 10 + i) for i in range(3)]          # NULL group
    df = spark.createDataFrame(rows, "g string, id long, v long")
    out = mad_outliers(df, "v", ["g"])
    assert out.count() == len(rows)  # row count preserved incl. NULL group
    a = {r["id"]: r for r in out.filter("g = 'a'").collect()}
    # sorted values: 1, 100×4,101×4,102×4,103×4,104×4, 5000 → n=22,
    # lower median = 11th = 102; devs sorted: ceil(22/2)=11th dev = 1
    assert a[0]["med"] == 102 and a[0]["mad"] == 1
    flagged = {i for i, r in a.items() if r["is_outlier"]}
    assert flagged == {100, 101}
    nullg = out.filter("g IS NULL").collect()
    assert len(nullg) == 3 and {r["med"] for r in nullg} == {11}

    # plan pin: the whole operator rides ONE group-key exchange —
    # stacked same-partitioning windows, no join-backs, no re-scan
    import re

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_exact_global_cumsum_rejects_null_weights(spark):
    """NULL weights must raise from the summary pass, not corrupt the
    prefix sum or crash with a bare TypeError."""
    import pytest

    from leftshove_spark.operators.analytic import exact_global_cumsum

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7)], "id long, w long"
    )
    with pytest.raises(ValueError, match="NULL values in weight"):
        exact_global_cumsum(df, ["id"], "w")


def test_ols_trend_exact_line_and_degenerate_groups(spark):
    """X58 properties: a perfect line recovers slope/intercept/r
    exactly (the ratios are exact in IEEE for these integers); a
    constant-x group and a singleton group emit NULLs, never inf/NaN."""
    import pyspark.sql.functions as F

    from leftshove_spark.operators.analytic import ols_trend

    rows = (
        [("line", x, 2 * x + 5) for x in range(100)]
        + [("constx", 7, y) for y in range(10)]
        + [("single", 3, 9)]
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {
        r["g"]: r.asDict()
        for r in ols_trend(df, F.col("x"), F.col("y"), ["g"]).collect()
    }
    assert out["line"]["slope"] == 2.0
    assert out["line"]["intercept"] == 5.0
    # sqrt(den)·sqrt(deny) ≠ sqrt(den·deny) in floats — r lands one
    # ulp shy of 1.0 on a perfect line; DETERMINISTICALLY so (the
    # repartition-invariance assertion below still demands equality)
    assert abs(out["line"]["pearson_r"] - 1.0) < 1e-12
    assert out["constx"]["slope"] is None
    assert out["constx"]["pearson_r"] is None
    assert out["single"]["slope"] is None
    # degenerate NULLs are NOT flagged as overflow (ADVICE r10: the two
    # NULL causes must be distinguishable)
    assert all(out[g]["overflowed"] is False for g in ("line", "constx", "single"))
    # partitioning-invariance: the statistics are order-free integers
    out2 = {
        r["g"]: r.asDict()
        for r in ols_trend(
            df.repartition(7), F.col("x"), F.col("y"), ["g"]
        ).collect()
    }
    assert out == out2


def test_ols_trend_overflow_is_flagged_not_silent(spark):
    """A group whose covariance terms exceed int64 (quantization
    envelope violated) emits NULL ratios AND ``overflowed = True`` —
    distinguishable from degenerate-group NULLs (ADVICE r10). y values
    ~3e18 make n·Σy² ≈ 2.7e37 > 2^63 while staying inside
    decimal(38,0)."""
    import pyspark.sql.functions as F

    from leftshove_spark.operators.analytic import ols_trend

    big = 3_000_000_000_000_000_000  # ~3e18, near int64 max
    # alternating ±big: n·Σy² − (Σy)² = 8·big² ≈ 7.2e37 — inside
    # decimal(38,0), outside int64 (the silent-wrong-double zone)
    rows = [("huge", x, big if x % 2 == 0 else -big) for x in range(3)] + [
        ("ok", x, 2 * x) for x in range(3)
    ]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {
        r["g"]: r.asDict()
        for r in ols_trend(df, F.col("x"), F.col("y"), ["g"]).collect()
    }
    assert out["huge"]["overflowed"] is True
    assert out["huge"]["slope"] is None
    assert out["huge"]["pearson_r"] is None
    assert out["ok"]["overflowed"] is False
    assert out["ok"]["slope"] == 2.0
