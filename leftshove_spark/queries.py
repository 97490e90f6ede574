"""Query registry — every operator from SURVEY.md §2 (+ §7 Phase-5
extensions) as a named (PySpark builder, DuckDB oracle SQL) pair.

Contract (driver): ``QUERIES[name](spark, sf_dir) -> DataFrame`` and
``ORACLES[name]`` = ANSI SQL DuckDB runs over the same parquet (views
pre-registered per table name). The driver compares row count + schema +
order-insensitive value hash, sorting columns by name — so every computed
column is aliased identically on both sides.

Determinism rules used throughout:
- snapshot stamps use fixed literals (the runtime engine path uses
  ``current_timestamp()``; tests must be reproducible).
- float aggregates are rounded on BOTH sides (doubles summed in different
  partition orders differ at ~1e-12 relative; rounding absorbs it).
- list aggregations are sorted before serialization.
- arithmetic on float columns casts to double FIRST on both sides so both
  engines compute identical IEEE doubles.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import views
from .operators import analytic as A
from .operators import relational as R
from .operators import temporal as T
from .snapshot import (
    build_capture,
    munge_timestamp_to_min,
    munge_timestamp_to_null,
    window_predicate,
)
from .sources import estimate_bytes, estimate_rows, load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
# Oracle SQL per query. Values are strings, or zero-arg callables for
# oracles too expensive to build at import time (x_bpe_5k_vocab trains
# a 5,000-rank vocabulary from the sf0.01 corpus) — resolve through
# :func:`oracle`, never by reading this dict directly.
ORACLES: dict[str, str] = {}
_ORACLE_MEMO: dict[str, str] = {}


def oracle(name: str) -> str:
    """The oracle SQL for ``name``, resolving (and memoizing) lazily
    generated entries. Every consumer — oracle_sql(), check_oracle,
    the tail test, the type lint — goes through here so a callable
    entry behaves exactly like a plain string everywhere."""
    v = ORACLES[name]
    if callable(v):
        if name not in _ORACLE_MEMO:
            _ORACLE_MEMO[name] = v()
        return _ORACLE_MEMO[name]
    return v

# Registered (usable, benched, pytest-covered) but withheld from the
# driver's correctness gate, which scores at most ~50 entries (r2 cut at
# exactly 50/56). Each exclusion is redundant FOR COVERAGE only:
#   j3_dedup_latest_semijoin — alternate form of J3; the window form is
#     the gated one, and pytest proves the two forms identical.
#   x_text_stats — its full output (all stat columns) is a strict subset
#     of the gated x_quality_filter rows (X8 = stats + gate, one row).
#   (q3_shipping_priority was excluded r6-r8 as a bench extra; re-gated
#   in r9 — its only driver rows were stale r1/r2 hash-reds and the
#   query passes its oracle, so the green row should be on record.)
GATE_EXCLUDE = frozenset({"j3_dedup_latest_semijoin", "x_text_stats"})

# Gate schedule: cheapest queries first (measured at sf0.01) so a
# time-budgeted gate scores the maximum number of rows before any cut;
# names absent from this list (future additions) are appended in
# registration order. Entries past the gate's row cut are still
# oracle-checked on every pytest pass by tests/test_gate_tail_oracle.py.
GATE_ORDER = [
    "x_knn_rotated_index",
    "q19_disjunctive_filter",
    "o3_topk_per_group",
    "o2_rollup_pricing",
    "s2_salted_join_agg",
    "t2_range_join_sliding_windows",
    "f1_window_predicate",
    "f2_f6_capture_projection",
    "x_pipeline_curation",
    "x_decontaminate_attributed",
    "x_contamination_report_ngram",
    "x_bpe_50k_vocab",
    "x_decontaminate",
    "x_decontaminate_semantic",
    "x_decontaminate_semantic_ivf",
    "x_current_state_materialized",
    "w21_rollup_incremental",
    "w22_corpus_stats_incremental",
    "p1_pivot_event_counts",
    "q4_order_priority",
    "j4_full_outer_reconcile",
    "s1_set_ops_customers",
    "q14_promo_revenue",
    "w9_session_window",
    "o5_stats_battery",
    "j1_left_join_orders_customer",
    "j2_inner_join_lineitem_orders",
    "a3_agg_string_list",
    "j3_dedup_latest_window",
    "x_dedup_simhash",
    "x_bpe_token_counts",
    "x_lm_quality_score",
    "x_split_by_component",
    "x_trend_ols",
    "x_knn_pq",
    "x_knn_pq_rerank",
    "q16_supplier_part_counts",
    "q22_dormant_customers",
    "q21_latest_shipper",
    "q7_volume_shipping",
    "o6_grouping_sets",
    "w15_window_battery",
    "c16_json_null_battery",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "c17_temporal_battery",
    "c18_string_battery",
    "w19_nav_battery",
    "c19_math_battery",
    "x_chunk_documents",
    "x_epoch_shuffle",
    "x_token_budget_cap",
    "t3_asof_join_bucketed",
    "x_snapshot_diff",
    "x_zorder_layout",
    "x_retention_policy",
    "j7_temporal_join",
    "x_dedup_cc_incremental",
    "x_dedup_connected_components",
    "x_multimodal_decode",
    "x_multimodal_frames",
    "q12_shipmode_priority",
    "x_hash_split",
    "x_pii_scan",
    "x_vocab_topk",
    "x_pack_sequences",
    "x_funnel_conversion",
    "x_cohort_retention",
    "x_repetition",
    "x_dedup_embedding_lsh",
    "q2_min_cost_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "x_dedup_maximal_spans",
    "x_bm25_search",
    "x_temperature_mixture",
    "x_target_affinity",
    "x_dsir_sample",
    "x_pagerank_dedup",
    "q3_shipping_priority",
    "x_dedup_substring",
    "x_dedup_substring_spans",
    "c20_unicode_battery",
    "x_dedup_substring_redact",
    "x_dataset_fingerprint",
    "x_split_leakage",
    "x_kmv_distinct",
    "x_kmv_jaccard",
    "x_weighted_sample",
    "x_quantile_sketch",
    "x_outlier_mad",
    "k13_bloom_prune_join",
    "x_interleave_sources",
    "x_stratified_pps",
    "w17_range_frame_battery",
    "x_dedup_index_incremental",
    "s3_salted_agg",
    "x_ann_recall_lsh",
    "x_profile_columns",
    "x_tfidf_search",
    "x_hybrid_search_rrf",
    "x_dedup_jaccard_exact",
    "x_dedup_minhash_recall",
    "x_winsorize",
    "j5_scd2_history",
    "j6_asof_state",
    "x_compact_state_transparent",
    "x_sample_k_per_group",
    "k5_skew_diagnostics",
    "x_integrity_check",
    "x_quality_deciles",
    "x_dedup_embedding_cosine",
    "q20_heavy_shippers",
    "x_mixture_sample",
    "o7_percentile_battery",
    "x_bpe_train",
    "x_bpe_5k_vocab",
    "x_bpe_encode",
    "x_contamination_report",
    "x_knn_ivf",
    "x_ann_recall",
    "x_knn_ivfadc",
    "x_knn_ivfadc_rerank",
    "x_ann_recall_ivfadc",
    "x_semdedup",
    "x_hard_negatives",
    "x_token_counts",
    "x_multimodal_meta",
    "q6_forecast_revenue",
    "c_hof_array_battery",
    "a2_max_group_by",
    "x_dedup_exact",
    "w10_hopping_window_agg",
    "a4_agg_json_list",
    "x_fingerprint",
    "f3_array_to_json",
    "c_scalar_battery",
    "f4_f5_munge_ts",
    "a1_a5_scan_aggregates",
    "cdc_at_least_once_dedup",
    "x_dedup_minhash_lsh",
    "t1_asof_join_latest_order",
    "x_dedup_resolution",
    "x_knn_lsh",
    "x_dedup_ngram_jaccard",
    "x_quality_filter",
    "q5_local_supplier_volume",
    "w8_stream_tumbling_window",
    "w7_tumbling_window_agg",
    "o1_f8_filter_order",
    "q10_returned_items",
    "q1_pricing_summary",
    "x_knn_bruteforce",
    "o4_cube_pricing",
    "x_lang_id",
    "q18_large_volume_orders",
]


def gate_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The dict the driver's correctness gate sees: GATE_EXCLUDE removed,
    cheap-first GATE_ORDER applied (dict order = scoring order)."""
    names = [n for n in GATE_ORDER if n in QUERIES and n not in GATE_EXCLUDE]
    names += [n for n in QUERIES if n not in names and n not in GATE_EXCLUDE]
    return {n: QUERIES[n] for n in names}


def _dec4(c: str):
    """Exact decimal view of a 2-decimal monetary double. Both engines cast
    double→decimal(18,4) with identical round-half-up, and all downstream
    arithmetic is exact — eliminating the cross-engine half-cent rounding
    ambiguity that double sums hit (monetary data lands on exact .005
    boundaries constantly)."""
    return F.col(c).cast("decimal(18,4)")


def _disc_price():
    """l_extendedprice * (1 - l_discount) in exact decimal, re-scaled to 6."""
    one = F.lit(1).cast("decimal(18,4)")
    return (_dec4("l_extendedprice") * (one - _dec4("l_discount"))).cast("decimal(18,6)")


# SQL twin of _disc_price()
_DISC_PRICE_SQL = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (1 - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(18,6))"
)


def _cents(c: str):
    """Monetary double → exact int64 cents. The fixed-point fast path for
    exact aggregation: the fixture's monetary columns carry exactly 2
    decimal digits, so ``round(x*100)`` is a lossless quantization and
    every downstream sum/product is exact integer arithmetic — order
    independent like decimal, but it stays inside whole-stage codegen
    (Spark's DecimalType aggregation drops to BigDecimal per row;
    measured 8× slower on the q1 scan). Overflow headroom: int64 carries
    a cents×cents×cents product summed over ~10^12 rows; per-SF bounds
    in q1's docstring."""
    return F.round(F.col(c) * 100).cast("long")


def _cents_sql(c: str) -> str:
    return f"CAST(round({c} * 100) AS BIGINT)"


def _disc_price_cents():
    """l_extendedprice * (1 - l_discount) in exact int64 fixed point
    (scale 10^4) — the codegen-fast twin of :func:`_disc_price` for the
    throughput-headline aggregations (see q1's docstring)."""
    return _cents("l_extendedprice") * (F.lit(100).cast("long") - _cents("l_discount"))

# Broadcast gate: BYTES first (the real executor-memory constraint —
# an explicit F.broadcast hint bypasses Spark's own size threshold
# entirely, so a wide-string 10M-row "dimension" would be a multi-GB
# broadcast under a row gate), estimated uncompressed from the parquet
# footers; the row cap stays as a backstop for footers that under-report
# byte size (dictionary-heavy encodings).
_BROADCAST_MAX_BYTES = 256 * 1024 * 1024
_BROADCAST_MAX_ROWS = 10_000_000


def _maybe_broadcast(df: DataFrame, sf: str, table: str) -> DataFrame:
    """Broadcast hint gated on parquet footer stats: tables that are
    dimension-sized at test SF but SCALE with the data (customer,
    supplier, part) must not be unconditionally broadcast — at 100 TB
    the hint becomes an executor OOM. Under both the ~256MB estimated
    uncompressed bytes gate and the row backstop, the fact side never
    shuffles for the join; over either, the hint is dropped and AQE
    chooses from runtime sizes."""
    p = os.path.join(sf, f"{table}.parquet")
    if estimate_bytes(p) <= _BROADCAST_MAX_BYTES and (
        estimate_rows(p) <= _BROADCAST_MAX_ROWS
    ):
        return F.broadcast(df)
    return df


def _scratch_result(spark, df, scratch_dir: str):
    """Materialize a gate result that reads from throwaway sink state,
    detach it (rebuild from the collected rows), and remove the
    scratch dir — gate queries run on every driver/oracle/pytest pass
    and must not accumulate temp directories. Gate outputs are
    O(groups) rows by contract, so the collect is control-plane
    sized."""
    import shutil

    rows = df.collect()
    out = spark.createDataFrame(rows, df.schema)
    shutil.rmtree(scratch_dir, ignore_errors=True)
    return out


def _q(name: str, oracle=None):  # oracle: str | () -> str | None
    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapped(spark, sf):
            # gate consumers (driver, check_oracle, tail test, bench)
            # run queries SEQUENTIALLY and collect each before calling
            # the next — so releasing the PREVIOUS query's pinned
            # intermediates here bounds cache leakage to one query's
            # pins across an arbitrarily long gate run. (A pin created
            # inside this call survives until the caller collects and
            # the next query enters.)
            from leftshove_spark.ext import cache as _pin_cache

            _pin_cache.release_pins()
            return fn(spark, sf)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# =========================================================================
# J3 — current-state dedup view (the flagship; bigquery.go:187-207)
# =========================================================================

@_q(
    "j3_dedup_latest_window",
    """
    SELECT event_id, ts, user_id, event_type, value, props FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def j3_dedup_latest_window(spark: SparkSession, sf: str) -> DataFrame:
    """Latest event per user — window form of the reference's current-state
    view (J3). One shuffle on the key; the right plan at 100 TB."""
    ev = load_table(spark, sf, "events")
    return views.latest_per_key_window(ev, "user_id", order_col="ts", tiebreak_cols=["event_id"])


@_q(
    "j5_scd2_history",
    """
    WITH v AS (
      SELECT o_orderkey, o_custkey, o_orderdate,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
               AS valid_to
      FROM orders)
    SELECT o_orderkey, o_custkey,
           o_orderdate AS valid_from,
           valid_to,
           valid_to IS NULL AS is_current
    FROM v
    """,
)
def j5_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD-Type-2 history view — every version per key with half-open
    [valid_from, valid_to) validity intervals and an is_current flag,
    the "what did this row say at time T" companion of the
    current-state view (J3). Same single (key, order) window as the
    dedup view, so history costs exactly what current-state costs; see
    :func:`views.history_view`."""
    o = load_table(spark, sf, "orders")
    out = views.history_view(
        o, "o_custkey", order_col="o_orderdate", tiebreak_cols=["o_orderkey"]
    )
    return out.select(
        "o_orderkey", "o_custkey", "valid_from", "valid_to", "is_current"
    )


@_q(
    "j6_asof_state",
    """
    WITH v AS (
      SELECT o_orderkey, o_custkey, o_orderdate AS valid_from,
             lead(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey)
               AS valid_to
      FROM orders)
    SELECT o_orderkey, o_custkey, valid_from, valid_to
    FROM v
    WHERE valid_from <= TIMESTAMP '1997-06-01 00:00:00'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '1997-06-01 00:00:00')
    """,
)
def j6_asof_state(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time state — "which version was current at T" over the
    SCD2 history (one row per key that existed by T), WITH the validity
    interval columns. Scan note: deriving history on the fly, the
    lead() window blocks predicate pushdown (verified: PushedFilters
    empty) — pruning applies when the filter hits a MATERIALIZED
    history table; when intervals aren't needed, ``views.state_at`` is
    the pushdown fast path (filter ≤ T first, then latest-per-key —
    provably identical rows, predicate reaches the scan; pytest pins
    both claims). Completes the current-state (J3) / full-history (J5)
    / as-of (J6) triad every CDC consumer needs."""
    o = load_table(spark, sf, "orders")
    h = views.history_view(
        o, "o_custkey", order_col="o_orderdate", tiebreak_cols=["o_orderkey"]
    )
    return views.as_of(h, datetime(1997, 6, 1)).select(
        "o_orderkey", "o_custkey", "valid_from", "valid_to"
    )


@_q(
    "j3_dedup_latest_semijoin",
    """
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props
    FROM events e
    JOIN (SELECT user_id, max(ts) AS ts FROM events GROUP BY user_id) m
      ON e.user_id = m.user_id AND e.ts = m.ts
    """,
)
def j3_dedup_latest_semijoin(spark: SparkSession, sf: str) -> DataFrame:
    """Tuple-IN form, literal translation of bigquery.go:190-192 (keeps
    ties at max). Kept for parity; the window form is preferred."""
    ev = load_table(spark, sf, "events")
    out = views.latest_per_key_semijoin(ev, "user_id", order_col="ts")
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props")


# =========================================================================
# F1–F6 — the capture projection/filter surface (postgres.go:43-115)
# =========================================================================

@_q(
    "f1_window_predicate",
    """
    SELECT * FROM events
    WHERE ts > TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def f1_window_predicate(spark: SparkSession, sf: str) -> DataFrame:
    """F1 — the half-open NMS window (postgres.go:52-53). Pushed to the
    parquet scan (row-group min/max skipping)."""
    ev = load_table(spark, sf, "events")
    return ev.filter(window_predicate("ts", datetime(2024, 1, 10), datetime(2024, 1, 20)))


@_q(
    "f4_f5_munge_ts",
    """
    SELECT event_id,
           CASE WHEN ts < TIMESTAMP '2024-01-05 00:00:00' THEN NULL ELSE ts END AS ts_null,
           CASE WHEN ts < TIMESTAMP '2024-01-05 00:00:00'
                THEN TIMESTAMP '2024-01-05 00:00:00' ELSE ts END AS ts_min
    FROM events
    """,
)
def f4_f5_munge_ts(spark: SparkSession, sf: str) -> DataFrame:
    """F4 + F5 in one gate row — both timestamp munges side by side:
    invalid→NULL (postgres.go:72-92) and clamp-to-minimum
    (postgres.go:80-100). One projection covers both operators; the
    operator functions themselves (snapshot.py) stay the engine API."""
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        munge_timestamp_to_null("ts", "2024-01-05 00:00:00").alias("ts_null"),
        munge_timestamp_to_min("ts", "2024-01-05 00:00:00").alias("ts_min"),
    )


@_q(
    "f3_array_to_json",
    """
    SELECT vec_id,
           CAST(to_json(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS VARCHAR)
             AS embedding_json
    FROM embeddings
    """,
)
def f3_array_to_json(spark: SparkSession, sf: str) -> DataFrame:
    """F3 — array→JSON rewrite (postgres.go:59-60): the stringified form
    arrays take at the reference's NDJSON boundary. Values quantized to
    integers (double IEEE math on both sides) so the serialization is
    engine-independent."""
    em = load_table(spark, sf, "embeddings")
    quantized = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1000).cast("long")
    )
    return em.select("vec_id", F.to_json(quantized).alias("embedding_json"))


@_q(
    "f2_f6_capture_projection",
    """
    SELECT event_id,
           CASE WHEN ts < TIMESTAMP '2024-01-05 00:00:00' THEN NULL ELSE ts END AS ts,
           user_id, event_type, value, props,
           TIMESTAMP '2026-01-01 00:00:00' AS snapshot_tm
    FROM events
    WHERE ts > TIMESTAMP '2024-01-05 00:00:00' AND ts <= TIMESTAMP '2024-01-25 00:00:00'
    """,
)
def f2_f6_capture_projection(spark: SparkSession, sf: str) -> DataFrame:
    """F2+F4+F6 composed — one full capture SELECT exactly as the generated
    snapshot query shapes it (postgres.go:43-115): every column in ordinal
    order, munging applied, snapshot_tm appended. Fixed stamp for
    determinism (runtime uses now(), postgres.go:50)."""
    ev = load_table(spark, sf, "events")
    return build_capture(
        ev,
        "ts",
        datetime(2024, 1, 5),
        datetime(2024, 1, 25),
        munge_to_null=True,
        min_ts="2024-01-05 00:00:00",
        snapshot_at=datetime(2026, 1, 1),
    )


# =========================================================================
# CDC end-to-end semantics: at-least-once + dedup (W5/W7 + J3)
# =========================================================================

@_q(
    "cdc_at_least_once_dedup",
    """
    WITH w1 AS (
      SELECT *, TIMESTAMP '2026-01-01 00:00:00' AS snapshot_tm FROM events
      WHERE ts > TIMESTAMP '2023-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-15 00:00:00'
    ), w2 AS (
      SELECT *, TIMESTAMP '2026-01-02 00:00:00' AS snapshot_tm FROM events
      WHERE ts > TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-02-01 00:00:00'
    ), cdc AS (
      SELECT * FROM w1 UNION ALL SELECT * FROM w2
    )
    SELECT event_id, ts, user_id, event_type, value, props, snapshot_tm FROM (
      SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY snapshot_tm DESC) AS rn
      FROM cdc
    ) WHERE rn = 1
    """,
)
def cdc_at_least_once_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's delivery model in one query (SURVEY.md §2.10 W5): a
    failed commit re-captures an overlapping window ⇒ duplicate rows in
    the append-only sink; the current-state view (J3) resolves them to
    exactly-once semantics. Window 2 deliberately overlaps window 1 on
    (01-10, 01-15]."""
    ev = load_table(spark, sf, "events")
    lo = datetime(2023, 1, 1)
    w1 = build_capture(ev, "ts", lo, datetime(2024, 1, 15), snapshot_at=datetime(2026, 1, 1))
    w2 = build_capture(
        ev, "ts", datetime(2024, 1, 10), datetime(2024, 2, 1), snapshot_at=datetime(2026, 1, 2)
    )
    cdc = w1.unionAll(w2)
    return views.latest_per_key_window(cdc, "event_id", order_col="snapshot_tm")


# =========================================================================
# J1/J2 — equi-joins (postgres.go:124-128, 168-173) recast on TPC-H dims
# =========================================================================

@_q(
    "j1_left_join_orders_customer",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def j1_left_join_orders_customer(spark: SparkSession, sf: str) -> DataFrame:
    """J1 — left equi-join, dimension side broadcast (customer is the
    dimension: at 100 TB the orders fact never shuffles for this)."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    return R.left_equi_join(
        o, c, on=o.o_custkey == c.c_custkey, broadcast_right=True
    ).select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@_q(
    "j2_inner_join_lineitem_orders",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_orderdate, o.o_orderpriority
    FROM lineitem l INNER JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    """,
)
def j2_inner_join_lineitem_orders(spark: SparkSession, sf: str) -> DataFrame:
    """J2 — inner equi-join fact⋈fact. No broadcast hint: both sides scale
    with SF, so this is a shuffle (sort-merge / AQE-chosen) join on the
    natural key; the o_orderstatus filter pushes to the orders scan first."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderstatus") == "O")
    return R.inner_equi_join(li, o, on=li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "o_orderdate", "o_orderpriority"
    )


# =========================================================================
# A1–A5 aggregates, O1 sort, F7/F8 filters
# =========================================================================

@_q("a1_a5_scan_aggregates", "SELECT min(ts) AS min_nms, count(*) AS n FROM events")
def a1_a5_scan_aggregates(spark: SparkSession, sf: str) -> DataFrame:
    """A1 + A5 in one gate row — seed watermark MIN(nms) (postgres.go:193)
    and the row count (postgres.go:144-149) as one full-scan aggregate;
    both are answered from parquet footer stats under aggregate pushdown.
    The single-purpose operators (relational.py min_watermark/row_count)
    stay the engine API and are pytest-covered."""
    ev = load_table(spark, sf, "events")
    return ev.agg(F.min("ts").alias("min_nms"), F.count(F.lit(1)).alias("n"))


@_q("a2_max_group_by", "SELECT user_id, max(ts) AS max_ts FROM events GROUP BY user_id")
def a2_max_group_by(spark: SparkSession, sf: str) -> DataFrame:
    """A2 — MAX per key (the dedup view's inner aggregate, bigquery.go:190)."""
    return R.max_per_key(load_table(spark, sf, "events"), "user_id", "ts")


@_q(
    "a3_agg_string_list",
    """
    SELECT l_orderkey,
           string_agg(CAST(l_linenumber AS VARCHAR), ', ' ORDER BY CAST(l_linenumber AS VARCHAR))
             AS agg_list
    FROM lineitem GROUP BY l_orderkey
    """,
)
def a3_agg_string_list(spark: SparkSession, sf: str) -> DataFrame:
    """A3 — ARRAY_TO_STRING(ARRAY_AGG(...)) GROUP BY (postgres.go:47-49)."""
    return R.agg_string_list(load_table(spark, sf, "lineitem"), ["l_orderkey"], "l_linenumber")


@_q(
    "a4_agg_json_list",
    """
    SELECT event_type, CAST(to_json(list_sort(list(event_id))) AS VARCHAR) AS agg_json
    FROM events GROUP BY event_type
    """,
)
def a4_agg_json_list(spark: SparkSession, sf: str) -> DataFrame:
    """A4 — array_agg(...) serialized as one JSON doc per group
    (postgres.go:166-178)."""
    return R.agg_json_list(load_table(spark, sf, "events"), ["event_type"], "event_id")


@_q(
    "o1_f8_filter_order",
    """
    SELECT event_id, event_type, ts FROM events
    WHERE event_type NOT IN ('error', 'signup')
    ORDER BY event_type, event_id
    """,
)
def o1_f8_filter_order(spark: SparkSession, sf: str) -> DataFrame:
    """O1 + F8 in one gate row — the exclusion-list filter (unlogged-table
    exclusion analog, postgres.go:227-237) under a deterministic ORDER BY
    (postgres.go:66). The NOT IN pushes to the scan; the global sort is
    range partition + local sort — fine for bounded outputs, avoided in
    the data plane otherwise."""
    ev = load_table(spark, sf, "events")
    return (
        R.anti_membership(ev, "event_type", ["error", "signup"])
        .select("event_id", "event_type", "ts")
        .orderBy("event_type", "event_id")
    )


# =========================================================================
# C battery — every scalar the reference computes (SURVEY.md §2.8)
# =========================================================================

@_q(
    "c_scalar_battery",
    """
    SELECT l_orderkey, l_linenumber,
           concat(l_returnflag, '_', l_linestatus) AS flag_status,
           CAST(l_orderkey AS VARCHAR) AS okey_str,
           (l_returnflag LIKE 'A%') AS flag_like_a,
           CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS qty_class,
           round(l_extendedprice * (1 - l_discount), 4) AS disc_price,
           TIMESTAMP '2024-03-01 00:00:00' AS fixed_ts,
           CAST(to_json(struct_pack(l_orderkey := l_orderkey, l_linenumber := l_linenumber))
                AS VARCHAR) AS row_json
    FROM lineitem
    """,
)
def c_scalar_battery(spark: SparkSession, sf: str) -> DataFrame:
    """C1/C3/C4/C7/C8/C9/C10 in one projection (SURVEY.md §2.8): concat,
    cast, LIKE, CASE WHEN, arithmetic, to_timestamp literal,
    row_to_json(struct). All JVM-side codegen expressions."""
    li = load_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.concat(F.col("l_returnflag"), F.lit("_"), F.col("l_linestatus")).alias("flag_status"),
        F.col("l_orderkey").cast("string").alias("okey_str"),
        F.col("l_returnflag").like("A%").alias("flag_like_a"),
        F.when(F.col("l_quantity") > 25, "big").otherwise("small").alias("qty_class"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("disc_price"),
        F.to_timestamp(F.lit("2024-03-01 00:00:00"), "yyyy-MM-dd HH:mm:ss").alias("fixed_ts"),
        F.to_json(F.struct("l_orderkey", "l_linenumber")).alias("row_json"),
    )


# =========================================================================
# Headline analytics (bench queries) — TPC-H-style over the star schema
# =========================================================================

@_q(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum({_cents_sql("l_quantity")}) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(sum({_cents_sql("l_extendedprice")}) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(sum({_cents_sql("l_extendedprice")} * (100 - {_cents_sql("l_discount")}))
                AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(sum({_cents_sql("l_extendedprice")} * (100 - {_cents_sql("l_discount")})
                    * (100 + {_cents_sql("l_tax")})) AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(sum({_cents_sql("l_quantity")}) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
           CAST(sum({_cents_sql("l_extendedprice")}) AS DOUBLE) / 100.0 / count(*) AS avg_price,
           CAST(sum({_cents_sql("l_discount")}) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape — the pricing-summary scan+agg. Map-side partial
    aggregation over ~4 groups: the shuffle moves O(groups×partitions)
    rows regardless of SF, which is why this is the throughput headline.

    Cross-engine determinism AND throughput via fixed-point int64: the
    2dp monetary columns quantize losslessly to cents, every sum and
    product is exact integer arithmetic (order-independent, like the
    previous exact-decimal form), and the final columns descale in IEEE
    double — both engines perform the identical exact-int→double
    conversion (unscaled < 2^53 at gate SF) and division, so results
    are bit-equal. Unlike DecimalType aggregation (BigDecimal per row —
    measured 8× slower on this scan) the whole pipeline stays inside
    whole-stage codegen; this is exactly how columnar engines execute
    DECIMAL(12,2) internally. Overflow bounds: the widest term (cents³
    ≈ 10^11/row for sum_charge) stays exact in int64 through ~10^7 rows
    per group — i.e. through sf10 single-group worst case; past that,
    pre-aggregate per sub-key or fall back to exact decimal."""
    li = load_table(spark, sf, "lineitem")
    cnt = F.count(F.lit(1))
    qty, px, dc, tx = (
        _cents(c) for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    )
    hundred = F.lit(100).cast("long")
    dp = px * (hundred - dc)  # discounted price, fixed-point scale 10^4
    ch = dp * (hundred + tx)  # charge, fixed-point scale 10^6
    return (
        li.filter(F.col("l_shipdate") <= F.lit(datetime(2000, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty) / F.lit(100.0)).alias("sum_qty"),
            (F.sum(px) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(dp) / F.lit(10000.0)).alias("sum_disc_price"),
            (F.sum(ch) / F.lit(1000000.0)).alias("sum_charge"),
            (F.sum(qty) / F.lit(100.0) / cnt).alias("avg_qty"),
            (F.sum(px) / F.lit(100.0) / cnt).alias("avg_price"),
            (F.sum(dc) / F.lit(100.0) / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@_q(
    "q3_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           CAST(sum({_cents_sql("l.l_extendedprice")}
                    * (100 - {_cents_sql("l.l_discount")})) AS DOUBLE) / 10000.0
             AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    """,
)
def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape — selective dim filter broadcast into a fact join.
    customer(filtered) is broadcast; orders⋈lineitem shuffles on
    o_orderkey which is also the aggregation key, so the groupBy reuses
    the join's partitioning (no extra shuffle)."""
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit(datetime(1998, 3, 15))
    )
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit(datetime(1998, 3, 15))
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg((F.sum(_disc_price_cents()) / F.lit(10000.0)).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@_q(
    "q5_local_supplier_volume",
    f"""
    SELECT n.n_name,
           CAST(sum({_cents_sql("l.l_extendedprice")}
                    * (100 - {_cents_sql("l.l_discount")})) AS DOUBLE) / 10000.0
             AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape — 6-way join. region/nation always broadcast (fixed
    tiny cardinality); customer and supplier SCALE with SF, so their
    broadcast hints are gated on a footer-stats row estimate — under the
    threshold the fact side never shuffles for them, over it the hint is
    dropped and AQE picks the strategy from runtime sizes. The only
    unconditional shuffle is orders⋈lineitem on orderkey."""
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf, "nation")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1998, 1, 1)))
    )
    li = load_table(spark, sf, "lineitem")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        o.join(_maybe_broadcast(dim, sf, "customer"), o.o_custkey == dim.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            _maybe_broadcast(s, sf, "supplier"),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg((F.sum(_disc_price_cents()) / F.lit(10000.0)).alias("revenue"))
    )


@_q(
    "o4_cube_pricing",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def o4_cube_pricing(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (returnflag, linestatus) — all four grouping sets in ONE
    pass: Spark expands each input row to its grouping-set combinations
    map-side and partially aggregates before the single shuffle, so the
    exchange still moves O(groups×partitions) rows, not O(rows)."""
    li = load_table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec4("l_quantity")).cast("double").alias("sum_qty"),
    )


@_q(
    "o5_stats_battery",
    """
    SELECT l_returnflag,
           median(l_quantity) AS med_qty,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           count(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
)
def o5_stats_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Statistical aggregate battery — exact interpolated median (both
    engines average the two middle elements on even counts), sample
    stddev and Pearson correlation (double accumulators, rounded on both
    sides to absorb partition-order float noise), and exact COUNT
    DISTINCT (expand+two-phase agg — never a driver-side distinct).
    Median is the one sort-based agg: Spark shuffles each group's values
    once; for percentile-at-scale use approx_percentile (tested in
    pytest with tolerance — not oracle-comparable by construction)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.count_distinct("l_suppkey").alias("n_suppliers"),
    )


@_q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape — EXISTS decorrelated to a LEFT SEMI join (the
    fixture's lineitem has no commit/receipt dates, so "late" is shipped
    after the order date — same correlated-predicate shape). The semi
    join hashes on orderkey and emits each order at most once — no
    dedup pass, no row multiplication; the agg then shuffles ~5 groups."""
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 1, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1996, 7, 1)))
    )
    li = load_table(spark, sf, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_q(
    "q6_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape — pure scan+filter+agg, the predicate-pushdown
    showcase: all three filters reach the parquet scan (row-group stats
    prune whole chunks by shipdate), the projection reads 4 columns, and
    the single global sum moves one partial row per partition. The
    double-literal discount bounds compare bit-identically in both
    engines; the revenue sum is exact decimal."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(datetime(1996, 1, 1)))
            & (F.col("l_shipdate") < F.lit(datetime(1997, 1, 1)))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec4("l_extendedprice") * _dec4("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )


@_q(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           CAST(sum({_DISC_PRICE_SQL.replace('l_', 'l.l_')}) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    """,
)
def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape — returned-item revenue per customer. The quarter
    filter prunes orders at the scan; orders⋈lineitem shuffles on
    orderkey; customer (scales with SF) joins under the footer-stats
    broadcast gate, nation unconditionally broadcast; final agg shuffles
    on custkey. Two fact shuffles total — the minimum for this shape."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    o = load_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit(datetime(1996, 10, 1)))
        & (F.col("o_orderdate") < F.lit(datetime(1997, 1, 1)))
    )
    li = load_table(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .join(_maybe_broadcast(cn, sf, "customer"), o.o_custkey == cn.c_custkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@_q(
    "q14_promo_revenue",
    f"""
    SELECT 100.00 * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN {_DISC_PRICE_SQL.replace('l_', 'l.l_')}
                                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
                  / CAST(sum({_DISC_PRICE_SQL.replace('l_', 'l.l_')}) AS DOUBLE)
             AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape — promo revenue share. part scales with SF, so its
    broadcast rides the footer-stats gate; under it the filtered
    lineitem month never shuffles at all (map-side hash probe + single
    global agg). The percentage divides the two exact-decimal sums in
    IEEE double on both engines — bit-equal."""
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(datetime(1996, 9, 1)))
        & (F.col("l_shipdate") < F.lit(datetime(1996, 10, 1)))
    )
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast("decimal(18,6)")
    promo = F.when(F.col("p_type").like("PROMO%"), _disc_price()).otherwise(zero)
    return (
        li.join(_maybe_broadcast(p, sf, "part"), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(_disc_price()).cast("double")
            ).alias("promo_revenue")
        )
    )


@_q(
    "q18_large_volume_orders",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 300
    )
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume orders. The HAVING aggregate and
    the final per-order quantity sum are the SAME aggregate (each order
    joins exactly one customer row), so the plan computes it ONCE: one
    lineitem scan → per-orderkey sum → filter > 300 → join orders →
    broadcast-join customer. The oracle keeps the canonical
    agg-HAVING + semi-join + re-agg formulation — identical results,
    and the fused plan scans lineitem once instead of twice (it was the
    slowest gate query; at 100 TB the saved pass dominates)."""
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec4("l_quantity")).alias("q"))
        .filter(F.col("q") > F.lit(300).cast("decimal(18,4)"))
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", F.col("q").cast("double").alias("sum_qty"),
        )
    )


@_q(
    "q19_disjunctive_filter",
    f"""
    SELECT CAST(sum({_DISC_PRICE_SQL.replace('l_', 'l.l_')}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def q19_disjunctive_filter(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape — OR-of-ANDs across both join sides. The
    brand/size disjunction collapses to a part-side prefilter
    (Catalyst factors per-side conjuncts out of the OR), so the
    broadcast side carries only candidate parts; the residual
    mixed-side disjunction evaluates post-probe in codegen. The
    fixture has no container/shipmode columns, so the triplets use
    brand × size × quantity — same optimizer shape."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & (q >= 20) & (q <= 30))
    )
    return (
        li.join(_maybe_broadcast(p, sf, "part"), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


# =========================================================================
# W7 — tumbling event-time windows (the reference's window semantics,
# generalized per SURVEY.md §7 Phase 4)
# =========================================================================

@_q(
    "w7_tumbling_window_agg",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def w7_tumbling_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """W7 — non-overlapping event-time windows (the batch shape of the
    streaming tumbling-window agg; F.window aligns to the epoch so daily
    windows coincide with date_trunc)."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec4("value")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@_q(
    "w21_rollup_incremental",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           min(event_id) AS min_event,
           max(event_id) AS max_event
    FROM events GROUP BY 1, 2
    """,
)
def w21_rollup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """W21 — incremental tumbling rollup (hypertable continuous
    aggregate): events folded through streaming.maintain_rollup in
    THREE micro-batches, state read back via rollup_view — the oracle
    is the ONE-SHOT day-window aggregate, so the driver's hash check
    certifies `incremental partial-merge ≡ batch groupBy` on counts,
    decimal sums, and min/max, not just the plan shape."""
    import tempfile

    from .streaming import maintain_rollup, rollup_view

    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", "ts", _dec4("value").alias("value")
    )
    state = tempfile.mkdtemp(prefix="ls_rollup_gate_")
    try:
        for i in range(3):
            maintain_rollup(
                spark,
                state,
                ev.filter(F.col("event_id") % 3 == i),
                "ts",
                ["event_type"],
                sum_cols=["value"],
                min_cols=["event_id"],
                max_cols=["event_id"],
                window="1 day",
            )
        out = rollup_view(
            spark,
            state,
            sum_cols=["value"],
            min_cols=["event_id"],
            max_cols=["event_id"],
        ).select(
            "window_start",
            "event_type",
            "n",
            F.col("sum_value").cast("double").alias("total_value"),
            F.col("min_event_id").alias("min_event"),
            F.col("max_event_id").alias("max_event"),
        )
    except BaseException:
        # _scratch_result removes the dir on success; a failed fold or
        # view read must not leak it on every red gate/pytest pass.
        import shutil

        shutil.rmtree(state, ignore_errors=True)
        raise
    return _scratch_result(spark, out, state)


@_q(
    "x_current_state_materialized",
    """
    SELECT event_id, ts, user_id, event_type, value, props FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def x_current_state_materialized(spark: SparkSession, sf: str) -> DataFrame:
    """W25 — the incrementally MATERIALIZED current-state table: events
    folded through streaming.maintain_current_state in THREE
    micro-batches (the middle one redelivered — at-least-once), state
    read back as a plain table scan. The oracle is the J3 window query
    over the full history, so the driver's hash check certifies
    ``incremental latest-per-key upsert ≡ the reference's current-state
    view`` on values, not just shape. This is the consumer path whose
    cost stops growing with history: the view pays a full-history
    window per read (bigquery.go:187-207 delegates that to BigQuery);
    this table pays O(touched buckets) per maintenance call and
    O(live keys) per read."""
    import tempfile

    from .streaming import current_state_table, maintain_current_state

    ev = load_table(spark, sf, "events")
    state = tempfile.mkdtemp(prefix="ls_curstate_gate_")
    try:
        for i in range(3):
            batch = ev.filter(F.col("event_id") % 3 == i)
            maintain_current_state(
                spark, state, batch, "user_id", "ts",
                tiebreak_cols=["event_id"],
            )
            if i == 1:  # redeliver the middle chunk — must converge
                maintain_current_state(
                    spark, state, batch, "user_id", "ts",
                    tiebreak_cols=["event_id"],
                )
        out = current_state_table(spark, state).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    except BaseException:
        import shutil

        shutil.rmtree(state, ignore_errors=True)
        raise
    return _scratch_result(spark, out, state)


@_q(
    "x_compact_state_transparent",
    """
    SELECT event_id, ts, user_id, event_type, value, props FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def x_compact_state_transparent(spark: SparkSession, sf: str) -> DataFrame:
    """K20 — small-file compaction, oracle-proven TRANSPARENT: the W25
    materialized current-state store is folded from events, every
    bucket is then deliberately fragmented (a wide multi-task rewrite —
    the file layout a cluster-scale fold's shuffle produces, one file
    per write task × touched bucket), and statestore.compact_partitions
    rewrites the fragmented buckets as ONE fenced commit. The oracle is
    the same latest-per-key window over the full history, so the
    driver's hash check certifies that compaction changed the LAYOUT
    (file counts drop to the plan — the query raises if not) and
    nothing else — the OPTIMIZE-analog maintenance path a 100 TB
    deployment runs behind readers, who keep their pinned generation
    throughout."""
    import tempfile

    from . import statestore
    from .streaming import current_state_table, maintain_current_state

    ev = load_table(spark, sf, "events")
    state = tempfile.mkdtemp(prefix="ls_compact_gate_")
    try:
        for i in range(2):
            maintain_current_state(
                spark, state, ev.filter(F.col("event_id") % 2 == i),
                "user_id", "ts", tiebreak_cols=["event_id"],
            )
        # fragment: rewrite every bucket through a wide shuffle
        m = statestore.load_manifest(state)
        scattered = statestore.read_state(spark, state).repartition(
            16, "user_id"
        )
        statestore.commit_fold(
            spark, state, scattered, "__bucket", sorted(m["files"])
        )
        plan = statestore.compact_partitions(
            spark, state, target_file_bytes=1 << 30, min_files=2
        )
        if not plan:
            raise RuntimeError(
                "compaction gate expected fragmented buckets to rewrite"
            )
        after = statestore.load_manifest(state)["files"]
        for v, n in plan.items():
            if len(after[v]) > n:
                raise RuntimeError(
                    f"bucket {v}: {len(after[v])} files after compaction, "
                    f"plan promised {n}"
                )
        out = current_state_table(spark, state).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    except BaseException:
        import shutil

        shutil.rmtree(state, ignore_errors=True)
        raise
    return _scratch_result(spark, out, state)


@_q(
    "s2_salted_join_agg",
    """
    SELECT o.o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def s2_salted_join_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Skew-salted join, oracle-proven TRANSPARENT: lineitem⋈orders on a
    content-hash salt of 8 (each hot orderkey spreads over 8 reducers,
    the small side replicated ×8), then the priority rollup. The oracle
    is the PLAIN join+agg — identical results is the entire point of the
    operator (see operators/skew.py for when to reach for it vs AQE's
    runtime skew-join split)."""
    from .operators import skew

    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    joined = skew.salted_join(
        li, o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", n_salts=8
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec4("l_quantity")).cast("double").alias("sum_qty"),
    )


@_q(
    "s3_salted_agg",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
    """,
)
def s3_salted_agg(spark: SparkSession, sf: str) -> DataFrame:
    """K2 under the gate — two-phase salted aggregation, oracle-proven
    TRANSPARENT: event_type has a handful of values over the whole
    stream (the archetypal hot-key agg), so phase 1 aggregates per
    (key, content-hash salt of 8) and phase 2 merges the <=8 partials
    per key. The oracle is the PLAIN GROUP BY - identical results is
    the operator's contract. Exact int64 cents make the sum
    order-independent, so the extra merge level cannot perturb values.
    See operators/skew.py on when explicit salting beats AQE (heavy
    per-key merge state, partial-agg defeat)."""
    from .operators import skew

    ev = load_table(spark, sf, "events").select(
        "event_type", _cents("value").alias("vc")
    )
    return skew.salted_agg(
        ev, ["event_type"], n_salts=8, counts=["n"], sums={"vc": "value_cents"}
    )


@_q(
    "w10_hopping_window_agg",
    """
    WITH g AS (
      SELECT event_type, ts,
             ts - to_microseconds(epoch_us(ts) % CAST(43200000000 AS BIGINT)) AS w
      FROM events
    ), e AS (
      SELECT event_type, w FROM g
      UNION ALL
      SELECT event_type, w - INTERVAL '12 hours' FROM g
    )
    SELECT CAST(w AS TIMESTAMP) AS window_start, event_type, count(*) AS n
    FROM e GROUP BY 1, 2
    """,
)
def w10_hopping_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """W10 — hopping (sliding) windows: 1-day windows every 12 h, so each
    event lands in exactly 2 windows. ``F.window(ts, '1 day', '12 hours')``
    expands rows ONCE map-side (multiplier = size/slide, here 2) and then
    aggregates like any tumbling window — the exchange still carries only
    group partials. The oracle derives each event's two epoch-aligned
    window starts arithmetically (floor to the 12 h grid, minus one
    slide), definitionally the same assignment."""
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 day", "12 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


# =========================================================================
# T — temporal joins (operators/temporal.py): as-of and range join.
# Not reference ops — the capabilities its engine family ships natively,
# expressed as scalable DataFrame compositions (see module docstring).
# =========================================================================

@_q(
    "t1_asof_join_latest_order",
    """
    WITH ord AS (
      SELECT o_custkey, o_orderdate AS order_dt, max(o_orderkey) AS last_order_key
      FROM orders GROUP BY 1, 2
    )
    -- last_order_key goes out as VARCHAR: a nullable BIGINT coerces to
    -- float64 under the driver's pandas fetch ('15.0' vs Spark '15' —
    -- the r6 drift class) the moment any event precedes its user's
    -- first order; VARCHAR keeps NULLs as object dtype on both sides
    SELECT e.event_id, e.ts, e.user_id,
           CAST(o.last_order_key AS VARCHAR) AS last_order_key, o.order_dt
    FROM events e ASOF LEFT JOIN ord o
      ON e.user_id = o.o_custkey AND e.ts >= o.order_dt
    """,
)
def t1_asof_join_latest_order(spark: SparkSession, sf: str) -> DataFrame:
    """Backward as-of left join: each event is annotated with the most
    recent order (max orderkey per order date — unique per (key, time),
    so the as-of pick is deterministic) of the same customer at or
    before the event time; NULL for customers with no prior order. The
    oracle is DuckDB's native ASOF JOIN — an independent implementation
    of the same semantics."""
    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id")
    ords = (
        load_table(spark, sf, "orders")
        .select("o_custkey", F.col("o_orderdate").alias("order_dt"), "o_orderkey")
        .groupBy("o_custkey", "order_dt")
        .agg(F.max("o_orderkey").alias("last_order_key"))
    )
    out = T.asof_join(
        ev,
        ords,
        on_left="ts",
        on_right="order_dt",
        by_left="user_id",
        by_right="o_custkey",
        value_cols=["last_order_key", "order_dt"],
    )
    # string form for the nullable key — see the oracle comment
    return out.withColumn(
        "last_order_key", F.col("last_order_key").cast("string")
    )


@_q(
    "t3_asof_join_bucketed",
    """
    WITH ord AS (
      SELECT o_custkey, o_orderdate AS order_dt, max(o_orderkey) AS last_order_key
      FROM orders GROUP BY 1, 2
    )
    -- last_order_key goes out as VARCHAR: a nullable BIGINT coerces to
    -- float64 under the driver's pandas fetch ('15.0' vs Spark '15' —
    -- the r6 drift class) the moment any event precedes its user's
    -- first order; VARCHAR keeps NULLs as object dtype on both sides
    SELECT e.event_id, e.ts, e.user_id,
           CAST(o.last_order_key AS VARCHAR) AS last_order_key, o.order_dt
    FROM events e ASOF LEFT JOIN ord o
      ON e.user_id = o.o_custkey AND e.ts >= o.order_dt
    """,
)
def t3_asof_join_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME as-of semantics as t1, through the hot-key escape hatch
    (operators.temporal.asof_join_bucketed): the running-fill window
    partitions on (key, 90-day bucket) so a dominant key parallelizes,
    with the cross-bucket carry chained over the O(key-buckets) summary
    grid. Hash-checked against DuckDB's native ASOF JOIN — and thereby
    against t1's plain form, proving the rewrite exact."""
    ev = load_table(spark, sf, "events").select("event_id", "ts", "user_id")
    ords = (
        load_table(spark, sf, "orders")
        .select("o_custkey", F.col("o_orderdate").alias("order_dt"), "o_orderkey")
        .groupBy("o_custkey", "order_dt")
        .agg(F.max("o_orderkey").alias("last_order_key"))
    )
    out = T.asof_join_bucketed(
        ev,
        ords,
        on_left="ts",
        on_right="order_dt",
        by_left="user_id",
        by_right="o_custkey",
        value_cols=["last_order_key", "order_dt"],
        bucket_seconds=90 * 86_400,
    )
    return out.withColumn(
        "last_order_key", F.col("last_order_key").cast("string")
    )


# 2024-01-01 00:00:00 UTC in epoch microseconds; 7-day stride, 14-day span
_RJ_BASE_US = 1_704_067_200_000_000
_RJ_STRIDE_US = 7 * 86_400 * 1_000_000
_RJ_SPAN_US = 14 * 86_400 * 1_000_000


@_q(
    "t2_range_join_sliding_windows",
    f"""
    WITH win AS (
      SELECT i AS window_id,
             make_timestamp({_RJ_BASE_US} + i * {_RJ_STRIDE_US}) AS w_start,
             make_timestamp({_RJ_BASE_US} + i * {_RJ_STRIDE_US} + {_RJ_SPAN_US}) AS w_end
      FROM range(0, 8) t(i)
    )
    SELECT w.window_id, w.w_start,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN win w ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY 1, 2
    """,
)
def t2_range_join_sliding_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Interval containment join + aggregate: events against 8
    overlapping 14-day windows sliding by 7 days (each event lands in ≤2
    windows). The Spark plan is the bucketed equi-join from
    range_join_bucketed — the fact side never shuffles for the join; the
    oracle is the plain BETWEEN theta-join, fine at DuckDB's scale."""
    ev = load_table(spark, sf, "events")
    win = spark.range(0, 8).select(
        F.col("id").alias("window_id"),
        F.timestamp_micros(F.lit(_RJ_BASE_US) + F.col("id") * F.lit(_RJ_STRIDE_US)).alias(
            "w_start"
        ),
        F.timestamp_micros(
            F.lit(_RJ_BASE_US) + F.col("id") * F.lit(_RJ_STRIDE_US) + F.lit(_RJ_SPAN_US)
        ).alias("w_end"),
    )
    joined = T.range_join_bucketed(
        ev,
        win,
        ts_col="ts",
        start_col="w_start",
        end_col="w_end",
        bucket_seconds=7 * 86_400,
    )
    return joined.groupBy("window_id", "w_start").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# =========================================================================
# O2 — ROLLUP aggregation (beyond the reference, §2.12: the analytics
# surface a warehouse user expects; subtotals + grand total in one pass)
# =========================================================================

@_q(
    "o2_rollup_pricing",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(sum({_DISC_PRICE_SQL}) AS DOUBLE) AS revenue,
           count(*) AS n_rows,
           CAST(grouping(l_returnflag) AS INT) AS g_flag,
           CAST(grouping(l_linestatus) AS INT) AS g_status
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def o2_rollup_pricing(spark: SparkSession, sf: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP: per (flag, status), per flag,
    and grand total, disambiguated by GROUPING flags. One pass, one
    shuffle — Spark expands the grouping sets map-side, so the plan is
    the same partial-agg shape as a plain groupBy."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_disc_price()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
        .select("l_returnflag", "l_linestatus", "revenue", "n_rows", "g_flag", "g_status")
    )


# =========================================================================
# S8 — set operations (beyond the reference, §2.12/§2.7)
# =========================================================================

@_q(
    "s1_set_ops_customers",
    """
    SELECT o_custkey, 'both_95_96' AS tag FROM (
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      INTERSECT
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    )
    UNION ALL
    SELECT o_custkey, 'only_95' AS tag FROM (
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
      EXCEPT
      SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
    )
    """,
)
def s1_set_ops_customers(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT + EXCEPT (distinct set semantics, = Spark
    intersect/subtract): customers ordering in both 1995 and 1996 vs
    1995-only, tagged and unioned. Each set op is one hash aggregation
    per side + one join — no sort needed."""
    orders = load_table(spark, sf, "orders")
    y95 = orders.filter(F.year("o_orderdate") == 1995).select("o_custkey")
    y96 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    both = y95.intersect(y96).select("o_custkey", F.lit("both_95_96").alias("tag"))
    only95 = y95.subtract(y96).select("o_custkey", F.lit("only_95").alias("tag"))
    return both.unionAll(only95)


# =========================================================================
# W8 — Structured Streaming tumbling window, oracle-checked end to end:
# the streaming engine itself sits inside the correctness gate (the
# memory-sink result of an availableNow run must hash-match DuckDB).
# =========================================================================

@_q(
    "w8_stream_tumbling_window",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           event_type, count(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def w8_stream_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """The Phase-4 streaming path as a gate entry: events land in a
    temp dir, a readStream → withWatermark → window().count() query
    drains them with trigger(availableNow) into a memory sink in
    complete mode (every window emits — append mode would hold back
    windows the watermark hasn't closed). The returned table is the
    finished stream's result; it must equal the batch GROUP BY."""
    import shutil
    import tempfile
    import uuid

    from .streaming import _streaming_source, tumbling_window_stream

    landing = tempfile.mkdtemp(prefix="lss_w8_")
    try:
        src_path = os.path.join(sf, "events.parquet")
        if os.path.isdir(src_path):
            shutil.copytree(src_path, os.path.join(landing, "events.parquet"))
        else:
            shutil.copy(src_path, os.path.join(landing, "events.parquet"))
        src = _streaming_source(spark, landing, None)
        agg = tumbling_window_stream(src, "ts", window="1 day", group_cols=["event_type"])
        name = f"w8_mem_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.queryName(name)
            .format("memory")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        # on timeout the memory sink would be read mid-stream — a
        # nondeterministic gate result; fail loudly instead.
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("w8 stream did not drain within 300 s")
    finally:
        shutil.rmtree(landing, ignore_errors=True)
    return spark.table(name).select("window_start", "event_type", "n")


# =========================================================================
# Analytic battery — sessionization, top-k, pivot, full outer, HOFs.
# The shapes users write on the captured snapshots downstream of the
# reference (its whole point is landing data where this SQL runs).
# =========================================================================

@_q(
    "w9_session_window",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, sess
    """,
)
def w9_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization via native ``session_window`` (gap 30 min).
    One shuffle on user_id, sessions merged in-partition — same cost
    shape as latest-per-key at any scale. Oracle is the lag/cumsum
    formulation (the two are definitionally equivalent: new session iff
    gap STRICTLY exceeds 30 min — Spark merges an event landing exactly
    on the closing edge)."""
    ev = load_table(spark, sf, "events")
    return A.sessionize(ev, "user_id", "ts", gap="30 minutes")


@_q(
    "o3_topk_per_group",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
      FROM orders GROUP BY o_custkey
    ), j AS (
      SELECT c.c_nationkey, pc.o_custkey, pc.total_spend
      FROM per_cust pc JOIN customer c ON pc.o_custkey = c.c_custkey
    )
    SELECT c_nationkey, CAST(rn AS INT) AS rank_in_group, o_custkey,
           total_spend
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY c_nationkey
        ORDER BY total_spend DESC, o_custkey) AS rn
      FROM j
    ) WHERE rn <= 3
    """,
)
def o3_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 customers by exact-decimal total spend per nation.
    Rank-then-filter: Spark's WindowGroupLimit pushes k into the sort so
    no group ever fully sorts; the per-customer agg shuffles on custkey,
    the dim join is broadcast, the rank shuffles on nationkey."""
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_dec4("o_totalprice")).cast("double").alias("total_spend")
    )
    joined = per_cust.join(
        F.broadcast(cust), per_cust.o_custkey == cust.c_custkey
    ).select("c_nationkey", "o_custkey", "total_spend")
    return A.topk_per_group(
        joined, ["c_nationkey"], "total_spend", 3, tiebreak_cols=["o_custkey"]
    ).select("c_nationkey", "rank_in_group", "o_custkey", "total_spend")


@_q(
    "p1_pivot_event_counts",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
)
def p1_pivot_event_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Long→wide count pivot with an EXPLICIT value list (the no-values
    ``.pivot()`` form runs a distinct scan job first — a full extra pass
    at 100 TB). One hash aggregation; absent combos are 0 to match the
    conditional-aggregation convention."""
    ev = load_table(spark, sf, "events")
    return A.pivot_counts(
        ev, "user_id", "event_type",
        ["click", "error", "purchase", "signup", "view"],
    )


@_q(
    "j4_full_outer_reconcile",
    """
    WITH a AS (
      SELECT o_custkey, count(*) AS n_1995 FROM orders
      WHERE year(o_orderdate) = 1995 GROUP BY o_custkey
    ), b AS (
      SELECT o_custkey, count(*) AS n_1996 FROM orders
      WHERE year(o_orderdate) = 1996 GROUP BY o_custkey
    )
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
           COALESCE(n_1995, 0) AS n_1995,
           COALESCE(n_1996, 0) AS n_1996
    FROM a FULL JOIN b ON a.o_custkey = b.o_custkey
    """,
)
def j4_full_outer_reconcile(spark: SparkSession, sf: str) -> DataFrame:
    """J4 — full outer equi-join reconciling two yearly activity sets
    (customers active only-95 / only-96 / both). Joining on the column
    name gives USING-semantics key coalescing; both inputs are already
    hash-partitioned on the key by their aggs, so the join reuses one
    side's partitioning instead of re-shuffling."""
    orders = load_table(spark, sf, "orders")
    zero = F.lit(0).cast("bigint")
    y95 = (
        orders.filter(F.year("o_orderdate") == 1995)
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_1995"))
    )
    y96 = (
        orders.filter(F.year("o_orderdate") == 1996)
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_1996"))
    )
    return A.full_outer_join(y95, y96, "o_custkey").select(
        "o_custkey",
        F.coalesce(F.col("n_1995"), zero).alias("n_1995"),
        F.coalesce(F.col("n_1996"), zero).alias("n_1996"),
    )


@_q(
    "c_hof_array_battery",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS n_dims,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS l2_norm_sq,
           CAST(len(list_filter(embedding,
                 x -> CAST(x AS DOUBLE) > 0)) AS INT) AS n_pos,
           round(list_max(list_transform(embedding,
                 x -> CAST(x AS DOUBLE))), 6) AS max_val,
           round(list_sum(list_transform(embedding[1:8],
                 x -> CAST(x AS DOUBLE))), 6) AS head8_sum,
           len(list_filter(embedding,
                 x -> CAST(x AS DOUBLE) > 3.0)) > 0 AS has_gt3
    FROM embeddings
    """,
)
def c_hof_array_battery(spark: SparkSession, sf: str) -> DataFrame:
    """Higher-order-function battery over array<float> embeddings —
    transform/filter/aggregate/exists/slice, all codegen'd JVM loops
    (zero Python). The no-UDF embedding-feature-extraction pattern;
    floats cast to double BEFORE arithmetic on both sides so the IEEE
    results are identical, per-row fold order is deterministic."""
    em = load_table(spark, sf, "embeddings")
    return A.array_battery(em, "vec_id", "embedding")


@_q(
    "x_profile_columns",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS o_custkey_nulls,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS o_custkey_ndv,
           min(o_custkey) AS o_custkey_min,
           max(o_custkey) AS o_custkey_max,
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS o_orderstatus_nulls,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS o_orderstatus_ndv,
           min(o_orderstatus) AS o_orderstatus_min,
           max(o_orderstatus) AS o_orderstatus_max,
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS o_totalprice_nulls,
           CAST(count(DISTINCT o_totalprice) AS BIGINT) AS o_totalprice_ndv,
           min(o_totalprice) AS o_totalprice_min,
           max(o_totalprice) AS o_totalprice_max,
           CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS o_orderdate_nulls,
           CAST(count(DISTINCT o_orderdate) AS BIGINT) AS o_orderdate_ndv,
           min(o_orderdate) AS o_orderdate_min,
           max(o_orderdate) AS o_orderdate_max
    FROM orders
    """,
)
def x_profile_columns(spark: SparkSession, sf: str) -> DataFrame:
    """Single-pass data-quality profile of the orders snapshot — nulls /
    exact NDV / min / max per column plus the row count, every stat
    natively typed. The multi-``countDistinct`` aggregate compiles to
    one Expand-based pass (no per-column scans); see
    :func:`operators.relational.profile_columns` for the 100 TB notes."""
    o = load_table(spark, sf, "orders")
    return R.profile_columns(
        o, ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    )


@_q(
    "x_integrity_check",
    """
    SELECT
      CAST((SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
        AS n_orders_orphan_custkey,
      CAST((SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        AS n_lineitem_orphan_orderkey,
      CAST((SELECT count(*) FROM events e
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = e.user_id)) AS BIGINT)
        AS n_events_orphan_user,
      CAST((SELECT count(*) FROM
             (SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT)
        AS n_dup_order_pk
    """,
)
def x_integrity_check(spark: SparkSession, sf: str) -> DataFrame:
    """Referential-integrity + primary-key battery over the captured
    star — orphaned foreign keys via LEFT ANTI joins (orders→customer,
    lineitem→orders, events→customer) and duplicate-pk violations via
    group-having. The fixture is referentially intact, so every count
    is a certified ZERO — the value of the probe is that a capture bug
    (child rows landing without parents, double-applied batches) flips
    a pinned zero to a red row. Each probe is one keyed anti join /
    one hash agg — no subquery re-scans; the four single-row results
    assemble on a constant key."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    li = load_table(spark, sf, "lineitem")
    ev = load_table(spark, sf, "events")
    n1 = R.referential_orphans(o, "o_custkey", c, "c_custkey").agg(
        F.count(F.lit(1)).alias("n_orders_orphan_custkey")
    )
    n2 = R.referential_orphans(li, "l_orderkey", o, "o_orderkey").agg(
        F.count(F.lit(1)).alias("n_lineitem_orphan_orderkey")
    )
    ev_k = ev.select(F.col("user_id").alias("c_custkey"))
    n3 = R.referential_orphans(ev_k, "c_custkey", c, "c_custkey").agg(
        F.count(F.lit(1)).alias("n_events_orphan_user")
    )
    n4 = R.duplicate_keys(o, "o_orderkey").agg(
        F.count(F.lit(1)).alias("n_dup_order_pk")
    )
    k = F.lit(1)
    return (
        n1.withColumn("k", k)
        .join(F.broadcast(n2.withColumn("k", k)), "k")
        .join(F.broadcast(n3.withColumn("k", k)), "k")
        .join(F.broadcast(n4.withColumn("k", k)), "k")
        .drop("k")
    )


@_q(
    "k5_skew_diagnostics",
    """
    WITH counts AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n) AS BIGINT) AS n_rows,
           max(n) AS max_per_key,
           CAST(sum(n) AS DOUBLE) / count(*) AS mean_per_key,
           quantile_cont(n, 0.99) AS p99_per_key,
           CAST(max(n) AS DOUBLE) / (CAST(sum(n) AS DOUBLE) / count(*))
             AS skew_factor
    FROM counts
    """,
)
def k5_skew_diagnostics(spark: SparkSession, sf: str) -> DataFrame:
    """Key-distribution diagnostics over the event stream's user_id —
    the measurement that decides when K1/K2 salting pays; see
    :func:`operators.skew.skew_diagnostics` (two-level shape: one
    per-key count shuffle, then a single-row aggregate over the
    O(keys) relation)."""
    from .operators import skew

    ev = load_table(spark, sf, "events").select("user_id")
    return skew.skew_diagnostics(ev, "user_id")


@_q(
    "x_winsorize",
    """
    WITH b AS (SELECT event_type,
                      quantile_cont(value, 0.05) AS lo,
                      quantile_cont(value, 0.95) AS hi
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           least(greatest(e.value, b.lo), b.hi) AS value_wins
    FROM events e JOIN b ON e.event_type IS NOT DISTINCT FROM b.event_type
    """,
)
def x_winsorize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group winsorization of the event value at the [5%, 95%]
    exact percentiles — see :func:`operators.analytic.winsorize` for
    the two-pass broadcast-bounds plan and the percentile ≡
    quantile_cont exactness argument (pinned by o7)."""
    ev = load_table(spark, sf, "events").select("event_id", "event_type", "value")
    return A.winsorize(ev, "value", ["event_type"], lo=0.05, hi=0.95).select(
        "event_id", "event_type", "value", "value_wins"
    )


# Ext registry (LLM-pipeline operators) registers itself into
# QUERIES/ORACLES on import; imported last so _q exists. queries_tpch
# (round-3 plan-shape breadth) registers after it.
from . import queries_ext  # noqa: E402, F401
from . import queries_tpch  # noqa: E402, F401
