"""Registry invariants for the driver gate — the properties every
rotation edit has to preserve, locked as tests instead of hand checks:

- GATE_ORDER is duplicate-free and names only registered queries
  (a typo'd rotation entry would silently fall back to registration
  order at the driver).
- Every non-excluded registered query appears in GATE_ORDER — ordering
  is always explicit, never the accidental registration order.
- Every gated query has a DuckDB oracle (the driver records a weaker
  rows-only check otherwise; any future rows-only entry must be added
  to the documented allowlist here, visibly).
- queries()/oracle_sql() agree with the registry the driver sees.
"""

import pytest

import __spark_entry__ as entrymod

from leftshove_spark import queries as Q

ROWS_ONLY_ALLOWED: set[str] = set()  # every gated entry is fully oracled


def test_gate_order_has_no_duplicates():
    dups = {n for n in Q.GATE_ORDER if Q.GATE_ORDER.count(n) > 1}
    assert not dups


def test_gate_order_names_only_registered_queries():
    unknown = [n for n in Q.GATE_ORDER if n not in Q.QUERIES]
    assert not unknown


def test_every_query_is_explicitly_ordered():
    implicit = [
        n
        for n in Q.QUERIES
        if n not in Q.GATE_ORDER and n not in Q.GATE_EXCLUDE
    ]
    assert not implicit, (
        f"queries registered but not placed in GATE_ORDER: {implicit} — "
        "add them to the schedule explicitly (head for first-time "
        "certification, tail otherwise)"
    )


def test_every_gated_query_has_an_oracle():
    missing = [
        n
        for n in Q.gate_queries()
        if n not in Q.ORACLES and n not in ROWS_ONLY_ALLOWED
    ]
    assert not missing


def test_entry_module_mirrors_registry():
    assert set(entrymod.queries()) == set(Q.gate_queries())
    assert set(entrymod.oracle_sql()) == {
        n for n in Q.gate_queries() if n in Q.ORACLES
    }


def test_bench_headliners_are_registered():
    """Every bench headliner must be a registered query — a renamed or
    retired entry would crash the driver's bench run at warmup."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in Q.QUERIES]
    assert not missing


def test_maybe_broadcast_gate(spark, monkeypatch):
    """The footer-stats broadcast gate: dimension-sized tables get the
    hint; past the row threshold the hint is withheld and AQE decides
    from runtime sizes (the 100 TB OOM guard)."""
    from conftest import SF0001
    from leftshove_spark.sources import load_table

    cust = load_table(spark, SF0001, "customer")
    hinted = Q._maybe_broadcast(cust, SF0001, "customer")
    assert "hint" in hinted._jdf.queryExecution().logical().toString().lower()
    monkeypatch.setattr(Q, "_BROADCAST_MAX_ROWS", 10)
    unhinted = Q._maybe_broadcast(cust, SF0001, "customer")
    assert "hint" not in unhinted._jdf.queryExecution().logical().toString().lower()

def test_maybe_broadcast_gates_on_bytes_not_just_rows(spark, tmp_path, monkeypatch):
    """VERDICT r8: the hint must drop for a wide-row table that passes
    the ROW gate — byte estimate (uncompressed, from footers) is the
    binding constraint. A 200-row/~2MB-string fixture with the byte
    threshold at 1MB gets no hint despite being far under the row cap;
    the current dims keep their hints (plans unchanged)."""
    import os

    from conftest import SF0001
    from leftshove_spark.sources import estimate_bytes, load_table

    wide_dir = tmp_path / "sfdir"
    os.makedirs(wide_dir)
    # unique payloads — identical strings dictionary-encode down to
    # nothing in the footer's total_byte_size and would defeat the gate
    spark.range(300).selectExpr(
        "id", "concat(cast(id AS string), repeat('x', 9999)) AS payload"
    ).coalesce(1).write.parquet(str(wide_dir / "widedim.parquet"))
    assert estimate_bytes(str(wide_dir / "widedim.parquet")) > 1024 * 1024

    wd = spark.read.parquet(str(wide_dir / "widedim.parquet"))
    monkeypatch.setattr(Q, "_BROADCAST_MAX_BYTES", 1024 * 1024)
    unhinted = Q._maybe_broadcast(wd, str(wide_dir), "widedim")
    assert "hint" not in unhinted._jdf.queryExecution().logical().toString().lower()

    # row cap alone would have allowed it
    assert 300 <= Q._BROADCAST_MAX_ROWS

    # current dims: under both gates -> hint still applied
    cust = load_table(spark, SF0001, "customer")
    monkeypatch.undo()
    hinted = Q._maybe_broadcast(cust, SF0001, "customer")
    assert "hint" in hinted._jdf.queryExecution().logical().toString().lower()


# the oracles registered through queries_ext._materialize_ctes
MATERIALIZED_ORACLES = (
    "x_knn_pq",
    "x_knn_pq_rerank",
    "x_knn_ivfadc",
    "x_knn_rotated_index",
    "x_knn_ivfadc_rerank",
    "x_ann_recall_ivfadc",
    "x_semdedup",
    "x_hard_negatives",
)


def test_materialize_ctes_refuses_named_window_clause():
    """The CTE rewrite is a regex over ``AS (``: it passes every oracle
    it treats (a no-op on the already-treated SQL) and refuses the one
    non-CTE ``AS (`` form the oracles use, a named WINDOW clause."""
    from leftshove_spark.queries_ext import _materialize_ctes

    for name in MATERIALIZED_ORACLES:
        sql = Q.oracle(name)
        assert "AS MATERIALIZED (" in sql, name
        assert _materialize_ctes(sql) == sql, name
    with pytest.raises(ValueError, match="WINDOW"):
        _materialize_ctes(Q.oracle("x_quality_deciles"))
