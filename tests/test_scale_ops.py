"""Scale-path operators: salted joins/aggs (semantically transparent)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from conftest import SF0001
from leftshove_spark.operators import skew
from leftshove_spark.sources import load_table


def test_salted_join_matches_plain(spark):
    li = load_table(spark, SF0001, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF0001, "orders").select("o_orderkey", "o_orderpriority")
    salted = skew.salted_join(
        li, o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", n_salts=4
    )
    plain = li.join(
        o.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", "inner"
    )
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert skew.SALT not in salted.columns


def test_salted_join_left_keeps_unmatched(spark):
    big = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    small = spark.createDataFrame([Row(k=1, w="x")])
    out = skew.salted_join(big, small, "k", n_salts=4, how="left")
    got = {(r.k, r.w) for r in out.collect()}
    assert got == {(1, "x"), (2, None)}


def test_salted_agg_matches_plain(spark):
    li = load_table(spark, SF0001, "lineitem")
    salted = skew.salted_agg(
        li, ["l_returnflag"], n_salts=4,
        counts=["n"], sums={"l_quantity": "sum_qty"},
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty")
    )
    got = {r.l_returnflag: (r.n, r.sum_qty) for r in salted.collect()}
    exp = {r.l_returnflag: (r.n, r.sum_qty) for r in plain.collect()}
    assert set(got) == set(exp)
    for k in exp:
        assert got[k][0] == exp[k][0]
        assert got[k][1] == pytest.approx(exp[k][1])


def test_write_zordered_files_are_narrow_in_both_dimensions(spark, tmp_path):
    """The property that makes z-ordering prune: each output file's
    min/max span is a small fraction of the global domain on BOTH
    z-order columns — single-column clustering can only achieve this on
    its leading column. (Parquet zone-map skipping follows directly
    from narrow per-file ranges.)"""
    import os

    from leftshove_spark.sinks import write_zordered
    from leftshove_spark.sources import load_table

    ev = load_table(spark, SF0001, "events").select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("tus")
    )
    path = str(tmp_path / "z")
    write_zordered(ev, path, ["user_id", "tus"], n_files=16)

    g = ev.agg(
        (F.max("user_id") - F.min("user_id")).alias("du"),
        (F.max("tus") - F.min("tus")).alias("dt"),
    ).collect()[0]
    files = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    assert len(files) >= 8
    u_fracs, t_fracs = [], []
    for f in files:
        st = (
            spark.read.parquet(f)
            .agg(
                (F.max("user_id") - F.min("user_id")).alias("du"),
                (F.max("tus") - F.min("tus")).alias("dt"),
            )
            .collect()[0]
        )
        u_fracs.append(st["du"] / g["du"])
        t_fracs.append(st["dt"] / g["dt"])
    # average per-file span well under the whole domain on BOTH dims
    assert sum(u_fracs) / len(u_fracs) < 0.5, u_fracs
    assert sum(t_fracs) / len(t_fracs) < 0.5, t_fracs


def test_zorder_value_is_bijective_on_the_rank_grid(spark):
    """Interleave invariant: over the full 2-D rank grid the Morton key
    is a bijection (no two cells collide, range exactly [0, 4^bits)),
    so clustering by it loses no resolution in either dimension."""
    from leftshove_spark.sinks import zorder_value

    bits = 5
    grid = spark.range(1 << bits).selectExpr("id AS x").crossJoin(
        spark.range(1 << bits).selectExpr("id AS y")
    )
    z = grid.select(zorder_value(["x", "y"], bits=bits).alias("z"))
    n = 1 << (2 * bits)
    stats = z.agg(
        F.countDistinct("z").alias("d"), F.min("z").alias("lo"), F.max("z").alias("hi")
    ).collect()[0]
    assert (stats["d"], stats["lo"], stats["hi"]) == (n, 0, n - 1)


def test_bloom_pruned_join_matches_plain_and_prunes(spark):
    """Transparency + effectiveness: the bloom-pruned join equals the
    plain join row-for-row; the prune really drops most non-matching
    fact rows (fp rate sane); both bitmap delivery modes (literal and
    broadcast-row) agree; NULL fact keys are pruned (inner-join
    equivalent)."""
    import pyspark.sql.functions as F

    from leftshove_spark.operators.runtime_filter import (
        bloom_might_contain,
        build_bloom,
        bloom_pruned_join,
    )
    from leftshove_spark.sources import load_table

    fact = load_table(spark, SF0001, "orders").select(
        "o_custkey", "o_orderkey"
    )
    dim = (
        load_table(spark, SF0001, "customer")
        .filter(F.col("c_nationkey") == 3)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    plain = fact.join(dim, "o_custkey")
    for m in (1 << 14, 1 << 17):  # literal mode and broadcast-row mode
        got = bloom_pruned_join(fact, dim, "o_custkey", m_bits=m)
        assert got.exceptAll(plain).count() == 0
        assert plain.exceptAll(got).count() == 0

    # effectiveness: the literal-mode filter keeps all true matches and
    # only an fp-sized sliver of the rest
    bitmap = build_bloom(dim, "o_custkey", m_bits=1 << 14)
    kept = fact.filter(
        bloom_might_contain(F.col("o_custkey"), bitmap)
    ).count()
    true_matches = fact.join(dim, "o_custkey", "left_semi").count()
    assert kept >= true_matches
    assert kept <= true_matches + 0.05 * fact.count()

    withnull = fact.unionByName(
        spark.createDataFrame([(None, -1)], "o_custkey long, o_orderkey long")
    )
    got = bloom_pruned_join(withnull, dim, "o_custkey")
    assert got.filter("o_custkey IS NULL").count() == 0
    assert got.count() == plain.count()


def test_bloom_prune_rejects_outer_joins(spark):
    import pytest

    from leftshove_spark.operators.runtime_filter import bloom_pruned_join

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="unsound"):
        bloom_pruned_join(df, df, "k", how="left")
