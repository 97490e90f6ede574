"""The approximate aggregation scale paths, pinned against their exact
oracles: at 100 TB, exact COUNT(DISTINCT) pays an Expand shuffle per
distinct column and exact percentile() buffers whole groups — the scale
forms are approx_count_distinct (HyperLogLog++) and percentile_approx
(t-digest-style quantile sketch), both MERGEABLE partial aggregations
(map-side partials, O(sketch) shuffle bytes per partition regardless of
cardinality). These tests pin the accuracy contract that makes the swap
safe, and the plan shape that makes it scale.
"""

from pyspark.sql import functions as F

from conftest import SF001
from leftshove_spark.sources import load_table


def test_approx_count_distinct_within_rsd(spark):
    li = load_table(spark, SF001, "lineitem")
    row = li.agg(
        F.count_distinct("l_orderkey").alias("exact"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    # HLL++ at rsd=0.02: generous 3-sigma band
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.06


def test_percentile_approx_brackets_exact(spark):
    li = load_table(spark, SF001, "lineitem")
    row = li.agg(
        F.expr("percentile(l_extendedprice, 0.9)").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.9, 10000).alias("approx"),
    ).collect()[0]
    # accuracy=10000 → rank error ≤ n/10000; price spread at sf0.01 is
    # wide, so allow 1% relative
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.01


def test_approx_aggs_are_partial_merge_shaped(spark):
    """The reason these are the scale path: partial aggregation on the
    map side (sketches merge), so the shuffle carries sketches, not
    values. Assert the two-phase HashAggregate/ObjectHashAggregate
    shape is actually planned."""
    li = load_table(spark, SF001, "lineitem")
    df = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_suppkey").alias("nd"),
        F.percentile_approx("l_quantity", 0.5, 1000).alias("p50"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ObjectHashAggregate") + plan.count("HashAggregate") >= 2
    assert "partial" in plan.lower()


def test_kmv_merge_equals_sketch_of_union(spark):
    """Mergeability: merge(sketch(A), sketch(B)) must equal
    sketch(A ∪ B) exactly — array contents, not just estimates — and
    the merged estimate lands within the 1/sqrt(k-2) error envelope of
    the true distinct count."""
    import pyspark.sql.functions as F

    from leftshove_spark.ext import sketch as SK

    k = 64
    a = spark.range(0, 3000).selectExpr("concat('v', id % 2100) AS v")
    b = spark.range(0, 3000).selectExpr("concat('v', 1500 + id % 2400) AS v")
    sa = SK.kmv_sketch(a, "v", k=k).collect()[0]["sketch"]
    sb = SK.kmv_sketch(b, "v", k=k).collect()[0]["sketch"]
    su = SK.kmv_sketch(a.unionAll(b), "v", k=k).collect()[0]["sketch"]
    merged = spark.createDataFrame(
        [(sa, sb)], "sa array<long>, sb array<long>"
    ).select(SK.kmv_merge(F.col("sa"), F.col("sb"), k=k).alias("m"))
    assert merged.collect()[0]["m"] == su

    true_n = a.unionAll(b).distinct().count()  # 2100 ∪ [1500,3900) = 3900
    est = (
        merged.select(SK.kmv_estimate(F.col("m"), k=k).alias("e"))
        .collect()[0]["e"]
    )
    assert abs(est - true_n) / true_n < 4 / (k - 2) ** 0.5


def test_kmv_unsaturated_sketch_is_exact(spark):
    """Below k distinct values the sketch IS the distinct hash set and
    the estimate is exactly the distinct count."""
    from leftshove_spark.ext import sketch as SK
    import pyspark.sql.functions as F

    df = spark.range(0, 500).selectExpr("concat('g', id % 3) AS g",
                                        "concat('x', id % 40) AS v")
    sk = SK.kmv_sketch(df, "v", ["g"], k=256)
    out = sk.select("g", F.size("sketch").alias("n"),
                    SK.kmv_estimate(F.col("sketch")).alias("est")).collect()
    for r in out:
        assert r["n"] == 40 and r["est"] == 40.0


def test_kmv_jaccard_estimator_accuracy_and_exactness(spark):
    """Sketch-based resemblance: exact when unsaturated; within the
    sampling envelope when saturated (planted overlap fraction)."""
    import pyspark.sql.functions as F

    from leftshove_spark.ext import sketch as SK

    # unsaturated: sets ARE the sketches -> estimate is exact
    a = spark.range(0, 30).selectExpr("concat('v', id) AS v")
    b = spark.range(15, 45).selectExpr("concat('v', id) AS v")
    sa = SK.kmv_sketch(a, "v", k=256).collect()[0]["sketch"]
    sb = SK.kmv_sketch(b, "v", k=256).collect()[0]["sketch"]
    j = (
        spark.createDataFrame([(sa, sb)], "sa array<long>, sb array<long>")
        .select(SK.kmv_jaccard(F.col("sa"), F.col("sb"), k=256).alias("j"))
        .collect()[0]["j"]
    )
    assert abs(j - 15 / 45) < 1e-12

    # saturated: true J = 2000/6000; k=128 envelope ~ 4/sqrt(k)
    k = 128
    a = spark.range(0, 9000).selectExpr("concat('v', id % 4000) AS v")
    b = spark.range(0, 9000).selectExpr("concat('v', 2000 + id % 4000) AS v")
    sa = SK.kmv_sketch(a, "v", k=k).collect()[0]["sketch"]
    sb = SK.kmv_sketch(b, "v", k=k).collect()[0]["sketch"]
    j = (
        spark.createDataFrame([(sa, sb)], "sa array<long>, sb array<long>")
        .select(SK.kmv_jaccard(F.col("sa"), F.col("sb"), k=k).alias("j"))
        .collect()[0]["j"]
    )
    assert abs(j - 2000 / 6000) < 4 / k ** 0.5


def test_bottomk_merge_equals_sketch_of_union(spark):
    """Mergeability — the 100 TB contract: bottom-k row sample of
    A ∪ B ≡ k smallest of sketch(A) ∥ sketch(B); quantile estimates
    from the merged sketch equal estimates from the union sketch."""
    import pyspark.sql.functions as F

    from leftshove_spark.ext import sketch as SK

    rows_a = [(i, (i * 131) % 997) for i in range(400)]
    rows_b = [(i, (i * 17) % 997) for i in range(400, 900)]
    a = spark.createDataFrame(rows_a, "doc_id long, v long")
    b = spark.createDataFrame(rows_b, "doc_id long, v long")
    u = a.unionByName(b)

    k = 64
    sa = SK.bottomk_sample_sketch(a, "v", k=k).first()
    sb = SK.bottomk_sample_sketch(b, "v", k=k).first()
    su = SK.bottomk_sample_sketch(u, "v", k=k).first()
    merged = (
        spark.createDataFrame(
            [(sa["sketch"], sb["sketch"])], "sa array<struct<h:long,i:long,v:long>>, sb array<struct<h:long,i:long,v:long>>"
        )
        .select(
            SK.bottomk_merge(F.col("sa"), F.col("sb"), k=k).alias("m"),
            SK.bottomk_quantile(
                SK.bottomk_merge(F.col("sa"), F.col("sb"), k=k), 1, 2
            ).alias("p50"),
        )
        .first()
    )
    assert merged["m"] == su["sketch"]
    assert sa["n_rows"] + sb["n_rows"] == su["n_rows"] == 900

    direct = (
        spark.createDataFrame([(su["sketch"],)], "s array<struct<h:long,i:long,v:long>>")
        .select(SK.bottomk_quantile(F.col("s"), 1, 2).alias("p50"))
        .first()
    )
    assert merged["p50"] == direct["p50"]


def test_bottomk_quantile_unsaturated_is_exact_and_row_multiset(spark):
    """While n <= k the sample IS the group: estimates equal exact
    discrete quantiles; duplicate values keep multiplicity (row sample,
    not a distinct-value sample — the KMV contrast)."""
    import pyspark.sql.functions as F

    from leftshove_spark.ext import sketch as SK

    # 30 rows, value 7 repeated 20 times: p50 must be 7
    rows = [(i, 7 if i < 20 else 100 + i) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, v long")
    sk = SK.bottomk_sample_sketch(df, "v", k=256).select(
        F.size("sketch").alias("m"),
        SK.bottomk_quantile(F.col("sketch"), 1, 2).alias("p50"),
        SK.bottomk_quantile(F.col("sketch"), 99, 100).alias("p99"),
    ).first()
    assert sk["m"] == 30          # unsaturated: whole multiset held
    assert sk["p50"] == 7         # multiplicity respected
    assert sk["p99"] == 129       # ceil(.99*30)=30th of sorted values


def test_bottomk_build_prunes_with_windowgrouplimit(spark):
    """The sample branch's per-group sort must be WindowGroupLimit-
    pruned to k (the docstring's plan claim), and a hash collision at
    the k boundary resolves by the native id tiebreak."""
    from leftshove_spark.ext import sketch as SK

    df = spark.createDataFrame(
        [(i, i % 5, i) for i in range(200)], "doc_id long, g long, v long"
    )
    sk = SK.bottomk_sample_sketch(df, "v", ["g"], k=8)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    rows = sk.collect()
    assert all(len(r["sketch"]) == 8 for r in rows)
    assert all(r["n_rows"] == 40 for r in rows)


def test_pq_codes_compress_and_recall_is_pinned(spark):
    """PQ contract: every vector encodes to m in-range codes; ADC
    ranking is deterministic under repartitioning; recall@5 vs exact
    brute-force cosine stays above the pinned floor on the fixture
    (approximate ≠ arbitrary — a codebook or ADC regression shows up
    here as a recall collapse)."""
    import pyspark.sql.functions as F

    from conftest import SF0001
    from leftshove_spark.ext import similarity as S
    from leftshove_spark.sources import load_table

    emb = load_table(spark, SF0001, "embeddings")
    books = S.pq_train_codebooks(emb)
    assert len(books) == S.PQ_M
    assert all(len(b) <= S.PQ_CODES and all(len(c) == S.PQ_SUB for c in b) for b in books)

    enc = S.pq_encode(emb, books)
    code_cols = [f"code_{s}" for s in range(S.PQ_M)]
    bad = enc.filter(
        " OR ".join(f"({c} < 0 OR {c} >= {S.PQ_CODES} OR {c} IS NULL)" for c in code_cols)
    ).count()
    assert bad == 0

    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_pq_adc(emb, books).collect()
    }
    again = {
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_pq_adc(emb.repartition(7), books).collect()
    }
    assert approx == again

    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_bruteforce(q, emb, k=5).collect()
    }
    # ADC alone on the UNIFORM-RANDOM fixture (PQ's worst case — no
    # cluster structure for 32-bit codes to exploit): honest floor only.
    # NOTE the r11 floor drop (0.1 → 0.04): the old lowest-id training
    # sample CONTAINED the evaluation queries (vec_id < 10 ⊂ lowest 64
    # ids) — the codebooks were trained on the test set and the old
    # 0.1+ recall was contamination, not quality. The md5-ordered
    # sample (ADVICE r10) removed the overlap; every md5 salt probed
    # lands at 0.04-0.08 here, which is the true 8-code worst case.
    recall_adc = len(approx & exact) / len(exact)
    assert recall_adc >= 0.04, recall_adc
    # the production composition: ADC candidates -> exact rerank; the
    # miss budget is "true neighbor outside the ADC top-50". Honest
    # floor (same r11 contamination note as above): on the 500-vector
    # fixture a RANDOM top-50 candidate set would land 0.1 — the
    # de-contaminated ADC candidates land ~0.3, 3× chance, which is
    # what 8-code flat PQ really buys on uniform data (IVFADC's 64-code
    # residual books score ~0.34 pre-rerank; see its own pin).
    rer = {
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_pq_rerank(emb, books, rerank=50).collect()
    }
    recall_rerank = len(rer & exact) / len(exact)
    assert recall_rerank >= 0.2, recall_rerank
    assert recall_rerank > recall_adc


def test_semdedup_build_infers_its_pandas_udf_type(spark):
    """The within-cell pair UDF carries full type hints, so building a
    semdedup plan logs no "Cannot infer the eval type" warning."""
    import warnings

    from leftshove_spark.ext import similarity as S

    corpus = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) for j in range(4)]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        S.semdedup(corpus, n_centroids=2)
    assert not [
        w for w in caught if "Cannot infer the eval type" in str(w.message)
    ]


def test_semdedup_admit_invariants(spark):
    """Incremental SemDeDup admission (the semantic W20): (a) the
    admitted set never contains a within-threshold pair — against the
    standing index or within itself; (b) exact re-ingest of an admitted
    row is rejected (cos(x,x)=1); (c) a batch with no conflicts admits
    fully; (d) folding two batches leaves an index that is pairwise
    clean under the frozen centroids."""
    import pyspark.sql.functions as F

    from conftest import SF0001
    from leftshove_spark.ext import similarity as S
    from leftshove_spark.sources import load_table

    emb = load_table(spark, SF0001, "embeddings")
    # planted twins: first 4 components zeroed (cos ≈ 0.99 to original)
    twin = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < 4, F.lit(0.0).cast("float")).otherwise(x),
        ).alias("embedding"),
    )
    cents = S.ivf_centroids(emb)

    b1 = emb.filter(F.col("vec_id") < 40)
    a1 = S.semdedup_admit(None, b1, cents, threshold=0.9)
    n1 = a1.count()
    assert 0 < n1 <= 40

    def clean(ix):
        xa = ix.select(F.col("vec_id").alias("ia"), "cell", F.col("qv").alias("qa"))
        xb = ix.select(F.col("vec_id").alias("ib"), "cell", F.col("qv").alias("qb"))
        return (
            xa.join(xb, "cell")
            .filter(F.col("ia") < F.col("ib"))
            .filter(S.cosine_from_quantized(F.col("qa"), F.col("qb")) >= 0.9)
            .count()
        )

    assert clean(a1) == 0

    # batch 2: twins of batch 1 (should be rejected against the index)
    # plus fresh originals 40..79 (mostly admitted)
    b2 = twin.filter(F.col("vec_id") < 100040).unionByName(
        emb.filter((F.col("vec_id") >= 40) & (F.col("vec_id") < 80)).select(
            "vec_id", "embedding"
        )
    )
    a2 = S.semdedup_admit(a1, b2, cents, threshold=0.9)
    ids2 = {r["vec_id"] for r in a2.select("vec_id").collect()}
    # twins whose ORIGINAL was admitted must be rejected (same cell —
    # zeroing 4 of 64 comps rarely moves the cell; assert on the ones
    # whose cell matches)
    twin_cells = {
        r["vec_id"]: r["cell"]
        for r in S.semdedup_admit(None, twin.filter(F.col("vec_id") < 100040),
                                  cents, threshold=2.0).select("vec_id", "cell").collect()
    }
    admitted_cells = {
        r["vec_id"]: r["cell"] for r in a1.select("vec_id", "cell").collect()
    }
    same_cell_twins = {
        t for t, c in twin_cells.items()
        if admitted_cells.get(t - 100000) == c
    }
    leaked = ids2 & same_cell_twins
    assert not leaked, f"same-cell twins admitted past their originals: {leaked}"

    folded = a1.unionByName(a2)
    assert clean(folded) == 0

    # exact re-ingest of already-admitted rows: all rejected
    a3 = S.semdedup_admit(folded, b1, cents, threshold=0.9)
    a3_ids = {r["vec_id"] for r in a3.select("vec_id").collect()}
    assert not (a3_ids & {r["vec_id"] for r in a1.select("vec_id").collect()})
    assert a3.count() == 0  # every b1 row was screened (admitted or conflicted)


def test_semdedup_admit_greedy_chain(spark):
    """ADVICE r10 (medium): the in-batch screen is the id-ordered
    GREEDY — in a conflict chain a~b, b~c with a,c dissimilar, a is
    admitted, b is rejected by a, and c is ADMITTED (its only conflict
    b did not survive). The previous min-id-per-component resolution
    over-dropped c. Vectors at 0°/20°/40° in a plane: adjacent cosines
    ≈ 0.94 ≥ 0.9, end-to-end ≈ 0.766 < 0.9."""
    from leftshove_spark.ext import similarity as S

    cents = [[1000, 0, 0, 0]]  # one frozen cell — everything lands in it
    batch = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.940, 0.342, 0.0, 0.0]),
            (3, [0.766, 0.643, 0.0, 0.0]),
            # a second independent chain to exercise >1 greedy round:
            # 10~11, 11~12, 12~13 (adjacent only) → admit 10, 12
            (10, [0.0, 0.0, 1.0, 0.0]),
            (11, [0.0, 0.0, 0.940, 0.342]),
            (12, [0.0, 0.0, 0.766, 0.643]),
            (13, [0.0, 0.0, 0.5, 0.866]),
        ],
        "vec_id long, embedding array<double>",
    )
    admitted = {
        r["vec_id"]
        for r in S.semdedup_admit(None, batch, cents, threshold=0.9).collect()
    }
    assert admitted == {1, 3, 10, 12}


def test_semdedup_admit_exact_round_cap(spark):
    """ADVICE r11 (low): a batch that settles in EXACTLY max_rounds
    greedy rounds must NOT raise — the old for/else fired whenever the
    loop exhausted, even with an empty (fully settled) conflict graph.
    One conflict pair settles in one round; max_rounds=1 must admit the
    lower id cleanly, and a genuinely over-long chain must still raise."""
    import pytest

    from leftshove_spark.ext import similarity as S

    cents = [[1000, 0, 0, 0]]
    pair = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.995, 0.0998, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    admitted = {
        r["vec_id"]
        for r in S.semdedup_admit(
            None, pair, cents, threshold=0.9, max_rounds=1
        ).collect()
    }
    assert admitted == {1}
    # 4-chain (adjacent-only conflicts 1~2, 2~3, 3~4) needs exactly 2
    # greedy rounds: round 1 admits 1 / rejects 2, round 2 admits 3 /
    # rejects 4. max_rounds=2 must succeed (the off-by-one), 1 must raise.
    chain = spark.createDataFrame(
        [
            (1, [0.0, 0.0, 1.0, 0.0]),
            (2, [0.0, 0.0, 0.940, 0.342]),
            (3, [0.0, 0.0, 0.766, 0.643]),
            (4, [0.0, 0.0, 0.5, 0.866]),
        ],
        "vec_id long, embedding array<double>",
    )
    admitted2 = {
        r["vec_id"]
        for r in S.semdedup_admit(
            None, chain, cents, threshold=0.9, max_rounds=2
        ).collect()
    }
    assert admitted2 == {1, 3}
    with pytest.raises(ValueError, match="did not settle"):
        S.semdedup_admit(None, chain, cents, threshold=0.9, max_rounds=1)
