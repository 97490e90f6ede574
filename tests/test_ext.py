"""Ext-operator tests beyond the DuckDB oracle: multimodal mapInPandas
plumbing (schema, 1→N fan-out, determinism), the LSH-ANN ⊆ brute-force
contract, and dedup sanity on planted near-duplicates."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from leftshove_spark.ext import dedup as D
from leftshove_spark.ext import multimodal as M
from leftshove_spark.ext import similarity as S
from leftshove_spark.sources import load_table

from conftest import SF0001


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF0001, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF0001, "embeddings").cache()


# ----------------------------------------------------------- multimodal

def test_attach_payload_schema(docs):
    df = M.attach_payload(docs)
    fields = {f.name: f.dataType for f in df.schema.fields}
    assert isinstance(fields["payload"], T.BinaryType)
    # same field names/types (nullability differs: lit() is non-null)
    assert [(f.name, f.dataType) for f in fields["media"].fields] == [
        (f.name, f.dataType) for f in M.MEDIA_META_SCHEMA.fields
    ]
    row = df.select("media.byte_len", F.length("text").alias("n")).first()
    assert row["byte_len"] >= row["n"]  # utf-8 bytes >= chars


def test_decode_features_contract(docs):
    out = M.decode_features(M.attach_payload(docs.limit(50)))
    assert out.schema == M.DECODE_OUT_SCHEMA
    rows = out.collect()
    assert len(rows) == 50
    assert all(len(r["features"]) == M.FEATURE_DIM for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["features"])
    # deterministic across runs (the stub must be stable)
    again = M.decode_features(M.attach_payload(docs.limit(50))).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_frame_sample_fanout(docs):
    src = M.attach_payload(docs.limit(10))
    out = M.frame_sample(src, n_frames=4)
    assert out.schema == M.FRAME_OUT_SCHEMA
    per_doc = out.groupBy("doc_id").count().collect()
    assert all(r["count"] == 4 for r in per_doc)
    # frames reassemble to a prefix of the payload (even split drops the tail)
    one = out.filter(F.col("doc_id") == 0).orderBy("frame_idx").collect()
    joined = b"".join(r["frame"] for r in one)
    payload = src.filter(F.col("doc_id") == 0).select("payload").first()[0]
    assert bytes(payload).startswith(joined) and len(joined) >= len(payload) - 4


# ----------------------------------------------------------- similarity

def test_lsh_is_subset_of_bruteforce_candidates(emb):
    """Every LSH neighbor must carry the same exact cosine the brute
    force computes for that pair (the rerank is exact; only recall may
    drop, never precision)."""
    q = emb.filter(F.col("vec_id") < 10)
    bf = S.knn_bruteforce(q, emb, k=500).select("query_id", "neighbor_id", "cosine")
    lsh = S.knn_lsh(q, emb, dim=64, k=5).select("query_id", "neighbor_id", "cosine")
    assert lsh.count() > 0
    assert lsh.exceptAll(bf).count() == 0  # same pairs, bit-equal cosines


def test_lsh_recall_floor(emb):
    """Deterministic recall@5 of the fixed-plane LSH vs exact top-5.
    Not a tuning claim — a regression pin: planes/probes are fixed, so
    this number can only change if the operator changes."""
    q = emb.filter(F.col("vec_id") < 10)
    bf = set(
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_bruteforce(q, emb, k=5).collect()
    )
    lsh = set(
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_lsh(q, emb, dim=64, k=5).collect()
    )
    recall = len(bf & lsh) / len(bf)
    assert recall >= 0.2, f"recall collapsed: {recall}"


# ----------------------------------------------------------- dedup sanity

def test_minhash_finds_planted_near_dups(docs):
    """Doc vs its first-5-tokens-dropped copy is a true near-dup with
    high Jaccard; banded LSH (P(find) ≈ 0.94 at J=0.8, deterministic
    given fixed seeds) must recover most planted pairs, and every
    emitted pair must pass the exact-Jaccard verification — precision
    is exact even though candidate recall is probabilistic."""
    from leftshove_spark.queries_ext import _perturbed_docs_df

    base = _perturbed_docs_df(docs)
    pairs = D.minhash_lsh_pairs(base, jaccard_threshold=0.6).collect()
    assert all(p["jaccard"] >= 0.6 for p in pairs)  # exact precision
    planted = {p["id_a"] for p in pairs if p["id_b"] - p["id_a"] == 100000}
    eligible = base.filter(F.col("doc_id") >= 100000).count()
    assert len(planted) / eligible > 0.7  # LSH recall on true near-dups


def test_exact_dedup_collapses_planted_copies(docs):
    out = D.exact_dedup(docs.unionAll(docs))
    rows = out.collect()
    assert len(rows) == docs.count()  # one group per distinct text
    assert all(r["n_copies"] == 2 for r in rows)


def test_embedding_neardup_lsh_equals_exact(emb):
    """The banded-SRP candidate path must reproduce the all-pairs exact
    operator's output EXACTLY on the planted-near-dup corpus (the band
    shape is sized for ~1e-5 miss probability per true pair, and both
    paths rerank with the same exact integer cosine — so equality is
    deterministic here, not a sampling claim). This is the no-all-pairs
    scale path the gate query runs."""
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i < 4, F.lit(0.0).cast("float")).otherwise(x),
        ).alias("embedding"),
    )
    base = emb.select("vec_id", "embedding").unionAll(pert)
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.embedding_near_dup_pairs(base, threshold=0.9).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.embedding_near_dup_lsh(base, threshold=0.9).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_salted_join_rejects_outer_shapes(spark):
    import pytest as _pytest

    from leftshove_spark.operators import skew

    df = spark.range(4).withColumnRenamed("id", "k")
    with _pytest.raises(ValueError):
        skew.salted_join(df, df, "k", how="full_outer")


def _dot_pairs(spark):
    """64-dim quantized pairs: seeded random rows, a zero-norm row, and
    a size-mismatch row (63 components on one side)."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (i, rng.integers(-4000, 4001, 64).tolist(), rng.integers(-4000, 4001, 64).tolist())
        for i in range(40)
    ]
    rows.append((40, [0] * 64, rng.integers(-4000, 4001, 64).tolist()))
    rows.append((41, rng.integers(-4000, 4001, 63).tolist(), rng.integers(-4000, 4001, 64).tolist()))
    return spark.createDataFrame(rows, "id bigint, a array<bigint>, b array<bigint>")


def test_unrolled_dot_and_cosine_match_generic_form(spark):
    """The one-call SQL-text unrolled int_dot / cosine_from_quantized
    equal the generic higher-order form bit for bit, and a size mismatch
    gives NULL (the size guard), never a prefix dot."""
    got = {
        r["id"]: r
        for r in _dot_pairs(spark)
        .select(
            "id",
            S.int_dot("a", "b", dim=64).alias("dot_u"),
            S.int_dot(F.col("a"), F.col("b")).alias("dot_g"),
            S.cosine_from_quantized("a", "b", dim=64).alias("cos_u"),
            S.cosine_from_quantized(F.col("a"), F.col("b")).alias("cos_g"),
        )
        .collect()
    }
    assert len(got) == 42
    for i, r in got.items():
        assert r["dot_u"] == r["dot_g"], i
        assert r["cos_u"] == r["cos_g"], i  # bit-equal doubles (or both NULL)
    assert got[41]["dot_u"] is None and got[41]["cos_u"] is None
    assert got[40]["dot_u"] == 0 and got[40]["cos_u"] is None  # 0/0 → NULL
    assert all(got[i]["cos_u"] is not None for i in range(40))


def test_unrolled_cosine_builds_in_few_jvm_calls(spark):
    """Building a 64-dim cosine (three unrolled dots, ~750 expression
    nodes) costs a handful of py4j round-trips, not one per node."""
    import py4j.clientserver as cs

    calls = []
    orig = cs.ClientServerConnection.send_command

    def counting(self, command):
        calls.append(1)
        return orig(self, command)

    cs.ClientServerConnection.send_command = counting
    try:
        S.cosine_from_quantized("qv", "cv", dim=64)
    finally:
        cs.ClientServerConnection.send_command = orig
    assert 0 < len(calls) <= 10, len(calls)


def test_centroid_and_lsh_expressions_build_in_few_jvm_calls(spark):
    """Centroid scoring, cluster assignment, the SRP bucket and the
    37-entry multi-probe array are each one SQL expression, so building
    them costs tens of py4j round-trips, not one per node: built Column
    by Column, a 16-centroid assignment took about 6,600 and a
    ``knn_lsh`` plan about 4,800."""
    import py4j.clientserver as cs

    cents = [[(i * 7 + j * 13) % 201 - 100 for j in range(64)] for i in range(16)]
    q = spark.createDataFrame([(0, [1.0] * 64)], "vec_id long, embedding array<float>")
    counts = {}
    orig = cs.ClientServerConnection.send_command

    def count(label, build):
        calls = []

        def counting(self, command):
            calls.append(1)
            return orig(self, command)

        cs.ClientServerConnection.send_command = counting
        try:
            build()
        finally:
            cs.ClientServerConnection.send_command = orig
        counts[label] = len(calls)

    count("assign", lambda: S._assign_cluster(F.col("qv"), cents))
    count("scores", lambda: S._centroid_scores("qv", cents))
    count("bucket", lambda: S.lsh_bucket("qv", 64))
    count("knn_lsh", lambda: S.knn_lsh(q, q, dim=64, k=5))
    assert 0 < counts["assign"] <= 40, counts
    assert 0 < counts["scores"] <= 80, counts
    assert 0 < counts["bucket"] <= 20, counts
    assert 0 < counts["knn_lsh"] <= 800, counts


def test_ivf_centroids_match_numpy_replay(emb):
    """ivf_centroids on the sf0.001 embeddings equals a pure-numpy
    replay: seeds first in md5(salt || id) order, then two Lloyd steps
    (argmax cosine, ties → higher index; floor(sum/count + 0.5) means;
    an empty cell keeps its centroid)."""
    import hashlib

    import numpy as np

    k = 16
    rows = emb.select("vec_id", S.quantize("embedding").alias("qv")).collect()
    ids = [r["vec_id"] for r in rows]
    Q = np.array([r["qv"] for r in rows], dtype=np.int64)
    order = sorted(
        range(len(ids)),
        key=lambda j: (hashlib.md5(f"{S.IVF_SEED_SALT}{ids[j]}".encode()).hexdigest(), ids[j]),
    )
    C = Q[order[:k]].copy()
    for _ in range(2):
        qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = (Q @ C.T).astype(np.float64) / (qn[:, None] * cn[None, :])
        cos[np.isnan(cos)] = -np.inf
        cell = k - 1 - np.argmax(cos[:, ::-1], axis=1)  # ties → higher index
        for c in range(k):
            members = Q[cell == c]
            if len(members):
                C[c] = np.floor(members.sum(axis=0) / len(members) + 0.5)
    assert S.ivf_centroids(emb, n_centroids=k, iters=2) == C.tolist()


def test_ivf_precision_and_recall(emb):
    """knn_ivf: every IVF neighbor carries the brute-force-exact cosine
    (precision absolute — the rerank is the same integer arithmetic);
    recall@5 vs exact top-5 is pinned as a regression floor (centroids
    and probes are deterministic, so this only moves if the operator
    changes)."""
    q = emb.filter(F.col("vec_id") < 10)
    bf_all = S.knn_bruteforce(q, emb, k=500).select("query_id", "neighbor_id", "cosine")
    ivf = S.knn_ivf(q, emb, k=5, nprobe=4).select("query_id", "neighbor_id", "cosine")
    assert ivf.count() > 0
    assert ivf.exceptAll(bf_all).count() == 0  # same pairs, bit-equal cosines
    bf5 = set(
        (r["query_id"], r["neighbor_id"]) for r in S.knn_bruteforce(q, emb, k=5).collect()
    )
    got = set((r["query_id"], r["neighbor_id"]) for r in ivf.collect())
    recall = len(bf5 & got) / len(bf5)
    assert recall >= 0.4, f"IVF recall collapsed: {recall}"


def test_incremental_lsh_equals_full_subset(spark):
    """Incremental dedup (new batch vs stored index) finds EXACTLY the
    full-corpus pairs that touch a new document — new×corpus near-dups
    included — without re-shingling the corpus."""
    from leftshove_spark.ext.dedup import (
        build_minhash_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )
    from leftshove_spark.sources import load_table
    from conftest import SF0001

    docs = load_table(spark, SF0001, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 400)
    # new batch: the remaining docs PLUS near-dup perturbations of
    # corpus docs (drop first 5 tokens) -> guaranteed cross-batch pairs
    t = F.split(F.lower("text"), "[^a-z0-9]+")
    pert = (
        docs.filter((F.col("doc_id") < 50) & (F.size(t) > 10))
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(" ", F.slice(t, 6, F.size(t) - 5)).alias("text"),
        )
    )
    new = docs.filter(F.col("doc_id") >= 400).unionAll(pert)

    full = minhash_lsh_pairs(corpus.unionAll(new), jaccard_threshold=0.6)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    expected = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in full.collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    inc = minhash_lsh_pairs_incremental(
        new, build_minhash_index(corpus), jaccard_threshold=0.6
    )
    got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in inc.collect()}
    assert got == expected
    assert any(a < 400 <= b or b < 400 <= a for a, b, _ in got)  # cross-batch hits


def test_incremental_lsh_reingest_upserts(spark):
    """An id present in both the batch and the index is a re-ingest: the
    new content replaces the stored shingles — exactly one row per pair,
    jaccard computed against CURRENT content, never the stale copy."""
    from leftshove_spark.ext.dedup import (
        build_minhash_index,
        minhash_lsh_pairs_incremental,
    )

    base = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        ["doc_id", "text"],
    )
    idx = build_minhash_index(base)
    # re-ingest doc 1 with content now nearly identical to doc 2, plus a
    # fresh doc 3 identical to OLD doc 1 — against stale shingles the
    # verdicts would invert
    new = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine eleven"),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        ["doc_id", "text"],
    )
    rows = minhash_lsh_pairs_incremental(new, idx, jaccard_threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert len(rows) == len(pairs)  # no duplicated pair rows
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.5  # NEW content matched
    assert (1, 3) not in pairs  # stale content did not


def test_ngram_default_blocking_caps_block_size(spark):
    """The no-args path must never degenerate into an uncapped all-pairs
    join: a skewed fixture (every doc same lang + same length bucket)
    gets capped at max_block_size docs — only the smallest ids survive
    into the pair space."""
    rows = [(i, "en", f"alpha beta gamma delta epsilon zeta token{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    out = D.ngram_jaccard_topk(df, k=1000, max_block_size=5).collect()
    ids = {r["id_a"] for r in out} | {r["id_b"] for r in out}
    assert ids <= set(range(5))  # capped block = 5 smallest ids
    assert len(out) == 10  # C(5,2) pairs, not C(20,2)=190


def test_ngram_explicit_blocks_uncapped_and_unchanged(spark):
    """Caller-supplied block_cols are exact: no cap, no derived bucket —
    the oracle-gated semantics."""
    rows = [(i, "en", f"alpha beta gamma token{i}") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    out = D.ngram_jaccard_topk(df, block_cols=["lang"], k=1000, max_block_size=2)
    assert out.count() == 28  # C(8,2) — cap ignored on the explicit path


def test_ivf_arrow_assignment_bitwise_matches_literal(emb):
    """The Arrow matmul cell assignment (large-k path) must equal the
    literal expression-tree argmax — same scores, same tie order."""
    spark = emb.sparkSession
    cents = S.ivf_centroids(emb, n_centroids=16, iters=1)
    v = emb.select(F.col("vec_id").alias("id"), S.quantize("embedding").alias("qv"))
    lit = v.withColumn("cell", S._assign_cluster(F.col("qv"), cents).cast("long"))
    arr = S._assign_cells_arrow(v, cents, qv_col="qv", out_col="cell")
    diff = (
        lit.select("id", "cell").exceptAll(arr.select("id", "cell")).count()
    )
    assert diff == 0


def test_ivf_arrow_assignment_matches_literal_on_zero_norm(spark):
    """Degenerate vectors: a zero-norm row (0/0 against every centroid)
    and a zero-norm centroid (0/0 against every row). r6's literal path
    THREW DIVIDE_BY_ZERO under ANSI mode and the Arrow path returned
    cell -1; the contract is now try_divide → NULL (sorts smallest,
    ties → highest index) on the literal path, NaN→-inf on Arrow."""
    cents = [[0, 0, 0, 0], [1, 2, 3, 4], [4, 3, 2, 1]]
    rows = [(0, [0, 0, 0, 0]), (1, [1, 2, 3, 4]), (2, [-1, -2, -3, -4])]
    v = spark.createDataFrame(rows, "id bigint, qv array<bigint>")
    lit = v.withColumn("cell", S._assign_cluster(F.col("qv"), cents).cast("long"))
    arr = S._assign_cells_arrow(v, cents, qv_col="qv", out_col="cell")
    got = {r["id"]: r["cell"] for r in arr.collect()}
    want = {r["id"]: r["cell"] for r in lit.collect()}
    assert got == want
    # zero row: every score NULL/-inf → tie → highest index (2). The
    # zero-norm centroid 0 never wins a nonzero row: row 1 is parallel
    # to centroid 1 (cos 1.0); row 2's best finite score is centroid 2.
    assert got == {0: 2, 1: 1, 2: 2}


def test_ivf_probe_order_matches_literal(emb):
    """Arrow top-nprobe probe cells must come out in the literal path's
    order: cosine desc, then index desc."""
    cents = S.ivf_centroids(emb, n_centroids=16, iters=1)
    v = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("id"), S.quantize("embedding").alias("qv")
    )
    scored = F.array(
        *[
            F.struct(s.alias("c"), F.lit(i).cast("long").alias("i"))
            for i, s in enumerate(S._centroid_scores(F.col("qv"), cents))
        ]
    )
    lit = v.withColumn(
        "cells",
        F.transform(F.slice(F.sort_array(scored, asc=False), 1, 4), lambda s: s["i"]),
    ).select("id", "cells")
    arr = S._probe_cells_arrow(v, cents, 4, qv_col="qv", out_col="cells").select(
        "id", "cells"
    )
    got = {r["id"]: r["cells"] for r in arr.collect()}
    want = {r["id"]: r["cells"] for r in lit.collect()}
    assert got == want


def test_ivf_large_centroid_count_end_to_end(emb):
    """n_centroids=256 exercises the Arrow path end-to-end (Lloyd
    assignment + corpus cells + probes). Reranked cosines are the exact
    integer cosine, so any neighbor IVF returns must carry the identical
    score brute force computes for that pair."""
    out = S.knn_ivf(
        emb.filter(F.col("vec_id") < 5), emb, k=5, n_centroids=256, nprobe=32, iters=1
    )
    rows = out.collect()
    assert {r["query_id"] for r in rows} == set(range(5))
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in S.knn_bruteforce(
            emb.filter(F.col("vec_id") < 5), emb, k=500
        ).collect()
    }
    for r in rows:
        assert bf[(r["query_id"], r["neighbor_id"])] == r["cosine"]  # bit-exact


def test_jaccard_exact_hot_shingle_cap(spark):
    """max_shingle_df drops postings for ultra-common shingles: with a
    permissive cap the result equals the exact default; with cap=1 every
    shared shingle's posting vanishes (df >= 2 by definition of shared),
    so no pair can survive. The gated x_dedup_jaccard_exact entry pins
    the default path against the inverted-index SQL oracle."""
    from leftshove_spark.ext.dedup import jaccard_pairs_exact
    from leftshove_spark.queries_ext import _perturbed_docs

    base = _perturbed_docs(spark, "/root/testdata/sf0.001")
    exact = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_exact(base, jaccard_threshold=0.6).collect()
    }
    assert exact, "fixture must contain planted near-dup pairs"
    permissive = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_exact(
            base, jaccard_threshold=0.6, max_shingle_df=10**9
        ).collect()
    }
    assert permissive == exact
    capped = jaccard_pairs_exact(base, jaccard_threshold=0.6, max_shingle_df=1)
    assert capped.count() == 0


def test_duplicated_passages_planted_boilerplate(spark):
    """A 6-token boilerplate shared by docs 1/2/3 (at different offsets)
    is flagged at the right positions with n_docs=3; the unique doc is
    untouched."""
    boiler = "all rights reserved see license file"
    rows = [
        (1, f"{boiler} alpha beta gamma"),
        (2, f"intro words here {boiler} tail"),
        (3, f"one two three four {boiler}"),
        (4, "completely unique text with no shared windows at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.duplicated_passages(df, window=6, min_docs=2).collect()
    got = {(r["doc_id"], r["pos"]) for r in out}
    assert got == {(1, 1), (2, 4), (3, 5)}
    assert all(r["n_docs"] == 3 for r in out)


def test_duplicated_span_fraction_interval_union(spark):
    """Overlapping flagged windows must union, not double-count: two
    docs sharing a 5-token passage with window=3 flag starts {1,2,3},
    whose union covers 5 tokens, not 9."""
    shared = "v w x y z"
    rows = [(1, f"{shared} a b c d e"), (2, f"{shared} f g h i j")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_tokens"], r["covered_tokens"], r["dup_fraction"])
        for r in D.duplicated_span_fraction(df, window=3, min_docs=2).collect()
    }
    assert out[1] == (10, 5, 0.5) and out[2] == (10, 5, 0.5)


def test_duplicated_passages_hot_window_cap(spark):
    """max_window_df drops ultra-common windows from the cluster
    listing (boilerplate in 'every' doc) while keeping rarer ones."""
    boiler = "p q r"
    rows = [(i, f"{boiler} unique{i} filler{i} end{i}") for i in range(1, 6)]
    rows += [(10, "rare shared bit one more pad"), (11, "rare shared bit two other pad")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = D.duplicated_passages(df, window=3, min_docs=2, max_window_df=4)
    hashes = {r["n_docs"] for r in capped.collect()}
    assert hashes and max(hashes) <= 4
    uncapped = D.duplicated_passages(df, window=3, min_docs=2)
    assert 5 in {r["n_docs"] for r in uncapped.collect()}


def test_unicode_nfkc_compat_folding(spark):
    """NFKC (no DuckDB twin — pytest-pinned): ligatures, fullwidth and
    circled digits fold to their ASCII compatibility forms; NFC leaves
    them alone; both agree with Python's unicodedata on every sample."""
    import unicodedata

    from leftshove_spark.ext.text import unicode_normalize

    samples = ["ﬁle ﬂow", "ＡＢＣ１２３",
               "①②③", "café", "ASCII"]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "i long, s string"
    )
    rows = df.select(
        "i",
        unicode_normalize("s", "NFC").alias("nfc"),
        unicode_normalize("s", "NFKC").alias("nfkc"),
    ).collect()
    for r in rows:
        s = samples[r["i"]]
        assert r["nfc"] == unicodedata.normalize("NFC", s)
        assert r["nfkc"] == unicodedata.normalize("NFKC", s)
    by_i = {r["i"]: r for r in rows}
    assert by_i[0]["nfkc"] == "file flow"
    assert by_i[1]["nfkc"] == "ABC123"
    assert by_i[2]["nfkc"] == "123"
    assert by_i[3]["nfc"] == "café"  # decomposed re-composes


def test_unicode_tokens_preserve_case_policy(spark):
    """unicode_tokens deliberately does NOT casefold (JVM lower() is
    context-sensitive on final sigma where utf8proc is not; U+0130
    diverges too) — tokens come back case-preserved, and the JVM
    lowercase behavior itself is pinned here so a Spark upgrade that
    changes it surfaces as a test diff, not an oracle surprise."""
    from pyspark.sql import functions as F

    from leftshove_spark.ext.text import unicode_tokens

    df = spark.createDataFrame([(1, "Ο ΣΩΣΙΑΣ Café")], "i long, s string")
    toks = df.select(F.array_join(unicode_tokens("s"), "|").alias("t")).first()["t"]
    assert toks == "Ο|ΣΩΣΙΑΣ|Café"
    low = df.select(F.lower("s").alias("l")).first()["l"]
    # JVM: final sigma -> ς, non-final -> σ (context-sensitive)
    assert low == "ο σωσιας café"


def test_redact_duplicated_spans_removes_shared_passage(spark):
    """The planted boilerplate vanishes from every doc carrying it; the
    unique doc comes back as its own (normalized) token stream; kept +
    dropped = total."""
    boiler = "all rights reserved see license file"
    rows = [
        (1, f"{boiler} alpha beta gamma"),
        (2, f"intro words here {boiler} tail"),
        (3, "completely unique text stays whole"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.redact_duplicated_spans(df, window=6, min_docs=2).collect()
    }
    assert out[1]["text_redacted"] == "alpha beta gamma"
    assert out[2]["text_redacted"] == "intro words here tail"
    assert out[3]["text_redacted"] == "completely unique text stays whole"
    for r in out.values():
        assert r["n_tokens_dropped"] == (6 if r["doc_id"] in (1, 2) else 0)


def test_redact_duplicated_spans_fully_covered_doc(spark):
    """A doc that IS the shared passage redacts to the empty string with
    zero kept tokens — the left-join-back must not drop the row."""
    s = "one two three four five six"
    df = spark.createDataFrame(
        [(1, s), (2, s)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in D.redact_duplicated_spans(df, window=6, min_docs=2).collect()
    }
    assert out[1]["text_redacted"] == "" and out[1]["n_tokens_kept"] == 0
    assert out[1]["n_tokens_dropped"] == 6


def test_window_hashes_arrow_matches_expression_twin(spark):
    """The Arrow window-hash stage must be bit-identical to the
    Catalyst expression form — same (id, pos, window_hash) multiset on
    a corpus slice including sub-window docs."""
    docs = load_table(spark, SF0001, "documents").limit(60)
    a = sorted(
        map(tuple, D.window_hashes_with_pos(docs, window=8).collect())
    )
    b = sorted(
        map(tuple, D._window_hashes_with_pos_expr(docs, "text", "doc_id", 8).collect())
    )
    assert a == b and len(a) > 0


def test_staged_shingles_memo_matches_expression_twin(spark):
    """The Arrow shingle stage (with its r16 per-task shingle/doc memos)
    must stay bit-identical to the Catalyst expression form — same
    (id, sorted shingle set) per doc, on a corpus slice that exercises
    BOTH memos: duplicated texts (doc-memo hits) and natural shared
    n-grams (shingle-memo hits), plus empty/sub-n docs and unicode."""
    from pyspark.sql import functions as F

    from leftshove_spark.ext.dedup import (
        _staged_shingles,
        shingle_hashes_from_tokens,
    )
    from leftshove_spark.ext.text import tokenize

    base = load_table(spark, SF0001, "documents").limit(40).select(
        "doc_id", "text"
    )
    extra = spark.createDataFrame(
        [
            (9001, ""),
            (9002, "two tokens"),
            (9003, "naïve café déjà vu naïve café déjà vu naïve café"),
        ],
        "doc_id long, text string",
    )
    # every doc twice (distinct ids) — the curation-corpus shape
    docs = base.unionByName(extra).cache()
    dup = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 100000)
    )
    arrow = {
        r["id"]: sorted(r["sh"])
        for r in _staged_shingles(dup, "text", "doc_id", pin=False)
        .coalesce(1)  # one task ⇒ the memos see every repeat
        .collect()
    }
    expr = {
        r["doc_id"]: sorted(r["sh"])
        for r in dup.select(
            "doc_id",
            shingle_hashes_from_tokens(tokenize("text")).alias("sh"),
        ).collect()
        if r["sh"]
    }
    assert arrow == expr and len(arrow) > 40
    docs.unpersist()


def test_duplicated_passage_family_matches_python_model(spark):
    """Randomized model check: on a seeded random corpus (shared
    passages planted by construction of a tiny vocabulary), the passage
    clusters, span fractions, and redaction all equal a brute-force
    pure-Python reference."""
    import random

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(12)]
    docs = []
    for i in range(40):
        n = rng.randint(3, 30)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    W = 4
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # python model
    toks = {i: t.split() for i, t in docs}
    wins: dict[int, list[tuple[int, str]]] = {}
    for i, t in toks.items():
        wins[i] = [
            (p + 1, " ".join(t[p : p + W])) for p in range(len(t) - W + 1)
        ]
    from collections import defaultdict

    docs_per_win: dict[str, set] = defaultdict(set)
    for i, ws in wins.items():
        for _, w in ws:
            docs_per_win[w].add(i)
    flagged = {w for w, ds in docs_per_win.items() if len(ds) >= 2}
    want_passages = {
        (i, p) for i, ws in wins.items() for p, w in ws if w in flagged
    }
    got_passages = {
        (r["doc_id"], r["pos"])
        for r in D.duplicated_passages(df, window=W, min_docs=2).collect()
    }
    assert got_passages == want_passages

    # span fractions via position sets
    covered: dict[int, set] = defaultdict(set)
    for i, p in want_passages:
        covered[i].update(range(p, p + W))
    got_frac = {
        r["doc_id"]: (r["n_tokens"], r["covered_tokens"])
        for r in D.duplicated_span_fraction(df, window=W, min_docs=2).collect()
    }
    for i, t in toks.items():
        assert got_frac[i] == (len(t), len(covered[i]))

    # redaction drops exactly the covered positions, order preserved
    got_red = {
        r["doc_id"]: r["text_redacted"]
        for r in D.redact_duplicated_spans(df, window=W, min_docs=2).collect()
    }
    for i, t in toks.items():
        want = " ".join(
            tok for p, tok in enumerate(t, start=1) if p not in covered[i]
        )
        assert got_red[i] == want


def test_bpe_merge_loop_properties():
    """X59 property test (hypothesis, pure Python): for arbitrary
    lowercase-alnum words and arbitrary merge-rank tables built from
    pair fragments of those words —
    (a) the output symbols concatenate back to the word (merges never
        lose or reorder characters),
    (b) the output is a FIXPOINT: no adjacent output pair is in the
        rank table,
    (c) merge count ≡ len(word) − len(output) (what bpe_token_counts'
        n_merges relies on),
    (d) an empty rank table is the identity tokenization."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from leftshove_spark.ext.text import bpe_tokenize_word_py

    word_st = st.text(alphabet="ab0", min_size=0, max_size=12)

    @st.composite
    def word_and_ranks(draw):
        w = draw(word_st)
        # candidate merge pairs: fragments of the word itself (the
        # adversarial case — rules that actually fire, chain, and
        # overlap) plus a few alphabet pairs
        frags = set()
        for i in range(len(w)):
            for j in range(i + 1, min(i + 4, len(w) + 1)):
                frags.add(w[i:j])
        frags |= {"a", "b", "0", "ab", "ba"}
        frags = sorted(frags)
        n_rules = draw(st.integers(0, 8))
        pairs = [
            (draw(st.sampled_from(frags)), draw(st.sampled_from(frags)))
            for _ in range(n_rules)
        ]
        # rank table: first occurrence wins (dict construction order)
        ranks = {}
        for p in pairs:
            ranks.setdefault(p, len(ranks))
        return w, ranks

    @given(word_and_ranks())
    @settings(max_examples=300, deadline=None)
    def check(wr):
        w, ranks = wr
        out = bpe_tokenize_word_py(w, ranks)
        assert "".join(out) == w  # (a)
        for x, y in zip(out, out[1:]):
            assert (x, y) not in ranks  # (b) fixpoint
        assert len(w) - len(out) >= 0  # (c) merges only shrink
        assert bpe_tokenize_word_py(w, {}) == list(w)  # (d)

    check()


def test_bpe_train_matches_python_trainer(spark):
    """X62 parity: the DISTRIBUTED trainer (relational pair-count /
    argmax / run-parity apply, one Spark round per merge) learns exactly
    the merge table the in-memory Sennrich loop learns from the same
    word-frequency input — a third independent implementation beside
    the SQL oracle. Includes an identical-symbol-run corpus ('aaaa')
    where greedy left-to-right merging is the classic off-by-one trap."""
    from leftshove_spark.ext.text import (
        bpe_train,
        bpe_train_ranks_py,
        tokenize_py,
    )

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the rat aaaa aaa the hat"),
        (2, "that cat aaaa that that hat"),
        (3, "in the thin inn aaaa"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = bpe_train(df, num_merges=8, max_words=None, min_pair_count=2)

    wc: dict = {}
    for _, t in docs:
        for w in tokenize_py(t):
            wc[w] = wc.get(w, 0) + 1
    want = bpe_train_ranks_py(wc, num_merges=8, min_pair_count=2)
    assert got == want
    assert len(got) >= 5  # the fixture genuinely trains


def test_bpe_train_feeds_token_counts(spark):
    """The trained table is a drop-in merge list for bpe_token_counts:
    counting with the learned merges equals the per-word greedy
    inference loop run against the same ranks (and compresses vs the
    no-merge baseline)."""
    from leftshove_spark.ext.text import (
        bpe_token_counts,
        bpe_tokenize_word_py,
        bpe_train,
        tokenize_py,
    )

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the rat and the hat hat"),
        (2, "that cat and that hat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    trained = bpe_train(df, num_merges=6, max_words=None, min_pair_count=2)
    merges = [(a, b) for a, b, _ in trained]
    ranks = {p: i for i, p in enumerate(merges)}
    got = {
        r["doc_id"]: (r["n_tokens_bpe"], r["n_merges"], r["n_words"])
        for r in bpe_token_counts(df, merges).collect()
    }
    for doc_id, text in docs:
        toks = tokenize_py(text)
        n_sym = sum(len(bpe_tokenize_word_py(w, ranks)) for w in toks)
        n_char = sum(len(w) for w in toks)
        assert got[doc_id] == (n_sym, n_char - n_sym, len(toks))
        assert n_sym < n_char  # the learned vocab genuinely compresses


def test_merges_txt_roundtrip_and_real_format(spark):
    """merges.txt parser: the HF/GPT-2 format (version header, one
    'left right' pair per line) parses into the operator's merge-list
    shape, round-trips through format_merges, rejects malformed lines,
    and drives bpe_token_counts identically to the in-memory list."""
    import pytest

    from leftshove_spark.ext.text import (
        BPE_MERGES,
        bpe_token_counts,
        format_merges,
        parse_merges,
    )

    text = "#version: 0.2\nt h\nth e\ni n\n\na n\n"
    assert parse_merges(text) == [("t", "h"), ("th", "e"), ("i", "n"), ("a", "n")]
    assert parse_merges(format_merges(BPE_MERGES)) == BPE_MERGES
    with pytest.raises(ValueError, match="malformed"):
        parse_merges("a b c\n")

    df = spark.createDataFrame([(0, "the thin inn")], "doc_id long, text string")
    via_file = bpe_token_counts(df, parse_merges(format_merges(BPE_MERGES)))
    direct = bpe_token_counts(df, BPE_MERGES)
    assert via_file.collect() == direct.collect()


def test_bpe_fast_trainer_matches_reference():
    """The incremental-count heap trainer (the realistic-vocab path)
    must learn EXACTLY the same ranked table as the per-round-rescan
    reference trainer — same argmax tiebreak (count desc, pair asc),
    same greedy left-to-right apply, including identical-symbol runs
    and early exhaustion."""
    from leftshove_spark.ext.text import bpe_train_fast_py, bpe_train_ranks_py

    cases = [
        {"the": 5, "that": 3, "hat": 2, "aaaa": 4, "aaa": 1, "in": 7},
        {"abcabc": 2, "bcab": 3, "cab": 5, "a": 9},
        {"x": 1},  # no pairs at all
        {"zz": 1, "zzz": 1, "zzzz": 1},
    ]
    for wc in cases:
        for k in (3, 8, 50):
            fast = bpe_train_fast_py(wc, k, min_pair_count=1)
            ref = bpe_train_ranks_py(wc, k, min_pair_count=1)
            assert fast == ref, (wc, k, fast, ref)
        assert bpe_train_fast_py(wc, 8, min_pair_count=3) == bpe_train_ranks_py(
            wc, 8, min_pair_count=3
        )


def test_bpe_5k_vocab_is_realistic_scale(spark):
    """VERDICT r11 #4 'done' criterion: the x_bpe_5k_vocab fixture
    genuinely reaches 5,000 ranks, its rules chain (later rules' sides
    are earlier rules' outputs), it round-trips through the merges.txt
    format, and counting with it is exact vs the per-word reference
    loop on a document sample."""
    from leftshove_spark.ext.text import (
        bpe_token_counts,
        bpe_tokenize_word_py,
        format_merges,
        parse_merges,
        tokenize_py,
    )
    from leftshove_spark.queries_ext import _bpe5k_train_from_counts
    from leftshove_spark.sources import load_table

    docs = load_table(spark, SF0001, "documents")
    wc = {
        r["w"]: r["c"]
        for r in docs.selectExpr(
            "explode(filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')) AS w"
        )
        .groupBy("w")
        .count()
        .withColumnRenamed("count", "c")
        .collect()
    }
    merges = _bpe5k_train_from_counts(wc)
    assert len(merges) >= 5000
    # chaining: every multi-char side is itself an earlier rule's output
    produced = {a + b for a, b in merges}
    for a, b in merges:
        for side in (a, b):
            assert len(side) == 1 or side in produced
    # merges.txt round-trip at full scale
    assert parse_merges(format_merges([(a, b) for a, b in merges])) == merges
    # exactness on a sample vs the reference per-word loop
    ranks = {p: i for i, p in enumerate(merges)}
    sample = docs.limit(20).collect()
    got = {
        r["doc_id"]: r["n_tokens_bpe"]
        for r in bpe_token_counts(
            spark.createDataFrame(sample, docs.schema), merges
        ).collect()
    }
    for row in sample:
        want = sum(
            len(bpe_tokenize_word_py(w, ranks)) for w in tokenize_py(row["text"])
        )
        assert got[row["doc_id"]] == want

def test_bpe_train_scalable_composes_the_certified_pieces(spark, tmp_path):
    """VERDICT r12 next #2: the COMPOSED production trainer (one Spark
    distinct-word reduce → capped top-types collect → heap trainer →
    merges.txt) learns exactly what the reference Sennrich loop learns
    from the same counts, equals the distributed relational trainer on
    an uncapped corpus, honors the top-types cap deterministically, and
    round-trips through merges.txt into the inference passes."""
    from leftshove_spark.ext.text import (
        bpe_encode,
        bpe_token_counts,
        bpe_train,
        bpe_train_ranks_py,
        bpe_train_scalable,
        load_merges_file,
        tokenize_py,
    )

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the rat aaaa aaa the hat"),
        (2, "that cat aaaa that that hat"),
        (3, "in the thin inn aaaa"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    wc: dict = {}
    for _, t in docs:
        for w in tokenize_py(t):
            wc[w] = wc.get(w, 0) + 1

    path = str(tmp_path / "merges.txt")
    got = bpe_train_scalable(
        df, num_merges=8, max_word_types=None, min_pair_count=2,
        merges_path=path,
    )
    # ≡ the reference trainer on the same counts
    assert got == bpe_train_ranks_py(wc, num_merges=8, min_pair_count=2)
    # ≡ the distributed relational trainer (third implementation)
    assert got == bpe_train(df, num_merges=8, max_words=None, min_pair_count=2)
    assert len(got) >= 5
    # merges.txt round-trip drives the inference passes
    loaded = load_merges_file(path)
    assert loaded == [(a, b) for a, b, _ in got]
    counts = {
        r["doc_id"]: r["n_tokens_bpe"]
        for r in bpe_token_counts(df, loaded).collect()
    }
    n_chars = {
        i: sum(len(w) for w in tokenize_py(t)) for i, t in docs
    }
    assert all(counts[i] < n_chars[i] for i, _ in docs)  # compresses
    enc = bpe_encode(df, loaded).collect()
    assert all(r["n_tokens"] == counts[r["doc_id"]] for r in enc)

    # the top-types cap is the deterministic (count desc, word asc)
    # prefix — capping in Spark ≡ capping the Python counts
    capped = bpe_train_scalable(
        df, num_merges=8, max_word_types=5, min_pair_count=1
    )
    top5 = dict(sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:5])
    assert capped == bpe_train_ranks_py(top5, num_merges=8, min_pair_count=1)


def test_bpe_50k_vocab_is_production_scale(spark):
    """X69: the frozen 50k table really holds 50,000 chaining ranks,
    every rule's parts are derivable (alphabet or an earlier merge —
    the chaining structure a real merges.txt has), and inference over
    the fixture docs agrees with the driver-side greedy loop."""
    from leftshove_spark.ext.text import (
        BPE_ALPHABET,
        bpe_token_counts,
        bpe_tokenize_word_py,
        tokenize_py,
    )
    from leftshove_spark.queries_ext import _bpe50k_table

    table = _bpe50k_table()
    assert len(table) == 50000
    known = set(BPE_ALPHABET)
    for a, b in table:
        assert a in known and b in known  # proper chaining
        known.add(a + b)
    ranks = {p: i for i, p in enumerate(table)}
    docs = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "pack my box with jugs")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_tokens_bpe"]
        for r in bpe_token_counts(docs, table).collect()
    }
    want = {
        i: sum(len(bpe_tokenize_word_py(w, ranks)) for w in tokenize_py(t))
        for i, t in [(0, "the quick brown fox"), (1, "pack my box with jugs")]
    }
    assert got == want


def test_ivf_arrow_cos_col_matches_expression(spark):
    """The fused cos_to_centroid emission (r16: `cos_col` rides the
    assignment matmul instead of a cosine_from_quantized expression
    recomputation) must be bit-identical to the expression form —
    including the zero-norm row, where try_divide yields NULL and the
    Arrow path's NaN crosses the boundary as NULL."""
    cents = [[0, 0, 0, 0], [1, 2, 3, 4], [4, 3, 2, 1]]
    rows = [
        (0, [0, 0, 0, 0]),
        (1, [1, 2, 3, 4]),
        (2, [-1, -2, -3, -4]),
        (3, [7, 1, 0, 2]),
    ]
    v = spark.createDataFrame(rows, "id bigint, qv array<bigint>")
    arr = S._assign_cells_arrow(
        v, cents, qv_col="qv", out_col="cell", cos_col="c2c"
    ).collect()
    got = {r["id"]: (r["cell"], r["c2c"]) for r in arr}
    # expression twin: assign literally, then cosine_from_quantized
    # against the assigned centroid (the pre-r16 semdedup shape)
    cent_df = spark.createDataFrame(
        [(i, list(map(int, c))) for i, c in enumerate(cents)],
        "cell bigint, cen array<bigint>",
    )
    lit = (
        v.withColumn("cell", S._assign_cluster(F.col("qv"), cents).cast("long"))
        .join(F.broadcast(cent_df), "cell")
        .withColumn(
            "c2c",
            S.cosine_from_quantized("qv", "cen", dim=4),
        )
        .collect()
    )
    want = {r["id"]: (r["cell"], r["c2c"]) for r in lit}
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0], i
        if want[i][1] is None:
            assert got[i][1] is None, i
        else:
            # bit-identical doubles, not approximate
            assert got[i][1] == want[i][1], i
    assert got[0][1] is None  # the zero-norm row emits NULL
