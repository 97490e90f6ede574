"""Similarity search over embedding columns (array<float>).

Two paths:

- **Brute-force top-k** — exact cosine of every (query, corpus) pair.
  Correctness baseline and the right plan when the query set is small
  (it is a broadcast nested-loop with the tiny query side broadcast).
  Embeddings are quantized to integers so the dot product is EXACT
  integer arithmetic — order-independent, hence bit-identical in any
  engine — and cosine is then two deterministic IEEE ops on exact ints.

- **LSH-bucketed ANN** — sign-random-projection buckets from
  hash-derived hyperplanes (deterministic, no RNG state): candidates
  share a bucket, exact cosine reranks. The 100 TB path: the corpus
  shuffles once on bucket id; no cross join exists in the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashing import hash60

QUANT_SCALE = 1000  # float → round(x*1000) as bigint; matches F3's quantization
# LSH: 8 sign bits → 256 buckets. Sized for the fixture corpus; at real
# scale raise planes with corpus size (buckets ≈ corpus/1k) — recall is
# then recovered by multi-probe, which is O(planes) extra lookups.
N_PLANES = 8


def quantize(vec: Column | str) -> Column:
    """array<float> → array<bigint> at 3 decimal places. Exact from then
    on: integer dot products are order-independent."""
    col = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"))


def _int_dot_sql(a: str, b: str, dim: int) -> str:
    terms = " + ".join(
        f"element_at({a}, {i}) * element_at({b}, {i})" for i in range(1, dim + 1)
    )
    return (
        f"CASE WHEN size({a}) = {dim} AND size({b}) = {dim} "
        f"THEN CAST({terms} AS BIGINT) END"
    )


def _check_names(a, b) -> None:
    if not (isinstance(a, str) and isinstance(b, str)):
        raise TypeError("the unrolled (dim=...) form takes column NAMES, not Columns")


def int_dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Exact integer dot product of two quantized vectors.

    With ``dim`` the sum unrolls to ``dim`` element_at products — plain
    arithmetic that whole-stage codegen compiles (a 64-dim dot is ~190
    expression nodes, far under janino's limits, and the fallback=false
    test lint would catch any future fusion blowup). Without it, the
    generic higher-order form — which Spark evaluates INTERPRETED per
    element (lambda dispatch per component): fine for bounded rerank
    sets, wrong for per-row corpus math. Integer addition is
    associative, so both forms are bit-identical.

    The unrolled path is GUARDED on ``size(a) = size(b) = dim``: a
    ``dim`` smaller than the vectors would otherwise silently compute a
    prefix dot (wrong cosine, no error — ADVICE r10), and a larger one
    NULLs via out-of-range element_at only by accident of non-ANSI
    mode. The guard makes both mismatches an explicit NULL — visible in
    any downstream cosine — for two extra codegen size() calls.

    One-call build rule: a wide expression is rendered as SQL text and
    parsed by ONE ``F.expr`` — never assembled Column by Column, which
    costs py4j round-trips per node (about 3,000 for one 64-dim dot). The
    parsed tree is the same left-deep ``Add`` chain under the same size
    guard, so the plan, the codegen and every result bit are unchanged.
    That is why the unrolled form takes column NAMES (``a``/``b`` are
    spliced into the text); the generic form takes names or Columns."""
    if dim is not None:
        _check_names(a, b)
        return F.expr(_int_dot_sql(a, b, dim))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def cosine_from_quantized(
    a: Column | str, b: Column | str, dim: int | None = None
) -> Column:
    """Cosine from quantized vectors: exact int dot / (sqrt·sqrt).
    Identical IEEE results everywhere since all inputs are exact ints
    (and identical between the ``dim``-unrolled and generic dot forms —
    see :func:`int_dot`). With ``dim`` the three dots are one SQL
    expression, built in one call (``a``/``b`` are column names)."""
    if dim is not None:
        _check_names(a, b)
        ab, aa, bb = (_int_dot_sql(x, y, dim) for x, y in ((a, b), (a, a), (b, b)))
        return F.expr(
            f"CAST({ab} AS DOUBLE) / "
            f"(SQRT(CAST({aa} AS DOUBLE)) * SQRT(CAST({bb} AS DOUBLE)))"
        )
    return int_dot(a, b).cast("double") / (
        F.sqrt(int_dot(a, a).cast("double")) * F.sqrt(int_dot(b, b).cast("double"))
    )


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan: broadcast the (small) query side into a nested-loop join —
    the corpus streams through once, never shuffles. Rank window
    partitions by query id (small), ordered by (cosine desc, id) for a
    total deterministic order. Pass ``dim`` when known so the per-row
    cosine unrolls to codegen arithmetic instead of the interpreted
    higher-order dot (:func:`int_dot`) — this is the full-corpus-scan
    baseline, the one place the per-row expression cost multiplies by
    N·queries."""
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_from_quantized("qv", "cv", dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _plane(p: int, dim: int) -> list[int]:
    """Deterministic hyperplane p: component j from the cross-engine
    hash, mapped to [-1000, 1000]. No RNG state — reproducible anywhere."""
    # driver-side ints via the same md5 definition as hash60
    import hashlib

    out = []
    for j in range(dim):
        h = int(hashlib.md5(f"plane{p}_{j}".encode()).hexdigest()[:15], 16)
        out.append(h % 2001 - 1000)
    return out


def _long_array_sql(xs: list[int]) -> str:
    """SQL text of a literal array<bigint>."""
    return "array(" + ", ".join(f"CAST({int(x)} AS BIGINT)" for x in xs) + ")"


def _generic_dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`int_dot`'s generic higher-order form."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _sql_ref(col: Column | str) -> str:
    """A column reference as SQL text: a name as given, a Column (a
    plain ``F.col``) as its text form."""
    return col if isinstance(col, str) else col._jc.toString()


def lsh_bucket(vec_q: Column | str, dim: int, n_planes: int = N_PLANES) -> Column:
    """Sign-random-projection bucket id: bit p = sign of <plane_p, v>.
    Planes are literal int arrays (driver-side deterministic), so the
    projection is an exact integer dot — the bucket id is reproducible
    bit-for-bit on any engine or cluster. The whole sum is one SQL
    expression built in one call (the :func:`int_dot` rule)."""
    v = _sql_ref(vec_q)
    bits = [
        f"CASE WHEN {_generic_dot_sql(_long_array_sql(_plane(p, dim)), v)} > 0 "
        f"THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for p in range(n_planes)
    ]
    return F.expr(" + ".join(bits))


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """ANN top-k: bucket join on the SRP signature with hamming-1
    multi-probe (each query also probes the n_planes buckets one bit
    away), exact cosine rerank within buckets. At 100 TB the corpus
    shuffles once on bucket id; each query touches (1+planes) buckets'
    rows — never the whole corpus."""
    q = queries.select(F.col(id_col).alias("query_id"), quantize(vec_col).alias("qv"))
    q = q.withColumn("bucket0", lsh_bucket("qv", dim, n_planes))
    # multi-probe: own bucket + every bucket within hamming distance 2.
    # Probe count is 1 + p + p(p-1)/2 (37 at p=8) — constant per query,
    # independent of corpus size; recall rises steeply with probes on
    # weakly-clustered data (random vectors are SRP-LSH's worst case).
    flips = [0] + [1 << p for p in range(n_planes)]
    flips += [
        (1 << i) | (1 << j) for i in range(n_planes) for j in range(i + 1, n_planes)
    ]
    probes = F.expr("array(" + ", ".join(f"bucket0 ^ {m}" for m in flips) + ")")
    q = q.withColumn("bucket", F.explode(probes)).drop("bucket0")
    c = corpus.select(F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("cv"))
    c = c.withColumn("bucket", lsh_bucket("cv", dim, n_planes))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .drop("bucket")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", cosine_from_quantized("qv", "cv", dim=dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


N_CENTROIDS = 16
# IVF Lloyd-seed order: md5 of the salted id — the unbiased-draw
# discipline PQ training adopted in r11 (PQ_SAMPLE_SALT), applied to
# the coarse quantizer's seeds; the SQL oracles replay the same salt.
IVF_SEED_SALT = "ivfs:"


def _centroid_scores(qv: Column | str, centroids: list[list[int]]) -> list[Column]:
    """Exact integer dot of ``qv`` against each literal centroid, scaled
    to cosine. Centroids are driver-side int lists (k×dim — bytes, not
    data), so scoring is a per-row codegen loop with no join at all.
    Each score is one SQL expression built in one call (the
    :func:`int_dot` rule); ``qv`` is a column name or a plain ``F.col``.

    Zero-norm (all-zero quantized) vectors or centroids make the
    denominator 0 — under ANSI mode (Spark 4 default) a plain ``/``
    would FAIL THE JOB on one degenerate row. These scores feed
    argmax/probe ORDERING only (rerank recomputes the emitted cosine),
    so ``try_divide`` maps the degenerate case to NULL: NULL sorts
    SMALLEST in Spark's struct ordering, i.e. a zero-norm centroid never
    wins a nonzero row, and an all-NULL (zero-norm) row ties every cell
    and deterministically lands on the highest index. The Arrow path
    (:func:`_centroid_cosines_np`) replicates this with NaN→-inf."""
    return [F.expr(s) for s in _centroid_scores_sql(_sql_ref(qv), centroids)]


def _centroid_scores_sql(qv: str, centroids: list[list[int]]) -> list[str]:
    qq = _generic_dot_sql(qv, qv)
    out = []
    for cen in centroids:
        arr = _long_array_sql(cen)
        out.append(
            f"try_divide(CAST({_generic_dot_sql(arr, qv)} AS DOUBLE), "
            f"SQRT(CAST({_generic_dot_sql(arr, arr)} AS DOUBLE)) "
            f"* SQRT(CAST({qq} AS DOUBLE)))"
        )
    return out


def _assign_cluster(qv: Column | str, centroids: list[list[int]]) -> Column:
    """argmax-cosine centroid index (ties → higher index, deterministic),
    one SQL expression built in one call."""
    cells = ", ".join(
        f"named_struct('c', {s}, 'i', {i})"
        for i, s in enumerate(_centroid_scores_sql(_sql_ref(qv), centroids))
    )
    return F.expr(f"array_max(array({cells})).i")


# Ceiling for the literal expression tree (k nested struct/dot
# expressions per row) on QUERY-side probe selection, where the row
# count is bounded. Corpus-side assignment never uses the literal path
# anymore: its dots are higher-order-function lambdas (F.aggregate /
# zip_with), which Spark evaluates INTERPRETED per element regardless
# of codegen — r10 profiling measured the 16-centroid literal
# assignment at ~12× the Arrow matmul on the same input. The literal
# form remains the pinned arithmetic convention (`_assign_cluster` ≡
# `_assign_cells_arrow`, tests/test_ext.py parity).
CENTROID_LITERAL_MAX = 64


def _centroid_cosines_np(Q, C, Cn):
    """cos(Q_b, C_k) as float64, replicating cosine_from_quantized's
    exact IEEE sequence — int64 dot, then dot / (sqrt(qq)·sqrt(cc)) —
    so Arrow and literal paths are bit-identical.

    Zero-norm (all-zero quantized) rows or centroids make the
    denominator 0; the literal path (:func:`_centroid_scores`) maps
    that to NULL via ``try_divide`` — NULL sorts SMALLEST in Spark's
    struct ordering, ties broken by the higher index. The scores are
    only ever consumed for argmax/probe ORDERING (the emitted cosine is
    recomputed JVM-side at rerank), so NaN is canonicalized to -inf
    here — same rank position, same highest-index tie-break — keeping
    the two paths identical on degenerate vectors too (r6's
    ``cos == best`` comparison returned cell -1 for them)."""
    import numpy as np

    dots = Q @ C.T  # exact: |x|≤~4e3 quantized, dim 64 ⇒ ≪ 2^63
    qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    with np.errstate(invalid="ignore", divide="ignore"):
        cos = dots.astype(np.float64) / (qn[:, None] * Cn[None, :])
    return np.where(np.isnan(cos), -np.inf, cos)


def _assign_cells_arrow(
    df: DataFrame,
    centroids: list[list[int]],
    qv_col: str = "qv",
    out_col: str = "cell",
    cos_col: str | None = None,
) -> DataFrame:
    """Large-k cell assignment: one vectorized matmul per Arrow batch
    instead of k literal dot expressions per row. Ties break to the
    higher index, matching :func:`_assign_cluster` exactly.

    ``cos_col`` additionally emits the cosine TO THE ASSIGNED cell from
    the same matmul (r16, guide §4.2): consumers that need it
    (semdedup's cos_to_centroid) previously recomputed it as a
    ``cosine_from_quantized`` expression — three interpreted
    higher-order-function dots per row, measured ~3.5 s over the sf0.1
    corpus. The emitted value is the pre-canonicalization quotient —
    the exact IEEE sequence of the expression form — with zero-norm
    rows NaN, which the Arrow boundary converts to NULL exactly as
    ``try_divide`` does."""
    import numpy as np
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    C = np.array(centroids, dtype=np.int64)
    Cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    k = C.shape[0]
    out_fields = list(df.schema.fields) + [StructField(out_col, LongType())]
    if cos_col is not None:
        out_fields.append(StructField(cos_col, DoubleType()))
    out_schema = StructType(out_fields)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.array(pdf[qv_col].tolist(), dtype=np.int64)
            dots = Q @ C.T
            qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
            with np.errstate(invalid="ignore", divide="ignore"):
                raw = dots.astype(np.float64) / (qn[:, None] * Cn[None, :])
            cos = np.where(np.isnan(raw), -np.inf, raw)
            best = cos.max(axis=1)
            idx = np.where(cos == best[:, None], np.arange(k)[None, :], -1).max(axis=1)
            pdf = pdf.copy()
            pdf[out_col] = idx.astype("int64")
            if cos_col is not None:
                # NaN → NULL at the Arrow boundary (try_divide parity)
                pdf[cos_col] = raw[np.arange(len(Q)), idx]
            yield pdf

    return df.mapInPandas(gen, out_schema)


def _probe_cells_arrow(
    df: DataFrame,
    centroids: list[list[int]],
    nprobe: int,
    qv_col: str = "qv",
    out_col: str = "cells",
) -> DataFrame:
    """Large-k probe selection for the query side: top-``nprobe`` cells
    per query by (cosine desc, index desc) — the same order
    ``sort_array(struct(c,i), desc)`` produces on the literal path. The
    per-row lexsort loop is fine: this runs on the QUERY side only."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    C = np.array(centroids, dtype=np.int64)
    Cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    k = C.shape[0]
    neg_idx = -np.arange(k)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(LongType()))]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.array(pdf[qv_col].tolist(), dtype=np.int64)
            cos = _centroid_cosines_np(Q, C, Cn)
            cells = [
                np.lexsort((neg_idx, -row))[:nprobe].astype("int64").tolist()
                for row in cos
            ]
            pdf = pdf.copy()
            pdf[out_col] = cells
            yield pdf

    return df.mapInPandas(gen, out_schema)


def ivf_centroids(
    corpus: DataFrame,
    *,
    n_centroids: int = N_CENTROIDS,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _quantized: DataFrame | None = None,
) -> list[list[int]]:
    """Deterministic IVF coarse quantizer: seeds = the ``n_centroids``
    vectors first in md5(salted id) order (no RNG — an unbiased uniform
    draw; VERDICT r11: the previous lowest-id seeds took every initial
    cell from the OLDEST shard of a source-sorted corpus, the exact
    ingestion-order bias r11 removed from the PQ/IVFADC trainers), then
    ``iters`` Lloyd steps. Re-quantized means keep every assignment in
    exact integer arithmetic; the seed order is a pure function of the
    id (salt ``IVF_SEED_SALT``), so the SQL oracles replay it verbatim.

    Each Lloyd step is ONE map-only job (r16, guide §2.3 taken to its
    limit): a single Arrow pass assigns the batch AND emits per-task
    partial sums as long-format ``(cl, d, v)`` rows — ``v`` the exact
    int64 sum of dimension ``d`` over the task's rows in cell ``cl``,
    ``d = -1`` its row count — which a ``(cl, d)``-keyed ``sum`` combines.
    The shuffle moves O(tasks·k·dim) tiny rows, never the corpus, and
    the combine is ONE aggregate column whatever ``dim`` is (a column
    per dimension costs py4j round-trips per dimension to build).
    Integer addition is order-free and exact, and the mean is the same
    ``floor(sum/count + 0.5)`` with the division in IEEE doubles —
    bit-identical to the previous np.mean form for any sum below 2^53
    (the fixture and any quantized corpus this side of 10^12 rows per
    cell), and exactly the convention DuckDB's avg-over-BIGINT replays.
    The centroid table stays k×dim ints on the driver (bytes).

    ``_quantized`` lets composed callers (semdedup, ivfadc_train) pass
    an already-built — typically pinned — (id, qv) relation so the
    corpus is scanned/quantized once per operator, not once per phase."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    v = (
        _quantized
        if _quantized is not None
        else corpus.select(F.col(id_col).alias("id"), quantize(vec_col).alias("qv"))
    )
    seed_order = [
        F.md5(F.concat(F.lit(IVF_SEED_SALT), F.col("id").cast("string"))),
        F.col("id"),
    ]
    cents = [
        r["qv"] for r in v.orderBy(*seed_order).limit(n_centroids).collect()
    ]

    part_schema = StructType(
        [
            StructField("cl", LongType()),
            StructField("d", LongType()),
            StructField("v", LongType()),
        ]
    )

    for _ in range(iters):
        C = np.array(cents, dtype=np.int64)
        Cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
        k, dim = C.shape

        def partials(batches):
            # column 0 = count (d = -1), column 1 + j = sum of dimension j
            acc = np.zeros((k, dim + 1), dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
                cos = _centroid_cosines_np(Q, C, Cn)
                best = cos.max(axis=1)
                idx = np.where(
                    cos == best[:, None], np.arange(k)[None, :], -1
                ).max(axis=1)
                np.add.at(acc[:, 0], idx, 1)
                np.add.at(acc[:, 1:], idx, Q)
            cl = np.flatnonzero(acc[:, 0])
            if len(cl):
                yield pd.DataFrame(
                    {
                        "cl": np.repeat(cl, dim + 1),
                        "d": np.tile(np.arange(-1, dim), len(cl)),
                        "v": acc[cl].ravel(),
                    }
                )

        # combine = ONE built-in sum over (cl, d):
        # partial/map-side aggregation in codegen, no second Python
        # stage. floor(sum/cnt + 0.5) divides the exact int64 total in
        # IEEE doubles — explicit half-UP rounding, identical in any
        # engine (np.round is half-EVEN, SQL round() half-away; both
        # diverge cross-engine on exact .5 means, which integer means
        # hit constantly) and exactly what DuckDB's avg-over-BIGINT
        # convention replays.
        rows = (
            v.select("qv")
            .mapInPandas(partials, part_schema)
            .groupBy("cl", "d")
            .agg(F.sum("v").alias("v"))
            .collect()
        )
        tot = np.zeros((k, dim + 1), dtype=np.int64)
        for r in rows:
            tot[r["cl"], r["d"] + 1] = r["v"]
        new = {
            cl: np.floor(tot[cl, 1:].astype(np.float64) / float(tot[cl, 0]) + 0.5)
            .astype(np.int64)
            .tolist()
            for cl in np.flatnonzero(tot[:, 0]).tolist()
        }
        # empty clusters keep their previous centroid
        cents = [list(new.get(i, cents[i])) for i in range(n_centroids)]
    return cents


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    n_centroids: int = N_CENTROIDS,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-bucketed ANN top-k — the inverted-file scale path beside
    :func:`knn_lsh`: a coarse quantizer (k centroids) partitions the
    corpus into cells; each query probes only its ``nprobe``
    nearest cells and reranks those candidates with the exact integer
    cosine.

    Plan shape at 100 TB: the corpus is scanned to tag each vector with
    its cell (pure codegen — centroids are literals, no join) and
    shuffles ONCE on cell id; queries explode to nprobe cells and
    broadcast into the cell join. Per-query work is nprobe·(N/k)
    candidates instead of N — and unlike SRP-LSH, cell population is
    data-adaptive (Lloyd), so recall holds on clustered corpora where
    fixed hyperplanes under-split. Precision is absolute: reranks carry
    the same bit-exact cosine brute force computes (pytest-pinned)."""
    from leftshove_spark.ext import cache as _cache

    # one pinned quantized relation for the seed sort + both Lloyd
    # passes + the corpus-side assignment (r16)
    v = _cache.pin(
        corpus.select(F.col(id_col).alias("id"), quantize(vec_col).alias("qv"))
    )
    cents = ivf_centroids(
        corpus,
        n_centroids=n_centroids,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        _quantized=v,
    )
    c = v.select(F.col("id").alias("neighbor_id"), F.col("qv").alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), quantize(vec_col).alias("qv"))
    # corpus assignment: always the Arrow matmul (the literal HOF dots
    # run interpreted per element — CENTROID_LITERAL_MAX note); the
    # bounded QUERY side keeps the literal probe below the expression
    # ceiling (no Arrow worker spin-up for 10 rows), Arrow above it —
    # same scores, same tie order either way (parity-pinned)
    c = _assign_cells_arrow(c, cents, qv_col="cv", out_col="cell")
    if n_centroids <= CENTROID_LITERAL_MAX:
        scored = F.array(
            *[
                F.struct(s.alias("c"), F.lit(i).cast("long").alias("i"))
                for i, s in enumerate(_centroid_scores(F.col("qv"), cents))
            ]
        )
        probes = F.slice(F.sort_array(scored, asc=False), 1, nprobe)
        q = q.withColumn("probe", F.explode(probes)).withColumn(
            "cell", F.col("probe.i")
        ).drop("probe")
    else:
        q = (
            _probe_cells_arrow(q, cents, nprobe, qv_col="qv", out_col="cells")
            .withColumn("cell", F.explode("cells"))
            .drop("cells")
        )

    cand = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .drop("cell")
        .withColumn(
            "cosine",
            cosine_from_quantized("qv", "cv", dim=len(cents[0])),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# Banded SRP for near-dup candidate generation: 48 bands × 12 planes.
# A pair is a candidate iff ALL 12 sign bits of at least one band agree.
# Selectivity drives the cost: an unrelated pair (cosine ≈ 0, per-plane
# flip 0.5) collides per band at 2^-12, so ~B/4096 ≈ 1.2% of all pairs
# become candidates — r7 profiling showed the previous 8-plane bands
# admitted ~12% of ALL pairs (1.1M candidates on a 4k corpus), putting
# the rerank on an effectively quadratic budget. At the gate threshold
# (cosine ≥ 0.9 → per-plane flip ≤ 0.144) the miss probability per pair
# is (1-(1-p)^12)^48 ≈ 3e-4 at the exact threshold edge and ≈ 1e-9 for
# the fixture's planted dups (cosine ~0.96) — verified ZERO misses on
# the fixture corpus (pytest pins lsh ≡ exact all-pairs). At real scale
# raise planes_per_band toward log2(corpus) and add bands to hold
# recall — both are knobs on embedding_near_dup_lsh.
NEARDUP_BANDS = 48
NEARDUP_BAND_PLANES = 12


def embedding_near_dup_lsh(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = NEARDUP_BANDS,
    planes_per_band: int = NEARDUP_BAND_PLANES,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold) via banded sign-random-projection candidates + exact
    rerank — the 100 TB path beside the all-pairs
    :func:`embedding_near_dup_pairs` verifier.

    Plan: one Arrow-batched pandas_udf computes all band keys per vector
    (a single (batch × dim) @ (dim × bands·planes) int matmul — the
    per-plane HOF expression would be 288 interpreted dots per row),
    each vector explodes to its ``n_bands`` (band, key) rows, candidates
    come from a band-key self-join (never all pairs), and the exact
    integer cosine reranks the deduped candidates. Work scales with
    bucket collisions (~B/2^planes of all-pairs for unrelated vectors),
    not N²; the corpus shuffles once on band key.

    Determinism: planes are the same md5-derived int family as
    :func:`lsh_bucket`, the dot is exact int arithmetic, so the bucket
    assignment — and therefore the full output — is reproducible
    bit-for-bit anywhere. Recall is probabilistic by nature (SRP cannot
    hard-bound cosine the way SimHash chunks bound hamming); the band
    shape is sized so a miss at the 0.9 threshold is ~1e-5 per pair
    (pytest pins equality with the exact operator on the fixture)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    n_planes = n_bands * planes_per_band
    # plane matrix is built lazily per executor from the deterministic
    # hash family; closure ships only (n_bands, planes_per_band).
    state: dict = {}

    def _planes_for(d: int) -> "np.ndarray":
        if "P" not in state:
            state["P"] = np.stack([np.array(_plane(p, d), dtype=np.int64) for p in range(n_planes)])
        return state["P"]

    def _band_keys(qv):
        M = np.array(qv.tolist(), dtype=np.int64)
        P = _planes_for(M.shape[1])
        bits = (M @ P.T > 0).astype(np.int64)  # (n, bands*planes)
        keys = np.zeros((len(M), n_bands), dtype=np.int64)
        for b in range(n_bands):
            for r in range(planes_per_band):
                keys[:, b] |= bits[:, b * planes_per_band + r] << r
            # band index folded into the key → one flat join column
            keys[:, b] |= b << planes_per_band
        return pd.Series(list(keys))

    band_keys = pandas_udf(_band_keys, ArrayType(LongType()))

    def _pair_cosine(qa, qb):
        # the exact IEEE sequence of cosine_from_quantized, vectorized:
        # int64 dot (exact), float64 casts, one divide by the product of
        # two sqrts — bit-identical to the HOF expression form, which
        # Spark would otherwise evaluate INTERPRETED (~200 lambda walks
        # per pair) and TWICE (Catalyst pushes the threshold filter into
        # the join condition, then recomputes the cosine in the project;
        # a Python UDF is never pushed into a join, so this runs once).
        A = np.array(qa.tolist(), dtype=np.int64)
        B = np.array(qb.tolist(), dtype=np.int64)
        if len(A) == 0:
            return pd.Series([], dtype="float64")
        dot = (A * B).sum(axis=1)
        na = np.sqrt((A * A).sum(axis=1).astype(np.float64))
        nb_n = np.sqrt((B * B).sum(axis=1).astype(np.float64))
        return pd.Series(dot.astype(np.float64) / (na * nb_n))

    # asNondeterministic (r17, guide §4.4): the threshold filter on the
    # UDF column otherwise evaluates the UDF TWICE — once pushed below
    # the filter over ALL candidates, once again in the surviving
    # project (two ArrowEvalPython nodes in the r16 plan). The function
    # is pure; the marker only forbids the optimizer from duplicating
    # it, so every candidate pays the rerank matmul exactly once.
    pair_cosine = pandas_udf(_pair_cosine, "double").asNondeterministic()

    # ONE pinned quantized relation (r16, guide §5 reuse-then-release):
    # the band-key stage and BOTH rerank vector joins read (id, qv);
    # unpinned, each reference re-scans and re-quantizes the source —
    # 3 full upstream passes per call. Released by the gate/bench
    # release_pins convention, same as the staged-shingles pin.
    from leftshove_spark.ext import cache as _cache

    # eager (see cache.pin): the single consuming action fans out into
    # concurrent AQE stages over this pin (both band-key self-join
    # sides plus the two rerank vector fetches); a cold pin would
    # quantize the corpus once per concurrent stage. The band keys ride
    # the pin (r17, guide §2.4/§4.1 — the minhash stage's with_bands
    # design applied here): previously `keyed` re-ran the band_keys
    # matmul on BOTH self-join sides (two ArrowEvalPython nodes over
    # the same pin in the r16 plan); materializing bks once in the pin
    # makes the SRP projection a single pass at any scale, and the
    # self-join sides become pure cached reads.
    v = _cache.pin(
        df.select(F.col(id_col).alias("id"), quantize(vec_col).alias("qv"))
        .withColumn("bks", band_keys(F.col("qv"))),
        eager=True,
    )
    keyed = v.select("id", F.explode(F.col("bks")).alias("bk"))
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = v.select(F.col("id").alias("id_a"), F.col("qv").alias("qa"))
    vb = v.select(F.col("id").alias("id_b"), F.col("qv").alias("qb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", pair_cosine(F.col("qa"), F.col("qb")))
        .filter(F.col("cosine") >= float(threshold))
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold), EXACT over all pairs, via blocked matrix multiplication.

    All-pairs exactness is inherently O(N²) comparisons; the question is
    only the constant. A row-pair self-join evaluates the 64-term dot
    product as an interpreted expression per pair (measured 253 s for
    10k vectors at sf0.1). Instead: hash ids into ``n_blocks`` blocks,
    replicate each vector to the ``n_blocks`` block-PAIRS it belongs to,
    and compute each block-pair's full similarity tile as ONE int64
    numpy matmul inside ``applyInPandas`` (~6 s for the same input).
    The arithmetic is identical — exact integer dot products on the
    quantized vectors, then two IEEE ops — so results are bit-equal to
    the expression form and the SQL oracle.

    Scale: memory per task is one (N/B)²-tile of int64 — ``n_blocks``
    tunes it; shuffle volume is N·B vectors. The subquadratic path for
    100 TB remains LSH bucketing (:func:`knn_lsh`); this operator is the
    exact verifier shape, and its tiles are what you'd run per-bucket
    there too."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    v = df.select(F.col(id_col).alias("id"), quantize(vec_col).alias("qv"))
    # block-pair replication: vector in block i joins tiles (i, j) ∀ j.
    # xxhash64 spreads ids; tile key = (min(i,j), max(i,j)).
    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks))
    tiles = F.array(
        *[
            F.struct(
                F.least(blk, F.lit(j)).alias("ba"), F.greatest(blk, F.lit(j)).alias("bb")
            )
            for j in range(n_blocks)
        ]
    )
    replicated = (
        v.withColumn("__blk", blk)
        .withColumn("__tile", F.explode(F.array_distinct(tiles)))
        .select("id", "qv", "__blk", F.col("__tile.ba").alias("ba"), F.col("__tile.bb").alias("bb"))
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )
    thr = float(threshold)

    def tile(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        qm = np.array(pdf["qv"].tolist(), dtype=np.int64)
        ids = pdf["id"].to_numpy()
        norms = np.sqrt((qm * qm).sum(axis=1).astype(np.float64))
        if ba == bb:
            dots = qm @ qm.T
            cos = dots / np.outer(norms, norms)
            ia, ib = np.where(cos >= thr)
            keep = ids[ia] < ids[ib]
            ia, ib = ia[keep], ib[keep]
            return pd.DataFrame({"id_a": ids[ia], "id_b": ids[ib], "cosine": cos[ia, ib]})
        mask_a = (pdf["__blk"] == ba).to_numpy()
        A, B = qm[mask_a], qm[~mask_a]
        ids_a, ids_b = ids[mask_a], ids[~mask_a]
        if len(A) == 0 or len(B) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        cos = (A @ B.T) / np.outer(norms[mask_a], norms[~mask_a])
        ia, ib = np.where(cos >= thr)
        lo = np.minimum(ids_a[ia], ids_b[ib])
        hi = np.maximum(ids_a[ia], ids_b[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[ia, ib]})

    return replicated.groupBy("ba", "bb").applyInPandas(tile, out_schema)


# ---------------------------------------------------- product quantization
PQ_M = 4         # subspaces
PQ_SUB = 16      # dims per subspace (PQ_M * PQ_SUB = EMB dim 64)
PQ_CODES = 8     # codes per subspace codebook
PQ_ITERS = 2     # Lloyd steps per subspace
PQ_SAMPLE = 64   # training sample size (md5(id)-ordered — see below)
# Training-sample order: md5 of the salted id, not the raw id (ADVICE
# r10 / VERDICT What's-wrong #1). Ids typically correlate with
# ingestion time/source, so "lowest sample_n ids" trains the codebooks
# on the OLDEST shard and recall silently degrades as the corpus
# drifts; the md5 order is an unbiased uniform draw that is still a
# pure function of the id — deterministic, append-stable, and
# replayable verbatim in the SQL oracle (the engine's hash-split
# discipline applied to trainer sampling).
PQ_SAMPLE_SALT = "pqs:"


def _sample_order(id_col: str) -> list[Column]:
    return [
        F.md5(F.concat(F.lit(PQ_SAMPLE_SALT), F.col(id_col).cast("string"))),
        F.col(id_col),
    ]


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    m_sub: int = PQ_M,
    sub_dim: int = PQ_SUB,
    n_codes: int = PQ_CODES,
    iters: int = PQ_ITERS,
    sample_n: int = PQ_SAMPLE,
) -> list[list[list[int]]]:
    """Deterministic PQ codebooks [FAISS-style IVFADC, Jégou et al.
    2011]: per subspace, k-means over a BOUNDED deterministic sample —
    the ``sample_n`` vectors first in md5(salted id) order (see
    ``PQ_SAMPLE_SALT``: an unbiased uniform draw, unlike lowest-id
    which trains on the oldest shard; PQ training on a sample is the
    standard practice at scale, and the collect is O(sample·dim) ints,
    driver-bounded like the IVF centroid table).

    No RNG anywhere: seeds = the first ``n_codes`` sample subvectors in
    the SAME sample order, assignment = argmin integer L2 with ties to
    the LOWER code, re-centering = ``floor(sum/cnt + 0.5)`` with the
    division done in IEEE doubles — the exact convention DuckDB's
    ``avg`` + ``floor`` reproduces, so the oracle replays the whole
    training bit-for-bit (the x_knn_ivf discipline applied per
    subspace)."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), quantize(vec_col).alias("qv"))
        .orderBy(*_sample_order("id"))
        .limit(sample_n)
        .collect()
    )
    sample = [list(r["qv"]) for r in rows]
    return _pq_lloyd_np(sample, m_sub, sub_dim, n_codes, iters)


def _pq_lloyd_np(
    sample: list[list[int]],
    m_sub: int,
    sub_dim: int,
    n_codes: int,
    iters: int,
) -> list[list[list[int]]]:
    """The per-subspace Lloyd trainer shared by :func:`pq_train_codebooks`
    (raw vectors) and :func:`ivfadc_train` (cell residuals). Vectorized
    but arithmetically IDENTICAL to the scalar convention the SQL oracle
    replays: distances via the exact-int64 expansion (components are a
    few thousand in magnitude — no overflow anywhere near 2^63), ties →
    lower code (``np.argmin`` first-hit ≡ the strict-``<`` scan),
    re-centering = exact integer column sums divided in IEEE doubles
    then ``floor(x+0.5)`` — the same double DuckDB's ``avg`` over
    BIGINT produces. Empty clusters keep their previous centroid."""
    import numpy as np

    M = np.array(sample, dtype=np.int64)
    books: list[list[list[int]]] = []
    for s in range(m_sub):
        sub = M[:, s * sub_dim : (s + 1) * sub_dim]
        cents = sub[: min(n_codes, len(sub))].copy()
        for _ in range(iters):
            d = (
                (sub * sub).sum(axis=1)[:, None]
                + (cents * cents).sum(axis=1)[None, :]
                - 2 * (sub @ cents.T)
            )
            assign = np.argmin(d, axis=1)
            for ci in range(len(cents)):
                members = sub[assign == ci]
                if len(members):
                    mean = members.sum(axis=0).astype(np.float64) / float(
                        len(members)
                    )
                    cents[ci] = np.floor(mean + 0.5).astype(np.int64)
        books.append([[int(x) for x in cen] for cen in cents])
    return books


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    sub_dim: int = PQ_SUB,
) -> DataFrame:
    """Encode every vector as ``m_sub`` codebook indices: per subspace,
    argmin integer L2 over the codebook (ties → lower code —
    ``np.argmin``'s first-hit, matching the former array_min-struct
    convention bit-for-bit). One Arrow ``mapInPandas`` pass over a
    narrow scan — the corpus never shuffles; a 64-dim float vector
    compresses to m_sub small ints (the 100 TB memory story: the codes
    table is ~1/64th the vector table).

    Arrow, not expressions, deliberately: the literal argmin tree
    (m·codes·sub_dim unrolled arithmetic nodes) blows janino's 64 KB
    method limit once fused into a downstream stage and silently
    degrades to interpreted execution — the same reason IVF switches
    to :func:`_assign_cells_arrow` past CENTROID_LITERAL_MAX. The
    vectorized distance is the exact-int64 expansion
    ``|x|² + |c|² − 2·x@cᵀ`` (no floats anywhere), so results are
    bit-identical to the expression form and the SQL oracle replay."""
    import numpy as np

    m_sub = len(books)
    src = corpus.select(
        F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv")
    )
    id_type = src.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("qv", T.ArrayType(T.LongType())),
        ]
        + [T.StructField(f"code_{s}", T.IntegerType()) for s in range(m_sub)]
    )
    B = [np.array(book, dtype=np.int64) for book in books]
    Bsq = [(Cb * Cb).sum(axis=1) for Cb in B]

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
            out = pdf[["vec_id", "qv"]].copy()
            for s in range(m_sub):
                sub = Q[:, s * sub_dim : (s + 1) * sub_dim]
                d = (
                    (sub * sub).sum(axis=1)[:, None]
                    + Bsq[s][None, :]
                    - 2 * (sub @ B[s].T)
                )
                out[f"code_{s}"] = np.argmin(d, axis=1).astype("int32")
            yield out

    return src.mapInPandas(gen, out_schema)


def knn_pq_adc(
    corpus: DataFrame,
    books: list[list[list[int]]],
    *,
    n_queries: int = 10,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = PQ_SUB,
) -> DataFrame:
    """Approximate k-NN by asymmetric distance computation: the query
    stays a full vector, each corpus vector is its m_sub PQ codes, and
    the scored distance is Σ_s L2(query_sub_s, codebook_s[code_s]) —
    everything INTEGER (approx_l2 is a BIGINT), so the ranking is
    bit-exact cross-engine with no float anywhere.

    Plan: codes come from :func:`pq_encode`'s narrow pass; the bounded
    query set broadcasts against the codes relation (the sanctioned
    knn_bruteforce shape — but streaming only m_sub ints per corpus
    row instead of the full vector, PQ's entire point); per-query
    top-k via the rank window. At real scale the ADC table per query
    is m_sub·n_codes ints — microscopic — and the scan is the codes
    table, ~1/64th the corpus bytes."""
    enc = pq_encode(corpus, books, id_col, vec_col, sub_dim=sub_dim)
    q = (
        corpus.select(F.col(id_col).alias("query_id"), quantize(vec_col).alias("qqv"))
        .filter(F.col("query_id") < n_queries)
    )
    return knn_pq_adc_codes(enc, q, books, k=k, sub_dim=sub_dim, dedup=False)


def _unique_query_rows(queries: DataFrame) -> list:
    """Collect the bounded (query_id, qqv) rows and FAIL LOUDLY on a
    duplicated query_id (ADVICE r10): a duplicate would emit duplicate
    (query_id, s, code) rows into the materialized ADC relations, and
    the per-subspace joins multiply those ~2^m_sub — duplicate neighbor
    rows then consume top-k rank slots. Identical payloads are a caller
    bug all the same (which copy "wins" is undefined once payloads
    drift), so assert rather than silently pick one."""
    rows = queries.select("query_id", "qqv").collect()
    seen: set = set()
    for r in rows:
        if r["query_id"] in seen:
            raise ValueError(
                f"duplicate query_id {r['query_id']!r} in the query set — "
                "ADC scoring requires unique query ids; dropDuplicates the "
                "queries (or fix the upstream duplication) before calling"
            )
        seen.add(r["query_id"])
    return rows


def _adc_distance_table(
    queries: DataFrame,
    books: list[list[list[int]]],
    sub_dim: int,
) -> DataFrame:
    """The ADC lookup table AS DATA: one row per (query, subspace,
    code) with the exact integer L2 between the query's subvector and
    that codebook centroid — n_queries · m_sub · n_codes rows, built
    driver-side from the (bounded, broadcast-by-contract) query set.

    Materializing the table is what keeps the scoring stage inside
    whole-stage codegen: the previous form inlined the lookup as a
    nested WHEN-chain per subspace (~m·codes·sub_dim duplicated
    arithmetic nodes fused into the join's processNext), which blew
    janino's compile limits and silently degraded the hot scoring loop
    to interpreted row-at-a-time execution. As data, the per-subspace
    lookup is a broadcast hash join probe — O(1) per code, trivially
    codegen-able, and the table stays microscopic at any corpus size
    (it scales with queries·codes, never the corpus)."""
    spark = queries.sparkSession
    id_type = queries.schema["query_id"].dataType
    rows = _unique_query_rows(queries)
    data = []
    for r in rows:
        qv = [int(x) for x in r["qqv"]]
        for s, book in enumerate(books):
            sub = qv[s * sub_dim : (s + 1) * sub_dim]
            for ci, cen in enumerate(book):
                d = 0
                for a, b in zip(sub, cen):
                    d += (a - int(b)) ** 2
                data.append((r["query_id"], s, ci, d))
    schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("s", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("d", T.LongType()),
        ]
    )
    return spark.createDataFrame(data, schema)


def knn_pq_adc_codes(
    codes: DataFrame,
    queries: DataFrame,
    books: list[list[list[int]]],
    *,
    k: int = 5,
    sub_dim: int = PQ_SUB,
    dedup: bool = True,
) -> DataFrame:
    """ADC top-k over a PRE-ENCODED codes relation — the entry point
    for a persisted index (e.g. the one
    :func:`streaming.start_embedding_index_stream` maintains): scan
    ``codes`` (``vec_id`` + ``code_0..code_{m-1}``, no vectors)
    against the materialized ADC distance table
    (:func:`_adc_distance_table`), never re-encoding anything.
    ``queries`` must carry ``query_id`` and the QUANTIZED vector as
    ``qqv`` (see :func:`quantize`); it must be bounded (it is
    collected to build the ADC table — the same boundedness the old
    broadcast form required).

    Scoring plan: per subspace, one broadcast hash join from the codes
    scan onto the (query_id, code) → distance relation; ``approx_l2``
    is then a 4-term integer sum — everything inside whole-stage
    codegen, streaming m_sub ints per corpus row. ``dedup`` guards the
    at-least-once case: a codes index fed by a replaying stream can
    carry duplicate vec_id rows, and each duplicate would consume a
    top-k rank slot; copies are identical per id, so keeping any one
    is correct. Callers whose codes are unique by construction (e.g.
    a fresh :func:`pq_encode` pass) pass ``dedup=False`` to skip the
    exchange."""
    if dedup:
        codes = codes.dropDuplicates(["vec_id"])
    adc = _adc_distance_table(queries, books, sub_dim)
    scored = codes.withColumnRenamed("vec_id", "neighbor_id")
    for s in range(len(books)):
        adc_s = adc.filter(F.col("s") == s).select(
            F.col("query_id").alias(f"__q{s}"),
            F.col("code").alias(f"__c{s}"),
            F.col("d").alias(f"__d{s}"),
        )
        cond = F.col(f"code_{s}") == F.col(f"__c{s}")
        if s > 0:
            cond = cond & (F.col("query_id") == F.col(f"__q{s}"))
        scored = scored.join(F.broadcast(adc_s), cond)
        if s == 0:
            scored = scored.withColumnRenamed("__q0", "query_id")
        else:
            scored = scored.drop(f"__q{s}")
        scored = scored.drop(f"__c{s}")
    approx = F.col("__d0")
    for s in range(1, len(books)):
        approx = approx + F.col(f"__d{s}")
    scored = scored.filter(
        F.col("query_id") != F.col("neighbor_id")
    ).withColumn("approx_l2", approx.cast("long"))
    w = Window.partitionBy("query_id").orderBy("approx_l2", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "approx_l2")
    )


def knn_pq_rerank(
    corpus: DataFrame,
    books: list[list[list[int]]],
    *,
    n_queries: int = 10,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = PQ_SUB,
) -> DataFrame:
    """The production IVFADC refinement: ADC selects ``rerank``
    candidates per query from the CODES table (never touching
    vectors), then the exact integer-cosine reranks just those — full
    vectors are fetched for O(queries·rerank) rows instead of the
    corpus. Recall is then bounded by "is the true neighbor in the ADC
    top-``rerank``", which the rerank-vs-bruteforce pytest pins. On
    clustered real embeddings ADC's candidate recall is far higher
    than on the uniform-random fixture (PQ's worst case — no cluster
    structure for the codebooks to exploit).

    Broadcast contract (ADVICE r16): the candidate relation carries an
    explicit ``F.broadcast`` hint, and explicit hints never back off to
    a shuffle — callers must keep ``n_queries·rerank`` pairs (plus the
    O(n_queries) quantized query vectors) within broadcast limits
    (hard cap 8 GB / 512M rows; practically ≲ tens of millions of
    pairs). Scale the query set by batching queries across calls, not
    by raising ``n_queries`` past that bound."""
    cand = knn_pq_adc(
        corpus,
        books,
        n_queries=n_queries,
        k=rerank,
        id_col=id_col,
        vec_col=vec_col,
        sub_dim=sub_dim,
    ).select("query_id", "neighbor_id")
    vecs = corpus.select(F.col(id_col).alias("neighbor_id"), quantize(vec_col).alias("cv"))
    qvecs = corpus.select(
        F.col(id_col).alias("query_id"), quantize(vec_col).alias("qqv")
    ).filter(F.col("query_id") < n_queries)
    # cand is bounded O(n_queries·rerank); vecs is the corpus — hint the
    # bounded side so the vector fetch streams the corpus map-side at
    # any scale (guide §3.1; see knn_ivfadc_rerank for the full note)
    scored = (
        F.broadcast(cand).join(vecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "cosine",
            cosine_from_quantized("qqv", "cv", dim=len(books) * sub_dim),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ------------------------------------------------------------------ IVFADC
# The production composition [Jégou et al. 2011, the FAISS default]:
# a coarse quantizer partitions the corpus into cells, PQ codebooks are
# trained on the RESIDUAL (vector − cell centroid), and a query probes
# only its nprobe nearest cells, scoring residual-PQ codes by ADC.
# Versus flat PQ (knn_pq_adc): (a) the residual distribution is far
# tighter than the raw corpus, so the same code budget quantizes finer;
# (b) the probe prunes the codes scan to nprobe/n_centroids of the
# index — at 100 TB the codes table is partitioned BY cell, so the
# probe join is partition pruning, not a filter. Codebooks here carry
# IVFADC_CODES = 64 codes per subspace (8× flat PQ's 8) — affordable
# because encode is one Arrow matmul per batch (O(1) expressions in
# n_codes) and scoring probes a materialized lookup relation; the
# literal-expression forms both started from would blow codegen at
# this size (the r9 ADC lesson).
IVFADC_CODES = 64
IVFADC_SAMPLE = 256


def _assign_cells_np(Q, cents):
    """Cell ids for rows of ``Q`` — argmax cosine, ties → higher index:
    the driver-side twin of :func:`_assign_cells_arrow` (same
    `_centroid_cosines_np` scores, same tie order)."""
    import numpy as np

    C = np.array(cents, dtype=np.int64)
    Cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    cos = _centroid_cosines_np(Q, C, Cn)
    best = cos.max(axis=1)
    k = C.shape[0]
    return np.where(cos == best[:, None], np.arange(k)[None, :], -1).max(axis=1)


def ivfadc_train(
    corpus: DataFrame,
    *,
    n_centroids: int = N_CENTROIDS,
    iters: int = 2,
    m_sub: int = PQ_M,
    sub_dim: int = PQ_SUB,
    n_codes: int = IVFADC_CODES,
    pq_iters: int = PQ_ITERS,
    sample_n: int = IVFADC_SAMPLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _quantized: DataFrame | None = None,
) -> tuple[list[list[int]], list[list[list[int]]]]:
    """Train the IVFADC index pair: coarse centroids via
    :func:`ivf_centroids` (deterministic Lloyd over the corpus), then
    per-subspace PQ codebooks over the RESIDUALS of a bounded
    deterministic sample — the ``sample_n`` vectors first in
    md5(salted id) order (``PQ_SAMPLE_SALT``: unbiased w.r.t. ingestion
    order, unlike lowest-id — ADVICE r10), assigned to their cells
    driver-side with the exact `_centroid_cosines_np` arithmetic. No
    RNG anywhere — the SQL oracle replays centroids, residuals, and
    codebooks bit-for-bit (the x_knn_ivf + x_knn_pq disciplines
    composed)."""
    import numpy as np
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    v = (
        _quantized
        if _quantized is not None
        else corpus.select(F.col(id_col).alias("id"), quantize(vec_col).alias("qv"))
    )
    # The PQ training sample depends only on the quantized corpus, not
    # on the coarse centroids — overlap its TakeOrdered job with the
    # Lloyd iterations from a driver thread (guide §2.6: actions are
    # only sequential because the driver calls them sequentially).
    # Deterministic: both read the same pinned/immutable relation. The
    # thread inherits the caller's job group and tags.
    with ThreadPoolExecutor(max_workers=1) as pool:
        sample_f = pool.submit(
            inheritable_thread_target(v.sparkSession)(
                lambda: v.orderBy(*_sample_order("id")).limit(sample_n).collect()
            )
        )
        cents = ivf_centroids(
            corpus,
            n_centroids=n_centroids,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
            _quantized=_quantized if _quantized is not None else v,
        )
        rows = sample_f.result()
    Q = np.array([list(r["qv"]) for r in rows], dtype=np.int64)
    cells = _assign_cells_np(Q, cents)
    resid = Q - np.array(cents, dtype=np.int64)[cells]
    books = _pq_lloyd_np(
        [list(map(int, r)) for r in resid], m_sub, sub_dim, n_codes, pq_iters
    )
    return cents, books


def ivfadc_encode(
    corpus: DataFrame,
    cents: list[list[int]],
    books: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    sub_dim: int = PQ_SUB,
    _quantized: DataFrame | None = None,
) -> DataFrame:
    """The IVFADC index build: one Arrow ``mapInPandas`` pass tags each
    vector with its cell (matmul cosine argmax, ties → higher index)
    and its residual-PQ codes (per-subspace exact-int64 argmin L2 over
    ``vector − centroid[cell]``, ties → lower code). Output is the
    persisted-index layout — ``vec_id, cell, code_0..code_{m-1}``, no
    vectors — written partitioned by ``cell`` at scale so probes prune
    partitions. The corpus never shuffles."""
    import numpy as np

    m_sub = len(books)
    src = (
        _quantized.select(F.col("id").alias("vec_id"), "qv")
        if _quantized is not None
        else corpus.select(
            F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv")
        )
    )
    id_type = src.schema["vec_id"].dataType
    out_schema = T.StructType(
        [T.StructField("vec_id", id_type), T.StructField("cell", T.LongType())]
        + [T.StructField(f"code_{s}", T.IntegerType()) for s in range(m_sub)]
    )
    C = np.array(cents, dtype=np.int64)
    B = [np.array(book, dtype=np.int64) for book in books]
    Bsq = [(Cb * Cb).sum(axis=1) for Cb in B]

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
            cells = _assign_cells_np(Q, cents)
            R = Q - C[cells]
            out = pdf[["vec_id"]].copy()
            out["cell"] = cells.astype("int64")
            for s in range(m_sub):
                sub = R[:, s * sub_dim : (s + 1) * sub_dim]
                d = (
                    (sub * sub).sum(axis=1)[:, None]
                    + Bsq[s][None, :]
                    - 2 * (sub @ B[s].T)
                )
                out[f"code_{s}"] = np.argmin(d, axis=1).astype("int32")
            yield out

    return src.mapInPandas(gen, out_schema)


def _ivfadc_probe_tables(
    queries: DataFrame,
    cents: list[list[int]],
    books: list[list[list[int]]],
    nprobe: int,
    sub_dim: int,
    _query_rows: list | None = None,
) -> DataFrame:
    """Driver-side build of ONE tiny scoring relation from the bounded
    query set: per (query_id, probed cell) — the nprobe nearest cells
    by cosine desc / index desc, the `_probe_cells_arrow` order — the
    full per-subspace ADC lookup rides along as m_sub array columns
    ``__d{s}`` (``__d{s}[code]`` = the exact integer L2 between the
    query's RESIDUAL subvector w.r.t. that cell and codebook centroid
    ``code``). n_queries·nprobe rows of m_sub·n_codes ints —
    microscopic at any corpus size; it scales with the query set, never
    the corpus. One relation instead of the former (probes, adc) pair
    (r16): the scoring join collapses from 1+m_sub broadcast hash
    joins to ONE broadcast join + m_sub O(1) element_at lookups —
    bit-identical distances, 4 fewer BroadcastExchanges per search."""
    import numpy as np

    spark = queries.sparkSession
    id_type = queries.schema["query_id"].dataType
    # ``_query_rows`` lets composed callers pre-collect the bounded
    # query set CONCURRENTLY with the Lloyd training loop (r16 wave 5,
    # guide §2.6) — the collect depends only on the quantized relation,
    # not on the centroids this function scores against.
    rows = _unique_query_rows(queries) if _query_rows is None else _query_rows
    C = np.array(cents, dtype=np.int64)
    Cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    k_cells = C.shape[0]
    neg_idx = -np.arange(k_cells)
    B = [np.array(book, dtype=np.int64) for book in books]
    recs = []
    for r in rows:
        q = np.array([int(x) for x in r["qqv"]], dtype=np.int64)
        cos = _centroid_cosines_np(q[None, :], C, Cn)[0]
        cells = np.lexsort((neg_idx, -cos))[:nprobe]
        for cell in cells:
            resid = q - C[cell]
            ds = []
            for s, Bs in enumerate(B):
                sub = resid[s * sub_dim : (s + 1) * sub_dim]
                d = ((Bs - sub[None, :]) ** 2).sum(axis=1)
                ds.append([int(x) for x in d])
            recs.append((r["query_id"], int(cell), *ds))
    return spark.createDataFrame(
        recs,
        T.StructType(
            [
                T.StructField("query_id", id_type),
                T.StructField("cell", T.LongType()),
            ]
            + [
                T.StructField(f"__d{s}", T.ArrayType(T.LongType()))
                for s in range(len(B))
            ]
        ),
    )


def knn_ivfadc_codes(
    codes: DataFrame,
    queries: DataFrame,
    cents: list[list[int]],
    books: list[list[list[int]]],
    *,
    k: int = 5,
    nprobe: int = 4,
    sub_dim: int = PQ_SUB,
    dedup: bool = True,
    _query_rows: list | None = None,
) -> DataFrame:
    """IVFADC top-k over a PRE-BUILT codes index (from
    :func:`ivfadc_encode` or its streaming maintainer): the probe
    relation broadcast-joins the codes scan on ``cell`` — at scale,
    partition pruning of the cell-partitioned index to
    nprobe/n_centroids of its bytes — and ``approx_l2`` is an
    m_sub-term integer sum of O(1) ``element_at`` lookups into the
    per-subspace distance arrays riding that ONE broadcast relation
    (r16: the former shape ran 1+m_sub separate broadcast hash joins —
    same distances bit-for-bit, m_sub fewer BroadcastExchanges).
    Everything whole-stage-codegen; the only per-corpus-row cost is
    m_sub array probes on a microscopic broadcast relation. ``queries``
    carries (query_id, qqv) and must be bounded (collected to build the
    ADC relation). ``dedup`` guards replayed at-least-once index rows
    exactly as in :func:`knn_pq_adc_codes`."""
    if dedup:
        codes = codes.dropDuplicates(["vec_id"])
    probe_adc = _ivfadc_probe_tables(
        queries, cents, books, nprobe, sub_dim, _query_rows=_query_rows
    )
    scored = codes.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(probe_adc), "cell"
    )
    # element_at is 1-based; code_{s} indexes the codebook 0-based
    approx = F.element_at(F.col("__d0"), F.col("code_0") + 1)
    for s in range(1, len(books)):
        approx = approx + F.element_at(F.col(f"__d{s}"), F.col(f"code_{s}") + 1)
    scored = (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_l2", approx.cast("long"))
        .drop(*[f"__d{s}" for s in range(len(books))])
    )
    w = Window.partitionBy("query_id").orderBy("approx_l2", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", "approx_l2")
    )


def knn_ivfadc(
    corpus: DataFrame,
    *,
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = 4,
    n_centroids: int = N_CENTROIDS,
    n_codes: int = IVFADC_CODES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = PQ_SUB,
    _quantized: DataFrame | None = None,
) -> DataFrame:
    """End-to-end IVFADC: train (coarse cells + residual codebooks),
    encode the corpus once, probe + ADC-rank. The candidate set per
    query is the union of its ``nprobe`` cells — unlike flat PQ the
    scan never touches the other ``n_centroids − nprobe`` cells'
    codes. The quantized corpus is built ONCE and pinned (r16): the
    seed sort, each Lloyd pass, the training sample, and the encode all
    read the same narrow (id, qv) relation instead of re-scanning and
    re-quantizing the source per phase (owner-released via ext.cache,
    the staged-shingles discipline)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from leftshove_spark.ext import cache as _cache

    v = (
        _quantized
        if _quantized is not None
        else _cache.pin(
            corpus.select(
                F.col(id_col).alias("id"), quantize(vec_col).alias("qv")
            )
        )
    )
    q = v.select(
        F.col("id").alias("query_id"), F.col("qv").alias("qqv")
    ).filter(F.col("query_id") < n_queries)
    # The bounded query-set collect depends only on the pinned quantized
    # relation, never on the trained centroids — overlap it with the
    # Lloyd loop from a driver thread (r16 wave 5, guide §2.6), exactly
    # like the PQ training sample inside ivfadc_train. Deterministic:
    # both read the same pinned/immutable relation. The thread inherits
    # the caller's job group and tags.
    with ThreadPoolExecutor(max_workers=1) as pool:
        qrows_f = pool.submit(
            inheritable_thread_target(q.sparkSession)(_unique_query_rows), q
        )
        cents, books = ivfadc_train(
            corpus,
            n_centroids=n_centroids,
            n_codes=n_codes,
            id_col=id_col,
            vec_col=vec_col,
            sub_dim=sub_dim,
            _quantized=v,
        )
        qrows = qrows_f.result()
    enc = ivfadc_encode(
        corpus, cents, books, id_col, vec_col, sub_dim=sub_dim, _quantized=v
    )
    return knn_ivfadc_codes(
        enc, q, cents, books, k=k, nprobe=nprobe, sub_dim=sub_dim,
        dedup=False, _query_rows=qrows,
    )


def knn_ivfadc_rerank(
    corpus: DataFrame,
    *,
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 50,
    n_centroids: int = N_CENTROIDS,
    n_codes: int = IVFADC_CODES,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = PQ_SUB,
) -> DataFrame:
    """IVFADC with exact refinement: ADC selects ``rerank`` candidates
    per query from the probed cells' codes, then the exact integer
    cosine reranks just those O(queries·rerank) rows — the full FAISS
    search loop (probe → ADC → refine), end-to-end. One pinned
    quantized (id, qv) relation feeds training, encode, AND the rerank
    vector joins (r16) — the source is scanned and quantized once.

    Broadcast contract (ADVICE r16): the candidate relation carries an
    explicit ``F.broadcast`` hint, and explicit hints never back off to
    a shuffle — callers must keep ``n_queries·rerank`` pairs (plus the
    O(n_queries) quantized query vectors) within broadcast limits
    (hard cap 8 GB / 512M rows; practically ≲ tens of millions of
    pairs). Scale the query set by batching queries across calls, not
    by raising ``n_queries`` past that bound."""
    from leftshove_spark.ext import cache as _cache

    v = _cache.pin(
        corpus.select(F.col(id_col).alias("id"), quantize(vec_col).alias("qv"))
    )
    cand = knn_ivfadc(
        corpus,
        n_queries=n_queries,
        k=rerank,
        nprobe=nprobe,
        n_centroids=n_centroids,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
        sub_dim=sub_dim,
        _quantized=v,
    ).select("query_id", "neighbor_id")
    vecs = v.select(F.col("id").alias("neighbor_id"), F.col("qv").alias("cv"))
    qvecs = v.select(
        F.col("id").alias("query_id"), F.col("qv").alias("qqv")
    ).filter(F.col("query_id") < n_queries)
    # Broadcast the side that is BOUNDED BY CONSTRUCTION (guide §3.1):
    # cand is O(n_queries·rerank) rows forever, while vecs is the
    # corpus. Unhinted, local stats made Catalyst broadcast the
    # corpus-sized pinned relation (fine at bench scale, and at real
    # scale it degrades to shuffling the corpus AND the candidates);
    # hinting cand keeps the vector fetch a map-side stream of the
    # corpus at any scale — zero corpus shuffle, zero corpus broadcast.
    scored = (
        F.broadcast(cand).join(vecs, "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "cosine",
            # PQ_M·sub_dim is the trained geometry (ivfadc_train's
            # m_sub default); a caller whose vectors are a different
            # length now gets explicit NULL cosines from int_dot's
            # size guard instead of a silent prefix dot (ADVICE r10)
            cosine_from_quantized("qqv", "cv", dim=PQ_M * sub_dim),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ----------------------------------------------------------------- SemDeDup
def semdedup(
    corpus: DataFrame,
    *,
    threshold: float = 0.9,
    n_centroids: int = N_CENTROIDS,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication [Abbas et al. 2023, SemDeDup]: k-means
    cluster the embedding space, find within-cluster pairs whose exact
    integer cosine clears ``threshold``, group them into connected
    components, and KEEP one representative per component — the member
    with the LOWEST cosine to its cluster centroid (the paper's
    empirically-best keep policy: extreme points preserve diversity),
    ties → lower id. Output: one row per input vector —
    (vec_id, cell, component, cos_to_centroid, keep) with
    component = own id for non-duplicated vectors and keep ∈ {0, 1}.

    Plan: the deterministic :func:`ivf_centroids` quantizer (two Lloyd
    passes, no RNG), one codegen assignment pass, cos-to-centroid via a
    broadcast join against the k-row centroid table, then the
    within-cell self-join — SemDeDup's own O(Σ cell²) step, the whole
    reason the paper clusters FIRST: pairs are confined to cells
    (n²/k per cell for balanced cells, embarrassingly parallel across
    cells) instead of the corpus-wide n². At 100 TB, n_centroids
    scales with the corpus (FAISS practice ~√n) so cells stay bounded;
    a skew-heavy cell is a quantizer-quality signal, not a plan hazard
    (the join is keyed on cell — AQE splits oversized partitions).
    Component labels via :func:`graph.connected_components`
    (hash-to-min + pointer jumping, O(log diameter) rounds).

    Keep-policy ordering is explicit nulls-last on cos_to_centroid
    (zero-norm vectors cosine NULL): Spark ASC defaults NULLS FIRST,
    DuckDB NULLS LAST — pinned identically on both sides."""
    from .graph import connected_components

    spark = corpus.sparkSession
    # ONE pinned quantized relation feeds the seed sort, both Lloyd
    # passes, and the assignment below (r16) — the corpus is scanned
    # and quantized once per semdedup call, not once per phase
    from leftshove_spark.ext import cache as _cache

    v = _cache.pin(
        corpus.select(F.col(id_col).alias("id"), quantize(vec_col).alias("qv"))
    )
    cents = ivf_centroids(
        corpus,
        n_centroids=n_centroids,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        _quantized=v,
    )
    # corpus-side assignment: always the Arrow matmul (the literal HOF
    # dots run interpreted — CENTROID_LITERAL_MAX note). cos_to_centroid
    # rides the SAME matmul (r16): the former shape broadcast-joined the
    # centroid table back just to recompute the assigned cell's cosine
    # as a cosine_from_quantized expression — three interpreted HOF dots
    # per row, ~3.5 s at sf0.1 — for a value the assignment pass already
    # had. Bit-identical (same IEEE sequence; zero-norm → NULL).
    # pinned: feeds the pair join twice (both sides) and the final output
    withc = _cache.pin(
        _assign_cells_arrow(v, cents, qv_col="qv", out_col="cell", cos_col="c2c")
    )
    # within-cell pair mining as ONE Arrow matmul per cell
    # (applyInPandas keyed by cell — the same shuffle the pair join
    # would have made, but each cell's n² cosines are one int64 matmul
    # + vectorized float64 normalize instead of n²/2 expression-tree
    # evaluations, each of which re-derived THREE aggregate-dots per
    # pair). The arithmetic replicates cosine_from_quantized's exact
    # IEEE sequence — int64 dot (exact), float64 sqrt norms, product,
    # divide, all correctly-rounded ops — so the >= threshold boundary
    # set is bit-identical to the expression form and the SQL oracle
    # (the `_centroid_cosines_np` discipline). A cell too large for
    # one worker's matmul is a coarse-quantizer-quality problem, not a
    # plan hazard — SemDeDup's n_centroids scales ~√n precisely to
    # bound cells.
    import numpy as np
    import pandas as pd

    id_type = withc.schema["id"].dataType
    pair_schema = T.StructType(
        [T.StructField("id_a", id_type), T.StructField("id_b", id_type)]
    )

    def cell_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": []})
        Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
        ids = pdf["id"].to_numpy()
        norms = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = (Q @ Q.T).astype(np.float64) / (
                norms[:, None] * norms[None, :]
            )
        iu, ju = np.triu_indices(n, k=1)
        with np.errstate(invalid="ignore"):
            hit = cos[iu, ju] >= threshold  # NaN (zero-norm) -> False,
            # matching the expression form's NULL-drop
        a, b = ids[iu[hit]], ids[ju[hit]]
        return pd.DataFrame(
            {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)}
        )

    pairs = withc.select("id", "cell", "qv").groupBy("cell").applyInPandas(
        cell_pairs, pair_schema
    )
    comp = connected_components(pairs)  # (node, component)
    labeled = withc.join(
        comp.withColumnRenamed("node", "id"), "id", "left"
    ).withColumn("component", F.coalesce("component", F.col("id")))
    w = Window.partitionBy("component").orderBy(
        F.col("c2c").asc_nulls_last(), F.col("id")
    )
    return labeled.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("int")
    ).select(
        F.col("id").alias(id_col),
        "cell",
        "component",
        F.col("c2c").alias("cos_to_centroid"),
        "keep",
    )


def semdedup_admit(
    index: DataFrame | None,
    batch: DataFrame,
    cents: list[list[int]],
    *,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rounds: int = 64,
) -> DataFrame:
    """Incremental SemDeDup ADMISSION: screen a batch of embeddings
    against a persisted semantic index before it may join the corpus —
    the :func:`semdedup` counterpart of the MinHash stream-admission
    loop (W20). ``index`` is the standing (vec_id, cell, qv) relation
    of previously-ADMITTED vectors (None/empty for a cold start);
    ``cents`` are FROZEN coarse centroids (the W23/W24 codebook
    discipline — re-training would silently re-map cell meanings;
    retrain = new index + cutover).

    A batch row is admitted iff NO already-admitted vector in its cell
    has cosine >= ``threshold``, and no EARLIER batch row (lower id —
    the deterministic in-batch greedy order) ADMITTED in the same cell
    blocks it — the id-ordered greedy, implemented exactly (ADVICE
    r10: the previous min-id-per-component resolution was safe-side
    but over-dropped — in a chain a~b~c with a,c dissimilar the greedy
    admits a AND c, the component form admitted only a). The greedy
    fixpoint is computed as iterated rounds of the id-ordered
    maximal-independent-set recurrence: admit every undecided row with
    no UNDECIDED lower-id conflict; reject rows conflicting with an
    admitted one; repeat — each round settles at least the lowest
    undecided id, and round count is the longest id-increasing
    conflict chain in the batch (conflict chains are near-dup runs —
    short in practice; ``max_rounds`` caps adversarial batches with a
    loud error, never a silent wrong set). Invariants (pytest-pinned):
    the admitted set never contains a within-threshold pair against
    the index or itself; rejecting is pure non-append; exact re-ingest
    of an admitted row is rejected (cos(x,x) = 1 >= τ); chain middles
    do not block chain ends.

    Cost per batch ∝ batch×(cell populations touched), never
    corpus×corpus: the batch joins the index only on its own cells —
    on a cell-partitioned index that read is partition-pruned. In-batch
    screening is the within-cell self-join over batch rows only; the
    greedy rounds shuffle only the batch's CONFLICT PAIRS (id-keyed
    joins over O(pairs) rows, lineage truncated per round).
    Returns the admitted rows as (vec_id, cell, qv) — the caller
    appends them to the index."""
    b = batch.select(F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv"))
    b = _assign_cells_arrow(b, cents, qv_col="qv", out_col="cell")
    b = b.select("vec_id", "cell", "qv")
    if index is not None:
        blocked = (
            b.alias("n")
            .join(
                index.select(
                    F.col("vec_id").alias("ivid"),
                    F.col("cell"),
                    F.col("qv").alias("iqv"),
                ),
                "cell",
            )
            .filter(
                cosine_from_quantized("qv", "iqv", dim=len(cents[0]))
                >= threshold
            )
            .select("vec_id")
            .distinct()
        )
        b = b.join(blocked, "vec_id", "left_anti")
    # in-batch GREEDY screen — the id-ordered maximal independent set
    # of the within-cell conflict graph, computed as iterated rounds
    # (see docstring). Mine the conflict pairs once (the within-cell
    # self-join over batch rows only), then the rounds touch nothing
    # but (id_a, id_b) edges.
    xa = b.select(
        F.col("vec_id").alias("id_a"), "cell", F.col("qv").alias("qv_a")
    )
    xb = b.select(
        F.col("vec_id").alias("id_b"), "cell", F.col("qv").alias("qv_b")
    )
    edges = (
        xa.join(xb, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_from_quantized("qv_a", "qv_b", dim=len(cents[0]))
            >= threshold
        )
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    losers = None  # accumulated rejected ids
    settled_clean = False
    for _ in range(max_rounds):
        if edges.limit(1).count() == 0:
            settled_clean = True
            break
        # undecided rows that still have a lower-id undecided conflict
        # cannot settle this round; every other edge-bearing row is
        # ADMITTED now, and its higher-id conflicts are REJECTED
        blocked = edges.select(F.col("id_b").alias("vec_id")).distinct()
        adm = (
            edges.select(F.col("id_a").alias("vec_id"))
            .distinct()
            .join(blocked, "vec_id", "left_anti")
        )
        rejected = (
            edges.join(
                adm.withColumnRenamed("vec_id", "id_a"), "id_a", "left_semi"
            )
            .select(F.col("id_b").alias("vec_id"))
            .distinct()
            .localCheckpoint()
        )
        losers = (
            rejected if losers is None else losers.unionByName(rejected).distinct()
        )
        # drop settled endpoints (admitted ids never re-enter as id_b —
        # they had no lower undecided conflict; rejected ids leave both
        # sides) and iterate on the shrunken graph
        settled = adm.unionByName(rejected)
        edges = (
            edges.join(
                settled.withColumnRenamed("vec_id", "id_a"), "id_a", "left_anti"
            )
            .join(
                settled.withColumnRenamed("vec_id", "id_b"), "id_b", "left_anti"
            )
            .localCheckpoint()
        )
    # re-check AFTER the loop: the emptiness test tops each iteration, so
    # a batch that settles in exactly max_rounds working rounds exhausts
    # the for without break yet IS complete — only a still-populated
    # conflict graph means the cap truly bit (ADVICE r11 off-by-one)
    if not settled_clean and edges.limit(1).count() > 0:
        raise ValueError(
            f"semdedup_admit: greedy screen did not settle in {max_rounds} "
            "rounds — the batch carries an id-increasing near-dup conflict "
            "chain longer than the cap; split the batch (or raise the cap)"
        )
    if losers is None:
        return b
    return b.join(losers, "vec_id", "left_anti")


def hard_negatives(
    corpus: DataFrame,
    *,
    n_queries: int = 10,
    k: int = 5,
    pool: int = 20,
    threshold: float = 0.9,
    n_centroids: int = N_CENTROIDS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Dedup-aware contrastive hard-negative mining — the standard
    retriever-training recipe: for each query, the hardest negatives
    are its nearest neighbors, EXCEPT that semantic duplicates of the
    query are false negatives (they'd teach the model to push apart
    things that are the same). Mine a ``pool`` of exact nearest
    neighbors, drop every neighbor in the query's :func:`semdedup`
    component (the certified duplicate clusters), re-rank, keep ``k``.

    Output: (query_id, neighbor_id, rank, cosine) — rank over the
    SURVIVING pool, deterministic (cosine desc, id).

    Plan: the kNN pool is O(queries·pool) rows and is the BROADCAST
    side of both label joins — the corpus-sized component table streams
    map-side, never shuffled, never broadcast. The expensive parts are
    the two certified sub-operators, both already scale-shaped (see
    their docstrings); the composition adds two broadcast equi-joins
    and a window over O(queries·pool) rows. At 100 TB swap the
    brute-force pool for :func:`knn_ivfadc_rerank` — the
    filter-and-rerank composition is unchanged.

    Broadcast contract (ADVICE r16): both label joins hint
    ``F.broadcast`` on the pool side, and explicit hints never back off
    to a shuffle — callers must keep ``n_queries·pool`` rows (each
    carrying cosine + component columns) within broadcast limits (hard
    cap 8 GB / 512M rows; practically ≲ tens of millions of pairs).
    Both knobs are caller-controlled public parameters; scale the query
    set by batching queries across calls, not by raising ``n_queries``
    past that bound."""
    comp = semdedup(
        corpus,
        threshold=threshold,
        n_centroids=n_centroids,
        id_col=id_col,
        vec_col=vec_col,
    ).select(F.col(id_col).alias("__cid"), F.col("component"))
    q = corpus.filter(F.col(id_col) < n_queries)
    knn = knn_bruteforce(q, corpus, k=pool, id_col=id_col, vec_col=vec_col, dim=dim)
    lab_q = comp.select(
        F.col("__cid").alias("query_id"), F.col("component").alias("__comp_q")
    )
    lab_n = comp.select(
        F.col("__cid").alias("neighbor_id"), F.col("component").alias("__comp_n")
    )
    # Broadcast the BOUNDED side of each label join (guide §3.1): knn is
    # O(queries·pool) rows by construction; lab_q/lab_n are the FULL
    # per-id component table — corpus-sized. The former shape hinted
    # F.broadcast(lab_q), shipping the whole component table to every
    # executor (an explicit hint overrides stats, so unlike a
    # stats-driven choice it would NOT back off at 100 TB — broadcast
    # OOM). Both label joins now stream the component table map-side
    # against a broadcast of the bounded pool.
    pooled = F.broadcast(knn).join(lab_q, "query_id")
    kept = (
        F.broadcast(pooled)
        .join(lab_n, "neighbor_id")
        .filter(F.col("__comp_q") != F.col("__comp_n"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        kept.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
