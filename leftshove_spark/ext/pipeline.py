"""Corpus-pipeline operators: decontamination, PII, splits, repetition,
sequence packing.

The stages a pretraining-data pipeline runs AFTER dedup/quality
(ext.dedup, ext.text): scrub eval-set contamination, detect/redact PII,
assign deterministic train/val/test splits, flag degenerate repetition,
and pack documents into fixed-token-budget training sequences.

Scale notes (100 TB lens) per operator:

- decontaminate: the benchmark side is an eval set — thousands of
  documents, a few MB of shingle hashes — so its distinct hashes are
  computed driver-side and ride the task closure as one sorted int64
  array (the same size class the former broadcast carried); the corpus
  pass is ONE map-only Arrow stage emitting (id, n_hit, n_shingles) —
  no corpus explode, no join, no shuffle at all (r16). The attributed
  variant keeps the broadcast-join shape (it needs per-benchmark-id
  hit attribution).
- pii_signals: pure regexp codegen — scan → project, zero shuffles.
- hash_split / stratified_sample: pure codegen on md5(id) — zero
  shuffles, and the assignment is a function of the row alone, so it is
  stable under repartitioning, retries, and incremental appends (the
  property random() splits lack).
- repetition_signals: array expressions per row plus one
  (doc, token)-keyed aggregation with map-side combine; the shuffle
  carries at most one row per distinct token per doc.
- pack_sequences: greedy packing is inherently sequential PER BUCKET;
  the operator shards the corpus into many independent buckets packed in
  parallel via applyInPandas (only (id, bucket, n_tokens) shuffles — the
  text never moves). Bucket count scales with the cluster, not the data.

No reference-parity citations here: the reference engine has no
pipeline stage of this kind; these extend SURVEY.md §2.13.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from . import cache as _cache
from .dedup import _staged_shingles, shingle_hashes_from_tokens
from .hashing import hash60
from .text import tokenize

# ------------------------------------------------------------------ PII
# ASCII-class-only patterns so Java regex (Spark) and RE2 (DuckDB) agree
# exactly: no lookaround, no backrefs, no \d shorthand, no word
# boundaries. Redaction applies them in this exact order (email first:
# its local part may contain digits that the looser patterns would eat).
PII_PATTERNS: dict[str, str] = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}",
    "phone": "[+][0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}",
    "ssn": "[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "ipv4": "([0-9]{1,3}[.]){3}[0-9]{1,3}",
}


def pii_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII hit counts plus the fully-redacted text.

    Detection = ``regexp_count`` per pattern; redaction = chained
    ``regexp_replace`` to ``<KIND>`` placeholders in the fixed
    PII_PATTERNS order. Everything is whole-stage-codegen regexp over
    one scan — the 100 TB plan is scan → project → write."""
    t = F.col(text_col)
    counts = [
        F.regexp_count(t, F.lit(p)).cast("long").alias(f"n_{k}")
        for k, p in PII_PATTERNS.items()
    ]
    return df.select(
        F.col(id_col), *counts, F.md5(redact(t)).alias("redacted_md5")
    ).withColumn("n_pii", sum(F.col(f"n_{k}") for k in PII_PATTERNS))


def redact(text: Column | str) -> Column:
    """The redaction expression alone (for use inside other projections)."""
    red = F.col(text) if isinstance(text, str) else text
    for k, p in PII_PATTERNS.items():
        red = F.regexp_replace(red, p, f"<{k.upper()}>")
    return red


# ------------------------------------------------- decontamination (n-gram)
def _benchmark_hash_array(benchmark: DataFrame, text_col: str, n: int):
    """DISTINCT benchmark shingle hashes as one sorted int64 array —
    the driver-side half of the fused map-only decontamination (r16),
    shared by :func:`decontaminate` and :func:`decontaminate_keep_col`
    (r17) so the two passes can never drift. Eval sets are bounded by
    contract (thousands of docs — the same bound the former broadcast
    relied on), so the collect is O(eval set), corpus-independent."""
    import numpy as np

    from .dedup import _shingles_py

    memo: dict[bytes, int] = {}
    bset: set[int] = set()
    for r in benchmark.select(text_col).collect():
        bset.update(_shingles_py(r[0], n, memo))
    return np.sort(np.fromiter(bset, dtype=np.int64, count=len(bset)))


def decontaminate_keep_col(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
) -> Column:
    """Boolean keep-column form of non-attributed :func:`decontaminate`
    (r17, guide §2.4/§3.3): True exactly for documents the map-only
    pass would NOT flag (zero shared n-grams with the eval set, or no
    shingles at all). The pipeline runner's decontaminate stage used to
    anti-join the flagged ids back against its own input frame — with
    a lazy composed plan that recomputes the ENTIRE upstream (quality
    gate + dedup window) on both join sides, plus a corpus-sized
    anti-join exchange. As a filter column the pass is one Arrow
    predicate over ``text`` wherever the frame already is: no join, no
    upstream duplication, no shuffle, at any scale. Same survivors by
    construction: both forms hash through ``_shingles_py`` against
    :func:`_benchmark_hash_array`."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    from .dedup import _shingles_py

    def _make(b_arr):
        @pandas_udf("boolean")
        def _keep(s: pd.Series) -> pd.Series:
            sh_memo: dict[bytes, int] = {}
            doc_memo: dict[str, list[int]] = {}
            out = []
            for text in s:
                sh = _shingles_py(text, n, sh_memo, doc_memo)
                out.append(
                    not sh
                    or not np.isin(
                        np.array(sh, dtype=np.int64), b_arr
                    ).any()
                )
            return pd.Series(out)

        return _keep

    keep = _make(_benchmark_hash_array(benchmark, text_col, n))
    return keep(F.col(text_col))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    attribute: bool = False,
) -> DataFrame:
    """Flag corpus documents sharing ≥1 word n-gram with an eval set.

    The standard decontamination pass (n-gram collision against held-out
    benchmarks), fused map-only (r16): the DISTINCT benchmark shingle
    hashes (small — eval sets are thousands of docs; the same bound the
    former broadcast relied on) are hashed driver-side via the Arrow
    stage's own ``_shingles_py`` loop and shipped in the task closure
    as one sorted int64 array; a single Arrow pass over the corpus
    counts each doc's distinct-shingle hits vectorized (np.isin) and
    emits ``(id, n_hit, n_shingles)`` directly — no corpus explode, no
    join, no shuffle. Returns
    ``(doc_id, n_hit, n_shingles, contamination)`` for contaminated
    docs only; ``contamination`` = hit fraction of the doc's distinct
    n-grams.

    ``attribute=True`` (VERDICT r12 What's-missing #4) additionally
    emits WHICH benchmark item collided — ``matched_benchmark_id`` (the
    benchmark doc sharing the most distinct n-grams; ties break id-asc,
    the X64 argmax convention) and ``matched_n_hit`` (how many) — so
    :func:`contamination_report` covers verbatim leaks with the same
    governance columns as the semantic passes. The broadcast side
    carries (hash, benchmark_id) pairs instead of the distinct hash
    set (same eval-set-bounded size class); the per-(doc, benchmark)
    aggregation still touches only the contaminated hit rows.

    The attributed path PINS the joined hit relation (it feeds two
    aggregations with different grouping keys — the repo-wide pinned-
    intermediate convention, ext.cache): the pin belongs to the
    caller's open ``ext.cache.pin_scope`` and is released at its exit;
    with no scope open, :func:`ext.cache.release_pins` releases it, as
    after any dedup/fingerprint operator (the gate and bench call it
    between runs)."""
    if not attribute:
        # Fused map-only form (r16 wave 5, guide §2.3/§2.4 taken to the
        # limit): the eval set is bounded by contract (thousands of
        # docs — it already had to fit in the former broadcast), so its
        # distinct shingle hashes are computed DRIVER-side through the
        # same _shingles_py loop the Arrow stage runs (single source —
        # cannot drift) and ride the task closure as one sorted int64
        # array. One Arrow pass over the corpus then emits
        # (id, n_hit, n_shingles) directly — n_hit is a vectorized
        # np.isin over the doc's DISTINCT shingles, the same count the
        # former explode → broadcast-join → groupBy produced. This
        # drops, at ANY scale: the benchmark-side Arrow stage + its
        # distinct exchange + the broadcast build job, and the corpus
        # explode + join + aggregation (the plan is now scan → one
        # MapInPandas → filter; measured 1.77 → ~0.7 s at sf0.1). The
        # contamination ratio stays a Spark long/long division —
        # bit-identical to the previous form and the SQL twin.
        import numpy as np

        from .dedup import _shingles_py
        from .fanout import fanout_if_narrow

        b_arr = _benchmark_hash_array(benchmark, text_col, n)

        id_type = corpus.schema[id_col].dataType
        out_schema = StructType(
            [
                StructField("id", id_type),
                StructField("n_hit", LongType()),
                StructField("n_shingles", LongType()),
            ]
        )
        src = fanout_if_narrow(
            corpus.select(
                F.col(id_col).alias("id"), F.col(text_col).alias("__text")
            )
        )

        def gen(batches):
            sh_memo: dict[bytes, int] = {}
            doc_memo: dict[str, list[int]] = {}
            for pdf in batches:
                ids, hits, tots = [], [], []
                for i, text in zip(pdf["id"], pdf["__text"]):
                    sh = _shingles_py(text, n, sh_memo, doc_memo)
                    if not sh:
                        continue
                    a = np.array(sh, dtype=np.int64)
                    ids.append(i)
                    hits.append(int(np.isin(a, b_arr).sum()))
                    tots.append(len(sh))
                yield pd.DataFrame(
                    {"id": ids, "n_hit": hits, "n_shingles": tots}
                )

        return (
            src.mapInPandas(gen, out_schema)
            .filter(F.col("n_hit") >= 1)
            .select(
                F.col("id").alias(id_col),
                "n_hit",
                "n_shingles",
                (F.col("n_hit") / F.col("n_shingles")).alias("contamination"),
            )
        )
    c_sh = _staged_shingles(corpus, text_col, id_col, n=n, pin=False)
    c_ex = c_sh.select(
        "id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("h")
    )
    b_sh = _staged_shingles(benchmark, text_col, id_col, n=n, pin=False)
    b_pairs = (
        b_sh.select(F.col("id").alias("bid"), F.explode("sh").alias("h"))
        .distinct()
    )
    # one joined hit relation, aggregated twice with DIFFERENT grouping
    # keys (per-benchmark argmax vs per-doc distinct-hash totals) —
    # Catalyst cannot share the exchange between them, so without the
    # pin the corpus tokenize+md5 Arrow pass and the broadcast join run
    # TWICE (r13). Pinned, the second aggregation reads the
    # O(contaminated hit rows) relation — eval-set-bounded — from cache;
    # owned by the caller's pin_scope (or root list) like every dedup stage.
    hit_rows = _cache.pin(c_ex.join(F.broadcast(b_pairs), "h"))
    per_bid = hit_rows.groupBy("id", "n_shingles", "bid").agg(
        F.count(F.lit(1)).alias("bid_hits")
    )
    best = (
        per_bid.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.desc("bid_hits"), F.asc("bid")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    totals = hit_rows.groupBy("id").agg(
        F.count_distinct("h").alias("n_hit")
    )
    return best.join(totals, "id").select(
        F.col("id").alias(id_col),
        "n_hit",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        (F.col("n_hit") / F.col("n_shingles")).alias("contamination"),
        F.col("bid").alias("matched_benchmark_id"),
        F.col("bid_hits").alias("matched_n_hit"),
    )


# --------------------------------------- decontamination (embedding-based)
def decontaminate_semantic(
    corpus_emb: DataFrame,
    benchmark_emb: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Semantic (embedding-based) eval decontamination — the gap the
    n-gram pass (:func:`decontaminate`) cannot close: a PARAPHRASED or
    translated benchmark item shares no 3-gram with its source yet
    embeds next to it (VERDICT r11 What's-missing #3). Flag every
    corpus document whose embedding has cosine ≥ ``threshold`` against
    ANY benchmark embedding; drop the flagged ids with a left-anti to
    finish the pass (the runner's ``decontaminate_semantic`` stage does
    exactly that).

    Returns ``(id_col, matched_benchmark_id, max_cosine)`` for
    contaminated docs only — the argmax benchmark item (cosine desc,
    id asc: total, deterministic) so a human can audit WHAT leaked.

    Plan: the benchmark side is SMALL by nature (eval sets are
    thousands of rows) and rides the closure as an int64 matrix; the
    corpus streams through ONE Arrow ``mapInPandas`` pass that computes
    the full cosine block per batch as an integer matmul — exact (the
    quantized dot products are int64, so numpy and SQL agree
    bit-for-bit; the same argument every Arrow matmul here makes) —
    and emits only the flagged rows with their argmax benchmark item.
    No shuffle, no join: scan → Arrow pass → O(contaminated) rows.
    (An expression-unrolled join form was tried first and blew
    janino's 64 KB codegen limit the moment the 2·dim-term cosine
    appeared twice in one stage — corpus-side vector math belongs in
    Arrow matmuls, the standing lesson.) At 100 TB swap this brute
    candidate pass for the IVFADC probe
    (ext.similarity.knn_ivfadc_codes) exactly as X56 swapped
    SemDeDup's — candidates from nprobe cells, the same
    threshold/argmax finish; the brute pass stays the small-benchmark
    default because one streamed scan with no index beats maintaining
    one below ~10⁵ benchmark rows."""
    import numpy as np
    from pyspark.sql.types import DoubleType

    from .similarity import quantize

    b_rows = (
        benchmark_emb.select(
            F.col(id_col).alias("bid"), quantize(vec_col).alias("bv")
        )
        .orderBy("bid")  # ascending: argmax's first-max = lowest id tie
        .collect()  # bounded side: benchmark, by contract
    )
    src = corpus_emb.select(
        F.col(id_col).alias("__cid"), quantize(vec_col).alias("qv")
    )
    id_type = src.schema["__cid"].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("matched_benchmark_id", id_type),
            StructField("max_cosine", DoubleType()),
        ]
    )
    if not b_rows:
        return corpus_emb.sparkSession.createDataFrame([], out_schema)
    B = np.array([r["bv"] for r in b_rows], dtype=np.int64)
    if dim is not None and B.shape[1] != dim:
        raise ValueError(
            f"benchmark embeddings are {B.shape[1]}-dimensional, "
            f"caller declared dim={dim}"
        )
    bids = [r["bid"] for r in b_rows]
    # sqrt of the exact int norms, float64 — the same two-sqrt product
    # the SQL oracle divides by, in the same IEEE order
    nb = np.sqrt((B * B).sum(axis=1).astype(np.float64))
    thr = float(threshold)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
            D = (Q @ B.T).astype(np.float64)  # exact int64 dots
            na = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
            cos = D / (na[:, None] * nb[None, :])
            best = cos.argmax(axis=1)  # first max ⇒ lowest bench id
            rows = np.arange(len(Q))
            mc = cos[rows, best]
            keep = mc >= thr
            import pandas as pd

            yield pd.DataFrame(
                {
                    id_col: pdf["__cid"][keep],
                    "matched_benchmark_id": [
                        bids[i] for i in best[keep]
                    ],
                    "max_cosine": mc[keep],
                }
            )

    return src.mapInPandas(gen, out_schema)


def contamination_report(
    flagged: DataFrame,
    *,
    benchmark_col: str = "matched_benchmark_id",
    cosine_col: str = "max_cosine",
) -> DataFrame:
    """Governance roll-up of a decontamination pass: PER BENCHMARK
    ITEM, how many corpus documents leak it and how badly — the table
    a data-governance review actually reads ('which eval questions are
    compromised, and is it verbatim or paraphrase-grade?'). Works over
    ANY pass's flagged output uniformly (r13): the semantic passes
    (:func:`decontaminate_semantic` / :func:`decontaminate_semantic_ivf`
    with ``cosine_col="max_cosine"``) and the n-gram pass
    (:func:`decontaminate` with ``attribute=True`` and
    ``cosine_col="contamination"``). One map-side-combined groupBy over
    the O(contaminated) flagged rows — free at any scale."""
    return flagged.groupBy(F.col(benchmark_col).alias("benchmark_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_leaked"),
        F.max(cosine_col).alias("worst_cosine"),
        F.min(cosine_col).alias("mildest_cosine"),
    )


def decontaminate_semantic_ivf(
    corpus_emb: DataFrame,
    benchmark_emb: DataFrame,
    *,
    threshold: float = 0.95,
    n_centroids: int = 4,
    nprobe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """The LARGE-BENCHMARK scale path of :func:`decontaminate_semantic`
    — implemented, not just documented (the X56 'swap the candidate
    pass' composition, executed): cluster the BENCHMARK embeddings with
    the deterministic IVF coarse quantizer (md5-seeded Lloyd —
    ext.similarity.ivf_centroids), then each corpus document probes
    only its ``nprobe`` nearest cells and compares against those cells'
    vectors. Per-doc work drops from |benchmark| to
    nprobe·(|benchmark|/k) multiply-adds — the difference between
    screening against a 10⁶-item benchmark suite and not being able to.

    Same exact arithmetic as the brute pass (int64 dots, the shared
    IEEE division), same output shape, same ONE-Arrow-pass plan (the
    per-cell benchmark matrices ride the closure; probing reuses the
    knn_ivf conventions bit-for-bit: assignment ties to the HIGHER
    cell, probe order (cosine desc, cell desc)). The flagged set is a
    SUBSET of the brute pass's (a candidate outside the probed cells is
    never compared — the standard IVF recall trade, pytest-measured on
    the planted fixture); the SQL oracle replays the entire pipeline:
    Lloyd seeds, both iterations, benchmark assignment, probe
    selection, within-cell threshold + argmax."""
    import numpy as np
    from pyspark.sql.types import DoubleType

    from .similarity import (
        _assign_cells_arrow,
        _centroid_cosines_np,
        ivf_centroids,
        quantize,
    )

    cents = ivf_centroids(
        benchmark_emb,
        n_centroids=n_centroids,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
    )
    b = _assign_cells_arrow(
        benchmark_emb.select(
            F.col(id_col).alias("bid"), quantize(vec_col).alias("bv")
        ),
        cents,
        qv_col="bv",
        out_col="cell",
    )
    b_rows = b.orderBy("bid").collect()  # bounded side, by contract
    src = corpus_emb.select(
        F.col(id_col).alias("__cid"), quantize(vec_col).alias("qv")
    )
    id_type = src.schema["__cid"].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("matched_benchmark_id", id_type),
            StructField("max_cosine", DoubleType()),
        ]
    )
    if not b_rows:
        return corpus_emb.sparkSession.createDataFrame([], out_schema)
    # benchmark ids tracked as ORDINALS into the bid-ascending b_rows
    # order (ADVICE r12: an np.int64 id array crashed on string/decimal
    # benchmark ids that the declared output schema — and the brute
    # twin — carry fine); ordinal comparison ≡ id comparison because
    # the flat list is sorted ascending, and the final emit maps
    # ordinals back through the typed Python list exactly as the brute
    # pass indexes its own.
    flat_bids = [r["bid"] for r in b_rows]
    if dim is not None and b_rows and len(b_rows[0]["bv"]) != dim:
        raise ValueError(
            f"benchmark embeddings are {len(b_rows[0]['bv'])}-dimensional,"
            f" caller declared dim={dim}"
        )
    # per-cell benchmark matrices (ordinals ascending within each cell,
    # so a per-cell first-max is the lowest-id tie pick)
    by_cell: dict[int, tuple] = {}
    for c in sorted({r["cell"] for r in b_rows}):
        idx_c = [i for i, r in enumerate(b_rows) if r["cell"] == c]
        Bc = np.array([b_rows[i]["bv"] for i in idx_c], dtype=np.int64)
        by_cell[int(c)] = (
            Bc,
            np.array(idx_c, dtype=np.int64),
            np.sqrt((Bc * Bc).sum(axis=1).astype(np.float64)),
        )
    C = np.array(cents, dtype=np.int64)
    Cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
    k = C.shape[0]
    neg_idx = -np.arange(k)
    thr = float(threshold)
    npb = int(nprobe)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.array(pdf["qv"].tolist(), dtype=np.int64)
            n = len(Q)
            na = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
            c2c = _centroid_cosines_np(Q, C, Cn)
            # knn_ivf's probe order: (cosine desc, cell desc)
            probes = np.stack(
                [np.lexsort((neg_idx, -row))[:npb] for row in c2c]
            )
            best_cos = np.full(n, -np.inf)
            best_ord = np.full(n, len(flat_bids), dtype=np.int64)
            for c, (Bc, ords, nbc) in by_cell.items():
                mask = (probes == c).any(axis=1)
                if not mask.any():
                    continue
                rows = np.nonzero(mask)[0]
                cos = (Q[rows] @ Bc.T).astype(np.float64) / (
                    na[rows, None] * nbc[None, :]
                )
                loc = cos.argmax(axis=1)  # first max ⇒ lowest bid in cell
                mc = cos[np.arange(len(rows)), loc]
                mo = ords[loc]
                # cross-cell combine: (cosine desc, bid asc) — ordinal
                # order IS id order (flat_bids ascending)
                better = (mc > best_cos[rows]) | (
                    (mc == best_cos[rows]) & (mo < best_ord[rows])
                )
                upd = rows[better]
                best_cos[upd] = mc[better]
                best_ord[upd] = mo[better]
            keep = best_cos >= thr
            yield pd.DataFrame(
                {
                    id_col: pdf["__cid"][keep],
                    "matched_benchmark_id": [
                        flat_bids[i] for i in best_ord[keep]
                    ],
                    "max_cosine": best_cos[keep],
                }
            )

    return src.mapInPandas(gen, out_schema)


# ------------------------------------------------ deterministic hash splits
SPLIT_BUCKETS = 65536  # 4 hex chars of md5


def _bucket(id_col: Column | str, salt: str) -> Column:
    """Uniform bucket in [0, 65536) from md5 of the salted id — identical
    in any engine with md5 (the oracle computes the same substring
    parse). Salt separates independent assignments (split vs sample) so
    they don't correlate."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, 4), 16, 10
    ).cast("long")


def bucket_sql(id_expr: str, salt: str) -> str:
    """DuckDB twin of :func:`_bucket`."""
    return (
        f"CAST(concat('0x', substr(md5(concat('{salt}', "
        f"CAST({id_expr} AS VARCHAR))),1,4)) AS BIGINT)"
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train: float = 0.9,
    val: float = 0.05,
) -> DataFrame:
    """Deterministic train/val/test assignment from a hash of the id.

    Content-stable: the split is a pure function of the id, so it
    survives repartitioning, task retries, and incremental ingestion —
    a late-arriving document lands in the same split it always would
    have. Pure codegen, zero shuffles."""
    b = _bucket(id_col, "split:")
    t_hi = int(train * SPLIT_BUCKETS)
    v_hi = int((train + val) * SPLIT_BUCKETS)
    split = (
        F.when(b < t_hi, "train").when(b < v_hi, "val").otherwise("test")
    )
    return df.withColumn("split", split)


def split_by_component(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    train: float = 0.9,
    val: float = 0.05,
) -> DataFrame:
    """Leakage-PROOF train/val/test assignment: hash the near-dup
    CLUSTER representative, not the document id — every member of a
    connected component lands in the same split BY CONSTRUCTION, so a
    near-duplicate of a training document can never leak into the test
    set (the failure :func:`split_leakage` AUDITS after the fact, this
    op prevents; the standard fix once dedup mining exists — split on
    the cluster, not the doc).

    ``components`` is a ``(node, component)`` labeling from
    :func:`ext.graph.connected_components` (batch or incremental);
    documents absent from it (no near-dup edges — the overwhelming
    majority) fall back to their own id, making this a strict
    generalization of :func:`hash_split`: identical assignment
    wherever no clustering evidence exists, and the identical salt
    means adding MORE edges only ever moves whole clusters between
    splits, never individual members apart.

    Plan: ONE left equi-join on the id (the components relation is
    O(edge-endpoint nodes) — dedup clusters are sparse, so it
    broadcast-joins in practice; hint it if footer stats are absent) +
    the pure-codegen md5 bucket of the representative. Stability: the
    split is a pure function of (id, component-minimum), so it survives
    repartitioning/retries; incremental ingestion via
    connected_components_incremental preserves representatives except
    on genuine cluster MERGES — where re-co-locating the merged cluster
    is exactly the desired behavior."""
    lab = components.select(
        F.col("node").alias(id_col), F.col("component").alias("__comp")
    )
    rep = F.coalesce(F.col("__comp"), F.col(id_col))
    b = _bucket(rep, "split:")
    t_hi = int(train * SPLIT_BUCKETS)
    v_hi = int((train + val) * SPLIT_BUCKETS)
    split = F.when(b < t_hi, "train").when(b < v_hi, "val").otherwise("test")
    return (
        df.join(lab, id_col, "left")
        .withColumn("split", split)
        .withColumn("split_rep", rep.cast("long"))
        .drop("__comp")
    )


def stratified_sample(
    df: DataFrame, rates: dict[str, float], strata_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its hash
    bucket falls under the stratum's rate. Unlike ``df.sample`` the
    result is reproducible across runs/partitionings and composable
    with :func:`hash_split` (independent salt)."""
    b = _bucket(id_col, "sample:")
    default = rates.get("*", 0.0)
    expr = F.lit(int(default * SPLIT_BUCKETS))
    for k, r in rates.items():
        if k == "*":
            continue
        expr = F.when(F.col(strata_col) == k, int(r * SPLIT_BUCKETS)).otherwise(expr)
    keep = b < expr
    return df.filter(keep)


def mixture_sample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    targets: dict[str, float] | None = None,
) -> DataFrame:
    """Deterministic domain-mixture downsampling to target source shares.

    A pretraining corpus rarely arrives at the mixture you want to train
    on; this operator rebalances by DOWN-sampling only (no row is ever
    duplicated): given target weights ``w_s`` (default uniform over the
    observed sources), the largest achievable output keeps the binding
    source whole and accepts every other source at
    ``rate_s = min(1, k·w_s / n_s)`` where ``k = min_s(n_s / w_s)`` —
    the exact water-filling solution, so the output mixture matches the
    target up to hash-bucket granularity. Acceptance is the same salted
    md5-bucket as :func:`hash_split` (independent salt), making the
    sample a pure function of the row id: stable under repartitioning,
    task retries, and incremental appends, and composable with the
    split/sample operators.

    Returns the accepted rows as ``(id_col, source_col, rate)``.

    100 TB plan: one tiny per-source count aggregation (map-side
    partial, |sources| rows), the rate table broadcast back, and a
    map-side hash filter — the corpus itself NEVER shuffles. With
    explicit ``targets``, sources absent from the dict get weight 0
    (dropped), matching curation configs that whitelist domains."""
    return _with_rate(
        accept_at_source_rate(
            df, mixture_rates(df, source_col, targets), source_col, id_col
        ),
        id_col,
        source_col,
    )


def mixture_rates(
    df: DataFrame, source_col: str, targets: dict[str, float] | None = None
) -> DataFrame:
    """:func:`mixture_sample`'s ``(s, rate)`` acceptance table."""
    n_s = F.col("n_s").cast("double")
    if targets is None:
        # uniform over observed sources: k·w_s/n_s reduces to min(n)/n_s
        counts = _beside_min(_source_counts(df, source_col), F.col("n_s"), "mn")
        return counts.select(
            "s", F.least(F.lit(1.0), F.col("mn").cast("double") / n_s).alias("rate")
        )
    w = F.lit(0.0)
    for s, ws in targets.items():
        w = F.when(F.col("s") == s, F.lit(float(ws))).otherwise(w)
    # k = min over weighted sources of n_s/w_s (NULL for an unweighted
    # source, which min skips)
    wn = _source_counts(df, source_col).withColumn("w", w)
    k = F.when(F.col("w") > 0, n_s / F.col("w"))
    return _beside_min(wn, k, "k").select(
        "s",
        F.when(F.col("w") > 0, F.least(
            F.lit(1.0), F.col("k") * F.col("w") / n_s,
        )).otherwise(F.lit(0.0)).alias("rate"),
    )


def _source_counts(df: DataFrame, source_col: str) -> DataFrame:
    """``(s, n_s)``: rows per source, one |sources|-row aggregation."""
    return df.groupBy(F.col(source_col).alias("s")).agg(
        F.count(F.lit(1)).alias("n_s")
    )


def _beside_min(rows: DataFrame, value: Column, name: str) -> DataFrame:
    """Every row of the |sources|-row frame ``rows`` with the minimum of
    ``value`` over all of them as ``name``. The rows are gathered into
    one list beside the min (partial aggregates into one partition) and
    exploded back, so ``rows`` — and the input under it — is computed
    once, not once more for a separate min joined back."""
    return rows.agg(
        F.collect_list(F.struct(*rows.columns)).alias("__rows"),
        F.min(value).alias(name),
    ).select(F.inline("__rows"), name)


def accept_at_source_rate(
    df: DataFrame, rates: DataFrame, source_col: str, id_col: str
) -> DataFrame:
    """The rows of ``df`` a mixture sample accepts, as ``df``'s own
    columns plus ``__mix_rate``: the |sources|-row ``(s, rate)`` table
    joins by broadcast and a row is kept when the salted md5 bucket of
    its id falls under ``rate · SPLIT_BUCKETS`` — a map-side filter,
    the corpus never shuffles. A NULL or unrated source is dropped."""
    r = rates.select(
        F.col("s").alias("__mix_s"), F.col("rate").alias("__mix_rate")
    )
    b = _bucket(id_col, "mix:")
    return (
        df.join(F.broadcast(r), F.col(source_col) == F.col("__mix_s"))
        .filter(b < F.floor(F.col("__mix_rate") * SPLIT_BUCKETS).cast("long"))
        .drop("__mix_s")
    )


def _with_rate(accepted: DataFrame, id_col: str, source_col: str) -> DataFrame:
    return accepted.select(
        F.col(id_col), F.col(source_col), F.col("__mix_rate").alias("rate")
    )


def _hashed_feature_buckets(text_col: str | Column, n_buckets: int) -> Column:
    """Hashed unigram+bigram feature-bucket ids (array<long>, one entry
    per feature INSTANCE — counts matter for affinity scoring, so no
    distinct): the DSIR feature map [Xie et al. 2023]. md5-based
    :func:`hashing.hash60` mod ``n_buckets`` keeps the bucketing
    bit-identical cross-engine. Pure array expressions — no explode
    until the caller wants one."""
    uni = F.transform(tokenize(text_col), lambda x: hash60(x) % n_buckets)
    return F.concat(uni, _hashed_bigram_buckets(text_col, n_buckets))


def _bucket_score(
    feats: Column, bounded: DataFrame, n_buckets: int, weigh, names
) -> Column:
    """Per-row struct ``names`` = (n, s, s / (n·denom)) over a row's
    bucket ids: n instances, int64 ``s = Σ weights[b]``, NULL ratio at
    n = 0. ``weigh(ct)`` gives ``(weights, denom)`` from the BOUNDED
    side's per-bucket counts, collected (as decontaminate_semantic
    collects its benchmark) into ONE dense array literal of plain
    ``<v>L`` elements (a CAST each costs analysis time; past int64 the
    parse fails, never wraps): one fold over the row's own array, no
    explode, no join, no group by id."""
    ct = [0] * n_buckets
    ex = bounded.select(F.explode(feats).alias("b"))
    for b, c in ex.groupBy("b").count().collect():
        ct[b] = c
    weights, denom = weigh(ct)
    w = F.expr(f"array({', '.join(f'{v}L' for v in weights)})")

    def finish(acc):
        n, s = acc.n, acc.s
        r = F.when(n > 0, s.cast("double") / (n * F.lit(denom)).cast("double"))
        return F.struct(n.alias(names[0]), s.alias(names[1]), r.alias(names[2]))

    return F.aggregate(
        F.coalesce(feats, F.array().cast("array<bigint>")),
        F.expr("named_struct('n', 0L, 's', 0L)"),
        lambda acc, b: F.struct((acc.n + 1).alias("n"), (acc.s + w[b]).alias("s")),
        finish,
    )


def target_affinity_col(
    target: DataFrame, text_col: str = "text", n_buckets: int = 4096
) -> Column:
    """:func:`target_affinity_scores`' per-row ``(n_feats, score,
    affinity)`` struct, the column the dsir_sample stage samples on.
    Runs one job now: the target's bucket counts."""
    return _bucket_score(
        _hashed_feature_buckets(text_col, n_buckets), target, n_buckets,
        lambda ct: (ct, sum(ct) or 1), ("n_feats", "score", "affinity"),
    )


def target_affinity_scores(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Hashed n-gram target-affinity scoring — the data-selection
    primitive behind DSIR [Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"]: featurize every doc
    as hashed unigram+bigram bucket counts, and score it by how much
    its feature mass lands where the TARGET corpus's mass is. Exact
    integer form (DSIR's log-likelihood-ratio needs float ``ln``,
    which is not correctly-rounded IEEE and diverges across engines in
    the last ulp — a hash-level red; the integer affinity keeps the
    "weight docs by target-distribution overlap" selection pressure
    with none of the float): ``score = Σ_instances ct[bucket]`` (an
    int64 dot product of the doc's bucket counts against the target's)
    and ``affinity = score / (n_feats · T)`` — one IEEE division,
    exact cross-engine. The scores feed
    :func:`weighted_systematic_sample` directly as integer PPS weights
    — that composition IS the importance-resampling step.

    100 TB plan: the ≤ ``n_buckets``-row target count table is
    collected once into a dense array literal; each doc folds its own
    feature array against it (:func:`target_affinity_col`) — a map-only
    projection, no join, no shuffle. Docs with no token are omitted.
    Returns (id, n_feats, score, affinity), one row per input row."""
    # a filter on n_feats would be pushed below the projection and fold
    # every doc twice
    return (
        df.filter(F.size(tokenize(text_col)) > 0)
        .select(
            F.col(id_col),
            target_affinity_col(target, text_col, n_buckets).alias("__a"),
        )
        .select(id_col, "__a.*")
    )


def _hashed_bigram_buckets(text_col: str | Column, n_buckets: int) -> Column:
    """Hashed BIGRAM bucket ids only (one per instance) — the
    :func:`_hashed_feature_buckets` bigram half, for operators modeling
    token-to-token transitions (the LM-quality score) rather than
    unigram+bigram presence mass (DSIR affinity)."""
    t = tokenize(text_col)
    return F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: hash60(F.concat_ws(" ", a, b)) % n_buckets,
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def lm_quality_col(
    ref: DataFrame, text_col: str = "text", n_buckets: int = 4096,
    scale: int = 1_000_000,
) -> Column:
    """:func:`lm_quality_score`'s per-row ``(n_bigrams, surprisal,
    ppl_proxy)`` struct, the column the lm_quality_gate stage filters
    on. Runs one job now: the reference's bucket counts."""
    def weigh(ct):
        full = (sum(ct) + n_buckets) * scale
        return [full // (c + 1) for c in ct], scale

    return _bucket_score(
        _hashed_bigram_buckets(text_col, n_buckets), ref, n_buckets, weigh,
        ("n_bigrams", "surprisal", "ppl_proxy"),
    )


def lm_quality_score(
    df: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-document LM-quality signal — cross-entropy-style scoring
    against a REFERENCE-corpus hashed-bigram model (the CCNet/Gopher
    practice: score every doc by how surprising it is under a model of
    known-good text; low = fluent/reference-like, high = boilerplate,
    word salad, wrong language). Exact fixed-point form (VERDICT r10
    What's-missing #3): the textbook score is mean −log p(tokᵢ|tokᵢ₋₁),
    but float ``ln`` is not correctly-rounded IEEE and diverges across
    engines in the last ulp — a hash-level red. As with tf-idf's
    ratio idf and DSIR's integer affinity, the log is replaced by the
    exact integer INVERSE-PROBABILITY weight with add-one smoothing
    over the hashed vocab:

        w(b)     = (T + V)·scale div (ct(b) + 1)      — int64, exact
        surprisal = Σ_instances w(bucket)             — int64 sum, order-free
        ppl_proxy = surprisal / (n_bigrams·scale)     — ONE IEEE division

    ``ppl_proxy`` is the arithmetic mean of 1/p̂ — an upper bound of
    (and monotone with) the geometric-mean perplexity on the same
    model; the selection ORDER (what a quality gate consumes) is the
    point, and it is bit-stable cross-engine. Docs with < 2 tokens emit
    n_bigrams = 0 and a NULL proxy — a visibility decision for the
    caller, never a silent best-quality 0.

    Overflow envelope: w ≤ (T+V)·scale and surprisal ≤ doc_len·w, so
    int64 holds while doc_len·(T+V)·scale < 2^63 — with the defaults,
    reference corpora to ~10^9 bigram instances and 10k-token docs;
    for a larger reference lower ``scale`` (a common factor — ordering
    unchanged). The REFERENCE side is the bounded one by construction
    (a curated known-good sample, like DSIR's target).

    100 TB plan (the X55 shape): the ≤ n_buckets-row reference model is
    collected once into a dense weight-array literal (unseen buckets
    carry the full-surprisal weight); each doc folds its own bigram
    array against it (:func:`lm_quality_col`) — a map-only projection,
    no join, no shuffle. Returns (id, n_bigrams, surprisal, ppl_proxy),
    one row per input row."""
    return df.select(
        F.col(id_col),
        lm_quality_col(ref, text_col, n_buckets, scale).alias("__q"),
    ).select(id_col, "__q.*")


def dsir_sample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR importance resampling, end-to-end: target-affinity scores
    as integer PPS weights into :func:`weighted_systematic_sample` —
    k systematic strides over the affinity axis, so a doc's inclusion
    probability is exactly min(1, k·score/Σscore): docs that look like
    the target are proportionally more likely to be kept, zero-affinity
    docs are never selected. Deterministic, overflow-safe, and
    hash-replayable — the composition of two certified operators.

    100 TB plan: the scores are a map-only column of the doc's own row,
    so the sampler's range-partitioned prefix sum is the only shuffle."""
    scored = target_affinity_scores(
        df, target, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    )
    return weighted_systematic_sample(scored, k, "score", id_col=id_col)


def temperature_mixture_sample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled mixture downsampling — the multilingual
    pretraining practice (mT5 / XLM-R): target shares ∝ n_s^α flatten
    the natural distribution (α=1 keeps it, α=0 is uniform), so
    low-resource sources keep proportionally more of their data.
    Down-sampling only, like :func:`mixture_sample`: with w_s = n_s^α
    the water-filling acceptance reduces to
    ``rate_s = (n_min / n_s)^(1−α)`` — the smallest source is kept
    whole and every other source is flattened toward it.

    α = 1/2 (the default, and the only oracle-gated value) makes the
    rate ``sqrt(n_min/n_s)``: one IEEE division + one sqrt, both
    correctly-rounded operations, so the rate — and therefore the
    md5-bucket acceptance set — replays bit-for-bit cross-engine.
    Other α go through ``pow``, which is NOT correctly-rounded IEEE
    and may diverge in the last ulp across engines; fine for
    production, excluded from the hash gate.

    Same 100 TB shape as mixture_sample: per-source counts aggregate
    map-side (|sources| rows), the rate table broadcasts back, the
    acceptance is a pure function of md5(id) at the scan — the corpus
    never shuffles, and the sample is stable under retries, appends
    and repartitioning."""
    return _with_rate(
        accept_at_source_rate(
            df, temperature_rates(df, source_col, alpha), source_col, id_col
        ),
        id_col,
        source_col,
    )


def temperature_rates(df: DataFrame, source_col: str, alpha: float) -> DataFrame:
    """:func:`temperature_mixture_sample`'s ``(s, rate)`` acceptance table."""
    ratio = F.col("mn").cast("double") / F.col("n_s").cast("double")
    if alpha == 0.5:
        rate = F.least(F.lit(1.0), F.sqrt(ratio))
    else:
        rate = F.least(F.lit(1.0), F.pow(ratio, F.lit(1.0 - float(alpha))))
    counts = _beside_min(_source_counts(df, source_col), F.col("n_s"), "mn")
    return counts.select("s", rate.alias("rate"))


# --------------------------------------------------------- repetition flags
def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style degenerate-repetition signals per document:
    duplicate 2-/3-gram fraction and most-frequent-token mass.

    The n-gram fractions are pure array expressions (total grams vs
    distinct grams — distinctness via the same 60-bit shingle hashes the
    dedup operators use, so the oracle reproduces them exactly). The
    top-token mass needs a per-(doc, token) count: explode → two-level
    aggregation, both with map-side partial agg — the shuffle carries
    one row per distinct token per doc, far smaller than the text."""
    tok = tokenize(text_col).alias("t")
    base = df.select(F.col(id_col), tok).filter(F.size("t") > 0)
    n2 = F.size("t") - 1
    n3 = F.size("t") - 2
    d2 = F.size(shingle_hashes_from_tokens(F.col("t"), n=2))
    d3 = F.size(shingle_hashes_from_tokens(F.col("t"), n=3))
    grams = base.select(
        id_col,
        F.size("t").cast("long").alias("n_tokens"),
        F.when(n2 > 0, 1.0 - d2 / n2).otherwise(0.0).alias("dup_2gram_frac"),
        F.when(n3 > 0, 1.0 - d3 / n3).otherwise(0.0).alias("dup_3gram_frac"),
    )
    top = (
        base.select(id_col, F.explode("t").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg((F.max("c") / F.sum("c")).alias("top_token_frac"))
    )
    out = grams.join(top, id_col)
    flag = (
        (F.col("dup_2gram_frac") > 0.5)
        | (F.col("dup_3gram_frac") > 0.4)
        | (F.col("top_token_frac") > 0.3)
    )
    return out.withColumn("is_repetitive", flag)


# -------------------------------------------------------- sequence packing
def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    token_count_col: str = "n_tokens",
    budget: int = 256,
    n_buckets: int = 16,
    bucket_col: str | None = None,
) -> DataFrame:
    """Greedy fixed-budget sequence packing — assign documents to
    training sequences of ≤ ``budget`` tokens.

    Greedy packing is a sequential recurrence, so it cannot be one
    window expression; the scalable shape is: shard the corpus into
    independent buckets (``id % n_buckets`` by default, or a provided
    column), pack each bucket in parallel with an Arrow-batched
    ``applyInPandas`` over just ``(id, bucket, n_tokens)`` — the text
    never enters the shuffle. Within a bucket, documents are packed in
    ascending id order; a document alone larger than the budget gets its
    own sequence. Bucket count scales with the cluster: at 100 TB use
    O(cores) buckets of ~even size; sequence ids are (bucket, seq_id)
    pairs so they never need global coordination.

    Returns ``(id, bucket, seq_id, n_tokens)``."""
    if bucket_col is None:
        slim = df.select(
            F.col(id_col),
            (F.col(id_col) % n_buckets).cast("long").alias("bucket"),
            F.col(token_count_col).cast("long").alias("n_tokens"),
        )
    else:
        slim = df.select(
            F.col(id_col),
            F.col(bucket_col).cast("long").alias("bucket"),
            F.col(token_count_col).cast("long").alias("n_tokens"),
        )
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("bucket", LongType()),
            StructField("seq_id", LongType()),
            StructField("n_tokens", LongType()),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        seq, acc = 0, 0
        seqs = []
        for n in pdf["n_tokens"]:
            if acc > 0 and acc + n > budget:
                seq += 1
                acc = 0
            acc += n
            seqs.append(seq)
        pdf["seq_id"] = seqs
        return pdf[[id_col, "bucket", "seq_id", "n_tokens"]]

    return slim.groupBy("bucket").applyInPandas(pack, schema=out_schema)


def sample_k_per_group(
    df: DataFrame,
    group_cols: list[str] | str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "kpg:",
) -> DataFrame:
    """Exactly-k-per-group deterministic sample (or the whole group when
    smaller) — the balanced-eval-set / per-domain-cap primitive that
    rate-based :func:`stratified_sample` cannot express (a rate keeps a
    FRACTION; this keeps a COUNT).

    Rows are ranked inside each group by the md5 of their salted id — a
    pure function of the id, so membership survives repartitioning,
    task retries, and incremental ingestion, and different salts give
    independent draws (the same stability contract as
    :func:`hash_split`). One shuffle on the group key; the per-group
    sort prunes to k inside the window operator (WindowGroupLimit), so
    nothing beyond the k winners leaves the sort."""
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    c = F.col(id_col)
    rank_key = F.md5(F.concat(F.lit(salt), c.cast("string")))
    w = Window.partitionBy(*keys).orderBy(rank_key, c)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    id_col: str = "doc_id",
    pos_col: str = "epoch_pos",
    salt: str = "epoch:",
) -> DataFrame:
    """Deterministic per-epoch global training order: every row gets its
    1-based position in a pseudo-random permutation seeded by ``epoch``
    — the "shuffle the corpus differently every epoch, identically on
    every retry" primitive a training-data loader needs. The order is a
    pure function of (epoch, id): resumable mid-epoch from any
    checkpoint, stable under repartitioning and task retries, and
    different epochs give independent permutations (the same stability
    contract as :func:`hash_split`).

    Plan: md5 over the salted (epoch, id) as the sort key, then
    :func:`operators.analytic.exact_global_rank` for the global
    position — a range-partitioned parallel rank, NOT a
    single-partition ``row_number() OVER (ORDER BY ...)`` window; every
    stage stays at full parallelism at 100 TB. In practice each epoch's
    output is written ordered-by-position and consumed sequentially;
    epochs are independent runs, never joined."""
    from leftshove_spark.operators.analytic import exact_global_rank

    key = F.md5(
        F.concat_ws("\x1f", F.lit(f"{salt}{epoch}"), F.col(id_col).cast("string"))
    )
    out = df.withColumn("__shuffle_key", key)
    return exact_global_rank(
        out, ["__shuffle_key", id_col], rank_col=pos_col
    ).drop("__shuffle_key")


def token_budget_cap(
    df: DataFrame,
    budget_per_group: int,
    group_cols: list[str] | str,
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: str = "tbc:",
    keep_cum: bool = False,
) -> DataFrame:
    """Per-group TOKEN-budget cap: keep the deterministic md5-ranked
    prefix of each group whose cumulative ``weight_col`` fits
    ``budget_per_group`` — the knob corpus mixing actually turns
    (a source's contribution is budgeted in tokens, not documents;
    :func:`sample_k_per_group` caps a COUNT, this caps a SUM).

    Selection is a pure function of the ids in the group: stable under
    repartitioning and retries, and re-running after an append only
    admits/evicts at the budget boundary. One shuffle on the group key;
    the running sum is a cumulative window inside each group partition
    — a hot group serializes its own window (same caveat as any
    per-key window; split the group or sub-bucket the salt if one
    group dominates the corpus)."""
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    c = F.col(id_col)
    rank_key = F.md5(F.concat(F.lit(salt), c.cast("string")))
    w = (
        Window.partitionBy(*keys)
        .orderBy(rank_key, c)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("__cum", F.sum(weight_col).over(w).cast("long")).filter(
        F.col("__cum") <= budget_per_group
    )
    return out.withColumnRenamed("__cum", "cum_weight") if keep_cum else out.drop("__cum")


# Above this stride count the per-row threshold WHEN-tree gives way to
# the bucketed threshold join (the join's explode volume is k + n rows
# — still linear). 128 is compile-safety, not taste: the tree is ONE
# unsplittable nested-WHEN expression evaluated twice per row, and at
# k=300 the fused stage blew janino's 64 KB method limit — caught the
# moment the codegen-compile lint (tests/test_codegen_lint.py) landed,
# after shipping a round as a silent interpreted fallback.
_WSS_TREE_MAX_K = 128


def weighted_systematic_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wss:",
    *,
    max_tree_k: int = _WSS_TREE_MAX_K,
) -> DataFrame:
    """Exact probability-proportional-to-size sampling: draw ``k``
    systematic strides from the corpus's weight axis, so a row with
    weight ``w`` is selected with probability exactly ``min(1, k·w/W)``
    (W = total weight) — THE sampler for "pick 1M documents weighted by
    token count" (inclusion ∝ tokens, so the sample covers the token
    mass, not the document count). Deterministic: rows are laid on the
    weight axis in md5-shuffled order and every ``W/k``-th point is
    taken, a pure function of (ids, weights) — stable under
    repartitioning, retries, and re-runs ([Madow 1949] systematic PPS).

    Returns the selected rows with ``cum_weight`` (position of the
    row's right edge on the weight axis), ``stride`` (1-based index of
    the first stride landing in the row), and ``multiplicity`` (number
    of strides in the row — >1 when w > W/k; callers doing sampling
    WITH replacement weight by it, callers selecting distinct rows
    ignore it).

    Plan — every stage parallel, overflow-safe at any scale:
    - global prefix sum via
      :func:`operators.analytic.exact_global_cumsum_with_total` (range
      shuffle + per-partition windows; NO single-partition sort);
    - stride membership WITHOUT the textbook ``floor(cum·k/W)`` product
      (at 100 TB, cum·k overflows int64: 10¹⁴ tokens × 10⁶ strides =
      10²⁰): thresholds ``t_i = ceil(i·W/k)`` are computed driver-side
      in Python bigint and compiled into the O(log k) balanced
      WHEN-tree (`_partition_of`), so the executor evaluates only
      int64 comparisons; past ``max_tree_k`` strides the thresholds
      become a k-row generated table range-joined through coarse
      weight-axis buckets (k + n join volume, full parallelism —
      pytest-pinned identical to the tree form).

    Weights must be non-negative and non-null; zero-weight rows are
    never selected (they occupy no weight-axis span)."""
    from leftshove_spark.operators.analytic import (
        _partition_of,
        exact_global_cumsum_with_total,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    c = F.col(id_col)
    keyed = df.withColumn(
        "__wss_key", F.md5(F.concat(F.lit(salt), c.cast("string")))
    )
    cum, total = exact_global_cumsum_with_total(
        keyed, ["__wss_key", id_col], weight_col, cum_col="cum_weight"
    )
    if total <= 0:
        return (
            cum.filter(F.lit(False))
            .drop("__wss_key")
            .withColumn("stride", F.lit(None).cast("long"))
            .withColumn("multiplicity", F.lit(None).cast("long"))
        )
    cum = cum.drop("__wss_key")
    if k <= max_tree_k:
        # t_i = ceil(i*W/k), i = 1..k — exact bigint arithmetic, then
        # #{t_i <= v} as a WHEN-tree over (t_i - 1) boundaries (cum is
        # integral, so v >= t_i  <=>  v > t_i - 1)
        bounds = [F.lit((i * total + k - 1) // k - 1) for i in range(1, k + 1)]
        n_le = lambda v: _partition_of(v, bounds)  # noqa: E731
        lo = n_le(F.col("cum_weight") - F.col(weight_col).cast("long"))
        hi = n_le(F.col("cum_weight"))
        return (
            cum.withColumn("__mult", (hi - lo).cast("long"))
            .filter(F.col("__mult") > 0)
            .withColumn("stride", (lo + 1).cast("long"))
            .withColumnRenamed("__mult", "multiplicity")
        )
    # Large-k path: the thresholds become a k-row TABLE joined to the
    # rows through coarse weight-axis buckets (the t2 range-join
    # pattern). Still overflow-free: with W = q·k + r,
    # t_i = i·q + ceil(i·r/k) — every product stays under k² < 2^62.
    # Bucket width B ≈ W/k puts ~1 threshold per bucket, so a row of
    # weight w explodes to ~w/B + 1 bucket rows: total join volume is
    # k + n — linear, at full parallelism, no giant expression tree.
    # All divisions below are the SQL integral `div` operator — the
    # DataFrame `/` is double-typed and rounds past 2^53, which would
    # shift a threshold by one at extreme (k, W)
    spark = df.sparkSession
    q, r = divmod(total, k)
    B = max(1, total // k)
    thr = spark.range(1, k + 1).selectExpr(
        "id AS stride",
        f"id * {q} + (id * {r} + {k - 1}) div {k} AS t",
    )
    thr = thr.selectExpr("stride", "t", f"t div {B} AS __b")
    lo_c = F.col("cum_weight") - F.col(weight_col).cast("long")
    spanned = cum.withColumn("__lo", lo_c).withColumn(
        "__b",
        F.explode(
            F.sequence(
                F.expr(f"__lo div {B}"),
                F.expr(f"cum_weight div {B}"),
            )
        ),
    )
    matched = (
        spanned.join(thr, "__b")
        .filter((F.col("t") > F.col("__lo")) & (F.col("t") <= F.col("cum_weight")))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("multiplicity"),
            F.min("stride").cast("long").alias("stride"),
        )
    )
    return cum.join(matched, id_col)


def dataset_fingerprint(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Order-insensitive corpus fingerprint — the reproducibility
    primitive: two pipeline runs (different partitioning, different
    ingestion order, different cluster) produced the SAME multiset of
    documents iff every fingerprint column matches, without sorting or
    diffing a corpus. Per group (e.g. source, split):

    - ``n_docs`` / ``n_tokens`` — volume accounting;
    - ``content_sum`` — Σ hash60(text) as DECIMAL(38,0), emitted as a
      string (exact in both engines at any corpus size; the driver's
      pandas fetch would coerce a huge decimal to float);
    - ``content_xor`` — bitwise XOR of the hashes (order-insensitive,
      but blind to documents duplicated an even number of times — the
      sum catches those; together they are a strong multiset check);
    - ``id_hash_min`` / ``id_hash_max`` — cheap spot probes.

    One groupBy shuffle of O(groups) output; every aggregate is a
    partial-agg (map-side combine), so the fingerprint of a 100 TB
    corpus moves O(groups) rows."""
    gcols = list(group_cols or [])
    h = hash60(F.col(content_col))
    toks = F.size(
        F.filter(
            F.split(F.col(content_col), r"[ ]+"), lambda x: x != F.lit("")
        )
    ).cast("long")
    grouped = df.groupBy(*gcols) if gcols else df.groupBy()
    return grouped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
        F.sum(h.cast("decimal(38,0)")).cast("string").alias("content_sum"),
        F.bit_xor(h).alias("content_xor"),
        F.min(hash60(F.col(id_col).cast("string"))).alias("id_hash_min"),
        F.max(hash60(F.col(id_col).cast("string"))).alias("id_hash_max"),
    )


def split_leakage(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    split_col: str = "split",
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Cross-split near-duplicate leakage audit — the check every
    train/val/test split needs before a benchmark number is trusted: a
    test document near-duplicating a train document inflates eval
    scores without any code bug. Hash splits are id-pure (X13), so
    CONTENT duplicates with different ids cross splits freely; this
    surfaces exactly those pairs as (id_a, id_b, split_a, split_b,
    jaccard).

    Plan: MinHash-LSH candidate mining (band-bucket join — never
    all-pairs) + two id→split equi-joins + a cross-split filter. The
    split map is a projection of the corpus (no extra scan cost beyond
    the join); output ∝ leaking pairs. Remediation composes: feed the
    pairs to connected_components and re-assign whole clusters to one
    split (cluster-level splitting)."""
    from .dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        df, content_col, id_col, jaccard_threshold=jaccard_threshold
    )
    sp = df.select(F.col(id_col), F.col(split_col))
    return (
        pairs.join(
            sp.select(
                F.col(id_col).alias("id_a"), F.col(split_col).alias("split_a")
            ),
            "id_a",
        )
        .join(
            sp.select(
                F.col(id_col).alias("id_b"), F.col(split_col).alias("split_b")
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    )


def interleave_sources(
    df: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    pos_col: str = "interleave_pos",
    salt: str = "ilv:",
) -> DataFrame:
    """Deterministic weighted-fair interleave: a single global training
    order in which sources appear at exactly their weight ratios,
    smoothly (weight-2 : weight-1 plays out A A B A A B…, not
    AAAA…BB…) — the ORDER half of corpus mixing
    (:func:`mixture_sample` decides how much of each source,
    this decides WHEN each row is seen; training curves care about
    both).

    Weighted-fair-queueing virtual finish times, exact integers: the
    i-th row of source s (in per-source md5-shuffled order) gets
    ``vft = (2i−1) · (L / w_s)`` with ``L = lcm(weights)`` — the
    midpoint of slot i at rate w_s, scaled so every quotient is an
    integer (no float ties, identical in any engine). The global order
    is (vft, source, id): pure function of (ids, weights) — stable
    under repartitioning/retry, resumable mid-epoch. Sources missing
    from ``weights`` are dropped (whitelist semantics, like
    mixture_sample's explicit targets).

    Plan: one per-source window (group-key shuffle; a hot source
    parallelizes if its rank is re-derived per bucket — same escape as
    token_budget_cap) + :func:`operators.analytic.exact_global_rank`
    for the dense position (range-partitioned parallel rank, no
    single-partition sort). Overflow: vft ≤ 2n·L — int64-safe for any
    corpus up to 10¹⁴ rows at L ≤ 10⁴; pick small coprime weights."""
    from math import lcm

    from leftshove_spark.operators.analytic import exact_global_rank

    if not weights or any(w < 1 for w in weights.values()):
        raise ValueError("weights must be a non-empty dict of positive ints")
    L = lcm(*weights.values())
    stride = None
    for s, w in weights.items():
        lit = F.lit(L // w).cast("long")
        stride = lit if stride is None else F.when(
            F.col(source_col) == s, lit
        ).otherwise(stride)
    # the when-chain above falls back to the FIRST dict entry's stride
    # (it seeds the innermost otherwise); restrict to whitelisted
    # sources first so the fallback can only ever apply to that entry's
    # own rows
    base = df.filter(F.col(source_col).isin(*weights.keys()))
    rank_key = F.md5(
        F.concat(F.lit(salt), F.col(id_col).cast("string"))
    )
    w_src = Window.partitionBy(source_col).orderBy(rank_key, id_col)
    keyed = base.withColumn(
        "vft",
        (F.lit(2) * F.row_number().over(w_src).cast("long") - 1) * stride,
    )
    return exact_global_rank(
        keyed, ["vft", source_col, id_col], rank_col=pos_col
    )


def weighted_systematic_sample_grouped(
    df: DataFrame,
    k: int,
    weight_col: str,
    group_cols: list[str] | str,
    id_col: str = "doc_id",
    salt: str = "wssg:",
) -> DataFrame:
    """Per-group exact PPS sampling: :func:`weighted_systematic_sample`
    stratified — k systematic strides on EACH group's weight axis, so
    within every group a row of weight w is selected with probability
    exactly min(1, k·w/W_g). The per-source form of "sample by token
    mass": every source yields ~k docs covering its own token
    distribution. Completes the sampling matrix: per-group COUNT cap
    (sample_k_per_group), per-group SUM cap (token_budget_cap), global
    PPS (X44), per-group PPS (this).

    Overflow-free at any scale, like the global form: per-group
    thresholds t_{g,i} = ceil(i·W_g/k) are generated DISTRIBUTIVELY as
    a (groups × k)-row table via the decomposition W_g = q_g·k + r_g
    ⇒ t = i·q_g + ceil(i·r_g/k) (every product < k² or ≤ W_g; all
    divisions the integral SQL `div`), bucketed at width ~W_g/k and
    equi-joined to the rows through their spanned buckets — join
    volume ≈ groups·k + n, no cum·k product, no giant expression.

    Plan: one group-key shuffle for the in-group cumulative window,
    one O(groups) partial-aggregate pass for the totals (map-side
    combine — cheaper than re-executing the window branch), the totals
    broadcast into the threshold generator, one equi-join on
    (group, bucket). Ids need only be unique WITHIN a group (selection
    keys on group + id). Weights must be non-negative and non-null
    (NULL raises at execution); zero-weight rows are never selected."""
    keys = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if k < 1:
        raise ValueError(f"k must be >= 1 (got {k})")
    spark = df.sparkSession
    c = F.col(id_col)
    rank_key = F.md5(F.concat(F.lit(salt), c.cast("string")))
    w_ord = (
        Window.partitionBy(*keys)
        .orderBy(rank_key, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL weights have no prefix-sum semantics (the global sampler's
    # cumsum raises from its summary pass; here there is no driver
    # action to hang the check on, so it rides the row pipeline)
    wl = (
        F.when(
            F.col(weight_col).isNull(),
            F.raise_error(
                F.lit(
                    f"weighted_systematic_sample_grouped: NULL in weight "
                    f"column {weight_col!r} — fill or filter first"
                )
            ).cast("long"),
        )
        .otherwise(F.col(weight_col))
        .cast("long")
    )
    cum = df.withColumn("cum_weight", F.sum(wl).over(w_ord))
    # O(groups) partial aggregate — never re-executes the window branch
    totals = (
        df.groupBy(*keys)
        .agg(F.sum(wl).alias("__wg"))
        .filter(F.col("__wg") > 0)
        .selectExpr(
            *keys,
            "__wg",
            f"__wg div {k} AS __q",
            f"__wg % {k} AS __r",
            f"greatest(1L, __wg div {k}) AS __bw",
        )
    )
    thr = (
        spark.range(1, k + 1)
        .withColumnRenamed("id", "stride")
        .join(F.broadcast(totals))
        .selectExpr(
            *keys,
            "stride",
            f"stride * __q + (stride * __r + {k - 1}) div {k} AS __t",
            "__bw",
        )
        .selectExpr(*keys, "stride", "__t", "__t div __bw AS __b")
    )
    spanned = (
        cum.join(F.broadcast(totals.select(*keys, "__bw")), keys)
        .withColumn("__lo", F.col("cum_weight") - wl)
        .withColumn(
            "__b",
            F.explode(
                F.sequence(
                    F.expr("__lo div __bw"), F.expr("cum_weight div __bw")
                )
            ),
        )
    )
    # group BY (keys, id): ids are only assumed unique per stratum —
    # the same id in two groups must keep two independent selections
    matched = (
        spanned.join(thr, [*keys, "__b"])
        .filter((F.col("__t") > F.col("__lo")) & (F.col("__t") <= F.col("cum_weight")))
        .groupBy(*keys, id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("multiplicity"),
            F.min("stride").cast("long").alias("stride"),
        )
    )
    return cum.join(matched, [*keys, id_col])
