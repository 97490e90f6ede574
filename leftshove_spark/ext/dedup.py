"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

The 100 TB design rule for every near-dup operator here: **never compare
all pairs**. Candidates come from a bucket join (LSH band signatures or
SimHash chunks), so the shuffle key is the bucket and the join touches
only same-bucket rows; the exact similarity check then runs on the
candidate set only. All arithmetic is the deterministic 60-bit hash
(ext.hashing), which makes even the "probabilistic" operators
oracle-checkable bit-for-bit.

Scale notes:
- exact_dedup: one hash-groupBy shuffle — minimum possible work.
- minhash_lsh_pairs: shuffles (doc, band) pairs on band signature; band
  count × rows is the fan-out, bounded and tunable. No cross join exists
  in the plan at any scale.
- simhash_pairs: chunk-pigeonhole guarantees every pair within the
  hamming radius shares ≥1 exact-match chunk, so the bucket join is
  *complete*, not heuristic, for radius ≤ chunks−1.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType
from leftshove_spark.ext import cache as _cache

from .fanout import fanout_if_narrow
from .hashing import MINHASH_P, hash60, hash60_py, minhash_seeds
from .text import tokenize, tokenize_py

# MinHash defaults: 12 permutations in 4 bands of 3 → catches J≳0.6 with
# high probability while keeping the signature tiny.
N_PERMS = 12
N_BANDS = 4
BAND_ROWS = 3
SEEDS = minhash_seeds(N_PERMS)

# SimHash: 60-bit signature in 6 chunks of 10 bits → pigeonhole-complete
# for hamming radius ≤ 5.
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 6
CHUNK_BITS = 10
HAMMING_MAX = 5


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via content-hash groupBy: one surviving (minimum) id
    per distinct content + the copy count. The canonical first pass of
    any dedup pipeline; one shuffle on the group key.

    The key is (60-bit hash, content length), not the hash alone: at
    billions of docs, 60-bit birthday collisions become likely (~50%
    near 1.3B distinct) and would silently merge distinct documents;
    the length co-key multiplies the effective key space for near-free
    (it rides the same shuffle). For true content-equality guarantees
    at that scale, verify within groups or widen to a split 128-bit
    hash — same plan shape either way."""
    return (
        df.groupBy(
            hash60(F.col(content_col)).alias("content_hash"),
            F.length(content_col).cast("long").alias("content_len"),
        )
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_hashes_from_tokens(t: Column, n: int = 3) -> Column:
    """Distinct hashed n-gram shingles from a MATERIALIZED token-array
    column; empty array when the document has fewer than n tokens.

    The token argument must be a plain column reference, not the
    tokenize() expression: higher-order functions run interpreted (no
    whole-stage codegen), and each of the n element_at calls per shingle
    re-evaluates its argument — an inlined split+filter would re-run
    O(n·shingles) times per document (measured ~80 ms/doc at 100-token
    docs; column-reference form is ~100× cheaper)."""
    sh = F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
        lambda i: hash60(
            F.concat_ws(" ", *[F.element_at(t, i + F.lit(j)) for j in range(n)])
        ),
    )
    # sequence(1, 0) DESCENDS in Spark — guard short docs explicitly
    return F.when(F.size(t) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<bigint>")
    )


def _minhash_bands_np(sh_lists: list[list[int]]) -> list[list[str] | None]:
    """Vectorized MinHash signatures + band keys for one Arrow batch —
    the numpy twin of ``band_keys(minhash_signature(sh))``, bit-identical
    (same SEEDS, same mod-P integer math: a<2^31, h%P<2^31 ⇒ products
    <2^62, exact in int64). One concatenated (N_PERMS × total_shingles)
    matrix + ``minimum.reduceat`` per doc replaces 12 interpreted
    higher-order-function walks per row on the Catalyst path."""
    import numpy as np

    A = np.array([a for a, _ in SEEDS], dtype=np.int64)[:, None]
    B = np.array([b for _, b in SEEDS], dtype=np.int64)[:, None]
    lens = np.array([len(s) for s in sh_lists], dtype=np.int64)
    nonempty = lens > 0
    if not nonempty.any():
        return [None] * len(sh_lists)
    H = np.concatenate([np.array(s, dtype=np.int64) for s, ne in zip(sh_lists, nonempty) if ne])
    vals = (A * (H[None, :] % MINHASH_P) + B) % MINHASH_P  # exact int64
    offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
    np.cumsum(lens[nonempty][:-1], out=offsets[1:])
    sigs = np.minimum.reduceat(vals, offsets, axis=1)  # N_PERMS × n_docs
    out: list[list[str] | None] = []
    j = 0
    for ne in nonempty:
        if not ne:
            out.append(None)
            continue
        sig = sigs[:, j]
        j += 1
        out.append(
            [
                ",".join(str(int(sig[b * BAND_ROWS + r])) for r in range(BAND_ROWS))
                for b in range(N_BANDS)
            ]
        )
    return out


def _shingles_py(
    text: str | None,
    n: int,
    sh_memo: dict | None = None,
    doc_memo: dict | None = None,
    sh_cap: int = 1 << 20,
    doc_cap: int = 4096,
) -> list[int]:
    """Distinct md5-prefix shingle hashes of one text — the SINGLE
    source of truth for the Python shingle loop, shared by the Arrow
    stage (:func:`_staged_shingles`) and driver-side bounded callers
    (ext.pipeline.decontaminate's eval-set hashing), so the two can
    never drift. Bit-identical to ``shingle_hashes_from_tokens``:
    one encode of the space-joined token stream + byte-offset slicing
    (identical bytes ⇒ identical md5), ``int.from_bytes(digest[:8])
    >> 4`` IS ``int(hexdigest[:15], 16)``, and ``dict.fromkeys`` is
    order-preserving distinct (array_distinct's first-occurrence
    order).

    ``sh_memo``/``doc_memo`` are optional caller-owned memos (r16,
    guide §4.5): short n-grams repeat massively across documents, so a
    per-task dict cuts md5 calls ~38% on the sf0.1 corpus with no
    planted duplicates and far more on dedup corpora. Both are
    insert-capped (lookups keep working past the cap), bounding worker
    memory at any task size."""
    import hashlib
    from itertools import accumulate

    if doc_memo is not None and text is not None:
        cached = doc_memo.get(text)
        if cached is not None:
            return cached
    toks = tokenize_py(text)
    if len(toks) < n:
        sh: list[int] = []
    else:
        md5 = hashlib.md5
        buf = " ".join(toks).encode("utf-8")
        ends = list(accumulate(len(t.encode("utf-8")) + 1 for t in toks))
        raw = []
        ap = raw.append
        mg = sh_memo.get if sh_memo is not None else None
        for i in range(len(toks) - n + 1):
            key = buf[0 if i == 0 else ends[i - 1] : ends[i + n - 1] - 1]
            h = mg(key) if mg is not None else None
            if h is None:
                h = int.from_bytes(md5(key).digest()[:8], "big") >> 4
                if sh_memo is not None and len(sh_memo) < sh_cap:
                    sh_memo[key] = h
            ap(h)
        sh = list(dict.fromkeys(raw))
    if doc_memo is not None and text is not None and len(doc_memo) < doc_cap:
        doc_memo[text] = sh
    return sh


def _staged_shingles(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n: int = 3,
    extra_cols: list[str] | None = None,
    pin: bool = True,
    with_bands: bool = False,
) -> DataFrame:
    """id + materialized DISTINCT shingle-hash arrays — the shared first
    stage of every shingle-based near-dup operator.

    Computed via Arrow-batched ``mapInPandas`` rather than the Catalyst
    expression form (:func:`shingle_hashes_from_tokens`): the md5 call
    sits inside a higher-order-function lambda, which Spark evaluates
    INTERPRETED, one expression-tree walk per shingle — measured ~1 ms
    per hash, 29 s for 10k docs at sf0.1. The same loop through
    ``hashlib.md5`` over Arrow batches is ~20× faster with bit-identical
    output (same 60-bit md5-prefix hash). This is the sanctioned
    pandas-UDF escape hatch: the semantics are expressible in built-ins,
    the throughput is not.

    The result is pinned (``ext.cache.pin``: the caller's open
    ``pin_scope`` releases it at exit, or ``release_pins()`` when no
    scope is open) when ``pin`` (the default): the near-dup callers read it at least twice
    (signature build + verification joins), and without the pin each
    reference re-runs tokenize+md5 over the whole corpus (420 s → 35 s
    for the full minhash pipeline at sf0.1). Single-read callers
    (ext.pipeline.decontaminate) pass ``pin=False`` to skip both the
    pin and the key repartition — their plan stays narrow WHEN the scan
    is already parallel. When the source has fewer partitions than the
    cluster width (a single local parquet file), the Arrow stage — the
    whole CPU cost of the operator — would run on one core, so the
    input is fanned out round-robin first; at real scale the scan
    already has ≥ cluster-width splits and no shuffle is added."""
    extras = list(extra_cols or [])
    fields = [StructField("id", df.schema[id_col].dataType)]
    fields += [StructField(c, df.schema[c].dataType) for c in extras]
    fields.append(StructField("sh", ArrayType(LongType())))
    if with_bands:
        from pyspark.sql.types import StringType

        fields.append(StructField("bands", ArrayType(StringType())))
    out_schema = StructType(fields)
    src = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extras],
        F.col(content_col).alias("__text"),
    )
    # Fan out ONLY when the scan is narrower than the cluster (a single
    # local parquet file): at 100 TB the scan already has cluster-width
    # splits and an unconditional repartition would be one avoidable
    # full-corpus shuffle before the Arrow stage. The pin path keys the
    # fan-out by id so the persisted shingle table is evenly spread.
    src = fanout_if_narrow(src, "id" if pin else None)

    def gen(batches: Iterator) -> Iterator:
        # Per-task memos (r16 wave 5, guide §4.5) — see _shingles_py:
        # the doc memo keys on the raw text (exact redeliveries /
        # planted copies skip tokenize+hash outright), the shingle memo
        # on the window bytes (natural n-gram reuse).
        sh_memo: dict[bytes, int] = {}
        doc_memo: dict[str, list[int]] = {}
        for pdf in batches:
            shs = [
                _shingles_py(text, n, sh_memo, doc_memo)
                for text in pdf["__text"]
            ]
            out = pdf[["id", *extras]].copy()
            out["sh"] = shs
            if with_bands:
                out["bands"] = _minhash_bands_np(shs)
            yield out

    out = src.mapInPandas(gen, out_schema).filter(F.size("sh") > 0)
    # eager: every pinning caller is a pair miner whose first action
    # fans out into concurrent AQE stages over this relation (band/posting
    # self-join sides + per-id shingle fetches) — cold-pin concurrency
    # would recompute this Arrow stage once PER stage (see cache.pin)
    return _cache.pin(out, eager=True) if pin else out


def minhash_signature(sh: Column) -> Column:
    """MinHash signature: per permutation i, min over shingles of
    (a_i * (h mod P) + b_i) mod P. Exact integer math (< 2^62)."""
    perms = [
        F.array_min(
            F.transform(
                sh,
                lambda h: F.pmod(
                    F.lit(a) * F.pmod(h, F.lit(MINHASH_P)) + F.lit(b), F.lit(MINHASH_P)
                ),
            )
        )
        for (a, b) in SEEDS
    ]
    return F.array(*perms)


def band_keys(sig: Column) -> Column:
    """LSH band signatures: the signature split into N_BANDS contiguous
    bands, each serialized to one join key string."""
    return F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.element_at(sig, b * BAND_ROWS + r + 1).cast("string")
                    for r in range(BAND_ROWS)
                ],
            )
            for b in range(N_BANDS)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH: shingle → signature → band
    bucket join → exact-Jaccard verification. Returns (id_a, id_b,
    jaccard) with id_a < id_b, jaccard ≥ threshold.

    Plan shape: the only joins are (1) the band-bucket self-join keyed on
    (band_idx, band_key) and (2) the candidate←shingles verification
    joins keyed on id — no cross join at any scale.

    The shingle stage is Arrow-batched and persisted (_staged_shingles):
    the signature build and both verification joins read the SAME
    materialized arrays; without the pin each reference re-runs
    tokenize+md5 over the corpus (measured 420 s → ~10 s at sf0.1).
    Signatures + band keys ride the same Arrow pass (``with_bands`` —
    vectorized numpy, bit-identical to the Catalyst
    ``band_keys(minhash_signature(...))`` form): the 12 per-row
    interpreted HOF walks were the next-largest cost after hashing."""
    docs = _staged_shingles(df, content_col, id_col, with_bands=True)
    exploded = docs.select("id", F.posexplode("bands").alias("band_idx", "band_key"))
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sh_a = docs.select(F.col("id").alias("_ida"), F.col("sh").alias("sh_a"))
    sh_b = docs.select(F.col("id").alias("_idb"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sh_a, cand.id_a == sh_a._ida)
        .join(sh_b, cand.id_b == sh_b._idb)
        .drop("_ida", "_idb")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def simhash_from_hashes(th: Column) -> Column:
    """60-bit SimHash from a precomputed array<long> of token hashes:
    each bit is the sign of the per-bit vote sum. Exact integer math.
    The bit loop is unrolled driver-side (shiftright needs a literal
    shift). IMPORTANT: materialize ``th`` below an exchange before
    calling this — the 60 vote expressions each reference it, and
    CollapseProject would otherwise inline the token hashing 60×."""

    def vote(bit: int) -> Column:
        # closure over the literal bit index: higher-order-function
        # lambdas must be exactly binary for Spark's arity inspection
        return F.aggregate(
            th,
            F.lit(0).cast("long"),
            lambda acc, h: acc + F.shiftright(h, bit).bitwiseAND(F.lit(1)) * 2 - 1,
        )

    total = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        total = total + F.when(vote(b) > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return total


def simhash(text: Column | str) -> Column:
    """60-bit SimHash of a text column. Convenience single-expression
    form; for bulk use prefer staging the token hashes behind an
    exchange and calling :func:`simhash_from_hashes` (see its note)."""
    return simhash_from_hashes(F.transform(tokenize(text), lambda tok: hash60(tok)))


def _staged_simhash(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """(id, sim) — 60-bit SimHash signatures via Arrow-batched numpy
    (same rationale and bit-identical output as _staged_shingles: the
    expression form walks 60 interpreted vote-aggregates per document).
    Persisted: the chunk self-join references the signatures twice."""
    import numpy as np

    out_schema = StructType(
        [StructField("id", df.schema[id_col].dataType), StructField("sim", LongType())]
    )
    src = df.select(F.col(id_col).alias("id"), F.col(content_col).alias("__text"))
    # fan out only when the scan is narrower than the cluster — at scale
    # the scan already has cluster-width splits and the repartition
    # would be an avoidable full-corpus shuffle (same rule as
    # _staged_shingles)
    src = fanout_if_narrow(src, "id")
    bits = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            sims = []
            for text in pdf["__text"]:
                toks = tokenize_py(text)
                if not toks:
                    sims.append(0)
                    continue
                th = np.array([hash60_py(t) for t in toks], dtype=np.uint64)
                # per-bit vote: ones*2 - n > 0  ⇔  sum of (bit*2-1) > 0
                ones = ((th[:, None] >> bits) & 1).sum(axis=0)
                votes = 2 * ones.astype(np.int64) - len(th)
                sims.append(int(((votes > 0).astype(np.uint64) << bits).sum()))
            out = pdf[["id"]].copy()
            out["sim"] = sims
            yield out

    # eager for the same reason as _staged_shingles: the chunk self-join
    # fans out into concurrent stages over a cold pin otherwise
    return _cache.pin(src.mapInPandas(gen, out_schema), eager=True)


def simhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ hamming_max,
    found via the chunk-pigeonhole bucket join: split the 60-bit
    signature into 6 10-bit chunks; any pair within hamming 5 must agree
    exactly on ≥1 chunk, so bucketing on (chunk_idx, chunk_value) is a
    COMPLETE candidate generator, not a heuristic."""
    docs = _staged_simhash(df, content_col, id_col)
    chunks = docs.select(
        "id",
        "sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sim"), c * CHUNK_BITS)
                    .bitwiseAND(F.lit((1 << CHUNK_BITS) - 1))
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, ["chunk_idx", "chunk_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sim").alias("sim_a"),
            F.col("b.sim").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= hamming_max)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_topk(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    block_cols: list[str] | None = None,
    n: int = 2,
    k: int = 20,
    max_block_size: int = 10_000,
) -> DataFrame:
    """Ranked near-dup mining: exact n-gram Jaccard for pairs within
    deterministic blocks (e.g. same language + length bucket), top-k
    most-similar pairs. Blocking bounds the pair space the way LSH does,
    with exact rather than probabilistic recall inside each block.

    Default blocking is (lang, log2-length bucket) — near-dups share
    language and length scale, so the bucket costs little recall while
    each added block key divides the quadratic pair space. The default
    path also CAPS each block at ``max_block_size`` docs (smallest ids
    kept, deterministically): one degenerate block — every doc the same
    language and length bucket — would otherwise be an all-pairs join,
    the classic 100 TB self-join failure. Caller-supplied ``block_cols``
    are used verbatim, uncapped: explicit blocking is a statement that
    the caller has bounded the blocks (and capped results would silently
    diverge from an exact oracle)."""
    capped = block_cols is None
    if capped:
        df = df.withColumn(
            "__len_bucket",
            F.floor(F.log2(F.length(F.col(content_col)) + F.lit(1))).cast("int"),
        )
        blocks = (["lang"] if "lang" in df.columns else []) + ["__len_bucket"]
    else:
        blocks = list(block_cols)
    docs = _staged_shingles(df, content_col, id_col, n=n, extra_cols=blocks)
    if capped and max_block_size:
        wb = Window.partitionBy(*blocks).orderBy("id")
        docs = (
            docs.withColumn("__bn", F.row_number().over(wb))
            .filter(F.col("__bn") <= max_block_size)
            .drop("__bn")
        )
    a, b = docs.alias("a"), docs.alias("b")
    pairs = (
        a.join(b, blocks)
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
            / F.size(F.array_union("a.sh", "b.sh")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "jaccard")
    )
    return pairs.orderBy(F.desc("jaccard"), "id_a", "id_b").limit(k)


def build_minhash_index(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Persistable LSH index — one row per document:
    ``(id, sh, bands)`` (distinct shingle hashes + the band-key array).

    The production dedup mode is INCREMENTAL: the corpus is shingled
    once, this index is written to a sink (partition by a band-key
    prefix at 100 TB), and every ingest batch joins against it — the
    corpus text is never re-read and never re-hashed. Bands stay packed
    as one array per doc (exploding to a row per band would store every
    shingle array ``N_BANDS``× over). The rows carry the MinHash
    parameters they were built with (constant columns — parquet RLE
    stores them for free): an index queried after a constants change
    would silently stop colliding with fresh batches, so consumers can
    check ``idx_params`` against the module's current values.

    The returned plan is UNPINNED — write it to a sink (the production
    mode) or ``ext.cache.pin`` it before passing it to
    :func:`minhash_lsh_pairs_incremental`, which references it twice."""
    docs = _staged_shingles(df, content_col, id_col, pin=False)
    return docs.select(
        "id",
        "sh",
        band_keys(minhash_signature(F.col("sh"))).alias("bands"),
        F.struct(
            F.lit(N_PERMS).alias("n_perms"),
            F.lit(N_BANDS).alias("n_bands"),
            F.lit(BAND_ROWS).alias("band_rows"),
            F.lit(3).alias("shingle_n"),
        ).alias("idx_params"),
    )


def minhash_lsh_pairs_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new ingest batch: new×corpus and
    new×new, verified with exact Jaccard — exactly the subset of the
    full-corpus pairs that involve a new document (pytest-proven).

    Scale shape: the new batch (small) is shingled and persisted; the
    corpus side contributes ONE equi-join of its stored band table
    against the batch's exploded bands — cost proportional to the
    BATCH's bucket collisions, not the corpus — plus a shingle fetch
    keyed on candidate ids only. Re-running full-corpus dedup per
    ingest batch is O(corpus) of SHINGLING per batch; here the corpus
    contributes only two reads of its stored index (bands + shingles —
    pass a sink-backed or persisted index, or the plan evaluates
    twice). An id present in BOTH inputs is treated as a re-ingest:
    the new document's shingles REPLACE the stored ones for
    verification (upsert semantics), so stale content never shapes a
    verdict."""
    nd = _staged_shingles(new_docs, content_col, id_col)
    n_sig = nd.select(
        "id", "sh", band_keys(minhash_signature(F.col("sh"))).alias("bands")
    )
    ne = n_sig.select("id", F.posexplode("bands").alias("band_idx", "band_key"))
    ie = index.select("id", F.posexplode("bands").alias("band_idx", "band_key"))
    both = ie.unionAll(ne)
    a, b = ne.alias("a"), both.alias("b")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
    )
    # new wins on id collision (re-ingest): drop the stale index row so
    # each id has exactly one shingle set — a duplicate id would
    # otherwise fan the verification joins out to multiple rows per pair
    all_sh = nd.select("id", "sh").unionAll(
        index.select("id", "sh").join(nd.select("id"), "id", "left_anti")
    )
    sh_a = all_sh.select(F.col("id").alias("_ida"), F.col("sh").alias("sh_a"))
    sh_b = all_sh.select(F.col("id").alias("_idb"), F.col("sh").alias("sh_b"))
    return (
        cand.join(sh_a, cand.id_a == sh_a._ida)
        .join(sh_b, cand.id_b == sh_b._idb)
        .drop("_ida", "_idb")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_exact(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """EXACT Jaccard near-dup pairs via a shared-shingle inverted index —
    complete for any threshold > 0 (a pair sharing no shingle has
    Jaccard 0) yet never all-pairs: candidates exist only where an
    inverted-index posting collides, and the intersection size is
    counted exactly by the group-by, so no second verification pass
    touches the shingle arrays.

    Plan: shingles (shared Arrow stage) → posting list explode →
    self-join on shingle hash → count shared shingles per pair →
    ``|A∩B| / (|A| + |B| - |A∩B|)``. Cost ∝ Σ_shingle df² (df = docs
    containing that shingle), the classic inverted-index bound — on
    near-dup-bearing corpora this is orders below N².

    ``max_shingle_df`` is the 100 TB knob: a stop-shingle appearing in
    millions of docs contributes df² candidate rows while carrying no
    similarity signal; capping drops those postings (documents it as an
    approximation — pairs supported ONLY by ultra-common shingles can
    fall below threshold). Default None = exact, the form the recall
    metric uses as ground truth."""
    docs = _staged_shingles(df, content_col, id_col)
    post = docs.select(
        "id", F.size("sh").alias("n"), F.explode("sh").alias("h")
    )
    if max_shingle_df is not None:
        hot = (
            post.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("h")
        )
        post = post.join(F.broadcast(hot), "h", "left_anti")
    a, b = post.alias("a"), post.alias("b")
    inter = (
        a.join(b, "h")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("a.n").alias("n_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("ni").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("ni")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _window_hashes_with_pos_expr(
    df: DataFrame, content_col: str, id_col: str, window: int
) -> DataFrame:
    """Catalyst-expression twin of :func:`window_hashes_with_pos` —
    ``posexplode(transform(sequence, ...))`` with the md5 hash inside
    the lambda. Kept as the bit-parity reference for the Arrow fast
    path (pytest-pinned identical); the HOF lambda evaluates
    INTERPRETED, one expression-tree walk per window — the per-window
    cost grows with ``window`` (20 element_at walks each), so the Arrow
    stage is the production form. On the short-doc sf0.1 fixture the
    two are within ~10% (tokenize dominates); the gap widens with
    document length × window size, where the interpreted walks compound
    (the _staged_shingles economics)."""
    toks = df.select(F.col(id_col).alias("id"), tokenize(content_col).alias("t"))
    wins = F.transform(
        F.sequence(F.lit(1), F.size("t") - F.lit(window - 1)),
        lambda i: hash60(
            F.concat_ws(
                " ", *[F.element_at(F.col("t"), i + F.lit(j)) for j in range(window)]
            )
        ),
    )
    return (
        toks.filter(F.size("t") >= window)
        .select("id", F.posexplode(wins).alias("pos0", "window_hash"))
        .select(
            "id", (F.col("pos0") + 1).cast("long").alias("pos"), "window_hash"
        )
    )


def window_hashes_with_pos(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
) -> DataFrame:
    """(id, pos, window_hash) for EVERY length-``window`` token window —
    the positional sibling of :func:`shingle_hashes_from_tokens` (which
    distincts and drops positions). ``pos`` is 1-based; rows per doc =
    len − window + 1 — linear fan-out, no shuffle here.

    Arrow-batched ``mapInPandas`` (tokenize_py + hash60_py per window,
    bit-identical to the expression twin) for the same reason as
    :func:`_staged_shingles`: the md5 inside a higher-order-function
    lambda runs interpreted per window. Input is fanned out round-robin
    only when the scan is narrower than the cluster (local single-file
    case); at scale the scan already has cluster-width splits.

    The md5-based hash keeps the operator oracle-exact cross-engine; a
    production variant can swap in a Rabin-Karp rolling hash (O(len)
    instead of O(len·window) char touches) without changing any
    downstream plan."""
    out_schema = StructType(
        [
            StructField("id", df.schema[id_col].dataType),
            StructField("pos", LongType()),
            StructField("window_hash", LongType()),
        ]
    )
    src = df.select(F.col(id_col).alias("id"), F.col(content_col).alias("__text"))
    src = fanout_if_narrow(src)

    def gen(batches: Iterator) -> Iterator:
        import hashlib
        from itertools import accumulate

        import pandas as pd

        md5 = hashlib.md5
        for pdf in batches:
            ids, poss, hs = [], [], []
            for i, text in zip(pdf["id"], pdf["__text"]):
                toks = tokenize_py(text)
                n_win = len(toks) - window + 1
                if n_win <= 0:
                    continue
                # One encode of the space-joined stream + byte-offset
                # slicing replaces the per-window ``" ".join(toks[p:p+w])``
                # (r16, guide §4.2): window p's bytes are
                # buf[starts[p] : ends[p+w-1]] — identical bytes, so the
                # md5-prefix hash is bit-identical to hash60_py of the
                # joined string (pinned by the expression-twin parity
                # test). int.from_bytes(digest[:8]) >> 4 IS
                # int(hexdigest[:15], 16).
                buf = " ".join(toks).encode("utf-8")
                lens = [len(t.encode("utf-8")) for t in toks]
                ends = list(accumulate(l + 1 for l in lens))  # noqa: E741
                view = memoryview(buf)
                ids.extend([i] * n_win)
                poss.extend(range(1, n_win + 1))
                hs.extend(
                    int.from_bytes(
                        md5(
                            view[0 if p == 0 else ends[p - 1] : ends[p + window - 1] - 1]
                        ).digest()[:8],
                        "big",
                    )
                    >> 4
                    for p in range(n_win)
                )
            yield pd.DataFrame({"id": ids, "pos": poss, "window_hash": hs})

    return src.mapInPandas(gen, out_schema)


def duplicated_passages(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    min_docs: int = 2,
    max_window_df: int | None = None,
) -> DataFrame:
    """Cross-document duplicated-passage detection (the Lee et al.
    "Deduplicating Training Data Makes Language Models Better" exact-
    substring modality): every token window of length ``window`` that
    appears in >= ``min_docs`` DISTINCT documents, emitted as
    (doc_id, pos, window_hash, n_docs) cluster rows — the operator a
    curation pipeline runs alongside whole-doc MinHash to catch shared
    boilerplate/quotes/licenses that doc-level Jaccard never flags.

    Plan: positional window hashes (narrow) → groupBy(window_hash)
    countDistinct(doc) → join back on window_hash. Two shuffles on the
    window hash, output ∝ Σ_flagged df — never all-pairs (no doc×doc
    join exists; commonality is counted on the hash key directly).

    ``max_window_df`` is the 100 TB knob (same role as
    :func:`jaccard_pairs_exact`'s ``max_shingle_df``): a boilerplate
    window in millions of docs contributes df output rows and a hot
    shuffle key while carrying no per-pair information; capping drops
    windows with n_docs > cap from the CLUSTER listing (they remain
    countable upstream). Skew in the groupBy itself is bounded — the
    aggregation is a partial-agg count, not a row collection."""
    # the positional windows feed BOTH the doc-frequency branch and the
    # join-back — pinned (MEMORY_AND_DISK, owner-released like the
    # staged shingles) so the corpus is tokenized+hashed once, not twice
    wins = _cache.pin(window_hashes_with_pos(df, content_col, id_col, window=window))
    flagged = (
        wins.groupBy("window_hash")
        .agg(F.countDistinct("id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    if max_window_df is not None:
        flagged = flagged.filter(F.col("n_docs") <= max_window_df)
    return wins.join(flagged, "window_hash").select(
        F.col("id").alias("doc_id"), "pos", "window_hash", "n_docs"
    )


def duplicated_span_fraction(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    min_docs: int = 2,
    max_window_df: int | None = None,
) -> DataFrame:
    """Per-document duplicated-span coverage: the fraction of each doc's
    tokens covered by the UNION of its :func:`duplicated_passages`
    windows — the per-doc signal a quality gate thresholds on ("drop
    docs that are >80% shared boilerplate").

    The union length needs no interval explosion: flagged window starts
    sorted per doc, each start contributes ``min(window, next - pos)``
    tokens (the last contributes ``window``) — one lead() window over
    O(flagged) rows, then a left join back so undup'd docs report 0.0.
    Exactly the classic fixed-length-interval union; SQL-identical in
    the oracle."""
    passages = duplicated_passages(
        df,
        content_col,
        id_col,
        window=window,
        min_docs=min_docs,
        max_window_df=max_window_df,
    )
    wl = F.lit(window).cast("long")
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        passages.select("doc_id", "pos")
        .withColumn("nxt", F.lead("pos").over(w))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.least(wl, F.coalesce(F.col("nxt") - F.col("pos"), wl))
            ).alias("covered_tokens")
        )
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokenize(content_col)).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
        (
            F.coalesce("covered_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens")
        ).alias("dup_fraction"),
    )


def redact_duplicated_spans(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    min_docs: int = 2,
    max_window_df: int | None = None,
) -> DataFrame:
    """Drop the duplicated passages from each document (the Lee et al.
    remedy, not just the diagnosis): every token covered by a flagged
    :func:`duplicated_passages` window is removed and the SURVIVING
    token stream re-joined — (doc_id, text_redacted, n_tokens_kept,
    n_tokens_dropped). The output is the normalized token stream, not
    the original bytes (tokenization already lowercased and stripped
    punctuation); pipelines that must preserve raw bytes should treat
    the flagged spans as annotations instead.

    Plan: flagged windows explode to covered token positions
    (O(flagged · window) rows — bounded by the window multiplier, and
    by ``max_window_df`` under boilerplate storms), one distinct, one
    left-anti join against the posexploded token stream, and an
    order-stable reassembly (collect_list of (pos, token) structs →
    array_sort → join). Everything keys on doc_id — co-partitioned
    shuffles, no corpus×corpus join anywhere."""
    passages = duplicated_passages(
        df,
        content_col,
        id_col,
        window=window,
        min_docs=min_docs,
        max_window_df=max_window_df,
    )
    covered = passages.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))
        ).alias("tokpos"),
    ).distinct()
    toks = df.select(
        F.col(id_col).alias("doc_id"), tokenize(content_col).alias("t")
    ).filter(F.size("t") > 0)
    tp = toks.select("doc_id", F.posexplode("t").alias("p0", "token")).select(
        "doc_id", (F.col("p0") + 1).cast("long").alias("tokpos"), "token"
    )
    kept = tp.join(covered, ["doc_id", "tokpos"], "left_anti")
    red = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tokpos", "token"))),
                lambda s: s["token"],
            ),
            " ",
        ).alias("text_redacted"),
        F.count(F.lit(1)).alias("n_tokens_kept"),
    )
    base = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    return base.join(red, "doc_id", "left").select(
        "doc_id",
        F.coalesce("text_redacted", F.lit("")).alias("text_redacted"),
        F.coalesce("n_tokens_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
        (F.col("n_tokens") - F.coalesce("n_tokens_kept", F.lit(0)))
        .cast("long")
        .alias("n_tokens_dropped"),
    )


def duplicated_maximal_spans(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    min_docs: int = 2,
    max_window_df: int | None = None,
) -> DataFrame:
    """MAXIMAL duplicated spans — the report form of the Lee et al.
    suffix-array output: per document, every maximal run of
    overlapping-or-touching flagged windows from
    :func:`duplicated_passages` merged into ONE row with its token
    extent — "tokens 118–857 (740 tokens) are shared, with every
    constituent window in >= min_shared_docs documents" — instead of
    the 721 per-window rows a curation reviewer would otherwise scroll.
    Columns: (doc_id, span_seq, span_start, span_end, span_len,
    n_windows, min_shared_docs, max_shared_docs). ``min_shared_docs``
    is the honest whole-span sharing bound: each window carries its own
    n_docs, so the full span is guaranteed present in at least
    min-over-windows documents (the per-window doc sets may differ).

    Plan: the classic interval-merge as two window functions over the
    O(flagged) passage rows, partitioned by doc_id — a new span starts
    where ``pos > lag(pos) + window`` (windows [p, p+w−1] merge when
    they overlap or touch), a running sum of those starts numbers the
    spans, one groupBy aggregates each. No new corpus pass beyond
    duplicated_passages' own; everything keys on doc_id. Scales."""
    passages = duplicated_passages(
        df,
        content_col,
        id_col,
        window=window,
        min_docs=min_docs,
        max_window_df=max_window_df,
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = (
        passages.select("doc_id", "pos", "n_docs")
        .withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (F.col("pos") > F.col("__prev") + window),
                1,
            ).otherwise(0),
        )
        .withColumn("span_seq", F.sum("__new").over(w))
    )
    wl = F.lit(window).cast("long")
    return marked.groupBy("doc_id", "span_seq").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + wl - 1).alias("span_end"),
        (F.max("pos") + wl - F.min("pos")).alias("span_len"),
        F.count(F.lit(1)).alias("n_windows"),
        F.min("n_docs").alias("min_shared_docs"),
        F.max("n_docs").alias("max_shared_docs"),
    )
