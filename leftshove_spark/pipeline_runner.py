"""Config-driven corpus-pipeline composition — the engine's analog of
the reference's configuration-as-schema posture (SURVEY §1.4): the
reference turns a config into generated Benthos input→processor→output
pipelines (benthos.go:26-73); this module turns a declarative stage
list into the composed DataFrame plan of the corpus operators, so a
curation pipeline is DATA (reviewable, diffable, replayable), not an
ad-hoc script.

    spec = [
        {"op": "quality_filter", "min_tokens": 20},
        {"op": "near_dedup", "jaccard_threshold": 0.6},
        {"op": "decontaminate", "benchmark": bench_df},
        {"op": "outlier_gate", "c_num": 6},
        {"op": "hash_split"},
        {"op": "token_budget_cap", "budget_per_group": 100_000,
         "group_cols": "source", "weight_col": "n_chars"},
    ]
    result = run_pipeline(spark, docs, spec)
    result.df            # the one composed plan, pinned and counted once
    result.counts        # rows per stage, observed during that count

With ``count_stages=False`` the runner builds the same plan and runs
no action of its own: ``result.df`` executes on the caller's first
action and ``result.counts`` is empty.

Every stage maps onto an operator that is individually oracled or
pytest-pinned; the runner adds only composition and accounting, no new
semantics. Stages are applied in list order; each receives the prior
stage's frame and, where it can, filters that frame in place rather
than joining a picked-id set back onto it (a join-back re-runs the
whole upstream on both join sides). Unknown ops or parameters fail
fast with the available choices — config errors must not become
silent no-ops at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# Every wrapper declares its FULL parameter surface explicitly (no
# **kwargs pass-through): run_pipeline binds the config against these
# signatures, so a typo'd parameter is a config error caught before
# anything runs, while a TypeError raised inside an operator surfaces
# as the implementation error it is.


def _stage_quality_filter(
    spark, df, *, text_col="text", id_col="doc_id",
    min_tokens=20, min_uniq_ratio=0.5, min_quality=0.3,
):
    # Filter-in-place (r17, guide §2.4): the former kept-ids join-back
    # scanned the corpus twice (plan: scan ⋈ MapInPandas(scan)) and,
    # mid-pipeline, duplicated the whole upstream subtree on both join
    # sides. quality_keep_col evaluates the SAME _doc_stats_py bits the
    # stats operator emits, as one Arrow predicate on the frame itself:
    # one pass, no join, identical survivors (pytest-pinned parity).
    from .ext.text import quality_keep_col

    return df.filter(
        quality_keep_col(
            text_col, min_tokens=min_tokens,
            min_uniq_ratio=min_uniq_ratio, min_quality=min_quality,
        )
    )


def _stage_exact_dedup(spark, df, *, content_col="text", id_col="doc_id"):
    # keep the SURVIVING ROWS (min id per distinct content), not the
    # collapsed (hash, len, keep_id, n_copies) relation — every stage
    # receives and passes on the corpus frame (r13: the old frame
    # replacement broke any stage downstream of exact_dedup; the
    # composed gate entry x_pipeline_curation now exercises this).
    # ONE shuffle: rank within (hash, len) groups and keep the min-id
    # row directly — the operator's groupBy + a second id-keyed semi
    # join would pay two corpus-sized exchanges for the same rows.
    # Same birthday-safe (60-bit hash, length) co-key as
    # ext.dedup.exact_dedup.
    from pyspark.sql import Window

    from .ext.hashing import hash60

    w = Window.partitionBy(
        hash60(F.col(content_col)), F.length(content_col)
    ).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _stage_near_dedup(
    spark, df, *, content_col="text", id_col="doc_id", jaccard_threshold=0.6
):
    from .ext.dedup import minhash_lsh_pairs
    from .ext.graph import connected_components, resolve_keep_one_per_component

    # anti-join: the non-representatives come out of the pair graph's
    # components, a relation keyed by id, not a column of the row
    pairs = minhash_lsh_pairs(df, content_col, id_col, jaccard_threshold)
    comp = connected_components(pairs.select("id_a", "id_b"))
    return resolve_keep_one_per_component(df, comp, id_col)


def _stage_decontaminate(
    spark, df, *, benchmark, text_col="text", id_col="doc_id", n=3
):
    # Filter-in-place (r17, guide §2.4): the former anti-join of the
    # flagged ids back against the stage's own input recomputed the
    # ENTIRE upstream plan (quality gate + dedup window) on both join
    # sides and paid a corpus-sized anti-join exchange. The keep column
    # runs the same map-only n-gram collision test (shared
    # _benchmark_hash_array / _shingles_py) as one Arrow predicate on
    # the frame itself: one pass, no join, no upstream duplication.
    from .ext.pipeline import decontaminate_keep_col

    return df.filter(decontaminate_keep_col(benchmark, text_col, n))


def _stage_decontaminate_semantic(
    spark,
    df,
    *,
    benchmark_emb,
    embeddings,
    threshold=0.95,
    id_col="doc_id",
    emb_id_col="vec_id",
    vec_col="embedding",
    dim=None,
):
    """Embedding-based decontamination (X64): flag corpus docs whose
    embedding sits within ``threshold`` cosine of any benchmark
    embedding, then anti-join the flagged ids out — catches the
    paraphrased/translated leakage the n-gram stage cannot.
    ``embeddings`` maps the pipeline's docs to vectors (join on
    id_col = emb_id_col); ``benchmark_emb`` is the eval set's
    embedding relation (small — broadcast by the operator)."""
    # join-back: the vectors live in a separate relation keyed by id,
    # not on the stage's rows
    from .ext.pipeline import decontaminate_semantic

    corpus_emb = embeddings.join(
        df.select(F.col(id_col).alias(emb_id_col)), emb_id_col, "left_semi"
    )
    flagged = decontaminate_semantic(
        corpus_emb,
        benchmark_emb,
        threshold=threshold,
        id_col=emb_id_col,
        vec_col=vec_col,
        dim=dim,
    ).select(F.col(emb_id_col).alias(id_col))
    return df.join(flagged, id_col, "left_anti")


def _stage_outlier_gate(
    spark, df, *, value_col="n_chars", group_cols=("lang",), c_num=3, c_den=1
):
    # Filter-in-place: mad_outliers' windows run over the stage's own
    # rows (one group-key exchange) and the flag filters them; a NULL
    # flag (NULL value) keeps the row. The operator's working columns
    # are dropped again, so an input column of the same name would be
    # lost: refuse it.
    from .operators.analytic import mad_outliers

    work = ["__v", "med", "abs_dev", "mad", "is_outlier"]
    if clash := set(work) & set(df.columns):
        raise ValueError(f"outlier_gate: input columns {sorted(clash)} clash")
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    flags = mad_outliers(
        df.withColumn("__v", F.col(value_col).cast("long")),
        "__v",
        gcols,
        c_num=c_num,
        c_den=c_den,
    )
    return flags.filter(~F.coalesce("is_outlier", F.lit(False))).drop(*work)


def _stage_pii_redact(spark, df, *, text_col="text"):
    from .ext.pipeline import redact

    return df.withColumn(text_col, redact(F.col(text_col)))


def _stage_hash_split(spark, df, *, id_col="doc_id", train=0.9, val=0.05):
    from .ext.pipeline import hash_split

    return hash_split(df, id_col, train, val)


def _stage_split_by_component(
    spark, df, *, components, id_col="doc_id", train=0.9, val=0.05
):
    # leakage-proof split: the hash_split assignment applied to the
    # near-dup CLUSTER representative, so duplicates never straddle a
    # split boundary (components from ext.graph.connected_components)
    from .ext.pipeline import split_by_component

    return split_by_component(df, components, id_col, train, val)


def _stage_mixture_sample(
    spark, df, *, source_col="source", id_col="doc_id", targets=None
):
    from .ext.pipeline import accept_at_source_rate, mixture_rates

    rates = mixture_rates(df, source_col, targets)
    return accept_at_source_rate(df, rates, source_col, id_col).drop("__mix_rate")


def _stage_token_budget_cap(
    spark, df, *, budget_per_group, group_cols,
    weight_col="n_tokens", id_col="doc_id",
):
    from .ext.pipeline import token_budget_cap

    return token_budget_cap(df, budget_per_group, group_cols, weight_col, id_col)


def _stage_weighted_sample(spark, df, *, k, weight_col, id_col="doc_id"):
    # the sampler returns the picked rows themselves; only its own
    # columns are dropped
    from .ext.pipeline import weighted_systematic_sample

    return weighted_systematic_sample(df, k, weight_col, id_col).drop(
        "cum_weight", "stride", "multiplicity"
    )


def _stage_sample_k_per_group(spark, df, *, group_cols, k, id_col="doc_id"):
    from .ext.pipeline import sample_k_per_group

    return sample_k_per_group(df, group_cols, k, id_col)


def _stage_substring_redact(
    spark, df, *, text_col="text", id_col="doc_id",
    window=20, min_docs=2, max_window_df=None,
):
    # the Lee-et-al exact-substring REMEDY as a pipeline stage: text is
    # REPLACED by the redacted token stream (rows whose every token was
    # duplicated survive with empty text — dropping is a quality_filter
    # decision, not a redaction one)
    from .ext.dedup import redact_duplicated_spans

    # join-back: redacted text is re-assembled per id from the doc's
    # surviving token windows, a relation keyed by id, not a column
    red = redact_duplicated_spans(
        df, text_col, id_col, window=window, min_docs=min_docs,
        max_window_df=max_window_df,
    ).select(id_col, "text_redacted")
    return (
        df.join(red, id_col, "left")
        .withColumn(text_col, F.coalesce("text_redacted", F.col(text_col)))
        .drop("text_redacted")
    )


def _stage_temperature_mixture(
    spark, df, *, source_col="source", id_col="doc_id", alpha=0.5
):
    from .ext.pipeline import accept_at_source_rate, temperature_rates

    rates = temperature_rates(df, source_col, alpha)
    return accept_at_source_rate(df, rates, source_col, id_col).drop("__mix_rate")


def _stage_dsir_sample(
    spark, df, *, target, k, text_col="text", id_col="doc_id", n_buckets=4096
):
    # the k picks are a weighted systematic sample over each row's own
    # affinity score (dsir_sample's column); a doc with no feature
    # scores 0 and is never picked
    from .ext.pipeline import target_affinity_col, weighted_systematic_sample

    score = target_affinity_col(target, text_col, n_buckets)["score"]
    return weighted_systematic_sample(
        df.withColumn("__dsir_score", score), k, "__dsir_score", id_col
    ).drop("__dsir_score", "cum_weight", "stride", "multiplicity")


def _stage_lm_quality_gate(
    spark, df, *, reference, max_ppl_proxy, text_col="text", id_col="doc_id",
    n_buckets=4096, keep_short=False,
):
    # CCNet-style quality gate: keep documents whose perplexity proxy
    # under the reference bigram model clears the threshold, filtering
    # on lm_quality_score's column of the row itself. Docs with < 2
    # tokens carry a NULL proxy — dropped by default (no evidence of
    # quality), kept when keep_short is set.
    from .ext.pipeline import lm_quality_col

    ppl = lm_quality_col(reference, text_col, n_buckets)["ppl_proxy"]
    return df.filter(F.coalesce(ppl <= max_ppl_proxy, F.lit(keep_short)))


def _stage_interleave(
    spark, df, *, weights, source_col="source", id_col="doc_id",
    pos_col="interleave_pos",
):
    # ORDER stage: appends the deterministic weighted-fair training
    # position; rows are untouched otherwise (terminal by convention —
    # downstream filters would leave position gaps, which consumers
    # ordering by pos_col tolerate)
    from .ext.pipeline import interleave_sources

    return interleave_sources(df, weights, source_col, id_col, pos_col)


def _stage_fingerprint(
    spark, df, *, content_col="text", id_col="doc_id", group_cols=None
):
    # ACCOUNTING stage: computes the order-insensitive corpus
    # fingerprint as a side artifact (PipelineResult.artifacts
    # ["fingerprint"]) and passes the frame through unchanged — the
    # reproducibility receipt a config-built pipeline ends with
    from .ext.pipeline import dataset_fingerprint

    return df, dataset_fingerprint(df, content_col, id_col, group_cols)


def _stage_bpe_annotate(
    spark,
    df,
    *,
    merges_path=None,
    merges=None,
    text_col="text",
    id_col="doc_id",
):
    """Annotate every document with tokenizer-faithful BPE counts from
    a TRAINED VOCABULARY ARTIFACT (VERDICT r12 next #2): ``merges_path``
    loads a ``merges.txt`` written by :func:`ext.text.
    bpe_train_scalable` (or any HF-format tokenizer export);
    ``merges`` passes the table in-memory. Downstream budget stages
    (``token_budget_cap`` with ``weight_col="n_tokens_bpe"``,
    ``mixture_sample``) then run on counts matching what the real
    tokenizer will emit, not the regex proxy."""
    from .ext.text import bpe_counts_col, load_merges_file

    if (merges_path is None) == (merges is None):
        raise ValueError(
            "bpe_annotate needs exactly one of merges_path / merges"
        )
    table = load_merges_file(merges_path) if merges_path else list(merges)
    return df.withColumn("__bpe", bpe_counts_col(text_col, table)).select(
        "*", "__bpe.*"
    ).drop("__bpe")


# Stages whose wrapper returns (frame, artifact) instead of a frame:
# the artifact lands in PipelineResult.artifacts[op], the frame flows on.
ARTIFACT_STAGES = {"fingerprint"}

STAGES = {
    "quality_filter": _stage_quality_filter,
    "exact_dedup": _stage_exact_dedup,
    "near_dedup": _stage_near_dedup,
    "decontaminate": _stage_decontaminate,
    "decontaminate_semantic": _stage_decontaminate_semantic,
    "outlier_gate": _stage_outlier_gate,
    "pii_redact": _stage_pii_redact,
    "hash_split": _stage_hash_split,
    "split_by_component": _stage_split_by_component,
    "mixture_sample": _stage_mixture_sample,
    "token_budget_cap": _stage_token_budget_cap,
    "weighted_sample": _stage_weighted_sample,
    "sample_k_per_group": _stage_sample_k_per_group,
    "substring_redact": _stage_substring_redact,
    "temperature_mixture": _stage_temperature_mixture,
    "dsir_sample": _stage_dsir_sample,
    "lm_quality_gate": _stage_lm_quality_gate,
    "interleave": _stage_interleave,
    "fingerprint": _stage_fingerprint,
    "bpe_annotate": _stage_bpe_annotate,
}


@dataclass
class PipelineResult:
    df: DataFrame
    counts: dict[str, int] = field(default_factory=dict)
    artifacts: dict[str, DataFrame] = field(default_factory=dict)


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    spec: list[dict],
    *,
    count_stages: bool = True,
) -> PipelineResult:
    """Apply ``spec``'s stages in order to build ONE composed plan;
    returns its frame and, when ``count_stages``, per-stage row
    accounting keyed ``<idx>_<op>`` plus ``ingested``.

    ``count_stages=True`` (the default) attaches a row-count
    ``Observation`` to the input and to every stage's output, pins the
    final frame (via the engine's pin registry —
    ``ext.cache.release_pins()`` frees it) and runs ONE ``count()`` on
    it: every stage executes once, inside that job, and reports its
    rows as it goes. Stage operators that run jobs of their own while
    the plan is built (near_dedup's signature pin, the range summary of
    weighted_sample, dsir_sample and interleave) fire the observers
    upstream of them first, with the same full counts: an observer
    reports the first action that runs it, so every one must run each
    upstream row once, which is why the global-rank operators cache
    their input for their summary job. An observer whose subtree the
    optimizer pruned (an emptied batch) reports nothing, and its frame
    is counted directly. ``count_stages=False`` builds the same plan
    with no observers and runs no action of its own: the caller's
    action (a write, say) executes it.

    ``docs`` must carry a non-null ``doc_id``: stages that filter in
    place read only their own columns, while the sampling and join
    stages key on ``doc_id``, so a NULL-id row is kept or dropped by
    rules no stage promises.

    Stage parameters are validated against the operator's signature
    BEFORE the call, so a config typo reports as a config error while
    a TypeError raised inside an operator still surfaces as the
    implementation error it is."""
    import inspect

    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Observation

    observers: dict[str, tuple[Observation, DataFrame]] = {}

    def observed(df: DataFrame, key: str) -> DataFrame:
        if not count_stages:
            return df
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        observers[key] = (obs, df)
        return df

    artifacts: dict[str, DataFrame] = {}
    out = observed(docs, "ingested")
    for i, stage in enumerate(spec):
        stage = dict(stage)
        try:
            op = stage.pop("op")
        except KeyError:
            raise ValueError(f"stage {i}: missing 'op' key: {stage}") from None
        try:
            fn = STAGES[op]
        except KeyError:
            raise ValueError(
                f"stage {i}: unknown op {op!r}; available: {sorted(STAGES)}"
            ) from None
        try:
            inspect.signature(fn).bind(spark, out, **stage)
        except TypeError as e:
            raise ValueError(
                f"stage {i} ({op}): bad parameters {stage}: {e}"
            ) from e
        if op in ARTIFACT_STAGES:
            out, artifacts[op] = fn(spark, out, **stage)
        else:
            out = fn(spark, out, **stage)
        out = observed(out, f"{i}_{op}")
    if count_stages:
        from .ext.cache import pin

        out = pin(out)
        out.count()
    counts = {}
    for key, (obs, df) in observers.items():
        try:
            counts[key] = obs.get["rows"]
        except Py4JJavaError:
            # a pruned subtree completes its observation with an empty
            # row, which Observation.get cannot convert
            counts[key] = df.count()
    return PipelineResult(df=out, counts=counts, artifacts=artifacts)
