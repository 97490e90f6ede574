"""End-to-end training-data pipeline demo — the engine's LLM-corpus
operators composed into the pipeline they exist for, with per-stage
row accounting:

    ingest → quality gate → exact dedup → MinHash-LSH near-dup →
    connected components → keep-one-per-cluster → decontaminate
    (drop eval collisions) → deterministic split + per-source cap →
    greedy sequence packing

plus the CDC consumer triad (r8): incremental SCD2 maintenance
(maintain_history over 3 micro-batches, one redelivered) read back
point-in-time from stored intervals vs derived history, and the same
triad through the Engine API (current_state / history / state_as_of /
state_at) over the engine's own capture sink.

Every stage is an operator that is ALSO individually hash-certified in
the driver gate (see queries_ext.py); this script shows they compose —
each stage consumes the previous stage's DataFrame, nothing
materializes until the final counts. Run:

    python scripts/demo_pipeline.py [sf_dir]

Prints one JSON line of stage counts, then PIPELINE DEMO OK.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from leftshove_spark.ext import dedup as D  # noqa: E402
from leftshove_spark.ext import graph as G  # noqa: E402
from leftshove_spark.ext import pipeline as P  # noqa: E402
from leftshove_spark.ext import text as X  # noqa: E402
from leftshove_spark.session import get_spark  # noqa: E402
from leftshove_spark.sources import load_table  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark(app_name="leftshove-pipeline-demo")
    spark.sparkContext.setLogLevel("ERROR")
    counts: dict[str, int] = {}

    docs = load_table(spark, SF, "documents")
    counts["ingested"] = docs.count()

    # 1. quality gate (narrow Arrow pass, zero shuffles)
    gated_ids = X.quality_filter(docs, min_tokens=20, min_uniq_ratio=0.5,
                                 min_quality=0.3).select("doc_id")
    docs = docs.join(gated_ids, "doc_id")
    counts["after_quality_gate"] = docs.count()

    # 2. near-dup mining: LSH pairs -> connected components -> keep one
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.6)
    comp = G.connected_components(pairs.select("id_a", "id_b"))
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    docs = docs.join(drop, "doc_id", "left_anti")
    counts["after_near_dedup"] = docs.count()

    # 3. decontamination: drop docs colliding with the eval slice
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    hits = P.decontaminate(corpus, bench).select("doc_id")
    docs = corpus.join(hits, "doc_id", "left_anti")
    counts["after_decontaminate"] = docs.count()

    # 3b. robust length-outlier gate (r9): drop docs whose length sits
    #     > 6 MAD from the per-lang median — the detection complement
    #     of the quantile clamp; 6x keeps the synthetic fixture's tight
    #     length distribution mostly intact while exercising the pass
    from leftshove_spark.operators.analytic import mad_outliers

    flags = mad_outliers(
        docs.select("doc_id", "lang", F.col("n_chars").cast("long").alias("v")),
        "v",
        ["lang"],
        c_num=6,
    )
    docs = docs.join(
        flags.filter(F.col("is_outlier")).select("doc_id"), "doc_id", "left_anti"
    )
    counts["after_outlier_gate"] = docs.count()

    # 4. deterministic split + per-source cap (pure id functions —
    #    stable under retries and incremental ingestion)
    docs = P.hash_split(docs)
    docs = P.sample_k_per_group(docs, ["split", "source"], k=8)
    counts["after_split_and_cap"] = docs.count()

    # 4b. token-mass-weighted subsample + weighted-fair interleave
    #     (r9): budget the train split by TOKEN coverage (PPS strides),
    #     then emit the deterministic source-interleaved training order
    samp = P.weighted_systematic_sample(
        docs.filter(F.col("split") == "train").select("doc_id", "source", "n_chars"),
        24,
        "n_chars",
    )
    counts["weighted_sample"] = samp.count()
    assert counts["weighted_sample"] > 0, "train split carried no token mass"
    order = P.interleave_sources(
        samp, {s: 1 for s in sorted(
            r["source"] for r in samp.select("source").distinct().collect()
        )}
    )
    counts["interleaved_order"] = order.count()

    # 5. greedy sequence packing within the training split (token
    #    counting feeds the packer its budget column)
    train = docs.filter(F.col("split") == "train")
    tc = X.token_counts(train).select(
        "doc_id", F.col("n_ws_tokens").alias("n_tokens")
    )
    packed = P.pack_sequences(tc, budget=512)
    counts["packed_sequences"] = packed.select("bucket", "seq_id").distinct().count()

    # 5b. r10 terminal stages through the CONFIG-DRIVEN runner:
    #     exact-substring redaction -> temperature (α=1/2) flattening
    #     -> DSIR importance resample toward the 'en' slice ->
    #     fingerprint accounting artifact — pipelines as reviewable
    #     data (pipeline_runner), each stage individually certified
    from leftshove_spark.pipeline_runner import run_pipeline

    base = load_table(spark, SF, "documents")
    target = base.filter(F.col("lang") == "en")
    res = run_pipeline(
        spark,
        base,
        [
            {"op": "substring_redact", "window": 20},
            # r11: LM-quality gate — keep docs at or below the corpus
            # median perplexity-proxy under the 'en' reference bigram
            # model (threshold chosen from the scored distribution; in
            # production this is a fixed curated number)
            {"op": "lm_quality_gate", "reference": target,
             "max_ppl_proxy": float(
                 P.lm_quality_score(base, target)
                 .agg(F.expr("percentile(ppl_proxy, 0.5)"))
                 .first()[0]
             ), "keep_short": True},
            {"op": "temperature_mixture", "source_col": "lang"},
            {"op": "dsir_sample", "target": target, "k": 50},
            {"op": "fingerprint", "group_cols": ["lang"]},
        ],
    )
    counts["config_pipeline_lm_gated"] = res.counts["1_lm_quality_gate"]
    counts["config_pipeline_selected"] = res.counts["3_dsir_sample"]
    counts["fingerprint_groups"] = res.artifacts["fingerprint"].count()
    assert counts["config_pipeline_selected"] > 0
    assert counts["fingerprint_groups"] > 0

    # 6. CDC consumer triad (W18 + J5/J6): fold three micro-batches of
    #    orders — one redelivered, at-least-once style — through
    #    incremental SCD2 maintenance, then answer the same
    #    point-in-time question from (a) the maintained state's stored
    #    intervals and (b) the one-shot derived history. Equal by
    #    construction; shown equal here.
    import tempfile

    from leftshove_spark.streaming import history_state_table, maintain_history
    from leftshove_spark.views import as_of, history_view

    orders = load_table(spark, SF, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    with tempfile.TemporaryDirectory(prefix="ls_demo_hist_") as state_dir:
        chunks = [orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)]
        for batch in [chunks[0], chunks[1], chunks[1], chunks[2]]:  # 1 redelivered
            maintain_history(
                spark, state_dir, batch, "o_custkey", "o_orderdate",
                tiebreak_cols=["o_orderkey"],
            )
        maintained = history_state_table(spark, state_dir)
        counts["scd2_versions"] = maintained.count()

        lohi = orders.agg(
            F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
        ).collect()[0]
        t_mid = lohi["lo"] + (lohi["hi"] - lohi["lo"]) / 2
        incr = as_of(maintained, t_mid).select(
            "o_custkey", "o_orderkey", "o_orderdate"
        )
        derived = as_of(
            history_view(orders, "o_custkey", order_col="o_orderdate",
                         tiebreak_cols=["o_orderkey"]),
            t_mid,
        ).select("o_custkey", "o_orderkey", "o_orderdate")
        counts["state_as_of_mid"] = incr.count()
        assert incr.exceptAll(derived).count() == 0
        assert derived.exceptAll(incr).count() == 0

    # 7. the same triad through the Engine API over its OWN capture
    #    sink: current_state / history / state_as_of / state_at (the
    #    pushdown fast path) — what a reference user runs day-to-day.
    import shutil
    from datetime import datetime

    from leftshove_spark.engine import Engine
    from leftshove_spark.session import EngineConfig

    work = tempfile.mkdtemp(prefix="ls_demo_eng_")
    try:
        eng = Engine(
            spark,
            # r11: maintain the MATERIALIZED current-state table (W25)
            # beside the append-only sink — asserted ≡ the view below,
            # after the whole lifecycle (cycle, vacuum, backfill)
            EngineConfig(replication_buffer_secs=0,
                         materialize_current_state=True),
            state_path=f"{work}/state.json",
            sink_root=f"{work}/sink",
        )
        eng.seed([{"name": "events", "path": f"{SF}/events.parquet",
                   "nms_column": "ts", "pkey_column": "event_id"}])
        eng.create_sinks()
        eng.run_cycle(now=datetime(2030, 1, 1), snapshot_at=datetime(2030, 1, 1))
        t = datetime(2030, 6, 1)
        counts["engine_current_state"] = eng.current_state("events").count()
        counts["engine_state_at"] = eng.state_at("events", t).count()
        assert counts["engine_state_at"] == eng.state_as_of("events", t).count()
        assert counts["engine_state_at"] == counts["engine_current_state"]
        assert eng.history("events").filter(F.col("is_current")).count() == (
            counts["engine_current_state"]
        )
        # lifecycle ops (r8): change feed + retention vacuum — state at
        # the horizon is byte-identical after the purge
        ch = eng.changes_between("events", datetime(1970, 1, 1), t)
        counts["engine_changes_feed"] = ch.count()
        assert {r["change_type"] for r in ch.select("change_type").distinct().collect()} == {"added"}
        counts["vacuum_retained"] = eng.vacuum_snapshots("events", t)
        assert eng.state_at("events", t).count() == counts["engine_state_at"]

        # 7b. the r9 lifecycle pair: idempotent BACKFILL (late rows
        #     fold in exactly once) and the APPLYABLE change feed (a
        #     replica follows the sink at O(changes) per sync —
        #     invariant: seed from state_at(t1), apply the t1→t2 feed,
        #     equal state_at(t2)).
        from leftshove_spark.views import apply_changes

        t0 = datetime(1970, 1, 1)
        replica = f"{work}/replica"
        eng.state_at("events", t0).drop("snapshot_tm").write.parquet(replica)
        feed = eng.changes_between("events", t0, t, include_payload=True)
        apply_changes(spark, replica, feed, "event_id")
        want = eng.state_at("events", t).drop("snapshot_tm")
        got = spark.read.parquet(replica)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        counts["replica_synced"] = got.count()
        # first pass fills whatever the single capture cycle's window
        # left behind (0 when the cycle drained the backlog); the
        # RE-RUN is the idempotence proof — always 0
        counts["backfill_filled"] = eng.backfill(
            "events", datetime(2020, 1, 1), t
        )
        counts["backfill_rerun_appends"] = eng.backfill(
            "events", datetime(2020, 1, 1), t
        )
        assert counts["backfill_rerun_appends"] == 0
        # W25 (r11): after the full lifecycle — capture, vacuum,
        # backfill — the materialized table still answers exactly what
        # the view answers, at O(live keys) read cost
        mat = eng.current_state_table("events")
        counts["materialized_current_state"] = mat.count()
        assert counts["materialized_current_state"] == eng.current_state(
            "events"
        ).count()
        assert (
            mat.select("event_id")
            .exceptAll(eng.current_state("events").select("event_id"))
            .count()
            == 0
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # 8. the fully-incremental curation loop (r9): a standing corpus
    #    with a persisted LSH index and standing cluster labels receives
    #    one ingest batch of near-duplicate twins. Pairs are mined
    #    incrementally (cost ∝ batch collisions), clusters folded
    #    incrementally (edge volume O(nodes + batch)), resolution
    #    applied — and the result is asserted IDENTICAL to running the
    #    whole from-scratch pipeline over corpus ∪ batch. Each piece is
    #    pytest/oracle-proven; this is the composed cycle.
    base = load_table(spark, SF, "documents").select("doc_id", "text")
    toks = X.tokenize("text")
    batch = base.filter(F.size(toks) > 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 6, F.size(toks) - 5)).alias("text"),
    )
    with tempfile.TemporaryDirectory(prefix="ls_demo_idx_") as idx_dir:
        # production mode: the index lives in a sink, not a cache
        D.build_minhash_index(base).write.mode("overwrite").parquet(idx_dir)
        idx = spark.read.parquet(idx_dir)
        standing = G.connected_components(
            D.minhash_lsh_pairs(base, jaccard_threshold=0.6).select("id_a", "id_b")
        )
        inc_pairs = D.minhash_lsh_pairs_incremental(
            batch, idx, jaccard_threshold=0.6
        )
        labels = G.connected_components_incremental(
            standing, inc_pairs.select("id_a", "id_b")
        )
        union_corpus = base.unionByName(batch)
        kept_inc = G.resolve_keep_one_per_component(union_corpus, labels)
        counts["incremental_loop_kept"] = kept_inc.count()
        scratch_labels = G.connected_components(
            D.minhash_lsh_pairs(union_corpus, jaccard_threshold=0.6).select(
                "id_a", "id_b"
            )
        )
        kept_scratch = G.resolve_keep_one_per_component(
            union_corpus, scratch_labels
        )
        ids_inc = {r["doc_id"] for r in kept_inc.select("doc_id").collect()}
        ids_scr = {r["doc_id"] for r in kept_scratch.select("doc_id").collect()}
        assert ids_inc == ids_scr, "incremental loop diverged from from-scratch"
        assert counts["incremental_loop_kept"] < union_corpus.count()

    print(json.dumps(counts))
    assert counts["ingested"] > counts["after_quality_gate"] >= counts[
        "after_near_dedup"
    ] > counts["after_decontaminate"] >= counts["after_split_and_cap"] > 0
    assert counts["packed_sequences"] > 0
    assert counts["after_outlier_gate"] <= counts["after_decontaminate"]
    assert 0 < counts["weighted_sample"] <= 24  # k strides, ≤ k distinct rows
    assert counts["interleaved_order"] == counts["weighted_sample"]
    assert counts["scd2_versions"] > 0 and counts["state_as_of_mid"] > 0
    print("PIPELINE DEMO OK")
    spark.stop()


if __name__ == "__main__":
    main()
