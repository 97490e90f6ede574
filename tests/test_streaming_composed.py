"""The COMPOSED streaming corpus story (VERDICT r12 next #6):
admit (W20) → decontaminate (W27) → index (W24) → materialize state
(W26) as one chained, checkpointed pipeline
(streaming.run_corpus_stream_pipeline). The four streams were each
individually pinned; these tests pin the COMPOSITION:

- a near-dup of an admitted doc never reaches any downstream stage;
- a contaminated doc is quarantined WITH its matched benchmark id and
  never reaches the index or the state;
- the ANN index rows equal a batch re-encode of the clean corpus
  (ivfadc_encode is pure — stream-appended ≡ batch);
- the materialized state equals latest_per_key_window over everything
  that landed clean (the W25 associativity, through the whole chain);
- re-running the pipeline after a second wave processes ONLY the new
  files through all four stages (the checkpoint-chained increment).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import SF0001

from leftshove_spark.sources import load_table
from leftshove_spark.streaming import (
    current_state_table,
    run_corpus_stream_pipeline,
)


def _fixture(spark):
    docs = load_table(spark, SF0001, "documents").select("doc_id", "text")
    emb = load_table(spark, SF0001, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(emb, "doc_id")


def test_composed_stream_equals_batch_composition(spark, tmp_path):
    from leftshove_spark.ext.pipeline import decontaminate_semantic
    from leftshove_spark.ext.similarity import ivfadc_encode, ivfadc_train
    from leftshove_spark.views import latest_per_key_window

    base = _fixture(spark)
    # frozen benchmark: perturbed copies of docs 480-484 (never landed)
    bench = base.filter(
        (F.col("doc_id") >= 480) & (F.col("doc_id") < 485)
    ).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < 4, F.lit(0.0).cast("float")).otherwise(x),
        ).alias("embedding"),
    )
    bench_dir = str(tmp_path / "bench")
    bench.write.parquet(bench_dir)
    # frozen index pair, trained once on the wider corpus
    cents, books = ivfadc_train(
        base, n_centroids=4, id_col="doc_id", vec_col="embedding"
    )

    landing = str(tmp_path / "landing")
    work = str(tmp_path / "work")
    os.makedirs(landing)

    w1_base = base.filter(F.col("doc_id") < 40).withColumn(
        "version", F.lit(1).cast("long")
    )
    # plants: 9000 near-dups doc 0 (same text + tail — must be rejected
    # in-batch, min id kept); 9001 carries doc 480's EXACT embedding
    # (cosine 1.0 to benchmark 100480 — must quarantine)
    d0 = w1_base.filter(F.col("doc_id") == 0).select("text", "embedding").first()
    e480 = base.filter(F.col("doc_id") == 480).select("embedding").first()
    plants = spark.createDataFrame(
        [
            (9000, d0["text"] + " tail", d0["embedding"], 1),
            (9001, "a wholly unique paraphrase nothing ngram shares", e480["embedding"], 1),
        ],
        "doc_id long, text string, embedding array<float>, version long",
    )
    w1 = w1_base.unionByName(plants)
    w1.coalesce(1).write.mode("append").parquet(landing)

    dirs = run_corpus_stream_pipeline(
        spark,
        landing_dir=landing,
        work_dir=work,
        benchmark_emb_dir=bench_dir,
        cents=cents,
        books=books,
        threshold=0.95,
    )

    admitted = {r["doc_id"] for r in spark.read.parquet(dirs["admitted"]).collect()}
    # batch parity 0: wave-1 admission ≡ the batch keep-one-per-
    # component over the same landed rows (the fixture corpus has its
    # own genuine near-dup pairs — the expectation is DERIVED, not
    # hand-listed)
    from leftshove_spark.ext.dedup import minhash_lsh_pairs
    from leftshove_spark.ext.graph import (
        connected_components,
        resolve_keep_one_per_component,
    )

    pairs = minhash_lsh_pairs(w1.select("doc_id", "text"), "text", "doc_id", 0.6)
    comp = connected_components(pairs.select("id_a", "id_b"))
    want_admit = {
        r["doc_id"]
        for r in resolve_keep_one_per_component(w1, comp, "doc_id")
        .select("doc_id")
        .collect()
    }
    assert admitted == want_admit
    assert 9000 not in admitted and 0 in admitted and 9001 in admitted
    quar = {
        r["doc_id"]: r["matched_benchmark_id"]
        for r in spark.read.parquet(dirs["quarantine"]).collect()
    }
    assert quar == {9001: 100480}  # the audit trail names the leak
    clean_df = spark.read.parquet(dirs["clean"])
    clean = {r["doc_id"] for r in clean_df.collect()}
    assert clean == want_admit - {9001}

    # batch parity 1: quarantine ≡ the batch operator over the admitted
    adm_df = spark.read.parquet(dirs["admitted"])
    want_flagged = {
        (r["doc_id"], r["matched_benchmark_id"])
        for r in decontaminate_semantic(
            adm_df.select("doc_id", "embedding"),
            spark.read.parquet(bench_dir),
            threshold=0.95,
            id_col="doc_id",
        ).collect()
    }
    assert want_flagged == {(9001, 100480)}

    # batch parity 2: the streamed ANN index ≡ one batch encode of the
    # clean corpus (pure function of (vector, cents, books))
    got_idx = sorted(
        map(tuple, spark.read.parquet(dirs["ivfadc_index"]).collect())
    )
    want_cols = spark.read.parquet(dirs["ivfadc_index"]).columns
    want_idx = sorted(
        map(
            tuple,
            ivfadc_encode(clean_df, cents, books, "doc_id", "embedding")
            .select(*want_cols)
            .collect(),
        )
    )
    assert got_idx == want_idx and len(got_idx) == len(clean)

    # batch parity 3: the materialized state ≡ latest-per-key over
    # everything that landed clean
    got_state = sorted(
        map(tuple, current_state_table(spark, dirs["state"]).collect())
    )
    want_state = sorted(
        map(
            tuple,
            latest_per_key_window(
                clean_df, "doc_id", order_col="version"
            ).collect(),
        )
    )
    assert got_state == want_state

    # ---- wave 2: a real edit (version 2, changed text), a novel doc,
    # a near-dup of an ADMITTED doc, a second contaminated doc
    d5 = base.filter(F.col("doc_id") == 5).select("text", "embedding").first()
    e481 = base.filter(F.col("doc_id") == 481).select("embedding").first()
    novel = base.filter(F.col("doc_id") == 200).select("embedding").first()
    w2 = spark.createDataFrame(
        [
            # doc 7 edited: materially different text, same id, version 2
            (7, "completely rewritten body after the second draft edit", d5["embedding"], 2),
            (200, "a genuinely novel document matching nothing else at all", novel["embedding"], 1),
            (9002, d5["text"] + " suffix", d5["embedding"], 1),  # dup of 5
            (9003, "another unique paraphrase with no shared ngram", e481["embedding"], 1),
        ],
        "doc_id long, text string, embedding array<float>, version long",
    )
    w2.coalesce(1).write.mode("append").parquet(landing)

    dirs = run_corpus_stream_pipeline(
        spark,
        landing_dir=landing,
        work_dir=work,
        benchmark_emb_dir=bench_dir,
        cents=cents,
        books=books,
        threshold=0.95,
    )
    admitted2 = {r["doc_id"] for r in spark.read.parquet(dirs["admitted"]).collect()}
    # the edit (unique text), the novel doc, and the contaminated plant
    # (admission screens TEXT — the leak is stage 2's to catch) are
    # admitted; the near-dup of ADMITTED doc 5 is rejected against the
    # standing index
    assert admitted2 == want_admit | {7, 200, 9003}
    assert 9002 not in admitted2
    quar2 = {
        r["doc_id"]: r["matched_benchmark_id"]
        for r in spark.read.parquet(dirs["quarantine"]).collect()
    }
    assert quar2 == {9001: 100480, 9003: 100481}
    clean_df = spark.read.parquet(dirs["clean"])

    # the edit flowed through to the state: doc 7 shows version 2
    state = current_state_table(spark, dirs["state"])
    got_state = sorted(map(tuple, state.collect()))
    want_state = sorted(
        map(
            tuple,
            latest_per_key_window(
                clean_df, "doc_id", order_col="version"
            ).collect(),
        )
    )
    assert got_state == want_state
    v7 = state.filter(F.col("doc_id") == 7).collect()
    assert len(v7) == 1 and v7[0]["version"] == 2
    want_live = (want_admit - {9001}) | {7, 200}
    assert {r["doc_id"] for r in state.collect()} == want_live

    # the index grew by exactly the new clean rows, still ≡ batch encode
    got_idx2 = sorted(
        map(tuple, spark.read.parquet(dirs["ivfadc_index"]).collect())
    )
    want_idx2 = sorted(
        map(
            tuple,
            ivfadc_encode(clean_df, cents, books, "doc_id", "embedding")
            .select(*want_cols)
            .collect(),
        )
    )
    assert got_idx2 == want_idx2 and len(got_idx2) == len(want_live) + (
        1 if 7 in want_admit else 0
    )  # doc 7 appears once per clean landing (index is append-only)


def test_composed_pipeline_raises_on_stage_timeout(tmp_path, monkeypatch):
    """r13: awaitTermination(timeout) returns False on TIMEOUT — the
    stage is still writing. Silently starting the next stage would
    snapshot a partial upstream directory and drop the stragglers with
    no error anywhere; the pipeline must raise instead."""
    import pytest

    from leftshove_spark import streaming

    class StuckQuery:
        stopped = False

        def awaitTermination(self, timeout=None):
            return False  # timed out, still running

        def stop(self):
            StuckQuery.stopped = True

    monkeypatch.setattr(
        streaming, "start_near_dedup_stream", lambda *a, **kw: StuckQuery()
    )
    with pytest.raises(TimeoutError, match="admit"):
        streaming.run_corpus_stream_pipeline(
            None,
            landing_dir=str(tmp_path / "landing"),
            work_dir=str(tmp_path / "work"),
            benchmark_emb_dir=str(tmp_path / "bench"),
            cents=[[0]],
            books=[[[0]]],
            timeout_sec=1,
        )
    assert StuckQuery.stopped  # the stuck stage was stopped, not leaked


def test_live_composed_pipeline_matches_chained_end_state(spark, tmp_path):
    """r14 (VERDICT r13 next #2): the CONTINUOUS deployment — all four
    stages live at once on ``processingTime`` triggers, waves landing
    while they run — reaches exactly the end state the availableNow
    chain reaches over the same waves (admitted ids, quarantine audit
    trail, clean ids, state rows). Then the interchangeability claim:
    a wave landed AFTER the live pipeline stopped is drained by ONE
    availableNow re-run over the SAME work dir/checkpoints, and the
    end states still agree — checkpoint/manifest interleaving under
    concurrency holds up, not just the serialized chain."""
    import time

    from leftshove_spark.ext.similarity import ivfadc_train
    from leftshove_spark.streaming import (
        run_corpus_stream_pipeline,
        start_corpus_stream_pipeline_live,
        stop_corpus_stream_pipeline,
    )

    base = _fixture(spark)
    bench = base.filter(
        (F.col("doc_id") >= 480) & (F.col("doc_id") < 485)
    ).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < 4, F.lit(0.0).cast("float")).otherwise(x),
        ).alias("embedding"),
    )
    bench_dir = str(tmp_path / "bench")
    bench.write.parquet(bench_dir)
    cents, books = ivfadc_train(
        base, n_centroids=4, id_col="doc_id", vec_col="embedding"
    )

    w1_base = base.filter(F.col("doc_id") < 30).withColumn(
        "version", F.lit(1).cast("long")
    )
    d0 = w1_base.filter(F.col("doc_id") == 0).select("text", "embedding").first()
    d5 = base.filter(F.col("doc_id") == 5).select("text", "embedding").first()
    e480 = base.filter(F.col("doc_id") == 480).select("embedding").first()
    novel = base.filter(F.col("doc_id") == 200).select("embedding").first()
    plants1 = spark.createDataFrame(
        [
            (9000, d0["text"] + " tail", d0["embedding"], 1),  # in-wave dup
            (9001, "a wholly unique paraphrase nothing ngram shares", e480["embedding"], 1),
        ],
        "doc_id long, text string, embedding array<float>, version long",
    )
    w1 = w1_base.unionByName(plants1)
    w2 = spark.createDataFrame(
        [
            (7, "completely rewritten body after the second draft edit", d5["embedding"], 2),
            (200, "a genuinely novel document matching nothing else at all", novel["embedding"], 1),
            (9002, d5["text"] + " suffix", d5["embedding"], 1),  # dup of admitted 5
        ],
        "doc_id long, text string, embedding array<float>, version long",
    )
    w3 = spark.createDataFrame(
        [(300, "a third wave document entirely unlike the others", novel["embedding"], 1)],
        "doc_id long, text string, embedding array<float>, version long",
    )
    waves = [w1, w2, w3]

    def snapshot(dirs):
        admitted = {
            r["doc_id"] for r in spark.read.parquet(dirs["admitted"]).collect()
        }
        quar = {
            r["doc_id"]: r["matched_benchmark_id"]
            for r in spark.read.parquet(dirs["quarantine"]).collect()
        }
        clean = {r["doc_id"] for r in spark.read.parquet(dirs["clean"]).collect()}
        state = sorted(
            (r["doc_id"], r["version"], r["text"])
            for r in current_state_table(spark, dirs["state"]).collect()
        )
        return admitted, quar, clean, state

    # --- reference: the availableNow chain, one run per wave
    landing_c = str(tmp_path / "landing_chain")
    os.makedirs(landing_c)
    per_wave = []
    for w in waves:
        w.coalesce(1).write.mode("append").parquet(landing_c)
        dirs_c = run_corpus_stream_pipeline(
            spark,
            landing_dir=landing_c,
            work_dir=str(tmp_path / "work_chain"),
            benchmark_emb_dir=bench_dir,
            cents=cents,
            books=books,
            threshold=0.95,
        )
        per_wave.append(snapshot(dirs_c))

    # --- live: all four streams running, waves landing while they run
    landing_l = str(tmp_path / "landing_live")
    os.makedirs(landing_l)
    waves[0].coalesce(1).write.mode("append").parquet(landing_l)
    dirs_l, queries = start_corpus_stream_pipeline_live(
        spark,
        landing_dir=landing_l,
        work_dir=str(tmp_path / "work_live"),
        benchmark_emb_dir=bench_dir,
        cents=cents,
        books=books,
        threshold=0.95,
        processing_time="1 second",
    )
    assert all(q.isActive for q in queries)

    def wait_for(want, timeout=240):
        deadline = time.time() + timeout
        last = None
        while time.time() < deadline:
            for q in queries:
                assert q.exception() is None, str(q.exception())
            try:
                last = snapshot(dirs_l)
                if last == want:
                    return
            except Exception:
                pass  # a dir not written yet / state not committed yet
            time.sleep(2)
        raise AssertionError(f"live pipeline never reached {want}; last {last}")

    wait_for(per_wave[0])
    waves[1].coalesce(1).write.mode("append").parquet(landing_l)
    wait_for(per_wave[1])
    waves[2].coalesce(1).write.mode("append").parquet(landing_l)
    wait_for(per_wave[2])
    stop_corpus_stream_pipeline(queries)
    assert not any(q.isActive for q in queries)
    assert snapshot(dirs_l) == per_wave[2]  # clean stop, nothing torn

    # --- interchangeability: a wave landed after the stop is drained
    # by ONE availableNow pass over the SAME checkpoints
    w4 = spark.createDataFrame(
        [(301, "a final wave document unlike anything processed before", novel["embedding"], 1)],
        "doc_id long, text string, embedding array<float>, version long",
    )
    w4.coalesce(1).write.mode("append").parquet(landing_c)
    dirs_c = run_corpus_stream_pipeline(
        spark,
        landing_dir=landing_c,
        work_dir=str(tmp_path / "work_chain"),
        benchmark_emb_dir=bench_dir,
        cents=cents,
        books=books,
        threshold=0.95,
    )
    want_final = snapshot(dirs_c)
    w4.coalesce(1).write.mode("append").parquet(landing_l)
    dirs_l2 = run_corpus_stream_pipeline(
        spark,
        landing_dir=landing_l,
        work_dir=str(tmp_path / "work_live"),
        benchmark_emb_dir=bench_dir,
        cents=cents,
        books=books,
        threshold=0.95,
    )
    assert snapshot(dirs_l2) == want_final


def test_live_pipeline_starts_on_empty_landing_with_schema(spark, tmp_path):
    """r14 review: the documented empty-landing start — pass `schema`,
    all four stages (admission included: its source needs the explicit
    schema too, there are no files to infer from) start on empty dirs,
    and the first wave landing AFTER the start flows through to the
    materialized state. The derived-schema path is also pinned: for a
    populated landing dir the downstream schema must be the BATCH-
    VISIBLE one (read_parquet_normalized), not the raw footer schema."""
    import time

    from pyspark.sql import types as T

    from leftshove_spark.ext.similarity import ivfadc_train
    from leftshove_spark.sources import read_parquet_normalized
    from leftshove_spark.streaming import (
        start_corpus_stream_pipeline_live,
        stop_corpus_stream_pipeline,
    )

    base = _fixture(spark).withColumn("version", F.lit(1).cast("long"))
    bench_dir = str(tmp_path / "bench")
    base.limit(0).select("doc_id", "embedding").write.parquet(bench_dir)
    cents, books = ivfadc_train(
        base, n_centroids=2, id_col="doc_id", vec_col="embedding"
    )
    wave = base.filter(F.col("doc_id") < 10)

    landing = str(tmp_path / "landing")  # does NOT exist yet
    dirs, queries = start_corpus_stream_pipeline_live(
        spark,
        landing_dir=landing,
        work_dir=str(tmp_path / "work"),
        benchmark_emb_dir=bench_dir,
        cents=cents,
        books=books,
        processing_time="1 second",
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("version", T.LongType()),
            ]
        ),
    )
    try:
        assert all(q.isActive for q in queries)
        wave.coalesce(1).write.mode("append").parquet(landing)
        deadline = time.time() + 240
        want = {r["doc_id"] for r in wave.collect()}
        got = set()
        while time.time() < deadline and got != want:
            for q in queries:
                assert q.exception() is None, str(q.exception())
            try:
                got = {
                    r["doc_id"]
                    for r in current_state_table(
                        spark, dirs["state"]
                    ).collect()
                }
            except Exception:
                pass
            time.sleep(2)
        assert got == want
    finally:
        stop_corpus_stream_pipeline(queries)

    # the populated-landing schema derivation is the BATCH-VISIBLE one:
    # on a landing dir with physical nano-timestamp columns (events),
    # the raw footer schema claims LongType (nanosAsLong) while the
    # normalized read — what stage 1's frames carry and the
    # intermediate parquet is written with — surfaces TimestampType;
    # deriving downstream schemas from the raw form would mis-describe
    # the normalized files (the r14 review finding)
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T2

    nano_dir = str(tmp_path / "nano_landing")
    import os as _os

    _os.makedirs(nano_dir)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([1_700_000_000_000_000_001, 2], pa.timestamp("ns")),
            }
        ),
        _os.path.join(nano_dir, "part-0.parquet"),
        store_schema=False,  # bare TIMESTAMP(NANOS), no arrow metadata
    )
    raw = dict(spark.read.parquet(nano_dir).dtypes)
    norm = {
        f.name: f.dataType
        for f in read_parquet_normalized(spark, nano_dir).schema
    }
    assert raw["ts"] == "bigint"  # the raw footer schema: nanosAsLong
    assert isinstance(norm["ts"], T2.TimestampType)  # batch-visible form
    # and the flat landing used above derives identically either way
    assert [f.name for f in read_parquet_normalized(spark, landing).schema] \
        == ["doc_id", "text", "embedding", "version"]


def test_maintenance_under_live_load(spark, tmp_path):
    """VERDICT r15 next #1 — the deployment composition: a maintenance
    loop (statestore.maintain_store: compaction + orphan vacuum) runs
    WHILE the live composed pipeline folds concurrent waves into the
    same state store. Pins:

    - ≥2 maintenance passes execute during live folding;
    - at least one fence loss is PROVOKED (a wave folds between the
      compaction's manifest pin and its commit — the ADVICE r15
      lost-update window) and absorbed: maintain_store re-plans and
      lands the compaction on the retry, no error, no lost fold;
    - the final state ≡ the batch composition (latest_per_key_window
      over everything that reached clean/ — the W25 invariant through
      live folding + concurrent maintenance);
    - compacted partitions hold exactly the planned file counts — the
      fragmentation they compact is the folds' own, with AQE partition
      coalescing off as on a cluster's wide shuffle;
    - a sync_state replica of the maintained store converges to the
      same values."""
    import time

    from leftshove_spark import statestore
    from leftshove_spark.ext.similarity import ivfadc_train
    from leftshove_spark.streaming import (
        start_corpus_stream_pipeline_live,
        stop_corpus_stream_pipeline,
    )
    from leftshove_spark.views import latest_per_key_window

    base = _fixture(spark)
    bench = base.filter(
        (F.col("doc_id") >= 480) & (F.col("doc_id") < 485)
    ).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < 4, F.lit(0.0).cast("float")).otherwise(x),
        ).alias("embedding"),
    )
    bench_dir = str(tmp_path / "bench")
    bench.write.parquet(bench_dir)
    cents, books = ivfadc_train(
        base, n_centroids=4, id_col="doc_id", vec_col="embedding"
    )
    novel = base.filter(F.col("doc_id") == 200).select("embedding").first()[
        "embedding"
    ]

    def wave(lo, hi, version):
        return base.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).withColumn("version", F.lit(version).cast("long"))

    def synth(rows):
        return spark.createDataFrame(
            [(i, t, novel, v) for i, t, v in rows],
            "doc_id long, text string, embedding array<float>, version long",
        )

    # sentinel/update texts are pairwise-unrelated prose so admission
    # control provably admits them (a near-dup would silently stall the
    # wave the hook waits on). Wave 1 lands in TWO parts so the fold
    # cadence is exercised before maintenance starts.
    w1a = wave(0, 15, 1)
    w1b = wave(15, 30, 1).unionByName(
        synth([(9100, "sentinel wave one part two describes volcanic basalt columns and tidal pools", 1)])
    )
    w2 = wave(30, 45, 1).unionByName(
        synth([(9101, "sentinel wave two mentions radio telescopes and distant quasar surveys", 1)])
    )
    w3 = wave(45, 60, 1).unionByName(
        synth(
            [
                (9102, "sentinel wave three covers fermentation chemistry and sourdough cultures", 1),
                (0, "the first rewrite speaks entirely of maritime navigation and harbor lights", 2),
                (1, "a second revision concerns alpine meadows snowfall and glacier retreat", 2),
            ]
        )
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    w1a.coalesce(1).write.mode("append").parquet(landing)
    # fragment the store the way a cluster does: locally AQE coalesces
    # a fold's write to ONE file per bucket, so without this the store
    # never fragments and the compaction plan is empty. With coalescing
    # off, each fold lands one file per (shuffle task × touched bucket).
    # Set before the streams start (each clones the session's conf) and
    # restored in the finally below: the session is shared.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    coalesce_prev = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    queries = []

    def clean_rows():
        try:
            return {
                (r["doc_id"], r["version"])
                for r in spark.read.parquet(dirs["clean"]).collect()
            }
        except Exception:
            return None  # clean/ not written yet

    def state_rows():
        try:
            return {
                (r["doc_id"], r["version"])
                for r in current_state_table(spark, state_dir).collect()
            }
        except Exception:
            return None

    def latest(rows):
        by = {}
        for d, v in rows:
            by[d] = max(by.get(d, v), v)
        return {(d, v) for d, v in by.items()}

    def wait_caught_up(must_contain, timeout=240):
        """Until state == latest-per-key of clean/ AND the sentinels
        arrived — i.e. the fold drained the wave."""
        deadline = time.time() + timeout
        last = None
        while time.time() < deadline:
            for q in queries:
                assert q.exception() is None, str(q.exception())
            c, s = clean_rows(), state_rows()
            last = (c, s)
            if (
                c
                and s is not None
                and must_contain <= c
                and s == latest(c)
            ):
                return c
            time.sleep(2)
        raise AssertionError(f"fold never caught up; last {last}")

    try:
        dirs, queries = start_corpus_stream_pipeline_live(
            spark,
            landing_dir=landing,
            work_dir=str(tmp_path / "work"),
            benchmark_emb_dir=bench_dir,
            cents=cents,
            books=books,
            threshold=0.95,
            n_buckets=4,
            processing_time="1 second",
        )
        state_dir = dirs["state"]
        wait_caught_up(set())  # wave 1 part one drained (first fold)
        w1b.coalesce(1).write.mode("append").parquet(landing)
        wait_caught_up({(9100, 1)})  # second fold landed

        # --- maintenance pass 1: PROVOKE the fence loss. The hook runs
        # between the compaction's manifest pin and its commit; it
        # lands wave 2 and waits for the live fold to commit, so the
        # compaction's CAS must lose — maintain_store absorbs it and
        # retries.
        def provoke_fold():
            g0 = statestore.list_generations(state_dir)[-1]
            w2.coalesce(1).write.mode("append").parquet(landing)
            deadline = time.time() + 180
            while time.time() < deadline:
                gs = statestore.list_generations(state_dir)
                if gs and gs[-1] > g0:
                    return
                time.sleep(1)
            raise AssertionError("live fold never committed during the hook")

        res1 = statestore.maintain_store(
            spark,
            state_dir,
            target_file_bytes=1 << 30,
            min_files=2,
            retries=3,
            backoff_sec=0.5,
            _pre_commit_hook=provoke_fold,
        )
        assert res1["lost_races"] >= 1  # the provoked loss happened
        assert res1["compacted"]  # ...and the retry landed the compaction
        assert any(
            statestore.load_manifest(state_dir, g).get("maintenance")
            for g in statestore.list_generations(state_dir)
        )
        wait_caught_up({(9101, 1)})  # wave 2 fully drained

        # --- wave 3 folds around a second (unprovoked) maintenance pass
        w3.coalesce(1).write.mode("append").parquet(landing)
        statestore.maintain_store(
            spark, state_dir, target_file_bytes=1 << 30, min_files=2, retries=3
        )
        wait_caught_up({(9102, 1), (0, 2), (1, 2)})
        stop_corpus_stream_pipeline(queries)

        # --- final maintenance with the pipeline stopped: the plan
        # executes exactly, and the store then holds the planned counts
        res3 = statestore.maintain_store(
            spark, state_dir, target_file_bytes=1 << 30, min_files=2
        )
        m_final = statestore.load_manifest(state_dir)
        for v, n in res3["compacted"].items():
            assert len(m_final["files"][v]) == n
        assert all(len(rels) >= 1 for rels in m_final["files"].values())

        # --- composition invariant: state ≡ latest-per-key over clean/
        want = sorted(
            (r["doc_id"], r["version"], r["text"])
            for r in latest_per_key_window(
                spark.read.parquet(dirs["clean"]), ["doc_id"], "version"
            ).collect()
        )
        got = sorted(
            (r["doc_id"], r["version"], r["text"])
            for r in current_state_table(spark, state_dir).collect()
        )
        assert got == want
        assert (0, 2) in {(d, v) for d, v, _ in got}  # update applied

        # --- a replica converges on the maintained store
        replica = str(tmp_path / "replica")
        assert statestore.sync_state(spark, state_dir, replica) == m_final["gen"]
        got_rep = sorted(
            (r["doc_id"], r["version"], r["text"])
            for r in spark.read.parquet(replica).collect()
        )
        assert got_rep == want
    finally:
        # a failing assert must not leak active queries into the next
        # test (same shared session)
        for q in queries:
            try:
                q.stop()
            except Exception:
                pass
        spark.conf.set(coalesce_key, coalesce_prev)


def test_live_pipeline_schema_drift_fails_loud_then_evolves_by_restart(
    spark, tmp_path
):
    """VERDICT r15 next #3 (W29): land a wave with an ADDED column while
    the live pipeline runs. Pinned semantics: the admission stage fails
    LOUDLY (schema-drift guard) before any write — never a silent
    column drop — and the additive-evolution path is a lossless
    restart-with-wider-schema: the flagged wave re-reads in full, the
    new column propagates to the state, and pre-evolution rows surface
    it as NULL (D7a discipline end to end). Documents are synthetic
    pairwise-unrelated prose so admission provably admits every one —
    the waits can then pin EXACT id sets."""
    import time

    from leftshove_spark.ext.similarity import ivfadc_train
    from leftshove_spark.streaming import (
        start_corpus_stream_pipeline_live,
    )

    base = _fixture(spark)
    bench = base.filter(
        (F.col("doc_id") >= 480) & (F.col("doc_id") < 485)
    ).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < 4, F.lit(0.0).cast("float")).otherwise(x),
        ).alias("embedding"),
    )
    bench_dir = str(tmp_path / "bench")
    bench.write.parquet(bench_dir)
    cents, books = ivfadc_train(
        base, n_centroids=4, id_col="doc_id", vec_col="embedding"
    )
    novel = base.filter(F.col("doc_id") == 200).select("embedding").first()[
        "embedding"
    ]

    texts = [
        "granite cliffs along the fjord reflect pale morning light",
        "the orchestra rehearsed a brisk rondo for the festival",
        "fermented tea leaves steep slowly in copper kettles",
        "migratory cranes circle the estuary before the frost",
        "a cartographer inks contour lines onto vellum sheets",
        "volcanic ash enriches the terraced vineyard soils",
        "the observatory dome rotates toward a distant nebula",
        "hand-thrown porcelain bowls cool beside the kiln door",
        "monsoon rains swell the river past the paddy bunds",
        "a locksmith files the final ward of a brass key",
    ]
    wider_texts = [
        "solar panels tilt to follow the equinox sun across the mesa",
        "the beekeeper smokes the hive before lifting each frame",
        "tidewater glaciers calve icebergs into the silted bay",
        "a luthier carves the scroll of a maple violin neck",
        "night markets string paper lanterns over the canal",
    ]

    def synth(rows, with_lang=False):
        if with_lang:
            return spark.createDataFrame(
                [(i, t, novel, 1, "en") for i, t in rows],
                "doc_id long, text string, embedding array<float>, "
                "version long, lang string",
            )
        return spark.createDataFrame(
            [(i, t, novel, 1) for i, t in rows],
            "doc_id long, text string, embedding array<float>, version long",
        )

    w1 = synth(list(enumerate(texts)))
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    w1.coalesce(1).write.mode("append").parquet(landing)

    def start(schema=None):
        return start_corpus_stream_pipeline_live(
            spark,
            landing_dir=landing,
            work_dir=str(tmp_path / "work"),
            benchmark_emb_dir=bench_dir,
            cents=cents,
            books=books,
            threshold=0.95,
            n_buckets=4,
            processing_time="1 second",
            schema=schema,
        )

    dirs, queries = start()
    state_dir = dirs["state"]

    def wait_state(pred, timeout=240):
        deadline = time.time() + timeout
        while time.time() < deadline:
            for q in queries:
                assert q.exception() is None, str(q.exception())
            try:
                rows = current_state_table(spark, state_dir).collect()
                if pred(rows):
                    return rows
            except Exception:
                pass
            time.sleep(2)
        raise AssertionError("state never satisfied the predicate")

    try:
        wait_state(lambda rows: {r["doc_id"] for r in rows} == set(range(10)))

        # --- the WIDER wave: an added language column
        w2 = synth(list(enumerate(wider_texts, start=20)), with_lang=True)
        w2.coalesce(1).write.mode("append").parquet(landing)

        # the admission stage must fail LOUDLY, naming the new column,
        # BEFORE its checkpoint commits the wider file
        deadline = time.time() + 180
        while queries[0].exception() is None and time.time() < deadline:
            time.sleep(1)
        exc = queries[0].exception()
        assert exc is not None and "schema drift" in str(exc)
        assert "lang" in str(exc)
        for q in queries:
            q.stop()
        for q in queries[1:]:
            q.awaitTermination()
        # nothing of the wider wave leaked downstream narrow
        admitted_ids = {
            r["doc_id"] for r in spark.read.parquet(dirs["admitted"]).collect()
        }
        assert admitted_ids == set(range(10))

        # --- additive evolution by restart: same checkpoints, wider
        # schema derived exactly as the guard's error message instructs
        # (a PLAIN read samples one footer and can return the narrow
        # shape again)
        wider = spark.read.option("mergeSchema", "true").parquet(landing).schema
        assert "lang" in [f.name for f in wider.fields]
        dirs, queries = start(schema=wider)
        rows = wait_state(
            lambda rows: {r["doc_id"] for r in rows}
            == set(range(10)) | set(range(20, 25))
            and "lang" in (rows[0].asDict() if rows else {})
        )
        for q in queries:
            q.stop()
        for q in queries:
            q.awaitTermination()
        by_id = {r["doc_id"]: r for r in rows}
        # the flagged wave re-read IN FULL — its new column landed...
        assert all(by_id[i]["lang"] == "en" for i in range(20, 25))
        # ...and pre-evolution rows surface it as NULL, values intact
        assert all(by_id[i]["lang"] is None for i in range(10))
        assert all(by_id[i]["version"] == 1 for i in by_id)
    finally:
        # never leak active queries into the next test (shared session)
        for q in queries:
            try:
                q.stop()
            except Exception:
                pass


def test_availablenow_pipeline_schema_drift_guard_and_explicit_widening(
    spark, tmp_path
):
    """W30's availableNow half (r16): the checkpoint-chained re-run
    form gets the same never-silent-drop discipline as the live
    pipeline. A re-run whose (explicit or sampled) schema is narrower
    than a landed file fails loudly naming the new field; the lossless
    remedy — the same re-run with the mergeSchema-derived wider
    schema — processes the flagged wave in full, propagates the new
    column to the state, and NULL-pads pre-evolution rows."""
    from leftshove_spark.ext.similarity import ivfadc_train
    from leftshove_spark.streaming import run_corpus_stream_pipeline

    base = _fixture(spark)
    bench = base.filter(
        (F.col("doc_id") >= 480) & (F.col("doc_id") < 485)
    ).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i < 4, F.lit(0.0).cast("float")).otherwise(x),
        ).alias("embedding"),
    )
    bench_dir = str(tmp_path / "bench")
    bench.write.parquet(bench_dir)
    cents, books = ivfadc_train(
        base, n_centroids=4, id_col="doc_id", vec_col="embedding"
    )
    novel = base.filter(F.col("doc_id") == 200).select("embedding").first()[
        "embedding"
    ]

    def synth(rows, with_lang=False):
        if with_lang:
            return spark.createDataFrame(
                [(i, t, novel, 1, "en") for i, t in rows],
                "doc_id long, text string, embedding array<float>, "
                "version long, lang string",
            )
        return spark.createDataFrame(
            [(i, t, novel, 1) for i, t in rows],
            "doc_id long, text string, embedding array<float>, version long",
        )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    synth(
        [
            (1, "willow branches trail across the millpond at dusk"),
            (2, "the typesetter locks brass quoins around the chase"),
        ]
    ).coalesce(1).write.mode("append").parquet(landing)

    def run(schema=None):
        return run_corpus_stream_pipeline(
            spark,
            landing_dir=landing,
            work_dir=str(tmp_path / "work"),
            benchmark_emb_dir=bench_dir,
            cents=cents,
            books=books,
            threshold=0.95,
            n_buckets=4,
            schema=schema,
        )

    dirs = run()
    narrow_schema = spark.read.parquet(landing).schema

    # wave 2 adds a column; a re-run pinned to the NARROW schema (the
    # shape a plain inference can sample even with wider files landed)
    # must fail loudly, checkpoint uncommitted
    synth(
        [(3, "a glassblower turns the punty against the marver slab")],
        with_lang=True,
    ).coalesce(1).write.mode("append").parquet(landing)
    import pytest as _pt

    with _pt.raises(Exception, match="schema drift.*lang"):
        run(schema=narrow_schema)

    # the documented remedy: the SAME re-run, mergeSchema-derived shape
    wider = spark.read.option("mergeSchema", "true").parquet(landing).schema
    dirs = run(schema=wider)
    rows = {
        r["doc_id"]: r
        for r in current_state_table(spark, dirs["state"]).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[3]["lang"] == "en"  # the flagged wave landed IN FULL
    assert rows[1]["lang"] is None and rows[2]["lang"] is None
