"""Composed STREAMING corpus pipeline demo (VERDICT r12 next #6) —
the four individually-certified streams chained into the full
streaming corpus story, end-to-end at sf0.01:

    land (docs ⋈ embeddings, versioned)
      → W20 near-dup ADMISSION   (LSH screen vs the persistent index)
      → W27 semantic DECONTAMINATION (quarantine + audit trail)
      → W24 IVFADC INDEXING      (frozen codebooks, cell-partitioned)
      → W26 STATE MATERIALIZATION (manifest-committed latest-per-key)

Two waves land; the second wave re-runs the SAME pipeline call and the
chained checkpoints process only the new files — wave 2 carries a
version-2 edit (visible in the final state), a near-dup (rejected at
admission), and a planted paraphrase leak (quarantined with its
matched benchmark id). A third wave then lands while the same four
stages run as CONCURRENT processingTime streams over the same
checkpoints (start_corpus_stream_pipeline_live, r14) — the live
deployment, interchangeable with the chained form. The composition is
pytest-pinned ≡ the batch composition
(tests/test_streaming_composed.py); this script shows the operational
story with per-stage counts. Run:

    python scripts/demo_stream_composed.py [sf_dir]

Prints one JSON line of per-wave stage counts, then
COMPOSED STREAM DEMO OK.
"""

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from leftshove_spark.ext.similarity import ivfadc_train  # noqa: E402
from leftshove_spark.session import get_spark  # noqa: E402
from leftshove_spark.sources import load_table  # noqa: E402
from leftshove_spark.streaming import (  # noqa: E402
    current_state_table,
    run_corpus_stream_pipeline,
)

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def _counts(spark, dirs) -> dict[str, int]:
    out = {}
    for k in ("admitted", "clean", "quarantine", "ivfadc_index"):
        p = dirs[k]
        out[k] = (
            spark.read.parquet(p).count() if os.path.isdir(p) else 0
        )
    out["state_live_keys"] = current_state_table(
        spark, dirs["state"]
    ).count()
    return out


def main() -> None:
    spark = get_spark(app_name="leftshove-composed-stream-demo")
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="composed_stream_demo_")
    try:
        docs = load_table(spark, SF, "documents").select("doc_id", "text")
        emb = load_table(spark, SF, "embeddings").select(
            F.col("vec_id").alias("doc_id"), "embedding"
        )
        base = docs.join(emb, "doc_id")

        # the frozen artifacts every stream screens/encodes against:
        # a benchmark eval set (perturbed copies of never-landed docs)
        # and the IVFADC index pair trained once on the wider corpus
        bench = base.filter(F.col("doc_id") % 97 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(
                    i < 4, F.lit(0.0).cast("float")
                ).otherwise(x),
            ).alias("embedding"),
        )
        bench_dir = os.path.join(tmp, "bench")
        bench.write.parquet(bench_dir)
        cents, books = ivfadc_train(
            base, n_centroids=4, id_col="doc_id", vec_col="embedding"
        )

        landing = os.path.join(tmp, "landing")
        work = os.path.join(tmp, "work")
        os.makedirs(landing)
        corpus = base.filter(F.col("doc_id") % 97 != 0)

        # wave 1: the first half of the corpus
        w1 = corpus.filter(F.col("doc_id") % 2 == 0).withColumn(
            "version", F.lit(1).cast("long")
        )
        w1.write.mode("append").parquet(landing)
        report: dict = {"landed_wave1": w1.count()}
        dirs = run_corpus_stream_pipeline(
            spark,
            landing_dir=landing,
            work_dir=work,
            benchmark_emb_dir=bench_dir,
            cents=cents,
            books=books,
            threshold=0.9,
        )
        report["wave1"] = _counts(spark, dirs)

        # wave 2: the second half, PLUS a version-2 edit of an admitted
        # doc, a near-dup of an admitted doc, and a planted paraphrase
        # leak (a benchmark item's embedding under unique text)
        w2 = corpus.filter(F.col("doc_id") % 2 == 1).withColumn(
            "version", F.lit(1).cast("long")
        )
        # the near-dup plant needs a LONG doc that was actually ADMITTED
        # (so its shingles are in the standing index) — one extra token
        # keeps the 3-gram Jaccard above the 0.6 admission threshold.
        # The version-2 edit targets a DIFFERENT admitted doc: an edit
        # upserts its own index entry, so a near-dup of the superseded
        # text would correctly no longer match.
        longest2 = (
            spark.read.parquet(dirs["admitted"])
            .orderBy(F.length("text").desc(), "doc_id")
            .limit(2)
            .collect()
        )
        some, edited_doc = longest2[0], longest2[1]
        b0 = bench.orderBy("doc_id").limit(1).collect()[0]
        plants = spark.createDataFrame(
            [
                (
                    edited_doc["doc_id"],
                    "a materially rewritten second draft of this document",
                    edited_doc["embedding"],
                    2,
                ),
                (
                    9_000_001,
                    some["text"] + " tail",
                    some["embedding"],
                    1,
                ),
                (
                    9_000_002,
                    "unique paraphrase text sharing no ngram with anything",
                    b0["embedding"],
                    1,
                ),
            ],
            "doc_id long, text string, embedding array<float>, version long",
        )
        w2.unionByName(plants).write.mode("append").parquet(landing)
        report["landed_wave2"] = w2.count() + 3
        dirs = run_corpus_stream_pipeline(
            spark,
            landing_dir=landing,
            work_dir=work,
            benchmark_emb_dir=bench_dir,
            cents=cents,
            books=books,
            threshold=0.9,
        )
        report["wave2"] = _counts(spark, dirs)

        # the operational checks the composition exists for
        state = current_state_table(spark, dirs["state"])
        edited = state.filter(
            F.col("doc_id") == edited_doc["doc_id"]
        ).collect()
        assert len(edited) == 1 and edited[0]["version"] == 2, (
            "the wave-2 edit must be the live version"
        )
        quar = spark.read.parquet(dirs["quarantine"])
        assert quar.filter(F.col("doc_id") == 9_000_002).count() == 1, (
            "the planted paraphrase leak must be quarantined"
        )
        admitted = spark.read.parquet(dirs["admitted"])
        assert admitted.filter(F.col("doc_id") == 9_000_001).count() == 0, (
            "the near-dup must be rejected at admission"
        )

        # wave 3 — the LIVE deployment (r14): the SAME four stages as
        # concurrently-running processingTime streams over the SAME
        # checkpoints; a wave landing while they run flows through to
        # the state within a few trigger periods, and the live run is
        # interchangeable with the chained availableNow form
        import time

        from leftshove_spark.streaming import (
            start_corpus_stream_pipeline_live,
            stop_corpus_stream_pipeline,
        )

        dirs, queries = start_corpus_stream_pipeline_live(
            spark,
            landing_dir=landing,
            work_dir=work,
            benchmark_emb_dir=bench_dir,
            cents=cents,
            books=books,
            threshold=0.9,
            processing_time="1 second",
        )
        try:
            novel = spark.createDataFrame(
                [
                    (
                        9_000_003,
                        "a live wave document wholly unlike every other one",
                        b0["embedding"],  # leaks → quarantined live
                        1,
                    ),
                    (
                        9_000_004,
                        "another live wave document matching nothing at all",
                        some["embedding"],
                        1,
                    ),
                ],
                "doc_id long, text string, embedding array<float>, version long",
            )
            novel.coalesce(1).write.mode("append").parquet(landing)
            report["landed_wave3_live"] = 2
            deadline = time.time() + 180
            while time.time() < deadline:
                for q in queries:
                    assert q.exception() is None, str(q.exception())
                try:
                    if (
                        current_state_table(spark, dirs["state"])
                        .filter(F.col("doc_id") == 9_000_004)
                        .count()
                        == 1
                    ):
                        break
                except Exception:
                    pass
                time.sleep(2)
            else:
                raise AssertionError("live wave never reached the state")
        finally:
            stop_corpus_stream_pipeline(queries)
        quar = spark.read.parquet(dirs["quarantine"])
        assert quar.filter(F.col("doc_id") == 9_000_003).count() == 1, (
            "the live leak must be quarantined while the streams run"
        )
        report["wave3_live"] = _counts(spark, dirs)
        print(json.dumps(report))
        print("COMPOSED STREAM DEMO OK")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
