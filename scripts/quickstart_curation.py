"""QUICKSTART — corpus dir in, train-ready corpus out (r14, VERDICT
r13 next #5). The ten lines a new user actually needs, runnable as-is:

    spec = [
        {"op": "quality_filter", "min_tokens": 10},
        {"op": "exact_dedup"},
        {"op": "near_dedup", "jaccard_threshold": 0.6},
        {"op": "decontaminate", "benchmark": benchmark},
        {"op": "hash_split"},
    ]
    result = run_pipeline(spark, docs, spec)
    result.df.filter("split = 'train'").write.parquet(out + "/train")
    bpe_train_scalable(result.df, num_merges=..., merges_path=out + "/merges.txt")

That is the whole batch story: a declarative stage list (reviewable,
diffable, replayable — pipeline_runner.STAGES lists every available
op), one composed lazy plan, a train split on disk, and a tokenizer
artifact trained on exactly the text that survived curation. Each
stage is an operator that is individually hash-certified against the
DuckDB oracle in the driver gate; the runner only composes them.

The second half shows the INCREMENTAL deployment of the same story:
new files landing in a directory flow through admit → decontaminate →
index → materialize as checkpointed streams
(streaming.run_corpus_stream_pipeline — re-running processes exactly
the new files; start_corpus_stream_pipeline_live runs the same four
stages continuously).

Run:  python scripts/quickstart_curation.py [sf_dir] [out_dir]
Prints one JSON line of counts, then QUICKSTART OK.
"""

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from leftshove_spark.ext.similarity import ivfadc_train  # noqa: E402
from leftshove_spark.ext.text import bpe_train_scalable  # noqa: E402
from leftshove_spark.pipeline_runner import run_pipeline  # noqa: E402
from leftshove_spark.session import get_spark  # noqa: E402
from leftshove_spark.sources import load_table  # noqa: E402
from leftshove_spark.streaming import run_corpus_stream_pipeline  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUT = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="curated_")

spark = get_spark()
counts: dict = {}

# ---------------------------------------------------------------- batch
# 1. the corpus: any DataFrame with (id, text) — here the test tables
docs = load_table(spark, SF, "documents").select("doc_id", "text", "source")
# 2. the eval sets to keep OUT of training data: (doc_id, text) —
#    same id/text column names as the corpus (the operator's contract)
benchmark = (
    load_table(spark, SF, "documents").limit(5).select("doc_id", "text")
)

# 3. curation as DATA — see pipeline_runner.STAGES for every op
spec = [
    {"op": "quality_filter", "min_tokens": 10},       # drop junk docs
    {"op": "exact_dedup"},                            # byte-identical copies
    {"op": "near_dedup", "jaccard_threshold": 0.6},   # MinHash-LSH near-dups
    {"op": "decontaminate", "benchmark": benchmark},  # eval-set n-gram leaks
    {"op": "hash_split"},                             # deterministic split col
]
result = run_pipeline(spark, docs, spec)
counts.update(result.counts)

# 4. train-ready parquet + tokenizer artifact from the SURVIVING text
train = result.df.filter(F.col("split") == "train")
train.write.mode("overwrite").parquet(os.path.join(OUT, "train"))
merges = bpe_train_scalable(
    train, num_merges=200, merges_path=os.path.join(OUT, "merges.txt")
)
counts["train_rows"] = spark.read.parquet(os.path.join(OUT, "train")).count()
counts["bpe_merges"] = len(merges)

# ----------------------------------------------------------- incremental
# The same curation, deployed as checkpointed streams: files landing in
# landing/ flow admit → decontaminate → index → materialize; calling
# run_corpus_stream_pipeline again after more files land processes
# exactly the increment (start_corpus_stream_pipeline_live is the
# continuously-running form of the same four stages).
emb = load_table(spark, SF, "embeddings").select(
    F.col("vec_id").alias("doc_id"), "embedding"
)
landed = (
    docs.join(emb, "doc_id")
    .withColumn("version", F.lit(1).cast("long"))
    .limit(200)
)
bench_emb = emb.limit(5).select(
    (F.col("doc_id") + 100000).alias("doc_id"), "embedding"
)
landing = os.path.join(OUT, "landing")
bench_dir = os.path.join(OUT, "bench_emb")
bench_emb.write.mode("overwrite").parquet(bench_dir)
landed.coalesce(1).write.mode("append").parquet(landing)
cents, books = ivfadc_train(
    landed, n_centroids=4, id_col="doc_id", vec_col="embedding"
)
dirs = run_corpus_stream_pipeline(
    spark,
    landing_dir=landing,
    work_dir=os.path.join(OUT, "stream_work"),
    benchmark_emb_dir=bench_dir,
    cents=cents,
    books=books,
)
from leftshove_spark.streaming import current_state_table  # noqa: E402

counts["stream_admitted"] = spark.read.parquet(dirs["admitted"]).count()
counts["stream_clean"] = spark.read.parquet(dirs["clean"]).count()
counts["stream_state_keys"] = current_state_table(spark, dirs["state"]).count()

print(json.dumps(counts))
print("QUICKSTART OK  (outputs in %s)" % OUT)
