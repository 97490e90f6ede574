"""sf1 SOAK of the five heaviest bench rows (VERDICT r13 next #8):
run semdedup / ivfadc / substring-dedup / pagerank / current-state at
10x the certified sf0.1 volume and record wall time + executor-memory
envelope — converting "no driver-side O(corpus) anywhere" from plan
audit to measured fact.

The soak corpus is SYNTHESIZED at runtime (the driver ships no sf1):
X copies of each sf0.1 table, constructed so the scale-up does not
fake its own workload:

- ``documents``: copy c suffixes every token with ``_c`` — copies
  share ZERO shingles with each other or the original, so the corpus's
  internal duplicate/near-dup structure replicates linearly (x10 docs
  => x10 LSH pairs), instead of every copy colliding with its parent
  (which would manufacture a quadratic pair explosion no real corpus
  has);
- ``embeddings``: copy c is the 0.5/0.5 mix of vector i and vector
  (i + 37*c) mod N — in-distribution by construction, but cosine to
  either parent ~0.7, safely below the 0.9/0.95 near-dup thresholds,
  so cluster populations grow ~linearly rather than chaining every
  copy into one giant component;
- ``events``: copy c offsets event_id and user_id — the key
  population grows x10 (more buckets' worth of live keys), the
  per-key version depth stays the original's.

Run:  python scripts/soak_scale.py [multiplier] [sf_dir]
Prints one JSON line per query (wall, executor task-time, GC, spill,
peak per-task execution memory) then SOAK OK.
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

X = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
QUERIES = [
    "x_semdedup",
    "x_knn_ivfadc_rerank",
    "x_dedup_substring",
    "x_pagerank_dedup",
    "x_current_state_materialized",
    # r15: the K20 maintenance path at 10x the certified key population
    # (fold -> fragment -> compact -> read) — measures the compaction
    # commit itself at scale, not just its plan shape
    "x_compact_state_transparent",
]

soak_dir = tempfile.mkdtemp(prefix=f"soak_sf{X}_")
evlog = tempfile.mkdtemp(prefix="soak_evlog_")

from leftshove_spark.session import get_spark  # noqa: E402

spark = get_spark(
    app_name="scale-soak",
    extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{evlog}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")

from __spark_entry__ import queries  # noqa: E402
from leftshove_spark.ext import cache  # noqa: E402
from leftshove_spark.sources import load_table  # noqa: E402

# ------------------------------------------------------------ synthesize
docs = load_table(spark, SF, "documents")
emb = load_table(spark, SF, "embeddings")
ev = load_table(spark, SF, "events")
n_emb = emb.count()

doc_copies = [docs]
for c in range(1, X):
    doc_copies.append(
        docs.select(
            (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"$1_{c}").alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
sdocs = doc_copies[0]
for d in doc_copies[1:]:
    sdocs = sdocs.unionByName(d)
sdocs.write.mode("overwrite").parquet(os.path.join(soak_dir, "documents.parquet"))

partner = emb.select(
    F.col("vec_id").alias("__pid"), F.col("embedding").alias("__pemb")
)
emb_copies = [emb.select("vec_id", "embedding", "label")]
for c in range(1, X):
    mixed = (
        emb.withColumn("__pid", (F.col("vec_id") + 37 * c) % n_emb)
        .join(partner, "__pid")
        .select(
            (F.col("vec_id") + c * 10_000_000).alias("vec_id"),
            F.zip_with(
                "embedding",
                "__pemb",
                lambda a, b: ((a + b) * F.lit(0.5)).cast("float"),
            ).alias("embedding"),
            "label",
        )
    )
    emb_copies.append(mixed)
semb = emb_copies[0]
for e in emb_copies[1:]:
    semb = semb.unionByName(e)
semb.write.mode("overwrite").parquet(os.path.join(soak_dir, "embeddings.parquet"))

ev_copies = [ev]
for c in range(1, X):
    ev_copies.append(
        ev.withColumn("event_id", F.col("event_id") + c * 100_000_000)
        .withColumn("user_id", F.col("user_id") + c * 10_000_000)
    )
sev = ev_copies[0]
for e in ev_copies[1:]:
    sev = sev.unionByName(e)
sev.write.mode("overwrite").parquet(os.path.join(soak_dir, "events.parquet"))

sizes = {
    t: spark.read.parquet(os.path.join(soak_dir, f"{t}.parquet")).count()
    for t in ("documents", "embeddings", "events")
}
print(json.dumps({"multiplier": X, "rows": sizes}))

# ------------------------------------------------------------------- run
Q = queries()
bounds: list[tuple[str, float, float]] = []
walls: dict[str, float] = {}
for name in QUERIES:
    cache.release_pins()
    spark.catalog.clearCache()
    t0 = time.time()
    n = len(Q[name](spark, soak_dir).collect())
    t1 = time.time()
    walls[name] = round(t1 - t0, 2)
    bounds.append((name, t0 * 1000, t1 * 1000 + 500))
    print(json.dumps({"query": name, "wall_s": walls[name], "rows": n}))
app_id = spark.sparkContext.applicationId
spark.stop()

# ------------------------------------------------- executor-memory audit
agg = {
    name: dict(query=name, wall_s=walls[name], task_time_s=0.0, gc_s=0.0,
               mem_spill_mb=0.0, disk_spill_mb=0.0, peak_task_mem_mb=0.0)
    for name in QUERIES
}
with open(os.path.join(evlog, app_id), encoding="utf-8") as fh:
    for line in fh:
        if '"SparkListenerTaskEnd"' not in line:
            continue
        e = json.loads(line)
        fin = e.get("Task Info", {}).get("Finish Time", 0)
        tm = e.get("Task Metrics") or {}
        for name, lo, hi in bounds:
            if lo <= fin <= hi:
                a = agg[name]
                a["task_time_s"] += tm.get("Executor Run Time", 0) / 1000
                a["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                a["mem_spill_mb"] += tm.get("Memory Bytes Spilled", 0) / 1e6
                a["disk_spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                a["peak_task_mem_mb"] = max(
                    a["peak_task_mem_mb"],
                    tm.get("Peak Execution Memory", 0) / 1e6,
                )
                break
for name in QUERIES:
    a = agg[name]
    for k in ("task_time_s", "gc_s", "mem_spill_mb", "disk_spill_mb",
              "peak_task_mem_mb"):
        a[k] = round(a[k], 1)
    print(json.dumps(a))
shutil.rmtree(soak_dir, ignore_errors=True)
shutil.rmtree(evlog, ignore_errors=True)
print("SOAK OK")
