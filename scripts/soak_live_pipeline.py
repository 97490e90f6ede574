"""LIVE composed-pipeline soak at 10× (VERDICT r15 next #7): W29's four
concurrent processingTime streams — admit → decontaminate → index →
materialize — previously had only pytest-scale runs; this drives 10×
the sf0.1 embedded-document corpus through the LIVE pipeline in waves,
with K21 maintenance passes (compact + vacuum) racing the folds, and
records the numbers that decide cluster readiness:

- per-wave DRAIN LATENCY (land → state caught up through all four
  stages) — the end-to-end freshness a deployment gets;
- state-store GENERATION growth + live file population (does the
  manifest store stay bounded under continuous folding + maintenance);
- streaming trigger health from the state query's own progress
  (batch durations — backpressure would show here first);
- executor envelope from the event log (GC, spill, peak task memory).

Waves reuse the collision-free copy scheme of scripts/soak_scale.py
(copy c suffixes every token with ``_c``; embeddings mix two parents,
cosine ~0.7 to each — below every near-dup threshold), so each wave
carries the corpus's own internal duplicate structure and the
admission workload scales linearly instead of quadratically.

Run:  python scripts/soak_live_pipeline.py [waves] [sf_dir]
Prints one JSON line per wave / maintenance pass, an audit line, then
SOAK LIVE OK.
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

WAVES = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SF = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

work_root = tempfile.mkdtemp(prefix="soak_live_")
evlog = tempfile.mkdtemp(prefix="soak_live_evlog_")

from leftshove_spark.session import get_spark  # noqa: E402

spark = get_spark(
    app_name="live-pipeline-soak",
    extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{evlog}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    },
)
spark.sparkContext.setLogLevel("ERROR")

from leftshove_spark import statestore  # noqa: E402
from leftshove_spark.ext.similarity import ivfadc_train  # noqa: E402
from leftshove_spark.sources import load_table  # noqa: E402
from leftshove_spark.streaming import (  # noqa: E402
    current_state_table,
    start_corpus_stream_pipeline_live,
    stop_corpus_stream_pipeline,
)
from leftshove_spark.views import latest_per_key_window  # noqa: E402

# --------------------------------------------------------------- corpus
docs = load_table(spark, SF, "documents").select("doc_id", "text")
emb = load_table(spark, SF, "embeddings").select(
    F.col("vec_id").alias("doc_id"), "embedding"
)
base = docs.join(emb, "doc_id")
n_base = base.count()
partner = base.select(
    F.col("doc_id").alias("__pid"), F.col("embedding").alias("__pemb")
)


def wave_df(c: int):
    """Copy c of the embedded corpus: zero shared shingles with any
    other copy, embeddings in-distribution but ~0.7 cosine to both
    parents — each wave's dedup/decontamination structure replicates
    the original's, never collides across waves."""
    if c == 0:
        return base.withColumn("version", F.lit(1).cast("long"))
    return (
        base.withColumn("__pid", (F.col("doc_id") + 37 * c) % n_base)
        .join(partner, "__pid")
        .select(
            (F.col("doc_id") + c * 10_000_000).alias("doc_id"),
            F.regexp_replace("text", r"(\S+)", f"$1_{c}").alias("text"),
            F.zip_with(
                "embedding",
                "__pemb",
                lambda a, b: ((a + b) * F.lit(0.5)).cast("float"),
            ).alias("embedding"),
            F.lit(1).cast("long").alias("version"),
        )
    )


# frozen pieces: benchmark = perturbed held-out vectors (never landed),
# index pair trained once on the base corpus
bench = base.filter(F.col("doc_id") % 97 == 0).select(
    (F.col("doc_id") + 100_000_000).alias("doc_id"),
    F.transform(
        "embedding",
        lambda x, i: F.when(i < 4, F.lit(0.0).cast("float")).otherwise(x),
    ).alias("embedding"),
)
bench_dir = os.path.join(work_root, "bench")
bench.write.parquet(bench_dir)
cents, books = ivfadc_train(
    base, n_centroids=16, id_col="doc_id", vec_col="embedding"
)

landing = os.path.join(work_root, "landing")
os.makedirs(landing)
first = wave_df(0)
schema = first.schema
# actual landed counts (r16 review: WAVES * n_base would overstate if
# the partner join ever dropped rows on a non-dense id space)
docs_landed = first.count()
t_land0 = time.time()
first.write.mode("append").parquet(landing)

dirs, queries = start_corpus_stream_pipeline_live(
    spark,
    landing_dir=landing,
    work_dir=os.path.join(work_root, "work"),
    benchmark_emb_dir=bench_dir,
    cents=cents,
    books=books,
    n_buckets=16,
    processing_time="2 seconds",
    schema=schema,
)
state_dir = dirs["state"]


def counts():
    try:
        clean = spark.read.parquet(dirs["clean"]).count()
    except Exception:
        clean = None
    try:
        state = current_state_table(spark, state_dir).count()
    except Exception:
        state = None
    return clean, state


def wait_drained(min_clean=0, timeout=900):
    """Until the state row count equals the clean doc count, the wave
    has VISIBLY grown the corpus past ``min_clean`` (every wave is
    collision-free, so it must admit documents), and both counts are
    stable across four polls — state == clean alone transiently holds
    while the admit stage is still chewing the wave (that early-return
    stopped the first smoke run mid-wave)."""
    deadline = time.time() + timeout
    stable = 0
    prev = None
    clean = state = None
    while time.time() < deadline:
        for q in queries:
            if q.exception() is not None:
                raise AssertionError(f"stream failed: {q.exception()}")
        clean, state = counts()
        if (
            clean
            and state is not None
            and clean == state
            and clean > min_clean
        ):
            stable = stable + 1 if clean == prev else 1
            if stable >= 4:
                return clean
        else:
            stable = 0
        prev = clean
        time.sleep(3)
    raise AssertionError(f"pipeline never drained (clean={clean} state={state})")


maintenance: list[dict] = []
wave_stats: list[dict] = []
n = wait_drained()
wave_stats.append(
    {"wave": 0, "drain_s": round(time.time() - t_land0, 1), "state_rows": n}
)
print(json.dumps(wave_stats[-1]), flush=True)

for c in range(1, WAVES):
    t0 = time.time()
    w = wave_df(c)
    docs_landed += w.count()
    w.write.mode("append").parquet(landing)
    if c % 2 == 0:
        # K21 racing the live folds: compaction + vacuum with the loss
        # discipline — lost CAS re-plans, retries, then defers
        res = statestore.maintain_store(
            spark, state_dir, min_files=8, retries=2, backoff_sec=1.0
        )
        rec = {
            "maintenance_after_wave": c,
            "compacted_partitions": len(res["compacted"]),
            "lost_races": res["lost_races"],
            "vacuumed": len(res["vacuumed"]),
            "generations_retained": len(statestore.list_generations(state_dir)),
        }
        maintenance.append(rec)
        print(json.dumps(rec), flush=True)
    n = wait_drained(min_clean=n)
    wave_stats.append(
        {"wave": c, "drain_s": round(time.time() - t0, 1), "state_rows": n}
    )
    print(json.dumps(wave_stats[-1]), flush=True)

# trigger health from the state maintainer's own progress log
state_q = queries[-1]
batch_ms = [
    p["durationMs"].get("triggerExecution", 0)
    for p in state_q.recentProgress
    if p.get("numInputRows", 0) > 0
]
stop_corpus_stream_pipeline(queries)

# final maintenance with streams stopped, then the invariants
final = statestore.maintain_store(spark, state_dir, min_files=2)
m = statestore.load_manifest(state_dir)
files_per_bucket = {v: len(rels) for v, rels in m["files"].items()}
clean_df = spark.read.parquet(dirs["clean"])
want = latest_per_key_window(clean_df, ["doc_id"], "version").count()
got = current_state_table(spark, state_dir).count()
assert got == want, (got, want)
gens = statestore.list_generations(state_dir)
audit = {
    "waves": WAVES,
    "docs_landed": docs_landed,
    "state_rows": got,
    "drain_s_max": max(w["drain_s"] for w in wave_stats),
    "drain_s_mean": round(sum(w["drain_s"] for w in wave_stats) / len(wave_stats), 1),
    "state_trigger_ms_max": max(batch_ms) if batch_ms else None,
    "maintenance_lost_races": sum(r["lost_races"] for r in maintenance),
    "maintenance_compactions": sum(r["compacted_partitions"] for r in maintenance)
    + len(final["compacted"]),
    "generations_current": gens[-1],
    "generations_retained": len(gens),
    "max_files_per_bucket_final": max(files_per_bucket.values()),
    "buckets": len(files_per_bucket),
}
app_id = spark.sparkContext.applicationId
spark.stop()

# ------------------------------------------------- executor-memory audit
tot = dict(task_time_s=0.0, gc_s=0.0, mem_spill_mb=0.0, disk_spill_mb=0.0,
           peak_task_mem_mb=0.0)
with open(os.path.join(evlog, app_id), encoding="utf-8") as fh:
    for line in fh:
        if '"SparkListenerTaskEnd"' not in line:
            continue
        tm = (json.loads(line).get("Task Metrics") or {})
        tot["task_time_s"] += tm.get("Executor Run Time", 0) / 1000
        tot["gc_s"] += tm.get("JVM GC Time", 0) / 1000
        tot["mem_spill_mb"] += tm.get("Memory Bytes Spilled", 0) / 1e6
        tot["disk_spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
        tot["peak_task_mem_mb"] = max(
            tot["peak_task_mem_mb"], tm.get("Peak Execution Memory", 0) / 1e6
        )
audit.update({k: round(v, 1) for k, v in tot.items()})
print(json.dumps(audit))
shutil.rmtree(work_root, ignore_errors=True)
shutil.rmtree(evlog, ignore_errors=True)
print("SOAK LIVE OK")
