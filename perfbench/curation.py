"""The ``corpus_curation`` workload: fixed-size micro-batches of a
documents corpus, each run through one declarative ``run_pipeline``
spec (``count_stages=False``, the fused production mode) and written to
parquet. Unit op: one batch. A consumer then looks one document up in
the written output.

The corpus is a fixed pool of batches (generated from ``CORPUS_SEED``);
``--seed`` permutes the order the pool is fed in. Each batch's output
digest is pinned in ``pins.json``, so every seed's outputs are checked
against a recorded expectation. Regenerate the pins, after a change
that is meant to alter curation output, with

    python3 -m perfbench.curation --repin
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from . import datagen
from .harness import Sample

CORPUS_SEED = 20241017
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
SIZES = {
    # reads: consumer point lookups in each written batch
    "bench": {"batch": 250, "pool": 16, "eval_docs": 40, "reads": 5},
    "smoke": {"batch": 60, "pool": 3, "eval_docs": 6, "reads": 5},
}

LAYER_METRICS = (
    "pipeline_runner.build.s",
    *(f"pipeline_runner.stage.{op}.s" for op in (
        "quality_filter", "exact_dedup", "decontaminate",
        "outlier_gate", "temperature_mixture", "hash_split")),
    "pipeline_runner.build_jobs",
    "pipeline_runner.input_scans",
    "curation.write.s",
    "curation.write.jobs",
    "curation.write.tasks",
    "curation.write.shuffle_bytes",
    "curation.write.spill_bytes",
    "curation.write.cpu_ratio",
    "curation.keep_ratio",
    "curation.lookup.s",
)


def spec(benchmark) -> list[dict]:
    return [
        {"op": "quality_filter", "min_tokens": 15, "min_uniq_ratio": 0.25, "min_quality": 0.2},
        {"op": "exact_dedup"},
        {"op": "decontaminate", "benchmark": benchmark, "n": 8},
        {"op": "outlier_gate", "value_col": "n_chars", "group_cols": "lang", "c_num": 3},
        {"op": "temperature_mixture", "source_col": "source", "alpha": 0.5},
        {"op": "hash_split"},
    ]


def digest(table) -> str:
    """Order-insensitive sha256 of a result table (columns by name)."""
    cols = sorted(table.column_names)
    rows = sorted(zip(*(table.column(c).to_pylist() for c in cols)))
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()


class CurationWorkload:
    round_len = 1

    def __init__(self, spark, tracer, seed: int, scale: str, corrupt: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = SIZES[scale]
        self.problems: list[str] = []
        with open(PINS) as f:
            self.pins = json.load(f).get(scale, {})
        self.corrupt = corrupt
        self.traced_in = self.traced_out = 0
        self.input_scans = 0

    def prepare(self, root: str) -> None:
        """Write the batch pool and the held-out eval set."""
        self.root = root
        size = self.size
        rng = np.random.default_rng(CORPUS_SEED)
        corpus = datagen.documents(rng, size["batch"] * size["pool"])
        self.batches = []
        for b in range(size["pool"]):
            path = os.path.join(root, "pool", f"batch-{b:03d}.parquet")
            datagen._write(corpus.slice(b * size["batch"], size["batch"]), path)
            self.batches.append(path)
        # held-out eval set: half copied from the corpus (contamination
        # to find), half fresh text
        k = size["eval_docs"]
        picked = rng.choice(corpus.num_rows, k // 2, replace=False)
        fresh = datagen.documents(rng, k - k // 2, first_id=10**9)
        texts = [corpus.column("text")[int(i)].as_py() for i in picked]
        texts += fresh.column("text").to_pylist()
        self.benchmark = self.spark.createDataFrame([(t,) for t in texts], "text string")
        self.order = np.random.default_rng([self.seed, 4]).permutation(size["pool"])
        if self.corrupt:
            # the smoke test's negative case: a wrong expectation for the
            # first batch fed
            self.pins[str(int(self.order[0]))] = "0" * 64
        self.rng = np.random.default_rng([self.seed, 5])

    def discard(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)

    def start(self) -> None:
        pass

    def _batch(self, b: int, out: str):
        from leftshove_spark.pipeline_runner import run_pipeline
        from leftshove_spark.sources import read_parquet_normalized

        docs = read_parquet_normalized(self.spark, self.batches[b])
        with self.tracer.span("pipeline_runner.build"):
            res = run_pipeline(self.spark, docs, spec(self.benchmark), count_stages=False)
        with self.tracer.span("curation.write"):
            res.df.write.mode("overwrite").parquet(out)
        return res.df

    def step(self, i: int, reads: int | None = None) -> Sample:
        from pyspark.sql import functions as F

        from leftshove_spark.ext import cache

        b = int(self.order[i % len(self.order)])
        out = os.path.join(self.root, "out", f"op-{i}")
        keys = [b * self.size["batch"] + int(k)
                for k in self.rng.integers(0, self.size["batch"], reads or self.size["reads"])]
        ok = True
        with self.tracer.op_span("batch"):
            t0 = time.perf_counter()
            try:
                df = self._batch(b, out)
            except Exception as e:  # a failed batch is counted, not fatal
                self.problems.append(f"batch {b}: {type(e).__name__}: {e}"[:500])
                ok = False
            op_s = time.perf_counter() - t0
            reads, found = [], []
            for key in keys if ok else ():
                t1 = time.perf_counter()
                with self.tracer.span("curation.lookup"):
                    rows = self.spark.read.parquet(out).filter(F.col("doc_id") == key).collect()
                reads.append(time.perf_counter() - t1)
                found.append((key, len(rows)))
        if ok and self.tracer.enabled:
            plan = df._jdf.queryExecution().executedPlan().toString()
            self.input_scans += plan.count("FileScan parquet")
        if ok:
            ok = self._check(i, b, out, found)
        shutil.rmtree(out, ignore_errors=True)
        cache.release_pins()
        self.spark.catalog.clearCache()
        return Sample(
            latency=op_s if ok else float("inf"),
            reads=reads if ok else [],
            work=self.size["batch"],
            ok=ok,
        )

    def _check(self, i: int, b: int, out: str, found: list[tuple[int, int]]) -> bool:
        table = pq.read_table(out)
        got = digest(table)
        if self.tracer.enabled:
            self.traced_in += self.size["batch"]
            self.traced_out += table.num_rows
        want = self.pins.get(str(b))
        if got != want:
            self.problems.append(f"op {i} batch {b}: digest {got[:12]} != pinned {str(want)[:12]}")
            return False
        ids = table.column("doc_id").to_pylist()
        for key, n in found:
            if n != ids.count(key):
                self.problems.append(f"op {i} lookup doc {key}: {n} rows, output has {ids.count(key)}")
                return False
        return True

    def check_final(self) -> bool:
        return True

    def instrument(self) -> None:
        from leftshove_spark import pipeline_runner

        for op in pipeline_runner.STAGES:
            self.tracer.wrap(pipeline_runner.STAGES, None, f"pipeline_runner.stage.{op}", key=op)

    def layer_metrics(self) -> dict:
        tr = self.tracer

        def per(name, what="s", tree=False):  # mean per traced batch
            return tr.per_op(name, what, tree, root="batch")

        n_ops = max(1, len(tr.ops("batch")))
        stage_names = [n for n in LAYER_METRICS if n.startswith("pipeline_runner.stage.")]
        run_ms = per("curation.write", "executorRunTime")
        m = {
            "pipeline_runner.build.s": per("pipeline_runner.build"),
            "pipeline_runner.build_jobs": per("pipeline_runner.build", "jobs", tree=True),
            "pipeline_runner.input_scans": self.input_scans / n_ops,
            "curation.write.s": per("curation.write"),
            "curation.write.jobs": per("curation.write", "jobs"),
            "curation.write.tasks": per("curation.write", "numCompleteTasks"),
            "curation.write.shuffle_bytes": per("curation.write", "shuffleWriteBytes"),
            "curation.write.spill_bytes": per("curation.write", "memoryBytesSpilled")
            + per("curation.write", "diskBytesSpilled"),
            "curation.write.cpu_ratio": (per("curation.write", "executorCpuTime") / 1e6 / run_ms
                                         if run_ms else 0.0),
            "curation.keep_ratio": self.traced_out / self.traced_in if self.traced_in else 0.0,
            "curation.lookup.s": per("curation.lookup"),
        }
        m.update((n, per(n[:-2])) for n in stage_names)
        return m


def repin() -> None:
    """Recompute every scale's pinned batch digests into pins.json."""
    import sys

    from . import harness

    work = harness.make_work_dir("repin")
    try:
        cpus = harness.prepare_env(work)
        try:
            spark = harness.start_spark(work, cpus)
            from .tracing import Tracer

            pins = {}
            for scale in SIZES:
                wl = CurationWorkload(spark, Tracer(spark), 0, scale)
                wl.prepare(os.path.join(work, scale))
                pins[scale] = {}
                for b in range(len(wl.batches)):
                    out = os.path.join(work, scale, "out", str(b))
                    wl._batch(b, out)
                    pins[scale][str(b)] = digest(pq.read_table(out))
        finally:
            harness.stop_spark()
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {PINS}", file=sys.stderr)
    finally:
        harness.remove_work_dir(work)


if __name__ == "__main__":
    import sys

    if sys.argv[1:] != ["--repin"]:
        raise SystemExit("usage: python3 -m perfbench.curation --repin")
    repin()
