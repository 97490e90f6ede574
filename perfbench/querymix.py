"""The ``query_mix`` workload: one client over seeded, shuffled rounds of
seven ``queries.QUERIES`` rows, each drained with ``collect()``. Pins
and Spark's cache are released between queries, as ``bench.py`` does.
Unit op: one query. After each query a consumer makes point reads of
``orders`` rows by key, the read the end-to-end ``read_*`` metrics
time. Each row's result is checked once per run against its DuckDB
oracle through ``leftshove_spark.gatecheck``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from . import datagen
from .harness import Sample

ROWS = (
    "q3_shipping_priority",
    "q18_large_volume_orders",
    "t3_asof_join_bucketed",
    "w9_session_window",
    "x_knn_ivfadc_rerank",
    "x_dedup_substring",
    "x_bm25_search",
)
TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")
# sf0.001: a warm round of the seven rows takes ~8-10 s on a 4-core host,
# the first ~25 s (sf0.01: ~16 s warm, 43 s first), see NOTES.md
# reads: consumer point reads of an orders row after each query
SIZES = {"bench": {"sf": 0.001, "reads": 5}, "smoke": {"sf": 0.001, "reads": 5}}

LAYER_METRICS = tuple(
    f"queries.{row}.{what}"
    for row in ROWS
    for what in ("s", "jobs", "tasks", "shuffle_bytes", "spill_bytes")
) + ("queries.point_read.s", "queries.point_read.tasks", "queries.point_read.input_bytes")


class QueryMixWorkload:
    round_len = len(ROWS)

    def __init__(self, spark, tracer, seed: int, scale: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = SIZES[scale]
        self.problems: list[str] = []
        self.results: dict[str, tuple] = {}

    def prepare(self, root: str) -> None:
        self.root = root
        self.data = os.path.join(root, "data")
        orders = datagen.write_query_tables(self.data, self.seed, self.size["sf"])
        self.custkey = orders.column("o_custkey").to_numpy()
        self.rng = np.random.default_rng([self.seed, 6])
        self.order: list[str] = []

    def discard(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)

    def start(self) -> None:
        pass

    def _row(self, i: int) -> str:
        while len(self.order) <= i:
            self.order.extend(ROWS[j] for j in self.rng.permutation(len(ROWS)))
        return self.order[i]

    def step(self, i: int, reads: int | None = None) -> Sample:
        from pyspark.sql import functions as F

        from leftshove_spark import queries as Q
        from leftshove_spark.ext import cache
        from leftshove_spark.sources import read_parquet_normalized

        row = self._row(i)
        keys = [int(k) for k in self.rng.integers(0, len(self.custkey), reads or self.size["reads"])]
        cache.release_pins()
        self.spark.catalog.clearCache()
        ok = True
        with self.tracer.op_span(f"queries.{row}"):
            t0 = time.perf_counter()
            try:
                df = Q.QUERIES[row](self.spark, self.data)
                rows = df.collect()
            except Exception as e:  # a failed query is counted, not fatal
                self.problems.append(f"{row}: {type(e).__name__}: {e}"[:500])
                ok = False
            dt = time.perf_counter() - t0
        reads = []
        for key in keys:
            with self.tracer.op_span("queries.point_read"):
                t1 = time.perf_counter()
                got = (
                    read_parquet_normalized(self.spark, f"{self.data}/orders.parquet")
                    .filter(F.col("o_orderkey") == key).select("o_custkey").collect()
                )
                reads.append(time.perf_counter() - t1)
            if [r[0] for r in got] != [int(self.custkey[key])]:
                self.problems.append(f"point read orders[{key}]: got {got}")
                ok = False
        if ok and row not in self.results:
            self.results[row] = (df.columns, [tuple(r) for r in rows])
        return Sample(latency=dt if ok else float("inf"), reads=reads, work=1.0, ok=ok)

    def check_final(self) -> bool:
        """Each row's first result against its DuckDB oracle."""
        import duckdb

        from leftshove_spark import gatecheck
        from leftshove_spark import queries as Q

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')")
        ok = True
        for row, (cols, rows) in sorted(self.results.items()):
            good, detail = gatecheck.compare(cols, rows, con, Q.oracle(row))
            if not good:
                self.problems.append(f"{row} vs oracle: {detail}"[:500])
                ok = False
        con.close()
        return ok

    def instrument(self) -> None:
        pass

    def layer_metrics(self) -> dict:
        tr = self.tracer
        m = {}
        for row in ROWS:
            n = f"queries.{row}"
            m[f"{n}.s"] = tr.per_call(n)
            m[f"{n}.jobs"] = tr.per_call(n, "jobs")
            m[f"{n}.tasks"] = tr.per_call(n, "numCompleteTasks")
            m[f"{n}.shuffle_bytes"] = tr.per_call(n, "shuffleWriteBytes")
            m[f"{n}.spill_bytes"] = tr.per_call(n, "memoryBytesSpilled") + tr.per_call(n, "diskBytesSpilled")
        m["queries.point_read.s"] = tr.per_call("queries.point_read")
        m["queries.point_read.tasks"] = tr.per_call("queries.point_read", "numCompleteTasks")
        m["queries.point_read.input_bytes"] = tr.per_call("queries.point_read", "inputBytes")
        return m
