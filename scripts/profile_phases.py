"""Phase-level wall profiler for the heaviest bench rows (guide §1):
times each internal Spark ACTION of the scenario queries separately so
optimization targets the dominant phase, not a guess.

Usage: python scripts/profile_phases.py [sf_dir] [which...]
  which ∈ {ivfadc, semdedup, curstate, compact, bpe}
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from leftshove_spark import queries as Q  # noqa: E402
from leftshove_spark.ext import cache  # noqa: E402
from leftshove_spark.session import get_spark  # noqa: E402
from leftshove_spark.sources import load_table  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
WHICH = set(sys.argv[2:]) or {"ivfadc", "semdedup", "curstate", "compact", "bpe"}


class T:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.last = self.t0

    def lap(self, label: str) -> None:
        now = time.perf_counter()
        print(f"  {label:<42s} {now - self.last:7.3f}s")
        self.last = now

    def total(self, label: str) -> None:
        print(f"  {label:<42s} {time.perf_counter() - self.t0:7.3f}s TOTAL")


def prof_ivfadc(spark):
    from leftshove_spark.ext import similarity as S

    print("== x_knn_ivfadc_rerank phases ==")
    emb = load_table(spark, SF, "embeddings")
    t = T()
    cents = S.ivf_centroids(emb)
    t.lap("ivf_centroids (seed + 2 Lloyd iters)")
    cents2, books = S.ivfadc_train(emb)
    t.lap("ivfadc_train (re-runs centroids + sample)")
    out = S.knn_ivfadc_rerank(emb, rerank=50)
    rows = out.collect()
    t.lap(f"search job (encode+probe+adc+rerank) [{len(rows)} rows]")
    t.total("ivfadc")


def prof_semdedup(spark):
    print("== x_semdedup phases ==")
    t = T()
    rows = Q.QUERIES["x_semdedup"](spark, SF).collect()
    t.lap(f"full row [{len(rows)} rows]")
    # breakdown
    from leftshove_spark.ext import similarity as S
    from leftshove_spark.queries_ext import _planted_embedding_base

    base = _planted_embedding_base(spark, SF)
    t = T()
    cents = S.ivf_centroids(base)
    t.lap("ivf_centroids")
    out = S.semdedup(base)
    n = out.count()
    t.lap(f"semdedup after-centroids (pairs+CC+keep) [{n}]")


def prof_curstate(spark):
    import shutil
    import tempfile

    from leftshove_spark.streaming import (
        current_state_table,
        maintain_current_state,
    )

    print("== x_current_state_materialized phases ==")
    ev = load_table(spark, SF, "events")
    state = tempfile.mkdtemp(prefix="ls_prof_curstate_")
    t = T()
    try:
        for i in range(3):
            batch = ev.filter(F.col("event_id") % 3 == i)
            maintain_current_state(
                spark, state, batch, "user_id", "ts", tiebreak_cols=["event_id"]
            )
            t.lap(f"fold {i}")
            if i == 1:
                maintain_current_state(
                    spark, state, batch, "user_id", "ts",
                    tiebreak_cols=["event_id"],
                )
                t.lap("fold 1 redelivery")
        n = current_state_table(spark, state).count()
        t.lap(f"final read [{n} rows]")
        t.total("curstate")
    finally:
        shutil.rmtree(state, ignore_errors=True)


def prof_compact(spark):
    import shutil
    import tempfile

    from leftshove_spark import statestore
    from leftshove_spark.streaming import (
        current_state_table,
        maintain_current_state,
    )

    print("== x_compact_state_transparent phases ==")
    ev = load_table(spark, SF, "events")
    state = tempfile.mkdtemp(prefix="ls_prof_compact_")
    t = T()
    try:
        for i in range(2):
            maintain_current_state(
                spark, state, ev.filter(F.col("event_id") % 2 == i),
                "user_id", "ts", tiebreak_cols=["event_id"],
            )
            t.lap(f"fold {i}")
        m = statestore.load_manifest(state)
        scattered = statestore.read_state(spark, state).repartition(16, "user_id")
        statestore.commit_fold(
            spark, state, scattered, "__bucket", sorted(m["files"])
        )
        t.lap("fragment commit")
        plan = statestore.compact_partitions(
            spark, state, target_file_bytes=1 << 30, min_files=2
        )
        t.lap(f"compact_partitions [{len(plan)} parts]")
        n = current_state_table(spark, state).count()
        t.lap(f"final read [{n} rows]")
        t.total("compact")
    finally:
        shutil.rmtree(state, ignore_errors=True)


def prof_bpe(spark):
    from leftshove_spark.ext import text as X
    from leftshove_spark.queries_ext import _bpe50k_table

    print("== x_bpe_50k_vocab phases ==")
    table = _bpe50k_table()  # memoized module state; warm it untimed
    docs = load_table(spark, SF, "documents")
    t = T()
    n = X.bpe_token_counts(docs, table).count()
    t.lap(f"bpe_token_counts 50k [{n} rows]")


def main():
    spark = get_spark(app_name="leftshove-profile")
    spark.sparkContext.setLogLevel("ERROR")
    todo = {
        "ivfadc": prof_ivfadc,
        "semdedup": prof_semdedup,
        "curstate": prof_curstate,
        "compact": prof_compact,
        "bpe": prof_bpe,
    }
    for name, fn in todo.items():
        if name not in WHICH:
            continue
        for run in ("cold", "warm"):
            print(f"--- {name} ({run}) ---")
            try:
                fn(spark)
            except Exception as e:  # noqa: BLE001
                print(f"ERROR {name}: {e}")
            cache.release_pins()
            spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
