"""The ``batch_mix`` workload: ``corpus_curation`` and ``query_mix`` in one
process. Each round is one curation micro-batch and the seven query
rows, in a seeded shuffled order. Unit op: one batch or one query, each
followed by its consumer point read (a document in the batch just
written, or an ``orders`` row); ``throughput_per_s`` counts unit ops.
Both workloads' checks and per-layer metrics apply unchanged.

One process serves both because each process pays the JVM's warm-up of
the engine's batch paths once (see NOTES.md): two processes would pay it
twice within the same run budget.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from .curation import CurationWorkload
from .querymix import ROWS, QueryMixWorkload


class BatchMixWorkload:
    round_len = 1 + len(ROWS)

    def __init__(self, spark, tracer, seed: int, scale: str, corrupt: bool = False):
        self.seed = seed
        self.cur = CurationWorkload(spark, tracer, seed, scale, corrupt)
        self.qm = QueryMixWorkload(spark, tracer, seed, scale)

    @property
    def problems(self) -> list[str]:
        return self.cur.problems + self.qm.problems

    def prepare(self, root: str) -> None:
        self.cur.prepare(os.path.join(root, "curation"))
        self.qm.prepare(os.path.join(root, "queries"))
        self.rng = np.random.default_rng([self.seed, 7])
        self.slot: dict[int, int] = {}  # round -> position of its batch
        self.batches = self.queries = 0

    def discard(self, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)

    def start(self) -> None:
        pass

    def step(self, i: int, reads: int | None = None):
        r, pos = divmod(i, self.round_len)
        if r not in self.slot:
            self.slot[r] = int(self.rng.integers(0, self.round_len))
        if pos == self.slot[r]:
            self.batches += 1
            sample = self.cur.step(self.batches - 1, reads)
        else:
            self.queries += 1
            sample = self.qm.step(self.queries - 1, reads)
        sample.work = 1.0
        return sample

    def check_final(self) -> bool:
        return self.cur.check_final() & self.qm.check_final()

    def instrument(self) -> None:
        self.cur.instrument()
        self.qm.instrument()

    def layer_metrics(self) -> dict:
        return {**self.cur.layer_metrics(), **self.qm.layer_metrics()}
