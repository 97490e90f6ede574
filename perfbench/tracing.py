"""Spans around the calls into each layer, and Spark counts per span.

The benchmark never edits the program: it swaps the module attribute a
caller resolves (``leftshove_spark.engine.append_snapshot``,
``pipeline_runner.STAGES[op]``, ...) for a wrapper that records a span
and sets the Spark job group to the span's id, so every job the call
launches is attributed to it. Spans live in memory; Spark's counts are
read from the status store only after the timed region, so walls are
unperturbed. With the tracer disabled every wrapper is a pass-through.
"""

from __future__ import annotations

import functools
import itertools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# StageData fields summed per span (status store, after the timed region)
STAGE_FIELDS = (
    "numCompleteTasks", "executorRunTime", "executorCpuTime", "jvmGcTime",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "inputBytes", "outputBytes",
)


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    # jobs that started during this root span without any job group
    # (launched from a plain thread of the program's own, which does not
    # inherit Spark's thread-local properties)
    adopted: set = field(default_factory=set)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.op = -1
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._restore: list = []
        self.ungrouped_jobs = 0

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, self.op, parent.sid if parent else None,
                  time.perf_counter())
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    @contextmanager
    def op_span(self, name: str):
        """Root span within the current unit op (``self.op``, set by the
        measured loop). Jobs that start while it runs but carry no job
        group are counted (``ungrouped_jobs``) and attributed to it."""
        if not self.enabled:
            yield None
            return
        before = set(self.sc.statusTracker().getJobIdsForGroup(None))
        with self.span(name) as sp:
            yield sp
        sp.adopted = set(self.sc.statusTracker().getJobIdsForGroup(None)) - before
        self.ungrouped_jobs += len(sp.adopted)

    def wrap(self, owner, attr: str, name: str, after=None, key=None) -> None:
        """Replace ``owner.attr`` (or ``owner[key]`` for a dict) with a
        span-recording wrapper; ``after(span, args, kwargs, result)``
        may add counts once the span has closed."""
        orig = owner[key] if key is not None else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, result)
            return result

        if key is not None:
            owner[key] = wrapper
            self._restore.append(lambda: owner.__setitem__(key, orig))
        else:
            setattr(owner, attr, wrapper)
            self._restore.append(lambda: setattr(owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._restore:
            self._restore.pop()()

    # ----------------------------------------------------- Spark counts
    def collect_counts(self) -> None:
        """Attach per-span Spark counts: jobs, then the StageData fields
        of each stage, read from the status store. A stage a later job
        reuses (skipped there) is listed by both jobs under one id; it
        is counted once, for the first job that lists it."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        job_span: dict[int, Span] = {}
        for sp in self.spans:
            jobs = set(tracker.getJobIdsForGroup(sp.group)) | sp.adopted
            sp.counts["jobs"] = len(jobs)
            job_span.update((jid, sp) for jid in jobs)
        owner: dict[int, int] = {}
        for jid in sorted(job_span):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                owner.setdefault(sid, jid)
        for sid, jid in owner.items():
            sp = job_span[jid]
            for k, v in _stage_counts(store, sid).items():
                sp.counts[k] = sp.counts.get(k, 0) + v

    # --------------------------------------------------------- summaries
    def ops(self, root: str | None = None) -> list[int]:
        """The traced ops; with ``root``, only those with a root span of
        that name (``batch_mix`` mixes batches and queries)."""
        return sorted({sp.op for sp in self.spans
                       if root is None or (sp.parent is None and sp.name == root)})

    def per_op(self, name: str, what: str = "s", tree: bool = False,
               root: str | None = None) -> float:
        """Mean per traced op (per op with root span ``root``) of
        ``what`` summed over ``name``'s spans: ``s`` (wall seconds),
        ``calls``, or a count key; with ``tree`` a count also sums over
        the spans' descendants."""
        ops = self.ops(root)
        if not ops:
            return 0.0
        spans = [sp for sp in self.spans if sp.name == name]
        if what == "s":
            tot = sum(sp.end - sp.start for sp in spans)
        elif what == "calls":
            tot = len(spans)
        else:
            if tree:
                spans = self._with_descendants(spans)
            tot = sum(sp.counts.get(what, 0) for sp in spans)
        return tot / len(ops)

    def _with_descendants(self, roots: list[Span]) -> list[Span]:
        children = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        out, todo = [], list(roots)
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(children[sp.sid])
        return out

    def per_call(self, name: str, what: str = "s") -> float:
        """Mean per ``name`` span of ``what`` (as in :meth:`per_op`)."""
        spans = [sp for sp in self.spans if sp.name == name]
        if not spans:
            return 0.0
        if what == "s":
            return sum(sp.end - sp.start for sp in spans) / len(spans)
        return sum(sp.counts.get(what, 0) for sp in spans) / len(spans)

    def self_time(self, name: str) -> float:
        """Mean per op of ``name``'s span time not covered by its
        direct children."""
        ops = self.ops()
        children = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        tot = 0.0
        for sp in self.spans:
            if sp.name == name:
                tot += (sp.end - sp.start) - _covered(children[sp.sid])
        return tot / len(ops) if ops else 0.0

    def total(self, what: str) -> float:
        """Mean per op of a count over every span (each job is in
        exactly one span's group, so nothing is counted twice)."""
        ops = self.ops()
        return sum(sp.counts.get(what, 0) for sp in self.spans) / len(ops) if ops else 0.0


def _stage_counts(store, sid: int) -> dict:
    try:
        sd = store.lastStageAttempt(sid)
    except Py4JJavaError:  # stage evicted from the store or never ran
        return {}
    return {f: int(getattr(sd, f)()) for f in STAGE_FIELDS}


def _covered(spans: list[Span]) -> float:
    """Length of the union of the spans' intervals."""
    tot, cur_s, cur_e = 0.0, None, None
    for sp in sorted(spans, key=lambda s: s.start):
        if cur_e is None or sp.start > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = sp.start, sp.end
        else:
            cur_e = max(cur_e, sp.end)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot
