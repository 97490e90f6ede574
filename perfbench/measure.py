"""One workload's run: session, repeated set-up, warm-up, timed region,
checks, metrics. Called by run.py in a fresh process per workload."""

from __future__ import annotations

import functools
import os
import time

from . import harness
from .harness import Loop

# set-ups per run (fresh inputs, engine seeded, sinks created); setup_s
# takes their median, plus the one-off start (the CDC backlog capture)
# and the warm-up
SETUP_REPEATS = 3

# untimed warm-up ops per workload, after the set-ups (which already run
# the capture path); chosen from measured latency curves, see NOTES.md
WARMUP_OPS = {"cdc_view": 2, "cdc_fold": 2, "corpus_curation": 2, "query_mix": 7,
              "batch_mix": 8}
# consumer reads per warm-up op: the warm-up ops between them still
# warm every read path (a CDC workload's lookups alternate the W25
# table and the view across ticks); fewer than the timed ops make, to
# keep a run inside its share of the run budget
WARMUP_READS = 1
# timed ops at least: eight CDC ticks or one batch_mix round make the
# forty reads the read tail needs for a p75
MIN_TIMED_OPS = {"cdc_view": 8, "cdc_fold": 8, "corpus_curation": 1, "query_mix": 7,
                 "batch_mix": 8}
# seconds from process start by which the timed region must end: a run
# has 180 s in all, and the checks and Spark's shutdown follow it. A run
# reaches this only on a host several times slower than usual (a traced
# batch_mix run ends its timed region at ~90 s); it then stops starting
# rounds, even below MIN_TIMED_OPS, and its header says so
RUN_BUDGET_S = 150.0


def make_workload(name: str, spark, tracer, args):
    if name.startswith("cdc_"):
        from .cdc import CdcWorkload

        return CdcWorkload(spark, tracer, args.seed, args.scale, fold=name == "cdc_fold")
    if name == "corpus_curation":
        from .curation import CurationWorkload

        return CurationWorkload(spark, tracer, args.seed, args.scale, args.corrupt_expectation)
    if name == "batch_mix":
        from .mix import BatchMixWorkload

        return BatchMixWorkload(spark, tracer, args.seed, args.scale, args.corrupt_expectation)
    from .querymix import QueryMixWorkload

    return QueryMixWorkload(spark, tracer, args.seed, args.scale)


def run_workload(args, t_proc0: float) -> int:
    work = harness.make_work_dir(args.workload)
    try:
        cpus = harness.prepare_env(work)
        try:
            spark = harness.start_spark(work, cpus)
            return _run(args, spark, cpus, work, t_proc0)
        finally:
            harness.stop_spark()
    finally:
        harness.remove_work_dir(work)
        os.environ.pop("TMPDIR", None)


def _run(args, spark, cpus: int, work: str, t_proc0: float) -> int:
    import bench  # the repo's calibration job

    from .tracing import Tracer

    session_s = time.perf_counter() - t_proc0
    tracer = Tracer(spark)
    wl = make_workload(args.workload, spark, tracer, args)

    # setup_s is an end-to-end metric: a traced run sets up once
    repeats = 1 if args.trace else SETUP_REPEATS
    prep = []
    for r in range(repeats):
        root = os.path.join(work, f"setup-{r}")
        t0 = time.perf_counter()
        wl.prepare(root)
        prep.append(time.perf_counter() - t0)
        if r < repeats - 1:
            wl.discard(root)
    t0 = time.perf_counter()
    wl.start()
    start_s = time.perf_counter() - t0

    if args.trace:
        wl.instrument()

    bench_scale = args.scale == "bench"
    loop = Loop()
    harness.warm_up(functools.partial(wl.step, reads=WARMUP_READS),
                    WARMUP_OPS[args.workload] if bench_scale else wl.round_len, loop)
    # after the warm-up, so that it times the host and not the JIT
    calib_before = bench._calibration_sec(spark) if args.trace else 0.0
    first_timed = time.perf_counter()
    setup_s = session_s + harness.median(prep) + start_s + loop.warmup_s

    traced = []
    step = wl.step
    if args.trace:
        # alternate traced and untraced rounds: the per-layer numbers
        # come from the traced ones, the overhead ratio from both; an op
        # the workload must have traced (a CDC compaction tick) always is
        must_trace = getattr(wl, "must_trace", lambda i: False)

        def step(i):
            tracer.enabled = (len(traced) // wl.round_len) % 2 == 0 or must_trace(i)
            tracer.op = i
            traced.append(tracer.enabled)
            try:
                return wl.step(i)
            finally:
                tracer.enabled = False

    min_ops = MIN_TIMED_OPS[args.workload] if bench_scale else 1
    if args.trace:
        min_ops = max(min_ops, 2 * wl.round_len)
    harness.timed(step, len(loop.warm), args.seconds, wl.round_len, min_ops, loop,
                  deadline=t_proc0 + RUN_BUDGET_S)
    timed_wall = time.perf_counter() - first_timed
    calib_after = bench._calibration_sec(spark) if args.trace else 0.0

    correct = wl.check_final()
    first, last = harness.steadiness(loop.timed)
    if args.trace:
        tracer.collect_counts()
        tracer.unwrap_all()
        lat_t = [s.latency for s, t in zip(loop.timed, traced) if t]
        lat_u = [s.latency for s, t in zip(loop.timed, traced) if not t]
        common = {
            "spark.gc_s": tracer.total("jvmGcTime") / 1000.0,
            "spark.tasks": tracer.total("numCompleteTasks"),
            "host.calib_before_s": calib_before,
            "host.calib_after_s": calib_after,
            "trace.overhead_ratio": (harness.median(lat_t) / harness.median(lat_u)
                                     if lat_t and lat_u else 0.0),
            "trace.ungrouped_jobs": float(tracer.ungrouped_jobs),
            "warmup.ops": float(len(loop.warm)),
            "warmup.first_tenth_p50_s": first,
            "warmup.last_tenth_p50_s": last,
        }
        layers = {**layers_all(), **wl.layer_metrics(), **common}
        out = {k: (v, layer_unit(k)) for k, v in layers.items()}
    else:
        py_mb, jvm_mb = harness.peak_rss_mb(spark)
        out, facts = harness.end_to_end(loop, setup_s, timed_wall, py_mb + jvm_mb)
        facts["peak_rss_mb"] = {"python": round(py_mb, 1), "jvm": round(jvm_mb, 1)}
    correct = correct and not wl.problems

    harness.header(
        workload=args.workload, **harness.provenance(spark, args.seed, cpus),
        trace=args.trace, scale=args.scale, seconds=args.seconds,
        session_s=round(session_s, 3), setup_repeats_s=[round(p, 3) for p in prep],
        start_s=round(start_s, 3), warmup_ops=len(loop.warm), warmup_s=round(loop.warmup_s, 3),
        process_to_first_op_s=round(first_timed - t_proc0, 3),
        timed_ops=len(loop.timed), timed_wall_s=round(timed_wall, 3),
        timed_cut_short=loop.cut_short,
        first_tenth_p50_s=first, last_tenth_p50_s=last,
        **({} if args.trace else facts),
        warm_latencies_s=[round(s.latency, 3) for s in loop.warm],
        timed_latencies_s=[round(s.latency, 3) for s in loop.timed],
        problems=wl.problems[:10],
    )
    harness.emit(correct, len(loop.timed), sum(not s.ok for s in loop.timed), out)
    return 0 if correct else 1


def layers_all() -> dict:
    """Every per-layer metric, zero until a workload's layers fill it in:
    each traced run prints the same set."""
    from . import cdc, curation, querymix

    names = cdc.LAYER_METRICS + curation.LAYER_METRICS + querymix.LAYER_METRICS
    return dict.fromkeys(names, 0.0)


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last in ("s", "self_s") or last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "B"
    if last.endswith("ratio") or last == "write_amp":
        return "ratio"
    return "count"
