"""Process set-up, the measured loop, statistics and the result line.

Shared by every workload. A run is one Python process: a closed loop
with one client and no threads of the benchmark's own.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

WORK_ROOT = ".perfbench_work"
# a small, fixed heap, committed and touched when the JVM starts, keeps
# the JVM's peak RSS repeatable: left to grow, a 3g heap ranged over
# 1,000-1,600 MB from run to run of the same code, and a 1g heap over
# 850-1,180 MB (see NOTES.md)
JVM_HEAP = "1g"
# Spark task threads (local[N]), unless SPARK_GRAFT_CPUS says otherwise;
# never more than nproc. The jobs are small enough to be bound by
# per-job overhead, so two threads run them about as fast as four, and
# leave cores to the JVM's GC and JIT threads and to the Python driver
# and workers; runs varied less with two (see NOTES.md)
SPARK_CPUS = 2
# fewest samples for which the tail rule gives at least the p75
TAIL_MIN_N = 40
# seconds to wait for the JVM and its workers to exit after Spark stops
STOP_WAIT_S = 30.0


def process_elapsed() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> int:
    """Export what the engine reads at import, before importing it:
    the core count, a JVM heap that fits the host, the repo on the
    Python workers' path, and temporary dirs inside the work dir."""
    cpus = min(int(os.environ.get("SPARK_GRAFT_CPUS", SPARK_CPUS)), nproc())
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", JVM_HEAP)
    repo = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    if repo not in sys.path:
        sys.path.insert(0, repo)
    return cpus


def start_spark(work: str, cpus: int):
    from leftshove_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the whole heap committed and touched at start (JVM_HEAP)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            ),
            # keep every job/stage of a run in the status store for the
            # traced run's per-span counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    master = spark.sparkContext.master
    if master != f"local[{cpus}]":
        raise SystemExit(f"perfbench: master is {master}, expected local[{cpus}]")
    return spark


def stop_spark() -> None:
    """Stop the active SparkContext, end its JVM and wait until the JVM
    and every process it started have exited. The gateway JVM exits on
    EOF of the stdin pipe this process holds; left alone, that happens
    only once this process has ended, so the JVM would outlive the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        # the JVM's Python workers, listed while the JVM is still their parent
        family = _descendants(os.getpid())
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=STOP_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _await_exit(family)


def _proc_stat(pid: int) -> tuple[str, int, int] | None:
    """``(state, ppid, start ticks)`` of a process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return fields[0], int(fields[1]), int(fields[19])


def _descendants(root: int) -> list[tuple[int, int]]:
    """``(pid, start ticks)`` of every live descendant of ``root``."""
    children: dict[int, list[tuple[int, int]]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                children.setdefault(st[1], []).append((int(name), st[2]))
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid[0])
    return out


def _await_exit(family: list[tuple[int, int]]) -> None:
    """Wait until each process has exited; terminate, then kill, any
    that is still running after ``STOP_WAIT_S``."""
    def alive():
        left = []
        for pid, start in family:
            st = _proc_stat(pid)
            if st is not None and st[2] == start and st[0] != "Z":
                left.append(pid)
        return left

    deadline = time.monotonic() + STOP_WAIT_S
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in alive() if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
        if not alive():
            return
        deadline = time.monotonic() + 5.0


def provenance(spark, seed: int, cpus: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except OSError:
        commit = "unknown"
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": cpus,
        "pyspark": pyspark.__version__,
        "git_commit": commit,
        "seed": seed,
    }


def peak_rss_mb(spark) -> tuple[float, float]:
    """VmHWM of this Python process and of the JVM, in MB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return _vmhwm_kb(os.getpid()) / 1024.0, _vmhwm_kb(jvm_pid) / 1024.0


def _vmhwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ------------------------------------------------------------- statistics
def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, n)``. Below ``TAIL_MIN_N`` samples that
    percentile would sit under the p75 (under the median for n < 21),
    so the maximum is reported instead, as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n < TAIL_MIN_N:
        return xs[-1], 100.0, n
    k = n - 11
    return xs[k], round(100.0 * (k + 1) / n, 2), n


def median(values: list[float]) -> float:
    return statistics.median(values)


# ------------------------------------------------------------------- loop
@dataclass
class Sample:
    """One unit op: its latency (``inf`` when it failed, so it misses
    any limit), the consumer reads it made and the work units it moved."""

    latency: float
    reads: list[float] = field(default_factory=list)
    work: float = 0.0
    ok: bool = True


@dataclass
class Loop:
    warm: list[Sample] = field(default_factory=list)
    timed: list[Sample] = field(default_factory=list)
    warmup_s: float = 0.0
    cut_short: bool = False


def warm_up(step, ops: int, loop: Loop) -> None:
    t0 = time.perf_counter()
    for i in range(ops):
        loop.warm.append(step(i))
    loop.warmup_s = time.perf_counter() - t0


def timed(step, first: int, seconds: float, round_len: int, min_ops: int, loop: Loop,
          deadline: float = float("inf")) -> None:
    """Whole rounds of ``round_len`` ops until ``seconds`` have passed
    and at least ``min_ops`` ops ran. After the first round, no round
    starts that the longest round so far says would end past
    ``deadline`` (a ``perf_counter`` time); ``loop.cut_short`` records
    that it stopped one."""
    t0 = time.perf_counter()
    i = first
    longest = 0.0
    while time.perf_counter() - t0 < seconds or len(loop.timed) < min_ops:
        r0 = time.perf_counter()
        if loop.timed and r0 + longest > deadline:
            loop.cut_short = True
            return
        for _ in range(round_len):
            loop.timed.append(step(i))
            i += 1
        longest = max(longest, time.perf_counter() - r0)


def steadiness(samples: list[Sample]) -> tuple[float, float]:
    """Medians of the first and last tenth of the timed ops."""
    lat = [s.latency for s in samples]
    k = max(1, len(lat) // 10)
    return median(lat[:k]), median(lat[-k:])


def end_to_end(loop: Loop, setup_s: float, timed_wall: float, rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics and the header facts behind them;
    throughput is work per second of the timed region's wall."""
    lat = [s.latency for s in loop.timed]
    # no reads only when every op failed: the reads then miss any limit
    reads = [r for s in loop.timed for r in s.reads] or [float("inf")]
    work = sum(s.work for s in loop.timed if s.ok)
    lt, lp, ln = tail(lat)
    rt, rp, rn = tail(reads)
    m = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (median(lat), "s"),
        "latency_tail_s": (lt, "s"),
        "throughput_per_s": (work / timed_wall, "1/s"),
        "read_p50_s": (median(reads), "s"),
        "read_tail_s": (rt, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    facts = {"latency_tail": {"percentile": lp, "n": ln}, "read_tail": {"percentile": rp, "n": rn}}
    return m, facts


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": _finite(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }
    print(json.dumps(out), flush=True)


def _finite(v: float) -> float:
    # a failed op has latency inf; the run is then not correct, and the
    # statistic is reported as a large finite sentinel JSON can carry
    return v if v == v and v != float("inf") else 1e9


def header(**facts) -> None:
    print("perfbench " + json.dumps(facts, default=str), flush=True)


def make_work_dir(workload: str) -> str:
    work = os.path.join(os.getcwd(), WORK_ROOT, f"{workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    return work


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    root = os.path.dirname(work)
    try:
        os.rmdir(root)
    except OSError:
        pass
