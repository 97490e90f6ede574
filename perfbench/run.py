"""Run one benchmark workload (or all five, each in its own process).

    python3 perfbench/run.py --workload cdc_view --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the root of the repository checkout. Each run prints a
``perfbench {...}`` provenance header, then as its last line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (see BENCHMARK.json and perfbench/NOTES.md). The exit code is
0 when every correctness check passed.
"""

from __future__ import annotations

import time

T_IMPORT = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("cdc_view", "cdc_fold", "corpus_curation", "query_mix", "batch_mix")


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "smoke"), default="bench",
                   help="input sizes; smoke = tiny inputs for the smoke test")
    p.add_argument("--corrupt-expectation", action="store_true",
                   help="flip one expected output (the smoke test's negative case)")
    return p.parse_args(argv)


def run_all(args) -> int:
    """Each workload in a fresh process; exit code 0 only if all pass."""
    worst = 0
    summary = {}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        sys.stdout.write(proc.stdout)
        sys.stderr.write(proc.stderr[-4000:] if proc.returncode else "")
        lines = proc.stdout.strip().splitlines()
        summary[w] = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        worst = max(worst, proc.returncode)
    print(json.dumps({"all": summary}), flush=True)
    return worst


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops Spark and waits for its JVM (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir("leftshove_spark"):
        print("perfbench: run from the root of the repository checkout "
              "(no leftshove_spark/ here)", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, os.getcwd())
    from perfbench import harness
    from perfbench.measure import run_workload

    t_proc0 = T_IMPORT - (harness.process_elapsed() - (time.perf_counter() - T_IMPORT))
    return run_workload(args, t_proc0)


if __name__ == "__main__":
    sys.exit(main())
