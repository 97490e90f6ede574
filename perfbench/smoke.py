"""The benchmark's own smoke test: every workload at sf0.001 with tiny op
counts, untraced and traced, with all their correctness checks, each
leaving no process of its own running once it has exited; one run
with a deliberately corrupted expectation, which must fail; and a run in
a directory holding only the benchmark, which must exit non-zero
without printing a result.

    python3 perfbench/smoke.py        # from the repository root

Prints ``SMOKE OK`` and exits 0 when everything behaves.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join("perfbench", "run.py")
WORKLOADS = ("cdc_view", "cdc_fold", "corpus_curation", "query_mix", "batch_mix")


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, list[str], list[int]]:
    """Exit code, stdout lines, and the pids of the run's processes
    (its own session) still running once it has exited."""
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "smoke", *extra]
    # stdout goes to a file, not a pipe: a process left running would
    # hold a pipe open, and reading it to EOF would wait for that process
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryFile("w+", dir=work) as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.DEVNULL,
                             text=True, start_new_session=True)
        rc = p.wait(timeout=900)
        left = session_members(p.pid)
        out.seek(0)
        lines = out.read().strip().splitlines()
    return rc, lines, left


def session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes in session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, ValueError):
            continue
        if fields[3] == str(sid) and fields[0] != "Z":
            pids.append(int(name))
    return pids


def result(lines: list[str]) -> dict | None:
    try:
        out = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None
    return out if isinstance(out, dict) and "correct" in out else None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    e2e = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in declared["per_layer"]}
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in WORKLOADS:
        for trace, names in ((0, e2e), (1, layers)):
            rc, lines, left = run(w, trace)
            res = result(lines)
            expect(rc == 0 and res is not None and res["correct"], f"{w} trace={trace} passes its checks")
            expect(not left, f"{w} trace={trace} leaves no process running (left: {left})")
            if res is None:
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == names, f"{w} trace={trace} prints exactly the declared metrics and units")
            expect(res["attempted"] >= 1 and res["failed"] == 0, f"{w} trace={trace} attempted/failed")

    rc, lines, left = run("corpus_curation", 0, "--corrupt-expectation")
    res = result(lines)
    expect(rc != 0 and res is not None and not res["correct"],
           "corpus_curation with a corrupted pinned digest fails")
    expect(not left, f"the failing run leaves no process running (left: {left})")

    bare = os.path.join(ROOT, ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines, _ = run("cdc_view", 0, cwd=bare)
        expect(rc != 0 and result(lines) is None,
               "a directory holding only the benchmark exits non-zero without a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass  # other runs' work dirs are still there

    if failures:
        print(f"SMOKE FAILED: {len(failures)} check(s)")
        return 1
    print("SMOKE OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
