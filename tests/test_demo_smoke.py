"""CI smoke for the runnable artifacts: the corpus-pipeline demo —
which now also drives the CDC consumer triad (incremental SCD2
maintenance read back point-in-time vs derived history, plus the
Engine current_state/history/state_as_of/state_at API) — must compose
end-to-end at sf0.001. Subprocess-isolated: the demo builds its own
SparkSession, exactly as a user runs it."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_demo_pipeline_runs_end_to_end():
    res = subprocess.run(
        [sys.executable, "scripts/demo_pipeline.py", "/root/testdata/sf0.001"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,  # ~93 s standalone; headroom for host-noise bursts (r17:
        # the 420 s cap flaked purely on neighbor steal, never on code)
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "PIPELINE DEMO OK" in res.stdout
    # the stage-count JSON line is the demo's contract
    import json

    # progress-bar carriage returns can share the line — slice from the
    # JSON object's start
    line = next(ln for ln in res.stdout.splitlines() if '{"ingested"' in ln)
    counts = json.loads(line[line.index('{"ingested"'):])
    assert counts["scd2_versions"] > 0
    assert counts["engine_state_at"] == counts["engine_current_state"] > 0


def test_quickstart_curation_runs_end_to_end():
    """r14: the user-facing quickstart (VERDICT r13 next #5) is
    executable documentation — batch curation via run_pipeline →
    train parquet + merges.txt, then the incremental streaming form.
    Subprocess-isolated like the demo, exactly as a user runs it."""
    res = subprocess.run(
        [
            sys.executable,
            "scripts/quickstart_curation.py",
            "/root/testdata/sf0.001",
        ],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,  # ~93 s standalone; headroom for host-noise bursts (r17:
        # the 420 s cap flaked purely on neighbor steal, never on code)
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "QUICKSTART OK" in res.stdout
    import json

    line = next(ln for ln in res.stdout.splitlines() if '{"ingested"' in ln)
    counts = json.loads(line[line.index('{"ingested"'):])
    # every stage kept rows and the artifacts landed
    assert counts["train_rows"] > 0 and counts["bpe_merges"] > 0
    assert counts["stream_state_keys"] > 0
    # curation monotonically narrows (each stage filters, never adds)
    stages = ["ingested", "0_quality_filter", "1_exact_dedup",
              "2_near_dedup", "3_decontaminate", "4_hash_split"]
    vals = [counts[s] for s in stages]
    assert vals == sorted(vals, reverse=True)
