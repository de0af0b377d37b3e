"""scripts/scaling.py report: the sampling policy on committed samples,
and the parallelism-invariance refusal. Pure Python, no Spark session."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
SCRIPT = REPO / "scripts" / "scaling.py"
HEAD_SAMPLES = REPO / "BENCH" / "raw" / "scaling_r6_head_samples.jsonl"


def _report(tmp_path, *samples):
    return subprocess.run(
        [sys.executable, str(SCRIPT), "report", str(tmp_path / "out.md"), *map(str, samples)],
        capture_output=True,
        text=True,
        timeout=60,
    )


def test_report_reproduces_r6_head_block(tmp_path):
    """The pre-registered round-6 HEAD block (BENCH/SCALING_R6_HEAD.md):
    best-of per level 497.7 @ local[1] and 1666.6 @ local[4], efficiency
    0.837."""
    proc = _report(tmp_path, HEAD_SAMPLES)
    assert proc.returncode == 0, proc.stderr
    out = proc.stdout
    assert "(thr@4 / thr@1) / 4 = 0.837" in out
    assert "| local[1] (N) | 602.8 | 497.7 |" in out
    assert "| local[4] (4N) | 180.0 | 1666.6 |" in out
    assert "Stage-min composite efficiency: 0.882" in out
    assert (tmp_path / "out.md").read_text() in out


def test_report_refuses_divergent_cluster_members(tmp_path):
    rows = [json.loads(line) for line in HEAD_SAMPLES.read_text().splitlines() if line.strip()]
    rows[-1]["n_cluster_members"] += 1
    bad = tmp_path / "bad.jsonl"
    bad.write_text("".join(json.dumps(r) + "\n" for r in rows))
    proc = _report(tmp_path, bad)
    assert proc.returncode != 0
    assert "n_cluster_members diverged" in proc.stderr
    assert not (tmp_path / "out.md").exists()
