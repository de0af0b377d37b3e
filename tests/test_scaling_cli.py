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


def test_report_shows_probe_jobs_beside_wall(tmp_path):
    """Probe samples record the probe span's Spark jobs; the report shows
    them between the wall and the throughput of each level's best sample."""
    samples = tmp_path / "probe.jsonl"
    samples.write_text(
        "".join(
            json.dumps(
                {"op": "probe", "n_docs": 100, "store_docs": 2000, "n_dup_pairs": 50,
                 "jobs": jobs, "wall_s": wall, "docs_per_sec": 100 / wall, "cpus": cpus}
            ) + "\n"
            for cpus, wall, jobs in ((1, 4.0, 12), (2, 2.5, 12), (2, 2.0, 13))
        )
    )
    proc = _report(tmp_path, samples)
    assert proc.returncode == 0, proc.stderr
    assert "| parallelism | wall (s, best) | Spark jobs | docs/sec (best) |" in proc.stdout
    assert "| local[1] (N) | 4.0 | 12 | 25.0 | 25.0 |" in proc.stdout
    assert "| local[2] (2N) | 2.0 | 13 | 50.0 | 40.0, 50.0 |" in proc.stdout
