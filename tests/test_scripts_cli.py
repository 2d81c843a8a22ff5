"""Every script no test imports still parses its command line: `--help`
exits 0 (none of them starts Spark for it), so a deleted import or flag
fails here instead of at the next benchmark or spark-submit."""

import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [
    "bench_stage_runner.py",
    "bench_scaling.py",
    "jobs/run_pipeline.py",
    "jobs/run_append.py",
    "jobs/run_curate.py",
]


def _help(script: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(REPO, script), "--help"],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_help_exits_zero(script):
    p = _help(script)
    assert p.returncode == 0, p.stderr[-2000:]
    assert "usage:" in p.stdout


def test_stage_runner_stage_choices():
    """The runner measures only stages that call library operators
    directly; replicas of ERPipeline stage builds are not kept."""
    out = _help("bench_stage_runner.py").stdout
    m = re.search(r"--stage\s+\{([^}]*)\}", out)
    assert m, out
    assert set(m.group(1).split(",")) == {
        "block", "score", "cc", "minhash", "neardup_groups", "curate",
    }
