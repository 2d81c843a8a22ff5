"""Every script no test imports still parses its command line: `--help`
exits 0 (none of them starts Spark for it), so a deleted import or flag
fails here instead of at the next benchmark or spark-submit. Every flag a
script parses must also be read, so no flag is accepted and ignored."""

import ast
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


def _dest(call: ast.Call) -> str:
    """argparse's destination for one add_argument call."""
    for kw in call.keywords:
        if kw.arg == "dest":
            return kw.value.value
    flags = [a.value for a in call.args if isinstance(a, ast.Constant)]
    name = next((f for f in flags if f.startswith("--")), flags[0])
    return name.lstrip("-").replace("-", "_")


@pytest.mark.parametrize("script", SCRIPTS)
def test_script_reads_every_flag(script):
    """A flag the script parses but never reads as `args.<dest>` is a
    setting that silently does nothing."""
    with open(os.path.join(REPO, script)) as f:
        tree = ast.parse(f.read())
    dests, reads = set(), set()
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "add_argument"):
            dests.add(_dest(node))
        elif (isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)
                and isinstance(node.value, ast.Name) and node.value.id == "args"):
            reads.add(node.attr)
    assert dests
    assert dests <= reads, f"parsed but never read: {sorted(dests - reads)}"


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
