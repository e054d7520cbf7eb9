"""Smoke tests of the benchmark itself, at its smoke size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs untraced and traced at ``--size smoke``; the tests check
that every metric ``BENCHMARK.json`` names prints once with its unit, that
the traced run prints every layer ``layers.py`` gives the workload, and
that every correctness gate passes. About eight minutes on four cores.
"""

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
from layers import for_workload  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
BENCH = [w["name"] for w in SPEC["workloads"]]
WORKLOADS = BENCH + ["dedup_corpus"]  # dedup_corpus runs by name only
LINE = re.compile(r"^(metric|layer) (\S+) (\S+) (\S+)$")


def run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def printed(stdout: str) -> dict[str, list[tuple[str, str, str]]]:
    """name -> [(kind, value, unit)] for every metric and layer line."""
    out: dict[str, list] = {}
    for line in stdout.splitlines():
        m = LINE.match(line)
        if m:
            out.setdefault(m[2], []).append((m[1], m[3], m[4]))
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric_and_passes_its_gates(workload, trace):
    proc = run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1

    wanted = {m["name"]: m["unit"] for m in (SPEC["per_layer"] if trace else SPEC["end_to_end"])}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if workload in BENCH:
        assert got == wanted
    else:
        assert got.items() <= wanted.items()
    seen = printed(proc.stdout)
    for name, unit in got.items():
        assert seen.get(name) == [("metric", f"{result['metrics'][name]['value']:.6g}", unit)]

    if trace:
        assert set(seen) == set(for_workload(workload))
        assert all(len(v) == 1 for v in seen.values()), seen
    else:
        assert "failed_share 0 ratio" in lines
        assert any(x.startswith("resume_s ") for x in lines) == (workload == "pipeline_resume")
        host = json.loads(next(x for x in lines if x.startswith("host "))[5:])
        assert host["master"] == f"local[{len(os.sched_getaffinity(0))}]"
        assert host["affinity"] == sorted(os.sched_getaffinity(0))


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    proc = run(tmp_path, WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_compare_refuses_runs_with_different_inputs(tmp_path):
    record = {"workload": "extract_crawl", "seed": 1, "size": "full", "trace": 0,
              "host": {"affinity": [0]}, "inputs": {"pages": "a"}, "correct": True,
              "end_to_end": {"docs_per_s": 1.0}, "extras": {}, "layers": {}}
    (tmp_path / "a.json").write_text(json.dumps(record))
    (tmp_path / "b.json").write_text(json.dumps(record | {"inputs": {"pages": "b"}}))
    compare = [sys.executable, str(HERE / "compare.py"), "--base", str(tmp_path / "a.json")]
    same = subprocess.run(compare + ["--new", str(tmp_path / "a.json")],
                          capture_output=True, text=True)
    assert same.returncode == 0, same.stderr
    differ = subprocess.run(compare + ["--new", str(tmp_path / "b.json")],
                            capture_output=True, text=True)
    assert differ.returncode == 2 and "input digests differ" in differ.stderr
