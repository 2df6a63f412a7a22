"""Smoke test of the benchmark at toy size.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py

Runs every workload of BENCHMARK.json with `--toy`, untraced and traced,
and checks the result line: the four keys, a correct run, and every named
metric present with its unit. Also checks that the benchmark refuses to run
(non-zero exit, no result) in a directory holding only BENCHMARK.json and
the benchmark's own files. Takes about five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [*_spec()["command"], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--toy"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(stdout: str, metrics: list[dict]) -> None:
    res = json.loads(stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0, res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    got = {n: m["unit"] for n, m in res["metrics"].items()}
    want = {m["name"]: m["unit"] for m in metrics}
    assert got == want, (sorted(set(got) ^ set(want)),
                         {n: (got.get(n), u) for n, u in want.items() if got.get(n) != u})
    for n, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), n


def test_every_workload_reports_every_metric():
    spec = _spec()
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(ROOT, w["name"], trace)
            assert p.returncode == 0, p.stderr[-3000:]
            check_result(p.stdout, spec[key])


def test_refuses_without_the_repository():
    bare = os.path.join(ROOT, ".perfbench_work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in _spec()["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, _spec()["workloads"][0]["name"], 0)
        assert p.returncode != 0
        assert '"correct"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    test_refuses_without_the_repository()
    test_every_workload_reports_every_metric()
    print("smoke test passed")
    sys.exit(0)
