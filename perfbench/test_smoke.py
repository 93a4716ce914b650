"""Smoke tests of the benchmark itself, at toy size (about a minute per
run on 4 vCPUs). From the root of the repository:

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def _run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                           "--seed", "5", "--seconds", "1", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


def _result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_every_metric_prints_with_its_unit(workload, trace):
    out = _result(_run("--workload", workload, "--trace", trace, "--smoke"))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    want = bench.PER_LAYER if trace == "1" else bench.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_wrong_expected_count_is_a_failed_operation():
    out = _result(_run("--workload", "audit_dirty", "--trace", "0", "--smoke",
                       "--corrupt-oracle"))
    assert not out["correct"]
    assert out["failed"] == 1


def test_benchmark_json_lists_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.PER_LAYER


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "audit_dirty", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
