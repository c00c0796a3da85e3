"""Self-test of the benchmark at its smallest sizes (sf 0.001 tables, the
50-customer/200-order JDE fixture, one warm pass).

    python3 perfbench/selftest.py        # or: python3 -m pytest perfbench/selftest.py

Checks that every metric in BENCHMARK.json is emitted with its unit, that a
clean run counts no failures, that a deliberately corrupted result is counted
as a failed operation, and that the harness refuses to run without the
program beside it. Takes a few minutes: it starts four Spark processes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench(*extra: str, cwd: str = ROOT) -> tuple[int, str]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", "all", "--seed", "7", "--seconds", "0", "--tiny", *extra]
    done = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    return done.returncode, done.stdout


def _result(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, wanted: list[dict]) -> None:
    for name in W.WORKLOADS:
        for m in wanted:
            got = result["metrics"].get(f"{name}.{m['name']}")
            assert got is not None, f"{name}.{m['name']} missing"
            assert got["unit"] == m["unit"], (name, m, got)
            assert isinstance(got["value"], (int, float)), (name, m, got)


def test_selftest() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    rc, out = _bench("--trace", "0")
    assert rc == 0, out[-3000:]
    clean = _result(out)
    _assert_metrics(clean, bench["end_to_end"])
    assert clean["correct"] and clean["failed"] == 0, clean
    assert clean["attempted"] > 0

    rc, out = _bench("--trace", "1", "--corrupt")
    assert rc == 0, out[-3000:]
    corrupted = _result(out)
    _assert_metrics(corrupted, bench["per_layer"])
    # One corrupted check per workload, each counted as a failed operation.
    assert not corrupted["correct"], corrupted
    assert corrupted["failed"] == len(W.WORKLOADS), corrupted
    for name in W.WORKLOADS:
        assert corrupted["metrics"][f"{name}.trace.count_drift"]["value"] == 0, name

    # Without the program beside it the harness fails and prints no result.
    bare = os.path.join(HERE, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        rc, out = _bench("--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and not out.strip(), (rc, out)


if __name__ == "__main__":
    test_selftest()
    print("perfbench self-test passed")
