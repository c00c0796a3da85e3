"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

NAME is one of the workloads in ``workloads.py`` or ``all``. Run from the
root of a checkout. The harness generates the run's inputs from the seed,
starts one Spark process (``worker.py``) on ``local[$SPARK_GRAFT_CPUS]``
(default: every CPU), and waits for it. It prints a summary of every metric
(unit, sample count, median, quartiles), then a detail line (every sample,
host facts, failures), and last the one-line JSON result. Metric names and
units come from ``BENCHMARK.json``: with ``--trace 0`` its end-to-end
metrics, with ``--trace 1`` its per-layer metrics.

Everything the run writes goes under ``perfbench/_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import dataclasses
import glob
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the program, and tools/check_oracle.py

import workloads as W  # noqa: E402

# A run must end within 180 s: the worker's limit plus stop_session's grace.
WORKER_TIMEOUT_S = 160
# Printed for every run; BENCHMARK.json's end_to_end list says which of them
# the result line carries and bounds.
REPORTED = {"wall_s": "s", "first_run_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
PACKAGE = "data_warehouse_migration_spark"


class BenchError(RuntimeError):
    pass


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def _session_pids(sid: int) -> list[int]:
    pids = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields: state, ppid, pgrp, session, ...; a zombie has ended.
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(stat.split("/")[2]))
    return pids


def stop_session(sid: int) -> None:
    """Stop every process the worker started (its JVM, Python daemons) and
    wait until they have ended."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        deadline = time.time() + grace
        while (pids := _session_pids(sid)) and time.time() < deadline:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)
        if not _session_pids(sid):
            return
    raise BenchError(f"processes of session {sid} survived SIGKILL")


def cpu_times() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def source_facts() -> dict:
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        done = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, check=False)
        commit = done.stdout.strip() or None
    return {"commit": commit, "source_sha256": digest.hexdigest()}


def run_workload(w: W.Workload, args) -> dict:
    out = os.path.join(HERE, "_work", f"{w.name}-seed{args.seed}-{os.getpid()}")
    scratch = [os.path.join(out, d) for d in ("data", "tmp", "spark-local")]
    data, tmp, local = scratch
    try:
        for d in scratch:
            os.makedirs(d, exist_ok=True)
        res, facts = _run_worker(w, args, out, data, tmp, local)
    finally:
        for d in scratch:
            W.shutil.rmtree(d, ignore_errors=True)
    # Reported values; samples give the sample count and quartiles (for
    # wall_s, the warm pass totals).
    return {
        "values": {
            "wall_s": res["wall_s"],
            "first_run_s": res["first_run_s"],
            "setup_s": facts["setup_s"],
            "peak_rss_mb": res["peak_rss_mb"],
        },
        "samples": {
            "wall_s": res["pass_s"],
            "first_run_s": [res["first_run_s"]],
            "setup_s": [facts["setup_s"]],
            "peak_rss_mb": [res["peak_rss_mb"]],
        },
        "op_s": res["op_s"],
        "attempted": res["attempted"],
        "failures": res["failures"],
        "layers": res["layers"],
        "count_drift": res["count_drift"],
        "host": facts["host"],
    }


def _run_worker(w: W.Workload, args, out: str, data: str, tmp: str, local: str):
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    load_before = os.getloadavg()[0]
    cpu_before = cpu_times()
    t_gen = time.perf_counter()
    inputs = W.prepare(w, data, args.seed)
    gen_s = time.perf_counter() - t_gen
    spec = {
        "workload": dataclasses.asdict(w), "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace),
        "corrupt": args.corrupt, "data": data, "tmp": tmp, "out": out,
    }
    spec_path = os.path.join(out, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    env = dict(
        os.environ,
        # Spark's Python workers import the program by module path.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    log_path = os.path.join(out, "worker.log")
    with open(log_path, "w") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            proc.kill()
            proc.wait()
            stop_session(proc.pid)
    load_after = os.getloadavg()[0]
    cpu_spent = [b - a for a, b in zip(cpu_before, cpu_times())]
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise BenchError(f"{w.name}: worker exited {rc} (timeout {WORKER_TIMEOUT_S}s)\n{tail}")
    with open(result_path) as fh:
        res = json.load(fh)
    facts = {
        "setup_s": res["t_ready"] - t_spawn,
        "host": {
            "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": cpus,
            "spark_cores": res["cores"], "load_1m_before": load_before,
            "load_1m_after": load_after,
            # Share of the run's CPU time the hypervisor gave to others.
            "cpu_steal_frac": cpu_spent[7] / max(sum(cpu_spent), 1),
            "versions": res["versions"],
            "input_rows": inputs, "input_gen_s": gen_s,
        },
    }
    return res, facts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*W.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smallest inputs and one warm pass (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt the first checked result (self-test)")
    args = ap.parse_args(argv)

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    with open(bench_path) as fh:
        bench = json.load(fh)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]

    names = list(W.WORKLOADS) if args.workload == "all" else [args.workload]
    runs = {}
    try:
        for name in names:
            w = W.WORKLOADS[name]
            if args.tiny:
                w = dataclasses.replace(w, min_passes=1, **W.TINY[name])
            runs[name] = run_workload(w, args)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1

    metrics, attempted, failed = {}, 0, 0
    for name, r in runs.items():
        attempted += r["attempted"]
        failed += len(r["failures"])
        prefix = f"{name}." if len(runs) > 1 else ""
        print(f"== {name}: {len(r['failures'])}/{r['attempted']} operations failed "
              f"(failed_frac {len(r['failures']) / r['attempted']:.4f})")
        if args.trace:
            values = r["layers"]
            for m in wanted:
                print(f"  {m['name']:<34} {values.get(m['name'], 0):>14.6g} {m['unit']}")
        else:
            values = r["values"]
            for key, unit in REPORTED.items():
                samples = r["samples"][key]
                q1, med, q3 = quartiles(samples)
                print(f"  {key:<12} {values[key]:>10.4f} {unit:<3} n={len(samples):<2} "
                      f"samples: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f}")
        for m in wanted:
            metrics[prefix + m["name"]] = {"value": values.get(m["name"], 0), "unit": m["unit"]}
        for f in r["failures"]:
            print(f"  FAILED {f['op']}: {f['why'].strip().splitlines()[-1][:200]}")
        if r["count_drift"]:
            print(f"  exact counts drifted between traced passes: {r['count_drift']}")
    print(json.dumps({"detail": {"source": source_facts(), "runs": runs}}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
