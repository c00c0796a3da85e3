"""Spark-side half of the benchmark: one process runs one workload once.

``run.py`` starts this file with a JSON spec and reads back the JSON result
it writes. The process times its own set-up (imports, ``get_spark()``, one
trivial job), then a cold first pass whose outputs it checks (the check
itself untimed), then warm passes until the run's seconds are spent. With
tracing on the warm passes alternate traced and untraced, traced first; the
traced ones record spans and Spark facts per operation.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
from contextlib import ExitStack
from unittest import mock

import workloads as W
from probe import SparkProbe, Tracer

# Per-layer counts that must repeat exactly between traced passes.
EXACT = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
    "queries.build_jobs", "sources.files_written",
    "operators.scd2.versions_added", "plans.attempts",
)


def _sum(dicts: list[dict]) -> dict:
    out: dict = {}
    for d in dicts:
        for k, v in d.items():
            out[k] = out.get(k, 0) + v
    return out


class Run:
    def __init__(self, spark, spec: dict, workload: W.Workload) -> None:
        self.spark = spark
        self.spec = spec
        self.w = workload
        self.tracer = Tracer()
        self.probe = SparkProbe(spark)
        self.attempted = 0
        self.failures: list[dict] = []
        self.stage_s: dict[str, float] = {}  # the current load's stage seconds

    def fail(self, op: str, why: str) -> None:
        self.failures.append({"op": op, "why": why[-2000:]})

    # -- one pass over the workload ---------------------------------------

    def passes(self, run_pass) -> dict:
        """The cold first pass (which also checks the outputs), then warm
        passes for the run's seconds.

        A pass returns its wall seconds, the seconds of each operation and,
        when traced, its Spark facts. ``wall_s`` is the sum over operations
        of each one's median warm time, so one slow pass or one interference
        spike moves it less than it moves a pass total.
        """
        with self.tracer.span("first_run"):
            cold = run_pass(0, traced=False)
        warm, traced = [], []
        start = time.perf_counter()
        while True:
            # Traced runs alternate traced and untraced passes, traced first,
            # and stop after two traced ones; the untraced pass between them
            # is the base of the overhead ratio.
            tracing = self.spec["trace"] and len(traced) <= len(warm)
            k = len(warm) + len(traced) + 1
            with self.tracer.span("traced" if tracing else "warm", index=k):
                (traced if tracing else warm).append(run_pass(k, traced=tracing))
            if self.spec["trace"]:
                done = len(traced) >= 2 and len(warm) >= 1
            else:
                done = len(warm) >= self.w.min_passes
            if done and time.perf_counter() - start >= self.spec["seconds"]:
                break
        op_s: dict[str, list[float]] = {}
        for p in warm:
            for op, seconds in p["ops"].items():
                op_s.setdefault(op, []).append(seconds)
        return {
            "first_run_s": cold["wall"],
            "wall_s": sum(statistics.median(v) for v in op_s.values()),
            "pass_s": [p["wall"] for p in warm],
            "op_s": op_s,
            "traced": traced,
        }

    # -- catalog workloads --------------------------------------------------

    def catalog(self) -> dict:
        from data_warehouse_migration_spark.catalog import REGISTRY

        sf_dir = os.path.join(self.spec["data"], "tables")
        order = W.query_order(self.w, self.spec["seed"])
        con = W.duckdb_views(sf_dir)

        def run_pass(k: int, traced: bool) -> dict:
            ops, per_op, checking = {}, [], 0.0
            t0 = time.perf_counter()
            for i, name in enumerate(order):
                q = REGISTRY[name]
                self.attempted += 1
                q0 = time.perf_counter()
                try:
                    facts, result = self.query(q, sf_dir, traced, collect=k == 0)
                except Exception:  # noqa: BLE001 — count it, keep running
                    self.fail(name, traceback.format_exc())
                    continue
                ops[name] = time.perf_counter() - q0
                if traced:
                    per_op.append(facts)
                if k == 0:  # the cold pass collects; its check is not timed
                    c0 = time.perf_counter()
                    self.check(con, q, result, corrupt=self.spec["corrupt"] and i == 0)
                    checking += time.perf_counter() - c0
            wall = time.perf_counter() - t0 - checking
            return {"wall": wall, "ops": ops, "facts": _sum(per_op)}

        try:
            return self.passes(run_pass)
        finally:
            con.close()

    def check(self, con, q, result, corrupt: bool) -> None:
        self.attempted += 1
        try:
            problem = W.check_query(con, q, *result, corrupt=corrupt)
        except Exception:  # noqa: BLE001
            problem = traceback.format_exc()
        if problem:
            self.fail(f"check:{q.name}", problem)

    def query(self, q, sf_dir: str, traced: bool, collect: bool):
        """Build and force one query: the noop sink, or a collect when the
        result is to be checked. Returns (facts or None, (columns, rows))."""
        spark = self.spark
        spark.catalog.clearCache()

        def force(df):
            if collect:
                return df.columns, [tuple(r) for r in df.collect()]
            df.write.format("noop").mode("overwrite").save()
            return None

        if not traced:
            return None, force(q.spark_fn(spark, sf_dir))
        sc, probe, tracer = spark.sparkContext, self.probe, self.tracer
        since = probe.mark()
        with tracer.span(q.name, layer="queries") as op:
            sc.setJobGroup(q.name, f"{q.name}: build")
            with tracer.span("build", layer="queries") as build:
                df = q.spark_fn(spark, sf_dir)
            build_jobs = sc._jsc.sc().dagScheduler().nextJobId() - since[0]
            # Planning of the final action's plan, forced on its own so it
            # can be timed; the noop write below plans the same tree again.
            with tracer.span("plan", layer="spark") as plan:
                df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(q.name, f"{q.name}: action")
            with tracer.span("action", layer="spark") as action:
                result = force(df)
        facts = probe.facts(since)
        build_s = build["end"] - build["start"]
        action_s = action["end"] - action["start"]
        facts.update({
            "queries.build_s": build_s,
            "queries.build_jobs": build_jobs,
            "spark.plan_s": plan["end"] - plan["start"],
            "spark.driver_gap_s": build_s + action_s - facts["spark.stage_active_s"],
        })
        op["facts"] = facts
        return facts, result

    # -- JDE migration --------------------------------------------------------

    def jde(self) -> dict:
        source = os.path.join(self.spec["data"], "source")

        def run_pass(k: int, traced: bool) -> dict:
            root = os.path.join(self.spec["data"], f"root{k}")
            W.fresh_root(source, root)
            ops: dict[str, float] = {}
            t_init, init_out, f_init = self.load(root, W.JDE_INITIAL_AT, traced,
                                                 ops, "initial")
            n_changed = W.change_customers(
                os.path.join(root, "landing"), self.spec["seed"]
            )
            t_incr, incr_out, f_incr = self.load(root, W.JDE_INCREMENTAL_AT, traced,
                                                 ops, "incremental")
            if k == 0:  # the cold cycle's outputs are checked, untimed
                self.check_warehouse(root, n_changed, init_out)
            W.shutil.rmtree(root, ignore_errors=True)
            facts = _sum([f_init, f_incr])
            if traced and init_out and incr_out:
                facts["operators.scd2.versions_added"] = (
                    incr_out["counts"]["Dim_Customer"] - init_out["counts"]["Dim_Customer"]
                )
            return {"wall": t_init + t_incr, "facts": facts, "ops": ops}

        return self.passes(run_pass)

    def check_warehouse(self, root: str, n_changed: int, initial: dict | None) -> None:
        try:
            if initial is None:
                raise RuntimeError("the initial load did not complete")
            problems = W.jde_checks(
                self.spark, root, self.w.customers, n_changed,
                initial["counts"], corrupt=self.spec["corrupt"],
            )
        except Exception:  # noqa: BLE001
            problems = {"jde_checks": traceback.format_exc()}
        for name, problem in problems.items():
            self.attempted += 1
            if problem:
                self.fail(f"check:{name}", problem)

    def load(self, root: str, now, traced: bool, ops: dict, label: str):
        """One run_warehouse call. Each of its stages is one operation, timed
        into ``ops`` as ``<label>.<stage>``; the orchestrator's own time
        between and around the stages is ``<label>.orchestration``."""
        from data_warehouse_migration_spark.plans import jde_warehouse, pipeline

        captured: dict = {}
        stage_facts: list[dict] = []
        original = pipeline.run_pipeline

        def capture(stages, on_failure=None):
            captured["result"] = original(stages, on_failure)
            return captured["result"]

        with ExitStack() as stack:
            stack.enter_context(mock.patch.object(pipeline, "run_pipeline", capture))
            for stage, fn_name in W.JDE_STAGES.items():
                fn = self.timed_stage(stage, getattr(jde_warehouse, fn_name))
                if traced:
                    fn = self.traced_stage(stage, fn, stage_facts)
                stack.enter_context(mock.patch.object(jde_warehouse, fn_name, fn))
            t0 = time.perf_counter()
            out = None
            try:
                out = jde_warehouse.run_warehouse(
                    self.spark, root, now=now, run_date=W.JDE_RUN_DATE
                )
            except Exception:  # noqa: BLE001 — the failed stages are counted below
                self.fail(f"load@{now:%Y-%m-%d}", traceback.format_exc())
            seconds = time.perf_counter() - t0
        stage_s = self.stage_s
        self.stage_s = {}
        for stage, sec in stage_s.items():
            ops[f"{label}.{stage}"] = sec
        ops[f"{label}.orchestration"] = seconds - sum(stage_s.values())
        result = captured.get("result")
        done = len(result.succeeded) if result else 0
        self.attempted += len(W.JDE_STAGES)
        for stage in list(W.JDE_STAGES)[done:]:
            self.fail(f"stage:{stage}", (result and result.error) or "not run")
        return seconds, out, _sum(stage_facts)

    def timed_stage(self, stage: str, fn):
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.stage_s[stage] = time.perf_counter() - t0

        return wrapped

    def traced_stage(self, stage: str, fn, sink: list[dict]):
        sc, probe, tracer = self.spark.sparkContext, self.probe, self.tracer

        def wrapped(*args, **kwargs):
            since = probe.mark()
            sc.setJobGroup(stage, f"run_warehouse: {stage}")
            with tracer.span(stage, layer="plans") as sp:
                try:
                    return fn(*args, **kwargs)
                finally:
                    sp["end"] = time.time()
                    facts = probe.facts(since)
                    wall = sp["end"] - sp["start"]
                    facts.update({
                        f"plans.stage_s.{stage}": wall,
                        "plans.attempts": 1,
                        "spark.driver_gap_s": wall - facts["spark.stage_active_s"],
                    })
                    sp["facts"] = facts
                    sink.append(facts)

        return wrapped

    # -- per-layer summary ------------------------------------------------------

    def layers(self, traced: list[dict], pass_s: list[float]) -> tuple[dict, list[str]]:
        """Per-layer values of the traced passes: exact counts from the last
        one (with the names of any that differ between passes), medians of
        everything else."""
        facts = [p["facts"] for p in traced]
        for f in facts:
            f["spark.core_util"] = f.get("spark.executor_run_s", 0) / max(
                f.get("spark.stage_active_s", 0) * self.probe.cores, 1e-9
            )
        out: dict = {}
        drift = []
        for key in sorted(set().union(*facts)):
            values = [f.get(key, 0) for f in facts]
            if key in EXACT:
                if len(set(values)) > 1:
                    drift.append(f"{key}={values}")
                out[key] = values[-1]
            else:
                out[key] = statistics.median(values)
        if traced:
            out["trace.overhead_ratio"] = statistics.median(
                p["wall"] for p in traced
            ) / statistics.median(pass_s)
        out["trace.count_drift"] = len(drift)
        return out, drift


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    workload = W.Workload(**spec["workload"])
    t0 = time.time()
    from data_warehouse_migration_spark import catalog  # noqa: F401 — timed import

    t1 = time.time()
    from data_warehouse_migration_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={spec['tmp']}"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    t2 = time.time()

    run = Run(spark, spec, workload)
    try:
        result = run.catalog() if workload.kind == "catalog" else run.jde()
        layers, drift = run.layers(result.pop("traced"), result["pass_s"])
        peak_rss_mb = run.probe.jvm_peak_rss_mb()
        layers.update({"catalog.import_s": t1 - t0, "session.start_s": t2 - t1,
                       "session.jvm_peak_rss_mb": peak_rss_mb})
        import duckdb
        import pyarrow
        import pyspark

        result.update(
            t_ready=t2,
            peak_rss_mb=peak_rss_mb,
            attempted=run.attempted,
            failures=run.failures,
            layers=layers,
            count_drift=drift,
            versions={"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                      "duckdb": duckdb.__version__,
                      "python": sys.version.split()[0]},
            cores=run.probe.cores,
        )
    finally:
        with open(os.path.join(spec["out"], "spans.json"), "w") as fh:
            json.dump(run.tracer.spans, fh)
        spark.stop()
    with open(os.path.join(spec["out"], "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
