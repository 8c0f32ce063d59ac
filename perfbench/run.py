#!/usr/bin/env python3
"""Repo benchmark: one workload per run, on local[4], from one driver
process started at the root of a source checkout.

  python3 perfbench/run.py --workload polygon_joins --seed 1 --seconds 5 --trace 0

A run prepares the seed's input slice (``inputs.py``), sets up a fresh Spark
application, runs one cold pass and then warm passes for ``--seconds`` (at
least two), checks every pass's output against the
DuckDB oracle, and prints one JSON object as its last line: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is the run's full record, including the host's codegen
control. See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from inputs import CORES, MASTER  # noqa: E402  (stdlib-only module)
DRIVER_MEM = "3g"  # well under the box's RAM; the engine default is 48g
MIN_WARM = 2
RUN_BUDGET_S = 150  # stop starting warm passes past this point of the run
SPATIAL_LAYERS = ("spatial_join", "coverage")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def rss_mb(field: str = "VmRSS") -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the whole VM since boot, from /proc/stat:
    busy counts user, nice, system, irq, softirq and steal."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq + steal, steal


class Clock:
    """Wall time of an interval, and the share of the CPU time the interval
    asked for that the hypervisor gave to other guests (steal). The
    benchmark's times are steal-adjusted: wall x (1 - steal share), the time
    the interval takes on the CPU the VM actually got; both figures go into
    the record."""

    def __init__(self):
        self.t0, self.c0 = time.time(), cpu_ticks()

    def stop(self) -> dict:
        wall, (busy, steal) = time.time() - self.t0, cpu_ticks()
        share = (steal - self.c0[1]) / (busy - self.c0[0]) if busy > self.c0[0] else 0.0
        return {"wall": wall, "steal": share, "adj": wall * (1 - share)}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        from inputs import base_dir, cache_dir, oracle_path, residue, synth_dir, synth_record
        from workloads import WORKLOADS

        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.phases = WORKLOADS[workload]
        self.r = residue(seed)
        self.base = base_dir(ROOT, self.r)
        self.synth = synth_dir(ROOT, self.r)
        self.synth_record = synth_record(ROOT, self.r)
        self.work = cache_dir(ROOT, "work", f"{workload}-{os.getpid()}")
        self.tmp = cache_dir(ROOT, "tmp")
        self.oracle_path = oracle_path(ROOT, self.r)
        self.record: dict = {"workload": workload, "seed": seed, "slice": self.r, "errors": []}
        self.spark = None

    # ------------------------------------------------------------ set-up
    def environment(self) -> None:
        """Pin everything the engine reads from the environment, and keep
        every file the run writes inside the checkout."""
        for d in (self.tmp, self.work):
            os.makedirs(d, exist_ok=True)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp
        os.environ["TMPDIR"] = self.tmp
        # every JVM, the launcher's too; without -XX:-UsePerfData each one
        # writes its perf counters under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        # the Python workers import the engine from the checkout too
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ.pop("TERRAKIT_ADAPTIVE_CELLS", None)
        sys.path.insert(0, ROOT)

    def new_session(self):
        from pyspark import SparkContext
        from terrakit_spark.session import get_spark

        jvm_up = SparkContext._gateway is not None
        t0 = time.time()
        spark = get_spark(master=MASTER, app_name=f"perfbench_{self.workload}", shuffle_partitions=CORES)
        if not jvm_up:
            self.record["jvm_start_s"] = time.time() - t0
        return spark

    def attach_synth(self, spark) -> None:
        """Point a fresh application's synth views at the materialized tables.
        The engine re-points only applications that ran materialize_synth
        themselves (memo keyed on applicationId); this records the slice's
        tables under the new application the same way."""
        from terrakit_spark.operators import spatial_join as sj

        sj._MATERIALIZED[(spark.sparkContext.applicationId, self.base)] = self.synth
        sj._register_views(spark, self.base)

    def guard(self, spark) -> None:
        """Fail the run when the session or its inputs are not what the
        benchmark pins: the views must read the materialized parquet, not the
        on-the-fly synth derivation a new application silently falls back to."""
        from terrakit_spark.synth import ALL_TABLES

        if spark.sparkContext.master != MASTER:
            raise RuntimeError(f"master is {spark.sparkContext.master}, want {MASTER}")
        if spark.conf.get("spark.sql.shuffle.partitions") != str(CORES):
            raise RuntimeError("shuffle partitions are not pinned to the core count")
        for name in ALL_TABLES:
            files = [os.path.normpath(f.removeprefix("file:")) for f in spark.table(name).inputFiles()]
            if not files or not all(f.startswith(self.synth + "/") for f in files):
                raise RuntimeError(f"view {name} does not read the materialized parquet")

    def setup(self) -> None:
        """A fresh application on a running JVM: get_spark, attaching the
        synth tables, a warm-up query. The JVM's own start is timed apart.
        One set-up per run: a second one costs 4-5 s, which the suite's time
        budget does not hold, and steal adjustment keeps the single figure
        steady."""
        self.new_session().stop()
        clock, t0 = Clock(), time.time()
        spark = self.new_session()
        t1 = time.time()
        self.attach_synth(spark)
        t2 = time.time()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        t3 = time.time()
        self.setup_rec = {**clock.stop(), "session": t1 - t0, "attach": t2 - t1, "warmup": t3 - t2}
        self.record["setup"] = self.setup_rec
        self.spark = spark
        self.guard(spark)

    def host_control(self) -> None:
        """bench.py's whole-stage-codegen control, sized for one core's rows
        (four partitions), sampled once beside the run."""
        from bench import _codegen_control

        self.record["codegen_control_s"] = _codegen_control(self.spark, 1)

    # ------------------------------------------------------------ passes
    def run_pass(self, i: int) -> dict:
        from sparkstats import execution_count, job_stats, jobs_of, layer_metrics, plan_nodes
        from workloads import Ctx, check, output_rows, run_phase

        sc = self.spark.sparkContext
        pass_dir = os.path.join(self.work, f"pass{i}")
        ctx = Ctx(self.spark, self.base, pass_dir)
        steps: list[dict] = []
        exec0 = execution_count(self.spark)

        @contextmanager
        def step(phase, name: str):
            group = f"{self.workload}:{i}:{phase.name}.{name}"
            sc.setJobGroup(group, group)
            r0, t0 = rss_mb(), time.time()
            try:
                yield
            finally:
                steps.append({"step": name, "layer": phase.layer, "group": group, "start": t0,
                              "end": time.time(), "rss_mb": rss_mb() - r0})

        out = {"i": i, "ok": False, "steps": steps}
        clock, t0 = Clock(), time.time()
        try:
            results = {}
            for phase in self.phases:
                results[phase.name] = run_phase(phase, ctx, lambda name, ph=phase: step(ph, name))
            out.update(clock.stop())
            t1 = time.time()
            out["rows"] = sum(output_rows(p, results[p.name]) for p in self.phases)
            out["start"], out["end"] = t0, t1
            sc.setJobGroup(f"{self.workload}:{i}:check", "output check")
            errors = [e for p in self.phases for e in check(p, ctx, results[p.name], self.expected)]
            if i == 0 and self.traced and self.workload == "chip_dataset":
                out["written"] = self.written(pass_dir)
            self.guard(self.spark)
            out["ok"] = not errors
            self.record["errors"] += errors
        except Exception as exc:  # a raising pass counts as failed, never timed
            self.record["errors"].append(f"pass {i}: {type(exc).__name__}: {exc}"[:2000])
        t2 = time.time()
        jobs = jobs_of(self.spark, [s["group"] for s in steps])
        out["jobs"] = len(jobs)
        if i > 0 or self.traced:
            out.update(job_stats(self.spark, jobs, self.traced))
        if self.traced:
            spatial = {s["group"] for s in steps if s["layer"] in SPATIAL_LAYERS}
            spatial_plans = {s["group"] for s in steps if s["step"] == "plan" and s["group"] in spatial}
            out["layers"] = layer_metrics(plan_nodes(self.spark, exec0, jobs), spatial)
            out["plan_jobs"] = sum(1 for g in jobs.values() if g in spatial_plans)
        out["collect_s"] = time.time() - t2
        shutil.rmtree(pass_dir, ignore_errors=True)
        return out

    def written(self, pass_dir: str) -> dict:
        """Bytes and files the chip job committed, and the chip payload (the
        data and label bytes of every chip) they carry."""
        from pyspark.sql import functions as F
        from terrakit_spark.plans.snapshots import SnapshotTable

        size = files = 0
        for d, _, names in os.walk(pass_dir):
            for n in names:
                size += os.path.getsize(os.path.join(d, n))
                files += 1
        chips = SnapshotTable(os.path.join(pass_dir, "chip", "chips")).read(self.spark)
        payload = chips.agg(F.sum(F.length("data") + F.length("label"))).collect()[0][0]
        return {"bytes": size, "files": files, "payload": payload}

    def passes(self) -> None:
        run_t0 = self.t_start
        self.runs = [self.run_pass(0)]
        t0 = time.time()
        i = 1
        while (time.time() - t0 < self.seconds or i <= MIN_WARM) and time.time() - run_t0 < RUN_BUDGET_S:
            self.runs.append(self.run_pass(i))
            i += 1

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict:
        cold = self.runs[0]
        warm = [p for p in self.runs[1:] if p["ok"]]
        warm_s = median([p["adj"] for p in warm])
        rows = median([p["rows"] for p in warm])
        return {
            "setup_s": (self.setup_rec["adj"], "s"),
            "cold_s": (cold["adj"] if cold["ok"] else 0.0, "s"),
            "warm_s": (warm_s, "s"),
            "rows_per_s": (rows / warm_s if warm_s else 0.0, "1/s"),
            "core_s": (median([p["core_s"] * (1 - p["steal"]) for p in warm]), "s"),
            "driver_rss_mb": (rss_mb("VmHWM"), "MB"),
        }

    def per_layer(self) -> dict:
        import probes

        warm = [p for p in self.runs[1:] if p["ok"]] or self.runs[1:]
        cold = self.runs[0]
        warm_s = median([p.get("adj", 0.0) for p in warm])

        def steps(p, pred):
            return [s for s in p["steps"] if pred(s)]

        def step_s(p, pred):
            return sum(s["end"] - s["start"] for s in steps(p, pred))

        spatial_plan = lambda s: s["layer"] in SPATIAL_LAYERS and s["step"] == "plan"  # noqa: E731
        from sparkstats import driver_s, span_coverage

        def plan_driver(p):
            return sum(driver_s(s, p["spans"]) for s in steps(p, spatial_plan))

        lay = {k: median([p["layers"][k] for p in warm]) for k in warm[0]["layers"]}
        m = {
            "session.jvm_start_s": (self.record["jvm_start_s"], "s"),
            "session.start_s": (self.setup_rec["session"], "s"),
            "synth.attach_s": (self.setup_rec["attach"], "s"),
            "synth.materialize_s": (self.record["materialize_s"], "s"),
            "host.codegen_control_s": (self.record["codegen_control_s"], "s"),
            "spatial_join.plan_cold_s": (step_s(cold, spatial_plan), "s"),
            "spatial_join.plan_warm_s": (median([step_s(p, spatial_plan) for p in warm]), "s"),
            "spatial_join.plan_jobs_cold": (cold.get("plan_jobs", 0), "count"),
            "spatial_join.plan_jobs_warm": (median([p["plan_jobs"] for p in warm]), "count"),
            "spatial_join.plan_driver_s": (median([plan_driver(p) for p in warm]), "s"),
            "spatial_join.plan_rss_mb": (sum(s["rss_mb"] for s in steps(cold, spatial_plan)), "MB"),
            "cells.cover_rows": (lay["cells.cover_rows"], "count"),
            "cells.candidate_rows": (lay["cells.candidate_rows"], "count"),
            "geometry.udf_rows": (lay["geometry.udf_rows"], "count"),
            "geometry.refine_keep": (
                lay["geometry.refine_rows"] / lay["geometry.udf_rows"] if lay["geometry.udf_rows"] else 0.0, "ratio"),
            "geometry.arrow_sent_mb": (lay["geometry.arrow_sent_mb"], "MB"),
            "geometry.arrow_recv_mb": (lay["geometry.arrow_recv_mb"], "MB"),
            "geometry.arrow_bytes_per_row": (
                (lay["geometry.arrow_sent_mb"] + lay["geometry.arrow_recv_mb"]) * 2**20 / lay["geometry.udf_rows"]
                if lay["geometry.udf_rows"] else 0.0, "B"),
            "geometry.python_boot_s": (lay["geometry.python_boot_s"], "s"),
            "geometry.python_init_s": (lay["geometry.python_init_s"], "s"),
            "geometry.python_run_s": (lay["geometry.python_run_s"], "s"),
        }
        for stage in ("labels", "download", "chip", "store", "resume"):
            m[f"cli.{stage}_s"] = (median([step_s(p, lambda s, st=stage: s["layer"] == "cli" and s["step"] == st)
                                          for p in warm]), "s")
        m["pipeline.chips"] = (lay["pipeline.chips"], "count")
        m["pipeline.python_run_s"] = (lay["pipeline.python_run_s"], "s")
        m["pipeline.arrow_recv_mb"] = (lay["pipeline.arrow_recv_mb"], "MB")
        w = cold.get("written") or {"bytes": 0, "files": 0, "payload": 0}
        m["snapshots.bytes_written_mb"] = (w["bytes"] / 2**20, "MB")
        m["snapshots.files_written"] = (w["files"], "count")
        m["snapshots.write_amp"] = (w["bytes"] / w["payload"] if w["payload"] else 0.0, "ratio")
        for k in ("jobs", "tasks", "shuffle_write_mb", "gc_s", "task_skew"):
            unit = {"jobs": "count", "tasks": "count", "shuffle_write_mb": "MB", "gc_s": "s", "task_skew": "ratio"}[k]
            m[f"spark.{k}"] = (median([p.get(k, 0.0) for p in warm]), unit)
        m["trace.overhead_frac"] = (median([p["collect_s"] for p in warm]) / warm_s if warm_s else 0.0, "ratio")
        m["trace.span_coverage"] = (
            min(span_coverage({"start": p["start"], "end": p["end"]}, p["steps"]) for p in self.runs if "start" in p),
            "ratio")
        m.update({k: (v, "B" if k.endswith("bytes_per_row") else "ns" if k.endswith("_ns_per_row") else "us")
                  for k, v in probes.run(self.seed).items()})
        return m

    def write_spans(self) -> None:
        path = os.path.join(ROOT, ".perfbench", "trace", f"{self.workload}-seed{self.seed}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for p in self.runs:
                if "start" not in p:
                    continue
                name = f"{self.workload}:{p['i']}"
                fh.write(json.dumps({"name": name, "parent": None, "start": p["start"], "end": p["end"]}) + "\n")
                for s in p["steps"]:
                    fh.write(json.dumps({"name": s["group"], "parent": name, "start": s["start"], "end": s["end"]}) + "\n")
                for s in p["spans"]:
                    fh.write(json.dumps(s) + "\n")
        self.record["spans"] = os.path.relpath(path, ROOT)

    # ------------------------------------------------------------ driver
    def main(self) -> dict:
        self.t_start = time.time()
        self.environment()
        if not (os.path.exists(self.oracle_path) and os.path.exists(self.synth_record)):
            subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"), ROOT, str(self.r)], check=True)
        with open(self.oracle_path) as fh:
            self.expected = json.load(fh)
        with open(self.synth_record) as fh:
            self.record["materialize_s"] = json.load(fh)["materialize_s"]
        try:
            self.setup()
            self.host_control()
            self.passes()
            metrics = self.per_layer() if self.traced else self.end_to_end()
            if self.traced:
                self.write_spans()
        finally:
            self.stop()
        attempted = len(self.runs)
        failed = sum(1 for p in self.runs if not p["ok"])
        self.record["passes"] = [
            {k: p.get(k) for k in ("i", "ok", "wall", "steal", "adj", "rows", "core_s", "jobs", "tasks", "collect_s")}
            for p in self.runs
        ]
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def stop(self) -> None:
        """Stop the application, then the JVM the session started, and wait
        for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
        shutil.rmtree(self.work, ignore_errors=True)
        shutil.rmtree(self.tmp, ignore_errors=True)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "terrakit_spark", "__init__.py")):
        fail(f"no engine source at {ROOT}/terrakit_spark; run from a source checkout")
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    bench = Bench(a.workload, a.seed, a.seconds, bool(a.trace))
    result = bench.main()
    print(json.dumps({"record": bench.record}, default=str))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
