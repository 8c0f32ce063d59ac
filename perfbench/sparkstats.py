"""Reads Spark's own status stores over py4j after a pass (never inside a
timing): the core status store for jobs, stages and tasks, and the SQL
status store for plan-graph node metrics. Both are kept with
``spark.ui.enabled=false``.

Every step of a pass runs under its own job group, ``<workload>:<pass>:
<phase>.<step>``, so each Spark job maps back to the step that launched it.
"""

from __future__ import annotations

import re
import statistics

JOIN = re.compile(r"Join")
PY_EVAL = ("ArrowEvalPython", "BatchEvalPython")
PY_MAP = ("MapInPandas", "MapInArrow", "PythonMapInArrow")


def _conv(spark):
    return spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters


def _store(spark):
    return spark.sparkContext._jsc.sc().statusStore()


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def jobs_of(spark, groups: list[str]) -> dict[int, str]:
    """{job id: group} for every job launched under the given groups."""
    tracker = spark.sparkContext.statusTracker()
    return {j: g for g in groups for j in tracker.getJobIdsForGroup(g)}


def job_stats(spark, jobs: dict[int, str], traced: bool = False) -> dict:
    """Task totals over the stages of a pass's jobs (a stage is final in the
    store once its job ends), and, when traced, one span per job and the
    task skew (max / median task run time) of the longest stage."""
    st = _store(spark)
    conv = _conv(spark)
    out = {"tasks": 0, "core_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0}
    spans, longest = [], None
    for jid, group in sorted(jobs.items()):
        j = st.job(jid)
        if traced:
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append({"name": f"job {jid}: {j.name()}", "parent": group,
                              "start": sub.get().getTime() / 1e3, "end": done.get().getTime() / 1e3})
        for sid in conv.asJava(j.stageIds()):
            try:
                sd = st.lastStageAttempt(sid)
            except Exception:  # skipped stage: never ran
                continue
            run_ms = sd.executorRunTime()
            out["core_s"] += run_ms / 1e3
            if traced:  # each getter is a py4j round trip
                out["tasks"] += sd.numCompleteTasks()
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                if longest is None or run_ms > longest[0]:
                    longest = (run_ms, sd.stageId(), sd.attemptId())
    if traced:
        out["spans"], out["task_skew"] = spans, 1.0
        if longest is not None:
            tasks = conv.asJava(st.taskList(longest[1], longest[2], 100_000))
            times = [t.taskMetrics().get().executorRunTime() for t in tasks if t.taskMetrics().isDefined()]
            med = statistics.median(times) if times else 0
            out["task_skew"] = max(times) / med if med else 1.0
    return out


def execution_count(spark) -> int:
    return _sql_store(spark).executionsCount()


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def _metric_value(text: str) -> float:
    """A formatted SQL metric -> its total: '12,345', '1.2 MiB', '3.4 s',
    or a 'total (min, med, max ...)' header line followed by the total."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip().replace(",", "")
    parts = text.split()
    try:
        return float(parts[0]) * (_UNITS.get(parts[1], 1.0) if len(parts) > 1 else 1.0)
    except (ValueError, IndexError):
        return 0.0


def plan_nodes(spark, offset: int, jobs: dict[int, str]) -> list[dict]:
    """Plan-graph nodes of every SQL execution since ``offset`` that ran one
    of ``jobs``: name, metric totals, input node ids and the job group."""
    sq = _sql_store(spark)
    conv = _conv(spark)
    n = sq.executionsCount() - offset
    out = []
    if n <= 0:
        return out
    for e in conv.asJava(sq.executionsList(offset, n)):
        ran = [int(j) for j in conv.asJava(e.jobs().keySet())]
        groups = {jobs[j] for j in ran if j in jobs}
        if not groups:
            continue
        eid = e.executionId()
        vals = sq.executionMetrics(eid)
        g = sq.planGraph(eid)
        inputs: dict[int, list[int]] = {}
        for edge in conv.asJava(g.edges()):
            inputs.setdefault(edge.toId(), []).append(edge.fromId())
        for node in conv.asJava(g.allNodes()):
            metrics = {}
            for m in conv.asJava(node.metrics()):
                v = vals.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = _metric_value(v.get())
            out.append({"key": (eid, node.id()), "name": node.name(), "metrics": metrics,
                        "inputs": [(eid, i) for i in inputs.get(node.id(), [])], "group": min(groups)})
    return out


def layer_metrics(nodes: list[dict], spatial_groups: set[str]) -> dict:
    """Cell-join, geometry-UDF and chipper counters of one pass. The cell
    counters sum over nodes of the spatial operators' steps only; the
    Python counters over every node of the pass."""
    by_key = {n["key"]: n for n in nodes}
    rows = lambda n: n["metrics"].get("number of output rows", 0.0)  # noqa: E731
    m = dict.fromkeys(
        ("cells.cover_rows", "cells.candidate_rows", "geometry.udf_rows",
         "geometry.refine_rows", "geometry.arrow_sent_mb", "geometry.arrow_recv_mb",
         "geometry.python_boot_s", "geometry.python_init_s", "geometry.python_run_s",
         "pipeline.chips", "pipeline.python_run_s", "pipeline.arrow_recv_mb"), 0.0)
    for n in nodes:
        name, met = n["name"], n["metrics"]
        feeds = [by_key[k]["name"] for k in n["inputs"] if k in by_key]
        if n["group"] in spatial_groups:
            if name == "Generate":
                m["cells.cover_rows"] += rows(n)
            elif JOIN.search(name) and "Python" not in name:
                m["cells.candidate_rows"] += rows(n)
        if name in PY_EVAL:
            m["geometry.udf_rows"] += rows(n)
            m["geometry.arrow_sent_mb"] += met.get("data sent to Python workers", 0.0) / 2**20
            m["geometry.arrow_recv_mb"] += met.get("data returned from Python workers", 0.0) / 2**20
            m["geometry.python_boot_s"] += met.get("time to start Python workers", 0.0)
            m["geometry.python_init_s"] += met.get("time to initialize Python workers", 0.0)
            m["geometry.python_run_s"] += met.get("time to run Python workers", 0.0)
        elif name == "Filter" and any(f in PY_EVAL for f in feeds):
            m["geometry.refine_rows"] += rows(n)
        elif name in PY_MAP:
            m["pipeline.chips"] += rows(n)
            m["pipeline.python_run_s"] += met.get("time to run Python workers", 0.0)
            m["pipeline.arrow_recv_mb"] += met.get("data returned from Python workers", 0.0) / 2**20
    return m


def span_coverage(pass_span: dict, steps: list[dict]) -> float:
    """Share of the pass's wall-clock covered by the union of its step spans."""
    cover, last = 0.0, pass_span["start"]
    for s in sorted(steps, key=lambda s: s["start"]):
        start, end = max(s["start"], last), min(s["end"], pass_span["end"])
        if end > start:
            cover += end - start
            last = end
    wall = pass_span["end"] - pass_span["start"]
    return cover / wall if wall > 0 else 1.0


def driver_s(step: dict, job_spans: list[dict]) -> float:
    """Wall time of a step not covered by any of its Spark jobs."""
    inner = [s for s in job_spans if s["parent"] == step["group"]]
    return step["end"] - step["start"] - span_coverage(step, inner) * (step["end"] - step["start"])
