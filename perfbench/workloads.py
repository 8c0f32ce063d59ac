"""The workloads. A pass runs the workload's phases in order; each
phase is a list of timed steps, each a call into the engine's public
functions.

A query phase has two steps: ``plan`` is the registry call that builds the
operator's DataFrame (and runs whatever probe and collect jobs the
operator launches at call time); ``action`` consumes the full output in one
job that returns ``(rows, hash)``: the row count and an order-independent
sum of a 40-bit md5 prefix over every output column in canonical form
(``inputs.CANON``). The digest is compared with the DuckDB oracle's, so a
pass is correct only when every value of every row matches.

The chip phase is the staged dataset job (labels -> download -> chip ->
store, then a resume call of the chip stage) writing into the pass's own
working dir; its committed tables are read back and checked after the pass,
outside every timing.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from inputs import CANON, CHIP_SUMMARY


@dataclass(frozen=True)
class Query:
    name: str  # registry query name; also its oracle key
    layer: str  # the engine layer the operator call belongs to


@dataclass(frozen=True)
class Chip:
    name: str = "chip_dataset"
    layer: str = "cli"


WORKLOADS: dict[str, tuple] = {
    "polygon_joins": (
        Query("polygon_overlap_join", "spatial_join"),
        Query("tile_label_coverage", "coverage"),
    ),
    "chip_dataset": (Chip(),),
}
CHIP_STAGES = ("labels", "download", "chip", "store", "resume")


def digest(df, cols) -> dict:
    """Spark-side ``(rows, hash)`` of ``df`` in canonical form, one job."""
    from pyspark.sql import functions as F

    canon = df.selectExpr(*[f"CAST({c} AS STRING) AS _c{i}" for i, c in enumerate(cols)])
    h = F.conv(F.substring(F.md5(F.concat_ws("|", *canon.columns)), 1, 10), 16, 10).cast("bigint")
    row = canon.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return {"rows": int(row["n"]), "hash": int(row["h"] or 0)}


@dataclass
class Ctx:
    spark: object
    base: str  # base tables of the slice
    pass_dir: str  # this pass's working dir, removed after the pass's check


def _run_query(q: Query, ctx: Ctx, step: Callable) -> dict:
    from terrakit_spark.registry import QUERIES

    with step("plan"):
        df = QUERIES[q.name](ctx.spark, ctx.base)
    with step("action"):
        return digest(df, CANON[q.name])


def _run_chip(ctx: Ctx, step: Callable) -> dict:
    from terrakit_spark import cli

    wd = os.path.join(ctx.pass_dir, "chip")
    os.makedirs(wd, exist_ok=True)
    calls = {
        "labels": lambda: cli.stage_labels(ctx.spark, ctx.base, wd),
        "download": lambda: cli.stage_download(ctx.spark, ctx.base, wd),
        "chip": lambda: cli.stage_chip(ctx.spark, ctx.base, wd),
        "store": lambda: cli.stage_store(ctx.spark, ctx.base, wd),
        "resume": lambda: cli.stage_chip(ctx.spark, ctx.base, wd),
    }
    out = {}
    for name in CHIP_STAGES:
        with step(name):
            out[name] = calls[name]()
    return out


def run_phase(phase, ctx: Ctx, step: Callable) -> dict:
    return _run_chip(ctx, step) if isinstance(phase, Chip) else _run_query(phase, ctx, step)


def output_rows(phase, result: dict) -> int:
    """Rows the phase produced: query output rows, or chips committed."""
    return result["chip"]["chips_rows"] if isinstance(phase, Chip) else result["rows"]


def check(phase, ctx: Ctx, result: dict, expected: dict) -> list[str]:
    """Mismatches between a phase's result and its oracle (empty = correct)."""
    if isinstance(phase, Query):
        want = expected[phase.name]
        return [] if result == want else [f"{phase.name}: got {result}, want {want}"]
    from terrakit_spark.operators.pipeline_query import _summary
    from terrakit_spark.plans.snapshots import SnapshotTable

    want = expected["chip_dataset"]
    wd = os.path.join(ctx.pass_dir, "chip")
    chips = SnapshotTable(os.path.join(wd, "chips")).read(ctx.spark)
    got = {
        "labels_rows": result["labels"]["labels_rows"],
        "bbox_rows": result["labels"]["bbox_rows"],
        "matched_rows": result["download"]["matched_rows"],
        "chips_rows": result["chip"]["chips_rows"],
        "splits": {k: v for k, v in result["store"]["splits"].items() if v},
        "summary": digest(_summary(chips), CHIP_SUMMARY),
    }
    bad = [f"chip_dataset.{k}: got {v}, want {want[k]}" for k, v in got.items() if v != want[k]]
    if result["resume"] != {"chips_rows": 0, "resumed": True}:
        bad.append(f"chip_dataset.resume: got {result['resume']}")
    # stats side-car: per-band mean x pixel count adds up to the data sum
    # of every committed chip
    with open(os.path.join(wd, "dataset_properties.json")) as fh:
        bands = json.load(fh)["bands"]
    total = sum(b["mean"] * b["n_px"] for b in bands)
    if abs(total - want["data_sum"]) > 1e-9 * max(abs(want["data_sum"]), 1.0) or len(bands) != want["bands"]:
        bad.append(f"chip_dataset.stats: {len(bands)} bands summing to {total}, want {want['bands']} / {want['data_sum']}")
    return bad
