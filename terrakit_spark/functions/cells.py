"""Grid-cell spatial index (H3/S2 analogue, pure column math).

The reference has no spatial index — it brute-forces per-pixel rasterization
(/root/reference/terrakit/download/download_data.py:371-394). The index is
our scaling device (SURVEY.md §7): points key to the 1-degree cell containing
them; polygons/bboxes explode to their cover cells; spatial joins become
cell equi-joins (broadcast or shuffled hash) followed by an exact refine.

Everything here is Spark column expressions (JVM codegen, no Python):
cell = cell_x*ny + cell_y with ny = 180/cell_deg + 1; the DuckDB oracle
templates inline the identical formula so keys match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CELL_DEG = 1.0


def _ny(cell_deg: float) -> int:
    return int(round(180.0 / cell_deg)) + 1


def cell_x(lon: Column, cell_deg: float = CELL_DEG) -> Column:
    return F.floor((lon + F.lit(180.0)) / F.lit(cell_deg)).cast("long")


def cell_y(lat: Column, cell_deg: float = CELL_DEG) -> Column:
    return F.floor((lat + F.lit(90.0)) / F.lit(cell_deg)).cast("long")


def cell_id(lon: Column, lat: Column, cell_deg: float = CELL_DEG) -> Column:
    return cell_x(lon, cell_deg) * _ny(cell_deg) + cell_y(lat, cell_deg)


def with_point_cell(df: DataFrame, lon: str, lat: str, out: str = "cell", cell_deg: float = CELL_DEG) -> DataFrame:
    return df.withColumn(out, cell_id(F.col(lon), F.col(lat), cell_deg))


def with_cover_cells(
    df: DataFrame,
    xmin: str,
    ymin: str,
    xmax: str,
    ymax: str,
    out: str = "cell",
    cell_deg: float = CELL_DEG,
) -> DataFrame:
    """Explode a bbox row to one row per covered cell.

    cell_deg is a pruning knob, not a correctness knob: any resolution
    yields the same refined join output. Finer cells replicate the polygon
    side more but shrink per-cell candidate lists — the right trade when
    the point side is dense (hotspots). At 10^12 scale the resolution is
    picked from measured cell-occupancy histograms."""
    cx_lo = cell_x(F.col(xmin), cell_deg)
    cx_hi = cell_x(F.col(xmax), cell_deg)
    cy_lo = cell_y(F.col(ymin), cell_deg)
    cy_hi = cell_y(F.col(ymax), cell_deg)
    ny = _ny(cell_deg)
    return (
        df.withColumn("_cx", F.explode(F.sequence(cx_lo, cx_hi)))
        .withColumn("_cy", F.explode(F.sequence(cy_lo, cy_hi)))
        .withColumn(out, F.col("_cx") * ny + F.col("_cy"))
        .drop("_cx", "_cy")
    )


def with_salt(df: DataFrame, cell: str, n_salts: int, key: Column, out: str = "salt") -> DataFrame:
    """Hotspot-cell salting: split one hot cell's rows across n_salts shuffle
    keys. The polygon side replicates per salt (explode), the point side
    hashes into one salt — the classic skew-salting pattern the north rule
    asks for. Used when the polygon side is too big to broadcast. The salt
    is an int, the type replicate_salts gives the other side: a join key of
    two types hashes apart, and the join would re-shuffle the replicated
    side on the cast key after its pinned repartition."""
    return df.withColumn(out, F.pmod(F.xxhash64(key), F.lit(n_salts)).cast("int"))


def replicate_salts(df: DataFrame, n_salts: int, out: str = "salt") -> DataFrame:
    return df.withColumn(out, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))


# ---------------------------------------------------------------- quadkeys
# Hierarchical cell ids (the H3/S2 role in this engine): level-L Z-order
# (Morton) interleave of the lon/lat cell indices — Bing-quadkey layout, x
# bits at odd positions. Parent/child is pure bit-shift arithmetic:
# parent_l(qk) = qk >> 2*(L-l), so multi-resolution joins and rollups never
# leave whole-stage codegen.
QK_LEVEL = 12  # 4096 x 4096 cells, ~0.09 deg at the equator


def quadkey(lon: Column, lat: Column, level: int = QK_LEVEL) -> Column:
    nx = 1 << level
    cx = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * nx).cast("long"), F.lit(0)),
        F.lit(nx - 1),
    )
    cy = F.least(
        F.greatest(F.floor((F.lit(90.0) - lat) / F.lit(180.0) * nx).cast("long"), F.lit(0)),
        F.lit(nx - 1),
    )
    out = F.lit(0).cast("long")
    for b in range(level):
        out = (
            out
            + F.shiftleft(F.shiftright(cx, b).bitwiseAND(F.lit(1)), 2 * b + 1)
            + F.shiftleft(F.shiftright(cy, b).bitwiseAND(F.lit(1)), 2 * b)
        )
    return out


def quadkey_parent(qk: Column, level: int, parent_level: int) -> Column:
    return F.shiftright(qk, 2 * (level - parent_level))


def quadkey_str(qk: Column, level: int = QK_LEVEL) -> Column:
    """Base-4 digit string (the Bing tile-address form)."""
    digits = [
        F.shiftright(qk, 2 * (level - 1 - i)).bitwiseAND(F.lit(3)).cast("string")
        for i in range(level)
    ]
    return F.concat(*digits)
