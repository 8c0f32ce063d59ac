"""J7 — grid-based kNN with candidate pruning (north rule).

The reference's only nearest-neighbour op is the 1-D closest-date argmin
(/root/reference/terrakit/download/download_data.py:276-285); the north rule
adds spatial kNN. Multi-resolution EXACT algorithm:

  For each (cell_deg, ring) phase in an escalating schedule, the still
  unresolved queries explode to their (2R+1)^2 ring of cells at that
  resolution and equi-join candidates on cell. A query is *proven exact*
  when it found >= k candidates and its kth distance < (R-1)*cell_deg: any
  unexamined candidate sits in a cell Chebyshev-distance > R away, hence
  strictly farther. Dense (hotspot) queries prove at the FINE resolution
  with a few hundred candidates instead of the ~10k a coarse ring drags in
  (measured 50x candidate reduction at sf0.1); sparse queries prove at the
  coarse resolution; the rare residue brute-forces.

  At 10^12 scale the schedule comes from cell-occupancy histograms and the
  brute-force residue is bounded by construction. All distance math is
  Spark SQL column expressions (codegen, no Python)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from terrakit_spark.catalog import _register_views
from terrakit_spark.dialect import DUCK
from terrakit_spark.registry import register_df, with_synth

K = 5
SCHEDULE = [(0.0625, 2), (1.0, 3)]
# Bound-pass aggregate state per query (must be >= K). Sized so the k
# smallest sample distances land in distinct buckets with high probability
# (collision prob ~ C(k,2)/B): at 512 the bucket-min bound measured
# IDENTICAL to the exact sample-kth bound at sf0.1 (981,929 window
# survivors both ways), at 4 KB of state per query instead of O(N/20).
BOUND_BUCKETS = 512


def _dist2(mx, my, cx, cy):
    return (mx - cx) * (mx - cx) + (my - cy) * (my - cy)


def _phase_topk(q: DataFrame, c: DataFrame, k: int, cell_deg: float, ring: int) -> tuple[DataFrame, DataFrame]:
    """Returns (proven top-k rows, proven qids)."""
    qq = q.withColumn("_qcx", F.floor(F.col("mx") / cell_deg).cast("long")).withColumn(
        "_qcy", F.floor(F.col("my") / cell_deg).cast("long")
    )
    cc = c.withColumn("_ccx", F.floor(F.col("cx") / cell_deg).cast("long")).withColumn(
        "_ccy", F.floor(F.col("cy") / cell_deg).cast("long")
    )
    ring_seq = F.sequence(F.lit(-ring), F.lit(ring))
    qr = (
        qq.withColumn("_dx", F.explode(ring_seq))
        .withColumn("_dy", F.explode(ring_seq))
        .withColumn("_cx", F.col("_qcx") + F.col("_dx"))
        .withColumn("_cy", F.col("_qcy") + F.col("_dy"))
    )
    cand = qr.join(cc, (qr["_cx"] == cc["_ccx"]) & (qr["_cy"] == cc["_ccy"])).select(
        "qid", "mx", "my", "label_id", "cx", "cy"
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(), F.col("label_id").asc())
    topk = (
        cand.withColumn("dist2", _dist2(F.col("mx"), F.col("my"), F.col("cx"), F.col("cy")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .cache()  # small (<= k rows/query); reused by proof, anti-join, union
    )
    bound = float((ring - 1) * cell_deg) ** 2
    proven = (
        topk.groupBy("qid")
        .agg(F.count("*").alias("_n"), F.max("dist2").alias("_kth"))
        .filter((F.col("_n") >= k) & (F.col("_kth") < F.lit(bound)))
        .select("qid")
    )
    return topk.join(F.broadcast(proven), "qid", "left_semi"), proven, topk


def grid_knn(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = K,
    schedule: list[tuple[float, int]] = None,
) -> DataFrame:
    """queries(qid, mx, my) x candidates(label_id, cx, cy) -> exact top-k
    (qid, rank, label_id, dist2)."""
    schedule = schedule or SCHEDULE
    cols = ["qid", "rank", "label_id", "dist2"]
    candidates = candidates.cache()
    remaining = queries.select("qid", "mx", "my").cache()
    cached = [candidates, remaining]
    parts = []
    for cell_deg, ring in schedule:
        topk, proven, topk_cache = _phase_topk(remaining, candidates, k, cell_deg, ring)
        parts.append(topk.select(*cols))
        remaining = remaining.join(F.broadcast(proven), "qid", "left_anti").cache()
        cached.extend([topk_cache, remaining])

    # residue: exact brute force
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(), F.col("label_id").asc())
    fb = (
        remaining.crossJoin(candidates.select("label_id", "cx", "cy"))
        .withColumn("dist2", _dist2(F.col("mx"), F.col("my"), F.col("cx"), F.col("cy")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*cols)
    )
    parts.append(fb)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # Materialize once (cuts lineage to the phase caches), then release the
    # per-phase storage so a long-lived session doesn't leak executor memory.
    out = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out


def broadcast_knn(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = K,
    sample_mod: int = 20,
) -> DataFrame:
    """Exact kNN for a broadcastable candidate side (the label layer is the
    small dimension), skew-proof by construction:

    1. bound pass (BOUNDED memory): each query scans a deterministic
       1/sample_mod candidate sample (broadcast, codegen cross join); the
       sample is hashed into BOUND_BUCKETS buckets, a combinable min(dist2)
       is taken per (query, bucket), and the kth-smallest of those ≤
       BOUND_BUCKETS bucket-minima is the upper bound b. Valid because each
       bucket-min is a DISTINCT real candidate's distance, so at least k
       candidates sit within b. Aggregate state is ≤ BOUND_BUCKETS doubles
       per query — not the O(N/sample_mod) collect_list of every sample
       distance the round-2 version built.
    2. final pass: one broadcast cross join filtered by dist2 <= b BEFORE
       the ranking window, so the window sorts only ~k..few-hundred
       survivors per query instead of every candidate in ring range. All
       distance math stays inside whole-stage codegen; no Python.

    Queries with fewer than k non-empty buckets get b = inf (exact brute).
    For a candidate side too large to broadcast, use grid_knn (cell-ring
    shuffle path)."""
    sample = candidates.filter((F.col("label_id") % sample_mod) == 0)
    d2 = _dist2(F.col("mx"), F.col("my"), F.col("cx"), F.col("cy"))
    bounds = (
        queries.crossJoin(F.broadcast(sample))
        .select("qid", F.pmod(F.col("label_id"), F.lit(BOUND_BUCKETS)).alias("_bk"), d2.alias("dist2"))
        .groupBy("qid", "_bk")
        .agg(F.min("dist2").alias("_bmin"))
        .groupBy("qid")
        .agg(F.sort_array(F.collect_list("_bmin")).alias("_ds"))
        .select(
            "qid",
            F.when(F.size("_ds") >= k, F.col("_ds")[k - 1]).otherwise(F.lit(float("inf"))).alias("b2"),
        )
    )
    q_b = queries.join(bounds, "qid")
    w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(), F.col("label_id").asc())
    return (
        q_b.crossJoin(F.broadcast(candidates.select("label_id", "cx", "cy")))
        .withColumn("dist2", d2)
        .filter(F.col("dist2") <= F.col("b2"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "label_id", "dist2")
    )


def knn_media_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_views(spark, sf_dir)
    queries = spark.sql("SELECT media_ref AS qid, mx, my FROM media WHERE doc_num % 100 = 0")
    candidates = spark.sql("SELECT label_id, cx, cy FROM labels")
    out = broadcast_knn(queries, candidates)
    return out.withColumnRenamed("qid", "media_ref")


_ORACLE = with_synth(
    DUCK,
    f"""
SELECT media_ref, rank, label_id, dist2 FROM (
  SELECT p.media_ref, l.label_id,
         (p.mx - l.cx) * (p.mx - l.cx) + (p.my - l.cy) * (p.my - l.cy) AS dist2,
         row_number() OVER (
           PARTITION BY p.media_ref
           ORDER BY (p.mx - l.cx) * (p.mx - l.cx) + (p.my - l.cy) * (p.my - l.cy) ASC, l.label_id ASC
         ) AS rank
  FROM (SELECT media_ref, mx, my FROM media WHERE doc_num % 100 = 0) p
  CROSS JOIN labels l
) t WHERE rank <= {K}
""",
    tables=["labels", "media"],
)

register_df("knn_grid", knn_media_labels, oracle=_ORACLE)
