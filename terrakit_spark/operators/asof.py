"""J1 — temporal as-of join (bbox -> scene), the reference's core matching
step (/root/reference/terrakit/download/download_data.py:240-297):

for each deduplicated (datetime, bbox) row, search scene dates in
[date - pre_days, date + post_days] (defaults 0/+7,
/root/reference/terrakit/validate/download_model.py:35-36) and pick the
scene date minimizing |scene - label|; ties go to the EARLIEST scene date
because the reference takes `list.index(min(...))` over dates sorted
ascending (/root/reference/terrakit/download/download_data.py:276-285).

Spark plan: a date-interval range join (Catalyst turns the BETWEEN into a
band join; at scale the scene-date side is tiny after `DISTINCT` and goes
broadcast) + one analytic window `row_number() OVER (PARTITION BY datetime
ORDER BY abs_diff, scene_date)`. The J6 dedup-before-fetch
(drop_duplicates(datetime, geometry),
/root/reference/terrakit/download/download_data.py:233-237) is the DISTINCT
on the left side: one envelope per date."""

from __future__ import annotations

from terrakit_spark.dialect import D
from terrakit_spark.registry import register_sql
from terrakit_spark.synth import POST_DAYS, PRE_DAYS


def _asof_join(dialect: str, scene_filter: str = "true", labels: str = "labels", scenes: str = "scenes") -> str:
    """scene_filter pre-filters the scene side before the DISTINCT — the F2
    cloud-cover pushdown seam api.download_data threads max_cloud_cover
    through (download_data.py:506-643). labels/scenes name the two input
    relations: the staged job passes "{labels}"/"{scenes}" placeholders and
    the pulled layers as spark.sql arguments. The defaults ('true', the
    catalog views) keep the registered query/oracle text unchanged."""
    d = D(dialect)
    ldate = "b.dt"
    lo = d.date_add(ldate, f"-{PRE_DAYS}")
    hi = d.date_add(ldate, f"{POST_DAYS}")
    diff = f"abs({d.date_diff_days('s.scene_date', ldate)})"
    return f"""
SELECT datetime, scene_date_str, abs_diff
FROM (
  SELECT b.datetime,
         {d.date_str("s.scene_date")} AS scene_date_str,
         {diff} AS abs_diff,
         row_number() OVER (PARTITION BY b.datetime
                            ORDER BY {diff} ASC NULLS LAST, s.scene_date ASC NULLS LAST) AS rn
  FROM (SELECT DISTINCT datetime, {d.to_date("datetime")} AS dt FROM {labels}) b
  LEFT JOIN (SELECT DISTINCT scene_date FROM {scenes} WHERE {scene_filter}) s
    ON s.scene_date >= {lo} AND s.scene_date <= {hi}
) ranked
WHERE rn = 1
"""


def _asof_per_bbox(dialect: str) -> str:
    """Full J1 output cardinality: one matched scene per (datetime, labelclass)
    grouped-bbox row per 'source' — mirrors the reference row-count oracle
    style (len(queried_data) == dates x events,
    /root/reference/tests/component_tests/download/test_download_data.py:56-60)."""
    d = D(dialect)
    diff = f"abs({d.date_diff_days('s.scene_date', d.to_date('g.datetime'))})"
    return f"""
SELECT g.datetime, g.labelclass, matched.scene_date_str, matched.abs_diff
FROM (SELECT DISTINCT datetime, labelclass FROM labels) g
JOIN (
  SELECT datetime, scene_date_str, abs_diff FROM (
    SELECT b.datetime, {d.date_str("s.scene_date")} AS scene_date_str, {diff.replace("g.datetime", "b.datetime")} AS abs_diff,
           row_number() OVER (PARTITION BY b.datetime
                              ORDER BY {diff.replace("g.datetime", "b.datetime")} ASC, s.scene_date ASC) AS rn
    FROM (SELECT DISTINCT datetime, {d.to_date("datetime")} AS dt FROM labels) b
    JOIN (SELECT DISTINCT scene_date FROM scenes) s
      ON s.scene_date >= {d.date_add("b.dt", f"-{PRE_DAYS}")} AND s.scene_date <= {d.date_add("b.dt", f"{POST_DAYS}")}
  ) r WHERE rn = 1
) matched ON matched.datetime = g.datetime
"""


register_sql("asof_join", _asof_join, tables=["labels", "scenes"])
register_sql("asof_per_bbox", _asof_per_bbox, tables=["labels", "scenes"])
