"""terrakit_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the semantics of the reference geospatial ML-dataset generator
(terrastackai/terrakit, surveyed in SURVEY.md) as distributed DataFrame
operators: vectorized grid-cell spatial indexing, ray-cast point-in-polygon
joins, temporal as-of joins, raster window chipping with per-band statistics,
and large-scale training-data utilities (dedup, similarity search, text
quality) — all DataFrame API + Arrow pandas UDFs, zero per-row Python.
"""

__version__ = "0.1.0"


def __getattr__(name):
    # lazy, so importing the package (as the worker daemon does, before it
    # fixes its path) does not import pyspark
    if name == "get_spark":
        from terrakit_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
