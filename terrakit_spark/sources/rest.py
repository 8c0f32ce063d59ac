"""S10 — REST point-forecast connector, Spark-first.

Mirrors the reference's TheWeatherCompany connector semantics
(/root/reference/terrakit/download/data_connectors/theweathercompany.py):
per-point daily-forecast requests at a horizon picked by bisecting
FORECAST_HORIZONS, date range clamped to [today, today + max_horizon),
responses flattened to (validTimeUtc, latitude, longitude, bands...) rows.

Spark shape: the fetch fans out as mapInPandas over point partitions — one
transport ("HTTP session") per partition, requests issued from executor
tasks, rows streamed back as Arrow batches. The network itself is a seam:

- SyntheticTransport (default here): derives the response payload
  deterministically from the request URL — the full request->parse->flatten
  plumbing runs for real and is pinned by an exact DuckDB oracle.
- DirectoryTransport: replays canned JSON responses from a fixture
  directory keyed by request (offline cache replay).
- A real aiohttp transport drops into the same seam where the container
  has network; nothing else changes.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import hashlib
import json
import os
from collections.abc import Iterator

import pandas as pd

from terrakit_spark.catalog import _register_views

FORECAST_HORIZONS = [3, 5, 7, 10, 15]  # theweathercompany.py:42


def forecast_days(date_start: str, date_end: str, today: _dt.date | None = None) -> int:
    """Horizon bucketing (theweathercompany.py:104-144): days-in-advance is
    the smallest horizon covering (end - today), clamped to the largest."""
    start = _dt.date.fromisoformat(date_start)
    end = _dt.date.fromisoformat(date_end)
    today = today or _dt.date.today()
    if start < today:
        raise ValueError(f"start date ({start}) cannot be in the past")
    if end < start:
        raise ValueError(f"end date ({end}) cannot be before start date ({start})")
    delta_days = (end - today).days + 1
    index = bisect.bisect_right(FORECAST_HORIZONS, delta_days)
    if index == len(FORECAST_HORIZONS):
        index -= 1
    return FORECAST_HORIZONS[index]


def forecast_url(ndays: int, latitude: float, longitude: float) -> str:
    return f"https://api.weather.com/v3/wx/forecast/daily/{ndays}day?geocode={latitude!r},{longitude!r}"


class SyntheticTransport:
    """Deterministic offline 'server': payload values are integer formulas
    of the geocode and day offset (exactly reproducible in SQL)."""

    def get(self, url: str, params: dict) -> dict:
        ndays = int(url.split("/daily/")[1].split("day")[0])
        lat_s, lon_s = url.split("geocode=")[1].split(",")
        qlat, qlon = round(float(lat_s) * 1000), round(float(lon_s) * 1000)
        base = _dt.date.fromisoformat(params["base_date"])
        days = [(base + _dt.timedelta(days=d)).isoformat() for d in range(ndays)]
        # +1e8 keeps the dividend positive: Python's % is floored but SQL's
        # is truncated, so the shared formula must never go negative
        temp = [((qlat * 31 + qlon * 17 + d * 7 + 100000000) % 400) / 10.0 - 20.0 for d in range(ndays)]
        precip = [((qlat * 13 + qlon * 29 + d * 11 + 100000000) % 100) / 10.0 for d in range(ndays)]
        return {"validTimeUtc": days, "temperature": temp, "precipitation": precip}


class DirectoryTransport:
    """Offline cache replay: responses stored as {sha1(url)}.json."""

    def __init__(self, fixture_dir: str):
        self.dir = fixture_dir

    def get(self, url: str, params: dict) -> dict:
        key = hashlib.sha1(url.encode()).hexdigest()
        path = os.path.join(self.dir, f"{key}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no cached response for {url} ({path})")
        with open(path) as fh:
            return json.load(fh)


def point_forecast(
    spark,
    points,
    date_start: str,
    date_end: str,
    bands: list[str] | None = None,
    transport_factory=SyntheticTransport,
    today: str | None = None,
):
    """points(point_id, lat, lon) -> one row per (point, forecast day):
    (point_id, valid_date, latitude, longitude, <bands...>).

    Returns an empty frame when the requested range is entirely outside the
    forecast window (find_data's out-of-horizon contract)."""
    base = today or _dt.date.today().isoformat()
    base_d = _dt.date.fromisoformat(base)
    start = _dt.date.fromisoformat(date_start)
    end = _dt.date.fromisoformat(date_end)
    max_end = base_d + _dt.timedelta(days=FORECAST_HORIZONS[-1] - 1)
    bands = bands or ["temperature", "precipitation"]
    schema = "point_id string, valid_date string, latitude double, longitude double, " + ", ".join(
        f"{b} double" for b in bands
    )
    if end < base_d or start > max_end:
        return spark.createDataFrame([], schema)
    clamp_start = max(start, base_d).isoformat()
    clamp_end = min(end, max_end).isoformat()
    ndays = forecast_days(clamp_start, clamp_end, today=base_d)

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()  # one 'session' per partition
        cols = ["point_id", "valid_date", "latitude", "longitude", *bands]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                resp = transport.get(
                    forecast_url(ndays, float(r.lat), float(r.lon)),
                    {"base_date": base, "units": "m", "format": "json"},
                )
                missing = [b for b in bands if b not in resp]
                if missing:
                    raise ValueError(f"bands not in forecast response: {missing}")
                for i, day in enumerate(resp["validTimeUtc"]):
                    if clamp_start <= day <= clamp_end:
                        rows.append(
                            (r.point_id, day, float(r.lat), float(r.lon), *(resp[b][i] for b in bands))
                        )
            yield pd.DataFrame(rows, columns=cols)

    return points.mapInPandas(fetch, schema=schema)


def _rest_query(spark, sf_dir):
    """Driver-checked S10 query: 5-day point forecast for a media-point
    subset through the full connector plumbing (URL build -> transport ->
    response parse -> clamp -> flatten); the synthetic transport's payload
    formula is replicated exactly by the DuckDB oracle."""
    _register_views(spark, sf_dir)
    pts = spark.sql(
        "SELECT media_ref AS point_id, my AS lat, mx AS lon FROM media WHERE doc_num % 200 = 0"
    )
    today = _dt.date.today()
    return point_forecast(
        spark, pts, today.isoformat(), (today + _dt.timedelta(days=4)).isoformat()
    )


def _rest_oracle() -> str:
    from terrakit_spark.dialect import DUCK
    from terrakit_spark.registry import with_synth

    return with_synth(
        DUCK,
        """
SELECT point_id, valid_date, latitude, longitude,
       ((qlat * 31 + qlon * 17 + d * 7 + 100000000) % 400) / 10.0 - 20.0 AS temperature,
       ((qlat * 13 + qlon * 29 + d * 11 + 100000000) % 100) / 10.0 AS precipitation
FROM (
  SELECT media_ref AS point_id,
         strftime(current_date + CAST(d AS INT), '%Y-%m-%d') AS valid_date,
         my AS latitude, mx AS longitude,
         CAST(round(my * 1000, 0) AS BIGINT) AS qlat,
         CAST(round(mx * 1000, 0) AS BIGINT) AS qlon,
         d
  FROM (SELECT media_ref, mx, my, unnest(generate_series(0, 4)) AS d
        FROM media WHERE doc_num % 200 = 0) _m
) _f
""",
        tables=["media"],
    )


from terrakit_spark.registry import register_df  # noqa: E402

register_df("rest_point_forecast", _rest_query, oracle=_rest_oracle())
