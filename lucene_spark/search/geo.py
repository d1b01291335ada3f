"""Geo queries — the LatLonPoint role.

Reference:
- lucene/core/src/java/org/apache/lucene/document/LatLonPoint.java:236-297
  (newBoxQuery / newDistanceQuery; BKD-encoded points, two-phase match)
- lucene/core/src/java/org/apache/lucene/document/LatLonDocValuesField.java
  (newDistanceSort: SortField by haversine meters)
- lucene/core/src/java/org/apache/lucene/util/SloppyMath.java (haversinMeters)
  with GeoUtils.EARTH_MEAN_RADIUS_METERS = 6371008.7714.

Spark disposition: points live as two double columns on the docs
table. Box queries are pure Catalyst range predicates (parquet min-max
row-group pruning plays the BKD tree). Distance queries are a
latitude-band range pre-filter (pushdown) AND the exact haversine test
in whole-stage-codegen trig — Lucene's bounding-box-then-exact
two-phase match. Distance sort is ORDER BY haversine LIMIT k →
TakeOrderedAndProject. No Python anywhere in these plans.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# GeoUtils.EARTH_MEAN_RADIUS_METERS (GeoUtils.java:40)
EARTH_MEAN_RADIUS_M = 6371008.7714


def haversine_meters(lat_col, lon_col, lat: float, lon: float) -> Column:
    """Haversine distance (meters) from each row's point to (lat, lon),
    float64 Catalyst trig (SloppyMath.haversinMeters role). Documented
    deviation: the reference uses SloppyMath's table-driven approximate
    trig (relative error ~1e-7, ≤ ~40 cm); this is the EXACT formula —
    a point within that error band of a distance-query radius can
    classify differently than Lucene (same note as expressions.py's
    haversin)."""
    lat1 = F.radians(F.lit(float(lat)))
    lon1 = F.radians(F.lit(float(lon)))
    lat2 = F.radians(F.col(lat_col) if isinstance(lat_col, str) else lat_col)
    lon2 = F.radians(F.col(lon_col) if isinstance(lon_col, str) else lon_col)
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = (
        F.pow(F.sin(dlat / F.lit(2.0)), F.lit(2.0))
        + F.cos(lat1) * F.cos(lat2) * F.pow(F.sin(dlon / F.lit(2.0)), F.lit(2.0))
    )
    return F.lit(2.0 * EARTH_MEAN_RADIUS_M) * F.asin(F.sqrt(h))


def haversine_np(lat_arr, lon_arr, lat: float, lon: float):
    """The same haversine formula vectorized in numpy float64 (used by
    the distance-feature kernels so driver and distributed modes score
    through one float path; ulp-identical to the SQL oracle's double
    trig for gate-rounding purposes)."""
    import numpy as np

    lat1 = np.radians(float(lat))
    lon1 = np.radians(float(lon))
    lat2 = np.radians(np.asarray(lat_arr, dtype=np.float64))
    lon2 = np.radians(np.asarray(lon_arr, dtype=np.float64))
    h = (
        np.power(np.sin((lat2 - lat1) / 2.0), 2.0)
        + np.cos(lat1) * np.cos(lat2) * np.power(np.sin((lon2 - lon1) / 2.0), 2.0)
    )
    return 2.0 * EARTH_MEAN_RADIUS_M * np.arcsin(np.sqrt(h))


def box_condition(q) -> Column:
    """GeoBoxQuery → Catalyst predicate. min_lon > max_lon crosses the
    dateline: the box is the UNION of [min_lon, 180] and [-180, max_lon]
    (LatLonPoint.newBoxQuery's crossesDateline branch)."""
    lat = (F.col(q.lat_field) >= q.min_lat) & (F.col(q.lat_field) <= q.max_lat)
    if q.min_lon <= q.max_lon:
        lon = (F.col(q.lon_field) >= q.min_lon) & (F.col(q.lon_field) <= q.max_lon)
    else:
        lon = (F.col(q.lon_field) >= q.min_lon) | (F.col(q.lon_field) <= q.max_lon)
    return lat & lon


def distance_condition(q) -> Column:
    """GeoDistanceQuery → latitude-band pre-filter (range predicate the
    parquet scan prunes on — the BKD bounding-box phase) AND the exact
    haversine test."""
    dlat_deg = math.degrees(q.radius_m / EARTH_MEAN_RADIUS_M)
    band = (F.col(q.lat_field) >= q.lat - dlat_deg) & (F.col(q.lat_field) <= q.lat + dlat_deg)
    exact = haversine_meters(q.lat_field, q.lon_field, q.lat, q.lon) <= F.lit(float(q.radius_m))
    return band & exact


def _ray_cast_terms(lat_col: str, lon_col: str, points) -> list:
    """One crossing test per polygon edge (the standard even-odd ray
    cast, a horizontal ray to +lon): the edge crosses iff its latitude
    span straddles the point's latitude AND the edge's longitude at
    that latitude lies east of the point. The polygon is a query-time
    CONSTANT, so this compiles to a fixed whole-stage-codegen sum —
    no UDF, no join."""
    lat, lon = F.col(lat_col), F.col(lon_col)
    terms = []
    pts = list(points)
    if pts[0] == pts[-1]:
        pts = pts[:-1]
    for (y1, x1), (y2, x2) in zip(pts, pts[1:] + pts[:1]):
        if y1 == y2:
            # horizontal edge: can never straddle the point's latitude —
            # skip rather than emit a /0 term (NULL under default Spark,
            # DIVIDE_BY_ZERO error under spark.sql.ansi.enabled; the
            # shapes.py ray cast skips these the same way)
            continue
        straddles = (F.lit(float(y1)) > lat) != (F.lit(float(y2)) > lat)
        xcross = F.lit(float(x2 - x1)) * (lat - F.lit(float(y1))) / F.lit(float(y2 - y1)) + F.lit(
            float(x1)
        )
        terms.append(F.when(straddles & (lon < xcross), 1).otherwise(0))
    # all-horizontal (zero-area) polygon: no ray ever crosses
    return terms or [F.lit(0)]


def polygon_condition(q) -> Column:
    """GeoPolygonQuery → Catalyst predicate (LatLonPoint.newPolygonQuery
    role, LatLonPoint.java newPolygonQuery; Polygon.java shell+holes):
    even-odd ray casting over the shell, minus any hole containment,
    AND'd with the shell's bounding box so the parquet scan still
    prunes row groups (the BKD bounding-box phase). Documented subset:
    points exactly ON an edge follow the ray-cast convention rather
    than the reference's exact boundary arithmetic; polygons must not
    cross the dateline."""
    shell = list(q.points)
    inside = sum(_ray_cast_terms(q.lat_field, q.lon_field, shell)) % 2 == 1
    for hole in q.holes or ():
        in_hole = sum(_ray_cast_terms(q.lat_field, q.lon_field, hole)) % 2 == 1
        inside = inside & ~in_hole
    lats = [p[0] for p in shell]
    lons = [p[1] for p in shell]
    bbox = (
        (F.col(q.lat_field) >= min(lats))
        & (F.col(q.lat_field) <= max(lats))
        & (F.col(q.lon_field) >= min(lons))
        & (F.col(q.lon_field) <= max(lons))
    )
    return bbox & inside


def ray_cast_sql(lat_col: str, lon_col: str, points) -> str:
    """The same even-odd test as ANSI SQL text (DuckDB oracles)."""
    pts = list(points)
    if pts[0] == pts[-1]:
        pts = pts[:-1]
    terms = []
    for (y1, x1), (y2, x2) in zip(pts, pts[1:] + pts[:1]):
        terms.append(
            f"(CASE WHEN (({y1!r} > {lat_col}) != ({y2!r} > {lat_col})) "
            f"AND {lon_col} < {x2 - x1!r} * ({lat_col} - {y1!r}) / {y2 - y1!r} + {x1!r} "
            f"THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"


def nearest(searcher, query, lat: float, lon: float, k: int = 10,
            lat_field: str = "lat", lon_field: str = "lon") -> DataFrame:
    """LatLonDocValuesField.newDistanceSort: the query's matches ordered
    by haversine meters ascending (tie: doc_id), top k. Distributed
    shape: the match relation never lands on the driver — the distance
    is a docs-table column expression and the cut is
    TakeOrderedAndProject. Returns (doc_id, distance_m)."""
    matches = searcher.match_frame(query).select("doc_id")
    docs = searcher.index.docs
    dist = haversine_meters(lat_field, lon_field, lat, lon).alias("distance_m")
    # plain equi-join: AQE converts it to broadcast at runtime when the
    # match relation turns out small; a non-selective query stays a
    # shuffle join (never a driver collect)
    return (
        docs.join(matches, "doc_id")
        .select("doc_id", dist)
        .orderBy(F.asc("distance_m"), F.asc("doc_id"))
        .limit(k)
    )
