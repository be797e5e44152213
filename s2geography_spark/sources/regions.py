"""Deterministic region (polygon) dimension for the spatial join.

Regions are integer-degree lat/lng rectangles with edges densified to 1°
steps so the spherical polygon deviates from the planar rectangle by
< 2e-4 degrees — this makes the DuckDB lon/lat-range oracle exact for any
point >= 0.125 deg away from an edge (all synthetic points are, by
construction: they live on a 0.25-degree grid offset by 0.125 or 0.25).

Corner formulas are pure integer arithmetic reproducible in ANSI SQL:
  c    = (r*7) % 240
  lng0 = ((c*37) % 300) - 150 ; lng1 = lng0 + 3 + (r % 7)
  lat0 = ((c*23) % 130) - 65  ; lat1 = lat0 + 2 + (r % 5)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..core import ops
from ..core.geog import Geog, to_wkb
from . import arrow_df


def region_corners(r: np.ndarray):
    r = np.asarray(r, dtype=np.int64)
    c = (r * 7) % 240
    lng0 = ((c * 37) % 300) - 150
    lng1 = lng0 + 3 + (r % 7)
    lat0 = ((c * 23) % 130) - 65
    lat1 = lat0 + 2 + (r % 5)
    return lng0, lat0, lng1, lat1


def densified_rect(lng0, lat0, lng1, lat1, step=1.0) -> Geog:
    """CCW rectangle ring with vertices every `step` degrees along each edge
    (keeps geodesic edges within ~1e-4 deg of the parallels)."""
    xs = np.arange(lng0, lng1, step)
    ys = np.arange(lat0, lat1, step)
    bottom = np.stack([xs, np.full_like(xs, lat0, dtype=float)], axis=1)
    right = np.stack([np.full_like(ys, lng1, dtype=float), ys], axis=1)
    top = np.stack([xs[::-1] + step, np.full_like(xs, lat1, dtype=float)], axis=1)
    left = np.stack([np.full_like(ys, lng0, dtype=float), ys[::-1] + step], axis=1)
    ring = np.vstack([bottom, right, top, left, [[lng0, lat0]]]).astype(float)
    return Geog(polys=[[ring]])


_ROWS_CACHE: dict = {}


def _region_rows(n_regions: int, with_covering: bool, covering_level=None):
    key = (n_regions, with_covering, covering_level)
    if key not in _ROWS_CACHE:
        rs = np.arange(n_regions)
        lng0, lat0, lng1, lat1 = region_corners(rs)
        geogs = [densified_rect(float(lng0[i]), float(lat0[i]),
                                float(lng1[i]), float(lat1[i]))
                 for i in range(n_regions)]
        if not with_covering:
            covs = [None] * n_regions
        elif covering_level is None:
            covs = [ops.s2_covering(g, max_cells=8) for g in geogs]
        else:
            # fixed-level coverings: every cell at exactly covering_level
            # (single-key join: the point side emits one parent cell), all
            # regions in one batched pass
            covs = ops.fixed_level_coverings(geogs, covering_level)
        _ROWS_CACHE[key] = [
            (int(rs[i]), float(lng0[i]), float(lat0[i]), float(lng1[i]),
             float(lat1[i]), to_wkb(g), cov)
            for i, (g, cov) in enumerate(zip(geogs, covs))]
    return _ROWS_CACHE[key]


def regions_df(spark: SparkSession, n_regions: int = 96,
               with_covering: bool = True,
               covering_level=None) -> DataFrame:
    """Small broadcastable polygon dimension: region_id, corner columns,
    geog WKB, and (optionally) the precomputed covering (the reference's
    embedded-covering checkpoint idea, geography_interface.h:150-158):
    the adaptive 8-cell covering, or with `covering_level` every cell at
    that level, all regions covered in one fixed_level_coverings pass (a
    level outside 0..30 raises ValueError).  Rows are memoized
    driver-side (deterministic)."""
    rows = _region_rows(n_regions, with_covering, covering_level)
    return arrow_df(
        spark, rows,
        "region_id long, lng0 double, lat0 double, lng1 double, lat1 double,"
        " geog binary, covering array<long>")


def special_regions_df(spark: SparkSession) -> DataFrame:
    """Engine-only test regions: antimeridian-crossing and pole-containing
    polygons (coverings_test.cc:34-133 analogs). Not oracle-able in planar
    SQL — used by pytest goldens, excluded from DuckDB comparisons."""
    am = Geog(polys=[[np.array([
        [175.0, -5.0], [180.0, -5.0], [-180.0 + 5, -5.0], [-175.0, 5.0],
        [180.0, 5.0], [175.0, 5.0], [175.0, -5.0]])]])
    pole = Geog(polys=[[np.array([
        [-120.0, 80.0], [0.0, 80.0], [120.0, 80.0], [-120.0, 80.0]])]])
    rows = [
        (1000, "antimeridian", to_wkb(am), ops.s2_covering(am, max_cells=8)),
        (1001, "north_pole", to_wkb(pole), ops.s2_covering(pole, max_cells=8)),
    ]
    return arrow_df(
        spark, rows, "region_id long, name string, geog binary, "
        "covering array<long>")
