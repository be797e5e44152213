"""The join's exact refine against an oracle that shares no code with it.

Seeded convex spherical n-gons (arbitrary rotation, some across the
antimeridian, some within 10 degrees of a pole) are checked with the
all-edges triple-product test: p is inside a CCW convex n-gon iff
det(v_i, v_{i+1}, p) > 0 for every edge.  Random points keep a margin from
every boundary; exact vertices and edge midpoints are added on top.  Both
plans (state broadcast, boundary-band shuffle) and both predicates must
return the same rows.
"""

import numpy as np
import pytest

from s2geography_spark.core.geog import Geog, to_wkb
from s2geography_spark.operators.spatial_join import (prepare_regions,
                                                      spatial_join)
from s2geography_spark.sources.regions import region_corners, regions_df

MARGIN = 1e-7          # radians (~0.6 m) between an oracle point and an edge


def _xyz(lng, lat):
    lng, lat = np.radians(lng), np.radians(lat)
    return np.stack([np.cos(lat) * np.cos(lng), np.cos(lat) * np.sin(lng),
                     np.sin(lat)], axis=-1)


def _lnglat(v):
    v = v / np.linalg.norm(v, axis=-1, keepdims=True)
    return (np.degrees(np.arctan2(v[..., 1], v[..., 0])),
            np.degrees(np.arcsin(np.clip(v[..., 2], -1, 1))))


def _ngons(rng, n):
    """(vertices (k, 3) CCW, lng/lat ring) per polygon: vertices on a small
    circle around a random centre, at sorted random bearings."""
    out = []
    for i in range(n):
        kind = i % 3
        lng = rng.uniform(-180, 180)
        lat = rng.uniform(-60, 60)
        if kind == 1:                                # across the antimeridian
            lng = rng.choice([-1, 1]) * rng.uniform(177.0, 180.0)
        elif kind == 2:                              # within 10 deg of a pole
            lat = rng.choice([-1, 1]) * rng.uniform(80.5, 89.0)
        c = _xyz(lng, lat)
        east = np.cross([0.0, 0.0, 1.0], c)
        east /= np.linalg.norm(east)
        north = np.cross(c, east)                    # east x north = c
        r = np.radians(rng.uniform(1.0, 6.0))
        k = int(rng.integers(3, 10))
        th = np.sort(rng.uniform(0, 2 * np.pi, k)) + rng.uniform(0, 2 * np.pi)
        v = (np.cos(r) * c + np.sin(r) * (np.cos(th)[:, None] * east
                                          + np.sin(th)[:, None] * north))
        vlng, vlat = _lnglat(v)
        # store the vertices exactly as the ring holds them
        v = _xyz(vlng, vlat)
        ring = np.stack([vlng, vlat], axis=1)
        out.append((v, np.vstack([ring, ring[:1]]), c, r))
    return out


def _signed_margin(v, p):
    """min over edges of det(v_i, v_{i+1}, p) / |v_i x v_{i+1}|: > 0 inside,
    < 0 outside; its magnitude bounds the distance to the boundary."""
    n = np.cross(v, np.roll(v, -1, axis=0))
    n /= np.linalg.norm(n, axis=1, keepdims=True)
    return (p @ n.T).min(axis=1)


@pytest.fixture(scope="module")
def ngon_case(spark):
    from s2geography_spark.functions.geo import s2_coveringcellids
    rng = np.random.default_rng(2025)
    polys = _ngons(rng, 18)
    regions = spark.createDataFrame(
        [(i, bytearray(to_wkb(Geog(polys=[[ring]]))))
         for i, (_, ring, _, _) in enumerate(polys)],
        "region_id long, geog binary") \
        .withColumn("covering", s2_coveringcellids("geog"))
    # random points: around each centre (boundary pressure) and global
    pts = [_xyz(rng.uniform(-180, 180, 400),
                np.degrees(np.arcsin(rng.uniform(-1, 1, 400))))]
    for v, _, c, r in polys:
        d = rng.normal(size=(300, 3))
        d -= (d @ c)[:, None] * c
        d /= np.linalg.norm(d, axis=1, keepdims=True)
        a = np.sqrt(rng.uniform(0, 1, 300)) * 1.5 * r
        pts.append(np.cos(a)[:, None] * c + np.sin(a)[:, None] * d)
    lng, lat = _lnglat(np.vstack(pts))
    p = _xyz(lng, lat)
    margins = np.stack([_signed_margin(v, p) for v, _, _, _ in polys], axis=1)
    keep = (np.abs(margins) > MARGIN).all(axis=1)
    inside = margins[keep] > 0
    rows = [(int(i), float(x), float(y))
            for i, x, y in zip(np.where(keep)[0], lng[keep], lat[keep])]
    expected = {(rows[i][0], int(j)) for i, j in zip(*np.nonzero(inside))}
    # exact vertices and great-circle edge midpoints of every polygon.  A
    # midpoint rounded to lng/lat degrees lands up to ~1e-14 rad off its
    # arc, on either side, so only the vertices have a known answer
    exact, vertices = [], set()
    pid = 10_000_000
    for j, (v, ring, _, _) in enumerate(polys):
        for x, y in ring[:-1]:
            vertices.add((pid, j))
            exact.append((pid, float(x), float(y)))
            pid += 1
        for x, y in zip(*_lnglat(v + np.roll(v, -1, axis=0))):
            exact.append((pid, float(x), float(y)))
            pid += 1
    return regions, rows, expected, exact, vertices


def _pairs(spark, rows, prep, **kw):
    pts = spark.createDataFrame(rows, "pid long, lng double, lat double")
    return {(r.pid, r.region_id) for r in
            spatial_join(pts, prep, **kw).select("pid", "region_id").collect()}


def test_ngon_oracle_both_plans_both_predicates(spark, ngon_case):
    regions, rows, expected, exact, vertices = ngon_case
    assert len(expected) > 500 and len(rows) > 4000
    prep = prepare_regions(spark, regions)
    assert prep.fits_broadcast
    for predicate in ("contains", "intersects"):
        got_b = _pairs(spark, rows, prep, predicate=predicate)
        got_s = _pairs(spark, rows, prep, predicate=predicate,
                       refine_mode="subdivided", salt=3)
        assert got_b == expected, (predicate, len(got_b ^ expected))
        assert got_s == expected, (predicate, len(got_s ^ expected))
        # exact boundary points: identical rows on both plans, and every
        # vertex is kept by the polygon it lies on
        ex_b = _pairs(spark, exact, prep, predicate=predicate)
        ex_s = _pairs(spark, exact, prep, predicate=predicate,
                      refine_mode="subdivided")
        assert ex_b == ex_s, predicate
        assert vertices <= ex_b, (predicate, sorted(vertices - ex_b)[:5])


def test_box_edges_and_vertices_same_rows_on_both_plans(spark):
    """Points exactly on the 12 level-6 box regions' edge midlines and
    corners: the broadcast plan used to drop 40 of the pairs the shuffle
    plan keeps.  Both plans and both predicates now agree, and every
    corner joins its own box."""
    n = 12
    lng0, lat0, lng1, lat1 = region_corners(np.arange(n))
    rows, corners = [], set()
    for i in range(n):
        mx, my = (lng0[i] + lng1[i]) / 2, (lat0[i] + lat1[i]) / 2
        for x, y in [(mx, lat0[i]), (mx, lat1[i]), (lng0[i], my),
                     (lng1[i], my), (mx, my)]:
            rows.append((len(rows), float(x), float(y)))
        for x, y in [(lng0[i], lat0[i]), (lng1[i], lat1[i]),
                     (lng0[i], lat1[i]), (lng1[i], lat0[i])]:
            corners.add((len(rows), i))
            rows.append((len(rows), float(x), float(y)))
    regions = regions_df(spark, n, covering_level=6)
    for predicate in ("contains", "intersects"):
        b = _pairs(spark, rows, regions, predicate=predicate, level=6)
        s = _pairs(spark, rows, regions, predicate=predicate, level=6,
                   broadcast=False, refine_mode="subdivided")
        assert b == s, (predicate, len(b ^ s))
        assert corners <= b, predicate
