"""Round-4 kernel tests: OPEN-model touches semantics (reference
predicates.cc:61-73 — touches = intersects(CLOSED) && !intersects(OPEN)),
covering the boundary-collinear configurations the previous implementation
got wrong (identical polygons, collinear line overlap, T-junctions)."""

import numpy as np
import pytest

from s2geography_spark.core import ops
from s2geography_spark.core.geog import from_wkt as L
from s2geography_spark.sources.regions import densified_rect, region_corners


RECT = "POLYGON ((9 9, 11 9, 11 11, 9 11, 9 9))"


@pytest.mark.parametrize("name,wa,wb,want", [
    ("identical lines", "LINESTRING (0 0, 10 0)", "LINESTRING (0 0, 10 0)", False),
    ("collinear overlap", "LINESTRING (0 0, 10 0)", "LINESTRING (9 0, 20 0)", False),
    ("end-to-end", "LINESTRING (0 0, 10 0)", "LINESTRING (10 0, 20 0)", True),
    ("T at terminal", "LINESTRING (0 0, 5 0)", "LINESTRING (5 -5, 5 5)", True),
    ("X crossing", "LINESTRING (0 0, 10 0)", "LINESTRING (5 -5, 5 5)", False),
    ("cross at internal vertex",
     "LINESTRING (0 0, 5 0, 10 0)", "LINESTRING (5 -5, 5 5)", False),
    ("point on line interior", "POINT (5 0)", "LINESTRING (0 0, 10 0)", False),
    ("point at line terminal", "POINT (0 0)", "LINESTRING (0 0, 10 0)", True),
    ("same point", "POINT (3 3)", "POINT (3 3)", False),
    ("line along poly boundary", "LINESTRING (9 9, 11 9)", RECT, True),
    ("line through poly", "LINESTRING (8 10, 12 10)", RECT, False),
    ("line ending inside poly", "LINESTRING (9 10, 10 10)", RECT, False),
    ("point inside poly", "POINT (10 10)", RECT, False),
    ("point on poly meridian edge", "POINT (9 10)", RECT, True),
])
def test_touches_open_model(name, wa, wb, want):
    a, b = L(wa), L(wb)
    assert ops.s2_touches(a, b) is want, name
    assert ops.s2_touches(b, a) is want, name + " (swapped)"


def test_touches_polygon_configurations():
    l0, t0, l1, t1 = region_corners(np.arange(1))
    a = densified_rect(float(l0[0]), float(t0[0]), float(l1[0]), float(t1[0]))
    cases = [
        ("same", densified_rect(float(l0[0]), float(t0[0]),
                                float(l1[0]), float(t1[0])), False),
        ("inner", densified_rect(float(l0[0]) + 0.5, float(t0[0]) + 0.5,
                                 float(l1[0]) - 0.5, float(t1[0]) - 0.5), False),
        ("adjacent shared edge",
         densified_rect(float(l1[0]), float(t0[0]),
                        float(l1[0]) + 2, float(t1[0])), True),
        ("disjoint", densified_rect(float(l0[0]) + 10, float(t0[0]),
                                    float(l1[0]) + 10, float(t1[0])), False),
        ("overlap", densified_rect(float(l0[0]) + 2, float(t0[0]) + 1,
                                   float(l1[0]) + 2, float(t1[0]) + 1), False),
    ]
    for name, b, want in cases:
        assert ops.s2_touches(a, b) is want, name
        assert ops.s2_touches(b, a) is want, name + " (swapped)"


# ---------------------------------------------------------------------------
# factorized point-rhs fast paths must agree with the scalar kernels,
# including null / EMPTY / negative-threshold rows
# ---------------------------------------------------------------------------

def test_factorized_distance_paths_match_scalar(spark):
    from pyspark.sql import functions as F
    from s2geography_spark.functions.geo import (st_closestpoint, st_distance,
                                                 st_dwithin, st_geogfromtext,
                                                 st_maxdistance, st_x, st_y,
                                                 _point_wkb_udf)
    # two distinct multipoint lhs geographies repeated over many point rhs
    rows = []
    for i in range(40):
        wkt = ("MULTIPOINT (0 0, 20 10, -15 -5)" if i % 2 == 0
               else "LINESTRING (10 -80, 10 80)")
        rows.append((i, wkt, float((i * 7) % 340 - 170) + 0.5,
                     float((i * 11) % 160 - 80) + 0.25,
                     500_000.0 if i % 3 else -1.0))
    df = spark.createDataFrame(
        rows, "i long, wkt string, lng double, lat double, thr double")
    got = df.select(
        "i",
        st_distance(st_geogfromtext("wkt"),
                    _point_wkb_udf(F.col("lng"), F.col("lat"))).alias("d"),
        st_maxdistance(st_geogfromtext("wkt"),
                       _point_wkb_udf(F.col("lng"), F.col("lat"))).alias("md"),
        st_dwithin(st_geogfromtext("wkt"),
                   _point_wkb_udf(F.col("lng"), F.col("lat")),
                   F.col("thr")).alias("dw"),
        st_x(st_closestpoint(st_geogfromtext("wkt"),
                             _point_wkb_udf(F.col("lng"), F.col("lat")))).alias("cx"),
        st_y(st_closestpoint(st_geogfromtext("wkt"),
                             _point_wkb_udf(F.col("lng"), F.col("lat")))).alias("cy"),
    ).collect()
    from s2geography_spark.core.geog import from_wkt, from_wkb
    from s2geography_spark.core import sphere
    import numpy as np
    for r, (i, wkt, lng, lat, thr) in zip(sorted(got, key=lambda x: x.i), rows):
        g = from_wkt(wkt)
        p = from_wkt(f"POINT ({lng} {lat})")
        assert abs(r.d - ops.s2_distance(g, p)) < 1e-6, i
        assert abs(r.md - ops.s2_max_distance(g, p)) < 1e-6, i
        assert r.dw == ops.s2_dwithin(g, p, thr), i
        cp = ops.s2_closest_point(g, p)
        assert abs(r.cx - cp.points[0][0]) < 1e-9, i
        assert abs(r.cy - cp.points[0][1]) < 1e-9, i


def test_factorized_paths_null_and_empty(spark):
    from pyspark.sql import functions as F
    from s2geography_spark.functions.geo import (st_distance, st_dwithin,
                                                 st_geogfromtext,
                                                 st_maxdistance,
                                                 _point_wkb_udf)
    rows = [(0, "MULTIPOINT (0 0, 20 10)", 5.0, 5.0),
            (1, "MULTIPOINT (0 0, 20 10)", None, None),   # null rhs
            (2, None, 5.0, 5.0),                           # null lhs
            (3, "MULTIPOINT EMPTY", 5.0, 5.0),             # empty lhs
            (4, "MULTIPOINT (0 0, 20 10)", 6.0, 6.0),
            (5, "MULTIPOINT (0 0, 20 10)", 7.0, 7.0),
            (6, "MULTIPOINT (0 0, 20 10)", 8.0, 8.0)]
    df = spark.createDataFrame(rows, "i long, wkt string, lng double, lat double")
    got = {r.i: r for r in df.select(
        "i",
        st_distance(st_geogfromtext("wkt"),
                    _point_wkb_udf(F.col("lng"), F.col("lat"))).alias("d"),
        st_maxdistance(st_geogfromtext("wkt"),
                       _point_wkb_udf(F.col("lng"), F.col("lat"))).alias("md"),
        st_dwithin(st_geogfromtext("wkt"),
                   _point_wkb_udf(F.col("lng"), F.col("lat")),
                   F.lit(1e7)).alias("dw")).collect()}
    assert got[0].d is not None and got[0].md is not None and got[0].dw is True
    for i in (1, 2, 3):
        assert got[i].d is None, i
        assert got[i].md is None, i
    assert got[2].dw is None          # null lhs -> null
    assert got[3].dw is False         # empty lhs -> distance None -> False


# ---------------------------------------------------------------------------
# oriented-WKB transport frame: a complement polygon (CW shell imported
# with oriented=true) must survive EVERY inter-kernel WKB hop, not just the
# importing UDF's direct output (round-3 verdict item 9)
# ---------------------------------------------------------------------------

def test_oriented_complement_survives_wkb_hops():
    from s2geography_spark.core.geog import from_wkb, to_wkb, from_wkt, to_wkt
    R = 6371010.0
    cw = "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))"  # CW = 'everything else'
    import s2geography_spark.core.geog as G
    g = G.from_wkt(cw)
    # from_wkt normalizes; rebuild with oriented WKB import
    plain = to_wkb(from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    # construct CW-ring WKB by reversing and reading oriented
    cw_ring = from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    cw_ring.polys[0][0] = cw_ring.polys[0][0][::-1].copy()
    buf = to_wkb(cw_ring)  # has_inverted_poly -> framed
    assert buf[:4] == G._ORIENTED_FRAME
    small = ops.s2_area(from_wkb(plain))
    # ROUND-TRIP: decode -> re-encode -> decode keeps the complement
    g2 = from_wkb(to_wkb(from_wkb(buf)))
    assert ops.s2_area(g2) == pytest.approx(4 * np.pi * R * R - small, rel=1e-9)


def test_oriented_complement_through_sql_pipeline(spark):
    """st_geogfromwkb(..., oriented=true) -> st_area through a downstream
    SQL hop (st_union with an empty set ruled out; use identity select)
    sees the complement area 4*pi*R^2 - a."""
    from pyspark.sql import functions as F
    from s2geography_spark.core.geog import from_wkt, to_wkb
    from s2geography_spark.functions.geo import (st_area, st_geogfromwkb,
                                                 st_perimeter)
    R = 6371010.0
    ccw = from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    small = ops.s2_area(ccw)
    ccw.polys[0][0] = ccw.polys[0][0][::-1].copy()
    # plain CW-ring WKB bytes (write body directly, bypassing the frame)
    import s2geography_spark.core.geog as G
    cw_wkb = G._to_wkb_body(ccw)
    df = spark.createDataFrame([(bytearray(cw_wkb),)], "wkb binary")
    # the importing UDF's output hops (as framed WKB) into two DIFFERENT
    # downstream kernels, each of which re-decodes independently — the hop
    # that round 3 documented as lossy
    imp = st_geogfromwkb(F.col("wkb"), F.lit(True), F.lit(False))
    out = df.select(st_area(imp).alias("a1"),
                    st_perimeter(imp).alias("p1")).collect()[0]
    want = 4 * np.pi * R * R - small
    assert out.a1 == pytest.approx(want, rel=1e-9)
    # the complement's boundary IS the ring -> same perimeter as the
    # normalized polygon
    plain_perim = ops.s2_perimeter(from_wkt(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    assert out.p1 == pytest.approx(plain_perim, rel=1e-9)


# ---------------------------------------------------------------------------
# interior-cell shortcut: the salted boundary-band shuffle (interior
# candidates skip the refine) must return exactly the state broadcast's
# pairs, boundary points included
# ---------------------------------------------------------------------------

def test_shuffle_rows_interior_shortcut_matches_broadcast(spark):
    from pyspark.sql import functions as F
    from s2geography_spark.operators.spatial_join import spatial_join
    from s2geography_spark.sources.regions import regions_df
    rows = [(i, float((i * 7) % 1440) / 4.0 - 180.0 + 0.125,
             float((i * 11) % 640) / 4.0 - 80.0 + 0.125) for i in range(800)]
    # planted boundary points on region-0 edges, plus its corner vertex
    # (both plans share one refine, so they agree exactly on it too)
    rows += [(100000, -150.0, -64.0), (100001, -147.0, -63.5),
             (100002, -150.0, -65.0)]
    pts = spark.createDataFrame(rows, "id long, lng double, lat double")
    regions = regions_df(spark, 48, covering_level=6)
    for predicate in ("contains", "intersects"):
        a = spatial_join(pts, regions, predicate=predicate, level=6)
        b = spatial_join(pts, regions, predicate=predicate, broadcast=False,
                         salt=2, level=6, refine_mode="subdivided")
        sa = {(r.id, r.region_id) for r in a.select("id", "region_id").collect()}
        sb = {(r.id, r.region_id) for r in b.select("id", "region_id").collect()}
        assert sa == sb, predicate


def test_cell_child_column_matches_numpy(spark):
    """The new cell_child Column function must agree with the NumPy kernel
    across random levels and child indices."""
    import numpy as np
    from pyspark.sql import functions as F
    from s2geography_spark.core import cellid as C
    from s2geography_spark.functions.cells import cell_child
    rng = np.random.default_rng(11)
    ids = []
    for _ in range(60):
        lev = int(rng.integers(0, 29))
        lsb = 1 << (2 * (30 - lev))
        pos = int(rng.integers(0, 1 << min(60, 2 * lev + 1))) if lev else 0
        ids.append((int(rng.integers(0, 4)) << 61)
                   | ((pos << (2 * (30 - lev) + 1)) & ((1 << 61) - 1)) | lsb)
    df = spark.createDataFrame([(np.int64(np.uint64(i)).item(),) for i in ids],
                               "cid long")
    got = df.select("cid", *[cell_child(F.col("cid"), k).alias(f"c{k}")
                             for k in range(4)]).collect()
    arr = np.array([r.cid for r in got], dtype=np.int64).view(np.uint64)
    for k in range(4):
        want = C.child(arr, np.full(len(arr), k)).view(np.int64)
        assert [r[f"c{k}"] for r in got] == want.tolist(), k


def test_asbinary_standard_egress():
    """to_wkb of a complement polygon carries the oriented frame (engine
    round-trip); to_wkb_standard / st_asbinary never do — output is plain
    parseable WKB for external consumers; inverted flag is memoized."""
    import numpy as np
    from s2geography_spark.core.geog import (Geog, from_wkb, from_wkt,
                                             has_inverted_poly, to_wkb,
                                             to_wkb_standard)
    # CW ring held as-is -> complement polygon (area > hemisphere)
    cw = Geog(polys=[[np.array(
        [[0., 0.], [0., 10.], [10., 10.], [10., 0.], [0., 0.]])]])
    assert has_inverted_poly(cw)
    framed = to_wkb(cw)
    assert framed[0] == 9          # oriented frame kind byte
    std = to_wkb_standard(cw)
    assert std[0] == 1             # little-endian WKB byte-order marker
    # plain WKB parses with any reader; oriented reimport recovers the
    # complement winding
    assert not has_inverted_poly(from_wkb(std))
    assert has_inverted_poly(from_wkb(std, oriented=True))
    # memoization: flag cached on the instance after first computation
    assert cw._xyz_cache["inverted"] is True
    # ordinary geographies: byte-identical to to_wkb
    g = from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert to_wkb_standard(g) == to_wkb(g)


def test_asbinary_sql(spark):
    from s2geography_spark.functions.geo import register_sql_functions
    register_sql_functions(spark)
    r = spark.sql(
        "SELECT st_astext(st_geogfromwkb(st_asbinary(st_geogfromtext("
        "'POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))')), false, false)) AS t"
    ).collect()[0]
    assert r.t.startswith("POLYGON")
