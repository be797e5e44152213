"""Round-2 operator tests: mergeable bbox aggregate, dwithin_join on the
buffered-covering path, and the exact-verify dedup pipelines."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geography_spark.operators.aggregates import bbox_agg
from s2geography_spark.operators.spatial_join import dwithin_join


def test_bbox_agg_plain(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 5.0), (1, 20.0, -3.0), (1, 15.0, 8.0),
         (2, -170.0, 0.0), (2, -160.0, 10.0)],
        "g int, lng double, lat double")
    rows = {r.g: r for r in bbox_agg(df, ["g"]).collect()}
    assert (rows[1].xmin, rows[1].ymin, rows[1].xmax, rows[1].ymax) == \
        (10.0, -3.0, 20.0, 8.0)
    assert (rows[2].xmin, rows[2].xmax) == (-170.0, -160.0)


def test_bbox_agg_antimeridian(spark):
    # points straddling the antimeridian: the wrapped interval is narrower,
    # returned with xmin > xmax (S2LatLngRect lng_lo > lng_hi convention)
    df = spark.createDataFrame(
        [(1, 170.0, 0.0), (1, -170.0, 5.0), (1, 175.0, -5.0)],
        "g int, lng double, lat double")
    r = bbox_agg(df, ["g"]).collect()[0]
    assert r.xmin == 170.0 and r.xmax == -170.0  # 20-degree wrapped interval
    assert r.ymin == -5.0 and r.ymax == 5.0


def test_bbox_agg_no_collect_list_in_plan(spark):
    df = spark.createDataFrame([(1, 0.0, 0.0)], "g int, lng double, lat double")
    plan = bbox_agg(df, ["g"])._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan


def test_dwithin_join_matches_brute_force(spark, plan):
    from s2geography_spark.functions.geo import _point_wkb_udf
    from s2geography_spark.core import sphere
    rng = np.random.default_rng(7)
    pts = spark.createDataFrame(
        [(int(i), float(lng), float(lat)) for i, (lng, lat) in enumerate(
            zip(rng.uniform(-30, 30, 200), rng.uniform(-20, 20, 200)))],
        "pid long, lng double, lat double").cache()
    centers_rows = [(int(i), float(lng), float(lat)) for i, (lng, lat) in
                    enumerate(zip(rng.uniform(-30, 30, 12),
                                  rng.uniform(-20, 20, 12)))]
    centers = spark.createDataFrame(
        centers_rows, "region_id long, clng double, clat double") \
        .select("region_id", "clng", "clat",
                _point_wkb_udf(F.col("clng"), F.col("clat")).alias("geog"))
    radius = 700_000.0
    got = {(r.pid, r.region_id) for r in
           dwithin_join(pts, centers.select("region_id", "geog"),
                        radius).select("pid", "region_id").collect()}
    # brute force
    p = {r.pid: (r.lng, r.lat) for r in pts.collect()}
    exp = set()
    for pid, (lng, lat) in p.items():
        a = sphere.lnglat_to_xyz(np.array([lng, lat]))
        for rid, clng, clat in centers_rows:
            b = sphere.lnglat_to_xyz(np.array([clng, clat]))
            d = float(sphere.angle(a, b)) * sphere.EARTH_RADIUS_METERS
            if d <= radius:
                exp.add((pid, rid))
    assert got == exp and len(exp) > 0


def test_dwithin_join_no_cartesian(spark, plan):
    from s2geography_spark.functions.geo import _point_wkb_udf
    pts = spark.createDataFrame([(0, 1.0, 1.0)], "pid long, lng double, lat double")
    centers = spark.createDataFrame([(0, 1.5, 1.5)],
                                    "region_id long, clng double, clat double") \
        .select("region_id", _point_wkb_udf("clng", "clat").alias("geog"))
    out = dwithin_join(pts, centers, 500_000.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_identical_sets_always_collide(spark):
    """Identical shingle sets -> identical signatures -> every band equal."""
    from s2geography_spark.operators.dedup import minhash_lsh_pairs
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "alpha beta gamma delta epsilon zeta"),   # exact clone
         (2, "alpha, beta;  gamma delta epsilon zeta"),  # normalizes equal
         (3, "totally different words here entirely now")],
        "doc_id long, text string")
    pairs = {(r.a, r.b) for r in
             minhash_lsh_pairs(docs, threshold=1.0).select("a", "b").collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert not any(3 in p for p in pairs)


# ---------------------------------------------------------------------------
# interior covering + cell union bound (coverings.cc:69-78, geography.cc:23-57)
# ---------------------------------------------------------------------------

def test_interior_covering_properties():
    import numpy as np
    from s2geography_spark.core import cellid as C
    from s2geography_spark.core import ops, sphere
    from s2geography_spark.core.geog import from_wkt
    g = from_wkt("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))")
    interior = ops.s2_interior_covering(g, max_cells=12)
    exterior = ops.s2_covering(g, max_cells=8)
    assert len(interior) > 0
    ra, rb = g.ring_edges_xyz()
    for cid in interior:
        arr = np.array([cid], dtype=np.int64).view(np.uint64)
        quads = C.cell_vertices_xyz(arr).reshape(-1, 3)
        center = np.stack(C.to_xyz(arr), axis=-1)
        probe = np.vstack([quads, center])
        assert sphere.contains_points(probe, ra, rb, model="closed").all()
        # interior cell is contained in some exterior covering cell
        ext = np.array(exterior, dtype=np.int64).view(np.uint64)
        assert bool(((C.range_min(ext) <= arr[0]) & (arr[0] <= C.range_max(ext))).any())


def test_interior_covering_non_polygon_empty():
    from s2geography_spark.core import ops
    from s2geography_spark.core.geog import from_wkt
    assert ops.s2_interior_covering(from_wkt("POINT (1 1)")) == []
    assert ops.s2_interior_covering(from_wkt("LINESTRING (0 0, 1 1)")) == []
    assert ops.s2_interior_covering(from_wkt("POLYGON EMPTY")) == []


def test_cell_union_bound_superset():
    import numpy as np
    from s2geography_spark.core import cellid as C
    from s2geography_spark.core import ops
    from s2geography_spark.core.geog import from_wkt
    g = from_wkt("POLYGON ((10 10, 15 10, 15 14, 10 14, 10 10))")
    bound = np.array(ops.s2_cell_union_bound(g), dtype=np.int64).view(np.uint64)
    assert 0 < len(bound) <= 6
    # every vertex leaf cell is inside some bound cell
    v = g.all_vertices_xyz()
    leafs = C.from_xyz(v[:, 0], v[:, 1], v[:, 2])
    lo = C.range_min(bound)
    hi = C.range_max(bound)
    assert (((leafs[:, None] >= lo[None, :]) & (leafs[:, None] <= hi[None, :]))
            .any(axis=1).all())
    # small point sets: one leaf per point
    mp = from_wkt("MULTIPOINT ((0 0), (1 1), (2 2))")
    assert len(ops.s2_cell_union_bound(mp)) == 3


def test_interior_covering_sql(spark):
    from s2geography_spark.functions.geo import register_sql_functions
    register_sql_functions(spark)
    row = spark.sql(
        "SELECT size(s2_interiorcoveringcellids(st_geogfromtext("
        "'POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0))'))) AS n,"
        " size(s2_cellunionbound(st_geogfromtext('POINT (3 3)'))) AS b"
    ).collect()[0]
    assert row.n > 0 and row.b == 1


# ---------------------------------------------------------------------------
# tagged binary encoding + distinct aggregators
# ---------------------------------------------------------------------------

def test_tagged_roundtrip_and_prefix(spark):
    from s2geography_spark.functions.geo import register_sql_functions
    register_sql_functions(spark)
    rows = spark.sql("""
      SELECT st_astext(s2_decodetagged(s2_encodetagged(
               st_geogfromtext('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'),
               true, false))) AS rt,
             size(s2_taggedcovering(s2_encodetagged(
               st_geogfromtext('POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'),
               true, false))) AS ncov,
             length(s2_encodetagged(st_geogfromtext('POINT EMPTY'),
               false, false)) AS nempty
    """).collect()[0]
    assert rows.rt == "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    assert rows.ncov > 0
    assert rows.nempty == 4  # tag only: empty flag, no covering, no body


def test_tagged_cell_center_compact():
    import numpy as np
    from s2geography_spark.core import cellid as C, encoding as E
    from s2geography_spark.core.geog import Geog
    cell = C.parent(C.from_lnglat(np.array([10.0]), np.array([20.0])), 25)
    lng, lat = C.to_lnglat(cell)
    g = Geog(points=np.stack([lng, lat], axis=-1))
    b = E.encode_tagged(g, hint="compact")
    assert len(b) == 12 and E.decode_tag(b)["kind"] == E.KIND_CELL_CENTER
    rt = E.decode_tagged(b)
    assert float(rt.points[0, 0]) == float(lng[0])
    assert float(rt.points[0, 1]) == float(lat[0])


def test_coverage_union_agg_disjoint(spark):
    from s2geography_spark.core import ops
    from s2geography_spark.core.geog import from_wkb, from_wkt, to_wkb
    from s2geography_spark.operators.aggregates import (coverage_union_agg,
                                                        rebuild_agg, union_agg)
    a = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    b = "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))"
    df = spark.createDataFrame(
        [(1, to_wkb(from_wkt(a))), (1, to_wkb(from_wkt(b)))],
        "g int, geog binary")
    cov = from_wkb(bytes(coverage_union_agg(df, "geog", ["g"])
                         .collect()[0].geog_union))
    uni = from_wkb(bytes(union_agg(df, "geog", ["g"]).collect()[0].geog_union))
    # disjoint-input fast path == true union
    assert ops.s2_equals(cov, uni) is True
    assert len(cov.polys) == 2
    # rebuild collapses duplicate points
    df2 = spark.createDataFrame(
        [(1, to_wkb(from_wkt("POINT (1 1)"))),
         (1, to_wkb(from_wkt("POINT (1 1)"))),
         (1, to_wkb(from_wkt("POINT (2 2)")))], "g int, geog binary")
    rb = from_wkb(bytes(rebuild_agg(df2, "geog", ["g"]).collect()[0].geog_union))
    assert len(rb.points) == 2


def test_rebuild_op(spark):
    from s2geography_spark.core import build as B, ops
    from s2geography_spark.core.geog import from_wkt, to_wkt
    # duplicate adjacent vertices dropped, degenerate line removed,
    # CW shell re-normalized CCW
    g = from_wkt("GEOMETRYCOLLECTION ("
                 "LINESTRING (0 0, 0 0, 1 1), LINESTRING (5 5, 5 5),"
                 "POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0)))")
    r = B.s2_rebuild(g)
    assert len(r.lines) == 1 and len(r.lines[0]) == 2
    from s2geography_spark.core import sphere
    assert sphere.ring_signed_area(
        sphere.lnglat_to_xyz(r.polys[0][0])) > 0
    # SQL surface
    from s2geography_spark.functions.geo import register_sql_functions
    register_sql_functions(spark)
    row = spark.sql("SELECT st_astext(st_rebuild(st_geogfromtext("
                    "'LINESTRING (0 0, 0 0, 1 1)'))) AS t").collect()[0]
    assert row.t == "LINESTRING (0 0, 1 1)"


def test_bucketed_dedup_join_no_exchange(spark, tmp_path):
    """The documented 100 TB pattern (operators/dedup.py): bucket the corpus
    by digest so dedup reruns join WITHOUT a shuffle.  Verified at the plan
    level: the bucketed self-join has no Exchange on either side."""
    from pyspark.sql import functions as F
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.md5(F.pmod(F.col("id"), F.lit(500)).cast("string")).alias("digest"))
    import shutil
    spark.sql("DROP TABLE IF EXISTS docs_bucketed")
    shutil.rmtree("spark-warehouse/docs_bucketed", ignore_errors=True)
    (docs.write.bucketBy(8, "digest").sortBy("digest")
     .mode("overwrite").saveAsTable("docs_bucketed"))
    t = spark.table("docs_bucketed")
    keep = t.groupBy("digest").agg(F.min("doc_id").alias("keep_id"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        # force the non-broadcast join shape a 100 TB corpus would take
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = t.join(keep, "digest")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # bucketed scans supply the hash partitioning: NO shuffle anywhere
        assert "ShuffleExchange" not in plan and             "Exchange hashpartitioning" not in plan, plan[:2000]
        assert "Bucketed: true" in plan
        assert joined.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS docs_bucketed")


def test_partitioned_scan_prunes(spark, tmp_path):
    """SURVEY §2.9 ingest shape: pages partitioned by day prune at the scan
    (PartitionFilters in the FileScan, only matching partitions read)."""
    from pyspark.sql import functions as F
    df = spark.range(1000).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.pmod(F.col("id"), F.lit(10)).cast("int")).alias("day"))
    path = str(tmp_path / "pages_by_day")
    df.write.partitionBy("day").mode("overwrite").parquet(path)
    q = spark.read.parquet(path).where(F.col("day") == "2024-01-03")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan
    assert q.count() == 100


def test_from_wkb_garbage_raises_cleanly():
    import pytest as _pt
    from s2geography_spark.core.geog import from_wkb
    for junk in (b"", b"\x00", b"\x01\x63\x00\x00\x00", b"not wkb at all",
                 b"\x01\x01\x00\x00\x00\x01\x02"):
        with _pt.raises((ValueError, Exception)):
            g = from_wkb(junk)
            # a short point buffer may parse-with-truncation; force use
            _ = g.points_xyz() if g is not None else None
            raise ValueError("accepted garbage silently")
