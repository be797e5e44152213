"""Round-3 plan-shape assertions: the scale properties the queries claim
are verified against the actual physical plans, not just prose."""

import pytest
from pyspark.sql import functions as F


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


SF_DIR = "/root/testdata/sf0.001"


def test_geo_overlap_area_no_nested_loop(spark):
    import __spark_entry__ as E
    plan = _plan(E.queries()["geo_overlap_area"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _box_pairs(rows, n_regions=24):
    """Planar brute force over the lat/lng box regions (points far from
    every edge): {(lng, lat, region_id)}."""
    import numpy as np
    from s2geography_spark.sources.regions import region_corners
    lng0, lat0, lng1, lat1 = region_corners(np.arange(n_regions))
    return {(x, y, i) for x, y in rows for i in range(n_regions)
            if lng0[i] < x < lng1[i] and lat0[i] < y < lat1[i]}


def test_rows_mode_no_sort_merge_join(spark):
    """The boundary-band shuffle (the plan that replaced the rows mode)
    keeps its SHUFFLE_HASH hint and the bbox inside the join condition."""
    from s2geography_spark.operators.spatial_join import spatial_join
    from s2geography_spark.sources.regions import regions_df
    pts = spark.createDataFrame([(1, 10.0, 10.0)], "id long, lng double, lat double")
    j = spatial_join(pts, regions_df(spark, 24, covering_level=6),
                     predicate="contains", broadcast=False, salt=4, level=6,
                     refine_mode="subdivided")
    plan = _plan(j)
    # the SHUFFLE_HASH hint must hold: SortMergeJoin would sort the whole
    # fact side; and the bbox prefilter must be INSIDE the join condition
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan
    assert "_xmin" in plan  # bbox columns participate in the join


def test_geog_pair_join_hash_equi_join(spark):
    from s2geography_spark.operators.spatial_join import geog_pair_join
    from s2geography_spark.sources.regions import regions_df
    a = regions_df(spark, 8).select(F.col("region_id").alias("ida"),
                                    F.col("geog").alias("ga"))
    b = regions_df(spark, 8).select(F.col("region_id").alias("idb"),
                                    F.col("geog").alias("gb"))
    j = geog_pair_join(a, b, left_id="ida", right_id="idb",
                       left_geog="ga", right_geog="gb", level=6)
    plan = _plan(j)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_knn_covering_single_prelevel_job(spark):
    """The radius-doubling loop must not run a Spark job per round just to
    learn the covering level: buffered_covering_level is driver arithmetic."""
    from s2geography_spark.core.ops import (buffered_covering_from_cells,
                                            buffered_covering_level)
    import numpy as np
    from s2geography_spark.core import cellid as C
    # the expanded covering's min level equals min(base min, level(radius))
    base = C.from_lnglat(np.array([10.0]), np.array([10.0]))
    base = C.parent(base, np.array([12]))
    for radius in (1e4, 1e5, 1e6, 1e7):
        cells = buffered_covering_from_cells(base.view(np.int64), radius)
        got = min(C.level(np.array(cells, dtype=np.int64).view(np.uint64)))
        assert got == min(12, buffered_covering_level(radius))


def test_bucketed_fact_join_no_fact_exchange(spark):
    """key_col over a bucketed fact on the default plan: the probe table
    is broadcast, so the fact scan feeds one map-only probe pass with no
    exchange at all, and the rows match brute force and the unbucketed
    join.  coords='leaf' with key_col refines from leaf_col on both
    plans, and without leaf_col it is refused up front."""
    from s2geography_spark.functions.cells import cell_join_key, cell_parent
    from s2geography_spark.operators.spatial_join import (leaf_cell_udf,
                                                          spatial_join)
    from s2geography_spark.sources.regions import regions_df
    pts = spark.createDataFrame(
        [(x + 0.5, y + 0.5) for x in range(-150, 150, 4)
         for y in range(-60, 60, 4)], "lng double, lat double")
    pts = (pts.withColumn("leaf", leaf_cell_udf(F.col("lng"), F.col("lat")))
           .withColumn("ck", cell_join_key(cell_parent(F.col("leaf"), 6))))
    spark.sql("DROP TABLE IF EXISTS _bkt_plan_test")
    (pts.write.mode("overwrite").bucketBy(8, "ck").sortBy("ck")
     .format("parquet").saveAsTable("_bkt_plan_test"))
    try:
        j = spatial_join(spark.table("_bkt_plan_test"),
                         regions_df(spark, 24, covering_level=6),
                         predicate="contains", broadcast=False, level=6,
                         key_col="ck")
        plan = _plan(j)
        assert "Exchange hashpartitioning(_ckp" not in plan, plan
        assert "spatial_probe(" in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        ref = spatial_join(spark.table("_bkt_plan_test"),
                           regions_df(spark, 24, covering_level=6),
                           predicate="contains", broadcast=False, level=6,
                           leaf_col="leaf", refine_mode="subdivided")
        got = {(r.lng, r.lat, r.region_id) for r in j.collect()}
        exp = {(r.lng, r.lat, r.region_id) for r in ref.collect()}
        assert got == exp == _box_pairs({(r.lng, r.lat) for r in
                                         pts.collect()}) and got
        for mode in ("auto", "subdivided"):
            leaf = spatial_join(spark.table("_bkt_plan_test"),
                                regions_df(spark, 24, covering_level=6),
                                level=6, key_col="ck", leaf_col="leaf",
                                coords="leaf", refine_mode=mode)
            assert {(r.lng, r.lat, r.region_id)
                    for r in leaf.collect()} == exp, mode
        with pytest.raises(ValueError, match="coords='leaf' requires leaf_col"):
            spatial_join(spark.table("_bkt_plan_test"),
                         regions_df(spark, 24, covering_level=6), level=6,
                         key_col="ck", coords="leaf")
    finally:
        spark.sql("DROP TABLE IF EXISTS _bkt_plan_test")


def test_bucketed_fact_join_subdivided_no_fact_exchange(spark):
    """The round-5 subdivided refine must preserve the bucketed fact's
    exchange-free plan and its rows, so the bucketed bench can run on it."""
    from s2geography_spark.functions.cells import cell_join_key, cell_parent
    from s2geography_spark.operators.spatial_join import (leaf_cell_udf,
                                                          spatial_join)
    from s2geography_spark.sources.regions import regions_df
    pts = spark.createDataFrame(
        [(x + 0.5, y + 0.5) for x in range(-150, 150, 4)
         for y in range(-60, 60, 4)], "lng double, lat double")
    pts = (pts.withColumn("leaf", leaf_cell_udf(F.col("lng"), F.col("lat")))
           .withColumn("ck", cell_join_key(cell_parent(F.col("leaf"), 6))))
    spark.sql("DROP TABLE IF EXISTS _bkt_plan_test_sub")
    (pts.write.mode("overwrite").bucketBy(8, "ck").sortBy("ck")
     .format("parquet").saveAsTable("_bkt_plan_test_sub"))
    try:
        j = spatial_join(spark.table("_bkt_plan_test_sub"),
                         regions_df(spark, 24, covering_level=6),
                         predicate="contains", broadcast=False, level=6,
                         key_col="ck", refine_mode="subdivided")
        plan = _plan(j)
        assert "Exchange hashpartitioning(_ckp" not in plan, plan
        assert "ShuffledHashJoin [_ckp" in plan, plan
        ref = spatial_join(spark.table("_bkt_plan_test_sub"),
                           regions_df(spark, 24, covering_level=6),
                           predicate="contains", level=6, leaf_col="leaf")
        got = {(r.lng, r.lat, r.region_id) for r in j.collect()}
        exp = {(r.lng, r.lat, r.region_id) for r in ref.collect()}
        assert got == exp == _box_pairs({(r.lng, r.lat) for r in
                                         pts.collect()}) and got
    finally:
        spark.sql("DROP TABLE IF EXISTS _bkt_plan_test_sub")


def test_spatial_count_partial_agg_before_exchange(spark):
    """spatial_count's 100 TB claim, plan-asserted (r6 one-exchange
    shape): the join is the map-only probe pass (the spatial_probe Arrow
    UDF, no join operator and no cell-key exchange), the single shuffle Exchange is
    the final rollup whose map-side partial_count bounds it at <= one row
    per (task, region), and there is NO semi-join stage in the plan."""
    from s2geography_spark.operators.spatial_join import spatial_count
    from s2geography_spark.sources.regions import regions_df
    pts = spark.createDataFrame([(1, 10.0, 10.0)],
                                "id long, lng double, lat double")
    cnt = spatial_count(pts, regions_df(spark, 24, covering_level=8),
                        level=8)
    plan = _plan(cnt)
    assert "partial_count" in plan       # map-side combine before the rollup
    assert "spatial_probe(" in plan      # the in-task probe of the dim
    assert "BroadcastHashJoin" not in plan
    assert "Exchange hashpartitioning(_ckp" not in plan
    assert "LeftSemi" not in plan
    # exactly ONE shuffle exchange: the final region rollup
    n_exchange = sum(1 for ln in plan.splitlines()
                     if "Exchange hashpartitioning" in ln)
    assert n_exchange == 1, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_subdivided_split_interior_map_only(spark):
    """Round-5 FULL/BOUNDARY split: with the prefilter on, the interior
    (full-cell) mass must join through a BROADCAST hash join (map-only, no
    fact-side exchange) and only the boundary band may hash-exchange; the
    parity-refine Python node must sit on the boundary branch only (one
    ArrowEvalPython in the whole plan)."""
    from s2geography_spark.operators.spatial_join import spatial_join
    from s2geography_spark.sources.regions import regions_df
    pts = spark.createDataFrame(
        [(x + 0.5, y + 0.5) for x in range(-150, 150, 10)
         for y in range(-60, 60, 10)], "lng double, lat double")
    j = spatial_join(pts, regions_df(spark, 24, covering_level=6),
                     predicate="contains", broadcast=False, salt=4, level=6,
                     refine_mode="subdivided")
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan          # interior map-only join
    assert "ShuffledHashJoin" in plan           # boundary band
    # the leaf/key derivation is a pure Column (leaf_from_lnglat), so the
    # ONLY Python node in the whole plan is the boundary-branch refine
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("parity_refine_udf") == 1


def test_subdivided_split_noprefilter_reuses_fact_exchange(spark):
    """prefilter=False opts out of every dim broadcast: the two dim slices
    hash-join the identical fact child and the fact exchange must be
    materialized once (AQE ReusedExchange / ShuffleQueryStage reuse), not
    twice."""
    from s2geography_spark.operators.spatial_join import spatial_join
    from s2geography_spark.sources.regions import regions_df
    pts = spark.createDataFrame(
        [(x + 0.5, y + 0.5) for x in range(-150, 150, 10)
         for y in range(-60, 60, 10)], "lng double, lat double")
    j = spatial_join(pts, regions_df(spark, 24, covering_level=6),
                     predicate="contains", broadcast=False, salt=4, level=6,
                     refine_mode="subdivided", prefilter=False)
    agg = j.groupBy("region_id").count()
    agg.collect()  # AQE finalizes reuse only at execution
    plan = _plan(agg)
    assert "ReusedExchange" in plan, plan
