"""dwithin_join, knn_join_covering and knn_join against a scalar brute
force, on both plans: the in-process broadcast dim (the default for a
small dim) and the same kernel run per cell (forced by lowering the dim
guard, the `plan` fixture of conftest.py).  The inputs carry null
coordinates, null and EMPTY geographies, an exact distance tie, and
points at the antimeridian and near the pole."""

import numpy as np
import pytest

from s2geography_spark.core import ops
from s2geography_spark.core.geog import Geog, from_wkb, from_wkt, to_wkb
from s2geography_spark.operators import spatial_join as sj

RADIUS = 1_200_000.0
K = 2

# (region_id, WKT or None).  7 and 3 are equidistant from (0, 0); 7 comes
# first so that input order cannot pass for the region_id tie order.
REGIONS = [
    (7, "POINT (10 0)"),
    (3, "POINT (-10 0)"),
    (11, None),
    (12, "POINT EMPTY"),
    (20, "POINT (179.5 1)"),
    (21, "POINT (-179.2 -2)"),
    (30, "POLYGON ((-120 80, 0 80, 120 80, -120 80))"),
    (40, "LINESTRING (30 20, 40 25, 50 20)"),
    (50, "POLYGON ((-60 -30, -50 -30, -50 -20, -60 -20, -60 -30))"),
    (60, "POINT (100 -45)"),
    (61, "POINT (-100 45)"),
]


@pytest.fixture(scope="module")
def dim(spark):
    rows = [(rid, None if w is None else to_wkb(from_wkt(w)))
            for rid, w in REGIONS]
    return spark.createDataFrame(rows, "region_id long, geog binary")


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.default_rng(11)
    n = 240
    lng = rng.uniform(-180, 180, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lng, lat))]
    rows += [(1000, 0.0, 0.0),                     # the 3/7 tie
             (1001, 179.99, 0.5), (1002, -179.99, -0.5),   # antimeridian
             (1003, 45.0, 89.99), (1004, -135.0, -89.9),   # poles
             (1005, None, 10.0), (1006, 10.0, None), (1007, None, None)]
    return spark.createDataFrame(rows, "pid long, lng double, lat double")


@pytest.fixture(scope="module")
def brute(points):
    """{pid: [(meters, region_id)]} over the rankable regions, sorted by
    (distance, region_id), from the scalar s2_distance kernel."""
    geogs = [(rid, from_wkt(w)) for rid, w in REGIONS if w is not None]
    out = {}
    for r in points.collect():
        if r.lng is None or r.lat is None:
            out[r.pid] = []
            continue
        p = Geog(points=np.array([[r.lng, r.lat]]))
        ds = [(ops.s2_distance(g, p), rid) for rid, g in geogs]
        out[r.pid] = sorted((d, rid) for d, rid in ds if d is not None)
    return out


def test_brute_force_fixture_has_the_edge_cases(brute):
    assert brute[1000][0][0] == brute[1000][1][0]
    assert [rid for _, rid in brute[1000][:2]] == [3, 7]
    assert brute[1005] == brute[1006] == brute[1007] == []


def test_dwithin_matches_brute_force(points, dim, brute, plan):
    rows = sj.dwithin_join(points, dim, RADIUS, distance_col="d").collect()
    got = {(r.pid, r.region_id): r.d for r in rows}
    assert len(rows) == len(got)        # no pair is emitted twice
    exp = {(pid, rid): d for pid, ds in brute.items() for d, rid in ds
           if d <= RADIUS}
    assert got.keys() == exp.keys()
    assert {(1000, 3), (1000, 7), (1001, 20), (1002, 21),
            (1003, 30)} <= got.keys()
    for key, d in exp.items():
        assert got[key] == pytest.approx(d, abs=1e-3)


def test_dim_without_covering_cells(spark, points, dim, plan):
    """Every geography null or EMPTY, so no region has a covering cell:
    both plans return no rows, with the columns and types they return
    for any other dim."""
    nothing = dim.where("region_id IN (11, 12)")

    def schema(df):
        return [(f.name, f.dataType) for f in df.schema]

    for col in ("d", None):
        out = sj.dwithin_join(points, nothing, RADIUS, distance_col=col)
        assert schema(out) == schema(
            sj.dwithin_join(points, dim, RADIUS, distance_col=col))
        assert out.collect() == []
    knn = sj.knn_join_covering(points, nothing, K, point_id="pid")
    assert knn.columns == ["pid", "lng", "lat", "region_id", "distance_m",
                           "knn_rank"]
    assert knn.collect() == []


def test_knn_empty_points_keep_the_dim_types(spark, plan):
    """No points: both plans return no rows with the dim's id type (here
    string) and a non-null rank, as for any other input."""
    dim = spark.createDataFrame(
        [("a", to_wkb(from_wkt("POINT (10 0)"))),
         ("b", to_wkb(from_wkt("POINT (-10 0)")))],
        "region_id string, geog binary")
    none = spark.createDataFrame([], "pid long, lng double, lat double")
    out = sj.knn_join_covering(none, dim, K, point_id="pid")
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in out.schema] == [
        ("pid", "bigint", True), ("lng", "double", True),
        ("lat", "double", True), ("region_id", "string", True),
        ("distance_m", "double", True), ("knn_rank", "int", False)]
    assert out.collect() == []


def _ranked(rows):
    got = {(r.pid, r.knn_rank): (r.region_id, r.distance_m) for r in rows}
    assert len(rows) == len(got)        # no (point, rank) row twice
    return got


def _expected_knn(brute):
    return {(pid, rank + 1): (rid, d) for pid, ds in brute.items()
            for rank, (d, rid) in enumerate(ds[:K])}


def _assert_knn(got, brute):
    exp = _expected_knn(brute)
    assert got.keys() == exp.keys()
    for key, (rid, d) in exp.items():
        assert got[key][0] == rid, key
        assert got[key][1] == pytest.approx(d, abs=1e-3)


def test_knn_covering_matches_brute_force(points, dim, brute, plan):
    """knn_join_covering, and knn_join (the same plan at the default
    radius, carrying both sides' columns)."""
    for out in (sj.knn_join_covering(points, dim, K, point_id="pid",
                                     init_radius_m=2_000_000.0),
                sj.knn_join(points, dim, K, point_id="pid")):
        got = _ranked(out.collect())
        _assert_knn(got, brute)
        assert got[(1000, 1)][0] == 3 and got[(1000, 2)][0] == 7


def test_knn_covering_capped_matches_brute_force(points, dim, brute, plan):
    """One small round: most points fall to the dense residue, which must
    rank exactly as the covering rounds do."""
    got = _ranked(sj.knn_join_covering(points, dim, K, point_id="pid",
                                       init_radius_m=300_000.0,
                                       max_rounds=1).collect())
    _assert_knn(got, brute)


def test_knn_join_never_ranks_null_distances(spark):
    """A null-geography region has a null distance: Spark's asc() sorts
    it first, so it must be dropped before ranking, and the capped
    covering path (whose residue is ranked densely in-task) must
    agree."""
    rows = [(1, to_wkb(from_wkt("POINT (1 1)"))),
            (2, to_wkb(from_wkt("POINT (2 2)"))), (3, None),
            (4, to_wkb(from_wkt("POINT (4 4)")))]
    dim = spark.createDataFrame(rows, "region_id long, geog binary")
    pts = spark.createDataFrame([(0, 0.0, 0.0)],
                                "pid long, lng double, lat double")
    dense = {(r.knn_rank, r.region_id) for r in
             sj.knn_join(pts, dim, 2, point_id="pid").collect()}
    assert dense == {(1, 1), (2, 2)}
    capped = {(r.knn_rank, r.region_id) for r in
              sj.knn_join_covering(pts, dim, 2, point_id="pid",
                                   init_radius_m=1.0, max_rounds=1).collect()}
    assert capped == dense


def test_small_dim_runs_two_jobs(spark, points, dim):
    """The in-process plan scans the dim once (the guarded collect) and
    the points once (the caller's action); the distributed plans run 8
    to 30 (test_distributed_plans_job_pins)."""
    sc = spark.sparkContext
    for i, run in enumerate([
            lambda: sj.dwithin_join(points, dim, RADIUS).collect(),
            lambda: sj.knn_join_covering(points, dim, K, point_id="pid",
                                         init_radius_m=300_000.0).collect(),
            lambda: sj.knn_join_covering(points, dim, K, point_id="pid",
                                         init_radius_m=300_000.0,
                                         max_rounds=1).collect(),
            lambda: sj.knn_join(points, dim, K, point_id="pid").collect()]):
        group = f"s2_small_dim_jobs_{i}"
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 0 < len(jobs) <= 2, (i, len(jobs))


def _jobs(sc, group, run):
    """The Spark jobs that `run()` launches, counted by job group."""
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_distributed_plans_job_pins(spark, points, dim, monkeypatch):
    """Over the guard the kernel runs per cell: one job for the dim's
    coverings, then per kNN round one checkpoint and one isEmpty.  The
    window/checkpoint plans this replaced ran 12, 163 and 31 jobs on
    these calls."""
    monkeypatch.setattr(sj, "MAX_BROADCAST_DIM_ROWS", 0)
    sc = spark.sparkContext
    for i, (cap, run) in enumerate([
            (8, lambda: sj.dwithin_join(points, dim, RADIUS).collect()),
            (30, lambda: sj.knn_join_covering(
                points, dim, K, point_id="pid",
                init_radius_m=300_000.0).collect()),
            (12, lambda: sj.knn_join_covering(
                points, dim, K, point_id="pid", init_radius_m=300_000.0,
                max_rounds=1).collect())]):
        n = _jobs(sc, f"s2_cell_dim_jobs_{i}", run)
        assert 0 < n <= cap, (i, n)


def test_both_plans_return_one_schema(points, dim, brute, monkeypatch):
    """Names, types and nullability agree across the two plans, the
    non-null knn_rank included; knn_join returns both sides' fields, the
    distance and the rank, a non-null column of either side staying
    non-null."""
    from pyspark.sql import functions as F
    tagged_points = points.withColumn("w", F.lit(1))
    tagged_dim = dim.withColumn("tag", F.lit("t"))

    def fields(df):
        return [(f.name, f.dataType.simpleString(), f.nullable)
                for f in df.schema]

    def outs():
        return [
            sj.dwithin_join(points, dim, RADIUS),
            sj.dwithin_join(points, dim, RADIUS, distance_col="d"),
            sj.knn_join_covering(points, dim, K, point_id="pid",
                                 init_radius_m=2_000_000.0),
            sj.knn_join(points, dim, K, point_id="pid"),
            sj.knn_join(tagged_points, tagged_dim, K, point_id="pid")]

    small = [fields(out) for out in outs()]
    monkeypatch.setattr(sj, "MAX_BROADCAST_DIM_ROWS", 0)
    over = outs()
    assert [fields(out) for out in over] == small
    assert small[2][-1] == ("knn_rank", "int", False)
    ranks = [("distance_m", "double", True), ("knn_rank", "int", False)]
    assert small[3] == fields(points) + fields(dim) + ranks
    assert small[4] == fields(tagged_points) + fields(tagged_dim) + ranks
    assert ("w", "int", False) in small[4]
    assert ("tag", "string", False) in small[4]
    rows = over[4].collect()
    assert {(r.w, r.tag) for r in rows} == {(1, "t")}
    _assert_knn(_ranked(rows), brute)


def test_distributed_knn_residue_broadcasts_nothing(points, dim, brute,
                                                    monkeypatch):
    """Over the guard the kNN residue (a capped loop, or a point with
    fewer than k rankable regions) runs per cell at radius pi*R: no plan,
    knn_join's included, broadcasts the dim or ranks with a window, and
    the residue ranks every rankable region exactly."""
    monkeypatch.setattr(sj, "MAX_BROADCAST_DIM_ROWS", 0)
    capped = sj.knn_join_covering(points, dim, K, point_id="pid",
                                  init_radius_m=300_000.0, max_rounds=1)
    every = sj.knn_join_covering(points, dim, len(REGIONS), point_id="pid",
                                 init_radius_m=15_000_000.0)
    dense = sj.knn_join(points, dim, K, point_id="pid")
    for out in (capped, every, dense):
        plan = out._jdf.queryExecution().executedPlan().toString()
        for node in ("BroadcastNestedLoopJoin", "BroadcastExchange",
                     "Window"):
            assert node not in plan, (node, plan)
    got = _ranked(every.collect())
    assert got.keys() == {(pid, rank + 1) for pid, ds in brute.items()
                          for rank in range(len(ds))}
    for pid, ds in brute.items():
        for rank, (d, rid) in enumerate(ds):
            assert got[(pid, rank + 1)][0] == rid
            assert got[(pid, rank + 1)][1] == pytest.approx(d, abs=1e-3)
    _assert_knn(_ranked(dense.collect()), brute)


def test_skewed_dim_takes_the_exact_guard(spark, points, dim, brute,
                                          monkeypatch):
    """All rows in one of four partitions pass that partition's share of
    the guard, so the exact guard decides: within it the dim is still
    broadcast, one row over it the distributed plan runs."""
    from pyspark.sql import functions as F
    skewed = dim.repartition(4, F.lit(0))
    calls = []
    exact = sj._exact_guard
    monkeypatch.setattr(sj, "_exact_guard",
                        lambda *a, **kw: calls.append(1) or exact(*a, **kw))
    exp = {(pid, rid) for pid, ds in brute.items() for d, rid in ds
           if d <= RADIUS}
    for cap, broadcast in ((len(REGIONS), True), (len(REGIONS) - 1, False)):
        monkeypatch.setattr(sj, "MAX_BROADCAST_DIM_ROWS", cap)
        calls.clear()
        out = sj.dwithin_join(points, skewed, RADIUS)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert calls and ("MapInArrow" in plan) == broadcast, plan
        assert {(r.pid, r.region_id) for r in out.collect()} == exp


def test_null_row_is_not_the_marker(spark, points, dim, brute, monkeypatch):
    """A dim row whose region_id and geography are both null is a data
    row, not the capped collect's over-share marker: unskewed, it takes
    no exact guard; with every row in one of four partitions, the exact
    guard decides one row over the dim size and exactly at it, and both
    plans match the brute force."""
    from pyspark.sql import functions as F
    nulls = dim.unionByName(spark.createDataFrame(
        [(None, None)], "region_id long, geog binary"))
    n = len(REGIONS) + 1
    calls = []
    exact = sj._exact_guard
    monkeypatch.setattr(sj, "_exact_guard",
                        lambda *a, **kw: calls.append(1) or exact(*a, **kw))
    sj.dwithin_join(points, nulls.coalesce(1), RADIUS).collect()
    assert calls == []
    skewed = nulls.repartition(4, F.lit(0))
    exp = {(pid, rid) for pid, ds in brute.items() for d, rid in ds
           if d <= RADIUS}
    for cap, broadcast in ((n - 1, False), (n, True)):
        monkeypatch.setattr(sj, "MAX_BROADCAST_DIM_ROWS", cap)
        calls.clear()
        out = sj.dwithin_join(points, skewed, RADIUS)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert calls and ("MapInArrow" in plan) == broadcast, plan
        assert {(r.pid, r.region_id) for r in out.collect()} == exp
        for knn in (sj.knn_join_covering(points, skewed, K, point_id="pid",
                                         init_radius_m=2_000_000.0),
                    sj.knn_join(points, skewed, K, point_id="pid")):
            _assert_knn(_ranked(knn.collect()), brute)
