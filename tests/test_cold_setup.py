"""Cold set-up: the fixed-level coverer and the subdivided state table.

The digest pins were taken from the per-region coverer and the per-region
subdivided-state loop; the batched code must reproduce them bit for bit.
"""

import hashlib

import numpy as np
import pytest

from s2geography_spark.core import ops
from s2geography_spark.core.geog import Geog, from_wkb, from_wkt
from s2geography_spark.sources.regions import (_region_rows, regions_df,
                                               special_regions_df)
from test_refine_oracle import _ngons

HOLE_WKT = ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
            "(5.01 5.01, 5.01 5.03, 5.03 5.03, 5.03 5.01, 5.01 5.01))")

# sha256 of the coverings / state tables, see _digest and _state_digest
PINS = {
    ("regions96", 6):
        "ebe9a5035876d7a7cfd9d4796e068dff027c28545642d4cff9fe750c3f269102",
    ("regions96", 8):
        "9ab642317652e4351f1f014dd9299cf966ee6ed9bf11fa73540d0967ea64f7a4",
    ("shapes", 6):
        "5f0c065677a6254af9659065b610256aa10d09b8e718719c8b754d6ae636dbcc",
    ("shapes", 8):
        "a26ce0fb1165c51323e79007b26253fda1db375876960a9cf98a8425bc8f2ad7",
    ("state", 24):
        "08d4434dabd7c41c32fa4166954d05b7f9e83142324061985e572a18d15e6df6",
    ("state", 96):
        "baace76050cb400bea9f87c1cb9198efcf690994c043ef939e6fe3cfbb4261ab",
}


def _digest(covs):
    h = hashlib.sha256()
    for cov in covs:
        a = np.asarray(cov, dtype="<i8")
        h.update(np.int64(len(a)).tobytes())
        h.update(a.tobytes())
    return h.hexdigest()


@pytest.fixture(scope="module")
def shapes(spark):
    """The special regions (antimeridian, pole), the hole polygon, the
    n-gon family of the refine oracle, a linestring across the
    antimeridian and a 40-point multipoint (too many for the point fast
    path)."""
    geogs = [from_wkb(bytes(r.geog))
             for r in special_regions_df(spark).orderBy("region_id").collect()]
    geogs.append(from_wkt(HOLE_WKT))
    geogs += [Geog(polys=[[ring]])
              for _, ring, _, _ in _ngons(np.random.default_rng(2025), 18)]
    geogs.append(from_wkt("LINESTRING (170 -20, 179 -10, -172 5, -160 12)"))
    lng = np.linspace(-40.0, 60.0, 40)
    geogs.append(Geog(points=np.stack([lng, np.sin(lng) * 30.0], axis=1)))
    return geogs


@pytest.mark.parametrize("level", [6, 8])
def test_region_coverings_pinned(level):
    rows = _region_rows(96, True, level)
    assert _digest([r[-1] for r in rows]) == PINS[("regions96", level)]


@pytest.mark.parametrize("level", [6, 8])
def test_shape_coverings_pinned(shapes, level):
    covs = [ops.s2_covering_fixed_level(g, level) for g in shapes]
    assert _digest(covs) == PINS[("shapes", level)]


def _state_digest(prep):
    rows = sorted((r.region_id, r._ck, r._full,
                   b"" if r._state is None else bytes(r._state))
                  for r in prep.exploded.select(
                      "region_id", "_ck", "_full", "_state").collect())
    h = hashlib.sha256()
    for rid, ck, full, state in rows:
        h.update(np.array([rid, ck, full, len(state)], dtype="<i8").tobytes())
        h.update(state)
    return h.hexdigest()


@pytest.mark.parametrize("n, level", [(24, None), (96, 8)])
def test_state_tables_pinned(spark, n, level):
    from s2geography_spark.operators.spatial_join import prepare_regions
    prep = prepare_regions(spark, regions_df(spark, n, covering_level=level))
    assert _state_digest(prep) == PINS[("state", n)]


def test_one_geography_is_a_row_of_many(shapes):
    """The single-geography coverer is the many-geography pass with one
    input: every row of one call over mixed inputs (None, EMPTY, a point
    set, polygons, a line, a big multipoint) equals its own call."""
    geogs = [None, Geog(), from_wkt("MULTIPOINT (1 2, 3 4)")] + shapes
    for level in (0, 5, 8):
        many = ops.fixed_level_coverings(geogs, level)
        assert many == [ops.s2_covering_fixed_level(g, level) for g in geogs]
        assert many[0] is None and many[1] == []


@pytest.mark.parametrize("wkt", ["POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
                                 "MULTIPOINT (10 10, -20 5)"])
def test_covering_level_bounds(wkt):
    """Levels 0..30 only, as with_leaf_cell: at -1 the old coverer gave a
    polygon its face cell and a point set an invalid id, at 31 a point
    set [0], and a 1 degree box never finished."""
    from s2geography_spark.core import cellid as C
    g = from_wkt(wkt)
    for level in (-1, 31, 40):
        with pytest.raises(ValueError, match="outside 0..30"):
            ops.s2_covering_fixed_level(g, level)
    cov = np.array(ops.s2_covering_fixed_level(g, 0)).view(np.uint64)
    assert len(cov) and (C.level(cov) == 0).all()
    if g.polys:
        g = from_wkt("POLYGON ((0 0, 1e-7 0, 1e-7 1e-7, 0 1e-7, 0 0))")
    cov = np.array(ops.s2_covering_fixed_level(g, 30)).view(np.uint64)
    assert len(cov) and (C.level(cov) == 30).all()


def test_regions_df_checks_the_level(spark):
    with pytest.raises(ValueError, match="outside 0..30"):
        regions_df(spark, 4, covering_level=31)


def test_prepare_runs_one_job(spark):
    """Within the guard, the capped Arrow collect materializes the lazily
    checkpointed state table: prepare_regions is one Spark job (the eager
    checkpoint made it two)."""
    from s2geography_spark.operators.spatial_join import prepare_regions
    sc = spark.sparkContext
    regions = regions_df(spark, 24)
    group = "s2_prepare_one_job"
    sc.setJobGroup(group, group)
    try:
        prep = prepare_regions(spark, regions)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert prep.fits_broadcast
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_hash_probe_matches_brute_force():
    """The probe behind _ProbeTable and _DistanceDim: the (query, position)
    pairs of every key match, by query then position, with duplicate
    table keys, misses and empty inputs."""
    from s2geography_spark.operators.spatial_join import _HashProbe
    rng = np.random.default_rng(7)

    def brute(keys, q):
        pairs = [(i, j) for i, x in enumerate(q)
                 for j in np.flatnonzero(keys == x)]
        return (np.array([i for i, _ in pairs], dtype=np.int64),
                np.array([j for _, j in pairs], dtype=np.int64))

    keys = np.sort(rng.integers(-50, 50, 300))          # many duplicates
    cases = [(keys, rng.integers(-80, 80, 500)),         # hits and misses
             (keys.astype(np.uint64) + np.uint64(2**63),
              rng.integers(0, 100, 50).astype(np.uint64) + np.uint64(2**63)),
             (keys, np.zeros(0, dtype=np.int64)),
             (np.zeros(0, dtype=np.int64), np.arange(5)),
             (np.array([3, 3, 3]), np.array([3, 4, 3]))]
    for k, q in cases:
        qi, pos = _HashProbe(k)(q)
        bqi, bpos = brute(k, q)
        assert np.array_equal(qi, bqi) and np.array_equal(pos, bpos)
