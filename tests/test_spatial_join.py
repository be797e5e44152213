"""End-to-end spatial-join correctness on the synthetic page corpus:
extraction invariant + cover/explode/join/refine vs an independent
brute-force oracle, plus kNN and the antimeridian/pole special regions.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2geography_spark.core import ops, sphere
from s2geography_spark.core.geog import Geog, from_wkb
from s2geography_spark.operators.spatial_join import knn_join, spatial_join
from s2geography_spark.sources.pages import (extract_mentions, extract_text,
                                             gazetteer_df, gazetteer_lnglat,
                                             pages_df)
from s2geography_spark.sources.regions import (region_corners, regions_df,
                                               special_regions_df)

N_PAGES = 2000


@pytest.fixture(scope="module")
def pages(spark):
    return pages_df(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def mentions(spark, pages):
    return extract_mentions(pages, gazetteer_df(spark)).cache()


def test_extract_text_byte_identical(spark, pages):
    # BASELINE.json input_hint invariant: per-url byte-identical text
    bad = pages.where(extract_text(F.col("html")) != F.col("text")).count()
    assert bad == 0
    # and deterministic across regeneration
    again = pages_df(spark, N_PAGES)
    diff = pages.select("url", "text").exceptAll(again.select("url", "text")).count()
    assert diff == 0


def test_mention_extraction_golden(spark, mentions):
    # page_id % 6 mentions per page; city k = (id*31 + j*17) % 240
    total = mentions.count()
    expected = sum(i % 6 for i in range(N_PAGES))
    assert total == expected
    row = (mentions.where(F.col("url").endswith("/p/5")).orderBy("mention_idx")
           .collect())
    assert [r.city for r in row] == ["City155", "City172", "City189",
                                     "City206", "City223"]
    lng, lat = gazetteer_lnglat(np.array([155]))
    assert row[0].lng == lng[0] and row[0].lat == lat[0]


def brute_force_pairs(mentions_rows, n_regions=24):
    rs = np.arange(n_regions)
    lng0, lat0, lng1, lat1 = region_corners(rs)
    out = set()
    for m in mentions_rows:
        hit = (m.lng > lng0) & (m.lng < lng1) & (m.lat > lat0) & (m.lat < lat1)
        for r in rs[hit]:
            out.add((m.url, m.mention_idx, int(r)))
    return out


def test_spatial_join_matches_brute_force(spark, mentions):
    regions = regions_df(spark, 24)
    joined = spatial_join(mentions, regions, predicate="contains")
    got = {(r.url, r.mention_idx, r.region_id)
           for r in joined.select("url", "mention_idx", "region_id").collect()}
    expected = brute_force_pairs(mentions.collect(), 24)
    assert got == expected
    assert len(got) > 0  # non-trivial


def test_spatial_join_shuffle_path_matches(spark, mentions):
    regions = regions_df(spark, 24)
    joined = spatial_join(mentions, regions, predicate="contains",
                          broadcast=False, salt=4)
    got = {(r.url, r.mention_idx, r.region_id)
           for r in joined.select("url", "mention_idx", "region_id").collect()}
    assert got == brute_force_pairs(mentions.collect(), 24)


def test_spatial_join_intersects_predicate(spark, mentions):
    regions = regions_df(spark, 24)
    joined = spatial_join(mentions, regions, predicate="intersects")
    got = {(r.url, r.mention_idx, r.region_id)
           for r in joined.select("url", "mention_idx", "region_id").collect()}
    # for interior points intersects == contains
    assert got == brute_force_pairs(mentions.collect(), 24)


def test_special_regions_join(spark):
    # points near the antimeridian and the pole; join through the same path
    pts = spark.createDataFrame(
        [(0, 179.9, 0.0), (1, -179.9, 1.0), (2, 0.0, 89.0),
         (3, 0.0, 0.0), (4, 150.0, -40.0)],
        "pid long, lng double, lat double")
    specials = special_regions_df(spark)
    joined = spatial_join(pts, specials, predicate="contains")
    got = {(r.pid, r.region_id) for r in joined.select("pid", "region_id").collect()}
    assert (0, 1000) in got and (1, 1000) in got   # antimeridian polygon
    assert (2, 1001) in got                         # pole polygon
    assert not any(p in got for p in [(3, 1000), (3, 1001), (4, 1001)])


def test_knn_matches_brute_force(spark, mentions, plan):
    regions = regions_df(spark, 16)
    sample = mentions.limit(200).cache()
    res = knn_join(sample.withColumn("pid", F.concat_ws("#", "url", "mention_idx")),
                   regions.select("region_id", "geog"), k=3, point_id="pid")
    got = {}
    for r in res.select("pid", "knn_rank", "region_id", "distance_m").collect():
        got.setdefault(r.pid, []).append((r.knn_rank, r.region_id, r.distance_m))

    # brute force with the numpy kernels
    reg_rows = regions.select("region_id", "geog").collect()
    geogs = [(r.region_id, from_wkb(bytes(r.geog))) for r in reg_rows]
    for m in sample.collect():
        pid = f"{m.url}#{m.mention_idx}"
        p = sphere.lnglat_to_xyz(np.array([[m.lng, m.lat]]))
        dists = []
        for rid, g in geogs:
            ra, rb = g.ring_edges_xyz()
            inside = sphere.contains_points(p, ra, rb, model="closed")[0]
            if inside:
                d = 0.0
            else:
                d = float(sphere.point_arc_distance(
                    p[0], ra, rb).min() * sphere.EARTH_RADIUS_METERS)
            dists.append((d, rid))
        dists.sort()
        expect = [rid for _, rid in dists[:3]]
        mine = [rid for _, rid, _ in sorted(got[pid])]
        assert mine == expect, (pid, mine, dists[:4])
        for (rank, rid, dm), (ed, erid) in zip(sorted(got[pid]), dists[:3]):
            assert dm == pytest.approx(ed, abs=1e-6)


def test_choose_salt(spark):
    from s2geography_spark.operators.spatial_join import choose_salt
    # uniform points -> no salting
    uniform = spark.range(5000).select(
        (F.pmod(F.col("id") * 37, F.lit(1440)) / 4.0 - 180.0).alias("lng"),
        (F.pmod(F.col("id") * 23, F.lit(640)) / 4.0 - 80.0).alias("lat"))
    assert choose_salt(uniform, sample_fraction=1.0) == 1
    # 80% of points in one city cell -> salt > 1
    hot = spark.range(5000).select(
        F.when(F.col("id") % 5 != 0, F.lit(2.35)).otherwise(
            F.pmod(F.col("id") * 37, F.lit(1440)) / 4.0 - 180.0).alias("lng"),
        F.when(F.col("id") % 5 != 0, F.lit(48.85)).otherwise(
            F.pmod(F.col("id") * 23, F.lit(640)) / 4.0 - 80.0).alias("lat"))
    s = choose_salt(hot, sample_fraction=1.0)
    assert s > 4


def _brute_knn(points, regions, k, rid="region_id"):
    """{(pid, rank): region id} of each point's k nearest regions by the
    scalar s2_distance kernel, ordered by (distance, id)."""
    geogs = [(r[rid], from_wkb(bytes(r.geog))) for r in regions.collect()]
    out = {}
    for p in points.collect():
        pt = Geog(points=np.array([[p.lng, p.lat]]))
        ds = sorted((ops.s2_distance(g, pt), i) for i, g in geogs)
        out.update({(p.pid, rank + 1): i
                    for rank, (_, i) in enumerate(ds[:k])})
    return out


def test_knn_covering_matches_brute_force(spark, mentions, plan):
    from s2geography_spark.operators.spatial_join import knn_join_covering
    regions = regions_df(spark, 16)
    sample = (mentions.limit(120)
              .withColumn("pid", F.concat_ws("#", "url", "mention_idx"))
              .select("pid", "lng", "lat").cache())
    fast = knn_join_covering(sample, regions.select("region_id", "geog"),
                             k=3, point_id="pid", init_radius_m=300_000.0)
    got = {(r.pid, r.knn_rank): r.region_id for r in fast.collect()}
    assert got == _brute_knn(sample, regions, 3)


def test_spatial_join_shuffle_cogroup_matches(spark, mentions):
    """The salted boundary-band shuffle (the plan that replaced the cogroup
    refine for fat dims) matches brute force."""
    regions = regions_df(spark, 24)
    joined = spatial_join(mentions.limit(500), regions, predicate="contains",
                          broadcast=False, salt=4, refine_mode="subdivided")
    got = {(r.url, r.mention_idx, r.region_id)
           for r in joined.select("url", "mention_idx", "region_id").collect()}
    expected = brute_force_pairs(mentions.limit(500).collect(), 24)
    assert got == expected


def test_spatial_join_index_mode_matches(spark, mentions):
    """The map-only plan that replaced the index mode: the prepared state
    table is probed in-task (the spatial_probe Arrow UDF, no fact-side
    exchange) and matches brute force."""
    regions = regions_df(spark, 24)
    joined = spatial_join(mentions.limit(500), regions, predicate="contains",
                          broadcast=False)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "spatial_probe(" in plan
    assert "Exchange hashpartitioning(_ckp" not in plan
    got = {(r.url, r.mention_idx, r.region_id)
           for r in joined.select("url", "mention_idx", "region_id").collect()}
    assert got == brute_force_pairs(mentions.limit(500).collect(), 24)


def test_probe_plan_prunes_fact_columns(spark, mentions, tmp_path):
    """Only the columns the probe reads cross into Python on the broadcast
    plan: a query that keeps the region id of a wide fact scans neither
    the url nor the crawl timestamp, and gets the rows of the full join."""
    path = str(tmp_path / "wide")
    mentions.write.parquet(path)
    wide = spark.read.parquet(path)
    assert {"url", "warc_ts"} <= set(wide.columns)
    joined = spatial_join(wide, regions_df(spark, 24))
    q = joined.select("mention_idx", "region_id")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "spatial_probe(" in plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("url" not in ln and "warc_ts" not in ln
                        for ln in read), read
    got = sorted(tuple(r) for r in q.collect())
    assert got and got == sorted((r.mention_idx, r.region_id)
                                 for r in joined.collect())


def test_boundary_band_broadcast_matches_shuffle(spark):
    """Points planted within ~1 um .. 1 km of region edges get identical
    join rows on the state-broadcast plan and the boundary-band shuffle,
    and the rows agree with the direct contains kernel."""
    n_regions = 12
    rs = np.arange(n_regions)
    lng0, lat0, lng1, lat1 = region_corners(rs)
    rows = []
    pid = 0
    # offsets in degrees: ~1 um .. ~1 km, both sides of each edge
    for off in (1e-11, 1e-9, 1e-7, 1e-5, 1e-2):
        for sign in (+off, -off):
            for i in range(n_regions):
                midx = (lng0[i] + lng1[i]) / 2.0
                midy = (lat0[i] + lat1[i]) / 2.0
                rows += [
                    (pid + 0, float(midx), float(lat0[i] + sign)),  # bottom
                    (pid + 1, float(midx), float(lat1[i] - sign)),  # top
                    (pid + 2, float(lng0[i] + sign), float(midy)),  # left
                    (pid + 3, float(lng1[i] - sign), float(midy)),  # right
                ]
                pid += 4
    pts = spark.createDataFrame(rows, "pid long, lng double, lat double")
    regions = regions_df(spark, n_regions, covering_level=6)
    bcast = spatial_join(pts, regions, predicate="contains", level=6,
                         broadcast=True)
    shuf = spatial_join(pts, regions, predicate="contains", level=6,
                        broadcast=False, refine_mode="subdivided")
    got_b = {(r.pid, r.region_id) for r in bcast.collect()}
    got_s = {(r.pid, r.region_id) for r in shuf.collect()}
    assert got_b == got_s
    xyz = sphere.lnglat_to_xyz(np.array([[x, y] for _, x, y in rows]))
    direct = set()
    for r in regions.select("region_id", "geog").collect():
        ra, rb = from_wkb(bytes(r.geog)).ring_edges_xyz()
        hit = sphere.contains_points(xyz, ra, rb, model="semi_open")
        direct |= {(rows[i][0], r.region_id) for i in np.nonzero(hit)[0]}
    assert got_b == direct
    # sanity: the inside-offset points actually joined
    assert len(got_b) > len(rows) / 3


def test_interior_shortcut_hole_inside_one_cell(spark):
    """Round-4 ADVICE (medium): a hole ring strictly inside one covering
    cell left no corner/crossing evidence, so the cell was flagged interior
    and points in the hole joined without the PIP refine.  Both join paths
    must exclude the hole point and keep a nearby shell point."""
    from s2geography_spark.core.geog import from_wkt, to_wkb
    from s2geography_spark.functions.geo import s2_coveringcellids

    # 10-degree shell; 0.02-degree hole well inside a level-8 cell (~0.6 deg)
    wkt = ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
           "(5.01 5.01, 5.01 5.03, 5.03 5.03, 5.03 5.01, 5.01 5.01))")
    wkb = to_wkb(from_wkt(wkt))
    regions = spark.createDataFrame([(1, bytearray(wkb))],
                                    "region_id long, geog binary")
    regions = regions.withColumn("covering", s2_coveringcellids("geog"))
    pts = spark.createDataFrame(
        [(0, 5.02, 5.02),    # inside the hole -> NOT contained
         (1, 5.2, 5.2),      # in the shell, same neighborhood -> contained
         (2, 2.0, 2.0)],     # deep interior -> contained
        "pid long, lng double, lat double")
    for kwargs in ({}, {"broadcast": False}, {"broadcast": False, "salt": 2}):
        got = {r.pid for r in
               spatial_join(pts, regions, predicate="contains", **kwargs)
               .select("pid").collect()}
        assert got == {1, 2}, kwargs


def test_interior_flags_vertex_in_cell():
    """Unit check of the vertex-evidence rule in the subdivided state's
    `full` flags: a cell holding a hole ring must not be flagged full; a
    clean interior cell still is."""
    from s2geography_spark.core import cellid as C
    from s2geography_spark.core.geog import from_wkt
    from s2geography_spark.core.ops import RaggedEdges
    from s2geography_spark.operators.spatial_join import _subdivide_regions

    g = from_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
                 "(5.01 5.01, 5.01 5.03, 5.03 5.03, 5.03 5.01, 5.01 5.01))")
    hole_cell = C.from_lnglat(np.array([5.02]), np.array([5.02]), lev=8)
    clean_cell = C.from_lnglat(np.array([2.0]), np.array([2.0]), lev=10)
    flags = _subdivide_regions(
        np.concatenate([hole_cell, clean_cell]).astype(np.uint64),
        np.zeros(2, dtype=np.int64),
        RaggedEdges([g.ring_edges_xyz()]))[0].tolist()
    assert flags == [False, True]


def test_subdivided_equals_rows_refine(spark, mentions):
    """The boundary-band shuffle and the state broadcast must both produce
    the brute-force pairs on the corpus, and the direct contains kernel's
    pairs on the antimeridian/pole special regions."""
    regions = regions_df(spark, 24)
    sub = spatial_join(mentions, regions, predicate="contains",
                       broadcast=False, refine_mode="subdivided")
    bc = spatial_join(mentions, regions, predicate="contains")
    key = ["url", "mention_idx", "region_id"]
    a = {tuple(r) for r in sub.select(*key).collect()}
    b = {tuple(r) for r in bc.select(*key).collect()}
    assert a == b == brute_force_pairs(mentions.collect(), 24) and a

    pts = spark.createDataFrame(
        [(0, 179.9, 0.0), (1, -179.9, 1.0), (2, 0.0, 89.0),
         (3, 0.0, 0.0), (4, 150.0, -40.0), (5, 177.0, 3.0)],
        "pid long, lng double, lat double")
    specials = special_regions_df(spark)
    got = {(r.pid, r.region_id) for r in
           spatial_join(pts, specials, predicate="contains", broadcast=False,
                        refine_mode="subdivided")
           .select("pid", "region_id").collect()}
    ref = {(r.pid, r.region_id) for r in
           spatial_join(pts, specials, predicate="contains")
           .select("pid", "region_id").collect()}
    direct = set()
    for r in specials.collect():
        ra, rb = from_wkb(bytes(r.geog)).ring_edges_xyz()
        for pid, lng, lat in pts.collect():
            p = sphere.lnglat_to_xyz(np.array([[lng, lat]]))
            if sphere.contains_points(p, ra, rb, model="semi_open")[0]:
                direct.add((pid, r.region_id))
    assert got == ref == direct
    assert (0, 1000) in got and (2, 1001) in got


def test_subdivided_broadcast_mode(spark, mentions):
    """The state-table broadcast (map-only fact side) must produce exactly
    the shuffle-path pairs; an over-guard state table takes the shuffle
    plan instead."""
    from s2geography_spark.operators.spatial_join import (
        prepare_regions_subdivided)
    prep = prepare_regions_subdivided(spark, regions_df(spark, 24))
    key = ["url", "mention_idx", "region_id"]
    bc = spatial_join(mentions, prep, predicate="contains")
    assert "ShuffledHashJoin" not in \
        bc._jdf.queryExecution().executedPlan().toString()
    a = {tuple(r) for r in bc.select(*key).collect()}
    b = {tuple(r) for r in
         spatial_join(mentions, prep, predicate="contains",
                      refine_mode="subdivided")
         .select(*key).collect()}
    assert a == b and len(a) > 0
    prep.probe = None
    sh = spatial_join(mentions, prep, predicate="contains")
    assert "ShuffledHashJoin" in \
        sh._jdf.queryExecution().executedPlan().toString()
    assert {tuple(r) for r in sh.select(*key).collect()} == a


def test_subdivided_fuzz_random_holed_polygons(spark):
    """Randomized robustness: 12 random convex-ish polygons with random
    rectangular holes, 400 random points each — the boundary-band shuffle,
    the state broadcast, and the direct contains kernel must agree on
    every (point, region) pair."""
    from s2geography_spark.core import ops as _ops
    from s2geography_spark.core.geog import Geog, from_wkb, to_wkb
    from s2geography_spark.functions.geo import s2_coveringcellids

    rng = np.random.default_rng(77)
    rows = []
    geogs = {}
    for rid in range(12):
        cx = float(rng.uniform(-150, 150))
        cy = float(rng.uniform(-60, 60))
        rads = rng.uniform(2.0, 6.0, 9)
        angs = np.sort(rng.uniform(0, 2 * np.pi, 9))
        shell = np.stack([cx + rads * np.cos(angs),
                          cy + rads * np.sin(angs)], axis=1)
        shell = np.vstack([shell, shell[:1]])
        hw = float(rng.uniform(0.2, 0.8))
        hole = np.array([[cx - hw, cy - hw], [cx - hw, cy + hw],
                         [cx + hw, cy + hw], [cx + hw, cy - hw],
                         [cx - hw, cy - hw]])
        g = Geog(polys=[[shell, hole[::-1]]])
        geogs[rid] = from_wkb(to_wkb(g))
        rows.append((rid, bytearray(to_wkb(g))))
    regions = spark.createDataFrame(rows, "region_id long, geog binary") \
        .withColumn("covering", s2_coveringcellids("geog"))

    pts = [(i, float(rng.uniform(-160, 160)), float(rng.uniform(-70, 70)))
           for i in range(200)]
    # plus points clustered around each region center (boundary pressure)
    i = 200
    for rid in range(12):
        g = geogs[rid]
        cx, cy = float(g.polys[0][0][:, 0].mean()), float(g.polys[0][0][:, 1].mean())
        for _ in range(20):
            pts.append((i, cx + float(rng.uniform(-7, 7)),
                        cy + float(rng.uniform(-7, 7))))
            i += 1
    pdf = spark.createDataFrame(pts, "pid long, lng double, lat double")

    sub = {(r.pid, r.region_id) for r in
           spatial_join(pdf, regions, predicate="contains", broadcast=False,
                        refine_mode="subdivided").select("pid", "region_id")
           .collect()}
    bc = {(r.pid, r.region_id) for r in
          spatial_join(pdf, regions, predicate="contains")
          .select("pid", "region_id").collect()}
    assert sub == bc
    # spot-verify against the direct kernel
    direct = set()
    for pid, lng, lat in pts:
        p = from_wkb(bytes(
            b"\x01\x01\x00\x00\x00") + np.array([lng, lat]).tobytes())
        for rid, g in geogs.items():
            if _ops.s2_contains(g, p):
                direct.add((pid, rid))
    assert sub == direct


def test_leaf_only_cell_center_join(spark, mentions):
    """coords='leaf' (CELL_CENTER corpus): the fact side carries only the
    8-byte leaf id; results must equal a lnglat join over the
    reconstructed cell centers (exact quantization semantics)."""
    from s2geography_spark.core import cellid as C
    from s2geography_spark.operators.spatial_join import leaf_cell_udf

    regions = regions_df(spark, 24)
    pts = mentions.select("url", "mention_idx", "lng", "lat") \
        .withColumn("leaf", leaf_cell_udf(F.col("lng"), F.col("lat")))
    rows = pts.collect()
    # reconstruct the quantized coordinates the leaf-only join sees
    ids = np.array([r.leaf for r in rows], dtype=np.int64).view(np.uint64)
    qlng, qlat = C.to_lnglat(ids)
    quant = spark.createDataFrame(
        [(r.url, r.mention_idx, float(ln), float(la), int(r.leaf))
         for r, ln, la in zip(rows, qlng, qlat)],
        "url string, mention_idx int, lng double, lat double, leaf long")

    key = ["url", "mention_idx", "region_id"]
    got = {tuple(r) for r in
           spatial_join(pts.drop("lng", "lat"), regions,
                        predicate="contains", broadcast=False,
                        refine_mode="subdivided", leaf_col="leaf",
                        coords="leaf").select(*key).collect()}
    exp = {tuple(r) for r in
           spatial_join(quant, regions, predicate="contains",
                        broadcast=False, refine_mode="subdivided",
                        leaf_col="leaf").select(*key).collect()}
    assert got == exp and len(got) > 0
    # salted variant agrees too
    got_s = {tuple(r) for r in
             spatial_join(pts.drop("lng", "lat"), regions,
                          predicate="contains", broadcast=False, salt=3,
                          refine_mode="subdivided", leaf_col="leaf",
                          coords="leaf").select(*key).collect()}
    assert got_s == exp


def test_prepared_subdivided_regions(spark, mentions):
    """prepare_regions_subdivided: the prepared-dim join must produce
    exactly the raw-dim subdivided join's pairs in both refine modes, reuse
    must not rebuild state, and removed refine modes must raise."""
    from s2geography_spark.operators.spatial_join import (
        prepare_regions_subdivided, spatial_join)

    regions = regions_df(spark, 24)
    prep = prepare_regions_subdivided(spark, regions)
    assert prep.state_cells > 0 and prep.fits_broadcast
    key = ["url", "mention_idx", "region_id"]
    exp = {tuple(r) for r in
           spatial_join(mentions, regions, predicate="contains",
                        broadcast=False, refine_mode="subdivided")
           .select(*key).collect()}
    # auto (broadcasts the state from the prepared stats, no job) and the
    # forced shuffle agree; the prep is reused across both joins
    for mode in ("auto", "subdivided"):
        got = {tuple(r) for r in
               spatial_join(mentions, prep, predicate="contains",
                            broadcast=False, refine_mode=mode)
               .select(*key).collect()}
        assert got == exp and len(got) > 0, mode
    # prefilter=False path also consumes the prep
    got_nf = {tuple(r) for r in
              spatial_join(mentions, prep, predicate="contains",
                           broadcast=False, refine_mode="subdivided",
                           prefilter=False).select(*key).collect()}
    assert got_nf == exp
    # the removed WKB-consuming modes are rejected by name
    with pytest.raises(ValueError, match="refine_mode must be one of"):
        spatial_join(mentions, prep, broadcast=False, refine_mode="rows")
    # an over-guard state makes auto take the shuffling form
    prep.probe = None
    got_fb = {tuple(r) for r in
              spatial_join(mentions, prep, predicate="contains",
                           broadcast=False, refine_mode="auto")
              .select(*key).collect()}
    assert got_fb == exp


def test_spatial_count_matches_join_rollup(spark, mentions):
    """spatial_count (aggregate pushdown: full-cell mass via per-cell
    counts, boundary band via parity refine) must equal the join-then-
    rollup counts exactly, on the corpus and on antimeridian/pole
    regions, in at most two Spark jobs per call on a prepared dim (the
    rollup's map stage, which probes the dim in-task, and its result)."""
    from s2geography_spark.core import ops
    from s2geography_spark.core.geog import from_wkb
    from s2geography_spark.operators.spatial_join import (prepare_regions,
                                                          spatial_count)

    regions = regions_df(spark, 24, covering_level=8)
    exp = {(r.region_id, r["count"]) for r in
           spatial_join(mentions, regions, predicate="contains", level=8)
           .groupBy("region_id").count().collect()}
    got = {(r.region_id, r.n) for r in
           spatial_count(mentions, regions, level=8).collect()}
    assert got == exp and len(got) > 0
    # prepared-dim reuse gives the identical result
    prep = prepare_regions(spark, regions)
    sc = spark.sparkContext
    sc.setJobGroup("s2_spatial_count_jobs", "s2_spatial_count_jobs")
    try:
        got_p = {(r.region_id, r.n) for r in
                 spatial_count(mentions, prep, level=8).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got_p == exp
    jobs = sc.statusTracker().getJobIdsForGroup("s2_spatial_count_jobs")
    assert 0 < len(jobs) <= 2, len(jobs)
    # non-broadcastable state falls back to the shuffle-join boundary term
    prep.probe = None
    got_s = {(r.region_id, r.n) for r in
             spatial_count(mentions, prep, level=8).collect()}
    assert got_s == exp

    # special regions at a fixed level (antimeridian + pole)
    rows = special_regions_df(spark).collect()
    fixed = spark.createDataFrame(
        [(r.region_id, r.name, bytearray(r.geog),
          [int(c) for c in ops.s2_covering_fixed_level(
              from_wkb(bytes(r.geog)), 6)]) for r in rows],
        "region_id long, name string, geog binary, covering array<long>")
    pts = spark.createDataFrame(
        [(0, 179.9, 0.0), (1, -179.9, 1.0), (2, 0.0, 89.0),
         (3, 0.0, 0.0), (4, 150.0, -40.0), (5, 177.0, 3.0)],
        "pid long, lng double, lat double")
    exp_s = {(r.region_id, r["count"]) for r in
             spatial_join(pts, fixed, predicate="contains", broadcast=False,
                          refine_mode="subdivided", level=6)
             .groupBy("region_id").count().collect()}
    got_sp = {(r.region_id, r.n) for r in
              spatial_count(pts, fixed, level=6).collect()}
    assert got_sp == exp_s and len(got_sp) > 0


def test_spatial_join_rejects_bad_predicate_and_modes(spark):
    """An unknown predicate (e.g. 'within', which used to run a contains
    join) and every removed refine mode raise, naming the accepted
    values."""
    pts = spark.createDataFrame([(0, 10.5, 10.5)],
                                "pid long, lng double, lat double")
    regions = regions_df(spark, 8)
    with pytest.raises(ValueError, match="'contains' or 'intersects'"):
        spatial_join(pts, regions, predicate="within")
    for mode in ("rows", "index", "cogroup", "subdivided_broadcast",
                 "subdivided_auto"):
        with pytest.raises(ValueError,
                           match=r"\('auto', 'subdivided'\)") as e:
            spatial_join(pts, regions, refine_mode=mode)
        assert mode in str(e.value)


def test_knn_join_custom_region_id(spark, plan):
    """knn_join and knn_join_covering's dense fallback order ties by the
    dim's own id column, not a hard-coded 'region_id'."""
    from s2geography_spark.operators.spatial_join import knn_join_covering
    regions = regions_df(spark, 16).select(F.col("region_id").alias("rid"),
                                           "geog")
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in
         enumerate([(10.5, 10.5), (-120.0, 30.0), (60.0, -40.0)])],
        "pid long, lng double, lat double")
    exp = _brute_knn(pts, regions, 3, rid="rid")
    assert len(exp) == 9
    dense = {(r.pid, r.knn_rank): r.rid for r in
             knn_join(pts, regions, 3, point_id="pid", region_id="rid")
             .collect()}
    assert dense == exp
    cov = {(r.pid, r.knn_rank): r.rid for r in
           knn_join_covering(pts, regions, 3, point_id="pid",
                             region_id="rid", init_radius_m=1000.0,
                             max_rounds=1).collect()}
    assert cov == exp


@pytest.mark.parametrize("guard", ["over", "skewed"])
def test_state_table_guard_on_the_collect(spark, mentions, monkeypatch,
                                          guard):
    """prepare_regions collects the state table for the in-task probe only
    within the in-process guard.  All the dim's cells in one partition
    pass that partition's even share, so the exact guard decides: one
    cell over the guard and the driver only ever sees the over-share
    marker rows, and the join takes the boundary-band shuffle; exactly at
    the guard the table is collected and probed.  Both give the rows of
    the unguarded broadcast plan."""
    from s2geography_spark.operators import spatial_join as sj
    key = ["url", "mention_idx", "region_id"]
    regions = regions_df(spark, 24)
    exp = {tuple(r) for r in
           spatial_join(mentions, regions).select(*key).collect()}
    skewed = regions.repartition(4, F.lit(0))
    n = sj.prepare_regions(spark, skewed).state_cells
    monkeypatch.setattr(sj, "MAX_BROADCAST_DIM_ROWS",
                        n - 1 if guard == "over" else n)
    seen = []
    to_arrow = type(regions).toArrow

    def spy(df):
        t = to_arrow(df)
        seen.append(t)
        return t

    monkeypatch.setattr(type(regions), "toArrow", spy)
    prep = sj.prepare_regions(spark, skewed)
    assert prep.state_cells == n
    plan = spatial_join(mentions, prep)._jdf.queryExecution() \
        .executedPlan().toString()
    markers = [t.num_rows == t.column("_ck").null_count for t in seen]
    if guard == "over":
        assert not prep.fits_broadcast and prep.probe is None
        assert markers and all(markers)
        assert "spatial_probe(" not in plan
        assert "Exchange hashpartitioning(_ckp" in plan
    else:
        assert prep.fits_broadcast and markers == [True, False]
        assert seen[-1].num_rows == n
        assert "spatial_probe(" in plan
    got = {tuple(r) for r in
           spatial_join(mentions, prep).select(*key).collect()}
    assert got == exp and len(got) > 0


def test_probe_guard_counts_the_payload(spark, mentions, monkeypatch):
    """The in-process guard on the probe table counts the region payload
    with the state blobs, since every Python worker holds the whole
    table: a wide payload column pushes a dim that fits without it onto
    the shuffle plan, with the same rows."""
    from s2geography_spark.operators import spatial_join as sj
    regions = regions_df(spark, 24)
    narrow = sj.prepare_regions(spark, regions)
    monkeypatch.setattr(sj, "MAX_BROADCAST_DIM_BYTES",
                        2 * narrow.state_bytes)
    assert sj.prepare_regions(spark, regions).fits_broadcast
    wide = sj.prepare_regions(
        spark, regions.withColumn("doc", F.repeat(F.lit("x"), 10_000)))
    assert not wide.fits_broadcast
    assert wide.state_bytes > 2 * narrow.state_bytes
    key = ["url", "mention_idx", "region_id"]
    got = {tuple(r) for r in
           spatial_join(mentions, wide).select(*key).collect()}
    assert got and got == {tuple(r) for r in spatial_join(
        mentions, narrow).select(*key).collect()}


def test_sources_are_arrow_relations(spark):
    """The region dims and the gazetteer are local relations built from
    Arrow, not Python RDDs (each scan of an ExistingRDD starts a Python
    worker), with the DDL schemas they have always had."""
    from pyspark.sql import types as T
    dim = ("region_id long, lng0 double, lat0 double, lng1 double, "
           "lat1 double, geog binary, covering array<long>")
    for df, ddl in [
            (regions_df(spark, 8), dim),
            (regions_df(spark, 8, covering_level=6), dim),
            (regions_df(spark, 4, with_covering=False), dim),
            (special_regions_df(spark),
             "region_id long, name string, geog binary, "
             "covering array<long>"),
            (gazetteer_df(spark),
             "city string, city_k int, lng double, lat double")]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
        assert df.schema == T.StructType.fromDDL(ddl)
        assert df.count() > 0
