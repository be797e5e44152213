"""The three workloads of the benchmark of record.

Every workload is a closed loop (one client; the next operation is sent
only after the previous one returned) over inputs generated from the run's
seed.  A workload provides:

  setup()     the prepared dim state
  prepare()   after setup(): write the corpus the operations read (io)
  op(i)       one timed operation; returns what check() needs
  check(i, out) -> '' or why the answer is wrong (never timed)
  final_check() -> None (nothing to check), '' or why; one deeper check
                of the run's output
  layers()    traced run only: per-layer metrics measured from outside

Spark is lazy, so a layer's time is measured by prefix: the pipeline up to
and including the layer runs into the `noop` sink, and the same prefix
without the layer is subtracted.  Layers a workload never reaches report 0.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import oracles as O
from .harness import OpLog, SparkCounters, median, median_time, timed

N_REGIONS = 96
LEVEL = 8


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f))
                     for f in files if f.endswith(".parquet"))
    return total


class Workload:
    name = ""
    round_len = 1      # operations per indivisible round of the closed loop
    min_ops = 3

    def __init__(self, spark, work: str, seed: int, tracer, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.scale = scale
        self.rng = np.random.default_rng(seed)
        self.bytes_per_row = 0.0
        self.rows_per_op = 1
        self.log = OpLog()

    def size(self, n: int, floor: int) -> int:
        return max(int(n * self.scale), floor)

    def prepare(self):
        pass

    def setup(self):
        pass

    def final_check(self):
        return None

    def warmup(self):
        """One untimed, checked operation before the loop: the first use of
        a plan shape pays JIT and Python-worker start-up."""
        self.run_op(-1, warmup=True)

    def run_op(self, i, warmup: bool = False) -> float:
        """Run, time and check one operation; the outcome goes to the log.
        A failed operation is counted, never fatal."""
        self.tr.next_run()
        t0 = time.perf_counter()
        try:
            out = self.op(i)
        except Exception as e:
            dt = time.perf_counter() - t0
            self.log.record(dt, 0, False, f"{self.name} op {i}: {e!r}", warmup)
            return dt
        dt = time.perf_counter() - t0
        try:
            why = self.check(i, out)
        except Exception as e:
            why = f"{self.name} check {i}: {e!r}"
        self.log.record(dt, self.rows_per_op, not why, why, warmup)
        return dt

    # shared set-up pieces --------------------------------------------------

    def build_regions(self):
        """The 96-region dim with its fixed level-8 coverings (cold: the
        process has not built it before)."""
        from s2geography_spark.sources.regions import regions_df
        with self.tr.span("sources.regions.build"):
            self.regions = regions_df(self.spark, N_REGIONS, covering_level=LEVEL)
        return self.regions

    def spark_counts(self, fn) -> dict:
        c = SparkCounters(self.spark.sparkContext)
        with c.group():
            fn()
        return {"spark.jobs": c.jobs, "spark.stages": c.stages,
                "spark.tasks": c.tasks, "spark.failed_tasks": c.failed_tasks}

    def overhead(self, reps: int, i: int = 10_000) -> float:
        """Tracing overhead: traced minus untraced wall time of operation
        `i`, alternating the two, median of each."""
        was = self.tr.enabled
        plain, traced = [], []
        try:
            for _ in range(reps):
                for on, acc in ((False, plain), (True, traced)):
                    self.tr.enabled = on
                    acc.append(self.run_op(i))
        finally:
            self.tr.enabled = was
        return median(traced) - median(plain)


def covering_rate(geogs) -> float:
    """core.ops: fixed-level covering cells per second, in-process."""
    from s2geography_spark.core import ops
    cells, dt = timed(lambda: sum(len(ops.s2_covering_fixed_level(g, LEVEL))
                                  for g in geogs))
    return cells / dt


def region_geogs(n: int):
    from s2geography_spark.sources.regions import densified_rect
    l0, t0, l1, t1 = O.region_corners(np.arange(n))
    return [densified_rect(l0[i], t0[i], l1[i], t1[i]) for i in range(n)]


# ---------------------------------------------------------------------------
# ingest (the write path; set-up of join_sparse_bcast)
# ---------------------------------------------------------------------------

class MentionIngest:
    """Seeded pages -> extract_mentions -> leaf_cell_udf -> assign_tiles ->
    parquet: the engine's only write path (sources, the Python leaf-cell
    UDF, tile bit math and the parquet writer)."""

    S2_LEVELS = (8, 12)
    ZOOMS = (6, 10)

    def __init__(self, spark, tracer, seed: int, n_pages: int):
        from s2geography_spark.sources.pages import gazetteer_df
        self.spark = spark
        self.tr = tracer
        self.n_pages = n_pages
        # whole periods of the page-id pattern keep the mention mix fixed
        # while the seed moves the page ids, urls and text
        self.first_page = (seed % 1000) * O.N_CITIES
        self.expected = O.mention_city_counts(self.first_page, n_pages)
        self.gaz = gazetteer_df(spark) if spark is not None else None

    def mentions(self):
        from pyspark.sql import functions as F
        from s2geography_spark.sources.pages import extract_mentions, pages_df
        with self.tr.span("sources.pages"):
            pages = pages_df(self.spark, self.first_page + self.n_pages) \
                .where(F.col("page_id") >= self.first_page)
            return extract_mentions(pages, self.gaz)

    def tiled(self, mentions):
        from pyspark.sql import functions as F
        from s2geography_spark.operators.spatial_join import leaf_cell_udf
        from s2geography_spark.operators.tiles import assign_tiles
        with self.tr.span("operators.tiles.assign"):
            m = mentions.withColumn("leaf", leaf_cell_udf(F.col("lng"),
                                                          F.col("lat")))
            return assign_tiles(m, s2_levels=self.S2_LEVELS,
                                mercator_zooms=self.ZOOMS)

    def write(self, path: str):
        df = self.tiled(self.mentions())
        with self.tr.span("io.write"):
            df.write.mode("overwrite").parquet(path)

    def check(self, path: str) -> str:
        """Per-city mention counts in closed form, plus every key column
        that can be recomputed without the package's Hilbert encoder."""
        keys = (["city_k", "leaf"] + [f"s2_cell_l{l}" for l in self.S2_LEVELS]
                + [f"tile_z{z}_{a}" for z in self.ZOOMS for a in "xy"])
        rows = [r.asDict() for r in self.spark.read.parquet(path)
                .groupBy(*keys).count().collect()]
        got = np.zeros(O.N_CITIES, np.int64)
        for r in rows:
            got[r["city_k"]] += r["count"]
        if len(rows) != int((self.expected > 0).sum()):
            return f"ingest: {len(rows)} distinct city keys"
        if not np.array_equal(got, self.expected):
            return "ingest: per-city mention counts differ"
        return O.check_ingest_keys(rows, self.ZOOMS, self.S2_LEVELS)

    def layers(self, path: str, reps: int = 2) -> dict:
        src = median_time(lambda: noop(self.mentions()), reps)
        tiles = median_time(lambda: noop(self.tiled(self.mentions())), reps)
        full = median_time(lambda: self.write(path), reps)
        return {"sources.pages.extract_s": src,
                "operators.tiles.assign_s": tiles - src,
                "io.write_s": full - tiles}


# ---------------------------------------------------------------------------
# the two joins
# ---------------------------------------------------------------------------

class _Join(Workload):
    """Shared shape of the two join workloads: corpus parquet -> spatial
    join against the prepared 96-region dim -> per-region rollup, checked
    against the planar oracle."""

    def read(self):
        with self.tr.span("io.scan"):
            return self.spark.read.parquet(self.corpus).select(*self.cols)

    def op(self, i):
        from pyspark.sql import functions as F
        pts = self.read()
        with self.tr.span("operators.spatial_join.build"):
            joined = self.join(pts)
        with self.tr.span("operators.spatial_join.execute"):
            return {r["region_id"]: r["n"] for r in joined.groupBy("region_id")
                    .agg(F.count("*").alias("n")).collect()}

    def check(self, i, out) -> str:
        if out == self.expected:
            return ""
        bad = {k for k in set(out) | set(self.expected)
               if out.get(k) != self.expected.get(k)}
        return f"{self.name}: {len(bad)} region counts differ"

    def bbox_cond(self, pts, ex, key: str):
        """The operator's join condition restated from outside: cell-key
        equality plus the region bbox prefilter."""
        from pyspark.sql import functions as F
        eps = 1e-9
        lat_ok = (pts["lat"] >= ex["_ymin"] - eps) & (pts["lat"] <= ex["_ymax"] + eps)
        lng_ok = (pts["lng"] >= ex["_xmin"] - eps) & (pts["lng"] <= ex["_xmax"] + eps)
        return (pts[key] == ex["_ck"]) & (ex["_xmin"].isNull() | (lat_ok & lng_ok))

    def layers(self) -> dict:
        reps = 2
        scan = median_time(lambda: noop(self.read()), reps)
        key = median_time(lambda: noop(self.keyed(self.read())), reps)
        cand = median_time(lambda: noop(self.candidates(self.read())), reps)
        # only the column the rollup reads, so the rollup is the difference
        join = median_time(lambda: noop(self.join(self.read()).select("region_id")),
                           reps)
        full = median([self.run_op(-1 - i) for i in range(reps)])
        build = median([timed(self.join, self.read())[1] for _ in range(reps)])
        c = self.candidates(self.read()).groupBy("_full").count().collect()
        n_full = sum(r["count"] for r in c if r["_full"])
        n_cand = sum(r["count"] for r in c)
        matched = sum(self.expected.values())
        refine_rows = n_cand - n_full
        out = {"io.scan_floor_s": scan,
               "functions.cells.key_s": key - scan,
               "operators.spatial_join.candidate_s": cand - key,
               "operators.spatial_join.refine_s": join - cand,
               "operators.spatial_join.rollup_s": full - join,
               "operators.spatial_join.build_s": build,
               "operators.spatial_join.candidates": n_cand,
               "operators.spatial_join.refine_rows": refine_rows,
               "operators.spatial_join.interior_frac": n_full / max(n_cand, 1),
               "operators.spatial_join.refine_useful_frac":
                   (matched - n_full) / max(refine_rows, 1),
               **self.spark_counts(lambda: self.run_op(-10)),
               "trace.overhead_s": self.overhead(1)}
        out.update(self.extra_layers())
        return out

    def extra_layers(self) -> dict:
        """Layers only one of the joins reaches."""
        return {}


class JoinSparseBcast(_Join):
    """The ingested web-mention corpus (~5% of mentions in a covered cell)
    joined to the prepared region dim on the broadcast path: scan and
    cell-key probe dominate, exchange and refine are nearly idle.  The
    corpus is written by the ingest path in set-up, so work moved from the
    join into ingest shows here as set-up time."""

    name = "join_sparse_bcast"
    cols = ("lng", "lat", "leaf")

    def __init__(self, *a, n_pages: int = 100_000):
        super().__init__(*a)
        self.ingest = MentionIngest(self.spark, self.tr, self.seed,
                                    self.size(n_pages, 2400))
        self.expected = O.sparse_join_counts(
            self.ingest.first_page, self.ingest.n_pages, N_REGIONS)

    def prepare(self):
        self.corpus = os.path.join(self.work, "corpus")
        self.ingest.write(self.corpus)
        n = self.spark.read.parquet(self.corpus).count()
        want = int(self.ingest.expected.sum())
        self.log.record_check("" if n == want else
                              f"ingest: {n} mentions written, want {want}")
        self.rows_per_op = n
        self.bytes_per_row = dir_bytes(self.corpus) / max(n, 1)

    def final_check(self) -> str:
        return self.ingest.check(self.corpus)

    def extra_layers(self) -> dict:
        return self.ingest.layers(os.path.join(self.work, "ingest-trace"))

    def setup(self):
        from s2geography_spark.operators.spatial_join import prepare_regions
        regions = self.build_regions()
        with self.tr.span("operators.spatial_join.prepare"):
            self.prep = prepare_regions(self.spark, regions)

    def join(self, pts):
        from s2geography_spark.operators.spatial_join import spatial_join
        return spatial_join(pts, self.prep, predicate="contains",
                            level=LEVEL, leaf_col="leaf")

    def keyed(self, pts):
        from pyspark.sql import functions as F
        from s2geography_spark.functions.cells import cell_join_key, cell_parent
        return pts.withColumn("_ckp", cell_join_key(cell_parent(F.col("leaf"),
                                                               LEVEL)))

    def candidates(self, pts):
        from pyspark.sql import functions as F
        k = self.keyed(pts)
        ex = self.prep.exploded
        return k.join(F.broadcast(ex), self.bbox_cond(k, ex, "_ckp"), "inner")


class JoinDenseShuffle(_Join):
    """Seeded points that all fall in covered cells (the GPS/check-in
    shape), joined on the shuffle path with the subdivided parity refine:
    every row crosses the exchange and the boundary band goes through the
    Arrow refine, while the scan is small."""

    name = "join_dense_shuffle"
    cols = ("lng", "lat")

    def __init__(self, *a, n_points: int = 800_000):
        super().__init__(*a)
        self.n_points = self.size(n_points, 3000)

    def prepare(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from s2geography_spark.core import cellid as C
        covered = np.unique(np.concatenate([
            np.asarray(r["covering"], np.int64) for r in
            self.regions.select("covering").collect()]))
        l0, t0, l1, t1 = O.region_corners(np.arange(N_REGIONS))
        parts, have = [], 0
        while have < self.n_points:
            m = self.n_points * 3 // 2
            r = self.rng.integers(0, N_REGIONS, m)
            # a 0.5-degree margin around each box puts some points in a
            # covering cell but outside every region: key matches the
            # join must drop
            lng = self.rng.uniform(l0[r] - 0.5, l1[r] + 0.5)
            lat = self.rng.uniform(t0[r] - 0.5, t1[r] + 0.5)
            lng = np.floor(lng * 4) / 4 + 0.125
            lat = np.floor(lat * 4) / 4 + 0.125
            cell = C.parent(C.from_lnglat(lng, lat), LEVEL).view(np.int64)
            keep = np.isin(cell, covered)
            parts.append((lng[keep], lat[keep]))
            have += int(keep.sum())
        lng = np.concatenate([p[0] for p in parts])[:self.n_points]
        lat = np.concatenate([p[1] for p in parts])[:self.n_points]
        self.corpus = os.path.join(self.work, "dense")
        os.makedirs(self.corpus)
        with self.tr.span("io.write"):
            pq.write_table(pa.table({"point_id": np.arange(len(lng)),
                                     "lng": lng, "lat": lat}),
                           os.path.join(self.corpus, "part-0.parquet"))
        self.rows_per_op = len(lng)
        self.bytes_per_row = dir_bytes(self.corpus) / len(lng)
        self.expected = O.region_counts(lng, lat, N_REGIONS)
        self.lng, self.lat = lng, lat

    def setup(self):
        from s2geography_spark.operators.spatial_join import (
            prepare_regions_subdivided)
        regions = self.build_regions()
        with self.tr.span("operators.spatial_join.prepare"):
            self.prep = prepare_regions_subdivided(self.spark, regions)

    def join(self, pts):
        from s2geography_spark.operators.spatial_join import spatial_join
        # prefilter off: every point is in a covered cell, so the whole
        # fact side rides the exchange (the operator's dense-corpus advice)
        return spatial_join(pts, self.prep, broadcast=False,
                            refine_mode="subdivided", level=LEVEL,
                            prefilter=False)

    def keyed(self, pts):
        from pyspark.sql import functions as F
        from s2geography_spark.functions.cells import cell_join_key, with_leaf_cell
        return with_leaf_cell(pts, "lng", "lat", "_leaf", level=LEVEL) \
            .withColumn("_ckp", cell_join_key(F.col("_leaf")))

    def candidates(self, pts):
        k = self.keyed(pts)
        ex = self.prep.exploded
        return k.join(ex.hint("SHUFFLE_HASH"), self.bbox_cond(k, ex, "_ckp"),
                      "inner")

    def extra_layers(self) -> dict:
        """core: the parity-refine kernel behind parity_refine_udf, run
        in-process on a sample of the real boundary-band candidates."""
        from pyspark.sql import functions as F
        from s2geography_spark.operators.spatial_join import _parity_refine_impl
        n = self.size(200_000, 2000)
        pdf = (self.candidates(self.read()).where(~F.col("_full"))
               .select("_state", "lng", "lat").limit(n).toPandas())
        dt = median_time(lambda: _parity_refine_impl(
            pdf["_state"], pdf["lng"], pdf["lat"]), 3)
        return {"core.parity_points_per_s": len(pdf) / dt}


# ---------------------------------------------------------------------------
# geo_query_mix
# ---------------------------------------------------------------------------

class GeoQueryMix(Workload):
    """A fixed, seeded sequence of mid-size queries: overlay, buffer,
    dwithin, kNN, spatial_count, vector tiles and convex hull.  The only
    workload reaching core.build and the distance/kNN code; its small
    queries are bound by driver planning and job count."""

    name = "geo_query_mix"
    KINDS = ("overlay", "buffer", "dwithin", "knn", "count", "tiles", "hull")
    LAYER = {"overlay": "functions.geo.overlay_s",
             "buffer": "functions.geo.buffer_s",
             "dwithin": "operators.spatial_join.dwithin_s",
             "knn": "operators.spatial_join.knn_s",
             "count": "operators.spatial_join.count_s",
             "tiles": "operators.tiles.vector_tiles_s",
             "hull": "operators.aggregates.convex_hull_s"}
    round_len = len(KINDS)
    # two timed rounds: one round gives p50/p90 over only seven queries
    min_ops = 2 * len(KINDS)

    def __init__(self, *a, pool: int = 20_000):
        super().__init__(*a)
        self.pool_n = self.size(pool, 2000)
        self.n = {"overlay": self.size(12, 3), "buffer": self.size(16, 3),
                  "dwithin": self.size(400, 40), "knn": self.size(500, 40),
                  "count": self.size(5000, 200), "tiles": self.size(24, 4),
                  "hull": self.size(10, 3)}
        self.order = [self.KINDS[j] for j in self.rng.permutation(len(self.KINDS))]

    def warmup(self):
        """One untimed, checked round: each query kind's first run pays
        plan compilation and worker imports (up to 2x a warm run)."""
        for i in range(len(self.order)):
            self.run_op(i, warmup=True)

    def prepare(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        lng = self.rng.integers(0, 1440, self.pool_n) / 4.0 - 180.0 + 0.125
        lat = self.rng.integers(0, 640, self.pool_n) / 4.0 - 80.0 + 0.125
        self.pool = os.path.join(self.work, "pool")
        os.makedirs(self.pool)
        with self.tr.span("io.write"):
            pq.write_table(pa.table({"pid": np.arange(self.pool_n),
                                     "lng": lng, "lat": lat}),
                           os.path.join(self.pool, "part-0.parquet"))
        self.lng, self.lat = lng, lat
        self.bytes_per_row = dir_bytes(self.pool) / self.pool_n

    def setup(self):
        from pyspark.sql import functions as F
        from s2geography_spark.functions.geo import point_wkb_columns
        from s2geography_spark.operators.spatial_join import (
            prepare_regions_subdivided)
        regions = self.build_regions()
        with self.tr.span("operators.spatial_join.prepare"):
            self.prep = prepare_regions_subdivided(self.spark, regions)
        self.centers = regions.select(
            "region_id", point_wkb_columns((F.col("lng0") + F.col("lng1")) / 2.0,
                                           (F.col("lat0") + F.col("lat1")) / 2.0)
            .alias("geog"))
        self.tile_regions = regions.select("region_id", "lng0", "lat0",
                                           "lng1", "lat1", "geog")

    def points(self, n: int):
        """A seeded window of the stored point pool: (DataFrame, ids)."""
        from pyspark.sql import functions as F
        lo = int(self.rng.integers(0, self.pool_n - n + 1))
        with self.tr.span("io.scan"):
            df = self.spark.read.parquet(self.pool) \
                .where((F.col("pid") >= lo) & (F.col("pid") < lo + n))
        return df, slice(lo, lo + n)

    def op(self, i):
        kind = self.order[i % len(self.order)]
        with self.tr.span(self.LAYER[kind]):
            return kind, getattr(self, "q_" + kind)()

    def check(self, i, out) -> str:
        kind, (args, rows) = out
        return getattr(self, "c_" + kind)(args, rows)

    # queries: each returns (oracle inputs, collected rows) -------------------

    def overlay_pairs(self, n: int):
        from s2geography_spark.sources.regions import densified_rect
        rs = self.rng.choice(N_REGIONS, n, replace=False)
        l0, t0, l1, t1 = O.region_corners(rs)
        w = 1 + np.arange(n) % 3      # fixed widths: every round costs the same
        return [(int(rs[i]), densified_rect(l0[i], t0[i], l1[i], t1[i]),
                 densified_rect(l1[i], t0[i], l1[i] + w[i], t1[i]),
                 (l0[i], t0[i], l1[i], t1[i], l1[i] + w[i]))
                for i in range(n)]

    def q_overlay(self):
        from pyspark.sql import functions as F
        from s2geography_spark.core.geog import to_wkb
        from s2geography_spark.functions.geo import st_area, st_intersection, st_union
        pairs = self.overlay_pairs(self.n["overlay"])
        self.rows_per_op = len(pairs)
        df = self.spark.createDataFrame(
            [(r, to_wkb(a), to_wkb(b)) for r, a, b, _ in pairs],
            "rid long, ga binary, gb binary")
        rows = df.select("rid", st_area(st_union(F.col("ga"), F.col("gb"))).alias("u"),
                         st_area(st_intersection(F.col("ga"), F.col("gb"))).alias("x"),
                         st_area(F.col("ga")).alias("a"),
                         st_area(F.col("gb")).alias("b")).collect()
        return pairs, rows

    def c_overlay(self, pairs, rows) -> str:
        box = {r: c for r, _, _, c in pairs}
        if len(rows) != len(pairs):
            return f"overlay: {len(rows)} rows for {len(pairs)} pairs"
        for r in rows:
            l0, t0, l1, t1, l2 = box[r["rid"]]
            a, b = O.rect_area_m2(l0, t0, l1, t1), O.rect_area_m2(l1, t0, l2, t1)
            if abs(r["a"] - a) > 1e-4 * a or abs(r["b"] - b) > 1e-4 * b:
                return f"overlay: region {r['rid']} part areas off"
            if abs(r["u"] - r["a"] - r["b"]) > 1e-6 * (a + b) + 1e6:
                return f"overlay: region {r['rid']} union != sum of parts"
            if r["x"] > 1e6:
                return f"overlay: region {r['rid']} shared edge has area"
        return ""

    def q_buffer(self):
        from pyspark.sql import functions as F
        from s2geography_spark.functions.geo import (point_wkb_columns, st_area,
                                                     st_buffer_quadsegs, st_npoints)
        n = self.n["buffer"]
        # sizes cycle through a fixed list so every round costs the same;
        # the seed moves the centres
        radius = np.resize([50e3, 100e3, 250e3, 500e3, 1e6], n)
        qs = np.resize(np.arange(3, 9), n)
        lng = self.rng.integers(-600, 600, n) / 4.0 + 0.125
        lat = self.rng.integers(-240, 240, n) / 4.0 + 0.125
        args = [(i, float(radius[i]), int(qs[i]), float(lng[i]), float(lat[i]))
                for i in range(n)]
        self.rows_per_op = n
        df = self.spark.createDataFrame(
            args, "i long, r double, q int, lng double, lat double")
        buf = st_buffer_quadsegs(point_wkb_columns("lng", "lat"), F.col("r"),
                                 F.col("q"))
        return args, df.select("i", st_npoints(buf).alias("nv"),
                               st_area(buf).alias("area")).collect()

    def c_buffer(self, args, rows) -> str:
        by = {r["i"]: r for r in rows}
        for i, radius, q, _, _ in args:
            r = by.get(i)
            want = O.ngon_area_m2(4 * q, radius / O.EARTH_R)
            if r is None or r["nv"] != 4 * q or abs(r["area"] - want) > 1e-6 * want:
                return f"buffer: point {i} gives {r}, want {4 * q} vertices, {want:.6g} m2"
        return ""

    def q_dwithin(self):
        from s2geography_spark.operators.spatial_join import dwithin_join
        pts, ids = self.points(self.n["dwithin"])
        radius = 500e3
        self.rows_per_op = ids.stop - ids.start
        rows = dwithin_join(pts, self.centers, radius) \
            .select("pid", "region_id").collect()
        return (ids, radius), [(r[0], r[1]) for r in rows]

    def c_dwithin(self, args, rows) -> str:
        ids, radius = args
        return O.check_dwithin(rows, np.arange(ids.start, ids.stop),
                               self.lng[ids], self.lat[ids], N_REGIONS, radius)

    def q_knn(self):
        from s2geography_spark.operators.spatial_join import knn_join_covering
        pts, ids = self.points(self.n["knn"])
        self.rows_per_op = ids.stop - ids.start
        # one wide covering round, then the dense fallback for the residue
        rows = knn_join_covering(pts, self.centers, k=3, point_id="pid",
                                 init_radius_m=10_000_000.0, max_rounds=1) \
            .select("pid", "knn_rank", "region_id").collect()
        return ids, [tuple(r) for r in rows]

    def c_knn(self, ids, rows) -> str:
        return O.check_knn(rows, np.arange(ids.start, ids.stop),
                           self.lng[ids], self.lat[ids], N_REGIONS, 3)

    def q_count(self):
        from s2geography_spark.operators.spatial_join import spatial_count
        pts, ids = self.points(self.n["count"])
        self.rows_per_op = ids.stop - ids.start
        rows = spatial_count(pts, self.prep, level=LEVEL).collect()
        return ids, {r["region_id"]: r["n"] for r in rows}

    def c_count(self, ids, got) -> str:
        want = O.region_counts(self.lng[ids], self.lat[ids], N_REGIONS)
        return "" if got == want else f"count: {got} != {want}"

    def q_tiles(self):
        from pyspark.sql import functions as F
        from s2geography_spark.operators.tiles import vector_tile_coverage
        rs = sorted(int(r) for r in self.rng.choice(N_REGIONS, self.n["tiles"],
                                                    replace=False))
        self.rows_per_op = len(rs)
        regs = self.tile_regions.where(F.col("region_id").isin(rs))
        rows = vector_tile_coverage(regs, 6, bbox=("lng0", "lat0", "lng1", "lat1")) \
            .select("region_id", "x", "y").collect()
        return rs, {tuple(r) for r in rows}

    def c_tiles(self, rs, got) -> str:
        l0, t0, l1, t1 = O.region_corners(np.array(rs))
        want = set()
        for i, r in enumerate(rs):
            want |= O.rect_tiles(r, l0[i], t0[i], l1[i], t1[i], 6)
        return "" if got == want else \
            f"tiles: {len(got ^ want)} tiles differ"

    def q_hull(self):
        from pyspark.sql import functions as F
        from s2geography_spark.functions.geo import (point_wkb_columns, st_area,
                                                     st_npoints)
        from s2geography_spark.operators.aggregates import convex_hull_agg
        g = self.n["hull"]
        groups = [(j, float(self.rng.integers(-600, 600)) / 4 + 0.125,
                   float(self.rng.integers(-200, 200)) / 4 + 0.125,
                   0.02 + 0.01 * (j % 3), 8 + 4 * (j % 5)) for j in range(g)]
        self.rows_per_op = sum(n for *_, n in groups)
        gdf = self.spark.createDataFrame(
            groups, "g long, clng double, clat double, theta double, n int")
        k = F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("k")
        pts = gdf.select("g", "clng", "clat", "theta", "n", k)
        # direct geodesic from the centre at bearing 2*pi*k/n: every point
        # is in convex position, so the hull is the inscribed regular n-gon
        al = 2.0 * F.lit(np.pi) * F.col("k") / F.col("n")
        f1 = F.radians("clat")
        lat2 = F.asin(F.sin(f1) * F.cos("theta")
                      + F.cos(f1) * F.sin("theta") * F.cos(al))
        lng2 = F.radians("clng") + F.atan2(
            F.sin(al) * F.sin("theta") * F.cos(f1),
            F.cos("theta") - F.sin(f1) * F.sin(lat2))
        geo = pts.select("g", point_wkb_columns(F.degrees(lng2), F.degrees(lat2))
                         .alias("geog"))
        hull = convex_hull_agg(geo, "geog", ["g"])
        return groups, hull.select("g", st_npoints(F.col("hull")).alias("nv"),
                                   st_area(F.col("hull")).alias("area")).collect()

    def c_hull(self, groups, rows) -> str:
        by = {r["g"]: r for r in rows}
        for j, _, _, theta, n in groups:
            r = by.get(j)
            want = O.ngon_area_m2(n, theta)
            if r is None or r["nv"] != n or abs(r["area"] - want) > 1e-6 * want:
                return f"hull: group {j} gives {r}, want {n} vertices, {want:.6g} m2"
        return ""

    # traced run -------------------------------------------------------------

    def round(self):
        for i in range(len(self.order)):
            self.run_op(i)

    def layers(self) -> dict:
        from s2geography_spark.core import build, ops
        from s2geography_spark.core import cellid as C
        from s2geography_spark.core.geog import Geog
        overlay = self.order.index("overlay")
        first = len(self.tr.spans)
        out = self.spark_counts(self.round)
        for layer in self.LAYER.values():
            out[layer] = median(self.tr.durations(layer, since=first))
        # core.build in-process on the same kind of pairs the overlay query
        # sends through the Arrow UDFs; the ratio is the UDF path's overhead
        pairs = self.overlay_pairs(self.n["overlay"])

        def overlay_inproc():
            for _, a, b, _ in pairs:
                ops.s2_area(build.s2_union(a, b))
                ops.s2_area(build.s2_intersection(a, b))
                ops.s2_area(a)
                ops.s2_area(b)
        t_in = median_time(overlay_inproc, 3)
        t_udf = median([self.run_op(overlay) for _ in range(3)])
        out["core.build.overlay_pairs_per_s"] = len(pairs) / t_in
        out["functions.geo.udf_overhead_ratio"] = t_udf / t_in
        # core.ops distance kernel: every dwithin point against every centre
        n = self.n["dwithin"]
        xyz = np.stack(C.lnglat_to_xyz(self.lng[:n], self.lat[:n]), axis=-1)
        clng, clat = O.region_centers(N_REGIONS)
        cs = [Geog(points=np.array([[clng[i], clat[i]]])) for i in range(N_REGIONS)]
        dt = median_time(lambda: [ops.dist_to_points_rad(g, xyz) for g in cs], 3)
        out["core.ops.distance_points_per_s"] = n * N_REGIONS / dt
        # on the cheapest query: a whole round twice would double the run
        out["trace.overhead_s"] = self.overhead(2, overlay)
        return out


WORKLOADS = {w.name: w for w in (JoinSparseBcast, JoinDenseShuffle, GeoQueryMix)}
