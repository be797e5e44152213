"""Two-phase distributed spatial join: covering -> explode -> join -> refine.

This operator IS the engine's replacement for the reference's in-memory
``GeographyIndex::Iterator::Query`` (index.h:26-101): instead of walking a
shared S2ShapeIndex, candidates are produced by a hash equi-join on covering
cell ids, then refined with the exact predicate kernels.

Plan shape (scales to 10^12 rows / 1000 executors):

  regions (small dim, <= ~10^6 rows)
      covering array<long> (precomputed or s2_coveringcellids)
      -> explode -> one row per (region, covering cell) carrying the
         cell's SUBDIVIDED state: interior flag + packed edge subset
         (PreparedRegions, built once and reused)              [map-only]
      -> when it fits the in-process guard, collected ONCE and
         broadcast as a probe table sorted by the mixed cell key
  points (the 10^12-row fact side)
      broadcast plan — ONE map-only Arrow UDF per batch, over only the
      key/leaf/lng/lat columns (the other fact columns stay in the JVM,
      so Catalyst still prunes them):
      -> leaf cell id (NumPy, or the stored leaf/key column), its
         ancestors at the dim's covering levels, a hash probe of the
         probe table, the bbox prefilter, and the crossing-parity
         refine of the boundary-cell candidates only; each point's
         matched region payload comes back as a list, and `inline`
         emits the joined rows                                  [map-only]
      shuffle plan (an oversized state table, or
      refine_mode='subdivided'):
      -> leaf cell id from lng/lat (pure Column bit math, no WKB) and
         its ancestors at the dim's covering levels             [map-only]
      -> interior cells join map-only, the boundary band shuffles on the
         (salted) cell key into the vectorized crossing-parity refine

With a broadcastable state table the whole join is shuffle-free: the only
wide operation in a typical query is the user's downstream aggregation.

Correctness notes: a region's covering cells are disjoint (normalized
covering), so a point's ancestor chain hits at most one covering cell per
region — the candidate set needs no pair dedupe.  Coverings are supersets
of the region, so refine-only false positives are dropped, never misses.
"""

from __future__ import annotations

import itertools
from functools import reduce
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..core import cellid as C
from ..core import ops, sphere
from ..core.geog import from_wkb
from ..functions.cells import (cell_join_key, cell_level, cell_parent,
                               with_leaf_cell)


@pandas_udf(T.LongType())
def leaf_cell_udf(lng: pd.Series, lat: pd.Series) -> pd.Series:
    """Vectorized lng/lat -> leaf cell id (signed int64)."""
    ids = C.from_lnglat(lng.to_numpy(dtype=np.float64),
                        lat.to_numpy(dtype=np.float64)).view(np.int64)
    out = pd.Series(ids, dtype=object)
    bad = (lng.isna() | lat.isna()).to_numpy()
    if bad.any():
        out[bad] = None
    return out


def ancestors_at_levels(cell_col, levels):
    """Array column of the leaf cell's ancestors at the given levels (pure
    Column bit math — no Python)."""
    return F.array(*[cell_parent(cell_col, int(l)) for l in sorted(levels)])


# in-process guard: a dim within these (the rows of a distance dim with
# their base coverings, or a prepared state table with its region
# payload) is collected once by _guarded_collect and broadcast, and every
# Python worker holds a copy.  Over it, the distance joins run the same
# kernel per cell (_CellDim) and spatial_join shuffles the boundary band.
MAX_BROADCAST_DIM_ROWS = 200_000
MAX_BROADCAST_DIM_BYTES = 256 * 1024 * 1024
# the shuffle plan's prefilter broadcasts the boundary cells' key set
# (8 B/cell) and the interior slice up to this many exploded cells
MAX_BROADCAST_INDEX_ROWS = 8_000_000
# slack of the region bbox prefilter, in degrees: _join_cond (shuffle
# plan) and _ProbeTable.pairs (broadcast plan) apply the same test with
# it, so both plans keep the same candidates
_BBOX_EPS = 1e-9


class _HashProbe:
    """(query index, position in `keys`) of every match of the queries in
    a sorted key array: a hash lookup (pandas Index.get_indexer) of each
    query among the distinct keys, then the ragged expand of the key's
    run of positions.  Pairs come by query, then position."""

    def __init__(self, keys):
        uniq, self.first, self.cnt = np.unique(keys, return_index=True,
                                               return_counts=True)
        self.index = pd.Index(uniq)

    def __call__(self, q):
        u = self.index.get_indexer(q)
        qi = np.flatnonzero(u >= 0)
        rep, pos = sphere.ragged_rows(self.first[u[qi]], self.cnt[u[qi]])
        return qi[rep], pos


def _mix(cells):
    """cell_join_key in NumPy: x ^ (x >>> 31) on the int64 bit pattern."""
    u = np.asarray(cells).view(np.uint64)
    return (u ^ (u >> np.uint64(31))).view(np.int64)


# the prepared state table's internal columns; the rest is region payload
_STATE_COLS = ("_ck", "_full", "_state", "_xmin", "_ymin", "_xmax", "_ymax")


def _payload_type(schema) -> T.StructType:
    """The region payload of a prepared state table's schema: what the
    broadcast plan emits per matched (point, region) pair."""
    return T.StructType([f for f in schema
                         if f.name not in _STATE_COLS and f.name != "_cell"])


class _ProbeTable:
    """A broadcastable state table held in-process — the engine analog of
    probing the reference's in-memory S2ShapeIndex: rows sorted by the
    mixed cell key, with the interior flags, the bbox arrays, and the
    state blobs and region payload as Arrow arrays (no Python object per
    row), so each task of the broadcast plan joins its batch with one
    hash probe (partition-local, the small side replicated; the probe's
    index is built once per worker and kept on the broadcast value)."""

    def __init__(self, tbl, payload: T.StructType):
        from pyspark.sql.pandas.types import to_arrow_type
        ck = tbl.column("_ck").to_numpy()
        order = np.argsort(ck, kind="stable")
        take = pa.array(order)
        self.ck = ck[order]
        self._probe = None
        self.full = tbl.column("_full").to_numpy()[order]
        self.state = tbl.column("_state").take(take).combine_chunks()
        # NaN for a region without a bbox, which _join_cond passes
        self.bbox = np.stack([
            np.asarray(tbl.column(c).to_numpy(), dtype=np.float64)[order]
            for c in ("_xmin", "_ymin", "_xmax", "_ymax")])
        # list<struct> of the payload, exactly the Arrow type Spark expects
        # back from spatial_join's probe UDF
        self.type = to_arrow_type(T.ArrayType(payload, containsNull=False))
        fields = list(self.type.value_type)
        self.payload = pa.StructArray.from_arrays(
            [tbl.column(f.name).take(take).combine_chunks().cast(f.type)
             for f in fields], fields=fields)

    def pairs(self, pi, keys, lng=None, lat=None, leaf=None):
        """(point index, table row) of every joined pair: probe point
        pi[i]'s mixed cell key keys[i], keep what passes _join_cond's bbox
        prefilter (lng/lat in degrees), and refine the boundary-cell
        candidates with _parity_refine_impl.  With `leaf` (coords='leaf')
        there is no bbox test and the refine uses the leaf-cell centres,
        as parity_refine_leaf_udf does."""
        if self._probe is None:  # once per broadcast value, per worker
            self._probe = _HashProbe(self.ck)
        qi, pos = self._probe(keys)
        pi = pi[qi]
        if leaf is None:
            x, y = lng[pi], lat[pi]
            xmin, ymin, xmax, ymax = self.bbox[:, pos]
            lo_x, hi_x = xmin - _BBOX_EPS, xmax + _BBOX_EPS
            lat_ok = (y >= ymin - _BBOX_EPS) & (y <= ymax + _BBOX_EPS)
            lng_in = np.where(xmin <= xmax, (x >= lo_x) & (x <= hi_x),
                              (x >= lo_x) | (x <= hi_x))
            ok = np.isnan(xmin) | (lat_ok & lng_in)
            pi, pos = pi[ok], pos[ok]
        bnd = np.flatnonzero(~self.full[pos])
        if len(bnd):
            pb = pi[bnd]
            x, y = (lng[pb], lat[pb]) if leaf is None else \
                C.to_lnglat(leaf[pb])
            hit = _parity_refine_impl(self.state.take(pos[bnd]).to_pandas(),
                                      pd.Series(x), pd.Series(y))
            keep = np.ones(len(pi), dtype=bool)
            keep[bnd] = hit.eq(True).to_numpy()
            pi, pos = pi[keep], pos[keep]
        return pi, pos

    def matches(self, n: int, pi, pos):
        """Each of n points' matched payload rows, as one list<struct>
        array: the pairs (pi[i], pos[i]) grouped by point.  A point
        without a match gets a null list, which the JVM reads without
        materializing an empty array."""
        cnt = np.bincount(pi, minlength=n)
        off = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(cnt, out=off[1:])
        rows = pos[np.argsort(pi, kind="stable")]
        return pa.ListArray.from_arrays(pa.array(off),
                                        self.payload.take(rows),
                                        type=self.type,
                                        mask=pa.array(cnt == 0))


def _capped_batches(rows_cap: int, bytes_cap: int):
    """mapInArrow body of _guarded_collect: the partition's rows with a
    null `_over` column, or one marker row (`_over` true, every other
    column null) once the partition passes `rows_cap` rows or `bytes_cap`
    Arrow bytes.  Only the marker column tells the marker from a data row:
    a dim may hold a row of nulls."""
    def run(batches):
        out, n_rows, n_bytes = [], 0, 0
        for b in batches:
            out.append(b)
            n_rows += b.num_rows
            n_bytes += b.nbytes
            if n_rows > rows_cap or n_bytes > bytes_cap:
                yield pa.RecordBatch.from_arrays(
                    [pa.nulls(1, f.type) for f in b.schema]
                    + [pa.array([True])], names=b.schema.names + ["_over"])
                return
        for b in out:
            yield b.append_column("_over", pa.nulls(b.num_rows, pa.bool_()))
    return run


def _row_bytes(schema):
    """A row's Arrow bytes as a Column, estimated: the value bytes of
    string and binary columns plus 8 per other column."""
    var = [F.coalesce(F.octet_length(f.name), F.lit(0)) for f in schema
           if isinstance(f.dataType, (T.StringType, T.BinaryType))]
    return sum(var, F.lit(8 * (len(schema) - len(var))))


def _exact_guard(df: DataFrame, *stats):
    """The exact in-process guard: one aggregation of the row count `n`,
    the bytes `b` (estimated by _row_bytes) and the `stats` columns."""
    return df.agg(F.count("*").alias("n"),
                  F.sum(_row_bytes(df.schema)).alias("b"), *stats) \
        .collect()[0]


def _guarded_collect(df: DataFrame, *stats):
    """(table, row): `df` as one Arrow table within the in-process guard
    (MAX_BROADCAST_DIM_ROWS rows, MAX_BROADCAST_DIM_BYTES bytes), else
    None; and the exact guard's row when it ran, else None.  ONE Spark job
    in the common case: each partition ships its rows while within an
    even share of the guard.  Only when one passes its share does the
    exact guard (_exact_guard, with `stats`) decide, before an uncapped
    collect: a dim over the guard never reaches the driver, and one
    within it is collected whatever its skew."""
    parts = max(df.rdd.getNumPartitions(), 1)
    marked = T.StructType([T.StructField(f.name, f.dataType)
                           for f in df.schema]
                          + [T.StructField("_over", T.BooleanType())])
    tbl = df.mapInArrow(_capped_batches(MAX_BROADCAST_DIM_ROWS // parts,
                                        MAX_BROADCAST_DIM_BYTES // parts),
                        marked).toArrow()
    if tbl.column("_over").null_count == tbl.num_rows:
        return tbl.drop_columns(["_over"]), None
    st = _exact_guard(df, *stats)
    fits = (int(st.n or 0) <= MAX_BROADCAST_DIM_ROWS
            and int(st.b or 0) <= MAX_BROADCAST_DIM_BYTES)
    return (df.toArrow() if fits else None), st


class PreparedRegions:
    """Prepared dim side of the spatial join — the engine analog of the
    reference's ShapeIndexGeography 'prepared geometry' (geography.h:182-210),
    built once by prepare_regions and reused across any number of
    point-side joins.

    `exploded` has one row per (region, covering cell): the region's
    columns (minus geography and covering), the mixed cell key `_ck`, the
    interior flag `_full`, the packed subdivided state `_state` (null for
    interior cells) and the bbox prefilter columns `_xmin.._ymax`.
    `levels` lists the covering levels; `state_cells`/`state_bytes` size
    the state table (rows, and Arrow bytes with the region payload).
    `probe` is the broadcast _ProbeTable of a state table within the
    in-process guard, else None."""

    def __init__(self, region_id: str, exploded: DataFrame, levels,
                 state_cells: int, state_bytes: int, probe=None):
        self.region_id = region_id
        self.exploded = exploded
        self.levels = sorted(int(lev) for lev in levels)
        self.state_cells = state_cells
        self.state_bytes = state_bytes
        self.probe = probe

    @property
    def fits_broadcast(self) -> bool:
        """Whether spatial_join probes the state table in-task (a probe
        table was broadcast) rather than shuffling the boundary band."""
        return self.probe is not None


def prepare_regions(spark, regions: DataFrame, *, region_geog: str = "geog",
                    region_id: str = "region_id",
                    covering_col: str = "covering") -> PreparedRegions:
    """Prepare a dim of any size: subdivided_state_udf runs on the
    executors (every region of an Arrow batch in one ragged pass) and the
    exploded state table is pinned with a lazy localCheckpoint.  A state
    table within the in-process guard (MAX_BROADCAST_DIM_ROWS cells and
    MAX_BROADCAST_DIM_BYTES Arrow bytes, the region payload included:
    every Python worker of the broadcast plan holds a copy) is collected
    ONCE as Arrow by _guarded_collect and broadcast as the probe table;
    its size and covering levels are read from it.  That collect is the
    whole prepare: ONE Spark job, which also materializes the checkpoint
    blocks (every partition is cached whole before the capped collect
    reads it).  When a partition passes its share of the guard, the exact
    guard's aggregation also records the size and levels, which a table
    over the guard keeps.

    A dim without `covering_col` gets the adaptive s2_coveringcellids
    covering.  localCheckpoint blocks carry no CacheManager entry, so the
    ContextCleaner frees them with the DataFrame."""
    from ..functions.geo import s2_coveringcellids, st_boundingbox
    if covering_col not in regions.columns:
        regions = regions.withColumn(covering_col,
                                     s2_coveringcellids(region_geog))
    ex = (regions
          .withColumn("_bb", st_boundingbox(F.col(region_geog)))
          .withColumn("_sub", subdivided_state_udf(F.col(region_geog),
                                                   F.col(covering_col)))
          .select("*", F.posexplode(covering_col).alias("_pos", "_cell"))
          .withColumn("_st", F.col("_sub")[F.col("_pos")])
          .withColumn("_full", F.coalesce(F.col("_st.full"), F.lit(False)))
          .withColumn("_state", F.col("_st.state"))
          .drop(covering_col, region_geog, "_sub", "_st", "_pos")
          .withColumn("_ck", cell_join_key(F.col("_cell")))
          .withColumn("_xmin", F.col("_bb.xmin"))
          .withColumn("_ymin", F.col("_bb.ymin"))
          .withColumn("_xmax", F.col("_bb.xmax"))
          .withColumn("_ymax", F.col("_bb.ymax")).drop("_bb")
          .localCheckpoint(eager=False))
    tbl, st = _guarded_collect(
        ex, F.collect_set(cell_level(F.col("_cell"))).alias("lev"))
    probe = None
    if tbl is None:
        n, n_bytes, levels = int(st.n or 0), int(st.b or 0), st.lev
    else:
        n, n_bytes = tbl.num_rows, tbl.nbytes
        levels = np.unique(C.level(tbl.column("_cell").to_numpy()))
        probe = spark.sparkContext.broadcast(
            _ProbeTable(tbl, _payload_type(ex.schema)))
    return PreparedRegions(region_id, ex.drop("_cell"), levels, n, n_bytes,
                           probe)


# the name the benchmarks import
prepare_regions_subdivided = prepare_regions


def choose_salt(points: DataFrame, *, lng: str = "lng", lat: str = "lat",
                level: int = 6, sample_fraction: float = 0.01,
                target_ratio: float = 2.0, max_salt: int = 64) -> int:
    """Pick a salt factor for the shuffle join from a sampled per-cell
    histogram (SURVEY.md §7.3: web-scale geo-entities concentrate in few
    cells — cities — so the factor must come from the data, not a guess).

    salt = hottest-cell share relative to the mean cell load, clamped; 1
    means no salting needed.  One cheap sampled aggregation job."""
    sample = points.sample(fraction=sample_fraction, seed=42) if \
        sample_fraction < 1.0 else points
    hist = (sample
            .transform(lambda d: with_leaf_cell(d, lng, lat, "_leaf"))
            .withColumn("_cell", cell_parent(F.col("_leaf"), int(level)))
            .groupBy("_cell").count())
    stats = hist.agg(F.max("count").alias("mx"), F.avg("count").alias("avg")) \
        .collect()[0]
    if not stats.mx or not stats.avg:
        return 1
    skew = float(stats.mx) / max(float(stats.avg), 1.0)
    if skew <= target_ratio:
        return 1
    return int(min(max_salt, int(np.ceil(skew / target_ratio))))


def _join_cond(p: DataFrame, e: DataFrame, lng: str, lat: str, *,
               bbox: bool = True, salted: bool = False):
    """Join condition of fact side `p` against a slice `e` of the prepared
    state table: cell-key equality (`_ckp` = `_ck`), the region bbox
    prefilter (predicates.cc:174-186 analog), and the salt replica match
    when `salted`.  The bbox test is part of the JOIN CONDITION — a
    post-join .where() would be combined with the refine predicate and
    pulled ABOVE ArrowEvalPython by Catalyst's python-UDF extraction.
    _ProbeTable.pairs applies the same bbox test in NumPy on the
    broadcast plan; the two must stay in step (both use _BBOX_EPS), or
    the plans return different rows."""
    c = p["_ckp"] == e["_ck"]
    if bbox:
        eps = _BBOX_EPS
        lat_ok = (p[lat] >= e["_ymin"] - eps) & (p[lat] <= e["_ymax"] + eps)
        lng_in = F.when(
            e["_xmin"] <= e["_xmax"],
            (p[lng] >= e["_xmin"] - eps) & (p[lng] <= e["_xmax"] + eps)
        ).otherwise((p[lng] >= e["_xmin"] - eps)
                    | (p[lng] <= e["_xmax"] + eps))
        c = c & (e["_xmin"].isNull() | (lat_ok & lng_in))
    if salted:
        c = c & (p["_salt"] == e["_salt_r"])
    return c


def _int_col(batch, name: str):
    """A RecordBatch column as int64 NumPy (nulls as 0) and its validity."""
    col = batch.column(name)
    return (pc.fill_null(pc.cast(col, pa.int64()), 0).to_numpy(),
            col.is_valid().to_numpy(zero_copy_only=False))


def _probe_join(points: DataFrame, prep: PreparedRegions, *, lng: str,
                lat: str, level: Optional[int], leaf_col: Optional[str],
                key_col: Optional[str], leaf_mode: bool) -> DataFrame:
    """spatial_join's broadcast plan: ONE map-only Python pass over the
    points.  The scalar Arrow UDF `spatial_probe` keys each batch in NumPy
    (from the stored key_col, from leaf_col, or from lng/lat; the
    ancestors at every level in prep.levels when `level` is None), probes
    the broadcast _ProbeTable and returns each point's matched region
    payload as a list, which `inline` turns into the joined rows in the
    JVM.  Only the key, leaf and lng/lat columns cross into Python, so
    Catalyst still prunes the fact columns a query does not read.  Rows
    with a null key, leaf or coordinate match nothing."""
    from pyspark.sql.functions import arrow_udf
    bc = prep.probe
    levels = prep.levels if level is None else [int(level)]
    # the leaf is read to key the point (no key_col) or to refine it
    # (coords='leaf'); lng/lat for the bbox test and the refine otherwise
    cols = {"key": key_col,
            "leaf": leaf_col if leaf_mode or key_col is None else None,
            "x": None if leaf_mode else lng,
            "y": None if leaf_mode else lat}
    cols = {k: c for k, c in cols.items() if c is not None}

    def spatial_probe(s: pa.Array) -> pa.Array:
        t = bc.value
        b = pa.RecordBatch.from_struct_array(s)
        x = y = leaf = None
        ok = np.ones(len(b), dtype=bool)
        if not leaf_mode:
            x, y = _float_col(b, "x"), _float_col(b, "y")
        if "leaf" in cols:
            leaf, ok = _int_col(b, "leaf")
        if "key" in cols:
            keys, ok_key = _int_col(b, "key")
            pi = np.flatnonzero(ok & ok_key)
            keys = keys[pi]
        else:
            if leaf is None:
                ok = ~(np.isnan(x) | np.isnan(y))
                leaf = C.from_lnglat(np.nan_to_num(x), np.nan_to_num(y))
            idx = np.flatnonzero(ok)
            pi = np.tile(idx, len(levels))
            keys = np.concatenate(
                [_mix(C.parent(leaf[idx], lev)) for lev in levels]
                or [np.zeros(0, dtype=np.int64)])
        pi, pos = t.pairs(pi, keys, x, y, leaf if leaf_mode else None)
        return t.matches(len(b), pi, pos)

    probe = arrow_udf(spatial_probe,
                      T.ArrayType(_payload_type(prep.exploded.schema),
                                  containsNull=False))
    arg = F.struct(*[F.col(c).alias(k) for k, c in cols.items()])
    return points.select("*", F.inline(probe(arg)))


REFINE_MODES = ("auto", "subdivided")


def spatial_join(points: DataFrame, regions: DataFrame, *,
                 lng: str = "lng", lat: str = "lat",
                 region_geog: str = "geog",
                 region_id: str = "region_id",
                 covering_col: str = "covering",
                 predicate: str = "contains",
                 broadcast: bool = True,
                 salt: Optional[int] = None,
                 level: Optional[int] = None,
                 leaf_col: Optional[str] = None,
                 key_col: Optional[str] = None,
                 refine_mode: str = "auto",
                 coords: str = "lnglat",
                 prefilter: bool = True) -> DataFrame:
    """Join each point row to every region whose polygon satisfies
    `predicate` (contains/intersects) — the engine's flagship operator.
    For point facts the two predicates coincide: a point exactly on a
    region edge or vertex is kept by both.

    points: any DataFrame with lng/lat columns (degrees).
    regions: a :class:`PreparedRegions`, or a dim DataFrame with polygon
    WKB (+ optional covering array<long>), which is prepared here by
    prepare_regions.  Prepare once and pass the result to amortize the dim
    side across many joins.
    Returns points' columns + regions' columns (minus internals).

    One planner: when the prepared state table fits a broadcast and
    refine_mode is 'auto', the whole join is ONE map-only Arrow UDF over
    the points' key/leaf/lng/lat columns against the probe table
    prepare_regions broadcast (key, hash probe, bbox prefilter,
    parity refine of the boundary candidates, payload gather — see
    _probe_join), then `inline`: no exchange and no join job.
    Otherwise (refine_mode='subdivided', or an oversized
    state) the candidates split on the interior flag: interior-cell
    candidates are contained by construction and skip the refine, and
    only the boundary band rides the (salted) hash exchange into the
    parity refine.

    broadcast: has no effect; the plan follows from `fits_broadcast` and
    refine_mode alone.  Kept so existing callers keep working.

    level: when set, the dim covering must be at exactly this fixed S2
    level; each point then emits a SINGLE join key (its level-L ancestor)
    instead of one per covering level.  For 20M points x 11 adaptive levels
    that cuts probe volume 11x.  When None, adaptive multi-level coverings
    are joined by exploding the point's ancestors at each level present in
    the dim (max_cells=8 reference behavior).

    leaf_col: name of a pre-computed leaf-cell column on the points side
    (the 'embedded covering' ingest pattern, geography_interface.h:150-158);
    when None the leaf id is computed here (in NumPy on the broadcast
    plan, as a pure Column on the shuffle plan).

    key_col: name of a pre-computed fixed-level MIXED join-key column
    (cell_join_key(cell_parent(leaf, level)) materialized at ingest).  The
    join then uses that stored attribute directly, so a fact table BUCKETED
    by it joins with NO fact-side exchange on the shuffle plan too — the
    100 TB pattern: pay the bucketing shuffle once at ingest, run every
    subsequent join/rerun exchange-free on the fact side (only the small
    exploded dim shuffles to the bucket count).  Requires `level` to match
    the ingest level; mutually exclusive with salting (a bucketed fact
    cannot re-key — rely on AQE skew handling or finer buckets instead).

    coords='leaf': CELL-CENTER corpus (reference compact tagged encoding,
    encoding.py CELL_CENTER) — the fact side carries ONLY the 8 B leaf id
    in `leaf_col` and the refine reconstructs the exact cell center; the
    lng/lat columns are ignored and may be absent.  Requires leaf_col,
    also with key_col (the key only finds the candidates).

    prefilter (shuffle plan only): broadcast the boundary cells' DISTINCT
    key set (8 B/cell — broadcastable even when nothing else about the dim
    is) and left-semi filter the fact side BEFORE its exchange, so rows
    that cannot match a boundary cell never shuffle, while the interior
    slice joins map-only.  This is the manual form of Spark's semi-join
    runtime filter (off by default).  Set False only when the fact is
    known to be ~fully covered by the dim: both slices then hash-join the
    identical fact child and the fact shuffle materializes once.
    """
    if predicate not in ("contains", "intersects"):
        raise ValueError(
            f"predicate must be 'contains' or 'intersects': {predicate!r}")
    if refine_mode not in REFINE_MODES:
        raise ValueError(
            f"refine_mode must be one of {REFINE_MODES}: {refine_mode!r}")
    if coords not in ("lnglat", "leaf"):
        raise ValueError(f"coords must be 'lnglat' or 'leaf': {coords!r}")
    leaf_mode = coords == "leaf"
    if leaf_mode and leaf_col is None:
        raise ValueError("coords='leaf' requires leaf_col, with or without "
                         "key_col (the corpus has no lng/lat, and the "
                         "refine reads the leaf-cell centre from leaf_col)")
    if key_col is not None:
        if level is None:
            raise ValueError("key_col requires level (the ingest key level)")
        if salt:
            raise ValueError("key_col (bucketed fact) excludes salting")

    prep = regions if isinstance(regions, PreparedRegions) else \
        prepare_regions(points.sparkSession, regions,
                        region_geog=region_geog, region_id=region_id,
                        covering_col=covering_col)

    if prep.fits_broadcast and refine_mode == "auto":
        return _probe_join(points, prep, lng=lng, lat=lat, level=level,
                           leaf_col=leaf_col, key_col=key_col,
                           leaf_mode=leaf_mode)

    if key_col is not None:
        # use the STORED key attribute: Catalyst only recognizes a bucketed
        # scan's HashPartitioning when the join key IS that attribute (an
        # equivalent expression over `leaf` would not match)
        pts = points.withColumn("_ckp", F.col(key_col))
        if leaf_mode:
            pts = pts.withColumn("_leaf", F.col(leaf_col))
    else:
        if leaf_col is not None:
            pts = points.withColumn("_leaf", F.col(leaf_col))
        else:
            # pure-Column Hilbert encode (functions/cells.with_leaf_cell),
            # TRUNCATED at the join level when there is one: same codegen'd
            # chain, but only the lookup rounds the level-L ancestor needs
            # — the full chain's Catalyst planning cost (single-threaded
            # driver CPU linear in chain length x occurrences in the plan)
            # measured as the DOMINANT cost of the fixed-level join queries
            # at bench scale (r6).  `_leaf` then holds the LEVEL-L cell id;
            # no consumer dereferences it as a true leaf (coords='leaf'
            # requires leaf_col).
            pts = with_leaf_cell(points, lng, lat, "_leaf",
                                 level=None if level is None else int(level))
        if level is None:
            pts = pts.withColumn("_cell", F.explode(
                ancestors_at_levels(F.col("_leaf"), prep.levels)))
            cell = F.col("_cell")
        elif leaf_col is not None:
            cell = cell_parent(F.col("_leaf"), int(level))
        else:
            cell = F.col("_leaf")
        pts = pts.withColumn("_ckp", cell_join_key(cell)).drop("_cell")
    if not leaf_mode:
        pts = pts.drop("_leaf")

    ex = prep.exploded
    refine = parity_refine_leaf_udf(F.col("_state"), F.col("_leaf")) \
        if leaf_mode else \
        parity_refine_udf(F.col("_state"), F.col(lng), F.col(lat))
    drop_cols = ["_ckp", *_STATE_COLS] + (["_leaf"] if leaf_mode else [])

    def cond(e, p, salted=False):
        return _join_cond(p, e, lng, lat, bbox=not leaf_mode, salted=salted)

    # FULL/BOUNDARY dim split (round 5): candidates matched through a
    # provably-interior covering cell are contained by construction, so
    # they never ride the exchange or the Arrow hop (a pandas UDF is
    # evaluated on every row of its projection; F.when cannot
    # short-circuit it) — on the bench corpus they are ~2/3 of all
    # candidates.
    if prefilter and prep.state_cells > MAX_BROADCAST_INDEX_ROWS:
        # r5 ADVICE: the prefilter broadcasts ex_f — the full-cell slice
        # with ALL region payload columns — and the boundary key set; when
        # the exploded cell count overflows the index guard, take the
        # non-prefilter ReuseExchange form instead of OOMing the driver
        prefilter = False
    ex_f = ex.where(F.col("_full")).drop("_state")
    ex_b = ex.where(~F.col("_full"))
    if prefilter:
        # the interior (cell -> region) map has the same cardinality as the
        # semi-join key set — if one broadcasts, so does the other.  So the
        # interior mass joins MAP-ONLY and only the boundary band (fact
        # rows whose key is a non-full covering cell, picked out by a
        # broadcast left-semi) rides the salted exchange and the refine.
        cand_f = pts.join(F.broadcast(ex_f), cond(ex_f, pts), "inner")
        bkeys = ex_b.select(F.col("_ck").alias("_ckf")).distinct()
        ptsb = pts.join(F.broadcast(bkeys),
                        pts["_ckp"] == bkeys["_ckf"], "left_semi")
    else:
        cand_f = None
        ptsb = pts
    salted = bool(salt)
    if salted:
        nsalt = int(salt)
        salt_src = F.hash(F.col("_leaf")) if leaf_mode \
            else F.hash(F.col(lng), F.col(lat))
        ptsb = ptsb.withColumn("_salt", F.pmod(salt_src, F.lit(nsalt)))
        replicas = F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1)))
        ex_b = ex_b.withColumn("_salt_r", replicas)
        ex_f = ex_f.withColumn("_salt_r", replicas)
        drop_cols += ["_salt", "_salt_r"]
    # SHUFFLE_HASH on the small dim slices: without the hint the bbox
    # condition makes Catalyst pick SortMergeJoin, which SORTS the whole
    # fact side — the dominant cost at 10^8 rows
    cand_b = ptsb.join(ex_b.hint("SHUFFLE_HASH"), cond(ex_b, ptsb, salted),
                       "inner")
    refined_b = cand_b.where(F.coalesce(refine, F.lit(False)))
    if cand_f is None:
        cand_f = ptsb.join(ex_f.hint("SHUFFLE_HASH"),
                           cond(ex_f, ptsb, salted), "inner")
    return cand_f.drop(*drop_cols).unionByName(refined_b.drop(*drop_cols))


def spatial_count(points: DataFrame, regions, *,
                  lng: str = "lng", lat: str = "lat",
                  region_geog: str = "geog", region_id: str = "region_id",
                  covering_col: str = "covering",
                  level: int = 8, leaf_col: Optional[str] = None,
                  count_col: str = "n") -> DataFrame:
    """Per-region contains COUNT: spatial_join(points, regions,
    level=level).groupBy(region_id).count(), one row per matched region
    (`region_id`, `count_col`).  On a broadcastable state table the join
    is the map-only probe pass and the rollup's partial (map-side) count
    makes its one exchange carry at most a row per (map task, region).

    regions: a PreparedRegions, or a dim DataFrame (prepared here; pass a
    PreparedRegions to amortize across calls).  The covering must be at
    fixed `level`, since each point emits one key, its level-L ancestor;
    a raw dim without `covering_col` gets a fixed-level covering."""
    if isinstance(regions, PreparedRegions):
        prep = regions
    else:
        if covering_col not in regions.columns:
            # the adaptive covering prepare_regions would attach has cells
            # at other levels, which never match (r5 ADVICE)
            regions = regions.withColumn(
                covering_col,
                fixed_level_covering_udf(int(level))(F.col(region_geog)))
        prep = prepare_regions(
            points.sparkSession, regions, region_geog=region_geog,
            region_id=region_id, covering_col=covering_col)
    if prep.levels and prep.levels != [int(level)]:
        raise ValueError(
            f"spatial_count(level={level}) requires a fixed-level-{level} "
            f"covering on the dim side, but the prepared covering uses "
            f"levels {prep.levels}: cells at other levels would silently "
            "never match a point's single level-ancestor key "
            "(undercounted or empty results)")
    return (spatial_join(points, prep, lng=lng, lat=lat, level=int(level),
                         leaf_col=leaf_col)
            .groupBy(prep.region_id).agg(F.count("*").alias(count_col)))


# ---------------------------------------------------------------------------
# subdivided-cell refine state (the reference's S2ShapeIndex SUBDIVIDED
# cells, index.h:52-91 / S2ContainsPointQuery design): per covering cell,
# store (a) whether the cell is FULLY interior, (b) a reference point in
# the cell with its known containment status, and (c) ONLY the ring edges
# that intersect the cell.  A candidate point P in the cell is then
# contained iff ref_status XOR parity(crossings of arc(ref, P) with the
# cell's edge subset): the arc stays inside the (spherically convex) cell,
# so edges outside the cell can never cross it.  Per-candidate refine cost
# drops from O(total region edges) + ~1 KB WKB over Arrow to
# O(edges-in-cell) + ~48 B/edge — the shuffle path's bandwidth lever.
# ---------------------------------------------------------------------------

# per-cell state travels as ONE compact binary blob, not per-row arrays:
# Arrow list columns materialize a Python list per row inside the pandas
# UDF (measured 14x slower than shipping region WKB at 20M candidates),
# while a binary column pd.factorize()s at C speed, and each unique is
# ~150 B of edges instead of ~1 KB of polygon.
# Blob layout (little-endian): u8 rin | 3 x f8 ref_xyz | k x 6 x f8 edges.
_SUBDIV_STATE_TYPE = T.ArrayType(T.StructType([
    T.StructField("full", T.BooleanType()),
    T.StructField("state", T.BinaryType()),
]))

# dilation for the edge-subset test (radians): edges touching the cell
# boundary within this distance are conservatively included, so contact
# configurations (ring vertex exactly on a cell edge) cannot be missed
_SUBDIV_TOUCH_EPS = 1e-9


def _subdivide_regions(cells, owner, rings):
    """The subdivided state of the covering cells of many regions in one
    ragged pass: cells[i] (uint64) is a covering cell of region owner[i],
    whose ring edges are the run of `rings` (a RaggedEdges) it owns.

    Returns (full, rin, ref, sub_cell, sub_edge): per cell the interior
    flag, the reference point (n, 3) (the cell centre; NaN for a region
    without rings) and whether it is inside; and the edge subset as
    (cell, ring edge) index pairs sorted by cell, then edge.  A cell's
    subset is every ring edge that crosses or comes within
    _SUBDIV_TOUCH_EPS of a cell edge, or has an endpoint in the cell;
    only the pairs RaggedEdges.near_cells keeps are tested."""
    n = len(cells)
    full = np.zeros(n, dtype=bool)
    rin = np.zeros(n, dtype=bool)
    ref = np.full((n, 3), np.nan)
    idx = np.flatnonzero(rings.cnt[owner] > 0)
    if not len(idx):
        return full, rin, ref, idx, idx
    cells, owner = cells[idx], owner[idx]
    quads = C.cell_vertices_xyz(cells)                   # (m, 4, 3)
    qb = quads[:, [1, 2, 3, 0]]
    lo, hi = C.range_min(cells), C.range_max(cells)
    ra, rb = rings.a, rings.b
    va = C.from_xyz(ra[:, 0], ra[:, 1], ra[:, 2])        # vertex leaf ids
    vb = C.from_xyz(rb[:, 0], rb[:, 1], rb[:, 2])
    sub_q, sub_e = [], []
    for qi, ei in rings.near_cells(owner, quads):
        # (pairs, 4) cell-edge x ring-edge interactions: a crossing, or
        # either endpoint of one within the dilation of the other
        A, B = quads[qi], qb[qi]
        Cc, D = ra[ei][:, None, :], rb[ei][:, None, :]
        dist_a = sphere.point_arc_distance(A, Cc, D)
        near = np.minimum(
            np.minimum(dist_a, dist_a[:, [1, 2, 3, 0]]),
            np.minimum(sphere.point_arc_distance(Cc, A, B),
                       sphere.point_arc_distance(D, A, B))) \
            <= _SUBDIV_TOUCH_EPS
        touches = (sphere.arcs_cross(A, B, Cc, D) | near).any(axis=1)
        endpoint_in = (((va[ei] >= lo[qi]) & (va[ei] <= hi[qi]))
                       | ((vb[ei] >= lo[qi]) & (vb[ei] <= hi[qi])))
        keep = touches | endpoint_in
        sub_q.append(qi[keep])
        sub_e.append(ei[keep])
    sub_q, sub_e = np.concatenate(sub_q), np.concatenate(sub_e)
    bnd = np.bincount(sub_q, minlength=len(cells)) > 0
    clean = np.flatnonzero(~bnd)
    # a cell no ring edge touches is interior iff its corners are
    # inside; any other such cell lies outside: rin False, no edges
    full[idx[clean]] = rings.contains(
        np.repeat(owner[clean], 4), quads[clean].reshape(-1, 3),
        "open").reshape(-1, 4).all(axis=1)
    centers = np.stack(C.to_xyz(cells), axis=-1)
    ref[idx] = centers
    # boundary cells: the centre is the parity origin, falling back to
    # the first of the 4 child centres clear of the subset's edges when
    # the centre sits within the dilation of one (rare: a short loop)
    b = np.flatnonzero(bnd)
    rin[idx[b]] = sphere.winding_number_ragged(
        centers[b], rings.lo[owner[b]], rings.cnt[owner[b]], ra, rb) > 0
    dmin = np.full(len(cells), np.inf)
    np.minimum.at(dmin, sub_q, sphere.point_arc_distance(
        centers[sub_q], ra[sub_e], rb[sub_e]))
    first = np.searchsorted(sub_q, np.arange(len(cells) + 1))
    for i in np.flatnonzero(dmin <= _SUBDIV_TOUCH_EPS):
        e = sub_e[first[i]:first[i + 1]]
        lo_i = rings.lo[owner[i]]
        r = slice(lo_i, lo_i + rings.cnt[owner[i]])
        for k in range(4):
            cr = np.stack(C.to_xyz(C.child(cells[i:i + 1], k)), axis=-1)[0]
            if sphere.point_arc_distance(cr[None, :], ra[e], rb[e]).min() \
                    > _SUBDIV_TOUCH_EPS:
                ref[idx[i]] = cr
                rin[idx[i]] = sphere.winding_number(
                    cr[None, :], ra[r], rb[r])[0] > 0
                break
    return full, rin, ref, idx[sub_q], sub_e


def _pack_state(rin: bool, ref, edges) -> bytes:
    """u8 rin | 3 x f8 ref | k x 6 x f8 edges (little-endian)."""
    head = np.empty(3, dtype="<f8")
    head[:] = ref
    body = np.ascontiguousarray(edges, dtype="<f8")
    return bytes([1 if rin else 0]) + head.tobytes() + body.tobytes()


@pandas_udf(_SUBDIV_STATE_TYPE)
def subdivided_state_udf(wkb: pd.Series, covering: pd.Series) -> pd.Series:
    """Dim-side prep: per region row, the subdivided-cell state array
    aligned with the covering array (see module comment above).  Every
    row of the batch is subdivided in one _subdivide_regions pass."""
    ok = [b is not None and c is not None for b, c in zip(wkb, covering)]
    rows = [(from_wkb(bytes(b)), np.asarray(c, dtype=np.int64))
            for b, c, o in zip(wkb, covering, ok) if o]
    rings = ops.RaggedEdges([g.ring_edges_xyz() for g, _ in rows])
    lens = [len(c) for _, c in rows]
    cells = np.concatenate([c for _, c in rows] + [np.zeros(0, np.int64)])
    full, rin, ref, sq, se = _subdivide_regions(
        cells.view(np.uint64), np.repeat(np.arange(len(rows)), lens), rings)
    edges = np.concatenate([rings.a[se], rings.b[se]], axis=1)
    first = np.searchsorted(sq, np.arange(len(cells) + 1))
    it = iter([{"full": True, "state": None} if full[i] else
               {"full": False, "state": _pack_state(
                   rin[i], ref[i], edges[first[i]:first[i + 1]])}
               for i in range(len(cells))])
    per_row = iter([list(itertools.islice(it, n)) for n in lens])
    return pd.Series([next(per_row) if o else None for o in ok], dtype=object)


def _parity_refine_impl(state: pd.Series, lng: pd.Series,
                        lat: pd.Series) -> pd.Series:
    """Candidate refine against subdivided-cell state blobs: contained iff
    the point lies on a subset edge (boundary => contained, matching the
    semi_open/closed join models) or ref_in XOR crossing-parity of the
    arc(ref, point) against the cell's edge subset.

    The blob column factorizes at C speed; each unique unpacks ONCE per
    batch via np.frombuffer, then a single ragged gather feeds one
    vectorized arcs_cross over every (candidate, edge) pair — no per-row
    Python anywhere."""
    n = len(state)
    lngv = lng.to_numpy(dtype=np.float64)
    latv = lat.to_numpy(dtype=np.float64)
    pxyz = np.stack(C.lnglat_to_xyz(np.nan_to_num(lngv),
                                    np.nan_to_num(latv)), axis=-1)
    codes, uniques = pd.factorize(state, use_na_sentinel=True)
    bad = (codes < 0) | np.isnan(lngv) | np.isnan(latv)
    n_u = len(uniques)
    if n_u == 0:  # all-null batch (every candidate via an interior cell)
        out = pd.Series(np.zeros(n, dtype=object))
        out[:] = None
        return out
    rin_u = np.zeros(n_u, dtype=bool)
    ref_u = np.zeros((n_u, 3), dtype=np.float64)
    k_u = np.zeros(n_u, dtype=np.int64)
    parts = []
    for u, blob in enumerate(uniques):
        b = bytes(blob)
        rin_u[u] = b[0] == 1
        ref_u[u] = np.frombuffer(b, dtype="<f8", count=3, offset=1)
        e = np.frombuffer(b, dtype="<f8", offset=25).reshape(-1, 6)
        k_u[u] = len(e)
        parts.append(e)
    safe = np.where(codes < 0, 0, codes)
    result = rin_u[safe] & ~bad
    if parts and k_u.sum():
        eflat = np.concatenate(parts)                    # (K, 6)
        starts = np.concatenate([[0], np.cumsum(k_u)[:-1]])
        k_row = k_u[safe]
        total = int(k_row.sum())
        if total:
            row_idx = np.repeat(np.arange(n), k_row)
            # ragged gather: edge j of row i = starts[code] + local offset
            local = np.arange(total) - np.repeat(
                np.cumsum(k_row) - k_row, k_row)
            eidx = np.repeat(starts[safe], k_row) + local
            A = eflat[eidx, :3]
            B = eflat[eidx, 3:]
            R = ref_u[safe][row_idx]
            P = pxyz[row_idx]
            cr = sphere.arcs_cross(R, P, A, B)
            par = np.bincount(row_idx, weights=cr,
                              minlength=n).astype(np.int64)
            # a point AT a ring vertex is on the boundary, but the
            # perpendicular-distance rounding error grows as 1/edge length
            # and can exceed the 1e-15 tolerance there: test the vertex
            # exactly (point and ring share the lng/lat -> xyz conversion)
            onb = (sphere.point_arc_distance(P, A, B) <= 1e-15) \
                | (P == A).all(axis=1) | (P == B).all(axis=1)
            onb_row = np.bincount(row_idx, weights=onb, minlength=n) > 0
            has_edges = k_row > 0
            upd = onb_row | (result ^ (par % 2 == 1))
            result = np.where(has_edges & ~bad, upd, result)
    out = pd.Series(result.astype(object))
    out[bad] = None
    return out


@pandas_udf(T.BooleanType())
def parity_refine_udf(state: pd.Series, lng: pd.Series,
                      lat: pd.Series) -> pd.Series:
    """See _parity_refine_impl."""
    return _parity_refine_impl(state, lng, lat)


@pandas_udf(T.BooleanType())
def parity_refine_leaf_udf(state: pd.Series, leaf: pd.Series) -> pd.Series:
    """parity_refine_udf for a CELL-CENTER corpus: the fact side carries
    ONLY the leaf cell id (the reference's compact tagged encoding
    quantizes points to cell centers at level >= 23, encoding.py
    CELL_CENTER), so the refine reconstructs the point as the exact cell
    center — 8 B/row through the exchange instead of 24 B of
    lng/lat + key.  Same parity math, same blob factorization."""
    # leaf ids must NEVER transit float64: a 63-bit id rounds to the
    # nearest multiple of ~2^10 under a 53-bit mantissa (~1 m of position
    # error — enough to flip near-boundary containment).  Arrow delivers
    # int64 for null-free batches; a batch containing nulls arrives as
    # float64, which we reject rather than silently mis-locate.
    if np.issubdtype(leaf.dtype, np.floating):
        raise ValueError(
            "leaf ids arrived as float (nullable bigint batch) — filter "
            "null leaf rows before a coords='leaf' join")
    bad_leaf = leaf.isna().to_numpy() if leaf.dtype == object \
        else np.zeros(len(leaf), dtype=bool)
    ids = leaf.to_numpy(dtype=np.int64).view(np.uint64) \
        if not bad_leaf.any() else np.array(
            [0 if b else int(v) for v, b in zip(leaf, bad_leaf)],
            dtype=np.int64).view(np.uint64)
    x, y, z = C.to_xyz(ids)
    lnglat = C.xyz_to_lnglat(x, y, z)
    lng = pd.Series(np.where(bad_leaf, np.nan, lnglat[0]))
    lat = pd.Series(np.where(bad_leaf, np.nan, lnglat[1]))
    return _parity_refine_impl(state, lng, lat)


def fixed_level_covering_udf(level: int):
    """WKB geography -> array<long> covering with every cell at EXACTLY
    `level` (the single-key join form: both sides of a pair join emit
    level-L cells, so one hash equi-join on the cell id finds every
    covering overlap).

    Covers the whole Arrow batch in one fixed_level_coverings pass, which
    guarantees the exact-level invariant by construction — the adaptive
    coverer's point fast path returned leaf cells and silently dropped
    point-vs-polygon candidate pairs (round-3 ADVICE).  A level outside
    0..30 fails the task with the coverer's ValueError."""
    @pandas_udf(T.ArrayType(T.LongType()))
    def udf(wkb: pd.Series) -> pd.Series:
        return pd.Series(ops.fixed_level_coverings(
            [None if b is None else from_wkb(bytes(b)) for b in wkb], level),
            dtype=object)

    return udf


def geog_pair_join(left: DataFrame, right: DataFrame, *,
                   left_id: str, right_id: str,
                   left_geog: str = "geog", right_geog: str = "geog",
                   level: int = 6,
                   left_covering: Optional[str] = None,
                   right_covering: Optional[str] = None) -> DataFrame:
    """Candidate geography pairs from two tables whose fixed-level-L
    coverings share a cell — the geography-x-geography analog of the
    point-in-polygon cover join (GeographyIndex::Query for both sides,
    geography_index.h:33-40): explode both coverings, hash equi-join on the
    mixed cell key, dedupe pairs.  NEVER a nested-loop/cartesian plan: the
    shuffle is keyed on level-L cells, candidate volume is bounded by true
    spatial overlap of the coverings, and both sides scale horizontally.

    Returns distinct (left_id, right_id) candidate pairs joined back to
    both geography columns for the caller's exact refine (st_intersects /
    st_intersection area / ...).  Coverings are supersets of their
    geographies, so no true-intersecting pair is missed."""
    lcov = F.col(left_covering) if left_covering else \
        fixed_level_covering_udf(level)(F.col(left_geog))
    rcov = F.col(right_covering) if right_covering else \
        fixed_level_covering_udf(level)(F.col(right_geog))
    lx = (left.select(F.col(left_id), lcov.alias("_cov"))
          .select(left_id, F.explode("_cov").alias("_cell"))
          .withColumn("_ck", cell_join_key(F.col("_cell"))).drop("_cell"))
    rx = (right.select(F.col(right_id), rcov.alias("_cov"))
          .select(right_id, F.explode("_cov").alias("_cell"))
          .withColumn("_ck", cell_join_key(F.col("_cell"))).drop("_cell"))
    pairs = (lx.join(rx, "_ck").drop("_ck")
             .dropDuplicates([left_id, right_id]))
    return (pairs
            .join(left.select(F.col(left_id), F.col(left_geog)), left_id)
            .join(right.select(F.col(right_id), F.col(right_geog)), right_id))


# ---------------------------------------------------------------------------
# distance joins: dwithin and kNN
# ---------------------------------------------------------------------------

class _DistanceDim:
    """The distance kernel of dwithin_join, knn_join_covering and knn_join
    over an Arrow table of the dim: its payload columns, the WKB column and
    the base covering `_cov`.  A dim within the guard is collected in ONE
    job and shipped to the executors as one broadcast, so the point side
    runs as a single map-only pass (partition-local kNN with the small
    side replicated); over the guard _CellDim builds one per cell from the
    cell's regions.  The decoded geographies and the per-radius probe
    tables are built lazily and cached on the instance, which for the
    broadcast a reused Python worker keeps across tasks."""

    def __init__(self, tbl, region_id: str, region_geog: str):
        self.cols = {n: tbl.column(n).combine_chunks()
                     for n in tbl.column_names}
        # position in region_id ascending order, nulls first (Spark's asc)
        order = pc.array_sort_indices(self.cols[region_id],
                                      null_placement="at_start").to_numpy()
        self.rid_rank = np.empty(len(order), dtype=np.int64)
        self.rid_rank[order] = np.arange(len(order))
        self.wkb = self.cols[region_geog].to_pylist()
        cov = self.cols["_cov"]
        self.owner = pc.list_parent_indices(cov).to_numpy()
        self.cells = pc.list_flatten(cov).to_numpy()
        self.base_min = int(C.level(self.cells).min()) if len(self.cells) \
            else None
        self._geogs = {}
        self._probes = {}

    def take(self, names, ri):
        """Columns `names` of regions ri; a null index takes a null row."""
        return [self.cols[n].take(ri) for n in names]

    def _probe(self, radius_m: float):
        """(level, hash probe of the sorted cells, owning regions): every
        region's buffered covering at radius_m (s2_covering_buffered
        analog — a superset of 'everything within radius'), expanded in
        one vectorized pass and re-parented to the common level
        min(base min, level(radius))."""
        t = self._probes.get(radius_m)
        if t is None:
            lev = min(self.base_min, ops.buffered_covering_level(radius_m))
            o, c = ops.buffered_covering_pairs(self.owner, self.cells,
                                               radius_m)
            c, o = ops.unique_pairs(C.parent(c, lev), o)
            t = self._probes[radius_m] = (lev, _HashProbe(c), o)
        return t

    def candidates(self, leaf, radius_m: float):
        """(point index, region index) for every region whose buffered
        covering at radius_m holds the point's cell: one hash probe of
        the cell table."""
        lev, probe, owner = self._probe(radius_m)
        pi, pos = probe(C.parent(leaf, lev))
        return pi, owner[pos]

    def distances(self, xyz, ri):
        """Meters from xyz[i] to region ri[i]; NaN for a null or EMPTY
        geography (st_distance's null)."""
        from ..core.ops import dist_to_points_rad
        d = np.full(len(ri), np.nan)
        order = np.argsort(ri, kind="stable")
        for idx in np.split(order, np.flatnonzero(np.diff(ri[order])) + 1):
            if not len(idx) or self.wkb[ri[idx[0]]] is None:
                continue
            r = ri[idx[0]]
            g = self._geogs.get(r)
            if g is None:
                g = self._geogs[r] = from_wkb(self.wkb[r])
            d[idx] = dist_to_points_rad(g, xyz[idx])
        d[~np.isfinite(d)] = np.nan
        return d * sphere.EARTH_RADIUS_METERS

    def within(self, lng, lat, radius_m: float):
        """(point index, region index, meters) of every pair within
        radius_m; null coordinates match nothing."""
        idx = np.flatnonzero(~(np.isnan(lng) | np.isnan(lat)))
        if self.base_min is None:       # no covering cells: nothing to probe
            e = np.zeros(0, dtype=np.int64)
            return e, e, np.zeros(0)
        pi, ri = self.candidates(C.from_lnglat(lng[idx], lat[idx]), radius_m)
        pi = idx[pi]
        d = self.distances(np.stack(C.lnglat_to_xyz(lng[pi], lat[pi]),
                                    axis=-1), ri)
        keep = d <= radius_m
        return pi[keep], ri[keep], d[keep]

    def _ranked(self, pi, ri, d):
        """Drop null distances, order each point's pairs by (distance,
        region_id) and number them from 1."""
        ok = ~np.isnan(d)
        pi, ri, d = pi[ok], ri[ok], d[ok]
        o = np.lexsort((self.rid_rank[ri], d, pi))
        pi, ri, d = pi[o], ri[o], d[o]
        first = np.flatnonzero(np.r_[True, pi[1:] != pi[:-1]])
        rank = np.arange(1, len(pi) + 1) \
            - np.repeat(first, np.diff(np.r_[first, len(pi)]))
        return pi, ri, d, rank

    def knn(self, lng, lat, k: int, radius_m: float, rounds: int,
            dense: bool = True):
        """(point index, region index, meters, rank) of every point's k
        nearest regions: knn_join_covering's radius doubling, in-task.  A
        point is resolved once its k-th candidate is within the round's
        radius; the residue after `rounds` ranks every region densely, or
        (dense=False) comes back as one marker per point: region index
        -1, a NaN distance and rank 0."""
        remaining = np.flatnonzero(~(np.isnan(lng) | np.isnan(lat)))
        lng, lat = np.nan_to_num(lng), np.nan_to_num(lat)
        xyz = np.stack(C.lnglat_to_xyz(lng, lat), axis=-1)
        leaf = C.from_lnglat(lng, lat)
        parts = []
        for _ in range(rounds):
            if not len(remaining) or self.base_min is None:
                break
            pi, ri = self.candidates(leaf[remaining], radius_m)
            pi = remaining[pi]
            pi, ri, d, rank = self._ranked(pi, ri, self.distances(xyz[pi], ri))
            done = pi[(rank == k) & (d <= radius_m)]
            keep = np.isin(pi, done) & (rank <= k)
            parts.append((pi[keep], ri[keep], d[keep], rank[keep]))
            remaining = np.setdiff1d(remaining, done)
            radius_m *= 2.0
        if not dense:
            m = len(remaining)
            parts.append((remaining, np.full(m, -1), np.full(m, np.nan),
                          np.zeros(m, dtype=np.int64)))
            return tuple(np.concatenate(c) for c in zip(*parts))
        n = len(self.wkb)
        # the dense residue in chunks of ~1M pairs, so a dim near the guard
        # never materializes points x regions at once
        step = max(1, 1_000_000 // max(n, 1))
        for s in range(0, len(remaining), step):
            pts = remaining[s:s + step]
            pi, ri = np.repeat(pts, n), np.tile(np.arange(n), len(pts))
            pi, ri, d, rank = self._ranked(pi, ri, self.distances(xyz[pi], ri))
            keep = rank <= k
            parts.append((pi[keep], ri[keep], d[keep], rank[keep]))
        if not parts:
            e = np.zeros(0, dtype=np.int64)
            return e, e, np.zeros(0), e
        return tuple(np.concatenate(c) for c in zip(*parts))


def _float_col(batch, name: str):
    """A RecordBatch column as float64 NumPy, nulls as NaN."""
    return pc.cast(batch.column(name), pa.float64()) \
        .to_numpy(zero_copy_only=False)


class _CellDim:
    """The plan of a dim over the guard: the _DistanceDim kernel per
    cell.  The dim's rows (payload, geography, base covering) are pinned
    with a lazy localCheckpoint, materialized by the one job that reads
    their coarsest covering level.  A pass at a radius sends each region
    to the cells of its buffered covering (s2_covering_buffered analog — a
    superset of 'everything within radius') at the common level
    min(base min, level(radius)), and each point to its own cell there;
    a cogroup builds a _DistanceDim from each cell's regions and runs the
    map-only plan's per-batch body on the cell's points.  A point is in
    one cell, which holds every region within the radius of it, so a
    pass neither misses nor repeats a pair.  At radius pi*R every face
    cell holds every region."""

    def __init__(self, dim: DataFrame, region_id: str, region_geog: str):
        self.rows = dim.localCheckpoint(eager=False)
        # None: no region has a covering cell, so no cell holds a region
        self.base_min = self.rows.agg(F.min(F.array_min(
            F.transform("_cov", cell_level)))).first()[0]
        self.names = (region_id, region_geog)

    def join(self, points: DataFrame, lng: str, lat: str, radius_m: float,
             body, schema) -> DataFrame:
        from pyspark.sql.functions import arrow_udf
        lev = ops.buffered_covering_level(radius_m)
        if self.base_min is not None:
            lev = min(lev, int(self.base_min))
        names = self.names              # the UDFs must not pickle self

        def cell_keys(cov: pa.Array) -> pa.Array:
            o, c = ops.buffered_covering_pairs(
                pc.list_parent_indices(cov).to_numpy(),
                pc.list_flatten(cov).to_numpy(), radius_m)
            o, c = ops.unique_pairs(o, C.parent(c, lev))
            off = np.searchsorted(o, np.arange(len(cov) + 1))
            return pa.ListArray.from_arrays(pa.array(off, pa.int32()),
                                            pa.array(_mix(c)),
                                            mask=cov.is_null())

        def cell(pts: pa.Table, regs: pa.Table) -> pa.Table:
            pts = pts.drop_columns(["_ck"])
            b = pa.RecordBatch.from_arrays(
                [c.combine_chunks() for c in pts.columns], schema=pts.schema)
            return pa.Table.from_batches([body(_DistanceDim(regs, *names), b)])

        keys = arrow_udf(cell_keys, T.ArrayType(T.LongType()))
        regions = self.rows.select("*", F.explode(keys("_cov")).alias("_ck"))
        keyed = (with_leaf_cell(points, lng, lat, "_ck", level=lev)
                 .withColumn("_ck", cell_join_key(F.col("_ck")))
                 .where(F.col("_ck").isNotNull()))
        return keyed.groupBy("_ck").cogroup(regions.groupBy("_ck")) \
            .applyInArrow(cell, schema)


def _distance_dim(regions: DataFrame, payload, region_id: str,
                  region_geog: str):
    """The dim's `payload` columns, geography and base covering `_cov`,
    read by _guarded_collect (the capped collect prepare_regions runs).
    Within the in-process guard: a broadcast _DistanceDim, which the
    caller probes in ONE map-only pass over the points (two Spark jobs in
    all, with the caller's action).  Over it: a _CellDim, the same kernel
    per cell.  A cell runs in one task, so AQE's skew-join split does not
    apply to a hot cell there (no salting)."""
    from ..functions.geo import s2_coveringcellids
    dim = regions.select(*dict.fromkeys([*payload, region_geog]),
                         s2_coveringcellids(F.col(region_geog)).alias("_cov"))
    tbl, _ = _guarded_collect(dim)
    if tbl is None:
        return _CellDim(dim, region_id, region_geog)
    return regions.sparkSession.sparkContext.broadcast(
        _DistanceDim(tbl, region_id, region_geog))


def dwithin_join(points: DataFrame, regions: DataFrame, radius_m: float, *,
                 lng: str = "lng", lat: str = "lat",
                 region_geog: str = "geog", region_id: str = "region_id",
                 distance_col: Optional[str] = None) -> DataFrame:
    """Join each point to every region within `radius_m` meters — the
    st_dwithin JOIN operator.  Returns region_id, the points' columns and
    (when `distance_col` is set) the distance in meters.

    One kernel for every dim size (_DistanceDim.within): a hash probe of
    each point's cell against every region's buffered covering at the
    radius, then the exact vectorized distance.  Coverings are supersets,
    so candidates are never missed; refine-only false positives are
    dropped.  The dim's size picks where it runs (_distance_dim): in one
    map-only pass, or per cell in one cogroup pass."""
    radius = float(radius_m)
    fields = [regions.schema[region_id]] + points.schema.fields
    if distance_col is not None:
        fields.append(T.StructField(distance_col, T.DoubleType()))
    schema = T.StructType([T.StructField(f.name, f.dataType)
                           for f in fields])

    def body(dim, b):
        pi, ri, d = dim.within(_float_col(b, lng), _float_col(b, lat), radius)
        cols = dim.take([region_id], ri) + b.take(pi).columns
        if distance_col is not None:
            cols.append(pa.array(d))
        return pa.RecordBatch.from_arrays(cols, names=schema.names)

    dim = _distance_dim(regions, [region_id], region_id, region_geog)
    if isinstance(dim, _CellDim):
        return dim.join(points, lng, lat, radius, body, schema)
    return points.mapInArrow(lambda bs: (body(dim.value, b) for b in bs),
                             schema)


def _knn(points: DataFrame, regions: DataFrame, k: int, payload, fields, *,
         lng: str, lat: str, region_geog: str, region_id: str,
         distance_col: str, init_radius_m: float = 250_000.0,
         max_rounds: Optional[int] = None) -> DataFrame:
    """The plan of knn_join_covering and knn_join: each row of `points`
    with the `payload` columns of its k nearest regions, as `fields`, then
    the distance and the rank (see knn_join_covering)."""
    ranks = [T.StructField(distance_col, T.DoubleType()),
             T.StructField("knn_rank", T.IntegerType(), False)]
    schema = T.StructType(fields + ranks)
    half_turn = np.pi * sphere.EARTH_RADIUS_METERS
    limit = max_rounds if max_rounds is not None else \
        int(np.ceil(np.log2(half_turn / max(float(init_radius_m), 1.0)))) + 2

    def body_at(radius: float, rounds: int, dense: bool = True):
        def body(dim, b):
            pi, ri, d, rank = dim.knn(_float_col(b, lng), _float_col(b, lat),
                                      k, radius, rounds, dense)
            ri = ri if dense else pa.array(ri, mask=ri < 0)
            return pa.RecordBatch.from_arrays(
                b.take(pi).columns + dim.take(payload, ri)
                + [pa.array(d), pa.array(rank.astype(np.int32))],
                names=schema.names)
        return body

    dim = _distance_dim(regions, payload, region_id, region_geog)
    if not isinstance(dim, _CellDim):
        body = body_at(float(init_radius_m), max(limit, 1))
        return points.mapInArrow(
            lambda bs: (body(dim.value, b) for b in bs), schema)
    # a round's rank-0 markers carry null payload columns
    marked = T.StructType([T.StructField(f.name, f.dataType)
                           for f in fields] + ranks)
    radius = float(init_radius_m)
    rounds = max(limit, 1) if dim.base_min is not None else 0
    parts, src = [], points
    while rounds and radius < half_turn:
        out = dim.join(src, lng, lat, radius, body_at(radius, 1, False),
                       marked).localCheckpoint(eager=True)
        parts.append(out.where(F.col("knn_rank") > 0))
        src = out.where(F.col("knn_rank") == 0).select(*points.columns)
        if src.isEmpty():
            break
        rounds -= 1
        radius *= 2.0
    else:
        parts.append(dim.join(src, lng, lat, half_turn,
                              body_at(half_turn, 1), schema))
    out = reduce(DataFrame.unionByName, parts)
    # ranked rows hold no null where `schema` has a non-null field
    return out if marked == schema else out.mapInArrow(lambda it: it, schema)


def knn_join_covering(points: DataFrame, regions: DataFrame, k: int, *,
                      point_id: str, lng: str = "lng", lat: str = "lat",
                      region_geog: str = "geog", region_id: str = "region_id",
                      init_radius_m: float = 250_000.0,
                      max_rounds: Optional[int] = None,
                      distance_col: str = "distance_m") -> DataFrame:
    """Scale-path kNN: buffered-covering candidate pruning with radius
    doubling (the distributed analog of S2ClosestEdgeQuery's chord-angle
    pruning, SURVEY.md §2.6).  Returns point_id, lng, lat, region_id,
    distance_col and knn_rank (1..k per input row, ties by region_id
    ascending; regions at a null distance — null or EMPTY geography — are
    never ranked).

    Round r: each region's buffered covering at radius r (a superset of
    'everything within r') yields the candidates; a point whose k-th
    nearest candidate is within r is resolved exactly (its true top-k
    are all within r); the rest retry at 2r.  max_rounds=None (default)
    doubles until the radius covers the sphere (ceil(log2(pi*R/init))
    rounds, ~7 from the 250 km default), at which point every point is
    PROVABLY resolved — the dense fallback only runs for an explicit low
    max_rounds cap (or a point with fewer than k rankable regions).

    One kernel for every dim size (_DistanceDim.knn); the dim's size
    picks where it runs (_distance_dim).  In the map-only pass each task
    runs the whole loop — probe, refine, rank and the dense fallback.
    Per cell, each round is one cogroup pass; an unresolved point comes
    back as a rank-0 marker row, and the markers, pinned with an eager
    localCheckpoint, are the next round's points (one isEmpty per round).
    The residue takes a last pass at radius pi*R, where every cell holds
    every region, so the dense fallback is exact and nothing is
    broadcast."""
    src = points.select(point_id, lng, lat)
    fields = [T.StructField(f.name, f.dataType)
              for f in [*src.schema, regions.schema[region_id]]]
    return _knn(src, regions, k, [region_id], fields, lng=lng, lat=lat,
                region_geog=region_geog, region_id=region_id,
                distance_col=distance_col, init_radius_m=init_radius_m,
                max_rounds=max_rounds)


def knn_join(points: DataFrame, regions: DataFrame, k: int, *,
             point_id: str, lng: str = "lng", lat: str = "lat",
             region_geog: str = "geog", region_id: str = "region_id",
             distance_col: str = "distance_m") -> DataFrame:
    """k nearest regions per point row with both sides' columns: the
    points' columns, the dim's columns, `distance_col` and knn_rank (1..k,
    exact distances, ties by `region_id`; a null distance is never
    ranked).  knn_join_covering's plan at its default radius doubling, so
    no cross join or window, and a dim over the guard is never broadcast.
    Each input row is ranked on its own: `point_id` is kept for existing
    callers, and rows sharing one are not ranked together (the former
    window ranked them as one point)."""
    return _knn(points, regions, k, regions.columns,
                points.schema.fields + regions.schema.fields, lng=lng,
                lat=lat, region_geog=region_geog, region_id=region_id,
                distance_col=distance_col)
