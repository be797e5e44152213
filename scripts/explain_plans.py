"""Physical-plan audit: captures .explain('formatted') for the engine's key
operators and writes PLANS.md with commentary on what to look for
(broadcasts, pushdown, codegen spans, shuffle placement).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    from pyspark.sql import functions as F
    from s2geography_spark.session import get_spark
    import __spark_entry__ as em

    spark = get_spark("plans", cpus=8)
    sections = []

    # 1. flagship spatial join (fixed-level broadcast path)
    from bench import materialize_mentions, run_join_bench  # noqa: F401
    from s2geography_spark.operators.spatial_join import prepare_regions, spatial_join
    from s2geography_spark.sources.regions import regions_df
    mpath = "/tmp/plans_mentions"
    materialize_mentions(spark, 50000, mpath)
    prep = prepare_regions(spark, regions_df(spark, 96, covering_level=6))
    mentions = spark.read.parquet(mpath)
    joined = spatial_join(mentions, prep, level=6, leaf_col="leaf")
    agg = joined.groupBy("region_id").agg(F.count("*").alias("n"))
    sections.append((
        "Flagship spatial join (in-task probe + parity refine + rollup)",
        """What to verify:
- ONE `ArrowEvalPython [spatial_probe(...)]` over the fact side and no
  join operator: each task keys its batch from `leaf`, probes the
  broadcast probe table (the prepared per-cell state table sorted by
  `_ck`) with searchsorted, applies the bbox prefilter and runs the
  parity refine on the boundary-cell candidates only; `Generate inline`
  turns each point's matched payload list into rows.  No
  `BroadcastExchange` and no `Exchange hashpartitioning(_ckp`: the fact
  side never shuffles for the join.
- `Scan parquet` ReadSchema lists only the fact columns the query reads
  (here `leaf`, `lng`, `lat`): the UDF receives only the columns it
  probes and refines with, so Catalyst prunes the rest.
- The polygon WKB appears nowhere in the plan: the probe table carries
  only the per-cell state (`_full`, `_state` blob, `_ck`, bbox) and the
  region payload.
- Exactly one `Exchange` in the whole query: the final rollup's
  hash aggregation (map-side partial_count first).""",
        plan_of(agg)))

    # 2. adaptive multi-level path with salting (shuffle join form)
    pts = em._customer_points(spark, SF_DIR)
    # refine_mode pinned to the shuffling form: this section documents the
    # forced-shuffle plan ('auto' would broadcast this dim's state table
    # and erase the exchange under audit)
    joined2 = spatial_join(pts, regions_df(spark, 96), broadcast=False,
                           salt=4, refine_mode="subdivided")
    sections.append((
        "Spatial join, shuffle path with salting (large-dim form)",
        """What to verify:
- `Generate explode` of point ancestor cells and of the salted dim —
  the salt replicates the SMALL side only.
- An inner `BroadcastHashJoin` against the interior (`_full`) slice of
  the prepared state table: those candidates are contained by
  construction, join map-only and never reach the refine.
- A `BroadcastHashJoin ... LeftSemi` BEFORE the fact-side Exchange: the
  boundary cells' distinct key set (8 B/cell) broadcasts and drops fact
  rows that can match no boundary cell, so they never shuffle (runtime
  semi-join prefilter; map-side, does not add an exchange).
- `ShuffledHashJoin` keyed on (_ck, _salt) for the boundary band: the hot-cell
  skew is split 4 ways; AQE skew-join covers residual imbalance.""",
        plan_of(joined2.select("c_custkey", "region_id"))))

    # 3. tiling: pure-Column bit math (no Python at all)
    from s2geography_spark.operators.tiles import assign_tiles
    tiled = assign_tiles(pts, s2_levels=(8,), mercator_zooms=(8,))
    sections.append((
        "Tile assignment (S2 parent + Web-Mercator)",
        """What to verify:
- ONE ArrowEvalPython (the leaf-cell UDF); every tile key derives from it
  with WholeStageCodegen bit/trig math — no per-zoom Python, no shuffle.""",
        plan_of(tiled)))

    # 4. text stats: pure codegen over parquet
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    stats = em.q_text_stats(spark, SF_DIR)
    sections.append((
        "Text stats (token/punct/digit counts)",
        """What to verify:
- Single `WholeStageCodegen` span over the parquet scan: regex + length
  arithmetic fused, zero Python, zero shuffle.
- ReadSchema: only doc_id + text (pruned).""",
        plan_of(stats)))

    # 5. MinHash LSH near-dup pairs
    pairs = em.q_minhash_lsh(spark, SF_DIR)
    sections.append((
        "MinHash LSH near-duplicate pairs",
        """What to verify:
- One ArrowEvalPython computes signatures; banding is JVM-side
  (xxhash64 + posexplode).
- The self-join keys on (band, band_hash): uniformly distributed by
  construction, so the shuffle has no skew; dropDuplicates adds the
  only other exchange.""",
        plan_of(pairs)))

    # 6. ANN exact top-k
    ann = em.q_ann_topk(spark, SF_DIR)
    sections.append((
        "Exact cosine top-k (brute force)",
        """What to verify:
- `BroadcastNestedLoopJoin` (query set broadcast) + codegen'd
  higher-order-function dot product — corpus side is map-only.
- One exchange for the per-query window (partitionBy q_id).""",
        plan_of(ann)))

    # 7. polygon -> raster tile coverage
    vt = em.q_vector_tiles_z6(spark, SF_DIR)
    sections.append((
        "Raster-tile <-> vector assignment (vector_tile_coverage, zoom 6)",
        """What to verify:
- Candidate stage fully inside `WholeStageCodegen`: floor/trig tile
  ranges from the ingest bbox columns, two `Generate explode` (x run,
  y run) — no Python, no shuffle before the refine.
- ONE ArrowEvalPython: the spherical s2_intersectsbox refine, AFTER the
  explode, so Python sees only real candidates.
- No Exchange anywhere: the operator is map-only and composes with a
  downstream per-tile rollup's single shuffle.""",
        plan_of(vt)))

    # 8. aggregate-pushdown contains count (spatial_count)
    sc = em.q_geo_pip_counts_agg(spark, SF_DIR)
    sections.append((
        "Aggregate-pushdown contains count (spatial_count)",
        """What to verify:
- It is the flagship join's plan plus the rollup: ONE
  `ArrowEvalPython [spatial_probe(...)]` over only the fact columns the
  join reads (lng, lat), probing the broadcast probe table in-task — no
  join operator, no broadcast exchange job, and the refine runs inside
  the same task on the boundary-cell candidates only.
- No left-SEMI join and no fact-side Exchange: the fact side is map-only.
- The ONLY `Exchange hashpartitioning` is the region rollup, after a
  map-side `partial_count`, so it carries at most one row per (map task,
  region), never one per point.""",
        plan_of(sc)))

    out = ["# PLANS — physical-plan audit of the key operators",
           "",
           "Regenerate with `python scripts/explain_plans.py`. Commentary",
           "first, the exact `.explain('formatted')` output after.", ""]
    for title, notes, plan in sections:
        out.append(f"## {title}\n")
        out.append(notes + "\n")
        out.append("```\n" + plan.strip() + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
