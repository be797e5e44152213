"""Deterministic synthetic web-page corpus + geo-entity extraction.

Input shape per BASELINE.json input_hint: a table of Common-Crawl-style
pages ``(url string, warc_ts timestamp, html binary, text string,
lang string)``.  Everything is generated with pure Spark Column arithmetic
(no RNG, no Python row loops), so the same (sf, id) always produces the
same bytes — the per-url byte-identical ``text`` invariant is testable and
regeneration is free at any scale.

Geo entities: a fixed ~240-city gazetteer; page ``id`` deterministically
selects 0-5 mentions "City<k>" whose coordinates come from arithmetic on k.
Extraction = regexp scan + broadcast gazetteer join (the engine analog of
NER + gazetteer resolution), all JVM-side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import arrow_df

GAZETTEER_SIZE = 240
LANGS = ["en", "de", "fr", "es", "pt"]


def gazetteer_lnglat(k: np.ndarray):
    """City k -> (lng, lat). Pure integer arithmetic (reproducible in any
    engine): lng in [-179.75, 179.75], lat in [-79.75, 79.75] on a 0.25 grid
    offset so points never sit on integer-degree region edges."""
    k = np.asarray(k, dtype=np.int64)
    lng = ((k * 37) % 720) / 2.0 - 180.0 + 0.25
    lat = ((k * 23) % 320) / 2.0 - 80.0 + 0.25
    return lng.astype(np.float64), lat.astype(np.float64)


def gazetteer_df(spark: SparkSession) -> DataFrame:
    ks = np.arange(GAZETTEER_SIZE)
    lng, lat = gazetteer_lnglat(ks)
    rows = [(f"City{k}", int(k), float(x), float(y))
            for k, x, y in zip(ks, lng, lat)]
    return arrow_df(spark, rows,
                    "city string, city_k int, lng double, lat double")


def pages_df(spark: SparkSession, n_pages: int) -> DataFrame:
    """Generate the pages table: url, warc_ts, html, text, lang.

    text embeds (id % 6) mentions City{(id*31 + j*17) % 240}; html wraps the
    text in a fixed template so extract_text(html) == text byte-identically.
    """
    df = spark.range(n_pages).withColumnRenamed("id", "page_id")
    n_mentions = F.pmod(F.col("page_id"), F.lit(6))
    # whole-stage-codegen friendly: no higher-order functions (transform/
    # filter lambdas are interpreted and contend at high thread counts);
    # concat_ws skips null args, so when() without otherwise() drops slots
    mention_slots = [
        F.when(n_mentions > j, F.concat(
            F.lit("City"),
            F.pmod(F.col("page_id") * 31 + j * 17, F.lit(GAZETTEER_SIZE))
             .cast("int").cast("string")))
        for j in range(5)
    ]
    text = F.concat(
        F.lit("Report "), F.col("page_id").cast("string"),
        F.lit(": travel notes covering "),
        F.when(n_mentions == 0, F.lit("no places"))
         .otherwise(F.concat_ws(" and ", *mention_slots)),
        F.lit(". End of page "), F.col("page_id").cast("string"), F.lit("."),
    )
    return (
        df.withColumn("url", F.concat(F.lit("https://host"),
                                      F.pmod(F.col("page_id"), F.lit(997)).cast("string"),
                                      F.lit(".example/p/"),
                                      F.col("page_id").cast("string")))
        .withColumn("warc_ts", F.timestamp_seconds(F.lit(1767225600) + F.col("page_id")))
        .withColumn("text", text)
        .withColumn("html", F.encode(F.concat(F.lit("<html><body><p>"),
                                              F.col("text"),
                                              F.lit("</p></body></html>")), "UTF-8"))
        .withColumn("lang", F.element_at(F.array(*[F.lit(l) for l in LANGS]),
                                         (F.pmod(F.col("page_id"), F.lit(5)) + 1).cast("int")))
        .select("url", "warc_ts", "html", "text", "lang", "page_id")
    )


def extract_text(html_col):
    """Recover text from html bytes — byte-identical to the ``text`` column
    (the per-url invariant of BASELINE.json input_hint)."""
    s = F.decode(html_col, "UTF-8")
    return F.regexp_extract(s, r"<p>(.*)</p>", 1)


def extract_mentions(pages: DataFrame, gaz: DataFrame) -> DataFrame:
    """pages -> one row per geo-entity mention.

    Pure Spark plan: regexp_extract_all (JVM codegen) -> posexplode ->
    broadcast gazetteer join.  Output: url, warc_ts, mention_idx, city,
    lng, lat.  At 10^12 pages this is a map-only stage (no shuffle: the
    gazetteer join is broadcast)."""
    mentions = (
        pages
        .select("url", "warc_ts",
                F.posexplode(F.expr(r"regexp_extract_all(text, 'City(\\d+)', 1)"))
                 .alias("mention_idx", "city_k_str"))
        .withColumn("city_k", F.col("city_k_str").cast("int"))
        .drop("city_k_str")
    )
    # broadcast join keyed on the INT id: string-keyed broadcast hash joins
    # measurably contend across threads (10x slower per row); resolving the
    # id in the regexp capture keeps the hot probe on a long hash
    return mentions.join(F.broadcast(gaz.select("city_k", "city", "lng", "lat")),
                         "city_k", "inner") \
        .select("url", "warc_ts", "mention_idx", "city", "city_k", "lng", "lat")
