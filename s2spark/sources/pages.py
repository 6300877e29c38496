"""Deterministic Common-Crawl-style `pages` table synthesis + coordinate mining.

Schema follows BASELINE.json input_hint exactly:
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Generation is pure Column expressions over ``spark.range`` — no driver-side
data, no Python rows — so the same generator scales from 1e3 test rows to
bench sizes (1e7) and, on a real cluster, to arbitrary row counts with
perfect determinism (row i's content is a function of i alone).

Coordinate pools (FIXTURES.md §1):
  (a) ~45% uniform-ish sphere points (hash-derived),
  (b) ~25% points inside the polygon-fixture neighborhoods (NEAR/FAR),
  (c) ~10% a hot city cell (Paris) to exercise salting/skew,
  (d) ~20% no coordinates at all (the miner must drop them).

`mine_coordinates` is the one coordinate miner, for batch tables and
streams alike — JVM-side, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LANGS = ("en", "de", "fr", "ja", "pt")

# "lat, lng" decimal-degree pattern; simple enough for Java AND RE2 dialects
COORD_REGEX = r"(-?\d+\.\d{4}), (-?\d+\.\d{4})"


def synthesize_pages(spark: SparkSession, n_rows: int) -> DataFrame:
    """Deterministic pages table of n_rows; content derives from the row id."""
    # use every core: sha2 + regex per row are CPU-bound
    parts = max(2 * spark.sparkContext.defaultParallelism, n_rows // 250_000)
    df = spark.range(0, n_rows, 1, parts)
    i = F.col("id")
    # deterministic pseudo-random doubles in [0,1): integer LCG-ish mixers
    h1 = F.pmod(i * 2654435761 + 1013904223, F.lit(2 ** 31)).cast("double") / 2 ** 31
    h2 = F.pmod(i * 1597334677 + 7, F.lit(2 ** 31)).cast("double") / 2 ** 31
    bucket = F.pmod(i * 2246822519 + 3, F.lit(100))

    # pool (a): quasi-uniform sphere (lat via asin for area uniformity)
    lat_a = F.degrees(F.asin(h1 * 2 - 1))
    lng_a = h2 * 360.0 - 180.0
    # pool (b): inside the NEAR fixture neighborhood (lat,lng in [-4, 4])
    lat_b = h1 * 8.0 - 4.0
    lng_b = h2 * 8.0 - 4.0
    # pool (c): hot cell — Paris + ~0.04 deg jitter (a few level-13 cells)
    lat_c = F.lit(48.8566) + (h1 - 0.5) * 0.08
    lng_c = F.lit(2.3522) + (h2 - 0.5) * 0.08
    has_geo = bucket < 80
    lat = F.when(bucket < 45, lat_a).when(bucket < 70, lat_b).otherwise(lat_c)
    lng = F.when(bucket < 45, lng_a).when(bucket < 70, lng_b).otherwise(lng_c)

    geo_txt = F.concat(F.lit(" located at "),
                       F.format_number(lat, 4), F.lit(", "),
                       F.format_number(lng, 4), F.lit(" "))
    # format_number inserts thousands separators for |v| >= 1000 — lat/lng
    # never reach 1000 so the plain decimal form is stable.
    text = F.concat(
        F.lit("page "), i.cast("string"), F.lit(" of host h"),
        F.pmod(i, F.lit(1000)).cast("string"),
        F.when(has_geo, geo_txt).otherwise(F.lit(" no geodata here ")),
        F.lit("lorem body "), F.sha2(i.cast("string"), 256))

    return df.select(
        F.concat(F.lit("https://host"), F.pmod(i, F.lit(1000)).cast("string"),
                 F.lit(".example/page/"), i.cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + i).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")),
                 "UTF-8").alias("html"),
        text.alias("text"),
        F.element_at(F.lit(list(LANGS)), (F.pmod(i, F.lit(len(LANGS))) + 1).cast("int")).alias("lang"),
    )


def mine_coordinates(pages: DataFrame) -> DataFrame:
    """Extract (lat, lng) from text via JVM regexp; rows without a match, or
    whose pair is off the globe (|lat| > 90 or |lng| > 180), are dropped.
    `text` is carried through untouched (byte-identity invariant).  Only
    stateless Column expressions, so it runs unchanged on a stream.

    One regex pass and one split per row, in a projection.  The pair leaves
    through a generator (one row on a match, none otherwise), so the bounds
    filter reads generator output and stays above it.  A filter that the
    optimizer can push below the projection takes the regex, and the page
    text it reads, along into every predicate."""
    m = F.col("__m")
    pair = F.struct(m.getItem(0).cast("double").alias("lat"),
                    m.getItem(1).cast("double").alias("lng"))
    return (pages
            .withColumn("__m", F.split(F.regexp_substr(
                F.col("text"), F.lit(COORD_REGEX)), ", "))
            .select(*pages.columns, F.inline(
                F.when(m.isNotNull(), F.array(pair))))
            .where((F.abs(F.col("lat")) <= 90) & (F.abs(F.col("lng")) <= 180)))
