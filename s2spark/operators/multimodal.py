"""Multimodal (image/audio/video) column plumbing.

Media ride as opaque `binary` columns with typed metadata structs; decode
and per-media pixel stats (`media_stats`) run as an Arrow-batched
``mapInPandas`` over the binary payloads.  The decode step itself is
STUBBED (no image or audio codec library is a dependency): `_decode_image`
is a seeded, content-derived fake decode, which keeps the whole
distributed pipeline (schema, batching, partitioning, UDF signatures) real
and testable.

Scale notes: binary payloads dominate row size -> keep
`spark.sql.files.maxPartitionBytes` small for these tables, select the
binary column only in stages that need it (column pruning does the rest),
and emit features to a separate narrow table rather than carrying bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def synthesize_media(spark, n_rows: int) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes of the id)."""
    df = spark.range(n_rows)
    i = F.col("id")
    kind = F.element_at(F.lit(["image", "audio", "video"]),
                        (F.pmod(i, F.lit(3)) + 1).cast("int"))
    payload = F.encode(F.sha2(F.concat(F.lit("media"), i.cast("string")), 512), "UTF-8")
    return df.select(
        i.alias("media_id"),
        F.concat(F.lit("https://cdn.example/m/"), i.cast("string")).alias("url"),
        kind.alias("kind"),
        payload.alias("payload"),
        (F.pmod(i * 37, F.lit(1920)) + 16).cast("int").alias("width"),
        (F.pmod(i * 53, F.lit(1080)) + 16).cast("int").alias("height"),
        (F.pmod(i * 97, F.lit(60000)) + 1000).cast("int").alias("duration_ms"),
    )


def _decode_image(payload: bytes) -> np.ndarray:
    """STUB: real decode needs an image codec library, which is not a
    dependency.

    The deterministic fake derives an 8x8x3 "image" from an md5 chain over
    the payload — pure hash arithmetic, so any engine (incl. the DuckDB
    oracle) reproduces the exact pixel bytes."""
    raw = b"".join(hashlib.md5(payload + b"_" + str(i).encode()).digest()
                   for i in range(12))
    return np.frombuffer(raw, dtype=np.uint8).reshape(8, 8, 3).copy()


MEDIA_STATS_SCHEMA = StructType(
    [StructField("media_id", LongType())]
    + [StructField(f"mean_{c}", DoubleType()) for c in "rgb"]
    + [StructField(f"std_{c}", DoubleType()) for c in "rgb"]
    + [StructField(f"h{b}", LongType()) for b in range(6)])


def media_stats(media: DataFrame) -> DataFrame:
    """Per-media decoded-pixel stats of a (media_id, payload) table:
    channel means/stds (rounded to 6) and a 6-bin histogram of integer
    pixel-channel sums (exact ints) — the oracle-checkable face of the
    decode -> feature pipeline.

    The histogram bins on the INTEGER sum of the 3 channel bytes
    (bin = sum3 // 128, sum3 in [0, 765] -> bins 0..5) so binning is exact
    arithmetic in every engine, immune to FP boundary flips."""
    src = media.select("media_id", "payload")

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = _decode_image(bytes(payload))
                px = img.reshape(-1, 3).astype(np.float64)
                scaled = px / 255.0
                mean = np.round(scaled.mean(axis=0), 6)
                std = np.round(scaled.std(axis=0), 6)
                bins = np.bincount(px.astype(np.int64).sum(axis=1) // 128,
                                   minlength=6)
                rows.append((mid, *mean, *std, *bins[:6]))
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_STATS_SCHEMA])

    return src.mapInPandas(stats, schema=MEDIA_STATS_SCHEMA)


def media_stats_oracle_sql(src_sql: str) -> str:
    """DuckDB query reproducing media_stats for a source of (media_id, p)
    that yields the payload `p` as a STRING column (md5 chain is computed
    on its UTF-8 text)."""
    mean_cols = ", ".join(
        f"max(CASE WHEN ch = {i} THEN m END) AS mean_{c}"
        for i, c in enumerate("rgb"))
    std_cols = ", ".join(
        f"max(CASE WHEN ch = {i} THEN s END) AS std_{c}"
        for i, c in enumerate("rgb"))
    hist_cols = ", ".join(
        f"coalesce(max(CASE WHEN bin = {b} THEN c END), 0) AS h{b}"
        for b in range(6))
    return f"""
WITH src AS ({src_sql}),
chains AS (SELECT media_id, i, md5(p || '_' || CAST(i AS VARCHAR)) AS h
           FROM src CROSS JOIN range(12) t(i)),
bytes AS (SELECT media_id, (i*16 + j) AS bi,
          ('0x' || substr(h, CAST(j*2 + 1 AS INT), 2))::BIGINT AS b
          FROM chains CROSS JOIN range(16) s(j)),
px AS (SELECT media_id, bi // 3 AS pix, bi % 3 AS ch, b FROM bytes),
chan AS (SELECT media_id, ch, round(avg(b/255.0), 6) AS m,
         round(stddev_pop(b/255.0), 6) AS s FROM px GROUP BY 1, 2),
pixsum AS (SELECT media_id, pix, sum(b) AS s3 FROM px GROUP BY 1, 2),
hist AS (SELECT media_id, least(s3 // 128, 5) AS bin, count(*) AS c
         FROM pixsum GROUP BY 1, 2),
chan_p AS (SELECT media_id, {mean_cols}, {std_cols} FROM chan GROUP BY 1),
hist_p AS (SELECT media_id, {hist_cols} FROM hist GROUP BY 1)
SELECT * FROM chan_p JOIN hist_p USING (media_id)
"""
