"""Declared StructType constants — schemas are fixed, never inferred.

One declaration per crawl table; the engine's catalog, its driver-side
writes and its readers all bind to these.
"""

from __future__ import annotations

from pyspark.sql import types as T

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), False),
        T.StructField("allow", T.ArrayType(T.StringType()), False),
        T.StructField("crawl_delay", T.DoubleType(), False),
    ]
)

FRONTIER = T.StructType(
    [
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),  # salted host-hash bucket
        T.StructField("priority", T.IntegerType(), False),  # depth; lower fetches first
        T.StructField("discovered_seq", T.LongType(), False),
        T.StructField("ready_round", T.IntegerType(), False),
    ]
)

SEEN = T.StructType(
    [
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
    ]
)

HOST_NEXT = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("next_round", T.IntegerType(), False),
    ]
)

CRAWL_LOG = T.StructType(
    [
        T.StructField("fetch_seq", T.LongType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("image_id", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("discovered_seq", T.LongType(), False),
        # kept | dup_exact | neardup_image | neardup_caption
        T.StructField("status", T.StringType(), False),
    ]
)

# image_id → canonical URL parts, written once by init_state
URL_MAP = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("canon_url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("path", T.StringType()),
    ]
)

# the fetched rows that are not exact duplicates, appended per round:
# the attributes the near-dup residual filters read, plus the caption
# MinHash bands
SURVIVORS = T.StructType(
    [
        T.StructField("fetch_seq", T.LongType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("phash", T.LongType()),
        T.StructField("caption", T.StringType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("bands", T.ArrayType(T.LongType())),
    ]
)

IMAGES_KEPT = T.StructType(
    [
        T.StructField("fetch_seq", T.LongType(), False),
        T.StructField("image_id", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("content_sha", T.StringType(), False),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("kept", T.LongType(), False),
        T.StructField("dup_exact", T.LongType(), False),
        T.StructField("neardup_image", T.LongType(), False),
        T.StructField("neardup_caption", T.LongType(), False),
        T.StructField("rejected_robots", T.LongType(), False),
        T.StructField("rejected_seen", T.LongType(), False),
    ]
)

# LSH band posting index (single `bands` append table): pre-exploded
# (band_idx, band_val) → fetch_seq postings, appended per round so
# near-dup candidate joins touch only the new batch vs the index.
# kind routes the posting family: 'p' = pHash bands, 'c' = caption
# MinHash bands (one table instead of two halves the per-round append
# jobs; readers filter on kind, pushed to the parquet scan).
BAND_IDX = T.StructType(
    [
        T.StructField("fetch_seq", T.LongType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("band_val", T.LongType()),
        T.StructField("kind", T.StringType()),
    ]
)
