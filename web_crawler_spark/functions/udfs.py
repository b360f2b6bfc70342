"""Vectorized pandas/Arrow UDFs wrapping web_crawler_spark.core.

These are the ONLY Python hot paths in the engine (BASELINE.json
input_hint: "vectorized pandas/Arrow UDFs (no per-row Python)").
Everything else stays JVM-side in whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from web_crawler_spark.core import imagecodec, minhash
from web_crawler_spark.core.urls import canonicalize_series, host_of_series, path_of_series


@F.pandas_udf(T.StructType([T.StructField(c, T.StringType())
                             for c in ("canon_url", "host", "path")]))
def url_parts_udf(urls: pd.Series) -> pd.DataFrame:
    """url → struct<canon_url, host, path>. One Arrow eval node (and one
    Python worker per task) where a chain of single-column UDFs would
    need one node and one worker each."""
    canon = canonicalize_series(urls)
    return pd.DataFrame({"canon_url": canon, "host": host_of_series(canon),
                         "path": path_of_series(canon)})


@F.pandas_udf(T.ArrayType(T.LongType()))
def caption_bands_udf(captions: pd.Series) -> pd.Series:
    """caption → 16 MinHash-LSH band keys (uint64 viewed as int64)."""
    bands = minhash.caption_band_hashes(captions.fillna("").tolist())
    return pd.Series(list(bands.view(np.int64)))


@F.pandas_udf(T.DoubleType())
def jaccard3_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([minhash.jaccard3(x, y) for x, y in zip(a, b)], dtype="float64")


def pair_psnr_cols(df, a=("a_bytes", "a_w", "a_h", "a_fmt"), b=("b_bytes", "b_w", "b_h", "b_fmt")):
    """Append a ``pair_psnr`` double column: PSNR between the two decoded
    images of each row. Runs as mapInPandas so binary columns stay inside
    one Arrow batch (no JVM round-trips per pair)."""
    schema = T.StructType(df.schema.fields + [T.StructField("pair_psnr", T.DoubleType())])

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vals = np.empty(len(pdf), dtype=np.float64)
            for i, (ab, aw, ah, af, bb, bw, bh, bf) in enumerate(
                zip(pdf[a[0]], pdf[a[1]], pdf[a[2]], pdf[a[3]],
                    pdf[b[0]], pdf[b[1]], pdf[b[2]], pdf[b[3]])
            ):
                ia = imagecodec.decode(ab, int(aw), int(ah), af)
                ib = imagecodec.decode(bb, int(bw), int(bh), bf)
                vals[i] = imagecodec.psnr(ia, ib)
            yield pdf.assign(pair_psnr=vals)

    return df.mapInPandas(fn, schema)
