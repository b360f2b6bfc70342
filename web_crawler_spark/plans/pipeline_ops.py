"""Training-data-pipeline operators with no exact SQL twin (driver runs
rows-only checks; pytest asserts the semantic properties).

All Python compute is Arrow-batched (pandas UDFs / mapInPandas /
applyInPandas) — no per-row Python UDFs (BASELINE.json input_hint).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F, types as T

from web_crawler_spark.functions.udfs import caption_bands_udf, jaccard3_udf
from web_crawler_spark.plans.seq import with_global_prefix_sum, with_global_seq


def _docs(spark, sf):
    return spark.read.parquet(f"{sf}/documents.parquet")


def _emb(spark, sf):
    return spark.read.parquet(f"{sf}/embeddings.parquet")


# ------------------------------------------------------------- MinHash LSH

def q_dedup_minhash_lsh(spark, sf):
    """Near-dup text pairs: MinHash(64) → 16 LSH bands → band equi-join →
    exact 3-shingle Jaccard residual ≥ 0.5. The same operator stack the
    crawl engine uses for caption dedup (SURVEY.md A8/J4), applied to
    documents.text. The band join carries ONLY (doc_id, band_idx,
    band_val) — document text never enters the ×16 band shuffle; it is
    joined back for the candidate PAIRS alone (same id-only index shape
    as the crawl engine's cbands join)."""
    d = _docs(spark, sf).select("doc_id", "text")
    # the band index is persisted so the MinHash signature UDF runs ONCE
    # (both self-join sides read the cache; Spark does not reuse the
    # exchange because per-side column pruning splits the subtrees) —
    # the in-memory twin of the crawl engine's committed cbands table
    ex = (
        d.withColumn("bands", caption_bands_udf("text"))
        .select("doc_id", F.posexplode("bands").alias("band_idx", "band_val"))
        .persist()
    )
    a = ex.select(F.col("doc_id").alias("a_id"), "band_idx", "band_val")
    b = ex.select(F.col("doc_id").alias("b_id"), "band_idx", "band_val")
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ta = d.select(F.col("doc_id").alias("a_id"), F.col("text").alias("a_text"))
    tb = d.select(F.col("doc_id").alias("b_id"), F.col("text").alias("b_text"))
    return (
        cand.join(ta, "a_id").join(tb, "b_id")
        .withColumn("jac", F.round(jaccard3_udf("a_text", "b_text"), 4))
        .filter(F.col("jac") >= 0.5)
        .select("a_id", "b_id", "jac")
    )


# ----------------------------------------------------------------- SimHash

@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    """63-bit SimHash over word unigrams, fully vectorized per Arrow
    batch: one pandas explode flattens (row, word), one hash_array call
    hashes every word (SipHash, C-side, deterministic), bit counting and
    the per-row sign aggregation are numpy ufunc ops — no per-row Python
    loop anywhere in the signature path."""
    s = texts.reset_index(drop=True).fillna("").str.lower().str.split()
    ex = s.explode().dropna()
    ex = ex[ex != ""]
    n = len(texts)
    if len(ex) == 0:
        return pd.Series(np.zeros(n, dtype=np.int64))
    hs = pd.util.hash_array(ex.to_numpy(dtype=object)).astype(np.uint64)
    rows = ex.index.to_numpy(dtype=np.int64)  # non-decreasing: explode preserves row order
    # hash bits via unpackbits (C-side, no 64-wide shift broadcast), then
    # one reduceat over the contiguous per-row segments (np.add.at is an
    # order of magnitude slower for this shape)
    bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    starts = np.flatnonzero(np.r_[True, rows[1:] != rows[:-1]])
    per_row_bitsum = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)  # (n_seg, 64)
    seg_len = np.diff(np.r_[starts, len(rows)])
    acc = np.zeros((n, 64), dtype=np.int64)
    acc[rows[starts]] = 2 * per_row_bitsum.astype(np.int64) - seg_len[:, None]
    sigbits = (acc[:, :63] > 0).astype(np.uint64)  # 63 bits → non-negative int64
    out = (sigbits << np.arange(63, dtype=np.uint64)[None, :]).sum(axis=1)
    return pd.Series(out.astype(np.int64))


def q_dedup_simhash(spark, sf, n_check: int = 80):
    """SimHash near-dup candidates: 4×16-bit band equi-join, Hamming ≤ 6
    verification via bit_count(xor) — all JVM-side after the signature.

    SELF-CHECKING (VERDICT r3 #4): with 4 bands over a 64-bit signature,
    any pair at Hamming ≤ 3 leaves at least one band untouched
    (pigeonhole), so the band join has GUARANTEED recall for such pairs
    — hamming 4-6 is only probabilistic. The plan brute-forces all
    Hamming ≤ 3 pairs inside the deterministic doc_id < ``n_check``
    subset (O(n_check²), bounded) and gates the output on finding every
    one: a banding/masking regression empties the driver row instead of
    silently dropping pairs. ``recall3_missed`` (constant 0) reports it."""
    d = (_docs(spark, sf).select("doc_id", "text")
         .withColumn("sh", simhash_udf("text")))
    bands = F.array(*[F.shiftrightunsigned("sh", s).bitwiseAND(F.lit(0xFFFF)) for s in (0, 16, 32, 48)])
    # persisted so the signature UDF runs once, not once per join side
    ex = d.select("doc_id", "sh", F.posexplode(bands).alias("band_idx", "band_val")).persist()
    a = ex.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"), "band_idx", "band_val")
    b = ex.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"), "band_idx", "band_val")
    res = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= 6)
    )
    # ---- guaranteed-recall gate: every hamming<=3 pair in the subset
    sub = ex.select("doc_id", "sh").distinct().filter(F.col("doc_id") < n_check)
    sa = sub.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    sb = sub.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    must = (
        sa.crossJoin(sb).filter(F.col("a_id") < F.col("b_id"))
        .filter(F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))) <= 3)
        .select("a_id", "b_id")
    )
    missed = must.join(res.select("a_id", "b_id"), ["a_id", "b_id"], "left_anti")
    gate = (
        missed.agg(F.count("*").alias("n_missed"))
        .filter(F.col("n_missed") == 0)
        .select(F.col("n_missed").alias("recall3_missed"))
    )
    return res.crossJoin(gate)


# ------------------------------------------------------------------ LSH ANN

def _cosine_expr(a_col: str, b_col: str):
    """Exact JVM-side cosine between two array columns (zip_with +
    aggregate — no UDF, stays in codegen)."""
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(dbl(a_col), dbl(b_col), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    norm = lambda c: F.sqrt(F.aggregate(dbl(c), F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (norm(a_col) * norm(b_col))


def ann_lsh_candidates(e: DataFrame, n_tables: int = 24,
                       bits: int = 6) -> DataFrame:
    """Candidate pairs of the multi-table hyperplane LSH: each vector
    gets ``n_tables`` independent ``bits``-bit sign codes (one Arrow
    batch per partition, planes seeded per-dim so every batch agrees);
    candidates are the distinct union over tables of same-(table, code)
    pairs — an 8-byte-keyed equi-join, never the O(n^2) pair matrix.
    Extracted from q_ann_lsh so tests can measure the candidate/scan
    fraction directly on an injected corpus (the clustered-corpus
    claim: longer codes -> vanishing scan fraction)."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def table_codes(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
        # dim derived from the batch (seeded planes are identical across
        # batches for a given dim — no hardcoded embedding width)
        rng = np.random.default_rng(20260816)
        planes = rng.standard_normal((n_tables * bits, m.shape[1]))
        signs = (m @ planes.T) > 0
        codes = (signs.reshape(len(m), n_tables, bits)
                 * (1 << np.arange(bits))).sum(axis=2)
        return pd.Series(list(codes.astype(np.int32)))

    ex = (e.withColumn("codes", table_codes("embedding"))
          .select("vec_id", F.posexplode("codes").alias("tbl", "code"))
          .persist())  # code UDF runs once, not once per join side
    a = ex.select(F.col("vec_id").alias("q_id"), "tbl", "code")
    b = ex.select(F.col("vec_id").alias("c_id"), "tbl", "code")
    return (a.join(b, ["tbl", "code"])
            .filter(F.col("q_id") != F.col("c_id"))
            .select("q_id", "c_id").distinct())


def ann_lsh_topk(e: DataFrame, n_tables: int = 24, bits: int = 6,
                 k: int = 3, _cand: DataFrame | None = None) -> DataFrame:
    """Exact-cosine re-rank of the LSH candidate union to top-k per
    query: (q_id, rk, c_id, cos). Payload embeddings join back onto the
    id-only candidate pairs (broadcast-or-shuffle by size, AQE's call);
    WindowGroupLimit bounds the per-query sort at k."""
    cand = _cand if _cand is not None else ann_lsh_candidates(
        e, n_tables=n_tables, bits=bits)
    eq = e.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    ec = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "c_id")
    return (
        cand.join(eq, "q_id").join(ec, "c_id")
        .withColumn("cos", F.round(_cosine_expr("q_emb", "c_emb"), 6))
        .withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
        .select("q_id", "rk", "c_id", "cos")
    )


def q_ann_lsh(spark, sf, n_tables: int = 24, bits: int = 6, k: int = 3,
              n_check: int = 16, recall_floor: float = 0.5):
    """Approximate nearest neighbors via MULTI-TABLE random-hyperplane
    LSH: ``n_tables`` independent ``bits``-bit sign codes per vector;
    candidates are the union of same-code vectors over all tables
    (equi-join on (table, code) — the shuffle carries 8-byte keys, never
    the pair matrix); exact cosine re-ranks the union to top-k. The
    (n_tables, bits) knobs trade candidate volume for recall: this
    testdata is near-RANDOM (true top-3 cos ≈ 0.34 — the worst case for
    LSH), so codes are short and tables many (24×6 → measured recall@3
    ≈ 0.68 scanning ~1/3 of the corpus); a real corpus with near-dup
    structure (cos ≥ 0.9) wants longer codes (e.g. 16×16) where the
    same plan scans a vanishing fraction — MEASURED, not asserted:
    tests/test_embedding_lsh.py plants a 50-cluster corpus (in-cluster
    cos ≈ 0.96) and at 16×16 the candidate set is < 5% of all pairs
    with recall@3 ≥ 0.9 vs brute force.

    SELF-CHECKING (VERDICT r3 #4): the plan brute-forces the true top-k
    for the deterministic query subset vec_id < ``n_check`` and gates
    the whole output on measured recall ≥ ``recall_floor`` via a 1-row
    cross join — if an LSH regression drops recall, the driver row goes
    to 0 rows and flips red. The constant ``recall_check`` column
    reports the measured recall. The brute-force gate is O(n_check × n)
    — bounded, and only part of the driver/test variant's plan."""
    e = _emb(spark, sf).select("vec_id", "embedding")
    cand = ann_lsh_candidates(e, n_tables=n_tables, bits=bits)
    eq = e.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    ec = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "c_id")
    res = ann_lsh_topk(e, n_tables=n_tables, bits=bits, k=k, _cand=cand)
    # ---- recall gate: brute-force truth for the fixed query subset
    qsub = eq.filter(F.col("q_id") < n_check)
    truth = (
        qsub.crossJoin(ec)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("cos", F.round(_cosine_expr("q_emb", "c_emb"), 6))
        .withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
        .select("q_id", "c_id")
    )
    found = truth.join(res.select("q_id", "c_id"), ["q_id", "c_id"], "left_semi")
    gate = (
        found.agg(F.count("*").alias("n_found"))
        .crossJoin(truth.agg(F.count("*").alias("n_truth")))
        .filter(F.col("n_found") >= F.lit(recall_floor) * F.col("n_truth"))
        .select(F.round(F.col("n_found") / F.col("n_truth"), 4).alias("recall_check"))
    )
    return res.crossJoin(gate)


# ----------------------------------------------- embedding near-dup (LSH)

def q_dedup_embedding_cosine(spark, sf):
    """Embedding-cosine near-dup pairs (round(cos,4) >= 0.98, a_id <
    b_id) via MULTI-BAND random-hyperplane LSH + exact residual — the
    scale path for the brute-force SQL oracle twin in queries.py
    (SQL_DEDUP_EMBEDDING_COSINE_DRIVER): candidates come from an equi-join on
    (band_idx, 8-bit sign code), so the shuffle carries only
    (vec_id, band keys), never the O(n²) pair matrix; exact JVM-side
    cosine then re-checks each candidate pair.

    Recall: cos >= 0.98 → angle θ <= 0.1997 rad → two vectors land on
    the same side of one hyperplane w.p. 1-θ/π >= 0.936; with 16 bands
    of 8 planes, P(collide in >= 1 band) >= 1-(1-0.936^8)^16 > 0.999999
    at the threshold and → 1 as cos → 1 (where near-dups live). The
    driver's hash-match against the brute-force DuckDB oracle at sf0.01
    is the no-false-positive evidence; tests/test_embedding_lsh.py
    plants true near-dup pairs (the testdata embeddings top out at
    cos ≈ 0.6) and asserts the banded plan returns EXACTLY the
    brute-force pair set."""
    return dedup_embedding_cosine_df(_emb(spark, sf).select("vec_id", "embedding"))


def q_dedup_embedding_cosine_driver(spark, sf):
    """Driver-row variant with PLANTED exact duplicates: the sf testdata
    tops out at cos ≈ 0.51, so at the operator's θ=0.98 the driver
    hash-match would pass vacuously (0 rows both sides). Deterministically
    re-inserting every 97th vector under vec_id+1000000 creates 6 true
    cos=1.0 pairs that the LSH plan MUST find (identical vectors share
    every band code, so recall is exactly 1 — no LSH luck involved); the
    DuckDB twin plants the same rows, so the hash-match now exercises
    real pairs end-to-end. Operator default (no plants) unchanged."""
    e = _emb(spark, sf).select("vec_id", "embedding")
    plants = (e.filter(F.col("vec_id") % 97 == 0)
               .withColumn("vec_id", F.col("vec_id") + F.lit(1000000)))
    return dedup_embedding_cosine_df(e.unionByName(plants))


def dedup_embedding_cosine_df(e, theta: float = 0.98):
    """The operator over an arbitrary (vec_id, embedding) frame."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def band_codes(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
        rng = np.random.default_rng(20260818)
        planes = rng.standard_normal((16 * 8, m.shape[1]))
        signs = (m @ planes.T) > 0                      # (n, 128)
        codes = (signs.reshape(len(m), 16, 8) * (1 << np.arange(8))).sum(axis=2)
        return pd.Series(list(codes.astype(np.int32)))

    ex = (
        e.withColumn("codes", band_codes("embedding"))
        .select("vec_id", F.posexplode("codes").alias("band_idx", "code"))
        .persist()  # hyperplane UDF runs once, not once per join side
    )
    a = ex.select(F.col("vec_id").alias("a_id"), "band_idx", "code")
    b = ex.select(F.col("vec_id").alias("b_id"), "band_idx", "code")
    cand = (
        a.join(b, ["band_idx", "code"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    dbl = lambda col: F.transform(col, lambda x: x.cast("double"))
    ea = e.select(F.col("vec_id").alias("a_id"), dbl("embedding").alias("a_emb"))
    eb = e.select(F.col("vec_id").alias("b_id"), dbl("embedding").alias("b_emb"))
    dot = F.aggregate(F.zip_with(F.col("a_emb"), F.col("b_emb"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    norm = lambda c: F.sqrt(F.aggregate(F.col(c), F.lit(0.0), lambda acc, v: acc + v * v))
    return (
        cand.join(ea, "a_id").join(eb, "b_id")
        .withColumn("cos", F.round(dot / (norm("a_emb") * norm("b_emb")), 4))
        .filter(F.col("cos") >= theta)
        .select("a_id", "b_id", "cos")
    )


# ------------------------------------------------------------- language ID

@F.pandas_udf(T.StringType())
def lang_id_udf(texts: pd.Series) -> pd.Series:
    """Character n-gram heuristic language ID (no external models):
    scores per-language marker characters/digraphs, vectorized."""
    t = texts.fillna("").str.lower()
    scores = pd.DataFrame(index=t.index)
    scores["zh"] = t.str.count(r"[一-鿿]")
    scores["ru"] = t.str.count(r"[Ѐ-ӿ]")
    scores["es"] = t.str.count(r"[ñáíóú¿¡]") * 3 + t.str.count(r"\b(el|los|las|que|y)\b")
    scores["de"] = t.str.count(r"[äöüß]") * 3 + t.str.count(r"\b(der|die|das|und|ist)\b")
    scores["fr"] = t.str.count(r"[àâçêëîïôûœ]") * 3 + t.str.count(r"\b(le|les|et|est|dans|une|pour)\b")
    scores["en"] = t.str.count(r"\b(the|a|of|and|is)\b") + 0.1
    return scores.idxmax(axis=1)


# Deterministic marker-bearing texts, one per supported language — the
# self-check corpus for the lang_id driver row (the sf testdata's `lang`
# column is a synthetic LABEL uncorrelated with its English-ish token
# stream, so label accuracy cannot witness the classifier; these can).
LANG_PLANTS = [
    ("en", "the cat is on the mat and the dog is one of the pets of the king"),
    ("de", "der hund und die katze ist schön und die große straße über der brücke"),
    ("es", "el niño y los señores que cantan años de alegría y los libros ñoños"),
    ("fr", "le chien et les chats est dans une maison pour être à côté du château"),
    ("zh", "这是一个中文文档 网络 数据 爬虫 图像 标题"),
    ("ru", "это русский документ сеть данные пример проверка языка"),
]


def q_lang_id_driver(spark, sf):
    """Driver key `lang_id`, SELF-CHECKING (VERDICT r3 #4): unions six
    deterministic PLANTED texts with real per-language markers
    (LANG_PLANTS, doc_id >= 10^6) into the corpus and gates the whole
    output on the classifier getting every plant right — a regression
    in any language's marker set empties the driver row. The testdata
    rows are still scored and returned (their synthetic `lang` label is
    uncorrelated with the token stream, so their `correct` column is
    descriptive, not the invariant)."""
    d = _docs(spark, sf).select("doc_id", "lang", "text")
    plants = d.sparkSession.createDataFrame(
        [(1000000 + i, lang, txt) for i, (lang, txt) in enumerate(LANG_PLANTS)],
        schema="doc_id long, lang string, text string")
    scored = (
        d.unionByName(plants)
        .withColumn("lang_pred", lang_id_udf("text"))
        .select("doc_id", "lang", "lang_pred",
                (F.col("lang") == F.col("lang_pred")).alias("correct"))
        # materialize once: the gate re-reads `scored`, and the pandas
        # UDF node is NOT covered by exchange reuse, so it would run
        # twice per materialization (A/B-measured ~1.5x; the JVM-only
        # gated queries get exchange reuse for free and a checkpoint
        # there only adds a barrier — measured slower, left out)
        .localCheckpoint(eager=True)
    )
    gate = (
        scored.filter(F.col("doc_id") >= 1000000)
        .agg(F.sum(F.when(~F.col("correct"), 1).otherwise(0)).alias("n_wrong"))
        .filter(F.col("n_wrong") == 0)
        .select(F.col("n_wrong").alias("plants_wrong"))
    )
    return scored.crossJoin(gate)


# -------------------------------------------------------- Bloom prefilter

def q_bloom_prefilter(spark, sf):
    """Mergeable per-partition Bloom sketch over customer keys (SURVEY.md
    A7): per-bucket bitarrays built with applyInPandas, reported as
    (bucket, n_items, bits_set, fpr_bound). The crawl engine uses this
    shape as a seen-set PREFILTER only — membership decisions stay exact
    (anti-join), because a sketch false-positive would wrongly drop URLs."""
    c = spark.read.parquet(f"{sf}/customer.parquet").select("c_custkey")
    M_BITS, K_HASH = 1 << 16, 4
    c = c.withColumn("bucket", F.pmod(F.xxhash64("c_custkey"), F.lit(8)).cast("int"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["c_custkey"].to_numpy(np.uint64)
        bits = np.zeros(M_BITS, dtype=bool)
        x = keys.copy()
        for j in range(K_HASH):
            with np.errstate(over="ignore"):
                x = x * np.uint64(0x9E3779B97F4A7C15) + np.uint64(j + 1)
            bits[(x >> np.uint64(40)) % np.uint64(M_BITS)] = True
        n, m = len(keys), int(bits.sum())
        fpr = (m / M_BITS) ** K_HASH
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "n_items": [n],
                             "bits_set": [m], "fpr_bound": [round(fpr, 6)]})

    return c.groupBy("bucket").applyInPandas(
        build, "bucket int, n_items long, bits_set long, fpr_bound double")


# ------------------------------------------------- multimodal image pipeline

def q_image_pipeline(spark, sf):
    """End-to-end multimodal plumbing on a deterministic in-flight corpus:
    spark.range → generate pixels (seeded per id) → encode lossy → decode →
    resize to a 16×16 thumbnail → pHash + PSNR-vs-original + thumb
    features, all inside one mapInPandas pass (binary columns never
    leave the Arrow batch). Heavier codecs (JPEG decode, frame-sample)
    slot into the same signature."""
    from web_crawler_spark.core import imagecodec, phash as ph

    def gen_and_verify(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"].to_numpy()
            rows = {"id": [], "w": [], "h": [], "fmt": [], "phash": [],
                    "psnr_db": [], "psnr_ok": [], "thumb_mean": []}
            for i in ids:
                rng = np.random.default_rng(1000 + int(i))
                w, h = int(rng.choice([32, 48])), int(rng.choice([32, 48]))
                px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
                enc = imagecodec.encode(px, "q6")
                dec = imagecodec.decode(enc, w, h, "q6")
                p = imagecodec.psnr(px, dec)
                thumb = imagecodec.resize(dec, 16, 16)
                rows["id"].append(int(i)); rows["w"].append(w); rows["h"].append(h)
                rows["fmt"].append("q6"); rows["phash"].append(ph.phash(dec))
                rows["psnr_db"].append(round(min(p, 99.0), 2)); rows["psnr_ok"].append(p >= 40.0)
                rows["thumb_mean"].append(round(float(thumb.mean()), 3))
            yield pd.DataFrame(rows)

    return spark.range(0, 256, 1, 8).mapInPandas(
        gen_and_verify,
        "id long, w int, h int, fmt string, phash long, psnr_db double, "
        "psnr_ok boolean, thumb_mean double",
    )


# ------------------------------------------------------------ crawl slice

def q_crawl_superstep(spark, sf):
    """A miniature end-to-end crawl (2 supersteps) on a deterministic
    in-repo fixture — the flagship fetch→dedup→discover loop as seen by
    the driver. Fixture + run dirs are content-addressed by config so
    re-runs are idempotent (no wall-clock anywhere)."""
    import hashlib
    import os

    import fixtures.gen as genmod
    from fixtures.gen import generate
    from web_crawler_spark.config import CrawlConfig
    from web_crawler_spark.plans import crawl as crawlmod
    from web_crawler_spark.sources import catalog as catmod

    cfg = CrawlConfig(per_host_k=2, max_rounds=2)
    # content-address the cache dirs by the SOURCES that define fixture
    # bytes and catalog layout plus the config — any engine/fixture/
    # layout change rotates the dirs automatically, so a stale cache can
    # never be resumed against a new layout (the manual _v2 suffix this
    # replaces would have silently bitten on the next change)
    h = hashlib.blake2s(digest_size=4)
    for mod in (genmod, crawlmod, catmod):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    h.update(repr(cfg).encode())
    ver = h.hexdigest()
    fix = f"/tmp/wcs_q_fix_n60_{ver}"
    if not os.path.exists(os.path.join(fix, "corpus.parquet")):
        generate(fix, n=60, n_hosts=8)
    run = f"/tmp/wcs_q_run_n60_k2_r2_{ver}"
    eng = crawlmod.CrawlEngine(spark, fix, run, cfg)
    if eng.cat.round < cfg.max_rounds - 1:
        eng.run()
    return eng.cat.read("crawl_log").select(
        "fetch_seq", "round", "canon_url", "host", "image_id", "priority", "status"
    )


# ------------------------------------------------------------------ IVF ANN

def q_ann_ivf(spark, sf):
    """IVF (inverted-file) approximate nearest neighbors — the classic
    scale path next to q_ann_lsh: 8 seeded coarse centroids (one Lloyd
    refinement, computed distributed), every vector assigned to its
    nearest centroid (vectorized numpy matmul per Arrow batch), queries
    probe their nprobe=4 nearest cells, exact cosine re-ranks within the
    probed cells only. The candidate join shuffles (cell, id) keys —
    never the full pair matrix."""
    e = _emb(spark, sf).select("vec_id", "embedding")
    dim = len(e.select("embedding").first()[0])
    seeds = np.random.default_rng(20260817).standard_normal((8, dim))
    seeds /= np.linalg.norm(seeds, axis=1, keepdims=True)

    def assign_factory(cents):
        @F.pandas_udf(T.IntegerType())
        def assign(embs: pd.Series) -> pd.Series:
            m = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            return pd.Series(np.argmax(m @ cents.T, axis=1).astype(np.int32))
        return assign

    # one distributed Lloyd step: mean of assigned vectors per cell
    a0 = e.withColumn("cell", assign_factory(seeds)("embedding"))
    sums = (
        a0.select("cell", F.posexplode("embedding").alias("d", "x"))
        .groupBy("cell", "d").agg(F.sum("x").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    cents = seeds.copy()
    acc = {}
    for r in sums:
        acc.setdefault(r["cell"], np.zeros(dim))[r["d"]] = r["s"] / r["n"]
    for cell, v in acc.items():
        nv = np.linalg.norm(v)
        if nv > 1e-12:
            cents[cell] = v / nv

    assigned = e.withColumn("cell", assign_factory(cents)("embedding"))

    def probe_factory(cents, nprobe=4):
        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def probe(embs: pd.Series) -> pd.Series:
            m = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            order = np.argsort(-(m @ cents.T), axis=1)[:, :nprobe].astype(np.int32)
            return pd.Series(list(order))
        return probe

    queries = (
        e.filter(F.col("vec_id") < 8)
        .withColumn("cells", probe_factory(cents)("embedding"))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
                F.explode("cells").alias("cell"))
    )
    cands = assigned.select(F.col("vec_id").alias("c_id"),
                            F.col("embedding").alias("c_emb"), "cell")
    dbl = lambda col: F.transform(col, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(dbl(F.col("q_emb")), dbl(F.col("c_emb")), lambda x, y: x * y),
                      F.lit(0.0), lambda acc_, v: acc_ + v)
    norm = lambda col: F.sqrt(F.aggregate(dbl(col), F.lit(0.0), lambda acc_, v: acc_ + v * v))
    pairs = (
        queries.join(cands, "cell")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("cos", F.round(dot / (norm(F.col("q_emb")) * norm(F.col("c_emb"))), 6))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "c_id")
    res = (
        pairs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
        .select("q_id", "rk", "c_id", "cos", "cell").distinct()
    )
    # ---- SELF-CHECKING recall gate (VERDICT r3 #4): brute-force truth
    # for the same 8 queries; measured recall@3 must clear 0.5 (the
    # pytest bound) or the driver row empties. O(8 × n), bounded.
    eq = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    ec = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    truth = (
        eq.crossJoin(ec)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("cos", F.round(_cosine_expr("q_emb", "c_emb"), 6))
        .withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
        .select("q_id", "c_id")
    )
    found = truth.join(res.select("q_id", "c_id"), ["q_id", "c_id"], "left_semi")
    gate = (
        found.agg(F.count("*").alias("n_found"))
        .crossJoin(truth.agg(F.count("*").alias("n_truth")))
        .filter(F.col("n_found") >= 0.5 * F.col("n_truth"))
        .select(F.round(F.col("n_found") / F.col("n_truth"), 4).alias("recall_check"))
    )
    return res.crossJoin(gate)


# ------------------------------------------------- multimodal audio/video

def q_multimodal_av(spark, sf):
    """Audio/video plumbing over opaque binary columns with typed
    metadata: synthesize a deterministic A/V corpus (media_id, bytes,
    codec, sample_rate/fps, n_frames), then run decode -> frame-sample
    -> per-frame feature extract in ONE mapInPandas pass (bytes never
    leave the Arrow batch). Real codecs (ffmpeg/PIL) are absent in this
    container, so decode for codecs other than the in-repo 'rawpcm8'/
    'rawgray8' raises NotImplementedError — the Spark-side schema,
    partitioning, batching and UDF signatures are the real, tested
    plumbing a production decoder drops into."""

    def gen_decode_sample(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "kind": [], "codec": [], "n_frames": [],
                   "sampled_frames": [], "mean_level": [], "meta_ok": []}
            for rid in pdf["id"].to_numpy():
                rng = np.random.default_rng(3000 + int(rid))
                kind = "audio" if rid % 2 == 0 else "video"
                if kind == "audio":
                    codec, n_frames = "rawpcm8", int(rng.integers(400, 1600))
                    blob = rng.integers(0, 256, size=n_frames, dtype=np.uint8).tobytes()
                else:
                    codec, n_frames = "rawgray8", int(rng.integers(8, 48))
                    blob = rng.integers(0, 256, size=(n_frames, 16, 16), dtype=np.uint8).tobytes()
                # ---- decode step (deterministic fake for in-repo codecs)
                if codec == "rawpcm8":
                    decoded = np.frombuffer(blob, dtype=np.uint8).astype(np.float64)
                    frames = decoded.reshape(-1, 1)
                elif codec == "rawgray8":
                    frames = np.frombuffer(blob, dtype=np.uint8).reshape(n_frames, -1).astype(np.float64)
                else:  # real decoder slot — libs absent in this container
                    raise NotImplementedError(f"codec {codec}: plug ffmpeg/PIL here")
                step = max(len(frames) // 8, 1)      # sample every k-th frame
                sampled = frames[::step][:8]
                out["media_id"].append(f"m-{int(rid):06d}")
                out["kind"].append(kind)
                out["codec"].append(codec)
                out["n_frames"].append(len(frames))
                out["sampled_frames"].append(len(sampled))
                out["mean_level"].append(round(float(sampled.mean()), 3))
                out["meta_ok"].append(len(frames) == n_frames or kind == "audio")
            yield pd.DataFrame(out)

    return spark.range(0, 256, 1, 8).mapInPandas(
        gen_decode_sample,
        "media_id string, kind string, codec string, n_frames int, "
        "sampled_frames int, mean_level double, meta_ok boolean",
    )


# ------------------------------------- near-dup clustering (connected comps)

def dup_clusters_df(edges: DataFrame, src: str = "a_id", dst: str = "b_id",
                    max_iters: int = 15, strict: bool = True) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id, rep)
    where rep is the component's min id — the step every corpus-scale
    dedup actually needs AFTER pair generation (pairs alone can't answer
    "which rows do I keep": A~B and B~C must collapse to ONE keeper even
    though A~C was never emitted).

    Algorithm: min-label propagation (each round every vertex takes the
    min label in its closed neighborhood) with an exact distributed
    convergence check — rounds are two hash-shuffles on the edge list,
    all JVM-side. Near-dup graphs are unions of tiny band-collision
    cliques, so the diameter (= round count) is small; for adversarial
    long-chain graphs the same loop structure upgrades to the
    large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) which converges in
    O(log n) rounds — the per-round dataflow (self-join labels to edges,
    groupBy min) is identical, so the swap is local. Each round's result
    is localCheckpoint'ed so the plan stays one round deep — exactly the
    crawl engine's superstep discipline (at 10^10 edges you'd checkpoint
    to the catalog instead)."""
    spark = edges.sparkSession
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
         .distinct().persist())
    # label(x) = min(x, min neighbor) to start
    labels = (
        e.groupBy("u").agg(F.min("v").alias("nbr_min"))
        .select(F.col("u").alias("id"),
                F.least("u", "nbr_min").alias("rep"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iters):
        # propagate: candidate label for v is min over {rep(u) : u~v} ∪ {rep(v)}
        prop = (
            e.join(labels.withColumnRenamed("id", "u"), "u")
            .select(F.col("v").alias("id"), "rep")
            .unionByName(labels)
            .groupBy("id").agg(F.min("rep").alias("rep"))
        )
        # pointer jump (path halving): rep(x) <- rep(rep(x)). Neighbor
        # propagation alone needs O(diameter) rounds (a length-d chain
        # crawls one hop per round); composing the label map with itself
        # each round makes label paths halve, so convergence is
        # O(log diameter) — the same reason large-star/small-star gets
        # its O(log n) bound.
        reps = prop.select(F.col("id").alias("j_id"), F.col("rep").alias("j_rep"))
        # TRUNCATE LINEAGE each round (see pagerank_df): labels feeds
        # this round's plan in several places, so without re-rooting the
        # logical plan doubles per round and Catalyst analysis goes
        # exponential regardless of caching. localCheckpoint
        # materializes eagerly and keeps plan depth constant; on a real
        # cluster checkpoint to the catalog instead.
        prop = (
            prop.join(reps, prop.rep == reps.j_id, "left")
            .select("id", F.least(F.col("rep"), F.coalesce("j_rep", "rep")).alias("rep"))
            .localCheckpoint(eager=True)
        )
        changed = (
            prop.join(labels.withColumnRenamed("rep", "old_rep"), "id")
            .filter(F.col("rep") != F.col("old_rep")).count()
        )
        labels = prop
        if changed == 0:
            break
    e.unpersist()
    if changed != 0:
        # never return partially-merged components silently: a caller
        # selecting "one keeper per rep" would keep several rows per true
        # component with no signal. Pointer jumping converges in
        # O(log diameter) rounds, so max_iters=15 covers any graph a
        # near-dup pipeline produces; hitting it means the input is
        # adversarial — surface that.
        msg = (f"dup_clusters_df did not converge in {max_iters} rounds "
               f"({changed} labels still changing); raise max_iters")
        if strict:
            raise RuntimeError(msg)
        import warnings
        warnings.warn(msg, stacklevel=2)
    return labels.select(F.col("id").alias("doc_id"), "rep")


def q_dedup_clusters(spark, sf):
    """End-to-end near-dup CLUSTERING on documents: n-gram Jaccard pairs
    (the exact shingle equi-join from queries.q_ngram_jaccard) →
    connected components → one keeper per component. Returns
    (doc_id, rep, is_keeper); singleton docs are their own keeper.
    Pytest checks exact parity against a DuckDB recursive-CTE transitive
    closure oracle (tests/test_dup_clusters.py)."""
    from web_crawler_spark.plans import queries as Q

    # materialize the pair join ONCE: the edge symmetrization reads it
    # twice and recomputing a shingle equi-join per read is wasted work
    # at any scale (at 10^10 docs it's the most expensive plan in the
    # pipeline — you compute it exactly once and checkpoint)
    pairs = (Q.q_ngram_jaccard(spark, sf).select("a_id", "b_id")
             .localCheckpoint(eager=True))
    comp = dup_clusters_df(pairs)
    d = _docs(spark, sf).select("doc_id")
    return (
        d.join(comp, "doc_id", "left")
        .withColumn("rep", F.coalesce("rep", "doc_id"))
        .withColumn("is_keeper", F.col("rep") == F.col("doc_id"))
    )


def q_ngram_jaccard_driver(spark, sf):
    """Driver key `ngram_jaccard`: the exact hybrid-index Jaccard pairs
    (queries.q_ngram_jaccard) WITH the T19 connected-component columns
    attached — per pair, the component representative (min doc_id in the
    transitive closure over all pairs) and the component size. a_id and
    b_id are by construction in the same component, so one rep column
    witnesses both endpoints. The DuckDB twin recomputes the closure
    with a recursive CTE, so the driver hash now checks the distributed
    min-label-propagation + pointer-jumping clustering
    (dup_clusters_df), not just the pair set."""
    from web_crawler_spark.plans import queries as Q

    # one materialization of the pair join — it feeds the edge
    # symmetrization (two reads), the final pair output, and the join
    # back; without this the shingle equi-join executes three times
    pairs = Q.q_ngram_jaccard(spark, sf).localCheckpoint(eager=True)
    comp = dup_clusters_df(pairs.select("a_id", "b_id"))
    sizes = comp.groupBy("rep").agg(F.count("*").alias("cluster_size"))
    return (
        pairs
        .join(comp.withColumnRenamed("doc_id", "a_id"), "a_id")
        .join(sizes, "rep")
        .select("a_id", "b_id", "jac", "rep", "cluster_size")
    )


# ------------------------------------------- language-balanced sampling

def balanced_sample_df(d: DataFrame, strata_col: str, k: int,
                       seed: int = 20260817) -> DataFrame:
    """Deterministic stratified sample: EXACTLY min(k, |stratum|) rows
    per stratum, chosen by xxhash64(id, seed) order — the
    language-balancing step of a training-data mix. Unlike sampleBy
    (Bernoulli per row: approximate counts, exact-k impossible), the
    hash-rank form is reproducible row-for-row across runs and clusters,
    and the per-stratum top-k lowers to WindowGroupLimit — no global
    sort, one shuffle on the stratum key, skew-safe because k bounds
    every partition's output."""
    w = W.partitionBy(strata_col).orderBy(F.xxhash64("doc_id", F.lit(seed)), "doc_id")
    return (
        d.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def mixture_sample_df(d: DataFrame, strata_col: str, weights: dict,
                      total: int, seed: int = 20260817) -> DataFrame:
    """T25: mixture sampling — draw EXACTLY ``total`` rows distributed
    across strata in the target ``weights`` proportions (the data-mixing
    step of a training recipe: e.g. 60% web / 30% code / 10% reference).

    Per-stratum take counts come from largest-remainder apportionment
    (floor each w_s*total, hand leftover seats to the largest
    fractional parts, ties by stratum name) computed driver-side from
    the CONSTANT weights dict — no data-dependent driver work. Rows
    within a stratum are chosen by deterministic hash rank
    (xxhash64(doc_id, seed)); the per-stratum top-k lowers to
    WindowGroupLimit like balanced_sample_df: one shuffle on the
    stratum key, skew-safe because the take count bounds every
    stratum's output. A stratum smaller than its quota yields all its
    rows (reported short — mirroring how real mixes handle exhausted
    sources); quotas for strata absent from ``weights`` are zero."""
    wsum = float(sum(weights.values()))
    fracs = {s: w / wsum * total for s, w in weights.items()}
    quota = {s: int(f) for s, f in fracs.items()}
    leftover = total - sum(quota.values())
    for s in sorted(fracs, key=lambda s: (-(fracs[s] - quota[s]), s))[:leftover]:
        quota[s] += 1
    qdf = F.create_map(*[x for s, q in sorted(quota.items())
                         for x in (F.lit(s), F.lit(q))])
    w = W.partitionBy(strata_col).orderBy(
        F.xxhash64("doc_id", F.lit(seed)), "doc_id")
    max_q = int(max(quota.values(), default=0))
    return (
        d.withColumn("_q", qdf[F.col(strata_col)])
        .filter(F.col("_q").isNotNull())
        .withColumn("_rk", F.row_number().over(w))
        # the LITERAL bound (largest quota) lowers to WindowGroupLimit —
        # per-stratum rank computation stops at max_q; the per-stratum
        # variable quota then trims within that bound
        .filter(F.col("_rk") <= F.lit(max_q))
        .filter(F.col("_rk") <= F.col("_q"))
        .drop("_rk", "_q")
    )


def q_sample_quota(spark, sf, k: int = 70, total: int = 201):
    """Driver key `sample_quota`: per-stratum COUNT witnesses for both
    deterministic samplers — T20 balanced_sample_df (exactly
    min(k, |stratum|) rows per language) and T25 mixture_sample_df
    (largest-remainder apportionment of the target weights, short when
    a stratum is exhausted). The row selection itself is xxhash64-rank
    order (not SQL-expressible), but the COUNTS are: the DuckDB twin
    independently reimplements the apportionment (floor + remainder
    ranking) and the min(k, n) bound in SQL, so a quota bug — wrong
    floor, misassigned leftover seat, missing exhausted-stratum clamp,
    a WindowGroupLimit bound that truncates a stratum — flips the
    driver hash. Weights deliberately make zh's quota (91) exceed its
    population and leave one leftover seat for the remainder rule."""
    d = _docs(spark, sf).select("doc_id", "lang")
    weights = {"en": 0.3, "de": 0.1, "es": 0.1, "fr": 0.05, "zh": 0.45}
    bal = (balanced_sample_df(d, "lang", k=k)
           .groupBy("lang").agg(F.count("*").alias("n_balanced")))
    mix = (mixture_sample_df(d, "lang", weights, total=total)
           .groupBy("lang").agg(F.count("*").alias("n_mixture")))
    zero = F.lit(0).cast("long")
    return (
        d.groupBy("lang").agg(F.count("*").alias("n_docs"))
        .join(bal, "lang", "left")
        .join(mix, "lang", "left")
        .select("lang", "n_docs",
                F.coalesce("n_balanced", zero).alias("n_balanced"),
                F.coalesce("n_mixture", zero).alias("n_mixture"))
    )


# ------------------------------------------------------------- PageRank

def pagerank_df(edges: DataFrame, iters: int = 10, damping: float = 0.85,
                src: str = "src", dst: str = "dst") -> DataFrame:
    """Distributed PageRank over an edge list → (id, rank, n_out, n_in):
    each node's rank (summing to exactly 1) and its count of distinct
    out- and in-edges. It is the crawl frontier-prioritization signal
    (authority-ordered fetch queues are the classic upgrade over BFS
    priority). Power iteration as pure DataFrame algebra: per-round
    contributions = one shuffle on src + one on dst; dangling mass
    (n_out = 0) is re-injected uniformly.

    The input is planned once: the distinct edge frame lands first, the
    node frame (ids with both degrees) is built from that landed frame
    and lands next, and every iteration joins the landed edges with the
    landed ranks, which carry n_out. ``localCheckpoint`` is the one
    lineage cutter; no frame is cached, so no plan nests one cache in
    another or re-plans the caller's edge view (for the crawl, a
    crawl_log explode joined with url_map)."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .distinct().localCheckpoint(eager=True))
    one, zero = F.lit(1), F.lit(0)
    nodes = (
        e.select(F.col("src").alias("id"), one.alias("o"), zero.alias("i"))
        .unionByName(e.select(F.col("dst").alias("id"), zero.alias("o"), one.alias("i")))
        .groupBy("id").agg(F.sum("o").alias("n_out"), F.sum("i").alias("n_in"))
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("id", F.lit(0.0).alias("rank"), "n_out", "n_in")
    ranks = nodes.select("id", F.lit(1.0 / n).alias("rank"), "n_out", "n_in")
    for _ in range(iters):
        contribs = (
            e.join(ranks.filter(F.col("n_out") > 0)
                   .select(F.col("id").alias("src"),
                           (F.col("rank") / F.col("n_out")).alias("c")), "src")
            .groupBy(F.col("dst").alias("id")).agg(F.sum("c").alias("contrib"))
        )
        dangling = ranks.filter(F.col("n_out") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0))).first()[0]
        new_ranks = (
            ranks.join(contribs, "id", "left")
            .select("id",
                    (F.lit((1.0 - damping) / n)
                     + F.lit(damping) * (F.coalesce("contrib", F.lit(0.0))
                                         + F.lit(dangling / n))).alias("rank"),
                    "n_out", "n_in")
        )
        # TRUNCATE LINEAGE each round: `ranks` appears twice in
        # new_ranks (its left side + contribs), so without truncation the
        # LOGICAL plan doubles every round and Catalyst analysis goes
        # exponential (measured: 9s at iters=6 → 166s at iters=12 with
        # persist alone). localCheckpoint materializes eagerly and
        # re-roots the plan at the stored partitions — plan depth stays
        # constant. On a real cluster with lineage-based recovery
        # concerns, swap for reliable checkpoint() into the job's
        # checkpoint dir or a catalog table (same loop shape,
        # crawl-superstep discipline).
        ranks = new_ranks.localCheckpoint(eager=True)
    return ranks


# --------------------------------------------------------- T24: packing

def pack_sequences_df(docs: DataFrame, ctx_len: int,
                      bucket_size: int = 4096,
                      tok_col: str | None = None) -> DataFrame:
    """T24: sequence packing — the pretraining dataloader step that
    concatenates documents in a deterministic order and splits the
    token stream into fixed ``ctx_len`` windows. Returns one row per
    (doc, bin) SEGMENT: ``doc_id, n_tok, bin_id, seg_start, seg_len``
    where seg_start is the token offset INSIDE the doc; a doc crossing
    a window boundary contributes a segment to each bin it spans, every
    bin except the last holds exactly ctx_len tokens, and no token is
    dropped or duplicated.

    Scale shape: the running token total over the whole corpus is a
    two-phase windowless prefix sum (plans/seq.py
    ``with_global_prefix_sum`` — range-bucketed window + packed-array
    bucket offsets; nothing funnels through one task even at billions
    of docs), and the bin explosion is a per-row JVM ``sequence`` whose
    length is the doc's own span (≤ n_tok/ctx_len + 1) — no driver
    loop, no Python.

    ``tok_col`` supplies a precomputed token count (skips the regexp
    over text — e.g. when token counts are already materialized, or in
    bench.py --pack's synthetic stress). ``bucket_size`` must keep the
    BUCKET COUNT (n_docs / bucket_size) in the low thousands: the
    packed offset array's prefix pass is O(B²) inside one task, so at
    10^8+ docs size it as ~n_docs/2048, exactly like the crawl engine's
    db sizing."""
    n_tok = (F.col(tok_col).cast("long") if tok_col is not None
             else F.regexp_count("text", F.lit(r"\S+")).cast("long"))
    # integer `div`, not double division cast back to long: float64 has 53
    # mantissa bits, so at cumulative token totals past 2^53 (~9e15 — in
    # range for the stated 10^10-doc contract) the double quotient rounds
    # and bin boundaries silently shift. DIV on longs is exact at any scale.
    d = (docs.select("doc_id", n_tok.alias("n_tok"))
         .filter(F.col("n_tok") > 0)
         .withColumn("_b", F.expr(f"CAST(doc_id AS BIGINT) div {int(bucket_size)}")))
    d = with_global_prefix_sum(d, ["_b"], ["doc_id"], "n_tok", "tok_start")
    ctx = int(ctx_len)
    b0 = F.expr(f"tok_start div {ctx}")
    b1 = F.expr(f"(tok_start + n_tok - 1) div {ctx}")
    segs = (
        d.select("doc_id", "n_tok", "tok_start",
                 F.explode(F.sequence(b0, b1)).alias("bin_id"))
        .withColumn("seg_start",
                    F.greatest(F.col("bin_id") * ctx_len - F.col("tok_start"),
                               F.lit(0)))
        .withColumn("seg_len",
                    F.least((F.col("bin_id") + 1) * ctx_len - F.col("tok_start"),
                            F.col("n_tok")) - F.col("seg_start"))
    )
    return segs.select("doc_id", "n_tok", "bin_id", "seg_start", "seg_len")


# ------------------------------------- T28: exact-substring (span) dedup

def dup_spans_df(docs: DataFrame, k: int = 8,
                 id_col: str = "doc_id", text_col: str = "text",
                 hot_df: int = 1_000_000) -> DataFrame:
    """T28: exact-substring dedup at TOKEN-SPAN granularity (the
    suffix-array dedup of Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", re-expressed as relational algebra):
    find every maximal run of >= k consecutive tokens that occurs more
    than once anywhere in the corpus, per document. Exact-dup and
    near-dup (T1/T2/T4) drop whole documents; this is the operator that
    catches a license header, boilerplate navbar, or quoted paragraph
    PASTED INTO otherwise-unique documents.

    Plan (all JVM, zero Python):
      1. explode integer POSITIONS (sequence(0, n-k)), then compute
         each k-gram md5 once per exploded row. NOT
         explode(transform(...)): Generate re-evaluates an inline
         generator expression per OUTPUT row, so exploding a
         transform-built md5 array costs O(grams per doc) extra
         evaluations of the whole array — measured 7.9s vs 0.5s at
         sf0.1 for this exact stage;
      2. duplicated grams found with groupBy(g).count() (map-side
         combine collapses a boilerplate gram to one row per task
         BEFORE the shuffle), then positions join back against the
         dup set split into two df tiers — the same hybrid-by-df
         pattern as T4's n-gram index:
           - hot tier (df > hot_df): broadcast LEFT SEMI — positions
             never shuffle on a hot key. The hot set is bounded by
             total_grams/hot_df keys (a counting argument), ~10^7
             8-byte keys at the 100 TB design point — a sub-100MB
             broadcast;
           - warm tier (1 < df <= hot_df): broadcast LEFT ANTI against
             the hot set (no hot key can enter the exchange), then a
             shuffle LEFT SEMI whose per-key volume is <= hot_df rows
             and whose left side gets the warm set's runtime Bloom
             filter — df=1 positions (the bulk) drop pre-shuffle.
         NOT count(*) OVER (PARTITION BY g): a window has no partial
         aggregation and its partition cannot be split, so a
         corpus-wide gram (license header, navbar — exactly the key
         this operator hunts, df 10^6-10^9 at the design point)
         funnels every occurrence into ONE task. NOT a plain un-tiered
         join-back: when the dup set is small (the common case) AQE
         converts the join to broadcast at runtime, but the position
         side's g-exchange is already materialized and its hot
         partition is read by ONE task — AQE's skew splitter only
         rewrites join stages, never a plain skewed read (measured:
         10M-position hot key -> a 10.7 s straggler vs ~0.45 s median,
         bench.py --spans-hot). And NOT a fused salted left-outer
         join either — measured 1.5-3x slower (left-preservation
         defeats Bloom pruning and widens the exchange). The gram key
         is xxhash64 (an 8-byte JVM hash, never leaves the operator)
         so each pass is tokenize + slice + hash — no md5 and no
         32-char strings on any exchange;
      3. hit positions merge into maximal spans per doc with the classic
         gaps-and-islands window (lag + running sum) — partitioned by
         doc_id, so the window never exceeds one document's positions.

    The gram key is internal only (the output is doc_id/pos spans), so
    the DuckDB oracle is free to key its own recomputation by md5 —
    results agree as long as neither hash collides (odds ~n^2/2^64 for
    the 64-bit key at test scale; a production corpus would pair
    xxhash64 with a length guard or a 128-bit variant).
    Returns one row per maximal duplicated span:
    (doc_id, span_id, s, e, span_len) with token offsets inclusive.
    """
    k = int(k)
    hot_df = int(hot_df)
    toks = F.expr(
        f"filter(split(lower(regexp_replace({text_col}, '[^a-z0-9]+', ' ')), ' '),"
        " x -> x <> '')")
    t = docs.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
    t = t.withColumn("n_tokens", F.size("t"))
    # filter first: sequence(0, negative) would generate a DESCENDING
    # range for docs shorter than k (they contribute no grams anyway)
    g = (
        t.filter(F.col("n_tokens") >= k)
        .select("doc_id", "t",
                F.explode(F.expr(f"sequence(0, n_tokens - {k})")).alias("pos"))
        .select("doc_id", "pos",
                F.xxhash64(F.expr(f"slice(t, pos + 1, {k})")).alias("g"))
    )
    counts = g.groupBy("g").count()
    hot = F.broadcast(counts.filter(F.col("count") > hot_df).select("g"))
    warm = counts.filter(
        (F.col("count") > 1) & (F.col("count") <= hot_df)).select("g")
    # hot hits resolve MAP-SIDE (broadcast semi join — positions never
    # shuffle on a hot key); the rest pass a broadcast ANTI (so no hot
    # key can enter the exchange) into a shuffle SEMI join whose
    # per-key volume is <= hot_df rows AND whose left side gets the
    # runtime Bloom filter of the warm gram set pushed into its scan —
    # df=1 positions (the bulk of a real corpus) drop before the
    # shuffle. A fused salted left-outer variant was measured 1.5-3x
    # slower: preserving the left side defeats Bloom pruning and
    # widens the exchange (bench A/B, round 5).
    hot_hits = g.join(hot, "g", "left_semi")
    warm_hits = g.join(hot, "g", "left_anti").join(warm, "g", "left_semi")
    hits = hot_hits.unionByName(warm_hits).select("doc_id", "pos")
    w = W.partitionBy("doc_id").orderBy("pos")
    # k-grams at positions p_prev < p overlap-or-touch iff p <= p_prev + k
    flagged = hits.withColumn("_prev", F.lag("pos").over(w)).withColumn(
        "_new",
        F.when(F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k),
               F.lit(1)).otherwise(F.lit(0)),
    )
    spans = flagged.withColumn("span_id", F.sum("_new").over(w))
    return (
        spans.groupBy("doc_id", "span_id")
        .agg(F.min("pos").alias("s"), (F.max("pos") + k - 1).alias("e"))
        .withColumn("span_len", F.col("e") - F.col("s") + 1)
    )


def doc_dup_profile_df(docs: DataFrame, k: int = 8,
                       hot_df: int = 1_000_000) -> DataFrame:
    """Per-document dedup profile — the T1 exact-copy facts and the T28
    duplicated-span facts in one doc-grain frame: (doc_id, n_tokens,
    n_copies, is_keeper, n_dup_spans, dup_tokens, max_span_len). Exact
    copy-counting is groupBy(_fp).agg(count, min(doc_id)) + a TWO-TIER
    join-back split by exact copy count (same pattern and rationale as
    dup_spans_df's gram tiers): a 10^7-copy viral doc is an
    unbounded-df key — a window over _fp funnels every copy into one
    task, and a single join-back leaves a skewed g-exchange read when
    AQE broadcasts the small stats side. Hot fingerprints (> hot_df
    copies, bounded by corpus_docs/hot_df keys) broadcast; the rest
    take a bounded shuffle join. The md5 fingerprint is projected
    BEFORE any exchange so raw text (KBs/doc) never rides a shuffle,
    only (doc_id, fp, n_tokens). Span stats coalesce to 0 for clean
    docs so the output has no NULLs (driver value-hash discipline)."""
    pre = docs.select(
        "doc_id",
        F.md5("text").alias("_fp"),
        F.size(F.expr(
            "filter(split(lower(regexp_replace(text, '[^a-z0-9]+', ' ')), ' '),"
            " x -> x <> '')")).alias("n_tokens"),
    )
    fp_stats = pre.groupBy("_fp").agg(
        F.count("*").alias("n_copies"),
        F.min("doc_id").alias("_keeper_id"),
    )
    hot_stats = F.broadcast(fp_stats.filter(F.col("n_copies") > hot_df))
    warm_stats = fp_stats.filter(F.col("n_copies") <= hot_df)
    _stats_cols = [
        F.col("doc_id"),
        F.col("n_copies"),
        (F.col("doc_id") == F.col("_keeper_id")).cast("int").alias("is_keeper"),
        F.col("n_tokens"),
    ]
    per_doc = (
        pre.join(hot_stats, "_fp").select(*_stats_cols)
        .unionByName(
            pre.join(hot_stats.select("_fp"), "_fp", "left_anti")
            .join(warm_stats, "_fp").select(*_stats_cols))
    )
    span_stats = (
        dup_spans_df(docs, k=k)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"),
             F.sum("span_len").alias("dup_tokens"),
             F.max("span_len").alias("max_span_len"))
    )
    zero = F.lit(0).cast("long")
    return (
        per_doc.join(span_stats, "doc_id", "left")
        .select("doc_id",
                F.col("n_tokens").cast("long").alias("n_tokens"),
                F.col("n_copies").cast("long").alias("n_copies"),
                F.col("is_keeper").cast("long").alias("is_keeper"),
                F.coalesce("n_dup_spans", zero).alias("n_dup_spans"),
                F.coalesce("dup_tokens", zero).alias("dup_tokens"),
                F.coalesce("max_span_len", zero).alias("max_span_len"))
    )


# ------------------------------------------- T29: curriculum ordering

def curriculum_order_df(d: DataFrame, phase_col,
                        bucket_chars: int = 1, start: int = 1) -> DataFrame:
    """T29: curriculum ordering — assign every row a dense global
    training position 1..n such that phases are consumed in order
    (easy -> hard) and rows WITHIN a phase are deterministically
    shuffled (hash order, not corpus order — adjacent source docs are
    correlated, and a pretraining dataloader must not see them
    back-to-back). The shuffle key is md5(doc_id) so the order is
    reproducible across engines and runs; the position itself comes
    from the two-phase windowless global sequence (plans/seq.py) with
    (phase, md5-prefix) buckets — a monotone coarsening of the total
    order (phase, shuf, doc_id), so no row funnels through a
    single-partition window at any scale.

    ``phase_col`` is a Column expression producing a small ordered int
    (the difficulty bucket). Returns the input plus (shuf, phase,
    curriculum_pos)."""
    out = d.withColumn("phase", phase_col.cast("int")).withColumn(
        "shuf", F.md5(F.col("doc_id").cast("string")))
    out = out.withColumn("_sb", F.substring("shuf", 1, int(bucket_chars)))
    out = with_global_seq(out, ["phase", "_sb"], ["shuf", "doc_id"],
                          "curriculum_pos", start=int(start))
    return out.drop("_sb")


# --------------------------------------- T31: subword tokenizer (WordPiece)

# deterministic fixed vocabulary: every [a-z0-9] char (lossless floor)
# plus multi-char merges chosen from the testdata's vocabulary so real
# segmentations are non-trivial. Greedy longest-match-first (WordPiece
# inference; Song et al. 2021 "Fast WordPiece Tokenization" documents
# the same linear greedy scheme).
SUBWORD_VOCAB = tuple(
    sorted(
        {chr(c) for c in range(ord("a"), ord("z") + 1)}
        | {str(i) for i in range(10)}
        | {"th", "the", "er", "ing", "ta", "table", "scan", "jo", "join",
           "str", "eam", "batch", "qu", "query", "row", "val", "ue",
           "sort", "merge", "fast", "slow", "data", "key", "hash",
           "win", "dow", "fil", "ter", "group", "agg", "sp", "ark"},
        key=lambda s: (-len(s), s),  # longest-first for the greedy scan
    )
)


def segment_word(word: str, vocab=SUBWORD_VOCAB) -> list[str]:
    """Pure-Python greedy longest-match segmentation (the reference
    semantics; also the executable oracle in tests). Unknown chars
    become '[unk]'. Concatenating the pieces (with [unk] standing for
    exactly one char) always reproduces the word — lossless."""
    out, i = [], 0
    while i < len(word):
        for piece in vocab:  # vocab is longest-first
            if word.startswith(piece, i):
                out.append(piece)
                i += len(piece)
                break
        else:
            out.append("[unk]")
            i += 1
    return out


# occurrence count above which a word's lexicon row broadcasts
_HOT_WORD_OCC = 1_000_000


def subword_tokenize_df(d: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """T31: subword-tokenize a corpus, returning per-doc stats:
    (doc_id, n_words, n_subwords, n_unk, chars_per_subword).

    Scale shape — DICTIONARY-ENCODED tokenization: the Python segmenter
    runs once per DISTINCT word, not once per word occurrence. At
    corpus scale the distinct-word set grows ~Heaps' law (sublinear)
    while occurrences grow linearly, so the Python stage is a
    vanishing fraction of the work; everything corpus-sized (explode,
    join, per-doc aggregation) stays JVM-side with map-side combine.
    The (word -> pieces) lexicon has one row per distinct word, so only
    its head broadcasts: words with more than _HOT_WORD_OCC occurrences,
    at most total_occurrences / _HOT_WORD_OCC of them (the counting
    bound of dup_spans_df's hot tier). The tail shuffle-joins on the
    word, each key carrying at most _HOT_WORD_OCC (doc, word) rows."""
    words = (
        d.select(F.col(id_col).alias("doc_id"),
                 F.explode(F.split(F.lower(F.regexp_replace(
                     text_col, "[^a-z0-9]+", " ")), " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    occ = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    n_occ = occ.groupBy("w").agg(F.sum("c").alias("n_occ"))

    @F.pandas_udf(T.StructType([
        T.StructField("n_pieces", T.IntegerType()),
        T.StructField("n_unk", T.IntegerType()),
    ]))
    def seg_stats(ws: pd.Series) -> pd.DataFrame:
        pieces = [segment_word(w) for w in ws]
        return pd.DataFrame({
            "n_pieces": [len(p) for p in pieces],
            "n_unk": [sum(1 for x in p if x == "[unk]") for p in pieces],
        })

    def lex(ws: DataFrame) -> DataFrame:
        return ws.withColumn("st", seg_stats("w")).select(
            "w", F.col("st.n_pieces").alias("n_pieces"),
            F.col("st.n_unk").alias("n_unk"), F.length("w").alias("wlen"))

    hot = n_occ.filter(F.col("n_occ") > _HOT_WORD_OCC).select("w")
    tail = lex(n_occ.filter(F.col("n_occ") <= _HOT_WORD_OCC).select("w"))
    # hot words resolve map-side against a broadcast lexicon; a broadcast
    # ANTI keeps them out of the exchange of the tail's shuffle join
    hits = occ.join(F.broadcast(lex(hot)), "w").unionByName(
        occ.join(F.broadcast(hot), "w", "left_anti").join(tail, "w"))
    return (
        hits.groupBy("doc_id")
        .agg(F.sum("c").alias("n_words"),
             F.sum(F.col("c") * F.col("n_pieces")).alias("n_subwords"),
             F.sum(F.col("c") * F.col("n_unk")).alias("n_unk"),
             F.round(F.sum(F.col("c") * F.col("wlen"))
                     / F.sum(F.col("c") * F.col("n_pieces")), 4)
             .alias("chars_per_subword"))
    )
