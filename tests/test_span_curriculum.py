"""T28 exact-substring span dedup + T29 curriculum ordering.

Planted-construction expectations (exact span boundaries known by
design), structural invariants (disjoint spans, token conservation,
permutation positions, contiguous phases), determinism, and a
single-window row_number twin for the two-phase curriculum position.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window as W

from web_crawler_spark.plans.pipeline_ops import (
    curriculum_order_df,
    doc_dup_profile_df,
    dup_spans_df,
)
from web_crawler_spark.plans.queries import PLANTED_SPAN_DOCS
from web_crawler_spark.session import plan_truncated

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(PLANTED_SPAN_DOCS, "doc_id long, text string")


def test_planted_span_boundaries(spark, planted):
    """Spans fall exactly where the construction puts the shared runs:
    docs -1/-2 -> two 10-token spans at offsets 12..21 and 34..43;
    -3 -> one span at 12..21; -4 -> none; -5/-6 -> one whole-doc span."""
    spans = {
        (r["doc_id"], r["span_id"]): (r["s"], r["e"], r["span_len"])
        for r in dup_spans_df(planted, k=8).collect()
    }
    by_doc = {}
    for (doc, _), v in spans.items():
        by_doc.setdefault(doc, []).append(v)
    for d in by_doc.values():
        d.sort()
    assert by_doc[-1] == [(12, 21, 10), (34, 43, 10)]
    assert by_doc[-2] == [(12, 21, 10), (34, 43, 10)]
    assert by_doc[-3] == [(12, 21, 10)]
    assert -4 not in by_doc
    assert by_doc[-5] == [(0, 19, 20)]
    assert by_doc[-6] == [(0, 19, 20)]


def test_profile_copies_and_conservation(spark, planted):
    rows = {r["doc_id"]: r for r in doc_dup_profile_df(planted, k=8).collect()}
    assert len(rows) == len(PLANTED_SPAN_DOCS)
    # exact pair: both counted, min doc_id keeps
    assert rows[-5]["n_copies"] == 2 and rows[-6]["n_copies"] == 2
    assert rows[-6]["is_keeper"] == 1 and rows[-5]["is_keeper"] == 0
    for did, r in rows.items():
        assert 0 <= r["dup_tokens"] <= r["n_tokens"], did
        assert r["max_span_len"] <= r["dup_tokens"]
        if did not in (-5, -6):
            assert r["n_copies"] == 1 and r["is_keeper"] == 1


def test_spans_disjoint_and_maximal(spark):
    """On real testdata: merged spans within a doc never overlap or
    touch (gap > 0 between consecutive spans — otherwise the merge
    would have joined them), and every span is >= k tokens."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = dup_spans_df(d, k=8).orderBy("doc_id", "s").collect()
    assert df, "testdata should contain duplicated spans"
    prev = {}
    for r in df:
        assert r["span_len"] >= 8
        if r["doc_id"] in prev:
            assert r["s"] > prev[r["doc_id"]] + 1  # strict gap
        prev[r["doc_id"]] = r["e"]


def test_short_doc_no_descending_sequence(spark):
    """Docs shorter than k produce zero grams (the sequence(0, n-k)
    guard) — not a descending range that would crash or emit junk."""
    d = spark.createDataFrame([(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    assert dup_spans_df(d, k=8).count() == 0
    prof = {r["doc_id"]: r for r in doc_dup_profile_df(d, k=8).collect()}
    assert prof[1]["n_tokens"] == 3 and prof[1]["n_dup_spans"] == 0
    assert prof[1]["n_copies"] == 2  # still exact copies of each other


def test_curriculum_permutation_and_phases(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    d = d.withColumn("n_words", F.size(F.split("text", " ")))
    phase = (F.when(F.col("n_words") < 40, 0)
             .when(F.col("n_words") < 70, 1).otherwise(2))
    out = curriculum_order_df(d.drop("text"), phase)
    rows = out.select("doc_id", "phase", "curriculum_pos").collect()
    n = len(rows)
    assert sorted(r["curriculum_pos"] for r in rows) == list(range(1, n + 1))
    # phases occupy contiguous position ranges, consumed in order
    span = {}
    for r in rows:
        lo, hi = span.get(r["phase"], (n + 1, 0))
        span[r["phase"]] = (min(lo, r["curriculum_pos"]), max(hi, r["curriculum_pos"]))
    assert len(span) == 3, "thresholds should populate all three phases"
    assert span[0][1] < span[1][0] and span[1][1] < span[2][0]


def test_curriculum_matches_single_window_twin(spark):
    """The two-phase global sequence equals the naive unpartitioned
    row_number over (phase, md5(doc_id), doc_id) — the scale-unsafe
    plan we refuse to run, used here only as a small-n oracle."""
    d = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id", F.size(F.split("text", " ")).alias("n_words")))
    phase = (F.when(F.col("n_words") < 40, 0)
             .when(F.col("n_words") < 70, 1).otherwise(2))
    got = curriculum_order_df(d, phase).select("doc_id", "curriculum_pos")
    twin = (d.withColumn("phase", phase)
            .withColumn("shuf", F.md5(F.col("doc_id").cast("string")))
            .withColumn("pos", F.row_number().over(
                W.orderBy("phase", "shuf", "doc_id")))
            .select("doc_id", F.col("pos").cast("long").alias("curriculum_pos")))
    assert got.exceptAll(twin).count() == 0 and twin.exceptAll(got).count() == 0


def test_curriculum_deterministic(spark):
    d = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id", F.size(F.split("text", " ")).alias("n_words")))
    phase = (F.col("n_words") >= 50).cast("int")
    a = sorted(curriculum_order_df(d, phase).select("doc_id", "curriculum_pos").collect())
    b = sorted(curriculum_order_df(
        d.repartition(13), phase).select("doc_id", "curriculum_pos").collect())
    assert a == b


def test_no_cartesian_in_span_plan(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = dup_spans_df(d, k=8)._jdf.queryExecution().executedPlan().toString()
    # a negative check would pass on a cut plan
    assert not plan_truncated(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_plan_truncated_detects_cut_plan(spark):
    """plan_truncated must recognise the marker Spark appends when a plan
    string hits spark.sql.maxPlanStringLength, or the guard above is
    vacuous."""
    qe = spark.range(10).selectExpr("id * 2 AS x").where("x > 3")._jdf.queryExecution()
    assert not plan_truncated(qe.executedPlan().toString())
    key = "spark.sql.maxPlanStringLength"
    prior = spark.conf.get(key)
    try:
        for cap in ("100", "0"):
            spark.conf.set(key, cap)
            assert plan_truncated(qe.executedPlan().toString()), cap
    finally:
        spark.conf.set(key, prior)


def _ref_spans(docs: dict[int, list[str]], k: int = 8):
    """Pure-Python reference for dup_spans_df: k-gram -> global df ->
    per-doc maximal merged spans (overlap-or-touch)."""
    from collections import Counter
    grams = Counter()
    pos = {}
    for did, toks in docs.items():
        pos[did] = []
        for i in range(len(toks) - k + 1):
            g = " ".join(toks[i:i + k])
            grams[g] += 1
            pos[did].append((i, g))
    out = {}
    for did, hits in pos.items():
        dup = sorted(i for i, g in hits if grams[g] > 1)
        spans = []
        for p in dup:
            if spans and p <= spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], max(spans[-1][1], p + k - 1))
            else:
                spans.append((p, p + k - 1))
        if spans:
            out[did] = spans
    return out


def test_dup_spans_property_vs_python_reference(spark):
    """Randomized (seeded) corpus with planted shared runs: the Spark
    plan must produce exactly the reference's maximal spans."""
    import random

    rng = random.Random(20260818)
    vocab = [f"w{i}" for i in range(50)]
    # no underscores: the engine tokenizer splits on [^a-z0-9]+
    shared = [[f"s{j}x{i}" for i in range(rng.randint(8, 14))] for j in range(6)]
    docs = {}
    for did in range(60):
        toks = [rng.choice(vocab) for _ in range(rng.randint(3, 40))]
        # vocab of 50 makes natural 8-gram collisions essentially
        # impossible; planted runs drive the dup structure
        for run in shared:
            if rng.random() < 0.25:
                at = rng.randint(0, len(toks))
                toks = toks[:at] + run + toks[at:]
        docs[did] = toks
    ref = _ref_spans(docs, k=8)
    df = spark.createDataFrame(
        [(did, " ".join(toks)) for did, toks in docs.items()],
        "doc_id long, text string")
    got = {}
    for r in dup_spans_df(df, k=8).collect():
        got.setdefault(r["doc_id"], []).append((r["s"], r["e"]))
    for v in got.values():
        v.sort()
    assert got == ref
