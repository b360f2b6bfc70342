"""T31 subword tokenizer: greedy longest-match semantics vs a plain
re-implementation, losslessness, and the dictionary-encoded Spark path
equal to tokenizing every occurrence naively."""

from __future__ import annotations

import random

import pyspark.sql.functions as F

from web_crawler_spark.plans.pipeline_ops import (
    SUBWORD_VOCAB,
    segment_word,
    subword_tokenize_df,
)
from web_crawler_spark.session import plan_truncated

SF = "/root/testdata/sf0.001"


def test_vocab_longest_first_and_char_floor():
    lens = [len(p) for p in SUBWORD_VOCAB]
    assert lens == sorted(lens, reverse=True)
    for c in "abcdefghijklmnopqrstuvwxyz0123456789":
        assert c in SUBWORD_VOCAB  # single-char floor => no [unk] for alnum


def test_segment_word_reference_cases():
    assert segment_word("table") == ["table"]
    assert segment_word("tables") == ["table", "s"]
    # greedy longest-match: 'the' beats 'th'+'e'
    assert segment_word("theory") == ["the", "o", "r", "y"]
    assert segment_word("join") == ["join"]
    # non-alnum chars hit the [unk] branch
    assert segment_word("a_b") == ["a", "[unk]", "b"]


def test_segmentation_lossless_random_words():
    rng = random.Random(20260818)
    for _ in range(300):
        w = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789")
                    for _ in range(rng.randint(1, 18)))
        pieces = segment_word(w)
        assert "".join(pieces) == w
        # greedy: every piece is the longest vocab match at its offset
        i = 0
        for p in pieces:
            for cand in SUBWORD_VOCAB:
                if w.startswith(cand, i):
                    assert cand == p, (w, i, cand, p)
                    break
            i += len(p)


def test_spark_path_equals_naive_per_occurrence(spark):
    """The dictionary-encoded plan (segment distinct words, join back)
    must equal segmenting every occurrence directly in Python."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    got = {r["doc_id"]: r for r in subword_tokenize_df(d).collect()}
    import re

    for row in d.limit(40).collect():
        words = [w for w in re.sub("[^a-z0-9]+", " ", row["text"].lower()).split() if w]
        pieces = [segment_word(w) for w in words]
        n_sub = sum(len(p) for p in pieces)
        g = got[row["doc_id"]]
        assert g["n_words"] == len(words)
        assert g["n_subwords"] == n_sub
        assert g["n_unk"] == sum(1 for p in pieces for x in p if x == "[unk]")
        assert abs(g["chars_per_subword"]
                   - round(sum(len(w) for w in words) / n_sub, 4)) < 1e-9


def test_broadcast_lexicon_plan(spark):
    """The (word -> pieces) lexicon must broadcast — corpus occurrences
    never shuffle for the lookup."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = subword_tokenize_df(d)._jdf.queryExecution().executedPlan().toString()
    assert not plan_truncated(plan)
    assert "BroadcastHashJoin" in plan


def test_lexicon_tail_is_shuffle_joined(spark):
    """Only the lexicon's head (words above _HOT_WORD_OCC occurrences)
    carries a broadcast hint: with size-based broadcasting off, the
    head's join and the ANTI join that keeps hot words out of the tail
    still broadcast, and the tail's join on the word plans as a shuffle
    join."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = subword_tokenize_df(d)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, threshold)
    assert not plan_truncated(plan)
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("SortMergeJoin") == 1
