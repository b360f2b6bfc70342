"""Near-dup clustering (connected components over pair graphs) and
language-balanced stratified sampling — the post-pair-generation steps a
corpus-scale dedup/mix pipeline needs (pipeline_ops.dup_clusters_df /
balanced_sample_df)."""

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from web_crawler_spark.plans import pipeline_ops as P
from web_crawler_spark.session import plan_truncated

SF = "/root/testdata/sf0.001"


def _union_find(n_ids, edges):
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


def test_clusters_match_union_find_on_adversarial_graph(spark):
    """Chains (worst-case diameter), a clique, a star and singletons —
    min-label propagation must agree with exact union-find."""
    edges = (
        [(i, i + 1) for i in range(0, 9)]          # 10-chain 0..9
        + [(20, 21), (20, 22), (20, 23)]           # star at 20
        + [(30, 31), (31, 32), (30, 32)]           # triangle
        + [(41, 40)]                               # reversed order pair
    )
    ids = sorted({x for e in edges for x in e} | {50, 51})  # 50/51 singletons
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {r["doc_id"]: r["rep"] for r in P.dup_clusters_df(df).collect()}
    want = _union_find(ids, edges)
    # singletons never appear in the edge list; callers coalesce to self
    want = {k: v for k, v in want.items() if k not in (50, 51)}
    assert got == want


def test_q_dedup_clusters_matches_duckdb_recursive_oracle(spark):
    """End-to-end on real documents: Spark ngram pairs + distributed
    components vs a DuckDB recursive-CTE transitive closure over the
    SAME pair semantics (SQL_NGRAM_JACCARD)."""
    from web_crawler_spark.plans.queries import SQL_NGRAM_JACCARD

    con = duckdb.connect()
    for t in ["documents"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle = con.sql(f"""
        WITH pairs AS ({SQL_NGRAM_JACCARD.replace(';', '')}),
        edges AS (
          SELECT a_id AS u, b_id AS v FROM pairs
          UNION SELECT b_id, a_id FROM pairs
        ),
        ids AS (SELECT DISTINCT doc_id FROM documents)
        , closure AS (
          WITH RECURSIVE reach(src, dst) AS (
            SELECT u, v FROM edges
            UNION
            SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
          ) SELECT * FROM reach
        )
        SELECT i.doc_id,
               least(i.doc_id, coalesce(min(c.dst), i.doc_id)) AS rep
        FROM ids i LEFT JOIN closure c ON c.src = i.doc_id
        GROUP BY i.doc_id
    """).df()
    got = (P.q_dedup_clusters(spark, SF)
           .select("doc_id", "rep").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    want = oracle.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got.astype("int64"), want.astype("int64"))


def test_q_dedup_clusters_keeper_contract(spark):
    df = P.q_dedup_clusters(spark, SF).toPandas()
    # exactly one keeper per component, and it's the min doc_id
    by_rep = df.groupby("rep")
    assert (by_rep["is_keeper"].sum() == 1).all()
    for rep, grp in by_rep:
        assert grp["doc_id"].min() == rep


def test_balanced_sample_exact_k_and_deterministic(spark):
    d = P._docs(spark, SF).select("doc_id", "lang", "n_chars")
    k = 24
    s1 = P.balanced_sample_df(d, "lang", k).toPandas()
    s2 = P.balanced_sample_df(d, "lang", k).toPandas()
    # deterministic row-for-row
    a = s1.sort_values(["lang", "doc_id"]).reset_index(drop=True)
    b = s2.sort_values(["lang", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # exactly min(k, |stratum|) per language
    full = d.groupBy("lang").count().toPandas().set_index("lang")["count"]
    got = s1.groupby("lang").size()
    for lang, n in full.items():
        assert got.get(lang, 0) == min(k, n), lang
    # different seed → different selection (not a constant function)
    s3 = P.balanced_sample_df(d, "lang", k, seed=999).toPandas()
    assert set(map(tuple, s3[["doc_id"]].values)) != set(map(tuple, s1[["doc_id"]].values))


def test_balanced_sample_plan_uses_window_group_limit(spark):
    d = P._docs(spark, SF).select("doc_id", "lang")
    plan = P.balanced_sample_df(d, "lang", 5)._jdf.queryExecution().executedPlan().toString()
    assert not plan_truncated(plan)
    assert "WindowGroupLimit" in plan
