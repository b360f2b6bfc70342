"""Per-operator driver checks: Spark DataFrame plans + DuckDB oracle SQL.

One entry per implemented operator from SURVEY.md §2 (the coverage
checklist) plus the training-data-pipeline operators (dedup family,
similarity search, text analysis, multimodal plumbing). Each Spark plan
is written Catalyst-first: filters/projections push to the parquet scan,
small dims broadcast, LSH turns similarity into equi-joins, pandas UDFs
appear only where built-ins genuinely can't express the semantics.

Registered via __spark_entry__.queries()/oracle_sql(); the driver runs
both sides at sf=0.01 and compares row-count + schema + value-hash.
Column names are aliased identically on both sides (driver contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from web_crawler_spark.plans.seq import with_global_seq

STOPWORDS = ("the", "a", "key", "value", "row", "table")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# =============================== S2/P-family: scans, projections, scalars ==

def q_scan_project(spark, sf):
    return (
        _t(spark, sf, "documents")
        .filter(F.col("n_chars") > 200)
        .select("doc_id", "lang", "n_chars")
    )

SQL_SCAN_PROJECT = "SELECT doc_id, lang, n_chars FROM documents WHERE n_chars > 200"


def q_case_route(spark, sf):
    return (
        _t(spark, sf, "part")
        .withColumn(
            "size_class",
            F.when(F.col("p_size") < 10, "small")
            .when(F.col("p_size") < 30, "medium")
            .otherwise("large"),
        )
        .groupBy("size_class")
        .agg(F.count("*").alias("n_parts"), F.round(F.avg("p_retailprice"), 4).alias("avg_price"))
    )

SQL_CASE_ROUTE = """
SELECT CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'medium' ELSE 'large' END AS size_class,
       count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
FROM part GROUP BY 1
"""


def q_string_functions(spark, sf):
    """String surface + JVM regexp_count (absorbs the former
    `regexp_count` registry key — one driver row per scalar family)."""
    return _t(spark, sf, "part").select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.length("p_name").alias("name_len"),
        F.regexp_replace("p_name", " ", "_").alias("name_us"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_count("p_name", F.lit("[aeiou]")).alias("n_vowels"),
        F.regexp_count("p_type", F.lit("[A-Z]+")).alias("n_caps_runs"),
    )

SQL_STRING_FUNCTIONS = """
SELECT p_partkey, upper(p_brand) AS brand_u, substring(p_name, 1, 5) AS name5,
       length(p_name) AS name_len, regexp_replace(p_name, ' ', '_', 'g') AS name_us,
       concat_ws('|', p_brand, p_type) AS brand_type,
       len(regexp_extract_all(p_name, '[aeiou]')) AS n_vowels,
       len(regexp_extract_all(p_type, '[A-Z]+')) AS n_caps_runs
FROM part
"""


def q_datetime_functions(spark, sf):
    """Date/time surface in one driver row (absorbs the former
    `date_arith` key): extract (year/month/dayofweek), arithmetic
    (datediff/date_add/last_day) over the order->ship join."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_linenumber") == 1)
    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey, "inner")
    return j.select(
        "l_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("order_to_ship_days"),
        F.date_add(F.col("l_shipdate").cast("date"), 30).alias("ship_plus_30"),
        F.dayofweek("l_shipdate").alias("ship_dow"),
        F.last_day("l_shipdate").alias("ship_month_end"),
    )

SQL_DATETIME_FUNCTIONS = """
SELECT l_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo,
       date_diff('day', o_orderdate::DATE, l_shipdate::DATE) AS order_to_ship_days,
       (l_shipdate::DATE + INTERVAL 30 DAY)::DATE AS ship_plus_30,
       dayofweek(l_shipdate) + 1 AS ship_dow,
       last_day(l_shipdate::DATE) AS ship_month_end
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_linenumber = 1
"""


def q_math_functions(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_quantity"), 4).alias("sqrt_qty"),
        F.round(F.log("l_extendedprice"), 4).alias("ln_price"),
        F.round(F.pow(F.col("l_discount"), F.lit(2)), 6).alias("disc_sq"),
        F.abs(F.col("l_tax") - F.col("l_discount")).alias("tax_disc_gap"),
    )

SQL_MATH_FUNCTIONS = """
SELECT l_orderkey, l_linenumber, round(sqrt(l_quantity), 4) AS sqrt_qty,
       round(ln(l_extendedprice), 4) AS ln_price,
       round(pow(l_discount, 2), 6) AS disc_sq,
       abs(l_tax - l_discount) AS tax_disc_gap
FROM lineitem
"""


def q_json_extract(spark, sf):
    return (
        _t(spark, sf, "events")
        .withColumn("k_val", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("k_val")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )

SQL_JSON_EXTRACT = """
SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
       count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1
"""


def q_host_extract(spark, sf):
    d = _t(spark, sf, "documents")
    url = F.concat(F.lit("http://"), "source", F.lit(".example/d/"), F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        F.regexp_extract(url, "^http://([^/]+)", 1).alias("host"),
        F.regexp_extract(url, "^http://[^/]+(/.*)$", 1).alias("path"),
    )

SQL_HOST_EXTRACT = """
SELECT doc_id,
       regexp_extract('http://' || source || '.example/d/' || doc_id, '^http://([^/]+)', 1) AS host,
       regexp_extract('http://' || source || '.example/d/' || doc_id, '^http://[^/]+(/.*)$', 1) AS path
FROM documents
"""


# ============================================================ J-family: joins

def q_fetch_join(spark, sf):
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )

SQL_FETCH_JOIN = """
SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def q_broadcast_left_join(spark, sf):
    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"), F.round(F.avg("c_acctbal"), 4).alias("avg_bal"))
    )

SQL_BROADCAST_LEFT_JOIN = """
SELECT n_name, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_bal
FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
"""


def q_semi_join(spark, sf):
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_active"))
    )

SQL_SEMI_JOIN = """
SELECT c_mktsegment, count(*) AS n_active FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
"""


def q_anti_join(spark, sf):
    """Customers with no RECENT order (the crawl engine's seen-set
    shape: left_anti against a filtered build side). The date window
    keeps the driver row non-vacuous — every sf0.01 customer has SOME
    order, so an unwindowed anti-join proves nothing (0 rows)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderdate") >= "2000-01-01")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")

SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
"""


def q_cross_join(spark, sf):
    r, n = _t(spark, sf, "region"), _t(spark, sf, "nation")
    return r.crossJoin(n).agg(F.count("*").alias("n_pairs"))

SQL_CROSS_JOIN = "SELECT count(*) AS n_pairs FROM region CROSS JOIN nation"


def q_self_join_band(spark, sf):
    n = _t(spark, sf, "nation")
    a = n.select(F.col("n_nationkey").alias("a_key"), F.col("n_regionkey").alias("n_regionkey"))
    b = n.select(F.col("n_nationkey").alias("b_key"), F.col("n_regionkey").alias("n_regionkey"))
    return (
        a.join(b, "n_regionkey")
        .filter(F.col("a_key") < F.col("b_key"))
        .groupBy("n_regionkey")
        .agg(F.count("*").alias("n_pairs"))
    )

SQL_SELF_JOIN_BAND = """
SELECT a.n_regionkey AS n_regionkey, count(*) AS n_pairs
FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
GROUP BY 1
"""


def q_asof_join(spark, sf):
    """As-of join (Spark lacks a native one): for each 'click' event, the
    most recent 'signup' ts of the same user at or before it. Implemented
    as a union + running last_value carried forward — one shuffle on
    user_id, no range explosion (SURVEY.md J6 pattern)."""
    e = _t(spark, sf, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    b = e.filter(F.col("event_type") == "signup").select("user_id", F.col("ts").alias("bts"))
    u = a.select("user_id", "ts", "event_id", F.lit(None).cast("timestamp").alias("bts"),
                 F.lit(1).alias("tag")).unionByName(
        b.select("user_id", F.col("bts").alias("ts"), F.lit(None).cast("long").alias("event_id"),
                 "bts", F.lit(0).alias("tag"))
    )
    w = W.partitionBy("user_id").orderBy("ts", "tag").rowsBetween(W.unboundedPreceding, 0)
    out = u.withColumn("last_signup_ts", F.last("bts", ignorenulls=True).over(w))
    return out.filter(F.col("tag") == 1).select("event_id", "user_id", "last_signup_ts")

SQL_ASOF_JOIN = """
SELECT a.event_id AS event_id, a.user_id AS user_id, b.ts AS last_signup_ts
FROM (SELECT * FROM events WHERE event_type = 'click') a
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') b
  ON a.user_id = b.user_id AND a.ts >= b.ts
"""


def q_range_join(spark, sf):
    """Range join via the BAND trick (SURVEY.md J6): |a_n - b_n| <= 5
    implies floor(a_n/5) and floor(b_n/5) differ by at most 1, so the
    probe side explodes to its 3 adjacent bands and the join becomes an
    equi-join on (lang, band) — each qualifying pair meets on exactly
    one key (b's own band). No lang-only near-cartesian."""
    d = _t(spark, sf, "documents")
    a = d.select(F.col("doc_id").alias("a_id"), "lang", F.col("n_chars").alias("a_n"))
    b = d.select(F.col("doc_id").alias("b_id"), "lang", F.col("n_chars").alias("b_n"),
                 F.floor(F.col("n_chars") / 5).alias("band"))
    probe = a.withColumn(
        "band",
        F.explode(F.array(*[F.floor(F.col("a_n") / 5) + F.lit(k) for k in (-1, 0, 1)])),
    )
    return (
        probe.join(b, ["lang", "band"])
        .filter((F.col("a_id") < F.col("b_id"))
                & (F.col("b_n") >= F.col("a_n") - 5) & (F.col("b_n") <= F.col("a_n") + 5))
        .groupBy("lang")
        .agg(F.count("*").alias("n_close_pairs"))
    )

SQL_RANGE_JOIN = """
SELECT a.lang AS lang, count(*) AS n_close_pairs
FROM documents a JOIN documents b
  ON a.lang = b.lang AND a.doc_id < b.doc_id AND b.n_chars BETWEEN a.n_chars - 5 AND a.n_chars + 5
GROUP BY 1
"""


# ===================================================== A-family: aggregation

def q_pricing_summary(spark, sf):
    """TPC-H Q1-shaped flagship rollup (SURVEY.md 'harness' anchor)."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )

SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def q_first_writer_wins(spark, sf):
    d = _t(spark, sf, "documents")
    w = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        .select("lang", "doc_id", "n_chars")
    )

SQL_FIRST_WRITER_WINS = """
SELECT lang, doc_id, n_chars FROM documents
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) = 1
"""


def q_host_clock(spark, sf):
    return (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"), F.count("*").alias("n_events"))
    )

SQL_HOST_CLOCK = "SELECT user_id, max(ts) AS last_ts, count(*) AS n_events FROM events GROUP BY 1"


def q_metrics_rollup(spark, sf):
    """Hierarchical rollup + FILTER-style conditional aggregates in one
    driver row (absorbs the former `conditional_agg` key — count_if and
    conditional sums are exercised inside the rollup)."""
    return (
        _t(spark, sf, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("o_totalprice"), 2).alias("total"),
             F.count_if(F.col("o_totalprice") > 100000).alias("n_large"),
             F.round(F.sum(F.when(F.col("o_totalprice") > 100000, F.col("o_totalprice"))
                           .otherwise(F.lit(0.0))), 2).alias("large_value"))
    )

SQL_METRICS_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total,
       count(*) FILTER (WHERE o_totalprice > 100000) AS n_large,
       round(sum(CASE WHEN o_totalprice > 100000 THEN o_totalprice ELSE 0 END), 2) AS large_value
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_cube_agg(spark, sf):
    """CUBE with grouping_id markers (one driver row for the multi-set
    aggregation family — CUBE, ROLLUP and GROUPING SETS all lower to
    the same Expand)."""
    return (
        _t(spark, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"),
             F.grouping_id().alias("gid"))
    )

SQL_CUBE_AGG = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_distinct_count(spark, sf):
    """Exact distinct (A4) + the bitmap-agg seen-set representation (A6,
    absorbs the former `bitmap_distinct` key) in one driver row — the
    bitmap path recomputes n_parts via bitmap_construct_agg/bitmap_count
    per bucket and must equal the exact countDistinct, so the row is
    self-checking as well as oracle-checked."""
    li = _t(spark, sf, "lineitem")
    exact = li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_returnflag", "l_linestatus").alias("n_flag_status"),
    )
    bm = (
        li.select(F.bitmap_bucket_number("l_partkey").alias("bkt"),
                  F.bitmap_bit_position("l_partkey").alias("pos"))
        .groupBy("bkt")
        .agg(F.bitmap_construct_agg("pos").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).alias("n_parts_bitmap"))
    )
    return exact.crossJoin(bm)

SQL_DISTINCT_COUNT = """
SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status,
       count(DISTINCT l_partkey) AS n_parts_bitmap
FROM lineitem
"""


def q_approx_distinct(spark, sf):
    # rows-only: HLL estimate has no exact SQL twin; tolerance asserted in pytest
    return _t(spark, sf, "lineitem").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )


# ================================================== W-family: window / sort

def q_topk_per_group(spark, sf):
    """Per-group top-k (WindowGroupLimit) feeding a global sort+limit
    (TakeOrderedAndProject) — one driver row for both W1 and W6 (absorbs
    the former `sort_limit` key; the plain form keeps fn q_sort_limit).
    At scale this is the crawl frontier's exact shape: per-host top-k,
    then a bounded global cut."""
    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )

SQL_TOPK_PER_GROUP = """
SELECT o_orderpriority, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk,
       o_orderkey, o_totalprice
FROM orders
QUALIFY rk <= 3
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_global_order(spark, sf):
    """Global dense sequence without a single-partition window: hour
    buckets of ts are a monotone coarsening of the (ts, event_id) order,
    so the two-phase scheme (plans/seq.py) assigns seq fully in
    parallel — same engine path as the crawl's fetch_seq assignment."""
    e = _t(spark, sf, "events").filter(F.col("event_type") == "click")
    e = e.withColumn(
        "_hb",
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3_600_000_000)).cast("long"),
    )
    out = with_global_seq(e, ["_hb"], ["ts", "event_id"], "seq", start=1)
    return out.select("event_id", F.col("seq").cast("int").alias("seq"))

SQL_GLOBAL_ORDER = """
SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS seq
FROM events WHERE event_type = 'click'
"""


def q_rank_functions(spark, sf):
    """Full ranking-window family in one driver row (absorbs the former
    `percent_rank` key): rank/dense_rank/ntile + the distribution ranks
    percent_rank/cume_dist."""
    o = _t(spark, sf, "orders")
    wt = W.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    wu = W.partitionBy("o_orderstatus").orderBy("o_orderkey")
    wp = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.rank().over(wt).alias("rnk"),
        F.dense_rank().over(wt).alias("drnk"),
        F.ntile(4).over(wu).alias("quartile"),
        F.round(F.percent_rank().over(wp), 6).alias("pr"),
        F.round(F.cume_dist().over(wp), 6).alias("cd"),
    )

SQL_RANK_FUNCTIONS = """
SELECT o_orderkey, o_orderstatus,
       rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS rnk,
       dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS drnk,
       ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS quartile,
       round(percent_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 6) AS pr,
       round(cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 6) AS cd
FROM orders
"""


def q_running_sum_driver(spark, sf):
    """Driver key `running_sum`: the frame-spec running aggregate (W5)
    plus the lag/gap analytic columns (W4 — absorbs the former `lag_gap`
    key; same 50-key-budget fold pattern as rank_functions/percent_rank).
    Both ride the IDENTICAL window spec (user_id, ts, event_id) on one
    events scan, so the fold costs nothing at scale: Catalyst evaluates
    both window functions in a single Window operator after one shuffle.
    First-event-per-user rows have no lag predecessor; the gap is
    coalesced to -1.0 on both sides (a real gap is never negative) so
    the driver's stringified value-hash never compares NULL renderings."""
    e = _t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(W.unboundedPreceding, 0)
    sec = F.unix_micros(F.col("ts").cast("timestamp")) / 1e6
    gap = sec - F.lag(sec).over(w)
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(wf), 4).alias("running_value"),
        F.coalesce(F.round(gap, 6), F.lit(-1.0)).alias("gap_s"),
    )

SQL_RUNNING_SUM_DRIVER = """
SELECT user_id, event_id,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value,
       coalesce(round(epoch(ts) - lag(epoch(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id), 6), -1.0) AS gap_s
FROM events
"""


def q_sort_limit(spark, sf):
    return (
        _t(spark, sf, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


def q_window_tumbling(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("win.start").alias("ws"), "event_type", "n", "sum_value")
    )

SQL_WINDOW_TUMBLING = """
SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_session_window(spark, sf):
    """Sessionization with a 30-minute gap — F.session_window in batch
    mode (the streaming-shaped operator, SURVEY.md ST2)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("s_start"), "n_events")
    )

SQL_SESSION_WINDOW = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS new_s
  FROM events
), sess AS (
  SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS s_start, count(*) AS n_events FROM sess GROUP BY user_id, sid
"""


# ======================================================= SO-family: set ops

def q_set_ops(spark, sf):
    """UNION ALL / EXCEPT / INTERSECT in one driver row (replaces the
    three per-op keys so the registry fits the driver's 50-row budget):
    each set op runs against the RECENT-orders custkey set and reports
    (op, n, custkey_sum) — a checksum the DuckDB twin reproduces
    exactly. The date window makes EXCEPT non-vacuous (every sf0.01
    customer has SOME order, but 100+ have none after 2000-01-01)."""
    c = _t(spark, sf, "customer").select(F.col("c_custkey").alias("custkey"))
    o = (_t(spark, sf, "orders")
         .filter(F.col("o_orderdate") >= "2000-01-01")
         .select(F.col("o_custkey").alias("custkey")))

    def tally(df, op):
        return df.agg(F.lit(op).alias("op"), F.count("*").alias("n"),
                      F.sum("custkey").alias("custkey_sum"))

    return (
        tally(c.exceptAll(o.distinct()).distinct(), "except")
        .unionByName(tally(c.intersect(o), "intersect"))
        .unionByName(tally(c.unionByName(o), "union_all"))
    )

SQL_SET_OPS = """
WITH c AS (SELECT c_custkey AS custkey FROM customer),
     o AS (SELECT o_custkey AS custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
SELECT 'except' AS op, count(*) AS n, CAST(sum(custkey) AS BIGINT) AS custkey_sum
FROM (SELECT custkey FROM c EXCEPT SELECT custkey FROM o)
UNION ALL
SELECT 'intersect', count(*), CAST(sum(custkey) AS BIGINT)
FROM (SELECT custkey FROM c INTERSECT SELECT custkey FROM o)
UNION ALL
SELECT 'union_all', count(*), CAST(sum(custkey) AS BIGINT)
FROM (SELECT custkey FROM c UNION ALL SELECT custkey FROM o)
"""


def q_pivot(spark, sf):
    """Pivot → unpivot ROUND-TRIP in one driver row (absorbs the former
    `unpivot` key): wide qty_o/qty_f per returnflag, melted back to long
    (l_returnflag, status, qty) — both relational reshapes in one plan
    (pivot is a groupBy+conditional agg; unpivot a one-pass Expand)."""
    p = (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    wide = p.select(
        "l_returnflag",
        F.coalesce("O", F.lit(0.0)).alias("qty_o"),
        F.coalesce("F", F.lit(0.0)).alias("qty_f"),
    )
    return wide.unpivot(["l_returnflag"], ["qty_o", "qty_f"], "status", "qty")

SQL_PIVOT = """
WITH wide AS (
  SELECT l_returnflag,
         coalesce(round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2), 0) AS qty_o,
         coalesce(round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2), 0) AS qty_f
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, status, qty
FROM wide UNPIVOT INCLUDE NULLS (qty FOR status IN (qty_o, qty_f))
"""


# ================================= training-data pipeline: dedup / text ops

def q_token_count(spark, sf):
    """Token counting + the normalized md5 document fingerprint (absorbs
    the former `doc_fingerprint` key — same scan, one more JVM column)."""
    d = _t(spark, sf, "documents")
    norm = F.lower(F.regexp_replace("text", r"\s+", " "))
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(r"\S+")).alias("ws_tokens"),
        F.regexp_count("text", F.lit(r"[a-z]+|[0-9]+")).alias("subword_tokens"),
        (F.col("n_chars") / F.greatest(F.regexp_count("text", F.lit(r"\S+")), F.lit(1)))
        .cast("double").alias("chars_per_token"),
        F.md5(norm).alias("fp"),
    ).withColumn("chars_per_token", F.round("chars_per_token", 4))

SQL_TOKEN_COUNT = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '\S+')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS subword_tokens,
       round(n_chars / greatest(len(regexp_extract_all(text, '\S+')), 1), 4) AS chars_per_token,
       md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def _shingle3_hashes(d):
    """doc_id × distinct int64-hashed 3-gram shingles (the shared
    tokenization of ngram_jaccard / decontaminate).

    Shape note: explode integer POSITIONS, hash per exploded row, then
    distinct — NOT explode(array_distinct(transform(...))). Generate
    re-evaluates an inline generator expression per OUTPUT row, so the
    transform-built shingle array would be rebuilt once per shingle it
    emits (O(doc_len) extra full-array evaluations per doc) — measured
    5x slower at sf0.1. The distinct's (doc_id, shingle) exchange is
    8-byte keys with map-side combine; the removed re-evaluation is
    pure CPU at any scale."""
    return (
        d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .select("doc_id", "w",
                F.explode(F.expr("sequence(0, greatest(size(w) - 3, 0))")).alias("i"))
        .select("doc_id",
                F.xxhash64(F.expr("concat_ws(' ', slice(w, i + 1, 3))")).alias("shingle"))
        .distinct()
    )


def q_decontaminate(spark, sf, min_shared: int = 2):
    """T23: benchmark decontamination — the training-pipeline step that
    drops corpus documents overlapping an eval/benchmark set. The
    benchmark here is the deterministic subset doc_id % 97 == 0; a doc
    is contaminated when it shares >= min_shared distinct 3-gram
    shingles with any benchmark doc.

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus (eval suites are MBs, corpora are TBs), so it BROADCASTS —
    corpus shingles stream through a broadcast hash join and the only
    shuffle is the per-doc count's partial-aggregated doc_id combine.
    Shingles compare by int64 xxhash64 (8-byte keys, same trick as
    ngram_jaccard)."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    ex = _shingle3_hashes(d)
    bench = (ex.filter(F.col("doc_id") % 97 == 0)
             .select("shingle").distinct())
    corp = ex.filter(F.col("doc_id") % 97 != 0)
    return (
        corp.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= min_shared)
    )


def q_token_count_driver(spark, sf, ctx_len: int = 512):
    """Driver key `token_count`: token/fingerprint metrics plus the T23
    decontamination columns plus the T24 SEQUENCE-PACKING per-doc stats
    plus (round 5) the T31 SUBWORD-TOKENIZER per-doc piece totals,
    left-joined on doc_id (same 50-key-budget fold pattern as
    text_quality/T22). Benchmark docs themselves are flagged, not
    dropped, so the row count stays the full table.

    The packing columns aggregate the REAL pack_sequences_df output
    (two-phase windowless prefix sum + per-row JVM sequence explosion,
    plans/pipeline_ops.py): per doc, the first/last ctx_len bin it lands
    in, how many bins it spans, the total packed tokens (must equal the
    doc's whitespace token count — token conservation is hashed, not
    asserted) and the length of its final segment. The DuckDB twin
    derives every one of these CLOSED-FORM from a window prefix sum +
    integer division — so a packing bug (lost token, shifted boundary,
    wrong segment split) flips the driver row red."""
    from web_crawler_spark.plans.pipeline_ops import (
        pack_sequences_df,
        subword_tokenize_df,
    )

    tc = q_token_count(spark, sf)
    shared = q_decontaminate(spark, sf, min_shared=1)
    d = _t(spark, sf, "documents").select("doc_id", "text")
    # T31 fold (round 5): per-doc greedy-WordPiece subword totals from
    # the REAL dictionary-encoded tokenizer. The DuckDB twin recomputes
    # the greedy longest-match segmentation from scratch: a (word, pos)
    # -> longest-matching-piece-length table (vocab join on substr) and
    # a recursive CTE that walks piece starts — so a wrong greedy match
    # anywhere in any distinct word flips the hash.
    sw = subword_tokenize_df(d).select(
        "doc_id", F.col("n_subwords").cast("long").alias("sw_subwords"))
    pk = (
        pack_sequences_df(d, ctx_len=ctx_len)
        .groupBy("doc_id")
        .agg(
            F.min("bin_id").alias("first_bin"),
            F.max("bin_id").alias("last_bin"),
            F.count("*").alias("n_segments"),
            F.sum("seg_len").alias("packed_tok"),
            F.max_by("seg_len", "bin_id").alias("last_seg_len"),
        )
    )
    neg = F.lit(-1).cast("long")
    return (
        tc.join(shared, "doc_id", "left")
        .join(pk, "doc_id", "left")
        .join(sw, "doc_id", "left")
        .select(
            tc["*"],
            F.coalesce("n_shared_shingles", F.lit(0)).alias("n_shared_shingles"),
            (F.col("doc_id") % 97 == 0).alias("is_benchmark"),
            (F.coalesce("n_shared_shingles", F.lit(0)) >= 2).alias("contaminated"),
            F.coalesce("first_bin", neg).alias("first_bin"),
            F.coalesce("last_bin", neg).alias("last_bin"),
            F.coalesce("n_segments", neg).alias("n_segments"),
            F.coalesce("packed_tok", neg).alias("packed_tok"),
            F.coalesce("last_seg_len", neg).alias("last_seg_len"),
            F.coalesce("sw_subwords", neg).alias("sw_subwords"),
        )
    )

def _vocab_values() -> str:
    # safe lazy import: pipeline_ops only imports queries inside
    # functions, but keep the same one-direction discipline here
    from web_crawler_spark.plans.pipeline_ops import SUBWORD_VOCAB

    return ", ".join(f"('{p}')" for p in SUBWORD_VOCAB)


SQL_TOKEN_COUNT_DRIVER = f"""
WITH RECURSIVE tc AS ({SQL_TOKEN_COUNT}),
sw_occ AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(
                 lower(regexp_replace(text, '[^a-z0-9]+', ' ', 'g')), ' '),
                 x -> x <> '')) AS w
        FROM documents)
  GROUP BY 1, 2
),
dw AS (SELECT DISTINCT w FROM sw_occ),
vocab(piece) AS (VALUES {{VOCAB}}),
-- longest vocab piece matching at each 0-based position of each
-- distinct word; unmatched positions consume one '[unk]' char (l=1)
mlpos AS (SELECT w, unnest(range(0, len(w))) AS p FROM dw),
ml AS (
  SELECT mlpos.w, mlpos.p, coalesce(max(len(v.piece)), 1) AS l
  FROM mlpos LEFT JOIN vocab v
    ON substr(mlpos.w, mlpos.p + 1, len(v.piece)) = v.piece
  GROUP BY 1, 2
),
-- greedy walk: every reachable piece start, stepping by the longest
-- match — count(*) per word = the WordPiece piece count
st AS (
  SELECT w, 0 AS p FROM dw WHERE len(w) > 0
  UNION ALL
  SELECT st.w, st.p + ml.l
  FROM st JOIN ml ON ml.w = st.w AND ml.p = st.p
  WHERE st.p + ml.l < len(st.w)
),
seg AS (SELECT w, count(*) AS n_pieces FROM st GROUP BY 1),
sw AS (
  SELECT o.doc_id, CAST(sum(o.c * seg.n_pieces) AS BIGINT) AS sw_subwords
  FROM sw_occ o JOIN seg USING (w) GROUP BY 1
),
shared AS (
  WITH sh AS (
    SELECT doc_id, unnest(list_distinct([array_to_string(words[i:i+2], ' ')
           FOR i IN range(1, greatest(len(words) - 2, 1) + 1)])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
  ), bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
  SELECT doc_id, count(*) AS n_shared_shingles
  FROM sh JOIN bench USING (shingle)
  WHERE doc_id % 97 != 0
  GROUP BY doc_id
),
toks AS (
  SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tok
  FROM documents
),
pos AS (
  SELECT doc_id, n_tok,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_start
  FROM toks WHERE n_tok > 0
),
pk AS (
  SELECT doc_id,
         tok_start // 512 AS first_bin,
         (tok_start + n_tok - 1) // 512 AS last_bin,
         (tok_start + n_tok - 1) // 512 - tok_start // 512 + 1 AS n_segments,
         n_tok AS packed_tok,
         n_tok - greatest(((tok_start + n_tok - 1) // 512) * 512 - tok_start,
                          0) AS last_seg_len
  FROM pos
)
SELECT tc.*, coalesce(shared.n_shared_shingles, 0) AS n_shared_shingles,
       tc.doc_id % 97 = 0 AS is_benchmark,
       coalesce(shared.n_shared_shingles, 0) >= 2 AS contaminated,
       coalesce(pk.first_bin, -1) AS first_bin,
       coalesce(pk.last_bin, -1) AS last_bin,
       coalesce(pk.n_segments, -1) AS n_segments,
       coalesce(pk.packed_tok, -1) AS packed_tok,
       coalesce(pk.last_seg_len, -1) AS last_seg_len,
       coalesce(sw.sw_subwords, -1) AS sw_subwords
FROM tc LEFT JOIN shared ON tc.doc_id = shared.doc_id
        LEFT JOIN pk ON tc.doc_id = pk.doc_id
        LEFT JOIN sw ON tc.doc_id = sw.doc_id
"""

SQL_TOKEN_COUNT_DRIVER = SQL_TOKEN_COUNT_DRIVER.replace(
    "{VOCAB}", _vocab_values())


def q_text_quality(spark, sf):
    """Quality scoring + the array/collection surface it rides on
    (absorbs the former `array_functions` key: distinct/sort/intersect/
    slice/element_at over the tokenized text, same split, same scan)."""
    d = _t(spark, sf, "documents")
    words = F.split(F.col("text"), " ")
    stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.round(stop / F.greatest(F.size(words), F.lit(1)), 4).alias("stopword_ratio"),
        F.round(F.col("n_chars") / F.greatest(F.size(words), F.lit(1)), 4).alias("avg_word_len"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        F.size(F.array_intersect(F.array_distinct(words), stop_arr)).alias("n_stop_kinds"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(words)), 1, 3), ",").alias("first3"),
        F.element_at(words, 1).alias("w0"),
        F.element_at(words, -1).alias("w_last"),
    )

SQL_TEXT_QUALITY = """
WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents)
SELECT doc_id,
       len(words) AS n_words,
       round(len(list_filter(words, w -> w IN ('the','a','key','value','row','table')))
             / greatest(len(words), 1), 4) AS stopword_ratio,
       round(n_chars / greatest(len(words), 1), 4) AS avg_word_len,
       len(list_distinct(words)) AS n_distinct_words,
       len(list_intersect(list_distinct(words),
           ['the','a','key','value','row','table'])) AS n_stop_kinds,
       array_to_string(list_sort(list_distinct(words))[1:3], ',') AS first3,
       words[1] AS w0,
       words[-1] AS w_last
FROM t
"""


def q_repetition_quality(spark, sf):
    """T22: Gopher-style repetition filters — the standard LLM-corpus
    quality gate the array-based `text_quality` metrics can't express
    at scale: top-word dominance and duplicated-2-gram mass.

    Scale shape: explode + two-level groupBy (per-(doc,token) counts,
    then per-doc max/sum) — partial aggregation map-side-combines the
    token counts, so no task ever holds a whole document's token
    multiset in one row, unlike the O(n_words^2) within-array lambda
    alternative. The word and 2-gram branches share the one parquet
    scan; AQE plans the final doc_id joins as broadcast at small SF and
    shuffle-hash at corpus scale (doc_id is unique per branch — no
    skew)."""
    d = _t(spark, sf, "documents")
    base = d.select("doc_id", F.split(F.col("text"), " ").alias("words"))
    wstats = (
        base.select("doc_id", F.explode("words").alias("w"))
        .groupBy("doc_id", "w").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.max("c").alias("top_word_cnt"),
        )
    )
    # 0-based Spark SQL array indexing: gram j = words[j] ' ' words[j+1].
    # Explode the int position then concat per exploded row — an inline
    # transform-built gram array would be re-evaluated by Generate once
    # per output row (see _shingle3_hashes). 1-word docs are filtered
    # (they have no 2-grams; the final join is already a left join).
    grams = (
        base.filter(F.size("words") >= 2)
        .select("doc_id", "words",
                F.explode(F.expr("sequence(0, size(words) - 2)")).alias("j"))
        .select("doc_id",
                F.expr("concat(words[j], ' ', words[j + 1])").alias("g"))
    )
    gstats = (
        grams.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_2grams"),
            F.count("*").alias("n_distinct_2grams"),
            F.max("c").alias("top_2gram_cnt"),
        )
    )
    # left join: a 1-word doc has no 2-grams (explode drops it from gstats)
    return (
        wstats.join(gstats, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "top_word_cnt",
            F.round(F.col("top_word_cnt") / F.col("n_words"), 4)
            .alias("top_word_frac"),
            F.coalesce("n_2grams", F.lit(0)).alias("n_2grams"),
            F.coalesce("n_distinct_2grams", F.lit(0)).alias("n_distinct_2grams"),
            F.coalesce("top_2gram_cnt", F.lit(0)).alias("top_2gram_cnt"),
            F.when(F.coalesce("n_2grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.round(
                (F.col("n_2grams") - F.col("n_distinct_2grams"))
                / F.col("n_2grams"), 4))
            .alias("dup_2gram_frac"),
        )
    )

SQL_REPETITION_QUALITY = """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
w AS (SELECT doc_id, unnest(words) AS w FROM base),
wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
              max(c) AS top_word_cnt
       FROM wc GROUP BY 1),
g AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(words) - 1),
                                   i -> words[i] || ' ' || words[i + 1])) AS g
      FROM base),
gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
              count(*) AS n_distinct_2grams, max(c) AS top_2gram_cnt
       FROM gc GROUP BY 1)
SELECT ws.doc_id, n_words, top_word_cnt,
       round(top_word_cnt / n_words, 4) AS top_word_frac,
       coalesce(n_2grams, 0) AS n_2grams,
       coalesce(n_distinct_2grams, 0) AS n_distinct_2grams,
       coalesce(top_2gram_cnt, 0) AS top_2gram_cnt,
       CASE WHEN coalesce(n_2grams, 0) = 0 THEN 0.0
            ELSE round((n_2grams - n_distinct_2grams) / n_2grams, 4)
       END AS dup_2gram_frac
FROM ws LEFT JOIN gs ON ws.doc_id = gs.doc_id
"""


# T27: linear quality classifier — the fastText-shaped scoring step of a
# corpus pipeline: bag-of-words features joined against a BROADCAST
# weight dimension (learned weights are MBs; corpora are TBs — the same
# broadcast shape as T23 decontamination), per-doc weight sum, threshold
# label. Weights are DETERMINISTIC multiples of 1/64 and the score is a
# pure sum (no sigmoid/log): every value is exact in binary floating
# point, so the Spark and DuckDB twins agree bit-for-bit regardless of
# summation order — transcendentals would differ in the last ulp between
# libm implementations. A learned model drops into the same plan by
# replacing the literal dim with a weights table.
CLF_WEIGHTS = [
    # (token, weight) — "learned" lexicon, weights in units of 1/64
    ("the", 2 / 64), ("a", 1 / 64), ("of", 2 / 64), ("and", 2 / 64),
    ("is", 1 / 64), ("table", 3 / 64), ("query", 4 / 64),
    ("data", 3 / 64), ("window", 3 / 64), ("join", 4 / 64),
    ("slow", -6 / 64), ("fast", 2 / 64), ("big", -2 / 64),
    ("small", -2 / 64), ("spark", 5 / 64), ("stream", 3 / 64),
    ("row", 1 / 64), ("key", 1 / 64), ("hash", 2 / 64),
    ("vector", -3 / 64), ("scan", -1 / 64), ("batch", 2 / 64),
]
CLF_INTERCEPT = -16 / 64


def q_quality_classifier(spark, sf):
    """T27: per-doc linear quality score + keep label. Plan shape:
    explode tokens → broadcast-hash-join the weight dim (corpus tokens
    never shuffle for the lookup) → one partial-aggregated doc_id
    combine → add intercept, threshold at 0."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    w = spark.createDataFrame(CLF_WEIGHTS, "token string, w double")
    toks = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    scored = (
        toks.join(F.broadcast(w), "token")
        .groupBy("doc_id").agg(F.sum("w").alias("w_sum"))
    )
    return (
        d.select("doc_id").join(scored, "doc_id", "left")
        .select(
            "doc_id",
            (F.coalesce("w_sum", F.lit(0.0)) + F.lit(CLF_INTERCEPT)).alias("clf_score"),
        )
        .withColumn("clf_keep", F.col("clf_score") > 0)
    )

_CLF_VALUES = ", ".join(f"('{t}', {w!r})" for t, w in CLF_WEIGHTS)
SQL_QUALITY_CLASSIFIER = f"""
WITH w(token, wt) AS (VALUES {_CLF_VALUES}),
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
scored AS (
  SELECT doc_id, sum(wt) AS w_sum
  FROM toks JOIN w USING (token) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(s.w_sum, 0.0) + ({CLF_INTERCEPT!r}) AS clf_score,
       coalesce(s.w_sum, 0.0) + ({CLF_INTERCEPT!r}) > 0 AS clf_keep
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""


def q_text_quality_driver(spark, sf):
    """Driver key `text_quality`: the array-surface quality metrics plus
    the T22 repetition filters plus the T27 linear-classifier columns,
    joined on doc_id so one CORRECTNESS row witnesses all three operator
    families (same 50-key-budget fold pattern as the other
    consolidations; the standalone q_* remain for tests). n_words is
    deliberately computed two independent ways (array size vs exploded
    sum) — the join would hash-mismatch if they ever diverged, so the
    fold is self-checking on tokenization."""
    tq = q_text_quality(spark, sf)
    rep = q_repetition_quality(spark, sf).drop("n_words")
    clf = q_quality_classifier(spark, sf)
    return tq.join(rep, "doc_id").join(clf, "doc_id")

SQL_TEXT_QUALITY_DRIVER = f"""
WITH tq AS ({SQL_TEXT_QUALITY}),
rep AS ({SQL_REPETITION_QUALITY}),
clf AS ({SQL_QUALITY_CLASSIFIER})
SELECT tq.*, rep.top_word_cnt, rep.top_word_frac, rep.n_2grams,
       rep.n_distinct_2grams, rep.top_2gram_cnt, rep.dup_2gram_frac,
       clf.clf_score, clf.clf_keep
FROM tq JOIN rep ON tq.doc_id = rep.doc_id
        JOIN clf ON tq.doc_id = clf.doc_id
"""


def q_ngram_jaccard(spark, sf, df_split: int = 64):
    """Exact n-gram Jaccard near-dup pairs via a HYBRID inverted index
    (measured ~1.6x the old plain self-join at sf0.1, same results):

    - one groupBy builds per-shingle posting lists; df=1 shingles (the
      vast majority of any real corpus) are DROPPED before any pair work
      — a shingle in one document can never witness a pair;
    - LOW-df postings (< df_split) expand to their C(df,2) pairs inside
      the row via array transforms — no join, array size bounded by
      df_split²/2 so no task can blow up;
    - HIGH-df shingles (boilerplate — rare but each would make a huge
      single-row array) take the classic distributed self-join path,
      where their k² pairs spread across tasks instead of one row.

    Both branches are exact; union precedes the (a_id,b_id) count. The
    df_split knob trades row-local expansion against join shuffle — at
    100 TB you'd raise it until the p99 posting array is ~1 MB."""
    d = _t(spark, sf, "documents").select("doc_id", "text")
    # shingles join/aggregate on their int64 xxhash64, not the raw
    # string — the shuffle carries 8-byte keys instead of ~20-byte
    # text (intersection counts are unchanged short of a 64-bit
    # collision among a document pair's shingles)
    ex = _shingle3_hashes(d)
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    post = (ex.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") >= 2))
    low = post.filter(F.size("ids") < df_split)
    # two cascaded int explodes, NOT explode(flatten(transform(...))):
    # Generate re-evaluates an inline generator per OUTPUT row, so a
    # one-shot C(df,2) struct array would be rebuilt once per pair it
    # emits — O(C(df,2)^2) struct churn per posting. Exploding the
    # first-element index and then the tail slice keeps every
    # re-evaluated child a bounded int array (df < df_split).
    low_pairs = (
        low.select("ids", F.explode(F.expr("sequence(0, size(ids) - 2)")).alias("i"))
        .select(F.expr("ids[i]").alias("a_id"),
                F.explode(F.expr("slice(ids, i + 2, size(ids))")).alias("b_id"))
    )
    hot = post.filter(F.size("ids") >= df_split).select(
        "shingle", F.explode("ids").alias("doc_id"))
    hot_pairs = (
        hot.select(F.col("doc_id").alias("a_id"), "shingle")
        .join(hot.select(F.col("doc_id").alias("b_id"), "shingle"), "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    inter = (
        low_pairs.unionByName(hot_pairs)
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("a_id"), F.col("n_sh").alias("a_sh")), "a_id")
        .join(sizes.select(F.col("doc_id").alias("b_id"), F.col("n_sh").alias("b_sh")), "b_id")
        .withColumn("jac", F.round(F.col("n_inter") / (F.col("a_sh") + F.col("b_sh") - F.col("n_inter")), 4))
        .filter(F.col("jac") >= 0.2)
        .select("a_id", "b_id", "jac")
    )
    return out

SQL_NGRAM_JACCARD = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(words[i:i+2], ' ')
         FOR i IN range(1, greatest(len(words) - 2, 1) + 1)])) AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jac
FROM inter JOIN sizes sa ON sa.doc_id = a_id JOIN sizes sb ON sb.doc_id = b_id
WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.2
"""


# Twin of pipeline_ops.q_sample_quota: reimplements largest-remainder
# apportionment (floor + fractional-part ranking, ties by stratum name)
# and the min(k, n) balanced bound in pure SQL. k=70, total=201, weights
# must match the Spark side literally.
SQL_SAMPLE_QUOTA = """
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
w(lang, wt) AS (
  VALUES ('en', 0.3), ('de', 0.1), ('es', 0.1), ('fr', 0.05), ('zh', 0.45)
),
f AS (
  SELECT lang, wt / (SELECT sum(wt) FROM w) * 201 AS frac FROM w
),
q0 AS (
  SELECT lang, CAST(floor(frac) AS BIGINT) AS q, frac - floor(frac) AS rem
  FROM f
),
ranked AS (
  SELECT lang, q, row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM q0
),
quota AS (
  SELECT lang,
         q + CASE WHEN rk <= 201 - (SELECT sum(q) FROM q0) THEN 1 ELSE 0 END
           AS quota
  FROM ranked
)
SELECT c.lang, c.n_docs,
       least(CAST(70 AS BIGINT), c.n_docs) AS n_balanced,
       least(CAST(coalesce(qt.quota, 0) AS BIGINT), c.n_docs) AS n_mixture
FROM counts c LEFT JOIN quota qt ON qt.lang = c.lang
"""


SQL_NGRAM_JACCARD_DRIVER = f"""
WITH RECURSIVE pairs AS ({SQL_NGRAM_JACCARD}),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id AS u, a_id AS v FROM pairs
),
reach AS (
  SELECT u AS src, v AS dst FROM edges
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u
),
rep AS (
  SELECT src AS doc_id, least(src, min(dst)) AS rep FROM reach GROUP BY src
),
sizes AS (
  SELECT rep, CAST(count(*) AS BIGINT) AS cluster_size FROM rep GROUP BY rep
)
SELECT p.a_id, p.b_id, p.jac, r.rep, s.cluster_size
FROM pairs p
JOIN rep r ON r.doc_id = p.a_id
JOIN sizes s ON s.rep = r.rep
"""


def q_embedding_cosine_topk(spark, sf):
    """Brute-force cosine top-k ANN baseline over array<float> embeddings,
    entirely JVM-side (zip_with + aggregate — no UDF)."""
    e = _t(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = e.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    dbl = lambda col: F.transform(col, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(dbl(F.col("q_emb")), dbl(F.col("c_emb")), lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    norm = lambda col: F.sqrt(F.aggregate(dbl(col), F.lit(0.0), lambda acc, v: acc + v * v))
    pairs = (
        q.crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("cos", F.round(dot / (norm(F.col("q_emb")) * norm(F.col("c_emb"))), 6))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cos"), "c_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
        .select("q_id", "rk", "c_id", "cos")
    )

SQL_EMBEDDING_COSINE_TOPK = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_emb FROM embeddings),
pairs AS (
  SELECT q_id, c_id,
         round(list_dot_product(q_emb, c_emb)
               / (sqrt(list_dot_product(q_emb, q_emb)) * sqrt(list_dot_product(c_emb, c_emb))), 6) AS cos
  FROM q CROSS JOIN c WHERE q_id != c_id
)
SELECT q_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk, c_id, cos
FROM pairs QUALIFY rk <= 5
"""


# Brute-force twin of pipeline_ops.q_dedup_embedding_cosine_driver (whose
# Spark plan is LSH-bucketed, no cross join): same planted exact-duplicate
# rows (vec_id % 97 == 0 re-inserted at +1000000), so the driver hash-match
# exercises 6 real cos=1.0 pairs instead of passing vacuously on a dataset
# whose max cos ≈ 0.51.
SQL_DEDUP_EMBEDDING_COSINE_DRIVER = """
WITH base AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 97 = 0
), e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM base)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cos
FROM e a CROSS JOIN e b
WHERE a.vec_id < b.vec_id
  AND round(list_dot_product(a.emb, b.emb)
            / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) >= 0.98
"""


def q_embedding_norm(spark, sf):
    """L2 normalization over array<float> embeddings, all JVM-side
    (aggregate/transform) — the standard pre-step before cosine ANN so
    downstream similarity reduces to a dot product."""
    e = _t(spark, sf, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    l2 = F.sqrt(F.aggregate(dbl, F.lit(0.0), lambda a, v: a + v * v))
    return e.select(
        "vec_id",
        F.round(l2, 6).alias("l2"),
        F.round(F.element_at("embedding", 1).cast("double") / l2, 6).alias("u0"),
        F.round(F.element_at("embedding", 2).cast("double") / l2, 6).alias("u1"),
    )

SQL_EMBEDDING_NORM = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT vec_id,
       round(sqrt(list_dot_product(emb, emb)), 6) AS l2,
       round(emb[1] / sqrt(list_dot_product(emb, emb)), 6) AS u0,
       round(emb[2] / sqrt(list_dot_product(emb, emb)), 6) AS u1
FROM e
"""


def q_percentile_agg(spark, sf):
    """Exact interpolated percentiles (median/p90) — JVM-side
    `percentile`, not the approximate sketch. Prices go through integer
    CENTS first: median midpoints then land on exact .0/.5 doubles, so
    no output rounding is needed and the DuckDB quantile_cont twin
    matches bit-for-bit (rounding a float median at a half-cent
    boundary flips per engine — the classic parity trap)."""
    li = _t(spark, sf, "lineitem").withColumn(
        "price_cents", F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
    return (
        li.groupBy("l_returnflag")
        .agg(F.median("price_cents").alias("median_price_cents"),
             F.round(F.percentile("l_quantity", F.lit(0.9)), 2).alias("p90_qty"),
             F.median("l_quantity").alias("median_qty"))
        .orderBy("l_returnflag")
    )

SQL_PERCENTILE_AGG = """
SELECT l_returnflag,
       median(CAST(round(l_extendedprice * 100) AS BIGINT)) AS median_price_cents,
       round(quantile_cont(l_quantity, 0.9), 2) AS p90_qty,
       median(l_quantity) AS median_qty
FROM lineitem GROUP BY 1 ORDER BY 1
"""


def q_string_agg(spark, sf):
    """Ordered string aggregation: nations per region as a sorted CSV
    (array_agg -> array_sort -> array_join keeps the order deterministic,
    which raw listagg does not guarantee under parallel aggregation)."""
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
             F.count("*").alias("n_nations"))
    )

SQL_STRING_AGG = """
SELECT r_name,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY 1
"""


# ========================= T28/T29: substring dedup + curriculum ordering ==
#
# Driver-grain variants of the `dedup_exact` and `corpus_clean` keys.
# The natural testdata has NO exact-duplicate raw texts, no docs the
# quality filter rejects, and only whole-document token-level copies —
# so each variant UNIONs a small deterministic planted set (ids < 0)
# that makes every branch non-vacuous: partial mid-document shared
# spans, an exact text pair, a stopword-spam doc, a too-short doc.
# The same rows are embedded in the oracle SQL as a VALUES list.

def _fill(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


_R1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
_R2 = "lambda mu nu xi omicron pi rho sigma tau upsilon"
_EXACT_TXT = _fill("qz", 20)
# -1/-2 share two disjoint 10-token runs separated by 12 unique filler
# tokens (> k=8, so the runs merge into TWO spans, not one); -3 shares
# only the first run (gram df=3); -4 is fully unique (zero spans, the
# coalesce-to-0 branch); -5/-6 are byte-identical (n_copies=2, keeper
# by min doc_id, plus a whole-doc 20-token span).
PLANTED_SPAN_DOCS = [
    (-1, f"{_fill('qa', 12)} {_R1} {_fill('qb', 12)} {_R2} {_fill('qc', 12)}"),
    (-2, f"{_fill('qd', 12)} {_R1} {_fill('qe', 12)} {_R2} {_fill('qf', 12)}"),
    (-3, f"{_fill('qg', 12)} {_R1} {_fill('qh', 12)}"),
    (-4, _fill("qi", 30)),
    (-5, _EXACT_TXT),
    (-6, _EXACT_TXT),
]

_SPAN_VALUES = ", ".join(f"({i}, '{t}')" for i, t in PLANTED_SPAN_DOCS)


def q_dedup_exact_driver(spark, sf):
    """Driver key `dedup_exact`: the T1 exact-copy facts (n_copies,
    first-writer keeper) FOLDED with the T28 exact-substring span stats
    (pipeline_ops.doc_dup_profile_df / dup_spans_df) into one doc-grain
    row. The oracle recomputes the k-gram -> duplicated-gram ->
    gaps-and-islands span merge independently in DuckDB, so a wrong
    tokenization, a missed gram, an off-by-one span boundary, or a
    broken merge flips the hash."""
    from web_crawler_spark.plans.pipeline_ops import doc_dup_profile_df

    base = _t(spark, sf, "documents").select("doc_id", "text")
    planted = spark.createDataFrame(PLANTED_SPAN_DOCS, "doc_id long, text string")
    return doc_dup_profile_df(base.unionByName(planted), k=8)


SQL_DEDUP_EXACT_DRIVER = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES {_SPAN_VALUES}) v(doc_id, text)
), toks AS (
  SELECT doc_id, text,
         list_filter(string_split(lower(regexp_replace(text, '[^a-z0-9]+', ' ', 'g')), ' '),
                     x -> x <> '') AS t
  FROM docs
), base AS (
  SELECT doc_id, len(t) AS n_tokens,
         count(*) OVER (PARTITION BY md5(text)) AS n_copies,
         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY md5(text)) THEN 1 ELSE 0 END AS is_keeper
  FROM toks
), grams AS (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+7], ' ')) AS g
  FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
  WHERE len(t) >= 8
), hits AS (
  SELECT doc_id, pos
  FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS df FROM grams)
  WHERE df > 1
), flagged AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 8
              THEN 1 ELSE 0 END AS is_new
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), spans AS (
  SELECT doc_id, pos, sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM flagged
), merged AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
  FROM spans GROUP BY doc_id, span_id
), stats AS (
  SELECT doc_id, count(*) AS n_dup_spans, sum(e - s + 1) AS dup_tokens,
         max(e - s + 1) AS max_span_len
  FROM merged GROUP BY 1
)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(b.n_copies AS BIGINT) AS n_copies,
       CAST(b.is_keeper AS BIGINT) AS is_keeper,
       CAST(coalesce(s.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(s.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(coalesce(s.max_span_len, 0) AS BIGINT) AS max_span_len
FROM base b LEFT JOIN stats s USING (doc_id)
"""


# -11 is pure stopwords (stop_ratio 1.0 -> quality-filtered), -14 has 4
# words (< 5 -> length-filtered), -12/-13 are an exact pair (-13 keeps,
# -12 drops) — so the surviving planted rows exercise filter, dedup AND
# the phase-0 curriculum bucket.
PLANTED_CLEAN_DOCS = [
    (-11, "en", "the the the the a a a a"),
    (-12, "de", _fill("zz", 10)),
    (-13, "de", _fill("zz", 10)),
    (-14, "fr", "u1 u2 u3 u4"),
]

_CLEAN_VALUES = ", ".join(f"({i}, '{lg}', '{t}')" for i, lg, t in PLANTED_CLEAN_DOCS)

_PHASE_SQL = "CASE WHEN n_words < 40 THEN 0 WHEN n_words < 70 THEN 1 ELSE 2 END"


def q_corpus_clean_driver(spark, sf):
    """Driver key `corpus_clean`: the composed clean pass at DOC grain
    (quality-score -> filter -> exact first-writer dedup) FOLDED with
    T29 curriculum ordering (pipeline_ops.curriculum_order_df): every
    surviving doc gets a difficulty phase (fixed n_words thresholds —
    no global sort needed to assign it) and a dense global training
    position where phases are consumed easy->hard and docs within a
    phase follow a deterministic md5 shuffle. The position comes from
    the two-phase windowless global sequence; the oracle is a plain
    row_number() over the same (phase, md5(doc_id), doc_id) order, so
    a wrong bucket offset or a non-monotone bucket key flips the hash
    on ALL later positions.

    Round 5 adds the T30 training-shard fold: the REAL shard planner
    (sources.shards.shard_plan — the exact code export_training_shards
    writes with) maps each position to a fixed-size shard, and every
    doc row carries its shard's manifest columns (shard_rows,
    shard_min_pos, shard_max_pos, shard_checksum — the bit_xor of a
    60-bit md5(doc_id) prefix, the order-insensitive content checksum
    any engine can recompute). The oracle rebuilds the shard map and
    checksum independently in DuckDB, so a wrong row->shard mapping,
    a short shard, or a single flipped checksum bit fails the hash."""

    base = _t(spark, sf, "documents").select("doc_id", "lang", "text")
    planted = spark.createDataFrame(
        PLANTED_CLEAN_DOCS, "doc_id long, lang string, text string")
    d = base.unionByName(planted)
    words = F.split(F.col("text"), " ")
    stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS)))
    # fingerprint projected BEFORE the dedup window: raw text never
    # rides the exchange, only (doc_id, lang, n_words, fp)
    scored = d.select(
        "doc_id", "lang",
        F.md5("text").alias("_fp"),
        F.size(words).alias("n_words"),
        (stop / F.greatest(F.size(words), F.lit(1))).alias("stop_ratio"),
    )
    filtered = scored.filter((F.col("n_words") >= 5) & (F.col("stop_ratio") <= 0.5))
    w = W.partitionBy("_fp").orderBy("doc_id")
    deduped = (filtered.withColumn("rn", F.row_number().over(w))
               .filter("rn = 1").drop("rn", "_fp", "stop_ratio"))
    phase = (F.when(F.col("n_words") < 40, 0)
             .when(F.col("n_words") < 70, 1).otherwise(2))
    from web_crawler_spark.sources.shards import _CHECKSUM, shard_plan

    out = shard_plan(deduped, shard_size=64, phase_col=phase)
    manifest = out.groupBy("shard_id").agg(
        F.count("*").alias("shard_rows"),
        F.min("curriculum_pos").alias("shard_min_pos"),
        F.max("curriculum_pos").alias("shard_max_pos"),
        F.expr(_CHECKSUM).alias("shard_checksum"))
    return (out.join(F.broadcast(manifest), "shard_id")
            .select("doc_id", "lang",
                    F.col("n_words").cast("long").alias("n_words"),
                    "phase", "curriculum_pos",
                    F.col("shard_id").cast("long").alias("shard_id"),
                    "shard_rows", "shard_min_pos", "shard_max_pos",
                    "shard_checksum"))


SQL_CORPUS_CLEAN_DRIVER = f"""
WITH docs AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES {_CLEAN_VALUES}) v(doc_id, lang, text)
), scored AS (
  SELECT doc_id, lang, text,
         len(string_split(text, ' ')) AS n_words,
         len(list_filter(string_split(text, ' '),
             w -> w IN ('the','a','key','value','row','table')))
           / greatest(len(string_split(text, ' ')), 1) AS stop_ratio
  FROM docs
), filtered AS (
  SELECT * FROM scored WHERE n_words >= 5 AND stop_ratio <= 0.5
), deduped AS (
  SELECT * FROM filtered
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
), ordered AS (
  SELECT doc_id, lang,
         CAST(n_words AS BIGINT) AS n_words,
         CAST({_PHASE_SQL} AS INT) AS phase,
         CAST(row_number() OVER (
              ORDER BY ({_PHASE_SQL}), md5(doc_id::VARCHAR), doc_id) AS BIGINT)
           AS curriculum_pos
  FROM deduped
), sharded AS (
  SELECT *, CAST((curriculum_pos - 1) // 64 AS BIGINT) AS shard_id
  FROM ordered
), manifest AS (
  SELECT shard_id,
         CAST(count(*) AS BIGINT) AS shard_rows,
         CAST(min(curriculum_pos) AS BIGINT) AS shard_min_pos,
         CAST(max(curriculum_pos) AS BIGINT) AS shard_max_pos,
         CAST(bit_xor(CAST(concat('0x',
              substr(md5(doc_id::VARCHAR), 1, 15)) AS BIGINT)) AS BIGINT)
           AS shard_checksum
  FROM sharded GROUP BY 1
)
SELECT s.doc_id, s.lang, s.n_words, s.phase, s.curriculum_pos,
       s.shard_id, m.shard_rows, m.shard_min_pos, m.shard_max_pos,
       m.shard_checksum
FROM sharded s JOIN manifest m USING (shard_id)
"""
