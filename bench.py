"""Benchmark harness (driver contract + scaling evidence).

Modes
-----
default            : time the headline queries at $SPARK_GRAFT_SF_DIR
                     (default /root/testdata/sf0.1) on
                     local[$SPARK_GRAFT_CPUS], plus crawl-engine
                     throughput on a deterministic bench fixture; print
                     ONE JSON line {"metric", "value", "unit", "queries",
                     "sf", ...}.
--scale-job --cores N : run ONE compute-heavy crawl-shaped superstep
                     (URL canon → salted bucket → image decode/pHash/
                     PSNR → MinHash bands → dedup agg) at local[N] and
                     print a small JSON. This is the scaling probe: the
                     same job, same input, two parallelism levels.
--scaling          : run --scale-job at local[8] and local[32] in fresh
                     subprocesses (a JVM cannot change master), compute
                     scaling efficiency = T8/(4*T32) per the session
                     brief / BASELINE.json north_rule (>= 0.8 target),
                     and write BENCH/BASELINE.md.

--frontier         : drive the engine's schedule_batch over a synthetic
                     heavy-tailed 10^8-row frontier (spark.range, no
                     fixtures) and report frontier URLs/sec — the
                     north-rule frontier metric at stress scale
                     (BENCH/FRONTIER.md).
--seen [--sketch bloom|cuckoo] : the URL-seen check at 10^8 candidates,
                     exact anti-join vs sketch-routed, identical
                     results asserted (BENCH/FRONTIER.md).
--pack             : sequence packing at 10^8 docs — the two-phase
                     global prefix sum + bin explosion at stress scale.
--spans            : exact-substring span dedup (T28) over a synthetic
                     JVM-generated corpus with planted copies and
                     boilerplate runs; recall floor AND precision
                     ceiling asserted distributed.
--spans-hot        : T28 straggler A/B — ONE k-token boilerplate run
                     (a single hot gram key, df in the millions) planted
                     in half the docs; the old count-OVER-gram window
                     twin vs the production groupBy+semi-join, per-stage
                     max/median task-duration ratios scraped from the
                     UI REST API (BENCH/PLANS.md skew section).
--soak [--xlarge]  : the same BSP crawl loop at growing per-round batch
                     sizes — fixed-cost amortization evidence
                     (BENCH/SOAK.md).

Everything is deterministic (seeded); no wall-clock enters any result,
only the measurement timer.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# One BLAS/OMP thread per python worker: with 32 concurrent workers an
# unpinned OpenBLAS oversubscribes threads (phash DCT matmul) and makes
# local[32] SLOWER than local[8]. Must be set before the JVM launches so
# forked python workers inherit it.
for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS",
           "NUMEXPR_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _materialize(df) -> int:
    """Full materialization without driver collect: noop sink + count."""
    df.write.format("noop").mode("overwrite").save()
    return 1


# --------------------------------------------------------------- headline

# Representative slice of __spark_entry__.queries(): scan+agg, joins,
# windows, set ops, and the training-data pipeline ops. Names match the
# driver's queries() keys so BENCH_r{N}.json lines up with CORRECTNESS.
HEADLINE = [
    "pricing_summary",
    "fetch_join",
    "asof_join",
    "topk_per_group",
    "metrics_rollup",
    "session_window",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ngram_jaccard",
    "embedding_cosine_topk",
    "dedup_embedding_cosine",
    "range_join",
    "ann_lsh",
    "image_pipeline",
]

# Work-version per headline key: bumped whenever a key's DEFINITION of
# work changes, so cross-round bench deltas separate "does more work"
# from "got slower on the same work". v1 = the round-1..3 definition.
# History:
#   dedup_exact    v2 (r4): full T28 span-dedup doc profile over
#                  documents + planted rows (was: trivial md5 groupBy).
#   dedup_simhash  v2 (r4): adds the guaranteed-recall self-check gate.
#   ann_lsh        v2 (r4): top-3 for ALL vectors via 24-table
#                  hyperplane LSH + brute-force recall gate (was a
#                  narrower single-table probe).
#   corpus_clean   (not headlined) v2 (r4): + curriculum position,
#                  v3 (r5): + shard manifest columns.
WORK_VERSIONS = {
    "dedup_exact": 2,
    "dedup_simhash": 2,
    "ann_lsh": 2,
}


def run_headline() -> None:
    import __spark_entry__ as entrymod
    from web_crawler_spark.session import get_spark

    spark = get_spark(app="wcs-bench", cores=CPUS)
    qs = entrymod.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        fn(spark, SF_DIR).count()  # warm JIT/codegen + file listing once
        # min of two timed runs: the hypervisor throttles granted cycles
        # in multi-second bursts (r4 saw one stage go 4s -> 56s within a
        # single session), so a single-shot timing is a lottery. The work
        # is deterministic and identical across runs; min-of-2 applied
        # uniformly to every key is the noise-robust estimator, same
        # discipline as the crawl loop's best-of-2 retry.
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _materialize(fn(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    crawl = crawl_throughput(spark)
    timings["crawl_loop"] = crawl["elapsed_sec"]
    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "headline query+crawl wall time at sf (sec, lower=better); "
                  "crawl throughput in .crawl",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "work_versions": {k: WORK_VERSIONS.get(k, 1)
                          for k in timings if k != "crawl_loop"},
        "sf": _sf_of(SF_DIR),
        "cores": CPUS,
        "crawl": crawl,
    }))


# ------------------------------------------------------- crawl throughput

def crawl_throughput(spark, n: int = 5000, n_hosts: int = 60,
                     per_host_k: int = 32, max_rounds: int = 10,
                     retry_over: float = 80.0) -> dict:
    """Full BSP crawl loop on a deterministic fixture; reports the
    BASELINE.json metric pair: frontier URLs/sec (rows scheduled through
    eligibility each round) + fetched-rows/sec. per_host_k=32 sizes the
    per-round batch the way a production budget would (the BSP round has
    a fixed ~10s driver+commit cost; amortize it over real batches)."""
    from fixtures.gen import generate
    from web_crawler_spark.config import CrawlConfig
    from web_crawler_spark.plans.crawl import CrawlEngine

    fix = f"/tmp/wcs_bench_fix_n{n}_s{n_hosts}_v2"
    if not os.path.exists(os.path.join(fix, "corpus.parquet")):
        generate(fix, n=n, n_hosts=n_hosts, n_seeds=n_hosts)
    cfg = CrawlConfig(per_host_k=per_host_k, max_rounds=max_rounds)

    def one_run(tag: str) -> dict:
        run_dir = f"/tmp/wcs_bench_run_n{n}_k{per_host_k}_c{CPUS}_{tag}"
        shutil.rmtree(run_dir, ignore_errors=True)
        eng = CrawlEngine(spark, fix, run_dir, cfg)
        t0 = time.perf_counter()
        eng.init_state()
        fetched_total, frontier_total = 0, 0
        for r in range(cfg.max_rounds):
            info = eng.run_round(r)
            fetched_total += info["fetched"]
            frontier_total += info["frontier"]
            if info["stopped"]:
                break
        elapsed = time.perf_counter() - t0
        return {
            "elapsed_sec": round(elapsed, 3),
            "rounds": eng.cat.round + 1,
            "fetched_rows": fetched_total,
            "fetched_rows_per_sec": round(fetched_total / elapsed, 1),
            "frontier_urls_per_sec": round(frontier_total / elapsed, 1),
        }

    # the sandbox hypervisor throttles granted cycles in bursts (2-5x
    # between runs — BENCH/BASELINE.md spin control); a single-shot
    # timing is a lottery. If the first run looks throttled, run once
    # more and report the better window (results are deterministic —
    # both runs produce the identical crawl). The retry has no upper
    # cutoff: a pathologically slow first run (r5 saw 263s against a
    # 126s quiet-window twin, interleaved A/B) is MORE likely to be a
    # throttle burst, not less — the old `< 2.5 * retry_over` ceiling
    # skipped the retry exactly when it mattered most.
    def one_run_caught(tag: str) -> dict:
        # a crashed attempt must stay diagnosable from the BENCH artifact
        # (type + first line), not evaporate into a truncated stderr tail
        try:
            return one_run(tag)
        except Exception as ex:
            first = str(ex).splitlines()[0][:300] if str(ex) else ""
            return {"elapsed_sec": float("inf"), "rounds": 0, "fetched_rows": 0,
                    "fetched_rows_per_sec": 0.0, "frontier_urls_per_sec": 0.0,
                    "error": f"{type(ex).__name__}: {first}"}

    best = one_run_caught("a")
    if "error" in best or best["elapsed_sec"] > retry_over:
        second = one_run_caught("b")
        best["retried"] = True
        second["retried"] = True
        if "error" in best and "error" not in second:
            second["first_attempt_error"] = best["error"]
            best = second
        elif second["elapsed_sec"] < best["elapsed_sec"]:
            best = second
    if best.get("elapsed_sec") == float("inf"):
        best["elapsed_sec"] = -1.0  # keep the JSON line parseable
    return best


def run_soak() -> None:
    """Amortization evidence: the BSP round has a fixed driver cost
    (~5-8s locally), so fetched-rows/sec must GROW with per-round batch
    size — this is the scale story for 10^10-frontier rounds where
    batches are millions of rows. Runs the same loop at three batch
    scales and prints one JSON line."""
    from web_crawler_spark.session import get_spark

    spark = get_spark(app="wcs-soak", cores=CPUS)
    out = {}
    tiers = [
        ("small", 5000, 60, 32, 5),
        ("medium", 20000, 400, 32, 5),
        ("large", 60000, 2000, 64, 5),
    ]
    if "--xlarge" in sys.argv:
        # ~8k-row rounds: fixture gen is ~50s/1.4GB, so opt-in
        tiers.append(("xlarge", 200000, 4000, 128, 5))
    for tag, n, hosts, k, rounds in tiers:
        r = crawl_throughput(spark, n=n, n_hosts=hosts, per_host_k=k,
                             max_rounds=rounds, retry_over=1e9)
        r["batch_per_round"] = round(r["fetched_rows"] / max(r["rounds"], 1))
        out[tag] = r
    print(json.dumps({"metric": "crawl fetched-rows/sec vs per-round batch size",
                      "soak": out, "cores": CPUS}))


# ------------------------------------------------------- frontier stress

def run_frontier_stress(rows: int, hosts: int, k: int, cores: int) -> None:
    """North-rule frontier metric at stress scale: drive the ENGINE's
    ``schedule_batch`` — the exact code ``run_round`` schedules with —
    over a synthetic deterministic frontier of ``rows`` URLs across
    ``hosts`` hosts and report frontier URLs/sec. The frontier is
    generated distributed from ``spark.range`` (256 partitions, no
    fixture files, no driver materialization), with a heavy-tailed
    host-size distribution (hash-cubed mapping: the largest host holds
    ~(1/hosts)^(1/3) of all URLs) so the per-host top-k window sees the
    hot-domain skew the salted bucketing exists for, and ~1% of hosts
    carry a politeness clock so the host_next join path is exercised.

    10^8 rows at local[32] is the single-node 1% slice of the 10^10-URL
    frontier target: the plan contains one window shuffle on host, one
    broadcast offset join, and no driver-sized state, so the same job
    over 100x the rows on ~1000 executors is the same per-partition
    work."""
    from pyspark.sql import functions as F

    from web_crawler_spark.config import CrawlConfig
    from web_crawler_spark.plans.crawl import _bucket, schedule_batch
    from web_crawler_spark.session import get_spark

    spark = get_spark(app="wcs-frontier", cores=cores,
                      shuffle_partitions=max(cores * 4, 32))
    cfg = CrawlConfig(per_host_k=k)
    u = (F.pmod(F.xxhash64("id", F.lit(11)), F.lit(1_000_000))
         / F.lit(1_000_000.0))
    host_id = F.floor(F.lit(float(hosts)) * u * u * u).cast("long")
    host = F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example"))
    frontier = spark.range(0, rows, 1, 256).select(
        F.concat(F.lit("http://"), host, F.lit("/p/"),
                 F.col("id").cast("string")).alias("canon_url"),
        F.xxhash64(F.concat(F.lit("http://"), host, F.lit("/p/"),
                            F.col("id").cast("string"))).alias("url_hash"),
        host.alias("host"),
        F.pmod(F.xxhash64("id", F.lit(13)), F.lit(4)).cast("int").alias("priority"),
        F.col("id").alias("discovered_seq"),
        F.lit(0).alias("ready_round"),
    ).withColumn("bucket", _bucket(F.col("host"), F.col("canon_url"), cfg))
    host_next = spark.range(0, max(hosts // 100, 1)).select(
        F.concat(F.lit("h"), (F.col("id") * 100).cast("string"),
                 F.lit(".example")).alias("host"),
        F.lit(1).alias("next_round"),
    )
    # authority mode (cfg.priority_mode="authority" in the engine): a
    # host-level quantized-rank frame, the realistic size (one row per
    # host — the frame a rank refresh would broadcast at 10^10-URL
    # scale). Ranks are synthetic but heavy-tailed like PageRank.
    host_rank = spark.range(0, hosts).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        (F.pmod(F.xxhash64("id", F.lit(17)), F.lit(1_000_000)) + 1)
        .alias("rank_q"),
    )

    def one(mode: str) -> dict:
        # next_seq sizes the two-phase seq's range buckets (plans/seq.py):
        # 8*rows keeps the packed offset array ~2k entries
        batch, sel = schedule_batch(
            frontier, host_next, 0, cfg, next_seq=8 * rows,
            next_fetch_seq=0,
            host_rank=host_rank if mode == "authority" else None)
        t0 = time.perf_counter()
        _materialize(batch)
        wall = round(time.perf_counter() - t0, 3)
        n_sel = batch.count()  # cheap: recomputes from the persisted `sel`
        sel.unpersist()
        return {"selected": n_sel, "elapsed_sec": wall,
                "frontier_urls_per_sec": round(rows / wall, 1),
                "selected_per_sec": round(n_sel / wall, 1)}

    res = {"bfs": one("bfs"), "authority": one("authority")}
    ratio = round(res["authority"]["elapsed_sec"]
                  / res["bfs"]["elapsed_sec"], 3)
    print(json.dumps({
        "metric": "frontier URLs/sec through the engine's scheduling "
                  "superstep (synthetic heavy-tailed frontier), BFS and "
                  "authority priority modes interleaved",
        "rows": rows, "hosts": hosts, "per_host_k": k, "cores": cores,
        **res["bfs"],
        "modes": res,
        "authority_over_bfs_wall": ratio,
    }))


# ----------------------------------------------------------- seen stress

def run_seen_stress(rows: int, seen_n: int, cores: int,
                    sketch_kind: str = "bloom") -> None:
    """The URL-seen check at stress scale: filter_new_urls — the ENGINE's
    seen-membership path — over 10^8 synthetic candidates against a
    10^7-row seen table, exact anti-join vs Bloom-sketch-routed, same
    inputs, results asserted identical. Candidates with id % (rows //
    seen_n) == 0 are seen (a 10% hit rate at the defaults: the steady
    state of a crawl where most discovered links are new). The sketch
    path's claim is measured, not assumed: suspects (= rows that pay
    the anti-join shuffle) are counted, and both walls are reported."""
    from pyspark.sql import functions as F

    from web_crawler_spark.core import bloom
    from web_crawler_spark.plans.crawl import filter_new_urls
    from web_crawler_spark.session import get_spark

    spark = get_spark(app="wcs-seen", cores=cores,
                      shuffle_partitions=max(cores * 4, 32))
    stride = max(rows // seen_n, 1)
    url = F.concat(F.lit("http://h"), (F.pmod(F.col("id"), F.lit(9973))).cast("string"),
                   F.lit(".example/p/"), F.col("id").cast("string"))
    cand = spark.range(0, rows, 1, 256).select(
        F.xxhash64(url).alias("url_hash"), url.alias("canon_url"))
    seen = spark.range(0, rows, stride, 64).select(
        F.xxhash64(url).alias("url_hash"), url.alias("canon_url"))

    t0 = time.perf_counter()
    exact = filter_new_urls(cand, seen)
    _materialize(exact)
    t_exact = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    if sketch_kind == "cuckoo":
        from web_crawler_spark.core import cuckoo
        # 4 slots/bucket, load < 0.6 at seen_n: same sizing rule as
        # CrawlConfig.cuckoo_buckets scaled to the stress set
        n_buckets = 1 << max(int(seen_n).bit_length() - 1, 14)
        cf = cuckoo.build_sketch(seen.select("url_hash"), n_buckets)
        maybe = cuckoo.contains_udf(spark, cf)
    else:
        # ~10 bits/key for the seen set: FPR < 1%, 16 MiB broadcast at 10^7
        m_bits = 1 << max(int(seen_n).bit_length() + 3, 22)
        sketch = bloom.build_sketch(seen.select("url_hash"), m_bits)
        maybe = bloom.contains_udf(spark, sketch, m_bits)
    t_build = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    routed = filter_new_urls(cand, seen, maybe_udf=maybe)
    _materialize(routed)
    t_routed = round(time.perf_counter() - t0, 3)
    # diagnostic, untimed: how many rows paid the anti-join shuffle
    n_suspects = (cand.withColumn("_maybe", maybe("url_hash"))
                  .filter("_maybe").count())

    n_exact, n_routed = exact.count(), routed.count()
    assert n_exact == n_routed, (n_exact, n_routed)
    print(json.dumps({
        "metric": "URL-seen check at stress scale: exact anti-join vs "
                  "sketch-routed (identical results asserted)",
        "sketch": sketch_kind,
        "candidates": rows, "seen": seen.count(), "new": n_exact,
        "cores": cores, "exact_sec": t_exact,
        "sketch_build_sec": t_build, "routed_sec": t_routed,
        "suspects": n_suspects,
        "antijoin_rows_saved_frac": round(1 - n_suspects / rows, 4),
        "speedup_vs_exact": round(t_exact / t_routed, 2),
    }))


# ----------------------------------------------------------- pack stress

def run_pack_stress(rows: int, ctx_len: int, cores: int) -> None:
    """Sequence packing (T24) at stress scale: pack 10^8 synthetic docs
    (deterministic token counts, no text materialized) into ctx_len
    windows through pipeline_ops.pack_sequences_df and verify token
    conservation distributed. Exercises with_global_prefix_sum's
    two-phase shape at a bucket count sized like the engine's db rule
    (~rows/2048 per bucket → ~2k packed offsets)."""
    from pyspark.sql import functions as F

    from web_crawler_spark.plans.pipeline_ops import pack_sequences_df
    from web_crawler_spark.session import get_spark

    spark = get_spark(app="wcs-pack", cores=cores,
                      shuffle_partitions=max(cores * 4, 32))
    docs = spark.range(0, rows, 1, 256).select(
        F.col("id").alias("doc_id"),
        (F.lit(50) + F.pmod(F.xxhash64("id"), F.lit(300))).alias("n_tok"))
    segs = pack_sequences_df(docs, ctx_len,
                             bucket_size=max(rows // 2048, 4096),
                             tok_col="n_tok")
    t0 = time.perf_counter()
    _materialize(segs)
    wall = round(time.perf_counter() - t0, 3)
    total_in = docs.agg(F.sum("n_tok")).first()[0]
    total_out = segs.agg(F.sum("seg_len")).first()[0]
    assert total_in == total_out, (total_in, total_out)
    n_segs = segs.count()
    print(json.dumps({
        "metric": "sequence-packing docs/sec at stress scale "
                  "(token conservation asserted)",
        "docs": rows, "ctx_len": ctx_len, "cores": cores,
        "segments": n_segs, "tokens": int(total_out),
        "elapsed_sec": wall, "docs_per_sec": round(rows / wall, 1),
        "tokens_per_sec": round(total_out / wall, 1),
    }))


# ---------------------------------------------------------- spans stress

def run_spans_stress(rows: int, cores: int) -> None:
    """Exact-substring span dedup (T28) at stress scale: a synthetic
    corpus generated entirely JVM-side (one deterministic token per
    (doc, position) — no Python, no driver data) with PLANTED structure:
    every 50th doc is a byte-exact copy of the doc 50 below it, and
    every 17th doc is prefixed with a shared 12-token boilerplate run.
    Runs pipeline_ops.dup_spans_df end-to-end and verifies the planted
    counts distributed: copies must yield whole-doc spans, the
    boilerplate run must be found in every planted doc, and unplanted
    unique docs must have zero spans."""
    from pyspark.sql import functions as F

    from web_crawler_spark.plans.pipeline_ops import dup_spans_df
    from web_crawler_spark.session import get_spark

    spark = get_spark(app="wcs-spans", cores=cores,
                      shuffle_partitions=max(cores * 4, 32))
    run = " ".join(f"boiler{i}" for i in range(12))
    # gen_id: copies share their source's generated body (deterministic
    # generator => identical text); vocab 50k makes accidental 8-gram
    # collisions between distinct (doc, pos) streams impossible in
    # practice, so dup structure is exactly the planted structure
    # copy pairs: ids ≡ 50 (mod 100) generate from id-50 (≡ 0 mod 100,
    # which is never remapped itself — a naive `every 50th copies id-50`
    # chains remappings and produces no duplicate text at all)
    base = spark.range(0, rows, 1, 256).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 100 == 50, F.col("id") - 50)
        .otherwise(F.col("id")).alias("gen_id"),
    )
    # hashed token stream, NOT an arithmetic progression: with tokens
    # linear in (gen_id, j), 131·Δgen ≡ 7919·Δj (mod vocab) makes whole
    # doc FAMILIES share long runs (one congruence covers every gram
    # position) — measured: every doc got flagged. Hashing breaks it.
    body = F.expr(
        "concat_ws(' ', transform(sequence(0, 39 + cast(gen_id % 21 as int)),"
        " j -> concat('w', pmod(xxhash64(gen_id * 4096 + j), 50021))))")
    docs = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 0,
               F.concat(F.lit(run), F.lit(" "), body))
        .otherwise(body).alias("text"),
    )
    spans = dup_spans_df(docs, k=8)
    t0 = time.perf_counter()
    _materialize(spans)
    wall = round(time.perf_counter() - t0, 3)
    # distributed invariant checks (no driver-side row data)
    agg = spans.agg(
        F.count("*").alias("n_spans"),
        F.countDistinct("doc_id").alias("docs_hit"),
        F.sum("span_len").alias("dup_tokens")).first()
    boiler_docs = (rows + 16) // 17          # ids ≡ 0 (mod 17)
    copy_docs = max(0, (rows - 50 + 99) // 100)  # ids ≡ 50 (mod 100)
    # recall floor: every boiler doc + both members of every copy pair
    # are hit; precision ceiling: NOTHING ELSE is (a generator collision
    # — the arithmetic-progression failure above — blows through it)
    assert agg["docs_hit"] >= boiler_docs, (agg["docs_hit"], boiler_docs)
    assert agg["n_spans"] >= boiler_docs + copy_docs, \
        (agg["n_spans"], boiler_docs, copy_docs)
    assert agg["docs_hit"] <= boiler_docs + 2 * copy_docs, \
        (agg["docs_hit"], boiler_docs, copy_docs)
    tokens = rows * 50  # ~avg body length, for throughput reporting
    print(json.dumps({
        "metric": "exact-substring span dedup docs/sec at stress scale "
                  "(planted copy/boilerplate recall asserted)",
        "docs": rows, "cores": cores,
        "spans": int(agg["n_spans"]), "docs_hit": int(agg["docs_hit"]),
        "dup_tokens": int(agg["dup_tokens"]),
        "elapsed_sec": wall, "docs_per_sec": round(rows / wall, 1),
        "approx_tokens_per_sec": round(tokens / wall, 1),
    }))


# ------------------------------------------------- spans hot-gram skew

def run_spans_hot(rows: int, cores: int, hot_every: int = 2,
                  hot_len: int = 8) -> None:
    """T28 skew evidence (round-5 fix): ONE k-token boilerplate run
    planted in every `hot_every`-th doc, so a single k-gram KEY
    carries rows/hot_every occurrences — the license-header/navbar shape this
    operator exists to find, and the exact key that used to funnel into
    ONE window task (`count(*) OVER (PARTITION BY g)` has no partial
    aggregation and AQE cannot split a window partition).

    Runs the SAME hot corpus through BOTH shapes, interleaved in one
    session (sandbox CPU noise discipline):
      - `window`  — the old count-OVER-gram twin (local here, for A/B);
      - `tiered`  — the production dup_spans_df (groupBy(g).count with
        map-side combine; df>hot_df grams broadcast-SEMI so hot
        positions never shuffle on g; bounded-df rest via shuffle SEMI
        behind a broadcast ANTI).
    AQE is NOT the safety net here and the probe proves why: with the
    un-tiered join-back, AQE broadcast the tiny dup set at runtime but
    the already-materialized position exchange was read 1:1 — a 10M-row
    hot partition in ONE task (10.7 s vs 0.45 s median, measured) —
    and the skew splitter rewrites only join stages, never a plain
    skewed read.
    The UI REST API is scraped for per-stage task-duration quantiles;
    each shape reports its worst max/median task-duration ratio over
    stages with >= 8 tasks. The groupby shape must show no straggler
    (worst ratio bounded); the window twin's hot stage is expected to
    blow through it — the JSON shows both so the contrast is measured,
    not asserted from theory."""
    import urllib.request

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from web_crawler_spark.plans.pipeline_ops import dup_spans_df
    from web_crawler_spark.session import get_spark

    # reducer count sized the way a 1000-executor cluster's would be
    # (thousands of shuffle partitions), with AQE partition coalescing
    # OFF for this probe: coalescing to ~38 fat local partitions makes
    # every partition ~the hot key's size and hides the straggler that
    # a real cluster would see (one hot key pins ONE of 10^4 reducers
    # while the rest finish in ms). Skew-JOIN splitting stays ON — that
    # is the mechanism under test for the join-back shape.
    spark = get_spark(app="wcs-spans-hot", cores=cores,
                      shuffle_partitions=512,
                      extra={"spark.ui.enabled": "true",
                             "spark.sql.adaptive.coalescePartitions.enabled":
                             "false"})
    k = 8
    # skew concentrates on ONE gram KEY, so the hot run is exactly k
    # tokens (hot_len=k -> a single hot k-gram) and its df = the number
    # of planted docs (rows/hot_every, millions). A LONGER run would
    # spread df over hot_len-k+1 DISTINCT gram keys that hash to
    # different partitions — no straggler at all (measured: flat). The
    # base body is kept short (11-13 tokens) so the hot key dominates
    # total gram volume the way a license header dominates a crawl.
    hot_run = " ".join(f"hot{i}" for i in range(hot_len))
    body = F.expr(
        "concat_ws(' ', transform(sequence(0, 10 + cast(doc_id % 3 as int)),"
        " j -> concat('w', pmod(xxhash64(doc_id * 4096 + j), 50021))))")
    docs = spark.range(0, rows, 1, 128).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % hot_every == 0,
               F.concat(F.lit(hot_run), F.lit(" "), body))
        .otherwise(body).alias("text"),
    )

    def window_twin(d):
        # the pre-round-5 shape, kept ONLY as the A/B straggler exhibit
        toks = F.expr(
            "filter(split(lower(regexp_replace(text, '[^a-z0-9]+', ' ')), ' '),"
            " x -> x <> '')")
        t = (d.select("doc_id", toks.alias("t"))
             .withColumn("n_tokens", F.size("t"))
             .filter(F.col("n_tokens") >= k))
        g = (t.select("doc_id", "t",
                      F.explode(F.expr(f"sequence(0, n_tokens - {k})")).alias("pos"))
             .select("doc_id", "pos",
                     F.expr(f"md5(concat_ws(' ', slice(t, pos + 1, {k})))").alias("g")))
        return (g.withColumn("_df", F.count("*").over(W.partitionBy("g")))
                .filter(F.col("_df") > 1)
                .groupBy("doc_id").agg(F.count("*").alias("n_hits")))

    seen_stage_ids: set = set()

    def task_skew() -> dict:
        # worst max/median task duration over completed stages with
        # >= 8 tasks, from the UI REST API (quantile endpoint). Only
        # stages NEW since the last call count, so each shape's scrape
        # covers exactly its own jobs.
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        stages = json.loads(urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete",
            timeout=30).read())
        worst = {"ratio": 0.0, "stage": None, "max_ms": 0, "med_ms": 0}
        for s in stages:
            if s["stageId"] in seen_stage_ids:
                continue
            seen_stage_ids.add(s["stageId"])
            if s.get("numCompleteTasks", 0) < 8:
                continue
            q = json.loads(urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages/{s['stageId']}/"
                f"{s['attemptId']}/taskSummary?quantiles=0.5,1.0",
                timeout=30).read())
            med, mx = q["executorRunTime"]
            if med <= 0:
                med = 1.0
            ratio = mx / med
            if mx >= 500 and ratio > worst["ratio"]:  # ignore trivial stages
                worst = {"ratio": round(ratio, 2), "stage": s["stageId"],
                         "max_ms": int(mx), "med_ms": int(med)}
        return worst

    results = {}
    for name, frame in (("window", window_twin(docs)),
                        ("tiered", dup_spans_df(docs, k=k))):
        t0 = time.perf_counter()
        _materialize(frame)
        wall = round(time.perf_counter() - t0, 3)
        results[name] = {"elapsed_sec": wall, "worst_task_skew": task_skew()}
    hot_docs = (rows + hot_every - 1) // hot_every  # ids ≡ 0 (mod hot_every)
    agg = dup_spans_df(docs, k=k).agg(
        F.countDistinct("doc_id").alias("docs_hit")).first()
    assert agg["docs_hit"] >= hot_docs - 1, (agg["docs_hit"], hot_docs)
    print(json.dumps({
        "metric": "T28 hot-gram (one gram key, df=rows/hot_every) straggler A/B: "
                  "old window shape vs production two-tier join-back",
        "docs": rows, "hot_docs": hot_docs, "cores": cores,
        "shapes": results,
    }))


# ------------------------------------------------------------- scale job

def run_scale_job(cores: int, rows: int) -> None:
    """One crawl-shaped superstep, sized so vectorized compute (image
    encode/decode + pHash DCT + PSNR + MinHash) dominates scheduling:
    the honest stand-in for 'same job at N and 4N executors'. Input is
    a fixed 128-partition range — identical at every parallelism.
    (128 parts = 16 waves at local[8], 4 waves at local[32]; mapInPandas
    carries ~0.2s fixed overhead per task, so partitions are few and
    rows many — compute must dominate for the efficiency number to
    mean anything.)"""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from web_crawler_spark.core import imagecodec, phash as ph
    from web_crawler_spark.functions.udfs import caption_bands_udf, url_parts_udf
    from web_crawler_spark.session import get_spark

    spark = get_spark(app=f"wcs-scale-{cores}", cores=cores,
                      shuffle_partitions=max(cores * 4, 32))

    def fetch_verify(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # simulated fetch: seeded pixels per id → lossy encode → decode →
        # pHash + PSNR-vs-original (the engine's per-row invariant path)
        for pdf in it:
            n = len(pdf)
            phashes = np.empty(n, dtype=np.int64)
            psnrs = np.empty(n, dtype=np.float64)
            caps = []
            for i, rid in enumerate(pdf["id"].to_numpy()):
                rng = np.random.default_rng(7000 + int(rid))
                px = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
                enc = imagecodec.encode(px, "q6")
                dec = imagecodec.decode(enc, 64, 64, "q6")
                phashes[i] = ph.phash(dec)
                psnrs[i] = min(imagecodec.psnr(px, dec), 99.0)
                caps.append(" ".join(f"w{(int(rid) * 31 + k) % 211:03d}" for k in range(10)))
            yield pdf.assign(phash=phashes, psnr_db=psnrs, caption=caps)

    def chain(n_rows: int):
        base = spark.range(0, n_rows, 1, 128).select(
            "id",
            F.concat(F.lit("HTTP://H"), (F.col("id") % 97).cast("string"),
                     F.lit(".Example:80/p/"), F.col("id").cast("string"),
                     F.lit("#frag")).alias("url"),
        )
        canon = (
            base.select("id", "url", url_parts_udf("url").alias("u"))
            .select("id", "url", "u.canon_url", "u.host")
            .withColumn("url_hash", F.xxhash64("canon_url"))
            .withColumn("salt", F.pmod(F.xxhash64("canon_url"), F.lit(16)))
            .withColumn("bucket", F.pmod(F.xxhash64("host", "salt"), F.lit(128)).cast("int"))
        )
        wk = Window.partitionBy("host").orderBy("url_hash")
        sel = canon.withColumn("rn", F.row_number().over(wk)).drop("rn")
        fetched = sel.mapInPandas(
            fetch_verify,
            "id long, url string, canon_url string, host string, url_hash long, "
            "salt long, bucket int, phash long, psnr_db double, caption string",
        )
        verified = fetched.withColumn("bands", caption_bands_udf("caption"))
        pband = F.array(*[F.shiftrightunsigned("phash", s).bitwiseAND(F.lit(0xFFFF))
                          for s in (0, 16, 32, 48)])
        return (
            verified.select("bucket", "psnr_db",
                            F.posexplode(pband).alias("band_idx", "band_val"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n"), F.min("psnr_db").alias("min_psnr"),
                 F.countDistinct("band_val").alias("n_band_vals"))
        )

    chain(2048).count()  # warm python workers / codegen / page cache
    best = float("inf")
    for _rep in range(int(os.environ.get("WCS_SCALE_REPEATS", "2"))):
        t0 = time.perf_counter()
        n_buckets = chain(rows).count()
        best = min(best, time.perf_counter() - t0)
    print(json.dumps({
        "cores": cores, "rows": rows, "elapsed_sec": round(best, 3),
        "rows_per_sec": round(rows / best, 1), "n_buckets": n_buckets,
    }))


def _spin_control(nproc: int) -> float:
    """Hardware control: pure-CPU spin via multiprocessing (no Spark, no
    memory traffic). On this sandbox the hypervisor throttles aggregate
    cycles as concurrency rises, so raw N→4N efficiency is capped below
    1.0 for ANY software; this measures that cap so the engine's own
    scaling can be reported normalized to the cycles actually granted."""
    from multiprocessing import Pool

    def _best(pool_n: int) -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            with Pool(pool_n) as p:
                p.map(_spin_task, [3_000_000] * pool_n * 2)
            best = min(best, time.perf_counter() - t0)
        return pool_n * 2 * 3_000_000 / best

    return _best(nproc)


def _spin_task(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def _scaling_attempt(rows: int, n_lo: int, n_hi: int) -> dict:
    spin_lo, spin_hi = _spin_control(n_lo), _spin_control(n_hi)
    hw_ratio = spin_hi / (4.0 * spin_lo)
    results = {}
    for cores in (n_lo, n_hi):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(cores)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scale-job",
             "--cores", str(cores), "--rows", str(rows)],
            capture_output=True, text=True, cwd=REPO, env=env, check=True,
        )
        results[cores] = json.loads(out.stdout.strip().splitlines()[-1])
    thr_lo, thr_hi = results[n_lo]["rows_per_sec"], results[n_hi]["rows_per_sec"]
    raw_eff = thr_hi / (4.0 * thr_lo)
    return {"spin_lo": spin_lo, "spin_hi": spin_hi, "hw_ratio": hw_ratio,
            "results": results, "raw_eff": raw_eff, "sw_eff": raw_eff / hw_ratio}


def run_scaling(rows: int, n_lo: int = 8, n_hi: int = 32,
                attempts: int = 2) -> None:
    # The hypervisor's granted-cycle ratio swings 2-5x between windows,
    # and raw efficiency tracks it almost exactly (r2/r3 evidence). Run
    # the whole protocol several times and headline the MEDIAN attempt by
    # the hardware control (ADVICE r3: picking the quietest window
    # selects on a variable correlated with raw_eff and biases the
    # headlined raw number upward by construction; the median does not).
    # For even attempt counts the LOWER middle is taken — conservative,
    # never flattering. Every attempt is still tabled, raw + normalized.
    runs = [_scaling_attempt(rows, n_lo, n_hi) for _ in range(max(1, attempts))]
    by_hw = sorted(runs, key=lambda a: a["hw_ratio"])
    pick = by_hw[(len(by_hw) - 1) // 2]
    spin_lo, spin_hi, hw_ratio = pick["spin_lo"], pick["spin_hi"], pick["hw_ratio"]
    results, raw_eff, sw_eff = pick["results"], pick["raw_eff"], pick["sw_eff"]
    thr_lo, thr_hi = results[n_lo]["rows_per_sec"], results[n_hi]["rows_per_sec"]
    attempts_md = "\n".join(
        f"| {i + 1}{' (headlined)' if a is pick else ''} | {a['hw_ratio']:.3f} "
        f"| {a['raw_eff']:.3f} | {a['sw_eff']:.3f} |"
        for i, a in enumerate(runs))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # Persistent ledger: EVERY protocol run ever executed gets one row
    # here, appended before BASELINE.md is regenerated — no window's
    # numbers can be dropped by a later rewrite.
    hist_path = os.path.join(REPO, "BENCH", "SCALING_HISTORY.md")
    if not os.path.exists(hist_path):
        with open(hist_path, "w") as f:
            f.write(
                "# Scaling protocol ledger — one row per full run, "
                "append-only\n\n"
                "| when (UTC) | config | rows | attempts "
                "(hw ratio → raw / sw) | headlined raw | headlined sw |\n"
                "|---|---|---|---|---|---|\n")
    with open(hist_path, "a") as f:
        att = " · ".join(f"{a['hw_ratio']:.3f} → {a['raw_eff']:.3f}/"
                         f"{a['sw_eff']:.3f}" for a in runs)
        f.write(f"| {time.strftime('%Y-%m-%d %H:%M', time.gmtime())} "
                f"| {n_lo}->{n_hi} | {rows} | {att} "
                f"| {raw_eff:.3f} | {sw_eff:.3f} |\n")
    with open(hist_path) as f:
        history_md = f.read()
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(f"""# BENCH — measured throughput + two-parallelism scaling evidence

Protocol (session brief / BASELINE.json north_rule): the same
crawl-shaped superstep (URL canonicalize -> salted host-hash bucket ->
simulated fetch with image encode/decode + pHash + PSNR verification ->
MinHash banding -> per-bucket dedup agg) over the identical seeded
{rows}-row, 128-partition input at two parallelism levels — the
sandbox stand-in for N vs 4N executors (no real cluster here; the
spark-submit path for a real cluster is scripts/submit.sh).

## Hardware control (no Spark)

A pure-CPU spin loop via multiprocessing measures how many cycles the
sandbox actually grants as concurrency rises (this VM throttles
aggregate cycles: ~{hw_ratio:.2f} of ideal when going {n_lo}->{n_hi}
procs). No software can scale past the cycles it is given, so the
engine's own scaling is reported both raw and normalized by this cap.

| control | procs={n_lo} | procs={n_hi} | granted-cycle ratio (4N vs 4xN) |
|---|---|---|---|
| spin throughput (ops/s) | {spin_lo:.3e} | {spin_hi:.3e} | {hw_ratio:.3f} |

## Engine scale job (best of repeats)

| config | rows | wall (s) | throughput (rows/sec) |
|---|---|---|---|
| local[{n_lo}]  (N)  | {rows} | {results[n_lo]['elapsed_sec']} | {thr_lo} |
| local[{n_hi}] (4N) | {rows} | {results[n_hi]['elapsed_sec']} | {thr_hi} |

- raw efficiency            = thr(4N) / (4 x thr(N)) = **{raw_eff:.3f}**
- hardware-granted ceiling  = **{hw_ratio:.3f}** (spin control above)
- **software scaling efficiency** = raw / ceiling = **{sw_eff:.3f}**
  (target >= 0.8 — measures the ENGINE's overhead growth with
  parallelism, isolated from the sandbox's cycle throttling)

A software number above 1.0 is not super-efficiency — it means the
spin control (run minutes apart from the engine jobs) under-measured
the cycles the engine's own window was granted; granted cycles swing
2-5x between micro-windows on this sandbox. In those windows the RAW
number is the trustworthy one; the normalized number only adds
information when the control and the engine saw comparable windows
(raw <= ceiling).

## All attempts this measurement

The full protocol ran {len(runs)} time(s); the headlined attempt is the
MEDIAN by the hardware control (lower middle on even counts) — selection
never looks at the engine's own numbers, and the median of the control
does not bias the headlined raw number upward the way best-window
selection would (raw efficiency is correlated with the granted-cycle
ratio). The normalized software efficiency is the comparable figure
across windows; raw efficiency per attempt is tabled for transparency.

| attempt | granted-cycle ratio | raw eff | software eff |
|---|---|---|---|
{attempts_md}

Command: `python bench.py --scaling --rows {rows} --lo {n_lo} --hi {n_hi}`.
Crawl-loop throughput (full BSP loop to frontier exhaustion) is
reported per-round in `BENCH_r*.json` under `.crawl` by
`python bench.py`.

## Every protocol run (append-only ledger, BENCH/SCALING_HISTORY.md)

{history_md}
""")
    print(json.dumps({
        f"local{n_lo}": results[n_lo], f"local{n_hi}": results[n_hi],
        "hw_granted_ratio": round(hw_ratio, 3),
        "raw_efficiency": round(raw_eff, 3),
        "software_scaling_efficiency": round(sw_eff, 3),
    }))


if __name__ == "__main__":
    args = sys.argv[1:]

    def _flag(name: str, default: int) -> int:
        return int(args[args.index(name) + 1]) if name in args else default

    if "--scale-job" in args:
        run_scale_job(_flag("--cores", CPUS), _flag("--rows", 1200000))
    elif "--scaling" in args:
        run_scaling(_flag("--rows", 1200000), attempts=_flag("--attempts", 2),
                    n_lo=_flag("--lo", 8), n_hi=_flag("--hi", 32))
    elif "--soak" in args:
        run_soak()
    elif "--frontier" in args:
        run_frontier_stress(_flag("--rows", 100_000_000),
                            _flag("--hosts", 1_000_000),
                            _flag("--k", 16), _flag("--cores", CPUS))
    elif "--seen" in args:
        kind = args[args.index("--sketch") + 1] if "--sketch" in args else "bloom"
        run_seen_stress(_flag("--rows", 100_000_000),
                        _flag("--seen-n", 10_000_000), _flag("--cores", CPUS),
                        sketch_kind=kind)
    elif "--pack" in args:
        run_pack_stress(_flag("--rows", 100_000_000),
                        _flag("--ctx", 2048), _flag("--cores", CPUS))
    elif "--spans-hot" in args:
        run_spans_hot(_flag("--rows", 8_000_000), _flag("--cores", CPUS),
                      hot_every=_flag("--hot-every", 2),
                      hot_len=_flag("--hot-len", 8))
    elif "--spans" in args:
        run_spans_stress(_flag("--rows", 2_000_000), _flag("--cores", CPUS))
    else:
        run_headline()
