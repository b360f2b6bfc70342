"""The distributed crawl engine — BSP supersteps over catalog snapshots.

Implements, Spark-first, the frozen semantics of oracle/refcrawler.py
(which executably defines BASELINE.json's north_star behaviors: priority
frontier, per-host politeness buckets with robots gating, canonicalized
URL seen-set, exact + MinHash/pHash near-dup rejection, per-partition
lineage metrics, snapshot resume). Engine output must match the oracle
100% on crawl order and seen set — tests/test_crawl_oracle.py asserts it.

Scale design (10^10-URL frontier; sandbox runs are scaled down):
- The frontier is bucket-partitioned by SALTED host-hash
  (pmod(xxhash64(host, salt), n_buckets), salt = pmod(xxhash64(url),
  n_salts)) so one hot domain spreads across buckets instead of pinning
  one partition (north_rule's "defeat hot-domain skew"). Politeness state
  stays keyed by HOST (not salt) and is re-aggregated each round.
- Eligibility, per-host top-k, dedup candidate generation are all
  shuffle-on-key DataFrame ops; LSH banding turns the O(n²) near-dup
  search into equi-joins (explode band → join on (band_idx, band_val)).
- Binary image bytes never enter a wide shuffle: only candidate PAIRS
  (post-LSH, post-hamming) re-join the corpus to fetch bytes for the
  PSNR verification (mapInPandas, Arrow-batched).
- Exact seen-set semantics: the graded membership decision is always the
  anti-join against the seen TABLE; sketches (bloom filter join pruning
  is enabled in session.py) only prune, never decide. The anti-join keys
  on the int64 url_hash FIRST with the canon_url string as a secondary
  equi-key: shuffle partitioning and sort comparisons resolve on the
  hash, the string equality is the exactness residual (hash collisions
  can never create a false "seen").
- Global sequence numbers (fetch_seq per batch, discovered_seq over a
  round's new links) are assigned by the TWO-PHASE scheme in plans/seq.py
  — per-bucket row_number + prefix-summed bucket offsets — never by an
  unpartitioned window. One round's discoveries at 10^10 scale are
  billions of rows; a single-partition window there is the canonical
  scale-killer.
- A round is a chain of durable barriers, not one DAG of cached frames:
  fetch → survivors → crawl_log → new discoveries each land once as
  parquet (the table part the round appends anyway, or a catalog scratch
  part its commit deletes) and later steps scan them back. Spark expands
  a cached frame inline once per reference in every plan and every plan
  string AQE posts, so stacked caches made the driver, not the data, the
  round's cost. Unlike an executor-local cut of the lineage, a parquet
  part survives a lost executor: the next job re-reads it instead of
  recomputing.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_crawler_spark import schemas
from web_crawler_spark.config import CrawlConfig
from web_crawler_spark.core import bloom, cuckoo
from web_crawler_spark.functions.udfs import (
    caption_bands_udf,
    jaccard3_udf,
    pair_psnr_cols,
    url_parts_udf,
)
from web_crawler_spark.plans.seq import with_global_seq
from web_crawler_spark.sources import robots as robots_src
from web_crawler_spark.sources.catalog import ManifestCatalog

SURVIVOR_COLS = schemas.SURVIVORS.fieldNames()


def _metrics_arrow(rows: list[tuple]):
    """Per-round metrics rows (already collected — they are at most
    n_buckets+1 tuples) as a pyarrow table with schemas.METRICS' arrow
    schema, for the catalog's driver-side append (no Spark job for a
    literal)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(schemas.METRICS)
    return pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows], schema=schema)


def _with_url_parts(df: DataFrame, *keep: str) -> DataFrame:
    """``keep`` columns plus canon_url, host and path of ``url`` — one
    fused UDF call, so one Arrow eval node and one Python worker per
    task."""
    return (df.select(*keep, url_parts_udf("url").alias("_u"))
            .select(*keep, "_u.canon_url", "_u.host", "_u.path"))


def link_targets_expr(image_id_col, n_corpus: int):
    """JVM twin of core.web.out_links (the deterministic link function
    the oracle uses): sorted distinct out-link indices of the image, no
    self-loop. Shared by the crawl round's discovery step and the
    link-graph VIEW (reports.link_edges) so the graph analytics see
    exactly the edges the crawl followed."""
    nl = F.lit(n_corpus)
    idx = F.substring(image_id_col, 5, 8).cast("long")
    d = (idx * 7919 + 13) % 6
    raw = F.transform(F.sequence(F.lit(1), d.cast("int")),
                      lambda k: (idx * 17 + k.cast("long") * 101 + 7) % nl)
    return F.when(d >= 1, F.array_sort(F.array_remove(F.array_distinct(raw), idx))
                  ).otherwise(F.array().cast("array<bigint>"))


def _bucket(host_col, url_col, cfg: CrawlConfig):
    salt = F.pmod(F.xxhash64(url_col), F.lit(cfg.n_salts))
    return F.pmod(F.xxhash64(host_col, salt), F.lit(cfg.n_buckets)).cast("int")


def schedule_batch(frontier, host_next, r: int, cfg: CrawlConfig, *,
                   next_seq: int, next_fetch_seq: int,
                   budget_left: int | None = None,
                   host_rank=None):
    """The frontier-scheduling superstep, standalone: eligibility filter
    → politeness-clock join → per-host top-k (parallel window on the
    host key) → optional global budget truncation → two-phase global
    fetch_seq (plans/seq.py — priority + a range-bucket of
    discovered_seq is a monotone coarsening of the batch order, so
    assignment stays parallel; no single-partition window over the
    batch).

    Returns ``(batch, sel)``: the scheduled batch with ``fetch_seq``
    assigned, and the persisted selection frame (callers unpersist it
    after the round's actions — it is cached so the count and
    row_number branches share one evaluation of the eligibility
    subplan). Used by ``CrawlEngine.run_round`` and, over a synthetic
    10^8-row frontier, by ``tools/stress.py --frontier`` — the stress evidence
    for the north-rule frontier-URLs/sec metric runs this exact code.

    ``host_rank`` (cfg.priority_mode="authority"): a small (host,
    rank_q) frame — quantized host-level PageRank from rounds < r. When
    given, the CROSS-host batch order becomes (-rank_q, priority,
    discovered_seq): high-authority hosts fetch (and survive a budget
    cut) first. Hosts absent from the link graph rank 0 (below every
    in-graph host's strictly-positive quantized rank). Within-host
    order and the per-host politeness top-k are UNCHANGED — authority
    is constant inside a host, so only the interleave moves. The frame
    is host-level (≪ frontier) and broadcasts; with host_rank=None this
    function is bit-for-bit the BFS path."""
    # plan-node economy: the crawl builds this graph EVERY round, so each
    # DataFrame transform below costs a driver-side analysis pass per
    # superstep (py4j round trips + Catalyst re-analysis). Filters are
    # fused and derived columns ride the narrowest possible number of
    # select/selectExpr nodes — same logical plan, fewer API nodes.
    elig = (
        frontier.where(f"ready_round <= {int(r)}")
        .join(host_next, "host", "left")
        .where(f"coalesce(next_round, 0) <= {int(r)}")
        .drop("next_round")
    )
    if host_rank is not None:
        elig = (
            elig.join(F.broadcast(host_rank), "host", "left")
            .selectExpr("* EXCEPT (rank_q)",
                        "-cast(coalesce(rank_q, 0) AS long) AS _nrq")
        )
    db = max(1, int(next_seq) // 4096)
    sel = (
        elig.selectExpr(
            "*",
            "row_number() OVER (PARTITION BY host "
            "ORDER BY priority, discovered_seq) AS rn",
            f"cast(discovered_seq / {db} AS long) AS _db")
        .where(f"rn <= {int(cfg.per_host_k)}").drop("rn")
    )
    order = (["_nrq"] if host_rank is not None else []) + ["priority", "discovered_seq"]
    if budget_left is not None:
        sel = sel.orderBy(*order).limit(int(budget_left))
    sel = sel.persist()
    keys = (["_nrq"] if host_rank is not None else []) + ["priority", "_db"]
    batch = with_global_seq(
        sel, keys, ["discovered_seq"],
        "fetch_seq", start=int(next_fetch_seq),
    ).drop("_db", "_nrq")
    return batch, sel


def filter_new_urls(cand, seen_tbl, maybe_udf=None):
    """The URL-seen membership filter, standalone: keep rows of ``cand``
    whose (url_hash, canon_url) is NOT in ``seen_tbl``.

    Equi-join keyed on the int64 url_hash FIRST, canon_url second —
    partitioning/sort comparisons resolve on the 8-byte hash; the
    string equality is the exactness residual (a hash collision can
    never mark a genuinely-new URL as seen).

    With ``maybe_udf`` (a broadcast Bloom/cuckoo sketch probe, §4.3)
    the check is sketch-ROUTED: sketch misses are provably new and SKIP
    the anti-join entirely; only suspected-seen rows
    (~|seen∩cand| + FPR·|cand|) pay the shuffle. The two branches are
    disjoint, so exactness is preserved. Used by
    ``CrawlEngine.run_round`` every round and stressed at 10^8
    candidates by ``tools/stress.py --seen`` (BENCH/FRONTIER.md)."""
    keys = ["url_hash", "canon_url"]
    if maybe_udf is None:
        return cand.join(seen_tbl, keys, "left_anti")
    fh = cand.withColumn("_maybe", maybe_udf("url_hash"))
    suspects = fh.filter("_maybe").join(seen_tbl, keys, "left_anti")
    return fh.filter(~F.col("_maybe")).unionByName(suspects).drop("_maybe")


class CrawlEngine:
    def __init__(self, spark: SparkSession, fix_dir: str, run_dir: str,
                 cfg: CrawlConfig = CrawlConfig()):
        self.spark = spark
        self.fix_dir = fix_dir
        self.cfg = cfg
        self.cat = ManifestCatalog(spark, run_dir, table_schemas={
            "frontier": schemas.FRONTIER,
            "seen": schemas.SEEN,
            "host_next": schemas.HOST_NEXT,
            "crawl_log": schemas.CRAWL_LOG,
            "bands": schemas.BAND_IDX,
            "metrics": schemas.METRICS,
            "url_map": schemas.URL_MAP,
            "survivors": schemas.SURVIVORS,
        })
        self._ulm = None  # cached url_map frame (static after init)
        self._rank_cache = None  # (through_round, rank frame) memo
        self.corpus = spark.read.parquet(os.path.join(fix_dir, "corpus.parquet"))
        self.n_corpus = self.corpus.count()
        txt_dir = os.path.join(fix_dir, "robots_txt")
        if os.path.isdir(txt_dir):
            # parse real robots.txt bodies (sources/robots.py) — the
            # fidelity path; robots.json is the oracle's view of the
            # same rules, so oracle-equivalence also proves the parser.
            # persist: this dimension is broadcast-joined several times
            # per round and must not re-list/re-parse files each job
            self.robots = robots_src.load_robots_txt_dir(spark, txt_dir).persist()
        else:
            with open(os.path.join(fix_dir, "robots.json")) as f:
                robots = json.load(f)
            self.robots = spark.createDataFrame(
                [(h, v["disallow"], v.get("allow", []), float(v["crawl_delay"]))
                 for h, v in robots.items()],
                schema=schemas.ROBOTS,
            )
        self._sketch = None  # broadcast seen-set sketch (cfg.bloom_prefilter)

    def _sketch_udf(self):
        """maybe_seen pandas_udf over the broadcast seen-set sketch,
        built distributed (per-partition mergeable sketches, merged on
        the driver) and maintained incrementally with per-round deltas.
        Backend per cfg.seen_sketch: Bloom (OR-merge) or cuckoo
        (re-insertion merge + deletion support). Prefilter ONLY — a
        miss is provably-new, a hit still goes through the exact
        anti-join; a saturated cuckoo degrades to all-True, never to a
        false negative."""
        seen = self.cat.read("seen").select("url_hash")
        if self.cfg.seen_sketch == "cuckoo":
            if self._sketch is None:
                self._sketch = cuckoo.build_sketch(seen, self.cfg.cuckoo_buckets)
            return cuckoo.contains_udf(self.spark, self._sketch)
        if self._sketch is None:
            self._sketch = bloom.build_sketch(seen, self.cfg.bloom_bits)
        return bloom.contains_udf(self.spark, self._sketch, self.cfg.bloom_bits)

    def _sketch_absorb(self, delta_df) -> None:
        """Fold a round's new url_hashes into the maintained sketch."""
        if self._sketch is None:
            return
        if self.cfg.seen_sketch == "cuckoo":
            self._sketch = self._sketch.merge(
                cuckoo.build_sketch(delta_df, self.cfg.cuckoo_buckets))
        else:
            self._sketch = bloom.merge(
                self._sketch, bloom.build_sketch(delta_df, self.cfg.bloom_bits))

    def _host_rank_q(self, through_round: int | None = None):
        """Quantized host-level PageRank from the COMMITTED crawl_log
        (rounds < r): the authority signal priority_mode="authority"
        feeds into schedule_batch. Quantization floor(rank*1e6 + 0.5)
        makes the ordering identical between this engine's distributed
        double sums and the sequential oracle's numpy power iteration
        (parity ~1e-15 ≪ the 1e-6 grid). The graph is HOST-level —
        orders of magnitude smaller than the page graph (10^6-ish hosts
        vs 10^10 pages at the design point), so the per-round power
        iteration is a small job beside the round's fetch work; ranks
        of a round could also be cached forward and refreshed every k
        rounds without changing the contract. Callers skip the call
        while the log is empty (round 0 has no history — pure BFS).

        ``through_round``: rank-as-of semantics — only log rows with
        round < through_round feed the graph (authority_refresh_every:
        round r uses through_round = r - (r % k)). The landed result is
        memoized per through_round, so between refreshes the PageRank
        job doesn't rerun; the cache key is derived from r alone plus
        the committed log, making a resume recompute the identical
        rank."""
        from web_crawler_spark.plans import reports
        from web_crawler_spark.plans.pipeline_ops import pagerank_df

        if self._rank_cache is not None and self._rank_cache[0] == through_round:
            return self._rank_cache[1]
        if self._ulm is None:
            self._ulm = self.cat.read("url_map").persist()
        edges = (
            reports.link_edges(self.cat, self._ulm, self.n_corpus,
                               max_round=through_round)
            .filter(F.col("src_host") != F.col("dst_host"))
            .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
        )
        pr = pagerank_df(edges, iters=self.cfg.authority_iters,
                         damping=self.cfg.authority_damping)
        out = pr.select(
            F.col("id").alias("host"),
            F.floor(F.col("rank") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("rank_q"),
        )
        # pagerank_df returns a landed frame (its iterations already ran);
        # memoizing it per through_round lets later rounds between
        # refreshes reuse it without re-running the power iteration
        self._rank_cache = (through_round, out)
        return out

    # ------------------------------------------------------------------ init
    def _url_map(self) -> DataFrame:
        urls = self.spark.read.parquet(os.path.join(self.fix_dir, "urls.parquet"))
        return _with_url_parts(urls, "image_id")

    def init_state(self) -> None:
        """Round -1: seed the frontier + seen set (seeds.txt in file
        order, then sitemap URLs as depth-0 discoveries ordered by
        (sitemap host, in-file position) — SURVEY.md S4); materialize
        url_map."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        cfg, spark = self.cfg, self.spark
        url_map = self._url_map()
        self.cat.stage("url_map", url_map.repartition(8, "canon_url"))

        with open(os.path.join(self.fix_dir, "seeds.txt")) as f:
            seeds = [l.strip() for l in f if l.strip()]
        n = len(seeds)
        # from Arrow the rows reach the JVM as a local relation; a list of
        # tuples is re-pickled by a Python RDD job, which starts a second
        # worker daemon beside the one the UDFs use
        seeds_df = spark.createDataFrame(pa.table({
            "url": pa.array(seeds, pa.string()),
            "phase": pa.array([0] * n, pa.int32()),
            "ord_host": pa.array([""] * n, pa.string()),
            "pos": pa.array(range(n), pa.int32()),
        }))
        sm_dir = os.path.join(self.fix_dir, "sitemaps")
        if os.path.isdir(sm_dir):
            sm = robots_src.load_sitemaps(spark, sm_dir).select(
                "url", F.lit(1).alias("phase"),
                F.col("host").alias("ord_host"), F.col("pos"))
            seeds_df = seeds_df.unionByName(sm)
        s = _with_url_parts(seeds_df, "phase", "ord_host", "pos")
        # first occurrence per canonical URL, in enqueue order (contract)
        w = Window.partitionBy("canon_url").orderBy("phase", "ord_host", "pos")
        s = s.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
        s = s.join(F.broadcast(self.robots), "host", "left")
        # persisted: the frontier stage (whose sequence pass reads it
        # twice) and the seen append share one run of the URL pipeline
        s = s.select(
            "canon_url", "host", "phase", "ord_host", "pos",
            robots_src.allowed_expr(F.col("path"), F.col("disallow"), F.col("allow"))
            .alias("allowed"),
        ).persist()
        allowed = s.filter("allowed")
        # (phase, ord_host) buckets are a monotone coarsening of the
        # (phase, ord_host, pos) enqueue order → parallel assignment
        allowed = with_global_seq(allowed, ["phase", "ord_host"], ["pos"], "discovered_seq")
        frontier = allowed.select(
            F.col("canon_url"),
            F.xxhash64("canon_url").alias("url_hash"),
            F.col("host"),
            _bucket(F.col("host"), F.col("canon_url"), cfg).alias("bucket"),
            F.lit(0).alias("priority"),
            "discovered_seq",
            F.lit(0).alias("ready_round"),
        )
        seen = s.select("canon_url", F.xxhash64("canon_url").alias("url_hash"))
        with ThreadPoolExecutor(max_workers=2) as ex:
            futs = [ex.submit(self.cat.stage, "frontier", frontier, 8),
                    ex.submit(self.cat.append, "seen", seen, 1)]
            # the empty tables are driver-side writes, no Spark job
            tbl = self.cat.table_schemas
            self.cat.stage_local("host_next", to_arrow_schema(tbl["host_next"]).empty_table())
            for name in ("survivors", "bands", "crawl_log", "metrics"):
                self.cat.append_local(name, to_arrow_schema(tbl[name]).empty_table())
            for f in futs:
                f.result()
        s.unpersist()
        # footer-only count of the staged frontier — no Spark job
        n_seq = self.cat.staged_rowcount("frontier")
        self.cat.commit(-1, {"next_seq": n_seq, "next_fetch_seq": 0, "budget_spent": 0})

    # ----------------------------------------------------------------- round
    def run_round(self, r: int) -> dict:
        cfg, cat = self.cfg, self.cat
        ctr = cat.counters()
        budget_left = (cfg.global_budget - ctr["budget_spent"]
                       if cfg.global_budget is not None else None)
        if budget_left is not None and budget_left <= 0:
            return {"fetched": 0, "frontier": cat.staged_rowcount("frontier"), "stopped": True}

        frontier = cat.read("frontier")
        host_next = cat.read("host_next")
        # authority ranks are refreshed every k rounds: round r ranks on
        # the log as of its last refresh round
        rank_round = r - r % max(1, int(cfg.authority_refresh_every))
        batch, sel = schedule_batch(
            frontier, host_next, r, cfg,
            next_seq=int(ctr["next_seq"]),
            next_fetch_seq=int(ctr["next_fetch_seq"]),
            budget_left=budget_left,
            host_rank=(self._host_rank_q(rank_round)
                       if cfg.priority_mode == "authority" and rank_round > 0
                       and int(ctr["next_fetch_seq"]) > 0 else None),
        )
        # url_map is static after init — read once, cache across rounds
        if self._ulm is None:
            self._ulm = cat.read("url_map").persist()
        url_map = self._ulm

        # every frame a later step reuses is read back from parquet (see
        # the module docstring); the round's only cache is ``sel``, built
        # on committed table scans alone

        # -- fetch: frontier batch ⋈ url_map ⋈ corpus (the sandbox's HTTP GET)
        fetched, n_fetched = cat.scratch("fetch", (
            batch.join(url_map.select("image_id", "canon_url"), "canon_url", "inner")
            .join(self.corpus, "image_id", "inner")
            # bytes re-joined only for candidate PAIRS (scale: §4.4)
            .selectExpr("* EXCEPT (bytes)", "sha2(bytes, 256) AS content_sha")
        ))
        if n_fetched == 0:
            # politeness-stalled round: the committed snapshot already is
            # the next state, so write no table at all
            sel.unpersist()
            cat.discard_scratch()
            n_frontier = cat.staged_rowcount("frontier")
            return {"fetched": 0, "frontier": n_frontier, "stopped": n_frontier == 0}

        # -- exact dedup: first-writer-wins per content hash, global order.
        # The survivors part this round appends IS the batch's survivor
        # frame: the near-dup steps below scan it back.
        prior_surv = cat.read("survivors")
        fresh = (
            fetched.selectExpr(
                "*", "row_number() OVER (PARTITION BY content_sha "
                     "ORDER BY fetch_seq) AS sha_rn")
            .join(prior_surv.select("content_sha").distinct()
                  .selectExpr("content_sha", "true AS in_prior"),
                  "content_sha", "left")
            .where("in_prior IS NULL AND sha_rn = 1")
        )
        batch_surv = cat.read_part("survivors", cat.append(
            "survivors",
            fresh.select(*[caption_bands_udf("caption").alias("bands")
                           if c == "bands" else c for c in SURVIVOR_COLS]),
            1))
        all_surv = prior_surv.unionByName(batch_surv)

        # -- LSH band INDEX tables: pre-exploded postings, appended per
        # round. Candidate generation joins only the NEW batch's bands
        # against the committed index — O(|batch|·bands) join input per
        # round instead of re-exploding the full survivor history
        # (the difference between O(n) and O(n²) total work over a
        # 10^10-row crawl). Attributes needed by the residual filters
        # are joined back from the survivor table by fetch_seq.
        pband_arr = F.array(*[
            F.shiftrightunsigned("phash", s).bitwiseAND(F.lit(0xFFFF))
            for s in (0, 16, 32, 48)
        ])
        batch_pb = batch_surv.select(
            "fetch_seq", F.posexplode(pband_arr).alias("band_idx", "band_val"))
        batch_cb = batch_surv.select(
            "fetch_seq", F.posexplode("bands").alias("band_idx", "band_val"))
        bands_idx = cat.read("bands")
        pidx = bands_idx.filter(F.col("kind") == "p").drop("kind").unionByName(batch_pb)
        cidx = bands_idx.filter(F.col("kind") == "c").drop("kind").unionByName(batch_cb)
        bands_add = (
            batch_pb.withColumn("kind", F.lit("p"))
            .unionByName(batch_cb.withColumn("kind", F.lit("c")))
        )

        _ATTR_SRC = {"seq": "fetch_seq", "id": "image_id", "w": "w",
                     "h": "h", "phash": "phash", "caption": "caption"}

        def attrs(side, cols=("seq", "id", "w", "h", "phash", "caption")):
            return all_surv.selectExpr(
                *[f"{_ATTR_SRC[c]} AS {side}_{c}" for c in cols])

        # image near-dup: pHash 4×16-bit bands → index join → verify
        img_cand = (
            batch_pb.selectExpr("fetch_seq AS x_seq", "band_idx", "band_val")
            .join(pidx.selectExpr("fetch_seq AS y_seq", "band_idx", "band_val"),
                  ["band_idx", "band_val"])
            .where("y_seq < x_seq")
            .select("x_seq", "y_seq").distinct()
        )
        img_pairs = (
            img_cand.join(attrs("x"), "x_seq").join(attrs("y"), "y_seq")
            .where(f"x_w = y_w AND x_h = y_h AND x_caption = y_caption "
                   f"AND bit_count(x_phash ^ y_phash) <= "
                   f"{int(cfg.phash_max_hamming)}")
            .select("x_seq", "x_id", "y_seq", "y_id")
        )
        cor = self.corpus.select("image_id", "bytes", "w", "h", "fmt")
        pairs_b = (
            img_pairs
            .join(cor.selectExpr("image_id AS x_id", "bytes AS a_bytes",
                                 "w AS a_w", "h AS a_h", "fmt AS a_fmt"), "x_id")
            .join(cor.selectExpr("image_id AS y_id", "bytes AS b_bytes",
                                 "w AS b_w", "h AS b_h", "fmt AS b_fmt"), "y_id")
        )
        img_dups = (
            pair_psnr_cols(pairs_b)
            .where(f"pair_psnr >= {float(cfg.psnr_floor)!r}")
            .selectExpr("x_seq AS fetch_seq").distinct()
        )

        # caption near-dup: MinHash bands → index join → exact Jaccard
        cap_cand = (
            batch_cb.selectExpr("fetch_seq AS x_seq", "band_idx", "band_val")
            .join(cidx.selectExpr("fetch_seq AS y_seq", "band_idx", "band_val"),
                  ["band_idx", "band_val"])
            .where("y_seq < x_seq")
            .select("x_seq", "y_seq").distinct()
        )
        cap_pairs = (
            cap_cand
            .join(attrs("x", ("seq", "caption")), "x_seq")
            .join(attrs("y", ("seq", "caption")), "y_seq")
        )
        cap_dups = (
            cap_pairs.withColumn("jac", jaccard3_udf("x_caption", "y_caption"))
            .where(f"jac >= {float(cfg.jaccard_theta)!r}")
            .selectExpr("x_seq AS fetch_seq").distinct()
        )

        # -- statuses (priority: dup_exact > neardup_image > neardup_caption);
        # a fetched row is an exact dup iff it did not survive. Kept rows
        # are NOT materialized as their own table: they are the survivors
        # the log marks 'kept' (see images_kept())
        log_add = (
            fetched.join(batch_surv.selectExpr("fetch_seq", "true AS is_surv"),
                         "fetch_seq", "left")
            .join(img_dups.selectExpr("fetch_seq", "true AS is_img_dup"),
                  "fetch_seq", "left")
            .join(cap_dups.selectExpr("fetch_seq", "true AS is_cap_dup"),
                  "fetch_seq", "left")
            .select(
                "fetch_seq", F.lit(r).alias("round"), "canon_url", "host", "image_id",
                "priority", "discovered_seq",
                F.expr("CASE WHEN is_surv IS NULL THEN 'dup_exact' "
                       "WHEN is_img_dup IS NOT NULL THEN 'neardup_image' "
                       "WHEN is_cap_dup IS NOT NULL THEN 'neardup_caption' "
                       "ELSE 'kept' END").alias("status"))
        )
        # the crawl_log part this round appends stands in for the status
        # frame: politeness, discovery and metrics read only its columns
        # (plus the frontier bucket, a pure function of host and URL)
        with ThreadPoolExecutor(max_workers=4) as ex:
            futs = [ex.submit(cat.append, "bands", bands_add, 1)]
            log_part = cat.read_part("crawl_log", cat.append("crawl_log", log_add, 1))

            # -- politeness clocks: per HOST (re-aggregated across salt buckets)
            hn_new = (
                log_part.select("host").distinct()
                .join(F.broadcast(self.robots.select("host", "crawl_delay")), "host", "left")
                .selectExpr(
                    "host",
                    f"cast({r + 1} + ceil(coalesce(crawl_delay, "
                    f"{cfg.default_delay!r})) AS int) AS next_round")
            )
            futs.append(ex.submit(cat.stage, "host_next", (
                host_next.unionByName(hn_new).groupBy("host")
                .agg(F.max("next_round").alias("next_round")))))

            # -- metrics with per-partition (bucket) lineage: one count_if
            # pass over the log part; the ≤ n_buckets result rows are
            # collected and appended driver-side once the round's link
            # counts are in
            _is = lambda s: F.count_if(F.col("status") == s)
            bucket_rows_fut = ex.submit(lambda: (
                log_part.groupBy(_bucket(F.col("host"), F.col("canon_url"), cfg)
                                 .alias("bucket"))
                .agg(F.count("*").alias("fetched"), _is("kept").alias("kept"),
                     _is("dup_exact").alias("dup_exact"),
                     _is("neardup_image").alias("neardup_image"),
                     _is("neardup_caption").alias("neardup_caption"))
                .collect()))

            # -- discoveries: link UDTF (JVM-side pure function) → canon → seen/robots
            targets = link_targets_expr(F.col("image_id"), self.n_corpus)
            links = (
                log_part.select("fetch_seq", "priority",
                                F.posexplode(targets).alias("link_pos", "target"))
                .withColumn("t_image_id", F.concat(
                    F.lit("img-"), F.lpad(F.col("target").cast("string"), 8, "0")))
            )
            disc = links.join(url_map, links.t_image_id == url_map.image_id, "inner").select(
                "fetch_seq", "link_pos", "priority", "canon_url", "host", "path",
                F.xxhash64("canon_url").alias("url_hash"),
            )
            n_links_fut = ex.submit(disc.count)
            first = disc.selectExpr(
                "*", "row_number() OVER (PARTITION BY url_hash, canon_url "
                     "ORDER BY fetch_seq, link_pos) AS rn").where("rn = 1").drop("rn")
            seen_tbl = cat.read("seen").select("url_hash", "canon_url")
            new = filter_new_urls(
                first, seen_tbl,
                maybe_udf=self._sketch_udf() if cfg.bloom_prefilter else None)
            new, n_new = cat.scratch("new", (
                new.join(F.broadcast(self.robots.select("host", "disallow", "allow")),
                         "host", "left")
                .select("fetch_seq", "link_pos", "priority", "canon_url", "url_hash",
                        "host", robots_src.allowed_expr(
                            F.col("path"), F.col("disallow"), F.col("allow")
                        ).alias("allowed"))
            ))
            seen_fut = ex.submit(cat.append, "seen", new.select("canon_url", "url_hash"), 1)

            # two-phase discovered_seq over (fetch_seq, link_pos): range-
            # buckets of fetch_seq are a monotone coarsening of the
            # discovery order — one round's new links can be billions of
            # rows at frontier scale, so no unpartitioned window here.
            # The bucket WIDTH is a fixed 4096 fetch_seqs: with_global_seq's
            # output is independent of the granularity (any width yields
            # the same total order). The offset pass is O(B²) additions in
            # one task over the bucket count B, so the width must keep B
            # in the low thousands at the design point: ~2.4k buckets at
            # 10^7-fetch rounds (a width of 64 would give ~156k buckets,
            # ~1.2e10 additions). Windows stay ≤ 4096×fan-out rows.
            fb = 4096
            an = with_global_seq(
                new.filter("allowed").withColumn(
                    "_fb",
                    ((F.col("fetch_seq") - F.lit(int(ctr["next_fetch_seq"])))
                     / F.lit(fb)).cast("long")),
                ["_fb"], ["fetch_seq", "link_pos"],
                "discovered_seq", start=int(ctr["next_seq"]),
            )
            frontier_add = an.select(
                "canon_url",
                "url_hash",
                "host",
                _bucket(F.col("host"), F.col("canon_url"), cfg).alias("bucket"),
                (F.col("priority") + 1).alias("priority"),
                "discovered_seq",
                F.lit(r + 1).alias("ready_round"),
            )
            # frontier lands coalesced (content is what matters; at
            # cluster scale the stage would bucket-partition by the
            # salted host hash for co-located reads — locally that extra
            # shuffle per round is pure overhead). The anti-join reads the
            # cached selection (batch's rows, without re-running
            # with_global_seq's sequence subplan).
            futs.append(ex.submit(cat.stage, "frontier", (
                frontier.join(sel.select("discovered_seq"), "discovered_seq", "left_anti")
                .unionByName(frontier_add)), 8))
            n_allowed = new.where("allowed").count()
            n_links = n_links_fut.result()
            cat.append_local("metrics", _metrics_arrow(
                [(r, int(b["bucket"]), int(b["fetched"]), int(b["kept"]),
                  int(b["dup_exact"]), int(b["neardup_image"]),
                  int(b["neardup_caption"]), 0, 0) for b in bucket_rows_fut.result()]
                + [(r, -1, 0, 0, 0, 0, 0,
                    int(n_new - n_allowed), int(n_links - n_new))],
            ))
            v_seen = seen_fut.result()
            for f in futs:
                f.result()
        cat.commit(r, {
            **ctr,  # carry forward maintenance markers (e.g. last_evicted)
            "next_seq": int(ctr["next_seq"] + n_allowed),
            "next_fetch_seq": int(ctr["next_fetch_seq"] + n_fetched),
            "budget_spent": int(ctr["budget_spent"] + n_fetched),
        })
        sel.unpersist()
        if cfg.bloom_prefilter and n_new > 0:
            # fold this round's delta (its committed seen part) into the
            # sketch (distributed build, driver-side merge — the
            # incremental path at 10^10 scale)
            self._sketch_absorb(cat.read_part("seen", v_seen))
        # footer-only count of the just-written frontier — no Spark job
        n_frontier = cat.staged_rowcount("frontier")
        return {"fetched": n_fetched, "frontier": n_frontier, "stopped": n_frontier == 0}

    # ------------------------------------------------------- recrawl window
    def evict_cohort(self, cohort_round: int) -> dict:
        """Recrawl-window eviction (north_star: the capability the cuckoo
        backend exists for): forget every URL FETCHED in `cohort_round` —
        delete it from the maintained cuckoo sketch (no rebuild; a Bloom
        bitarray cannot delete, so that backend just drops its sketch and
        rebuilds lazily from the compacted table) and compact it out of
        the seen table (catalog.replace → Iceberg overwrite snapshot).
        Afterward the engine treats those URLs as never seen: later link
        discoveries re-enqueue them with fresh discovered_seq and they
        are re-fetched deterministically. At 10^10 scale the same delete
        runs against per-partition sketches before the driver merge; the
        seen compaction is already fully distributed.

        Publishes a maintenance snapshot at the current round. Returns
        {"evicted": n, "sketch_removed": m}."""
        cohort = (
            self.cat.read("crawl_log")
            .filter(F.col("round") == cohort_round)
            .select("canon_url").distinct()
            .withColumn("url_hash", F.xxhash64("canon_url"))
            .persist()
        )
        n = cohort.count()
        removed = 0
        if n > 0:
            seen2 = self.cat.read("seen").join(
                cohort, ["url_hash", "canon_url"], "left_anti")
            self.cat.replace("seen", seen2, 1)
            if self._sketch is not None:
                if self.cfg.seen_sketch == "cuckoo":
                    # scale-safe targeted delete (VERDICT r3 #3): build
                    # the cohort's OWN cuckoo sketch distributed (per-
                    # partition tables, driver merge — only fixed-size
                    # packed tables cross, never the cohort's ~10^8-row
                    # url_hash list), then vectorized-delete its entries
                    # from the maintained sketch. Exact same net effect
                    # as per-key delete (tests/test_cuckoo.py equivalence)
                    cohort_sk = cuckoo.build_sketch(
                        cohort, self.cfg.cuckoo_buckets)
                    if cohort_sk.overflowed:
                        # pathological kick-order overflow: fall back to
                        # the Bloom-style distributed rebuild from the
                        # compacted seen table — never a wrong sketch
                        self._sketch = None
                    else:
                        removed = self._sketch.delete_sketch(cohort_sk)
                else:
                    self._sketch = None  # Bloom: rebuild from compacted seen
        # commit even when the cohort is empty: the last_evicted marker is
        # what makes recrawl resume-safe (a crash between round commit and
        # eviction must not skip the cohort forever), and an empty-cohort
        # commit is a manifest write only — no Spark job
        ctr = self.cat.counters()
        ctr["last_evicted"] = max(int(ctr.get("last_evicted", -1)), cohort_round)
        self.cat.commit(self.cat.round, ctr)
        cohort.unpersist()
        return {"evicted": n, "sketch_removed": removed}

    def _evict_due(self, through_round: int) -> None:
        """Evict every cohort whose recrawl window has expired as of
        `through_round`, skipping those already marked done — called
        after each round AND once on resume, so a crash between a round's
        commit and its eviction replays the eviction instead of losing
        it (deterministic recrawl across restarts)."""
        last = int(self.cat.counters().get("last_evicted", -1))
        due = through_round - self.cfg.recrawl_window
        for c in range(max(last + 1, 0), due + 1):
            self.evict_cohort(c)

    def _maintain(self, r: int) -> None:
        """Post-commit table maintenance: compact append tables whose
        part count crossed the threshold, then expire old snapshots +
        orphan GC. Both are pure layout/storage operations — table
        contents are unchanged — so a crash between a round's commit and
        its maintenance needs NO resume replay (contrast _evict_due):
        the next trigger round simply compacts a few more parts."""
        cfg = self.cfg
        if cfg.compact_every and (r + 1) % cfg.compact_every == 0:
            did = False
            for name in self.cat.table_schemas:
                parts = self.cat.parts(name)  # empty for stage-based tables
                if parts and len(parts) >= cfg.compact_min_parts:
                    # toy scale: one part; a cluster passes a partition
                    # count sized to the Iceberg target file size
                    self.cat.compact(name, partitions=1)
                    did = True
            if did:
                self.cat.commit(self.cat.round, self.cat.counters())
        if cfg.snapshot_keep is not None:
            self.cat.expire_snapshots(cfg.snapshot_keep)

    # ------------------------------------------------------------ derived
    def images_kept(self) -> DataFrame:
        """Kept image+caption rows — a VIEW over committed tables (the
        survivors the crawl log marks 'kept'), not a per-round append:
        the Iceberg twin is a view over the same two tables."""
        kept_seq = (
            self.cat.read("crawl_log")
            .filter(F.col("status") == "kept").select("fetch_seq")
        )
        return (
            self.cat.read("survivors")
            .join(kept_seq, "fetch_seq", "left_semi")
            .select(*schemas.IMAGES_KEPT.fieldNames())
        )

    # ------------------------------------------------------------------- run
    def run(self) -> dict:
        if not self.cat.exists("frontier"):
            self.init_state()
        start = self.cat.round + 1
        total = 0
        if self.cfg.recrawl_window is not None and start > 0:
            # resume catch-up: evictions due after the last committed
            # round but lost to a crash before they ran
            self._evict_due(start - 1)
        for r in range(start, self.cfg.max_rounds):
            info = self.run_round(r)
            total += info["fetched"]
            if info["stopped"]:
                break
            if self.cfg.recrawl_window is not None:
                self._evict_due(r)
            if self.cfg.compact_every or self.cfg.snapshot_keep is not None:
                self._maintain(r)
        return {"rounds": self.cat.round + 1, "fetched_total": total}
