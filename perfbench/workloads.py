"""The benchmark's workloads. Each is a closed loop with one client: the
next crawl round or query starts only after the previous one returned.

A workload prepares its seeded inputs (cached, see ``inputs``), warms
the session, then runs a fixed number of passes. A pass is the unit
whose wall time and process-tree CPU time are recorded: one crawl from
``init_state`` to its last round followed by the host-authority report
over it, or one run of every query key. Outputs are checked after each
pass, outside the timed operations.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import inputs
import probe


@dataclass
class Op:
    kind: str            # "init" | "round" | "report" | "query"
    name: str
    start: float         # epoch seconds
    end: float
    ok: bool = True
    error: str = ""
    span_id: int | None = None
    py4j: int = 0        # py4j commands sent during the operation (traced runs)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Pass:
    ops: list[Op] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    cpu_s: float = 0.0   # CPU seconds of the whole process tree during the ops

    @property
    def seconds(self) -> float:
        return self.ops[-1].end - self.ops[0].start


def _timed(tracer, kind: str, name: str, fn) -> tuple[Op, object]:
    """Run one operation; with a tracer, inside an ``op.<kind>`` span."""
    token = None
    if tracer is not None:
        token = tracer.begin(f"op.{kind}")
        calls0 = tracer.counter.calls
    op = Op(kind, name, time.time(), 0.0)
    out = None
    try:
        out = fn()
    except Exception as ex:  # an operation that raises is a failed operation
        first = str(ex).splitlines()[0][:300] if str(ex) else ""
        op.ok, op.error = False, f"{type(ex).__name__}: {first}"
    op.end = time.time()
    if tracer is not None:
        op.span_id = tracer.end(token).id
        op.py4j = tracer.counter.calls - calls0
    return op, out


def n_passes(seconds: float, nominal_pass_s: float) -> int:
    """Passes that fill a window of ``seconds`` at the workload's nominal
    pass time, at least one. The count depends only on the arguments: a
    count set by the measured pass times would give a faster run more,
    and warmer, passes and so skew its median."""
    return max(1, round(seconds / nominal_pass_s))


# ------------------------------------------------------------------- crawl

class CrawlWorkload:
    """Crawls of a seeded ``fixtures.gen`` fixture with one ``CrawlConfig``,
    each followed by ``reports.host_authority`` (host PageRank over the
    crawl's link graph), checked against ``oracle.refcrawler`` on the
    same inputs."""

    kind = "crawl"

    def __init__(self, name: str, fixture: dict, cfg: dict, authority_iters: int,
                 nominal_pass_s: float):
        self.name, self.fixture, self.cfg = name, fixture, cfg
        self.authority_iters = authority_iters
        self.nominal_pass_s = nominal_pass_s

    def params(self, seed: int) -> dict:
        return {"workload": self.name, "seed": seed, "fixture": self.fixture, "cfg": self.cfg,
                "authority_iters": self.authority_iters}

    def prepare(self, root: str, cache_dir: str, seed: int) -> dict:
        self.entry, info = inputs.cached(
            root, cache_dir, self.params(seed),
            inputs.build_crawl(self.fixture, self.cfg, self.authority_iters, seed))
        self.fix_dir = os.path.join(self.entry, "fixture")
        return info

    def warm(self, spark, work_dir: str) -> None:
        """Load the reference answers and the fixture's corpus for the
        output checks, and build the first pass's engine (it reads the
        corpus and parses robots.txt); later passes build theirs between
        passes, outside the timed operations."""
        import pyarrow.parquet as pq

        self.work_dir = work_dir
        self.oracle = inputs.load_pickle(self.entry, "oracle.pkl")
        self.corpus = (pq.read_table(os.path.join(self.fix_dir, "corpus.parquet"))
                       .to_pandas().set_index("image_id"))
        self._first = self._engine(spark, 0)

    def _engine(self, spark, i: int):
        from web_crawler_spark.config import CrawlConfig
        from web_crawler_spark.plans.crawl import CrawlEngine

        run_dir = os.path.join(self.work_dir, f"crawl-{i}")
        shutil.rmtree(run_dir, ignore_errors=True)
        return CrawlEngine(spark, self.fix_dir, run_dir, CrawlConfig(**self.cfg))

    def measure(self, spark, seconds: float, tracer=None) -> list[Pass]:
        return [self._one_pass(spark, i, tracer)
                for i in range(n_passes(seconds, self.nominal_pass_s))]

    def _one_pass(self, spark, i: int, tracer) -> Pass:
        eng = self._first if i == 0 else self._engine(spark, i)
        p = Pass()
        cpu0 = probe.tree_cpu_s(os.getpid())
        op, _ = _timed(tracer, "init", "init_state", eng.init_state)
        p.ops.append(op)
        fetched, frontier = [], []
        for r in range(self.cfg["max_rounds"]):
            if not p.ops[-1].ok:
                break
            before = eng.cat.counters().get("next_fetch_seq", 0)
            # run() resumes from the committed round, so raising
            # max_rounds by one drives exactly one more round plus the
            # table maintenance the config schedules after it
            eng.cfg.max_rounds = r + 1
            op, _ = _timed(tracer, "round", f"round{r}", eng.run)
            p.ops.append(op)
            if op.ok:
                fetched.append(eng.cat.counters()["next_fetch_seq"] - before)
                frontier.append(eng.cat.staged_rowcount("frontier"))
        p.info = {"fetched": fetched, "frontier": frontier, "run_dir": eng.cat.run_dir,
                  "crawl_s": p.ops[-1].end - p.ops[0].start}
        if not p.ops[-1].ok:
            p.cpu_s = probe.tree_cpu_s(os.getpid()) - cpu0
            return p
        op, ranks = _timed(tracer, "report", "host_authority", lambda: self._authority(eng))
        p.ops.append(op)
        p.cpu_s = probe.tree_cpu_s(os.getpid()) - cpu0
        if op.ok:
            self.check(eng, p, ranks)
        return p

    def _authority(self, eng):
        from web_crawler_spark.plans import reports

        return reports.host_authority(eng.cat, eng.cat.read("url_map"), eng.n_corpus,
                                      iters=self.authority_iters).toPandas()

    def check(self, eng, p: Pass, ranks) -> None:
        """Crawl order, seen set, per-round counters, kept rows and host
        ranks against the reference; a mismatch fails the operation it
        shows in (the seen set and kept rows fail the last round)."""
        import numpy as np
        from pyspark.sql import functions as F

        from web_crawler_spark.core import imagecodec

        o = self.oracle
        cols = ["round", "canon_url", "host", "image_id", "priority", "discovered_seq", "status"]
        log = eng.cat.read("crawl_log").orderBy("fetch_seq").toPandas()
        rounds = [op for op in p.ops if op.kind == "round"]

        def fail(op: Op, why: str) -> None:
            if op.ok:
                op.ok, op.error = False, why

        got = {h: int(math.floor(r * 1e6 + 0.5)) for h, r in zip(ranks["host"], ranks["rank"])}
        if got != o["authority"]:
            diff = set(got.items()) ^ set(o["authority"].items())
            fail(p.ops[-1], f"host ranks: {len(diff)} (host, rank) pairs differ from oracle")

        for r, op in enumerate(rounds):
            mine = log[log["round"] == r].reset_index(drop=True)
            ref = o["crawl_log"][o["crawl_log"]["round"] == r].reset_index(drop=True)
            if len(mine) != len(ref) or (mine["fetch_seq"] != ref["fetch_seq"]).any():
                fail(op, f"crawl_log round {r}: {len(mine)} rows vs oracle {len(ref)}")
                continue
            bad = [c for c in cols if (mine[c] != ref[c]).any()]
            if bad:
                fail(op, f"crawl_log round {r}: columns {bad} differ from oracle")
        m = (eng.cat.read("metrics").groupBy("round").sum().toPandas()
             .sort_values("round").reset_index(drop=True))
        for r, op in enumerate(rounds):
            for c in ["fetched", "kept", "dup_exact", "neardup_image", "neardup_caption",
                      "rejected_robots", "rejected_seen"]:
                mine = m.loc[m["round"] == r, f"sum({c})"].tolist()
                if mine != o["metrics"].loc[o["metrics"]["round"] == r, c].tolist():
                    fail(op, f"metrics round {r}: {c} differs from oracle")
        last = rounds[-1]
        seen = {row.canon_url for row in eng.cat.read("seen").select("canon_url").collect()}
        if seen != set(o["seen"]):
            fail(last, f"seen set: {len(seen ^ set(o['seen']))} URLs differ from oracle")
        kept = (eng.images_kept().join(
            eng.corpus.select("image_id", "bytes", "w", "h", "fmt",
                              F.col("caption").alias("corpus_caption")), "image_id")
            .toPandas())
        okept = o["kept"].set_index("fetch_seq")
        if len(kept) != len(okept):
            fail(last, f"kept rows: {len(kept)} vs oracle {len(okept)}")
            return
        for row in kept.itertuples():
            ref = self.corpus.loc[row.image_id]
            dec = imagecodec.decode(row.bytes, row.w, row.h, row.fmt)
            ref_dec = imagecodec.decode(ref["bytes"], int(ref["w"]), int(ref["h"]), ref["fmt"])
            if (okept.loc[row.fetch_seq, "image_id"] != row.image_id
                    or row.caption != row.corpus_caption
                    or not (np.array_equal(dec, ref_dec)
                            or imagecodec.psnr(dec, ref_dec) >= 40.0)):
                fail(last, f"kept row fetch_seq={row.fetch_seq} fails image/caption check")
                return
        p.info["kept"] = len(kept)

    def outcome(self) -> dict:
        """Work outcome fixed by the seed, from the reference crawl (the
        engine's committed ``metrics`` table equals it when checks pass)."""
        m = self.oracle["metrics"].sum(numeric_only=True)
        fetched = max(float(m["fetched"]), 1.0)
        discovered = float(m["rejected_seen"]) + len(self.oracle["seen"])
        return {
            "outcome.kept_frac": float(m["kept"]) / fetched,
            "outcome.dup_exact": float(m["dup_exact"]),
            "outcome.neardup_image": float(m["neardup_image"]),
            "outcome.neardup_caption": float(m["neardup_caption"]),
            "outcome.seen_reject_frac": float(m["rejected_seen"]) / max(discovered, 1.0),
            "outcome.robots_reject": float(m["rejected_robots"]),
        }


# ----------------------------------------------------------------- queries

def fingerprint(df) -> str | None:
    """Hash of a result's column names, dtypes and rows that ignores row
    order; None when a column holds values pandas cannot hash (lists,
    arrays)."""
    import numpy as np
    import pandas as pd

    cols = sorted(df.columns)
    try:
        rows = pd.util.hash_pandas_object(df[cols], index=False).to_numpy()
    except TypeError:
        return None
    h = hashlib.sha256(repr([(c, str(df[c].dtype)) for c in cols]).encode())
    h.update(np.sort(rows).tobytes())
    return h.hexdigest()


class QueryWorkload:
    """Passes over a fixed set of ``__spark_entry__.queries()`` keys on
    seeded tables; the seed also sets the key order of every pass."""

    kind = "queries"

    def __init__(self, name: str, sf: float, keys: list[str], nominal_pass_s: float):
        self.name, self.sf, self.keys = name, sf, list(keys)
        self.nominal_pass_s = nominal_pass_s

    def params(self, seed: int) -> dict:
        return {"workload": self.name, "seed": seed, "sf": self.sf, "keys": self.keys}

    def prepare(self, root: str, cache_dir: str, seed: int) -> dict:
        self.seed = seed
        self.entry, info = inputs.cached(
            root, cache_dir, self.params(seed),
            inputs.build_queries(self.sf, self.keys, seed))
        self.data = os.path.join(self.entry, "tables")
        return info

    def warm(self, spark, work_dir: str) -> None:
        """Load the reference answers. No query runs before the measured
        passes: Spark compiles the classes it generates for every query,
        so the JIT never settles within a run, and the first passes carry
        most of the compilation. Measuring from the session's first query
        keeps all of that work inside the window, however fast the host
        runs it."""
        import __spark_entry__ as E

        self.answers = inputs.load_pickle(self.entry, "answers.pkl")
        self.verified: dict[str, set[str]] = {}
        self.fns = E.queries()

    def measure(self, spark, seconds: float, tracer=None) -> list[Pass]:
        rng = random.Random(self.seed)
        return [self._one_pass(spark, rng, tracer)
                for _ in range(n_passes(seconds, self.nominal_pass_s))]

    def _one_pass(self, spark, rng: random.Random, tracer) -> Pass:
        order = list(self.keys)
        rng.shuffle(order)
        p = Pass()
        results = {}
        cpu0 = probe.tree_cpu_s(os.getpid())
        for key in order:
            op, out = _timed(tracer, "query", key,
                             lambda k=key: self.fns[k](spark, self.data).toPandas())
            p.ops.append(op)
            results[key] = out
        p.cpu_s = probe.tree_cpu_s(os.getpid()) - cpu0
        p.info = {"order": order, "rows": {k: (len(v) if v is not None else None)
                                           for k, v in results.items()}}
        self.check(p, results)
        return p

    def check(self, p: Pass, results: dict) -> None:
        """SQL-checked keys must equal DuckDB's answer (tools.check_queries
        .compare); rows-only keys must return their self-check row. An
        output whose rows hash the same as an output of the same key that
        already passed is not compared again."""
        from tools.check_queries import compare

        for op in p.ops:
            if not op.ok:
                continue
            out = results[op.name]
            if op.name in self.answers:
                fp = fingerprint(out)
                if fp is not None and fp in self.verified.setdefault(op.name, set()):
                    continue
                problems = compare(out, self.answers[op.name], op.name)
                if problems:
                    op.ok, op.error = False, "; ".join(problems[:3])
                elif fp is not None:
                    self.verified[op.name].add(fp)
            elif len(out) == 0:
                op.ok, op.error = False, "self-check row missing"

    def outcome(self) -> dict:
        return {}
