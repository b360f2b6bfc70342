"""Workload inputs and their reference answers, made from the seed and
cached by (seed, workload config).

A cache entry is a directory holding the generated inputs, the pickled
reference answers and ``manifest.json`` with a SHA-256 of every file. On
reuse every file is hashed again; any mismatch regenerates the entry.
The cache key also hashes the source of the generators and oracles, so
an entry never outlives the code that made it.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import time

PROTOCOL = "perfbench-3"

# program files whose code decides the inputs or the reference answers
_KEY_SOURCES = ["fixtures/gen.py", "oracle/refcrawler.py", "web_crawler_spark/config.py",
                "__spark_entry__.py", "web_crawler_spark/plans/queries.py",
                "perfbench/tables.py", "perfbench/inputs.py"]


def _sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _tree_hashes(d: str) -> dict[str, str]:
    out = {}
    for base, _, files in os.walk(d):
        for fn in files:
            p = os.path.join(base, fn)
            rel = os.path.relpath(p, d)
            if rel != "manifest.json":
                out[rel] = _sha(p)
    return out


def cache_key(root: str, params: dict) -> str:
    h = hashlib.sha256(json.dumps([PROTOCOL, params], sort_keys=True).encode())
    for rel in _KEY_SOURCES:
        h.update(_sha(os.path.join(root, rel)).encode())
    return h.hexdigest()[:20]


def cached(root: str, cache_dir: str, params: dict, build) -> tuple[str, dict]:
    """Return (entry dir, info). ``build(entry_dir)`` fills a fresh entry;
    info says whether it ran (``cold``) and how long preparing took."""
    t0 = time.perf_counter()
    entry = os.path.join(cache_dir, cache_key(root, params))
    mpath = os.path.join(entry, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest.get("files") == _tree_hashes(entry):
            return entry, {"cold": False, "prepare_s": time.perf_counter() - t0}
    shutil.rmtree(entry, ignore_errors=True)
    os.makedirs(entry)
    build(entry)
    with open(mpath, "w") as f:
        json.dump({"params": params, "files": _tree_hashes(entry)}, f, sort_keys=True)
    return entry, {"cold": True, "prepare_s": time.perf_counter() - t0}


def build_crawl(fixture: dict, cfg_kwargs: dict, authority_iters: int, seed: int):
    """Crawl fixture from ``fixtures.gen.generate``, the sequential
    reference crawler's answer on the same fixture and config, and the
    reference host ranks over that crawl's link graph."""
    def build(entry: str) -> None:
        from fixtures.gen import generate
        from oracle.refcrawler import _authority_q, crawl, load_fixture
        from web_crawler_spark.config import CrawlConfig
        from web_crawler_spark.core.urls import canonicalize_series, host_of_series

        fix = os.path.join(entry, "fixture")
        generate(fix, seed=seed, **fixture)
        cfg = CrawlConfig(**cfg_kwargs)
        res = crawl(fix, cfg)
        corpus, urls = load_fixture(fix)[:2]
        canon = canonicalize_series(urls["url"])
        authority = _authority_q(res.crawl_log.to_dict("records"),
                                 {c: i for i, c in enumerate(canon)},
                                 host_of_series(canon), len(corpus), authority_iters,
                                 cfg.authority_damping)
        with open(os.path.join(entry, "oracle.pkl"), "wb") as f:
            pickle.dump({"crawl_log": res.crawl_log, "seen": sorted(res.seen),
                         "kept": res.kept, "metrics": res.metrics,
                         "authority": authority}, f)
    return build


def build_queries(sf: float, keys: list[str], seed: int):
    """Seeded analytics tables plus DuckDB's answer to each SQL-checked
    key's ``oracle_sql()`` entry over the same files."""
    def build(entry: str) -> None:
        import duckdb

        import __spark_entry__ as E
        import tables

        data = os.path.join(entry, "tables")
        tables.generate(data, seed=seed, sf=sf)
        con = duckdb.connect()
        for t in tables.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        sqls = E.oracle_sql()
        answers = {k: con.sql(sqls[k]).df() for k in keys if k in sqls}
        con.close()
        with open(os.path.join(entry, "answers.pkl"), "wb") as f:
            pickle.dump(answers, f)
    return build


def load_pickle(entry: str, name: str):
    with open(os.path.join(entry, name), "rb") as f:
        return pickle.load(f)
