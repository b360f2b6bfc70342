#!/usr/bin/env python3
"""Benchmark of the crawl engine and the analytics queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 30 --trace 0

It pins the environment, starts one local Spark session with every core,
prepares the workload's seeded inputs (cached under ``.perfbench/``),
measures as many closed-loop passes as fill about ``--seconds`` seconds
at the workload's nominal pass time (at least one) and checks every
output against a reference. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics of a
traced run). The line before it is a report with every sample, the
pinned environment and the protocol version; each run is also appended
to ``.perfbench/runs.jsonl``. The exit code is non-zero when any output
check fails. ``--summarize`` prints medians and quartiles of the logged
runs. See perfbench/README.md for what each metric means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

T_START = time.time()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".perfbench")
REQUIRED = ["web_crawler_spark/plans/crawl.py", "fixtures/gen.py", "oracle/refcrawler.py",
            "tools/check_queries.py", "__spark_entry__.py"]
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import probe  # noqa: E402
import spans as S  # noqa: E402
from workloads import CrawlWorkload, QueryWorkload  # noqa: E402

# five of bench.HEADLINE's fifteen keys, one per operator family; the
# image kernels run in every crawl round. Four passes over all fifteen
# do not fit the run budget.
QUERY_KEYS = ["pricing_summary", "fetch_join", "session_window", "dedup_minhash_lsh",
              "embedding_cosine_topk"]

WORKLOADS = {
    w.name: w for w in [
        # the seen sketch, compaction and snapshot expiry are on, so the
        # round builds and merges a cuckoo sketch and the maintenance after
        # it compacts the append tables and expires old snapshots; the
        # host-authority report runs pagerank_df over the committed crawl
        # (a second, authority-ordered round would reach it too, at about
        # 35 s more per run)
        CrawlWorkload(
            "crawl",
            fixture={"n": 1000, "n_hosts": 30, "n_seeds": 30},
            cfg={"per_host_k": 8, "max_rounds": 1, "bloom_prefilter": True,
                 "seen_sketch": "cuckoo", "compact_every": 1, "compact_min_parts": 2,
                 "snapshot_keep": 2},
            authority_iters=1, nominal_pass_s=60.0),
        QueryWorkload("queries", sf=0.05, keys=QUERY_KEYS, nominal_pass_s=7.5),
    ]
}

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}

CATALOG_CALLS = ["stage", "append", "append_local", "read", "commit", "compact",
                 "expire_snapshots"]
SKETCH_CALLS = ["build", "merge", "delete"]
PER_LAYER = {
    "op_s.p50": "s",
    "crawl.init_s": "s", "crawl.round_self_s.p50": "s",
    "crawl.fetched_rows_per_s": "1/s", "crawl.frontier_urls_per_s": "1/s",
    "py4j.calls_per_op": "count",
    **{f"catalog.{c}.calls": "count" for c in CATALOG_CALLS},
    **{f"catalog.{c}.busy_s": "s" for c in CATALOG_CALLS},
    "catalog.bytes_per_fetched_row": "B", "catalog.files": "count",
    "robots.load_s": "s",
    **{f"sketch.{c}.calls": "count" for c in SKETCH_CALLS},
    **{f"sketch.{c}_s": "s" for c in SKETCH_CALLS},
    "pipeline_ops.pagerank.calls": "count", "pipeline_ops.pagerank_s": "s",
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.task_s_per_op": "s",
    "spark.shuffle_read_mb_per_op": "MB", "spark.shuffle_write_mb_per_op": "MB",
    "spark.spill_mb": "MB", "spark.gc_s": "s", "spark.stage_skew.max": "ratio",
    "host.cpu_busy_frac": "frac", "host.peak_rss_mb": "MB",
    **{f"queries.{k}_s": "s" for k in QUERY_KEYS},
    **{f"queries.{k}.task_s": "s" for k in QUERY_KEYS},
    "outcome.kept_frac": "frac", "outcome.dup_exact": "count",
    "outcome.neardup_image": "count", "outcome.neardup_caption": "count",
    "outcome.seen_reject_frac": "frac", "outcome.robots_reject": "count",
    "trace.overhead_s": "s",
}

def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(n_cores: int) -> dict:
    """Environment the Spark JVM and its Python workers inherit; must be
    set before the session starts."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    prior = os.environ.get("PYTHONPATH")
    pins = {
        "SPARK_GRAFT_CPUS": str(n_cores),
        "SPARK_DRIVER_MEM": "4g",
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
        "PYTHONPATH": ROOT + (os.pathsep + prior if prior else ""),
        "PYSPARK_PYTHON": sys.executable, "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(OUT, "spark-local"),
        "TMPDIR": os.path.join(OUT, "tmp"),
    }
    os.environ.update(pins)
    tempfile.tempdir = pins["TMPDIR"]  # in case tempfile already cached /tmp
    return pins


def start_spark(n_cores: int, trace: bool):
    from web_crawler_spark.session import get_spark

    extra = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
    }
    if trace:
        extra.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                      "spark.ui.retainedStages": "100000"})
    return get_spark(app="perfbench", cores=n_cores, extra=extra), extra


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while probe.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in probe.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while probe.descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.2)


def warm_workers(spark, n_cores: int) -> float:
    """Start and import one Python worker per core with a pandas UDF job;
    returns the time it ended."""
    import pandas as pd

    def ident(it):
        for pdf in it:
            yield pd.DataFrame({"id": pdf["id"]})

    spark.range(0, n_cores * 8, 1, n_cores).mapInPandas(ident, "id long").count()
    return time.time()


def dir_stats(d: str) -> tuple[int, int]:
    n = size = 0
    for base, _, files in os.walk(d):
        for fn in files:
            n += 1
            size += os.path.getsize(os.path.join(base, fn))
    return n, size


def code_id() -> str:
    """Hash of every Python source file of the checkout (the benchmark's
    own included): runs logged by other code never match it."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(ROOT):
        dirs[:] = sorted(d for d in dirs if not d.startswith(".") and d != "__pycache__")
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(base, fn)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def untraced_pass_s(record: dict) -> float | None:
    """Median wall time of a pass in the logged untraced runs of the same
    code, workload, seed, window and protocol as ``record``; None if none."""
    same = ("protocol", "code_id", "workload", "seed", "seconds")
    vals = [rec["samples"]["pass_s"]["median"] for rec in read_log()
            if not rec["trace"] and rec["correct"]
            and all(rec.get(k) == record[k] for k in same)]
    return statistics.median(vals) if vals else None


def read_log() -> list[dict]:
    path = os.path.join(OUT, "runs.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_layer(wl, passes, tracer, jobs, window, n_cores, cpu_s) -> dict:
    spans = tracer.spans
    ops = [op for p in passes for op in p.ops]
    op_spans = {s.id: s for s in spans if s.name.startswith("op.")}
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def busy(name: str) -> float:
        return S.busy_time(by_name.get(name, []))

    def calls(name: str) -> int:
        return len(by_name.get(name, []))

    m = {k: 0.0 for k in PER_LAYER}
    inits = [op.seconds for op in ops if op.kind == "init"]
    rounds = by_name.get("crawl.run_round", [])
    if inits:
        m["crawl.init_s"] = statistics.median(inits)
    if rounds:
        m["crawl.round_self_s.p50"] = statistics.median(S.self_time(r, spans) for r in rounds)
    if wl.kind == "crawl":
        wall = sum(p.info["crawl_s"] for p in passes)
        m["crawl.fetched_rows_per_s"] = sum(sum(p.info["fetched"]) for p in passes) / wall
        m["crawl.frontier_urls_per_s"] = sum(sum(p.info["frontier"]) for p in passes) / wall
        n_files, n_bytes = dir_stats(passes[-1].info["run_dir"])
        m["catalog.files"] = n_files
        m["catalog.bytes_per_fetched_row"] = n_bytes / max(sum(passes[-1].info["fetched"]), 1)
    timed = [op for op in ops if op.kind in ("init", "round", "report", "query")]
    m["py4j.calls_per_op"] = statistics.mean(op.py4j for op in timed)
    for c in CATALOG_CALLS:
        m[f"catalog.{c}.calls"] = calls(f"catalog.{c}")
        m[f"catalog.{c}.busy_s"] = busy(f"catalog.{c}")
    m["robots.load_s"] = busy("robots.load")
    for c in SKETCH_CALLS:
        m[f"sketch.{c}.calls"] = calls(f"sketch.{c}")
        m[f"sketch.{c}_s"] = busy(f"sketch.{c}")
    m["pipeline_ops.pagerank.calls"] = calls("pipeline_ops.pagerank")
    m["pipeline_ops.pagerank_s"] = busy("pipeline_ops.pagerank")

    owned = S.attribute(jobs, list(op_spans.values()))
    per_op = [owned.get(op.span_id, []) for op in timed]
    for key, field, scale in [("jobs", None, 1), ("stages", "stages", 1),
                              ("tasks", "tasks", 1), ("task_s", "task_s", 1),
                              ("shuffle_read_mb", "shuffle_read_b", 1e-6),
                              ("shuffle_write_mb", "shuffle_write_b", 1e-6)]:
        vals = [len(js) if field is None else sum(j[field] for j in js) * scale
                for js in per_op]
        m[f"spark.{key}_per_op"] = statistics.mean(vals)
    mine = [j for js in per_op for j in js]
    m["spark.spill_mb"] = sum(j["spill_b"] for j in mine) * 1e-6
    m["spark.gc_s"] = sum(j["gc_s"] for j in mine)
    m["spark.stage_skew.max"] = max((j["skew"] for j in mine), default=1.0)
    m["host.cpu_busy_frac"] = cpu_s / (window * n_cores)
    if wl.kind == "queries":
        for k in wl.keys:
            mine_k = [(op, js) for op, js in zip(timed, per_op) if op.name == k]
            m[f"queries.{k}_s"] = statistics.median(op.seconds for op, _ in mine_k)
            m[f"queries.{k}.task_s"] = statistics.median(
                sum(j["task_s"] for j in js) for _, js in mine_k)
    m.update(wl.outcome())
    m["trace.overhead_s"] = tracer.overhead_s + tracer.counter.overhead_s
    return m


def run(args) -> int:
    wl = WORKLOADS[args.workload]
    trace = bool(args.trace)
    n_cores = cores()
    pins = pin_env(n_cores)
    run_id = uuid.uuid4().hex[:12]
    cache_dir = os.path.join(OUT, "cache")
    work_dir = os.path.join(OUT, "work", run_id)

    t0 = time.time()
    spark, spark_conf = start_spark(n_cores, trace)
    session_s = time.time() - t0
    sampler = probe.RssSampler(os.getpid()).start()
    tracer = None
    if trace:
        # installed before the warm-up, so set-up work (robots.txt
        # parsing at engine construction) is traced too
        tracer = S.Tracer(run_id)
        tracer.bind_client()
        tracer.counter = S.CallCounter()
        tracer.counter.install()
        undo = S.install(tracer)
    prepare = wl.prepare(ROOT, cache_dir, args.seed)
    t1 = time.time()
    with ThreadPoolExecutor(1) as ex:
        # the Python workers start while the workload loads its reference
        # answers and, for the crawl, builds its first engine
        workers = ex.submit(warm_workers, spark, n_cores)
        wl.warm(spark, work_dir)
        warm_s = {"workload_s": time.time() - t1, "workers_s": workers.result() - t1}
    setup_s = time.time() - T_START

    cpu0 = probe.tree_cpu_s(os.getpid())
    t_meas = time.time()
    passes = wl.measure(spark, args.seconds, tracer)
    window = time.time() - t_meas
    cpu_s = probe.tree_cpu_s(os.getpid()) - cpu0
    peak_rss = sampler.stop()

    jobs = []
    if trace:
        S.uninstall(undo)
        tracer.counter.uninstall()
        jobs = probe.spark_jobs(spark)
    stop_spark(spark)

    ops = [op for p in passes for op in p.ops]
    attempted = len(ops)
    failed = sum(not op.ok for op in ops)
    timed = [op.seconds for op in ops if op.kind in ("round", "query")]
    if trace:
        metrics = per_layer(wl, passes, tracer, jobs, window, n_cores, cpu_s)
        # a crawl whose init_state failed has no round to time
        metrics["op_s.p50"] = statistics.median(timed or [op.seconds for op in ops])
        metrics["host.peak_rss_mb"] = peak_rss / 2**20
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_cpu_s": statistics.mean(p.cpu_s for p in passes),
        }
        units = END_TO_END
    record = {
        "protocol": inputs.PROTOCOL, "code_id": code_id(), "run_id": run_id,
        "workload": wl.name,
        "seed": args.seed, "seconds": args.seconds, "trace": trace,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
        "env": {"cores": n_cores, "pins": pins, "spark": spark_conf,
                "python": sys.version.split()[0]},
        "setup": {"session_s": session_s, "prepare": prepare, "warm_s": warm_s,
                  "setup_s": setup_s},
        "window_s": window,
        "passes": [{"seconds": p.seconds, "cpu_s": p.cpu_s,
                    "info": {k: v for k, v in p.info.items() if k != "run_dir"},
                    "ops": [{"kind": o.kind, "name": o.name, "seconds": o.seconds,
                             "ok": o.ok, "error": o.error} for o in p.ops]}
                   for p in passes],
        "samples": {"op_s": S.summary(timed),
                    "pass_s": S.summary([p.seconds for p in passes]),
                    "pass_cpu_s": S.summary([p.cpu_s for p in passes])},
    }
    if trace:
        # tracing overhead as a difference of wall times: traced minus
        # untraced pass time, where an untraced run of the same code and
        # inputs is logged in this checkout
        base = untraced_pass_s(record)
        traced = statistics.median(p.seconds for p in passes)
        record["wall_overhead_s"] = traced - base if base is not None else None
        spans_file = os.path.join(OUT, "spans", f"{run_id}.jsonl")
        os.makedirs(os.path.dirname(spans_file), exist_ok=True)
        with open(spans_file, "w") as f:
            for s in tracer.spans:
                f.write(json.dumps(s.__dict__) + "\n")
        record["spans_file"] = os.path.relpath(spans_file, ROOT)
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    shutil.rmtree(work_dir, ignore_errors=True)
    for op in ops:
        if not op.ok:
            print(f"perfbench: {wl.name} {op.kind} {op.name} failed: {op.error}",
                  file=sys.stderr)
    print(json.dumps({"report": record}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def summarize() -> int:
    """Median and quartiles of every logged run, per code, workload and
    mode: each metric, and each run's median wall time of a pass."""
    groups: dict[tuple, list[dict]] = {}
    for rec in read_log():
        key = (rec["protocol"], rec.get("code_id", ""), rec["workload"], rec["trace"])
        groups.setdefault(key, []).append(rec)
    for (protocol, code, name, trace), recs in sorted(groups.items()):
        print(f"{protocol} code={code} {name} trace={int(trace)} runs={len(recs)} "
              f"failed_runs={sum(not r['correct'] for r in recs)}")
        rows = {k: [r["metrics"][k] for r in recs if k in r["metrics"]]
                for k in recs[0]["metrics"]}
        rows["pass_wall_s"] = [r["samples"]["pass_s"]["median"] for r in recs]
        for k, vals in rows.items():
            s = S.summary(vals)
            print(f"  {k}: median={s['median']:.6g} q1={s.get('q1', s['median']):.6g} "
                  f"q3={s.get('q3', s['median']):.6g} n={s['n']}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--summarize", action="store_true",
                    help="print medians and quartiles of the logged runs and exit")
    args = ap.parse_args()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the root of a checkout; missing {missing}",
              file=sys.stderr)
        return 2
    if args.summarize:
        return summarize()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
