"""Regenerate BENCH/PLANS.md — physical-plan evidence that the headline
queries keep their intended shapes (pushdown, broadcast, partial aggs,
WindowGroupLimit, TakeOrderedAndProject). Run after plan changes:

    python tools/plan_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import web_crawler_spark.plans.pipeline_ops as P
    import web_crawler_spark.plans.queries as Q
    from web_crawler_spark.session import get_spark, plan_truncated

    spark = get_spark(app="plan-audit", cores=8)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    truncated = []

    def plan_of(name, df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        if plan_truncated(p):
            # a cut plan can hide a marker or an offending line
            truncated.append(name)
        return p

    checks = [
        ("scan_project", Q.q_scan_project, ["PushedFilters", "ReadSchema"],
         "filter + projection reach the parquet scan (no full-row read)"),
        ("pricing_summary", Q.q_pricing_summary, ["PushedFilters", "HashAggregate"],
         "partial+final hash aggregation (map-side combine); date filter pushed"),
        ("fetch_join", Q.q_fetch_join, ["BroadcastHashJoin"],
         "dim side broadcast — no shuffle of the fact table"),
        ("anti_join", Q.q_anti_join, ["Anti"],
         "seen-set semantics as anti-join (the crawl loop's J1 shape)"),
        ("topk_per_group", Q.q_topk_per_group, ["WindowGroupLimit"],
         "per-group top-k pushed below the sort (no full per-group sort)"),
        ("sort_limit", Q.q_sort_limit, ["TakeOrderedAndProject"],
         "global sort+limit never materializes the full ordered set"),
        ("ngram_jaccard", Q.q_ngram_jaccard, ["HashAggregate", "Generate"],
         "similarity as shingle-explode + equi-join — no O(n^2) cross pairs"),
        ("embedding_cosine_topk", Q.q_embedding_cosine_topk, ["WindowGroupLimit"],
         "JVM-side dot products (zip_with/aggregate), no Python in the loop"),
        ("range_join", Q.q_range_join, ["HashAggregate"],
         "banded equi-join on (lang, floor(n_chars/5)) — no lang-only near-cartesian"),
        ("global_order", Q.q_global_order, ["BroadcastHashJoin"],
         "two-phase sequence: bucket window + broadcast offset join, no single-partition window"),
        ("repetition_quality", Q.q_repetition_quality,
         ["HashAggregate", "Generate", "ReadSchema"],
         "T22: explode + partial-aggregated (doc,token) counts (map-side "
         "combine) — no within-row O(n_words^2) lambda; scan reads only "
         "(doc_id, text)"),
        ("decontaminate", Q.q_decontaminate,
         ["BroadcastHashJoin", "HashAggregate"],
         "T23: the benchmark shingle set broadcasts — corpus shingles "
         "never shuffle for the membership check; only the per-doc "
         "count's doc_id combine exchanges"),
        ("quality_classifier", Q.q_quality_classifier,
         ["BroadcastHashJoin", "HashAggregate"],
         "T27: the weight dim broadcasts (learned models are MBs, "
         "corpora TBs) — corpus tokens never shuffle for the lookup; "
         "only the per-doc sum's doc_id combine exchanges"),
        ("sample_quota", P.q_sample_quota, ["WindowGroupLimit"],
         "T20/T25: both samplers' hash-rank top-k lowers to "
         "WindowGroupLimit (rank evaluation stops at the literal bound; "
         "one shuffle on the stratum key)"),
        ("running_sum (lag_gap fold)", Q.q_running_sum_driver, ["Window"],
         "W4+W5 fold: identical window spec, so Catalyst evaluates the "
         "frame aggregate and lag in ONE Window operator — the fold "
         "adds no shuffle"),
        ("dedup_exact (T28 fold)", Q.q_dedup_exact_driver,
         ["Generate", "Window", "partial_count", "LeftSemi", "LeftAnti"],
         "T1+T28: k-gram explode (Generate) -> duplicated grams via "
         "partial-aggregated groupBy(g).count (map-side combine collapses "
         "a boilerplate gram per-task) -> two-tier join-back: broadcast "
         "SEMI for df>hot_df grams (positions never shuffle on a hot "
         "key), broadcast ANTI + bounded shuffle SEMI (runtime-Bloom-"
         "pruned) for the rest -> per-doc gaps-and-islands merge "
         "(Window over doc_id) + span aggregate"),
        ("corpus_clean (T29 fold)", Q.q_corpus_clean_driver,
         ["Window", "BroadcastHashJoin"],
         "T15+T29: fingerprint-dedup window + the two-phase curriculum "
         "sequence's broadcast bucket-offset join — no single-partition "
         "window assigns positions"),
    ]

    # absence checks: these operators must NOT contain the scale-killer
    # shapes their round-1 versions had. Each entry: (name, fn, lambda
    # plan -> offending lines, why). Single-partition windows are covered
    # by the zero `WindowExec: No Partition Defined` warnings in
    # BENCH_r*.json's tail (a runtime check, not text parsing).
    def _lines_with(*subs):
        return lambda p: [ln.strip() for ln in p.splitlines()
                          if all(s in ln for s in subs)]

    def _exchange_payloads(p):
        # formatted explain: each "(N) Exchange" block is followed by an
        # "Input [n]: [...]" line listing the exact row payload it
        # shuffles — the authoritative answer to "does text ride this?"
        out, lines_ = [], p.splitlines()
        for i, ln in enumerate(lines_):
            if ") Exchange" in ln:
                for j in range(i + 1, min(i + 4, len(lines_))):
                    if lines_[j].strip().startswith("Input"):
                        out.append(lines_[j].strip())
                        break
        return out

    def _text_on_exchange(p):
        return [l for l in _exchange_payloads(p) if "text#" in l]

    def _window_on(*key_prefixes):
        # no Window may partition on an unbounded-df key (a corpus-wide
        # boilerplate gram / viral-doc fingerprint funnels every
        # occurrence into ONE task — windows have no partial aggregation
        # and AQE cannot split a window partition). Formatted explain
        # puts the spec on the Window block's Arguments line as
        # windowspecdefinition(<key>#id, ...).
        def pred(p):
            return [ln.strip()[:160] for ln in p.splitlines()
                    if "windowspecdefinition(" in ln
                    and any(f"windowspecdefinition({k}#" in ln
                            for k in key_prefixes)]
        return pred

    def _expensive_generator(p):
        # Generate re-evaluates its inline generator per OUTPUT row —
        # a string-building transform/md5/concat_ws inside an explode
        # is the O(len) re-evaluation trap fixed this round. The
        # generator expression appears on the Generate block's
        # Arguments line in formatted explain.
        return [ln.strip()[:160] for ln in p.splitlines()
                if "Arguments" in ln and "explode" in ln
                and any(s in ln for s in ("transform(", "md5(", "concat_ws("))]

    absent = [
        ("dedup_exact (explode trap)", Q.q_dedup_exact_driver,
         _expensive_generator,
         "k-grams explode int positions, never an inline-built string array"),
        ("ngram_jaccard (explode trap)", Q.q_ngram_jaccard,
         _expensive_generator,
         "shingles + pair expansion explode int positions/tails only"),
        ("repetition_quality (explode trap)", Q.q_repetition_quality,
         _expensive_generator,
         "2-grams concat after the position explode"),
        ("dedup_exact (window on unbounded-df key)", Q.q_dedup_exact_driver,
         _window_on("g", "_fp"),
         "duplicated-gram df and copy-counting are partial-aggregated "
         "groupBys + join-backs; the only windows left partition on "
         "doc_id (bounded by one document's positions)"),
        ("dedup_exact (text on shuffle)", Q.q_dedup_exact_driver,
         _text_on_exchange,
         "raw text never rides an exchange — md5 fingerprints / k-gram "
         "hashes shuffle instead (text is KBs/doc at corpus scale)"),
        ("corpus_clean (text on shuffle)", Q.q_corpus_clean_driver,
         _text_on_exchange,
         "dedup window partitions on a pre-projected fingerprint; text "
         "is dropped before any shuffle"),
        ("dedup_embedding_cosine", P.q_dedup_embedding_cosine,
         _lines_with("CartesianProduct"),
         "LSH band candidates + exact residual — no cartesian anywhere"),
        ("dedup_embedding_cosine (BNLJ)", P.q_dedup_embedding_cosine,
         _lines_with("BroadcastNestedLoopJoin"),
         "…and no nested-loop join either"),
        ("range_join", Q.q_range_join, _lines_with("CartesianProduct"),
         "band trick keeps the join equi-keyed"),
        ("dedup_minhash_lsh", P.q_dedup_minhash_lsh,
         _lines_with("Generate posexplode", "text#"),
         "the x16 band explode emits ids+bands only — document text never "
         "rides the band shuffle (it joins back for candidate pairs)"),
    ]

    lines = ['# Plan audit — `.explain("formatted")` evidence (sf0.01, local[8])',
             "", "Generated by tools/plan_audit.py; regenerate after plan changes.", ""]
    ok = True
    for name, fn, markers, why in checks:
        p = plan_of(name, fn(spark, sf))
        lines += [f"## {name}", "", f"_{why}_", "",
                  "| marker | hits | first occurrence |", "|---|---|---|"]
        for m in markers:
            hits = [ln.strip() for ln in p.splitlines() if m in ln]
            ok &= bool(hits)
            lines.append(f"| `{m}` | {len(hits)} | "
                         f"`{hits[0][:110] if hits else 'MISSING'}` |")
        lines.append("")
    lines += ["## Scale-killer absence checks", "",
              "Shapes the round-1 plans had and these plans must NOT:", "",
              "| operator | forbidden shape | offending lines |", "|---|---|---|"]
    for name, fn, pred, why in absent:
        bad = pred(plan_of(name, fn(spark, sf)))
        ok &= not bad
        lines.append(f"| `{name}` | _{why}_ | "
                     f"{'**' + str(len(bad)) + ' FOUND**' if bad else 'none ✓'} |")
    lines.append("")
    lines += ["## Generate re-evaluation — the explode trap, found and fixed this round", "",
              "Spark's `Generate` re-evaluates an INLINE generator expression per",
              "OUTPUT row (projection collapse pushes the building expression into",
              "the generator). Exploding a transform-built array therefore re-runs",
              "the whole array construction once per element it emits — O(len)",
              "extra full evaluations per row, pure CPU waste at any scale.",
              "Measured at sf0.1 (interleaved, same session):",
              "", "| site | inline-array explode | positions-then-compute |", "|---|---|---|",
              "| T28 k-gram build (dedup_exact driver) | 7.9 s | **0.5 s** |",
              "| 3-gram shingles (ngram_jaccard/decontaminate) | 1.9 s | **0.37 s** |",
              "| full dedup_exact driver row (noop sink) | 10.7 s | **1.4 s** |",
              "",
              "Fix pattern (now used at every string-heavy explode): explode the",
              "integer POSITION (`sequence(0, n-k)`), compute the gram/shingle",
              "once per exploded row, dedupe after if needed. The hybrid-index",
              "pair expansion became two cascaded int explodes for the same",
              "reason (a one-shot C(df,2) struct array would be rebuilt once per",
              "pair). Python-UDF-built arrays (LSH band codes) are NOT affected:",
              "ExtractPythonUDFs materializes them in their own plan node.",
              "Cheap int-array children (pack_sequences' bin sequence, crawl",
              "link targets) are left inline — re-evaluating a small int range",
              "costs less than restructuring. A second timing trap documented",
              "here: `count()` can DELETE the expensive branch entirely (left",
              "joins against aggregates with unique keys are eliminated when no",
              "column is referenced), so operator timings use a noop-sink write,",
              "never count.", "",
              "## T28 hot-gram skew — round-5 fix, measured", "",
              "A historical measurement from round 5; the one-off probe that",
              "took it was retired with the window shape it compared against.",
              "It planted ONE k-token boilerplate run in every doc (a single",
              "gram key, df = 10^7) and ran the identical corpus through the old",
              "`count(*) OVER (PARTITION BY g)` twin and the production two-tier",
              "join-back, interleaved, 512 reducers, AQE coalescing off (a",
              "cluster-like reducer count — local coalescing to ~38 fat",
              "partitions hides any hot key):",
              "", "| shape | wall | worst task | stage median | skew |", "|---|---|---|---|---|",
              "| window twin | 52.4 s | **17.9 s** (the hot-gram sort) | 0.45 s | 40x |",
              "| two-tier join-back | 53.7 s | **1.0 s** | 0.09 s | — |",
              "",
              "Same wall clock locally (the tiered shape pays a third gram-build",
              "pass, xxhash64 instead of md5 pays it back); at 1000 executors the",
              "window's straggler IS the job time while the tiered plan stays",
              "flat. Three shapes were tried and rejected on measurement: the",
              "un-tiered groupBy+semi-join (AQE broadcasts the small dup set at",
              "runtime, but the already-materialized position exchange is read",
              "1:1 — a 10M-row hot partition in ONE task, 10.7 s; AQE's skew",
              "splitter rewrites join stages only, never a plain skewed read);",
              "relying on skewJoin split thresholds (byte-based; a hot key's",
              "identical hashes lz4-compress ~30x below the 256MB trigger at",
              "probe scale); and a fused salted left-outer join that saves the",
              "third gram pass (interleaved A/B: 47-158 s vs the tiered union's",
              "35-47 s at 2M docs — preserving the left side defeats the",
              "runtime Bloom pruning that drops df=1 positions pre-shuffle and",
              "widens the exchange). The same two-tier pattern guards",
              "doc_dup_profile_df's viral-fingerprint join.", "",
              "## ngram_jaccard cost model (updated)", "",
              "Workload at sf0.1: 27,213 distinct shingles, max df = 25 — every",
              "co-occurrence is row-local (df < df_split=64), Σ C(df,2) = 1.27 M",
              "pair emissions. After the explode fix the full driver row",
              "(pairs + connected components + size join) runs **3.7–4.3 s**,",
              "below round 3's 3.95 s for the pairs alone; the residual is the",
              "two cluster-loop barriers + 4–5 stage launches at ~0.4 s each —",
              "fixed local-mode latency, not data volume. PPJoin prefix",
              "filtering still cannot help at θ=0.2 (prefix ≈ 80% of each doc's",
              "shingles). The scalable lever remains df_split, which only",
              "matters once df ≥ 64 shingles exist — none do at sf0.1.", "",
              "## Regenerate", "", "```", "python tools/plan_audit.py", "```", ""]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCH", "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}; all markers present: {ok}")
    if truncated:
        print("truncated at spark.sql.maxPlanStringLength, so their checks cannot "
              f"be trusted: {', '.join(truncated)}")
        return 1
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
