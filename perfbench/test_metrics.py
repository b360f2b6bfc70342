"""Tests of the benchmark's own metric math. Run from the checkout root:

    python3 -m pytest perfbench/test_metrics.py -q
"""

import os
import statistics
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as S  # noqa: E402


def _span(sid, start, end, parent=None, name="x"):
    return S.Span(sid, name, start, end, parent, "r")


def test_union_length_merges_overlaps_and_gaps():
    assert S.union_length([]) == 0.0
    assert S.union_length([(0, 1), (2, 3)]) == 2.0
    assert S.union_length([(0, 2), (1, 3)]) == 3.0
    assert S.union_length([(0, 10), (2, 3), (4, 5)]) == 10.0
    assert S.union_length([(5, 6), (0, 1), (0.5, 2)]) == 3.0


def test_self_time_subtracts_concurrent_children_once():
    # a round of 10 s whose pool threads write three tables at once
    # (overlapping 2-5, 3-6, 4-5) and later commit (8-9)
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 2.0, 5.0, 1), _span(3, 3.0, 6.0, 1), _span(4, 4.0, 5.0, 1),
            _span(5, 8.0, 9.0, 1)]
    assert S.self_time(parent, [parent] + kids) == 10.0 - 4.0 - 1.0


def test_self_time_ignores_grandchildren_and_clips_children():
    parent = _span(1, 0.0, 10.0)
    child = _span(2, 1.0, 3.0, 1)
    grandchild = _span(3, 5.0, 7.0, 2)  # not a direct child: not subtracted
    late = _span(4, 9.0, 12.0, 1)       # clipped to the parent's end
    assert S.self_time(parent, [parent, child, grandchild, late]) == 10.0 - 2.0 - 1.0


def test_tracer_parents_pool_threads_to_the_client_span():
    tr = S.Tracer("run")
    tr.bind_client()
    op = tr.begin("op.round")
    append = tr.wrap("catalog.append", lambda: time.sleep(0.01))

    def round_body():
        # the engine's pool threads write tables while run_round is open
        threads = [threading.Thread(target=append) for _ in range(3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in threads)
        tr.wrap("catalog.commit", lambda: None)()

    tr.wrap("crawl.run_round", round_body)()
    tr.end(op)
    by = {s.name: s for s in tr.spans}
    appends = [s for s in tr.spans if s.name == "catalog.append"]
    assert len(appends) == 3
    assert all(s.parent == by["crawl.run_round"].id for s in appends)
    assert by["crawl.run_round"].parent == op[0]
    assert by["catalog.commit"].parent == by["crawl.run_round"].id
    # a pool-thread call outside every operation has no parent
    t = threading.Thread(target=append)
    t.start()
    t.join(timeout=10)
    assert tr.spans[-1].name == "catalog.append" and tr.spans[-1].parent is None


def test_median_and_quartile_rule():
    # p50 is statistics.median; quartiles are statistics.quantiles(n=4)'s
    # default 'exclusive' rule, the one the spread of runs is judged by
    s = S.summary([5.0, 1.0, 3.0, 2.0, 4.0])
    assert s["median"] == 3.0 and s["q1"] == 1.5 and s["q3"] == 4.5
    s = S.summary([1.0, 2.0, 3.0, 4.0])
    assert s["median"] == 2.5 and s["q1"] == 1.25 and s["q3"] == 3.75


def test_summary_keeps_every_sample_and_matches_statistics():
    xs = [3.0, 1.0, 100.0, 2.0]  # the slow sample is kept, not dropped
    s = S.summary(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert s["n"] == 4 and s["median"] == 2.5 and s["q1"] == q1 and s["q3"] == q3
    assert S.summary([7.0]) == {"n": 1, "median": 7.0}


def test_attribute_jobs_by_submission_time():
    ops = [_span(10, 100.0, 110.0), _span(11, 110.5, 120.0), _span(12, 130.0, 131.0)]
    jobs = [{"job_id": 0, "submitted": 99.0},    # warm-up, before every op
            {"job_id": 1, "submitted": 100.0},   # at an op's start: that op
            {"job_id": 2, "submitted": 110.0},   # at an op's end: that op
            {"job_id": 3, "submitted": 110.2},   # in the gap between ops
            {"job_id": 4, "submitted": 119.9},
            {"job_id": 5, "submitted": 130.5},
            {"job_id": 6, "submitted": 140.0}]   # output check after the ops
    got = {k: sorted(j["job_id"] for j in v) for k, v in S.attribute(jobs, ops).items()}
    assert got == {None: [0, 3, 6], 10: [1, 2], 11: [4], 12: [5]}


def test_install_wraps_and_uninstall_restores():
    import types

    mod = types.ModuleType("perfbench_fake_layer")

    class Cat:
        def append(self, x):
            return x + 1

    mod.Cat = Cat
    mod.load = lambda: time.sleep(0.05) or 7
    sys.modules[mod.__name__] = mod
    try:
        tr = S.Tracer("run")
        orig_append, orig_load = Cat.__dict__["append"], mod.load
        undo = S.install(tr, [(mod.__name__, "Cat.append", "catalog.append"),
                              (mod.__name__, "load", "robots.load")])
        assert Cat().append(1) == 2 and mod.load() == 7
        assert [s.name for s in tr.spans] == ["catalog.append", "robots.load"]
        # the wrappers charge their own bookkeeping, not the wrapped call
        assert 0.0 < tr.overhead_s < 0.01
        S.uninstall(undo)
        assert Cat.__dict__["append"] is orig_append and mod.load is orig_load
    finally:
        del sys.modules[mod.__name__]


def test_pass_count_depends_only_on_the_window():
    import workloads as W

    assert [W.n_passes(s, 5.0) for s in (1, 8, 15, 20)] == [1, 2, 3, 4]
    assert W.n_passes(15, 45.0) == 1  # a pass longer than the window still runs


def test_fingerprint_ignores_row_order_but_not_values_or_types():
    import pandas as pd

    import workloads as W

    df = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.0, 2.5, -3.0]})
    fp = W.fingerprint(df)
    assert W.fingerprint(df.iloc[::-1].reset_index(drop=True)) == fp
    assert W.fingerprint(df[["v", "k"]]) == fp
    assert W.fingerprint(df.assign(v=[1.0, 2.5, -3.000001])) != fp
    assert W.fingerprint(df.assign(v=df["v"].astype("float32"))) != fp
    assert W.fingerprint(df.iloc[:2]) != fp
    # list cells cannot be hashed: the output is always compared in full
    assert W.fingerprint(pd.DataFrame({"k": [[1, 2], [3]]})) is None
