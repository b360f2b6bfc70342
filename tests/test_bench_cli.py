"""CI-lite twins of the tools/stress.py probes: drive --frontier,
--seen, --pack and --spans at small n in a subprocess and assert the
JSON contract, so the extracted schedule_batch / filter_new_urls /
pack_sequences_df / dup_spans_df stress paths cannot drift from the
probes that produce the BENCH/FRONTIER.md evidence. The stress functions
own their SparkSession, hence subprocesses. Internal invariants
(exact==routed row sets, token conservation, planted-span recall) are
hard asserts inside tools/stress.py itself — rc=0 means they held."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, timeout=240):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "stress.py"), *args],
        capture_output=True, text=True, cwd=REPO, timeout=timeout,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.stress_lite
def test_frontier_stress_small_n():
    j = _run(["--frontier", "--rows", "30000", "--hosts", "500",
              "--k", "4", "--cores", "8"])
    assert j["rows"] == 30000 and j["selected"] > 0
    # politeness: every clocked host (next_round=1 > r=0) is excluded,
    # so selection is bounded by k * unclocked hosts
    assert j["selected"] <= 4 * 500
    assert j["frontier_urls_per_sec"] > 0
    # both priority modes run interleaved; authority must schedule the
    # same politeness-bounded volume and report its own wall clock
    assert j["modes"]["authority"]["selected"] > 0
    assert j["modes"]["authority"]["selected"] <= 4 * 500
    assert j["authority_over_bfs_wall"] > 0


@pytest.mark.stress_lite
@pytest.mark.parametrize("sketch", ["bloom", "cuckoo"])
def test_seen_stress_small_n(sketch):
    j = _run(["--seen", "--rows", "40000", "--seen-n", "4000",
              "--cores", "8", "--sketch", sketch])
    # exact == routed is asserted inside tools/stress.py; here check the shape
    assert j["sketch"] == sketch
    assert j["new"] == j["candidates"] - j["seen"]
    # the sketch must actually route most rows around the anti-join
    assert j["antijoin_rows_saved_frac"] > 0.5


@pytest.mark.stress_lite
def test_pack_stress_small_n():
    j = _run(["--pack", "--rows", "50000", "--ctx", "2048", "--cores", "8"])
    # token conservation is a hard assert inside tools/stress.py
    assert j["docs"] == 50000
    assert j["segments"] >= j["docs"] * 0  # parses; segments reported
    assert j["tokens"] > 0 and j["tokens_per_sec"] > 0


@pytest.mark.stress_lite
def test_spans_stress_small_n():
    j = _run(["--spans", "--rows", "20000", "--cores", "8"], timeout=360)
    # recall floor + precision ceiling are hard asserts inside tools/stress.py
    assert j["docs"] == 20000
    boiler = (20000 + 16) // 17
    copies = (20000 - 50 + 99) // 100
    assert boiler <= j["docs_hit"] <= boiler + 2 * copies
    assert j["dup_tokens"] > 0 and j["docs_per_sec"] > 0
