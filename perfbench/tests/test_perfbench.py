"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The plan and oracle tests are pure Python. The smoke tests start Spark
through `perfbench/run.py --size tiny` (about half a minute per run).
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import workload as wl  # noqa: E402
from run import HEADLINE_E2E, HEADLINE_LAYERS  # noqa: E402

E2E = {
    "read_mix": {"setup_s", "ops_per_s", "read_p50_ms", "read_p90_ms"},
    "stream_mixed": {"setup_s", "ops_per_s", "read_p50_ms", "read_p90_ms",
                     "fresh_batch_p50_ms"},
    "write_churn": {"setup_s", "ops_per_s", "fresh_agg_p50_ms", "fresh_ins_p50_ms",
                    "fresh_del_p50_ms"},
}
UNITS = {"setup_s": "s", "ops_per_s": "1/s"}


def _ops(p: wl.Plan):
    return [(op.kind, op.text, op.arg, op.expect) for op in p.setup + p.warm + p.timed]


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_same_seed_same_plan_and_answers(workload):
    a = wl.plan(workload, 7, 20)
    assert _ops(a) == _ops(wl.plan(workload, 7, 20))
    assert a.timed and len(a.timed) % a.cycle == 0
    assert _ops(a) != _ops(wl.plan(workload, 8, 20))


def test_anchor_graph_shape():
    st = wl.make_state(1)
    assert len(st.edges) == 3783
    assert st.closure_size() == 797_007


def test_bitset_closure_matches_search():
    st = wl.make_state(3, wl.TINY)
    succ = {}
    for a, b in st.edges:
        succ.setdefault(a, set()).add(b)
    for node in range(wl.TINY.layers * wl.TINY.width):
        seen, todo = set(), [node]
        while todo:
            for nxt in succ.get(todo.pop(), ()):
                if nxt not in seen:
                    seen.add(nxt)
                    todo.append(nxt)
        assert st.reach_of(node) == seen


def test_churn_restores_the_closure():
    p = wl.plan("write_churn", 5, 60, wl.TINY)
    base = wl.make_state(5, wl.TINY).closure_size()
    assert [op.expect for op in p.timed if op.kind == "ins"] == [base] * 3
    assert all(op.expect <= base for op in p.timed if op.kind == "del")


def test_every_run_covers_the_same_strata():
    def layers(seed):
        p = wl.plan("read_mix", seed, 20)
        return sorted(int(op.text[len("?reach("):].split(",")[0]) // 100
                      for op in p.timed if op.kind == "bound")

    assert layers(1) == layers(2)


def test_oracle_rejects_wrong_answers():
    st = wl.make_state(2, wl.TINY)
    src = wl.OpSource(st, random.Random(0))
    bound = src.read("bound")
    rows = [(0, y) for y in sorted(bound.expect)]
    assert wl.check(bound, rows)
    assert not wl.check(bound, rows[1:])
    assert not wl.check(bound, rows + rows[:1])
    agg = src.read("agg")
    stats = [(d, n, s) for d, (n, s) in agg.expect.items()]
    assert wl.check(agg, stats)
    d, n, s = stats[0]
    assert not wl.check(agg, [(d, n, s + 1)] + stats[1:])
    knn = src.read("knn")
    dist = st.cos_dist(tuple(float(x) for x in knn.text.split("[")[1].split("]")[0].split(",")))
    nearest = [(int(i), 0.0) for i in dist.argsort()[: wl.KNN_K]]
    assert wl.check(knn, nearest)
    far = [(int(dist.argmax()), 0.0)]
    assert not wl.check(knn, nearest[1:] + far)


# ------------------------------------------------------------ with Spark


def _run(workload, seed, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "4", "--trace", str(trace), "--size", "tiny"]
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_SHUFFLE="2",
               SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True,
                         timeout=300, check=True).stdout.splitlines()
    return json.loads(out[-2])["report"], json.loads(out[-1])


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_smoke_run_reports_every_metric(workload):
    report, last = _run(workload, 1, 0)
    assert last["correct"] and last["failed"] == 0 and last["attempted"] > 0
    assert set(report["end_to_end"]) == E2E[workload]
    assert set(last["metrics"]) == E2E[workload] & set(HEADLINE_E2E)
    for name, m in report["end_to_end"].items():
        assert m["unit"] == UNITS.get(name, "ms") and m["value"] > 0


def test_traced_runs_repeat_job_counts():
    from layers import metric_units

    a, last = _run("stream_mixed", 3, 1)
    b, _ = _run("stream_mixed", 3, 1)
    assert a["spark_jobs_per_op"] == b["spark_jobs_per_op"]
    assert all(n > 0 for n in a["spark_jobs_per_op"])
    assert {k: m["unit"] for k, m in a["layers"].items()} == metric_units()
    assert set(last["metrics"]) == set(HEADLINE_LAYERS)
    assert a["layers"]["streaming.process_available.ms"]["value"] > 0
    assert set(a["layers_by_kind"]) == {"stream", *wl.STREAM_READ_KINDS}
