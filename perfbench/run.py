#!/usr/bin/env python3
"""Closed-loop workload benchmark for the IQL engine.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 30 --trace 0

Runs one workload (see README.md) against `IQLEngine` in-process with one
client thread, checks every answer against the Python oracle in
`workload.py`, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. The lines before it hold the full report.

Run it from the root of a checkout of the repository: everything it
writes goes under `.perfbench_work/` there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workload as wl  # noqa: E402

READ_KINDS = set(wl.READ_KINDS)
# the read that completes a write statement; the oracle checks its answer
FOLLOW_UP = {"emp": wl.AGG, "del": wl.SCAN, "ins": wl.SCAN}
COUNTED = {"scan", "del", "ins"}  # answered with a row count, not rows
FRESH = {"stream": "fresh_batch_p50_ms", "emp": "fresh_agg_p50_ms",
         "ins": "fresh_ins_p50_ms", "del": "fresh_del_p50_ms"}
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "read_p50_ms": "ms", "read_p90_ms": "ms",
         **{m: "ms" for m in FRESH.values()}}
# The last output line carries the metrics BENCHMARK.json names. Each must
# be measured on every workload there, so workload-specific metrics (the
# fresh_* medians, layers only one workload runs) stay in the report line.
HEADLINE_E2E = ("setup_s", "ops_per_s", "read_p50_ms")
HEADLINE_LAYERS = (
    "parser.ms", "compiler.calls", "compiler.ms", "py4j.calls", "driver.ms",
    "magic_sets.calls", "magic_sets.ms", "session.small_local_df.calls",
    "session.small_local_df.ms", "engine.try_delta_merge.calls", "engine.try_delta_merge.hit",
    "engine.execute.ms", "result.ms", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.job_ms", "spark.executor_ms", "spark.shuffle_bytes",
)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(wl.SIZES), default="full",
                   help="graph and table sizes; 'tiny' is for the benchmark's own tests")
    return p.parse_args(argv)


def _pin_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`, and
    let Python workers import the engine (hnsw_nearest's probe UDF runs
    there)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _write_inputs(state: wl.State, data: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    edges = sorted(state.edges)
    pq.write_table(pa.table({"c0": [a for a, _ in edges], "c1": [b for _, b in edges]}),
                   os.path.join(data, "edge.parquet"))
    ids = sorted(state.emp)
    pq.write_table(pa.table({"c0": ids, "c1": [state.emp[i][0] for i in ids],
                             "c2": [state.emp[i][1] for i in ids]}),
                   os.path.join(data, "emp.parquet"))
    vec_type = pa.list_(pa.float32())
    pq.write_table(pa.table({"c0": pa.array(range(len(state.vecs)), pa.int64()),
                             "c1": pa.array(state.vecs.tolist(), vec_type)}),
                   os.path.join(data, "emb.parquet"))


def _land(rows, src: str, n: int) -> None:
    """Land one stream file atomically: Spark skips dot-files, so the
    rename is the moment the batch becomes visible."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({f"c{i}": pa.array([r[i] for r in rows], pa.int64()) for i in range(3)})
    tmp = os.path.join(src, f".batch-{n:05d}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(src, f"batch-{n:05d}.parquet"))


class Runner:
    def __init__(self, spark, work: str, data: str):
        self.spark = spark
        self.work = work
        self.data = data
        self.tracer = None
        self.eng = None
        self.maintainer = None
        self.src = None
        self.landed = 0

    def setup(self, streaming: bool) -> None:
        from pyspark.sql import types as T

        from inputlayer_spark import IQLEngine
        from inputlayer_spark.streaming import IncrementalMaintainer

        self.eng = IQLEngine(self.spark)
        for rel in ("edge", "emp", "emb"):
            self.eng.load_parquet(rel, os.path.join(self.data, f"{rel}.parquet"))
        self.eng.execute(wl.RULES)
        self.eng.create_index(wl.INDEX, "emb", "c1", metric="cosine")
        if streaming:
            # positional column names: the maintainer unions by name
            schema = T.StructType([T.StructField(c, T.LongType()) for c in ("c0", "c1", "c2")])
            self.src = os.path.join(self.work, "stream-src")
            os.makedirs(self.src)
            # refresh=False, as bench.py's stream row: views the batch does
            # not maintain in place are recomputed when next read
            self.maintainer = IncrementalMaintainer(
                self.eng, "emp", self.src, schema, os.path.join(self.work, "stream-ckpt"),
                refresh=False)

    def _read(self, text: str, count: bool):
        df = self.eng.query(text)
        return df.count() if count else df.collect()

    def _do(self, op):
        if op.kind == "stream":
            self.maintainer.process_available()
        elif op.kind in FOLLOW_UP:
            self.eng.execute(op.text)
        text = FOLLOW_UP.get(op.kind, op.text)
        count = op.kind in COUNTED
        if self.tracer is None:
            return self._read(text, count)
        return self.tracer.call("result", lambda: self._read(text, count))

    def run(self, op, n: int):
        """Run one op; returns (seconds, answer ok, layer numbers or None).
        The oracle check and the trace bookkeeping sit outside the timer."""
        if op.kind == "stream":
            _land(op.arg, self.src, self.landed)
            self.landed += 1
        if self.tracer is not None:
            self.tracer.begin(f"perfbench-op-{n}")
        t0 = time.perf_counter()
        try:
            result = self._do(op)
            err = None
        except Exception as e:  # an op that raises counts as failed
            result, err = None, e
        dt = time.perf_counter() - t0
        layers = self.tracer.end(dt) if self.tracer is not None else None
        if err is not None:
            print(f"op {n} {op.kind} raised: {err!r}"[:500], file=sys.stderr)
            return dt, False, layers
        ok = wl.check(op, result)
        if not ok:
            print(f"op {n} {op.kind} wrong answer: {op.text[:120]}", file=sys.stderr)
        return dt, ok, layers


def _cpu_steal():
    """(steal, total) jiffies from /proc/stat, or None off Linux: time
    the hypervisor gave this machine's vCPUs to someone else."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return fields[7], sum(fields)


def _host_loop_ms() -> float:
    """Median time of a fixed pure-Python loop: how fast the machine ran
    around the timed ops, apart from the engine."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def _pct(xs, q):
    """q-th percentile (exclusive method, as statistics.quantiles)."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100)[q - 1]


def _summary(times_by_kind: dict) -> dict:
    return {k: {"n": len(v), "p50_ms": statistics.median(v), "p90_ms": _pct(v, 90)}
            for k, v in sorted(times_by_kind.items())}


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "inputlayer_spark")):
        print("perfbench: inputlayer_spark/ not found next to perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    _pin_environment(work)
    sys.path.insert(0, ROOT)

    size = wl.SIZES[a.size]
    the_plan = wl.plan(a.workload, a.seed, a.seconds, size)
    _write_inputs(wl.make_state(a.seed, size), data)

    t_setup = time.perf_counter()
    from pyspark import SparkContext

    from inputlayer_spark import get_spark

    spark = get_spark("perfbench")
    gateway = SparkContext._gateway
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return _measure(a, spark, work, data, the_plan, t_setup, work_root)
    finally:
        spark.stop()
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


def _measure(a, spark, work, data, the_plan, t_setup, work_root) -> int:
    tracer = None
    if a.trace:
        from layers import Tracer, metric_units, totals

        tracer = Tracer(spark)
        tracer.install()
    runner = Runner(spark, work, data)
    runner.setup(streaming=a.workload == "stream_mixed")
    setup_ok = all(runner.run(op, -1 - i)[1] for i, op in enumerate(the_plan.setup))
    setup_s = time.perf_counter() - t_setup
    if not setup_ok:
        print("perfbench: set-up answers disagree with the oracle", file=sys.stderr)
        return 1
    for i, op in enumerate(the_plan.warm):
        runner.run(op, -100 - i)

    runner.tracer = tracer
    host0 = _host_loop_ms()
    steal0 = _cpu_steal()
    op_s = []
    times: dict = {}
    layers_by_kind: dict = {}
    jobs_per_op = []
    failed = 0
    for n, op in enumerate(the_plan.timed):
        dt, ok, layers = runner.run(op, n)
        failed += not ok
        op_s.append(dt)
        times.setdefault(op.kind, []).append(dt * 1e3)
        if layers is not None:
            jobs_per_op.append(layers["spark.jobs"])
            layers_by_kind.setdefault(op.kind, []).append(layers)

    attempted = len(the_plan.timed)
    steal1 = _cpu_steal()
    host1 = _host_loop_ms()
    # Rates and medians are taken per cycle (one round of the op mix) and
    # then over the run's cycles, so a burst of CPU steal that slows a few
    # cycles does not move them. read_p90_ms and the fresh_* medians pool
    # every sample of their kind.
    c = the_plan.cycle
    cycles = [range(i, i + c) for i in range(0, attempted, c)]
    reads = [t for k, v in times.items() if k in READ_KINDS for t in v]
    e2e = {"setup_s": setup_s,
           "ops_per_s": c / statistics.median([sum(op_s[i] for i in cyc) for cyc in cycles])}
    if reads:
        e2e["read_p50_ms"] = statistics.median([
            statistics.median([op_s[i] * 1e3 for i in cyc if the_plan.timed[i].kind in READ_KINDS])
            for cyc in cycles])
        e2e["read_p90_ms"] = _pct(reads, 90)
    for kind, name in FRESH.items():
        if kind in times:
            e2e[name] = statistics.median(times[kind])
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "size": a.size,
        "trace": a.trace, "reads": len(reads), "per_kind": _summary(times),
        "end_to_end": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
        "op_ms": [round(t * 1e3, 1) for t in op_s], "host_loop_ms": [host0, host1],
    }
    if steal0 and steal1 and steal1[1] > steal0[1]:
        report["cpu_steal_pct"] = 100 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1])
    untraced = os.path.join(work_root, f"untraced-{a.workload}-{a.seed}-{a.seconds}-{a.size}.json")
    if tracer is None:
        with open(untraced, "w") as f:
            json.dump(e2e, f)
        metrics = {k: report["end_to_end"][k] for k in HEADLINE_E2E if k in e2e}
    else:
        tracer.uninstall()
        units = metric_units()
        run_totals = totals([op for ops in layers_by_kind.values() for op in ops])
        report["layers"] = {k: {"value": v, "unit": units[k]} for k, v in run_totals.items()}
        report["layers_by_kind"] = {k: totals(v) for k, v in sorted(layers_by_kind.items())}
        report["spark_jobs_per_op"] = jobs_per_op
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            report["tracing_overhead"] = {
                k: e2e[k] / base[k] - 1 for k in e2e if k in base and k != "setup_s"}
        metrics = {k: report["layers"][k] for k in HEADLINE_LAYERS}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
