"""Traced runs: per-layer spans, py4j round-trips and Spark job stats.

The spans are recorded from the benchmark side only. Each layer's public
function is replaced, for the traced run, by a wrapper installed where its
caller looks the name up: `engine` binds most of them at import time,
while `seminaive_insert`, `dred_retract`, `small_local_df` (from
`magic_sets`/`recursion`) and the compiler entry points used by the
maintenance paths are looked up on their home module at call time.

One op runs at a time and the streaming callback thread only runs while
the client thread waits in `process_available`, so a single span stack
serves both threads.
"""

from __future__ import annotations

import threading
import time

HIT_LAYERS = (
    "recursion.seminaive_insert",
    "recursion.dred_retract",
    "engine.try_delta_merge",
)
TIMED_LAYERS = (
    "parser",
    "compiler",
    "magic_sets",
    "recursion.seminaive_insert",
    "recursion.dred_retract",
    "recursion.evaluate_scc",
    "engine.try_delta_merge",
    "session.small_local_df",
    "streaming.process_available",
    "engine.execute",
    "result",
)
COUNTED_LAYERS = (
    "compiler",
    "magic_sets",
    "recursion.seminaive_insert",
    "recursion.dred_retract",
    "recursion.evaluate_scc",
    "engine.try_delta_merge",
    "session.small_local_df",
)
SPARK_KEYS = ("jobs", "stages", "tasks", "job_ms", "executor_ms", "shuffle_bytes")


def metric_units() -> dict:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {"py4j.calls": "count", "driver.ms": "ms"}
    for layer in TIMED_LAYERS:
        units[f"{layer}.ms"] = "ms"
    for layer in COUNTED_LAYERS:
        units[f"{layer}.calls"] = "count"
    for layer in HIT_LAYERS:
        units[f"{layer}.hit"] = "ratio"
    for key in SPARK_KEYS:
        units[f"spark.{key}"] = (
            "ms" if key.endswith("_ms") else "B" if key == "shuffle_bytes" else "count"
        )
    return units


def totals(per_op: list) -> dict:
    """Run totals of per-op numbers, with each hit ratio taken over all
    calls of the run."""
    out = {k: sum(op[k] for op in per_op) for k in metric_units() if not k.endswith(".hit")}
    for layer in HIT_LAYERS:
        calls = out[f"{layer}.calls"]
        out[f"{layer}.hit"] = sum(op[f"{layer}.hits"] for op in per_op) / calls if calls else 0.0
    return out


def _targets():
    from inputlayer_spark import compiler, engine, recursion, session
    from inputlayer_spark.streaming import maintainer

    eng = engine.IQLEngine
    return [
        (engine, "parse_program", "parser"),
        (engine, "compile_body", "compiler"),
        (engine, "compile_head", "compiler"),
        (compiler, "compile_body", "compiler"),
        (compiler, "compile_head", "compiler"),
        (compiler, "scan_atom", "compiler"),
        (engine, "magic_rewrite", "magic_sets"),
        (engine, "seeded_tc_closure", "magic_sets"),
        (recursion, "seminaive_insert", "recursion.seminaive_insert"),
        (recursion, "dred_retract", "recursion.dred_retract"),
        (engine, "evaluate_scc", "recursion.evaluate_scc"),
        (eng, "try_delta_merge", "engine.try_delta_merge"),
        (engine, "small_local_df", "session.small_local_df"),
        (session, "small_local_df", "session.small_local_df"),
        (maintainer.IncrementalMaintainer, "process_available", "streaming.process_available"),
        (eng, "execute", "engine.execute"),
        (eng, "query", "engine.execute"),
    ]


class Tracer:
    """Wraps layer functions while installed and summarises one op at a
    time: `begin(tag)` before the op's timer starts, `end(wall_s)` after
    it stops."""

    def __init__(self, spark):
        self.spark = spark
        self._jsc = spark.sparkContext._jsc.sc()
        self._lock = threading.Lock()
        self._saved = []
        self._active = False
        self._spans = []  # [layer, start, end, parent, hit]
        self._stack = []
        self._py4j = 0
        self._tag = None

    # ---------------------------------------------------------- install

    def install(self) -> None:
        from py4j.clientserver import ClientServerConnection

        for owner, name, layer in _targets():
            fn = owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)
            self._saved.append((owner, name, fn))
            setattr(owner, name, self._wrap(fn, layer))
        send = ClientServerConnection.send_command
        self._saved.append((ClientServerConnection, "send_command", send))
        tracer = self

        def counted(conn, command, *args, **kwargs):
            if tracer._active:
                with tracer._lock:
                    tracer._py4j += 1
            return send(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = counted

    def uninstall(self) -> None:
        for owner, name, fn in reversed(self._saved):
            setattr(owner, name, fn)
        self._saved.clear()

    def _wrap(self, fn, layer):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer._active:
                return fn(*args, **kwargs)
            with tracer._lock:
                parent = tracer._stack[-1] if tracer._stack else None
                span = [layer, time.perf_counter(), None, parent, None]
                tracer._spans.append(span)
                tracer._stack.append(len(tracer._spans) - 1)
            try:
                out = fn(*args, **kwargs)
                span[4] = out is not None
                return out
            finally:
                span[2] = time.perf_counter()
                with tracer._lock:
                    tracer._stack.pop()

        return traced

    def call(self, layer: str, f):
        """Run `f()` as a span opened by the benchmark itself (the result
        collection of a read)."""
        return self._wrap(f, layer)()

    # ---------------------------------------------------------- per op

    def begin(self, tag: str) -> None:
        self._spans, self._stack, self._py4j, self._tag = [], [], 0, tag
        self.spark.sparkContext.addJobTag(tag)
        self._active = True

    def end(self, wall_s: float) -> dict:
        """Close the op and return its per-layer numbers. Reads the Spark
        status store, so call it after the op's timer has stopped."""
        self._active = False
        sc = self.spark.sparkContext
        sc.removeJobTag(self._tag)
        out = self._layer_totals()
        out["py4j.calls"] = self._py4j
        out.update(self._spark_totals(self._tag))
        out["driver.ms"] = wall_s * 1e3 - out["spark.job_ms"]
        return out

    def _layer_totals(self) -> dict:
        child = [0.0] * len(self._spans)
        for layer, t0, t1, parent, _ in self._spans:
            if parent is not None:
                child[parent] += t1 - t0
        out = {k: 0.0 for k in metric_units()
               if not k.startswith(("spark.", "py4j", "driver")) and not k.endswith(".hit")}
        hits = {layer: 0 for layer in HIT_LAYERS}
        for i, (layer, t0, t1, _, hit) in enumerate(self._spans):
            if f"{layer}.ms" in out:
                out[f"{layer}.ms"] += (t1 - t0 - child[i]) * 1e3
            if f"{layer}.calls" in out:
                out[f"{layer}.calls"] += 1
            if layer in hits and hit:
                hits[layer] += 1
        for layer, n in hits.items():
            out[f"{layer}.hits"] = n
        return out

    def _spark_totals(self, tag: str) -> dict:
        from py4j.protocol import Py4JJavaError

        jsc = self._jsc
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        ids = sorted(jsc.statusTracker().getJobIdsForTag(tag))
        stages, tasks, intervals = set(), 0, []
        for jid in ids:
            job = store.job(jid)
            tasks += job.numTasks() - job.numSkippedTasks()
            sids = job.stageIds()
            stages.update(sids.apply(i) for i in range(sids.size()))
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        executor_ms = shuffle = run_stages = 0
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store: nothing to count
                continue
            if str(st.status()) == "SKIPPED":  # output reused from an earlier job
                continue
            run_stages += 1
            executor_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
        return {
            "spark.jobs": len(ids),
            "spark.stages": run_stages,
            "spark.tasks": tasks,
            "spark.job_ms": float(_union_ms(intervals)),
            "spark.executor_ms": float(executor_ms),
            "spark.shuffle_bytes": shuffle,
        }


def _union_ms(intervals) -> int:
    """Wall time covered by at least one job."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
