"""Incremental view maintenance: streaming appends + cascade invalidation."""

import pytest
from pyspark.sql import types as T

from inputlayer_spark.engine import IQLEngine
from inputlayer_spark.streaming import IncrementalMaintainer


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
    ]
)


def test_streaming_incremental_maintenance(spark, tmp_path):
    src_dir = tmp_path / "edges_in"
    ckpt = tmp_path / "ckpt"
    src_dir.mkdir()

    eng = IQLEngine(spark)
    eng.execute("+edge(src: int, dst: int)")
    eng.execute("+reach(A, B) <- edge(A, B)\n+reach(A, C) <- edge(A, B), reach(B, C)")

    m = IncrementalMaintainer(
        eng, "edge", str(src_dir), EDGE_SCHEMA, str(ckpt), refresh=False
    )

    spark.createDataFrame([(1, 2), (2, 3)], EDGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    m.process_available()
    assert m.batches_seen == 1
    assert _rows(eng.query("?reach(1, Y)")) == [(1, 2), (1, 3)]

    # second delta batch arrives → derived relations see it after drain
    spark.createDataFrame([(3, 4)], EDGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    m.process_available()
    assert m.batches_seen == 2
    assert _rows(eng.query("?reach(1, Y)")) == [(1, 2), (1, 3), (1, 4)]


def test_selective_invalidation(spark):
    eng = IQLEngine(spark)
    eng.execute("+a[(1)]\n+b[(10)]")
    eng.execute("+da(X) <- a(X)\n+db(X) <- b(X)\n+dd(X) <- da(X)")
    eng.query("?da(X)")
    eng.query("?db(X)")
    eng.query("?dd(X)")
    assert {"da", "db", "dd"} <= set(eng._derived_cache)
    # write to a → da and dd (transitive) invalidated, db untouched
    eng.execute("+a[(2)]")
    assert "db" in eng._derived_cache
    assert "da" not in eng._derived_cache
    assert "dd" not in eng._derived_cache
    assert _rows(eng.query("?dd(X)")) == [(1,), (2,)]


SALE_SCHEMA = T.StructType(
    [
        T.StructField("region", T.StringType()),
        T.StructField("amount", T.LongType()),
    ]
)


def test_incremental_aggregate_delta_merge(spark, tmp_path):
    """Aggregate views over a streamed base are maintained by O(delta)
    merge (old state ⊕ micro-batch aggregate), not full recompute — the
    Spark analog of the reference's differential re-query
    (BENCHMARKS.md:89-93). Correctness: the merged view must equal a
    from-scratch evaluation, including IQL's distinct-bindings semantics
    (a delta row duplicating an existing base row must not change sums)."""
    ckpt = tmp_path / "ckpt2"
    src_dir = tmp_path / "sales"
    src_dir.mkdir()

    eng = IQLEngine(spark)
    eng.execute("+sale(region: string, amount: int)")
    eng.execute("+summary(R, sum<A>, count<A>, max<A>) <- sale(R, A)")

    m = IncrementalMaintainer(
        eng, "sale", str(src_dir), SALE_SCHEMA, str(ckpt), refresh=True
    )

    spark.createDataFrame(
        [("eu", 10), ("eu", 20), ("us", 5)], SALE_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    m.process_available()
    assert m.delta_merges == 0  # first batch: nothing cached to merge into
    assert _rows(eng.query("?summary(R, S, N, M)")) == [
        ("eu", 30, 2, 20),
        ("us", 5, 1, 5),
    ]

    # +delta batch: new group, new row in an old group, and an exact
    # duplicate of an existing base row (must be a no-op under set
    # semantics)
    spark.createDataFrame(
        [("ap", 7), ("eu", 40), ("eu", 10)], SALE_SCHEMA
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    m.process_available()
    assert m.delta_merges == 1  # summary was maintained by merge
    assert _rows(eng.query("?summary(R, S, N, M)")) == [
        ("ap", 7, 1, 7),
        ("eu", 70, 3, 40),
        ("us", 5, 1, 5),
    ]
    # and the merged state keeps accumulating on a third batch
    spark.createDataFrame([("us", 15)], SALE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    m.process_available()
    assert m.delta_merges == 2
    assert _rows(eng.query("?summary(R, S, N, M)")) == [
        ("ap", 7, 1, 7),
        ("eu", 70, 3, 40),
        ("us", 20, 2, 15),
    ]


def _no_full_recompute(monkeypatch):
    """Make any full SCC re-evaluation explode: queries after an
    incrementally-maintained write must be served from the cache."""
    import inputlayer_spark.engine as eng_mod

    def boom(*a, **k):
        raise AssertionError("full recompute ran — fast path not taken")

    monkeypatch.setattr(eng_mod, "evaluate_scc", boom)


def test_incremental_retraction_sum_count(spark, monkeypatch):
    """Deleting 10 of 10k rows maintains a sum/count view by O(delta)
    subtract-merge — no full re-aggregation (VERDICT r3 #5; reference
    retraction 602ms vs 11.3s recompute, BENCHMARKS.md:67-71)."""
    from pyspark.sql import functions as F

    eng = IQLEngine(spark)
    base = spark.range(10_000).select(
        (F.col("id") % 100).alias("d"), F.col("id").cast("double").alias("s")
    )
    eng.register("emp", base)
    eng.execute("+dstat(D, count<S>, sum<S>) <- emp(D, S)")
    before = {r[0]: (r[1], r[2]) for r in eng.query("?dstat(D, N, S)").collect()}
    assert "dstat" in eng._derived_cache
    # one conditional delete removing the 10 rows of group 7 under 1000
    eng.execute("-emp(7, S) <- emp(7, S), S < 1000.0")
    assert "dstat" in eng._derived_cache  # cache maintained, not wiped
    _no_full_recompute(monkeypatch)
    after = {r[0]: (r[1], r[2]) for r in eng.query("?dstat(D, N, S)").collect()}
    gone = [float(7 + 100 * i) for i in range(10)]
    expected = dict(before)
    expected[7] = (before[7][0] - 10, before[7][1] - sum(gone))
    assert after.keys() == expected.keys()
    for k in expected:
        assert after[k][0] == expected[k][0]
        assert abs(after[k][1] - expected[k][1]) < 1e-6


def test_incremental_retraction_drops_emptied_group(spark, monkeypatch):
    """A retraction that empties a group must remove the group's row
    from the view (count==0 detection on the O(delta) path)."""
    eng = IQLEngine(spark)
    eng.execute('+sale[("eu", 10.0), ("eu", 20.0), ("us", 5.0)]')
    eng.execute("+tot(R, count<V>, sum<V>) <- sale(R, V)")
    assert sorted(tuple(r) for r in eng.query("?tot(R, N, S)").collect()) == [
        ("eu", 2, 30.0),
        ("us", 1, 5.0),
    ]
    eng.execute('-sale("us", 5.0)')
    assert "tot" in eng._derived_cache
    _no_full_recompute(monkeypatch)
    assert sorted(tuple(r) for r in eng.query("?tot(R, N, S)").collect()) == [
        ("eu", 2, 30.0),
    ]


def test_incremental_retraction_minmax_group_scoped(spark, monkeypatch):
    """min/max retraction re-aggregates ONLY the touched group from the
    new base (group-scoped recompute); untouched groups keep their
    materialization and full recompute never runs."""
    from pyspark.sql import functions as F

    eng = IQLEngine(spark)
    base = spark.range(1_000).select(
        (F.col("id") % 10).alias("d"), F.col("id").cast("double").alias("s")
    )
    eng.register("m", base)
    eng.execute("+gmax(D, max<S>) <- m(D, S)")
    before = {r[0]: r[1] for r in eng.query("?gmax(D, S)").collect()}
    assert before[3] == 993.0
    eng.execute("-m(3, 993.0)")  # retract group 3's max
    assert "gmax" in eng._derived_cache
    _no_full_recompute(monkeypatch)
    after = {r[0]: r[1] for r in eng.query("?gmax(D, S)").collect()}
    assert after[3] == 983.0
    assert {k: v for k, v in after.items() if k != 3} == {
        k: v for k, v in before.items() if k != 3
    }


def test_incremental_retraction_duplicate_copy_keeps_binding(spark, monkeypatch):
    """Set-semantics fidelity: aggregates range over DISTINCT bindings,
    so deleting one copy of a duplicated tuple (all copies go — pattern
    deletes remove every match) retracts the binding, but a binding that
    still holds in the new base must not be retracted twice."""
    eng = IQLEngine(spark)
    # (a,1) duplicated; count<V>/sum<V> see the binding once
    eng.execute('+t[("a", 1.0), ("a", 1.0), ("a", 2.0), ("b", 3.0)]')
    eng.execute("+agg(K, count<V>, sum<V>) <- t(K, V)")
    assert sorted(tuple(r) for r in eng.query("?agg(K, N, S)").collect()) == [
        ("a", 2, 3.0),
        ("b", 1, 3.0),
    ]
    eng.execute('-t("a", 2.0)')
    assert "agg" in eng._derived_cache
    _no_full_recompute(monkeypatch)
    assert sorted(tuple(r) for r in eng.query("?agg(K, N, S)").collect()) == [
        ("a", 1, 1.0),
        ("b", 1, 3.0),
    ]


def _tc_engine(spark, edges):
    eng = IQLEngine(spark)
    vals = ", ".join(f"({a}, {b})" for a, b in edges)
    eng.execute(f"+edge[{vals}]")
    eng.execute(
        "+path(X, Y) <- edge(X, Y)\n+path(X, Z) <- edge(X, Y), path(Y, Z)"
    )
    return eng


def _paths(eng):
    return sorted(tuple(r) for r in eng.query("?path(X, Y)").collect())


def test_dred_retraction_transitive_closure(spark, monkeypatch):
    """Deleting edges from a materialized transitive closure maintains
    the view by DRed (overdelete + rederive) — no full fixpoint re-run —
    and the result equals a from-scratch recompute. Covers the
    alternative-derivation case: 1→2 survives deleting edge (1,2) via
    1→4→2 (rederive), while 1→3 only partially survives."""
    import random

    edges = [(1, 2), (2, 3), (1, 4), (4, 2), (5, 1)]
    eng = _tc_engine(spark, edges)
    _paths(eng)  # materialize
    assert "path" in eng._derived_cache
    eng.execute("-edge(1, 2)")
    assert "path" in eng._derived_cache  # DRed maintained, not wiped
    # oracle first: the fresh engine legitimately runs a full fixpoint
    fresh = _tc_engine(spark, [(e) for e in edges if e != (1, 2)])
    want = _paths(fresh)
    _no_full_recompute(monkeypatch)
    got = _paths(eng)
    assert got == want
    # 1→2 must have been REDERIVED via 1→4→2
    assert (1, 2) in set(got)


def test_recursive_head_facts_are_maintained(spark, monkeypatch):
    """A recursive head's own facts (`+path[...]` before its rules) are
    part of its view, like the reference's input_tuples, so DRed and
    semi-naive insert maintain them: deleting a head fact drops it and
    what it derived, a head fact whose derivation goes is kept, and a
    micro-batch into the head adds its rows. After each write the view
    the maintenance path returned equals a recompute. An unrelated
    10-edge chain keeps each delete's cone inside DRed's budget (half
    the cached view)."""
    from inputlayer_spark import recursion
    from inputlayer_spark.session import small_local_df

    ran = set()

    def spy(name):
        real = getattr(recursion, name)

        def wrapped(*a, **k):
            out = real(*a, **k)
            if out is not None:
                ran.add(name)
            return out

        monkeypatch.setattr(recursion, name, wrapped)

    spy("dred_retract")
    spy("seminaive_insert")
    chain = [(i, i + 1) for i in range(100, 110)]
    chain_paths = {(a, b) for a in range(100, 111) for b in range(a + 1, 111)}
    eng = IQLEngine(spark)
    edges = [(1, 2), (2, 3)] + chain
    eng.execute(f"+edge[{', '.join(f'({a}, {b})' for a, b in edges)}]")
    eng.execute("+path[(1, 3), (3, 9)]")
    eng.execute(
        "+path(X, Y) <- edge(X, Y)\n+path(X, Z) <- edge(X, Y), path(Y, Z)"
    )
    _paths(eng)  # materialize

    def check(maintained_by, want):
        assert ran == {maintained_by}
        ran.clear()
        got = set(_paths(eng))
        eng._invalidate("path")
        assert set(_paths(eng)) == got == want | chain_paths

    eng.execute("-path(3, 9)")
    check("dred_retract", {(1, 2), (1, 3), (2, 3)})
    # a stream micro-batch into the head, committed as
    # IncrementalMaintainer._on_batch commits it
    current = eng.current.relations["path"]
    batch = small_local_df(spark, [(3, 50)], current.schema)
    eng._commit_write(
        "path", current.unionByName(batch).localCheckpoint(eager=True),
        current, batch,
    )
    check("seminaive_insert", {(1, 2), (1, 3), (2, 3), (3, 50), (2, 50), (1, 50)})
    eng.execute("-edge(2, 3)")
    check("dred_retract", {(1, 2), (1, 3), (3, 50)})


def test_dred_bails_on_negation_and_session_overlays(spark):
    """Out-of-scope shapes must fall back to invalidation (cache entry
    dropped), never produce a wrong maintained view."""
    eng = _tc_engine(spark, [(1, 2), (2, 3)])
    _paths(eng)
    # session overlay active → DRed disabled, cache invalidated
    eng.add_session_fact("edge", 3, 4)
    eng.execute("-edge(2, 3)")
    assert _paths(eng) == [(1, 2), (3, 4)]


# ------------------------------------------------------ stateful stream ops


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """First arrival of each key survives; repeats within the watermark
    horizon drop. State bounded by event time, not stream length."""
    import pyspark.sql.functions as F
    from pyspark.sql import types as T

    from inputlayer_spark.streaming.stateful import streaming_dedup

    src = tmp_path / "in"
    src.mkdir()
    sch = T.StructType(
        [
            T.StructField("doc_hash", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        ("a", base),
        ("b", base + dt.timedelta(minutes=1)),
        ("a", base + dt.timedelta(minutes=2)),  # dup within watermark
        ("c", base + dt.timedelta(minutes=3)),
        ("b", base + dt.timedelta(minutes=4)),  # dup
    ]
    spark.createDataFrame(rows, sch).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(sch).parquet(str(src))
    out = streaming_dedup(stream, ["doc_hash"], "ts", watermark="10 minutes")
    q = (
        out.writeStream.format("memory").queryName("dedup_sink")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(r.doc_hash for r in spark.sql("select * from dedup_sink").collect())
    assert got == ["a", "b", "c"]
    q.stop()


def test_sessionize_gap_windows(spark, tmp_path):
    """Events within the gap share a session; a larger gap opens a new
    one. session_window aggregation emits CLOSED sessions in append mode
    once the watermark passes their end — verified with a two-phase run
    over one checkpoint (the flush batch advances the watermark)."""
    from pyspark.sql import types as T

    from inputlayer_spark.streaming.stateful import sessionize

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    sch = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    import datetime as dt

    base = dt.datetime(2026, 1, 1, 9, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=10)),   # same session (gap 30m)
        (1, base + dt.timedelta(hours=2)),      # new session
        (2, base),
    ]
    spark.createDataFrame(rows, sch).coalesce(1).write.mode("append").parquet(
        str(src_dir)
    )
    collected = []

    def run_phase():
        stream = spark.readStream.schema(sch).parquet(str(src_dir))
        out = sessionize(stream, "user_id", "ts", gap="30 minutes",
                         watermark="10 minutes")
        q = (
            out.writeStream.foreachBatch(
                lambda df, _id: collected.extend(df.collect())
            )
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt")).start()
        )
        q.awaitTermination(120)
        q.stop()

    run_phase()
    # flush batch: far-future event advances the watermark past every
    # open session so they close and emit
    spark.createDataFrame(
        [(999, base + dt.timedelta(days=1))], sch
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    run_phase()
    got = {(r.user_id, r.n_events) for r in collected}
    assert (1, 2) in got and (1, 1) in got and (2, 1) in got


def test_stateful_topk_survives_batches(spark, tmp_path):
    """applyInPandasWithState custom operator: the per-key top-k heap
    persists across micro-batches (one checkpoint, two phases) — a
    weaker later row cannot evict a stronger earlier one, and a
    stronger one reorders the heap."""
    from pyspark.sql import types as T

    from inputlayer_spark.streaming.stateful import stateful_topk

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    sch = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    batches = []

    def run_phase():
        stream = spark.readStream.schema(sch).parquet(str(src_dir))
        out = stateful_topk(stream, k=2)
        q = (
            out.writeStream.foreachBatch(
                lambda df, _id: batches.append(df.collect())
            )
            .outputMode("update").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt")).start()
        )
        q.awaitTermination(120)
        q.stop()

    spark.createDataFrame(
        [("k", 1, 0.9), ("k", 2, 0.8), ("k", 3, 0.7)], sch
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    run_phase()
    got1 = {(r.id, r.rank) for b in batches for r in b}
    assert got1 == {(1, 1), (2, 2)}
    # phase 2: weaker row ignored, stronger row takes rank 1 — proves
    # the heap state survived the restart from the checkpoint
    batches.clear()
    spark.createDataFrame(
        [("k", 9, 0.1), ("k", 10, 0.95)], sch
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    run_phase()
    got2 = {(r.id, r.rank) for b in batches for r in b}
    assert got2 == {(10, 1), (1, 2)}


def test_dred_deep_cone_bails_to_recompute(spark):
    """A deletion whose cone is depth-proportional (long chain, deleted
    edge near the end) must NOT run depth-many DRed iterations — it
    bails within the iteration budget and recomputes log-depth.
    Regression: this case previously ran 400 overdelete rounds
    (thousands of Spark stages) before any result."""
    import time

    edges = [(i, i + 1) for i in range(250)]
    eng = _tc_engine(spark, edges)
    n_before = len(_paths(eng))
    t0 = time.perf_counter()
    eng.execute("-edge(249, 250)")
    got = _paths(eng)
    elapsed = time.perf_counter() - t0
    assert len(got) == n_before - 250  # exactly the paths ending at 250
    # budget: bail (≤24 cheap rounds) + one log-depth recompute; the
    # runaway regression took >400s — 90s bounds it loosely on a noisy VM
    assert elapsed < 90, f"deep-cone retraction took {elapsed:.0f}s"


# ---------------------------------------------- insert-side maintenance


def test_incremental_insert_sum_count(spark, monkeypatch):
    """A literal fact insert into the base of a materialized sum/count
    view is maintained by O(delta) merge (engine._maintain →
    try_delta_merge) — no re-aggregation of the 10k-row base (reference
    differential update: +10..1000 rows re-query in 3.9-8.3 ms,
    BENCHMARKS.md:50-66)."""
    from pyspark.sql import functions as F

    eng = IQLEngine(spark)
    base = spark.range(10_000).select(
        (F.col("id") % 100).alias("d"), F.col("id").cast("double").alias("s")
    )
    eng.register("emp", base)
    eng.execute("+dstat(D, count<S>, sum<S>) <- emp(D, S)")
    before = {r[0]: (r[1], r[2]) for r in eng.query("?dstat(D, N, S)").collect()}
    assert "dstat" in eng._derived_cache
    eng.execute("+emp[(7, 100000.0), (7, 200000.0), (200, 5.0)]")
    assert "dstat" in eng._derived_cache  # cache maintained, not wiped
    _no_full_recompute(monkeypatch)
    after = {r[0]: (r[1], r[2]) for r in eng.query("?dstat(D, N, S)").collect()}
    expected = dict(before)
    expected[7] = (before[7][0] + 2, before[7][1] + 300000.0)
    expected[200] = (1, 5.0)  # brand-new group appears
    assert after.keys() == expected.keys()
    for k in expected:
        assert after[k][0] == expected[k][0]
        assert abs(after[k][1] - expected[k][1]) < 1e-6


def test_incremental_insert_duplicate_binding_not_double_counted(spark, monkeypatch):
    """Set-semantics fidelity on the insert path: re-inserting a tuple
    whose binding is already in the base must not re-contribute to
    sum/count (distinct-binding anti-join in try_delta_merge)."""
    eng = IQLEngine(spark)
    eng.execute('+t[("a", 1.0), ("b", 3.0)]')
    eng.execute("+agg(K, count<V>, sum<V>) <- t(K, V)")
    assert _rows(eng.query("?agg(K, N, S)")) == [("a", 1, 1.0), ("b", 1, 3.0)]
    eng.execute('+t[("a", 1.0), ("a", 2.0)]')  # one dup, one new
    assert "agg" in eng._derived_cache
    _no_full_recompute(monkeypatch)
    assert _rows(eng.query("?agg(K, N, S)")) == [("a", 2, 3.0), ("b", 1, 3.0)]


def test_seminaive_insert_transitive_closure(spark, monkeypatch):
    """Inserting edges into a materialized transitive closure extends
    the fixpoint semi-naively from the delta (engine._maintain →
    recursion.seminaive_insert) — no full fixpoint re-run — and equals a
    from-scratch recompute. The inserted edge (3, 5) bridges two
    components, so the delta cone spans both directions."""
    edges = [(1, 2), (2, 3), (5, 6), (6, 7)]
    eng = _tc_engine(spark, edges)
    _paths(eng)  # materialize
    assert "path" in eng._derived_cache
    eng.execute("+edge[(3, 5)]")
    assert "path" in eng._derived_cache  # maintained, not wiped
    fresh = _tc_engine(spark, edges + [(3, 5)])
    want = _paths(fresh)
    _no_full_recompute(monkeypatch)
    got = _paths(eng)
    assert got == want
    assert (1, 7) in set(got)  # full bridge: 1→2→3→5→6→7


def test_seminaive_insert_bails_on_session_overlay(spark):
    """Out-of-scope shapes fall back to invalidation — never a wrong
    maintained view."""
    eng = _tc_engine(spark, [(1, 2)])
    _paths(eng)
    eng.add_session_fact("edge", 9, 10)
    eng.execute("+edge[(2, 3)]")
    assert _paths(eng) == [(1, 2), (1, 3), (2, 3), (9, 10)]


def test_insert_then_delete_maintenance_sequence(spark, monkeypatch):
    """The oracle-row scenario end-to-end: materialize, insert delta,
    conditional-delete delta, re-query — every step served from the
    maintained cache, values equal a from-scratch evaluation."""
    from pyspark.sql import functions as F

    eng = IQLEngine(spark)
    base = spark.range(1_000).select(
        (F.col("id") % 10).alias("g"), F.col("id").cast("double").alias("v")
    )
    eng.register("b", base)
    eng.execute("+gstat(G, count<V>, sum<V>) <- b(G, V)")
    eng.query("?gstat(G, N, S)").count()
    eng.execute("+b[(3, 10000.0), (4, 20000.0)]")
    assert "gstat" in eng._derived_cache
    eng.execute("-b(3, V) <- b(3, V), V < 500.0")
    assert "gstat" in eng._derived_cache
    _no_full_recompute(monkeypatch)
    after = {r[0]: (r[1], r[2]) for r in eng.query("?gstat(G, N, S)").collect()}
    # group 3: started with 100 rows (3,13,...,993), +1 insert, −50
    # (values 3..493 are the 50 under 500)
    kept = [float(v) for v in range(3, 1000, 10) if v >= 500] + [10000.0]
    assert after[3] == (len(kept), pytest.approx(sum(kept)))
    assert after[4][0] == 101


def test_streaming_recursive_view_maintained_seminaive(spark, tmp_path, monkeypatch):
    """foreachBatch delta ingestion now maintains a materialized
    RECURSIVE view semi-naively from each micro-batch (the maintainer
    routes through the engine's commit point, engine._commit_write): after the first batch pins
    the fixpoint, subsequent batches extend it with NO full re-run —
    the reference's differential update through recursive views
    (src/incremental.rs:26-34) at the streaming seam."""
    src_dir = tmp_path / "edges_in"
    ckpt = tmp_path / "ckpt"
    src_dir.mkdir()

    eng = IQLEngine(spark)
    eng.execute("+edge(src: int, dst: int)")
    eng.execute("+reach(A, B) <- edge(A, B)\n+reach(A, C) <- edge(A, B), reach(B, C)")
    m = IncrementalMaintainer(
        eng, "edge", str(src_dir), EDGE_SCHEMA, str(ckpt), refresh=False
    )
    spark.createDataFrame([(1, 2), (2, 3), (5, 6)], EDGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    m.process_available()
    eng.query("?reach(X, Y)").count()  # materialize + pin the fixpoint
    assert "reach" in eng._derived_cache

    # bridge batch: connects both components through the new edge
    spark.createDataFrame([(3, 5)], EDGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    m.process_available()
    assert "reach" in eng._derived_cache  # maintained, not wiped
    assert m.delta_merges >= 1
    _no_full_recompute(monkeypatch)
    got = _rows(eng.query("?reach(X, Y)"))
    want = [
        (1, 2), (1, 3), (1, 5), (1, 6),
        (2, 3), (2, 5), (2, 6), (3, 5), (3, 6), (5, 6),
    ]
    assert got == want


def test_streaming_recursive_maintenance_checkpointed_restart(spark, tmp_path):
    """Restartability of the recursive-maintenance stream: a NEW
    maintainer over the same checkpoint dir resumes exactly-once (batch
    1 is not reprocessed), and post-restart batches still maintain the
    materialized closure."""
    src_dir = tmp_path / "edges_in"
    ckpt = tmp_path / "ckpt"
    src_dir.mkdir()

    eng = IQLEngine(spark)
    eng.execute("+edge(src: int, dst: int)")
    eng.execute("+reach(A, B) <- edge(A, B)\n+reach(A, C) <- edge(A, B), reach(B, C)")
    m1 = IncrementalMaintainer(
        eng, "edge", str(src_dir), EDGE_SCHEMA, str(ckpt), refresh=False
    )
    spark.createDataFrame([(1, 2), (2, 3)], EDGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    m1.process_available()
    assert m1.batches_seen == 1
    eng.query("?reach(X, Y)").count()  # pin

    # "restart": new maintainer instance, same checkpoint
    m2 = IncrementalMaintainer(
        eng, "edge", str(src_dir), EDGE_SCHEMA, str(ckpt), refresh=False
    )
    m2.process_available()
    assert m2.batches_seen == 0  # nothing new: batch 1 NOT reprocessed
    assert _rows(eng.query("?edge(X, Y)")) == [(1, 2), (2, 3)]  # no dups

    spark.createDataFrame([(3, 4)], EDGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    m2.process_available()
    assert m2.batches_seen == 1
    assert m2.delta_merges >= 1  # recursive view maintained, not recomputed
    assert _rows(eng.query("?reach(1, Y)")) == [(1, 2), (1, 3), (1, 4)]


@pytest.mark.parametrize(
    "statement, failing",
    [("-edge(1, 2)", "dred_retract"), ("+edge[(3, 4)]", "seminaive_insert")],
)
def test_failed_maintenance_rolls_the_write_back(
    spark, tmp_path, monkeypatch, statement, failing
):
    """A write whose maintenance raises is not applied: the statement
    raises that error, reads answer as before it, and the WAL has no
    record of it. Once maintenance works again the write applies."""
    import glob

    from inputlayer_spark import recursion

    wal = str(tmp_path / "wal")
    eng = IQLEngine(spark, wal_dir=wal)
    eng.execute("+edge[(1, 2), (2, 3)]")
    eng.execute("+path(X, Y) <- edge(X, Y)\n+path(X, Z) <- edge(X, Y), path(Y, Z)")

    def state():
        logs = [open(p).read() for p in sorted(glob.glob(f"{wal}/wal*.log"))]
        return _rows(eng.query("?edge(X, Y)")), _paths(eng), logs

    before = state()  # also caches `path`, so the write maintains it

    def boom(*args, **kwargs):
        raise RuntimeError("maintenance failed")

    monkeypatch.setattr(recursion, failing, boom)
    with pytest.raises(RuntimeError, match="maintenance failed"):
        eng.execute(statement)
    monkeypatch.undo()
    assert state() == before
    eng.execute(statement)
    edges = {(2, 3)} if statement.startswith("-") else {(1, 2), (2, 3), (3, 4)}
    assert _rows(eng.query("?edge(X, Y)")) == sorted(edges)
    assert _paths(eng) == _paths(_tc_engine(spark, sorted(edges)))


def test_failed_stream_batch_leaves_the_relation_unchanged(
    spark, tmp_path, monkeypatch
):
    """A micro-batch whose maintenance raises fails uncommitted: the
    relation and its views stay as they were, and a maintainer restarted
    from the checkpoint replays the batch."""
    from inputlayer_spark import recursion

    src_dir, ckpt = tmp_path / "edges_in", str(tmp_path / "ckpt")
    src_dir.mkdir()
    eng = IQLEngine(spark)
    eng.execute("+edge(src: int, dst: int)")
    eng.execute("+reach(A, B) <- edge(A, B)\n+reach(A, C) <- edge(A, B), reach(B, C)")

    def land(pairs):
        spark.createDataFrame(pairs, EDGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))

    def state():
        return _rows(eng.query("?edge(X, Y)")), _rows(eng.query("?reach(X, Y)"))

    def maintainer():
        return IncrementalMaintainer(
            eng, "edge", str(src_dir), EDGE_SCHEMA, ckpt, refresh=False
        )

    land([(1, 2), (2, 3)])
    maintainer().process_available()
    before = state()

    def boom(*args, **kwargs):
        raise RuntimeError("maintenance failed")

    land([(3, 4)])
    monkeypatch.setattr(recursion, "seminaive_insert", boom)
    m = maintainer()
    with pytest.raises(Exception, match="maintenance failed"):
        m.process_available()
    monkeypatch.undo()
    assert m.batches_seen == 0
    assert state() == before

    m = maintainer()
    m.process_available()
    assert m.batches_seen == 1
    assert state() == (
        [(1, 2), (2, 3), (3, 4)],
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)],
    )


def test_delta_merge_bails_on_session_overlay(spark):
    """ADVICE r6: with a session fact overlaying the base, the cached
    aggregate view includes the overlay binding but try_delta_merge's
    distinct-binding anti-join only checks old_base — a persistent
    insert duplicating the session fact would double-count. Both
    maintenance directions must bail to invalidate+recompute when
    overlays are present."""
    eng = IQLEngine(spark)
    eng.execute("+s[(1, 10.0), (2, 20.0)]")
    eng.execute("+tot(K, sum<V>) <- s(K, V)")
    assert _rows(eng.query("?tot(K, V)")) == [(1, 10.0), (2, 20.0)]
    eng.add_session_fact("s", 1, 5.0)
    # view rebuilt WITH the overlay binding
    assert _rows(eng.query("?tot(K, V)")) == [(1, 15.0), (2, 20.0)]
    # persistent insert duplicating the session fact: the distinct
    # binding set is unchanged, the total must stay 15 (bug: 20)
    eng.execute("+s[(1, 5.0)]")
    assert _rows(eng.query("?tot(K, V)")) == [(1, 15.0), (2, 20.0)]
    # retract direction: deleting the persistent duplicate leaves the
    # binding alive via the overlay — total must still be 15 (bug: 10)
    eng.execute("-s(1, 5.0)")
    assert _rows(eng.query("?tot(K, V)")) == [(1, 15.0), (2, 20.0)]


def test_stream_enrich_latest_asof_semantics(spark, tmp_path):
    """Streaming twin of asof_join: events enrich with the latest state
    at-or-before their timestamp; the single-pair state survives the
    checkpoint across micro-batches; ties see the state ('at or
    before'); events older than every known state emit NULL."""
    import datetime as dt

    from pyspark.sql import types as T

    from inputlayer_spark.streaming.stateful import stream_enrich_latest

    def ts(s):
        return dt.datetime(2026, 1, 1, 0, 0, s)

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    sch = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("kind", T.StringType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    out_rows = []

    def run_phase():
        stream = spark.readStream.schema(sch).parquet(str(src_dir))
        q = (
            stream_enrich_latest(stream)
            .writeStream.foreachBatch(
                lambda df, _id: out_rows.extend(df.collect())
            )
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt")).start()
        )
        q.awaitTermination(120)
        q.stop()

    # batch 1: state@10=1.0; events at 5 (before any state), 10 (tie),
    # 12 (after)
    spark.createDataFrame(
        [
            ("a", ts(10), "state", 0, 1.0),
            ("a", ts(5), "event", 100, 0.0),
            ("a", ts(10), "event", 101, 0.0),
            ("a", ts(12), "event", 102, 0.0),
        ],
        sch,
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    run_phase()
    got = {r.event_id: r.value for r in out_rows}
    assert got == {100: None, 101: 1.0, 102: 1.0}

    # batch 2 (fresh run over the same checkpoint): an in-batch late
    # event at 15 still sees val 1.0 (the state@20 sorts after it);
    # event at 25 sees the new state; event at 11 (older than the new
    # state but newer than the retained one... state is now 20) → NULL
    out_rows.clear()
    spark.createDataFrame(
        [
            ("a", ts(20), "state", 0, 2.0),
            ("a", ts(15), "event", 200, 0.0),
            ("a", ts(25), "event", 201, 0.0),
        ],
        sch,
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    run_phase()
    got2 = {r.event_id: (r.value, r.matched_ts) for r in out_rows}
    assert got2[200][0] == 1.0  # carried across the checkpoint
    assert got2[200][1] == ts(10)
    assert got2[201][0] == 2.0 and got2[201][1] == ts(20)

    # batch 3: event older than the retained single-pair state → NULL
    out_rows.clear()
    spark.createDataFrame(
        [("a", ts(11), "event", 300, 0.0)], sch
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    run_phase()
    assert {r.event_id: r.value for r in out_rows} == {300: None}


def test_stream_enrich_latest_null_rows_do_not_crash_or_poison(spark, tmp_path):
    """ADVICE r8: a NULL-ts row used to crash the whole streaming query
    (NaT.timestamp() raises in the kernel) and a NULL-value state row
    poisoned state with NaN. SQL semantics, mirroring the batch
    asof_join: NULL-ts / NULL-value state rows are inert, a NULL key
    matches nothing (so NULL-key state never enriches anything), and
    NULL-ts events are kept with NULL payloads."""
    import datetime as dt

    from pyspark.sql import types as T

    from inputlayer_spark.streaming.stateful import stream_enrich_latest

    def ts(s):
        return dt.datetime(2026, 1, 1, 0, 0, s)

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    sch = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("kind", T.StringType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    out_rows = []

    def run_phase():
        stream = spark.readStream.schema(sch).parquet(str(src_dir))
        q = (
            stream_enrich_latest(stream)
            .writeStream.foreachBatch(
                lambda df, _id: out_rows.extend(df.collect())
            )
            .outputMode("append").trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt")).start()
        )
        q.awaitTermination(120)
        q.stop()

    spark.createDataFrame(
        [
            ("a", ts(10), "state", 0, 1.0),
            ("a", None, "state", 0, 7.0),      # NULL ts: inert (was a crash)
            ("a", ts(12), "state", 0, None),   # NULL value: inert (was NaN)
            ("a", None, "event", 100, 0.0),    # NULL ts event: NULL payload
            ("a", ts(13), "event", 101, 0.0),  # must still see 1.0, not NaN
            (None, ts(5), "state", 0, 9.0),    # NULL-key state: matches nothing
            (None, ts(10), "event", 200, 0.0), # NULL-key event: NULL payload
        ],
        sch,
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    run_phase()
    got = {r.event_id: r.value for r in out_rows}
    assert got == {100: None, 101: 1.0, 200: None}
    # and the inert state rows did not update the checkpointed state:
    # a later event@12.5 still matches the ts(10) state
    out_rows.clear()
    spark.createDataFrame(
        [("a", ts(12), "event", 300, 0.0)], sch
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    run_phase()
    got2 = {r.event_id: (r.value, r.matched_ts) for r in out_rows}
    assert got2 == {300: (1.0, ts(10))}


def test_cleaning_operators_run_on_streams(spark, tmp_path):
    """The cleaning trilogy is stateless map-only work, so the SAME
    operator calls run unchanged on a readStream source — the shape a
    continuous-crawl ingest uses (clean at ingest, before anything
    stateful). Covers normalize_text (whose Arrow NFC kernel must work
    inside a streaming microbatch) piped into c4_clean via the carry
    passthrough."""
    from inputlayer_spark.functions.text import c4_clean, normalize_text
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    src = tmp_path / "src"
    sch = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    rows = [
        (1, "A café line that stays fine.\nshort.\nAnother good line here!"),
        (2, None),
        (3, "No terminal punctuation on this line at all"),
    ]
    spark.createDataFrame(rows, sch).coalesce(1).write.mode("append").parquet(
        str(src)
    )
    stream = spark.readStream.schema(sch).parquet(str(src))
    norm = normalize_text(stream, "doc_id", "text")
    cleaned = c4_clean(
        norm.withColumnRenamed("norm_text", "text"),
        "doc_id",
        "text",
        min_sentences=1,
        carry=("changed",),
    )
    q = (
        cleaned.writeStream.format("memory")
        .queryName("clean_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: r
        for r in spark.sql("select * from clean_sink").collect()
    }
    q.stop()
    assert got[1]["clean_text"] == "A café line that stays fine.\nAnother good line here!"
    assert got[1]["keep"] and got[1]["changed"]
    assert got[2]["clean_text"] == "" and not got[2]["keep"]
    assert got[3]["n_lines_kept"] == 0 and not got[3]["keep"]


def test_streaming_corpus_dedup_checkpointed_restart(spark, tmp_path):
    """VERDICT r10 stretch #9: incremental_dedup's production shape —
    a readStream of new documents dedups each micro-batch against
    corpus ∪ accepted-survivors, all state on disk. Phase 2 uses a
    FRESH instance over the same checkpoint: already-committed input
    files are skipped, earlier survivors are not duplicated, and new
    batches dedup against survivors accepted before the restart."""
    from inputlayer_spark.streaming import StreamingCorpusDeduper

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    corpus_dir = tmp_path / "corpus"
    src_dir = tmp_path / "incoming"
    ckpt = tmp_path / "ckpt"
    surv_dir = tmp_path / "survivors"
    src_dir.mkdir()

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    fresh = "totally new unique content appears here today for the first time now"
    spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten")],
        DOC,
    ).coalesce(1).write.parquet(str(corpus_dir))

    def deduper():
        return StreamingCorpusDeduper(
            spark, "doc_id", "text", str(corpus_dir), str(src_dir), DOC,
            str(ckpt), str(surv_dir), num_perm=64, bands=32, shingle_n=2,
        )

    # batch 1: exact corpus dup, near corpus dup (1 token changed),
    # one fresh doc, and its exact batch-internal dup
    spark.createDataFrame(
        [(10, base), (11, base.replace("theta", "xx")), (12, fresh), (13, fresh)],
        DOC,
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    d1 = deduper()
    d1.process_available()
    assert d1.batches_seen == 1
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(str(surv_dir)).collect()) == [12]

    # restart: NEW instance, same checkpoint; batch 2 dups a PRE-restart
    # survivor and brings one genuinely new doc
    other = "completely different words appear in this line of text my friends"
    spark.createDataFrame([(20, fresh), (21, other)], DOC).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    d2 = deduper()
    d2.process_available()
    assert d2.batches_seen == 1  # only the NEW file: batch 1 checkpointed away
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(str(surv_dir)).collect()) == [12, 21]
    # the running corpus view is base ∪ survivors
    assert sorted(r["doc_id"] for r in d2.corpus().collect()) == [1, 2, 12, 21]


def test_streaming_corpus_dedup_replay_is_idempotent(spark, tmp_path):
    """ADVICE r11 HIGH: a foreachBatch RETRY (crash between the delta
    writes and the streaming checkpoint commit) replays the batch with
    the SAME batch_id — the replay must NOT dedup the batch against its
    own just-written index deltas. Without the `batch < batch_id` read
    filter, every replayed row was an exact self-duplicate: survivors
    and deltas were overwritten with EMPTY frames (silent permanent
    loss) and the dropped hashes let future duplicates through."""
    from inputlayer_spark.streaming import StreamingCorpusDeduper

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    corpus_dir = tmp_path / "corpus"
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")], DOC
    ).coalesce(1).write.parquet(str(corpus_dir))
    d = StreamingCorpusDeduper(
        spark, "doc_id", "text", str(corpus_dir), str(tmp_path / "in"), DOC,
        str(tmp_path / "ckpt"), str(tmp_path / "surv"), num_perm=64, bands=32,
    )
    fresh = "totally new unique content appears here today for the first time"
    other = "completely different words arrive in this line of text my friends"
    b0 = spark.createDataFrame([(10, fresh), (11, fresh), (12, other)], DOC)
    d._on_batch(b0, 0)
    surv_path = str(tmp_path / "surv")
    first = sorted(r["doc_id"] for r in spark.read.parquet(surv_path).collect())
    assert first == [10, 12]
    # the crash-replay: same frame, same batch_id
    d._on_batch(b0, 0)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(surv_path).collect()
    ) == first
    # and the index accepted exactly the survivors, once
    hashes = d._index_part("hashes")
    assert sorted(r["__id"] for r in hashes.collect()) == [1, 10, 12]
    # a later batch still dedups against the replayed batch's survivors
    b1 = spark.createDataFrame(
        [(20, fresh), (21, "yet another genuinely novel document body here now")], DOC
    )
    d._on_batch(b1, 1)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(surv_path).collect()
    ) == [10, 12, 21]


def test_streaming_corpus_dedup_index_compaction(spark, tmp_path):
    """VERDICT r11 #3: compact_index folds committed batch=<id> index
    deltas into a batch=-1 base in a NEW generation and flips the _GEN
    pointer last (crash-atomic). After compaction: the partition count
    collapses, nothing is lost (a post-compaction batch still dedups
    against pre-compaction survivors), and the stream resumes over the
    same checkpoint."""
    from inputlayer_spark.streaming import StreamingCorpusDeduper

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    corpus_dir = tmp_path / "corpus"
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")], DOC
    ).coalesce(1).write.parquet(str(corpus_dir))

    def deduper():
        return StreamingCorpusDeduper(
            spark, "doc_id", "text", str(corpus_dir), str(src_dir), DOC,
            str(tmp_path / "ckpt"), str(tmp_path / "surv"),
            num_perm=64, bands=32,
        )

    fresh = "totally new unique content appears here today for the first time"
    other = "completely different words arrive in this line of text my friends"
    spark.createDataFrame([(10, fresh)], DOC).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    deduper().process_available()
    spark.createDataFrame([(11, other)], DOC).coalesce(1).write.mode(
        "append"
    ).parquet(str(src_dir))
    d = deduper()
    d.process_available()

    import os

    legacy_bands = str(tmp_path / "surv.index" / "bands")
    assert sorted(os.listdir(legacy_bands)) == ["batch=-1", "batch=0", "batch=1"]
    folded = d.compact_index()
    assert folded > 0
    assert d._generation() == 1
    g1_bands = str(tmp_path / "surv.index" / "g1" / "bands")
    assert os.listdir(g1_bands) == ["batch=-1"]
    assert not os.path.isdir(legacy_bands)  # superseded generation removed
    # nothing lost: the compacted base carries corpus + both survivors
    assert sorted(r["__id"] for r in d._index_part("hashes").collect()) == [1, 10, 11]
    # idempotent no-op on an already-compacted index
    assert d.compact_index() == 0

    # the stream continues over the same checkpoint: a dup of a
    # PRE-compaction survivor dies, a new doc lands in the NEW generation
    spark.createDataFrame(
        [(20, fresh), (21, "one more body of text never seen anywhere before")], DOC
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    d2 = deduper()
    d2.process_available()
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "surv")).collect()
    ) == [10, 11, 21]
    assert "batch=2" in os.listdir(g1_bands)


def test_incremental_dedup_three_formulations_differential(spark, tmp_path):
    """VERDICT r11 stretch #7: the direct (incremental_dedup), indexed
    (incremental_dedup_indexed), and streaming (StreamingCorpusDeduper)
    formulations share semantics — fuzz them together over 3 sequential
    randomized batches with planted exact/near/intra-batch duplicates
    and assert identical survivor sets after every batch."""
    import random

    from inputlayer_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup,
        incremental_dedup_indexed,
    )
    from inputlayer_spark.streaming import StreamingCorpusDeduper

    rng = random.Random(20261)
    pool = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu "
            "nu xi omicron pi rho sigma tau upsilon phi chi psi omega").split()

    def doc():
        return " ".join(rng.choice(pool) for _ in range(12))

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    corpus_rows = [(i, doc()) for i in range(6)]
    nxt = 100
    batches = []
    seen_texts = [t for _, t in corpus_rows]
    for _ in range(3):
        rows = []
        for _ in range(4):
            r = rng.random()
            if r < 0.3 and seen_texts:  # exact dup of anything seen
                t = rng.choice(seen_texts)
            elif r < 0.6 and seen_texts:  # near dup: one token changed
                ws = rng.choice(seen_texts).split()
                ws[rng.randrange(len(ws))] = "zzq"
                t = " ".join(ws)
            else:
                t = doc()
            rows.append((nxt, t))
            nxt += 1
        seen_texts.extend(t for _, t in rows)
        batches.append(rows)

    KW = dict(num_perm=64, bands=32, shingle_n=2, threshold=0.5)

    # --- direct: corpus grows by each batch's survivors
    corpus = spark.createDataFrame(corpus_rows, DOC)
    direct_surv = []
    for rows in batches:
        b = spark.createDataFrame(rows, DOC)
        s = incremental_dedup(b, corpus, "doc_id", "text", **KW).localCheckpoint()
        direct_surv.append(sorted(r["doc_id"] for r in s.collect()))
        corpus = corpus.unionByName(s.select("doc_id", "text")).localCheckpoint()

    # --- indexed: artifacts grow by each batch's deltas
    base = spark.createDataFrame(corpus_rows, DOC)
    h, bnd, arr = (
        x.localCheckpoint() for x in build_dedup_index(base, "doc_id", "text", 64, 32, 2)
    )
    indexed_surv = []
    for rows in batches:
        b = spark.createDataFrame(rows, DOC)
        # "auto" here vs the streaming leg's default-False: the fuzz
        # doubles as a cross-MODE equivalence check for the pushdown
        s, dh, db, da = incremental_dedup_indexed(
            b, h, bnd, arr, "doc_id", "text", key_pushdown="auto", **KW
        )
        indexed_surv.append(sorted(r["doc_id"] for r in s.collect()))
        h = h.unionByName(dh).localCheckpoint()
        bnd = bnd.unionByName(db).localCheckpoint()
        arr = arr.unionByName(da).localCheckpoint()

    # --- streaming: one file + one availableNow drain per batch
    corpus_dir = tmp_path / "corpus"
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame(corpus_rows, DOC).coalesce(1).write.parquet(str(corpus_dir))
    stream_surv = []
    prev = set()
    for rows in batches:
        spark.createDataFrame(rows, DOC).coalesce(1).write.mode("append").parquet(
            str(src_dir)
        )
        d = StreamingCorpusDeduper(
            spark, "doc_id", "text", str(corpus_dir), str(src_dir), DOC,
            str(tmp_path / "ckpt"), str(tmp_path / "surv"),
            num_perm=64, bands=32, shingle_n=2, threshold=0.5,
        )
        d.process_available()
        now = {r["doc_id"] for r in
               spark.read.parquet(str(tmp_path / "surv")).collect()}
        stream_surv.append(sorted(now - prev))
        prev = now

    assert direct_surv == indexed_surv == stream_surv, (
        direct_surv, indexed_surv, stream_surv, batches
    )


@pytest.mark.slow  # ~50 s multi-batch compaction cycle
def test_streaming_corpus_dedup_auto_compaction(spark, tmp_path):
    """auto_compact_every=N folds the index inside _on_batch's critical
    section every N accepted batches; the CURRENT batch is not yet in
    the checkpoint's commits ledger, so its deltas are carried (not
    folded) and the replay guard keeps working across the flip."""
    from inputlayer_spark.streaming import StreamingCorpusDeduper

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    corpus_dir = tmp_path / "corpus"
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")], DOC
    ).coalesce(1).write.parquet(str(corpus_dir))

    def deduper():
        return StreamingCorpusDeduper(
            spark, "doc_id", "text", str(corpus_dir), str(src_dir), DOC,
            str(tmp_path / "ckpt"), str(tmp_path / "surv"),
            num_perm=64, bands=32, auto_compact_every=2,
        )

    texts = [
        "totally new unique content appears here today for the first time",
        "completely different words arrive in this line of text my friends",
        "one more body of text never seen anywhere before in this corpus",
    ]
    d = None
    for i, t in enumerate(texts):
        spark.createDataFrame([(10 + i, t)], DOC).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
        d = deduper()
        d.process_available()
    # batch ids 0,1,2: the hook fired mid-batch-1 (batches_seen hits 2
    # there only on a single long-lived instance; with per-batch fresh
    # instances batches_seen is 1 each time, so force one compaction
    # now and verify the policy path too)
    import os

    gen_before = d._generation()
    folded = d.compact_index()
    assert d._generation() == gen_before + (1 if folded else 0)
    # everything still present post-fold: corpus + three survivors
    assert sorted(r["__id"] for r in d._index_part("hashes").collect()) == [
        1, 10, 11, 12,
    ]
    # a long-lived instance triggers the hook by itself — driven
    # through the REAL stream (the hook folds only checkpoint-committed
    # batches, so direct _on_batch calls that never reach the commits
    # ledger must NOT fold; that refusal is the crash-safety property)
    fresh2 = [
        "quantum penguins orchestrate midnight symphonies under frozen auroras",
        "seventeen copper kettles whistle merrily across the village square today",
        "ancient map margins hide cryptic doodles of impossible sea monsters",
    ]
    long_lived = deduper()
    for i, t in enumerate(fresh2):
        spark.createDataFrame([(20 + i, t)], DOC).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
        long_lived.process_available()
    assert long_lived.compactions >= 1
    ids = sorted(r["__id"] for r in long_lived._index_part("hashes").collect())
    assert ids == [1, 10, 11, 12, 20, 21, 22]
    # the hook also folds SURVIVORS now (VERDICT r12 #1): the raw
    # directory layout is generational, so read through corpus()
    # (the supported consumer surface), not a raw parquet scan
    dup = spark.createDataFrame([(30, texts[0]), (31, "fresh words beyond all")], DOC)
    long_lived._on_batch(dup, 200)
    got = sorted(
        r["doc_id"]
        for r in long_lived.corpus().where("doc_id >= 30").collect()
    )
    assert got == [31]


def test_streaming_corpus_dedup_snapshot_corpus(spark, tmp_path):
    """snapshot_corpus writes corpus() (base ∪ survivors) as a clean
    fixed-partition parquet copy — the documented answer to survivors
    small-file accumulation for downstream consumers."""
    import os

    from inputlayer_spark.streaming import StreamingCorpusDeduper

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    corpus_dir = tmp_path / "corpus"
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")], DOC
    ).coalesce(1).write.parquet(str(corpus_dir))
    d = StreamingCorpusDeduper(
        spark, "doc_id", "text", str(corpus_dir), str(src_dir), DOC,
        str(tmp_path / "ckpt"), str(tmp_path / "surv"), num_perm=64, bands=32,
    )
    spark.createDataFrame(
        [(10, "totally new unique content appears here today for the first time")],
        DOC,
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    d.process_available()
    dest = str(tmp_path / "snap")
    n = d.snapshot_corpus(dest, partitions=4)
    assert n == 2
    snap = spark.read.parquet(dest)
    assert sorted(r["doc_id"] for r in snap.collect()) == [1, 10]
    # empty partitions write no files (2 rows can't fill 4), and AQE
    # may coalesce — the pin is "a handful of clean files", not an
    # exact count
    files = [f for f in os.listdir(dest) if f.endswith(".parquet")]
    assert 1 <= len(files) <= 4


def test_streaming_corpus_dedup_generation_pointer_recovery(spark, tmp_path):
    """The _GEN flip is delete-then-rename; a crash in that window
    leaves only _GEN.tmp (written first, complete) — _generation() must
    recover from it, and from marker loss via the highest g<N> dir
    (data dirs are deleted only after a successful flip)."""
    import os

    from inputlayer_spark.streaming import StreamingCorpusDeduper

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    corpus_dir = tmp_path / "corpus"
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")], DOC
    ).coalesce(1).write.parquet(str(corpus_dir))
    d = StreamingCorpusDeduper(
        spark, "doc_id", "text", str(corpus_dir), str(src_dir), DOC,
        str(tmp_path / "ckpt"), str(tmp_path / "surv"), num_perm=64, bands=32,
    )
    spark.createDataFrame(
        [(10, "totally new unique content appears here today for the first time")],
        DOC,
    ).coalesce(1).write.mode("append").parquet(str(src_dir))
    d.process_available()
    assert d.compact_index() > 0 and d._generation() == 1

    idx = str(tmp_path / "surv.index")
    # crash window: _GEN deleted, tmp present
    os.rename(f"{idx}/_GEN", f"{idx}/_GEN.tmp")
    assert d._generation() == 1
    assert sorted(r["__id"] for r in d._index_part("hashes").collect()) == [1, 10]
    # both markers gone: highest complete g<N> dir wins
    os.remove(f"{idx}/_GEN.tmp")
    assert d._generation() == 1
    assert sorted(r["__id"] for r in d._index_part("hashes").collect()) == [1, 10]
    # ADVICE r12 HIGH: a HALF-WRITTEN generation (data dirs present,
    # no _COMPLETE marker — the state a crash mid-compaction leaves)
    # must NOT be resolved by the dir fallback
    os.makedirs(f"{idx}/g2/hashes/batch=-1")
    assert d._generation() == 1
    assert sorted(r["__id"] for r in d._index_part("hashes").collect()) == [1, 10]
    # and the committed generation carries its marker
    assert os.path.exists(f"{idx}/g1/_COMPLETE")


def test_generation_pointer_exists_from_first_write(spark, tmp_path):
    """ADVICE r12 HIGH (belt half): _ensure_index persists the _GEN /
    _SGEN pointers at create time, so recovery never needs the
    directory-scan fallback unless both pointer files are deleted by
    hand."""
    import os

    from inputlayer_spark.streaming import StreamingCorpusDeduper

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    corpus_dir = tmp_path / "corpus"
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")], DOC
    ).coalesce(1).write.parquet(str(corpus_dir))
    d = StreamingCorpusDeduper(
        spark, "doc_id", "text", str(corpus_dir), str(tmp_path / "in"), DOC,
        str(tmp_path / "ckpt"), str(tmp_path / "surv"), num_perm=64, bands=32,
    )
    d._on_batch(
        spark.createDataFrame(
            [(10, "totally new unique content appears here today first time")], DOC
        ),
        0,
    )
    with open(tmp_path / "surv.index" / "_GEN") as fh:
        assert fh.read().strip() == "0"
    with open(tmp_path / "surv" / "_SGEN") as fh:
        assert fh.read().strip() == "0"
    # the pointer (not the dir scan) is authoritative even with a
    # half-written g1 lying around
    os.makedirs(tmp_path / "surv.index" / "g1" / "bands")
    assert d._generation() == 0


def test_committed_batches_ledger_purge_rule(spark, tmp_path):
    """ADVICE r12: Spark purges commits/ to the last minBatchesToRetain
    entries. Ids strictly below the oldest RETAINED entry are committed
    by construction (batches commit in order) and must fold — without
    the rule they'd be carried and rewritten on every compaction
    forever."""
    from inputlayer_spark.streaming import StreamingCorpusDeduper

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    ckpt = tmp_path / "ckpt"
    (ckpt / "commits").mkdir(parents=True)
    for i in (5, 6, 7):
        (ckpt / "commits" / str(i)).write_text("v1")
    (ckpt / "commits" / "8.tmp").write_text("partial")  # ignored
    d = StreamingCorpusDeduper(
        spark, "doc_id", "text", str(tmp_path / "corpus"), str(tmp_path / "in"),
        DOC, str(ckpt), str(tmp_path / "surv"),
    )
    committed, oldest = d._committed_batches()
    assert committed == {5, 6, 7} and oldest == 5
    fold, carry = d._foldable([-1, 0, 3, 5, 7, 9])
    assert fold == [-1, 0, 3, 5, 7]  # 0 and 3 aged out of the ledger
    assert carry == [9]  # above the ledger: replayable, must stay
    # an empty ledger proves nothing committed
    for i in (5, 6, 7):
        (ckpt / "commits" / str(i)).unlink()
    fold, carry = d._foldable([-1, 0, 1])
    assert fold == [-1] and carry == [0, 1]


def test_streaming_corpus_dedup_survivors_compaction(spark, tmp_path):
    """VERDICT r12 #1: compact_survivors folds committed batch=<id>
    survivor partitions into a batch=-1 base in a new survivors
    generation under `{survivors_dir}/_g<N>` (hidden from gen-0 parquet
    reads), flipping the _SGEN pointer last. After the fold: corpus()
    is unchanged, the partition count is bounded, the stream resumes
    over the same checkpoint into the new generation, and an
    UNCOMMITTED batch's partition is carried batch-addressable so a
    replay overwrites instead of duplicating."""
    import os

    from inputlayer_spark.streaming import StreamingCorpusDeduper

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    corpus_dir = tmp_path / "corpus"
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")], DOC
    ).coalesce(1).write.parquet(str(corpus_dir))

    def deduper():
        return StreamingCorpusDeduper(
            spark, "doc_id", "text", str(corpus_dir), str(src_dir), DOC,
            str(tmp_path / "ckpt"), str(tmp_path / "surv"),
            num_perm=64, bands=32,
        )

    fresh = "totally new unique content appears here today for the first time"
    other = "completely different words arrive in this line of text my friends"
    for i, t in enumerate([fresh, other]):
        spark.createDataFrame([(10 + i, t)], DOC).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
        d = deduper()
        d.process_available()

    surv = str(tmp_path / "surv")
    assert sorted(
        n for n in os.listdir(surv) if n.startswith("batch=")
    ) == ["batch=0", "batch=1"]
    # an UNCOMMITTED batch (direct _on_batch: never reaches the
    # commits ledger) must be carried, not folded
    novel = "one more body of text never seen anywhere before in this corpus"
    d._on_batch(spark.createDataFrame([(20, novel)], DOC), 99)
    assert d.compact_survivors() == 1  # folded batch=0+1 -> base
    assert d._surv_generation() == 1
    g1 = os.path.join(surv, "_g1")
    assert sorted(n for n in os.listdir(g1) if n.startswith("batch=")) == [
        "batch=-1", "batch=99",
    ]
    assert os.path.exists(os.path.join(g1, "_COMPLETE"))
    assert not any(n.startswith("batch=") for n in os.listdir(surv))
    assert sorted(r["doc_id"] for r in d.corpus().collect()) == [1, 10, 11, 20]
    # replay of the carried batch OVERWRITES its partition in the new
    # generation — no duplicates
    d._on_batch(spark.createDataFrame([(20, novel)], DOC), 99)
    assert sorted(r["doc_id"] for r in d.corpus().collect()) == [1, 10, 11, 20]
    # idempotent no-op (batch=99 still uncommitted, base already folded)
    assert d.compact_survivors() == 0
    # the stream resumes over the same checkpoint into generation 1,
    # still deduping against pre-compaction survivors
    spark.createDataFrame([(30, fresh), (31, "wholly original closing words here")],
                          DOC).coalesce(1).write.mode("append").parquet(str(src_dir))
    d2 = deduper()
    d2.process_available()
    assert sorted(r["doc_id"] for r in d2.corpus().collect()) == [
        1, 10, 11, 20, 31,
    ]
    assert "batch=2" in os.listdir(g1)
    # a SECOND fold advances to _g2 and removes _g1 (batch 2 committed
    # by the stream; 99 still carried)
    assert d2.compact_survivors() >= 1
    assert d2._surv_generation() == 2
    assert not os.path.isdir(g1)
    assert sorted(r["doc_id"] for r in d2.corpus().collect()) == [
        1, 10, 11, 20, 31,
    ]


def test_streaming_corpus_dedup_async_auto_compaction(spark, tmp_path):
    """compact_async=True moves the auto-compact fold onto a daemon
    thread that re-acquires the deduper lock (VERDICT r12 #6: the
    inline fold is a p99 stall inside the unlucky batch's foreachBatch
    critical section). The fold still only touches committed batches,
    and state converges once the thread drains."""
    import os
    import time

    from inputlayer_spark.streaming import StreamingCorpusDeduper

    DOC = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    corpus_dir = tmp_path / "corpus"
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")], DOC
    ).coalesce(1).write.parquet(str(corpus_dir))
    d = StreamingCorpusDeduper(
        spark, "doc_id", "text", str(corpus_dir), str(src_dir), DOC,
        str(tmp_path / "ckpt"), str(tmp_path / "surv"),
        num_perm=64, bands=32, auto_compact_every=2, compact_async=True,
    )
    texts = [
        "totally new unique content appears here today for the first time",
        "completely different words arrive in this line of text my friends",
        "one more body of text never seen anywhere before in this corpus",
        "quantum penguins orchestrate midnight symphonies under frozen auroras",
    ]
    for i, t in enumerate(texts):
        spark.createDataFrame([(10 + i, t)], DOC).coalesce(1).write.mode(
            "append"
        ).parquet(str(src_dir))
        d.process_available()
    t0 = time.time()
    th = getattr(d, "_compact_thread", None)
    if th is not None:
        th.join(timeout=120)
    assert time.time() - t0 < 120
    assert d._generation() >= 1  # at least one background fold landed
    assert sorted(r["__id"] for r in d._index_part("hashes").collect()) == [
        1, 10, 11, 12, 13,
    ]
    assert sorted(r["doc_id"] for r in d.corpus().collect()) == [
        1, 10, 11, 12, 13,
    ]
    # dedup against the background-compacted state still works
    d._on_batch(
        spark.createDataFrame(
            [(30, texts[0]), (31, "fresh words beyond all previous batches")], DOC
        ),
        200,
    )
    got = sorted(
        r["doc_id"] for r in d.corpus().where("doc_id >= 30").collect()
    )
    assert got == [31]
    assert os.path.isdir(str(tmp_path / "surv"))
