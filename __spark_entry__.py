"""Driver contract for the spark-graft builder (PySpark target).

Each `queries()` entry exercises one operator family from SURVEY.md §2
(IQL engine semantics: scans/joins/negation/aggregates/recursion/vector/
temporal builtins) or a training-data-pipeline operator (dedup,
similarity, text analysis, multimodal). `oracle_sql()` gives the
DuckDB-equivalent ANSI SQL; column aliases match exactly. Engine-backed
entries run IQL through inputlayer_spark.IQLEngine to prove the Datalog
frontend; operator entries call the DataFrame library directly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inputlayer_spark.compiler import sql_of_const
from inputlayer_spark.engine import IQLEngine
from inputlayer_spark.functions import text as TX
from inputlayer_spark.functions import temporal as TP
from inputlayer_spark.functions import vector as V
from inputlayer_spark.session import tune_session

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


# intra-query pin guard (web_pipeline): pin cleaned text only when the
# raw input is comfortably RAM-trivial; at corpus scale the straight-line
# plan (no pin) is kept. Overridable for cluster deployments.
_PIN_MAX_BYTES = int(
    __import__("os").environ.get("SPARK_GRAFT_PIN_MAX_BYTES", 1 << 30)
)


def _input_bytes(path: str) -> int:
    """Total bytes under a parquet file/directory — a driver-side stat
    (no Spark job). Unreadable (e.g. non-local filesystem) reports
    over-guard so the pin is conservatively skipped."""
    import os as _os

    try:
        if _os.path.isfile(path):
            return _os.path.getsize(path)
        total = 0
        for root, _dirs, files in _os.walk(path):
            for f in files:
                total += _os.path.getsize(_os.path.join(root, f))
        return total
    except OSError:
        return _PIN_MAX_BYTES + 1


def _load(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Base-table DataFrames, with the READER HANDLE cached per
    (session, sf_dir, table) — a plan handle, never data: every action
    on it still scans the parquet input (nothing is persisted or
    memoized), exactly like a catalog's table registration. Re-creating
    the reader per query cost ~0.1 s of py4j + footer-schema chatter
    per table per call (r13 build profiling), which is harness
    overhead, not query work.

    The cache lives ON the session object (r14, VERDICT r13 #3): the
    old module-level dict keyed on id(spark) could alias a new session
    to a dead session's plan handles after CPython id reuse, and was
    never evicted — an attribute dies with its session."""
    tune_session(spark)
    cache = getattr(spark, "_ilspark_table_cache", None)
    if cache is None:
        cache = {}
        spark._ilspark_table_cache = cache
    out = {}
    for n in names:
        df = cache.get((sf_dir, n))
        if df is None:
            df = spark.read.parquet(f"{sf_dir}/{n}.parquet")
            cache[(sf_dir, n)] = df
        out[n] = df
    return out


def _events_ms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with a normalized `ts_ms` long column. The parquet stores
    TIMESTAMP(NANOS); with nanosAsLong we get long nanos → integer-divide,
    matching DuckDB's epoch_ms truncation. Falls back to timestamp cast if
    the session reads it as TimestampType."""
    from pyspark.sql import types as T

    tune_session(spark)
    ev = _load(spark, sf_dir, "events")["events"]
    if isinstance(ev.schema["ts"].dataType, T.LongType):
        ms = F.expr("ts div 1000000")
    else:
        ms = F.expr(TP.to_ms("`ts`"))
    return ev.withColumn("__ts_ms", ms.cast("long"))


def _engine(spark: SparkSession, sf_dir: str, *names: str) -> IQLEngine:
    eng = IQLEngine(spark)
    for n, df in _load(spark, sf_dir, *names).items():
        eng.register(n, df)
    return eng


# =====================================================================
# relational core (IQL engine)
# =====================================================================


def q_scan_filter(spark, sf_dir):
    """IR Scan+Filter+Map (src/ir/mod.rs:262,280,270)."""
    eng = _engine(spark, sf_dir, "lineitem")
    df = eng.query(
        """
        +big(O, L, Q) <- lineitem(O, _, _, L, Q, _, _, _, _, _, _), Q > 45.0
        ?big(O, L, Q)
        """
    )
    return df.select(
        F.col("O").alias("l_orderkey"),
        F.col("L").alias("l_linenumber"),
        F.col("Q").alias("qty"),
    )


def q_join_two_way(spark, sf_dir):
    """Hash equi-join (src/ir/mod.rs:288) + constant filter."""
    eng = _engine(spark, sf_dir, "customer", "orders")
    df = eng.query(
        """
        +co(C, O, P) <- customer(C, _, _, _, "BUILDING"), orders(O, C, _, P, _, _)
        ?co(C, O, P)
        """
    )
    return df.select(
        F.col("C").alias("c_custkey"),
        F.col("O").alias("o_orderkey"),
        F.col("P").alias("o_totalprice"),
    )


def q_threeway_join_arith(spark, sf_dir):
    """3-way join + Compute + Aggregate — the reference's analytical
    bench shape (BENCHMARKS.md:137-149)."""
    eng = _engine(spark, sf_dir, "customer", "orders", "lineitem")
    df = eng.query(
        """
        +rev(C, sum<R>, count<L>) <-
            customer(C, _, _, _, "AUTOMOBILE"),
            orders(O, C, _, _, _, _),
            lineitem(O, _, _, L, _, E, D, _, _, _, _),
            R = E * (1.0 - D)
        ?rev(C, S, N)
        """
    )
    return df.select(
        F.col("C").alias("c_custkey"),
        F.col("S").alias("revenue"),
        F.col("N").alias("n_items"),
    )


def q_antijoin(spark, sf_dir):
    """Antijoin via stratified negation (src/ir/mod.rs:328)."""
    eng = _engine(spark, sf_dir, "customer", "orders")
    df = eng.query(
        """
        +no_orders(C) <- customer(C, _, _, _, _), !orders(_, C, _, _, _, _)
        ?no_orders(C)
        """
    )
    return df.select(F.col("C").alias("c_custkey"))


def q_semijoin(spark, sf_dir):
    """Semi-join shape (SIP rewriting, src/sip_rewriting/mod.rs)."""
    eng = _engine(spark, sf_dir, "customer", "orders")
    df = eng.query(
        """
        +has_big(C) <- customer(C, _, _, _, _), orders(_, C, _, P, _, _), P > 400000.0
        ?has_big(C)
        """
    )
    return df.select(F.col("C").alias("c_custkey"))


def q_agg_pricing_summary(spark, sf_dir):
    """Multi-aggregate GROUP BY (TPC-H Q1 shape; IR Aggregate,
    src/ir/mod.rs:316)."""
    eng = _engine(spark, sf_dir, "lineitem")
    df = eng.query(
        """
        +summary(R, LS, sum<Q>, sum<E>, avg<D>, count<O>) <-
            lineitem(O, _, _, L, Q, E, D, _, R, LS, _)
        ?summary(R, LS, SQ, SE, AD, N)
        """
    )
    return df.select(
        F.col("R").alias("l_returnflag"),
        F.col("LS").alias("l_linestatus"),
        F.col("SQ").alias("sum_qty"),
        F.col("SE").alias("sum_price"),
        # Report avg at float32 precision: double avg is order-dependent in
        # the last ulp (Spark merges per-partition partials; the oracle sums
        # sequentially), and double->float is IEEE round-nearest-even in
        # both engines, so the comparison becomes deterministic.
        F.col("AD").cast("float").alias("avg_disc"),
        F.col("N").alias("n_rows"),
    )


def q_count_distinct(spark, sf_dir):
    eng = _engine(spark, sf_dir, "orders")
    df = eng.query(
        """
        +cd(P, count_distinct<C>) <- orders(_, C, _, _, _, P)
        ?cd(P, N)
        """
    )
    return df.select(F.col("P").alias("o_orderpriority"), F.col("N").alias("n_cust"))


def q_topk_per_group(spark, sf_dir):
    """Ranking aggregate top_k (src/ast/mod.rs:31, vector_ops.rs:1443)."""
    eng = _engine(spark, sf_dir, "customer")
    df = eng.query(
        """
        +top(N, top_k<3, C, B:desc>) <- customer(C, _, N, B, _)
        ?top(N, C, B)
        """
    )
    return df.select(
        F.col("N").alias("c_nationkey"),
        F.col("C").alias("c_custkey"),
        F.col("B").alias("c_acctbal"),
    )


def q_union_clauses(spark, sf_dir):
    """Multiple clauses per head = Datalog union (src/ir/mod.rs:308)."""
    eng = _engine(spark, sf_dir, "customer", "supplier")
    df = eng.query(
        """
        +active_nation(K) <- customer(_, _, K, B, _), B > 9000.0
        +active_nation(K) <- supplier(_, _, K, B)
        ?active_nation(K)
        """
    )
    return df.select(F.col("K").alias("nationkey"))


def q_shared_subplan(spark, sf_dir):
    """Subplan sharing (CSE): two rules share the customer⋈nation join
    pair, which the engine hoists into one persisted shared view both
    consumers scan (reference src/subplan_sharing/mod.rs, shared views
    executed first per src/lib.rs:1148)."""
    eng = _engine(spark, sf_dir, "customer", "nation")
    df = eng.query(
        """
        +notable(N, Nm) <- customer(C, Nm, K, B, S), nation(K, N, R), B > 7000.0
        +notable(N, Nm) <- customer(C, Nm, K, B, S), nation(K, N, R), B < 100.0
        ?notable(N, Nm)
        """
    )
    assert eng._shared_frames, "CSE did not fire on the shared join pair"
    return df.select(
        F.col("N").alias("nation_name"), F.col("Nm").alias("cust_name")
    )


def q_theta_join(spark, sf_dir):
    """Theta join: equi on nation + comparison predicate
    (examples/iql/06_joins/20_theta_join.iql)."""
    eng = _engine(spark, sf_dir, "customer", "supplier")
    df = eng.query(
        """
        +richer(C, S) <- customer(C, _, K, CB, _), supplier(S, _, K, SB), CB > SB
        ?richer(C, S)
        """
    )
    return df.select(F.col("C").alias("c_custkey"), F.col("S").alias("s_suppkey"))


def q_string_funcs(spark, sf_dir):
    """String builtins upper/lower/trim/substr/len/concat/replace through
    the IQL engine (src/ast/mod.rs:174-188)."""
    eng = _engine(spark, sf_dir, "part")
    df = eng.query(
        """
        +pstr(K, U, L, S, N, C) <- part(K, Name, Brand, _, _, _),
            U = upper(Name), L = lower(Brand), S = substr(Name, 0, 5),
            N = len(Name), R = replace(Name, " ", "_"),
            C = concat(Brand, "-", R)
        ?pstr(K, U, L, S, N, C)
        """
    )
    return df.select(
        F.col("K").alias("p_partkey"),
        F.col("U").alias("upper_name"),
        F.col("L").alias("lower_brand"),
        F.col("S").alias("name5"),
        F.col("N").alias("name_len"),
        F.col("C").alias("tagged"),
    )


def q_math_funcs(spark, sf_dir):
    """Math builtins sqrt/pow/log/exp/floor/ceil/sign/abs through the IQL
    engine (src/ast/mod.rs:140-166)."""
    eng = _engine(spark, sf_dir, "lineitem")
    df = eng.query(
        """
        +m(O, L, SQ, PW, LG, FL, CE, SG, AB) <-
            lineitem(O, _, _, L, Q, P, D, _, _, _, _), Q > 30.0,
            SQ = sqrt(Q), PW = pow(D, 2.0), LG = log(P),
            FL = floor(Q), CE = ceil(D), SG = sign(Q - 40.0),
            AB = abs(Q - 40.0)
        ?m(O, L, SQ, PW, LG, FL, CE, SG, AB)
        """
    )
    return df.select(
        F.col("O").alias("l_orderkey"),
        F.col("L").alias("l_linenumber"),
        F.col("SQ").alias("sqrt_qty"),
        F.col("PW").alias("disc_sq"),
        F.col("LG").alias("ln_price"),
        F.col("FL").alias("floor_qty"),
        F.col("CE").alias("ceil_disc"),
        F.col("SG").alias("sign_dev"),
        F.col("AB").alias("abs_dev"),
    )


def q_type_conversion(spark, sf_dir):
    """to_int / to_float / min_val / max_val (src/ast/mod.rs:168-172,190)."""
    eng = _engine(spark, sf_dir, "supplier")
    df = eng.query(
        """
        +conv(S, I, FB, MN, MX) <- supplier(S, _, N, B),
            I = to_int(B), FB = to_float(N),
            MN = min_val(B, 5000.0), MX = max_val(B, 5000.0)
        ?conv(S, I, FB, MN, MX)
        """
    )
    return df.select(
        F.col("S").alias("s_suppkey"),
        F.col("I").alias("bal_int"),
        F.col("FB").alias("nation_f"),
        F.col("MN").alias("bal_capped"),
        F.col("MX").alias("bal_floored"),
    )


def q_topk_threshold(spark, sf_dir):
    """top_k_threshold ranking aggregate via IQL (src/ast/mod.rs:40,
    vector_ops.rs:1514)."""
    eng = _engine(spark, sf_dir, "customer")
    df = eng.query(
        """
        +rich(N, top_k_threshold<3, 5000.0, C, B:desc>) <-
            customer(C, _, N, B, _)
        ?rich(N, C, B)
        """
    )
    return df.select(
        F.col("N").alias("c_nationkey"),
        F.col("C").alias("c_custkey"),
        F.col("B").alias("c_acctbal"),
    )


def q_within_radius_iql(spark, sf_dir):
    """within_radius ranking aggregate via IQL (src/ast/mod.rs:49)."""
    eng = _engine(spark, sf_dir, "customer")
    df = eng.query(
        """
        +near_zero(within_radius<100.0, C, D:asc>) <-
            customer(C, _, _, B, _), D = abs(B)
        ?near_zero(C, D)
        """
    )
    return df.select(F.col("C").alias("c_custkey"), F.col("D").alias("abs_bal"))


def q_order_limit_offset(spark, sf_dir):
    """Query modifiers :desc + limit(n, offset)
    (src/statement/parser.rs:15-26)."""
    eng = _engine(spark, sf_dir, "orders")
    df = eng.query(
        """
        +big(P, O) <- orders(O, _, _, P, _, _)
        ?big(P:desc, O:asc), limit(10, 5)
        """
    )
    return df.select(F.col("P").alias("o_totalprice"), F.col("O").alias("o_orderkey"))


# =====================================================================
# recursion (semi-naive fixpoint; src/code_generator/mod.rs:313-420)
# =====================================================================


def _edge_df(spark, sf_dir, mod: int):
    orders = _load(spark, sf_dir, "orders")["orders"]
    return (
        orders.select(
            (F.col("o_orderkey") % mod).cast("long").alias("src"),
            (F.col("o_custkey") % mod).cast("long").alias("dst"),
        )
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )


_EDGE_SQL = (
    "SELECT DISTINCT (o_orderkey % {m}) AS src, (o_custkey % {m}) AS dst "
    "FROM orders WHERE (o_orderkey % {m}) < (o_custkey % {m})"
)


def q_transitive_closure(spark, sf_dir):
    eng = IQLEngine(spark)
    eng.register("edge", _edge_df(spark, sf_dir, 60))
    df = eng.query(
        """
        +reach(X, Y) <- edge(X, Y)
        +reach(X, Z) <- edge(X, Y), reach(Y, Z)
        ?reach(X, Y)
        """
    )
    return df.select(F.col("X").alias("src"), F.col("Y").alias("dst"))


def q_reach_bound(spark, sf_dir):
    """Bound recursive query ?reach(0, Y) — the magic-sets headline
    (BENCHMARKS.md:15-20)."""
    eng = IQLEngine(spark)
    eng.register("edge", _edge_df(spark, sf_dir, 60))
    df = eng.query(
        """
        +reach(X, Y) <- edge(X, Y)
        +reach(X, Z) <- edge(X, Y), reach(Y, Z)
        ?reach(0, Y)
        """
    )
    return df.select(F.col("Y").alias("dst"))


def q_reach_bound_large(spark, sf_dir):
    """Bound reach on a ~1000-node graph — exercises the magic-sets
    linearity flip (seeded BFS); full TC here is ~500k pairs, the bound
    query touches only edges reachable from the seed."""
    eng = IQLEngine(spark)
    eng.register("edge", _edge_df(spark, sf_dir, 1000))
    df = eng.query(
        """
        +reach(X, Y) <- edge(X, Y)
        +reach(X, Z) <- edge(X, Y), reach(Y, Z)
        ?reach(0, Y)
        """
    )
    return df.select(F.col("Y").alias("dst"))


def q_transitive_closure_distributed(spark, sf_dir):
    """Full TC with every driver-local fast path DISABLED
    (SPARK_GRAFT_LOCAL_FIXPOINT_MAX=0): the distributed path-doubling
    loop (recursion.py compose_r/compose_s — R ← R ∪ R∘S, S ← S ∪ S∘S
    as cluster joins) produces the answer, not the in-driver closure.
    Same graph and oracle as `transitive_closure`, so a green row here
    is direct evidence the 100 TB fixpoint path computes the same
    fixpoint (VERDICT r4 "What's wrong #3"). The env toggle is safe to
    restore after query(): the fixpoint loop materializes eagerly
    (localCheckpoint+count) inside query()."""
    import os

    old = os.environ.get("SPARK_GRAFT_LOCAL_FIXPOINT_MAX")
    os.environ["SPARK_GRAFT_LOCAL_FIXPOINT_MAX"] = "0"
    try:
        eng = IQLEngine(spark)
        eng.register("edge", _edge_df(spark, sf_dir, 60))
        df = eng.query(
            """
            +reach(X, Y) <- edge(X, Y)
            +reach(X, Z) <- edge(X, Y), reach(Y, Z)
            ?reach(X, Y)
            """
        )
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_LOCAL_FIXPOINT_MAX", None)
        else:
            os.environ["SPARK_GRAFT_LOCAL_FIXPOINT_MAX"] = old
    return df.select(F.col("X").alias("src"), F.col("Y").alias("dst"))


def q_transitive_closure_large(spark, sf_dir):
    """Full TC at the reference's headline scale (BENCHMARKS.md:108:
    10.49 s for a ~1M-pair closure): the mod-1500 graph has ~73k edges
    at sf0.1, so seed+step (~145k rows) exceeds the 100k driver-local
    cap and the DISTRIBUTED doubling loop runs naturally — no env
    forcing — producing a ~1.05M-pair closure. At the correctness SF
    (sf0.01, ~7.5k edges / ~275k pairs) the same query takes the capped
    local path; `transitive_closure_distributed` covers forced-
    distributed correctness."""
    eng = IQLEngine(spark)
    eng.register("edge", _edge_df(spark, sf_dir, 1500))
    df = eng.query(
        """
        +reach(X, Y) <- edge(X, Y)
        +reach(X, Z) <- edge(X, Y), reach(Y, Z)
        ?reach(X, Y)
        """
    )
    return df.select(F.col("X").alias("src"), F.col("Y").alias("dst"))


# the reference's full-TC anchor workload (BENCHMARKS.md:103-108:
# 2,000 nodes / 4K edges → ~1M pairs in 10.49 s): a deterministic
# layered DAG — L layers × W slots, node = l·W + s, out-degree 2 via
# affine slot maps (both branches the same integer arithmetic in Spark
# and DuckDB, so the oracle is bit-identical). 20×100 = 2,000 nodes,
# 3,800 edges, closure 930,800 pairs — the anchor's exact shape.
# Size-independent of sf_dir, matching the reference's fixed graph.
_TC_L, _TC_W = 20, 100


def _anchor_edge_df(spark, layers, width):
    base = (
        spark.range(0, layers - 1)
        .toDF("l")
        .crossJoin(spark.range(0, width).toDF("s"))
        .crossJoin(spark.range(0, 2).toDF("c"))
    )
    slot = (F.col("s") * 91 + F.col("l") * 37 + F.col("c") * 53) % width
    return base.select(
        (F.col("l") * width + F.col("s")).alias("src"),
        ((F.col("l") + 1) * width + slot).alias("dst"),
    ).distinct()


def q_transitive_closure_anchor(spark, sf_dir):
    """Full TC on the reference-anchor-shaped graph, FORCED onto the
    distributed fixpoint (driver-local caps disabled): 3.8k edges are
    far under the 100k cap, so without forcing the bench would time the
    in-driver Python closure instead of the blocked-doubling +
    semi-naive delta sweeps that run at 100 TB. bench.py's JIT-warm
    pass sets SPARK_GRAFT_TC_ANCHOR_WARM=1 to run a quarter-size graph
    (same plan shapes, ~3% of the work); everything else — including
    the sf0.01 correctness gate and local parity tests — runs the full
    2,000-node / 930,800-pair closure the oracle computes."""
    import os

    small = os.environ.get("SPARK_GRAFT_TC_ANCHOR_WARM") == "1"
    layers, width = (10, 50) if small else (_TC_L, _TC_W)
    old = os.environ.get("SPARK_GRAFT_LOCAL_FIXPOINT_MAX")
    os.environ["SPARK_GRAFT_LOCAL_FIXPOINT_MAX"] = "0"
    try:
        eng = IQLEngine(spark)
        eng.register("edge", _anchor_edge_df(spark, layers, width))
        df = eng.query(
            """
            +reach(X, Y) <- edge(X, Y)
            +reach(X, Z) <- edge(X, Y), reach(Y, Z)
            ?reach(X, Y)
            """
        )
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_LOCAL_FIXPOINT_MAX", None)
        else:
            os.environ["SPARK_GRAFT_LOCAL_FIXPOINT_MAX"] = old
    return df.select(F.col("X").alias("src"), F.col("Y").alias("dst"))


def _tree_edge_df(spark, sf_dir):
    """Balanced-binary-tree parent→child edges over node ids derived
    from orders keys: node i (1..N-1) has parent (i-1) div 2. N steps
    with SF (511 / 1023 / 2047) so the same-generation workload grows
    ~4× per SF decade while the iteration count grows by ONE level —
    the doubling branch can't touch this shape, so the timing isolates
    the general semi-naive loop."""
    orders = _load(spark, sf_dir, "orders")["orders"]
    n = orders.count()
    N = 511 if n < 100_000 else (1023 if n < 1_000_000 else 2047)
    ids = (
        orders.select((F.col("o_orderkey") % N).alias("i"))
        .filter(F.col("i") >= 1)
        .distinct()
    )
    return ids.select(
        F.expr("(i - 1) div 2").cast("long").alias("src"),
        F.col("i").cast("long").alias("dst"),
    )


def q_same_generation(spark, sf_dir):
    """Same-generation — the canonical NON-LINEAR recursion the
    path-doubling branch rejects (two edge atoms in the recursive rule),
    FORCED onto the distributed general semi-naive loop
    (recursion._seminaive_fixpoint) so the 100 TB evidence covers
    general recursion, not just chain-shaped TC (VERDICT r5 Missing #3).
    87,380 sg pairs on the 511-node tree at correctness SF."""
    import os

    old = os.environ.get("SPARK_GRAFT_LOCAL_FIXPOINT_MAX")
    os.environ["SPARK_GRAFT_LOCAL_FIXPOINT_MAX"] = "0"
    try:
        eng = IQLEngine(spark)
        eng.register("edge", _tree_edge_df(spark, sf_dir))
        df = eng.query(
            """
            +sg(X, Y) <- edge(P, X), edge(P, Y)
            +sg(X, Y) <- edge(A, X), edge(B, Y), sg(A, B)
            ?sg(X, Y)
            """
        )
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_LOCAL_FIXPOINT_MAX", None)
        else:
            os.environ["SPARK_GRAFT_LOCAL_FIXPOINT_MAX"] = old
    return df.select(F.col("X").alias("x"), F.col("Y").alias("y"))


def q_same_generation_bound(spark, sf_dir):
    """Bound NON-LINEAR recursion `?sg(5, Y)` — the classic case where
    textbook magic-sets gets subtle (demand flows through two recursive
    body positions); the engine must produce the exact bound answer
    whether it specializes or evaluates-then-filters."""
    eng = IQLEngine(spark)
    eng.register("edge", _tree_edge_df(spark, sf_dir))
    df = eng.query(
        """
        +sg(X, Y) <- edge(P, X), edge(P, Y)
        +sg(X, Y) <- edge(A, X), edge(B, Y), sg(A, B)
        ?sg(5, Y)
        """
    )
    return df.select(F.col("Y").alias("y"))


def q_shortest_path(spark, sf_dir):
    """Recursive min-aggregate (MinDiff semiring shape,
    src/semiring_types.rs:175)."""
    eng = IQLEngine(spark)
    eng.register("edge", _edge_df(spark, sf_dir, 30))
    df = eng.query(
        """
        +dist(X, Y, D) <- edge(X, Y), D = to_float(Y - X)
        +dist(X, Z, D) <- dist(X, Y, D1), edge(Y, Z), D = D1 + to_float(Z - Y)
        +shortest(X, Y, min<D>) <- dist(X, Y, D)
        ?shortest(0, Y, D)
        """
    )
    return df.select(F.col("Y").alias("dst"), F.col("D").alias("dist"))


# =====================================================================
# incremental view maintenance (mutate-then-query; the reference's
# second headline, src/incremental.rs + BENCHMARKS.md:50-93)
# =====================================================================


def q_incr_agg_delta(spark, sf_dir):
    """Materialized sum/count view maintained through an insert delta
    AND a conditional-delete delta (engine._maintain → try_delta_merge /
    try_delta_retract O(delta) paths; reference
    differential update src/incremental.rs:26-41). The oracle computes
    the same FINAL state from scratch; the paired test
    test_insert_then_delete_maintenance_sequence proves the engine side
    never re-aggregates the base. `sum<P>` is the reference's truncating
    Int64 sum, so the merged total hashes exactly — no float tolerance
    needed."""
    eng = IQLEngine(spark)
    orders = _load(spark, sf_dir, "orders")["orders"]
    tune_session(spark)
    eng.register(
        "ord", orders.select("o_orderkey", "o_custkey", "o_totalprice")
    )
    eng.execute("+cstat(C, count<P>, sum<P>) <- ord(O, C, P)")
    eng.query("?cstat(C, N, S)").count()  # materialize + pin the view
    # +Δ: two new orders; −Δ: custkey 3's orders under 100k
    eng.execute("+ord[(90000001, 1, 111.5), (90000002, 2, 222.25)]")
    eng.execute("-ord(O, 3, P) <- ord(O, 3, P), P < 100000.0")
    df = eng.query("?cstat(C, N, S)")
    return df.select(
        F.col("C").alias("c_custkey"),
        F.col("N").alias("n_orders"),
        F.col("S").alias("total_trunc"),
    )


def q_incr_recursive_delta(spark, sf_dir):
    """Materialized transitive closure maintained through an edge insert
    (semi-naive delta extension, recursion.seminaive_insert) AND an edge
    delete (DRed overdelete+rederive, recursion.dred_retract) — the
    reference's differential recursion maintenance
    (src/incremental.rs:36-41, BENCHMARKS.md:67-93). The oracle
    recomputes the closure of the FINAL edge set from scratch."""
    eng = IQLEngine(spark)
    eng.register("edge", _edge_df(spark, sf_dir, 60))
    eng.execute(
        "+reach(X, Y) <- edge(X, Y)\n+reach(X, Z) <- edge(X, Y), reach(Y, Z)"
    )
    eng.query("?reach(X, Y)").count()  # materialize + pin the fixpoint
    eng.execute("+edge[(0, 59)]")  # bridge: 0 reaches everything 59 does
    eng.execute("-edge(1, 2)")  # DRed: some 1→* paths lose derivations
    df = eng.query("?reach(X, Y)")
    return df.select(F.col("X").alias("src"), F.col("Y").alias("dst"))


# =====================================================================
# vector search (src/vector_ops.rs; embeddings table, 64-dim)
# =====================================================================


# index artifacts built once per corpus (the .index-create lifecycle);
# queries probe the prebuilt structure
_INDEX_CACHE: dict = {}


def _lsh_indexed(spark, sf_dir, num_tables: int = 8, num_bits: int = 8):
    """Materialized LSH bucket artifact for the embeddings corpus.

    persist() is lazy, so the fill COUNTS the frame immediately — index
    construction happens at .index-create time (here), never inside a
    probe query. `warmup()` pre-fills this for the bench."""
    key = ("lsh_index", sf_dir, num_tables, num_bits)
    emb = _INDEX_CACHE.get(key)
    if emb is None:
        from inputlayer_spark.operators.similarity import lsh_index

        emb = lsh_index(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
            "embedding",
            num_tables=num_tables,
            num_bits=num_bits,
        ).persist()
        emb.count()
        _INDEX_CACHE[key] = emb
    return emb


def _lsh_sel_indexed(spark, sf_dir):
    """Materialized 16-bit LSH artifact over the near-dup view
    (`_augmented_emb`) for the production-selectivity probe query."""
    key = ("lsh_sel", sf_dir)
    emb = _INDEX_CACHE.get(key)
    if emb is None:
        from inputlayer_spark.operators.similarity import lsh_index

        emb = lsh_index(
            _augmented_emb(spark, sf_dir), "embedding", num_tables=8, num_bits=16
        ).persist()
        emb.count()
        _INDEX_CACHE[key] = emb
    return emb


def _hnsw_graph_art(spark, sf_dir):
    """Driver-side HNSW graph over the near-dup view (the engine's
    `.index create ... type hnsw` artifact — reference src/hnsw_index.rs
    builds exactly this in-process structure). Built once per corpus,
    deterministic (seeded levels, id-ordered insertion)."""
    key = ("hnsw_graph", sf_dir)
    g = _INDEX_CACHE.get(key)
    if g is None:
        from inputlayer_spark.operators.hnsw import HnswGraph

        rows = _augmented_emb(spark, sf_dir).orderBy("vec_id").collect()
        g = HnswGraph(len(rows[0][1]), metric="cosine")
        g.add_batch(
            [int(r[0]) for r in rows], [[float(x) for x in r[1]] for r in rows]
        )
        _INDEX_CACHE[key] = g
    return g


def _sharded_hnsw_art(spark, sf_dir):
    """Persisted sharded-HNSW index over the near-dup view — the 100 TB
    HNSW shape (operators/hnsw.py ShardedHnswIndex: per-shard graphs
    built executor-side ONCE at index-create time, queries load-and-
    probe). Built here so the timed query pays probe+merge only —
    the same insert-once/search-many lifecycle as the reference's
    src/hnsw_index.rs."""
    key = ("sharded_hnsw", sf_dir)
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        import tempfile

        from inputlayer_spark.operators.hnsw import ShardedHnswIndex

        idx = ShardedHnswIndex.build(
            _augmented_emb(spark, sf_dir),
            "vec_id",
            "embedding",
            tempfile.mkdtemp(prefix="sparkgraft-bench-hnsw-"),
            num_shards=8,
            ef_search=256,
        )
        _INDEX_CACHE[key] = idx
    return idx


def q_hnsw_knn_sharded(spark, sf_dir):
    """Sharded HNSW k-NN — the distributed ANN path a 100 TB corpus
    would use: every shard's persisted graph is probed executor-side
    (mapInPandas load-and-walk, no corpus shuffle, no driver graph),
    shard-local top-20s merge globally, and Spark exact-reranks the
    merged candidates in double precision. Probe recall over the
    planted-near-dup view is 1.0 (measured; per-shard beam ef=256
    covers each shard's cluster members), so the DuckDB brute-force
    top-10 over the same view is an exact oracle."""
    from inputlayer_spark.functions import vector as V

    idx = _sharded_hnsw_art(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    cand_ids = [int(r["id"]) for r in idx.search(spark, q, k=20, ef=256).collect()]
    # rerank against the PERSISTED near-dup artifact (same rows as
    # _augmented_emb plus bucket columns) — an in-memory scan instead of
    # re-reading parquet and recomputing the planted copies per query
    emb = _lsh_sel_indexed(spark, sf_dir).filter(f"vec_id IN ({','.join(str(i) for i in cand_ids)})" if cand_ids else F.lit(False))
    qcol = V.vec_literal(q, "double")
    return (
        emb.select(
            "vec_id", F.expr(V.cosine("`embedding`", qcol)).alias("cos_dist")
        )
        .orderBy(F.col("cos_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


def _ivf_cents(spark, sf_dir):
    """Collected IVF centroid artifact (n_cells × dim, driver-side)."""
    ck = ("ivf_cents", sf_dir)
    cents = _INDEX_CACHE.get(ck)
    if cents is None:
        from inputlayer_spark.operators.similarity import ivf_index

        emb = _load(spark, sf_dir, "embeddings")["embeddings"]
        _, cents = ivf_index(emb, "label", "embedding")
        _INDEX_CACHE[ck] = cents
    return cents


def _query_vec(spark, sf_dir):
    qk = ("query_vec", sf_dir)
    q = _INDEX_CACHE.get(qk)
    if q is None:
        row = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("vec_id") == 0)
            .select("embedding")
            .collect()[0]
        )
        q = [float(x) for x in row["embedding"]]
        _INDEX_CACHE[qk] = q
    return q


def warmup(spark: SparkSession, sf_dir: str) -> None:
    """Pre-build every index artifact the ANN queries probe.

    Mirrors the engine's `.index create` lifecycle: bucket columns and
    centroids are index-create-time work, so the bench (and any caller
    issuing repeated queries) pays them once here and the timed queries
    measure probe + rerank only."""
    tune_session(spark)
    _query_vec(spark, sf_dir)
    _lsh_indexed(spark, sf_dir, num_tables=8, num_bits=8)
    _lsh_sel_indexed(spark, sf_dir)
    _ivf_cents(spark, sf_dir)
    _hnsw_graph_art(spark, sf_dir)
    _sharded_hnsw_art(spark, sf_dir)
    _dedup_index_art(spark, sf_dir)


def q_knn_cosine(spark, sf_dir):
    from inputlayer_spark.operators.similarity import knn_bruteforce

    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    q = _query_vec(spark, sf_dir)
    out = knn_bruteforce(emb, "vec_id", "embedding", q, k=10, metric="cosine")
    return out.select(F.col("id").alias("vec_id"), F.col("dist").alias("cos_dist"))


def q_within_radius(spark, sf_dir):
    """within_radius ranking aggregate over euclidean distance."""
    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    q = _query_vec(spark, sf_dir)
    qcol = V.vec_literal(q)
    return (
        emb.select(
            F.col("vec_id"), F.expr(V.euclidean("`embedding`", qcol)).alias("eu_dist")
        )
        .filter(F.col("eu_dist") <= 1.2)
    )


def q_pairwise_cosine(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")["embeddings"].filter(F.col("vec_id") < 20)
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("v1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("v2"))
    return (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.expr(f"1.0D - {V.cosine('`v1`', '`v2`')}").alias("cos_sim"),
        )
    )


def q_vector_norms(spark, sf_dir):
    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    return emb.select(
        "vec_id",
        F.expr(V.vector_norm("`embedding`")).alias("norm"),
        F.expr(V.vec_dim("`embedding`")).alias("dim"),
    )


def q_quantize_roundtrip(spark, sf_dir):
    """quantize_symmetric → dequantize_scaled round-trip error
    (examples/iql/30_quantization/)."""
    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    qv = V.quantize_symmetric("`embedding`")
    max_abs = "array_max(transform(`embedding`, e -> abs(CAST(e AS DOUBLE))))"
    deq = F.expr(V.dequantize_scaled(qv, f"({max_abs} / 127.0D)"))
    err = F.array_max(
        F.zip_with(F.col("embedding"), deq, lambda a, b: F.abs(a.cast("double") - b))
    )
    return emb.select("vec_id", err.alias("max_err"))


def q_int8_distances(spark, sf_dir):
    """Int8 quantized distances (§2.5 int8 family, vector_ops.rs:562-690):
    every corpus vector symmetric-quantized to int8, then dot / cosine /
    manhattan against the quantized query vector (vec_id 0). Integer
    products stay exact in doubles, so dot and manhattan hash exactly;
    cosine follows the clamped-similarity contract the float oracle
    uses."""
    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    qv = V.quantize_symmetric("`embedding`")
    q0 = emb.filter(F.col("vec_id") == 0).select(F.expr(qv).alias("q0"))
    j = emb.crossJoin(F.broadcast(q0))
    return j.select(
        "vec_id",
        F.expr(V.dot(qv, "`q0`")).alias("dot_i8"),
        F.expr(V.cosine(qv, "`q0`")).alias("cos_i8"),
        F.expr(V.manhattan(qv, "`q0`")).alias("man_i8"),
    )


def q_knn_join(spark, sf_dir):
    from inputlayer_spark.operators.similarity import knn_join_bruteforce

    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5)
    out = knn_join_bruteforce(
        queries, emb, "vec_id", "embedding", "vec_id", "embedding", k=3, metric="cosine"
    )
    return out.select(
        F.col("qid"), F.col("id").alias("vec_id"), F.col("dist").alias("cos_dist"), F.col("rank")
    )


def q_knn_lsh(spark, sf_dir):
    """LSH-probed k-NN with exact rerank, full-probe budget.

    Multi-probe over the Hamming-3 ball (93 buckets/table × 8 tables
    over 8 bits) makes recall 1.0 on this corpus, so the DuckDB
    brute-force top-k is an exact oracle: the check verifies both the
    probe machinery (candidates must cover the true top-10) and the
    rerank. Scale path: bucket columns precomputed by lsh_index, probe
    filter is an IN-list (partition pruning)."""
    from inputlayer_spark.operators.similarity import knn_lsh

    # the bucket artifact belongs to index-create time, not query time —
    # cached AND materialized per corpus like engine.create_index does,
    # so queries measure the probe+rerank, not the index build
    emb = _lsh_indexed(spark, sf_dir, num_tables=8, num_bits=8)
    q = _query_vec(spark, sf_dir)
    out = knn_lsh(
        emb, "vec_id", "embedding", q, k=10, metric="cosine",
        num_bits=8, num_tables=8, num_probes=93,
    )
    return out.select(F.col("id").alias("vec_id"), F.col("dist").alias("cos_dist"))


def _augmented_emb(spark, sf_dir):
    """embeddings ∪ 10 deterministic near-duplicates of vec 0.

    The synthetic corpus is isotropic (measured max pairwise cosine sim
    0.51 at sf0.01, median ~0) — the textbook no-LSH-gap regime where NO
    hash family can beat a scan for generic top-k. Production-selectivity
    LSH exists for corpora WITH near neighbors, so this view plants them:
    copy j perturbs component i of vec 0 by ((j*31+i*17)%13−6)/100 —
    integer arithmetic + one exact-int double division, bit-identical in
    Spark and DuckDB, so the brute-force oracle over the same view is
    exact. Resulting copies sit at cos_dist ≈ 1e-3 (true near-dups)."""
    emb = _load(spark, sf_dir, "embeddings")["embeddings"].select("vec_id", "embedding")
    copies = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.explode(F.array(*[F.lit(j) for j in range(1, 11)])).alias("j"), "embedding")
        .select(
            (F.lit(1000000) + F.col("j")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (
                    x.cast("double")
                    + ((F.col("j") * 31 + (i + 1) * 17) % 13 - 6).cast("double")
                    / F.lit(100.0)
                ).cast("float"),
            ).alias("embedding"),
        )
    )
    return emb.unionByName(copies)


def q_knn_lsh_selective(spark, sf_dir):
    """LSH k-NN at production selectivity: 16-bit buckets, 8 boundary-
    ranked probes per table × 8 tables — the probe set covers 8 of the
    65,536 buckets per table, so this exercises bucket PRUNING (the
    100 TB path: partition pruning on the bucket column), unlike
    q_knn_lsh's full Hamming-3 ball. Corpus = `_augmented_emb` (the
    near-dup view — see its docstring for why the raw isotropic corpus
    cannot have an LSH gap); the true top-10 are the planted near-dups,
    all of which the probe finds (measured recall@10 = 1.0; candidate
    fraction asserted ≤5% in tests/test_operators.py), so the DuckDB
    brute-force top-10 over the same view is an exact oracle
    (reference probe semantics: src/vector_ops.rs:1127-1400)."""
    from inputlayer_spark.operators.similarity import knn_lsh

    emb = _lsh_sel_indexed(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    out = knn_lsh(
        emb, "vec_id", "embedding", q, k=10, metric="cosine",
        num_bits=16, num_tables=8, num_probes=8,
    )
    return out.select(F.col("id").alias("vec_id"), F.col("dist").alias("cos_dist"))


def q_hnsw_knn(spark, sf_dir):
    """HNSW graph k-NN (reference src/hnsw_index.rs:214-223): the
    in-process graph walk selects candidates (top-20 at ef=128 over the
    near-dup view), Spark exact-reranks them in double precision — the
    same candidates→rerank split as the engine's `type hnsw` index. The
    walk finds all planted near-dups (the cluster is maximally navigable:
    recall@10 = 1.0, deterministic — seeded levels, id-ordered inserts),
    so the DuckDB brute-force top-10 over the same view is an exact
    oracle."""
    from inputlayer_spark.functions import vector as V

    g = _hnsw_graph_art(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    cand_ids = [int(i) for i, _ in g.search(q, 20, ef=128)]
    emb = _augmented_emb(spark, sf_dir).filter(f"vec_id IN ({','.join(str(i) for i in cand_ids)})" if cand_ids else F.lit(False))
    qcol = V.vec_literal(q, "double")
    return (
        emb.select(
            "vec_id", F.expr(V.cosine("`embedding`", qcol)).alias("cos_dist")
        )
        .orderBy(F.col("cos_dist").asc(), F.col("vec_id").asc())
        .limit(10)
    )


def q_ivf_knn(spark, sf_dir):
    """IVF probed search: exact top-10 within the 3 label cells whose
    centroids are nearest the query. Deterministic (centroid → probe →
    rerank), so the oracle replicates the same computation in SQL —
    the check verifies the IVF pipeline itself, not a recall bound.
    Scale path: centroids collected once at index time (n_cells × dim on
    the driver), probe selection is driver-side arithmetic, the cell
    filter is an IN-list (partition pruning when written by cell)."""
    from inputlayer_spark.operators.similarity import ivf_knn

    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    cents = _ivf_cents(spark, sf_dir)
    q = _query_vec(spark, sf_dir)
    out = ivf_knn(
        emb, "vec_id", "embedding", q, k=10, metric="cosine",
        cell_col="label", n_probe=3, cents=cents,
    )
    return out.select(F.col("id").alias("vec_id"), F.col("dist").alias("cos_dist"))


# =====================================================================
# temporal (src/temporal_ops.rs; events table)
# =====================================================================


def q_recent_events(spark, sf_dir):
    ev = _events_ms(spark, sf_dir)
    now = ev.agg(F.max("__ts_ms")).collect()[0][0]
    week = 7 * 86400 * 1000
    return ev.filter(TP.within_last("`__ts_ms`", sql_of_const(now), str(week))).select(
        "event_id", F.col("__ts_ms").alias("ts_ms")
    )


def q_temporal_arith(spark, sf_dir):
    """time_add / time_sub / time_diff / interval_duration /
    time_between / interval_contains (reference temporal_ops.rs family,
    §2.5) — pure ms-long arithmetic over events, hash-exact vs the
    oracle (no float tolerance needed)."""
    ev = _events_ms(spark, sf_dir)
    t = "`__ts_ms`"
    hour = 3600 * 1000
    day = 24 * hour
    lo = ev.agg(F.min("__ts_ms")).collect()[0][0] + day
    hi = lo + 2 * day
    lo_s, hi_s = sql_of_const(lo), sql_of_const(hi)
    return ev.selectExpr(
        "event_id",
        f"{TP.time_add(t, str(hour))} AS plus_1h",
        f"{TP.time_sub(t, str(hour // 2))} AS minus_30m",
        f"{TP.time_diff(t, lo_s)} AS since_lo",
        f"{TP.interval_duration(lo_s, t)} AS dur_lo_t",
        f"{TP.time_between(t, lo_s, hi_s)} AS in_window",
        f"{TP.interval_contains(lo_s, hi_s, t, TP.time_add(t, str(hour)))} AS hour_fits",
    )


def q_time_decay_sum(spark, sf_dir):
    ev = _events_ms(spark, sf_dir)
    now = ev.agg(F.max("__ts_ms")).collect()[0][0]
    day = 86400 * 1000
    w = F.expr(TP.time_decay("`__ts_ms`", sql_of_const(now), str(day)))
    # float32 report: double sums are order-dependent in the last ulp
    # (partition-merge order), float32 rounding makes the compare stable.
    return ev.groupBy("event_type").agg(
        F.sum(w).cast("float").alias("decayed_weight"), F.count("*").alias("n")
    )


def q_interval_overlaps(spark, sf_dir):
    """intervals_overlap on derived per-event intervals
    (temporal_ops.rs:191)."""
    ev = _events_ms(spark, sf_dir)
    iv = ev.select(
        "event_id",
        "user_id",
        F.col("__ts_ms").alias("s"),
        (F.col("__ts_ms") + (F.col("value") * 60000).cast("long")).alias("e"),
    )
    a = iv.toDF("id1", "user_id", "s1", "e1")
    b = iv.toDF("id2", "user_id", "s2", "e2")
    pairs = (
        a.join(b, on="user_id")
        .filter(F.col("id1") < F.col("id2"))
        .filter(TP.intervals_overlap("`s1`", "`e1`", "`s2`", "`e2`"))
    )
    return pairs.groupBy("user_id").agg(F.count("*").alias("n_overlaps"))


# =====================================================================
# text analysis / dedup (documents table)
# =====================================================================


def q_token_stats(spark, sf_dir):
    docs = _load(spark, sf_dir, "documents")["documents"]
    t = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        TX.stopword_ratio(t).alias("sw_ratio"),
        TX.mean_word_length(t).alias("mean_wlen"),
    )


def q_quality_lang(spark, sf_dir):
    docs = _load(spark, sf_dir, "documents")["documents"]
    t = F.col("text")
    return docs.select(
        "doc_id", TX.quality_score(t).alias("quality"), TX.lang_id(t).alias("lang_guess")
    )


# Messy-text suffixes injected by the normalize_text driver row so the
# synthetic (pure-ASCII) corpus exercises every normalization step:
# combining accent -> NFC compose, ANGSTROM/OHM singletons, C0 controls,
# tab/space runs, CRLF, 4x newlines, edge whitespace. Replicated
# codepoint-for-codepoint in the oracle via _duck_str.
_MESS_EVEN = " cafe" + chr(0x301) + "  " + chr(0x212B) + "\tx" + chr(1) + "\n\n\n\nend  "
_MESS_ODD = "  " + chr(0xFB01) + " " + chr(0x2126) + "  y" + chr(0x0B) + " z \r\n tail"


def _duck_str(s: str) -> str:
    """Render a Python string as a DuckDB expression (quoted runs of
    printable ASCII, chr(cp) for everything else) so oracle literals
    match the Spark literals codepoint-for-codepoint."""
    parts, run = [], []
    for ch in s:
        if 32 <= ord(ch) < 127 and ch != "'":
            run.append(ch)
        else:
            if run:
                parts.append("'" + "".join(run) + "'")
                run = []
            parts.append(f"chr({ord(ch)})")
    if run:
        parts.append("'" + "".join(run) + "'")
    return " || ".join(parts) if parts else "''"


def q_normalize_text(spark, sf_dir):
    """Text canonicalization (functions/text.normalize_text): Unicode
    NFC (the one justified Arrow-batched Python step — Spark has no
    JVM unicode-normalize builtin) + control-strip + line-ending and
    whitespace canonicalization, the pass that makes exact-dedup
    hashing honest on mixed-encoding crawls. Every doc gets a
    parity-dependent messy suffix (combining accents, NFC singletons,
    C0 controls, CRLF, whitespace runs) so the ASCII corpus exercises
    each step; the oracle replicates the suffixes and the identical
    regexp chain over DuckDB's nfc_normalize."""
    from inputlayer_spark.functions.text import normalize_text

    docs = _load(spark, sf_dir, "documents")["documents"]
    messy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(_MESS_EVEN)).otherwise(
                F.lit(_MESS_ODD)
            ),
        ).alias("text"),
    )
    return normalize_text(messy, "doc_id", "text")


def q_doc_fingerprint(spark, sf_dir):
    docs = _load(spark, sf_dir, "documents")["documents"]
    return docs.select("doc_id", TX.doc_fingerprint(F.col("text")).alias("fp"))


def q_compression_signal(spark, sf_dir):
    """zlib compressed/raw ratio per document — the classic cheap
    low-entropy/boilerplate filter (functions/text.compression_ratio,
    Arrow-batched pandas_udf; zlib is not expressible in plain SQL, so
    this row gets the driver's rows-only check — but the repo's parity
    suite value-checks it end-to-end against the SAME zlib ratio
    registered as a DuckDB Python UDF,
    tests/test_oracle_parity.py::test_compression_signal_value_parity).
    Returns the docs a pipeline would KEEP (ratio ≥ 0.25)."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    scored = docs.select(
        "doc_id", TX.compression_ratio(F.col("text")).alias("zratio")
    )
    return scored.filter(F.col("zratio") >= 0.25).select("doc_id", "zratio")


def q_image_probe(spark, sf_dir):
    """End-to-end exactness gate for the REAL image header probe
    (operators/multimodal.probe_image_meta): PNG bytes are synthesized
    per document with IHDR dimensions derived from doc_id, pushed
    through the actual byte-parsing kernel, and the oracle recomputes
    the dimensions arithmetically — a single mis-read byte in the
    parser diverges the hashes."""
    from inputlayer_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        probe_image_meta,
        synth_png,
    )

    docs = _load(spark, sf_dir, "documents")["documents"].select("doc_id")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        synth_png(F.col("doc_id")).alias("content"),
        F.lit(None).cast(MEDIA_SCHEMA["meta"].dataType).alias("meta"),
    )
    out = probe_image_meta(media)
    return out.select(
        F.col("media_id").alias("doc_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
    )


def q_topic_clusters(spark, sf_dir):
    """Deterministic k-means topic clustering over the embedding corpus
    (operators/clustering.kmeans_assign: init = k smallest ids, argmin
    squared-euclidean with lowest-index tiebreak, per-dim mean update,
    FIXED 2 rounds — no RNG anywhere, so DuckDB reproduces the exact
    assignment with unrolled CTE iterations). The clustering twin of
    rebalance_mixture: a curation pipeline clusters, then rebalances
    cluster sizes."""
    from inputlayer_spark.operators.clustering import kmeans_assign

    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    return kmeans_assign(emb, "vec_id", "embedding", k=4, iters=2)


def q_vocabulary(spark, sf_dir):
    """Tokenizer-prep vocabulary: top-500 corpus tokens by frequency
    (ties broken lexicographically — a deterministic cutoff), counts
    included (functions/text.vocabulary). One explode + one token-key
    hash aggregate; output is vocabulary-sized, never corpus-sized."""
    from inputlayer_spark.functions import text as TX

    docs = _load(spark, sf_dir, "documents")["documents"]
    return TX.vocabulary(docs, "text", top_n=500, min_count=2)


def q_tfidf(spark, sf_dir):
    """Per-document TF-IDF term scores (functions/text.tfidf): integer
    tf >= 3 admission keeps the row set engine-exact; the float score
    column rides the harness's tolerance compare. The top-k ranking
    variant (top_keywords) is Spark-side API — float rank boundaries
    don't cross engines."""
    from inputlayer_spark.functions import text as TX

    docs = _load(spark, sf_dir, "documents")["documents"]
    return TX.tfidf(docs, "doc_id", "text", min_tf=3)


def q_curation_pipeline(spark, sf_dir):
    """End-to-end curation COMPOSITION — quality gate -> exact-dup
    survivor selection -> leakage-safe split assignment -> per-split
    doc/token rollup, all in one declarative plan (one oracle row
    proving the operator family composes, not just that each piece
    works alone). Every stage is the library operator, not a re-
    implementation: functions/text.quality_score + token_count,
    md5-survivor dedup, operators/sampling.assign_splits."""
    from inputlayer_spark.operators.sampling import assign_splits

    docs = _load(spark, sf_dir, "documents")["documents"]
    kept = docs.filter(TX.quality_score("text") >= 0.6)
    surv = (
        kept.withColumn("h", F.md5(F.col("text")))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"), F.min("text").alias("text"))
    )
    split = assign_splits(
        surv, "doc_id", {"train": 0.98, "val": 0.01, "test": 0.01}, seed=11
    )
    return split.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(TX.token_count(F.col("text"))).alias("n_tokens"),
    )


def q_web_pipeline(spark, sf_dir):
    """End-to-end WEB-CRAWL curation composition — the order a real
    100 TB crawl pipeline runs, every stage the library operator:

    1. messy-suffix injection (the normalize_text driver fixtures:
       combining accents, NFC singletons, C0 controls, CRLF);
    2. `normalize_text` — NFC + control/whitespace canonicalization;
    3. deterministic sentence segmentation of the synthetic corpus
       (' the ' -> '.\\n', ' a ' -> '\\n', terminal '.');
    4. `c4_clean` line filters + page gates, keep pages only;
    5. `gopher_quality_flags` over the CLEANED text, passes only;
    6. exact-dup survivor selection (md5 of clean text, min doc_id);
    7. per-source rollup (doc + token counts) joined back to the
       source column — the shape a mixture-planning job consumes.

    One declarative plan end-to-end; proves the cleaning trilogy
    COMPOSES (filters stack, no stage poisons another's columns), not
    just that each piece matches its oracle alone."""
    from inputlayer_spark.functions.text import (
        c4_clean,
        gopher_quality_flags,
        normalize_text,
    )

    docs = _load(spark, sf_dir, "documents")["documents"]
    messy = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(_MESS_EVEN)).otherwise(
                F.lit(_MESS_ODD)
            ),
        ).alias("text"),
    )
    # STRAIGHT-LINE plan: metadata rides the operators' `carry`
    # passthrough. The v1 join-back formulation (join each stage's
    # output back to its input for the source column) re-evaluated the
    # upstream subtree once per branch — measured 8.0x growth at 100x;
    # this plan is one linear chain and scales with the scan.
    norm = normalize_text(messy, "doc_id", "text", carry=("source",))
    seg = norm.select(
        "doc_id",
        "source",
        F.concat(
            F.regexp_replace(
                F.regexp_replace("norm_text", " the ", ".\n"), " a ", "\n"
            ),
            F.lit("."),
        ).alias("text"),
    )
    pages = (
        c4_clean(seg, "doc_id", "text", min_sentences=2, carry=("source",))
        .filter("keep")
        .select("doc_id", "source", "clean_text")
    )
    # Catalyst pushes gopher's `.filter("passes")` below the projection
    # by SUBSTITUTING the whole normalize→segment→c4 chain into the
    # predicate, so the chain evaluates twice more downstream (measured
    # +1.8 s at sf0.1; both §4.4 nondeterministic-identity fixes were
    # A/B-measured WORSE in r13). A lazy intra-query pin of the cleaned
    # pages truncates the substitution: the chain runs ONCE inside the
    # pin's materialization and gopher/md5 read stored rows. Pinning
    # corpus-scale cleaned text is only acceptable when it is
    # RAM-trivial, so the pin is guarded by the INPUT size (driver-side
    # file stat, no job): above the guard the plan is the unchanged
    # straight-line chain, whose duplication is a bounded 2x of a
    # linear scan — the right trade at 100 TB where a text pin would
    # spill the corpus to local disk. Recomputed per invocation inside
    # the timed region (same class as the fixpoint pins — nothing
    # persists across runs).
    if _input_bytes(f"{sf_dir}/documents.parquet") <= _PIN_MAX_BYTES:
        pages = pages.localCheckpoint(eager=False)
    # min_stopword_hits=1: the segmentation consumed ' the '/' a ' as
    # sentence separators, so the synthetic pages retain at most the
    # edge-position stopwords — 1 keeps the gate discriminating (32 of
    # 169 c4-kept pages at sf0.01) instead of all-false
    kept = gopher_quality_flags(
        pages,
        "doc_id",
        "clean_text",
        min_words=20,
        min_stopword_hits=1,
        carry=("source", "clean_text"),
    ).filter("passes")
    # survivor shuffle carries FIXED-WIDTH columns only (the repo's
    # scale discipline: never shuffle document text): the md5 is
    # computed map-side, and gopher's n_words IS token_count(clean) —
    # reuse it instead of carrying text through the exchange. Within an
    # md5 group every clean_text (hence n_words) is identical, so
    # min() is exact; the survivor's source is min_by over doc_id.
    surv = (
        kept.select(
            F.md5(F.col("clean_text")).alias("h"),
            "doc_id",
            "source",
            "n_words",
        )
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("source", "doc_id").alias("source"),
            F.min("n_words").alias("n_tok"),
        )
    )
    return surv.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


def q_hash_sample(spark, sf_dir):
    """Deterministic content-hash Bernoulli sample (10% of documents by
    seeded md5 bucket) — rand() is nondeterministic under task retries;
    this is a pure function of the data (operators/sampling.py)."""
    from inputlayer_spark.operators.sampling import hash_sample

    docs = _load(spark, sf_dir, "documents")["documents"]
    out = hash_sample(docs, "doc_id", 0.10, seed=0)
    return out.select("doc_id", "lang")


def q_train_val_test_split(spark, sf_dir):
    """Deterministic 98/1/1 train/val/test assignment by seeded content
    hash (operators/sampling.py assign_splits): leakage-safe — a doc can
    never migrate between train and eval across runs, retries, or
    incremental appends. Expression-only, no shuffle before the
    verification rollup."""
    from inputlayer_spark.operators.sampling import assign_splits

    docs = _load(spark, sf_dir, "documents")["documents"]
    out = assign_splits(
        docs, "doc_id", {"train": 0.98, "val": 0.01, "test": 0.01}, seed=11
    )
    return out.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


def q_weighted_sample(spark, sf_dir):
    """Quality-weighted Bernoulli subsampling (operators/sampling.py
    weighted_sample): keep each document with probability equal to a
    per-row weight (here length/2000 clamped to 1 — longer docs more
    likely kept), decided by the deterministic seeded content hash so
    the kept set is a pure function of the data — the quality-weighted
    sampling step of modern curation recipes, exactly replicated by
    the DuckDB oracle."""
    from inputlayer_spark.operators.sampling import weighted_sample

    docs = _load(spark, sf_dir, "documents")["documents"]
    weighted = docs.withColumn(
        "weight", F.least(F.lit(1.0), F.length("text") / F.lit(2000.0))
    )
    out = weighted_sample(weighted, "doc_id", "weight", seed=7)
    return out.select("doc_id", "weight")


def q_cap_per_group(spark, sf_dir):
    """Per-group rebalancing cap: at most 25 documents per language,
    chosen by smallest seeded hash (deterministic reservoir)."""
    from inputlayer_spark.operators.sampling import cap_per_group

    docs = _load(spark, sf_dir, "documents")["documents"]
    out = cap_per_group(docs, "doc_id", "lang", 25, seed=1)
    return out.select("doc_id", "lang")


def q_chunk_documents(spark, sf_dir):
    """Token-window chunking (16-token windows, 4-token overlap) —
    JVM-side sequence/slice/posexplode, no UDFs."""
    from inputlayer_spark.operators.sampling import chunk_documents

    docs = _load(spark, sf_dir, "documents")["documents"]
    out = chunk_documents(docs, "doc_id", "text", chunk_tokens=16, overlap=4)
    return out.select("doc_id", "chunk_id", "chunk", "n_tokens")


def q_asof_join(spark, sf_dir):
    """Point-in-time join (operators/events.py asof_join): every click
    event gains the most recent purchase value of the same user at or
    before its timestamp, null if none within 24h. Spark has no native
    ASOF JOIN; this is the union-and-carry plan — ONE shuffle on the
    key, last(payload, ignorenulls) over a rows window — not the
    O(n·m) theta-join+argmax. Oracle: DuckDB's native ASOF LEFT JOIN
    with the same tolerance."""
    from inputlayer_spark.operators.events import asof_join

    ev = _load(spark, sf_dir, "events")["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(
        clicks, purch, "user_id", "ts", ["purchase_value"],
        tolerance_s=86400,
    )
    return out.select(
        "event_id", "user_id", "ts", "matched_ts", "purchase_value"
    )


def q_sessionize(spark, sf_dir):
    """Gap-based batch sessionization (operators/events.py sessionize):
    per-user 0-based session numbers with a 1-hour inactivity gap —
    lag + running sum over one key-partitioned window (the batch twin
    of the native streaming session_window in streaming/stateful.py)."""
    from inputlayer_spark.operators.events import sessionize

    ev = _load(spark, sf_dir, "events")["events"]
    out = sessionize(ev, "user_id", "ts", 3600.0, order_tiebreak="event_id")
    return out.select("event_id", "user_id", "session_seq")


def q_quality_percentiles(spark, sf_dir):
    """Per-language exact quality-score percentiles (operators/
    sampling.py group_percentile_thresholds) — the calibration step of
    percentile-based curation gates; percentile_cont semantics matched
    by DuckDB quantile_cont."""
    from inputlayer_spark.operators.sampling import (
        group_percentile_thresholds,
    )

    docs = _load(spark, sf_dir, "documents")["documents"]
    q = docs.withColumn("quality", TX.quality_score("text"))
    out = group_percentile_thresholds(q, "lang", "quality")
    return out.select("lang", "p25", "p50", "p75")


def q_pack_sequences(spark, sf_dir):
    """Concat-and-split sequence packing over the 16/4 token chunks
    (operators/sampling.py pack_sequences): chunks laid end-to-end in
    (doc_id, chunk_id) order, cut into 512-token training sequences.
    The global token prefix-sum is the two-phase distributed scan (range
    repartition → per-partition totals → windowed partial sums + offset
    broadcast) — NO single-partition global window, so the layout holds
    at 100 TB. Oracle: DuckDB window cumsum over the identical order."""
    from inputlayer_spark.operators.sampling import (
        chunk_documents,
        pack_sequences,
    )

    docs = _load(spark, sf_dir, "documents")["documents"]
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=16, overlap=4)
    out = pack_sequences(chunks, "n_tokens", ["doc_id", "chunk_id"], budget=512)
    return out.select("doc_id", "chunk_id", "pack_id", "pack_offset")


def q_global_shuffle(spark, sf_dir):
    """Deterministic global shuffle rank for training-order
    randomization (operators/sampling.py global_shuffle): position in
    seeded-hash order, computed as a distributed prefix COUNT (same
    two-phase scan as packing) — reruns and retries give the identical
    permutation, unlike orderBy(rand())."""
    from inputlayer_spark.operators.sampling import global_shuffle

    docs = _load(spark, sf_dir, "documents")["documents"]
    return global_shuffle(docs, "doc_id", seed=3).select(
        "doc_id", "shuffle_rank"
    )


def q_rebalance_mixture(spark, sf_dir):
    """Target-mixture rebalancing (operators/sampling.py
    rebalance_to_mixture): down-sample languages to a 50/20/20/10
    en/de/fr/es mix (zh untargeted → dropped). T = min_g count_g/p_g;
    each row kept iff seeded-hash-uniform < p_g·T/count_g — a pure
    expression filter the DuckDB oracle replicates exactly."""
    from inputlayer_spark.operators.sampling import rebalance_to_mixture

    docs = _load(spark, sf_dir, "documents")["documents"]
    out = rebalance_to_mixture(
        docs,
        "doc_id",
        "lang",
        {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1},
        seed=11,
    )
    return out.select("doc_id", "lang")


def q_dedup_lines(spark, sf_dir):
    """Corpus-level line dedup — the C4/MassiveText boilerplate pass
    (operators/dedup.py dedup_lines): every 'line' occurring in >2
    distinct documents is removed from all of them, survivors
    reassembled in order. The synthetic corpus is single-line, so the
    literal token ' the ' serves as the surrogate separator (semantics
    identical to '\\n' on real text). Shuffle carries md5 line hashes,
    blocklist is broadcast-anti-joined."""
    from inputlayer_spark.operators.dedup import dedup_lines

    docs = _load(spark, sf_dir, "documents")["documents"]
    out = dedup_lines(docs, "doc_id", "text", sep=" the ", max_doc_freq=2)
    return out.select("doc_id", F.col("text").alias("clean_text"))


def q_exact_dedup(spark, sf_dir):
    """Exact dedup: min doc_id representative per content hash."""
    docs = _load(spark, sf_dir, "documents")["documents"]
    return (
        docs.withColumn("h", F.md5(F.col("text")))
        .groupBy("h")
        .agg(F.min("doc_id").alias("rep_id"), F.count("*").alias("n_copies"))
        .select("rep_id", "n_copies")
    )


def q_ngram_jaccard(spark, sf_dir):
    from inputlayer_spark.operators.dedup import ngram_jaccard_pairs

    docs = _load(spark, sf_dir, "documents")["documents"].filter(F.col("doc_id") < 100)
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.05)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components (min-label propagation
    with pointer doubling, operators/dedup.py:dedup_clusters) over the
    exact n-gram-Jaccard pair graph — every doc labeled with its
    cluster's canonical (minimum) id; singletons label themselves."""
    from inputlayer_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )

    docs = _load(spark, sf_dir, "documents")["documents"].filter(
        F.col("doc_id") < 100
    )
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.08)
    out = dedup_clusters(pairs, docs.select("doc_id"), id_col="doc_id")
    return out.select("doc_id", "cluster_id")


def q_dedup_survivors(spark, sf_dir):
    """The COMPLETE near-dup curation pipeline: pairwise signal →
    connected components → canonical survivor per cluster
    (operators/dedup.py:keep_canonical — highest quality, ties to the
    smallest id; quality = text length here). One map-side-combinable
    min_by aggregate + a semi-join, no per-cluster sort."""
    from inputlayer_spark.operators.dedup import (
        dedup_clusters,
        keep_canonical,
        ngram_jaccard_pairs,
    )

    docs = _load(spark, sf_dir, "documents")["documents"].filter(
        F.col("doc_id") < 100
    )
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=2, threshold=0.08)
    cl = dedup_clusters(pairs, docs.select("doc_id"), id_col="doc_id")
    out = keep_canonical(docs, cl, id_col="doc_id")
    return out.select(
        "doc_id", "cluster_id", F.length("text").cast("long").alias("n_chars")
    )


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH banding candidates VERIFIED by exact Jaccard ≥ 0.5.

    The standard candidates→verify near-dup pipeline: banding prunes the
    pair space (64 permutations, 16 bands of 4 — every true pair in this
    corpus has J ≥ 0.82, where the per-band collision rate is 0.45 and
    the miss probability (1−0.45)^16 ≈ 6e-5, while J≈0.3 noise pairs are
    suppressed ~30× harder than 2-row bands), the exact Jaccard join touches
    candidate pairs only. With that recall the output equals the DuckDB
    exact-pairs oracle, so the check covers the whole pipeline. Scale:
    the shingle self-join for verification is restricted to candidates —
    no all-pairs compare."""
    from inputlayer_spark.operators.dedup import (
        doc_shingle_arrays,
        jaccard_verify_pairs,
        minhash_lsh_pairs,
    )

    docs = _load(spark, sf_dir, "documents")["documents"]
    # ONE persisted per-doc shingle-array frame feeds both the signature
    # computation and the exact-Jaccard verification (array_intersect);
    # rebalanced to all cores — the single-row-group test file otherwise
    # serializes shingling onto one task (doc_shingle_arrays docstring).
    # The previous call's cache entry is dropped first: Spark's
    # CacheManager matches canonicalized plans, so a repeated run would
    # otherwise silently skip the shingling it claims to measure.
    old = _INDEX_CACHE.pop(("mh_arr", sf_dir), None)
    if old is not None:
        old.unpersist(blocking=False)
    arr = doc_shingle_arrays(
        docs, "doc_id", "text", shingle_n=2,
        rebalance=spark.sparkContext.defaultParallelism,
    ).persist()
    _INDEX_CACHE[("mh_arr", sf_dir)] = arr
    cand = minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, shingle_n=2, shingle_arrays=arr
    )
    # banding prunes candidates to a sliver of the corpus → broadcast the
    # pair side; the verify adds zero shuffles beyond the banded join
    return jaccard_verify_pairs(cand, arr, threshold=0.5, broadcast_candidates=True)


def q_simhash(spark, sf_dir):
    docs = _load(spark, sf_dir, "documents")["documents"]
    # materialize the shingle-hash array so the 32 bit-vote filters share
    # one md5 pass (simhash_from_hashes docstring)
    return (
        docs.select("doc_id", TX.tokens(F.col("text")).alias("__toks"))
        .select(
            "doc_id",
            F.transform(TX.shingles_from_tokens(F.col("__toks"), 2), TX.md5_long32).alias(
                "__hs"
            ),
        )
        .select("doc_id", TX.simhash_from_hashes(F.col("__hs")).alias("simhash"))
    )


def q_embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact all-pairs baseline;
    the LSH-bucketed path is the bucket_bits>0 mode of the same operator)."""
    from inputlayer_spark.operators.dedup import embedding_cosine_pairs

    emb = _load(spark, sf_dir, "embeddings")["embeddings"].filter(F.col("vec_id") < 200)
    return embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.35, bucket_bits=0
    )


def q_embedding_dedup_bucketed(spark, sf_dir):
    """The SCALE path of the same operator, forced on: LSH-bucketed
    candidate generation (2 sign-hash bits × 16 tables — short-key
    equi-join, no cross product) then the exact cosine filter. At the
    corpus's threshold (0.35) the per-pair miss probability is
    (1 − (1 − θ/π)²·coverage)^16 ≈ 1e-3 and the measured candidate set
    covers every true pair at sf0.001 AND sf0.01, so the exact-pairs
    DuckDB oracle checks the bucketed pipeline end-to-end — this is the
    CORRECTNESS row for the 100 TB default that
    `embedding_cosine_pairs` auto-selects above 20k rows."""
    from inputlayer_spark.operators.dedup import embedding_cosine_pairs

    emb = _load(spark, sf_dir, "embeddings")["embeddings"].filter(F.col("vec_id") < 200)
    return embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.35, bucket_bits=2, num_tables=16
    )


def q_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A.1.1):
    duplicate-line fraction (computed over the word-per-line view so the
    synthetic corpus exercises it) and top-bigram occurrence fraction —
    both single-pass array expressions in whole-stage codegen, no UDFs,
    no shuffle beyond the scan."""
    from inputlayer_spark.functions.text import (
        dup_line_fraction,
        top_bigram_fraction,
    )

    docs = _load(spark, sf_dir, "documents")["documents"]
    return docs.select(
        "doc_id",
        F.round(dup_line_fraction(F.translate(F.col("text"), " ", "\n")), 6).alias(
            "dup_line_frac"
        ),
        F.round(top_bigram_fraction(F.col("text")), 6).alias("top_bigram_frac"),
    )


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: 5-gram overlap of the corpus against a
    20-doc "eval set" (docs 0-19 stand in for a benchmark), ≥3 shared
    distinct shingles flags the pair — the n-gram collision test run
    before training (GPT-3 appendix C style). Plan: benchmark side
    broadcasts (eval sets are tiny next to a training corpus), so the
    check is one narrow pass over the corpus with no corpus shuffle."""
    from inputlayer_spark.operators.dedup import ngram_contamination

    docs = _load(spark, sf_dir, "documents")["documents"]
    bench = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    out = ngram_contamination(
        docs, bench, "doc_id", "bench_id", "text", shingle_n=5, min_overlap=3
    )
    # self-pairs (doc vs itself in the eval set) excluded: the signal is
    # cross-document leakage
    return out.filter(F.col("doc_id") != F.col("bench_id"))


def q_pii_scrub(spark, sf_dir):
    """PII masking: emails/SSNs/phones/IPs redacted with typed
    placeholders, plus the per-doc match count. The corpus text is
    deterministically salted with synthetic PII (same expression in the
    oracle) so the scrubber's work is actually exercised; output is the
    md5 of the scrubbed text — both engines hash the same string iff
    every pattern fired identically. All JVM regexp_replace —
    whole-stage codegen, a narrow map at 100 TB."""
    from inputlayer_spark.functions.text import pii_count, scrub_pii

    docs = _load(spark, sf_dir, "documents")["documents"]
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-123-4567 at 10.0.0."),
            (F.col("doc_id") % 255).cast("string"),
        ).alias("__txt"),
    )
    return salted.select(
        "doc_id",
        pii_count(F.col("__txt")).cast("long").alias("n_pii"),
        F.md5(scrub_pii(F.col("__txt"))).alias("scrubbed_md5"),
    )


def q_source_filter(spark, sf_dir):
    """Source-level curation (domain filtering): per-source signals via
    source_quality_stats (one corpus aggregate) + the documents that
    survive filter_by_source_quality's broadcast semi-join at the 0.85
    mean-quality gate — kept_docs = 0 marks a dropped source."""
    from inputlayer_spark.operators.sampling import (
        filter_by_source_quality,
        source_quality_stats,
    )

    docs = _load(spark, sf_dir, "documents")["documents"]
    stats = source_quality_stats(docs)
    # pass the stats frame in (r13): building quality_score's expression
    # tree costs ~0.5 s of py4j round-trips — this query consumed it
    # twice (once here, once inside the filter)
    kept = (
        filter_by_source_quality(docs, min_avg_quality=0.85, stats=stats)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept"))
    )
    return (
        stats.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            F.round("avg_quality", 6).alias("avg_quality"),
            F.round("dup_fraction", 6).alias("dup_fraction"),
            F.coalesce(F.col("kept"), F.lit(0)).cast("long").alias("kept_docs"),
        )
    )


def q_lm_score(spark, sf_dir):
    """Corpus-trained bigram LM score per document (functions/text.py
    lm_score): gibberish/outlier curation gate — token-key shuffle
    aggs + joins, tfidf's scale class, dfreq-style no-broadcast-hint
    discipline."""
    from inputlayer_spark.functions.text import lm_score

    docs = _load(spark, sf_dir, "documents")["documents"]
    return lm_score(docs, "doc_id", "text")


def q_lm_score_skewed(spark, sf_dir):
    """Planted-skew twin of lm_score (VERDICT r10 stretch #8): every
    document gets the hot token 'zq' appended at one third of its own
    token count, so 'zq' carries ~25% of the whole corpus's token mass
    — the stopword-skew shape real web text puts on the token-keyed
    shuffles. The operator is unchanged; this row exists so the scale
    sweep measures the skewed key distribution (AQE skew-split is the
    mitigation; partial aggregation absorbs the agg side)."""
    from inputlayer_spark.functions.text import lm_score
    from inputlayer_spark.functions.text import tokens as _tokens

    docs = _load(spark, sf_dir, "documents")["documents"]
    # coalesce BEFORE the skew injection (ADVICE r11): Spark's concat_ws
    # skips NULLs where the oracle's `||` propagates them — on NULL text
    # the two sides would diverge (hot-tokens-only vs empty)
    txt = F.coalesce(F.col("text"), F.lit(""))
    n_hot = F.floor(F.size(_tokens(txt)) / F.lit(3)).cast("int")
    hot = F.array_join(F.array_repeat(F.lit("zq"), n_hot), " ")
    skewed = docs.select("doc_id", F.concat_ws(" ", txt, hot).alias("text"))
    return lm_score(skewed, "doc_id", "text")


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary columns + mapInPandas feature kernel.
    These payloads are UTF-8 text (not decodable images), so the kernel
    flags them decoded=false and derives deterministic hash features;
    the projected columns are the decode-independent ones."""
    from inputlayer_spark.operators.multimodal import extract_features

    docs = _load(spark, sf_dir, "documents")["documents"]
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit(640).alias("width"),
            F.lit(480).alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )
    out = extract_features(media)
    return out.select("media_id", "kind", "n_bytes", "content_sha")


def q_substring_dedup(spark, sf_dir):
    """Exact-substring (token-window) dedup — the Lee et al. 2022
    "Deduplicating Training Data" pass (operators/dedup.dedup_spans):
    every 8-token span occurring more than once in the corpus is
    removed from ALL its occurrences, survivors reassembled in order.
    Window hashes built array-side, shuffle carries fixed-width md5
    keys, the duplicated-window set is broadcast-anti-joined (the
    dedup_lines discipline)."""
    from inputlayer_spark.operators.dedup import dedup_spans

    docs = _load(spark, sf_dir, "documents")["documents"]
    out = dedup_spans(docs, "doc_id", "text", window=8, max_freq=1)
    return out.select("doc_id", F.col("text").alias("clean_text"))


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    hashed unigram+bigram bucket distributions for the target domain
    (source = 'src0') vs the raw corpus, add-1 smoothing over 256
    buckets; per-doc mean log-likelihood ratio. The weight table is
    bucket-sized by construction — the one legitimately broadcast
    token-statistics table (operators/sampling.dsir_weights)."""
    from inputlayer_spark.operators.sampling import dsir_weights

    docs = _load(spark, sf_dir, "documents")["documents"]
    return dsir_weights(
        docs, "doc_id", "text", F.col("source") == "src0", buckets=256
    )


def q_bm25_search(spark, sf_dir):
    """BM25 top-10 retrieval (functions/text.bm25_search) — targeted
    decontamination / contrastive-set primitive. The query's term set
    is a literal IN-filter at the token explode, dfreq is |q|-row
    broadcast, scores rounded to 6dp before the (score desc, id asc)
    TakeOrdered so the k-boundary is cross-engine deterministic."""
    from inputlayer_spark.functions.text import bm25_search

    docs = _load(spark, sf_dir, "documents")["documents"]
    return bm25_search(docs, "doc_id", "text", "fast table scan merge", k=10)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): deterministic
    k-means (2 rounds — the topic_clusters pipeline) confines the
    cosine comparison to within-cluster pairs; rows with a >= 0.30
    similar lower-id cluster-mate are dropped
    (operators/dedup.semantic_dedup). Survivors keep their cluster id.

    k follows the SemDeDup design point k ∝ n (target ~250 vectors per
    cluster) so the pair join stays LINEAR in the corpus — at the
    oracle scales (sf0.001/sf0.01: 500 vectors) the rule lands on k=4,
    matching the fixed-k SQL oracle; sf0.1 (2000) gets k=8, the scale
    sweep's sf1 (20k vectors) k=80."""
    from inputlayer_spark.operators.dedup import semantic_dedup

    emb = _load(spark, sf_dir, "embeddings")["embeddings"]
    n = emb.count()
    k = max(4, n // 250)
    # corpus_rows: the count above already proves whether any cluster
    # can exceed the split cap, so the operator skips its probe job
    return semantic_dedup(
        emb, "vec_id", "embedding", k=k, iters=2, threshold=0.30,
        corpus_rows=n,
    )


def q_gopher_quality(spark, sf_dir):
    """Gopher/MassiveText composite rule battery (Rae et al. 2021
    arXiv:2112.11446 §A.1.1; functions/text.gopher_quality_flags):
    word-count window, mean-word-length window, symbol ratio, alphabetic
    -word ratio, distinct-stopword coherence — per-gate booleans plus
    the conjunction, all pure column expressions over one tokenization
    (min_words=30 so the synthetic ~50-token corpus splits
    non-trivially)."""
    from inputlayer_spark.functions.text import gopher_quality_flags

    docs = _load(spark, sf_dir, "documents")["documents"]
    return gopher_quality_flags(docs, "doc_id", "text", min_words=30)


def q_c4_clean(spark, sf_dir):
    """C4 cleaning battery (Raffel et al. 2020 arXiv:1910.10683 §2.2;
    functions/text.c4_clean): terminal-punctuation / min-words /
    javascript line filters rejoined into clean_text, plus the
    sentence-count, badword, lorem-ipsum, and curly-brace page gates.
    The single-line synthetic corpus is pre-segmented deterministically
    (' the ' -> sentence break, ' a ' -> plain break, terminal '.'),
    and every 7th/11th doc gets a lorem-ipsum / brace injection so the
    page gates fire on real data; badwords uses two corpus vocabulary
    words. All replicated verbatim in the oracle."""
    from inputlayer_spark.functions.text import c4_clean

    docs = _load(spark, sf_dir, "documents")["documents"]
    seg = F.regexp_replace(
        F.regexp_replace("text", " the ", ".\n"), " a ", "\n"
    )
    seg = F.concat(
        seg,
        F.lit("."),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" lorem ipsum")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" {x}")).otherwise(F.lit("")),
    )
    pages = docs.select("doc_id", seg.alias("text"))
    return c4_clean(
        pages, "doc_id", "text", min_sentences=3, badwords=("vector", "stream")
    )


def q_gopher_repetition(spark, sf_dir):
    """Gopher/MassiveText repetition battery (Rae et al. 2021
    arXiv:2112.11446 §A.1.2; functions/text.gopher_repetition_flags):
    duplicate line/paragraph fractions (count + character), top-{2,3,4}
    -gram character fractions, duplicated-{5..10}-gram coverage
    fractions, plus the Table-A1 threshold conjunction — one
    Exchange-free scan of pure array expressions (plan-pinned).

    The synthetic corpus is single-line, so every 3rd document gets its
    own 60-char prefix repeated as two extra lines and its next 50
    chars repeated as two extra paragraphs (deterministic, replicated
    verbatim in the oracle) — exercising every segment metric and the
    n-gram coverage path on real data, not just unit fixtures."""
    from inputlayer_spark.functions.text import gopher_repetition_flags

    docs = _load(spark, sf_dir, "documents")["documents"]
    seg = F.substring("text", 1, 60)
    par = F.substring("text", 61, 50)
    aug = F.concat(
        F.col("text"), F.lit("\n"), seg, F.lit("\n"), seg,
        F.lit("\n\n"), par, F.lit("\n\n"), par,
    )
    docs = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, aug).otherwise(F.col("text")).alias("text"),
    )
    return gopher_repetition_flags(docs, "doc_id", "text")


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE merge training (Sennrich et al. 2016,
    operators/bpe.bpe_merges): 6 merge rounds over the word-count
    vocabulary — pair-count hash aggregate + 1-row argmax collect +
    literal sentinel-string replace per round (the merge table is
    driver-sized by definition). Deterministic (count desc, lhs, rhs)
    tie-break; the DuckDB oracle unrolls the identical rounds."""
    from inputlayer_spark.operators.bpe import bpe_merges

    docs = _load(spark, sf_dir, "documents")["documents"]
    return bpe_merges(docs, "text", n_merges=6, min_pair_count=2)


def q_bpe_encode(spark, sf_dir):
    """BPE application (operators/bpe.bpe_encode): train 6 merges, then
    encode every token occurrence through the rank-ordered literal
    replace chain — closing the train/apply gap (VERDICT r10 #1: the
    encode path shares the sentinel chain, so the same unrolled-replace
    oracle applies). Rolled up per distinct token (pieces are a pure
    function of the token) with occurrence counts, so the row matches
    the oracle's final vocabulary state."""
    from inputlayer_spark.operators.bpe import bpe_encode, bpe_merges

    docs = _load(spark, sf_dir, "documents")["documents"]
    merges = bpe_merges(docs, "text", n_merges=6, min_pair_count=2)
    enc = bpe_encode(docs, "doc_id", "text", merges)
    return (
        enc.select(
            "token",
            F.array_join("pieces", " ").alias("piece_str"),
            F.size("pieces").alias("n_pieces"),
        )
        .groupBy("token", "piece_str", "n_pieces")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


def q_incremental_dedup(spark, sf_dir):
    """Cross-snapshot dedup — the daily-crawl pattern
    (operators/dedup.incremental_dedup): every 5th document plays the
    NEW batch, the rest the existing corpus; batch docs are dropped on
    exact corpus/batch-rep duplication or verified near-duplication
    (exact Jaccard >= 0.5 over MinHash-LSH candidates, the minhash_lsh
    row's banding whose recall is 1.0 at these SFs, so the oracle is
    the exact pair graph). Greedy-by-id within the batch."""
    from inputlayer_spark.operators.dedup import incremental_dedup

    docs = _load(spark, sf_dir, "documents")["documents"]
    batch = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    return incremental_dedup(
        batch, corpus, "doc_id", "text", num_perm=64, bands=16, shingle_n=2
    )


def _dedup_index_art(spark, sf_dir):
    """Persisted dedup-index artifacts over the corpus split (the
    non-batch 4/5 of documents) — index build is `.index create`-time
    work like the ANN artifacts, so the timed/driver query pays only
    the per-batch probe (the operator's whole point)."""
    key = ("dedup_index", sf_dir)
    art = _INDEX_CACHE.get(key)
    if art is None:
        from inputlayer_spark.operators.dedup import build_dedup_index

        docs = _load(spark, sf_dir, "documents")["documents"]
        corpus = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
        h, b, a = build_dedup_index(corpus, "doc_id", "text", 64, 16, 2)
        art = (
            h.localCheckpoint(eager=True),
            b.localCheckpoint(eager=True),
            a.localCheckpoint(eager=True),
        )
        _INDEX_CACHE[key] = art
    return art


def q_incremental_dedup_indexed(spark, sf_dir):
    """The persisted-index formulation of the same cross-snapshot
    dedup (operators/dedup.incremental_dedup_indexed): the corpus side
    enters ONLY through its index artifacts (md5 hashes, MinHash band
    rows, shingle arrays — build_dedup_index, cached per sf_dir like
    the ANN index artifacts), so per-batch work is O(batch +
    candidates). Same split, same parameters, same oracle as
    `incremental_dedup` — the two formulations are equivalent by
    construction (corpus-corpus pairs can't dominate a batch row)."""
    from inputlayer_spark.operators.dedup import incremental_dedup_indexed

    docs = _load(spark, sf_dir, "documents")["documents"]
    batch = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    h, b, a = _dedup_index_art(spark, sf_dir)
    surv, _, _, _ = incremental_dedup_indexed(
        batch, h, b, a, "doc_id", "text", num_perm=64, bands=16, shingle_n=2
    )
    return surv


# =====================================================================
# driver contract
# =====================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 3-way join + computed revenue + aggregation via the IQL
    engine on sf0.001."""
    tune_session(spark)
    return q_threeway_join_arith(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "scan_filter": q_scan_filter,
        "join_two_way": q_join_two_way,
        "threeway_join_arith": q_threeway_join_arith,
        "antijoin": q_antijoin,
        # rotation wave 4 (r10, second session): c4_clean — the
        # Raffel et al. cleaning battery — takes semijoin's slot
        # (the direct dual of the retained antijoin, green since r2;
        # moves below the window, repo-oracled)
        "c4_clean": q_c4_clean,
        "agg_pricing_summary": q_agg_pricing_summary,
        # rotation wave 6 (r13, VERDICT r12 #4): media_features — the
        # multimodal surface faces the driver oracle for the first
        # time — takes count_distinct's slot (a single-agg twin of the
        # retained agg_pricing_summary, green since r2; moves below
        # the window, repo-oracled)
        "media_features": q_media_features,
        "topk_per_group": q_topk_per_group,
        # rotation wave 6 (r13): semijoin returns in-window (it left in
        # wave 4; the driver oracle has never checked THIS formulation)
        # in union_clauses' slot (green since r2, repo-oracled below)
        "semijoin": q_semijoin,
        "shared_subplan": q_shared_subplan,
        "theta_join": q_theta_join,
        # rotation wave 5 (r12, VERDICT r11 #1): the three r11 rows move
        # INTO the driver's 50-row correctness window so the round's new
        # work faces the independent oracle harness; the displaced rows
        # (order_limit_offset, string_funcs, type_conversion — unchanged
        # for 5+ rounds, full repo-side oracle parity) move below.
        "bpe_encode": q_bpe_encode,
        "lm_score_skewed": q_lm_score_skewed,
        "math_funcs": q_math_funcs,
        "incremental_dedup_indexed": q_incremental_dedup_indexed,
        "minhash_lsh": q_minhash_lsh,
        "asof_join": q_asof_join,
        "embedding_dedup": q_embedding_dedup,
        "pack_sequences": q_pack_sequences,
        "transitive_closure": q_transitive_closure,
        "dedup_lines": q_dedup_lines,
        "sessionize": q_sessionize,
        "transitive_closure_anchor": q_transitive_closure_anchor,
        "incr_agg_delta": q_incr_agg_delta,
        "incr_recursive_delta": q_incr_recursive_delta,
        "reach_bound": q_reach_bound,
        "chunk_documents": q_chunk_documents,
        "shortest_path": q_shortest_path,
        "same_generation": q_same_generation,
        # rotation wave 4 (r10, second session): web_pipeline — the
        # cleaning-trilogy composition (normalize -> c4 -> gopher ->
        # survivors -> per-source rollup) — upgrades the v1
        # curation_pipeline slot (v1 moves below the window,
        # repo-oracled; same composition-proof role, older stages)
        "web_pipeline": q_web_pipeline,
        "knn_cosine": q_knn_cosine,
        # rotation wave 3 (r10): the six NEW pipeline operators (plus
        # lm_score/source_filter below) take driver-window slots; the
        # displaced family twins (pairwise_cosine, vector_norms,
        # quantize_roundtrip, int8_distances, within_radius — its IQL
        # twin stays repo-oracled too — knn_join, temporal_arith,
        # time_decay_sum) all keep full repo-side oracle parity
        "substring_dedup": q_substring_dedup,
        "dsir_weights": q_dsir_weights,
        "bm25_search": q_bm25_search,
        "semantic_dedup": q_semantic_dedup,
        "knn_lsh": q_knn_lsh,
        "dedup_survivors": q_dedup_survivors,
        "hnsw_knn": q_hnsw_knn,
        # rotation wave 6 (r13): curation_pipeline — the v1 composed
        # pipeline, never driver-checked — takes gopher_repetition's
        # slot (the §A.1.2 companion whose twin gopher_quality stays
        # in-window; moves below, repo-oracled, green r10-r12)
        "curation_pipeline": q_curation_pipeline,
        "ivf_knn": q_ivf_knn,
        "recent_events": q_recent_events,
        # rotation wave 3b: gopher_quality + bpe_merges take the
        # temporal twins' slots (temporal_arith, time_decay_sum move
        # below the window, repo-oracled like every displaced row)
        "gopher_quality": q_gopher_quality,
        "bpe_merges": q_bpe_merges,
        "contamination": q_contamination,
        "incremental_dedup": q_incremental_dedup,
        "quality_lang": q_quality_lang,
        # rotation wave 4 (r10, second session): normalize_text — the
        # pre-dedup canonicalization pass — takes doc_fingerprint's
        # slot (a 1-perm MinHash twin of the quality_lang signal family;
        # moves below the window, repo-oracled)
        "normalize_text": q_normalize_text,
        "tfidf": q_tfidf,
        "lm_score": q_lm_score,
        "source_filter": q_source_filter,
        "image_probe": q_image_probe,
        "topic_clusters": q_topic_clusters,
        "vocabulary": q_vocabulary,
        "compression_signal": q_compression_signal,
        "same_generation_bound": q_same_generation_bound,
        "token_stats": q_token_stats,
        "temporal_arith": q_temporal_arith,
        "time_decay_sum": q_time_decay_sum,
        "pairwise_cosine": q_pairwise_cosine,
        "vector_norms": q_vector_norms,
        "quantize_roundtrip": q_quantize_roundtrip,
        "int8_distances": q_int8_distances,
        "within_radius": q_within_radius,
        "knn_join": q_knn_join,
        "hash_sample": q_hash_sample,
        "train_val_test_split": q_train_val_test_split,
        "weighted_sample": q_weighted_sample,
        "cap_per_group": q_cap_per_group,
        "reach_bound_large": q_reach_bound_large,
        "within_radius_iql": q_within_radius_iql,
        "transitive_closure_large": q_transitive_closure_large,
        "quality_percentiles": q_quality_percentiles,
        "embedding_dedup_bucketed": q_embedding_dedup_bucketed,
        "global_shuffle": q_global_shuffle,
        "rebalance_mixture": q_rebalance_mixture,
        "transitive_closure_distributed": q_transitive_closure_distributed,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "knn_lsh_selective": q_knn_lsh_selective,
        "topk_threshold": q_topk_threshold,
        "simhash": q_simhash,
        "repetition": q_repetition,
        "interval_overlaps": q_interval_overlaps,
        "pii_scrub": q_pii_scrub,
        "hnsw_knn_sharded": q_hnsw_knn_sharded,
        "doc_fingerprint": q_doc_fingerprint,
        # rotation wave 6 (r13): displaced by media_features / semijoin
        # / curation_pipeline now in-window (all three green for 5+
        # rounds, repo-oracled like every displaced row)
        "count_distinct": q_count_distinct,
        "union_clauses": q_union_clauses,
        "gopher_repetition": q_gopher_repetition,
        # rotation wave 5 (r12): displaced by the r11 rows now in-window
        # (all three unchanged for 5+ rounds, repo-oracled like every
        # displaced row)
        "order_limit_offset": q_order_limit_offset,
        "string_funcs": q_string_funcs,
        "type_conversion": q_type_conversion,
    }


# ---------------------------------------------------------------- oracles

_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9'']+'), x -> x <> '')"
)

_SHINGLES2 = (
    f"list_transform(range(1, greatest(len({_TOKS}) - 1, 1) + 1), "
    f"i -> array_to_string(({_TOKS})[i:i+1], ' '))"
)

_SHINGLES3 = (
    f"list_transform(range(1, greatest(len({_TOKS}) - 2, 1) + 1), "
    f"i -> array_to_string(({_TOKS})[i:i+2], ' '))"
)

# Shared CTE chain: exact 2-gram-Jaccard pair graph (threshold 0.08 —
# below ~0.06 this corpus collapses into one giant component and the
# clustering check degenerates; 0.08 yields 63 clusters of size 1-11,
# doc_id < 100) -> recursive reachability -> per-doc min-label cluster.
# Used by both the `dedup_clusters` and `dedup_survivors` oracles.
_CLUSTERS_CTES = (
    "sh AS (SELECT doc_id, unnest(list_distinct("
    + _SHINGLES2
    + ")) AS s FROM documents WHERE doc_id < 100), "
    "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
    "p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared "
    "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id "
    "  GROUP BY a.doc_id, b.doc_id), "
    "pairs AS (SELECT p.id1, p.id2 FROM p "
    "  JOIN sz s1 ON s1.doc_id = p.id1 JOIN sz s2 ON s2.doc_id = p.id2 "
    "  WHERE p.shared::DOUBLE / (s1.n + s2.n - p.shared) >= 0.08), "
    "sym AS (SELECT id1 AS a, id2 AS b FROM pairs "
    "  UNION SELECT id2, id1 FROM pairs), "
    "nodes AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 100), "
    "reach AS (WITH RECURSIVE r(src, dst) AS ("
    "  SELECT doc_id, doc_id FROM nodes "
    "  UNION "
    "  SELECT r.src, sym.b FROM r JOIN sym ON sym.a = r.dst) "
    "  SELECT src, dst FROM r), "
    "cl AS (SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id "
    "  FROM reach GROUP BY src)"
)

_MD5_32 = "('0x' || substr(md5({x}), 1, 8))::BIGINT"

_SW_LIST = "['the','and','is','in','to','of','a','that','it','for']"

_SW_RATIO = (
    f"case when len({_TOKS}) = 0 then 0.0 else "
    f"len(list_filter({_TOKS}, x -> list_contains({_SW_LIST}, x)))::DOUBLE / len({_TOKS}) end"
)

_PUNCT_RATIO = (
    "case when length(text) = 0 then 0.0 else "
    "(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE "
    "/ length(text) end"
)

_MEAN_WLEN = (
    f"case when len({_TOKS}) = 0 then 0.0 else "
    f"list_sum(list_transform({_TOKS}, x -> length(x)))::DOUBLE / len({_TOKS}) end"
)

_NORM = "sqrt(list_sum(list_transform({v}, x -> x::DOUBLE * x::DOUBLE)))"

_DOTQ = (
    "list_sum(list_transform(range(1, 65), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)


def _cos_dist(a: str, b: str) -> str:
    # similarity clamped to [-1, 1] before the subtraction, matching the
    # engine (and the reference, vector_ops.rs:164) — self-distance is an
    # exact 0.0 on both sides instead of a ±1-ulp residue
    sim = (
        f"({_DOTQ.format(a=a, b=b)}) / ({_NORM.format(v=a)}) / ({_NORM.format(v=b)})"
    )
    return f"(1.0 - greatest(-1.0, least(1.0, {sim})))"


def _eu_dist(a: str, b: str) -> str:
    return (
        "sqrt(list_sum(list_transform(range(1, 65), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE))))"
    )


def _simhash_sql() -> str:
    votes = []
    for b in range(32):
        bit = 1 << b
        votes.append(
            f"case when 2 * len(list_filter(sh, s -> ({_MD5_32.format(x='s')} & {bit}) != 0)) "
            f">= len(sh) then {bit}::BIGINT else 0 end"
        )
    total = " + ".join(votes)
    return (
        f"WITH shingled AS (SELECT doc_id, {_SHINGLES2} AS sh FROM documents) "
        f"SELECT doc_id, ({total}) AS simhash FROM shingled"
    )


def _bpe_oracle_sql(n_merges: int = 6, min_pair: int = 2) -> str:
    """Unrolled-CTE DuckDB replica of operators/bpe.bpe_merges: the
    double-sentinel (chr(1)) symbol-string encoding makes each merge a
    LITERAL left-to-right replace — identical semantics in DuckDB's
    replace() and Java's — so every round is: pair-count aggregate,
    (n DESC, a, b LIMIT 1) argmax as scalar subqueries, conditional
    replace. After an early stop the vocab is unchanged, so later
    rounds recompute the same sub-threshold pair and the WHERE filters
    them — exactly the engine's break."""
    ctes, selects, _ = _bpe_ctes(n_merges, min_pair)
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)


def _bpe_ctes(n_merges: int, min_pair: int):
    """Shared CTE chain for the BPE training + encode oracles. The
    word-count table carries the word itself through every round, so
    v{n} IS the encoded vocabulary (word -> final symbol string) —
    exactly what bpe_encode's rank-ordered replace chain produces."""
    s1 = "chr(1)"
    s2 = "chr(1)||chr(1)"
    ctes = [
        "v0 AS MATERIALIZED (SELECT w, count(*) AS cnt, "
        f"{s2}||regexp_replace(w, '(.)', '\\1'||{s2}, 'g') AS s "
        f"FROM (SELECT unnest({_TOKS}) AS w FROM documents) GROUP BY w)"
    ]
    selects = []
    for r in range(n_merges):
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT y[i] AS a, y[i+1] AS b, sum(cnt) AS n "
            f"FROM (SELECT cnt, list_filter(string_split(s, {s1}), x -> x <> '') AS y "
            f"FROM v{r}), unnest(range(1, greatest(len(y) - 1, 0) + 1)) AS t(i) "
            "GROUP BY y[i], y[i+1])"
        )
        ctes.append(
            f"t{r} AS MATERIALIZED (SELECT a, b, n FROM p{r} ORDER BY n DESC, a ASC, b ASC LIMIT 1)"
        )
        ctes.append(
            f"v{r + 1} AS MATERIALIZED (SELECT w, cnt, CASE WHEN (SELECT n FROM t{r}) >= {min_pair} "
            f"THEN replace(s, {s1}||(SELECT a FROM t{r})||{s2}||(SELECT b FROM t{r})||{s1}, "
            f"{s1}||(SELECT a FROM t{r})||(SELECT b FROM t{r})||{s1}) "
            f"ELSE s END AS s FROM v{r})"
        )
        selects.append(
            f"SELECT {r} AS merge_rank, a AS lhs, b AS rhs, a||b AS merged, "
            # DuckDB sum() yields HUGEINT (arrow decimal128) — cast to
            # BIGINT so the driver's type-sensitive value hash matches the
            # engine's LongType counts (r10 adjudication: values identical)
            f"n::BIGINT AS pair_count FROM t{r} WHERE n >= {min_pair}"
        )
    return ctes, selects, f"v{n_merges}"


def _bpe_encode_oracle_sql(n_merges: int = 6, min_pair: int = 2) -> str:
    """DuckDB replica of operators/bpe.bpe_encode applied to the corpus
    after training n_merges rounds: the final v{n} CTE already holds
    each distinct word's post-merge symbol string (the training chain
    applies the identical rank-ordered literal replaces bpe_encode
    builds into its plan), so encoding is a straight projection."""
    ctes, _, vfinal = _bpe_ctes(n_merges, min_pair)
    s1 = "chr(1)"
    return (
        "WITH " + ", ".join(ctes) + " "
        f"SELECT w AS token, "
        f"array_to_string(list_filter(string_split(s, {s1}), x -> x <> ''), ' ') AS piece_str, "
        f"len(list_filter(string_split(s, {s1}), x -> x <> ''))::INT AS n_pieces, "
        f"cnt::BIGINT AS n_occurrences FROM {vfinal}"
    )


def _gopher_repetition_oracle_sql() -> str:
    """Gopher §A.1.2 repetition battery, list-native DuckDB twin of
    functions/text.gopher_repetition_flags. Layered CTEs mirror the
    engine's select stages (tokens/segments -> n-gram arrays ->
    duplicated-value sets -> positional flags -> metrics); every
    fraction is the identical single division rounded to 6dp BEFORE the
    threshold comparison, so boolean boundaries agree bit-for-bit.
    The oracle's per-doc lambda scans are O(len^2) where the engine's
    sorted-adjacency pass is O(len log len) — fine at oracle SFs."""
    toks_expr = (
        "list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9'']+'), "
        "x -> x <> '')"
    )

    def segs(sep_regex: str) -> str:
        # full-whitespace edge-trim, mirroring _sorted_nonempty_segments
        return (
            "list_sort(list_filter(list_transform(string_split_regex(text, "
            f"'{sep_regex}'), s -> regexp_replace(s, '^\\s+|\\s+$', '', 'g')), "
            "s -> s <> ''))"
        )

    def seg_stats(col: str):
        n = f"len({col})"
        dup_occ = f"len(list_filter(range(2, {n} + 1), i -> {col}[i] = {col}[i-1]))"
        dup_chars = (
            f"coalesce(list_sum(list_transform(range(2, {n} + 1), "
            f"i -> CASE WHEN {col}[i] = {col}[i-1] THEN length({col}[i]) "
            "ELSE 0 END)), 0)"
        )
        total = f"coalesce(list_sum(list_transform({col}, x -> length(x))), 0)"
        return n, dup_occ, dup_chars, total

    def frac6(num: str, den: str) -> str:
        return (
            f"CASE WHEN {den} = 0 THEN 0.0 "
            f"ELSE round(({num})::DOUBLE / ({den})::DOUBLE, 6) END"
        )

    ns_top = ((2, 0.20), (3, 0.18), (4, 0.16))
    ns_dup = ((5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10))
    all_n = sorted({n for n, _ in ns_top} | {n for n, _ in ns_dup})
    gram_defs = ", ".join(
        f"CASE WHEN len(toks) >= {n} THEN list_transform("
        f"range(1, len(toks) - {n} + 2), "
        f"i -> array_to_string(toks[i:i+{n - 1}], ' ')) ELSE [] END AS g{n}"
        for n in all_n
    )
    dv_defs = ", ".join(
        f"list_filter(list_distinct(g{n}), "
        f"x -> len(list_filter(g{n}, y -> y = x)) >= 2) AS dv{n}"
        for n, _ in ns_dup
    )
    f_defs = ", ".join(
        f"list_transform(g{n}, x -> list_contains(dv{n}, x)) AS f{n}"
        for n, _ in ns_dup
    )
    nl, lo, lc, lt = seg_stats("lines")
    np_, po, pc, pt = seg_stats("paras")
    tokchars = "coalesce(list_sum(list_transform(toks, x -> length(x))), 0)"
    metrics = [
        f"{frac6(lo, nl)} AS dup_line_frac",
        f"{frac6(lc, lt)} AS dup_line_char_frac",
        f"{frac6(po, np_)} AS dup_para_frac",
        f"{frac6(pc, pt)} AS dup_para_char_frac",
    ]
    for n, _ in ns_top:
        best = (
            f"coalesce(list_max(list_transform(list_distinct(g{n}), "
            f"x -> len(list_filter(g{n}, y -> y = x)) * (length(x) - {n - 1}))), 0)"
        )
        metrics.append(f"{frac6(best, 'tc')} AS top_{n}gram_char_frac")
    for n, _ in ns_dup:
        cov = (
            "coalesce(list_sum(list_transform(range(1, len(toks) + 1), "
            f"j -> CASE WHEN len(list_filter("
            f"f{n}[greatest(j - {n - 1}, 1):least(j, len(f{n}))], b -> b)) > 0 "
            "THEN length(toks[j]) ELSE 0 END)), 0)"
        )
        metrics.append(f"{frac6(cov, 'tc')} AS dup_{n}gram_char_frac")
    gates = [
        "dup_line_frac <= 0.30",
        "dup_line_char_frac <= 0.20",
        "dup_para_frac <= 0.30",
        "dup_para_char_frac <= 0.20",
    ]
    gates += [f"top_{n}gram_char_frac <= {thr}" for n, thr in ns_top]
    gates += [f"dup_{n}gram_char_frac <= {thr}" for n, thr in ns_dup]
    # the driver query's deterministic repetition augmentation, verbatim
    src = (
        "(SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN "
        "text || chr(10) || substr(text,1,60) || chr(10) || substr(text,1,60) "
        "|| chr(10) || chr(10) || substr(text,61,50) "
        "|| chr(10) || chr(10) || substr(text,61,50) "
        "ELSE text END AS text FROM documents)"
    )
    return (
        f"WITH t0 AS (SELECT doc_id, coalesce(text, '') AS text FROM {src}), "
        f"t AS (SELECT doc_id, coalesce({toks_expr}, []) AS toks, "
        f"{segs(chr(92) + 'n')} AS lines, "
        f"{segs(chr(92) + 'n' + chr(92) + 'n')} AS paras FROM t0), "
        f"g AS (SELECT *, {gram_defs} FROM t), "
        f"dv AS (SELECT *, {dv_defs} FROM g), "
        f"fl AS (SELECT *, {f_defs}, {tokchars} AS tc FROM dv), "
        f"m AS (SELECT doc_id, {', '.join(metrics)} FROM fl) "
        f"SELECT *, ({' AND '.join(gates)}) AS passes FROM m"
    )


def _norm_chain_sql(col: str = "text") -> str:
    """normalize_text's exact chain in DuckDB: line-ending + C0 strip
    BEFORE nfc_normalize (mirroring the engine's ADVICE-r10 reorder — a
    control char between base and combining mark blocks composition),
    then the whitespace canonicalization regexps."""
    return (
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "nfc_normalize("
        "regexp_replace(regexp_replace("
        f"coalesce({col}, ''), "
        "'\\r\\n|\\r', chr(10), 'g'), "
        "'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')"
        "), "
        "'[ \\t]+', ' ', 'g'), "
        "' *\\n *', chr(10), 'g'), "
        "'\\n{3,}', chr(10) || chr(10), 'g'), "
        "'^\\s+|\\s+$', '', 'g')"
    )


def _web_pipeline_oracle_sql() -> str:
    """Cleaning-trilogy composition oracle: the validated sub-chains
    (normalize_text's nfc+regexp chain, c4_clean's line/page filters,
    gopher_quality's gates, md5 survivor selection) assembled into one
    CTE pipeline in the exact stage order of q_web_pipeline."""
    norm_chain = _norm_chain_sql("text")
    toks_of = (
        "list_filter(string_split_regex(lower(trim({x})), '[^a-z0-9'']+'), "
        "t -> t <> '')"
    )
    return (
        "WITH t0 AS (SELECT doc_id, source, text || CASE WHEN doc_id % 2 = 0 "
        f"THEN {_duck_str(_MESS_EVEN)} ELSE {_duck_str(_MESS_ODD)} END AS text "
        "FROM documents), "
        f"nn AS (SELECT doc_id, source, {norm_chain} AS norm_text FROM t0), "
        "sg AS (SELECT doc_id, source, "
        "regexp_replace(regexp_replace(norm_text, ' the ', '.' || chr(10), 'g'), "
        "' a ', chr(10), 'g') || '.' AS text FROM nn), "
        # c4 stage whitespace: the explicit ASCII class shared with
        # functions/text.c4_clean (ADVICE r11) — \x0B can't survive the
        # upstream norm chain's C0 strip, but keeping the class literal
        # identical at every c4 site is the contract
        "b AS (SELECT doc_id, source, coalesce(text, '') AS txt, "
        "list_filter(list_transform(string_split_regex(coalesce(text, ''), "
        "'\\n'), s -> regexp_replace(s, '^[ \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+$', '', 'g')), s -> s <> '') AS lines FROM sg), "
        "k AS (SELECT doc_id, source, txt, list_filter(lines, s -> "
        "regexp_matches(s, '[.!?]\"?$') "
        "AND len(list_filter(string_split_regex(s, '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '')) >= 3 "
        "AND NOT regexp_matches(lower(s), "
        "'(^|[^a-z0-9])javascript([^a-z0-9]|$)')) AS kept FROM b), "
        "c AS (SELECT doc_id, source, txt, "
        "coalesce(array_to_string(kept, chr(10)), '') AS clean_text FROM k), "
        "pg AS (SELECT doc_id, source, clean_text FROM c WHERE "
        "len(list_filter(list_transform(string_split_regex(clean_text, "
        "'[.!?]'), s -> regexp_replace(s, '^[ \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+$', '', 'g')), s -> s <> '')) >= 2 "
        "AND NOT contains(lower(txt), 'lorem ipsum') "
        "AND NOT (contains(txt, '{') OR contains(txt, '}'))), "
        f"gt AS (SELECT doc_id, source, clean_text, "
        f"coalesce({toks_of.format(x='clean_text')}, []) AS toks FROM pg), "
        "gq AS (SELECT doc_id, source, clean_text, toks, len(toks) AS n, "
        "CASE WHEN len(toks) = 0 THEN 0.0 ELSE "
        "list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) "
        "END AS ml, "
        "(length(clean_text) - length(regexp_replace(clean_text, '#', '', 'g')) "
        "+ (length(clean_text) - length(regexp_replace(clean_text, "
        "'\\.\\.\\.', '', 'g'))) / 3) AS sym, "
        "len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha, "
        f"len(list_filter(list_distinct(toks), x -> list_contains({_SW_LIST}, x))) "
        "AS sw FROM gt), "
        "kk AS (SELECT doc_id, source, clean_text, toks FROM gq WHERE "
        "n >= 20 AND n <= 100000 AND ml >= 3.0 AND ml <= 10.0 "
        "AND (CASE WHEN n = 0 THEN 0.0 ELSE sym::DOUBLE / n END < 0.1) "
        "AND (CASE WHEN n = 0 THEN 0.0 ELSE alpha::DOUBLE / n END >= 0.8) "
        "AND sw >= 1), "
        "surv AS (SELECT md5(clean_text) AS h, min(doc_id) AS doc_id, "
        "arg_min(source, doc_id) AS source, min(len(toks)) AS n_tok "
        "FROM kk GROUP BY 1) "
        "SELECT source, count(*)::BIGINT AS n_docs, "
        "sum(n_tok)::BIGINT AS n_tokens "
        "FROM surv GROUP BY source"
    )


def oracle_sql() -> dict[str, str]:
    # literal query vector as a CTE column — DuckDB forbids subqueries
    # inside list lambdas
    qv_cte = "WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0) "
    out = {
        "scan_filter": (
            "SELECT DISTINCT l_orderkey, l_linenumber, l_quantity AS qty "
            "FROM lineitem WHERE l_quantity > 45.0"
        ),
        "join_two_way": (
            "SELECT DISTINCT c.c_custkey, o.o_orderkey, o.o_totalprice "
            "FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey "
            "WHERE c.c_mktsegment = 'BUILDING'"
        ),
        # IQL `sum<X>` casts each value to i64 (truncate-toward-zero,
        # saturating — reference value/mod.rs:353 to_i64) and sums; the
        # oracle mirrors that documented semantics.
        # DuckDB sum(BIGINT) widens to HUGEINT (-> float64 in pandas) while
        # Spark keeps int64; cast back so both sides hash as integers.
        "threeway_join_arith": (
            "SELECT c_custkey, CAST(sum(CAST(TRUNC(r) AS BIGINT)) AS BIGINT) AS revenue, "
            "count(*) AS n_items FROM ("
            "  SELECT DISTINCT c.c_custkey, o.o_orderkey, l.l_linenumber, "
            "         l.l_extendedprice, l.l_discount, "
            "         l.l_extendedprice * (1.0 - l.l_discount) AS r "
            "  FROM customer c "
            "  JOIN orders o ON o.o_custkey = c.c_custkey "
            "  JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "  WHERE c.c_mktsegment = 'AUTOMOBILE') GROUP BY c_custkey"
        ),
        "antijoin": (
            "SELECT c_custkey FROM customer WHERE c_custkey NOT IN "
            "(SELECT o_custkey FROM orders)"
        ),
        "semijoin": (
            "SELECT DISTINCT c.c_custkey FROM customer c "
            "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
            "AND o.o_totalprice > 400000.0)"
        ),
        "agg_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(sum(CAST(TRUNC(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, "
            "CAST(sum(CAST(TRUNC(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price, "
            "CAST(avg(l_discount) AS REAL) AS avg_disc, "
            "count(*) AS n_rows FROM lineitem GROUP BY l_returnflag, l_linestatus"
        ),
        "count_distinct": (
            "SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust "
            "FROM orders GROUP BY o_orderpriority"
        ),
        "topk_per_group": (
            "SELECT c_nationkey, c_custkey, c_acctbal FROM ("
            "  SELECT c_nationkey, c_custkey, c_acctbal, "
            "  row_number() OVER (PARTITION BY c_nationkey "
            "    ORDER BY c_acctbal DESC, c_custkey ASC) AS rn FROM customer) "
            "WHERE rn <= 3"
        ),
        "union_clauses": (
            "SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0 "
            "UNION SELECT s_nationkey FROM supplier"
        ),
        "shared_subplan": (
            "SELECT DISTINCT n.n_name AS nation_name, c.c_name AS cust_name "
            "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE c.c_acctbal > 7000.0 OR c.c_acctbal < 100.0"
        ),
        "theta_join": (
            "SELECT DISTINCT c.c_custkey, s.s_suppkey FROM customer c "
            "JOIN supplier s ON s.s_nationkey = c.c_nationkey "
            "WHERE c.c_acctbal > s.s_acctbal"
        ),
        "order_limit_offset": (
            "SELECT o_totalprice, o_orderkey FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 5"
        ),
        "string_funcs": (
            "SELECT DISTINCT p_partkey, upper(p_name) AS upper_name, "
            "lower(p_brand) AS lower_brand, substr(p_name, 1, 5) AS name5, "
            "length(p_name)::BIGINT AS name_len, "
            "p_brand || '-' || replace(p_name, ' ', '_') AS tagged FROM part"
        ),
        "math_funcs": (
            "SELECT DISTINCT l_orderkey, l_linenumber, sqrt(l_quantity) AS sqrt_qty, "
            "pow(l_discount, 2.0) AS disc_sq, ln(l_extendedprice) AS ln_price, "
            "floor(l_quantity)::BIGINT AS floor_qty, ceil(l_discount)::BIGINT AS ceil_disc, "
            "sign(l_quantity - 40.0)::DOUBLE AS sign_dev, abs(l_quantity - 40.0) AS abs_dev "
            "FROM lineitem WHERE l_quantity > 30.0"
        ),
        "type_conversion": (
            "SELECT DISTINCT s_suppkey, trunc(s_acctbal)::BIGINT AS bal_int, "
            "s_nationkey::DOUBLE AS nation_f, least(s_acctbal, 5000.0) AS bal_capped, "
            "greatest(s_acctbal, 5000.0) AS bal_floored FROM supplier"
        ),
        "topk_threshold": (
            "SELECT c_nationkey, c_custkey, c_acctbal FROM ("
            "  SELECT c_nationkey, c_custkey, c_acctbal, "
            "  row_number() OVER (PARTITION BY c_nationkey "
            "    ORDER BY c_acctbal DESC, c_custkey ASC) AS rn FROM customer) "
            "WHERE rn <= 3 AND c_acctbal >= 5000.0"
        ),
        "within_radius_iql": (
            "SELECT c_custkey, abs(c_acctbal) AS abs_bal FROM customer "
            "WHERE abs(c_acctbal) <= 100.0"
        ),
        "embedding_dedup": (
            "SELECT a.vec_id AS id1, b.vec_id AS id2, "
            f"(1.0 - ({_cos_dist('a.embedding', 'b.embedding')})) AS cos_sim "
            "FROM embeddings a, embeddings b "
            "WHERE a.vec_id < 200 AND b.vec_id < 200 AND a.vec_id < b.vec_id "
            f"AND (1.0 - ({_cos_dist('a.embedding', 'b.embedding')})) >= 0.35"
        ),
        # bucketed mode verified against the SAME exact-pairs oracle:
        # candidate recall is 1.0 at this corpus/threshold (measured at
        # sf0.001 and sf0.01), so output equality checks the bucketed
        # candidate generation + exact filter end-to-end
        "embedding_dedup_bucketed": (
            "SELECT a.vec_id AS id1, b.vec_id AS id2, "
            f"(1.0 - ({_cos_dist('a.embedding', 'b.embedding')})) AS cos_sim "
            "FROM embeddings a, embeddings b "
            "WHERE a.vec_id < 200 AND b.vec_id < 200 AND a.vec_id < b.vec_id "
            f"AND (1.0 - ({_cos_dist('a.embedding', 'b.embedding')})) >= 0.35"
        ),
        # same-generation on the 511-node tree (correctness SFs are
        # under the 100k-order threshold, so N=511 on both engines)
        "same_generation": (
            "WITH RECURSIVE edge AS ("
            "  SELECT DISTINCT ((i - 1) // 2) AS src, i AS dst FROM ("
            "    SELECT o_orderkey % 511 AS i FROM orders) WHERE i >= 1), "
            "sg(x, y) AS ("
            "  SELECT e1.dst, e2.dst FROM edge e1 JOIN edge e2"
            "    ON e1.src = e2.src "
            "  UNION "
            "  SELECT e1.dst, e2.dst FROM sg"
            "    JOIN edge e1 ON e1.src = sg.x"
            "    JOIN edge e2 ON e2.src = sg.y) "
            "SELECT x, y FROM sg"
        ),
        "same_generation_bound": (
            "WITH RECURSIVE edge AS ("
            "  SELECT DISTINCT ((i - 1) // 2) AS src, i AS dst FROM ("
            "    SELECT o_orderkey % 511 AS i FROM orders) WHERE i >= 1), "
            "sg(x, y) AS ("
            "  SELECT e1.dst, e2.dst FROM edge e1 JOIN edge e2"
            "    ON e1.src = e2.src "
            "  UNION "
            "  SELECT e1.dst, e2.dst FROM sg"
            "    JOIN edge e1 ON e1.src = sg.x"
            "    JOIN edge e2 ON e2.src = sg.y) "
            "SELECT y FROM sg WHERE x = 5"
        ),
        # incremental maintenance oracles: DuckDB computes the FINAL
        # state from scratch; the Spark side reached it by O(delta)
        # merge / semi-naive insert / DRed delete on a pinned view
        "incr_agg_delta": (
            "WITH base AS ("
            "  SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
            "  UNION ALL"
            "  SELECT * FROM (VALUES (90000001, 1, 111.5),"
            "                        (90000002, 2, 222.25))"
            "         v(o_orderkey, o_custkey, o_totalprice)"
            "), final AS ("
            "  SELECT * FROM base"
            "  WHERE NOT (o_custkey = 3 AND o_totalprice < 100000.0)"
            ") "
            "SELECT o_custkey AS c_custkey, count(*) AS n_orders, "
            "CAST(sum(CAST(TRUNC(o_totalprice) AS BIGINT)) AS BIGINT)"
            " AS total_trunc "
            "FROM final GROUP BY o_custkey"
        ),
        "incr_recursive_delta": (
            f"WITH RECURSIVE edge0 AS ({_EDGE_SQL.format(m=60)}), "
            "edge AS ("
            "  SELECT src, dst FROM ("
            "    SELECT src, dst FROM edge0 UNION SELECT 0, 59) "
            "  WHERE NOT (src = 1 AND dst = 2)), "
            "reach(src, dst) AS ("
            "  SELECT src, dst FROM edge "
            "  UNION "
            "  SELECT e.src, r.dst FROM edge e JOIN reach r ON r.src = e.dst) "
            "SELECT src, dst FROM reach"
        ),
        "transitive_closure": (
            f"WITH RECURSIVE edge AS ({_EDGE_SQL.format(m=60)}), "
            "reach(src, dst) AS ("
            "  SELECT src, dst FROM edge "
            "  UNION "
            "  SELECT e.src, r.dst FROM edge e JOIN reach r ON r.src = e.dst) "
            "SELECT src, dst FROM reach"
        ),
        # same fixpoint, computed by the forced-distributed doubling
        # loop on the Spark side — the oracle doesn't change
        "transitive_closure_distributed": (
            f"WITH RECURSIVE edge AS ({_EDGE_SQL.format(m=60)}), "
            "reach(src, dst) AS ("
            "  SELECT src, dst FROM edge "
            "  UNION "
            "  SELECT e.src, r.dst FROM edge e JOIN reach r ON r.src = e.dst) "
            "SELECT src, dst FROM reach"
        ),
        # the reference's fixed anchor workload (~1M pairs): the same
        # chain+shortcut arithmetic generates the edges on both engines;
        # correctness runs at sf0.01 → the full 1400-node graph
        "transitive_closure_anchor": (
            "WITH RECURSIVE edge AS ("
            f"  SELECT DISTINCT (l*{_TC_W}+s)::BIGINT AS src, "
            f"  ((l+1)*{_TC_W} + (s*91 + l*37 + c*53) % {_TC_W})::BIGINT AS dst "
            f"  FROM range(0, {_TC_L - 1}) t(l), range(0, {_TC_W}) u(s), "
            "  range(0, 2) v(c)"
            "), "
            "reach(src, dst) AS ("
            "  SELECT src, dst FROM edge "
            "  UNION "
            "  SELECT e.src, r.dst FROM edge e JOIN reach r ON r.src = e.dst) "
            "SELECT src, dst FROM reach"
        ),
        # reference headline scale: ~275k pairs at the correctness SF,
        # ~1.05M pairs (above the driver-local cap) at the bench SF
        "transitive_closure_large": (
            f"WITH RECURSIVE edge AS ({_EDGE_SQL.format(m=1500)}), "
            "reach(src, dst) AS ("
            "  SELECT src, dst FROM edge "
            "  UNION "
            "  SELECT e.src, r.dst FROM edge e JOIN reach r ON r.src = e.dst) "
            "SELECT src, dst FROM reach"
        ),
        "reach_bound": (
            f"WITH RECURSIVE edge AS ({_EDGE_SQL.format(m=60)}), "
            "reach(dst) AS ("
            "  SELECT dst FROM edge WHERE src = 0 "
            "  UNION "
            "  SELECT e.dst FROM edge e JOIN reach r ON e.src = r.dst) "
            "SELECT dst FROM reach"
        ),
        "reach_bound_large": (
            f"WITH RECURSIVE edge AS ({_EDGE_SQL.format(m=1000)}), "
            "reach(dst) AS ("
            "  SELECT dst FROM edge WHERE src = 0 "
            "  UNION "
            "  SELECT e.dst FROM edge e JOIN reach r ON e.src = r.dst) "
            "SELECT dst FROM reach"
        ),
        "shortest_path": (
            f"WITH RECURSIVE edge AS ({_EDGE_SQL.format(m=30)}), "
            "dist(x, y, d) AS ("
            "  SELECT src, dst, (dst - src)::DOUBLE FROM edge "
            "  UNION "
            "  SELECT d.x, e.dst, d.d + (e.dst - e.src)::DOUBLE "
            "  FROM dist d JOIN edge e ON e.src = d.y) "
            "SELECT y AS dst, min(d) AS dist FROM dist WHERE x = 0 GROUP BY y"
        ),
        "knn_cosine": (
            qv_cte
            + f"SELECT vec_id, {_cos_dist('embedding', 'q')} AS cos_dist "
            "FROM embeddings, qv ORDER BY cos_dist ASC, vec_id ASC LIMIT 10"
        ),
        "within_radius": (
            qv_cte
            + f"SELECT vec_id, {_eu_dist('embedding', 'q')} AS eu_dist "
            f"FROM embeddings, qv WHERE {_eu_dist('embedding', 'q')} <= 1.2"
        ),
        "pairwise_cosine": (
            "SELECT a.vec_id AS id1, b.vec_id AS id2, "
            f"(1.0 - ({_cos_dist('a.embedding', 'b.embedding')})) AS cos_sim "
            "FROM embeddings a, embeddings b "
            "WHERE a.vec_id < 20 AND b.vec_id < 20 AND a.vec_id < b.vec_id"
        ),
        "vector_norms": (
            f"SELECT vec_id, {_NORM.format(v='embedding')} AS norm, "
            "len(embedding)::BIGINT AS dim FROM embeddings"
        ),
        "quantize_roundtrip": (
            "WITH q AS (SELECT vec_id, embedding, "
            "  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma "
            "  FROM embeddings) "
            "SELECT vec_id, list_max(list_transform(range(1, 65), i -> "
            "  abs(embedding[i]::DOUBLE - "
            "    (greatest(-127.0, least(127.0, round(embedding[i]::DOUBLE * 127.0 / ma))) "
            "     * ma / 127.0))) ) AS max_err FROM q"
        ),
        "int8_distances": (
            "WITH m AS (SELECT vec_id, embedding, "
            "  list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma "
            "  FROM embeddings), "
            "qz AS (SELECT vec_id, list_transform(embedding, x -> "
            "  greatest(-127.0, least(127.0, round(x::DOUBLE * 127.0 / ma)))) "
            "  AS qv FROM m), "
            "q0 AS (SELECT qv AS q FROM qz WHERE vec_id = 0) "
            "SELECT z.vec_id, "
            "list_sum(list_transform(range(1, 65), i -> z.qv[i] * q0.q[i])) "
            "  AS dot_i8, "
            f"{_cos_dist('z.qv', 'q0.q')} AS cos_i8, "
            "list_sum(list_transform(range(1, 65), i -> abs(z.qv[i] - q0.q[i]))) "
            "  AS man_i8 "
            "FROM qz z, q0"
        ),
        "knn_join": (
            "SELECT qid, vec_id, cos_dist, rank FROM ("
            "  SELECT q.vec_id AS qid, c.vec_id AS vec_id, "
            f"  {_cos_dist('c.embedding', 'q.embedding')} AS cos_dist, "
            "  row_number() OVER (PARTITION BY q.vec_id "
            f"    ORDER BY {_cos_dist('c.embedding', 'q.embedding')} ASC, c.vec_id ASC) AS rank "
            "  FROM embeddings q, embeddings c WHERE q.vec_id < 5) "
            "WHERE rank <= 3"
        ),
        "recent_events": (
            "SELECT event_id, epoch_ms(ts) AS ts_ms FROM events "
            "WHERE (SELECT max(epoch_ms(ts)) FROM events) - epoch_ms(ts) "
            "BETWEEN 0 AND 604800000"
        ),
        "temporal_arith": (
            "WITH ev AS (SELECT event_id, epoch_ms(ts) AS t FROM events), "
            "b AS (SELECT min(t) + 86400000 AS lo, "
            "min(t) + 86400000 + 172800000 AS hi FROM ev) "
            "SELECT event_id, t + 3600000 AS plus_1h, "
            "t - 1800000 AS minus_30m, t - b.lo AS since_lo, "
            "t - b.lo AS dur_lo_t, "
            "(t >= b.lo AND t <= b.hi) AS in_window, "
            "(b.lo <= t AND t + 3600000 <= b.hi) AS hour_fits "
            "FROM ev, b"
        ),
        "time_decay_sum": (
            "WITH n AS (SELECT max(epoch_ms(ts)) AS now FROM events) "
            "SELECT event_type, "
            "CAST(sum(CASE WHEN now - epoch_ms(ts) <= 0 THEN 1.0 "
            "    ELSE power(0.5, (now - epoch_ms(ts))::DOUBLE / 86400000.0) END) "
            "  AS REAL) AS decayed_weight, "
            "count(*) AS n FROM events, n GROUP BY event_type"
        ),
        "interval_overlaps": (
            "WITH iv AS (SELECT event_id, user_id, epoch_ms(ts) AS s, "
            "  epoch_ms(ts) + (value * 60000)::BIGINT AS e FROM events) "
            "SELECT a.user_id, count(*) AS n_overlaps "
            "FROM iv a JOIN iv b ON a.user_id = b.user_id AND a.event_id < b.event_id "
            "WHERE a.s <= b.e AND b.s <= a.e GROUP BY a.user_id"
        ),
        "token_stats": (
            f"SELECT doc_id, len({_TOKS})::BIGINT AS n_tokens, "
            f"{_SW_RATIO} AS sw_ratio, {_MEAN_WLEN} AS mean_wlen FROM documents"
        ),
        "quality_lang": (
            "SELECT doc_id, "
            f"(least(len({_TOKS})::DOUBLE / 50.0, 1.0) "
            f" + (1.0 - least({_PUNCT_RATIO} * 4.0, 1.0)) "
            f" + (CASE WHEN {_SW_RATIO} >= 0.1 AND {_SW_RATIO} <= 0.6 THEN 1.0 ELSE 0.5 END) "
            f" + (CASE WHEN {_MEAN_WLEN} >= 3.0 AND {_MEAN_WLEN} <= 10.0 THEN 1.0 ELSE 0.5 END)"
            ") / 4.0 AS quality, "
            f"CASE WHEN {_SW_RATIO} >= 0.08 THEN 'en' ELSE 'und' END AS lang_guess "
            "FROM documents"
        ),
        "doc_fingerprint": (
            f"SELECT doc_id, list_min(list_transform({_SHINGLES3}, "
            f"s -> {_MD5_32.format(x='s')})) AS fp FROM documents"
        ),
        "image_probe": (
            "SELECT doc_id, 100 + doc_id % 900 AS width, "
            "50 + doc_id % 500 AS height FROM documents"
        ),
        "hash_sample": (
            "SELECT doc_id, lang FROM documents "
            "WHERE (('0x' || substr(md5('0:' || CAST(doc_id AS VARCHAR)),"
            " 1, 8))::BIGINT % 10000) < 1000"
        ),
        "vocabulary": (
            "SELECT token, count(*) AS n FROM ("
            "  SELECT unnest(regexp_split_to_array(lower(trim(text)),"
            "         '[^a-z0-9'']+')) AS token FROM documents"
            ") WHERE token <> '' GROUP BY token HAVING count(*) >= 2 "
            "ORDER BY n DESC, token ASC LIMIT 500"
        ),
        "tfidf": (
            "WITH tok AS ("
            "  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)),"
            "         '[^a-z0-9'']+')) AS token FROM documents"
            "), tok2 AS (SELECT * FROM tok WHERE token <> ''),"
            " tf AS (SELECT doc_id, token, count(*) AS tf FROM tok2"
            "        GROUP BY doc_id, token HAVING count(*) >= 3),"
            " dfreq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok2"
            "           GROUP BY token),"
            " n AS (SELECT count(*)::DOUBLE AS n FROM documents)"
            " SELECT tf.doc_id, tf.token, tf.tf,"
            "        tf.tf::DOUBLE * ln(n.n / dfreq.df::DOUBLE) AS score"
            " FROM tf JOIN dfreq USING (token), n"
        ),
        "curation_pipeline": (
            "WITH kept AS (SELECT doc_id, text FROM documents WHERE "
            f"(least(len({_TOKS})::DOUBLE / 50.0, 1.0) "
            f" + (1.0 - least({_PUNCT_RATIO} * 4.0, 1.0)) "
            f" + (CASE WHEN {_SW_RATIO} >= 0.1 AND {_SW_RATIO} <= 0.6 THEN 1.0 ELSE 0.5 END) "
            f" + (CASE WHEN {_MEAN_WLEN} >= 3.0 AND {_MEAN_WLEN} <= 10.0 THEN 1.0 ELSE 0.5 END)"
            ") / 4.0 >= 0.6), "
            "surv AS (SELECT min(doc_id) AS doc_id, min(text) AS text "
            "         FROM kept GROUP BY md5(text)), "
            "labeled AS (SELECT text, CASE WHEN b < 9800 THEN 'train' "
            "  WHEN b < 9900 THEN 'val' ELSE 'test' END AS split FROM ("
            "  SELECT text, (('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)),"
            "  1, 8))::BIGINT % 10000) AS b FROM surv)) "
            f"SELECT split, count(*) AS n_docs, sum(len({_TOKS}))::BIGINT AS n_tokens "
            "FROM labeled GROUP BY split"
        ),
        # Deterministic k-means (k=4, 2 rounds, no RNG): DuckDB unrolls
        # the exact Lloyd iterations — init from the 4 smallest vec_ids,
        # argmin SQUARED euclidean with lowest-cid tiebreak, per-dim
        # mean update (float32 values promoted to DOUBLE on both
        # engines, so the arithmetic agrees bit-for-bit up to
        # summation order — assignments are stable far beyond that)
        "topic_clusters": (
            "WITH c0 AS ("
            "  SELECT (row_number() OVER (ORDER BY vec_id))::INT - 1 AS cid,"
            "         embedding AS c"
            "  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)"
            "), a0 AS ("
            "  SELECT vec_id, embedding, cl FROM ("
            "    SELECT e.vec_id, e.embedding, c.cid AS cl,"
            "           row_number() OVER (PARTITION BY e.vec_id ORDER BY"
            "             list_sum(list_transform(range(1, 65),"
            "               i -> (e.embedding[i]::DOUBLE - c.c[i]::DOUBLE)"
            "                  * (e.embedding[i]::DOUBLE - c.c[i]::DOUBLE)"
            "             )) ASC, c.cid ASC) AS rn"
            "    FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1"
            "), m1 AS ("
            "  SELECT cl AS cid, i AS pos, avg(embedding[i]::DOUBLE) AS m"
            "  FROM a0, range(1, 65) t(i) GROUP BY cl, i"
            "), c1 AS ("
            "  SELECT cid, list(m ORDER BY pos) AS c FROM m1 GROUP BY cid"
            "), c1f AS ("
            "  SELECT c0.cid,"
            "         COALESCE(c1.c, list_transform(c0.c, x -> x::DOUBLE)) AS c"
            "  FROM c0 LEFT JOIN c1 ON c0.cid = c1.cid"
            ") SELECT vec_id, cl AS cluster FROM ("
            "    SELECT e.vec_id, c.cid AS cl,"
            "           row_number() OVER (PARTITION BY e.vec_id ORDER BY"
            "             list_sum(list_transform(range(1, 65),"
            "               i -> (e.embedding[i]::DOUBLE - c.c[i])"
            "                  * (e.embedding[i]::DOUBLE - c.c[i])"
            "             )) ASC, c.cid ASC) AS rn"
            "    FROM embeddings e CROSS JOIN c1f c) WHERE rn = 1"
        ),
        "train_val_test_split": (
            "SELECT split, count(*) AS n_docs, sum(length(text))::BIGINT AS total_chars "
            "FROM (SELECT text, CASE "
            "WHEN b < 9800 THEN 'train' WHEN b < 9900 THEN 'val' "
            "ELSE 'test' END AS split FROM ("
            "SELECT text, (('0x' || substr(md5('11:' || CAST(doc_id AS VARCHAR)),"
            " 1, 8))::BIGINT % 10000) AS b FROM documents)) GROUP BY split"
        ),
        "weighted_sample": (
            "SELECT doc_id, least(1.0::DOUBLE, length(text)::DOUBLE / 2000.0)"
            " AS weight FROM documents "
            "WHERE (('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)),"
            " 1, 8))::BIGINT)::DOUBLE / 4294967296.0 "
            "< greatest(0.0::DOUBLE, least(1.0::DOUBLE, "
            "least(1.0::DOUBLE, length(text)::DOUBLE / 2000.0)))"
        ),
        "cap_per_group": (
            "SELECT doc_id, lang FROM ("
            "  SELECT doc_id, lang, row_number() OVER ("
            "    PARTITION BY lang ORDER BY"
            "    ('0x' || substr(md5('1:' || CAST(doc_id AS VARCHAR)),"
            " 1, 8))::BIGINT, doc_id) AS rn"
            "  FROM documents) WHERE rn <= 25"
        ),
        "chunk_documents": (
            f"WITH toked AS (SELECT doc_id, {_TOKS} AS toks FROM documents),"
            " ne AS (SELECT * FROM toked WHERE len(toks) > 0) "
            "SELECT doc_id, CAST(t.s // 12 AS BIGINT) AS chunk_id, "
            "array_to_string(toks[t.s+1:t.s+16], ' ') AS chunk, "
            "CAST(len(toks[t.s+1:t.s+16]) AS BIGINT) AS n_tokens "
            "FROM ne, unnest(range(0, len(toks), 12)) AS t(s)"
        ),
        "asof_join": (
            "WITH p AS (SELECT user_id, ts, max(value) AS purchase_value "
            "FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),"
            " c AS (SELECT event_id, user_id, ts FROM events "
            "WHERE event_type = 'click'), "
            "j AS (SELECT c.event_id, c.user_id, c.ts, p.ts AS mts, "
            "p.purchase_value AS pv FROM c ASOF LEFT JOIN p "
            "ON c.user_id = p.user_id AND c.ts >= p.ts) "
            "SELECT event_id, user_id, ts, "
            "CASE WHEN epoch(ts) - epoch(mts) <= 86400 THEN mts END "
            "AS matched_ts, "
            "CASE WHEN epoch(ts) - epoch(mts) <= 86400 THEN pv END "
            "AS purchase_value FROM j"
        ),
        "sessionize": (
            "SELECT event_id, user_id, "
            "CAST(sum(CASE WHEN gap > 3600 THEN 1 ELSE 0 END) OVER ("
            "PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
            " AS session_seq "
            "FROM (SELECT event_id, user_id, ts, epoch(ts) - "
            "lag(epoch(ts)) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS gap FROM events)"
        ),
        "quality_percentiles": (
            f"WITH q AS (SELECT lang, "
            f"(least(len({_TOKS})::DOUBLE / 50.0, 1.0) "
            f" + (1.0 - least({_PUNCT_RATIO} * 4.0, 1.0)) "
            f" + (CASE WHEN {_SW_RATIO} >= 0.1 AND {_SW_RATIO} <= 0.6 "
            f"THEN 1.0 ELSE 0.5 END) "
            f" + (CASE WHEN {_MEAN_WLEN} >= 3.0 AND {_MEAN_WLEN} <= 10.0 "
            f"THEN 1.0 ELSE 0.5 END)) / 4.0 AS quality FROM documents) "
            "SELECT lang, quantile_cont(quality, 0.25) AS p25, "
            "quantile_cont(quality, 0.5) AS p50, "
            "quantile_cont(quality, 0.75) AS p75 FROM q GROUP BY lang"
        ),
        "pack_sequences": (
            f"WITH toked AS (SELECT doc_id, {_TOKS} AS toks FROM documents),"
            " ne AS (SELECT * FROM toked WHERE len(toks) > 0), "
            "ch AS (SELECT doc_id, CAST(t.s // 12 AS BIGINT) AS chunk_id, "
            "CAST(len(toks[t.s+1:t.s+16]) AS BIGINT) AS n_tokens "
            "FROM ne, unnest(range(0, len(toks), 12)) AS t(s)), "
            "st AS (SELECT doc_id, chunk_id, n_tokens, "
            "sum(n_tokens) OVER (ORDER BY doc_id, chunk_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens"
            " AS s FROM ch) "
            "SELECT doc_id, chunk_id, CAST(s // 512 AS BIGINT) AS pack_id, "
            "CAST(s % 512 AS BIGINT) AS pack_offset FROM st"
        ),
        "global_shuffle": (
            "SELECT doc_id, CAST(row_number() OVER (ORDER BY "
            + _MD5_32.format(x="'3:' || CAST(doc_id AS VARCHAR)")
            + ", doc_id) - 1 AS BIGINT) AS shuffle_rank FROM documents"
        ),
        "rebalance_mixture": (
            "WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents"
            " GROUP BY lang), "
            "tg AS (SELECT * FROM (VALUES ('en', 0.5), ('de', 0.2), "
            "('fr', 0.2), ('es', 0.1)) t(lang, p)), "
            "tt AS (SELECT min(c.n / tg.p) AS T FROM c JOIN tg USING (lang)) "
            "SELECT d.doc_id, d.lang FROM documents d JOIN c USING (lang) "
            "JOIN tg USING (lang), tt WHERE ("
            + _MD5_32.format(x="'11:' || CAST(doc_id AS VARCHAR)")
            + ")::DOUBLE / 4294967296.0 < tg.p * tt.T / c.n"
        ),
        "dedup_lines": (
            "WITH d AS (SELECT doc_id, string_split(text, ' the ') AS ls "
            "FROM documents), "
            "lines AS (SELECT doc_id, CAST(t.p AS INT) AS pos, "
            "ls[CAST(t.p AS INT)] AS line "
            "FROM d, unnest(range(1, len(ls)+1)) AS t(p)), "
            "blk AS (SELECT line FROM (SELECT line, "
            "count(DISTINCT doc_id) AS df FROM lines GROUP BY line) "
            "WHERE df > 2), "
            "kept AS (SELECT * FROM lines WHERE line NOT IN "
            "(SELECT line FROM blk)) "
            "SELECT d.doc_id, coalesce(a.t, '') AS clean_text FROM d "
            "LEFT JOIN (SELECT doc_id, string_agg(line, ' the ' "
            "ORDER BY pos) AS t FROM kept GROUP BY doc_id) a USING (doc_id)"
        ),
        "exact_dedup": (
            "SELECT min(doc_id) AS rep_id, count(*) AS n_copies "
            "FROM documents GROUP BY md5(text)"
        ),
        "ngram_jaccard": (
            "WITH sh AS (SELECT doc_id, unnest(list_distinct("
            + _SHINGLES2
            + ")) AS s FROM documents WHERE doc_id < 100), "
            "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
            "pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared "
            "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id "
            "  GROUP BY a.doc_id, b.doc_id) "
            "SELECT p.id1, p.id2, "
            "  p.shared::DOUBLE / (s1.n + s2.n - p.shared) AS jaccard "
            "FROM pairs p JOIN sz s1 ON s1.doc_id = p.id1 "
            "JOIN sz s2 ON s2.doc_id = p.id2 "
            "WHERE p.shared::DOUBLE / (s1.n + s2.n - p.shared) >= 0.05"
        ),
        # connected components over the same pair graph: cluster_id =
        # min id reachable through near-dup links (recursive CTE on the
        # symmetric edges; singletons label themselves)
        "dedup_clusters": (
            f"WITH {_CLUSTERS_CTES} "
            "SELECT doc_id, cluster_id FROM cl"
        ),
        "dedup_survivors": (
            f"WITH {_CLUSTERS_CTES}, "
            "j AS (SELECT d.doc_id, cl.cluster_id, "
            "  CAST(length(d.text) AS BIGINT) AS n_chars "
            "  FROM documents d JOIN cl ON cl.doc_id = d.doc_id "
            "  WHERE d.doc_id < 100), "
            "w AS (SELECT doc_id FROM ("
            "  SELECT doc_id, row_number() OVER ("
            "    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC"
            "  ) AS rn FROM j) WHERE rn = 1) "
            "SELECT j.doc_id, j.cluster_id, j.n_chars "
            "FROM j JOIN w ON w.doc_id = j.doc_id"
        ),
        "simhash": _simhash_sql(),
        # repetition: duplicate-line fraction over the word-per-line
        # view + top-bigram fraction via per-doc group-count max
        "repetition": (
            "WITH lines AS (SELECT doc_id, list_filter("
            "  string_split(translate(text, ' ', chr(10)), chr(10)),"
            "  l -> trim(l) <> '') AS ls FROM documents), "
            "dl AS (SELECT doc_id, CASE WHEN len(ls) <= 0 THEN 0.0 ELSE "
            "  (len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls) END AS f "
            "FROM lines), "
            "grams AS (SELECT doc_id, unnest(" + _SHINGLES2 + ") AS g, "
            f"  len({_SHINGLES2}) AS n FROM documents), "
            "tb AS (SELECT doc_id, CASE WHEN any_value(n) <= 1 THEN 0.0 ELSE "
            "  max(cnt)::DOUBLE / any_value(n) END AS f FROM ("
            "    SELECT doc_id, n, count(*) AS cnt FROM grams "
            "    GROUP BY doc_id, n, g) GROUP BY doc_id) "
            "SELECT d.doc_id, round(dl.f, 6) AS dup_line_frac, "
            "round(tb.f, 6) AS top_bigram_frac "
            "FROM documents d JOIN dl ON dl.doc_id = d.doc_id "
            "JOIN tb ON tb.doc_id = d.doc_id"
        ),
        # contamination: same 5-gram overlap in DuckDB; shingle formula
        # mirrors _SHINGLES2's slice form for n=5
        "contamination": (
            "WITH csh AS (SELECT doc_id, unnest(list_distinct("
            f"list_transform(range(1, greatest(len({_TOKS}) - 4, 1) + 1), "
            f"i -> array_to_string(({_TOKS})[i:i+4], ' ')))) AS s "
            "FROM documents), "
            "bsh AS (SELECT doc_id AS bench_id, unnest(list_distinct("
            f"list_transform(range(1, greatest(len({_TOKS}) - 4, 1) + 1), "
            f"i -> array_to_string(({_TOKS})[i:i+4], ' ')))) AS s "
            "FROM documents WHERE doc_id < 20) "
            "SELECT c.doc_id, b.bench_id, count(*) AS overlap "
            "FROM csh c JOIN bsh b ON c.s = b.s AND c.doc_id <> b.bench_id "
            "GROUP BY c.doc_id, b.bench_id HAVING count(*) >= 3"
        ),
        # pii_scrub: identical salting + RE2-safe patterns; DuckDB's
        # regexp_replace needs the 'g' flag to match Spark's replace-all
        "pii_scrub": (
            "WITH salted AS (SELECT doc_id, "
            "text || ' contact user' || doc_id::VARCHAR || "
            "'@example.com or 555-123-4567 at 10.0.0.' || "
            "(doc_id % 255)::VARCHAR AS t FROM documents) "
            "SELECT doc_id, ("
            "  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) "
            "+ len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) "
            "+ len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) "
            "+ len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))"
            ")::BIGINT AS n_pii, "
            "md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
            "'\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'), "
            "'\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'), "
            "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')"
            ") AS scrubbed_md5 FROM salted"
        ),
        "source_filter": (
            "WITH q AS (SELECT source, text, "
            f"(least(len({_TOKS})::DOUBLE / 50.0, 1.0) "
            f" + (1.0 - least(({_PUNCT_RATIO}) * 4.0, 1.0)) "
            f" + (CASE WHEN ({_SW_RATIO}) >= 0.1 AND ({_SW_RATIO}) <= 0.6 THEN 1.0 ELSE 0.5 END) "
            f" + (CASE WHEN ({_MEAN_WLEN}) >= 3.0 AND ({_MEAN_WLEN}) <= 10.0 THEN 1.0 ELSE 0.5 END)"
            ") / 4.0 AS qs FROM documents), "
            "st AS (SELECT source, count(*) AS n_docs, avg(qs) AS aq, "
            "  1.0 - count(DISTINCT md5(text))::DOUBLE / count(*) AS df "
            "  FROM q GROUP BY source) "
            "SELECT source, n_docs, round(aq, 6) AS avg_quality, "
            "  round(df, 6) AS dup_fraction, "
            "  CASE WHEN n_docs >= 1 AND aq >= 0.85 AND df <= 1.0 "
            "       THEN n_docs ELSE 0 END AS kept_docs "
            "FROM st"
        ),
        "lm_score": (
            "WITH arr2 AS ("
            "  SELECT doc_id, list_filter(regexp_split_to_array("
            "    lower(trim(text)), '[^a-z0-9'']+'), x -> x <> '') AS a"
            "  FROM documents"
            "), bg AS ("
            "  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2"
            "  FROM arr2, unnest(generate_series(1, len(a) - 1)) AS g(i)"
            "  WHERE len(a) >= 2"
            "), big AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),"
            " uni AS (SELECT w1, sum(cb) AS cu FROM big GROUP BY w1),"
            " v AS (SELECT count(DISTINCT t.tok)::DOUBLE AS v FROM ("
            "   SELECT unnest(a) AS tok FROM arr2) t WHERE t.tok <> '')"
            " SELECT bg.doc_id, count(*) AS n_bigrams,"
            "        round(avg(ln((big.cb::DOUBLE + 0.5)"
            "                     / (uni.cu::DOUBLE + 0.5 * v.v))), 6)"
            "          AS avg_logprob"
            " FROM bg JOIN big USING (w1, w2) JOIN uni USING (w1), v"
            " GROUP BY bg.doc_id"
        ),
        # planted-skew lm_score twin: identical pipeline over documents
        # with 'zq' appended at len(toks)//3 copies per doc (~25% of
        # corpus token mass on one key)
        "lm_score_skewed": (
            # d0 coalesces text to '' (ADVICE r11): `||` propagates NULL
            # where Spark's concat_ws skips it — coalescing FIRST keeps
            # both sides identical on NULL-text rows
            "WITH d0 AS ("
            "  SELECT doc_id, coalesce(text, '') AS text FROM documents"
            "), skew AS ("
            f"  SELECT doc_id, text || ' ' || repeat('zq ', "
            f"    greatest(len({_TOKS}) // 3, 0)) AS text FROM d0"
            "), arr2 AS ("
            "  SELECT doc_id, list_filter(regexp_split_to_array("
            "    lower(trim(text)), '[^a-z0-9'']+'), x -> x <> '') AS a"
            "  FROM skew"
            "), bg AS ("
            "  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2"
            "  FROM arr2, unnest(generate_series(1, len(a) - 1)) AS g(i)"
            "  WHERE len(a) >= 2"
            "), big AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),"
            " uni AS (SELECT w1, sum(cb) AS cu FROM big GROUP BY w1),"
            " v AS (SELECT count(DISTINCT t.tok)::DOUBLE AS v FROM ("
            "   SELECT unnest(a) AS tok FROM arr2) t WHERE t.tok <> '')"
            " SELECT bg.doc_id, count(*) AS n_bigrams,"
            "        round(avg(ln((big.cb::DOUBLE + 0.5)"
            "                     / (uni.cu::DOUBLE + 0.5 * v.v))), 6)"
            "          AS avg_logprob"
            " FROM bg JOIN big USING (w1, w2) JOIN uni USING (w1), v"
            " GROUP BY bg.doc_id"
        ),
        "media_features": (
            "SELECT doc_id AS media_id, "
            "CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind, "
            "octet_length(encode(text)) AS n_bytes, "
            "sha256(text) AS content_sha FROM documents"
        ),
        # Gopher rule battery: every gate replicated as the identical
        # single-division rational arithmetic, so boolean boundaries
        # agree bit-for-bit.
        "gopher_quality": (
            f"WITH t AS (SELECT doc_id, coalesce(text, '') AS text, "
            f"coalesce({_TOKS}, []) AS toks FROM documents), "
            "g AS (SELECT doc_id, len(toks) AS n, "
            "CASE WHEN len(toks) = 0 THEN 0.0 ELSE "
            "list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) "
            "END AS ml, "
            "(length(text) - length(regexp_replace(text, '#', '', 'g')) "
            "+ (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3) AS sym, "
            "len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha, "
            f"len(list_filter(list_distinct(toks), x -> list_contains({_SW_LIST}, x))) AS sw "
            "FROM t) "
            "SELECT doc_id, CAST(n AS BIGINT) AS n_words, "
            "(n >= 30 AND n <= 100000) AS ok_words, "
            "(ml >= 3.0 AND ml <= 10.0) AS ok_mean_len, "
            "(CASE WHEN n = 0 THEN 0.0 ELSE sym::DOUBLE / n END < 0.1) AS ok_symbols, "
            "(CASE WHEN n = 0 THEN 0.0 ELSE alpha::DOUBLE / n END >= 0.8) AS ok_alpha, "
            "(sw >= 2) AS ok_stopwords, "
            "((n >= 30 AND n <= 100000) AND (ml >= 3.0 AND ml <= 10.0) "
            "AND (CASE WHEN n = 0 THEN 0.0 ELSE sym::DOUBLE / n END < 0.1) "
            "AND (CASE WHEN n = 0 THEN 0.0 ELSE alpha::DOUBLE / n END >= 0.8) "
            "AND (sw >= 2)) AS passes FROM g"
        ),
        # Gopher repetition battery (§A.1.2): generated layered-CTE
        # list-native twin (see _gopher_repetition_oracle_sql) — same
        # 6dp-rounded fractions, same Table-A1 threshold conjunction,
        # same deterministic repetition augmentation of every 3rd doc.
        "gopher_repetition": _gopher_repetition_oracle_sql(),
        # Cleaning-trilogy composition: the validated normalize/c4/
        # gopher sub-chains assembled in q_web_pipeline's stage order
        # (see _web_pipeline_oracle_sql).
        "web_pipeline": _web_pipeline_oracle_sql(),
        # C4 cleaning battery: identical segmentation/injection
        # preprocessing, line filters as list lambdas, page gates as
        # the same boolean expressions; token badword check reuses the
        # engine's tokenizer twin over clean_text.
        "c4_clean": (
            "WITH t AS (SELECT doc_id, "
            "regexp_replace(regexp_replace(text, ' the ', '.' || chr(10), 'g'), "
            "' a ', chr(10), 'g') || '.' "
            "|| CASE WHEN doc_id % 7 = 0 THEN ' lorem ipsum' ELSE '' END "
            "|| CASE WHEN doc_id % 11 = 0 THEN ' {x}' ELSE '' END AS text "
            "FROM documents), "
            # c4_clean's whitespace contract is the explicit ASCII class
            # [ \t\n\x0b\f\r] (ADVICE r11): RE2's \s excludes \x0B, Java's
            # includes it — the shared literal class makes all three
            # implementations agree on \x0B/NBSP-edged lines
            "b AS (SELECT doc_id, coalesce(text, '') AS txt, "
            "list_filter(list_transform(string_split_regex(coalesce(text, ''), "
            "'\\n'), s -> regexp_replace(s, '^[ \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+$', '', 'g')), s -> s <> '') AS lines FROM t), "
            "k AS (SELECT doc_id, txt, list_filter(lines, s -> "
            "regexp_matches(s, '[.!?]\"?$') "
            "AND len(list_filter(string_split_regex(s, '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '')) >= 3 "
            "AND NOT regexp_matches(lower(s), "
            "'(^|[^a-z0-9])javascript([^a-z0-9]|$)')) AS kept FROM b), "
            # array_to_string([]) is NULL in DuckDB where Spark's
            # concat_ws gives '' — coalesce to match
            "c AS (SELECT doc_id, txt, kept, "
            "coalesce(array_to_string(kept, chr(10)), '') AS clean_text FROM k), "
            "m AS (SELECT doc_id, clean_text, "
            "len(kept)::BIGINT AS n_lines_kept, "
            "len(list_filter(list_transform(string_split_regex(clean_text, "
            "'[.!?]'), s -> regexp_replace(s, '^[ \\t\\n\\x0b\\f\\r]+|[ \\t\\n\\x0b\\f\\r]+$', '', 'g')), s -> s <> ''))::BIGINT AS n_sentences, "
            "len(list_filter(list_distinct(list_filter(string_split_regex("
            "lower(trim(clean_text)), '[^a-z0-9'']+'), x -> x <> '')), "
            "x -> list_contains(['vector','stream'], x))) > 0 AS has_badword, "
            "contains(lower(txt), 'lorem ipsum') AS has_lorem_ipsum, "
            "(contains(txt, '{') OR contains(txt, '}')) AS has_brace FROM c) "
            "SELECT doc_id, clean_text, n_lines_kept, n_sentences, has_badword, "
            "has_lorem_ipsum, has_brace, "
            "(n_sentences >= 3 AND NOT has_badword AND NOT has_lorem_ipsum "
            "AND NOT has_brace) AS keep FROM m"
        ),
        # Text canonicalization: identical regexp chain over DuckDB's
        # nfc_normalize (utf8proc and CPython implement the same stable
        # Unicode NFC); messy suffixes rendered codepoint-for-codepoint
        # by _duck_str.
        "normalize_text": (
            "WITH t AS (SELECT doc_id, text || CASE WHEN doc_id % 2 = 0 "
            f"THEN {_duck_str(_MESS_EVEN)} ELSE {_duck_str(_MESS_ODD)} END AS text "
            "FROM documents), "
            "n AS (SELECT doc_id, text, "
            + _norm_chain_sql("text")
            + " AS norm_text FROM t) "
            "SELECT doc_id, norm_text, "
            "CASE WHEN text IS NULL THEN TRUE ELSE norm_text <> text END AS changed "
            "FROM n"
        ),
        # Cross-snapshot dedup: exact stage = md5 anti-join + min-id
        # reps; near stage = the exact 2-gram-Jaccard pair graph over
        # corpus ∪ surviving batch (the LSH banding's recall is 1.0 at
        # driver SFs, so candidates ⊇ true pairs and the engine equals
        # this oracle); greedy-by-id kill rule mirrored in the CASE.
        "incremental_dedup": (
            "WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0), "
            "c AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0), "
            "bh AS (SELECT doc_id, text, md5(text) AS h FROM b), "
            "ce AS (SELECT DISTINCT md5(text) AS h FROM c), "
            "noce AS (SELECT bh.* FROM bh ANTI JOIN ce USING (h)), "
            "reps AS (SELECT h, min(doc_id) AS doc_id FROM noce GROUP BY h), "
            "surv0 AS (SELECT noce.doc_id, noce.text FROM noce "
            "SEMI JOIN reps ON noce.doc_id = reps.doc_id), "
            "ad AS (SELECT doc_id, text, FALSE AS isnew FROM c "
            "UNION ALL SELECT doc_id, text, TRUE FROM surv0), "
            f"sh AS (SELECT doc_id, isnew, unnest(list_distinct({_SHINGLES2})) AS s "
            "FROM ad), "
            "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
            "p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, a.isnew AS n1, "
            "b.isnew AS n2, count(*) AS shared FROM sh a JOIN sh b "
            "ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2, 3, 4), "
            "vp AS (SELECT p.* FROM p JOIN sz s1 ON s1.doc_id = p.id1 "
            "JOIN sz s2 ON s2.doc_id = p.id2 "
            "WHERE p.shared::DOUBLE / (s1.n + s2.n - p.shared) >= 0.5), "
            "dom AS (SELECT DISTINCT CASE WHEN n1 AND n2 THEN id2 "
            "WHEN n1 THEN id1 ELSE id2 END AS doc_id FROM vp WHERE n1 OR n2) "
            "SELECT s.doc_id, s.text FROM surv0 s ANTI JOIN dom USING (doc_id)"
        ),
        # BPE merge training: generated unrolled rounds (see
        # _bpe_oracle_sql) — the double-sentinel literal-replace
        # encoding gives both engines identical merge semantics.
        "bpe_merges": _bpe_oracle_sql(n_merges=6, min_pair=2),
        "bpe_encode": _bpe_encode_oracle_sql(n_merges=6, min_pair=2),
        # Exact-substring dedup (Lee et al. 2022): identical window
        # hashing (md5 of the space-joined 8-token slice), duplicated
        # windows (count > 1 corpus-wide) expand to covered positions,
        # anti-joined token stream reassembled in order.
        "substring_dedup": (
            f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents), "
            "w AS (SELECT doc_id, u.i - 1 AS s, "
            "md5(array_to_string(toks[u.i:u.i+7], ' ')) AS h "
            "FROM t, unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS u(i)), "
            "dup AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1), "
            "cov0 AS (SELECT w.doc_id, unnest(range(w.s, w.s + 8)) AS p "
            "FROM w SEMI JOIN dup USING (h)), "
            "cov AS (SELECT DISTINCT doc_id, p FROM cov0), "
            "tok AS (SELECT doc_id, u.i - 1 AS p, toks[u.i] AS tk "
            "FROM t, unnest(range(1, len(toks) + 1)) AS u(i)), "
            "kept AS (SELECT tok.* FROM tok ANTI JOIN cov USING (doc_id, p)), "
            "re AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS ct "
            "FROM kept GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(re.ct, '') AS clean_text "
            "FROM documents d LEFT JOIN re USING (doc_id)"
        ),
        # DSIR importance weights: identical hashed unigram+bigram
        # bucketing (md5_long32 % 256), add-1 smoothed target/raw
        # distributions, mean per-gram log-likelihood ratio. The
        # degenerate short-doc shingle (len < 2 → one truncated bigram)
        # follows _SHINGLES2 on both engines.
        "dsir_weights": (
            f"WITH t AS (SELECT doc_id, source = 'src0' AS tgt, {_TOKS} AS toks "
            "FROM documents), "
            "g AS (SELECT doc_id, tgt, unnest(list_concat(toks, "
            "list_transform(range(1, greatest(len(toks) - 1, 1) + 1), "
            "i -> array_to_string(toks[i:i+1], ' ')))) AS gram FROM t), "
            f"f AS (SELECT doc_id, tgt, ({_MD5_32.format(x='gram')} % 256) AS b FROM g), "
            "c AS (SELECT d.b, coalesce(rc, 0) AS rc, coalesce(tc, 0) AS tc "
            "FROM (SELECT unnest(range(0, 256)) AS b) d "
            "LEFT JOIN (SELECT b, count(*) AS rc, count(*) FILTER (tgt) AS tc "
            "FROM f GROUP BY b) x USING (b)), "
            "tot AS (SELECT sum(rc) AS R, sum(tc) AS T FROM c), "
            "lam AS (SELECT b, ln((tc + 1.0) / (T + 256.0)) "
            "- ln((rc + 1.0) / (R + 256.0)) AS llr FROM c, tot), "
            "s AS (SELECT doc_id, count(*) AS n_grams, avg(llr) AS w "
            "FROM f JOIN lam USING (b) GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(s.n_grams, 0) AS n_grams, "
            "round(coalesce(s.w, 0.0), 6) AS weight "
            "FROM documents d LEFT JOIN s USING (doc_id)"
        ),
        # BM25 (Lucene k1=1.2 b=0.75, +1-shifted IDF): scores rounded
        # to 6dp BEFORE the (score desc, id asc) order on both engines,
        # so the top-10 boundary is deterministic.
        "bm25_search": (
            f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents), "
            "l AS (SELECT doc_id, len(toks)::DOUBLE AS dl FROM t), "
            "st AS (SELECT count(*)::DOUBLE AS N, avg(dl) AS avgdl FROM l), "
            "p AS (SELECT doc_id, unnest(toks) AS tm FROM t), "
            "tf AS (SELECT doc_id, tm, count(*)::DOUBLE AS tf FROM p "
            "WHERE tm IN ('fast', 'merge', 'scan', 'table') GROUP BY doc_id, tm), "
            "dfq AS (SELECT tm, count(DISTINCT doc_id)::DOUBLE AS df "
            "FROM tf GROUP BY tm), "
            "sc AS (SELECT tf.doc_id, "
            "round(sum(ln(1.0 + (st.N - dfq.df + 0.5) / (dfq.df + 0.5)) "
            "* (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl))"
            "), 6) AS score "
            "FROM tf JOIN dfq USING (tm) JOIN l USING (doc_id) CROSS JOIN st "
            "GROUP BY tf.doc_id) "
            "SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id ASC LIMIT 10"
        ),
        # SemDeDup: the topic_clusters k-means CTE chain (identical
        # Lloyd unroll) + within-cluster pair comparison at cosine
        # similarity >= 0.30; dominated (higher-id) rows anti-joined out.
        "semantic_dedup": (
            "WITH c0 AS ("
            "  SELECT (row_number() OVER (ORDER BY vec_id))::INT - 1 AS cid,"
            "         embedding AS c"
            "  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)"
            "), a0 AS ("
            "  SELECT vec_id, embedding, cl FROM ("
            "    SELECT e.vec_id, e.embedding, c.cid AS cl,"
            "           row_number() OVER (PARTITION BY e.vec_id ORDER BY"
            "             list_sum(list_transform(range(1, 65),"
            "               i -> (e.embedding[i]::DOUBLE - c.c[i]::DOUBLE)"
            "                  * (e.embedding[i]::DOUBLE - c.c[i]::DOUBLE)"
            "             )) ASC, c.cid ASC) AS rn"
            "    FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1"
            "), m1 AS ("
            "  SELECT cl AS cid, i AS pos, avg(embedding[i]::DOUBLE) AS m"
            "  FROM a0, range(1, 65) t(i) GROUP BY cl, i"
            "), c1 AS ("
            "  SELECT cid, list(m ORDER BY pos) AS c FROM m1 GROUP BY cid"
            "), c1f AS ("
            "  SELECT c0.cid,"
            "         COALESCE(c1.c, list_transform(c0.c, x -> x::DOUBLE)) AS c"
            "  FROM c0 LEFT JOIN c1 ON c0.cid = c1.cid"
            "), asg AS (SELECT vec_id, cl AS cluster FROM ("
            "    SELECT e.vec_id, c.cid AS cl,"
            "           row_number() OVER (PARTITION BY e.vec_id ORDER BY"
            "             list_sum(list_transform(range(1, 65),"
            "               i -> (e.embedding[i]::DOUBLE - c.c[i])"
            "                  * (e.embedding[i]::DOUBLE - c.c[i])"
            "             )) ASC, c.cid ASC) AS rn"
            "    FROM embeddings e CROSS JOIN c1f c) WHERE rn = 1"
            "), lab AS (SELECT asg.vec_id, asg.cluster, e.embedding "
            "FROM asg JOIN embeddings e USING (vec_id)), "
            "dom AS (SELECT DISTINCT b.vec_id "
            "FROM lab a JOIN lab b ON a.cluster = b.cluster "
            "AND a.vec_id < b.vec_id "
            "WHERE greatest(-1.0, least(1.0, "
            "list_sum(list_transform(range(1, 65), "
            "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) "
            "/ sqrt(list_sum(list_transform(a.embedding, x -> x::DOUBLE * x::DOUBLE))) "
            "/ sqrt(list_sum(list_transform(b.embedding, x -> x::DOUBLE * x::DOUBLE)))"
            ")) >= 0.30) "
            "SELECT lab.vec_id, lab.cluster FROM lab ANTI JOIN dom USING (vec_id)"
        ),
        # Approximate operators, checked exactly: knn_lsh's probe budget
        # covers the true top-k (recall 1.0 → brute-force oracle);
        # ivf_knn's oracle replicates the centroid→probe→rerank pipeline;
        # minhash_lsh verifies candidates with exact Jaccard, so its
        # output equals the exact-pairs oracle.
        "knn_lsh": (
            qv_cte
            + f"SELECT vec_id, {_cos_dist('embedding', 'q')} AS cos_dist "
            "FROM embeddings, qv ORDER BY cos_dist ASC, vec_id ASC LIMIT 10"
        ),
        # knn_lsh_selective: brute force over the SAME near-dup view the
        # Spark query indexes (embeddings ∪ 10 deterministic perturbed
        # copies of vec 0 — exact integer arithmetic, bit-identical on
        # both engines). The 16-bit/8-probe pruned probe finds all
        # planted near-dups (measured recall@10 = 1.0), so this oracle
        # is exact while the probe touches <5% of the corpus.
        "knn_lsh_selective": (
            qv_cte
            + ", aug AS ("
            "  SELECT vec_id, embedding FROM embeddings"
            "  UNION ALL"
            "  SELECT 1000000 + j AS vec_id,"
            "    list_transform(range(1, 65), i ->"
            "      (embedding[i]::DOUBLE + ((j*31 + i*17) % 13 - 6)::DOUBLE / 100.0)::FLOAT"
            "    ) AS embedding"
            "  FROM embeddings, range(1, 11) t(j) WHERE vec_id = 0) "
            f"SELECT vec_id, {_cos_dist('embedding', 'q')} AS cos_dist "
            "FROM aug, qv ORDER BY cos_dist ASC, vec_id ASC LIMIT 10"
        ),
        # hnsw_knn: same near-dup view and exactness argument as
        # knn_lsh_selective — the graph walk's candidate set covers the
        # true top-10 (recall 1.0, deterministic build), and Spark
        # exact-reranks in double, so brute force is an exact oracle.
        "hnsw_knn": (
            qv_cte
            + ", aug AS ("
            "  SELECT vec_id, embedding FROM embeddings"
            "  UNION ALL"
            "  SELECT 1000000 + j AS vec_id,"
            "    list_transform(range(1, 65), i ->"
            "      (embedding[i]::DOUBLE + ((j*31 + i*17) % 13 - 6)::DOUBLE / 100.0)::FLOAT"
            "    ) AS embedding"
            "  FROM embeddings, range(1, 11) t(j) WHERE vec_id = 0) "
            f"SELECT vec_id, {_cos_dist('embedding', 'q')} AS cos_dist "
            "FROM aug, qv ORDER BY cos_dist ASC, vec_id ASC LIMIT 10"
        ),
        # hnsw_knn_sharded: distributed per-shard probe + merge + exact
        # rerank; probe recall over the planted view is 1.0 (per-shard
        # ef=256 beam), so the brute-force top-10 is an exact oracle.
        "hnsw_knn_sharded": (
            qv_cte
            + ", aug AS ("
            "  SELECT vec_id, embedding FROM embeddings"
            "  UNION ALL"
            "  SELECT 1000000 + j AS vec_id,"
            "    list_transform(range(1, 65), i ->"
            "      (embedding[i]::DOUBLE + ((j*31 + i*17) % 13 - 6)::DOUBLE / 100.0)::FLOAT"
            "    ) AS embedding"
            "  FROM embeddings, range(1, 11) t(j) WHERE vec_id = 0) "
            f"SELECT vec_id, {_cos_dist('embedding', 'q')} AS cos_dist "
            "FROM aug, qv ORDER BY cos_dist ASC, vec_id ASC LIMIT 10"
        ),
        "ivf_knn": (
            qv_cte
            + ", cents AS ("
            "  SELECT label, list(m ORDER BY pos) AS centroid FROM ("
            "    SELECT label, pos, avg(val) AS m FROM ("
            "      SELECT label, unnest(embedding)::DOUBLE AS val, "
            "             generate_subscripts(embedding, 1) AS pos "
            "      FROM embeddings) GROUP BY label, pos) GROUP BY label), "
            "probed AS ("
            f"  SELECT label FROM cents, qv "
            f"  ORDER BY {_cos_dist('centroid', 'q')} ASC, label ASC LIMIT 3) "
            f"SELECT e.vec_id, {_cos_dist('e.embedding', 'q')} AS cos_dist "
            "FROM embeddings e JOIN probed p ON e.label = p.label, qv "
            "ORDER BY cos_dist ASC, e.vec_id ASC LIMIT 10"
        ),
        "minhash_lsh": (
            "WITH sh AS (SELECT doc_id, unnest(list_distinct("
            + _SHINGLES2
            + ")) AS s FROM documents), "
            "sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
            "pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared "
            "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id "
            "  GROUP BY a.doc_id, b.doc_id) "
            "SELECT p.id1, p.id2, "
            "  p.shared::DOUBLE / (s1.n + s2.n - p.shared) AS jaccard "
            "FROM pairs p JOIN sz s1 ON s1.doc_id = p.id1 "
            "JOIN sz s2 ON s2.doc_id = p.id2 "
            "WHERE p.shared::DOUBLE / (s1.n + s2.n - p.shared) >= 0.5"
        ),
    }
    # the persisted-index formulation is equivalent by construction
    # (corpus-corpus pairs can't dominate a batch row; equivalence is
    # test-pinned), so it shares incremental_dedup's oracle verbatim
    out["incremental_dedup_indexed"] = out["incremental_dedup"]
    return out
