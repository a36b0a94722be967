"""Stratification and semi-naive recursive evaluation.

Re-implements the semantics of the reference's recursion machinery
(`/root/reference/src/recursion.rs`: SCC detection + stratification with
positive/negative edges; `src/code_generator/mod.rs:313-420` semi-naive
fixpoint, :684 TC fast path) on Spark: the fixpoint loop is a driver-side
while over DataFrame unions with localCheckpoint() to cut lineage — the
standard Datalog-on-Spark pattern (GraphX/Pregel iteration shape). At
cluster scale the checkpoint goes to the cluster checkpoint dir; on
local[32] localCheckpoint suffices.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional, Sequence, Set, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inputlayer_spark.ast_nodes import Atom, Rule
from inputlayer_spark.compiler import (
    CompileError,
    compile_body,
    compile_head,
    sql_ident,
)

Resolver = Callable[[str], DataFrame]

# Rounds a from-scratch fixpoint may take: a runaway backstop, not a
# semantic limit.
FIXPOINT_MAX_ROUNDS = 10_000
# Rounds past its seed that a maintenance loop (insert, overdelete,
# rederive) may take before it bails to a recompute: a deep cone loses
# to the log-depth recompute (see dred_retract).
MAINTAIN_MAX_ROUNDS = 24


def _qual(alias: str, col: str) -> str:
    """Alias-qualified column reference, both parts quoted."""
    return f"{sql_ident(alias)}.{sql_ident(col)}"


def _positional(df: Optional[DataFrame]) -> Optional[DataFrame]:
    """A base extent renamed to the compiler's c0..cn columns."""
    if df is None:
        return None
    return df.toDF(*[f"c{i}" for i in range(len(df.columns))])


def _pin_count(df: DataFrame) -> Tuple[DataFrame, int]:
    """Materialize `df` as a lineage-severed LogicalRDD leaf AND return
    its row count in ONE Spark job.

    Every fixpoint iteration pins its delta (localCheckpoint: severs
    lineage so plan analysis stays O(1) and self-joins stay unambiguous)
    and then counts it (emptiness = termination). `localCheckpoint(
    eager=True)` internally runs a count-shaped job to materialize, so
    the explicit `.count()` after it was a SECOND job per iteration —
    pure scheduler/py4j overhead on plans that run 10-80 jobs per query
    (guide §1/§2: the anchor-TC profile showed 15 standalone count jobs
    ≈ 1.1 s of its 13.5 s wall). The lazy checkpoint marks the RDD for
    persistence and returns the same LogicalRDD-leaf plan; the count()
    then materializes blocks and counts in one pass. Local-checkpoint
    semantics (doCheckpoint computes any missing partitions) make the
    result identical to the eager form."""
    df = df.localCheckpoint(eager=False)
    return df, df.count()


class StratificationError(ValueError):
    pass


def rule_dependencies(rules: Sequence[Rule]) -> Dict[str, Set[Tuple[str, bool]]]:
    """head → {(body_relation, negated)} over the given rules."""
    deps: Dict[str, Set[Tuple[str, bool]]] = {}
    for r in rules:
        d = deps.setdefault(r.head.relation, set())
        for lit in r.body:
            if isinstance(lit, Atom):
                d.add((lit.relation, lit.negated))
    return deps


def condensation(rules: Sequence[Rule]) -> List[List[str]]:
    """Tarjan SCCs of the head-dependency graph, in reverse topological
    order of the condensation (dependencies first). Negative edge inside
    an SCC → unstratifiable (reference rejects these too,
    docs/internals/architecture.md:385-398)."""
    deps = rule_dependencies(rules)
    heads = set(deps)
    graph: Dict[str, List[str]] = {
        h: [rel for rel, _ in deps[h] if rel in heads] for h in heads
    }

    index_counter = [0]
    stack: List[str] = []
    lowlink: Dict[str, int] = {}
    index: Dict[str, int] = {}
    on_stack: Dict[str, bool] = {}
    sccs: List[List[str]] = []

    def strongconnect(v: str) -> None:
        # iterative Tarjan to dodge recursion limits on deep rule chains
        work = [(v, 0)]
        while work:
            node, pi = work[-1]
            if pi == 0:
                index[node] = lowlink[node] = index_counter[0]
                index_counter[0] += 1
                stack.append(node)
                on_stack[node] = True
            advanced = False
            for j in range(pi, len(graph[node])):
                w = graph[node][j]
                if w not in index:
                    work[-1] = (node, j + 1)
                    work.append((w, 0))
                    advanced = True
                    break
                if on_stack.get(w):
                    lowlink[node] = min(lowlink[node], index[w])
            if advanced:
                continue
            work.pop()
            if lowlink[node] == index[node]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    comp.append(w)
                    if w == node:
                        break
                sccs.append(comp)
            if work:
                parent, _ = work[-1]
                lowlink[parent] = min(lowlink[parent], lowlink[node])

    for h in sorted(heads):
        if h not in index:
            strongconnect(h)

    # check stratifiability: no negative edge within an SCC
    comp_of = {h: ci for ci, comp in enumerate(sccs) for h in comp}
    for r in rules:
        for lit in r.body:
            if isinstance(lit, Atom) and lit.negated and lit.relation in comp_of:
                if comp_of[lit.relation] == comp_of[r.head.relation]:
                    raise StratificationError(
                        f"negation cycle through {r.head.relation} / {lit.relation}"
                    )
    return sccs  # Tarjan pops dependencies before dependents


def is_recursive_scc(scc: List[str], rules: Sequence[Rule]) -> bool:
    members = set(scc)
    if len(scc) > 1:
        return True
    for r in rules:
        if r.head.relation in members:
            for lit in r.body:
                if isinstance(lit, Atom) and not lit.negated and lit.relation in members:
                    return True
    return False


def evaluate_scc(
    scc: List[str],
    rules: Sequence[Rule],
    resolve: Resolver,
    hnsw_resolver=None,
    base_of: Optional[Callable[[str], Optional[DataFrame]]] = None,
) -> Dict[str, DataFrame]:
    """Evaluate one SCC; returns head → DataFrame (positional columns).

    Non-recursive SCC: union of each rule's compiled plan.
    Recursive SCC: semi-naive — per iteration each recursive rule is
    evaluated once per recursive body atom with that occurrence bound to
    the delta and the others to the accumulator; new = result − acc.

    `base_of(head)` supplies an optional base extent (explicit facts for a
    relation that ALSO has rules — the reference unions input_tuples with
    rule derivations; magic-set seeds use the same mechanism).
    """
    members = set(scc)
    scc_rules = [r for r in rules if r.head.relation in members]
    if not scc_rules:
        return {}

    def base_extent(head: str) -> Optional[DataFrame]:
        if base_of is None:
            return None
        return _positional(base_of(head))

    # ---- reference recursion quirks (golden-pinned) --------------------
    # The reference's *persistent*-rule recursion only evaluates SCCs that
    # have a non-recursive exit rule, and never runs a joint fixpoint over
    # a multi-predicate (mutual) SCC:
    #   (A) persistent mutual SCC → every member empty
    #       (examples/iql/09_recursion/08_mutual_recursion.iql,
    #        09_three_way_mutual.iql: even/odd rules print "No results.")
    #   (B) session-rule mutual SCC → each member is evaluated on its own
    #       with branches that reference an SCC mate dropped — no joint
    #       fixpoint (15_mutual_one_branch_empty.iql: a_derived stays
    #       {1,2,3} even once b_derived={10,20})
    #   (C) BOUND query over a persistent self-recursive predicate with no
    #       non-recursive exit rule → empty (the reference's magic-sets
    #       path never seeds from base facts: 56_all_paths.iql's
    #       ?reachable("s",End,D) → empty, while the unbound
    #       ?level(Node,Depth) of 41_level_tracking.iql returns the full
    #       fixpoint incl. the base fact) — handled in _try_magic
    if len(scc) > 1:
        if all(getattr(r, "persistent", False) for r in scc_rules):
            out = {}
            for head in scc:
                base = base_extent(head)
                if base is not None:
                    out[head] = base.limit(0)
            return out  # members absent from `out` resolve as empty
        out = {}
        for head in scc:
            kept = [
                r
                for r in scc_rules
                if r.head.relation == head
                and not any(
                    isinstance(lit, Atom)
                    and lit.relation in members
                    and lit.relation != head
                    for lit in r.body
                )
            ]
            if kept:
                out.update(
                    evaluate_scc(
                        [head], kept, resolve, hnsw_resolver, base_of=base_of
                    )
                )
            else:
                base = base_extent(head)
                if base is not None:
                    out[head] = base.limit(0)
        return out
    # Quirk (C) — persistent self-recursion with no exit rule returns
    # empty ONLY for bound queries (the reference's magic-sets path does
    # not seed from base facts); unbound queries run the full fixpoint
    # with base-fact seeds (41_level_tracking, 38_fibonacci_like). The
    # bound case is handled in IQLEngine._try_magic.
    # --------------------------------------------------------------------

    if not is_recursive_scc(scc, rules):
        out: Dict[str, DataFrame] = {}
        for head in scc:
            dfs = [
                compile_head(
                    compile_body(
                        r.body,
                        resolve,
                        hnsw_resolver,
                        bool_consts_nop=getattr(r, "persistent", False),
                    ),
                    r.head,
                )
                for r in scc_rules
                if r.head.relation == head
            ]
            base = base_extent(head)
            if base is not None:
                dfs.append(base)
            merged = dfs[0]
            for d in dfs[1:]:
                merged = merged.unionByName(d)
            out[head] = merged.distinct() if len(dfs) > 1 else merged
        return out

    # ---- recursive SCC: semi-naive fixpoint ----
    # Per-iteration cost is dominated by fixed Spark overheads, not data:
    # base relations (e.g. the edge table) re-scan their source on every
    # iteration — cache them once for the loop. Tiny-delta shuffle fan-out
    # is handled by AQE partition coalescing (parallelismFirst=false,
    # session.py) instead of mutating the session-wide shuffle-partition
    # conf, which raced with concurrent queries on a shared SparkSession.
    base_cache: Dict[str, DataFrame] = {}
    outer_resolve = resolve

    def resolve(name: str) -> DataFrame:  # noqa: F811 — loop-scoped cache
        if name not in base_cache:
            base_cache[name] = outer_resolve(name).persist()
        return base_cache[name]

    try:
        doubled = _try_path_doubling(
            scc_rules, members, resolve, hnsw_resolver, base_extent
        )
        if doubled is not None:
            return doubled
        return _seminaive_fixpoint(
            scc_rules, members, resolve, hnsw_resolver, base_extent
        )
    finally:
        # unpersist on every exit path (incl. non-convergence / compile
        # errors) so cached base frames don't leak into later queries
        for df in base_cache.values():
            df.unpersist()


def _try_path_doubling(
    scc_rules,
    members,
    resolve,
    hnsw_resolver,
    base_extent,
) -> Optional[Dict[str, DataFrame]]:
    """Log-depth evaluation for composable linear recursion.

    A single-head SCC whose one recursive rule is a state-update
    composition — head and recursive atom agree on "carried" positions and
    the updated positions are rebound through a non-recursive sub-body —
    is `h = X ∘ S*` for seed X (exit rules + base facts) and step relation
    S (old-state → new-state pairs from the sub-body). Both TC directions
    qualify: `p(X,Z) <- p(X,Y), e(Y,Z)` and `p(X,Z) <- e(X,Y), p(Y,Z)`.

    Evaluate by squaring: R ← R ∪ R∘S_k and S_{k+1} ← S_k ∪ S_k∘S_k
    reach fixpoint in ceil(log2(depth)) iterations instead of depth —
    a 200-edge chain golden is 8 Spark jobs, not 200 (the reference's
    deep-recursion goldens, examples/iql/09_recursion/06-07). Stopping
    when R stabilizes is exact: a minimal-length tuple of X∘S* missing
    from R would have its predecessor in R, hence be in R∘S ⊆ R.

    Where it runs: seed and step are each read with one limit-pushdown
    collect first. When together they fit `_local_fixpoint_max()` the
    closure kernel (`adjacency_closure`) takes over: on the driver, which
    answers with a leaf, or, when the result outgrows the leaf cap with
    carried groups still open, in one mapInArrow over the seed grouped
    by carried columns, which ships the step's adjacency to the
    executors instead of every result row through the driver. Larger
    inputs run the distributed doubling below.

    Returns None when the shape doesn't apply (multiple/mutual recursive
    rules, constants or repeated vars in the recursive atom, filters over
    carried variables) — the semi-naive fixpoint remains the general path.
    Gated to seeds of comparable size to the step relation: for a tiny
    seed over a big graph, squaring densifies S globally while seeded
    semi-naive stays output-proportional.
    """
    from inputlayer_spark.ast_nodes import Var
    from pyspark.sql import functions as F

    if len(members) != 1:
        return None
    head_rel = next(iter(members))

    rec_rules = []
    exit_rules = []
    for r in scc_rules:
        rec_atoms = [
            lit
            for lit in r.body
            if isinstance(lit, Atom) and not lit.negated and lit.relation in members
        ]
        if any(
            isinstance(lit, Atom) and lit.negated and lit.relation in members
            for lit in r.body
        ):
            return None
        if rec_atoms:
            rec_rules.append((r, rec_atoms))
        else:
            exit_rules.append(r)
    if len(rec_rules) != 1 or len(rec_rules[0][1]) != 1:
        return None
    r, (hatom,) = rec_rules[0][0], rec_rules[0][1]

    def plain_distinct_vars(terms):
        names = [
            t.name
            for t in terms
            if isinstance(t, Var) and not t.is_wildcard
        ]
        if len(names) != len(terms) or len(set(names)) != len(terms):
            return None
        return names

    hd = plain_distinct_vars(r.head.terms)
    hh = plain_distinct_vars(hatom.terms)
    if hd is None or hh is None or len(hd) != len(hh):
        return None

    carried = [i for i in range(len(hd)) if hd[i] == hh[i]]
    updated = [i for i in range(len(hd)) if hd[i] != hh[i]]
    if not updated:
        return None  # head == recursive atom: a no-op rule, nothing to derive
    carried_vars = {hd[i] for i in carried}
    in_vars = [hh[i] for i in updated]
    out_vars = [hd[i] for i in updated]
    if set(in_vars) & set(out_vars):
        return None  # variable moves between positions — not a composition
    if carried_vars & (set(in_vars) | set(out_vars)):
        return None

    rest = tuple(lit for lit in r.body if lit is not hatom)
    if not rest:
        return None
    try:
        step_body = compile_body(
            rest,
            resolve,
            hnsw_resolver,
            bool_consts_nop=getattr(r, "persistent", False),
        )
    except CompileError:
        return None  # sub-body not safe standalone — fall back
    ecols = set(step_body.columns)
    if not (set(in_vars) | set(out_vars)) <= ecols:
        return None
    if carried_vars & ecols:
        return None  # step depends on carried state — not composable

    k = len(updated)
    s_cols = [f"s{i}" for i in range(k)]
    t_cols = [f"t{i}" for i in range(k)]
    step = step_body.select(
        *[F.col(v).alias(s_cols[i]) for i, v in enumerate(in_vars)],
        *[F.col(v).alias(t_cols[i]) for i, v in enumerate(out_vars)],
    ).distinct()

    # seed: exit rules + base extent, in positional c0..cn form
    seed_parts = [
        compile_head(
            compile_body(
                er.body,
                resolve,
                hnsw_resolver,
                bool_consts_nop=getattr(er, "persistent", False),
            ),
            er.head,
        )
        for er in exit_rules
    ]
    base = base_extent(head_rel)
    if base is not None:
        seed_parts.append(base)
    if not seed_parts:
        return {}  # no seed → empty fixpoint; caller treats missing as empty

    seed = seed_parts[0]
    for p in seed_parts[1:]:
        seed = seed.unionByName(p)

    # Seed and step are computed BY Spark with full body semantics. When
    # together they fit the driver (the broadcast-threshold principle),
    # each is read with one collect and the closure kernel replaces
    # O(log depth) cluster jobs. Both are marked for a lazy pin first, so
    # the collect that reads a frame also materializes it and the counts
    # of the distributed path reuse those blocks instead of recomputing.
    seed = seed.distinct().localCheckpoint(eager=False)
    step = step.localCheckpoint(eager=False)
    lmax = _local_fixpoint_max()
    seed_tab = _collect_upto(seed, lmax)
    n_seed = seed.count() if seed_tab is None else len(seed_tab)
    if n_seed == 0:
        return {}
    step_tab = None if seed_tab is None else _collect_upto(step, lmax - n_seed)
    n_step = step.count() if step_tab is None else len(step_tab)
    # tiny seed over a big step graph: seeded semi-naive is
    # output-proportional; squaring would densify S globally
    if n_seed * 20 < n_step:
        return None
    if step_tab is not None:
        closure = adjacency_closure(
            seed.sparkSession, _table_rows(seed_tab), closure_adjacency(step_tab, k),
            updated, seed.schema, seed,
        )
        return {head_rel: closure}
    if n_step == 0:
        return {head_rel: seed}

    arity = len(hd)
    rcols = [f"c{i}" for i in range(arity)]
    upd_c = [rcols[i] for i in updated]

    compose_seq = [0]

    def compose_r(rdf: DataFrame, sdf: DataFrame) -> DataFrame:
        # unique aliases per call: the super-sweep chains TWO compose
        # joins against the same step frame in one plan, so attribute
        # references must be qualified to stay unambiguous
        compose_seq[0] += 1
        la, ra = f"__cr_l{compose_seq[0]}", f"__cr_r{compose_seq[0]}"
        rdf, sdf = rdf.alias(la), sdf.alias(ra)
        # ONE F.expr / selectExpr round-trip per sweep (r14): the
        # per-column Column towers cost ~40 py4j round-trips per sweep
        # x ~15-25 sweeps per deep fixpoint — identical join condition
        # and projection
        cond = F.expr(
            " AND ".join(
                f"{_qual(la, upd_c[i])} = {_qual(ra, s_cols[i])}" for i in range(k)
            )
        )
        out = rdf.join(sdf, cond, "inner")
        proj = []
        for i in range(arity):
            if i in updated:
                proj.append(
                    f"{_qual(ra, t_cols[updated.index(i)])} AS {sql_ident(rcols[i])}"
                )
            else:
                proj.append(_qual(la, rcols[i]))
        return out.selectExpr(*proj)

    def compose_s(sdf: DataFrame) -> DataFrame:
        # self-join: alias both sides so column refs resolve unambiguously
        a, b = sdf.alias("__pd_l"), sdf.alias("__pd_r")
        cond = F.expr(
            " AND ".join(
                f"{_qual('__pd_l', t_cols[i])} = {_qual('__pd_r', s_cols[i])}"
                for i in range(k)
            )
        )
        return a.join(b, cond, "inner").selectExpr(
            *[_qual("__pd_l", c) for c in s_cols],
            *[_qual("__pd_r", c) for c in t_cols],
        )

    # ---- distributed blocked doubling + semi-naive delta sweep ----
    #
    # Unbounded squaring (S ← S ∪ S∘S every iteration) is catastrophic on
    # DENSE step relations: once S approaches the closure, S∘S's join
    # intermediate is Σ_m indeg(m)·outdeg(m) ≈ |V|³/6 — measured ~560M
    # rows on a 1500-node/73k-edge graph whose closure is ~1.05M pairs.
    # So (a) WIDEN the step by squaring only while it stays within a
    # growth cap of the original (cheap on path-like graphs, where
    # squaring is the whole win: each delta sweep then advances 2^k
    # hops), and (b) run the R-side as a SEMI-NAIVE delta loop — only
    # newly derived tuples compose with S, so total join intermediate is
    # |closure| · avg-degree, not per-iteration recomputation. Dense
    # graphs skip (a) immediately and their small diameter bounds (b)'s
    # iteration count; deep sparse chains widen to ~8× and sweep in
    # depth/2^k jobs. Same blocked-doubling shape as the seeded BFS in
    # magic_sets.seeded_tc_closure.
    # A squaring is accepted only while it behaves like a path graph
    # (per-squaring growth ≤3× — a chain doubles exactly; a dense graph
    # jumps 7×+ on the FIRST squaring and must keep its raw edges, since
    # every widened step multiplies the delta sweeps' join fan-out) and
    # the total stays within 8× of the original edges.
    # NOTE (r10): an "exact" alternative was measured and REVERTED —
    # gating on the squaring join's intermediate (|S| × max out-degree
    # ≤ 10-30M) lets wide-but-shallow graphs widen to 4+ hops, and the
    # sweeps then pay out-degree-many rederivations per closure pair:
    # anchor 10.8 s -> 24-26 s, transitive_closure_large 27 s -> 72 s.
    # The growth ratio IS the right signal: it detects exactly the
    # fan-out that multiplies sweep volume.
    growth_cap = 8
    widened, n_widened = step, n_step
    for _ in range(6):  # ≤ 64-hop widening
        s2, n2 = _pin_count(
            widened.unionByName(compose_s(widened)).distinct()
        )
        if n2 == n_widened:
            break  # step relation closed — S* reached
        if n2 > 3 * n_widened or n2 > growth_cap * n_step:
            break  # densifying: stop squaring, sweep with what we have
        widened, n_widened = s2, n2

    # map-side the step when it fits an executor: the big (delta) side
    # then never shuffles in the compose join
    sweep_step = (
        F.broadcast(widened) if n_widened <= 2_000_000 else widened
    )
    # the accumulated result stays a LAZY union of checkpointed deltas:
    # deltas are pairwise disjoint by construction, every part is
    # already materialized, and re-checkpointing the growing union each
    # sweep would rewrite O(sweeps × |closure|) rows for nothing
    # Termination is guaranteed without an artificial depth bound: each
    # sweep's `new` is disjoint from `result` (subtract), so a nonempty
    # delta strictly grows the result toward the finite closure — at
    # most |closure| sweeps. A fixed small bound would wrongly reject
    # chains deeper than bound × 2^k hops (the pre-round-5 loop's 64
    # squarings covered any depth; sweeps don't). The huge cap below is
    # a runaway backstop, not a semantic limit.
    result = seed
    n_result = n_seed
    delta = seed

    def anti_result(composed: DataFrame, res: DataFrame) -> DataFrame:
        """Null-safe broadcast anti-join: drop already-derived tuples
        MAP-SIDE before any shuffle — on dense graphs a late sweep's
        composition is dominated by rederivations of known pairs
        (measured ~38M rows vs a ~1M-pair closure), so this cuts the
        per-sweep shuffle volume to the surviving new derivations."""
        left, right = composed.alias("__sw_l"), res.alias("__sw_r")
        cond = F.expr(
            " AND ".join(f"__sw_l.{c} <=> __sw_r.{c}" for c in rcols)
        )
        return left.join(F.broadcast(right), cond, "left_anti")

    for _ in range(1_000_000):  # depth/2^k sweeps; exits on empty delta
        if n_result <= 3_000_000:
            # broadcast null-safe anti-join + distinct ≡ EXCEPT
            # DISTINCT, but already-derived tuples are dropped MAP-SIDE
            # before any shuffle (see anti_result). A two-sweep fusion
            # (both hops in one action sharing the result broadcast via
            # ReuseExchange) was built and A/B-measured this round:
            # anchor-TC mins 10.7-11.9 s fused vs 10.5-10.6 s classic —
            # the second hop's duplicated d1 aggregate and the wider
            # fused plan cost more than the saved broadcast build, so
            # it was REVERTED (OPTIMIZATION_r13.md).
            new, n_new = _pin_count(
                anti_result(compose_r(delta, sweep_step), result).distinct()
            )
            # _pin_count severs lineage (localCheckpoint), so the next
            # sweep's delta⋈step join doesn't alias two frames sharing
            # the step's lineage (ambiguous self-join)
            if n_new == 0:
                return {head_rel: result}
            result = result.unionByName(new)
            n_result += n_new
            delta = new
        else:
            # result too big to broadcast: EXCEPT DISTINCT (dedups the
            # composition AND removes derived tuples in one shuffle);
            # single-hop sweeps — there is no shared broadcast build to
            # amortize on this branch
            composed = compose_r(delta, sweep_step)
            new, n_new = _pin_count(composed.subtract(result))
            if n_new == 0:
                return {head_rel: result}
            result = result.unionByName(new)
            n_result += n_new
            delta = new
    raise CompileError(
        "path-doubling fixpoint did not stabilize within the sweep backstop"
    )


def _local_fixpoint_max() -> int:
    """Rows of seed plus step (or of an edge relation) the closure kernel
    takes on the driver; 0 turns the kernel off."""
    import os

    return int(os.environ.get("SPARK_GRAFT_LOCAL_FIXPOINT_MAX", "100000"))


class _NaNKey:
    """NaN inside a normalized key. Spark joins and dedups NaN as equal
    to NaN, while Python's NaN equals nothing, itself included, so every
    NaN becomes this one object. It pickles by name, so executors that
    unpickle an adjacency see the same object as their own keys."""

    def __reduce__(self):
        return "NAN_KEY"


NAN_KEY = _NaNKey()


def _norm_key(vals: tuple) -> tuple:
    """`vals` with every NaN replaced by NAN_KEY, so that Python tuple
    equality matches Spark's join and distinct equality."""
    if not any(isinstance(v, float) and v != v for v in vals):
        return vals
    return tuple(NAN_KEY if isinstance(v, float) and v != v else v for v in vals)


def _collect_upto(df: DataFrame, n: int):
    """`df` as an Arrow table read with one limit-pushdown collect, or
    None when it holds more than `n` rows or `n` is not positive (no job
    then). Arrow gives the driver and the kernel on the executors the
    same Python values."""
    if n <= 0:
        return None
    table = df.limit(n + 1).toArrow()
    return table if table.num_rows <= n else None


def _table_rows(table) -> List[tuple]:
    return list(zip(*(c.to_pylist() for c in table.columns)))


def closure_adjacency(table, k: int) -> Dict[tuple, list]:
    """The kernel's adjacency of a step table whose first `k` columns
    are the old state and next `k` the new one: normalized old state ->
    normalized new states. A state with a null field never joins, so it
    gets no entry; a null new state is still reached."""
    adj: Dict[tuple, list] = {}
    for r in _table_rows(table):
        if None not in r[:k]:
            adj.setdefault(_norm_key(r[:k]), []).append(_norm_key(r[k:]))
    return adj


def _closed_groups(rows, adj, updated, arity):
    """Group seed rows by their normalized carried key, close each group
    on its own and yield its rows as column lists, with the number of
    groups still open. A group's visited set holds updated keys only,
    its seeds plus step targets, so it never outgrows seed plus step."""
    carried = [i for i in range(arity) if i not in updated]
    groups: dict = {}
    for r in rows:
        cvals = tuple(r[i] for i in carried)
        groups.setdefault(_norm_key(cvals), (cvals, set()))[1].add(
            _norm_key(tuple(r[i] for i in updated))
        )
    for n_open, (cvals, seen) in zip(range(len(groups) - 1, -1, -1), groups.values()):
        frontier = list(seen)
        while frontier:
            frontier = [
                out
                for key in frontier
                for out in adj.get(key, ())
                if out not in seen and not seen.add(out)
            ]
        cols: List[list] = [[v] * len(seen) for v in cvals]
        for j, pos in enumerate(updated):
            cols.insert(pos, [float("nan") if k[j] is NAN_KEY else k[j] for k in seen])
        yield cols, n_open


def adjacency_closure(
    spark, seed_rows, adj, updated, schema, seed_df: Optional[DataFrame] = None
) -> DataFrame:
    """The closure kernel: `X ∘ S*` for seed rows X and step adjacency S
    (`closure_adjacency`), where S rewrites the `updated` positions and
    the other, carried positions ride along unchanged. Rows are distinct
    under Spark equality (NaN equals NaN); a null state never joins.

    The driver closes one carried group after another. When all are
    closed the rows come back as a driver-built leaf: job-free within
    `session.LOCAL_LEAF_MAX_ROWS`, pinned above it. When the rows pass
    that cap with groups still open, it stops and reruns on the
    executors: one mapInArrow over the seed frame `seed_df` partitioned
    by the carried columns, pinned with one eager localCheckpoint, so
    result rows never pass through the driver. A seed of one group (a
    bound read, a carried-less closure) never reruns: the driver has
    already done the whole closure, so `seed_df` may be left out."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from inputlayer_spark import session

    rows: List[tuple] = []
    for cols, n_open in _closed_groups(seed_rows, adj, updated, len(schema)):
        rows.extend(zip(*cols))
        if len(rows) > session.LOCAL_LEAF_MAX_ROWS and n_open:
            break
    else:
        return session.small_local_df(spark, rows, schema)
    arrow_schema = to_arrow_schema(schema)

    def close_partition(batches):
        # the values come from Arrow and go back to the same types
        seeds = [r for b in batches for r in _table_rows(b)]
        out: List[list] = [[] for _ in schema]
        for cols, _ in _closed_groups(seeds, adj, updated, len(schema)):
            for o, c in zip(out, cols):
                o.extend(c)
        arrays = [pa.array(c, type=f.type) for c, f in zip(out, arrow_schema)]
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    carried = [c for i, c in enumerate(seed_df.columns) if i not in updated]
    parts = seed_df.repartition(spark.sparkContext.defaultParallelism, *carried)
    return parts.mapInArrow(close_partition, schema).localCheckpoint(eager=True)


def _bcast_rows_cap(ncols: int) -> int:
    """Row cap for broadcast hints, scaled by estimated row width
    (~24B/cell) and bounded at ~256MB: ≤3M rows for the 2-column closure
    shape, shrinking as columns grow, so wide relations don't ship
    multi-GB broadcasts."""
    return min(3_000_000, (256 << 20) // (12 + 24 * max(ncols, 1)))


def _maybe_bcast(df: Optional[DataFrame], n: Optional[int]) -> Optional[DataFrame]:
    """Broadcast-hint a frame whose row count is known small. The
    maintenance loops join tiny deltas against million-row cached
    fixpoints whose checkpointed (LogicalRDD) stats Catalyst can't
    estimate — without the hint it plans a sort-merge join that
    shuffles the big cached side on every maintenance step."""
    if df is None or n is None:
        return df
    return F.broadcast(df) if n <= _bcast_rows_cap(len(df.columns)) else df


def _apply_with_sources(
    r: Rule,
    focus_idx: Optional[int],
    focus_df: Optional[DataFrame],
    member_src: Dict[str, Optional[DataFrame]],
    resolve_base: Resolver,
    hnsw_resolver,
) -> Optional[DataFrame]:
    """Evaluate rule `r` with the positive atom at `focus_idx` reading
    `focus_df`, other member atoms reading `member_src[rel]`, and every
    remaining relation via `resolve_base`. Returns the compiled head
    frame, or None when any required source is empty/absent."""
    from inputlayer_spark.compiler import EmptyAritylessRelation

    overlay: Dict[str, DataFrame] = {}
    body = list(r.body)
    for idx, lit in enumerate(r.body):
        if not (isinstance(lit, Atom) and not lit.negated):
            continue
        if focus_idx is not None and idx == focus_idx:
            df = focus_df
        elif lit.relation in member_src:
            df = member_src[lit.relation]
        else:
            continue
        if df is None:
            return None
        # same relation may need delta AND accumulator in one body —
        # alias each occurrence to a unique name
        alias = f"__{lit.relation}__{idx}"
        overlay[alias] = df
        body[idx] = Atom(alias, lit.terms)

    def res(name: str) -> DataFrame:
        if name in overlay:
            return overlay[name]
        return resolve_base(name)

    try:
        return compile_head(
            compile_body(
                tuple(body), res, hnsw_resolver,
                bool_consts_nop=getattr(r, "persistent", False),
            ),
            r.head,
        )
    except EmptyAritylessRelation:
        return None


def _delta_rounds(
    rules: Sequence[Rule],
    members: Set[str],
    delta: Dict[str, Tuple[DataFrame, int]],
    seed: Dict[str, List[Optional[DataFrame]]],
    acc: Dict[str, Optional[DataFrame]],
    acc_rows: Dict[str, int],
    source: Callable[[], Dict[str, Optional[DataFrame]]],
    keep: Callable[[str, DataFrame], Optional[DataFrame]],
    resolve_base: Resolver,
    hnsw_resolver,
    max_rounds: int,
    row_budget: Optional[int] = None,
    compact_every: Optional[int] = None,
    bcast_delta: bool = True,
) -> bool:
    """The one semi-naive loop: from-scratch evaluation, insert, and
    DRed's overdelete and rederive differ only in what they pass.

    Each round applies every rule once per positive body atom whose
    relation has a Δ, that atom reading the Δ (broadcast-hinted when
    small, with `bcast_delta`) and the other member atoms reading
    `source()`; every other relation resolves through `resolve_base`.
    Per head, the derivations (plus
    `seed[head]` in the first round) go through distinct, `keep` (the
    caller's candidate filter, reading `acc`; None drops the head) and
    one `_pin_count`. What survives is the head's next Δ and is unioned
    into `acc[head]`, its row count added to `acc_rows[head]`; with
    `compact_every`, a head's accumulated union is re-pinned as one leaf
    once it has that many parts. A None seed frame derives nothing.

    `delta` maps a relation to the first round's Δ rows and their count;
    it may name a non-member (the written base relation). Returns True
    once a round leaves no Δ, False when another round would exceed
    `max_rounds` rounds past the first or the accumulated rows exceed
    `row_budget`."""
    parts: Dict[str, int] = {}
    rounds = 0
    while delta or seed:
        if rounds > max_rounds or (
            row_budget is not None and sum(acc_rows.values()) > row_budget
        ):
            return False
        rounds += 1
        src = source()
        focus = {
            rel: _maybe_bcast(df, n) if bcast_delta else df
            for rel, (df, n) in delta.items()
        }
        found = {h: list(seed.get(h, ())) for h in members}
        for r in rules:
            for idx, lit in enumerate(r.body):
                if isinstance(lit, Atom) and not lit.negated and lit.relation in focus:
                    found[r.head.relation].append(
                        _apply_with_sources(
                            r, idx, focus[lit.relation], src, resolve_base,
                            hnsw_resolver,
                        )
                    )
        delta, seed = {}, {}
        for h, dfs in found.items():
            dfs = [df for df in dfs if df is not None]
            if not dfs:
                continue
            cand = dfs[0]
            for df in dfs[1:]:
                cand = cand.unionByName(df)
            cand = keep(h, cand.distinct())
            if cand is None:
                continue
            cand, n = _pin_count(cand)
            if n == 0:
                continue
            delta[h] = (cand, n)
            acc_rows[h] += n
            if acc[h] is None:
                acc[h], parts[h] = cand, 1
                continue
            acc[h] = acc[h].unionByName(cand)
            parts[h] = parts.get(h, 1) + 1
            if compact_every is not None and parts[h] >= compact_every:
                acc[h], _ = _pin_count(acc[h])
                parts[h] = 1
    return True


def _seminaive_fixpoint(
    scc_rules,
    members,
    resolve,
    hnsw_resolver,
    base_extent,
) -> Dict[str, DataFrame]:
    """From-scratch semi-naive evaluation of a recursive SCC: the exit
    rules (no positive member atom) and each member's base extent seed
    the first round; later rounds read the accumulator for non-focus
    member atoms and keep what the accumulator lacks."""
    members = set(members)
    seed: Dict[str, List[Optional[DataFrame]]] = {h: [] for h in members}
    for r in scc_rules:
        if not any(
            isinstance(lit, Atom) and not lit.negated and lit.relation in members
            for lit in r.body
        ):
            seed[r.head.relation].append(
                _apply_with_sources(r, None, None, {}, resolve, hnsw_resolver)
            )
    for h in members:
        seed[h].append(base_extent(h))

    # Pinning strategy: eager localCheckpoint. persist() caches DATA but
    # leaves the LOGICAL plan intact, so per-iteration plan analysis
    # (unionByName/anti-join over an acc that references prior iterations)
    # grows without bound — measured as 10s+ driver-side unionByName calls
    # by iteration ~8 (faulthandler stack: py4j send_command inside
    # unionByName). localCheckpoint swaps the plan for a LogicalRDD leaf:
    # analysis stays O(1) per iteration. Checkpoint blocks are freed by
    # the ContextCleaner (spark.cleaner.periodicGC.interval=45s,
    # session.py) rather than deterministically — the lesser evil.
    acc: Dict[str, Optional[DataFrame]] = {h: None for h in members}
    acc_rows = {h: 0 for h in members}

    def keep(h: str, cand: DataFrame) -> DataFrame:
        if acc[h] is None:
            return cand
        # dedup against acc map-side while acc is broadcastable: a plain
        # left-anti would shuffle BOTH the candidate and the ever-growing
        # acc every iteration — the dominant cost of deep fixpoints once
        # acc outgrows a few 100k rows
        return cand.join(
            _maybe_bcast(acc[h], acc_rows[h]), on=list(cand.columns), how="left_anti"
        )

    # acc is kept as a lazy union of pinned deltas; every few iterations
    # it is compacted into one fresh pinned frame so per-iteration plan
    # analysis (anti-join against acc) stays O(1) instead of growing with
    # the iteration count — measured to dominate deep-BFS fixpoints.
    if not _delta_rounds(
        scc_rules, members, {}, seed, acc, acc_rows, lambda: acc, keep,
        resolve, hnsw_resolver, FIXPOINT_MAX_ROUNDS, compact_every=4,
        # no Δ hint: a from-scratch Δ can be a large share of the
        # fixpoint, and broadcasting it measured ~1.5x slower on the
        # 349K-pair same_generation row (13.3 s vs 9.1 s, 4 vCPUs)
        bcast_delta=False,
    ):
        raise CompileError(
            f"fixpoint did not converge in {FIXPOINT_MAX_ROUNDS} iterations"
        )
    # compact: acc is a lazy union over iteration checkpoints; one final
    # checkpoint gives consumers a flat scan. LAZY (r14, the r13
    # _pin_count discipline): the eager form ran the full-closure rewrite
    # as its own standalone job; the lazy pin folds it into the
    # consumer's first action — same blocks, one fewer job per recursive
    # query.
    return {
        h: df.localCheckpoint(eager=False) for h, df in acc.items() if df is not None
    }


def _written_delta(
    rel: str, df: DataFrame, members: Set[str]
) -> Tuple[Dict[str, Tuple[DataFrame, int]], Dict[str, List[DataFrame]]]:
    """First-round Δ and seed of a maintenance loop for the rows `df`
    written to `rel`: the rows are the Δ of `rel`'s atoms, and when `rel`
    is itself a member (a head with facts of its own) they are also
    candidates for that head directly."""
    delta = {rel: (df, df.count())}
    return delta, ({rel: [_positional(df)]} if rel in members else {})


# ---------------------------------------------------------------- DRed


def dred_retract(
    scc_rules: Sequence[Rule],
    members: Sequence[str],
    deleted_rel: str,
    deleted_df: DataFrame,
    cached: Dict[str, DataFrame],
    resolve_old: Resolver,
    resolve_new: Resolver,
    base_new: Callable[[str], Optional[DataFrame]],
    hnsw_resolver,
) -> Optional[Dict[str, DataFrame]]:
    """DRed (delete–rederive) maintenance of a positive recursive SCC's
    materialized fixpoint after base-fact deletions — the Spark analog of
    the reference's differential retraction through recursive views
    (src/incremental.rs:36-41; BENCHMARKS.md:67-71: 602 ms re-query vs
    11.3 s recompute). Classic algorithm (Gupta/Mumick/Subrahmanian '93):

    1. OVERDELETE — semi-naive fixpoint over deletions: every cached
       tuple with at least one derivation through a deleted fact, seeded
       by the deleted base tuples (themselves overdeleted when
       `deleted_rel` is a member), propagated through the SCC's rules
       against the OLD database. Cost tracks the deletion cone, not the
       view.
    2. REDERIVE — restrict to overdeleted tuples and find those with an
       alternative derivation from the remaining database, or that are
       a member's own fact in `base_new` (its extent after the delete);
       one full rule application seeds it, then semi-naive deltas. This
       is the only full-width step — a single application, not
       depth-many.

    Caller guarantees: all rules positive (no negation), no aggregates,
    no hnsw predicates, `cached` holds every member's old extent, and
    non-member body relations are unaffected by the deletion.
    Returns {member: maintained DataFrame}, or None to signal the caller
    to fall back to full recomputation.

    Cost guard — WHEN DRed loses to recompute: the overdelete loop
    propagates the deletion cone ONE derivation step per iteration
    (linear rules), each iteration costing a handful of Spark jobs. On a
    deep chain a single deleted edge near the end overdeletes
    depth-many tuples across depth-many iterations — measured runaway
    (hundreds of iterations × ~4 jobs) where the from-scratch
    path-doubling recompute is LOG-depth. So DRed bails to recompute
    when (a) the cone hasn't converged within `MAINTAIN_MAX_ROUNDS`
    hops, or (b) the overdeleted set exceeds half of the cached view
    (rederiving most of the view = recomputing it, with extra
    bookkeeping). Bailing is always safe: the caller invalidates and
    re-derives.
    """
    rules = list(scc_rules)
    members = set(members)

    # ---------------------------------------------------- 1. overdelete
    over: Dict[str, Optional[DataFrame]] = {h: None for h in members}

    def keep_over(h: str, cand: DataFrame) -> DataFrame:
        cand = cand.join(cached[h], on=list(cand.columns), how="left_semi")
        if over[h] is not None:
            cand = cand.join(over[h], on=list(cand.columns), how="left_anti")
        return cand

    delta, seed = _written_delta(deleted_rel, deleted_df, members)
    # cone-size budget: half the cached view (see docstring guard (b));
    # counting cached extents costs one job per member, paid once
    cone_budget = max(1, sum(cached[h].count() for h in members) // 2)
    if not _delta_rounds(
        rules, members, delta, seed, over, {h: 0 for h in members}, lambda: cached,
        keep_over, resolve_old, hnsw_resolver, MAINTAIN_MAX_ROUNDS,
        row_budget=cone_budget,
    ):
        return None  # deep/wide cone: recompute (log-depth) wins
    if all(over[h] is None for h in members):
        # deletion cone never reached this SCC — extents unchanged
        return {h: cached[h] for h in members}
    for h in members:
        if over[h] is not None:
            over[h], _ = _pin_count(over[h])

    # ---------------------------------------------------- 2. rederive
    remaining: Dict[str, DataFrame] = {}
    for h in members:
        if over[h] is None:
            remaining[h] = cached[h]
        else:
            rem = cached[h].join(over[h], on=list(cached[h].columns), how="left_anti")
            remaining[h], _ = _pin_count(rem)

    red: Dict[str, Optional[DataFrame]] = {h: None for h in members}

    def keep_red(h: str, cand: DataFrame) -> Optional[DataFrame]:
        if over[h] is None:
            return None
        cand = cand.join(over[h], on=list(cand.columns), how="left_semi")
        if red[h] is not None:
            cand = cand.join(red[h], on=list(cand.columns), how="left_anti")
        return cand

    # seed: ONE rule application over the remaining db plus each
    # member's own facts, restricted to the overdeleted tuples
    # (alternative-derivation check). Heads with no overdeleted tuples
    # are skipped outright — their seed would be discarded by the
    # semi-join. (A cone-column pre-filter of the body atoms was
    # measured here and REVERTED: on dense closures the cone's
    # head-variable projections cover most of the domain, so the extra
    # broadcast semi-joins cost a view-width pass without shrinking the
    # join — r10 probe: rederive_seed 1.0-1.5 s unfiltered vs 2.6-3.4 s
    # filtered on the bench's 1M-pair closure.)
    seed = {h: [] for h in members if over[h] is not None}
    for r in rules:
        if r.head.relation in seed:
            seed[r.head.relation].append(
                _apply_with_sources(r, None, None, remaining, resolve_new, hnsw_resolver)
            )
    for h in seed:
        seed[h].append(_positional(base_new(h)))

    def current() -> Dict[str, Optional[DataFrame]]:
        return {
            h: remaining[h] if red[h] is None else remaining[h].unionByName(red[h])
            for h in members
        }

    if not _delta_rounds(
        rules, members, {}, seed, red, {h: 0 for h in members}, current, keep_red,
        resolve_new, hnsw_resolver, MAINTAIN_MAX_ROUNDS,
    ):
        return None

    # LAZY pin (r14): the overdelete anti-join + closure rewrite fold
    # into the consumer's first action (one job) instead of running as a
    # standalone materialization job per retraction; all inputs are
    # pinned leaves, so what materializes is identical (same
    # immutability argument as the r13 engine-view pins).
    return {h: df.localCheckpoint(eager=False) for h, df in current().items()}


def seminaive_insert(
    scc_rules: Sequence[Rule],
    members: Sequence[str],
    inserted_rel: str,
    inserted_df: DataFrame,
    cached: Dict[str, DataFrame],
    resolve_new: Resolver,
    hnsw_resolver,
) -> Optional[Dict[str, DataFrame]]:
    """Semi-naive INSERTION maintenance of a positive recursive SCC's
    materialized fixpoint after base-fact inserts — the counterpart of
    `dred_retract` for the +Δ direction (reference differential update,
    src/incremental.rs:26-34; BENCHMARKS.md:50-66: ms-scale re-query
    after inserting into a view with a ~1M-tuple closure).

    Monotone Datalog needs no overdelete/rederive: the new fixpoint is
    the old one plus every tuple derivable using ≥1 inserted fact.

    1. SEED — each rule applied with one occurrence of the inserted base
       relation bound to the Δ rows and everything else at its NEW
       extent (members at their cached fixpoints). Applying Δ at each
       occurrence separately covers multi-occurrence rules under set
       semantics. When `inserted_rel` is a member, the Δ rows are new
       tuples of that head too.
    2. PROPAGATE — classic semi-naive deltas through the member atoms,
       anti-joined against the accumulated extents, until empty.

    Caller guarantees (same contract as dred_retract): all rules
    positive, no aggregates or hnsw predicates, `cached` holds every
    member's old extent, non-member body relations are unaffected by the
    insert, and `resolve_new` already resolves `inserted_rel` to its
    post-insert extent.

    Cost guard: a Δ whose derivation cone is DEEP (an edge prepended to
    a long chain reaches depth-many new tuples one hop per iteration)
    loses to the log-depth doubling recompute, so bail to None past
    `MAINTAIN_MAX_ROUNDS`. Bailing is always safe — the caller falls
    back to invalidate + recompute.
    """
    members = set(members)
    acc: Dict[str, Optional[DataFrame]] = {h: cached[h] for h in members}

    def minus_acc(h: str, cand: DataFrame) -> DataFrame:
        """cand \\ acc[h] without shuffling the (large) accumulated
        extent: semi-join acc DOWN to rows matching the tiny candidate
        set (broadcast, one streaming pass over acc), then anti-join
        tiny-vs-tiny — the try_delta_merge trick."""
        existing = acc[h].join(
            F.broadcast(cand), on=list(cand.columns), how="left_semi"
        )
        # existing ⊆ cand is tiny too — broadcast it so the final
        # anti-join is a broadcast hash join, not a shuffled SMJ
        return cand.join(
            F.broadcast(existing), on=list(cand.columns), how="left_anti"
        )

    delta, seed = _written_delta(inserted_rel, inserted_df, members)
    if not _delta_rounds(
        list(scc_rules), members, delta, seed, acc, {h: 0 for h in members},
        lambda: acc, minus_acc, resolve_new, hnsw_resolver, MAINTAIN_MAX_ROUNDS,
    ):
        return None  # deep cone: log-depth recompute wins

    out: Dict[str, DataFrame] = {}
    for h in members:
        # KEPT EAGER (r14 honest negative, measured on the bench's own
        # 1M-pair/10-edge-cycle shape): returning the lazy UNION of the
        # cached extent + pinned deltas (no rewrite at all) measured
        # +1.3 s per maintenance cycle — every downstream scan of the
        # union read ~0.3 s slower than the freshly rewritten compact
        # leaf — and a LAZY pin only moved the rewrite into the next
        # query (exec -0.2 s, query +0.2 s, net wash, worse tail
        # latency for the re-query the bench measures). The eager
        # rewrite keeps consumers on a flat, just-written leaf.
        out[h] = acc[h].localCheckpoint(eager=True)
    return out
