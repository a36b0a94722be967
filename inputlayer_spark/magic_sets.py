"""Magic-sets rewriting for bound recursive queries.

Re-implements the semantics of the reference's demand transformation
(`/root/reference/src/magic_sets/mod.rs`, wired at `src/lib.rs:702-765`):
a query `?reach(0, Y)` over a recursive predicate is rewritten so the
fixpoint only derives tuples *reachable from the demanded bindings*
instead of the full relation — the reference measures 288-1,587x on
bound transitive closure (`BENCHMARKS.md:15-20`).

Scope (deliberate, mirrors where the payoff is): predicates in the goal's
recursive SCC are adorned; IDB atoms outside the SCC stay unadorned and
resolve to their (lazily-built) DataFrames, where Catalyst's own filter
pushdown already provides the demand restriction for non-recursive views.

Algorithm (generalized magic sets, left-to-right SIP):

1. Adorn the goal: constant args are bound ('b'), variables free ('f').
2. For each adorned predicate p^a, each rule head p(...):
   - bound set := head vars at bound positions
   - walk the body left-to-right; every literal's vars join the bound set
     once the literal is processed
   - an SCC atom q(args) gets adornment from currently-bound args; emit a
     magic rule  magic_q^b(bound args) <- magic_p^a(bound head args),
     <body prefix>  and enqueue q^b
   - the transformed rule gets magic_p^a(bound head args) prepended
3. Seed: magic_goal^a(consts) as a one-row relation.

The transformed program is evaluated by the ordinary stratified
semi-naive machinery — the magic predicates' fixpoint IS the seeded BFS
of the reference's bound-TC fast path (code_generator/mod.rs:834),
falling out of the rewrite instead of being a special case.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Set, Tuple

from inputlayer_spark.ast_nodes import (
    Agg,
    Atom,
    Comparison,
    Const,
    HnswNearest,
    Rule,
    Var,
    VecLit,
    literal_vars,
    term_vars,
)


@dataclass
class MagicRewrite:
    """Result of a successful rewrite."""

    rules: List[Rule]  # transformed SCC rules + magic rules
    seed_relation: str  # name of the magic seed relation
    seed_row: tuple  # one row of bound constant values
    goal_relation: str  # adorned goal name to query instead


def _adorned(name: str, ad: str) -> str:
    return f"__{name}__{ad}"


def _magic(name: str, ad: str) -> str:
    return f"__magic_{name}__{ad}"


def _is_bound_term(t, bound: Set[str]) -> bool:
    if isinstance(t, (Const, VecLit)):
        return True
    if isinstance(t, Var):
        return (not t.is_wildcard) and t.name in bound
    # arithmetic / calls: bound iff all their vars are
    vs = term_vars(t)
    return bool(vs) and vs <= bound or (not vs and not isinstance(t, Agg))


def magic_rewrite(
    goal: Atom, rules: Sequence[Rule], scc: Sequence[str]
) -> Optional[MagicRewrite]:
    """Attempt the rewrite for `goal` whose relation lives in recursive
    `scc`. Returns None when the shape is unsupported (the caller falls
    back to full evaluation — always correct, just slower)."""
    members = set(scc)
    scc_rules = [r for r in rules if r.head.relation in members]
    if not scc_rules:
        return None

    # unsupported shapes: aggregates in SCC heads (restricting the body
    # would change group contents mid-fixpoint), negated SCC atoms
    # (stratification rejects these anyway), non-var/const head terms
    for r in scc_rules:
        if any(isinstance(t, Agg) for t in r.head.terms):
            return None
        if any(not isinstance(t, (Var, Const)) for t in r.head.terms):
            return None
        for lit in r.body:
            if isinstance(lit, Atom) and lit.negated and lit.relation in members:
                return None
            if isinstance(lit, HnswNearest):
                return None

    # goal adornment from constant positions
    ad = "".join(
        "b" if isinstance(t, (Const, VecLit)) else "f" for t in goal.terms
    )
    if "b" not in ad:
        return None  # all-free goal: no demand to exploit
    # (all-bound = point query ?reach(1, 42): rewrite applies unchanged,
    # matching the reference's point-query benchmark BENCHMARKS.md:17-20)

    # Bound-TC fast path (reference code_generator/mod.rs:834 seeded BFS):
    # for the linear transitive-closure shape, left- and right-linear
    # recursion are equivalent — but under magic sets only one of them
    # degenerates to a pure frontier BFS for a given binding side. With
    # the wrong linearity the demanded set is all reachable nodes and the
    # rewrite computes the full TC of the reachable subgraph. Flip before
    # adorning.
    flipped = _flip_tc_linearity(goal.relation, ad, rules, members)
    if flipped is not None:
        rules = flipped
        scc_rules = [r for r in rules if r.head.relation in members]

    return _rewrite_with_adornment(goal, ad, rules, members, scc_rules)


def tc_bfs_shape(
    goal: Atom, rules: Sequence[Rule], members: Set[str]
) -> Optional[Tuple[str, bool, object, object]]:
    """Recognize a bound goal over the pure binary-TC shape
    (`p(A,B) <- e(A,B); p(A,C) <- e(A,B), p(B,C)` in either linearity —
    both compute e+). Returns (edge_rel, forward, seed_const,
    other_const_or_None): forward=True when the FIRST goal arg is bound
    (BFS over e from the seed), False when only the second is (BFS over
    reversed e). The caller runs `seeded_tc_closure` instead of the
    generic magic program — same demand restriction, log-ish jobs.
    """
    if len(goal.terms) != 2 or len(members) != 1:
        return None
    pred = goal.relation
    consts = [t.value if isinstance(t, Const) else None for t in goal.terms]
    if all(c is None for c in consts):
        return None
    if any(isinstance(t, VecLit) for t in goal.terms):
        return None
    # repeated var ?p(X, X) is not a plain closure filter
    vs = [t.name for t in goal.terms if isinstance(t, Var) and not t.is_wildcard]
    if len(vs) != len(set(vs)):
        return None
    ad = "".join("b" if c is not None else "f" for c in consts)
    flipped = _flip_tc_linearity(pred, ad, rules, members)
    if flipped is None:
        return None
    # _flip_tc_linearity validated the exact two-rule TC shape; pull the
    # edge relation from the (unchanged) exit rule
    exit_rule = next(
        r
        for r in flipped
        if r.head.relation == pred
        and not any(
            isinstance(l, Atom) and l.relation == pred for l in r.body
        )
    )
    edge_rel = exit_rule.body[0].relation
    if ad == "bb":
        return edge_rel, True, consts[0], consts[1]
    if ad == "bf":
        return edge_rel, True, consts[0], None
    return edge_rel, False, consts[1], None


def tc_adjacency(edge_df, forward: bool) -> Optional[Dict]:
    """Driver-side adjacency of a 2-column edge frame in the closure
    kernel's shape (`recursion.closure_adjacency`): normalized `(source,)`
    -> `(target,)` tuples, read with one limit-pushdown collect. The
    engine caches it per edge relation and direction, so a warm bound
    read runs the kernel with no Spark job. None when the relation holds
    more than `_local_fixpoint_max()` rows; the distributed path runs
    then."""
    from inputlayer_spark import recursion

    cols = edge_df.columns
    s, t = (cols[0], cols[1]) if forward else (cols[1], cols[0])
    edges = edge_df.select(edge_df[s], edge_df[t])
    table = recursion._collect_upto(edges, recursion._local_fixpoint_max())
    return None if table is None else recursion.closure_adjacency(table, 1)


def seeded_tc_closure(
    edge_df,
    seed_value,
    forward: bool = True,
    adjacency: Optional[Dict] = None,
    growth_cap: int = 32,
):
    """Single-source reachability over `edge_df` (2 columns).

    With `adjacency` (from `tc_adjacency`: the edge list fits the driver)
    it runs the closure kernel (`recursion.adjacency_closure`) from the
    one-node seed on the driver, the broadcast-threshold principle. The
    answer is a driver-built leaf, pinned when it is large: the seed is
    one carried group, so a rerun on the executors would only repeat the
    BFS the driver has finished. Otherwise it runs blocked path
    doubling: square the step relation while it stays under
    `growth_cap`x the edge count (on a path-like graph S^(<=2^k) grows
    linearly, so squaring is cheap and each BFS job then advances up to
    2^k hops), then frontier-BFS with the widened step. Deep chains take
    O(log depth + depth/2^k) jobs instead of O(depth); dense graphs stop
    squaring immediately and degrade to plain BFS, whose iteration count
    (the diameter) is small for them anyway.

    Returns a DataFrame (c0, c1) of (seed, reached) pairs — the adorned
    goal relation of the magic rewrite, reachable-in->=1-hop semantics.
    """
    from pyspark.sql import functions as F

    cols = edge_df.columns
    e_raw = edge_df.select(
        edge_df[cols[0]].alias("s") if forward else edge_df[cols[1]].alias("s"),
        edge_df[cols[1]].alias("t") if forward else edge_df[cols[0]].alias("t"),
    )
    spark = edge_df.sparkSession
    empty = e_raw.select(
        e_raw["s"].alias("c0"), e_raw["t"].alias("c1")
    ).filter(F.lit(False))

    if adjacency is not None:
        from inputlayer_spark.recursion import _norm_key, adjacency_closure

        # the one-node seed (seed, t) for each edge out of it: position 0
        # is carried, the kernel walks position 1; Arrow types the seed
        # value by the edge column (an int bound over double edges)
        out_of_seed = adjacency.get(_norm_key((seed_value,)), ())
        seeds = [(seed_value, t) for (t,) in out_of_seed]
        return adjacency_closure(spark, seeds, adjacency, [1], empty.schema)

    e = e_raw.distinct().localCheckpoint(eager=True)
    n_e = e.count()
    seed_lit = F.lit(seed_value).cast(e.schema["s"].dataType)
    if n_e == 0:
        return empty

    def compose(sdf):
        a, b = sdf.alias("__bd_l"), sdf.alias("__bd_r")
        return a.join(
            b, F.col("__bd_l.t") == F.col("__bd_r.s"), "inner"
        ).select(F.col("__bd_l.s"), F.col("__bd_r.t"))

    step, n_step = e, n_e
    for _ in range(16):
        widened = step.unionByName(compose(step)).distinct().localCheckpoint(
            eager=True
        )
        n_w = widened.count()
        if n_w == n_step:
            # closure reached outright — the seed filter is a lookup
            return widened.filter(widened["s"] == seed_lit).select(
                widened["s"].alias("c0"), widened["t"].alias("c1")
            )
        if n_w > 3 * n_step or n_w > growth_cap * n_e:
            # Densifying, not chain-like (a chain doubles per squaring;
            # dense graphs jump 5x+). Escalation is the real hazard:
            # squaring an already-densified step costs Σ in·out ≈ |V|³/6
            # — the blow-up measured and fixed in recursion.py's full-TC
            # loop. Dense graphs have small diameters, so the BFS below
            # loses nothing by keeping the narrower step.
            break
        step, n_step = widened, n_w

    visited = None
    frontier = e.select("s").filter(e["s"] == seed_lit).distinct()
    while True:
        f, st = frontier.alias("__bfs_f"), step.alias("__bfs_s")
        hop = (
            f.join(st, F.col("__bfs_f.s") == F.col("__bfs_s.s"), "inner")
            .select(F.col("__bfs_s.t").alias("s"))
            .distinct()
        )
        if visited is not None:
            hop = hop.join(visited, on="s", how="left_anti")
        hop = hop.localCheckpoint(eager=True)
        if hop.count() == 0:
            break
        visited = hop if visited is None else visited.unionByName(hop)
        frontier = hop
    if visited is None:
        return empty
    return visited.select(seed_lit.alias("c0"), F.col("s").alias("c1"))


def _flip_tc_linearity(
    pred: str, ad: str, rules: Sequence[Rule], members: Set[str]
) -> Optional[List[Rule]]:
    """Detect `p(A,B) <- e(A,B); p(A,C) <- e(A,B), p(B,C)` (or the
    left-linear variant) and rewrite the recursive rule to the linearity
    that makes the magic program a seeded BFS: left-linear when the first
    argument is bound, right-linear when (only) the second is."""
    if len(members) != 1 or len(ad) != 2:
        return None
    p_rules = [(i, r) for i, r in enumerate(rules) if r.head.relation == pred]
    if len(p_rules) != 2:
        return None

    def vars2(atom: Atom) -> Optional[Tuple[str, str]]:
        if len(atom.terms) == 2 and all(
            isinstance(t, Var) and not t.is_wildcard for t in atom.terms
        ):
            return atom.terms[0].name, atom.terms[1].name
        return None

    exit_rule = rec_rule = None
    rec_idx = None
    for i, r in enumerate(rules):
        if r.head.relation != pred:
            continue
        body_atoms = [l for l in r.body if isinstance(l, Atom)]
        if len(body_atoms) != len(r.body):
            return None  # comparisons/builtins present: keep general path
        if any(a.negated for a in body_atoms):
            return None
        rec_atoms = [a for a in body_atoms if a.relation == pred]
        if not rec_atoms:
            if exit_rule is not None or len(body_atoms) != 1:
                return None
            exit_rule = r
        else:
            if rec_rule is not None or len(body_atoms) != 2 or len(rec_atoms) != 1:
                return None
            rec_rule, rec_idx = r, i

    if exit_rule is None or rec_rule is None:
        return None
    hv = vars2(exit_rule.head)
    ev = vars2(exit_rule.body[0])
    if hv is None or ev is None or hv != ev:
        return None
    edge_rel = exit_rule.body[0].relation
    if edge_rel in members:
        return None

    rh = vars2(rec_rule.head)
    b0, b1 = rec_rule.body
    v0, v1 = vars2(b0), vars2(b1)
    if rh is None or v0 is None or v1 is None:
        return None
    A, C = rh

    right_linear = (
        b0.relation == edge_rel
        and b1.relation == pred
        and v0[0] == A
        and v0[1] == v1[0]
        and v1[1] == C
        and len({A, v0[1], C}) == 3
    )
    left_linear = (
        b0.relation == pred
        and b1.relation == edge_rel
        and v0[0] == A
        and v0[1] == v1[0]
        and v1[1] == C
        and len({A, v0[1], C}) == 3
    )
    if not (right_linear or left_linear):
        return None

    want_left = ad[0] == "b"  # first arg bound (bf or bb) → forward BFS
    if (want_left and left_linear) or (not want_left and right_linear):
        return list(rules)  # already the right linearity
    B = v0[1]
    if want_left:
        new_body = (Atom(pred, (Var(A), Var(B))), Atom(edge_rel, (Var(B), Var(C))))
    else:
        new_body = (Atom(edge_rel, (Var(A), Var(B))), Atom(pred, (Var(B), Var(C))))
    new_rules = list(rules)
    new_rules[rec_idx] = Rule(rec_rule.head, new_body, rec_rule.persistent)
    return new_rules


def _rewrite_with_adornment(
    goal: Atom,
    goal_ad: str,
    rules: Sequence[Rule],
    members: Set[str],
    scc_rules: Sequence[Rule],
) -> Optional[MagicRewrite]:
    out_rules: List[Rule] = []
    done: Set[Tuple[str, str]] = set()
    work: List[Tuple[str, str]] = [(goal.relation, goal_ad)]

    while work:
        pred, ad = work.pop()
        if (pred, ad) in done:
            continue
        done.add((pred, ad))
        for r in rules:
            if r.head.relation != pred:
                continue
            rewritten = _rewrite_rule(r, ad, members, work)
            if rewritten is None:
                return None
            for nr in rewritten:
                # drop tautological magic rules (magic(X) <- magic(X), ...
                # arises for left-linear recursion) — they derive nothing
                # new but force an extra fixpoint round
                if (
                    len(nr.body) == 1
                    and isinstance(nr.body[0], Atom)
                    and nr.body[0] == nr.head
                ):
                    continue
                out_rules.append(nr)

    # seed fact
    seed_rel = _magic(goal.relation, goal_ad)
    seed_vals = []
    for t, a in zip(goal.terms, goal_ad):
        if a == "b":
            seed_vals.append(
                list(t.values) if isinstance(t, VecLit) else t.value  # type: ignore[union-attr]
            )
    return MagicRewrite(
        rules=out_rules,
        seed_relation=seed_rel,
        seed_row=tuple(seed_vals),
        goal_relation=_adorned(goal.relation, goal_ad),
    )


def _rewrite_rule(
    r: Rule, ad: str, members: Set[str], work: List[Tuple[str, str]]
) -> Optional[List[Rule]]:
    if len(ad) != len(r.head.terms):
        return None

    def attempt(body_order: Sequence):
        """Walk one SIP order; returns (new_body, magic_rules, occ_ads,
        enqueue) or None when a recursive occurrence ends up all-free."""
        bound_head_terms = [t for t, a in zip(r.head.terms, ad) if a == "b"]
        magic_atom = Atom(_magic(r.head.relation, ad), tuple(bound_head_terms))
        bound: Set[str] = set()
        for t, a in zip(r.head.terms, ad):
            if a == "b":
                bound |= term_vars(t)

        new_body: List = [magic_atom]
        magic_rules: List[Rule] = []
        prefix: List = [magic_atom]
        occ_ads: List[str] = []
        enqueue: List[Tuple[str, str]] = []

        for lit in body_order:
            if isinstance(lit, Atom) and not lit.negated and lit.relation in members:
                occ_ad = "".join(
                    "b" if _is_bound_term(t, bound) else "f" for t in lit.terms
                )
                if "b" not in occ_ad:
                    return None  # no demand restriction on this occurrence
                bound_args = tuple(t for t, a in zip(lit.terms, occ_ad) if a == "b")
                magic_rules.append(
                    Rule(
                        Atom(_magic(lit.relation, occ_ad), bound_args),
                        tuple(prefix),
                        persistent=False,
                    )
                )
                enqueue.append((lit.relation, occ_ad))
                adorned_atom = Atom(_adorned(lit.relation, occ_ad), lit.terms)
                new_body.append(adorned_atom)
                prefix.append(adorned_atom)
                occ_ads.append(occ_ad)
                bound |= literal_vars(lit)
            else:
                new_body.append(lit)
                prefix.append(lit)
                if isinstance(lit, Atom) and not lit.negated:
                    bound |= literal_vars(lit)
                elif isinstance(lit, Comparison):
                    # binding comparisons (V = expr) bind their vars
                    bound |= literal_vars(lit)
        return new_body, magic_rules, occ_ads, enqueue

    # SIP order selection: prefer an order whose recursive occurrences
    # keep the head's adornment — mismatched adornments multiply the
    # demanded predicates (e.g. fb goal on right-linear recursion turns
    # into point-query bb demand per edge). Try textual order, then
    # recursive-atoms-first.
    is_rec = lambda l: isinstance(l, Atom) and not l.negated and l.relation in members
    candidates: List[Sequence] = [r.body]
    rec_first = tuple(sorted(r.body, key=lambda l: 0 if is_rec(l) else 1))
    if rec_first != tuple(r.body):
        candidates.append(rec_first)

    chosen = None
    for order in candidates:
        res = attempt(order)
        if res is None:
            continue
        if chosen is None:
            chosen = res
        if all(a == ad for a in res[2]):
            chosen = res
            break
    if chosen is None:
        return None
    new_body, magic_rules, _, enqueue = chosen
    work.extend(enqueue)

    head = Atom(_adorned(r.head.relation, ad), r.head.terms)
    # Propagate the source rule's persistence: compile_body applies
    # boolean-constant no-op semantics only to persistent rules, and the
    # magic fast path must filter identically to full evaluation.
    out = [Rule(head, tuple(new_body), persistent=getattr(r, "persistent", False))]
    out.extend(magic_rules)
    return out
