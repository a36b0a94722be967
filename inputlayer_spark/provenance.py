"""Provenance: `.why` / `.why_not` by backward chaining over rule ASTs.

Ports the *approach* of the reference's recompute-based provenance
(`/root/reference/src/provenance/backward_chaining.rs:103`,
`why_not.rs:25`, unification in `provenance/unification.rs`): a derived
tuple is explained by unifying it against each rule head, re-evaluating
the rule body restricted to those bindings, and recursing into the body
atoms of one satisfying binding. `.why_not` walks body prefixes to find
the first literal that eliminates all candidate bindings.

Returned shape: rows of (depth, conclusion, via) — a preorder flattening
of the proof tree, DataFrame-friendly.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Set, Tuple

from pyspark.sql import functions as F

from inputlayer_spark.ast_nodes import Atom, Comparison, Const, Var, VecLit
from inputlayer_spark.compiler import CompileError, compile_body
from inputlayer_spark.parser import Parser
from inputlayer_spark.printer import rule_to_iql, term_to_iql

_MAX_DEPTH = 12


def _atom_str(relation: str, values: Tuple) -> str:
    return f"{relation}({', '.join(term_to_iql(Const(v)) for v in values)})"


def parse_goal(goal_text: str) -> Atom:
    p = Parser(goal_text.lstrip("?").strip())
    atom = p._atom()
    for t in atom.terms:
        if not isinstance(t, (Const, VecLit)):
            raise CompileError(".why/.why_not goals must be ground, e.g. .why reach(0, 3)")
    return atom


def explain_goal(engine, goal_text: str, why_not: bool = False) -> List[Tuple[int, str, str]]:
    goal = parse_goal(goal_text)
    values = tuple(t.value if isinstance(t, Const) else list(t.values) for t in goal.terms)
    rows: List[Tuple[int, str, str]] = []
    if why_not:
        _explain_absent(engine, goal.relation, values, 0, rows, set())
    else:
        _prove(engine, goal.relation, values, 0, rows, set())
    return rows or [(0, _atom_str(goal.relation, values), "no explanation")]


def _rules_for(engine, relation: str):
    return [r for r in engine._all_rules() if r.head.relation == relation]


def _base_holds(engine, relation: str, values: Tuple) -> Optional[bool]:
    df = engine.current.relations.get(relation)
    if df is None:
        return None
    if len(df.columns) != len(values):
        return False
    cond = None
    for col, v in zip(df.columns, values):
        c = F.col(col) == (
            F.array(*[F.lit(float(x)) for x in v]).cast("array<float>")
            if isinstance(v, list)
            else F.lit(v)
        )
        cond = c if cond is None else (cond & c)
    return not df.filter(cond).isEmpty() if cond is not None else not df.isEmpty()


def _head_bindings(rule, values: Tuple) -> Optional[Dict[str, object]]:
    """Unify ground values against the rule head; None on mismatch."""
    bind: Dict[str, object] = {}
    for t, v in zip(rule.head.terms, values):
        if isinstance(t, Const):
            if t.value != v:
                return None
        elif isinstance(t, Var) and not t.is_wildcard:
            if t.name in bind and bind[t.name] != v:
                return None
            bind[t.name] = v
        else:
            return None  # aggregate/expression heads: not explained (yet)
    return bind


def _bound_body_df(engine, rule, bind: Dict[str, object]):
    from inputlayer_spark.ast_nodes import Atom as _Atom

    derived = engine._materialize_for(
        {l.relation for l in rule.body if isinstance(l, _Atom)}
    )
    body_df = compile_body(rule.body, engine._resolver(derived), engine._hnsw_resolver)
    for name, v in bind.items():
        if name in body_df.columns:
            if isinstance(v, list):
                body_df = body_df.filter(
                    F.col(name) == F.array(*[F.lit(float(x)) for x in v]).cast("array<float>")
                )
            else:
                body_df = body_df.filter(F.col(name) == F.lit(v))
    return body_df


def _prove(
    engine,
    relation: str,
    values: Tuple,
    depth: int,
    rows: List[Tuple[int, str, str]],
    seen: Set[Tuple],
) -> bool:
    key = (relation, values)
    if key in seen or depth > _MAX_DEPTH:
        rows.append((depth, _atom_str(relation, values), "…(cycle/depth cut)"))
        return True
    seen = seen | {key}

    base = _base_holds(engine, relation, values)
    if base:
        rows.append((depth, _atom_str(relation, values), "base fact"))
        return True

    for rule in _rules_for(engine, relation):
        bind = _head_bindings(rule, values)
        if bind is None:
            continue
        body_df = _bound_body_df(engine, rule, bind)
        hit = body_df.limit(1).collect()
        if not hit:
            continue
        row = hit[0].asDict()
        rows.append((depth, _atom_str(relation, values), f"rule: {rule_to_iql(rule)}"))
        for lit in rule.body:
            if isinstance(lit, Atom) and not lit.negated:
                sub_vals = []
                ok = True
                for t in lit.terms:
                    if isinstance(t, Const):
                        sub_vals.append(t.value)
                    elif isinstance(t, Var) and not t.is_wildcard and t.name in row:
                        sub_vals.append(row[t.name])
                    else:
                        ok = False
                        break
                if ok:
                    _prove(engine, lit.relation, tuple(sub_vals), depth + 1, rows, seen)
        return True

    rows.append((depth, _atom_str(relation, values), "NOT derivable"))
    return False


def _explain_absent(
    engine,
    relation: str,
    values: Tuple,
    depth: int,
    rows: List[Tuple[int, str, str]],
    seen: Set[Tuple],
) -> None:
    """why_not: for each candidate rule, find the first body literal whose
    addition eliminates every binding (reference src/provenance/why_not.rs)."""
    if _base_holds(engine, relation, values):
        rows.append((depth, _atom_str(relation, values), "IS present (base fact)"))
        return
    rules = _rules_for(engine, relation)
    if not rules:
        base = engine.current.relations.get(relation)
        via = "relation does not exist" if base is None else "tuple not in base relation"
        rows.append((depth, _atom_str(relation, values), via))
        return
    derivable = any(
        (b := _head_bindings(r, values)) is not None
        and _bound_body_df(engine, r, b).limit(1).count() > 0
        for r in rules
    )
    if derivable:
        rows.append((depth, _atom_str(relation, values), "IS derivable"))
        return
    rows.append((depth, _atom_str(relation, values), "not derivable; per-rule blockers:"))
    for rule in rules:
        bind = _head_bindings(rule, values)
        if bind is None:
            rows.append((depth + 1, rule_to_iql(rule), "head does not unify"))
            continue
        blocker = _first_blocker(engine, rule, bind)
        rows.append((depth + 1, rule_to_iql(rule), blocker))


def _first_blocker(engine, rule, bind: Dict[str, object]) -> str:
    from inputlayer_spark.printer import literal_to_iql

    from inputlayer_spark.ast_nodes import Atom as _Atom

    derived = engine._materialize_for(
        {l.relation for l in rule.body if isinstance(l, _Atom)}
    )
    resolve = engine._resolver(derived)
    for k in range(1, len(rule.body) + 1):
        prefix = rule.body[:k]
        try:
            df = compile_body(prefix, resolve, engine._hnsw_resolver)
        except CompileError:
            continue  # prefix not yet safe (unbound comparison) — extend
        for name, v in bind.items():
            if name in df.columns:
                df = df.filter(F.col(name) == F.lit(v))
        if df.limit(1).isEmpty():
            return f"first failing literal: {literal_to_iql(rule.body[k - 1])}"
    return "body satisfiable only under different head bindings"
