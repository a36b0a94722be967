"""Rule compiler: IQL rule bodies → Spark DataFrame logical plans.

Re-implements the semantics of the reference IR builder
(`/root/reference/src/ir_builder/mod.rs`: build_scans :185, build_join
:333, build_antijoins :370, build_computed_columns :487,
build_comparison_filters :782, build_projection :1275, build_aggregation
:1562) declaratively: each positive atom becomes a scan whose columns are
renamed to variable names, shared variables become equi-join keys,
repeated variables / constants become filters, negation becomes a
left-anti join, `V = expr` comparisons become computed columns, and head
aggregates become groupBy/Window aggregations. Catalyst then does the
algebraic optimization the reference does by hand (pushdown, fusion,
reordering — SURVEY.md §4.1).

Internal column naming: a compiled body DataFrame has one column per
bound variable, named exactly the variable name. Materialized relations
use positional names c0..cn.
"""

from __future__ import annotations

import itertools
from typing import Callable, Dict, List, Optional, Sequence, Set, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inputlayer_spark.ast_nodes import (
    Agg,
    Arith,
    Atom,
    Call,
    Comparison,
    Const,
    HnswNearest,
    Var,
    VecLit,
)
from inputlayer_spark.functions import BUILTINS, vector

Resolver = Callable[[str], DataFrame]


class CompileError(ValueError):
    pass


class EmptyAritylessRelation(CompileError):
    """Raised by resolvers for `+rel[]`-declared relations whose arity is
    unknown; scan_atom synthesizes an empty frame at the atom's arity."""


def positional_names(n: int) -> List[str]:
    return [f"c{i}" for i in range(n)]


# ------------------------------------------------------------ terms


def term_is_computable(term, bound: Set[str]) -> bool:
    from inputlayer_spark.ast_nodes import term_vars

    return term_vars(term) <= bound


# Every term compiles to ONE Spark SQL string, parsed with a single
# F.expr / selectExpr / filter(str) py4j round-trip. Query construction
# cost is py4j chatter on the Spark driver: a Column tower pays one JVM
# round-trip per F.col / F.lit / operator node, hundreds per body (a
# 16-d cosine binding: ~600-860). Builtin calls render through the
# SQL renderers in functions.BUILTINS, literals through sql_of_const,
# and identifiers through sql_ident — the one quoting helper for all
# generated SQL.

_I32_MIN, _I32_MAX = -(1 << 31), (1 << 31) - 1
_I64_MAX = (1 << 63) - 1
_I64_MIN = -(1 << 63)

# builtins whose table/bits/probe parameters must be int literals; the
# renderers receive them as Python ints
_INT_PARAM_FUNCS = {"lsh_bucket", "lsh_probes", "lsh_multi_probe"}


def sql_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def sql_of_const(v) -> str:
    """SQL literal producing the same Spark type/value as F.lit(v)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):  # before int: bool is an int subclass
        return "true" if v else "false"
    if isinstance(v, int):
        if _I32_MIN <= v <= _I32_MAX:
            return str(v)  # INT, like py4j's int conversion
        if _I64_MIN <= v <= _I64_MAX:
            return f"{v}L"  # BIGINT
        raise CompileError(f"integer literal {v} does not fit in 64 bits")
    if isinstance(v, float):
        return vector.float_sql(v)
    if isinstance(v, str):
        # the default parser (escapedStringLiterals=false) processes
        # backslash escapes inside string literals
        return (
            "'"
            + v.replace("\\", "\\\\")
            .replace("'", "\\'")
            .replace("\n", "\\n")
            .replace("\r", "\\r")
            .replace("\x00", "\\0")
            + "'"
        )
    raise CompileError(f"no literal form for {v!r}")


def term_to_sql(term, bound: Set[str]) -> str:
    """SQL text for a term; every Var must be bound."""
    if isinstance(term, Var):
        if term.is_wildcard:
            raise CompileError("wildcard not allowed in expressions")
        if term.name not in bound:
            raise CompileError(f"unbound variable {term.name} in expression")
        return sql_ident(term.name)
    if isinstance(term, Const):
        return sql_of_const(term.value)
    if isinstance(term, VecLit):
        return vector.vec_literal(term.values)
    if isinstance(term, Arith):
        if term.op not in ("+", "-", "*", "/", "%"):
            raise CompileError(f"unknown arithmetic op {term.op}")
        # IQL `/` on ints coerces to float like the reference
        # (docs/spec/types.md:179-193); Spark's `/` always yields double
        left = term_to_sql(term.left, bound)
        right = term_to_sql(term.right, bound)
        return f"({left} {term.op} {right})"
    if isinstance(term, Call):
        # builtin names are case-insensitive (reference lowercases in
        # BuiltinFunc::parse, src/ast/mod.rs:200)
        fname = term.func.lower()
        fn = BUILTINS.get(fname)
        if fn is None:
            raise CompileError(f"unknown builtin {term.func}")
        if not term.args:
            return fn()
        first = term_to_sql(term.args[0], bound)
        if fname in _INT_PARAM_FUNCS:
            rest = []
            for a in term.args[1:]:
                if not isinstance(a, Const) or not isinstance(a.value, int):
                    raise CompileError(f"{term.func}: table/bits must be int literals")
                rest.append(a.value)
        else:
            rest = [term_to_sql(a, bound) for a in term.args[1:]]
        return fn(first, *rest)
    raise CompileError(f"cannot evaluate term {term!r}")


# ------------------------------------------------------------ atom scan

_ANON_SEQ = itertools.count()


def scan_atom(atom: Atom, resolve: Resolver, bool_consts_nop: bool = False) -> DataFrame:
    """Atom → DataFrame with columns named by first-occurrence variables.

    Mirrors build_scans (ir_builder/mod.rs:185): constants become filters,
    a variable repeated within the atom becomes a self-equality filter,
    wildcards bind anonymous variables.
    """
    try:
        df = resolve(atom.relation)
    except EmptyAritylessRelation:
        from pyspark.sql import SparkSession
        from pyspark.sql import types as T

        spark = SparkSession.getActiveSession()
        # NullType columns: union/join type-coercion promotes them to the
        # other side's type, so an unknown relation in one clause doesn't
        # force sibling clauses' ints to strings (golden
        # 22_set_operations/05_empty_set_operations.iql)
        schema = T.StructType(
            [T.StructField(f"c{i}", T.NullType(), True) for i in range(len(atom.terms))]
        )
        df = spark.createDataFrame([], schema=schema)
    cols = df.columns
    if len(cols) != len(atom.terms):
        raise CompileError(
            f"arity mismatch: {atom.relation} has {len(cols)} columns, "
            f"atom has {len(atom.terms)} terms"
        )
    filters: List[Tuple[str, str]] = []  # (column, SQL it must equal)
    var_to_col: Dict[str, str] = {}
    for col_name, term in zip(cols, atom.terms):
        if isinstance(term, Var):
            if term.is_wildcard:
                # Wildcards bind anonymous variables that STAY in the
                # binding set: aggregates range over distinct full-body
                # bindings, so `count<X> <- product(X, _)` counts every
                # (X, _) pair — 100, not |distinct X| (golden
                # 10_edge_cases/37_large_result.iql). Unique names keep
                # them out of join keys.
                var_to_col[f"_w{next(_ANON_SEQ)}"] = col_name
                continue
            if term.name in var_to_col:
                filters.append((col_name, sql_ident(var_to_col[term.name])))
            else:
                var_to_col[term.name] = col_name
        elif isinstance(term, Const) and isinstance(term.value, bool) and bool_consts_nop:
            # PERSISTENT-rule materialization in the reference ignores
            # boolean constant constraints (golden 11_types/11_booleans.iql:
            # +active_user(Id, N) <- user(Id, N, true) returns ALL users)
            # while session rules filter them (11_types/27_bool_logic.iql).
            # Replicate the split via this flag.
            continue
        elif isinstance(term, (Const, VecLit)):
            filters.append((col_name, term_to_sql(term, set())))
        else:
            raise CompileError(
                f"unsupported term {term!r} in body atom {atom.relation} "
                "(expressions belong in comparisons)"
            )
    if filters:
        # ONE filter(sql) round-trip for the whole conjunction
        df = df.filter(" AND ".join(f"({sql_ident(c)} = {s})" for c, s in filters))
    # ONE selectExpr py4j call instead of per-column F.col().alias()
    # towers (r13): a 16-column scan paid ~50 py4j round-trips here,
    # and every engine query compiles at least one scan
    return df.selectExpr(
        *[f"{sql_ident(c)} AS {sql_ident(v)}" for v, c in var_to_col.items()]
    )


# ------------------------------------------------------------ body

# config [optimization] enable_join_planning: process-wide because
# compile_body is engine-free; disabling keeps literal body order
# (cross products included) for plan debugging
JOIN_PLANNING_ENABLED = True


def compile_body(
    body: Sequence,
    resolve: Resolver,
    hnsw_resolver: Optional[
        Callable[[HnswNearest, Optional[DataFrame]], DataFrame]
    ] = None,
    bool_consts_nop: bool = False,
) -> DataFrame:
    """Conjunctive body → DataFrame with one column per bound variable."""
    atoms = [l for l in body if isinstance(l, Atom) and not l.negated]
    negated = [l for l in body if isinstance(l, Atom) and l.negated]
    comps = [l for l in body if isinstance(l, Comparison)]
    hnsws = [l for l in body if isinstance(l, HnswNearest)]

    # Reference quirk: wildcards at the SAME argument position of the SAME
    # relation across different positive atoms denote ONE shared variable
    # (18_advanced_patterns/30_self_comparison.iql: scores(_,N1,S1),
    # scores(_,N2,S2) joins on the hidden id → ties only; 25_running_total:
    # transactions(Id,_),transactions(OtherId,_) joins on amount). Within a
    # single atom, wildcards stay independent.
    wshare: Dict[Tuple[str, int], int] = {}
    for a in atoms:
        for i, t in enumerate(a.terms):
            if isinstance(t, Var) and t.is_wildcard:
                wshare[(a.relation, i)] = wshare.get((a.relation, i), 0) + 1
    if any(n >= 2 for n in wshare.values()):
        atoms = [
            Atom(
                a.relation,
                tuple(
                    Var(f"_ws_{a.relation}_{i}")
                    if isinstance(t, Var)
                    and t.is_wildcard
                    and wshare[(a.relation, i)] >= 2
                    else t
                    for i, t in enumerate(a.terms)
                ),
            )
            for a in atoms
        ]

    # Greedy left-deep join ordering from the shared-variable graph
    # (the reference's join planning, src/join_planning/mod.rs:1-60,970:
    # chain order from variable connectivity). Body order is preserved
    # whenever it is already connected — the next atom is the FIRST
    # remaining one sharing a variable with the bound prefix — so the
    # only bodies that change are ones whose literal order would build
    # an accidental cross product before a connecting atom arrives
    # (e.g. same-generation's `edge(A,X), edge(B,Y), sg(A,B)`: edge ×
    # edge is |E|² rows; reordered it is two equi-joins). Inner joins
    # commute, so results are identical.
    if len(atoms) > 2 and JOIN_PLANNING_ENABLED:

        def _avars(a: Atom) -> set:
            return {
                t.name
                for t in a.terms
                if isinstance(t, Var) and not t.is_wildcard
            }

        remaining = list(atoms)
        ordered = [remaining.pop(0)]
        bound_vars = _avars(ordered[0])
        while remaining:
            nxt_i = next(
                (i for i, a in enumerate(remaining) if _avars(a) & bound_vars),
                0,  # nothing connects: a genuine cross product, body order
            )
            a = remaining.pop(nxt_i)
            ordered.append(a)
            bound_vars |= _avars(a)
        atoms = ordered

    acc: Optional[DataFrame] = None
    for atom in atoms:
        scanned = scan_atom(atom, resolve, bool_consts_nop)
        acc = _conjoin(acc, scanned)

    for h in hnsws:
        if hnsw_resolver is None:
            raise CompileError("hnsw_nearest used but no index manager attached")
        # the resolver sees the body-so-far so a bound query variable can
        # become a k-NN join (per-query top-k), not just a literal lookup
        acc = _conjoin(acc, hnsw_resolver(h, acc))

    if acc is None:
        raise CompileError("rule body has no positive atoms")

    # bindings (V = expr) and filters, to fixpoint so chained bindings work
    bound = set(acc.columns)
    pending = list(comps)
    while pending:
        progressed = False
        rest: List[Comparison] = []
        for comp in pending:
            made, acc, bound = _apply_comparison(comp, acc, bound)
            if made:
                progressed = True
            else:
                rest.append(comp)
        pending = rest
        if not progressed and pending:
            raise CompileError(
                f"unsafe/unsatisfiable comparisons (unbound variables): {pending}"
            )

    # anti-joins last: all their join keys are now bound
    for natom in negated:
        try:
            resolve(natom.relation)
        except CompileError:
            # negating a relation that doesn't exist = negating the empty
            # relation: everything survives (reference allows this,
            # examples/iql/08_negation/25_negate_empty_relation.iql)
            continue
        pos = Atom(natom.relation, natom.terms)
        right = scan_atom(pos, resolve)
        keys = [c for c in right.columns if c in set(acc.columns)]
        if keys:
            acc = acc.join(right.select(*keys).distinct(), on=keys, how="left_anti")
        else:
            # no shared vars: body survives only if the negated relation
            # (after its internal filters) is empty — expressible as an
            # anti cross join, still fully declarative
            acc = acc.join(right.limit(1), on=F.lit(True), how="left_anti")
    return acc


def _conjoin(acc: Optional[DataFrame], nxt: DataFrame) -> DataFrame:
    if acc is None:
        return nxt
    common = [c for c in nxt.columns if c in set(acc.columns)]
    if common:
        return acc.join(nxt, on=common, how="inner")
    return acc.crossJoin(nxt)


def _apply_comparison(comp: Comparison, acc: DataFrame, bound: Set[str]):
    """Try to apply one comparison; returns (progress, df, bound)."""
    left_ok = term_is_computable(comp.left, bound)
    right_ok = term_is_computable(comp.right, bound)
    if comp.op == "=":
        if left_ok and isinstance(comp.right, Var) and comp.right.name not in bound:
            acc = acc.withColumn(comp.right.name, F.expr(term_to_sql(comp.left, bound)))
            return True, acc, bound | {comp.right.name}
        if right_ok and isinstance(comp.left, Var) and comp.left.name not in bound:
            acc = acc.withColumn(comp.left.name, F.expr(term_to_sql(comp.right, bound)))
            return True, acc, bound | {comp.left.name}
    if left_ok and right_ok:
        # Column-vs-COLUMN ordered comparisons are numeric-only in the
        # reference: `A < B` over string vars yields NO rows (golden
        # 11_types/57_string_lexicographic.iql) — the Predicate enum has
        # no col-vs-col string ordering. Column-vs-LITERAL string ordering
        # works lexicographically (golden 07_filters/27_string_comparison).
        if (
            comp.op in ("<", "<=", ">", ">=")
            and not isinstance(comp.left, Const)
            and not isinstance(comp.right, Const)
            and (_is_string_term(comp.left, acc) or _is_string_term(comp.right, acc))
        ):
            return True, acc.filter(F.lit(False)), bound
        # IQL equality is over dynamically-typed values, not SQL
        # three-valued logic: null != 0 is TRUE and the row is kept
        # (golden 11_types/19_null_handling.iql). eqNullSafe (SQL <=>)
        # mirrors the reference's Value::eq on non-null operands exactly.
        ls = term_to_sql(comp.left, bound)
        rs = term_to_sql(comp.right, bound)
        if comp.op == "=":
            cond = f"({ls} <=> {rs})"
        elif comp.op == "!=":
            cond = f"(NOT ({ls} <=> {rs}))"
        else:
            cond = f"({ls} {comp.op} {rs})"
        return True, acc.filter(cond), bound
    return False, acc, bound


def _is_string_term(term, df: DataFrame) -> bool:
    from pyspark.sql import types as T

    if isinstance(term, Const):
        return isinstance(term.value, str)
    if isinstance(term, Var) and not term.is_wildcard:
        for f in df.schema.fields:
            if f.name == term.name:
                return isinstance(f.dataType, T.StringType)
    return False


# ------------------------------------------------------------ head

# repr(float(2^63)) round-trips to the exact double 2^63; the D suffix
# keeps the SQL literal DOUBLE-typed
_SAT_HI_SQL = repr(float(1 << 63)) + "D"


def _agg_sql(func: str, x: str) -> str:
    """SQL for a standard aggregate over rendered operand x."""
    if func == "count":
        return f"count({x})"
    if func == "count_distinct":
        return f"count(DISTINCT {x})"
    if func in ("min", "max", "avg"):
        return f"{func}({x})"
    if func == "sum":
        # `sum<X>` is Int64 with saturation in the reference (goldens
        # 11_types/31_float_precision.iql, 42_int64_boundaries.iql,
        # 55_very_large_floats.iql). Each value is cast to an integer
        # BEFORE summing, so floats truncate row by row (0.5 + 0.5 → 0);
        # a double-typed sum of the same values detects overflow, which
        # clamps to the i64 bounds, and the long sum stays exact in
        # range. (-2^63 is rendered via a string cast: the bare literal
        # would overflow the BIGINT lexer token under unary minus.)
        return (
            f"CASE WHEN sum(CAST({x} AS DOUBLE)) >= {_SAT_HI_SQL}"
            f" THEN {_I64_MAX}L"
            f" WHEN sum(CAST({x} AS DOUBLE)) <= -{_SAT_HI_SQL}"
            f" THEN CAST('{_I64_MIN}' AS BIGINT)"
            f" ELSE sum(CAST({x} AS BIGINT)) END"
        )
    raise CompileError(f"unknown aggregate {func}")


_AGGREGATES = ("count", "count_distinct", "sum", "min", "max", "avg")


def compile_head(body_df: DataFrame, head: Atom, distinct: bool = True) -> DataFrame:
    """Project / aggregate the body DataFrame into the head relation.

    Output columns are positional (c0..cn) — relations are positional in
    IQL, like the reference's Tuple model.
    """
    bound = set(body_df.columns)
    aggs = [(i, t) for i, t in enumerate(head.terms) if isinstance(t, Agg)]
    if not aggs:
        out = body_df.selectExpr(
            *[f"{term_to_sql(t, bound)} AS `c{i}`" for i, t in enumerate(head.terms)]
        )
        return out.distinct() if distinct else out

    ranking = [(i, t) for i, t in aggs if t.is_ranking]
    if ranking and len(aggs) > 1:
        raise CompileError("ranking aggregates cannot be combined with other aggregates")

    group_idx = [(i, t) for i, t in enumerate(head.terms) if not isinstance(t, Agg)]

    if ranking:
        return _compile_ranking(body_df, head, group_idx, ranking[0], bound)

    # Aggregates range over the SET of body bindings INCLUDING anonymous
    # wildcard positions (DD consolidates to distinct tuples before reduce,
    # code_generator/mod.rs:2414): duplicate base facts collapse (golden
    # 14_aggregations/11_having_filter.iql: four (5,100) orders sum to
    # 100), while distinct tuples sharing the aggregated value all count
    # (10_edge_cases/141_all_same_value.iql: sum over (_, V) → 300).
    deduped = body_df.distinct()
    agg_exprs = []
    for i, t in aggs:
        if t.func not in _AGGREGATES:
            raise CompileError(f"unknown aggregate {t.func}")
        if len(t.args) != 1:
            raise CompileError(f"{t.func} takes exactly one argument")
        if t.func == "sum" and _is_string_term(t.args[0], deduped):
            # Value::to_i64 maps non-numeric values to 0, so summing a
            # string column yields 0, not null
            # (golden 14_aggregations/94_sum_on_strings.iql)
            x = "0"
        else:
            x = term_to_sql(t.args[0], bound)
        agg_exprs.append(F.expr(f"{_agg_sql(t.func, x)} AS `c{i}`"))
    group_cols = [F.expr(f"{term_to_sql(t, bound)} AS `c{i}`") for i, t in group_idx]
    if group_cols:
        out = deduped.groupBy(*group_cols).agg(*agg_exprs)
    else:
        # Datalog global aggregates over an empty body yield NO rows, not
        # one null/zero row (golden 10_edge_cases/103_empty_aggregation.iql:
        # count over empty relation → "No results"). Grouping by a literal
        # key gives exactly that: empty input → zero groups.
        out = deduped.groupBy(F.lit(1).alias("_g")).agg(*agg_exprs)
    # restore positional order
    return out.select(*[f"c{i}" for i in range(len(head.terms))])


# Internal columns of a ranking aggregate. `#` is outside the IQL
# variable grammar, so no body variable can share (and shadow) a name.
_SCORE, _VAL, _RN = "`#score`", "`#val`", "`#rn`"


def _compile_ranking(body_df, head, group_idx, ranking, bound):
    """top_k / top_k_threshold / within_radius via window functions
    (reference: binary-heap impls, vector_ops.rs:1443,1514,1535).

    A ranking aggregate term expands to TWO output columns (value, score):
    `+top(top_k<3, Player, Points:desc>) <- score(Player, Points)` yields a
    2-column relation (golden: examples/iql/14_aggregations/07_top_k.iql).
    """
    i, agg = ranking
    single_col = False
    thresh_t = None
    if agg.func == "top_k":
        if len(agg.args) == 2:
            # 2-arg form `top_k<K, Score:dir>`: value IS the score and the
            # term expands to ONE column (golden
            # 14_aggregations/136_multiple_rule_drops_aggs.iql)
            k = _const_int(agg.args[0], "top_k k")
            val_t = score_t = agg.args[1]
            single_col = True
        elif len(agg.args) == 3:
            k = _const_int(agg.args[0], "top_k k")
            val_t, score_t = agg.args[1], agg.args[2]
        else:
            raise CompileError("top_k<K, [Value,] Score:dir> takes 2 or 3 arguments")
    elif agg.func == "top_k_threshold":
        if len(agg.args) != 4:
            raise CompileError("top_k_threshold<K, T, Value, Score:dir> takes 4 arguments")
        k = _const_int(agg.args[0], "top_k_threshold k")
        thresh_t = agg.args[1]
        val_t, score_t = agg.args[2], agg.args[3]
    elif agg.func == "within_radius":
        if len(agg.args) != 3:
            raise CompileError("within_radius<R, Value, Score:dir> takes 3 arguments")
        k = None
        thresh_t = agg.args[0]
        val_t, score_t = agg.args[1], agg.args[2]
    else:  # pragma: no cover
        raise CompileError(f"unknown ranking aggregate {agg.func}")

    deduped = body_df.distinct()
    score_s = term_to_sql(score_t, bound)
    val_s = term_to_sql(val_t, bound)
    thresh_s = None if thresh_t is None else term_to_sql(thresh_t, bound)
    # positional output: each head term in order; the ranking term
    # expands to (value, score)
    head_ss: List[str] = []
    for j, t in enumerate(head.terms):
        if j == i:
            head_ss.append(_VAL)
            if not single_col:
                head_ss.append(_SCORE)
        else:
            head_ss.append(term_to_sql(t, bound))
    sel0 = ["*", f"{score_s} AS {_SCORE}", f"{val_s} AS {_VAL}"]
    if agg.func == "within_radius":
        out = deduped.selectExpr(*sel0).filter(f"{_SCORE} <= {thresh_s}")
    else:
        part = ", ".join(term_to_sql(t, bound) for _, t in group_idx) or "1"
        direction = "DESC" if agg.order == "desc" else "ASC"
        rn = (
            f"row_number() OVER (PARTITION BY {part}"
            f" ORDER BY {score_s} {direction}, {val_s} ASC) AS {_RN}"
        )
        out = deduped.selectExpr(*sel0, rn).filter(f"{_RN} <= {k}")
        if agg.func == "top_k_threshold":
            op = ">=" if agg.order == "desc" else "<="
            out = out.filter(f"{_SCORE} {op} {thresh_s}")
    return out.selectExpr(*[f"{s} AS `c{p}`" for p, s in enumerate(head_ss)]).distinct()


def _const_int(term, what: str) -> int:
    if isinstance(term, Const) and isinstance(term.value, int):
        return term.value
    raise CompileError(f"{what} must be an integer literal")
