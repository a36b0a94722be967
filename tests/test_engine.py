"""End-to-end engine tests modeled on the reference snapshot corpus
(`/root/reference/examples/iql/` categories; SURVEY.md §5)."""

import pytest

from tests.conftest import rows


def test_flights_recursion(engine):
    # README quick example; examples/iql/09_recursion/
    df = engine.query(
        """
        +direct_flight[("New York","London"), ("London","Paris"), ("Paris","Rome")]
        +can_reach(A, B) <- direct_flight(A, B)
        +can_reach(A, C) <- direct_flight(A, B), can_reach(B, C)
        ?can_reach("New York", Dest)
        """
    )
    assert rows(df) == [
        ("New York", "London"),
        ("New York", "Paris"),
        ("New York", "Rome"),
    ]  # bound constants echo as columns, like the reference client output


def test_transitive_closure_cycle_terminates(engine):
    df = engine.query(
        """
        +edge[(1, 2), (2, 3), (3, 1)]
        +path(X, Y) <- edge(X, Y)
        +path(X, Z) <- edge(X, Y), path(Y, Z)
        ?path(X, Y)
        """
    )
    assert len(rows(df)) == 9  # complete digraph on the 3-cycle


def test_multikey_join(engine):
    # examples/iql/06_joins/19_equijoin_multikey.iql
    df = engine.query(
        """
        +orders[(1, "2024", "Q1", 100), (2, "2024", "Q2", 200), (3, "2023", "Q1", 50)]
        +targets[(1, "2024", "Q1", 90), (2, "2024", "Q2", 150)]
        matched(OrdId, Year, Qtr, Actual, Target) <-
            orders(OrdId, Year, Qtr, Actual),
            targets(_, Year, Qtr, Target)
        ?matched(OrdId, Year, Qtr, Actual, Target)
        """
    )
    assert rows(df) == [
        (1, "2024", "Q1", 100, 90),
        (2, "2024", "Q2", 200, 150),
    ]


def test_cross_product(engine):
    df = engine.query(
        """
        +color[("red"), ("blue")]
        +size[("S"), ("M")]
        +combo(C, S) <- color(C), size(S)
        ?combo(C, S)
        """
    )
    assert len(rows(df)) == 4


def test_self_join_repeated_var(engine):
    df = engine.query(
        """
        +pair[(1, 1), (1, 2), (2, 2)]
        +diag(X) <- pair(X, X)
        ?diag(X)
        """
    )
    assert rows(df) == [(1,), (2,)]


def test_aggregates_all(engine):
    df = engine.query(
        """
        +emp[(1, "a", 100), (2, "a", 200), (3, "b", 300), (4, "b", 500)]
        +stats(D, count<S>, sum<S>, min<S>, max<S>, avg<S>) <- emp(_, D, S)
        ?stats(D, C, Su, Mi, Ma, Av)
        """
    )
    assert rows(df) == [("a", 2, 300, 100, 200, 150.0), ("b", 2, 800, 300, 500, 400.0)]


def test_global_count(engine):
    df = engine.query(
        """
        +t[(1), (2), (3)]
        +total(count<X>) <- t(X)
        ?total(C)
        """
    )
    assert rows(df) == [(3,)]


def test_count_distinct(engine):
    df = engine.query(
        """
        +v[(1, 10), (2, 10), (3, 20)]
        +d(count_distinct<Y>) <- v(_, Y)
        ?d(C)
        """
    )
    assert rows(df) == [(2,)]


def test_top_k(engine):
    df = engine.query(
        """
        +score[(1, 100), (2, 250), (3, 175), (4, 300), (5, 125), (6, 200)]
        +top_players(top_k<3, Player, Points:desc>) <- score(Player, Points)
        ?top_players(X, Y)
        """
    )
    assert rows(df) == [(2, 250), (4, 300), (6, 200)]


def test_top_k_threshold(engine):
    # examples/iql/14_aggregations/101_top_k_threshold.iql
    df = engine.query(
        """
        +score[(1, 50), (2, 250), (3, 175), (4, 300), (5, 80), (6, 200)]
        +top_high(top_k_threshold<3, 100, Player, Points:desc>) <- score(Player, Points)
        ?top_high(X, Y)
        """
    )
    assert rows(df) == [(2, 250), (4, 300), (6, 200)]


def test_negation_antijoin(engine):
    df = engine.query(
        """
        +person[("alice"), ("bob"), ("carol")]
        +blocked[("bob")]
        +ok(X) <- person(X), !blocked(X)
        ?ok(X)
        """
    )
    assert rows(df) == [("alice",), ("carol",)]


def test_arithmetic_compute(engine):
    df = engine.query(
        """
        +item[(1, 10, 3), (2, 20, 2)]
        +total(Id, T) <- item(Id, Price, Qty), T = Price * Qty
        ?total(Id, T)
        """
    )
    assert rows(df) == [(1, 30), (2, 40)]


def test_comparison_filters(engine):
    df = engine.query(
        """
        +n[(1), (5), (10), (15)]
        +mid(X) <- n(X), X > 2, X <= 10
        ?mid(X)
        """
    )
    assert rows(df) == [(5,), (10,)]


def test_union_multiple_clauses(engine):
    df = engine.query(
        """
        +cat[("tom")]
        +dog[("rex")]
        +pet(X) <- cat(X)
        +pet(X) <- dog(X)
        ?pet(X)
        """
    )
    assert rows(df) == [("rex",), ("tom",)]


def test_string_builtins(engine):
    df = engine.query(
        """
        +s[("  Hello World  ")]
        +r(U, L, T, N) <- s(X), U = upper(X), L = lower(X), T = trim(X), N = len(T)
        ?r(U, L, T, N)
        """
    )
    assert rows(df) == [("  HELLO WORLD  ", "  hello world  ", "Hello World", 11)]


def test_substr_concat_replace(engine):
    df = engine.query(
        """
        +s[("datalog")]
        +r(A, B, C) <- s(X), A = substr(X, 0, 4), B = concat(X, "!"), C = replace(X, "log", "base")
        ?r(A, B, C)
        """
    )
    assert rows(df) == [("data", "datalog!", "database")]


def test_math_builtins(engine):
    df = engine.query(
        """
        +v[(-4.0)]
        +r(A, S, P, Fl) <- v(X), A = abs(X), S = sqrt(A), P = pow(A, 2.0), Fl = floor(X)
        ?r(A, S, P, Fl)
        """
    )
    assert rows(df) == [(4.0, 2.0, 16.0, -4)]


def test_vector_distances(engine):
    df = engine.query(
        """
        +e[(1, [1.0, 0.0]), (2, [0.0, 1.0])]
        +d(I, J, C, Eu, Dt, M) <- e(I, V1), e(J, V2), I < J,
            C = cosine(V1, V2), Eu = euclidean(V1, V2), Dt = dot(V1, V2), M = manhattan(V1, V2)
        ?d(I, J, C, Eu, Dt, M)
        """
    )
    r = rows(df)[0]
    assert r[0] == 1 and r[1] == 2
    assert r[2] == pytest.approx(1.0)  # cosine distance of orthogonal
    assert r[3] == pytest.approx(2**0.5)
    assert r[4] == pytest.approx(0.0)
    assert r[5] == pytest.approx(2.0)


def test_temporal_builtins(engine):
    # bare `within_last(...)` is an unknown-relation atom (matches
    # nothing, reference 29_temporal/07); the function itself works in
    # binding position
    df = engine.query(
        """
        +ev[(1, 1000), (2, 5000), (3, 9000)]
        +recent(Id) <- ev(Id, T), within_last(T, 9000, 4000)
        ?recent(Id)
        """
    )
    assert rows(df) == []
    df2 = engine.query(
        """
        +flagged(Id, B) <- ev(Id, T), B = within_last(T, 9000, 4000)
        ?flagged(Id, B)
        """
    )
    assert rows(df2) == [(1, False), (2, True), (3, True)]


def test_time_decay(engine):
    df = engine.query(
        """
        +ev[(1, 0)]
        +w(Id, W) <- ev(Id, T), W = time_decay(T, 3600000, 3600000)
        ?w(Id, W)
        """
    )
    assert rows(df)[0][1] == pytest.approx(0.5)


def test_query_order_limit_offset(engine):
    df = engine.query(
        """
        +data[(1, 10), (2, 20), (3, 30), (4, 40)]
        ?data(X, Y:desc), limit(2, 1)
        """
    )
    assert [tuple(r) for r in df.collect()] == [(3, 30), (2, 20)]


def test_delete_fact(engine):
    engine.execute('+u[(1, "a"), (2, "b")]')
    engine.execute("-u(1, _)")
    df = engine.query("?u(X, Y)")
    assert rows(df) == [(2, "b")]


def test_conditional_delete(engine):
    engine.execute("+n[(1), (5), (10)]")
    engine.execute("-n(X) <- n(X), X > 4")
    df = engine.query("?n(X)")
    assert rows(df) == [(1,)]


def test_schema_decl_and_typed_insert(engine):
    engine.execute("+typed(id: int, name: string)")
    engine.execute('+typed(1, "x")')
    df = engine.query("?typed(I, N)")
    assert rows(df) == [(1, "x")]


def test_kg_isolation(engine):
    engine.execute(".kg create a")
    engine.execute(".kg use a")
    engine.execute("+t[(1)]")
    engine.execute(".kg create b")
    engine.execute(".kg use b")
    engine.execute("+t[(2)]")
    assert rows(engine.query("?t(X)")) == [(2,)]
    engine.execute(".kg use a")
    assert rows(engine.query("?t(X)")) == [(1,)]


def test_hnsw_nearest_bruteforce(engine):
    engine.execute("+emb[(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])]")
    engine.create_index("idx", "emb", "c1", metric="cosine")
    df = engine.query('?near(Id, D), hnsw_nearest("idx", [1.0, 0.0], 2, Id, D)')
    got = rows(df)
    assert [g[0] for g in got] == [1, 2]


def test_unsafe_rule_rejected(engine):
    from inputlayer_spark.compiler import CompileError

    with pytest.raises(CompileError):
        engine.execute("+bad(X, Y) <- t(X)")


def test_unstratifiable_rejected(engine):
    # A persistent rule closing a negation cycle is rejected AT
    # REGISTRATION (reference: "Failed to register rule: Unstratified
    # negation", goldens 12_errors/17,28,31,33) and NOT registered, so
    # the earlier rules keep working.
    from inputlayer_spark.compiler import CompileError

    engine.execute("+t[(1)]")
    engine.execute("+p(X) <- t(X), !q(X)")
    with pytest.raises(CompileError, match="Unstratified"):
        engine.execute("+q(X) <- t(X), !p(X)")
    assert engine.query("?p(X)").collect()[0][0] == 1


def test_same_generation(engine):
    df = engine.query(
        """
        +par[("a", "c"), ("b", "c"), ("c", "e"), ("d", "e")]
        +sg(X, Y) <- par(X, P), par(Y, P), X != Y
        +sg(X, Y) <- par(X, P1), sg(P1, P2), par(Y, P2), X != Y
        ?sg("a", Y)
        """
    )
    # a~b share parent c; (a,d) does NOT hold: sg(c,e) is false
    assert rows(df) == [("a", "b")]


def test_shortest_path_min_agg(engine):
    # recursive min via aggregate over recursive relation
    # (reference: MinDiff semiring, src/semiring_types.rs:175)
    df = engine.query(
        """
        +e[(1, 2, 1.0), (2, 3, 1.0), (1, 3, 5.0)]
        +dist(X, Y, D) <- e(X, Y, D)
        +dist(X, Z, D) <- dist(X, Y, D1), e(Y, Z, D2), D = D1 + D2
        +shortest(X, Y, min<D>) <- dist(X, Y, D)
        ?shortest(1, 3, D)
        """
    )
    assert rows(df) == [(1, 3, 2.0)]


def test_arity_mismatch_insert_rejected(engine):
    engine.execute("+r(1, 2)")
    with pytest.raises(Exception, match="Arity mismatch for relation 'r'"):
        engine.execute("+r(3, 4, 5)")
    # original extent intact, nothing truncated in
    assert sorted(tuple(x) for x in engine.query("?r(X, Y)").collect()) == [(1, 2)]


def test_arity_mismatch_within_batch_rejected(engine):
    with pytest.raises(Exception, match="Arity mismatch in insert batch"):
        engine.execute("+s[(1, 2), (3, 4, 5)]")


def test_mixed_type_fact_batches_are_rejected(engine):
    """An inferred schema is enforced like a declared one: a batch whose
    values conflict with it is rejected whole with the engine's error,
    not a raw pyarrow one."""
    from inputlayer_spark.compiler import CompileError

    with pytest.raises(CompileError, match="Insert rejected for 't'"):
        engine.execute('+t[(1), ("a")]')
    assert "t" not in engine.current.relations
    engine.execute("+u[(1)]")
    with pytest.raises(CompileError, match="Insert rejected for 'u'"):
        engine.execute('+u[("a")]')
    assert rows(engine.query("?u(X)")) == [(1,)]


def test_kg_drop_current_clears_overlays_and_cache(engine):
    engine.execute(".kg create tmp")
    engine.execute(".kg use tmp")
    engine.execute("+base(1)\n+v(X) <- base(X)")
    assert engine.query("?v(X)").count() == 1
    engine.add_session_fact("sf", 42)
    engine.execute(".kg drop tmp")
    assert not engine.session_facts
    assert not engine.session_rules
    assert not engine._derived_cache


def test_persistent_mutual_recursion_empty_quirk(engine):
    # Reference pins persistent mutual SCCs to empty
    # (examples/iql/09_recursion/08_mutual_recursion.iql)
    engine.execute("+base_even[(0)]")
    engine.execute("+succ[(0, 1), (1, 2), (2, 3)]")
    engine.execute("+is_even(N) <- base_even(N)")
    engine.execute("+is_even(N) <- succ(M, N), is_odd(M)")
    engine.execute("+is_odd(N) <- succ(M, N), is_even(M)")
    assert rows(engine.query("?is_even(X)")) == []
    assert rows(engine.query("?is_odd(X)")) == []


def test_session_mutual_recursion_drops_mate_branches(engine):
    # Session-rule mutual SCCs evaluate each member with mate-referencing
    # branches dropped (examples/iql/09_recursion/15_mutual_one_branch_empty.iql)
    engine.execute("+a_base[(1), (2), (3)]")
    engine.execute("+b_base[(10), (20)]")
    engine.execute("a_derived(X) <- a_base(X)")
    engine.execute("a_derived(X) <- b_derived(X)")
    engine.execute("b_derived(X) <- b_base(X)")
    engine.execute("b_derived(X) <- a_derived(X), X > 10")
    assert rows(engine.query("?a_derived(X)")) == [(1,), (2,), (3,)]
    assert rows(engine.query("?b_derived(X)")) == [(10,), (20,)]


def test_bound_query_no_exit_rule_empty_quirk(engine):
    # Bound queries over persistent recursion with no non-recursive exit
    # rule are empty — the reference magic path never seeds from base
    # facts (09_recursion/56_all_paths.iql); unbound queries DO include
    # base-fact seeds (41_level_tracking.iql).
    engine.execute('+edge[("s", "a"), ("a", "t")]')
    engine.execute('+reachable("s", "s", 0)')
    engine.execute(
        "+reachable(S, E, D) <- reachable(S, M, D1), edge(M, E), D = D1 + 1, D < 5"
    )
    assert rows(engine.query('?reachable("s", End, D)')) == []
    # unbound: full fixpoint seeded by the base fact
    got = rows(engine.query("?reachable(S, E, D)"))
    assert ("s", "s", 0) in got and ("s", "a", 1) in got and ("s", "t", 2) in got


@pytest.mark.slow  # ~5 min: artifact build + exhaustive bound-query sweep
def test_hnsw_index_artifact_and_bound_query(engine):
    """The LSH bucket artifact materializes at first use, serves literal
    and bound-variable queries exactly (generous probe budget → exact
    rerank), and is cascade-invalidated by base writes."""
    engine.execute("+emb(id: int, v: vector)")
    engine.execute(
        "+emb[(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.9, 0.1, 0.0])]"
    )
    engine.execute(".index create vidx on emb(v) metric cosine")
    got = rows(engine.query('?nl(Id, D), hnsw_nearest("vidx", [1.0, 0.0, 0.0], 2, Id, D)'))
    assert [g[0] for g in got] == [1, 3]
    assert (engine.current.name, "vidx") in engine._index_frames
    # bound query variable → per-row k-NN join (k=1 → self match, dist 0)
    nn = rows(
        engine.query(
            '+self_nn(Q, Id) <- emb(QId, Q), hnsw_nearest("vidx", Q, 1, Id, D)\n'
            "?self_nn(Q, Id)"
        )
    )
    assert len(nn) == 3
    # base write invalidates the artifact; new vector becomes findable
    engine.execute("+emb[(4, [0.0, 0.0, 1.0])]")
    assert (engine.current.name, "vidx") not in engine._index_frames
    got2 = rows(engine.query('?n2(Id, D), hnsw_nearest("vidx", [0.0, 0.0, 1.0], 1, Id, D)'))
    assert [g[0] for g in got2] == [4]


def test_index_build_materializes_only_its_target(engine, monkeypatch):
    """An index read resolves its corpus demand-driven: a recursive view
    the index does not read stays unevaluated, and a failing derivation
    of the indexed relation raises instead of reading as empty."""
    engine.execute("+emb(id: int, v: vector)")
    engine.execute("+emb[(1, [1.0, 0.0]), (2, [0.0, 1.0])]")
    engine.execute("+edge[(1, 2), (2, 3)]")
    engine.execute("+reach(X, Y) <- edge(X, Y)\n+reach(X, Z) <- edge(X, Y), reach(Y, Z)")
    engine.execute(".index create vidx on emb(v) type hnsw")
    got = rows(engine.query('?n(Id, D), hnsw_nearest("vidx", [1.0, 0.0], 1, Id, D)'))
    assert [g[0] for g in got] == [1]
    assert "reach" not in engine._derived_cache

    import inputlayer_spark.engine as engine_mod

    real = engine_mod.evaluate_scc
    poisoned = []

    def failing(scc, *args, **kwargs):
        if "vemb" in scc:
            poisoned.append(scc)
            raise RuntimeError("vemb failed")
        return real(scc, *args, **kwargs)

    monkeypatch.setattr(engine_mod, "evaluate_scc", failing)
    engine.execute("+vemb(I, V) <- emb(I, V)")
    engine.create_index("vidx2", "vemb", "c1", kind="hnsw")
    with pytest.raises(RuntimeError, match="vemb failed"):
        engine.query('?m(Id, D), hnsw_nearest("vidx2", [1.0, 0.0], 1, Id, D)').collect()
    # the graph build raises it; no LSH or exact-scan fallback retries
    assert len(poisoned) == 1


def test_hnsw_typed_index_exact_search_and_tombstone_delete(engine):
    """`.index create ... type hnsw` builds the reference's exact
    in-process graph (src/hnsw_index.rs) instead of the LSH artifact;
    a `-rel(...)` delete tombstones into the LIVE graph (O(delta)
    maintenance, hnsw_index.rs:373-404) rather than dropping it."""
    engine.execute("+emb(id: int, v: vector)")
    engine.execute(
        "+emb[(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), "
        "(3, [0.9, 0.1, 0.0]), (4, [0.0, 0.0, 1.0])]"
    )
    engine.execute(".index create vidx on emb(v) type hnsw metric cosine")
    assert engine._index_kind("vidx") == "hnsw"
    got = rows(
        engine.query('?n(Id, D), hnsw_nearest("vidx", [1.0, 0.0, 0.0], 2, Id, D)')
    )
    assert [g[0] for g in got] == [1, 3]
    assert ("default", "vidx") in engine._hnsw_graphs
    engine.execute("-emb(1, [1.0, 0.0, 0.0])")
    g = engine._hnsw_graphs.get(("default", "vidx"))
    assert g is not None and g.tombstones == {1}  # maintained, not dropped
    got2 = rows(
        engine.query('?n2(Id, D), hnsw_nearest("vidx", [1.0, 0.0, 0.0], 2, Id, D)')
    )
    assert [g2[0] for g2 in got2] == [2, 3]
    stats = {r[0]: r[1] for r in engine.execute(".index stats vidx")[0].collect()}
    assert stats["kind"].startswith("hnsw graph")
    assert "1 tombstones" in stats["kind"]


def test_hnsw_typed_index_over_cap_builds_sharded_not_driver(
    engine, monkeypatch
):
    """An over-cap `type hnsw` corpus must NOT collect to the driver
    (VERDICT r4 "What's wrong #1"): the engine builds the sharded
    executor-side index instead, queries probe it, and the result is
    still the exact top-k. Driver-side graph construction is blocked
    outright via a poisoned HnswGraph.add_batch in THIS process — the
    shard builds run in Python workers and are unaffected."""
    import numpy as np

    from inputlayer_spark.operators import hnsw as hnsw_mod

    monkeypatch.setenv("SPARK_GRAFT_HNSW_DRIVER_CAP", "10")
    rng = np.random.default_rng(13)
    # rounded up front so the IQL literals and the numpy oracle see
    # the exact same values
    vecs = np.round(rng.normal(size=(40, 6)), 4)
    engine.execute("+emb(id: int, v: vector)")
    facts = ", ".join(
        "(%d, [%s])" % (i, ", ".join(f"{x:.4f}" for x in vecs[i]))
        for i in range(40)
    )
    engine.execute(f"+emb[{facts}]")
    engine.execute(".index create vidx on emb(v) type hnsw metric cosine")

    real_add = hnsw_mod.HnswGraph.add_batch

    def _poisoned(self, ids, vs):
        raise AssertionError("driver-side HNSW build over the cap")

    monkeypatch.setattr(hnsw_mod.HnswGraph, "add_batch", _poisoned)
    try:
        qv = ", ".join(f"{x:.4f}" for x in vecs[5])
        got = [
            tuple(r)
            for r in engine.query(
                f'?n(Id, D), hnsw_nearest("vidx", [{qv}], 3, Id, D)'
            ).collect()
        ]
    finally:
        monkeypatch.setattr(hnsw_mod.HnswGraph, "add_batch", real_add)
    assert ("default", "vidx") in engine._sharded_hnsw
    assert ("default", "vidx") not in engine._hnsw_graphs
    # exact top-1 is the query row itself
    assert got and got[0][0] == 5
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    true3 = np.argsort(1 - norm @ norm[5])[:3].tolist()
    assert [g[0] for g in got] == true3
    # .index stats reports the sharded path, not the driver graph
    stats = {r[0]: r[1] for r in engine.execute(".index stats vidx")[0].collect()}
    assert stats["kind"].startswith("hnsw sharded")
    # repeated queries short-circuit on the existing sharded artifact:
    # no re-materialization, no cap-probe count (code-review r5 finding)
    def _poisoned_derived():
        raise AssertionError("re-probed the corpus despite a built sharded index")

    monkeypatch.setattr(engine, "_derived_for_index", _poisoned_derived)
    again = [
        tuple(r)
        for r in engine.query(
            f'?n2(Id, D), hnsw_nearest("vidx", [{qv}], 3, Id, D)'
        ).collect()
    ]
    assert [g[0] for g in again] == true3
    monkeypatch.undo()
    # a dependent write invalidates the sharded artifact like any other
    engine.execute("+emb[(99, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0])]")
    assert ("default", "vidx") not in engine._sharded_hnsw


def test_hnsw_typed_index_insert_invalidates_graph(engine):
    """Inserts (no tombstone analog) still cascade-drop the graph for a
    lazy rebuild that includes the new rows."""
    engine.execute("+emb(id: int, v: vector)")
    engine.execute("+emb[(1, [1.0, 0.0]), (2, [0.0, 1.0])]")
    engine.execute(".index create vidx on emb(v) type hnsw")
    engine.query('?n(Id, D), hnsw_nearest("vidx", [1.0, 0.0], 1, Id, D)')
    assert ("default", "vidx") in engine._hnsw_graphs
    engine.execute("+emb[(3, [0.99, 0.01])]")
    assert ("default", "vidx") not in engine._hnsw_graphs
    got = rows(engine.query('?m(Id, D), hnsw_nearest("vidx", [1.0, 0.0], 2, Id, D)'))
    # the rebuilt graph contains the new row: top-2 = exact match (1) +
    # the near-duplicate inserted after index creation (3)
    assert {g[0] for g in got} == {1, 3}


def test_ivf_typed_index_probe_and_fallback(engine):
    """`.index create ... type ivf`: coarse cells derived from the
    4-bit sign-hash quantizer when the relation has no label column;
    literal hnsw_nearest queries probe the nearest cells driver-side
    and exact-rerank inside them; ef_search = probe count. Writes
    invalidate the artifact for lazy rebuild."""
    engine.execute("+emb(id: int, v: vector)")
    engine.execute(
        "+emb[(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), "
        "(3, [0.9, 0.1, 0.0]), (4, [0.0, 0.0, 1.0])]"
    )
    engine.execute(".index create vidx on emb(v) type ivf metric cosine")
    assert engine._index_kind("vidx") == "ivf"
    # probe budget = all cells → exact results guaranteed
    got = rows(
        engine.query(
            '?n(Id, D), hnsw_nearest("vidx", [1.0, 0.0, 0.0], 2, Id, D, 16)'
        )
    )
    assert [g[0] for g in got] == [1, 3]
    assert ("default", "vidx") in engine._ivf_cents
    stats = {r[0]: r[1] for r in engine.execute(".index stats vidx")[0].collect()}
    assert stats["kind"].startswith("ivf cells")
    # write → artifact dropped, rebuilt lazily with the new row included
    engine.execute("+emb[(5, [0.95, 0.05, 0.0])]")
    assert ("default", "vidx") not in engine._ivf_cents
    got2 = rows(
        engine.query(
            '?n2(Id, D), hnsw_nearest("vidx", [1.0, 0.0, 0.0], 2, Id, D, 16)'
        )
    )
    assert {g[0] for g in got2} == {1, 5}


def test_hnsw_nearest_direct_goal_form(engine):
    """`?hnsw_nearest(idx, [..], k, Id, D)` — the docs' direct-goal
    spelling (docs/iql.md) — used to silently compile as a scan of a
    nonexistent relation named hnsw_nearest, returning junk columns.
    It is sugar for a knn(Id, D) query over the builtin; the index
    name may be bare or quoted, and the limit tail still parses."""
    engine.execute("+emb(id: int, v: vector)")
    engine.execute("+emb[(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])]")
    engine.execute(".index create vidx on emb(v) type hnsw metric cosine")
    got = rows(engine.query("?hnsw_nearest(vidx, [1.0, 0.0], 2, Id, D)"))
    assert [g[0] for g in got] == [1, 3]
    got_q = rows(engine.query('?hnsw_nearest("vidx", [1.0, 0.0], 2, Id, D)'))
    assert [g[0] for g in got_q] == [1, 3]
    got_lim = rows(
        engine.query("?hnsw_nearest(vidx, [1.0, 0.0], 2, Id, D), limit(1)")
    )
    assert [g[0] for g in got_lim] == [1]


def test_hnsw_nearest_direct_goal_ignores_user_knn_relation(engine):
    """The direct-goal sugar compiles to an INTERNAL goal name — a user
    relation (or rule) that happens to be named `knn` must not be
    scanned/joined in its place (it used to be: the sugar's goal atom
    was literally `knn(Id, D)`, which engine._query resolved against
    the user relation and silently returned its rows)."""
    engine.execute("+emb(id: int, v: vector)")
    engine.execute("+emb[(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])]")
    engine.execute(".index create vidx on emb(v) type hnsw metric cosine")
    # decoy relation named knn with non-matching junk rows
    engine.execute("+knn(id: int, d: float)")
    engine.execute("+knn[(777, 9.9), (888, 8.8)]")
    got = rows(engine.query("?hnsw_nearest(vidx, [1.0, 0.0], 2, Id, D)"))
    assert [g[0] for g in got] == [1, 3]
    # decoy RULE named knn must not capture the goal either
    engine.execute("+knn2(X, Y) <- knn(X, Y)")
    got2 = rows(engine.query('?hnsw_nearest("vidx", [1.0, 0.0], 1, Id, D)'))
    assert [g[0] for g in got2] == [1]


def test_rel_schema_meta_no_space_spelling(engine):
    """`.rel schema cat(sku: string)` — name and open-paren in ONE
    token — used to fall through every .rel branch as a silent no-op
    (the handler required len(args) > 2)."""
    engine.execute(".rel schema cat(sku: string, price: float)")
    desc = [tuple(r) for r in engine.execute(".rel describe cat")[0].collect()]
    assert [d[0] for d in desc] == ["sku", "price"]
    engine.execute('+cat[("a", 1.0)]')
    got = rows(engine.query("?cat(S, P)"))
    assert got == [("a", 1.0)]


def test_rel_schema_meta_registers(engine):
    """`.rel schema r (c: type, ...)` (docs/iql.md) was a silent no-op
    — every branch of the .rel handler fell through. It must register
    the schema (enabling .index create) and name the columns."""
    engine.execute(
        ".rel schema cat (sku: string, price: float, emb: vector)"
    )
    engine.execute('+cat[("a", 1.0, [1.0, 0.0]), ("b", 2.0, [0.0, 1.0])]')
    desc = [tuple(r) for r in engine.execute(".rel describe cat")[0].collect()]
    assert [d[0] for d in desc] == ["sku", "price", "emb"]
    engine.execute(".index create cidx on cat(emb) type hnsw metric cosine")
    got = rows(engine.query("?hnsw_nearest(cidx, [1.0, 0.0], 1, Id, D)"))
    assert len(got) == 1


def test_goal_query_distinct_skip_semantics(engine):
    """The body-less goal query over a DERIVED extent skips the
    set-semantics distinct (it is provably a no-op there — engine.py
    query path); this pins the three behavioral edges around the skip:
    derived results stay sets, duplicate-bearing REGISTERED frames are
    still deduped, and body-extended queries still dedup."""
    spark = engine.spark
    # derived extent: two clauses deriving an overlapping set
    engine.execute("+src[(1, 2), (2, 3)]")
    engine.execute("+d(X, Y) <- src(X, Y)\n+d(X, Y) <- src(X, Y), X > 0")
    got = sorted(tuple(r) for r in engine.query("?d(X, Y)").collect())
    assert got == [(1, 2), (2, 3)]
    # repeated goal var + constant still dedup after projection
    engine.execute("+pairs[(1, 1), (1, 2), (2, 2)]")
    engine.execute("+dd(X, Y) <- pairs(X, Y)")
    same = sorted(tuple(r) for r in engine.query("?dd(X, X)").collect())
    assert same == [(1,), (2,)]
    # registered base frame WITH duplicates: distinct must still apply
    dup = spark.createDataFrame([(7, 8), (7, 8), (9, 9)], "a long, b long")
    engine.register("dupbase", dup)
    got2 = sorted(tuple(r) for r in engine.query("?dupbase(X, Y)").collect())
    assert got2 == [(7, 8), (9, 9)]
    # body-extended query (join can duplicate projections): still a set
    engine.execute("+tag[(2, 10), (2, 20)]")
    got3 = sorted(
        tuple(r) for r in engine.query("?d(X, Y), tag(X, _)").collect()
    )
    assert got3 == [(2, 3)]


def test_goal_query_derived_plan_has_no_distinct(engine):
    """Plan pin: ?view(X, Y) over a MATERIALIZED (checkpoint-pinned)
    derived extent must not re-shuffle the view through a distinct —
    the re-query of a pinned 1M-pair closure is metadata-only (bench
    incr_recursive_* rows). Recursive views hold their fixpoint output
    as a leaf (a checkpointed LogicalRDD, or a LocalRelation when a
    small closure was computed on the driver); the query on top must
    add only a projection. A registered base frame keeps the distinct
    (users can register duplicate-bearing DataFrames)."""
    engine.execute("+e[(1, 2), (2, 3), (3, 4)]")
    engine.execute("+tc(X, Y) <- e(X, Y)\n+tc(X, Z) <- e(X, Y), tc(Y, Z)")
    engine.query("?tc(X, Y)").count()  # materialize + pin the fixpoint
    plan = engine.query("?tc(X, Y)")._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate" not in plan and "Aggregate" not in plan, plan
    base = engine.spark.createDataFrame([(1, 1), (1, 1)], "a long, b long")
    engine.register("rawbase", base)
    plan2 = engine.query("?rawbase(X, Y)")._jdf.queryExecution().optimizedPlan().toString()
    assert "Deduplicate" in plan2 or "Aggregate" in plan2, plan2
