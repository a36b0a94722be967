"""Similarity search over embedding columns.

Brute-force exact top-k is the correctness baseline (what the reference
does for non-indexed relations, src/lib.rs:1374 resolve path); the
LSH-bucketed and IVF variants are the scale paths: both turn "compare
against everything" into "compare within a bucket/cluster".

Scale design (the index/query split the reference's index_manager keeps,
src/index_manager.rs:1-50):

- `lsh_index` / `ivf_index` run ONCE at index-create time and attach
  short bucket/cell columns. At 100 TB the indexed table is *written*
  partitioned by the bucket column, so a probe is partition pruning.
- Query-side bucket/cell selection happens DRIVER-SIDE in plain Python
  (the hyperplane family lives in functions.vector and is pure
  SipHash-derived arithmetic) — zero Spark jobs before the single probe
  scan, unlike the round-1 shape that launched one collect per table.
- The probe filter is `col IN (probe ids)` over a long column — a
  pushed-down, partition-prunable predicate; the exact rerank touches
  only candidate rows.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inputlayer_spark.compiler import sql_ident
from inputlayer_spark.functions import vector as V


def knn_bruteforce(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k nearest neighbors to a literal query vector.

    Single scan + TakeOrderedAndProject (Spark turns orderBy+limit into a
    per-partition top-k then a driver merge — no full sort at scale).
    Output: id, dist.
    """
    q = V.vec_literal(query)
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.expr(V.distance(metric, sql_ident(vec_col), q)).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("id").asc())
        .limit(k)
    )


def knn_join_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    k: int = 10,
    metric: str = "cosine",
) -> DataFrame:
    """Exact k-NN join: for every query row, its k nearest corpus rows.

    Broadcast the smaller side (queries) so the corpus scan stays
    partition-local; rank with a window per query id.
    Output: qid, id, dist, rank.
    """
    q = queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qv"))
    c = corpus.select(F.col(corpus_id).alias("id"), F.col(corpus_vec).alias("cv"))
    joined = c.crossJoin(F.broadcast(q)).withColumn(
        "dist", F.expr(V.distance(metric, "`cv`", "`qv`"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "id", "dist", "rank")
    )


# ------------------------------------------------------------------ LSH


def _bucket_col(table: int) -> str:
    return f"__lsh_b{table}"


def lsh_index(
    df: DataFrame, vec_col: str, num_tables: int = 4, num_bits: int = 12
) -> DataFrame:
    """Index-create-time artifact: per-table sign-hash bucket columns.

    One pass over the corpus; at scale the result is persisted
    partitioned/bucketed by `__lsh_b0` so probe filters prune files.
    The family is the reference-exact deterministic hyperplane PRNG
    (functions.vector), so buckets agree with the reference engine.
    """
    for t in range(num_tables):
        df = df.withColumn(_bucket_col(t), V.lsh_bucket(F.col(vec_col), t, num_bits))
    return df


def lsh_query_probes(
    query: Sequence[float],
    num_tables: int = 4,
    num_bits: int = 12,
    num_probes: int = 1,
) -> Dict[int, List[int]]:
    """Driver-side probe buckets per table for a literal query vector.

    Pure Python (no Spark job): reuses the same SipHash hyperplane family
    the bucket columns were built with. `num_probes` > 1 adds
    boundary-ranked neighbor buckets (multi-probe) for recall.
    """
    qarr = [float(x) for x in query]
    return {
        t: [int(b) for b in V._ref_multi_probe(qarr, t, num_bits, num_probes)]
        for t in range(num_tables)
    }


def knn_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    metric: str = "cosine",
    num_bits: int = 12,
    num_tables: int = 4,
    num_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: probe LSH buckets, exact-rerank candidates.

    If `df` already carries the index columns (from `lsh_index`), the
    probe is a pushed-down IN-filter on long columns — partition pruning
    when the table is written partitioned by bucket. Otherwise the bucket
    columns are computed in-flight (documented slow path for ad-hoc use).
    Recall rises with `num_probes`; callers wanting guarantees use
    knn_bruteforce. Output: id, dist.
    """
    if _bucket_col(0) not in df.columns:
        df = lsh_index(df, vec_col, num_tables, num_bits)
    probes = lsh_query_probes(query, num_tables, num_bits, num_probes)
    # ONE F.expr per IN-list / query literal (r13): Column.isin()
    # converts every probe key through its own py4j round-trip and the
    # per-element F.lit array the same — measured 1.5 s of knn_lsh's
    # 2.3 s construction. The SQL forms are the identical predicates
    # (integer bucket keys, finite float components) in one round-trip.
    # guard empty probe lists / zero tables (ADVICE r13): an "IN ()" or
    # an F.expr("") would be a parse error at runtime. No probes means
    # no candidate buckets — a constant-false predicate.
    clauses = [
        f"{_bucket_col(t)} IN ({','.join(str(int(p)) for p in probes[t])})"
        for t in range(num_tables)
        if probes.get(t)
    ]
    cand = F.expr(" OR ".join(clauses)) if clauses else F.lit(False)
    q = V.vec_literal(query)
    return (
        df.filter(cand)
        .select(
            F.col(id_col).alias("id"),
            F.expr(V.distance(metric, sql_ident(vec_col), q)).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("id").asc())
        .limit(k)
    )


# ------------------------------------------------------------------ IVF


def centroids(df: DataFrame, cell_col: str, vec_col: str) -> DataFrame:
    """Per-cell element-wise mean vector. Shuffles (cell, pos, val) —
    proportional to data, aggregated map-side first."""
    exploded = df.select(F.col(cell_col).alias("cell"), F.posexplode(F.col(vec_col)))
    agg = exploded.groupBy("cell", "pos").agg(F.avg("col").alias("m"))
    return (
        agg.groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cell", F.transform("pm", lambda s: s["m"]).alias("centroid"))
    )


def ivf_index(
    df: DataFrame, cell_col: str, vec_col: str
) -> Tuple[DataFrame, List[Tuple[object, List[float]]]]:
    """Index-create-time artifact for IVF probing.

    Returns (df unchanged — the cell column is the coarse quantizer) and
    the collected centroid table: tiny (n_cells × dim), it lives on the
    driver so query-time cell selection is plain arithmetic, not a Spark
    job. Production layout: corpus written partitioned by `cell_col`.
    """
    rows = centroids(df, cell_col, vec_col).collect()
    return df, [(r["cell"], [float(x) for x in r["centroid"]]) for r in rows]


def _py_dist(metric: str, a: Sequence[float], b: Sequence[float]) -> float:
    import math

    if metric in ("euclidean", "l2"):
        return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, b)))
    if metric == "manhattan":
        return sum(abs(x - y) for x, y in zip(a, b))
    dotv = sum(x * y for x, y in zip(a, b))
    if metric == "dot":
        return -dotv
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(y * y for y in b))
    if na == 0.0 or nb == 0.0:
        return 0.0
    return 1.0 - max(-1.0, min(1.0, dotv / (na * nb)))


def ivf_probe_cells(
    cents: List[Tuple[object, List[float]]],
    query: Sequence[float],
    n_probe: int = 2,
    metric: str = "cosine",
) -> List[object]:
    """Driver-side: the n_probe cells whose centroids are nearest the
    query (ties broken by cell id for determinism)."""
    q = [float(x) for x in query]
    ranked = sorted(cents, key=lambda cv: (_py_dist(metric, cv[1], q), str(cv[0])))
    return [c for c, _ in ranked[:n_probe]]


def ivf_knn(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query: Sequence[float],
    k: int = 10,
    metric: str = "cosine",
    cell_col: str = None,
    n_probe: int = 2,
    cents: Optional[List[Tuple[object, List[float]]]] = None,
) -> DataFrame:
    """IVF-style ANN: exact top-k within the n_probe nearest cells.

    With a prebuilt `cents` artifact (ivf_index) the probed cells are
    chosen driver-side with no Spark job and the probe filter is an
    IN-list on the cell column — partition pruning when the corpus is
    written partitioned by cell. Without it, centroids are computed
    in-flight (ad-hoc slow path). Output: id, dist.
    """
    if cents is None:
        _, cents = ivf_index(df, cell_col, vec_col)
    probed_cells = ivf_probe_cells(cents, query, n_probe, metric)
    q = V.vec_literal(query)
    return (
        df.filter(F.col(cell_col).isin(probed_cells))
        .select(
            F.col(id_col).alias("id"),
            F.expr(V.distance(metric, sql_ident(vec_col), q)).alias("dist"),
        )
        .orderBy(F.col("dist").asc(), F.col("id").asc())
        .limit(k)
    )
