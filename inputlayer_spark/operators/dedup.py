"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame transformations designed for the 100 TB
path: exact dedup is a hash-aggregate (one shuffle on the hash, not the
full text), MinHash-LSH banding turns near-dup detection into an
equi-join on band keys (shuffle on short band signatures), SimHash
prefilters by Hamming distance on a 64-bit long. Hashing uses md5-derived
32-bit values that DuckDB reproduces exactly, so every operator here is
oracle-checkable (see functions/text.py).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inputlayer_spark.functions import text as TX
from inputlayer_spark.functions import vector as V

# Shared cap for every adaptive-broadcast site in this module: a frame
# proven (by a short-circuiting limit+count probe) to fit under the cap
# gets the F.broadcast hint; anything larger — or unproven — shuffle-joins
# and lets AQE pick build sides. Unconditional broadcasts of frames whose
# size scales with the corpus are the classic 100 TB OOM (VERDICT r10 #2).
BROADCAST_CAP = 2_000_000


def _fits_broadcast(df: DataFrame, cap: Optional[int] = None) -> bool:
    """True iff `df` has at most `cap` rows. The limit(cap+1) probe
    short-circuits: on a corpus-sized frame Spark stops scanning at
    cap+1 rows instead of counting billions."""
    cap = BROADCAST_CAP if cap is None else cap
    return df.limit(cap + 1).count() <= cap


def exact_dedup(df: DataFrame, cols: Optional[Sequence[str]] = None) -> DataFrame:
    """Exact deduplication on the given columns (default: all).

    Scale: `dropDuplicates` is a hash aggregate — one shuffle keyed on the
    dedup columns; with AQE, skewed hot texts are split automatically.
    """
    return df.dropDuplicates(list(cols) if cols else None)


def exact_dedup_by_hash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative per exact text hash.

    Shuffles 12-byte (hash, id) pairs instead of full documents — the
    repartition cost at 100 TB is the hash column, not the text.
    """
    h = F.md5(F.col(text_col))
    return (
        df.withColumn("__h", h)
        .withColumn(
            "__rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "__h"
                ).orderBy(F.col(id_col).asc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def doc_shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3,
    rebalance: int = 0,
) -> DataFrame:
    """Per-doc distinct word-shingle arrays: (__id, __sh_arr).

    The shared upstream frame for the MinHash pipeline: signatures derive
    from it with narrow array transforms (no explode), and exact-Jaccard
    verification uses `array_intersect` on the same arrays. Tokenizes
    ONCE into a column, then shingles off the column reference —
    shingling directly off tokens(text) re-tokenizes per shingle
    (see shingles_from_tokens docstring; measured 12× at sf0.1).

    `rebalance` > 0 round-robin-repartitions the input first: a parquet
    file with a single row group yields ONE non-empty scan task no matter
    how many byte-range splits the reader makes, serializing the
    CPU-heavy tokenize/shingle onto one core (measured: all 5000 sf0.1
    docs in one partition). The shuffle moves only raw text once; at
    100 TB row groups dwarf the split size and rebalance is unnecessary.
    """
    if rebalance > 0 and df.rdd.getNumPartitions() < rebalance:
        df = df.repartition(rebalance)
    return df.select(
        F.col(id_col).alias("__id"), TX.tokens(F.col(text_col)).alias("__toks")
    ).select(
        "__id",
        F.array_distinct(TX.shingles_from_tokens(F.col("__toks"), shingle_n)).alias(
            "__sh_arr"
        ),
    )


# XXH64 constants/kernels, bit-exact replicas of Spark's XxHash64
# expression for INT and LONG inputs (the only shapes the MinHash
# seed-mix uses: xxhash64(lit(i): int, h0: long) = hashLong(h0,
# hashInt(i, 42))). Verified exact against F.xxhash64 over random
# longs incl. boundary values (OPTIMIZATION_r13.md) and pinned by
# test_minhash_numpy_mix_matches_spark_xxhash64.
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _xxh64_seed_of_perm(i: int, seed: int = 42) -> int:
    """hashInt(i, seed) — scalar Python (runs once per permutation)."""
    M = (1 << 64) - 1
    h = (seed + _XXP5 + 4) & M
    h ^= ((i & 0xFFFFFFFF) * _XXP1) & M
    h = (((h << 23) | (h >> 41)) & M) * _XXP2 + _XXP3
    h &= M
    h ^= h >> 33
    h = (h * _XXP2) & M
    h ^= h >> 29
    h = (h * _XXP3) & M
    h ^= h >> 32
    return h


def minhash_band_rows(
    shingle_arrays: DataFrame, num_perm: int, bands: int
) -> DataFrame:
    """(__id, band, key) LSH band rows from per-doc shingle arrays —
    the persistable heart of the MinHash pipeline (a band row is a pure
    deterministic function of the doc text, so rows computed at index
    build time and rows computed for a new batch are interchangeable).

    Per-permutation hash = xxhash64(seed_i, base_hash): a true
    re-ordering per seed (a monotonic a*h+b mix would make every
    permutation share one argmin shingle and collapse the signature).
    The shingle STRING is hashed once into a long JVM-side (a narrow
    transform — no explode); the num_perm per-seed mixes + per-doc
    mins then run as a vectorized numpy kernel over Arrow batches
    (r13, guide §4.2): the old explode → 64-min Tungsten hash
    aggregate paid ~32M interpreted xxhash64 calls plus an (__id)
    shuffle per invocation — measured 0.86 s at sf0.1 vs 0.07 s for
    the h0 arrays alone; the kernel runs the identical mix
    (bit-exact XXH64 replica, test-pinned) as ~15 uint64 vector ops
    per seed over the flattened hash array with segment-mins via
    minimum.reduceat, and needs NO shuffle at all. Artifact
    compatibility holds: signatures are bit-identical to the old
    aggregate's, so index rows built before and after this change
    remain interchangeable."""
    import numpy as np
    import pandas as pd

    rows_per_band = num_perm // bands
    # one string hash per shingle, JVM-side; empty docs contribute no
    # band rows (the old explode dropped them the same way)
    h0s = shingle_arrays.filter(F.size("__sh_arr") > 0).select(
        "__id",
        F.transform("__sh_arr", lambda s: F.xxhash64(s)).alias("__h0s"),
    )
    id_field = shingle_arrays.schema["__id"]
    out_schema = T.StructType(
        [
            T.StructField("__id", id_field.dataType, id_field.nullable),
            T.StructField("__sig", T.ArrayType(T.LongType(), False), False),
        ]
    )
    seeds = [
        np.uint64(_xxh64_seed_of_perm(i)) for i in range(num_perm)
    ]

    def _sigs(batches):
        P1, P2, P4, P5 = (
            np.uint64(_XXP1), np.uint64(_XXP2),
            np.uint64(_XXP4), np.uint64(_XXP5),
        )
        P3 = np.uint64(_XXP3)
        c8, c27, c29, c31, c32, c33, c37 = (
            np.uint64(8), np.uint64(27), np.uint64(29), np.uint64(31),
            np.uint64(32), np.uint64(33), np.uint64(37),
        )
        old = np.seterr(over="ignore")
        try:
            for pdf in batches:
                if not len(pdf):
                    continue
                arrs = [
                    np.asarray(a, dtype=np.int64) for a in pdf["__h0s"]
                ]
                lens = np.fromiter(
                    (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
                )
                flat = np.concatenate(arrs).view(np.uint64)
                starts = np.zeros(len(arrs), dtype=np.intp)
                np.cumsum(lens[:-1], out=starts[1:])
                sig = np.empty((len(arrs), num_perm), dtype=np.int64)
                for i, seed in enumerate(seeds):
                    # hashLong(x, seed), vectorized — bit-exact XXH64
                    h = (flat * P2)
                    h = ((h << c31) | (h >> c33)) * P1
                    h = (seed + P5 + c8) ^ h
                    h = ((h << c27) | (h >> c37)) * P1 + P4
                    h ^= h >> c33
                    h *= P2
                    h ^= h >> c29
                    h *= P3
                    h ^= h >> c32
                    sig[:, i] = np.minimum.reduceat(
                        h.view(np.int64), starts
                    )
                yield pd.DataFrame(
                    {"__id": pdf["__id"], "__sig": list(sig)}
                )
        finally:
            np.seterr(**old)

    banded = h0s.mapInPandas(_sigs, schema=out_schema)
    return banded.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at(
                                    "__sig", b * rows_per_band + r + 1
                                )
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("__id", "bk.band", "bk.key")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingle_arrays: DataFrame = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    Pipeline: shingle arrays → per-seed min-hash signature (narrow array
    transforms — the signature needs NO shuffle; the old explode →
    groupBy(id) formulation paid a full (id, shingle) shuffle before the
    banding even started) → band keys → explode → self-equi-join on
    (band_idx, band_signature) → distinct candidate pairs (id1 < id2).

    Scale: the only shuffles are the band-key self-join and the distinct,
    both on short keys; each doc contributes `bands` rows. No O(n²)
    compare. Callers that also verify candidates (exact Jaccard) pass the
    persisted `doc_shingle_arrays` frame via `shingle_arrays` so
    shingling runs once for the whole pipeline.
    Output columns: id1, id2.
    """
    if shingle_arrays is None:
        shingle_arrays = doc_shingle_arrays(df, id_col, text_col, shingle_n)
    band_rows = minhash_band_rows(shingle_arrays, num_perm, bands)
    left = band_rows.toDF("id1", "band", "key")
    right = band_rows.toDF("id2", "band", "key")
    return (
        left.join(right, on=["band", "key"], how="inner")
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def jaccard_verify_pairs(
    cand: DataFrame,
    shingle_arrays: DataFrame,
    threshold: float = 0.5,
    broadcast_candidates="auto",
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against per-doc
    shingle arrays (from `doc_shingle_arrays`).

    Two joins fetch each side's array, then `array_intersect` computes
    the shared-shingle count in one narrow expression — replacing the old
    explode → (id, shingle) equi-join → count → two size joins, which
    cost three extra shuffles. When the candidate side is broadcast (the
    common case: banding prunes candidates to a sliver of the corpus)
    both joins broadcast the pair side, so the verify adds ZERO
    shuffles. The candidate set still scales with corpus duplication,
    so the default is "auto": the candidate frame is persisted ONCE
    and a cap-guarded probe (BROADCAST_CAP rows) over it decides; past
    the cap the joins shuffle on the id keys and AQE picks build
    sides. Pass True/False to override.
    Output: id1, id2, jaccard (>= threshold).
    """
    if broadcast_candidates == "auto":
        # persist BEFORE the probe so the candidate join is computed
        # exactly once in both branches: the probe materializes the
        # persisted frame, and both downstream array-fetch joins reuse
        # it (ADVICE r11: the old probe-then-materialize order paid
        # the candidate join twice when it fit, and recomputed it in
        # BOTH joins when it didn't). DISK_ONLY persist, not
        # localCheckpoint (ADVICE r12): on a pathologically duplicated
        # corpus the candidate frame is corpus-scale, and an eager
        # checkpoint would pin it in executor block storage with its
        # lineage truncated — unrecomputable after executor loss;
        # persist spills to local disk and keeps the lineage as the
        # recovery path.
        from pyspark import StorageLevel

        cand = cand.persist(StorageLevel.DISK_ONLY)
        broadcast_candidates = _fits_broadcast(cand)
    a1 = shingle_arrays.toDF("id1", "__arr1")
    a2 = shingle_arrays.toDF("id2", "__arr2")
    left = (F.broadcast(cand) if broadcast_candidates else cand).join(a1, on="id1")
    if broadcast_candidates:
        left = F.broadcast(left)
    shared = F.size(F.array_intersect(F.col("__arr1"), F.col("__arr2")))
    denom = F.size("__arr1") + F.size("__arr2") - shared
    return (
        left.join(a2, on="id2")
        .withColumn("jaccard", shared.cast("double") / denom.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard similarity >= threshold.

    Shape: explode distinct shingles → self-join on shingle →
    count(shared) per pair → Jaccard = shared / (|A| + |B| − shared).
    The shingle join is the scalable formulation (no cross product);
    worst-case hot shingles are bounded because shingles are n words.
    Output: id1, id2, jaccard.
    """
    sh = (
        df.select(F.col(id_col).alias("__id"), TX.tokens(F.col(text_col)).alias("__toks"))
        .select(
            "__id",
            F.explode(F.array_distinct(TX.shingles_from_tokens(F.col("__toks"), n))).alias("sh"),
        )
    )
    sizes = sh.groupBy("__id").agg(F.count("*").alias("sz"))
    pairs = (
        sh.toDF("id1", "sh")
        .join(sh.toDF("id2", "sh"), on="sh")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("shared"))
    )
    out = (
        pairs.join(sizes.toDF("id1", "sz1"), on="id1")
        .join(sizes.toDF("id2", "sz2"), on="id2")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("sz1") + F.col("sz2") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return out


def simhash_dedup_candidates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup candidates by SimHash: 64-bit fingerprints, pairs within
    `max_hamming` bit flips.

    Scale path: band the 64 bits into (max_hamming+1) chunks — by
    pigeonhole, any pair within max_hamming shares at least one exact
    chunk — join on chunks, verify Hamming on the survivors. Avoids the
    O(n²) bit-compare.
    Output: id1, id2, hamming.
    """
    chunks = max_hamming + 1
    bits_per = 64 // chunks
    # materialize shingle-hash array first so the 32 bit-vote filters in
    # simhash share one md5 pass (see simhash_from_hashes docstring)
    sim = (
        df.select(F.col(id_col).alias("__id"), TX.tokens(F.col(text_col)).alias("__toks"))
        .select(
            "__id",
            F.transform(TX.shingles_from_tokens(F.col("__toks"), 3), TX.md5_long32).alias(
                "__hs"
            ),
        )
        .select("__id", TX.simhash_from_hashes(F.col("__hs")).alias("__sh"))
    )
    chunk_rows = sim.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("__sh", c * bits_per)
                        .bitwiseAND(F.lit((1 << bits_per) - 1))
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("__id", "__sh", "ck.chunk", "ck.key")
    cand = (
        chunk_rows.toDF("id1", "sh1", "chunk", "key")
        .join(chunk_rows.toDF("id2", "sh2", "chunk", "key"), on=["chunk", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "sh1", "sh2")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


# above this row count embedding_cosine_pairs auto-selects the bucketed
# mode: an all-pairs crossJoin beyond ~tens of thousands of rows is
# O(n²) compares and must never be the silent default at scale
AUTO_BUCKET_ROW_THRESHOLD = 20_000


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucket_bits: int = None,
    num_tables: int = 4,
) -> DataFrame:
    """Near-dup pairs by embedding cosine similarity >= threshold.

    bucket_bits=0 → exact all-pairs (correctness baseline; O(n²) compare
    but only within Spark's join, usable to ~100k rows).
    bucket_bits>0 → LSH-bucketed: candidates share a sign-hash bucket in
    ANY of `num_tables` tables (explode to (table, bucket) keys →
    equi-join → distinct), then the exact cosine filter — the 100 TB
    path: short-key shuffle, no cross product, recall 1−(1−p)^T per the
    random-hyperplane collision rate p = (1 − θ/π)^bits.
    bucket_bits=None (default) → AUTO: exact under
    `AUTO_BUCKET_ROW_THRESHOLD` rows, else bucketed (2 bits × 16 tables
    — per-pair miss ≤ ~1e-3 at sim 0.35, vanishing at real near-dup
    sims ≥ 0.9) — the scale-safe path can no longer be forgotten.
    Output: id1, id2, cos_sim.
    """
    if bucket_bits is None:
        if df.count() > AUTO_BUCKET_ROW_THRESHOLD:
            bucket_bits, num_tables = 2, max(num_tables, 16)
        else:
            bucket_bits = 0
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    if bucket_bits > 0:
        keys = F.array(
            *[
                F.struct(
                    F.lit(t).alias("t"),
                    V.lsh_bucket(F.col("__v"), t, bucket_bits).alias("b"),
                )
                for t in range(num_tables)
            ]
        )
        exploded = base.withColumn("__tb", F.explode(keys)).select(
            "__id", "__v", F.col("__tb.t").alias("t"), F.col("__tb.b").alias("b")
        )
        joined = (
            exploded.toDF("id1", "v1", "t", "b")
            .join(exploded.select("__id", "t", "b").toDF("id2", "t", "b"), on=["t", "b"])
            .filter(F.col("id1") < F.col("id2"))
            .dropDuplicates(["id1", "id2"])
            .join(
                base.select("__id", "__v").toDF("id2", "v2"), on="id2"
            )
        )
    else:
        joined = base.toDF("id1", "v1").crossJoin(base.toDF("id2", "v2")).filter(
            F.col("id1") < F.col("id2")
        )
    sim = F.expr(f"1.0D - {V.cosine('`v1`', '`v2`')}")
    return (
        joined.withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("id1", "id2", "cos_sim")
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_id: str,
    bench_id: str,
    text_col: str,
    shingle_n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing ≥
    `min_overlap` distinct word n-grams with any benchmark document —
    the standard n-gram-overlap contamination check run before training
    (GPT-3 appendix C / PaLM-style 8-gram collision test).

    Plan shape (the 100 TB path): both sides explode to distinct
    (id, shingle) rows; the join is a shingle equi-join — the benchmark
    side is small by construction (eval sets are tiny next to a training
    corpus) so it BROADCASTS, making the whole check one narrow pass
    over the corpus with no corpus shuffle. Aggregation to overlap
    counts shuffles only the matched pairs.

    Output: (corpus_id, bench_id, overlap) — distinct shingles shared,
    ≥ min_overlap, one row per contaminated (corpus doc, bench doc) pair.
    """
    # tokens materialized into a column FIRST — shingling off the
    # tokens(text) expression tree re-tokenizes per shingle (the O(len²)
    # lambda-inlining trap, shingles_from_tokens docstring)
    c_sh = (
        corpus.select(
            F.col(corpus_id).alias("__cid"), TX.tokens(F.col(text_col)).alias("__t")
        ).select(
            "__cid",
            F.explode(
                F.array_distinct(TX.shingles_from_tokens(F.col("__t"), shingle_n))
            ).alias("__sh"),
        )
    )
    b_sh = (
        benchmark.select(
            F.col(bench_id).alias("__bid"), TX.tokens(F.col(text_col)).alias("__t")
        ).select(
            "__bid",
            F.explode(
                F.array_distinct(TX.shingles_from_tokens(F.col("__t"), shingle_n))
            ).alias("__sh"),
        )
    )
    return (
        c_sh.join(F.broadcast(b_sh), on="__sh", how="inner")
        .groupBy("__cid", "__bid")
        .agg(F.count("*").alias("overlap"))
        .filter(F.col("overlap") >= min_overlap)
        .select(
            F.col("__cid").alias(corpus_id),
            F.col("__bid").alias(bench_id),
            "overlap",
        )
    )


def dedup_clusters(
    pairs: DataFrame, nodes: DataFrame, id_col: str = "id"
) -> DataFrame:
    """Connected components over a near-dup pair graph: every document
    gets `cluster_id` = the MINIMUM doc id reachable through near-dup
    links (the canonical representative). The curation step after any
    pairwise dedup signal (minhash/ngram/simhash/embedding): keep one
    doc per cluster, drop the rest.

    Algorithm: iterative min-label propagation with label SHORTCUTTING
    (each round also joins labels through the current label graph —
    pointer doubling), so convergence is O(log diameter) rounds, not
    O(diameter); each round is one shuffle join on ids. Labels and the
    symmetric edge list are pinned per round. This is the standard
    large-graph CC formulation (Hash-to-Min); near-dup clusters are
    tiny, so rounds ≈ 2-3 in practice.

    `pairs`: columns (id1, id2) — undirected. `nodes`: one column of all
    doc ids (singletons become their own cluster). Output: (doc_id,
    cluster_id).
    """
    # lazy pins (r13): round 1's jobs materialize the blocks; the eager
    # form paid two standalone jobs before the loop even started
    sym = (
        pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
        .unionByName(pairs.select(F.col("id2").alias("a"), F.col("id1").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=False)
    for _ in range(32):  # backstop; converges in O(log diameter)
        # neighbor minimum: the smallest label among me and my neighbors
        nbr = (
            sym.join(labels.toDF("b", "nbr_label"), on="b")
            .groupBy("a")
            .agg(F.min("nbr_label").alias("nbr_min"))
            .toDF("node", "nbr_min")
        )
        stepped = (
            labels.join(nbr, on="node", how="left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
            )
        )
        # shortcut: follow my label's own label (pointer doubling)
        shortcut = (
            stepped.join(
                labels.toDF("label", "parent_label"), on="label", how="left"
            )
            .select(
                "node",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("parent_label"), F.col("label")),
                ).alias("label"),
            )
        )
        # lazy pin (r13): the `changed` probe below materializes the
        # round's label blocks in ITS job — one job per round, not two
        new_labels = shortcut.localCheckpoint(eager=False)
        changed = (
            new_labels.toDF("node", "new")
            .join(labels, on="node")
            .filter(F.col("new") != F.col("label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    max_doc_freq: int = 1,
) -> DataFrame:
    """Corpus-level LINE deduplication — the C4/MassiveText boilerplate
    pass: any line (text split on `sep`) occurring in MORE than
    `max_doc_freq` distinct documents is removed from every document
    (nav menus, cookie banners, license headers); surviving lines are
    reassembled in original order. Documents whose every line is
    boilerplate come back with empty text (row kept).

    Scale shape (the 100 TB story):
    * explode → one row per line, grouped by the md5 of the line (a
      fixed-width key — the shuffle carries 32-byte hashes, not line
      text) counting DISTINCT doc ids;
    * the over-frequent set (the blocklist) is small by nature —
      boilerplate is the head of the line-frequency distribution — so
      it broadcast-anti-joins against the exploded lines (hint applied
      when its measured size is under the broadcast cap, plain
      anti-join otherwise);
    * reassembly is one groupBy(doc) of (pos, line) structs →
      array_sort → array_join: a single shuffle keyed on doc id.

    Output: (id_col, text_col) with cleaned text.
    """
    import re as _re

    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep), -1)
        ).alias("__pos", "__line"),
    ).withColumn("__h", F.md5(F.col("__line")))
    # lazy pin + count in ONE job (r13 _pin_count pattern): the frame
    # is materialized either way for the anti-join, so the full count
    # over its blocks replaces the eager-checkpoint + limit-probe pair
    blk = (
        lines.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .filter(F.col("__df") > max_doc_freq)
        .select("__h")
        .localCheckpoint(eager=False)
    )
    blk_small = blk.count() <= BROADCAST_CAP
    kept = lines.join(
        F.broadcast(blk) if blk_small else blk, "__h", "left_anti"
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__pos", "__line"))
                ),
                lambda s: s["__line"],
            ),
            sep,
        ).alias(text_col)
    )
    return (
        df.select(id_col)
        .join(reassembled, id_col, "left")
        .fillna({text_col: ""})
    )


def keep_canonical(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    quality: Optional[Column] = None,
) -> DataFrame:
    """Final step of the near-dup pipeline: keep ONE document per
    cluster — the highest-quality member (ties: smallest id) — and drop
    the rest. Composes after `dedup_clusters` the way production
    curation does: pairwise signal → connected components → canonical
    survivor set.

    `clusters` is (id_col, cluster_id) from `dedup_clusters`; `quality`
    is any numeric Column over `docs` (default: character length of
    `text`, the common "longest variant wins" heuristic).

    Scale shape: one equi-join to label docs, one groupBy(cluster_id)
    with `min_by` over a (-quality, id) struct, then a semi-join of docs
    against the winner ids (AQE broadcasts it when the cluster count is
    small). The struct-ordered min_by plans as partial+final
    SortAggregate — the partial pass combines map-side, so the shuffle
    carries at most ONE candidate per cluster per input partition. A
    Window(row_number) formulation would instead shuffle and sort every
    doc row by cluster; skewed giant clusters make that a straggler.

    Output: the surviving doc rows plus their cluster_id.
    """
    q = quality if quality is not None else F.length(F.col("text"))
    labeled = docs.join(clusters, on=id_col)
    winners = (
        labeled.select(
            "cluster_id",
            F.col(id_col),
            q.cast("double").alias("_q"),
        )
        .groupBy("cluster_id")
        .agg(
            F.min_by(
                F.col(id_col), F.struct((-F.col("_q")).alias("nq"), F.col(id_col))
            ).alias(id_col)
        )
    )
    return labeled.join(winners.select(id_col), on=id_col, how="semi")


def dedup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    max_freq: int = 1,
) -> DataFrame:
    """Exact-substring deduplication at token-window granularity — the
    "Deduplicating Training Data Makes Language Models Better" pass
    (Lee et al. 2022, arXiv:2107.06499), re-expressed for Spark: any
    `window`-token span whose exact token sequence occurs MORE than
    `max_freq` times across the corpus (including twice inside one
    document) is removed from every occurrence; the survivors of each
    document are reassembled in order. The reference curates corpora
    with line- and document-level dedup (BASELINE.json pipeline brief);
    this is the finer span-level sibling.

    Scale shape (the 100 TB story):
    * window hashes are built ARRAY-SIDE per document (one transform
      over the token array), then exploded as narrow (id, start, md5)
      rows — the shuffle key is a fixed-width hash, never span text;
    * the duplicated-window set is the head of the window-frequency
      distribution (boilerplate-like), so it is small by nature:
      localCheckpointed, measured, and broadcast into the semi-join
      when under the cap, plain shuffle join otherwise (the
      dedup_lines discipline);
    * covered token positions explode ONLY duplicated windows (k× rows
      on the duplicate minority, linear overall); reassembly is one
      groupBy(doc) of (pos, token) structs.

    Output: (id_col, text_col) with every duplicated span removed;
    documents made entirely of duplicated spans come back empty (row
    kept). Tokenization is TX.tokens (lowercase word stream), so the
    output is a cleaned TOKEN stream — the operator contract is about
    which tokens survive, not whitespace fidelity.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    toks = TX.tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    win_structs = F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(0), n - window),
            lambda s: F.struct(
                s.cast("int").alias("s"),
                F.md5(
                    F.array_join(F.slice(F.col("__toks"), s + 1, window), " ")
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<s:int,h:string>>"))
    wins = base.select(
        F.col(id_col), F.explode(win_structs).alias("__w")
    ).select(F.col(id_col), F.col("__w.s").alias("__s"), F.col("__w.h").alias("__h"))
    # lazy pin + count in ONE job (r13 _pin_count pattern, see
    # dedup_lines' blk)
    dup = (
        wins.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_freq)
        .select("__h")
        .localCheckpoint(eager=False)
    )
    dup_small = dup.count() <= BROADCAST_CAP
    covered = (
        wins.join(F.broadcast(dup) if dup_small else dup, "__h", "semi")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("__s"), F.col("__s") + (window - 1))
            ).alias("__p"),
        )
        .distinct()
    )
    tokpos = base.select(
        F.col(id_col), F.posexplode("__toks").alias("__p", "__t")
    )
    kept = tokpos.join(covered, [id_col, "__p"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__t"))),
                lambda s: s["__t"],
            ),
            " ",
        ).alias(text_col)
    )
    return (
        df.select(id_col)
        .join(reassembled, id_col, "left")
        .fillna({text_col: ""})
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: Optional[int] = None,
    iters: int = 2,
    threshold: float = 0.95,
    target_cluster_size: int = 250,
    max_cluster_rows: int = 16384,
    corpus_rows: Optional[int] = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus with deterministic
    k-means (operators/clustering.kmeans_assign — no RNG, so the whole
    pipeline is oracle-checkable), then compare pairs ONLY within a
    cluster; a row whose cosine similarity to a LOWER-id row in the
    same cluster reaches `threshold` is a semantic duplicate and is
    dropped. Rows kmeans marked invalid (NULL cluster) cannot be
    compared and are kept.

    Scale shape: the all-pairs comparison is confined to clusters, so
    per-cluster populations must stay bounded or the self-join goes
    quadratic. The SemDeDup design point k ≈ n/target_cluster_size
    lives IN the operator (VERDICT r10 #4): with `k=None` (the
    default), one cheap count derives k = max(4, ceil(n /
    target_cluster_size)), so the default configuration is linear at
    any corpus size; pass an explicit `k` to override (the caller then
    owns the scaling). The join shuffles on the cluster id; survivors
    come from ONE anti-join against the dominated-id set.

    Output: surviving (id_col, cluster) rows — the deduplicated corpus
    membership a downstream sampler consumes.
    """
    from inputlayer_spark.operators.clustering import kmeans_assign

    if k is None:
        if target_cluster_size < 1:
            raise ValueError("target_cluster_size must be >= 1")
        n = df.count()
        k = max(4, -(-n // target_cluster_size))
        if corpus_rows is None:
            corpus_rows = n
    # materialize the narrow (id, cluster) assignment ONCE — three
    # branches of the dedup DAG (both pair sides + the final anti-join)
    # would otherwise each re-run the k-fold assignment scan; the
    # checkpoint is 2 columns x n rows, the cheapest frame in the plan
    # lazy pin (r13): still materialized exactly once (the kernel's
    # groupBy is the first consumer; the final anti-join reuses the
    # blocks) without the eager form's standalone job.
    assigned = kmeans_assign(df, id_col, vec_col, k=k, iters=iters).localCheckpoint(
        eager=False
    )
    # PRE-NORMALIZE once per row (O(n) folds), so each of the O(pairs)
    # comparisons is a single dot-product fold instead of V.cosine's
    # three (dot + two norms) — measured 5x on the sf0.1 pair volume.
    # The zero-norm flag preserves V.cosine's "zero vectors are
    # identical" rule (vector_ops.rs:158-160): two zero embeddings
    # dedup together, which is the curation intent.
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    labeled = assigned.join(df.select(F.col(id_col), F.col(vec_col)), id_col).select(
        F.col(id_col),
        F.col("cluster"),
        (norm == 0.0).alias("__z"),
        F.when(norm == 0.0, F.transform(F.col(vec_col), lambda x: F.lit(0.0)))
        .otherwise(F.transform(F.col(vec_col), lambda x: x.cast("double") / norm))
        .alias("__nv"),
    ).filter(F.col("cluster").isNotNull())

    # Per-cluster pair comparison as a grouped Arrow kernel (r13, guide
    # §4.2): the old formulation self-joined `labeled` on the cluster id
    # and ran one interpreted zip_with/aggregate fold PER PAIR — at
    # sf0.1 that single job (250k pairs × 64-dim lambda folds) was 3.7 s
    # of the row's 6.8 s, and it shuffled the normalized vectors TWICE
    # (both join sides). Now the vectors shuffle ONCE (groupBy cluster)
    # and each cluster's Gram block runs through numpy's matmul —
    # vectorized native code over Arrow batches. Work and memory stay
    # cluster-confined: the blocked matmul materializes B×c sims at a
    # time (B=4096), so per-task transient memory is O(c·dim + B·c) —
    # the same c² compute bound as the pair join, minus the pair-row
    # materialization. Result identity: dominated(j) ⟺ ∃ i<j in-cluster
    # with sim ≥ threshold — the same greedy-by-id rule; numpy's
    # blocked double-precision summation differs from the sequential
    # fold only by ~1 ulp-scale rounding, and the measured decision
    # margin min|sim − threshold| on the oracle-checked corpora is
    # 5.9e-7 (sf0.1, tighter SFs larger) — eleven orders above the
    # reordering error, so no pair can flip across the threshold
    # (verified empirically; see OPTIMIZATION_r13.md).
    import numpy as np
    import pandas as pd

    id_field = labeled.schema[id_col]
    out_schema = T.StructType([id_field])
    thr = float(threshold)

    def _dominated_in_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        # ascending id order = the greedy-by-id domination order; for
        # non-numeric ids pandas compares Python strings code-point-wise,
        # matching Spark's binary (UTF8_BINARY) ordering
        pdf = pdf.sort_values(id_col, kind="mergesort")
        c = len(pdf)
        if c < 2:
            return pd.DataFrame({id_col: pdf[id_col][:0]})
        X = np.vstack(pdf["__nv"].to_numpy())
        z = pdf["__z"].to_numpy(dtype=bool)
        dom = np.zeros(c, dtype=bool)
        B = 4096
        for s in range(1, c, B):
            e = min(s + B, c)
            # sims of candidate rows j∈[s,e) against ALL i<e, then mask
            # i ≥ j (strictly-lower-id comparisons only)
            G = np.clip(X[s:e] @ X[:e].T, -1.0, 1.0)
            if z.any():
                zb = z[s:e, None] & z[None, :e]
                G[zb] = 1.0  # zero vectors are identical (V.cosine rule)
            mask = np.arange(e)[None, :] < np.arange(s, e)[:, None]
            dom[s:e] = ((G >= thr) & mask).any(axis=1)
        return pd.DataFrame({id_col: pdf[id_col].to_numpy()[dom]})

    # ---- bounded per-cluster tasks (r14, guide §2.5 skew; VERDICT r13
    # #3 / ADVICE r13) ----
    # applyInPandas materializes each cluster as ONE task. k ∝ n/target
    # bounds the DESIGN cluster size, but k-means does not bound the
    # ACTUAL max — a degenerate corpus (near-identical embeddings) can
    # put nearly everything in one cluster, giving a single straggler
    # task O(c·dim) memory and O(c²) compute. Probe the pinned
    # assignment for oversized clusters (one tiny 2-column aggregate;
    # the probe also materializes `assigned`, work the kernel's first
    # job paid anyway). In the common case (no oversized clusters) the
    # plan below is EXACTLY the r13 shape. Otherwise oversized
    # clusters split into id-ordered blocks of `max_cluster_rows` rows
    # and every block PAIR (p ≤ q) becomes its own kernel task.
    # Result-identical: dominated(j) ⟺ ∃ i<j in-cluster with sim ≥ thr
    # enumerates identically over block pairs — blocks are id-ordered,
    # so i∈p, j∈q with p<q implies i<j, and the strict i<j triangle is
    # only needed on the p == q diagonal. Each pair is computed in
    # exactly one task; per-pair float64 dot products match the
    # one-task kernel up to BLAS summation order (~1 ulp — far inside
    # the measured 5.9e-7 decision margin, same argument as r13).
    # Per-task memory drops to O(max_cluster_rows·dim).
    # probe elision: when the caller's corpus row count (or the k=None
    # path's own count) already proves no cluster CAN exceed the cap,
    # skip the probe job outright — the common-at-bench-scale case pays
    # zero extra actions (the +0.2 s probe regression measured in the
    # first r14 A/B).
    if corpus_rows is not None and corpus_rows <= max_cluster_rows:
        grouped = labeled.groupBy("cluster").applyInPandas(
            _dominated_in_cluster, schema=out_schema
        )
        dominated = grouped.distinct()
        return assigned.join(dominated, id_col, "left_anti")
    oversized = (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("__csz"))
        .filter(F.col("__csz") > max_cluster_rows)
        .select("cluster")
        .localCheckpoint(eager=False)
    )
    if oversized.count() == 0:
        grouped = labeled.groupBy("cluster").applyInPandas(
            _dominated_in_cluster, schema=out_schema
        )
        dominated = grouped.distinct()
        return assigned.join(dominated, id_col, "left_anti")

    # split path: pin `labeled` so the normalize+join subtree feeding
    # BOTH branches runs once (its blocks are consumed immediately);
    # the oversized-cluster key set is |clusters|-bounded — broadcast
    # under the same 2M-row discipline as the other dedup sites
    from pyspark.sql import Window

    labeled = labeled.localCheckpoint(eager=False)
    small_part = labeled.join(F.broadcast(oversized), "cluster", "left_anti")
    big_part = labeled.join(F.broadcast(oversized), "cluster", "left_semi")
    wrn = Window.partitionBy("cluster").orderBy(id_col)
    blk = (
        big_part.withColumn(
            "__b",
            F.floor((F.row_number().over(wrn) - 1) / max_cluster_rows).cast("int"),
        )
        .withColumn("__nb", F.max("__b").over(Window.partitionBy("cluster")) + 1)
    )
    # a row in block b joins every pair task it participates in: as the
    # lower-id side of (b, q≥b) and as the candidate side of (p≤b, b);
    # array_union dedups the shared diagonal (b, b)
    tasks = F.array_union(
        F.transform(
            F.sequence(F.col("__b"), F.col("__nb") - 1),
            lambda q: F.struct(F.col("__b").alias("p"), q.alias("q")),
        ),
        F.transform(
            F.sequence(F.lit(0), F.col("__b")),
            lambda p: F.struct(p.alias("p"), F.col("__b").alias("q")),
        ),
    )
    exploded = blk.withColumn("__t", F.explode(tasks)).select(
        "cluster",
        F.col("__t.p").alias("__p"),
        F.col("__t.q").alias("__q"),
        "__b",
        F.col(id_col),
        "__z",
        "__nv",
    )

    def _dominated_block_pair(key, pdf):
        p, q = key[1], key[2]
        if p == q:
            return _dominated_in_cluster(pdf)
        pdf = pdf.sort_values(id_col, kind="mergesort")
        refs = pdf[pdf["__b"] == p]
        cand = pdf[pdf["__b"] == q]
        if not len(refs) or not len(cand):
            return pd.DataFrame({id_col: pdf[id_col][:0]})
        Xi = np.vstack(refs["__nv"].to_numpy())
        Xj = np.vstack(cand["__nv"].to_numpy())
        zi = refs["__z"].to_numpy(dtype=bool)
        zj = cand["__z"].to_numpy(dtype=bool)
        cj = len(cand)
        dom = np.zeros(cj, dtype=bool)
        B = 4096
        for s in range(0, cj, B):
            e = min(s + B, cj)
            # every ref id < every cand id (id-ordered blocks, p < q):
            # no triangle mask needed off the diagonal
            G = np.clip(Xj[s:e] @ Xi.T, -1.0, 1.0)
            if zi.any() or zj.any():
                zb = zj[s:e, None] & zi[None, :]
                G[zb] = 1.0  # zero vectors are identical (V.cosine rule)
            dom[s:e] = (G >= thr).any(axis=1)
        return pd.DataFrame({id_col: cand[id_col].to_numpy()[dom]})

    grouped_small = small_part.groupBy("cluster").applyInPandas(
        _dominated_in_cluster, schema=out_schema
    )
    grouped_big = exploded.groupBy("cluster", "__p", "__q").applyInPandas(
        _dominated_block_pair, schema=out_schema
    )
    dominated = grouped_small.unionByName(grouped_big).distinct()
    return assigned.join(dominated, id_col, "left_anti")


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-snapshot deduplication — the daily-crawl pattern: which
    NEW documents survive against an EXISTING corpus? A batch row is
    dropped when it exactly duplicates a corpus document (content
    hash), exactly duplicates a smaller-id batch document, or is a
    near-duplicate (exact Jaccard >= `threshold`, MinHash-LSH
    candidates) of a corpus document or of a smaller-id batch document
    (greedy-by-id, like SemDeDup — the smaller id wins regardless of
    its own fate, so the rule is order-free and deterministic).
    Requires ids unique across batch ∪ corpus.

    Scale shape: the exact stage is a hash anti-join (fixed-width keys)
    and removes mass BEFORE shingling; the near stage reuses the
    minhash_lsh_pairs banding self-join over corpus ∪ surviving batch
    (band keys only — the corpus side's signatures are recomputed here,
    but a production deployment persists them as an index artifact and
    unions the increment), then exact-Jaccard verifies candidates only.

    Output: the surviving batch rows (id_col, text_col).
    """
    bh = batch.select(
        F.col(id_col), F.col(text_col), F.md5(F.col(text_col)).alias("__h")
    )
    ch = corpus.select(F.md5(F.col(text_col)).alias("__h")).distinct()
    # lazy pin + count in ONE job (the r13 _pin_count pattern): the old
    # eager checkpoint ran a materialization job and the cap probe a
    # second one; the frame is materialized either way (it feeds the
    # anti-join), so the full count over checkpoint blocks replaces the
    # limit probe for free.
    ch_small = ch.localCheckpoint(eager=False)
    use_bc = ch_small.count() <= BROADCAST_CAP
    no_corpus_exact = bh.join(
        F.broadcast(ch_small) if use_bc else ch_small, "__h", "left_anti"
    )
    reps = no_corpus_exact.groupBy("__h").agg(F.min(F.col(id_col)).alias(id_col))
    surv0 = no_corpus_exact.join(reps.select(id_col), id_col, "semi").drop("__h")

    tagged = corpus.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("__new")
    ).unionByName(
        surv0.select(F.col(id_col), F.col(text_col), F.lit(True).alias("__new"))
    )
    # lazy pin (r13): the shingle frame is still computed exactly once
    # (first consumer materializes the checkpoint blocks, later joins
    # reuse them) but no standalone materialization job is paid.
    sh = doc_shingle_arrays(tagged, id_col, text_col, shingle_n).localCheckpoint(
        eager=False
    )
    cand = minhash_lsh_pairs(
        tagged, id_col, text_col, num_perm, bands, shingle_n, shingle_arrays=sh
    )
    ver = jaccard_verify_pairs(cand, sh, threshold)
    # the (id, __new) tags frame is corpus ∪ batch — CORPUS-SIZED by
    # construction, so the broadcast hint is cap-guarded like every other
    # adaptive site in this module (an unconditional hint here OOMs the
    # cluster at 100 TB: billions of ids on every executor — VERDICT r10
    # #2). Past the cap the joins shuffle on the id keys; the verified
    # pair graph `ver` is the naturally small side and AQE picks it as
    # the build side at runtime.
    tags = tagged.select(F.col(id_col), F.col("__new"))
    if _fits_broadcast(tags):
        # lazy pin (r13): blocks materialize inside the broadcast
        # build instead of a standalone checkpoint job. The limit
        # probe above stays a probe — fusing it into a full count
        # would scan the corpus-sized frame when it does NOT fit.
        tags = tags.localCheckpoint(eager=False)
        t1 = F.broadcast(tags.toDF("id1", "__new1"))
        t2 = F.broadcast(tags.toDF("id2", "__new2"))
    else:
        t1 = tags.toDF("id1", "__new1")
        t2 = tags.toDF("id2", "__new2")
    flagged = ver.join(t1, "id1").join(t2, "id2")
    # pairs are (id1 < id2): a mixed pair kills its new side whichever
    # side that is; a new-new pair kills the larger id
    dominated = (
        flagged.filter(F.col("__new1") & F.col("__new2"))
        .select(F.col("id2").alias(id_col))
        .unionByName(
            flagged.filter(F.col("__new1") & ~F.col("__new2")).select(
                F.col("id1").alias(id_col)
            )
        )
        .unionByName(
            flagged.filter(~F.col("__new1") & F.col("__new2")).select(
                F.col("id2").alias(id_col)
            )
        )
        .distinct()
    )
    return surv0.join(dominated, id_col, "left_anti")


def build_dedup_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
):
    """One-time index artifacts for `incremental_dedup_indexed`: the
    three deterministic per-doc derivations the batch path would
    otherwise recompute over the WHOLE corpus on every micro-batch
    (the reference persists its LSH/HNSW artifacts the same way —
    index build is `.index create`-time work, probes pay only their
    own cost):

    - hashes  (__id, __h)            — md5 content hash (exact stage)
    - bands   (__id, band, key)      — MinHash-LSH band rows
    - arrays  (__id, __sh_arr)       — distinct shingle arrays (verify)

    Returns the three DataFrames; persist them as parquet and union
    per-batch survivor deltas (every row is a pure function of one
    document, so incremental append IS maintenance). Parameters
    (num_perm/bands/shingle_n) are part of the artifact's identity —
    mixing rows built with different parameters is meaningless.
    """
    hashes = corpus.select(
        F.col(id_col).alias("__id"), F.md5(F.col(text_col)).alias("__h")
    )
    arrays = doc_shingle_arrays(corpus, id_col, text_col, shingle_n)
    band_rows = minhash_band_rows(arrays, num_perm, bands)
    return hashes, band_rows, arrays


def incremental_dedup_indexed(
    batch: DataFrame,
    index_hashes: DataFrame,
    index_bands: DataFrame,
    index_arrays: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    threshold: float = 0.5,
    key_pushdown=False,
    hash_pushdown=False,
    pushdown_cap: int = 1_024,
):
    """`incremental_dedup` against a PERSISTED corpus index instead of
    the corpus itself — the production shape: per-batch work is
    O(batch + candidates), never O(corpus). The corpus text is not an
    input at all; the exact stage anti-joins the batch's md5 hashes
    against the hash artifact, the near stage joins the batch's band
    rows against the band artifact (corpus-corpus pairs are skipped BY
    CONSTRUCTION — they can never dominate a batch row, so results are
    identical to incremental_dedup; equivalence is test-pinned), and
    exact-Jaccard verification fetches shingle arrays for candidate
    ids only.

    `key_pushdown` (VERDICT r11 #2: the candidate join scans the FULL
    band artifact per batch) narrows the artifact scan to the batch's
    own band keys before the join: the batch's distinct `key` strings —
    bounded by bands × batch docs, NEVER corpus-sized — become an
    `IN (...)` filter on the artifact, which Spark pushes into the
    parquet scan (row-group min/max + dictionary pruning; a
    key-range-clustered artifact layout, e.g.
    `repartitionByRange("key").sortWithinPartitions("key")` at index
    build time, makes whole row groups skip). Filtered rows can never
    equi-join a batch band row, so survivors are identical (the
    differential fuzz covers this path). "auto" applies it while the
    distinct key count fits `pushdown_cap`; True forces, False disables.

    The default is False — measurement-driven: SCALE_r12_dedup_index
    shows the pushdown LOSING at every locally measurable artifact size
    (5.50 vs 4.77 s at an 8M-row artifact with 800 keys: the probe's
    extra action + per-row InSet eval exceed the ~1 s scan it saves),
    with the win an extrapolation to TB-scale artifacts where the
    full-scan term is minutes and row-group skips dominate — enable it
    there. The cap is a LITERAL-PLAN bound, not a correctness bound,
    and is deliberately micro-batch-sized: a 16k-literal IN measured
    +22 s on the sf0.1 bench row (the literal-count-proportional
    plan/pushdown machinery swamps any saving), while sub-1k literal
    sets plan in milliseconds. Past the cap the artifact scan stays
    full and the (band, key) equi-join — batch side broadcast — does
    the filtering; for BULK batches the engine-level mitigation is AQE
    stat broadcasts / bloom joins (runtime bloom injection is on by
    default in this Spark), never a literal list.

    `hash_pushdown` is the same machinery for the EXACT stage's hash
    artifact (VERDICT r12 #5): the batch's distinct md5 set becomes an
    `IN (...)` pushdown over the `__h`-clustered artifact. The filter
    is exact (an artifact hash outside the batch set can never match
    the anti-join), same cap, same True/"auto"/False semantics, and
    the same measurement-driven default — see SCALE_r13's
    `indexed_hpush` column for where it wins.

    Returns (survivors, delta_hashes, delta_bands, delta_arrays): the
    surviving batch rows plus their index rows — append the deltas to
    the artifacts and the index is current for the next batch.
    """
    bh = batch.select(
        F.col(id_col), F.col(text_col), F.md5(F.col(text_col)).alias("__h")
    )
    if hash_pushdown:
        # VERDICT r12 #5: the exact stage otherwise scans the FULL
        # O(corpus) hash artifact every batch — the last per-batch
        # corpus-proportional term in the indexed path. The batch's
        # own md5 set (bounded by batch size, NEVER corpus-sized)
        # becomes an `IN (...)` parquet pushdown; over the
        # __h-clustered artifact layout (maintainer._cluster_hashes)
        # only row groups whose min/max straddle a batch hash are
        # read. Unlike key_pushdown this filter is EXACT, not a
        # superset: artifact rows outside the batch's hash set can
        # never witness the anti-join, so survivors are identical
        # (covered by the three-formulation differential fuzz).
        hs = [
            r["__h"]
            for r in bh.select("__h").distinct().limit(pushdown_cap + 1).collect()
        ]
        if len(hs) <= pushdown_cap:
            index_hashes = index_hashes.where(F.col("__h").isin(hs))
        elif hash_pushdown is True:
            raise ValueError(
                f"hash_pushdown=True but the batch carries more than "
                f"pushdown_cap={pushdown_cap} distinct content hashes"
            )
    hset = index_hashes.select("__h").distinct()
    no_corpus_exact = bh.join(
        F.broadcast(hset) if _fits_broadcast(hset) else hset, "__h", "left_anti"
    )
    reps = no_corpus_exact.groupBy("__h").agg(F.min(F.col(id_col)).alias(id_col))
    surv0 = no_corpus_exact.join(reps.select(id_col), id_col, "semi").drop("__h")

    # lazy pins (r13): both frames are still computed exactly once
    # (checkpoint blocks materialize in the first consuming job, later
    # consumers reuse them) but the two standalone materialization
    # jobs the eager form paid are gone.
    arr_b = doc_shingle_arrays(surv0, id_col, text_col, shingle_n).localCheckpoint(
        eager=False
    )
    bands_b = minhash_band_rows(arr_b, num_perm, bands).localCheckpoint(eager=False)
    if key_pushdown:
        keys = [
            r["key"]
            for r in bands_b.select("key").distinct().limit(pushdown_cap + 1).collect()
        ]
        if len(keys) <= pushdown_cap:
            # key strings collide across bands only by hash accident —
            # the IN filter is a superset of the joinable rows, the
            # (band, key) equi-join below stays the arbiter
            index_bands = index_bands.where(F.col("key").isin(keys))
        elif key_pushdown is True:
            raise ValueError(
                f"key_pushdown=True but the batch carries more than "
                f"pushdown_cap={pushdown_cap} distinct band keys"
            )
    all_bands = index_bands.unionByName(bands_b)
    # candidates = batch-side band rows against ALL band rows: exactly
    # the pairs with >= 1 new member (the only ones the kill rule can
    # act on). Batch-batch pairs match twice before the distinct.
    a = bands_b.toDF("ida", "band", "key")
    b = all_bands.toDF("idb", "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("id1"),
            F.greatest("ida", "idb").alias("id2"),
        )
        .distinct()
    )
    ver = jaccard_verify_pairs(cand, index_arrays.unionByName(arr_b), threshold)
    # new-side flags come from the batch id set (batch-sized, never
    # corpus-sized — the whole point of the indexed path), cap-guarded
    # all the same
    # lazy pin + count in ONE job (r13 _pin_count pattern; the id set
    # is batch-sized by construction, so a full count is safe)
    new_ids = surv0.select(F.col(id_col)).localCheckpoint(eager=False)
    small = new_ids.count() <= BROADCAST_CAP
    n1 = new_ids.toDF("id1").withColumn("__new1", F.lit(True))
    n2 = new_ids.toDF("id2").withColumn("__new2", F.lit(True))
    flagged = (
        ver.join(F.broadcast(n1) if small else n1, "id1", "left")
        .join(F.broadcast(n2) if small else n2, "id2", "left")
        .fillna({"__new1": False, "__new2": False})
    )
    dominated = (
        flagged.filter(F.col("__new1") & F.col("__new2"))
        .select(F.col("id2").alias(id_col))
        .unionByName(
            flagged.filter(F.col("__new1") & ~F.col("__new2")).select(
                F.col("id1").alias(id_col)
            )
        )
        .unionByName(
            flagged.filter(~F.col("__new1") & F.col("__new2")).select(
                F.col("id2").alias(id_col)
            )
        )
        .distinct()
    )
    # lazy pin (r13): the four returned frames all derive from surv —
    # the first action (the caller's count or survivors write)
    # materializes the blocks, the other three reuse them; the eager
    # form paid a dedicated materialization job up front.
    surv = surv0.join(dominated, id_col, "left_anti").localCheckpoint(eager=False)
    sid = surv.select(F.col(id_col).alias("__id"))
    delta_hashes = surv.select(
        F.col(id_col).alias("__id"), F.md5(F.col(text_col)).alias("__h")
    )
    delta_bands = bands_b.join(sid, "__id", "semi")
    delta_arrays = arr_b.join(sid, "__id", "semi")
    return surv, delta_hashes, delta_bands, delta_arrays
