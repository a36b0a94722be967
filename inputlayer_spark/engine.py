"""IQLEngine — parse and execute IQL programs on a SparkSession.

The execution lifecycle mirrors the reference pipeline
(`/root/reference/src/lib.rs:1528-1703`): parse → validate → stratify →
compile per-head plans → evaluate strata in dependency order, feeding each
derived relation to later ones — except that plan optimization is
delegated to Catalyst and "execution" is lazy DataFrame construction until
a query forces an action.

Knowledge graphs (`.kg` commands, reference src/storage_engine/mod.rs) map
to independent relation namespaces; sessions overlay ephemeral facts.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inputlayer_spark.ast_nodes import (
    Agg,
    Atom,
    Comparison,
    Const,
    Delete,
    EmptyBatch,
    Fact,
    HnswNearest,
    MetaCommand,
    Query,
    Rule,
    SchemaDecl,
    TypeDecl,
    Update,
    Var,
    VecLit,
)
from inputlayer_spark.compiler import (
    CompileError,
    EmptyAritylessRelation,
    compile_body,
    compile_head,
    sql_ident,
    term_to_sql,
)
from inputlayer_spark.parser import ParseError, parse_program
from inputlayer_spark.magic_sets import (
    magic_rewrite,
    seeded_tc_closure,
    tc_adjacency,
    tc_bfs_shape,
)
# maintenance calls recursion.seminaive_insert / dred_retract through the
# module, so a wrapper installed on it (tests, perfbench) sees each call
from inputlayer_spark import recursion
from inputlayer_spark.recursion import (
    StratificationError,
    condensation,
    evaluate_scc,
    is_recursive_scc,
)
from inputlayer_spark.session import small_local_df

_TYPE_MAP = {
    "int": T.LongType(),
    "integer": T.LongType(),
    "int64": T.LongType(),
    "float": T.DoubleType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "symbol": T.StringType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "timestamp": T.LongType(),  # Unix ms, like Value::Timestamp
    "time": T.LongType(),
    "datetime": T.LongType(),
    "any": T.StringType(),
}


def _spark_type_for(name: str) -> T.DataType:
    base = name.split("(")[0]
    if base in ("vector", "embedding"):
        return T.ArrayType(T.FloatType())
    t = _TYPE_MAP.get(base)
    if t is None:
        raise CompileError(f"unknown type {name}")
    return t


def _parse_dtype(s: str) -> T.DataType:
    """simpleString → DataType (snapshot catalog round-trip)."""
    try:
        return T._parse_datatype_string(s)
    except Exception:
        return T.StringType()


def _new_rlock():
    import threading

    return threading.RLock()


def _unpersist(df: DataFrame) -> None:
    # best-effort release: it fails only when the JVM gateway is gone
    try:
        df.unpersist()
    except Exception:
        pass


@dataclass
class KnowledgeGraph:
    """One namespace of relations + rules + schemas + indexes
    (reference: KnowledgeGraph, src/storage_engine/mod.rs)."""

    name: str
    relations: Dict[str, DataFrame] = field(default_factory=dict)
    rules: List[Rule] = field(default_factory=list)
    schemas: Dict[str, T.StructType] = field(default_factory=dict)
    indexes: Dict[str, Tuple[str, str, str, str]] = field(default_factory=dict)
    # index name -> (relation, column, metric, kind); kind is "lsh"
    # (bucket-artifact, the distributed default) or "hnsw" (exact
    # driver-side graph, reference src/hnsw_index.rs). Catalogs written
    # before the kind field load as 3-tuples and are padded on read.
    type_aliases: Dict[str, str] = field(default_factory=dict)
    # alias -> base type name ('type Email: string', SchemaType::Named)
    empty_relations: set = field(default_factory=set)
    # `+rel[]`-declared, arity unknown until first real insert
    # Cross-engine invalidation epochs: multiple session engines share
    # ONE KnowledgeGraph (server _engine_for) but each holds its own
    # materialization caches. Every write bumps `epoch` and stamps each
    # (transitively) dirtied head/relation in `head_epoch`; an engine's
    # cached frame is valid only while its recorded stamp matches — so
    # a write through ANY session invalidates every other session's
    # stale copies at their next read (the reference's consistent
    # snapshot-read contract, src/storage_engine/snapshot.rs).
    epoch: int = 0
    head_epoch: Dict[str, int] = field(default_factory=dict)
    # Per-KG writer lock: mutating statements (fact inserts, deletes,
    # atomic updates, persistent rule registration) serialize on the
    # SHARED KnowledgeGraph so concurrent library writers cannot lose
    # updates in the read-union-write append (the reference's
    # single-writer storage engine, src/storage_engine/mod.rs; the
    # server adds its own coarser lock on top). Reads stay lock-free.
    write_lock: object = field(default_factory=_new_rlock, repr=False)


class IQLEngine:
    def __init__(
        self,
        spark: SparkSession,
        wal_dir: Optional[str] = None,
    ):
        self.spark = spark
        self.kgs: Dict[str, KnowledgeGraph] = {"default": KnowledgeGraph("default")}
        self.current = self.kgs["default"]
        self.session_rules: List[Rule] = []
        # search roots for relative `.load` paths (cwd first; callers may
        # append e.g. a corpus root)
        self.load_paths: List[str] = ["."]
        self.session_facts: Dict[str, List[tuple]] = {}
        self._derived_cache: Dict[str, DataFrame] = {}
        # head -> KG head_epoch at caching time; mismatch = a write from
        # another engine sharing this KG dirtied the head (see
        # KnowledgeGraph.head_epoch)
        self._cache_epoch: Dict[str, int] = {}
        # relation -> callbacks fired when that relation (or a derivation
        # of it) changes — the reference's change-notification channel
        # (src/protocol/handler.rs:837-914) as an in-process API
        self._subscribers: Dict[str, List] = {}
        # (kg, index name) -> persisted LSH bucket frame (the materialized
        # index artifact; dropped by _invalidate on dependent writes)
        self._index_frames: Dict[Tuple[str, str], DataFrame] = {}
        # subplan sharing (CSE) across rules — reference
        # src/subplan_sharing/mod.rs, executed-first shared views
        # (src/lib.rs:1148). (kg, view name) -> (persisted frame,
        # base-relation epoch stamp); a base write bumps head_epoch for
        # the written relation itself (_invalidate adds `relation` to
        # dirty), so a stamp mismatch = rebuild.
        self.enable_subplan_sharing = True
        self._shared_frames: Dict[Tuple[str, str], Tuple[DataFrame, tuple]] = {}
        # reject queries whose structural cost estimate exceeds this
        # (reference #47, src/lib.rs:1604-1625 + ir/mod.rs estimate_cost;
        # config [performance] max_query_cost). 0 = unlimited.
        self.max_query_cost = 0
        # `.kg use` on a missing KG creates it (the golden-corpus
        # behavior). config storage.auto_create_knowledge_graphs=false
        # switches to the reference's production default: error instead
        self.auto_create_kgs = True
        # bound recursive queries rewrite to demand-seeded evaluation;
        # config [optimization] enable_magic_sets=false falls back to
        # full-fixpoint-then-filter (note: also disables the reference's
        # exit-less bound-recursion quirk, which lives on the magic path)
        self.enable_magic_sets = True
        # cap on .kg create when > 0 (config storage.max_knowledge_graphs)
        self.max_kgs = 0
        # snapshot format/codec for save_kg / `.compact` generations
        # (config storage.persistence.format/compression; reference
        # persistence options parquet|csv|json + snappy|gzip|none)
        self.persist_format = "parquet"
        self.persist_compression = "snappy"
        # server-attached AuthStore for `.kg acl` commands (per-KG ACLs,
        # reference auth.rs layer 2); None outside a server context
        self.auth_store = None
        # kind="ivf" artifacts: celled corpus frame + driver-side
        # centroid list (n_cells × dim — tiny), keyed like _index_frames
        self._ivf_frames: Dict[Tuple[str, str], DataFrame] = {}
        # (kg, index) -> target-relation head_epoch at artifact build;
        # a mismatch means another engine sharing the KG wrote the
        # target since — the artifact is stale and must rebuild
        self._artifact_epoch: Dict[Tuple[str, str], int] = {}
        self._ivf_cents: Dict[Tuple[str, str], list] = {}
        # (kg, index name) -> driver-side HnswGraph for kind="hnsw"
        # indexes (the reference's in-process hnsw_rs graph,
        # src/hnsw_index.rs:27-64). Deletes tombstone into a live graph
        # (_hnsw_tombstone); other writes drop it for lazy rebuild.
        self._hnsw_graphs: Dict[Tuple[str, str], "object"] = {}
        # (kg, index name) -> ShardedHnswIndex for kind="hnsw" indexes
        # whose relation exceeds the driver-collect cap: per-shard graphs
        # are built executor-side at index-create time and persisted;
        # queries load-and-probe (operators/hnsw.py ShardedHnswIndex)
        self._sharded_hnsw: Dict[Tuple[str, str], "object"] = {}
        self._hnsw_shard_gen = 0  # unique build dirs across rebuilds
        # (kg, edge relation, forward) -> (edge frame, head_epoch stamp,
        # tc_adjacency result): the driver-side arrangement that bound
        # reads over a transitive closure reuse (_edge_adjacency)
        self._adjacency: Dict[Tuple[str, str, bool], tuple] = {}
        # write-ahead statement log + snapshot dir: when set, persistent
        # mutations are appended durably and replayed on startup over the
        # last snapshot (reference src/storage/persist/wal.rs:76-122,
        # architecture.md:530-539 — replay-on-start)
        self.wal_dir = wal_dir
        self._wal_replaying = False
        # active WAL file name: per-GENERATION (`wal-<gen>.log`, selected
        # by the snapshot manifest) so the manifest flip in checkpoint()
        # atomically retires the old log — replay after a crash between
        # flip and cleanup cannot double-apply records the new snapshot
        # already contains. "wal.log" is the pre-generation legacy name.
        self._wal_name = "wal.log"
        # non-fatal problems found while replaying the WAL (mid-log
        # records that failed); surfaced instead of silently dropped
        self.recovery_warnings: List[str] = []
        if wal_dir:
            self._recover()

    # ------------------------------------------------------------ public

    def register(self, name: str, df: DataFrame) -> None:
        """Register an external DataFrame (e.g. a parquet table) as a base
        relation in the current KG."""
        self.current.relations[name] = df
        self._invalidate(name)

    def _dependents(self, relation: str) -> set:
        """Heads that read `relation` through some chain of rule bodies."""
        rev: Dict[str, set] = {}
        for r in self._all_rules():
            for lit in r.body:
                if isinstance(lit, Atom):
                    rev.setdefault(lit.relation, set()).add(r.head.relation)
        dirty: set = set()
        frontier = [relation]
        while frontier:
            rel = frontier.pop()
            for head in rev.get(rel, ()):
                if head not in dirty:
                    dirty.add(head)
                    frontier.append(head)
        return dirty

    def _invalidate(self, relation: str, keep_indexes: Optional[set] = None) -> None:
        """Cascade invalidation: drop cached derivations that (transitively)
        depend on `relation` — the reference's base→derived / derived→
        derived invalidation maps (src/derived_relations.rs:50-65,
        docs/internals/architecture.md:167-193). Untouched derivations
        keep their (possibly checkpointed) materializations.

        `keep_indexes`: (kg, index-name) keys whose in-memory artifact was
        already maintained in place for this write (tombstoned HNSW
        graphs) and must survive the cascade."""
        dirty = self._dependents(relation) | {relation}
        self.current.epoch += 1
        for head in dirty:
            self.current.head_epoch[head] = self.current.epoch
            self._derived_cache.pop(head, None)
            self._cache_epoch.pop(head, None)
        # cascade into materialized index artifacts (reference
        # index_manager invalidation on base writes)
        for (kg, iname), frame in list(self._index_frames.items()):
            if kg == self.current.name:
                target = self.current.indexes.get(iname, (None,))[0]
                if target in dirty:
                    _unpersist(frame)
                    self._index_frames.pop((kg, iname), None)
        for (kg, iname) in list(self._hnsw_graphs):
            if kg == self.current.name and (kg, iname) not in (keep_indexes or ()):
                target = self.current.indexes.get(iname, (None,))[0]
                if target in dirty:
                    self._hnsw_graphs.pop((kg, iname), None)
        for key in keep_indexes or ():
            # tombstone-maintained graphs survive THIS write: re-stamp
            # them at the new epoch so they stay valid for this engine
            # (other engines' copies were never maintained and stay stale)
            target = self.current.indexes.get(key[1], (None,))[0]
            self._artifact_epoch[key] = self.current.head_epoch.get(target, 0)
        for (kg, iname) in list(self._sharded_hnsw):
            if kg == self.current.name:
                target = self.current.indexes.get(iname, (None,))[0]
                if target in dirty:
                    self._drop_sharded_hnsw((kg, iname))
        for (kg, iname), frame in list(self._ivf_frames.items()):
            if kg == self.current.name:
                target = self.current.indexes.get(iname, (None,))[0]
                if target in dirty:
                    _unpersist(frame)
                    self._ivf_frames.pop((kg, iname), None)
                    self._ivf_cents.pop((kg, iname), None)
        for rel in dirty:
            # "*" subscribers receive every change (the wire protocol's
            # per-connection persistent_update notifications)
            for cb in list(self._subscribers.get(rel, [])) + list(
                self._subscribers.get("*", [])
            ):
                try:
                    cb(rel)
                except Exception:
                    pass  # a listener's failure must not fail the write

    def subscribe(self, relation: str, callback) -> None:
        """Register a change listener: `callback(relation_name)` fires when
        the relation or any derivation depending on it is invalidated by a
        write (reference change notifications, handler.rs:837-914)."""
        self._subscribers.setdefault(relation, []).append(callback)

    def unsubscribe(self, relation: str, callback) -> None:
        cbs = self._subscribers.get(relation, [])
        if callback in cbs:
            cbs.remove(callback)

    def execute(self, text: str, legacy: bool = False) -> List[DataFrame]:
        """Run an IQL program; returns one DataFrame per `?query`.

        `legacy=True` parses the reference's OLDER client dialect
        (`:-` arrows, `.`-terminated statements); default is the modern
        strict grammar."""
        prog = parse_program(text, legacy=legacy)
        results: List[DataFrame] = []
        # parallel kind tags ("query" | "meta") so callers (conformance
        # runner, server) can separate ?query results from introspection
        # output like `.rule list`
        self.last_result_kinds: List[str] = []
        pending_facts: Dict[str, List[tuple]] = {}
        for st in prog.statements:
            if isinstance(st, Fact):
                row = tuple(
                    v.value if isinstance(v, Const) else list(v.values) for v in st.values
                )
                if st.session:
                    self._flush_facts(pending_facts)
                    self.add_session_fact(st.relation, *row)
                else:
                    pending_facts.setdefault(st.relation, []).append(row)
                continue
            self._flush_facts(pending_facts)
            if isinstance(st, EmptyBatch):
                if st.relation not in self.current.relations:
                    self.current.empty_relations.add(st.relation)
                    # an empty-relation declaration is persistent state
                    # (queries against it print "No results" instead of
                    # "unknown relation") — without logging it is lost on
                    # restart
                    self._wal_log(st)
            elif isinstance(st, SchemaDecl):
                self._declare_schema(st)
                self._wal_log(st)
            elif isinstance(st, TypeDecl):
                self._declare_type(st)
                self._wal_log(st)
            elif isinstance(st, Rule):
                self._add_rule(st)
                if getattr(st, "persistent", True):
                    self._wal_log(st)
            elif isinstance(st, Delete):
                self._delete(st)
                self._wal_log(st)
            elif isinstance(st, Update):
                self._update(st)
                self._wal_log(st)
            elif isinstance(st, Query):
                results.append(self._query(st))
                self.last_result_kinds.append("query")
            elif isinstance(st, MetaCommand):
                out = self._meta(st)
                if out is not None:
                    results.append(out)
                    self.last_result_kinds.append("meta")
                if self._wal_meta_loggable(st):
                    self._wal_log(st)
            else:
                raise CompileError(f"unsupported statement {st!r}")
        self._flush_facts(pending_facts)
        return results

    # ------------------------------------------------------------ WAL

    # Meta subcommands with persistent effects, keyed by command. `.load`
    # is intentionally absent: load_script() routes the file's statements
    # back through execute(), which logs each one individually — the WAL
    # stays self-contained even if the loaded file later changes or
    # disappears. `.compact` is likewise never logged, so checkpoint()
    # can never be re-triggered from WAL replay. Read-only subcommands
    # (`.rule list`, `.kg list`, `.index stats`, ...) are filtered out:
    # logging them bloats the WAL and does pointless work on replay.
    # `.index rebuild` only refreshes an in-memory artifact — not state.
    _WAL_META_SUBS = {
        "kg": frozenset({"create", "use", "drop"}),
        "rel": frozenset({"drop"}),
        "rule": frozenset({"remove", "drop", "clear"}),
        "index": frozenset({"create", "drop"}),
    }

    def _wal_meta_loggable(self, st) -> bool:
        if st.command == "clear":
            return True
        subs = self._WAL_META_SUBS.get(st.command)
        return bool(subs and st.args and st.args[0] in subs)

    def _wal_log(self, st) -> None:
        """Durably log ONE successfully-applied persistent mutation,
        rendered back to IQL (JSON-lines, fsync'd; replayed over the last
        snapshot at startup). Per-statement logging — not per-program —
        so a multi-statement program that fails midway leaves the WAL
        covering exactly the mutations that were applied, and `.compact`
        mixed into a program never lands in the log. Session-only
        statements are not persisted (reference WAL semantics: ephemeral
        overlays die with the connection)."""
        if not self.wal_dir or self._wal_replaying:
            return
        if isinstance(st, Fact) and st.session:
            return
        from inputlayer_spark.printer import statement_to_iql

        self._wal_write(statement_to_iql(st))

    def _wal_write(self, text: str) -> None:
        if not self.wal_dir or self._wal_replaying:
            return
        import json as _json
        import os as _os

        _os.makedirs(self.wal_dir, exist_ok=True)
        with open(_os.path.join(self.wal_dir, self._wal_name), "a") as fh:
            fh.write(_json.dumps({"t": text}) + "\n")
            fh.flush()
            _os.fsync(fh.fileno())

    def _recover(self) -> None:
        """Startup recovery: last snapshot + WAL replay
        (reference wal.rs:76-122 replay-on-start)."""
        import json as _json
        import os as _os

        self._sweep_stale_hnsw_shards()
        self._wal_replaying = True
        try:
            snap = _os.path.join(self.wal_dir, "snapshot")
            manifest_path = _os.path.join(snap, "manifest.json")
            if _os.path.exists(manifest_path):
                with open(manifest_path) as fh:
                    manifest = _json.load(fh)
                # generation layout (crash-atomic `.compact`); "gen"
                # absent → legacy flat layout under snapshot/ directly
                gen = manifest.get("gen")
                base = snap if gen is None else _os.path.join(snap, f"gen-{int(gen):06d}")
                for kg_name in manifest.get("kgs", []):
                    kg_dir = _os.path.join(base, kg_name)
                    if not _os.path.exists(_os.path.join(kg_dir, "catalog.json")):
                        continue
                    self.current = self.kgs.setdefault(
                        kg_name, KnowledgeGraph(kg_name)
                    )
                    self.load_kg(kg_dir)
                cur = manifest.get("current", "default")
                self.current = self.kgs.setdefault(cur, KnowledgeGraph(cur))
                # the manifest names the WAL generation that extends this
                # snapshot — records in retired generations are already
                # inside it and must NOT replay (double-apply under bag
                # semantics). Absent "wal" → legacy truncate-style log.
                self._wal_name = manifest.get("wal", "wal.log")
            elif _os.path.exists(_os.path.join(snap, "catalog.json")):
                # legacy single-KG snapshot layout
                self.load_kg(snap)
            wal = _os.path.join(self.wal_dir, self._wal_name)
            if _os.path.exists(wal):
                with open(wal) as fh:
                    lines = [ln.strip() for ln in fh]
                while lines and not lines[-1]:
                    lines.pop()
                for i, line in enumerate(lines):
                    if not line:
                        continue
                    last = i == len(lines) - 1
                    try:
                        rec = _json.loads(line)["t"]
                    except Exception:
                        if last:
                            # torn tail: crash mid-append — expected
                            continue
                        self.recovery_warnings.append(
                            f"corrupt WAL record (line {i + 1}): {line[:200]}"
                        )
                        continue
                    try:
                        self.execute(rec)
                    except Exception as exc:
                        # a failing statement mid-log means durable state
                        # is being dropped — tolerate (recovery must not
                        # brick) but SURFACE it, never skip silently
                        self.recovery_warnings.append(
                            f"WAL replay failed (line {i + 1}): {rec[:200]} — {exc}"
                        )
                for w in self.recovery_warnings:
                    print(f"[inputlayer_spark] recovery warning: {w}", file=sys.stderr)
        finally:
            self._wal_replaying = False

    def checkpoint(self) -> None:
        """Snapshot ALL knowledge graphs and truncate the WAL
        (`.compact`): recovery cost returns to O(snapshot) instead of
        O(history).

        Crash-atomic: each snapshot is written to a FRESH generation
        directory (`snapshot/gen-000N/`) and becomes live only when the
        manifest is atomically replaced to point at it — a crash
        mid-snapshot leaves the previous generation (and the un-truncated
        WAL) untouched. Old generations are deleted only after the
        manifest flip and WAL truncation both land. No-op during WAL
        replay: truncating the log out from under _recover's iteration
        would permanently drop the un-replayed tail."""
        import glob as _glob
        import json as _json
        import os as _os
        import shutil as _shutil

        if not self.wal_dir or self._wal_replaying:
            return
        snap = _os.path.join(self.wal_dir, "snapshot")
        manifest_path = _os.path.join(snap, "manifest.json")
        prev_gen = 0
        if _os.path.exists(manifest_path):
            try:
                with open(manifest_path) as fh:
                    prev_gen = int(_json.load(fh).get("gen", 0))
            except Exception:
                prev_gen = 0
        gen = prev_gen + 1
        gen_dir = _os.path.join(snap, f"gen-{gen:06d}")
        prior_flag = self._wal_replaying
        self._wal_replaying = True  # save/load internals must not re-log
        cur = self.current
        try:
            for kg_name, kg in list(self.kgs.items()):
                # pin relation frames in cluster storage first: a relation
                # lazily read from the PREVIOUS snapshot would otherwise
                # be overwritten underneath its own scan
                for name, df in list(kg.relations.items()):
                    kg.relations[name] = df.localCheckpoint(eager=True)
                self.current = kg
                self.save_kg(_os.path.join(gen_dir, kg_name))
            new_wal = f"wal-{gen:06d}.log"
            manifest = {
                "kgs": sorted(self.kgs),
                "current": cur.name,
                "gen": gen,
                "wal": new_wal,
            }
            tmp = _os.path.join(snap, "manifest.json.tmp")
            with open(tmp, "w") as fh:
                _json.dump(manifest, fh)
                fh.flush()
                _os.fsync(fh.fileno())
            # durability flip point: the manifest atomically selects BOTH
            # the new snapshot generation AND its (empty) WAL generation,
            # so a crash anywhere after this line replays nothing stale —
            # the old truncate-after-flip scheme had a window where the
            # full old WAL replayed over the new snapshot, duplicating
            # every bag-semantics insert
            _os.replace(tmp, manifest_path)
            self._wal_name = new_wal
        finally:
            self.current = cur
            self._wal_replaying = prior_flag
        # retired WAL generations are unreachable via the manifest —
        # reclaim best-effort
        for w in _glob.glob(_os.path.join(self.wal_dir, "wal*.log")):
            if _os.path.basename(w) != self._wal_name:
                try:
                    _os.remove(w)
                except OSError:
                    pass
        # old generations (and any pre-generation flat layout) are now
        # unreachable — reclaim best-effort
        for d in _glob.glob(_os.path.join(snap, "gen-*")):
            if _os.path.abspath(d) != _os.path.abspath(gen_dir):
                _shutil.rmtree(d, ignore_errors=True)
        for entry in _os.listdir(snap):
            p = _os.path.join(snap, entry)
            if _os.path.isdir(p) and not entry.startswith("gen-"):
                _shutil.rmtree(p, ignore_errors=True)

    def query(self, text: str) -> DataFrame:
        """Convenience: run a program whose last statement is a query."""
        results = self.execute(text)
        if not results:
            raise CompileError("program contained no query")
        return results[-1]

    # ------------------------------------------------------------ facts

    def _flush_facts(self, pending: Dict[str, List[tuple]]) -> None:
        for rel, rows in pending.items():
            self._insert_rows(rel, rows)
            # one WAL record per applied batch (not per fact): a single
            # fsync amortizes over the whole insert
            if self.wal_dir and not self._wal_replaying:
                from inputlayer_spark.printer import fact_batch_to_iql

                self._wal_write(fact_batch_to_iql(rel, rows))
        pending.clear()

    def _insert_rows(self, rel: str, rows: List[tuple]) -> None:
        with self.current.write_lock:
            return self._insert_rows_locked(rel, rows)

    def _insert_rows_locked(self, rel: str, rows: List[tuple]) -> None:
        # Inserting into a relation that has rules is rejected — it is a
        # view (golden 12_errors/21_insert_into_view_error.iql). Facts
        # inserted BEFORE rules are registered stay valid base extents.
        if any(r.head.relation == rel for r in self._all_rules()):
            raise CompileError(
                f"Cannot insert into '{rel}': it is a derived relation "
                "(view). Use a base relation or drop the rule first with "
                f"'.rule drop {rel}'."
            )
        # Arity enforcement mirrors the reference storage engine
        # (src/storage_engine/mod.rs:444-466): a batch must be
        # arity-consistent, and must match any existing extent or declared
        # schema — silent truncation is a data-loss bug.
        if rows:
            new_arity = len(rows[0])
            for r in rows:
                if len(r) != new_arity:
                    raise CompileError(
                        f"Arity mismatch in insert batch: expected {new_arity}, "
                        f"got {len(r)}"
                    )
            existing_arity = None
            if rel in self.current.schemas:
                existing_arity = len(self.current.schemas[rel].fields)
            elif rel in self.current.relations:
                existing_arity = len(self.current.relations[rel].columns)
            if existing_arity is not None and existing_arity != new_arity:
                raise CompileError(
                    f"Arity mismatch for relation '{rel}': existing arity is "
                    f"{existing_arity}, but trying to insert tuples with arity "
                    f"{new_arity}"
                )
        schema = self.current.schemas.get(rel)
        if schema is None:
            schema = _infer_schema(rows)
            if rel in self.current.relations:
                # Mixed int/float across inserts widens the column to
                # double — IQL relations are dynamically typed (golden
                # 11_types/18_mixed_numeric_types.iql).
                schema = _widen_schema(self.current.relations[rel].schema, schema)
        # A batch with any type mismatch against the declared or inferred
        # schema is rejected WHOLE (golden 12_errors/29: "Insert rejected
        # for 'typed_rel': batch of 1 tuples had type/arity errors").
        # int→float widening is the only allowed coercion.
        bad = sum(0 if _row_matches_schema(r, schema) else 1 for r in rows)
        if bad:
            raise CompileError(
                f"Insert rejected for '{rel}': batch of {len(rows)} "
                "tuples had type/arity errors"
            )
        rows = [_coerce_row(r, schema) for r in rows]
        # Literal-fact frames are Arrow-built JVM leaves (small_local_df):
        # no job at insert time and no Python worker on later reads. A
        # Python-list createDataFrame would re-run a Python worker on
        # every downstream action (300-520 ms each, measured).
        df = small_local_df(self.spark, rows, schema)
        delta_df, old = df, self.current.relations.get(rel)
        if old is not None:
            if [f.dataType for f in old.schema.fields] != [
                f.dataType for f in schema.fields
            ]:
                old = old.select(
                    [
                        F.col(c).cast(schema.fields[i].dataType).alias(c)
                        for i, c in enumerate(old.columns)
                    ]
                )
            # both sides are pinned leaves; the union scans them directly
            delta_df = df.toDF(*old.columns)
            df = old.unionByName(delta_df)
        self._commit_write(rel, df, old, delta_df)
        self.current.empty_relations.discard(rel)

    def _commit_write(
        self,
        rel: str,
        new_base: DataFrame,
        old_base: Optional[DataFrame],
        delta: DataFrame,
        retract: bool = False,
    ) -> Dict[str, DataFrame]:
        """The one commit point of a base-relation write (fact batch,
        delete, stream micro-batch): swap `new_base` in, maintain the
        cached views over `rel` from the `delta` rows (`_maintain`;
        `old_base` is the previous extent, None for a new relation),
        tombstone deleted ids into live HNSW graphs, run the invalidation
        cascade, then re-seed the cache with the maintained views, so the
        next read of a view with a million-tuple extent pays O(delta)
        (reference differential update, src/incremental.rs:26-41).

        If any step raises, the previous base is put back, the cascade
        drops every view the write may have touched, and the error
        propagates: the write is not applied, and since the WAL logs a
        statement only after it returns, it leaves no record. Returns
        {head: maintained view}."""
        prior = self.current.relations.get(rel)
        self.current.relations[rel] = new_base
        try:
            maintained = (
                {} if old_base is None
                else self._maintain(rel, delta, old_base, retract)
            )
            kept = (
                self._hnsw_tombstone(rel, delta.select(delta.columns[0]))
                if retract else set()
            )
            self._invalidate(rel, keep_indexes=kept)
            for h, v in maintained.items():
                self._cache_view(h, v)
        except BaseException:
            if prior is None:
                self.current.relations.pop(rel, None)
            else:
                self.current.relations[rel] = prior
            self._invalidate(rel)
            raise
        return maintained

    def _resolve_type_name(self, name: str) -> str:
        """Follow `type X: Y` alias chains to a base type name."""
        seen = set()
        base = name.split("(")[0]
        while base in self.current.type_aliases and base not in seen:
            seen.add(base)
            base = self.current.type_aliases[base]
        return name if base == name.split("(")[0] else base

    def _declare_type(self, st) -> None:
        self.current.type_aliases[st.name] = st.base

    def _declare_schema(self, st: SchemaDecl) -> None:
        fields = [
            T.StructField(c, _spark_type_for(self._resolve_type_name(t)), True)
            for c, t in st.columns
        ]
        self.current.schemas[st.relation] = T.StructType(fields)
        if st.relation not in self.current.relations:
            self.current.relations[st.relation] = self.spark.createDataFrame(
                [], schema=T.StructType(fields)
            )
        self._invalidate(st.relation)

    # ------------------------------------------------------------ rules

    def _add_rule(self, rule: Rule) -> None:
        with self.current.write_lock:
            return self._add_rule_locked(rule)

    def _add_rule_locked(self, rule: Rule) -> None:
        self._validate_rule(rule)
        self._check_clause_compat(rule)
        if rule.persistent:
            # Registration-time stratification: the KG's persistent rule
            # set must stay stratified — a rule introducing a negation
            # cycle (incl. self-negation) is rejected and NOT registered
            # (goldens 12_errors/17,28,31,33,43,60: "Failed to register
            # rule: Unstratified negation"). Session rules skip the check
            # (12_errors/36,66 accept cyclic session rules and evaluate
            # them in registration order).
            try:
                condensation(list(self.current.rules) + [rule])
            except StratificationError as exc:
                raise CompileError(
                    f"Failed to register rule: Unstratified negation: {exc}"
                ) from None
            self.current.rules.append(rule)
        else:
            self.session_rules.append(rule)
        self._invalidate(rule.head.relation)
        # The reference evaluates a rule eagerly at registration, so an
        # unbound variable in a filter comparison errors HERE — but the
        # rule stays registered and every later query re-raises (golden
        # 12_errors/39: both the rule stmt and ?bad(X) print "Variable 'Y'
        # not found"). compile_body raises the same way at query time.
        self._check_comparisons(rule)

    def _check_clause_compat(self, rule: Rule) -> None:
        """A new clause for an existing persistent rule must agree with it
        on arity and aggregation signature — mismatches are rejected at
        registration like the reference (14_aggregations/175-179: 'Failed
        to register rule: Arity mismatch ...' / 'Conflicting aggregation:
        cannot add clause ...'; the reference's DD dataflow would
        otherwise panic on merge). Variable names may differ between
        clauses; aggregate type, constant params, ordering, and position
        may not."""
        from inputlayer_spark.ast_nodes import Agg

        def sig(head):
            out = []
            for t in head.terms:
                if isinstance(t, Agg):
                    consts = tuple(
                        a for a in t.args if not isinstance(a, Var)
                    )
                    out.append(("agg", t.func, consts, t.order if t.is_ranking else None))
                else:
                    out.append("plain")
            return tuple(out)

        def spec(head):
            for t in head.terms:
                if isinstance(t, Agg):
                    parts = []
                    for a in t.args:
                        parts.append(
                            a.name
                            if isinstance(a, Var)
                            else str(getattr(a, "value", a))
                        )
                    if t.is_ranking and parts:
                        parts[-1] = f"{parts[-1]}:{t.order}"
                    return f"{t.func}<{', '.join(parts)}>" if parts else t.func
            return "no aggregation"

        rel = rule.head.relation
        existing = self.current.rules if rule.persistent else self.session_rules
        kind = "rule" if rule.persistent else "session rule"
        fix = (
            f"Drop the rule first with '.rule drop {rel}' and re-create it."
            if rule.persistent
            else f"Use '.session drop {rel}' to remove the existing rule first."
        )
        prefix = "Failed to register rule: " if rule.persistent else ""
        for ex in existing:
            if ex.head.relation != rel:
                continue
            if len(ex.head.terms) != len(rule.head.terms):
                raise CompileError(
                    f"{prefix}Arity mismatch: {kind} '{rel}' has "
                    f"{len(ex.head.terms)} argument(s) but new clause has "
                    f"{len(rule.head.terms)}. {fix}"
                )
            # Simple aggregates (sum/max/...) in different clauses of the
            # same head are fine — each clause contributes rows, set-union
            # semantics (14_aggregations/155: sum<V> + max<V> → {60, 30}).
            # Only RANKING aggregates (top_k / top_k_threshold /
            # within_radius) lock the head's shape: any signature change
            # involving a ranking agg is rejected.
            def has_ranking(head):
                from inputlayer_spark.ast_nodes import Agg as _A

                return any(
                    isinstance(t, _A) and t.is_ranking for t in head.terms
                )

            if (has_ranking(ex.head) or has_ranking(rule.head)) and sig(
                ex.head
            ) != sig(rule.head):
                raise CompileError(
                    f"{prefix}Conflicting aggregation: cannot add clause "
                    f"with '{spec(rule.head)}' to {kind} '{rel}' which "
                    f"already has a clause with '{spec(ex.head)}'. {fix}"
                )
            break

    def _validate_rule(self, rule: Rule) -> None:
        """Safety: head vars must be bound by positive body atoms or
        computed terms (reference src/ast/mod.rs:1071-1092)."""
        from inputlayer_spark.ast_nodes import Agg, Call, term_vars

        # Function calls in rule heads are rejected by the reference
        # ("Function calls in rule head not yet fully supported",
        # golden 12_errors/38) — bindings (`V = f(X)`) are the supported
        # spelling.
        for t in rule.head.terms:
            if isinstance(t, Call):
                raise CompileError(
                    "Function calls in rule head not yet fully supported. "
                    "Use a binding (V = f(...)) in the body instead."
                )

        bound = self._bound_vars(rule)
        for t in rule.head.terms:
            if isinstance(t, Agg):
                continue
            for v in term_vars(t):
                if v not in bound:
                    raise CompileError(
                        f"unsafe rule {rule.head.relation}: head variable {v} "
                        "not bound in body"
                    )

    def _bound_vars(self, rule: Rule) -> set:
        """Vars bound by positive atoms plus `V = expr` binding chains
        (fixpoint, since bindings may reference earlier bindings)."""
        from inputlayer_spark.ast_nodes import Comparison, literal_vars, term_vars

        bound: set = set()
        for lit in rule.body:
            if isinstance(lit, Atom) and not lit.negated:
                bound |= literal_vars(lit)
            elif isinstance(lit, HnswNearest):
                bound |= {lit.id_var.name, lit.dist_var.name}
        comps = [l for l in rule.body if isinstance(l, Comparison)]
        changed = True
        while changed:
            changed = False
            for c in comps:
                for tgt, src in ((c.left, c.right), (c.right, c.left)):
                    if (
                        c.op == "="
                        and isinstance(tgt, Var)
                        and not tgt.is_wildcard
                        and tgt.name not in bound
                        and term_vars(src) <= bound
                    ):
                        bound.add(tgt.name)
                        changed = True
        return bound

    def _check_comparisons(self, rule: Rule) -> None:
        """Unbound vars in filter comparisons error at evaluation —
        mirrors compile_body's binding fixpoint (compiler.py:253-269)."""
        from inputlayer_spark.ast_nodes import Comparison, term_vars

        bound = self._bound_vars(rule)
        for c in rule.body:
            if not isinstance(c, Comparison):
                continue
            for v in sorted(term_vars(c.left) | term_vars(c.right)):
                if v not in bound:
                    raise CompileError(
                        f"Variable '{v}' not found in schema {sorted(bound)}"
                    )

    # ------------------------------------------------------------ delete

    def _delete(self, st: Delete) -> None:
        with self.current.write_lock:
            return self._delete_locked(st)

    def _delete_locked(self, st: Delete) -> None:
        if st.drop:
            self.current.relations.pop(st.relation, None)
            self.current.rules = [r for r in self.current.rules if r.head.relation != st.relation]
            self.session_rules = [r for r in self.session_rules if r.head.relation != st.relation]
            # drop retires the relation's declared schema and any
            # empty-relation marker too — matching `.load --replace`'s
            # live semantics, and required for WAL replay correctness:
            # the logged `-rel` must clear a stale schema so the file's
            # re-logged facts aren't rejected on replay
            self.current.schemas.pop(st.relation, None)
            self.current.empty_relations.discard(st.relation)
            self._invalidate(st.relation)
            return
        if not st.body:
            # Unconditional deletes take constants (and `_` wildcards)
            # only — a named variable is rejected like the reference
            # (02_relations/12_delete_wildcard.iql: `-items(Id, "a", Val)`
            # → "Delete error: Cannot insert variable 'Id' - use constants
            # only"). Conditional deletes (`-r(X) <- body`) bind vars.
            for term in st.terms:
                if isinstance(term, Var) and not term.is_wildcard:
                    raise CompileError(
                        f"Cannot insert variable '{term.name}' - use "
                        "constants only"
                    )
        df = self.current.relations.get(st.relation)
        if df is None:
            return
        if st.body:
            # conditional delete: -rel(X...) <- cond — delete tuples the
            # body derives (reference src/statement/data.rs:24). Pattern
            # vars the body does NOT bind act as wildcards: `-edge(X, Y) <-
            # source(X)` deletes every edge whose X is a source, any Y
            # (golden 27_atomic_ops/05_conditional_delete.iql).
            body_targets = {
                l.relation for l in st.body if isinstance(l, Atom)
            }
            body_df = compile_body(
                st.body, self._resolver(self._materialize_for(body_targets)), None
            )
            bound = set(body_df.columns)
            key_cols: List[str] = []
            key_vars: List[str] = []
            for col_name, term in zip(df.columns, st.terms):
                if isinstance(term, Var) and not term.is_wildcard and term.name in bound:
                    key_cols.append(col_name)
                    key_vars.append(term.name)
            const_cond = _const_match(df.columns, st.terms)
            doomed = df.filter(const_cond) if const_cond is not None else df
            if key_cols:
                keys = body_df.select(
                    [F.col(v).alias(c) for v, c in zip(key_vars, key_cols)]
                ).distinct()
                doomed = doomed.join(keys, on=key_cols, how="left_semi")
            elif body_df.limit(1).isEmpty():
                doomed = doomed.limit(0)  # condition derived nothing
            keep = df.join(doomed, on=list(df.columns), how="left_anti")
        else:
            # wildcards / pattern vars match anything
            cond = _const_match(df.columns, st.terms)
            keep = df.filter(~cond) if cond is not None else df.limit(0)
            # exact complement of keep (filter(~cond) also drops rows
            # where cond is NULL, so doomed must include them)
            doomed = df.filter(cond.isNull() | cond) if cond is not None else df
        # pin the deleted rows ONCE (they're a tiny delta): every
        # maintained view and the HNSW tombstone path read them from a
        # checkpointed leaf instead of re-deriving the doomed-row plan —
        # which embeds a full base scan — per consumer. Column order is
        # restored first: the semi-join above puts join keys leftmost,
        # and rule atoms bind POSITIONALLY.
        doomed_pinned = doomed.select(*df.columns).localCheckpoint(eager=True)
        # LAZY pin (r14): the rewritten base folds into the first
        # consumer's job (the retraction-maintenance pass or the next
        # query) instead of running as its own materialization job per
        # delete statement. `keep` reads only the pinned old base, so
        # what materializes is unaffected by later mutations.
        self._commit_write(
            st.relation, keep.localCheckpoint(eager=False), df, doomed_pinned,
            retract=True,
        )

    _HNSW_TOMBSTONE_CAP = 100_000

    def _hnsw_tombstone(self, relation: str, doomed_ids: DataFrame) -> set:
        """O(delta) index maintenance for deletes: tombstone the deleted
        ids into any LIVE HnswGraph targeting `relation` instead of
        dropping it for a full rebuild (reference hnsw_index.rs:373-404 —
        tombstones + auto-compact at 30%). Falls back to the drop-and-
        rebuild path (returns nothing) when the delete is too wide to
        collect or the graph isn't materialized yet."""
        kept: set = set()
        targeting = [
            (kg, iname)
            for (kg, iname) in self._hnsw_graphs
            if kg == self.current.name
            and self.current.indexes.get(iname, (None,))[0] == relation
        ]
        if not targeting:
            return kept
        rows = doomed_ids.limit(self._HNSW_TOMBSTONE_CAP + 1).collect()
        if len(rows) > self._HNSW_TOMBSTONE_CAP:
            return kept
        ids = [r[0] for r in rows]
        for key in targeting:
            if self._artifact_stale(key):
                # built before a foreign engine's write — do not
                # maintain-and-keep a graph that is already stale
                self._hnsw_graphs.pop(key, None)
                continue
            g = self._hnsw_graphs[key]
            for i in ids:
                g.delete(i)
            kept.add(key)
        return kept

    def _update(self, st: Update) -> None:
        with self.current.write_lock:
            return self._update_locked(st)

    def _update_locked(self, st: Update) -> None:
        """Atomic update: retract old, assert new per cond binding in one
        step from one snapshot (reference UpdateOp, src/statement/data.rs:49
        → our Delta-MERGE analog is subtract-then-union on the same plan)."""
        rel = st.delete.relation
        df = self.current.relations.get(rel)
        if df is None:
            raise CompileError(f"unknown relation {rel}")
        body_targets = {l.relation for l in st.body if isinstance(l, Atom)}
        body_df = compile_body(
            st.body, self._resolver(self._materialize_for(body_targets)), None
        )
        del_rows = compile_head(body_df, st.delete).toDF(*df.columns)
        keep = df.join(del_rows, on=list(df.columns), how="left_anti")
        target = self.current.relations.get(st.insert.relation)
        ins_rows = compile_head(body_df, st.insert)
        if st.insert.relation == rel:
            new_df = keep.unionByName(ins_rows.toDF(*df.columns))
            self.current.relations[rel] = new_df.localCheckpoint(eager=True)
        else:
            self.current.relations[rel] = keep.localCheckpoint(eager=True)
            cols = target.columns if target is not None else ins_rows.columns
            ins = ins_rows.toDF(*cols)
            merged = ins if target is None else target.unionByName(ins)
            self.current.relations[st.insert.relation] = merged.localCheckpoint(eager=True)
        self._invalidate(rel)
        self._invalidate(st.insert.relation)

    # ------------------------------------------------------------ sessions

    def add_session_fact(self, relation: str, *values) -> None:
        """Ephemeral fact visible only until `.session clear` — overlays
        the shared KG like the reference's per-session facts
        (src/session.rs:114, snapshot overlay src/storage_engine/snapshot.rs)."""
        self.session_facts.setdefault(relation, []).append(tuple(values))
        self._invalidate(relation)

    def _discard_session_overlay(self) -> None:
        """Drop all session-scoped facts and rules, invalidating every
        derivation they fed. Overlay mutations bump head_epoch on the
        way IN (add_session_fact → _invalidate); clears must do the same
        on the way OUT, or epoch-stamped shared-subplan frames (whose
        stamps track only base head_epochs) keep serving the cleared
        overlay from their persisted InMemoryRelation."""
        affected = set(self.session_facts)
        affected.update(r.head.relation for r in self.session_rules)
        self.session_rules.clear()
        self.session_facts.clear()
        self._derived_cache.clear()
        for rel in sorted(affected):
            self._invalidate(rel)

    # ------------------------------------------------------------ IO

    def load_csv(self, relation: str, path: str, header: bool = True) -> None:
        """CSV load with type inference (reference src/storage/csv.rs)."""
        df = self.spark.read.csv(path, header=header, inferSchema=True)
        self.register(relation, df)

    def save_csv(self, relation: str, path: str) -> None:
        self._named_df(relation).write.mode("overwrite").csv(path, header=True)

    def load_parquet(self, relation: str, path: str) -> None:
        self.register(relation, self.spark.read.parquet(path))

    def save_parquet(self, relation: str, path: str) -> None:
        self._named_df(relation).write.mode("overwrite").parquet(path)

    def load_orc(self, relation: str, path: str) -> None:
        self.register(relation, self.spark.read.orc(path))

    def save_orc(self, relation: str, path: str) -> None:
        self._named_df(relation).write.mode("overwrite").orc(path)

    def load_json(self, relation: str, path: str) -> None:
        """JSON-Lines load (one object per line — the dominant
        training-data interchange format; gzip transparent). Column
        order is normalized to the first record's key order when every
        record agrees, because rule atoms bind POSITIONALLY and Spark's
        JSON reader sorts field names alphabetically."""
        df = self.spark.read.json(path)
        try:
            import json as _json

            first = (
                self.spark.read.text(path).limit(1).collect()[0][0]
            )
            keys = list(_json.loads(first).keys())
            if sorted(keys) == sorted(df.columns):
                # backtick-quote so keys containing dots select as plain
                # columns, not struct-field paths
                df = df.select(
                    *[F.col("`" + k.replace("`", "``") + "`") for k in keys]
                )
        except Exception:
            pass  # ragged/absent first record: keep reader order
        # IQL column names are identifiers (rule atoms bind positionally
        # and the compiler references columns by bare name), so JSON keys
        # with dots/spaces are sanitized — order, not names, carries the
        # binding semantics
        import re as _re

        df = df.toDF(*[_re.sub(r"\W", "_", c) for c in df.columns])
        self.register(relation, df)

    def save_json(self, relation: str, path: str) -> None:
        self._named_df(relation).write.mode("overwrite").json(path)

    def _named_df(self, relation: str) -> DataFrame:
        derived = self._materialize_for({relation})
        df = derived.get(relation) or self.current.relations.get(relation)
        if df is None:
            raise CompileError(f"unknown relation {relation}")
        return df

    def load_script(self, path: str, replace: bool = False) -> List[DataFrame]:
        """`.load <file> [--replace]` (reference src/statement/meta.rs:72).

        Relative paths resolve against `load_paths` (cwd first); a missing
        file raises the reference's wording
        (40_load_command/04_load_nonexistent_error.iql)."""
        import os as _os

        resolved = None
        candidates = [path] if _os.path.isabs(path) else [
            _os.path.join(base, path) for base in self.load_paths
        ]
        for cand in candidates:
            if _os.path.exists(cand):
                resolved = cand
                break
        if resolved is None:
            raise CompileError(
                f"Failed to read script '{path}': No such file or directory "
                f"(os error 2)"
            )
        with open(resolved) as fh:
            text = fh.read()
        if replace:
            # LoadMode::Replace swaps only what the file defines — other
            # relations survive (40_load_command/02: existing_data intact
            # after `.load _helper_data.iql --replace`; statement/meta.rs:232
            # "atomically replace rules/relations")
            try:
                prog = parse_program(text)
            except ParseError:
                prog = None
            if prog is not None:
                touched = set()
                for st in prog.statements:
                    if isinstance(st, Fact):
                        touched.add(st.relation)
                    elif isinstance(st, Rule):
                        touched.add(st.head.relation)
                for rel in touched:
                    existed = (
                        rel in self.current.relations
                        or rel in self.current.schemas
                        or any(r.head.relation == rel for r in self.current.rules)
                    )
                    self.current.relations.pop(rel, None)
                    self.current.rules = [
                        r for r in self.current.rules if r.head.relation != rel
                    ]
                    self.current.schemas.pop(rel, None)
                    self._invalidate(rel)
                    # `.load` itself is never WAL-logged (the file may
                    # change or vanish before replay); log the replace
                    # semantics explicitly so replay reproduces it
                    if existed:
                        self._wal_write(f"-{rel}")
        return self.execute(text)

    # ------------------------------------------------------------ persistence

    def save_kg(self, path: str) -> None:
        """Durable snapshot of the current KG: one parquet per relation +
        a JSON catalog (rules as IQL text, schemas, indexes). The Spark
        analog of the reference's WAL+Parquet persistence
        (src/storage/persist/) — parquet commit is the durability point."""
        import json
        import os

        from inputlayer_spark.printer import rule_to_iql

        os.makedirs(f"{path}/relations", exist_ok=True)
        fmt = self.persist_format
        if fmt == "csv":
            # fail BEFORE any file is written: Spark's CSV writer throws
            # on array columns mid-write, which would leave a torn
            # snapshot (some relations written, catalog absent)
            for name, df in self.current.relations.items():
                for f in df.schema.fields:
                    if isinstance(
                        f.dataType, (T.ArrayType, T.StructType, T.MapType)
                    ):
                        raise CompileError(
                            f"csv persistence cannot store nested column "
                            f"{name}.{f.name} "
                            f"({f.dataType.simpleString()}); use parquet "
                            "(storage.persist_format)"
                        )
        for name, df in self.current.relations.items():
            w = df.write.mode("overwrite")
            target = f"{path}/relations/{name}.{fmt}"
            if fmt == "parquet":
                w.option("compression", self.persist_compression).parquet(target)
            elif fmt == "csv":
                w.option("header", True).csv(target)
            elif fmt == "json":
                w.json(target)
            elif fmt == "orc":
                w.orc(target)
            else:
                raise CompileError(f"unsupported persistence format {fmt!r}")
        catalog = {
            "format": fmt,
            "name": self.current.name,
            "rules": [rule_to_iql(r) for r in self.current.rules],
            "schemas": {
                rel: [(f.name, f.dataType.simpleString()) for f in sch.fields]
                for rel, sch in self.current.schemas.items()
            },
            # per-relation column ORDER + types for every relation (not
            # just declared schemas): IQL atoms bind positionally, and
            # spark.read.json infers fields alphabetically while CSV
            # inferSchema drifts types — loading re-applies this exactly
            "columns": {
                name: [
                    (f.name, f.dataType.simpleString())
                    for f in df.schema.fields
                ]
                for name, df in self.current.relations.items()
            },
            "indexes": self.current.indexes,
            # empty-relation declarations (+rel[]) are catalog state:
            # without them a post-compact restart forgets the relation
            # exists and queries error instead of printing "No results"
            "empty_relations": sorted(self.current.empty_relations),
        }
        tmp = f"{path}/catalog.json.tmp"
        with open(tmp, "w") as fh:
            json.dump(catalog, fh, indent=2)
        os.replace(tmp, f"{path}/catalog.json")

    def load_kg(self, path: str) -> None:
        """Restore a KG saved by save_kg into the current namespace."""
        import glob
        import json
        import os

        with open(f"{path}/catalog.json") as fh:
            catalog = json.load(fh)
        self.current.relations.clear()
        self.current.rules.clear()
        self.current.schemas.clear()
        self.current.indexes.clear()
        self._derived_cache.clear()
        fmt = catalog.get("format", "parquet")
        columns = catalog.get("columns", {})
        for p in glob.glob(f"{path}/relations/*.{fmt}"):
            name = os.path.basename(p)[: -len(f".{fmt}")]
            saved = columns.get(name)
            schema = (
                T.StructType(
                    [T.StructField(n, _parse_dtype(t), True) for n, t in saved]
                )
                if saved
                else None
            )
            if fmt == "parquet":
                df = self.spark.read.parquet(p)
            elif fmt == "csv":
                # explicit schema (enforceSchema default) maps the CSV
                # columns POSITIONALLY in the writer's order = saved
                # order — no inferSchema type drift
                r = self.spark.read.option("header", True)
                df = (
                    r.schema(schema).csv(p)
                    if schema is not None
                    else r.option("inferSchema", True).csv(p)
                )
            elif fmt == "json":
                # explicit schema maps JSON fields BY NAME in the saved
                # order — spark.read.json's inference sorts field names
                # alphabetically, silently permuting positional bindings
                df = (
                    self.spark.read.schema(schema).json(p)
                    if schema is not None
                    else self.spark.read.json(p)
                )
            else:
                df = self.spark.read.orc(p)
            if schema is not None and [f.name for f in df.schema.fields] != [
                n for n, _ in saved
            ]:
                # parquet/orc keep their own schema; realign defensively
                df = df.select(*[n for n, _ in saved])
            self.current.relations[name] = df
        for rule_text in catalog.get("rules", []):
            self.execute(rule_text)
        for rel, fields in catalog.get("schemas", {}).items():
            self.current.schemas[rel] = T.StructType(
                [T.StructField(n, _parse_dtype(t), True) for n, t in fields]
            )
        for name, meta in catalog.get("indexes", {}).items():
            self.current.indexes[name] = tuple(meta)
        self.current.empty_relations.clear()
        self.current.empty_relations.update(catalog.get("empty_relations", ()))

    # ------------------------------------------------------------ queries

    def _all_rules(self) -> List[Rule]:
        return list(self.current.rules) + list(self.session_rules)

    def _materialize_for(
        self, targets: Optional[set], skip: frozenset = frozenset()
    ) -> Dict[str, DataFrame]:
        """Evaluate derived relations, demand-driven: only SCCs that
        `targets` (transitively) depends on. targets=None → everything.
        Mirrors the reference's topo-ordered rule execution
        (src/lib.rs:1254) but skips strata the query can't observe."""
        rules = self._all_rules()
        derived: Dict[str, DataFrame] = {}
        if not rules:
            return derived

        needed: Optional[set] = None
        if targets is not None:
            heads = {r.head.relation for r in rules}
            body_rels: Dict[str, set] = {}
            for r in rules:
                s = body_rels.setdefault(r.head.relation, set())
                for lit in r.body:
                    if isinstance(lit, Atom) and lit.relation in heads:
                        s.add(lit.relation)
            needed = set()
            frontier = list(targets & heads)
            while frontier:
                h = frontier.pop()
                if h in needed:
                    continue
                needed.add(h)
                frontier.extend(body_rels.get(h, ()))

        try:
            sccs = condensation(rules)
        except StratificationError:
            # Cyclic negation can only involve session rules (persistent
            # registration rejects it). The reference accepts such session
            # rules and evaluates them ONE PASS in registration order —
            # each rule sees earlier heads' results, later heads as empty,
            # no fixpoint (goldens 12_errors/36_three_way_cycle.iql,
            # 66_negation_cycle.iql: a<- !b, b<- !a yields a={base}, b={}).
            return self._single_pass_eval(rules)

        # subplan sharing (CSE): hoist join pairs appearing in ≥2 rule
        # bodies into synthetic view rules evaluated first (their SCCs
        # depend only on base relations, so condensation orders them
        # before every consumer) and persisted via _resolve_shared_view —
        # reference src/subplan_sharing/mod.rs + "Execute shared views
        # first" (src/lib.rs:1148). Applied only after stratification
        # succeeds; the rewrite adds no negation, so re-condensing the
        # rewritten rules cannot fail.
        shared_views: Dict[str, "SharedView"] = {}
        if self.enable_subplan_sharing:
            from inputlayer_spark.recursion import is_recursive_scc
            from inputlayer_spark.subplan import SharedView, share_subplans

            rec_heads: set = set()
            for scc in sccs:
                if is_recursive_scc(scc, rules):
                    rec_heads.update(scc)
            views, rewritten = share_subplans(rules, rec_heads)
            if views:
                shared_views = {v.name: v for v in views}
                rules = rewritten + [v.rule for v in views]
                sccs = condensation(rules)
                if needed is not None:
                    # pull shared views into the demand set transitively
                    # (a nested view's body references inner views)
                    changed = True
                    while changed:
                        changed = False
                        for r in rules:
                            if r.head.relation not in needed:
                                continue
                            for lit in r.body:
                                if (
                                    isinstance(lit, Atom)
                                    and lit.relation in shared_views
                                    and lit.relation not in needed
                                ):
                                    needed.add(lit.relation)
                                    changed = True

        # snapshot ALL invalidation epochs BEFORE any frame resolution:
        # reads are lock-free, so a concurrent writer can bump epochs
        # mid-evaluation — stamping every head (and shared view) cached
        # by THIS call with its pre-read value makes a racing write leave
        # the entries immediately stale instead of permanently 'valid'.
        # A per-SCC snapshot is NOT enough: a write landing during
        # stratum k's evaluation would let stratum k+1 — built over this
        # call's pre-write `derived` frames — stamp itself post-write.
        epoch_snapshot = dict(self.current.head_epoch)

        for scc in sccs:
            if skip & set(scc):
                continue
            if needed is not None and not (needed & set(scc)):
                continue
            if len(scc) == 1 and scc[0] in shared_views:
                self._resolve_shared_view(
                    shared_views[scc[0]], derived, epoch_snapshot
                )
                continue
            resolver = self._resolver(derived)
            cached = {h: self._cached_view_get(h) for h in scc}
            if all(v is not None for v in cached.values()):
                derived.update(cached)
                continue
            pre_epochs = {h: epoch_snapshot.get(h, 0) for h in scc}
            out = evaluate_scc(
                scc, rules, resolver, self._hnsw_resolver, base_of=self._base_of
            )
            for h, df in out.items():
                derived[h] = df
                self._cache_view(h, df, epoch=pre_epochs.get(h))
        return derived

    def _resolve_shared_view(
        self,
        view,
        derived: Dict[str, DataFrame],
        epoch_snapshot: Optional[Dict[str, int]] = None,
    ) -> None:
        """Materialize (or reuse) one shared subplan view: compute-once
        via ``persist()`` so every consuming rule scans the same
        InMemoryRelation. Stamped with the base relations' head_epochs
        from the caller's pre-read snapshot — NOT cached in
        _derived_cache, whose cascade invalidation walks the stored rule
        set that synthetic rules are never part of."""
        if epoch_snapshot is None:
            epoch_snapshot = self.current.head_epoch
        key = (self.current.name, view.name)
        stamp = tuple(
            (d, epoch_snapshot.get(d, 0)) for d in view.base_deps
        )
        ent = self._shared_frames.get(key)
        if ent is not None:
            # reuse only when the stamp ALSO matches the live epochs —
            # the snapshot alone could rehydrate an entry a concurrent
            # write already invalidated
            live = tuple(
                (d, self.current.head_epoch.get(d, 0))
                for d in view.base_deps
            )
            if ent[1] == stamp == live:
                derived[view.name] = ent[0]
                return
            _unpersist(ent[0])
            self._shared_frames.pop(key, None)
        out = evaluate_scc(
            [view.name],
            [view.rule],
            self._resolver(derived),
            self._hnsw_resolver,
            base_of=self._base_of,
        )
        df = out[view.name].persist()
        if len(self._shared_frames) >= 64:
            # bounded registry: evict the oldest entry (insertion order)
            old = next(iter(self._shared_frames))
            _unpersist(self._shared_frames[old][0])
            self._shared_frames.pop(old, None)
        self._shared_frames[key] = (df, stamp)
        derived[view.name] = df

    # -------------------------------------------- cross-engine cache epoch

    def _stamp_artifact(
        self, key: Tuple[str, str], epoch: Optional[int] = None
    ) -> None:
        """Record the target relation's invalidation epoch for a freshly
        built index artifact (LSH frame / HNSW graph / sharded index /
        IVF cells). Callers that resolve the corpus frame lock-free pass
        the epoch they snapshotted BEFORE resolution, so a write racing
        the build leaves the artifact stale rather than silently
        current."""
        target = self.current.indexes.get(key[1], (None,))[0]
        self._artifact_epoch[key] = (
            self.current.head_epoch.get(target, 0) if epoch is None else epoch
        )

    def _edge_adjacency(self, edge_rel: str, forward: bool):
        """The edge frame of a bound transitive-closure read and its
        driver-side adjacency (`tc_adjacency`), kept across reads: the
        small-relation form of the reference's arrangements. An entry
        serves while the relation's head_epoch equals the one taken
        before its frame was resolved (as in _stamp_artifact) and the
        relation still resolves to that same frame; the second check
        also covers rule drops and a re-created KG, which do not bump
        the epoch. A relation with session facts is rebuilt on every
        read, so it is not cached."""
        key = (self.current.name, edge_rel, forward)
        stamp = self.current.head_epoch.get(edge_rel, 0)
        edge_df = self._resolver(self._materialize_for({edge_rel}))(edge_rel)
        ent = self._adjacency.get(key)
        if ent is not None and ent[0] is edge_df and ent[1] == stamp:
            return edge_df, ent[2]
        adjacency = tc_adjacency(edge_df, forward)
        if edge_rel not in self.session_facts:
            self._adjacency[key] = (edge_df, stamp, adjacency)
        return edge_df, adjacency

    def _artifact_stale(self, key: Tuple[str, str]) -> bool:
        """True when a write from another engine sharing this KG dirtied
        the artifact's target relation since it was built."""
        target = self.current.indexes.get(key[1], (None,))[0]
        return self._artifact_epoch.get(key, 0) != self.current.head_epoch.get(
            target, 0
        )

    def _cache_view(
        self, head: str, df: DataFrame, epoch: Optional[int] = None
    ) -> None:
        """Cache a materialized head, stamped with the KG's invalidation
        epoch for it (valid until any engine dirties it). Lock-free read
        paths pass the epoch snapshotted before base-frame resolution;
        writer paths (which hold the KG write_lock, so no bump can
        interleave) stamp the current value."""
        self._derived_cache[head] = df
        self._cache_epoch[head] = (
            self.current.head_epoch.get(head, 0) if epoch is None else epoch
        )

    def _cached_view_get(self, head: str) -> Optional[DataFrame]:
        """Cached frame for `head`, or None — dropping it if a write from
        another engine sharing this KG has since dirtied the head."""
        df = self._derived_cache.get(head)
        if df is None:
            return None
        if self._cache_epoch.get(head) != self.current.head_epoch.get(head, 0):
            self._derived_cache.pop(head, None)
            self._cache_epoch.pop(head, None)
            return None
        return df

    # ---------------------------------------------- incremental aggregates

    _MERGEABLE_AGGS = ("sum", "count", "min", "max")


    @staticmethod
    def _is_materialized(df: DataFrame) -> bool:
        """True when the frame is a leaf holding its rows: an RDD-backed
        localCheckpoint output or a driver-built LocalRelation
        (small_local_df), rather than a lazy plan over base tables."""
        try:
            plan = df._jdf.queryExecution().optimizedPlan()
            return plan.getClass().getSimpleName() in ("LogicalRDD", "LocalRelation")
        except Exception:
            return False  # uninspectable plan: treat as lazy, the caller pins it

    def _pinned_view(self, head: str) -> Optional[DataFrame]:
        """The cached extent of `head`, guaranteed materialized: O(delta)
        maintenance merges INTO the old view, so a lazy cached plan would
        silently re-evaluate the whole view inside every merge (measured
        at 2M rows: "incremental" slower than recompute). First
        maintenance pins the view once; re-seeded maintenance results are
        already checkpoint leaves, so steady-state deletes/inserts never
        copy the view again."""
        old = self._cached_view_get(head)
        if old is None:
            return None
        if not self._is_materialized(old):
            # re-stamp with the entry's ORIGINAL epoch: re-reading the
            # current epoch here could mark a frame built before a
            # racing write as valid after it
            stamp = self._cache_epoch.get(head, 0)
            # lazy pin (r13): same LogicalRDD leaf + persistence, but
            # the blocks materialize inside the merge's own first
            # action instead of a standalone job here
            old = old.localCheckpoint(eager=False)
            self._cache_view(head, old, epoch=stamp)
        return old

    def try_delta_merge(
        self, head: str, delta_rel: str, delta_df: DataFrame, old_base: DataFrame
    ) -> Optional[DataFrame]:
        """O(delta) maintenance of a materialized aggregate view.

        For a non-recursive single-clause rule `+v(G.., agg<X>..) <-
        base(..)` whose aggregates are all merge-able semigroups
        (sum/count/min/max), the new view is
        `merge(old_view, aggregate(delta rows))` — no re-aggregation of
        the base (reference re-query after +10..1000 rows: 3.9-8.3 ms,
        BENCHMARKS.md:89-93; this is the Spark analog of its differential
        update). Returns the merged view, or None when the rule shape
        doesn't qualify (joins, negation, avg/count_distinct/ranking,
        recursion) — callers then fall back to full recompute.

        Set-semantics fidelity: IQL aggregates range over DISTINCT body
        bindings, so for sum/count the delta bindings are anti-joined
        against the pre-append base's bindings (a broadcast filter scan,
        no shuffle/re-aggregation); min/max are duplicate-insensitive.
        """
        from inputlayer_spark.ast_nodes import Agg
        from inputlayer_spark.compiler import compile_body, compile_head

        rules = [r for r in self.current.rules if r.head.relation == head]
        if len(rules) != 1:
            return None
        r = rules[0]
        pos_atoms = [l for l in r.body if isinstance(l, Atom) and not l.negated]
        neg_atoms = [l for l in r.body if isinstance(l, Atom) and l.negated]
        hnsws = [l for l in r.body if isinstance(l, HnswNearest)]
        if len(pos_atoms) != 1 or pos_atoms[0].relation != delta_rel or neg_atoms or hnsws:
            return None
        aggs = [(i, t) for i, t in enumerate(r.head.terms) if isinstance(t, Agg)]
        if not aggs or any(t.func not in self._MERGEABLE_AGGS for _, t in aggs):
            return None
        old = self._pinned_view(head)
        if old is None:
            return None

        def _resolver_for(df):
            def resolve(name):
                if name == delta_rel:
                    return df
                raise EmptyAritylessRelation(f"unknown relation {name}")

            return resolve

        delta_body = compile_body(
            r.body, _resolver_for(delta_df), self._hnsw_resolver,
            bool_consts_nop=getattr(r, "persistent", False),
        )
        if any(t.func in ("sum", "count") for _, t in aggs):
            old_body = compile_body(
                r.body, _resolver_for(old_base), self._hnsw_resolver,
                bool_consts_nop=getattr(r, "persistent", False),
            )
            # same gensym-column hazard as try_delta_retract: two
            # compilations of a wildcard-bearing body cannot be joined
            if set(delta_body.columns) != set(old_body.columns) or any(
                c.startswith("_w") for c in delta_body.columns
            ):
                return None
            # bindings already present in the pre-append base must not
            # re-contribute. A naive left-anti against the base would
            # shuffle the whole base (left-anti can only broadcast its
            # right side); instead semi-join the base DOWN to rows
            # matching some delta binding — broadcast of the tiny delta,
            # one streaming pass — then anti-join tiny-vs-tiny.
            dd = delta_body.distinct()
            existing = old_body.join(
                F.broadcast(dd), on=list(dd.columns), how="left_semi"
            )
            delta_body = dd.join(
                existing, on=list(dd.columns), how="left_anti"
            )
        delta_view = compile_head(delta_body, r.head)

        merge_fns = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
        gcols = [
            f"c{i}" for i, t in enumerate(r.head.terms) if not isinstance(t, Agg)
        ]
        both = old.unionByName(delta_view)
        merge_exprs = [
            merge_fns[t.func](F.col(f"c{i}")).alias(f"c{i}") for i, t in aggs
        ]
        merged = (
            both.groupBy(*gcols).agg(*merge_exprs) if gcols
            else both.agg(*merge_exprs)
        )
        # restore positional column order
        merged = merged.select(*[f"c{i}" for i in range(len(r.head.terms))])
        # lazy pin (r13): the caller caches this as the maintained
        # view; the next query's action materializes the blocks (one
        # job total instead of a merge job + a query job). All plan
        # inputs are immutable checkpoint leaves, so later base-table
        # swaps cannot change what materializes.
        return merged.localCheckpoint(eager=False)

    def try_delta_retract(
        self, head: str, delta_rel: str, deleted_df: DataFrame, new_base: DataFrame
    ) -> Optional[DataFrame]:
        """Incremental maintenance of a materialized aggregate view after
        a DELETE on its base relation — the retraction analog of
        `try_delta_merge` (reference: retraction re-query 602 ms–1.13 s
        vs 11.3 s full recompute, BENCHMARKS.md:67-71).

        Qualifying shape is the same (non-recursive single-clause rule,
        one positive atom, mergeable aggregates). Two paths:

        - **O(delta) subtract-merge** when every aggregate is sum/count
          AND a count is present: the retracted bindings' aggregate
          contributions are negated and merged; groups whose count
          reaches 0 are dropped (the count column is what makes emptied
          groups detectable — sum alone cannot distinguish "group gone"
          from "sums to zero").
        - **Group-scoped recompute** otherwise (min/max need their
          group's surviving extent; sum-only lacks emptiness detection):
          only the groups the retracted bindings touch are re-aggregated
          from the new base; every untouched group keeps its
          materialization. Deleting rows from k groups costs a scan
          filtered to k groups + a broadcast anti-join on the view — not
          a full re-aggregation.

        Set-semantics fidelity: a binding is only retracted if it no
        longer holds in the new base (deleting one duplicate copy leaves
        the binding's contribution intact), hence the anti-join of the
        deleted bindings against the post-delete base's bindings.
        Returns the maintained view, or None → caller falls back to
        invalidate + full recompute.
        """
        from inputlayer_spark.ast_nodes import Agg
        from inputlayer_spark.compiler import compile_body, compile_head

        rules = [r for r in self.current.rules if r.head.relation == head]
        if len(rules) != 1:
            return None
        r = rules[0]
        pos_atoms = [l for l in r.body if isinstance(l, Atom) and not l.negated]
        neg_atoms = [l for l in r.body if isinstance(l, Atom) and l.negated]
        hnsws = [l for l in r.body if isinstance(l, HnswNearest)]
        if len(pos_atoms) != 1 or pos_atoms[0].relation != delta_rel or neg_atoms or hnsws:
            return None
        aggs = [(i, t) for i, t in enumerate(r.head.terms) if isinstance(t, Agg)]
        if not aggs or any(t.func not in self._MERGEABLE_AGGS for _, t in aggs):
            return None
        group_terms = [
            (i, t) for i, t in enumerate(r.head.terms) if not isinstance(t, Agg)
        ]
        if any(not isinstance(t, Var) for _, t in group_terms):
            return None
        old = self._pinned_view(head)
        if old is None:
            return None

        def _resolver_for(df):
            def resolve(name):
                if name == delta_rel:
                    return df
                raise EmptyAritylessRelation(f"unknown relation {name}")

            return resolve

        deleted_body = compile_body(
            r.body, _resolver_for(deleted_df), self._hnsw_resolver,
            bool_consts_nop=getattr(r, "persistent", False),
        )
        new_body = compile_body(
            r.body, _resolver_for(new_base), self._hnsw_resolver,
            bool_consts_nop=getattr(r, "persistent", False),
        )
        # wildcard body vars compile to per-call gensym columns (`_wN`),
        # so two compilations of the same body can't be joined on their
        # columns — bail to full recompute for such bodies
        if set(deleted_body.columns) != set(new_body.columns) or any(
            c.startswith("_w") for c in deleted_body.columns
        ):
            return None
        # set-semantics check: a binding is retracted only if absent
        # from the new base. Cost ladder:
        #
        # 1. When the body atom binds EVERY base column with distinct
        #    plain variables (binding == full row — the common aggregate
        #    shape `agg(...) <- base(A, B, C)`), no check is needed at
        #    all: `_delete` removes every copy of a doomed row, so no
        #    identical binding can survive. retracted = deleted
        #    bindings, ZERO base scans — true O(delta).
        # 2. Projecting bodies (wildcards/constants/fewer vars): a
        #    projected binding may survive via other rows. Semi-join the
        #    base DOWN to rows matching some deleted binding (broadcast
        #    of the tiny delta — one streaming pass, no base shuffle;
        #    a naive left-anti against the base would shuffle it fully,
        #    measured slower than recompute at 2M rows), then anti-join
        #    tiny-vs-tiny.
        ded = deleted_body.distinct()
        atom_terms = pos_atoms[0].terms
        full_width_binding = (
            len(atom_terms) == len(new_base.columns)
            and all(
                isinstance(t, Var) and not t.is_wildcard for t in atom_terms
            )
            and len({t.name for t in atom_terms}) == len(atom_terms)
        )
        if full_width_binding:
            retracted = ded
        else:
            survivors = new_body.join(
                F.broadcast(ded), on=list(ded.columns), how="left_semi"
            )
            retracted = ded.join(
                survivors, on=list(ded.columns), how="left_anti"
            )
        gcols = [f"c{i}" for i, _ in group_terms]

        funcs = {t.func for _, t in aggs}
        if funcs <= {"sum", "count"} and "count" in funcs:
            # pure O(delta): negate the retracted contribution and merge
            delta_view = compile_head(retracted, r.head)
            neg = delta_view.select(
                *[
                    (-F.col(f"c{i}")).alias(f"c{i}")
                    if any(i == j for j, _ in aggs)
                    else F.col(f"c{i}")
                    for i in range(len(r.head.terms))
                ]
            )
            both = old.unionByName(neg)
            merge_exprs = [F.sum(F.col(f"c{i}")).alias(f"c{i}") for i, _ in aggs]
            merged = (
                both.groupBy(*gcols).agg(*merge_exprs) if gcols
                else both.agg(*merge_exprs)
            )
            count_col = next(f"c{i}" for i, t in aggs if t.func == "count")
            merged = merged.filter(F.col(count_col) > 0)
        else:
            # group-scoped recompute; with no group columns the "scope"
            # is the whole view → nothing to save, fall back
            if not gcols:
                return None
            gvars = [t.name for _, t in group_terms]
            touched_b = retracted.select(*gvars).distinct()
            scoped = new_body.join(F.broadcast(touched_b), on=gvars, how="left_semi")
            recomputed = compile_head(scoped, r.head)
            touched_keys = touched_b.select(
                *[F.col(t.name).alias(f"c{i}") for i, t in group_terms]
            )
            merged = old.join(
                F.broadcast(touched_keys), on=gcols, how="left_anti"
            ).unionByName(recomputed)
        merged = merged.select(*[f"c{i}" for i in range(len(r.head.terms))])
        # lazy pin (r13): the caller caches this as the maintained
        # view; the next query's action materializes the blocks (one
        # job total instead of a merge job + a query job). All plan
        # inputs are immutable checkpoint leaves, so later base-table
        # swaps cannot change what materializes.
        return merged.localCheckpoint(eager=False)

    def _maintain(
        self, rel: str, delta: DataFrame, old_base: DataFrame, retract: bool
    ) -> Dict[str, DataFrame]:
        """O(delta) maintenance of the cached views over base relation
        `rel` after one write that inserted the `delta` rows, or removed
        them when `retract`. `self.current.relations[rel]` already holds
        the new extent, `old_base` the previous one.

        Aggregate views take try_delta_merge / try_delta_retract. Cached
        POSITIVE RECURSIVE SCC fixpoints take recursion.seminaive_insert /
        recursion.dred_retract (reference differential update and
        retraction, src/incremental.rs:26-41). Returns {head: maintained
        view}. A head left out is a designed bail-out — session overlays,
        a shape out of scope (negation, aggregates or hnsw inside the
        SCC), an uncached member, a lower stratum the write also dirties,
        or a cost guard — and is recomputed on its next read. Errors
        raise."""
        maintained: Dict[str, DataFrame] = {}
        # Session overlays put bindings in the cached views that the
        # delta's binding checks (which read only the persistent base)
        # cannot see: an insert duplicating a session fact would
        # double-count, deleting one would under-count.
        if self.session_rules or self.session_facts:
            return maintained
        rules = self.current.rules
        new_base = self.current.relations[rel]
        for rule in rules:
            if not any(
                isinstance(l, Atom) and not l.negated and l.relation == rel
                for l in rule.body
            ):
                continue
            head = rule.head.relation
            if retract:
                v = self.try_delta_retract(head, rel, delta, new_base)
            else:
                v = self.try_delta_merge(head, rel, delta, old_base)
            if v is not None:
                maintained[head] = v

        dirty = self._dependents(rel)
        valid = {
            h: df
            for h in list(self._derived_cache)
            if (df := self._cached_view_get(h)) is not None
        }
        for scc in condensation(rules):
            if not is_recursive_scc(scc, rules):
                continue
            scc_set = set(scc)
            scc_rules = [r for r in rules if r.head.relation in scc_set]
            body_atoms = [
                lit for r in scc_rules for lit in r.body if isinstance(lit, Atom)
            ]
            if rel not in {a.relation for a in body_atoms}:
                continue
            if any(a.negated for a in body_atoms):
                continue
            if any(isinstance(t, Agg) for r in scc_rules for t in r.head.terms):
                continue
            if any(isinstance(l, HnswNearest) for r in scc_rules for l in r.body):
                continue
            scc_cached = {h: self._cached_view_get(h) for h in scc_set}
            if not all(v is not None for v in scc_cached.values()):
                continue
            # a non-member dependency the write also dirties would feed
            # stale extents into the delta evaluation
            if ({a.relation for a in body_atoms} - scc_set - {rel}) & dirty:
                continue
            clean = {h: df for h, df in valid.items() if h not in scc_set}
            resolve_new = self._resolver(clean)
            if retract:
                out = recursion.dred_retract(
                    scc_rules, scc, rel, delta, scc_cached,
                    self._resolver({**clean, rel: old_base}), resolve_new,
                    self._base_of, self._hnsw_resolver,
                )
            else:
                out = recursion.seminaive_insert(
                    scc_rules, scc, rel, delta, scc_cached, resolve_new,
                    self._hnsw_resolver,
                )
            if out is not None:
                maintained.update(out)
        return maintained

    def _single_pass_eval(self, rules) -> Dict[str, DataFrame]:
        """Registration-order single-pass evaluation for unstratifiable
        session-rule programs: each rule is evaluated exactly once against
        the extents derived so far (later heads resolve as empty), no
        fixpoint. Matches the reference, which materializes each session
        rule at registration time (goldens 12_errors/36,66)."""
        from inputlayer_spark.compiler import compile_body, compile_head

        derived: Dict[str, DataFrame] = {}
        for r in rules:
            resolve = self._resolver(derived)
            df = compile_head(
                compile_body(
                    r.body,
                    resolve,
                    self._hnsw_resolver,
                    bool_consts_nop=getattr(r, "persistent", False),
                ),
                r.head,
            )
            head = r.head.relation
            if head in derived:
                derived[head] = derived[head].unionByName(df).distinct()
            else:
                derived[head] = df.distinct()
        return derived

    def _base_of(self, name: str) -> Optional[DataFrame]:
        """Base extent (explicit facts + session facts) of a relation that
        also has rules — unioned with derivations like the reference's
        input_tuples (src/lib.rs:507-512)."""
        df = self.current.relations.get(name)
        if df is None:
            if name in self.session_facts:
                rows = self.session_facts[name]
                return small_local_df(self.spark, rows, _infer_schema(rows))
            return None
        if name in self.session_facts:
            df = df.unionByName(
                small_local_df(self.spark, self.session_facts[name], df.schema)
            )
        return df

    def _resolver(self, derived: Dict[str, DataFrame]):
        def resolve(name: str) -> DataFrame:
            if name in derived:
                return derived[name]
            if name in self.current.relations:
                df = self.current.relations[name]
                if name in self.session_facts:
                    df = df.unionByName(
                        small_local_df(self.spark, self.session_facts[name], df.schema)
                    )
                return df
            if name in self.session_facts:
                # session-only relation (bare facts, no persistent base)
                rows = self.session_facts[name]
                return small_local_df(self.spark, rows, _infer_schema(rows))
            if name in self.current.empty_relations:
                raise EmptyAritylessRelation(f"empty relation {name}")
            # Unknown relations behave as empty, not as errors: querying a
            # nonexistent or dropped relation yields "No results."
            # (goldens 10_edge_cases/01_empty_relation.iql,
            # 14_aggregations/120_rule_drop_count.iql).
            raise EmptyAritylessRelation(f"unknown relation {name}")

        return resolve

    def _query(self, q: Query) -> DataFrame:
        if self.max_query_cost > 0:
            from inputlayer_spark.cost import check_query_cost

            check_query_cost(self._all_rules(), q, self.max_query_cost)
        targets = {q.goal.relation}
        for lit in q.body:
            if isinstance(lit, Atom):
                targets.add(lit.relation)

        # Reference quirk: a bound query over a NON-recursive session-rule
        # head with multiple clauses returns nothing — the reference fails
        # to project the extra body variables of the added clause, so the
        # constant filter matches no rows (04_session/11: ?connected(1,X)
        # → "No results" after a second non-recursive clause, while the
        # recursive path/edge rules in 04_session/01,10 answer bound
        # queries fine through the fixpoint path).
        if (
            not q.body
            and any(isinstance(t, (Const, VecLit)) for t in q.goal.terms)
            and q.goal.relation not in self.current.relations
        ):
            s_clauses = [
                r for r in self.session_rules if r.head.relation == q.goal.relation
            ]
            p_clauses = [
                r
                for r in self.current.rules
                if r.head.relation == q.goal.relation
            ]
            if len(s_clauses) >= 2 and not p_clauses:
                try:
                    sccs = condensation(self._all_rules())
                    scc = next(
                        (s for s in sccs if q.goal.relation in s), None
                    )
                    recursive = scc is not None and is_recursive_scc(
                        scc, self._all_rules()
                    )
                except StratificationError:
                    recursive = True
                if not recursive and any(
                    {t.name for t in r.head.terms if isinstance(t, Var)}
                    != {
                        t.name
                        for lit in r.body
                        if isinstance(lit, Atom) and not lit.negated
                        for t in lit.terms
                        if isinstance(t, Var) and not t.is_wildcard
                    }
                    for r in s_clauses
                ):
                    names = [
                        t.name if isinstance(t, Var) else f"c{i}"
                        for i, t in enumerate(q.goal.terms)
                    ]
                    return self.spark.createDataFrame(
                        [], schema=", ".join(f"`{n}` string" for n in names)
                    )

        # magic-sets fast path: bound query over a recursive predicate
        magic_df = None
        if not q.body:
            magic_df = self._try_magic(q.goal)
        if magic_df is not None:
            derived = {q.goal.relation: magic_df}
        else:
            derived = self._materialize_for(targets)
        resolve = self._resolver(derived)

        heads = {r.head.relation for r in self._all_rules()}
        goal_resolvable = (
            q.goal.relation in derived
            or q.goal.relation in self.current.relations
            or q.goal.relation in heads
        )

        # Reference quirk: a query whose pattern arity mismatches the
        # relation is NOT an error — it returns the relation's full extent
        # with generic col0..colN names, ignoring the pattern
        # (12_errors/01: ?r(X,Y,Z) on arity-2 r → 2 cols; 63: ?r(X,Y) on
        # arity-3 r → 3 cols).
        if not q.body and goal_resolvable and q.goal.terms:
            try:
                extent = resolve(q.goal.relation)
            except EmptyAritylessRelation:
                extent = None
            if extent is not None and len(extent.columns) != len(q.goal.terms):
                return extent.toDF(
                    *[f"col{i}" for i in range(len(extent.columns))]
                ).distinct()

        body_has_positive = any(
            (isinstance(l, Atom) and not l.negated) or isinstance(l, HnswNearest)
            for l in q.body
        )
        if q.body and not goal_resolvable and body_has_positive:
            # fresh goal name: treat goal as head over the body
            # (comparison-only bodies fall through to the goal-filter
            # branch so `?unknown(Id, C), C > 1` prints "No results" like
            # the reference — 28_docs_coverage/11)
            body_df = compile_body(q.body, resolve, self._hnsw_resolver)
            df = compile_head(body_df, q.goal)
            names = _result_names(q.goal)
            df = df.toDF(*names)
        else:
            # goal over an existing relation; extra body literals filter it
            # (`?words(W), W < "m"` — reference QueryGoal semantics)
            # wildcards in a query goal bind fresh vars so their matched
            # values appear as `_` columns (the reference client echoes
            # them, examples/iql/07_filters/31_filter_with_wildcard.iql)
            goal_terms = []
            for i, t in enumerate(q.goal.terms):
                if isinstance(t, Var) and t.is_wildcard:
                    goal_terms.append(Var(f"__wild_{i}"))
                elif isinstance(t, VecLit):
                    # vector constants in query patterns don't filter —
                    # the reference binds the position and prints it as a
                    # `_v{i}` column with every row's actual value
                    # (examples/iql/16_vectors/20_vector_constant.iql)
                    goal_terms.append(Var(f"__veclit_{i}"))
                else:
                    goal_terms.append(t)
            goal2 = Atom(q.goal.relation, tuple(goal_terms))
            atom_df = compile_body((goal2,) + tuple(q.body), resolve, self._hnsw_resolver)
            # project the goal's term order: vars by first binding,
            # constants echoed as literal columns (reference prints
            # `?path(1, X)` with the bound 1 as its own column)
            from inputlayer_spark.printer import term_to_iql

            cols = []
            names = []
            seen = set()
            for t in goal_terms:
                if isinstance(t, Var) and t.name.startswith("__wild_"):
                    cols.append(F.col(t.name))
                    names.append("_")
                elif isinstance(t, Var) and t.name.startswith("__veclit_"):
                    cols.append(F.col(t.name))
                    names.append(f"_v{t.name.rsplit('_', 1)[1]}")
                elif isinstance(t, Var) and not t.is_wildcard and t.name not in seen:
                    seen.add(t.name)
                    cols.append(F.col(t.name))
                    names.append(t.name)
                elif isinstance(t, (Const, VecLit)):
                    cols.append(F.expr(term_to_sql(t, set())))
                    names.append(term_to_iql(t))
            # body literals extend the projection: new vars bound by
            # positive atoms, hnsw_nearest, and `=`-bindings appear as
            # extra columns in first-occurrence order (reference prints
            # all query variables — examples/iql/80_sip/01: ?user(U,N),
            # order(O,U,A) → U,N,O,A; 30_quantization/01: ?emb(Id,V),
            # Q = quantize_linear(V) → Id,V,Q). Body constants are not echoed.
            for lit in q.body:
                new_vars = []
                if isinstance(lit, Atom) and not lit.negated:
                    new_vars = [
                        t for t in lit.terms
                        if isinstance(t, Var) and not t.is_wildcard
                    ]
                elif isinstance(lit, Comparison) and lit.op == "=":
                    if isinstance(lit.left, Var) and not lit.left.is_wildcard:
                        new_vars = [lit.left]
                elif isinstance(lit, HnswNearest):
                    new_vars = [lit.id_var, lit.dist_var]
                for v in new_vars:
                    if v.name not in seen:
                        seen.add(v.name)
                        cols.append(F.col(v.name))
                        names.append(v.name)
            if cols:
                # skip the set-semantics distinct when it is provably a
                # no-op: a body-less goal over a DERIVED extent is
                # already a set (compile_head/fixpoint/union paths all
                # dedup), and the projection preserves distinctness —
                # every goal position is either projected (vars,
                # wildcards, vector literals) or constant post-filter
                # (consts, repeated vars). Registered base frames keep
                # the distinct: users can register duplicate-bearing
                # DataFrames. On a materialized 1M-pair closure this
                # turns every re-query from a view-width shuffle into a
                # metadata-only count (bench incr_recursive_* rows).
                df = atom_df.select(*cols)
                if q.body or q.goal.relation not in derived:
                    df = df.distinct()
                df = df.toDF(*names)
            else:
                # zero-arity goal: one empty-cell row when matched, none
                # otherwise (golden 10_edge_cases/14_wildcard_patterns.iql
                # prints `?has_any_data()` as a single blank row)
                df = atom_df.limit(1).select(F.lit("").alias("_"))

        order_cols = []
        for pos, direction in q.order_by:
            t = q.goal.terms[pos]
            if isinstance(t, Var):
                c = F.col(t.name)
                order_cols.append(c.desc() if direction == "desc" else c.asc())
        if order_cols:
            df = df.orderBy(*order_cols)
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    def _try_magic(self, goal: Atom) -> Optional[DataFrame]:
        """Magic-sets fast path (reference src/magic_sets/mod.rs, 288-1,587x
        on bound TC per BENCHMARKS.md:15-20): when the goal is a bound
        query over a recursive predicate, evaluate a demand-rewritten
        program instead of the full fixpoint. Returns the adorned goal
        relation (positional columns) or None to fall back."""
        if not self.enable_magic_sets:
            return None
        rules = self._all_rules()
        heads = {r.head.relation for r in rules}
        if goal.relation not in heads:
            return None
        if not any(isinstance(t, (Const, VecLit)) for t in goal.terms):
            return None
        try:
            sccs = condensation(rules)
        except StratificationError:
            return None
        scc = next((s for s in sccs if goal.relation in s), None)
        if scc is None or not is_recursive_scc(scc, rules):
            # non-recursive views are lazy DataFrames: Catalyst pushes the
            # goal's constant filters down on its own — no rewrite needed
            return None
        if len(scc) > 1:
            # mutual SCCs follow the reference's pinned quirk semantics
            # (evaluate_scc: persistent → empty, session → mates dropped);
            # the magic rewrite would run a joint fixpoint — fall back
            return None
        scc_rules = [r for r in rules if r.head.relation == goal.relation]
        has_exit = any(
            not any(
                isinstance(lit, Atom)
                and not lit.negated
                and lit.relation == goal.relation
                for lit in r.body
            )
            for r in scc_rules
        )
        if all(getattr(r, "persistent", False) for r in scc_rules) and not has_exit:
            # Bound query over persistent recursion with no non-recursive
            # exit rule: the reference's magic-sets path has no seeds (it
            # never seeds from base facts) → empty result, even when base
            # facts exist (golden 09_recursion/56_all_paths.iql; the
            # unbound query over the same program returns the fixpoint,
            # 41_level_tracking.iql).
            base = self._base_of(goal.relation)
            if base is not None:
                return base.limit(0).toDF(
                    *[f"c{i}" for i in range(len(base.columns))]
                )
            arity = len(goal.terms)
            return self.spark.createDataFrame(
                [],
                schema=T.StructType(
                    [T.StructField(f"c{i}", T.StringType()) for i in range(arity)]
                ),
            )
        # NON-LINEAR recursion (same-generation, symmetric closure) is
        # handled too: the generalized rewrite emits multi-adorned
        # variants (e.g. __sg__bb) whose demand may be MUTUALLY recursive
        # with its magic predicate (SIP passes answer atoms into magic
        # bodies). Those internal mutual SCCs are OUR machinery, not user
        # programs — they are evaluated with a quirk-free joint fixpoint
        # below, while the reference's mutual-SCC quirks still apply to
        # the ORIGINAL program (the len(scc) > 1 bail above).
        scc_members = set(scc)
        # A recursive predicate can ALSO have explicit base facts
        # (+reach(7,99) alongside TC rules) or session-fact overlays. The
        # rewritten program's base_of only feeds the seed relation, so the
        # adorned relation would never see that base extent — fall back to
        # full evaluation + goal filter, which unions base facts correctly.
        for m in scc_members:
            if m in self.current.relations or m in self.session_facts:
                return None

        # pure binary-TC shape: run the blocked-doubling seeded BFS
        # directly (log-ish Spark jobs on deep chains) instead of the
        # generic adorned program (one job per hop)
        shape = tc_bfs_shape(goal, rules, scc_members)
        if shape is not None:
            edge_rel, forward, seed_val, _other = shape
            edge_df, adjacency = self._edge_adjacency(edge_rel, forward)
            out = seeded_tc_closure(edge_df, seed_val, forward, adjacency)
            if not forward:
                # closure returns (seed, reached); ?p(X, const) wants
                # (reached, seed) positionally
                out = out.select(
                    out["c1"].alias("c0"), out["c0"].alias("c1")
                )
            return out

        rw = magic_rewrite(goal, rules, scc)
        if rw is None:
            return None

        # materialize only what the SCC's bodies need from outside it
        members = set(scc)
        dep_targets = set()
        for r in rules:
            if r.head.relation in members:
                for lit in r.body:
                    if isinstance(lit, Atom) and lit.relation not in members:
                        dep_targets.add(lit.relation)
        derived = self._materialize_for(dep_targets, skip=frozenset(members))

        seed_df = self.spark.createDataFrame(
            [rw.seed_row], schema=_infer_schema([rw.seed_row])
        )
        overlay: Dict[str, DataFrame] = {rw.seed_relation: seed_df}
        base_resolve = self._resolver(derived)
        # arities of the rewrite's internal relations: a magic/adorned
        # predicate that derived NOTHING resolves as an empty frame of
        # the right arity instead of an unknown-relation error
        rw_arity = {r.head.relation: len(r.head.terms) for r in rw.rules}

        def _empty_rw(name: str) -> DataFrame:
            return self.spark.createDataFrame(
                [],
                schema=T.StructType(
                    [
                        T.StructField(f"c{i}", T.StringType(), True)
                        for i in range(rw_arity[name])
                    ]
                ),
            )

        def resolve(name: str) -> DataFrame:
            if name in overlay:
                return overlay[name]
            if name in rw_arity:
                return _empty_rw(name)
            return base_resolve(name)

        def base_of(name: str) -> Optional[DataFrame]:
            if name == rw.seed_relation:
                return seed_df
            return self._base_of(name)

        from inputlayer_spark.recursion import _positional, _seminaive_fixpoint

        for sub in condensation(rw.rules):
            if len(sub) > 1 and is_recursive_scc(sub, rw.rules):
                # internal mutual SCC (non-linear demand): joint
                # semi-naive fixpoint — the reference's mutual-SCC
                # quirks apply to USER programs, not to the rewrite's
                # own magic/adorned machinery
                sub_set = set(sub)
                sub_rules = [
                    r for r in rw.rules if r.head.relation in sub_set
                ]

                overlay.update(
                    _seminaive_fixpoint(
                        sub_rules,
                        sub_set,
                        resolve,
                        self._hnsw_resolver,
                        lambda h: _positional(base_of(h)),
                    )
                )
            else:
                overlay.update(
                    evaluate_scc(
                        sub, rw.rules, resolve, self._hnsw_resolver,
                        base_of=base_of,
                    )
                )
        out = overlay.get(rw.goal_relation)
        if out is None:
            # fixpoint derived nothing: empty relation with goal arity
            fields = [
                T.StructField(f"c{i}", T.StringType(), True)
                for i in range(len(goal.terms))
            ]
            out = self.spark.createDataFrame([], schema=T.StructType(fields))
        return out

    # ------------------------------------------------------------ vector index

    # LSH index geometry: 8 tables × 8 bits matches the probe budget that
    # reaches recall 1.0 on the synthetic embeddings corpus; ef_search
    # maps directly to the multi-probe bucket count per table.
    _INDEX_TABLES = 8
    _INDEX_BITS = 8
    _DEFAULT_PROBES = 93  # Hamming-3 ball over 8 bits

    def create_index(
        self,
        name: str,
        relation: str,
        column: str,
        metric: str = "cosine",
        kind: str = "lsh",
        params: Optional[dict] = None,
    ) -> None:
        """`.index create` — two index kinds:

        * ``lsh`` (default): a DISTRIBUTED bucket artifact (the Spark
          analog of the reference's index build, src/index_manager.rs:1-50)
          — per-table sign-hash bucket columns precomputed over the
          relation and cached; search probes buckets (ef_search → probe
          count) and exact-reranks candidates. The scale path: the
          artifact is a DataFrame, candidates come from equi-joins.
        * ``hnsw`` (`type hnsw`): the reference's exact in-process HNSW
          graph (src/hnsw_index.rs:27-160) as a driver-side NumPy
          structure — microsecond search, tombstoned deletes, for corpora
          that fit one machine (the reference's only regime).

        Both artifacts are cascade-invalidated on base writes
        (_invalidate; HNSW deletes tombstone in place instead) and rebuilt
        lazily; the brute-force scan remains the fallback when an artifact
        cannot be built (e.g. empty/typeless relations)."""
        if kind not in ("lsh", "hnsw", "ivf"):
            raise CompileError(f"Index error: unsupported index type '{kind}'")
        self.current.indexes[name] = (relation, column, metric, kind, params or {})
        self._index_frames.pop((self.current.name, name), None)
        self._hnsw_graphs.pop((self.current.name, name), None)
        self._drop_sharded_hnsw((self.current.name, name))
        self._ivf_frames.pop((self.current.name, name), None)
        self._ivf_cents.pop((self.current.name, name), None)

    def _index_kind(self, name: str) -> str:
        meta = self.current.indexes.get(name) or ()
        return meta[3] if len(meta) > 3 else "lsh"

    @staticmethod
    def _hnsw_driver_cap() -> int:
        """Max corpus rows a `type hnsw` index may collect to the driver
        (read per call so tests/deployments can tune it). Above the cap
        the index builds the SHARDED executor-side graphs instead — an
        unbounded collect on a 100 TB relation would OOM the driver."""
        import os as _os

        return int(_os.environ.get("SPARK_GRAFT_HNSW_DRIVER_CAP", "100000"))

    def _hnsw_shard_dir(self, name: str) -> str:
        """Unique build directory for one sharded-HNSW build. Rooted in
        wal_dir when durable, else a per-engine temp dir; a fresh
        generation per rebuild AND a per-engine random token so stale
        worker-side caches keyed by dir can never serve a dropped graph
        — including across engine restarts that share a wal_dir on one
        SparkSession (Python workers outlive the engine, so a
        per-instance counter alone would reuse '...-g0001' and hit the
        previous engine's cached graphs)."""
        import os as _os
        import secrets as _secrets
        import tempfile as _tempfile

        root = getattr(self, "_hnsw_shard_root", None)
        if root is None:
            # only the wal_dir's OWNER (the engine holding the .owner
            # flock) may build under the shared root: a non-owning
            # engine's dirs would be swept by the next owner's startup
            # GC the moment the current owner releases the lock
            if self.wal_dir and getattr(self, "_hnsw_owner_fd", None) is not None:
                root = _os.path.join(self.wal_dir, "hnsw_shards")
            else:
                root = _tempfile.mkdtemp(prefix="sparkgraft-hnsw-")
            self._hnsw_shard_root = root
            self._hnsw_shard_token = _secrets.token_hex(4)
        self._hnsw_shard_gen += 1
        return _os.path.join(
            root,
            f"{self.current.name}-{name}-{self._hnsw_shard_token}"
            f"-g{self._hnsw_shard_gen:04d}",
        )

    def _sweep_stale_hnsw_shards(self) -> None:
        """Startup GC for durable sharded-HNSW build directories.

        Shard dirs under ``wal_dir/hnsw_shards`` are named with a
        per-engine random token, so directories left behind by a
        previous engine instance (restart or crash — _drop_sharded_hnsw
        only runs in the owning process) can never belong to this
        engine and would otherwise leak disk indefinitely. Called BEFORE
        WAL replay, which is what rebuilds any live sharded index into
        a fresh token-stamped directory (ADVICE r5).

        Single-writer ownership (ADVICE r6): the sweep only runs after
        acquiring an exclusive advisory lock on ``hnsw_shards/.owner``,
        held for this engine's lifetime. A second engine pointed at the
        same wal_dir (shared storage, blue/green restart overlap) fails
        the non-blocking acquire and skips the sweep, so it can never
        delete a LIVE engine's shard graphs. The lock is released by
        close() / process exit, letting the next clean startup GC."""
        import os as _os
        import shutil as _shutil

        if not self.wal_dir:
            return
        root = _os.path.join(self.wal_dir, "hnsw_shards")
        try:
            # create eagerly so ownership is claimed even on a fresh
            # wal_dir — otherwise the first engine would never hold the
            # lock and a later second engine could sweep its live graphs
            _os.makedirs(root, exist_ok=True)
            stale = _os.listdir(root)
        except OSError:
            return
        if not self._acquire_shard_owner_lock(root):
            return
        for d in stale:
            if d == ".owner":
                continue
            _shutil.rmtree(_os.path.join(root, d), ignore_errors=True)

    def _acquire_shard_owner_lock(self, root: str) -> bool:
        """Try to become the single owner of wal_dir's shard store via a
        non-blocking flock on ``<root>/.owner``; the fd is kept open on
        the engine so the lock lives exactly as long as it does. Returns
        False (another live engine owns the store) without raising; on
        platforms without fcntl the sweep proceeds as before."""
        import os as _os

        try:
            import fcntl as _fcntl
        except ImportError:  # non-POSIX: keep prior behavior
            return True
        fd = None
        try:
            fd = _os.open(_os.path.join(root, ".owner"), _os.O_CREAT | _os.O_RDWR)
            _fcntl.flock(fd, _fcntl.LOCK_EX | _fcntl.LOCK_NB)
        except OSError:
            if fd is not None:
                _os.close(fd)
            return False
        self._hnsw_owner_fd = fd
        return True

    def close(self) -> None:
        """Release engine-held OS resources (the shard-store ownership
        lock); safe to call more than once. Cached frames and indexes
        stay usable — close() only relinquishes wal_dir ownership so a
        successor engine's startup sweep can run."""
        import os as _os

        fd = getattr(self, "_hnsw_owner_fd", None)
        if fd is not None:
            try:
                _os.close(fd)  # closing drops the flock
            except OSError:
                pass
            self._hnsw_owner_fd = None

    def _drop_sharded_hnsw(self, key) -> None:
        idx = self._sharded_hnsw.pop(key, None)
        if idx is not None:
            try:
                idx.delete()  # backend-aware: rmtree / key-prefix delete
            except Exception:
                pass  # best-effort disk cleanup: a failure leaks the build dir

    def _hnsw_graph(self, name: str):
        """Lazily-built driver-side HnswGraph for a kind="hnsw" index:
        corpus collected ONCE ordered by id (deterministic insertion
        order → deterministic graph), cached until a dependent write.

        The collect is CAPPED (_hnsw_driver_cap): a corpus above the cap
        builds a ShardedHnswIndex instead — per-partition graphs built
        and persisted executor-side, registered in self._sharded_hnsw —
        and this returns None so callers take the sharded path.
        Returns None too when the vector column is missing or the corpus
        is empty — callers fall back to LSH/exact. A corpus the graph
        rejects (ragged vectors, duplicate ids) raises."""
        key = (self.current.name, name)
        if self._artifact_stale(key):
            # a write from another engine sharing this KG dirtied the
            # corpus — drop this engine's copies and rebuild below
            self._hnsw_graphs.pop(key, None)
            self._drop_sharded_hnsw(key)
        cached = self._hnsw_graphs.get(key)
        if cached is not None:
            return cached
        if key in self._sharded_hnsw:
            # over-cap index already built executor-side: short-circuit
            # before re-materializing derived relations and re-running
            # the cap-probe count on every query
            return None
        relation, column = self.current.indexes[name][:2]
        metric = self.current.indexes[name][2]
        # epoch snapshot BEFORE the lock-free corpus resolution (see
        # _stamp_artifact): a write racing the build leaves it stale
        pre_epoch = self.current.head_epoch.get(relation, 0)
        from inputlayer_spark.operators.hnsw import HnswGraph, ShardedHnswIndex

        df = self._resolver(self._derived_for_index(relation))(relation)
        if column not in df.columns:
            return None
        id_col = df.columns[0]
        meta = self.current.indexes[name]
        params = dict(meta[4]) if len(meta) > 4 and meta[4] else {}
        cap = self._hnsw_driver_cap()
        # bounded existence probe: scans at most cap+1 rows, never
        # the whole relation
        if df.limit(cap + 1).count() > cap:
            if key not in self._sharded_hnsw:
                self._sharded_hnsw[key] = ShardedHnswIndex.build(
                    df,
                    id_col,
                    column,
                    self._hnsw_shard_dir(name),
                    metric=metric,
                    m=int(params.get("m", 16)),
                    ef_construction=int(params.get("ef_construction", 100)),
                    ef_search=int(params.get("ef_search", 64)),
                )
                self._stamp_artifact(key, epoch=pre_epoch)
            return None
        rows = (
            df.select(F.col(id_col), F.col(column))
            .orderBy(F.col(id_col).asc())
            .collect()
        )
        if not rows:
            return None
        dim = len(rows[0][1])
        g = HnswGraph(
            dim,
            metric=metric,
            m=int(params.get("m", 16)),
            ef_construction=int(params.get("ef_construction", 100)),
            ef_search=int(params.get("ef_search", 50)),
        )
        g.add_batch(
            [r[0] for r in rows],
            [[float(x) for x in r[1]] for r in rows],
        )
        self._hnsw_graphs[key] = g
        self._stamp_artifact(key, epoch=pre_epoch)
        return g

    def _index_frame(self, name: str) -> Optional[DataFrame]:
        """Materialized LSH artifact for an index, built lazily and cached
        (persisted) until a write to a relation it depends on."""
        key = (self.current.name, name)
        if self._artifact_stale(key):
            old = self._index_frames.pop(key, None)
            if old is not None:
                _unpersist(old)
        cached = self._index_frames.get(key)
        if cached is not None:
            return cached
        relation, column = self.current.indexes[name][:2]
        pre_epoch = self.current.head_epoch.get(relation, 0)
        from inputlayer_spark.operators.similarity import lsh_index

        df = self._resolver(self._derived_for_index(relation))(relation)
        if column not in df.columns:
            return None
        idx = lsh_index(
            df, column, num_tables=self._INDEX_TABLES, num_bits=self._INDEX_BITS
        ).persist()
        self._index_frames[key] = idx
        self._stamp_artifact(key, epoch=pre_epoch)
        return idx

    _IVF_CELL_BITS = 4  # 16 coarse cells from the sign-hash quantizer

    def _ivf_artifacts(self, name: str):
        """Lazily-built IVF artifact pair for a kind="ivf" index:
        (celled corpus frame, driver-side centroid list). The coarse
        quantizer is the relation's own cell/label column when one
        exists (any non-vector column named 'label' or 'cell'),
        otherwise a derived 4-bit sign-hash bucket — deterministic, one
        pass, and at scale the celled frame is written partitioned by
        __cell so probe IN-lists prune files."""
        key = (self.current.name, name)
        if self._artifact_stale(key):
            old = self._ivf_frames.pop(key, None)
            self._ivf_cents.pop(key, None)
            if old is not None:
                _unpersist(old)
        cached = self._ivf_frames.get(key)
        cents = self._ivf_cents.get(key)
        if cached is not None and cents is not None:
            return cached, cents
        relation, column = self.current.indexes[name][:2]
        pre_epoch = self.current.head_epoch.get(relation, 0)
        from inputlayer_spark.operators.similarity import ivf_index
        from inputlayer_spark.functions import vector as V

        df = self._resolver(self._derived_for_index(relation))(relation)
        if column not in df.columns:
            return None, None
        cell = next(
            (c for c in df.columns if c.lower() in ("label", "cell")), None
        )
        if cell is None:
            df = df.withColumn(
                "__cell", V.lsh_bucket(F.col(column), 0, self._IVF_CELL_BITS)
            )
            cell = "__cell"
        celled = df.persist()
        celled.count()
        _, cent_list = ivf_index(celled, cell, column)
        self._ivf_frames[key] = celled
        self._ivf_cents[key] = cent_list
        self._stamp_artifact(key, epoch=pre_epoch)
        return celled, cent_list

    def _hnsw_resolver(self, h: HnswNearest, acc: Optional[DataFrame] = None) -> DataFrame:
        from inputlayer_spark.functions import vector as V

        meta = self.current.indexes.get(h.index)
        if meta is None:
            raise CompileError(f"unknown index {h.index}")
        relation, column, metric = meta[:3]
        probes = h.ef_search if h.ef_search else self._DEFAULT_PROBES
        probes = max(1, min(int(probes), 2**self._INDEX_BITS))

        if isinstance(h.query, Var) and not h.query.is_wildcard:
            # bound query variable → k-NN JOIN: candidates via probe-bucket
            # equi-join against the index artifact, exact rerank per query
            # vector, rejoined into the body on the query variable
            if acc is None or h.query.name not in acc.columns:
                raise CompileError(
                    "hnsw_nearest query variable must be bound by the body"
                )
            idx = self._index_frame(h.index)
            qname = h.query.name
            # internal aliases avoid (case-insensitive) collisions between
            # the query variable and corpus column names
            queries = acc.select(F.col(qname).alias("__hq")).distinct()
            if idx is None:
                corpus = self._resolver(self._derived_for_index(relation))(relation)
                cand = corpus.select(
                    F.col(corpus.columns[0]).alias("__hid"),
                    F.col(column).alias("__hv"),
                ).crossJoin(F.broadcast(queries))
            else:
                from inputlayer_spark.operators.similarity import _bucket_col

                slim = idx.select(
                    F.col(idx.columns[0]).alias("__hid"),
                    F.col(column).alias("__hv"),
                    *[_bucket_col(t) for t in range(self._INDEX_TABLES)],
                )
                # per-table probe buckets of each query vector (Arrow batch)
                probe_structs = F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            V.lsh_multi_probe(
                                F.col("__hq"), t, self._INDEX_BITS, probes
                            ).alias("bs"),
                        )
                        for t in range(self._INDEX_TABLES)
                    ]
                )
                qprobes = (
                    queries.withColumn("__ps", F.explode(probe_structs))
                    .withColumn("__b", F.explode(F.col("__ps.bs").cast("array<long>")))
                    .select("__hq", F.col("__ps.t").alias("__t"), F.col("__b"))
                )
                # candidate = corpus row sharing a probed bucket in any table
                cand = None
                for t in range(self._INDEX_TABLES):
                    part = qprobes.filter(F.col("__t") == t).select(
                        "__hq", F.col("__b").alias(_bucket_col(t))
                    )
                    j = slim.join(F.broadcast(part), on=_bucket_col(t), how="inner")
                    j = j.select("__hq", "__hid", "__hv")
                    cand = j if cand is None else cand.unionByName(j)
                cand = cand.dropDuplicates(["__hq", "__hid"])
            from pyspark.sql import Window as _W

            ranked = cand.withColumn(
                "__hd", F.expr(V.distance(metric, "`__hv`", "`__hq`"))
            ).withColumn(
                "__rk",
                F.row_number().over(
                    _W.partitionBy("__hq").orderBy(
                        F.col("__hd").asc(), F.col("__hid").asc()
                    )
                ),
            )
            return ranked.filter(F.col("__rk") <= h.k).select(
                F.col("__hq").alias(qname),
                F.col("__hid").alias(h.id_var.name),
                F.col("__hd").alias(h.dist_var.name),
            )

        if not isinstance(h.query, VecLit):
            raise CompileError(
                "hnsw_nearest query must be a vector literal or bound variable"
            )
        qvals = [float(getattr(v, "value", v)) for v in h.query.values]
        if self._index_kind(h.index) == "ivf":
            # IVF probe: driver-side cell selection against the cached
            # centroid artifact, exact rerank inside the probed cells;
            # ef_search maps to the probe count (cells visited)
            celled, cents = self._ivf_artifacts(h.index)
            if celled is not None:
                from inputlayer_spark.operators.similarity import ivf_knn

                cell = next(
                    c for c in celled.columns
                    if c == "__cell" or c.lower() in ("label", "cell")
                )
                n_probe = max(1, min(int(h.ef_search or 3), len(cents)))
                out = ivf_knn(
                    celled, celled.columns[0], column, qvals, k=h.k,
                    metric=metric, cell_col=cell, n_probe=n_probe, cents=cents,
                )
                return out.select(
                    F.col("id").alias(h.id_var.name),
                    F.col("dist").alias(h.dist_var.name),
                )
            # missing vector column → LSH/exact fallback below
        if self._index_kind(h.index) == "hnsw":
            # exact in-process graph walk (reference hnsw_index.rs:214-223:
            # search_k with ef override); hnsw_nearest's ef_search argument
            # maps straight onto the beam width
            g = self._hnsw_graph(h.index)
            if g is not None:
                hits = g.search(qvals, h.k, ef=(h.ef_search or None))
                if hits:
                    return self.spark.createDataFrame(
                        [(hid, float(d)) for hid, d in hits]
                    ).toDF(h.id_var.name, h.dist_var.name)
            sharded = self._sharded_hnsw.get((self.current.name, h.index))
            if sharded is not None:
                # over-cap corpus: probe the persisted per-shard graphs
                # (build happened at index-create / first touch, NOT here)
                out = sharded.search(
                    self.spark, qvals, k=h.k, ef=(h.ef_search or None)
                )
                return out.select(
                    F.col("id").alias(h.id_var.name),
                    F.col("dist").alias(h.dist_var.name),
                )
            # missing vector column or empty corpus → LSH/exact
        idx = self._index_frame(h.index)
        if idx is not None:
            from inputlayer_spark.operators.similarity import knn_lsh

            out = knn_lsh(
                idx,
                idx.columns[0],
                column,
                qvals,
                k=h.k,
                metric=metric,
                num_bits=self._INDEX_BITS,
                num_tables=self._INDEX_TABLES,
                num_probes=probes,
            )
            return out.select(
                F.col("id").alias(h.id_var.name), F.col("dist").alias(h.dist_var.name)
            )
        # fallback: exact scan (reference's non-indexed resolve path)
        df = self._resolver(self._derived_for_index(relation))(relation)
        id_col = F.col(df.columns[0])
        vec_col = sql_ident(column if column in df.columns else df.columns[1])
        dist = F.expr(V.distance(metric, vec_col, V.vec_literal(qvals)))
        return (
            df.select(id_col.alias(h.id_var.name), dist.alias(h.dist_var.name))
            .orderBy(F.col(h.dist_var.name).asc(), F.col(h.id_var.name).asc())
            .limit(h.k)
        )

    def _derived_for_index(self, relation: str) -> Dict[str, DataFrame]:
        # indexes may target derived relations; materialize only the
        # indexed one and what it depends on
        return self._materialize_for({relation})

    # ------------------------------------------------------------ meta

    def _meta(self, st: MetaCommand) -> Optional[DataFrame]:
        cmd, args = st.command, list(st.args)
        if cmd == "kg":
            if not args:
                return None
            sub = args[0]
            if sub == "create" and len(args) > 1:
                if (
                    args[1] not in self.kgs
                    and self.max_kgs > 0
                    and len(self.kgs) >= self.max_kgs
                ):
                    raise CompileError(
                        f"Cannot create knowledge graph '{args[1]}': "
                        f"max_knowledge_graphs ({self.max_kgs}) reached"
                    )
                self.kgs.setdefault(args[1], KnowledgeGraph(args[1]))
            elif sub == "use" and len(args) > 1:
                if args[1] not in self.kgs and not self.auto_create_kgs:
                    raise CompileError(
                        f"Knowledge graph '{args[1]}' does not exist "
                        "(auto_create_knowledge_graphs is disabled)"
                    )
                # session overlays are per-KG-connection: switching clears
                # them (examples/iql/04_session/02_session_facts.iql).
                # Discard BEFORE reassigning current — the invalidation
                # must bump the epochs of the KG the overlay applied to,
                # or its shared-subplan frames stay stale for a later
                # switch back
                self._discard_session_overlay()
                self.current = self.kgs.setdefault(args[1], KnowledgeGraph(args[1]))
                self._derived_cache.clear()
            elif sub == "drop" and len(args) > 1:
                dropped = self.kgs.pop(args[1], None)
                # drop-time ACL cleanup (reference handler.rs drops the
                # KG's ACL entries after a successful drop): a stale
                # owner/editor entry would silently grant the old user
                # full access to a future re-created KG of the same name
                if dropped is not None and self.auth_store is not None:
                    self.auth_store.kg_acls.pop(args[1], None)
                    self.auth_store.save()
                # reclaim the dropped KG's cached index artifacts — in a
                # long-lived server session these otherwise pin executor
                # storage (persisted frames) and driver memory (graphs,
                # centroids) for a namespace that no longer exists
                for cache in (self._index_frames, self._ivf_frames):
                    for key in [k for k in cache if k[0] == args[1]]:
                        _unpersist(cache[key])
                        cache.pop(key, None)
                # shared-subplan frames are epoch-stamped, but a re-created
                # KG of the same name starts its epochs back at 0 — drop
                # them with the namespace so a stale frame can't match
                for key in [k for k in self._shared_frames if k[0] == args[1]]:
                    _unpersist(self._shared_frames[key][0])
                    self._shared_frames.pop(key, None)
                for cache in (self._hnsw_graphs, self._ivf_cents, self._adjacency):
                    for key in [k for k in cache if k[0] == args[1]]:
                        cache.pop(key, None)
                for key in [k for k in self._sharded_hnsw if k[0] == args[1]]:
                    self._drop_sharded_hnsw(key)
                if self.current.name == args[1]:
                    self.current = self.kgs.setdefault("default", KnowledgeGraph("default"))
                    # dropping the current KG is a namespace switch like
                    # `kg use`: stale derivations and session overlays from
                    # the dropped KG must not leak into the new current KG.
                    # Plain clears suffice here — the overlays applied to
                    # the dropped namespace, whose shared frames were just
                    # unpersisted above
                    self.session_rules.clear()
                    self.session_facts.clear()
                    self._derived_cache.clear()
            elif sub in ("list", "show"):
                rows = [(name, name == self.current.name) for name in sorted(self.kgs)]
                return self.spark.createDataFrame(rows, schema="name string, current boolean")
            elif sub == "acl":
                # .kg acl grant <kg> <user> <role> | revoke <kg> <user>
                # | list <kg> — per-KG ACLs (reference auth.rs:141-324 +
                # handler.rs:1695-1810). Entries live in the server's
                # AuthStore; without one the commands are meaningless.
                if self.auth_store is None:
                    raise CompileError(
                        "ACL error: no auth store configured on this engine"
                    )
                op = args[1] if len(args) > 1 else ""
                if op == "grant" and len(args) > 4:
                    if args[2] not in self.kgs:
                        raise CompileError(
                            f"Knowledge graph '{args[2]}' not found"
                        )
                    try:
                        self.auth_store.grant_kg(args[2], args[3], args[4])
                    except ValueError as exc:
                        raise CompileError(str(exc)) from None
                elif op == "revoke" and len(args) > 3:
                    self.auth_store.revoke_kg(args[2], args[3])
                elif op == "list" and len(args) > 2:
                    rows = self.auth_store.kg_acl_list(args[2])
                    return self.spark.createDataFrame(
                        rows, schema="username string, kg_role string"
                    )
                else:
                    raise CompileError(
                        "ACL error: usage .kg acl grant <kg> <user> <role> "
                        "| revoke <kg> <user> | list <kg>"
                    )
        elif cmd == "user":
            # .user list | create <u> <p> <role> | drop <u> |
            # password <u> <p> | role <u> <role> — reference
            # src/statement/meta.rs:747-796 parsed surface routed to the
            # AuthStore (reference handler.rs:1275-1546 semantics: list
            # never shows hashes, 'admin' cannot be dropped or demoted,
            # drop cascades API keys + KG ACLs). Admin-gated by layer-1
            # authorize() on the server path.
            if self.auth_store is None:
                raise CompileError(
                    "User error: no auth store configured on this engine"
                )
            usage = (
                "Usage: .user list | .user create <username> <password> "
                "<role> | .user drop <username> | .user password "
                "<username> <password> | .user role <username> <role>"
            )
            sub = args[0] if args else ""
            try:
                if sub == "list":
                    rows = self.auth_store.list_users()
                    return self.spark.createDataFrame(
                        rows, schema="username string, role string"
                    )
                elif sub == "create" and len(args) > 3:
                    if args[1] in self.auth_store.users:
                        raise ValueError(f"User '{args[1]}' already exists")
                    self.auth_store.add_user(args[1], args[2], role=args[3])
                elif sub == "drop" and len(args) > 1:
                    self.auth_store.drop_user(args[1])
                elif sub == "password" and len(args) > 2:
                    self.auth_store.set_password(args[1], args[2])
                elif sub == "role" and len(args) > 2:
                    self.auth_store.set_role(args[1], args[2])
                else:
                    raise CompileError(f"User error: {usage}")
            except ValueError as exc:
                raise CompileError(f"User error: {exc}") from None
        elif cmd == "apikey":
            # .apikey list | create <label> | revoke <label> — reference
            # meta.rs:799-816 + handler.rs:1549-1704: labels are unique,
            # create returns (label, api_key) with the plaintext shown
            # exactly once, list shows (label, owner) and never the hash.
            if self.auth_store is None:
                raise CompileError(
                    "ApiKey error: no auth store configured on this engine"
                )
            sub = args[0] if args else ""
            try:
                if sub == "list":
                    rows = self.auth_store.list_api_keys()
                    return self.spark.createDataFrame(
                        rows, schema="label string, owner string"
                    )
                elif sub == "create" and len(args) > 1:
                    # key owner = the authenticated caller (the server
                    # sets auth_identity before execute); "admin" when
                    # unauthenticated (handler.rs:4433-4436)
                    owner = getattr(
                        getattr(self, "auth_identity", None), "username", "admin"
                    )
                    key = self.auth_store.create_labeled_key(args[1], owner)
                    return self.spark.createDataFrame(
                        [(args[1], key)], schema="label string, api_key string"
                    )
                elif sub == "revoke" and len(args) > 1:
                    self.auth_store.revoke_key_by_label(args[1])
                else:
                    raise CompileError(
                        "ApiKey error: Usage: .apikey list | .apikey create "
                        "<label> | .apikey revoke <label>"
                    )
            except ValueError as exc:
                raise CompileError(f"ApiKey error: {exc}") from None
        elif cmd == "rel":
            # reference shorthands (statement/meta.rs): bare `.rel` lists,
            # `.rel <name>` describes — normalize both onto the explicit
            # subcommand forms
            if not args:
                args = ["list"]
            elif args[0] not in ("list", "describe", "drop") and len(args) == 1:
                args = ["describe", args[0]]
            if args and args[0] == "list":
                rows = []
                derived_heads = {r.head.relation for r in self._all_rules()}
                for name, df in sorted(self.current.relations.items()):
                    rows.append((name, len(df.columns), "base"))
                for name in sorted(derived_heads):
                    arity = len(
                        next(
                            r for r in self._all_rules() if r.head.relation == name
                        ).head.terms
                    )
                    rows.append((name, arity, "derived"))
                return self.spark.createDataFrame(
                    rows or [("", 0, "")], schema="name string, arity int, kind string"
                ).filter(F.col("name") != "")
            if args and args[0] == "describe" and len(args) > 1:
                df = self.current.relations.get(args[1])
                if df is None:
                    # reference prints a message, not an error
                    # (33_meta/14_rel_nonexistent_error golden:
                    # "Relation 'x' not found.")
                    return self.spark.createDataFrame(
                        [(f"Relation '{args[1]}' not found.",)],
                        schema="message string",
                    )
                rows = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
                return self.spark.createDataFrame(rows, schema="column string, type string")
            if args and args[0] == "drop" and len(args) > 1:
                self._delete(Delete(args[1], drop=True))
            if args and args[0] == "schema" and len(args) >= 2:
                # `.rel schema r (c: type, ...)` (docs/iql.md) — the
                # meta spelling of the `+r(c: type, ...)` declaration.
                # This used to fall through every branch as a SILENT
                # no-op; route it through the same SchemaDecl path.
                # `>= 2` (not `> 2`): the no-space spelling
                # `.rel schema cat(sku: string)` arrives as a single
                # token after the subcommand.
                from inputlayer_spark.ast_nodes import SchemaDecl

                decl_text = "+" + " ".join(args[1:])
                decl = parse_program(decl_text).statements[0]
                if not isinstance(decl, SchemaDecl):
                    raise CompileError(
                        f"invalid .rel schema declaration: {decl_text}"
                    )
                self._declare_schema(decl)
        elif cmd == "rule":
            from inputlayer_spark.printer import rule_to_iql

            if args and args[0] == "list":
                rows = [
                    (r.head.relation, rule_to_iql(r), r.persistent)
                    for r in self._all_rules()
                ]
                return self.spark.createDataFrame(
                    rows or [("", "", False)],
                    schema="name string, definition string, persistent boolean",
                ).filter(F.col("name") != "")
            if args and args[0] == "edit":
                # "Rule editing is not supported in server mode." —
                # informational no-op, not an error (17_rule_commands/08)
                return None
            if args and args[0] == "remove" and len(args) > 2:
                # `.rule remove <name> <n>` deletes the n-th (1-based)
                # clause of a multi-clause rule (reference
                # src/statement/meta.rs; golden
                # 14_aggregations/132_rule_remove_clause_with_agg.iql).
                # Nonexistent rule / out-of-bounds index are errors
                # (17_rule_commands/14,15: "Error: Failed to remove rule
                # clause: ...").
                name, idx = args[1], int(args[2])
                total = sum(
                    1 for r in self._all_rules() if r.head.relation == name
                )
                if total == 0:
                    raise CompileError(
                        f"Error: Failed to remove rule clause: Rule "
                        f"'{name}' does not exist"
                    )
                if idx < 1 or idx > total:
                    raise CompileError(
                        f"Error: Failed to remove rule clause: Clause "
                        f"index {idx} out of bounds. Rule '{name}' has "
                        f"{total} clause(s)."
                    )
                seen = 0
                for rules in (self.current.rules, self.session_rules):
                    kept = []
                    for r in rules:
                        if r.head.relation == name:
                            seen += 1
                            if seen == idx:
                                continue
                        kept.append(r)
                    rules[:] = kept
                self._derived_cache.clear()
                return None
            if args and args[0] == "drop" and len(args) > 2 and args[1] == "prefix":
                # `.rule drop prefix <p>` drops every rule whose head
                # starts with <p> (17_rule_commands/30-32)
                p = args[2]
                self.current.rules = [
                    r for r in self.current.rules if not r.head.relation.startswith(p)
                ]
                self.session_rules = [
                    r for r in self.session_rules if not r.head.relation.startswith(p)
                ]
                self._derived_cache.clear()
                return None
            if args and args[0] in ("def", "drop", "clear") and len(args) > 1:
                name = args[1]
                if args[0] in ("drop", "clear"):
                    # `.rule clear <name>` empties the rule's clause list;
                    # for query purposes that is identical to drop
                    # (unknown relations resolve empty) —
                    # 17_rule_commands/07_rule_clear.iql
                    self.current.rules = [
                        r for r in self.current.rules if r.head.relation != name
                    ]
                    self.session_rules = [
                        r for r in self.session_rules if r.head.relation != name
                    ]
                    self._derived_cache.clear()
                    return None
                rows = [
                    (rule_to_iql(r),)
                    for r in self._all_rules()
                    if r.head.relation == name
                ]
                return self.spark.createDataFrame(
                    rows or [("",)], schema="definition string"
                ).filter(F.col("definition") != "")
        elif cmd == "status":
            rows = [
                ("kg", self.current.name),
                ("relations", str(len(self.current.relations))),
                ("persistent_rules", str(len(self.current.rules))),
                ("session_rules", str(len(self.session_rules))),
                ("indexes", str(len(self.current.indexes))),
                # optimizer / limit knobs (config-bound engine state)
                ("magic_sets", str(self.enable_magic_sets).lower()),
                ("subplan_sharing", str(self.enable_subplan_sharing).lower()),
                ("shared_views", str(len(self._shared_frames))),
                ("max_query_cost", str(self.max_query_cost)),
                ("persist_format", self.persist_format),
                ("durable", str(bool(self.wal_dir)).lower()),
            ]
            return self.spark.createDataFrame(rows, schema="key string, value string")
        elif cmd == "debug":
            if args:
                return self.debug(args[0])
        elif cmd == "load":
            if args:
                raw = args[0]
                replace = "--replace" in raw
                path = raw.replace("--replace", "").replace("--merge", "").strip().strip('"')
                self.load_script(path, replace=replace)
        elif cmd in ("why", "why_not"):
            if not args or not args[0].strip():
                # bare `.why` / `.why_not` are usage parse errors
                # (examples/iql/36_explain_trace/20_why_error_cases.iql)
                usage = (
                    "Usage: .why <query>"
                    if cmd == "why"
                    else "Usage: .why_not <relation>(<values>)"
                )
                raise ParseError(usage)
            from inputlayer_spark.provenance import explain_goal

            goal_text = args[0]
            # `.why full <goal>`: full proof tree (we always recurse to
            # the depth cap; `full` is accepted for surface parity)
            if goal_text.startswith("full "):
                goal_text = goal_text[len("full ") :]
            if cmd == "why" and goal_text.lstrip().startswith("?"):
                # `.why ?query` runs the query and prints its plain result
                # table — the reference only builds proof trees for ground
                # goals (examples/iql/36_explain_trace/01..08,21..23 all
                # show ordinary result tables for the ? form)
                return self._query(parse_program(goal_text).statements[0])
            rows = explain_goal(self, goal_text, why_not=(cmd == "why_not"))
            return self.spark.createDataFrame(
                rows, schema="depth int, conclusion string, via string"
            )
        elif cmd == "index":
            if args and args[0] == "create":
                # .index create <name> on <rel> ( <col> ) [type t] [metric m]
                # (reference syntax: `.index create emb_idx on
                # embeddings(col2) type hnsw metric cosine`)
                name = args[1]
                rel = args[3] if args[2] == "on" else args[2]
                col = None
                metric = "cosine"
                # default stays the distributed LSH artifact (Spark-first:
                # candidates via equi-join, no driver state); `type hnsw`
                # opts into the reference's exact in-process graph
                kind = "lsh"
                # HNSW graph parameters (reference index syntax,
                # packages/inputlayer-py index.py: `... type hnsw metric m
                # <m> ef_construction <c> ef_search <s>`)
                params = {}
                for j, a in enumerate(args):
                    if a == "(" and j + 1 < len(args):
                        col = args[j + 1]
                    if a == "metric" and j + 1 < len(args):
                        metric = args[j + 1]
                    if a == "type" and j + 1 < len(args):
                        kind = args[j + 1]
                    if a in ("m", "ef_construction", "ef_search") and j + 1 < len(args):
                        try:
                            params[a] = int(args[j + 1])
                        except ValueError:
                            pass
                if rel not in self.current.schemas:
                    # the reference requires a registered schema before an
                    # index can be created (handler "Index error: No schema
                    # found", 33_meta/15_index_operations.iql)
                    raise CompileError(
                        f"Index error: No schema found for relation "
                        f"'{rel}'. Register a schema first."
                    )
                self.create_index(
                    name, rel, col or "", metric, kind=kind, params=params
                )
            elif args and args[0] == "drop" and len(args) > 1:
                if args[1] not in self.current.indexes:
                    raise CompileError(
                        f"Index error: Index '{args[1]}' not found "
                        f"(no incremental engine)"
                    )
                self.current.indexes.pop(args[1], None)
                self._index_frames.pop((self.current.name, args[1]), None)
                self._hnsw_graphs.pop((self.current.name, args[1]), None)
                self._drop_sharded_hnsw((self.current.name, args[1]))
                self._ivf_frames.pop((self.current.name, args[1]), None)
                self._ivf_cents.pop((self.current.name, args[1]), None)
            elif args and args[0] == "list":
                rows = [
                    (name, meta[0], meta[1], meta[2])
                    for name, meta in sorted(self.current.indexes.items())
                ]
                return self.spark.createDataFrame(
                    rows or [("", "", "", "")],
                    schema="name string, relation string, column string, metric string",
                ).filter(F.col("name") != "")
            elif args and args[0] == "stats" and len(args) > 1:
                meta = self.current.indexes.get(args[1])
                if meta is None:
                    raise CompileError(
                        f"Index error: Index '{args[1]}' not found "
                        f"(no incremental engine)"
                    )
                rel, col, metric = meta[:3]
                kind = meta[3] if len(meta) > 3 else "lsh"
                n = self._named_df(rel).count()
                if kind == "hnsw":
                    g = self._hnsw_graphs.get((self.current.name, args[1]))
                    sh = self._sharded_hnsw.get((self.current.name, args[1]))
                    if sh is not None:
                        # over-cap corpus: executor-side per-shard graphs
                        kind_desc = (
                            "hnsw sharded ({} shards, m={}, ef_search={}, "
                            "materialized)".format(
                                sh.meta["num_shards"], sh.meta["m"],
                                sh.meta["ef_search"],
                            )
                        )
                    else:
                        kind_desc = "hnsw graph (m={}, ef_search={}{})".format(
                            g.m if g is not None else 16,
                            g.ef_search if g is not None else 50,
                            f", materialized, {len(g.tombstones)} tombstones"
                            if g is not None
                            else ", lazy",
                        )
                elif kind == "ivf":
                    cents = self._ivf_cents.get((self.current.name, args[1]))
                    kind_desc = "ivf cells ({})".format(
                        f"{len(cents)} centroids, materialized"
                        if cents is not None
                        else "lazy"
                    )
                else:
                    kind_desc = "lsh-bucket artifact ({}x{} tables/bits{})".format(
                        self._INDEX_TABLES,
                        self._INDEX_BITS,
                        ", materialized"
                        if (self.current.name, args[1]) in self._index_frames
                        else ", lazy",
                    )
                rows = [
                    ("relation", rel),
                    ("column", col),
                    ("metric", metric),
                    ("rows", str(n)),
                    ("kind", kind_desc),
                ]
                return self.spark.createDataFrame(rows, schema="key string, value string")
            elif args and args[0] == "rebuild":
                # drop and rebuild the materialized bucket artifact (the
                # reference rebuilds HNSW graphs here, handler.rs:2008)
                if len(args) > 1 and args[1] in self.current.indexes:
                    old = self._index_frames.pop((self.current.name, args[1]), None)
                    if old is not None:
                        _unpersist(old)
                    self._hnsw_graphs.pop((self.current.name, args[1]), None)
                    old_ivf = self._ivf_frames.pop((self.current.name, args[1]), None)
                    if old_ivf is not None:
                        _unpersist(old_ivf)
                    self._ivf_cents.pop((self.current.name, args[1]), None)
                    kind = self._index_kind(args[1])
                    if kind == "hnsw":
                        self._hnsw_graph(args[1])
                    elif kind == "ivf":
                        self._ivf_artifacts(args[1])
                    else:
                        self._index_frame(args[1])
        elif cmd == "session":
            if args and args[0] == "clear":
                self._discard_session_overlay()
            elif args and args[0] == "drop" and len(args) > 1:
                # `.session drop <n>` removes the n-th session rule
                # (1-based); out-of-bounds is a no-op message, index < 1
                # is an error (33_meta/06,08,09). `.session drop <name>`
                # removes every session rule for that head
                # (04_session/26_session_drop_by_name.iql).
                tgt = args[1]
                if tgt.lstrip("-").isdigit():
                    idx = int(tgt)
                    if idx < 1:
                        raise CompileError(
                            "Parse error: Index must be 1 or greater "
                            "(1-based indexing)"
                        )
                    if idx <= len(self.session_rules):
                        gone = self.session_rules.pop(idx - 1)
                        self._derived_cache.clear()
                        self._invalidate(gone.head.relation)
                else:
                    self.session_rules = [
                        r for r in self.session_rules if r.head.relation != tgt
                    ]
                    self.session_facts.pop(tgt, None)
                    self._derived_cache.clear()
                    self._invalidate(tgt)
            elif args and args[0] == "list":
                from inputlayer_spark.printer import rule_to_iql

                rows = [("rule", rule_to_iql(r)) for r in self.session_rules]
                rows += [
                    ("fact", f"{rel}{tuple(v)}")
                    for rel, vals in self.session_facts.items()
                    for v in vals
                ]
                return self.spark.createDataFrame(
                    rows or [("", "")], schema="kind string, item string"
                ).filter(F.col("kind") != "")
        elif cmd == "clear":
            if args and args[0] == "prefix":
                # `.clear prefix p_` empties every stored relation whose
                # name starts with the prefix (reference
                # protocol/handler.rs:3348-3372 — facts removed, relation
                # kept, so later queries print "No results")
                prefix = args[1] if len(args) > 1 else ""
                for name in sorted(self.current.relations):
                    if name.startswith(prefix):
                        df = self.current.relations[name]
                        self.current.relations[name] = df.limit(0)
                        self._invalidate(name)
                for name in list(self.session_facts):
                    if name.startswith(prefix):
                        self.session_facts.pop(name, None)
                        self._invalidate(name)
            else:
                self._discard_session_overlay()
        elif cmd == "compact":
            # snapshot + truncate the statement log (reference WAL
            # compaction, src/storage/persist/wal.rs); no-op without a
            # wal_dir
            self.checkpoint()
        elif cmd == "agent":
            return self._agent_command(args[0] if args else "")
        return None

    # ------------------------------------------------------------ agent

    def _agent_command(self, raw: str) -> DataFrame:
        """`.agent ...` — the teaching-agent surface (reference
        src/protocol/handler.rs:2250-2345): scripted lessons are served
        deterministically; free-form messages go to the pluggable LLM
        provider in `agent.AgentManager` (canned reply when none is
        configured). Result rows mirror the reference wire shape: the
        response text, then `suggested_query:<iql>` and `done:true`
        marker rows, all in one string column `agent_response`
        (`setup` for `.agent setup <id>`)."""
        from inputlayer_spark import agent as agent_mod

        if getattr(self, "_agent_manager", None) is None:
            self._agent_manager = agent_mod.AgentManager(
                agent_mod.AgentConfig(
                    # [agent] llm_url / llm_version config binding
                    # (None -> AgentLLMConfig defaults inside call_claude)
                    llm_url=getattr(self, "agent_llm_url", None),
                    llm_version=getattr(self, "agent_llm_version", None),
                )
            )
        raw = raw.strip()
        if raw.startswith("setup "):
            script = agent_mod.setup_iql(raw[len("setup "):].strip())
            return self.spark.createDataFrame(
                [(script,)], schema="setup string"
            )
        # KG context (graph name + relation schemas/counts + rule names,
        # handler.rs:2285-2313) is only consumed by the LLM path — skip
        # the per-relation counts for the deterministic subcommands.
        kg_context = ""
        if raw not in ("", "examples", "next") and not raw.startswith("start "):
            lines = [f"Knowledge graph: {self.current.name}"]
            rels = sorted(self.current.relations.items())
            if rels:
                lines.append("Relations:")
                for name, df in rels[:50]:
                    cols = ", ".join(
                        f"{f.name}: {f.dataType.simpleString()}"
                        for f in df.schema.fields
                    )
                    lines.append(f"  {name}({cols}) - {df.count()} tuples")
            rule_names = sorted({r.head.relation for r in self._all_rules()})
            if rule_names:
                lines.append("Rules: " + ", ".join(rule_names))
            kg_context = "\n".join(lines)
        resp = self._agent_manager.agent_query("default", raw, kg_context)
        rows = [(resp.content,)]
        if resp.suggested_query is not None:
            rows.append((f"suggested_query:{resp.suggested_query}",))
        if resp.done:
            rows.append(("done:true",))
        return self.spark.createDataFrame(rows, schema="agent_response string")

    # ------------------------------------------------------------ debug

    def debug(self, query_text: str) -> DataFrame:
        """`.debug <query>` — compile without executing and return the
        optimized/physical plan (reference: pipeline trace,
        src/pipeline_trace.rs; ours shows Catalyst's plan instead)."""
        prog = parse_program(query_text)
        q = next((s for s in prog.statements if isinstance(s, Query)), None)
        if q is None:
            raise CompileError(".debug expects a query statement")
        df = self._query(q)
        explain_mode = self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(explain_mode)
        rows = [(i, line) for i, line in enumerate(plan.split("\n"))]
        return self.spark.createDataFrame(rows, schema="line int, plan string")


def _const_match(columns, terms):
    """One filter matching every non-variable term against its column
    (`c0 = 1 AND c2 = 'x'`), or None when all terms are variables."""
    conds = [
        f"{sql_ident(c)} = {term_to_sql(t, set())}"
        for c, t in zip(columns, terms)
        if not isinstance(t, Var)
    ]
    return F.expr(" AND ".join(conds)) if conds else None


def _result_names(goal: Atom) -> List[str]:
    names = []
    used = set()
    for i, t in enumerate(goal.terms):
        from inputlayer_spark.ast_nodes import Agg

        if isinstance(t, Agg):
            # ranking aggregates expand to two columns
            if t.is_ranking:
                names.extend([f"v{i}", f"s{i}"])
            else:
                names.append(f"agg{i}")
        elif isinstance(t, Var) and not t.is_wildcard and t.name not in used:
            used.add(t.name)
            names.append(t.name)
        else:
            names.append(f"col{i}")
    return names


def _type_of_value(v) -> Optional[T.DataType]:
    if v is None:
        return None
    if isinstance(v, bool):
        return T.BooleanType()
    if isinstance(v, int):
        return T.LongType()
    if isinstance(v, float):
        return T.DoubleType()
    if isinstance(v, str):
        return T.StringType()
    if isinstance(v, list):
        return T.ArrayType(T.FloatType())
    raise CompileError(f"cannot infer type for {v!r}")


def _infer_schema(rows: List[tuple]) -> T.StructType:
    """Column types from ALL rows: int widens to double when any row holds
    a float in that position (dynamic typing; golden
    11_types/18_mixed_numeric_types.iql), nulls defer to the first typed
    value (StringType if the column is all-null)."""
    arity = len(rows[0])
    fields = []
    for i in range(arity):
        t: Optional[T.DataType] = None
        for row in rows:
            vt = _type_of_value(row[i])
            if vt is None:
                continue
            if t is None or t == vt:
                t = vt
            elif {type(t), type(vt)} == {T.LongType, T.DoubleType}:
                t = T.DoubleType()
            # else keep first type; createDataFrame surfaces real conflicts
        fields.append(T.StructField(f"c{i}", t or T.StringType(), True))
    return T.StructType(fields)


def _widen_schema(existing: T.StructType, new: T.StructType) -> T.StructType:
    """Merge an existing relation schema with a new batch's inferred
    schema: int vs double in the same position widens to double; otherwise
    the existing type wins (insert-time validation then applies)."""
    if len(existing.fields) != len(new.fields):
        return existing
    fields = []
    for ef, nf in zip(existing.fields, new.fields):
        dt = ef.dataType
        if {type(ef.dataType), type(nf.dataType)} == {T.LongType, T.DoubleType}:
            dt = T.DoubleType()
        fields.append(T.StructField(ef.name, dt, True))
    return T.StructType(fields)


def _row_matches_schema(row: tuple, schema: T.StructType) -> bool:
    """Strict value/type check against a DECLARED schema (nulls pass;
    int→float widening is the only coercion, reference storage rejects
    everything else — golden 12_errors/29_type_mismatch_error.iql)."""
    if len(row) != len(schema.fields):
        return False
    for v, f in zip(row, schema.fields):
        if v is None:
            continue
        dt = f.dataType
        if isinstance(dt, (T.LongType, T.IntegerType)):
            if not isinstance(v, int) or isinstance(v, bool):
                return False
        elif isinstance(dt, (T.DoubleType, T.FloatType)):
            if not isinstance(v, (int, float)) or isinstance(v, bool):
                return False
        elif isinstance(dt, T.StringType):
            if not isinstance(v, str):
                return False
        elif isinstance(dt, T.BooleanType):
            if not isinstance(v, bool):
                return False
        elif isinstance(dt, T.ArrayType):
            if not isinstance(v, (list, tuple)):
                return False
    return True


def _coerce_row(row: tuple, schema: T.StructType):
    out = []
    for v, f in zip(row, schema.fields):
        if isinstance(v, int) and not isinstance(v, bool) and isinstance(
            f.dataType, T.DoubleType
        ):
            v = float(v)
        out.append(v)
    return tuple(out)
