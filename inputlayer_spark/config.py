"""Hierarchical configuration (reference: src/config.rs — figment
layering of config.toml → config.local.toml → INPUTLAYER_* env vars
with `__` section nesting, serde deny_unknown_fields validation).

Python mirror over stdlib `tomllib`. Only knobs with a real binding in
this engine are kept — each field's comment says what it drives; the
reference's Rust-runtime-only tuning (bincode format, async-io flags,
DD persist shard internals) is intentionally absent rather than
silently ignored, and unknown keys REJECT like the reference.

Load order (later wins):
1. built-in defaults
2. ``config.toml`` in the given directory
3. ``config.local.toml`` (git-ignored local overrides)
4. environment: ``INPUTLAYER_STORAGE__DATA_DIR=/x`` →
   ``storage.data_dir`` (case-insensitive, `__` splits sections)
"""

from __future__ import annotations

import dataclasses
import os
import tomllib
from dataclasses import dataclass, field
from typing import Optional


class ConfigError(ValueError):
    pass


@dataclass
class PersistenceConfig:
    # snapshot format for save_kg / `.compact` generations
    format: str = "parquet"  # parquet|csv|json|orc
    compression: str = "snappy"  # parquet codec (engine.persist_compression)
    auto_save_interval: int = 0  # server: secs between checkpoint()s; 0=manual
    enable_wal: bool = True  # False: entrypoints skip wal_dir (no durability)


@dataclass
class StorageConfig:
    data_dir: str = "data"  # engine wal_dir (WAL + snapshots + shards)
    default_knowledge_graph: str = "default"  # created+used at startup
    auto_create_knowledge_graphs: bool = False  # False: `.kg use` missing errors
    max_knowledge_graphs: int = 100  # `.kg create` cap (engine.max_kgs); 0=∞
    persistence: PersistenceConfig = field(default_factory=PersistenceConfig)


@dataclass
class OptimizationConfig:
    # bound recursive queries rewrite to seeded frontier evaluation
    # (engine.enable_magic_sets; off = full fixpoint + filter)
    enable_magic_sets: bool = True
    # greedy left-deep body join ordering (compiler.JOIN_PLANNING_ENABLED;
    # off = literal body order, cross products included)
    enable_join_planning: bool = True
    # hoist join pairs shared by ≥2 rules into persisted shared views
    # (engine.enable_subplan_sharing; reference src/subplan_sharing/)
    enable_subplan_sharing: bool = True


@dataclass
class LoggingConfig:
    level: str = "warn"  # spark log level: error|warn|info|debug
    format: str = "text"  # text | json (server startup/log lines)


@dataclass
class PerformanceConfig:
    num_threads: int = 0  # local[N] cores; 0 = SPARK_GRAFT_CPUS / all
    shuffle_partitions: int = 0  # spark.sql.shuffle.partitions; 0 = default
    # REPL row window; 0 = unlimited. The server ignores it and caps
    # every reply at server.MAX_WIRE_ROWS
    max_result_rows: int = 0
    # server watchdog for read-only programs (/query and WebSocket
    # `query`): the request's Spark job tag is cancelled at the deadline,
    # REST answers 408 and WebSocket an error frame with code 408
    # (QueryServer.query_timeout_ms). 0 = no timeout
    query_timeout_ms: int = 0
    # reject queries whose structural cost estimate exceeds this
    # (engine.max_query_cost; reference lib.rs:1604 check #47). 0 = off
    max_query_cost: int = 0


@dataclass
class AuthConfig:
    credentials_file: Optional[str] = None  # AuthStore JSON path
    bootstrap_admin_password: Optional[str] = None
    # idle session-engine eviction window on the server; 0 = keep forever
    session_timeout_secs: int = 86400


@dataclass
class HttpConfig:
    enabled: bool = True
    host: str = "127.0.0.1"
    port: int = 8080
    auth: AuthConfig = field(default_factory=AuthConfig)


@dataclass
class AgentLLMConfig:
    """`.agent` LLM backend (reference src/agent/claude.rs:36-38 — the
    public Anthropic Messages API endpoint and version header live in
    config so deployments can point at a proxy or a compatible API)."""

    llm_url: str = "https://api.anthropic.com/v1/messages"
    llm_version: str = "2023-06-01"  # anthropic-version request header


@dataclass
class Config:
    storage: StorageConfig = field(default_factory=StorageConfig)
    optimization: OptimizationConfig = field(default_factory=OptimizationConfig)
    logging: LoggingConfig = field(default_factory=LoggingConfig)
    http: HttpConfig = field(default_factory=HttpConfig)
    performance: PerformanceConfig = field(default_factory=PerformanceConfig)
    agent: AgentLLMConfig = field(default_factory=AgentLLMConfig)

    # ------------------------------------------------------------ load

    @classmethod
    def load(cls, config_dir: str = ".", env: Optional[dict] = None) -> "Config":
        """Defaults ← config.toml ← config.local.toml ← INPUTLAYER_* env
        (reference Config::load, config.rs:503-516)."""
        cfg = cls()
        for name in ("config.toml", "config.local.toml"):
            path = os.path.join(config_dir, name)
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    _merge_mapping(cfg, tomllib.load(fh), source=name)
        _merge_env(cfg, os.environ if env is None else env)
        return cfg

    @classmethod
    def from_file(cls, path: str, env: Optional[dict] = None) -> "Config":
        cfg = cls()
        with open(path, "rb") as fh:
            _merge_mapping(cfg, tomllib.load(fh), source=path)
        _merge_env(cfg, os.environ if env is None else env)
        return cfg


def _coerce(value, target_type, dotted: str):
    """Coerce a TOML/env value to the dataclass field type; reject
    mismatches loudly (serde-style) instead of propagating surprises."""
    if target_type is bool:
        if isinstance(value, bool):
            return value
        if isinstance(value, str) and value.lower() in ("true", "false", "1", "0"):
            return value.lower() in ("true", "1")
        raise ConfigError(f"{dotted}: expected bool, got {value!r}")
    if target_type is int:
        if isinstance(value, bool):
            raise ConfigError(f"{dotted}: expected int, got bool")
        try:
            return int(value)
        except (TypeError, ValueError):
            raise ConfigError(f"{dotted}: expected int, got {value!r}") from None
    if target_type is str or target_type == Optional[str]:
        if isinstance(value, (str, int, float)) and not isinstance(value, bool):
            return str(value)
        raise ConfigError(f"{dotted}: expected string, got {value!r}")
    raise ConfigError(f"{dotted}: unsupported field type {target_type}")


def _merge_mapping(obj, mapping: dict, source: str, prefix: str = "") -> None:
    """Apply a nested dict onto the dataclass tree; unknown keys are an
    error (reference serde deny_unknown_fields)."""
    fields = {f.name: f for f in dataclasses.fields(obj)}
    for key, value in mapping.items():
        dotted = f"{prefix}{key}"
        f = fields.get(key)
        if f is None:
            raise ConfigError(f"{source}: unknown config key '{dotted}'")
        current = getattr(obj, key)
        if dataclasses.is_dataclass(current):
            if not isinstance(value, dict):
                raise ConfigError(f"{source}: '{dotted}' must be a table")
            _merge_mapping(current, value, source, prefix=f"{dotted}.")
        else:
            setattr(obj, key, _coerce(value, _field_type(obj, f), dotted))


def _field_type(obj, f):
    # dataclass field types arrive as strings under `from __future__
    # annotations`; resolve the handful we use
    t = f.type
    if not isinstance(t, str):
        return t
    return {
        "str": str,
        "int": int,
        "bool": bool,
        "Optional[str]": Optional[str],
    }.get(t, t)


def _merge_env(cfg: Config, env) -> None:
    """INPUTLAYER_SECTION__KEY=value (case-insensitive, `__` nests) —
    reference Env::prefixed("INPUTLAYER_").split("__")."""
    for name, raw in env.items():
        if not name.startswith("INPUTLAYER_"):
            continue
        path = name[len("INPUTLAYER_"):].lower().split("__")
        obj = cfg
        ok = True
        for part in path[:-1]:
            if not hasattr(obj, part) or not dataclasses.is_dataclass(
                getattr(obj, part)
            ):
                ok = False
                break
            obj = getattr(obj, part)
        if not ok or not hasattr(obj, path[-1]):
            raise ConfigError(f"unknown config key from env var {name}")
        f = next(x for x in dataclasses.fields(obj) if x.name == path[-1])
        setattr(
            obj, path[-1], _coerce(raw, _field_type(obj, f), ".".join(path))
        )
