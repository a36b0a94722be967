"""Config-system tests (reference src/config.rs semantics: layered
toml + local overrides + INPUTLAYER_* env with `__` nesting,
deny-unknown-fields, type validation)."""

import json
import urllib.error
import urllib.request

import pytest

from inputlayer_spark.config import Config, ConfigError


def test_defaults():
    cfg = Config.load(config_dir="/nonexistent", env={})
    assert cfg.storage.data_dir == "data"
    assert cfg.storage.persistence.format == "parquet"
    assert cfg.http.port == 8080
    assert cfg.optimization.enable_magic_sets is True


def test_toml_then_local_override(tmp_path):
    (tmp_path / "config.toml").write_text(
        '[storage]\ndata_dir = "/var/kg"\n'
        '[storage.persistence]\nformat = "csv"\ncompression = "gzip"\n'
        "[http]\nport = 9000\n"
    )
    (tmp_path / "config.local.toml").write_text("[http]\nport = 9001\n")
    cfg = Config.load(config_dir=str(tmp_path), env={})
    assert cfg.storage.data_dir == "/var/kg"
    assert cfg.storage.persistence.format == "csv"
    assert cfg.http.port == 9001  # local file wins over config.toml


def test_env_overrides_files(tmp_path):
    (tmp_path / "config.toml").write_text('[storage]\ndata_dir = "/from/toml"\n')
    cfg = Config.load(
        config_dir=str(tmp_path),
        env={
            "INPUTLAYER_STORAGE__DATA_DIR": "/from/env",
            "INPUTLAYER_STORAGE__PERSISTENCE__FORMAT": "json",
            "INPUTLAYER_HTTP__AUTH__SESSION_TIMEOUT_SECS": "60",
            "INPUTLAYER_HTTP__ENABLED": "false",
            "UNRELATED_VAR": "ignored",
        },
    )
    assert cfg.storage.data_dir == "/from/env"
    assert cfg.storage.persistence.format == "json"
    assert cfg.http.auth.session_timeout_secs == 60  # coerced to int
    assert cfg.http.enabled is False  # coerced to bool


def test_unknown_keys_rejected(tmp_path):
    (tmp_path / "config.toml").write_text("[storage]\nnot_a_field = 1\n")
    with pytest.raises(ConfigError, match="unknown config key"):
        Config.load(config_dir=str(tmp_path), env={})
    with pytest.raises(ConfigError, match="unknown config key"):
        Config.load(config_dir="/nonexistent", env={"INPUTLAYER_NOPE__X": "1"})


def test_type_mismatch_rejected(tmp_path):
    (tmp_path / "config.toml").write_text("[http]\nport = \"not-a-port\"\n")
    with pytest.raises(ConfigError, match="expected int"):
        Config.load(config_dir=str(tmp_path), env={})


def test_from_file(tmp_path):
    p = tmp_path / "custom.toml"
    p.write_text('[logging]\nlevel = "error"\n')
    cfg = Config.from_file(str(p), env={})
    assert cfg.logging.level == "error"


def test_server_main_config_wiring(spark, tmp_path):
    """`server.main --config` binds host/port/auth/data_dir; drive a
    request through the configured instance."""
    import json
    import threading
    import urllib.request

    from inputlayer_spark import server as server_mod

    creds = tmp_path / "creds.json"
    (tmp_path / "config.toml").write_text(
        f'[storage]\ndata_dir = "{tmp_path}/kgdata"\n'
        "[http]\nport = 0\n"
        f'[http.auth]\ncredentials_file = "{creds}"\n'
        'bootstrap_admin_password = "hunter22"\n'
    )
    from inputlayer_spark.auth import AuthStore
    from inputlayer_spark.config import Config
    from inputlayer_spark.engine import IQLEngine
    from inputlayer_spark.server import QueryServer

    cfg = Config.from_file(str(tmp_path / "config.toml"), env={})
    auth = AuthStore(cfg.http.auth.credentials_file)
    auth.add_user("admin", cfg.http.auth.bootstrap_admin_password, "admin")
    srv = QueryServer(spark, host=cfg.http.host, port=cfg.http.port, auth=auth)
    srv.engine = IQLEngine(spark, wal_dir=cfg.storage.data_dir)
    srv.engine.auth_store = auth
    srv.start()
    try:
        key = auth.issue_api_key("admin")
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query",
            data=json.dumps({"query": "+cfg_t(1)\n?cfg_t(X)"}).encode(),
            headers={"X-API-Key": key},
        )
        with urllib.request.urlopen(req) as resp:
            out = json.loads(resp.read())
        assert out["results"][0]["rows"] == [[1]]
        # durable: the WAL landed under the configured data_dir
        import os

        assert os.path.isdir(f"{tmp_path}/kgdata")
    finally:
        srv.stop()


def test_auto_create_and_max_kgs_bindings(spark):
    """storage.auto_create_knowledge_graphs=false → `.kg use` on a
    missing KG errors (the reference's production default);
    storage.max_knowledge_graphs caps `.kg create`."""
    import pytest

    from inputlayer_spark.compiler import CompileError
    from inputlayer_spark.engine import IQLEngine

    eng = IQLEngine(spark)
    eng.auto_create_kgs = False
    with pytest.raises(CompileError, match="does not exist"):
        eng.execute(".kg use nope")
    eng.execute(".kg create yes\n.kg use yes")  # create-then-use still fine
    eng.max_kgs = 2  # default + yes already exist
    with pytest.raises(CompileError, match="max_knowledge_graphs"):
        eng.execute(".kg create third")
    eng.execute(".kg create yes")  # existing name: idempotent, not capped


def test_persistence_format_binding(spark, tmp_path):
    """storage.persistence.format drives save_kg/.compact snapshots; the
    catalog records the format so load_kg reads it back regardless of
    the loader engine's own setting."""
    from inputlayer_spark.engine import IQLEngine

    eng = IQLEngine(spark)
    eng.persist_format = "json"
    eng.execute('+fmt_rel[(1, "a"), (2, "b")]')
    eng.save_kg(str(tmp_path / "snap"))
    assert (tmp_path / "snap" / "relations" / "fmt_rel.json").is_dir()

    eng2 = IQLEngine(spark)  # default parquet loader reads the catalog
    eng2.load_kg(str(tmp_path / "snap"))
    got = sorted(tuple(r) for r in eng2.query("?fmt_rel(X, Y)").collect())
    assert got == [(1, "a"), (2, "b")]


def test_magic_sets_and_join_planning_toggles(spark):
    """Disabling either optimization must not change answers — magic
    falls back to full-fixpoint-then-filter, join planning to literal
    body order."""
    from inputlayer_spark import compiler
    from inputlayer_spark.engine import IQLEngine

    prog = (
        "+edge[(1, 2), (2, 3), (3, 4)]\n"
        "+reach(X, Y) <- edge(X, Y)\n"
        "+reach(X, Z) <- edge(X, Y), reach(Y, Z)"
    )
    eng = IQLEngine(spark)
    eng.execute(prog)
    want = sorted(tuple(r) for r in eng.query("?reach(1, Y)").collect())

    eng2 = IQLEngine(spark)
    eng2.enable_magic_sets = False
    eng2.execute(prog)
    assert sorted(tuple(r) for r in eng2.query("?reach(1, Y)").collect()) == want

    try:
        compiler.JOIN_PLANNING_ENABLED = False
        eng3 = IQLEngine(spark)
        eng3.execute(
            "+e[(1, 10), (2, 20)]\n+f[(10, 7)]\n"
            "+sg(A, C, B) <- e(A, X), e(B, Y), f(X, C)"
        )
        got = sorted(tuple(r) for r in eng3.query("?sg(A, C, B)").collect())
        assert got == [(1, 7, 1), (1, 7, 2)]
    finally:
        compiler.JOIN_PLANNING_ENABLED = True


def test_query_timeout_returns_408(spark):
    """performance.query_timeout_ms: the /query watchdog cancels the
    jobs under the request's Spark job tag at the deadline and the
    client gets 408; subsequent fast queries still succeed."""
    import pytest
    from pyspark.sql import functions as F

    from inputlayer_spark.server import QueryServer

    srv = QueryServer(spark, query_timeout_ms=600)
    big = spark.range(0, 5000).select(F.col("id").alias("c0"))
    srv.engine.register("big_a", big)
    srv.engine.register("big_b", big)
    srv.engine.execute("+cross(A, B) <- big_a(A), big_b(B)")
    srv.start()
    try:
        # a RULE registration is a mutation — untimed by design; the
        # read-only query over the 25M-row cross product gets the watchdog
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query",
            data=json.dumps({"query": "?cross(A, B)"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req, timeout=120)
        assert e.value.code == 408
        assert "timed out" in json.loads(e.value.read())["error"]
        # the server (and its writer lock) survive the cancellation
        req2 = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query",
            data=json.dumps({"query": "+ok(1)\n?ok(X)"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req2, timeout=120) as resp:
            assert json.loads(resp.read())["results"][0]["rows"] == [[1]]
    finally:
        srv.stop()


def test_query_timeout_cancels_only_the_timed_request(spark, tmp_path):
    """The watchdog cancels the timed request's own Spark jobs, not the
    shared context's: a bystander job running in another thread returns
    its full count, and a streaming maintainer on the same session stays
    active and folds in a file dropped after the 408."""
    import threading
    import time

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from inputlayer_spark.engine import IQLEngine
    from inputlayer_spark.server import QueryServer
    from inputlayer_spark.streaming.maintainer import IncrementalMaintainer

    schema = T.StructType(
        [T.StructField("src", T.LongType()), T.StructField("dst", T.LongType())]
    )
    src = tmp_path / "in"
    src.mkdir()
    stream_eng = IQLEngine(spark)
    stream_eng.execute("+edge(src: int, dst: int)")
    m = IncrementalMaintainer(
        stream_eng, "edge", str(src), schema, str(tmp_path / "ckpt"), refresh=False
    )
    m.start(processing_interval="1 second")

    timeout_s = 1.5
    srv = QueryServer(spark, query_timeout_ms=int(timeout_s * 1000))
    # 400K x 400K pairs behind a filter no pair passes: the query has no
    # rows, and uncancelled it runs for minutes of nested-loop work
    big = spark.range(0, 400_000).select(F.col("id").alias("c0"))
    srv.engine.register("big_a", big)
    srv.engine.register("big_b", big)

    # the bystander runs untagged ~1 s jobs back to back until told to
    # stop, so jobs of its own are running while the watchdog cancels
    side = spark.range(0, 20_000)
    pairs = side.crossJoin(side.withColumnRenamed("id", "j")).filter("id + j >= 0")
    stop = threading.Event()
    spans, counts, errors = [], [], []

    def bystander():
        while not stop.is_set():
            t0 = time.monotonic()
            try:
                counts.append(pairs.count())
            except Exception as exc:  # noqa: BLE001 — asserted below
                errors.append(exc)
                return
            spans.append((t0, time.monotonic()))

    by = threading.Thread(target=bystander, daemon=True)
    srv.start()
    try:
        by.start()
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query",
            data=json.dumps({"query": "?big_a(A), big_b(B), A + B < 0"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        sent = time.monotonic()
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req, timeout=30)
        answered = time.monotonic()
        assert e.value.code == 408
        assert answered - sent < timeout_s + 8
        stop.set()
        by.join(timeout=30)
        assert not by.is_alive()
        assert not errors
        assert counts and set(counts) == {20_000 * 20_000}
        # some bystander job was in flight while the watchdog cancelled
        assert any(t0 < answered and t1 > sent + timeout_s for t0, t1 in spans)

        assert m._query.isActive
        spark.createDataFrame([(3, 4)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        deadline = time.monotonic() + 30
        while m.batches_seen < 1 and time.monotonic() < deadline:
            time.sleep(0.2)
        assert m._query.isActive
        assert sorted(
            tuple(r) for r in stream_eng.query("?edge(X, Y)").collect()
        ) == [(3, 4)]
    finally:
        stop.set()
        srv.stop()
        m.stop()


def test_websocket_query_timeout(spark):
    """A read-only WebSocket `query` gets performance.query_timeout_ms
    like /query: at the deadline its jobs are cancelled and the socket
    gets an error frame with code 408 that echoes the request id, and a
    /query sent meanwhile from another thread answers with its rows."""
    import threading
    import time

    from pyspark.sql import functions as F

    from inputlayer_spark.server import QueryServer
    from tests.test_server_sources import _WsClient

    timeout_s = 1.5
    srv = QueryServer(spark, query_timeout_ms=int(timeout_s * 1000))
    # the same 400K x 400K cross product behind an always-false filter
    # as the /query test above: uncancelled it runs for minutes
    big = spark.range(0, 400_000).select(F.col("id").alias("c0"))
    srv.engine.register("big_a", big)
    srv.engine.register("big_b", big)
    srv.engine.execute("+ok[(1)]")
    rest = {}

    def rest_query():
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query",
            data=json.dumps({"query": "?ok(X)"}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=60) as resp:
            rest["status"] = resp.status
            rest["rows"] = json.loads(resp.read())["results"][0]["rows"]

    srv.start()
    try:
        ws = _WsClient(srv.port)
        ws.send(
            {"type": "query", "id": "slow", "query": "?big_a(A), big_b(B), A + B < 0"}
        )
        sent = time.monotonic()
        time.sleep(0.3)
        other = threading.Thread(target=rest_query, daemon=True)
        other.start()
        frame = ws.recv()
        answered = time.monotonic()
        assert frame == {
            "type": "error",
            "id": "slow",
            "code": 408,
            "message": "query timed out after 1500ms",
        }
        assert answered - sent < timeout_s + 8
        other.join(timeout=60)
        assert rest == {"status": 200, "rows": [[1]]}
        ws.close()
    finally:
        srv.stop()


def test_session_engine_idle_eviction(spark):
    """http.auth.session_timeout_secs: session engines idle past the
    window are evicted (their overlays drop); active ones survive."""
    from inputlayer_spark.server import QueryServer

    srv = QueryServer(spark)
    srv.session_timeout_secs = 1
    a = srv._engine_for("sess-a")
    assert srv._engine_for("sess-a") is a  # stable while fresh
    srv._session_last_use["sess-a"] -= 5  # age it past the window
    srv._engine_for("sess-b")  # any other access sweeps
    assert "sess-a" not in srv.sessions
    srv.stop()


def test_session_engines_inherit_config_bindings(spark):
    """Per-session engines must carry the shared engine's config-bound
    attributes — a session-scoped .agent would otherwise fall back to
    the public default LLM endpoint instead of the configured proxy."""
    from inputlayer_spark.server import QueryServer

    srv = QueryServer(spark)
    srv.engine.agent_llm_url = "http://proxy.internal/v1"
    srv.engine.agent_llm_version = "2099-01-01"
    srv.engine.max_query_cost = 123
    eng = srv._engine_for("sess-1")
    assert eng is not srv.engine
    assert eng.agent_llm_url == "http://proxy.internal/v1"
    assert eng.agent_llm_version == "2099-01-01"
    assert eng.max_query_cost == 123
    srv.stop()
