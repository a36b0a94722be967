"""Server façade + sources + subscriptions + index meta commands."""

import json
import urllib.request

import pytest
from pyspark.sql import types as T

from inputlayer_spark.engine import IQLEngine
from inputlayer_spark.server import QueryServer
from inputlayer_spark.sources import read_relation, stream_relation, write_relation


def _post(port, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/query",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def test_server_query_and_sessions(spark):
    srv = QueryServer(spark).start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/health") as r:
            assert json.loads(r.read())["status"] == "ok"

        out = _post(srv.port, {"query": "+t[(1, 2), (3, 4)]\n?t(X, Y)"})
        res = out["results"][0]
        assert [c["name"] for c in res["columns"]] == ["X", "Y"]
        assert sorted(map(tuple, res["rows"])) == [(1, 2), (3, 4)]

        # session overlay: ephemeral fact visible only in that session
        _post(srv.port, {"query": "+t(s: int, y: int)", "session": "A"})
        a = _post(srv.port, {"query": "?t(X, Y)", "session": "A"})
        shared = _post(srv.port, {"query": "?t(X, Y)"})
        assert sorted(map(tuple, shared["results"][0]["rows"])) == [(1, 2), (3, 4)]
        assert sorted(map(tuple, a["results"][0]["rows"])) == [(1, 2), (3, 4)]

        # errors come back as 400 + message, not a dropped connection
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query",
            data=json.dumps({"query": "?missing(X)"}).encode(),
        )
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(req)
        assert e.value.code == 400
    finally:
        srv.stop()


def test_sources_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    for fmt in ("parquet", "csv", "json", "orc"):
        path = str(tmp_path / fmt)
        write_relation(df, path, fmt=fmt)
        back = read_relation(spark, path, fmt=fmt, schema=df.schema if fmt == "json" else None)
        assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_stream_relation(spark, tmp_path):
    sch = T.StructType([T.StructField("x", T.LongType())])
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame([(1,)], sch).coalesce(1).write.mode("append").parquet(str(src))
    stream = stream_relation(spark, str(src), sch)
    assert stream.isStreaming


def test_subscriptions(spark):
    eng = IQLEngine(spark)
    eng.execute("+base[(1)]")
    eng.execute("+derived(X) <- base(X)")
    fired = []
    eng.subscribe("derived", lambda rel: fired.append(rel))
    eng.execute("+base[(2)]")  # write to base cascades to derived
    assert fired == ["derived"]


def test_index_meta(spark):
    eng = IQLEngine(spark)
    eng.execute("+vecs(id: int, v: vector)")
    eng.execute(".index create vidx on vecs(v) metric cosine")
    lst = eng.execute(".index list")[0].collect()
    assert [(r["name"], r["relation"], r["column"], r["metric"]) for r in lst] == [
        ("vidx", "vecs", "v", "cosine")
    ]
    stats = {r["key"]: r["value"] for r in eng.execute(".index stats vidx")[0].collect()}
    assert stats["metric"] == "cosine" and stats["rows"] == "0"
    eng.execute(".index rebuild vidx")
    eng.execute(".index drop vidx")
    assert not eng.execute(".index list")[0].collect()


class _WsClient:
    """Minimal stdlib RFC 6455 client for driving the server's /ws."""

    def __init__(self, port, path="/ws"):
        import base64 as b64
        import os
        import socket

        self.sock = socket.create_connection(("127.0.0.1", port), timeout=30)
        key = b64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (
                f"GET {path} HTTP/1.1\r\nHost: 127.0.0.1:{port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        self.buf = b""
        while b"\r\n\r\n" not in self.buf:
            self.buf += self.sock.recv(4096)
        head, self.buf = self.buf.split(b"\r\n\r\n", 1)
        assert b"101" in head.split(b"\r\n")[0]

    def _read_exact(self, n):
        while len(self.buf) < n:
            chunk = self.sock.recv(4096)
            if not chunk:
                raise ConnectionError("closed")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def send(self, obj):
        import os
        import struct as st

        payload = json.dumps(obj).encode()
        mask = os.urandom(4)
        n = len(payload)
        if n < 126:
            head = st.pack(">BB", 0x81, 0x80 | n)
        else:
            head = st.pack(">BBH", 0x81, 0x80 | 126, n)
        masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        self.sock.sendall(head + mask + masked)

    def recv(self):
        import struct as st

        hdr = self._read_exact(2)
        opcode = hdr[0] & 0x0F
        length = hdr[1] & 0x7F
        if length == 126:
            length = st.unpack(">H", self._read_exact(2))[0]
        elif length == 127:
            length = st.unpack(">Q", self._read_exact(8))[0]
        data = self._read_exact(length)
        if opcode == 0x1:
            return json.loads(data.decode())
        return {"type": "_opcode", "opcode": opcode}

    def recv_until(self, mtype, limit=10):
        """Next message of the given type, skipping interleaved
        notifications (the server notifies the writer's own connection
        too, and the push may land before the ack)."""
        seen = []
        for _ in range(limit):
            m = self.recv()
            if m["type"] == mtype:
                return m, seen
            seen.append(m)
        raise AssertionError(f"no {mtype} in {seen}")

    def close(self):
        self.sock.close()


def test_websocket_protocol_and_notifications(spark):
    """Drive a WS session with the reference message protocol
    (ws.rs:9-23): query, insert_facts, ping, and a pushed
    persistent_update notification on a base-relation write."""
    srv = QueryServer(spark).start()
    try:
        ws = _WsClient(srv.port)
        ws.send({"type": "ping"})
        assert ws.recv()["type"] == "pong"

        ws.send({"type": "insert_facts", "relation": "wse", "tuples": [[1, 2], [3, 4]]})
        ws.recv_until("ack")

        ws.send({"type": "add_rule", "rule": "+wsd(X) <- wse(X, _)"})
        ws.recv_until("ack")

        ws.send({"type": "query", "query": "?wsd(X)"})
        res, _ = ws.recv_until("result")
        assert sorted(r[0] for r in res["rows"]) == [1, 3]

        # a second connection's write pushes a notification to this one
        ws2 = _WsClient(srv.port, path="/sessions/abc/ws")
        ws2.send({"type": "insert_facts", "relation": "wse", "tuples": [[5, 6]]})
        ws2.recv_until("ack")
        note, _ = ws.recv_until("notification")
        assert note["event"] == "persistent_update"
        assert note["relation"] in ("wse", "wsd")
        ws.close()
        ws2.close()
    finally:
        srv.stop()


def test_client_sdk(spark):
    """Fluent client over the wire: insert/add_rule/query/ResultSet and a
    change notification through the shared WS connection."""
    import time as _time

    from inputlayer_spark.client import Client

    srv = QueryServer(spark).start()
    try:
        c = Client(f"http://127.0.0.1:{srv.port}")
        assert c.health()
        seen = []
        c.on_change(seen.append)
        c.insert("cedge", [(1, 2), (2, 3)])
        c.add_rule("+cpath(X, Y) <- cedge(X, Y)")
        rs = c.query("?cpath(X, Y)")
        assert rs.columns == ["X", "Y"]
        assert sorted(rs.to_tuples()) == [(1, 2), (2, 3)]
        assert rs.first() in ((1, 2), (2, 3)) and len(rs) == 2
        assert c.query("+n(count<X>) <- cedge(X, _)\n?n(C)").scalar() == 2
        deadline = _time.time() + 15
        while not seen and _time.time() < deadline:
            _time.sleep(0.05)
        assert seen, "no persistent_update notification received"
        c.close()
    finally:
        srv.stop()


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Tables bucketed on the same key join without a shuffle on either
    side: the physical plan has no Exchange above the scans — the
    co-located layout that matters for recurring 100 TB joins."""
    from pyspark.sql import functions as F

    from inputlayer_spark.sources import read_bucketed, write_bucketed

    spark.sql("DROP TABLE IF EXISTS bk_orders")
    spark.sql("DROP TABLE IF EXISTS bk_cust")
    orders = spark.range(1000).select(
        F.col("id").alias("o_id"), (F.col("id") % 100).alias("cust_id")
    )
    cust = spark.range(100).select(
        F.col("id").alias("cust_id"), (F.col("id") * 2).alias("score")
    )
    write_bucketed(
        orders, "bk_orders", "cust_id", 8, path=str(tmp_path / "bko")
    )
    write_bucketed(cust, "bk_cust", "cust_id", 8, path=str(tmp_path / "bkc"))

    a = read_bucketed(spark, "bk_orders")
    b = read_bucketed(spark, "bk_cust")
    # disable broadcast so the join must be shuffle-or-bucketed SMJ
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, on="cust_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_orders")
        spark.sql("DROP TABLE IF EXISTS bk_cust")


def _post_auth(port, payload, key=None, header="Authorization"):
    headers = {"Content-Type": "application/json"}
    if key is not None:
        if header == "Authorization":
            headers[header] = f"Bearer {key}"
        else:
            headers[header] = key
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/query",
        data=json.dumps(payload).encode(),
        headers=headers,
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def test_server_auth_api_keys_and_roles(spark, tmp_path):
    """API-key auth on HTTP mirroring src/auth.rs: missing/wrong key →
    401 (health stays open); valid key → 200; layer-1 role gates:
    viewers cannot `.kg create`, non-admins cannot `.compact`; keys are
    stored hashed and survive a store reload."""
    from inputlayer_spark.auth import AuthStore, hash_api_key

    store_path = str(tmp_path / "creds.json")
    store = AuthStore(store_path)
    store.add_user("root", "hunter2", role="admin")
    store.add_user("ed", "pw", role="editor")
    store.add_user("vi", "pw", role="viewer")
    admin_key = store.issue_api_key("root")
    editor_key = store.issue_api_key("ed")
    viewer_key = store.issue_api_key("vi")
    # layer 2: non-admins need per-KG ACL entries (auth.rs:141-324 —
    # a non-admin with no entry on the target KG is denied outright)
    store.grant_kg("default", "ed", "editor")
    store.grant_kg("default", "vi", "viewer")
    # only hashes are persisted
    assert admin_key not in open(store_path).read()
    assert hash_api_key(admin_key) in open(store_path).read()

    srv = QueryServer(spark, auth=AuthStore(store_path)).start()
    try:
        # /health open without a key
        with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/health") as r:
            assert json.loads(r.read())["status"] == "ok"
        # no key → 401
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(srv.port, {"query": "?x(X)"})
        assert e.value.code == 401
        # wrong key → 401
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(srv.port, {"query": "?x(X)"}, key="bogus")
        assert e.value.code == 401
        # valid keys work (both header styles)
        out = _post_auth(srv.port, {"query": "+t[(1)]\n?t(X)"}, key=admin_key)
        assert out["results"][0]["rows"] == [[1]]
        out = _post_auth(
            srv.port, {"query": "?t(X)"}, key=editor_key, header="X-API-Key"
        )
        assert out["results"][0]["rows"] == [[1]]
        # viewer cannot create a KG; editor can (auth.rs:381-389)
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(srv.port, {"query": ".kg create vkg"}, key=viewer_key)
        assert e.value.code == 403
        _post_auth(srv.port, {"query": ".kg create ekg"}, key=editor_key)
        # compaction is admin-only (system-level, auth.rs layer 1)
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(srv.port, {"query": ".compact"}, key=editor_key)
        assert e.value.code == 403
    finally:
        srv.stop()


def test_user_and_apikey_meta_commands(spark, tmp_path):
    """`.user` / `.apikey` dot-command surface (reference
    src/statement/meta.rs:747-816 routed to handler.rs:1275-1704):
    admin-only, list never exposes hashes, create returns the plaintext
    key exactly once, drop cascades keys+ACLs and protects 'admin'."""
    from inputlayer_spark.auth import AuthStore, hash_api_key

    store_path = str(tmp_path / "creds.json")
    store = AuthStore(store_path)
    store.add_user("admin", "pw", role="admin")
    store.add_user("ed", "pw", role="editor")
    admin_key = store.issue_api_key("admin")
    editor_key = store.issue_api_key("ed")
    store.grant_kg("default", "ed", "editor")

    srv = QueryServer(spark, auth=AuthStore(store_path)).start()
    try:
        # non-admins are denied the whole surface (layer 1)
        for q in (".user list", ".apikey list", ".user create x pw viewer"):
            with pytest.raises(urllib.error.HTTPError) as e:
                _post_auth(srv.port, {"query": q}, key=editor_key)
            assert e.value.code == 403

        # .user create / list (username+role only, no hash column)
        _post_auth(
            srv.port, {"query": ".user create carol pw123 viewer"}, key=admin_key
        )
        out = _post_auth(srv.port, {"query": ".user list"}, key=admin_key)
        res = out["results"][0]
        assert [c["name"] for c in res["columns"]] == ["username", "role"]
        assert ["carol", "viewer"] in res["rows"]
        # duplicate create is an error
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(
                srv.port, {"query": ".user create carol pw viewer"}, key=admin_key
            )
        assert "already exists" in json.loads(e.value.read())["error"]
        # bad role rejected
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(
                srv.port, {"query": ".user create dave pw superuser"}, key=admin_key
            )
        assert e.value.code == 400

        # .user password: carol can log in with the new password only
        _post_auth(
            srv.port, {"query": ".user password carol newpw"}, key=admin_key
        )
        assert srv.auth.authenticate_password("carol", "newpw") is not None
        assert srv.auth.authenticate_password("carol", "pw123") is None

        # .user role promotes; admin cannot be demoted
        _post_auth(srv.port, {"query": ".user role carol editor"}, key=admin_key)
        assert srv.auth.users["carol"]["role"] == "editor"
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(
                srv.port, {"query": ".user role admin viewer"}, key=admin_key
            )
        assert "Cannot change" in json.loads(e.value.read())["error"]

        # .apikey create returns (label, plaintext) once; only the hash
        # is stored; owner is the calling identity
        out = _post_auth(
            srv.port, {"query": ".apikey create ci-bot"}, key=admin_key
        )
        res = out["results"][0]
        assert [c["name"] for c in res["columns"]] == ["label", "api_key"]
        (label, plaintext) = res["rows"][0]
        assert label == "ci-bot" and len(plaintext) == 64
        assert hash_api_key(plaintext) in srv.auth.api_keys
        assert plaintext not in open(store_path).read()
        # the fresh key authenticates as its owner
        out = _post_auth(srv.port, {"query": ".user list"}, key=plaintext)
        # duplicate label rejected
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(
                srv.port, {"query": ".apikey create ci-bot"}, key=admin_key
            )
        assert "already exists" in json.loads(e.value.read())["error"]
        # list shows (label, owner), never hashes
        out = _post_auth(srv.port, {"query": ".apikey list"}, key=admin_key)
        res = out["results"][0]
        assert [c["name"] for c in res["columns"]] == ["label", "owner"]
        assert ["ci-bot", "admin"] in res["rows"]
        # revoke kills the key
        _post_auth(srv.port, {"query": ".apikey revoke ci-bot"}, key=admin_key)
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(srv.port, {"query": ".user list"}, key=plaintext)
        assert e.value.code == 401
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(
                srv.port, {"query": ".apikey revoke ci-bot"}, key=admin_key
            )
        assert "not found" in json.loads(e.value.read())["error"]

        # .user drop cascades: carol's keys + ACLs vanish; admin protected
        _post_auth(
            srv.port, {"query": ".kg acl grant default carol viewer"},
            key=admin_key,
        )
        out = _post_auth(
            srv.port, {"query": ".apikey create carols-key"}, key=admin_key
        )
        _post_auth(srv.port, {"query": ".user drop carol"}, key=admin_key)
        assert "carol" not in srv.auth.users
        assert "carol" not in srv.auth.kg_acls.get("default", {})
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(srv.port, {"query": ".user drop admin"}, key=admin_key)
        assert "Cannot drop" in json.loads(e.value.read())["error"]
    finally:
        srv.stop()


def test_kg_create_then_use_in_one_program(spark, tmp_path):
    """Deferring the creator's owner grant must not break the canonical
    one-program flow: create a KG, switch into it, and write — the
    layer-2 check treats a KG the program itself creates as owned
    (code-review r5 finding: role lookup ran before any grant landed and
    denied the creator's own statements)."""
    from inputlayer_spark.auth import AuthStore

    store_path = str(tmp_path / "creds.json")
    store = AuthStore(store_path)
    store.add_user("ed", "pw", role="editor")
    ed_key = store.issue_api_key("ed")
    store.grant_kg("default", "ed", "editor")

    srv = QueryServer(spark, auth=AuthStore(store_path)).start()
    try:
        out = _post_auth(
            srv.port,
            {"query": ".kg create mine\n.kg use mine\n+r(x: int)\n+r[(7)]\n?r(X)"},
            key=ed_key,
        )
        assert out["results"][-1]["rows"] == [[7]]
        assert srv.auth.kg_acls["mine"]["ed"] == "owner"
        # create-then-drop in one program leaves no grant behind
        _post_auth(
            srv.port,
            {"query": ".kg create fleeting\n.kg drop fleeting"},
            key=ed_key,
        )
        assert "ed" not in srv.auth.kg_acls.get("fleeting", {})
    finally:
        srv.stop()


def test_legacy_api_keys_get_synthetic_labels(tmp_path):
    """Stores written before labeled keys existed load with
    `legacy-<hash8>` labels, so the keys stay visible in `.apikey list`
    and revocable by label (code-review r5 finding: empty labels were
    filtered out of list and unreachable by revoke)."""
    import json as _json

    from inputlayer_spark.auth import AuthStore, hash_api_key

    store_path = str(tmp_path / "old.json")
    store = AuthStore(store_path)
    store.add_user("u", "pw", role="editor")
    key = store.issue_api_key("u")
    h = hash_api_key(key)
    # rewrite in the pre-label on-disk format: hash -> username string
    data = _json.load(open(store_path))
    data["api_keys"] = {h: "u"}
    _json.dump(data, open(store_path, "w"))

    reloaded = AuthStore(store_path)
    label = f"legacy-{h[:8]}"
    assert (label, "u") in reloaded.list_api_keys()
    assert reloaded.authenticate_api_key(key) is not None
    reloaded.revoke_key_by_label(label)
    assert reloaded.authenticate_api_key(key) is None


def test_kg_create_cannot_hijack_existing_kg(spark, tmp_path):
    """Privilege-escalation fix (ADVICE r4 high): `.kg create <existing>`
    is a no-op that must NOT grant the caller ownership — the reference
    grants only on a SUCCESSFUL create of a NEW KG (handler.rs:4584) —
    and the grant lands only after the program executes, so a failing
    program leaves no ACL behind. `.kg drop` also removes the dropped
    KG's ACL entries so a re-created KG of the same name cannot inherit
    a stale owner."""
    from inputlayer_spark.auth import AuthStore

    store_path = str(tmp_path / "creds.json")
    store = AuthStore(store_path)
    store.add_user("root", "pw", role="admin")
    store.add_user("mal", "pw", role="editor")
    admin_key = store.issue_api_key("root")
    mal_key = store.issue_api_key("mal")
    store.grant_kg("default", "mal", "viewer")

    srv = QueryServer(spark, auth=AuthStore(store_path)).start()
    try:
        # the attack: a global editor "creates" the existing default KG —
        # previously this overwrote their viewer entry with owner
        _post_auth(srv.port, {"query": ".kg create default"}, key=mal_key)
        assert srv.auth.kg_acls["default"]["mal"] == "viewer"
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(srv.port, {"query": "+t[(9)]"}, key=mal_key)
        assert e.value.code == 403  # still a viewer

        # partial failure (ADVICE r5): a program that creates a KG and
        # then fails DID create the KG (statements apply in order), so
        # the creator must still be granted owner — otherwise they are
        # permanently locked out of a KG that exists and re-running
        # `.kg create` is a setdefault no-op that queues no grant.
        with pytest.raises(urllib.error.HTTPError):
            _post_auth(
                srv.port,
                {"query": ".kg create flaky\n?no_such_rel(X)"},
                key=mal_key,
            )
        assert "flaky" in srv.engine.kgs  # the create DID happen...
        assert srv.auth.kg_acls["flaky"]["mal"] == "owner"  # ...so grant
        # but a create that never executed (failure BEFORE it) grants
        # nothing — membership in engine.kgs is the ground truth
        with pytest.raises(urllib.error.HTTPError):
            _post_auth(
                srv.port,
                {"query": "?no_such_rel(X)\n.kg create ghost"},
                key=mal_key,
            )
        assert "ghost" not in srv.engine.kgs
        assert "mal" not in srv.auth.kg_acls.get("ghost", {})

        # the legitimate path still works: new KG → creator becomes owner
        _post_auth(srv.port, {"query": ".kg create mine"}, key=mal_key)
        assert srv.auth.kg_acls["mine"]["mal"] == "owner"

        # drop-time ACL cleanup: dropping removes the KG's entries
        _post_auth(srv.port, {"query": ".kg drop mine"}, key=admin_key)
        assert "mine" not in srv.auth.kg_acls
        # re-created by the admin: mal has NO stale ownership
        _post_auth(srv.port, {"query": ".kg create mine"}, key=admin_key)
        assert "mal" not in srv.auth.kg_acls.get("mine", {})
    finally:
        srv.stop()


def test_auth_password_hashing_roundtrip(tmp_path):
    """Password KDF + API-key generation semantics from src/auth.rs:
    verify matches only the right password, malformed hashes never
    raise, generated keys are 64 hex chars and unique."""
    from inputlayer_spark.auth import (
        AuthStore,
        generate_api_key,
        hash_password,
        verify_password,
    )

    h = hash_password("s3cret")
    assert verify_password("s3cret", h)
    assert not verify_password("wrong", h)
    assert not verify_password("s3cret", "garbage")
    k1, k2 = generate_api_key(), generate_api_key()
    assert len(k1) == 64 and k1 != k2
    store = AuthStore(str(tmp_path / "c.json"))
    store.add_user("u", "pw", role="editor")
    ident = store.authenticate_password("u", "pw")
    assert ident and ident.role == "editor"
    assert store.authenticate_password("u", "nope") is None
    with pytest.raises(ValueError):
        store.add_user("bad", "pw", role="superuser")


def test_server_per_kg_acls(spark, tmp_path):
    """Layer-2 per-KG authorization (auth.rs:141-324 +
    handler.rs:4330-4369): the per-KG role — not the global role — is
    the authority for data access. A global editor with viewer ACL can
    only read that KG; no ACL entry at all → Access denied; `.kg acl`
    management is owner-only; creating a KG auto-grants the creator
    owner (handler.rs:4584)."""
    from inputlayer_spark.auth import AuthStore

    store_path = str(tmp_path / "creds.json")
    store = AuthStore(store_path)
    store.add_user("root", "pw", role="admin")
    store.add_user("alice", "pw", role="editor")
    store.add_user("bob", "pw", role="editor")
    admin_key = store.issue_api_key("root")
    alice_key = store.issue_api_key("alice")
    bob_key = store.issue_api_key("bob")
    store.grant_kg("default", "alice", "editor")
    store.grant_kg("default", "bob", "viewer")

    srv = QueryServer(spark, auth=AuthStore(store_path)).start()
    try:
        # seed data as admin (implicit owner of every KG)
        _post_auth(srv.port, {"query": "+t[(1)]"}, key=admin_key)
        # alice (KG editor): read + write
        out = _post_auth(srv.port, {"query": "?t(X)"}, key=alice_key)
        assert out["results"][0]["rows"] == [[1]]
        _post_auth(srv.port, {"query": "+t[(2)]"}, key=alice_key)
        # bob is a GLOBAL editor but KG viewer here: reads pass,
        # writes denied with the reference's wording
        out = _post_auth(srv.port, {"query": "?t(X)"}, key=bob_key)
        assert len(out["results"][0]["rows"]) == 2
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(srv.port, {"query": "+t[(3)]"}, key=bob_key)
        assert e.value.code == 403
        assert "viewer access" in json.loads(e.value.read())["error"]
        # KG editor cannot drop the KG (owner only) nor manage ACLs
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(srv.port, {"query": ".kg drop default"}, key=alice_key)
        assert e.value.code == 403
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(
                srv.port,
                {"query": ".kg acl grant default bob editor"},
                key=alice_key,
            )
        assert e.value.code == 403
        # no ACL entry on another KG → Access denied outright
        _post_auth(srv.port, {"query": ".kg create other"}, key=admin_key)
        with pytest.raises(urllib.error.HTTPError) as e:
            _post_auth(
                srv.port, {"query": ".kg use other\n?t(X)"}, key=alice_key
            )
        assert e.value.code == 403
        assert json.loads(e.value.read())["error"] == "Access denied"
        # creator auto-grant: alice creates a KG → owner there, and an
        # owner can manage its ACLs
        _post_auth(srv.port, {"query": ".kg create alices"}, key=alice_key)
        _post_auth(
            srv.port,
            {"query": ".kg acl grant alices bob viewer"},
            key=alice_key,
        )
        out = _post_auth(
            srv.port, {"query": ".kg acl list alices"}, key=alice_key
        )
        assert ["bob", "viewer"] in out["results"][0]["rows"]
        # admin sees + revokes via the same surface
        _post_auth(
            srv.port, {"query": ".kg acl revoke alices bob"}, key=admin_key
        )
        out = _post_auth(
            srv.port, {"query": ".kg acl list alices"}, key=admin_key
        )
        assert ["bob", "viewer"] not in out["results"][0]["rows"]
    finally:
        srv.stop()


def _ws_ticket(port, key):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/ws_ticket",
        data=b"{}",
        headers={"Authorization": f"Bearer {key}"},
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())["ticket"]


def test_websocket_writes_are_authorized_like_query(spark, tmp_path):
    """Every WebSocket message passes the same two-layer authorization
    as /query: a KG viewer's insert_facts, retract_facts, add_rule and a
    query carrying a write each get an error frame, a `relation` that
    smuggles in statements or a non-list tuple is rejected before any
    IQL is built, and none of it lands."""
    from inputlayer_spark.auth import AuthStore

    store_path = str(tmp_path / "creds.json")
    store = AuthStore(store_path)
    store.add_user("root", "pw", role="admin")
    store.add_user("vic", "pw", role="viewer")
    admin_key = store.issue_api_key("root")
    viewer_key = store.issue_api_key("vic")
    store.grant_kg("default", "vic", "viewer")

    srv = QueryServer(spark, auth=AuthStore(store_path)).start()
    try:
        _post_auth(srv.port, {"query": "+t[(1)]"}, key=admin_key)

        def state():
            return [
                _post_auth(srv.port, {"query": q}, key=admin_key)["results"]
                for q in ("?t(X)", ".rule list", ".kg list")
            ]

        before = state()
        ws = _WsClient(
            srv.port, path=f"/ws?ticket={_ws_ticket(srv.port, viewer_key)}"
        )

        def reply(msg):
            """First reply frame to `msg`, skipping pushed notifications
            and the `done` marker that ends an earlier query's reply."""
            ws.send(msg)
            while True:
                m = ws.recv()
                if m["type"] not in ("notification", "done"):
                    assert m.get("id") == msg["id"]
                    return m

        # the viewer still reads
        assert reply({"type": "query", "id": 0, "query": "?t(X)"})["rows"] == [[1]]
        writes = [
            {"type": "insert_facts", "relation": "t", "tuples": [[2]]},
            {"type": "retract_facts", "relation": "t", "tuples": [[1]]},
            {"type": "add_rule", "rule": "+u(X) <- t(X)"},
            {"type": "query", "query": "+t[(3)]"},
        ]
        for i, msg in enumerate(writes, start=1):
            m = reply({**msg, "id": i})
            assert m["type"] == "error" and "viewer access" in m["message"], m
        malformed = [
            {
                "type": "insert_facts",
                "relation": "t[(5)]\n.kg create pwned\n+u",
                "tuples": [[6]],
            },
            {"type": "retract_facts", "relation": "t", "tuples": [1]},
        ]
        for i, msg in enumerate(malformed, start=10):
            assert reply({**msg, "id": i})["type"] == "error"
        ws.close()
        assert state() == before
    finally:
        srv.stop()


def test_engine_orc_roundtrip(spark, tmp_path):
    eng = IQLEngine(spark)
    eng.execute('+r[(1, "a"), (2, "b")]')
    eng.save_orc("r", str(tmp_path / "r_orc"))
    eng2 = IQLEngine(spark)
    eng2.load_orc("r2", str(tmp_path / "r_orc"))
    assert sorted(tuple(x) for x in eng2.query("?r2(A, B)").collect()) == [
        (1, "a"),
        (2, "b"),
    ]


def test_engine_json_roundtrip_preserves_positional_order(spark, tmp_path):
    """JSONL load/save: Spark's JSON reader sorts field names
    alphabetically, but rule atoms bind POSITIONALLY — load_json must
    restore the written column order (text before id here) from the
    first record's key order."""
    eng = IQLEngine(spark)
    eng.register(
        "r",
        spark.createDataFrame([("a", 1), ("b", 2)], "text string, id long"),
    )
    eng.save_json("r", str(tmp_path / "r_json"))
    eng2 = IQLEngine(spark)
    eng2.load_json("r2", str(tmp_path / "r_json"))
    assert sorted(tuple(x) for x in eng2.query("?r2(T, I)").collect()) == [
        ("a", 1),
        ("b", 2),
    ]


def test_load_json_normalizes_order_for_dotted_keys(spark, tmp_path):
    """Keys containing dots must still get first-record column order —
    an unquoted select would raise (struct-field path) and silently fall
    back to the reader's alphabetical order, breaking positional rule
    binding."""
    import json

    p = tmp_path / "dotted"
    p.mkdir()
    with open(p / "part-0.json", "w") as fh:
        for rec in ({"user.name": "a", "id": 1}, {"user.name": "b", "id": 2}):
            fh.write(json.dumps(rec) + "\n")
    eng = IQLEngine(spark)
    eng.load_json("r", str(p))
    # positional order = first-record key order: user.name first
    assert sorted(tuple(x) for x in eng.query("?r(N, I)").collect()) == [
        ("a", 1),
        ("b", 2),
    ]
