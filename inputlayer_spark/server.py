"""JSON query server speaking the reference wire protocol (stdlib-only).

The reference serves IQL over a JSON WebSocket/REST protocol
(`/root/reference/src/protocol/wire.rs:12-334`, routes
`src/protocol/rest/mod.rs:234-244`: /ws, /sessions/:id/ws, /health).
This server speaks the same shape with no third-party dependencies:

HTTP:
    POST /query    {"query": "<iql>", "session": "<id>?"}
        → {"results": [{"columns": [{"name","type"}...],
                        "rows": [[...], ...]} ...]}
    GET  /health   → {"status": "ok"}
    GET  /status   → engine .status as JSON

WebSocket (RFC 6455, `GET /ws` and `GET /sessions/<id>/ws`) — message
protocol mirrors src/protocol/rest/handlers/ws.rs:9-23:
    client → {"type": "query", "query": "..."}
             {"type": "insert_facts", "relation": r, "tuples": [[..]..]}
             {"type": "retract_facts", "relation": r, "tuples": [[..]..]}
             {"type": "add_rule", "rule": "h(..) <- b(..)"}
             {"type": "ping"}
    server → {"type": "result", "columns": [...], "rows": [...]}
             {"type": "ack", "message": "..."} | {"type": "pong"}
             {"type": "error", "message": "..."}
             {"type": "error", "code": 408, "message": "query timed out
              after Nms"}  (a read-only query past query_timeout_ms)
             Requests may carry an "id"; every reply frame echoes it and
             query replies end with {"type": "done", "id": ..., "frames": N}
             so clients can match multi-frame (multi-statement) replies
             to requests by id instead of FIFO order.
             {"type": "notification", "event": "persistent_update",
              "relation": "..."}  (pushed on engine changes)
    Every message runs through the same program path as POST /query:
    the same two-layer authorization and, for a read-only query, the
    same deadline.

Per-session ephemeral facts/rules ride on a session id: each session id
gets its own IQLEngine view of the shared SparkSession (the reference's
Session overlay, src/session.rs:114). One server = one driver process;
concurrency is bounded by the GIL on the driver side, while the heavy
lifting happens in Spark executors — same topology as the reference's
single-node server with worker threads.
"""

from __future__ import annotations

import base64
import hashlib
import json
import re
import struct
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Dict

from inputlayer_spark.engine import IQLEngine

# Results are collected into driver JSON; cap the row count so one huge
# query can't OOM the driver (clients page with limit/offset).
MAX_WIRE_ROWS = 10_000

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

# the parser's identifier token (parser.py `ident`)
_IDENT = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*")

_HTML = "text/html; charset=utf-8"


class QueryTimeout(Exception):
    """A timed read-only program passed `query_timeout_ms` and its jobs
    were cancelled. REST answers 408; WebSocket sends an error frame
    carrying `"code": 408`."""


def _df_payload(df) -> dict:
    cols = [{"name": f.name, "type": f.dataType.simpleString()} for f in df.schema.fields]
    collected = df.limit(MAX_WIRE_ROWS + 1).collect()
    truncated = len(collected) > MAX_WIRE_ROWS
    rows = [[_json_val(v) for v in row] for row in collected[:MAX_WIRE_ROWS]]
    out = {"columns": cols, "rows": rows}
    if truncated:
        out["truncated"] = True
    return out


def _json_val(v):
    if isinstance(v, (list, tuple)):
        return [_json_val(x) for x in v]
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        return None  # serde_json renders non-finite f64 as null
    return v


def _facts_program(sign: str, relation, tuples) -> str:
    """IQL for a WebSocket `insert_facts` (`+rel[(..)]`) or
    `retract_facts` (`-rel(..)`) message. The relation must be one IQL
    identifier and every tuple a list, checked before any text is built;
    JSON-encoded values cannot close the tuple or start a new line, so
    the client's input stays inside its own statements."""
    if not isinstance(relation, str) or not _IDENT.fullmatch(relation):
        raise ValueError(f"invalid relation name {relation!r}")
    if not isinstance(tuples, list) or not all(isinstance(t, list) for t in tuples):
        raise ValueError("tuples must be a list of lists")
    fmt = "+{}[({})]" if sign == "+" else "-{}({})"
    return "\n".join(
        fmt.format(relation, ", ".join(json.dumps(v) for v in tup)) for tup in tuples
    )


# ------------------------------------------------------------ websocket


def _ws_accept_key(key: str) -> str:
    return base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode()).digest()
    ).decode()


def _ws_read_frame(rfile):
    """Read one client frame → (opcode, payload bytes) or None on EOF."""
    hdr = rfile.read(2)
    if len(hdr) < 2:
        return None
    b1, b2 = hdr[0], hdr[1]
    opcode = b1 & 0x0F
    masked = b2 & 0x80
    length = b2 & 0x7F
    if length == 126:
        length = struct.unpack(">H", rfile.read(2))[0]
    elif length == 127:
        length = struct.unpack(">Q", rfile.read(8))[0]
    mask = rfile.read(4) if masked else b"\x00" * 4
    data = rfile.read(length)
    if masked:
        data = bytes(b ^ mask[i % 4] for i, b in enumerate(data))
    return opcode, data


def _ws_frame(opcode: int, payload: bytes) -> bytes:
    """Server→client frame (FIN set, unmasked)."""
    n = len(payload)
    if n < 126:
        head = struct.pack(">BB", 0x80 | opcode, n)
    elif n < 65536:
        head = struct.pack(">BBH", 0x80 | opcode, 126, n)
    else:
        head = struct.pack(">BBQ", 0x80 | opcode, 127, n)
    return head + payload


class QueryServer:
    """Holds one shared engine plus per-session overlay engines."""

    def __init__(
        self,
        spark,
        host: str = "127.0.0.1",
        port: int = 0,
        auth=None,
        query_timeout_ms: int = 0,
    ):
        """`auth`: optional `inputlayer_spark.auth.AuthStore`. When set,
        every endpoint except `/health` requires a valid API key
        (`Authorization: Bearer <key>` or `X-API-Key`), and every
        statement, from `/query` and from each WebSocket message alike,
        is authorized before execution against the key's global role
        and its per-KG ACLs (reference src/auth.rs layers 1 and 2).

        `query_timeout_ms` (config performance.query_timeout_ms): when
        > 0, each read-only program, a /query request or a WebSocket
        `query`, runs under its own Spark job tag and a watchdog cancels
        that tag's jobs at the deadline. REST answers 408 and WebSocket
        an error frame with `"code": 408`, instead of holding the writer
        lock forever; jobs outside the request (streaming maintainers,
        other sessions on the same SparkContext) keep running."""
        self.spark = spark
        self.engine = IQLEngine(spark)
        self.sessions: Dict[str, IQLEngine] = {}
        self.auth = auth
        self.query_timeout_ms = query_timeout_ms
        # idle session-engine eviction (config http.auth.
        # session_timeout_secs): overlays of a session nobody has
        # touched for the window are dropped so a long-lived server
        # doesn't accumulate dead per-session engines. 0 = keep forever
        self.session_timeout_secs = 0
        self._session_last_use: Dict[str, float] = {}
        # `.kg acl grant/revoke/list` run through the engine but mutate
        # the server's AuthStore (reference stores ACLs in an internal
        # KG, handler.rs:1695-1810; ours live with the credentials)
        self.engine.auth_store = auth
        self._lock = threading.Lock()
        # one-time WebSocket handshake tickets (POST /ws_ticket): browsers
        # cannot set headers on a WS handshake, and a long-lived API key
        # in the URL query string ends up in access/proxy logs — a
        # 60-second single-use ticket leaks nothing reusable
        self._ws_tickets: Dict[str, tuple] = {}
        self._ws_ticket_lock = threading.Lock()
        self.ws_ticket_ttl_secs = 60.0
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, code: int, body, content_type: str = "application/json"):
                """Send one response. A str body goes out as is under
                `content_type`; anything else is encoded as JSON."""
                if not isinstance(body, str):
                    body = json.dumps(body)
                data = body.encode()
                self.send_response(code)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _identity(self):
                """Resolve the request's AuthIdentity, or None. With no
                AuthStore configured the server is open (returns a
                pseudo-admin, matching the pre-auth behavior)."""
                if outer.auth is None:
                    from inputlayer_spark.auth import AuthIdentity

                    return AuthIdentity("anonymous", "admin")
                key = self.headers.get("X-API-Key")
                if not key:
                    bearer = self.headers.get("Authorization", "")
                    if bearer.startswith("Bearer "):
                        key = bearer[len("Bearer ") :]
                if not key and "?" in self.path:
                    # browsers cannot attach headers to a WebSocket
                    # handshake — the console redeems a one-time ticket
                    # minted via the authenticated POST /ws_ticket. The
                    # long-lived API key itself is NOT accepted in the
                    # query string (it would land in access/proxy logs)
                    from urllib.parse import parse_qs, urlsplit

                    qs = parse_qs(urlsplit(self.path).query)
                    ticket = (qs.get("ticket") or [None])[0]
                    if ticket:
                        return outer._redeem_ws_ticket(ticket)
                if not key:
                    return None
                return outer.auth.authenticate_api_key(key)

            def do_GET(self):
                if self.path == "/health":
                    self._send(200, {"status": "ok"})
                    return
                if self.path in ("/", "/index.html"):
                    # web console (reference gui/): a static shell — every
                    # data call it makes goes through the authenticated
                    # /query and /ws endpoints
                    from inputlayer_spark.gui import render_console

                    self._send(200, render_console(), _HTML)
                    return
                if self.path == "/front" or self.path.startswith("/front/"):
                    # public marketing/landing site (reference front/ +
                    # content/): static server-rendered HTML, no auth —
                    # like the console shell, it carries no data
                    from inputlayer_spark.front import route as front_route

                    page = front_route(self.path)
                    if page is None:
                        self._send(404, {"error": "no such page"})
                        return
                    self._send(200, page, _HTML)
                    return
                if self.path == "/docs" or self.path.startswith("/docs/"):
                    # user documentation (reference gui/app/docs renders
                    # bundled markdown): public static assets like the
                    # console shell. /docs lists pages; /docs/<name>
                    # returns the markdown source (console renders it)
                    from inputlayer_spark.gui import docs_index, docs_page

                    if self.path == "/docs":
                        self._send(200, {"pages": docs_index()})
                        return
                    page = docs_page(self.path[len("/docs/"):])
                    if page is None:
                        self._send(404, {"error": "no such docs page"})
                        return
                    self._send(200, page, "text/markdown; charset=utf-8")
                    return
                ident = self._identity()
                if ident is None:
                    self._send(401, {"error": "invalid or missing API key"})
                    return
                if self.path == "/status":
                    with outer._lock:
                        df = outer.engine.execute(".status")[0]
                        rows = {r["key"]: r["value"] for r in df.collect()}
                    self._send(200, rows)
                elif self.path.split("?", 1)[0] == "/ws" or (
                    self.path.startswith("/sessions/")
                    and self.path.split("?", 1)[0].endswith("/ws")
                ):
                    self._websocket(ident)
                else:
                    self._send(404, {"error": "not found"})

            # ---------------------------------------------- websocket

            def _websocket(self, ident):
                key = self.headers.get("Sec-WebSocket-Key")
                if not key or "websocket" not in (
                    self.headers.get("Upgrade", "").lower()
                ):
                    self._send(400, {"error": "expected websocket upgrade"})
                    return
                self.send_response(101, "Switching Protocols")
                self.send_header("Upgrade", "websocket")
                self.send_header("Connection", "Upgrade")
                self.send_header("Sec-WebSocket-Accept", _ws_accept_key(key))
                self.end_headers()
                self.close_connection = True

                session_id = None
                if self.path.startswith("/sessions/"):
                    session_id = self.path.split("/")[2]
                engine = outer._engine_for(session_id)

                send_lock = threading.Lock()

                def send_json(obj) -> bool:
                    try:
                        with send_lock:
                            self.wfile.write(
                                _ws_frame(0x1, json.dumps(obj).encode())
                            )
                        return True
                    except OSError:
                        return False

                # pushed change notifications for persistent updates
                # (reference ws.rs:23 / handler.rs:837-914). on_change
                # fires synchronously inside engine.execute() with the
                # server lock held — it must NEVER touch the client
                # socket (a peer that stops reading would stall every
                # request on TCP backpressure). Notifications are
                # enqueued and flushed by this connection's own writer
                # thread; a full queue (slow consumer) drops rather than
                # blocks.
                import queue as _queue

                notif_q: _queue.Queue = _queue.Queue(maxsize=256)
                notif_stop = threading.Event()

                def on_change(rel):
                    try:
                        notif_q.put_nowait(
                            {
                                "type": "notification",
                                "event": "persistent_update",
                                "relation": rel,
                            }
                        )
                    except _queue.Full:
                        pass

                def _notif_writer():
                    while not notif_stop.is_set():
                        try:
                            obj = notif_q.get(timeout=0.25)
                        except _queue.Empty:
                            continue
                        if not send_json(obj):
                            return

                notif_thread = threading.Thread(target=_notif_writer, daemon=True)
                notif_thread.start()

                outer.engine.subscribe("*", on_change)
                try:
                    while True:
                        try:
                            frame = _ws_read_frame(self.rfile)
                        except OSError:
                            break  # client went away without a close frame
                        if frame is None:
                            break
                        opcode, data = frame
                        if opcode == 0x8:  # close
                            with send_lock:
                                self.wfile.write(_ws_frame(0x8, data[:2]))
                            break
                        if opcode == 0x9:  # ping → pong
                            with send_lock:
                                self.wfile.write(_ws_frame(0xA, data))
                            continue
                        if opcode != 0x1:
                            continue
                        try:
                            msg = json.loads(data.decode())
                        except ValueError:
                            send_json({"type": "error", "message": "invalid JSON"})
                            continue
                        self._ws_dispatch(ident, engine, msg, send_json)
                finally:
                    outer.engine.unsubscribe("*", on_change)
                    notif_stop.set()
                    notif_thread.join(timeout=1.0)

            def _ws_dispatch(self, ident, engine, msg, send_json):
                mtype = msg.get("type")
                rid = msg.get("id")
                tag = {} if rid is None else {"id": rid}
                try:
                    if mtype == "ping":
                        send_json({"type": "pong", **tag})
                    elif mtype == "query":
                        payloads = outer._run_program(
                            ident, engine, msg.get("query", "")
                        )
                        if payloads:
                            for p in payloads:
                                send_json({"type": "result", **tag, **p})
                        else:
                            send_json({"type": "ack", **tag, "message": "ok"})
                        if rid is not None:
                            # end marker so clients can match multi-frame
                            # replies to requests by id instead of FIFO
                            send_json(
                                {
                                    "type": "done",
                                    "id": rid,
                                    "frames": max(len(payloads), 1),
                                }
                            )
                    elif mtype in ("insert_facts", "retract_facts"):
                        rel, tuples = msg.get("relation"), msg.get("tuples", [])
                        sign = "+" if mtype == "insert_facts" else "-"
                        outer._run_program(
                            ident, engine, _facts_program(sign, rel, tuples)
                        )
                        message = (
                            f"Inserted {len(tuples)} fact(s) into '{rel}'."
                            if sign == "+"
                            else "retracted"
                        )
                        send_json({"type": "ack", **tag, "message": message})
                    elif mtype == "add_rule":
                        outer._run_program(ident, engine, msg.get("rule", ""))
                        send_json({"type": "ack", **tag, "message": "rule added"})
                    else:
                        send_json(
                            {
                                "type": "error",
                                **tag,
                                "message": f"unknown type {mtype!r}",
                            }
                        )
                except QueryTimeout as exc:
                    send_json(
                        {"type": "error", **tag, "code": 408, "message": str(exc)}
                    )
                except Exception as exc:  # noqa: BLE001 — wire errors back
                    send_json({"type": "error", **tag, "message": str(exc)})

            def do_POST(self):
                if self.path == "/ws_ticket":
                    # mint a single-use, short-TTL WebSocket handshake
                    # ticket for the header-authenticated caller
                    ident = self._identity()
                    if ident is None:
                        self._send(
                            401, {"error": "invalid or missing API key"}
                        )
                        return
                    self._send(200, {"ticket": outer._mint_ws_ticket(ident)})
                    return
                if self.path != "/query":
                    self._send(404, {"error": "not found"})
                    return
                ident = self._identity()
                if ident is None:
                    self._send(401, {"error": "invalid or missing API key"})
                    return
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    req = json.loads(self.rfile.read(n) or b"{}")
                    engine = outer._engine_for(req.get("session"))
                    results = outer._run_program(ident, engine, req.get("query", ""))
                    self._send(200, {"results": results})
                except PermissionError as exc:
                    self._send(403, {"error": str(exc)})
                except QueryTimeout as exc:
                    self._send(408, {"error": str(exc)})
                except Exception as exc:  # noqa: BLE001 — wire errors back
                    self._send(400, {"error": str(exc)})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def _authorize_program(self, identity, engine, statements) -> list[str]:
        """Two-layer authorization (reference auth.rs:326-345 +
        handler.rs:4330-4369): layer 1 gates system-level ops by
        global role; layer 2 resolves each statement's target KG
        and gates it by the identity's per-KG role — a non-admin
        with no ACL entry on the target KG is denied outright.
        `.kg use` that passes moves the current-KG cursor so
        later statements in the same program check against the
        right KG.

        Returns the list of KG names the program will NEWLY
        create — the caller grants the creator owner on them
        only AFTER the program executes successfully, mirroring
        handler.rs:4584's switched_kg check. Granting here (or
        for a KG that already exists — engine create is a
        setdefault no-op) would let any global editor hijack
        ownership of an existing KG via `.kg create <name>`."""
        from inputlayer_spark.auth import authorize, authorize_kg, target_kg

        current = engine.current.name
        existing = set(engine.kgs)
        pending_grants: list[str] = []
        for st in statements:
            authorize(identity, st)
            args = list(getattr(st, "args", ()))
            is_kg_meta = getattr(st, "command", None) == "kg"
            if self.auth is not None and identity.role != "admin":
                kg = target_kg(st, current)
                if kg is not None:
                    # a KG this same program creates counts as
                    # owned for the remainder of the program —
                    # the grant is deferred to post-execution,
                    # but 'create foo; use foo; +r(..)' must
                    # authorize like it will after the grant
                    if kg in pending_grants:
                        role = "owner"
                    else:
                        role = self.auth.kg_role_for(kg, identity)
                    if role is None:
                        raise PermissionError("Access denied")
                    authorize_kg(role, st)
            if is_kg_meta and len(args) > 1:
                if args[0] == "use":
                    current = args[1]
                elif args[0] == "create":
                    if args[1] not in existing:
                        existing.add(args[1])
                        if self.auth is not None and identity.role != "admin":
                            pending_grants.append(args[1])
                elif args[0] == "drop":
                    existing.discard(args[1])
                    if args[1] in pending_grants:
                        pending_grants.remove(args[1])
        return pending_grants

    def _apply_creator_grants(self, identity, grants, engine) -> None:
        """Post-execution owner grants for newly created KGs
        (handler.rs:4584 grants only on successful create).

        Called from a ``finally`` so that a multi-statement
        program that creates a KG and then fails on a later
        statement still grants the creator owner on any KG the
        engine actually created — otherwise the creator is
        permanently locked out (re-running `.kg create` is a
        setdefault no-op and queues no grant). Membership in
        ``engine.kgs`` is the ground truth for "was created"."""
        if self.auth is None or not grants:
            return
        for kg in grants:
            if kg in engine.kgs:
                self.auth.grant_kg(kg, identity.username, "owner")

    def _run_program(self, ident, engine, text: str) -> list:
        """Run one client IQL program for `ident` and return one
        `_df_payload` per result. Every REST and WebSocket statement
        comes through here: the program is parsed once, every statement
        is authorized, and it runs under the writer lock with the
        caller's identity set (identity-aware metas such as `.apikey
        create` read it, handler.rs:4433). Raises PermissionError when
        a statement is denied and QueryTimeout when a timed program
        passes its deadline."""
        from inputlayer_spark.ast_nodes import Query
        from inputlayer_spark.parser import parse_program

        statements = parse_program(text).statements
        timed_out = threading.Event()
        watchdog = None
        with self._lock:
            grants = self._authorize_program(ident, engine, statements)
            engine.auth_identity = ident
            # the watchdog times READ-ONLY programs only: cancelling a
            # mutation mid-flight could leave partially applied state,
            # and the reference's knob is a QUERY timeout
            if self.query_timeout_ms > 0 and all(
                isinstance(st, Query) for st in statements
            ):
                # the request's jobs carry a tag of their own: job tags
                # are thread-local and PySpark pins each Python thread to
                # one JVM thread, so every job this handler thread
                # submits (and nothing another thread submits) is tagged
                sc = self.spark.sparkContext
                tag = f"iql-query-{uuid.uuid4().hex}"
                sc.addJobTag(tag)
                done = threading.Event()

                def _watch():
                    if done.wait(self.query_timeout_ms / 1000.0):
                        return
                    timed_out.set()
                    # cancel REPEATEDLY until the handler acknowledges: a
                    # cancel reaches only the jobs running at that moment,
                    # and a statement submits more after it (a fixpoint
                    # runs one job per iteration) under the same tag
                    sc.cancelJobsWithTag(tag)
                    while not done.wait(0.25):
                        sc.cancelJobsWithTag(tag)

                watchdog = threading.Thread(target=_watch, daemon=True)
                watchdog.start()
            try:
                payloads = [_df_payload(df) for df in engine.execute(text)]
            except Exception:
                # past the deadline the cancelled jobs surface as the
                # engine's error; the timeout is the answer
                if not timed_out.is_set():
                    raise
            finally:
                if watchdog is not None:
                    done.set()
                    sc.removeJobTag(tag)
                    watchdog.join(timeout=2)
                engine.auth_identity = None
                self._apply_creator_grants(ident, grants, engine)
        if timed_out.is_set():
            # the jobs were cancelled, or the program finished just after
            # the deadline — either way the client gets the timeout
            raise QueryTimeout(f"query timed out after {self.query_timeout_ms}ms")
        return payloads

    def _engine_for(self, session_id) -> IQLEngine:
        """Session engines share the KG dict (shared base relations +
        persistent rules) but keep their own session facts/rules —
        the reference's snapshot-overlay semantics."""
        if not session_id:
            return self.engine
        import time as _time

        with self._lock:
            now = _time.monotonic()
            if self.session_timeout_secs > 0:
                for sid, last in list(self._session_last_use.items()):
                    if sid != session_id and (
                        now - last > self.session_timeout_secs
                    ):
                        self.sessions.pop(sid, None)
                        self._session_last_use.pop(sid, None)
            self._session_last_use[session_id] = now
            eng = self.sessions.get(session_id)
            if eng is None:
                eng = IQLEngine(self.spark)
                eng.kgs = self.engine.kgs  # shared persistent state
                eng.current = self.engine.current
                eng.auth_store = self.auth
                # config bindings the shared engine carries must follow
                # the session engine too — a session-scoped `.agent`
                # would otherwise fall back to the public default
                # endpoint instead of the configured [agent] llm proxy
                for attr in (
                    "agent_llm_url",
                    "agent_llm_version",
                    "max_query_cost",
                    "enable_subplan_sharing",
                    "enable_magic_sets",
                    "auto_create_kgs",
                    "max_kgs",
                    "persist_format",
                    "persist_compression",
                ):
                    if hasattr(self.engine, attr):
                        setattr(eng, attr, getattr(self.engine, attr))
                # one notification bus across all sessions: a write in any
                # session pushes persistent_update to every connection
                eng._subscribers = self.engine._subscribers
                self.sessions[session_id] = eng
            return eng

    def _mint_ws_ticket(self, identity) -> str:
        """Single-use WS handshake ticket bound to `identity`, expiring
        after ws_ticket_ttl_secs (reference concern: ADVICE r7 — API
        keys in WS URLs persist in access logs)."""
        import secrets
        import time

        token = secrets.token_urlsafe(24)
        now = time.monotonic()
        with self._ws_ticket_lock:
            # purge expired tickets so abandoned mints don't accumulate
            for t in [
                t for t, (_, exp) in self._ws_tickets.items() if exp < now
            ]:
                self._ws_tickets.pop(t, None)
            self._ws_tickets[token] = (
                identity,
                now + self.ws_ticket_ttl_secs,
            )
        return token

    def _redeem_ws_ticket(self, token: str):
        """Consume a ticket: valid at most once, and only before its
        expiry. Returns the bound identity or None."""
        import time

        with self._ws_ticket_lock:
            ent = self._ws_tickets.pop(token, None)
        if ent is None or ent[1] < time.monotonic():
            return None
        return ent[0]

    def start(self) -> "QueryServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread:
            # shutdown() blocks forever unless serve_forever is running —
            # only issue it for a server that was actually start()ed
            self._httpd.shutdown()
            self._thread.join(timeout=5)


def main(argv=None) -> int:
    """`python -m inputlayer_spark.server [--config config.toml]` —
    stand up the HTTP/WS server from the hierarchical config
    (reference: server startup wiring config.rs -> handler; our
    config.py mirrors the toml -> local-toml -> INPUTLAYER_* env
    layering). CLI flags override the config file."""
    import argparse

    from inputlayer_spark.config import Config

    ap = argparse.ArgumentParser(prog="python -m inputlayer_spark.server")
    ap.add_argument("--config", help="config.toml path (else ./config.toml)")
    ap.add_argument("--host", default=None)
    ap.add_argument("--port", type=int, default=None)
    ap.add_argument("--wal-dir", default=None, help="override storage.data_dir")
    args = ap.parse_args(argv)

    cfg = Config.from_file(args.config) if args.config else Config.load()

    if not cfg.http.enabled:
        print("http.enabled = false — server disabled by config")
        return 1

    import os

    # performance.num_threads / shuffle_partitions feed the session
    # factory's env knobs (local[N] + spark.sql.shuffle.partitions);
    # must land before the SparkSession is built
    if cfg.performance.num_threads > 0:
        os.environ["SPARK_GRAFT_CPUS"] = str(cfg.performance.num_threads)
    if cfg.performance.shuffle_partitions > 0:
        os.environ["SPARK_GRAFT_SHUFFLE"] = str(
            cfg.performance.shuffle_partitions
        )

    from inputlayer_spark.session import get_spark

    spark = get_spark("inputlayer-server")
    level = cfg.logging.level.upper()
    spark.sparkContext.setLogLevel(level if level != "WARNING" else "WARN")

    auth = None
    if cfg.http.auth.credentials_file:
        from inputlayer_spark.auth import AuthStore

        auth = AuthStore(cfg.http.auth.credentials_file)
        if cfg.http.auth.bootstrap_admin_password and "admin" not in {
            u["username"] for u in auth.list_users()
        }:
            auth.add_user("admin", cfg.http.auth.bootstrap_admin_password, "admin")

    srv = QueryServer(
        spark,
        host=args.host or cfg.http.host,
        port=args.port if args.port is not None else cfg.http.port,
        auth=auth,
        query_timeout_ms=cfg.performance.query_timeout_ms,
    )
    srv.session_timeout_secs = cfg.http.auth.session_timeout_secs
    wal_dir = args.wal_dir or cfg.storage.data_dir
    if wal_dir and cfg.storage.persistence.enable_wal:
        # rebuild the shared engine durably rooted at data_dir
        srv.engine = IQLEngine(spark, wal_dir=wal_dir)
        srv.engine.auth_store = auth
    srv.engine.max_query_cost = cfg.performance.max_query_cost
    srv.engine.enable_subplan_sharing = cfg.optimization.enable_subplan_sharing
    srv.engine.enable_magic_sets = cfg.optimization.enable_magic_sets
    srv.engine.auto_create_kgs = cfg.storage.auto_create_knowledge_graphs
    srv.engine.max_kgs = cfg.storage.max_knowledge_graphs
    srv.engine.persist_format = cfg.storage.persistence.format
    srv.engine.persist_compression = cfg.storage.persistence.compression
    srv.engine.agent_llm_url = cfg.agent.llm_url
    srv.engine.agent_llm_version = cfg.agent.llm_version
    if not cfg.optimization.enable_join_planning:
        from inputlayer_spark import compiler as _compiler

        _compiler.JOIN_PLANNING_ENABLED = False
    if cfg.storage.default_knowledge_graph != "default":
        srv.engine.execute(
            f".kg create {cfg.storage.default_knowledge_graph}\n"
            f".kg use {cfg.storage.default_knowledge_graph}"
        )
    # storage.persistence.auto_save_interval: periodic `.compact`
    # checkpoints under the writer lock (reference auto-save loop)
    if (
        cfg.storage.persistence.auto_save_interval > 0
        and srv.engine.wal_dir
    ):
        import threading as _threading

        def _auto_save():
            while True:
                _time.sleep(cfg.storage.persistence.auto_save_interval)
                try:
                    with srv._lock:
                        srv.engine.checkpoint()
                except Exception:
                    pass  # next tick retries; compaction is best-effort

        import time as _time

        _threading.Thread(target=_auto_save, daemon=True).start()
    srv.start()
    if cfg.logging.format == "json":
        print(
            json.dumps(
                {
                    "event": "server_started",
                    "host": srv._httpd.server_address[0],
                    "port": srv.port,
                    "data_dir": srv.engine.wal_dir,
                }
            )
        )
    else:
        print(
            "inputlayer-spark server on "
            f"http://{srv._httpd.server_address[0]}:{srv.port}"
        )
    try:
        srv._thread.join()
    except KeyboardInterrupt:
        srv.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
