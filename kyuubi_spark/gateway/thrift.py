"""HS2-compatible Thrift binary frontend: TBinaryProtocol + TCLIService subset.

The reference's product API is thrift TCLIService over a TCP socket
(kyuubi-common/.../service/TFrontendService.scala; protocol negotiation
V1-V10 in Session.scala:51-96). This module implements the wire layer from
scratch — no thrift library ships in this container — against the PUBLIC
TCLIService.thrift schema (Apache Hive), in NOSASL plain-socket mode:

- strict TBinaryProtocol (version word 0x80010000, big-endian primitives,
  field-id/field-type framing, generic struct skip for unknown fields);
- the operation subset every JDBC driver needs: OpenSession,
  ExecuteStatement, GetOperationStatus, GetResultSetMetadata,
  FetchResults (V6+ columnar TColumns, null bitmask), CancelOperation,
  CloseOperation, CloseSession;
- dispatch onto the existing gateway objects (Engine/Session/Operation) —
  the thrift layer is ONLY framing; semantics live in gateway.operations.

`ThriftClient` speaks the same protocol for tests and tooling. Scale note:
the server is a thin threaded frontend — every request is O(bytes on the
wire); result paging bounds per-fetch memory exactly like the reference's
FetchResults (maxRows), so driver memory never depends on result size.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading
import uuid
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

from kyuubi_spark.gateway.state import FetchOrientation, OperationState

# -- TBinaryProtocol ---------------------------------------------------------

VERSION_1 = 0x80010000
CALL, REPLY, EXCEPTION = 1, 2, 3


class TType:
    STOP = 0
    BOOL = 2
    BYTE = 3
    DOUBLE = 4
    I16 = 6
    I32 = 8
    I64 = 10
    STRING = 11  # also BINARY on the wire
    STRUCT = 12
    MAP = 13
    SET = 14
    LIST = 15


# Value model for writing:
#   STRUCT -> list[(fid, ftype, value)]   (None values skipped), or bytes
#             already encoded (the TColumns of wire.to_column_based_set)
#   LIST   -> (elem_ftype, [values])
#   MAP    -> (key_ftype, val_ftype, dict)
#   STRING -> str (utf-8) or bytes (binary)


class ProtocolWriter:
    def __init__(self) -> None:
        self.buf = bytearray()

    def message_begin(self, name: str, mtype: int, seqid: int) -> None:
        self.buf += struct.pack(">I", VERSION_1 | mtype)
        self.write_value(TType.STRING, name)
        self.buf += struct.pack(">i", seqid)

    def write_value(self, ftype: int, v: Any) -> None:
        b = self.buf
        if ftype == TType.BOOL:
            b += struct.pack(">b", 1 if v else 0)
        elif ftype == TType.BYTE:
            b += struct.pack(">b", v)
        elif ftype == TType.DOUBLE:
            b += struct.pack(">d", v)
        elif ftype == TType.I16:
            b += struct.pack(">h", v)
        elif ftype == TType.I32:
            b += struct.pack(">i", v)
        elif ftype == TType.I64:
            b += struct.pack(">q", v)
        elif ftype == TType.STRING:
            raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            b += struct.pack(">i", len(raw))
            b += raw
        elif ftype == TType.STRUCT:
            if isinstance(v, bytes):
                b += v
                return
            for fid, ft, fv in v:
                if fv is None:
                    continue
                b += struct.pack(">bh", ft, fid)
                self.write_value(ft, fv)
            b += struct.pack(">b", TType.STOP)
        elif ftype == TType.LIST:
            et, items = v
            b += struct.pack(">bi", et, len(items))
            for it in items:
                self.write_value(et, it)
        elif ftype == TType.MAP:
            kt, vt, d = v
            b += struct.pack(">bbi", kt, vt, len(d))
            for k, val in d.items():
                self.write_value(kt, k)
                self.write_value(vt, val)
        else:
            raise ValueError(f"unsupported thrift type {ftype}")


# fixed-width list elements decode in one struct.unpack per list
_LIST_FMT = {
    TType.BOOL: ("?", 1), TType.BYTE: ("b", 1), TType.DOUBLE: ("d", 8),
    TType.I16: ("h", 2), TType.I32: ("i", 4), TType.I64: ("q", 8),
}
_I32 = struct.Struct(">i")


class ProtocolReader:
    """Generic reader: structs come back as {fid: (ftype, value)} with
    unknown field types skipped — the thrift forward-compat contract.
    Lists of fixed-width values and of strings decode in bulk, not one
    ``read_value`` per element: a FetchResults TColumn is one such list."""

    def __init__(self, rfile) -> None:
        self.f = rfile

    def _read(self, n: int) -> bytes:
        out = b""
        while len(out) < n:
            chunk = self.f.read(n - len(out))
            if not chunk:
                raise EOFError("thrift peer closed")
            out += chunk
        return out

    def _read_strings(self, n: int) -> list[bytes]:
        """n TBinaryProtocol strings. From a buffered stream, every string
        already in its buffer is cut out of one ``peek`` and the lot is
        consumed with one ``read``."""
        peek, unpack, out = getattr(self.f, "peek", None), _I32.unpack_from, []
        append = out.append
        while len(out) < n:
            buf = peek() if peek is not None else b""
            pos, end = 0, len(buf)
            for _ in range(n - len(out)):
                if pos + 4 > end:
                    break
                start = pos + 4
                stop = start + unpack(buf, pos)[0]
                if stop < start:
                    raise ValueError("negative thrift string length")
                if stop > end:
                    break
                append(buf[start:stop])
                pos = stop
            if pos:
                self._read(pos)
            else:  # nothing buffered, or a string longer than the buffer
                append(self._read(_I32.unpack(self._read(4))[0]))
        return out

    def message_begin(self) -> tuple[str, int, int]:
        word = struct.unpack(">I", self._read(4))[0]
        if word & 0xFFFF0000 != VERSION_1:
            raise ValueError(f"bad thrift version word 0x{word:08x}")
        mtype = word & 0xFF
        name = self.read_value(TType.STRING).decode("utf-8")
        seqid = struct.unpack(">i", self._read(4))[0]
        return name, mtype, seqid

    def read_value(self, ftype: int) -> Any:
        if ftype == TType.BOOL:
            return struct.unpack(">b", self._read(1))[0] != 0
        if ftype == TType.BYTE:
            return struct.unpack(">b", self._read(1))[0]
        if ftype == TType.DOUBLE:
            return struct.unpack(">d", self._read(8))[0]
        if ftype == TType.I16:
            return struct.unpack(">h", self._read(2))[0]
        if ftype == TType.I32:
            return struct.unpack(">i", self._read(4))[0]
        if ftype == TType.I64:
            return struct.unpack(">q", self._read(8))[0]
        if ftype == TType.STRING:
            n = struct.unpack(">i", self._read(4))[0]
            return self._read(n)
        if ftype == TType.STRUCT:
            fields: dict[int, tuple[int, Any]] = {}
            while True:
                ft = struct.unpack(">b", self._read(1))[0]
                if ft == TType.STOP:
                    return fields
                fid = struct.unpack(">h", self._read(2))[0]
                fields[fid] = (ft, self.read_value(ft))
        if ftype in (TType.LIST, TType.SET):
            et, n = struct.unpack(">bi", self._read(5))
            if et in _LIST_FMT:
                code, width = _LIST_FMT[et]
                return (et, list(struct.unpack(f">{n}{code}", self._read(n * width))))
            if et == TType.STRING:
                return (et, self._read_strings(n))
            return (et, [self.read_value(et) for _ in range(n)])
        if ftype == TType.MAP:
            kt, vt, n = struct.unpack(">bbi", self._read(6))
            return (kt, vt, {self.read_value(kt): self.read_value(vt) for _ in range(n)})
        raise ValueError(f"unsupported thrift type {ftype}")


# -- TCLIService shapes ------------------------------------------------------

PROTOCOL_V10 = 9  # HIVE_CLI_SERVICE_PROTOCOL_V10 enum ordinal

# TTypeId enum ordinals (public TCLIService.thrift) keyed by the HS2
# type name from schema.hs2_type_name (SchemaHelper.toTTypeId) — NTZ
# rides the TIMESTAMP id, CalendarInterval/Variant/UDT ride STRING
_TYPE_ID = {
    "boolean": 0, "tinyint": 1, "smallint": 2, "int": 3, "bigint": 4,
    "float": 5, "double": 6, "string": 7, "timestamp": 8, "binary": 9,
    "array": 10, "map": 11, "struct": 12, "decimal": 15, "null": 16,
    "date": 17, "varchar": 18, "char": 19,
    "interval_year_month": 20, "interval_day_time": 21,
}

_OP_STATE = {  # TOperationState ordinals
    OperationState.INITIALIZED: 0,
    OperationState.RUNNING: 1,
    OperationState.FINISHED: 2,
    OperationState.CANCELED: 3,
    OperationState.CLOSED: 4,
    OperationState.ERROR: 5,
    OperationState.PENDING: 7,
    OperationState.TIMEOUT: 8,
    OperationState.COMPILED: 1,  # still running from the client's view
}

_ORIENTATION = {
    0: FetchOrientation.FETCH_NEXT,
    1: FetchOrientation.FETCH_PRIOR,
    4: FetchOrientation.FETCH_FIRST,
}


def _status_ok() -> list:
    return [(1, TType.I32, 0)]  # SUCCESS_STATUS


def _status_error(msg: str) -> list:
    return [(1, TType.I32, 3), (5, TType.STRING, msg)]  # ERROR_STATUS


def _handle(guid: bytes) -> list:
    # THandleIdentifier{1: guid, 2: secret}; wrapped by T*Handle{1: ...}
    return [(1, TType.STRUCT, [(1, TType.STRING, guid), (2, TType.STRING, b"\x00" * 16)])]


def _op_handle(guid: bytes, has_results: bool) -> list:
    # TOperationHandle{1: id, 2: opType EXECUTE_STATEMENT=0, 3: hasResultSet}
    return _handle(guid) + [(2, TType.I32, 0), (3, TType.BOOL, has_results)]


def _guid_of(handle_struct: dict) -> bytes:
    ident = handle_struct[1][1]
    return bytes(ident[1][1])


def _simple(dt: T.DataType) -> str:
    from kyuubi_spark.gateway.schema import hs2_type_name

    return hs2_type_name(dt).lower()


def _type_desc(dt: T.DataType, type_id: int | None = None) -> list:
    # TTypeDesc{1: [TTypeEntry{1: TPrimitiveTypeEntry{1: typeId}}]}
    if type_id is None:
        type_id = _TYPE_ID.get(_simple(dt), 7)
    prim = [(1, TType.I32, type_id)]
    entry = [(1, TType.STRUCT, prim)]
    return [(1, TType.LIST, (TType.STRUCT, [entry]))]


def _table_schema(
    schema: T.StructType, wire_tids: list | None = None
) -> list:
    """wire_tids: per-column (name, TTypeId) pairs from a FORWARDED
    operation — the reference's KyuubiOperation relays the engine's
    TTableSchema verbatim, so interval/nested TTypeIds survive the
    second hop instead of collapsing to STRING via a Spark-type
    round-trip (KyuubiOperation.getResultSetMetadata pass-through)."""
    cols = []
    for pos, f in enumerate(schema.fields):
        tid = (
            wire_tids[pos][1]
            if wire_tids is not None and pos < len(wire_tids)
            else None
        )
        cols.append(
            [
                (1, TType.STRING, f.name),
                (2, TType.STRUCT, _type_desc(f.dataType, tid)),
                (3, TType.I32, pos + 1),
            ]
        )
    return [(1, TType.LIST, (TType.STRUCT, cols))]


def _row_set(page, schema: T.StructType, time_zone: str | None = None) -> list:
    """V6+ columnar TRowSet: the TColumns wire.to_column_based_set encodes
    (values vector + LE null bitmask each), spliced in as bytes."""
    from kyuubi_spark.gateway import wire

    tcolumns = wire.to_column_based_set(page, schema, time_zone)
    return [(1, TType.I64, 0), (3, TType.LIST, (TType.STRUCT, tcolumns))]


# -- server ------------------------------------------------------------------


class ThriftFrontendService:
    """Threaded NOSASL thrift frontend over a gateway Engine.

    Reference: TFrontendService.scala (thrift endpoints :186-567); here the
    endpoint bodies delegate to gateway.{Engine,Session,Operation}.
    """

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 0,
        transport: str = "binary",
        auth=None,
        tokens=None,
        ssl_context=None,
    ):
        """``transport``: "binary" (NOSASL TCP, the default HS2 mode) or
        "http" (HS2 HTTP transport mode — each thrift message POSTed to
        /cliservice, reply is the thrift response bytes;
        KyuubiTHttpFrontendService.scala / hive.server2.transport.mode=
        http). Both serve the identical dispatch table.

        ``auth``: an optional ``PasswdAuthenticationProvider``
        (gateway/auth.py). On the binary transport it switches the socket
        to SASL/PLAIN mode (TSaslTransport handshake + length-framed
        data, KyuubiTBinaryFrontendService with an AuthMethod); on HTTP
        it requires a Basic Authorization header
        (BasicAuthenticationHandler.scala). The authenticated principal
        OVERRIDES the username inside OpenSession — the same precedence
        the reference applies via its SASL-derived thread-local user
        (TSetIpAddressProcessor.scala)."""
        self.engine = engine
        self.transport = transport
        self.auth = auth
        # server-side TLS (kyuubi.frontend.thrift.binary.ssl.enabled /
        # kyuubi.frontend.thrift.http.use.SSL + the kyuubi.frontend.ssl.*
        # keystore keys, KyuubiConf.scala:553-612,945-990 — built via
        # gateway/tls.py server_ssl_context).  SASL/Basic credentials ride
        # inside the TLS channel, exactly the reference layering.
        self.ssl_context = ssl_context
        self._sessions: dict[bytes, Any] = {}
        self._operations: dict[bytes, Any] = {}
        self._lock = threading.Lock()
        # delegation-token plane (KyuubiTBinaryFrontendService.scala:
        # 546-566) — HMAC-signed single-node analog, gateway/credentials.py.
        # ``tokens`` may be a shared server-wide manager: the reference has
        # ONE token plane per server, so a token issued over the binary
        # transport must verify/renew/cancel on the HTTP transport too.
        from kyuubi_spark.gateway.credentials import DelegationTokenManager

        self.tokens = tokens if tokens is not None else DelegationTokenManager()
        # live frontend connections (binary: open sockets; http: in-flight
        # POSTs).  The engine retirement loop treats a connected client as
        # activity even before its OpenSession registers a session, so a
        # loaded box cannot retire an engine out from under an in-flight
        # open/statement (reference: engines stop only with no active
        # sessions AND the frontend drained).
        self._conn_lock = threading.Lock()
        self.active_connections = 0

        service = self

        def conn_delta(d: int) -> None:
            with service._conn_lock:
                service.active_connections += d

        def serve_one(reader: "ProtocolReader", auth_user: str | None = None) -> bytes:
            name, _mtype, seqid = reader.message_begin()
            args = reader.read_value(TType.STRUCT)
            if not hasattr(service, f"_do_{name}"):
                # unknown RPC → thrift-level TApplicationException with
                # UNKNOWN_METHOD (1), the TProcessor contract real HS2
                # servers follow — clients key fallbacks off it (e.g.
                # pyhive retries logs via FetchResults fetchType=1 when
                # the legacy GetLog answers UNKNOWN_METHOD)
                w = ProtocolWriter()
                w.message_begin(name, EXCEPTION, seqid)
                w.write_value(TType.STRUCT, [
                    (1, TType.STRING, f"Invalid method name: '{name}'"),
                    (2, TType.I32, 1),  # UNKNOWN_METHOD
                ])
                return bytes(w.buf)
            try:
                result = service.dispatch(name, args, auth_user=auth_user)
            except Exception as e:  # wire-level fault → TStatus error
                result = [(1, TType.STRUCT, _status_error(str(e)))]
            w = ProtocolWriter()
            w.message_begin(name, REPLY, seqid)
            # result struct: field 0 = success
            w.write_value(TType.STRUCT, [(0, TType.STRUCT, result)])
            return bytes(w.buf)

        if transport == "http":
            import io
            from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

            class HttpHandler(BaseHTTPRequestHandler):
                def log_message(self, *a):
                    pass

                def do_POST(self):  # noqa: N802
                    conn_delta(1)
                    try:
                        self._do_post_inner()
                    finally:
                        conn_delta(-1)

                def _do_post_inner(self):
                    if self.path.rstrip("/") != "/cliservice":
                        self.send_response(404)
                        self.end_headers()
                        return
                    auth_user = None
                    if service.auth is not None:
                        # BasicAuthenticationHandler.scala: Basic scheme,
                        # base64(user:password), 401 + WWW-Authenticate on
                        # any failure
                        from kyuubi_spark.gateway.auth import (
                            AuthenticationError,
                            check_basic,
                        )

                        try:
                            auth_user = check_basic(
                                self.headers.get("Authorization"),
                                service.auth,
                            )
                        except AuthenticationError:
                            self.send_response(401)
                            self.send_header(
                                "WWW-Authenticate", 'Basic realm="kyuubi"'
                            )
                            self.end_headers()
                            return
                    n = int(self.headers.get("Content-Length", 0))
                    body = self.rfile.read(n)
                    out = serve_one(
                        ProtocolReader(io.BytesIO(body)), auth_user=auth_user
                    )
                    self.send_response(200)
                    self.send_header("Content-Type", "application/x-thrift")
                    self.send_header("Content-Length", str(len(out)))
                    self.end_headers()
                    self.wfile.write(out)

            self.server = ThreadingHTTPServer((host, port), HttpHandler)
            if self.ssl_context is not None:
                from kyuubi_spark.gateway.tls import wrap_http_server

                wrap_http_server(self.server, self.ssl_context)
        else:

            class Handler(socketserver.StreamRequestHandler):
                def setup(self) -> None:
                    # TLS handshake in the per-connection worker thread
                    # (wrapping the listener would stall the accept loop
                    # on a slow handshaker)
                    if service.ssl_context is not None:
                        self.request = service.ssl_context.wrap_socket(
                            self.request, server_side=True
                        )
                        self.connection = self.request
                    super().setup()

                def handle(self) -> None:
                    conn_delta(1)
                    try:
                        self._handle_inner()
                    finally:
                        conn_delta(-1)

                def _handle_inner(self) -> None:
                    auth_user = None
                    rfile = self.rfile
                    framed = False
                    if service.auth is not None:
                        from kyuubi_spark.gateway import auth as sasl

                        try:
                            auth_user = sasl.server_negotiate(
                                self.rfile, self.wfile, service.auth
                            )
                        except Exception:
                            return  # ERROR/BAD already sent
                        rfile = sasl.SaslFramedFile(self.rfile)
                        framed = True
                    reader = ProtocolReader(rfile)
                    while True:
                        try:
                            out = serve_one(reader, auth_user=auth_user)
                        except (EOFError, ConnectionError):
                            return
                        if framed:
                            from kyuubi_spark.gateway.auth import frame

                            out = frame(out)
                        self.wfile.write(out)
                        self.wfile.flush()

            class Server(socketserver.ThreadingTCPServer):
                allow_reuse_address = True
                daemon_threads = True

            self.server = Server((host, port), Handler)
        self.host, self.port = self.server.server_address
        self._thread: threading.Thread | None = None

    # -- lifecycle --------------------------------------------------------
    def start(self) -> "ThriftFrontendService":
        self._thread = threading.Thread(
            target=self.server.serve_forever, name="thrift-frontend", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    # -- dispatch ---------------------------------------------------------
    def dispatch(self, name: str, args: dict, auth_user: str | None = None) -> list:
        req = args.get(1, (None, {}))[1]  # every TCLIService call has one arg
        fn = getattr(self, f"_do_{name}", None)
        if fn is None:
            return [(1, TType.STRUCT, _status_error(f"unimplemented: {name}"))]
        if name == "OpenSession" and auth_user:
            return self._do_OpenSession(req, auth_user=auth_user)
        return fn(req)

    def _do_OpenSession(self, req: dict, auth_user: str | None = None) -> list:
        # the SASL/Basic-authenticated principal outranks the request's
        # claimed username (reference: SASL-derived user threadlocal) —
        # EXCEPT for engine-secure internal connections, which proved
        # possession of the cluster token and carry the REAL end user in
        # OpenSession (the reference's proxy-user semantics on internal
        # gateway->engine links)
        from kyuubi_spark.gateway.internal_auth import INTERNAL_USER

        if auth_user == INTERNAL_USER:
            auth_user = None
        user = auth_user or req.get(2, (None, b"anonymous"))[1].decode("utf-8")
        conf = {}
        if 4 in req:
            _, _, raw = req[4][1]
            conf = {k.decode(): v.decode() for k, v in raw.items()}
        session = self.engine.open_session(user=user, conf=conf or None)
        guid = uuid.UUID(session.handle.id).bytes
        with self._lock:
            self._sessions[guid] = session
        # protocol negotiation (Session.scala:51-96): serve the lower of the
        # client's requested version and our max
        client_proto = req.get(1, (None, PROTOCOL_V10))[1]
        return [
            (1, TType.STRUCT, _status_ok()),
            (2, TType.I32, min(int(client_proto), PROTOCOL_V10)),
            (3, TType.STRUCT, _handle(guid)),
        ]

    def _do_CloseSession(self, req: dict) -> list:
        guid = _guid_of(req[1][1])
        with self._lock:
            session = self._sessions.pop(guid, None)
        if session is not None:
            self.engine.close_session(session.handle)
        return [(1, TType.STRUCT, _status_ok())]

    def _do_ExecuteStatement(self, req: dict) -> list:
        session = self._session_for(req)
        stmt = req[2][1].decode("utf-8")
        overlay = None
        if 3 in req:
            _, _, raw = req[3][1]
            overlay = {k.decode(): v.decode() for k, v in raw.items()}
        run_async = bool(req.get(4, (None, False))[1])
        # TExecuteStatementReq.5 queryTimeout (i64 seconds, the
        # java.sql.Statement.setQueryTimeout plumbing) maps onto the
        # per-statement timeout conf the operation already enforces
        timeout = int(req.get(5, (None, 0))[1] or 0)
        if timeout > 0:
            overlay = dict(overlay or {})
            overlay.setdefault("kyuubi.operation.query.timeout", str(timeout))
        op = session.execute_statement(stmt, conf_overlay=overlay, run_async=run_async)
        guid = uuid.UUID(op.handle.id).bytes
        with self._lock:
            self._operations[guid] = op
        # sync execution surfaces the failure here (async clients see it via
        # GetOperationStatus, like the reference's state+exception polling)
        if not run_async and op.exception is not None:
            return [
                (1, TType.STRUCT, _status_error(str(op.exception))),
                (2, TType.STRUCT, _op_handle(guid, False)),
            ]
        return [
            (1, TType.STRUCT, _status_ok()),
            (2, TType.STRUCT, _op_handle(guid, True)),
        ]

    # -- metadata operations (JDBC DatabaseMetaData surface) --------------
    def _register_op(self, op) -> list:
        guid = uuid.UUID(op.handle.id).bytes
        with self._lock:
            self._operations[guid] = op
        return [
            (1, TType.STRUCT, _status_ok()),
            (2, TType.STRUCT, _op_handle(guid, True)),
        ]

    @staticmethod
    def _opt_str(req: dict, fid: int) -> str | None:
        if fid not in req:
            return None
        v = req[fid][1]
        return v.decode("utf-8") if isinstance(v, bytes) else v

    def _do_GetCatalogs(self, req: dict) -> list:
        return self._register_op(self._session_for(req).get_catalogs())

    def _do_GetSchemas(self, req: dict) -> list:
        s = self._session_for(req)
        return self._register_op(
            s.get_schemas(self._opt_str(req, 2), self._opt_str(req, 3))
        )

    def _do_GetTables(self, req: dict) -> list:
        s = self._session_for(req)
        types_f = req.get(5)
        table_types = (
            [t.decode("utf-8") for t in types_f[1][1]] if types_f else None
        )
        return self._register_op(
            s.get_tables(
                self._opt_str(req, 2), self._opt_str(req, 3),
                self._opt_str(req, 4), table_types,
            )
        )

    def _do_GetTableTypes(self, req: dict) -> list:
        return self._register_op(self._session_for(req).get_table_types())

    def _do_GetColumns(self, req: dict) -> list:
        s = self._session_for(req)
        return self._register_op(
            s.get_columns(
                self._opt_str(req, 2), self._opt_str(req, 3),
                self._opt_str(req, 4), self._opt_str(req, 5),
            )
        )

    def _do_GetFunctions(self, req: dict) -> list:
        # TGetFunctionsReq: 2: catalogName, 3: schemaName, 4: functionName
        return self._register_op(
            self._session_for(req).get_functions(self._opt_str(req, 4))
        )

    def _do_GetTypeInfo(self, req: dict) -> list:
        return self._register_op(self._session_for(req).get_type_info())

    def _do_GetPrimaryKeys(self, req: dict) -> list:
        return self._register_op(self._session_for(req).get_primary_keys())

    def _do_GetCrossReference(self, req: dict) -> list:
        return self._register_op(self._session_for(req).get_cross_reference())

    def _do_GetInfo(self, req: dict) -> list:
        # TGetInfoReq{1: sessionHandle, 2: infoType}; TGetInfoValue
        # union slot 1 = stringValue (all our info renders as string)
        info = self.engine.get_info()
        info_type = req.get(2, (None, 13))[1]
        by_type = {13: "SERVER_NAME", 17: "DBMS_NAME", 18: "DBMS_VER"}
        value = str(info.get(by_type.get(info_type, "SERVER_NAME"), ""))
        return [
            (1, TType.STRUCT, _status_ok()),
            (2, TType.STRUCT, [(1, TType.STRING, value)]),
        ]

    def _do_GetQueryId(self, req: dict) -> list:
        op = self._operation_for(req)
        return [
            (1, TType.STRUCT, _status_ok()),
            (2, TType.STRING, op.handle.id),
        ]

    # -- delegation tokens (KyuubiTBinaryFrontendService.scala:546-566) ---

    def _do_GetDelegationToken(self, req: dict) -> list:
        self._session_for(req)  # validates the session handle
        owner = self._opt_str(req, 2) or "anonymous"
        renewer = self._opt_str(req, 3) or ""
        token = self.tokens.issue(owner, renewer)
        return [
            (1, TType.STRUCT, _status_ok()),
            (2, TType.STRING, token),
        ]

    def _do_CancelDelegationToken(self, req: dict) -> list:
        self._session_for(req)
        from kyuubi_spark.gateway.credentials import TokenError

        try:
            self.tokens.cancel(self._opt_str(req, 2) or "")
        except TokenError as e:
            return [(1, TType.STRUCT, _status_error(str(e)))]
        return [(1, TType.STRUCT, _status_ok())]

    def _do_RenewDelegationToken(self, req: dict) -> list:
        sess = self._session_for(req)
        from kyuubi_spark.gateway.credentials import TokenError

        try:
            # the renewer identity is the calling session's user (Hadoop
            # renewer-check semantics)
            self.tokens.renew(
                self._opt_str(req, 2) or "",
                renewer=getattr(sess, "user", "") or "",
            )
        except TokenError as e:
            return [(1, TType.STRUCT, _status_error(str(e)))]
        return [(1, TType.STRUCT, _status_ok())]

    def _do_GetOperationStatus(self, req: dict) -> list:
        op = self._operation_for(req)
        out = [
            (1, TType.STRUCT, _status_ok()),
            (2, TType.I32, _OP_STATE.get(op.state, 5)),
        ]
        if op.exception is not None:
            out.append((5, TType.STRING, str(op.exception)))
        return out

    def _do_GetResultSetMetadata(self, req: dict) -> list:
        op = self._operation_for(req)
        schema = op.get_result_set_schema()  # populates wire_type_ids
        return [
            (1, TType.STRUCT, _status_ok()),
            (2, TType.STRUCT, _table_schema(
                schema, getattr(op, "wire_type_ids", None))),
        ]

    def _do_FetchResults(self, req: dict) -> list:
        op = self._operation_for(req)
        orientation = _ORIENTATION.get(req.get(2, (None, 0))[1], FetchOrientation.FETCH_NEXT)
        max_rows = req.get(3, (None, 100))[1]
        # fetchType is FIELD 4 in the public TCLIService IDL
        # (TFetchResultsReq: 1 handle, 2 orientation, 3 maxRows,
        # 4 fetchType) — pinned by the PyHive interop lane, which fetches
        # logs with the Apache-generated client; field 5 is read as a
        # fallback for wire peers of this repo's pre-r09 client
        fetch_type = req.get(4, req.get(5, (None, 0)))[1]
        if fetch_type == 1:
            # fetchType=1 = the operation LOG channel (TFrontendService:522
            # fetchLog) — one string column; agent event streams ride here
            lines = op.fetch_log(int(max_rows))
            log_schema = T.StructType([T.StructField("operation_log", T.StringType())])
            return [
                (1, TType.STRUCT, _status_ok()),
                (2, TType.BOOL, len(lines) == int(max_rows)),
                (3, TType.STRUCT, _row_set([(ln,) for ln in lines], log_schema)),
            ]
        # the columnar page accessor of a local operation; forwarded and
        # JDBC-backed operations page Python rows
        fetch_page = getattr(op, "fetch_page", op.get_next_row_set)
        page = fetch_page(orientation, int(max_rows))
        schema = op.get_result_set_schema()
        # Arrow result mode (ArrowBasedExecuteStatement): the page is a list
        # of pyarrow RecordBatches — ship each as IPC-stream bytes in one
        # binary column, the layout Kyuubi's arrow-enabled JDBC client reads
        if isinstance(page, list) and page and isinstance(page[0], pa.RecordBatch):
            import io

            payloads = []
            for batch in page:
                sink = io.BytesIO()
                with pa.ipc.new_stream(sink, batch.schema) as wr:
                    wr.write_batch(batch)
                payloads.append((sink.getvalue(),))
            arrow_schema = T.StructType([T.StructField("arrowBatch", T.BinaryType())])
            return [
                (1, TType.STRUCT, _status_ok()),
                (2, TType.BOOL, len(page) == int(max_rows)),
                (3, TType.STRUCT, _row_set(payloads, arrow_schema)),
            ]
        return [
            (1, TType.STRUCT, _status_ok()),
            (2, TType.BOOL, len(page) == int(max_rows)),
            (3, TType.STRUCT, _row_set(page, schema, getattr(op, "time_zone", None))),
        ]

    def _do_CancelOperation(self, req: dict) -> list:
        self._operation_for(req).cancel()
        return [(1, TType.STRUCT, _status_ok())]

    def _do_CloseOperation(self, req: dict) -> list:
        guid = _guid_of(req[1][1])
        with self._lock:
            op = self._operations.pop(guid, None)
        if op is not None:
            # through its session, which otherwise holds the closed
            # operation until CloseSession
            close = getattr(getattr(op, "session", None), "close_operation", None)
            if close is None:
                op.close()
            else:
                close(op.handle)
        return [(1, TType.STRUCT, _status_ok())]

    # -- handle resolution ------------------------------------------------
    def _session_for(self, req: dict):
        guid = _guid_of(req[1][1])  # field 1 of every request = the handle
        with self._lock:
            return self._sessions[guid]

    def _operation_for(self, req: dict):
        guid = _guid_of(req[1][1])
        with self._lock:
            return self._operations[guid]


# -- client ------------------------------------------------------------------


class ThriftClient:
    """Minimal TCLIService client (same codec; NOSASL socket by default,
    SASL/PLAIN when ``user`` is given)."""

    def __init__(
        self,
        host: str,
        port: int,
        user: str | None = None,
        password: str = "anonymous",
        ssl_context=None,
        cafile: str | None = None,
    ):
        self.sock = socket.create_connection((host, port))
        if ssl_context is None and cafile is not None:
            from kyuubi_spark.gateway.tls import client_ssl_context

            ssl_context = client_ssl_context(cafile=cafile)
        if ssl_context is not None:
            self.sock = ssl_context.wrap_socket(
                self.sock, server_hostname=host
            )
        self.rfile = self.sock.makefile("rb", buffering=1 << 16)
        self._sasl = user is not None
        if self._sasl:
            from kyuubi_spark.gateway import auth as sasl

            wfile = self.sock.makefile("wb")
            sasl.client_negotiate(self.rfile, wfile, user, password)
            self.rfile = sasl.SaslFramedFile(self.rfile)
        self._seq = 0
        # one socket, strictly request/response: serialize RPCs so
        # concurrent operations (remote-session status polls vs fetches)
        # can't interleave frames — KyuubiSyncThriftClient wraps every
        # RPC in a lock for the same reason
        self._rpc_lock = threading.Lock()
        self.session_guid: bytes | None = None

    def close(self) -> None:
        # shutdown() sends FIN regardless of live makefile() wrappers —
        # sock.close() alone leaves the fd open while self.rfile holds it,
        # and the peer (an engine counting open frontend connections as
        # activity) would never see the disconnect
        try:
            self.sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        try:
            f = self.rfile
            f = getattr(f, "_rfile", f)  # unwrap SaslFramedFile
            f.close()
        except Exception:
            pass
        try:
            self.sock.close()
        except OSError:
            pass

    def _roundtrip(self, payload: bytes) -> "ProtocolReader":
        if self._sasl:
            from kyuubi_spark.gateway.auth import frame

            payload = frame(payload)
        self.sock.sendall(payload)
        return ProtocolReader(self.rfile)

    def _call(self, name: str, req_struct: list) -> dict:
        with self._rpc_lock:
            return self._call_locked(name, req_struct)

    def _call_locked(self, name: str, req_struct: list) -> dict:
        self._seq += 1
        w = ProtocolWriter()
        w.message_begin(name, CALL, self._seq)
        w.write_value(TType.STRUCT, [(1, TType.STRUCT, req_struct)])
        reader = self._roundtrip(bytes(w.buf))
        rname, mtype, _ = reader.message_begin()
        if mtype == EXCEPTION:
            raise RuntimeError(f"thrift exception from {rname}")
        result = reader.read_value(TType.STRUCT)
        resp = result[0][1]  # success field
        status = resp.get(1, (None, {}))[1]
        code = status.get(1, (None, 0))[1]
        if code not in (0, 1):  # SUCCESS / SUCCESS_WITH_INFO
            msg = status.get(5, (None, b""))[1]
            raise RuntimeError(
                msg.decode("utf-8") if isinstance(msg, bytes) else str(msg)
            )
        return resp

    # -- operations -------------------------------------------------------
    def open_session(self, user: str = "anonymous", conf: dict | None = None) -> None:
        req = [(1, TType.I32, PROTOCOL_V10), (2, TType.STRING, user)]
        if conf:
            req.append((4, TType.MAP, (TType.STRING, TType.STRING, dict(conf))))
        resp = self._call("OpenSession", req)
        self.session_guid = _guid_of(resp[3][1])

    def close_session(self) -> None:
        assert self.session_guid is not None
        self._call("CloseSession", [(1, TType.STRUCT, _handle(self.session_guid))])
        self.session_guid = None

    def execute(
        self,
        sql: str,
        conf_overlay: dict | None = None,
        run_async: bool = False,
        query_timeout: int = 0,
    ) -> bytes:
        """TExecuteStatementReq: 1 handle, 2 statement, 3 confOverlay,
        4 runAsync, 5 queryTimeout — per-statement conf (result format,
        incremental collect, ...), async submission, and the JDBC
        setQueryTimeout seconds ride the wire so forwarded sessions keep
        the full statement surface."""
        assert self.session_guid is not None
        req = [
            (1, TType.STRUCT, _handle(self.session_guid)),
            (2, TType.STRING, sql),
        ]
        if conf_overlay:
            req.append(
                (3, TType.MAP, (TType.STRING, TType.STRING,
                                {str(k): str(v)
                                 for k, v in conf_overlay.items()}))
            )
        if run_async:
            req.append((4, TType.BOOL, True))
        if query_timeout > 0:
            req.append((5, TType.I64, int(query_timeout)))
        resp = self._call("ExecuteStatement", req)
        return _guid_of(resp[2][1])

    def get_delegation_token(self, owner: str, renewer: str = "") -> str:
        assert self.session_guid is not None
        resp = self._call(
            "GetDelegationToken",
            [
                (1, TType.STRUCT, _handle(self.session_guid)),
                (2, TType.STRING, owner),
                (3, TType.STRING, renewer),
            ],
        )
        tok = resp[2][1]
        return tok.decode("utf-8") if isinstance(tok, bytes) else tok

    def cancel_delegation_token(self, token: str) -> None:
        assert self.session_guid is not None
        self._call(
            "CancelDelegationToken",
            [
                (1, TType.STRUCT, _handle(self.session_guid)),
                (2, TType.STRING, token),
            ],
        )

    def renew_delegation_token(self, token: str) -> None:
        assert self.session_guid is not None
        self._call(
            "RenewDelegationToken",
            [
                (1, TType.STRUCT, _handle(self.session_guid)),
                (2, TType.STRING, token),
            ],
        )

    def operation_state(self, op_guid: bytes) -> int:
        resp = self._call(
            "GetOperationStatus", [(1, TType.STRUCT, _op_handle(op_guid, True))]
        )
        return resp[2][1]

    def result_schema(self, op_guid: bytes) -> list[tuple[str, int]]:
        resp = self._call(
            "GetResultSetMetadata", [(1, TType.STRUCT, _op_handle(op_guid, True))]
        )
        cols = resp[2][1][1][1][1]  # schema.columns list
        out = []
        for col in cols:
            cname = col[1][1].decode("utf-8")
            type_id = col[2][1][1][1][1][0][1][1][1][1]
            out.append((cname, type_id))
        return out

    def fetch_log(self, op_guid: bytes, max_rows: int = 100) -> list[str]:
        rows = self.fetch(op_guid, max_rows, fetch_type=1)
        return [r[0] for r in rows]

    def fetch(
        self,
        op_guid: bytes,
        max_rows: int = 100,
        fetch_type: int = 0,
        orientation: int = 0,
    ) -> list[list]:
        resp = self._call(
            "FetchResults",
            [
                (1, TType.STRUCT, _op_handle(op_guid, True)),
                (2, TType.I32, orientation),
                (3, TType.I64, max_rows),
                (4, TType.I16, fetch_type),  # public IDL field id
            ],
        )
        rowset = resp[3][1]
        columns = rowset.get(3, (None, (TType.STRUCT, [])))[1][1]
        cols = []
        for tcol in columns:
            slot, (_, inner) = next(iter(tcol.items()))
            values = inner[1][1][1]  # decoded in bulk by the reader
            if slot == 7:  # TStringColumn: UTF-8 text; 8 (binary) stays bytes
                values = list(map(bytes.decode, values))
            nulls = np.frombuffer(inner[2][1], np.uint8)
            if nulls.any():
                isnull = np.unpackbits(nulls, bitorder="little")[: len(values)]
                for i in np.flatnonzero(isnull).tolist():
                    values[i] = None
            cols.append(values)
        return [list(row) for row in zip(*cols)]

    def close_operation(self, op_guid: bytes) -> None:
        self._call("CloseOperation", [(1, TType.STRUCT, _op_handle(op_guid, True))])

    def cancel_operation(self, op_guid: bytes) -> None:
        self._call("CancelOperation", [(1, TType.STRUCT, _op_handle(op_guid, True))])

    def metadata_op(self, method: str, extra_fields: list | None = None) -> bytes:
        """Issue a JDBC metadata call (GetTables, GetSchemas, ...); returns
        the operation guid to fetch from."""
        assert self.session_guid is not None
        req = [(1, TType.STRUCT, _handle(self.session_guid))]
        req.extend(extra_fields or [])
        resp = self._call(method, req)
        return _guid_of(resp[2][1])


class ThriftHttpClient(ThriftClient):
    """TCLIService over the HTTP transport mode: the same binary-protocol
    payload POSTed to /cliservice per call (hive.server2.transport.mode=
    http client side)."""

    def __init__(
        self,
        host: str,
        port: int,
        path: str = "/cliservice",
        user: str | None = None,
        password: str = "anonymous",
        ssl_context=None,
        cafile: str | None = None,
    ):
        # no socket: every call is one HTTP roundtrip (still serialized —
        # _seq and response ordering stay coherent)
        if ssl_context is None and cafile is not None:
            from kyuubi_spark.gateway.tls import client_ssl_context

            ssl_context = client_ssl_context(cafile=cafile)
        self._ssl_context = ssl_context
        scheme = "https" if ssl_context is not None else "http"
        self.url = f"{scheme}://{host}:{port}{path}"
        self._seq = 0
        self._rpc_lock = threading.Lock()
        self.session_guid: bytes | None = None
        self._basic: str | None = None
        if user is not None:
            import base64

            blob = base64.b64encode(f"{user}:{password}".encode()).decode()
            self._basic = f"Basic {blob}"

    def close(self) -> None:
        pass

    def _roundtrip(self, payload: bytes) -> "ProtocolReader":
        import io
        import urllib.request

        headers = {"Content-Type": "application/x-thrift"}
        if self._basic:
            headers["Authorization"] = self._basic
        req = urllib.request.Request(
            self.url, data=payload, method="POST", headers=headers,
        )
        with urllib.request.urlopen(req, context=self._ssl_context) as resp:
            return ProtocolReader(io.BytesIO(resp.read()))
