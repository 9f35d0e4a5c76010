"""Authentication plane: pluggable password providers + SASL/PLAIN wire.

Reference semantics (public Apache Kyuubi / Hive / Thrift protocols):

- ``AuthenticationProviderFactory.scala``: selects a
  ``PasswdAuthenticationProvider`` per ``AuthMethods`` value — NONE →
  anonymous, JDBC → query a credential table, LDAP → wire-level simple
  bind (gateway/ldap.py, no client library needed), CUSTOM →
  user-supplied class.
- ``JdbcAuthenticationProviderImpl.scala:36-46``: the auth query carries
  ``${user}`` / ``${password}`` placeholders and is executed as a bound
  PreparedStatement; authentication succeeds iff it returns at least one
  row.  Mirrored here with DBAPI parameter binding (never string
  interpolation — same injection discipline as sources/jdbc_dialect.py).
- ``PlainSASLServer.scala:37-86``: the SASL/PLAIN initial response is
  ``[authzid] NUL authcid NUL passwd``; empty user or password is a
  protocol error.
- Thrift's public ``TSaslTransport`` framing: negotiation messages are
  ``status byte + 4-byte big-endian length + payload`` with status codes
  START=1 OK=2 BAD=3 ERROR=4 COMPLETE=5; after COMPLETE every thrift
  message travels in ``4-byte length + payload`` data frames (auth-only
  QOP — no integrity/confidentiality wrapping, matching the reference's
  default ``SaslQOP.AUTH``).
"""

from __future__ import annotations

import struct
from typing import Callable


class AuthenticationError(Exception):
    """Raised when a provider rejects a credential pair (javax.security.
    sasl.AuthenticationException analog)."""


class PasswdAuthenticationProvider:
    """Base provider contract (PasswdAuthenticationProvider.scala):
    ``authenticate`` returns silently on success, raises
    ``AuthenticationError`` on rejection."""

    def authenticate(self, user: str, password: str) -> None:
        raise NotImplementedError


class AnonymousAuthenticationProvider(PasswdAuthenticationProvider):
    """Accepts any non-empty user (AnonymousAuthenticationProviderImpl)."""

    def authenticate(self, user: str, password: str) -> None:
        if not user:
            raise AuthenticationError("no user name provided")


class JdbcAuthenticationProvider(PasswdAuthenticationProvider):
    """Credential-table lookup over any DBAPI connection factory.

    ``query`` uses the reference's ``${user}`` / ``${password}``
    placeholders (JdbcAuthenticationProviderImpl.scala:36-37); each
    occurrence becomes a bound ``?`` parameter in textual order, so
    credentials never enter the SQL text.
    """

    def __init__(self, connect: Callable[[], object], query: str):
        if "${user}" not in query:
            raise ValueError("auth query must reference ${user}")
        self._connect = connect
        # rewrite placeholders to positional binds, recording bind order
        order: list[str] = []
        sql = ""
        rest = query
        while True:
            iu = rest.find("${user}")
            ip = rest.find("${password}")
            if iu == -1 and ip == -1:
                sql += rest
                break
            if ip == -1 or (iu != -1 and iu < ip):
                sql += rest[:iu] + "?"
                order.append("user")
                rest = rest[iu + len("${user}") :]
            else:
                sql += rest[:ip] + "?"
                order.append("password")
                rest = rest[ip + len("${password}") :]
        self._sql = sql
        self._order = order

    def authenticate(self, user: str, password: str) -> None:
        if not user:
            raise AuthenticationError("no user name provided")
        params = [user if k == "user" else password for k in self._order]
        conn = self._connect()
        try:
            cur = conn.cursor() if hasattr(conn, "cursor") else conn
            # DBAPI leaves execute()'s return value undefined (sqlite3
            # returns the cursor, psycopg2/pymysql return None) — always
            # fetch from the cursor itself
            cur.execute(self._sql, params)
            rows = cur.fetchall()
            if cur is not conn:
                cur.close()
        finally:
            close = getattr(conn, "close", None)
            if close:
                close()
        if not rows:
            raise AuthenticationError(f"password check failed for {user}")


class CustomAuthenticationProvider(PasswdAuthenticationProvider):
    """CUSTOM method: instantiate ``module:ClassName`` (the analog of
    kyuubi.authentication.custom.class)."""

    def __init__(self, class_path: str):
        mod_name, _, cls_name = class_path.partition(":")
        if not cls_name:
            raise ValueError(
                "custom auth class must be 'module:ClassName' "
                "(kyuubi.authentication.custom.class analog)"
            )
        import importlib

        cls = getattr(importlib.import_module(mod_name), cls_name)
        self._delegate = cls()

    def authenticate(self, user: str, password: str) -> None:
        self._delegate.authenticate(user, password)


def get_authentication_provider(
    method: str, conf: dict | None = None
) -> PasswdAuthenticationProvider:
    """AuthenticationProviderFactory.getAuthenticationProvider analog."""
    conf = conf or {}
    m = (method or "NONE").upper()
    if m == "NONE":
        return AnonymousAuthenticationProvider()
    if m == "JDBC":
        import sqlite3

        url = conf.get("kyuubi.authentication.jdbc.url", "")
        query = conf.get("kyuubi.authentication.jdbc.query", "")
        if not url or not query:
            raise ValueError(
                "kyuubi.authentication.jdbc.url and .query must be set "
                "for JDBC authentication"
            )
        path = url.removeprefix("jdbc:sqlite:")
        return JdbcAuthenticationProvider(
            lambda: sqlite3.connect(path), query
        )
    if m == "CUSTOM":
        cls = conf.get("kyuubi.authentication.custom.class", "")
        if not cls:
            raise ValueError(
                "kyuubi.authentication.custom.class must be set when "
                "auth method is CUSTOM"
            )
        return CustomAuthenticationProvider(cls)
    if m == "LDAP":
        from kyuubi_spark.gateway.ldap import LdapAuthenticationProvider

        return LdapAuthenticationProvider(conf)
    raise ValueError(f"not a valid authentication method: {method}")


# -- SASL/PLAIN wire ----------------------------------------------------------

PLAIN = b"PLAIN"
START, OK, BAD, ERROR, COMPLETE = 1, 2, 3, 4, 5


def parse_plain_response(payload: bytes) -> tuple[str, str, str]:
    """``[authzid] NUL authcid NUL passwd`` → (authzid, user, password)
    (PlainSASLServer.scala:40-67; authzid defaults to the user)."""
    parts = payload.split(b"\x00")
    if len(parts) == 2:
        authzid, user, passwd = None, parts[0], parts[1]
    elif len(parts) == 3:
        authzid, user, passwd = parts[0], parts[1], parts[2]
    else:
        raise AuthenticationError("invalid PLAIN message format")
    if not user:
        raise AuthenticationError("no user name provided")
    if not passwd:
        raise AuthenticationError("no password provided")
    u = user.decode("utf-8")
    return ((authzid or user).decode("utf-8"), u, passwd.decode("utf-8"))


def plain_response(user: str, password: str, authzid: str = "") -> bytes:
    return b"\x00".join(
        (authzid.encode(), user.encode(), password.encode())
    )


_MAX_NEGOTIATION_PAYLOAD = 1 << 20  # negotiation messages are tiny;
# cap pre-auth allocations so an unauthenticated client can't claim a
# 4 GB frame and balloon the handler


def read_sasl_message(rfile) -> tuple[int, bytes]:
    hdr = rfile.read(5)
    if len(hdr) < 5:
        raise EOFError("sasl negotiation: connection closed")
    status = hdr[0]
    (n,) = struct.unpack(">I", hdr[1:5])
    if n > _MAX_NEGOTIATION_PAYLOAD:
        raise AuthenticationError(f"negotiation payload too large ({n})")
    payload = rfile.read(n) if n else b""
    if len(payload) < n:
        raise EOFError("sasl negotiation: short payload")
    return status, payload


def sasl_message(status: int, payload: bytes = b"") -> bytes:
    return bytes([status]) + struct.pack(">I", len(payload)) + payload


def server_negotiate(
    rfile, wfile, provider: PasswdAuthenticationProvider
) -> str:
    """Server half of the TSaslTransport handshake; returns the
    authenticated user, or raises after sending BAD/ERROR."""
    status, mech = read_sasl_message(rfile)
    if status != START or mech != PLAIN:
        wfile.write(sasl_message(BAD, b"only PLAIN is supported"))
        wfile.flush()
        raise AuthenticationError(f"unsupported mechanism {mech!r}")
    status, payload = read_sasl_message(rfile)
    # Java Thrift's TSaslClientTransport sends the PLAIN initial response
    # with status COMPLETE (saslClient.isComplete() is already true for
    # PLAIN); this repo's own client sends OK. Accept both — rejecting
    # COMPLETE would lock out every reference hive-jdbc/beeline client.
    if status not in (OK, COMPLETE):
        wfile.write(sasl_message(BAD, b"expected initial response"))
        wfile.flush()
        raise AuthenticationError("protocol error in negotiation")
    try:
        _authz, user, passwd = parse_plain_response(payload)
        provider.authenticate(user, passwd)
    except AuthenticationError as e:
        wfile.write(sasl_message(ERROR, str(e).encode()))
        wfile.flush()
        raise
    wfile.write(sasl_message(COMPLETE))
    wfile.flush()
    return user


def client_negotiate(rfile, wfile, user: str, password: str) -> None:
    """Client half: START PLAIN, initial response, expect COMPLETE."""
    wfile.write(sasl_message(START, PLAIN))
    wfile.write(sasl_message(OK, plain_response(user, password)))
    wfile.flush()
    status, payload = read_sasl_message(rfile)
    if status != COMPLETE:
        raise AuthenticationError(
            payload.decode("utf-8", "replace") or f"sasl status {status}"
        )


class SaslFramedFile:
    """File-like adapter over post-negotiation data frames: ``read(n)``
    crosses 4-byte-length frame boundaries transparently (a thrift
    message and its frame are 1:1 on the write side, but readers must
    not assume that)."""

    def __init__(self, rfile):
        self._rfile = rfile
        self._buf = b""

    def _fill(self) -> bool:
        """Append the next frame's payload; False at a clean EOF."""
        hdr = self._rfile.read(4)
        if len(hdr) < 4:
            if self._buf:
                raise EOFError("short sasl data frame")
            return False  # clean EOF between frames
        (ln,) = struct.unpack(">I", hdr)
        payload = self._rfile.read(ln)
        if len(payload) < ln:
            raise EOFError("short sasl data frame")
        self._buf += payload
        return True

    def read(self, n: int) -> bytes:
        while len(self._buf) < n:
            if not self._fill():
                return b""
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def peek(self) -> bytes:
        """The buffered bytes, one frame read if none are (as
        BufferedReader.peek: the thrift reader cuts strings out of it)."""
        if not self._buf:
            self._fill()
        return self._buf


def frame(payload: bytes) -> bytes:
    return struct.pack(">I", len(payload)) + payload


# Short-TTL cache of SUCCESSFUL Basic validations, keyed by a salted
# digest of the header (never the credential itself). HTTP frontends
# authenticate every request — without this, paging a large result over
# thrift-http/Trino nextUri costs one LDAP bind (or credential query)
# per page. Failures are never cached, so a revoked password stops
# working within the TTL. The reference solves the same cost with its
# auth cookie (AuthenticationFilter); a server-side TTL cache is the
# client-transparent form.
_BASIC_TTL_S = 60.0
_BASIC_CACHE_MAX = 1024
_BASIC_CACHE: dict[tuple[int, str], tuple[str, float]] = {}
_BASIC_SALT = __import__("os").urandom(16)


def check_basic(authorization: str | None, provider) -> str:
    """Validate an HTTP ``Authorization: Basic`` header against a
    provider; returns the authenticated user (the one shared filter the
    reference applies across its HTTP frontends,
    BasicAuthenticationHandler.scala / AuthenticationFilter.scala)."""
    import base64
    import hashlib
    import time

    scheme, _, blob = (authorization or "").partition(" ")
    if scheme.lower() != "basic" or not blob:
        raise AuthenticationError("missing Basic credentials")
    key = (
        id(provider),
        hashlib.sha256(_BASIC_SALT + blob.strip().encode()).hexdigest(),
    )
    now = time.monotonic()
    hit = _BASIC_CACHE.get(key)
    if hit is not None and hit[1] > now:
        return hit[0]
    try:
        raw = base64.b64decode(blob.strip()).decode("utf-8")
    except Exception as e:  # malformed base64 → auth failure, not a 500
        raise AuthenticationError("malformed Basic credentials") from e
    user, _, passwd = raw.partition(":")
    provider.authenticate(user, passwd)
    if len(_BASIC_CACHE) >= _BASIC_CACHE_MAX:
        _BASIC_CACHE.clear()  # tiny entries; wholesale reset is fine
    _BASIC_CACHE[key] = (user, now + _BASIC_TTL_S)
    return user
