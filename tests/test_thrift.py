"""Thrift frontend round-trip: real TCP socket, TBinaryProtocol framing.

Mirrors the reference's shared JDBC operation suites
(kyuubi-common/.../operation/SparkQueryTests et al.) at the wire level:
open session, execute, poll status, read schema, fetch columnar results,
cancel/close. The codec is exercised end-to-end — bytes over a socket,
not in-process calls.
"""

from __future__ import annotations

import pytest

from kyuubi_spark.gateway.thrift import (
    ProtocolReader,
    ProtocolWriter,
    ThriftClient,
    ThriftFrontendService,
    TType,
)


@pytest.fixture(scope="module")
def thrift_server(spark):
    from kyuubi_spark.gateway import Engine

    svc = ThriftFrontendService(Engine(spark=spark)).start()
    yield svc
    svc.stop()


@pytest.fixture()
def client(thrift_server):
    c = ThriftClient(thrift_server.host, thrift_server.port)
    c.open_session(user="thrift_tester")
    yield c
    try:
        if c.session_guid is not None:
            c.close_session()
    finally:
        c.close()


def test_codec_roundtrip_all_types():
    import io

    w = ProtocolWriter()
    value = [
        (1, TType.BOOL, True),
        (2, TType.BYTE, -7),
        (3, TType.I16, 1234),
        (4, TType.I32, -56789),
        (5, TType.I64, 1 << 40),
        (6, TType.DOUBLE, 3.5),
        (7, TType.STRING, "héllo"),
        (8, TType.LIST, (TType.I32, [1, 2, 3])),
        (9, TType.MAP, (TType.STRING, TType.STRING, {"a": "b"})),
        (10, TType.STRUCT, [(1, TType.I32, 42)]),
    ]
    w.write_value(TType.STRUCT, value)
    r = ProtocolReader(io.BytesIO(bytes(w.buf)))
    got = r.read_value(TType.STRUCT)
    assert got[1] == (TType.BOOL, True)
    assert got[2] == (TType.BYTE, -7)
    assert got[3] == (TType.I16, 1234)
    assert got[4] == (TType.I32, -56789)
    assert got[5] == (TType.I64, 1 << 40)
    assert got[6] == (TType.DOUBLE, 3.5)
    assert got[7][1].decode("utf-8") == "héllo"
    assert got[8][1] == (TType.I32, [1, 2, 3])
    assert got[9][1][2] == {b"a": b"b"}
    assert got[10][1][1] == (TType.I32, 42)


def test_execute_fetch_types(client):
    op = client.execute(
        "SELECT 1 AS i, CAST(2.5 AS DOUBLE) AS d, 'x' AS s, "
        "true AS b, CAST(NULL AS INT) AS n, CAST(7 AS BIGINT) AS l"
    )
    schema = client.result_schema(op)
    assert [c[0] for c in schema] == ["i", "d", "s", "b", "n", "l"]
    # TTypeId ordinals: INT=3, DOUBLE=6, STRING=7, BOOLEAN=0, BIGINT=4
    assert [c[1] for c in schema] == [3, 6, 7, 0, 3, 4]
    rows = client.fetch(op)
    assert rows == [[1, 2.5, "x", True, None, 7]]
    client.close_operation(op)


def test_nested_types_render_as_hive_strings(client):
    op = client.execute("SELECT array(1, 2) AS a, map('k', 1) AS m, named_struct('f', 1) AS st")
    rows = client.fetch(op)
    assert rows == [["[1,2]", '{"k":1}', '{"f":1}']]
    client.close_operation(op)


def test_fetch_paging_and_orientation(client):
    op = client.execute("SELECT id FROM range(10) ORDER BY id")
    first = client.fetch(op, max_rows=4)
    second = client.fetch(op, max_rows=4)
    assert [r[0] for r in first] == [0, 1, 2, 3]
    assert [r[0] for r in second] == [4, 5, 6, 7]
    client.close_operation(op)


def test_operation_status_and_error(client):
    op = client.execute("SELECT 1")
    assert client.operation_state(op) == 2  # FINISHED
    with pytest.raises(RuntimeError):
        client.execute("SELECT * FROM definitely_not_a_table_xyz")


def test_session_isolation_two_clients(thrift_server):
    c1 = ThriftClient(thrift_server.host, thrift_server.port)
    c2 = ThriftClient(thrift_server.host, thrift_server.port)
    try:
        c1.open_session(user="alice")
        c2.open_session(user="bob")
        op1 = c1.execute("SET spark.sql.thrift.test.flag=alice_value")
        c1.fetch(op1)
        op2 = c2.execute("SET spark.sql.thrift.test.flag")
        rows = c2.fetch(op2)
        # bob's clone must not see alice's session conf
        assert rows[0][1] != "alice_value"
        c1.close_session()
        c2.close_session()
    finally:
        c1.close()
        c2.close()


def test_metadata_ops_over_the_wire(client, spark):
    spark.sql("CREATE TABLE IF NOT EXISTS thrift_meta_t (a INT, b STRING) USING parquet")
    try:
        # GetTables: JDBC-shaped rows TABLE_CAT..REMARKS
        op = client.metadata_op(
            "GetTables", [(4, TType.STRING, "thrift_meta_%")]
        )
        rows = client.fetch(op)
        assert any(r[2] == "thrift_meta_t" for r in rows)
        names = [c[0] for c in client.result_schema(op)]
        assert names[:5] == ["TABLE_CAT", "TABLE_SCHEM", "TABLE_NAME", "TABLE_TYPE", "REMARKS"]

        # GetColumns: typed column metadata
        op = client.metadata_op(
            "GetColumns", [(4, TType.STRING, "thrift_meta_t")]
        )
        cols = client.fetch(op)
        got = {(r[3], r[5]) for r in cols}
        assert ("a", "INT") in got and ("b", "STRING") in got

        # GetTableTypes / GetCatalogs / GetTypeInfo respond over the wire
        assert ["TABLE"] in client.fetch(client.metadata_op("GetTableTypes")) or \
               ["VIEW"] in client.fetch(client.metadata_op("GetTableTypes"))
        client.fetch(client.metadata_op("GetCatalogs"))
        type_rows = client.fetch(client.metadata_op("GetTypeInfo"))
        assert any(r[0] == "INT" for r in type_rows)

        # GetPrimaryKeys: empty result, correct JDBC schema (Spark engine)
        op = client.metadata_op("GetPrimaryKeys")
        assert client.fetch(op) == []
        assert [c[0] for c in client.result_schema(op)][:4] == [
            "TABLE_CAT", "TABLE_SCHEM", "TABLE_NAME", "COLUMN_NAME"]
    finally:
        spark.sql("DROP TABLE IF EXISTS thrift_meta_t")


def test_getinfo_crossref_queryid(client):
    # GetInfo: server name / dbms version as TGetInfoValue strings
    resp = client._call("GetInfo", [(1, TType.STRUCT,
        __import__("kyuubi_spark.gateway.thrift", fromlist=["_handle"])._handle(client.session_guid)),
        (2, TType.I32, 18)])
    ver = resp[2][1][1][1].decode("utf-8")
    assert ver[0].isdigit()

    # GetCrossReference: empty rows, full JDBC FK schema
    op = client.metadata_op("GetCrossReference")
    assert client.fetch(op) == []
    assert [c[0] for c in client.result_schema(op)][:3] == [
        "PKTABLE_CAT", "PKTABLE_SCHEM", "PKTABLE_NAME"]

    # GetQueryId echoes the operation id
    op2 = client.execute("SELECT 1")
    resp = client._call("GetQueryId", [(1, TType.STRUCT,
        __import__("kyuubi_spark.gateway.thrift", fromlist=["_op_handle"])._op_handle(op2, True))])
    assert len(resp[2][1].decode("utf-8")) == 36  # uuid string


def test_fetch_operation_log_channel(client):
    op = client.execute("SELECT 1 AS one")
    client.fetch(op)
    log = client.fetch_log(op)
    assert any("executing" in ln for ln in log)
    client.close_operation(op)


def test_arrow_result_mode_over_the_wire(client):
    import io
    import pyarrow as pa

    resp = client._call(
        "ExecuteStatement",
        [
            (1, TType.STRUCT,
             __import__("kyuubi_spark.gateway.thrift", fromlist=["_handle"])._handle(client.session_guid)),
            (2, TType.STRING, "SELECT id, id * 2 AS dbl FROM range(5) ORDER BY id"),
            (3, TType.MAP, (TType.STRING, TType.STRING,
                            {"kyuubi.operation.result.format": "arrow"})),
        ],
    )
    from kyuubi_spark.gateway.thrift import _guid_of
    op = _guid_of(resp[2][1])
    rows = client.fetch(op)
    # each row is one arrow IPC stream payload (binary hex decoded by slot 8)
    tables = []
    for (payload,) in rows:
        buf = payload if isinstance(payload, bytes) else bytes.fromhex(payload)
        with pa.ipc.open_stream(io.BytesIO(buf)) as rd:
            tables.append(rd.read_all())
    tbl = pa.concat_tables(tables)
    assert tbl.column("id").to_pylist() == [0, 1, 2, 3, 4]
    assert tbl.column("dbl").to_pylist() == [0, 2, 4, 6, 8]


def test_protocol_negotiation(thrift_server):
    from kyuubi_spark.gateway.thrift import _handle

    c = ThriftClient(thrift_server.host, thrift_server.port)
    try:
        # request an older protocol (V6 = ordinal 5); server must not exceed it
        resp = c._call("OpenSession", [(1, TType.I32, 5), (2, TType.STRING, "old_client")])
        assert resp[2][1] == 5
        c.session_guid = __import__(
            "kyuubi_spark.gateway.thrift", fromlist=["_guid_of"]
        )._guid_of(resp[3][1])
        c.close_session()
    finally:
        c.close()


def test_delegation_tokens_over_the_wire(client):
    """Get/Renew/CancelDelegationToken (KyuubiTBinaryFrontendService.scala:
    546-566): issue an HMAC-signed token for an owner, renew it through a
    session whose user matches the renewer, cancel it, and see the renewal
    of a canceled token fail."""
    import pytest as _pytest

    tok = client.get_delegation_token("alice", renewer="thrift_tester")
    assert tok.startswith("alice;thrift_tester;")
    client.renew_delegation_token(tok)  # session user == named renewer
    client.cancel_delegation_token(tok)
    with _pytest.raises(RuntimeError, match="canceled|unknown"):
        client.renew_delegation_token(tok)


def test_http_transport_mode(spark):
    """HS2 HTTP transport (KyuubiTHttpFrontendService): the same thrift
    payloads over POST /cliservice — full open/execute/fetch/metadata/
    close lifecycle against the http-mode frontend."""
    from kyuubi_spark.gateway import Engine
    from kyuubi_spark.gateway.thrift import ThriftFrontendService, ThriftHttpClient

    svc = ThriftFrontendService(Engine(spark=spark), transport="http").start()
    try:
        c = ThriftHttpClient(svc.host, svc.port)
        c.open_session(user="http_tester")
        op = c.execute("SELECT 10 * 9 AS v, 'http' AS t")
        assert [r for r in c.fetch(op, 10)] == [[90, "http"]]
        schema = c.result_schema(op)
        assert [s[0] for s in schema] == ["v", "t"]
        tok = c.get_delegation_token("alice", renewer="http_tester")
        c.renew_delegation_token(tok)
        c.close_session()
    finally:
        svc.stop()


def test_beeline_cli_one_shot(thrift_server, capsys):
    """tools/beeline.py (kyuubi-hive-beeline analog): one-shot -e mode,
    table and csv rendering over the live thrift frontend."""
    import sys as _sys

    _sys.path.insert(0, __file__.rsplit("/tests/", 1)[0])
    from tools import beeline

    rc = beeline.main([
        "-u", f"{thrift_server.host}:{thrift_server.port}",
        "-e", "SELECT 1 AS a, 'x' AS b; SELECT 2 AS only",
        "--outputformat", "csv",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "a,b\n1,x" in out
    assert "only\n2" in out
    rc = beeline.main([
        "-u", f"{thrift_server.host}:{thrift_server.port}",
        "-e", "SELECT 42 AS answer",
    ])
    out = capsys.readouterr().out
    assert "| answer |" in out and "| 42" in out and "1 row(s) selected" in out
    # error statements exit non-zero but don't crash
    rc = beeline.main([
        "-u", f"{thrift_server.host}:{thrift_server.port}",
        "-e", "SELECT * FROM no_such_table",
    ])
    assert rc == 1


def test_close_operation_drops_it_from_the_session(thrift_server, client):
    import uuid

    session = thrift_server._sessions[client.session_guid]
    ids = []
    for i in range(5):
        op = client.execute(f"SELECT {i} AS i")
        assert client.fetch(op) == [[i]]
        client.close_operation(op)
        ids.append(str(uuid.UUID(bytes=op)))
    op = client.metadata_op("GetTableTypes")
    client.fetch(op)
    client.close_operation(op)
    assert session.operations == {}
    for oid in ids:
        rec = thrift_server.engine.op_store.get(oid)
        assert rec["state"] == "CLOSED" and rec["rowsFetched"] == 1
    client.close_operation(op)  # closing twice is not an error


@pytest.mark.parametrize("incremental", ["false", "true"])
@pytest.mark.parametrize(
    "process_tz, session_tz, literal, want",
    [
        # the literal is read in the session zone and rendered in it
        ("America/Los_Angeles", "UTC", "2018-11-17 13:33:33", "2018-11-17 13:33:33"),
        # 13:33:33 UTC is 05:33:33 on the session's Pacific wall clock
        ("UTC", "America/Los_Angeles", "2018-11-17 13:33:33 UTC", "2018-11-17 05:33:33"),
    ],
)
def test_timestamps_render_in_the_session_time_zone(
    thrift_server, monkeypatch, incremental, process_tz, session_tz, literal, want
):
    import time

    monkeypatch.setenv("TZ", process_tz)
    time.tzset()
    c = ThriftClient(thrift_server.host, thrift_server.port)
    try:
        c.open_session(user="tz_tester", conf={
            "spark.sql.session.timeZone": session_tz,
            "kyuubi.operation.incremental.collect": incremental,
        })
        op = c.execute(
            "SELECT ts, array(ts) AS a, named_struct('t', ts) AS s, "
            "map(ts, ts) AS m FROM (SELECT TIMESTAMP '" + literal + "' AS ts)"
        )
        assert c.fetch(op) == [
            [want, f"[{want}]", f'{{"t":{want}}}', f"{{{want}:{want}}}"]
        ]
        c.close_session()
    finally:
        c.close()
        monkeypatch.undo()
        time.tzset()
