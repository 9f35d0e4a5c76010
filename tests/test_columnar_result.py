"""The columnar result path and the operation's result lifecycle.

- Statement results stay Arrow from Spark to the wire: a thrift statement in
  collect or incremental mode never builds Python Rows, and the client
  decodes a page column by column, not value by value.
- CloseOperation frees the result and cancels Spark jobs only where some
  can still run.
"""

from __future__ import annotations

import time

import pytest

from kyuubi_spark.gateway import Engine
from kyuubi_spark.gateway.operations import OperationError
from kyuubi_spark.gateway.state import OperationState
from kyuubi_spark.gateway.thrift import ProtocolReader, ThriftClient, ThriftFrontendService


@pytest.fixture
def engine(spark):
    return Engine(spark=spark)


@pytest.fixture
def thrift(engine):
    svc = ThriftFrontendService(engine).start()
    yield svc
    svc.stop()


def _counting(monkeypatch, owner, name: str) -> list:
    calls = []
    original = getattr(owner, name)

    def counted(*a, **kw):
        calls.append(a)
        return original(*a, **kw)

    monkeypatch.setattr(owner, name, counted)
    return calls


def _serving_threads(spark) -> int:
    threads = spark._jvm.java.lang.Thread.getAllStackTraces().keySet().toArray()
    return sum(1 for t in threads if t.getName() == "serve toLocalIterator")


@pytest.mark.parametrize("conf", [None, {"kyuubi.operation.incremental.collect": "true"}],
                         ids=["collect", "incremental"])
def test_thrift_statement_builds_no_rows(thrift, monkeypatch, conf):
    from pyspark.sql.classic.dataframe import DataFrame

    client = ThriftClient(thrift.host, thrift.port)
    client.open_session(user="columnar", conf=conf)
    collects = _counting(monkeypatch, DataFrame, "collect")
    iterators = _counting(monkeypatch, DataFrame, "toLocalIterator")
    try:
        op = client.execute(
            "SELECT id, CAST(id AS STRING) AS s, id * 0.5D AS d FROM range(0, 3000, 1, 3)"
        )
        rows = []
        while page := client.fetch(op, 1000):
            rows.extend(page)
        client.close_operation(op)
    finally:
        client.close_session()
        client.close()
    assert [r[0] for r in rows] == list(range(3000))
    assert rows[7] == [7, "7", 3.5]
    assert collects == [] and iterators == []


def test_client_decodes_a_page_in_bulk(thrift, monkeypatch):
    client = ThriftClient(thrift.host, thrift.port)
    client.open_session(user="bulk")
    try:
        op = client.execute(
            "SELECT id, CAST(id AS STRING) AS s, id % 3 = 0 AS b,"
            " IF(id % 5 = 0, NULL, id * 0.25D) AS d FROM range(20000)"
        )
        reads = _counting(monkeypatch, ProtocolReader, "read_value")
        rows = client.fetch(op, 20000)
        monkeypatch.undo()
        client.close_operation(op)
    finally:
        client.close_session()
        client.close()
    assert len(rows) == 20000
    assert rows[5] == [5, "5", False, None] and rows[6] == [6, "6", True, 1.5]
    # the reply and the request it answers are a few dozen structs and
    # lists, however many values the four columns carry
    assert len(reads) < 100, len(reads)


def test_close_finished_collect_op_skips_job_cancel(engine, spark, monkeypatch):
    s = engine.open_session(user="closer")
    try:
        cancels = _counting(monkeypatch, spark.sparkContext, "cancelJobGroup")
        op = s.execute_statement("SELECT id FROM range(100)")
        assert len(op.get_next_row_set(size=10)) == 10
        op.close()
        assert op.state is OperationState.CLOSED
        assert cancels == []
    finally:
        engine.close_session(s.handle)


def test_close_incremental_op_mid_stream_cancels_and_stops_serving(engine, spark, monkeypatch):
    s = engine.open_session(
        user="streamer", conf={"kyuubi.operation.incremental.collect": "true"}
    )
    try:
        cancels = _counting(monkeypatch, spark.sparkContext, "cancelJobGroup")
        op = s.execute_statement("SELECT id FROM range(0, 1000, 1, 4)")
        assert [r[0] for r in op.get_next_row_set(size=10)] == list(range(10))
        assert _serving_threads(spark) >= 1
        op.close()
        assert cancels == [(op.handle.id,)]
        deadline = time.time() + 10
        while _serving_threads(spark) and time.time() < deadline:
            time.sleep(0.1)
        assert _serving_threads(spark) == 0
    finally:
        engine.close_session(s.handle)


def test_close_frees_results_but_keeps_summary(engine):
    s = engine.open_session(user="freer")
    try:
        ops = []
        for _ in range(5):
            op = s.execute_statement("SELECT id, CAST(id AS STRING) AS s FROM range(10000)")
            assert len(op.get_next_row_set(size=100)) == 100
            op.close()
            ops.append(op)
        assert all(op.state is OperationState.CLOSED for op in ops)
        assert [op._iter for op in ops] == [None] * 5
        for op in ops:
            rec = engine.op_store.get(op.handle.id)
            assert rec["state"] == "CLOSED" and rec["rowsFetched"] == 100
        with pytest.raises(OperationError, match="CLOSED"):
            ops[-1].get_next_row_set()
    finally:
        engine.close_session(s.handle)
