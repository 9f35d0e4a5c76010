"""Server-side gateway services: limiter, conf advisor, metadata store,
server DSL, DROP rewrite.

Mirrors the reference's SessionLimiterSuite, FileSessionConfAdvisorSuite,
metadata store suites, and KyuubiOperationPerConnectionSuite DSL tests.
"""

import io
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kyuubi_spark.gateway import Engine  # noqa: E402
from kyuubi_spark.gateway.server import (  # noqa: E402
    FileSessionConfAdvisor,
    MetadataStore,
    SessionLimiter,
    SessionLimitExceeded,
    drop_ignore_nonexistent,
    parse_server_dsl,
)


# -- SessionLimiter (pure python, no spark) ---------------------------------

def test_limiter_per_user():
    lim = SessionLimiter(user_limit=2)
    lim.increment("alice")
    lim.increment("alice")
    with pytest.raises(SessionLimitExceeded, match="per user"):
        lim.increment("alice")
    lim.decrement("alice")
    lim.increment("alice")  # freed slot reusable


def test_limiter_per_ip_and_user_ip():
    lim = SessionLimiter(ip_limit=1, user_ip_limit=1)
    lim.increment("a", "10.0.0.1")
    with pytest.raises(SessionLimitExceeded, match="ipaddress"):
        lim.increment("b", "10.0.0.1")
    lim.increment("b", "10.0.0.2")


def test_limiter_rollback_on_partial_failure():
    # user:ip ok, but user limit hit → the user:ip increment must roll back
    lim = SessionLimiter(user_limit=1, user_ip_limit=5)
    lim.increment("u", "ip1")
    with pytest.raises(SessionLimitExceeded):
        lim.increment("u", "ip2")
    lim.decrement("u", "ip1")
    lim.increment("u", "ip2")  # would fail if ip2's user:ip leaked a count


def test_limiter_unlimited_and_deny():
    lim = SessionLimiter(
        user_limit=1, unlimited_users={"admin"}, deny_users={"mallory"},
        deny_ips={"10.9.9.9"},
    )
    lim.increment("admin")
    lim.increment("admin")  # no limit applies
    with pytest.raises(SessionLimitExceeded, match="deny user"):
        lim.increment("mallory")
    with pytest.raises(SessionLimitExceeded, match="deny ip"):
        lim.increment("ok_user", "10.9.9.9")


# -- FileSessionConfAdvisor -------------------------------------------------

def test_conf_advisor_profiles(tmp_path):
    (tmp_path / "kyuubi-session-team-a.conf").write_text(
        "# team A profile\nspark.sql.shuffle.partitions=4\nkyuubi.operation.result.max.rows=100\n"
    )
    (tmp_path / "kyuubi-session-team-b.conf").write_text(
        "kyuubi.operation.result.max.rows=7\n"
    )
    adv = FileSessionConfAdvisor(tmp_path)
    assert adv.get_conf_overlay("u", {}) == {}
    one = adv.get_conf_overlay("u", {"kyuubi.session.conf.profile": "team-a"})
    assert one["spark.sql.shuffle.partitions"] == "4"
    # later profile wins on conflicts
    both = adv.get_conf_overlay(
        "u", {"kyuubi.session.conf.profile": "team-a, team-b"}
    )
    assert both["kyuubi.operation.result.max.rows"] == "7"
    assert both["spark.sql.shuffle.partitions"] == "4"
    # missing profile file → empty overlay, no error
    assert adv.get_conf_overlay("u", {"kyuubi.session.conf.profile": "nope"}) == {}


# -- MetadataStore ----------------------------------------------------------

def test_metadata_store_roundtrip(tmp_path):
    db = tmp_path / "meta.db"
    store = MetadataStore(db)
    store.insert("b1", "BATCH", "alice", "1.2.3.4", request_name="etl",
                 request_conf={"k": "v"}, request_args=["--x"])
    store.insert("s1", "INTERACTIVE", "bob", state="RUNNING")
    rec = store.get("b1")
    assert rec["real_user"] == "alice" and rec["request_conf"] == {"k": "v"}
    assert [r["identifier"] for r in store.list(session_type="BATCH")] == ["b1"]
    assert [r["identifier"] for r in store.unfinished("BATCH")] == ["b1"]
    store.update_state("b1", "FINISHED", engine_id="app-1", ended=True)
    store.close()
    # recovery path: reopen the same sqlite file
    store2 = MetadataStore(db)
    rec = store2.get("b1")
    assert rec["state"] == "FINISHED" and rec["engine_id"] == "app-1"
    assert rec["end_time"] > 0
    assert store2.unfinished("BATCH") == []
    store2.close()


# -- server DSL + DROP rewrite (pure parsing) -------------------------------

def test_parse_server_dsl():
    assert parse_server_dsl("KYUUBI DESC SESSION") == "session"
    assert parse_server_dsl("kyuubi describe engine;") == "engine"
    assert parse_server_dsl("DESCRIBE SESSION") == "session"
    assert parse_server_dsl("DESC ENGINE;") == "engine"
    assert parse_server_dsl("DESCRIBE TABLE t") is None
    assert parse_server_dsl("select 1") is None


def test_drop_ignore_nonexistent_rewrite():
    assert (
        drop_ignore_nonexistent("DROP TABLE t1")
        == "DROP TABLE IF EXISTS t1"
    )
    assert (
        drop_ignore_nonexistent("drop view v.x ;")
        == "drop view IF EXISTS v.x ;"
    )
    assert (
        drop_ignore_nonexistent("DROP TEMPORARY FUNCTION f")
        == "DROP TEMPORARY FUNCTION IF EXISTS f"
    )
    # already-guarded and non-drop statements pass through untouched
    assert (
        drop_ignore_nonexistent("DROP TABLE IF EXISTS t1")
        == "DROP TABLE IF EXISTS t1"
    )
    assert drop_ignore_nonexistent("SELECT 1") == "SELECT 1"


# -- engine integration (needs spark) ---------------------------------------

@pytest.fixture(scope="module")
def engine(spark):
    return Engine(
        spark=spark,
        conf={
            "kyuubi.server.limit.connections.per.user": "2",
            "kyuubi.server.limit.connections.user.deny.list": "mallory",
            "kyuubi.metadata.store.path": ":memory:",
        },
    )


def test_engine_enforces_session_limit(engine):
    s1 = engine.open_session(user="carol")
    s2 = engine.open_session(user="carol")
    with pytest.raises(SessionLimitExceeded):
        engine.open_session(user="carol")
    engine.close_session(s1.handle)
    s3 = engine.open_session(user="carol")  # slot freed by close
    engine.close_session(s2.handle)
    engine.close_session(s3.handle)
    with pytest.raises(SessionLimitExceeded):
        engine.open_session(user="mallory")


def test_engine_records_session_metadata(engine):
    s = engine.open_session(user="dave", ip_address="9.9.9.9")
    rec = engine.metadata_store.get(s.handle.id)
    assert rec["real_user"] == "dave" and rec["ip_address"] == "9.9.9.9"
    assert rec["state"] == "RUNNING"
    engine.close_session(s.handle)
    rec = engine.metadata_store.get(s.handle.id)
    assert rec["state"] == "CLOSED" and rec["end_time"] > 0


def test_engine_conf_advisor_applies_profile(spark, tmp_path):
    (tmp_path / "kyuubi-session-limits.conf").write_text(
        "kyuubi.operation.result.max.rows=3\n"
    )
    eng = Engine(
        spark=spark,
        conf={"kyuubi.session.conf.advisor.dir": str(tmp_path)},
    )
    s = eng.open_session(
        user="erin", conf={"kyuubi.session.conf.profile": "limits"}
    )
    op = s.execute_statement(
        "select * from range(10)"
    )
    assert len(op.get_next_row_set(size=100)) == 3  # take(3) applied
    eng.close_session(s.handle)


def test_describe_session_and_engine_dsl(spark):
    eng = Engine(spark=spark)
    s = eng.open_session(user="frank")
    op = s.execute_statement("KYUUBI DESC SESSION")
    row = op.get_next_row_set(size=10)[0]
    assert row == (s.handle.id, "frank", "INTERACTIVE")
    assert [f.name for f in op.get_result_set_schema().fields] == [
        "SESSION_ID", "SESSION_USER", "SESSION_TYPE",
    ]
    op = s.execute_statement("KYUUBI DESCRIBE ENGINE;")
    row = op.get_next_row_set(size=10)[0]
    assert [f.name for f in op.get_result_set_schema().fields][:3] == [
        "ENGINE_ID", "ENGINE_NAME", "ENGINE_URL",
    ]
    assert row[0] == spark.sparkContext.applicationId
    eng.close_session(s.handle)


def test_drop_ignore_nonexistent_end_to_end(spark):
    eng = Engine(spark=spark)
    s = eng.open_session(
        user="gina", conf={"spark.sql.optimizer.dropIgnoreNonExistent": "true"}
    )
    # nonexistent table: must not raise with the rewrite enabled
    op = s.execute_statement("DROP TABLE __kyuubi_no_such_table__")
    assert op.exception is None
    eng.close_session(s.handle)

def test_batch_job_records_metadata(engine, tmp_path):
    from kyuubi_spark.gateway.rest import BatchJob

    job = BatchJob("print('hello batch')", store=engine.metadata_store)
    for _ in range(100):
        if job.state in ("FINISHED", "ERROR"):
            break
        import time as _t; _t.sleep(0.1)
    assert job.state == "FINISHED"
    rec = engine.metadata_store.get(job.id)
    assert rec["session_type"] == "BATCH" and rec["state"] == "FINISHED"
    assert rec["end_time"] > 0
    assert engine.metadata_store.unfinished("BATCH") == []


def test_session_write_table_applies_conf(spark, tmp_path):
    from kyuubi_spark.gateway import Engine

    eng = Engine(spark=spark)
    s = eng.open_session(
        user="hank",
        conf={"kyuubi.zorder.enabled": "true", "kyuubi.zorder.cols": "a,b"},
    )
    df = s.spark.range(1000).selectExpr("id % 7 AS a", "id % 13 AS b", "id AS v")
    out = str(tmp_path / "zout")
    s.write_table(df, out)
    back = s.spark.read.parquet(out)
    assert back.count() == 1000
    assert set(back.columns) == {"a", "b", "v"}
    eng.close_session(s.handle)


# -- wire encoding (RowSet.toHiveString / TRowSetGenerator shapes) ----------

def test_to_hive_string_nested_values(spark):
    from pyspark.sql import types as T
    from kyuubi_spark.gateway.wire import to_hive_string

    arr_t = T.ArrayType(T.IntegerType())
    assert to_hive_string([1, 2, None], arr_t) == "[1,2,null]"
    map_t = T.MapType(T.StringType(), T.IntegerType())
    # map entries render sorted, nested keys quoted
    assert to_hive_string({"b": 2, "a": 1}, map_t) == '{"a":1,"b":2}'
    struct_t = T.StructType([
        T.StructField("x", T.StringType()), T.StructField("y", T.BooleanType()),
    ])
    assert to_hive_string(("hi", True), struct_t) == '{"x":"hi","y":true}'
    assert to_hive_string(None, T.IntegerType()) == "NULL"
    assert to_hive_string(None, T.IntegerType(), nested=True) == "null"
    assert to_hive_string(float("nan"), T.DoubleType()) == "NaN"
    import datetime
    assert to_hive_string(
        datetime.datetime(2024, 1, 2, 3, 4, 5, 670000), T.TimestampType()
    ) == "2024-01-02 03:04:05.67"


def test_column_based_set_layout(spark):
    from pyspark.sql import types as T
    from kyuubi_spark.gateway.wire import to_column_based_set, to_row_based_set

    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("a", T.ArrayType(T.IntegerType())),
    ])
    from kyuubi_spark.gateway.thrift import ProtocolReader, TType

    def decode(tcolumn: bytes):
        """-> (union slot, values list, null bitmask) of one TColumn."""
        fields = ProtocolReader(io.BytesIO(tcolumn)).read_value(TType.STRUCT)
        slot, (_, inner) = next(iter(fields.items()))
        return slot, inner[1][1][1], inner[2][1]

    rows = [(1, "x", [1, 2]), (None, None, None), (3, "z", [])]
    ci, cstr, ca = map(decode, to_column_based_set(rows, schema))
    assert ci == (5, [1, 0, 3], b"\x02")  # i64 slot; null → 0, row 1 → bit 1
    assert cstr == (7, [b"x", b"", b"z"], b"\x02")
    assert ca == (7, [b"[1,2]", b"", b"[]"], b"\x02")  # complex rides strings
    rb = to_row_based_set(rows, schema)
    assert rb["rows"][1] == ["NULL", "NULL", "NULL"]
    assert rb["rows"][0] == ["1", "x", "[1,2]"]


def test_hive_string_matches_spark_rendering(spark):
    # ground truth: Spark's own CAST(x AS STRING) for nested types follows
    # the same HiveResult-style format
    from kyuubi_spark.gateway.wire import to_hive_string

    df = spark.sql(
        "SELECT array(1,2,3) AS a, named_struct('k', 5, 'm', 'txt') AS st"
    )
    row = df.collect()[0]
    sp = spark.sql(
        "SELECT CAST(array(1,2,3) AS STRING) AS a,"
        " CAST(named_struct('k', 5, 'm', 'txt') AS STRING) AS st"
    ).collect()[0]
    ours_a = to_hive_string(row["a"], df.schema["a"].dataType)
    # spark cast renders '[1, 2, 3]' with spaces; HS2 wire strips them —
    # assert same content modulo the documented spacing difference
    assert ours_a.replace(",", ", ") == sp["a"]
