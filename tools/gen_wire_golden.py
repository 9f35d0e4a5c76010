"""Record the exact FetchResults reply bytes of the thrift frontend.

The corpus is a mixed-type statement (every type of
``tests/test_wire_types.py`` plus NULLs, NaN/±Inf/-0.0, empty and
non-ASCII strings, dates before 1970, a zero DECIMAL(20,10) and a
millisecond timestamp), fetched in every collect mode (collect, take-n,
incremental, spill, arrow format) at page sizes 1, 7, 8, 9 and 5000, which
cross the null-bitmask byte boundary; plus zero-row, DDL/DML (zero-column),
metadata (GetTypeInfo) and operation-log replies.  Each case opens its own
session over the HTTP transport, so every reply is read whole, and pins
the session time zone to UTC.

``tests/test_wire_golden.py`` replays the same corpus and compares byte for
byte; regenerate the file only for an intended wire change:

    TZ=UTC python tools/gen_wire_golden.py [out_file]
"""

from __future__ import annotations

import base64
import gzip
import io
import json
import os
import sys
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tests", "goldens", "wire", "fetch_replies.json.gz")

_ROWS = 23  # spans three null-bitmask bytes

TYPES_SQL = f"""
SELECT
  id,
  NULL AS n,
  CASE WHEN id % 5 = 4 THEN NULL ELSE id % 2 = 0 END AS b,
  CASE WHEN id % 6 = 5 THEN NULL ELSE CAST(id * 11 - 128 AS TINYINT) END AS i8,
  CAST(id * 2900 - 32768 AS SMALLINT) AS i16,
  CASE WHEN id % 7 = 3 THEN NULL
       ELSE CAST(id * 195225786 - 2147483648 AS INT) END AS i32,
  CASE WHEN id = 0 THEN -9223372036854775808L
       WHEN id = 1 THEN 9223372036854775807L
       WHEN id % 8 = 5 THEN NULL
       ELSE id * 1000000007L - 11 END AS i64,
  element_at(array(CAST('NaN' AS FLOAT), CAST('Infinity' AS FLOAT),
                   CAST('-Infinity' AS FLOAT), CAST('-0.0' AS FLOAT),
                   CAST(1.2 AS FLOAT), NULL, CAST(3.4028235E38 AS FLOAT),
                   CAST(1.4E-45 AS FLOAT)),
             CAST(id % 8 + 1 AS INT)) AS f,
  element_at(array(CAST('NaN' AS DOUBLE), CAST('Infinity' AS DOUBLE),
                   CAST('-Infinity' AS DOUBLE), CAST('-0.0' AS DOUBLE), 4.2D,
                   NULL, 1.7976931348623157E308D, 4.9E-324D, 0.1D + 0.2D),
             CAST(id % 9 + 1 AS INT)) AS d,
  element_at(array('kyuubi', '', NULL, 'héllo wörld', '日本語', 'tab\\there',
                   'quote"x', 'emoji 🚀', 'line\\nbreak'),
             CAST(id % 9 + 1 AS INT)) AS s,
  CASE WHEN id % 7 = 6 THEN NULL
       ELSE CAST(id * 123.45 - 1000 AS DECIMAL(12,2)) END AS dec,
  element_at(array(CAST(0 AS DECIMAL(20,10)), CAST(1.5 AS DECIMAL(20,10)),
                   CAST(-0.0000001 AS DECIMAL(20,10)),
                   CAST(0.0000000001 AS DECIMAL(20,10)),
                   CAST(1234567890.0123456789 AS DECIMAL(20,10)), NULL),
             CAST(id % 6 + 1 AS INT)) AS dec10,
  element_at(array(CAST('12345678901234567890.123456789012345678' AS DECIMAL(38,18)),
                   CAST('-0.000000000000000001' AS DECIMAL(38,18)),
                   CAST(0 AS DECIMAL(38,18)), NULL),
             CAST(id % 4 + 1 AS INT)) AS dec38,
  CASE WHEN id % 8 = 7 THEN NULL
       ELSE date_add(DATE '1969-12-25', CAST(id * 1000 - 11000 AS INT)) END AS dt,
  element_at(array(DATE '0001-01-01', DATE '1582-10-04', DATE '1582-10-15',
                   DATE '1900-02-28', DATE '9999-12-31', NULL),
             CAST(id % 6 + 1 AS INT)) AS dt_edge,
  element_at(array(TIMESTAMP '2018-11-17 13:33:33.120',
                   TIMESTAMP '2018-11-17 13:33:33',
                   TIMESTAMP '1969-12-31 23:59:59.999999',
                   TIMESTAMP '1900-01-01 00:00:00.000001', NULL,
                   TIMESTAMP '2038-01-19 03:14:08.5'),
             CAST(id % 6 + 1 AS INT)) AS ts,
  element_at(array(make_timestamp_ntz(2022, 3, 24, 18, 8, 31.8888),
                   TIMESTAMP_NTZ '1960-01-01 00:00:00', NULL),
             CAST(id % 3 + 1 AS INT)) AS ntz,
  element_at(array(CAST('kyuubi' AS BINARY), X'', NULL, X'00FF10',
                   CAST('日本' AS BINARY)),
             CAST(id % 5 + 1 AS INT)) AS bin,
  element_at(array(INTERVAL '0 00:00:30' DAY TO SECOND,
                   INTERVAL '-0 00:59:30' DAY TO SECOND,
                   INTERVAL '10 01:02:03.000004' DAY TO SECOND, NULL),
             CAST(id % 4 + 1 AS INT)) AS dti,
  element_at(array(INTERVAL '0-3' YEAR TO MONTH, INTERVAL '-3-1' YEAR TO MONTH,
                   NULL),
             CAST(id % 3 + 1 AS INT)) AS ymi,
  CASE WHEN id % 3 = 2 THEN NULL
       ELSE make_interval(0, 0, 0, CAST(id AS INT), 1, 2, 3.5) END AS cal,
  CASE WHEN id % 4 = 3 THEN NULL
       ELSE parse_json(concat('{{"a":', id, ',"s":"x"}}')) END AS var,
  element_at(array(array(1), array(), array(CAST(NULL AS INT)), NULL,
                   array(1, 2, 3)),
             CAST(id % 5 + 1 AS INT)) AS arr,
  element_at(array(array('a"b', NULL, ''), NULL, array('日本')),
             CAST(id % 3 + 1 AS INT)) AS arrs,
  element_at(array(map(1, 2, 3, 4), map(1, CAST(NULL AS INT)), NULL,
                   map_filter(map(1, 2), (k, v) -> false)),
             CAST(id % 4 + 1 AS INT)) AS m,
  CASE WHEN id % 2 = 1 THEN NULL
       ELSE map('b', 1.5D, 'a', CAST('NaN' AS DOUBLE)) END AS ms,
  element_at(array(named_struct('a', 2, 'b', 'x'),
                   named_struct('a', CAST(NULL AS INT), 'b', CAST(NULL AS STRING)),
                   NULL),
             CAST(id % 3 + 1 AS INT)) AS st,
  CASE WHEN id % 5 = 4 THEN NULL
       ELSE array(named_struct(
         't', TIMESTAMP '2018-11-17 13:33:33.120',
         'd', CAST(1.5 AS DECIMAL(5,2)), 'z', CAST(0 AS DECIMAL(20,10)),
         'b', X'414243', 'dt', DATE '1969-07-20', 'f', CAST(1.2 AS FLOAT),
         'i', INTERVAL '1 00:00:00.5' DAY TO SECOND,
         'm', map('k', array(1.5D, NULL)))) END AS nested
FROM range(0, {_ROWS}, 1, 2)
"""

# Parquet cannot store a void column, so the spill mode fetches the rest.
SPILL_SQL = f"SELECT * EXCEPT (n) FROM ({TYPES_SQL})"
EMPTY_SQL = f"SELECT * FROM ({TYPES_SQL}) WHERE id < 0"

MODES = {
    "collect": {},
    "take": {"kyuubi.operation.result.max.rows": "17"},
    "incremental": {"kyuubi.operation.incremental.collect": "true"},
    "spill": {
        "kyuubi.operation.result.saveToFile.enabled": "true",
        "kyuubi.operation.result.saveToFile.minSize": "0",
    },
    "arrow": {"kyuubi.operation.result.format": "arrow"},
}
PAGE_SIZES = (1, 7, 8, 9, 5000)
SESSION_CONF = {"spark.sql.session.timeZone": "UTC"}


def cases():
    """(case id, mode, statements, page size, fetch kind) in corpus order.
    The last statement of each case is the fetched one; fetch kind is
    ``rows``, ``log`` (fetchType=1) or ``typeinfo`` (GetTypeInfo)."""
    out = []
    for mode in MODES:
        sql = SPILL_SQL if mode == "spill" else TYPES_SQL
        for size in PAGE_SIZES:
            out.append((f"types/{mode}/{size}", mode, [sql], size, "rows"))
        out.append((f"empty/{mode}", mode, [EMPTY_SQL], 9, "rows"))
        if mode == "spill":
            continue  # a zero-column result cannot be written to parquet
        out.append((
            f"ddl/{mode}", mode,
            ["DROP TABLE IF EXISTS wire_golden_t",
             "CREATE TABLE wire_golden_t (a INT, s STRING) USING parquet",
             "INSERT INTO wire_golden_t VALUES (1, 'x'), (2, NULL)",
             "DROP TABLE wire_golden_t"],
            9, "rows",
        ))
    out.append(("log/collect", "collect", ["SELECT 1 AS one"], 100, "log"))
    out.append(("typeinfo/7", "collect", [], 7, "typeinfo"))
    out.append(("typeinfo/5000", "collect", [], 5000, "typeinfo"))
    return out


def _post(url: str, payload: bytes) -> bytes:
    req = urllib.request.Request(
        url, data=payload, method="POST",
        headers={"Content-Type": "application/x-thrift"},
    )
    with urllib.request.urlopen(req) as resp:
        return resp.read()


def _page_rows(reply: bytes) -> int:
    from kyuubi_spark.gateway.thrift import ProtocolReader, TType

    reader = ProtocolReader(io.BytesIO(reply))
    reader.message_begin()
    resp = reader.read_value(TType.STRUCT)[0][1]
    columns = resp[3][1].get(3, (None, (TType.STRUCT, [])))[1][1]
    if not columns:
        return 0
    inner = next(iter(columns[0].values()))[1]
    return len(inner[1][1][1])


def fetch_replies(url: str, guid: bytes, size: int, fetch_type: int) -> list[bytes]:
    """Raw FetchResults replies (seqid 1) until an empty page."""
    from kyuubi_spark.gateway.thrift import CALL, ProtocolWriter, TType, _op_handle

    replies = []
    for _ in range(4 * _ROWS):
        w = ProtocolWriter()
        w.message_begin("FetchResults", CALL, 1)
        w.write_value(TType.STRUCT, [(1, TType.STRUCT, [
            (1, TType.STRUCT, _op_handle(guid, True)),
            (2, TType.I32, 0),
            (3, TType.I64, size),
            (4, TType.I16, fetch_type),
        ])])
        reply = _post(url, bytes(w.buf))
        replies.append(reply)
        if _page_rows(reply) == 0:
            break
    return replies


def collect_replies(spark) -> dict[str, list[bytes]]:
    """Run the corpus against a fresh in-process gateway over ``spark``."""
    from kyuubi_spark.gateway import Engine
    from kyuubi_spark.gateway.thrift import ThriftFrontendService, ThriftHttpClient

    svc = ThriftFrontendService(Engine(spark=spark), transport="http").start()
    url = f"http://{svc.host}:{svc.port}/cliservice"
    out: dict[str, list[bytes]] = {}
    try:
        for case_id, mode, statements, size, kind in cases():
            client = ThriftHttpClient(svc.host, svc.port)
            client.open_session(user="golden", conf={**SESSION_CONF, **MODES[mode]})
            try:
                guid = None
                for sql in statements:
                    guid = client.execute(sql)
                if kind == "typeinfo":
                    guid = client.metadata_op("GetTypeInfo")
                out[case_id] = fetch_replies(url, guid, size, 1 if kind == "log" else 0)
                client.close_operation(guid)
            finally:
                client.close_session()
    finally:
        svc.stop()
    return out


def dump(replies: dict[str, list[bytes]], path: str) -> None:
    doc = {k: [base64.b64encode(r).decode() for r in v] for k, v in replies.items()}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with gzip.open(path, "wt", encoding="utf-8") as f:
        json.dump(doc, f, indent=0, sort_keys=True)


def load(path: str = GOLDEN) -> dict[str, list[bytes]]:
    with gzip.open(path, "rt", encoding="utf-8") as f:
        doc = json.load(f)
    return {k: [base64.b64decode(r) for r in v] for k, v in doc.items()}


def main() -> None:
    sys.path.insert(0, ROOT)
    import tempfile

    from kyuubi_spark.session import build_session

    work = tempfile.mkdtemp(prefix="wire-golden-")
    spark = build_session(
        app_name="gen-wire-golden",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    try:
        replies = collect_replies(spark)
    finally:
        spark.stop()
    path = sys.argv[1] if len(sys.argv) > 1 else GOLDEN
    dump(replies, path)
    n = sum(len(v) for v in replies.values())
    print(f"wrote {len(replies)} cases, {n} replies to {path}")


if __name__ == "__main__":
    main()
