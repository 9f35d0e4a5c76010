"""Metadata operations read the session catalog directly.

Each JDBC metadata operation (GetCatalogs, GetSchemas, GetTables,
GetColumns, GetFunctions) must run no Spark job and return exactly the rows
PySpark's ``spark.catalog.list*`` walk gives.  The expected rows are built
here with that walk, which runs Spark jobs, so the job counter is shown to
see them.

The fixture has two databases matched by a ``_`` pattern, a commented
table, a persistent view, a local temp view (seen in both databases), a
global temp view (never listed: ``global_temp`` is not a database here), a
temporary and a persistent function.
"""

from __future__ import annotations

import itertools

import pytest

from kyuubi_spark.gateway import Engine
from kyuubi_spark.gateway import operations as OPS
from kyuubi_spark.gateway import schema as SH

DBS = ("mdops_a", "mdops_b")
_group = itertools.count()


@pytest.fixture(scope="module")
def session(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS mdops_a")
    spark.sql("CREATE DATABASE IF NOT EXISTS mdops_b")
    spark.sql(
        "CREATE TABLE IF NOT EXISTS mdops_a.orders_t (id INT, note STRING) "
        "USING parquet COMMENT 'order facts'"
    )
    spark.sql("CREATE TABLE IF NOT EXISTS mdops_a.items_x (k BIGINT) USING parquet")
    spark.sql(
        "CREATE OR REPLACE VIEW mdops_a.orders_v COMMENT 'ids only' "
        "AS SELECT id FROM mdops_a.orders_t"
    )
    spark.sql(
        "CREATE TABLE IF NOT EXISTS mdops_b.items_y (v DOUBLE, d DATE, "
        "m MAP<STRING, INT>) USING parquet"
    )
    spark.sql(
        "CREATE FUNCTION IF NOT EXISTS default.mdops_abs AS "
        "'org.apache.spark.sql.catalyst.expressions.Abs'"
    )
    spark.range(2).createOrReplaceGlobalTempView("mdops_gtmp")
    engine = Engine(spark=spark)
    s = engine.open_session(user="mdops")
    s.spark.sql("CREATE TEMPORARY VIEW mdops_tmp AS SELECT 1 AS one, 'x' AS two")
    yield s
    engine.close_session(s.handle)
    spark.sql("DROP FUNCTION IF EXISTS default.mdops_abs")
    spark.catalog.dropGlobalTempView("mdops_gtmp")
    for db in DBS:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _jobs(spark, fn):
    """(fn's result, ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"mdops-{next(_group)}"
    sc.setJobGroup(group, "metadata operation")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(session, method, *args, **kw):
    """Rows of a metadata operation, asserting it ran no Spark job."""
    op, jobs = _jobs(session.spark, lambda: getattr(session, method)(*args, **kw))
    assert jobs == [], f"{method} ran Spark jobs {jobs}"
    return [tuple(r) for r in op.get_next_row_set(size=100_000)]


# -- the spark.catalog walk the operations replaced ---------------------------


def _walk_tables(spark, schema_pattern, table_pattern):
    srx = OPS._like_to_regex(schema_pattern)
    trx = OPS._like_to_regex(table_pattern)
    return [
        (db.name, t)
        for db in spark.catalog.listDatabases()
        if srx.match(db.name)
        for t in spark.catalog.listTables(db.name)
        if trx.match(t.name)
    ]


def _expected_tables(spark, schema_pattern, table_pattern, types=()):
    rows = []
    for db, t in _walk_tables(spark, schema_pattern, table_pattern):
        ttype = "VIEW" if t.tableType in ("TEMPORARY", "VIEW") else "TABLE"
        if not types or ttype in types:
            rows.append((
                "spark_catalog", t.namespace[0] if t.namespace else db, t.name,
                ttype, t.description or "",
            ))
    return sorted(rows)


def _expected_columns(spark, schema_pattern, table_pattern, column_pattern):
    crx = OPS._like_to_regex(column_pattern)
    rows = []
    for db, t in _walk_tables(spark, schema_pattern, table_pattern):
        ref = f"`{db}`.`{t.name}`" if not t.isTemporary else f"`{t.name}`"
        for pos, f in enumerate(spark.table(ref).schema.fields):
            if crx.match(f.name):
                rows.append((
                    "spark_catalog", db, t.name, f.name,
                    SH.java_sql_type(f.dataType), f.dataType.simpleString().upper(),
                    SH.column_size(f.dataType), None, SH.decimal_digits(f.dataType),
                    SH.num_prec_radix(f.dataType), 1 if f.nullable else 0, "",
                    None, None, None, None, pos + 1, "YES" if f.nullable else "NO",
                ))
    return rows


def _expected_functions(spark, pattern):
    rx = OPS._like_to_regex(pattern)
    rows = [
        (None, f.namespace[0] if f.namespace else None, f.name,
         f.description or "", 0, f.className or "")
        for f in spark.catalog.listFunctions()
        if rx.match(f.name)
    ]
    return sorted(rows, key=lambda r: r[2])


def _expected(spark, fn):
    """The walk's result, checking that it does run Spark jobs."""
    out, jobs = _jobs(spark, fn)
    assert jobs, "the spark.catalog walk ran no job: the counter sees nothing"
    return out


# -- the operations -----------------------------------------------------------


def test_get_catalogs(session):
    spark = session.spark
    names = {c.name for c in spark.catalog.listCatalogs()} | {"spark_catalog"}
    prefix = "spark.sql.catalog."
    names |= {
        k[len(prefix):] for k in spark.conf.getAll
        if k.startswith(prefix) and "." not in k[len(prefix):]
    }
    assert _rows(session, "get_catalogs") == sorted((n,) for n in names)


@pytest.mark.parametrize("pattern", [None, "mdops__", "%_b", "nope%"])
def test_get_schemas(session, pattern):
    spark = session.spark
    rx = OPS._like_to_regex(pattern)
    want = _expected(spark, lambda: sorted(
        (db.name, "spark_catalog") for db in spark.catalog.listDatabases()
        if rx.match(db.name)
    ))
    got = _rows(session, "get_schemas", schema_pattern=pattern)
    assert got == want
    assert all(r[0] != "global_temp" for r in got)
    if pattern == "mdops__":
        assert [r[0] for r in got] == list(DBS)


@pytest.mark.parametrize(
    "schema_pattern, table_pattern, types",
    [
        ("mdops__", None, ()),
        ("mdops%", "%t_", ()),
        ("mdops_a", "orders%", ("VIEW",)),
        ("mdops%", "%", ("TABLE",)),
        ("mdops%", "%", ("TABLE", "VIEW")),
        (None, None, ()),
    ],
)
def test_get_tables(session, schema_pattern, table_pattern, types):
    spark = session.spark
    want = _expected(
        spark, lambda: _expected_tables(spark, schema_pattern, table_pattern, types)
    )
    got = _rows(
        session, "get_tables", schema_pattern=schema_pattern,
        table_pattern=table_pattern, table_types=list(types) or None,
    )
    assert got == want
    assert all(r[2] != "mdops_gtmp" for r in got)
    if (schema_pattern, table_pattern, types) == ("mdops__", None, ()):
        assert got == [
            ("spark_catalog", "mdops_a", "items_x", "TABLE", ""),
            ("spark_catalog", "mdops_a", "mdops_tmp", "VIEW", ""),
            ("spark_catalog", "mdops_a", "orders_t", "TABLE", "order facts"),
            ("spark_catalog", "mdops_a", "orders_v", "VIEW", "ids only"),
            ("spark_catalog", "mdops_b", "items_y", "TABLE", ""),
            ("spark_catalog", "mdops_b", "mdops_tmp", "VIEW", ""),
        ]


@pytest.mark.parametrize(
    "schema_pattern, table_pattern, column_pattern",
    [("mdops__", None, None), ("mdops%", "%s_%", "_"), ("%_a", "orders_%", "%o%")],
)
def test_get_columns(session, schema_pattern, table_pattern, column_pattern):
    spark = session.spark
    want = _expected(spark, lambda: _expected_columns(
        spark, schema_pattern, table_pattern, column_pattern
    ))
    got = _rows(
        session, "get_columns", schema_pattern=schema_pattern,
        table_pattern=table_pattern, column_pattern=column_pattern,
    )
    assert got == want and got


@pytest.mark.parametrize("pattern", [None, "mdops%", "kyuubi_%", "a_s", "%<%"])
def test_get_functions(session, pattern):
    spark = session.spark
    want = _expected(spark, lambda: _expected_functions(spark, pattern))
    got = _rows(session, "get_functions", function_pattern=pattern)
    assert got == want and got
    if pattern == "mdops%":
        assert [r[1:3] for r in got] == [("default", "mdops_abs")]
