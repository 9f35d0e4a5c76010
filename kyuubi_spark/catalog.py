"""Catalog listings read straight from the session's ``SessionCatalog``.

PySpark's ``spark.catalog.list*`` build a JVM Dataset and walk it with
``toLocalIterator()``, which runs a Spark job per partition, then read
every field of every entry with its own py4j call. The readers here call
``spark._jsparkSession.sessionState().catalog()`` instead, as Kyuubi's
SparkCatalogUtils does on the JVM: they run no Spark job, and a list of
names crosses py4j as one joined string.

The entries keep the order and the content of the ``spark.catalog`` walk
they replace:

- databases are ``listDatabases()``; ``global_temp`` is not among them;
- each database lists its tables and persistent views
  (``getTablesByName(listTables(db, "*", False))``), then every local temp
  view (``listLocalTempViews("*")``), so a temp view shows up once per
  database;
- functions are ``listFunctions(currentDatabase, "*")`` plus the operators
  ``SHOW FUNCTIONS`` lists (``<>``, ``!=``, ``case``, ``||``), each read
  through ``lookupFunctionInfo``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Iterator

SESSION_CATALOG = "spark_catalog"

# joins a list of names into the one string that crosses py4j; no catalog
# name, conf key or function name holds a NUL
_SEP = "\x00"
# the last part of a quoted TableIdentifier: `db`.`name` or `name`
_LAST_PART = re.compile(r"`((?:[^`]|``)*)`$")

Match = Callable[[str], object]


def jseq(seq) -> Iterator:
    """Iterate a Scala Seq via py4j, one call per element."""
    for i in range(seq.size()):
        yield seq.apply(i)


def _strings(coll) -> list[str]:
    """A Scala collection of strings, read in one py4j call."""
    text = coll.mkString(_SEP)
    return text.split(_SEP) if text else []


def _table_names(idents) -> list[str]:
    """The table names of a Scala Seq[TableIdentifier], read in one py4j
    call (each identifier renders as its quoted ``db``.``name``)."""
    return [_LAST_PART.search(s)[1].replace("``", "`") for s in _strings(idents)]


def session_catalog(spark):
    return spark._jsparkSession.sessionState().catalog()


def list_databases(spark) -> list[str]:
    return _strings(session_catalog(spark).listDatabases())


def list_catalogs(spark) -> list[str]:
    """Loaded catalog plugins plus the session catalog."""
    manager = spark._jsparkSession.sessionState().catalogManager()
    return _strings(manager.listCatalogs(spark._jvm.scala.Option.empty()))


def conf_keys(spark) -> list[str]:
    return _strings(spark._jsparkSession.sessionState().conf().getAllConfs().keys())


@dataclass(frozen=True)
class TableEntry:
    database: str
    name: str
    temporary: bool
    view: bool = False
    comment: str = ""


def list_tables(
    spark, schema_match: Match, table_match: Match, describe: bool = False
) -> list[TableEntry]:
    """Tables, persistent views and local temp views of every database whose
    name ``schema_match`` accepts, named as ``table_match`` accepts.

    ``describe`` also reads each persistent table's type and comment from its
    ``CatalogTable``; without it only names cross py4j. A temp view is a view
    with no comment."""
    sc = session_catalog(spark)
    temp_views = None
    out: list[TableEntry] = []
    for db in _strings(sc.listDatabases()):
        if not schema_match(db):
            continue
        idents = sc.listTables(db, "*", False)
        if describe:
            for table in jseq(sc.getTablesByName(idents)):
                name = table.identifier().table()
                if table_match(name):
                    comment = table.comment()
                    out.append(TableEntry(
                        db, name, False,
                        view=table.tableType().name() == "VIEW",
                        comment=comment.get() if comment.isDefined() else "",
                    ))
        else:
            out += [TableEntry(db, n, False) for n in _table_names(idents) if table_match(n)]
        if temp_views is None:
            temp_views = [
                n for n in _table_names(sc.listLocalTempViews("*")) if table_match(n)
            ]
        out += [TableEntry(db, n, True, view=True) for n in temp_views]
    return out


@dataclass(frozen=True)
class FunctionEntry:
    database: str | None  # a persistent function's database, else None
    name: str
    usage: str | None
    class_name: str | None


def list_functions(spark, name_match: Match) -> list[FunctionEntry]:
    """The functions ``SHOW FUNCTIONS`` lists, whose names ``name_match``
    accepts: built-in functions and operators, then the temporary and
    persistent functions of the current database, each group in the order
    of its identifiers' text."""
    sc = session_catalog(spark)
    jvm = spark._jvm
    listed = sc.listFunctions(sc.getCurrentDatabase(), "*")  # Seq[(ident, scope)]
    system, user = [], []
    for i, text in enumerate(_strings(listed)):
        ident, scope = text[1:-1].rsplit(",", 1)  # "(ident,SYSTEM)"
        if scope == "SYSTEM":
            system.append(ident)  # a built-in's identifier is its bare name
        else:
            user.append((ident, i))
    registry = jvm.org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    system += _strings(registry.builtinOperators().keys())
    new_ident = jvm.org.apache.spark.sql.catalyst.FunctionIdentifier
    out = []
    for name in sorted(system):
        if name_match(name):
            info = sc.lookupFunctionInfo(new_ident(name))
            out.append(FunctionEntry(None, name, info.getUsage(), info.getClassName()))
    for _, i in sorted(user):
        ident = listed.apply(i)._1()
        name = ident.funcName()
        if name_match(name):
            db = ident.database()
            info = sc.lookupFunctionInfo(ident)
            out.append(FunctionEntry(
                db.get() if db.isDefined() else None,
                name, info.getUsage(), info.getClassName(),
            ))
    return out
