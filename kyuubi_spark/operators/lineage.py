"""Column/table lineage from the analyzed logical plan.

Python counterpart of the reference's lineage extension
(extensions/spark/kyuubi-spark-lineage/.../helper/SparkSQLLineageParseHelper
.scala:56-212 — `parse(plan) → Lineage(inputTables, outputTables,
columnLineage)`), exposed both as the PLAN_ONLY `lineage` mode and a
library call. We walk the analyzed plan through py4j's TreeNode API.

Column lineage resolves TRANSITIVELY through arbitrary plan depth (the
reference behavior): a bottom-up pass maps every attribute exprId to its
set of physical source columns (`table.column`), composing through
Project/Aggregate/Window/Generate/Union and passing through
joins/filters/aliases untouched, so the top-level output names resolve
to base-relation columns however many projection hops sit in between.
Computed outputs with no base references (e.g. ``count(*)``) resolve to
an empty set, like the reference.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from kyuubi_spark.catalog import jseq, list_tables


def _walk(jnode):
    yield jnode
    for child in jseq(jnode.children()):
        yield from _walk(child)


def _relation_name(jnode) -> str | None:
    cls = jnode.getClass().getSimpleName()
    try:
        if cls == "LogicalRelation":
            opt = jnode.catalogTable()
            if opt.isDefined():
                return opt.get().identifier().unquotedString()
            return None
        if cls == "HiveTableRelation":
            return jnode.tableMeta().identifier().unquotedString()
        if cls == "DataSourceV2Relation":
            return jnode.table().name()
        if cls == "View":
            return jnode.desc().identifier().unquotedString()
        if cls == "UnresolvedRelation":
            return ".".join(jseq(jnode.multipartIdentifier()))
        if cls == "SubqueryAlias":
            # temp views resolve to SubqueryAlias(name, underlying-plan)
            ident = jnode.identifier()
            return ident.name()
    except Exception:
        return None
    return None


_LEAF_RELATIONS = {
    "LogicalRelation",
    "HiveTableRelation",
    "DataSourceV2Relation",
    "LocalRelation",
}


def _walk_refs(jattr_set):
    it = jattr_set.iterator()
    while it.hasNext():
        yield it.next()


def _expr_refs(mapping: dict[int, set[str]], jexpr) -> set[str]:
    refs: set[str] = set()
    for a in _walk_refs(jexpr.references()):
        try:
            refs |= mapping.get(a.exprId().id(), {a.name()})
        except Exception:
            pass
    return refs


def _column_sources(jnode, mapping: dict[int, set[str]]) -> None:
    """Bottom-up exprId -> {source columns} (SparkSQLLineageParseHelper's
    transitive resolution). Mutates ``mapping``."""
    for child in jseq(jnode.children()):
        _column_sources(child, mapping)
    cls = jnode.getClass().getSimpleName()
    try:
        if cls in _LEAF_RELATIONS:
            tbl = _relation_name(jnode)
            for attr in jseq(jnode.output()):
                src = f"{tbl}.{attr.name()}" if tbl else attr.name()
                mapping[attr.exprId().id()] = {src}
            return
        named = None
        if cls == "Project":
            named = jnode.projectList()
        elif cls == "Aggregate":
            named = jnode.aggregateExpressions()
        elif cls == "Window":
            named = jnode.windowExpressions()
        elif cls == "Generate":
            gen_refs = _expr_refs(mapping, jnode.generator())
            for attr in jseq(jnode.generatorOutput()):
                mapping[attr.exprId().id()] = set(gen_refs)
            return
        elif cls == "Union":
            outs = list(jseq(jnode.output()))
            for child in jseq(jnode.children()):
                couts = list(jseq(child.output()))
                for o, c in zip(outs, couts):
                    oid = o.exprId().id()
                    mapping.setdefault(oid, set()).update(
                        mapping.get(c.exprId().id(), {c.name()})
                    )
            return
        if cls == "SubqueryAlias":
            # temp views over bare files have no catalogTable on the leaf;
            # the innermost alias IS the table identity — qualify any
            # still-unqualified sources with it (already-qualified entries
            # from real catalog tables pass through untouched)
            alias = jnode.identifier().name()
            for attr in jseq(jnode.output()):
                aid = attr.exprId().id()
                vals = mapping.get(aid)
                if vals:
                    mapping[aid] = {
                        v if "." in v else f"{alias}.{v}" for v in vals
                    }
            return
        if named is not None:
            for e in jseq(named):
                try:
                    eid = e.exprId().id()
                except Exception:
                    continue
                mapping[eid] = _expr_refs(mapping, e)
    except Exception:
        pass  # unknown node shape: attributes pass through untouched


def extract_lineage(spark: SparkSession, statement: str) -> dict:
    """Lineage dict {inputTables, outputColumns, columnLineage} for a SQL
    statement, without executing it."""
    jqe = spark.sql(statement)._jdf.queryExecution()
    analyzed = jqe.analyzed()

    inputs: list[str] = []
    seen = set()
    tables = None  # the current database's tables and the temp views
    for node in _walk(analyzed):
        name = _relation_name(node)
        if name and name not in seen:
            # only record aliases that are actual temp views / tables, not
            # user subquery aliases over computed relations
            cls = node.getClass().getSimpleName()
            if cls == "SubqueryAlias":
                if tables is None:
                    db = spark.catalog.currentDatabase()
                    tables = {
                        t.name
                        for t in list_tables(spark, db.__eq__, lambda _: True)
                    }
                if name not in tables:
                    continue
            seen.add(name)
            inputs.append(name)

    out_cols = [f.name for f in spark.sql(statement).schema.fields]

    mapping: dict[int, set[str]] = {}
    column_lineage: dict[str, list[str]] = {}
    try:
        _column_sources(analyzed, mapping)
        for attr in jseq(analyzed.output()):
            column_lineage[attr.name()] = sorted(
                mapping.get(attr.exprId().id(), set())
            )
    except Exception:
        pass

    return {
        "inputTables": inputs,
        "outputColumns": out_cols,
        "columnLineage": column_lineage,
    }


def lineage_json(spark: SparkSession, statement: str) -> str:
    return json.dumps(extract_lineage(spark, statement), sort_keys=True)
