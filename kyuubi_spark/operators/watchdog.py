"""Watchdog: pre-execution scan-size limits + forced output row caps.

Counterpart of the reference's planner guards
(extensions/.../watchdog/MaxScanStrategy.scala:36-160 — rejects queries
whose pruned file-scan exceeds maxFileSize/maxPartitions;
KyuubiUnsupportedOperationsCheck.scala; forcedMaxOutputRows docs). We check
the *optimized* plan so partition pruning and filter pushdown have already
shrunk the scan — same observation point the reference's strategy gets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kyuubi_spark.catalog import jseq


class MaxScanExceeded(RuntimeError):
    pass


class UnsupportedOperation(RuntimeError):
    pass


def scan_bytes(df: DataFrame) -> int:
    """Total bytes the query would actually scan, AFTER partition pruning.

    Walks the physical plan's file scans and sums their selected-partition
    file sizes — the same post-pruning observation point
    MaxScanStrategy.scala:60-90 reads (it inspects the pruned partitions of
    HadoopFsRelation.location). Optimized-plan leaf stats would report the
    FULL relation size for a partition-filtered scan, which is exactly the
    case the watchdog must not over-reject. Non-file leaves fall back to
    their logical stats.
    """
    total = 0
    jqe = df._jdf.queryExecution()
    seen_file_scan = False

    def walk(node):
        nonlocal total, seen_file_scan
        cls = node.getClass().getSimpleName()
        if cls in ("FileSourceScanExec", "BatchScanExec") or "FileSourceScan" in cls:
            try:
                total += int(node.selectedPartitions().totalFileSize())
                seen_file_scan = True
                return
            except Exception:
                pass
        for child in jseq(node.children()):
            walk(child)

    try:
        walk(jqe.sparkPlan())
    except Exception:
        seen_file_scan = False
        total = 0
    if not seen_file_scan and total == 0:
        # non-file relations (in-memory, JDBC, views over local data)
        for leaf in jseq(jqe.optimizedPlan().collectLeaves()):
            try:
                # sizeInBytes is a scala BigInt; stringify for exact conversion
                total += int(str(leaf.stats().sizeInBytes()))
            except Exception:
                pass
    return total


def check_max_scan(df: DataFrame, max_bytes: int) -> None:
    """Raise MaxScanExceeded if the plan would scan more than max_bytes."""
    if max_bytes and max_bytes > 0:
        actual = scan_bytes(df)
        if actual > max_bytes:
            raise MaxScanExceeded(
                f"query would scan {actual} bytes > watchdog limit {max_bytes}"
            )


def check_unsupported_operations(df: DataFrame, forbid_cross_join: bool) -> None:
    """Plan-shape denylist (KyuubiUnsupportedOperationsCheck.scala:1-35
    parity): reject cross joins — a join that survives optimization with no
    condition is a cartesian product, which at 100 TB is a runaway query by
    construction.

    Checked on the OPTIMIZED logical plan, so a cross join that Catalyst
    turns into an equi-join (e.g. `FROM a, b WHERE a.k = b.k`) passes, and
    only genuinely condition-free joins are rejected — the same observation
    point the reference's check hooks (an extendedCheckRule over the
    analyzed/optimized plan).
    """
    if not forbid_cross_join:
        return
    jplan = df._jdf.queryExecution().optimizedPlan()
    # Plan-string check: a condition-free join prints as "Join Cross" (or
    # "Join Inner" with no condition only pre-optimization; optimizer
    # rewrites those to Cross).
    for line in jplan.toString().splitlines():
        s = line.lstrip(" +-:")
        if s.startswith("Join Cross") or s.startswith("CartesianProduct"):
            raise UnsupportedOperation(
                "watchdog: cross join (cartesian product) is forbidden "
                f"by kyuubi.watchdog.forbidCrossJoin: {s[:120]}"
            )


def forced_limit(df: DataFrame, max_rows: int) -> DataFrame:
    """Cap SELECT output rows (forcedMaxOutputRows) — only when the plan
    isn't already limited."""
    if not max_rows or max_rows <= 0:
        return df
    cls = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
    if cls in ("GlobalLimit", "LocalLimit"):
        return df
    return df.limit(max_rows)
