"""Gateway operations: statement execution, plan-only, Python exec, metadata.

Python re-creation of the reference's operation classes:
- base lifecycle: kyuubi-common/.../operation/AbstractOperation.scala +
  externals/.../operation/SparkOperation.scala (state machine, job-group
  cancellation :112-119, withLocalProperties :158-195, operation log)
- ExecuteStatement collect modes: externals/.../operation/
  ExecuteStatement.scala:161-209 (collect / take(maxRows) / toLocalIterator /
  save-to-file-and-stream) + Arrow result format (:212-261). Every mode
  holds its result as Arrow, as the reference's engine collects through
  SparkDatasetHelper.toArrowBatchRdd: collect, take(n) and the arrow
  format collect one Arrow table (``collect_arrow``); incremental and the
  spill re-read stream Arrow batches one partition at a time
  (``stream_arrow``). The thrift frontend pages that Arrow straight into
  TColumns (``Operation.fetch_page``); ``get_next_row_set`` turns a page
  into Rows for the REST, Trino and forwarding paths.
- PlanOnlyStatement: externals/.../operation/PlanOnlyStatement.scala:77-161
- ExecutePython: externals/.../operation/ExecutePython.scala (exec-based here
  — Python is our native language, no subprocess worker needed)
- metadata ops: externals/.../operation/{GetCatalogs,GetSchemas,GetTables,
  GetColumns,GetFunctions,GetTableTypes,GetTypeInfo,GetPrimaryKeys}.scala
"""

from __future__ import annotations

import contextlib
import contextvars
import glob
import io
import os
import re
import shutil
import tempfile
import threading
import time
import traceback
from typing import TYPE_CHECKING, Any, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from kyuubi_spark import catalog as CAT
from kyuubi_spark.gateway import conf as C
from kyuubi_spark.gateway import schema as SH
from kyuubi_spark.gateway.fetch import (
    ArrayFetchIterator,
    BatchFetchIterator,
    FetchIterator,
)
from kyuubi_spark.gateway.state import (
    FetchOrientation,
    OperationHandle,
    OperationState,
    validate_transition,
)

if TYPE_CHECKING:
    from kyuubi_spark.gateway.session import Session


class OperationError(RuntimeError):
    pass


def collect_arrow(df: DataFrame) -> pa.Table:
    """The whole result of ``df`` as one Arrow table, in result order.

    ``collectAsArrowToPython`` directly: ``df.toArrow()`` adds py4j conf
    lookups and a ``.cast`` on every statement (~1.5 ms on a tiny one).
    Timestamps keep the JVM's session time zone."""
    from pyspark.errors.exceptions.captured import unwrap_spark_exception
    from pyspark.sql.pandas.serializers import ArrowCollectSerializer
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.util import _load_from_socket

    port, secret, server = df._jdf.collectAsArrowToPython()
    try:
        results = list(_load_from_socket((port, secret), ArrowCollectSerializer()))
    finally:
        with unwrap_spark_exception():
            server.getResult()  # joins the serving thread; raises job errors
    *batches, order = results
    if not batches:
        return to_arrow_schema(df.schema).empty_table()
    return pa.Table.from_batches([batches[i] for i in order])


def stream_arrow(df: DataFrame, schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """Stream ``df`` as Arrow batches, one partition per request (the
    reference's incremental collect over toArrowBatchRdd).

    The serving thread starts here, so it inherits the calling thread's
    job group; dropping the returned iterator tells it to stop."""
    from pyspark.serializers import NoOpSerializer
    from pyspark.util import _local_iterator_from_socket

    sock_info = df.sparkSession._jvm.PythonRDD.toLocalIteratorAndServe(
        df._jdf.toArrowBatchRdd(), False
    )
    messages = _local_iterator_from_socket(sock_info, NoOpSerializer())
    return (pa.ipc.read_record_batch(pa.py_buffer(m), schema) for m in messages)


class Operation:
    """Async task wrapping a DataFrame action + a fetch cursor."""

    def __init__(self, session: "Session", should_run_async: bool = True):
        self.session = session
        self.handle = OperationHandle()
        self.state = OperationState.INITIALIZED
        self.exception: BaseException | None = None
        self._lock = threading.RLock()
        self._done = threading.Event()
        self._log: list[str] = []
        self._log_pos = 0
        self._iter: FetchIterator | None = None
        self._schema: T.StructType | None = None
        # the schema of Arrow result pages, when it differs from _schema
        # (ExecuteStatement renders some types to strings before the wire)
        self._page_schema: T.StructType | None = None
        # the session time zone TIMESTAMP results render in on the wire
        self.time_zone: str | None = None
        self._async = should_run_async
        self._thread: threading.Thread | None = None
        self.start_time = time.time()
        self.complete_time: float | None = None
        # per-operation accounting (SQLOperationListener run accounting +
        # SparkOperationEvent fields): transitions with timestamps, rows
        # shipped to the client, and the chosen collect mode — snapshotted
        # into engine.op_store so the record outlives close()
        self.transitions: list[tuple[str, float]] = [
            (self.state.value, self.start_time)
        ]
        self.rows_fetched = 0
        self.collect_mode: str | None = None

    # -- lifecycle ---------------------------------------------------------
    def set_state(self, new: OperationState) -> None:
        with self._lock:
            validate_transition(self.state, new)
            self.log(f"operation state {self.state.value} -> {new.value}")
            prev, self.state = self.state, new
            if new.is_terminal:
                self.complete_time = time.time()
                self._done.set()
        self._post_state_event(prev, new)

    def _post_state_event(self, prev: OperationState, new: OperationState) -> None:
        """Post the state transition to the engine bus + metrics
        (SparkOperation.setState event posts, SparkOperation.scala:134-153).
        Transition history + op-store accounting are independent of
        event-bus wiring (ADVICE r08): they record even when the engine
        has no .events."""
        self.transitions.append((new.value, time.time()))
        engine = getattr(self.session, "engine", None)
        if engine is None or not hasattr(engine, "events"):
            self._store_summary(engine)
            return
        from kyuubi_spark.gateway import metrics as M
        from kyuubi_spark.gateway.events import make_event

        engine.metrics.inc(f"{M.OP_STATE_PREFIX}{new.value.lower()}")
        if new is OperationState.RUNNING:
            engine.metrics.inc(M.OP_OPEN)
            engine.metrics.inc(M.OP_TOTAL)
        elif new.is_terminal:
            if prev in (OperationState.RUNNING, OperationState.COMPILED):
                engine.metrics.dec(M.OP_OPEN)
            if new is OperationState.ERROR:
                engine.metrics.inc(M.OP_FAIL)
            engine.metrics.update_timer(M.OP_EXEC_TIME, time.time() - self.start_time)
        engine.events.post(
            make_event(
                "OperationStateChanged",
                operationId=self.handle.id,
                sessionId=self.session.handle.id,
                operation=type(self).__name__,
                fromState=prev.value,
                toState=new.value,
            )
        )
        self._store_summary(engine)

    def summary(self) -> dict:
        """SparkOperationEvent-shaped accounting record."""
        return {
            "operationId": self.handle.id,
            "sessionId": self.session.handle.id,
            "operation": type(self).__name__,
            "statement": getattr(self, "statement", None),
            "user": getattr(self.session, "user", None),
            "state": self.state.value,
            "createTime": self.start_time,
            "completeTime": self.complete_time,
            "duration": (self.complete_time or time.time()) - self.start_time,
            "transitions": list(self.transitions),
            "rowsFetched": self.rows_fetched,
            "collectMode": self.collect_mode,
            "error": str(self.exception) if self.exception else None,
        }

    def _store_summary(self, engine=None) -> None:
        engine = engine or getattr(self.session, "engine", None)
        store = getattr(engine, "op_store", None)
        if store is not None:
            store.put(self.summary())

    def run(self) -> "Operation":
        if self._async:
            self.set_state(OperationState.PENDING)
            # Propagate ContextVars (notably kyuubi_spark.caching's cache
            # scope, installed by Session.execute_statement) into the worker
            # thread: threading.Thread starts with a FRESH context, so
            # without the copy an async statement's persisted() relations
            # would register in the process-global registry and never be
            # released by Session.close() — an unbounded cache leak.
            ctx = contextvars.copy_context()
            self._thread = threading.Thread(
                target=lambda: ctx.run(self._guarded_execute),
                name=f"op-{self.handle.id[:8]}", daemon=True,
            )
            self._thread.start()
        else:
            self._guarded_execute()
        return self

    def _guarded_execute(self) -> None:
        try:
            self.set_state(OperationState.RUNNING)
            self._execute()
            with self._lock:
                if not self.state.is_terminal:
                    self.set_state(OperationState.FINISHED)
                elif self.state is OperationState.CLOSED:
                    self._iter = None  # closed mid-run: free the late result
        except BaseException as e:  # noqa: BLE001 - reported via status
            with self._lock:
                if not self.state.is_terminal:
                    self.exception = e
                    self.log("".join(traceback.format_exception_only(type(e), e)).strip())
                    self.set_state(OperationState.ERROR)

    def _execute(self) -> None:
        raise NotImplementedError

    def wait(self, timeout: float | None = None) -> OperationState:
        self._done.wait(timeout)
        return self.state

    def cancel(self) -> None:
        with self._lock:
            if self.state.is_terminal:
                return
            self.set_state(OperationState.CANCELED)
        self._cleanup_jobs()

    def close(self) -> None:
        with self._lock:
            if self.state is OperationState.CLOSED:
                return
            # a finished operation whose rows are all in memory has no
            # Spark job left to cancel
            settled = self.state is OperationState.FINISHED and isinstance(
                self._iter, ArrayFetchIterator
            )
            if not self.state.is_terminal:
                # implicit cancel, as the reference does on Close
                self.set_state(OperationState.CANCELED)
            self.set_state(OperationState.CLOSED)
            # free the result; the op_store summary outlives it
            result, self._iter = self._iter, None
        if not settled:
            self._cleanup_jobs()
        # dropping a live stream ends its JVM serving thread
        del result

    def _cleanup_jobs(self) -> None:
        try:
            self.session.spark.sparkContext.cancelJobGroup(self.handle.id)
        except Exception:
            pass

    # -- results -----------------------------------------------------------
    def get_result_set_schema(self) -> T.StructType:
        if self._schema is None:
            raise OperationError("no result schema (operation not finished?)")
        return self._schema

    def fetch_page(
        self, orientation: FetchOrientation = FetchOrientation.FETCH_NEXT, size: int = 100
    ):
        """The next page as the operation holds it: an Arrow table slice
        (statement results), a list of RecordBatches (arrow result format)
        or a list of Python rows (metadata, plan-only, Python)."""
        with self._lock:
            if self.state is not OperationState.FINISHED:
                raise OperationError(
                    f"cannot fetch in state {self.state.value}"
                    + (f": {self.exception}" if self.exception else "")
                )
            assert self._iter is not None
            if orientation is FetchOrientation.FETCH_FIRST:
                self._iter.fetch_absolute(0)
            elif orientation is FetchOrientation.FETCH_PRIOR:
                self._iter.fetch_prior(size)
            out = self._iter.take(size)
        n = len(out)
        if self.collect_mode == "arrow":
            n = sum(batch.num_rows for batch in out)
        if n:
            self.rows_fetched += n
            engine = getattr(self.session, "engine", None)
            if engine is not None and hasattr(engine, "metrics"):
                from kyuubi_spark.gateway import metrics as M

                engine.metrics.inc(M.BS_FETCH_RESULT_ROWS, n)
            self._store_summary(engine)
        return out

    def get_next_row_set(
        self, orientation: FetchOrientation = FetchOrientation.FETCH_NEXT, size: int = 100
    ) -> list[Any]:
        """The next page as Python rows; Arrow pages become Rows through
        PySpark's own ArrowTableToRowsConversion, as ``collect()`` would
        return them."""
        page = self.fetch_page(orientation, size)
        if not isinstance(page, pa.Table):
            return page
        from pyspark.sql.conversion import ArrowTableToRowsConversion

        return ArrowTableToRowsConversion.convert(
            page, self._page_schema or self._schema, binary_as_bytes=False
        )

    # -- status (GetOperationStatus, TFrontendService.scala:454;
    #    progress rows as SparkProgressMonitor, SparkOperation.scala:98-110;
    #    PySpark has no listener API, so we poll the StatusTracker) --------
    def get_status(self, with_progress: bool = False) -> dict:
        out: dict[str, Any] = {
            "operation_id": self.handle.id,
            "state": self.state.value,
            "error": str(self.exception) if self.exception else None,
            "start_time": self.start_time,
            "complete_time": self.complete_time,
        }
        if with_progress:
            tasks = completed = active = 0
            try:
                st = self.session.spark.sparkContext.statusTracker()
                for jid in st.getJobIdsForGroup(self.handle.id):
                    ji = st.getJobInfo(jid)
                    if ji is None:
                        continue
                    for sid in ji.stageIds:
                        si = st.getStageInfo(sid)
                        if si is not None:
                            tasks += si.numTasks
                            completed += si.numCompletedTasks
                            active += si.numActiveTasks
            except Exception:
                pass  # progress is best-effort; status itself never fails
            out["progress"] = {
                "num_tasks": tasks,
                "completed_tasks": completed,
                "active_tasks": active,
                "progress": (completed / tasks) if tasks else 0.0,
            }
        return out

    # -- log ---------------------------------------------------------------
    def log(self, line: str) -> None:
        self._log.append(line)

    def fetch_log(self, size: int = 100) -> list[str]:
        out = self._log[self._log_pos : self._log_pos + size]
        self._log_pos += len(out)
        if out:
            engine = getattr(self.session, "engine", None)
            if engine is not None and hasattr(engine, "metrics"):
                from kyuubi_spark.gateway import metrics as M

                engine.metrics.inc(M.BS_FETCH_LOG_ROWS, len(out))
        return out


# ---------------------------------------------------------------------------
# ExecuteStatement
# ---------------------------------------------------------------------------
class ExecuteStatement(Operation):
    """spark.sql(statement) with the reference's four collect modes.

    Mode selection (ExecuteStatement.scala:161-209):
      incremental-collect conf → Arrow batches, one partition at a time;
      save-to-file conf + plan stats over threshold → spill + re-read;
      result-max-rows conf > 0 → take(n);
      else full collect. Arrow format returns RecordBatch pages instead of
      table pages.
    """

    def __init__(self, session: "Session", statement: str, conf=None, **kw):
        super().__init__(session, **kw)
        self.statement = statement
        self.conf = conf if conf is not None else session.conf
        self.result_df: DataFrame | None = None
        self._spill_dir: str | None = None

    def _execute(self) -> None:
        spark = self.session.spark
        conf = self.conf
        sc = spark.sparkContext
        timeout = conf.get(C.OPERATION_QUERY_TIMEOUT)
        timer: threading.Timer | None = None
        # Job group is thread-local in Spark: set it in this executing thread
        # so CancelOperation can cancelJobGroup(handle) (SparkOperation:112).
        sc.setJobGroup(self.handle.id, self.statement, interruptOnCancel=True)
        pool = conf.get(C.OPERATION_SCHEDULER_POOL)
        if pool:
            sc.setLocalProperty("spark.scheduler.pool", pool)
        try:
            if timeout and timeout > 0:
                timer = threading.Timer(timeout, self._on_timeout)
                timer.start()
            self.log(f"executing: {self.statement}")
            df = spark.sql(self.statement)
            from kyuubi_spark.operators import watchdog as WD

            df = WD.forced_limit(df, conf.get(C.WATCHDOG_FORCED_MAX_ROWS))
            self.result_df = df
            self._schema = df.schema
            # HiveResult renders TIMESTAMP values in the session time zone
            self.time_zone = spark.conf.get("spark.sql.session.timeZone")
            with self._lock:
                if self.state is OperationState.RUNNING:
                    # analysis finished — observable COMPILED phase
                    self.set_state(OperationState.COMPILED)
            WD.check_max_scan(df, conf.get(C.WATCHDOG_MAX_SCAN_BYTES))
            WD.check_unsupported_operations(
                df, conf.get(C.WATCHDOG_FORBID_CROSS_JOIN)
            )
            # year-month/calendar intervals and variants must be rendered
            # JVM-side before the driver boundary (wire.wire_safe_df);
            # _schema above keeps the ORIGINAL types for metadata, so
            # clients still see INTERVAL_YEAR_MONTH etc. (SchemaHelper)
            from kyuubi_spark.gateway.wire import wire_safe_df

            df, changed = wire_safe_df(df)
            if changed:
                self._page_schema = df.schema
            self._iter = self._collect(df, conf)
        finally:
            if timer:
                timer.cancel()
            sc.setLocalProperty("spark.scheduler.pool", None)

    def _on_timeout(self) -> None:
        with self._lock:
            if self.state.is_terminal:
                return
            self.set_state(OperationState.TIMEOUT)
        self._cleanup_jobs()

    def _collect(self, df: DataFrame, conf) -> FetchIterator:
        if conf.get(C.OPERATION_RESULT_FORMAT).lower() == "arrow":
            # ArrowBasedExecuteStatement: the batches exactly as
            # df.toArrow() returns them, cast to PySpark's Arrow schema
            from pyspark.sql.pandas.types import to_arrow_schema

            self.collect_mode = "arrow"
            schema = to_arrow_schema(
                df.schema,
                error_on_duplicated_field_names_in_struct=True,
                prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
            )
            return ArrayFetchIterator(collect_arrow(df).cast(schema).to_batches())
        max_rows = conf.get(C.OPERATION_RESULT_MAX_ROWS)
        if conf.get(C.OPERATION_INCREMENTAL_COLLECT):
            self.log("incremental collect mode: one partition at a time")
            self.collect_mode = "incremental"
            schema = self._arrow_schema(df)
            return BatchFetchIterator(stream_arrow(df, schema), schema)
        if (
            conf.get(C.OPERATION_RESULT_SAVE_TO_FILE)
            and self._schema.fields  # parquet cannot hold a zero-column result
            and self._result_size_over(
                df, conf.get(C.OPERATION_RESULT_SAVE_TO_FILE_MINSIZE)
            )
        ):
            self.collect_mode = "spill"
            return self._spill_and_stream(df)
        if max_rows and max_rows > 0:
            self.log(f"take({max_rows}) mode")
            self.collect_mode = "take"
            return ArrayFetchIterator(collect_arrow(df.limit(max_rows)))
        self.collect_mode = "collect"
        return ArrayFetchIterator(collect_arrow(df))

    def _arrow_schema(self, df: DataFrame) -> pa.Schema:
        """The Arrow layout the JVM writes ``df``'s batches in."""
        from pyspark.sql.pandas.types import to_arrow_schema

        return to_arrow_schema(
            self._page_schema or self._schema,
            prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
        )

    def _result_size_over(self, df: DataFrame, min_size: int) -> bool:
        """Optimized-plan stats sizeInBytes vs threshold (ExecuteStatement
        .scala:165-170 resultSaveThreshold check via plan stats)."""
        try:
            jstats = df._jdf.queryExecution().optimizedPlan().stats()
            return int(str(jstats.sizeInBytes())) >= min_size
        except Exception:
            return False

    def _spill_and_stream(self, df: DataFrame) -> FetchIterator:
        """Write the result out once, then stream it back incrementally.

        Mirrors ExecuteStatement.scala:172-199: columns are positionally
        renamed (col0..colN) so any expression aliases survive the round
        trip, written as zstd parquet, re-read, re-aliased, and iterated.
        At 100 TB this bounds driver memory: executors write in parallel,
        the driver streams one partition at a time.

        The re-read streams the part files ONE AT A TIME in part-number
        order — a whole-directory ``read.parquet`` bin-packs files into
        read partitions by SIZE, which reorders rows and silently breaks
        a query's ORDER BY on the wire.  Part numbers follow the writing
        partition index, which for a sorted result is the sort order; the
        per-file read adds no shuffle, and laziness means a client that
        stops fetching never pays for the tail files.
        """
        names = df.schema.names
        self._spill_dir = tempfile.mkdtemp(prefix="kyuubi_spark_result_")
        renamed = df.toDF(*[f"col{i}" for i in range(len(names))])
        self.log(f"spilling result to {self._spill_dir}")
        renamed.write.mode("overwrite").option("compression", "zstd").parquet(
            self._spill_dir
        )
        files = sorted(
            glob.glob(os.path.join(self._spill_dir, "part-*.parquet"))
        )
        spark = self.session.spark
        schema = renamed.schema
        arrow_schema = self._arrow_schema(df)

        def stream():
            for path in files:
                back = spark.read.schema(schema).parquet(path).toDF(*names)
                yield from stream_arrow(back, arrow_schema)

        return BatchFetchIterator(stream(), arrow_schema)

    def close(self) -> None:
        super().close()
        if self._spill_dir:
            shutil.rmtree(self._spill_dir, ignore_errors=True)
            self._spill_dir = None


# ---------------------------------------------------------------------------
# PlanOnlyStatement
# ---------------------------------------------------------------------------
PLAN_ONLY_MODES = ("parse", "analyze", "optimize", "physical", "execution", "lineage")


class PlanOnlyStatement(Operation):
    """Run the Catalyst pipeline up to a stage and return the plan text.

    Modes (PlanOnlyStatement.scala:100-131): parse → sqlParser.parsePlan;
    analyze → queryExecution.analyzed; optimize → optimizedPlan; physical →
    sparkPlan; execution → executedPlan; lineage → input/output table +
    column lineage JSON (kyuubi-spark-lineage SparkSQLLineageParseHelper).
    Output style plain|json.
    """

    def __init__(self, session: "Session", statement: str, mode: str, style: str = "plain", **kw):
        super().__init__(session, **kw)
        self.statement = statement
        self.mode = mode.lower()
        self.style = style.lower()

    def _execute(self) -> None:
        spark = self.session.spark
        self._schema = T.StructType([T.StructField("plan", T.StringType())])
        if self.mode == "parse":
            jplan = (
                spark._jsparkSession.sessionState().sqlParser().parsePlan(self.statement)
            )
            text = jplan.toJSON() if self.style == "json" else jplan.toString()
            self._iter = ArrayFetchIterator([(text,)])
            return
        if self.mode == "lineage":
            from kyuubi_spark.operators.lineage import lineage_json

            self._iter = ArrayFetchIterator([(lineage_json(spark, self.statement),)])
            return
        jqe = spark.sql(self.statement)._jdf.queryExecution()
        jplan = {
            "analyze": jqe.analyzed,
            "optimize": jqe.optimizedPlan,
            "physical": jqe.sparkPlan,
            "execution": jqe.executedPlan,
        }.get(self.mode)
        if jplan is None:
            raise OperationError(
                f"unknown plan-only mode {self.mode}; expected one of {PLAN_ONLY_MODES}"
            )
        plan = jplan()
        text = plan.toJSON() if self.style == "json" else plan.toString()
        self._iter = ArrayFetchIterator([(text,)])


# ---------------------------------------------------------------------------
# ExecutePython
# ---------------------------------------------------------------------------
class ExecutePython(Operation):
    """Execute Python code with the session's SparkSession in scope.

    The reference launches a per-session Python subprocess speaking a JSON
    protocol (ExecutePython.scala:188-280); our engine is already Python, so
    code runs in-process against a per-session namespace. Returns one row
    (output, status) like the reference's response dict.
    """

    def __init__(self, session: "Session", code: str, **kw):
        super().__init__(session, **kw)
        self.code = code

    def _execute(self) -> None:
        ns = self.session.python_namespace
        code = self.code.strip()
        # Magics (ExecutePython.scala's %json / %table response modes):
        # %json <expr>  → one row with the expression rendered as JSON
        # %table <expr> → a REAL result set: DataFrame collect with its own
        #                 schema, or list-of-dicts coerced to string columns
        if code.startswith("%json ") or code.startswith("%table "):
            magic, expr = code.split(" ", 1)
            value = eval(expr, ns)  # noqa: S307 - the operation IS code exec
            if magic == "%json":
                import json as _json

                self._schema = T.StructType(
                    [T.StructField("output", T.StringType()),
                     T.StructField("status", T.StringType())]
                )
                self._iter = ArrayFetchIterator(
                    [(_json.dumps(value, default=str, sort_keys=True), "ok")]
                )
                return
            if isinstance(value, DataFrame):
                self._schema = value.schema
                self._iter = ArrayFetchIterator(value.collect())
                return
            rows = list(value)
            cols = sorted({k for r in rows for k in r}) if rows else ["value"]
            self._schema = T.StructType(
                [T.StructField(c, T.StringType()) for c in cols]
            )
            self._iter = ArrayFetchIterator(
                [tuple(str(r.get(c)) for c in cols) for r in rows]
            )
            return

        buf = io.StringIO()
        status = "ok"
        try:
            with contextlib.redirect_stdout(buf):
                try:
                    result = eval(self.code, ns)  # expression → show its repr
                    if result is not None:
                        print(repr(result), file=buf)
                except SyntaxError:
                    exec(self.code, ns)
        except Exception as e:  # noqa: BLE001 - reported in-row, like the reference
            status = "error"
            buf.write("".join(traceback.format_exception_only(type(e), e)))
        self._schema = T.StructType(
            [T.StructField("output", T.StringType()), T.StructField("status", T.StringType())]
        )
        self._iter = ArrayFetchIterator([(buf.getvalue(), status)])


# ---------------------------------------------------------------------------
# Metadata operations
# ---------------------------------------------------------------------------
def _like_to_regex(pattern: str | None) -> re.Pattern:
    """JDBC metadata pattern: % any chars, _ one char; None/'' = match all."""
    if not pattern:
        return re.compile(".*")
    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return re.compile("^" + "".join(out) + "$")


class MetadataOperation(Operation):
    """Synchronous catalog operation — no Spark jobs (SURVEY.md §3.3)."""

    def __init__(self, session: "Session"):
        super().__init__(session, should_run_async=False)

    def _finish(self, fields: list[tuple[str, T.DataType]], rows: list[tuple]) -> None:
        self._schema = T.StructType([T.StructField(n, t) for n, t in fields])
        self._iter = ArrayFetchIterator(rows)


_S = T.StringType()
_I = T.IntegerType()


def _quote_ns(ns: str) -> str:
    return ".".join(f"`{p}`" for p in ns.split("."))


def _catalog_namespaces(spark, cat: str) -> list[str]:
    """Namespaces of a (possibly non-current) DSv2 catalog — the
    SparkCatalogUtils.getSchemas:113-147 path (SHOW NAMESPACES IN cat)."""
    return [r[0] for r in spark.sql(f"SHOW NAMESPACES IN `{cat}`").collect()]


class GetCatalogs(MetadataOperation):
    def _execute(self) -> None:
        spark = self.session.spark
        # Loaded plugins + the session catalog...
        names = set(CAT.list_catalogs(spark))
        names.add(CAT.SESSION_CATALOG)
        # ...plus registered-but-not-yet-loaded DSv2 plugins, found by
        # scanning `spark.sql.catalog.<name>` conf keys — the
        # SparkCatalogUtils.getCatalogs:63-90 enumeration.
        prefix = "spark.sql.catalog."
        for key in CAT.conf_keys(spark):
            if key.startswith(prefix) and "." not in key[len(prefix):]:
                names.add(key[len(prefix):])
        self._finish([("TABLE_CAT", _S)], sorted((n,) for n in names))


class GetSchemas(MetadataOperation):
    def __init__(self, session, catalog: str | None = None, schema_pattern: str | None = None):
        super().__init__(session)
        self.catalog = catalog
        self.pattern = schema_pattern

    def _execute(self) -> None:
        spark = self.session.spark
        rx = _like_to_regex(self.pattern)
        cat = self.catalog or spark.catalog.currentCatalog()
        if cat == CAT.SESSION_CATALOG:
            names = CAT.list_databases(spark)
        else:  # cross-catalog: resolve through the DSv2 catalog plugin
            names = _catalog_namespaces(spark, cat)
        rows = [(n, cat) for n in names if rx.match(n)]
        self._finish([("TABLE_SCHEM", _S), ("TABLE_CATALOG", _S)], sorted(rows))


class GetTables(MetadataOperation):
    """JDBC-shaped table listing (GetTables.scala:50-90 schema)."""

    _TABLE_FIELDS = [
        ("TABLE_CAT", _S),
        ("TABLE_SCHEM", _S),
        ("TABLE_NAME", _S),
        ("TABLE_TYPE", _S),
        ("REMARKS", _S),
    ]

    def __init__(
        self,
        session,
        catalog: str | None = None,
        schema_pattern: str | None = None,
        table_pattern: str | None = None,
        table_types: list[str] | None = None,
    ):
        super().__init__(session)
        self.catalog = catalog
        self.schema_pattern = schema_pattern
        self.table_pattern = table_pattern
        self.table_types = {t.upper() for t in (table_types or [])}

    def _execute(self) -> None:
        spark = self.session.spark
        cat = self.catalog or spark.catalog.currentCatalog()
        srx = _like_to_regex(self.schema_pattern)
        trx = _like_to_regex(self.table_pattern)
        rows = []
        if cat != CAT.SESSION_CATALOG:
            # Cross-catalog listing via the DSv2 plugin (no session switch);
            # DSv2 catalogs expose tables only (views are session-level).
            if self.table_types and "TABLE" not in self.table_types:
                self._finish(self._TABLE_FIELDS, [])
                return
            for ns in _catalog_namespaces(spark, cat):
                if not srx.match(ns):
                    continue
                for t in spark.sql(
                    f"SHOW TABLES IN `{cat}`.{_quote_ns(ns)}"
                ).collect():
                    if trx.match(t.tableName):
                        rows.append((cat, ns, t.tableName, "TABLE", ""))
            self._finish(self._TABLE_FIELDS, sorted(rows))
            return
        for t in CAT.list_tables(spark, srx.match, trx.match, describe=True):
            ttype = "VIEW" if t.view else "TABLE"
            if not self.table_types or ttype in self.table_types:
                rows.append((cat, t.database, t.name, ttype, t.comment))
        self._finish(self._TABLE_FIELDS, sorted(rows))


class GetTableTypes(MetadataOperation):
    def _execute(self) -> None:
        self._finish([("TABLE_TYPE", _S)], [("TABLE",), ("VIEW",)])


class GetColumns(MetadataOperation):
    """JDBC GetColumns with §1.2 size/digits/radix derivations."""

    def __init__(
        self,
        session,
        catalog: str | None = None,
        schema_pattern: str | None = None,
        table_pattern: str | None = None,
        column_pattern: str | None = None,
    ):
        super().__init__(session)
        self.catalog = catalog
        self.schema_pattern = schema_pattern
        self.table_pattern = table_pattern
        self.column_pattern = column_pattern

    def _execute(self) -> None:
        spark = self.session.spark
        cat = self.catalog or spark.catalog.currentCatalog()
        srx = _like_to_regex(self.schema_pattern)
        trx = _like_to_regex(self.table_pattern)
        crx = _like_to_regex(self.column_pattern)
        # (schema name, table name, fully-qualified reference) triples
        if cat != CAT.SESSION_CATALOG:
            targets = [
                (ns, t.tableName, f"`{cat}`.{_quote_ns(ns)}.`{t.tableName}`")
                for ns in _catalog_namespaces(spark, cat)
                if srx.match(ns)
                for t in spark.sql(f"SHOW TABLES IN `{cat}`.{_quote_ns(ns)}").collect()
                if trx.match(t.tableName)
            ]
        else:
            targets = [
                (
                    t.database,
                    t.name,
                    f"`{t.database}`.`{t.name}`" if not t.temporary else f"`{t.name}`",
                )
                for t in CAT.list_tables(spark, srx.match, trx.match)
            ]
        rows = []
        for db_name, t_name, ref in targets:
            schema = spark.table(ref).schema
            for pos, f in enumerate(schema.fields):
                if not crx.match(f.name):
                    continue
                rows.append(
                    (
                        cat,
                        db_name,
                        t_name,
                        f.name,
                        SH.java_sql_type(f.dataType),
                        f.dataType.simpleString().upper(),
                        SH.column_size(f.dataType),
                        None,  # BUFFER_LENGTH (unused per JDBC spec)
                        SH.decimal_digits(f.dataType),
                        SH.num_prec_radix(f.dataType),
                        1 if f.nullable else 0,
                        "",  # REMARKS
                        None,  # COLUMN_DEF
                        None,  # SQL_DATA_TYPE
                        None,  # SQL_DATETIME_SUB
                        None,  # CHAR_OCTET_LENGTH
                        pos + 1,  # ORDINAL_POSITION
                        "YES" if f.nullable else "NO",
                    )
                )
        self._finish(
            [
                ("TABLE_CAT", _S), ("TABLE_SCHEM", _S), ("TABLE_NAME", _S),
                ("COLUMN_NAME", _S), ("DATA_TYPE", _I), ("TYPE_NAME", _S),
                ("COLUMN_SIZE", _I), ("BUFFER_LENGTH", _I), ("DECIMAL_DIGITS", _I),
                ("NUM_PREC_RADIX", _I), ("NULLABLE", _I), ("REMARKS", _S),
                ("COLUMN_DEF", _S), ("SQL_DATA_TYPE", _I), ("SQL_DATETIME_SUB", _I),
                ("CHAR_OCTET_LENGTH", _I), ("ORDINAL_POSITION", _I), ("IS_NULLABLE", _S),
            ],
            rows,
        )


class GetFunctions(MetadataOperation):
    def __init__(self, session, function_pattern: str | None = None):
        super().__init__(session)
        self.pattern = function_pattern

    def _execute(self) -> None:
        rx = _like_to_regex(self.pattern)
        rows = [
            (None, f.database, f.name, f.usage or "", 0, f.class_name or "")
            for f in CAT.list_functions(self.session.spark, rx.match)
        ]
        self._finish(
            [
                ("FUNCTION_CAT", _S), ("FUNCTION_SCHEM", _S), ("FUNCTION_NAME", _S),
                ("REMARKS", _S), ("FUNCTION_TYPE", _I), ("SPECIFIC_NAME", _S),
            ],
            sorted(rows, key=lambda r: r[2]),
        )


class GetTypeInfo(MetadataOperation):
    """Static supported-type table (GetTypeInfo.scala; §1.2 mapping)."""

    _TYPES: list[tuple[str, T.DataType]] = [
        ("BOOLEAN", T.BooleanType()), ("TINYINT", T.ByteType()),
        ("SMALLINT", T.ShortType()), ("INT", T.IntegerType()),
        ("BIGINT", T.LongType()), ("FLOAT", T.FloatType()),
        ("DOUBLE", T.DoubleType()), ("STRING", T.StringType()),
        ("DECIMAL", T.DecimalType(38, 18)), ("DATE", T.DateType()),
        ("TIMESTAMP", T.TimestampType()), ("BINARY", T.BinaryType()),
        ("ARRAY", T.ArrayType(T.StringType())),
        ("MAP", T.MapType(T.StringType(), T.StringType())),
        ("STRUCT", T.StructType([])),
    ]

    def _execute(self) -> None:
        rows = [
            (
                name,
                SH.java_sql_type(dt),
                SH.column_size(dt),
                SH.decimal_digits(dt),
                SH.num_prec_radix(dt),
                1,  # NULLABLE = typeNullable
                name in ("STRING",),  # CASE_SENSITIVE
                3,  # SEARCHABLE = typeSearchable
            )
            for name, dt in self._TYPES
        ]
        self._finish(
            [
                ("TYPE_NAME", _S), ("DATA_TYPE", _I), ("PRECISION", _I),
                ("MAXIMUM_SCALE", _I), ("NUM_PREC_RADIX", _I), ("NULLABLE", _I),
                ("CASE_SENSITIVE", T.BooleanType()), ("SEARCHABLE", _I),
            ],
            rows,
        )


class GetPrimaryKeys(MetadataOperation):
    """Empty result with the JDBC shape — Spark has no PK concept
    (TFrontendService.scala:402; engine returns empty)."""

    def _execute(self) -> None:
        self._finish(
            [
                ("TABLE_CAT", _S), ("TABLE_SCHEM", _S), ("TABLE_NAME", _S),
                ("COLUMN_NAME", _S), ("KEY_SEQ", _I), ("PK_NAME", _S),
            ],
            [],
        )


class GetCrossReference(MetadataOperation):
    """Empty result with the JDBC FK shape — no FK concept in Spark either
    (TFrontendService.scala:423; real rows only in the JDBC engine's
    GetCrossReference.scala)."""

    def _execute(self) -> None:
        self._finish(
            [
                ("PKTABLE_CAT", _S), ("PKTABLE_SCHEM", _S), ("PKTABLE_NAME", _S),
                ("PKCOLUMN_NAME", _S), ("FKTABLE_CAT", _S), ("FKTABLE_SCHEM", _S),
                ("FKTABLE_NAME", _S), ("FKCOLUMN_NAME", _S), ("KEY_SEQ", _I),
                ("UPDATE_RULE", _I), ("DELETE_RULE", _I), ("FK_NAME", _S),
                ("PK_NAME", _S), ("DEFERRABILITY", _I),
            ],
            [],
        )
