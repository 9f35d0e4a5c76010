"""Gateway sessions served by the JDBC engine — ``kyuubi.engine.type=JDBC``.

The reference's core multi-engine promise: the SAME gateway session/
operation surface, with the backend chosen per session by
``kyuubi.engine.type`` (KyuubiConf ENGINE_TYPE; ``EngineRef`` launches a
kyuubi-jdbc-engine instead of a Spark engine, and every frontend — thrift,
REST, Trino — keeps working unchanged because they only speak the shared
Session/Operation interface).

``JdbcBackedSession`` adapts ``gateway.jdbc_engine`` (the DBAPI-backed
engine) to the gateway Session surface the frontends consume:
``execute_statement(statement, conf_overlay, run_async)``, the metadata
operation set with gateway signatures, and operations exposing
``get_result_set_schema() -> StructType`` / ``get_next_row_set(
orientation, size)`` / ``get_status()``.  A thrift or Trino client can
therefore open a session with ``kyuubi.engine.type=JDBC`` +
``kyuubi.engine.jdbc.connection.url=jdbc:duckdb:...`` and run SQL on the
embedded backend through the same wire protocol that serves Spark.

Schema fidelity note, stated plainly: DBAPI cursor descriptions are
coarse (duckdb reports 'NUMBER'/'STRING'), so Spark-side column types are
inferred value-first from the first fetched row with the description as
fallback — exact enough for wire serialization, NOT a full type-system
bridge (the reference reads java.sql.ResultSetMetaData, which carries
real types; a production bridge would use Arrow result sets).
"""

from __future__ import annotations

import datetime
import decimal
import time
from typing import Any

from pyspark.sql import types as T

from kyuubi_spark.gateway import conf as C
from kyuubi_spark.gateway.jdbc_engine import JdbcEngine, JdbcOperation
from kyuubi_spark.gateway.state import (
    FetchOrientation,
    OperationState,
    SessionHandle,
)

ENGINE_TYPE_KEY = "kyuubi.engine.type"
JDBC_URL_KEY = "kyuubi.engine.jdbc.connection.url"


def _spark_type(value: Any, hint: str) -> T.DataType:
    if isinstance(value, bool):
        return T.BooleanType()
    if isinstance(value, int):
        return T.LongType()
    if isinstance(value, float):
        return T.DoubleType()
    if isinstance(value, decimal.Decimal):
        return T.DecimalType(38, 18)
    if isinstance(value, datetime.datetime):
        return T.TimestampType()
    if isinstance(value, datetime.date):
        return T.DateType()
    if isinstance(value, (bytes, bytearray)):
        return T.BinaryType()
    h = (hint or "").upper()
    if "INT" in h or h == "NUMBER":
        return T.LongType()
    if h in ("DOUBLE", "FLOAT", "REAL"):
        return T.DoubleType()
    if h in ("BOOL", "BOOLEAN"):
        return T.BooleanType()
    if "DATETIME" in h or "TIMESTAMP" in h:
        return T.TimestampType()
    if h == "DATE":
        return T.DateType()
    return T.StringType()


class JdbcBackedOperation:
    """Gateway-operation adapter over a ``jdbc_engine.JdbcOperation``."""

    def __init__(self, inner: JdbcOperation, session: "JdbcBackedSession"):
        self.inner = inner
        self.session = session
        self.handle = inner.handle
        self._struct: T.StructType | None = None
        self._first: list[Any] | None = None

    # -- status proxies ---------------------------------------------------

    @property
    def state(self) -> OperationState:
        return self.inner.state

    @property
    def exception(self) -> BaseException | None:
        return self.inner.exception

    def wait(self, timeout: float | None = None) -> None:
        self.inner.wait(timeout)

    def get_status(self, with_progress: bool = False) -> dict:
        return {
            "operation_id": self.handle.id,
            "state": self.inner.state.value,
            "error": str(self.inner.exception) if self.inner.exception else None,
        }

    def get_operation_log(self) -> list[str]:
        return self.inner.log

    # -- results ----------------------------------------------------------

    def get_result_set_schema(self) -> T.StructType:
        if self._struct is None:
            # peek one row for value-first type inference, keep it for the
            # first fetch (the underlying iterator is consumed by take)
            sample = self.inner.fetch("FETCH_NEXT", 1)
            self._first = sample
            row = sample[0] if sample else []
            fields = []
            for i, (name, hint) in enumerate(self.inner.schema):
                v = row[i] if i < len(row) else None
                fields.append(T.StructField(name, _spark_type(v, str(hint)), True))
            self._struct = T.StructType(fields)
        return self._struct

    def get_next_row_set(
        self,
        orientation: FetchOrientation = FetchOrientation.FETCH_NEXT,
        size: int = 100,
    ) -> list[Any]:
        self.get_result_set_schema()  # ensure the peek happened first
        buffered: list[Any] = []
        if orientation is FetchOrientation.FETCH_NEXT and self._first:
            buffered, self._first = self._first, None
            if len(buffered) >= size:
                return buffered[:size]
        rows = self.inner.fetch(orientation.value, size - len(buffered))
        if orientation is not FetchOrientation.FETCH_NEXT:
            self._first = None
            return rows
        return buffered + rows

    def fetch_log(self, max_rows: int = 100) -> list[str]:
        return self.inner.log[:max_rows]

    def cancel(self) -> None:
        self.inner.cancel()

    def close(self) -> None:
        self.inner.close()


class JdbcBackedSession:
    """Gateway-session adapter over a ``jdbc_engine.JdbcSession``."""

    def __init__(self, engine, user: str, conf: dict | None = None):
        self.engine = engine
        self.user = user
        self.conf = C.GatewayConf(conf)
        raw = dict(conf or {})
        url = raw.get(JDBC_URL_KEY, "jdbc:duckdb::memory:")
        self._backend = self._engine_for(url)
        self._session = self._backend.open_session(user=user)
        self.handle: SessionHandle = self._session.handle
        self.last_access = time.time()
        self.operations: dict[str, JdbcBackedOperation] = {}

    @staticmethod
    def _engine_for(url: str) -> JdbcEngine:
        if url.startswith("jdbc:duckdb:"):
            return JdbcEngine.duckdb(url[len("jdbc:duckdb:"):] or ":memory:")
        if url.startswith("jdbc:sqlite:"):
            return JdbcEngine.sqlite(url[len("jdbc:sqlite:"):] or ":memory:")
        raise ValueError(f"unsupported JDBC engine url: {url}")

    def _wrap(self, inner: JdbcOperation) -> JdbcBackedOperation:
        self.last_access = time.time()
        op = JdbcBackedOperation(inner, self)
        self.operations[op.handle.id] = op
        return op

    # -- the surface the frontends consume --------------------------------

    def execute_statement(
        self,
        statement: str,
        conf_overlay: dict | None = None,
        run_async: bool = False,
    ) -> JdbcBackedOperation:
        inner = self._session.execute_statement(
            statement,
            run_async=run_async,
            incremental=bool(
                (conf_overlay or {}).get("kyuubi.operation.incremental.collect")
                in ("true", "1", True)
            ),
        )
        return self._wrap(inner)

    def get_catalogs(self) -> JdbcBackedOperation:
        return self._wrap(self._session.get_catalogs())

    def get_schemas(self, catalog=None, schema_pattern=None) -> JdbcBackedOperation:
        return self._wrap(self._session.get_schemas(schema_pattern or "%"))

    def get_tables(
        self, catalog=None, schema_pattern=None, table_pattern=None, table_types=None
    ) -> JdbcBackedOperation:
        return self._wrap(self._session.get_tables(schema_pattern or "%"))

    def get_columns(
        self, catalog=None, schema_pattern=None, table_pattern=None, column_pattern=None
    ) -> JdbcBackedOperation:
        return self._wrap(
            self._session.get_columns(table_pattern or "%", schema_pattern or "%")
        )

    def get_table_types(self) -> JdbcBackedOperation:
        return self._wrap(self._session.get_table_types())

    def get_type_info(self) -> JdbcBackedOperation:
        return self._wrap(self._session.get_type_info())

    def get_functions(self, function_pattern=None) -> JdbcBackedOperation:
        # empty-shaped, like the reference's JDBC engine (no UDF registry
        # on a plain backend connection)
        return self._wrap(
            self._session.execute_statement(
                "SELECT NULL AS FUNCTION_SCHEM, NULL AS FUNCTION_NAME "
                "WHERE 1 = 0"
            )
        )

    def get_primary_keys(self) -> JdbcBackedOperation:
        return self._wrap(
            self._session.execute_statement(
                "SELECT NULL AS TABLE_SCHEM, NULL AS TABLE_NAME, "
                "NULL AS COLUMN_NAME, NULL AS KEY_SEQ, NULL AS PK_NAME "
                "WHERE 1 = 0"
            )
        )

    def close_operation(self, handle) -> None:
        hid = getattr(handle, "id", handle)
        op = self.operations.pop(hid, None)
        if op is not None:
            op.close()

    def close(self) -> None:
        self._session.close()
        self._backend.close_session(self._session.handle)
