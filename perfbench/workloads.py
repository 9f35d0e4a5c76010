"""The benchmark's workloads: what each client sends, and how its answers
are checked against DuckDB on the same parquet files.

Every workload is closed-loop: a client sends its next operation only after
the previous one returned.  A workload object builds its inputs from the
seed, computes the expected answers with DuckDB before the gateway starts,
and hands out one ``Client`` per load-generator thread.  ``Client.step()``
runs one operation and returns its ``Op`` record.
"""

from __future__ import annotations

import datetime
import hashlib
import random
import threading
import time
from dataclasses import dataclass
from decimal import Decimal

import kyuubi_spark.client.dbapi as dbapi
from kyuubi_spark.gateway.thrift import TType
from kyuubi_spark.queries import REGISTRY, tpch  # noqa: F401 - registers tpch_*

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass
class Op:
    kind: str
    latency: float
    rows: int = 0
    ok: bool = True
    error: str = ""
    open_s: float | None = None
    phase: str = ""


# -- answers ------------------------------------------------------------------


def _canon(v):
    """One value in a form both engines agree on: numbers (including the
    decimal strings the thrift wire carries) as floats rounded to cents,
    dates and timestamps as ISO text."""
    if v is None:
        return None
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float, Decimal)):
        return round(float(v), 2) + 0.0
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        v = v.decode("utf-8")
    s = str(v)
    try:
        return round(float(s), 2) + 0.0
    except ValueError:
        return s


def canon_rows(names: list[str], rows) -> list[tuple]:
    """Rows with columns ordered by name, values canonical, rows sorted."""
    order = sorted(range(len(names)), key=lambda i: names[i].lower())
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= 0.011 + 1e-9 * abs(a)
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    if got == want:
        return True
    # the two engines may round a half-cent the other way
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_close(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def checksum(rows) -> tuple[int, int]:
    """Order-insensitive (count, hash) of canonical rows."""
    h = 0
    n = 0
    for r in rows:
        d = hashlib.blake2b(repr(tuple(_canon(v) for v in r)).encode(), digest_size=8)
        h = (h + int.from_bytes(d.digest(), "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, h


class Oracle:
    """DuckDB over the same parquet files the gateway serves."""

    def __init__(self, data: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')"
            )

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql)
        names = [d[0] for d in cur.description]
        return names, cur.fetchall()

    def close(self) -> None:
        self.con.close()


def run_clients(
    clients, steps: list[int], phase: str, lockstep: bool = False
) -> tuple[list[Op], float]:
    """Closed loop: client i sends ``steps[i]`` operations from its own
    thread, each after the previous one returned.  With ``lockstep`` the
    clients also wait for each other after every operation, so the same
    operations always run side by side.  Returns the ops and the seconds
    until the last client finished."""
    ops: list[Op] = []
    errors: list[BaseException] = []
    rounds = max(steps)
    barrier = threading.Barrier(len(clients)) if lockstep else None
    start = time.perf_counter()

    def loop(c, n):
        try:
            for r in range(rounds if lockstep else n):
                if r < n:
                    op = c.step()
                    op.phase = phase
                    ops.append(op)
                if barrier is not None:
                    barrier.wait(timeout=600)
        except BaseException as e:  # noqa: BLE001 - re-raised below
            if barrier is not None:
                barrier.abort()
            errors.append(e)

    threads = [threading.Thread(target=loop, args=(c, n)) for c, n in zip(clients, steps)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return ops, time.perf_counter() - start


def _failed(kind: str, t0: float, e: BaseException) -> Op:
    return Op(kind, time.perf_counter() - t0, ok=False, error=f"{type(e).__name__}: {e}")


def layer_tour(host: str, port: int, data: str, oracle_rows: int) -> Op:
    """One pass through the layers the workloads do not all reach: connect
    to a PYTHON-language session, GetTables, a registry builder
    (``tpch_q6``), CloseSession.  Traced runs end their warm-up with it, so
    each per-layer metric is measured on every workload."""
    t0 = time.perf_counter()
    try:
        conn = dbapi.connect(host, port, user="tour",
                             conf={"kyuubi.operation.language": "PYTHON"})
        try:
            client = conn._client
            op_guid = client.metadata_op("GetTables", [(4, TType.STRING, "%")])
            client.fetch(op_guid, max_rows=1000)
            client.close_operation(op_guid)
            cur = conn.cursor()
            cur.execute(f"from kyuubi_spark.queries import REGISTRY as REG, tpch\nSF = {data!r}")
            cur.fetchall()
            cur.execute("%table REG['tpch_q6'].builder(spark, SF)")
            rows = cur.fetchall()
            cur.close()
        finally:
            conn.close()
    except Exception as e:  # noqa: BLE001 - counted as a failed op
        return _failed("tour", t0, e)
    op = Op("tour", time.perf_counter() - t0, rows=len(rows), phase="warmup")
    if len(rows) != oracle_rows:
        op.ok = False
        op.error = f"tpch_q6 returned {len(rows)} rows, DuckDB {oracle_rows}"
    return op


# -- bi-mix -------------------------------------------------------------------

_WRITE_SELECT = (
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
    "ROUND(SUM(l_quantity), 2) AS qty, ROUND(SUM(l_extendedprice), 2) AS price "
    "FROM lineitem WHERE l_shipdate < TIMESTAMP '{day} 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus"
)
_READS_PER_WRITE = 4
_SECONDS_PER_PASS = 12.0  # one pass of every hand at local[2]


class BiMix:
    """Three clients share the 22 TPC-H statements (the registry's oracle
    SQL), dealt from a fixed shuffle; each client runs through its hand,
    writing an aggregate for a seeded day into its own parquet table after
    every four reads and at the end.  Clients 0 and 1 send SQL; client 2 is
    a notebook user on a PYTHON-language session that runs its statements
    as registry builders, so the ``queries`` layer is on the measured path."""

    n_clients = 3
    # An op's latency depends on which statements run beside it: clients
    # take their steps in lockstep, so that pairing is the same every run.
    lockstep = True

    def __init__(self, seed: int, data: str, scratch: str, oracle: Oracle):
        rng = random.Random(seed)
        # The deal is fixed for the same reason as the lockstep: a seeded
        # deal moved the p50 by ~30% between seeds.  The seed picks the
        # write parameters.
        names = [f"tpch_q{i}" for i in range(1, 23)]
        random.Random(0).shuffle(names)
        self.data = data
        self.scratch = scratch
        self.expected = {}
        for n in names:
            cols, rows = oracle.query(REGISTRY[n].oracle)
            self.expected[n] = canon_rows(cols, rows)
        self.hands = [names[k :: self.n_clients] for k in range(self.n_clients)]
        self.days = [
            (datetime.date(1993, 1, 1) + datetime.timedelta(days=rng.randrange(0, 2000))).isoformat()
            for _ in range(8)
        ]
        self.write_expected = {}
        for day in self.days:
            cols, rows = oracle.query(_WRITE_SELECT.format(day=day))
            self.write_expected[day] = canon_rows(cols, rows)
        self.solo_names = names[:2]  # the SQL clients run these under load

    def clients(self, host: str, port: int) -> list["BiMixClient"]:
        return [BiMixClient(self, k, host, port) for k in range(self.n_clients)]

    def warm_up(self, clients: list["BiMixClient"]) -> list[Op]:
        """CTAS of each client's table, then one untimed pass of the
        measured work: the first run of a statement pays Spark's code
        generation."""
        for c in clients:
            c.create_table()
        return run_clients(clients, [len(c.plan) for c in clients], "warmup")[0]

    def solo(self, clients: list["BiMixClient"]) -> list[Op]:
        return [clients[0].read(n) for n in self.solo_names]

    def steps(self, clients: list["BiMixClient"], seconds: float) -> list[int]:
        passes = max(1, round(seconds / _SECONDS_PER_PASS))
        return [passes * len(c.plan) for c in clients]

    def final_checks(self, clients: list["BiMixClient"]) -> list[str]:
        errors = []
        for c in clients:
            cur = clients[0].conn.cursor()
            cur.execute(f"SELECT * FROM w_c{c.k}")
            got = canon_rows([d[0] for d in cur.description], cur.fetchall())
            cur.close()
            if not same_rows(got, self.write_expected[c.last_day]):
                errors.append(f"w_c{c.k}: written rows differ from DuckDB for day {c.last_day}")
        return errors


class BiMixClient:
    def __init__(self, w: BiMix, k: int, host: str, port: int):
        self.w = w
        self.k = k
        self.python = k == 2
        conf = {"kyuubi.operation.language": "PYTHON"} if self.python else None
        self.conn = dbapi.connect(host, port, user=f"bi{k}", conf=conf)
        if self.python:
            cur = self.conn.cursor()
            cur.execute(
                "from kyuubi_spark.queries import REGISTRY as REG, tpch\n"
                f"SF = {w.data!r}"
            )
            cur.fetchall()
            cur.close()
        self.plan = []
        for i, n in enumerate(w.hands[k]):
            self.plan.append(("read", n))
            if (i + 1) % _READS_PER_WRITE == 0:
                self.plan.append(("write", None))
        if self.plan[-1][0] != "write":
            self.plan.append(("write", None))
        self.pos = 0
        self.writes = 0
        self.last_day = w.days[0]

    def _run(self, text: str) -> tuple[list[str], list]:
        cur = self.conn.cursor()
        try:
            cur.execute(text)
            if cur.description is None:
                return [], []
            return [d[0] for d in cur.description], cur.fetchall()
        finally:
            cur.close()

    def create_table(self) -> None:
        select = _WRITE_SELECT.format(day=self.last_day)
        loc = f"{self.w.scratch}/w_c{self.k}"
        sql = f"CREATE TABLE w_c{self.k} USING parquet LOCATION '{loc}' AS {select}"
        if self.python:
            sql = f"spark.sql({sql!r}).count()"
        self._run(sql)

    def read(self, name: str) -> Op:
        if self.python:
            text = f"%table REG[{name!r}].builder(spark, SF)"
        else:
            text = REGISTRY[name].oracle
        t0 = time.perf_counter()
        try:
            cols, rows = self._run(text)
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            return _failed("read", t0, e)
        op = Op("read", time.perf_counter() - t0, rows=len(rows))
        if not same_rows(canon_rows(cols, rows), self.w.expected[name]):
            op.ok = False
            op.error = f"{name}: rows differ from DuckDB"
        return op

    def write(self) -> Op:
        day = self.w.days[self.writes % len(self.w.days)]
        self.writes += 1
        sql = f"INSERT OVERWRITE TABLE w_c{self.k} " + _WRITE_SELECT.format(day=day)
        if self.python:
            sql = f"spark.sql({sql!r}).count()"
        t0 = time.perf_counter()
        try:
            self._run(sql)
        except Exception as e:  # noqa: BLE001
            return _failed("write", t0, e)
        self.last_day = day
        return Op("write", time.perf_counter() - t0)

    def step(self) -> Op:
        kind, name = self.plan[self.pos % len(self.plan)]
        self.pos += 1
        return self.read(name) if kind == "read" else self.write()

    def close(self) -> None:
        self.conn.close()


# -- result-export -----------------------------------------------------------

_EXPORT = (
    "SELECT l_orderkey, l_linenumber, l_partkey, "
    "CAST(l_extendedprice AS DECIMAL(12,2)) AS l_extendedprice, l_discount, "
    "l_returnflag, CAST(l_shipdate AS DATE) AS l_shipdate, "
    "CASE WHEN l_linenumber = {n} THEN NULL ELSE l_linestatus END AS l_linestatus "
    "FROM lineitem WHERE l_orderkey % 12 = {r}"
)
_PAGE = 5000
_SECONDS_PER_EXPORT = 7.0  # per statement, with the client's decode and checksum


class ResultExport:
    """One client exports ~50k mixed-type lineitem rows per statement (ints,
    decimals, doubles, strings, dates, NULLs) in ``fetchmany`` pages.  The
    measured work is two sessions, one in the default collect mode and one
    with ``kyuubi.operation.incremental.collect=true``, each running the
    same statements, so the rows a session retains until CloseSession are
    the same in every run."""

    lockstep = False

    def __init__(self, seed: int, data: str, scratch: str, oracle: Oracle):
        rng = random.Random(seed)
        # one statement, so both collect modes do the same work
        self.statements = [_EXPORT.format(n=rng.randrange(1, 8), r=rng.randrange(12))]
        self.warm_statement = _EXPORT.format(n=1, r=0).replace("% 12 = 0", "% 60 = 0")
        self.expected = {}
        for s in self.statements + [self.warm_statement]:
            _, rows = oracle.query(s)
            self.expected[s] = checksum(rows)

    def clients(self, host: str, port: int) -> list["ExportClient"]:
        return [ExportClient(self, host, port)]

    def warm_up(self, clients: list["ExportClient"]) -> list[Op]:
        """A ~10k-row statement in each collect mode: the same code paths
        as the measured statements at a fifth of the cost."""
        c = clients[0]
        c.per_session = 1
        return [c.step(self.warm_statement) for _ in range(2)]

    def solo(self, clients: list["ExportClient"]) -> list[Op]:
        c = clients[0]
        c.per_session = 1  # warm-up ended with an incremental session, so this one collects
        return [c.step(self.statements[0])]

    def steps(self, clients: list["ExportClient"], seconds: float) -> list[int]:
        per_session = max(1, round(seconds / _SECONDS_PER_EXPORT))
        for c in clients:
            c.per_session = per_session
        return [2 * per_session]

    def final_checks(self, clients) -> list[str]:
        return []


class ExportClient:
    def __init__(self, w: ResultExport, host: str, port: int):
        self.w = w
        self.host, self.port = host, port
        self.conn = None
        self.incremental = True  # each new session flips the mode
        self.per_session = 1
        self.in_session = 0
        self.pos = 0

    def step(self, sql: str | None = None) -> Op:
        open_s = None
        if self.conn is None:
            self.incremental = not self.incremental
            conf = {"kyuubi.operation.incremental.collect": "true"} if self.incremental else None
            t0 = time.perf_counter()
            self.conn = dbapi.connect(self.host, self.port, user="export", conf=conf)
            open_s = time.perf_counter() - t0
            self.in_session = 0
        if sql is None:
            sql = self.w.statements[self.pos % len(self.w.statements)]
            self.pos += 1
        rows = []
        t0 = time.perf_counter()
        try:
            cur = self.conn.cursor()
            cur.execute(sql)
            while True:
                page = cur.fetchmany(_PAGE)
                if not page:
                    break
                rows.extend(page)
            latency = time.perf_counter() - t0
            cur.close()
        except Exception as e:  # noqa: BLE001
            op = _failed("export", t0, e)
        else:
            op = Op("export", latency, rows=len(rows), open_s=open_s)
            if checksum(rows) != self.w.expected[sql]:
                op.ok = False
                op.error = f"export checksum differs from DuckDB: {sql}"
        self.in_session += 1
        if self.in_session >= self.per_session:
            self.close()
        return op

    def close(self) -> None:
        if self.conn is not None:
            self.conn.close()
            self.conn = None


# -- session-churn -----------------------------------------------------------

_SECONDS_PER_CYCLE = 0.4  # per client, two clients at local[2]
_SESSION_CONF = {
    "spark.sql.shuffle.partitions": "2",
    "spark.sql.session.timeZone": "UTC",
    "use:database": "default",
}


class SessionChurn:
    """Two clients loop connect, OpenSession with a small conf map, one
    tiny statement on ``nation``, one GetTables, CloseSession.  Two keep the
    gateway's JVM as busy as three did (~3 of the 4 CPUs): a third client
    only queued, and its threads added scheduler noise."""

    n_clients = 2
    warm_cycles = 12
    lockstep = False

    def __init__(self, seed: int, data: str, scratch: str, oracle: Oracle):
        self.seed = seed
        # a few seeded nation keys, so the statement run alone after warm-up
        # also runs under load in the measured window
        self.keys = random.Random(seed).sample(range(25), 5)
        cols, rows = oracle.query(
            "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"
        )
        self.expected = {r[0]: canon_rows(cols, [r]) for r in rows}
        self.cols = cols

    def clients(self, host: str, port: int) -> list["ChurnClient"]:
        return [ChurnClient(self, k, host, port) for k in range(self.n_clients)]

    def warm_up(self, clients: list["ChurnClient"]) -> list[Op]:
        return run_clients(clients, [self.warm_cycles] * len(clients), "warmup")[0]

    def solo(self, clients: list["ChurnClient"]) -> list[Op]:
        return [clients[0].step(self.keys[0])]

    def steps(self, clients: list["ChurnClient"], seconds: float) -> list[int]:
        return [max(1, round(seconds / _SECONDS_PER_CYCLE))] * len(clients)

    def final_checks(self, clients) -> list[str]:
        return []


class ChurnClient:
    def __init__(self, w: SessionChurn, k: int, host: str, port: int):
        self.w = w
        self.host, self.port = host, port
        self.rng = random.Random(w.seed * 31 + k)
        self.user = f"churn{k}"

    def step(self, key: int | None = None) -> Op:
        if key is None:
            key = self.rng.choice(self.w.keys)
        t0 = time.perf_counter()
        try:
            conn = dbapi.connect(self.host, self.port, user=self.user, conf=_SESSION_CONF)
            open_s = time.perf_counter() - t0
            try:
                cur = conn.cursor()
                cur.execute(
                    "SELECT n_nationkey, n_name, n_regionkey FROM nation "
                    f"WHERE n_nationkey = {key}"
                )
                rows = cur.fetchall()
                cur.close()
                client = conn._client
                op_guid = client.metadata_op("GetTables", [(4, TType.STRING, "%")])
                tables = client.fetch(op_guid, max_rows=1000)
                client.close_operation(op_guid)
            finally:
                conn.close()
        except Exception as e:  # noqa: BLE001
            return _failed("cycle", t0, e)
        op = Op("cycle", time.perf_counter() - t0, rows=len(rows) + len(tables), open_s=open_s)
        names = {t[2] for t in tables}
        if canon_rows(self.w.cols, rows) != self.w.expected[key]:
            op.ok = False
            op.error = f"nation row {key} differs from DuckDB: {rows}"
        elif not set(TABLES) <= names:
            op.ok = False
            op.error = f"GetTables is missing {sorted(set(TABLES) - names)}"
        return op

    def close(self) -> None:
        pass


WORKLOADS = {
    "bi-mix": BiMix,
    "result-export": ResultExport,
    "session-churn": SessionChurn,
}
