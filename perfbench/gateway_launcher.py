"""Gateway process for the benchmark: a ``KyuubiServer`` over a local Spark.

Two modes:

``--generate DIR``
    Write the TPC-H-style tables with the repository's own generator
    (``kyuubi_spark.sources.datagen``) as parquet under ``DIR`` and exit.

``--data DIR --work DIR``
    Build the engine's SparkSession with every writable location (cwd,
    warehouse, local dirs, JVM temp dir) under ``--work``, register the
    tables as catalog tables so every gateway session sees them, start the
    server and print ``READY <thrift-binary-port>``.  Then obey one command
    per stdin line:

    ``trace on`` / ``trace off``  enable or pause span recording
    ``phase <name>``             label the spans recorded from now on
    ``usage``                    answer with this process's CPU seconds
    ``stop`` (or end of input)   stop the server and Spark, write the trace

With ``--trace-out FILE`` the launcher wraps the gateway's layer entry points
with spans (``tracing.Tracer``) and writes them to FILE on stop; without it
nothing is wrapped and tracing costs nothing.
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import os
import resource
import sys
import time
import types

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
DATA_SF = 0.1
CORES = 2  # Spark's local cores: fewer than the 4-CPU box it was tuned on


def build_spark(work: str):
    from kyuubi_spark.session import build_session

    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:ReservedCodeCacheSize=512m -Dderby.system.home={work}"
    )
    return build_session(
        app_name="perfbench-gateway",
        master=f"local[{CORES}]",
        shuffle_partitions=2 * CORES,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )


def generate(out: str, work: str) -> None:
    from kyuubi_spark.sources import datagen

    spark = build_spark(work)
    staging = out + ".partial"
    try:
        for t in TPCH_TABLES:
            df = datagen.generate(spark, t, sf=DATA_SF)
            df.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(staging, f"{t}.parquet")
            )
    finally:
        spark.stop()
    os.replace(staging, out)


def install_tracing(tracer, engine) -> None:
    """Wrap the public entry points of each gateway layer with spans."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.session import SparkSession

    from kyuubi_spark.gateway import thrift, wire
    from kyuubi_spark.gateway.engine import Engine
    from kyuubi_spark.gateway.fetch import ArrayFetchIterator
    from kyuubi_spark.gateway.operations import Operation
    from kyuubi_spark.gateway.session import Session
    from kyuubi_spark.gateway.state import OperationState
    from kyuubi_spark.queries import REGISTRY, tpch  # noqa: F401 - registers tpch_*

    tls = tracer._tls

    def rpc_name(args):
        tls.rpc = args[1]
        return f"gateway.thrift.rpc.{args[1]}"

    tracer.wrap(thrift.ThriftFrontendService, "dispatch", rpc_name)

    # the reply is encoded after dispatch returns: one top-level write_value
    # per reply, attributed to the RPC that produced it
    write_value = thrift.ProtocolWriter.write_value

    def encode(self, ftype, v):
        if not tracer.enabled or getattr(tls, "encoding", False):
            return write_value(self, ftype, v)
        tls.encoding = True
        t0 = time.perf_counter()
        try:
            return write_value(self, ftype, v)
        finally:
            tls.encoding = False
            tracer.spans.append((
                "gateway.thrift.encode", None, tracer.phase, t0,
                time.perf_counter() - t0, 0.0,
                {"rpc": getattr(tls, "rpc", ""), "bytes": len(self.buf)},
            ))

    thrift.ProtocolWriter.write_value = encode

    tracer.wrap(
        Engine, "open_session", "gateway.engine.open_session",
        describe=lambda a, r: (r.handle.id if r is not None else None, None),
    )
    tracer.wrap(
        Engine, "close_session", "gateway.engine.close_session",
        describe=lambda a, r: (getattr(a[1], "id", None), None),
    )
    tracer.wrap(
        Session, "execute_statement", "gateway.session.execute_statement",
        describe=lambda a, r: (a[0].handle.id, None),
    )

    session_close = Session.close

    def close_session(self):
        """Count the result rows the session still holds for its closed
        operations, then close it."""
        if tracer.enabled:
            rows = sum(
                len(op._iter._rows)
                for op in list(self.operations.values())
                if isinstance(op._iter, ArrayFetchIterator)
                and op.state is OperationState.CLOSED
            )
            tracer.spans.append((
                "gateway.operations.retained", self.handle.id, tracer.phase,
                time.perf_counter(), 0.0, 0.0, {"rows": rows},
            ))
        return session_close(self)

    Session.close = close_session

    tracer.wrap(
        Operation, "_guarded_execute", "gateway.operations.run",
        describe=lambda a, r: (a[0].handle.id, None),
        tag=lambda a: type(a[0]).__name__,
    )
    tracer.wrap(
        Operation, "get_next_row_set", "gateway.operations.get_next_row_set",
        describe=lambda a, r: (a[0].handle.id, {"rows": len(r or ())}),
    )

    op_close = Operation.close
    sc = engine.root_spark.sparkContext

    def close_op(self):
        was_closed = self.state is OperationState.CLOSED
        op_close(self)
        statement = getattr(self, "statement", None) or getattr(self, "code", None)
        if was_closed or not tracer.enabled or statement is None:
            return
        jobs = tasks = 0
        st = sc.statusTracker()
        for jid in st.getJobIdsForGroup(self.handle.id):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    tasks += si.numTasks
        rec = engine.op_store.get(self.handle.id) or {}
        tracer.spans.append((
            "gateway.operations.closed", self.handle.id, tracer.phase,
            time.perf_counter(), 0.0, 0.0,
            {
                "kind": type(self).__name__,
                "statement": statement,
                "transitions": rec.get("transitions", []),
                "mode": rec.get("collectMode"),
                "jobs": jobs,
                "tasks": tasks,
            },
        ))

    Operation.close = close_op

    def wire_rows(a, r):
        return None, {"rows": len(a[0])}

    tracer.wrap(wire, "to_column_based_set", "gateway.wire.to_column_based_set",
                describe=wire_rows)

    tracer.wrap(SparkSession, "sql", "spark.sql")

    def collect_name(args):
        return "queries.action" if tracer.in_tag("ExecutePython") else "spark.collect"

    tracer.wrap(DataFrame, "collect", collect_name,
                describe=lambda a, r: (None, {"rows": len(r or ())}))

    to_local_iterator = DataFrame.toLocalIterator

    def local_iter(self, *args, **kwargs):
        it = to_local_iterator(self, *args, **kwargs)
        return tracer.timed_iter(iter(it), "spark.toLocalIterator")

    DataFrame.toLocalIterator = local_iter

    for name, spec in list(REGISTRY.items()):
        holder = types.SimpleNamespace(builder=spec.builder)
        tracer.wrap(holder, "builder", "queries.build")
        REGISTRY[name] = dataclasses.replace(spec, builder=holder.builder)

    gc_start = {}

    def on_gc(phase, info):
        if not tracer.enabled:
            return
        if phase == "start":
            gc_start["t"] = time.perf_counter()
        elif "t" in gc_start:
            tracer.fold("gateway.py_gc_pause", time.perf_counter() - gc_start.pop("t"))

    gc.callbacks.append(on_gc)


def process_cpu_s() -> float:
    """user+sys CPU of this process, all threads, at microsecond resolution."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


def serve(args) -> None:
    from kyuubi_spark.gateway.server_main import KyuubiServer

    spark = build_spark(args.work)
    for t in TPCH_TABLES:
        path = os.path.join(args.data, f"{t}.parquet")
        spark.sql(f"CREATE TABLE IF NOT EXISTS {t} USING parquet LOCATION '{path}'")
    server = KyuubiServer(spark).start()
    tracer = None
    if args.trace_out:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from tracing import Tracer

        tracer = Tracer()
        install_tracing(tracer, server.engine)
    _, port = server.endpoints()["thrift_binary"]
    print(f"READY {port}", flush=True)
    try:
        for line in sys.stdin:
            cmd = line.split()
            if not cmd or cmd[0] == "stop":
                break
            if cmd[0] == "usage":
                print(f"OK usage {process_cpu_s()}", flush=True)
                continue
            if tracer is not None and cmd[0] == "trace":
                tracer.enabled = cmd[1] == "on"
            elif tracer is not None and cmd[0] == "phase":
                tracer.phase = cmd[1]
            print(f"OK {line.strip()}", flush=True)
    finally:
        # Clients have closed their sessions by now and the process exits
        # next, so the frontends are not stopped one by one (each stop
        # waits out its server's poll interval); stopping Spark ends the JVM.
        if tracer is not None:
            tracer.enabled = False
            tracer.dump(args.trace_out)
        spark.stop()
    print("STOPPED", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--generate")
    ap.add_argument("--data")
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args()
    if args.generate:
        generate(args.generate, args.work)
    else:
        serve(args)


if __name__ == "__main__":
    main()
