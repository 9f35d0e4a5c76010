"""Per-layer split of a traced run.

``install_client`` wraps the load generator's calls into ``client.dbapi``
and ``gateway.thrift.ThriftClient`` with spans; the gateway launcher wraps
the server side (``gateway_launcher.install_tracing``).  ``per_layer`` turns
both span sets, from the ``traced`` window only, into the per-layer metrics
listed in BENCHMARK.json.  A metric whose layer a workload does not reach
reads 0.  ``layer_metrics`` computes the same figures for any one phase,
such as the layer tour a traced run makes during warm-up.
"""

from __future__ import annotations

import statistics

from tracing import Tracer

RPCS = ("OpenSession", "ExecuteStatement", "GetResultSetMetadata", "FetchResults",
        "CloseOperation", "CloseSession", "GetTables")


def install_client() -> Tracer:
    import kyuubi_spark.client.dbapi as dbapi
    from kyuubi_spark.gateway import thrift

    tracer = Tracer()
    tracer.wrap(thrift.ThriftClient, "_call", lambda a: f"client.rpc.{a[1]}")
    tracer.wrap(thrift.ProtocolReader, "message_begin", "client.wait")
    tracer.wrap(thrift.ThriftClient, "fetch", "client.fetch",
                describe=lambda a, r: (None, {"rows": len(r or ())}))
    tracer.wrap(dbapi.Cursor, "_fill", "client.dbapi.fill")
    tracer.wrap(dbapi, "connect", "client.dbapi.connect")
    tracer.wrap(dbapi.Cursor, "execute", "client.dbapi.execute")
    return tracer


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _per_krow(seconds: float, rows: int) -> float:
    return 1000.0 * seconds / rows if rows else 0.0


def _at(transitions, state):
    for s, t in transitions:
        if s == state:
            return t
    return None


def _run_s(rec) -> float | None:
    tr = rec["transitions"]
    end = _at(tr, "FINISHED")
    begin = _at(tr, "COMPILED") or _at(tr, "RUNNING")
    return end - begin if end is not None and begin is not None else None


def self_s(s) -> float:
    return s[4] - s[5]


def per_layer(untraced, traced, gateway: dict, client: Tracer) -> dict:
    """The per-layer metrics of the traced window, and the tracing's own."""
    m = layer_metrics(gateway, client, "traced", len(traced))
    gw = [tuple(s) for s in gateway["spans"]]
    cl = client.spans
    m["spark.queue_wait_s_per_op"] = (_queue_wait(gw), "s")
    p50_off = _median(o.latency for o in untraced)
    p50_on = _median(o.latency for o in traced)
    m["trace.overhead_p50_ratio"] = (p50_on / p50_off if p50_off else 0.0, "ratio")
    client_self = sum(self_s(s) for s in cl if s[2] == "traced" and s[0] != "client.wait")
    server = sum(s[4] for s in gw if s[2] == "traced" and (
        s[0].startswith("gateway.thrift.rpc.") or s[0] == "gateway.thrift.encode"))
    latency = sum(o.latency for o in traced)
    m["trace.accounted_share"] = ((client_self + server) / latency if latency else 0.0, "ratio")
    return m


def layer_metrics(gateway: dict, client: Tracer, phase: str, n_ops: int) -> dict:
    """The per-layer metrics from the spans of one phase and its ``n_ops``
    operations; 0 for a layer the phase does not reach."""
    # sessions still open when the traced window ends close just after it
    retained_phases = (phase, "closing") if phase == "traced" else (phase,)

    def spans(src, *names, phases=(phase,)):
        return [s for s in src if s[0] in names and s[2] in phases]

    gw = [tuple(s) for s in gateway["spans"]]
    cl = client.spans
    gw_totals = {(p, n): (sec, cnt) for p, n, sec, cnt in gateway["totals"]}
    n_ops = max(1, n_ops)
    m: dict[str, tuple[float, str]] = {}

    # client.dbapi
    decode = sum(self_s(s) for s in spans(
        cl, "client.dbapi.fill", "client.fetch", "client.rpc.FetchResults"))
    fetched = sum(s[6]["rows"] for s in spans(cl, "client.fetch"))
    m["client.dbapi.decode_s_per_krow"] = (_per_krow(decode, fetched), "s/krow")
    rpcs = [s for s in cl if s[0].startswith("client.rpc.") and s[2] == phase]
    m["client.dbapi.rpcs_per_op"] = (len(rpcs) / n_ops, "count")
    m["client.dbapi.connect_s"] = (_mean(s[4] for s in spans(cl, "client.dbapi.connect")), "s")

    # gateway.thrift: dispatch self time plus the encode of its reply
    encodes = spans(gw, "gateway.thrift.encode")
    for rpc in RPCS:
        calls = spans(gw, f"gateway.thrift.rpc.{rpc}")
        enc = sum(s[4] for s in encodes if s[6]["rpc"] == rpc)
        total = sum(self_s(s) for s in calls) + enc
        m[f"gateway.thrift.rpc_self_s.{rpc}"] = (total / len(calls) if calls else 0.0, "s")
    fetch_spans = spans(gw, "gateway.operations.get_next_row_set")
    rows_served = sum(s[6]["rows"] for s in fetch_spans)
    reply_bytes = sum(s[6]["bytes"] for s in encodes if s[6]["rpc"] == "FetchResults")
    m["gateway.thrift.reply_bytes_per_row"] = (
        reply_bytes / rows_served if rows_served else 0.0, "bytes/row")

    # gateway.wire
    wire = spans(gw, "gateway.wire.to_column_based_set")
    m["gateway.wire.encode_s_per_krow"] = (
        _per_krow(sum(s[4] for s in wire), sum(s[6]["rows"] for s in wire)), "s/krow")

    # gateway.operations (+ gateway.fetch)
    closed = [s[6] for s in spans(gw, "gateway.operations.closed")]
    stmts = [r for r in closed if r["kind"] == "ExecuteStatement"]
    compile_s = []
    for r in stmts:
        a, b = _at(r["transitions"], "RUNNING"), _at(r["transitions"], "COMPILED")
        if a is not None and b is not None:
            compile_s.append(b - a)
    m["gateway.operations.compile_s"] = (_median(compile_s), "s")
    run_s = [x for x in map(_run_s, closed) if x is not None]
    m["gateway.operations.run_s"] = (_median(run_s), "s")
    m["gateway.operations.fetch_self_s_per_krow"] = (
        _per_krow(sum(self_s(s) for s in fetch_spans), rows_served), "s/krow")
    retained = spans(gw, "gateway.operations.retained", phases=retained_phases)
    m["gateway.operations.retained_results"] = (
        max((s[6]["rows"] for s in retained), default=0), "rows")

    # gateway.engine / gateway.session
    m["gateway.engine.open_session_s"] = (
        _mean(s[4] for s in spans(gw, "gateway.engine.open_session")), "s")
    m["gateway.engine.close_session_s"] = (
        _mean(s[4] for s in spans(gw, "gateway.engine.close_session")), "s")
    m["gateway.session.dispatch_self_s"] = (
        _mean(self_s(s) for s in spans(gw, "gateway.session.execute_statement")), "s")

    # spark
    m["spark.sql_s"] = (_mean(s[4] for s in spans(gw, "spark.sql")), "s")
    collects = spans(gw, "spark.collect")
    it_s, it_rows = gw_totals.get((phase, "spark.toLocalIterator"), (0.0, 0))
    m["spark.collect_s_per_krow"] = (_per_krow(
        sum(s[4] for s in collects) + it_s,
        sum(s[6]["rows"] for s in collects) + it_rows), "s/krow")
    m["spark.jobs_per_op"] = (_mean(r["jobs"] for r in closed), "count")
    m["spark.tasks_per_op"] = (_mean(r["tasks"] for r in closed), "count")

    # queries / functions / operators (registry builders and their action)
    m["queries.build_s"] = (_mean(s[4] for s in spans(gw, "queries.build")), "s")
    m["queries.action_s"] = (_mean(s[4] for s in spans(gw, "queries.action")), "s")

    # process
    gc_s, _ = gw_totals.get((phase, "gateway.py_gc_pause"), (0.0, 0))
    m["gateway.py_gc_pause_s_per_op"] = (gc_s / n_ops, "s")
    return m


def _queue_wait(gw) -> float:
    """Median over the statements run alone after warm-up of (their median
    run_s under concurrent clients - their run_s alone); 0 where no
    statement ran alone."""
    solo: dict[tuple, float] = {}
    busy: dict[tuple, list[float]] = {}
    for s in gw:
        if s[0] != "gateway.operations.closed" or s[6]["kind"] != "ExecuteStatement":
            continue
        rs = _run_s(s[6])
        if rs is None:
            continue
        key = (s[6]["statement"], s[6]["mode"])
        if s[2] == "solo":
            solo[key] = rs
        elif s[2] == "traced":
            busy.setdefault(key, []).append(rs)
    waits = [statistics.median(busy[k]) - v for k, v in solo.items() if k in busy]
    return _median(waits)
