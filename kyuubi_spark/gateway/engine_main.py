"""Standalone engine process entrypoint — the Spark-side half of the
reference's engine lifecycle.

In the reference, every interactive engine is a SEPARATE Spark
application: ``SparkProcessBuilder`` assembles a spark-submit of
``SparkSQLEngine`` (kyuubi-server/.../spark/SparkProcessBuilder.scala:69,
141), and the launched process starts a SparkSession plus a thrift
frontend, registers its real host:port under the share-level namespace in
service discovery, serves forwarded sessions, and SELF-TERMINATES when it
has had no session for ``kyuubi.session.engine.idle.timeout`` (or, at
CONNECTION share level, as soon as its one session closes) —
externals/kyuubi-spark-sql-engine/.../SparkSQLEngine.scala.

This module is that engine process for this repo:

    python -m kyuubi_spark.gateway.engine_main \
        --namespace /kyuubi/user/alice --ref-id <uuid> \
        --discovery /path/registry.db --conf k=v [--conf k=v ...]

- builds a SparkSession from ``kyuubi.engine.spark.master`` (default
  ``local[2]``) in its OWN JVM — crash isolation and per-user resource
  boundaries the in-process pool cannot give;
- when ``kyuubi.engine.security.enabled`` is on, authenticates internal
  connections ONLY via the engine-secure token provider (the reference's
  engines run exactly that one provider), sourcing the cluster secret
  from conf or the shared discovery store;
- optional TLS on its frontend via the standard ``kyuubi.frontend.ssl.*``
  keys;
- registers an EPHEMERAL service node carrying its bound host:port and
  engine ref id, which is how the launching gateway finds it
  (EngineRef.scala:224-330 polls discovery while the child boots);
- exits 0 after deregistering on SIGTERM, parent death (stdin EOF), a
  closed CONNECTION-level session, or the idle TTL.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import threading
import time

IDLE_TIMEOUT_KEY = "kyuubi.session.engine.idle.timeout"
MAX_LIFETIME_KEY = "kyuubi.session.engine.spark.max.lifetime"
SHARE_LEVEL_KEY = "kyuubi.engine.share.level"
SPARK_MASTER_KEY = "kyuubi.engine.spark.master"
# how long an engine waits on a frontend peer it cannot see finish: past
# max lifetime for a first contact, and at shutdown for open connections
GRACE_S = 15.0


def _parse_args(argv=None):
    p = argparse.ArgumentParser(prog="kyuubi-engine")
    p.add_argument("--namespace", required=True)
    p.add_argument("--ref-id", required=True)
    p.add_argument("--discovery", required=True,
                   help="file path of the shared sqlite discovery store")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--conf", action="append", default=[],
                   help="k=v, repeatable (the spark-submit --conf analog)")
    return p.parse_args(argv)


def _build_spark(conf: dict):
    from pyspark.sql import SparkSession

    master = conf.get(SPARK_MASTER_KEY, "local[2]")
    builder = (
        SparkSession.builder.master(master)
        .appName(conf.get("kyuubi.engine.app.name", "kyuubi-engine"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            conf.get("spark.sql.shuffle.partitions", "4"),
        )
    )
    for k, v in conf.items():
        if k.startswith("spark.") and k != "spark.sql.shuffle.partitions":
            builder = builder.config(k, v)
    return builder.getOrCreate()


def main(argv=None) -> int:
    args = _parse_args(argv)
    conf = {}
    for kv in args.conf:
        k, _, v = kv.partition("=")
        conf[k] = v

    from kyuubi_spark.gateway.discovery import connect_discovery
    from kyuubi_spark.gateway.engine import Engine
    from kyuubi_spark.gateway.internal_auth import (
        EngineSecureAuthenticationProvider,
        build_accessor,
    )
    from kyuubi_spark.gateway.thrift import ThriftFrontendService
    from kyuubi_spark.gateway.tls import server_ssl_context

    # sqlite file path OR tcp://host:port (the gateway's DiscoveryServer,
    # whose ephemerals die with this process's connection)
    discovery = connect_discovery(args.discovery)
    discovery.create_client()

    spark = _build_spark(conf)
    engine = Engine(spark=spark, conf=conf)

    accessor = build_accessor(conf, discovery)
    auth = (
        EngineSecureAuthenticationProvider(accessor)
        if accessor is not None
        else None
    )
    svc = ThriftFrontendService(
        engine,
        host=args.host,
        auth=auth,
        ssl_context=server_ssl_context(conf),
    ).start()

    node = discovery.create_and_get_service_node(
        args.namespace,
        f"{svc.host}:{svc.port}",
        engine_ref_id=args.ref_id,
        attributes={
            "pid": str(os.getpid()),
            # app-level fields the reference's AdminResource lists per
            # engine (app id/name/master) — under spark-submit the app
            # id is the cluster-manager handle used to find/kill the app
            "appId": spark.sparkContext.applicationId,
            "appName": spark.sparkContext.appName,
            "master": spark.sparkContext.master,
        },
    )
    # log line for the launcher (stderr: stdout is process-global and
    # ExecutePython statement capture must never see engine logs);
    # discovery is the real readiness channel
    print(f"ENGINE READY {svc.host}:{svc.port} pid={os.getpid()}",
          file=sys.stderr, flush=True)

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *a: stop.set())
    signal.signal(signal.SIGINT, lambda *a: stop.set())

    def watch_parent() -> None:
        # the gateway holds our stdin pipe open for our whole life; EOF
        # means it died — never outlive it (ProcBuilder ties engine logs
        # to the server process the same way).  RAW os.read on fd 0, NOT
        # sys.stdin.buffer: a daemon thread blocked inside the buffered
        # reader holds its lock through interpreter finalization and
        # turns every clean exit into a _enter_buffered_busy fatal abort
        try:
            while os.read(0, 4096):
                pass
        except OSError:
            pass
        stop.set()

    threading.Thread(target=watch_parent, daemon=True).start()

    share_level = conf.get(SHARE_LEVEL_KEY, "USER").upper()
    idle_timeout = float(conf.get(IDLE_TIMEOUT_KEY, 1800.0))
    # max lifetime (KyuubiConf ENGINE_SPARK_MAX_LIFETIME): after this
    # many seconds the engine RETIRES — it stops as soon as it has no
    # active sessions, even if the idle TTL hasn't elapsed, so
    # long-lived shared engines rotate (credential/memory hygiene).
    # 0 = unlimited, like the reference default.
    max_lifetime = float(conf.get(MAX_LIFETIME_KEY, 0.0))
    start_time = time.time()
    seen_session = False
    idle_since = time.time()
    last_n: int | None = None
    while not stop.is_set():
        stop.wait(0.2)
        n = engine.sessions.count
        # an open frontend connection is activity even before its
        # OpenSession registers a session: the launching gateway connects
        # and THEN opens, and on a loaded box that gap can exceed a short
        # max.lifetime — retiring inside it closes the socket under an
        # in-flight open/statement (the r13 driver-gate flake)
        conns = getattr(svc, "active_connections", 0)
        if (n, conns) != last_n:
            print(f"engine sessions: {n} conns: {conns}",
                  file=sys.stderr, flush=True)
            last_n = (n, conns)
        # ...but once a CONNECTION-level engine's one session has closed, a
        # peer that keeps its socket open is not activity: the drain below
        # bounds how long it is waited for
        if n > 0 or (conns > 0 and not (share_level == "CONNECTION" and seen_session)):
            if n > 0:
                seen_session = True
            idle_since = None
            continue
        if (
            max_lifetime > 0
            and time.time() - start_time > max_lifetime
            # never-contacted engines get a grace window past the
            # lifetime so a slow gateway poll/connect cannot race the
            # retirement; once a session has been served, retire at the
            # first sessionless check after expiry (reference semantics)
            and (
                seen_session
                or time.time() - start_time > max_lifetime + GRACE_S
            )
        ):
            print("engine stopping: max lifetime reached",
                  file=sys.stderr, flush=True)
            break
        if idle_since is None:
            idle_since = time.time()
        # CONNECTION level: one session, die with it (SparkSQLEngine
        # stops when the count drops to zero at this share level)
        if share_level == "CONNECTION" and seen_session:
            if time.time() - idle_since > 0.5:
                break
        elif time.time() - idle_since > idle_timeout:
            break

    print("engine stopping: deregister", file=sys.stderr, flush=True)
    try:
        discovery.delete(node)
    except Exception:
        pass
    discovery.close_client()
    print("engine stopping: frontend", file=sys.stderr, flush=True)
    try:
        svc.stop()
    except Exception:
        pass
    # stop() closes the LISTENER only; a connection admitted just before
    # it may still carry an in-flight open/statement in its own handler
    # thread — drain it before tearing Spark down, for at most the grace
    # window: a client holding its socket open after CloseSession must not
    # keep the engine alive (parent death or SIGTERM ends the wait sooner)
    drain_deadline = time.time() + GRACE_S
    while not stop.is_set() and time.time() < drain_deadline and (
        engine.sessions.count > 0
        or getattr(svc, "active_connections", 0) > 0
    ):
        stop.wait(0.2)
    print("engine stopping: spark", file=sys.stderr, flush=True)
    try:
        # under spark-submit the py4j JVM may already be tearing down
        # when the stop was triggered by parent death — deregistration
        # above is the part that must not be skipped
        spark.stop()
    except Exception:
        pass
    print("engine stopped", file=sys.stderr, flush=True)
    # hard exit: after a clean shutdown, straggler non-daemon threads
    # (py4j/JVM bridge remnants) must not keep a deregistered engine
    # process alive — the reference engine JVM System.exit()s the same
    # way after its own stop sequence
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":  # pragma: no cover - subprocess entry
    sys.exit(main())
