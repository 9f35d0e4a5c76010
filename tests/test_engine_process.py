"""Gateway-spawned engine OS processes — the EngineRef.getOrCreate
lifecycle over real subprocesses (EngineRef.scala:74,108-118,164-191,
224-330; SparkProcessBuilder.scala:69,141).

Proves, per the architecture's contract: session open spawns a SEPARATE
PID; queries flow end-to-end through it with internal auth and TLS;
a CONNECTION-level engine dies with its session; a USER-level engine is
shared by two sessions and survives the first close; crash recovery
relaunches after a SIGKILL."""

import os
import signal
import time

import pytest

from kyuubi_spark.gateway.state import FetchOrientation


@pytest.fixture(scope="module")
def certs(tmp_path_factory):
    from kyuubi_spark.gateway.tls import generate_self_signed_cert

    d = tmp_path_factory.mktemp("engine-tls")
    return generate_self_signed_cert(str(d))


@pytest.fixture(scope="module")
def launching_gateway(spark, tmp_path_factory, certs):
    """A gateway Engine with a process manager: engine security ON
    (simple shared secret) and TLS ON for every launched engine's
    frontend."""
    from kyuubi_spark.gateway.discovery import SqliteDiscoveryClient
    from kyuubi_spark.gateway.engine import Engine
    from kyuubi_spark.gateway.engine_process import EngineProcessManager
    from kyuubi_spark.gateway.internal_auth import build_accessor

    cert, key = certs
    d = tmp_path_factory.mktemp("engine-proc")
    conf = {
        "kyuubi.engine.security.enabled": "true",
        "kyuubi.engine.security.secret.provider.simple.secret": "s3cret",
        "kyuubi.session.engine.initialize.timeout": "90",
        "kyuubi.session.engine.idle.timeout": "600",
        "kyuubi.frontend.thrift.binary.ssl.enabled": "true",
        "kyuubi.frontend.ssl.keystore.path": cert,
        "kyuubi.frontend.ssl.key.path": key,
    }
    disco = SqliteDiscoveryClient(str(d / "registry.db"))
    disco.create_client()
    gw = Engine(spark)
    gw.discovery = disco
    gw.internal_accessor = build_accessor(conf, disco)
    gw.process_manager = EngineProcessManager(disco, conf)
    gw.launch_engines = False  # per-session opt-in via conf in these tests
    yield gw, disco, cert
    gw.process_manager.stop_all()
    disco.close_client()


def _open(gw, user, cert, extra=None):
    conf = {
        "kyuubi.engine.launch.enabled": "true",
        "kyuubi.engine.thrift.ssl.enabled": "true",
        "kyuubi.engine.thrift.ssl.cafile": cert,
    }
    conf.update(extra or {})
    return gw.open_session(user=user, conf=conf)


def _engine_pid(disco, namespace) -> int:
    nodes = disco.get_service_nodes_info(namespace)
    assert nodes, f"no engine registered under {namespace}"
    return int(nodes[-1].attributes["pid"])


def test_user_level_engine_lifecycle(launching_gateway):
    """One launch covers: separate PID, TLS+internal-auth query flow,
    two-session sharing, survival of the first close, and SIGKILL crash
    recovery."""
    gw, disco, cert = launching_gateway
    ns = "/kyuubi/user/alice"

    s1 = _open(gw, "alice", cert)
    pid1 = _engine_pid(disco, ns)
    assert pid1 != os.getpid()  # a real separate OS process
    op = s1.execute_statement("SELECT 40 + 2 AS answer")
    rows = op.get_next_row_set(FetchOrientation.FETCH_NEXT, 10)
    assert [tuple(r) for r in rows] == [(42,)]

    # second session, same user: SHARED engine — no second process
    s2 = _open(gw, "alice", cert)
    assert _engine_pid(disco, ns) == pid1
    assert gw.process_manager.engine_count == 1

    # first close must NOT kill the shared engine
    gw.close_session(s1.handle)
    time.sleep(1.0)
    assert gw.process_manager.engine_count == 1
    op = s2.execute_statement("SELECT 'still up' AS s")
    assert [
        r[0] for r in op.get_next_row_set(FetchOrientation.FETCH_NEXT, 5)
    ] == ["still up"]
    gw.close_session(s2.handle)

    # crash recovery: SIGKILL leaves a stale discovery node (no clean
    # deregistration); the next open detects the dead endpoint,
    # clears it, and relaunches
    os.kill(pid1, signal.SIGKILL)
    deadline = time.time() + 10
    while time.time() < deadline:
        try:
            os.kill(pid1, 0)
            time.sleep(0.1)
        except ProcessLookupError:
            break
    s3 = _open(gw, "alice", cert)
    pid2 = _engine_pid(disco, ns)
    assert pid2 != pid1
    op = s3.execute_statement("SELECT 'reborn' AS s")
    assert [
        r[0] for r in op.get_next_row_set(FetchOrientation.FETCH_NEXT, 5)
    ] == ["reborn"]
    gw.close_session(s3.handle)


def test_connection_level_engine_dies_with_session(launching_gateway):
    gw, disco, cert = launching_gateway
    s = _open(
        gw, "bob", cert, extra={"kyuubi.engine.share.level": "CONNECTION"}
    )
    ns = s.namespace
    assert ns.startswith("/kyuubi/connection/")
    pid = _engine_pid(disco, ns)
    op = s.execute_statement("SELECT 1 AS one")
    assert [
        r[0] for r in op.get_next_row_set(FetchOrientation.FETCH_NEXT, 5)
    ] == [1]
    gw.close_session(s.handle)  # ProcessEngineSession waits for the exit
    with pytest.raises(ProcessLookupError):
        os.kill(pid, 0)
    # self-termination deregistered the namespace
    assert disco.get_server_host(ns) is None


def test_connection_level_engine_exits_despite_lingering_socket(launching_gateway):
    """A client that keeps its socket open after CloseSession cannot keep a
    CONNECTION-level engine alive: the shutdown drain waits for it at most
    the grace window, then the engine stops."""
    import socket

    from kyuubi_spark.gateway.engine_main import GRACE_S
    from kyuubi_spark.gateway.tls import client_ssl_context

    gw, disco, cert = launching_gateway
    s = _open(
        gw, "carol", cert, extra={"kyuubi.engine.share.level": "CONNECTION"}
    )
    ns = s.namespace
    child = gw.process_manager._engines[ns]
    host, port = disco.get_server_host(ns)
    # a TLS peer that never speaks: the engine counts it as a connection
    lingering = client_ssl_context(cafile=cert).wrap_socket(
        socket.create_connection((host, port)), server_hostname=host
    )
    try:
        deadline = time.time() + 10
        while "engine sessions: 1 conns: 2" not in child.stderr_tail(60):
            assert time.time() < deadline, child.stderr_tail(60)
            time.sleep(0.2)  # until the engine counts the silent peer
        gw.close_session(s.handle)
        assert child.proc.wait(timeout=GRACE_S + 30) == 0
        assert "engine stopped" in child.stderr_tail(60)
    finally:
        lingering.close()


def test_unauthenticated_connection_is_rejected(launching_gateway):
    """The launched engine runs ONLY the engine-secure provider: a client
    without a valid internal token cannot open a session."""
    from kyuubi_spark.gateway.thrift import ThriftClient

    gw, disco, cert = launching_gateway
    host, port = disco.get_server_host("/kyuubi/user/alice")
    with pytest.raises(Exception, match="(?i)token|auth|sasl"):
        # SASL/PLAIN negotiation happens at connect: a forged token is
        # rejected before any session can open
        c = ThriftClient(
            host, port, user="intruder", password="wrong", cafile=cert
        )
        try:
            c.open_session(user="intruder")
        finally:
            c.close()


def test_launch_enabled_requires_manager(spark):
    from kyuubi_spark.gateway.engine import Engine

    gw = Engine(spark)
    with pytest.raises(ValueError, match="process manager"):
        gw.open_session(
            user="nomgr", conf={"kyuubi.engine.launch.enabled": "true"}
        )


def test_manager_rejects_memory_discovery():
    from kyuubi_spark.gateway.discovery import SqliteDiscoveryClient
    from kyuubi_spark.gateway.engine_process import EngineProcessManager

    with pytest.raises(ValueError, match="file-backed"):
        EngineProcessManager(SqliteDiscoveryClient())


def test_server_assembly_wires_manager(spark, tmp_path, certs):
    """KyuubiServer with kyuubi.engine.launch.enabled builds the manager,
    PeriodicGC reaps exited children, stop() tears processes down."""
    from kyuubi_spark.gateway.discovery import SqliteDiscoveryClient
    from kyuubi_spark.gateway.server_main import KyuubiServer

    disco = SqliteDiscoveryClient(str(tmp_path / "srv.db"))
    disco.create_client()
    server = KyuubiServer(
        spark,
        conf={
            "kyuubi.engine.launch.enabled": "true",
            "kyuubi.engine.security.enabled": "true",
            "kyuubi.engine.security.secret.provider.simple.secret": "s2",
        },
        discovery=disco,
    )
    assert server.process_manager is not None
    assert server.engine.process_manager is server.process_manager
    assert "engine_processes" in server.gc.tick()
    server.stop()
    disco.close_client()


def test_engine_pool_round_robin(launching_gateway):
    """kyuubi.engine.pool.size=2: four opens round-robin over TWO engine
    processes in engine-pool-0/1 subdomains (EngineRef.subdomain POLLING
    policy) — never a third."""
    gw, disco, cert = launching_gateway
    extra = {"kyuubi.engine.pool.size": "2"}
    sessions = [_open(gw, "poolu", cert, extra=extra) for _ in range(4)]
    try:
        spaces = {s.namespace for s in sessions}
        assert spaces == {
            "/kyuubi/user/poolu/engine-pool-0",
            "/kyuubi/user/poolu/engine-pool-1",
        }
        pids = {_engine_pid(disco, ns) for ns in spaces}
        assert len(pids) == 2
        # both engines answer
        for s in sessions[:2]:
            op = s.execute_statement("SELECT 11 AS n")
            assert [
                r[0]
                for r in op.get_next_row_set(FetchOrientation.FETCH_NEXT, 5)
            ] == [11]
    finally:
        for s in sessions:
            gw.close_session(s.handle)


def test_user_level_engine_idle_ttl_self_terminates(launching_gateway):
    """USER-level engines self-terminate after kyuubi.session.engine
    .idle.timeout with no sessions (SparkSQLEngine's engine-side TTL) —
    the state the always-on gateway relies on to reclaim idle tenants."""
    gw, disco, cert = launching_gateway
    s = _open(
        gw, "ttl_user", cert,
        extra={"kyuubi.session.engine.idle.timeout": "2"},
    )
    ns = s.namespace
    pid = _engine_pid(disco, ns)
    child = gw.process_manager._engines.get(ns)
    assert child is not None and child.pid == pid
    gw.close_session(s.handle)
    deadline = time.time() + 20
    # poll the Popen (os.kill(pid, 0) still succeeds on the zombie until
    # the manager reaps it)
    while time.time() < deadline:
        if child.proc.poll() is not None:
            break
        time.sleep(0.3)
    else:
        raise AssertionError(
            f"engine {pid} did not self-terminate on TTL; child log:\n"
            f"{child.stderr_tail(40)}"
        )
    assert child.proc.returncode == 0  # clean self-termination, not a crash
    # clean exit deregistered the namespace too
    assert disco.get_server_host(ns) is None
    assert gw.process_manager.reap() >= 1


def test_client_to_gateway_to_engine_process_over_wires(
    spark, tmp_path, certs
):
    """Full assembly, every hop a real wire: authenticated ThriftClient
    -> KyuubiServer thrift frontend (SASL/PLAIN user auth) -> gateway
    session -> LAUNCHED engine process (TLS + internal-token auth on the
    gateway->engine hop). The reference's three-process topology (client
    JVM / kyuubi server / engine app)."""
    from kyuubi_spark.gateway.discovery import SqliteDiscoveryClient
    from kyuubi_spark.gateway.server_main import KyuubiServer
    from kyuubi_spark.gateway.thrift import ThriftClient

    cert, key = certs
    disco = SqliteDiscoveryClient(str(tmp_path / "e2e.db"))
    disco.create_client()
    server = KyuubiServer(
        spark,
        conf={
            "kyuubi.engine.launch.enabled": "true",
            "kyuubi.engine.security.enabled": "true",
            "kyuubi.engine.security.secret.provider.simple.secret": "e2e",
            "kyuubi.session.engine.initialize.timeout": "90",
            # engine security locks the frontends to SASL; real users
            # authenticate through the composed CUSTOM provider
            "kyuubi.authentication": "CUSTOM",
            "kyuubi.authentication.custom.class":
                "tests.test_auth:StaticProvider",
        },
        discovery=disco,
    ).start()
    try:
        host, port = server.endpoints()["thrift_binary"]
        c = ThriftClient(host, port, user="alice", password="wonder")
        c.open_session(
            user="alice",
            conf={
                "kyuubi.engine.launch.enabled": "true",
                "kyuubi.engine.thrift.ssl.enabled": "true",
                "kyuubi.engine.thrift.ssl.cafile": cert,
                "kyuubi.frontend.thrift.binary.ssl.enabled": "true",
                "kyuubi.frontend.ssl.keystore.path": cert,
                "kyuubi.frontend.ssl.key.path": key,
            },
        )
        assert server.process_manager.engine_count == 1
        guid = c.execute("SELECT 'through three processes' AS s, 2 + 2 AS n")
        rows = c.fetch(guid, 10)
        assert [tuple(r) for r in rows] == [("through three processes", 4)]
        c.close_session()
        c.close()
    finally:
        server.stop()
        disco.close_client()


def test_launch_fast_fails_with_child_log(tmp_path):
    """A child that dies before registering fast-fails get_or_create with
    its exit code and captured log (EngineRef.create's process-exit
    check), instead of burning the whole init timeout."""
    import sys

    from kyuubi_spark.gateway.discovery import SqliteDiscoveryClient
    from kyuubi_spark.gateway.engine_process import EngineProcessManager

    disco = SqliteDiscoveryClient(str(tmp_path / "ff.db"))
    disco.create_client()
    mgr = EngineProcessManager(
        disco, conf={"kyuubi.session.engine.initialize.timeout": "30"}
    )
    mgr.builder.command = lambda *a, **k: [
        sys.executable, "-c",
        "import sys; print('boom diagnostics', file=sys.stderr); sys.exit(3)",
    ]
    import pytest as _pytest
    import time as _time

    t0 = _time.time()
    with _pytest.raises(RuntimeError, match="exited with 3") as ei:
        mgr.get_or_create("/kyuubi/user/fastfail", {})
    assert "boom diagnostics" in str(ei.value)
    assert _time.time() - t0 < 10  # fast fail, not the 30s timeout
    disco.close_client()


def test_group_share_level_spans_users(launching_gateway):
    """GROUP share level: sessions from DIFFERENT users carrying the same
    group route to ONE engine process (EngineRef routingUser = primary
    group for GROUP level)."""
    gw, disco, cert = launching_gateway
    extra = {
        "kyuubi.engine.share.level": "GROUP",
        "kyuubi.session.group": "analysts",
    }
    before = gw.process_manager.engine_count
    s1 = _open(gw, "carol", cert, extra=extra)
    s2 = _open(gw, "dave", cert, extra=extra)
    try:
        assert s1.namespace == "/kyuubi/group/analysts"
        assert s2.namespace == s1.namespace
        assert gw.process_manager.engine_count == before + 1
        for s, want in ((s1, "carol"), (s2, "dave")):
            op = s.execute_statement("SELECT session_user() AS u")
            # proxy semantics: each session is owned by ITS end user
            assert [
                r[0]
                for r in op.get_next_row_set(FetchOrientation.FETCH_NEXT, 5)
            ] == [want]
    finally:
        gw.close_session(s1.handle)
        gw.close_session(s2.handle)


def test_cancel_mid_query_through_process(launching_gateway):
    """CancelOperation lands MID-QUERY across both hops: a heavy async
    statement is canceled over the wire, the engine-side Spark jobs stop
    (job-group cancel in the child), the engine PROCESS survives, and a
    concurrent session on the same engine is unaffected (the reference's
    KyuubiOperationPerUserSuite cancel semantics through EngineRef)."""
    from kyuubi_spark.gateway.state import OperationState

    gw, disco, cert = launching_gateway
    ns = "/kyuubi/user/cancel_user"
    s1 = _open(gw, "cancel_user", cert)
    s2 = _open(gw, "cancel_user", cert)
    try:
        pid = _engine_pid(disco, ns)
        op = s1.execute_statement(
            "SELECT count(*) AS c FROM range(100000000) a "
            "CROSS JOIN range(100000) b",
            run_async=True,
        )
        # wait for the child to actually be running the statement
        deadline = time.time() + 30
        while time.time() < deadline:
            st = op.state
            if st is OperationState.RUNNING:
                break
            assert not st.is_terminal, f"query finished too fast: {st}"
            time.sleep(0.1)
        op.cancel()
        deadline = time.time() + 30
        while time.time() < deadline and not op.state.is_terminal:
            time.sleep(0.2)
        assert op.state in (OperationState.CANCELED, OperationState.ERROR)

        # the engine process survived the cancel...
        assert _engine_pid(disco, ns) == pid
        os.kill(pid, 0)  # raises if the process died
        # ...and the OTHER session on the same engine still serves queries
        op2 = s2.execute_statement("SELECT 7 AS x")
        assert [
            r[0] for r in op2.get_next_row_set(FetchOrientation.FETCH_NEXT, 5)
        ] == [7]
    finally:
        gw.close_session(s1.handle)
        gw.close_session(s2.handle)


def test_engine_process_observability(launching_gateway):
    """Launched-engine observability (reference AdminResource engine
    listing + DescribeEngine): KYUUBI DESC ENGINE through a launched
    session reports the live OS process (pid/namespace/uptime/instance);
    REST /admin/engine lists the node WITH process fields; after the
    process dies and is reaped, the process entry is gone."""
    import json as J
    import urllib.request

    from kyuubi_spark.gateway.rest import RestGateway

    gw, disco, cert = launching_gateway
    ns = "/kyuubi/user/obs_user"
    s = _open(gw, "obs_user", cert)
    try:
        pid = _engine_pid(disco, ns)
        op = s.execute_statement("KYUUBI DESC ENGINE")
        row = op.get_next_row_set(FetchOrientation.FETCH_NEXT, 10)[0]
        names = [f.name for f in op.get_result_set_schema().fields]
        assert names == ["ENGINE_ID", "ENGINE_NAME", "ENGINE_URL",
                         "ENGINE_INSTANCE", "ENGINE_VERSION",
                         "ENGINE_ATTRIBUTES"]
        attrs = J.loads(row[5])
        assert attrs["pid"] == pid
        assert attrs["namespace"] == ns
        assert attrs["alive"] is True
        assert attrs["uptimeSec"] >= 0
        assert ":" in row[3]  # live host:port instance

        rg = RestGateway(gw).start()
        try:
            base = f"http://127.0.0.1:{rg.port}/api/v1"
            with urllib.request.urlopen(f"{base}/admin/engine") as r:
                listing = J.loads(r.read())
            mine = [e for e in listing if e["namespace"] == ns]
            assert mine, listing
            proc = mine[0]["process"]
            assert proc["pid"] == pid and proc["alive"] is True
            assert proc["uptimeSec"] >= 0 and proc["exitCode"] is None

            # kill + reap (the idle-TTL death path without the wait):
            # the node is swept on the next resolve and the process
            # entry disappears from the listing
            gw.close_session(s.handle)
            os.kill(pid, signal.SIGKILL)
            deadline = time.time() + 10
            while time.time() < deadline:
                try:
                    os.kill(pid, 0)
                    time.sleep(0.1)
                except ProcessLookupError:
                    break
            gw.process_manager._resolve_live(ns)  # sweeps the dead node
            gw.process_manager.reap()
            with urllib.request.urlopen(f"{base}/admin/engine") as r:
                listing = J.loads(r.read())
            assert not [e for e in listing if e["namespace"] == ns]
        finally:
            rg.shutdown()
    finally:
        try:
            gw.close_session(s.handle)
        except Exception:
            pass


def test_spark_submit_launched_engine(spark, tmp_path):
    """r09 Next #1: ``kyuubi.engine.spark.submit.enabled`` EXECUTES the
    assembled command — /opt/spark/bin/spark-submit (the real binary)
    launches engine_main as a PySpark application (PythonRunner), the
    engine registers in discovery, serves a forwarded session, and dies
    on the engine-side idle TTL.  This is the reference's
    SparkProcessBuilder → SparkSQLEngine lifecycle end-to-end
    (SparkProcessBuilder.scala:69,141,466), with the repo's Python
    engine as the submitted application.  Also covers r09 Next #7:
    DESC-ENGINE/admin observability carries the app-level fields
    (launch kind, master, deploy mode, Spark appId)."""
    submit = "/opt/spark/bin/spark-submit"
    if not os.path.exists(submit):
        pytest.skip("no spark-submit binary in this environment")

    from kyuubi_spark.gateway.discovery import SqliteDiscoveryClient
    from kyuubi_spark.gateway.engine import Engine
    from kyuubi_spark.gateway.engine_process import EngineProcessManager
    from kyuubi_spark.gateway.internal_auth import build_accessor

    conf = {
        "kyuubi.engine.spark.submit.enabled": "true",
        "kyuubi.engine.spark.submit.path": submit,
        "kyuubi.engine.security.enabled": "true",
        "kyuubi.engine.security.secret.provider.simple.secret": "s3cret",
        "kyuubi.session.engine.initialize.timeout": "240",
        "kyuubi.session.engine.idle.timeout": "3",
    }
    disco = SqliteDiscoveryClient(str(tmp_path / "registry.db"))
    disco.create_client()
    gw = Engine(spark)
    gw.discovery = disco
    gw.internal_accessor = build_accessor(conf, disco)
    gw.process_manager = EngineProcessManager(disco, conf)
    try:
        s = gw.open_session(
            user="submit_user",
            conf={"kyuubi.engine.launch.enabled": "true"},
        )
        ns = s.namespace
        child = gw.process_manager._engines[ns]

        # the managed child IS the spark-submit JVM, not a bare python
        assert child.launch_kind == "spark-submit"
        assert child.command[0] == submit
        assert "--class" not in child.command  # PySpark app: .py resource
        assert any(c.endswith("engine_main.py") for c in child.command)
        with open(child.stderr_path) as f:
            assert f.readline() == "Launching engine:\n"
            assert f.readline().startswith(submit)

        # the engine python pid (registered in discovery) is a CHILD of
        # the submit JVM — three processes deep, like the reference
        engine_pid = _engine_pid(disco, ns)
        assert engine_pid not in (os.getpid(), child.pid)

        # a query flows gateway → thrift → spark-submit-launched engine
        op = s.execute_statement(
            "SELECT 'via spark-submit' AS how, 6 * 7 AS answer"
        )
        rows = op.get_next_row_set(FetchOrientation.FETCH_NEXT, 10)
        assert [tuple(r) for r in rows] == [("via spark-submit", 42)]

        # observability: app-level fields (r09 Next #7)
        d = next(
            e for e in gw.process_manager.describe_engines()
            if e["namespace"] == ns
        )
        assert d["launchKind"] == "spark-submit"
        assert d["master"] == "local[2]"
        assert d["deployMode"] == "client"
        attrs = d["attributes"]
        assert attrs["appId"].startswith("local-")  # Spark's real app id
        assert attrs["master"] == "local[2]"
        assert int(attrs["pid"]) == engine_pid

        # KYUUBI DESC ENGINE through the forwarded session sees them too
        op = s.execute_statement("KYUUBI DESC ENGINE")
        row = op.get_next_row_set(FetchOrientation.FETCH_NEXT, 10)[0]
        import json as J

        desc_attrs = J.loads(row[5])
        assert desc_attrs["appId"].startswith("local-")
        assert desc_attrs["pid"] == child.pid  # the submit JVM
        assert int(desc_attrs["enginePid"]) == engine_pid  # python inside
        assert desc_attrs["launchKind"] == "spark-submit"

        # idle TTL: close the session, the engine self-terminates and
        # the whole spark-submit chain exits 0
        gw.close_session(s.handle)
        deadline = time.time() + 60
        while time.time() < deadline:
            if child.proc.poll() is not None:
                break
            time.sleep(0.5)
        else:
            raise AssertionError(
                "spark-submit engine did not die on idle TTL; log:\n"
                + child.stderr_tail(40)
            )
        assert child.proc.returncode == 0, child.stderr_tail(40)
        assert disco.get_server_host(ns) is None  # deregistered
        assert gw.process_manager.reap() >= 1
    finally:
        gw.process_manager.stop_all()
        disco.close_client()


def test_spark_submit_launch_fast_fails_with_log(tmp_path):
    """A spark-submit launch that dies before registering surfaces the
    child log tail (EngineRef.create's fast-fail), same contract as the
    python-engine path."""
    submit = "/opt/spark/bin/spark-submit"
    if not os.path.exists(submit):
        pytest.skip("no spark-submit binary in this environment")

    from kyuubi_spark.gateway.discovery import SqliteDiscoveryClient
    from kyuubi_spark.gateway.engine_process import EngineProcessManager

    disco = SqliteDiscoveryClient(str(tmp_path / "reg.db"))
    disco.create_client()
    mgr = EngineProcessManager(
        disco,
        {
            "kyuubi.engine.spark.submit.enabled": "true",
            "kyuubi.engine.spark.submit.path": submit,
            # an unloadable spark conf value kills the submit early
            "spark.driver.extraJavaOptions": "-Xmx1",
            "kyuubi.session.engine.initialize.timeout": "240",
        },
    )
    try:
        with pytest.raises(RuntimeError) as ei:
            mgr.get_or_create("/kyuubi/user/broken")
        assert "before registering" in str(ei.value)
    finally:
        mgr.stop_all()
        disco.close_client()


def test_server_assembly_spark_submit_engine(spark, tmp_path):
    """The full KyuubiServer assembly honors
    kyuubi.engine.spark.submit.enabled: a session opened through the
    server's thrift frontend is served by a spark-submit-launched
    engine, and REST /admin/engine lists it with the app-level fields
    (launchKind/master + the engine-registered Spark appId)."""
    import json as J
    import urllib.request

    submit = "/opt/spark/bin/spark-submit"
    if not os.path.exists(submit):
        pytest.skip("no spark-submit binary in this environment")

    from kyuubi_spark.gateway.discovery import SqliteDiscoveryClient
    from kyuubi_spark.gateway.rest import RestGateway
    from kyuubi_spark.gateway.server_main import KyuubiServer
    from kyuubi_spark.gateway.thrift import ThriftClient

    disco = SqliteDiscoveryClient(str(tmp_path / "srv-submit.db"))
    disco.create_client()
    server = KyuubiServer(
        spark,
        conf={
            "kyuubi.engine.launch.enabled": "true",
            "kyuubi.engine.spark.submit.enabled": "true",
            "kyuubi.engine.spark.submit.path": submit,
            "kyuubi.session.engine.initialize.timeout": "240",
        },
        discovery=disco,
    ).start()
    try:
        host, port = server.endpoints()["thrift_binary"]
        c = ThriftClient(host, port)
        c.open_session(user="asm_submit")
        child = next(iter(server.process_manager._engines.values()))
        assert child.launch_kind == "spark-submit"
        guid = c.execute("SELECT 'assembled' AS s")
        assert [tuple(r) for r in c.fetch(guid, 5)] == [("assembled",)]

        rg = RestGateway(server.engine).start()
        try:
            base = f"http://127.0.0.1:{rg.port}/api/v1"
            with urllib.request.urlopen(f"{base}/admin/engine") as r:
                listing = J.loads(r.read())
            mine = [
                e for e in listing
                if e["namespace"] == "/kyuubi/user/asm_submit"
            ]
            assert mine, listing
            proc = mine[0]["process"]
            assert proc["launchKind"] == "spark-submit"
            assert proc["master"] == "local[2]"
            assert mine[0]["attributes"]["appId"].startswith("local-")
        finally:
            rg.shutdown()
        c.close_session()
        c.close()
    finally:
        server.stop()
        disco.close_client()


def test_engine_max_lifetime_retires_engine(launching_gateway):
    """kyuubi.session.engine.spark.max.lifetime (ENGINE_SPARK_MAX_
    LIFETIME): past its lifetime an engine RETIRES — it exits as soon
    as it has no active sessions, even though the idle TTL (600s here)
    has not elapsed; long-lived shared engines rotate instead of
    living forever."""
    gw, disco, cert = launching_gateway
    s = _open(
        gw, "maxlife_user", cert,
        extra={"kyuubi.session.engine.spark.max.lifetime": "2"},
    )
    ns = s.namespace
    child = gw.process_manager._engines.get(ns)
    assert child is not None
    op = s.execute_statement("SELECT 'short life' AS s")
    assert [
        r[0] for r in op.get_next_row_set(FetchOrientation.FETCH_NEXT, 5)
    ] == ["short life"]
    gw.close_session(s.handle)
    deadline = time.time() + 30
    while time.time() < deadline:
        if child.proc.poll() is not None:
            break
        time.sleep(0.3)
    else:
        raise AssertionError(
            "engine outlived max lifetime; log:\n" + child.stderr_tail(40)
        )
    assert child.proc.returncode == 0
    assert "max lifetime reached" in child.stderr_tail(40)
    assert disco.get_server_host(ns) is None
