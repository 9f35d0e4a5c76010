"""Client-path gateway benchmark.

    python3 perfbench/run.py --workload bi-mix --seed 1 --seconds 8 --trace 0

Starts a gateway process (``gateway_launcher.py``: a ``KyuubiServer`` over a
local Spark with fewer cores than the machine has), warms it up, then drives
it from client threads in this process through ``kyuubi_spark.client.dbapi``
and checks every answer against DuckDB.  The measured work is fixed per
workload and sized from ``--seconds``, so it takes about that long.

With ``--trace 0`` the last stdout line is a JSON object whose metrics are
the end-to-end metrics of BENCHMARK.json.  With ``--trace 1`` the same work
is measured twice, first untraced and then with spans recorded in both
processes, and the metrics are the per-layer metrics (see README.md).
Lines before the last one are a human-readable report.

Everything the run writes lives under ``.perfbench_work/`` in the current
directory; the generated tables are kept there between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GATEWAY_BOOT_TIMEOUT = 120.0
GENERATE_TIMEOUT = 600.0


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


# -- /proc accounting ----------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK  # utime + stime


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def child_pids(pid: int) -> list[tuple[int, str]]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        if int(rest.split()[1]) == pid:
            out.append((int(name), head.split("(", 1)[1]))
    return out


def host_load() -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg1": load1, "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
            "total_ticks": sum(cpu)}


# -- gateway process -----------------------------------------------------------


class Gateway:
    """The launcher subprocess and its JVM child, in their own process group."""

    def __init__(self, data: str, work: str, trace_out: str | None):
        cmd = [sys.executable, os.path.join(HERE, "gateway_launcher.py"),
               "--data", data, "--work", work]
        if trace_out:
            cmd += ["--trace-out", trace_out]
        self.proc = _spawn(cmd, work, stdin=True)
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()
        try:
            line = self._expect("READY", GATEWAY_BOOT_TIMEOUT)
            self.port = int(line.split()[1])
            self.pid = self.proc.pid
            java = [p for p, comm in child_pids(self.pid) if comm == "java"]
            if not java:
                raise RuntimeError("gateway JVM not found")
            self.jvm = java[0]
        except BaseException:
            self.proc.stdin.close()
            _reap(self.proc)
            raise

    def _read(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(line.strip())
        self._lines.put(None)

    def _expect(self, prefix: str, timeout: float) -> str:
        deadline = time.monotonic() + timeout
        while True:
            try:
                line = self._lines.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                raise RuntimeError(f"gateway did not answer {prefix} in {timeout}s")
            if line is None:
                raise RuntimeError(f"gateway exited before {prefix}")
            if line.startswith(prefix):
                return line

    def command(self, text: str) -> str:
        self.proc.stdin.write(text + "\n")
        self.proc.stdin.flush()
        return self._expect("OK", 30.0)

    def usage(self) -> dict:
        """CPU seconds of the gateway (its getrusage: every thread, living
        or ended, at microsecond resolution) and of the JVM (/proc, in clock
        ticks), and the VmHWM of both from /proc."""
        gw_cpu = float(self.command("usage").split()[2])
        return {"gw_cpu": gw_cpu, "jvm_cpu": cpu_seconds(self.jvm),
                "gw_rss": peak_rss_mb(self.pid), "jvm_rss": peak_rss_mb(self.jvm)}

    def stop(self) -> None:
        try:
            self.proc.stdin.write("stop\n")
            self.proc.stdin.close()
        except OSError:
            pass  # already gone; _reap still waits for the whole group
        try:
            self._expect("STOPPED", 60.0)
        finally:
            _reap(self.proc)


def _spawn(cmd: list[str], cwd: str, stdin: bool = False) -> subprocess.Popen:
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    env["SPARK_LOCAL_DIRS"] = os.path.join(cwd, "local")
    env["TMPDIR"] = os.path.join(cwd, "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    # every JVM spark-submit starts writes its temp files there too, and no
    # hsperfdata file in the system temp dir
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    env["SPARK_DRIVER_MEMORY"] = "1g"
    env["PYSPARK_PYTHON"] = sys.executable
    err = open(os.path.join(cwd, "gateway.log"), "ab")
    try:
        return subprocess.Popen(
            cmd, cwd=cwd, env=env, text=True, start_new_session=True,
            stdin=subprocess.PIPE if stdin else subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=err,
        )
    finally:
        err.close()


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except OSError:
                pass
    return False


def _reap(proc: subprocess.Popen) -> None:
    """Wait for the process, then kill and wait out anything left in its group."""
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        pass
    deadline = time.monotonic() + 30
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            break
        time.sleep(0.1)
    proc.wait(timeout=30)


def ensure_data(work: str) -> str:
    data = os.path.join(work, "data")
    if os.path.isdir(data):
        return data
    gen = os.path.join(work, "generate")
    os.makedirs(gen, exist_ok=True)
    log("generating the TPC-H tables (first run in this checkout)")
    proc = _spawn([sys.executable, os.path.join(HERE, "gateway_launcher.py"),
                   "--generate", data, "--work", gen], gen)
    try:
        proc.wait(timeout=GENERATE_TIMEOUT)
    finally:
        _reap(proc)
    if proc.returncode != 0 or not os.path.isdir(data):
        raise RuntimeError(f"data generation failed (see {gen}/gateway.log)")
    shutil.rmtree(gen, ignore_errors=True)
    return data


# -- load generation -----------------------------------------------------------


def pct(values: list[float], q: float) -> float:
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def end_to_end(ops, elapsed: float, before: dict, after: dict, setup_s: float) -> dict:
    """The gated metrics, as measured."""
    lat = [o.latency for o in ops]
    n = len(ops)
    op_time = sum(lat)
    return {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (pct(lat, 0.5), "s"),
        "throughput_ops_s": (n / elapsed, "ops/s"),
        "export_rows_s": (sum(o.rows for o in ops) / op_time, "rows/s"),
        "gateway_cpu_s_per_op": ((after["gw_cpu"] - before["gw_cpu"]) / n, "s"),
        "engine_cpu_s_per_op": ((after["jvm_cpu"] - before["jvm_cpu"]) / n, "s"),
        "gateway_peak_rss_mb": (after["gw_rss"], "MB"),
    }


# seconds scale with the host's speed, rates inversely; RSS not at all
_SCALES = {"s": 1, "ops/s": -1, "rows/s": -1}


def at_reference_speed(raw: dict, scale: float, setup_scale: float) -> dict:
    """The gated metrics as if the host had run at the probe's reference
    speed: ``scale`` is REF_CHUNK_S over the probe's chunk time around the
    window, ``setup_scale`` the same around set-up."""
    out = {}
    for name, (value, unit) in raw.items():
        k = setup_scale if name == "setup_s" else scale
        out[name] = (value * k ** _SCALES.get(unit, 0), unit)
    return out


def report(ops, e2e: dict, phase: str, scale: float) -> None:
    """The gated metrics, then the ungated ones, at the reference speed
    too; the op latencies as measured."""
    n = len(ops)
    failed = sum(not o.ok for o in ops)
    print(f"[{phase}] ops={n} failed={failed}")
    for kind in sorted({o.kind for o in ops}):
        lat = " ".join(f"{o.latency:.3f}" for o in ops if o.kind == kind)
        print(f"[{phase}] {kind} latencies: {lat}")
    for name, (value, unit) in e2e.items():
        print(f"[{phase}] {name} = {value:.6g} {unit}" + (
            f" (n={n})" if name.startswith("latency") else ""))
    lat = [o.latency * scale for o in ops]
    print(f"[{phase}] latency_p95_s = {pct(lat, 0.95):.6g} s (n={n})")
    print(f"[{phase}] failed_ratio = {failed / n if n else 0:.6g} ratio (n={n})")
    opens = [o.open_s * scale for o in ops if o.open_s is not None]
    if opens:
        print(f"[{phase}] session_open_p50_s = {pct(opens, 0.5):.6g} s (n={len(opens)})")
    writes = [o.latency * scale for o in ops if o.kind == "write"]
    if writes:
        print(f"[{phase}] write_latency_p50_s = {pct(writes, 0.5):.6g} s (n={len(writes)})")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import host_probe
        import workloads as W
    except ImportError as e:
        log(f"cannot import the gateway package from {ROOT}: {e}")
        return 2
    if args.workload not in W.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
        return 2

    work = os.path.abspath(".perfbench_work")
    os.makedirs(work, exist_ok=True)
    data = ensure_data(work)
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_out = os.path.join(run_dir, "gateway-trace.json") if args.trace else None
    load_start = host_load()
    print(f"[host] start {json.dumps(load_start)}")

    oracle = W.Oracle(data)
    workload = W.WORKLOADS[args.workload](args.seed, data, run_dir, oracle)
    q6_rows = len(oracle.query(W.REGISTRY["tpch_q6"].oracle)[1])
    oracle.close()

    client_tracer = None
    if args.trace:
        import layers
        client_tracer = layers.install_client()

    probe = host_probe.HostProbe()
    try:
        m_setup = time.monotonic()
        t_setup = time.perf_counter()
        gw = Gateway(data, run_dir, trace_out)
    except BaseException:
        probe.stop()
        raise

    def trace(phase: str | None) -> None:
        """Record spans in both processes under ``phase`` from now on, or
        stop recording (``None``).  A no-op in untraced runs."""
        if not args.trace:
            return
        if phase is not None:
            gw.command(f"phase {phase}")
            client_tracer.phase = phase
        gw.command("trace on" if phase else "trace off")
        client_tracer.enabled = phase is not None

    clients = []
    try:
        trace("warmup")
        clients = workload.clients("127.0.0.1", gw.port)
        warm = workload.warm_up(clients)
        setup_s = time.perf_counter() - t_setup
        m_setup_end = time.monotonic()
        if args.trace:
            # statements alone, for spark.queue_wait_s_per_op, and one pass
            # through every layer, reported apart as tour.* lines
            trace("solo")
            for op in workload.solo(clients):
                op.phase = "solo"
                warm.append(op)
            trace("tour")
            warm.append(W.layer_tour("127.0.0.1", gw.port, data, q6_rows))
        trace(None)

        steps = workload.steps(clients, args.seconds)
        before = gw.usage()
        m_window = time.monotonic()
        ops, elapsed = W.run_clients(clients, steps, "untraced", workload.lockstep)
        m_window_end = time.monotonic()
        after = gw.usage()
        samples = probe.stop()
        traced = []
        if args.trace:
            trace("traced")
            traced, _ = W.run_clients(clients, steps, "traced", workload.lockstep)
            trace("closing")
        final_errors = workload.final_checks(clients)
    finally:
        for c in clients:
            try:
                c.close()
            except Exception as e:  # noqa: BLE001 - the run still ends cleanly
                log(f"closing a client: {e}")
        gw.stop()
        probe.stop()

    load_end = host_load()
    print(f"[host] end {json.dumps(load_end)}")
    steal = load_end["steal_ticks"] - load_start["steal_ticks"]
    total = max(1, load_end["total_ticks"] - load_start["total_ticks"])
    print(f"[host] steal_share = {steal / total:.4g}")

    all_ops = warm + ops + traced
    for o in all_ops:
        if not o.ok:
            print(f"[fail] {o.phase} {o.kind}: {o.error}")
    for e in final_errors:
        print(f"[fail] final check: {e}")

    raw = end_to_end(ops, elapsed, before, after, setup_s)
    ref = host_probe.REF_CHUNK_S
    chunk_setup = host_probe.mean_between(samples, m_setup, m_setup_end)
    chunk_window = host_probe.mean_between(samples, m_window, m_window_end)
    scale, setup_scale = ref / chunk_window, ref / chunk_setup
    print(f"[host] probe_chunk_s set-up {chunk_setup:.6g}, window {chunk_window:.6g} "
          f"(reference {ref:.6g}): scale {setup_scale:.4g}, {scale:.4g}")
    for name, (value, unit) in raw.items():
        print(f"[raw] {name} = {value:.6g} {unit}")
    e2e = at_reference_speed(raw, scale, setup_scale)
    report(ops, e2e, "untraced", scale)
    # not gated: the JVM's high-water mark follows GC timing
    print(f"[untraced] engine_peak_rss_mb = {after['jvm_rss']:.6g} MB")
    if args.trace:
        import layers
        import tracing

        spans = tracing.load(trace_out)
        metrics = layers.per_layer(ops, traced, spans, client_tracer)
        for name, (value, unit) in metrics.items():
            print(f"[traced] {name} = {value:.6g} {unit}")
        # the layers as the tour met them; not the workload's own figures
        tour = layers.layer_metrics(spans, client_tracer, "tour", 1)
        for name, (value, unit) in tour.items():
            print(f"[tour] tour.{name} = {value:.6g} {unit}")
    else:
        metrics = e2e

    measured = ops + traced
    failed = sum(not o.ok for o in measured) + len(final_errors)
    result = {
        "correct": failed == 0 and all(o.ok for o in warm),
        "attempted": len(measured),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
