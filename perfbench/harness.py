"""Server lifecycle, keep-alive HTTP clients and the closed loop.

Untraced runs start the product's own entry point,
``python -m qcache_spark --cpus N --port 0``, as a separate process
group and talk to it over loopback. Traced runs build the same server
in this process (``make_server`` + ``serve_forever_in_thread``, as
``qcache_spark.__main__`` does) so that tracing.Tracer can wrap it.
"""
from __future__ import annotations

import ctypes
import http.client
import os
import re
import signal
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np

SERVER_START_TIMEOUT_S = 150
PORT_LINE = re.compile(r"Starting on port (\d+)")


def spark_env(workdir: str) -> dict:
    """Environment that keeps Spark's scratch files inside ``workdir``.
    ``-XX:-UsePerfData`` stops the JVM writing its perf-data file to the
    system temp directory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "{java_opts}" pyspark-shell',
    }


class ServerProcess:
    """``python -m qcache_spark`` in its own process group."""

    def __init__(self, root: str, workdir: str, cpus: int, size: int):
        self.root, self.workdir, self.cpus, self.size = root, workdir, cpus, size
        self.proc: subprocess.Popen | None = None
        self.port: int | None = None
        self.log_path = os.path.join(workdir, "server.log")

    def start(self) -> int:
        env = dict(os.environ)
        env.update(spark_env(self.workdir))
        env["PYTHONPATH"] = self.root
        env["PYTHONUNBUFFERED"] = "1"
        with open(self.log_path, "wb") as log:
            self.proc = subprocess.Popen(
                [sys.executable, "-m", "qcache_spark", "--cpus", str(self.cpus),
                 "--port", "0", "--host", "127.0.0.1", "--size", str(self.size)],
                cwd=self.workdir, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True,
                preexec_fn=_term_on_parent_death,
            )
        deadline = time.monotonic() + SERVER_START_TIMEOUT_S
        while time.monotonic() < deadline:
            with open(self.log_path, errors="replace") as f:
                m = PORT_LINE.search(f.read())
            if m:
                self.port = int(m.group(1))
                return self.port
            if self.proc.poll() is not None:
                break
            time.sleep(0.05)
        self.stop()
        raise RuntimeError(f"server did not start; see {self.log_path}")

    def stop(self) -> None:
        """SIGTERM the whole group (the server and its JVM), then wait
        until every member has exited and been reaped."""
        if self.proc is None:
            return
        pgid = self.proc.pid
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            if _reap_group(pgid, timeout=20.0):
                break
        self.proc.wait()
        self.proc = None


def become_subreaper() -> None:
    """Orphaned descendants (the server's JVM once the server process
    has exited, PySpark's worker daemon once its JVM has exited) are
    re-parented to this process, so stop_descendants can find and reap
    them."""
    libc = ctypes.CDLL(None, use_errno=True)
    PR_SET_CHILD_SUBREAPER = 36
    libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _term_on_parent_death() -> None:
    """In the forked server: SIGTERM it if this process dies first,
    even by SIGKILL, which skips every cleanup path. The server's JVM
    then exits when its stdin pipe closes."""
    libc = ctypes.CDLL(None, use_errno=True)
    PR_SET_PDEATHSIG = 1
    libc.prctl(PR_SET_PDEATHSIG, signal.SIGTERM, 0, 0, 0)


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the process tree, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    found, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            found.append(child)
            todo.append(child)
    return found


def stop_descendants(timeout: float = 20.0) -> None:
    """SIGTERM, then SIGKILL, every process this one started, directly
    or not, and reap each, so that none outlives the run. Call it last:
    it reaps children that Popen objects may still hold."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0] > 0:
                    pass
            except ChildProcessError:
                pass
            if not descendants(me):
                return
            time.sleep(0.02)


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop an in-process Spark session and its gateway JVM, and wait
    for the JVM to exit. ``spark.stop()`` alone leaves the JVM running
    until this process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _reap_group(pgid: int, timeout: float) -> bool:
    """Reap exited members of process group ``pgid`` until none is
    left; False if some member is still alive after ``timeout``."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            while os.waitpid(-pgid, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return True
        time.sleep(0.02)
    return False


class InProcessServer:
    """The same server, built in this process on ``spark``."""

    def __init__(self, spark, size: int):
        from qcache_spark.server import make_server, serve_forever_in_thread

        self.server = make_server(spark, host="127.0.0.1", port=0, max_cache_size=size)
        self.thread = serve_forever_in_thread(self.server)
        self.port = self.server.server_address[1]

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)


# -- client -----------------------------------------------------------

class TransportError(Exception):
    pass


@dataclass
class Response:
    status: int
    body: bytes
    headers: dict
    ms: float


class Client:
    """One persistent HTTP/1.1 keep-alive connection, as a dashboard
    client holds it. Latency runs from the send to the last byte."""

    def __init__(self, port: int):
        self.port = port
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def request(self, method: str, path: str, body: bytes | None = None,
                headers: dict | None = None) -> Response:
        t0 = time.perf_counter()
        try:
            self.conn.request(method, path, body=body, headers=headers or {})
            resp = self.conn.getresponse()
            data = resp.read()
        except (OSError, http.client.HTTPException) as e:
            self.conn.close()
            self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
            raise TransportError(f"{method} {path[:60]}: {e!r}") from e
        ms = (time.perf_counter() - t0) * 1000.0
        return Response(resp.status, data, {k.lower(): v for k, v in resp.getheaders()}, ms)

    def close(self) -> None:
        self.conn.close()


def store(client: Client, key: str, csv: bytes) -> Response:
    return client.request("POST", f"/qcache/dataset/{key}", csv, {"Content-Type": "text/csv"})


# -- closed loop --------------------------------------------------------

@dataclass
class OpRecord:
    kind: str          # "read" | "update"
    shape: str
    start: float
    ms: float          # client-level: includes any 404 -> store -> retry
    ok: bool
    get_ms: list = field(default_factory=list)     # 2xx GETs of a read
    store_ms: list = field(default_factory=list)   # re-stores after a 404
    update_ms: list = field(default_factory=list)  # 2xx update GETs
    misses: int = 0
    response_bytes: int = 0
    error: str = ""


def closed_loop(port: int, n_clients: int, seconds: float, seed: int, run_op,
                sample_p: float = 0.0):
    """``n_clients`` threads, each sending its next operation only when
    the previous one completed. ``run_op(client, rng, i, k)`` runs
    client i's k-th operation and returns ``(OpRecord, sample)``. Each
    client keeps its first sample for the output check, then each one
    with probability ``sample_p``. Returns (records, samples, elapsed
    seconds)."""
    records: list[OpRecord] = []
    samples: list = []
    lock = threading.Lock()
    t_start = time.perf_counter()
    deadline = t_start + seconds
    ends: list[float] = []

    def worker(i: int) -> None:
        rng = np.random.default_rng([seed, i])
        client = Client(port)
        done = kept = 0
        try:
            while time.perf_counter() < deadline:
                rec, sample = run_op(client, rng, i, done)
                # every client's first response is checked, then a share
                keep = sample is not None and (kept == 0 or rng.random() < sample_p)
                kept += keep
                with lock:
                    records.append(rec)
                    if keep:
                        samples.append(sample)
                done += 1
        finally:
            client.close()
            with lock:
                ends.append(time.perf_counter())

    threads = [threading.Thread(target=worker, args=(i,), daemon=True) for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, samples, max(ends) - t_start


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    vals = sorted(values)
    if not vals:
        return 0.0
    k = max(0, min(len(vals) - 1, int(np.ceil(q / 100.0 * len(vals))) - 1))
    return float(vals[k])
