"""HTTP-path and operator benchmark for qcache_spark.

    python3 perfbench/run.py --workload small_read --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Run from the repository root. Each workload prints one line per metric
(name, value, unit, sample count) and, last, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from spans (tracing.py) around the program's
public callables. ``--workload all`` runs every workload untraced and
traced, each in its own process, and prints the tracing overhead.
A record of every run, with provenance, goes to ``.bench_run/records``.
See README.md in this directory for the workloads and metrics.
"""
from __future__ import annotations

import argparse
import datetime
import io
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

import numpy as np

import data
from harness import (Client, InProcessServer, OpRecord, ServerProcess, TransportError,
                     become_subreaper, closed_loop, percentile, stop_descendants, stop_spark,
                     store)
from queries import LARGE_SHAPES, SMALL_SHAPES, check_response

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("small_read", "large_scan", "cache_aside", "operator_batch")
HTTP_WORKLOADS = WORKLOADS[:3]
# scale factors: lineitem ~600k rows at 0.1
DEFAULT_SCALE = 0.1
TINY_SCALE = 0.001
# closed-loop clients: with 4, the server's JVM, its handler threads and
# the load generator oversubscribe the 4 vCPUs and the run-to-run spread
# of query_p50_ms grew from 12% to 19%
CLIENTS = {"small_read": 2, "large_scan": 2, "cache_aside": 2, "operator_batch": 1}
# 8 and 12 datasets: each store costs 1-5 s while the server's JVM warms
# up, so more would not fit a gated run's time budget (README.md)
SMALL_READ_DATASETS = 8
CACHE_ASIDE_DATASETS = 12
# cache_aside runs the server with --size = this share of the bytes its
# datasets would take stored (STORED_PER_CSV_BYTE x CSV bytes, the
# stored/input ratio small_read measures at the seed commit)
CACHE_ASIDE_SIZE_SHARE = 0.5
STORED_PER_CSV_BYTE = 1.2
UPDATE_EVERY = 10  # the second of every ten cache_aside operations of a client
ZIPF_S = 1.1
SAMPLE_P = 0.25
MIN_QUERIES = 100
CONTROL_KEY = "control_basic_frame"
# set-up stores the datasets and warms up this many times in a run;
# setup_s takes the median round (README.md)
SETUP_ROUNDS = 3
# the end-to-end metrics BENCHMARK.json gates on the HTTP workloads; the
# other timings spread too much from run to run (README.md)
GATED_HTTP = ("setup_s", "stored_bytes_per_input_byte")


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _metric(value, unit: str, n: int) -> dict:
    return {"value": float(value), "unit": unit, "n": int(n)}


def _median_metric(values, unit: str) -> dict:
    values = list(values)
    return _metric(statistics.median(values) if values else 0.0, unit, len(values))


def _cpu_times() -> list[int] | None:
    """The host's aggregate CPU counters (user, nice, system, idle, ...,
    steal) from /proc/stat, or None where there is no such file."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def provenance(args, clients: int, cpu_start: list[int] | None) -> dict:
    """Where and when a record was measured. ``steal_share`` is the part
    of the host's CPU time during the run that the hypervisor gave to
    other guests: the drift this host is known for."""
    cpu_end = _cpu_times()
    steal = None
    if cpu_start and cpu_end:
        delta = [b - a for a, b in zip(cpu_start, cpu_end)]
        steal = delta[7] / sum(delta) if sum(delta) else None
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    load1, load5, _ = os.getloadavg()
    return {
        "git_commit": commit,
        "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "nproc": os.cpu_count(),
        "loadavg_1m": load1,
        "loadavg_5m": load5,
        "steal_share": steal,
        "seed": args.seed,
        "clients": clients,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
    }


class Run:
    """State of one workload run: its scratch directory, the Spark
    session of traced / in-process runs, the tracer and the results."""

    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.cpus = os.cpu_count() or 4
        self.clients = CLIENTS[args.workload]
        self.cpu_start = _cpu_times()
        tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.workdir = os.path.join(ROOT, ".bench_run", tag)
        self.records_dir = os.path.join(ROOT, ".bench_run", "records")
        os.makedirs(self.workdir, exist_ok=True)
        os.makedirs(self.records_dir, exist_ok=True)
        self.spark = None
        self.tracer = None
        self.failures: list[str] = []
        self.report: dict[str, dict] = {}   # every end-to-end figure, printed
        self.e2e: dict[str, dict] = {}      # the gated ones (untraced)
        self.layers: dict[str, dict] = {}   # per-layer metrics (traced)
        self.attempted = 0
        self.checked = 0
        self.mismatches = 0
        self.extra: dict = {}

    def spark_session(self):
        """In-process Spark, scratch files kept in the run directory."""
        if self.spark is None:
            from harness import spark_env

            os.environ.update(spark_env(self.workdir))
            os.chdir(self.workdir)
            from qcache_spark.session import get_spark

            self.spark = get_spark(
                cpus=self.cpus, extra_conf={"spark.ui.showConsoleProgress": "false"}
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            if self.traced:
                from tracing import Tracer

                self.tracer = Tracer(self.spark)
                self.tracer.install()
        return self.spark

    def phase(self, name: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = name

    def fail(self, reason: str) -> None:
        self.failures.append(reason)

    def mismatch(self, reason: str) -> None:
        self.mismatches += 1
        self.fail(reason)

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.restore()
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None
        os.chdir(ROOT)
        shutil.rmtree(self.workdir, ignore_errors=True)


# -- HTTP workloads ---------------------------------------------------

def _csv(frame) -> bytes:
    return frame.to_csv(index=False).encode()


def _oracle_frame(csv: bytes):
    """Parse the CSV exactly as the server's ingest does."""
    import pandas as pd

    return pd.read_csv(io.BytesIO(csv), na_values=[""], keep_default_na=False)


def _send_op(client, kind: str, shape: str, key: str, path: str, csv: bytes | None):
    """One client operation: GET ``path``. On a 404, when ``csv`` is
    given, store the key again and retry, as a cache-aside client does.
    Returns the record and the final response (None on failure)."""
    rec = OpRecord(kind, shape, time.perf_counter(), 0.0, False)
    resp = None
    try:
        for _ in range(3):
            r = client.request("GET", path)
            if r.status == 404 and csv is not None:
                rec.misses += 1
                s = store(client, key, csv)
                rec.store_ms.append(s.ms)
                if s.status != 201:
                    rec.error = f"store {key} -> {s.status}"
                    break
                continue
            if r.status == 200:
                rec.ok, resp = True, r
                (rec.get_ms if kind == "read" else rec.update_ms).append(r.ms)
                rec.response_bytes = len(r.body)
            else:
                rec.error = f"{shape} {key} -> {r.status} {r.body[:120]!r}"
            break
        else:
            rec.error = f"{shape} {key}: evicted on every retry"
    except TransportError as e:
        rec.error = str(e)
    rec.ms = (time.perf_counter() - rec.start) * 1000.0
    return rec, resp


def read_op(client, key: str, query, csv: bytes | None = None):
    """A read query; returns (record, sample for the output check)."""
    rec, r = _send_op(client, "read", query.shape, key, query.path(key), csv)
    sample = (key, query, r.body, r.headers.get("x-qcache-unsliced-length")) if r else None
    return rec, sample


def update_op(client, key: str, update: dict, csv: bytes):
    path = f"/qcache/dataset/{key}?q=" + urllib.parse.quote(json.dumps(update))
    return _send_op(client, "update", "update", key, path, csv)[0], None


class HttpSpec:
    """What one HTTP workload stores and sends. ``datasets`` maps key
    to CSV bytes; ``next_op(client, rng, i, k)`` runs client i's k-th
    operation; ``structural_ops`` is the fixed one-client sequence of
    the traced run's structural pass."""

    size = 1_000_000_000

    def __init__(self, run: Run):
        self.run = run
        self.datasets: dict[str, bytes] = {}

    def next_op(self, client, rng, i: int, k: int):
        raise NotImplementedError

    def structural_ops(self) -> list:
        raise NotImplementedError

    def before_structural(self, client) -> None:
        pass


class SmallRead(HttpSpec):
    """Resident memory_benchmark datasets, fresh-literal queries.
    Every client cycles through all (dataset, shape) pairs in a fixed
    order that takes the four shapes in turn, so each run, however many
    queries it completes, sends nearly the same mix of shapes."""

    def __init__(self, run: Run):
        super().__init__(run)
        rng = np.random.default_rng([run.seed, 1])
        lo, hi = (100, 400) if run.args.tiny else (1_000, 20_000)
        for i, rows in enumerate(data.log_spaced_rows(rng, SMALL_READ_DATASETS, lo, hi)):
            self.datasets[f"mb{i:02d}"] = _csv(data.memory_benchmark_frame(rng, rows))
        keys = list(self.datasets)
        self.pairs = [(keys[j], s) for j in _pattern_rng().permutation(len(keys))
                      for s in SMALL_SHAPES]

    def next_op(self, client, rng, i, k):
        key, shape = self.pairs[(i * len(self.pairs) // self.run.clients + k) % len(self.pairs)]
        return read_op(client, key, shape(rng))

    def structural_ops(self):
        rng = np.random.default_rng([self.run.seed, 2])
        return [lambda c, key=key, q=shape(rng): read_op(c, key, q) for key, shape in self.pairs[:8]]


class LargeScan(HttpSpec):
    """TPC-H-shaped lineitem and orders, POSTed as CSV."""

    def __init__(self, run: Run):
        super().__init__(run)
        sf = TINY_SCALE if run.args.tiny else DEFAULT_SCALE
        frames = data.tpch_frames(np.random.default_rng([run.seed, 1]), sf)
        self.datasets = {k: _csv(v) for k, v in frames.items()}
        run.extra["scale"] = sf

    def next_op(self, client, rng, i, k):
        shape, key = LARGE_SHAPES[(i + k) % len(LARGE_SHAPES)]
        return read_op(client, key, shape(rng))

    def structural_ops(self):
        rng = np.random.default_rng([self.run.seed, 2])
        return [lambda c, key=key, q=shape(rng): read_op(c, key, q) for shape, key in LARGE_SHAPES]


def _pattern_rng() -> np.random.Generator:
    """The access pattern (which dataset and query shape is hot, in
    what order) is part of a workload's definition, so it does not
    change with the seed; the seed draws the data and the literals."""
    return np.random.default_rng(20240601)


def _golden(offset: float, k: int) -> float:
    """k-th point of a golden-ratio sequence in [0, 1): draws through
    it follow a distribution closely even over a few dozen operations."""
    return (offset + k * 0.6180339887498949) % 1.0


def _zipf_cdf(n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return np.minimum(np.cumsum(w / w.sum()), 1.0 - 1e-12)


class CacheAside(HttpSpec):
    """Datasets in a cache sized for about half of them; Zipf-skewed
    (key, query) pairs from a fixed pool; every tenth operation of a
    client is an update."""

    def __init__(self, run: Run):
        super().__init__(run)
        rng = np.random.default_rng([run.seed, 1])
        lo, hi = (100, 400) if run.args.tiny else (1_000, 6_000)
        rows = sorted(data.log_spaced_rows(rng, CACHE_ASIDE_DATASETS, lo, hi))
        for i, n in enumerate(rows):
            self.datasets[f"ca{i:02d}"] = _csv(data.memory_benchmark_frame(rng, n))
        keys = list(self.datasets)
        total = sum(len(v) for v in self.datasets.values())
        self.size = int(CACHE_ASIDE_SIZE_SHARE * STORED_PER_CSV_BYTE * total)
        # the pool: 6 queries per key, popularity by Zipf rank
        pool = [(k, SMALL_SHAPES[j % 4](rng)) for k in keys for j in range(6)]
        pattern = _pattern_rng()
        self.pool = [pool[i] for i in pattern.permutation(len(pool))]
        self.pool_cdf = _zipf_cdf(len(self.pool))
        self.key_order = [keys[i] for i in pattern.permutation(len(keys))]
        self.key_cdf = _zipf_cdf(len(keys))

    def _op(self, client, i: int, k: int, tag: str):
        u = _golden(0.5 + i / self.run.clients, k)
        if k % UPDATE_EVERY == 1:
            key = self.key_order[int(np.searchsorted(self.key_cdf, u, side="right"))]
            cls = data.CLASSIFIER_POOL[int(u * 1e6) % len(data.CLASSIFIER_POOL)]
            upd = {"update": [[data.UPDATE_COLUMN, f"'{tag}'"]],
                   "where": ["==", "classifier", f"'{cls}'"]}
            return update_op(client, key, upd, self.datasets[key])
        key, q = self.pool[int(np.searchsorted(self.pool_cdf, u, side="right"))]
        return read_op(client, key, q, self.datasets[key])

    def next_op(self, client, rng, i, k):
        return self._op(client, i, k, f"u{i}-{k}")

    def before_structural(self, client) -> None:
        """Empty the catalog, then store every dataset in key order, so
        the evictions of the pass repeat exactly."""
        for key in self.datasets:
            client.request("DELETE", f"/qcache/dataset/{key}")
        for key, csv in self.datasets.items():
            store(client, key, csv)

    def structural_ops(self):
        return [lambda c, k=k: self._op(c, 0, 1000 + k, f"s{k}") for k in range(6)]


SPECS = {"small_read": SmallRead, "large_scan": LargeScan, "cache_aside": CacheAside}


# -- control probes ---------------------------------------------------

def control_probe(run: Run, port: int, csv: bytes) -> dict:
    """Host-drift probes on the 3-row basic_frame: keep-alive status,
    ``{}``, a fixed group_by with a literal the result cache has not
    seen, and an update that matches no row. Medians in ms."""
    run.phase("control")
    client = Client(port)
    out: dict[str, list] = {"status_ms": [], "empty_query_ms": [], "tiny_query_ms": [],
                            "tiny_update_ms": []}

    def get(path: str, field: str):
        for _ in range(2):
            r = client.request("GET", path)
            if r.status == 404:  # evicted by cache_aside: store it again
                store(client, CONTROL_KEY, csv)
                continue
            if r.status != 200:
                run.fail(f"control {field} -> {r.status}")
            out[field].append(r.ms)
            return r
        run.fail(f"control {field}: dataset evicted twice")
        return None

    def qpath(q) -> str:
        return f"/qcache/dataset/{CONTROL_KEY}?q=" + urllib.parse.quote(json.dumps(q))

    try:
        for _ in range(3):
            get("/qcache/status", "status_ms")
        get(qpath({}), "empty_query_ms")
        lit = 1_000_000 + time.time_ns() % 1_000_000_000
        q = {"where": ["!=", "baz", lit], "group_by": ["qux"],
             "select": ["qux", ["sum", "baz"]], "order_by": ["qux"], "limit": 10}
        r = get(qpath(q), "tiny_query_ms")
        if r is not None and r.status == 200:
            got = [tuple(x.values()) for x in json.loads(r.body)]
            if got != [("qqq", 12), ("www", 9)]:
                run.mismatch(f"control group_by returned {got}")
        get(qpath({"update": [["foo", "'zzz'"]], "where": ["==", "baz", -1]}), "tiny_update_ms")
    except TransportError as e:
        run.fail(f"control probe: {e}")
    finally:
        client.close()
    return {k: (statistics.median(v) if v else None) for k, v in out.items()}


# -- the HTTP run -----------------------------------------------------

def run_http(run: Run) -> None:
    spec = SPECS[run.args.workload](run)
    control_csv = _csv(data.basic_frame())
    t0 = time.perf_counter()
    if run.traced:
        server = InProcessServer(run.spark_session(), spec.size)
    else:
        server = ServerProcess(ROOT, run.workdir, run.cpus, spec.size)
        server.start()
    port = server.port
    try:
        # -- set-up: start, then store every dataset and warm up, in rounds
        run.phase("setup")
        c = Client(port)
        store(c, CONTROL_KEY, control_csv)  # the tiny one takes the cold-JVM first store
        start_s = time.perf_counter() - t0
        store_ms: list[float] = []
        round_s = [_setup_round(run, spec, port, r, store_ms) for r in range(SETUP_ROUNDS)]
        setup_s = start_s + statistics.median(round_s)
        stats0 = json.loads(c.request("GET", "/qcache/statistics").body)
        resident_csv = _resident_csv_bytes(c, dict(spec.datasets, **{CONTROL_KEY: control_csv}), stats0)
        c.close()

        control_before = control_probe(run, port, control_csv)

        # -- the timed closed loop ------------------------------------
        c = Client(port)
        c.request("GET", "/qcache/statistics")  # reset the counters
        run.phase("timed")
        records, samples, elapsed = closed_loop(
            port, run.clients, run.args.seconds, run.seed, _guarded(spec.next_op),
            sample_p=SAMPLE_P,
        )
        run.phase("after")
        stats = json.loads(c.request("GET", "/qcache/statistics").body)
        c.close()

        control_after = control_probe(run, port, control_csv)
        if run.traced:
            _traced_extras(run, spec, port)
    finally:
        run.phase("teardown")
        server.stop()

    # -- metrics ------------------------------------------------------
    run.attempted = len(records)
    for rec in records:
        if not rec.ok:
            run.fail(rec.error or f"{rec.kind} failed")
    get_ms = [m for r in records for m in r.get_ms]
    reads = [r for r in records if r.kind == "read" and r.ok]
    if len(get_ms) < MIN_QUERIES:
        print(f"perfbench: warning: only {len(get_ms)} queries in the run "
              f"(p90 wants {MIN_QUERIES})", file=sys.stderr)
    run.report.update({
        "setup_s": _metric(setup_s, "s", SETUP_ROUNDS),
        "query_p50_ms": _median_metric(get_ms, "ms"),
        "query_p90_ms": _metric(percentile(get_ms, 90), "ms", len(get_ms)),
        "query_per_s": _metric(len(reads) / elapsed, "1/s", len(reads)),
        "stored_bytes_per_input_byte": _metric(
            stats0.get("cache_size", 0) / max(1, resident_csv), "ratio", stats0.get("dataset_count", 0)),
    })
    if not run.traced:
        run.e2e = {k: run.report[k] for k in GATED_HTTP}
    loop_store_ms = [m for r in records for m in r.store_ms]
    run.report["store_p50_ms"] = _median_metric(loop_store_ms or store_ms, "ms")
    update_ms = [m for r in records for m in r.update_ms]
    if update_ms:
        run.report["update_p50_ms"] = _median_metric(update_ms, "ms")

    # -- output check (outside the timed window) -----------------------
    run.phase("check")
    _check_samples(run, spec, samples)
    run.extra.update({
        "control_before": control_before, "control_after": control_after,
        "statistics": {k: v for k, v in stats.items() if not isinstance(v, list)},
        "start_s": start_s, "setup_round_s": round_s, "elapsed_s": elapsed,
    })
    if run.traced:
        _layers_http(run, records, stats, (control_before, control_after))


def _setup_round(run: Run, spec: HttpSpec, port: int, r: int, store_ms: list) -> float:
    """One set-up round: store every dataset, then warm up with one
    operation per client. Returns its seconds. Every round after the
    first deletes the datasets beforehand, outside the timed part."""
    if r:
        c = Client(port)
        for key in spec.datasets:
            c.request("DELETE", f"/qcache/dataset/{key}")
        c.close()
    t0 = time.perf_counter()
    store_ms += _store_all(port, spec.datasets)
    _run_fixed(port, [1] * run.clients, spec.next_op, k_offset=10_000 + 100 * r)
    return time.perf_counter() - t0


def _guarded(next_op):
    """A client loop must keep running: an unexpected error becomes a
    failed operation with its reason."""

    def op(client, rng, i, k):
        try:
            return next_op(client, rng, i, k)
        except Exception as e:  # noqa: BLE001 - counted as a failure
            return OpRecord("read", "error", time.perf_counter(), 0.0, False,
                            error=f"{type(e).__name__}: {e}"), None

    return op


def _run_fixed(port: int, per_client: list[int], op, k_offset: int = 0) -> None:
    """Run ``per_client[i]`` operations on client i; raise on the first
    failed one (set-up and warm-up must not fail)."""
    errors = []

    def worker(i: int) -> None:
        client = Client(port)
        rng = np.random.default_rng([999, i])
        try:
            for k in range(per_client[i]):
                rec, _ = op(client, rng, i, k_offset + k)
                if not rec.ok:
                    errors.append(rec.error)
        except Exception as e:  # noqa: BLE001 - re-raised below
            errors.append(f"{type(e).__name__}: {e}")
        finally:
            client.close()

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(len(per_client))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise RuntimeError(f"set-up failed: {errors[0]}")


def _store_all(port: int, datasets: dict) -> list[float]:
    """POST every dataset over up to four connections; returns the
    store latencies."""
    pending, lock, store_ms = list(datasets.items()), threading.Lock(), []

    def post(client, rng, i, k):
        with lock:
            key, csv = pending.pop(0)
        r = store(client, key, csv)
        store_ms.append(r.ms)
        return OpRecord("store", key, 0.0, r.ms, r.status == 201,
                        error=f"store {key} -> {r.status} {r.body[:200]!r}"), None

    n = min(4, len(datasets))
    _run_fixed(port, [len(datasets) // n + (i < len(datasets) % n) for i in range(n)], post)
    return store_ms


def _resident_csv_bytes(client, datasets: dict, stats: dict) -> int:
    """CSV bytes of the datasets resident after set-up. When some were
    evicted, ask the explain endpoint (compile only, nothing executes)
    which keys are still there."""
    if stats.get("dataset_count", 0) == len(datasets):
        return sum(len(v) for v in datasets.values())
    total = 0
    for key, csv in datasets.items():
        r = client.request("POST", f"/qcache/dataset/{key}/explain", b"{}")
        total += len(csv) if r.status == 200 else 0
    return total


def _check_samples(run: Run, spec: HttpSpec, samples) -> None:
    import duckdb

    con = duckdb.connect()
    registered = None
    for key, query, body, unsliced in sorted(samples, key=lambda s: s[0]):
        if key != registered:
            if registered is not None:
                con.unregister("t")
            con.register("t", _oracle_frame(spec.datasets[key]))
            registered = key
        run.checked += 1
        reason = check_response(con, query, body, unsliced)
        if reason is not None:
            run.mismatch(f"output check {query.shape} on {key}: {reason}; q={query.text}")
    con.close()
    if run.checked == 0:
        run.mismatch("output check: no response was sampled")


# -- traced extras and per-layer metrics -------------------------------

def _traced_extras(run: Run, spec: HttpSpec, port: int) -> None:
    """After the timed loop: the keep-alive status floor and the
    one-client structural pass whose counts must repeat exactly."""
    run.phase("status")
    c = Client(port)
    run.extra["status_ms"] = [c.request("GET", "/qcache/status").ms for _ in range(20)]

    run.phase("structural")
    c.request("GET", "/qcache/statistics")  # reset the counters
    spec.before_structural(c)
    for rec, _ in [op(c) for op in spec.structural_ops()]:
        if not rec.ok:
            run.fail(f"structural pass: {rec.error}")
    st = json.loads(c.request("GET", "/qcache/statistics").body)
    c.close()
    tr = run.tracer
    kids = tr.children()
    jobs = stages = reads = rows = 0
    for s in tr.spans:
        path = s.attrs.get("path", "")
        if s.phase != "structural" or s.name != "server.do_GET" or "?q=" not in path \
                or "%22update%22" in path:
            continue
        reads += 1
        j, g = tr.jobs_and_stages(s.attrs["job_group"])
        jobs, stages = jobs + j, stages + g
        rows += sum(k.attrs.get("rows", 0) for k in kids.get(s.sid, []) if k.name == "exec.collect")
    run.extra["structural"] = {"reads": reads, "jobs": jobs, "stages": stages, "rows": rows,
                               "evictions": st.get("size_evict_count", 0)}


def _layers_http(run: Run, records, stats: dict, controls) -> None:
    tr = run.tracer
    kids = tr.children()
    live = [s for s in tr.spans if s.phase in ("timed", "control")]
    # stores happen mostly during set-up: parse and insert count it too
    stores = [s for s in tr.spans if s.phase not in ("structural", "status")]

    def self_ms(names, spans=live, parents=None):
        return [tr.self_ms(s, kids.get(s.sid, [])) for s in spans
                if s.name in names and (parents is None or s.parent in parents)]

    reads = [s for s in live if s.name == "server.do_GET" and "?q=" in s.attrs.get("path", "")
             and not any(k.name == "plans.compile_update" for k in kids.get(s.sid, []))]
    unsliced = [s for s in live if s.name == "exec.unsliced_len"]
    read_total = sum(s.ms for s in reads)
    st = run.extra["structural"]
    hits, misses = stats.get("hit_count", 0), stats.get("miss_count", 0)
    read_hits = hits - sum(1 for r in records if r.kind == "update" and r.ok)
    L = run.layers
    L["server.request_self_ms"] = _median_metric(self_ms(("server.do_GET", "server.do_POST")), "ms")
    L["server.status_ms"] = _median_metric(run.extra["status_ms"], "ms")
    L["server.result_cache_hit_ratio"] = _metric(
        stats.get("result_cache_hit_count", 0) / max(1, read_hits), "ratio", read_hits)
    L["server.response_bytes"] = _median_metric(
        (r.response_bytes for r in records if r.kind == "read" and r.ok), "bytes")
    L["plans.compile_ms"] = _median_metric(self_ms(("plans.compile_query",)), "ms")
    L["plans.update_compile_ms"] = _median_metric(self_ms(("plans.compile_update",)), "ms")
    L["exec.collect_ms"] = _median_metric(
        self_ms(("exec.collect",), parents={s.sid for s in reads}), "ms")
    L["exec.unsliced_count_ms"] = _median_metric(self_ms(("exec.unsliced_len",)), "ms")
    L["exec.unsliced_count_share"] = _metric(
        sum(s.ms for s in unsliced) / read_total if read_total else 0.0, "ratio", len(unsliced))
    L["exec.jobs_per_query"] = _metric(st["jobs"] / max(1, st["reads"]), "count", st["reads"])
    L["exec.stages_per_query"] = _metric(st["stages"] / max(1, st["reads"]), "count", st["reads"])
    L["exec.rows_fetched"] = _metric(st["rows"], "count", st["reads"])
    L["ingest.parse_ms"] = _median_metric(
        self_ms(("ingest.from_csv", "ingest.from_json_records"), spans=stores), "ms")
    L["ingest.serialize_ms"] = _median_metric(
        self_ms(("ingest.rows_to_json", "ingest.rows_to_csv")), "ms")
    L["catalog.insert_ms"] = _median_metric(self_ms(("catalog.insert",), spans=stores), "ms")
    L["catalog.replace_ms"] = _median_metric(self_ms(("catalog.replace_df",)), "ms")
    L["catalog.evictions"] = _metric(st["evictions"], "count", 1)
    L["catalog.miss_ratio"] = _metric(misses / max(1, hits + misses), "ratio", hits + misses)
    L["catalog.bytes"] = _metric(stats.get("cache_size", 0), "bytes", stats.get("dataset_count", 0))
    _control_layers(L, controls)
    L["traced.query_p50_ms"] = run.report["query_p50_ms"]


def _control_layers(layers: dict, controls) -> None:
    for name in ("status_ms", "tiny_query_ms"):
        layers[f"control.{name}"] = _median_metric(
            (c[name] for c in controls if c.get(name) is not None), "ms")


# -- operator_batch ---------------------------------------------------

def run_operator_batch(run: Run) -> None:
    import operator_batch as ob

    args = run.args
    sf = TINY_SCALE if args.tiny else DEFAULT_SCALE
    expected = ob.recorded_fingerprints(sf)
    run.extra["scale"] = sf
    t0 = time.perf_counter()
    spark = run.spark_session()
    pq_dir = os.path.join(run.workdir, "inputs")
    os.makedirs(pq_dir, exist_ok=True)
    for name, frame in data.operator_frames(sf).items():
        data.shuffled(frame, run.seed).to_parquet(os.path.join(pq_dir, f"{name}.parquet"))
    inputs = ob.load_inputs(spark, pq_dir)
    # an in-process server, for the control probes only
    server = InProcessServer(spark, 1_000_000_000)
    control_csv = _csv(data.basic_frame())
    on_call = None
    if run.tracer is not None:
        calls = itertools.count(1)

        def on_call(name):
            return run.tracer.span(f"operators.call.{name}", job_group=f"op-{name}-{next(calls)}")

    try:
        c = Client(server.port)
        store(c, CONTROL_KEY, control_csv)
        c.close()
        run.phase("setup")
        ob.run_pipeline(inputs, spark, run.workdir)  # warm-up
        setup_s = time.perf_counter() - t0
        control_before = control_probe(run, server.port, control_csv)

        run.phase("timed")
        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            passes.append(ob.run_pipeline(inputs, spark, run.workdir, on_call=on_call))
        control_after = control_probe(run, server.port, control_csv)
    finally:
        run.phase("teardown")
        server.stop()

    run.attempted = len(passes) * len(ob.PIPELINE)
    for _, calls_out in passes:
        for name, (_, fp, _) in calls_out.items():
            run.checked += 1
            if fp != expected[name]:
                run.mismatch(f"output check {name}: fingerprint {fp} != recorded {expected[name]}")
    run.e2e = {
        "setup_s": _metric(setup_s, "s", 1),
        "pipeline_s": _median_metric((w for w, _ in passes), "s"),
    }
    run.report.update(run.e2e)
    run.extra.update({"control_before": control_before, "control_after": control_after,
                      "calls": [{k: v[0] for k, v in c.items()} for _, c in passes]})
    if run.traced:
        tr = run.tracer
        for name, _ in ob.PIPELINE:
            spans = [s for s in tr.spans if s.name == f"operators.call.{name}"]
            run.layers[f"operators.{name}_s"] = _median_metric((s.ms / 1000.0 for s in spans), "s")
            jobs, _ = tr.jobs_and_stages(min(spans, key=lambda s: s.start).attrs["job_group"])
            run.layers[f"operators.{name}_jobs"] = _metric(jobs, "count", 1)
        _control_layers(run.layers, (control_before, control_after))
        run.layers["traced.pipeline_s"] = run.e2e["pipeline_s"]


# -- output -----------------------------------------------------------

def _print_metrics(workload: str, metrics: dict) -> None:
    for name, m in metrics.items():
        print(f"{workload} {name} = {m['value']:.6g} {m['unit']} (n={m['n']})")


def _write_record(run: Run, result: dict) -> tuple[str, dict]:
    prov = provenance(run.args, run.clients, run.cpu_start)
    stamp = prov["utc"].replace(":", "").replace("-", "")
    base = os.path.join(run.records_dir,
                        f"{run.args.workload}-{stamp}-seed{run.seed}-trace{run.args.trace}")
    record = {"provenance": prov, "result": result, "report": run.report, "layers": run.layers,
              "failures": run.failures[:50], "checked": run.checked, "extra": run.extra}
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if run.tracer is not None:
        with open(base + "-spans.jsonl", "w") as f:
            for s in run.tracer.spans:
                f.write(json.dumps({"id": s.sid, "parent": s.parent, "name": s.name,
                                    "start": s.start, "end": s.end, "request": s.request,
                                    "phase": s.phase, "attrs": s.attrs}, default=str) + "\n")
    return base + ".json", prov


def run_one(args) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    become_subreaper()
    run = Run(args)
    try:
        if args.workload in HTTP_WORKLOADS:
            run_http(run)
        else:
            run_operator_batch(run)
    finally:
        try:
            run.close()
        finally:
            # no process of the run outlives it, on any path out
            stop_descendants()
    failed = min(len(run.failures), max(1, run.attempted))
    wl = args.workload
    prefix = "traced." if run.traced else ""
    _print_metrics(wl, {prefix + k: v for k, v in run.report.items()})
    _print_metrics(wl, {k: v for k, v in run.layers.items() if not k.startswith("traced.")})
    print(f"{wl} error_rate = {failed / max(1, run.attempted):.6g} ratio (n={run.attempted})")
    print(f"{wl} output_check = {run.checked - run.mismatches}/{run.checked} matched")
    for reason in run.failures[:10]:
        print(f"{wl} failure: {reason}")
    result = {
        "correct": not run.failures,
        "attempted": max(1, run.attempted),
        "failed": failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in (run.layers if run.traced else run.e2e).items()},
    }
    path, prov = _write_record(run, result)
    print(f"{wl} provenance: " + " ".join(f"{k}={v}" for k, v in prov.items()))
    print(f"{wl} record: {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))
    return 0


OVERHEAD_METRICS = ("query_p50_ms", "pipeline_s", "traced.query_p50_ms", "traced.pipeline_s")


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process;
    then the tracing overhead on the shared end-to-end metrics."""
    results, printed = {}, {}
    ok = True
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
            if args.tiny:
                cmd.append("--tiny")
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if proc.returncode != 0 or not lines:
                print(f"{wl} trace={trace}: exited {proc.returncode}")
                ok = False
                continue
            results[(wl, trace)] = json.loads(lines[-1])
            for line in lines[:-1]:
                parts = line.split()
                if len(parts) >= 5 and parts[0] == wl and parts[1] in OVERHEAD_METRICS:
                    printed[(wl, parts[1])] = (float(parts[3]), parts[4])
    for wl in WORKLOADS:
        for name in OVERHEAD_METRICS[:2]:
            plain, traced = printed.get((wl, name)), printed.get((wl, f"traced.{name}"))
            if plain and traced:
                a, b = plain[0], traced[0]
                print(f"{wl} tracing_overhead.{name} = {b - a:.6g} {plain[1]} "
                      f"({(b - a) / a * 100 if a else 0:+.1f}%)")
    combined = {
        "correct": ok and all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()) or 1,
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{wl}/{k}": v for (wl, t), r in results.items() if t == 0
                    for k, v in r["metrics"].items()},
    }
    print(json.dumps(combined))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes: scale 0.001 and small datasets")
    args = ap.parse_args(argv)
    # a terminated run still stops its server (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "qcache_spark", "__main__.py")):
        return _fail(f"no qcache_spark package next to {HERE}; run from a repository checkout")
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    raise SystemExit(main())
