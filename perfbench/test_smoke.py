"""Smoke test of the benchmark itself: every workload at a tiny size
(sf0.001, small datasets, 8 seconds), untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

It asserts that each metric the README names is printed with its unit
and a sample count, that every output check matched, that error_rate
is 0 and that no process of the run outlives it. It starts a JVM per
run, so it takes several minutes.
"""
from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import become_subreaper, descendants, stop_descendants  # noqa: E402

HTTP_E2E = {
    "setup_s": "s", "query_p50_ms": "ms", "query_p90_ms": "ms", "query_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio", "store_p50_ms": "ms",
}
E2E = {
    "small_read": HTTP_E2E,
    "large_scan": HTTP_E2E,
    "cache_aside": dict(HTTP_E2E, update_p50_ms="ms"),
    "operator_batch": {"setup_s": "s", "pipeline_s": "s"},
}
HTTP_LAYERS = {
    "server.request_self_ms": "ms", "server.status_ms": "ms",
    "server.result_cache_hit_ratio": "ratio", "server.response_bytes": "bytes",
    "plans.compile_ms": "ms", "plans.update_compile_ms": "ms",
    "exec.collect_ms": "ms", "exec.unsliced_count_ms": "ms", "exec.unsliced_count_share": "ratio",
    "exec.jobs_per_query": "count", "exec.stages_per_query": "count", "exec.rows_fetched": "count",
    "ingest.parse_ms": "ms", "ingest.serialize_ms": "ms",
    "catalog.insert_ms": "ms", "catalog.replace_ms": "ms", "catalog.evictions": "count",
    "catalog.miss_ratio": "ratio", "catalog.bytes": "bytes",
    "control.status_ms": "ms", "control.tiny_query_ms": "ms", "traced.query_p50_ms": "ms",
}
OPERATOR_LAYERS = {"control.status_ms": "ms", "control.tiny_query_ms": "ms", "traced.pipeline_s": "s"}
for _call in ("minhash_lsh_pairs", "neardup_clusters", "semantic_dedup", "ivf_admit", "pagerank"):
    OPERATOR_LAYERS[f"operators.{_call}_s"] = "s"
    OPERATOR_LAYERS[f"operators.{_call}_jobs"] = "count"
LAYERS = {"small_read": HTTP_LAYERS, "large_scan": HTTP_LAYERS, "cache_aside": HTTP_LAYERS,
          "operator_batch": OPERATOR_LAYERS}

LINE = re.compile(r"^(\w+) ([\w.]+) = (\S+) (\S+) \(n=(\d+)\)$")


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    become_subreaper()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "8", "--trace", str(trace), "--tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # this process is a subreaper, so anything the run left is below it
    left = descendants(os.getpid())
    stop_descendants()
    assert not left, f"processes of the run outlived it: {left}"
    lines = proc.stdout.strip().splitlines()
    printed = {}
    for line in lines[:-1]:
        m = LINE.match(line)
        if m and m.group(1) == workload:
            printed[m.group(2)] = (float(m.group(3)), m.group(4), int(m.group(5)))
    return printed, json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(E2E))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric(workload, trace):
    printed, result = _run(workload, trace)
    assert result["correct"], printed
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert printed["error_rate"][0] == 0.0
    prefix = "traced." if trace else ""
    for name, unit in E2E[workload].items():
        assert printed[prefix + name][1] == unit, name
    if trace:
        expected = LAYERS[workload]
        assert set(result["metrics"]) == set(expected)
        for name, unit in expected.items():
            assert printed[name][1] == unit and result["metrics"][name]["unit"] == unit, name
    else:
        assert set(result["metrics"]) <= set(E2E[workload])
        for name, m in result["metrics"].items():
            assert m["value"] > 0, name
