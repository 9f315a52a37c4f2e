"""Server metrics: ring-buffered durations + counters, reset on read
(reference qcache/statistics.py:6-48; key set asserted by
test/test_api.py:320-340)."""
from __future__ import annotations

import threading
import time
from collections import deque


class Statistics:
    COUNTERS = (
        "hit_count",
        "miss_count",
        "size_evict_count",
        "age_evict_count",
        "store_count",
        "replace_count",
        "result_cache_hit_count",
        # which executor answered a query or update on a
        # driver-resident dataset: the driver-local one, or Spark after
        # the router declined
        "local_query_count",
        "local_fallback_count",
    )
    BUFFERS = (
        "query_durations",
        "store_durations",
        "store_row_counts",
        "durations_until_eviction",
    )

    def __init__(self, buffer_size: int = 1000):
        self.buffer_size = buffer_size
        self._lock = threading.Lock()
        self._reset()

    def _reset(self) -> None:
        self._counters = {name: 0 for name in self.COUNTERS}
        self._buffers = {name: deque(maxlen=self.buffer_size) for name in self.BUFFERS}
        # statistics_duration is wall-clock time covered by the snapshot,
        # i.e. now - last reset (reference qcache/statistics.py snapshot),
        # so clients can compute rates like hit_count/statistics_duration.
        self._since = time.time()

    def inc(self, name: str, count: int = 1) -> None:
        with self._lock:
            self._counters[name] = self._counters.get(name, 0) + count

    def append(self, name: str, value: float) -> None:
        with self._lock:
            self._buffers[name].append(value)

    def snapshot_and_reset(self) -> dict:
        """Read = consume (reference resets stats on every read,
        qcache/statistics.py:29-33). Matching the reference's key
        contract (test_api.py:320-340): zero counters and empty
        buffers are OMITTED, so right after a reset only the standing
        keys (dataset_count, cache_size, statistics_duration,
        statistics_buffer_size — the first two added by the server)
        remain."""
        with self._lock:
            out: dict = {k: v for k, v in self._counters.items() if v}
            for name, buf in self._buffers.items():
                if buf:
                    out[name] = list(buf)
            out["statistics_buffer_size"] = self.buffer_size
            out["statistics_duration"] = time.time() - self._since
            self._reset()
            return out
