"""Spans, process-tree memory and microbatch progress for one run.

Spans are kept in memory and written as JSON when the run ends. Each span
has a name (``<layer>.<step>``), start and end (epoch seconds), the id of
the span that caused it and, for microbatch steps, the batch id. A layer's
self time is the time its spans cover minus the part their child spans
cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# Which end-to-end metrics each layer's figures should move: on which
# workloads of BENCHMARK.json, and on which workload run by hand
# (udp_string). On every other workload the prediction is no change.
PREDICTED = {
    "session": {"moves": ["setup_s"], "on": ["tcp_avro", "replay_parse"], "by_hand": ["udp_string"]},
    # the live listener frames lines, holds them and serves each batch
    "syslog_source": {"moves": ["drain_lps", "latency_p50_ms", "latency_p99_ms"],
                      "on": ["tcp_avro"], "by_hand": ["udp_string"]},
    # the trigger engine under run_syslog_ingest; the replay builds its own query
    "pipeline": {"moves": ["latency_p50_ms", "latency_p99_ms"], "on": ["tcp_avro"], "by_hand": ["udp_string"]},
    "transformers": {"moves": ["drain_lps", "latency_p50_ms"], "on": ["tcp_avro"], "by_hand": []},
    "avro_binary": {"moves": ["drain_lps", "latency_p50_ms"], "on": ["tcp_avro"], "by_hand": []},
    "proto_wire": {"moves": [], "on": [], "by_hand": []},  # no workload encodes proto
    "syslog_parse": {"moves": ["drain_lps", "latency_p50_ms"], "on": ["replay_parse"], "by_hand": []},
    # every line is written on the live workloads; the replay writes only closed windows
    "sink": {"moves": ["drain_lps", "latency_p50_ms"], "on": ["tcp_avro"], "by_hand": ["udp_string"]},
    # spark.read.text: the live listener splits lines itself, the replay reads parquet
    "frame": {"moves": [], "on": [], "by_hand": []},
    "state": {"moves": ["drain_lps", "latency_p50_ms", "latency_p99_ms"], "on": ["replay_parse"],
              "by_hand": []},
    # the loss and duplicate figures themselves: zero wherever the check
    # passes, except for the counted UDP loss of udp_string
    "check": {"moves": [], "on": [], "by_hand": []},
    "loadgen": {"moves": [], "on": [], "by_hand": []},
    "trace": {"moves": [], "on": [], "by_hand": []},
}

# StreamingQueryProgress.durationMs phases in the order a trigger runs them.
BATCH_PHASES = ("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets")


class Tracer:
    """Records spans when enabled; a no-op otherwise. ``overhead_s`` is the
    time the tracer itself spent recording."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            batch_id: int | None = None) -> int | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "batch_id": batch_id})
        self.overhead_s += time.perf_counter() - t
        return sid

    @contextmanager
    def span(self, name: str):
        """A span around the block, child of the enclosing span."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sid = self.add(name, time.time(), 0.0, parent=self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t
        try:
            yield sid
        finally:
            t = time.perf_counter()
            self._stack.pop()
            self.spans[sid]["end"] = time.time()
            self.overhead_s += time.perf_counter() - t

    def add_batches(self, batches: list[dict]) -> None:
        """One ``pipeline.batch`` span per microbatch, from its trigger
        timestamp and ``durationMs``, with a child span per phase."""
        for p in batches:
            start = epoch_of(p["timestamp"])
            d = p.get("durationMs", {})
            bid = self.add("pipeline.batch", start, start + d.get("triggerExecution", 0) / 1e3,
                           batch_id=p["batchId"])
            t = start
            for phase in BATCH_PHASES:
                ms = d.get(phase, 0)
                if ms:
                    self.add(f"pipeline.{phase}", t, t + ms / 1e3, parent=bid, batch_id=p["batchId"])
                    t += ms / 1e3

    def self_times(self) -> dict[str, float]:
        """Self time per layer (the span name up to its first dot)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    covered += 0 if cur_hi is None else cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            covered += 0 if cur_hi is None else cur_hi - cur_lo
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "predicted_to_move": PREDICTED, "self_time_s": self.self_times(),
                       "spans": self.spans}, f, indent=1)


def epoch_of(ts: str) -> float:
    """StreamingQueryProgress timestamp ('2026-01-01T00:00:00.123Z') to
    epoch seconds."""
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class PssSampler(threading.Thread):
    """Peak of the summed proportional set size (PSS) of this process and
    all of its descendants: the JVM, its Python workers and the
    streaming-source runner. PSS splits a shared page among the processes
    sharing it, so forked Python workers and the JVM's short-lived forks are
    not counted twice, as summed RSS would. The tree is re-listed every
    second and sampled five times a second."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    def _tree(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def sample(self, pids: list[int]) -> int:
        total = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(row.split()[1]) for row in f if row.startswith("Pss:")) * 1024
            except (OSError, StopIteration, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def run(self) -> None:
        pids, listed = [], 0.0
        while not self._stop_evt.is_set():
            if time.monotonic() - listed > 1.0:
                pids, listed = self._tree(), time.monotonic()
            self.sample(pids)
            self._stop_evt.wait(self.INTERVAL_S)

    def stop(self) -> int:
        self.sample(self._tree())
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak_bytes


class ProgressLog:
    """StreamingQueryProgress of every microbatch of one query, by batch id."""

    def __init__(self, query) -> None:
        self.query = query
        self.batches: dict[int, dict] = {}
        self.last_new = time.time()

    def _add(self, p) -> bool:
        # a trigger that finds no data reports progress under the id of
        # the batch still to come; only a batch that ran has addBatch
        if "addBatch" not in p["durationMs"] or p["batchId"] in self.batches:
            return False
        self.batches[p["batchId"]] = json.loads(p.json)
        return True

    def poll(self) -> None:
        p = self.query.lastProgress
        if p is None or p["batchId"] in self.batches:
            return
        if p["batchId"] - 1 not in self.batches and p["batchId"] > 0:
            self.merge_recent()  # more than one batch ended since the last poll
        if self._add(p):
            self.last_new = time.time()

    def merge_recent(self) -> None:
        for p in self.query.recentProgress:
            if self._add(p):
                self.last_new = time.time()

    def rows(self) -> int:
        return sum(p["numInputRows"] for p in self.batches.values())

    def wait_rows(self, target: int, timeout: float, quiet_s: float | None = None,
                  idle_since: float = 0.0) -> None:
        """Until ``target`` rows arrived; with ``quiet_s``, also stop once no
        batch has ended for that long after ``idle_since`` (lossy input)."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            self.poll()
            if self.rows() >= target:
                return
            now = time.time()
            if quiet_s is not None and now - max(self.last_new, idle_since) > quiet_s \
                    and not self.query.status["isTriggerActive"]:
                return
            exc = self.query.exception()
            if exc is not None:
                raise RuntimeError(f"streaming query failed: {exc}")
            time.sleep(0.05)
        raise TimeoutError(f"only {self.rows()} of {target} rows arrived within {timeout:.0f} s")
