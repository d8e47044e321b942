"""The three workloads: live TCP Avro ingest, live UDP string ingest and the
file-source parse replay. Each drives the collector only through its public
entry points and returns end-to-end and per-layer figures plus the output
check.

Phases of every workload (times scale with ``--seconds`` S):

1. set-up: session build, then the query start, until the listener takes
   lines or the file stream waits for data; ``setup_s`` is the sum. The
   query is the first of its JVM, so its start is the cold one a launch of
   the CLI pays.
2. warm-up: about a second of paced input, waited out, not measured.
3. measured: ``ROUNDS`` rounds, each a paced stretch then a flood burst,
   so that both kinds of sample are spread over the whole measured phase
   and a slow few seconds of a shared host weigh on one round, not on all
   of one metric's samples.
   - paced: an open-loop schedule at the workload's fixed rate for
     0.6 S / ROUNDS, waited out; a line's latency runs from its due time
     to the checkpoint commit of the microbatch that carried it.
   - burst: ``flood_lps`` x S / (2 ROUNDS) lines sent at once with the
     pipeline idle, waited out. A burst's drain is its lines delivered over
     (last commit of a batch carrying them - its first write);
     ``drain_lps`` is the median over the rounds.
"""

from __future__ import annotations

import glob
import json
import os
import socket
import statistics
import time
from urllib.parse import unquote, urlparse

import numpy as np

from perfbench.check import Checker, compare_rows
from perfbench.gen import LineGen, LoadGen, dialect_shares
from perfbench.trace import ProgressLog, PssSampler, Tracer, epoch_of

SCHEMA_ID = 1  # a registry would assign it; there is no registry here
TAGS = {"dc": "ams", "env": "prod"}  # the CLI's --tag dc=ams --tag env=prod
LOGTYPEID = 3  # --log.type.id 3
CPUS = 4

WORKLOADS = {
    # rate: paced lines/s, a quarter or less of what the workload drains,
    # so that latency is the microbatch cycle and not a queue whose length
    # amplifies the host's speed; flood_lps: drain speed a burst is sized for
    "tcp_avro": {"protocol": "tcp", "encoding": "avro", "rate": 2000, "flood_lps": 15000},
    "udp_string": {"protocol": "udp", "encoding": "string", "rate": 4000, "flood_lps": 50000},
    "replay_parse": {"rate": 1500, "flood_lps": 8000},
}

# replay_parse: event time advances 10 ms per line with up to 30 s of
# disorder, well inside the 2-minute watermark, so no row is late.
REPLAY_WINDOW = "1 minute"
REPLAY_WATERMARK = "2 minutes"
REPLAY_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
REPLAY_STEP_US = 10_000
REPLAY_JITTER_US = 30_000_000
REPLAY_FILE_S = 0.25  # one input file per quarter second while paced
REPLAY_BURST_FILES = 6  # files per flood burst, read by one batch
REPLAY_MAX_FILES = 8  # maxFilesPerTrigger
# State partitions of the replay query, one per core. The session default
# (32) would make the fixed cost of 32 state stores per batch, not the
# parse, the larger part of every batch.
REPLAY_STATE_PARTITIONS = CPUS


ROUNDS = 5


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else float("nan")


def free_port(kind: int) -> int:
    with socket.socket(socket.AF_INET, kind) as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _udp_bound(port: int) -> bool:
    with open("/proc/net/udp") as f:
        next(f)
        return any(int(row.split()[1].split(":")[1], 16) == port for row in f)


def wait_listener(protocol: str, port: int, timeout: float = 120) -> socket.socket | None:
    """Block until the collector's listener accepts lines: a TCP connection
    is open (and returned), or the UDP port is bound."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if protocol == "tcp":
            try:
                return socket.create_connection(("127.0.0.1", port), timeout=60)
            except ConnectionRefusedError:
                pass
        elif _udp_bound(port):
            return None
        time.sleep(0.01)
    raise TimeoutError(f"{protocol} listener on port {port} not up after {timeout:.0f} s")


def _read_log(path: str) -> list[dict]:
    """Entries of one Spark metadata log file (a 'v1' line, then JSON)."""
    with open(path) as f:
        return [json.loads(line) for line in f.read().splitlines()[1:] if line.strip()]


def _local(uri: str) -> str:
    return unquote(urlparse(uri).path)


def _log_batches(log_dir: str) -> dict[int, list[dict]]:
    out = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        name = os.path.basename(path)
        stem = name.split(".")[0]
        if stem.isdigit() and (name == stem or name.endswith(".compact")):
            out[int(stem)] = _read_log(path)
    return out


def sink_batches(out_dir: str) -> dict[int, list[tuple[str, int]]]:
    """(path, size) of the files each batch added to a file sink. A
    compacted log entry lists every file so far; the batch's own files are
    those no earlier batch listed."""
    seen: set[str] = set()
    out = {}
    for bid, entries in sorted(_log_batches(os.path.join(out_dir, "_spark_metadata")).items()):
        files = [(_local(e["path"]), e["size"]) for e in entries
                 if e.get("action", "add") == "add" and e["path"] not in seen]
        seen.update(e["path"] for e in entries)
        out[bid] = files
    return out


def file_source_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> id of the batch that read it. The file source
    logs files under its own log offset, which skips the batches that read
    nothing; the query's offsets log maps each batch to the log offset it
    ended at."""
    end_of = {}
    for path in glob.glob(os.path.join(checkpoint, "offsets", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            with open(path) as f:
                end_of[int(name)] = json.loads(f.read().splitlines()[2])["logOffset"]
    log_batch, prev = {}, -1
    for bid in sorted(end_of):
        for log_offset in range(prev + 1, end_of[bid] + 1):
            log_batch[log_offset] = bid
        prev = max(prev, end_of[bid])
    return {
        os.path.basename(_local(e["path"])): log_batch[e["batchId"]]
        for entries in _log_batches(os.path.join(checkpoint, "sources", "0")).values()
        for e in entries
    }


def commit_times(checkpoint: str) -> dict[int, float]:
    """Wall time at which each batch's checkpoint commit was written."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime
    return out


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str) -> None:
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}; choose from {sorted(WORKLOADS)}")
        self.name = workload
        self.cfg = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer(trace)
        self.mem = PssSampler()
        self.gen = LineGen(seed)
        self.hostname = socket.gethostname()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {"workload": workload, "seed": seed, "seconds": seconds,
                           "cpus": CPUS, "host_cpus": os.cpu_count()}
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    # ---------------------------------------------------------------- set-up
    def _session(self):
        from syslog_kafka_spark.session import get_spark

        t = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            spark = get_spark("perfbench")
        self.layer["session.get_spark_s"] = time.perf_counter() - t
        return spark

    def _setup(self, start) -> tuple:
        """Session build plus the query start; ``start()`` starts the query
        and blocks until it takes input, returning (query, handle)."""
        self.spark = self._session()
        t = time.perf_counter()
        with self.tracer.span("pipeline.query_start"):
            q, handle = start()
        self.info["query_start_s"] = time.perf_counter() - t
        self.e2e["setup_s"] = self.layer["session.get_spark_s"] + self.info["query_start_s"]
        return q, handle

    # ------------------------------------------------------------------ live
    def run(self) -> None:
        try:
            if self.name == "replay_parse":
                self._replay()
            else:
                self._live()
        finally:
            if self.mem.is_alive():
                self.mem.stop()

    def _measure_begin(self) -> float:
        """Start of the paced and flood phases: memory is sampled from here."""
        self.mem.start()
        return time.perf_counter()

    def _measure_end(self, t_measure: float) -> None:
        self.info["measure_wall_s"] = time.perf_counter() - t_measure
        self.info["trace_overhead_s"] = self.tracer.overhead_s
        peak = self.mem.stop()
        # the fixed heap, resident from the start (run.DRIVER_MEM)
        heap = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime().totalMemory()
        self.info["peak_pss_mb"] = peak / 2**20
        self.info["jvm_heap_mb"] = heap / 2**20
        self.e2e["peak_pss_less_heap_mb"] = (peak - heap) / 2**20

    def _live(self) -> None:
        from syslog_kafka_spark.streaming.pipeline import run_syslog_ingest

        protocol, encoding = self.cfg["protocol"], self.cfg["encoding"]
        kind = socket.SOCK_STREAM if protocol == "tcp" else socket.SOCK_DGRAM
        port = free_port(kind)
        ckpt, out = f"{self.work}/ckpt", f"{self.work}/out"

        def start():
            avro = encoding == "avro"
            q = run_syslog_ingest(
                self.spark, host="127.0.0.1", port=port, protocol=protocol, topic="syslog",
                brokers=None, checkpoint=ckpt, encoding=encoding,
                schema_id=SCHEMA_ID if avro else None, tags=TAGS if avro else None,
                logtypeid=LOGTYPEID if avro else None, output_path=out,
            )
            return q, wait_listener(protocol, port)

        q, conn = self._setup(start)
        log = ProgressLog(q)
        lg = LoadGen(self.gen, protocol, ("127.0.0.1", port), self.seed, conn=conn)
        rate = self.cfg["rate"]
        lossy = protocol == "udp"
        try:
            with self.tracer.span("loadgen.warmup"):
                lg.paced(rate, rate)
                log.wait_rows(lg.next_seq, 120, quiet_s=1.0 if lossy else None, idle_since=time.time())
            warm_batch = max(log.batches, default=-1)
            measured_lo = lg.next_seq
            t_measure = self._measure_begin()
            paced, bursts = [], []  # (first seq, end seq); (first seq, end seq, first write, last write)
            n_paced, n_burst = _round_sizes(self.cfg, self.seconds)
            for _ in range(ROUNDS):
                first = lg.next_seq
                with self.tracer.span("loadgen.paced"):
                    lg.paced(n_paced, rate)
                paced.append((first, lg.next_seq))
                log.wait_rows(lg.next_seq, 120, quiet_s=1.0 if lossy else None, idle_since=time.time())
                first = lg.next_seq
                with self.tracer.span("loadgen.flood"):
                    t_first, t_last = lg.flood(n_burst)
                bursts.append((first, lg.next_seq, t_first, t_last))
                log.wait_rows(lg.next_seq, 100, quiet_s=1.0 if lossy else None, idle_since=t_last)
            self._measure_end(t_measure)
            log.merge_recent()
            if self.trace:
                self._tasks_per_batch(q, log)
        finally:
            lg.close()
            q.stop()
        self.layer["loadgen.sent_lines"] = lg.next_seq - measured_lo
        self.layer["loadgen.late_p99_ms"] = pct(lg.late_s, 99) * 1e3
        self.layer["loadgen.flood_send_lps"] = _send_lps(bursts)
        with self.tracer.span("check.output"):
            self._check_live(lg, log, ckpt, out, warm_batch, measured_lo, paced, bursts, encoding, lossy)

    def _tasks_per_batch(self, q, log: ProgressLog) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        tasks = 0
        for job in tracker.getJobIdsForGroup(str(q.runId)):
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                s = tracker.getStageInfo(stage)
                tasks += s.numTasks if s else 0
        ran = sum(1 for p in log.batches.values() if p["numInputRows"] > 0)
        self.layer["syslog_source.tasks_per_batch"] = tasks / max(ran, 1)

    def _check_live(self, lg, log, ckpt, out, warm_batch, lo, paced, bursts, encoding, lossy):
        import pyarrow.parquet as pq

        n_sent = lg.next_seq
        checker = Checker(self.gen, lg.due_us, n_sent, lossless=not lossy)
        commits = commit_times(ckpt)
        batches = sink_batches(out)
        seq_batch = np.full(n_sent, -1, dtype=np.int64)
        is_paced = np.zeros(n_sent, dtype=bool)
        for first, end in paced:
            is_paced[first:end] = True
        received_ms = []
        n_bytes = n_files = 0
        for bid, files in sorted(batches.items()):
            if not files:
                continue
            if bid not in commits:
                self.errors.append(f"batch {bid} wrote files but has no commit")
                continue
            n_files += len(files)
            n_bytes += sum(size for _, size in files)
            for value in pq.read_table([p for p, _ in files], columns=["value"]).column("value").to_pylist():
                if encoding == "avro":
                    seq, rec_ms = checker.avro_value(value, SCHEMA_ID, self.hostname, TAGS, LOGTYPEID)
                    if seq is not None and is_paced[seq]:
                        received_ms.append(rec_ms - lg.due_us[seq] / 1e3)
                else:
                    seq = checker.string_value(value)
                if seq is not None:
                    seq_batch[seq] = bid
        result = checker.finish(lo)
        self.errors += result["errors"]
        self.attempted = result["sent"]
        self.failed = result["failed"]
        self.layer["check.lost_ratio"] = result["lost_ratio"]
        self.layer["check.dup_ratio"] = result["dup_ratio"]
        self.info["dialect_mix"] = dialect_shares(self.gen, n_sent)

        self._latency_and_drain(commits, seq_batch, np.frombuffer(lg.due_us, dtype=np.int64),
                                paced, bursts)
        if received_ms:
            self.info["arrival_wait_ms_p50"] = pct(received_ms, 50)
            self.info["arrival_wait_ms_p99"] = pct(received_ms, 99)
        # send time of each line: the first write whose end passes its seq
        send_t, send_end = map(np.asarray, zip(*lg.sends))
        sent_at = send_t[np.searchsorted(send_end, np.arange(n_sent), side="right")]
        self._layer_from_batches(log, warm_batch, seq_batch, sent_at)
        self.layer["sink.files"] = n_files
        self.layer["sink.bytes_per_line"] = n_bytes / max(int((seq_batch >= 0).sum()), 1)
        self.layer["syslog_source.listener_lost_lines"] = n_sent - log.rows()

    def _latency_and_drain(self, commits, seq_batch, due_us, paced, bursts) -> None:
        """Latency of the delivered lines of each paced stretch (``paced``:
        (first seq, end seq) pairs): commit of their batch - due time; the
        latency percentiles are the median over the stretches of each
        stretch's percentile. A stretch holds only a few microbatches, so
        its p99 is about its slowest one, and pooling every stretch would
        make the run's p99 that of the one slowest batch. Drain of each
        flood burst: lines delivered / (last commit of a batch holding one
        - first write); ``drain_lps`` is the median over the bursts.
        ``seq_batch`` is -1 for a line never delivered."""
        commit_of = np.array([commits.get(b, np.nan) for b in range(max(commits, default=0) + 1)])
        p50, p99, n_lat = [], [], 0
        for first, end in paced:
            seqs = np.arange(first, end)
            seqs = seqs[seq_batch[seqs] >= 0]
            if len(seqs):
                lat_ms = (commit_of[seq_batch[seqs]] - due_us[seqs] / 1e6) * 1e3
                p50.append(pct(lat_ms, 50))
                p99.append(pct(lat_ms, 99))
                n_lat += len(seqs)
        if len(p50) == len(paced):
            self.e2e["latency_p50_ms"] = statistics.median(p50)
            self.e2e["latency_p99_ms"] = statistics.median(p99)
        self.info["latency_samples"] = n_lat
        self.info["stretch_latency_p99_ms"] = p99
        drains = []
        for first, end, t_first, _ in bursts:
            burst = np.arange(first, end)
            burst = burst[seq_batch[burst] >= 0]
            if len(burst):
                last_commit = np.nanmax(commit_of[np.unique(seq_batch[burst])])
                drains.append(len(burst) / (last_commit - t_first))
        if len(drains) == len(bursts):
            self.e2e["drain_lps"] = statistics.median(drains)
        self.info["flood_lines"] = sum(end - first for first, end, _, _ in bursts)
        self.info["burst_drain_lps"] = drains

    def _layer_from_batches(self, log, warm_batch, seq_batch, sent_at) -> None:
        """Per-layer figures from StreamingQueryProgress of the measured
        batches, and the backlog each batch found when it started: lines
        already sent (``sent_at``) that it or a later batch delivered
        (``seq_batch``)."""
        measured = [p for b, p in sorted(log.batches.items()) if b > warm_batch]
        self.tracer.add_batches([p for _, p in sorted(log.batches.items())])
        rows = [p["numInputRows"] for p in measured if p["numInputRows"] > 0]
        d = [p.get("durationMs", {}) for p in measured if p["numInputRows"] > 0]

        def p50(key):
            return pct([x.get(key, 0) for x in d], 50)

        self.layer.update({
            "syslog_source.input_lines": sum(rows),
            "syslog_source.latest_offset_ms": p50("latestOffset"),
            "pipeline.batches": len(rows),
            "pipeline.rows_per_batch_p50": pct(rows, 50),
            "pipeline.trigger_ms_p50": p50("triggerExecution"),
            "pipeline.plan_ms_p50": p50("queryPlanning"),
            "pipeline.add_batch_ms_p50": p50("addBatch"),
            "pipeline.wal_commit_ms_p50": p50("walCommit"),
            "pipeline.commit_offsets_ms_p50": p50("commitOffsets"),
        })
        state = [p["stateOperators"][0] for p in measured if p.get("stateOperators")]
        self.layer["state.rows_total"] = max((s["numRowsTotal"] for s in state), default=0)
        self.layer["state.memory_bytes"] = max((s["memoryUsedBytes"] for s in state), default=0)
        self.layer["state.commit_ms_p50"] = pct([s["commitTimeMs"] for s in state], 50) if state else 0.0
        backlog = []
        for p in measured:
            b, t0 = p["batchId"], epoch_of(p["timestamp"])
            backlog.append(int(np.count_nonzero((seq_batch >= b) & (sent_at <= t0))))
        self.layer["syslog_source.backlog_max_lines"] = max(backlog, default=0)

    # ---------------------------------------------------------------- replay
    def _replay(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        import pyspark.sql.functions as F

        from syslog_kafka_spark.model import SYSLOG_MESSAGE_SCHEMA
        from syslog_kafka_spark.sources.syslog_parse import sd_map_expr
        from syslog_kafka_spark.streaming.pipeline import parsed_messages

        source = "replay-host"
        due_us: list[int] = []
        file_of: list[int] = []  # input file number of each seq
        rng = np.random.default_rng(self.seed)
        staging = f"{self.work}/staging"
        os.makedirs(staging)

        in_dir, ckpt, out = f"{self.work}/in", f"{self.work}/ckpt", f"{self.work}/out"

        def start():
            os.makedirs(in_dir)
            self.spark.conf.set("spark.sql.shuffle.partitions", str(REPLAY_STATE_PARTITIONS))
            messages = (self.spark.readStream.schema(SYSLOG_MESSAGE_SCHEMA)
                        .option("maxFilesPerTrigger", REPLAY_MAX_FILES).parquet(in_dir))
            q = (replay_aggregate(parsed_messages(messages), F, sd_map_expr)
                 .writeStream.format("parquet").option("path", out)
                 .option("checkpointLocation", ckpt).start())
            deadline = time.time() + 120
            while q.status["message"] != "Waiting for data to arrive":
                if time.time() > deadline:
                    raise TimeoutError("replay query did not start")
                time.sleep(0.01)
            return q, None

        q, _ = self._setup(start)
        log = ProgressLog(q)
        drops: list[tuple[float, str]] = []  # (time, file name)
        lines_all: list[str] = []
        event_us: list[int] = []

        def drop(n: int, due: float, batch: list | None = None) -> None:
            """Write the next ``n`` lines as one input file, visible at ``due``."""
            lo = len(due_us)
            d = int(due * 1e6)
            texts = [self.gen.line(s, d) for s in range(lo, lo + n)]
            ev = (REPLAY_BASE_US + np.arange(lo, lo + n) * REPLAY_STEP_US
                  - rng.integers(0, REPLAY_JITTER_US, n))
            name = f"f{len(drops) + len(batch or ()):05d}.parquet"
            pq.write_table(pa.table({
                "line": texts, "source": [source] * n,
                "received_ts": pa.array(ev, pa.timestamp("us", tz="UTC")),
            }), f"{staging}/{name}")
            due_us.extend([d] * n)
            file_of.extend([len(drops) + len(batch or ())] * n)
            lines_all.extend(texts)
            event_us.extend(ev.tolist())
            if batch is None:
                while time.time() < due:
                    time.sleep(0.0005)
                os.rename(f"{staging}/{name}", f"{in_dir}/{name}")
                drops.append((time.time(), name))
            else:
                batch.append(name)

        rate = self.cfg["rate"]
        per_file = int(rate * REPLAY_FILE_S)
        late: list[float] = []

        def paced(n: int) -> None:
            """About ``n`` lines, a file of them every REPLAY_FILE_S."""
            t0 = time.time() + 0.05
            for k in range(max(1, round(n / per_file))):
                drop(per_file, t0 + k * REPLAY_FILE_S)
                late.append(drops[-1][0] - (t0 + k * REPLAY_FILE_S))

        try:
            with self.tracer.span("loadgen.warmup"):
                paced(rate)
                log.wait_rows(len(due_us), 120)
            warm_batch = max(log.batches, default=-1)
            measured_lo = len(due_us)
            t_measure = self._measure_begin()
            paced_seqs, bursts = [], []  # (first seq, end seq); (.., first rename, last rename)
            n_paced, n_burst = _round_sizes(self.cfg, self.seconds)
            for _ in range(ROUNDS):
                first = len(due_us)
                with self.tracer.span("loadgen.paced"):
                    paced(n_paced)
                paced_seqs.append((first, len(due_us)))
                log.wait_rows(len(due_us), 120)
                first = len(due_us)
                with self.tracer.span("loadgen.flood"):
                    names: list[str] = []
                    t_due = time.time() + 0.3  # time to write the files first
                    for _ in range(REPLAY_BURST_FILES):
                        drop(n_burst // REPLAY_BURST_FILES, t_due, names)
                    while time.time() < t_due:
                        time.sleep(0.0005)
                    t_first = time.time()
                    late.append(t_first - t_due)
                    for name in names:
                        os.rename(f"{staging}/{name}", f"{in_dir}/{name}")
                        drops.append((time.time(), name))
                bursts.append((first, len(due_us), t_first, time.time()))
                log.wait_rows(len(due_us), 100)
            self._measure_end(t_measure)
            # a far-future row moves the watermark past every window, and
            # the no-data batch after it emits them
            n_real = len(due_us)
            flush = self.gen.line(n_real, 0).replace("seq=", "flush-seq=")
            pq.write_table(pa.table({
                "line": [flush], "source": [source],
                "received_ts": pa.array([max(event_us) + 3_600_000_000], pa.timestamp("us", tz="UTC")),
            }), f"{in_dir}/zz-flush.parquet")
            deadline = time.time() + 120
            while True:
                log.poll()
                last = log.batches[max(log.batches)]
                if log.rows() > n_real and last["numInputRows"] == 0:
                    break
                if time.time() > deadline:
                    raise TimeoutError("final windows were not emitted")
                time.sleep(0.05)
            log.merge_recent()
            if self.trace:
                self._tasks_per_batch(q, log)
        finally:
            q.stop()
        self.layer["loadgen.sent_lines"] = n_real - measured_lo
        self.layer["loadgen.late_p99_ms"] = pct(late, 99) * 1e3
        self.layer["loadgen.flood_send_lps"] = _send_lps(bursts)
        with self.tracer.span("check.output"):
            self._check_replay(log, ckpt, out, lines_all, event_us, due_us, file_of, drops,
                               warm_batch, measured_lo, paced_seqs, bursts)

    def _check_replay(self, log, ckpt, out, lines_all, event_us, due_us, file_of, drops,
                      warm_batch, lo, paced, bursts) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = len(lines_all)
        commits = commit_times(ckpt)
        name_batch = file_source_batches(ckpt)
        file_batch = np.array([name_batch.get(name, -1) for _, name in drops])
        seq_batch = file_batch[np.asarray(file_of)]
        missing = int((seq_batch < 0).sum())
        if missing:
            self.errors.append(f"{missing} replayed lines were never read by a batch")
        self._latency_and_drain(commits, seq_batch, np.asarray(due_us), paced, bursts)

        out_files = [f for fs in sink_batches(out).values() for f in fs]
        got = []
        if out_files:
            tbl = pq.read_table([p for p, _ in out_files]).drop_columns(["window_end"])
            starts = tbl.column("window_start").cast(pa.timestamp("us")).cast(pa.int64())
            tbl = tbl.set_column(0, "window_start", starts)
            got = [tuple(r.values()) for r in tbl.to_pylist()]
        n_diff, msgs = compare_rows(got, replay_oracle_rows(lines_all, event_us), "replay window aggregates")
        self.errors += msgs
        n_out = sum(r[3] for r in got)
        self.attempted = n - lo
        self.failed = n_diff
        lost = max(0, n - n_out)
        self.layer["check.lost_ratio"] = lost / n
        self.layer["check.dup_ratio"] = max(0, n_out - n) / n
        self.info["dialect_mix"] = dialect_shares(self.gen, n)
        self._layer_from_batches(log, warm_batch, seq_batch,
                                 np.asarray([t for t, _ in drops])[np.asarray(file_of)])
        self.layer["sink.files"] = len(out_files)
        self.layer["sink.bytes_per_line"] = sum(size for _, size in out_files) / n
        self.layer["syslog_source.listener_lost_lines"] = n + 1 - log.rows()


def _round_sizes(cfg: dict, seconds: float) -> tuple[int, int]:
    """Lines of one round's paced stretch and of its flood burst."""
    return int(cfg["rate"] * 0.6 * seconds / ROUNDS), int(cfg["flood_lps"] * seconds / ROUNDS / 2)


def _send_lps(bursts) -> float:
    """Flood lines over the time spent writing them."""
    return sum(end - first for first, end, _, _ in bursts) / max(
        sum(t_last - t_first for _, _, t_first, t_last in bursts), 1e-9)


def replay_aggregate(parsed, F, sd_map_expr):
    """The replay's watermarked window aggregate. It keeps
    ``windowed_severity_counts``' shape (tumbling window on received_ts,
    watermark, severity key), adds host to the key, and aggregates every
    other parsed column and the structured-data map, so no part of the
    parse can be pruned away."""
    sd = sd_map_expr("raw")

    def nbytes(c):
        return F.sum(F.octet_length(c))

    parsed = parsed.withColumn("sd", sd)
    return (
        parsed.withWatermark("received_ts", REPLAY_WATERMARK)
        .groupBy(F.window("received_ts", REPLAY_WINDOW).alias("win"), "host", "severity")
        .agg(
            F.count("*").alias("n"),
            F.sum("pri").alias("pri_sum"),
            F.sum("facility").alias("facility_sum"),
            F.sum("version").alias("version_sum"),
            F.count("ts").alias("ts_n"),
            F.sum(F.unix_seconds("ts")).alias("ts_sec_sum"),
            F.count("app").alias("app_n"), nbytes("app").alias("app_bytes"),
            F.count("procid").alias("procid_n"), nbytes("procid").alias("procid_bytes"),
            F.count("msgid").alias("msgid_n"), nbytes("msgid").alias("msgid_bytes"),
            F.count("msg").alias("msg_n"), nbytes("msg").alias("msg_bytes"),
            nbytes("raw").alias("raw_bytes"),
            F.sum(F.when(F.col("sd").isNull(), 0).otherwise(F.size("sd"))).alias("sd_params"),
            F.sum(F.coalesce(F.aggregate(
                F.map_entries("sd"), F.lit(0),
                lambda acc, e: acc + F.octet_length(e["key"]) + F.octet_length(e["value"]),
            ), F.lit(0))).alias("sd_bytes"),
        )
        .select(F.col("win.start").alias("window_start"), F.col("win.end").alias("window_end"),
                "host", "severity", "n", "pri_sum", "facility_sum", "version_sum", "ts_n",
                "ts_sec_sum", "app_n", "app_bytes", "procid_n", "procid_bytes", "msgid_n",
                "msgid_bytes", "msg_n", "msg_bytes", "raw_bytes", "sd_params", "sd_bytes")
    )


def replay_oracle_rows(lines: list[str], event_us: list[int]) -> list[tuple]:
    """The DuckDB twin of :func:`replay_aggregate` over the same lines:
    ``oracle_sql_for_lines`` for the parse, the structured-data regexes of
    ``sources.syslog_parse`` for the map, grouped the same way. Rows are
    (window start µs, host, severity, aggregates...)."""
    import duckdb
    import pyarrow as pa

    from syslog_kafka_spark.sources.syslog_parse import (
        RFC5424_RE, SD_ELEMENT_RE, SD_ID_RE, SD_PARAM_RE, oracle_sql_for_lines,
    )

    replay_lines = pa.table({"line": lines, "event_us": pa.array(event_us, pa.int64())})  # noqa: F841
    r5424 = RFC5424_RE.replace("'", "''")
    window_us = 60_000_000
    sql = f"""
        WITH parsed AS ({oracle_sql_for_lines("(SELECT line FROM replay_lines) AS t(line)")}),
        sdm AS (
          SELECT line, nullif(nullif(regexp_extract(line, '{r5424}', 8), ''), '-') AS sdr
          FROM replay_lines
          WHERE regexp_matches(line, '^<[0-9]{{1,3}}>[0-9]{{1,2}} ')
            AND TRY_CAST(regexp_extract(line, '{r5424}', 1) AS INT) <= 191
        ),
        elems AS (
          SELECT line, unnest(regexp_extract_all(sdr, '{SD_ELEMENT_RE}', 1)) AS e
          FROM sdm WHERE sdr IS NOT NULL
        ),
        params AS (
          SELECT line, regexp_extract(e, '{SD_ID_RE}', 1) AS sd_id,
                 unnest(regexp_extract_all(e, '{SD_PARAM_RE}', 0)) AS p
          FROM elems
        ),
        sd AS (
          SELECT line, count(*) AS n_params,
                 sum(strlen(sd_id || '/' || split_part(p, '=', 1))
                     + strlen(regexp_extract(p, '"(.*)"', 1))) AS sd_bytes
          FROM params GROUP BY line
        ),
        j AS (
          SELECT p.*, l.event_us, coalesce(sd.n_params, 0) AS n_params,
                 coalesce(sd.sd_bytes, 0) AS sd_bytes
          FROM parsed p JOIN replay_lines l ON p.raw = l.line LEFT JOIN sd ON sd.line = p.raw
        )
        SELECT (event_us // {window_us}) * {window_us} AS ws, host, severity,
               count(*), CAST(sum(pri) AS BIGINT), CAST(sum(facility) AS BIGINT),
               CAST(sum(version) AS BIGINT), count(ts), CAST(sum(epoch_us(ts) // 1000000) AS BIGINT),
               count(app), CAST(sum(strlen(app)) AS BIGINT),
               count(procid), CAST(sum(strlen(procid)) AS BIGINT),
               count(msgid), CAST(sum(strlen(msgid)) AS BIGINT),
               count(msg), CAST(sum(strlen(msg)) AS BIGINT), CAST(sum(strlen(raw)) AS BIGINT),
               CAST(sum(n_params) AS BIGINT), CAST(sum(sd_bytes) AS BIGINT)
        FROM j GROUP BY ALL
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()
