"""The replication workload, driven through the package's public entry
points only:

    ReplicationFeeder.pump           (sources: socket -> landing files)
    pgoutput_envelope_stream         (streaming: decode, keyed txn state, join)
    kafka_shaped + kafka_sink_batch  (sinks: envelope -> ProduceRequests)

One pipeline runs two phases after its warm-up:

live      open loop at a fixed event rate: commit-to-broker latency.
backlog   a pre-queued backlog of large transactions, drained as fast
          as possible: the catch-up rate.

Each phase's events are followed by unmeasured ``<phase>.tail``
transactions, as on a primary that keeps writing, until every frame of
the phase has landed. Then the primary goes idle (keepalives only; never
an EOF that would flush the feeder) and the phase ends with a bounded
drain. An event of a measured phase counts as failed when it has not
reached the broker by the end of its phase's drain. Tail events are
content-checked when they arrive but are not operations: the feeder
holds frames below its 64-frame landing threshold until more WAL comes,
so the last tail frames before an idle stretch never land; the traced
run counts them as ``sources.feeder.stranded_frames``. A traced run adds
a traced live phase and traces the backlog phase.
"""

from __future__ import annotations

import json
import os
import socket
import struct
import threading
import time

import check
import loadproc
import wire
from common import pct, wait_until

LIVE_RATE = 50  # events/s; about a quarter of the measured catch-up rate
#: backlog size: its 1956 frames, behind at most 63 frames the feeder
#: still holds from the phase before, fill at most 32 landing files of
#: 64 frames, so with MAX_FILES_PER_TRIGGER it always drains in exactly
#: two micro-batches; its largest transaction (45%) spans both
BACKLOG_EVENTS = 1950
SETUP_REPS = 3
WARMUP_BATCHES = 2
DRAIN_MAX_S = 60.0
#: landing is over once no file has appeared for this long
LANDING_QUIET_S = 0.2
#: file-source rate limit: keeps catch-up batches a fixed size, so the
#: largest backlog transaction always spans several micro-batches
MAX_FILES_PER_TRIGGER = 16
N_PARTITIONS = 4
TOPIC_PREFIX = "timescaledb"


class TimedSocket:
    """Socket wrapper that records how long each recv() blocked."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.waits: list[tuple[float, float]] = []

    def recv(self, n: int) -> bytes:
        t0 = time.time()
        data = self.sock.recv(n)
        self.waits.append((t0, time.time()))
        return data

    def sendall(self, data: bytes) -> None:
        self.sock.sendall(data)

    def close(self) -> None:
        self.sock.close()

    def blocked_in(self, t0: float, t1: float) -> float:
        return sum(max(0.0, min(b, t1) - max(a, t0)) for a, b in self.waits)


def relation_catalog_df(spark):
    """The relid -> table map, decoded by the package from R frames
    the benchmark writes itself."""
    from timescaledb_event_streamer_spark.sources.pgoutput import relation_catalog

    rows = []
    for relid, name in zip(loadproc.RELIDS, loadproc.TABLES):
        r = wire.relation(relid, "public", name, loadproc.COLUMNS)
        rows.append(((b"w" + struct.pack(">QQQ", 0, 0, 0) + r).hex().upper(),))
    return relation_catalog(spark.createDataFrame(rows, "frame string"))


class Pipeline:
    """One replication session: feeder thread + streaming query."""

    def __init__(self, ctx, catalog, rep: int):
        self.ctx = ctx
        self.catalog = catalog
        self.landing = os.path.join(ctx.work, f"landing{rep}")
        self.ckpt = os.path.join(ctx.work, f"ckpt{rep}")
        self.rep = rep
        self.tracer = None  # set for the traced window
        #: traced batches: (start, rows, decode+attach s, sink s)
        self.batches: list[tuple[float, int, float, float]] = []
        self.pump_error: BaseException | None = None
        self.old_progress: list[dict] = []  # of queries stopped for a restart
        self.sink_error: BaseException | None = None

    def start(self) -> None:
        from timescaledb_event_streamer_spark.sources.pg_replication import ReplicationFeeder

        os.makedirs(self.landing)
        self.conn = TimedSocket(socket.create_connection(self.ctx.load.walsender))
        self.feeder = ReplicationFeeder(
            self.conn, landing_dir=self.landing,
            slot_name=f"bench_slot_{self.rep}", publication="bench_pub")
        self.feeder.authenticate("bench", "bench")
        self.feeder.handshake()
        self.thread = threading.Thread(target=self._pump, daemon=True)
        self.thread.start()
        self.start_query()

    def start_query(self) -> None:
        """Start (or restart from its checkpoint) the streaming query and
        wait until it waits for data."""
        from pyspark.sql import functions as F

        from timescaledb_event_streamer_spark.sinks.writers import kafka_shaped
        from timescaledb_event_streamer_spark.sources.pgoutput import pgoutput_envelope_stream

        src = (
            self.ctx.spark.readStream.format("text").schema("value string")
            # only renamed (complete) landing files: the feeder's .tmp
            # names are not hidden from the file source
            .option("pathGlobFilter", "*.txt")
            .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
            .load(self.landing)
            .select(F.col("value").alias("frame"))
        )
        shaped = kafka_shaped(pgoutput_envelope_stream(src, self.catalog, topic_prefix=TOPIC_PREFIX))
        self.query = (
            shaped.writeStream.queryName(f"bench_cdc_{self.rep}")
            .foreachBatch(self._sink)
            .option("checkpointLocation", self.ckpt)
            .start()
        )
        if not wait_until(lambda: self.query.status["message"] == "Waiting for data to arrive"
                          or self.query.exception() is not None, 60, 0.01):
            raise RuntimeError(f"query did not start: {self.query.status}")
        self.check_alive()

    def _pump(self) -> None:
        try:
            self.feeder.pump()
        except BaseException as e:  # noqa: BLE001 - reported by the caller
            self.pump_error = e

    def _sink(self, batch, batch_id: int) -> None:
        from timescaledb_event_streamer_spark.sinks.kafka_delivery import kafka_sink_batch

        broker = self.ctx.load.broker
        tr = self.tracer
        try:
            if tr is None:
                kafka_sink_batch(batch, broker, n_partitions=N_PARTITIONS)
                return
            t0 = time.time()
            with tr.span("streaming.foreach_batch", trace=f"batch-{self.rep}-{batch_id}"):
                with tr.span("streaming.decode_attach"):
                    cached = batch.persist()
                    rows = cached.count()
                t1 = time.time()
                with tr.span("sinks.kafka_sink_batch"):
                    kafka_sink_batch(cached, broker, n_partitions=N_PARTITIONS)
                cached.unpersist()
            self.batches.append((t0, rows, t1 - t0, time.time() - t1))
        except BaseException as e:
            self.sink_error = e
            raise

    def processed_frames(self) -> int:
        return sum(p["numInputRows"] for p in self.progress())

    def progress(self) -> list[dict]:
        return self.old_progress + [json.loads(p.json) for p in self.query.recentProgress]

    def landed(self) -> dict[str, tuple[float, list[int]]]:
        """{file: (mtime, [wal_start of each frame])} of complete files."""
        out = {}
        for name in sorted(os.listdir(self.landing)):
            if not name.endswith(".txt"):
                continue
            path = os.path.join(self.landing, name)
            with open(path) as fh:
                starts = [int(line[2:18], 16) for line in fh if line.strip()]
            out[name] = (os.stat(path).st_mtime, starts)
        return out

    def landed_through(self, wal_start: int) -> bool:
        """Whether the frame at ``wal_start`` (and every one before it)
        is in a complete landing file; files land in LSN order."""
        names = sorted(n for n in os.listdir(self.landing) if n.endswith(".txt"))
        if not names:
            return False
        with open(os.path.join(self.landing, names[-1])) as fh:
            last = fh.read().rstrip("\n").rsplit("\n", 1)[-1]
        return int(last[2:18], 16) >= wal_start

    def until_landed(self, phase: str) -> None:
        """Wait until every frame of ``phase`` has landed, then idle."""
        last = self.ctx.load.status()["last_frame"][phase]

        def landed() -> bool:
            self.check_alive()
            return self.landed_through(last)

        if not wait_until(landed, DRAIN_MAX_S, 0.05):
            raise RuntimeError(f"frames of phase {phase} did not land")
        self.ctx.load.send("idle")

    def landed_count(self) -> int:
        return sum(len(v[1]) for v in self.landed().values())

    def check_alive(self) -> None:
        err = self.query.exception() if not self.query.isActive else None
        for e in (self.pump_error, self.sink_error, err):
            if e is not None:
                raise RuntimeError(f"pipeline failed: {e}")

    def landing_quiet(self) -> int:
        """Wait until no landing file has appeared for LANDING_QUIET_S;
        returns the landed frame count."""
        seen = {"n": -1, "t": time.time()}

        def quiet() -> bool:
            self.check_alive()
            n = self.landed_count()
            if n != seen["n"]:
                seen["n"], seen["t"] = n, time.time()
            return time.time() - seen["t"] >= LANDING_QUIET_S

        if not wait_until(quiet, DRAIN_MAX_S, 0.05):
            raise RuntimeError("landing did not stop")
        return seen["n"]

    def drain(self) -> None:
        """Wait until landing has stopped and every landed frame has gone
        through a completed micro-batch; frames the feeder still holds
        never will."""
        landed = self.landing_quiet()

        def done() -> bool:
            self.check_alive()
            return not self.query.status["isTriggerActive"] and self.processed_frames() >= landed

        if not wait_until(done, DRAIN_MAX_S, 0.1):
            raise RuntimeError(f"drain did not finish: processed {self.processed_frames()} "
                               f"of {landed} landed frames")

    def stop_query(self) -> None:
        self.old_progress = self.progress()
        self.query.stop()


def setup_pipelines(ctx, catalog) -> "Pipeline":
    pipe = None
    for rep in range(SETUP_REPS):
        if pipe is not None:
            pipe.stop_query()
            ctx.load.send("drop")
            pipe.thread.join(timeout=30)
            pipe.conn.close()
        t0 = time.perf_counter()
        pipe = Pipeline(ctx, catalog, rep)
        pipe.start()
        ctx.setup_reps.append(time.perf_counter() - t0)
    return pipe


def run(ctx) -> dict:
    pipe = setup_pipelines(ctx, relation_catalog_df(ctx.spark))
    # warm-up: WARMUP_BATCHES micro-batches (python workers, code
    # generation, state stores, JIT), each of one transaction that fills
    # the feeder's current landing file. The live phase then starts from
    # an idle query and an empty feeder buffer, so its micro-batches line
    # up with its window.
    for _ in range(WARMUP_BATCHES):
        ctx.load.send(f"pad warmup {pipe.feeder.frames_per_file}")
        pipe.until_landed("warmup")
        pipe.drain()
    windows: dict[str, tuple[float, float]] = {}  # phase -> (start, drained)
    # a traced run skips the untraced backlog to stay well inside its time
    # limit; its overhead figure comes from the two live phases
    phases = ("live", "live_traced", "backlog_traced") if ctx.trace else ("live", "backlog")
    for phase in phases:
        pipe.tracer = ctx.tracer if phase.endswith("_traced") else None
        t0 = time.time()
        if phase.startswith("live"):
            ctx.load.send(f"rate {phase} {LIVE_RATE}")
            while time.time() < t0 + ctx.seconds:
                pipe.check_alive()
                time.sleep(0.2)
            ctx.load.send(f"rate {phase}.tail {LIVE_RATE}")
            pipe.until_landed(phase)
        else:
            # the consumer restarts behind a lagging slot: the backlog
            # streams in while the query starts, as after downtime
            pipe.stop_query()
            ctx.load.send(f"backlog {phase} {BACKLOG_EVENTS} {LIVE_RATE}")
            pipe.until_landed(phase)
            pipe.start_query()
        pipe.drain()
        windows[phase] = (t0, time.time())
    landed = pipe.landed()
    progress = pipe.progress()
    pipe.stop_query()
    path = os.path.join(ctx.work, "load")
    ctx.load.stop(path)
    pipe.thread.join(timeout=30)
    pipe.conn.close()
    return analyse(ctx, pipe, path, landed, progress, windows)


def analyse(ctx, pipe, path, landed, progress, windows) -> dict:
    with open(path + ".json") as fh:
        sent = json.load(fh)
    if sent["error"]:
        raise RuntimeError(sent["error"])
    txns = sent["txns"]
    expected = check.expected_cdc(txns, sent["tables"], TOPIC_PREFIX)
    got = check.check_cdc(check.read_requests(path + ".bin"), expected)  # raises on a mismatch
    first = got["first_receipt"]
    # each phase's events must arrive by the end of its drain; warm-up
    # events by the end of the first one
    deadline = {p: w[1] for p, w in windows.items()}
    deadline["warmup"] = windows["live"][1]

    def receipts(phase):
        out = []
        for t in txns:
            if t["phase"] != phase:
                continue
            for r in t["rows"]:
                rt = first.get((f"{TOPIC_PREFIX}.public.{sent['tables'][r[0]]}", r[1]))
                out.append((t, rt if rt is not None and rt <= deadline[phase] else None))
        return out

    measured = [rt for p in deadline for _t, rt in receipts(p)]
    out = {"attempted": len(measured), "failed": measured.count(None), "metrics": {}}

    def live(phase):
        rows = receipts(phase)
        lat = [rt - t["sched"] for t, rt in rows if rt is not None]
        return {"latency_p50_s": pct(lat, 50), "latency_p99_s": pct(lat, 99)}

    def catchup(phase):
        rows = receipts(phase)
        t0 = min(t["send_start"] for t, _rt in rows)
        t_last = max(rt for _t, rt in rows if rt is not None)
        return sum(1 for _t, rt in rows if rt is not None) / (t_last - t0), (t0, t_last)

    m = live("live")
    if not ctx.trace:
        m["throughput_per_s"], _ = catchup("backlog")
        out["metrics"] = m
        return out

    lw0, lw1 = windows["live_traced"]
    mt = live("live_traced")
    _thr, (bw0, bw1) = catchup("backlog_traced")
    # positive: the traced phase was slower
    layer = {"tracing.overhead_frac": (mt["latency_p50_s"] - m["latency_p50_s"]) / m["latency_p50_s"]}
    # -- sources ----------------------------------------------------------
    land_time = {ws: mtime for mtime, starts in landed.values() for ws in starts}
    sess = max(a[0] for a in sent["acks"])
    frames = [(ws, ln, t["sent"], t["phase"]) for t in txns for ws, ln in t["frames"]]
    frames += [(ws, ln, ts, "rel") for s, ts, ws, ln in sent["rel_frames"] if s == sess]
    waits = [land_time[ws] - ts for ws, _ln, ts, ph in frames
             if ph == "live_traced" and ws in land_time]
    layer["sources.feeder.landing_wait_p50_s"] = pct(waits, 50)
    layer["sources.feeder.stranded_frames"] = sum(
        1 for ws, _ln, ts, _ph in frames if ts <= lw1 and land_time.get(ws, float("inf")) > lw1)
    ahead = 0
    for s, t_ack, lsn in sent["acks"]:
        if s == sess and t_ack <= lw1:
            ahead = max(ahead, sum(1 for ws, ln, _ts, _ph in frames
                                   if ws + ln <= lsn - 1 and land_time.get(ws, float("inf")) > t_ack))
    layer["sources.feeder.ack_ahead_frames_max"] = ahead
    layer["sources.feeder.busy_s"] = (bw1 - bw0) - pipe.conn.blocked_in(bw0, bw1)
    files = [starts for mtime, starts in landed.values() if bw0 <= mtime <= bw1]
    layer["sources.feeder.frames_landed"] = sum(map(len, files))
    layer["sources.feeder.frames_per_file"] = sum(map(len, files)) / max(len(files), 1)
    # -- streaming ----------------------------------------------------------

    def in_window(p, w0, w1):
        return p["numInputRows"] > 0 and w0 <= check.iso_ts(p["timestamp"]) <= w1

    live_b = [p for p in progress if in_window(p, lw0, lw1)]
    catch_b = [p for p in progress if in_window(p, bw0, bw1)]
    for key, name in (("triggerExecution", "trigger"), ("getBatch", "get_batch"),
                      ("latestOffset", "latest_offset"), ("queryPlanning", "query_planning"),
                      ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets")):
        layer[f"streaming.{name}_s_p50"] = pct([p["durationMs"].get(key, 0) / 1e3 for p in live_b], 50)
    layer["streaming.state_commit_s_p50"] = pct(
        [sum(o.get("commitTimeMs", 0) for o in p["stateOperators"]) / 1e3 for p in live_b], 50)
    layer["streaming.idle_frac"] = max(0.0, 1.0 - sum(
        p["durationMs"]["triggerExecution"] for p in live_b) / 1e3 / (lw1 - lw0))
    layer["streaming.rows_per_batch_p50"] = pct([p["numInputRows"] for p in catch_b], 50)
    layer["streaming.batches"] = len(catch_b)
    last = progress[-1]["stateOperators"] if progress else []
    layer["streaming.state_rows_total"] = sum(o.get("numRowsTotal", 0) for o in last)
    layer["streaming.state_memory_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in last)
    cb = [b for b in pipe.batches if bw0 <= b[0] <= bw1]
    layer["streaming.decode_attach_s_per_krow"] = (
        sum(b[2] for b in cb) / max(sum(b[1] for b in cb), 1) * 1000)
    live_rows = receipts("live_traced")
    t_end = max(t["sched"] for t, _rt in live_rows)
    layer["streaming.backlog_frames_end"] = sum(
        1 for t, rt in live_rows if rt is None or rt > t_end)
    layer["loadgen.late_p99_s"] = pct(
        [t["send_start"] - t["sched"] for t in txns if t["phase"] == "live_traced"], 99)
    # -- sinks ----------------------------------------------------------------
    lb = [b for b in pipe.batches if lw0 <= b[0] <= lw1]
    layer["sinks.kafka_sink_batch_s_p50"] = pct([b[3] for b in lb], 50)
    layer.update(check.broker_layer(got, sent["connections"], bw0, bw1, len(cb)))
    layer["sinks.connections_per_batch"] = sum(
        1 for c in sent["connections"] if lw0 <= c <= lw1) / max(len(lb), 1)
    out["layer"] = layer
    return out
