"""The benchmark's load process: a walsender and a Kafka broker.

Runs as its own process, apart from the system under test, with three
threads (control, walsender, broker), so it never uses more than
``nproc`` threads. It imports nothing from the package under test.

The walsender speaks protocol v3 with trust authentication, answers
IDENTIFY_SYSTEM / CREATE_REPLICATION_SLOT / START_REPLICATION the way
the repository's golden session does (no ReadyForQuery after a reply),
then streams pgoutput v1 transactions on commands from stdin:

    rate <phase> <events_per_s>       open loop: 10-row transactions due
                                      at fixed times, whatever the client does
    backlog <phase> <events> <ev/s>   queue large transactions and send them
                                      at once, then a burst of TAIL_BURST_TXNS
                                      and an open loop at <ev/s>, both in
                                      phase <phase>.tail (a primary that
                                      keeps writing behind the backlog)
    pad <phase> <frames>              one transaction that brings the
                                      session's frame count to a multiple
                                      of <frames>, then idle
    idle                              keepalives only (an idle primary)
    drop                              close the current session
    status                            one JSON line: the wal_start of each
                                      phase's last frame, taken after every
                                      earlier command
    stop <path>                       dump everything to <path>, exit

The broker accepts any number of connections on one selector thread,
timestamps each ProduceRequest when its last byte arrives, keeps the
raw bytes and acknowledges at once; records are decoded and CRC-checked
by ``check.py`` after the timed window.
"""

from __future__ import annotations

import json
import queue
import random
import select
import selectors
import socket
import struct
import sys
import threading
import time

import wire

ROWS_PER_TXN = 10
KEEPALIVE_S = 1.0
#: 10-row transactions sent right behind a backlog: 72 frames, more than
#: the feeder's 64-frame landing threshold, so the backlog's last frames
#: land without waiting for the open loop
TAIL_BURST_TXNS = 6
#: the eight hypertables the transactions spread over
TABLES = ("cpu", "memory", "disk_io", "network", "sensors", "trades", "clicks", "meters")
RELIDS = tuple(16384 + 97 * i for i in range(len(TABLES)))
COLUMNS = [(1, "user_id", 20), (0, "value_cents", 20), (0, "props", 25)]


class TxnGen:
    """Seeded transaction source. Every row carries what the envelope
    must show: table, LSN, op, key, after values, xid and commit time."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.lsn = 0x1_0000_0000 + self.rng.randrange(1 << 20) * 8
        self.xid = 5000 + self.rng.randrange(100_000)
        self.ts_us = 1_704_067_200_000_000 + self.rng.randrange(10**12)
        self.pad = self.rng.randbytes(2048).hex()

    def _props(self) -> str:
        # log-uniform 10..2000 characters, with JSON quoting inside
        n = int(10 ** self.rng.uniform(1.0, 3.3))
        off = self.rng.randrange(len(self.pad) - n)
        return json.dumps({"k": self.rng.randrange(1000), "note": 'say "hi"',
                           "pad": self.pad[off : off + n]})

    def txn(self, n_rows: int) -> tuple[bytes, dict]:
        rng = self.rng
        self.xid += 1
        self.ts_us += rng.randrange(1, 50_000)
        commit_pg = self.ts_us - wire.PG_EPOCH_US
        rows, payloads = [], []
        lsn = self.lsn + 64  # B sits at self.lsn
        for _ in range(n_rows):
            t = rng.randrange(len(TABLES))
            r = rng.random()
            op = "c" if r < 0.6 else ("u" if r < 0.85 else "d")
            uid = rng.randrange(100_000)
            cents = rng.randrange(-10**6, 10**9)
            props = self._props()
            new = [str(uid), str(cents), props]
            if op == "c":
                p = wire.insert(RELIDS[t], new)
            elif op == "u":
                p = wire.update(RELIDS[t], [str(uid), None, None], new)
            else:
                p = wire.delete(RELIDS[t], [str(uid), None, None])
            payloads.append((lsn, p))
            rows.append([t, lsn, op, uid, cents, None if op == "d" else props])
            lsn += len(p) + 24
        commit_lsn = lsn
        c = wire.commit(commit_lsn, commit_lsn + 26, commit_pg)
        frames = [(self.lsn, wire.begin(commit_lsn, commit_pg, self.xid))]
        frames += payloads + [(commit_lsn, c)]
        clock = int(time.time() * 1e6) - wire.PG_EPOCH_US
        out = b"".join(
            wire.xlogdata(ws, ws + len(p), clock, p) for ws, p in frames
        )
        meta = {
            "xid": self.xid,
            "ts_us": self.ts_us,
            "rows": rows,
            "frames": [[ws, len(p)] for ws, p in frames],
        }
        self.lsn = commit_lsn + 26 + 40
        return out, meta


class Walsender:
    def __init__(self, seed: int):
        self.gen = TxnGen(seed)
        self.sock = socket.create_server(("127.0.0.1", 0))
        self.port = self.sock.getsockname()[1]
        self.cmds: queue.Queue = queue.Queue()
        self.lock = threading.Lock()
        self.txns: list[dict] = []
        self.rel_frames: list[list] = []  # [session, sent_t, wal_start, len]
        self.acks: list[list] = []  # [session, t, write_lsn]
        self.last_frame: dict[str, int] = {}  # phase -> wal_start of its last frame
        self.session_frames = 0
        self.session = 0
        self.stopping = False
        self.error: str | None = None

    # -- handshake --------------------------------------------------------
    def _recv_msg(self, conn, buf: bytes, typed: bool = True):
        while True:
            if typed:
                m = wire.read_frontend(buf)
                if m:
                    return m
            elif len(buf) >= 4:
                (n,) = struct.unpack_from(">I", buf, 0)
                if len(buf) >= n:
                    return b"", buf[4:n], buf[n:]
            chunk = conn.recv(65536)
            if not chunk:
                raise ConnectionError("client closed")
            buf += chunk

    def _handshake(self, conn) -> bytes:
        _t, _startup, buf = self._recv_msg(conn, b"", typed=False)
        conn.sendall(wire.auth_ok_ready())
        while True:
            mtype, body, buf = self._recv_msg(conn, buf)
            sql = body.rstrip(b"\x00").decode()
            if sql == "IDENTIFY_SYSTEM":
                conn.sendall(wire.simple_reply(
                    [("systemid", 25), ("timeline", 23), ("xlogpos", 3220), ("dbname", 25)],
                    ["7284066390163781250", "1", wire.lsn_text(self.gen.lsn), "bench"],
                    "IDENTIFY_SYSTEM"))
            elif sql.startswith("CREATE_REPLICATION_SLOT"):
                conn.sendall(wire.simple_reply(
                    [("slot_name", 25), ("consistent_point", 3220),
                     ("snapshot_name", 25), ("output_plugin", 25)],
                    [sql.split()[1], wire.lsn_text(self.gen.lsn), None, "pgoutput"],
                    "CREATE_REPLICATION_SLOT"))
            elif sql.startswith("START_REPLICATION"):
                conn.sendall(wire.copy_both_response())
                return buf
            else:
                raise ConnectionError(f"unexpected query {sql!r}")

    def snapshot(self) -> dict:
        with self.lock:
            return {"last_frame": dict(self.last_frame)}

    # -- streaming ----------------------------------------------------------
    def _send_txn(self, conn, n_rows: int, phase: str, sched: float) -> None:
        data, meta = self.gen.txn(n_rows)
        meta["phase"] = phase
        meta["sched"] = sched
        meta["send_start"] = time.time()
        conn.sendall(data)
        meta["sent"] = time.time()
        self.session_frames += len(meta["frames"])
        with self.lock:
            self.txns.append(meta)
            self.last_frame[phase] = meta["frames"][-1][0]

    def _stream(self, conn, buf: bytes) -> None:
        sess = self.session
        now = time.time()
        clock = int(now * 1e6) - wire.PG_EPOCH_US
        rel = b""
        for relid, name in zip(RELIDS, TABLES):
            p = wire.relation(relid, "public", name, COLUMNS)
            ws = self.gen.lsn
            rel += wire.xlogdata(ws, ws, clock, p)
            self.rel_frames.append([sess, now, ws, len(p)])
            self.gen.lsn += len(p) + 16
        conn.sendall(rel)
        self.session_frames = len(RELIDS)
        phase, txn_rate, due = None, 0.0, 0.0
        next_ka = time.time() + KEEPALIVE_S
        while not self.stopping:
            try:
                cmd = self.cmds.get_nowait()
            except queue.Empty:
                cmd = None
            if cmd:
                if cmd[0] == "drop":
                    return
                if cmd[0] == "status":
                    cmd[1].put(self.snapshot())
                elif cmd[0] == "idle":
                    phase = None
                elif cmd[0] == "pad":
                    # n rows make n + 2 frames (with BEGIN and COMMIT)
                    rows = (-self.session_frames - 2) % cmd[2] or cmd[2]
                    self._send_txn(conn, rows, cmd[1], time.time())
                    phase = None
                elif cmd[0] == "rate":
                    # a switch between open-loop phases keeps the schedule
                    due = time.time() if phase is None else due
                    phase, txn_rate = cmd[1], cmd[2] / ROWS_PER_TXN
                elif cmd[0] == "backlog":
                    for size in backlog_sizes(cmd[2]):
                        self._send_txn(conn, size, cmd[1], time.time())
                    phase, txn_rate = f"{cmd[1]}.tail", cmd[3] / ROWS_PER_TXN
                    for _ in range(TAIL_BURST_TXNS):
                        self._send_txn(conn, ROWS_PER_TXN, phase, time.time())
                    due = time.time() + 1.0 / txn_rate
            now = time.time()
            if phase is not None and now >= due:
                self._send_txn(conn, ROWS_PER_TXN, phase, due)
                due += 1.0 / txn_rate
                continue
            if now >= next_ka:
                clock = int(now * 1e6) - wire.PG_EPOCH_US
                conn.sendall(wire.keepalive(self.gen.lsn, clock, True))
                next_ka = now + KEEPALIVE_S
            wake = min(next_ka, due if phase is not None else next_ka, now + 0.05)
            r, _, _ = select.select([conn], [], [], max(0.0, wake - time.time()))
            if r:
                chunk = conn.recv(65536)
                if not chunk:
                    return
                buf += chunk
                while True:
                    m = wire.read_frontend(buf)
                    if m is None:
                        break
                    mtype, body, buf = m
                    if mtype == b"d":
                        lsn = wire.standby_status_lsn(body)
                        if lsn is not None:
                            self.acks.append([sess, time.time(), lsn])
                    elif mtype == b"X":
                        return

    def serve(self) -> None:
        self.sock.settimeout(0.2)
        while not self.stopping:
            try:
                conn, _ = self.sock.accept()
            except socket.timeout:
                continue
            self.session += 1
            try:
                conn.settimeout(None)
                self._stream(conn, self._handshake(conn))
            except (ConnectionError, OSError) as e:
                if not self.stopping:
                    self.error = f"walsender session {self.session}: {e}"
            finally:
                conn.close()
                # a dropped session's pending commands do not leak into the next
                while not self.cmds.empty():
                    cmd = self.cmds.get_nowait()
                    if cmd[0] == "status":
                        cmd[1].put(self.snapshot())


def backlog_sizes(n_events: int) -> list[int]:
    """Large transactions: 45% of the backlog in one, the rest in
    transactions of 250..1000 rows."""
    sizes = [max(1, int(n_events * 0.45))]
    left = n_events - sizes[0]
    k = 0
    while left > 0:
        s = min(left, (250, 1000, 500, 750)[k % 4])
        sizes.append(s)
        left -= s
        k += 1
    # the big one second, so it starts mid-stream
    sizes[0], sizes[1] = sizes[1], sizes[0]
    return sizes


class Broker:
    def __init__(self):
        self.sock = socket.create_server(("127.0.0.1", 0))
        self.port = self.sock.getsockname()[1]
        self.sel = selectors.DefaultSelector()
        self.requests: list[tuple[float, float, bytes]] = []
        self.connections: list[float] = []
        self.offsets: dict[tuple[str, int], int] = {}
        self.stopping = False
        self.error: str | None = None

    def _handle(self, conn, buf: bytearray) -> None:
        while len(buf) >= 4:
            (size,) = struct.unpack_from(">i", buf, 0)
            if len(buf) < 4 + size:
                return
            t_recv = time.time()
            body = bytes(buf[4 : 4 + size])
            del buf[: 4 + size]
            api, corr, topics = wire.produce_header(body)
            if api != 0:
                raise ConnectionError(f"unsupported api key {api}")
            results = []
            for topic, parts in topics:
                acked = []
                for partition, off, _len in parts:
                    n = wire.batch_record_count(body, off)
                    base = self.offsets.get((topic, partition), 0)
                    self.offsets[(topic, partition)] = base + n
                    acked.append((partition, base))
                results.append((topic, acked))
            conn.sendall(wire.produce_response(corr, results))
            self.requests.append((t_recv, time.time(), body))

    def serve(self) -> None:
        self.sock.setblocking(False)
        self.sel.register(self.sock, selectors.EVENT_READ, None)
        while not self.stopping:
            for key, _ in self.sel.select(timeout=0.2):
                if key.data is None:
                    conn, _ = self.sock.accept()
                    conn.setblocking(True)
                    self.connections.append(time.time())
                    self.sel.register(conn, selectors.EVENT_READ, bytearray())
                    continue
                conn, buf = key.fileobj, key.data
                try:
                    chunk = conn.recv(1 << 20)
                    if chunk:
                        buf += chunk
                        self._handle(conn, buf)
                        continue
                except (ConnectionError, OSError) as e:
                    self.error = f"broker: {e}"
                self.sel.unregister(conn)
                conn.close()


def main() -> int:
    seed = int(sys.argv[1])
    ws, br = Walsender(seed), Broker()
    threads = [threading.Thread(target=ws.serve, daemon=True),
               threading.Thread(target=br.serve, daemon=True)]
    for t in threads:
        t.start()
    print(json.dumps({"walsender": ws.port, "broker": br.port}), flush=True)
    for line in sys.stdin:
        parts = line.split()
        if not parts:
            continue
        cmd = parts[0]
        if cmd == "rate":
            ws.cmds.put(("rate", parts[1], float(parts[2])))
        elif cmd == "backlog":
            ws.cmds.put(("backlog", parts[1], int(parts[2]), float(parts[3])))
        elif cmd == "pad":
            ws.cmds.put(("pad", parts[1], int(parts[2])))
        elif cmd in ("idle", "drop"):
            ws.cmds.put((cmd,))
        elif cmd == "status":
            # answered by the session thread, so that it reflects every
            # command before it; without a session, read directly
            reply: queue.Queue = queue.Queue()
            ws.cmds.put(("status", reply))
            try:
                st = reply.get(timeout=10)
            except queue.Empty:
                st = ws.snapshot()
            print(json.dumps({**st, "error": ws.error or br.error}), flush=True)
        elif cmd == "stop":
            ws.stopping = br.stopping = True
            for t in threads:
                t.join(timeout=10)
            dump(parts[1], ws, br)
            print(json.dumps({"done": True}), flush=True)
            break
    ws.sock.close()
    br.sock.close()
    return 0


def dump(path: str, ws: Walsender, br: Broker) -> None:
    """Requests go to <path>.bin as [t_recv f64][t_ack f64][len u32][body];
    everything else to <path>.json."""
    with open(path + ".bin", "wb") as fh:
        for t_recv, t_ack, body in br.requests:
            fh.write(struct.pack(">ddI", t_recv, t_ack, len(body)) + body)
    with open(path + ".json", "w") as fh:
        json.dump({
            "txns": ws.txns,
            "rel_frames": ws.rel_frames,
            "acks": ws.acks,
            "connections": br.connections,
            "tables": list(TABLES),
            "error": ws.error or br.error,
        }, fh)


if __name__ == "__main__":
    sys.exit(main())
