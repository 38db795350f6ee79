"""Output checks, run after the timed window. Expectations come from
the benchmark's own generators and decoders, never from the package."""

from __future__ import annotations

import datetime
import json
import struct

import wire
from common import pct


def iso_ts(s: str) -> float:
    """Progress timestamp ('2024-01-01T00:00:00.000Z') -> epoch seconds."""
    return datetime.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def read_requests(path: str) -> list[tuple[float, float, bytes]]:
    out = []
    with open(path, "rb") as fh:
        data = fh.read()
    pos = 0
    while pos < len(data):
        t_recv, t_ack, n = struct.unpack_from(">ddI", data, pos)
        pos += 20
        out.append((t_recv, t_ack, data[pos : pos + n]))
        pos += n
    return out


def decode_requests(requests) -> list[tuple[dict, list]]:
    """[(request summary, [(topic, key, value, ts)])] per request; every
    record batch's CRC32C is verified first."""
    spans, crcs = [], []
    for _t_recv, _t_ack, body in requests:
        _api, _corr, topics = wire.produce_header(body)
        for _topic, parts in topics:
            for _partition, off, size in parts:
                crc, covered = wire.batch_crc(body[off : off + size])
                crcs.append(crc)
                spans.append(covered)
    if wire.crc32c_many(spans) != crcs:
        raise Mismatch("record batch CRC32C mismatch")
    out = []
    for t_recv, t_ack, body in requests:
        _api, _corr, topics = wire.produce_header(body)
        recs = []
        for topic, parts in topics:
            for _partition, off, size in parts:
                for key, value, ts in wire.decode_batch(body[off : off + size]):
                    recs.append((topic, key, value, ts))
        out.append(({"t_recv": t_recv, "t_ack": t_ack, "bytes": len(body),
                     "records": len(recs)}, recs))
    return out


class Mismatch(AssertionError):
    """A published record differs from what the generator committed."""


def expected_cdc(txns, tables, prefix: str) -> dict:
    """{(topic, lsn): (key json, value json, ts_ms)} for every data row."""
    out = {}
    for t in txns:
        ts_ms = t["ts_us"] // 1000
        for tab, lsn, op, uid, cents, props in t["rows"]:
            v = {"op": op, "source_schema": "public", "source_table": tables[tab],
                 "lsn": lsn, "xid": t["xid"], "ts_ms": ts_ms, "key_user_id": uid}
            if op in ("u", "d"):
                v["before_user_id"] = uid
            if op in ("c", "u"):
                v.update(after_user_id=uid, after_cents=cents, after_props=props)
            out[(f"{prefix}.public.{tables[tab]}", lsn)] = ({"key_user_id": uid}, v, ts_ms)
    return out


def check_cdc(requests, expected: dict) -> dict:
    first: dict = {}
    summaries = []
    dups = 0
    for summary, recs in decode_requests(requests):
        summaries.append(summary)
        for topic, key, value, ts in recs:
            v = json.loads(value)
            ident = (topic, v.get("lsn"))
            want = expected.get(ident)
            if want is None:
                raise Mismatch(f"unexpected record {ident}: {v}")
            got = (json.loads(key), v, ts)
            if got != want:
                raise Mismatch(f"record {ident}: got {got}, want {want}")
            if ident in first:
                dups += 1
            else:
                first[ident] = summary["t_recv"]
    return {"first_receipt": first, "duplicates": dups, "requests": summaries}


def broker_layer(got: dict, connections: list[float], w0: float, w1: float, batches: int) -> dict:
    """Sink-side counts over the requests the broker received in [w0, w1]."""
    win = [r for r in got["requests"] if w0 <= r["t_recv"] <= w1]
    out = {"sinks.duplicate_records": got["duplicates"]}
    if got["requests"]:
        out["sinks.broker_ack_s_p99"] = pct([r["t_ack"] - r["t_recv"] for r in got["requests"]], 99)
    if win:
        recs = [r["records"] for r in win]
        out.update({
            "sinks.connections_per_batch": sum(1 for c in connections if w0 <= c <= w1) / max(batches, 1),
            "sinks.records_per_request_p50": pct(recs, 50),
            "sinks.produce_requests": len(win),
            "sinks.bytes_per_record": sum(r["bytes"] for r in win) / max(sum(recs), 1),
        })
    return out
