"""Wire formats the benchmark's load process speaks, written from the
public protocol documents with ``struct`` only.

Nothing here imports the package under test: the walsender frames,
the Kafka request parse and the record-batch check must not share a
bug (or a slow path) with the code they exercise.

- PostgreSQL protocol v3 framing, simple-query replies and
  CopyBothResponse (frontend/backend protocol, "Message Formats").
- pgoutput v1 logical-replication messages R/B/I/U/D/C wrapped in
  XLogData 'w', and primary keepalives 'k' ("Logical Streaming
  Replication Protocol", "Streaming Replication Protocol").
- Kafka ProduceRequest/Response v3 and magic-2 RecordBatch, with
  CRC32C (Castagnoli, reflected polynomial 0x82F63B78).
"""

from __future__ import annotations

import struct

import numpy as np

#: micros between the unix epoch and the PostgreSQL epoch (2000-01-01)
PG_EPOCH_US = 946_684_800_000_000


# -- PostgreSQL protocol v3 ---------------------------------------------


def pg_msg(mtype: bytes, body: bytes) -> bytes:
    """Backend message: type byte + int32 length (counts itself) + body."""
    return mtype + struct.pack(">I", len(body) + 4) + body


def cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def simple_reply(fields: list[tuple[str, int]], values: list[str | None], tag: str) -> bytes:
    """RowDescription + one DataRow + CommandComplete."""
    t = struct.pack(">h", len(fields))
    for name, typoid in fields:
        t += cstr(name) + struct.pack(">ihihih", 0, 0, typoid, -1, -1, 0)
    d = struct.pack(">h", len(values))
    for v in values:
        if v is None:
            d += struct.pack(">i", -1)
        else:
            raw = v.encode()
            d += struct.pack(">i", len(raw)) + raw
    return pg_msg(b"T", t) + pg_msg(b"D", d) + pg_msg(b"C", cstr(tag))


def auth_ok_ready() -> bytes:
    """AuthenticationOk, one ParameterStatus, BackendKeyData, ReadyForQuery."""
    return (
        pg_msg(b"R", struct.pack(">i", 0))
        + pg_msg(b"S", cstr("server_version") + cstr("16.4"))
        + pg_msg(b"K", struct.pack(">ii", 4242, 1))
        + pg_msg(b"Z", b"I")
    )


def copy_both_response() -> bytes:
    return pg_msg(b"W", struct.pack(">bh", 0, 0))


def lsn_text(lsn: int) -> str:
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def copydata(payload: bytes) -> bytes:
    return pg_msg(b"d", payload)


def xlogdata(wal_start: int, wal_end: int, clock_us: int, payload: bytes) -> bytes:
    return copydata(b"w" + struct.pack(">QQQ", wal_start, wal_end, clock_us) + payload)


def keepalive(wal_end: int, clock_us: int, reply: bool) -> bytes:
    return copydata(b"k" + struct.pack(">QQb", wal_end, clock_us, 1 if reply else 0))


def relation(relid: int, namespace: str, name: str, columns: list[tuple[int, str, int]]) -> bytes:
    """'R' with replica identity default; columns are (flags, name, typoid)."""
    out = b"R" + struct.pack(">I", relid) + cstr(namespace) + cstr(name) + b"d"
    out += struct.pack(">h", len(columns))
    for flags, col, typoid in columns:
        out += struct.pack(">b", flags) + cstr(col) + struct.pack(">Ii", typoid, -1)
    return out


def tuple_data(values: list[str | None]) -> bytes:
    out = struct.pack(">h", len(values))
    for v in values:
        if v is None:
            out += b"n"
        else:
            raw = v.encode()
            out += b"t" + struct.pack(">I", len(raw)) + raw
    return out


def begin(final_lsn: int, commit_us_pg: int, xid: int) -> bytes:
    return b"B" + struct.pack(">QQI", final_lsn, commit_us_pg, xid)


def commit(commit_lsn: int, end_lsn: int, commit_us_pg: int) -> bytes:
    return b"C" + b"\x00" + struct.pack(">QQQ", commit_lsn, end_lsn, commit_us_pg)


def insert(relid: int, new: list[str | None]) -> bytes:
    return b"I" + struct.pack(">I", relid) + b"N" + tuple_data(new)


def update(relid: int, key: list[str | None], new: list[str | None]) -> bytes:
    return b"U" + struct.pack(">I", relid) + b"K" + tuple_data(key) + b"N" + tuple_data(new)


def delete(relid: int, key: list[str | None]) -> bytes:
    return b"D" + struct.pack(">I", relid) + b"K" + tuple_data(key)


def read_frontend(buf: bytes) -> tuple[bytes, bytes, bytes] | None:
    """One typed frontend message off the head of ``buf``:
    (type, body, rest), or None when incomplete."""
    if len(buf) < 5:
        return None
    (length,) = struct.unpack_from(">I", buf, 1)
    if len(buf) < 1 + length:
        return None
    return buf[0:1], buf[5 : 1 + length], buf[1 + length :]


def standby_status_lsn(body: bytes) -> int | None:
    """Write position of a StandbyStatusUpdate CopyData body, else None."""
    if body[:1] != b"r" or len(body) < 34:
        return None
    return struct.unpack_from(">Q", body, 1)[0]


# -- Kafka ----------------------------------------------------------------


def _crc32c_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        table.append(c)
    return table


_CRC_TABLE = _crc32c_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    table = _CRC_TABLE
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


_CRC_NP = np.array(_CRC_TABLE, dtype=np.uint32)
_CHUNK = 256


def _shift_tables(nbytes: int) -> list[np.ndarray]:
    """Byte tables of the linear map 'feed nbytes zero bytes into a
    zero-init register': shift(x) = T0[x&255] ^ T1[..] ^ T2[..] ^ T3[x>>24]."""
    cols = []
    for bit in range(32):
        x = 1 << bit
        for _ in range(nbytes):
            x = _CRC_TABLE[x & 0xFF] ^ (x >> 8)
        cols.append(x)
    tables = []
    for b in range(4):
        t = [0] * 256
        for v in range(256):
            acc = 0
            for i in range(8):
                if v >> i & 1:
                    acc ^= cols[8 * b + i]
            t[v] = acc
        tables.append(np.array(t, dtype=np.uint32))
    return tables


_SHIFT = _shift_tables(_CHUNK)


def crc32c_many(blobs: list[bytes]) -> list[int]:
    """CRC32C of many byte strings with numpy, equal to ``crc32c`` on each.

    The register's 0xFFFFFFFF init is folded into the first four bytes
    (reflected CRC), which makes the rest zero-init and therefore blind
    to leading zero bytes: each blob is left-padded to whole 256-byte
    chunks, every chunk's CRC is computed in one vectorised pass, and
    the chunk CRCs are folded per blob with the 256-zero-byte shift."""
    out = [0] * len(blobs)
    groups: dict[int, list[int]] = {}
    for i, b in enumerate(blobs):
        if len(b) < 4:
            out[i] = crc32c(b)
            continue
        k = -(-len(b) // _CHUNK)
        groups.setdefault(1 << (k - 1).bit_length(), []).append(i)
    for k, idx in groups.items():
        buf = np.zeros((len(idx), k * _CHUNK), dtype=np.uint8)
        for row, i in enumerate(idx):
            a = np.frombuffer(blobs[i], dtype=np.uint8)
            buf[row, k * _CHUNK - len(a):] = a
            buf[row, k * _CHUNK - len(a): k * _CHUNK - len(a) + 4] ^= 0xFF
        cols = np.ascontiguousarray(buf.reshape(-1, _CHUNK).T)
        st = np.zeros(cols.shape[1], dtype=np.uint32)
        for j in range(_CHUNK):
            st = _CRC_NP[(st ^ cols[j]) & 0xFF] ^ (st >> 8)
        chunk_crc = st.reshape(len(idx), k)
        reg = np.zeros(len(idx), dtype=np.uint32)
        t0, t1, t2, t3 = _SHIFT
        for c in range(k):
            reg = (t0[reg & 0xFF] ^ t1[(reg >> 8) & 0xFF] ^ t2[(reg >> 16) & 0xFF]
                   ^ t3[reg >> 24] ^ chunk_crc[:, c])
        for row, i in enumerate(idx):
            out[i] = int(reg[row]) ^ 0xFFFFFFFF
    return out


def _kstring(data: bytes, pos: int) -> tuple[str | None, int]:
    (n,) = struct.unpack_from(">h", data, pos)
    pos += 2
    if n < 0:
        return None, pos
    return data[pos : pos + n].decode(), pos + n


def produce_header(body: bytes) -> tuple[int, int, list[tuple[str, list[tuple[int, int, int]]]]]:
    """Request body (size prefix stripped) -> (api_key, correlation_id,
    [(topic, [(partition, batch_offset, batch_len)])]). Reads only the
    request envelope and each batch's byte span, never the records."""
    api_key, _version, corr = struct.unpack_from(">hhi", body, 0)
    if api_key != 0:
        return api_key, corr, []
    pos = 8
    _client, pos = _kstring(body, pos)
    _txn, pos = _kstring(body, pos)
    pos += 6  # acks, timeout
    (n_topics,) = struct.unpack_from(">i", body, pos)
    pos += 4
    topics = []
    for _ in range(n_topics):
        topic, pos = _kstring(body, pos)
        (n_parts,) = struct.unpack_from(">i", body, pos)
        pos += 4
        parts = []
        for _ in range(n_parts):
            partition, size = struct.unpack_from(">ii", body, pos)
            pos += 8
            parts.append((partition, pos, size))
            pos += max(size, 0)
        topics.append((topic, parts))
    return api_key, corr, topics


def batch_record_count(body: bytes, offset: int) -> int:
    """recordsCount field of the RecordBatch at ``offset`` (header read)."""
    return struct.unpack_from(">i", body, offset + 57)[0]


def produce_response(corr: int, results: list[tuple[str, list[tuple[int, int]]]]) -> bytes:
    """ProduceResponse v3, every partition acknowledged with error 0."""
    out = struct.pack(">ii", corr, len(results))
    for topic, parts in results:
        raw = topic.encode()
        out += struct.pack(">h", len(raw)) + raw + struct.pack(">i", len(parts))
        for partition, base_offset in parts:
            out += struct.pack(">ihqq", partition, 0, base_offset, -1)
    out += struct.pack(">i", 0)
    return struct.pack(">i", len(out)) + out


def _varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (result >> 1) ^ -(result & 1), pos


def batch_crc(data: bytes) -> tuple[int, bytes]:
    """(stored CRC32C, the bytes it covers) of a magic-2 RecordBatch."""
    _base, batch_len = struct.unpack_from(">qi", data, 0)
    _epoch, magic, crc = struct.unpack_from(">ibI", data, 12)
    if magic != 2:
        raise ValueError(f"record batch magic {magic}")
    body = data[21 : 12 + batch_len]
    if len(body) != batch_len - 9:
        raise ValueError("torn record batch")
    return crc, body


def decode_batch(data: bytes) -> list[tuple[bytes | None, bytes | None, int]]:
    """Magic-2 RecordBatch -> [(key, value, timestamp_ms)]; raises
    ValueError on a bad magic or a torn record. The CRC is checked
    separately (``batch_crc`` + ``crc32c_many``)."""
    _crc, body = batch_crc(data)
    attributes = struct.unpack_from(">h", body, 0)[0]
    if attributes & 0x07:
        raise ValueError("compressed record batch")
    base_ts = struct.unpack_from(">q", body, 6)[0]
    (n,) = struct.unpack_from(">i", body, 36)
    pos, out = 40, []
    for _ in range(n):
        length, pos = _varint(body, pos)
        end = pos + length
        pos += 1  # attributes
        ts_delta, pos = _varint(body, pos)
        _off, pos = _varint(body, pos)
        klen, pos = _varint(body, pos)
        key = None if klen < 0 else body[pos : pos + klen]
        pos += max(klen, 0)
        vlen, pos = _varint(body, pos)
        value = None if vlen < 0 else body[pos : pos + vlen]
        pos += max(vlen, 0)
        n_headers, pos = _varint(body, pos)
        if n_headers or pos != end:
            raise ValueError("unexpected record layout")
        out.append((key, value, base_ts + ts_delta))
    return out
