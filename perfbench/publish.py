"""The snapshot publish job: the initial-snapshot / backfill path.

Seeded hypertable rows in parquet go through the configured pipeline:
``config.from_config`` -> ``PipelineAssembly.build`` (envelope, table
filter, topic naming, one ``sink.filters`` condition) -> ``shape`` ->
``deliver_batch`` to the benchmark's broker. Replication and
streaming state are bypassed.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import time
from statistics import median

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import check

ROWS = 20_000
FILES = 8  # chunk-like input files
TABLES = ("cpu", "memory", "disk_io", "network", "sensors", "trades", "clicks",
          "meters", "audit_log", "tmp_scratch")
INCLUDES = ["public.*"]
EXCLUDES = ["public.audit_*", "public.t?p_scratch"]
CONDITION = 'after_value > 25.0 || op == "d"'

CONFIG = """\
sink.type = 'kafka'
sink.kafka.brokers = ['{broker}']
topic.prefix = '{prefix}'
timescaledb.hypertables.includes = {includes}
timescaledb.hypertables.excludes = {excludes}
sink.filters.big_or_delete.condition = '''{condition}'''
sink.filters.big_or_delete.default = false
"""


def make_rows(seed: int, path: str) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    ids = rng.permutation(ROWS * 3)[:ROWS].astype("int64")
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + rng.integers(0, 30 * 86400 * 10**6, ROWS).astype("timedelta64[us]"))
    pad = rng.bytes(512).hex()
    n = rng.integers(4, 300, ROWS)
    off = rng.integers(0, len(pad) - 300, ROWS)
    df = pd.DataFrame({
        "event_id": ids,
        "ts": ts,
        "user_id": rng.integers(0, 5000, ROWS).astype("int64"),
        "event_type": np.array(TABLES)[rng.integers(0, len(TABLES), ROWS)],
        "value": np.round(rng.uniform(0.01, 60.0, ROWS), 2),
        "props": [json.dumps({"k": int(k), "pad": pad[o:o + m]})
                  for k, o, m in zip(rng.integers(0, 100, ROWS), off, n)],
    })
    os.makedirs(path)
    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                        ("user_id", pa.int64()), ("event_type", pa.string()),
                        ("value", pa.float64()), ("props", pa.string())])
    for i, part in enumerate(np.array_split(df.sort_values("ts"), FILES)):
        pq.write_table(pa.Table.from_pandas(part, schema=schema, preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return df


def _pattern(term: str) -> re.Pattern:
    """schema.table wildcard term: * any run, ? one character, anchored."""
    parts = []
    for tok in term.lower().split("."):
        parts.append("".join(".*" if c == "*" else "." if c == "?" else re.escape(c) for c in tok))
    return re.compile(r"^" + r"\.".join(parts) + r"$")


def expected(df: pd.DataFrame) -> list[tuple[str, int, dict, dict, int]]:
    """The publish result computed with pandas from the config's rules:
    [(table, lsn, key json, value json, record ts)]."""
    name = "public." + df["event_type"]
    inc = name.apply(lambda s: any(_pattern(p).match(s) for p in INCLUDES))
    exc = name.apply(lambda s: any(_pattern(p).match(s) for p in EXCLUDES))
    m = df["event_id"] % 10
    op = np.where(m == 0, "d", np.where(m.isin([1, 2]), "u", "c"))
    keep = inc & ~exc & ((df["value"] > 25.0) | (op == "d"))
    out = []
    for r, o in zip(df[keep].itertuples(index=False), op[keep.to_numpy()]):
        us = int(r.ts.value // 1000)
        ts = datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=us)
        v = {"op": o, "source_schema": "public", "source_table": r.event_type,
             "lsn": int(r.event_id), "ts_ms": us // 1000,
             "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond:06d}"[:3] + "Z",
             "key_user_id": int(r.user_id), "is_tombstone": False}
        if o != "d":
            v["after_value"] = float(r.value)
            v["after_props"] = r.props
        out.append((r.event_type, int(r.event_id), {"key_user_id": int(r.user_id)}, v, us // 1000))
    return out


class Publisher:
    """The snapshot publish job: seeded rows, one config per publish."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.data_dir = os.path.join(ctx.work, "snapshot")
        self.rows = make_rows(ctx.seed, os.path.join(self.data_dir, "events.parquet"))
        self.expected = expected(self.rows)
        self.prefixes: list[str] = []

    def _config(self, prefix: str) -> str:
        path = os.path.join(self.ctx.work, f"{prefix}.toml")
        with open(path, "w") as fh:
            fh.write(CONFIG.format(broker="%s:%d" % self.ctx.load.broker, prefix=prefix,
                                   includes=json.dumps(INCLUDES), excludes=json.dumps(EXCLUDES),
                                   condition=CONDITION))
        return path

    def setup(self) -> None:
        """What a publish needs before it can run: the parsed config and
        the opened input."""
        from timescaledb_event_streamer_spark.config import from_config
        from timescaledb_event_streamer_spark.sources.tables import load

        from_config(self._config("setup"))
        load(self.ctx.spark, self.data_dir, "events").schema

    def publish(self, prefix: str, tracer=None) -> float:
        """Build, shape and deliver the snapshot under topic prefix
        ``prefix``; returns the seconds those three took."""
        from timescaledb_event_streamer_spark.config import from_config
        from timescaledb_event_streamer_spark.sources.tables import load

        spark = self.ctx.spark
        path = self._config(prefix)
        self.prefixes.append(prefix)
        t0 = time.perf_counter()
        if tracer is None:
            asm = from_config(path)
            asm.deliver_batch(asm.shape(asm.build(load(spark, self.data_dir, "events"))))
            return time.perf_counter() - t0
        with tracer.span("config.build", trace=prefix):
            asm = from_config(path)
            env = asm.build(load(spark, self.data_dir, "events"))
            shaped = asm.shape(env)
        t_plan = time.perf_counter() - t0
        # traced only: each stage executed on its own, to the noop sink
        with tracer.span("cdc.build_exec", trace=prefix):
            env.write.format("noop").mode("overwrite").save()
        with tracer.span("sinks.shape_exec", trace=prefix):
            shaped.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        with tracer.span("sinks.deliver", trace=prefix):
            asm.deliver_batch(shaped)
        return t_plan + time.perf_counter() - t1

    def verify(self, path: str) -> tuple[dict, set[str]]:
        """Check every publish against the pandas expectation; returns
        the broker result and the prefixes that lost rows."""
        want = {(f"{p}.public.{table}", lsn): (key, value, ts)
                for p in self.prefixes for table, lsn, key, value, ts in self.expected}
        got = check.check_cdc(check.read_requests(path + ".bin"), want)  # raises on a mismatch
        lost = {topic.split(".", 1)[0] for topic, _lsn in set(want) - set(got["first_receipt"])}
        return got, lost

    def layer(self, tracer, times: list[float]) -> dict:
        return {
            "config.build_plan_s": median(tracer.durations("config.build")),
            "cdc.build_exec_s": median(tracer.durations("cdc.build_exec")),
            "sinks.shape_exec_s": median(tracer.durations("sinks.shape_exec")),
            "sinks.deliver_s": median(tracer.durations("sinks.deliver")),
            "sinks.publish_rows_per_s": ROWS / median(times),
            "catalog.filter_pass_ratio": len(self.expected) / ROWS,
        }
