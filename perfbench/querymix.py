"""The registry query jobs: the query mix, its dataset and the oracle check.

The dataset is the registry's table set, synthesised from the seed with
the value domains the queries filter on (about half the size of the
sf0.1 test set). Results are compared with the registry's DuckDB oracle
up to row order and float rounding.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

MIX = (
    "ts_time_bucket",
    "ts_cagg_rollup",
    "ts_gapfill_locf",
    "cdc_snapshot_stream_merge",
    "dedup_exact",
    "ann_bruteforce_topk",
    "text_token_count",
    "q3_shipping_priority",
)
#: rows per table: about half of the sf0.1 test set
SIZES = {"customer": 7_500, "orders": 75_000, "lineitem": 300_000, "part": 10_000,
         "supplier": 500, "events": 50_000, "documents": 2_500, "embeddings": 1_000}
WORDS = ("a the key agg row scan slow fast table value part hash merge batch line sort "
         "window spark order data column join small customer query big stream group "
         "index shard lake delta chunk cagg hyper tick rollup bucket gap fill").split()


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (a + rng.integers(0, int((b - a).astype("int64")) + 1, n).astype("timedelta64[D]")).astype("datetime64[us]")


def make_dataset(seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    S = SIZES
    pick = lambda xs, n: np.array(xs)[rng.integers(0, len(xs), n)]  # noqa: E731
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    tables = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"),
                                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pd.DataFrame({"n_nationkey": np.arange(25, dtype="int32"),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype("int32")}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(S["customer"], dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(S["customer"])],
            "c_nationkey": rng.integers(0, 25, S["customer"]).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, S["customer"]),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                                 S["customer"])}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(S["supplier"], dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(S["supplier"])],
            "s_nationkey": rng.integers(0, 25, S["supplier"]).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, S["supplier"])}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(S["part"], dtype="int64"),
            "p_name": [f"{c} {n}" for c, n in zip(
                pick(["red", "blue", "green", "small", "large", "steel", "brass", "dark"], S["part"]),
                pick(["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "plate"], S["part"]))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, S["part"])],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], S["part"]),
            "p_size": rng.integers(1, 51, S["part"]).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(S["part"]) % 1000) / 10, 2)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(S["orders"], dtype="int64"),
            "o_custkey": rng.integers(0, S["customer"], S["orders"]).astype("int64"),
            "o_orderstatus": pick(["F", "O", "P"], S["orders"]),
            "o_totalprice": money(1000, 500_000, S["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", S["orders"]),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                    S["orders"])}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, S["orders"], S["lineitem"]).astype("int64"),
            "l_partkey": rng.integers(0, S["part"], S["lineitem"]).astype("int64"),
            "l_suppkey": rng.integers(0, S["supplier"], S["lineitem"]).astype("int64"),
            "l_linenumber": rng.integers(1, 8, S["lineitem"]).astype("int32"),
            "l_quantity": rng.integers(1, 51, S["lineitem"]).astype("float64"),
            "l_extendedprice": money(900, 105_000, S["lineitem"]),
            "l_discount": rng.integers(0, 11, S["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, S["lineitem"]) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], S["lineitem"]),
            "l_linestatus": pick(["F", "O"], S["lineitem"]),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", S["lineitem"])}),
        "events": pd.DataFrame({
            "event_id": np.arange(S["events"], dtype="int64"),
            "ts": np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                          + rng.integers(0, 30 * 86400 * 10**6, S["events"]).astype("timedelta64[us]")),
            "user_id": rng.integers(0, 500, S["events"]).astype("int64"),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], S["events"]),
            "value": money(0.01, 490.0, S["events"]),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, S["events"])]}),
    }
    texts = [" ".join(pick(WORDS, int(rng.integers(8, 90)))) for _ in range(S["documents"])]
    for i in range(0, S["documents"], 10):  # every 10th document repeats an earlier one
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(S["documents"], dtype="int64"), "text": texts,
        "lang": pick(["de", "en", "es", "fr", "zh"], S["documents"]),
        "source": [f"src{i}" for i in rng.integers(0, 20, S["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    emb = (rng.standard_normal((S["embeddings"], 64)) * 0.1).astype("float32")
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(S["embeddings"], dtype="int64"), "embedding": list(emb),
        "label": rng.integers(0, 10, S["embeddings"]).astype("int32")})
    os.makedirs(out)
    for name, df in tables.items():
        t = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            t = t.set_column(1, "embedding", pa.array(list(emb), type=pa.list_(pa.float32())))
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_numeric_dtype(df[c]):
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].map(lambda v: None if v is None or v is pd.NA else
                              (round(float(v), 9) if isinstance(v, (int, float, np.number))
                               and not isinstance(v, bool) else str(v)))
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def _rounding_tie(x: float, y: float) -> bool:
    """x and y are one ROUND(v, d) apart by exactly one unit of the d-th
    decimal (d >= 1), as when v is a float sum that sits on a rounding
    tie and two engines, summing in different orders, land on either
    side of it."""
    for d in range(1, 7):
        if round(x, d) == x and round(y, d) == y:
            return math.isclose(abs(x - y), 10.0**-d, rel_tol=1e-6)
    return False


def same(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when equal up to row order and float rounding, else why not."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"{len(spark_pdf)} rows != {len(oracle_pdf)}"
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    for c in a.columns:
        for x, y in zip(a[c], b[c]):
            if isinstance(x, float) and isinstance(y, float):
                if not (math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6) or (x != x and y != y)
                        or _rounding_tie(x, y)):
                    return f"column {c}: {x} != {y}"
            elif x != y and not (pd.isna(x) and pd.isna(y)):
                return f"column {c}: {x!r} != {y!r}"
    return None
