"""Seeded input generators. Everything a workload feeds the engine is made
here from ``--seed``; the engine receives only these inputs.

- ``write_star_schema``: the TPC-H-style star schema plus ``events`` and
  ``embeddings`` that the analyst queries read, one parquet file per table
  (the layout ``io.read_table`` expects).
- ``hourly_payloads``: per-cycle raw payloads of many price sources in the
  three reference API shapes, with a seeded share of failing fetches.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Star-schema row counts: TPC-H scale factor 0.01, with the tables and
#: column types of the repository's test data. Scale factor 0.1 (what
#: ``bench.py`` reads) costs about 145 s per run on a 4-core host (58 s
#: cold warm pass, 72 s oracle check, 9 requests in 12 s for 11 query
#: types), more than a run may take.
STAR_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "embeddings": 500,
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
ADJECTIVES = ("red", "blue", "small", "hot", "old", "green", "large", "cold")
NOUNS = ("ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "valve")


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(out_dir: str, seed: int) -> None:
    """Write every table the analyst mix reads."""
    rng = np.random.default_rng(seed)
    n = STAR_ROWS
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n["customer"]), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n["supplier"]), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n["part"]), i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(ADJECTIVES, n["part"]), rng.choice(NOUNS, n["part"])
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900.0 + np.arange(n["part"]) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n["orders"]), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), i64),
            "o_orderstatus": rng.choice(("F", "O", "P"), n["orders"]),
            "o_totalprice": _money(rng, 1_000.0, 500_000.0, n["orders"]),
            "o_orderdate": _days(
                rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n["orders"]
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), i64),
            "l_suppkey": pa.array(
                rng.integers(0, n["supplier"], n["lineitem"]), i64
            ),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), i32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n["lineitem"]),
            "l_linestatus": rng.choice(("F", "O"), n["lineitem"]),
            "l_shipdate": _days(
                rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n["lineitem"]
            ),
        }),
    }
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64("2024-01-01", "us")
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    vec = rng.normal(size=(n["embeddings"], 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), i64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- hourly ingestion ---------------------------------------------------

SOURCE_KINDS = ("coingecko", "coincap", "blockchain_info")


class FetchError(ConnectionError):
    """A planted transport failure."""


def hourly_payloads(
    seed: int, n_sources: int, cycles: int, fail_share: float
) -> list[list[dict | None]]:
    """``[cycle][source]`` raw payloads in the source's API shape; ``None``
    marks a fetch that fails. Source ``i`` speaks ``SOURCE_KINDS[i % 3]``."""
    rng = random.Random(seed)
    anchor = [rng.uniform(20_000.0, 70_000.0) for _ in range(n_sources)]
    out = []
    for _ in range(cycles):
        row: list[dict | None] = []
        for i in range(n_sources):
            anchor[i] *= 1.0 + rng.uniform(-0.01, 0.01)
            usd = round(anchor[i], 2)
            if rng.random() < fail_share:
                row.append(None)
                continue
            kind = SOURCE_KINDS[i % 3]
            if kind == "coingecko":
                row.append({"bitcoin": {
                    "usd": usd, "eur": round(usd * 0.92, 2),
                    "brl": round(usd * 5.1, 2),
                    "usd_market_cap": round(usd * 19.6e6, 2),
                    "usd_24h_vol": round(usd * 4.1e5, 2),
                    "usd_24h_change": round(rng.uniform(-5, 5), 4),
                }})
            elif kind == "coincap":
                row.append({"data": {
                    "priceUsd": repr(usd),
                    "marketCapUsd": repr(round(usd * 19.6e6, 2)),
                    "volumeUsd24Hr": repr(round(usd * 3.9e5, 2)),
                    "changePercent24Hr": repr(round(rng.uniform(-5, 5), 4)),
                }})
            else:
                row.append({
                    "USD": {"last": usd},
                    "EUR": {"last": round(usd * 0.92, 2)},
                    "BRL": {"last": round(usd * 5.1, 2)},
                })
        out.append(row)
    return out


def payload_usd(payload: dict) -> float:
    """The USD price a payload carries, whatever its shape."""
    if "bitcoin" in payload:
        return payload["bitcoin"]["usd"]
    if "data" in payload:
        return float(payload["data"]["priceUsd"])
    return payload["USD"]["last"]
