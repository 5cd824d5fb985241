"""Seeded fixture generator: the ten parquet tables the engine's builders
read (`sources.catalog.TABLES`), with the schemas and value shapes of the
engine's test fixtures, written with pyarrow so no Spark job is spent on
inputs. The same (seed, scale) gives byte-identical tables.

Shapes that operators depend on are kept:
- documents: word salad over a 30-word vocabulary, 10-100 words; 5% of
  the docs are another doc's text plus " dup" (near duplicates, and exact
  duplicates where two copies share a base); source = src<doc_id % 20>;
- embeddings: 64-d unit vectors clustered around 10 label centroids;
- events: time-ordered over 30 days from 2024-01-01, event_id monotonic,
  props = '{"k": N}' (the OTP payload the flagship pipeline extracts).

For the OTP workload it also writes the delivery files (`deliveries`).
It runs as its own process, so that its memory is not counted in the
benchmark's peak:

    python3 perfbench/datagen.py <dir> <seed> <scale> <n_docs> <n_vecs> <n_deliveries>
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "click", "error", "purchase", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
P_ADJ = ("cold", "small", "large", "hot", "red", "blue", "old", "new")
P_NOUN = ("widget", "bolt", "gear", "valve", "spring", "pipe", "nut", "screw")
P_TYPES = ("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

# OTP deliveries: DELIVERY_EVENTS time-ordered events each, plus about
# REDELIVERY_SHARE redeliveries drawn from the previous REDELIVERY_WINDOW
# events. Events are EVENT_GAP_S apart on average, so a delivery spans ~2
# minutes of event time, the dedup watermark's bound, and redeliveries
# land on both sides of it.
DELIVERY_EVENTS = 500
REDELIVERY_SHARE = 0.10
REDELIVERY_WINDOW = 800
EVENT_GAP_S = 0.25

# Row counts per unit of scale, as in the engine's fixtures (scale 0.01 ->
# 60k lineitems); documents and embeddings have a 500-row floor.
_EPOCH_2024_US = 1_704_067_200_000_000
_DAY_US = 86_400_000_000


def _ts_us(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1995-01-01", "us")
    return pa.array((base + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    texts = [
        " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)) for k in n_words
    ]
    dup = rng.random(n) < 0.05
    bases = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[int(rng.choice(bases))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    cents = rng.normal(0.0, 1.0, (10, dim))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    v = 0.15 * cents[label] + rng.normal(0.0, 1.0 / np.sqrt(dim), (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    gaps = rng.exponential(1.0, n)
    ts = _EPOCH_2024_US + (np.cumsum(gaps) / gaps.sum() * 30 * _DAY_US * 0.999).astype(
        np.int64
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def tpch(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{P_ADJ[a]} {P_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(P_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
    }
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts_us(odays),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_li),
            "l_linestatus": rng.choice(("F", "O"), n_li),
            "l_shipdate": _ts_us(odays[okey] + rng.integers(1, 122, n_li)),
        }
    )
    return out


def deliveries(seed: int, n: int) -> list[pa.Table]:
    """n OTP delivery tables (the events schema), in delivery order."""
    rng = np.random.default_rng(seed + 2)
    total = n * DELIVERY_EVENTS
    ev = events(rng, total, 150)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ts0 + (np.cumsum(rng.exponential(EVENT_GAP_S, total)) * 1e6).astype("timedelta64[us]")
    ev = ev.set_column(1, "ts", pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")))
    out = []
    for k in range(n):
        lo = k * DELIVERY_EVENTS
        idx = np.arange(lo, lo + DELIVERY_EVENTS)
        if k > 0:
            n_re = int(REDELIVERY_SHARE * DELIVERY_EVENTS)
            idx = np.concatenate([idx, rng.integers(max(0, lo - REDELIVERY_WINDOW), lo, n_re)])
        out.append(ev.take(pa.array(idx)))
    return out


def generate(
    target_dir: str, seed: int, scale: float, n_docs: int, n_vecs: int, n_deliveries: int = 0
) -> str:
    """Write the ten tables as `<target_dir>/<name>.parquet`, and
    n_deliveries OTP deliveries as
    `<target_dir>/deliveries/delivery-<k>.parquet`."""
    rng = np.random.default_rng(seed)
    tables = tpch(rng, scale)
    tables["events"] = events(
        rng, max(1000, int(1_000_000 * scale)), max(15, int(15_000 * scale))
    )
    tables["documents"] = documents(rng, n_docs)
    tables["embeddings"] = embeddings(rng, n_vecs)
    os.makedirs(target_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(target_dir, f"{name}.parquet"))
    if n_deliveries:
        os.makedirs(os.path.join(target_dir, "deliveries"))
        for k, t in enumerate(deliveries(seed, n_deliveries)):
            pq.write_table(t, os.path.join(target_dir, "deliveries", f"delivery-{k:05d}.parquet"))
    return target_dir


if __name__ == "__main__":
    d, seed, scale, n_docs, n_vecs, n_del = sys.argv[1:7]
    generate(d, int(seed), float(scale), int(n_docs), int(n_vecs), int(n_del))
