"""Seeded input generator for the benchmark.

``write_tables`` writes parquet tables that ``__spark_entry__`` queries
read (the TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``) with the column names and types of the synthetic testdata
the engine is developed against, so every query and its DuckDB oracle run
unchanged on them. The value distributions are this module's own; they
are not checked against the testdata's. ``live_file`` is the open-loop
generator's file for the ``live_stream`` workload.

Everything here is a pure function of ``(seed, sf)``: the same arguments
give byte-identical parquet files and identical event lists.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import workloads as wl

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_VOCAB = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_DAY_US = 86_400_000_000


def _date_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _sizes(sf: float) -> dict[str, int]:
    return {"customer": int(150_000 * sf), "supplier": int(10_000 * sf),
            "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
            "documents": int(50_000 * sf), "embeddings": int(20_000 * sf),
            "users": max(1, int(15_000 * sf))}


def _region(rng, n) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })


def _nation(rng, n) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })


def _customer(rng, n) -> pa.Table:
    return pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n["customer"]),
    })


def _supplier(rng, n) -> pa.Table:
    return pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })


def _part(rng, n) -> pa.Table:
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    k = n["part"]
    return pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": _pick(rng, names, k),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 1),
    })


def _orders(rng, n) -> pa.Table:
    k = n["orders"]
    return pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, k),
        "o_orderdate": _ts(_date_us(1995, 1, 1) + rng.integers(0, 2405, k) * _DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], k),
    })


def _lineitem(rng, n) -> pa.Table:
    k = n["lineitem"]
    return pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
        "l_discount": np.round(rng.uniform(0.0, 0.1, k), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, k), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _ts(_date_us(1995, 1, 2) + rng.integers(0, 2499, k) * _DAY_US),
    })


def _events(rng, n) -> pa.Table:
    # one month of exponential inter-arrival gaps, strictly increasing ts,
    # ~67 events per user at every scale
    k = n["events"]
    gaps = np.maximum(1, rng.exponential(30 * _DAY_US / max(k, 1), k))
    return pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": _ts(_date_us(2024, 1, 1) + np.cumsum(gaps.astype(np.int64))),
        "user_id": rng.integers(0, n["users"], k),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })


def _documents(rng, n) -> pa.Table:
    k = n["documents"]
    lens = rng.integers(10, 101, k)
    words = _VOCAB[rng.integers(0, len(_VOCAB), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    # plant exact duplicates (about 0.3% of the corpus) for the dedup paths
    for i in rng.choice(np.arange(1, k), max(1, k // 300), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], k,
                      p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475]),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng, n) -> pa.Table:
    k = n["embeddings"]
    x = rng.standard_normal((k, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })


_BUILD = {"region": _region, "nation": _nation, "customer": _customer,
          "supplier": _supplier, "part": _part, "orders": _orders,
          "lineitem": _lineitem, "events": _events, "documents": _documents,
          "embeddings": _embeddings}


def write_tables(out_dir: str, seed: int, sf: float, tables=TABLES) -> str:
    """Write each of ``tables`` as ``<out_dir>/<name>.parquet``; returns
    ``out_dir``. Each table has its own random stream, so a table's bytes
    do not depend on which other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    n = _sizes(sf)
    for i, name in enumerate(TABLES):
        if name in tables:
            table = _BUILD[name](np.random.default_rng([seed, i]), n)
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


#: schema of the live_stream generator's files
LIVE_SCHEMA = "key long, event_id long, ts_us long, value double"


def live_file(seed: int, index: int, prime: int) -> pa.Table:
    """Events of generator file ``index``.

    File 0 is the priming backlog present when the stream starts: ``prime``
    events with negative ``ts_us``. File i >= 1 holds the events scheduled
    in [(i-1)*LIVE_FILE_EVERY_S, i*LIVE_FILE_EVERY_S) seconds after the open
    loop starts, evenly spaced at LIVE_RATE_PER_S; ``ts_us`` is each event's
    scheduled creation time (µs from the start of the open loop). Keys are
    Zipf(LIVE_ZIPF_A) over LIVE_KEYS keys, event ids are dense across files."""
    rate, every_s = wl.LIVE_RATE_PER_S, wl.LIVE_FILE_EVERY_S
    per_file = int(round(rate * every_s))
    if index == 0:
        n, first_id = prime, 0
        ts = np.arange(-prime, 0, dtype=np.int64)
    else:
        n, first_id = per_file, prime + (index - 1) * per_file
        ts = (((index - 1) * every_s + np.arange(n) / rate) * 1e6).astype(np.int64)
    rng = np.random.default_rng([seed, index])
    p = 1.0 / np.arange(1, wl.LIVE_KEYS + 1) ** wl.LIVE_ZIPF_A
    return pa.table({
        "key": rng.choice(wl.LIVE_KEYS, n, p=p / p.sum()).astype(np.int64),
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts_us": ts,
        "value": np.round(rng.exponential(50.0, n), 2),
    })
