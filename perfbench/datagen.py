"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed
writes byte-identical inputs. The star schema mirrors the shape the
engine's registered queries expect (``region nation customer supplier
part orders lineitem events documents embeddings``, one Parquet file
each, the same column names and types); row counts follow the usual
``sf`` scaling so ``sf=0.001`` gives ~6,000 lineitem rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# The 31-word corpus vocabulary of the engine's document table; "dup"
# is rare, the other thirty are near-uniform.
BASE_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
DIM = 64

_US_PER_DAY = 86_400 * 10**6


def _ts(base: str, us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + us, pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def vocab_weights(vocab: list[str], zipf: float) -> np.ndarray:
    """Zipf weights over ``vocab`` in list order (rank 1 first)."""
    w = 1.0 / np.arange(1, len(vocab) + 1) ** zipf
    return w / w.sum()


def texts(rng, n: int, vocab: list[str], weights: np.ndarray,
          min_words: int = 8, max_words: int = 80) -> list[str]:
    lengths = rng.integers(min_words, max_words + 1, n)
    words = rng.choice(np.array(vocab), size=int(lengths.sum()), p=weights)
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(words[pos:pos + ln]))
        pos += ln
    return out


def embeddings(rng, n: int, n_labels: int = 10) -> tuple[np.ndarray, np.ndarray]:
    """Unit-norm float32 vectors around ``n_labels`` random centres."""
    centres = rng.normal(size=(n_labels, DIM))
    labels = rng.integers(0, n_labels, n)
    v = centres[labels] + 0.6 * rng.normal(size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def events_table(rng, n: int, first_id: int = 0, n_users: int = 150) -> pa.Table:
    us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts("2024-01-01", us),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(_money(rng, 0.01, 500.0, n)),
        "props": pc.binary_join_element_wise(
            '{"k": ', pa.array(rng.integers(0, 100, n)).cast(pa.string()), "}", ""),
    })


def write_star_schema(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten engine tables as ``<out_dir>/<name>.parquet``;
    returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", odays * _US_PER_DAY),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(
            "1995-01-01",
            (np.repeat(odays, lines) + rng.integers(1, 122, n_li)) * _US_PER_DAY),
    })
    t["events"] = events_table(rng, n_ev, n_users=max(10, n_cust // 10))
    weights = np.full(len(BASE_VOCAB), 1.0)
    weights[BASE_VOCAB.index("dup")] = 0.03
    docs = texts(rng, n_docs, BASE_VOCAB, weights / weights.sum())
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": docs,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    vecs, labels = embeddings(rng, n_vec)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def write_events_csv(path: str, table: pa.Table) -> int:
    """One header-less CSV file; returns its size in bytes. ``props``
    is rewritten without quotes so the CSV needs no escaping."""
    props = pc.replace_substring(
        pc.replace_substring(table["props"], '"', ""), " ", "")
    table = table.set_column(table.schema.get_field_index("props"), "props", props)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pacsv.write_csv(table, tmp, pacsv.WriteOptions(include_header=False))
    os.replace(tmp, path)
    return os.path.getsize(path)
