"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program is made here from ``--seed``:
the same seed gives byte-identical inputs, and different seeds keep the
SIZE of the work fixed (row counts, item counts, failing-item counts)
while varying which rows carry which values.  That keeps run-to-run
spread down to the program, not the draw.

- ``write_tables``: the star-schema + events + documents + embeddings
  parquet tables the query registry reads (same schemas and value ranges
  as the repository's synthetic test data), at a chosen scale.
- ``feed_items``: a feed backlog — Zipf-skewed partition sizes, spread
  ``updated_at`` arrivals, items needing one processor pass, and a fixed
  share of items carrying ``fail`` (Failed along with their partition).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data row column table key value hash join agg group sort scan "
    "filter window stream batch merge part line order customer query spark "
    "vector small big fast slow"
).split()
ADJ = ["small", "red", "blue", "hot", "cold", "green", "big", "old"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000
_EPOCH_2024_US = 1_704_067_200 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    """n values drawn uniformly from ``values``."""
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables as parquet under ``out_dir``; return
    their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_vec = max(100, int(50_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{ADJ[a]} {NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + 0.1 * (np.arange(n_part) % 2000), 2),
    })

    odate_days = rng.integers(0, 2405, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["P", "F", "O"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(_EPOCH_1995_US + odate_days * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_ord), lines_per)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship = odate_days[l_order] + rng.integers(1, 122, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_1995_US + ship * _DAY_US),
    })

    # events: monotone timestamps over 30 days (sessionization and as-of
    # joins depend on the gaps), 150-ish users
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev)
    ev_ts = _EPOCH_2024_US + np.cumsum(gaps).astype("int64")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": _pick(rng, [json.dumps({"k": k}) for k in range(100)], n_ev),
    })

    # documents: bags of words over a small vocabulary; one in 25 is a
    # near-copy of an earlier one (last word changed), so the n-gram and
    # minhash dedup queries find a fixed number of real near-dup pairs
    lens = rng.integers(8, 90, n_doc)
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)) for k in lens]
    half = n_doc // 2
    copies = rng.choice(np.arange(half, n_doc), n_doc // 25, replace=False)
    for dst, src in zip(copies, rng.integers(0, half, len(copies))):
        words = texts[src].split()
        words[-1] = VOCAB[(VOCAB.index(words[-1]) + 1) % len(VOCAB)]
        texts[dst] = " ".join(words)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.standard_normal((n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })

    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def zipf_sizes(rng: np.random.Generator, n_items: int, n_parts: int, s: float = 1.1) -> np.ndarray:
    """Partition sizes summing to exactly ``n_items``: Zipf(s) weights over
    a seed-shuffled partition order, every partition at least one item."""
    w = 1.0 / np.arange(1, n_parts + 1) ** s
    rng.shuffle(w)
    sizes = 1 + np.floor(w / w.sum() * (n_items - n_parts)).astype(int)
    short = n_items - int(sizes.sum())
    sizes[np.argsort(-w)[:short]] += 1
    return sizes


def feed_items(
    seed: int,
    n_items: int,
    n_parts: int,
    fail_share: float,
    prefix: str = "",
) -> tuple[list[tuple], list[tuple]]:
    """(items, partitions) rows for a feed backlog.

    Items: (id, version, retry_count, partition_id, gate, status,
    error_messages, data, updated_at), all Available at gate 0.  Exactly
    round(fail_share * n_items) items carry ``fail``; every item needs
    ``times`` = 1 processor pass.  ``updated_at``
    arrivals are spread uniformly over [1, 10 * n_items]."""
    rng = np.random.default_rng(seed)
    sizes = zipf_sizes(rng, n_items, n_parts)
    part_of = np.repeat(np.arange(n_parts), sizes)
    rng.shuffle(part_of)
    failing = np.zeros(n_items, bool)
    failing[rng.choice(n_items, round(fail_share * n_items), replace=False)] = True
    arrivals = rng.integers(1, 10 * n_items + 1, n_items)
    items = []
    for i in range(n_items):
        d = {"times": 1}
        if failing[i]:
            d["fail"] = True
        items.append((
            f"{prefix}i{i}", 0, 0, f"{prefix}p{part_of[i]}", 0, 1, "",
            json.dumps(d), int(arrivals[i]),
        ))
    parts = [(f"{prefix}p{p}", 0, 0, 1) for p in range(n_parts)]
    return items, parts


SETTLED_PREFIX = "d"


def settled_items(n_items: int, n_parts: int) -> tuple[list[tuple], list[tuple]]:
    """Complete one-pass items in Complete partitions: the settled history
    a long-running feed accumulates.  Their ``updated_at`` is 0, so they
    sit below every live arrival; their ids start with ``SETTLED_PREFIX``."""
    pre = SETTLED_PREFIX
    items = [
        (f"{pre}i{i}", 1, 0, f"{pre}p{i % n_parts}", 0, 2, "",
         '{"processed":1,"times":1}', 0)
        for i in range(n_items)
    ]
    parts = [(f"{pre}p{p}", 1, 0, 2) for p in range(n_parts)]
    return items, parts
