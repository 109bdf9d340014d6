"""Seeded registry corpus for the ``registry_heavy`` / ``registry_light``
workloads.

Writes the ten tables the query registry reads (TPC-H-like star schema,
an ``events`` stream, ``documents`` and ``embeddings``), one
single-row-group parquet file each, with the column names, types and
value domains of the registry's own test corpus. ``SCALE`` is a scale
factor like the registry's: lineitem gets 6M × SCALE rows (12k), the
other tables proportionally, except ``documents``, which has ``N_DOCS``
rows.

Documents are word soup over a 31-word vocabulary, 10-100 words long,
so the common 4-grams appear in most documents.
About 5% are near-duplicates (an earlier document plus the word
``dup``) and a few are exact copies, so the dedup operators have true
pairs to find.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
ETYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

DAY = np.timedelta64(1, "D")

SCALE = 0.002
N_DOCS = 500  # dedup_ppjoin reads every fifth: 100, enough for its hot tier


def _documents(rng: np.random.RandomState, n: int) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        r = rng.random_sample()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.randint(0, i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.randint(0, i)])
        else:
            words = rng.randint(0, len(WORDS), rng.randint(10, 101))
            texts.append(" ".join(WORDS[w] for w in words))
    return texts


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; return {table: rows}."""
    rng = np.random.RandomState(seed)
    n_li = int(6_000_000 * SCALE)
    n_ord = n_li // 4
    n_cust = n_li // 40
    n_part = n_li // 30
    n_supp = max(n_li // 600, 10)
    n_ev = n_li // 6
    n_doc = N_DOCS
    n_emb = n_li // 300
    n_users = max(n_cust // 10, 10)

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
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PADJ[a]} {PNOUN[b]}"
            for a, b in zip(rng.randint(0, 8, n_part), rng.randint(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.randint(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.randint(0, 6, n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })

    odate = np.datetime64("1995-01-01") + rng.randint(0, 2404, n_ord) * DAY
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_ord)],
    })

    lkey = rng.randint(0, n_ord, n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(rng.randint(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.randint(1, 8, n_li), pa.int32()),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.randint(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.randint(0, 2, n_li)],
        "l_shipdate": pa.array(odate[lkey] + rng.randint(1, 122, n_li) * DAY, pa.timestamp("us")),
    })

    ts = np.datetime64("2024-01-01T00:00:00.000000") + np.sort(
        rng.randint(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.randint(0, n_users, n_ev), pa.int64()),
        "event_type": [ETYPES[i] for i in rng.randint(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.randint(0, 100, n_ev)],
    })

    texts = _documents(rng, n_doc)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, n_emb), pa.int32()),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
