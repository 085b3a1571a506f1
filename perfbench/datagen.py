"""The benchmark's own input tables, generated from a fixed seed.

The benchmark runs where no shared fixture directory exists, so it writes
the ten catalog tables (TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``) itself, once per checkout, into a
directory next to the benchmark. The data seed is fixed: the frozen row
counts in ``expected.json`` describe exactly this data. The workload seed
only chooses which operations run on it.

Row counts per scale-factor unit: customer 150k, supplier 10k, part 200k,
orders 1.5M, lineitem 6M, events 1M from 15k users; documents
max(500, 50k*sf) with ~5% planted near-duplicates; embeddings
max(500, 20k*sf) unit-norm 64-d vectors around 10 weak label centroids.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
DAY_US = 86_400_000_000
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = (int(n * sf) for n in (150_000, 10_000, 200_000))
    n_ord, n_li, n_ev = (int(n * sf) for n in (1_500_000, 6_000_000, 1_000_000))
    n_users = int(15_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    def pick(choices, n):
        return pa.array(np.array(choices)[rng.integers(0, len(choices), n)])

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
    }
    pk = np.arange(n_part)
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    name_idx = rng.integers(0, 64, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj[name_idx // 8], " "),
                                       noun[name_idx % 8])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(0, 25, n_part)
                                        .astype(str))),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    })

    d0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    d1 = np.datetime64("2001-08-01", "us").astype(np.int64)
    odate = d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["O", "P", "F"], n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })

    # lineitem: sorted order keys so the line number cycles 1..7 per order
    lok = np.sort(rng.integers(0, n_ord, n_li))
    starts = np.flatnonzero(np.r_[True, lok[1:] != lok[:-1]])
    occ = np.arange(n_li) - np.repeat(starts, np.diff(np.r_[starts, n_li]))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(occ % 7 + 1, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) * 0.01, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) * 0.01, 2)),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 96, n_li) * DAY_US,
                               pa.timestamp("us")),
    })

    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(t0 + rng.integers(0, 30 * DAY_US, n_ev),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"],
                           n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: word salads, then ~5% copies of an earlier document
    # (3% of those byte-exact, the rest with a ' dup' marker appended)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)])
             for n in rng.integers(10, 101, n_doc)]
    for i in rng.choice(np.arange(1, n_doc), round(n_doc * 0.05), False):
        src = int(rng.integers(0, i))
        texts[i] = texts[src] if rng.random() < 0.03 else texts[src] + " dup"
    langs = np.array(["en", "zh", "es", "fr", "de"])[
        rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(langs),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    mus = rng.normal(0, 1, (10, 64))
    mus = 0.07 * mus / np.linalg.norm(mus, axis=1, keepdims=True)
    vecs = rng.normal(0, 1 / 8, (n_emb, 64)) + mus[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    return out


def ensure(root: Path, sf: float) -> str:
    """Return the directory holding the tables at ``sf``, generating it on
    first use. The directory appears by atomic rename, so a reader never
    sees a half-written one."""
    final = root / f"sf{sf}"
    if final.is_dir():
        return str(final)
    tmp = root / f".sf{sf}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in _tables(sf, np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    try:
        os.rename(tmp, final)
    except OSError:  # another process published it first
        shutil.rmtree(tmp, ignore_errors=True)
    return str(final)
