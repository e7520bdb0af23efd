"""Seeded input tables for the benchmark.

The shapes follow the repository's scale-factor generator (row counts
linear in the scale factor, TPC-H-like key relationships, events over 30
days of 2024-01, bag-of-words documents with ~5% near-duplicate copies,
unit-normalised 64-d embeddings in 10 clusters), but every table here is
drawn from the benchmark's own ``--seed`` so the program only ever
receives parquet paths.

Documents use a 50k-term zipfian vocabulary: real text has rare tokens,
which shingle hashing and prefix filtering rely on.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJS = "large hot blue small dark light red green spring metal".split()
NOUNS = "ring bolt screw plate wheel frame pipe rod gear cap".split()
LANGS = ["en", "es", "fr", "zh", "de"]
DAY_US = 86_400_000_000


def _days(days: np.ndarray, epoch_day: int) -> pa.Array:
    return pa.array((days.astype("int64") + epoch_day) * DAY_US,
                    type=pa.timestamp("us"))


def _zipf_vocab(rng: np.random.Generator, n_terms: int = 50_000,
                s: float = 1.07) -> tuple[np.ndarray, np.ndarray]:
    syll = np.array([c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"])
    parts = rng.integers(0, len(syll), size=(n_terms, 3))
    n_syll = rng.integers(1, 4, n_terms)
    vocab = np.array([
        "".join(syll[parts[i, : n_syll[i]]]) + (str(i) if i else "")
        for i in range(n_terms)
    ])
    p = 1.0 / np.power(np.arange(1, n_terms + 1, dtype=np.float64), s)
    return vocab, p / p.sum()


def relational(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
        }),
    }
    adj = np.array(ADJS)[rng.integers(0, len(ADJS), n_part)]
    noun = np.array(NOUNS)[rng.integers(0, len(NOUNS), n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {n}" for a, n in zip(adj, noun)],
        "p_brand": [f"Brand#{i % 25 + 1}" for i in range(n_part)],
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    epoch = int(np.datetime64("1995-01-01", "D").astype(int))
    span = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01"))
               .astype("timedelta64[D]").astype(int))
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng.integers(0, span + 1, n_ord), epoch),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    # uniform orderkey per line => Poisson(4) lines per order; linenumber is
    # the 1-based position inside each order
    l_ok = rng.integers(0, n_ord, n_li)
    order = np.argsort(l_ok, kind="stable")
    srt = l_ok[order]
    new_run = np.r_[True, srt[1:] != srt[:-1]]
    starts = np.flatnonzero(new_run)
    linenum = np.empty(n_li, dtype=np.int32)
    linenum[order] = np.arange(n_li) - starts[np.cumsum(new_run) - 1] + 1
    ship = rng.integers(0, span + 1, n_li) + rng.integers(1, 96, n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(ship, epoch),
    })
    t0 = int(np.datetime64("2024-01-01T00:00:00", "us").astype(int))
    ts = np.sort(rng.uniform(0, 30 * DAY_US, n_ev)).astype("int64") + t0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return out


def corpus(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_docs, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    words, p = _zipf_vocab(rng)
    n_words = rng.integers(10, 100, n_docs)
    flat = rng.choice(len(words), size=int(n_words.sum()), p=p)
    offs = np.r_[0, np.cumsum(n_words)]
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:  # near-dup copy of an earlier doc
            texts.append(texts[int(rng.integers(0, len(texts)))]
                         + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(words[flat[offs[i]:offs[i + 1]]]))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=[.4, .15, .15, .15, .15])]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    cents = rng.normal(size=(10, 64))
    cents *= 1.13 / np.linalg.norm(cents, axis=1, keepdims=True)
    x = cents[labels] + rng.normal(size=(n_emb, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(x.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"documents": docs, "embeddings": emb}


def ensure(cache: str, kind: str, seed: int, sf: float) -> str:
    """Directory of ``<table>.parquet`` files for (kind, seed, sf), made once
    and reused: generation never falls inside a measured run.  For the
    ``array`` kind, ``sf`` is the array length."""
    path = os.path.join(cache, f"{kind}-sf{sf:g}-seed{seed}")
    if os.path.isdir(path):
        return path
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    if kind == "relational":
        tables = relational(rng, sf)
    elif kind == "array":
        # task_graph input: one seeded integer array, values small enough
        # that sums of squares stay exact in int64
        tables = {"array": pa.table({"x": rng.integers(0, 1000, int(sf))})}
    else:
        tables = corpus(rng, sf)
    work = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(work, f"{name}.parquet"))
    os.rename(work, path)
    return path
