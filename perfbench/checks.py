"""Output checks, computed apart from the program under test.

- Every query with an oracle: DuckDB runs the oracle SQL on the same
  parquet; row count, column names and an order-insensitive comparison of
  the values (floats within a tolerance) must agree.
- ``sim_topk_pq`` / ``sim_topk_ivfpq``: recall@10 against an exact numpy
  top-10 (L2 on the stored vectors) must be at least 0.8.
- ``dedup_minhash_clusters``: the clusters partition all doc ids, each
  cluster is labelled by its smallest id and is connected by true
  near-duplicate pairs (exact word-3-shingle Jaccard >= 0.35, computed in
  Python); pair recall over all true pairs is reported.
- ``dedup_semantic_semdedup``: within a cluster the survivors are pairwise
  below tau, and every dropped row has a kept cluster-mate at or above tau.
- ``task_graph``: every gather equals the graph evaluated in plain Python.

Each check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import re
from collections import defaultdict
from itertools import combinations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

FLOAT_REL, FLOAT_ABS = 1e-9, 1e-6
ANN_RECALL_FLOOR = 0.8
MINHASH_THRESHOLD = 0.35
SEMDEDUP_TAU, SIM_EPS = 0.95, 1e-6


# -- DuckDB oracle -------------------------------------------------------------

def _cell(v):
    """Canonical value: floats stay floats (compared with a tolerance),
    everything else becomes a string."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(str(_cell(x)) for x in v) + "]"
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        return 0.0 if f == 0 else f  # fold -0.0
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, datetime.datetime):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return pd.Timestamp(v).isoformat()
    return str(v)


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    # order-insensitive: sort on a key where floats are coarsened, so rows
    # whose floats differ in the last digits still line up
    return sorted(rows, key=lambda r: tuple(
        f"{c:.3e}" if isinstance(c, float) else c for c in r) + tuple(map(repr, r)))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isinf(a) or math.isinf(b):
            return a == b
        return math.isclose(a, b, rel_tol=FLOAT_REL, abs_tol=FLOAT_ABS)
    return a == b


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != oracle {len(want)}"]
    for i, (g, w) in enumerate(zip(_rows(got), _rows(want))):
        if not all(_same(a, b) for a, b in zip(g, w)):
            return [f"{name}: sorted row {i} differs: {g} != oracle {w}"]
    return []


def oracle(results: str, data: str, oracles: dict[str, str]) -> list[str]:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=4")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    problems = []
    for name, sql in oracles.items():
        if sql is None:
            continue
        got = _load(results, name)
        if got is None:
            problems.append(f"{name}: no output collected")
            continue
        problems += compare(name, got, con.execute(sql).df())
    con.close()
    return problems


def _load(results: str, name: str) -> pd.DataFrame | None:
    path = os.path.join(results, f"{name}.pkl")
    return pd.read_pickle(path) if os.path.exists(path) else None


# -- ANN recall ----------------------------------------------------------------

def _vectors(data: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(os.path.join(data, "embeddings.parquet"))
    ids = t["vec_id"].to_numpy()
    vecs = np.stack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    return ids, vecs


def ann_recall(results: str, data: str, name: str) -> tuple[float, list[str]]:
    """Mean recall@10 of ``name`` (queries vec_id < 5, corpus the rest)."""
    got = _load(results, name)
    if got is None:
        return 0.0, [f"{name}: no output collected"]
    ids, vecs = _vectors(data)
    corpus = ids >= 5
    recalls = []
    for q in np.flatnonzero(ids < 5):
        d = ((vecs[corpus] - vecs[q]) ** 2).sum(axis=1)
        order = np.lexsort((ids[corpus], d))[:10]
        exact = set(ids[corpus][order].tolist())
        approx = set(got.loc[got["query_id"] == ids[q], "vec_id"].tolist())
        recalls.append(len(exact & approx) / len(exact))
    recall = float(np.mean(recalls))
    problems = [] if recall >= ANN_RECALL_FLOOR else [
        f"{name}: recall@10 {recall:.3f} < {ANN_RECALL_FLOOR}"]
    return recall, problems


# -- MinHash clusters ----------------------------------------------------------

def _shingles(text: str) -> set:
    norm = re.sub(r"\s+", " ", text.lower().strip())
    toks = norm.split(" ")
    if len(toks) < 3:
        return {norm}
    return {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}


def true_pairs(texts: dict[int, str], threshold: float) -> set[tuple[int, int]]:
    """Doc pairs with exact shingle Jaccard >= threshold (pairs sharing no
    shingle have Jaccard 0 and are never compared)."""
    sh = {d: _shingles(t) for d, t in texts.items()}
    index = defaultdict(list)
    for d, s in sh.items():
        for x in s:
            index[x].append(d)
    cands = {p for docs in index.values() if len(docs) > 1
             for p in combinations(sorted(docs), 2)}
    return {(a, b) for a, b in cands
            if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= threshold}


def minhash(results: str, data: str) -> tuple[float, list[str]]:
    name = "dedup_minhash_clusters"
    got = _load(results, name)
    if got is None:
        return 0.0, [f"{name}: no output collected"]
    docs = pq.read_table(os.path.join(data, "documents.parquet")).to_pydict()
    texts = dict(zip(docs["doc_id"], docs["text"]))
    ids = got["id"].tolist()
    if len(ids) != len(set(ids)) or set(ids) != set(texts):
        return 0.0, [f"{name}: clusters do not partition the {len(texts)} doc ids"]
    label = dict(zip(ids, got["cluster_id"].tolist()))
    problems = []
    if not (got["is_canonical"] == (got["id"] == got["cluster_id"])).all():
        problems.append(f"{name}: is_canonical disagrees with id == cluster_id")
    pairs = true_pairs(texts, MINHASH_THRESHOLD)
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    members = defaultdict(set)
    for d, c in label.items():
        members[c].add(d)
    for c, ms in members.items():
        if c != min(ms):
            problems.append(f"{name}: cluster {c} is not labelled by its smallest id")
        seen, stack = {c}, [c]
        while stack:  # walk true pairs inside the cluster
            for n in adj[stack.pop()] & ms:
                if n not in seen:
                    seen.add(n)
                    stack.append(n)
        if seen != ms:
            problems.append(f"{name}: cluster {c} is not connected by true pairs")
    hits = sum(label[a] == label[b] for a, b in pairs)
    return (hits / len(pairs) if pairs else 1.0), problems[:5]


# -- SemDeDup ------------------------------------------------------------------

def semdedup(results: str, data: str) -> list[str]:
    name = "dedup_semantic_semdedup"
    got = _load(results, name)
    if got is None:
        return [f"{name}: no output collected"]
    ids, vecs = _vectors(data)
    if sorted(got["vec_id"].tolist()) != sorted(ids.tolist()):
        return [f"{name}: output rows are not the {len(ids)} vec ids"]
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    row = {v: i for i, v in enumerate(ids.tolist())}
    problems = []
    for c, grp in got.groupby("cluster_id"):
        kept = unit[[row[v] for v in grp.loc[grp["keep"], "vec_id"]]]
        dropped = unit[[row[v] for v in grp.loc[~grp["keep"], "vec_id"]]]
        if len(kept) > 1:
            sims = kept @ kept.T
            np.fill_diagonal(sims, -1.0)
            if sims.max() >= SEMDEDUP_TAU + SIM_EPS:
                problems.append(f"{name}: cluster {c} keeps a pair at {sims.max():.6f}")
        if len(dropped):
            best = (dropped @ kept.T).max(axis=1) if len(kept) else np.full(len(dropped), -1.0)
            if best.min() < SEMDEDUP_TAU - SIM_EPS:
                problems.append(f"{name}: cluster {c} drops a row with no kept mate "
                                f">= tau ({best.min():.6f})")
    return problems


# -- task graph ----------------------------------------------------------------

def task_graph(values: list, data: str, width: int) -> list[str]:
    import graph

    x = pq.read_table(os.path.join(data, "array.parquet"))["x"].to_pylist()
    want = graph.expected(x, width)
    bad = [v for v in values if v != want]
    if not values:
        return ["task_graph: no gather results"]
    return [f"task_graph: {len(bad)} of {len(values)} gathers != {want} (e.g. {bad[0]})"] \
        if bad else []
