"""Output checks. Each takes plain Python/pandas results (already collected
from Spark), runs outside every timed window and returns a list of failure
messages: empty means the check passed."""

from __future__ import annotations

import math
import os
import re
from collections import Counter

import numpy as np


def _canon(v):
    if isinstance(v, (np.integer, bool, np.bool_)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return v


def compare_rows(got, want, tol: float = 2e-6) -> list[str]:
    """Order-insensitive comparison of two pandas frames: same columns, same
    row count, equal values with floats within ``tol``."""
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != oracle {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows != oracle {len(want)}"]

    def key(row):  # integer/string columns decide the order; floats only break ties
        return tuple((v is None, round(v, 4) if isinstance(v, float) else v) for v in row)

    g = sorted((tuple(_canon(v) for v in r) for r in got.itertuples(index=False)), key=key)
    w = sorted((tuple(_canon(v) for v in r) for r in want.itertuples(index=False)), key=key)
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if abs(x - y) > tol:
                    return [f"row {a} != oracle {b}"]
            elif x != y:
                return [f"row {a} != oracle {b}"]
    return []


def oracle(sql: str, in_dir: str, tables: tuple[str, ...]):
    """Run a registry DuckDB oracle over the parquet tables of ``in_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(in_dir, t)}.parquet')")
        return con.sql(sql).df()
    finally:
        con.close()


# ---------------------------------------------------------------- lda_books


def expected_vocabulary(texts: list[str], stopwords, clean_pattern: str) -> list[str]:
    """The vocabulary the vectorizer must build: every surviving token,
    ranked by corpus count descending, then token ascending."""
    stop = set(stopwords)
    counts: Counter = Counter()
    for t in texts:
        counts.update(w for w in re.sub(clean_pattern, " ", t.lower()).split() if w not in stop)
    return [w for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]


def check_topic_report(report: list[dict], corpus_size: int, n_books: int) -> list[str]:
    """The books-per-topic report conserves the corpus: every document
    appears exactly once and the counts add up to ``corpus_size``."""
    errs = []
    if corpus_size != n_books:
        errs.append(f"corpus_size {corpus_size} != {n_books} books")
    if sum(r["n_docs"] for r in report) != corpus_size:
        errs.append("report n_docs do not sum to corpus_size")
    docs = [int(d) for r in report for d in r["docs"]]
    if sorted(docs) != list(range(n_books)):
        errs.append("report does not list every document exactly once")
    if any(r["n_docs"] != len(r["docs"]) for r in report):
        errs.append("report n_docs disagrees with its docs list")
    return errs


def topic_purity(report: list[dict], planted: list[int]) -> float:
    """Share of books whose main topic's majority planted topic is their own."""
    hit = sum(max(Counter(planted[int(d)] for d in r["docs"]).values())
              for r in report if r["docs"])
    return hit / len(planted)


# -------------------------------------------------------------- dedup_graph


def check_clusters(df, n_docs: int) -> list[str]:
    """(doc_id, cluster_id, is_canonical) covers every document once, each
    cluster is labelled by its minimum member id, and exactly that member
    is canonical."""
    errs = []
    if sorted(df["doc_id"].tolist()) != list(range(n_docs)):
        errs.append("cluster output does not list every document exactly once")
    mins = df.groupby("cluster_id")["doc_id"].min()
    if not (mins.index.to_numpy() == mins.to_numpy()).all():
        errs.append("cluster ids are not min-id canonical")
    canon = df["doc_id"] == df["cluster_id"]
    if not (df["is_canonical"].astype(bool) == canon).all():
        errs.append("is_canonical disagrees with doc_id == cluster_id")
    return errs


def dup_recall(df, groups: list[list[int]]) -> float:
    """Share of planted near-duplicate pairs (consecutive chain members)
    that share a cluster."""
    lab = dict(zip(df["doc_id"], df["cluster_id"]))
    pairs = [(g[i], g[i + 1]) for g in groups for i in range(len(g) - 1)]
    return sum(lab[a] == lab[b] for a, b in pairs) / len(pairs)


def check_ingest(survivors: list[list[int]], batch_ids: list[list[int]], copies, uniques,
                 stored: dict[str, list[int]]) -> list[str]:
    """Every planted copy of an earlier document is dropped, every fresh
    document survives, and the store holds exactly each batch's survivors."""
    errs = []
    got = {d for s in survivors for d in s}
    if not got <= {d for b in batch_ids for d in b}:
        errs.append("survivors include ids that were never ingested")
    if lost := set(uniques) - got:
        errs.append(f"{len(lost)} fresh documents were dropped")
    if kept := set(copies) & got:
        errs.append(f"{len(kept)} planted copies survived")
    for i, s in enumerate(survivors):
        if sorted(stored.get(f"b{i:02d}", [])) != sorted(s):
            errs.append(f"store partition b{i:02d} does not hold exactly the batch survivors")
    return errs


# --------------------------------------------------------------- ann_search


def exact_topk(emb: np.ndarray, n_queries: int, k: int) -> list[list[int]]:
    """Exact cosine top-``k`` neighbours (self excluded, id ascending on
    ties) of the first ``n_queries`` vectors."""
    x = emb.astype(np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = x[:n_queries] @ x.T
    out = []
    for q in range(n_queries):
        s = np.round(sims[q], 6)
        s[q] = -np.inf
        order = np.lexsort((np.arange(len(s)), -s))
        out.append([int(i) for i in order[:k]])
    return out


def check_knn(df, emb: np.ndarray, n_queries: int, k: int) -> list[str]:
    """Each query has ranks 1..k, never itself, and reported cosines equal
    the exact cosine of the pair."""
    errs = []
    x = emb.astype(np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    for q, g in df.groupby("query_id"):
        if sorted(g["rank"].tolist()) != list(range(1, k + 1)):
            errs.append(f"query {q}: ranks are not 1..{k}")
        if (g["neighbor_id"] == q).any():
            errs.append(f"query {q}: returned itself")
        exact = x[g["neighbor_id"].to_numpy()] @ x[int(q)]
        if np.abs(exact - g["cosine_sim"].to_numpy()).max() > 1e-5:
            errs.append(f"query {q}: cosine differs from exact")
    if df["query_id"].nunique() != n_queries:
        errs.append(f"{df['query_id'].nunique()} queries answered, expected {n_queries}")
    return errs


def recall_at_k(df, truth: list[list[int]]) -> float:
    hit = 0
    for q, want in enumerate(truth):
        got = set(df.loc[df["query_id"] == q, "neighbor_id"].tolist())
        hit += len(got & set(want))
    return hit / sum(len(w) for w in truth)
