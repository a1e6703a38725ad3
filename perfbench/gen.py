"""Seeded input generator for the benchmark workloads.

Everything here is plain numpy/pyarrow: the same ``(workload, seed,
scale)`` always writes byte-identical files, and no Spark is involved, so
generation stays outside every timed window. Each generator returns a
``truth`` dict with what was planted (topics, near-duplicate groups, ingest
copies), which the output checks compare against.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SYL = ("ka", "lo", "mi", "nu", "pe", "ri", "sa", "tu", "ve", "zo", "bra", "dri",
        "fen", "gul", "hax", "jor", "kel", "mop", "nix", "qua", "rus", "tav", "wes", "yil")
STOP = ("the", "a", "and", "of", "to", "in", "is", "it", "on", "for", "with", "as")
LANGS = ("en", "de", "fr", "es", "zh")
# the fixed query terms of search_tfidf_topk and search_bm25_stored
QUERY_TERMS = ("table", "scan", "join", "stream", "window", "batch", "vector",
               "hash", "group")

_DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                         ("lang", pa.string()), ("source", pa.string()),
                         ("n_chars", pa.int64())])


def pseudo_words(rng: np.random.Generator, n: int, tag: str = "") -> list[str]:
    """``n`` distinct lowercase pseudo-words (3-4 syllables), optionally
    suffixed with ``tag`` so two vocabularies never collide."""
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(3, 5))
        w = "".join(_SYL[i] for i in rng.integers(0, len(_SYL), k)) + tag
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1)
    return p / p.sum()


def _write_docs(path: str, rows: list[tuple[int, str, str, str]]) -> None:
    ids, texts, langs, srcs = (list(c) for c in zip(*rows))
    tbl = pa.table({"doc_id": ids, "text": texts, "lang": langs, "source": srcs,
                    "n_chars": [len(t) for t in texts]}, schema=_DOC_SCHEMA)
    pq.write_table(tbl, path)


def _mutate(rng: np.random.Generator, words: list[str], vocab: list[str],
            frac: float) -> list[str]:
    out = list(words)
    n = max(1, int(round(frac * len(out))))
    for i in rng.choice(len(out), n, replace=False):
        out[i] = vocab[int(rng.integers(len(vocab)))]
    return out


# ---------------------------------------------------------------- lda_books


def gen_books(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Books-shaped corpus: few long documents, each drawn from one of
    ``k`` planted topics (its own vocabulary) mixed with a shared
    background vocabulary, stopwords and punctuation. Four topics under
    the engine's k=5 leave EM a spare topic: with five, it merged two
    planted topics on about one seed in eight, which made topic purity
    jump between seeds."""
    k, n_books = 4, max(10, int(round(24 * scale)))
    words_per_book = max(2000, int(round(4000 * scale)))
    rng = np.random.default_rng([seed, 1])
    out_dir = os.path.join(out_dir, "books")
    topic_vocab = [pseudo_words(rng, 150, tag=str(t)) for t in range(k)]
    background = pseudo_words(rng, 1500, tag="x")
    os.makedirs(out_dir, exist_ok=True)
    topics = [i % k for i in range(n_books)]
    rng.shuffle(topics)
    names = []
    for b, t in enumerate(topics):
        kind = rng.choice(3, words_per_book, p=[0.65, 0.25, 0.10])
        tw = np.asarray(topic_vocab[t])[rng.integers(0, 150, words_per_book)]
        bw = np.asarray(background)[rng.choice(1500, words_per_book, p=_zipf_p(1500))]
        sw = np.asarray(STOP)[rng.integers(0, len(STOP), words_per_book)]
        words = np.where(kind == 0, tw, np.where(kind == 1, bw, sw))
        lines = []
        for start in range(0, words_per_book, 12):
            chunk = " ".join(words[start:start + 12])
            lines.append(chunk[:1].upper() + chunk[1:] + ("." if start % 36 else ","))
        name = f"book_{b:03d}.txt"
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        names.append(name)
    return {"books": names, "topics": topics, "k": k}


# -------------------------------------------------------------- dedup_graph


def gen_dedup_graph(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """``documents`` with planted near-duplicate chains, TPC-H-shaped
    ``orders``/``lineitem``/``part`` for the graph kernels, and ingest
    batches for the incremental signature store."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = pseudo_words(rng, 4000)
    n_unique = max(60, int(round(500 * scale)))
    rows: list[tuple[int, str, str, str]] = []
    groups: list[list[int]] = []

    def add(words, lang):
        rows.append((len(rows), " ".join(words), lang, f"src{len(rows) % 5}"))
        return len(rows) - 1

    def fresh():
        return [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(40, 90)))]

    for _ in range(n_unique):
        add(fresh(), LANGS[int(rng.integers(len(LANGS)))])
    # near-dup chains: each member is a light edit of the previous one, so
    # the chain is connected through consecutive pairs and its length sets
    # the number of connected-component rounds
    for _ in range(max(8, int(round(60 * scale)))):
        lang = LANGS[int(rng.integers(len(LANGS)))]
        words = fresh()
        members = [add(words, lang)]
        for _ in range(int(rng.integers(1, 5))):
            words = _mutate(rng, words, vocab, 0.03)
            members.append(add(words, lang))
        groups.append(members)
    # interleave so planted groups are not contiguous id ranges
    perm = rng.permutation(len(rows))
    remap = {int(old): new for new, old in enumerate(perm)}
    rows = sorted(((remap[i], t, lg, s) for i, t, lg, s in rows), key=lambda r: r[0])
    groups = [sorted(remap[m] for m in g) for g in groups]
    _write_docs(os.path.join(out_dir, "documents.parquet"), rows)
    _write_tpch(out_dir, rng, scale)
    batches = _write_ingest_batches(os.path.join(out_dir, "ingest"), rng, vocab, scale)
    return {"groups": groups, "n_docs": len(rows), **batches}


def _write_tpch(out_dir: str, rng: np.random.Generator, scale: float) -> None:
    n_cust = max(100, int(round(800 * scale)))
    n_part = max(100, int(round(600 * scale)))
    n_orders = n_cust * 10
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
        "p_type": ["ECONOMY"] * n_part,
        "p_size": pa.array(rng.integers(1, 50, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + rng.random(n_part) * 1000, 2)),
    }), os.path.join(out_dir, "part.parquet"))
    dates = (np.datetime64("1995-01-01") + rng.integers(0, 2000, n_orders)).astype("datetime64[us]")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": ["F"] * n_orders,
        "o_totalprice": pa.array(np.round(rng.random(n_orders) * 4e5, 2)),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": ["3-MEDIUM"] * n_orders,
    }), os.path.join(out_dir, "orders.parquet"))
    per_order = rng.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    okeys = np.repeat(np.arange(n_orders), per_order)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 50, n_li).astype("float64")),
        "l_extendedprice": pa.array(np.round(rng.random(n_li) * 9e4, 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
        "l_returnflag": ["N"] * n_li,
        "l_linestatus": ["O"] * n_li,
        "l_shipdate": pa.array(np.repeat(dates, per_order), pa.timestamp("us")),
    }), os.path.join(out_dir, "lineitem.parquet"))


def _write_ingest_batches(out_dir: str, rng: np.random.Generator, vocab: list[str],
                          scale: float) -> dict:
    """Ingest batches with disjoint doc ids. From the second batch on, a
    share of each batch is light edits of earlier batches' documents
    (planted drops); the rest is fresh text (planted survivors)."""
    os.makedirs(out_dir, exist_ok=True)
    n_batches, per_batch = 2, max(40, int(round(150 * scale)))
    history: list[list[str]] = []  # earlier batches' fresh documents only
    names, copies, uniques = [], [], []
    next_id = 0
    for b in range(n_batches):
        rows, fresh = [], []
        for _ in range(per_batch):
            if history and rng.random() < 0.25:
                words = _mutate(rng, history[int(rng.integers(len(history)))], vocab, 0.02)
                copies.append(next_id)
            else:
                words = [vocab[i] for i in rng.integers(0, len(vocab), int(rng.integers(40, 90)))]
                uniques.append(next_id)
                fresh.append(words)
            rows.append((next_id, " ".join(words), "en", "ingest"))
            next_id += 1
        history.extend(fresh)
        name = f"b{b:02d}"
        os.makedirs(os.path.join(out_dir, name))
        _write_docs(os.path.join(out_dir, name, "documents.parquet"), rows)
        names.append(name)
    return {"ingest_batches": names, "ingest_copies": copies, "ingest_uniques": uniques}


# --------------------------------------------------------------- ann_search


def gen_ann(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """``embeddings`` around planted cluster centres and short
    ``documents`` that mix the fixed search terms into a larger vocabulary."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_vec, dim, n_centres = max(300, int(round(800 * scale))), 64, 16
    centres = rng.normal(size=(n_centres, dim))
    labels = rng.integers(0, n_centres, n_vec)
    emb = (centres[labels] + 0.35 * rng.normal(size=(n_vec, dim))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    vocab = pseudo_words(rng, 600)
    words = np.asarray(list(QUERY_TERMS) + vocab)
    p = np.concatenate([np.full(len(QUERY_TERMS), 0.02), _zipf_p(len(vocab)) * 0.82])
    p /= p.sum()
    n_docs = max(150, int(round(1000 * scale)))
    rows = []
    for d in range(n_docs):
        toks = words[rng.choice(len(words), int(rng.integers(15, 50)), p=p)]
        rows.append((d, " ".join(toks), "en", f"src{d % 5}"))
    _write_docs(os.path.join(out_dir, "documents.parquet"), rows)
    return {"n_vec": n_vec}


def gen_dedup_graph_ann(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    return {"dedup": gen_dedup_graph(os.path.join(out_dir, "dedup"), seed, scale),
            "ann": gen_ann(os.path.join(out_dir, "ann"), seed, scale)}


GENERATORS = {"lda_books": gen_books, "dedup_graph_ann": gen_dedup_graph_ann}


def generate(workload: str, out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """Write the inputs of ``workload`` under ``out_dir`` and return the
    planted truth (also saved as ``truth.json`` beside the inputs)."""
    truth = GENERATORS[workload](out_dir, seed, scale)
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth
