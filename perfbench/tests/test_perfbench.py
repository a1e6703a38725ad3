"""Tests for the benchmark's own code (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
from spans import COUNTERS, Span, covered, self_times  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_byte_identical_per_seed(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, a, 5, scale=0.25)
    gen.generate(workload, b, 5, scale=0.25)
    gen.generate(workload, c, 6, scale=0.25)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def _span(idx, parent, start, end, layer="x"):
    return Span(idx, layer, f"s{idx}", parent, "r", start, end)


def test_self_time_on_hand_built_tree():
    # root [0,10]; children [1,3] and [2,6] overlap -> cover [1,6];
    # grandchild [4,5] lies inside child 2; child [9,12] sticks out of root
    spans = [_span(0, None, 0, 10), _span(1, 0, 1, 3), _span(2, 0, 2, 6),
             _span(3, 2, 4, 5), _span(4, 0, 9, 12)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(4 - 1)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3)
    assert covered([(5, 6)], 0, 1) == 0


def _fake_spans():
    names = [("app", "run_training", None), ("lda", "train_lda", 0), ("vectorize", "vectorize", 0),
             ("app", "run_scoring", None), ("lda", "load_newest_model", 3),
             ("similarity", "build_ivf_index", None), ("similarity", "knn_cosine_ivf_stored", None),
             ("search", "search_bm25_stored", None), ("dedup", "dedup_minhash_clusters", None),
             ("graph", "_hash_min_cc", 8), ("sources", "load_table", 8)]
    spans = []
    for i, (layer, name, parent) in enumerate(names):
        sp = Span(i, layer, name, parent, "r", float(i), float(i) + 0.5)
        sp.counters = dict.fromkeys((*COUNTERS, "scan_s"), 1.0)
        spans.append(sp)
    return spans


def test_emitted_metric_names_match_benchmark_json():
    per_layer = {m["name"] for m in SPEC["per_layer"]}
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    m = metrics.layer_metrics(_fake_spans(), em_iterations=50)
    layers = run.per_layer([{**m, **dict.fromkeys(metrics.EXTRAS, 0.0)}], [0.1])
    ends = run.end_to_end([{"run_s": 1.0, "write_s": 0.4, "read_s": 0.6}], [1.0, 2.0, 3.0],
                          100.0, 10, 0, [1.0])
    for name in list(layers) + list(ends):
        assert NAME.fullmatch(name), name
    assert set(layers) == per_layer
    assert set(ends) == e2e
    assert len(per_layer) + len(e2e) == len(SPEC["per_layer"]) + len(SPEC["end_to_end"])


def test_layer_metrics_split_own_counters_by_layer():
    m = metrics.layer_metrics(_fake_spans(), em_iterations=50)
    assert m["app.jobs"] == 2 and m["lda.jobs"] == 2 and m["graph.stages"] == 1
    assert m["lda.em_s_per_iter"] == pytest.approx(0.5 / 50)
    assert m["lda.score_s"] == pytest.approx(0.5 - 0.5)
    # the probe's bytes include its own only (it has no children here)
    assert m["similarity.bytes_read_per_probe"] == 1.0


# ------------------------------------------------- checks reject corruption


def test_topic_report_check_rejects_lost_or_duplicated_books():
    good = [{"main_topic": 0, "n_docs": 2, "docs": ["0", "1"]},
            {"main_topic": 1, "n_docs": 1, "docs": ["2"]}]
    assert checks.check_topic_report(good, 3, 3) == []
    lost = [{"main_topic": 0, "n_docs": 2, "docs": ["0", "1"]}]
    assert checks.check_topic_report(lost, 3, 3)
    dup = good + [{"main_topic": 2, "n_docs": 1, "docs": ["2"]}]
    assert checks.check_topic_report(dup, 3, 3)
    assert checks.topic_purity(good, [0, 0, 1]) == 1.0
    assert checks.topic_purity(good, [0, 1, 1]) == pytest.approx(2 / 3)


def test_expected_vocabulary_detects_a_changed_vocabulary():
    texts = ["Alpha beta, beta! the gamma", "beta alpha"]
    want = checks.expected_vocabulary(texts, ["the"], r"[,!]")
    assert want == ["beta", "alpha", "gamma"]
    assert checks.expected_vocabulary(texts + ["delta"], ["the"], r"[,!]") != want


def _clusters():
    return pd.DataFrame({"doc_id": [0, 1, 2, 3], "cluster_id": [0, 0, 2, 2],
                         "is_canonical": [True, False, True, False]})


def test_cluster_checks_reject_non_canonical_labels():
    assert checks.check_clusters(_clusters(), 4) == []
    bad = _clusters().assign(cluster_id=[1, 1, 2, 2], is_canonical=[False, True, True, False])
    assert checks.check_clusters(bad, 4)
    flag = _clusters().assign(is_canonical=[True, True, True, False])
    assert checks.check_clusters(flag, 4)
    assert checks.check_clusters(_clusters().iloc[:3], 4)
    assert checks.dup_recall(_clusters(), [[0, 1], [1, 2]]) == 0.5


def test_ingest_check_rejects_surviving_copy_and_store_mismatch():
    ids, copies, uniques = [[0, 1], [2, 3]], [3], [0, 1, 2]
    good = [[0, 1], [2]]
    store = {"b00": [0, 1], "b01": [2]}
    assert checks.check_ingest(good, ids, copies, uniques, store) == []
    assert checks.check_ingest([[0, 1], [2, 3]], ids, copies, uniques, {"b00": [0, 1], "b01": [2, 3]})
    assert checks.check_ingest([[0], [2]], ids, copies, uniques, {"b00": [0], "b01": [2]})
    assert checks.check_ingest(good, ids, copies, uniques, {"b00": [0, 1], "b01": []})


def test_knn_check_rejects_wrong_cosine_and_self_match():
    rng = np.random.default_rng(0)
    emb = rng.normal(size=(30, 8)).astype(np.float32)
    want = checks.exact_topk(emb, 3, 5)
    x = emb.astype(np.float64) / np.linalg.norm(emb.astype(np.float64), axis=1, keepdims=True)
    rows = [(q, n, round(float(x[q] @ x[n]), 6), r + 1) for q in range(3) for r, n in enumerate(want[q])]
    df = pd.DataFrame(rows, columns=["query_id", "neighbor_id", "cosine_sim", "rank"])
    assert checks.check_knn(df, emb, 3, 5) == []
    assert checks.recall_at_k(df, want) == 1.0
    wrong = df.copy()
    wrong.loc[0, "cosine_sim"] += 0.01
    assert checks.check_knn(wrong, emb, 3, 5)
    selfm = df.copy()
    selfm.loc[0, "neighbor_id"] = 0
    assert checks.check_knn(selfm, emb, 3, 5)
    assert checks.recall_at_k(selfm, want) < 1.0


def test_oracle_comparison_rejects_changed_rows(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]}), str(tmp_path / "t.parquet"))
    want = checks.oracle("SELECT k, v * 2 AS w FROM t", str(tmp_path), ("t",))
    got = pd.DataFrame({"k": [3, 1, 2], "w": [4.0, 1.0, 2.5]})
    assert checks.compare_rows(got, want) == []
    assert checks.compare_rows(got.assign(w=[4.0, 1.0, 2.6]), want)
    assert checks.compare_rows(got.iloc[:2], want)
    assert checks.compare_rows(got.rename(columns={"w": "x"}), want)
