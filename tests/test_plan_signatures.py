"""Physical-plan SIGNATURE regression harness (round 6).

test_plans.py asserts hand-picked properties of ~40 plans; this harness
complements it with a broad, automatic tripwire: for EVERY registered
key (registry-driven since round 7b; explicit exclusions with reasons
below), extract a structural signature of the physical plan (join
strategies, exchange count, window/codegen presence, Python stages)
and diff it against the committed goldens in
``goldens/plan_signatures.json``.

A signature change is not automatically a bug — Spark upgrades and
deliberate rewrites move plans — but it must be a CONSCIOUS change:
regenerate the goldens with

    python -m tests.test_plan_signatures   # rewrites the goldens file

and commit the diff alongside the code that caused it. What this
catches: a lost broadcast (dim outgrew the threshold estimate), a new
unplanned exchange, a filter that stopped pushing down far enough to
keep codegen fused, a Python stage sneaking into a JVM-only plan.

Keys whose callables RUN work at construction (streaming replays,
iterative trainers) are excluded — their plan is not the interesting
artifact and building it is expensive.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from .conftest import SF_SMALL

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "goldens", "plan_signatures.json")

# Round 7b: the audit is REGISTRY-DRIVEN — every registered key is
# signature-audited unless excluded here with a reason. A new key that
# lands without regenerated goldens fails the test ("missing from
# goldens"), so the audit can never silently lag the registry again.
EXCLUDED_KEYS = {
    # construction-EAGER keys (bench.py EAGER_KEYS): the callable RUNS
    # the workload at plan-construction time (streaming replays against
    # persistent stores, driver-side training loops) and returns a
    # lineage-severed result frame — the plan is a createDataFrame /
    # artifact scan, not the interesting artifact, and building it
    # costs seconds of stateful replay per test run
    "bpe_train_merges": "driver-side BPE merge loop runs at construction",
    "bpe_encode_corpus": "trains the merge table at construction (~10 s)",
    "stream_ingest_dedup": "foreachBatch replay at construction",
    "stream_lang_id_serving": "multi-microbatch serving replay at construction",
    "multimodal_binary_ingest": "binaryFile landing write at construction",
    "heavy_hitters_window_stream": "stateful stream replay at construction",
    "incremental_dedup_minhash": "3-batch persistent-store loop at construction",
    "unigram_train_pieces": "unigram-LM EM loop runs at construction",
    "unigram_encode_corpus": "trains pieces at construction",
    "wordpiece_train_merges": "driver-side WordPiece merge loop at construction",
    "wordpiece_encode_corpus": "trains the vocab at construction (~10 s)",
    "assoc_itemsets_fp": "FPGrowth fit at construction; result is model state",
    "stream_drift_psi": "streaming replay + store merge at construction",
    "stream_ewma_serving": "stateful replay + epoch-store merge at construction",
    "ann_recall_eval": "runs 4 ANN index builds + exact kNN at construction",
}


def audited_keys() -> list:
    from spark_text_clustering_spark.registry import QUERIES

    return sorted(set(QUERIES) - set(EXCLUDED_KEYS))


def plan_signature(plan: str) -> dict:
    """Structural fingerprint of a formatted physical plan. Counts the
    operators whose presence/number encodes the scale design; ignores
    ids, column numbers, and sizes, which churn harmlessly."""
    return {
        "exchanges_hash": len(re.findall(r"Arguments: hashpartitioning", plan)),
        "exchanges_range": len(re.findall(r"Arguments: rangepartitioning", plan)),
        "exchanges_single": len(re.findall(r"Arguments: SinglePartition", plan)),
        "broadcast_hash_join": plan.count("BroadcastHashJoin"),
        "broadcast_nl_join": plan.count("BroadcastNestedLoopJoin"),
        "sort_merge_join": plan.count("SortMergeJoin"),
        "shuffled_hash_join": plan.count("ShuffledHashJoin"),
        "window": len(re.findall(r"\bWindow\b", plan)),
        "take_ordered": plan.count("TakeOrderedAndProject"),
        "python_stages": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        # NOTE: no codegen-span metric — under AQE the pre-execution
        # formatted plan carries no codegen ids; test_plans.py asserts
        # codegen fusion where it matters, on the plans that show it
        "expand": plan.count("Expand"),  # rollup/cube/grouping sets
        "generate": plan.count("Generate"),  # explode family
        "cartesian": plan.count("CartesianProduct"),  # must stay 0
    }


_SIG_MEMO: dict = {}


def _current_signatures(spark) -> dict:
    """Signatures for every audited key; memoized per session so the
    two tests below don't pay the ~1 min construction sweep twice."""
    memo_key = id(spark)
    if memo_key in _SIG_MEMO:
        return _SIG_MEMO[memo_key]
    from spark_text_clustering_spark.registry import QUERIES

    out = {}
    for key in audited_keys():
        df = QUERIES[key](spark, SF_SMALL)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out[key] = plan_signature(plan)
    _SIG_MEMO[memo_key] = out
    return out


def test_plan_signatures_match_goldens(spark):
    assert os.path.exists(GOLDEN_PATH), (
        "no committed plan goldens — regenerate with "
        "`python -m tests.test_plan_signatures`"
    )
    with open(GOLDEN_PATH) as f:
        golden = json.load(f)
    got = _current_signatures(spark)
    diffs = []
    for key in audited_keys():
        if key not in golden:
            diffs.append(f"{key}: missing from goldens (regenerate)")
            continue
        if got[key] != golden[key]:
            changed = {
                k: (golden[key].get(k), got[key][k])
                for k in got[key]
                if golden[key].get(k) != got[key][k]
            }
            diffs.append(f"{key}: {changed}")
    assert not diffs, (
        "physical-plan signatures changed (golden, current); if deliberate, "
        "regenerate goldens and commit:\n" + "\n".join(diffs)
    )


# keys whose plan legitimately contains a BroadcastNestedLoopJoin: every
# one is a deliberately BROADCAST-BOUNDED cross join (a model-sized side
# ships to executors — the documented ANN/theta-join design), never an
# unbounded big x big product
_BNLJ_WHITELIST = {
    "knn_cosine_exact",  # 20-row broadcast query set x corpus
    "join_range_theta",  # range-theta join: broadcast side is the dim
    "kmeans_assign_exact",  # k=8 centroid rows broadcast x corpus
    "kmeans_silhouette",  # k=8 centroids + k-row cluster stats, both broadcast
    "search_bm25_scores",  # broadcast query-term rows x posting lists
    "search_bm25_stored",  # same shape: 1-row stats frame cross-broadcast twice
    "funnel_conversion",  # three 1-row step aggregates cross-joined
    "funnel_windowed",  # same: three 1-row step counts cross-joined
    "stats_chi2_independence",  # r-row x c-row margin grid cross-join (20 cells)
    "stats_anova_oneway",  # 1-row totals frame cross-broadcast x k groups
    "stats_levene_brownforsythe",  # same shape on the |x - median| moments
    "stats_pairwise_contrasts",  # k-row group frame theta-self-joined (k(k-1)/2) + 1-row MSW cross-broadcast
    "stats_cramers_v",  # chi2's r-row x c-row margin grid + 1-row n frame cross-broadcast (same 28-cell bound)
    "drift_psi",  # 1-row ref/cur stats frame cross-broadcast into binning
    "drift_ks_binned",  # same binning subplan; stats cross-broadcasts recur
    "drift_js_binned",  # same shared binning stage: 1-row stats frames cross-broadcast
    # k=8 broadcast centroid rows x corpus; the assignment subplan (one
    # bounded crossJoin) recurs in each branch (pair sides + anti-join)
    "dedup_semantic_kmeans",
    # round 7b (registry-driven audit widened coverage to every key):
    "array_intersect_semi",  # 1-row collected top-10 array x docs (text.py:314)
    "hll_sketch_build_merge",  # per-shard 1-row sketch aggregates cross-merged
    "quantile_exact_bracket",  # 3-row bracket table broadcast range-join x values
    "tpch_q11_important_stock",  # scalar subquery: 1-row global threshold
    "tpch_q22_global_sales",  # scalar subquery: 1-row avg(c_acctbal)
}


def test_no_unbounded_products(spark):
    """Hard anti-pattern gate (round 7): no audited plan may contain a
    CartesianProduct, and BroadcastNestedLoopJoin only where the design
    broadcasts a model-sized side (whitelist above). A CartesianProduct
    at 100 TB is |left|x|right| — always a bug in this engine."""
    got = _current_signatures(spark)
    offenders = {k: s["cartesian"] for k, s in got.items() if s["cartesian"]}
    assert not offenders, f"CartesianProduct in plans: {offenders}"
    bad_bnlj = {
        k: s["broadcast_nl_join"]
        for k, s in got.items()
        if s["broadcast_nl_join"] and k not in _BNLJ_WHITELIST
    }
    assert not bad_bnlj, (
        f"unexpected BroadcastNestedLoopJoin (bounded-by-design? add to "
        f"whitelist with rationale): {bad_bnlj}"
    )


if __name__ == "__main__":  # regenerate the goldens
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from spark_text_clustering_spark.session import get_session

    spark = get_session("plan-goldens", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(os.path.dirname(GOLDEN_PATH), exist_ok=True)
    with open(GOLDEN_PATH, "w") as f:
        json.dump(_current_signatures(spark), f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {GOLDEN_PATH}")
    spark.stop()
