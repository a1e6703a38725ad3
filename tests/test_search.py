"""TF-IDF search: self-retrieval sanity + determinism + top-k contract.
Plus ANN quality: measured recall floors for the LSH and IVF approximate
paths against exact ground truth (the only way their green status bounds
result *quality*, not just determinism)."""

import numpy as np
import pytest

from spark_text_clustering_spark.catalog import load_table
from spark_text_clustering_spark.operators.search import search_corpus

from .conftest import SF_SMALL


def test_search_self_retrieval(spark):
    """Querying with a document's own text must rank that document #1
    (cosine(v, v) = 1 is maximal)."""
    docs = load_table(spark, SF_SMALL, "documents")
    sample = docs.limit(1).collect()[0]
    out = search_corpus(spark, SF_SMALL, [sample["text"]], k=3).collect()
    assert out, "no results"
    top = [r for r in out if r["rank"] == 1][0]
    # the exact same text may exist under several doc_ids; top score must be
    # (near) 1.0 and the original doc must appear in the top ranks
    assert top["score"] >= 0.999
    assert sample["doc_id"] in [r["doc_id"] for r in out]


def test_search_topk_contract_and_determinism(spark):
    out1 = search_corpus(spark, SF_SMALL, ["table scan join", "stream window"], k=5).collect()
    out2 = search_corpus(spark, SF_SMALL, ["table scan join", "stream window"], k=5).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in rows)
    assert key(out1) == key(out2)
    by_q = {}
    for r in out1:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_ivf_stored_index_matches_per_query_fit(spark):
    """The stored partitioned IVF index (same quantizer seed) must return
    exactly the per-query-fit IVF results."""
    from spark_text_clustering_spark.operators.similarity import (
        knn_cosine_ivf,
        knn_cosine_ivf_stored,
    )
    from .conftest import SF_ORACLE

    live = {tuple(r) for r in knn_cosine_ivf(spark, SF_ORACLE).collect()}
    stored = {tuple(r) for r in knn_cosine_ivf_stored(spark, SF_ORACLE).collect()}
    assert stored == live


def _exact_topk_sets(spark, sf_dir):
    """query_id -> set(neighbor_id) from the oracle-checked exact operator."""
    from spark_text_clustering_spark.operators.similarity import knn_cosine_exact

    out = {}
    for r in knn_cosine_exact(spark, sf_dir).collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(exact: dict, approx: dict) -> float:
    return sum(
        len(nb & approx.get(q, set())) / len(nb) for q, nb in exact.items()
    ) / len(exact)


def test_ann_recall_ivf(spark):
    """Measured recall@5 of the IVF probe vs exact brute force, pinned at
    floors observed on the near-random testdata embeddings (worst case for
    a coarse quantizer — real corpora cluster tighter):

      sf0.01: nprobe=4 -> 0.48, nprobe=8 -> 0.80, nprobe=16 -> 1.00
      sf0.1:  nprobe=4 -> 0.58, nprobe=8 -> 0.86, nprobe=16 -> 1.00

    nprobe == n_clusters must DEGENERATE TO EXACT (probing every partition
    is brute force) — asserted as set equality, which also cross-checks the
    oracle-verified exact operator against the IVF scoring path."""
    from spark_text_clustering_spark.operators.similarity import knn_cosine_ivf
    from .conftest import SF_ORACLE

    exact = _exact_topk_sets(spark, SF_ORACLE)
    assert exact, "exact ground truth is empty"

    by_probe = {
        p: {} for p in (4, 8, 16)
    }
    for p in by_probe:
        for r in knn_cosine_ivf(spark, SF_ORACLE, nprobe=p).collect():
            by_probe[p].setdefault(r["query_id"], set()).add(r["neighbor_id"])

    assert _recall(exact, by_probe[4]) >= 0.40
    assert _recall(exact, by_probe[8]) >= 0.75
    # recall must not degrade as the probe widens (each probe set is a
    # superset of candidates)
    assert _recall(exact, by_probe[8]) >= _recall(exact, by_probe[4])
    assert by_probe[16] == exact  # full probe == brute force, exactly


def test_ann_recall_lsh(spark):
    """Pair-recall of the LSH bucket join vs exact pair enumeration at a
    threshold matched to the data (cos >= 0.4 ⇔ euclid <= sqrt(1.2) on
    unit vectors). Measured 0.983 with 4 hash tables / 1.000 with 8 at
    sf0.01 — pinned at 0.9 / 0.95. Precision must be exact (the bucket
    join post-filters on true distance, so no pair below the threshold
    may appear)."""
    from pyspark.sql import functions as F
    from spark_text_clustering_spark.operators.similarity import knn_cosine_lsh
    from .conftest import SF_ORACLE

    rows = (
        load_table(spark, SF_ORACLE, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(mat, axis=1)
    ids, mat = ids[nrm > 0], mat[nrm > 0] / nrm[nrm > 0, None]
    cos = mat @ mat.T
    iu = np.triu_indices(len(ids), 1)

    t_cos = 0.4
    true_pairs = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(*iu)
        if cos[i, j] >= t_cos
    }
    assert true_pairs, "threshold admits no true pairs — test is vacuous"
    thr = float(np.sqrt(2 - 2 * t_cos))

    for n_tables, floor in ((4, 0.90), (8, 0.95)):
        found = {
            (int(r["id_a"]), int(r["id_b"]))
            for r in knn_cosine_lsh(
                spark, SF_ORACLE, euclid_threshold=thr, num_hash_tables=n_tables
            ).collect()
        }
        recall = len(found & true_pairs) / len(true_pairs)
        assert recall >= floor, f"nht={n_tables}: recall {recall:.3f} < {floor}"
        # precision: every returned pair really is within the threshold
        # (tiny tolerance for the euclid<->cos float roundtrip at the edge)
        near_true = {
            (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
            for i, j in zip(*iu)
            if cos[i, j] >= t_cos - 1e-9
        }
        assert found <= near_true


def test_int8_quantization_cosine_error_bounded(spark):
    """The int8 quantization docstring claims ~0.3% cosine error at d=64 —
    measure it through the operator's real output (parse q8/scale back,
    dequantize, compare pairwise cosines against float embeddings).
    Measured at sf0.01: mean 0.0008, p99 0.0027, max 0.0047 — pinned at
    mean<=0.002 / max<=0.01."""
    from pyspark.sql import functions as F
    from spark_text_clustering_spark.operators.similarity import (
        embedding_quantize_int8,
    )
    from .conftest import SF_ORACLE

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF_ORACLE, "embeddings")
        .where(F.col("embedding").isNotNull())
        .collect()
    }
    quant = {
        r["vec_id"]: (r["scale"], np.array(r["q8"].split(","), dtype=np.float64))
        for r in embedding_quantize_int8(spark, SF_ORACLE).collect()
        if r["vec_id"] in emb
    }
    ids = sorted(
        i for i in quant if np.linalg.norm(emb[i]) > 0 and quant[i][0] > 0
    )
    M = np.array([emb[i] for i in ids])
    D = np.array([quant[i][1] * quant[i][0] / 127.0 for i in ids])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    Dn = D / np.linalg.norm(D, axis=1, keepdims=True)

    rng = np.random.default_rng(42)
    idx = rng.integers(0, len(ids), size=(20_000, 2))
    c_true = np.einsum("ij,ij->i", Mn[idx[:, 0]], Mn[idx[:, 1]])
    c_q = np.einsum("ij,ij->i", Dn[idx[:, 0]], Dn[idx[:, 1]])
    err = np.abs(c_true - c_q)
    assert err.mean() <= 0.002, f"mean cosine err {err.mean():.5f}"
    assert err.max() <= 0.01, f"max cosine err {err.max():.5f}"


def test_ivf_stored_index_scan_partition_prunes(spark):
    """Probing the stored index must show cluster partition filters in the
    scan — the directory-pruning property that makes IVF cheap at scale."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.similarity import build_ivf_index
    from .conftest import SF_ORACLE

    index_path, _ = build_ivf_index(spark, SF_ORACLE)
    probe = spark.read.parquet(index_path).where(F.col("cluster").isin([1, 3]))
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cluster" in plan


def test_pq_stored_index_matches_memoized(spark):
    """The stored-parquet PQ index (codebooks + code table read back from
    disk, no retrain/re-encode) must return exactly the memoized
    `knn_cosine_pq` results — both run the shared `_pq_adc_rerank` probe
    whose shortlist is the global ADC top-RERANK, deterministic given the
    code-table CONTENT regardless of its partitioning."""
    from spark_text_clustering_spark.operators.similarity import (
        knn_cosine_pq,
        knn_cosine_pq_stored,
    )
    from .conftest import SF_ORACLE

    live = {tuple(r) for r in knn_cosine_pq(spark, SF_ORACLE).collect()}
    stored = {tuple(r) for r in knn_cosine_pq_stored(spark, SF_ORACLE).collect()}
    assert stored == live


def test_ann_recall_pq(spark):
    """Measured recall@5 of the PQ ADC + exact-re-rank pipeline vs exact
    brute force: 1.00 at sf0.01 / 0.96 at sf0.1 with m=8 subspaces,
    k=256 centroids (8-byte codes, 64x compression), shortlist 100.
    Pinned at 0.9 on the oracle SF. Also pins determinism (seeded
    training + memoized codebooks) and the output contract (TOP_K rows
    per query, rank 1..k)."""
    from spark_text_clustering_spark.operators.similarity import TOP_K, knn_cosine_pq
    from .conftest import SF_ORACLE

    exact = _exact_topk_sets(spark, SF_ORACLE)
    assert exact, "exact ground truth is empty"
    got: dict = {}
    rows = knn_cosine_pq(spark, SF_ORACLE).collect()
    for r in rows:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert _recall(exact, got) >= 0.9
    for q, s in got.items():
        assert len(s) == TOP_K
    rows2 = knn_cosine_pq(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_ann_recall_ivfpq(spark):
    """IVF+PQ composition: measured recall@5 0.80 (sf0.01) / 0.84 (sf0.1)
    at nprobe=8/16 clusters — statistically the same as IVF alone at the
    same nprobe (0.80/0.86), i.e. the PQ compressed-code scan + exact
    re-rank stage costs NO recall beyond the coarse pruning. Pinned at
    0.7; probing everything with PQ must still recall >= the default."""
    from spark_text_clustering_spark.operators.similarity import knn_cosine_ivfpq
    from .conftest import SF_ORACLE

    exact = _exact_topk_sets(spark, SF_ORACLE)
    assert exact, "exact ground truth is empty"
    got: dict = {}
    for r in knn_cosine_ivfpq(spark, SF_ORACLE).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert _recall(exact, got) >= 0.7
    full: dict = {}
    for r in knn_cosine_ivfpq(spark, SF_ORACLE, nprobe=16).collect():
        full.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert _recall(exact, full) >= _recall(exact, got)


def test_ivfpq_stored_index_matches_memoized(spark):
    """The stored-parquet IVF+PQ index (centroids + codebooks + cluster-
    partitioned code table read from disk) must return exactly the
    memoized `knn_cosine_ivfpq` results, and probing it must show cluster
    partition filters in the scan — the directory-pruning property."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.similarity import (
        build_ivfpq_index,
        knn_cosine_ivfpq,
        knn_cosine_ivfpq_stored,
    )
    from .conftest import SF_ORACLE

    live = {tuple(r) for r in knn_cosine_ivfpq(spark, SF_ORACLE).collect()}
    stored = {tuple(r) for r in knn_cosine_ivfpq_stored(spark, SF_ORACLE).collect()}
    assert stored == live

    base = build_ivfpq_index(spark, SF_ORACLE)
    probe = spark.read.parquet(f"{base}/codes").where(F.col("cluster").isin([1, 3]))
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "cluster" in plan


def test_lsh_stored_index_matches_live(spark):
    """The stored LSH bucket index (same model seed/bucket length, read
    back from partitioned parquet) must return the same neighbor-pair set
    as the live approxSimilarityJoin, with cosine values equal at the
    operator's 6-decimal output precision; probing it must show
    partition filters (the directory-pruning property)."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.similarity import (
        build_lsh_index,
        knn_cosine_lsh,
        knn_cosine_lsh_stored,
    )
    from .conftest import SF_ORACLE

    live = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in knn_cosine_lsh(spark, SF_ORACLE).collect()
    }
    stored = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in knn_cosine_lsh_stored(spark, SF_ORACLE).collect()
    }
    assert stored.keys() == live.keys()
    for k in live:
        assert abs(stored[k] - live[k]) <= 1e-6, (k, stored[k], live[k])

    base = build_lsh_index(spark, SF_ORACLE)
    probe = spark.read.parquet(f"{base}/buckets").where(
        (F.col("t") == 0) & (F.col("bucket") == 0)
    )
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "bucket" in plan


def test_kmeans_cluster_embeddings_properties(spark):
    """Seeded k-means summary: deterministic across runs, k non-empty
    clusters covering every vector, and total within-cluster SSE strictly
    below the k=1 (grand-centroid) SSE — the minimal 'it actually
    clustered' bar for a seeded iterative op with no SQL oracle."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.catalog import load_table
    from spark_text_clustering_spark.operators.similarity import (
        _KM_K,
        kmeans_cluster_embeddings,
    )

    from .conftest import SF_ORACLE

    r1 = kmeans_cluster_embeddings(spark, SF_ORACLE).collect()
    r2 = kmeans_cluster_embeddings(spark, SF_ORACLE).collect()
    key = lambda rows: sorted((x["cluster"], x["n_vecs"], x["sse"]) for x in rows)
    assert key(r1) == key(r2)  # same seed -> same model
    assert len(r1) == _KM_K
    assert all(x["n_vecs"] > 0 for x in r1)

    emb = (
        load_table(spark, SF_ORACLE, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("e"))
    )
    n_vec = emb.count()
    assert sum(x["n_vecs"] for x in r1) == n_vec
    # k=1 SSE: sum ||x - mean||^2 = sum ||x||^2 - n*||mean||^2
    d = len(emb.first()["e"])
    sums = emb.select(
        *[F.sum(F.col("e")[i]).alias(f"s{i}") for i in range(d)],
        F.sum(
            F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("ss"),
    ).collect()[0]
    mean_sq = sum((sums[f"s{i}"] / n_vec) ** 2 for i in range(d))
    sse_k1 = sums["ss"] - n_vec * mean_sq
    sse_k = sum(x["sse"] for x in r1)
    # near-random 64-dim testdata: k·d centroid params can only explain a
    # few percent of pure noise variance (measured 0.928× at sf0.01), so
    # pin a strict-but-honest improvement bound rather than a big one
    assert sse_k < 0.97 * sse_k1, (sse_k, sse_k1)


def test_pca_variance_and_projection_properties(spark):
    """PCA: explained variance non-increasing, the top-k axes capture at
    least their proportional share (k/d) of the total variance on the
    near-random 64-dim data, and the variances are deterministic within a
    session."""
    from spark_text_clustering_spark.operators.similarity import embedding_pca_variance

    from .conftest import SF_ORACLE

    ev = [
        r["explained_variance"]
        for r in embedding_pca_variance(spark, SF_ORACLE)
        .orderBy("component")
        .collect()
    ]
    assert len(ev) == 8
    assert all(ev[i] >= ev[i + 1] - 1e-9 for i in range(len(ev) - 1))
    # top-8 principal axes must capture at least their proportional share
    assert sum(ev) >= 8 / 64
    # determinism within the session
    ev2 = [
        r["explained_variance"]
        for r in embedding_pca_variance(spark, SF_ORACLE)
        .orderBy("component")
        .collect()
    ]
    assert ev == ev2


def test_stored_ann_honors_n_queries_past_sample_bound(spark, tmp_path):
    """round-7 ADVICE regression: the stored PQ/IVF+PQ probes memoize a
    driver query sample collected with vec_id < _PQ_SAMPLE (512); asking
    for MORE queries than that must re-collect and honor the argument,
    not silently truncate the query set to the cached bound. Exercised on
    a synthetic 700-vector corpus (the shipped test SFs stop at 500
    vectors, below the bound)."""
    import os

    from spark_text_clustering_spark.operators.similarity import (
        _PQ_SAMPLE,
        knn_cosine_ivfpq,
        knn_cosine_ivfpq_stored,
        knn_cosine_pq_stored,
    )

    rng = np.random.default_rng(7)
    n, d = 700, 16
    want = _PQ_SAMPLE + 88  # 600: strictly between the bound and n
    rows = [
        (i, [float(x) for x in rng.normal(size=d)], int(i % 5))
        for i in range(n)
    ]
    sf = str(tmp_path / "sf_bigvec")
    os.makedirs(sf)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(os.path.join(sf, "embeddings.parquet"))

    for fn in (knn_cosine_pq_stored, knn_cosine_ivfpq, knn_cosine_ivfpq_stored):
        out = fn(spark, sf, n_queries=want)
        got = out.select("query_id").distinct().count()
        assert got == want, f"{fn.__name__}: {got} != {want}"
    # and the small-query path still works after the big one (the memoized
    # sample must not have been poisoned by the fresh oversized collect)
    small = knn_cosine_pq_stored(spark, sf, n_queries=20)
    assert small.select("query_id").distinct().count() == 20


def test_bm25_stored_matches_live(spark):
    """The stored-inverted-index probe must reproduce the live
    search_bm25_scores EXACTLY — same docs, same n_terms_hit, same
    rounded scores (they share one DuckDB oracle, so any drift here
    would also be a driver red)."""
    from spark_text_clustering_spark.operators.search import (
        search_bm25_scores,
        search_bm25_stored,
    )
    from .conftest import SF_ORACLE

    live = sorted(
        tuple(r) for r in search_bm25_scores(spark, SF_ORACLE).collect()
    )
    stored = sorted(
        tuple(r) for r in search_bm25_stored(spark, SF_ORACLE).collect()
    )
    assert len(live) > 0
    assert stored == live


def test_bm25_stored_postings_scan_partition_prunes(spark):
    """The probe's postings scan must carry bucket partition filters —
    the directory-pruning property that bounds per-query cost by posting
    list size, not corpus size."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.search import (
        _BM25_BUCKETS,
        _BM25_TERMS,
        build_bm25_index,
    )
    from .conftest import SF_ORACLE

    base = build_bm25_index(spark, SF_ORACLE)
    probed = sorted(
        r["b"]
        for r in spark.createDataFrame([(t,) for t in _BM25_TERMS], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(_BM25_BUCKETS)).alias("b"))
        .distinct()
        .collect()
    )
    assert len(probed) <= len(_BM25_TERMS) < _BM25_BUCKETS
    probe = spark.read.parquet(f"{base}/postings").where(F.col("bucket").isin(probed))
    plan = spark._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "bucket" in plan


def test_silhouette_bounds_and_totals(spark):
    """Silhouette is in [-1, 1] by construction; per-cluster counts must
    sum to the corpus size (every non-null vector scored exactly once)."""
    from spark_text_clustering_spark.catalog import load_table
    from spark_text_clustering_spark.operators.similarity import kmeans_silhouette
    from .conftest import SF_ORACLE

    rows = kmeans_silhouette(spark, SF_ORACLE).collect()
    assert rows, "no clusters scored"
    for r in rows:
        assert -1.0 <= r["mean_silhouette"] <= 1.0, r
    n = (
        load_table(spark, SF_ORACLE, "embeddings")
        .where("embedding IS NOT NULL")
        .count()
    )
    assert sum(r["n_points"] for r in rows) == n


def _stored_vs_live(kind):
    """(build fn, stored key, live key) for one index kind."""
    from spark_text_clustering_spark.operators import search as SE
    from spark_text_clustering_spark.operators import similarity as S

    if kind == "bm25":
        return SE.build_bm25_index, SE.search_bm25_stored, SE.search_bm25_scores
    return (
        getattr(S, f"build_{kind}_index"),
        getattr(S, f"knn_cosine_{kind}_stored"),
        getattr(S, f"knn_cosine_{kind}"),
    )


@pytest.mark.parametrize("kind", ["ivf", "pq", "ivfpq", "lsh", "bm25"])
def test_stored_probe_rebuilds_a_removed_index_dir(spark, kind):
    """A cached index whose base dir has vanished (a tmp cleaner, a
    manual rm) must be rebuilt, not probed at a dead path: the stored
    key then returns exactly the live key's rows."""
    import os
    import shutil

    from .conftest import SF_ORACLE

    build, stored, live = _stored_vs_live(kind)
    built = build(spark, SF_ORACLE)
    base = os.path.dirname(built[0]) if isinstance(built, tuple) else built
    shutil.rmtree(base)
    got = sorted(tuple(r) for r in stored(spark, SF_ORACLE).collect())
    assert got == sorted(tuple(r) for r in live(spark, SF_ORACLE).collect())
    assert got, f"{kind}: empty result proves nothing"


@pytest.mark.parametrize("kind", ["ivf", "ivfpq", "lsh"])
def test_index_builds_release_their_fit_checkpoints(spark, tmp_path, kind):
    """Each build on a fresh corpus copy must leave no checkpoint pinned:
    its fit-time localCheckpoint (the KMeans / LSH fit input) is dead
    once the index is written, so it must not stay pinned for the rest
    of the session."""
    import shutil

    build = _stored_vs_live(kind)[0]
    sc = spark.sparkContext

    def fresh_copy(i):
        sf = tmp_path / f"sf{i}"
        sf.mkdir()
        for table in ("embeddings", "documents"):
            shutil.copyfile(f"{SF_SMALL}/{table}.parquet", sf / f"{table}.parquet")
        return str(sf)

    build(spark, fresh_copy(0))  # warm
    # compare ids, not counts: the context cleaner may release blocks that
    # earlier tests pinned while these builds run
    before = set(sc._jsc.getPersistentRDDs())
    for i in range(1, 3):
        assert build(spark, fresh_copy(i)) is not None
    pinned = set(sc._jsc.getPersistentRDDs()) - before
    assert not pinned, f"build_{kind}_index left fit-time checkpoints pinned: {sorted(pinned)}"
