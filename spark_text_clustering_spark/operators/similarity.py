"""Similarity search over embedding columns (north star, SURVEY §2.9).

Exact brute-force top-k cosine (oracle-checkable) plus four approximate
index kinds: random-projection LSH, an IVF-style coarse quantizer
(KMeans partitions), product quantization (PQ) and their IVF+PQ
composition. The reference has no vector search; its closest analogue
is the argmax over topic-distribution vectors (T5,
LDALoader.scala:131-140), which is also implemented here.

Scale design (100 TB):
* Exact: queries are broadcast against a partitioned candidate set; each
  executor scans its shard once; per-query top-k via window rank on
  (query_id) — shuffle carries only |queries|·k rows after a map-side
  rank prune. Dot products are JVM ``zip_with``/``aggregate`` — no Python.
* LSH: `BucketedRandomProjectionLSH` on L2-normalized vectors turns
  cosine into euclidean; the (hash-table, bucket) self-join bounds the
  pair space.
* IVF: KMeans centroids (tiny, broadcast) → assign partition → probe the
  nearest few partitions only — classic FAISS-IVF reshaped as a join.
* PQ / IVF+PQ: 8-byte codes scanned by asymmetric distance lookups, then
  an exact re-rank of a candidate-sized shortlist.

Index lifecycle: every approximate kind is ONE ``fit`` (the driver-side
model plus the assignment/code tables), one save/load pair over the
kind's parquet layout, and ONE ``probe``. The live key is fit → probe,
``build_*_index`` is fit → save, and the ``*_stored`` key is load →
probe, so stored and live return equal rows by construction. Built
indexes live in one artifact cache (``index_artifact``) keyed
(applicationId, sf_dir, kind, params), which BM25 (search.py) shares.
"""

from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass
from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._registry import Registry
from ..catalog import load_table, spread
from ..ckpt import ckpt_tracked, drop_ckpt

REG = Registry()

N_QUERIES = 10
TOP_K = 5
_KNN_SCHEMA = "query_id long, neighbor_id long, cosine_sim double, rank int"
_PAIR_SCHEMA = "id_a long, id_b long, cosine_sim double"


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, e, nrm) over the embeddings. Null embeddings carry no
    vector and zero-norm vectors have undefined cosine, so both are
    excluded by definition — in every exact and approximate variant
    alike."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
        .withColumn("nrm", _l2norm(F.col("e")))
        .where(F.col("nrm") > 0)
    )


def _unit(vecs: DataFrame) -> DataFrame:
    """(vec_id, e) with ``e`` L2-normalized. Catalyst inlines ``nrm``
    into the per-element lambda, so this projection costs O(d²) per row
    and is evaluated once per reference: spread a single-split frame
    BEFORE it when the result feeds a parallel stage."""
    return vecs.select("vec_id", F.transform("e", lambda x: x / F.col("nrm")).alias("e"))


def _top_k(scored: DataFrame) -> DataFrame:
    """Per-query top-TOP_K of (query_id, neighbor_id, cos), ranked on the
    ROUNDED score: the displayed 6-dp rounding must also decide rank, or two docs whose cosines differ by only
    summation-order/libm ulps at the k-boundary could order differently
    across engines (Spark vs DuckDB oracle vs the GEMM twin)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("cos", 6)), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine_sim"), "rank")
    )


@REG.register(
    "argmax_array",
    oracle="""
    SELECT vec_id,
           CAST(list_position(embedding, list_aggregate(embedding, 'max')) - 1 AS BIGINT)
             AS argmax_idx
    FROM embeddings
    """,
)
def argmax_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax over an array column (reference T5: main-topic argmax loop,
    LDALoader.scala:131-140 — first-index tie rule, 0-based; the
    reference's last-index ``<=`` rule is a documented divergence)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        (F.array_position(F.col("embedding"), F.array_max("embedding")) - 1)
        .cast("long")
        .alias("argmax_idx"),
    )


_KNN_ORACLE = f"""
WITH ex AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.v * b.v) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND b.vec_id <> a.vec_id
  WHERE a.vec_id < {N_QUERIES}
  GROUP BY a.vec_id, b.vec_id),
scored AS (
  SELECT d.query_id, d.neighbor_id, d.dot / (qn.nrm * nn.nrm) AS cos
  FROM dots d
  JOIN norms qn ON qn.vec_id = d.query_id AND qn.nrm > 0
  JOIN norms nn ON nn.vec_id = d.neighbor_id AND nn.nrm > 0)
SELECT query_id, neighbor_id,
       round(cos, 6) AS cosine_sim,
       CAST(rn AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(cos, 6) DESC, neighbor_id) AS rn
      FROM scored)
WHERE rn <= {TOP_K}
"""


@REG.register("knn_cosine_exact", oracle=_KNN_ORACLE)
def knn_cosine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the first N_QUERIES vectors.

    Brute-force baseline: broadcast the (tiny) query set against the full
    candidate table, JVM-side dot products in double precision, per-query
    top-k via window rank with neighbor-id tiebreak. The candidate scan is
    embarrassingly parallel; the only shuffle is the |queries|-keyed rank.
    """
    # zero-norm vectors are excluded (mirrored in the oracle via nrm > 0
    # join conditions — DuckDB's x/0.0 is NULL, which would otherwise
    # survive into ranked rows)
    emb = _vectors(spark, sf_dir)
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("nrm").alias("qn")
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), F.col("nrm").alias("cn")
    )
    pairs = cand.crossJoin(F.broadcast(q)).where(F.col("neighbor_id") != F.col("query_id"))
    return _top_k(
        pairs.select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )


_EMB_DEDUP_ORACLE = """
WITH ex AS (
  SELECT vec_id, label,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings),
norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.v * b.v) AS dot
  FROM ex a JOIN ex b ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id),
scored AS (
  SELECT d.id_a, d.id_b, d.dot / (na.nrm * nb.nrm) AS cos
  FROM dots d JOIN norms na ON na.vec_id = d.id_a AND na.nrm > 0
  JOIN norms nb ON nb.vec_id = d.id_b AND nb.nrm > 0)
SELECT id_a, id_b, round(cos, 6) AS cosine_sim
FROM scored WHERE cos >= 0.9
"""


@REG.register("dedup_embedding_cosine", oracle=_EMB_DEDUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ 0.9 within a label block.

    Blocking on ``label`` stands in for the LSH/IVF candidate stage — the
    exact-verify join only runs inside blocks, which is the scalable shape
    (never the full n² cross join).
    """
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    ).select("vec_id", "label", _as_double("embedding").alias("e"))
    emb = emb.withColumn("nrm", _l2norm(F.col("e"))).where(F.col("nrm") > 0)
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("label").alias("la"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("label").alias("lb"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, (F.col("la") == F.col("lb")) & (F.col("id_a") < F.col("id_b")))
    scored = pairs.select(
        "id_a", "id_b", (_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))).alias("cos")
    )
    return scored.where(F.col("cos") >= 0.9).select(
        "id_a", "id_b", F.round("cos", 6).alias("cosine_sim")
    )


@REG.register("knn_cosine_gemm", oracle=_KNN_ORACLE)  # round 13: exact by
# construction, so it carries knn_cosine_exact's oracle (identical output
# was already equality-asserted in tests; the BLAS-vs-JVM summation-order
# difference is ~1 ulp, invisible at the 1e-6 rounding both the compare
# and the emitted cosine_sim column apply)
def knn_cosine_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine via numpy GEMM inside mapInPandas: the query
    matrix (Q×d, model-sized) is captured in the closure and broadcast once
    per executor; each Arrow batch of candidates does ONE matrix multiply
    (C·Qᵀ) in BLAS instead of per-pair JVM lambda folds.

    Same semantics as `knn_cosine_exact` (tests assert identical output) —
    this is the high-throughput path when d is large: BLAS does ~10-50×
    the FLOPs/s of per-element codegen. Each batch emits only its PARTIAL
    top-k per query (np.argpartition), so the shuffle into the final
    global window carries batches×Q×k rows instead of n×Q — at 100 TB
    that is the difference between a broadcast-sized rank input and a
    corpus-sized one (top-k of per-partition top-k == global top-k).
    """
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    ).where(_l2norm(_as_double("embedding")) > 0)
    q_rows = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # model-sized (N_QUERIES × d), the broadcast query set
    if not q_rows:  # empty corpus/query set -> empty result, not a crash
        return spark.createDataFrame([], _KNN_SCHEMA)
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def score_batches(batches):
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(list(pdf["embedding"]), dtype=np.float64)
            if len(c_mat) == 0:
                continue
            c_norm = np.linalg.norm(c_mat, axis=1)
            cos = (c_mat @ q_mat.T) / np.outer(c_norm, q_norm)  # (batch, Q)
            n, q = cos.shape
            # self-pairs masked to -inf BEFORE the partial top-k so a
            # query's own row can never displace a genuine neighbor
            np.copyto(cos, -np.inf, where=c_ids[:, None] == q_ids[None, :])
            kk = min(TOP_K, n)
            # batch-local top-k per query (column): unordered partial
            # select is O(n) vs O(n log n) sort; global order is restored
            # by the window rank downstream
            part = np.argpartition(-cos, kk - 1, axis=0)[:kk]  # (kk, Q)
            out = pd.DataFrame(
                {
                    "query_id": np.broadcast_to(q_ids, (kk, q)).reshape(-1),
                    "neighbor_id": c_ids[part].reshape(-1),
                    "cos": np.take_along_axis(cos, part, axis=0).reshape(-1),
                }
            )
            yield out[np.isfinite(out["cos"].to_numpy())]

    return _top_k(
        emb.select("vec_id", "embedding").mapInPandas(
            score_batches, schema="query_id long, neighbor_id long, cos double"
        )
    )


@REG.register(
    "embedding_quantize_int8",
    oracle="""
    WITH scaled AS (
      SELECT vec_id,
             list_aggregate(list_transform(embedding, x -> abs(x)), 'max') AS max_abs
      FROM embeddings)
    SELECT e.vec_id,
           round(CAST(s.max_abs AS DOUBLE), 6) AS scale,
           array_to_string(
             list_transform(e.embedding,
                            x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127.0
                                           / CAST(s.max_abs AS DOUBLE), 0) AS BIGINT)
                                      AS VARCHAR)),
             ',') AS q8
    FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (scale = max|x|, q =
    round(127·x/scale)) — 4× storage cut for a 100 TB vector store with
    ~0.3% cosine error at d=64. Pure JVM array math; the oracle recomputes
    identically (both round half-away on doubles). The quantized vector is
    serialized comma-joined so the output schema stays atomic for external
    hashers (see tests/test_registry_schemas.py); a production sink would
    keep the packed array/binary form."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(as_double, lambda x: F.abs(x)))
    return emb.select(
        "vec_id",
        F.round(max_abs, 6).alias("scale"),
        F.concat_ws(
            ",",
            F.transform(
                as_double,
                # zero vector: scale 0 and all-zero codes (ANSI division by
                # zero would otherwise abort the whole job)
                lambda x: F.when(
                    max_abs > 0, F.round(x * 127.0 / max_abs, 0).cast("long")
                )
                .otherwise(F.lit(0))
                .cast("string"),
            ),
        ).alias("q8"),
    )


# ---------------------------------------------------------------------------
# Approximate indexes: one lifecycle (fit → save → load → probe) per kind
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (d=64 -> 8 dims each)
_PQ_K = 256  # centroids per subspace -> one byte code each; 8 B/vector
_PQ_SAMPLE = 512  # training sample (model-sized, deterministic prefix)
_PQ_RERANK = 100  # ADC shortlist size fed to the exact re-rank stage


class _Fitted(NamedTuple):
    """What a fit (or a load) hands to its kind's probe."""

    model: dict  # driver-side: centroids / codebooks arrays, or the LSH model
    tables: dict  # table name -> DataFrame: the assignment or code tables
    pinned: set  # fit-time checkpoint ids, dead once the tables are written


def _features(df: DataFrame) -> tuple[DataFrame, set]:
    """``df`` plus the ML ``features`` vector of ``e``, checkpointed.

    when() keeps array_to_vector lazy: Catalyst is free to reorder a
    deterministic UDF above the isNotNull filter (the LSH hash was
    observed evaluating on rows the filter should have removed), so the
    guard lives INSIDE the expression. The checkpoint materializes the
    fit input once (guide §5): KMeans' ~20 iteration jobs otherwise
    re-evaluate the scan+projection lineage per job — measured 14.7 ->
    3.1 s at local[32] with IDENTICAL centers, because localCheckpoint
    changes lineage only, never partitioning, so the seeded k-means||
    init sees the same data in the same places."""
    from pyspark.ml.functions import array_to_vector

    return ckpt_tracked(
        df.withColumn(
            "features", F.when(F.col("e").isNotNull(), array_to_vector(F.col("e")))
        ).where(F.col("features").isNotNull())
    )


def _kmeans(vecs: DataFrame, k: int) -> tuple[np.ndarray, DataFrame]:
    """Seeded coarse quantizer: (centroids, ``vecs`` + its ``cluster``)."""
    from pyspark.ml.clustering import KMeans

    model = KMeans(k=k, seed=42, maxIter=20, featuresCol="features").fit(vecs)
    assigned = model.transform(vecs).withColumnRenamed("prediction", "cluster")
    return np.array(model.clusterCenters()), assigned


def _ivf_fit(spark: SparkSession, sf_dir: str, *, n_clusters: int = 16) -> _Fitted | None:
    """KMeans over the raw vectors; the table is every vector with its
    norm and cluster — partitioned by cluster when stored, so a probe
    reads only its cells at the directory level."""
    emb = _vectors(spark, sf_dir)
    # bounded probe: we only need the exact count when it is <= n_clusters,
    # so scan at most n_clusters+1 rows instead of aggregating the table
    n = emb.limit(n_clusters + 1).count()
    if n < 2:  # KMeans needs k>=2; <2 vectors admit no neighbor pairs
        return None
    vecs, pinned = _features(emb)
    # KMeans aborts when k exceeds the number of points (tiny corpora)
    centroids, assigned = _kmeans(vecs, min(n_clusters, n))
    return _Fitted(
        {"centroids": centroids},
        {"vectors": assigned.select("vec_id", "e", "nrm", "cluster")},
        pinned,
    )


def _ivf_probe(spark, sf_dir, model, tables, *, nprobe: int = 4) -> DataFrame:
    """Each query's nearest ``nprobe`` centroids, ranked on the driver
    (queries and centroids are model-sized), then exact cosine against
    only those cells: the probed cluster ids become a filter on the
    table — directory-level partition pruning on the stored index
    (asserted in tests/test_search.py)."""
    index, cents = tables["vectors"], model["centroids"]
    qc = []
    for r in index.where(F.col("vec_id") < N_QUERIES).select("vec_id", "e", "nrm").collect():
        # the left fold of `_dot`, so scores — and the (score desc,
        # cluster) rank — match the SQL form bit for bit
        score = np.zeros(len(cents))
        for j, x in enumerate(r["e"]):
            score = score + cents[:, j] * x
        ranked = sorted(range(len(cents)), key=lambda c: (-score[c], c))
        qc += [(r["vec_id"], r["e"], r["nrm"], c) for c in ranked[:nprobe]]
    cand = index.where(F.col("cluster").isin(sorted({c for *_, c in qc}))).select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("ce"), F.col("nrm").alias("cn"), "cluster"
    )
    qc_df = spark.createDataFrame(qc, "query_id long, qe array<double>, qn double, cluster int")
    return _top_k(
        F.broadcast(qc_df).join(cand, "cluster")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )


def _pq_sample(vecs: DataFrame) -> list:
    """The model-sized PQ training sample: the unit vectors of every
    vec_id < _PQ_SAMPLE, in scan order (the seeded trainer indexes it)."""
    return [r["e"] for r in vecs.where(F.col("vec_id") < _PQ_SAMPLE).select("e").collect()]


def _pq_train_codebooks(sample: "object", seed: int = 42):
    """Per-subspace k-means (numpy, fixed 10 Lloyd iterations, seeded
    farthest-point-ish init) over an (n, d) sample of NORMALIZED vectors.
    Returns (m, k, d_s) codebooks. Deterministic for the driver's reruns."""
    x = np.asarray(sample, dtype=np.float64)
    n, d = x.shape
    d_s = d // _PQ_M
    rng = np.random.default_rng(seed)
    books = np.empty((_PQ_M, _PQ_K, d_s))
    for s in range(_PQ_M):
        sub = x[:, s * d_s : (s + 1) * d_s]
        idx = rng.choice(n, size=_PQ_K, replace=n < _PQ_K)
        cents = sub[idx].copy()
        for _ in range(10):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(_PQ_K):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(0)
        books[s] = cents
    return books


def _pq_encode(spark: SparkSession, df: DataFrame, books) -> DataFrame:
    """mapInPandas encode of the unit vectors in ``e`` to per-subspace
    nearest-centroid codes (vectorized argmin per subspace — no per-row
    Python), keeping ``vec_id`` and, for IVF+PQ, ``cluster``."""
    keep = [c for c in ("vec_id", "cluster") if c in df.columns]
    d_s = books.shape[2]

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            vecs = np.stack(pdf["e"].to_numpy())
            codes = np.empty((len(pdf), _PQ_M), dtype=np.int64)
            for s in range(_PQ_M):
                sub = vecs[:, s * d_s : (s + 1) * d_s]
                d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(-1)
                codes[:, s] = d2.argmin(1)
            out = {c: pdf[c].to_numpy() for c in keep}
            out["code"] = list(codes)
            yield pd.DataFrame(out)

    schema = "vec_id long, " + ("cluster int, " if "cluster" in keep else "") + "code array<long>"
    return spread(spark, df.select(*keep, "e")).mapInPandas(encode, schema=schema)


def _pq_fit(spark: SparkSession, sf_dir: str) -> _Fitted | None:
    """Codebooks trained on the deterministic sample (driver numpy — PQ
    training is sample-based by design), then one encode pass: the code
    table is 8 B/vector, 64× smaller than the float64 vectors."""
    emb = _unit(_vectors(spark, sf_dir))
    sample = _pq_sample(emb)
    if len(sample) < 2:
        return None
    books = _pq_train_codebooks(sample)
    return _Fitted({"codebooks": books}, {"codes": _pq_encode(spark, emb, books)}, set())


def _ivfpq_fit(
    spark: SparkSession, sf_dir: str, *, n_clusters: int = 16, pq: dict | None = None
) -> _Fitted | None:
    """IVF coarse quantizer over the UNIT vectors + PQ codes of every
    vector, tagged with its cluster. ``pq`` is an already-fitted PQ model
    over the same corpus (its codebooks are a pure function of the same
    seeded sample), so an evaluation that fits both trains them once."""
    vecs, pinned = _features(_unit(_vectors(spark, sf_dir)))
    n = vecs.limit(n_clusters + 1).count()
    sample = _pq_sample(vecs)
    if n < 2 or len(sample) < 2:
        drop_ckpt(vecs, pinned)
        return None
    model = dict(pq) if pq else {"codebooks": _pq_train_codebooks(sample)}
    # the fit input is NORMALIZED, so a tiny corpus can collapse to fewer
    # DISTINCT points than k and crash KMeans init — cap k by the
    # sample's distinct count, and skip KMeans entirely (everything is
    # one cluster) when that count is < 2, since Spark's KMeans rejects k=1
    n_distinct = len({tuple(e) for e in sample})
    if n_distinct < 2:
        model["centroids"] = np.asarray([sample[0]], dtype=np.float64)
        assigned = vecs.withColumn("cluster", F.lit(0))
    else:
        model["centroids"], assigned = _kmeans(vecs, min(n_clusters, n, n_distinct))
    return _Fitted(model, {"codes": _pq_encode(spark, assigned, model["codebooks"])}, pinned)


def _pq_probe(
    spark, sf_dir, model, tables, *, nprobe: int = 8, n_queries: int = N_QUERIES
) -> DataFrame:
    """Query side of PQ and IVF+PQ: ADC over the probed codes, a global
    ADC shortlist, then an exact re-rank.

    Each query probes its ``nprobe`` nearest coarse cells (plain PQ has
    no centroids: one implicit cell holds every code). The probed cells
    become a pushable predicate — directory-level partition pruning on
    the stored code table. Cosine over normalized vectors decomposes per
    subspace, so an ADC score is a sum of m=8 lookups in a per-query
    (m×k) inner-product table (model-sized, shipped in the closure);
    candidates never decompress. The per-(query, cell) pairing happens
    INSIDE the closure (r14: replaces a broadcast probe join that
    expanded every code row once per probing query — ~16x the Arrow
    traffic). The closure emits up to _PQ_RERANK rows per (query, cell,
    batch) — model-sized either way — and the shortlist is
    the GLOBAL ADC top-RERANK under a total (score, id) order, so it is
    independent of how the code table is partitioned."""
    books, codes = model["codebooks"], tables["codes"]
    emb = _unit(_vectors(spark, sf_dir))
    queries = [
        (int(r["vec_id"]), np.asarray(r["e"], dtype=np.float64))
        for r in emb.where(F.col("vec_id") < n_queries).collect()
    ]
    if not queries:
        return spark.createDataFrame([], _KNN_SCHEMA)
    if "centroids" in model:
        cell_qrows: dict[int, list[int]] = {}
        for i, (_qid, qv) in enumerate(queries):
            for c in np.argsort(-(model["centroids"] @ qv))[:nprobe]:
                cell_qrows.setdefault(int(c), []).append(i)
        codes = codes.where(F.col("cluster").isin(sorted(cell_qrows)))
    else:
        cell_qrows = {0: list(range(len(queries)))}
        codes = codes.withColumn("cluster", F.lit(0))
    d_s = books.shape[2]
    adc = np.stack(
        [np.stack([books[s] @ q[s * d_s : (s + 1) * d_s] for s in range(_PQ_M)]) for _, q in queries]
    )
    qids = np.array([qid for qid, _ in queries])

    def adc_score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            clusters = pdf["cluster"].to_numpy()
            all_codes = np.stack(pdf["code"].to_numpy())
            vec_ids = pdf["vec_id"].to_numpy()
            out = {"query_id": [], "neighbor_id": [], "cosine_sim": []}
            for c in np.unique(clusters):
                qrows = cell_qrows.get(int(c))
                if not qrows:
                    continue
                cmask = clusters == c
                ccodes, cids = all_codes[cmask], vec_ids[cmask]  # (n_c, m), (n_c,)
                # one gather per cell: tbl (nq, m, k) indexed by ccodes ->
                # (nq, n_c, m), summed over subspaces -> (nq, n_c)
                gathered = np.take_along_axis(
                    adc[qrows][:, None, :, :], ccodes[None, :, :, None], axis=3
                )[..., 0]
                scores = gathered.sum(-1)
                for ii, qi in enumerate(qrows):
                    qid = int(qids[qi])
                    mask = cids != qid
                    sc, ids = scores[ii][mask], cids[mask]
                    # keep the RERANK depth, not TOP_K: the exact re-rank
                    # needs the full shortlist to recover from
                    # quantization error
                    keep = min(_PQ_RERANK, len(sc))
                    if keep == 0:
                        continue
                    part = np.argpartition(-sc, keep - 1)[:keep]
                    out["query_id"].extend([qid] * keep)
                    out["neighbor_id"].extend(int(i) for i in ids[part])
                    out["cosine_sim"].extend(float(s) for s in sc[part])
            yield pd.DataFrame(out)

    scored = codes.mapInPandas(adc_score, schema="query_id long, neighbor_id long, cosine_sim double")
    shortlist = (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
            ),
        )
        .where(F.col("rnk") <= _PQ_RERANK)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank with the true vectors — candidate-sized, not
    # corpus-sized; both joins are broadcast (shortlist and query set are
    # model-sized)
    qdf = spark.createDataFrame(
        [(qid, [float(x) for x in vec]) for qid, vec in queries], "query_id long, qe array<double>"
    )
    return _top_k(
        emb.join(F.broadcast(shortlist), emb.vec_id == F.col("neighbor_id"))
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "neighbor_id", _dot(F.col("e"), F.col("qe")).alias("cos"))
    )


def _lsh_model(vecs: DataFrame, num_hash_tables: int):
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    return BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.5, numHashTables=num_hash_tables, seed=42
    ).fit(vecs)


def _lsh_fit(spark: SparkSession, sf_dir: str, *, num_hash_tables: int = 4) -> _Fitted | None:
    """Seeded random-projection hashes of every unit vector, ID-ONLY per
    (hash-table, bucket), with the unit vectors kept once alongside
    (round 14: the stored index is ~(1 + tables·id/vec) of the corpus
    instead of ~tables×)."""
    from pyspark.ml.functions import vector_to_array

    emb = _vectors(spark, sf_dir)
    if emb.isEmpty():  # LSH cannot fit on zero rows: empty-in -> empty-out
        return None
    # spread first: the checkpoint freezes the layout, and a single-split
    # corpus would pin the normalization and the hash transform to ONE
    # core (round-14 grain lesson; partitioning never changes the rows)
    vecs, pinned = _features(_unit(spread(spark, emb)))
    model = _lsh_model(vecs, num_hash_tables)
    buckets = (
        model.transform(vecs)
        .select("vec_id", F.posexplode("hashes").alias("t", "hv"))
        .select("vec_id", "t", vector_to_array("hv").getItem(0).cast("long").alias("bucket"))
    )
    return _Fitted(
        {"lsh": model}, {"buckets": buckets, "vectors": vecs.select("vec_id", F.col("e").alias("ne"))}, pinned
    )


def _lsh_load(spark: SparkSession, base: str, *, num_hash_tables: int = 4) -> dict:
    """The random projections are a pure function of (seed, bucket
    length, tables, dimension), so the model is re-derived from the
    stored vectors (one row read) instead of being stored."""
    from pyspark.ml.functions import array_to_vector

    vecs = spark.read.parquet(f"{base}/vectors").select(array_to_vector("ne").alias("features"))
    return {"lsh": _lsh_model(vecs, num_hash_tables)}


def _lsh_probe(spark, sf_dir, model, tables, *, euclid_threshold: float = 1.0) -> DataFrame:
    """`approxSimilarityJoin` over the unit vectors, with each vector's
    hashes rebuilt from the bucket table instead of re-projected: pairs
    sharing any (hash-table, bucket) are candidates, and the model's
    compiled distance filters them before the pair dedup (interpreted
    array lambdas over the ~1.9M sf0.1 candidate pairs were ~3x slower).
    The join's stream side is spread over the session's cores: from a
    single split it ran ~2.6x slower at sf0.1. On unit vectors
    cos = 1 - euclid²/2."""
    from pyspark.ml.functions import array_to_vector

    hashes = tables["buckets"].groupBy("vec_id").agg(
        F.sort_array(F.collect_list(F.struct("t", "bucket"))).alias("tb")
    )
    hashed = (
        tables["vectors"]
        .join(hashes, "vec_id")
        .select(
            "vec_id",
            array_to_vector("ne").alias("features"),
            F.transform("tb", lambda b: array_to_vector(F.array(b["bucket"].cast("double")))).alias("hashes"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    pairs = model["lsh"].approxSimilarityJoin(hashed, hashed, euclid_threshold, distCol="euclid")
    return pairs.where(F.col("datasetA.vec_id") < F.col("datasetB.vec_id")).select(
        F.col("datasetA.vec_id").alias("id_a"),
        F.col("datasetB.vec_id").alias("id_b"),
        F.round(1 - F.col("euclid") * F.col("euclid") / 2, 6).alias("cosine_sim"),
    )


# model arrays are stored one row per leading index: centroids (cluster,
# centroid) and codebooks (s, c, centroid) — a few MB at any scale
_MODEL_AXES = {"centroids": ("cluster",), "codebooks": ("s", "c")}


def _load_arrays(spark: SparkSession, base: str, **_fit_kw) -> dict:
    model = {}
    for part, axes in _MODEL_AXES.items():
        if os.path.isdir(f"{base}/{part}"):
            rows = spark.read.parquet(f"{base}/{part}").collect()  # model-sized
            arr = np.empty(
                tuple(max(r[a] for r in rows) + 1 for a in axes) + (len(rows[0]["centroid"]),)
            )
            for r in rows:
                arr[tuple(r[a] for a in axes)] = r["centroid"]
            model[part] = arr
    return model


class _Kind(NamedTuple):
    fit: Callable  # (spark, sf_dir, **params) -> _Fitted | None
    load: Callable  # (spark, base, **params) -> model
    probe: Callable  # (spark, sf_dir, model, tables, **probe_params) -> DataFrame
    tables: dict  # table dir -> partition columns of its parquet layout
    schema: str  # probe output (also the empty-corpus result)


_KINDS = {
    "ivf": _Kind(_ivf_fit, _load_arrays, _ivf_probe, {"vectors": ("cluster",)}, _KNN_SCHEMA),
    "pq": _Kind(_pq_fit, _load_arrays, _pq_probe, {"codes": ()}, _KNN_SCHEMA),
    "ivfpq": _Kind(_ivfpq_fit, _load_arrays, _pq_probe, {"codes": ("cluster",)}, _KNN_SCHEMA),
    "lsh": _Kind(
        _lsh_fit, _lsh_load, _lsh_probe, {"buckets": ("t", "bucket"), "vectors": ()}, _PAIR_SCHEMA
    ),
}


@dataclass
class IndexArtifact:
    base: str  # the index's directory: one parquet dir per table/model part
    model: dict | None = None  # loaded driver-side model, once a probe needs it


# The ONE artifact cache for every stored index (the vector kinds and BM25).
_INDEX_CACHE: dict[tuple, IndexArtifact] = {}


def index_artifact(
    spark: SparkSession, sf_dir: str, kind: str, params: tuple, build: Callable[[], str | None]
) -> IndexArtifact | None:
    """The ``kind`` index over ``sf_dir``, built by ``build()`` (which
    writes a fresh index and returns its base dir, or None on an empty
    corpus) unless this application already built it. Keyed on the
    applicationId too — an sf_dir-only key would serve a stale index if
    one long-lived process spanned two applications — and a hit whose base dir is gone (a tmp cleaner, a manual rm)
    rebuilds instead of returning a dead path."""
    key = (spark.sparkContext.applicationId, sf_dir, kind, params)
    art = _INDEX_CACHE.get(key)
    if art is None or not os.path.isdir(art.base):
        base = build()
        if base is None:
            return None
        art = _INDEX_CACHE[key] = IndexArtifact(base)
    return art


def _probe(kind: str, spark, sf_dir, fitted: _Fitted | None, **probe_kw) -> DataFrame:
    spec = _KINDS[kind]
    if fitted is None:
        return spark.createDataFrame([], spec.schema)
    return spec.probe(spark, sf_dir, fitted.model, fitted.tables, **probe_kw)


def _live(kind: str, spark, sf_dir, fit_kw: dict, **probe_kw) -> DataFrame:
    """fit → probe: the live key's declared computation is the whole
    index build plus the probe, run FRESH on every call (no cross-call
    memo of corpus-derived work). Fits are
    seeded, so repeated calls return identical rows."""
    return _probe(kind, spark, sf_dir, _KINDS[kind].fit(spark, sf_dir, **fit_kw), **probe_kw)


def _build(kind: str, spark, sf_dir, **fit_kw) -> IndexArtifact | None:
    """fit → save, once per (application, sf_dir, kind, params). The
    fit-time checkpoints are released once the index is written."""
    spec = _KINDS[kind]

    def write() -> str | None:
        fitted = spec.fit(spark, sf_dir, **fit_kw)
        if fitted is None:
            return None
        base = tempfile.mkdtemp(prefix=f"{kind}_index_")
        for part, axes in _MODEL_AXES.items():
            if part in fitted.model:
                arr = fitted.model[part]
                spark.createDataFrame(
                    [(*map(int, i), [float(x) for x in arr[i]]) for i in np.ndindex(arr.shape[:-1])],
                    "".join(f"{a} int, " for a in axes) + "centroid array<double>",
                ).write.mode("overwrite").parquet(f"{base}/{part}")
        for name, df in fitted.tables.items():
            df.write.mode("overwrite").partitionBy(*spec.tables[name]).parquet(f"{base}/{name}")
        drop_ckpt(df, fitted.pinned)
        return base

    return index_artifact(spark, sf_dir, kind, tuple(sorted(fit_kw.items())), write)


def _stored(kind: str, spark, sf_dir, fit_kw: dict | None = None, **probe_kw) -> DataFrame:
    """load → probe against the artifact `_build` wrote. The loaded model
    is cached on the artifact, so a repeated probe only re-reads the
    (pruned) tables — the by-design artifact read."""
    fit_kw = fit_kw or {}
    art = _build(kind, spark, sf_dir, **fit_kw)
    if art is None:
        return _probe(kind, spark, sf_dir, None)
    if art.model is None:
        art.model = _KINDS[kind].load(spark, art.base, **fit_kw)
    tables = {name: spark.read.parquet(f"{art.base}/{name}") for name in _KINDS[kind].tables}
    return _probe(kind, spark, sf_dir, _Fitted(art.model, tables, set()), **probe_kw)


def _base(art: IndexArtifact | None) -> str | None:
    return None if art is None else art.base


@REG.register("knn_cosine_lsh")  # rows-only: LSH is approximate (seeded, deterministic)
def knn_cosine_lsh(
    spark: SparkSession,
    sf_dir: str,
    *,
    euclid_threshold: float = 1.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """Approximate neighbor pairs via random-projection LSH on L2-normalized
    vectors (cosine ≥ ~0.5 ⇔ euclidean ≤ 1.0 after normalization; in
    general cos ≥ t ⇔ euclid ≤ sqrt(2-2t)).

    Scale path for the exact query above: the bucket join restricts
    comparisons to same-bucket candidates. Measured pair-recall vs exact
    enumeration (tests/test_search.py::test_ann_recall_lsh, sf0.01):
    ≥0.97 at cos≥0.4 with 4 hash tables, ≥0.99 with 8 — the keyword args
    let callers trade tables for recall; the registered key uses the
    defaults.
    """
    return _live(
        "lsh", spark, sf_dir, {"num_hash_tables": num_hash_tables}, euclid_threshold=euclid_threshold
    )


def build_lsh_index(spark: SparkSession, sf_dir: str, *, num_hash_tables: int = 4) -> str | None:
    """LSH index build: ``<base>/buckets`` (vec_id partitioned by
    (hash-table, bucket), so a probe reads only its own buckets at the
    directory level) and ``<base>/vectors`` (the unit vectors). Returns
    the base dir, or None on an empty corpus."""
    return _base(_build("lsh", spark, sf_dir, num_hash_tables=num_hash_tables))


@REG.register("knn_cosine_lsh_stored")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_lsh_stored(
    spark: SparkSession,
    sf_dir: str,
    *,
    euclid_threshold: float = 1.0,
    num_hash_tables: int = 4,
) -> DataFrame:
    """LSH neighbor pairs against the STORED bucket index — the same
    probe as `knn_cosine_lsh` over the tables read back from disk. At
    100 TB the bucket join is partition-pruned parquet reads, and the
    index build is a once-per-corpus batch job."""
    return _stored(
        "lsh", spark, sf_dir, {"num_hash_tables": num_hash_tables}, euclid_threshold=euclid_threshold
    )


@REG.register("knn_cosine_ivf")  # rows-only: IVF probe is approximate (seeded, deterministic)
def knn_cosine_ivf(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_clusters: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer partitions the corpus; each
    query probes only its nearest ``nprobe`` partitions.

    The centroid table is tiny → broadcast; candidate scan cost drops by
    ~n_clusters/nprobe vs brute force. This is the 100 TB shape: cluster
    assignment is a one-time batch job, probes are partition-pruned scans.

    Recall@5 vs exact is measured and pinned in
    tests/test_search.py::test_ann_recall_ivf (the testdata embeddings are
    near-random — worst case for a coarse quantizer — so the nprobe→recall
    curve is documented in COVERAGE.md rather than assumed); nprobe ==
    n_clusters provably degenerates to exact brute force and the test
    asserts that equality.
    """
    return _live("ivf", spark, sf_dir, {"n_clusters": n_clusters}, nprobe=nprobe)


def build_ivf_index(spark: SparkSession, sf_dir: str) -> tuple[str, str] | None:
    """IVF index build: every vector with its KMeans cluster, WRITTEN as
    a parquet table partitioned by cluster id, plus a tiny centroids
    table. At 100 TB this is the batch index job; queries then read only
    their probed partitions (directory-level pruning — no index structure
    needed beyond the filesystem layout). Returns (vectors path,
    centroids path), or None when the corpus is empty."""
    base = _base(_build("ivf", spark, sf_dir))
    return None if base is None else (f"{base}/vectors", f"{base}/centroids")


@REG.register("knn_cosine_ivf_stored")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against the STORED partitioned index: the probed cluster
    ids become a partition filter on the index table, so the scan touches
    only nprobe/n_clusters of the data at the directory level (asserted
    in tests/test_search.py). Same fit and probe as `knn_cosine_ivf`."""
    return _stored("ivf", spark, sf_dir)


@REG.register("knn_cosine_pq")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: top-k cosine via asymmetric distance
    computation (ADC) over 8-byte codes.

    This is the 100 TB *memory* story the IVF/LSH variants don't cover: a
    64-dim float64 vector is 512 B; its PQ code is 8 B (one byte per
    8-dim subspace, k=256 centroids) — 64× compression, so a 100 TB
    embedding table scans as ~1.6 TB of codes.

    Pipeline: seeded per-subspace k-means on a deterministic model-sized
    sample, one ``mapInPandas`` encode pass, one ``mapInPandas`` ADC scan
    emitting per-batch partial shortlists, a global shortlist window,
    exact re-rank. Recall@5 vs ``knn_cosine_exact`` is measured and
    pinned in tests/test_search.py::test_ann_recall_pq.
    """
    return _live("pq", spark, sf_dir, {})


def build_pq_index(spark: SparkSession, sf_dir: str) -> str | None:
    """PQ index build: ``<base>/codebooks`` (m×k rows of (s, c, centroid),
    a few MB at any scale) and ``<base>/codes`` (the 8 B/vector code
    table). Returns the base dir, or None on an empty corpus."""
    return _base(_build("pq", spark, sf_dir))


@REG.register("knn_cosine_pq_stored")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_pq_stored(
    spark: SparkSession, sf_dir: str, *, n_queries: int = N_QUERIES
) -> DataFrame:
    """PQ ANN against the STORED parquet index: codebooks and the 8-byte
    code table are read back from disk (no retraining, no re-encode),
    then the same probe as `knn_cosine_pq` runs. A query session reads
    ~1.6 TB of codes instead of 100 TB of vectors, plus a few MB of
    codebooks. The loaded codebooks are cached on the index artifact
    (per application, sf_dir and index params), so repeated probes
    only re-scan the code table."""
    return _stored("pq", spark, sf_dir, n_queries=n_queries)


@REG.register("knn_cosine_ivfpq")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_clusters: int = 16,
    nprobe: int = 8,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """IVF+PQ combined — the FAISS-style architecture an actual 100 TB
    vector store runs: a coarse KMeans quantizer prunes the search to
    ``nprobe`` of ``n_clusters`` partitions (I/O: read 1/2 of the index
    at the defaults), the probed partitions scan 8-byte PQ codes instead
    of 512-byte vectors (memory/bandwidth: 64× less), ADC nominates a
    shortlist, and an exact re-rank of the candidate-sized shortlist
    restores ranking quality. Recall@5 vs exact is measured and pinned
    in tests/test_search.py::test_ann_recall_ivfpq."""
    return _live(
        "ivfpq", spark, sf_dir, {"n_clusters": n_clusters}, nprobe=nprobe, n_queries=n_queries
    )


def build_ivfpq_index(spark: SparkSession, sf_dir: str, *, n_clusters: int = 16) -> str | None:
    """IVF+PQ index build: ``<base>/centroids`` (coarse quantizer),
    ``<base>/codebooks`` (PQ per-subspace centroids) and ``<base>/codes``
    — the 8-byte code table PARTITIONED BY cluster, so a probe reads only
    nprobe/n_clusters of the index at the directory level. Returns the
    base dir, or None on an empty corpus."""
    return _base(_build("ivfpq", spark, sf_dir, n_clusters=n_clusters))


@REG.register("knn_cosine_ivfpq_stored")  # rows-only: approximate (seeded, deterministic)
def knn_cosine_ivfpq_stored(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_clusters: int = 16,
    nprobe: int = 8,
    n_queries: int = N_QUERIES,
) -> DataFrame:
    """IVF+PQ against the STORED parquet index: centroids and codebooks
    are loaded once per artifact, and the union of the queries' probe
    clusters becomes a partition filter on the code table
    (directory-level pruning, asserted in tests/test_search.py). Same
    probe as `knn_cosine_ivfpq`."""
    return _stored(
        "ivfpq", spark, sf_dir, {"n_clusters": n_clusters}, nprobe=nprobe, n_queries=n_queries
    )


_KM_K = 8

_KMEANS_ASSIGN_ORACLE = f"""
WITH ex AS (
  SELECT vec_id,
         CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE embedding IS NOT NULL),
cent AS (SELECT vec_id AS c_id, v, i FROM ex WHERE vec_id < {_KM_K}),
dist AS (
  SELECT e.vec_id, c.c_id, SUM((e.v - c.v) * (e.v - c.v)) AS d2
  FROM ex e JOIN cent c ON e.i = c.i
  GROUP BY e.vec_id, c.c_id)
SELECT vec_id, CAST(c_id AS BIGINT) AS cluster, round(d2, 6) AS dist2
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY d2, c_id) AS rn
      FROM dist)
WHERE rn = 1
"""


@REG.register("kmeans_assign_exact", oracle=_KMEANS_ASSIGN_ORACLE)
def kmeans_assign_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd ASSIGNMENT step (round 6) — the deterministic,
    oracle-able core of k-means: with the first k={_KM_K} vectors as
    initial centroids, assign every vector to its nearest centroid by
    squared euclidean distance (smallest-centroid-id tiebreak).

    This is the relational shape every Lloyd iteration repeats at scale:
    broadcast the k centroid rows, one JVM `zip_with`/`aggregate`
    distance projection over the corpus (no Python), a per-vector argmin
    — the only shuffle is the |vectors|-keyed rank, and the UPDATE step
    is just `groupBy(cluster).agg(avg per dimension)` on this output.
    The full seeded trainer is `kmeans_cluster_embeddings` (rows-only;
    iterative). The reference clusters with LDA; k-means is the obvious
    sibling its users would reach for (SURVEY §2.9 north-star scope)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    cent = emb.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("c")
    )
    d2 = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "c_id", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("c_id").cast("long").alias("cluster"),
            F.round("d2", 6).alias("dist2"),
        )
    )


@REG.register("kmeans_cluster_embeddings")  # rows-only: iterative, seeded init
def kmeans_cluster_embeddings(
    spark: SparkSession, sf_dir: str, k: int = _KM_K, max_iter: int = 20
) -> DataFrame:
    """Full seeded k-means over the embeddings table (Spark ML, k-means||
    init, seed=42): per-cluster sizes + within-cluster SSE — the
    clustering summary a corpus-exploration pipeline reports. Rows-only
    by nature (iterative, init-seeded); determinism, non-degenerate
    clusters, and SSE-beats-single-cluster are pinned in
    tests/test_search.py. Scale: Spark ML's KMeans is the standard
    distributed Lloyd — broadcast centroids, map-side partial sums,
    k×dim-sized driver traffic per iteration."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    out_schema = "cluster int, n_vecs long, sse double"
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    if emb.limit(k).count() < k:
        return spark.createDataFrame([], out_schema)
    feat = emb.select("vec_id", "e", array_to_vector("e").alias("features"))
    # materialize ONCE before the iterative fit (guide §5; round 15):
    # the ~max_iter iteration jobs otherwise re-evaluate the scan +
    # array_to_vector lineage per job. Lineage-only — partitioning (and
    # therefore the seeded k-means|| init) is unchanged, and the SSE
    # summary below reuses the same materialized frame.
    feat = feat.localCheckpoint(eager=True)
    model = KMeans(k=k, maxIter=max_iter, seed=42).fit(feat)
    pred = model.transform(feat).select(
        "vec_id", F.col("prediction").alias("cluster"), "e"
    )
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster int, c array<double>",
    )
    joined = pred.join(F.broadcast(cent), "cluster").select(
        "cluster",
        F.aggregate(
            F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d2"),
    )
    return joined.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.round(F.sum("d2"), 6).alias("sse")
    )


@REG.register("embedding_pca_variance")  # rows-only: eigendecomposition (sign/float)
def embedding_pca_variance(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """PCA over the embeddings table (round 6) — the standard
    dimensionality-reduction stage before ANN indexing (project 64 → k
    dims, then IVF/PQ the projections): fit Spark ML PCA and emit the
    per-component explained-variance summary. Rows-only by nature
    (eigendecomposition: component signs and last-ulp floats are
    implementation-defined); determinism within a session, monotone
    non-increasing variance ordering, orthonormal components, and
    reconstruction-beats-truncation are pinned in tests/test_search.py.

    Scale: Spark ML PCA is one distributed Gramian accumulation
    (map-side d×d partial outer products, d=64 here → a 32 KB matrix per
    partition) + a driver-side eigendecomposition of the d×d Gramian —
    the corpus is scanned once and nothing data-sized shuffles; the
    projection afterward is a broadcast matrix multiply, embarrassingly
    parallel."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    out_schema = "component int, explained_variance double"
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    if emb.limit(k).count() < k:
        return spark.createDataFrame([], out_schema)
    feat = emb.select(array_to_vector("e").alias("features"))
    model = PCA(k=k, inputCol="features", outputCol="p").fit(feat)
    ev = [float(x) for x in model.explainedVariance]
    return spark.createDataFrame(
        [(i, round(v, 6)) for i, v in enumerate(ev)], out_schema
    )


_SEM_TAU = 0.3  # cosine threshold placed INSIDE the synthetic corpus's
# observed similarity range (max within-label cosine is 0.475; real
# corpora have true near-dups at 0.9+, and tau is a parameter)

_SEMDEDUP_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE embedding IS NOT NULL),
cent AS (SELECT vec_id AS c_id, v, i FROM ex WHERE vec_id < {_KM_K}),
dist AS (
  SELECT e.vec_id, c.c_id, SUM((e.v - c.v) * (e.v - c.v)) AS d2
  FROM ex e JOIN cent c ON e.i = c.i GROUP BY e.vec_id, c.c_id),
assign AS (
  SELECT vec_id, c_id AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) rn
    FROM dist) WHERE rn = 1),
norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM ex GROUP BY vec_id),
dots AS (
  SELECT aa.vec_id AS ia, ab.vec_id AS ib, SUM(ea.v * eb.v) AS dot
  FROM assign aa
  JOIN assign ab ON aa.cluster = ab.cluster AND aa.vec_id < ab.vec_id
  JOIN ex ea ON ea.vec_id = aa.vec_id
  JOIN ex eb ON eb.vec_id = ab.vec_id AND ea.i = eb.i
  GROUP BY aa.vec_id, ab.vec_id),
dropped AS (
  SELECT DISTINCT d.ib AS vec_id FROM dots d
  JOIN norms na ON na.vec_id = d.ia AND na.nrm > 0
  JOIN norms nb ON nb.vec_id = d.ib AND nb.nrm > 0
  WHERE d.dot / (na.nrm * nb.nrm) >= {_SEM_TAU})
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster
FROM assign a LEFT JOIN dropped x ON a.vec_id = x.vec_id
WHERE x.vec_id IS NULL
"""


@REG.register("dedup_semantic_kmeans", oracle=_SEMDEDUP_ORACLE)
def dedup_semantic_kmeans(
    spark: SparkSession, sf_dir: str, *, k: int = _KM_K, tau: float = _SEM_TAU
) -> DataFrame:
    """SemDeDup-shape semantic deduplication (round 7, Abbas et al. 2023
    form): cluster the embeddings, then WITHIN each cluster drop every
    vector that has a smaller-id neighbor at cosine >= tau — keeping the
    min-id representative of each semantic neighborhood. The registered
    form uses the deterministic one-step assignment
    (`kmeans_assign_exact`'s first-k centroids + argmin, smallest-id
    tiebreak) so the WHOLE pipeline — clustering included — has an exact
    SQL oracle; the production form swaps in the seeded full trainer
    (`kmeans_cluster_embeddings`).

    Scale: this is exactly why SemDeDup clusters first — the exact
    cosine join runs only INSIDE clusters, so with k grown proportionally
    to n (SemDeDup uses ~0.1-1% of n) the per-cluster pair space stays
    bounded and the total work is n x (cluster size), never n^2. The
    plan: broadcast k centroid rows -> JVM argmin assignment (one
    |vectors|-keyed rank shuffle) -> cluster-keyed self-join (one
    shuffle, both sides co-partitioned on cluster) -> distinct dropped
    ids -> anti-join. tau sits inside the synthetic corpus's observed
    similarity range (no true near-dups exist in it); the rule
    ("any smaller-id neighbor") matches `incremental_dedup_minhash`'s
    greedy min-id family."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    cent = emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("c")
    )
    d2 = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "e", "c_id", d2.alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("c_id"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id", "e", F.col("c_id").cast("long").alias("cluster"),
            _l2norm(F.col("e")).alias("nrm"),
        )
    )
    a = assigned.where(F.col("nrm") > 0).select(
        F.col("vec_id").alias("ia"), F.col("cluster").alias("ca"),
        F.col("e").alias("ea"), F.col("nrm").alias("na"),
    )
    b = assigned.where(F.col("nrm") > 0).select(
        F.col("vec_id").alias("ib"), F.col("cluster").alias("cb"),
        F.col("e").alias("eb"), F.col("nrm").alias("nb"),
    )
    dropped = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("ia") < F.col("ib")))
        .where(
            _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
            >= tau
        )
        .select(F.col("ib").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dropped, "vec_id", "left_anti").select(
        "vec_id", "cluster"
    )


# ---------------------------------------------------------------------------
# Clustering quality (round 7b): exact squared-Euclidean silhouette
# ---------------------------------------------------------------------------

_SILHOUETTE_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         generate_subscripts(embedding, 1) AS i
  FROM embeddings WHERE embedding IS NOT NULL),
cent AS (SELECT vec_id AS c_id, v, i FROM ex WHERE vec_id < {_KM_K}),
dist AS (
  SELECT e.vec_id, c.c_id, SUM((e.v - c.v) * (e.v - c.v)) AS d2
  FROM ex e JOIN cent c ON e.i = c.i GROUP BY e.vec_id, c.c_id),
assign AS (
  SELECT vec_id, c_id AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) rn
    FROM dist) WHERE rn = 1),
sq AS (SELECT vec_id, SUM(v * v) AS sq FROM ex GROUP BY vec_id),
csize AS (SELECT cluster, COUNT(*) AS cn FROM assign GROUP BY cluster),
csq AS (SELECT a.cluster, SUM(s.sq) AS ssq
        FROM assign a JOIN sq s USING (vec_id) GROUP BY a.cluster),
csum AS (SELECT a.cluster, e.i, SUM(e.v) AS s
         FROM assign a JOIN ex e USING (vec_id) GROUP BY a.cluster, e.i),
xdot AS (SELECT e.vec_id, c.cluster, SUM(e.v * c.s) AS xd
         FROM ex e JOIN csum c ON e.i = c.i GROUP BY e.vec_id, c.cluster),
pc AS (
  SELECT x.vec_id, a.cluster AS own, x.cluster AS tc, cs.cn,
         cs.cn * s.sq - 2 * x.xd + cq.ssq AS tot
  FROM xdot x
  JOIN assign a ON a.vec_id = x.vec_id
  JOIN csize cs ON cs.cluster = x.cluster
  JOIN csq cq ON cq.cluster = x.cluster
  JOIN sq s ON s.vec_id = x.vec_id),
ab AS (
  SELECT vec_id, own,
         MAX(CASE WHEN tc = own AND cn > 1 THEN tot / (cn - 1) END) AS a_i,
         MIN(CASE WHEN tc <> own THEN tot / cn END) AS b_i
  FROM pc GROUP BY vec_id, own),
sil AS (
  SELECT own, CASE
      WHEN a_i IS NULL OR b_i IS NULL THEN 0.0
      WHEN a_i < b_i THEN (b_i - a_i) / b_i
      WHEN a_i > b_i THEN (b_i - a_i) / a_i
      ELSE 0.0 END AS s
  FROM ab)
SELECT CAST(own AS BIGINT) AS cluster, CAST(COUNT(*) AS BIGINT) AS n_points,
       round(AVG(s), 6) AS mean_silhouette
FROM sil GROUP BY own
"""


@REG.register("kmeans_silhouette", oracle=_SILHOUETTE_ORACLE)
def kmeans_silhouette(
    spark: SparkSession, sf_dir: str, *, k: int = _KM_K
) -> DataFrame:
    """Per-cluster mean silhouette under SQUARED Euclidean distance —
    the same metric Spark ML's ClusteringEvaluator computes, and for the
    same reason: squared distance admits the sufficient-statistics
    identity  sum_{y in C} d2(x, y) = |C|*||x||^2 - 2*x.sum(C) +
    sum_{y in C} ||y||^2,  so a(i)/b(i) come from ONE pass over the
    points against k broadcast cluster aggregates (count, component
    sums, sum of squared norms). Cost is O(n*k*dim) with no pairwise
    join — the plain-Euclidean silhouette is n^2 and does not scale;
    this one does, at 100 TB like anywhere else.

    Clustering is the deterministic one-step assignment shared with
    `dedup_semantic_kmeans`/`kmeans_assign_exact` (first-k centroids,
    argmin, smallest-id tiebreak), which keeps the WHOLE metric —
    assignment included — exactly SQL-oracled. Singleton clusters score
    0 by the standard convention (a(i) undefined), as does the
    degenerate one-cluster corpus (b(i) undefined)."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("embedding").isNotNull())
        .select("vec_id", _as_double("embedding").alias("e"))
    )
    cent = emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("c")
    )
    d2 = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("c_id"))
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "e", "c_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "e", F.col("c_id").alias("cluster"))
    )
    pts = assigned.withColumn("sq", _dot(F.col("e"), F.col("e")))
    # per-cluster sufficient statistics: k rows of (cn, ssq, csum[dim]);
    # the component-sum shuffle carries one row per (cluster, dim), the
    # packed-array reassembly is the documented collect_list(struct) form
    csum = (
        pts.select("cluster", F.posexplode("e").alias("i", "v"))
        .groupBy("cluster", "i")
        .agg(F.sum("v").alias("s"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "s"))), lambda st: st["s"]
            ).alias("csum")
        )
    )
    cstats = (
        pts.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("cn"), F.sum("sq").alias("ssq"))
        .join(csum, "cluster")
        .select(F.col("cluster").alias("tc"), "cn", "ssq", "csum")
    )
    tot = F.col("cn") * F.col("sq") - 2 * _dot(F.col("e"), F.col("csum")) + F.col("ssq")
    pc = (
        pts.select("vec_id", F.col("cluster").alias("own"), "e", "sq")
        .crossJoin(F.broadcast(cstats))
        .select("vec_id", "own", "tc", "cn", tot.alias("tot"))
    )
    ab = pc.groupBy("vec_id", "own").agg(
        F.max(
            F.when((F.col("tc") == F.col("own")) & (F.col("cn") > 1),
                   F.col("tot") / (F.col("cn") - 1))
        ).alias("a_i"),
        F.min(
            F.when(F.col("tc") != F.col("own"), F.col("tot") / F.col("cn"))
        ).alias("b_i"),
    )
    s = (
        F.when(F.col("a_i").isNull() | F.col("b_i").isNull(), F.lit(0.0))
        .when(F.col("a_i") < F.col("b_i"),
              (F.col("b_i") - F.col("a_i")) / F.col("b_i"))
        .when(F.col("a_i") > F.col("b_i"),
              (F.col("b_i") - F.col("a_i")) / F.col("a_i"))
        .otherwise(F.lit(0.0))
    )
    return (
        ab.select(F.col("own").cast("long").alias("cluster"), s.alias("s"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("s"), 6).alias("mean_silhouette"),
        )
    )

@REG.register("ann_recall_eval")  # rows-only: evaluates seeded approximate methods
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality report as a first-class operator: recall@TOP_K of every
    top-k-shaped ANN variant against `knn_cosine_exact`, per method —
    the evaluation a platform runs BEFORE switching retrieval from brute
    force to an index, here queryable instead of buried in a test suite
    (tests/test_search.py pins the floors; this emits the numbers).
    `knn_cosine_gemm` is exact-by-construction and rides along as the
    control row (recall 1.0 or the harness itself is broken).

    Shape: every method's result is a (query_id, neighbor_id) set of at
    most N_QUERIES×TOP_K rows — the joins and aggregates below run on
    KB-sized frames regardless of corpus scale; the real cost is the
    index fits, which run FRESH inside every call exactly as in the live
    keys (round 15: no per-session memos). The one reuse is within the
    call: the fitted PQ model goes into the IVF+PQ fit, whose codebooks
    are the same seeded function of the same sample.
    Output: (method, macro_recall, min_recall, n_queries), macro = mean
    per-query recall, min = worst query."""
    # the exact frame is referenced 8x in the returned plan (4 hits
    # joins + 4 per-query spines) and Spark has no cross-branch subplan
    # reuse for it — localCheckpoint pins ~N_QUERIES*TOP_K rows and cuts
    # 8 brute-force scans to 1. Tracked: every
    # checkpoint this call pins — the fits' and the frames' — is released
    # below once the final 4-row report is itself materialized, so
    # repeated invocations in a long-lived session pin nothing.
    exact, dead_ids = ckpt_tracked(
        knn_cosine_exact(spark, sf_dir).select("query_id", "neighbor_id")
    )
    per_q_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    outs = []
    fitted: dict = {}
    for name in ("gemm", "ivf", "pq", "ivfpq"):
        if name == "gemm":
            found = knn_cosine_gemm(spark, sf_dir)
        else:
            pq = fitted.get("pq")
            kw = {"pq": pq.model} if name == "ivfpq" and pq else {}
            fitted[name] = _KINDS[name].fit(spark, sf_dir, **kw)
            found = _probe(name, spark, sf_dir, fitted[name])
        # each method frame is <= N_QUERIES*TOP_K rows but its plan is a
        # full index probe — checkpoint so the returned union executes
        # against 4 tiny pinned frames instead of re-probing every index
        approx, ids = ckpt_tracked(
            found.select("query_id", "neighbor_id", F.lit(name).alias("method"))
        )
        dead_ids |= ids
        hits = (
            approx.join(exact, ["query_id", "neighbor_id"])
            .groupBy("method", "query_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        per_q = (
            per_q_exact.join(
                hits, "query_id", "left"
            )  # queries an index missed entirely count as recall 0
            .select(
                F.lit(name).alias("method"),
                "query_id",
                (
                    F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_exact")
                ).alias("r"),
            )
        )
        outs.append(
            per_q.groupBy("method").agg(
                F.round(F.avg("r"), 6).alias("macro_recall"),
                F.round(F.min("r"), 6).alias("min_recall"),
                F.count(F.lit(1)).cast("long").alias("n_queries"),
            )
        )
    for f in fitted.values():
        dead_ids |= f.pinned if f else set()
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    # Materialize the 4-row report itself, then release every
    # intermediate checkpoint — the returned frame no longer references
    # them, so the call leaves only these 4 rows pinned.
    final = res.orderBy("method").localCheckpoint(eager=True)
    drop_ckpt(final, dead_ids)
    return final
