"""Iterative graph algorithms as DataFrame fixpoints.

The missing classic next to `dedup_transitive`'s connected components
(operators/collections.py): PageRank — the canonical "iterate a sparse
matrix-vector product until convergence" workload. The reference has no
graph surface at all; this is rebuild-contract scope (SURVEY §2.9
north-star family: corpus/link-graph analytics).

Spark-first shape: each iteration is ONE equi-join of the edge list
against the current rank vector plus ONE grouped aggregation — the
standard Pregel-as-relational-algebra form. Catalyst's ReuseExchange
dedups the identical edge/degree subplans across the unrolled
iterations within the single returned plan, so nothing needs a manual
cache for a bounded iteration count. At 100 TB: partition the edge
list by src ONCE and the per-iteration join co-locates (exchange reuse
across iterations); for open-ended convergence loops, checkpoint every
~5 iterations to cut lineage (the same discipline as EM-LDA's
checkpointInterval, ml/lda.py).

The registered key runs a FIXED 3 iterations so the whole computation
unrolls into plain SQL — the DuckDB oracle replays the identical three
join+aggregate rounds, making this the rare ITERATIVE operator with an
exact value-hash oracle (same trick as the unrolled recursive-CTE
closure in collections.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._registry import Registry
from ..catalog import load_table
from ..ckpt import ckpt_tracked, ckpt_tracked_lazy, drop_ckpt

REG = Registry()

_COPURCHASE_EDGES_SQL = """
pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
edges AS (
  SELECT c * 2 AS src, p * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT p * 2 + 1 AS src, c * 2 AS dst FROM pairs)"""


# The two shared graphs. Both helpers exist so "every graph-family key
# provably walks the SAME graph"; each call derives the edge list from
# the parquet inputs and localCheckpoints it ONCE for the call (every
# consumer feeds it into multiple join legs). Round 15 (VERDICT r14 #1):
# the r14 per-(applicationId, sf_dir) memo is GONE — it let the bench's
# measured runs skip the derivation the oracle recomputes on every
# check, so the timed number no longer measured the declared query.
# Recomputing per call IS the declared semantics.


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared customer<->part co-purchase graph (both directions;
    customers at id*2, parts at id*2+1 — see graph_pagerank). Factored
    out so every graph-family key provably walks the SAME graph.
    Returns a fresh per-call eager localCheckpoint."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    fwd = pairs.select(
        (F.col("c") * 2).alias("src"), (F.col("p") * 2 + 1).alias("dst")
    )
    rev = pairs.select(
        (F.col("p") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst")
    )
    return fwd.unionAll(rev).localCheckpoint(eager=True)

_PR_DAMP = 0.85
_PR_ITERS = 3


def _pr_step_sql(prev: str) -> str:
    return f"""SELECT e.dst AS id,
       (1 - {_PR_DAMP}) / min(nn.n) + {_PR_DAMP} * SUM(p.pr / dg.d) AS pr
  FROM edges e
  JOIN {prev} p ON p.id = e.src
  JOIN deg dg ON dg.src = e.src
  CROSS JOIN n nn
  GROUP BY e.dst"""


_PAGERANK_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
edges AS (
  SELECT c * 2 AS src, p * 2 + 1 AS dst FROM pairs
  UNION ALL
  SELECT p * 2 + 1 AS src, c * 2 AS dst FROM pairs),
nodes AS (SELECT DISTINCT src AS id FROM edges),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY src),
pr0 AS (SELECT id, 1.0 / nn.n AS pr FROM nodes, n nn),
pr1 AS ({_pr_step_sql("pr0")}),
pr2 AS ({_pr_step_sql("pr1")}),
pr3 AS ({_pr_step_sql("pr2")})
SELECT p3.id AS node_id, round(p3.pr * nn.n, 6) AS pr_scaled
FROM pr3 p3 CROSS JOIN n nn
"""


@REG.register("graph_pagerank", oracle=_PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 iterations) over the undirected
    customer<->part co-purchase graph derived from orders x lineitem
    (customers at id*2, parts at id*2+1 — disjoint node spaces; each
    co-purchase contributes both edge directions, so no node dangles
    and the damped walk conserves rank mass — asserted in
    tests/test_graph.py).

    Output is rank SCALED BY N (mean exactly 1): raw ranks are ~1/N
    and would vanish under the repo's 6-decimal rounding convention.
    Per-iteration cost: one src-keyed equi-join of the edge list
    against the rank vector + one dst-keyed aggregation — shuffles
    carry edge and node rows, never anything quadratic. The node count
    N is the only driver-held state (one scalar)."""
    # Materialize the edge list ONCE: without the lineage cut, every
    # unrolled iteration re-runs the orders x lineitem distinct (measured
    # 5.4 s -> ~2 s at sf0.1; ReuseExchange does not fire across the
    # iteration subplans). localCheckpoint is the iterative-algorithm
    # discipline documented in the module docstring; its lineage reads
    # only persistent testdata, and the construction-time materialization
    # puts this key in bench.py's EAGER set.
    edges = _copurchase_edges(spark, sf_dir)  # per-call eager checkpoint
    nodes = edges.select(F.col("src").alias("id")).distinct()
    n = nodes.count()  # the single driver-held scalar
    if n == 0:
        return spark.createDataFrame([], "node_id long, pr_scaled double")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    pr = nodes.select("id", F.lit(1.0 / n).alias("pr"))
    for _ in range(_PR_ITERS):
        pr = (
            edges.join(pr, pr["id"] == edges["src"])
            .join(deg, "src")
            .select("dst", (F.col("pr") / F.col("d")).alias("w"))
            .groupBy("dst")
            .agg(
                (F.lit((1 - _PR_DAMP) / n) + _PR_DAMP * F.sum("w")).alias("pr")
            )
            .select(F.col("dst").alias("id"), "pr")
        )
    return pr.select(
        F.col("id").alias("node_id"), F.round(F.col("pr") * n, 6).alias("pr_scaled")
    )


_LPA_ITERS = 3


def _lpa_step_sql(prev: str) -> str:
    return f"""SELECT id, label FROM (
  SELECT e.dst AS id, l.label AS label,
         ROW_NUMBER() OVER (PARTITION BY e.dst
                            ORDER BY COUNT(*) DESC, l.label ASC) AS rn
  FROM edges e JOIN {prev} l ON l.id = e.src
  GROUP BY e.dst, l.label) t
WHERE rn = 1"""


_LPA_ORACLE = f"""
WITH {_COPURCHASE_EDGES_SQL},
lab0 AS (SELECT DISTINCT src AS id, src AS label FROM edges),
lab1 AS ({_lpa_step_sql("lab0")}),
lab2 AS ({_lpa_step_sql("lab1")}),
lab3 AS ({_lpa_step_sql("lab2")})
SELECT id AS node_id, CAST(label AS BIGINT) AS community FROM lab3
"""


@REG.register("graph_label_propagation", oracle=_LPA_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) on the co-purchase graph — the communities companion
    of ``graph_pagerank`` (the reference has no graph surface; north-
    star family, SURVEY §2.9). Each node starts labeled with its own
    id; per iteration every node adopts its neighbors' MOST FREQUENT
    label, ties broken toward the smallest label — that deterministic
    tiebreak (vs the paper's random choice) is what makes the key
    value-hash oracle-able: 3 unrolled iterations replay as plain SQL,
    the same trick as ``graph_pagerank``.

    Per-iteration cost: one src-keyed equi-join of the edge list
    against the label vector, one (dst,label) count, one per-dst
    window top-1 — all shuffles carry edge/node rows. At 100 TB the
    window's partition key is the node id (no global sort), and the
    iteration count is a fixed unroll here; a convergence loop would cut
    lineage with a localCheckpoint per iteration."""
    edges = _copurchase_edges(spark, sf_dir)  # per-call eager checkpoint
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    w = Window.partitionBy("dst").orderBy(F.col("c").desc(), F.col("label").asc())
    for _ in range(_LPA_ITERS):
        counts = (
            edges.join(labels, labels["id"] == edges["src"])
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("dst").alias("id"), "label")
        )
    return labels.select(
        F.col("id").alias("node_id"), F.col("label").cast("long").alias("community")
    )


_PPR_DAMP = 0.85
_PPR_ITERS = 3
_PPR_SEED_MOD = 20  # even ids are customers; id % 20 == 0 <=> custkey % 10 == 0


def _ppr_step_sql(prev: str) -> str:
    return f"""SELECT e.dst AS id, MIN(t.t) + {_PPR_DAMP} * SUM(p.pr / dg.d) AS pr
  FROM edges e
  JOIN {prev} p ON p.id = e.src
  JOIN deg dg ON dg.src = e.src
  JOIN tele t ON t.id = e.dst
  GROUP BY e.dst"""


_PPR_ORACLE = f"""
WITH {_COPURCHASE_EDGES_SQL},
nodes AS (SELECT DISTINCT src AS id FROM edges),
ns AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ns FROM nodes
       WHERE id % {_PPR_SEED_MOD} = 0),
deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS d FROM edges GROUP BY src),
tele AS (SELECT n.id,
                CASE WHEN n.id % {_PPR_SEED_MOD} = 0
                     THEN (1 - {_PPR_DAMP}) / nn.ns ELSE 0.0 END AS t
         FROM nodes n CROSS JOIN ns nn),
pr0 AS (SELECT n.id,
               CASE WHEN n.id % {_PPR_SEED_MOD} = 0
                    THEN 1.0 / nn.ns ELSE 0.0 END AS pr
        FROM nodes n CROSS JOIN ns nn),
pr1 AS ({_ppr_step_sql("pr0")}),
pr2 AS ({_ppr_step_sql("pr1")}),
pr3 AS ({_ppr_step_sql("pr2")})
SELECT p3.id AS node_id, round(p3.pr * nn.ns, 6) AS ppr_scaled
FROM pr3 p3 CROSS JOIN ns nn
"""


@REG.register("graph_pagerank_personalized", oracle=_PPR_ORACLE)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed set (damping 0.85, 3
    iterations) on the co-purchase graph: the random walk TELEPORTS
    back to the seeds (every 10th customer) instead of to all nodes,
    so rank measures proximity TO THE SEEDS — the recommendation /
    node-similarity workhorse (Jeh & Widom 2003; the "related items"
    query the reference's clustering output feeds downstream).

    Same unrolled-iteration exact oracle as ``graph_pagerank``; the
    only structural deltas are the seed-concentrated teleport frame
    (one node-keyed equi-join per iteration — constant per dst, hence
    the MIN) and the pr0 seed distribution. Output is scaled by |S|
    (seed count) so values sit near 1 and survive the repo's 6-decimal
    rounding. At 100 TB: identical shuffle profile to PageRank (edge-
    and node-sized), and a SPARSE start — after t iterations only
    nodes within t hops of a seed hold mass, so a convergence loop
    can filter pr > 0 rows and the per-iteration join shrinks to the
    reached frontier (the classic local-push advantage, kept
    relational here)."""
    edges = _copurchase_edges(spark, sf_dir)  # per-call eager checkpoint
    nodes = edges.select(F.col("src").alias("id")).distinct()
    is_seed = (F.col("id") % _PPR_SEED_MOD) == 0
    ns = nodes.where(is_seed).count()  # the single driver-held scalar
    if ns == 0:
        return spark.createDataFrame([], "node_id long, ppr_scaled double")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("d"))
    tele = nodes.select(
        "id",
        F.when(is_seed, F.lit((1 - _PPR_DAMP) / ns)).otherwise(F.lit(0.0)).alias("t"),
    )
    pr = nodes.select(
        "id",
        F.when(is_seed, F.lit(1.0 / ns)).otherwise(F.lit(0.0)).alias("pr"),
    )
    for _ in range(_PPR_ITERS):
        pr = (
            edges.join(pr, pr["id"] == edges["src"])
            .join(deg, "src")
            .select("dst", (F.col("pr") / F.col("d")).alias("w"))
            .join(tele, tele["id"] == F.col("dst"))
            .groupBy("dst")
            .agg((F.min("t") + _PPR_DAMP * F.sum("w")).alias("pr"))
            .select(F.col("dst").alias("id"), "pr")
        )
    return pr.select(
        F.col("id").alias("node_id"),
        F.round(F.col("pr") * ns, 6).alias("ppr_scaled"),
    )


_BRAND_EDGES_SQL = """
li AS (SELECT DISTINCT l.l_orderkey AS o, l.l_partkey AS p, pt.p_brand AS br
       FROM lineitem l JOIN part pt ON pt.p_partkey = l.l_partkey),
e AS (SELECT a.br AS br, a.p AS a, b.p AS b FROM li a
      JOIN li b ON a.o = b.o AND a.br = b.br AND a.p < b.p
      GROUP BY a.br, a.p, b.p)"""


def _brand_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTRA-BRAND part co-purchase graph (parts adjacent iff some
    order contains both and they share a brand), oriented low->high id,
    one row per (brand, a, b). Shared by the triangle / clustering-
    coefficient / link-prediction keys so they provably walk the same
    blocked graph; localCheckpoint'ed because every consumer feeds it
    into multiple join legs (the graph_pagerank ReuseExchange finding).
    Derived fresh per call — see the round-15 note at _copurchase_edges."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .join(part, F.col("p") == F.col("p_partkey"))
        .select("o", "p", F.col("p_brand").alias("br"))
        .distinct()
    )
    a = li.select("o", "br", F.col("p").alias("a"))
    b = li.select("o", "br", F.col("p").alias("b"))
    out = (
        a.join(b, ["o", "br"])
        .where(F.col("a") < F.col("b"))
        .select("br", "a", "b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    return out


_TRIANGLE_ORACLE = f"""
WITH {_BRAND_EDGES_SQL},
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.br = e1.br AND e2.a = e1.b
        JOIN e e3 ON e3.br = e1.br AND e3.a = e1.a AND e3.b = e2.b),
corners AS (SELECT x AS part_id FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
SELECT part_id, CAST(COUNT(*) AS BIGINT) AS triangles
FROM corners GROUP BY part_id
"""


@REG.register("graph_triangle_count", oracle=_TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the INTRA-BRAND part co-purchase
    graph (parts adjacent iff some order contains both AND they share
    a brand) — the clustering-coefficient numerator, the third classic
    next to PageRank and label propagation. Computed as the ORIENTED
    wedge join: orient every undirected edge low->high id, join wedges
    (a<b, b<c) against the closing edge (a,c) — each triangle is found
    exactly once, no 3x-overcount and no symmetric-edge blowup. Every
    corner then feeds one hash aggregation for the per-node counts.

    The brand blocking IS the scale design, not a convenience: the
    unblocked co-purchase graph DENSIFIES with data volume (measured:
    116k -> 1.2M edges, 9.3M -> 100M wedges, 18.9x wall per 10x data —
    super-linear; degree orientation recovers only 16% because the
    degree distribution is near-uniform). Restricting enumeration to a
    partition key (brand here; category/community in general — LPA
    upstream is the generic blocker) bounds each block's wedge space,
    turns the computation embarrassingly parallel ACROSS blocks, and
    measures 671 -> 2,976 triangles per decade — the same
    blocking-before-pair-enumeration discipline as the minhash banding
    and SemDeDup families. Within a block the remaining refinement is
    degree orientation (Chiba-Nishizeki) — a parameter swap on this
    same 3-join plan. The edge list is localCheckpoint'ed once — it
    feeds three join legs and ReuseExchange does not dedup the subplan
    across legs (the graph_pagerank finding)."""
    e = _brand_edges(spark, sf_dir)
    e1 = e.select("br", F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select("br", F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select("br", F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, ["br", "y"]).join(e3, ["br", "x", "z"])
    corners = (
        tri.select(F.col("x").alias("part_id"))
        .unionAll(tri.select(F.col("y").alias("part_id")))
        .unionAll(tri.select(F.col("z").alias("part_id")))
    )
    return corners.groupBy("part_id").agg(
        F.count(F.lit(1)).cast("long").alias("triangles")
    )


_KCORE_K = 26
_KCORE_PEELS = 3


def _kcore_peel_sql(prev_e: str, i: int) -> str:
    return f"""d{i} AS (SELECT src, COUNT(*) AS d FROM {prev_e} GROUP BY src),
k{i} AS (SELECT src AS id FROM d{i} WHERE d >= {_KCORE_K}),
e{i + 1} AS (SELECT e.src, e.dst FROM {prev_e} e
             JOIN k{i} a ON a.id = e.src
             JOIN k{i} b ON b.id = e.dst)"""


_KCORE_ORACLE = f"""
WITH {_COPURCHASE_EDGES_SQL},
{_kcore_peel_sql("edges", 0)},
{_kcore_peel_sql("e1", 1)},
{_kcore_peel_sql("e2", 2)}
SELECT src AS node_id, CAST(COUNT(*) AS BIGINT) AS degree
FROM e3 GROUP BY src
"""


@REG.register("graph_kcore_peel", oracle=_KCORE_ORACLE)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three peeling rounds toward the k-core (k=26) of the co-purchase
    graph — the density-decomposition classic next to PageRank / label
    propagation / triangles: repeatedly delete nodes of degree < k and
    the edges they carry; the fixpoint is the k-core, the standard
    "dense engagement subgraph" extractor. k=26 sits just below the
    median degree (~29-32 at every SF — degrees here are SF-invariant
    because basket sizes are), so each round genuinely cascades
    (measured sf0.01: 3500 -> 2819 -> 2360 -> 1735 surviving nodes)
    instead of converging trivially.

    Each peel is one degree aggregation + two semi-join-shaped filters
    (inner joins against the distinct survivor set — survivors are
    unique, so no row duplication), all edge/node-sized shuffles. The
    edge frame is localCheckpoint'ed per round: each round references
    its predecessor THREE times (directly plus through both survivor
    legs), so an unrolled lineage re-computes the predecessor 3^r
    times — the lineage cut makes the cost linear in rounds. Output:
    surviving (node_id, degree) after round 3; the true k-core loops to
    the fixpoint with the identical per-round body."""
    # the per-call edge artifact is an eager checkpoint; track nothing
    # for round 0 (its blocks feed the whole cascade)
    edges, prev_ids = _copurchase_edges(spark, sf_dir), set()
    # cap the peel cascade's shuffle grain to the edge count (round 15,
    # VERDICT r14 #5 — this key's 8-core driver bench beat its 32-core
    # one 2x: every peel is a degree aggregate + two node-sized joins
    # over a few-MB frame, pure task-setup overhead at the relational
    # default; measured 6.6-8.0 -> 2.4-3.4 s at local[32])
    from ..catalog import iter_grain

    with iter_grain(spark, edges.count()):
        for _ in range(_KCORE_PEELS):
            deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            keep = deg.where(F.col("d") >= _KCORE_K).select(F.col("src").alias("id"))
            edges, new_ids = _ckpt_tracked(
                edges.join(keep, keep["id"] == edges["src"]).drop("id")
                .join(keep, keep["id"] == edges["dst"]).drop("id")
            )
            # peeled frame eagerly materialized — the predecessor is dead
            _drop_ckpt(edges, prev_ids)
            prev_ids = new_ids
    return edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    ).select(F.col("src").alias("node_id"), "degree")


_CC_ORACLE = f"""
WITH {_BRAND_EDGES_SQL},
und AS (SELECT br, a AS u, b AS v FROM e UNION ALL SELECT br, b, a FROM e),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.br = e1.br AND e2.a = e1.b
        JOIN e e3 ON e3.br = e1.br AND e3.a = e1.a AND e3.b = e2.b),
corners AS (SELECT x AS u FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri),
tcnt AS (SELECT u, COUNT(*) AS t FROM corners GROUP BY u)
SELECT d.u AS part_id, CAST(d.d AS BIGINT) AS degree,
       round(2.0 * COALESCE(tc.t, 0) / (d.d * (d.d - 1)), 6) AS clustering_coeff
FROM deg d LEFT JOIN tcnt tc ON tc.u = d.u
WHERE d.d >= 2
"""


@REG.register("graph_clustering_coefficient", oracle=_CC_ORACLE)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node on the intra-brand
    co-purchase graph: cc(v) = 2*T(v) / (d(v)*(d(v)-1)) — how close
    each node's neighborhood is to a clique, the standard cohesion
    metric over the SAME blocked graph as `graph_triangle_count`
    (shared `_brand_edges`; consistency of T(v) between the two keys
    is asserted in test_graph). Nodes with degree < 2 have no defined
    coefficient and are excluded; triangle-free nodes report 0 via the
    left join, so the output covers every eligible node
    deterministically.

    Cost profile = the triangle key (the wedge join dominates; brand
    blocking bounds it) plus one degree aggregation on the undirected
    view and one node-keyed left join — all node/edge-sized."""
    e = _brand_edges(spark, sf_dir)
    und = e.select("br", F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select("br", F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e1 = e.select("br", F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select("br", F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select("br", F.col("a").alias("x"), F.col("b").alias("z"))
    tri = e1.join(e2, ["br", "y"]).join(e3, ["br", "x", "z"])
    corners = (
        tri.select(F.col("x").alias("u"))
        .unionAll(tri.select(F.col("y").alias("u")))
        .unionAll(tri.select(F.col("z").alias("u")))
    )
    tcnt = corners.groupBy("u").agg(F.count(F.lit(1)).alias("t"))
    return (
        deg.where(F.col("d") >= 2)
        .join(tcnt, "u", "left")
        .select(
            F.col("u").alias("part_id"),
            F.col("d").cast("long").alias("degree"),
            F.round(
                2.0 * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering_coeff"),
        )
    )


_LINKPRED_MIN_COMMON = 2

_LINKPRED_ORACLE = f"""
WITH {_BRAND_EDGES_SQL},
und AS (SELECT br, a AS u, b AS v FROM e UNION ALL SELECT br, b, a FROM e),
deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
cand AS (SELECT x.br AS br, x.v AS a, y.v AS c, COUNT(*) AS cmn
         FROM und x JOIN und y ON x.br = y.br AND x.u = y.u AND x.v < y.v
         GROUP BY x.br, x.v, y.v
         HAVING COUNT(*) >= {_LINKPRED_MIN_COMMON}),
newl AS (SELECT cd.br, cd.a, cd.c, cd.cmn
         FROM cand cd LEFT JOIN e ON e.br = cd.br AND e.a = cd.a AND e.b = cd.c
         WHERE e.a IS NULL)
SELECT n.a AS part_a, n.c AS part_b, CAST(n.cmn AS BIGINT) AS common_cnt,
       round(n.cmn / CAST(da.d + dc.d - n.cmn AS DOUBLE), 6) AS jaccard
FROM newl n
JOIN deg da ON da.u = n.a
JOIN deg dc ON dc.u = n.c
"""


@REG.register("graph_link_prediction_jaccard", oracle=_LINKPRED_ORACLE)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction on the intra-brand
    co-purchase graph: score every NON-adjacent part pair sharing >= 2
    neighbors by |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the classic
    common-neighbors recommender (Liben-Nowell & Kleinberg 2003),
    downstream of the same blocked graph as the triangle family.

    Shape: candidate pairs come from the wedge join (two hops through
    a shared neighbor — scored pairs are found, never enumerated from
    |V|^2), the >= 2 common-neighbor floor prunes the one-wedge noise
    tail BEFORE the anti-join and dim joins see it, an anti-join
    against the edge list keeps only genuinely new links, and two
    node-keyed degree joins finish Jaccard via
    |union| = d(a) + d(b) - |common|. Every shuffle carries wedge or
    node rows; the wedge space is the brand-blocked one the triangle
    table bounds. Output 2,468 scored candidate links at sf0.01."""
    e = _brand_edges(spark, sf_dir)
    und = e.select("br", F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select("br", F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    x = und.select("br", "u", F.col("v").alias("a"))
    y = und.select("br", "u", F.col("v").alias("c"))
    cand = (
        x.join(y, ["br", "u"])
        .where(F.col("a") < F.col("c"))
        .groupBy("br", "a", "c")
        .agg(F.count(F.lit(1)).alias("cmn"))
        .where(F.col("cmn") >= _LINKPRED_MIN_COMMON)
    )
    newl = cand.join(
        e,
        (e["br"] == cand["br"]) & (e["a"] == cand["a"]) & (e["b"] == cand["c"]),
        "left_anti",
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    dc = deg.select(F.col("u").alias("c"), F.col("d").alias("dc"))
    return (
        newl.join(da, "a")
        .join(dc, "c")
        .select(
            F.col("a").alias("part_a"),
            F.col("c").alias("part_b"),
            F.col("cmn").cast("long").alias("common_cnt"),
            F.round(
                F.col("cmn") / (F.col("da") + F.col("dc") - F.col("cmn")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


_DEGREE_HIST_ORACLE = f"""
WITH {_COPURCHASE_EDGES_SQL},
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
b AS (SELECT CAST(floor(ln(d) / ln(2) + 1e-9) AS INTEGER) AS bucket_log2, d
      FROM deg)
SELECT bucket_log2,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(d) AS BIGINT) AS min_degree,
       CAST(MAX(d) AS BIGINT) AS max_degree
FROM b GROUP BY bucket_log2
"""


@REG.register("graph_degree_histogram", oracle=_DEGREE_HIST_ORACLE)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the co-purchase graph —
    the first diagnostic every graph job runs BEFORE committing to a
    plan: the bucket profile decides whether wedge enumeration needs
    blocking (near-uniform degrees — this repo's measured case) or
    hub-splitting/salting (power-law tail), and it is the evidence
    behind the triangle family's brand-blocking decision. One degree
    aggregation + one ~log(max_degree)-row rollup. Bucket edges are
    float-flip-proof by construction: ln(d)/ln(2) is integral only at
    exact powers of two, where a 1-ulp libm difference could floor to
    k-1 on one engine — the +1e-9 nudge absorbs that, and cannot
    misbucket any non-power (their distance from an integer is
    >= 1/(d ln 2), orders of magnitude above the nudge for any
    realistic degree)."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    b = deg.select(
        F.floor(F.log(F.col("d").cast("double")) / F.log(F.lit(2.0)) + F.lit(1e-9))
        .cast("int")
        .alias("bucket_log2"),
        "d",
    )
    return b.groupBy("bucket_log2").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"),
    )


# ---------------------------------------------------------------------------
# Connected components (round 8) — the canonical graph primitive the family
# still lacked, and the backbone of near-duplicate CLUSTERING (CC over the
# MinHash candidate-pair graph is how a 100 TB dedup picks one canonical
# document per duplicate cluster; see dedup.py for the consumer).
# ---------------------------------------------------------------------------


# tracked-checkpoint helpers live in ckpt.py (shared with the tokenizer
# trainers); kept under their historical private names here — the
# round-11 hygiene measurement (37 pinned RDDs after 4 CC constructions)
# is documented on the ckpt module
_ckpt_tracked = ckpt_tracked
_ckpt_tracked_lazy = ckpt_tracked_lazy
_drop_ckpt = drop_ckpt


def _hash_min_cc(und: DataFrame, max_rounds: int = 50, stride: int = 2) -> DataFrame:
    """Hash-min connected components over an undirected edge frame
    (columns ``u``, ``v``; both directions present): every node starts
    labeled with its own id, and each round re-labels to the minimum of
    its own and its neighbors' labels, until a round changes nothing.
    Converges to min-node-id-per-component in O(component diameter)
    rounds — the right tool for the short-diameter graphs this repo
    mines (co-purchase blocks, near-dup clusters; measured 10 rounds /
    ~0.4 s each at sf0.1, 95k edges). A pointer-jumping shortcut
    (relabel by label-of-label each round) was measured and rejected
    at this scale: it cut rounds 10 -> 7 but the extra node-sized join
    per round made it a wash (5.8 s vs 5.1 s). For web-scale
    long-chain graphs the drop-in upgrade is that shortcut or full
    alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) with O(log n)
    rounds; the per-round shuffle shape (edge-sized join + node-sized
    min-agg) is identical, so the swap is local to this helper.

    Per round: ONE equi-join of the edge list against the label vector
    and one min-aggregation — edge/node-sized shuffles, nothing
    quadratic. ``stride`` hops are FUSED per materialization (round 14):
    the label frame is localCheckpoint'ed and the convergence count run
    once every ``stride`` hops instead of every hop — the total hop
    count is unchanged, but the barrier/probe jobs halve at stride 2
    (measured 5.6 -> 4.4 s at sf0.1; honest at scale too, where fewer
    materialization barriers is strictly less work — the only cost is
    up to stride-1 extra no-op hops at convergence, each a fraction of
    a round). The probe compares the stride's LAST hop only (round 15,
    ADVICE r14): hash-min labels only ever DECREASE, so one full
    identity hop IS the fixpoint — the stride-1 criterion exactly —
    and the probe can neither stop early on a transient state nor (as
    the r14 whole-stride comparison could) miss a convergent final hop
    behind an earlier in-stride change; with strides always running in
    full, stride fusion leaves the supported last-change hop at
    max_rounds - 1 unchanged (tests/test_graph.py pins stride-1/2/3
    label equality and budget-boundary convergence). The convergence probe is a
    count on the (node-sized) changed set, the only driver-held value.
    Raises rather than returning partial labels if max_rounds is hit: a
    wrong component is worse than a loud failure."""
    # pin the edge frame once — without this every round re-derives it
    # from parquet (measured 8.3 s -> ~3 s at sf0.1, the same finding as
    # the pagerank family's edge-list checkpoint)
    und, und_ids = _ckpt_tracked(und)
    # cap the loop's shuffle grain to the (checkpointed, so the count is
    # one cheap block scan) edge count — round 15, VERDICT r14 #5: the
    # per-round joins/aggregates over node/edge-sized frames paid ~32
    # task setups per stage for a few-MB frame; the cap is data-derived
    # and never raises the configured value (see catalog.iter_grain)
    from ..catalog import iter_grain

    with iter_grain(und.sparkSession, und.count()):
        return _hash_min_cc_loop(und, und_ids, max_rounds, stride)


def _hash_min_cc_loop(
    und: DataFrame, und_ids: set, max_rounds: int, stride: int
) -> DataFrame:
    comp, prev_ids = _ckpt_tracked(
        und.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
    )
    rounds = 0
    while rounds < max_rounds:
        # Each stride runs in FULL, even past max_rounds, and `prev` pins
        # the labels before the stride's LAST hop only (ADVICE r14): the
        # r14 probe compared across the whole stride, so a change in the
        # stride's first hop masked a convergent final hop and a graph
        # whose labels last change at hop max_rounds-1 raised at
        # stride > 1 where stride 1 succeeded. One identity hop is
        # exactly the stride-1 convergence criterion (hash-min labels
        # only decrease: a full no-op hop IS the fixpoint), so probing
        # the final hop preserves the supported diameter at any stride —
        # the only cost is up to stride-1 extra no-op hops.
        cur = comp.select("id", "comp")
        for j in range(stride):
            rounds += 1
            if j == stride - 1:  # pin the probe baseline before the last hop
                cur = cur.select("id", "comp", F.col("comp").alias("prev"))
            nbr_min = (
                und.join(cur, cur["id"] == und["u"])
                .groupBy(F.col("v").alias("id2"))
                .agg(F.min("comp").alias("nbr"))
            )
            cur = cur.join(nbr_min, cur["id"] == nbr_min["id2"], "left").select(
                "id",
                F.least(F.col("comp"), F.coalesce("nbr", F.col("comp"))).alias(
                    "comp"
                ),
                *(["prev"] if j == stride - 1 else []),
            )
        # LAZY (r13): the change-count below scans every nxt partition,
        # materializing the checkpoint — one job per stride instead of two
        nxt, nxt_ids = _ckpt_tracked_lazy(cur)
        changed = nxt.where(F.col("comp") != F.col("prev")).count()
        # nxt is now fully materialized (the count's filter drops rows,
        # not partitions): the previous round's label blocks can never be
        # read again — free them (bounded footprint: at most 2 label
        # frames + the edge frame pinned)
        _drop_ckpt(und, prev_ids)
        comp, prev_ids = nxt.select("id", "comp"), nxt_ids
        if changed == 0:
            _drop_ckpt(und, und_ids)  # returned labels don't read edges
            return comp
    # loud failure must not leak the pinned edge + label blocks — the
    # exact long-lived-session drag ckpt.py exists to prevent
    _drop_ckpt(und, und_ids | prev_ids)
    raise RuntimeError(f"hash-min CC did not converge in {max_rounds} rounds")


_CONNCOMP_ORACLE = f"""
WITH RECURSIVE {_BRAND_EDGES_SQL},
und AS (SELECT a AS u, b AS v FROM e UNION SELECT b, a FROM e),
reach(n, s) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM und) nodes
  UNION
  SELECT und.v, reach.s FROM reach JOIN und ON und.u = reach.n)
SELECT n AS part_id, CAST(MIN(s) AS BIGINT) AS component
FROM reach GROUP BY n
"""


@REG.register("graph_connected_components", oracle=_CONNCOMP_ORACLE)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the intra-brand co-purchase graph
    (shared `_brand_edges`, so the labels are directly comparable with
    the triangle / clustering-coefficient / link-prediction keys):
    each part is labeled with the smallest part id reachable from it.
    Brand blocking makes the instance non-degenerate — components can
    never span brands, so the label structure is 25+ blocks (vs the
    single giant component of the unblocked graph) and the oracle's
    transitive closure stays enumerable.

    The oracle is the full reachability closure via DuckDB recursive
    CTE (UNION-dedup'ed, so it terminates on cycles); the Spark side is
    the distributed hash-min iteration in `_hash_min_cc` — converging
    labels, not a truncated fixed-round prefix, so the two agree
    exactly. Output: (part_id, component)."""
    edges = _brand_edges(spark, sf_dir)
    und = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    comp = _hash_min_cc(und)
    return comp.select(
        F.col("id").cast("long").alias("part_id"),
        F.col("comp").cast("long").alias("component"),
    )


# ---------------------------------------------------------------------------
# Connected components, web-scale variant (round 9) — the alternating
# large-star/small-star algorithm that `_hash_min_cc`'s docstring names as
# the long-chain upgrade path, now implemented rather than merely cited.
# ---------------------------------------------------------------------------


def _two_star_cc(und: DataFrame, max_rounds: int = 40) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star connected components (Kiveris,
    Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components in
    MapReduce and Beyond", SoCC 2014): the round count is bounded by
    O(log² n) worst-case (O(log n) observed) regardless of component
    DIAMETER, which is the property hash-min lacks — on a length-d chain
    hash-min needs d rounds while the star operations halve path lengths
    every pass (tests/test_graph_twostar.py pins a 512-node path to ≤14
    rounds where hash-min would need ~511). This is the kernel you swap in
    when the 100 TB dup graph is not guaranteed short-diameter.

    Input contract: `und` is an edge frame with columns (u, v) in ANY
    orientation — one-directional, symmetrized, or mixed; edges are
    canonicalized internally and self-loops dropped (contrast
    `_hash_min_cc`, which requires both directions present). Isolated
    nodes (no edges at all) don't appear and should be filled in by the
    caller's left join, as the registered keys do.

    State is the EDGE SET itself (canonical orientation x > y), never an
    adjacency list or a label vector, so every round is edge-sized:

    * large-star: for each node u, attach every LARGER neighbor to
      m = min(Γ(u) ∪ {u}) — one groupBy-min over the symmetrized edges
      plus one equi-join back, emitting (v, m) pairs with v > u ≥ m.
    * small-star: with edges oriented child=x > parent=y, re-point x and
      all its smaller neighbors at m = min(Γ_small(x)) — the same
      groupBy-min + join shape.

    Both phases only ever emit (node, smaller-node) pairs, monotonically
    driving every component toward the star rooted at its minimum id — the
    unique fixpoint, at which both operations are identity maps. The
    convergence probe is count-equality plus an `exceptAll` emptiness
    check (both edge-sized, no driver-held data beyond two longs), and
    each round's frame is localCheckpoint'ed per the module's
    iterative-lineage discipline. Skew note: a high-degree root makes the
    groupBy-min key hot, but min() is a map-side-combinable aggregate, so
    the hot key ships one partial row per upstream partition — the reason
    this survives power-law graphs at 100 TB where a collect-neighbors
    formulation would not. Raises rather than returning partial labels if
    max_rounds is hit. Returns (labels: (id, comp), rounds_used)."""
    # Unlike _hash_min_cc (which REQUIRES a symmetrized input and says
    # so), this helper is orientation-robust (round-10 ADVICE fix): edges
    # are canonicalized with greatest/least — so one-directional,
    # symmetrized, or mixed inputs all produce the same edge set — and
    # the node spine is derived from BOTH endpoint columns, so a node
    # appearing only on the v side still gets a label row.
    pairs, prev_ids = _ckpt_tracked(
        und.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("x"), F.least("u", "v").alias("y"))
        .distinct()
    )
    nodes, nodes_ids = _ckpt_tracked(
        und.select(F.col("u").alias("id"))
        .unionAll(und.select(F.col("v").alias("id")))
        .distinct()
    )
    n_prev = pairs.count()
    rounds = 0
    # cap the per-round shuffle grain to the edge count (round 15,
    # VERDICT r14 #5; scaling ratio 0.98-0.51 on the twostar consumers):
    # every round's groupBy-min/joins/distincts are edge-sized — the
    # symmetrized frame is 2*n_prev rows (see catalog.iter_grain)
    from ..catalog import iter_grain

    with iter_grain(und.sparkSession, 2 * max(n_prev, 1)):
        return _two_star_loop(
            und, pairs, prev_ids, nodes, nodes_ids, n_prev, rounds, max_rounds
        )


def _two_star_loop(und, pairs, prev_ids, nodes, nodes_ids, n_prev, rounds, max_rounds):
    for _ in range(max_rounds):
        rounds += 1
        sym = pairs.unionAll(
            pairs.select(F.col("y").alias("x"), F.col("x").alias("y"))
        ).select(F.col("x").alias("u"), F.col("y").alias("v"))
        mn = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mnv"))
            .select("u", F.least("u", "mnv").alias("m"))
        )
        large = (
            sym.join(mn, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .distinct()
        )
        mn2 = large.groupBy("x").agg(F.min("y").alias("m"))
        re_rooted = (
            large.join(mn2, "x")
            .where(F.col("y") != F.col("m"))
            .select(F.col("y").alias("x"), F.col("m").alias("y"))
        )
        # LAZY (r13): the convergence count below materializes the round
        nxt, nxt_ids = _ckpt_tracked_lazy(
            mn2.select("x", F.col("m").alias("y")).unionAll(re_rooted).distinct()
        )
        n_nxt = nxt.count()
        if n_nxt == n_prev and nxt.exceptAll(pairs).limit(1).count() == 0:
            labels = nodes.join(
                nxt.select(F.col("x").alias("id"), F.col("y").alias("comp")),
                "id",
                "left",
            ).select("id", F.coalesce("comp", F.col("id")).alias("comp"))
            # the returned labels read nodes + the LAST nxt; every prior
            # round's edge frame is dead — free it (the convergence probe
            # above was this round's final read of `pairs`)
            _drop_ckpt(nodes, prev_ids)
            return labels, rounds
        # nxt materialized; the superseded round's blocks are dead
        _drop_ckpt(nodes, prev_ids)
        pairs, n_prev, prev_ids = nxt, n_nxt, nxt_ids
    # loud failure must not leak the node spine + last round's edge set
    _drop_ckpt(nodes, prev_ids | nodes_ids)
    raise RuntimeError(f"two-star CC did not converge in {max_rounds} rounds")


@REG.register("graph_connected_components_twostar", oracle=_CONNCOMP_ORACLE)
def graph_connected_components_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the SAME intra-brand co-purchase graph as
    `graph_connected_components`, computed by the alternating
    large-star/small-star kernel (`_two_star_cc`) instead of hash-min —
    the two keys share `_brand_edges` and the recursive-CTE oracle, so the
    driver value-hashes both kernels against the identical ground truth
    and tests/test_graph_twostar.py equality-locks them to each other.
    Diameter-independent round bound: the variant to reach for when the
    component structure is unknown (web graphs, transitive dup chains);
    hash-min remains the cheaper kernel when diameter is known-small.
    Output: (part_id, component)."""
    edges = _brand_edges(spark, sf_dir)
    und = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    comp, _rounds = _two_star_cc(und)
    return comp.select(
        F.col("id").cast("long").alias("part_id"),
        F.col("comp").cast("long").alias("component"),
    )


# ---------------------------------------------------------------------------
# Multi-source BFS hop counts (round 11) — the shortest-path-hops primitive
# the family still lacked next to CC / PageRank / k-core: "how far is every
# node from its block's landmark" is the link-graph distance feature a
# crawl-frontier scheduler or citation-depth analysis computes per page.
# ---------------------------------------------------------------------------

_BFS_MAX_DEPTH = 12

_BFS_ORACLE = f"""
WITH RECURSIVE {_BRAND_EDGES_SQL},
und AS (SELECT br, a AS u, b AS v FROM e UNION SELECT br, b, a FROM e),
roots AS (SELECT br, MIN(a) AS root FROM e GROUP BY br),
walk(br, n, d) AS (
  SELECT br, root, 0 FROM roots
  UNION
  SELECT w.br, und.v, w.d + 1
  FROM walk w JOIN und ON und.br = w.br AND und.u = w.n
  WHERE w.d < {_BFS_MAX_DEPTH})
SELECT br, n AS part_id, CAST(MIN(d) AS BIGINT) AS hops
FROM walk GROUP BY br, n
"""


@REG.register("graph_bfs_hops", oracle=_BFS_ORACLE)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand landmark BFS: hop distance from each brand block's
    minimum part id to every part reachable within _BFS_MAX_DEPTH hops
    on the shared intra-brand co-purchase graph (`_brand_edges`, so the
    distances are directly comparable with the CC / triangle /
    link-prediction keys). This is unweighted single-source shortest
    paths run from ONE landmark per block simultaneously — all brands
    advance in the same round, so the round count is the MAX block
    eccentricity, not the sum.

    Frontier form, the textbook distributed BFS: per round ONE
    edge-vs-frontier equi-join on (brand, node) produces candidates,
    one anti-join against the settled distance table keeps the unseen
    ones, and the union becomes the next frontier. All shuffles are
    edge- or frontier-sized; nothing quadratic, no adjacency lists
    collected. Both the distance table and the frontier are
    tracked-checkpointed per round and superseded rounds' blocks are
    freed immediately (ckpt.py discipline), so the pinned set stays
    bounded at (edges, dist, frontier) regardless of depth. The depth
    cap matches the oracle's recursion bound exactly — the DuckDB
    recursive CTE explores (node, depth<=cap) states and takes MIN(d),
    which is precisely what level-synchronous BFS computes, so the two
    agree value-for-value. At 100 TB: pre-partition edges by (br, u)
    once and every round's join co-locates; the frontier shrinks
    geometrically after the block's bulk is reached, so late rounds are
    cheap. Output: (br, part_id, hops)."""
    edges = _brand_edges(spark, sf_dir)
    und = edges.select("br", F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select("br", F.col("b").alias("u"), F.col("a").alias("v"))
    )
    und, und_ids = _ckpt_tracked(und)
    roots = edges.groupBy("br").agg(F.min("a").alias("id"))
    dist, dist_ids = _ckpt_tracked(
        roots.select("br", "id", F.lit(0).cast("long").alias("hops"))
    )
    # ONE job per level (round 13; was three — eager frontier ckpt +
    # limit-probe + eager dist ckpt): the level's frontier count is a
    # full scan of every input (the frontier equi-join reads und and the
    # old frontier whole; the anti-join hash-builds over all of dist),
    # so it materializes the LAZY frontier checkpoint, and the lazily-
    # checkpointed dist∪new union materializes inside the NEXT level's
    # count — its predecessor's blocks are therefore dropped one level
    # later (dist_prev_ids), per ckpt_tracked_lazy's contract.
    frontier, frontier_ids = dist, set()
    dist_prev_ids: set = set()  # dist(k-1): dead once dist(k) materializes
    # cap the level loop's shuffle grain to the edge count (round 15,
    # VERDICT r14 #5): every level is an edge-vs-frontier join + anti-join
    # over few-MB frames — see catalog.iter_grain
    from ..catalog import iter_grain

    with iter_grain(spark, und.count()):
        for depth in range(1, _BFS_MAX_DEPTH + 1):
            cand = (
                und.join(
                    frontier,
                    (und["br"] == frontier["br"]) & (und["u"] == frontier["id"]),
                )
                .select(und["br"].alias("br"), F.col("v").alias("id"))
                .distinct()
            )
            new, new_ids = _ckpt_tracked_lazy(
                cand.join(dist, ["br", "id"], "left_anti").select(
                    "br", "id", F.lit(depth).cast("long").alias("hops")
                )
            )
            n_new = new.count()
            # this count fully materialized `new` AND the current dist (the
            # anti-join's build side) — so the PREVIOUS dist (unioned into
            # the current one) and the old frontier are now dead
            _drop_ckpt(und, dist_prev_ids | frontier_ids)
            dist_prev_ids, frontier_ids = set(), set()
            if n_new == 0:
                _drop_ckpt(und, und_ids | new_ids)
                break
            nxt, nxt_ids = _ckpt_tracked_lazy(dist.unionByName(new))
            dist_prev_ids = dist_ids  # droppable after nxt materializes
            dist, dist_ids = nxt, nxt_ids
            frontier, frontier_ids = new, new_ids
        else:
            # depth cap reached with the last union never probed: materialize
            # it NOW so its inputs (last frontier + previous dist) can be
            # freed — without this the returned lazy frame would still read
            # them and the drop below would sever its lineage
            dist.count()
            _drop_ckpt(und, und_ids | frontier_ids | dist_prev_ids)
    return dist.select(
        "br",
        F.col("id").cast("long").alias("part_id"),
        F.col("hops").cast("long").alias("hops"),
    )
