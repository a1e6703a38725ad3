"""The workloads. Each runs one pass over a fresh copy of its seeded inputs,
timing its two phases, and then checks the pass's outputs outside the timed
window.

A pass calls the engine's public functions the way a batch user does and
forces every returned DataFrame inside the call's span (``toPandas``), so
the time of a call includes the work it asked for.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import tempfile
import time

import numpy as np
import pyarrow.parquet as pq

import checks

N_PROBE_ROUNDS = 2  # stored-index probe repetitions per ann_search pass


def du(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


def call(tr, layer: str, fn, *args, **kwargs):
    """Call ``fn`` inside a span and force a DataFrame result to pandas."""
    from pyspark.sql import DataFrame

    with tr.span(layer, fn.__name__):
        out = fn(*args, **kwargs)
        if isinstance(out, DataFrame):
            out = out.toPandas()
    tr.after_call()
    return out


class Phases:
    """Wall time of the two phases of a pass."""

    def __init__(self):
        self.t: dict[str, float] = {}

    def timed(self, name, fn):
        t0 = time.perf_counter()
        out = fn()
        self.t[name] = self.t.get(name, 0.0) + time.perf_counter() - t0
        return out


class Workload:
    name = ""
    n_ops = 0  # operations one pass performs (counted as attempted)

    def wrap_targets(self):
        """(module, attribute, layer) the traced pass gives child spans."""
        return []

    def run(self, spark, tr, d: str) -> tuple[dict, dict]:
        """One pass over the inputs at ``d``: (phase times, outputs)."""
        raise NotImplementedError

    def warm(self, spark, d: str) -> None:
        """The set-up's warm-up: one cheap call into the workload's layers
        on the small warm-up inputs at ``d``."""
        raise NotImplementedError

    def check(self, out: dict, d: str, truth: dict, first: dict | None) -> tuple[list[str], int, float]:
        """(failure messages, checks attempted, quality) for one pass."""
        raise NotImplementedError

    def extras(self, spark, out: dict, d: str) -> dict:
        """Workload-specific per-layer counters measured after a traced pass."""
        return {}


# ---------------------------------------------------------------- lda_books


class LdaBooks(Workload):
    name = "lda_books"
    n_ops = 2

    max_iterations = 50  # Params default, the reference's setting

    def wrap_targets(self):
        from spark_text_clustering_spark import app

        return [(app, "read_text_corpus", "sources"), (app, "vectorize", "vectorize"),
                (app, "train_lda", "lda"), (app, "save_model", "lda"),
                (app, "load_newest_model", "lda"), (app, "score_documents", "lda")]

    def run(self, spark, tr, d):
        from spark_text_clustering_spark import app

        params = app.Params(max_iterations=self.max_iterations,
                            checkpoint_dir=os.path.join(d, "ckpt"))
        books, models = os.path.join(d, "books"), os.path.join(d, "models")
        ph = Phases()
        summary = ph.timed("write_s", lambda: call(tr, "app", app.run_training, spark, books,
                                                   models, params))
        ph.timed("read_s", lambda: call(tr, "app", app.run_scoring, spark, books, models,
                                        os.path.join(d, "report")))
        return ph.t, {"summary": summary}

    def warm(self, spark, d):
        from spark_text_clustering_spark.sources.text_corpus import read_text_corpus

        read_text_corpus(spark, os.path.join(d, "books")).count()

    def check(self, out, d, truth, first):
        from pyspark.ml import PipelineModel

        from spark_text_clustering_spark.functions.textnorm import CLEAN_PATTERN, STOPWORDS

        summary = out["summary"]
        report = []
        for p in sorted(glob.glob(os.path.join(d, "report", "part-*.json"))):
            with open(p) as f:
                report += [json.loads(line) for line in f if line.strip()]
        vocab = PipelineModel.load(os.path.join(summary["model_path"], "vectorizer")).stages[2].vocabulary
        errs = checks.check_topic_report(report, summary["corpus_size"], len(truth["books"]))
        if first is None:
            texts = []
            for name in truth["books"]:
                with open(os.path.join(d, "books", name), encoding="utf-8") as f:
                    texts.append(f.read())
            if vocab != checks.expected_vocabulary(texts, STOPWORDS, CLEAN_PATTERN):
                errs.append("vocabulary differs from the one the corpus defines")
        elif vocab != first["vocab"]:
            errs.append("vocabulary differs between passes")
        out.update(vocab=vocab, report=report)
        return errs, 2, checks.topic_purity(report, truth["topics"])


# ------------------------------------------------------ dedup_graph_ann parts


class DedupGraph(Workload):
    """The dedup/graph part of ``dedup_graph_ann``."""

    n_ops = 4 + 2  # batch keys + ingest batches

    def wrap_targets(self):
        from spark_text_clustering_spark.operators import dedup, graph

        return [(dedup, "load_table", "sources"), (graph, "load_table", "sources"),
                (graph, "_hash_min_cc", "graph")]

    def run(self, spark, tr, d):
        from spark_text_clustering_spark.catalog import load_table
        from spark_text_clustering_spark.operators import dedup, graph

        ph = Phases()
        batch = [("dedup", dedup.dedup_minhash_clusters), ("graph", graph.graph_connected_components),
                 ("graph", graph.graph_bfs_hops), ("graph", graph.graph_kcore_peel)]
        res = {}
        for layer, fn in batch:
            res[fn.__name__] = ph.timed("read_s", lambda: call(tr, layer, fn, spark, d))
        store = os.path.join(d, "store")
        survivors = []
        for b in sorted(os.listdir(os.path.join(d, "ingest"))):
            def ingest():
                with tr.span("sources", "load_table"):
                    docs = load_table(spark, os.path.join(d, "ingest", b), "documents")
                return call(tr, "dedup", dedup.incremental_dedup_minhash, spark, docs, store,
                            batch_id=b)
            survivors.append(sorted(ph.timed("write_s", ingest)["doc_id"].tolist()))
        return ph.t, {"batch": res, "survivors": survivors}

    def warm(self, spark, d):
        from spark_text_clustering_spark.catalog import load_table

        load_table(spark, d, "documents").count()

    def check(self, out, d, truth, first):
        from spark_text_clustering_spark.registry import ORACLES

        res = out["batch"]
        hm = res["dedup_minhash_clusters"]
        errs = checks.check_clusters(hm, truth["n_docs"])
        stored = {}
        for p in glob.glob(os.path.join(d, "store", "signatures", "batch_id=*")):
            stored[p.rsplit("=", 1)[1]] = pq.read_table(p, columns=["doc_id"]).column(0).to_pylist()
        batch_ids = [pq.read_table(os.path.join(d, "ingest", b, "documents.parquet"),
                                   columns=["doc_id"]).column(0).to_pylist()
                     for b in truth["ingest_batches"]]
        errs += checks.check_ingest(out["survivors"], batch_ids, truth["ingest_copies"],
                                    truth["ingest_uniques"], stored)
        n = 2
        if first is None:
            for key, tables in (("graph_connected_components", ("lineitem", "part")),
                                ("graph_bfs_hops", ("lineitem", "part")),
                                ("graph_kcore_peel", ("orders", "lineitem"))):
                want = checks.oracle(ORACLES[key], d, tables)
                errs += [f"{key}: {e}" for e in checks.compare_rows(res[key], want)]
                n += 1
        else:
            for key, got in res.items():
                if checks.compare_rows(got, first["batch"][key]):
                    errs.append(f"{key}: output differs between passes")
            n += 1
        return errs, n, checks.dup_recall(hm, truth["groups"])

    def extras(self, spark, out, d):
        from pyspark.sql import functions as F

        from spark_text_clustering_spark.catalog import load_table
        from spark_text_clustering_spark.operators import dedup

        # the banded candidate pairs dedup_minhash_clusters verifies, and
        # how many of them reach its 0.4 threshold
        sigs = dedup.minhash_signatures(load_table(spark, d, "documents").select("doc_id", "text"))
        bands = dedup._band_rows(sigs.localCheckpoint(eager=True))
        cand = (bands.alias("l").join(bands.alias("r"), ["band", "key"])
                .where(F.col("l.doc_id") < F.col("r.doc_id"))
                .select("l.doc_id", "r.doc_id").distinct().count())
        useful = dedup.dedup_minhash_fast(spark, d, 0.4).count()
        return {"dedup.candidate_pairs": cand, "dedup.useful_ratio": useful / max(cand, 1),
                "dedup.store_bytes": du(os.path.join(d, "store"))}


class AnnSearch(Workload):
    """The ANN/search part of ``dedup_graph_ann``."""

    n_ops = 2 + 2 * N_PROBE_ROUNDS + 1

    def wrap_targets(self):
        from spark_text_clustering_spark.operators import search, similarity

        return [(similarity, "load_table", "sources"), (search, "load_table", "sources"),
                (search, "vectorize", "vectorize")]

    def run(self, spark, tr, d):
        from spark_text_clustering_spark.operators import search, similarity

        ph = Phases()
        builds = [("similarity", similarity.build_ivf_index), ("search", search.build_bm25_index)]
        probes = [("similarity", similarity.knn_cosine_ivf_stored), ("search", search.search_bm25_stored)]
        built = {}
        for layer, fn in builds:
            built[fn.__name__] = ph.timed("write_s", lambda: call(tr, layer, fn, spark, d))
        rounds = []
        for _ in range(N_PROBE_ROUNDS):
            rounds.append({fn.__name__: ph.timed("read_s", lambda: call(tr, layer, fn, spark, d))
                           for layer, fn in probes})
        tfidf = ph.timed("read_s", lambda: call(tr, "search", search.search_tfidf_topk, spark, d))
        return ph.t, {"built": built, "rounds": rounds, "tfidf": tfidf}

    def check(self, out, d, truth, first):
        from spark_text_clustering_spark.operators.similarity import N_QUERIES, TOP_K
        from spark_text_clustering_spark.registry import ORACLES

        errs, n = [], 0
        tmp = tempfile.gettempdir()  # the pass's own temp dir
        for name, b in out["built"].items():
            path = b[0] if isinstance(b, tuple) else b
            if not (path and os.path.abspath(path).startswith(tmp) and os.path.isdir(path)):
                errs.append(f"{name} did not build a fresh index for this pass")
        n += 1
        emb = np.stack(pq.read_table(os.path.join(d, "embeddings.parquet"))
                       .column("embedding").to_numpy(zero_copy_only=False))
        want = checks.exact_topk(emb, N_QUERIES, TOP_K)
        r0 = out["rounds"][0]
        ivf = r0["knn_cosine_ivf_stored"]
        errs += [f"knn_cosine_ivf_stored: {e}" for e in checks.check_knn(ivf, emb, N_QUERIES, TOP_K)]
        n += 1
        for r in out["rounds"][1:]:
            for key, got in r.items():
                if checks.compare_rows(got, r0[key], tol=0.0):
                    errs.append(f"{key}: repeated probe returned a different answer")
        n += 1
        if first is None:
            for key, got in (("search_bm25_stored", r0["search_bm25_stored"]),
                             ("search_tfidf_topk", out["tfidf"])):
                errs += [f"{key}: {e}" for e in checks.compare_rows(
                    got, checks.oracle(ORACLES[key], d, ("documents",)))]
                n += 1
        else:
            if checks.compare_rows(out["tfidf"], first["tfidf"], tol=0.0):
                errs.append("search_tfidf_topk: output differs between passes")
            n += 1
        return errs, n, checks.recall_at_k(ivf, want)

    def extras(self, spark, out, d):
        return {"similarity.index_bytes": du(os.path.dirname(out["built"]["build_ivf_index"][0]))}


# ------------------------------------------------------------ dedup_graph_ann


class DedupGraphAnn(Workload):
    """The operator kernels: the dedup/graph part, then the ANN/search
    part, each on its own input directory (``dedup/`` and ``ann/``)."""

    name = "dedup_graph_ann"

    def __init__(self):
        self.parts = {"dedup": DedupGraph(), "ann": AnnSearch()}
        self.n_ops = sum(p.n_ops for p in self.parts.values())

    def wrap_targets(self):
        return [t for p in self.parts.values() for t in p.wrap_targets()]

    def run(self, spark, tr, d):
        phases, out = {}, {}
        for key, part in self.parts.items():
            ph, out[key] = part.run(spark, tr, os.path.join(d, key))
            for k, v in ph.items():
                phases[k] = phases.get(k, 0.0) + v
        return phases, out

    def warm(self, spark, d):
        self.parts["dedup"].warm(spark, os.path.join(d, "dedup"))

    def check(self, out, d, truth, first):
        """Quality is the mean of ``dup_recall`` and ``recall_at_5``."""
        errs, n, quality = [], 0, []
        for key, part in self.parts.items():
            e, k, q = part.check(out[key], os.path.join(d, key), truth[key],
                                 first[key] if first else None)
            errs += e
            n += k
            quality.append(q)
        return errs, n, statistics.fmean(quality)

    def extras(self, spark, out, d):
        return {k: v for key, part in self.parts.items()
                for k, v in part.extras(spark, out[key], os.path.join(d, key)).items()}


WORKLOADS = {w.name: w for w in (LdaBooks, DedupGraphAnn)}
