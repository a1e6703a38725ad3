"""Per-layer metrics from one traced pass's spans.

Common counters (``<layer>.<counter>``) sum each layer's spans' OWN jobs
and self time, so the layers add up to the pass without double counting.
The named metrics below are the ones later changes are expected to move.
"""

from __future__ import annotations

import statistics

from spans import COUNTERS, Span

LAYERS = ("sources", "vectorize", "lda", "app", "dedup", "graph", "similarity", "search")

# measured outside the spans by the workload or the run; 0 where the
# workload never enters the layer
EXTRAS = ("ckpt.pinned_rdds", "dedup.candidate_pairs", "dedup.useful_ratio",
          "dedup.store_bytes", "similarity.index_bytes", "session.start_s",
          "trace.overhead_s", "trace.run_s")


def _inclusive(spans: list[Span], key: str) -> dict[int, float]:
    tot = {s.idx: s.counters[key] for s in spans}
    for s in sorted(spans, key=lambda s: -s.idx):  # children have larger idx
        if s.parent is not None:
            tot[s.parent] += tot[s.idx]
    return tot


def layer_metrics(spans: list[Span], em_iterations: int) -> dict[str, float]:
    m: dict[str, float] = {}
    for layer in LAYERS:
        for c in COUNTERS:
            m[f"{layer}.{c}"] = sum(s.counters[c] for s in spans if s.layer == layer)
    m["sources.scan_s"] = sum(s.counters["scan_s"] for s in spans)
    m["sources.scan_bytes"] = sum(s.counters["input_bytes"] for s in spans)

    def named(layer, name):
        return [s for s in spans if s.layer == layer and s.name == name]

    def top(layer, pred):
        return [s for s in spans if s.layer == layer and s.parent is None and pred(s.name)]

    train = named("lda", "train_lda")
    m["lda.em_s_per_iter"] = sum(s.dur for s in train) / em_iterations
    m["lda.stages_per_iter"] = sum(s.counters["stages"] for s in train) / em_iterations
    m["lda.save_s"] = sum(s.dur for s in named("lda", "save_model"))
    m["lda.load_s"] = sum(s.dur for s in named("lda", "load_newest_model"))
    scoring = named("app", "run_scoring")
    # scoring is one lazy plan forced by the report write inside run_scoring
    m["lda.score_s"] = sum(s.dur for s in scoring) - m["lda.load_s"] if scoring else 0.0
    m["vectorize.fit_s"] = sum(s.dur for s in named("vectorize", "vectorize"))
    m["similarity.build_s"] = sum(s.dur for s in top("similarity", lambda n: n.startswith("build_")))
    probes = top("similarity", lambda n: n.endswith("_stored"))
    m["similarity.probe_s"] = statistics.median(s.dur for s in probes) if probes else 0.0
    incl = _inclusive(spans, "input_bytes")
    m["similarity.bytes_read_per_probe"] = (
        statistics.fmean(incl[s.idx] for s in probes) if probes else 0.0)
    bm25 = top("search", lambda n: n == "search_bm25_stored")
    m["search.bm25_probe_s"] = statistics.median(s.dur for s in bm25) if bm25 else 0.0
    return m
