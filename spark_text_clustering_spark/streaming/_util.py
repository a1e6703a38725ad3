"""Shared streaming helpers."""

from __future__ import annotations


def await_drain(q, timeout_sec: int, what: str = "stream") -> None:
    """``awaitTermination(timeout)`` returns False on timeout with the
    query STILL RUNNING — every caller in this package reads the query's
    output (memory table / parquet store) right after, so proceeding on a
    timeout means reading state a live writer may still be mutating (and
    demo teardown may delete dirs under it). Stop the query and fail
    loudly instead (round-7 ADVICE fix)."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"{what} did not drain within {timeout_sec}s")


# One staged source directory per (applicationId, tag) — the registered
# streaming demos simulate file-by-file arrival by landing a bounded
# table slice as N single-file parquet "arrivals" (an approxQuantile cut
# job + N coalesce(1) writes + copies) before every replay. That staging
# is arrival scaffolding, not the computation under test: the stream
# itself still reads, scores, and commits from the staged parquet on
# every call (fresh out/checkpoint dirs per call — a reused streaming
# checkpoint would silently replay NOTHING, which is exactly the
# result-caching this repo bans). Memoizing the staged dir per session
# cuts the ~4 setup jobs per call (r14 session 3). The dirs are
# process-lifetime temp dirs, the same lifecycle as the memoized
# ANN index artifacts.
_STAGED_SRC_MEMO: dict = {}


def staged_source(spark, tag: str, build_fn) -> str:
    """Return a memoized staged-source dir for ``tag``; on first call per
    (applicationId, tag) create it and invoke ``build_fn(src_dir, base_dir)``
    to land the arrival files. ``build_fn`` must return the file count;
    a zero-file staging is NOT memoized (empty input short-circuits)."""
    import tempfile

    key = (spark.sparkContext.applicationId, tag)
    if key in _STAGED_SRC_MEMO:
        return _STAGED_SRC_MEMO[key]
    import os

    base = tempfile.mkdtemp(prefix=f"staged_{tag.rsplit('/', 1)[-1]}_")
    src = os.path.join(base, "src")
    os.makedirs(src)
    n = build_fn(src, base)
    if not n:
        return ""
    _STAGED_SRC_MEMO[key] = src
    return src
