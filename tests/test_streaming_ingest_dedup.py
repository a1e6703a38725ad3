"""Streaming ingest dedup: foreachBatch + persistent fingerprint store.

Drives the production composition end-to-end: files land → one
microbatch per file → each epoch dedups against all history → survivors
commit under the epoch's store partition; a checkpoint-restart resumes
without reprocessing, and new files dedup against the whole history.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from spark_text_clustering_spark.catalog import SCHEMAS, load_table
from spark_text_clustering_spark.streaming.ingest_dedup import (
    streaming_ingest_dedup,
)

from .conftest import SF_SMALL


def _write_file(spark, src, name, rows):
    """Land one parquet FILE (not a directory) — the file stream source
    lists plain files under the landing dir."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="ingest_stage_")
    try:
        spark.createDataFrame(rows, SCHEMAS["documents"]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"{name}.parquet"))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _doc_rows(docs, lo, hi, shift=0):
    return [
        (r["doc_id"] + shift, r["text"], r["lang"], r["source"], r["n_chars"])
        for r in docs
        if lo <= r["doc_id"] < hi
    ]


def test_streaming_ingest_dedup_exact(spark, tmp_path):
    docs = [
        r
        for r in load_table(spark, SF_SMALL, "documents").collect()
        if r["doc_id"] < 150
    ]
    src = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # three landing files: [0,50), [50,100), and a full replay of the
    # first file under shifted ids (pure late duplicates)
    _write_file(spark, src, "f0", _doc_rows(docs, 0, 50))
    _write_file(spark, src, "f1", _doc_rows(docs, 50, 100))
    _write_file(spark, src, "f2", _doc_rows(docs, 0, 50, shift=7_000_000))

    out = streaming_ingest_dedup(spark, src, store, ckpt)
    n_distinct = (
        spark.createDataFrame(
            _doc_rows(docs, 0, 100), SCHEMAS["documents"]
        )
        .select("text")
        .distinct()
        .count()
    )
    # survivors across all epochs == corpus-distinct texts of files 0+1
    # (file 2 is all duplicates)
    assert out.count() == n_distinct
    # one store partition per epoch that had survivors
    parts = {r["batch_id"] for r in out.select("batch_id").distinct().collect()}
    assert parts == {"epoch000000", "epoch000001"} | (
        {"epoch000002"} if out.where(F.col("batch_id") == "epoch000002").count() else set()
    )

    # restart with the SAME checkpoint: nothing to reprocess, store unchanged
    out2 = streaming_ingest_dedup(spark, src, store, ckpt)
    assert out2.count() == n_distinct

    # a NEW file after restart: half replays of history + half fresh docs
    fresh = _doc_rows(docs, 100, 120)
    stale = _doc_rows(docs, 50, 70, shift=8_000_000)
    _write_file(spark, src, "f3", fresh + stale)
    out3 = streaming_ingest_dedup(spark, src, store, ckpt)
    n_distinct_all = (
        spark.createDataFrame(
            _doc_rows(docs, 0, 120), SCHEMAS["documents"]
        )
        .select("text")
        .distinct()
        .count()
    )
    assert out3.count() == n_distinct_all

    # crash-replay equivalence: re-running epoch 3's batch under its own
    # batch_id (what a foreachBatch retry does) must leave the store
    # byte-identical in survivor count — the overwrite commit
    from spark_text_clustering_spark.operators.dedup import incremental_dedup

    batch3 = spark.createDataFrame(fresh + stale, SCHEMAS["documents"]).select(
        "doc_id", "text"
    )
    incremental_dedup(spark, batch3, store, batch_id="epoch000003")
    assert spark.read.parquet(store).count() == n_distinct_all


def test_streaming_ingest_dedup_minhash(spark, tmp_path):
    """Near-dup twin through the same streaming harness: the second
    file's light perturbations of the first file's docs are dropped
    against the signature store; short docs survive (the round-6 fix)."""
    import numpy as np

    rng = np.random.default_rng(13)
    vocab = [f"w{i}" for i in range(300)]

    def doc(n=40):
        return " ".join(vocab[i] for i in rng.integers(0, len(vocab), n))

    base = {i: doc() for i in range(8)}

    def perturb(t, seed):
        words = t.split()
        words[5 + seed % 10] = "zz" + words[5 + seed % 10]
        return " ".join(words)

    src = str(tmp_path / "landing_mh")
    store = str(tmp_path / "store_mh")
    ckpt = str(tmp_path / "ckpt_mh")
    os.makedirs(src)
    rows1 = [(i, t, "en", "src", len(t)) for i, t in base.items()]
    rows2 = [(100 + i, perturb(base[i], i), "en", "src", 1) for i in range(4)] + [
        (200, doc(), "en", "src", 1),
        (201, "tiny doc", "en", "src", 8),  # <3 tokens: must survive
    ]
    _write_file(spark, src, "f0", rows1)
    _write_file(spark, src, "f1", rows2)

    sigs = streaming_ingest_dedup(spark, src, store, ckpt, minhash=True)
    survivors = {r["doc_id"] for r in sigs.select("doc_id").collect()}
    # file-1 perturbations (100..103) dropped; 200 fresh doc kept;
    # 201 is unshingleable so it carries no signature, but it IS a
    # survivor: its epoch commits it into the signature store with
    # sig = NULL (round-7 fix made it durable; the round-15 fused commit
    # moved it from a separate unsigned/ sub-store into the same batch
    # partition)
    assert set(range(8)) <= survivors
    assert survivors & {100, 101, 102, 103} == set()
    assert 200 in survivors
    assert 201 in survivors
    # and it is durable: a fresh read of the store (what a new session
    # would do) sees it too — as a NULL-sig row that carries no band rows
    # (nothing can ever match it)
    sig_store = spark.read.parquet(f"{store}/signatures")
    unsigned_ids = {
        r["doc_id"] for r in sig_store.where(sig_store["sig"].isNull()).collect()
    }
    assert unsigned_ids == {201}
    band_ids = {
        r["doc_id"] for r in spark.read.parquet(f"{store}/bands").collect()
    }
    assert 201 not in band_ids


def test_streaming_ingest_dedup_minhash_keeps_legacy_unsigned_survivors(spark, tmp_path):
    """A store written before the fused commit keeps its short-doc
    survivors only in ``unsigned/batch_id=<bid>/`` (doc ids, no sig rows).
    Streaming a new epoch onto such a store must still report them."""
    import numpy as np

    from spark_text_clustering_spark.operators.dedup import incremental_dedup_minhash

    rng = np.random.default_rng(17)
    vocab = [f"w{i}" for i in range(300)]

    def doc():
        return " ".join(vocab[i] for i in rng.integers(0, len(vocab), 40))

    # legacy layout: signed survivors in signatures/ + bands/, the short
    # doc 50 only in the unsigned/ sub-store
    store = str(tmp_path / "store_legacy")
    signed = spark.createDataFrame([(i, doc()) for i in range(4)], "doc_id long, text string")
    incremental_dedup_minhash(spark, signed, store, batch_id="b000000")
    spark.createDataFrame([(50,)], "doc_id long").write.parquet(
        f"{store}/unsigned/batch_id=b000000"
    )

    src = str(tmp_path / "landing_legacy")
    os.makedirs(src)
    text = doc()
    _write_file(spark, src, "f0", [(100, text, "en", "src", len(text))])
    out = streaming_ingest_dedup(
        spark, src, store, str(tmp_path / "ckpt_legacy"), minhash=True
    )
    assert {r["doc_id"] for r in out.collect()} == {0, 1, 2, 3, 50, 100}


def test_streaming_lang_id_serving_replay_idempotent(spark, tmp_path):
    """round-7 ADVICE regression: foreachBatch is at-least-once, so a
    replayed epoch must REPLACE its predictions, not append beside them.
    Simulate the worst-case replay — wipe the checkpoint and re-drain the
    same landing dir into the SAME output dir: every epoch re-fires with
    its original epoch id, and the per-epoch partition overwrite must
    leave the prediction count unchanged (append mode doubled it)."""
    import glob

    from spark_text_clustering_spark.streaming.model_serving import (
        serve_lang_id_stream,
    )

    docs = [
        r
        for r in load_table(spark, SF_SMALL, "documents").collect()
        if r["doc_id"] < 90
    ]
    src = str(tmp_path / "serve_landing")
    out = str(tmp_path / "serve_out")
    os.makedirs(src)
    for i, (lo, hi) in enumerate([(0, 30), (30, 60), (60, 90)]):
        _write_file(spark, src, f"f{i}", _doc_rows(docs, lo, hi))
        p = os.path.join(src, f"f{i}.parquet")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    n1 = serve_lang_id_stream(
        spark, src, SF_SMALL, out, str(tmp_path / "ck1")
    ).count()
    assert n1 == len(docs)
    n2 = serve_lang_id_stream(
        spark, src, SF_SMALL, out, str(tmp_path / "ck2")
    ).count()
    assert n2 == n1
    eps = {
        os.path.basename(p) for p in glob.glob(os.path.join(out, "epoch=*"))
    }
    assert eps == {"epoch=0", "epoch=1", "epoch=2"}
