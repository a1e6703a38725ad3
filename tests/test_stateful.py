"""applyInPandasWithState: the custom stateful operator must equal its
batch twin after full replay (batch-equivalence, SURVEY §5.2.4)."""


def test_stream_heavy_hitters_match_batch(spark, tmp_path):
    """Streaming heavy hitters (round 5): windowed CMS + Misra-Gries in
    applyInPandasWithState, candidates emitted on event-time timeout, exact
    verify over the archive. With capacity=4 counters against 8 distinct
    keys in window 1, MG eviction is genuinely exercised, yet the final
    output must equal the batch twin exactly (candidate superset + lossless
    CMS pruning + exact verify)."""
    import os
    import time

    import pandas as pd

    from spark_text_clustering_spark.streaming.heavy_hitters import (
        heavy_hitters_window_batch,
        heavy_hitters_window_stream,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    S = lambda s: t0 + pd.Timedelta(seconds=s)  # noqa: E731
    src = str(tmp_path / "hh_src")
    os.makedirs(src)

    def write(name, rows, mtime):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        path = os.path.join(src, name)
        pdf.to_parquet(path)
        os.utime(path, (mtime, mtime))

    base = time.time()
    # window 1 [0, 600): user1 x5, user2 x3, singletons 3..8 -> total 14,
    # threshold ceil(0.25*14)=4 -> hitters {1}; 8 distinct keys > capacity 4
    write("f1.parquet", [(1, S(10)), (1, S(50)), (1, S(100)), (3, S(150)),
                         (4, S(200)), (5, S(300))], base)
    write("f2.parquet", [(1, S(400)), (1, S(450)), (2, S(460)), (2, S(470)),
                         (2, S(480)), (6, S(500)), (7, S(550)), (8, S(590))], base + 10)
    # window 2 [600, 1200): user7 x4, user9 x4, user10 x2 -> total 10,
    # threshold 3 -> hitters {7, 9}
    write("f3.parquet", [(7, S(700)), (7, S(710)), (7, S(720)), (7, S(730)),
                         (9, S(800)), (9, S(810)), (9, S(820)), (9, S(830)),
                         (10, S(900)), (10, S(910))], base + 20)
    # watermark pushers: fire window-1 then window-2 timeouts
    write("f4.parquet", [(999, S(7200))], base + 30)
    write("f5.parquet", [(999, S(72000))], base + 40)

    out = heavy_hitters_window_stream(
        spark, src, window_seconds=600, support=0.25, delay_seconds=60,
        table_name="t_hh_stream",
    )
    cutoff = pd.Timestamp("2024-01-01 00:20:00")
    got = sorted(
        (r["window_start"], r["user_id"], r["cnt"])
        for r in out.collect()
        if r["window_start"] < cutoff
    )
    events = spark.createDataFrame(
        pd.read_parquet(src), "user_id long, ts timestamp"
    )
    want = sorted(
        (r["window_start"], r["user_id"], r["cnt"])
        for r in heavy_hitters_window_batch(events, 600, 0.25).collect()
        if r["window_start"] < cutoff
    )
    assert got == want
    assert [u for _, u, _ in got] == [1, 7, 9]  # the hand-computed hitters
