"""Property tests (hypothesis) for pure-Python kernels + Spark invariants
(SURVEY §5.2.5)."""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spark_text_clustering_spark.operators.dedup import _simhash_series
from spark_text_clustering_spark.operators.text import _fingerprint_series, _porter_lite
from spark_text_clustering_spark.registry import QUERIES

from .conftest import SF_SMALL

words = st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=12)


@given(words)
def test_porter_lite_never_grows(w):
    s = _porter_lite(w)
    assert len(s) <= len(w)
    assert s == _porter_lite(w)  # deterministic


@given(st.lists(words, min_size=1, max_size=30))
def test_simhash_in_long_range_and_deterministic(tokens):
    h1 = _simhash_series(pd.Series([tokens])).iloc[0]
    h2 = _simhash_series(pd.Series([tokens])).iloc[0]
    assert h1 == h2
    assert -(1 << 63) <= h1 < (1 << 63)


@given(st.text(max_size=200))
@settings(max_examples=50)
def test_fingerprint_deterministic(s):
    f1 = _fingerprint_series(pd.Series([s])).iloc[0]
    f2 = _fingerprint_series(pd.Series([s])).iloc[0]
    assert f1 == f2
    assert 0 <= f1 < (1 << 61) - 1


@given(st.lists(words, min_size=2, max_size=20))
def test_simhash_permutation_invariant(tokens):
    """SimHash over a token multiset ignores order (bag-of-words)."""
    h1 = _simhash_series(pd.Series([tokens])).iloc[0]
    h2 = _simhash_series(pd.Series([list(reversed(tokens))])).iloc[0]
    assert h1 == h2


# ---------------------------------------------------------------------------
# Spark invariants (single-run, not hypothesis-driven)
# ---------------------------------------------------------------------------


def test_dedup_exact_idempotent(spark):
    out1 = QUERIES["dedup_exact_hash"](spark, SF_SMALL)
    # dedup output has unique doc_ids; re-deduping the survivors is a no-op
    n = out1.count()
    assert out1.select("doc_id").distinct().count() == n


def test_stopword_filter_no_empty_tokens(spark):
    import pyspark.sql.functions as F

    # stopword_filter serializes tokens as a space-joined string (atomic
    # schema contract) — split it back to assert no empty tokens survive.
    # an all-stopword doc serializes to '' whose split yields [''] — only
    # non-empty serializations can contain a genuinely empty token
    df = QUERIES["stopword_filter"](spark, SF_SMALL)
    bad = df.where(
        (F.length("tokens") > 0)
        & F.exists(F.split("tokens", " "), lambda t: F.length(t) == 0)
    ).count()
    assert bad == 0


def test_argmax_in_range(spark):
    import pyspark.sql.functions as F

    df = QUERIES["argmax_array"](spark, SF_SMALL)
    out_of_range = df.where((F.col("argmax_idx") < 0) | (F.col("argmax_idx") >= 64)).count()
    assert out_of_range == 0


def test_knn_exact_rank_complete(spark):
    """Every query id gets exactly TOP_K neighbors with ranks 1..k."""
    df = QUERIES["knn_cosine_exact"](spark, SF_SMALL).toPandas()
    for qid, grp in df.groupby("query_id"):
        assert sorted(grp["rank"]) == [1, 2, 3, 4, 5]
        assert grp["cosine_sim"].is_monotonic_decreasing or len(set(grp["cosine_sim"])) < 5


def test_approx_count_distinct_error_bound(spark):
    """HLL++ estimate within 5% of the exact distinct count per group."""
    import pyspark.sql.functions as F

    from spark_text_clustering_spark.catalog import load_table

    ev = load_table(spark, SF_SMALL, "events")
    got = {
        r["event_type"]: r
        for r in QUERIES["approx_count_distinct"](spark, SF_SMALL).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, r in got.items():
        assert r["exact_users"] == exact[k], (k, r["exact_users"], exact[k])
        assert r["within_5pct"] is True, (k, dict(r.asDict()))


def test_percentile_approx_close_to_exact(spark):
    """The genuinely-approximate percentile path (KLL/GK sketch) lands
    within one value-step of the exact percentile on l_quantity."""
    import pyspark.sql.functions as F

    from spark_text_clustering_spark.catalog import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    both = li.groupBy("l_returnflag").agg(
        F.expr("percentile_approx(l_quantity, 0.5, 10000)").alias("approx"),
        F.expr("percentile(l_quantity, 0.5D)").alias("exact"),
    )
    for r in both.collect():
        assert abs(r["approx"] - r["exact"]) <= 1.0, tuple(r)


def test_gemm_knn_equals_exact_knn(spark):
    """The BLAS path and the JVM zip_with path must produce identical
    top-k results (same rounding, same tiebreaks)."""
    a = QUERIES["knn_cosine_exact"](spark, SF_SMALL).toPandas()
    b = QUERIES["knn_cosine_gemm"](spark, SF_SMALL).toPandas()
    key = lambda df: sorted(map(tuple, df[sorted(df.columns)].itertuples(index=False)))
    assert key(a) == key(b)


def test_hll_sketch_merge_error_bound(spark):
    """Per-partition HLL sketches and their union must estimate within 5%
    of the exact distinct counts (merge must not degrade accuracy)."""
    from spark_text_clustering_spark.operators.relational_more import (
        hll_sketch_build_merge,
    )
    from .conftest import SF_ORACLE

    rows = {r["lang"]: r for r in hll_sketch_build_merge(spark, SF_ORACLE).collect()}
    for lang, r in rows.items():
        assert r["within_5pct"] is True, (lang, dict(r.asDict()))
    # the __all__ row's exact count vs an independently computed one
    from spark_text_clustering_spark.catalog import load_table
    from pyspark.sql import functions as F

    exact_union = (
        load_table(spark, SF_ORACLE, "documents")
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("t"))
        .agg(F.count_distinct("t"))
        .collect()[0][0]
    )
    assert rows["__all__"]["exact_distinct"] == exact_union


def test_freq_items_equals_exact_heavy_hitters(spark):
    """The candidate→exact-verify pipeline must return EXACTLY the values
    whose frequency exceeds the 10% support threshold (r13: promoted
    from superset-only to equality — the sketch's no-false-negative
    guarantee plus the verify pass make the output exact)."""
    from spark_text_clustering_spark.catalog import load_table
    from spark_text_clustering_spark.operators.relational_more import (
        freq_items_sketch,
    )
    from .conftest import SF_ORACLE

    got = {
        (r["col"], r["value"], r["n_occur"])
        for r in freq_items_sketch(spark, SF_ORACLE).collect()
    }
    ev = load_table(spark, SF_ORACLE, "events")
    n = ev.count()
    exact = set()
    for col in ("event_type", "user_id"):
        for r in ev.groupBy(col).count().collect():
            if 10 * r["count"] > n:
                exact.add((col, str(r[col]), r["count"]))
    assert got == exact


def test_funnel_monotone_and_centroid_bounds(spark):
    """Funnel steps can only lose users (viewed >= clicked >= purchased);
    each centroid coordinate lies within the min/max of its label's
    vectors (mean-pooling invariant)."""
    from pyspark.sql import functions as F

    from spark_text_clustering_spark.operators.analytics import (
        embedding_centroid_per_label,
        funnel_conversion,
    )

    from .conftest import SF_ORACLE

    row = funnel_conversion(spark, SF_ORACLE).collect()[0]
    assert row.viewed >= row.clicked_after_view >= row.purchased_after_click >= 0

    cent = embedding_centroid_per_label(spark, SF_ORACLE)
    bad = cent.where(
        (F.col("centroid_v") > 1e6)
        | (F.col("centroid_v") < -1e6)
        | F.col("centroid_v").isNull()
    )
    assert bad.count() == 0
    # every label has exactly one value per dimension 1..64
    per_label = cent.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("pos").alias("n_pos"),
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
    )
    assert per_label.where(
        (F.col("n") != 64) | (F.col("n_pos") != 64) | (F.col("lo") != 1) | (F.col("hi") != 64)
    ).count() == 0


def test_shard_assignment_balanced(spark):
    """md5 sharding must be near-uniform: no shard holds more than ~3x the
    mean (binomial tail bound at n=500, p=1/16)."""
    import pyspark.sql.functions as F

    from spark_text_clustering_spark.operators.traindata import N_SHARDS

    df = QUERIES["shard_assign_shuffle"](spark, SF_SMALL)
    counts = [r["n"] for r in df.groupBy("shard").agg(F.count("*").alias("n")).collect()]
    assert len(counts) == N_SHARDS  # every shard populated
    mean = sum(counts) / len(counts)
    assert max(counts) < 3 * mean and min(counts) > mean / 3


def test_pack_sequences_contiguous_and_conserving(spark):
    """Within each shard: seq_ids start at 0, are contiguous (docs here are
    far smaller than SEQ_LEN so no bin can be skipped), and token totals
    are conserved."""
    import pyspark.sql.functions as F

    df = QUERIES["pack_sequences_budget"](spark, SF_SMALL).cache()
    per_shard = (
        df.groupBy("shard")
        .agg(
            F.min("seq_id").alias("lo"),
            F.max("seq_id").alias("hi"),
            F.countDistinct("seq_id").alias("n_seq"),
            F.sum("n_tok").alias("tok"),
        )
        .collect()
    )
    for r in per_shard:
        assert r["lo"] == 0
        assert r["n_seq"] == r["hi"] + 1  # contiguous bins
    # token conservation: packing reassigns docs to sequences, never
    # drops or duplicates tokens
    total = df.agg(F.sum("n_tok")).first()[0]
    n_docs = df.count()
    src = QUERIES["shard_assign_shuffle"](spark, SF_SMALL).count()
    assert n_docs == src and total > 0
    df.unpersist()


def test_mixture_sample_rates_converge(spark):
    """Kept fraction per source must approach its target rate (seeded
    uniforms; 500 docs -> generous tolerance)."""
    import pyspark.sql.functions as F

    from spark_text_clustering_spark.catalog import load_table

    kept = QUERIES["mixture_sample_by_source"](spark, SF_SMALL)
    base = load_table(spark, SF_SMALL, "documents").groupBy("source").agg(
        F.count("*").alias("n_all")
    )
    got = kept.groupBy("source", "rate").agg(F.count("*").alias("n_kept"))
    joined = got.join(base, "source").collect()
    assert joined
    for r in joined:
        frac = r["n_kept"] / r["n_all"]
        assert frac <= 1.0
        # binomial noise at n~25/source: allow +-0.35 absolute
        assert abs(frac - r["rate"]) < 0.35


# --- round 4: JPEG codec properties ---------------------------------------

_dims = st.integers(min_value=1, max_value=40)


@given(_dims, _dims, st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=25, deadline=None)
def test_jpeg_gray_roundtrip_bounded_any_dims(h, w, seed):
    """Any image, any (non-8-multiple) dims: decode(encode(x, q=None))
    differs from x by at most 1 per pixel (pure float-DCT rounding)."""
    import numpy as np

    from spark_text_clustering_spark.functions import jpegcodec as jc

    img = np.random.default_rng(seed).integers(0, 256, (h, w)).astype(np.uint8)
    dec = jc.decode_jpeg_gray(jc.encode_jpeg_gray(img, quality=None))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1


@given(st.integers(min_value=1, max_value=100), st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=15, deadline=None)
def test_jpeg_gray_lossy_never_crashes_and_bounded(q, seed):
    """Every quality in [1,100] produces a decodable stream with error
    bounded by the worst quant step (coarse but universal bound)."""
    import numpy as np

    from spark_text_clustering_spark.functions import jpegcodec as jc

    img = np.random.default_rng(seed).integers(0, 256, (16, 24)).astype(np.uint8)
    qt = jc.quant_table(q)
    dec = jc.decode_jpeg_gray(jc.encode_jpeg_gray(img, quality=q))
    assert dec.shape == img.shape
    # IDCT error per pixel <= sum of per-coefficient quant errors / 8... use
    # the loose-but-sound bound: 8 * max quant step covers the worst block.
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 8 * int(qt.max())


@given(_dims, _dims, st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=15, deadline=None)
def test_jpeg_color_roundtrip_bounded_any_dims(h, w, seed):
    import numpy as np

    from spark_text_clustering_spark.functions import jpegcodec as jc

    rng = np.random.default_rng(seed)
    # smooth-ish image: random per-channel constants + mild gradient, so
    # the 4:2:0 chroma subsample bound stays tight
    base = rng.integers(16, 240, (1, 1, 3))
    y, x = np.mgrid[0:h, 0:w]
    img = np.clip(base + (x % 8)[..., None] + (y % 8)[..., None], 0, 255).astype(np.uint8)
    dec = jc.decode_jpeg_rgb(jc.encode_jpeg_rgb(img, quality=None))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 24


def test_weighted_reservoir_favors_heavy_docs(spark):
    """Statistical sanity for A-ES: the mean weight of the selected sample
    must exceed the corpus mean weight (inclusion ∝ weight)."""
    import pyspark.sql.functions as F

    from spark_text_clustering_spark.catalog import load_table
    from spark_text_clustering_spark.registry import QUERIES

    from .conftest import SF_SMALL

    sample = QUERIES["sample_weighted_reservoir"](spark, SF_SMALL)
    samp_mean = sample.agg(F.avg("weight")).first()[0]
    corpus_mean = (
        load_table(spark, SF_SMALL, "documents")
        .agg(F.avg(F.greatest(F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(1))))
        .first()[0]
    )
    assert samp_mean > corpus_mean


@given(
    st.lists(st.integers(min_value=0, max_value=255), min_size=1, max_size=2000),
    st.integers(min_value=2, max_value=8),
)
@settings(max_examples=30, deadline=None)
def test_gif_lzw_roundtrip_property(seq, mcs):
    """Variable-width GIF LZW round-trips any index stream whose symbols
    fit the minimum code size (dict growth, KwKwK, width switches, and
    4096-entry CLEAR resets all exercised by the generator)."""
    from spark_text_clustering_spark.functions import gifcodec as gc

    seq = [v % (1 << mcs) for v in seq]
    assert gc.lzw_decompress(gc.lzw_compress(seq, mcs), mcs) == seq


def _hilbert_xy2d(order, x, y):
    """Reference implementation of the exact fold both engines run."""
    n_1 = (1 << order) - 1
    d = 0
    for i in range(order - 1, -1, -1):
        rx = (x >> i) & 1
        ry = (y >> i) & 1
        d += (1 << (2 * i)) * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n_1 - x, n_1 - y
            x, y = y, x
    return d


def test_hilbert_curve_locality_exhaustive():
    """The defining Hilbert properties on a full small grid: xy2d is a
    bijection onto [0, n^2) and consecutive d values are exactly one
    Manhattan step apart (Morton violates the latter at power-of-two
    boundaries — that's the locality win)."""
    order = 5  # 32x32 grid, exhaustive
    n = 1 << order
    inv = {}
    for x in range(n):
        for y in range(n):
            d = _hilbert_xy2d(order, x, y)
            assert d not in inv
            inv[d] = (x, y)
    assert sorted(inv) == list(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_spark_fold_matches_reference(spark):
    """The Catalyst `aggregate` fold must equal the reference xy2d at
    order 15 on the real key values (the oracle already pins Spark ==
    DuckDB; this pins both == the published algorithm)."""
    from spark_text_clustering_spark.registry import QUERIES

    from .conftest import SF_SMALL

    rows = QUERIES["layout_hilbert_key"](spark, SF_SMALL).limit(300).collect()
    assert rows
    for r in rows:
        assert r["hkey"] == _hilbert_xy2d(15, r["x"], r["y"]), (r["x"], r["y"])


# --- round 5: streaming heavy-hitter kernel invariants (pure python) ---

_hh_stream = st.lists(
    st.tuples(st.integers(0, 40), st.integers(1, 50)), min_size=1, max_size=60
)


@given(_hh_stream, st.integers(1, 8))
@settings(max_examples=200, deadline=None)
def test_misra_gries_superset_guarantee(stream, capacity):
    """MG with k counters must retain EVERY key whose true count exceeds
    total/(k+1) — the bound the streaming heavy-hitter operator's
    candidate-superset claim rests on — and its stored counts never
    overestimate the truth."""
    from collections import Counter

    from spark_text_clustering_spark.streaming.heavy_hitters import _mg_fold

    mg: dict[int, int] = {}
    true = Counter()
    for key, c in stream:
        true[key] += c
        _mg_fold(mg, key, c, capacity)
    total = sum(true.values())
    assert len(mg) <= capacity
    for key, cnt in true.items():
        if cnt > total / (capacity + 1):
            assert key in mg, (key, cnt, total, capacity)
    for key, est in mg.items():
        assert est <= true[key]  # MG only ever undercounts


@given(_hh_stream)
@settings(max_examples=100, deadline=None)
def test_cms_upper_bound_never_undercounts(stream):
    """The CMS estimate (min over depth rows) must upper-bound every key's
    true count — the property that makes candidate pruning lossless."""
    import numpy as np
    from collections import Counter

    from spark_text_clustering_spark.streaming.heavy_hitters import (
        _CMS_DEPTH,
        _CMS_WIDTH,
        _cms_positions,
    )

    cms = np.zeros((_CMS_DEPTH, _CMS_WIDTH), dtype=np.int64)
    true = Counter()
    for key, c in stream:
        true[key] += c
        pos = _cms_positions(np.array([key], dtype=np.int64))[0]
        cms[np.arange(_CMS_DEPTH), pos] += c
    for key, cnt in true.items():
        pos = _cms_positions(np.array([key], dtype=np.int64))[0]
        assert int(cms[np.arange(_CMS_DEPTH), pos].min()) >= cnt


def test_bpe_merge_fold_matches_python_on_adversarial_words(spark):
    """The aggregate-fold greedy merge application (F.get lookbehind) must
    equal the canonical left-to-right python merge on words built to
    stress overlap cases: runs of the merged letter, the pair at word
    start/end, interleaved aa/ab patterns."""
    from pyspark.sql import functions as F

    words = [
        "aaa", "aaaa", "aab", "baa", "abab", "aabb", "abba", "bab",
        "aaab", "abaa", "bbaa", "aa", "ab", "ba", "bb", "a", "b",
        "aabaab", "ababab", "baaab",
    ]
    a, b = "a", "b"
    merged = a + b
    df = spark.createDataFrame([(w,) for w in words], "word string").select(
        "word",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("syms"),
    )
    la, lb, lm = F.lit(a), F.lit(b), F.lit(merged)
    fold = F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == la) & (x == lb),
            F.concat(
                F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
                F.array(lm),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    got = {r["word"]: r["m"] for r in df.select("word", fold.alias("m")).collect()}

    def py_merge(w):
        s, out, i = list(w), [], 0
        while i < len(s):
            if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                out.append(merged)
                i += 2
            else:
                out.append(s[i])
                i += 1
        return out

    for w in words:
        assert got[w] == py_merge(w), w


@given(st.text(min_size=0, max_size=40))
@settings(max_examples=300, deadline=None)
def test_lemmatizer_total_on_arbitrary_unicode(w):
    """RuleLemmatizer.lemma and porter_stem must be total functions on any
    unicode input (emoji, combining marks, RTL, digits): no exception,
    and lemma output is always lowercase-or-empty with the >3 gate."""
    from spark_text_clustering_spark.functions.lemmatize import RuleLemmatizer
    from spark_text_clustering_spark.functions.porter import porter_stem

    lem = RuleLemmatizer()
    out = lem.lemma(w)
    assert out == "" or len(out) > 3
    assert out == out.lower()
    porter_stem(out or w.lower())  # must not raise either
