"""Text-pipeline operators: the reference's NLP chain re-expressed
relationally, plus the LLM-data-pipeline text-analysis operators.

Reference chain (SURVEY §2.2-2.4): regex clean (P2, LDAClustering.scala:
283-284) → tokenize (P5, :133-135) → stopword/length filter (P6, :125-136)
→ stem (P7, :134-137) → word count (A1, :144-146) → frequency-ranked vocab
(T1/T2, :148-151) → vocab lookup join (J1, :154-167).

Everything except the stemmer/fingerprint UDFs is built-in Catalyst and has
a DuckDB oracle. The two Python paths are Arrow-batched pandas UDFs (never
row-at-a-time), mirroring the reference's per-partition heavy-object
pattern (Morphology per partition, LDAClustering.scala:116-121).

Scale: token explode multiplies rows by ~tokens/doc, but the very next
operator is a partial hash aggregation — the Zipf distribution of natural
text means map-side combine collapses the heavy hitters before the
shuffle. The vocabulary (output of top-k) is small by construction, so all
vocab joins are broadcasts, exactly replacing the reference's
closure-captured driver Map (J1) without serializing it into every task.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .._registry import Registry
from ..catalog import load_table, spread
from ..functions.textnorm import CLEAN_PATTERN, CLEAN_PATTERN_SQL, STOPWORDS, stopwords_sql_list

REG = Registry()

# Shared oracle CTE fragments (DuckDB) — must mirror the Spark expressions.
_TOK_CTE = (
    "tok AS (SELECT doc_id, lang, "
    "unnest(regexp_split_to_array(lower(text), '\\s+')) AS token FROM documents)"
)
_CNT_CTE = "cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token)"
_RANKED_CTE = (
    "ranked AS (SELECT token, cnt, "
    "CAST(row_number() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT) AS term_id FROM cnt)"
)


def _tokens_col() -> Column:
    """lower + whitespace-split tokenizer (reference P5, OpenNLP
    SimpleTokenizer → built-in split; no Python in the loop)."""
    return F.split(F.lower(F.col("text")), r"\s+")


def _token_rows(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "lang", F.explode(_tokens_col()).alias("token"))


def _token_counts(docs: DataFrame) -> DataFrame:
    """Reference A1: flatMap + reduceByKey → explode + partial/final
    hash agg (LDAClustering.scala:144-146)."""
    return _token_rows(docs).groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# P2/P5/P6 — clean / tokenize / stopword-filter
# ---------------------------------------------------------------------------


@REG.register(
    "regexp_replace_clean",
    oracle=f"""
    SELECT doc_id,
           trim(regexp_replace(
                 regexp_replace(lower(text), '{CLEAN_PATTERN_SQL}', ' ', 'g'),
                 '\\s+', ' ', 'g')) AS clean_text
    FROM documents
    """,
)
def regexp_replace_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Punctuation strip (reference P2 ``filterSpecialCharacters``,
    LDAClustering.scala:283-284) + whitespace collapse. Pure JVM regex in
    whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = F.regexp_replace(F.lower(F.col("text")), CLEAN_PATTERN, " ")
    return docs.select(
        "doc_id",
        F.trim(F.regexp_replace(cleaned, r"\s+", " ")).alias("clean_text"),
    )


@REG.register(
    "tokenize_split",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS INTEGER) AS n_tokens,
           array_to_string(regexp_split_to_array(lower(text), '\\s+'), ' ') AS tokens
    FROM documents
    """,
)
def tokenize_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenizer (reference P5, LDAClustering.scala:133-135).

    Output serialized to an atomic schema (count + space-joined tokens) so
    external pandas-based hashers can canonicalize it; the array itself is
    an intermediate (see tests/test_registry_schemas.py)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens_col()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.concat_ws(" ", toks).alias("tokens"),
    )


@REG.register(
    "stopword_filter",
    oracle=f"""
    SELECT doc_id,
           array_to_string(
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> len(x) >= 1 AND NOT list_contains({stopwords_sql_list()}, x)),
             ' ') AS tokens
    FROM documents
    """,
)
def stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword + length filter (reference P6, LDAClustering.scala:125-136;
    exact match, case-folded). Array lambda stays JVM-side — note this is
    NOT ``array_except``, which would also dedupe (reference keeps
    duplicates). Space-joined atomic output for external hashers."""
    docs = load_table(spark, sf_dir, "documents")
    stop = list(STOPWORDS)
    return docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.filter(
                _tokens_col(),
                lambda x: (F.length(x) >= 1) & (~x.isin(stop)),
            ),
        ).alias("tokens"),
    )


from ..functions.textnorm import reference_stopwords, stopwords_sql_list_for

_REF_STOP_EN = reference_stopwords("EN")


@REG.register(
    "stopword_filter_reference",
    oracle=f"""
    SELECT doc_id,
           array_to_string(
             list_filter(regexp_split_to_array(lower(text), '\\s+'),
                         x -> len(x) >= 1 AND NOT list_contains({stopwords_sql_list_for(_REF_STOP_EN)}, x)),
             ' ') AS tokens
    FROM documents
    """,
)
def stopword_filter_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 with the reference's ACTUAL stopword side input (round 12): the
    full 119-word stopWords_EN.txt list, loaded through the registered S2
    source (``read_stopwords``, sources/text_corpus.py — the path a real
    user replaying the reference's EN run takes), not the compact default
    list the other §2 keys inline. Same plan as `stopword_filter`: the
    array lambda stays JVM-side; the isin list is a codegen'd literal set
    regardless of length, so at 100 TB the cost is identical."""
    from ..functions.textnorm import stopword_resource_path
    from ..sources.text_corpus import read_stopwords_cached

    docs = load_table(spark, sf_dir, "documents")
    stop = read_stopwords_cached(spark, stopword_resource_path("EN"))
    return docs.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.filter(
                _tokens_col(),
                lambda x: (F.length(x) >= 1) & (~x.isin(stop)),
            ),
        ).alias("tokens"),
    )


# ---------------------------------------------------------------------------
# A1 / T1 / T2 — word count, top-k vocabulary, dense re-index
# ---------------------------------------------------------------------------


@REG.register(
    "explode_groupby_count",
    oracle=f"WITH {_TOK_CTE} SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token",
)
def explode_groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word count (reference A1: flatMap + reduceByKey,
    LDAClustering.scala:144-146). Partial agg → shuffle |vocab| rows."""
    return _token_counts(load_table(spark, sf_dir, "documents"))


@REG.register(
    "topk_order_limit",
    oracle=f"""
    WITH {_TOK_CTE}, {_CNT_CTE}
    SELECT token, cnt FROM cnt ORDER BY cnt DESC, token LIMIT 15
    """,
)
def topk_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most frequent tokens (reference T1: ``sortBy + take(k)``,
    LDAClustering.scala:148-151). Catalyst plans TakeOrderedAndProject —
    per-partition heaps, never a global sort. Deterministic tiebreak
    (cnt DESC, token ASC) fixes the reference's tie nondeterminism."""
    counts = _token_counts(load_table(spark, sf_dir, "documents"))
    return counts.orderBy(F.desc("cnt"), F.asc("token")).limit(15)


@REG.register(
    "window_row_number",
    oracle=f"WITH {_TOK_CTE}, {_CNT_CTE}, {_RANKED_CTE} SELECT token, term_id, cnt FROM ranked",
)
def window_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense vocabulary re-index (reference T2: ``zipWithIndex.toMap``,
    LDAClustering.scala:150). Global window is safe here because its input
    is vocab-sized (post-aggregation), not corpus-sized; for huge vocabs use
    a two-stage rank (per-partition rank + offset) — see docs/SCALE.md."""
    counts = _token_counts(load_table(spark, sf_dir, "documents"))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return counts.select(
        "token",
        (F.row_number().over(w) - 1).cast("long").alias("term_id"),
        "cnt",
    )


# ---------------------------------------------------------------------------
# Array sort / slice (reference T3, T4)
# ---------------------------------------------------------------------------


@REG.register(
    "sort_array_desc",
    oracle="""
    SELECT doc_id,
           array_to_string(list_sort(regexp_split_to_array(lower(text), '\\s+'), 'DESC'),
                           ' ') AS tokens_desc
    FROM documents
    """,
)
def sort_array_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc descending token sort (reference T3: driver-local
    ``sortWith``, LDALoader.scala:86-94 — here a distributed array op).
    Space-joined atomic output for external hashers."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat_ws(" ", F.sort_array(_tokens_col(), asc=False)).alias("tokens_desc"),
    )


@REG.register(
    "limit_slice",
    oracle="""
    SELECT doc_id,
           array_to_string(
             list_slice(list_sort(regexp_split_to_array(lower(text), '\\s+')), 1, 5),
             ' ') AS first_tokens
    FROM documents
    """,
)
def limit_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array slice top-N prefix (reference T4: ``slice(0, 100)``,
    LDALoader.scala:155-184). Space-joined atomic output for external
    hashers."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.sort_array(_tokens_col()), 1, 5)).alias("first_tokens"),
    )


# ---------------------------------------------------------------------------
# J1 / J2 / J3 — vocabulary joins (the reference's driver-map lookups)
# ---------------------------------------------------------------------------

_VOCAB20_CTE = (
    "vocab AS (SELECT token FROM cnt ORDER BY cnt DESC, token LIMIT 20)"
)


@REG.register(
    "broadcast_join_inner",
    oracle=f"""
    WITH {_TOK_CTE}, {_CNT_CTE}, {_VOCAB20_CTE}
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_vocab_tokens
    FROM tok t JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    """,
)
def broadcast_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token→vocabulary inner broadcast join (reference J1: the
    closure-captured ``Map[String,Int]`` lookup, LDAClustering.scala:154-167
    — rebuilt as a real broadcast hash join, sent once per executor instead
    of once per task)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        _token_counts(docs).orderBy(F.desc("cnt"), F.asc("token")).limit(20).select("token")
    )
    return (
        _token_rows(docs)
        .join(F.broadcast(vocab), "token", "inner")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_vocab_tokens"))
    )


@REG.register(
    "broadcast_join_anti",
    oracle=f"""
    WITH {_TOK_CTE}, {_CNT_CTE}, {_VOCAB20_CTE}
    SELECT DISTINCT t.doc_id, t.token AS oov_token
    FROM tok t ANTI JOIN vocab v ON t.token = v.token
    """,
)
def broadcast_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary detection via left-anti broadcast join — the
    explicit fix for the reference's silent ``indexOf == -1`` OOV bug
    (J2, LDALoader.scala:97-105)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        _token_counts(docs).orderBy(F.desc("cnt"), F.asc("token")).limit(20).select("token")
    )
    return (
        _token_rows(docs)
        .join(F.broadcast(vocab), "token", "left_anti")
        .select("doc_id", F.col("token").alias("oov_token"))
        .distinct()
    )


@REG.register(
    "array_intersect_semi",
    oracle=f"""
    WITH {_TOK_CTE}, {_CNT_CTE},
    top10 AS (SELECT array_agg(token) AS arr
              FROM (SELECT token FROM cnt ORDER BY cnt DESC, token LIMIT 10)),
    doc_tokens AS (SELECT doc_id, list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS toks
                   FROM documents)
    SELECT d.doc_id,
           CAST(len(list_filter(d.toks, x -> list_contains(t.arr, x))) AS INTEGER) AS n_common
    FROM doc_tokens d CROSS JOIN top10 t
    """,
)
def array_intersect_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc overlap with the corpus top-10 terms (reference J3:
    ``intersect`` of top-100 doc terms with top-300 topic terms,
    LDALoader.scala:154-164). The 1-row top-10 side is a broadcast nested
    loop — constant cost at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    top10 = (
        _token_counts(docs)
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(10)
        .agg(F.collect_list("token").alias("arr"))
    )
    return (
        docs.select("doc_id", F.array_distinct(_tokens_col()).alias("toks"))
        .crossJoin(F.broadcast(top10))
        .select(
            "doc_id",
            F.size(F.array_intersect("toks", "arr")).alias("n_common"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis (LLM-pipeline north star): stats, lang-id, quality, tokens
# ---------------------------------------------------------------------------


@REG.register(
    "text_stats_agg",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           AVG(length(text)) AS avg_chars,
           AVG(len(regexp_split_to_array(lower(text), '\\s+'))) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def text_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics — single-pass aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.length("text")).alias("avg_chars"),
        F.avg(F.size(_tokens_col())).alias("avg_tokens"),
    )


_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    # Deterministic n-gram-style heuristic over marker function-words. The
    # synthetic corpus shares one vocabulary across langs, so this exercises
    # the operator shape (per-class evidence scores → argmax with a fixed
    # tie order), not linguistic accuracy.
    "en": ("the", "a", "fast", "order"),
    "de": ("hash", "join", "group"),
    "es": ("slow", "agg", "merge"),
    "fr": ("scan", "data", "small"),
    "zh": ("row", "column", "value"),
}
_LANG_ORDER = ("en", "de", "es", "fr", "zh")


def _marker_sql(lang: str) -> str:
    inner = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return (
        f"len(list_filter(regexp_split_to_array(lower(text), '\\s+'),"
        f" x -> list_contains([{inner}], x)))"
    )


def _lang_case_sql() -> str:
    branches = []
    for i, lang in enumerate(_LANG_ORDER):
        conds = [f"s_{lang} >= s_{other}" for other in _LANG_ORDER[i + 1 :]]
        cond = " AND ".join(conds) if conds else "TRUE"
        branches.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " END"


@REG.register(
    "lang_id_heuristic",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(f"{_marker_sql(lang)} AS s_{lang}" for lang in _LANG_ORDER)}
      FROM documents)
    SELECT doc_id, lang, {_lang_case_sql()} AS predicted_lang FROM scored
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID: per-class evidence counts → deterministic
    argmax (ties resolved by fixed class order). All JVM-side array
    lambdas — at 100 TB this is a pure map, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens_col()

    def marker_filter(markers: tuple[str, ...]):
        words = list(markers)
        return lambda x: x.isin(words)

    scored = docs.select(
        "doc_id",
        "lang",
        *[
            F.size(F.filter(toks, marker_filter(_LANG_MARKERS[lang]))).alias(f"s_{lang}")
            for lang in _LANG_ORDER
        ],
    )
    # Build the CASE from the last branch backwards to mirror the SQL.
    expr = F.lit(_LANG_ORDER[-1])
    for i in range(len(_LANG_ORDER) - 2, -1, -1):
        lang = _LANG_ORDER[i]
        cond = None
        for other in _LANG_ORDER[i + 1 :]:
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return scored.select("doc_id", "lang", expr.alias("predicted_lang"))


@REG.register(
    "quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, x -> list_contains({stopwords_sql_list()}, x))) AS BIGINT)
               AS n_stop,
             CAST(list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS BIGINT) AS sum_len
      FROM t)
    SELECT doc_id, n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(sum_len AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(CASE WHEN n_tokens >= 10 THEN 0.5 ELSE 0.0 END
                + CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens <= 0.5 THEN 0.3 ELSE 0.0 END
                + CASE WHEN CAST(sum_len AS DOUBLE) / n_tokens >= 3.0 THEN 0.2 ELSE 0.0 END
                AS DOUBLE) AS quality
    FROM m
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring (length / stopword-ratio / avg-token-length
    heuristics) — the pre-training filter stage of an LLM data pipeline.
    Pure map-side arithmetic; integer-exact numerators so Spark and DuckDB
    produce bit-identical doubles."""
    docs = load_table(spark, sf_dir, "documents")
    stop = list(STOPWORDS)
    toks = _tokens_col()
    m = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.isin(stop))).cast("long").alias("n_stop"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    avg_len = F.col("sum_len").cast("double") / F.col("n_tokens")
    quality = (
        F.when(F.col("n_tokens") >= 10, F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(stop_ratio <= 0.5, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(avg_len >= 3.0, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return m.select(
        "doc_id",
        "n_tokens",
        stop_ratio.alias("stopword_ratio"),
        avg_len.alias("avg_token_len"),
        quality.alias("quality"),
    )


@REG.register(
    "token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '\\w+|[^\\w\\s]')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (word-pieces + standalone punctuation) — the budget/step-count stage of
    a training-data pipeline. JVM regex, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.split(lower, r"\s+")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(lower, F.lit(r"\w+|[^\w\s]"), F.lit(0)))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# Python UDF surface: stemmer + fingerprint (rows-only checks)
# ---------------------------------------------------------------------------

# fingerprint modulus: small enough that acc*131 + codepoint stays far
# inside int64 (needed so the SQL-twin oracle can run the same recurrence
# without overflow), large enough for ~1e-9 collision odds per pair
_MOD = 1_000_000_007


def _porter_lite(word: str) -> str:
    """Full Porter stem (reference P7 uses OpenNLP PorterStemmer,
    LDAClustering.scala:134-137). Round 3 upgraded the round-2 "lite"
    suffix stripper to the complete 1980 algorithm
    (``functions/porter.py``) — parity against the reference's committed
    EN vocabulary is pinned in ``tests/test_lemma_golden.py``. The old
    name is kept: it is the engine-wide stemming entry point."""
    from ..functions.porter import porter_stem

    return porter_stem(word)


def _stem_series(tokens: pd.Series) -> pd.Series:
    # null text -> null token array: stem to an empty list, don't crash
    return tokens.map(
        lambda arr: [] if arr is None else [_porter_lite(t) for t in arr]
    )


@REG.register("udf_scalar_stem")  # rows-only: no SQL stemmer oracle (SURVEY §2.9)
def udf_scalar_stem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stemming via an Arrow-batched pandas UDF over token arrays
    (reference P7). One Python roundtrip per batch, not per row; at 100 TB
    this is the pattern for any CPU-bound Python text transform.
    Space-joined atomic output for external hashers. The scan goes
    through ``catalog.spread`` first: small corpora arrive as one
    parquet split, and a narrow Python stage over one partition runs on
    ONE core (round-14 lesson; 2.3 -> 0.55 s at sf0.1). spread is
    conditional, so a many-split corpus at scale keeps its natural
    grain — no shuffle."""
    stem_udf = pandas_udf(_stem_series, "array<string>")
    docs = spread(spark, load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", F.concat_ws(" ", stem_udf(_tokens_col())).alias("stemmed")
    )


def _fingerprint_series(text: pd.Series) -> pd.Series:
    def fp(s: str) -> int:
        h = 0
        for ch in s or "":  # null text fingerprints like the empty string
            h = (h * 131 + ord(ch)) % _MOD
        return h

    return text.map(fp)


@REG.register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(regexp_split_to_array(text, ''),
                              c -> unicode(c))),
             (acc, c) -> (acc * 131 + c) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rolling polynomial hash per document (content
    fingerprinting for incremental dedup). Pandas UDF; pure map. Oracled:
    DuckDB folds the identical recurrence (acc*131 + codepoint mod p)
    over the codepoint list with list_reduce, so the Arrow-batched
    Python path is checked bit-for-bit against a pure-SQL twin."""
    fp_udf = pandas_udf(_fingerprint_series, "long")
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fp_udf(F.col("text")).alias("fingerprint"))


def _lemmatize_batches(batches):
    """mapInPandas iterator: build the lemmatizer ONCE per batch stream
    (reference P3: one Morphology per partition, LDAClustering.scala:
    116-121), then vectorize over rows."""
    from ..functions.lemmatize import RuleLemmatizer

    lemmatizer = RuleLemmatizer()
    for pdf in batches:
        out = pdf[["doc_id"]].copy()
        out["lemmas"] = pdf["tokens"].map(
            lambda arr: ""
            if arr is None  # null text -> null token array -> empty lemmas
            else " ".join(m for m in (lemmatizer.lemma(t) for t in arr) if m)
        )
        yield out


@REG.register("udf_lemmatize")  # rows-only: rule-based lemmatizer has no SQL twin
def udf_lemmatize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 lemmatization via mapInPandas with per-batch initialization —
    the heavy-NLP-object pattern (swap RuleLemmatizer for spaCy on a real
    cluster; the Spark plumbing is identical). Keeps the reference's
    "lemma must be longer than 3 chars" rule; does NOT replicate its
    within-sentence toMap dedup bug. Space-joined atomic output for
    external hashers."""
    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select("doc_id", _tokens_col().alias("tokens"))
    return with_tokens.mapInPandas(
        _lemmatize_batches, schema="doc_id long, lemmas string"
    )


# ---------------------------------------------------------------------------
# LLM-pipeline cleaning ops: HTML strip, PII masking, repetition detection
# ---------------------------------------------------------------------------


@REG.register(
    "html_strip",
    oracle="""
    SELECT doc_id,
           regexp_replace('<p class="x">' || text || '</p><br/>', '<[^>]+>', '', 'g')
             AS stripped
    FROM documents
    """,
)
def html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/HTML tag removal (web-corpus cleaning). The query wraps
    the text in markup and strips it back — a self-verifying regex
    roundtrip (stripped == original text), identical in Java regex and
    RE2."""
    docs = load_table(spark, sf_dir, "documents")
    wrapped = F.concat(F.lit('<p class="x">'), F.col("text"), F.lit("</p><br/>"))
    return docs.select(
        "doc_id",
        F.regexp_replace(wrapped, r"<[^>]+>", "").alias("stripped"),
    )


@REG.register(
    "pii_mask",
    oracle="""
    SELECT event_id,
           regexp_replace(props, '\\d', '#', 'g') AS masked_props,
           regexp_replace('contact: user' || CAST(user_id AS VARCHAR) || '@example.com',
                          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g') AS masked_email
    FROM events
    """,
)
def pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (digits + synthetic email addresses) — the redaction
    stage of a training-data pipeline. Pure JVM regex, no shuffle."""
    ev = load_table(spark, sf_dir, "events")
    email = F.concat(F.lit("contact: user"), F.col("user_id").cast("string"), F.lit("@example.com"))
    return ev.select(
        "event_id",
        F.regexp_replace("props", r"\d", "#").alias("masked_props"),
        F.regexp_replace(email, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>").alias(
            "masked_email"
        ),
    )


@REG.register(
    "repetition_max_run",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '\\s+')) AS token,
             generate_subscripts(regexp_split_to_array(lower(text), '\\s+'), 1) AS pos
      FROM documents),
    flagged AS (
      SELECT doc_id, pos, token,
             CASE WHEN lag(token) OVER w IS DISTINCT FROM token THEN 1 ELSE 0 END AS boundary
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    runs AS (
      SELECT doc_id, token,
             SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS run_id
      FROM flagged)
    SELECT doc_id, CAST(MAX(run_len) AS BIGINT) AS max_run
    FROM (SELECT doc_id, run_id, COUNT(*) AS run_len
          FROM runs GROUP BY doc_id, run_id)
    GROUP BY doc_id
    """,
)
def repetition_max_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection: longest run of consecutive identical tokens
    per document (a strong low-quality/generated-text signal). Classic
    gaps-and-islands: boundary flags → running sum as run id → run sizes
    → per-doc max. One shuffle on doc_id."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), r"\s+")
    tok = docs.select("doc_id", F.posexplode(toks).alias("pos", "token"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = tok.withColumn(
        "boundary",
        F.when(~F.lag("token").over(w).eqNullSafe(F.col("token")), 1).otherwise(0),
    )
    runs = flagged.withColumn(
        "run_id",
        F.sum("boundary").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    run_sizes = runs.groupBy("doc_id", "run_id").agg(F.count(F.lit(1)).alias("run_len"))
    return run_sizes.groupBy("doc_id").agg(F.max("run_len").alias("max_run"))


@REG.register(
    "udtf_sentence_split",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             generate_subscripts(regexp_split_to_array(text, '\\.\\s+'), 1) AS sent_idx,
             trim(unnest(regexp_split_to_array(text, '\\.\\s+'))) AS sentence
      FROM documents)
    SELECT doc_id, CAST(sent_idx AS INTEGER) AS sent_idx, sentence
    FROM s WHERE length(sentence) > 0
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 3.5+ table function) splitting documents into
    sentences — one input row fans out to N output rows via LATERAL. This
    is the one UDF API class the rest of the engine doesn't exercise
    (scalar UDF, pandas UDF, applyInPandas, mapInPandas are covered
    elsewhere); registered in the session catalog and invoked from SQL.
    Python-side row fan-out is the slow path by design — the production
    twin of this op is the pure-JVM posexplode(split(...)) used by
    chunk_documents; this key exists to keep the UDTF surface tested.
    The index is computed before empty-filtering, matching the oracle's
    generate_subscripts over the raw split array."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx: int, sentence: string")
    class SentenceSplit:
        def eval(self, text):
            if text is None:
                return
            for i, raw in enumerate(re.split(r"\.\s+", text), start=1):
                s = raw.strip(" ")
                if s:
                    yield i, s

    spark.udtf.register("sentence_split", SentenceSplit)
    from ..sqlview import sql_over

    return sql_over(
        spark,
        """
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM {documents} d, LATERAL sentence_split(d.text) s
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


@REG.register(
    "quality_filter_per_lang",
    oracle="""
    WITH m AS (
      SELECT doc_id, lang,
             CAST(list_aggregate(list_transform(
                    regexp_split_to_array(lower(text), '\\s+'), x -> len(x)),
                  'sum') AS DOUBLE)
               / len(regexp_split_to_array(lower(text), '\\s+')) AS avg_token_len
      FROM documents),
    q AS (
      SELECT lang, quantile_cont(avg_token_len, 0.25) AS q_lo
      FROM m GROUP BY lang)
    SELECT m.doc_id, m.lang, m.avg_token_len
    FROM m JOIN q USING (lang)
    WHERE m.avg_token_len >= q.q_lo
    """,
)
def quality_filter_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quantile quality gate (round 5): keep documents whose
    average token length is at or above their OWN language's 25th
    percentile — the production pre-training filter shape, where absolute
    thresholds are wrong because languages differ structurally (German
    compounds vs English function words) and the cut must be relative to
    the language's distribution.

    Plan: one narrow metric map, a per-lang exact-percentile aggregate
    (languages are few — the quantile state is tiny and the agg is
    map-side partial), then a BROADCAST join of the per-lang thresholds
    back onto the metric frame. At 100 TB nothing here shuffles document
    payloads: the metric map is projection-pruned to (doc_id, lang, one
    double) and the threshold table is KB-sized. Spark's exact
    ``percentile`` and DuckDB's ``quantile_cont`` share the linear
    (n-1)*p interpolation, so the oracle reproduces the cut exactly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens_col()
    m = docs.select(
        "doc_id",
        "lang",
        (
            F.aggregate(
                F.transform(toks, lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.size(toks)
        ).alias("avg_token_len"),
    )
    q = m.groupBy("lang").agg(
        F.percentile("avg_token_len", F.lit(0.25)).alias("q_lo")
    )
    return (
        m.join(F.broadcast(q), "lang")
        .where(F.col("avg_token_len") >= F.col("q_lo"))
        .select("doc_id", "lang", "avg_token_len")
    )


_GOPHER_STOPS = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"

_GOPHER_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> len(x) > 0) AS toks,
         (len(text) - len(replace(text, '#', '')))
           + (len(text) - len(replace(text, '...', ''))) / 3 AS n_sym
  FROM documents WHERE text IS NOT NULL),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_aggregate(list_transform(toks, x -> len(x)), 'sum') AS sum_len,
         len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha,
         len(list_intersect(list_distinct(toks), {_GOPHER_STOPS})) AS stop_hits,
         n_sym
  FROM t WHERE len(toks) > 0)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(CAST(sum_len AS DOUBLE) / n_words, 6) AS mean_word_len,
       round(CAST(n_sym AS DOUBLE) / n_words, 6) AS symbol_ratio,
       round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS frac_alpha_words,
       CAST(stop_hits AS BIGINT) AS stop_hits,
       CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                  AND CAST(sum_len AS DOUBLE) / n_words BETWEEN 3 AND 10
                  AND CAST(n_sym AS DOUBLE) / n_words <= 0.1
                  AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
                  AND stop_hits >= 2
             THEN 1 ELSE 0 END AS INTEGER) AS gopher_pass
FROM m
"""


@REG.register("quality_gopher_rules", oracle=_GOPHER_ORACLE)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, "Scaling
    Language Models", appendix A1.1 — the public heuristic set MassiveWeb
    and most subsequent pretraining pipelines gate on): per document,
    word count in [50, 100k], mean word length in [3, 10],
    symbol-to-word ratio ('#' and '...') <= 0.1, >=80% of words contain
    an alphabetic character, and >=2 distinct hits on the 8-word English
    function-word probe — emitted as metrics plus the 0/1 gate so a
    pipeline can threshold OR inspect. The battery's repetition rules
    (duplicate lines/n-grams) are separate registered keys
    (`quality_dup_line_fraction`, `dedup_boilerplate_lines`,
    `quality_ngram_diversity`) — composable via `pipeline_quality_gate`.

    Plan: ONE projection computes every metric from a single tokens
    array (CSE applies within a project — the HOF-re-evaluation class
    documented on `quality_ngram_diversity` is avoided by gating on the
    cheap `size(split) > 0` predicate, never on a HOF output), then the
    pass flag is plain arithmetic on the projected columns. Narrow map,
    no shuffle, no Python; at 100 TB this runs at scan speed alongside
    any other per-doc pass."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.filter(F.split("text", r"\s+"), lambda x: F.length(x) > 0)
    n_sym = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
        + (F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))) / 3
    )
    stops = [s.strip("' ") for s in _GOPHER_STOPS.strip("[]").split(",")]
    base = (
        docs.where(F.size(F.split("text", r"\s+")) > 0)
        .select(
            "doc_id",
            F.size(toks).alias("n_words"),
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).alias("sum_len"),
            F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))).alias("n_alpha"),
            F.size(
                F.array_intersect(
                    F.array_distinct(toks), F.array(*[F.lit(s) for s in stops])
                )
            ).alias("stop_hits"),
            n_sym.alias("n_sym"),
        )
        .where(F.col("n_words") > 0)
    )
    mean_len = F.col("sum_len").cast("double") / F.col("n_words")
    sym_ratio = F.col("n_sym").cast("double") / F.col("n_words")
    frac_alpha = F.col("n_alpha").cast("double") / F.col("n_words")
    return base.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.round(frac_alpha, 6).alias("frac_alpha_words"),
        F.col("stop_hits").cast("long").alias("stop_hits"),
        F.when(
            F.col("n_words").between(50, 100000)
            & mean_len.between(3, 10)
            & (sym_ratio <= 0.1)
            & (frac_alpha >= 0.8)
            & (F.col("stop_hits") >= 2),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("gopher_pass"),
    )


@REG.register(
    "quality_dup_line_fraction",
    oracle="""
    WITH lines AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS line
      FROM documents WHERE text IS NOT NULL),
    nonempty AS (
      SELECT doc_id, line FROM lines WHERE len(trim(line)) > 0),
    per_line AS (
      SELECT doc_id, line, COUNT(*) AS n FROM nonempty GROUP BY doc_id, line),
    per_doc AS (
      SELECT doc_id,
             SUM(n) AS n_lines,
             SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS n_dup
      FROM per_line GROUP BY doc_id)
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_dup AS DOUBLE) / n_lines AS dup_line_fraction
    FROM per_doc
    """,
)
def quality_dup_line_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-line fraction per document (round 5) — the intra-doc
    boilerplate signal the FineWeb/RefinedWeb-style quality filters use:
    the share of a doc's non-empty lines that occur more than once within
    that same doc (nav menus, repeated headers, scraped pagination).

    Plan: split on newline → explode → per-(doc, line) counts → per-doc
    ratio. Both aggregations are map-side partial and keyed by doc_id, so
    with documents already hash-distributed by doc_id the second agg
    reuses the first's partitioning (one exchange). Exactly oracled —
    integer numerators, one final division."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    lines = docs.select(
        "doc_id", F.explode(F.split("text", "\n", -1)).alias("line")
    ).where(F.length(F.trim("line")) > 0)
    per_line = lines.groupBy("doc_id", "line").agg(F.count(F.lit(1)).alias("n"))
    return per_line.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_lines"),
        (
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("n")
        ).alias("dup_line_fraction"),
    )


@REG.register("quality_compression_ratio")  # rows-only: zlib is not ANSI SQL;
# golden-tested against driver-side zlib on identical bytes in test_lm.py
def quality_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (round 5): zlib-compressed size /
    raw UTF-8 size per document — the classic near-free junk detector
    (highly repetitive or templated text compresses far below ~0.4;
    natural prose sits ~0.4-0.7). Used by production pre-training
    pipelines as a cheap first-pass filter.

    Arrow-batched pandas UDF (zlib is C-speed; per-doc cost is linear in
    text size) — a pure narrow map, no shuffle; deterministic for fixed
    zlib level so the driver's rows-only re-run is stable."""
    import zlib

    @pandas_udf("double")
    def comp_ratio(texts: pd.Series) -> pd.Series:
        def ratio(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, 6)) / len(raw)

        return texts.map(ratio)

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", comp_ratio(F.col("text")).alias("compression_ratio")
    ).where(F.col("compression_ratio").isNotNull())


_QUALITY_GATE_ORACLE = f"""
WITH m AS (
  SELECT doc_id, lang,
         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT)
           AS n_tokens,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                              x -> list_contains({stopwords_sql_list()}, x))) AS BIGINT)
           AS n_stop,
         CAST(list_aggregate(list_transform(
                regexp_split_to_array(lower(text), '\\s+'), x -> len(x)),
              'sum') AS BIGINT) AS sum_len
  FROM documents WHERE text IS NOT NULL),
lines AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line
  FROM documents WHERE text IS NOT NULL),
per_line AS (
  SELECT doc_id, line, COUNT(*) AS n FROM lines
  WHERE len(trim(line)) > 0 GROUP BY doc_id, line),
dl AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE) / SUM(n)
           AS dup_frac
  FROM per_line GROUP BY doc_id),
mm AS (
  SELECT m.doc_id, m.lang, m.n_tokens,
         CAST(m.n_stop AS DOUBLE) / m.n_tokens AS stop_ratio,
         CAST(m.sum_len AS DOUBLE) / m.n_tokens AS avg_len,
         COALESCE(dl.dup_frac, 0.0) AS dup_frac
  FROM m LEFT JOIN dl USING (doc_id)),
q AS (
  SELECT lang, quantile_cont(avg_len, 0.25) AS q_lo FROM mm GROUP BY lang)
SELECT mm.doc_id, mm.lang, mm.n_tokens, mm.stop_ratio, mm.avg_len,
       mm.dup_frac
FROM mm JOIN q USING (lang)
WHERE mm.n_tokens >= 10 AND mm.stop_ratio <= 0.5
  AND mm.dup_frac <= 0.3 AND mm.avg_len >= q.q_lo
"""


@REG.register("pipeline_quality_gate", oracle=_QUALITY_GATE_ORACLE)
def pipeline_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE document quality gate as ONE Catalyst plan (round 5):
    length + stopword-ratio + duplicated-line-fraction + per-language
    percentile threshold, fused. A real pre-training filter runs all its
    signals in one pass over the corpus — not one job per signal.

    The engine story is the shuffle count: every per-doc metric,
    INCLUDING the duplicated-line fraction, is computed in-row with
    higher-order functions (the dup fraction via array_sort + a
    sorted-adjacency index scan — an element is unique iff it differs
    from both sorted neighbors — instead of the explode + groupBy the
    standalone `quality_dup_line_fraction` uses), so the only exchanges
    are the languages-sized percentile aggregate and its broadcast join
    back. One corpus scan, ~zero data-sized shuffles; plan-asserted in
    tests/test_plans.py. The `sequence(1, 0)`-descending trap is guarded
    with a size() > 0 gate."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    stop = list(STOPWORDS)
    toks = _tokens_col()
    nonempty_lines = F.filter(
        F.split("text", "\n", -1), lambda x: F.length(F.trim(x)) > 0
    )
    # sorted-adjacency singles count: in the sorted line array, element i
    # (1-based) is unique iff it differs from both neighbors
    singles = F.expr(
        """
        CASE WHEN size(sl) = 0 THEN 0 ELSE
          aggregate(
            transform(sequence(1, size(sl)), i ->
              CASE WHEN (i = 1 OR element_at(sl, i) != element_at(sl, i - 1))
                    AND (i = size(sl) OR element_at(sl, i) != element_at(sl, i + 1))
                   THEN 1 ELSE 0 END),
            0, (acc, x) -> acc + x)
        END
        """
    )
    m = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.filter(toks, lambda x: x.isin(stop))).cast("long").alias("n_stop"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_len"),
        F.array_sort(nonempty_lines).alias("sl"),
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stop_ratio"),
        (F.col("sum_len").cast("double") / F.col("n_tokens")).alias("avg_len"),
        F.when(F.size("sl") > 0, (F.size("sl") - singles).cast("double") / F.size("sl"))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )
    q = m.groupBy("lang").agg(F.percentile("avg_len", F.lit(0.25)).alias("q_lo"))
    return (
        m.join(F.broadcast(q), "lang")
        .where(
            (F.col("n_tokens") >= 10)
            & (F.col("stop_ratio") <= 0.5)
            & (F.col("dup_frac") <= 0.3)
            & (F.col("avg_len") >= F.col("q_lo"))
        )
        .select("doc_id", "lang", "n_tokens", "stop_ratio", "avg_len", "dup_frac")
    )


_TRUECASE_ORACLE = """
WITH toks AS (
  SELECT doc_id, gs.i AS pos,
         regexp_split_to_array(text, '\\s+')[CAST(gs.i AS INTEGER)] AS tok
  FROM documents,
       LATERAL (SELECT unnest(generate_series(
                  1, len(regexp_split_to_array(text, '\\s+')))) AS i) gs
  WHERE text IS NOT NULL),
ctx AS (
  SELECT doc_id, pos, tok,
         lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM toks),
marked AS (
  SELECT regexp_replace(tok, '^[^A-Za-z0-9]+|[^A-Za-z0-9]+$', '', 'g')
           AS core,
         (prev IS NULL OR
          regexp_matches(regexp_replace(prev, '["”'')\\]]+$', '', 'g'),
                         '[.!?]$')) AS sent_start
  FROM ctx),
mid AS (
  SELECT lower(core) AS word,
         COUNT(*) AS tot_mid,
         SUM(CASE WHEN regexp_matches(core, '^[A-Z]') THEN 1 ELSE 0 END)
           AS cap_mid
  FROM marked
  WHERE NOT sent_start AND len(core) > 0
  GROUP BY lower(core))
SELECT word, CAST(cap_mid AS BIGINT) AS cap_mid,
       CAST(tot_mid AS BIGINT) AS tot_mid
FROM mid
WHERE tot_mid >= 2 AND 2 * cap_mid > tot_mid
"""


@REG.register("truecase_proper_nouns", oracle=_TRUECASE_ORACLE)
def truecase_proper_nouns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics truecasing (round 5; Lita et al. 2003 shape):
    a word type is a PROPER NOUN iff it is predominantly capitalized in
    NON-sentence-initial positions (sentence starts capitalize everything,
    so they carry no signal). This is the distributed stand-in for
    CoreNLP's POS-driven case handling — the last piece of the reference's
    P3 chain our lowercased pipeline couldn't see: its committed
    vocabulary keeps 'Alice'/'Holm' cased, and the truecased chain lifts
    full-chain agreement from 99.64% to 99.90% of token occurrences
    (measured in tests/test_lemma_golden.py).

    Plan: whitespace-token posexplode → lag(prev token) per doc to flag
    sentence starts (prev ends .!? after stripping trailing quotes) →
    per-word capitalized-vs-total counts over mid-sentence occurrences
    (map-side partial) → integer-exact majority test (2*cap > tot, no
    float ratio). One doc-keyed window pass + one word-keyed agg —
    standard at any corpus size; the output is the (small) proper-noun
    type table a truecasing pass broadcasts."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", r"\s+")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    ctx = toks.withColumn("prev", F.lag("tok").over(w))
    marked = ctx.select(
        F.regexp_replace("tok", r"^[^A-Za-z0-9]+|[^A-Za-z0-9]+$", "").alias("core"),
        (
            F.col("prev").isNull()
            | F.regexp_replace("prev", r"[\"”')\]]+$", "").rlike(r"[.!?]$")
        ).alias("sent_start"),
    )
    mid = (
        marked.where(~F.col("sent_start") & (F.length("core") > 0))
        .groupBy(F.lower("core").alias("word"))
        .agg(
            F.count(F.lit(1)).alias("tot_mid"),
            F.sum(F.col("core").rlike("^[A-Z]").cast("int")).alias("cap_mid"),
        )
    )
    return mid.where(
        (F.col("tot_mid") >= 2) & (2 * F.col("cap_mid") > F.col("tot_mid"))
    ).select("word", F.col("cap_mid").cast("long"), F.col("tot_mid").cast("long"))


_LANG_NB_ORACLE = """
WITH docs AS (
  SELECT doc_id, lang, lower(text) AS t
  FROM documents WHERE doc_id IS NOT NULL),
doc_bg AS (
  SELECT doc_id, substr(t, CAST(u.i AS INTEGER), 2) AS bg,
         CAST(COUNT(*) AS BIGINT) AS c_doc
  FROM docs, unnest(generate_series(1, len(t) - 1)) AS u(i)
  WHERE t IS NOT NULL AND len(t) >= 2
  GROUP BY doc_id, bg),
model AS (
  SELECT d.lang, b.bg, CAST(SUM(b.c_doc) AS BIGINT) AS c
  FROM doc_bg b JOIN docs d USING (doc_id)
  WHERE d.lang IS NOT NULL
  GROUP BY d.lang, b.bg),
vocab AS (SELECT CAST(COUNT(DISTINCT bg) AS BIGINT) AS v FROM model),
tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM model GROUP BY lang),
priors AS (
  SELECT lang,
         ln(CAST(COUNT(*) AS DOUBLE)
            / (SELECT COUNT(*) FROM docs WHERE lang IS NOT NULL)) AS lp
  FROM docs WHERE lang IS NOT NULL GROUP BY lang),
ndoc AS (
  SELECT doc_id, CAST(SUM(c_doc) AS BIGINT) AS nb FROM doc_bg GROUP BY doc_id),
term1 AS (
  SELECT b.doc_id, m.lang, SUM(b.c_doc * ln(CAST(m.c + 1 AS DOUBLE))) AS t1
  FROM doc_bg b JOIN model m USING (bg)
  GROUP BY b.doc_id, m.lang),
scores AS (
  SELECT d.doc_id, d.lang, p.lang AS cand,
         p.lp + COALESCE(t1.t1, 0)
              - COALESCE(nd.nb, 0) * ln(CAST(t.n + v.v AS DOUBLE)) AS score
  FROM docs d
  CROSS JOIN priors p
  JOIN tot t ON p.lang = t.lang
  CROSS JOIN vocab v
  LEFT JOIN term1 t1 ON t1.doc_id = d.doc_id AND t1.lang = p.lang
  LEFT JOIN ndoc nd ON nd.doc_id = d.doc_id)
SELECT doc_id, lang, cand AS predicted_lang
FROM (SELECT doc_id, lang, cand,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand) AS rnk
      FROM scores)
WHERE rnk = 1
"""


@REG.register("lang_id_trained", oracle=_LANG_NB_ORACLE)
def lang_id_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-TRAINED language ID (round 6, upgrading the marker-word
    heuristic): char-bigram multinomial naive Bayes in the all-relational
    style of ``ngram_lm_score`` — train and score are the same kind of
    plan, so DuckDB can replay every step and the driver hash-checks the
    predictions.

    Train (one pass over the corpus): lower-cased char bigrams via a JVM
    ``sequence``/``substring`` explode → (lang, bigram) counts (the
    MODEL — vocab×langs-sized, tiny), per-lang totals, doc-count priors.
    Score: per-doc bigram counts join the model (inner join suffices:
    a lang missing a doc's bigram contributes ln(0+1)=0, and the
    smoothing denominator factors out as n_doc·ln(tot_L+V), covered by
    the doc's total bigram count) → doc×lang score grid via a broadcast
    cross join with the 5-row prior frame → deterministic argmax
    (row_number, score desc / lang asc). Measured at sf0.01: accuracy
    0.398 vs the marker heuristic's 0.330, minimum top-2 score gap
    3.7e-3 (≫ cross-engine double noise, so the oracle argmax is
    stable); both pinned in tests/test_lm.py.

    100 TB shape: training shuffles (lang, bigram) partial counts
    (map-side combined, ~V×L rows out); the V×L model and the L-row
    prior/total constants are driver-collected (model-sized — same
    convention as the PQ codebooks) so scoring is ONE broadcast join of
    exploded bigram occurrences against the model and ONE map-side-
    combined per-doc pivot aggregate; the argmax is an inline CASE over
    the L per-lang score columns (no window, no doc×lang grid). The
    model frame would be a stored artifact in production — same
    lifecycle as `bpe_train_merges`' merge table."""
    docs = _lang_nb_docs(spark, sf_dir)
    artifacts = lang_nb_train(spark, sf_dir)
    return lang_nb_score(docs, artifacts)


def _lang_nb_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the bigram explode amplifies ~len(text) rows per doc: spread the
    # (cheap) raw text across all slots first so a single-file corpus
    # doesn't run the train/score chain on one core (conditional — a
    # many-split corpus keeps its natural grain)
    return spread(
        spark,
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", "lang", F.lower("text").alias("t")),
    )


def _lang_nb_occ(docs: DataFrame, mode: str = "char") -> DataFrame:
    """Feature-occurrence stream per doc: char bigrams (default) or
    whitespace word tokens (round-6 word-level variant — measured 0.47
    accuracy vs char's 0.398 on the shared-vocab testdata)."""
    if mode == "char":
        return docs.where(F.col("t").isNotNull() & (F.length("t") >= 2)).select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"
                )
            ).alias("bg"),
        )
    if mode == "word":
        return docs.where(F.col("t").isNotNull()).select(
            "doc_id",
            F.explode(
                F.filter(F.split("t", r"\s+"), lambda x: F.length(x) >= 1)
            ).alias("bg"),
        )
    raise ValueError(f"unknown lang-NB feature mode {mode!r}")


def _lang_nb_ndoc_col(mode: str) -> "F.Column":
    """Per-doc feature count for the factored Laplace denominator."""
    if mode == "char":
        return F.greatest(
            F.coalesce(F.length("t") - 1, F.lit(0)), F.lit(0)
        ).cast("double")
    return F.coalesce(
        F.size(F.filter(F.split("t", r"\s+"), lambda x: F.length(x) >= 1)),
        F.lit(0),
    ).cast("double")


def lang_nb_train(spark: SparkSession, sf_dir: str, mode: str = "char"):
    """Train the NB model (char-bigram or word features) on the corpus:
    the V×L count frame (checkpointed per call — it feeds the scoring
    constants AND the score join) + the L-row scoring constants. Trains
    FRESH on every call (round 15, VERDICT r14 #1 family: the r14
    per-(app, sf_dir, mode) memo let measured bench runs of the oracled
    trained-lang-ID keys skip the training their DuckDB oracles replay
    on every check). Split out from `lang_id_trained` so streaming
    model-serving (streaming/model_serving.py) scores against the SAME
    artifact definition."""
    docs = _lang_nb_docs(spark, sf_dir)
    occ = _lang_nb_occ(docs, mode)
    labeled = docs.where(F.col("lang").isNotNull())
    model = (
        occ.join(labeled.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)  # feeds constants AND the score join
    )
    # scoring constants: L rows + one vocab count — model-sized collects
    v = model.select(F.count_distinct("bg")).collect()[0][0]
    tot = {r["lang"]: r["n"] for r in
           model.groupBy("lang").agg(F.sum("c").alias("n")).collect()}
    n_docs = {r["lang"]: r["cnt"] for r in
              labeled.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    return model, v, tot, n_docs


def lang_nb_score(docs: DataFrame, artifacts, mode: str = "char") -> DataFrame:
    """Score a (doc_id, lang, t) frame against trained NB artifacts —
    ONE broadcast model join + ONE map-side-combined per-doc pivot
    aggregate + an inline-CASE argmax. Works identically on a batch
    frame or a foreachBatch microbatch (no reference to the training
    corpus)."""
    import math

    model, v, tot, n_docs = artifacts
    n_all = sum(n_docs.values())
    langs = sorted(tot)  # ascending = the deterministic tie order
    if not langs:
        return docs.select(
            "doc_id", "lang", F.lit(None).cast("string").alias("predicted_lang")
        )
    occ = _lang_nb_occ(docs, mode)
    # per-doc per-lang evidence in ONE pivot aggregate over the
    # occurrence ⋈ model join (broadcast: the model is V×L rows)
    term1 = (
        occ.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(
                    F.when(F.col("lang") == lang, F.log(F.col("c") + 1)).otherwise(
                        F.lit(0.0)
                    )
                ).alias(f"t1_{i}")
                for i, lang in enumerate(langs)
            ]
        )
    )
    nb = _lang_nb_ndoc_col(mode)
    scored = docs.join(term1, "doc_id", "left").select(
        "doc_id",
        "lang",
        *[
            (
                F.lit(math.log(n_docs[lang] / n_all))
                + F.coalesce(F.col(f"t1_{i}"), F.lit(0.0))
                - nb * F.lit(math.log(tot[lang] + v))
            ).alias(f"s_{i}")
            for i, lang in enumerate(langs)
        ],
    )
    # inline argmax, ties to the ascending-first lang (same construction
    # as lang_id_heuristic): lang_i wins iff s_i >= s_j for every later j
    expr = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            c = F.col(f"s_{i}") >= F.col(f"s_{j}")
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(langs[i])).otherwise(expr)
    return scored.select("doc_id", "lang", expr.alias("predicted_lang"))


_LANG_NB_WORD_ORACLE = """
WITH docs AS (
  SELECT doc_id, lang, lower(text) AS t
  FROM documents WHERE doc_id IS NOT NULL),
occ AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(t, '\\s+'),
                            x -> len(x) >= 1)) AS bg
  FROM docs WHERE t IS NOT NULL),
model AS (
  SELECT d.lang, o.bg, CAST(COUNT(*) AS BIGINT) AS c
  FROM occ o JOIN docs d USING (doc_id)
  WHERE d.lang IS NOT NULL
  GROUP BY d.lang, o.bg),
vocab AS (SELECT CAST(COUNT(DISTINCT bg) AS BIGINT) AS v FROM model),
tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM model GROUP BY lang),
priors AS (
  SELECT lang,
         ln(CAST(COUNT(*) AS DOUBLE)
            / (SELECT COUNT(*) FROM docs WHERE lang IS NOT NULL)) AS lp
  FROM docs WHERE lang IS NOT NULL GROUP BY lang),
ndoc AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(t, '\\s+'),
                              x -> len(x) >= 1)) AS DOUBLE) AS nb
  FROM docs WHERE t IS NOT NULL),
term1 AS (
  SELECT o.doc_id, m.lang, SUM(ln(CAST(m.c + 1 AS DOUBLE))) AS t1
  FROM occ o JOIN model m USING (bg)
  GROUP BY o.doc_id, m.lang),
scores AS (
  SELECT d.doc_id, d.lang, p.lang AS cand,
         p.lp + COALESCE(t1.t1, 0)
              - COALESCE(nd.nb, 0) * ln(CAST(t.n + v.v AS DOUBLE)) AS score
  FROM docs d
  CROSS JOIN priors p
  JOIN tot t ON p.lang = t.lang
  CROSS JOIN vocab v
  LEFT JOIN term1 t1 ON t1.doc_id = d.doc_id AND t1.lang = p.lang
  LEFT JOIN ndoc nd ON nd.doc_id = d.doc_id)
SELECT doc_id, lang, cand AS predicted_lang
FROM (SELECT doc_id, lang, cand,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand) AS rnk
      FROM scores)
WHERE rnk = 1
"""


_LANG_CONFUSION_ORACLE = f"""
WITH pred AS ({_LANG_NB_ORACLE}),
truth AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END)
              AS BIGINT) AS n_correct
  FROM pred GROUP BY lang),
guessed AS (
  SELECT predicted_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_pred
  FROM pred GROUP BY predicted_lang)
SELECT t.lang,
       t.n_true,
       COALESCE(g.n_pred, 0) AS n_pred,
       t.n_correct,
       CASE WHEN COALESCE(g.n_pred, 0) > 0
            THEN round(CAST(t.n_correct AS DOUBLE) / g.n_pred, 6) END
         AS precision,
       round(CAST(t.n_correct AS DOUBLE) / t.n_true, 6) AS recall,
       CASE WHEN COALESCE(g.n_pred, 0) > 0 AND
                 CAST(t.n_correct AS DOUBLE) / g.n_pred
                   + CAST(t.n_correct AS DOUBLE) / t.n_true > 0
            THEN round(2 * (CAST(t.n_correct AS DOUBLE) / g.n_pred)
                         * (CAST(t.n_correct AS DOUBLE) / t.n_true)
                       / (CAST(t.n_correct AS DOUBLE) / g.n_pred
                          + CAST(t.n_correct AS DOUBLE) / t.n_true), 6) END
         AS f1
FROM truth t LEFT JOIN guessed g USING (lang)
"""


@REG.register("lang_id_confusion_eval", oracle=_LANG_CONFUSION_ORACLE)
def lang_id_confusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language precision/recall/F1 for the trained char-bigram
    language-ID model (round 12) — the eval a platform runs before
    trusting a classifier to route documents, as a first-class queryable
    operator (the `ann_recall_eval` pattern applied to lang-ID, but
    fully DuckDB-oracled because `lang_id_trained`'s whole train+score
    pipeline is SQL-replayable: the oracle simply wraps that key's
    oracle in a CTE and aggregates — engine and oracle share the
    prediction semantics by construction).

    Shape: the prediction frame is doc-count-sized; both aggregates are
    map-side-combined L-row reductions (L = 5 langs), and the
    precision/recall join is L×L-tiny. A language never predicted gets
    NULL precision/F1 (0/0), matching the oracle's CASE. At 100 TB this
    is one pass over the scored corpus — the model itself is the
    memoized artifact `lang_id_trained` already trains."""
    pred = lang_id_trained(spark, sf_dir)
    truth = pred.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum(
            F.when(F.col("predicted_lang") == F.col("lang"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
    )
    guessed = pred.groupBy(F.col("predicted_lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pred")
    )
    j = truth.join(F.broadcast(guessed), "lang", "left").select(
        "lang",
        "n_true",
        F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
        "n_correct",
    )
    prec = F.col("n_correct").cast("double") / F.col("n_pred")
    rec = F.col("n_correct").cast("double") / F.col("n_true")
    return j.select(
        "lang",
        "n_true",
        "n_pred",
        "n_correct",
        F.when(F.col("n_pred") > 0, F.round(prec, 6)).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.when(
            (F.col("n_pred") > 0) & (prec + rec > 0),
            F.round(2 * prec * rec / (prec + rec), 6),
        ).alias("f1"),
    )


@REG.register("lang_id_trained_words", oracle=_LANG_NB_WORD_ORACLE)
def lang_id_trained_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-unigram naive-Bayes language ID (round 6) — the stronger
    sibling of the char-bigram `lang_id_trained`: same factored-
    denominator scoring plan, features = whitespace tokens. On the
    shared-vocab synthetic corpus this is the best single model measured
    — accuracy 0.470 vs char 0.398 vs heuristic 0.330 at sf0.01 (the
    char+word product ensemble measured WORSE than word alone, 0.388 —
    the char features dilute; documented so nobody re-learns it). The
    ladder heuristic < char < word is pinned in tests/test_lm.py; min
    top-2 gap 3.4e-4, still orders of magnitude above cross-engine
    double noise, so the oracle argmax is stable."""
    docs = _lang_nb_docs(spark, sf_dir)
    artifacts = lang_nb_train(spark, sf_dir, mode="word")
    return lang_nb_score(docs, artifacts, mode="word")


_QC_THRESH = 300  # weak-label boundary: n_chars >= this => 'good'

_QUALITY_NB_ORACLE = f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN n_chars >= {_QC_THRESH} THEN 'good' ELSE 'bad' END AS lang,
         lower(text) AS t
  FROM documents WHERE doc_id IS NOT NULL),
occ AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(t, '\\s+'),
                            x -> len(x) >= 1)) AS bg
  FROM docs WHERE t IS NOT NULL),
model AS (
  SELECT d.lang, o.bg, CAST(COUNT(*) AS BIGINT) AS c
  FROM occ o JOIN docs d USING (doc_id)
  GROUP BY d.lang, o.bg),
vocab AS (SELECT CAST(COUNT(DISTINCT bg) AS BIGINT) AS v FROM model),
tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM model GROUP BY lang),
priors AS (
  SELECT lang,
         ln(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM docs)) AS lp
  FROM docs GROUP BY lang),
ndoc AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(t, '\\s+'),
                              x -> len(x) >= 1)) AS DOUBLE) AS nb
  FROM docs WHERE t IS NOT NULL),
term1 AS (
  SELECT o.doc_id, m.lang, SUM(ln(CAST(m.c + 1 AS DOUBLE))) AS t1
  FROM occ o JOIN model m USING (bg)
  GROUP BY o.doc_id, m.lang),
scores AS (
  SELECT d.doc_id, d.lang, p.lang AS cand,
         p.lp + COALESCE(t1.t1, 0)
              - COALESCE(nd.nb, 0) * ln(CAST(t.n + v.v AS DOUBLE)) AS score
  FROM docs d
  CROSS JOIN priors p
  JOIN tot t ON p.lang = t.lang
  CROSS JOIN vocab v
  LEFT JOIN term1 t1 ON t1.doc_id = d.doc_id AND t1.lang = p.lang
  LEFT JOIN ndoc nd ON nd.doc_id = d.doc_id)
SELECT doc_id, lang AS label, cand AS predicted_label
FROM (SELECT doc_id, lang, cand,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, cand) AS rnk
      FROM scores)
WHERE rnk = 1
"""


@REG.register("quality_classifier_nb", oracle=_QUALITY_NB_ORACLE)
def quality_classifier_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak-label quality-classifier DISTILLATION (round 7) — the
    fastText-style pattern real pretraining pipelines use (train a cheap
    classifier on known-good vs known-bad documents, score everything):
    weak labels come from a deterministic rule (n_chars >= 300 — at the
    shipped SFs a near-even split), a word-unigram multinomial NB trains
    on them, and every document is scored back. All in the
    SQL-replayable NB style of `lang_id_trained_words` (same
    factored-Laplace plan, same broadcast-model pivot scoring), so the
    driver hash-checks the ENTIRE train+score pipeline — the point is
    the mechanics (weak label -> trained artifact -> corpus-wide
    scoring), with the label rule and feature family as swap-in
    parameters. Scale: one corpus scan to train (map-side-combined
    model agg), one to score (broadcast V×2 model). On the shared-vocab
    synthetic corpus the word features carry little label signal, so
    agreement is modest (0.56 at sf0.01 vs the 0.512 majority baseline
    — pinned above-baseline in tests/test_lm.py); on real corpora the
    same plan is the standard fastText-quality-filter shape."""
    docs = spread(
        spark,
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            F.when(F.col("n_chars") >= _QC_THRESH, F.lit("good"))
            .otherwise(F.lit("bad"))
            .alias("lang"),
            F.lower("text").alias("t"),
        ),
    )
    occ = _lang_nb_occ(docs, "word")
    model = (
        occ.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    v = model.select(F.count_distinct("bg")).collect()[0][0]
    tot = {r["lang"]: r["n"] for r in
           model.groupBy("lang").agg(F.sum("c").alias("n")).collect()}
    n_docs = {r["lang"]: r["cnt"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    out = lang_nb_score(docs, (model, v, tot, n_docs), mode="word")
    return out.select(
        "doc_id",
        F.col("lang").alias("label"),
        F.col("predicted_lang").alias("predicted_label"),
    )


@REG.register(
    "text_nfc_normalize",
    oracle="""
    SELECT doc_id, nfc_normalize(text) AS text_nfc,
           CAST(CASE WHEN nfc_normalize(text) = text THEN 0 ELSE 1 END
                AS INTEGER) AS changed
    FROM documents
    WHERE text IS NOT NULL
    """,
)
def text_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — stage ZERO of a real corpus pipeline
    (round 10): 'é' as one codepoint and 'e'+COMBINING ACUTE are distinct
    byte strings, so exact-hash dedup, shingle joins, and stopword
    matching all silently miss equivalences until the corpus is
    normalized to a canonical composition form. Runs as an Arrow-batched
    mapInPandas (Spark has no JVM NFC builtin; `unicodedata.normalize`
    per batch is the sanctioned Python path — one pass, map-side, no
    shuffle), with the `changed` flag so a pipeline can audit how much of
    the corpus was non-canonical. Oracled against DuckDB's utf8proc-based
    `nfc_normalize` — both implement Unicode NFC, agreement asserted on a
    constructed combining-character corpus in tests/test_nfc.py (the
    synthetic testdata is ASCII, where NFC is the identity — the
    constructed corpus is where the behavior lives)."""
    import pandas as pd
    import unicodedata

    def norm_iter(batches):
        for pdf in batches:
            nfc = pdf["text"].map(lambda t: unicodedata.normalize("NFC", t))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "text_nfc": nfc,
                    "changed": (nfc != pdf["text"]).astype("int32"),
                }
            )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("text").isNotNull())
    )
    return docs.mapInPandas(
        norm_iter, schema="doc_id long, text_nfc string, changed int"
    )


@REG.register(
    "quality_ngram_diversity",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS l
      FROM documents),
    tri AS (
      SELECT doc_id,
             list_filter(list_transform(list_zip(l, l[2:], l[3:]),
               x -> CASE WHEN x[3] IS NULL THEN NULL
                         ELSE x[1] || ' ' || x[2] || ' ' || x[3] END),
               x -> x IS NOT NULL) AS g
      FROM toks)
    SELECT doc_id, CAST(len(g) AS BIGINT) AS n_trigrams,
           round(1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 6)
             AS dup_frac
    FROM tri WHERE len(g) > 0
    """,
)
def quality_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-trigram fraction — the Gopher/MassiveText
    repetition filter (Rae et al. 2021 §A.1.1: drop docs whose duplicate
    n-gram fraction is high), sitting between `repetition_max_run`
    (consecutive repeats only) and `quality_dup_line_fraction` (line
    granularity): dup_frac = 1 − distinct_trigrams / total_trigrams
    catches periodic boilerplate that neither of those sees.

    Deliberately ZERO-shuffle: trigrams are built row-side with
    transform(sequence(...)) over the token array and deduped row-side
    with array_distinct, so the whole operator is one map stage — per-doc
    n-gram statistics never need an explode+groupBy round trip, and at
    100 TB that's the difference between a scan and a scan plus a
    token-count-sized shuffle. Docs shorter than 3 tokens have no
    trigrams and are excluded — BY THE CHEAP PREDICATE size(tokens) >= 3,
    never by filtering on the trigram column: higher-order functions run
    interpreted (no codegen, no common-subexpression elimination), so a
    Filter referencing the HOF output re-evaluated the entire trigram
    build per reference — measured 7.6 s vs 0.4 s at sf0.1 for the
    identical result (19x) when the filter was size(g) > 0."""
    docs = load_table(spark, sf_dir, "documents")
    g = F.expr(
        "transform(sequence(0, size(t)-3), "
        "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
    )
    tri = (
        docs.select("doc_id", _tokens_col().alias("t"))
        .where(F.size("t") >= 3)
        .select("doc_id", g.alias("g"))
    )
    return tri.select(
        "doc_id",
        F.size("g").cast("long").alias("n_trigrams"),
        F.round(
            1.0 - F.size(F.array_distinct("g")).cast("double") / F.size("g"), 6
        ).alias("dup_frac"),
    )
