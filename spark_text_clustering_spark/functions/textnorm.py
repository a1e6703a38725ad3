"""Text-normalization constants shared by Spark operators and SQL oracles.

* ``CLEAN_PATTERN`` re-expresses the reference's punctuation-strip character
  class (``LDAUtil.filterSpecialCharacters``, LDAClustering.scala:283-284).
  The reference's class contains literal spaces (making space-stripping
  implicit) and a redundant ``--`` range; we keep the same character set,
  drop the accidental space members, and escape properly. Divergence
  documented in SURVEY §2.2 P2.
* ``STOPWORDS`` plays the role of the reference's
  ``stopWords_EN.txt`` comma-joined list (LDAClustering.scala:125-129) —
  a compact standard-English function-word list (public knowledge), kept
  small so the DuckDB oracle can inline it as a SQL array literal.

Both constants have a Spark form and a SQL-literal form so the engine query
and its oracle are guaranteed to agree.
"""

from __future__ import annotations

# Reference char class members (LDAClustering.scala:284), space members
# removed, regex-escaped. Java regex and RE2 (DuckDB) agree on this class.
CLEAN_PATTERN = r"""[»«!@#$%^&*()_+\-−,”"’';:.`?]"""
# Same pattern with single quotes doubled for embedding in a SQL string.
CLEAN_PATTERN_SQL = CLEAN_PATTERN.replace("'", "''")

# The reference never strips LEFT curly quotes / em-dash / ellipsis in its
# regex — its CoreNLP tokenizer separates them as standalone tokens instead
# (the committed vocabulary contains no “-prefixed terms). Our whitespace
# tokenizer needs them in the strip class to reach the same token stream;
# the extended class is what full-chain vocabulary parity is measured with
# (tests/test_lemma_golden.py). The registered `regexp_replace_clean` key
# keeps the literal reference class above.
CLEAN_PATTERN_EXTENDED = CLEAN_PATTERN[:-1] + "“„‘…—›‹" + "]"

STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "be", "this", "that", "are",
    "was", "from", "but", "not", "have",
)


def stopwords_sql_list() -> str:
    """Render STOPWORDS as a SQL array literal: ['the', 'a', ...]."""
    inner = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"[{inner}]"


# German stopword list (public knowledge, standard function words) — the
# rebuild's counterpart of the reference's stopWords_GE.txt side input
# (its EN/GE lists are comma-joined files; we ship both as constants and
# accept arbitrary lists via Params.stopwords / read_stopwords).
STOPWORDS_DE: tuple[str, ...] = (
    "der", "die", "das", "und", "oder", "von", "zu", "in", "ist", "es",
    "auf", "mit", "als", "an", "bei", "sein", "ein", "eine", "nicht", "sind",
    "war", "aus", "aber", "auch", "haben",
)

STOPWORDS_BY_LANG: dict[str, tuple[str, ...]] = {"EN": STOPWORDS, "GE": STOPWORDS_DE}


# ---------------------------------------------------------------------------
# Reference stopword lists (round 12) — the reference's ACTUAL side-input
# files, shipped as package data (resources/stopwords_{en,de}.txt; see
# resources/README.md for provenance). The compact STOPWORDS above stays
# the default for the §2 keys whose oracles inline it; these are the
# full lists a user replaying the reference's EN/GE run would supply.
# ---------------------------------------------------------------------------

import os as _os

_RESOURCE_DIR = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "resources"
)


def stopword_resource_path(lang: str = "EN") -> str:
    """Filesystem path of the shipped reference stopword file for
    ``lang`` ('EN' or 'GE' — the reference's two language runs)."""
    name = {"EN": "stopwords_en.txt", "GE": "stopwords_de.txt"}[lang.upper()]
    return _os.path.join(_RESOURCE_DIR, name)


def parse_stopword_text(raw: str) -> list[str]:
    """Parse a comma-joined stopword file body (reference S2 format,
    LDAClustering.scala:125-129: flatMap split(',')). Shared by the
    Spark source (read_stopwords) and this pure-Python path so engine
    and oracle cannot diverge on parsing. Duplicates are preserved —
    filtering semantics don't care, and the reference's GE file contains
    them.

    DELIBERATE tolerance divergence from the reference (ADVICE r12): the
    reference's split does NOT strip per-token whitespace or drop empty
    entries, so a user file with spaces after commas (or a trailing
    comma) would register ' word' / '' as stopwords there and filter
    nothing. This parser strips and drops empties — byte-identical
    behavior on the shipped files (verified in test_stopwords_reference),
    more forgiving on user-supplied ones."""
    return [w.strip() for w in raw.split(",") if w.strip()]


def reference_stopwords(lang: str = "EN") -> tuple[str, ...]:
    """The reference's full stopword list for ``lang``, loaded without a
    SparkSession (oracle SQL is built at module import). The Spark-side
    twin is ``read_stopwords(spark, stopword_resource_path(lang))``."""
    with open(stopword_resource_path(lang), encoding="utf-8") as f:
        return tuple(parse_stopword_text(f.read()))


def stopwords_sql_list_for(words: tuple[str, ...] | list[str]) -> str:
    """Render an arbitrary stopword list as a SQL array literal."""
    inner = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return f"[{inner}]"
