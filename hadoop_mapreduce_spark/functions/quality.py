"""The composite quality gate, in its Spark form and its DuckDB SQL twin.

A document's quality is the mean of three pass/fail signals, rounded to
4 dp; it passes the gate at ``QUALITY_MIN`` (2 of the 3 signals):

  * at least 5 tokens (``tokenize(normalize_text(text))``);
  * a mean token length between 3 and 10 characters;
  * punctuation under 20% of the characters, where punctuation is any
    character that is neither a word character nor Java whitespace.
    The class spells Java's ``\\s`` out because RE2's ``\\s`` (DuckDB)
    lacks ``\\x0B``.

Empty inputs are defined, not errors: no tokens gives a mean token
length of 0.0, and no characters a punctuation ratio of 0.0 (the
punctuation signal passes).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hadoop_mapreduce_spark.functions.text import _WS_CLASS

QUALITY_MIN = 0.6

# the Spark regex carries the control characters themselves; the SQL
# one their escapes, which RE2 reads as the same characters
_PUNCT_RE = "[^\\w\t\n\x0B\f\r ]"
_PUNCT_SQL = f"[^\\w{_WS_CLASS}]"


def punct_count(text: Column | str) -> Column:
    """The number of punctuation characters of ``text``."""
    return F.length(text) - F.length(F.regexp_replace(text, _PUNCT_RE, ""))


def punct_count_sql(text: str) -> str:
    """DuckDB twin of :func:`punct_count`."""
    return (f"(length({text}) - "
            f"length(regexp_replace({text}, '{_PUNCT_SQL}', '', 'g')))")


def avg_word_len(toks: Column) -> Column:
    """The mean length of the tokens ``toks``; 0.0 for no tokens."""
    n_tok = F.size(toks)
    return F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n_tok,
    ).otherwise(F.lit(0.0))


def avg_word_len_sql(t: str) -> str:
    """DuckDB twin of :func:`avg_word_len` over the token list ``t``."""
    return (f"CASE WHEN len({t}) > 0"
            f" THEN list_sum(list_transform({t}, x -> length(x))) * 1.0 / len({t})"
            f" ELSE 0.0 END")


def punct_ratio(n_punct: Column, n_chars: Column) -> Column:
    """``n_punct / n_chars``; 0.0 for no characters."""
    return F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))


def punct_ratio_sql(n_punct: str, n_chars: str) -> str:
    """DuckDB twin of :func:`punct_ratio`."""
    return f"CASE WHEN {n_chars} > 0 THEN {n_punct} * 1.0 / {n_chars} ELSE 0.0 END"


def quality_score(toks: Column, n_chars: Column, n_punct: Column) -> Column:
    """The rounded composite of a document's tokens, character count and
    punctuation count."""
    n_tok = F.size(toks)
    avg_wl = avg_word_len(toks)
    score = (
        F.when(n_tok >= 5, 1.0).otherwise(0.0)
        + F.when((avg_wl >= 3) & (avg_wl <= 10), 1.0).otherwise(0.0)
        + F.when(punct_ratio(n_punct, n_chars) < 0.2, 1.0).otherwise(0.0)
    ) / 3.0
    return F.round(score, 4)


def quality_score_sql(t: str, n_chars: str, n_punct: str) -> str:
    """DuckDB twin of :func:`quality_score`."""
    awl = avg_word_len_sql(t)
    return (f"round((CASE WHEN len({t}) >= 5 THEN 1.0 ELSE 0.0 END"
            f" + CASE WHEN {awl} >= 3 AND {awl} <= 10 THEN 1.0 ELSE 0.0 END"
            f" + CASE WHEN {punct_ratio_sql(n_punct, n_chars)} < 0.2"
            f" THEN 1.0 ELSE 0.0 END) / 3.0, 4)")


def quality_pass(score: Column) -> Column:
    """Whether the quality ``score`` passes the gate."""
    return score >= QUALITY_MIN


def quality_pass_sql(score: str) -> str:
    """DuckDB twin of :func:`quality_pass`."""
    return f"{score} >= {QUALITY_MIN}"
