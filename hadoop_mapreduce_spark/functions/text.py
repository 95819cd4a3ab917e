"""Text scalar functions — column-in/column-out, all JVM-side built-ins.

These reproduce the reference's normalisation/tokenisation semantics
exactly (reference WordCount.java:76-79):

  * normalisation DELETES every char not in [a-zA-Z0-9\\s] (it does not
    replace with space: "don't" -> "dont", "end.Start" -> "endstart"),
    then lower-cases;
  * tokenisation is StringTokenizer-style whitespace splitting — runs of
    whitespace are one delimiter, leading/trailing whitespace produces no
    empty tokens.

Everything here stays inside whole-stage codegen (no Python UDFs).

The DuckDB twins (``NORMALIZE_SQL``, ``TOKS_SQL``, the whitespace
helpers, the raw token count and the n-gram window ``ngrams_sql``) sit beside the Spark forms
so the registry's oracles tokenize and slide n-grams exactly as the
operators do.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the reference's normalisation regex, verbatim (WordCount.java:76)
_NORMALIZE_RE = r"[^a-zA-Z0-9\s]+"

# DuckDB twins. Java's \s (the Spark side's) includes \x0B; RE2's does
# not, so every SQL form spells the Java class out (found by
# tests/test_differential_fuzz.py on a \x0B document).
_WS_CLASS = r"\t\n\x0B\f\r "
_WS_SQL = f"[{_WS_CLASS}]+"
NORMALIZE_SQL = f"lower(regexp_replace(text, '[^a-zA-Z0-9{_WS_CLASS}]+', '', 'g'))"


def split_ws_sql(expr: str) -> str:
    """DuckDB: split ``expr`` on runs of Java whitespace."""
    return f"string_split_regex({expr}, '{_WS_SQL}')"


def collapse_ws_sql(expr: str) -> str:
    """DuckDB: replace each run of Java whitespace in ``expr`` by a space."""
    return f"regexp_replace({expr}, '{_WS_SQL}', ' ', 'g')"


# DuckDB twin of tokenize(normalize_text(text)): a list of non-empty tokens
TOKS_SQL = f"list_filter({split_ws_sql(NORMALIZE_SQL)}, t -> t <> '')"


def raw_token_count(col: Column | str) -> Column:
    """Whitespace token count of raw (unnormalised) text, as a long: the
    size of ``split(trim(col), \\s+)``. An empty or all-space string
    counts 1 (one empty token), on both engines."""
    return F.size(F.split(F.trim(col), r"\s+")).cast("long")


def raw_token_count_sql(expr: str) -> str:
    """DuckDB twin of :func:`raw_token_count`."""
    return f"len({split_ws_sql(f'trim({expr})')})"


def normalize_text(col: Column | str) -> Column:
    """lower(delete non-alphanumeric-non-space) — delete semantics, not
    replace-with-space (reference WordCount.java:76).

    INVARIANT (downstream dependency — ADVICE r8): tokens produced by
    ``tokenize(normalize_text(...))`` contain ONLY [a-z0-9] — no spaces,
    no control chars, never empty, never NULL. textstats.keyphrase_rake's
    shuffle-free phrase assembly encodes phrase boundaries with a \\x01
    sentinel and re-joins tokens with single spaces, and
    token_context_diversity's distinct-then-sum assumes non-null
    neighbours — both are sound ONLY under this charset. If this
    normalizer ever switches to replace-with-space or widens the kept
    charset, update those operators first
    (tests/test_textstats.py::test_tokenizer_invariants_for_rake pins
    this contract)."""
    return F.lower(F.regexp_replace(col, _NORMALIZE_RE, ""))


def tokenize(col: Column | str) -> Column:
    """Whitespace-split into an array of non-empty tokens.

    ``split`` on ``\\s+`` leaves a leading empty string when the input
    starts with whitespace (and one trailing when it ends with any other
    delimiter run collapsed), so filter empties to match StringTokenizer.
    (See normalize_text's INVARIANT note for the downstream operators
    that depend on the combined tokenizer contract.)
    """
    toks = F.split(col if isinstance(col, Column) else F.col(col), r"\s+")
    return F.filter(toks, lambda t: t != F.lit(""))


def ngrams_from_tokens(tokens: Column, n: int) -> Column:
    """Array of space-joined n-grams from a token array.

    Sliding window of ``n`` consecutive tokens, one n-gram per position,
    canonical form "w1 w2 ... wn" with single-space separators — matching
    the reference's peekList() + append form (WordCount.java:106-112).
    ``sequence(1, size-n+1)`` is empty when size < n (sequence would
    count *down* otherwise, so guard with a CASE).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n == 1:
        # unigram fast path — mirrors reference WordCount.java:81-84
        return tokens
    starts = F.when(
        F.size(tokens) >= F.lit(n),
        F.sequence(F.lit(1), F.size(tokens) - F.lit(n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(starts, lambda i: F.concat_ws(" ", F.slice(tokens, i, n)))


def ngrams_sql(t: str, n: int) -> str:
    """DuckDB twin of ``ngrams_from_tokens``: the list of space-joined
    n-grams of the token list ``t``. ``generate_series(1, len - n + 1)``
    is empty when the list is shorter than ``n``, so no guard is needed.
    The window is spelled out element by element because DuckDB runs
    ``concat_ws`` over list elements about 3x faster than
    ``array_to_string`` over a slice (sf0.1 documents, DuckDB 1.0, 4
    threads)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    words = ", ".join(f"{t}[i + {k}]" if k else f"{t}[i]" for k in range(n))
    return (f"list_transform(generate_series(1, len({t}) - {n - 1}), "
            f"i -> concat_ws(' ', {words}))")
