"""Text scalar functions — tokenization, normalization, shingling.

These back both the reference-parity surface (P1/P3/F1/F3 text prep —
``MEVI/main_utils.py:199-212``, ``MEVI/main_models.py:437-443``) and the
large-scale pipeline operators (dedup, language-ID, quality scoring).

Everything is a pure column expression; tokenization at 100 TB must not
round-trip through Python.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def clean_text(c: Column | str) -> Column:
    """P3: strip newlines / backquotes / quotes
    (``MEVI/main_models.py:437-443``)."""
    return F.trim(F.regexp_replace(_c(c), r"[\n`'\"]+", " "))


def normalize_text(c: Column | str) -> Column:
    """Lowercase, strip punctuation, collapse whitespace — the canonical
    form used by fingerprinting and near-dup shingling."""
    x = F.lower(_c(c))
    x = F.regexp_replace(x, r"[^a-z0-9\s]", " ")
    return F.trim(F.regexp_replace(x, r"\s+", " "))


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization → ``array<string>`` (empty string → [])."""
    t = F.trim(_c(c))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def norm_tokens(c: Column | str) -> Column:
    """``tokens(normalize_text(c))`` fused into ONE regex pass.

    Equivalence: ``normalize_text`` replaces every char outside
    ``[a-z0-9\\s]`` with a space, collapses/trims whitespace, and
    ``tokens`` splits on ``\\s+`` — so a character is a token boundary
    iff it falls outside ``[a-z0-9]`` (whitespace via the split,
    everything else via the replace), and the result is exactly the
    maximal ``[a-z0-9]+`` runs of the lowercased text.  Splitting on
    ``[^a-z0-9]+`` directly yields those same runs plus at most
    leading/trailing ``''`` entries (a delimiter at either end of the
    string), which ``array_remove`` drops; interior empties cannot
    occur because the delimiter class is greedy (``+``).  NULL → NULL
    and ``''``/all-delimiter → ``[]`` on both paths.

    Why it exists: ``regexp_replace`` rebuilds the string match by
    match (two passes, one Matcher.appendReplacement call per
    punctuation/space run), while ``split`` scans once — measured over
    sf0.1 documents the composed form costs 0.47 s vs 0.09 s for this
    one (the tokenizer dominated the whole MinHash signature stage).
    Exhaustively checked equal to the composition on every fixture
    text and an adversarial edge set (tests/test_text_fast.py).
    """
    return F.array_remove(F.split(F.lower(_c(c)), r"[^a-z0-9]+"), "")


def norm_text(c: Column | str) -> Column:
    """``normalize_text(c)`` through the fused tokenizer: the
    normalized string is, by construction, the tokens joined by single
    spaces (the replace-collapse-trim chain leaves exactly one space
    between token runs and none at the ends).  Same output, one regex
    pass instead of two (tests/test_text_fast.py pins equality)."""
    return F.array_join(norm_tokens(c), " ")


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """n-gram *word* shingles of the normalized text → ``array<string>``
    (distinct). The unit of MinHash / Jaccard dedup."""
    toks = norm_tokens(c)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, so short docs must
    # short-circuit to an empty set before the sequence is evaluated
    return F.when(
        F.size(toks) < n, F.array().cast("array<string>")
    ).otherwise(
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        )
    )


def char_ngrams(c: Column | str, n: int = 3) -> Column:
    """Character n-grams of the normalized text → ``array<string>``
    (distinct). Used by the language-ID heuristic."""
    x = norm_text(c)
    ln = F.length(x)
    idx = F.sequence(F.lit(1), ln - (n - 1))
    return F.when(ln < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(F.transform(idx, lambda i: F.substring(x, i, n)))
    )
