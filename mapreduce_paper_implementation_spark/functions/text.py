"""Text primitives: the engine's canonical tokenizer and token statistics.

Tokenizer spec (SURVEY.md §2D(d)): split on runs of non-ASCII-letters
(`[^A-Za-z]+`), drop empty tokens, case-sensitive. This matches the
reference's word-count tokenizer (/root/reference/mr-main/mrapps/wc.go:23-26,
split on `!unicode.IsLetter`) for ASCII input, declared as the ASCII class so
Spark and DuckDB regex dialects agree.

Everything here is a Column expression (JVM-side, codegen'd) — no Python UDFs
in the tokenize hot path, so it scales to 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SEP_RE = "[^A-Za-z]+"

# English stopword list for quality scoring / language-id heuristics.
# Kept tiny + frozen so the DuckDB oracle can embed the identical list.
STOPWORDS = (
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "was",
    "for", "on", "with", "as", "at", "by", "be", "this", "are", "or",
)


def tokens(col: Column | str) -> Column:
    """Array of non-empty tokens (order-preserving)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, TOKEN_SEP_RE), lambda t: t != F.lit(""))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


UNICODE_TOKEN_SEP_RE = r"[^\p{L}]+"


def tokens_unicode(col: Column | str) -> Column:
    """Array of non-empty UNICODE-letter tokens: split on runs of
    non-letters by Unicode category L (`\\p{L}`), case-sensitive,
    drop-empties — the multilingual twin of `tokens()` (the declared ASCII
    tokenizer stays the cross-engine-deterministic default and the
    reference-parity one, /root/reference/mr-main/mrapps/wc.go:23-26).

    Determinism caveat (SURVEY.md §2D): Spark compiles this with Java
    regex, DuckDB with RE2 — both implement Unicode category L, but their
    Unicode TABLE VERSIONS can differ, so parity is only guaranteed on
    the letter repertoires both pin (Latin/Greek/Cyrillic/CJK/Kana are
    stable across every live version). q117 gates exactly that planted
    repertoire against the DuckDB oracle; arbitrary novel-script input
    may tokenize differently between engines and is out of contract."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, UNICODE_TOKEN_SEP_RE), lambda t: t != F.lit(""))


def lower_tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return tokens(F.lower(c))


def let(value: Column, body) -> Column:
    """Bind `value` to a lambda variable so `body` can reference it without
    re-evaluating it. Spark's higher-order functions are CodegenFallback
    (interpreted), and interpreted eval has no common-subexpression
    elimination — an expression referenced inside a HOF lambda is recomputed
    on EVERY element iteration. transform(array(v), x -> body(x))[0]
    evaluates v exactly once per row."""
    return F.transform(F.array(value), body)[0]


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined), the unit set for
    Jaccard-based dedup. Built from transform over token offsets — stays
    JVM-side. The token array is let-bound: without it the regex
    split+filter re-runs once per shingle position (~50x per row).

    Documents with fewer than n tokens yield an EMPTY array. The guard is
    load-bearing: F.sequence(1, 0) is a DESCENDING [1, 0] array (not empty),
    so without the when() a short document evaluates slice(toks, 0, n) and
    aborts the whole job with INVALID_PARAMETER_VALUE.START — real corpora
    always contain short/empty docs."""
    # slice(i..i+n-1) joined by single space; sequence is 1-based
    return let(
        tokens(col),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
