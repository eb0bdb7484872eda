"""Text-analysis expression helpers (north-star ops, SURVEY.md §2.12).

All pure Column expressions over ``pyspark.sql.functions`` higher-order
functions — JVM-side, no Python UDFs. Every helper has an exact DuckDB
twin (see plans/llm_queries.py) built on the same md5-based hashing so
results are bit-identical cross-engine:

- tokenization: split on single space (fixture docs are single-spaced
  ASCII; both engines agree on the degenerate cases);
- MinHash: one md5 per token, then the universal slot hashes of
  ``minhash_slot_sql`` — one SQL text evaluated by both engines;
- fingerprints: md5 over canonicalized text / sorted distinct tokens.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword list (fixture vocabulary contains 'the'/'a').
STOPWORDS = ["the", "a", "and", "of", "to"]

# Language cue words for the n-gram/stopword-heuristic language id.
LANG_CUES = {
    "de": ["der", "die", "das", "und"],
    "en": ["the", "a", "and"],
    "es": ["el", "la", "los", "y"],
    "fr": ["le", "la", "les", "et"],
    "zh": ["de", "le"],  # pinyin-ish cues; fixture text is ASCII
}


def tokens(text: Column) -> Column:
    """Whitespace tokens (single-space split, drop empties).

    NULL text tokenizes as the EMPTY document ([] — canonical rule,
    twin: plans/oracle_text.DUCK_TOKS): without the coalesce the NULL
    propagates as a NULL array whose downstream behavior diverges per
    function (size -> NULL but concat_ws -> ''), so the two engines
    disagreed on every fingerprint of a NULL-text row."""
    return F.filter(
        F.split(F.coalesce(text, F.lit("")), " "), lambda t: t != F.lit("")
    )


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(tokens(text))


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined), order-preserving tokens.
    Documents shorter than n tokens yield an empty set. The n-gram set
    is the classic unit for document-level Jaccard dedup — far more
    order-sensitive than the bag of words."""
    # Let-binding via a 1-element outer transform: the lambda variable
    # ``a`` holds the token array evaluated ONCE. Referencing the
    # ``tokens(text)`` expression directly inside the inner lambda makes
    # every element_at re-evaluate the whole regexp+split per gram
    # position (no CSE inside interpreted HOFs) — measured 17x slower
    # on the sf0.1 corpus.
    def inner(a: Column) -> Column:
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(a, i + F.lit(j)) for j in range(n)]
        )
        return F.when(
            F.size(a) >= n,
            F.array_distinct(
                F.transform(F.sequence(F.lit(1), F.size(a) - (n - 1)), gram)
            ),
        ).otherwise(F.array().cast("array<string>"))

    return F.flatten(F.transform(F.array(tokens(text)), inner))


def all_word_ngrams(text: Column, n: int = 3) -> Column:
    """ALL word n-grams in document order, duplicates preserved — the
    unit for repetition metrics, where the duplicate fraction IS the
    signal that ``word_shingles``'s distinct set destroys. Same
    let-binding pattern (see word_shingles) so the token array is
    evaluated once per row, not once per gram."""

    def inner(a: Column) -> Column:
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(a, i + F.lit(j)) for j in range(n)]
        )
        return F.when(
            F.size(a) >= n,
            F.transform(F.sequence(F.lit(1), F.size(a) - (n - 1)), gram),
        ).otherwise(F.array().cast("array<string>"))

    return F.flatten(F.transform(F.array(tokens(text)), inner))


def regex_token_count(text: Column) -> Column:
    """BPE-ish tokenization proxy: runs of alphanumerics OR single
    punctuation marks, counted via regexp (same RE in DuckDB)."""
    return F.size(F.regexp_extract_all(text, F.lit("[a-zA-Z0-9]+|[^a-zA-Z0-9 ]"), 0)).cast(
        "long"
    )


def punct_ratio(text: Column) -> Column:
    """Non-alphanumeric-non-space chars / total chars (0 for empty)."""
    n = F.length(text)
    p = F.size(F.regexp_extract_all(text, F.lit("[^a-zA-Z0-9 ]"), 0))
    return F.when(n > 0, F.round(p.cast("double") / n.cast("double"), 6)).otherwise(
        F.lit(0.0)
    )


def _in_set(values: list[str]):
    """Single-arg lambda factory. NOTE: PySpark HOF lambdas must take
    exactly the callback's arity — extra Python default args (j=j) are
    bound as lambda-variable Columns and silently corrupt the expression."""
    lits = [F.lit(v) for v in values]
    return lambda t: t.isin(*lits)


def lang_scores(text: Column) -> dict[str, Column]:
    """Cue-word hit counts per language over the token multiset."""
    toks = tokens(text)
    return {
        lang: F.size(F.filter(toks, _in_set(cues)))
        for lang, cues in sorted(LANG_CUES.items())
    }


def lang_id(text: Column) -> Column:
    """argmax of lang_scores with deterministic alphabetical tiebreak."""
    scores = lang_scores(text)
    # fold: keep (best_score, best_lang); strict > keeps earlier (alpha) lang on tie
    best_lang, best_score = None, None
    for lang in sorted(scores):
        if best_lang is None:
            best_lang, best_score = F.lit(lang), scores[lang]
        else:
            cond = scores[lang] > best_score
            best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(cond, scores[lang]).otherwise(best_score)
    return best_lang


def text_fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of lowercased, whitespace-collapsed text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), "\\s+", " ")))


def token_set_fingerprint(text: Column) -> Column:
    """Order-insensitive near-dup fingerprint: md5 of the sorted distinct
    token set (catches reordered/duplicated-word documents)."""
    return F.md5(F.concat_ws(" ", F.array_sort(distinct_tokens(text))))


# --- MinHash family --------------------------------------------------
# h_j(x) = (A[j] * x + B[j]) mod p, p = 2^31 - 1 (Mersenne prime), over
# x = value of the first 7 hex chars of md5(token) (28 bits): the
# Carter-Wegman universal family, so the k slots are k independent
# permutation proxies of the token set. One md5 per token total; the k
# per-slot hashes are integer arithmetic. A[j] odd 29-bit, B[j] 28-bit,
# so a*x+b < 2^58: no 64-bit overflow in either engine (Spark ANSI mode
# would throw; DuckDB would wrap), and `%` of non-negative operands
# means the same in both, so ONE SQL text (minhash_slot_sql) serves the
# engine and the DuckDB oracle. The modulus is what makes the slots
# differ: a bare `(A*x + B) div 2^31` is monotone in x, so every slot
# picks the same minimum token and the signature degrades to a single
# MinHash. Constants are md5-derived at import — deterministic.
MINHASH_K = 32
MINHASH_P = 2147483647
MINHASH_A = [
    int(hashlib.md5(f"a{j}".encode()).hexdigest()[:7], 16) * 2 + 1
    for j in range(MINHASH_K)
]
MINHASH_B = [
    int(hashlib.md5(f"b{j}".encode()).hexdigest()[:7], 16)
    for j in range(MINHASH_K)
]


def minhash_slot_sql(j: int, x: str) -> str:
    """SQL text of MinHash slot j's hash of the BIGINT expression ``x``
    (the 28-bit token value) — the single definition of the family,
    accepted verbatim by Spark (``F.expr``) and DuckDB."""
    return f"(({MINHASH_A[j]} * {x} + {MINHASH_B[j]}) % {MINHASH_P})"


def lsh_band_buckets(sig: Column, bands: int = 8, rows: int = 2) -> Column:
    """Fold a k=bands*rows signature into per-band bucket keys:
    bucket_b = md5(band_idx || joined rows). Docs sharing ANY bucket are
    near-dup candidates (classic banding s-curve)."""
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[F.element_at(sig, b * rows + r + 1) for r in range(rows)],
                )
            )
            for b in range(bands)
        ]
    )


# --------------------------------------------------------------------------
# PII detection / redaction (north-star curation op).
#
# Patterns are deliberately restricted to syntax with identical semantics
# in Java regex (Spark) and RE2 (DuckDB): character classes, bounded
# quantifiers, ASCII word boundaries — no backrefs, no lookaround.
# --------------------------------------------------------------------------
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b",
}


def pii_match_count(text: Column, kind: str) -> Column:
    """Number of non-overlapping matches of one PII pattern."""
    return F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[kind]), 0)).cast("long")


def redact_pii(text: Column) -> Column:
    """Replace every PII occurrence with a typed placeholder.

    Order matters: emails are scrubbed before IPv4 so a dotted hostname
    inside an already-redacted email can't be double-matched.
    """
    out = text
    for kind in ("email", "ipv4", "phone"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return out
