"""Text-analysis expressions for large-scale training-data pipelines.

Everything here is a pure ``pyspark.sql.functions`` Column builder —
JVM-side, whole-stage-codegen friendly, zero Python in the hot path —
so each scales to 100 TB of documents as a narrow (shuffle-free) map.

Capability target SURVEY.md §2.10 / north star (text analysis: lang-id,
quality scoring, token counting, fingerprinting). The reference repo has
no text analytics; its only string ops are strip/replace
(download_lambda.py:95,100,132), covered by F1 in SURVEY.md §2.7.

Design note: each function has a deliberately SQL-expressible definition
so the DuckDB oracle (``__spark_entry__.py``) can replicate it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword-hit
# language heuristic. Deliberately small and hard-coded: lang-id at scale
# is a scoring pass, not a model lookup.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "et", "des"),
    "de": ("der", "die", "und", "das", "ein"),
}

_WS = r"\s+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization → array<string>. Empty/whitespace-only
    text yields an EMPTY array (``F.split`` alone would yield ``['']``,
    making token_count('')==1 and giving empty docs Jaccard 1.0). The
    BPE-ish variant below (``subword_count``) approximates tokenizer
    load for budget planning.

    PERF: tokenization is the single most expensive narrow expression
    in the corpus pipeline (regex split over full text). Every function
    below that consumes the token array more than once has a
    ``*_from_tokens`` twin taking a pre-projected ``toks`` column —
    project ``tokens(...)`` ONCE per query and feed the twin. Catalyst
    only materializes the projection when the alias is non-cheap and
    multiply-referenced (CollapseProject would otherwise inline it back
    into each consumer, re-running the regex per reference — measured
    9× slower on the shingle explode)."""
    return F.filter(F.split(F.trim(_c(text)), _WS), lambda t: t != F.lit(""))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


#: GPT-2-flavored pre-tokenization classes: letter runs, digit runs,
#: single non-space-non-alnum marks. Unicode-correct (``\p{L}``/``\p{N}``
#: cover all scripts) and — verified — IDENTICAL between Java regex
#: (Spark) and RE2 (DuckDB), so token budgets are oracle-checkable.
BPE_ISH_PATTERN = r"\p{L}+|\p{N}+|[^\s\p{L}\p{N}]"


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-ish pre-token array: the split a byte-pair tokenizer's
    pre-tokenizer performs (letter runs / digit runs / punctuation
    marks) — the standard cheap proxy for LLM token budgets (a real
    BPE merges within these units, so this UNDER-counts by the merge
    ratio but never crosses unit boundaries). Pure codegen regexp."""
    return F.regexp_extract_all(_c(text), F.lit(BPE_ISH_PATTERN), F.lit(0))


def subword_count(text: Column | str) -> Column:
    """BPE-ish proxy token count — ``size(bpe_ish_tokens(...))``."""
    return F.size(bpe_ish_tokens(text))


def punct_ratio(text: Column | str) -> Column:
    t = _c(text)
    stripped = F.regexp_replace(t, r"[^\w\s]", "")
    return (F.length(t) - F.length(stripped)) / F.greatest(F.length(t), F.lit(1))


def stopword_ratio_from_tokens(toks: Column, lang: str = "en") -> Column:
    """``toks`` must be lowercased tokens."""
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def mean_word_len_from_tokens(toks: Column) -> Column:
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score_from_tokens(text: Column | str, toks: Column) -> Column:
    """``toks`` = ``tokens(text)`` (any case; only lengths are used)."""
    t = _c(text)
    n = F.length(t)
    len_ok = F.when((n >= 50) & (n <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(t) < 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    mwl = mean_word_len_from_tokens(toks)
    word_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + punct_ok + word_ok) / F.lit(3.0)


def quality_score(text: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1]:
    length sweet spot + low punctuation + sane mean word length.
    Mirrors the C4/Gopher-style rule-based filters, expressible in SQL."""
    return quality_score_from_tokens(text, tokens(_c(text)))


def lang_id_from_tokens(text: Column | str, toks: Column) -> Column:
    """``toks`` must be lowercased tokens of ``text``."""
    t = F.lower(_c(text))

    def hits(lang: str) -> Column:
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        return F.size(F.filter(toks, lambda tok: F.array_contains(markers, tok)))

    en, es, fr, de = hits("en"), hits("es"), hits("fr"), hits("de")
    best = F.greatest(en, es, fr, de)
    return (
        F.when(t.rlike(r"[一-鿿]"), F.lit("zh"))
        .when(best == 0, F.lit("und"))
        # deterministic priority order on ties: en > es > fr > de
        .when(en == best, F.lit("en"))
        .when(es == best, F.lit("es"))
        .when(fr == best, F.lit("fr"))
        .otherwise(F.lit("de"))
    )


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: CJK codepoint presence → 'zh'; otherwise the
    language whose marker stopwords hit the most tokens; ties → 'und'.

    One narrow map — at 100 TB this is a single scan with no shuffle."""
    return lang_id_from_tokens(text, tokens(F.lower(_c(text))))


def normalize(text: Column | str) -> Column:
    """Canonical form used for fingerprints / exact dedup: lowercase,
    collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(_c(text)), _WS, " "))


def fingerprint(text: Column | str) -> Column:
    """Deterministic 128-bit document fingerprint: md5 of the normalized
    text. Engine-portable (DuckDB md5 produces identical hex)."""
    return F.md5(normalize(_c(text)))


# PII patterns kept RE2-compatible (no backrefs / lookaround) so the
# DuckDB oracle replays them verbatim: Spark's Java regex and DuckDB's
# RE2 agree on these exact strings.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


def pii_count(text: Column | str, kind: str) -> Column:
    """Occurrences of one PII pattern (``email``/``phone``/``ipv4``)."""
    return F.regexp_count(_c(text), F.lit(PII_PATTERNS[kind]))


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with ``[KIND]``. Order matters: emails
    first (an email can contain digits), then phones, then IPv4 — the
    oracle applies the same order. One narrow map, shuffle-free."""
    out = _c(text)
    for kind in ("email", "phone", "ipv4"):
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return out


def dup_token_ratio_from_tokens(toks: Column) -> Column:
    """``toks`` must be lowercased tokens."""
    n = F.size(toks)
    return (n - F.size(F.array_distinct(toks))) / F.greatest(n, F.lit(1))


def dup_token_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are repeats of an earlier token —
    Gopher-style repetition signal. 0 for empty docs."""
    return dup_token_ratio_from_tokens(tokens(F.lower(_c(text))))


def top_token_ratio_from_tokens(toks: Column) -> Column:
    """``toks`` must be lowercased tokens."""
    dist = F.array_distinct(toks)
    counts = F.transform(dist, lambda d: F.size(F.filter(toks, lambda t: t == d)))
    return F.coalesce(
        F.array_max(counts) / F.greatest(F.size(toks), F.lit(1)), F.lit(0.0)
    )


def top_token_ratio(text: Column | str) -> Column:
    """Share of the single most frequent token. Row-local: counts are a
    transform over the distinct set (O(distinct×n) per row, zero
    shuffle — documents are short relative to corpus size)."""
    return top_token_ratio_from_tokens(tokens(F.lower(_c(text))))


def bigrams_from_tokens(toks: Column) -> Column:
    """COUNTED word bigrams (``'w1 w2'`` strings, duplicates kept) —
    the occurrence stream an n-gram language model is estimated from,
    unlike :func:`shingles_from_tokens` whose distinct sets feed
    similarity ops. Row-local sequence+transform, no UDF, no shuffle;
    <2 tokens → empty array."""
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_bigram_ratio_from_tokens(toks: Column) -> Column:
    """``toks`` must be lowercased tokens."""
    grams = bigrams_from_tokens(toks)
    ng = F.size(grams)
    return (ng - F.size(F.array_distinct(grams))) / F.greatest(ng, F.lit(1))


def dup_bigram_ratio(text: Column | str) -> Column:
    """Fraction of word bigrams that are repeats — the 2-gram variant
    of the repetition filter. 0 for docs with <2 tokens."""
    return dup_bigram_ratio_from_tokens(tokens(F.lower(_c(text))))


def shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """``toks`` = ``tokens(normalize(text))`` (normalized tokens)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
        ).otherwise(
            # short doc → one shingle of the whole text; empty doc → []
            F.filter(F.array(F.concat_ws(" ", toks)), lambda s: s != F.lit(""))
        )
    )


def shingle_hashes(toks: Column, k: int = 3) -> Column:
    """Distinct int64 shingle hashes — the cheap representation for
    pairwise set ops (8-byte compares instead of re-hashing shingle
    strings per pair; 64-bit collisions negligible). Same distinct
    cardinalities as :func:`shingles_from_tokens` (shingle strings are
    equal iff their token tuples are — tokens contain no whitespace),
    so Jaccard values are unchanged and exact-string oracles stay
    green.

    k=2 takes a zip_with fast path (one pass, no per-position
    ``slice``): ~2.5× cheaper than hashing the generic string
    shingles. Other k falls back to hashing the strings."""
    if k == 2:
        n = F.size(toks)
        pairs = F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
            lambda x, y: F.when(y.isNotNull(), F.xxhash64(x, y)),
        )
        return F.array_distinct(
            F.when(n >= 2, F.array_compact(pairs)).otherwise(
                # short doc → one whole-text shingle; empty doc → [].
                # (A 1-token shingle can never equal a pair shingle —
                # pair strings contain a space — so the differing hash
                # arity is safe.)
                F.filter(
                    F.array(F.xxhash64(F.concat_ws(" ", toks))),
                    lambda _: n > 0,
                )
            )
        )
    return F.transform(shingles_from_tokens(toks, k), lambda s: F.xxhash64(s))


def shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-shingles (n-grams) as array<string>, distinct.

    Built with sequence+transform — no UDF, no explode (the shingle set
    stays row-local, so shingling is shuffle-free)."""
    return shingles_from_tokens(tokens(normalize(_c(text))), k)
