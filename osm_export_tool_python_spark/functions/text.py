"""Text-analysis functions for large-scale training-data pipelines —
all pure Column expressions (JVM codegen; zero Python in the hot path)
and each designed to be expressible in ANSI SQL so DuckDB can oracle
them (driver correctness gate).

Ops: tokenization, token counting, shingling, quality scoring,
language-ID (stopword-hit heuristic), document fingerprinting."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword-hit
# language-ID heuristic; deliberately short so the SQL oracle stays
# writable by hand
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
}


def tokens(text="text") -> Column:
    """Lowercased whitespace tokens (empty string → empty array)."""
    t = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(F.lower(t))
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text="text") -> Column:
    return F.size(tokens(text))


def distinct_token_count(text="text") -> Column:
    return F.size(F.array_distinct(tokens(text)))


def bpe_ish_token_count(text="text") -> Column:
    """Sub-word-ish token count: splits on word boundaries AND runs of
    digits/punctuation (a cheap BPE proxy): count of maximal runs of
    [a-z]+ | [0-9]+ | single punctuation."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.regexp_extract_all(F.lower(t), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0))
    )


def shingles(text="text", n: int = 3) -> Column:
    """Token n-gram shingles as space-joined strings; docs shorter than
    n tokens yield a single whole-doc shingle."""
    toks = tokens(text)
    k = F.size(toks)
    ngrams = F.transform(
        F.sequence(F.lit(1), k - n + 1),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(k >= n, ngrams).otherwise(F.array(F.array_join(toks, " ")))


def punct_ratio(text="text") -> Column:
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), F.lit(0))) / n.cast("double")
    )


def stopword_ratio(text="text", lang: str = "en") -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS[lang])))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        hits / F.size(toks).cast("double")
    )


def mean_token_len(text="text") -> Column:
    toks = tokens(text)
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0.0), lambda acc, x: acc + F.length(x))
        / F.size(toks).cast("double")
    )


def lang_id(text="text") -> Column:
    """argmax over per-language stopword hit counts; ties and zero hits
    → 'und' (undetermined)."""
    toks = tokens(text)

    def hit_count(sw):
        # closure factory: a default-arg lambda would make the HOF
        # lambda arity 2 and Spark would pass the element INDEX as sw
        return F.size(F.filter(toks, lambda x: x.isin(*sw)))

    hits = {lang: hit_count(sw) for lang, sw in STOPWORDS.items()}
    en, de, fr = hits["en"], hits["de"], hits["fr"]
    best = F.greatest(en, de, fr)
    return (
        F.when(best == 0, F.lit("und"))
        .when((en == best) & (de == best), F.lit("und"))
        .when((en == best) & (fr == best), F.lit("und"))
        .when((de == best) & (fr == best), F.lit("und"))
        .when(en == best, F.lit("en"))
        .when(de == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )


def fingerprint(text="text") -> Column:
    """Canonical content fingerprint: md5 of the sorted distinct token
    set (whitespace/order/case/dup-insensitive).  md5 is identical in
    Spark and DuckDB, so the oracle can reproduce it exactly."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def repetition_ratio(text="text", n: int = 3) -> Column:
    """Fraction of all token n-grams taken by the single most frequent
    one — the Gopher-style repetition quality signal (high values flag
    boilerplate/spam).  Pure Column: aggregate over the shingle array
    with a running count map; docs shorter than n tokens have exactly
    one whole-doc shingle ⇒ ratio 1.0."""
    sh = shingles(text, n)
    # max count via distinct-outer / filter-inner: O(distinct × k)
    # cheap codegen'd comparisons with NO allocation per step (the
    # map-accumulator fold form rebuilt the whole count map once per
    # shingle — quadratic allocation on exactly the boilerplate docs
    # this signal exists to flag)
    mx = F.array_max(
        F.transform(
            F.array_distinct(sh),
            lambda g: F.size(F.filter(sh, lambda x: x == g)),
        )
    )
    return F.round(mx / F.size(sh), 6)
