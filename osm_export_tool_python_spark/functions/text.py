"""Text-analysis functions for large-scale training-data pipelines —
pure Column expressions and DataFrame-to-DataFrame functions (JVM
codegen; zero Python in the hot path), each designed to be expressible
in ANSI SQL so DuckDB can oracle them (driver correctness gate).

Ops: tokenization, token counting, trigram shingle rows, quality
scoring, language-ID (stopword-hit heuristic), document fingerprinting."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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


#: Token n-gram width of every shingle: the dedup, decontamination and
#: repetition operators and their SQL oracles all read trigrams.
SHINGLE_N = 3


def shingle_rows(df: DataFrame, id_col: str, text_col: str, hashed: bool) -> DataFrame:
    """(id, s) — one row per token trigram of each doc, in token order,
    with no higher-order function anywhere.

    Each doc's tokens are exploded over their n-gram start positions
    `sequence(1, k-n+1)`, and the n-gram's tokens are read with
    `element_at`, so tokenizing, exploding and building the shingle all
    compile into one whole-stage codegen stage.  A doc shorter than n
    tokens (k < n, or a NULL text) keeps one position, and the
    `i + j <= k` guard turns its missing tokens into NULLs, which
    `concat_ws` and `xxhash64` skip: a short doc has one whole-doc
    shingle.

    `hashed=False`: s is the n-gram string, the n tokens joined by
    single spaces (`concat_ws`); an empty text's one shingle is `''`
    and a NULL text's is NULL.

    `hashed=True`: s is `xxhash64(xxhash64(t_i), ..., xxhash64(t_i+n-1))`.
    Spark's xxhash64 folds each argument (and each element of an array
    argument) into the running seed and skips NULLs, so with `th` the
    array of token xxhash64s this is bit-identical to
    `xxhash64(slice(th, i, n))` and, for a short doc, to `xxhash64(th)`
    (seed 42 for zero tokens or a NULL text)."""
    toks = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("t"))
    k = F.size("t")
    pos = toks.select(
        "id",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.greatest(k - SHINGLE_N + 1, F.lit(1)))
        ).alias("i"),
    )
    i = F.col("i")
    if hashed:
        s = F.xxhash64(
            *[
                F.when(i + j <= k, F.xxhash64(F.element_at("t", i + j)))
                for j in range(SHINGLE_N)
            ]
        )
    else:
        s = F.when(
            F.col("t").isNotNull(),
            F.concat_ws(
                " ",
                *[
                    F.when(i + j <= k, F.element_at("t", i + j))
                    for j in range(SHINGLE_N)
                ],
            ),
        )
    return pos.select("id", s.alias("s"))


def punct_ratio(text="text") -> Column:
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), F.lit(0))) / n.cast("double")
    )


def stopword_ratio(text="text") -> Column:
    """Share of tokens that are English stopwords."""
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS["en"])))
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


def repetition_ratio(df: DataFrame) -> DataFrame:
    """(doc_id, rep_ratio) — the fraction of a doc's token trigrams taken
    by its single most frequent one, rounded to 6 dp: the Gopher-style
    repetition quality signal (high values flag boilerplate/spam).

    The doc rows are hash-partitioned on doc_id first, so the text
    crosses one exchange and both aggregates — count per (doc, shingle),
    then max count over the doc's shingle total — run in codegen'd hash
    aggregates over `shingle_rows` with no exchange of their own.  A doc
    shorter than a trigram has one whole-doc shingle ⇒ 1.0 (`""`
    included).  A NULL text's one shingle is NULL: it counts toward the
    total but matches no shingle, so its ratio is 0.0."""
    rows = shingle_rows(df.repartition("doc_id"), "doc_id", "text", hashed=False)
    per = rows.groupBy("id", "s").agg(
        F.count("s").alias("c"), F.count("*").alias("n")
    )
    return per.groupBy("id").agg(
        F.round(F.max("c") / F.sum("n"), 6).alias("rep_ratio")
    ).select(F.col("id").alias("doc_id"), "rep_ratio")
