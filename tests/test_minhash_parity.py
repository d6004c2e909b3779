"""The compiled shingle paths (`text.shingle_rows`) against the
higher-order-function expressions they replaced, kept inline here as
the oracle: signature rows, shingle rows and sets, verified Jaccard
values, `minhash_dedup` survivors, repetition ratios and
decontamination hits must be EQUAL, not merely close.

Input: a slice of the benchmark corpus generator (word documents with
injected exact and one-word-changed copies) plus the edge documents
that exercise the short-doc and NULL branches."""

import pytest
from pyspark.sql import functions as F

from osm_export_tool_python_spark.functions import text as T
from osm_export_tool_python_spark.operators import dedup as D

N = 3
N_HASHES = 16
BANDS = 4

EDGE_DOCS = [
    (-1, ""),
    (-2, "   "),
    (-3, "a"),
    (-4, "A b"),
    (-5, "  a  b c "),
    (-6, None),
    (-7, None),
    (-8, "red green blue"),
    (-9, "a b a b a b"),
]


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    from perfbench import inputs

    path, _info = inputs.stage_corpus(str(tmp_path_factory.mktemp("corpus")), 1, 1000)
    base = spark.read.parquet(path)
    edge = spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")
    df = base.select("doc_id", "text").unionByName(edge).cache()
    assert 1000 < df.count() <= 2000
    yield df
    df.unpersist()


# --- the replaced expressions, verbatim in shape --------------------------


def _oracle_shingles(text_col="text"):
    toks = T.tokens(text_col)
    k = F.size(toks)
    ngrams = F.transform(
        F.sequence(F.lit(1), k - N + 1),
        lambda i: F.array_join(F.slice(toks, i, N), " "),
    )
    return F.when(k >= N, ngrams).otherwise(F.array(F.array_join(toks, " ")))


def _oracle_shingle_hashes(text_col="text"):
    tok_h = F.transform(T.tokens(text_col), lambda t: F.xxhash64(t))
    k = F.size(tok_h)
    return F.when(
        k >= N,
        F.transform(
            F.sequence(F.lit(1), k - N + 1),
            lambda i: F.xxhash64(F.slice(tok_h, i, N)),
        ),
    ).otherwise(F.array(F.xxhash64(tok_h)))


def _oracle_signature(df):
    exploded = df.select(
        F.col("doc_id").alias("id"), F.explode(_oracle_shingle_hashes()).alias("hs")
    )
    base = F.col("hs").bitwiseAND(F.lit(0xFFFFFFFF))
    return exploded.groupBy("id").agg(
        *[
            F.min((F.lit(a) * base + F.lit(b)).bitwiseAND(F.lit(0xFFFFFFFF))).alias(
                "h%d" % i
            )
            for i, (a, b) in enumerate(D._affine_params(N_HASHES))
        ]
    )


def _oracle_candidates(df):
    rows = N_HASHES // BANDS
    banded = _oracle_signature(df).select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b), *[F.col("h%d" % (b * rows + r)) for r in range(rows)]
                    )
                    for b in range(BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _oracle_sets(df):
    return df.select(
        F.col("doc_id").alias("id"), F.array_distinct(_oracle_shingles()).alias("sh")
    )


def _oracle_verify(pairs, df, threshold):
    sh = _oracle_sets(df)
    return (
        pairs.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _oracle_dedup(df, threshold):
    verified = _oracle_verify(_oracle_candidates(df), df, threshold)
    dupes = verified.select(F.col("id_b").alias("__dup")).distinct()
    return df.join(dupes, df["doc_id"] == dupes["__dup"], "left_anti")


def _oracle_repetition(df):
    # the shingle array is projected once: inlined into the inner
    # lambda it would be rebuilt once per distinct shingle
    sh = F.col("sh")
    mx = F.array_max(
        F.transform(
            F.array_distinct(sh),
            lambda g: F.size(F.filter(sh, lambda x: x == g)),
        )
    )
    return df.select("doc_id", _oracle_shingles().alias("sh")).select(
        "doc_id", F.round(mx / F.size(sh), 6).alias("rep_ratio")
    )


def _oracle_contamination(train, bench):
    t = train.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(_oracle_shingles())).alias("s"),
    )
    b = bench.select(F.explode(F.array_distinct(_oracle_shingles())).alias("s")).distinct()
    return (
        t.join(F.broadcast(b), "s")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_hits"))
        .where(F.col("n_hits") >= 1)
        .select(F.col("id").alias("doc_id"), "n_hits")
    )


# --- parity ----------------------------------------------------------------


def _assert_same_rows(got, want):
    """Equal as multisets: `exceptAll` both ways is empty."""
    assert got.columns == want.columns
    held = [df.cache() for df in (got, want) if not df.is_cached]
    try:
        extra = got.exceptAll(want)
        missing = want.exceptAll(got)
        assert extra.isEmpty() and missing.isEmpty(), (
            extra.limit(5).collect(),
            missing.limit(5).collect(),
        )
    finally:
        for df in held:
            df.unpersist()


@pytest.fixture(scope="module")
def pairs(spark, corpus):
    """Oracle LSH candidates plus every pair of edge docs, so the NULL,
    empty and short-doc sets meet each other in the verify."""
    ids = [i for i, _ in EDGE_DOCS]
    edge = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "id_a long, id_b long"
    )
    out = _oracle_candidates(corpus).union(edge).distinct().cache()
    out.count()
    yield out
    out.unpersist()


def test_shingle_rows_match_transform_forms(corpus):
    got = T.shingle_rows(corpus, "doc_id", "text", hashed=False)
    want = corpus.select(
        F.col("doc_id").alias("id"), F.explode(_oracle_shingles()).alias("s")
    )
    _assert_same_rows(got, want)
    got_h = T.shingle_rows(corpus, "doc_id", "text", hashed=True)
    want_h = corpus.select(
        F.col("doc_id").alias("id"), F.explode(_oracle_shingle_hashes()).alias("s")
    )
    _assert_same_rows(got_h, want_h)


def test_signature_rows_match_transform_form(corpus):
    got = D.minhash_signature_table(corpus)
    _assert_same_rows(got, _oracle_signature(corpus))


def test_verify_shingle_sets_match_array_distinct(corpus, pairs):
    ids = (
        pairs.select(F.col("id_a").alias("__cid"))
        .union(pairs.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    got = D._candidate_sets(corpus, ids, "doc_id", "text").select(
        "id", F.array_sort("sh").alias("sh")
    )
    want = (
        _oracle_sets(corpus)
        .join(ids, F.col("id") == F.col("__cid"), "left_semi")
        .select("id", F.array_sort("sh").alias("sh"))
    )
    _assert_same_rows(got, want)
    # only candidate docs are shingled
    assert got.count() == ids.count() < corpus.count()


def test_verified_jaccard_matches_transform_form(corpus, pairs):
    want = _oracle_verify(pairs, corpus, 0.0).cache()
    _assert_same_rows(D.jaccard_verify(pairs, corpus, threshold=0.0), want)
    _assert_same_rows(
        D.jaccard_verify_cross(pairs, corpus, corpus, threshold=0.0), want
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in want.collect()}
    want.unpersist()
    assert got[(-7, -6)] == 1.0  # two NULL texts: [NULL] vs [NULL]
    assert got[(-6, -1)] == 0.0  # NULL text vs empty text: [NULL] vs ['']
    assert got[(-2, -1)] == 1.0  # '   ' and '' both shingle to ['']
    assert got[(-5, -4)] == 0.0  # ['a b'] vs ['a b c']
    assert any(0.8 <= j < 1.0 for j in got.values())


def test_minhash_dedup_survivors_match_transform_form(corpus):
    got = D.minhash_dedup(corpus, threshold=0.8)
    want = _oracle_dedup(corpus, 0.8)
    _assert_same_rows(got, want)
    assert got.count() < corpus.count()


def test_repetition_ratio_matches_lambda_form(corpus):
    got = T.repetition_ratio(corpus).cache()
    _assert_same_rows(got, _oracle_repetition(corpus))
    r = {x["doc_id"]: x["rep_ratio"] for x in got.where(F.col("doc_id") < 0).collect()}
    got.unpersist()
    assert r[-6] == r[-7] == 0.0  # NULL: its NULL shingle matches nothing
    assert r[-1] == 1.0  # '' → the one shingle ''
    assert r[-9] == 0.5  # 'a b a', 'b a b', 'a b a', 'b a b'


def test_contamination_check_matches_lambda_form(corpus):
    # every edge doc is on the bench side and in the training corpus, so
    # the repeated trigrams of 'a b a b a b' hit both sides
    bench = corpus.where((F.col("doc_id") < 0) | (F.col("doc_id") % 10 == 0))
    got = D.contamination_check(corpus, bench).cache()
    _assert_same_rows(got, _oracle_contamination(corpus, bench))
    hits = {r["doc_id"]: r["n_hits"] for r in got.collect()}
    got.unpersist()
    assert hits[-9] == 2  # distinct trigrams, not their 4 occurrences
    assert -6 not in hits and -7 not in hits  # a NULL shingle joins nothing
    assert hits[-1] == hits[-2] == 1  # '' and '   ' share the shingle ''
    assert sum(d >= 0 for d in hits) > corpus.where("doc_id % 10 = 0").count()
