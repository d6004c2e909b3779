"""Text functions + dedup family: Column results vs Python oracles,
LSH candidate recall vs brute force on the driver documents table."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_export_tool_python_spark.functions import text as T
from osm_export_tool_python_spark.operators import dedup as D

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS).cache()


def test_token_counts_oracle(spark, docs):
    rows = docs.select(
        "doc_id", "text", T.token_count().alias("tc"), T.distinct_token_count().alias("dc")
    ).collect()
    for r in rows:
        toks = r["text"].strip().lower().split()
        assert r["tc"] == len(toks)
        assert r["dc"] == len(set(toks))


def _py_shingles(text, n=3):
    """Token n-grams of one text, in order; shorter than n → whole doc."""
    toks = text.strip().lower().split()
    if len(toks) < n:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def test_shingles_and_fingerprint(spark):
    texts = ["a b c d", "d c b a", "a b", "", "  A  b c ", "x y x y x"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {}
    for r in T.shingle_rows(df, "doc_id", "text", hashed=False).collect():
        got.setdefault(r["id"], []).append(r["s"])
    assert {i: sorted(v) for i, v in got.items()} == {
        i: sorted(_py_shingles(t)) for i, t in enumerate(texts)
    }
    assert sorted(got[0]) == ["a b c", "b c d"]
    assert got[2] == ["a b"]  # shorter than n → whole doc
    assert got[3] == [""]
    rows = df.orderBy("doc_id").select(T.fingerprint().alias("fp")).collect()
    # fingerprint is order-insensitive over the token set
    assert rows[0]["fp"] == rows[1]["fp"]
    assert rows[0]["fp"] != rows[2]["fp"]


def test_quality_and_langid(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it is a good day for the play",),
            ("der hund ist nicht auf der couch und das ist gut",),
            ("le chat est dans la maison pour le jour",),
            ("qwz xyzzy plugh",),
        ],
        "text string",
    )
    rows = df.select(T.lang_id().alias("l"), T.stopword_ratio().alias("q")).collect()
    assert [r["l"] for r in rows] == ["en", "de", "fr", "und"]
    assert rows[0]["q"] > rows[3]["q"]


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "x")], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in D.exact_dedup(df, ["text"], "doc_id").collect())
    assert kept == [1, 3]


def _jaccard(a, b):
    sa, sb = set(_py_shingles(a)), set(_py_shingles(b))
    return len(sa & sb) / len(sa | sb)


def test_minhash_lsh_recall_and_verify(spark, docs):
    """LSH candidates + exact verify must find every brute-force pair
    with jaccard ≥ 0.8 (16 hashes / 4 bands ⇒ ~1-(1-s^4)^4 ≈ 0.98 at
    s=0.8; the verify stage removes false positives entirely)."""
    local = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    truth = set()
    for (ia, ta), (ib, tb) in itertools.combinations(local, 2):
        if _jaccard(ta, tb) >= 0.8:
            truth.add((min(ia, ib), max(ia, ib)))

    cands = D.lsh_candidate_pairs(docs, "doc_id", "text")
    verified = D.jaccard_verify(cands, docs, "doc_id", "text", threshold=0.8)
    got = {(r["id_a"], r["id_b"]) for r in verified.collect()}
    # verify kills false positives: everything found is true
    assert got <= truth
    # recall: allow the tiny theoretical LSH miss rate
    if truth:
        assert len(got) / len(truth) >= 0.9, (len(got), len(truth))


def test_minhash_dedup_removes_dupes(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra"), (4, "completely different words here")],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"] for r in D.minhash_dedup(df, threshold=0.8).collect()
    )
    assert 1 in kept and 4 in kept and 2 not in kept


def test_simhash_pairs(spark):
    words = "the quick brown fox jumps over the lazy dog again and again today".split()
    a = " ".join(words)
    b = " ".join(words[:-1] + ["tonight"])  # one token differs
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, "totally unrelated content with other words entirely")],
        "doc_id long, text string",
    )
    pairs = D.simhash_near_dup_pairs(df, max_hamming=16, n_blocks=4).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in ids
    assert all(p == (1, 2) for p in ids)


def test_simhash_identical_is_zero(spark):
    df = spark.createDataFrame([(1, "a b c"), (2, "a b c")], "doc_id long, text string")
    rows = D.simhash_table(df).collect()
    assert rows[0]["sh"] == rows[1]["sh"]


def _simhash_col(text_col="text"):
    """Per-row 64-bit simhash, 64 higher-order `filter` lambdas over the
    token hashes: for bit j, count tokens with bit j set, compare to
    n_tokens/2 (strictly greater → 1: deterministic tie → 0)."""
    toks = T.tokens(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(toks)

    def bit_term(j):
        cnt = F.size(
            F.filter(
                hashes,
                lambda h: F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)) == 1,
            )
        )
        return F.shiftleft((cnt * 2 > n).cast("long"), j)

    out = bit_term(0)
    for j in range(1, 64):
        out = out.bitwiseOR(bit_term(j))
    return out


def test_simhash_table_matches_column_form(spark):
    """simhash_table (explode → codegen'd 64-bit-count aggregate) must
    reproduce the per-row lambda form `_simhash_col` exactly, including
    the zero-token and single-token edges."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, ""),
            (4, "   "),
            (5, "one"),
            (6, "repeat repeat repeat repeat distinct"),
        ],
        "doc_id long, text string",
    )
    col_form = {
        r["doc_id"]: r["h"]
        for r in df.select("doc_id", _simhash_col().alias("h")).collect()
    }
    table_form = {r["id"]: r["sh"] for r in D.simhash_table(df).collect()}
    assert col_form == table_form


def test_minhash_md5_table_matches_column_form(spark):
    """minhash_signature_md5_table must reproduce the per-seed
    lexicographic-min md5('s<i>|' || shingle) of a Python oracle
    exactly, including short-doc single shingles, whitespace-only and
    NULL texts (a NULL text's one shingle is NULL, so every slot is
    NULL)."""
    import hashlib

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta"),
            (3, "two words"),
            (4, ""),
            (5, "   "),
            (6, "A b"),
            (7, "  a  b c "),
            (8, None),
            (9, "a b a b a b"),
        ],
        "doc_id long, text string",
    )
    col_form = {
        r["doc_id"]: (
            [None] * 8
            if r["text"] is None
            else [
                min(
                    hashlib.md5(("s%d|%s" % (i, s)).encode()).hexdigest()
                    for s in _py_shingles(r["text"])
                )
                for i in range(8)
            ]
        )
        for r in df.collect()
    }
    table_form = {
        r["id"]: r["g"]
        for r in D.minhash_signature_md5_table(df, n_hashes=8).collect()
    }
    assert col_form == table_form
    assert table_form[8] == [None] * 8


def test_embedding_near_dup(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal(16)
    rows = [
        (1, (base / np.linalg.norm(base)).tolist()),
        (2, ((base + rng.standard_normal(16) * 0.01) / 1.0).tolist()),  # near-dup of 1
        (3, rng.standard_normal(16).tolist()),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id long, embedding array<double>"
    )
    # the pure-Column deterministic-plane sketch finds the pair, with
    # zero Python in the plan (sketch is codegen'd Column math)
    out = D.embedding_near_dup_pairs_col(df, dim=16, threshold=0.98, n_planes=8)
    got_col = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got_col == {(1, 2)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rademacher_sketch_matches_numpy(spark):
    """Column sketch == numpy reference with the same ±1 planes and
    left-to-right accumulation."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((40, 16))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["sk"]
        for r in df.select(
            "vec_id", D.rademacher_sketch_col("embedding", dim=16).alias("sk")
        ).collect()
    }
    for i, v in enumerate(vecs):
        sk = 0
        for j in range(8):
            dot = 0.0
            for d in range(16):
                dot = dot + v[d] * D._rademacher_sign(j, d)
            if dot > 0:
                sk |= 1 << j
        assert got[i] == sk


def test_connected_components_clusters(spark):
    """Chain, triangle, isolated pair: every vertex gets the min id of
    its component, converging over multiple rounds (the chain
    10-11-12-13-14 needs >1)."""
    from osm_export_tool_python_spark.operators.dedup import connected_components_star

    pairs = spark.createDataFrame(
        [(11, 10), (11, 12), (12, 13), (13, 14),  # chain -> 10
         (20, 21), (21, 22), (20, 22),            # triangle -> 20
         (31, 30)],                               # pair -> 30
        "id_a long, id_b long",
    )
    got = {r["id"]: r["component"] for r in connected_components_star(pairs).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
                   20: 20, 21: 20, 22: 20, 30: 30, 31: 30}


def test_connected_components_nonconvergence_raises(spark):
    """A chain that needs more than max_iter rounds must FAIL LOUDLY,
    never return partially-propagated labels as if converged (that it
    converges with enough rounds is test_..._star_beats_diameter)."""
    from osm_export_tool_python_spark.operators.dedup import connected_components_star

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(chain, max_iter=1)


def test_empty_doc_oracle_parity(spark, tmp_path):
    """Empty / whitespace-only docs: Spark tokens() returns [] while the
    DuckDB oracles used regexp_split_to_array, which returns [''] —
    giving nonzero simhash bits and different shingles in the oracle
    (ADVICE r2).  Both oracle CTEs now carry the same empty-string
    guard; prove parity on a table that actually CONTAINS such docs."""
    import duckdb
    import pandas as pd

    from osm_export_tool_python_spark.plans import driver_queries as dq

    pdf = pd.DataFrame(
        {
            "doc_id": ["d0", "d1", "d2", "d3"],
            "text": ["", "   \t  ", "alpha beta gamma delta", "alpha beta gamma delta"],
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).coalesce(1).write.parquet(sf + "/documents.parquet")

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet('%s/documents.parquet/*.parquet')" % sf
    )

    got = {r["doc_id"]: r["simhash16"] for r in dq.q_doc_simhash16(spark, sf).collect()}
    want = {r[0]: r[1] for r in con.execute(dq.SQL_DOC_SIMHASH16).fetchall()}
    assert got == want
    assert got["d0"] == 0  # truly-empty doc hashes to 0 bits
    # d1 is whitespace-with-a-TAB: both engines trim spaces only, so it
    # keeps a content token and hashes identically (parity, not zero)

    got_pairs = {
        (r["id_a"], r["id_b"]) for r in dq.q_lsh_near_dup(spark, sf).collect()
    }
    want_pairs = {(r[0], r[1]) for r in con.execute(dq.SQL_LSH_NEAR_DUP).fetchall()}
    assert got_pairs == want_pairs
    # the twin real docs pair up; the empty/whitespace docs pair with
    # nothing (d0's '' shingle and d1's tab token share no shingles
    # with anything — and, critically, the oracle agrees row-for-row)
    assert got_pairs == {("d2", "d3")}


def _union_find_components(pairs):
    """Driver-side oracle over the collected pairs: {(vertex, min id of
    its connected component)}.  Each root is the min id of its set."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    for r in pairs.collect():
        ra, rb = find(r["id_a"]), find(r["id_b"])
        parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in parent}


def test_connected_components_star_equivalence(spark):
    """Large-star/small-star produces the union-find labels on a random
    graph (chains, triangles, isolated pairs, plus an Erdős–Rényi
    blob)."""
    from osm_export_tool_python_spark.operators.dedup import connected_components_star

    rng = np.random.default_rng(5)
    edges = [(10, 11), (11, 12), (12, 13), (13, 14), (1, 2), (2, 3), (1, 3), (20, 21)]
    blob = rng.integers(100, 140, size=(40, 2))
    edges += [(int(a), int(b)) for a, b in blob if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    b = {(r["id"], r["component"]) for r in connected_components_star(pairs).collect()}
    assert b == _union_find_components(pairs)


def test_connected_components_star_beats_diameter(spark):
    """A 24-node path has diameter 23: label propagation would need ~23
    rounds, the star algorithm must finish within 8 (O(log n))."""
    from osm_export_tool_python_spark.operators.dedup import connected_components_star

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 123)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components_star(chain, max_iter=8).collect()
    }
    assert got == {i: 100 for i in range(100, 124)}


def test_connected_components_star_self_pairs_and_empty(spark):
    """A node appearing only in self-pairs still gets its singleton
    label (as in the union-find oracle), and an empty vector table
    yields an empty — not crashing — pair set."""
    from osm_export_tool_python_spark.operators.dedup import (
        connected_components_star,
        embedding_near_dup_pairs_col,
    )

    pairs = spark.createDataFrame([(5, 5), (1, 2)], "id_a long, id_b long")
    b = {(r["id"], r["component"]) for r in connected_components_star(pairs).collect()}
    assert b == {(5, 5), (1, 1), (2, 1)}
    assert b == _union_find_components(pairs)

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = embedding_near_dup_pairs_col(empty)
    assert out.columns == ["id_a", "id_b", "cosine"] and out.count() == 0


def test_seq_pack_variants(spark):
    """Sequence packing: the streaming variant never splits a doc and
    overflows a bin by at most one doc; the greedy variant NEVER
    exceeds the budget (except a single over-budget doc alone); both
    are deterministic and cover every doc exactly once."""
    from osm_export_tool_python_spark.operators.pack import (
        pack_stats,
        seq_pack,
        seq_pack_greedy,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(
            [40, 90, 30, 80, 120, 10, 10, 10, 200, 55, 70, 65]
        )],
        "doc_id long, text string",
    )
    budget = 128

    for fn in (seq_pack, seq_pack_greedy):
        rows = fn(docs, budget=budget, n_shards=2).collect()
        assert len(rows) == 12 and len({r["doc_id"] for r in rows}) == 12
        by_bin = {}
        for r in sorted(rows, key=lambda r: r["doc_id"]):
            by_bin.setdefault((r["shard"], r["bin"]), []).append(r["n_tokens"])
        for (sh, b), toks in by_bin.items():
            if fn is seq_pack_greedy:
                # strict: over budget only when one doc alone exceeds it
                assert sum(toks) <= budget or len(toks) == 1, (sh, b, toks)
            else:
                # streaming bound: everything except the LAST doc fits
                # inside the bin's budget cell (overflow ≤ one doc)
                assert sum(toks[:-1]) < budget, (sh, b, toks)
        if fn is seq_pack_greedy:
            # greedy bins are contiguous from 0 per shard (streaming
            # bins may legitimately skip numbers when one doc spans
            # multiple budget units of the stream)
            for sh in (0, 1):
                bins = sorted({b for (s, b) in by_bin if s == sh})
                assert bins == list(range(len(bins)))

    stats = pack_stats(seq_pack(docs, budget=budget, n_shards=2), budget).collect()
    assert sum(r["n_docs"] for r in stats) == 12
    assert all(abs(r["fill_ratio"] - r["total_tokens"] / budget) < 1e-9 for r in stats)

    # plan quality: streaming variant is pure Column; greedy confines
    # Python to the single per-shard applyInPandas
    p1 = seq_pack(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p1 and "ArrowEvalPython" not in p1
    p2 = seq_pack_greedy(docs)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in p2 and "BatchEvalPython" not in p2


def test_repetition_ratio_and_contamination(spark):
    from osm_export_tool_python_spark.functions.text import repetition_ratio
    from osm_export_tool_python_spark.operators.dedup import contamination_check

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),    # one trigram dominates
            (2, "one two three four five six seven"),
            (3, "xx yy"),                            # short → single shingle
        ],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x["rep_ratio"] for x in repetition_ratio(df).collect()}
    assert r[1] == 1.0 and r[3] == 1.0
    assert r[2] == pytest.approx(1.0 / 5.0)

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "we saw the quick brown fox yesterday evening"),  # 2 shared trigrams
            (2, "completely unrelated training text right here"),
        ],
        "doc_id long, text string",
    )
    out = contamination_check(train, bench)
    got = {x["doc_id"]: x["n_hits"] for x in out.collect()}
    assert got == {1: 2}  # 'the quick brown' + 'quick brown fox'
    plan = out._jdf.queryExecution().executedPlan().toString()
    # bench shingles are broadcast; no corpus shuffle on the shingle key
    assert "BroadcastHashJoin" in plan and "BatchEvalPython" not in plan


def test_seq_pack_greedy_zero_token_doc_matches_oracle_recurrence(spark):
    """A zero-token doc ahead of an over-budget doc (the code-review
    repro): the Python recurrence must match the WITH RECURSIVE oracle
    — empty doc alone in bin 0, over-budget doc alone in bin 1."""
    from osm_export_tool_python_spark.operators.pack import seq_pack_greedy

    docs = spark.createDataFrame(
        [(0, ""), (2, " ".join(["w"] * 300)), (4, " ".join(["w"] * 50))],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["bin"]
        for r in seq_pack_greedy(docs, budget=256, n_shards=1).collect()
    }
    assert got == {0: 0, 2: 1, 4: 2}


def test_band_self_join_bucketed_is_exchange_free(spark, docs):
    """The reusable-dedup-index shape: the (id, band, bucket) table
    persisted BUCKETED on the join keys (sources/tables.write_bucketed)
    self-joins with NO exchange on either side — the widest shuffle of
    the dedup pipeline (full band table, both sides) is gone; only the
    small post-join distinct still exchanges.  Results must equal the
    computed (unbucketed) path exactly."""
    from osm_export_tool_python_spark.sources.tables import write_bucketed

    banded = D.banded_signature_table(docs)
    spark.sql("DROP TABLE IF EXISTS t_band_bucketed")
    write_bucketed(banded, "t_band_bucketed", 8, "band", "bucket")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def n_exchanges(df):
            return df._jdf.queryExecution().executedPlan().toString().count(
                "Exchange hashpartitioning"
            )

        bucketed = D.band_self_join(spark.table("t_band_bucketed"))
        computed = D.band_self_join(banded)
        # computed: 2 join-input exchanges + 1 distinct; bucketed: the
        # join inputs arrive co-partitioned from the bucket files, so
        # ONLY the distinct's exchange remains
        assert n_exchanges(bucketed) == 1, bucketed._jdf.queryExecution(
        ).executedPlan().toString()
        # computed path: join-input exchanges + the signature pipeline's
        # own (fan-out, groupBy-min) — strictly more than the distinct-only
        assert n_exchanges(computed) >= 3
        got = {(r["id_a"], r["id_b"]) for r in bucketed.collect()}
        ref = {(r["id_a"], r["id_b"]) for r in computed.collect()}
        assert got == ref and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_band_bucketed")


def test_band_probe_join_broadcast_no_index_shuffle(spark):
    """Incremental probe against the bucketed index: with the probe
    side broadcast (the daily batch ≪ corpus regime) the corpus index
    is only SCANNED — the sole remaining hash exchange in the plan is
    the small post-join distinct.  Closed-form band table (same bucket
    formula as the lsh_bucketed_join driver gate) so the probe subtree
    is pure Column math with no exchanges of its own."""
    from osm_export_tool_python_spark.sources.tables import write_bucketed

    def closed_form_banded(ids_df):
        return ids_df.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            ((F.col("id") * (b + 3)) % 40).alias("bucket"),
                        )
                        for b in range(4)
                    ]
                )
            ).alias("s"),
        ).select("id", "s.band", "s.bucket")

    corpus_ids = spark.range(0, 600).select(F.col("id").cast("long").alias("id"))
    probe_ids = spark.range(600, 640).select(F.col("id").cast("long").alias("id"))
    spark.sql("DROP TABLE IF EXISTS t_inc_idx")
    write_bucketed(closed_form_banded(corpus_ids), "t_inc_idx", 8, "band", "bucket")
    try:
        cands = D.band_probe_join(
            spark.table("t_inc_idx"), closed_form_banded(probe_ids)
        )
        plan = cands._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "BroadcastHashJoin" in plan, plan
        got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
        # oracle: shared (band, bucket) under the closed-form formula
        ref = {
            (p, c)
            for p in range(600, 640)
            for c in range(600)
            for b in range(4)
            if (p * (b + 3)) % 40 == (c * (b + 3)) % 40
        }
        assert got == ref and got
    finally:
        spark.sql("DROP TABLE IF EXISTS t_inc_idx")


def test_dedup_against_index_and_append(spark):
    """End-to-end incremental dedup: batch-1 docs that near-dup the
    corpus are dropped, unique docs survive; appending batch-1's band
    rows to the index (append_bucketed) makes batch-2 dups OF BATCH-1
    get caught too — the index grows across batches without ever being
    rewritten."""
    from osm_export_tool_python_spark.sources.tables import (
        append_bucketed,
        write_bucketed,
    )

    def frame(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    corpus = frame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five six")]
    )
    batch1 = frame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # dup of corpus 1
            (11, "brand new words never seen before"),
        ]
    )
    spark.sql("DROP TABLE IF EXISTS t_inc_idx2")
    write_bucketed(
        D.banded_signature_table(corpus), "t_inc_idx2", 8, "band", "bucket"
    )
    try:
        surv1 = D.dedup_against_index(
            batch1, spark.table("t_inc_idx2"), corpus, threshold=0.8
        )
        assert {r["doc_id"] for r in surv1.collect()} == {11}

        # accept batch1 survivors into the index; corpus text for later
        # verifies is the union of the two accepted generations
        append_bucketed(
            D.banded_signature_table(surv1), "t_inc_idx2", 8, "band", "bucket"
        )
        corpus2 = corpus.unionByName(surv1)
        batch2 = frame(
            [
                (20, "brand new words never seen before"),  # dup of batch1's 11
                (21, "completely fresh second batch text"),
            ]
        )
        surv2 = D.dedup_against_index(
            batch2, spark.table("t_inc_idx2"), corpus2, threshold=0.8
        )
        assert {r["doc_id"] for r in surv2.collect()} == {21}
    finally:
        spark.sql("DROP TABLE IF EXISTS t_inc_idx2")


def test_clear_orphan_location_leaves_qualified_names_alone(spark, tmp_path):
    """A qualified table name must never be resolved to
    <warehouse>/<last-segment>: that path can belong to a LIVE
    default-database table of the same name, and rmtree'ing it would
    destroy its data while the catalog entry survives."""
    import os

    from osm_export_tool_python_spark.sources.tables import (
        _clear_orphan_location,
    )

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    import urllib.parse

    parsed = urllib.parse.urlparse(str(wh))
    base = parsed.path or str(wh)
    victim = os.path.join(base, "band_idx_victim")
    os.makedirs(victim, exist_ok=True)
    marker = os.path.join(victim, "part-00000.parquet")
    open(marker, "w").write("x")
    try:
        # catalog has no 'analytics.band_idx_victim'; the default-db
        # directory of the same last segment must survive
        _clear_orphan_location(spark, "analytics.band_idx_victim")
        assert os.path.exists(marker)
        # the unqualified case still clears the true orphan
        _clear_orphan_location(spark, "band_idx_victim")
        assert not os.path.exists(victim)
    finally:
        import shutil

        shutil.rmtree(victim, ignore_errors=True)
