"""Driver-contract queries: every operator from SURVEY.md §2 (plus the
training-data ops) exposed as (spark, sf_dir) → DataFrame, each with an
equivalent DuckDB oracle SQL where expressible.

Oracle-parity ground rules (learned the hard way):
  - every computed column aliased IDENTICALLY in Spark and SQL,
  - doubles rounded (4-6 dp) on BOTH sides before comparison,
  - md5 is the shared deterministic hash (same hex in both engines),
  - string comparison is binary/lexicographic in both,
  - derived lon/lat grids are integer arithmetic → bit-identical.

Spatial queries derive deterministic coordinates from TPC-H keys:
  lon(k) = ((k*7) % 3600)/10 - 180 + 0.05   ∈ [-179.95, 179.95]
  lat(k) = ((k*13) % 1600)/10 - 80 + 0.05   ∈ [ -79.95,  79.95]
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.dsl import Matcher
from ..functions.compile import compile_matcher
from ..operators import dedup as D
from ..operators.knn import haversine_col, knn_join
from ..operators.similarity import brute_force_topk


def _t(spark, sf_dir, name):
    return spark.read.parquet("%s/%s.parquet" % (sf_dir, name))


# ---------------------------------------------------------------------------
# text analysis (documents)
# ---------------------------------------------------------------------------

def q_doc_token_stats(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        T.token_count().alias("n_tokens"),
        T.distinct_token_count().alias("n_distinct"),
        T.bpe_ish_token_count().alias("n_subword"),
    )


SQL_DOC_TOKEN_STATS = """
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+')) END AS n_tokens,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) END AS n_distinct,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_subword
FROM documents
"""


def q_doc_quality(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(T.punct_ratio(), 6).alias("punct_ratio"),
        F.round(T.stopword_ratio(), 6).alias("stop_ratio"),
        F.round(T.mean_token_len(), 6).alias("mean_tok_len"),
    )


SQL_DOC_QUALITY = """
WITH toks AS (
  SELECT doc_id, text,
         CASE WHEN trim(text)='' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS t
  FROM documents
)
SELECT doc_id,
  round(CASE WHEN length(text)=0 THEN 0.0
        ELSE len(regexp_extract_all(text, '[^\\w\\s]')) / CAST(length(text) AS DOUBLE) END, 6) AS punct_ratio,
  round(CASE WHEN len(t)=0 THEN 0.0
        ELSE len(list_filter(t, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x)))
             / CAST(len(t) AS DOUBLE) END, 6) AS stop_ratio,
  round(CASE WHEN len(t)=0 THEN 0.0
        ELSE list_sum(list_transform(t, x -> length(x))) / CAST(len(t) AS DOUBLE) END, 6) AS mean_tok_len
FROM toks
"""


def q_doc_langid(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select("doc_id", T.lang_id().alias("lang_guess"))


SQL_DOC_LANGID = """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text)='' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS t
  FROM documents
), hits AS (
  SELECT doc_id,
    len(list_filter(t, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS en,
    len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf','zu'], x))) AS de,
    len(list_filter(t, x -> list_contains(['le','la','les','et','est','un','une','dans','pour','que'], x))) AS fr
  FROM toks
)
SELECT doc_id,
  CASE WHEN greatest(en, de, fr) = 0 THEN 'und'
       WHEN en = greatest(en, de, fr) AND de = greatest(en, de, fr) THEN 'und'
       WHEN en = greatest(en, de, fr) AND fr = greatest(en, de, fr) THEN 'und'
       WHEN de = greatest(en, de, fr) AND fr = greatest(en, de, fr) THEN 'und'
       WHEN en = greatest(en, de, fr) THEN 'en'
       WHEN de = greatest(en, de, fr) THEN 'de'
       ELSE 'fr' END AS lang_guess
FROM hits
"""


def q_doc_fingerprint_dups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(T.fingerprint().alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


SQL_DOC_FINGERPRINT_DUPS = """
WITH fps AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
           regexp_split_to_array(trim(lower(text)), '\\s+'))), ' ')) AS fp
  FROM documents WHERE trim(text) <> ''
)
SELECT fp, COUNT(*) AS n_docs FROM fps GROUP BY fp HAVING COUNT(*) > 1
"""


_SQL_SHINGLE_CTE = """toks AS (
  SELECT doc_id,
    CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS t
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' '))
         ELSE [array_to_string(t, ' ')] END AS s
  FROM toks
)"""


def q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition signal: share of all token trigrams
    taken by the single most frequent one (functions/text.py:
    repetition_ratio, pure Column map-aggregate)."""
    from ..functions.text import repetition_ratio

    return _t(spark, sf_dir, "documents").select(
        "doc_id", repetition_ratio("text", 3).alias("rep_ratio")
    )


SQL_DOC_REPETITION = (
    "WITH " + _SQL_SHINGLE_CTE + """,
x AS (SELECT doc_id, unnest(s) AS g, len(s) AS total FROM sh),
c AS (SELECT doc_id, g, ANY_VALUE(total) AS total, COUNT(*) AS cnt
      FROM x GROUP BY doc_id, g)
SELECT doc_id, round(CAST(MAX(cnt) AS DOUBLE) / ANY_VALUE(total), 6) AS rep_ratio
FROM c GROUP BY doc_id"""
)


def q_doc_contamination(spark, sf_dir):
    """Benchmark DECONTAMINATION driven through the gate: docs with
    doc_id < 20 play the benchmark suite, the rest the training
    corpus; any training doc sharing a distinct trigram with the
    benchmark is flagged with its hit count
    (operators/dedup.py:contamination_check — broadcast bench
    shingles, no corpus shuffle on the shingle key)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < 20)
    train = docs.where(F.col("doc_id") >= 20)
    return D.contamination_check(train, bench, shingle_n=3, min_hits=1)


SQL_DOC_CONTAMINATION = (
    "WITH " + _SQL_SHINGLE_CTE + """,
b AS (
  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id < 20
), tr AS (
  SELECT doc_id, unnest(list_distinct(s)) AS g FROM sh WHERE doc_id >= 20
)
SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM tr JOIN b USING (g)
GROUP BY tr.doc_id"""
)


_SQL_PACK_TOKENS_CTE = """d AS (
  SELECT doc_id, doc_id % 4 AS shard,
    CASE WHEN trim(lower(text)) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+')) END AS n_tokens
  FROM documents
)"""


def q_doc_seq_pack(spark, sf_dir):
    """Sequence packing (training-batch assembly), STREAMING variant:
    docs laid end-to-end per shard, the budget grid cut across the
    stream — pure Column window math, one shuffle, every bin
    assignment hash-checked (operators/pack.py:seq_pack)."""
    from ..operators.pack import seq_pack

    return seq_pack(_t(spark, sf_dir, "documents"), budget=256, n_shards=4)


SQL_DOC_SEQ_PACK = (
    "WITH " + _SQL_PACK_TOKENS_CTE + """
SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256 AS BIGINT) AS bin
FROM d"""
)


def q_doc_seq_pack_greedy(spark, sf_dir):
    """STRICT-budget greedy packing: running total resets at the
    budget (over-budget docs sit alone).  Inherently sequential per
    shard — one applyInPandas scan each — oracled against DuckDB's
    WITH RECURSIVE replay of the same recurrence
    (operators/pack.py:seq_pack_greedy)."""
    from ..operators.pack import seq_pack_greedy

    return seq_pack_greedy(_t(spark, sf_dir, "documents"), budget=256, n_shards=4)


SQL_DOC_SEQ_PACK_GREEDY = (
    "WITH RECURSIVE " + _SQL_PACK_TOKENS_CTE + """,
t AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY shard ORDER BY doc_id) AS rn FROM d
), p AS (
  SELECT shard, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS bin,
         n_tokens AS acc
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.doc_id, t.n_tokens, t.rn,
    CASE WHEN p.acc + t.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
    CASE WHEN p.acc + t.n_tokens > 256 THEN t.n_tokens
         ELSE p.acc + t.n_tokens END
  FROM t JOIN p ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(bin AS BIGINT) AS bin
FROM p"""
)


def q_doc_pack_stats(spark, sf_dir):
    """Per-bin fill report over the streaming packing — the
    packing-efficiency metric a production pipeline logs."""
    from ..operators.pack import pack_stats, seq_pack

    return pack_stats(
        seq_pack(_t(spark, sf_dir, "documents"), budget=256, n_shards=4),
        budget=256,
    )


SQL_DOC_PACK_STATS = (
    "WITH " + _SQL_PACK_TOKENS_CTE + """,
packed AS (
  SELECT shard,
    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256 AS bin,
    n_tokens
  FROM d
)
SELECT shard, CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(SUM(n_tokens) / 256.0, 6) AS fill_ratio
FROM packed GROUP BY shard, bin"""
)


def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.exact_dedup(docs, ["text"], "doc_id").select("doc_id")


SQL_DEDUP_EXACT = """
SELECT doc_id FROM (
  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


def q_minhash_md5(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    sig = D.minhash_signature_md5("text", n_hashes=4, shingle_n=3)
    return docs.select(
        "doc_id",
        *[F.try_element_at(sig, F.lit(i + 1)).alias("h%d" % i) for i in range(4)],
    )


SQL_MINHASH_MD5 = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' '))
         ELSE [array_to_string(t, ' ')] END AS s
  FROM toks
)
SELECT doc_id,
  list_min(list_transform(s, x -> md5('s0|' || x))) AS h0,
  list_min(list_transform(s, x -> md5('s1|' || x))) AS h1,
  list_min(list_transform(s, x -> md5('s2|' || x))) AS h2,
  list_min(list_transform(s, x -> md5('s3|' || x))) AS h3
FROM sh
"""


def q_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 80)
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(T.shingles("text", 3)).alias("sh"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.crossJoin(b)
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.5)
    )


SQL_JACCARD_PAIRS = """
WITH sh AS (
  SELECT doc_id AS id,
    list_distinct(CASE WHEN len(t) >= 3
         THEN list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' '))
         ELSE [array_to_string(t, ' ')] END) AS s
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
        FROM documents WHERE doc_id < 80)
)
SELECT a.id AS id_a, b.id AS id_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
FROM sh a, sh b
WHERE a.id < b.id
  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
"""


def q_lsh_near_dup(spark, sf_dir):
    """END-TO-END near-duplicate detection, fully oracled: md5-minhash
    signatures (8 slots) → 4-band LSH bucket join → exact n-gram
    Jaccard verify (≥ 0.5 after 6dp rounding).  The md5 variant is
    deterministic and DuckDB-replicable, so signatures, banding, the
    candidate join AND the verify step are all hash-checked; the
    xxhash64 scale path (operators/dedup.py:lsh_candidate_pairs) has
    the identical shape with a JVM-intrinsic hash.  Training-data op
    beyond hotosm reference scope (brief requirement)."""
    docs = _t(spark, sf_dir, "documents")
    # r6: signatures via the explode → groupBy-min table form — the
    # per-row minhash_signature_md5 Column evaluates 8 interpreted
    # higher-order transforms per doc (~13 µs/md5); the table form
    # runs the same md5s inside codegen'd hash aggregation (identical
    # values — see minhash_signature_md5_table)
    sig = D.minhash_signature_md5_table(docs, n_hashes=8, shingle_n=3)
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.try_element_at("g", F.lit(2 * b + 1)),
                        F.try_element_at("g", F.lit(2 * b + 2)),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bucket"),
    )
    # ids ONLY through the band self-join (the widest shuffle carries
    # one short row per (doc, band)); shingle arrays join back onto the
    # deduped candidate pairs afterwards — the operators/dedup.py
    # jaccard_verify shape.  The banded table is repartitioned on the
    # join key first so the signature pipeline sits below ONE exchange
    # both self-join sides reuse (see lsh_candidate_pairs) instead of
    # being computed per side.
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    banded = banded.repartition(nparts, "bucket")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(T.shingles("text", 3)).alias("sh"),
    )
    return (
        pairs.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
    )


_LSH_CTE_BODY = """toks AS (
  SELECT doc_id,
    CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS t
  FROM documents
), sh AS (
  SELECT doc_id,
    CASE WHEN len(t) >= 3
         THEN list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2], ' '))
         ELSE [array_to_string(t, ' ')] END AS s
  FROM toks
), sig AS (
  SELECT doc_id, list_distinct(s) AS shd,
    [list_min(list_transform(s, x -> md5('s0|' || x))),
     list_min(list_transform(s, x -> md5('s1|' || x))),
     list_min(list_transform(s, x -> md5('s2|' || x))),
     list_min(list_transform(s, x -> md5('s3|' || x))),
     list_min(list_transform(s, x -> md5('s4|' || x))),
     list_min(list_transform(s, x -> md5('s5|' || x))),
     list_min(list_transform(s, x -> md5('s6|' || x))),
     list_min(list_transform(s, x -> md5('s7|' || x)))] AS g
  FROM sh
), banded AS (
  SELECT doc_id, unnest([
     '0|' || g[1] || '|' || g[2],
     '1|' || g[3] || '|' || g[4],
     '2|' || g[5] || '|' || g[6],
     '3|' || g[7] || '|' || g[8]]) AS bucket
  FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b USING (bucket)
  WHERE a.doc_id < b.doc_id
), verified AS (
  SELECT id_a, id_b,
    round(CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.shd, sb.shd))), 6) AS jaccard
  FROM pairs
  JOIN sig sa ON sa.doc_id = id_a
  JOIN sig sb ON sb.doc_id = id_b
  WHERE round(CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.shd, sb.shd))), 6) >= 0.5
)"""

SQL_LSH_NEAR_DUP = (
    "WITH " + _LSH_CTE_BODY + "\nSELECT id_a, id_b, jaccard FROM verified"
)


def q_near_dup_components(spark, sf_dir):
    """Duplicate CLUSTERING: connected components over the verified
    near-dup pair graph, oracled via DuckDB's WITH RECURSIVE
    transitive closure.  Runs the LARGE-STAR/SMALL-STAR algorithm
    (operators/dedup.py:connected_components_star, Kiveris et al.
    2014) — O(log n) rounds independent of component diameter, the
    form that survives super-node boilerplate clusters at 100 TB; the
    simpler min-label propagation variant remains available and is
    equivalence-tested in tests/test_text_dedup.py.  component = min
    doc_id reachable, i.e. the canonical survivor of each cluster."""
    pairs = q_lsh_near_dup(spark, sf_dir)
    comp = D.connected_components_star(pairs)
    return comp.select(
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    )


SQL_NEAR_DUP_COMPONENTS = (
    "WITH RECURSIVE " + _LSH_CTE_BODY + """,
edges AS (
  SELECT id_a AS a, id_b AS b FROM verified
  UNION
  SELECT id_b, id_a FROM verified
), reach(src, dst) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT CAST(src AS BIGINT) AS doc_id, CAST(MIN(dst) AS BIGINT) AS component
FROM reach GROUP BY src"""
)


_SIMHASH_HEX_HI = ("8", "9", "a", "b", "c", "d", "e", "f")


def _simhash_md5_table(docs, n_bits, out):
    """(doc_id, <out>) — an n_bits-wide SimHash with md5-derived bits
    (oracle-parity variant of operators/dedup.py:simhash_col, which
    uses xxhash64 at scale): bit j of doc = majority vote over tokens
    of the top bit of md5(token)'s j-th hex digit (digit ≥ '8'),
    weighted by token frequency; strictly-greater majority, so a tie
    gives 0.  n_bits ≤ 32 (md5 has 32 hex digits).

    Computed by explode → groupBy conditional-count aggregation: one
    md5 per token inside codegen (a per-row form would evaluate md5
    INSIDE each of n_bits interpreted `filter` lambdas).  Zero-token
    docs survive via explode_outer (NULL token → zero counts →
    simhash 0)."""
    toks = docs.select("doc_id", F.explode_outer(T.tokens("text")).alias("t"))
    md5 = F.md5("t")
    g = toks.groupBy("doc_id").agg(
        F.count("t").alias("n"),
        *[
            F.count(
                F.when(F.substring(md5, j + 1, 1).isin(*_SIMHASH_HEX_HI), True)
            ).alias("c%d" % j)
            for j in range(n_bits)
        ],
    )
    sim = F.lit(0)
    for j in range(n_bits):
        sim = sim + F.when(
            F.col("c%d" % j) * 2 > F.col("n"), F.lit(1 << j)
        ).otherwise(F.lit(0))
    return g.select("doc_id", sim.cast("bigint").alias(out))


def q_doc_simhash16(spark, sf_dir):
    return _simhash_md5_table(
        _t(spark, sf_dir, "documents"), 16, "simhash16"
    )


def _sql_simhash_cte(n_bits=16, alias="simhash16"):
    return (
        "toks AS (SELECT doc_id, CASE WHEN trim(lower(text)) = ''"
        " THEN CAST([] AS VARCHAR[])"
        " ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS t"
        " FROM documents),\n"
        "sh AS (SELECT doc_id, CAST(("
        + " + ".join(
            "CASE WHEN 2 * len(list_filter(t, x -> substring(md5(x), %d, 1) IN "
            "('8','9','a','b','c','d','e','f'))) > len(t) THEN %d ELSE 0 END"
            % (j + 1, 1 << j)
            for j in range(n_bits)
        )
        + ") AS BIGINT) AS %s FROM toks)" % alias
    )


SQL_DOC_SIMHASH16 = (
    "WITH " + _sql_simhash_cte(16) + "\nSELECT doc_id, simhash16 FROM sh"
)


def q_simhash_dup_pairs(spark, sf_dir):
    """SimHash near-dup candidates via the PIGEONHOLE block join, with
    a brute-force O(n²) oracle proving the join is EXACT: any pair
    within hamming distance 3 of a 32-bit simhash must agree on at
    least one of 4 disjoint 8-bit blocks, so block-bucket candidates +
    a hamming filter return exactly the brute-force result — the scale
    shape (operators/dedup.py:simhash_near_dup_pairs) with zero recall
    loss."""
    # r6: table-form simhash (one md5 per token, codegen'd counts —
    # see _simhash_md5_table) and the blocks table repartitioned on
    # the join key so the self-join's two sides reuse ONE simhash
    # computation (exchange-reuse pattern, see lsh_candidate_pairs)
    docs = _simhash_md5_table(_t(spark, sf_dir, "documents"), 32, "sh")
    blocks = docs.select(
        "doc_id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sh"), 8 * b).bitwiseAND(F.lit(255))
                    for b in range(4)
                ]
            )
        ).alias("blk", "val"),
    )
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    blocks = blocks.repartition(nparts, "blk", "val")
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(b, ["blk", "val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .dropDuplicates(["id_a", "id_b"])
    )


SQL_SIMHASH_DUP_PAIRS = (
    "WITH " + _sql_simhash_cte(32, "sh32") + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh32, b.sh32)) AS INT) AS hamming
FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.sh32, b.sh32)) <= 3"""
)


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

def q_embed_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return emb.select("vec_id", "label", F.round(norm, 6).alias("l2_norm"))


SQL_EMBED_NORMS = """
SELECT vec_id, label,
       round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 6) AS l2_norm
FROM embeddings
"""


def q_embed_knn_top1(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 30)
    top = brute_force_topk(emb, queries, k=1)
    return top.select(
        "query_id",
        F.col("vec_id").alias("nn_id"),
        F.round("cosine", 6).alias("cosine"),
    )


SQL_EMBED_KNN_TOP1 = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, t.vec_id AS nn_id,
         list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * t.e[i]))
           / (sqrt(list_sum(list_transform(q.e, x -> x*x)))
              * sqrt(list_sum(list_transform(t.e, x -> x*x)))) AS cos_raw
  FROM v q, v t
  WHERE q.vec_id < 30 AND q.vec_id <> t.vec_id
)
SELECT query_id, nn_id, round(cos_raw, 6) AS cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, nn_id) AS rn
  FROM scored
) WHERE rn = 1
"""


def q_embed_ivf_topk(spark, sf_dir):
    """IVF ANN driven through the driver gate (VERDICT r2 next #4):
    with n_probe = n_lists every query probes EVERY inverted list, so
    the candidate set is the whole table and IVF provably equals brute
    force — yet the full machinery still executes (sample k-means fit,
    per-vector list assignment, the probe join keyed on list_id).  The
    DuckDB oracle is the brute-force top-3; equality proves the
    banding/probe plumbing loses nothing.  Recall at n_probe < n_lists
    is bounded separately in tests/test_similarity.py."""
    from ..operators.similarity import IVFIndex

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    n_lists = 8
    index = IVFIndex.fit(emb, n_lists=n_lists, sample_rows=2000)
    indexed = index.assign_lists(emb)
    queries = emb.where(F.col("vec_id") < 30)
    top = index.topk(indexed, queries, k=3, n_probe=n_lists)
    return top.select(
        "query_id",
        F.col("vec_id").alias("nn_id"),
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_EMBED_IVF_TOPK = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, t.vec_id AS nn_id,
         list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * t.e[i]))
           / (sqrt(list_sum(list_transform(q.e, x -> x*x)))
              * sqrt(list_sum(list_transform(t.e, x -> x*x)))) AS cos_raw
  FROM v q, v t
  WHERE q.vec_id < 30 AND q.vec_id <> t.vec_id
)
SELECT query_id, nn_id, round(cos_raw, 6) AS cosine, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, nn_id) AS rn
  FROM scored
) WHERE rn <= 3
"""


_SQL_RADEMACHER_SIGN = (
    "(CASE WHEN ((1103515245*(j*97 + (d-1)) + 12345) >> 8) & 1 = 1"
    " THEN 1.0 ELSE -1.0 END)"
)

_SQL_HYPERPLANE_SK_CTE = f"""v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), sk AS (
  SELECT vec_id, e,
    CAST(list_sum(list_transform(generate_series(0,7), j ->
      CASE WHEN list_sum(list_transform(generate_series(1,64),
                 d -> e[d] * {_SQL_RADEMACHER_SIGN})) > 0
           THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS sk
  FROM v
)"""


def q_embed_hyperplane_sketch(spark, sf_dir):
    """Random-hyperplane (Rademacher) sign sketch, pure Column math —
    the embedding-LSH bucketing stage, every one of the 8×64 plane
    dot-product SIGNS hash-checked against DuckDB (previously the
    embedding near-dup family was pytest-only: VERDICT r2 coverage
    table).  Deterministic ±1 planes make the sketch replicable in
    SQL; dots accumulate in matching order so signs are bit-exact."""
    from ..operators.dedup import rademacher_sketch_col

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return emb.select(
        "vec_id", rademacher_sketch_col("embedding", dim=64).alias("sk")
    )


SQL_EMBED_HYPERPLANE_SKETCH = (
    "WITH " + _SQL_HYPERPLANE_SK_CTE + "\nSELECT vec_id, sk FROM sk"
)


def q_embed_hyperplane_dups(spark, sf_dir):
    """END-TO-END embedding near-dup: Column Rademacher sketch →
    multi-probe bucket join (exact sketch + every single-bit flip) →
    exact-cosine verify.  Fully JVM-side (no Python crossing) and
    fully oracled — candidate generation AND verification both
    hash-checked.  Threshold 0.40 because the synthetic embeddings top
    out at cosine 0.51; the machinery under test is identical at any
    threshold."""
    from ..operators.dedup import embedding_near_dup_pairs_col

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pairs = embedding_near_dup_pairs_col(emb, dim=64, threshold=0.40)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


SQL_EMBED_HYPERPLANE_DUPS = (
    "WITH "
    + _SQL_HYPERPLANE_SK_CTE
    + """,
probes AS (
  SELECT vec_id, e,
    unnest(list_concat([sk],
      list_transform(generate_series(0,7), j -> xor(sk, 1::BIGINT << j)))) AS bucket
  FROM sk
), scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(generate_series(1,64), i -> a.e[i] * b.e[i]))
      / (sqrt(list_sum(list_transform(a.e, x -> x*x)))
         * sqrt(list_sum(list_transform(b.e, x -> x*x)))) AS cos_raw
  FROM probes a
  JOIN (SELECT vec_id, e, sk AS bucket FROM sk) b USING (bucket)
  WHERE a.vec_id < b.vec_id
)
SELECT DISTINCT id_a, id_b, round(cos_raw, 6) AS cosine
FROM scored WHERE cos_raw >= 0.40"""
)


def q_embed_label_centroids(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("mean_v"))
    )


SQL_EMBED_LABEL_CENTROIDS = """
SELECT label, i - 1 AS dim, round(avg(embedding[i]::DOUBLE), 6) AS mean_v
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
GROUP BY label, i - 1
"""


# ---------------------------------------------------------------------------
# events: windows / sessionization
# ---------------------------------------------------------------------------

def q_events_by_type(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
    )


SQL_EVENTS_BY_TYPE = """
SELECT event_type, COUNT(*) AS n, round(SUM(value), 4) AS total_value
FROM events GROUP BY event_type
"""


def q_events_hourly(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )


SQL_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def q_events_user_top3(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("user_id", "rank", "event_id", F.round("value", 6).alias("value"))
    )


SQL_EVENTS_USER_TOP3 = """
SELECT user_id, rank, event_id, round(value, 6) AS value FROM (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
  FROM events WHERE user_id < 50
) WHERE rank <= 3
"""


def q_events_sessionize(spark, sf_dir):
    """Sessions = gaps > 30 min between a user's consecutive events."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = epoch - F.lag(epoch).over(w)
    starts = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("s", starts)
        .groupBy("user_id")
        .agg(F.sum("s").alias("n_sessions"), F.count("*").alias("n_events"))
    )


SQL_EVENTS_SESSIONIZE = """
SELECT user_id, CAST(SUM(s) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS s
  FROM events WHERE user_id < 100
) GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# TPC-H-ish relational coverage (scan/filter/join/agg/window)
# ---------------------------------------------------------------------------

def q_events_asof_view(spark, sf_dir):
    """As-of join (operators/asof.py): every click event gets the most
    recent view event at-or-before it for the same user — one key
    shuffle + window, no range-join explosion.  Oracle: DuckDB's native
    ASOF LEFT JOIN."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    j = asof_join(clicks, views, on="user_id", right_cols=["event_id", "value"])
    return j.select(
        "event_id",
        "user_id",
        F.col("event_id_r").alias("view_event_id"),
        F.round("value_r", 6).alias("view_value"),
    )


SQL_EVENTS_ASOF_VIEW = """
SELECT c.event_id, c.user_id,
       v.event_id AS view_event_id,
       round(v.value, 6) AS view_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id AND c.ts >= v.ts
"""


def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       round(SUM(l_extendedprice), 2) AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name, round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_top_supplier_per_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"))
    )
    w = Window.partitionBy("s_nationkey").orderBy(F.col("r").desc(), F.col("s_suppkey").asc())
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("s_nationkey", "s_suppkey", F.round("r", 2).alias("revenue"))
    )


SQL_TOP_SUPPLIER_PER_NATION = """
SELECT s_nationkey, s_suppkey, round(r, 2) AS revenue FROM (
  SELECT s_nationkey, s_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS r,
         ROW_NUMBER() OVER (PARTITION BY s_nationkey
                            ORDER BY SUM(l_extendedprice * (1 - l_discount)) DESC, s_suppkey) AS rk
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, s_suppkey
) WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# spatial: cell/tile assignment, PIP, kNN (oracle-checkable)
# ---------------------------------------------------------------------------

def _customer_points(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        "c_custkey",
        (((k * 7) % 3600) / 10.0 - 180.0 + 0.05).alias("lon"),
        (((k * 13) % 1600) / 10.0 - 80.0 + 0.05).alias("lat"),
    )


def q_cell_assign(spark, sf_dir):
    """Quadkey cell assignment at z=8 via the numpy codec UDF,
    decoded back to (z,x,y) with the JVM bit-math decoder."""
    from ..functions.cells import cell_udf
    from ..operators.tiles import decode_cell_cols

    pts = _customer_points(spark, sf_dir)
    return (
        pts.withColumn("cell", cell_udf(8)("lon", "lat"))
        .select("c_custkey", decode_cell_cols("cell"))
        .select("c_custkey", "c.x", "c.y")
        .withColumnRenamed("x", "tile_x")
        .withColumnRenamed("y", "tile_y")
    )


SQL_CELL_ASSIGN = """
WITH pts AS (
  SELECT c_custkey,
         (((c_custkey * 7) % 3600) / 10.0 - 180.0 + 0.05) AS lon,
         (((c_custkey * 13) % 1600) / 10.0 - 80.0 + 0.05) AS lat
  FROM customer
)
SELECT c_custkey,
       CAST(floor((lon + 180.0) / 360.0 * 256) AS BIGINT) AS tile_x,
       CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat))) / pi()) / 2.0 * 256) AS BIGINT) AS tile_y
FROM pts
"""


def q_tile_counts_z8(spark, sf_dir):
    # r6 note: an A/B swapping the numpy cell_udf for the JVM Column
    # bit-math encoder (bit-identical on every point tried) measured
    # the UDF variant FASTER (min 0.456 vs 0.536 s interleaved): the
    # vectorized numpy mercator beats per-row codegen'd trig even
    # after paying the Python stage. Kept as-is (OPTIMIZATION_r06.md).
    from ..functions.cells import cell_udf
    from ..operators.tiles import decode_cell_cols

    pts = _customer_points(spark, sf_dir)
    return (
        pts.withColumn("cell", cell_udf(8)("lon", "lat"))
        .groupBy("cell")
        .agg(F.count("*").alias("n_points"))
        .select(decode_cell_cols("cell"), "n_points")
        .select(F.col("c.x").alias("tile_x"), F.col("c.y").alias("tile_y"), "n_points")
    )


SQL_TILE_COUNTS_Z8 = """
WITH pts AS (
  SELECT (((c_custkey * 7) % 3600) / 10.0 - 180.0 + 0.05) AS lon,
         (((c_custkey * 13) % 1600) / 10.0 - 80.0 + 0.05) AS lat
  FROM customer
)
SELECT CAST(floor((lon + 180.0) / 360.0 * 256) AS BIGINT) AS tile_x,
       CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat))) / pi()) / 2.0 * 256) AS BIGINT) AS tile_y,
       COUNT(*) AS n_points
FROM pts GROUP BY 1, 2
"""

# strictly-inside test against a fixed triangle (convex → 3 half-plane signs)
_TRI = [(-120.0, -60.0), (100.0, -20.0), (0.0, 70.0)]


def q_pip_triangle(spark, sf_dir):
    """Point-in-polygon via the engine's vectorized numpy ray-cast
    kernel, oracled by SQL half-plane sign tests (convex AOI)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..functions.geomkernel import points_in_rings

    tri = _TRI

    @pandas_udf("boolean")
    def pip(lon: pd.Series, lat: pd.Series) -> pd.Series:
        pts = np.stack([lon.to_numpy(np.float64), lat.to_numpy(np.float64)], axis=1)
        return pd.Series(points_in_rings(pts, [np.array(tri)]))

    pts = _customer_points(spark, sf_dir)
    return pts.where(pip("lon", "lat")).select("c_custkey")


SQL_PIP_TRIANGLE = """
WITH pts AS (
  SELECT c_custkey,
         (((c_custkey * 7) % 3600) / 10.0 - 180.0 + 0.05) AS x,
         (((c_custkey * 13) % 1600) / 10.0 - 80.0 + 0.05) AS y
  FROM customer
)
SELECT c_custkey FROM pts
WHERE ((100.0 - (-120.0)) * (y - (-60.0)) - (-20.0 - (-60.0)) * (x - (-120.0))) > 0
  AND ((0.0 - 100.0) * (y - (-20.0)) - (70.0 - (-20.0)) * (x - 100.0)) > 0
  AND ((-120.0 - 0.0) * (y - 70.0) - (-60.0 - 70.0) * (x - 0.0)) > 0
"""

HAVERSINE_SQL = (
    "2.0 * 6371008.8 * asin(sqrt(least(1.0, "
    "pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
    "cos(radians({lat1})) * cos(radians({lat2})) * "
    "pow(sin((radians({lon2}) - radians({lon1})) / 2), 2))))"
)


def q_haversine_nn(spark, sf_dir):
    """Brute-force nearest customer (by haversine) for custkey < 30
    among custkey < 400 — the exact baseline the cell-join kNN must
    reproduce."""
    pts = _customer_points(spark, sf_dir).where(F.col("c_custkey") < 400)
    a, b = pts.alias("a"), pts.alias("b")
    d = haversine_col(F.col("a.lon"), F.col("a.lat"), F.col("b.lon"), F.col("b.lat"))
    pairs = (
        a.crossJoin(b)
        .where(F.col("a.c_custkey") != F.col("b.c_custkey"))
        .where(F.col("a.c_custkey") < 30)
        .select(
            F.col("a.c_custkey").alias("id"),
            F.col("b.c_custkey").alias("nn_id"),
            d.alias("d"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("d").asc(), F.col("nn_id").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("id", "nn_id", F.round(F.col("d") / 1000.0, 3).alias("dist_km"))
    )


_HAV = HAVERSINE_SQL.format(lon1="a.lon", lat1="a.lat", lon2="b.lon", lat2="b.lat")
SQL_HAVERSINE_NN = """
WITH pts AS (
  SELECT c_custkey,
         (((c_custkey * 7) % 3600) / 10.0 - 180.0 + 0.05) AS lon,
         (((c_custkey * 13) % 1600) / 10.0 - 80.0 + 0.05) AS lat
  FROM customer WHERE c_custkey < 400
)
SELECT id, nn_id, round(d / 1000.0, 3) AS dist_km FROM (
  SELECT a.c_custkey AS id, b.c_custkey AS nn_id,
         {hav} AS d,
         ROW_NUMBER() OVER (PARTITION BY a.c_custkey ORDER BY {hav} ASC, b.c_custkey) AS rk
  FROM pts a, pts b
  WHERE a.c_custkey <> b.c_custkey AND a.c_custkey < 30
) WHERE rk = 1
""".format(hav=_HAV)


def q_knn_cell_join(spark, sf_dir):
    """The SAME nearest-neighbor result as q_haversine_nn, produced by
    the scale-path cell-join kNN operator (zoom 3: cell ≫ NN distance)
    — the oracle is identical SQL, so the gate proves the cell join
    loses nothing."""
    pts = _customer_points(spark, sf_dir).where(F.col("c_custkey") < 400)
    nn = knn_join(pts, k=1, zoom=3, id_col="c_custkey")
    return (
        nn.where(F.col("id") < 30)
        .select(
            "id",
            F.col("neighbor_id").alias("nn_id"),
            F.round(F.col("dist_m") / 1000.0, 3).alias("dist_km"),
        )
    )


SQL_KNN_CELL_JOIN = SQL_HAVERSINE_NN


# ---------------------------------------------------------------------------
# OSM engine: encode→decode→assemble round-trip with a relational oracle
# ---------------------------------------------------------------------------

def q_osm_way_assembly(spark, sf_dir):
    """Build an interleaved documents table FROM lineitem (way per
    order, node per part, ref order = linenumber), run the engine's
    decode + way⋈nodes assembly, and emit per-way aggregates.  The
    oracle computes the same numbers directly from lineitem — a fully
    independent check of the entire span pipeline."""
    from ..sources import decode

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    pk = F.col("l_partkey")
    nodes_src = li.select("l_partkey").distinct().select(
        "l_partkey",
        (((pk * 7) % 3600) / 10.0 - 180.0 + 0.05).alias("lon"),
        (((pk * 13) % 1600) / 10.0 - 80.0 + 0.05).alias("lat"),
    )
    node_docs = nodes_src.select(
        F.concat(F.lit("node/"), F.col("l_partkey").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("point").alias("text"),
                decode.wkb_point_encode(F.col("lon"), F.col("lat")).alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    way_docs = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list(F.struct("l_linenumber", "l_partkey"))).alias("refs"))
        .select(
            F.concat(F.lit("way/"), F.col("l_orderkey").cast("string")).alias("doc_id"),
            F.transform(
                "refs",
                lambda r, i: F.struct(
                    F.lit("ref").alias("kind"),
                    F.lit("").alias("text"),
                    F.concat(F.lit("node/"), r.l_partkey.cast("string")).alias("media_ref"),
                    i.cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    )
    docs = node_docs.unionByName(way_docs)
    # decoded once, as the export does: the projections then read the
    # stored rows instead of each re-running the node docs' WKB encode
    ent = decode.entities_table(decode.with_entity_meta(docs)).localCheckpoint()
    from ..operators.assemble import way_coords

    wc = way_coords(
        decode.way_refs_from_entities(ent),
        decode.nodes_from_entities(ent),
        decode.ways_from_entities(ent),
    )
    # planar path length in degrees (|dx|+|dy| per hop) — fp-stable
    seg = F.zip_with(
        F.slice("xs", 1, F.size("xs") - 1),
        F.slice("xs", 2, F.size("xs") - 1),
        lambda a, b: F.abs(b - a),
    )
    segy = F.zip_with(
        F.slice("ys", 1, F.size("ys") - 1),
        F.slice("ys", 2, F.size("ys") - 1),
        lambda a, b: F.abs(b - a),
    )
    return wc.select(
        F.col("way_id").alias("order_id"),
        F.size("xs").alias("n_points"),
        F.round(F.try_element_at("xs", F.lit(1)), 6).alias("first_lon"),
        F.round(F.try_element_at("ys", F.lit(-1)), 6).alias("last_lat"),
        F.round(
            F.aggregate(seg, F.lit(0.0), lambda a, v: a + v)
            + F.aggregate(segy, F.lit(0.0), lambda a, v: a + v),
            6,
        ).alias("path_len"),
    )


SQL_OSM_WAY_ASSEMBLY = """
WITH refs AS (
  SELECT l_orderkey,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey
                            ORDER BY l_linenumber, l_partkey) AS rn,
         (((l_partkey * 7) % 3600) / 10.0 - 180.0 + 0.05) AS lon,
         (((l_partkey * 13) % 1600) / 10.0 - 80.0 + 0.05) AS lat
  FROM lineitem WHERE l_orderkey < 2000
), hops AS (
  SELECT l_orderkey, rn, lon, lat,
         abs(lon - LAG(lon) OVER w) + abs(lat - LAG(lat) OVER w) AS hop
  FROM refs
  WINDOW w AS (PARTITION BY l_orderkey ORDER BY rn)
)
SELECT l_orderkey AS order_id,
       COUNT(*) AS n_points,
       round(arg_min(lon, rn), 6) AS first_lon,
       round(arg_max(lat, rn), 6) AS last_lat,
       round(COALESCE(SUM(hop), 0.0), 6) AS path_len
FROM hops GROUP BY l_orderkey
"""


def q_osm_relation_assembly(spark, sf_dir):
    """Drive the relation→multipolygon assembler through the driver
    gate (VERDICT r2 next #3): segment chaining, REVERSED member
    segments, blank-role=outer, and hole-to-outer assignment
    (operators/assemble.py:_chain_rings/_assemble_group; reference
    osmium area semantics, tabular.py:313-339).

    Relations are synthesized FROM lineitem groups so DuckDB can
    derive every output in closed form: order k with n lineitems
    becomes a rectangle (width n×0.01, height 0.02) whose bottom edge
    is split into n member ways (one per lineitem, every 2nd REVERSED,
    role blank ⇒ outer) plus one 'outer' cap way closing the other
    three sides; every 3rd relation adds a closed 'inner' way punching
    a 0.004×0.004 hole.  The assembled multipolygon therefore has
    closed-form ring/part/vertex counts and area, checked per relation:
    rings chain ⇔ counts match, hole lands ⇔ area subtracts."""
    from ..operators.assemble import relation_polygon_features, way_coords
    from ..sources import decode

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 1500)
    g = li.groupBy("l_orderkey").agg(F.count("*").cast("int").alias("n"))
    k = F.col("l_orderkey")
    n = F.col("n")
    x0 = ((k * 7) % 3000) / 10.0 - 150.0
    y0 = ((k * 13) % 1500) / 10.0 - 70.0
    W1, H = 0.01, 0.02
    has_hole = (k % 3) == 0

    def nstruct(nid, lon, lat):
        return F.struct(
            nid.cast("long").alias("nid"), lon.alias("lon"), lat.alias("lat")
        )

    bottom_nodes = F.transform(
        F.sequence(F.lit(0), n), lambda i: nstruct(k * 100 + i, x0 + i * W1, y0 + F.lit(0.0))
    )
    top_nodes = F.array(
        nstruct(k * 100 + 90, x0 + n * W1, y0 + H),
        nstruct(k * 100 + 91, x0 + F.lit(0.0), y0 + H),
    )
    hole_nodes = F.array(
        nstruct(k * 100 + 50, x0 + 0.003, y0 + 0.003),
        nstruct(k * 100 + 51, x0 + 0.007, y0 + 0.003),
        nstruct(k * 100 + 52, x0 + 0.007, y0 + 0.007),
        nstruct(k * 100 + 53, x0 + 0.003, y0 + 0.007),
    )
    all_nodes = F.concat(
        bottom_nodes,
        top_nodes,
        F.when(has_hole, hole_nodes).otherwise(F.slice(hole_nodes, 1, 0)),
    )
    node_docs = g.select(F.explode(all_nodes).alias("nd")).select(
        F.concat(F.lit("node/"), F.col("nd.nid").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("point").alias("text"),
                decode.wkb_point_encode(F.col("nd.lon"), F.col("nd.lat")).alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )

    def wstruct(wid, refs):
        return F.struct(wid.cast("long").alias("wid"), refs.alias("refs"))

    bottom_ways = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: wstruct(
            k * 1000 + i,
            # every 2nd member segment runs BACKWARDS — the chainer
            # must stitch regardless of direction
            F.when(
                i % 2 == 0,
                F.array((k * 100 + i).cast("long"), (k * 100 + i - 1).cast("long")),
            ).otherwise(
                F.array((k * 100 + i - 1).cast("long"), (k * 100 + i).cast("long"))
            ),
        ),
    )
    cap_way = wstruct(
        k * 1000 + 999,
        F.array(
            (k * 100 + n).cast("long"),
            (k * 100 + 90).cast("long"),
            (k * 100 + 91).cast("long"),
            (k * 100).cast("long"),
        ),
    )
    hole_way = wstruct(
        k * 1000 + 998,
        F.array(
            *[(k * 100 + j).cast("long") for j in (50, 51, 52, 53, 50)]
        ),
    )
    all_ways = F.concat(
        bottom_ways,
        F.array(cap_way),
        F.when(has_hole, F.array(hole_way)).otherwise(F.slice(F.array(hole_way), 1, 0)),
    )
    way_docs = g.select(F.explode(all_ways).alias("w")).select(
        F.concat(F.lit("way/"), F.col("w.wid").cast("string")).alias("doc_id"),
        F.transform(
            F.col("w.refs"),
            lambda r, i: F.struct(
                F.lit("ref").alias("kind"),
                F.lit("").alias("text"),
                F.concat(F.lit("node/"), r.cast("string")).alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).alias("spans"),
    )

    def mstruct(role, wid):
        return F.struct(F.lit(role).alias("role"), wid.cast("long").alias("wid"))

    members = F.concat(
        F.transform(F.sequence(F.lit(1), n), lambda i: mstruct("", k * 1000 + i)),
        F.array(mstruct("outer", k * 1000 + 999)),
        F.when(has_hole, F.array(mstruct("inner", k * 1000 + 998))).otherwise(
            F.slice(F.array(mstruct("inner", k * 1000 + 998)), 1, 0)
        ),
    )
    tag_spans = F.array(
        F.struct(
            F.lit("tag").alias("kind"),
            F.lit("type=multipolygon").alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
        F.struct(
            F.lit("tag").alias("kind"),
            F.concat(F.lit("name=r"), k.cast("string")).alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(1).alias("offset"),
        ),
    )
    rel_docs = g.select(
        F.concat(F.lit("rel/"), k.cast("string")).alias("doc_id"),
        F.concat(
            tag_spans,
            F.transform(
                members,
                lambda m, i: F.struct(
                    F.lit("member").alias("kind"),
                    m.getField("role").alias("text"),
                    F.concat(F.lit("way/"), m.getField("wid").cast("string")).alias("media_ref"),
                    (i + 2).cast("int").alias("offset"),
                ),
            ),
        ).alias("spans"),
    )

    docs = node_docs.unionByName(way_docs).unionByName(rel_docs)
    ent = decode.entities_table(decode.with_entity_meta(docs)).localCheckpoint()
    wc = way_coords(
        decode.way_refs_from_entities(ent),
        decode.nodes_from_entities(ent),
        decode.ways_from_entities(ent),
    )
    feats = relation_polygon_features(decode.rel_members_from_entities(ent), wc)

    # net covered area via hole-signed shoelace, all in Column math:
    # ring ri is an OUTER iff its index appears in part_offsets
    ro, po = F.col("ring_offsets"), F.col("part_offsets")

    def ring_signed_area(ri):
        start = F.element_at(ro, ri + 1)
        length = F.element_at(ro, ri + 2) - start
        xs_r = F.slice("xs", start + 1, length)
        ys_r = F.slice("ys", start + 1, length)
        cross = F.transform(
            F.sequence(F.lit(1), length - 1),
            lambda j: F.element_at(xs_r, j) * F.element_at(ys_r, j + 1)
            - F.element_at(xs_r, j + 1) * F.element_at(ys_r, j),
        )
        mag = F.abs(F.aggregate(cross, F.lit(0.0), lambda a, v: a + v)) / 2.0
        return F.when(F.array_contains(po, ri), mag).otherwise(-mag)

    area = F.aggregate(
        F.transform(F.sequence(F.lit(0), F.size(ro) - 2), ring_signed_area),
        F.lit(0.0),
        lambda a, v: a + v,
    )

    return feats.select(
        "osm_id",
        (F.size(po) - 1).cast("long").alias("n_parts"),
        (F.size(ro) - 1).cast("long").alias("n_rings"),
        F.size("xs").cast("long").alias("n_points"),
        F.round(area, 6).alias("area"),
        F.round(F.array_min("xs"), 6).alias("xmin"),
        F.round(F.array_max("ys"), 6).alias("ymax"),
    )


SQL_OSM_RELATION_ASSEMBLY = """
WITH g AS (
  SELECT l_orderkey AS k, COUNT(*) AS n
  FROM lineitem WHERE l_orderkey < 1500 GROUP BY l_orderkey
)
SELECT CAST(-k AS BIGINT) AS osm_id,
       CAST(1 AS BIGINT) AS n_parts,
       CAST(CASE WHEN k % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_rings,
       CAST(n + 4 + CASE WHEN k % 3 = 0 THEN 5 ELSE 0 END AS BIGINT) AS n_points,
       round(n * 2e-4 - CASE WHEN k % 3 = 0 THEN 1.6e-5 ELSE 0.0 END, 6) AS area,
       round(((k * 7) % 3000) / 10.0 - 150.0, 6) AS xmin,
       round(((k * 13) % 1500) / 10.0 - 70.0 + 0.02, 6) AS ymax
FROM g
"""


def q_osm_theme_match(spark, sf_dir):
    """Tag-filter DSL compiled to Catalyst over a tags map derived from
    the part table; the oracle replicates the DSL's exact semantics in
    plain SQL (keys always present here, so no absent-key traps)."""
    part = _t(spark, sf_dir, "part")
    tags = F.map_from_arrays(
        F.array(F.lit("brand"), F.lit("type"), F.lit("size")),
        F.array(F.col("p_brand"), F.col("p_type"), F.col("p_size").cast("string")),
    )
    # note: size >= '25' is LEXICOGRAPHIC on the stringified int — the
    # reference's documented trap (sql.py:91-97); the oracle casts too
    m = Matcher.from_sql("brand = 'Brand#13' OR type > 'STANDARD' AND size >= 25")
    return (
        part.withColumn("tags", tags)
        .where(compile_matcher(m))
        .select("p_partkey", "p_brand", "p_type")
    )


SQL_OSM_THEME_MATCH = """
SELECT p_partkey, p_brand, p_type FROM part
WHERE p_brand = 'Brand#13'
   OR (p_type > 'STANDARD' AND CAST(p_size AS VARCHAR) >= '25')
"""


def q_osm_span_roundtrip(spark, sf_dir):
    """Span-sequence equality invariant as a HARD oracle: returns the
    doc_ids whose decode→re-encode differs — must be EMPTY (oracle:
    empty set)."""
    from ..sources import decode, synth

    docs = synth.synthesize(spark, n_nodes=800, n_ways=200, n_rels=20)
    cmp = decode.reencode_spans(decode.with_entity_meta(docs))
    return cmp.where(F.col("original") != F.col("rebuilt")).select("doc_id")


SQL_OSM_SPAN_ROUNDTRIP = "SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents WHERE FALSE"


# ---------------------------------------------------------------------------
# OSM engine: end-to-end pipelines over oracle-visible inputs.  The
# q_osm_way_assembly pattern generalized: documents are built FROM
# relational tables (lineitem/customer) with pure Column ops, the REAL
# engine pipeline (decode → assembly → themes / tiles) runs on them,
# and DuckDB recomputes the expected outputs directly from the tables.
# ---------------------------------------------------------------------------

_EMPTY_SPANS = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"


def _tag_span(text_col, offset_col):
    return F.struct(
        F.lit("tag").alias("kind"),
        text_col.alias("text"),
        F.lit("").alias("media_ref"),
        offset_col.cast("int").alias("offset"),
    )


def q_osm_flagship_export(spark, sf_dir):
    """Full themed export over an interleaved documents table derived
    from lineitem: one way per order (refs = sorted distinct part keys,
    every 4th order ring-closed + building-tagged), one node per part
    key (every 7th amenity-tagged).  Runs decode → way⋈node assembly →
    closed-way polygon routing → theme fan-out, aggregated to
    per-(theme, geom_type) counts that DuckDB derives straight from
    lineitem."""
    from ..functions.mapping import Mapping
    from ..operators import assemble
    from ..operators.themes import prefilter, theme_fanout
    from ..sources import decode

    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 4000)

    pk = F.col("l_partkey")
    node_docs = li.select("l_partkey").distinct().select(
        F.concat(F.lit("node/"), pk.cast("string")).alias("doc_id"),
        F.concat(
            F.when(
                pk % 7 == 0, F.array(_tag_span(F.lit("amenity=cafe"), F.lit(0)))
            ).otherwise(F.array().cast(_EMPTY_SPANS)),
            F.array(
                F.struct(
                    F.lit("media").alias("kind"),
                    F.lit("point").alias("text"),
                    decode.wkb_point_encode(
                        ((pk * 7) % 3600) / 10.0 - 180.0 + 0.05,
                        ((pk * 13) % 1600) / 10.0 - 80.0 + 0.05,
                    ).alias("media_ref"),
                    F.when(pk % 7 == 0, F.lit(1)).otherwise(F.lit(0))
                    .cast("int")
                    .alias("offset"),
                )
            ),
        ).alias("spans"),
    )

    ways = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("refs")
    )
    r = F.col("l_orderkey") % 4
    # every 4th order is a ring: repeat the first ref last (closed way)
    refs = F.when(r == 0, F.concat("refs", F.slice("refs", 1, 1))).otherwise(
        F.col("refs")
    )
    tag_texts = (
        F.when(r == 0, F.array(F.lit("building=yes")))
        .when(r == 1, F.array(F.lit("highway=residential")))
        .when(
            r == 2,
            F.array(
                F.lit("highway=primary"),
                F.concat(F.lit("name=name "), F.col("l_orderkey").cast("string")),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    ntags = F.size(tag_texts)
    tag_spans = F.transform(tag_texts, lambda t, i: _tag_span(t, i))
    ref_spans = F.transform(
        refs,
        lambda n, i: F.struct(
            F.lit("ref").alias("kind"),
            F.lit("").alias("text"),
            F.concat(F.lit("node/"), n.cast("string")).alias("media_ref"),
            (i + ntags).cast("int").alias("offset"),
        ),
    )
    way_docs = ways.select(
        F.concat(F.lit("way/"), F.col("l_orderkey").cast("string")).alias("doc_id"),
        F.concat(tag_spans, ref_spans).alias("spans"),
    )

    docs = node_docs.unionByName(way_docs)
    mapping = Mapping(
        "buildings:\n  types: [polygons]\n  select: [building, name]\n"
        "  where: building IS NOT NULL\n"
        "roads:\n  types: [lines]\n  select: [highway, name]\n"
        "  where: highway IS NOT NULL\n"
        "pois:\n  types: [points]\n  select: [amenity]\n"
        "  where: amenity IS NOT NULL\n"
    )
    # mapping= prunes assembly to the themes' working set before the
    # way⋈node join (a strict superset of prefilter's keep-set, so the
    # DuckDB oracle gates the pruned path end-to-end)
    feats = prefilter(
        assemble.assemble_features(decode.with_entity_meta(docs), mapping=mapping),
        mapping,
    )
    return (
        theme_fanout(feats, mapping)
        .groupBy("theme", "geom_type")
        .agg(F.count("*").alias("n_features"))
    )


SQL_OSM_FLAGSHIP_EXPORT = """
WITH w AS (
  SELECT l_orderkey AS id, COUNT(DISTINCT l_partkey) AS n
  FROM lineitem WHERE l_orderkey < 4000 GROUP BY l_orderkey
), nd AS (
  SELECT DISTINCT l_partkey AS pk FROM lineitem WHERE l_orderkey < 4000
)
SELECT 'buildings' AS theme, 'polygon' AS geom_type, COUNT(*) AS n_features
FROM w WHERE id % 4 = 0 AND n >= 3
UNION ALL
SELECT 'roads', 'line', COUNT(*) FROM w WHERE id % 4 IN (1, 2)
UNION ALL
SELECT 'pois', 'point', COUNT(*) FROM nd WHERE pk % 7 = 0
"""


def q_osm_tile_table(spark, sf_dir):
    """The packed tile table (salted two-phase agg, operators/tiles.py
    tile_features) over customer-derived point features; the oracle
    recomputes each point's XYZ tile per zoom and packs ids with an
    ordered string_agg → md5 digest."""
    from ..operators.tiles import tile_features

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 2000)
    k = F.col("c_custkey")
    feats = c.select(
        k.cast("long").alias("osm_id"),
        F.lit("point").alias("geom_type"),
        F.array(((k * 7) % 3600) / 10.0 - 180.0 + 0.05).alias("xs"),
        F.array(((k * 13) % 1600) / 10.0 - 80.0 + 0.05).alias("ys"),
        F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("ring_offsets"),
    )
    tf = tile_features(feats, 2, 5)
    return tf.select(
        "z",
        "x",
        "y",
        "n_features",
        F.md5(F.concat_ws(",", F.col("osm_ids").cast("array<string>"))).alias("ids_md5"),
    )


SQL_OSM_TILE_TABLE = """
WITH pts AS (
  SELECT c_custkey AS osm_id,
         (((c_custkey * 7) % 3600) / 10.0 - 180.0 + 0.05) AS lon,
         (((c_custkey * 13) % 1600) / 10.0 - 80.0 + 0.05) AS lat
  FROM customer WHERE c_custkey < 2000
), assigned AS (
  SELECT CAST(z AS INT) AS z,
         CAST(floor((lon + 180.0) / 360.0 * pow(2.0, z)) AS BIGINT) AS x,
         CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat))) / pi())
                    / 2.0 * pow(2.0, z)) AS BIGINT) AS y,
         osm_id
  FROM pts, UNNEST(generate_series(2, 5)) t(z)
)
SELECT z, x, y, COUNT(*) AS n_features,
       md5(string_agg(CAST(osm_id AS VARCHAR), ',' ORDER BY osm_id)) AS ids_md5
FROM assigned GROUP BY z, x, y
"""


def _sm64_cols(inp, p):
    """Six chained lateral-alias SQL columns computing SplitMix64(inp)
    in DuckDB — bit-exact vs sources/synth._splitmix64 (verified over
    the full uint64 range).  The 64-bit multiply is emulated with a
    32-bit limb split so HUGEINT (int128) never overflows; xors/shifts
    run in UBIGINT."""
    M = "18446744073709551616"
    steps = [
        "(({inp}) + 11400714819323198485) % {M} AS {p}0",
        "CAST(xor(CAST({p}0 AS UBIGINT), CAST({p}0 AS UBIGINT) >> 30) AS HUGEINT) AS {p}1",
        "(((({p}1 // 4294967296) * 484763065 + ({p}1 % 4294967296) * 3210233709)"
        " % 4294967296) * 4294967296 + ({p}1 % 4294967296) * 484763065) % {M} AS {p}2",
        "CAST(xor(CAST({p}2 AS UBIGINT), CAST({p}2 AS UBIGINT) >> 27) AS HUGEINT) AS {p}3",
        "(((({p}3 // 4294967296) * 321982955 + ({p}3 % 4294967296) * 2496678331)"
        " % 4294967296) * 4294967296 + ({p}3 % 4294967296) * 321982955) % {M} AS {p}4",
        "CAST(xor(CAST({p}4 AS UBIGINT), CAST({p}4 AS UBIGINT) >> 31) AS HUGEINT) AS {p}out",
    ]
    return ",\n         ".join(s.format(inp=inp, M=M, p=p) for s in steps)


def q_media_features(spark, sf_dir):
    """Multimodal plumbing with a closed-form oracle: the synthetic
    payload is SplitMix64 bytes, so DuckDB recomputes the exact byte
    sum per media row (integer — no fp fragility), plus feat_dim and
    the meta-derived tail feature (h/64 for images, n_frames for
    video; audio's tail is payload-statistical → NULL on both sides)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..operators.multimodal import extract_features, synth_media

    media = synth_media(spark, n=120)

    @pandas_udf("long")
    def psum(p: pd.Series) -> pd.Series:
        # ONE concat + ONE cumsum over the whole Arrow batch, per-item
        # sums via prefix-sum differences (the empty-segment-safe form
        # of np.add.reduceat over offsets) — no per-row Python
        bufs = p.to_numpy()
        sizes = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
        cat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
        cs = np.concatenate([[0], np.cumsum(cat, dtype=np.int64)])
        ends = np.cumsum(sizes)
        return pd.Series(cs[ends] - cs[ends - sizes])

    sums = media.select("media_id", psum("payload").alias("payload_sum"))
    return (
        extract_features(media)
        .join(sums, "media_id")
        .select(
            "media_id",
            "kind",
            "feat_dim",
            "payload_sum",
            F.when(
                F.col("kind") != "audio",
                F.try_element_at("feat", F.lit(-1)).cast("double"),
            ).alias("tail_feat"),
        )
    )


SQL_MEDIA_FEATURES = (
    """
WITH m AS (
  SELECT i,
         CAST(i AS HUGEINT) AS ih,
         ['image','audio','video'][CAST(i % 3 AS INT) + 1] AS kind,
         CAST(8 + i % 8 AS INT) AS w,
         CAST(8 + i % 4 AS INT) AS h
  FROM generate_series(0, 119) t(i)
), m2 AS (
  SELECT *, CASE WHEN kind = 'image' THEN w * h * 3 ELSE 256 END AS nbytes FROM m
), seeds AS (
  SELECT i, kind, w, h, nbytes,
         """
    + _sm64_cols("ih", "s")
    + """
  FROM m2
), expanded AS (
  SELECT i, sout, CAST(j AS HUGEINT) AS j
  FROM seeds, UNNEST(generate_series(0, nbytes - 1)) u(j)
), bytes AS (
  SELECT i,
         """
    + _sm64_cols("(sout + j) % 18446744073709551616", "b")
    + """,
         bout % 256 AS byte
  FROM expanded
), sums AS (
  SELECT i, CAST(SUM(byte) AS BIGINT) AS payload_sum FROM bytes GROUP BY i
)
SELECT CAST(s.i AS BIGINT) AS media_id,
       s.kind,
       CASE WHEN s.kind = 'image' THEN 5 ELSE 2 END AS feat_dim,
       su.payload_sum,
       CASE WHEN s.kind = 'image' THEN s.h / 64.0
            WHEN s.kind = 'video' THEN 16.0 END AS tail_feat
FROM seeds s JOIN sums su USING (i)
"""
)


def q_media_real_roundtrip(spark, sf_dir):
    """Real-codec integrity, oracled: synth_real_media packs SplitMix64
    pixels/samples into REAL BMP / WAV file bytes
    (operators/multimodal.py:encode_bmp/encode_wav); Spark decodes them
    back through the genuine parsers and sums the content.  DuckDB
    recomputes the same sum directly from the SplitMix64 stream — an
    integer equality that only holds if the encoders AND decoders
    round-trip every pixel/sample exactly (header layout, bottom-up
    BGR rows, row padding, chunk scan)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..operators.multimodal import (
        decode_bmp,
        synth_real_media,
        wav_content_sums_batch,
    )

    media = synth_real_media(spark, n=120)

    @pandas_udf("long")
    def dsum(payload: pd.Series, kind: pd.Series) -> pd.Series:
        kinds = kind.to_numpy()
        pays = payload.to_numpy()
        out = np.zeros(len(pays), dtype=np.int64)
        # audio: one vectorized batch pass (canonical-header WAVs sum
        # over a single concatenated int16 view); image: per-file BMP
        # dispatch stays — variable row padding defeats batching
        aud = np.nonzero(kinds != "image")[0]
        if len(aud):
            out[aud] = wav_content_sums_batch([pays[i] for i in aud])
        for i in np.nonzero(kinds == "image")[0]:
            out[i] = int(decode_bmp(bytes(pays[i])).astype(np.int64).sum())
        return pd.Series(out)

    return media.select(
        F.col("media_id").cast("bigint").alias("media_id"),
        "kind",
        dsum("payload", "kind").alias("content_sum"),
    )


SQL_MEDIA_REAL_ROUNDTRIP = (
    """
WITH m AS (
  SELECT i,
         CAST(i AS HUGEINT) AS ih,
         ['image','audio'][CAST(i % 2 AS INT) + 1] AS kind,
         CAST(8 + i % 8 AS INT) AS w,
         CAST(8 + i % 4 AS INT) AS h,
         CAST(64 + i % 64 AS INT) AS ns
  FROM generate_series(0, 119) t(i)
), m2 AS (
  SELECT *, CASE WHEN kind = 'image' THEN w * h * 3 ELSE ns END AS nvals FROM m
), seeds AS (
  SELECT i, kind, nvals,
         """
    + _sm64_cols("ih", "s")
    + """
  FROM m2
), expanded AS (
  SELECT i, kind, sout, CAST(j AS HUGEINT) AS j
  FROM seeds, UNNEST(generate_series(0, nvals - 1)) u(j)
), vals AS (
  SELECT i, kind,
         """
    + _sm64_cols("(sout + j) % 18446744073709551616", "b")
    + """,
         CASE WHEN kind = 'image' THEN bout % 256
              ELSE (bout % 65536) - 32768 END AS v
  FROM expanded
)
SELECT CAST(i AS BIGINT) AS media_id, kind,
       CAST(SUM(v) AS BIGINT) AS content_sum
FROM vals GROUP BY i, kind
"""
)




# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def q_osm_tile_bigfeature(spark, sf_dir):
    """Exact tile membership for a feature whose bbox cover (19,968
    tiles at z8) vastly exceeds the tiles its geometry crosses (283):
    the case the old bbox path silently DROPPED (capped at 256) and
    bbox cover would massively over-assign.  The supercover traversal
    (operators/tiles.py with_tile_cells_exact) emits exactly the
    crossed tiles; the oracle derives the same set in closed form —
    endpoint tiles + every lon-boundary crossing + every mercator
    lat-boundary crossing of the straight lon/lat segment.  The chord
    spans Δlon 179.5° — deliberately UNDER 180, because round 5's
    antimeridian contract interprets |Δlon| > 180 as the short arc
    across ±180 (`osm_tile_antimeridian` gates that path)."""
    from ..operators.tiles import decode_cell_cols, with_tile_cells_exact

    df = spark.createDataFrame(
        [(1, "way", "line", [-170.03, 9.5], [-75.17, 70.23], [0, 2])],
        "osm_id long, src string, geom_type string, "
        "xs array<double>, ys array<double>, ring_offsets array<int>",
    )
    out = with_tile_cells_exact(df, 8, 8)
    return out.select(decode_cell_cols("cell")).select("c.z", "c.x", "c.y")


SQL_OSM_TILE_BIGFEATURE = """
WITH ep AS (
  SELECT -170.03 AS lon0, -75.17 AS lat0, 9.5 AS lon1, 70.23 AS lat1, 256.0 AS n
), tc AS (
  SELECT *,
         (lon0 + 180.0) / 360.0 * n AS tx0,
         (lon1 + 180.0) / 360.0 * n AS tx1,
         (1.0 - ln(tan(radians(lat0)) + 1.0/cos(radians(lat0))) / pi()) / 2.0 * n AS yf0,
         (1.0 - ln(tan(radians(lat1)) + 1.0/cos(radians(lat1))) / pi()) / 2.0 * n AS yf1
  FROM ep
), endpoints AS (
  SELECT CAST(floor(tx0) AS BIGINT) AS x, CAST(floor(yf0) AS BIGINT) AS y FROM tc
  UNION ALL
  SELECT CAST(floor(tx1) AS BIGINT), CAST(floor(yf1) AS BIGINT) FROM tc
), vert AS (
  -- lon0 < lon1 so every vertical crossing enters tile x = k
  SELECT CAST(k AS BIGINT) AS x,
         CAST(floor((1.0 - ln(tan(radians(lat_at)) + 1.0/cos(radians(lat_at))) / pi()) / 2.0 * n) AS BIGINT) AS y
  FROM (
    SELECT n, lat0 + (k - tx0) / (tx1 - tx0) * (lat1 - lat0) AS lat_at, k
    FROM tc, UNNEST(generate_series(CAST(floor(tx0) AS BIGINT) + 1,
                                    CAST(floor(tx1) AS BIGINT))) t(k)
  )
), horiz AS (
  -- lat0 < lat1 so mercator y decreases: crossing boundary j enters tile y = j-1;
  -- boundary latitude = atan(sinh(pi*(1-2j/n))) with sinh spelled via exp
  SELECT CAST(floor(tx0 + (degrees(atan((exp(pi()*(1.0 - 2.0*j/n)) - exp(-pi()*(1.0 - 2.0*j/n))) / 2.0)) - lat0)
                          / (lat1 - lat0) * (tx1 - tx0)) AS BIGINT) AS x,
         CAST(j - 1 AS BIGINT) AS y
  FROM tc, UNNEST(generate_series(CAST(floor(yf1) AS BIGINT) + 1,
                                  CAST(floor(yf0) AS BIGINT))) t(j)
)
SELECT DISTINCT 8 AS z, x, y
FROM (SELECT * FROM endpoints UNION ALL SELECT * FROM vert UNION ALL SELECT * FROM horiz)
"""


def q_osm_tile_polygon_fill(spark, sf_dir):
    """Intersection-exact tile table for a donut polygon (rect outer +
    rect hole, relation-style unclosed rings) at zooms 5-6: boundary
    tiles come from ring supercover, interior tiles from the even-odd
    scanline fill — and tiles fully inside the HOLE are absent.  The
    oracle is closed form: every tile in the outer rect's range except
    tiles strictly inside the hole."""
    from ..operators.tiles import decode_cell_cols, with_tile_cells_exact

    xs = [-30.17, 50.37, 50.37, -30.17, -10.08, 25.19, 25.19, -10.08]
    ys = [-40.23, -40.23, 45.11, 45.11, -20.13, -20.13, 30.07, 30.07]
    df = spark.createDataFrame(
        [(7, "relation", "polygon", xs, ys, [0, 4, 8])],
        "osm_id long, src string, geom_type string, "
        "xs array<double>, ys array<double>, ring_offsets array<int>",
    )
    out = with_tile_cells_exact(df, 5, 6)
    return out.select(decode_cell_cols("cell")).select("c.z", "c.x", "c.y")


SQL_OSM_TILE_POLYGON_FILL = """
WITH b AS (
  SELECT -30.17 AS ow, 50.37 AS oe, -40.23 AS os, 45.11 AS onn,
         -10.08 AS hw, 25.19 AS he, -20.13 AS hs, 30.07 AS hn
), zs AS (
  SELECT CAST(z AS INT) AS z, pow(2.0, z) AS n FROM UNNEST(generate_series(5, 6)) t(z)
), tc AS (
  SELECT z, n,
         CAST(floor((ow + 180.0)/360.0*n) AS BIGINT) AS ox0,
         CAST(floor((oe + 180.0)/360.0*n) AS BIGINT) AS ox1,
         CAST(floor((1.0 - ln(tan(radians(onn)) + 1.0/cos(radians(onn)))/pi())/2.0*n) AS BIGINT) AS oy0,
         CAST(floor((1.0 - ln(tan(radians(os)) + 1.0/cos(radians(os)))/pi())/2.0*n) AS BIGINT) AS oy1,
         (hw + 180.0)/360.0*n AS hx0, (he + 180.0)/360.0*n AS hx1,
         (1.0 - ln(tan(radians(hn)) + 1.0/cos(radians(hn)))/pi())/2.0*n AS hy0,
         (1.0 - ln(tan(radians(hs)) + 1.0/cos(radians(hs)))/pi())/2.0*n AS hy1
  FROM b, zs
)
SELECT z, x, y FROM (
  SELECT z, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, hx0, hx1, hy0, hy1
  FROM tc,
       UNNEST(generate_series(ox0, ox1)) tx(x),
       UNNEST(generate_series(oy0, oy1)) ty(y)
)
WHERE NOT (x >= ceil(hx0) AND x + 1 <= floor(hx1) AND y >= ceil(hy0) AND y + 1 <= floor(hy1))
"""


def q_minhash_xx_dedup(spark, sf_dir):
    """The xxhash64 SCALE path of LSH dedup (signature table → banded
    bucket join → jaccard verify → survivor anti-join), driver-gated
    on a corpus where recall is PROVABLY 1 for any hash family:
    members of a group share an identical shingle set (Jaccard 1.0 ⇒
    equal minhash signatures in every band ⇒ guaranteed candidates)
    and distinct groups share zero shingles (every token carries the
    group id ⇒ Jaccard 0, and any hash-collision candidate dies in the
    exact-jaccard verify).  Survivors are therefore exactly the min
    doc_id per group — closed-form window SQL."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    corpus = docs.withColumn("grp", F.expr("doc_id DIV 5")).withColumn(
        "text",
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("g"), F.col("grp").cast("string"), F.lit("w%d" % i))
                for i in range(6)
            ],
        ),
    )
    out = D.minhash_dedup(corpus, threshold=0.8, n_hashes=16, bands=4)
    return out.select("doc_id", "grp")


SQL_MINHASH_XX_DEDUP = """
WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
w AS (SELECT doc_id, grp, MIN(doc_id) OVER (PARTITION BY grp) AS mn FROM g)
SELECT doc_id, grp FROM w WHERE doc_id = mn
"""


def q_embed_ivf_probe1(spark, sf_dir):
    """IVF ANN in the PRUNING regime (n_probe=1 of 4 lists), provably
    equal to brute force: vectors are m·e_c for cluster c = key%4 and
    integer magnitude m (cosine within a cluster is exactly 1.0 in
    IEEE arithmetic — sqrt of a perfect square, x/x — and exactly 0.0
    across clusters), centroids are the 4 basis vectors, so every
    query's true top-k lives entirely in its own probed list and ties
    resolve by vec_id in both engines.  Exercises the full machinery —
    centroid assignment UDF, list_id probe join, window top-k — in the
    regime where partitions actually prune."""
    import numpy as np

    from ..operators.similarity import IVFIndex

    k = F.col("c_custkey")
    cl = (k % 4).cast("int")
    m = (k % 7 + 1).cast("double")
    vec = F.array(*[F.when(cl == i, m).otherwise(F.lit(0.0)) for i in range(4)])
    vecs = (
        _t(spark, sf_dir, "customer")
        .where(k < 256)
        .select(k.cast("long").alias("vec_id"), vec.alias("embedding"))
    )
    index = IVFIndex(np.eye(4))
    indexed = index.assign_lists(vecs)
    queries = vecs.where(F.col("vec_id") < 20)
    out = index.topk(indexed, queries, k=5, n_probe=1)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


SQL_EMBED_IVF_PROBE1 = """
WITH v AS (SELECT c_custkey AS id FROM customer WHERE c_custkey < 256),
q AS (SELECT id FROM v WHERE id < 20),
ranked AS (
  SELECT q.id AS query_id, v.id AS vec_id,
         ROW_NUMBER() OVER (PARTITION BY q.id ORDER BY v.id ASC) AS rnk
  FROM q JOIN v ON v.id % 4 = q.id % 4 AND v.id <> q.id
)
SELECT query_id, vec_id, CAST(1.0 AS DOUBLE) AS cosine, CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= 5
"""


def q_embed_pq_adc(spark, sf_dir):
    """Product-quantized ANN (IVF-PQ's storage half) in the LOSSLESS
    regime, provably equal to exact inner-product search: 8-dim
    vectors whose 2-dim subvectors draw from a ≤6-word integer
    vocabulary per subspace, codebooks = the exact vocabulary
    (PQIndex.fit_lossless), so encoding loses nothing and every ADC
    score is a small-integer dot product — exact in IEEE arithmetic
    in both engines, ties resolved by vec_id in both.  Exercises the
    full machinery: Spark-side distinct-subvector codebook build, the
    one vectorized encode crossing, the broadcast LUT join, and the
    pure-Column zip_with/aggregate ADC scoring (plan-gated JVM-only in
    tests/test_similarity.py)."""
    from ..operators.similarity import PQIndex

    k = F.col("c_custkey")
    cols = []
    for j in range(4):
        cols.append((k * (j + 1) % 3).cast("double"))
        cols.append(((k + j) % 2).cast("double"))
    vecs = (
        _t(spark, sf_dir, "customer")
        .where(k < 300)
        .select(k.cast("long").alias("vec_id"), F.array(*cols).alias("embedding"))
    )
    pq = PQIndex.fit_lossless(vecs, m=4)
    enc = pq.encode(vecs)
    out = pq.topk(enc, vecs.where(F.col("vec_id") < 12), k=5)
    return out.select("query_id", "vec_id", "score", "rank")


SQL_EMBED_PQ_ADC = """
WITH v AS (
  SELECT c_custkey AS id,
         CAST(c_custkey * 1 % 3 AS DOUBLE) AS e0, CAST(c_custkey % 2 AS DOUBLE) AS e1,
         CAST(c_custkey * 2 % 3 AS DOUBLE) AS e2, CAST((c_custkey + 1) % 2 AS DOUBLE) AS e3,
         CAST(c_custkey * 3 % 3 AS DOUBLE) AS e4, CAST((c_custkey + 2) % 2 AS DOUBLE) AS e5,
         CAST(c_custkey * 4 % 3 AS DOUBLE) AS e6, CAST((c_custkey + 3) % 2 AS DOUBLE) AS e7
  FROM customer WHERE c_custkey < 300
), q AS (SELECT * FROM v WHERE id < 12),
scored AS (
  SELECT q.id AS query_id, v.id AS vec_id,
         q.e0*v.e0 + q.e1*v.e1 + q.e2*v.e2 + q.e3*v.e3 +
         q.e4*v.e4 + q.e5*v.e5 + q.e6*v.e6 + q.e7*v.e7 AS score
  FROM q JOIN v ON v.id <> q.id
), ranked AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, CAST(score AS DOUBLE) AS score, CAST(rnk AS INT) AS rank
FROM ranked WHERE rnk <= 5
"""


def q_events_stateful_sessions(spark, sf_dir):
    """Custom STATEFUL streaming operator parity (streaming/stateful.
    sessionize_stream — applyInPandasWithState, the north-star 'custom
    stateful operators' row): runs as a REAL two-phase stream (time-
    ordered snapshots, availableNow triggers, the state store surviving
    between runs via the checkpoint) over the events table; the emitted
    CLOSED sessions must equal batch lag/cumsum sessionization with
    each user's final (still-open) session excluded.  Session
    composition is order-independent — boundaries depend only on the
    sorted epoch values, and equal epochs can never straddle a >30-min
    gap — so the only float caveat is summation order inside a
    session; session_value is rounded 4 dp on both sides.  Epochs are
    SECOND-truncated on both sides (Spark unix_timestamp truncates;
    the oracle floors DuckDB's fractional epoch())."""
    import shutil

    from ..streaming.stateful import sessionize_stream

    base = "/tmp/spark_osm_stateful_%s" % sf_dir.strip("/").replace("/", "_")
    in_dir, out_dir, ck = base + "/in", base + "/out", base + "/ck"
    shutil.rmtree(base, ignore_errors=True)

    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id") < 50)
        .select("user_id", "ts", "value")
    )
    cut = F.lit("2024-01-15").cast("timestamp")
    # snapshot A strictly precedes snapshot B in event time, so each
    # user's events arrive in epoch order across micro-batches — the
    # in-order contract a gap sessionizer needs without a watermark
    ev.where(F.col("ts") < cut).write.mode("overwrite").parquet(in_dir)

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(in_dir)
        q = (
            sessionize_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    ev.where(F.col("ts") >= cut).write.mode("append").parquet(in_dir)
    run_once()

    out = spark.read.parquet(out_dir)
    return out.select(
        "user_id",
        "session_events",
        F.round("session_value", 4).alias("session_value"),
        "closed",
    )


SQL_EVENTS_STATEFUL_SESSIONS = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, value
  FROM events WHERE user_id < 50
), flagged AS (
  SELECT user_id, ep, value,
         CASE WHEN LAG(ep) OVER w IS NULL OR ep - LAG(ep) OVER w > 1800
              THEN 1 ELSE 0 END AS s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep)
), sess AS (
  SELECT user_id, value,
         SUM(s) OVER (PARTITION BY user_id ORDER BY ep
                      ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), agg AS (
  SELECT user_id, sid, COUNT(*) AS session_events,
         SUM(value) AS session_value
  FROM sess GROUP BY user_id, sid
), last AS (SELECT user_id, MAX(sid) AS maxsid FROM agg GROUP BY user_id)
SELECT a.user_id, a.session_events,
       ROUND(a.session_value, 4) AS session_value, TRUE AS closed
FROM agg a JOIN last l ON a.user_id = l.user_id AND a.sid < l.maxsid
"""


def q_embed_pq_cosine(spark, sf_dir):
    """PQ ANN with metric='cosine' — the TRUE-NORM cosine path
    (normalized query LUT ÷ the encoded table's exact per-vector
    `vnorm`), provably equal to exact cosine in the lossless regime:
    8-dim positive-integer vectors (dim j = c_custkey mod a distinct
    prime + 1) whose 2-dim subvectors all appear in their subspace's
    codebook, so ADC loses nothing and the score IS
    q·v/(‖q‖·‖v‖).  Compared as the SCORE SET above a 0.99 cosine
    threshold (rounded 6 dp both sides) rather than by rank: the
    family contains proportional vectors whose cosines tie EXACTLY,
    and a rank-based oracle would be sensitive to last-ulp summation
    differences between engines — the threshold sits ≥1.1e-3 from
    every cosine and every value sits ≥9e-11 from a 6-dp rounding
    boundary, so a set compare is float-noise-proof."""
    from ..operators.similarity import PQIndex

    k = F.col("c_custkey")
    mods = (5, 7, 11, 13, 17, 19, 23, 29)
    vecs = (
        _t(spark, sf_dir, "customer")
        .where(k < 200)
        .select(
            k.cast("long").alias("vec_id"),
            F.array(*[(k % m + 1).cast("double") for m in mods]).alias(
                "embedding"
            ),
        )
    )
    pq = PQIndex.fit_lossless(vecs, m=4)
    enc = pq.encode(vecs)
    out = pq.topk(enc, vecs.where(F.col("vec_id") < 12), k=250, metric="cosine")
    return (
        out.withColumn("score", F.round("score", 6))
        .where(F.col("score") > 0.99)
        .select("query_id", "vec_id", "score")
    )


_PQ_COS_DIMS = ", ".join(
    "CAST(c_custkey %% %d + 1 AS DOUBLE) AS e%d" % (m, i)
    for i, m in enumerate((5, 7, 11, 13, 17, 19, 23, 29))
)
_PQ_COS_IP = " + ".join("q.e%d*v.e%d" % (i, i) for i in range(8))
_PQ_COS_NRM = lambda a: " + ".join("%s.e%d*%s.e%d" % (a, i, a, i) for i in range(8))

SQL_EMBED_PQ_COSINE = """
WITH v AS (
  SELECT c_custkey AS id, {dims}
  FROM customer WHERE c_custkey < 200
), q AS (SELECT * FROM v WHERE id < 12),
scored AS (
  SELECT q.id AS query_id, v.id AS vec_id,
         ({ip}) / (sqrt({qn}) * sqrt({vn})) AS c
  FROM q JOIN v ON v.id <> q.id
)
SELECT query_id, vec_id, ROUND(c, 6) AS score
FROM scored WHERE ROUND(c, 6) > 0.99
""".format(
    dims=_PQ_COS_DIMS,
    ip=_PQ_COS_IP,
    qn=_PQ_COS_NRM("q"),
    vn=_PQ_COS_NRM("v"),
)


def q_lsh_bucketed_join(spark, sf_dir):
    """Exchange-free LSH candidate join over a BUCKETED band table
    (the reusable-dedup-index shape): a closed-form (id, band, bucket)
    table — for key k and band b∈0..3, bucket = (k·(b+3)) mod 40 — is
    persisted with sources/tables.write_bucketed on (band, bucket),
    then self-joined via operators/dedup.band_self_join.  Both join
    inputs arrive co-partitioned and pre-sorted from the bucket files
    (zero exchange below the join — plan-gated in
    tests/test_text_dedup.py); the oracle computes the identical
    distinct pair set directly from the bucket formula."""
    from ..operators.dedup import band_self_join
    from ..sources.tables import write_bucketed

    k = F.col("c_custkey")
    banded = (
        _t(spark, sf_dir, "customer")
        .where(k < 600)
        .select(k.cast("long").alias("id"))
        .select(
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
        )
        .select("id", "s.band", "s.bucket")
    )
    spark.sql("DROP TABLE IF EXISTS lsh_band_gate")
    write_bucketed(banded, "lsh_band_gate", 8, "band", "bucket")
    return band_self_join(spark.table("lsh_band_gate"))


SQL_LSH_BUCKETED_JOIN = """
WITH ids AS (SELECT c_custkey AS id FROM customer WHERE c_custkey < 600),
banded AS (
  SELECT id, b AS band, (id * (b + 3)) % 40 AS bucket
  FROM ids, UNNEST(generate_series(0, 3)) t(b)
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
"""


def q_spatial_zorder_read(spark, sf_dir):
    """Z-order (Morton) spatial clustering end to end: deterministic
    world-spread points from customer keys are written in Morton
    layout (sources/tables.write_zordered — range-repartition + sort
    on the bit-interleaved z16 cell of (lon, lat), no materialized key
    column) and read back through a bbox scan (read_bbox) whose four
    comparisons push into the parquet scan; on this layout the footer
    min/max prune row groups on BOTH dimensions (measured in
    tests/test_zorder.py).  The oracle is the same arithmetic filter
    over an unsorted scan — layout must never change results."""
    from ..sources.tables import read_bbox, write_zordered

    k = F.col("c_custkey").cast("long")
    pts = _t(spark, sf_dir, "customer").select(
        k.alias("pid"),
        ((k * 37 % 36000) / 100.0 - 180.0).alias("lon"),
        ((k * 53 % 16000) / 100.0 - 80.0).alias("lat"),
    )
    path = "/tmp/spark_osm_zorder_%s" % sf_dir.strip("/").replace("/", "_")
    write_zordered(pts, path, "lon", "lat")
    return read_bbox(spark, path, (10.0, 10.0, 60.0, 60.0))


SQL_SPATIAL_ZORDER_READ = """
WITH pts AS (
  SELECT CAST(c_custkey AS BIGINT) AS pid,
         (c_custkey * 37 % 36000) / 100.0 - 180.0 AS lon,
         (c_custkey * 53 % 16000) / 100.0 - 80.0  AS lat
  FROM customer
)
SELECT pid, lon, lat FROM pts
WHERE lon >= 10.0 AND lon <= 60.0 AND lat >= 10.0 AND lat <= 60.0
"""


def q_dedup_incremental(spark, sf_dir):
    """The INCREMENTAL dedup-index path end to end (daily-batch
    shape): band a corpus → persist it bucketed on (band, bucket) →
    band a NEW batch → candidate-join it against the index with the
    corpus only scanned (operators/dedup.band_probe_join, broadcast
    probe) → exact-jaccard verify against corpus text → anti-join
    confirmed dups out of the batch.

    Recall is PROVABLY 1 on this corpus for any hash family: for
    doc_id < 4000, corpus = even ids with text key id DIV 4, batch =
    odd ids whose key is id DIV 4 when id % 4 == 1 (an IDENTICAL
    shingle set to corpus docs 4k and 4k+2 ⇒ equal minhash signatures
    in every band ⇒ guaranteed candidate, verified at jaccard 1.0) and
    a batch-unique key otherwise (every token carries the key ⇒
    jaccard 0 against everything; any hash-collision candidate dies in
    the exact verify).  Survivors are therefore exactly the batch docs
    with id % 4 == 3 — closed form."""
    from ..operators.dedup import banded_signature_table, dedup_against_index
    from ..sources.tables import write_bucketed

    docs = _t(spark, sf_dir, "documents").select("doc_id").where(F.col("doc_id") < 4000)

    def with_text(frame, key):
        return frame.withColumn(
            "text",
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit("g"), key.cast("string"), F.lit("w%d" % i))
                    for i in range(6)
                ],
            ),
        )

    corpus = with_text(
        docs.where(F.col("doc_id") % 2 == 0), F.expr("doc_id DIV 4")
    )
    new_batch = with_text(
        docs.where(F.col("doc_id") % 2 == 1),
        F.when(
            F.col("doc_id") % 4 == 1, F.expr("doc_id DIV 4")
        ).otherwise(F.col("doc_id") + 1000000),
    )

    spark.sql("DROP TABLE IF EXISTS dedup_idx_gate")
    write_bucketed(
        banded_signature_table(corpus), "dedup_idx_gate", 8, "band", "bucket"
    )
    survivors = dedup_against_index(
        new_batch, spark.table("dedup_idx_gate"), corpus, threshold=0.8
    )
    return survivors.select("doc_id")


SQL_DEDUP_INCREMENTAL = """
SELECT doc_id FROM documents WHERE doc_id < 4000 AND doc_id % 4 = 3
"""


def q_osm_partition_pruned_read(spark, sf_dir):
    """The Iceberg-style cell-prefix partition layout end to end:
    write customer points partitioned by their z4 quadkey cell
    (sources/tables.write_cell_partitioned), read back through the
    AOI-pruned scan (read_aoi_pruned — planning-time partition
    pruning; the plan gate lives in tests/test_partition_pruning.py),
    and match an unpruned DuckDB equivalent: for a rectangle AOI the
    cover is exactly the z4 tile range of its bbox, so the pruned read
    returns precisely the points whose z4 tile falls in that range."""
    from ..operators.clip import AOI
    from ..operators.tiles import decode_cell_cols
    from ..sources.tables import read_aoi_pruned, write_cell_partitioned

    k = F.col("c_custkey")
    feats = (
        _t(spark, sf_dir, "customer")
        .where(k < 3000)
        .select(
            k.cast("long").alias("osm_id"),
            F.lit("node").alias("src"),
            F.array(((k * 7) % 3600) / 10.0 - 180.0 + 0.05).alias("xs"),
            F.array(((k * 13) % 1600) / 10.0 - 80.0 + 0.05).alias("ys"),
        )
    )
    path = "/tmp/spark_osm_pruned_%s" % sf_dir.strip("/").replace("/", "_")
    write_cell_partitioned(feats, path, zoom=4)
    import numpy as np

    rect = np.array(
        [[-60.13, -30.21], [70.42, -30.21], [70.42, 55.08], [-60.13, 55.08]]
    )
    aoi = AOI([rect], cover_zoom=4)
    df = read_aoi_pruned(spark, path, aoi, zoom=4)
    return df.select("osm_id", decode_cell_cols("cell_prefix")).select(
        "osm_id", F.col("c.x").alias("px"), F.col("c.y").alias("py")
    )


SQL_OSM_PARTITION_PRUNED_READ = """
WITH pts AS (
  SELECT c_custkey AS osm_id,
         (((c_custkey * 7) % 3600) / 10.0 - 180.0 + 0.05) AS lon,
         (((c_custkey * 13) % 1600) / 10.0 - 80.0 + 0.05) AS lat
  FROM customer WHERE c_custkey < 3000
), tiled AS (
  SELECT osm_id,
         CAST(floor((lon + 180.0) / 360.0 * 16) AS BIGINT) AS px,
         CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat))) / pi()) / 2.0 * 16) AS BIGINT) AS py
  FROM pts
), cover AS (
  SELECT CAST(floor((-60.13 + 180.0) / 360.0 * 16) AS BIGINT) AS cx0,
         CAST(floor(( 70.42 + 180.0) / 360.0 * 16) AS BIGINT) AS cx1,
         CAST(floor((1.0 - ln(tan(radians(55.08)) + 1.0/cos(radians(55.08))) / pi()) / 2.0 * 16) AS BIGINT) AS cy0,
         CAST(floor((1.0 - ln(tan(radians(-30.21)) + 1.0/cos(radians(-30.21))) / pi()) / 2.0 * 16) AS BIGINT) AS cy1
)
SELECT osm_id, px, py FROM tiled, cover
WHERE px BETWEEN cx0 AND cx1 AND py BETWEEN cy0 AND cy1
"""


def q_osm_tile_pack_bounded(spark, sf_dir):
    """Bounded tile packing (VERDICT r4 #1): the packed tile table's
    per-tile id list is capped (here cap=8 to force overflow at the
    gate's scale) while `n_features` stays exact and `n_overflow`
    counts the excluded ids.  The oracle ranks each tile's ids in
    DuckDB and packs only rank ≤ cap, so the sorted-first-N sample,
    the exact count, and the overflow arithmetic are all checked
    closed-form.  At z1 every tile holds hundreds of the 1,500+
    customer points, so the cap provably binds."""
    from ..operators.tiles import tile_features

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 2000)
    k = F.col("c_custkey")
    feats = c.select(
        k.cast("long").alias("osm_id"),
        F.lit("point").alias("geom_type"),
        F.array(((k * 7) % 3600) / 10.0 - 180.0 + 0.05).alias("xs"),
        F.array(((k * 13) % 1600) / 10.0 - 80.0 + 0.05).alias("ys"),
        F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("ring_offsets"),
    )
    tf = tile_features(feats, 1, 3, max_ids_per_tile=8)
    return tf.select(
        "z",
        "x",
        "y",
        "n_features",
        F.md5(
            F.concat_ws(",", F.col("osm_ids").cast("array<string>"))
        ).alias("ids_md5"),
        "n_overflow",
    )


SQL_OSM_TILE_PACK_BOUNDED = """
WITH pts AS (
  SELECT c_custkey AS osm_id,
         (((c_custkey * 7) % 3600) / 10.0 - 180.0 + 0.05) AS lon,
         (((c_custkey * 13) % 1600) / 10.0 - 80.0 + 0.05) AS lat
  FROM customer WHERE c_custkey < 2000
), assigned AS (
  SELECT CAST(z AS INT) AS z,
         CAST(floor((lon + 180.0) / 360.0 * pow(2.0, z)) AS BIGINT) AS x,
         CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0/cos(radians(lat))) / pi())
                    / 2.0 * pow(2.0, z)) AS BIGINT) AS y,
         osm_id
  FROM pts, UNNEST(generate_series(1, 3)) t(z)
), ranked AS (
  SELECT z, x, y, osm_id,
         ROW_NUMBER() OVER (PARTITION BY z, x, y ORDER BY osm_id) AS rn,
         COUNT(*) OVER (PARTITION BY z, x, y) AS n
  FROM assigned
)
SELECT z, x, y,
       CAST(MAX(n) AS BIGINT) AS n_features,
       md5(string_agg(CASE WHEN rn <= 8 THEN CAST(osm_id AS VARCHAR) END,
                      ',' ORDER BY osm_id)) AS ids_md5,
       CAST(MAX(n) - LEAST(MAX(n), 8) AS BIGINT) AS n_overflow
FROM ranked GROUP BY z, x, y
"""


def q_osm_tile_antimeridian(spark, sf_dir):
    """Antimeridian contract (VERDICT r4 #4): Fiji-style ways whose
    lon jumps ±(>180°) are split at ±180 and assigned the TWO SHORT
    ARCS' tiles — never the around-the-world band.  Each way here is
    built so both arcs stay inside single tiles at z4 (lats within
    tile row y=8, lons within columns 15 and 0), so the expected
    assignment is closed-form: exactly {(15, 8), (0, 8)} per way —
     2 rows per feature; the unsplit interpolation would emit all 16
    columns."""
    from ..operators.tiles import decode_cell_cols, with_tile_cells_exact

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 40)
    k = F.col("c_custkey")
    lat0 = -17.0 - (k % 5).cast("double") / 100.0
    feats = c.select(
        k.cast("long").alias("osm_id"),
        F.lit("way").alias("src"),
        F.lit("line").alias("geom_type"),
        F.array(F.lit(179.5) + (k % 3).cast("double") / 10.0, F.lit(-179.5)).alias("xs"),
        F.array(lat0, lat0 - 0.05).alias("ys"),
        F.array(F.lit(0), F.lit(2)).cast("array<int>").alias("ring_offsets"),
    )
    out = with_tile_cells_exact(feats, 4, 4)
    return (
        out.select("osm_id", decode_cell_cols("cell"))
        .select("osm_id", "c.z", "c.x", "c.y")
    )


SQL_OSM_TILE_ANTIMERIDIAN = """
SELECT c_custkey AS osm_id, CAST(4 AS INT) AS z,
       CAST(15 AS BIGINT) AS x, CAST(8 AS BIGINT) AS y
FROM customer WHERE c_custkey < 40
UNION ALL
SELECT c_custkey, CAST(4 AS INT), CAST(0 AS BIGINT), CAST(8 AS BIGINT)
FROM customer WHERE c_custkey < 40
"""


def q_osm_incremental_export(spark, sf_dir):
    """Streaming/incremental export parity (VERDICT r4 #3 — the one
    SURVEY §2 row that had no CORRECTNESS gate): the incremental
    exporter (streaming/incremental.run_incremental_export,
    availableNow trigger + checkpointed exactly-once parquet sink)
    runs over snapshot A (odd customer keys), then again after
    snapshot B (even keys) lands in the input directory — the second
    run resumes from the Spark checkpoint and processes ONLY the new
    files.  The accumulated sink must equal the batch themed export
    over the full table, which the oracle computes directly from
    `customer`."""
    import shutil

    from ..functions.mapping import Mapping
    from ..sources import decode
    from ..streaming.incremental import run_incremental_export

    base = "/tmp/spark_osm_incr_%s" % sf_dir.strip("/").replace("/", "_")
    in_dir, out_dir, ck = base + "/in", base + "/out", base + "/ck"
    shutil.rmtree(base, ignore_errors=True)

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 2500)
    k = F.col("c_custkey")
    lon = ((k * 7) % 3600) / 10.0 - 180.0 + 0.05
    lat = ((k * 13) % 1600) / 10.0 - 80.0 + 0.05
    amen = F.when(k % 3 == 0, F.lit("cafe")).otherwise(F.lit("bench"))
    docs = c.select(
        F.concat(F.lit("node/"), k.cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("tag").alias("kind"),
                F.concat(F.lit("amenity="), amen).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("tag").alias("kind"),
                F.concat(F.lit("name=c"), k.cast("string")).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("point").alias("text"),
                decode.wkb_point_encode(lon, lat).alias("media_ref"),
                F.lit(2).alias("offset"),
            ),
        ).alias("spans"),
    )
    mapping = Mapping(
        "pois:\n  types: [points]\n  select: [amenity, name]\n"
        "  where: amenity = 'cafe'\n"
    )
    docs.where(k % 2 == 1).write.mode("overwrite").parquet(in_dir)
    run_incremental_export(spark, in_dir, mapping, out_dir, ck)
    docs.where(k % 2 == 0).write.mode("append").parquet(in_dir)
    run_incremental_export(spark, in_dir, mapping, out_dir, ck)

    out = spark.read.parquet(out_dir)
    return out.select(
        "osm_id",
        "theme",
        "amenity",
        "name",
        F.round(F.try_element_at("xs", F.lit(1)), 6).alias("lon"),
        F.round(F.try_element_at("ys", F.lit(1)), 6).alias("lat"),
    )


SQL_OSM_INCREMENTAL_EXPORT = """
SELECT c_custkey AS osm_id, 'pois' AS theme, 'cafe' AS amenity,
       'c' || CAST(c_custkey AS VARCHAR) AS name,
       round((((c_custkey * 7) % 3600) / 10.0 - 180.0 + 0.05), 6) AS lon,
       round((((c_custkey * 13) % 1600) / 10.0 - 80.0 + 0.05), 6) AS lat
FROM customer WHERE c_custkey < 2500 AND c_custkey % 3 = 0
"""


def q_osm_sargable_scan(spark, sf_dir):
    """Sargable hot-key pushdown end to end (VERDICT r4 #6): documents
    carry the ingest-time ``hk_amenity`` projection, are written
    hot-key-CLUSTERED (range repartition + sort so row-group min/max
    are tight), and the themed read goes through
    `read_theme_candidates` — the mapping's necessary condition lands
    in the parquet scan as PushedFilters (plan gate in
    tests/test_sargable.py) and prunes row groups.  For this
    point-only mapping the pruned scan is sound end to end; the
    oracle computes the matching nodes directly from `customer`."""
    from ..functions.mapping import Mapping
    from ..operators.assemble import point_features
    from ..operators.themes import theme_fanout
    from ..sources import decode
    from ..sources.tables import read_theme_candidates, write_hotkey_clustered

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 2500)
    k = F.col("c_custkey")
    lon = ((k * 7) % 3600) / 10.0 - 180.0 + 0.05
    lat = ((k * 13) % 1600) / 10.0 - 80.0 + 0.05
    amen = (
        F.when(k % 4 == 0, F.lit("school"))
        .when(k % 4 == 1, F.lit("cafe"))
        .otherwise(F.lit("bench"))
    )
    docs = c.select(
        F.concat(F.lit("node/"), k.cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("tag").alias("kind"),
                F.concat(F.lit("amenity="), amen).alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("point").alias("text"),
                decode.wkb_point_encode(lon, lat).alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
        ).alias("spans"),
        amen.alias("hk_amenity"),
    )
    path = "/tmp/spark_osm_sargable_%s" % sf_dir.strip("/").replace("/", "_")
    write_hotkey_clustered(docs, path, ("amenity",))
    mapping = Mapping(
        "pois:\n  types: [points]\n  select: [amenity]\n"
        "  where: amenity IN ('school', 'cafe')\n"
    )
    cand = read_theme_candidates(spark, path, mapping)
    ent = decode.entities_table(decode.with_entity_meta(cand))
    pts = theme_fanout(point_features(decode.nodes_from_entities(ent)), mapping)
    return pts.select(
        "osm_id",
        F.try_element_at("tags", F.lit("amenity")).alias("amenity"),
        F.round(F.try_element_at("xs", F.lit(1)), 6).alias("lon"),
        F.round(F.try_element_at("ys", F.lit(1)), 6).alias("lat"),
    )


SQL_OSM_SARGABLE_SCAN = """
SELECT c_custkey AS osm_id,
       CASE WHEN c_custkey % 4 = 0 THEN 'school' ELSE 'cafe' END AS amenity,
       round((((c_custkey * 7) % 3600) / 10.0 - 180.0 + 0.05), 6) AS lon,
       round((((c_custkey * 13) % 1600) / 10.0 - 80.0 + 0.05), 6) AS lat
FROM customer WHERE c_custkey < 2500 AND c_custkey % 4 IN (0, 1)
"""


QUERIES = {
    # text / dedup
    "doc_token_stats": (q_doc_token_stats, SQL_DOC_TOKEN_STATS),
    "doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
    "doc_langid": (q_doc_langid, SQL_DOC_LANGID),
    "doc_fingerprint_dups": (q_doc_fingerprint_dups, SQL_DOC_FINGERPRINT_DUPS),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "doc_repetition": (q_doc_repetition, SQL_DOC_REPETITION),
    "doc_contamination": (q_doc_contamination, SQL_DOC_CONTAMINATION),
    "doc_seq_pack": (q_doc_seq_pack, SQL_DOC_SEQ_PACK),
    "doc_seq_pack_greedy": (q_doc_seq_pack_greedy, SQL_DOC_SEQ_PACK_GREEDY),
    "doc_pack_stats": (q_doc_pack_stats, SQL_DOC_PACK_STATS),
    "minhash_md5": (q_minhash_md5, SQL_MINHASH_MD5),
    "jaccard_pairs": (q_jaccard_pairs, SQL_JACCARD_PAIRS),
    "lsh_near_dup": (q_lsh_near_dup, SQL_LSH_NEAR_DUP),
    "near_dup_components": (q_near_dup_components, SQL_NEAR_DUP_COMPONENTS),
    "doc_simhash16": (q_doc_simhash16, SQL_DOC_SIMHASH16),
    "simhash_dup_pairs": (q_simhash_dup_pairs, SQL_SIMHASH_DUP_PAIRS),
    # embeddings
    "embed_norms": (q_embed_norms, SQL_EMBED_NORMS),
    "embed_knn_top1": (q_embed_knn_top1, SQL_EMBED_KNN_TOP1),
    "embed_ivf_topk": (q_embed_ivf_topk, SQL_EMBED_IVF_TOPK),
    "embed_hyperplane_sketch": (q_embed_hyperplane_sketch, SQL_EMBED_HYPERPLANE_SKETCH),
    "embed_hyperplane_dups": (q_embed_hyperplane_dups, SQL_EMBED_HYPERPLANE_DUPS),
    "embed_label_centroids": (q_embed_label_centroids, SQL_EMBED_LABEL_CENTROIDS),
    # events
    "events_by_type": (q_events_by_type, SQL_EVENTS_BY_TYPE),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "events_user_top3": (q_events_user_top3, SQL_EVENTS_USER_TOP3),
    "events_sessionize": (q_events_sessionize, SQL_EVENTS_SESSIONIZE),
    "events_stateful_sessions": (
        q_events_stateful_sessions,
        SQL_EVENTS_STATEFUL_SESSIONS,
    ),
    "events_asof_view": (q_events_asof_view, SQL_EVENTS_ASOF_VIEW),
    # relational
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    "top_supplier_per_nation": (q_top_supplier_per_nation, SQL_TOP_SUPPLIER_PER_NATION),
    # spatial
    "cell_assign": (q_cell_assign, SQL_CELL_ASSIGN),
    "tile_counts_z8": (q_tile_counts_z8, SQL_TILE_COUNTS_Z8),
    "pip_triangle": (q_pip_triangle, SQL_PIP_TRIANGLE),
    "haversine_nn": (q_haversine_nn, SQL_HAVERSINE_NN),
    "knn_cell_join": (q_knn_cell_join, SQL_KNN_CELL_JOIN),
    # OSM engine
    "osm_way_assembly": (q_osm_way_assembly, SQL_OSM_WAY_ASSEMBLY),
    "osm_relation_assembly": (q_osm_relation_assembly, SQL_OSM_RELATION_ASSEMBLY),
    "osm_theme_match": (q_osm_theme_match, SQL_OSM_THEME_MATCH),
    "osm_span_roundtrip": (q_osm_span_roundtrip, SQL_OSM_SPAN_ROUNDTRIP),
    "osm_flagship_export": (q_osm_flagship_export, SQL_OSM_FLAGSHIP_EXPORT),
    "osm_tile_table": (q_osm_tile_table, SQL_OSM_TILE_TABLE),
    "osm_tile_pack_bounded": (q_osm_tile_pack_bounded, SQL_OSM_TILE_PACK_BOUNDED),
    "osm_tile_antimeridian": (q_osm_tile_antimeridian, SQL_OSM_TILE_ANTIMERIDIAN),
    "osm_incremental_export": (
        q_osm_incremental_export,
        SQL_OSM_INCREMENTAL_EXPORT,
    ),
    "osm_sargable_scan": (q_osm_sargable_scan, SQL_OSM_SARGABLE_SCAN),
    "osm_tile_bigfeature": (q_osm_tile_bigfeature, SQL_OSM_TILE_BIGFEATURE),
    "osm_tile_polygon_fill": (q_osm_tile_polygon_fill, SQL_OSM_TILE_POLYGON_FILL),
    "osm_partition_pruned_read": (
        q_osm_partition_pruned_read,
        SQL_OSM_PARTITION_PRUNED_READ,
    ),
    "minhash_xx_dedup": (q_minhash_xx_dedup, SQL_MINHASH_XX_DEDUP),
    "embed_ivf_probe1": (q_embed_ivf_probe1, SQL_EMBED_IVF_PROBE1),
    "embed_pq_adc": (q_embed_pq_adc, SQL_EMBED_PQ_ADC),
    "embed_pq_cosine": (q_embed_pq_cosine, SQL_EMBED_PQ_COSINE),
    "lsh_bucketed_join": (q_lsh_bucketed_join, SQL_LSH_BUCKETED_JOIN),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "spatial_zorder_read": (q_spatial_zorder_read, SQL_SPATIAL_ZORDER_READ),
    "media_features": (q_media_features, SQL_MEDIA_FEATURES),
    "media_real_roundtrip": (q_media_real_roundtrip, SQL_MEDIA_REAL_ROUNDTRIP),
}
