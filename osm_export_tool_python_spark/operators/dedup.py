"""Deduplication operators for training-data pipelines:

  exact          — hash groupBy / window survivor pick
  minhash + LSH  — shingle → minhash signature → banded bucket join
  simhash        — 64-bit weighted-bit fingerprint, hamming buckets
  n-gram jaccard — exact verify for candidate pairs

Scale shape: every variant is (narrow signature computation) →
(shuffle on SHORT bucket keys) → (verify only within buckets).  The
all-pairs O(n²) never materializes; the widest shuffle carries one row
per (doc, band), and hot buckets (boilerplate dups) are exactly the
rows we want colocated.

Shingles are ROWS, not arrays: `functions/text.shingle_rows` explodes
each doc's trigram start positions and builds every trigram with
`element_at` inside whole-stage codegen.  The minhash signatures (both
hash families), the Jaccard verify and the decontamination check all
read it, so no shingle path runs a higher-order `transform` lambda
(those are interpreted, never compiled).

Hash choices: the minhash variant used for ORACLE parity is md5-based
(identical hex in Spark and DuckDB, lexicographic min); the scale path
(`minhash_signature_table`) hashes each shingle ONCE with xxhash64
over its token hashes and derives all signature slots via affine
mixes — no n-gram string is ever materialized."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingle_rows, tokens


def exact_dedup(df: DataFrame, cols, id_col: str) -> DataFrame:
    """Keep the lowest-id row per duplicate group (deterministic)."""
    w = Window.partitionBy(*cols).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_signature_md5_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
) -> DataFrame:
    """(id, g array<string>) — the oracle-parity minhash signature: slot
    i is the lexicographic-min md5('s<i>|' || shingle) over the doc's
    trigram shingles (md5 hex is identical in Spark and DuckDB).

    Computed over `shingle_rows` → groupBy-min: the trigram strings, the
    md5s and the min aggregate run inside whole-stage codegen with
    map-side combine, and one row per doc crosses the shuffle.  A NULL
    text's one shingle is NULL, so all its slots are NULL."""
    from ..parallel import fan_out

    exploded = shingle_rows(fan_out(df, id_col), id_col, text_col, hashed=False)
    g = exploded.groupBy("id").agg(
        *[
            F.min(F.md5(F.concat(F.lit("s%d|" % i), F.col("s")))).alias("h%d" % i)
            for i in range(n_hashes)
        ]
    )
    return g.select(
        "id", F.array(*[F.col("h%d" % i) for i in range(n_hashes)]).alias("g")
    )


def _affine_params(n_hashes: int):
    """Deterministic (a, b) pairs for the universal-hash family
    h_i(x) = (a_i*x + b_i) mod 2^32 — SplitMix64-derived constants, a
    odd and both < 2^31 so a*x+b < 2^63 (no ANSI long overflow)."""
    mask = (1 << 64) - 1
    params, x = [], 0
    for _ in range(n_hashes):
        x = (x + 0x9E3779B97F4A7C15) & mask
        z = x
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
        z ^= z >> 31
        params.append(((z & 0x7FFFFFFF) | 1, (z >> 33) & 0x7FFFFFFF))
    return params


#: Signature slots and LSH bands of the xxhash64 scale path: 4 bands of
#: 4 rows put the candidate threshold near Jaccard 0.7.
N_HASHES = 16
BANDS = 4


def minhash_signature_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, h0..h{N_HASHES-1}) minhash signatures via explode → hash →
    groupBy-min.

    Scale-path hashing (Broder-style universal family, the datasketch
    construction): each shingle is ONE xxhash64 fold over its tokens'
    xxhash64s (`shingle_rows(hashed=True)`) — no n-gram string is ever
    allocated — and the N_HASHES slots are cheap affine mixes
    (a_i*h+b_i mod 2^32, pairwise-independent) of that single base
    hash instead of N_HASHES independent passes over the shingle
    bytes.  The shingle rows compile into the same codegen stage as
    the map-side half of the min aggregate; the values are the ones the
    former `transform`/`slice` array form gave, bit for bit.  The
    min-agg combines map-side, so the shuffle carries one row per doc.
    Small inputs are fanned out BY THE ID before the explode (see
    `parallel.fan_out`): the heavy map then runs at full width, and
    the groupBy reuses that hash exchange instead of adding one."""
    from ..parallel import fan_out

    exploded = shingle_rows(fan_out(df, id_col), id_col, text_col, hashed=True)
    base = F.col("s").bitwiseAND(F.lit(0xFFFFFFFF))
    return exploded.groupBy("id").agg(
        *[
            F.min((F.lit(a) * base + F.lit(b)).bitwiseAND(F.lit(0xFFFFFFFF))).alias(
                "h%d" % i
            )
            for i, (a, b) in enumerate(_affine_params(N_HASHES))
        ]
    )


def banded_signature_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, band, bucket) — one row per (doc, band); bucket is the
    xxhash64 of the band's signature rows.  This is the frame the LSH
    self-join runs on, and the frame to PERSIST BUCKETED
    (sources/tables.write_bucketed on (band, bucket)) when the corpus
    index is reused: every later candidate join against it is then
    exchange-free (see band_self_join)."""
    rows = N_HASHES // BANDS
    sig = minhash_signature_table(df, id_col, text_col)
    return sig.select(
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


#: Minimum source-corpus Catalyst size estimate (bytes) before a
#: self-join's signature table is repartitioned on its join key to
#: make the signature compute exchange-reusable (one pass instead of
#: one per join side).  Below it, the saved pass is cheaper than the
#: extra AQE stage the repartition adds.
_REUSE_EXCHANGE_MIN_BYTES = 2 << 20


def _reuse_repartition(sig_table: DataFrame, source_df: DataFrame, *keys):
    """Repartition `sig_table` on `keys` iff `source_df` is big enough
    that recomputing the signature pipeline per join side dominates the
    extra exchange (see lsh_candidate_pairs docstring).  Unknown-size
    sources (RDD-backed, no stats) take the repartition: at worst it
    costs one small-corpus stage, while skipping it on a large corpus
    doubles the heavy pass."""
    from ..parallel import _plan_size_bytes, _session_width

    est = _plan_size_bytes(source_df)
    if est is not None and est < _REUSE_EXCHANGE_MIN_BYTES:
        return sig_table
    return sig_table.repartition(_session_width(sig_table.sparkSession), *keys)


def band_self_join(banded: DataFrame) -> DataFrame:
    """(id_a, id_b) distinct candidate pairs from a (id, band, bucket)
    table: docs sharing any (band, bucket) pair up.  When `banded` is
    a table persisted with write_bucketed(..., "band", "bucket") the
    join is EXCHANGE-FREE — both sides arrive pre-hashed into the same
    bucket files, so the widest shuffle of the dedup pipeline (full
    band-table, both sides) disappears from every rerun/incremental
    pass (plan-gated in tests/test_text_dedup.py)."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def band_probe_join(index: DataFrame, probe: DataFrame) -> DataFrame:
    """(id_a, id_b) distinct candidates between a PROBE batch's band
    rows (id_a) and a persisted corpus band INDEX (id_b) — the
    incremental half of the reusable-dedup-index story: a daily crawl
    batch is banded (small) and joined against the corpus index
    WITHOUT re-banding or shuffling the corpus.

    Scale shape: the probe band table is broadcast (a batch is much
    smaller than the corpus), so the corpus index is only SCANNED —
    zero exchange on either side, no shuffle at all (plan-gated in
    tests/test_text_dedup.py)."""
    p = F.broadcast(probe.alias("p"))
    i = index.alias("i")
    return (
        i.join(p, ["band", "bucket"])
        .where(F.col("p.id") != F.col("i.id"))
        .select(F.col("p.id").alias("id_a"), F.col("i.id").alias("id_b"))
        .distinct()
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh) — the distinct trigram shingle set of each doc of `df`;
    the set side of every Jaccard computation (the verify functions
    read it through `_candidate_sets`).

    `collect_set` over `shingle_rows` is the set `array_distinct` of the
    shingle array keeps, except for a NULL text: its one shingle is
    NULL, which `collect_set` drops.  That doc gets the `[NULL]` set
    back, so two NULL-text docs verify at 1.0 and a NULL-text doc
    against an empty one at 0.0."""
    rows = shingle_rows(df, id_col, text_col, hashed=False)
    return rows.groupBy("id").agg(
        F.when(F.count("s") == 0, F.array(F.lit(None).cast("string")))
        .otherwise(F.collect_set("s"))
        .alias("sh")
    )


def _candidate_sets(df: DataFrame, ids: DataFrame, id_col: str, text_col: str):
    """`shingle_sets` of just the docs of `df` whose id is in `ids`
    (one `__cid` column): the semi-join runs first, so only docs that
    appear in a pair are tokenized and shingled, into one set per doc
    however many pairs it is in."""
    touched = df.join(ids, df[id_col] == ids["__cid"], "left_semi")
    return shingle_sets(touched, id_col, text_col)


def _verified(pairs: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold):
    """(id_a, id_b, jaccard) for the pairs whose shingle-set Jaccard
    (`shingle_sets` frames joined to each side) is ≥ threshold."""
    return (
        pairs.join(sh_a.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh_b.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_verify_cross(
    pairs: DataFrame,
    left_df: DataFrame,
    right_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact trigram Jaccard on (id_a, id_b) candidate pairs whose two
    sides live in DIFFERENT frames (id_a ∈ left_df, id_b ∈ right_df);
    keeps pairs ≥ threshold.

    Scale shape: candidate pairs are a tiny fraction of the corpus, so
    each side is first pruned to candidate-touched docs by a BROADCAST
    semi-join on the pair ids (`_candidate_sets`) — shingles are computed
    only for those docs and the verify joins carry narrow pruned sides,
    never a full shuffle of corpus text.  The hint holds here because
    the probe side is a batch much smaller than the corpus;
    `jaccard_verify`'s self-join candidates can cover most of a
    boilerplate-heavy corpus, so it leaves the choice to AQE."""

    def side(df, pair_col):
        ids = F.broadcast(pairs.select(F.col(pair_col).alias("__cid")).distinct())
        return _candidate_sets(df, ids, id_col, text_col)

    return _verified(pairs, side(left_df, "id_a"), side(right_df, "id_b"), threshold)


def dedup_against_index(
    new_df: DataFrame,
    index: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """INCREMENTAL near-dup removal: rows of `new_df` that have no
    verified near-dup in the corpus behind the persisted band `index`
    (a (id, band, bucket) table written by
    sources/tables.write_bucketed over banded_signature_table).

    The daily-pipeline shape: band the new batch (narrow, batch-sized),
    candidate-join it against the index (corpus scanned, never
    shuffled — see band_probe_join), exact-verify the few candidates
    against corpus text (broadcast-pruned — see jaccard_verify_cross),
    anti-join the confirmed dups out of the batch.  Intra-batch dups
    are a separate composable step (minhash_dedup on the batch); after
    acceptance, append the batch's band rows to the index with
    sources/tables.append_bucketed so the next batch sees them."""
    new_banded = banded_signature_table(new_df, id_col, text_col)
    cands = band_probe_join(index, new_banded)
    verified = jaccard_verify_cross(
        cands, new_df, corpus_df, id_col, text_col, threshold
    )
    dupes = verified.select(F.col("id_a").alias("__dup")).distinct()
    return new_df.join(dupes, new_df[id_col] == dupes["__dup"], "left_anti")


def lsh_candidate_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id_a, id_b) candidate pairs from banded minhash LSH.
    Docs agreeing on ALL rows of any band share a bucket.

    The banded table is repartitioned on the join key (band, bucket)
    BEFORE the self-join: the signature pipeline (shingle rows +
    xxhash + 16-slot min aggregate) runs entirely above the fan-out
    exchange, so without this the self-join's two sides each recompute
    it — exchange reuse dedupes *exchanges*, not the compute above
    them (stage profile: candidate pass ≈ 2× the banded pass).  With
    the repartition, the whole signature computation sits BELOW one
    canonical exchange that both join sides (and any join strategy —
    the broadcast build included) read back from shuffle files: one
    signature pass total, and the join itself needs no further
    exchange (guide §2.4: operations keyed the same way share one
    exchange).  The extra exchange carries one narrow (id, band,
    bucket) row per (doc, band) — the cheapest possible materialization
    point of this pipeline.

    Size-gated (`_REUSE_EXCHANGE_MIN_BYTES`): on a tiny corpus the
    extra AQE stage costs more than the duplicated signature pass it
    saves (measured +0.5 s at 5 k docs vs −2.5 s at 50 k), so the
    repartition only applies when the corpus estimate clears the gate
    — the same adaptive-shape pattern as `parallel.fan_out`.  Those
    figures were measured with the former `transform`-lambda signature,
    several times more expensive per doc than the compiled shingle rows,
    so the pass the gate saves is now much cheaper than when it was set
    (ROADMAP item 6 carries its recalibration)."""
    banded = banded_signature_table(df, id_col, text_col)
    banded = _reuse_repartition(banded, df, "band", "bucket")
    return band_self_join(banded)


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact trigram Jaccard on candidate pairs; keeps pairs ≥ threshold.

    Only candidate docs are shingled: the fanned-out corpus is
    semi-joined to the distinct union of id_a and id_b, and each
    touched doc's distinct shingle set is built once (`_candidate_sets`)
    and joined to both pair sides.
    The semi-join carries no broadcast hint: AQE picks the join from
    the candidate set's runtime size.  Catalyst pushes the semi-join
    below the fan-out repartition, so this side hash-partitions the
    corpus itself rather than reading the signature's exchange; that
    shuffle runs in the first stage wave, beside the signature's."""
    from ..parallel import fan_out

    df = fan_out(df, id_col)
    ids = (
        pairs.select(F.col("id_a").alias("__cid"))
        .union(pairs.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    sh = _candidate_sets(df, ids, id_col, text_col)
    return _verified(pairs, sh, sh, threshold)


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dup removal: LSH candidates → jaccard verify →
    drop the higher-id member of each verified pair."""
    cands = lsh_candidate_pairs(df, id_col, text_col)
    verified = jaccard_verify(cands, df, id_col, text_col, threshold)
    dupes = verified.select(F.col("id_b").alias("__dup")).distinct()
    return df.join(dupes, df[id_col] == dupes["__dup"], "left_anti")


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def hamming_dist_col(a, b) -> F.Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, sh) — 64-bit simhash over tokens: bit j is 1 iff strictly
    more than half of the doc's tokens have bit j set in their xxhash64
    (a tie gives 0).

    Computed by explode → groupBy with 64 conditional-count aggregates,
    not 64 per-row higher-order `filter` lambdas (interpreted; each
    lambda re-walks the token-hash array).  Exploding tokens to rows
    hashes each token ONCE and counts all 64 bit positions inside one
    codegen'd hash aggregate with map-side combine — one row per doc
    crosses the shuffle.  Zero-token docs are preserved by
    explode_outer (NULL token → zero counts → sh = 0)."""
    from ..parallel import fan_out

    df = fan_out(df, id_col)
    toks = df.select(
        F.col(id_col).alias("id"), F.explode_outer(tokens(text_col)).alias("t")
    )
    # xxhash64(NULL) returns the SEED (42), not NULL — without the
    # null guard a zero-token doc's explode_outer placeholder row
    # would vote the seed's bits into the counts (sh 42 instead of 0)
    h = F.when(F.col("t").isNotNull(), F.xxhash64("t"))
    g = toks.groupBy("id").agg(
        F.count("t").alias("n"),
        *[
            F.count(
                F.when(
                    F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)) == 1, True
                )
            ).alias("c%d" % j)
            for j in range(64)
        ],
    )
    sh = None
    for j in range(64):
        bit = F.shiftleft((F.col("c%d" % j) * 2 > F.col("n")).cast("long"), j)
        sh = bit if sh is None else sh.bitwiseOR(bit)
    return g.select("id", sh.alias("sh"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by simhash: block the 64-bit hash into n_blocks
    16-bit keys; a pair within hamming ≤ n_blocks-1 must agree on ≥1
    block (pigeonhole) — join per block, verify exact hamming."""
    bits = 64 // n_blocks
    # table-form simhash (explode + codegen'd 64-bit-count aggregate —
    # see simhash_table); fan-out of small inputs happens inside it
    h = simhash_table(df, id_col, text_col)
    blocked = h.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sh"), b * bits).bitwiseAND(
                        F.lit((1 << bits) - 1)
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("block", "key"),
    )
    # same single-compute trick as lsh_candidate_pairs: the 64-term
    # simhash bit math runs above the fan-out exchange, so the self-
    # join's two sides would each recompute it; repartitioning on the
    # join key puts it below ONE canonical exchange both sides reuse
    blocked = _reuse_repartition(blocked, df, "block", "key")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, ["block", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming_dist_col(F.col("a.sh"), F.col("b.sh")).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def cosine_sim_col(a, b) -> F.Column:
    """Cosine similarity of two array<float/double> columns — pure
    Column math (zip_with + aggregate), JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def _rademacher_sign(j: int, d: int) -> float:
    """Deterministic ±1 hyperplane entry (j = plane, d = dimension):
    an LCG-style mix identical in Python, Column math and DuckDB SQL —
    the property the oracle-parity sketch needs.  Rademacher planes
    are a standard substitute for Gaussian ones in sign sketches
    (same collision-probability guarantee up to constants)."""
    return 1.0 if ((1103515245 * (j * 97 + d) + 12345) >> 8) & 1 else -1.0


def rademacher_sketch_col(vec_col, dim: int, n_planes: int = 8):
    """Pure-Column random-hyperplane sign sketch: bit j of the result
    is sign(<v, plane_j>) with deterministic ±1 planes.  No Python
    crossing — the ±1 products are compile-time literals, so the whole
    sketch is one codegen'd expression; at 10^12 vectors this keeps
    the bucketing stage entirely JVM-side.
    Terms accumulate left-to-right, matching DuckDB list_sum order —
    bit-identical dots, so bucket assignment is oracle-checkable."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    sk = None
    for j in range(n_planes):
        dot = None
        for d in range(dim):
            t = F.element_at(v, d + 1) * F.lit(_rademacher_sign(j, d))
            dot = t if dot is None else dot + t
        bit = F.when(dot > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sk = bit if sk is None else sk + bit
    return sk


def _multiprobe_verify(base: DataFrame, n_planes: int, threshold: float) -> DataFrame:
    """Shared bucket-join + exact-cosine verify for sign sketches:
    probe the exact sketch plus every single-bit flip (misses only
    pairs whose sketches differ in ≥2 bits)."""
    # the sketch expression (n_planes × dim literal products) feeds BOTH
    # join sides (probes and exact); repartitioning `base` puts that
    # computation below one canonical exchange both consumers reuse
    # (same single-compute pattern as lsh_candidate_pairs — exchange
    # reuse dedupes exchanges, not the compute above them)
    # hoist each vector's norm to the per-ROW side: candidate pairs
    # outnumber rows ~70:1 here, and cosine_sim_col re-aggregates BOTH
    # norms per pair (interpreted higher-order sums).  sqrt(Σv²) is the
    # same expression either way, so dot/(na·nb) is bit-identical.
    base = base.withColumn(
        "nv", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    )
    base = _reuse_repartition(base, base, "id")
    probes = base.select(
        "id",
        "v",
        "nv",
        F.explode(
            F.array(
                F.col("sk"),
                *[F.col("sk").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
            )
        ).alias("bucket"),
    )
    exact = base.withColumnRenamed("sk", "bucket")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        probes.alias("a")
        .join(exact.alias("b"), "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (dot / (F.col("a.nv") * F.col("b.nv"))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def embedding_near_dup_pairs_col(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = None,
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold.  Random-hyperplane
    LSH bucket join on the deterministic pure-Column Rademacher sign
    sketch, multi-probed over every single-bit flip, then exact cosine
    verify — oracle-checkable and fully JVM-side."""
    if dim is None:
        row = df.select(F.size(vec_col).alias("d")).first()
        if row is None:  # empty input → empty pair set, correctly typed
            return df.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0.0).alias("cosine"),
            ).where(F.lit(False))
        dim = int(row["d"])
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).withColumn(
        "sk", rademacher_sketch_col("v", dim, n_planes)
    )
    return _multiprobe_verify(base, n_planes, threshold)


# ---------------------------------------------------------------------------
# duplicate clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------

def _large_star(edges):
    """Large-star (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014): every node u connects each STRICTLY
    LARGER neighbor to the minimum of its closed neighborhood."""
    nbrs = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        nbrs.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("src", "mn").alias("m"))
    )
    return (
        nbrs.where(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges):
    """Small-star: orient every edge downward (src > dst), then each
    node connects its smaller neighbors (and itself) to the minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    out1 = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    out2 = mins.select("src", F.col("m").alias("dst"))
    return out1.union(out2).where(F.col("src") != F.col("dst")).distinct()


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) via alternating large-star / small-star — the
    O(log n)-round connected-components algorithm (Kiveris et al.
    2014); `component` = the minimum id reachable from the vertex.
    Convergence does not depend on component DIAMETER: a path graph
    that costs min-label propagation O(n) rounds finishes in O(log n)
    here, which is what survives 100 TB near-dup graphs with
    super-node boilerplate clusters.  Every round is two groupBy-min +
    join passes on the node key.

    Lineage is truncated with localCheckpoint every third round;
    non-convergence raises loudly (never silently-wrong labels)."""
    # materialize the PAIR GRAPH exactly once: both `edges` (counted
    # eagerly below) and `vertices` (consumed only by the final
    # singleton anti-join) derive from it, and without this the
    # vertices branch re-evaluates the caller's full pair pipeline —
    # for the LSH near-dup graph that is the entire signature/band/
    # verify cascade a second time (measured: the clustering query's
    # wall was ~2× the pair query's for this reason alone)
    pairs = pairs.select(
        F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b")
    ).persist()
    pairs.count()
    id_a, id_b = "id_a", "id_b"
    vertices = (
        pairs.select(F.col(id_a).alias("id"))
        .union(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    n_prev = edges.count()

    try:
        converged = False
        for it in range(max_iter):
            new_edges = _small_star(_large_star(edges))
            if (it + 1) % 3 == 0:
                new_edges = new_edges.localCheckpoint(eager=False)
            new_edges = new_edges.persist()
            n_new = new_edges.count()
            # star-saturation test: stable iff the edge SET is unchanged
            same = n_new == n_prev and (
                new_edges.join(
                    edges, ["src", "dst"], "left_anti"
                ).isEmpty()
            )
            n_prev = n_new
            edges.unpersist()
            edges = new_edges
            if same:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                "connected_components_star did not converge in %d rounds — "
                "raise max_iter (each round halves tree heights, so this "
                "implies a pathologically large graph)" % max_iter
            )
        members = edges.select(
            F.col("src").alias("id"), F.col("dst").alias("component")
        )
        # everything not a non-root member labels itself: component
        # roots AND nodes that only ever appeared in self-pairs
        # (src==dst edges are dropped above, but the node still gets a
        # singleton label)
        selfs = vertices.join(members, "id", "left_anti").select(
            "id", F.col("id").alias("component")
        )
        # the returned frame still reads the cached `pairs`/`edges`
        # (via the vertices anti-join and the iteration chain whose
        # persisted/checkpointed blocks the finally below releases);
        # materialize it first so callers get a self-contained frame
        # instead of silently re-running the whole cascade on first use
        from ..lineage import eager_local_checkpoint

        return eager_local_checkpoint(members.union(selfs))
    finally:
        edges.unpersist()
        pairs.unpersist()
        vertices.unpersist()


def contamination_check(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark DECONTAMINATION: (train doc_id, n_hits) for every
    training document sharing a token trigram with ANY benchmark
    document, n_hits being its number of distinct shared trigrams — the
    standard eval-leakage guard in training-data pipelines.

    Scale shape: the benchmark shingle set is tiny relative to the
    corpus (eval suites are MBs) and is BROADCAST, so the training
    side's `shingle_rows` are only scanned into the broadcast join;
    only the hits reach the distinct count per doc, so unmatched corpus
    shingles never cross a shuffle.  A small training side is fanned
    out by the id (`parallel.fan_out`) and the count needs no further
    exchange; on a large one the distinct aggregate exchanges the hit
    rows twice, on (id, shingle) and then on id.  A NULL text's NULL
    shingle never matches the equi-join."""
    from ..parallel import fan_out

    t = shingle_rows(fan_out(train, id_col), id_col, text_col, hashed=False)
    b = shingle_rows(bench, id_col, text_col, hashed=False).select("s").distinct()
    return (
        t.join(F.broadcast(b), "s")
        .groupBy("id")
        .agg(F.countDistinct("s").cast("long").alias("n_hits"))
        .select(F.col("id").alias(id_col), "n_hits")
    )
