"""Similarity search over embedding columns.

  brute_force_topk — exact cosine top-k (baseline / oracle-checkable):
    broadcast the (small) query set, pure Column dot products, window
    top-k.  O(n·q) but embarrassingly parallel and shuffle-free until
    the final top-k.

  ivf_topk — the scale path: k-means-style coarse quantizer (fit on a
    sample, driver-side numpy), every vector assigned to its nearest
    centroid ("inverted list"); queries probe only the n_probe nearest
    lists.  Recall < 1.0 by construction; the probe count trades recall
    for the fraction of the table scanned — at 100 TB the scan hits
    ~n_probe/n_lists of the data and partitions prune on `list_id`.

  PQIndex — product quantization, the STORAGE scale path (and,
    composed with IVF's list pruning, the classic IVF-PQ): each
    vector is split into `m` subspaces and each subvector replaced by
    the id of its nearest codebook entry, so a d-dim float vector
    (4d bytes) becomes m small ints — 16× smaller at d=128, m=32.  At
    the 10^12-doc target that is the difference between an index that
    fits in cluster memory and one that doesn't.  Scoring is ADC
    (asymmetric distance computation): per query, a LUT of
    (subspace → code → partial inner product) is precomputed
    driver-side from the small query set and broadcast as a plain
    array<array<double>> column; the per-vector score is then PURE
    Column math — zip_with(codes, lut) element_at lookups folded with
    aggregate — inside whole-stage codegen.  Python touches each
    vector exactly once (the encode pandas_udf); the scored join and
    top-k never leave the JVM.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import cosine_sim_col


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = None,
) -> DataFrame:
    """(query_id, vec_id, cosine, rank): exact top-k by cosine.
    `queries` must be small (it is broadcast)."""
    from ..parallel import fan_out

    qid = query_id_col or id_col
    q = queries.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("qv"))
    v = fan_out(
        vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    )
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_sim_col(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


class IVFIndex:
    """Driver-held coarse quantizer (numpy k-means on a sample)."""

    def __init__(self, centroids):
        self.centroids = np.asarray(centroids, dtype=np.float64)

    @classmethod
    def fit(cls, vectors: DataFrame, n_lists: int = 16, vec_col: str = "embedding",
            sample_rows: int = 2000, iters: int = 10, seed: int = 42):
        sample = np.array(
            [r[0] for r in vectors.select(vec_col).limit(sample_rows).collect()],
            dtype=np.float64,
        )
        sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
        rng = np.random.default_rng(seed)
        cent = sample[rng.choice(len(sample), size=min(n_lists, len(sample)), replace=False)]
        for _ in range(iters):
            sims = sample @ cent.T
            assign = sims.argmax(axis=1)
            for c in range(len(cent)):
                members = sample[assign == c]
                if len(members):
                    v = members.mean(axis=0)
                    cent[c] = v / max(np.linalg.norm(v), 1e-12)
        return cls(cent)

    def _assign_udf(self, spark, n_best: int):
        from pyspark.sql.functions import pandas_udf

        bc = spark.sparkContext.broadcast(self.centroids)

        @pandas_udf("array<int>")
        def assign(vecs: pd.Series) -> pd.Series:
            cent = bc.value
            m = np.stack(vecs.to_numpy()).astype(np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ cent.T
            idx = np.argsort(-sims, axis=1)[:, :n_best]
            return pd.Series([row.tolist() for row in idx])

        return assign

    def assign_lists(self, vectors: DataFrame, vec_col: str = "embedding") -> DataFrame:
        """Add `list_id` — at scale this is the partition/bucket column."""
        from ..parallel import fan_out

        vectors = fan_out(vectors)
        assign = self._assign_udf(vectors.sparkSession, 1)
        return vectors.withColumn(
            "list_id", F.try_element_at(assign(F.col(vec_col)), F.lit(1))
        )

    def topk(
        self,
        indexed: DataFrame,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """ANN top-k: probe the n_probe nearest lists per query."""
        assign = self._assign_udf(indexed.sparkSession, n_probe)
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.explode(assign(F.col(vec_col))).alias("list_id"),
        )
        v = indexed.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"), "list_id"
        )
        scored = (
            v.join(F.broadcast(q), "list_id")
            .where(F.col("query_id") != F.col("vec_id"))
            .select(
                "query_id", "vec_id", cosine_sim_col(F.col("qv"), F.col("v")).alias("cosine")
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc()
        )
        return scored.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )


class PQIndex:
    """Product quantizer: per-subspace codebooks held on the driver
    (the same deployment shape as IVFIndex — codebooks are a few KB
    and broadcast; the ENCODED table is what lives at scale).

    `codebooks` is a list of m (k_j, dsub) float64 arrays — ragged k_j
    is allowed (fit_lossless produces exactly the observed vocabulary
    per subspace, which is what makes the exact-regime driver gate
    provable: when every subvector in the data appears in its
    subspace's codebook, encoding is LOSSLESS and ADC inner products
    equal the uncompressed ones term-for-term)."""

    def __init__(self, codebooks):
        self.codebooks = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
        dsub = {cb.shape[1] for cb in self.codebooks}
        if len(dsub) != 1:
            raise ValueError("codebook subspace widths differ: %s" % sorted(dsub))
        self.dsub = dsub.pop()
        self.m = len(self.codebooks)
        self.dim = self.m * self.dsub

    @classmethod
    def fit(cls, vectors: DataFrame, m: int = 8, n_codes: int = 256,
            vec_col: str = "embedding", sample_rows: int = 2000,
            iters: int = 10, seed: int = 42):
        """Per-subspace k-means on a driver-side sample (bounded —
        same contract as IVFIndex.fit)."""
        sample = np.array(
            [r[0] for r in vectors.select(vec_col).limit(sample_rows).collect()],
            dtype=np.float64,
        )
        if sample.size == 0:
            raise ValueError("empty vectors frame")
        if sample.shape[1] % m:
            raise ValueError("dim %d not divisible by m=%d" % (sample.shape[1], m))
        dsub = sample.shape[1] // m
        rng = np.random.default_rng(seed)
        books = []
        for j in range(m):
            sub = sample[:, j * dsub:(j + 1) * dsub]
            uniq = np.unique(sub, axis=0)
            k = min(n_codes, len(uniq))
            cent = uniq[rng.choice(len(uniq), size=k, replace=False)]
            for _ in range(iters):
                d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                for c in range(k):
                    members = sub[assign == c]
                    if len(members):
                        cent[c] = members.mean(axis=0)
            books.append(cent)
        return cls(books)

    @classmethod
    def fit_lossless(cls, vectors: DataFrame, m: int,
                     vec_col: str = "embedding", sample_rows: int = 100000,
                     n_codes: int = 256):
        """Codebook = the DISTINCT subvectors per subspace (computed
        IN SPARK — exact over the whole table, not a sample; the
        driver only collects the ≤ m·n_codes distinct values).  Raises
        if any subspace's vocabulary exceeds `n_codes` — the caller's
        signal that the data isn't in the lossless regime and `fit`
        (lossy k-means) is the right tool.  In the lossless regime
        encoding loses nothing, so PQ top-k == brute-force top-k —
        the property the driver gate checks."""
        first = vectors.select(F.size(vec_col).alias("d")).first()
        if first is None:
            raise ValueError("empty vectors frame")
        dim = first["d"]
        if dim % m:
            raise ValueError("dim %d not divisible by m=%d" % (dim, m))
        dsub = dim // m
        subs = vectors.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.slice(F.col(vec_col), j * dsub + 1, dsub).cast(
                            "array<double>"
                        ).alias("sub"),
                    )
                    for j in range(m)
                ])
            ).alias("s")
        ).select("s.j", "s.sub").distinct()
        rows = subs.limit(m * n_codes + 1).collect()
        if len(rows) > m * n_codes:
            raise ValueError(
                "more than %d distinct subvectors overall; not in the "
                "lossless regime — use fit()" % (m * n_codes)
            )
        books = [[] for _ in range(m)]
        for r in rows:
            books[r["j"]].append(r["sub"])
        for j, b in enumerate(books):
            if not b:
                raise ValueError("subspace %d has no vectors" % j)
            if len(b) > n_codes:
                raise ValueError(
                    "subspace %d has %d distinct subvectors (> n_codes=%d); "
                    "not in the lossless regime — use fit()"
                    % (j, len(b), n_codes)
                )
            b.sort()  # deterministic code ids
        return cls([np.asarray(b, dtype=np.float64) for b in books])

    def encode(self, vectors: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding", keep=()) -> DataFrame:
        """(id, vnorm, codes: array<int>) — the compressed table.  One
        vectorized Arrow pass: per subspace, a (batch × k) squared-
        distance matrix and an argmin; no per-row Python.  `keep`
        names extra columns to carry through (e.g. IVF's list_id for
        the IVF-PQ composition).  `vnorm` is the EXACT L2 norm of the
        raw vector (pure Column math, 8 bytes/row): it is what lets
        `topk(metric='cosine')` rank by true-norm cosine instead of
        raw inner product — without it, ADC's IP ranking would
        systematically favor large-norm vectors and no shortlist size
        could bound the cosine recall loss."""
        from pyspark.sql.functions import pandas_udf

        from ..parallel import fan_out

        bc = vectors.sparkSession.sparkContext.broadcast(
            [cb for cb in self.codebooks]
        )
        dsub, m = self.dsub, self.m

        @pandas_udf("array<int>")
        def enc(vecs: pd.Series) -> pd.Series:
            books = bc.value
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            codes = np.empty((len(mat), m), dtype=np.int32)
            for j in range(m):
                sub = mat[:, j * dsub:(j + 1) * dsub]
                cb = books[j]
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² is rank-
                # invariant per row, so argmin over (-2x·c + ||c||²)
                d2 = (cb * cb).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
                codes[:, j] = d2.argmin(axis=1)
            return pd.Series(list(codes))

        out = fan_out(vectors).select(
            F.col(id_col).alias("vec_id"),
            *keep,
            F.sqrt(
                F.aggregate(
                    F.col(vec_col).cast("array<double>"),
                    F.lit(0.0),
                    lambda acc, x: acc + x * x,
                )
            ).alias("vnorm"),
            enc(F.col(vec_col)).alias("codes"),
        )
        return out

    def _query_luts(self, queries: DataFrame, id_col: str, vec_col: str,
                    normalize: bool = False):
        """Collect the (small, broadcast-bound) query set and build
        each query's ADC lookup table: lut[j][c] = q_sub_j · codebook
        entry c — plain Python lists, shipped as one literal-free
        createDataFrame (queries are small by the same contract as
        brute_force_topk's broadcast)."""
        rows = queries.select(F.col(id_col), F.col(vec_col)).collect()
        dsub = self.dsub
        out = []
        for r in rows:
            q = np.asarray(r[1], dtype=np.float64)
            if normalize:
                n = float(np.linalg.norm(q))
                if n > 0.0:
                    q = q / n
            lut = [
                (q[j * dsub:(j + 1) * dsub] @ self.codebooks[j].T).tolist()
                for j in range(self.m)
            ]
            out.append((r[0], lut))
        return out

    def topk(self, encoded: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             list_col: str = None, ivf: "IVFIndex" = None,
             n_probe: int = 4, rerank_with: DataFrame = None,
             shortlist: int = None, metric: str = "ip") -> DataFrame:
        """(query_id, vec_id, score, rank): ADC inner-product top-k
        over the ENCODED table.  With `ivf`+`list_col` the probe join
        keys on the IVF list (IVF-PQ): only ~n_probe/n_lists of the
        codes table is scored, and at scale the `list_col` partition
        column prunes the scan.  Scoring is pure Column math: the
        broadcast side carries each query's LUT as
        array<array<double>> and the score folds
        element_at(lut_row, code+1) with aggregate — JVM codegen,
        nothing crosses Arrow here.

        `metric` selects what the scores MEAN — and both stages use
        the same one, so shortlist membership is only ever off by
        quantization noise, never by a metric mismatch: 'ip' (default)
        ranks by raw inner product; 'cosine' divides the LUT by ||q||
        driver-side and the ADC sum by the encoded table's EXACT
        per-vector `vnorm` column, so the ADC score IS the cosine up
        to subvector quantization (vectors need not be pre-normalized).

        `rerank_with` (the uncompressed (id, vector) table) switches
        on the production two-stage shape: ADC ranks a SHORTLIST of
        `shortlist` (default 10·k) candidates per query — quantization
        noise only has to keep true neighbors inside the shortlist,
        not in exact order — then the shortlist (tiny: queries ×
        shortlist rows, broadcast) joins back to the full vectors and
        the final top-k is EXACT (same `metric`, uncompressed) over
        just those candidates.  At scale the expensive corpus never
        materializes floats for more than queries·shortlist rows."""
        if metric not in ("ip", "cosine"):
            raise ValueError("metric must be 'ip' or 'cosine', got %r" % (metric,))
        spark = encoded.sparkSession
        luts = self._query_luts(queries, id_col, vec_col,
                                normalize=(metric == "cosine"))
        lut_schema = (
            "query_id long, lut array<array<double>>"
            if luts and isinstance(luts[0][0], int)
            else "query_id string, lut array<array<double>>"
        )
        if ivf is not None and list_col:
            probe = {
                r[0]: r[1]
                for r in queries.select(
                    id_col,
                    ivf._assign_udf(spark, n_probe)(F.col(vec_col)),
                ).collect()
            }
            q = spark.createDataFrame(
                [
                    (qid, lut, lst)
                    for qid, lut in luts
                    for lst in probe[qid]
                ],
                lut_schema + ", %s int" % list_col,
            )
            joined = encoded.join(F.broadcast(q), list_col)
        else:
            q = spark.createDataFrame(luts, lut_schema)
            joined = encoded.crossJoin(F.broadcast(q))
        score = F.aggregate(
            F.zip_with(
                "codes", "lut",
                lambda c, row: F.element_at(row, c + F.lit(1)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if metric == "cosine":
            score = score / F.col("vnorm")
        scored = joined.where(F.col("query_id") != F.col("vec_id")).select(
            "query_id", "vec_id", score.alias("score")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("vec_id").asc()
        )
        if rerank_with is None:
            return scored.withColumn("rank", F.row_number().over(w)).where(
                F.col("rank") <= k
            )
        short = (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= (shortlist or 10 * k))
            .select("query_id", "vec_id")
        )
        qv = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        cand = rerank_with.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
        ).join(F.broadcast(short), "vec_id")
        if metric == "cosine":
            exact_score = cosine_sim_col(F.col("qv"), F.col("v"))
        else:
            exact_score = F.aggregate(
                F.zip_with(
                    F.col("qv").cast("array<double>"),
                    F.col("v").cast("array<double>"),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        exact = cand.join(F.broadcast(qv), "query_id").select(
            "query_id",
            "vec_id",
            exact_score.alias("score"),
        )
        return exact.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )
