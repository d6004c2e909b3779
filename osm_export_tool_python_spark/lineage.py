"""Lineage truncation for multi-action pipelines.

Why this exists: every Spark action re-analyzes and re-optimizes the
FULL logical plan of its DataFrame — caching a frame shortcuts the
*execution* but not the *planning*.  A pipeline that materializes
several intermediates (decode → assembly → clip → theme fan-out →
tiles) therefore pays Catalyst over an ever-deepening tree once per
action; on the themed-export benchmark this driver-side planning was
measured at ~2-4 s PER ACTION by the time the tree contains the span
decode, two joins, the relation assembler and a four-way union —
roughly half the end-to-end wall time at small scale, and the main
source of run-to-run variance.

``eager_local_checkpoint`` materializes a frame AND replaces its plan
with a flat ``LogicalRDD`` scan, so every downstream action plans
against a one-node tree.  Trade-off (why this is NOT the default for
every persist): ``localCheckpoint`` stores raw row partitions on the
executors and *truncates lineage*, so losing an executor loses the
partition unrecoverably (a plain ``persist`` recomputes from lineage,
and a reliable ``checkpoint()`` writes to HDFS/object storage).  At
cluster scale with long-running stages the planning cost is amortized
and fault tolerance dominates — use ``persist``.  For latency-bound
jobs (small batches, interactive exports, benchmarks) planning
dominates — use the checkpoint.  Callers choose via the
``checkpoint=`` flag on ``assemble_features`` / ``export``.

``release`` frees either kind: the cache-manager entry for persisted
frames, and the underlying checkpointed RDD (reached through the
``LogicalRDD`` plan node) for locally-checkpointed ones — plain
``DataFrame.unpersist()`` silently no-ops on those, which leaks the
stored partitions for the lifetime of the session.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame

from .parallel import _UNKNOWN_SIZE_FLOOR, _plan_size_bytes


def eager_local_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize now; return a frame whose plan is a flat RDD scan."""
    return df.localCheckpoint(eager=True)


def eager_parquet_checkpoint(df: DataFrame, path: str | None = None) -> DataFrame:
    """Materialize to snappy parquet and re-read: lineage-flat AND columnar.

    Same lineage-truncation benefit as ``eager_local_checkpoint`` (the
    returned frame plans against a one-node parquet relation), but the
    store is encoded/compressed columnar instead of raw rows, which
    changes the scaling shape on memory-bandwidth-bound hosts:

      measured at 24.2 M docs, pinned cores, 12 g heap/core
      (BENCH/DECODE_AB.json — the decoded-entities frame, whose raw
      row store is ~14.5 GB):

        materialize           2 cores     8 cores    2→8 efficiency
        localCheckpoint       575.7 s     278.1 s        0.52
        parquet write         504.9 s     146.1 s        0.86
        re-read (sum col)       1.4 s       1.0 s     column-pruned

    The parquet store wins on BOTH axes — 1.9x faster to materialize at
    8 cores and near-linear scaling — because the row store writes the
    full decoded width through a ~0.8 GB/s parallel-membw ceiling while
    parquet moves ~10x fewer bytes, and downstream consumers read ONLY
    the columns they touch (the row store always deserializes whole
    rows).  Cluster note: pointed at durable storage (pass ``path`` on
    HDFS/S3) this is a *reliable* checkpoint — executor loss recomputes
    nothing — strictly better fault tolerance than localCheckpoint's
    job-fatal executor affinity.

    ``release`` deletes the temp directory (only when the path was
    allocated here, never a caller-supplied one).
    """
    owns_path = path is None
    if owns_path:
        base = os.environ.get("SPARK_OSM_CKPT_DIR") or None
        path = tempfile.mkdtemp(prefix="osm_pq_ckpt_", dir=base)
    df.write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.parquet(path)
    if owns_path:
        out._osm_pq_ckpt_path = path
    return out


# Auto store selection threshold (bytes of Catalyst's optimizer size
# estimate — for a parquet scan this is roughly COMPRESSED on-disk
# bytes, while the crossover was measured on the decoded row width;
# the decoded entity table's localCheckpoint row store is ~5× the input
# parquet's on-disk bytes — measured 4.5× on the 8k-doc perfbench
# export input and 5.0× on the sf0.1 bench input, OPTIMIZATION_r06.md
# §1c — which the threshold bakes in).
# The two stores win in different regimes, measured on the same
# pipeline with identical outputs: parquet is 15% faster at 24 M docs
# and scales 0.86 vs 0.52 from 2→8 cores (BENCH/AB_CKPT.json,
# BENCH/DECODE_AB.json), but costs ~1 s of write+re-read latency per
# materialization that localCheckpoint doesn't pay — which DOMINATES on
# small interactive batches where the whole pipeline is seconds.  Same
# shape of decision as Spark's own autoBroadcastJoinThreshold: pick the
# physical strategy from the plan's size estimate.
#
# r6: lowered 256 MiB → 64 MiB.  The driver-scale bench batch (550k
# docs) is 24 MB compressed so auto keeps it on localCheckpoint, and
# an ABBA-ordered store A/B at exactly that batch confirms local is
# right there: local won 5/5 clean pairs, min 10.91 vs parquet 11.23,
# med 11.34 vs 12.37 (OPTIMIZATION_r06.md §1c, probe 0.218) — the
# ~1 s/materialization parquet write+re-read latency still dominates
# a seconds-long run.  Parquet's proven regime is the 24M-doc scale
# (the 0.86-vs-0.52 scaling rows above, GB-class decoded row stores);
# 64 MiB of compressed scan ≈ 320 MiB of decoded rows at the ~5×
# expansion above, so auto switches to parquet somewhat before that
# regime.
AUTO_PARQUET_THRESHOLD = 64 << 20


def resolve_auto(df: DataFrame, mode, threshold: int | None = None):
    """Resolve checkpoint mode 'auto' → 'local' | 'parquet' from the
    frame's Catalyst size estimate; any other mode passes through.

    Small frames (est < threshold) take localCheckpoint — the per-
    materialization parquet write+re-read latency dominates a seconds-
    long batch.  Large or UNKNOWN-size frames take parquet — at scale
    the columnar store is both faster and better-scaling, and unknown
    means a stats-less plan that could be anything, so the safe-at-
    scale store wins.  Pipelines should resolve ONCE on their input
    scan (which has real parquet stats) and pass the concrete mode to
    every materialization, so one run never mixes stores."""
    if mode != "auto":
        return mode
    if threshold is None:
        threshold = AUTO_PARQUET_THRESHOLD
    est = _plan_size_bytes(df)
    if est is None or est >= _UNKNOWN_SIZE_FLOOR:
        return "parquet"
    return "parquet" if est >= threshold else "local"


def eager_checkpoint(df: DataFrame, mode) -> DataFrame:
    """Dispatch on checkpoint mode: True/'local' → localCheckpoint,
    'parquet' → parquet write+re-read (columnar, scales better on wide
    frames — see eager_parquet_checkpoint), 'auto' → size-based choice
    for THIS frame (see resolve_auto; pipelines with several
    materializations should resolve once on their input scan
    instead)."""
    if mode == "auto":
        mode = resolve_auto(df, mode)
    if mode is True or mode == "local":
        return eager_local_checkpoint(df)
    if mode == "parquet":
        return eager_parquet_checkpoint(df)
    raise ValueError(
        "unknown checkpoint mode %r (use True, 'local', 'parquet', 'auto')"
        % (mode,)
    )


def _unpersist_checkpoint_rdd(df: DataFrame) -> bool:
    """Best-effort free of a localCheckpoint's stored partitions.

    The checkpointed RDD is held by the plan's ``LogicalRDD`` node;
    ``df.rdd``/``toRdd()`` return *derived* RDDs whose unpersist would
    not free it.  Internal-API access is fenced: on any JVM-interface
    drift this degrades to a no-op (the RDD then lives until session
    stop, never a correctness issue).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
            return True
    except Exception:
        pass
    return False


def release(*dfs: DataFrame) -> None:
    """Free persisted, locally-checkpointed, or parquet-checkpointed
    frames, ignoring failures."""
    for df in dfs:
        if df is None:
            continue
        try:
            df.unpersist()
        except Exception:
            pass
        _unpersist_checkpoint_rdd(df)
        pq_path = getattr(df, "_osm_pq_ckpt_path", None)
        if pq_path:
            shutil.rmtree(pq_path, ignore_errors=True)
