"""SparkSession helpers + package self-distribution.

On a real cluster this engine ships via ``spark-submit --py-files
engine.zip`` (BASELINE.json north_star).  ``attach_package`` replicates
that from any driver process: it zips the installed package directory
and registers it with ``sc.addPyFile`` so executor-side Python workers
(pandas UDFs, applyInPandas, mapInPandas) can import it regardless of
the driver's cwd/sys.path."""

from __future__ import annotations

import os
import tempfile
import zipfile


def package_zip(path=None):
    """Zip the package source tree; returns the zip path."""
    pkg_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.dirname(pkg_dir)
    name = os.path.basename(pkg_dir)
    if path is None:
        # per-process name: concurrent driver JVMs (multi-JVM scaling
        # evidence, parallel test runs) must not truncate a zip another
        # process's executors are still reading
        path = os.path.join(
            tempfile.gettempdir(), "%s_pyfiles_%d.zip" % (name, os.getpid())
        )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                zf.write(full, os.path.relpath(full, root))
    return path


def attach_package(spark):
    """Make this package importable on executors (--py-files equivalent)."""
    spark.sparkContext.addPyFile(package_zip())
    return spark


def default_session(master=None, app_name="spark-osm-export", shuffle_partitions=None, extra_conf=None):
    """Engine-tuned local session.  At cluster scale the same confs are
    passed to spark-submit; here they size local[N] runs:

      - AQE on (runtime skew-join splitting + partition coalescing),
      - shuffle partitions default 2× cores (bounded small-file churn
        locally; production would use 100-200% of total cores),
      - Arrow enabled for every pandas UDF crossing.

    Cached-frame compression stays at Spark's default (ON): measured
    ~15-20% faster UNcompressed on the 24M-doc export at 32 cores
    (`spark.sql.inMemoryColumnarStorage.compressed=false` via
    extra_conf) because the caches fit in memory easily here — but at
    cluster scale executor storage memory is the scarce resource and
    compressed caches keep the working set resident, so the default is
    the scale-correct choice.
    """
    from pyspark.sql import SparkSession

    # Keep large Arrow/numpy buffers on the glibc heap instead of
    # per-allocation mmap: glibc munmaps every freed mmap'd block, so
    # an Arrow-batched kernel (exact tiles, clip, relation assembly)
    # re-page-faults its buffers on EVERY batch — and this VM's fault
    # path collapses ~2.8x under 8 concurrent allocators (alloc probe
    # 7.9 GB/s/proc at 1 busy core -> 2.6 at 8).  Raising the mmap
    # threshold makes free() retain the pages (arena reuse, faulted
    # once).  Set in the driver env BEFORE the JVM starts so the
    # pyspark worker daemon (forked from the JVM) inherits it; the
    # executorEnv conf below carries the same setting to real
    # clusters.  Measured on the 24M-doc pinned local[8] export:
    # 336.3 s -> 271.2 s (identical outputs).  setdefault — an
    # explicit caller/env choice wins.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))

    cpus = os.cpu_count() or 8
    master = master or "local[%d]" % cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (coalesce/skew-split) shuffles UNDER persisted
        # frames too — the export pipeline persists its decoded entities
        # / way-coords / themed frames, and with the default (false) every
        # cached plan keeps the static partition count: measured 2.3x on
        # the themed-export pipeline (9s vs 21s) plus far lower variance,
        # because hundreds of near-empty tasks disappear
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Join strategy (guide-standard baseline, not a local[32] trick):
        # let the planner pick shuffled-hash over sort-merge when its
        # size conditions fit (skips both sorts), let AQE rewrite
        # SMJ→SHJ at runtime when every post-shuffle partition is small,
        # and raise the broadcast gate from 10 MB to 64 MB — parquet
        # scan estimates are compressed-file-size-based, so a 10 MB gate
        # refuses e.g. the 27 MB orders side of the revenue join whose
        # built hash relation is well within executor budgets; 64 MB of
        # compressed build side is conservative for any executor this
        # engine targets (the guide's own guidance: a few hundred MB
        # broadcast is routinely fine).  Measured on the driver-scale
        # revenue join (6 M × 1.5 M rows): SMJ 2 exchanges → BHJ 0.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 << 20),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: driver == executor; the 1g default heap thrashes
        # GC as soon as many tasks run concurrently
        .config("spark.driver.memory", os.environ.get("SPARK_OSM_DRIVER_MEM", "24g"))
        .config("spark.driver.maxResultSize", "4g")
        # G1's concurrent phases collapse under many runner threads in
        # this virtualized sandbox (measured 2.5x slowdown at 32
        # threads); throughput GC restores parallel scaling
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # cluster form of the malloc tuning above (local workers
        # inherit the driver env; executors on real clusters need it
        # in their own env)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", str(1 << 30))
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", str(1 << 30))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or 2 * int(master[6:-1] if master.startswith("local[") and master[6:-1].isdigit() else cpus)),
        )
        # CPU-dense scans (the span decode reads a compressed ~1 GB
        # parquet and expands it ~5x while decoding, see the
        # lineage.AUTO_PARQUET_THRESHOLD note) split far below
        # the session's core count at the default 128 MiB
        # maxPartitionBytes: the 24M-doc scaling input arrives as 11
        # tasks, which over 8 cores is an 8+3 two-wave schedule — 5
        # cores idle for half the stage.  Suggesting >= 4 waves per
        # core rebalances it (measured 508 s -> 336 s end-to-end at
        # pinned local[8], identical outputs).  Scale-safe: on a
        # 100 TB input maxPartitionBytes dominates and this suggestion
        # is a no-op; it only bites when files-per-core is small.
        .config(
            "spark.sql.files.minPartitionNum",
            str(4 * int(master[6:-1] if master.startswith("local[") and master[6:-1].isdigit() else cpus)),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    attach_package(spark)
    return spark
