"""SparkSession factory tuned for the oboyu_spark engine.

Local mode is the test/bench target (single JVM); the configs are chosen
so the same code lays out a scale-ready plan on a real cluster:
AQE on (runtime re-plan + skew-join handling), shuffle partitions sized
to cores locally (would be ~2-3x total cores on a cluster), Arrow
enabled for the pandas-UDF paths, UTC session timezone so results are
comparable with the DuckDB oracle.

Python workers fork from the engine's own daemon module
(``oboyu_spark._pydaemon``; the package root goes on the workers'
PYTHONPATH so it imports from any driver cwd). On Python < 3.13 every
Python task starts with ``importlib.invalidate_caches()``, which makes
each cached ``zipimporter`` for a package inside ``pyspark.zip``
re-read the archive's central directory: ≈0.1 s per task, more than a
warm query's scoring. The daemon re-reads an archive only when it
changed. From Python 3.13 ``zipimport`` only drops its cache there, and
the daemon is plain ``pyspark.daemon``. On a cluster the package must be
installed in the executors' Python: the daemon starts before a task
fetches any ``--py-files``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# one warmup per application id — repeated get_spark() calls reuse the
# session and must not re-pay it
_WARMED: set[str] = set()


def _warm_jit(spark: SparkSession) -> None:
    """Exercise the engine's hot machinery once on synthetic rows so a
    fresh JVM's first REAL job doesn't pay the interpreter/C2-compile
    tax (r8, guide §1: the first build of a cold session measured
    ~7 s slower than the same build warm; this moves that cost out of
    every user-facing first action into session startup). Covers:
    codegen'd string split/explode, two-level hash aggregate + shuffle,
    range partitioning + sort + parquet write/read, and the
    Arrow/pandas worker path. Synthetic data only — never touches user
    tables, caches no results."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    # every stage runs at FULL parallelism (r8 cont.): the first cut of
    # this warmup used 4-8 partitions, which spawns only 4-8 of the
    # per-core Python worker daemons and initializes the parquet writer
    # on as few cores — the first real 32-task build then still paid
    # ~8 s of worker spawn + numpy/pandas import + writer init on the
    # remaining cold cores (measured: first build 17.7 s vs 8.9 s warm
    # at bench geometry AFTER the narrow warmup)
    par = max(4, spark.sparkContext.defaultParallelism)
    (spark.range(0, 100_000, 1, par)
     .select("id", F.explode(
         F.split(F.repeat(F.lit("a b c "), 3), " ")).alias("t"))
     .groupBy("t").count().count())
    d = tempfile.mkdtemp(prefix="spark_warm_")
    try:
        (spark.range(0, 50 * par, 1, par)
         .select("id", F.format_string("s%d", F.col("id")).alias("s"))
         .repartitionByRange(par, "id").sortWithinPartitions("id")
         .write.mode("overwrite").parquet(d))
        spark.read.parquet(d).groupBy().count().collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)

    def _warm_pandas(it):
        # the heavy per-worker one-time cost is the import chain the
        # real encode/embed tasks pull in — pay it here, once per
        # worker daemon (spark.python.worker.reuse keeps them alive)
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        for batch in it:
            yield batch

    (spark.range(0, 50 * par, 1, par)
     .mapInPandas(_warm_pandas, schema="id long")
     .write.format("noop").mode("overwrite").save())


def get_spark(
    app_name: str = "oboyu_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle
    partitions default to the core count (local mode rule of thumb;
    AQE coalesces downward when partitions are tiny).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        if isinstance(cores, int) or (isinstance(cores, str) and cores.isdigit()):
            shuffle_partitions = max(int(cores), 4)
        else:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # snappy, not zstd: measured 2.1x faster end-to-end index build
        # (zstd compression dominated the staged/postings writes)
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Throughput GC: the index build is an allocation-heavy string
        # workload (tokenize → explode → hash-agg); default G1 showed
        # heavy multi-thread degradation at local[32] in this sandbox
        # (2-3x wall-time vs ParallelGC on the same stage).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # Spark compiles a generated class (Janino, ≈5 ms) on every
        # codegen-cache miss. At the default 100 entries an ingest run
        # (≈150 classes: stage, part build, finalize, diff) evicts its
        # own classes, so every warm build + sync recompiled 80-130 of
        # them on the thread that submits the job. A query run compiles
        # 730-830, mostly one-off serving-miss classes (CLAUDE.md).
        # Static conf: it takes effect only when the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.daemon.module", "oboyu_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("OBOYU_SPARK_NO_WARM") != "1":
        app_id = spark.sparkContext.applicationId
        if app_id not in _WARMED:
            _WARMED.add(app_id)
            _warm_jit(spark)
    return spark
