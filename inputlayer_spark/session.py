"""SparkSession factory tuned for the engine.

Defaults follow the scale guidance in SURVEY.md: AQE on (runtime re-plan,
skew-join splitting), broadcast threshold generous enough that dimension
tables broadcast, shuffle partitions sized for local[32] testing while the
same code paths (hash joins on keys, partial aggregation) hold on a real
cluster where `spark.sql.shuffle.partitions` is raised.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce small shuffles to their data size, not default parallelism:
    # fixpoint deltas are the smallest frames in the system and would
    # otherwise fan out to 32 near-empty tasks per iteration. This replaces
    # the (thread-unsafe) per-query shuffle.partitions mutation the
    # fixpoint used to do.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # IQL is dynamically typed: 100/0 yields null, not an error
    # (golden 11_types/19_null_handling.iql), and bad casts yield null.
    # Spark 4 defaults ANSI on; the reference's semantics are non-ANSI.
    "spark.sql.ansi.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.ui.enabled": "false",
    # Datalog fixpoints build deep union lineages; keep plan strings small.
    "spark.sql.maxPlanStringLength": "1048576",
    # testdata events.parquet uses TIMESTAMP(NANOS); read as long nanos
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Small single-file tables otherwise scan as 1 partition, serializing
    # compute-heavy narrow pipelines (shingling, hashing) onto one core.
    # On a real cluster this floor is the executor-core count. The
    # openCostInBytes default (4 MB) floors the split size, which defeats
    # minPartitionNum exactly on the small local files — lower it so the
    # split honors the requested parallelism (no effect at 100 TB where
    # files dwarf both constants).
    "spark.sql.files.minPartitionNum": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.files.openCostInBytes": "131072",
    # Whole-stage codegen emits one janino class per stage; a many-query
    # session (bench: 19 queries × 2 passes, some with 64-aggregate
    # signatures) overflows the JVM's default 240 MB code cache, after
    # which hot generated methods run deoptimized — measured as every
    # late-session query going 2-3× slower. Local mode: driver JVM = the
    # only executor JVM, so one knob covers both.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
    # Fixpoint loops shed checkpoint/broadcast blocks only after a JVM GC
    # (ContextCleaner); the 30min default lets dead blocks pile up and
    # slow later queries in long sessions.
    "spark.cleaner.periodicGC.interval": "45s",
}


def get_spark(app_name: str = "inputlayer-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    for key, value in _DEFAULTS.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def small_local_df(spark: SparkSession, rows, schema):
    """Materialize driver-local rows as a pinned, few-partition DataFrame.

    A plain createDataFrame(list) embeds a Python LocalRelation that
    re-pays serialization+planning on every downstream action (measured
    ~1.3s per action for a 199-row frame); going through parallelize with
    an explicit slice count and eagerly checkpointing yields a JVM-side
    RDD leaf whose downstream actions cost ~0.15s. Slices scale with row
    count so multi-million-row local results still parallelize."""
    rows = list(rows)
    slices = max(1, min(32, len(rows) // 50_000))
    rdd = spark.sparkContext.parallelize(rows, slices) if rows else (
        spark.sparkContext.emptyRDD()
    )
    return spark.createDataFrame(rdd, schema=schema).localCheckpoint(eager=True)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created session.

    Used by the driver entry points, which receive a SparkSession we did not
    build. Only runtime-mutable confs are touched (not driver memory etc.);
    a session that refuses one raises instead of running without it.
    """
    for key in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.ansi.enabled",
        "spark.sql.files.minPartitionNum",
        "spark.sql.files.openCostInBytes",
        "spark.sql.session.timeZone",
    ):
        spark.conf.set(key, _DEFAULTS[key])
    return spark
