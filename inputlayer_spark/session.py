"""SparkSession factory tuned for the engine.

Defaults follow the scale guidance in SURVEY.md: AQE on (runtime re-plan,
skew-join splitting), broadcast threshold generous enough that dimension
tables broadcast, shuffle partitions sized for local[32] testing while the
same code paths (hash joins on keys, partial aggregation) hold on a real
cluster where `spark.sql.shuffle.partitions` is raised.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


# Row count above which small_local_df pins its leaf. Sweep through
# small_local_df itself on a 4-vCPU VM, local[2], two LONG columns;
# build = median of 3 after a warm-up, actions = median of 5 after 2
# warm-ups of count / join with a 1K-row frame + sum / constant filter
# + collect:
#
#   rows   build unpinned  build + pin  actions unpinned  actions pinned
#   1K        27 ms          150 ms      197/312/36 ms     121/216/54 ms
#   5K        24 ms           90 ms      114/195/31 ms     101/166/58 ms
#   20K       48 ms          156 ms      139/229/44 ms      93/163/67 ms
#   50K      124 ms          275 ms      197/330/69 ms      70/163/50 ms
#   100K     199 ms          457 ms      357/545/133 ms     68/162/63 ms
#   500K    1128 ms         2463 ms    1575/2149/427 ms     92/183/70 ms
#
# Up to 20K rows the pin costs about as much as it saves on the first
# job-running action (a driver-side filter + collect is faster unpinned);
# from 50K on, every action re-ships the rows and pays more than the pin.
LOCAL_LEAF_MAX_ROWS = 20_000


def small_local_df(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """Driver-local rows as a DataFrame built over Arrow.

    The rows become a `pyarrow.Table` typed by the Spark schema, and
    createDataFrame turns it into a JVM-side LocalRelation: no Spark job
    and no Python worker on later actions. Above LOCAL_LEAF_MAX_ROWS the
    leaf is also pinned with an eager localCheckpoint, because every
    action on a large LocalRelation re-ships its rows (see the sweep
    above)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    # one comprehension per column: zip(*rows) took 1.7 s on 800K rows
    table = pa.Table.from_arrays(
        [_arrow_column([r[i] for r in rows], f) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    df = spark.createDataFrame(table, schema)
    return df.localCheckpoint(eager=True) if len(rows) > LOCAL_LEAF_MAX_ROWS else df


def _arrow_column(values, field):
    """One column as an Arrow array of the field's type. Arrow would
    truncate a float into an integer column without a word, so that is
    refused here as Spark's row verifier refuses it. Arrow also takes a
    datetime's wall clock as UTC, while Spark reads a naive one as local
    time (TimestampType.toInternal), so datetimes are moved to UTC first."""
    import pyarrow as pa

    if pa.types.is_integer(field.type) and float in set(map(type, values)):
        raise TypeError(f"{field.name}: float value in an integer column")
    if pa.types.is_timestamp(field.type) and field.type.tz is not None:
        utc = datetime.timezone.utc
        values = [None if v is None else v.astimezone(utc) for v in values]
    return pa.array(values, type=field.type)


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
