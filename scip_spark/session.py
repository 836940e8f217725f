"""SparkSession bootstrap.

Single place where session-level tuning lives so tests, bench and the
driver entrypoint share one configuration. Mirrors the reference's
``ClientClusterContext`` role (reference src/scip/utils/util.py:31-157)
but for Spark local/cluster modes.

Scale notes (100 TB design intent):
- AQE on: runtime coalescing + skew-join splitting replace any
  hand-tuned partition counts at real scale.
- Arrow batch size bounded so ragged tensor rows (flattened images)
  cannot blow up a single Arrow batch (SURVEY §7.5).
- UTC session timezone so results compare bit-identically against
  external engines (the DuckDB oracle, or any warehouse).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tensor rows can be ~MBs each (C*H*W floats); keep Arrow batches small
# enough that 32 concurrent tasks * batch fits comfortably in memory.
_ARROW_MAX_RECORDS = "512"


def get_spark(
    app_name: str = "scip_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback
    ``local[*]``). On a real cluster the caller passes its own master
    URI, or runs under spark-submit and passes the sentinel
    ``"launcher"`` — then the builder never calls ``.master()`` and the
    launcher-configured master wins (replaces the reference's PBS/MPI
    cluster bootstrap, src/scip/utils/util.py:79-133: resource-manager
    integration is Spark's job, not the application's).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if master != "launcher":
        builder = builder.master(master)

    if shuffle_partitions is None:
        try:
            n = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = n

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": _ARROW_MAX_RECORDS,
        # re-use python workers so per-worker model/kernel caches persist
        # (reference caches its CellPose model per dask worker,
        # reference src/scip/segmentation/cellpose.py:70-87)
        "spark.python.worker.reuse": "true",
        "spark.ui.enabled": "false",
        # the events table stores TIMESTAMP(NANOS) which the vectorized
        # parquet reader rejects; read as long and convert (see
        # queries.load_events)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # generated classes are cached by source text; at Spark's default
        # of 100 entries one corpus-curation pass (~130 distinct classes)
        # evicts its own classes, so every repeat recompiles them in Janino
        # and the JIT compiles them again, competing with the tasks for cores
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def silence_bounded_window_warning(spark: SparkSession) -> None:
    """Drop WindowExec's partition-less-window WARN to ERROR.

    Audited (round 9): exactly three registry queries run a
    partition-less window, each over a provably BOUNDED post-agg
    relation — corpus_pack_shards / corpus_chunk_pack (exclusive
    prefix over the n_buckets-row bucket-totals relation) and
    sliding_distinct_users (calendar-range window over per-day
    sketches). The whitelist + proofs live in tests/test_plans.py
    (_BOUNDED_GLOBAL_WINDOWS); any NEW partition-less window on a
    data-scale relation still fails
    test_no_partitionless_window_in_registry. Only the cosmetic WARN
    is silenced, and only in the tools that batch-run the registry
    (bench.py, tools/check_oracle.py) where the spam buries signal."""
    try:
        jvm = spark._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # logging backend differs: warnings are cosmetic anyway
