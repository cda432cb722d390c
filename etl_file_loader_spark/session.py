"""SparkSession factory with pinned, documented engine defaults.

Every conf below is deliberate — set here rather than inherited — with its
100x-scale rationale. The local[32] harness verifies correctness; the table
records why each value is also the shape a 1000-executor / 100 TB cluster
wants (values that should scale with the cluster are env-overridable).

================================  ==========  =================================
conf                              value       rationale at 100 TB
================================  ==========  =================================
spark.sql.session.timeZone        UTC         determinism across executor
                                              locales + oracle parity; date
                                              arithmetic must not depend on
                                              which machine ran the task.
spark.sql.shuffle.partitions      1 x cores   initial (pre-AQE) shuffle width.
                                              MEASURED, not assumed: 4x width
                                              cost +10% suite wall at sf0.1
                                              (iterative connected-components
                                              1.8x, cached-partsupp consumers
                                              1.4-2.7x) because AQE cannot
                                              re-coalesce an InMemoryRelation
                                              or per-round checkpoint loops —
                                              only fresh exchanges. On a real
                                              cluster set SPARK_GRAFT_SHUFFLE
                                              ~2-4 x total cores so the
                                              initial width isn't too coarse
                                              to split; locally cores = the
                                              right width for every shape.
spark.sql.adaptive.enabled        true        runtime re-planning: stats at
                                              stage boundaries beat estimates
                                              at 100 TB (selectivity is
                                              unknowable at plan time).
...coalescePartitions.enabled     true        post-filter stages collapse to
                                              few busy partitions instead of
                                              thousands of empty tasks.
...skewJoin.enabled               true        hot keys (null-ish grains, head
                                              domains in web corpora) split
                                              into subtasks instead of one
                                              straggler holding the stage.
spark.sql.autoBroadcastJoin-      64 MiB      dims/weights/loser-sets up to
  Threshold                                   64 MiB ship to executors instead
                                              of shuffling the 100 TB fact
                                              side; executors are sized >= 4
                                              GiB so 64 MiB is safe. The
                                              engine still broadcast()-hints
                                              every join it KNOWS is small —
                                              the threshold is the safety net,
                                              the hints are the contract.
spark.sql.files.maxPartitionBytes 128 MiB     scan-task granularity: matches
                                              the warehouse's parquet file
                                              target so one task ~ one row
                                              group run; bigger risks executor
                                              memory on wide rows, smaller
                                              drowns the scheduler at 100 TB
                                              (800k tasks is fine; 80M isn't).
spark.sql.execution.arrow.        true        the few Pandas-UDF operators
  pyspark.enabled                             (minhash/simhash/codec batches)
                                              move columns as Arrow batches,
                                              not pickled rows (~10-100x).
spark.sql.legacy.parquet.         true        testdata events.parquet stores
  nanosAsLong                                 TIMESTAMP(NANOS); read as int64
                                              and convert explicitly (suite._t)
                                              — Spark has no nanos type.
spark.serializer                  Kryo        shuffle/broadcast bytes: Kryo is
                                              smaller + faster than Java ser
                                              for the struct-heavy rows the
                                              validators emit; at 100 TB
                                              shuffle volume IS the bill.
spark.sql.codegen.cache.          2000        generated-class cache (LRU,
  maxEntries                                  default 100). MEASURED: at 100
                                              the LRU thrashes — a warm pass
                                              that repeats the previous one
                                              still recompiled ~210 classes
                                              (ingest) and ~265 (curation
                                              suite) in Janino, driver CPU;
                                              at 2000 that fell to ~20. A
                                              class is a few KiB of driver
                                              metaspace. Fixed, not env or
                                              cluster-scaled: the working set
                                              follows the plan shapes, not
                                              the data size.
================================  ==========  =================================
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# generated-class cache size; see the conf table above
CODEGEN_CACHE_ENTRIES = 2000


def engine_confs(cpus: int) -> dict[str, str]:
    """The pinned conf table (see module docstring for rationale)."""
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "") or str(cpus)
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": shuffle,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
        # PySpark 4 captures the user call site (a Python stack walk +
        # JVM thread-local write) on EVERY DataFrame API call to enrich
        # error messages; profiled at ~15% of plan-construction time on
        # the expression-heavy operators (0.8 s per text-signals build).
        # Scale-independent driver overhead — off in production, errors
        # still carry the full JVM+Python traceback, only the "user code
        # line was here" annotation is lost. (optimization round 14)
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }


def get_spark(app_name: str = "etl-file-loader-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in engine_confs(cpus).items():
        b = b.config(k, v)
    return b.getOrCreate()
