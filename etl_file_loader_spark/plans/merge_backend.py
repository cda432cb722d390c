"""MergeBackend seam: pluggable MERGE execution behind the publish stage.

SURVEY §7.3 makes the pure-Spark bounded bucket rewrite the REQUIRED merge
path (zero non-Spark dependencies); deployments already on a table format
with native MERGE (Delta Lake, Iceberg) would rather hand the same logical
merge to the format's transaction layer. This module is that seam:

- :class:`MergeBackend` — the protocol: one ``merge`` call owning the whole
  "combine stage with target and persist the new contents" step, returning
  the insert/update/unchanged :class:`PublishCounts` of that merge.
- :class:`SparkRewriteMergeBackend` — the default. Calls EXACTLY the code
  the pipeline always called (``publish_ops.merge_upsert`` -> full-outer
  join rewrite, then ``Warehouse.merge_overwrite`` -> bounded bucket
  overwrite with carry-over), so behavior with no backend configured is
  byte-identical to rounds 1-5 (pinned by tests/test_merge_backend.py).
  Its counts are observed on the merge join during the write, so they cost
  no job of their own.
- :class:`DeltaMergeBackend` — the documented adapter point. Builds the
  equivalent ``DeltaTable.merge`` (whenMatched hash-guard update /
  whenNotMatched insert — the same MERGE the reference issues per dialect,
  src/pipeline/publish/postgresql.py:24-43). Requires delta-spark on the
  classpath; constructing it without raises ImportError with guidance
  (this container ships no Delta jars, so only the gate is testable here).

``PipelineRunner`` takes ``merge_backend=`` (default
``SparkRewriteMergeBackend()``); backends receive the already-evolved
target frame so schema-evolution policy stays in ONE place (the runner).
"""

from __future__ import annotations

from typing import Protocol

from pyspark.sql import Column, DataFrame, Observation

from etl_file_loader_spark.operators import publish as publish_ops
from etl_file_loader_spark.operators.publish import PublishCounts


class MergeBackend(Protocol):
    """One MERGE step: combine ``stage`` into ``target`` on ``grain`` with
    the hash-guarded update semantics and persist the result as table
    ``table``'s new contents."""

    def merge(
        self,
        warehouse,
        table: str,
        target: DataFrame,
        stage: DataFrame,
        grain: list[str],
        business_cols: list[str],
        bucket: Column,
        touched_buckets: list[int] | None,
        salt_buckets: int | None = None,
        partition_by: list[str] | None = None,
    ) -> PublishCounts: ...


class SparkRewriteMergeBackend:
    """Default backend: pure-Spark full-outer-join MERGE rewrite + bounded
    bucket overwrite (hard-link carry of untouched buckets)."""

    def merge(
        self,
        warehouse,
        table: str,
        target: DataFrame,
        stage: DataFrame,
        grain: list[str],
        business_cols: list[str],
        bucket: Column,
        touched_buckets: list[int] | None,
        salt_buckets: int | None = None,
        partition_by: list[str] | None = None,
    ) -> PublishCounts:
        from etl_file_loader_spark.plans.warehouse import BUCKET_COL

        observation = Observation()
        merged = publish_ops.merge_upsert(
            target, stage, grain, business_cols, salt_buckets=salt_buckets,
            observation=observation,
        )
        warehouse.merge_overwrite(
            table,
            merged.withColumn(BUCKET_COL, bucket),
            touched_buckets=touched_buckets,
            partition_by=partition_by,
        )
        return publish_ops.observed_counts(observation)


class DeltaMergeBackend:
    """Delta Lake adapter: the same logical MERGE via ``DeltaTable.merge``.

    Delta's MERGE INTO plans the identical join-plus-conditional-projection
    underneath (the rewrite the default backend spells out), but commits
    through the Delta transaction log instead of the warehouse's versioned
    snapshot directories — no bucket carry-over needed, Delta's data
    skipping replaces the grain-bucket partition pruning.

    Counts come from :func:`publish_counts` over the same target and
    stage, taken before the MERGE commits.

    ``table_path`` is the Delta table location. The warehouse's versioned
    read path is bypassed; callers adopting this backend read the target
    with ``spark.read.format("delta")``.
    """

    def __init__(self, table_path: str):
        try:
            from delta.tables import DeltaTable  # noqa: F401
        except ImportError as exc:  # pragma: no cover - exercised in tests
            raise ImportError(
                "DeltaMergeBackend requires the delta-spark package and "
                "Delta jars on the Spark classpath (pip install delta-spark "
                "+ spark.jars.packages=io.delta:delta-spark_2.13:<version>); "
                "use the default SparkRewriteMergeBackend otherwise"
            ) from exc
        self.table_path = table_path

    def merge(
        self,
        warehouse,
        table: str,
        target: DataFrame,
        stage: DataFrame,
        grain: list[str],
        business_cols: list[str],
        bucket: Column,
        touched_buckets: list[int] | None,
        salt_buckets: int | None = None,
        partition_by: list[str] | None = None,
    ) -> PublishCounts:  # pragma: no cover - needs Delta jars (absent here)
        from delta.tables import DeltaTable

        from etl_file_loader_spark.operators.hashing import HASH_COL
        from etl_file_loader_spark.operators.publish import (
            CREATED_COL,
            FILENAME_COL,
            LOG_ID_COL,
            UPDATED_COL,
        )
        from pyspark.sql import functions as F

        spark = stage.sparkSession
        if not DeltaTable.isDeltaTable(spark, self.table_path):
            stage.withColumn(CREATED_COL, F.current_timestamp()).withColumn(
                UPDATED_COL, F.lit(None).cast("timestamp")
            ).write.format("delta").save(self.table_path)
            return PublishCounts(inserts=stage.count(), updates=0, unchanged=0)
        counts = publish_ops.publish_counts(target, stage, grain)
        tgt = DeltaTable.forPath(spark, self.table_path)
        data_cols = [c for c in business_cols if c not in grain]
        set_cols = data_cols + [HASH_COL, FILENAME_COL, LOG_ID_COL]
        cond = " AND ".join(f"t.{g} = s.{g}" for g in grain)
        update_set = {c: f"s.{c}" for c in set_cols}
        update_set[UPDATED_COL] = "current_timestamp()"
        insert_vals = {c: f"s.{c}" for c in grain + set_cols}
        insert_vals[CREATED_COL] = "current_timestamp()"
        insert_vals[UPDATED_COL] = "NULL"
        (
            tgt.alias("t")
            .merge(stage.alias("s"), cond)
            .whenMatchedUpdate(
                condition=f"s.{HASH_COL} != t.{HASH_COL}", set=update_set
            )
            .whenNotMatchedInsert(values=insert_vals)
            .execute()
        )
        return counts
