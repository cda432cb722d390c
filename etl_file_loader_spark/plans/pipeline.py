"""Per-file pipeline runner + multi-file processor (SURVEY §3).

Reference run plan, fixed per file (reference runner.py:213-221):

    check_if_processed -> archive -> read -> validate -> write(stage+DLQ)
    -> audit (grain + custom) -> publish (MERGE) -> cleanup_dlq -> drop stage

Spark re-expression: the read->rename->validate->split chain is ONE lazy plan;
"stage" is never materialized (it stays a cached DataFrame — reference's stage
table is an artifact of row-at-a-time DB loading). Actions, in order:

    1. duplicate-file check     filter+limit on target        (J1)
    2. validate + cache; ONE scalar aggregate carries every   (P1-P9, A4,
       per-file count: rows, invalid rows, distinct grains     A1)
       and touched grain buckets (the last two over valid
       rows only)
    3. DLQ append for invalid rows                            (K2, P5)
    4. threshold check -> maybe fail                          (A4)
    5. grain decision from the step-2 counts (a job only to   (A1-A3)
       fetch duplicate examples) + custom audit SQL
    6. MERGE into target; insert/update/unchanged counts are  (J2-J4, A5)
       observed on the merge join during its write (a first
       load inserts the valid-row count)
    7. DLQ cleanup of earlier runs for this file: a limit(1)  (J5)
       probe on the DLQ read with its known schema, and a
       rewrite only when the probe finds stale rows

Failure at any step raises the taxonomy error; the run log records per-stage
timings either way. Multi-file parallelism: the reference uses a thread pool
over physical cores (processor.py:49-51); in Spark each file is already
processed by many tasks, so the Processor runs files sequentially by default
(per-file fail-fast) — at scale you union many files with input_file_name()
lineage or submit concurrent jobs via FAIR scheduler pools.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_file_loader_spark.config import SourceConfig
from etl_file_loader_spark.exceptions import DuplicateFileError, FileError
from etl_file_loader_spark.operators import audit as audit_ops
from etl_file_loader_spark.operators import dlq as dlq_ops
from etl_file_loader_spark.operators import publish as publish_ops
from etl_file_loader_spark.operators import validate as validate_ops
from etl_file_loader_spark.operators.hashing import with_row_hash
from etl_file_loader_spark.operators.publish import (
    FILENAME_COL,
    LOG_ID_COL,
    PublishCounts,
)
from etl_file_loader_spark.plans.runlog import RunLog, next_log_id
from etl_file_loader_spark.plans.warehouse import BUCKET_COL, Warehouse, grain_bucket
from etl_file_loader_spark.registry import SourceRegistry
from etl_file_loader_spark.sources import read_source

DLQ_TABLE = "file_load_dlq"


@dataclass
class RunResult:
    success: bool
    filename: str
    error_type: str | None = None
    error: str | None = None
    counts: PublishCounts | None = None


class PipelineRunner:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        config: SourceConfig,
        path: str,
        archive_dir: str | None = None,
        log_id: int | None = None,
        delete_source: bool = False,
        duplicate_dir: str | None = None,
        on_stage=None,
        merge_backend=None,
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.config = config
        self.path = path
        # MERGE execution seam (plans/merge_backend.py): default is the
        # pure-Spark bounded bucket rewrite — identical behavior to the
        # pre-seam inline calls; a DeltaMergeBackend (or custom) can own
        # the merge+persist step instead.
        if merge_backend is None:
            from etl_file_loader_spark.plans.merge_backend import (
                SparkRewriteMergeBackend,
            )

            merge_backend = SparkRewriteMergeBackend()
        self.merge_backend = merge_backend
        from etl_file_loader_spark.fs import basename

        self.filename = basename(path)
        self.archive_dir = archive_dir
        # duplicate files are MOVED here (reference runner.py:127-140,
        # file_helper.py:50-65), timestamp-suffixed on a name clash
        self.duplicate_dir = duplicate_dir
        # reference deletes the drop-directory file success or fail
        # (runner.py:269-271); default off for library safety
        self.delete_source = delete_source
        self.log = RunLog(
            log_id=log_id if log_id is not None else next_log_id(warehouse),
            filename=self.filename,
            target_table=config.target_table,
            on_stage=on_stage,
        )

    def _quarantine_duplicate(self) -> None:
        """Move an already-loaded file to the duplicate-files directory
        (reference file_helper.py:50-65: move, not copy; name clashes get a
        UTC-timestamp suffix)."""
        if not self.duplicate_dir:
            return
        import datetime

        from etl_file_loader_spark import fs as fsmod

        hfs = fsmod.FS(self.spark)
        hfs.mkdirs(self.duplicate_dir)
        dest = fsmod.join(self.duplicate_dir, self.filename)
        if hfs.exists(dest):
            ts = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%d_%H%M%S")
            stem, dot, suffix = self.filename.rpartition(".")
            renamed = f"{stem}_{ts}.{suffix}" if dot else f"{self.filename}_{ts}"
            dest = fsmod.join(self.duplicate_dir, renamed)
        hfs.move(self.path, dest)

    def _bucket_count(self) -> int:
        """Grain-bucket count of the target: its persisted count, or the
        warehouse default for a table the first load will create."""
        return (
            self.warehouse.table_buckets(self.config.target_table)
            or self.warehouse.n_buckets
        )

    def run(self) -> RunResult:
        cfg = self.config
        validated = None
        try:
            target_schema = None
            with self.log.stage("check_if_processed"):
                if self.warehouse.exists(cfg.target_table):
                    target = self.warehouse.read_table(cfg.target_table)
                    target_schema = target.schema
                    if publish_ops.is_file_loaded(target, self.filename):
                        self._quarantine_duplicate()
                        raise DuplicateFileError(
                            f"{self.filename} already published", self.filename
                        )

            if self.archive_dir:
                with self.log.stage("archive_file"):
                    from etl_file_loader_spark import fs as fsmod

                    hfs = fsmod.FS(self.spark)
                    hfs.mkdirs(self.archive_dir)
                    hfs.copy(self.path, fsmod.join(self.archive_dir, self.filename))

            with self.log.stage("read_data") as st:
                raw = read_source(self.spark, self.path, cfg)
                # a single small file scans as one partition (< maxPartitionBytes)
                # -> validation/hash/write would run on one core; fan out to the
                # cluster's parallelism (cheap round-robin shuffle, row numbers
                # are already materialized columns at this point)
                parallelism = self.spark.sparkContext.defaultParallelism
                if raw.rdd.getNumPartitions() < max(2, parallelism // 2):
                    raw = raw.repartition(parallelism)
                renamed = validate_ops.rename_and_prune(raw, cfg)

            with self.log.stage("validate_data") as st:
                # cache: the audit and publish stages each re-read the
                # validated frame (and the DLQ build when rows fail) —
                # recomputing the validation projection per pass measures
                # ~40% slower than materializing once. Every per-file count
                # comes from this one scalar aggregate; the grain audit and
                # the merge's touched buckets look at valid rows only,
                # bucketed with the count the target has right now.
                n_buckets = self._bucket_count()
                ok = F.col(validate_ops.VALID_COL)
                validated = validate_ops.validate(renamed, cfg).cache()
                c = validated.agg(
                    F.count(F.lit(1)).alias("_n"),
                    F.sum(F.when(ok, 0).otherwise(1)).alias("_bad"),
                    F.count_distinct(
                        *[F.when(ok, F.col(g)) for g in cfg.grain]
                    ).alias("_grains"),
                    F.collect_set(
                        F.when(ok, grain_bucket(cfg.grain, n_buckets))
                    ).alias("_buckets"),
                ).first()
                n_total = c["_n"] or 0
                n_invalid = int(c["_bad"] or 0)
                n_valid = n_total - n_invalid
                n_grains = c["_grains"]
                touched = sorted(c["_buckets"])
                st.row_count = n_total
                valid, invalid = validate_ops.split(validated)

            with self.log.stage("write_data") as st:
                if n_invalid:
                    dlq_records = dlq_ops.build_dlq(
                        invalid, cfg, self.filename, self.log.log_id
                    )
                    self.warehouse.append(DLQ_TABLE, dlq_records)
                st.row_count = n_invalid
                stats = audit_ops.ValidationStats(
                    total_rows=n_valid + n_invalid, error_rows=n_invalid
                )
                audit_ops.check_threshold(
                    stats, cfg.validation_error_threshold, invalid, self.filename
                )

            stage = (
                with_row_hash(valid, cfg)
                .withColumn(FILENAME_COL, F.lit(self.filename))
                .withColumn(LOG_ID_COL, F.lit(self.log.log_id).cast("long"))
                .drop(validate_ops.FILE_ROW_COL)
            )

            with self.log.stage("audit_data"):
                from etl_file_loader_spark.config import stage_table_name

                audit_ops.check_grain_counts(
                    stage, cfg.grain, n_valid, n_grains, self.filename
                )
                audit_ops.check_audits(
                    self.spark, stage, cfg.audit_query, self.filename,
                    view_name=stage_table_name(self.filename),
                )

            with self.log.stage("publish_data") as st:
                with self.warehouse.mutate(cfg.target_table):
                    n_locked = self._bucket_count()
                    bucket = grain_bucket(cfg.grain, n_locked)
                    if not self.warehouse.exists(cfg.target_table):
                        # first load: everything inserts — skip the
                        # empty-target merge join entirely
                        merged = stage.withColumn(
                            publish_ops.CREATED_COL, F.current_timestamp()
                        ).withColumn(
                            publish_ops.UPDATED_COL, F.lit(None).cast("timestamp")
                        )
                        self.warehouse.merge_overwrite(
                            cfg.target_table,
                            merged.withColumn(BUCKET_COL, bucket),
                            touched_buckets=None,
                            partition_by=cfg.target_partition_by,
                        )
                        # the grain audit passed, so every valid row is
                        # one target row
                        pub_counts = PublishCounts(
                            inserts=n_valid, updates=0, unchanged=0
                        )
                    else:
                        # bounded rewrite: only the grain-hash buckets the
                        # stage rows land in are read (partition pruning) and
                        # rewritten; untouched buckets carry over as hard
                        # links — O(stage-touched partitions) per load, not
                        # O(target). The set came with the validation counts;
                        # it is recomputed only if the table's bucket count
                        # changed since then.
                        if n_locked != n_buckets:
                            touched = sorted(
                                r[0]
                                for r in stage.select(
                                    bucket.alias("_b")
                                ).distinct().collect()
                            )
                        # schema evolution forces a FULL rewrite: linked-over
                        # untouched buckets would otherwise keep the old
                        # parquet schema (mixed schemas across partitions)
                        evolved = target_schema is not None and (
                            any(
                                f.name not in target_schema.fieldNames()
                                for f in cfg.fields
                            )
                            or any(
                                c not in cfg.business_columns
                                for c in target_schema.fieldNames()
                                if c
                                not in publish_ops.SYSTEM_COLS
                            )
                        )
                        if evolved:
                            touched = None
                            target = self.warehouse.read_table(
                                cfg.target_table, schema=target_schema
                            )
                        else:
                            target = self.warehouse.read_table_buckets(
                                cfg.target_table, touched, schema=target_schema
                            )
                        # additive schema evolution (Delta mergeSchema
                        # analogue): business columns the config gained since
                        # the target was created join in as typed nulls —
                        # existing rows keep null until a file re-delivers
                        # them (their row hash then differs, so they update).
                        # Columns REMOVED from the config drop from the new
                        # snapshot: the config is the schema of record.
                        for f in cfg.fields:
                            if f.name not in target.columns:
                                target = target.withColumn(
                                    f.name, F.lit(None).cast(f.dtype)
                                )
                        pub_counts = self.merge_backend.merge(
                            self.warehouse,
                            cfg.target_table,
                            target,
                            stage,
                            cfg.grain,
                            cfg.business_columns,
                            bucket,
                            touched_buckets=touched,
                            salt_buckets=cfg.merge_salt_buckets,
                            partition_by=cfg.target_partition_by,
                        )
                st.row_count = pub_counts.inserts + pub_counts.updates

            with self.log.stage("cleanup_dlq_records"):
                with self.warehouse.mutate(DLQ_TABLE):
                    if self.warehouse.exists(DLQ_TABLE):
                        dlq = self.warehouse.read_table(
                            DLQ_TABLE, schema=dlq_ops.DLQ_SCHEMA
                        )
                        if dlq_ops.has_stale_dlq(dlq, self.filename, self.log.log_id):
                            cleaned = dlq_ops.cleanup_dlq(
                                dlq, self.filename, self.log.log_id
                            )
                            self.warehouse.overwrite(DLQ_TABLE, cleaned)

            return RunResult(True, self.filename, counts=pub_counts)
        finally:
            if validated is not None:
                validated.unpersist()
            self.log.flush(self.warehouse)
            if self.delete_source:
                from etl_file_loader_spark.fs import FS

                FS(self.spark).delete(self.path)


@dataclass
class Processor:
    """Directory-scan multi-file driver (reference processor.py:24-157).

    On handled file errors, stakeholders from the source's
    ``notification_emails`` are notified; a run summary notification fires
    after ``process_directory`` (reference notify/email.py, webhook.py).
    """

    spark: SparkSession
    warehouse: Warehouse
    registry: SourceRegistry
    archive_dir: str | None = None
    results: list[RunResult] = field(default_factory=list)
    notifier: "Notifier | None" = None
    delete_source: bool = False
    duplicate_dir: str | None = None
    # live per-stage hook threaded into every file's RunLog (CLI progress)
    on_stage: "Callable[[dict], None] | None" = None

    def process_file(self, path: str, log_id: int | None = None) -> RunResult:
        from etl_file_loader_spark.exceptions import (
            MultipleSourceMatchError,
            NoSourceMatchError,
        )

        from etl_file_loader_spark import fs as fsmod

        filename = fsmod.basename(path)
        try:
            config = self.registry.find_source_for_file(filename)
        except (NoSourceMatchError, MultipleSourceMatchError) as e:
            # unmatched files are still archived so nothing in the drop
            # directory is silently lost (reference processor.py:84)
            if self.archive_dir and isinstance(e, NoSourceMatchError):
                hfs = fsmod.FS(self.spark)
                hfs.mkdirs(self.archive_dir)
                hfs.copy(path, fsmod.join(self.archive_dir, filename))
            result = RunResult(False, filename, type(e).__name__, str(e))
            self.results.append(result)
            return result
        try:
            result = PipelineRunner(
                self.spark, self.warehouse, config, path, self.archive_dir,
                log_id=log_id, delete_source=self.delete_source,
                duplicate_dir=self.duplicate_dir, on_stage=self.on_stage,
            ).run()
        except FileError as e:
            result = RunResult(False, filename, type(e).__name__, str(e))
            if self.notifier is not None:
                from etl_file_loader_spark.notify import notify_file_error

                notify_file_error(
                    self.notifier, filename, type(e).__name__, str(e),
                    config.notification_emails,
                )
        self.results.append(result)
        return result

    def process_files_in_parallel(
        self, directory: str, max_workers: int | None = None
    ) -> list[RunResult]:
        """Thread-pool over files (reference processor.py:49-51, 98-111).

        Each thread submits independent Spark jobs (read/validate run
        concurrently across files); warehouse mutations serialize on the
        warehouse lock; log ids are pre-assigned under a counter so they
        stay unique. Per-file fail-fast semantics are preserved.
        """
        import os
        import threading
        from concurrent.futures import ThreadPoolExecutor

        from etl_file_loader_spark.plans.runlog import next_log_id

        from etl_file_loader_spark.fs import FS

        files = FS(self.spark).list_files(directory)
        max_workers = max_workers or min(len(files) or 1, (os.cpu_count() or 4) // 2 or 1)
        counter_lock = threading.Lock()
        next_id = next_log_id(self.warehouse)

        def alloc_id() -> int:
            nonlocal next_id
            with counter_lock:
                nid = next_id
                next_id += 1
                return nid

        def work(path: str) -> RunResult:
            return self.process_file(path, log_id=alloc_id())

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            list(pool.map(work, files))
        if self.notifier is not None:
            from etl_file_loader_spark.notify import notify_summary

            notify_summary(self.notifier, self.results_summary())
        return self.results

    def process_directory(self, directory: str) -> list[RunResult]:
        from etl_file_loader_spark.fs import FS

        files = FS(self.spark).list_files(directory)
        for f in files:
            self.process_file(f)
        if self.notifier is not None:
            from etl_file_loader_spark.notify import notify_summary

            notify_summary(self.notifier, self.results_summary())
        return self.results

    def results_summary(self) -> dict:
        """Success/failure/no-source rollup (reference processor.py:113-157).

        Files matching no source are *skipped*, not failed — the reference's
        registry returns None for them and the run continues (registry.py:36).
        """
        ok = [r for r in self.results if r.success]
        skipped = [r for r in self.results if r.error_type == "NoSourceMatchError"]
        failed = [
            r for r in self.results if not r.success and r not in skipped
        ]
        return {
            "total": len(self.results),
            "succeeded": len(ok),
            "failed": len(failed),
            "no_source": len(skipped),
            "errors": {r.filename: r.error_type for r in failed},
        }
