"""Per-file counts folded into actions the pipeline already runs: job
budget per load, the fused validation aggregate's audit semantics, merge
counts observed on the merge join, and the probe-gated DLQ cleanup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.exceptions import ValidationThresholdExceededError
from etl_file_loader_spark.operators import dlq as dlq_ops
from etl_file_loader_spark.operators import publish as publish_ops
from etl_file_loader_spark.plans.merge_backend import SparkRewriteMergeBackend
from etl_file_loader_spark.plans.pipeline import DLQ_TABLE, PipelineRunner
from etl_file_loader_spark.plans.warehouse import BUCKET_COL, Warehouse, grain_bucket
from tests.sources_fixtures import CSV_HEADER, transactions_source

# Spark jobs per load of a 20-row CSV on the test session. With separate
# count, grain-audit, bucket and publish-count jobs a first load ran 18 jobs
# and a merge-path load 31; with the counts folded in they run 13 and 21.
FIRST_LOAD_MAX_JOBS = 15
MERGE_LOAD_MAX_JOBS = 25


def _csv(ids, price="1.00", bad=()):
    """CSV body for transactions ``ids``; ids in ``bad`` get an
    unparseable unit price (invalid rows)."""
    rows = [
        f"TXN{i:03d},CUST01,SKU-1,1,{'asdf' if i in bad else price},1.00,2024-01-05,alice"
        for i in ids
    ]
    return CSV_HEADER + "\n" + "\n".join(rows) + "\n"


def _load(spark, wh, tmp_path, name, body, **cfg):
    path = tmp_path / name
    path.write_text(body)
    return PipelineRunner(spark, wh, transactions_source(**cfg), str(path)).run()


def _target_rows(wh, table="transactions"):
    cols = ["transaction_id", "unit_price", "source_filename", "file_load_log_id"]
    return sorted(tuple(r) for r in wh.read_table(table).select(*cols).collect())


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under a job group owned by the caller; return its result
    and the number of Spark jobs the group ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_counts_per_load(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    first, n_first = _jobs_in_group(
        spark, "counts-first-load",
        lambda: _load(spark, wh, tmp_path, "sales_1.csv", _csv(range(20))),
    )
    merge, n_merge = _jobs_in_group(
        spark, "counts-merge-load",
        lambda: _load(spark, wh, tmp_path, "sales_2.csv", _csv(range(10, 30), price="2.00")),
    )
    assert first.success and first.counts.inserts == 20
    assert merge.success
    assert (merge.counts.inserts, merge.counts.updates, merge.counts.unchanged) == (10, 10, 0)
    assert n_first <= FIRST_LOAD_MAX_JOBS, n_first
    assert n_merge <= MERGE_LOAD_MAX_JOBS, n_merge


def test_grain_duplicates_among_invalid_rows_pass(spark, tmp_path):
    """The grain audit counts valid rows only: a grain repeated by rows
    that fail validation goes to the DLQ, not to GrainValidationError."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    body = _csv([1, 2, 3, 3, 3, 4, 5, 6, 7, 8], bad={3})
    r = _load(spark, wh, tmp_path, "sales_1.csv", body, validation_error_threshold=0.5)
    assert r.success, r
    assert r.counts.inserts == 7
    dlq = wh.read_table(DLQ_TABLE).collect()
    assert len(dlq) == 3
    assert {d["file_row_number"] for d in dlq} == {4, 5, 6}


def test_grain_duplicates_over_threshold_fail_on_threshold(spark, tmp_path):
    """Fail-fast order is unchanged: the threshold check (after the DLQ
    append) fires before the grain audit."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    body = _csv([1, 1, 2, 3, 4], bad={2, 3, 4})
    with pytest.raises(ValidationThresholdExceededError):
        _load(spark, wh, tmp_path, "sales_1.csv", body, validation_error_threshold=0.5)
    assert wh.read_table(DLQ_TABLE).count() == 3
    assert not wh.exists("transactions")


def test_touched_buckets_recomputed_when_bucket_count_changes(spark, tmp_path, monkeypatch):
    """The touched-bucket set comes from the validation aggregate, bucketed
    with the pre-lock bucket count; if the table's count differs under the
    lock, the set is recomputed and the merge writes the same target."""
    first, second = _csv(range(40)), _csv(range(20, 60), price="2.00")

    control = Warehouse(spark, str(tmp_path / "control"), n_buckets=4)
    _load(spark, control, tmp_path, "sales_1.csv", first)
    expected = _load(spark, control, tmp_path, "sales_2.csv", second)

    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    _load(spark, wh, tmp_path, "sales_1.csv", first)
    real = Warehouse.table_buckets
    calls = []

    def shifting(self, table):
        n = real(self, table)
        if table != "transactions":
            return n
        calls.append(n)
        # the first (pre-lock) answer is stale: bucketed by 1, the touched
        # set would be [0] and the merge would miss buckets 1-3
        return 1 if len(calls) == 1 else n

    monkeypatch.setattr(Warehouse, "table_buckets", shifting)
    got = _load(spark, wh, tmp_path, "sales_2.csv", second)
    monkeypatch.undo()

    assert len(calls) >= 2
    assert got.counts == expected.counts
    assert _target_rows(wh) == _target_rows(control)
    assert wh.read_table("transactions").count() == 60


def _frames(spark):
    """(target, stage) with system columns: ids 0-29 in the target; the
    stage re-delivers 20-29 (odd ids changed) and adds 30-44."""
    h = publish_ops.HASH_COL
    schema = f"id long, amount double, {h} string, source_filename string, file_load_log_id long"
    target = spark.createDataFrame(
        [(i, float(i), f"h{i}", "old.csv", 1) for i in range(30)], schema
    ).withColumn("etl_created_at", F.lit("2024-01-01 00:00:00").cast("timestamp")) \
     .withColumn("etl_updated_at", F.lit(None).cast("timestamp"))
    stage = spark.createDataFrame(
        [(i, float(i), f"h{i}x" if i % 2 else f"h{i}", "new.csv", 2) for i in range(20, 45)],
        schema,
    )
    return target, stage


@pytest.mark.parametrize("variant", ["plain", "salted", "evolved"])
def test_observed_counts_equal_publish_counts(spark, tmp_path, variant):
    target, stage = _frames(spark)
    grain, cols = ["id"], ["id", "amount"]
    bucket = grain_bucket(grain, 4)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    wh.merge_overwrite("t", target.withColumn(BUCKET_COL, bucket), touched_buckets=None)

    salt, touched = None, sorted(
        r[0] for r in stage.select(bucket.alias("_b")).distinct().collect()
    )
    current = wh.read_table_buckets("t", touched)
    if variant == "salted":
        salt = 3
    elif variant == "evolved":
        # a business column the config gained: the full target joins in with
        # a typed null, every re-delivered row's hash differs
        stage = stage.withColumn("note", F.lit("n")).withColumn(
            publish_ops.HASH_COL, F.concat(F.col(publish_ops.HASH_COL), F.lit("n"))
        )
        cols = cols + ["note"]
        touched = None
        current = wh.read_table("t").withColumn("note", F.lit(None).cast("string"))

    expected = publish_ops.publish_counts(current, stage, grain)
    got = SparkRewriteMergeBackend().merge(
        wh, "t", current, stage, grain, cols, bucket,
        touched_buckets=touched, salt_buckets=salt,
    )
    assert got == expected
    assert got.inserts == 15
    assert wh.read_table("t").count() == 45


def test_observed_counts_on_empty_merge_input(spark, tmp_path):
    """An empty stage into a table that does not exist yet: both merge sides
    are empty local relations, Spark folds the whole write to an empty
    relation and reports no metrics; the counts are zero."""
    target, stage = _frames(spark)
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    got = SparkRewriteMergeBackend().merge(
        wh, "t", wh.read_table_buckets("t", [], schema=target.schema), stage.limit(0),
        ["id"], ["id", "amount"], grain_bucket(["id"], 4), touched_buckets=None,
    )
    assert got == publish_ops.PublishCounts(0, 0, 0)


def test_clean_load_leaves_dlq_snapshot_alone(spark, tmp_path):
    """No stale DLQ rows for the file -> no DLQ rewrite (new version)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    r1 = _load(spark, wh, tmp_path, "sales_1.csv", _csv(range(10), bad={3}),
               validation_error_threshold=0.5)
    assert r1.success
    versions = wh.table_versions(DLQ_TABLE)
    r2 = _load(spark, wh, tmp_path, "sales_2.csv", _csv(range(10, 20)))
    assert r2.success
    assert wh.table_versions(DLQ_TABLE) == versions
    assert wh.read_table(DLQ_TABLE).count() == 1


def test_read_table_with_known_schema_matches_inferred(spark, tmp_path):
    """A schema-given read of a bucketed, partitioned table (no inference
    job) returns the same frame as the inferring read."""
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    df = spark.createDataFrame([(i, f"r{i % 3}") for i in range(20)], "id long, region string")
    wh.merge_overwrite(
        "t", df.withColumn(BUCKET_COL, grain_bucket(["id"], 4)),
        touched_buckets=None, partition_by=["region"],
    )
    inferred = wh.read_table("t")
    known = wh.read_table("t", schema=inferred.schema)
    assert known.schema == inferred.schema
    assert sorted(known.collect()) == sorted(inferred.collect())


def test_dlq_schema_matches_build_dlq(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    r = _load(spark, wh, tmp_path, "sales_1.csv", _csv(range(10), bad={3}),
              validation_error_threshold=0.5)
    assert r.success
    on_disk = wh.read_table(DLQ_TABLE)
    assert [(f.name, f.dataType) for f in on_disk.schema] == [
        (f.name, f.dataType) for f in dlq_ops.DLQ_SCHEMA
    ]
    known = wh.read_table(DLQ_TABLE, schema=dlq_ops.DLQ_SCHEMA)
    assert sorted(map(tuple, known.collect())) == sorted(map(tuple, on_disk.collect()))
