"""MergeBackend seam (round 6): default path identical to the pre-seam
inline merge, custom backends own the publish step, Delta gate is honest."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_file_loader_spark.config import FieldSpec, SourceConfig
from etl_file_loader_spark.operators import publish as publish_ops
from etl_file_loader_spark.plans.merge_backend import (
    DeltaMergeBackend,
    SparkRewriteMergeBackend,
)
from etl_file_loader_spark.plans.pipeline import PipelineRunner
from etl_file_loader_spark.plans.warehouse import BUCKET_COL, Warehouse, grain_bucket


def _cfg():
    return SourceConfig(
        name="sales",
        file_pattern="sales_*.csv",
        file_format="csv",
        fields=[
            FieldSpec("id", T.LongType(), nullable=False),
            FieldSpec("amount", T.DoubleType()),
        ],
        grain=["id"],
    )


def _write_csv(path: Path, rows):
    with open(path, "w") as f:
        f.write("id,amount\n")
        for i, a in rows:
            f.write(f"{i},{a}\n")


def _frames(spark):
    """(target, stage) with full system columns, overlapping grains."""
    h = publish_ops.HASH_COL
    target = spark.createDataFrame(
        [
            (1, 10.0, "h1", "old.csv", 1),
            (2, 20.0, "h2", "old.csv", 1),
        ],
        f"id long, amount double, {h} string, source_filename string, file_load_log_id long",
    ).withColumn("etl_created_at", F.lit("2024-01-01 00:00:00").cast("timestamp")) \
     .withColumn("etl_updated_at", F.lit(None).cast("timestamp"))
    stage = spark.createDataFrame(
        [
            (2, 25.0, "h2x", "new.csv", 2),  # changed -> update
            (3, 30.0, "h3", "new.csv", 2),  # new -> insert
        ],
        f"id long, amount double, {h} string, source_filename string, file_load_log_id long",
    )
    return target, stage


def test_default_backend_identical_to_inline(spark, tmp_path):
    """SparkRewriteMergeBackend must produce the exact snapshot the inline
    merge_upsert + merge_overwrite calls produced (pre-seam behavior)."""
    target, stage = _frames(spark)
    now = F.lit("2024-06-01 12:00:00").cast("timestamp")
    bucket = grain_bucket(["id"], 4)
    touched = sorted(r[0] for r in stage.select(bucket.alias("_b")).distinct().collect())

    wh_a = Warehouse(spark, str(tmp_path / "a"), n_buckets=4)
    wh_b = Warehouse(spark, str(tmp_path / "b"), n_buckets=4)
    # seed both with the same first snapshot
    for wh in (wh_a, wh_b):
        wh.merge_overwrite(
            "sales", target.withColumn(BUCKET_COL, bucket), touched_buckets=None
        )

    # inline (pre-seam) path: the merge input is the bucket-PRUNED target
    # (the bounded-rewrite contract — untouched buckets carry over)
    merged = publish_ops.merge_upsert(
        wh_a.read_table_buckets("sales", touched), stage, ["id"], ["id", "amount"],
        now=now,
    )
    wh_a.merge_overwrite(
        "sales", merged.withColumn(BUCKET_COL, bucket), touched_buckets=touched
    )

    # seam path — monkeypatch-free: backend defaults now= inside merge_upsert
    # to current_timestamp, so pass the same frames through a backend whose
    # merge we call with the identical inputs. Timestamps must match, so
    # compare with the same pinned `now` via a thin subclass.
    class PinnedNowBackend(SparkRewriteMergeBackend):
        def merge(self, warehouse, table, target, stage, grain, business_cols,
                  bucket, touched_buckets, salt_buckets=None, partition_by=None):
            m = publish_ops.merge_upsert(
                target, stage, grain, business_cols, now=now,
                salt_buckets=salt_buckets,
            )
            warehouse.merge_overwrite(
                table, m.withColumn(BUCKET_COL, bucket),
                touched_buckets=touched_buckets, partition_by=partition_by,
            )

    PinnedNowBackend().merge(
        wh_b, "sales", wh_b.read_table_buckets("sales", touched), stage,
        ["id"], ["id", "amount"], bucket, touched_buckets=touched,
    )

    rows_a = sorted(map(tuple, wh_a.read_table("sales").collect()))
    rows_b = sorted(map(tuple, wh_b.read_table("sales").collect()))
    assert rows_a == rows_b
    assert len(rows_a) == 3  # 1 unchanged + 1 updated + 1 inserted


def test_pipeline_uses_injected_backend(spark, tmp_path):
    """The runner's publish step routes through merge_backend on a second
    load (first load is warehouse-native: everything inserts)."""
    calls = []

    class RecordingBackend(SparkRewriteMergeBackend):
        def merge(self, warehouse, table, target, stage, grain, business_cols,
                  bucket, touched_buckets, salt_buckets=None, partition_by=None):
            calls.append(
                {"table": table, "grain": list(grain),
                 "touched": list(touched_buckets or [])}
            )
            return super().merge(warehouse, table, target, stage, grain,
                          business_cols, bucket, touched_buckets,
                          salt_buckets, partition_by)

    cfg = _cfg()
    wh = Warehouse(spark, str(tmp_path / "wh"), n_buckets=4)
    f1 = tmp_path / "sales_1.csv"
    f2 = tmp_path / "sales_2.csv"
    _write_csv(f1, [(1, 10.0), (2, 20.0)])
    _write_csv(f2, [(2, 25.0), (3, 30.0)])

    backend = RecordingBackend()
    assert PipelineRunner(spark, wh, cfg, str(f1), merge_backend=backend).run().success
    assert calls == []  # first load bypasses the merge (all inserts)
    r2 = PipelineRunner(spark, wh, cfg, str(f2), merge_backend=backend).run()
    assert r2.success and r2.counts.inserts == 1 and r2.counts.updates == 1
    assert len(calls) == 1
    assert calls[0]["table"] == "sales" and calls[0]["grain"] == ["id"]
    assert calls[0]["touched"]  # bounded rewrite: touched buckets listed

    got = {r["id"]: r["amount"] for r in wh.read_table("sales").collect()}
    assert got == {1: 10.0, 2: 25.0, 3: 30.0}


def test_default_backend_is_wired(spark, tmp_path):
    runner = PipelineRunner(
        spark, Warehouse(spark, str(tmp_path / "wh")), _cfg(), str(tmp_path / "x.csv")
    )
    assert isinstance(runner.merge_backend, SparkRewriteMergeBackend)


def test_delta_backend_import_gate():
    """Without delta-spark the adapter must refuse loudly at construction."""
    try:
        import delta  # noqa: F401

        pytest.skip("delta-spark installed; gate not exercised")
    except ImportError:
        pass
    with pytest.raises(ImportError, match="delta-spark"):
        DeltaMergeBackend("/tmp/nowhere")
