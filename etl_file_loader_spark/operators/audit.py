"""Audit operators (SURVEY §2.4 A1-A4).

 - grain uniqueness: COUNT(*) vs COUNT(DISTINCT grain) in one aggregate pass
   (reference audit/postgresql.py:20-26 and dialect twins). Composite grain is
   native — no string-concat hacks needed.
 - duplicate examples: top-5 duplicated grains (reference db_utils.py:331-351)
 - custom audit contract: user SQL over ``{table}``; single-row result; every
   column is a named boolean audit, value 0 => failed (reference
   audit/base.py:96-121). Reproduced exactly via temp view + ``spark.sql``.
 - validation threshold: errors/records >= threshold => fail, first-5 samples
   (reference validator.py:45, 130-169)

Scale: the grain check is one hash-aggregate shuffle on the grain key —
map-side partial aggregation makes the shuffled data proportional to distinct
grains, not rows. The duplicate-examples query reuses the same shuffle shape;
`limit(5)` keeps the driver transfer bounded.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_file_loader_spark.config import sanitize_identifier
from etl_file_loader_spark.exceptions import (
    AuditFailedError,
    GrainValidationError,
    ValidationThresholdExceededError,
)


def grain_counts(df: DataFrame, grain: list[str]) -> DataFrame:
    """Single-row frame: total_rows, distinct_grains, is_unique (0/1)."""
    agg = df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count_distinct(*[F.col(g) for g in grain]).alias("distinct_grains"),
    )
    return agg.withColumn(
        "is_unique", (F.col("total_rows") == F.col("distinct_grains")).cast("int")
    )


def duplicate_grain_examples(df: DataFrame, grain: list[str], limit: int = 5) -> DataFrame:
    """Top-N duplicated grains with counts, deterministic order (count desc, grain asc)."""
    return (
        df.groupBy(*grain)
        .agg(F.count(F.lit(1)).alias("duplicate_count"))
        .filter(F.col("duplicate_count") > 1)
        .orderBy(F.col("duplicate_count").desc(), *[F.col(g) for g in grain])
        .limit(limit)
    )


def check_grain_counts(
    df: DataFrame,
    grain: list[str],
    total_rows: int,
    distinct_grains: int,
    filename: str | None = None,
) -> None:
    """The grain decision from precomputed counts: raise GrainValidationError
    with top-5 examples from ``df`` when ``distinct_grains < total_rows``.
    Callers that already aggregate the frame (the pipeline folds the counts
    into its validation pass) skip :func:`grain_counts`' own job."""
    if total_rows != distinct_grains:
        examples = [r.asDict() for r in duplicate_grain_examples(df, grain).collect()]
        raise GrainValidationError(grain, examples, filename)


def check_grain(df: DataFrame, grain: list[str], filename: str | None = None) -> None:
    """Raise GrainValidationError with top-5 examples if the grain duplicates."""
    row = grain_counts(df, grain).collect()[0]
    check_grain_counts(df, grain, row["total_rows"], row["distinct_grains"], filename)


def run_audit_query(
    spark: SparkSession, df: DataFrame, audit_query: str, view_name: str = "stage_audit"
) -> DataFrame:
    """Run the user audit SQL with ``{table}`` bound to a temp view of df."""
    view = sanitize_identifier(view_name)
    df.createOrReplaceTempView(view)
    return spark.sql(audit_query.format(table=view))


def check_audits(
    spark: SparkSession,
    df: DataFrame,
    audit_query: str | None,
    filename: str | None = None,
    view_name: str = "stage_audit",
) -> dict[str, int]:
    """Evaluate the audit contract; raise AuditFailedError on any 0-valued column.

    ``view_name`` follows the reference's transient stage-table naming
    (``stage__<sanitized filename>``, db_utils.py:204-224) so the audit SQL's
    ``{table}`` binding is file-scoped — safe under parallel file processing.
    """
    if not audit_query:
        return {}
    result = run_audit_query(spark, df, audit_query, view_name)
    rows = result.collect()
    if len(rows) != 1:
        raise AuditFailedError([f"audit query returned {len(rows)} rows, expected 1"], filename)
    values = rows[0].asDict()
    failed = [name for name, v in values.items() if v == 0]
    if failed:
        raise AuditFailedError(failed, filename)
    return values


@dataclass
class ValidationStats:
    total_rows: int
    error_rows: int

    @property
    def error_rate(self) -> float:
        return round(self.error_rows / self.total_rows, 2) if self.total_rows else 0.0


def check_threshold(
    stats: ValidationStats,
    threshold: float,
    invalid_df: DataFrame | None = None,
    filename: str | None = None,
) -> None:
    """errors/records >= threshold => fail with first-5 samples (reference validator.py:149-169)."""
    if stats.error_rows and stats.error_rate >= threshold:
        samples = (
            [r.asDict(recursive=True) for r in invalid_df.limit(5).collect()]
            if invalid_df is not None
            else []
        )
        raise ValidationThresholdExceededError(stats.error_rate, threshold, samples, filename)


def diff_tables(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level table diff (the data-reconciliation tool next to the
    grain/contract audits): full-outer join two keyed snapshots and
    classify every key as ``added`` / ``removed`` / ``changed`` /
    ``unchanged``, with the exact list of changed columns (null-safe
    per-column compare, column order preserved).

    Plan shape (100 TB): ONE equi-join on the keys — identical cost to
    the MERGE it usually precedes or audits; per-column comparison is a
    scan-side projection. On bucketed snapshots the shuffle drops out
    entirely. Cross-engine: join + null-safe equality + conditional
    array assembly, DuckDB-oracle-checked (suite ``table_diff``).
    """
    cols = compare_cols or [c for c in new.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in cols],
        F.lit(True).alias("_in_o"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in keys],
        *[F.col(c).alias(f"_n_{c}") for c in cols],
        F.lit(True).alias("_in_n"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"_ok_{k}") == F.col(f"_nk_{k}")
        cond = eq if cond is None else (cond & eq)
    j = o.join(n, cond, "full_outer")
    in_o = F.coalesce(F.col("_in_o"), F.lit(False))
    in_n = F.coalesce(F.col("_in_n"), F.lit(False))
    changed_cols = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")), F.lit(c)
                )
                for c in cols
            ]
        )
    )
    status = (
        F.when(in_o & ~in_n, F.lit("removed"))
        .when(~in_o & in_n, F.lit("added"))
        .when(F.size(changed_cols) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        *[
            F.coalesce(F.col(f"_ok_{k}"), F.col(f"_nk_{k}")).alias(k)
            for k in keys
        ],
        status.alias("status"),
        F.when(in_o & in_n, changed_cols)
        .otherwise(F.array().cast("array<string>"))
        .alias("changed_cols"),
    )
