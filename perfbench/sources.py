"""Source configurations of the ingest workload (FIXTURES.md sections 1-4)
and the Spark-side digest that mirrors ``gen.row_digest``."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_file_loader_spark.config import FieldSpec, SourceConfig
from etl_file_loader_spark.functions import clean_email, clean_phone
from etl_file_loader_spark.registry import SourceRegistry


def _positive(col: str) -> str:
    return (f"SELECT CASE WHEN SUM(CASE WHEN {col} > 0 THEN 1 ELSE 0 END) = COUNT(*) "
            f"THEN 1 ELSE 0 END AS {col}_positive FROM {{table}}")


def customers(pattern: str = "customers-*.parquet") -> SourceConfig:
    s = T.StringType()
    return SourceConfig(
        name="customers",
        file_pattern=pattern,
        file_format="parquet",
        fields=[
            FieldSpec("customer_id", s, alias="Customer Id", nullable=False, max_length=50),
            FieldSpec("first_name", s, alias="First Name", nullable=False, max_length=100),
            FieldSpec("last_name", s, alias="Last Name", nullable=False, max_length=100),
            FieldSpec("company_name", s, alias="Company", max_length=100),
            FieldSpec("city", s, max_length=100),
            FieldSpec("country", s, max_length=100),
            FieldSpec("phone_one", s, alias="Phone 1", max_length=25, cleaner=clean_phone),
            FieldSpec("phone_two", s, alias="Phone 2", max_length=25, cleaner=clean_phone),
            FieldSpec("email", s, nullable=False, email=True, max_length=100, cleaner=clean_email),
            FieldSpec("subscription_date", T.DateType(), alias="Subscription Date"),
            FieldSpec("website", s, max_length=100),
        ],
        grain=["customer_id"],
        validation_error_threshold=0.05,
    )


def transactions() -> SourceConfig:
    s = T.StringType()
    return SourceConfig(
        name="transactions",
        file_pattern="sales_*.csv",
        file_format="csv",
        fields=[
            FieldSpec("transaction_id", s, nullable=False, max_length=100),
            FieldSpec("customer_id", s, nullable=False, max_length=100),
            FieldSpec("product_sku", s, nullable=False, max_length=100),
            FieldSpec("quantity", T.LongType(), nullable=False),
            FieldSpec("unit_price", T.DoubleType(), nullable=False),
            FieldSpec("total_amount", T.DoubleType(), nullable=False),
            FieldSpec("sale_date", T.DateType(), nullable=False),
            FieldSpec("sales_rep", s, nullable=False, max_length=100),
        ],
        grain=["transaction_id"],
        audit_query=_positive("unit_price"),
        validation_error_threshold=0.1,
    )


def products() -> SourceConfig:
    s = T.StringType()
    return SourceConfig(
        name="products",
        file_pattern="inventory_*.xlsx",
        file_format="excel",
        sheet_name="Products",
        fields=[
            FieldSpec("sku", s, alias="SKU", nullable=False),
            FieldSpec("name", s, alias="Product Name"),
            FieldSpec("category", s, alias="Category"),
            FieldSpec("price", T.DoubleType(), alias="Price", nullable=False),
            FieldSpec("stock_quantity", T.LongType(), alias="Stock Qty"),
            FieldSpec("supplier", s, alias="Supplier"),
            FieldSpec("last_date", T.DateType(), alias="Last Date"),
        ],
        grain=["sku"],
        audit_query=_positive("price"),
    )


def ledger_entries() -> SourceConfig:
    s = T.StringType()
    return SourceConfig(
        name="ledger_entries",
        file_pattern="ledger_*.json",
        file_format="json",
        array_path="entries.item",
        fields=[
            FieldSpec("entry_id", T.LongType(), nullable=False),
            FieldSpec("account_code", s, nullable=False, max_length=100),
            FieldSpec("account_name", s, nullable=False, max_length=100),
            FieldSpec("debit_amount", T.DoubleType()),
            FieldSpec("credit_amount", T.DoubleType()),
            FieldSpec("description", s, nullable=False, max_length=500),
            FieldSpec("transaction_date", T.DateType(), nullable=False),
            FieldSpec("reference_number", s, nullable=False, max_length=100),
        ],
        grain=["entry_id"],
        audit_query=_positive("debit_amount"),
    )


def drop_registry() -> SourceRegistry:
    return SourceRegistry([transactions(), products(), ledger_entries(), customers()])


def table_digest(df, config: SourceConfig) -> tuple[int, int]:
    """(rows, digest) of a table's business columns, order-insensitive:
    doubles render as decimal(38,2), other types as their string cast,
    nulls as ``\\N`` — the same canonical form as ``gen.row_digest``."""
    parts = []
    for f in config.fields:
        c = F.col(f.name)
        if isinstance(f.dtype, T.DoubleType):
            c = c.cast("decimal(38,2)")
        parts.append(F.coalesce(c.cast("string"), F.lit("\\N")))
    term = F.conv(F.substring(F.md5(F.concat_ws("|", *parts)), 1, 15), 16, 10)
    row = df.agg(F.count(F.lit(1)), F.sum(term.cast("decimal(38,0)"))).first()
    return int(row[0]), int(row[1] or 0)
