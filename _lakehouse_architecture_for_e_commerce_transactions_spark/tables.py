"""Declarative table specs and testdata loaders.

``TableSpec`` encodes everything the reference hard-codes per ETL job: the
declared ``StructType`` (``product_etl.py:28-33``, ``orders_etl.py:28-35``,
``order_items_etl.py:29-39``), the dedup/primary key (``product_etl.py:57``,
``orders_etl.py:59``, ``order_items_etl.py:94``), the partition column
(``product_etl.py:72``, ``orders_etl.py:74``, ``order_items_etl.py:109``) and
the FK references (``order_items_etl.py:70-90``). The validation engine,
merge writer and orchestrator are all generic over this spec.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


@dataclass(frozen=True)
class ForeignKey:
    """FK column in this table referencing ``ref_table.ref_column``."""

    column: str
    ref_table: str
    ref_column: str


@dataclass(frozen=True)
class TableSpec:
    name: str
    schema: StructType
    primary_key: str
    partition_by: tuple[str, ...] = ()
    foreign_keys: tuple[ForeignKey, ...] = ()
    # columns that must be non-null post-cast; defaults to all non-nullable
    # fields of the schema
    required_columns: tuple[str, ...] = ()
    # ORDER BY tiebreak for deterministic dedup (SURVEY.md §4.3-4); defaults
    # to all non-PK columns in schema order
    dedup_order_by: tuple[str, ...] = ()

    def required(self) -> list[str]:
        if self.required_columns:
            return list(self.required_columns)
        return [f.name for f in self.schema.fields if not f.nullable]

    def tiebreak(self) -> list[str]:
        if self.dedup_order_by:
            return list(self.dedup_order_by)
        return [f.name for f in self.schema.fields if f.name != self.primary_key]

    def timestamp_columns(self) -> list[str]:
        return [
            f.name for f in self.schema.fields if isinstance(f.dataType, TimestampType)
        ]


# --- the reference's entire data model (SURVEY.md §1.5) ---------------------

PRODUCTS = TableSpec(
    name="products",
    schema=StructType(
        [
            StructField("product_id", IntegerType(), False),
            StructField("department_id", IntegerType(), False),
            StructField("department", StringType(), False),
            StructField("product_name", StringType(), False),
        ]
    ),
    primary_key="product_id",
    partition_by=("department_id",),
)

ORDERS = TableSpec(
    name="orders",
    schema=StructType(
        [
            StructField("order_num", IntegerType(), False),
            StructField("order_id", IntegerType(), False),
            StructField("user_id", IntegerType(), False),
            StructField("order_timestamp", TimestampType(), False),
            StructField("total_amount", DoubleType(), False),
            StructField("date", StringType(), False),  # kept string for parity
        ]
    ),
    primary_key="order_id",
    partition_by=("date",),
)

ORDER_ITEMS = TableSpec(
    name="order_items",
    schema=StructType(
        [
            StructField("id", IntegerType(), False),
            StructField("order_id", IntegerType(), False),
            StructField("user_id", IntegerType(), False),
            StructField("days_since_prior_order", IntegerType(), True),
            StructField("product_id", IntegerType(), False),
            StructField("add_to_cart_order", IntegerType(), False),
            StructField("reordered", IntegerType(), False),
            StructField("order_timestamp", TimestampType(), False),
            StructField("date", StringType(), False),
        ]
    ),
    primary_key="id",
    partition_by=("date",),
    foreign_keys=(
        ForeignKey("order_id", "orders", "order_id"),
        ForeignKey("product_id", "products", "product_id"),
    ),
)

REFERENCE_TABLES: dict[str, TableSpec] = {
    t.name: t for t in (PRODUCTS, ORDERS, ORDER_ITEMS)
}


# --- driver testdata (TESTDATA.md) ------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Inferred schema per (sf_dir, table): the testdata directories are
# read-only and their file schemas immutable, so inference is paid once
# per table per process and every later load declares the schema instead.
# Each schemaless ``spark.read.parquet`` runs a footer-sampling driver job
# (~0.1-0.25 s locally); at cluster scale it is footer fetches over object
# storage per query — the declared-schema read is the manifest-equivalent.
# Metadata only (a StructType), never data or results.
_SCHEMA_CACHE: dict[tuple[str, str], StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one testdata table.

    Kept as a parquet scan (first call plain, later calls with the
    cached declared schema) so Catalyst column pruning and predicate
    pushdown reach the scan (verify with ``ReadSchema`` /
    ``PushedFilters`` in explain output).

    The ``events`` table stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark has no type for: read it as long (``nanosAsLong``) and convert to a
    microsecond timestamp with integer arithmetic (``div`` — a double division
    would lose precision on 1e18-scale nanosecond epochs).
    """
    try:  # the driver may hand us a session without the factory defaults
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf locked down
        pass
    cached = _SCHEMA_CACHE.get((sf_dir, name))
    if cached is not None:
        df = spark.read.schema(cached).parquet(f"{sf_dir}/{name}.parquet")
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _SCHEMA_CACHE[(sf_dir, name)] = df.schema
    from pyspark.sql.types import LongType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of one testdata table from parquet FOOTER metadata —
    driver-side file IO only (O(files) footer reads, no Spark job), so plan
    builders that need a size (e.g. the scale-safe SRP plane count) stay
    action-free. At cluster scale the same number comes from the table
    manifest/statistics; the footer read is the single-node equivalent."""
    import pyarrow.dataset as _ds

    return int(_ds.dataset(f"{sf_dir}/{name}.parquet").count_rows())


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the testdata tables to ``spark.sql`` by name (catalog surface,
    SURVEY.md §2.1 S8 — Spark's catalog replaces the Glue crawler)."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
