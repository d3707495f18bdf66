"""The reference's three ETL jobs, re-expressed as one generic Spark job.

Reference shape (``product_etl.py``, ``orders_etl.py``, ``order_items_etl.py``):
read CSV with declared schema → validate (5 staged passes) → dedup by PK →
FK probes (order_items only) → Delta MERGE upsert or initial partitioned
write → rejects to quarantine CSV.

Rebuild shape (single pass per concern, SURVEY.md §4.3 fixes applied):
read CSV (PERMISSIVE) → single-pass validation with observe() metrics →
deterministic dedup → chained broadcast semi/anti FK probes → merge_upsert
(dynamic partition overwrite) → namespaced quarantine writes. Each stage is
an engine operator; this module only wires them per TableSpec.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    dedup as D,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    joins as J,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    merge as M,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    validation as V,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
    read_csv,
    write_rejects,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
    snapshots as S,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import TableSpec


@dataclass
class JobResult:
    table: str
    rows_in: int
    rows_written: int
    rows_rejected: int
    reject_paths: list[str] = field(default_factory=list)


def run_etl_job(
    spark: SparkSession,
    spec: TableSpec,
    raw_paths: str | list[str],
    warehouse_path: str,
    rejected_path: str,
    run_id: str,
    ref_tables: dict[str, DataFrame] | None = None,
    deterministic_dedup: bool = True,
    use_snapshots: bool = False,
) -> JobResult:
    """One table's raw→curated hop. ``ref_tables`` supplies FK targets
    (curated orders/products frames for the order_items job).
    ``use_snapshots=True`` publishes the MERGE through the manifest-log
    snapshot format (sources/snapshots.py): atomic commit + time travel
    per job run, with only affected partitions rewritten."""
    table_path = f"{warehouse_path}/{spec.name}"
    raw = read_csv(spark, raw_paths, spec.schema)

    res = V.validate(raw, spec, cache=True, observe=True)
    valid, rejected = res.valid, res.rejected

    if deterministic_dedup:
        valid = D.dedup_deterministic(valid, [spec.primary_key])
    else:  # reference semantics (dropDuplicates, arbitrary survivor)
        valid = D.dedup_exact(valid, [spec.primary_key])

    orphans = None
    fk_cleanup = None
    if spec.foreign_keys:
        if not ref_tables:
            raise ValueError(f"{spec.name} has FKs but no ref_tables supplied")
        valid, orphans, fk_cleanup = J.fk_check(valid, ref_tables, spec.foreign_keys)

    # single action drives the whole pipeline; observe() metrics ride along.
    # check_source_unique=False: both dedup paths above already guarantee a
    # unique PK, so the merge-side probe would only re-run the plan.
    if use_snapshots:
        S.merge_commit(spark, valid, table_path, spec, check_source_unique=False)
    else:
        M.merge_upsert(spark, valid, table_path, spec, check_source_unique=False)

    # the merge's action ran the validation pass: its observation already
    # holds the reject count, so counting `rejected` again would re-scan
    metrics = res.metrics()
    reject_paths: list[str] = []
    n_rejected = int(metrics["rows_in"]) - int(metrics["rows_valid"])
    if n_rejected:
        reject_paths.append(write_rejects(rejected, rejected_path, spec.name, run_id))
    if orphans is not None:
        orph_count = orphans.count()
        if orph_count:
            reject_paths.append(
                write_rejects(orphans, rejected_path, f"{spec.name}_fk", run_id)
            )
            n_rejected += orph_count

    res.unpersist()  # all outputs consumed; release the cached batch
    if fk_cleanup is not None:
        fk_cleanup()
    if use_snapshots:
        written = S.read(spark, table_path)
    else:
        written = spark.read.parquet(table_path)
    return JobResult(
        table=spec.name,
        rows_in=int(metrics.get("rows_in", 0)),
        rows_written=written.count(),
        rows_rejected=n_rejected,
        reject_paths=reject_paths,
    )


def register_table(spark: SparkSession, spec: TableSpec, warehouse_path: str) -> None:
    """Catalog registration (S8): expose the curated table to spark.sql by
    name — Spark's catalog replaces the Glue crawler + Athena catalog."""
    spark.read.parquet(f"{warehouse_path}/{spec.name}").createOrReplaceTempView(
        spec.name
    )
