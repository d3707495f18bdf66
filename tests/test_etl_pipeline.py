"""End-to-end pipeline parity: dirty reference-shaped raw CSVs → curated
tables, rejects quarantined, FK orphans caught, SQL surface queryable,
reruns idempotent (SURVEY.md §5.3 contract)."""

from __future__ import annotations

import glob
import os

import pytest

from _lakehouse_architecture_for_e_commerce_transactions_spark.etl.orchestrator import (
    PipelineConfig,
    RetryPolicy,
    data_available,
    run_pipeline,
    validation_queries,
)
from tests.conftest import write_raw_zone


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("lakehouse"))
    expected = write_raw_zone(f"{base}/raw")
    cfg = PipelineConfig(
        raw_path=f"{base}/raw",
        warehouse_path=f"{base}/warehouse",
        rejected_path=f"{base}/rejected",
        archive_path=f"{base}/archived",
        retry=RetryPolicy(attempts=1, interval_s=0.0),
        notifier=lambda s, m: None,
    )
    assert data_available(cfg)
    results = run_pipeline(spark, cfg, run_id="r1")
    return base, cfg, expected, results


def test_row_counts(pipeline_run):
    _, _, expected, results = pipeline_run
    for table, exp in expected.items():
        assert results[table].rows_written == exp["written"], table
        exp_rej = exp["rejected"] + exp.get("orphans", 0)
        assert results[table].rows_rejected == exp_rej, table


def test_quarantine_zone(pipeline_run, spark):
    base, cfg, _, _ = pipeline_run
    rej = spark.read.option("header", True).csv(
        f"{cfg.rejected_path}/order_items_fk/run_id=r1"
    )
    reasons = sorted(r["_reject_reason"] for r in rej.collect())
    assert reasons == ["fk_violation_order_id", "fk_violation_product_id"]


def test_archive_moved_raw_files(pipeline_run):
    base, cfg, _, _ = pipeline_run
    assert not glob.glob(f"{cfg.raw_path}/*/*.csv")
    assert len(glob.glob(f"{cfg.archive_path}/*/run_id=r1/*.csv")) == 3


def test_sql_surface(pipeline_run, spark):
    _, cfg, _, _ = pipeline_run
    checks = validation_queries(spark)
    assert checks["orders_count"].collect()[0]["n"] == 30
    smoke = checks["orders_smoke"].collect()
    assert 0 < len(smoke) <= 10
    assert all(r["date"] == "2025-04-01" for r in smoke)


def test_partition_layout(pipeline_run):
    base, cfg, _, _ = pipeline_run
    # orders partitioned by date string, products by department_id
    assert os.path.isdir(f"{cfg.warehouse_path}/orders/date=2025-04-01")
    assert os.path.isdir(f"{cfg.warehouse_path}/orders/date=2025-04-02")
    assert glob.glob(f"{cfg.warehouse_path}/products/department_id=*")


def test_partition_pruning_on_curated_table(pipeline_run, spark):
    """A partition-column predicate must prune at the file index — the scan
    reads one date directory, not the table (the reference's Athena
    partition-pruned queries, SURVEY.md §2.2 P8)."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.plans import (
        explain,
    )

    _, cfg, _, _ = pipeline_run
    df = spark.read.parquet(f"{cfg.warehouse_path}/orders").filter(
        "date = '2025-04-01'"
    )
    text = explain.plan_text(df)
    assert "PartitionFilters" in text
    # the pruned plan carries the predicate in PartitionFilters, and the
    # data filter list stays empty (no per-row evaluation needed)
    pf_line = next(l for l in text.splitlines() if "PartitionFilters" in l)
    assert "2025-04-01" in pf_line


def test_rerun_idempotent(pipeline_run, spark):
    base, cfg, expected, _ = pipeline_run
    # re-deliver the same raw batch (simulates retry after partial failure)
    write_raw_zone(f"{base}/raw")
    results2 = run_pipeline(spark, cfg, run_id="r2")
    for table, exp in expected.items():
        assert results2[table].rows_written == exp["written"], table
        exp_rej = exp["rejected"] + exp.get("orphans", 0)
        assert results2[table].rows_rejected == exp_rej, table


def test_availability_gate(spark, tmp_path):
    cfg = PipelineConfig(
        raw_path=str(tmp_path / "empty_raw"),
        warehouse_path=str(tmp_path / "wh"),
        rejected_path=str(tmp_path / "rej"),
        archive_path=str(tmp_path / "arc"),
        retry=RetryPolicy(attempts=1, interval_s=0.0),
        notifier=lambda s, m: None,
    )
    assert not data_available(cfg)
    with pytest.raises(FileNotFoundError):
        run_pipeline(spark, cfg, run_id="x")
