from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as E
from _lakehouse_architecture_for_e_commerce_transactions_spark.plans import (
    catalog,
    explain,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import load_table


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "count_order" in df.columns


def test_contract_shapes(spark):
    q = E.queries()
    o = E.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 40
    # every registry entry carries an oracle since round 3: the BLAS
    # twin shares its exact twin's SQL, minhash_fast pins the
    # hash-family-independent jaccard=1.0 result, simhash ports the md5
    # bit math, and the fixed BPE loop unrolls into SQL
    assert set(q) == set(o)


def test_scan_pushdown(spark, sf_dir):
    df = catalog.q_scan_filter_project(spark, sf_dir)
    # both predicates must reach the parquet scan
    explain.assert_pushed_filter(df, "l_quantity")
    explain.assert_pushed_filter(df, "l_discount")
    # projection pruning: scan must not read all 11 lineitem columns
    info = explain.scan_pushdown_info(df)
    assert "l_returnflag" not in info


def test_fk_semi_is_broadcast_not_shuffle(spark, sf_dir):
    df = catalog.q_fk_semi_join(spark, sf_dir)
    explain.assert_broadcast_join(df)


def test_pricing_summary_whole_stage_codegen(spark, sf_dir):
    # the test session turns whole-stage codegen off (conftest.py);
    # production sessions keep it on, and this is the plan they run
    key = "spark.sql.codegen.wholeStage"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = catalog.q_pricing_summary(spark, sf_dir)
        assert explain.codegen_stage_count(df) >= 1
        explain.assert_no_python_row_udf(df)
    finally:
        spark.conf.set(key, prev)


def test_codegen_on_and_off_give_equal_rows(spark):
    """The test session runs with whole-stage codegen off; production
    runs it on. The deterministic transcendentals and the
    higher-order-function array paths must give the same rows both
    ways (each frame is rebuilt per setting, so each is planned under
    it)."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.functions import (
        detmath as DM,
    )
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        textdedup as TD,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, "the quick brown fox jumps over a sleepy dog again and again today"),
            (4, "completely different text about spark optimization rounds"),
            (5, "two words"),
        ],
        "doc_id long, text string",
    )

    def frames():
        x = (F.col("id") / F.lit(500.0)).alias("x")
        return {
            "detmath": spark.range(-1000, 1000).select(
                "id", DM.det_exp(x).alias("e"), DM.det_exp_fold(x).alias("ef")
            ),
            "log2": spark.range(1, 2000).select(
                "id", DM.det_log2_int(F.col("id")).alias("l")
            ),
            "signatures": TD.minhash_signatures(docs, "doc_id", "text", n=3, k=8),
            "lsh_fast": TD.minhash_lsh_pairs_fast(docs, "doc_id", "text", n=3, k=8),
            "spans": TD.duplicate_span_pairs(docs, span_tokens=4),
        }

    def collect_all():
        return {
            name: sorted(tuple(r) for r in df.collect())
            for name, df in frames().items()
        }

    key = "spark.sql.codegen.wholeStage"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert explain.codegen_stage_count(frames()["detmath"]) >= 1
        on = collect_all()
        spark.conf.set(key, "false")
        off = collect_all()
    finally:
        spark.conf.set(key, prev)
    assert on == off
    assert len(on["detmath"]) == 2000 and len(on["log2"]) == 1999
    assert (1, 2) in {r[:2] for r in on["lsh_fast"]}
    assert (1, 2) in {r[:2] for r in on["spans"]}


def test_merge_sim_no_python_udf(spark, sf_dir):
    explain.assert_no_python_row_udf(catalog.q_merge_upsert_sim(spark, sf_dir))


def test_tpch_batch3_plan_shapes(spark, sf_dir):
    """Scale-critical plan properties of the subquery-heavy TPC-H shapes:
    predicates reach the scans, dims broadcast, no row-wise Python."""
    q6 = catalog.q_forecast_revenue_change(spark, sf_dir)
    explain.assert_pushed_filter(q6, "l_shipdate")
    explain.assert_pushed_filter(q6, "l_quantity")
    explain.assert_no_shuffle_join(q6)

    q19 = catalog.q_discounted_revenue_brackets(spark, sf_dir)
    explain.assert_broadcast_join(q19)
    explain.assert_no_shuffle_join(q19)  # part broadcast; lineitem unshuffled

    q17 = catalog.q_small_quantity_revenue(spark, sf_dir)
    explain.assert_broadcast_join(q17)
    explain.assert_no_python_row_udf(q17)

    q4 = catalog.q_late_shipment_priority(spark, sf_dir)
    explain.assert_pushed_filter(q4, "o_orderdate")

    # Q11 scalar threshold: the repeated aggregate subplan must be
    # deduplicated to one exchange, not recomputed
    from _lakehouse_architecture_for_e_commerce_transactions_spark.plans.explain import (
        executed_plan_text,
    )

    q11 = catalog.q_important_suppliers(spark, sf_dir)
    assert "ReusedExchange" in executed_plan_text(q11)
    # Q15 uses a singleton window instead of a second aggregate branch:
    # exactly one lineitem shuffle may appear in the executed plan
    q15 = catalog.q_top_revenue_supplier(spark, sf_dir)
    t15 = executed_plan_text(q15).split("== Initial Plan ==")[0]
    assert t15.count("Exchange hashpartitioning(l_suppkey") <= 1


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """At 100 TB a selective dim filter should reach the fact scan as a
    runtime bloom filter (semi-join reduction) when the join is too big to
    broadcast. Spark injects `bloom_filter_agg`/`might_contain` only when the
    application side scans >= applicationSideScanSizeThreshold (10 GB
    default) — invisible at test scale, so the thresholds are pinned to zero
    here to assert the optimizer wiring is live in this build."""
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        li = load_table(spark, sf_dir, "lineitem")
        p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "TYPE_3")
        q = li.join(p, li.l_partkey == p.p_partkey).groupBy("p_type").count()
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
