from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The suite's shared session runs with a 6g driver heap (below). Any
# in-test get_spark() call reusing that JVM must REQUEST the same size,
# or session.py's reuse guard warns (r11 verdict: a full green run
# should be warning-free). Env var, not default-edit: bench/CLI runs
# keep their 8g local default.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

from _lakehouse_architecture_for_e_commerce_transactions_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("spark-warehouse"))
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": wh,
            # One shared driver JVM survives the whole ~460-test suite
            # (tens of thousands of stages). The default 1g heap OOMs
            # late-suite on accumulated listener/UI history alone, so:
            # give the driver real headroom and stop retaining history
            # nobody reads in CI (the UI is off; the status stores
            # still collect unless bounded).
            "spark.driver.memory": "6g",
            "spark.ui.enabled": "false",
            "spark.ui.retainedJobs": "50",
            "spark.ui.retainedStages": "100",
            "spark.ui.retainedTasks": "500",
            "spark.sql.ui.retainedExecutions": "10",
            "spark.ui.dagGraph.retainedRootRDDs": "10",
            "spark.appStateStore.asyncTracking.enable": "true",
            # Janino compiles are pure overhead at test scale: the
            # suite runs thousands of tiny unique plans over KB-sized
            # data, so every whole-stage compile costs more than the
            # interpreted eval it would speed up (r15, measured -16%
            # suite wall on the CDF+incremental files; the driver's
            # verify has a finite budget and the suite must fit it).
            # Production/bench sessions keep codegen on — this is the
            # TEST session only; a test that asserts codegen nodes turns
            # it on for its own duration
            # (test_pricing_summary_whole_stage_codegen).
            "spark.sql.codegen.wholeStage": "false",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# --- reference-shaped raw CSV fixtures (FIXTURES.md) ------------------------

PRODUCTS_HEADER = "product_id,department_id,department,product_name"
ORDERS_HEADER = "order_num,order_id,user_id,order_timestamp,total_amount,date"
ORDER_ITEMS_HEADER = (
    "id,order_id,user_id,days_since_prior_order,product_id,"
    "add_to_cart_order,reordered,order_timestamp,date"
)


def write_raw_zone(base: str) -> dict[str, dict[str, int]]:
    """Dirty reference-shaped raw data with known-good expectations.

    Returns per-table dicts of expected counts (written/rejected/orphans).
    """
    os.makedirs(f"{base}/products", exist_ok=True)
    os.makedirs(f"{base}/orders", exist_ok=True)
    os.makedirs(f"{base}/order_items", exist_ok=True)

    products = [PRODUCTS_HEADER]
    for pid in range(1, 21):
        products.append(f"{pid},{pid % 6 + 1},Dept{pid % 6 + 1},Product_{pid}")
    products.append("21,notanint,DeptX,BadCast")  # cast failure → reject
    products.append(",2,DeptY,NullPK")  # null PK → reject
    products.append("5,3,Dept3,Product_5_dup")  # duplicate PK → dedup
    with open(f"{base}/products/products.csv", "w") as f:
        f.write("\n".join(products) + "\n")

    orders = [ORDERS_HEADER]
    for oid in range(101, 121):
        orders.append(
            f"{oid % 99},{oid},{1000 + oid},2025-04-01T10:{oid % 60:02d}:00,"
            f"{oid * 1.5:.2f},2025-04-01"
        )
    for oid in range(121, 131):
        orders.append(
            f"{oid % 99},{oid},{1000 + oid},2025-04-02T11:{oid % 60:02d}:00,"
            f"{oid * 1.5:.2f},2025-04-02"
        )
    orders.append("1,131,2131,invalid_timestamp,42.00,2025-04-02")  # ts → null
    orders.append("2,132,2132,2025-04-02T09:00:00,,2025-04-02")  # null amount
    orders.append("3,105,9999,2025-04-01T23:59:59,999.99,2025-04-01")  # dup PK
    with open(f"{base}/orders/orders.csv", "w") as f:
        f.write("\n".join(orders) + "\n")

    items = [ORDER_ITEMS_HEADER]
    iid = 1
    for oid in range(101, 121):
        for j in range(2):
            items.append(
                f"{iid},{oid},{1000 + oid},{j},{(iid % 20) + 1},{j + 1},0,"
                f"2025-04-01T10:00:00,2025-04-01"
            )
            iid += 1
    items.append(  # FK orphan: order 999 doesn't exist
        f"{iid},999,1999,1,1,1,0,2025-04-01T10:00:00,2025-04-01"
    )
    iid += 1
    items.append(  # FK orphan: product 500 doesn't exist
        f"{iid},101,1101,1,500,1,0,2025-04-01T10:00:00,2025-04-01"
    )
    iid += 1
    items.append(f",101,1101,1,1,1,0,2025-04-01T10:00:00,2025-04-01")  # null PK
    with open(f"{base}/order_items/order_items.csv", "w") as f:
        f.write("\n".join(items) + "\n")

    return {
        "products": {"written": 20, "rejected": 2},
        "orders": {"written": 30, "rejected": 2},
        "order_items": {"written": 40, "rejected": 1, "orphans": 2},
    }
