"""Plan-shape pins for the prefix-filter join, triangle counting, and
incremental aggregate maintenance — the physical shapes each is designed
around, asserted so regressions surface as failures, not silent
slowdowns at scale."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    incremental as INC,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    textdedup as TD,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.plans.explain import (
    executed_plan_text,
)


def _docs(spark):
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(15)))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prefix_join_windows_per_doc_only(spark):
    """The global-order ranking must partition by doc (bounded
    partitions) — a global sort/window over the whole index would be the
    scale-killer. One Window node, partitioned by doc."""
    plan = executed_plan_text(
        TD.jaccard_prefix_pairs(_docs(spark), "doc_id", "text")
    ).split("== Initial Plan ==")[0]
    assert "Window" in plan
    # the window spec must name doc as its partition key — a global
    # (unpartitioned) window here is the scale-killer this test pins
    assert "windowspecdefinition(doc" in plan.lower().replace(" ", "")
    # the candidate join must be an equi-join on the shingle key
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    # no cartesian anywhere
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_maintenance_never_scans_base_fact(spark):
    """Maintenance = delta agg over the batch + outer join with the
    stored aggregate. With the stored aggregate supplied as a table, the
    executed plan must contain no scan of any fact-sized input — only
    the change batch and the aggregate table."""
    base_agg = spark.createDataFrame(
        [("a", 10, 1000), ("b", 5, 500)],
        "k string, cnt long, sum_scaled long",
    )
    changes = spark.createDataFrame(
        [("a", "I", 0.0, 3.0), ("c", "I", 0.0, 4.0)],
        "k string, op string, old_val double, new_val double",
    )
    out = INC.apply_agg_deltas(
        base_agg, INC.agg_deltas(changes, ["k"]), ["k"]
    )
    plan = executed_plan_text(out).split("== Initial Plan ==")[0]
    # exactly one aggregation over the change batch feeding the merge
    # join; the merge itself is a key-wise outer join
    assert "FullOuter" in plan or "SortMergeJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    assert "CartesianProduct" not in plan
    # result correctness of the merge shape
    got = {r["k"]: (r["cnt"], r["sum_scaled"]) for r in out.collect()}
    assert got == {"a": (11, 1300), "b": (5, 500), "c": (1, 400)}


def test_triangle_wedge_join_is_equi(spark):
    """Wedge generation and closure must both be equi-joins (on the
    shared corner and the (b, c) edge key) — never a nested-loop or
    cartesian expansion."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators.graph import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)]
        + [(i, (i + 2) % 12) for i in range(12)],
        "src long, dst long",
    )
    out = triangle_counts(edges)
    plan = executed_plan_text(out).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # circulant graph C12(1,2): node v sits in triangles (v-2,v-1,v),
    # (v-1,v,v+1), (v,v+1,v+2) — exactly 3 each
    got = {r["node"]: r["triangles"] for r in out.collect()}
    assert got == {i: 3 for i in range(12)}


def test_topk_maintenance_is_equi_join_only(spark):
    """No nested-loop or cartesian join anywhere in the top-k
    maintenance plan — one query: the key-partitioned count pass, its
    key windows, and the broadcast key semi-join that rescans squeezed
    keys — plus an exactness check of the maintained leaderboard."""
    from pyspark.sql import functions as F

    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        incremental as INC,
    )

    fact = spark.createDataFrame(
        [(f"k{i % 3}", float(i)) for i in range(30)],
        "k string, val double",
    )
    stored = INC.build_topk_state(fact, ["k"], "val", k=3, buffer=2)
    ch = spark.createDataFrame(
        [("k0", "D", 29.0, None), ("k1", "I", None, 50.0)],
        "k string, op string, old_val double, new_val double",
    )
    out = INC.maintain_topk(stored, ch, fact, ["k"], "val", k=3, buffer=2)
    plan = executed_plan_text(out).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # and the result is right: the delete references a value k0 never
    # held (29 ≡ 2 mod 3 — invalid CDC), which harmlessly no-ops
    # because nothing stored pairs with it; k1 gains 50
    got = {
        (r["k"], r["pos"]): r["val_scaled"]
        for r in INC.topk_rows(out, ["k"], 3).collect()
    }
    assert got[("k0", 1)] == 2700 and got[("k1", 1)] == 5000

    # a batch that squeezes k0 (its top three removed): one key
    # exchange carries the count pass and the squeezed-key broadcast
    # reuses it; the rescan filters the fact rows by that broadcast
    # BEFORE its own exchange, so only squeezed keys' fact rows shuffle
    squeeze = spark.createDataFrame(
        [("k0", "D", v, None) for v in (27.0, 24.0, 21.0)], ch.schema
    )
    fact2 = fact.filter((F.col("k") != "k0") | (F.col("val") < 21))
    out2 = INC.maintain_topk(
        stored, squeeze, fact2, ["k"], "val", k=3, buffer=2
    )
    plan2 = executed_plan_text(out2).split("== Initial Plan ==")[0]
    key_exchange = r"\+- Exchange hashpartitioning\([^)]*\), REPARTITION_BY_COL"
    assert len(re.findall(key_exchange, plan2)) == 1
    assert "ReusedExchange" in plan2
    assert "LeftSemi, BuildRight" in plan2
    got2 = [
        r["val_scaled"]
        for r in INC.topk_rows(out2, ["k"], 3)
        .filter(F.col("k") == "k0")
        .orderBy("pos")
        .collect()
    ]
    assert got2 == [1800, 1500, 1200]
