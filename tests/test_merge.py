from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    merge as M,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import TableSpec

SPEC = TableSpec(
    name="t",
    schema=StructType(
        [
            StructField("pk", IntegerType(), False),
            StructField("amt", DoubleType(), False),
            StructField("part", StringType(), False),
        ]
    ),
    primary_key="pk",
    partition_by=("part",),
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "pk int, amt double, part string")


def test_create_then_upsert(spark, tmp_path):
    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, SPEC)
    assert M.table_exists(spark, path)
    # update pk=1, insert pk=3
    M.merge_upsert(spark, _df(spark, [(1, 10.0, "a"), (3, 3.0, "a")]), path, SPEC)
    got = {r["pk"]: r["amt"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 10.0, 2: 2.0, 3: 3.0}


def test_untouched_partitions_not_rewritten(spark, tmp_path):
    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, SPEC)
    files_b_before = {
        f for f in os.listdir(f"{path}/part=b") if f.endswith(".parquet")
    }
    M.merge_upsert(spark, _df(spark, [(1, 99.0, "a")]), path, SPEC)
    files_b_after = {
        f for f in os.listdir(f"{path}/part=b") if f.endswith(".parquet")
    }
    # dynamic partition overwrite must leave partition b's files untouched
    assert files_b_before == files_b_after
    got = {r["pk"]: r["amt"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 99.0, 2: 2.0}


def test_idempotent_rerun(spark, tmp_path):
    path = str(tmp_path / "t")
    batch = _df(spark, [(1, 1.0, "a"), (2, 2.0, "b")])
    M.merge_upsert(spark, batch, path, SPEC)
    M.merge_upsert(spark, batch, path, SPEC)  # retry-replay must converge
    assert spark.read.parquet(path).count() == 2


def test_duplicate_source_keys_raise(spark, tmp_path):
    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a")]), path, SPEC)
    with pytest.raises(ValueError, match="duplicate"):
        M.merge_upsert(
            spark, _df(spark, [(2, 1.0, "a"), (2, 2.0, "a")]), path, SPEC
        )


def test_multi_column_partitioning(spark, tmp_path):
    spec = TableSpec(
        name="t2",
        schema=StructType(
            [
                StructField("pk", IntegerType(), False),
                StructField("amt", DoubleType(), False),
                StructField("y", StringType(), False),
                StructField("m", StringType(), False),
            ]
        ),
        primary_key="pk",
        partition_by=("y", "m"),
    )
    path = str(tmp_path / "t2")

    def df(rows):
        return spark.createDataFrame(rows, "pk int, amt double, y string, m string")

    M.merge_upsert(
        spark, df([(1, 1.0, "2025", "01"), (2, 2.0, "2025", "02")]), path, spec
    )
    M.merge_upsert(spark, df([(1, 9.0, "2025", "03")]), path, spec)  # moves
    import os

    assert not os.path.isdir(f"{path}/y=2025/m=01")  # emptied dir removed
    got = {r["pk"]: (r["amt"], r["m"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: (9.0, "03"), 2: (2.0, "02")}


def test_schema_evolution_additive(spark, tmp_path):
    from pyspark.sql.types import LongType

    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a")]), path, SPEC)
    evolved = TableSpec(
        name="t",
        schema=StructType(
            list(SPEC.schema.fields) + [StructField("extra", LongType(), True)]
        ),
        primary_key="pk",
        partition_by=("part",),
    )
    src = spark.createDataFrame(
        [(2, 2.0, "a", 42)], "pk int, amt double, part string, extra long"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        M.merge_upsert(spark, src, path, evolved)  # evolution must be opted in
    M.merge_upsert(spark, src, path, evolved, evolve_schema=True)
    got = {r["pk"]: r["extra"] for r in spark.read.parquet(path).collect()}
    assert got == {1: None, 2: 42}  # old rows backfilled with null


def test_rows_moving_between_partitions(spark, tmp_path):
    """A source row whose partition value changed: old-partition copy must
    not survive if the old partition is also affected by the batch."""
    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a"), (2, 2.0, "a")]), path, SPEC)
    # pk=1 moves a→b; pk=2 updated in place (partition a is affected)
    M.merge_upsert(spark, _df(spark, [(1, 5.0, "b"), (2, 9.0, "a")]), path, SPEC)
    got = {(r["pk"], r["part"]): r["amt"] for r in spark.read.parquet(path).collect()}
    assert got == {(1, "b"): 5.0, (2, "a"): 9.0}


def test_partition_move_with_otherwise_untouched_old_partition(spark, tmp_path):
    """The stale-copy hazard: pk=1 moves a→b and NOTHING else writes to a.
    The old copy in a must still be rewritten away (global key match)."""
    path = str(tmp_path / "t")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a"), (2, 2.0, "c")]), path, SPEC)
    M.merge_upsert(spark, _df(spark, [(1, 5.0, "b")]), path, SPEC)
    rows = spark.read.parquet(path).collect()
    got = {(r["pk"], r["part"]): r["amt"] for r in rows}
    assert got == {(1, "b"): 5.0, (2, "c"): 2.0}
    assert len(rows) == 2  # no duplicate pk=1 left behind in partition a


def test_null_partition_upsert_keeps_the_partitions_other_rows(spark, tmp_path):
    """Upserting pk=1 into the NULL partition rewrites
    __HIVE_DEFAULT_PARTITION__ with every row it holds: pk=2, which lives
    there too, must survive (an equi join on the partition value never
    matches NULL, so it used to be dropped)."""
    path = str(tmp_path / "t")
    M.merge_upsert(
        spark, _df(spark, [(1, 1.0, None), (2, 2.0, None), (3, 3.0, "a")]), path, SPEC
    )
    M.merge_upsert(spark, _df(spark, [(1, 10.0, None)]), path, SPEC)
    rows = spark.read.parquet(path).select("pk", "amt", "part").collect()
    assert sorted(tuple(r) for r in rows) == [
        (1, 10.0, None),
        (2, 2.0, None),
        (3, 3.0, "a"),
    ]


def test_scoped_upsert_plans_a_thousand_affected_partitions(spark):
    """The rewrite's partition predicate names every affected partition;
    a batch touching a thousand must still plan (a left-deep OR chain of
    a few hundred terms overflows the JVM stack during analysis)."""
    rows = [(i, float(i), f"p{i}") for i in range(1000)]
    scope = M.scoped_upsert(_df(spark, rows[:10]), _df(spark, rows), SPEC)
    assert scope.target.count() == 10
    scope = M.scoped_upsert(_df(spark, rows), _df(spark, rows), SPEC)
    assert len(scope.dirs) == 1000 and not scope.emptied
    assert scope.target.count() == 1000


TYPED_SPEC = TableSpec(  # the products.department_id shape
    name="t",
    schema=StructType(
        [
            StructField("pk", IntegerType(), False),
            StructField("amt", DoubleType(), False),
            StructField("dept", IntegerType(), False),
        ]
    ),
    primary_key="pk",
    partition_by=("dept",),
)


def test_typed_partition_move_deletes_emptied_directory(spark, tmp_path):
    """An IntegerType partition column reads back as a string (partition
    type inference is off). pk=1 moves out of dept=1, leaving it empty: the
    directory goes and no key is duplicated."""
    path = str(tmp_path / "t")

    def df(rows):
        return spark.createDataFrame(rows, "pk int, amt double, dept int")

    M.merge_upsert(spark, df([(1, 1.0, 1), (2, 2.0, 3)]), path, TYPED_SPEC)
    M.merge_upsert(spark, df([(1, 5.0, 2)]), path, TYPED_SPEC)
    assert not os.path.isdir(f"{path}/dept=1")
    rows = spark.read.parquet(path).collect()
    got = sorted((r["pk"], r["amt"], str(r["dept"])) for r in rows)
    assert got == [(1, 5.0, "2"), (2, 2.0, "3")]


@pytest.mark.skipif(
    not M._HAS_DELTA, reason="delta-spark not installed in this environment"
)
def test_merge_upsert_delta_acid_branch(spark, tmp_path):
    """Exercises the DeltaTable MERGE branch merge_upsert auto-selects when
    delta-spark is importable — skipped (not failing) until the package is
    present, so the ACID path is covered the day the environment has it."""
    path = str(tmp_path / "t_delta")
    M.merge_upsert(spark, _df(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, SPEC)
    assert M.DeltaTable.isDeltaTable(spark, path)  # wrote delta, not parquet
    M.merge_upsert(spark, _df(spark, [(1, 9.0, "a"), (3, 3.0, "c")]), path, SPEC)
    got = {
        r["pk"]: r["amt"]
        for r in spark.read.format("delta").load(path).collect()
    }
    assert got == {1: 9.0, 2: 2.0, 3: 3.0}
    # time travel: version 0 predates the second merge
    v0 = spark.read.format("delta").option("versionAsOf", 0).load(path)
    assert {r["pk"] for r in v0.collect()} == {1, 2}


def test_apply_changes_last_writer_wins(spark):
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators.merge import (
        apply_changes,
    )

    target = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", "U", 1),
            (1, None, "D", 2),   # later delete beats the update
            (2, "b2", "U", 5),
            (2, None, "D", 1),   # earlier delete loses to the update
            (9, "new", "I", 1),
        ],
        "k int, v string, op string, ts int",
    )
    got = {
        r["k"]: r["v"]
        for r in apply_changes(target, changes, "k", ts_col="ts").collect()
    }
    assert got == {2: "b2", 3: "c", 9: "new"}
