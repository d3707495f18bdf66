"""Snapshot-table protocol: atomic publication, snapshot isolation, time
travel, optimistic concurrency, vacuum of unreferenced data."""

from __future__ import annotations

import os

import pytest

from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
    snapshots as S,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_commit_read_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = S.commit(spark, _df(spark, [(1, "a"), (2, "b")]), path)
    v1 = S.commit(spark, _df(spark, [(1, "a2"), (3, "c")]), path)  # overwrite
    assert (v0, v1) == (0, 1)
    assert {r["k"]: r["v"] for r in S.read(spark, path).collect()} == {
        1: "a2", 3: "c"
    }
    assert {r["k"]: r["v"] for r in S.read(spark, path, 0).collect()} == {
        1: "a", 2: "b"
    }
    assert [s.version for s in S.history(path)] == [0, 1]


def test_append_carries_parent_files(spark, tmp_path):
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)
    S.commit(spark, _df(spark, [(2, "b")]), path, mode="append")
    assert S.read(spark, path).count() == 2
    assert S.read(spark, path, 0).count() == 1  # old snapshot untouched


def test_losing_writer_retries_on_top_of_winner(spark, tmp_path):
    """Simulate the race: the version the writer wants is published first
    by someone else; the commit must land on the next version, and for
    append mode must include the winner's rows."""
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)
    # adversary publishes v1 directly through the same protocol
    S.commit(spark, _df(spark, [(2, "adv")]), path, mode="append")
    v = S.commit(spark, _df(spark, [(3, "late")]), path, mode="append")
    assert v == 2
    assert {r["k"] for r in S.read(spark, path).collect()} == {1, 2, 3}


def test_reader_snapshot_is_immune_to_concurrent_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)
    pinned = S.read(spark, path)  # resolves the v0 manifest now
    S.commit(spark, _df(spark, [(9, "z")]), path)  # overwrite commits v1
    assert {r["k"] for r in pinned.collect()} == {1}  # still v0's files


def test_vacuum_drops_unreferenced_dirs_and_orphans(spark, tmp_path):
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)
    S.commit(spark, _df(spark, [(2, "b")]), path)  # v0's dir now dead
    # orphan from a "crashed" writer: data written, never published
    orphan = os.path.join(path, "data", "commit-deadbeef")
    _df(spark, [(99, "orphan")]).write.parquet(orphan)
    deleted = S.vacuum(path, keep_last=1)
    assert any("deadbeef" in d for d in deleted)
    assert len(deleted) == 2  # v0's dir + the orphan
    assert {r["k"] for r in S.read(spark, path).collect()} == {2}
    with pytest.raises(ValueError):
        S.read(spark, path, 0)  # vacuumed history is gone


def test_crashed_writer_leaves_table_readable(spark, tmp_path):
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)
    # a data dir with no manifest (crash between write and publish)
    _df(spark, [(2, "b")]).write.parquet(
        os.path.join(path, "data", "commit-crash")
    )
    assert {r["k"] for r in S.read(spark, path).collect()} == {1}


# --- partition-granular MERGE commits -------------------------------------

from pyspark.sql.types import (  # noqa: E402
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (  # noqa: E402
    TableSpec,
)

MSPEC = TableSpec(
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


def _mdf(spark, rows):
    return spark.createDataFrame(rows, "pk int, amt double, part string")


def test_merge_commit_upsert_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = S.merge_commit(spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, MSPEC)
    v1 = S.merge_commit(spark, _mdf(spark, [(1, 9.0, "a"), (3, 3.0, "c")]), path, MSPEC)
    assert (v0, v1) == (0, 1)
    got = {r["pk"]: (r["amt"], r["part"]) for r in S.read(spark, path).collect()}
    assert got == {1: (9.0, "a"), 2: (2.0, "b"), 3: (3.0, "c")}
    # time travel across merges
    assert {r["pk"]: r["amt"] for r in S.read(spark, path, 0).collect()} == {
        1: 1.0, 2: 2.0
    }


def test_merge_commit_untouched_partition_carries_by_reference(spark, tmp_path):
    path = str(tmp_path / "t")
    S.merge_commit(spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, MSPEC)
    S.merge_commit(spark, _mdf(spark, [(1, 9.0, "a")]), path, MSPEC)
    snap = S.load_snapshot(path)
    by_part = {tuple(e["parts"]): e for e in snap.part_entries}
    assert by_part[("a",)]["changed"] is True
    assert by_part[("b",)]["changed"] is False
    # partition b's entry still points into the FIRST commit's dir
    assert by_part[("b",)]["base"] != by_part[("a",)]["base"]


def test_merge_commit_partition_move_empties_old_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    S.merge_commit(spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "c")]), path, MSPEC)
    S.merge_commit(spark, _mdf(spark, [(1, 5.0, "b")]), path, MSPEC)  # a -> b
    rows = S.read(spark, path).collect()
    got = {(r["pk"], r["part"]): r["amt"] for r in rows}
    assert got == {(1, "b"): 5.0, (2, "c"): 2.0}
    assert len(rows) == 2  # no stale copy of pk=1 in partition a
    parts = {tuple(e["parts"]) for e in S.load_snapshot(path).part_entries}
    assert ("a",) not in parts  # emptied partition left the manifest


def test_merge_commit_typed_partition_move_drops_emptied_entry(spark, tmp_path):
    """IntegerType partition column (the products.department_id shape):
    pk=1 moves out of dept=1, leaving it empty — the entry leaves the
    manifest and no key is duplicated."""
    spec = TableSpec(
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
    path = str(tmp_path / "t")

    def df(rows):
        return spark.createDataFrame(rows, "pk int, amt double, dept int")

    S.merge_commit(spark, df([(1, 1.0, 1), (2, 2.0, 3)]), path, spec)
    S.merge_commit(spark, df([(1, 5.0, 2)]), path, spec)
    rows = S.read(spark, path).collect()
    assert sorted((r["pk"], r["amt"], r["dept"]) for r in rows) == [
        (1, 5.0, 2),
        (2, 2.0, 3),
    ]
    parts = {tuple(e["parts"]) for e in S.load_snapshot(path).part_entries}
    assert parts == {("2",), ("3",)}


def test_merge_commit_null_partition_upsert_replaces_its_entry(spark, tmp_path):
    """Upserting pk=1 into the NULL partition replaces the
    __HIVE_DEFAULT_PARTITION__ entry: the old pk=1 must not be carried
    beside the new one, and pk=2 (same partition) must survive."""
    path = str(tmp_path / "t")
    S.merge_commit(
        spark, _mdf(spark, [(1, 1.0, None), (2, 2.0, None), (3, 3.0, "a")]), path, MSPEC
    )
    S.merge_commit(spark, _mdf(spark, [(1, 10.0, None)]), path, MSPEC)
    rows = S.read(spark, path).select("pk", "amt", "part").collect()
    assert sorted(tuple(r) for r in rows) == [
        (1, 10.0, None),
        (2, 2.0, None),
        (3, 3.0, "a"),
    ]
    parts = sorted(tuple(e["parts"]) for e in S.load_snapshot(path).part_entries)
    assert parts == [("__HIVE_DEFAULT_PARTITION__",), ("a",)]


def test_delete_where_null_partition_replaces_its_entry(spark, tmp_path):
    """Deleting pk=1 from the NULL partition replaces the
    __HIVE_DEFAULT_PARTITION__ entry: the deleted row must not be carried
    in the old entry, and pk=2 (same partition) must appear once."""
    path = str(tmp_path / "t")
    S.merge_commit(
        spark, _mdf(spark, [(1, 1.0, None), (2, 2.0, None), (3, 3.0, "a")]), path, MSPEC
    )
    S.delete_where(spark, path, "pk = 1")
    rows = S.read(spark, path).select("pk", "amt", "part").collect()
    assert sorted(tuple(r) for r in rows) == [(2, 2.0, None), (3, 3.0, "a")]
    parts = sorted(tuple(e["parts"]) for e in S.load_snapshot(path).part_entries)
    assert parts == [("__HIVE_DEFAULT_PARTITION__",), ("a",)]


def test_delete_where_plans_a_thousand_affected_partitions(spark, tmp_path):
    """The rewrite's partition predicate names every partition holding a
    deleted row; a delete touching a thousand must still plan (a
    left-deep OR chain of that many terms overflows the JVM stack during
    analysis)."""
    path = str(tmp_path / "t")
    S.merge_commit(
        spark, _mdf(spark, [(i, float(i), f"p{i}") for i in range(1010)]), path, MSPEC
    )
    S.delete_where(spark, path, "pk < 1000")
    assert S.read(spark, path).count() == 10
    assert len(S.load_snapshot(path).part_entries) == 10


def _race_once(monkeypatch, path, adversary):
    """Run ``adversary`` once, inside the first manifest publish to
    ``path``: the writer under test has built its manifest against a
    head that moves before its publish lands. Nested publishes (the
    adversary's own) pass straight through."""
    real = S._try_publish_manifest
    state = {"fired": False}

    def racing(p, version, manifest):
        if not state["fired"] and os.path.abspath(p) == os.path.abspath(path):
            state["fired"] = True
            adversary()
        return real(p, version, manifest)

    monkeypatch.setattr(S, "_try_publish_manifest", racing)
    return state


def _referenced_dirs(path):
    """Basenames of every data/tombstone dir some version references."""
    refs = set()
    for s in S.history(path):
        refs.update(s.dirs)
        refs.update(s.dv_files or [])
        refs.update(e["base"] for e in s.part_entries or [])
    return {os.path.basename(d.rstrip(os.sep)) for d in refs}


def _assert_no_orphans(path):
    """Every dir under data/ is referenced by a version, and every
    referenced dir exists: a lost race left nothing behind."""
    on_disk = set(os.listdir(os.path.join(path, "data")))
    assert on_disk == _referenced_dirs(path)


def test_merge_commit_disjoint_partitions_rebase(spark, tmp_path, monkeypatch):
    """A writer that loses the manifest race to a DISJOINT-partition commit
    must rebase and succeed, keeping both commits' rows."""
    path = str(tmp_path / "t")
    S.merge_commit(spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, MSPEC)

    state = _race_once(
        monkeypatch,
        path,
        lambda: S.merge_commit(spark, _mdf(spark, [(2, 7.0, "b")]), path, MSPEC),
    )
    v = S.merge_commit(spark, _mdf(spark, [(1, 9.0, "a")]), path, MSPEC)
    assert state["fired"]
    assert v == 2
    got = {r["pk"]: r["amt"] for r in S.read(spark, path).collect()}
    assert got == {1: 9.0, 2: 7.0}  # both the adversary's and our write


def test_merge_commit_overlapping_partitions_conflict(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    S.merge_commit(spark, _mdf(spark, [(1, 1.0, "a")]), path, MSPEC)

    _race_once(
        monkeypatch,
        path,
        lambda: S.merge_commit(spark, _mdf(spark, [(9, 9.0, "a")]), path, MSPEC),
    )
    with pytest.raises(RuntimeError, match="conflict"):
        S.merge_commit(spark, _mdf(spark, [(1, 5.0, "a")]), path, MSPEC)


def test_append_commit_lost_race_lands_on_top_of_winner(
    spark, tmp_path, monkeypatch
):
    """An append that loses the publish race retries on the winner's
    head: both appends' rows land, in two linear versions."""
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)
    state = _race_once(
        monkeypatch,
        path,
        lambda: S.commit(spark, _df(spark, [(2, "adv")]), path, mode="append"),
    )
    v = S.commit(spark, _df(spark, [(3, "late")]), path, mode="append")
    assert state["fired"] and v == 2
    assert {r["k"] for r in S.read(spark, path).collect()} == {1, 2, 3}
    assert [s.op for s in S.history(path)] == ["WRITE", "APPEND", "APPEND"]
    _assert_no_orphans(path)


def test_replace_where_lost_race_rescopes_on_new_head(
    spark, tmp_path, monkeypatch
):
    """replace_where_commit re-evaluates its scope against the winner:
    the adversary's appended row inside the scope is replaced too, its
    row outside the scope survives, and the lost attempt's tombstones
    are deleted."""
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(i, f"v{i}") for i in range(10)]), path)
    state = _race_once(
        monkeypatch,
        path,
        lambda: S.commit(
            spark, _df(spark, [(3, "adv3"), (20, "adv20")]), path,
            mode="append",
        ),
    )
    v = S.replace_where_commit(
        spark, _df(spark, [(3, "new")]), path, predicates=[("k", "==", 3)]
    )
    assert state["fired"] and v == 2
    got = sorted(tuple(r) for r in S.read(spark, path).collect())
    assert got == sorted(
        [(i, f"v{i}") for i in range(10) if i != 3] + [(3, "new"), (20, "adv20")]
    )
    _assert_no_orphans(path)


def test_update_where_dv_lost_race_reevaluates_on_new_head(
    spark, tmp_path, monkeypatch
):
    """update_where_dv re-evaluates its predicate against the winner:
    a matching row the adversary appended is updated too, and the lost
    attempt's tombstone and image dirs are deleted."""
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a"), (2, "b")]), path)
    state = _race_once(
        monkeypatch,
        path,
        lambda: S.commit(spark, _df(spark, [(1, "adv")]), path, mode="append"),
    )
    v = S.update_where_dv(spark, path, "k = 1", {"v": "'u'"})
    assert state["fired"] and v == 2
    got = sorted(tuple(r) for r in S.read(spark, path).collect())
    assert got == [(1, "u"), (1, "u"), (2, "b")]
    _assert_no_orphans(path)


def test_restore_lost_race_retries_on_top_of_winner(
    spark, tmp_path, monkeypatch
):
    """A restore that loses the publish race retries: it lands as the
    newest version, the winner's version stays in history."""
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "good")]), path)
    S.commit(spark, _df(spark, [(1, "bad")]), path)
    state = _race_once(
        monkeypatch,
        path,
        lambda: S.commit(spark, _df(spark, [(2, "adv")]), path, mode="append"),
    )
    v = S.restore(path, 0)
    assert state["fired"] and v == 3
    assert {tuple(r) for r in S.read(spark, path).collect()} == {(1, "good")}
    assert {tuple(r) for r in S.read(spark, path, 2).collect()} == {
        (1, "bad"), (2, "adv")
    }
    assert S.load_snapshot(path).op == "RESTORE"
    _assert_no_orphans(path)


def test_rename_column_lost_race_conflicts(spark, tmp_path, monkeypatch):
    """A metadata-only RENAME raises when any commit lands first: the
    rename was validated against a schema that is no longer the head."""
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)
    state = _race_once(
        monkeypatch,
        path,
        lambda: S.commit(spark, _df(spark, [(2, "b")]), path, mode="append"),
    )
    with pytest.raises(RuntimeError, match="concurrent commit"):
        S.rename_column(path, "v", "w")
    assert state["fired"]
    head = S.load_snapshot(path)
    assert head.version == 1 and head.op == "APPEND"
    assert S.read(spark, path).columns == ["k", "v"]


def test_partitioned_delete_where_disjoint_race_rebases(
    spark, tmp_path, monkeypatch
):
    """A partitioned DELETE that loses the race to a MERGE into another
    partition rebases: both commits' effects land."""
    path = str(tmp_path / "t")
    S.merge_commit(
        spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "b")]),
        path, MSPEC,
    )
    state = _race_once(
        monkeypatch,
        path,
        lambda: S.merge_commit(spark, _mdf(spark, [(4, 4.0, "b")]), path, MSPEC),
    )
    v = S.delete_where(spark, path, "pk = 1")
    assert state["fired"] and v == 2
    got = {r["pk"]: r["part"] for r in S.read(spark, path).collect()}
    assert got == {2: "a", 3: "b", 4: "b"}
    _assert_no_orphans(path)


def test_partitioned_delete_where_overlapping_race_conflicts(
    spark, tmp_path, monkeypatch
):
    """A partitioned DELETE that loses the race to a MERGE into one of
    its partitions raises a write conflict; the winner's rows stand and
    the delete's rewrite is not referenced."""
    path = str(tmp_path / "t")
    S.merge_commit(
        spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "a"), (3, 3.0, "b")]),
        path, MSPEC,
    )
    _race_once(
        monkeypatch,
        path,
        lambda: S.merge_commit(spark, _mdf(spark, [(5, 5.0, "a")]), path, MSPEC),
    )
    with pytest.raises(RuntimeError, match="write conflict"):
        S.delete_where(spark, path, "pk = 1")
    head = S.load_snapshot(path)
    assert head.version == 1 and head.op == "MERGE"
    assert {r["pk"] for r in S.read(spark, path).collect()} == {1, 2, 3, 5}
    on_disk = set(os.listdir(os.path.join(path, "data")))
    assert len(on_disk - _referenced_dirs(path)) <= 1  # the refused rewrite


NSPEC = TableSpec(
    name="t",
    schema=StructType(
        [
            StructField("pk", IntegerType(), False),
            StructField("x", IntegerType(), True),
            StructField("part", StringType(), False),
        ]
    ),
    primary_key="pk",
    partition_by=("part",),
)


@pytest.mark.parametrize("partitioned", [False, True])
@pytest.mark.parametrize("change_data", [False, True])
def test_delete_where_keeps_rows_whose_predicate_is_null(
    spark, tmp_path, partitioned, change_data
):
    """SQL/Delta DELETE removes only rows whose predicate is TRUE: a row
    where ``x = 1`` is NULL survives, on the plain and the
    partition-granular path alike; the change feed records only the
    deleted row."""
    path = str(tmp_path / "t")
    rows = spark.createDataFrame(
        [(1, 1, "a"), (2, None, "a"), (3, 3, "b")],
        "pk int, x int, part string",
    )
    if partitioned:
        S.merge_commit(spark, rows, path, NSPEC)
    else:
        S.commit(spark, rows, path)
    v = S.delete_where(spark, path, "x = 1", change_data=change_data)
    assert v == 1
    got = sorted(tuple(r) for r in S.read(spark, path).select("pk", "x", "part").collect())
    assert got == [(2, None, "a"), (3, 3, "b")]
    if change_data:
        cdc = spark.read.parquet(S._raw_manifest(path)["change_data"])
        assert [(r["pk"], r["_change_type"]) for r in cdc.collect()] == [
            (1, "delete")
        ]


def _prunes_on(spark, path, col, val):
    """(files_total, files_kept) of a point lookup on ``col``."""
    rep: dict = {}
    S.read_where(spark, path, [(col, "==", val)], report=rep).collect()
    return rep["files_total"], rep["files_kept"]


def test_append_without_stats_for_keeps_stats_and_blooms(spark, tmp_path):
    """A writer keeps the table's stats and bloom columns unless it
    names new ones: an append that passes neither still records stats
    and blooms for its own files, so lookups keep pruning."""
    path = str(tmp_path / "t")
    S.commit(
        spark, _df(spark, [(1, "a"), (2, "b")]).coalesce(1), path,
        stats_for=["k"], bloom_for=["v"],
    )
    S.commit(spark, _df(spark, [(10, "x")]).coalesce(1), path, mode="append")
    snap = S.load_snapshot(path)
    assert snap.stats_cols == ["k"] and snap.bloom_cols == ["v"]
    assert _prunes_on(spark, path, "k", 10) == (2, 1)  # min/max prunes v0
    assert _prunes_on(spark, path, "v", "b") == (2, 1)  # bloom prunes v1
    assert S.table_stats(path)["rows"] == 3


@pytest.mark.parametrize("writer", ["merge", "delete"])
def test_full_rewrite_keeps_bloom_columns(spark, tmp_path, writer):
    """The full-rewrite paths of plain merge_commit and plain
    delete_where re-collect the table's blooms along with its stats."""
    import dataclasses

    spec = dataclasses.replace(MSPEC, partition_by=())
    path = str(tmp_path / "t")
    S.commit(
        spark, _mdf(spark, [(i, float(i), "a") for i in range(4)]).coalesce(1),
        path, stats_for=["amt"], bloom_for=["pk"],
    )
    if writer == "merge":
        S.merge_commit(spark, _mdf(spark, [(9, 9.0, "a")]), path, spec)
    else:
        S.delete_where(spark, path, "pk = 0")
    snap = S.load_snapshot(path)
    assert snap.stats_cols == ["amt"] and snap.bloom_cols == ["pk"]
    assert set(snap.file_blooms) == set(S.data_files(path))


def test_merge_commit_onto_plain_commit_full_rewrite(spark, tmp_path):
    """Merging onto a table created by plain commit() (no partition
    entries) must keep every target row — the full-rewrite path."""
    path = str(tmp_path / "t")
    S.commit(spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path)
    S.merge_commit(spark, _mdf(spark, [(3, 3.0, "c")]), path, MSPEC)
    got = {r["pk"] for r in S.read(spark, path).collect()}
    assert got == {1, 2, 3}


# --------------------------------------------------------------------------
# Snapshot-backed ETL + streaming sinks (use_snapshots=True paths)
# --------------------------------------------------------------------------


def _orders_csv(path, rows):
    from tests.conftest import ORDERS_HEADER

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(ORDERS_HEADER + "\n" + "\n".join(rows) + "\n")


def test_etl_job_snapshot_sink_versions_each_run(spark, tmp_path):
    """run_etl_job(use_snapshots=True): each run publishes one atomic
    version; time travel recovers the pre-update state."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.etl.jobs import (
        run_etl_job,
    )
    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        ORDERS,
    )

    base = tmp_path
    _orders_csv(
        f"{base}/raw1/d1.csv",
        [
            "1,101,1001,2025-04-01T10:00:00,10.00,2025-04-01",
            "2,102,1002,2025-04-01T11:00:00,20.00,2025-04-01",
            "3,,1003,2025-04-01T12:00:00,30.00,2025-04-01",  # reject
        ],
    )
    r1 = run_etl_job(
        spark, ORDERS, f"{base}/raw1", str(base / "wh"), str(base / "rej"),
        run_id="r1", use_snapshots=True,
    )
    assert (r1.rows_written, r1.rows_rejected) == (2, 1)

    _orders_csv(
        f"{base}/raw2/d2.csv",
        [
            "1,101,1001,2025-04-01T10:00:00,99.00,2025-04-01",  # update
            "4,103,1004,2025-04-02T09:00:00,40.00,2025-04-02",  # insert
        ],
    )
    r2 = run_etl_job(
        spark, ORDERS, f"{base}/raw2", str(base / "wh"), str(base / "rej"),
        run_id="r2", use_snapshots=True,
    )
    assert r2.rows_written == 3

    tbl = str(base / "wh" / "orders")
    head = {
        r["order_id"]: r["total_amount"] for r in S.read(spark, tbl).collect()
    }
    assert head == {101: 99.0, 102: 20.0, 103: 40.0}
    v0 = {
        r["order_id"]: r["total_amount"]
        for r in S.read(spark, tbl, 0).collect()
    }
    assert v0 == {101: 10.0, 102: 20.0}


def test_stream_ingest_snapshot_sink_version_per_batch(spark, tmp_path):
    """stream_ingest(use_snapshots=True): every micro-batch MERGE lands as
    an atomic snapshot version — no torn reads between batches."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.ingest import (
        stream_ingest,
    )
    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        ORDERS,
    )

    raw = str(tmp_path / "raw")
    wh = str(tmp_path / "wh")
    _orders_csv(
        f"{raw}/day1.csv",
        ["1,101,1001,2025-04-01T10:00:00,10.00,2025-04-01"],
    )
    q = stream_ingest(
        spark, ORDERS, raw, wh, str(tmp_path / "rej"),
        str(tmp_path / "ckpt"), use_snapshots=True,
    )
    q.awaitTermination(120)

    _orders_csv(
        f"{raw}/day2.csv",
        [
            "2,101,1001,2025-04-01T10:00:00,55.00,2025-04-01",
            "3,102,1002,2025-04-01T11:00:00,20.00,2025-04-01",
        ],
    )
    q2 = stream_ingest(
        spark, ORDERS, raw, wh, str(tmp_path / "rej"),
        str(tmp_path / "ckpt"), use_snapshots=True,
    )
    q2.awaitTermination(120)

    tbl = f"{wh}/orders"
    assert len(S.history(tbl)) == 2  # one version per non-empty batch
    got = {
        r["order_id"]: r["total_amount"] for r in S.read(spark, tbl).collect()
    }
    assert got == {101: 55.0, 102: 20.0}
    assert {
        r["order_id"] for r in S.read(spark, tbl, 0).collect()
    } == {101}


# --------------------------------------------------------------------------
# Maintenance: compaction (OPTIMIZE) and schema evolution
# --------------------------------------------------------------------------


def test_compact_plain_table_reduces_files_keeps_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(4):  # four append commits -> many small files
        S.commit(
            spark,
            _df(spark, [(i * 10 + j, f"v{i}") for j in range(3)]).repartition(4),
            path,
            mode="append" if i else "overwrite",
        )
    before_rows = {(r["k"], r["v"]) for r in S.read(spark, path).collect()}
    before_files = len(S.data_files(path))

    v = S.compact(spark, path)
    assert v == 4
    assert {(r["k"], r["v"]) for r in S.read(spark, path).collect()} == before_rows
    assert len(S.data_files(path)) < before_files
    # time travel to pre-compaction still works
    assert len(S.read(spark, path, 3).collect()) == len(before_rows)


def test_compact_merge_table_and_subsequent_merge(spark, tmp_path):
    path = str(tmp_path / "t")
    S.merge_commit(spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, MSPEC)
    S.merge_commit(spark, _mdf(spark, [(3, 3.0, "a")]), path, MSPEC)
    before = {r["pk"]: r["amt"] for r in S.read(spark, path).collect()}

    S.compact(spark, path)
    assert {r["pk"]: r["amt"] for r in S.read(spark, path).collect()} == before

    # a merge on top of the compacted version works and keeps history sane
    S.merge_commit(spark, _mdf(spark, [(1, 9.0, "a")]), path, MSPEC)
    got = {r["pk"]: r["amt"] for r in S.read(spark, path).collect()}
    assert got == {1: 9.0, 2: 2.0, 3: 3.0}


def test_compact_restarts_when_commit_lands_mid_pass(spark, tmp_path, monkeypatch):
    """A commit between compact's read and publish must be included, not
    silently dropped — compact restarts from the new head."""
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)

    real_read = S.read
    state = {"injected": False}

    def racing_read(sp, p, version=None):
        out = real_read(sp, p, version)
        if not state["injected"]:
            state["injected"] = True
            S.commit(spark, _df(spark, [(2, "b")]), p, mode="append")
        return out

    monkeypatch.setattr(S, "read", racing_read)
    S.compact(spark, path)
    monkeypatch.setattr(S, "read", real_read)
    assert {r["k"] for r in S.read(spark, path).collect()} == {1, 2}


def test_schema_evolution_append(spark, tmp_path):
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)

    wide = spark.createDataFrame([(2, "b", 7.5)], "k int, v string, score double")
    # strict append refuses a differing schema
    with pytest.raises(ValueError, match="merge_schema"):
        S.commit(spark, wide, path, mode="append")

    v = S.commit(spark, wide, path, mode="append", merge_schema=True)
    got = {r["k"]: (r["v"], r["score"]) for r in S.read(spark, path).collect()}
    assert got == {1: ("a", None), 2: ("b", 7.5)}  # old rows null-filled
    # time travel: the old version keeps the narrow schema
    assert S.read(spark, path, v - 1).columns == ["k", "v"]


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)
    bad = spark.createDataFrame([(2, 3)], "k int, v int")  # v: string -> int
    with pytest.raises(ValueError, match="cannot change"):
        S.commit(spark, bad, path, mode="append", merge_schema=True)


def test_append_onto_merge_committed_table_rejected(spark, tmp_path):
    """commit(append) would drop a merge table's carried-by-reference
    partitions — it must refuse."""
    path = str(tmp_path / "t")
    S.merge_commit(spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, MSPEC)
    with pytest.raises(ValueError, match="merge_commit"):
        S.commit(spark, _mdf(spark, [(3, 3.0, "c")]), path, mode="append")


def test_unpartitioned_merge_conflict_detected(spark, tmp_path, monkeypatch):
    """Unpartitioned merge is read-modify-write: a concurrent commit
    between read and publish must surface a write conflict, not silently
    erase the other writer's rows."""
    import dataclasses

    spec = dataclasses.replace(MSPEC, partition_by=())
    path = str(tmp_path / "t")
    S.merge_commit(spark, _mdf(spark, [(1, 1.0, "a")]), path, spec)

    real_read = S.read
    state = {"raced": False}

    def racing_read(sp, p, version=None):
        out = real_read(sp, p, version)
        if not state["raced"]:
            state["raced"] = True
            S.merge_commit(spark, _mdf(spark, [(9, 9.0, "a")]), p, spec)
        return out

    monkeypatch.setattr(S, "read", racing_read)
    with pytest.raises(RuntimeError, match="conflict"):
        S.merge_commit(spark, _mdf(spark, [(2, 2.0, "a")]), path, spec)
    monkeypatch.setattr(S, "read", real_read)
    # the concurrent writer's row survived
    assert {r["pk"] for r in S.read(spark, path).collect()} == {1, 9}


def test_delete_where_plain_table(spark, tmp_path):
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
    v = S.delete_where(spark, path, "k % 2 = 0")
    assert v == 1
    assert {r["k"] for r in S.read(spark, path).collect()} == {1, 3}
    # time travel still sees the deleted row
    assert {r["k"] for r in S.read(spark, path, 0).collect()} == {1, 2, 3}
    # no-match delete publishes no empty commit
    assert S.delete_where(spark, path, "k = 99") == 1


def test_delete_where_rewrites_only_affected_partitions(spark, tmp_path):
    path = str(tmp_path / "t")
    S.merge_commit(
        spark,
        _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "b"), (4, 4.0, "c")]),
        path,
        MSPEC,
    )
    before = {
        tuple(e["parts"]): e["dir"]
        for e in S.load_snapshot(path).part_entries
    }
    v = S.delete_where(spark, path, "pk = 3")
    assert v == 1
    after = {
        tuple(e["parts"]): e["dir"]
        for e in S.load_snapshot(path).part_entries
    }
    # untouched partitions carry forward by reference (same immutable dir)
    assert after[("a",)] == before[("a",)]
    assert after[("c",)] == before[("c",)]
    assert after[("b",)] != before[("b",)]
    got = {r["pk"] for r in S.read(spark, path).collect()}
    assert got == {1, 2, 4}


def test_delete_where_drops_emptied_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    S.merge_commit(
        spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, MSPEC
    )
    S.delete_where(spark, path, "part = 'b'")
    snap = S.load_snapshot(path)
    assert {tuple(e["parts"]) for e in snap.part_entries} == {("a",)}
    assert {r["pk"] for r in S.read(spark, path).collect()} == {1}


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    path = str(tmp_path / "t")
    S.merge_commit(
        spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")]),
        path, MSPEC,
    )
    S.merge_commit(
        spark, _mdf(spark, [(2, 9.0, "b"), (4, 4.0, "d")]), path, MSPEC
    )
    S.delete_where(spark, path, "pk = 3")
    diff = S.snapshot_diff(spark, path, "pk", 0, 2).collect()
    got = sorted((r["pk"], r["_change_type"]) for r in diff)
    assert got == [
        (2, "update_postimage"),
        (2, "update_preimage"),
        (3, "delete"),
        (4, "insert"),
    ]
    pre = [r for r in diff if r["_change_type"] == "update_preimage"][0]
    post = [r for r in diff if r["_change_type"] == "update_postimage"][0]
    assert (pre["amt"], post["amt"]) == (2.0, 9.0)


def test_snapshot_diff_prunes_unchanged_partitions(spark, tmp_path):
    """Partitions carried by reference must be excluded from the compare
    — the diff plan reads only changed partitions' files."""
    path = str(tmp_path / "t")
    S.merge_commit(
        spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, MSPEC
    )
    S.merge_commit(spark, _mdf(spark, [(2, 9.0, "b")]), path, MSPEC)
    diff = S.snapshot_diff(spark, path, "pk", 0, 1)
    files = [
        f for f in diff.inputFiles() if "part=a" in f
    ]
    assert files == []  # partition a carried by reference: never read
    got = sorted((r["pk"], r["_change_type"]) for r in diff.collect())
    assert got == [(2, "update_postimage"), (2, "update_preimage")]


def test_check_constraint_blocks_bad_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    S.set_check_constraint(path, "v_nonempty", "v IS NOT NULL AND v != ''")
    S.commit(spark, _df(spark, [(1, "a")]), path)  # passes
    with pytest.raises(Exception, match="v_nonempty"):
        S.commit(spark, _df(spark, [(2, "")]), path, mode="append")
    # failed write never published: head still v0 with the good row
    assert S.load_snapshot(path).version == 0
    assert {r["k"] for r in S.read(spark, path).collect()} == {1}


def test_check_constraint_enforced_on_merge(spark, tmp_path):
    path = str(tmp_path / "t")
    S.set_check_constraint(path, "amt_positive", "amt > 0")
    S.merge_commit(spark, _mdf(spark, [(1, 1.0, "a")]), path, MSPEC)
    with pytest.raises(Exception, match="amt_positive"):
        S.merge_commit(spark, _mdf(spark, [(2, -5.0, "a")]), path, MSPEC)
    assert S.load_snapshot(path).version == 0
    S.drop_check_constraint(path, "amt_positive")
    v = S.merge_commit(spark, _mdf(spark, [(2, -5.0, "a")]), path, MSPEC)
    assert v == 1


def test_restore_rolls_back_without_data_moves(spark, tmp_path):
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "good")]), path)
    S.commit(spark, _df(spark, [(1, "bad"), (2, "worse")]), path)
    v = S.restore(path, 0)
    assert v == 2
    assert {r["v"] for r in S.read(spark, path).collect()} == {"good"}
    # the bad version stays time-travelable until vacuum
    assert S.read(spark, path, 1).count() == 2
    # restore is metadata-only: head references v0's dirs verbatim
    assert S.load_snapshot(path, 2).dirs == S.load_snapshot(path, 0).dirs


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    S.commit(spark, _df(spark, [(1, "a"), (2, "b")]), src)
    S.clone(src, dst)
    assert S.load_snapshot(dst).dirs == S.load_snapshot(src).dirs  # no copy
    assert {r["k"] for r in S.read(spark, dst).collect()} == {1, 2}
    # divergence: writes to the clone never touch the source
    S.commit(spark, _df(spark, [(3, "c")]), dst, mode="append")
    assert S.read(spark, dst).count() == 3
    assert S.read(spark, src).count() == 2
    # clone-side vacuum keeps source dirs (they live outside its root)
    S.vacuum(dst, keep_last=1)
    assert S.read(spark, src).count() == 2
    with pytest.raises(ValueError, match="already exists"):
        S.clone(src, dst)


def test_concurrent_disjoint_merges_real_threads(spark, tmp_path):
    """Two actual threads merge DISJOINT partitions concurrently: the
    optimistic protocol must land both (one rebases), with no lost rows
    — the real-parallelism validation of the simulated race tests."""
    import threading

    path = str(tmp_path / "t")
    S.merge_commit(
        spark, _mdf(spark, [(1, 1.0, "a"), (2, 2.0, "b")]), path, MSPEC
    )
    errs = []

    def merge(rows):
        try:
            S.merge_commit(spark, _mdf(spark, rows), path, MSPEC)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=merge, args=([(11, 5.0, "a")],))
    t2 = threading.Thread(target=merge, args=([(22, 6.0, "b")],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    got = {r["pk"] for r in S.read(spark, path).collect()}
    assert got == {1, 2, 11, 22}
    assert S.load_snapshot(path).version == 2


def test_concurrent_same_partition_merges_conflict_linear_history(
    spark, tmp_path, monkeypatch
):
    """Two real threads merge the SAME partition concurrently, both
    resolving the same parent head (a barrier forces the race): exactly
    one lands, the other surfaces the write-conflict after losing the
    manifest race, and history stays linear — no lost or phantom
    version, the winner's rows intact."""
    import threading

    path = str(tmp_path / "t")
    S.merge_commit(spark, _mdf(spark, [(1, 1.0, "a")]), path, MSPEC)

    real_load = S.load_snapshot
    barrier = threading.Barrier(2, timeout=30)
    tl = threading.local()

    def racing_load(p, version=None):
        # first head resolution per merge thread: wait until BOTH threads
        # have planned against the same parent before either publishes
        if version is None and not getattr(tl, "synced", False):
            tl.synced = True
            barrier.wait()
        return real_load(p, version)

    monkeypatch.setattr(S, "load_snapshot", racing_load)
    outcomes: dict[str, list] = {"ok": [], "conflict": [], "other": []}

    def merge(pk):
        try:
            S.merge_commit(spark, _mdf(spark, [(pk, 9.0, "a")]), path, MSPEC)
            outcomes["ok"].append(pk)
        except RuntimeError as e:
            bucket = "conflict" if "conflict" in str(e) else "other"
            outcomes[bucket].append((pk, e))

    t1 = threading.Thread(target=merge, args=(11,))
    t2 = threading.Thread(target=merge, args=(99,))
    t1.start(); t2.start(); t1.join(); t2.join()
    monkeypatch.setattr(S, "load_snapshot", real_load)

    assert len(outcomes["ok"]) == 1, outcomes
    assert len(outcomes["conflict"]) == 1, outcomes
    assert not outcomes["other"], outcomes
    # linear history: exactly versions 0 and 1 exist, head is 1
    snap = S.load_snapshot(path)
    assert snap.version == 1
    winner_pk = outcomes["ok"][0]
    got = {r["pk"]: r["amt"] for r in S.read(spark, path).collect()}
    assert got == {1: 1.0, winner_pk: 9.0}


def test_manifest_publish_atomic_helper(tmp_path):
    """_try_publish_manifest: the version name appears only with
    complete content, duplicate versions are refused (the optimistic
    race check), and no temp files survive either outcome."""
    import json
    import os

    path = str(tmp_path / "t")
    m1 = {"version": 0, "dirs": ["d1"], "schema": "{}",
          "committed_at": 1.0}
    assert S._try_publish_manifest(path, 0, m1) is True
    with open(S._manifest_path(path, 0)) as f:
        assert json.load(f) == m1  # complete, parseable content
    # losing the race: refused, winner's content untouched
    m2 = dict(m1, dirs=["d2"])
    assert S._try_publish_manifest(path, 0, m2) is False
    with open(S._manifest_path(path, 0)) as f:
        assert json.load(f) == m1
    # no temp litter, and _versions sees exactly the published version
    mdir = os.path.join(path, "_manifests")
    assert [n for n in os.listdir(mdir) if n.startswith(".tmp")] == []
    assert S._versions(path) == [0]


def test_vacuum_under_concurrent_reader_retention_contract(
    spark, tmp_path
):
    """The retention contract under a concurrent reader: a reader
    pinned to a RETAINED version always completes exactly; a reader
    pinned to a version vacuum DROPPED either completes exactly (its
    scan raced ahead of the delete) or fails cleanly — never a silent
    torn/partial result. ignoreMissingFiles stays at Spark's false
    default, which is what makes the no-torn-read guarantee hold."""
    import pytest
    from pyspark.sql import functions as F

    assert (
        spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false"
    )
    path = str(tmp_path / "t")
    v0_rows = set(range(100))
    S.commit(
        spark,
        spark.range(100).select(F.col("id").alias("k")).repartition(4),
        path,
    )

    # retained-version reader: vacuum(keep_last=2) keeps v0 — the
    # pinned reader, planned BEFORE the vacuum, completes exactly
    pinned = S.read(spark, path, 0)
    S.commit(
        spark, spark.range(200, 210).select(F.col("id").alias("k")), path
    )
    S.vacuum(path, keep_last=2)
    assert {r["k"] for r in pinned.collect()} == v0_rows

    # dropped-version reader: vacuum to the head removes v0's manifest
    # and dirs; the pinned plan must now fail cleanly or return the
    # EXACT v0 rows — a proper subset would be a torn read
    pinned = S.read(spark, path, 0)
    S.vacuum(path, keep_last=1)
    try:
        got = {r["k"] for r in pinned.collect()}
    except Exception:
        got = None  # clean failure: acceptable under the contract
    assert got is None or got == v0_rows

    # post-vacuum: the dropped version is no longer addressable and the
    # head remains fully readable
    with pytest.raises((ValueError, FileNotFoundError)):
        S.read(spark, path, 0)
    assert {r["k"] for r in S.read(spark, path).collect()} == set(
        range(200, 210)
    )


def test_describe_history_records_every_operation(spark, tmp_path):
    """DESCRIBE HISTORY surface: every write path stamps its operation
    in the manifest — the provenance a table operator reads before
    deciding what a version means."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"))
    S.commit(spark, df, path)                                    # WRITE
    S.commit(
        spark, spark.range(10, 12).select(F.col("id").alias("k")),
        path, mode="append",
    )                                                            # APPEND
    S.delete_where_dv(spark, path, "k = 3")                      # DELETE
    S.update_where_dv(spark, path, "k = 4", {"k": "k + 100"})    # UPDATE
    S.compact(spark, path)                                       # OPTIMIZE
    S.restore(path, 0)                                           # RESTORE
    ops = [h["op"] for h in S.describe_history(path)]
    assert ops == [
        "RESTORE", "OPTIMIZE", "UPDATE", "DELETE", "APPEND", "WRITE"
    ]
    versions = [h["version"] for h in S.describe_history(path)]
    assert versions == [5, 4, 3, 2, 1, 0]

    # merge/partitioned delete/clone stamp theirs too
    from pyspark.sql.types import LongType, StructField, StructType

    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        TableSpec,
    )

    spec = TableSpec(
        name="pt",
        schema=StructType(
            [
                StructField("k", LongType(), False),
                StructField("p", LongType(), False),
            ]
        ),
        primary_key="k",
        partition_by=("p",),
    )
    pp = str(tmp_path / "pt")
    pdf = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    )
    S.merge_commit(spark, pdf, pp, spec)                         # MERGE
    S.delete_where(spark, pp, "k = 1")                           # DELETE
    assert [h["op"] for h in S.describe_history(pp)] == [
        "DELETE", "MERGE"
    ]
    cl = str(tmp_path / "cl")
    S.clone(pp, cl)
    assert [h["op"] for h in S.describe_history(cl)] == ["CLONE"]


def test_replace_where_commit_predicate_scope(spark, tmp_path):
    """One atomic commit tombstones the scope and appends the
    replacement: rows outside the scope are untouched (carried by
    reference), NULL scope-column rows never match, time travel sees
    the pre-replace state, and the scan prunes files the per-file
    stats disprove."""
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (None, "marker")],
        "k long, grp string",
    )
    S.commit(spark, df, p, stats_for=["k"])
    S.commit(
        spark,
        spark.createDataFrame([(10, "c"), (11, "c")], "k long, grp string"),
        p, mode="append", stats_for=["k"],
    )
    before = S.load_snapshot(p)

    report: dict = {}
    v = S.replace_where_commit(
        spark,
        spark.createDataFrame([(2, "A"), (4, "A")], "k long, grp string"),
        p,
        predicates=[("k", "in", [1, 2])],
        report=report,
    )
    head = S.load_snapshot(p)
    assert head.version == v and head.op == "REPLACEWHERE"
    assert set(before.dirs) <= set(head.dirs)  # no rewrite
    assert head.dv_files
    # file with k in {10, 11} pruned by min/max stats
    assert report["files_kept"] < report["files_total"]

    got = sorted(
        (r["k"], r["grp"]) for r in S.read(spark, p).collect()
        if r["k"] is not None
    )
    assert got == [(2, "A"), (3, "b"), (4, "A"), (10, "c"), (11, "c")]
    # NULL scope-column row survives (SQL equality semantics)
    assert any(r["k"] is None for r in S.read(spark, p).collect())
    # time travel: pre-replace version unchanged
    old = sorted(
        r["k"] for r in S.read(spark, p, version=before.version).collect()
        if r["k"] is not None
    )
    assert old == [1, 2, 3, 10, 11]


def test_replace_where_commit_keys_scope_and_guards(spark, tmp_path):
    p = str(tmp_path / "t")
    S.commit(
        spark,
        spark.createDataFrame(
            [("x", 1.0), ("x", 2.0), ("y", 3.0)], "k string, v double"
        ),
        p,
    )
    keys = spark.createDataFrame([("x",)], "k string")
    S.replace_where_commit(
        spark,
        spark.createDataFrame([("x", 9.0)], "k string, v double"),
        p, keys=keys, key_cols=["k"],
    )
    assert sorted(
        (r["k"], r["v"]) for r in S.read(spark, p).collect()
    ) == [("x", 9.0), ("y", 3.0)]

    with pytest.raises(ValueError, match="exactly one"):
        S.replace_where_commit(
            spark, spark.createDataFrame([("x", 1.0)], "k string, v double"),
            p,
        )
    with pytest.raises(ValueError, match="schema"):
        S.replace_where_commit(
            spark, spark.createDataFrame([(1,)], "k long"),
            p, predicates=[("k", "==", "x")],
        )
    # empty scope still appends the replacement atomically (no DVs)
    v = S.replace_where_commit(
        spark,
        spark.createDataFrame([("z", 5.0)], "k string, v double"),
        p, predicates=[("k", "==", "nope")],
    )
    head = S.load_snapshot(p)
    assert head.version == v
    assert sorted(r["k"] for r in S.read(spark, p).collect()) == [
        "x", "y", "z"
    ]


def test_replace_where_commit_rejects_partitioned(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        TableSpec,
    )

    spec = TableSpec(
        name="pt",
        schema=StructType(
            [
                StructField("k", LongType(), False),
                StructField("p", LongType(), False),
            ]
        ),
        primary_key="k",
        partition_by=("p",),
    )
    pp = str(tmp_path / "pt")
    pdf = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    )
    S.merge_commit(spark, pdf, pp, spec)
    with pytest.raises(ValueError, match="partitioned"):
        S.replace_where_commit(
            spark, pdf, pp, predicates=[("k", "==", 1)]
        )


def test_describe_history_operation_metrics(spark, tmp_path):
    """Delta's operationMetrics analog: every commit path stamps
    commit-time counters in its manifest (footer/manifest-derived, no
    extra scan) and describe_history surfaces them — WRITE/APPEND row
    and file counts, DV-DELETE deleted-row counts that reconcile with
    the manifest's per-file dv_dead totals, and OPTIMIZE's
    files-removed/DV-cleared accounting."""
    p = str(tmp_path / "t")
    S.commit(spark, spark.range(100).coalesce(2), p)              # WRITE
    S.commit(
        spark, spark.range(100, 130).coalesce(1), p, mode="append"
    )                                                             # APPEND
    S.delete_where_dv(spark, p, "id % 10 = 3")                    # DELETE
    S.compact(spark, p)                                           # OPTIMIZE

    hist = {h["op"]: h["metrics"] for h in S.describe_history(p)}
    assert hist["WRITE"]["num_output_rows"] == 100
    assert hist["WRITE"]["num_files_added"] >= 1
    assert hist["APPEND"] == {"num_files_added": 1, "num_output_rows": 30}
    assert hist["DELETE"]["num_deleted_rows"] == 13  # 3,13,...,123
    assert hist["DELETE"]["num_dv_files_added"] == 1
    # DELETE metrics reconcile with the manifest's per-file dead counts
    dv_snap = next(s for s in S.history(p) if s.op == "DELETE")
    assert sum(dv_snap.dv_dead.values()) == 13
    assert hist["DELETE"]["num_files_with_dv"] == len(dv_snap.dv_dead)
    assert hist["OPTIMIZE"]["num_output_rows"] == 117  # deletes folded
    assert hist["OPTIMIZE"]["num_dv_files_cleared"] == 1
    assert hist["OPTIMIZE"]["num_files_removed"] >= 2

    # MERGE (partitioned): rows written + partition accounting
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        TableSpec,
    )

    spec = TableSpec(
        name="pm",
        schema=StructType(
            [
                StructField("k", LongType(), False),
                StructField("part", LongType(), False),
            ]
        ),
        primary_key="k",
        partition_by=("part",),
    )
    pm = str(tmp_path / "pm")
    base = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("part")
    )
    S.merge_commit(spark, base, pm, spec)
    upd = spark.createDataFrame([(1, 1), (5, 1)], "k long, part long")
    S.merge_commit(spark, upd, pm, spec)
    m = S.describe_history(pm)[0]["metrics"]
    assert m["num_partitions_changed"] == 1
    assert m["num_partitions_carried"] == 3
    assert m["num_output_rows"] == 5  # partition part=1 rewritten whole

    # RESTORE / CLONE provenance metrics
    S.restore(p, 0)
    assert S.describe_history(p)[0]["metrics"] == {"restored_version": 0}
    cl = str(tmp_path / "cl")
    S.clone(p, cl)
    assert S.describe_history(cl)[0]["metrics"]["source_version"] >= 0


@pytest.mark.parametrize("partitioned", [False, True])
def test_change_data_commits_count_data_files_only(
    spark, tmp_path, partitioned
):
    """MERGE and DELETE with ``change_data=True`` write their change
    rows under the commit's ``_change_data`` dir; the commit metrics
    count the data files and rows only, for the plain full rewrite and
    the partition-granular rewrite alike."""
    from pyspark.sql.types import LongType, StructField, StructType

    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        TableSpec,
    )

    spec = TableSpec(
        name="cd",
        schema=StructType(
            [
                StructField("k", LongType(), False),
                StructField("part", LongType(), False),
            ]
        ),
        primary_key="k",
        partition_by=("part",) if partitioned else (),
    )
    path = str(tmp_path / "t")
    rows = "k long, part long"
    S.merge_commit(
        spark,
        spark.createDataFrame([(k, k % 2) for k in range(6)], rows),
        path,
        spec,
        change_data=True,
    )

    def new_files(version):
        """Data files the commit ``version`` wrote (change files are
        invisible to data scans)."""
        live = set(S.read(spark, path).inputFiles())
        if version == 0:
            return live
        old = set(S.read(spark, path, version=version - 1).inputFiles())
        return live - old

    def check(version, want_rows):
        (m,) = [
            h["metrics"]
            for h in S.describe_history(path)
            if h["version"] == version
        ]
        assert m["num_output_rows"] == want_rows, m
        assert m["num_files_added"] == len(new_files(version)), m

    check(0, 6)
    # k=1 updated, k=7 inserted (both part 1); change rows: 3
    S.merge_commit(
        spark,
        spark.createDataFrame([(1, 1), (7, 1)], rows),
        path,
        spec,
        change_data=True,
    )
    check(1, 4 if partitioned else 7)  # part 1 rewritten | whole table
    S.delete_where(spark, path, "k IN (3, 4)", change_data=True)
    # both parts touched: 5 survivors in the rewrite either way
    check(2, 5)
    assert sorted(r.k for r in S.read(spark, path).collect()) == [
        0, 1, 2, 5, 7,
    ]


def test_change_data_files_stay_out_of_data_file_surfaces(
    spark, tmp_path
):
    """A plain table's ``_change_data`` files are change rows, never
    table rows: after two ``merge_commit(..., change_data=True)`` the
    pruned scan, the metadata-only row count, DESCRIBE DETAIL's file
    count and the stats sidecar all see the data files only."""
    from pyspark.sql.types import LongType, StructField, StructType

    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        TableSpec,
    )

    spec = TableSpec(
        name="cdleak",
        schema=StructType(
            [
                StructField("k", LongType(), False),
                StructField("v", LongType(), False),
            ]
        ),
        primary_key="k",
    )
    path = str(tmp_path / "t")
    rows = "k long, v long"
    S.merge_commit(
        spark, spark.createDataFrame([(k, k) for k in range(6)], rows),
        path, spec, stats_for=["k"], change_data=True,
    )
    S.merge_commit(
        spark, spark.createDataFrame([(1, 1), (7, 7)], rows),
        path, spec, stats_for=["k"], change_data=True,
    )
    live = S.read(spark, path)
    data = set(live.inputFiles())
    assert all("/_change_data/" not in f for f in data)
    assert sorted(S.data_files(path)) == sorted(
        S._strip_file_scheme(f) for f in data
    )
    report: dict = {}
    got = S.read_where(spark, path, [("k", "<=", 1)], report=report)
    assert sorted(tuple(r) for r in got.collect()) == [(0, 0), (1, 1)]
    assert report["files_total"] == len(data)
    got = S.read_where(spark, path, [("k", "in", [1, 7])])
    assert sorted(tuple(r) for r in got.collect()) == [(1, 1), (7, 7)]
    assert S.table_stats(path)["rows"] == live.count() == 7
    assert S.describe_detail(path)["num_files"] == len(data)
    snap = S.load_snapshot(path)
    assert snap.file_stats
    assert all("/_change_data/" not in f for f in snap.file_stats)
    # the change feed still reads its change files
    assert S._raw_manifest(path, snap.version).get("change_data")


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: a commit-time timestamp resolves to the highest
    version at or before it; pre-table timestamps raise; version and
    timestamp are mutually exclusive."""
    import time

    import pytest

    path = str(tmp_path / "t")
    S.commit(spark, spark.range(3).toDF("id"), path)
    t0 = S.load_snapshot(path, 0).committed_at
    time.sleep(0.05)
    S.commit(spark, spark.range(3, 5).toDF("id"), path, mode="append")
    t1 = S.load_snapshot(path, 1).committed_at
    assert t1 > t0

    mid = (t0 + t1) / 2
    assert S.version_at_timestamp(path, mid) == 0
    assert S.read(spark, path, timestamp=mid).count() == 3
    assert S.read(spark, path, timestamp=t1).count() == 5
    assert S.read(spark, path, timestamp=time.time() + 60).count() == 5

    import datetime

    dt = datetime.datetime.fromtimestamp(mid)
    assert S.version_at_timestamp(path, dt) == 0

    with pytest.raises(ValueError):
        S.version_at_timestamp(path, t0 - 10)
    with pytest.raises(ValueError):
        S.read(spark, path, version=1, timestamp=mid)


def test_generated_columns_compute_and_enforce(spark, tmp_path):
    """GENERATED ALWAYS AS: omitted generated columns are computed
    inside the write; supplied values must null-safe-equal the
    expression or the commit fails pre-publication; constraints see the
    computed column."""
    path = str(tmp_path / "t")
    S.set_generated_column(path, "total", "price * qty")
    S.commit(
        spark,
        spark.createDataFrame(
            [(1, 2.0, 3), (2, 5.0, 4)], "id long, price double, qty long"
        ),
        path,
    )
    got = {r["id"]: r["total"] for r in S.read(spark, path).collect()}
    assert got == {1: 6.0, 2: 20.0}

    # explicit matching values pass (append keeps schema compatible)
    S.commit(
        spark,
        spark.createDataFrame(
            [(3, 1.5, 2, 3.0)],
            "id long, price double, qty long, total double",
        ),
        path,
        mode="append",
    )
    assert S.read(spark, path).count() == 3

    # explicit WRONG value fails the write before publication
    v_before = S.load_snapshot(path).version
    with pytest.raises(Exception, match="generated column"):
        S.commit(
            spark,
            spark.createDataFrame(
                [(4, 1.0, 1, 99.0)],
                "id long, price double, qty long, total double",
            ),
            path,
            mode="append",
        )
    assert S.load_snapshot(path).version == v_before

    assert S.generated_columns(path) == {"total": "price * qty"}
    S.drop_generated_column(path, "total")
    assert S.generated_columns(path) == {}


def test_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL: manifest-only table summary — files, bytes, DV
    accounting, partition/stats metadata, and table properties."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    S.set_check_constraint(path, "pos", "id >= 0")
    S.commit(
        spark,
        spark.range(100).toDF("id").withColumn("v", F.col("id") * 2),
        path,
        stats_for=["id"],
    )
    S.delete_where_dv(spark, path, "id < 10")
    d = S.describe_detail(path)
    assert d["version"] == 1 and d["last_op"] == "DELETE"
    assert d["num_files"] >= 1 and d["size_bytes"] > 0
    assert d["num_dv_files"] == 1 and d["num_deleted_rows"] == 10
    assert d["stats_columns"] == ["id"]
    assert d["properties"]["constraints"] == {"pos": "id >= 0"}
    # time travel: version 0 has no DVs
    d0 = S.describe_detail(path, version=0)
    assert d0["num_dv_files"] == 0 and d0["num_deleted_rows"] == 0


def test_identity_column_assignment_and_monotonicity(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY: omitted column gets unique BIGINTs;
    every later commit's ids exceed every earlier id (watermark survives
    appends AND overwrites); explicit values are rejected; reserved
    ranges never collide even when allocated from the same head."""
    path = str(tmp_path / "t")
    S.set_identity_column(path, "id", start=100)
    S.commit(
        spark,
        spark.createDataFrame([("a",), ("b",), ("c",)], "name string"),
        path,
    )
    first = [r["id"] for r in S.read(spark, path).collect()]
    assert len(set(first)) == 3 and min(first) >= 100

    S.commit(
        spark,
        spark.createDataFrame([("d",), ("e",)], "name string"),
        path,
        mode="append",
    )
    rows = {r["name"]: r["id"] for r in S.read(spark, path).collect()}
    assert len(set(rows.values())) == 5
    assert min(rows["d"], rows["e"]) > max(first)

    # watermark survives an overwrite
    S.commit(
        spark, spark.createDataFrame([("z",)], "name string"), path
    )
    z = S.read(spark, path).collect()[0]["id"]
    assert z > max(rows.values())

    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        S.commit(
            spark,
            spark.createDataFrame([("x", 1)], "name string, id long"),
            path,
            mode="append",
        )

    # two allocations from the same observed head reserve disjoint ranges
    b1 = S._allocate_identity_range(path, 10, start=100)
    b2 = S._allocate_identity_range(path, 10, start=100)
    assert b2 >= b1 + 10

    # MERGE on an identity table is an explicit boundary
    with pytest.raises(ValueError, match="identity columns"):
        S.merge_commit(
            spark, _mdf(spark, [(1, 1.0, "a")]), path, MSPEC
        )


def test_restore_by_timestamp(spark, tmp_path):
    import time

    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)
    t0 = S.load_snapshot(path, 0).committed_at
    time.sleep(0.05)
    S.commit(spark, _df(spark, [(2, "bad")]), path)
    t1 = S.load_snapshot(path, 1).committed_at
    v = S.restore(path, timestamp=(t0 + t1) / 2)
    assert v == 2
    assert {r["k"] for r in S.read(spark, path).collect()} == {1}
    with pytest.raises(ValueError, match="exactly one"):
        S.restore(path)
    with pytest.raises(ValueError, match="exactly one"):
        S.restore(path, version=0, timestamp=t0)


def test_maybe_compact_triggers_on_measured_debt(spark, tmp_path):
    """Auto-OPTIMIZE: healthy layouts are a no-op; accumulated tiny
    appends + DV tombstones cross the threshold and trigger one
    compaction that clears the debt."""
    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(0, "x")]), path)
    assert S.maybe_compact(spark, path, max_small_files=8) is None
    for i in range(1, 9):
        S.commit(
            spark, _df(spark, [(i, "x")]).coalesce(1), path, mode="append"
        )
    S.delete_where_dv(spark, path, "k = 0")
    v = S.maybe_compact(spark, path, max_small_files=8)
    assert v is not None
    assert S.read(spark, path).count() == 8
    # debt cleared: compacted layout is healthy again
    assert S.maybe_compact(spark, path, max_small_files=8) is None


def test_identity_allocation_is_race_safe(tmp_path):
    """The O_EXCL allocation log under real thread concurrency: many
    allocators racing on one table must reserve pairwise-disjoint
    ranges (no Spark needed — the allocator is pure protocol)."""
    import threading

    path = str(tmp_path / "t")
    os.makedirs(path, exist_ok=True)
    bases: list[tuple[int, int]] = []
    lock = threading.Lock()

    def worker(span):
        for _ in range(5):
            b = S._allocate_identity_range(path, span, start=1)
            with lock:
                bases.append((b, span))

    threads = [
        threading.Thread(target=worker, args=(span,))
        for span in (10, 100, 1000, 10, 100, 1000, 10, 100)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(bases) == 40
    ranges = sorted((b, b + s) for b, s in bases)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlap: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_vacuum_retention_hours_and_diff_by_timestamp(spark, tmp_path):
    """Age-based VACUUM retention keeps every version inside the
    window; snapshot_diff addresses endpoints by commit time."""
    import time

    path = str(tmp_path / "t")
    S.commit(spark, _df(spark, [(1, "a")]), path)
    t0 = S.load_snapshot(path, 0).committed_at
    time.sleep(0.05)
    S.commit(spark, _df(spark, [(1, "a"), (2, "b")]), path)
    S.commit(spark, _df(spark, [(1, "a"), (2, "B"), (3, "c")]), path)

    # all commits are seconds old: a 1-hour retention keeps everything
    assert S.vacuum(path, keep_last=1, retention_hours=1.0) == []
    assert [s.version for s in S.history(path)] == [0, 1, 2]

    ch = {
        (r["k"], r["_change_type"])
        for r in S.snapshot_diff(
            spark, path, "k", from_timestamp=t0
        ).collect()
    }
    assert ch == {
        (2, "insert"), (3, "insert"),
    } or ch == {
        (2, "update_preimage"), (2, "update_postimage"), (3, "insert"),
        (2, "insert"),
    }
    # explicit version pair equals timestamp-addressed pair
    a = {
        tuple(r) for r in S.snapshot_diff(spark, path, "k", 0, 2).collect()
    }
    b = {
        tuple(r)
        for r in S.snapshot_diff(
            spark, path, "k", from_timestamp=t0
        ).collect()
    }
    assert a == b
    with pytest.raises(ValueError, match="OR from_timestamp"):
        S.snapshot_diff(spark, path, "k", 0, from_timestamp=t0)
    with pytest.raises(ValueError, match="required"):
        S.snapshot_diff(spark, path, "k")

    # zero retention falls back to keep_last pruning
    deleted = S.vacuum(path, keep_last=1, retention_hours=0.0)
    assert [s.version for s in S.history(path)] == [2]
    assert deleted


def test_ndv_sketches_estimate_merge_and_fail_open(spark, tmp_path):
    """Manifest-only NDV (HLL-backed Delta/Iceberg-style distinct
    stats): estimates from the manifest alone, appends merge with
    exact union algebra (append-path estimate == one-shot rebuild),
    and any row-removing op drops the sketches (fail-open — registers
    cannot un-see)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    a = spark.range(800).select(
        F.col("id").alias("k"), (F.col("id") % 50).alias("v")
    )
    b = spark.range(600, 1400).select(
        F.col("id").alias("k"), (F.col("id") % 50).alias("v")
    )
    S.commit(spark, a, path, ndv_for=["k", "v"])
    est = S.table_ndv(path)
    assert abs(est["k"] - 800) / 800 < 0.2  # ~3 SE at p=8
    assert abs(est["v"] - 50) / 50 < 0.3
    S.commit(spark, b, path, mode="append")  # inherits sketched cols
    merged = S.table_ndv(path)
    # merge algebra is exact: appended estimate == one-shot rebuild
    path2 = str(tmp_path / "t2")
    S.commit(spark, a.unionByName(b), path2, ndv_for=["k", "v"])
    assert merged == S.table_ndv(path2)
    assert abs(merged["k"] - 1400) / 1400 < 0.2
    # time travel reads the version's own sketches
    assert S.table_ndv(path, 0) == est
    # a row-removing op drops the stats rather than overestimate
    S.delete_where_dv(spark, path, "k < 100")
    assert S.table_ndv(path) == {}


def test_ndv_survives_metadata_ops_with_logical_names(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("v")
    )
    S.commit(spark, df, path, ndv_for=["v"])
    before = S.table_ndv(path)["v"]
    S.rename_column(path, "v", "cat")
    assert S.table_ndv(path) == {"cat": before}  # logical key, same regs
    # restore back to the pre-rename version: sketches return under "v"
    S.restore(path, 0)
    assert S.table_ndv(path) == {"v": before}
    # clone carries them
    S.clone(path, str(tmp_path / "c"))
    assert S.table_ndv(str(tmp_path / "c")) == {"v": before}


def test_deep_clone_survives_source_deletion(spark, tmp_path):
    """deep_clone: self-contained copy — the SOURCE can be deleted
    outright and the clone still serves its live (DV-filtered) rows
    from dst-owned files; the transient source-referencing version is
    vacuumed away with a typed time-travel boundary."""
    import shutil

    from pyspark.sql import Row

    import pytest as _pytest

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    S.commit(
        spark,
        spark.createDataFrame(
            [Row(k=1, v="a"), Row(k=2, v="b"), Row(k=3, v="c")]
        ),
        src,
    )
    S.delete_where_dv(spark, src, "k = 2")
    v = S.deep_clone(spark, src, dst)
    shutil.rmtree(src)
    assert sorted(r.k for r in S.read(spark, dst).collect()) == [1, 3]
    dstp = os.path.abspath(dst) + os.sep
    assert all(
        f.startswith(dstp) for f in S.data_files(dst, v)
    )
    with _pytest.raises(S.VacuumedVersionError):
        S.read(spark, dst, version=0)


def test_deep_clone_preserves_partition_layout(spark, tmp_path):
    import shutil

    from pyspark.sql import Row
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        TableSpec,
    )

    spec = TableSpec(
        name="t",
        schema=StructType(
            [
                StructField("k", LongType(), False),
                StructField("p", StringType(), False),
                StructField("v", LongType(), True),
            ]
        ),
        primary_key="k",
        partition_by=("p",),
    )
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    S.merge_commit(
        spark,
        spark.createDataFrame(
            [Row(k=1, p="x", v=10), Row(k=2, p="y", v=20)]
        ),
        src,
        spec,
    )
    S.deep_clone(spark, src, dst)
    shutil.rmtree(src)
    got = sorted((r.k, r.p, r.v) for r in S.read(spark, dst).collect())
    assert got == [(1, "x", 10), (2, "y", 20)]
    snap = S.load_snapshot(dst)
    assert snap.part_entries is not None  # layout survived the copy

def test_type_widening_metadata_only(spark, tmp_path):
    """int→long / float→double evolution at append is METADATA-ONLY
    (sources/snapshots._merged_schema_json widening chains): the old
    narrow files are not rewritten (their parquet physical types stay
    int32/float — _physical_schema's declared read schema upcasts at
    scan), narrower late appends upcast, every non-chain change stays
    a typed refusal, and time travel still shows the narrow era."""
    import pyarrow.parquet as pq
    import pytest

    from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
        snapshots as S,
    )

    path = str(tmp_path / "t")
    S.commit(
        spark,
        spark.range(4).selectExpr(
            "cast(id as int) k", "cast(id as float) x", "cast(id as string) s"
        ),
        path,
        stats_for=["k"],
    )
    files_before = sorted(S.data_files(path))
    S.commit(
        spark,
        spark.range(4, 6).selectExpr(
            "cast(id + 10000000000 as long) k",
            "cast(id + 0.5 as double) x",
            "cast(id as string) s",
        ),
        path,
        mode="append",
        merge_schema=True,
        stats_for=["k"],
    )
    df = S.read(spark, path)
    assert df.schema["k"].dataType.simpleString() == "bigint"
    assert df.schema["x"].dataType.simpleString() == "double"
    got = sorted((r.k, r.x) for r in df.collect())
    assert got == [(0, 0.0), (1, 1.0), (2, 2.0), (3, 3.0),
                   (10000000004, 4.5), (10000000005, 5.5)]

    # metadata-only: the narrow-era files survived byte-identical with
    # their narrow PHYSICAL parquet types
    assert set(files_before) <= set(S.data_files(path))
    sch = pq.read_schema(files_before[0])
    assert str(sch.field("k").type) == "int32"
    assert str(sch.field("x").type) == "float"

    # a narrower late append upcasts; the schema stays wide
    S.commit(
        spark,
        spark.range(6, 7).selectExpr(
            "cast(id as int) k", "cast(id as float) x", "cast(id as string) s"
        ),
        path,
        mode="append",
        merge_schema=True,
        stats_for=["k"],
    )
    df = S.read(spark, path)
    assert df.schema["k"].dataType.simpleString() == "bigint"
    assert df.count() == 7

    # non-chain changes stay typed refusals: cross-kind and cross-chain
    for expr in ("cast(id as string) k", "cast(id as double) k"):
        with pytest.raises(ValueError, match="cannot change"):
            S.commit(
                spark,
                spark.range(1).selectExpr(
                    expr if "k" in expr else "cast(id as long) k",
                    "cast(id as float) x",
                    "cast(id as string) s",
                ),
                path,
                mode="append",
                merge_schema=True,
            )

    # stats-pruned read through the widened column still answers right
    # (narrow-era int stats compared against a long literal)
    r = {}
    out = S.read_where(
        spark, path, [("k", ">=", 10_000_000_000)], report=r
    )
    assert sorted(x.k for x in out.collect()) == [
        10000000004, 10000000005,
    ]
    assert r["files_kept"] < r["files_total"]

    # DV delete/update plan against the DECLARED wide schema
    S.delete_where_dv(spark, path, "k = 10000000004")
    S.update_where_dv(spark, path, "k = 2", {"x": "99.0D"})
    vals = {r.k: r.x for r in S.read(spark, path).collect()}
    assert 10000000004 not in vals and vals[2] == 99.0

    # time travel: the narrow era reads back with its own narrow schema
    v0 = S.read(spark, path, version=0)
    assert v0.schema["k"].dataType.simpleString() == "int"
    assert v0.schema["x"].dataType.simpleString() == "float"
    assert v0.count() == 4


def test_type_widening_through_merge_commit(spark, tmp_path):
    """A MERGE whose source needs wider types widens the table schema
    through union coercion; carried (unrewritten) partitions keep
    their narrow files and upcast at scan."""
    from pyspark.sql import Row

    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators.merge import (
        TableSpec,
    )
    from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
        snapshots as S,
    )
    from pyspark.sql.types import (
        FloatType,
        IntegerType,
        LongType,
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    path = str(tmp_path / "t")
    narrow = StructType(
        [
            StructField("k", IntegerType()),
            StructField("x", FloatType()),
            StructField("p", StringType()),
        ]
    )
    spec_n = TableSpec(
        name="t", schema=narrow, primary_key="k", partition_by=("p",)
    )
    base = spark.createDataFrame(
        [Row(k=i, x=float(i), p="ab"[i % 2]) for i in range(6)], narrow
    )
    S.merge_commit(spark, base, path, spec_n)

    wide = StructType(
        [
            StructField("k", LongType()),
            StructField("x", DoubleType()),
            StructField("p", StringType()),
        ]
    )
    spec_w = TableSpec(
        name="t", schema=wide, primary_key="k", partition_by=("p",)
    )
    src = spark.createDataFrame(
        [Row(k=10_000_000_000, x=7.25, p="a"), Row(k=1, x=1.5, p="b")],
        wide,
    )
    S.merge_commit(spark, src, path, spec_w)
    df = S.read(spark, path)
    assert df.schema["k"].dataType.simpleString() == "bigint"
    got = {r.k: (r.x, r.p) for r in df.collect()}
    assert got[10_000_000_000] == (7.25, "a")
    assert got[1] == (1.5, "b")  # matched row moved partition + updated
    assert len(got) == 7
