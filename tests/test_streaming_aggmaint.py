"""Streaming materialized-view maintenance: the snapshot-table aggregate
maintained from change-row files must equal a batch recompute of the
same change log, survive a second no-new-data run untouched, and apply
late-arriving files exactly once."""

from __future__ import annotations

import json
import math
import os

import pytest

from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
    snapshots as S,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming import (
    aggmaint as AM,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.aggmaint import (
    read_maintained_agg,
    stream_agg_maintenance,
)

HEADER = "k,op,old_val,new_val"

_BATCH1 = [
    "a,I,,10.0",
    "a,I,,20.5",
    "b,I,,5.0",
]
_BATCH2 = [
    "a,U,10.0,12.0",   # same-group update
    "b,D,5.0,",        # b disappears (count reaches 0)
    "c,I,,7.25",
]
_BATCH3 = [
    "c,U,7.25,7.75",
    "a,D,20.5,",
]


def _fx(x: float) -> int:
    return int(math.floor(x * 100 + 0.5))


def _write(path: str, rows: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(HEADER + "\n" + "\n".join(rows) + "\n")


def _state(spark, table):
    return {
        r["k"]: (r["cnt"], r["sum_scaled"])
        for r in read_maintained_agg(spark, table).collect()
    }


def test_stream_agg_maintenance_exactly_once(spark, tmp_path):
    raw = str(tmp_path / "raw")
    table = str(tmp_path / "agg_table")
    ckpt = str(tmp_path / "ckpt")
    _write(os.path.join(raw, "b1.csv"), _BATCH1)
    _write(os.path.join(raw, "b2.csv"), _BATCH2)

    applied: list[tuple[int, int]] = []
    q = stream_agg_maintenance(
        spark, raw, table, ckpt,
        on_batch=lambda bid, n: applied.append((bid, n)),
    )
    q.awaitTermination(120)

    want = {
        "a": (2, _fx(12.0) + _fx(20.5)),
        "c": (1, _fx(7.25)),
    }  # b deleted to zero → gone
    assert _state(spark, table) == want
    assert sum(n for _, n in applied) == 6

    # no new files: restart applies nothing and state is unchanged
    q = stream_agg_maintenance(spark, raw, table, ckpt)
    q.awaitTermination(120)
    assert _state(spark, table) == want

    # late file: applied exactly once on the next run
    _write(os.path.join(raw, "b3.csv"), _BATCH3)
    q = stream_agg_maintenance(spark, raw, table, ckpt)
    q.awaitTermination(120)
    assert _state(spark, table) == {
        "a": (1, _fx(12.0)),
        "c": (1, _fx(7.75)),
    }


def test_replayed_batch_id_is_skipped_same_checkpoint(spark, tmp_path):
    """Crash-after-commit-before-checkpoint: re-running the SAME
    checkpoint re-delivers already-applied batch ids, which must skip
    (the published state carries the (app, batch) watermark)."""
    raw = str(tmp_path / "raw")
    table = str(tmp_path / "agg_table")
    ckpt = str(tmp_path / "ckpt")
    _write(os.path.join(raw, "b1.csv"), _BATCH1)
    q = stream_agg_maintenance(spark, raw, table, ckpt)
    q.awaitTermination(120)
    before = _state(spark, table)
    q = stream_agg_maintenance(spark, raw, table, ckpt)
    q.awaitTermination(120)
    assert _state(spark, table) == before


def test_lost_checkpoint_rebuilds_and_applies_new_data(spark, tmp_path):
    """A NEW checkpoint restarts batch ids from 0 — those ids do not
    name the same inputs, so the table's old watermark must NOT suppress
    them (that would silently drop never-applied data). A new app id
    rebuilds state from the re-delivered full input instead: same final
    answer for old data, and data arriving after the checkpoint loss is
    applied."""
    raw = str(tmp_path / "raw")
    table = str(tmp_path / "agg_table")
    _write(os.path.join(raw, "b1.csv"), _BATCH1)
    q = stream_agg_maintenance(spark, raw, table, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    before = _state(spark, table)

    # checkpoint lost; new data arrives; stream restarts on a fresh
    # checkpoint reading the whole directory as batch 0
    _write(os.path.join(raw, "b2.csv"), _BATCH2)
    q = stream_agg_maintenance(spark, raw, table, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    after = _state(spark, table)
    assert after != before  # the new file was NOT silently dropped
    assert after == {
        "a": (2, _fx(12.0) + _fx(20.5)),
        "c": (1, _fx(7.25)),
    }


MIX_HEADER = "seq,kind,fact_key,dim_key,val,attr"

_MB1 = [
    "1,DU,,1,,red",
    "2,DU,,2,,blue",
    "3,FI,100,1,5.0,",
    "4,FI,101,2,6.0,",
]
_MB2 = [
    "5,DU,,1,,green",   # repaint dim 1 → view row 100 must follow
    "6,FI,102,1,7.0,",  # joins the UPDATED dim (green)
    "7,FD,101,,,",      # fact delete
]


def _write_mix(path, rows):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(MIX_HEADER + "\n" + "\n".join(rows) + "\n")


def test_stream_join_view_maintenance(spark, tmp_path):
    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.aggmaint import (
        read_maintained_dim,
        read_maintained_view,
        stream_join_view_maintenance,
    )

    raw = str(tmp_path / "raw")
    dimp = str(tmp_path / "dim")
    viewp = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    _write_mix(os.path.join(raw, "b1.csv"), _MB1)
    q = stream_join_view_maintenance(spark, raw, dimp, viewp, ckpt)
    q.awaitTermination(120)
    assert {
        (r["fact_key"], r["attr"])
        for r in read_maintained_view(spark, viewp).collect()
    } == {(100, "red"), (101, "blue")}

    _write_mix(os.path.join(raw, "b2.csv"), _MB2)
    q = stream_join_view_maintenance(spark, raw, dimp, viewp, ckpt)
    q.awaitTermination(120)
    view = {
        (r["fact_key"], r["attr"])
        for r in read_maintained_view(spark, viewp).collect()
    }
    # 100 repainted green by the dim update, 101 deleted, 102 inserted
    # against the already-updated dim
    assert view == {(100, "green"), (102, "green")}
    assert {
        (r["dim_key"], r["attr"])
        for r in read_maintained_dim(spark, dimp).collect()
    } == {(1, "green"), (2, "blue")}

    # same-checkpoint rerun: watermarks make re-delivered batches no-ops
    q = stream_join_view_maintenance(spark, raw, dimp, viewp, ckpt)
    q.awaitTermination(120)
    assert {
        (r["fact_key"], r["attr"])
        for r in read_maintained_view(spark, viewp).collect()
    } == view

    # lost checkpoint: a fresh one re-reads the full feed under a new
    # app id and REBUILDS both tables to the same converged state
    ckpt2 = str(tmp_path / "ckpt2")
    q = stream_join_view_maintenance(spark, raw, dimp, viewp, ckpt2)
    q.awaitTermination(120)
    assert {
        (r["fact_key"], r["attr"])
        for r in read_maintained_view(spark, viewp).collect()
    } == view


def test_guard_skip_branch_via_prestamped_table(spark, tmp_path):
    """Genuinely exercise the replay-skip path: pre-stamp the state
    table with this checkpoint's OWN app id and a high batch watermark,
    then run the stream on a fresh checkpoint dir. Batch 0 is delivered,
    _guard sees (same app, 0 <= 5), and must skip — state untouched."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.aggmaint import (
        _STATE_SCHEMA,
        _app_id,
        _commit_with_marker,
    )
    from pyspark.sql import functions as F

    raw = str(tmp_path / "raw")
    table = str(tmp_path / "agg_table")
    ckpt = str(tmp_path / "ckpt")
    _write(os.path.join(raw, "b1.csv"), _BATCH1)

    app = _app_id(ckpt)
    state = spark.createDataFrame(
        [("z", 9, 900)], "k string, cnt long, sum_scaled long"
    )
    _commit_with_marker(spark, state, table, 5, app, _STATE_SCHEMA)
    applied = []
    q = stream_agg_maintenance(
        spark, raw, table, ckpt,
        on_batch=lambda bid, n: applied.append(bid),
    )
    q.awaitTermination(120)
    assert applied == []  # skipped, not re-applied
    assert _state(spark, table) == {"z": (9, 900)}


def test_guard_truth_table():
    import pytest

    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.aggmaint import (
        _guard,
    )

    assert _guard(0, None, None, "a") == (False, False)  # first ever
    assert _guard(3, 5, "a", "a") == (True, False)       # replay: skip
    assert _guard(6, 5, "a", "a") == (False, False)      # next batch
    assert _guard(0, 5, "a", "b") == (False, True)       # new app: rebuild
    # pre-app-id legacy table: bare batch-id comparison (a continuing
    # original checkpoint resumes; no crash, no rebuild)
    assert _guard(3, 5, None, "a") == (True, False)
    assert _guard(6, 5, None, "a") == (False, False)
    with pytest.raises(RuntimeError, match="stale checkpoint"):
        _guard(6, 5, "a", "b")  # stale ckpt on migrated table: loud


def test_pre_appid_table_does_not_crash_the_stream(spark, tmp_path):
    """State tables written before the _app_id column existed must not
    crash the stream on the missing column — they keep the legacy bare
    batch-id comparison (a delivered batch id at or below the stored
    watermark skips, exactly as the pre-upgrade code behaved)."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
        snapshots as S,
    )

    raw = str(tmp_path / "raw")
    table = str(tmp_path / "agg_table")
    _write(os.path.join(raw, "b1.csv"), _BATCH1)
    legacy = spark.createDataFrame(
        [("z", 9, 900, 5), (None, 0, 0, 5)],
        "k string, cnt long, sum_scaled long, _last_batch long",
    )
    S.commit(spark, legacy, table)
    q = stream_agg_maintenance(spark, raw, table, str(tmp_path / "ck"))
    q.awaitTermination(120)
    # batch 0 <= legacy watermark 5: skipped under legacy semantics,
    # and crucially the stream ran to completion without an
    # AnalysisException on the absent _app_id column
    assert _state(spark, table) == {"z": (9, 900)}


def test_early_fact_recovered_by_late_dimension(spark, tmp_path):
    """ADVICE round-3: a fact insert whose dimension row hasn't arrived
    yet must NOT be dropped forever — it is retained unmatched (hidden
    from readers) and surfaces when the DU for its key lands in a later
    batch, exactly matching what a fresh-checkpoint rebuild computes."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.aggmaint import (
        read_maintained_view,
        stream_join_view_maintenance,
    )

    raw = str(tmp_path / "raw")
    dimp = str(tmp_path / "dim")
    viewp = str(tmp_path / "view")
    ckpt = str(tmp_path / "ckpt")
    # batch 1: fact 200 references dim 9, which does not exist yet
    _write_mix(os.path.join(raw, "b1.csv"), ["1,FI,200,9,5.0,"])
    q = stream_join_view_maintenance(spark, raw, dimp, viewp, ckpt)
    q.awaitTermination(120)
    assert read_maintained_view(spark, viewp).count() == 0  # hidden

    # batch 2: the dimension row finally arrives
    _write_mix(os.path.join(raw, "b2.csv"), ["2,DU,,9,,violet"])
    q = stream_join_view_maintenance(spark, raw, dimp, viewp, ckpt)
    q.awaitTermination(120)
    got = {
        (r["fact_key"], r["attr"])
        for r in read_maintained_view(spark, viewp).collect()
    }
    assert got == {(200, "violet")}  # recovered, not lost

    # and a fresh-checkpoint rebuild (single availableNow batch over the
    # full feed) agrees — the maintained-equals-recompute invariant
    q = stream_join_view_maintenance(
        spark, raw, dimp, viewp, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)
    assert {
        (r["fact_key"], r["attr"])
        for r in read_maintained_view(spark, viewp).collect()
    } == {(200, "violet")}


_CHANGE = (HEADER, ["a,I,,1.0"], ["a,I,,3.0", ",I,,2.0"])
_KV = ("k,v", ["a,v1"], ["a,v3", ",v2"])
# twin -> (feed header, clean creating batch, later batch whose second
# row has a NULL key, starter(spark, raw, state_path, work_dir))
_NULL_KEY_TWINS = {
    "agg": _CHANGE + (
        lambda spark, raw, st, w: AM.stream_agg_maintenance(
            spark, raw, st, f"{w}/ck"
        ),
    ),
    "minmax": _CHANGE + (
        lambda spark, raw, st, w: AM.stream_minmax_maintenance(
            spark, raw, f"{w}/fact", st, f"{w}/ck"
        ),
    ),
    "topk": _CHANGE + (
        lambda spark, raw, st, w: AM.stream_topk_maintenance(
            spark, raw, f"{w}/fact", st, f"{w}/ck", k=2
        ),
    ),
    "kmv": _KV + (
        lambda spark, raw, st, w: AM.stream_kmv_maintenance(
            spark, raw, st, f"{w}/ck"
        ),
    ),
    "hist": _CHANGE + (
        lambda spark, raw, st, w: AM.stream_hist_maintenance(
            spark, raw, st, f"{w}/ck"
        ),
    ),
    "cm": _CHANGE + (
        lambda spark, raw, st, w: AM.stream_cm_maintenance(
            spark, raw, st, f"{w}/ck"
        ),
    ),
    "hll": _KV + (
        lambda spark, raw, st, w: AM.stream_hll_maintenance(
            spark, raw, st, f"{w}/ck"
        ),
    ),
    "ewma": (
        "k,t,x",
        ["a,1,5"],
        ["a,2,6", ",3,7"],
        lambda spark, raw, st, w: AM.stream_ewma_maintenance(
            spark, raw, st, f"{w}/ck"
        ),
    ),
}


@pytest.mark.parametrize("path", ["creating", "scoped"])
@pytest.mark.parametrize("twin", list(_NULL_KEY_TWINS))
def test_null_key_change_rows_fail_loudly(spark, tmp_path, twin, path):
    """The snapshot-state twins reserve NULL keys for the watermark
    marker and strip them on read — a NULL-keyed change row must raise,
    not vanish between batches (the batch operators remain the
    null-safe path). Every twin, on both runner paths: the creating
    batch (full state commit) and a later batch (scoped slice)."""
    header, clean, with_null, start = _NULL_KEY_TWINS[twin]
    raw = str(tmp_path / "raw")
    state = str(tmp_path / "state")

    def write(name, rows):
        os.makedirs(raw, exist_ok=True)
        with open(os.path.join(raw, name), "w") as f:
            f.write(header + "\n" + "\n".join(rows) + "\n")

    if path == "scoped":
        write("b1.csv", clean)
        start(spark, raw, state, str(tmp_path)).awaitTermination(120)
        write("b2.csv", with_null)
    else:
        write("b1.csv", clean + with_null[1:])
    before = S._versions(state)
    assert len(before) == (1 if path == "scoped" else 0)
    q = start(spark, raw, state, str(tmp_path))
    with pytest.raises(Exception, match="NULL key"):
        q.awaitTermination(120)
        q.processAllAvailable()
    assert S._versions(state) == before  # the batch published nothing


def test_state_commits_are_o_batch_across_all_twins(spark, tmp_path):
    """The scale pin for STATE tables (the fact-mirror pin's sibling):
    after the creating batch, every maintained table — aggregate state,
    dimension, enrichment view — advances by REPLACEWHERE commits that
    carry all previous data files by reference; a full WRITE happens
    only at creation. Answers already pinned by the other tests; this
    pins the commit shape."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
        snapshots as S,
    )
    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.aggmaint import (
        stream_join_view_maintenance,
    )

    def pin(path):
        snaps = S.history(path)
        assert snaps[0].op == "WRITE", path
        assert all(s.op == "REPLACEWHERE" for s in snaps[1:]), (
            path, [s.op for s in snaps],
        )
        assert len(snaps) >= 2, path
        for prev, cur in zip(snaps, snaps[1:]):
            assert set(prev.dirs) <= set(cur.dirs), (
                f"{path}: an advance rewrote carried files"
            )

    raw = str(tmp_path / "raw")
    table = str(tmp_path / "agg")
    for i, rows in enumerate([_BATCH1, _BATCH2, _BATCH3], start=1):
        _write(os.path.join(raw, f"b{i}.csv"), rows)
        q = stream_agg_maintenance(
            spark, raw, table, str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)
    pin(table)

    rawm = str(tmp_path / "rawm")
    dimp, viewp = str(tmp_path / "dim"), str(tmp_path / "view")
    for i, rows in enumerate([_MB1, _MB2], start=1):
        _write_mix(os.path.join(rawm, f"b{i}.csv"), rows)
        q = stream_join_view_maintenance(
            spark, rawm, dimp, viewp, str(tmp_path / "ckptm")
        )
        q.awaitTermination(120)
    pin(dimp)
    pin(viewp)


def test_maintenance_commits_write_o1_files_per_batch(spark, tmp_path):
    """File-COUNT pin for the r12 rebalance fix: a batch-sized
    state/fact commit must land a handful of AQE-sized files, not one
    near-empty file per shuffle partition (pre-fix: ~32 per commit,
    and every later footer-stats/bloom/tombstone phase paid per file).
    Bound chosen loose (3 commits x 4) so AQE sizing stays free to
    split data-sized batches; the regression mode is ~x32."""
    import glob

    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.aggmaint import (
        stream_minmax_maintenance,
    )

    raw = str(tmp_path / "raw")
    for i, rows in enumerate([_BATCH1, _BATCH2, _BATCH3], start=1):
        _write(os.path.join(raw, f"b{i}.csv"), rows)
        q = stream_minmax_maintenance(
            spark, raw, str(tmp_path / "fact"), str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
    for table in ("fact", "state"):
        # count data files only (commit-*/ dirs): deletion-vector
        # sidecars under dv-*/ are also parquet but are not the commit
        # fan-out this pin isolates (r12 advice)
        files = glob.glob(
            str(tmp_path / table / "data" / "commit-*" / "*.parquet")
        )
        assert 0 < len(files) <= 12, (table, len(files))


def test_compact_collapses_marker_rows_and_keeps_watermark(
    spark, tmp_path
):
    """Every applied scoped commit appends one NULL-key watermark
    marker that no scope ever tombstones; the compact_every fold must
    collapse them to the single max-batch marker (state size stays
    bounded over a long-running stream) while the stream keeps its
    exactly-once skip behavior across a restart."""
    from pyspark.sql import functions as F

    from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
        snapshots as S,
    )

    raw = str(tmp_path / "raw")
    table = str(tmp_path / "agg_table")
    ckpt = str(tmp_path / "ckpt")
    batches = [_BATCH1, _BATCH2, _BATCH3, ["d,I,,1.0"]]
    for i, rows in enumerate(batches, start=1):
        _write(os.path.join(raw, f"b{i}.csv"), rows)
        q = stream_agg_maintenance(
            spark, raw, table, ckpt, compact_every=4
        )
        q.awaitTermination(120)

    markers = (
        S.read(spark, table).filter(F.col("k").isNull()).collect()
    )
    # four applied batches wrote four markers; the cadence-4 fold after
    # batch 3 (0-indexed) collapsed them to the max-batch one
    assert len(markers) == 1
    assert markers[0]["_last_batch"] == 3
    # marker-dropping fold is a ROW change: published as MAINTENANCE,
    # never OPTIMIZE (the one label stream sources skip as bytes-only)
    assert S.load_snapshot(table).op == "MAINTENANCE"
    assert _state(spark, table) == {
        "a": (1, _fx(12.0)),
        "c": (1, _fx(7.75)),
        "d": (1, _fx(1.0)),
    }
    # replaying the whole input against the same checkpoint applies
    # nothing (watermark intact post-collapse)
    q = stream_agg_maintenance(spark, raw, table, ckpt)
    q.awaitTermination(120)
    assert S.load_snapshot(table).op == "MAINTENANCE"  # no new commit


def test_stats_watermark_mixed_table_scans_statless_files_only(
    spark, tmp_path
):
    """r15 (ADVICE r13 item 3): a table where only SOME files carry
    ``_last_batch``/``_app_id`` stats — e.g. a commit written outside
    the twins' stamped path — must still read an EXACT watermark, and
    must do it by combining the stats-max over complete entries with a
    scan restricted to the statless files (never a full-table scan,
    and never trusting the partial stats alone: here the FOREIGN
    commit carries the latest batch, the exact case the r12 poison
    rule guarded against)."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
        snapshots as S,
    )
    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.aggmaint import (
        _WM_STATS,
        _stats_watermark,
    )

    path = str(tmp_path / "mixed_state")
    ddl = "k string, _last_batch long, _app_id string"
    # v0: stamped (the twins' shape) — complete stats
    S.commit(
        spark,
        spark.createDataFrame([("a", 0, "app")], ddl),
        path,
        stats_for=_WM_STATS + ["k"],
    )
    # v1: FOREIGN append, no stats — and it carries the LATEST batch
    S.commit(
        spark,
        spark.createDataFrame([("z", 5, "app")], ddl),
        path,
        mode="append",
    )
    # v2: stamped again (the twin's next applied batch re-introduces
    # stats, but sidecar carry only covers v2's own files)
    S.commit(
        spark,
        spark.createDataFrame([("b", 2, "app")], ddl),
        path,
        mode="append",
        stats_for=_WM_STATS + ["k"],
    )

    # without spark: legacy behavior — mixed table falls back
    assert _stats_watermark(path) == (None, None)

    rep: dict = {}
    last, app = _stats_watermark(path, spark, report=rep)
    # exact: equals the full-scan answer, which sees the foreign max
    assert (last, app) == (5, "app")
    full = S.read(spark, path).agg({"_last_batch": "max"}).first()[0]
    assert last == full
    # and it PRUNED: only the statless files were scanned
    assert rep["files_stats"] >= 1
    assert 1 <= rep["files_scanned"] < rep["files_total"]

    # fully-stamped table keeps the zero-scan fast path
    p2 = str(tmp_path / "clean_state")
    S.commit(
        spark,
        spark.createDataFrame([("a", 3, "app")], ddl),
        p2,
        stats_for=_WM_STATS + ["k"],
    )
    rep2: dict = {}
    assert _stats_watermark(p2, spark, report=rep2) == (3, "app")
    assert rep2["files_scanned"] == 0

    # a statless file whose highest-batch row is tombstoned by a
    # deletion vector (a scoped replace, the twins' own commit shape):
    # the raw statless scan would read through the tombstone and
    # over-read the watermark (9), so it must fall back to the DV-aware
    # logical read instead (5)
    p3 = str(tmp_path / "dv_state")
    S.commit(
        spark,
        spark.createDataFrame([("a", 0, "app")], ddl),
        p3,
        stats_for=_WM_STATS + ["k"],
    )
    S.commit(
        spark,
        spark.createDataFrame([("z", 5, "app"), ("y", 9, "app")], ddl),
        p3,
        mode="append",
    )
    S.replace_where_commit(
        spark,
        spark.createDataFrame([("b", 2, "app")], ddl),
        p3,
        predicates=[("k", "in", ["y"])],
        stats_for=_WM_STATS + ["k"],
    )
    assert S.read(spark, p3).agg({"_last_batch": "max"}).first()[0] == 5
    assert _stats_watermark(p3, spark) == (None, None)
    # a poisoned dead-row map (its sidecar lost) cannot say which files
    # the tombstones hit: same fallback, never "no deletion vectors"
    mdir = os.path.join(p3, "_manifests")
    head = max(f for f in os.listdir(mdir) if f.startswith("v"))
    with open(os.path.join(mdir, head)) as f:
        dv_sidecars = json.load(f)["dv_sidecars"]
    for name in dv_sidecars:
        os.remove(os.path.join(mdir, name))
    assert S.load_snapshot(p3).dv_dead is None
    assert _stats_watermark(p3, spark) == (None, None)
