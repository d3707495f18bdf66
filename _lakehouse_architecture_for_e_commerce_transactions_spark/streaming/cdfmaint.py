"""Maintained aggregates DRIVEN BY a table's change feed.

`streaming/aggmaint.py` keeps per-key aggregates exactly-once current
from a change-row transport (CSV drops); `streaming/cdf.py` turns a
snapshot table's commits into change rows. This module is the jack
between them: point a maintenance twin AT A TABLE and the aggregate
tracks every committed insert, delete, and update — the
materialized-view-over-Delta shape (`CREATE MATERIALIZED VIEW ... AS
SELECT k, min(v), max(v) FROM t GROUP BY k`, kept fresh incrementally),
with no rescan of the source table and no bespoke feed-writer.

Change-type mapping: ``insert → I(new)``, ``delete → D(old)``,
``update_preimage → D(old)`` + ``update_postimage → I(new)`` — an
update is algebraically remove-then-add to every maintained aggregate
here, so splitting the images loses nothing. Partition-rewrite commits
arrive as carried-row D/I pairs (the feed's documented coarseness);
the maintenance treats them as no-op churn on the touched keys —
correct, costed by rewrite size, not table size.

Exactly-once composes: the CDF source replays a checkpointed version
range deterministically from immutable manifests, and the maintenance
sink's batch-id guard turns replays into no-ops — end-to-end each
commit affects the aggregate exactly once.

The order-strict EWMA twin is deliberately NOT wired: a change feed
carries no event-time ordering contract across commits, and retrofitting
a recurrence is the batch job's job (see ``stream_ewma_maintenance``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming import (
    aggmaint as AM,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.cdf import (
    read_changes_stream,
)

_ADDS = ("insert", "update_postimage")


def changes_as_ops(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    val_col: str,
    starting_version: int | str | None = "earliest",
    max_versions_per_trigger: int | None = None,
) -> DataFrame:
    """A snapshot table's change feed re-shaped to the maintenance
    twins' ``CHANGE_STREAM_SCHEMA`` (``k string, op I|D, old_val,
    new_val double``). Key and value casts happen here so any
    key/value column types ride the same downstream core."""
    ch = read_changes_stream(
        spark,
        table_path,
        starting_version=starting_version,
        max_versions_per_trigger=max_versions_per_trigger,
    )
    is_add = F.col("_change_type").isin(*_ADDS)
    v = F.col(val_col).cast("double")
    return ch.select(
        F.col(key_col).cast("string").alias("k"),
        F.when(is_add, F.lit("I")).otherwise(F.lit("D")).alias("op"),
        F.when(~is_add, v).alias("old_val"),
        F.when(is_add, v).alias("new_val"),
    )


def table_minmax_maintenance(
    spark: SparkSession,
    table_path: str,
    fact_path: str,
    state_path: str,
    checkpoint_dir: str,
    key_col: str,
    val_col: str,
    starting_version: int | str | None = "earliest",
    **kw,
) -> StreamingQuery:
    """Per-key MIN/MAX of ``val_col`` grouped by ``key_col``, kept
    current from ``table_path``'s commits. Read the result with
    ``aggmaint.read_maintained_minmax(spark, state_path)``."""
    return AM.stream_minmax_maintenance(
        spark,
        changes_as_ops(
            spark, table_path, key_col, val_col,
            starting_version=starting_version,
        ),
        fact_path,
        state_path,
        checkpoint_dir,
        **kw,
    )


def table_topk_maintenance(
    spark: SparkSession,
    table_path: str,
    fact_path: str,
    state_path: str,
    checkpoint_dir: str,
    key_col: str,
    val_col: str,
    starting_version: int | str | None = "earliest",
    **kw,
) -> StreamingQuery:
    """Per-key TOP-K of ``val_col`` kept current from ``table_path``'s
    commits; read with ``aggmaint.read_maintained_topk``."""
    return AM.stream_topk_maintenance(
        spark,
        changes_as_ops(
            spark, table_path, key_col, val_col,
            starting_version=starting_version,
        ),
        fact_path,
        state_path,
        checkpoint_dir,
        **kw,
    )


def table_agg_maintenance(
    spark: SparkSession,
    table_path: str,
    state_path: str,
    checkpoint_dir: str,
    key_col: str,
    val_col: str,
    starting_version: int | str | None = "earliest",
    **kw,
) -> StreamingQuery:
    """Per-key COUNT/SUM (the self-maintainable aggregates — no fact
    mirror needed) kept current from ``table_path``'s commits; read
    with ``aggmaint.read_maintained_agg``."""
    return AM.stream_agg_maintenance(
        spark,
        changes_as_ops(
            spark, table_path, key_col, val_col,
            starting_version=starting_version,
        ),
        state_path,
        checkpoint_dir,
        **kw,
    )


def table_rows_as_kv(
    spark: SparkSession,
    table_path: str,
    key_col: str,
    val_col: str,
    starting_version: int | str | None = "earliest",
) -> DataFrame:
    """A table's APPENDED rows as the ``(k string, v string)`` feed the
    monotone-sketch twins consume. Built on the append-only TAIL source
    deliberately: KMV and HLL registers cannot retract, so a commit
    that deletes or rewrites rows REFUSES LOUDLY (``ChangeCommitError``)
    instead of silently serving estimates the sketch cannot un-see —
    the streaming twin of the manifest-NDV fail-open rule. Delete-
    capable aggregates (count/sum, min/max, top-k, Count-Min) maintain
    from the CHANGE feed via :func:`changes_as_ops` instead."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming.tablesource import (
        read_table_stream,
    )

    src = read_table_stream(
        spark, table_path, starting_version=starting_version
    )
    return src.select(
        F.col(key_col).cast("string").alias("k"),
        F.col(val_col).cast("string").alias("v"),
    )


def table_hll_maintenance(
    spark: SparkSession,
    table_path: str,
    state_path: str,
    checkpoint_dir: str,
    key_col: str,
    val_col: str,
    **kw,
) -> StreamingQuery:
    """Per-key HLL NDV of ``val_col``, kept current from ``table_path``'s
    APPENDS (change commits refuse — registers cannot retract); read
    with ``aggmaint.read_maintained_hll_estimate``."""
    return AM.stream_hll_maintenance(
        spark,
        table_rows_as_kv(spark, table_path, key_col, val_col),
        state_path,
        checkpoint_dir,
        **kw,
    )


_CDC_MARK = "@cdcbatch="


def last_applied_changes_batch(dst_path: str) -> int:
    """Newest ``@cdcbatch=N`` marker in the destination's commit log
    (−1 if none); walk cost bounded by ops since the last applied
    batch — 0 in steady state."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
        snapshots as S,
    )

    try:
        vs = S._versions(dst_path)
    except FileNotFoundError:
        return -1
    for v in reversed(vs):
        op = S.load_snapshot(dst_path, v).op or ""
        if _CDC_MARK in op:
            try:
                return int(op.rsplit(_CDC_MARK, 1)[1])
            except ValueError:
                return -1
    return -1


def apply_changes_batch(
    spark: SparkSession,
    dst_path: str,
    spec,
    batch_df: DataFrame,
    batch_id: int,
) -> bool:
    """Idempotently apply ONE netted micro-batch of change rows into
    ``dst_path`` (the foreachBatch body of :func:`apply_changes_into`,
    module-level so crash-window behavior is directly testable).
    Returns True if anything was committed.

    Crash contract: the batch id marker rides the LAST commit. Deletes
    land first under a non-marker op (``DELETE@cdcapplying``) when
    upserts follow — a crash between the two replays the batch, the
    delete re-run matches nothing (keys already dead), and the marker
    MERGE completes; a crash after the marker makes the replay a full
    no-op."""
    from pyspark.sql.window import Window

    from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
        snapshots as S,
    )

    keys = (
        [spec.primary_key]
        if isinstance(spec.primary_key, str)
        else list(spec.primary_key)
    )
    data_cols = [f.name for f in spec.schema.fields]
    is_add = F.col("_change_type").isin(*_ADDS)
    if batch_df.isEmpty():
        return False
    if batch_id <= last_applied_changes_batch(dst_path):
        return False  # replayed batch: marker already published
    w = Window.partitionBy(*keys).orderBy(
        F.col("_commit_version").desc(),
        is_add.cast("int").desc(),
    )
    final = (
        batch_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .cache()
    )
    try:
        try:
            # _versions returns [] (no raise) for a missing table
            dst_exists = bool(S._versions(dst_path))
        except FileNotFoundError:
            dst_exists = False
        ups = final.filter(is_add).select(*data_cols)
        dels = final.filter(~is_add).select(*keys)
        has_ups = not ups.isEmpty()
        wrote = False
        if dst_exists and not dels.isEmpty():
            before = S.load_snapshot(dst_path).version
            after = S.delete_matching_dv(
                spark,
                dst_path,
                dels,
                keys,
                op=(
                    "DELETE@cdcapplying"
                    if has_ups
                    else f"DELETE{_CDC_MARK}{batch_id}"
                ),
            )
            wrote = wrote or after != before
        if has_ups:
            S.merge_commit(
                spark, ups, dst_path, spec,
                op=f"MERGE{_CDC_MARK}{batch_id}",
                # key min/max on the replica's files keep the next
                # batch's delete scan pruned
                stats_for=keys,
            )
            wrote = True
        return wrote
    finally:
        final.unpersist()


def apply_changes_into(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    spec,
    checkpoint: str,
    starting_version: int | str | None = "earliest",
    max_versions_per_trigger: int | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """``APPLY CHANGES INTO`` (the DLT/Delta CDC-apply shape): tail
    ``src_path``'s change feed and keep ``dst_path`` a live REPLICA
    keyed by ``spec.primary_key`` — inserts and update postimages
    upsert (MERGE), deletes delete (join-based deletion vectors, never
    a driver IN-list) — continuously, exactly-once in effect.

    Per micro-batch the changes are NETTED per key first (latest
    commit version wins; an add at that version beats the delete the
    same rewrite emitted), so one batch spanning many commits applies
    as one MERGE + one DV delete, not one commit per source commit.

    Exactly-once: the batch id rides the destination manifest's op
    string (``MERGE@cdcbatch=N``). Deletes apply BEFORE the marker
    commit, so a crash between them replays into: no-op delete (keys
    already dead) + the marker MERGE — idempotent by value. A replayed
    batch whose marker is already published skips entirely.

    Returns the StreamingQuery (caller owns awaitTermination/stop)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes_batch(spark, dst_path, spec, batch_df, batch_id)

    src = read_changes_stream(
        spark,
        src_path,
        starting_version=starting_version,
        max_versions_per_trigger=max_versions_per_trigger,
    )
    w = src.writeStream.option("checkpointLocation", checkpoint).foreachBatch(
        _apply
    )
    w = w.trigger(**(trigger or {"availableNow": True}))
    return w.start()

