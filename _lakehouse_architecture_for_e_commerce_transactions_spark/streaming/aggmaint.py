"""Streaming materialized-view maintenance: grouped aggregates and
fact⋈dim enrichment views kept current from CDC change streams,
exactly-once.

Each micro-batch advances the stored state with the batch operators from
``operators/incremental`` — O(batch) work plus a state-key-space join,
never a fact rescan — and publishes the advance atomically. State lives
in the snapshot TABLE, not in Spark streaming state: the checkpoint
stays tiny however large the key space grows, the view is
queryable/time-travelable like any other table, and a restarted stream
resumes from the table head.

COMMITS are O(batch) too, not just the compute: after the creating
batch, every table here (fact mirror, aggregate/min-max/top-k state,
KMV and histogram sketches, dimension and enrichment view) advances via
``snapshots.replace_where_commit`` scoped to the batch's touched keys —
old slice tombstoned by deletion vectors, new slice appended, untouched
files carried by reference in one atomic manifest publish. A full table
write happens only at creation and derivation rebuild, where it is
inherent. ``compact_every`` on each twin folds the accumulated slice
files + tombstones on an amortized cadence.

Exactly-once across checkpoint replays: every committed state carries
the producing ``batch_id`` AND a derivation id (``_app_id``, keyed to
the checkpoint location — the Delta ``txnAppId``/``txnVersion``
idempotent-sink pattern) in bookkeeping columns, on data rows and on one
always-present marker row with a NULL key, so the watermark survives
even a state with zero live rows. Because the marker travels inside the
same atomic snapshot commit as the data, a replayed batch sees
``batch_id <= _last_batch`` under the SAME app id and skips — no window
where state and watermark disagree (the side-file failure mode).

A DIFFERENT app id means a different delivery history (the checkpoint
was lost or relocated, so batch ids restart from 0 and do not name the
same inputs): the first batch under a new app id REBUILDS state from
empty rather than skipping or double-applying — with an
``availableNow`` file source re-reading the full input directory, the
rebuilt state converges to the same answer. Skipping on bare batch ids
across app ids would silently drop never-applied data.

ONE RUNNER for the eight keyed-state twins (agg, minmax, topk, kmv,
hist, cm, hll, ewma): ``_keyed_twin`` owns the exactly-once skeleton,
in this order — read the feed (``_change_reader``) → in-plan NULL-key
guard → [fact-mirror twins: cache the batch, profile its keys once,
advance the mirror] → ``_table_state`` → ``_guard`` → on creation or
rebuild the FULL state, otherwise the touched keys' slice
(``_scoped_slice``) → ``_commit_with_marker`` → the ``compact_every``
cadence. A twin is only a ``_TwinSpec``:

* ``state_schema`` — the state table, key first, ``_last_batch`` and
  ``_app_id`` last; the watermark marker row derives from it;
* ``feed_schema`` — the CSV feed (the change rows, or ``(k, v)`` /
  ``(k, t, x)`` for the insert-only sketches and EWMA);
* ``advance(slice, batch, fact_now)`` — the slice's next state rows;
* ``touched(batch)`` — where the scope keys come from: the batch's
  keys, or the deltas' keys for hist/cm;
* ``build(fact_now)`` — set for the twins that keep a fact mirror
  (minmax, topk): their creating state is built from the mirror;
* ``counted`` — agg only: the profile collect also yields the change
  count reported to ``on_batch``.

``stream_join_view_maintenance`` stays hand-written (see its
docstring): two tables, a multi-kind feed and a fixed commit order do
not fit one keyed state.

The batch twins prove the math by property test
(tests/test_incremental.py): maintained state is bit-equal to a
recompute of the post-change data.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    incremental as INC,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    util as U,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
    snapshots as S,
)

CHANGE_STREAM_SCHEMA = StructType(
    [
        StructField("k", StringType(), False),
        StructField("op", StringType(), False),
        StructField("old_val", DoubleType(), True),
        StructField("new_val", DoubleType(), True),
    ]
)


def _change_reader(
    spark: SparkSession, src, schema: StructType
) -> DataFrame:
    """The feed a maintenance twin consumes: a directory of CSVs in
    ``schema`` (the original contract), or any STREAMING DataFrame
    already in that shape — e.g. a snapshot table's change feed adapted
    by ``cdfmaint.changes_as_ops`` — so the same exactly-once
    maintenance core serves both transports."""
    if isinstance(src, DataFrame):
        return src
    return spark.readStream.schema(schema).option("header", True).csv(src)


# cnt/sum_scaled are non-nullable so the marker row carries 0 there,
# not NULL (see _stamped)
_STATE_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("cnt", LongType(), False),
        StructField("sum_scaled", LongType(), False),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)


def _app_id(checkpoint_dir: str) -> str:
    """Stable derivation id for a checkpoint location (Delta's txnAppId
    role): same checkpoint → same id → batch ids are comparable; a new
    checkpoint gets a new id and triggers a state rebuild."""
    return hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]


def _stats_watermark(path: str, spark=None, report: dict | None = None):
    """(last_batch, app) from the manifest's per-file min/max stats —
    zero data I/O and zero Spark jobs when every file carries complete
    ``_last_batch``/``_app_id`` stats. The marker row travels inside
    every commit and is never tombstoned, so the per-file max of
    those columns is exact even under deletion vectors (a rebuild
    overwrites the table, so mixed app ids never coexist).

    MIXED tables (r15, closing ADVICE r13 item 3): a commit written
    outside the twins' stamped path (no stats, or stats on other
    columns) leaves SOME files without usable watermark stats. Trusting
    the remaining stats alone would under-read the watermark if the
    foreign commit carried the latest batch, and the r12-r14 behavior
    (full-table fallback scan) threw away the stats entirely. The
    refinement combines stats-max over the COMPLETE entries with a
    column-pruned scan restricted to the STATLESS files only — exact
    for any mix, and the scan reads O(foreign files), not the table.
    Guards that keep the combined read equal to the legacy full scan:
    statless files referenced by deletion vectors fall back (the raw
    file scan cannot apply tombstones), and a table with NO complete
    entries returns (None, None) so ``_table_state``'s existing
    logical-read scan (DV/mapping/evolution-aware) handles it.

    Pass ``report`` (dict) to receive ``{"files_total", "files_stats",
    "files_scanned"}`` — tests and probes assert the pruning happened.
    Without ``spark``, mixed tables return (None, None) as before."""
    snap = S.load_snapshot(path)
    fs = snap.file_stats
    if not fs:
        return None, None  # no usable stats at all: legacy full scan
    # Classify per FILE against the actual file listing — never trust
    # the stats map's key set as the file set. The r12-r14 fast path
    # did, and a foreign commit BETWEEN two stamped ones under-read the
    # watermark silently (the unstamped commit's sidecar carry drops
    # every earlier entry, so the next stamped commit's map covers only
    # its own files — complete-looking, wrong): an under-read watermark
    # makes `_guard` re-apply delivered batches, i.e. state corruption,
    # found by this round's mixed-table test. The listing is the same
    # O(files) driver walk the per-batch `read_where` state slice
    # already pays, so the watermark read stays zero DATA I/O on fully
    # stamped tables. (A file missing from the stats map is statless,
    # exactly like a present-but-poisoned entry.)
    all_files = S.data_files(path, snap.version)
    best_b = best_a = None
    statless: list[str] = []
    for f in all_files:
        ent = fs.get(f) or {}
        if ent.get("rows") == 0:
            continue  # zero-row file: nothing to read or max over
        cols = ent.get("cols") or {}
        bst, ast = cols.get("_last_batch"), cols.get("_app_id")
        if (
            bst is None or bst.get("max") is None
            or ast is None or ast.get("max") is None
        ):
            statless.append(f)
            continue
        if best_b is None or bst["max"] > best_b:
            best_b = bst["max"]
        if best_a is None or ast["max"] > best_a:
            best_a = ast["max"]
    if report is not None:
        report["files_total"] = len(all_files)
        report["files_stats"] = len(all_files) - len(statless)
        report["files_scanned"] = len(statless)
    if best_b is None:
        return None, None  # no usable stats at all: legacy full scan
    if not statless:
        return int(best_b), best_a
    if spark is None:
        return None, None  # caller can't scan here: legacy behavior
    if snap.dv_files:
        # tombstoned rows in a statless file: the raw scan below would
        # read through them, so use the DV-aware full fallback instead.
        # dv_dead is keyed by file: URIs, and a poisoned (None) map
        # cannot say which files are clean.
        if snap.dv_dead is None:
            return None, None
        dead = {S._strip_file_scheme(f) for f, n in snap.dv_dead.items() if n}
        if dead.intersection(statless):
            return None, None
    from pyspark.sql.types import StructField, StructType

    mapping = S._mapping(snap)
    phys_b = mapping.get("_last_batch", "_last_batch")
    phys_a = mapping.get("_app_id", "_app_id")
    scan_schema = StructType(
        [
            StructField(phys_b, LongType(), True),
            StructField(phys_a, StringType(), True),
        ]
    )
    row = (
        spark.read.schema(scan_schema)
        .parquet(*statless)
        .agg(F.max(phys_b).alias("b"), F.max(phys_a).alias("a"))
        .first()
    )
    if row["b"] is not None and row["b"] > best_b:
        best_b = row["b"]
    if row["a"] is not None and (best_a is None or row["a"] > best_a):
        best_a = row["a"]
    return int(best_b), best_a


def _table_state(
    spark: SparkSession,
    path: str,
    schema: StructType,
    cols: list[str],
    defaults: dict | None = None,
):
    """(state rows without bookkeeping, last_batch | None, app | None).

    Tables written before the app-id column existed read as
    ``app = None`` (→ the new-derivation rebuild path) instead of
    crashing the stream on an unresolved column; likewise a requested
    state column absent from an older table is filled from
    ``defaults`` (a Column expression per name) so schema evolution of
    the state never strands a table.

    The watermark comes from the manifest's per-file stats when the
    table carries them (r12: state commits stamp ``_WM_STATS`` like the
    fact mirror always has — the per-batch watermark agg was one full
    driver-job round-trip per twin per micro-batch); the scan-agg
    remains as the legacy fallback."""
    try:
        cur = S.read(spark, path)
        for c in cols:
            if c not in cur.columns:
                if defaults is None or c not in defaults:
                    raise ValueError(
                        f"state table {path} lacks column {c!r} and no "
                        "default was provided"
                    )
                cur = cur.withColumn(c, defaults[c])
        last, app = _stats_watermark(path, spark)
        if last is None:
            aggs = [F.max("_last_batch").alias("b")]
            if "_app_id" in cur.columns:
                aggs.append(F.max("_app_id").alias("a"))
            head = cur.agg(*aggs).first()
            last = head["b"]
            app = head["a"] if "_app_id" in cur.columns else None
        return (
            cur.filter(F.col(cols[0]).isNotNull()).select(*cols),
            last,
            app,
        )
    except FileNotFoundError:
        return spark.createDataFrame([], schema).select(*cols), None, None


def _guard(batch_id: int, last, stored_app, app):
    """(skip, rebuild): skip replayed batches of the same derivation;
    rebuild from empty when the derivation changed — but ONLY at the new
    derivation's batch 0, the one batch guaranteed to contain the full
    re-read input. A mismatched app id at a later batch means a stale
    checkpoint was reattached to a table another derivation owns;
    rebuilding from that batch's partial slice would silently destroy
    state, so fail loudly instead.

    ``stored_app is None`` is a table written by the pre-app-id code,
    whose lineage is unknowable: it keeps the legacy bare batch-id
    comparison (a continuing original checkpoint resumes seamlessly and
    gets app-stamped on its next applied batch). The legacy caveat —
    a FRESH checkpoint over such a table skips its low batch ids — is
    exactly the behavior the app id was introduced to fix, and it ends
    at the first post-upgrade apply."""
    if last is not None and stored_app is None:
        return (batch_id <= last), False  # legacy: bare comparison
    if last is not None and stored_app == app and batch_id <= last:
        return True, False
    if last is not None and stored_app != app:
        if batch_id > 0:
            raise RuntimeError(
                f"state table was produced by derivation {stored_app!r} "
                f"but this stream (derivation {app!r}) is already at "
                f"batch {batch_id} — a stale checkpoint is pointed at a "
                "migrated table; start from a fresh checkpoint (rebuild) "
                "or restore the original one"
            )
        return False, True
    return False, False


def _reject_null_keys(batch_df: DataFrame, cond, what: str) -> None:
    """The snapshot-state twins reserve NULL keys for the watermark
    marker row and strip them on every state read, so a NULL-keyed
    change row would be SILENTLY dropped between batches — the worst
    failure mode. Fail loudly instead: the stream layer's contract is
    non-null keys (the BATCH operators in operators/incremental are
    null-safe; feed them directly when NULL-keyed groups matter)."""
    bad = batch_df.filter(cond).take(1)
    if bad:
        raise ValueError(
            f"{what}: NULL key in change row {tuple(bad[0])!r} — the "
            "streaming state tables reserve NULL keys for the "
            "watermark marker; NULL-keyed groups are supported by the "
            "batch maintenance operators only"
        )


def _null_guarded_key(df: DataFrame, col: str, what: str) -> DataFrame:
    """In-plan twin of ``_reject_null_keys``: re-bind ``col`` so that a
    NULL-keyed change row raises WHEN CONSUMED by the derivation — the
    guard rides the existing state-commit job instead of costing a
    dedicated take(1) driver action per micro-batch (r12: each such
    action is a full job round-trip, the dominant per-batch cost).
    Use only where ``col`` is unconditionally evaluated downstream
    (group/join keys); the raise still aborts the batch BEFORE its
    manifest publish, so state is never corrupted.

    CONTRACT (relaxed vs ``_reject_null_keys``, accepted r12): the
    guard fires only for rows the derivation CONSUMES. A NULL-keyed
    row that a twin's delta operator filters out before the key is
    evaluated (e.g. an all-NULL-image row dropped by hist/cm deltas
    ahead of the groupBy) is ignored rather than rejected — it could
    never have reached state, so nothing is silently lost; rows that
    WOULD have changed state still fail loudly. Twins needing the
    unconditional scan-everything check should keep
    ``_reject_null_keys`` and pay its per-batch action.

    The raise surfaces executor-side: callers observe a Py4J-wrapped
    SparkException whose message contains the text below, NOT a driver
    ``ValueError`` — match on the message, never the exception type
    (tests use ``pytest.raises(Exception, match=...)``)."""
    dt = df.schema[col].dataType
    return df.withColumn(
        col,
        F.when(
            F.col(col).isNull(),
            F.raise_error(
                F.lit(
                    f"{what}: NULL key in change row — the streaming "
                    "state tables reserve NULL keys for the watermark "
                    "marker; NULL-keyed groups are supported by the "
                    "batch maintenance operators only"
                )
            ).cast(dt),
        ).otherwise(F.col(col)),
    )


def _stamped(
    spark: SparkSession, df: DataFrame, schema: StructType, batch_id, app
) -> DataFrame:
    """``df`` stamped with (batch_id, app) plus the watermark marker
    row, derived from ``schema`` (data columns, then ``_last_batch``,
    ``_app_id``): NULL key and NULL data, except 0 in the columns the
    schema declares non-nullable."""
    marker_row = tuple(
        None if f.nullable else 0 for f in schema.fields[:-2]
    ) + (batch_id, app)
    # literal_frame, not createDataFrame: a parallelize-backed marker
    # adds a Python-deserialization stage to EVERY state-commit write
    # (~0.5 s/batch warm, measured r14) — the expression form folds
    # into the plan for free
    marker = U.literal_frame(spark, [marker_row], schema)
    return (
        df.withColumn("_last_batch", F.lit(batch_id).cast("long"))
        .withColumn("_app_id", F.lit(app))
        .unionByName(marker)
        # AQE-sized output files: without this, a batch-sized commit
        # lands one file per upstream shuffle partition (32+ tiny
        # files/batch locally) and every later phase — footer stats,
        # bloom build, re-reads — pays per file. Rebalance costs one
        # O(batch) shuffle and makes file count follow DATA size at any
        # scale (r12 profile: ~3.5 s/batch -> see TUNING.md).
        .hint("rebalance")
    )


def _commit_with_marker(
    spark, df, path, batch_id, app, schema,
    scope_keys: DataFrame | None = None,
    key_cols: list[str] | None = None,
    scope_key_list: list | None = None,
):
    """Publish one batch's state advance atomically with its watermark
    marker. Without ``scope_keys`` the FULL state overwrites the table
    (table creation / derivation rebuild — the only times O(state) is
    inherent). With ``scope_keys`` the commit is O(batch):
    ``df`` must hold ONLY the touched keys' new rows, and
    ``snapshots.replace_where_commit`` tombstones those keys' old rows
    (deletion vectors) while appending the slice + marker — untouched
    state files are carried by reference, never rewritten or shuffled.
    Marker rows (NULL keys) are outside every scope by SQL equality,
    so the watermark chain survives any number of scoped commits."""
    out = _stamped(spark, df, schema, batch_id, app)
    # every state/fact schema leads with its key (the invariant
    # _compact_state also relies on): stats+bloom it on the creating
    # commit so the per-batch tombstone scans below can SKIP state
    # files that cannot hold the touched keys — without this, every
    # scoped commit re-scans the whole accumulated state (O(state)
    # per batch at scale, not O(batch))
    key0 = schema.fields[0].name
    if scope_keys is None and scope_key_list is None:
        # _WM_STATS on the creating commit: every later scoped commit
        # inherits them (replace_where defaults to the table's stats
        # cols), so _table_state reads the watermark from the manifest
        # instead of running a scan-agg job every micro-batch
        S.commit(
            spark, out, path, mode="overwrite",
            stats_for=_WM_STATS + [key0], bloom_for=[key0],
        )
        return
    # Literal-IN scope when the touched key set is small (the common
    # micro-batch case): per-file key stats/blooms then prune the
    # tombstone scan at planning time, where the keys-DataFrame form
    # must scan every live state file. ``scope_key_list`` is the
    # already-collected key set (one driver action per batch, shared
    # with the slice read — see _scoped_slice); the DataFrame form
    # collects here. Falls back to the equi-join form past the cap,
    # exactly like _advance_fact's mirror commits.
    rem_keys = scope_key_list
    if (
        rem_keys is None
        and key_cols is not None
        and len(key_cols) == 1
    ):
        rows = (
            scope_keys.select(key_cols[0])
            .distinct()
            .limit(_REPLACE_KEY_CAP + 1)
            .collect()
        )
        if len(rows) <= _REPLACE_KEY_CAP:
            rem_keys = [r[0] for r in rows]
    if rem_keys is not None:
        S.replace_where_commit(
            spark, out, path,
            predicates=[(key_cols[0], "in", rem_keys)],
        )
    else:
        S.replace_where_commit(
            spark, out, path, keys=scope_keys, key_cols=key_cols
        )


def _scoped_slice(
    spark: SparkSession,
    state: DataFrame,
    state_path: str,
    cols: list[str],
    touched: DataFrame,
    key_col: str,
    rows: list | None = None,
):
    """(slice, key_list, collected_rows) for an O(batch) state advance
    — ONE driver action per micro-batch where the previous shape paid
    two (the semi-join build plus ``_commit_with_marker``'s scope
    collect). ``collected_rows`` are the raw ``touched`` rows so a
    caller that put extra aggregates on the frame (per-key counts,
    removal flags) reuses the same action for them; ``key_list`` is
    None past the cap (caller falls back to the DataFrame scope).
    Pass ``rows`` (key first, at most cap + 1 of them) when the keys
    were already collected — ``_batch_key_profile`` — and the slice
    then costs no action at all.

    Within ``_REPLACE_KEY_CAP`` the touched key set is collected once
    and reused twice: the state slice becomes a predicate-pruned
    ``read_where`` scan — per-file key stats/blooms skip state files at
    PLANNING time, so the slice read touches O(batch) files instead of
    scanning every live state file through a shuffle/broadcast
    semi-join — and the same list feeds the scoped commit as a literal
    IN predicate (``scope_key_list``). Past the cap: the semi-join
    slice and a ``(None)`` key list, telling the caller to fall back to
    the keys-DataFrame commit scope.

    NULL keys never appear in ``touched`` (callers derive it from
    null-guarded batch keys or from delta frames that group by the
    key), and the IN predicate could not match them anyway (SQL
    equality), so marker rows stay outside every scope."""
    if rows is None:
        rows = touched.limit(_REPLACE_KEY_CAP + 1).collect()
    if len(rows) <= _REPLACE_KEY_CAP:
        keys = [r[0] for r in rows]
        sl = (
            S.read_where(spark, state_path, [(key_col, "in", keys)])
            .filter(F.col(key_col).isNotNull())
            .select(*cols)
        )
        return sl, keys, rows
    return state.join(touched, [key_col], "left_semi"), None, rows


def _batch_key_profile(batch_df: DataFrame):
    """(rows, rem_keys) of one cached, NULL-key-guarded change batch in
    ONE driver action: ``rows`` are its distinct keys (at most
    ``_REPLACE_KEY_CAP`` + 1 of them, for ``_scoped_slice``) and
    ``rem_keys`` their removal-carrying subset (op ∈ D,U), None past
    the cap (``_advance_fact`` then collects its own scope) — the two
    lists the mirror+state advance used to pay separate collects for.
    The groupBy consumes every row's key, so the in-plan NULL-key guard
    fires at this first action — before any commit work — which is the
    documented twin contract (NULL-keyed change rows raise, they never
    vanish)."""
    rows = (
        batch_df.groupBy("k")
        .agg(
            F.max(F.col("op").isin("D", "U").cast("int")).alias("_rem")
        )
        .limit(_REPLACE_KEY_CAP + 1)
        .collect()
    )
    if len(rows) > _REPLACE_KEY_CAP:
        return rows, None
    return rows, [r["k"] for r in rows if r["_rem"]]


def _compact_state(spark: SparkSession, path: str) -> None:
    """OPTIMIZE for a marker-bearing snapshot state table: folds the
    accumulated slice files and deletion vectors like
    ``snapshots.compact`` AND collapses the watermark marker rows.
    Every applied scoped commit appends one NULL-key marker row that
    no scope ever tombstones, so without this fold a long-running
    stream's state table grows by one marker row per batch forever
    (``max(_last_batch)`` stays exact either way — this bounds state
    size, it does not fix a wrong answer). Only the max-batch marker
    survives; data rows keep their stamps, so the watermark is
    unchanged. ONE rewrite does both jobs — the same O(state) pass a
    plain compact already pays at this cadence. Published under
    op="MAINTENANCE", not "OPTIMIZE": dropping marker rows IS a row
    change, and OPTIMIZE is the one label the stream sources trust to
    mean bytes-only (when no markers exist, the plain ``compact``
    below keeps its honest OPTIMIZE label)."""
    snap = S.load_snapshot(path)
    cur = S.read(spark, path)
    key0 = cur.columns[0]  # every state/fact schema leads with its key
    mb = (
        cur.filter(F.col(key0).isNull())
        .agg(F.max("_last_batch"))
        .first()[0]
    )
    if mb is None:
        S.compact(spark, path)
        return
    kept = cur.filter(
        F.col(key0).isNotNull() | (F.col("_last_batch") == F.lit(mb))
    )
    inv = {p: l for l, p in (snap.column_mapping or {}).items()}
    S.commit(
        spark,
        kept.hint("rebalance"),
        path,
        mode="overwrite",
        stats_for=[inv.get(c, c) for c in snap.stats_cols or []] or None,
        bloom_for=[inv.get(c, c) for c in snap.bloom_cols or []] or None,
        # NOT op="OPTIMIZE": this rewrite DROPS rows (the stale marker
        # rows), and the stream sources skip OPTIMIZE unconditionally
        # as "bytes only, dataChange=false" — labeling a row-changing
        # commit OPTIMIZE would make a consumer tailing/change-feeding
        # this state table silently miss it. Under MAINTENANCE the
        # sources classify it structurally (a change commit: refuse,
        # skip_change_commits, or coarse delete+insert via the CDF).
        op="MAINTENANCE",
    )


def _start(
    reader: DataFrame, process_batch, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    writer = (
        reader.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _batch_keys(batch: DataFrame) -> DataFrame:
    return batch.select("k").distinct()


@dataclass(frozen=True)
class _TwinSpec:
    """What one keyed-state twin adds to ``_keyed_twin`` (the fields
    are described in the module docstring). Keys are always column
    ``k``; ``touched`` returns a frame whose first column is the key."""

    name: str
    state_schema: StructType
    advance: Callable[[DataFrame, DataFrame, DataFrame | None], DataFrame]
    feed_schema: StructType = CHANGE_STREAM_SCHEMA
    touched: Callable[[DataFrame], DataFrame] = _batch_keys
    build: Callable[[DataFrame], DataFrame] | None = None
    counted: bool = False


def _keyed_twin(
    spark: SparkSession,
    spec: _TwinSpec,
    src,
    state_path: str,
    checkpoint_dir: str,
    available_now: bool,
    compact_every: int | None,
    fact_path: str | None = None,
    on_batch: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Start the exactly-once maintenance stream of one keyed-state
    twin (the skeleton in the module docstring). ``fact_path`` is the
    fact mirror of a twin with ``spec.build``; ``on_batch(batch_id,
    n_changes)`` is called after each applied batch of a ``counted``
    twin. Within ``_REPLACE_KEY_CAP`` touched keys the runner's own
    Spark actions are one key collect per batch (every batch of a
    mirror twin, where it also scopes the mirror; the scoped path of
    the others, where agg also reads its change count from it) and
    agg's batch count on the creating path; everything else is the
    twin's commits."""
    app = _app_id(checkpoint_dir)
    cols = [
        f.name for f in spec.state_schema.fields if f.name not in _WM_STATS
    ]

    def advance_state(batch: DataFrame, batch_id: int, profile) -> None:
        state, last, stored_app = _table_state(
            spark, state_path, spec.state_schema, cols
        )
        skip, rebuild = _guard(batch_id, last, stored_app, app)
        if skip:
            return
        fact_now = (
            read_maintained_fact(spark, fact_path) if fact_path else None
        )
        n_changes = None
        if last is None or rebuild:
            # table creation / derivation rebuild: full state, once
            touched = keys = None
            slice_ = state.limit(0)
            if spec.counted:
                n_changes = batch.count()
        else:
            # O(batch): only the touched keys' slice is replaced; every
            # other key's files carry by reference
            touched = spec.touched(batch)
            slice_, keys, rows = _scoped_slice(
                spark, state, state_path, cols, touched, "k", rows=profile
            )
            if spec.counted:
                n_changes = (
                    sum(r["_n"] for r in rows)
                    if keys is not None
                    else batch.count()
                )
        if touched is None and spec.build is not None:
            nxt = spec.build(fact_now)
        elif n_changes == 0:
            nxt = slice_  # empty batch: nothing to advance
        else:
            nxt = spec.advance(slice_, batch, fact_now)
        _commit_with_marker(
            spark, nxt, state_path, batch_id, app, spec.state_schema,
            scope_keys=touched, key_cols=["k"], scope_key_list=keys,
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            if fact_path is not None:
                _compact_state(spark, fact_path)
            _compact_state(spark, state_path)
        if on_batch is not None:
            on_batch(batch_id, n_changes)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = _null_guarded_key(batch_df, "k", spec.name)
        if fact_path is None:
            advance_state(batch, batch_id, None)
            return
        # fact first, then state: a crash between the two replays into
        # "fact skips, state applies" (see the MIN/MAX section below)
        batch = batch.cache()
        try:
            rows, rem_keys = _batch_key_profile(batch)
            _advance_fact(
                spark, batch, fact_path, batch_id, app, rem_keys=rem_keys
            )
            advance_state(batch, batch_id, rows)
        finally:
            batch.unpersist()

    return _start(
        _change_reader(spark, src, spec.feed_schema),
        process_batch, checkpoint_dir, available_now,
    )


def read_maintained_agg(spark: SparkSession, table_path: str) -> DataFrame:
    """The queryable view of the maintained aggregate (marker row and
    bookkeeping columns stripped)."""
    return (
        S.read(spark, table_path)
        .filter(F.col("cnt") > 0)
        .select("k", "cnt", "sum_scaled")
    )


def stream_agg_maintenance(
    spark: SparkSession,
    raw_dir: str,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    on_batch: Callable[[int, int], None] | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Maintain the (k → cnt, sum) aggregate from change-row CSVs
    (``k, op ∈ {I,U,D}, old_val, new_val``) arriving in ``raw_dir``.
    Per-batch commits are O(batch) — the batch's groups land as a
    scoped replace, untouched groups carry by reference; pass
    ``compact_every=N`` to fold the accumulated slice files and
    tombstones every N applied batches.

    ``on_batch(batch_id, n_changes)`` is the observability hook (called
    only for applied, non-replayed batches).
    """
    spec = _TwinSpec(
        "stream_agg_maintenance",
        _STATE_SCHEMA,
        advance=lambda sl, batch, _: INC.apply_agg_deltas(
            sl, INC.agg_deltas(batch, ["k"]), ["k"]
        ),
        touched=lambda batch: batch.groupBy("k").agg(
            F.count(F.lit(1)).alias("_n")
        ),
        counted=True,
    )
    return _keyed_twin(
        spark, spec, raw_dir, table_path, checkpoint_dir, available_now,
        compact_every, on_batch=on_batch,
    )


MIXED_CHANGE_SCHEMA = StructType(
    [
        StructField("seq", LongType(), False),  # monotonic change order
        StructField("kind", StringType(), False),  # DU | FI | FD
        StructField("fact_key", LongType(), True),
        StructField("dim_key", LongType(), True),
        StructField("val", DoubleType(), True),
        StructField("attr", StringType(), True),
    ]
)

_DIM_SCHEMA = StructType(
    [
        StructField("dim_key", LongType(), True),
        StructField("attr", StringType(), True),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)

_VIEW_SCHEMA = StructType(
    [
        StructField("fact_key", LongType(), True),
        StructField("dim_key", LongType(), True),
        StructField("val", DoubleType(), True),
        StructField("attr", StringType(), True),
        # False → the fact arrived before its dimension row; the row is
        # RETAINED (null attrs) and patched when the DU lands, instead
        # of being dropped by the inner join and lost forever. Readers
        # filter on it to get inner-join semantics.
        StructField("_matched", BooleanType(), True),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)


def read_maintained_view(spark, view_path: str) -> DataFrame:
    """Inner-join view of the maintained state: pre-dimension facts
    (``_matched`` False) are held in state but excluded here, exactly
    as a recompute's fact⋈dim inner join would exclude them. Tables
    from before the ``_matched`` column read as all-matched."""
    cur = S.read(spark, view_path).filter(F.col("fact_key").isNotNull())
    if "_matched" in cur.columns:
        cur = cur.filter(F.coalesce(F.col("_matched"), F.lit(True)))
    return cur.select("fact_key", "dim_key", "val", "attr")


def read_maintained_dim(spark, dim_path: str) -> DataFrame:
    return (
        S.read(spark, dim_path)
        .filter(F.col("dim_key").isNotNull())
        .select("dim_key", "attr")
    )


def stream_join_view_maintenance(
    spark: SparkSession,
    raw_dir: str,
    dim_path: str,
    view_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Streaming IVM for a fact⋈dim enrichment view: one change feed
    (``seq`` monotonic change order; ``kind`` ∈ DU dim-upsert /
    FI fact-upsert / FD fact-delete) keeps BOTH the dimension table and
    the enriched view current, exactly-once. Within a micro-batch,
    conflicting changes for a key collapse to the latest by ``seq``
    (batch boundaries are delivery artifacts, so semantics cannot
    depend on them).

    Per batch, dimension first: DU rows upsert the dim snapshot table.
    Then the view advances through the BATCH operator
    (``operators/incremental.maintain_join_view`` — one implementation
    of the IVM delta rules, shared with the oracle-checked catalog
    query): DU rows patch enriched rows key-wise, FD rows anti-join,
    FI rows join the just-updated dimension.

    Each table carries its own (app id, batch id) watermark inside its
    atomic commit, so a crash BETWEEN the two commits replays into
    "dim skips, view applies" — the pair reconverges with no
    double-application. Commit order (dim before view) guarantees the
    view's new facts always see the batch's own dimension updates; a
    lost/relocated checkpoint (new app id) rebuilds both tables from
    the re-delivered input instead of silently skipping it.

    Not a ``_keyed_twin`` spec, deliberately: it maintains TWO tables
    keyed differently (``dim_key``, ``fact_key``), consumes a
    multi-kind ``DU/FI/FD`` feed whose kinds address different tables,
    and must commit the dimension before the view — the runner's one
    keyed state per batch fits none of the three.
    """
    app = _app_id(checkpoint_dir)
    reader = _change_reader(spark, raw_dir, MIXED_CHANGE_SCHEMA)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        batch_df = batch_df.cache()
        try:
            _process(batch_df, batch_id, Window)
        finally:
            batch_df.unpersist()

    def _process(batch_df: DataFrame, batch_id: int, Window) -> None:
        _reject_null_keys(
            batch_df,
            (
                (F.col("kind") == "DU") & F.col("dim_key").isNull()
            )
            | (
                F.col("kind").isin("FI", "FD")
                & F.col("fact_key").isNull()
            ),
            "stream_join_view_maintenance",
        )
        # a micro-batch may hold SEVERAL changes for the same key (batch
        # boundaries are delivery artifacts, not transaction boundaries)
        # — collapse to the latest change per key by the feed's monotonic
        # seq, the same last-writer-wins contract as merge.apply_changes
        du = (
            batch_df.filter(F.col("kind") == "DU")
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("dim_key").orderBy(
                        F.col("seq").desc()
                    )
                ),
            )
            .filter(F.col("_rk") == 1)
            .select("dim_key", "attr")
        )
        fact_latest = (
            batch_df.filter(F.col("kind").isin("FI", "FD"))
            .withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("fact_key").orderBy(
                        F.col("seq").desc()
                    )
                ),
            )
            .filter(F.col("_rk") == 1)
        )
        fi = fact_latest.filter(F.col("kind") == "FI").select(
            "fact_key", "dim_key", "val"
        )
        # FI on an existing fact key is an UPSERT: retire the old image
        # alongside genuine deletes, then append the latest image
        fd = fact_latest.select("fact_key")

        dim, dim_last, dim_app = _table_state(
            spark, dim_path, _DIM_SCHEMA, ["dim_key", "attr"]
        )
        skip, rebuild = _guard(batch_id, dim_last, dim_app, app)
        if not skip:
            upd = du.withColumnRenamed("attr", "_new")
            if dim_last is None or rebuild:
                base = dim.limit(0) if rebuild else dim
                dim_next = base.join(
                    upd, "dim_key", "full_outer"
                ).select(
                    "dim_key",
                    F.coalesce(F.col("_new"), F.col("attr")).alias(
                        "attr"
                    ),
                )
                _commit_with_marker(
                    spark, dim_next, dim_path, batch_id, app, _DIM_SCHEMA
                )
            else:
                # O(batch): only the DU keys' rows change
                du_keys = du.select("dim_key").distinct()
                dim_cur, dk_list, _ = _scoped_slice(
                    spark, dim, dim_path, ["dim_key", "attr"],
                    du_keys, "dim_key",
                )
                dim_slice = dim_cur.join(
                    upd, "dim_key", "full_outer"
                ).select(
                    "dim_key",
                    F.coalesce(F.col("_new"), F.col("attr")).alias(
                        "attr"
                    ),
                )
                _commit_with_marker(
                    spark, dim_slice, dim_path, batch_id, app, _DIM_SCHEMA,
                    scope_keys=du_keys, key_cols=["dim_key"],
                    scope_key_list=dk_list,
                )

        view, view_last, view_app = _table_state(
            spark, view_path, _VIEW_SCHEMA,
            ["fact_key", "dim_key", "val", "attr", "_matched"],
            # legacy tables (pre-_matched) only ever stored matched rows
            defaults={"_matched": F.lit(True)},
        )
        skip, rebuild = _guard(batch_id, view_last, view_app, app)
        if not skip:
            view_cols = ["fact_key", "dim_key", "val", "attr", "_matched"]
            mjv = dict(
                fact_key="fact_key",
                dim_key="dim_key",
                dim_cols=["attr"],
                dim_updates=du,
                fact_inserts=fi,
                fact_delete_keys=fd,
                dim_current=read_maintained_dim(spark, dim_path),
                # retain facts whose dim row hasn't arrived yet: the DU
                # that lands in a LATER batch patches them; an inner
                # join here would drop them forever (recompute diverge)
                keep_unmatched=True,
            )
            if view_last is None or rebuild:
                base = view.limit(0) if rebuild else view
                out = INC.maintain_join_view(base, **mjv).select(
                    *view_cols
                )
                _commit_with_marker(
                    spark, out, view_path, batch_id, app, _VIEW_SCHEMA
                )
            else:
                # O(batch) on the view's PK (fact_key): affected rows
                # are the batch's fact upserts/deletes PLUS rows whose
                # dimension a DU patches — found by one shuffle-free
                # semi-scan of the view, never a view rewrite
                affected = (
                    fi.select("fact_key")
                    .unionByName(fd.select("fact_key"))
                    .unionByName(
                        view.join(
                            du.select("dim_key").distinct(),
                            ["dim_key"], "left_semi",
                        ).select("fact_key")
                    )
                    .distinct()
                )
                # ONE collect serves both the slice predicate and the
                # commit scope (``view`` keeps the _table_state frame —
                # its legacy ``_matched`` default must survive, so the
                # slice filters in-plan rather than via read_where)
                aff_rows = affected.limit(
                    _REPLACE_KEY_CAP + 1
                ).collect()
                if len(aff_rows) <= _REPLACE_KEY_CAP:
                    aff_keys = [r[0] for r in aff_rows]
                    view_slice = view.filter(
                        U.in_list("fact_key", aff_keys)
                    )
                else:
                    aff_keys = None
                    view_slice = view.join(
                        affected, ["fact_key"], "left_semi"
                    )
                out = INC.maintain_join_view(
                    view_slice, **mjv,
                ).select(*view_cols)
                _commit_with_marker(
                    spark, out, view_path, batch_id, app, _VIEW_SCHEMA,
                    scope_keys=affected, key_cols=["fact_key"],
                    scope_key_list=aff_keys,
                )
        if compact_every and (batch_id + 1) % compact_every == 0:
            _compact_state(spark, dim_path)
            _compact_state(spark, view_path)

    return _start(reader, process_batch, checkpoint_dir, available_now)


# ---------------------------------------------------------------------------
# Streaming twins for the NON-self-maintainable aggregates: MIN/MAX and
# TOP-K. Unlike COUNT/SUM, a delete that removes an extremum needs rows
# the aggregate doesn't hold, so each twin maintains TWO snapshot
# tables, both watermarked with the (app id, batch id) pattern:
#
#   * a FACT MIRROR — the live (k, val) multiset the change feed
#     describes. Insert-only batches append; batches with removals
#     multiset-subtract (occurrence-paired anti-join) and republish.
#     This is the committed table the batch operators' key-scoped
#     rescans read — rescan input is real table state, not stream
#     state, so the checkpoint stays tiny and a restart resumes from
#     the table head.
#   * the maintained STATE (min/max envelope, or the top-(k+buffer)
#     leaderboard with its incomplete flags) — advanced per batch by
#     operators/incremental.maintain_min_max / maintain_topk, i.e.
#     O(batch) plus rescans scoped to endpoint-touching / squeezed
#     keys only.
#
# Commit order is fact first, then state: a crash between the two
# replays into "fact skips, state applies", and the state's rescan
# reads the already-advanced fact table — exactly the fact_final the
# batch operator's contract requires. A lost checkpoint (new app id)
# rebuilds both tables from the re-delivered feed at batch 0.
# ---------------------------------------------------------------------------

_FACT_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("val", DoubleType(), True),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)

_MINMAX_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("min_scaled", LongType(), True),
        StructField("max_scaled", LongType(), True),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)

_TOPK_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("val_scaled", LongType(), True),
        StructField("incomplete", BooleanType(), True),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)


def read_maintained_fact(spark: SparkSession, fact_path: str) -> DataFrame:
    return (
        S.read(spark, fact_path)
        .filter(F.col("k").isNotNull())
        .select("k", "val")
    )


def read_maintained_minmax(spark: SparkSession, path: str) -> DataFrame:
    return (
        S.read(spark, path)
        .filter(F.col("k").isNotNull())
        .select("k", "min_scaled", "max_scaled")
    )


def read_maintained_topk(
    spark: SparkSession, path: str, k: int
) -> DataFrame:
    """The provable top-k leaderboard view (k, pos, val_scaled)."""
    state = (
        S.read(spark, path)
        .filter(F.col("k").isNotNull())
        .select("k", "val_scaled", "incomplete")
    )
    return INC.topk_rows(state, ["k"], k)


# watermark columns stamped on every fact-mirror commit; their per-file
# stats make the replay probe metadata-only, and the Bloom filter on k
# lets the replace-scope scan skip files whose key sets can't intersect
# the batch's removal keys
_WM_STATS = ["_last_batch", "_app_id"]
_REPLACE_KEY_CAP = 2048  # max removal keys expressed as a literal IN-list


def _fact_watermark(spark: SparkSession, fact_path: str):
    """(last_batch, app) replay watermark of the fact mirror — from the
    manifest's per-file stats when every file carries them (zero data
    I/O: the marker row travels in every commit and is never
    tombstoned, so the per-file max of ``_last_batch`` is exact even
    under deletion vectors), else a column-pruned scan (legacy tables
    written before the stats were stamped)."""
    try:
        last, app = _stats_watermark(fact_path, spark)
    except FileNotFoundError:
        return None, None
    if last is not None:
        return last, app
    _, last, aid = _table_state(
        spark, fact_path, _FACT_SCHEMA, ["k", "val"]
    )
    return last, aid


def _advance_fact(
    spark: SparkSession,
    batch_df: DataFrame,
    fact_path: str,
    batch_id: int,
    app: str,
    report: dict | None = None,
    rem_keys: list | None = None,
) -> None:
    """Advance the fact mirror by one change batch (idempotent via the
    table watermark), in O(batch) — never a full-mirror shuffle or
    rewrite:

    * insert-only batches APPEND a batch-sized file set; existing files
      are carried by reference.
    * batches with removals replace only the TOUCHED KEYS' slice: the
      live rows of the removal keys (a file-pruned ``read_where`` scan
      when the key set fits a literal IN-list, a broadcast semi-join
      otherwise) union the batch's adds, multiset-subtract the
      removals via an occurrence-paired NULL-SAFE anti-join (a NULL
      old/new value pairs with a NULL-valued fact row instead of
      ghosting forever), and land through
      ``snapshots.replace_where_commit`` — ONE atomic commit that
      tombstones the old slice (deletion vectors) and appends the new
      one. The pairing window shuffles the touched slice only.

    The replay watermark travels inside the same atomic commit (marker
    row + per-file stats), so exactly-once survives any crash point.
    Compaction (``compact_every`` on the stream twins) periodically
    folds the accumulated small files + tombstones — amortized layout
    maintenance, not per-batch work.
    """
    from pyspark.sql import Window

    last, aid = _fact_watermark(spark, fact_path)
    skip, rebuild = _guard(batch_id, last, aid, app)
    if skip:
        return
    # in-plan null-key guard (same contract as _null_guarded_key, and
    # the same relaxation: rows no path consumes are ignored). This
    # plus deriving removal presence from the rem_keys collect below
    # replaces the former dedicated shape-agg action — one fewer full
    # driver-job round-trip per micro-batch (r12/r14 profile: the
    # per-job floor, not data volume, is what a micro-batch pays here)
    batch_df = _null_guarded_key(
        batch_df, "k", "fact-mirror maintenance"
    )
    adds = batch_df.filter(F.col("op").isin("I", "U")).select(
        "k", F.col("new_val").alias("val")
    )
    rems = batch_df.filter(F.col("op").isin("D", "U")).select(
        "k", F.col("old_val").alias("val")
    )

    def pair_subtract(pool: DataFrame, removals: DataFrame) -> DataFrame:
        occ = Window.partitionBy("k", "val").orderBy(F.lit(1))
        return INC._ns_join(
            pool.withColumn("occ", F.row_number().over(occ)),
            removals.withColumn("occ", F.row_number().over(occ)),
            ["k", "val", "occ"],
            "left_anti",
        ).select("k", "val")

    def stamped(df: DataFrame) -> DataFrame:
        return _stamped(spark, df, _FACT_SCHEMA, batch_id, app)

    if last is None or rebuild:
        # fresh table / new derivation: the batch IS the table
        S.commit(
            spark, stamped(pair_subtract(adds, rems)), fact_path,
            mode="overwrite", stats_for=_WM_STATS, bloom_for=["k"],
        )
        return
    # ONE action answers removal presence AND yields the scope keys
    # (empty list = pure-append batch); the in-plan null guard above
    # fires here for NULL-keyed D/U rows, in the append write for
    # NULL-keyed I rows — always before any manifest publish. Callers
    # that already profiled the batch (_batch_key_profile: one shared
    # action for mirror AND state scopes) pass ``rem_keys`` in and
    # skip this collect; None means unprofiled or past the cap.
    if rem_keys is None:
        rem_keys = [
            r["k"]
            for r in rems.select("k")
            .distinct()
            .limit(_REPLACE_KEY_CAP + 1)
            .collect()
        ]
    if not rem_keys:
        S.commit(
            spark, stamped(adds), fact_path,
            mode="append", stats_for=_WM_STATS, bloom_for=["k"],
        )
        return
    if len(rem_keys) <= _REPLACE_KEY_CAP:
        # literal IN-list scope: the tombstone scan inside
        # replace_where_commit prunes files via per-file k-blooms/stats
        pred = [("k", "in", rem_keys)]
        slice_old = (
            S.read_where(spark, fact_path, pred)
            .filter(F.col("k").isNotNull())
            .select("k", "val")
        )
        # one parsed IN expression (operators/util.in_list): isin would
        # pay a py4j round-trip per key, ~0.4 s per use at the key cap
        touched = U.in_list("k", rem_keys)
        pool = slice_old.unionByName(adds.filter(touched))
        replacement = pair_subtract(pool, rems).unionByName(
            adds.filter(~touched)
        )
        S.replace_where_commit(
            spark, stamped(replacement), fact_path, predicates=pred,
            stats_for=_WM_STATS, bloom_for=["k"], report=report,
        )
    else:
        # scope too wide for a literal list: equi-join the key set
        # (batch-sized, AQE broadcasts it) — still slice-scoped work
        keys_df = rems.select("k").distinct()
        live = read_maintained_fact(spark, fact_path)
        pool = live.join(keys_df, "k", "left_semi").unionByName(
            adds.join(keys_df, "k", "left_semi")
        )
        replacement = pair_subtract(pool, rems).unionByName(
            adds.join(keys_df, "k", "left_anti")
        )
        S.replace_where_commit(
            spark, stamped(replacement), fact_path,
            keys=keys_df, key_cols=["k"],
            stats_for=_WM_STATS, bloom_for=["k"], report=report,
        )


def stream_minmax_maintenance(
    spark: SparkSession,
    raw_dir: str,
    fact_path: str,
    state_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    scale: int = 100,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Exactly-once streaming twin of
    ``operators/incremental.maintain_min_max``: per-key MIN/MAX kept
    current from change-row CSVs (``k, op ∈ {I,U,D}, old_val,
    new_val``), with endpoint-touching groups rescanned from the
    committed fact mirror only. Per-batch mirror work is O(batch)
    (append / keyed replace — see ``_advance_fact``); pass
    ``compact_every=N`` to fold the accumulated small files and
    deletion vectors every N applied batches (amortized layout
    maintenance — correctness never depends on it)."""
    fx = F.floor(F.col("val") * scale + F.lit(0.5)).cast("long")
    spec = _TwinSpec(
        "stream_minmax_maintenance",
        _MINMAX_SCHEMA,
        advance=lambda sl, batch, fact_now: INC.maintain_min_max(
            sl, batch, fact_now, ["k"], "val", scale=scale
        ),
        build=lambda fact_now: fact_now.groupBy("k")
        .agg(F.min(fx).alias("min_scaled"), F.max(fx).alias("max_scaled"))
        .filter(F.col("min_scaled").isNotNull()),
    )
    return _keyed_twin(
        spark, spec, raw_dir, state_path, checkpoint_dir, available_now,
        compact_every, fact_path=fact_path,
    )


def stream_topk_maintenance(
    spark: SparkSession,
    raw_dir: str,
    fact_path: str,
    state_path: str,
    checkpoint_dir: str,
    k: int,
    buffer: int = 2,
    available_now: bool = True,
    scale: int = 100,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Exactly-once streaming twin of
    ``operators/incremental.maintain_topk``: a continuously maintained
    per-key leaderboard. The stored top-(k+buffer) prefix absorbs the
    batch; only keys squeezed below a provable top-k rebuild, from the
    committed fact mirror, via a key semi-join. Mirror commits are
    O(batch); ``compact_every`` folds small files/DVs periodically
    (see ``stream_minmax_maintenance``)."""
    spec = _TwinSpec(
        "stream_topk_maintenance",
        _TOPK_SCHEMA,
        advance=lambda sl, batch, fact_now: INC.maintain_topk(
            sl, batch, fact_now, ["k"], "val", k, buffer, scale=scale
        ),
        build=lambda fact_now: INC.build_topk_state(
            fact_now, ["k"], "val", k, buffer, scale
        ),
    )
    return _keyed_twin(
        spark, spec, raw_dir, state_path, checkpoint_dir, available_now,
        compact_every, fact_path=fact_path,
    )


# insert-only (k, v) feed of the KMV and HLL twins
_KV_FEED_SCHEMA = StructType(
    [
        StructField("k", StringType(), False),
        StructField("v", StringType(), False),
    ]
)

_KMV_STATE_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("h", LongType(), True),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)


def read_maintained_kmv_estimate(
    spark: SparkSession, path: str, kmv_k: int = 64
) -> DataFrame:
    """(k, est_distinct) view of the maintained sketch state."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        sketches as SK,
    )

    state = (
        S.read(spark, path)
        .filter(F.col("k").isNotNull())
        .select(F.col("k"), "h")
    )
    return SK.kmv_estimate(state, ["k"], k=kmv_k)


def stream_kmv_maintenance(
    spark: SparkSession,
    raw_dir: str,
    state_path: str,
    checkpoint_dir: str,
    kmv_k: int = 64,
    available_now: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Exactly-once streaming COUNT(DISTINCT) maintenance via the KMV
    sketch (operators/sketches.py): per batch, sketch ONLY the batch
    and ``kmv_merge`` it into the stored state — O(batch) + a
    state-sized merge, never a rescan, and state is k hashes per group
    however many distinct values the stream has carried.

    Insert-only by design: KMV (like every distinct sketch without
    per-value counters) cannot unsee a value, so the feed schema is
    bare ``(k, v)`` rows — there is no op column to misread as delete
    support. Replays skip via the (app id, batch id) watermark; a lost
    checkpoint rebuilds from the re-delivered feed at batch 0."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        sketches as SK,
    )

    spec = _TwinSpec(
        "stream_kmv_maintenance",
        _KMV_STATE_SCHEMA,
        advance=lambda sl, batch, _: SK.kmv_merge(
            sl, SK.kmv_sketch(batch, ["k"], "v", k=kmv_k), ["k"], k=kmv_k
        ),
        feed_schema=_KV_FEED_SCHEMA,
    )
    return _keyed_twin(
        spark, spec, raw_dir, state_path, checkpoint_dir, available_now,
        compact_every,
    )


_HIST_STATE_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("bin", LongType(), True),
        StructField("cnt", LongType(), True),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)


def read_maintained_quantiles(
    spark: SparkSession,
    path: str,
    qs: list[float],
    bin_width: int,
    scale: int = 100,
) -> DataFrame:
    """(k, q, est) quantile view of the maintained histogram state."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        sketches as SK,
    )

    state = (
        S.read(spark, path)
        .filter(F.col("k").isNotNull())
        .select("k", "bin", "cnt")
    )
    return SK.hist_quantiles(state, ["k"], qs, bin_width, scale)


def stream_hist_maintenance(
    spark: SparkSession,
    raw_dir: str,
    state_path: str,
    checkpoint_dir: str,
    bin_width: int = 100,
    scale: int = 100,
    available_now: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Exactly-once streaming QUANTILE maintenance via the histogram
    sketch (operators/sketches.py hist_* family) over the standard
    change feed (``k, op ∈ {I,U,D}, old_val, new_val``): per batch,
    bin-count deltas from the batch alone merge into the stored
    histogram — O(batch) + a state-sized groupBy, rescans never.
    Unlike KMV this state absorbs DELETES (counters decrement), so the
    maintained quantiles track the live multiset exactly as a rebuild
    would."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        sketches as SK,
    )

    def deltas(batch: DataFrame) -> DataFrame:
        return SK.hist_deltas(batch, ["k"], bin_width, scale=scale)

    # a group whose batch rows all carried NULL images produces no delta
    # and stays out of scope
    spec = _TwinSpec(
        "stream_hist_maintenance",
        _HIST_STATE_SCHEMA,
        advance=lambda sl, batch, _: SK.hist_merge(sl, deltas(batch), ["k"]),
        touched=lambda batch: _batch_keys(deltas(batch)),
    )
    return _keyed_twin(
        spark, spec, raw_dir, state_path, checkpoint_dir, available_now,
        compact_every,
    )


_CM_STATE_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("row", IntegerType(), True),
        StructField("bucket", LongType(), True),
        StructField("cnt", LongType(), True),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)


def read_maintained_cm_estimate(
    spark: SparkSession,
    path: str,
    items: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """(k, col, est_cnt) point-query view of the maintained Count-Min
    state for a candidate item set (same probe as the batch operator:
    min over depth rows, missing counter = 0)."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        sketches as SK,
    )

    state = (
        S.read(spark, path)
        .filter(F.col("k").isNotNull())
        .select("k", "row", "bucket", "cnt")
    )
    return SK.cm_estimate(state, items, ["k"], col, depth=depth, width=width)


def stream_cm_maintenance(
    spark: SparkSession,
    raw_dir: str,
    state_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 256,
    available_now: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Exactly-once streaming FREQUENCY maintenance via the Count-Min
    sketch (operators/sketches.py cm_* family) over the standard change
    feed (``k, op ∈ {I,U,D}, old_val, new_val``): per batch, counter
    deltas from the batch alone merge into the stored sketch — the
    turnstile-stream update, O(batch) + a state-sized groupBy, rescans
    never. Like the histogram (and unlike KMV) the state absorbs
    DELETES: counters decrement and emptied counters drop, so the
    maintained estimates track the live multiset exactly as a rebuild
    would. State is depth·width counters per group at most, however
    many distinct items the stream has carried."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        sketches as SK,
    )

    def deltas(batch: DataFrame) -> DataFrame:
        return SK.cm_deltas(batch, ["k"], depth=depth, width=width)

    spec = _TwinSpec(
        "stream_cm_maintenance",
        _CM_STATE_SCHEMA,
        advance=lambda sl, batch, _: SK.cm_merge(sl, deltas(batch), ["k"]),
        touched=lambda batch: _batch_keys(deltas(batch)),
    )
    return _keyed_twin(
        spark, spec, raw_dir, state_path, checkpoint_dir, available_now,
        compact_every,
    )


_HLL_STATE_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("reg", LongType(), True),
        StructField("m", IntegerType(), True),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)


def read_maintained_hll_estimate(
    spark: SparkSession, path: str, p: int = 6
) -> DataFrame:
    """(k, present_regs, est_distinct) view of the maintained HLL
    register state."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        sketches as SK,
    )

    state = (
        S.read(spark, path)
        .filter(F.col("k").isNotNull())
        .select("k", "reg", "m")
    )
    return SK.hll_estimate(state, ["k"], p=p)


def stream_hll_maintenance(
    spark: SparkSession,
    raw_dir: str,
    state_path: str,
    checkpoint_dir: str,
    p: int = 6,
    available_now: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Exactly-once streaming COUNT(DISTINCT) maintenance via the HLL
    register sketch (operators/sketches.py hll_*): per batch, sketch
    ONLY the batch and register-wise-max it into the stored state —
    O(batch) + a state-sized merge bounded at 2^p rows per group
    however many distinct values the stream has carried.

    Register max is IDEMPOTENT, which makes this the most
    delivery-tolerant twin of the family: even if the replay watermark
    missed and a batch merged twice, the state would be unchanged (the
    guard still skips replays — it keeps the commit count O(new
    batches), not correctness). Insert-only like KMV: a register
    cannot unsee a value, so the feed schema is bare ``(k, v)``."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        sketches as SK,
    )

    spec = _TwinSpec(
        "stream_hll_maintenance",
        _HLL_STATE_SCHEMA,
        advance=lambda sl, batch, _: SK.hll_merge(
            sl, SK.hll_sketch(batch, ["k"], "v", p=p), ["k"]
        ),
        feed_schema=_KV_FEED_SCHEMA,
    )
    return _keyed_twin(
        spark, spec, raw_dir, state_path, checkpoint_dir, available_now,
        compact_every,
    )


_EWMA_FEED_SCHEMA = StructType(
    [
        StructField("k", StringType(), False),
        StructField("t", LongType(), False),
        StructField("x", LongType(), False),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("k", StringType(), True),
        StructField("t", LongType(), True),
        StructField("ewma", LongType(), True),
        StructField("_last_batch", LongType(), True),
        StructField("_app_id", StringType(), True),
    ]
)


def read_maintained_ewma(spark: SparkSession, path: str) -> DataFrame:
    """(k, t, ewma) — each key's latest observation time and smoothed
    value."""
    return (
        S.read(spark, path)
        .filter(F.col("k").isNotNull())
        .select("k", "t", "ewma")
    )


def stream_ewma_maintenance(
    spark: SparkSession,
    raw_dir: str,
    state_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Exactly-once streaming EWMA maintenance (the twin of
    operators/timeseries.ewma_halving, same truncating-DIV alpha=1/2
    recursion): per batch, each key's new observations are walked IN
    ORDER seeded from the stored (t, ewma) state and only the touched
    keys' state rows move — O(batch) however long the history.

    EWMA is ORDER-SENSITIVE, which forces a stricter feed contract
    than the other twins: a batch observation at or before a key's
    stored high-water t is REJECTED loudly (retrofitting late data
    into a recurrence means a rescan — that is the batch operator's
    job), as are in-batch duplicate (k, t) pairs. Feed schema:
    ``(k, t, x)`` with integer t and x.

    Since r12 these feed-contract guards run INSIDE the applyInPandas
    state walk (no dedicated per-batch driver action), so violations
    surface as executor-side PythonException-wrapped errors, not a
    driver ``ValueError`` — callers must match on the message text,
    never the exception type (the tests assert with
    ``pytest.raises(Exception, match=...)``)."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators.timeseries import (
        _half,
    )

    out_schema = StructType(
        [
            StructField("k", StringType(), True),
            StructField("t", LongType(), True),
            StructField("ewma", LongType(), True),
        ]
    )

    def walk(pdf):
        # feed-contract guards live INSIDE the walk (r12): each
        # used to be its own driver action (take(1) per guard per
        # micro-batch); here they ride the state-commit job for
        # free and still fail the batch BEFORE the manifest
        # publish, so a bad batch never corrupts state.
        batch = pdf[pdf["_seed"] == 0]
        if batch[["k", "t", "v"]].isna().any().any():
            raise ValueError(
                "stream_ewma_maintenance: NULL key/t/x in change "
                "row — the streaming state tables reserve NULL "
                "keys for the watermark marker; NULL-keyed groups "
                "are supported by the batch operators only"
            )
        if batch["t"].duplicated().any():
            t_dup = int(batch["t"][batch["t"].duplicated()].iloc[0])
            raise ValueError(
                "stream_ewma_maintenance: duplicate (k, t) in "
                f"batch (k={batch['k'].iloc[0]!r}, t={t_dup}) — "
                "the recursion is order-ambiguous"
            )
        seed_rows = pdf[pdf["_seed"] == 1]
        if len(seed_rows) and len(batch):
            hw = int(seed_rows["t"].max())
            if int(batch["t"].min()) <= hw:
                raise ValueError(
                    "stream_ewma_maintenance: out-of-order "
                    f"observation (k={batch['k'].iloc[0]!r}, "
                    f"t={int(batch['t'].min())}) at or before the "
                    f"key's high-water t={hw} — late data needs "
                    "the batch operator's full rescan"
                )
        pdf = pdf.sort_values(["_seed", "t"], ascending=[False, True])
        prev = None
        for is_seed, v in zip(pdf["_seed"], pdf["v"]):
            v = int(v)
            if prev is None:
                prev = v  # seed ewma, or first-ever observation
            elif int(is_seed) == 0:
                prev = _half(v + prev)
        return pdf.iloc[-1:][["k"]].assign(
            t=int(pdf["t"].max()), ewma=prev
        )

    def advance(seed: DataFrame, batch: DataFrame, _) -> DataFrame:
        union = batch.select(
            "k", "t", F.col("x").alias("v"), F.lit(0).alias("_seed")
        ).unionByName(
            seed.select(
                "k", "t", F.col("ewma").alias("v"), F.lit(1).alias("_seed")
            )
        )
        return union.groupBy("k").applyInPandas(walk, out_schema)

    spec = _TwinSpec(
        "stream_ewma_maintenance",
        _EWMA_STATE_SCHEMA,
        advance=advance,
        feed_schema=_EWMA_FEED_SCHEMA,
    )
    return _keyed_twin(
        spark, spec, raw_dir, state_path, checkpoint_dir, available_now,
        compact_every,
    )
