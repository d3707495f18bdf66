"""Key-equality upsert (MERGE) into a partitioned parquet table.

Capability parity with the reference's Delta MERGE
(``product_etl.py:63-74``, ``orders_etl.py:65-74``, ``order_items_etl.py:
100-109``): ``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *``
keyed on the PK, with create-if-absent (S3/S4/S5 in SURVEY.md §2.1).

delta-spark is not available in this environment, so the upsert is
re-expressed as a native Spark plan with the same partition-touch profile
Delta MERGE has. ``scoped_upsert`` is the step both partitioned writers
(``merge_upsert`` here, ``snapshots.merge_commit``) share:

1. materialize the source batch once, then find the *affected partitions*
   — those the source writes into plus those holding a matched key — in
   one collect of per-partition counts (target rows and matched keys from
   a column-pruned target scan probed against the broadcast source keys,
   grouped together with the source's partition values, so NULL partition
   values group like any other). The same counts say which affected
   partitions end up empty (every row matched, none written back);
2. read the target through a literal, NULL-safe predicate on the
   affected partition values — the file index prunes to those
   directories at planning time — keep the rows whose PK is absent from
   the source (broadcast anti join — the source batch is the small side
   in an incremental load), and union the source rows;
3. ``merge_upsert`` writes with **dynamic partition overwrite** so
   untouched partitions' files are never rewritten — the moral
   equivalent of Delta rewriting only files containing matches — and
   deletes the emptied partitions' directories.

``merge_plan`` is the relational core both use for step 2 (anti join
plus union); the unpartitioned path runs it against the whole target, and
the catalog's checkable ``merge_upsert_sim`` query runs it as one plan.

Durability note: parquet overwrite is not ACID; a production deployment at
100 TB swaps this writer for Delta/Iceberg via the same interface (an
import-try picks Delta automatically when present). Semantics and plan shape
are identical.

Like Delta MERGE (which throws on duplicate source keys — SURVEY.md §7.3),
the source must be deduplicated by PK first; ``check_source_unique=True``
enforces it.
"""

from __future__ import annotations

import operator
import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import TableSpec

try:  # optional ACID path when delta-spark is installed
    from delta.tables import DeltaTable  # type: ignore

    _HAS_DELTA = True
except Exception:  # pragma: no cover - environment without delta
    DeltaTable = None
    _HAS_DELTA = False


def table_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe (parity with ``DeltaTable.isDeltaTable``, S5)."""
    if _HAS_DELTA and DeltaTable.isDeltaTable(spark, path):
        return True
    if not os.path.isdir(path):
        return False
    for root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") or f == "_SUCCESS" for f in files):
            return True
    return False


def merge_plan(source: DataFrame, target: DataFrame, spec: TableSpec) -> DataFrame:
    """The pure-relational core of the upsert: source ∪ (target ∖
    source-by-PK), in the spec's column order. Given a target already
    scoped to the affected partitions, these are the rows those partitions
    hold afterwards. Exposed separately so the correctness oracle can
    check it as a query (SQL: UNION ALL + NOT EXISTS)."""
    kept = target.join(F.broadcast(source.select(spec.primary_key)),
                       on=spec.primary_key, how="left_anti")
    cols = [f.name for f in spec.schema.fields]
    return source.select(*cols).unionByName(kept.select(*cols))


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


@dataclass(frozen=True)
class ScopedUpsert:
    """One partitioned upsert, planned by ``scoped_upsert``."""

    source: DataFrame  # the batch, materialized once
    target: DataFrame  # the target pruned to the affected partitions
    merged: DataFrame  # rows the affected partitions hold afterwards
    # affected partitions as hive-directory values (unescaped; NULL and
    # '' are _HIVE_NULL), and the subset left with no rows
    dirs: frozenset[tuple[str, ...]]
    emptied: frozenset[tuple[str, ...]]


def _any_of(terms: list[Column]) -> Column:
    """OR of ``terms`` as a balanced tree: Catalyst overflows the JVM
    stack analysing a left-deep chain of a few hundred terms."""
    if not terms:
        return F.lit(False)
    if len(terms) == 1:
        return terms[0]
    mid = len(terms) // 2
    return _any_of(terms[:mid]) | _any_of(terms[mid:])


def scoped_upsert(
    source: DataFrame, target: DataFrame, spec: TableSpec
) -> ScopedUpsert:
    """Plan an upsert into a partitioned target: run the source's plan
    once, collect the affected partitions once, and scope the rewrite's
    target read by a literal partition predicate the file index prunes
    with.

    Affected = partitions the source writes into ∪ partitions holding a
    matched key (a row whose partition value changed must have its old
    copy rewritten away — Delta's find-touched-files join). One grouped
    count over target and source rows yields both that set and which of
    its partitions end up empty (all target rows matched, no source row);
    grouping, unlike an equi join, keeps NULL partition values."""
    pk = spec.primary_key
    parts = list(spec.partition_by)
    types = [target.schema[p].dataType for p in parts]
    # lazy: the stats query's first job fills the checkpoint, so the
    # batch plan runs once without a job of its own
    source = source.localCheckpoint(eager=False)
    keys = F.broadcast(source.select(pk, F.lit(1).alias("_m")))
    rows = (
        target.select(*parts, pk)
        .join(keys, on=pk, how="left")
        .select(*parts, F.lit(1).alias("_t"), "_m")
        .unionByName(
            source.select(
                *[F.col(p).cast(t).alias(p) for p, t in zip(parts, types)],
                F.lit(0).alias("_t"),
                F.lit(None).cast("int").alias("_m"),
            )
        )
        .groupBy(*parts)
        .agg(
            F.sum("_t").alias("n_target"),
            F.count("_m").alias("n_matched"),
            F.count(F.when(F.col("_t") == 0, 1)).alias("n_source"),
        )
        .filter((F.col("n_matched") > 0) | (F.col("n_source") > 0))
        .select(
            *parts,
            *[F.col(p).cast("string").alias(f"_dir_{p}") for p in parts],
            (
                (F.col("n_source") == 0)
                & (F.col("n_target") == F.col("n_matched"))
            ).alias("_emptied"),
        )
        .collect()
    )
    n = len(parts)
    # a value whose directory is _HIVE_NULL (NULL, or a string '') reads
    # back as NULL, so the predicate must name it as NULL
    dirs = [tuple(d if d else _HIVE_NULL for d in r[n : 2 * n]) for r in rows]
    values = [
        tuple(None if d == _HIVE_NULL else v for v, d in zip(r[:n], dr))
        for r, dr in zip(rows, dirs)
    ]
    pred = _any_of(
        [
            reduce(
                operator.and_,
                (F.col(p).eqNullSafe(F.lit(x).cast(t))
                 for p, t, x in zip(parts, types, vals)),
            )
            for vals in values
        ]
    )
    filled = {d for d, r in zip(dirs, rows) if not r["_emptied"]}
    scoped = target.filter(pred)
    return ScopedUpsert(
        source=source,
        target=scoped,
        merged=merge_plan(source, scoped, spec),
        dirs=frozenset(dirs),
        emptied=frozenset(dirs) - filled,
    )


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    ts_col: str | None = None,
) -> DataFrame:
    """CDC apply (the Delta Live Tables ``apply_changes`` shape): a
    change feed with ``op ∈ {I, U, D}`` rows lands on the target in one
    relational plan — inserts/updates upsert, deletes drop, and when
    ``ts_col`` is given the batch first collapses to the LATEST change
    per key (last-writer-wins, deterministic (ts, op) tie-break), so an
    out-of-order feed containing U then D for one key applies only the
    later one.

    Plan: one window over the (small) change batch, one anti join to
    clear changed keys from the target, one union of surviving upserts —
    target scans once; at scale combine with partition-scoped merge
    (merge_commit) so only touched partitions rewrite."""
    from pyspark.sql import Window

    c = changes
    if ts_col is not None:
        w = Window.partitionBy(key).orderBy(
            F.col(ts_col).desc(), F.col(op_col).desc()
        )
        c = (
            c.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    changed_keys = F.broadcast(c.select(key))
    kept = target.join(changed_keys, key, "left_anti")
    cols = target.columns
    upserts = c.filter(F.col(op_col) != "D").select(*cols)
    return kept.unionByName(upserts)


def _cluster_for_write(df: DataFrame, partition_by) -> DataFrame:
    """Cluster rows by partition value before a partitioned write.

    Without clustering, every write task emits one file per partition value
    it happens to hold (tasks × values small files). A plain
    ``repartition(cols)`` fixes that but pins each hot value to exactly one
    task and one giant file — AQE's skew splitting does NOT apply to user
    repartitions (only to skew joins and rebalance nodes). The REBALANCE
    hint keeps the value-per-task clustering while letting
    ``OptimizeSkewInRebalancePartitions`` split a hot partition value
    across several tasks (several files for that value — the right
    tradeoff at scale)."""
    return df.hint("rebalance", *list(partition_by))


def _delete_path(spark: SparkSession, path: str) -> None:
    """Filesystem-agnostic recursive delete via the Hadoop FileSystem API
    (works for file://, s3a://, hdfs:// alike)."""
    jvm = spark._jvm  # type: ignore[attr-defined]
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[attr-defined]
    fs.delete(p, True)


def merge_upsert(
    spark: SparkSession,
    source: DataFrame,
    path: str,
    spec: TableSpec,
    check_source_unique: bool = True,
    evolve_schema: bool = False,
) -> None:
    """Upsert ``source`` into the table at ``path`` (create if absent).

    ``evolve_schema=True`` allows additive evolution (Delta's
    ``mergeSchema`` semantics for new columns): ``spec`` describes the NEW
    schema and existing target rows get null for columns they predate.
    Column removals/renames/type changes are rejected — those are
    migrations, not evolution.
    """
    cols = [f.name for f in spec.schema.fields]
    source = source.select(*cols)
    if check_source_unique:
        pk = spec.primary_key
        dup = (
            source.groupBy(pk).agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
        )
        if dup.limit(1).count() > 0:
            raise ValueError(
                f"merge source has duplicate {pk!r} keys; dedup before merge"
            )

    if _HAS_DELTA and DeltaTable.isDeltaTable(spark, path):
        (
            DeltaTable.forPath(spark, path)
            .alias("target")
            .merge(
                source.alias("source"),
                f"target.{spec.primary_key} = source.{spec.primary_key}",
            )
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return

    writer_fmt = "delta" if _HAS_DELTA else "parquet"
    if not table_exists(spark, path):
        if spec.partition_by:
            source = _cluster_for_write(source, spec.partition_by)
        w = source.write.format(writer_fmt).mode("overwrite")
        if spec.partition_by:
            w = w.partitionBy(*spec.partition_by)
        w.save(path)
        return

    target = spark.read.format(writer_fmt).load(path)
    missing_in_target = [c for c in cols if c not in target.columns]
    extra_in_target = [c for c in target.columns if c not in cols]
    if missing_in_target or extra_in_target:
        if not evolve_schema or extra_in_target:
            raise ValueError(
                f"schema mismatch at {path}: target lacks {missing_in_target}, "
                f"has extra {extra_in_target}; pass evolve_schema=True for "
                "additive evolution"
            )
        for c in missing_in_target:  # additive evolution: backfill nulls
            target = target.withColumn(
                c, F.lit(None).cast(spec.schema[c].dataType)
            )
    stale_dirs: list[str] = []
    if spec.partition_by:
        scope = scoped_upsert(source, target, spec)
        if not scope.dirs:
            return  # empty batch: no partition to rewrite
        merged = scope.merged
        # dynamic overwrite only replaces partitions *present* in `merged`;
        # an affected partition left with zero rows (its only row moved to a
        # new partition value) must be deleted explicitly or the stale copy
        # survives on disk
        utils = spark._jvm.org.apache.spark.sql.catalyst.catalog  # type: ignore[attr-defined]
        esc = utils.ExternalCatalogUtils.escapePathName
        stale_dirs = [
            path
            + "".join(f"/{esc(c)}={esc(v)}" for c, v in zip(spec.partition_by, vals))
            for vals in scope.emptied
        ]
    else:
        merged = merge_plan(source, target, spec)
    # The plan reads the same files the overwrite will replace: break the
    # lineage before writing. localCheckpoint materializes the merged rows
    # (only the affected partitions — small for incremental batches).
    merged = merged.localCheckpoint(eager=True)
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    except Exception:  # pragma: no cover
        pass
    if spec.partition_by:
        merged = _cluster_for_write(merged, spec.partition_by)
    w = merged.write.format(writer_fmt).mode("overwrite")
    if spec.partition_by:
        w = w.partitionBy(*spec.partition_by)
    w.save(path)
    for d in stale_dirs:
        _delete_path(spark, d)
