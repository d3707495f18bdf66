"""Driver-phase decomposition of one stream-twin micro-batch (guide §1).

Runs the minmax twin's batch body DIRECTLY (no streaming machinery) on
the same three bench batches, wrapping the snapshot-layer entry points
with wall-clock accumulators — so the ~6 s/batch wall splits into
advance_fact / table_state / state maintain+commit, and within commits
into data write, tombstone scan, footer stats, bloom build, manifest
publish. The streaming-machinery share is then (bench wall - sum here).

Usage: python scripts/probe_batch_phases.py
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.session import get_spark
from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
    snapshots as S,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.streaming import (
    aggmaint as AM,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import load_table

ACC: dict[str, list] = {}


def wrap(mod, name: str) -> None:
    fn = getattr(mod, name)

    @functools.wraps(fn)
    def timed(*a, **k):
        t0 = time.time()
        try:
            return fn(*a, **k)
        finally:
            ACC.setdefault(name, [0.0, 0])
            ACC[name][0] += time.time() - t0
            ACC[name][1] += 1

    setattr(mod, name, timed)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe-batch-phases")
    feed_rows = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 8 == 0)
        .select(
            (F.col("o_custkey") % 500).cast("string").alias("k"),
            F.col("o_totalprice").cast("double").alias("v"),
            F.col("o_orderkey").alias("ok"),
        )
        .collect()
    )

    def to_batch(rows):
        data = []
        for ln in rows:
            k, op, ov, nv = ln.split(",")
            data.append(
                (k, op, float(ov) if ov else None, float(nv) if nv else None)
            )
        return spark.createDataFrame(data, AM.CHANGE_STREAM_SCHEMA)

    b1 = [f"{r['k']},I,,{r['v']!r}" for r in feed_rows]
    b2 = [
        f"{r['k']},D,{r['v']!r}," for r in feed_rows if r["ok"] % 40 == 0
    ] + [
        f"{r['k']},I,,{r['v'] + 1000.0!r}"
        for r in feed_rows
        if r["ok"] % 56 == 0
    ]
    b3 = [
        f"{r['k']},U,{r['v']!r},{r['v'] / 2!r}"
        for r in feed_rows
        if r["ok"] % 48 == 8
    ]

    for nm in (
        "commit",
        "replace_where_commit",
        "collect_file_stats",
        "collect_file_blooms",
        "_dir_file_metrics",
        "_dv_dead_counts",
        "_try_publish_manifest",
        "load_snapshot",
        "read",
        "read_where",
    ):
        wrap(S, nm)
    for nm in ("_advance_fact", "_table_state", "_fact_watermark"):
        wrap(AM, nm)

    work = tempfile.mkdtemp(prefix="probe_phases_")
    try:
        fp, sp = os.path.join(work, "fact"), os.path.join(work, "state")
        app = "probeapp"
        # warmup: exercise the write/commit machinery once so batch 0
        # is not charged for JIT/classloading
        wdir = os.path.join(work, "warm")
        S.commit(spark, to_batch(b2), wdir, stats_for=["k"],
                 bloom_for=["k"])
        S.replace_where_commit(
            spark, to_batch(b3), wdir,
            predicates=[("k", "in", ["1", "2"])],
        )
        ACC.clear()
        for bi, rows in enumerate([b1, b2, b3]):
            bdf = to_batch(rows).cache()
            snap_before = {k: list(v) for k, v in ACC.items()}
            t0 = time.time()
            AM._advance_fact(spark, bdf, fp, bi, app)
            t1 = time.time()
            state, last, aid = AM._table_state(
                spark, sp, AM._MINMAX_SCHEMA,
                ["k", "min_scaled", "max_scaled"],
            )
            fact_now = AM.read_maintained_fact(spark, fp)
            fx = F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")
            t2 = time.time()
            if last is None:
                nxt = (
                    fact_now.groupBy("k")
                    .agg(
                        F.min(fx).alias("min_scaled"),
                        F.max(fx).alias("max_scaled"),
                    )
                    .filter(F.col("min_scaled").isNotNull())
                )
                AM._commit_with_marker(
                    spark, nxt, sp, bi, app, AM._MINMAX_SCHEMA,
                )
            else:
                from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
                    incremental as INC,
                )

                touched = bdf.select("k").distinct()
                nxt = INC.maintain_min_max(
                    state.join(touched, ["k"], "left_semi"),
                    bdf, fact_now, ["k"], "val", scale=100,
                )
                AM._commit_with_marker(
                    spark, nxt, sp, bi, app, AM._MINMAX_SCHEMA,
                    scope_keys=touched, key_cols=["k"],
                )
            t3 = time.time()
            bdf.unpersist()
            print(f"batch {bi}: total {t3 - t0:.2f}s  "
                  f"advance_fact {t1 - t0:.2f}s  table_state+plan "
                  f"{t2 - t1:.2f}s  state maintain+commit {t3 - t2:.2f}s")
            for k in sorted(ACC):
                tb, cb = snap_before.get(k, [0.0, 0])
                dt, dc = ACC[k][0] - tb, ACC[k][1] - cb
                if dc:
                    print(f"    {dt:6.2f}s x{dc:<3d} {k}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
