"""End-to-end training-data curation job: raw documents → packed,
deduplicated, decontaminated training sequences in a snapshot table.

This is the runnable composition of the catalog's curation operators —
the job a data team schedules, where ``plans/catalog.q_corpus_curation``
is the read-only stats view of the same pipeline. Stages:

1. score: quality heuristic + language ID (pure column expressions)
2. gate: quality/length thresholds
3. exact dedup: md5-fingerprint keeper (min doc_id per content hash)
4. near dedup: MinHash-LSH candidates, exact-Jaccard verified →
   connected components → keep each cluster's canonical (minimum) doc
5. decontaminate: drop docs whose distinct n-gram overlap with the
   held-out eval set exceeds a threshold
6. pack: concat-and-split placement into fixed token windows per shard
7. publish: atomic snapshot commit (version per run, time travel across
   curation runs)

Scale notes: stages 1-3 and 5-6 are one scan + one shuffle each (the
keeper window shuffles on the 32-byte fingerprint; packing shuffles on
the shard key); stage 4 is the banded LSH self-join (Σ bucket², never
all-pairs) plus a diameter-bounded label-propagation loop. Stage counts
ride on ONE cached pass of the scored frame — no per-stage re-scans.

Reference lineage: the batch ETL shape (validate → dedup → merge →
register) is `src/glue_scripts/orders_etl.py:39-83`; this job is the
same envelope re-targeted at corpus curation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.functions import (
    text as T,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    contamination as CON,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    graph as G,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    packing as PK,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    textdedup as TD,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.sources import (
    snapshots as S,
)


@dataclass
class CurationResult:
    n_input: int
    n_gated_out: int       # failed quality/length gate
    n_exact_dups: int      # non-keeper exact copies
    n_near_dups: int       # non-canonical near-dup cluster members
    n_contaminated: int    # eval-overlap above threshold
    n_curated: int         # documents surviving all gates
    n_packs: int           # fixed-size training windows produced
    version: int           # snapshot version published


def run_curation_job(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    *,
    ctx_tokens: int = 64,
    quality_min: float = 0.3,
    min_chars: int = 100,
    eval_docs: DataFrame | None = None,
    contamination_max: float = 0.2,
    contamination_ngram: int = 3,
    minhash_k: int = 8,
    shingle_n: int = 3,
    jaccard_min: float = 0.5,
) -> CurationResult:
    """Run the curation pipeline over ``docs`` (`doc_id, text, lang,
    source, n_chars` — the documents-table shape) and publish packed
    sequences to the snapshot table at ``out_path``."""
    scored = docs.select(
        "doc_id",
        "text",
        "source",
        "n_chars",
        T.quality_score(F.col("text")).alias("quality"),
        T.fingerprint(F.col("text")).alias("fp"),
    ).withColumn(
        "gate_ok",
        (F.col("quality") >= quality_min) & (F.col("n_chars") >= min_chars),
    )
    w = Window.partitionBy("fp")
    flagged = scored.withColumn(
        "is_keeper",
        F.col("gate_ok")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("gate_ok"), F.col("doc_id"))).over(w)
        ),
    ).cache()

    survivors = flagged.filter(F.col("is_keeper"))

    # near-dup resolution on the exact-deduped survivors only (identical
    # content is already collapsed, so LSH buckets stay small). LSH
    # candidates are verified with exact Jaccard before clustering —
    # band collisions must not delete unique documents. The per-doc
    # shingle ARRAY frame is built once and cached (r14: the unexploded
    # substrate — signatures and verification sets are per-row array
    # reductions over it, no explode/groupBy passes; see
    # operators/textdedup.shingle_arrays), and uncached each consumer
    # would re-tokenize the corpus text (the dominant pass at scale).
    arrays = TD.shingle_arrays(
        survivors, "doc_id", "text", n=shingle_n
    ).persist()
    pairs = TD.minhash_dedup_verified(
        survivors,
        "doc_id",
        "text",
        n=shingle_n,
        k=minhash_k,
        threshold=jaccard_min,
        arrays=arrays,
    ).select("doc1", "doc2")
    # cache the (small, dup-sized) id frame: it feeds both the stat count
    # and the anti-join, and uncached each use re-runs the LSH self-join
    # and the component loop
    near_drop = (
        G.dedup_clusters(pairs, "doc1", "doc2")
        .filter(~F.col("is_canonical"))
        .select(F.col("node").alias("doc_id"))
        .cache()
    )
    n_near = near_drop.count()  # materializes the LSH + component chain
    # the cached shingle arrays can feed decontamination too when the
    # n-gram orders line up — one fewer full corpus tokenize pass
    # (decontamination explodes the CACHED arrays per row for its hits)
    share_arrays = (
        eval_docs is not None and contamination_ngram == shingle_n
    )
    if not share_arrays:
        arrays.unpersist()  # near_drop is cached; nothing re-reads them
    deduped = survivors.join(near_drop, "doc_id", "left_anti")

    n_contaminated = 0
    dirty = None
    if eval_docs is not None:
        ratios = CON.contamination_ratios(
            deduped,
            eval_docs,
            n=contamination_ngram,
            arrays=arrays if share_arrays else None,
        )
        dirty = (
            ratios.filter(F.col("contamination") > contamination_max)
            .select("doc_id")
            .cache()
        )
        n_contaminated = dirty.count()
        if share_arrays:
            arrays.unpersist()
        deduped = deduped.join(dirty, "doc_id", "left_anti")

    packed = PK.pack_sequences(deduped, ctx_tokens=ctx_tokens)
    version = S.commit(spark, packed, out_path, mode="overwrite")
    out = S.read(spark, out_path, version)

    counts = flagged.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum((~F.col("gate_ok")).cast("long")).alias("n_gated_out"),
        F.sum(
            (F.col("gate_ok") & ~F.col("is_keeper")).cast("long")
        ).alias("n_exact_dups"),
    ).first()
    n_curated = int(counts["n_input"]) - int(counts["n_gated_out"]) - int(
        counts["n_exact_dups"]
    ) - n_near - n_contaminated
    # total packs = ceil(shard token total / ctx) per shard; summing the
    # per-doc n_packs would double-count windows straddling documents
    per_shard = out.groupBy("source").agg(
        (F.max("last_pack") + 1).alias("shard_packs")
    )
    n_packs = int(per_shard.agg(F.sum("shard_packs")).first()[0] or 0)
    for frame in (flagged, near_drop, dirty):
        if frame is not None:
            frame.unpersist()
    return CurationResult(
        n_input=int(counts["n_input"]),
        n_gated_out=int(counts["n_gated_out"]),
        n_exact_dups=int(counts["n_exact_dups"]),
        n_near_dups=n_near,
        n_contaminated=n_contaminated,
        n_curated=n_curated,
        n_packs=n_packs,
        version=version,
    )
