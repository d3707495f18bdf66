"""Benchmark-contamination detection: n-gram overlap against an eval set.

Training-corpus hygiene op (the GPT-3/PaLM-style decontamination check):
for every training document, the fraction of its distinct word n-grams
that also occur anywhere in a held-out evaluation set. Documents above a
threshold get dropped or flagged before training. Production systems use
long n-grams (13 is the published choice); the default here is a knob.

Scale shape: the eval side is *benchmark-sized by contract* (thousands of
documents, not billions), so its distinct n-gram set broadcasts and the
whole check is one broadcast semi-ish join against the exploded training
n-grams — the corpus never shuffles. The per-doc total and hit count meet
in a single groupBy on doc id (one shuffle of (doc_id, counts) pairs,
bounded by |corpus|, not by n-gram volume, because hits are counted
map-side by the aggregate's partial step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.functions import (
    text as T,
)


def contamination_ratios(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Per-training-document contamination: ``(id_col, n_grams, n_hits,
    contamination)`` where contamination = |distinct n-grams ∩ eval
    n-grams| / |distinct n-grams| (0.0 for docs shorter than ``n``).

    ``eval_docs`` must be the bounded benchmark side — its distinct
    n-gram set is broadcast.

    ``arrays`` supplies a prebuilt (doc, sh) per-doc distinct-n-gram
    frame (``textdedup.shingle_arrays``), ONLY valid when its n-gram
    order equals ``n``. A curation pipeline that already built (and
    cached) the MinHash substrate passes it here so decontamination
    skips its own corpus tokenize — one fewer full text pass, which is
    a whole scan saved at 100 TB. It may cover a superset of ``train``;
    it is semi-joined down, and docs with zero n-grams still get their
    (0, 0, 0.0) row. ``arrays`` SHOULD be cached/persisted by the caller
    (etl/datapipe.py passes its cached curation substrate): it is
    consumed by two plan branches here (totals via ``size(sh)``, hits
    via ``explode``), so an uncached frame re-runs its tokenize pass
    twice.
    """
    ev = (
        eval_docs.select(
            F.explode(T.shingles(F.col(text_col), n)).alias("ngram")
        )
        .distinct()
    )
    if arrays is not None:
        arr = arrays.select(
            F.col("doc").alias(id_col), F.col("sh")
        ).join(train.select(id_col), id_col, "left_semi")
        totals = (
            train.select(id_col)
            .join(
                arr.select(
                    id_col, F.size("sh").cast("long").alias("n_grams")
                ),
                id_col,
                "left",
            )
            .na.fill({"n_grams": 0})
        )
        grams = arr.select(id_col, F.explode("sh").alias("ngram"))
    else:
        base = train.select(
            F.col(id_col), T.shingles(F.col(text_col), n).alias("_grams")
        )
        # totals are per-row (no shuffle); only (doc_id, count) partials
        # from the hit count ever shuffle
        totals = base.select(
            F.col(id_col), F.size("_grams").cast("long").alias("n_grams")
        )
        grams = base.select(F.col(id_col), F.explode("_grams").alias("ngram"))
    # inner join marks hits; shingles are distinct per doc, so counting
    # matched rows counts matched distinct n-grams
    hits = (
        grams.join(F.broadcast(ev), "ngram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        totals.join(hits, id_col, "left")
        .na.fill({"n_hits": 0})
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(
                F.when(F.col("n_grams") > 0,
                       F.col("n_hits") / F.col("n_grams")).otherwise(0.0),
                6,
            ).alias("contamination"),
        )
    )
