"""Value-identity pins for the array-substrate MinHash paths.

Signatures and verification sets are per-row array reductions over
``shingle_arrays``. These tests pin them against a reference built here
from the exploded (doc, shingle) rows: ``groupBy`` + ``H.minhash_aggs``
(or ``F.min(xxhash64)``) signatures, band candidates and exact Jaccard
over the collected shingle sets. The corpus exercises the edge
semantics:

* blank text / text shorter than ``n`` tokens (empty shingle array —
  absent from the exploded rows via explode, absent from the array
  substrate via the ``size > 0`` filter),
* exact duplicates (identical shingle sets ⇒ jaccard 1.0 pairs),
* near duplicates straddling the 0.5 threshold,
* duplicate n-grams inside one doc (array_distinct dedup).
"""

from __future__ import annotations

from itertools import combinations

import pytest
from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.functions import (
    hashing as H,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.functions import (
    text as T,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    textdedup as TD,
)

pytestmark = pytest.mark.usefixtures("spark")


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over a sleepy dog"),  # near dup of 1
    (4, "completely different text about spark optimization rounds"),
    (5, ""),  # blank: zero shingles
    (6, "two words"),  # shorter than n=3: zero shingles
    (7, "alpha beta gamma alpha beta gamma alpha beta gamma"),  # repeats
    (8, None),  # NULL text
]


def _corpus(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _index(df):
    """The exploded (doc, shingle) reference rows: one row per distinct
    word 3-gram of each doc, shingle-less docs dropped by ``explode``."""
    return df.select(
        F.col("doc_id").alias("doc"),
        F.explode(T.shingles(F.col("text"), 3)).alias("shingle"),
    )


def _index_signatures(idx, k, fast):
    """Signatures as a per-doc aggregate over the exploded rows."""
    if fast:
        return idx.groupBy("doc").agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh{i}")
                for i in range(k)
            ]
        )
    return idx.groupBy("doc").agg(*H.minhash_aggs("shingle", k))


def _reference_verified(df, k, rows_per_band, threshold, fast):
    """(doc1, doc2, jaccard) computed from the exploded rows: docs
    sharing a band (equal signature slices) are candidates, verified by
    exact Jaccard of their shingle sets on the exact rational."""
    idx = _index(df)
    sigs = {
        r["doc"]: [r[f"mh{i}"] for i in range(k)]
        for r in _index_signatures(idx, k, fast).collect()
    }
    sets = {}
    for r in idx.collect():
        sets.setdefault(r["doc"], set()).add(r["shingle"])
    out = []
    for d1, d2 in combinations(sorted(sigs), 2):
        if not any(
            sigs[d1][b : b + rows_per_band] == sigs[d2][b : b + rows_per_band]
            for b in range(0, k, rows_per_band)
        ):
            continue
        inter = len(sets[d1] & sets[d2])
        union = len(sets[d1] | sets[d2])
        if inter >= threshold * union:
            out.append((d1, d2, round(inter / union, 6)))
    return sorted(out)


def test_shingle_index_equals_explode_of_arrays(spark):
    df = _corpus(spark)
    arr = TD.shingle_arrays(df, "doc_id", "text", n=3)
    exploded = arr.select("doc", F.explode("sh").alias("shingle"))
    assert _rows(_index(df)) == _rows(exploded)
    # blank/short/NULL docs appear in neither representation
    docs = {r["doc"] for r in arr.select("doc").distinct().collect()}
    assert docs == {1, 2, 3, 4, 7}


def test_md5_signatures_match_exploded_aggregation(spark):
    df = _corpus(spark)
    arr_sig = TD.minhash_signatures(df, "doc_id", "text", n=3, k=8)
    assert _rows(arr_sig) == _rows(_index_signatures(_index(df), 8, False))


def test_xxhash_signatures_match_exploded_aggregation(spark):
    df = _corpus(spark)
    k = 8
    arr = TD.shingle_arrays(df, "doc_id", "text", n=3)

    def _mh(i):
        return F.array_min(
            F.transform(F.col("sh"), lambda s: F.xxhash64(F.lit(i), s))
        )

    fast_sig = arr.select("doc", *[_mh(i).alias(f"mh{i}") for i in range(k)])
    assert _rows(fast_sig) == _rows(_index_signatures(_index(df), k, True))


@pytest.mark.parametrize("fast", [False, True])
@pytest.mark.parametrize("threshold", [0.5, 1.0])
def test_verified_pairs_match_legacy_index_path(spark, fast, threshold):
    df = _corpus(spark)
    via_arrays = TD.minhash_dedup_verified(
        df, "doc_id", "text", n=3, k=8, threshold=threshold, fast=fast
    )
    got = _rows(via_arrays)
    assert got == _reference_verified(df, 8, 2, threshold, fast)
    # the exact dup must always be found
    assert (1, 2, 1.0) in got


def test_verified_dense_regime_matches(spark):
    # force the dense branch (no candidate-doc semi filter)
    df = _corpus(spark)
    via_arrays = TD.minhash_dedup_verified(
        df, "doc_id", "text", n=3, k=8, threshold=0.5,
        verify_filter_threshold=0,
    )
    assert _rows(via_arrays) == _reference_verified(df, 8, 2, 0.5, False)


def test_contamination_arrays_matches_index_and_direct(spark):
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        contamination as CON,
    )

    train = _corpus(spark)
    ev = spark.createDataFrame(
        [(100, "the quick brown fox went home"), (101, "spark optimization")],
        "doc_id long, text string",
    )
    direct = CON.contamination_ratios(train, ev, n=3)
    via_arrays = CON.contamination_ratios(
        train, ev, n=3, arrays=TD.shingle_arrays(train, "doc_id", "text", n=3)
    )
    # reference from the exploded rows: per doc, distinct 3-grams and
    # those that occur in the eval set
    ev_grams = {r["shingle"] for r in _index(ev).collect()}
    grams = {}
    for r in _index(train).collect():
        grams.setdefault(r["doc"], []).append(r["shingle"])
    ref = {}
    for doc, gs in grams.items():
        hits = sum(g in ev_grams for g in gs)
        ref[doc] = (doc, len(gs), hits, round(hits / len(gs), 6))
    # the arrays path emits (0, 0, 0.0) rows for blank/short docs it sees
    # in `train`, exactly as the direct path does
    d_rows = {r["doc_id"]: tuple(r) for r in direct.collect()}
    a_rows = {r["doc_id"]: tuple(r) for r in via_arrays.collect()}
    assert a_rows == d_rows
    assert {d: r for d, r in a_rows.items() if r[1] > 0} == ref
    assert all(a_rows[d] == (d, 0, 0, 0.0) for d in (5, 6, 8))
