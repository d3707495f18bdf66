"""Unit tests for the round-2 curation operators: decontamination,
sequence packing, domain mixture, repetition signals. Each also has a
DuckDB oracle row in the catalog (tools/verify_parity.py); these tests pin
the operator semantics on hand-built fixtures where the expected values
are computable by inspection.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.functions import (
    text as T,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    contamination as CON,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    mixture as MIX,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
    packing as PK,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_contamination_planted(spark):
    ev = _docs(spark, [(100, "eval", "alpha beta gamma delta")])
    train = _docs(
        spark,
        [
            (1, "a", "alpha beta gamma delta"),        # fully contaminated
            (2, "a", "zeta eta theta iota kappa"),     # disjoint
            (3, "a", "alpha beta gamma nine ten"),     # 1 of 3 trigrams hit
        ],
    )
    got = {
        r["doc_id"]: r
        for r in CON.contamination_ratios(train, ev, n=3).collect()
    }
    assert got[1]["contamination"] == 1.0
    assert got[2]["contamination"] == 0.0
    assert got[2]["n_hits"] == 0
    assert got[3]["n_grams"] == 3
    assert got[3]["n_hits"] == 1
    assert abs(got[3]["contamination"] - 1 / 3) < 1e-6


def test_contamination_short_doc_is_zero(spark):
    ev = _docs(spark, [(100, "eval", "alpha beta gamma")])
    train = _docs(spark, [(1, "a", "alpha beta")])  # shorter than n
    r = CON.contamination_ratios(train, ev, n=3).collect()[0]
    assert (r["n_grams"], r["n_hits"], r["contamination"]) == (0, 0, 0.0)


def test_packing_straddles_boundaries(spark):
    d = _docs(
        spark,
        [
            (1, "s", " ".join(["w"] * 10)),  # tokens [0, 10)
            (2, "s", " ".join(["w"] * 10)),  # tokens [10, 20) straddles 16
            (3, "s", " ".join(["w"] * 20)),  # tokens [20, 40)
            (4, "t", " ".join(["w"] * 5)),   # separate shard restarts at 0
            (5, "t", ""),                    # empty → dropped
        ],
    )
    got = {
        r["doc_id"]: r for r in PK.pack_sequences(d, ctx_tokens=16).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert (got[1]["start_tok"], got[1]["first_pack"], got[1]["last_pack"]) == (0, 0, 0)
    assert (got[2]["start_tok"], got[2]["first_pack"], got[2]["last_pack"]) == (10, 0, 1)
    assert got[2]["n_packs"] == 2
    assert (got[3]["first_pack"], got[3]["last_pack"]) == (1, 2)
    assert (got[4]["start_tok"], got[4]["first_pack"]) == (0, 0)


def test_packing_is_gapless_per_shard(spark, sf_dir):
    from _lakehouse_architecture_for_e_commerce_transactions_spark.tables import (
        load_table,
    )

    out = PK.pack_sequences(load_table(spark, sf_dir, "documents"), 64)
    rows = sorted(
        out.collect(), key=lambda r: (r["source"], r["start_tok"])
    )
    pos: dict[str, int] = {}
    for r in rows:
        assert r["start_tok"] == pos.get(r["source"], 0)
        pos[r["source"]] = r["start_tok"] + r["n_tokens"]


def test_mixture_invariants_and_tempering(spark):
    d = _docs(
        spark,
        [(i, "big" if i < 90 else "small", " ".join(["w"] * 10))
         for i in range(100)],
    )
    got = {r["source"]: r for r in MIX.domain_mixture(d, 500).collect()}
    # weights sum to 1 (up to fixed-point rounding) and tempering lifts
    # the small domain above its raw token share
    assert abs(got["big"]["weight"] + got["small"]["weight"] - 1.0) < 1e-5
    assert got["small"]["weight"] > 0.10  # raw share would be 0.10
    assert got["big"]["keep_rate"] <= 1.0
    # budget conservation: targets sum to the budget (±1 per-shard round)
    assert abs(got["big"]["target_tokens"] + got["small"]["target_tokens"]
               - 500) <= 2


def test_repetition_signals(spark):
    d = _docs(
        spark,
        [
            (1, "s", "a a a a"),          # one token repeated
            (2, "s", "a b c d e"),        # fully distinct
            (3, "s", "x y x y x y"),      # period-2 repetition
        ],
    )
    out = {
        r["doc_id"]: r
        for r in d.select(
            "doc_id",
            T.duplicate_ngram_fraction(F.col("text"), 2).alias("dup2"),
            T.top_token_fraction(F.col("text")).alias("top"),
        ).collect()
    }
    assert out[1]["top"] == 1.0
    assert abs(out[1]["dup2"] - 2 / 3) < 1e-9  # "a a" ×3 → 2 repeats of 3
    assert out[2]["dup2"] == 0.0
    assert out[2]["top"] == 0.2
    assert abs(out[3]["dup2"] - 3 / 5) < 1e-9  # "x y"×3 + "y x"×2 → 3/5
    assert out[3]["top"] == 0.5


def test_contamination_prebuilt_index_equivalent(spark):
    """contamination_ratios(arrays=...) over a prebuilt shingle substrate
    must equal the self-built path exactly — including (0,0,0.0) rows for
    docs shorter than n — even when the substrate covers a superset of
    the train frame."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        contamination as CON,
    )
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        textdedup as TD,
    )

    rows = [
        (1, "a b c d e f"),
        (2, "x y z a b c"),
        (3, "short"),          # zero 3-grams
        (4, "p q r s t u v"),
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame([(99, "a b c d")], "doc_id long, text string")
    # superset substrate: includes a doc not in train
    sup = train.unionByName(
        spark.createDataFrame([(50, "m n o p q")], "doc_id long, text string")
    )
    arrays = TD.shingle_arrays(sup, "doc_id", "text", n=3)
    want = sorted(
        tuple(r) for r in CON.contamination_ratios(train, ev, n=3).collect()
    )
    got = sorted(
        tuple(r)
        for r in CON.contamination_ratios(
            train, ev, n=3, arrays=arrays
        ).collect()
    )
    assert got == want
    assert any(r[0] == 3 and r[1] == 0 and r[3] == 0.0 for r in got)
