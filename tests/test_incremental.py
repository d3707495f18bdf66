"""Property test: delta-maintained (cnt, sum) aggregates equal a full
recompute of the post-change state for ANY interleaving of inserts,
same-group updates, and deletes — the self-maintainability contract of
operators/incremental.py."""

from __future__ import annotations

from collections import defaultdict

from hypothesis import given, settings
from hypothesis import strategies as st

base_row = st.tuples(
    st.sampled_from(["a", "b", "c"]),
    st.floats(min_value=0.0, max_value=1000.0, allow_nan=False),
)
change_row = st.tuples(
    st.sampled_from(["I", "U", "D"]),
    st.sampled_from(["a", "b", "c"]),
    st.floats(min_value=0.0, max_value=1000.0, allow_nan=False),
)

# a few repeated values plus NULL: multiset counts, ties and NULL
# ranking (NULLs rank last) for the MIN/MAX and TOP-K operators
tied_val = st.one_of(st.none(), st.sampled_from([1.0, 2.5, 4.0]))
tied_base_row = st.tuples(st.sampled_from(["a", "b"]), tied_val)
tied_change_row = st.tuples(
    st.sampled_from(["I", "U", "D"]), st.sampled_from(["a", "b"]), tied_val
)


def _fx(x: float | None) -> int | None:
    import math

    return None if x is None else int(math.floor(x * 100 + 0.5))


def _unfx(v: int | None) -> float | None:
    return None if v is None else v / 100.0


def _top(vals: list, k: int) -> list:
    """The k largest values, NULLs ranked last."""
    return sorted(vals, key=lambda v: (v is None, -(v or 0)))[:k]


@settings(max_examples=6, deadline=None)
@given(
    st.lists(base_row, min_size=0, max_size=12),
    st.lists(change_row, min_size=0, max_size=12),
)
def test_maintained_agg_equals_recompute(spark, base_rows, raw_changes):
    from pyspark.sql import functions as F

    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        incremental as INC,
    )

    # deletes/updates must reference existing rows: pair each D/U with a
    # base row of the same key if one is free, else demote it to I
    pool = defaultdict(list)
    for k, v in base_rows:
        pool[k].append(v)
    changes = []
    for op, k, v in raw_changes:
        if op in ("U", "D"):
            if pool[k]:
                old = pool[k].pop()
                changes.append((k, op, old, v))
            else:
                changes.append((k, "I", 0.0, v))
        else:
            changes.append((k, "I", 0.0, v))

    # python reference: apply changes, recompute (fixed-point)
    state = defaultdict(list)
    for k, v in base_rows:
        state[k].append(_fx(v))
    for k, op, old, new in changes:
        if op == "I":
            state[k].append(_fx(new))
        elif op == "D":
            state[k].remove(_fx(old))
        else:
            state[k].remove(_fx(old))
            state[k].append(_fx(new))
    want = {
        k: (len(v), sum(v)) for k, v in state.items() if len(v) > 0
    }

    if base_rows:
        b = spark.createDataFrame(base_rows, "k string, val double")
    else:
        b = spark.createDataFrame([], "k string, val double")
    base_agg = b.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")
        ).alias("sum_scaled"),
    )
    if changes:
        ch = spark.createDataFrame(
            changes, "k string, op string, old_val double, new_val double"
        )
    else:
        ch = spark.createDataFrame(
            [], "k string, op string, old_val double, new_val double"
        )
    deltas = INC.agg_deltas(ch, ["k"])
    out = INC.apply_agg_deltas(base_agg, deltas, ["k"])
    got = {
        r["k"]: (r["cnt"], r["sum_scaled"]) for r in out.collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(base_row, min_size=0, max_size=12),
    st.lists(change_row, min_size=0, max_size=12),
)
def test_maintained_minmax_equals_recompute(spark, base_rows, raw_changes):
    """The hybrid fast-path/rescan MIN/MAX maintenance must equal a
    recompute for ANY change interleaving — including deletes that hit
    the stored envelope's endpoints (the non-self-maintainable case)."""
    _check_minmax(spark, base_rows, raw_changes)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(tied_base_row, min_size=0, max_size=10),
    st.lists(tied_change_row, min_size=0, max_size=10),
)
def test_maintained_minmax_ties_and_nulls(spark, base_rows, raw_changes):
    """Repeated values and NULLs: removing one copy of a tied endpoint
    keeps it, and a group whose live values are all NULL drops out."""
    _check_minmax(spark, base_rows, raw_changes)


def _check_minmax(spark, base_rows, raw_changes):
    from pyspark.sql import functions as F

    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        incremental as INC,
    )

    pool = defaultdict(list)
    for k, v in base_rows:
        pool[k].append(v)
    changes = []
    for op, k, v in raw_changes:
        if op in ("U", "D") and pool[k]:
            changes.append((k, op, pool[k].pop(), v))
        else:
            changes.append((k, "I", 0.0, v))

    state = defaultdict(list)
    for k, v in base_rows:
        state[k].append(_fx(v))
    for k, op, old, new in changes:
        if op == "I":
            state[k].append(_fx(new))
        elif op == "D":
            state[k].remove(_fx(old))
        else:
            state[k].remove(_fx(old))
            state[k].append(_fx(new))
    want = {}
    for k, v in state.items():
        live = [x for x in v if x is not None]
        if live:
            want[k] = (min(live), max(live))

    def df_of(rows, schema):
        return spark.createDataFrame(rows if rows else [], schema)

    b = df_of(base_rows, "k string, val double")
    base_agg = b.groupBy("k").agg(
        F.min(F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")).alias(
            "min_scaled"
        ),
        F.max(F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")).alias(
            "max_scaled"
        ),
    )
    ch = df_of(
        changes, "k string, op string, old_val double, new_val double"
    )
    final_rows = [
        (k, _unfx(v)) for k, vals in state.items() for v in vals
    ]
    fact_final = df_of(final_rows, "k string, val double")
    out = INC.maintain_min_max(base_agg, ch, fact_final, ["k"], "val")
    got = {
        r["k"]: (r["min_scaled"], r["max_scaled"]) for r in out.collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(base_row, min_size=0, max_size=14),
    st.lists(change_row, min_size=0, max_size=14),
)
def test_maintained_topk_equals_recompute(spark, base_rows, raw_changes):
    """The buffered top-k maintenance (multiset removals, squeeze-
    triggered rescans) must read back the same top-k multiset as a
    recompute for any change interleaving — including deletes that
    empty a key's stored rows entirely."""
    from pyspark.sql import functions as F

    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        incremental as INC,
    )

    K, BUF = 2, 1
    pool = defaultdict(list)
    for kk, v in base_rows:
        pool[kk].append(v)
    changes = []
    for op, kk, v in raw_changes:
        if op in ("U", "D") and pool[kk]:
            changes.append((kk, op, pool[kk].pop(), v))
        else:
            changes.append((kk, "I", 0.0, v))

    state = defaultdict(list)
    for kk, v in base_rows:
        state[kk].append(_fx(v))
    for kk, op, old, new in changes:
        if op == "I":
            state[kk].append(_fx(new))
        elif op == "D":
            state[kk].remove(_fx(old))
        else:
            state[kk].remove(_fx(old))
            state[kk].append(_fx(new))
    want = {}
    for kk, vals in state.items():
        top = sorted(vals, reverse=True)[:K]
        for i, v in enumerate(top, start=1):
            want[(kk, i)] = v

    def df_of(rows, schema):
        return spark.createDataFrame(rows if rows else [], schema)

    b = df_of(base_rows, "k string, val double")
    stored = INC.build_topk_state(b, ["k"], "val", k=K, buffer=BUF)
    ch = df_of(
        changes, "k string, op string, old_val double, new_val double"
    )
    final_rows = [
        (kk, v / 100.0) for kk, vals in state.items() for v in vals
    ]
    fact_final = df_of(final_rows, "k string, val double")
    out = INC.maintain_topk(
        stored, ch, fact_final, ["k"], "val", k=K, buffer=BUF
    )
    got = {
        (r["k"], r["pos"]): r["val_scaled"]
        for r in INC.topk_rows(out, ["k"], K).collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(base_row, min_size=0, max_size=10),
    st.lists(change_row, min_size=0, max_size=8),
    st.lists(change_row, min_size=0, max_size=8),
)
def test_maintained_topk_two_chained_batches(
    spark, base_rows, raw1, raw2
):
    """The cross-batch invariant: batch 2 consumes batch 1's OUTPUT
    state, so a prefix silently corrupted by batch 1 (an insert slotted
    below the unknown floor, a shrunken prefix misread as complete)
    surfaces here even when each single batch looks right."""
    _check_topk_chain(spark, base_rows, [raw1, raw2])


@settings(max_examples=5, deadline=None)
@given(
    st.lists(tied_base_row, min_size=0, max_size=10),
    st.lists(tied_change_row, min_size=0, max_size=8),
    st.lists(tied_change_row, min_size=0, max_size=8),
)
def test_maintained_topk_ties_and_nulls(spark, base_rows, raw1, raw2):
    """Two chained batches over repeated values and NULLs: per-value
    counts net adds against removes, tied values straddle the k+buffer
    cut, and NULLs rank last in the stored prefix and the leaderboard."""
    _check_topk_chain(spark, base_rows, [raw1, raw2])


def _check_topk_chain(spark, base_rows, raws):
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        incremental as INC,
    )

    K, BUF = 2, 1
    pool = defaultdict(list)
    for kk, v in base_rows:
        pool[kk].append(v)

    def mk_changes(raw):
        out = []
        for op, kk, v in raw:
            if op in ("U", "D") and pool[kk]:
                out.append((kk, op, pool[kk].pop(), v))
                if op == "U":
                    pool[kk].append(v)
            else:
                out.append((kk, "I", 0.0, v))
                pool[kk].append(v)
        return out

    state = defaultdict(list)
    for kk, v in base_rows:
        state[kk].append(_fx(v))
    # note: mk_changes consumes/extends `pool` in order, so build the
    # python reference in lockstep per batch
    def apply(changes):
        for kk, op, old, new in changes:
            if op == "I":
                state[kk].append(_fx(new))
            elif op == "D":
                state[kk].remove(_fx(old))
            else:
                state[kk].remove(_fx(old))
                state[kk].append(_fx(new))

    def df_of(rows, schema):
        return spark.createDataFrame(rows if rows else [], schema)

    def fact_df():
        rows = [
            (kk, _unfx(v)) for kk, vals in state.items() for v in vals
        ]
        return df_of(rows, "k string, val double")

    stored = INC.build_topk_state(
        df_of(base_rows, "k string, val double"),
        ["k"], "val", k=K, buffer=BUF,
    )
    for raw in raws:
        changes = mk_changes(raw)
        apply(changes)
        ch = df_of(
            changes,
            "k string, op string, old_val double, new_val double",
        )
        stored = INC.maintain_topk(
            stored, ch, fact_df(), ["k"], "val", k=K, buffer=BUF
        ).localCheckpoint(eager=True)

    want = {}
    for kk, vals in state.items():
        for i, v in enumerate(_top(vals, K), start=1):
            want[(kk, i)] = v
    got = {
        (r["k"], r["pos"]): r["val_scaled"]
        for r in INC.topk_rows(stored, ["k"], K).collect()
    }
    assert got == want


def test_topk_review_counterexamples(spark):
    """The two concrete review scenarios: (1) same-batch inserts must
    not count toward provability when stored survivors drop below k;
    (2) an insert below the unknown floor must not poison the prefix
    for a LATER batch."""
    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        incremental as INC,
    )

    K, BUF = 2, 1
    fact0 = spark.createDataFrame(
        [("g", 10.0), ("g", 9.0), ("g", 8.0), ("g", 7.0)],
        "k string, val double",
    )
    stored = INC.build_topk_state(fact0, ["k"], "val", k=K, buffer=BUF)

    # (1) D 10, D 9, I 1 → survivors {8}; the insert 1 must not make
    # the key look provable; rescan finds {8,7,1} → top-2 = (8,7)
    ch1 = spark.createDataFrame(
        [("g", "D", 10.0, None), ("g", "D", 9.0, None),
         ("g", "I", None, 1.0)],
        "k string, op string, old_val double, new_val double",
    )
    fact1 = spark.createDataFrame(
        [("g", 8.0), ("g", 7.0), ("g", 1.0)], "k string, val double"
    )
    out1 = INC.maintain_topk(
        stored, ch1, fact1, ["k"], "val", k=K, buffer=BUF
    )
    got1 = {
        (r["pos"]): r["val_scaled"]
        for r in INC.topk_rows(out1, ["k"], K).collect()
    }
    assert got1 == {1: 800, 2: 700}

    # (2) batch A: D 8, I 1 (1 is below the floor 8 → unknown region);
    # batch B: D 9 → prefix {10} too short, must rescan and find 7,
    # NOT report the poisoned (10, 1)
    chA = spark.createDataFrame(
        [("g", "D", 8.0, None), ("g", "I", None, 1.0)],
        "k string, op string, old_val double, new_val double",
    )
    factA = spark.createDataFrame(
        [("g", 10.0), ("g", 9.0), ("g", 7.0), ("g", 1.0)],
        "k string, val double",
    )
    sA = INC.maintain_topk(
        stored, chA, factA, ["k"], "val", k=K, buffer=BUF
    ).localCheckpoint(eager=True)
    assert {
        (r["pos"]): r["val_scaled"]
        for r in INC.topk_rows(sA, ["k"], K).collect()
    } == {1: 1000, 2: 900}
    chB = spark.createDataFrame(
        [("g", "D", 9.0, None)],
        "k string, op string, old_val double, new_val double",
    )
    factB = spark.createDataFrame(
        [("g", 10.0), ("g", 7.0), ("g", 1.0)], "k string, val double"
    )
    sB = INC.maintain_topk(
        sA, chB, factB, ["k"], "val", k=K, buffer=BUF
    )
    assert {
        (r["pos"]): r["val_scaled"]
        for r in INC.topk_rows(sB, ["k"], K).collect()
    } == {1: 1000, 2: 700}


def test_null_keyed_groups_survive_maintenance(spark):
    """ADVICE round-3: every maintenance join must be null-safe — a
    NULL-keyed group merges with its own state row (not split into
    duplicates), its deletes apply (not silently no-op), and its adds
    respect the floor admission. Covers apply_agg_deltas,
    maintain_min_max, and maintain_topk."""
    from pyspark.sql import functions as F

    from _lakehouse_architecture_for_e_commerce_transactions_spark.operators import (
        incremental as INC,
    )

    CH = "k string, op string, old_val double, new_val double"
    base = spark.createDataFrame(
        [(None, 10.0), (None, 9.0), (None, 8.0), ("a", 5.0)],
        "k string, val double",
    )

    # --- (cnt, sum): delete from + insert into the NULL group ---
    base_agg = base.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")
        ).alias("sum_scaled"),
    )
    ch = spark.createDataFrame(
        [(None, "D", 10.0, None), (None, "I", None, 2.0)], CH
    )
    got = {
        r["k"]: (r["cnt"], r["sum_scaled"])
        for r in INC.apply_agg_deltas(
            base_agg, INC.agg_deltas(ch, ["k"]), ["k"]
        ).collect()
    }
    assert got == {None: (3, 1900), "a": (1, 500)}

    # --- MIN/MAX: endpoint delete on the NULL group forces its rescan ---
    mm_base = base.groupBy("k").agg(
        F.min(
            F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")
        ).alias("min_scaled"),
        F.max(
            F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long")
        ).alias("max_scaled"),
    )
    mm_fact = spark.createDataFrame(
        [(None, 9.0), (None, 8.0), (None, 2.0), ("a", 5.0)],
        "k string, val double",
    )
    got_mm = {
        r["k"]: (r["min_scaled"], r["max_scaled"])
        for r in INC.maintain_min_max(
            mm_base, ch, mm_fact, ["k"], "val"
        ).collect()
    }
    assert got_mm == {None: (200, 900), "a": (500, 500)}

    # --- top-k: remove the NULL group's top, then verify the prefix ---
    stored = INC.build_topk_state(base, ["k"], "val", k=2, buffer=1)
    out = INC.maintain_topk(
        stored, ch, mm_fact, ["k"], "val", k=2, buffer=1
    )
    got_tk = {
        (r["k"], r["pos"]): r["val_scaled"]
        for r in INC.topk_rows(out, ["k"], 2).collect()
    }
    assert got_tk == {
        (None, 1): 900,
        (None, 2): 800,
        ("a", 1): 500,
    }

    # a below-floor add on an incomplete NULL group must be rejected by
    # admission (flagging incompleteness), not admitted because the meta
    # join missed the NULL key
    big = spark.createDataFrame(
        [(None, float(v)) for v in (10, 9, 8, 7)], "k string, val double"
    )
    st2 = INC.build_topk_state(big, ["k"], "val", k=2, buffer=1)
    ch2 = spark.createDataFrame([(None, "I", None, 1.0)], CH)
    fact2 = spark.createDataFrame(
        [(None, float(v)) for v in (10, 9, 8, 7, 1)],
        "k string, val double",
    )
    out2 = INC.maintain_topk(
        st2, ch2, fact2, ["k"], "val", k=2, buffer=1
    ).collect()
    vals = sorted((r["val_scaled"] for r in out2), reverse=True)
    assert vals == [1000, 900, 800]  # 1.0 NOT admitted into the prefix
    assert all(r["incomplete"] for r in out2)
