"""Incremental aggregate maintenance (materialized-view delta merge).

The 100 TB shape: a grouped aggregate (cnt + sum per key) over a fact
table is kept as a materialized table; when a change batch arrives
(inserts / deletes / updates with pre- and post-images — the CDC feed
shape of `sources/snapshots.table_changes` and the reference's MERGE
source, `src/glue_scripts/orders_etl.py:67-71`), the aggregate is
advanced by aggregating ONLY the batch and merging key-wise deltas into
the stored aggregate — the fact table is never rescanned. Cost is
O(|batch|) + one join on the (dimension-sized) aggregate key space,
versus O(|fact|) for recompute.

COUNT and SUM are self-maintainable under inserts AND deletes (no
auxiliary state needed); sums ride the repo's integer fixed-point
discipline (``plans/catalog.money_sum``) so delta addition is exact and
order-independent — maintained state never drifts from recompute, which
is exactly what the oracle asserts. Updates that MOVE a row between
groups must arrive as delete+insert pairs (the standard IVM contract);
same-group updates carry old/new images.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _ns_join(
    left: DataFrame, right: DataFrame, cols: list[str], how: str
) -> DataFrame:
    """Null-safe equi-join on ``cols`` (`<=>` keys): a NULL-keyed group
    matches its own state row instead of splitting into duplicates
    (outer joins) or being silently dropped (semi/anti joins), which is
    what SQL ``=`` would do. ``EqualNullSafe`` is still a hash/sort-merge
    equi-join key for Catalyst, so the module's equi-join-only plan pin
    holds. Right-side join columns come back prefixed ``__r_`` — outer
    joins must coalesce them; semi/anti results carry left columns only.
    """
    r = right
    for c in cols:
        r = r.withColumnRenamed(c, "__r_" + c)
    cond = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col("__r_" + c)) for c in cols],
    )
    return left.join(r, cond, how)


def _fx(col: str, scale: int):
    """The module's single fixed-point quantization: floor(x·scale+0.5)
    as int64 — shared by every maintained aggregate so SUM and MIN/MAX
    can never quantize the same CDC feed differently."""
    return F.floor(F.col(col) * scale + F.lit(0.5)).cast("long")


def agg_deltas(
    changes: DataFrame,
    keys: list[str],
    op_col: str = "op",
    old_val: str = "old_val",
    new_val: str = "new_val",
    scale: int = 100,
) -> DataFrame:
    """Per-key (d_cnt, d_sum_scaled) from a change batch.

    ``changes`` rows: key columns + ``op`` ∈ {'I','U','D'} + pre/post
    images (``old_val`` meaningful for U/D, ``new_val`` for I/U).
    Values are quantized to ``scale`` fixed-point BEFORE differencing so
    the delta is the exact integer the recomputed aggregate would move
    by. One shuffle, on the batch only.
    """
    fx_new = _fx(new_val, scale)
    fx_old = _fx(old_val, scale)
    d_cnt = (
        F.when(F.col(op_col) == "I", F.lit(1))
        .when(F.col(op_col) == "D", F.lit(-1))
        .otherwise(F.lit(0))
    )
    d_sum = (
        F.when(F.col(op_col) == "I", fx_new)
        .when(F.col(op_col) == "D", -fx_old)
        .otherwise(fx_new - fx_old)
    )
    return (
        changes.select(
            *keys, d_cnt.alias("_dc"), d_sum.alias("_ds")
        )
        .groupBy(*keys)
        .agg(
            F.sum("_dc").alias("d_cnt"),
            F.sum("_ds").alias("d_sum_scaled"),
        )
    )


def apply_agg_deltas(
    base_agg: DataFrame,
    deltas: DataFrame,
    keys: list[str],
    cnt_col: str = "cnt",
    sum_scaled_col: str = "sum_scaled",
) -> DataFrame:
    """Merge key-wise deltas into a stored (cnt, sum_scaled) aggregate.

    Full-outer on the key (null-safe, so a NULL-keyed group merges with
    its own state row rather than splitting): new keys appear, keys
    whose count reaches zero disappear (their sum is necessarily zero
    too under exact integer arithmetic). Both sides are
    aggregate-table-sized — the fact table is not involved.
    """
    merged = _ns_join(base_agg, deltas, keys, "full_outer").select(
        *[
            F.coalesce(F.col(c), F.col("__r_" + c)).alias(c)
            for c in keys
        ],
        (
            F.coalesce(F.col(cnt_col), F.lit(0))
            + F.coalesce(F.col("d_cnt"), F.lit(0))
        ).alias(cnt_col),
        (
            F.coalesce(F.col(sum_scaled_col), F.lit(0))
            + F.coalesce(F.col("d_sum_scaled"), F.lit(0))
        ).alias(sum_scaled_col),
    )
    return merged.filter(F.col(cnt_col) > 0)


def maintain_join_view(
    view: DataFrame,
    fact_key: str,
    dim_key: str,
    dim_cols: list[str],
    dim_updates: DataFrame | None = None,
    fact_inserts: DataFrame | None = None,
    fact_delete_keys: DataFrame | None = None,
    dim_current: DataFrame | None = None,
    keep_unmatched: bool = False,
) -> DataFrame:
    """Incrementally maintain a materialized fact⋈dim enrichment view.

    The production shape: an enriched fact table (fact columns +
    denormalized dimension attributes) must track three change kinds
    without re-running the big join —

    * dimension updates (late-arriving attribute changes): PATCH the
      view in place — key-wise join of the view with the (small) update
      set, coalescing each dimension column. No fact scan: the view
      already holds every affected row.
    * fact deletes: anti-join on the fact key.
    * fact inserts: only the NEW rows join the current dimension.

    Cost: O(|view| patch join, key-wise) + O(|inserts| ⋈ dim) +
    O(|deletes|) — the delta rules of incremental view maintenance
    specialized to the enrichment join, where Δdim ⋈ fact never needs
    the fact table because the view itself is that join's materialized
    result. Updates must not change a fact row's dimension KEY (model
    key moves as fact delete+insert, the standard IVM contract).

    ``keep_unmatched=True`` is the mode the streaming twin runs in: the
    view additionally RETAINS fact rows whose dimension key has no
    dimension row YET, carrying a ``_matched`` boolean (False → NULL
    dim attributes). A later dimension update for that key patches the
    row and flips ``_matched`` — without this, an early-arriving fact
    would be dropped by the inner join and silently lost forever (the
    maintained view would diverge from a recompute once the dimension
    row lands). Readers filter ``_matched`` to get inner-join
    semantics; ``view`` must already carry the ``_matched`` column.
    """
    out = view
    if dim_updates is not None:
        upd = dim_updates.select(
            dim_key,
            *[F.col(c).alias(f"_u_{c}") for c in dim_cols],
            F.lit(True).alias("_u_present"),
        )
        patched = [
            F.when(
                F.coalesce(F.col("_u_present"), F.lit(False)),
                F.col(f"_u_{c}"),
            )
            .otherwise(F.col(c))
            .alias(c)
            for c in dim_cols
        ]
        keep = [
            c
            for c in view.columns
            if c not in dim_cols and c != "_matched"
        ]
        extra = (
            [
                (
                    F.coalesce(F.col("_matched"), F.lit(False))
                    | F.coalesce(F.col("_u_present"), F.lit(False))
                ).alias("_matched")
            ]
            if keep_unmatched
            else []
        )
        out = out.join(upd, dim_key, "left").select(
            *keep, *patched, *extra
        )
    if fact_delete_keys is not None:
        # null-safe: a NULL-fact-key row must be deletable too
        out = _ns_join(
            out, fact_delete_keys.select(fact_key), [fact_key],
            "left_anti",
        )
    if fact_inserts is not None:
        if dim_current is None:
            raise ValueError("fact_inserts requires dim_current")
        if keep_unmatched:
            fresh = fact_inserts.join(
                dim_current.select(
                    dim_key,
                    *dim_cols,
                    F.lit(True).alias("_dim_present"),
                ),
                dim_key,
                "left",
            ).withColumn(
                "_matched",
                F.coalesce(F.col("_dim_present"), F.lit(False)),
            )
        else:
            fresh = fact_inserts.join(
                dim_current.select(dim_key, *dim_cols), dim_key
            )
        out = out.unionByName(fresh.select(*out.columns))
    return out


def maintain_min_max(
    base_agg: DataFrame,
    changes: DataFrame,
    fact_final: DataFrame,
    keys: list[str],
    val: str,
    op_col: str = "op",
    old_val: str = "old_val",
    new_val: str = "new_val",
    scale: int = 100,
) -> DataFrame:
    """Incrementally maintain per-key MIN/MAX — the textbook
    NON-self-maintainable aggregate: inserts only ever tighten the
    envelope (new_min = min(old_min, batch_min) — O(batch)), but a
    delete that removes the CURRENT extremum needs the second-best
    value, which the aggregate doesn't hold. This operator takes the
    standard hybrid: groups whose removed values stay strictly INSIDE
    the stored envelope merge deltas like SUM/COUNT; groups whose
    delete/update-old touches an endpoint take the envelope of their
    ``fact_final`` rows instead.

    One pass: the stored envelope, the batch's added/removed values and
    the fact rows are unioned into one tagged frame and aggregated by
    ONE ``groupBy(keys)`` (null-safe, so a NULL-keyed group pairs with
    its own state row); each group then picks the merged or the
    rescanned envelope. Only keys with a stored row or a change row
    come back, so ``fact_final`` may be the whole post-change fact or
    any superset of the rows of the keys the batch REMOVES from — an
    endpoint-touching group always has a removal, so no other key can
    need its rows. The streaming twin passes exactly that removal-key
    slice; partial aggregation shrinks the fact side to one row per key
    and input partition before the shuffle.

    ``base_agg``: keys + ``min_scaled``/``max_scaled`` (fixed-point
    longs, same quantization as ``agg_deltas``). ``fact_final``: the
    post-change fact rows (keys + ``val`` double). Returns the new
    keys + min_scaled/max_scaled; keys with no surviving rows drop out.
    """
    fx_new = _fx(new_val, scale)
    fx_old = _fx(old_val, scale)
    none = F.lit(None).cast("long")
    tagged = reduce(
        DataFrame.unionByName,
        [
            base_agg.select(
                *keys, "min_scaled", "max_scaled", none.alias("_add"),
                none.alias("_rem"), none.alias("_fact"),
                F.lit(1).alias("_live"),
            ),
            changes.select(
                *keys, none.alias("min_scaled"), none.alias("max_scaled"),
                F.when(F.col(op_col).isin("I", "U"), fx_new).alias("_add"),
                F.when(F.col(op_col).isin("D", "U"), fx_old).alias("_rem"),
                none.alias("_fact"), F.lit(1).alias("_live"),
            ),
            fact_final.select(
                *keys, none.alias("min_scaled"), none.alias("max_scaled"),
                none.alias("_add"), none.alias("_rem"),
                _fx(val, scale).alias("_fact"), F.lit(0).alias("_live"),
            ),
        ],
    )
    g = tagged.groupBy(*keys).agg(
        F.min("min_scaled").alias("min_scaled"),
        F.max("max_scaled").alias("max_scaled"),
        F.min("_add").alias("i_min"),
        F.max("_add").alias("i_max"),
        F.min("_rem").alias("r_min"),
        F.max("_rem").alias("r_max"),
        F.min("_fact").alias("f_min"),
        F.max("_fact").alias("f_max"),
        F.max("_live").alias("_live"),
    )
    # safe ⇔ every removed value sits strictly inside the stored
    # envelope (endpoints untouched, second-best irrelevant); a key
    # absent from base (insert-only new group) is trivially safe
    safe = (
        F.col("r_min").isNull()
        | (
            F.col("min_scaled").isNotNull()
            & (F.col("r_min") > F.col("min_scaled"))
            & (F.col("r_max") < F.col("max_scaled"))
        )
    )
    lo = F.least(
        F.coalesce(F.col("min_scaled"), F.col("i_min")),
        F.coalesce(F.col("i_min"), F.col("min_scaled")),
    )
    hi = F.greatest(
        F.coalesce(F.col("max_scaled"), F.col("i_max")),
        F.coalesce(F.col("i_max"), F.col("max_scaled")),
    )
    return (
        g.filter(F.col("_live") == 1)
        .select(
            *keys,
            F.when(safe, lo).otherwise(F.col("f_min")).alias("min_scaled"),
            F.when(safe, hi).otherwise(F.col("f_max")).alias("max_scaled"),
        )
        # groups whose surviving values are all NULL drop out: the
        # maintained envelope tracks non-NULL values only, whichever
        # branch classified the group
        .filter(F.col("min_scaled").isNotNull())
    )


def build_topk_state(
    fact: DataFrame,
    keys: list[str],
    val: str,
    k: int,
    buffer: int = 2,
    scale: int = 100,
) -> DataFrame:
    """Initial leaderboard state from a fact scan: per key, the true
    top-(k+buffer) values plus an ``incomplete`` flag — True iff the key
    has MORE rows than were stored (an unknown region exists below the
    stored floor). The flag is what keeps lazy rescans sound across
    batches; it cannot be re-derived from the stored row count alone
    (a prefix may legitimately shrink below k+buffer while the unknown
    region persists)."""
    m = k + buffer
    rows = fact.select(*keys, _fx(val, scale).alias("val_scaled"))
    w = Window.partitionBy(*keys).orderBy(F.col("val_scaled").desc())
    wk = Window.partitionBy(*keys)
    # rank and per-key count share one partitioning — a single shuffle,
    # no second fact scan, and NULL-keyed groups survive (a join on the
    # key would silently drop them)
    return (
        rows.withColumn("rk", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wk))
        .filter(F.col("rk") <= m)
        .select(
            *keys, "val_scaled", (F.col("_n") > m).alias("incomplete")
        )
    )


def maintain_topk(
    stored: DataFrame,
    changes: DataFrame,
    fact_final: DataFrame,
    keys: list[str],
    val: str,
    k: int,
    buffer: int = 2,
    op_col: str = "op",
    old_val: str = "old_val",
    new_val: str = "new_val",
    scale: int = 100,
) -> DataFrame:
    """Incrementally maintain per-key TOP-K values (the materialized
    leaderboard) with a ``buffer`` of extra ranks — top-k is not
    self-maintainable under deletes (removing the k-th value needs the
    (k+1)-th), so state from ``build_topk_state`` keeps up to
    ``k + buffer`` values per key plus an ``incomplete`` flag marking
    keys with an unknown region below the stored floor.

    The maintained invariant is that stored values are a TRUE RANKING
    PREFIX of the key's live values. Maintenance preserves it:

    * intra-batch adds and removes of the same value net out first (a
      CDC batch may insert a row and delete it, or its equal-valued
      twin, within one delivery window — values are interchangeable in
      a multiset ranking, so the net count IS the sequential effect);
    * net removals subtract from the stored count of their value
      (removals below the floor aren't stored and correctly no-op —
      they live in the unknown region);
    * a net add is admitted only when the key is complete (no unknown
      region — everything is known) or the value is >= the pre-batch
      floor (it provably outranks every unknown; the tie case is safe
      because equal values are interchangeable). A REJECTED add joins
      the unknown region, so it flips ``incomplete`` on — without the
      flag, a later batch could trust a prefix that silently stopped
      being one;
    * the result is re-ranked and trimmed to k+buffer.

    All of it is multiset algebra on COUNTS: the stored rows and the
    batch's adds and removes become one tagged frame, shuffled once by
    the key and aggregated per ``(keys, value)``; floor, admission,
    running rank (``sum(cnt)`` over value desc, NULLs last), trim,
    ``incomplete`` and the squeeze test are windows partitioned by the
    key, so no further exchange is needed, and kept rows come back by
    ``explode(array_repeat(value, count))``. ``groupBy`` is null-safe:
    NULL keys and NULL values pair like any other (a NULL-valued add on
    an incomplete key fails admission and flags the key — NULLs rank
    last on both engines).

    The top-k stays provable while an incomplete key retains >= k
    prefix rows; incomplete keys squeezed below k rebuild from
    ``fact_final`` via a broadcast key semi-join, so only the squeezed
    keys' fact rows are shuffled (complete keys never rescan — small
    groups with < k total rows are exact as-is). A key is squeezed only
    if the batch removed one of its values, so ``fact_final`` may be
    the whole post-change fact or any superset of the removal keys'
    rows (the streaming twin passes that slice). Read the leaderboard
    off the returned state with ``topk_rows``; output is deterministic
    as a multiset per key."""
    m = k + buffer
    none = F.lit(None).cast("int")
    zero, one = F.lit(0), F.lit(1)
    tagged = reduce(
        DataFrame.unionByName,
        [
            stored.select(
                *keys, "val_scaled", one.alias("_s"), zero.alias("_a"),
                zero.alias("_r"), F.col("incomplete").cast("int").alias("_i"),
            ),
            changes.filter(F.col(op_col).isin("I", "U")).select(
                *keys, _fx(new_val, scale).alias("val_scaled"),
                zero.alias("_s"), one.alias("_a"), zero.alias("_r"),
                none.alias("_i"),
            ),
            changes.filter(F.col(op_col).isin("D", "U")).select(
                *keys, _fx(old_val, scale).alias("val_scaled"),
                zero.alias("_s"), zero.alias("_a"), one.alias("_r"),
                none.alias("_i"),
            ),
        ],
    )
    wk = Window.partitionBy(*keys)
    by_rank = wk.orderBy(F.col("val_scaled").desc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    net = F.col("_a") - F.col("_r")
    # the explicit key partitioning satisfies the (keys, value) grouping
    # AND every key window below: one exchange for the whole advance
    counts = (
        tagged.repartition(*keys)
        .groupBy(*keys, "val_scaled")
        .agg(
            F.sum("_s").alias("_s"),
            F.sum("_a").alias("_a"),
            F.sum("_r").alias("_r"),
            F.max("_i").alias("_i"),
        )
        .select(
            *keys,
            "val_scaled",
            "_s",
            F.greatest(net, zero).alias("_na"),
            F.greatest(-net, zero).alias("_nr"),
            # pre-batch floor and incompleteness of the key
            F.min(F.when(F.col("_s") > 0, F.col("val_scaled")))
            .over(wk)
            .alias("_floor"),
            F.coalesce(F.max("_i").over(wk), zero).alias("_inc"),
        )
    )
    admit = (F.col("_inc") == 0) | F.coalesce(
        F.col("val_scaled") >= F.col("_floor"), F.lit(False)
    )
    counts = counts.select(
        *keys,
        "val_scaled",
        "_inc",
        (
            F.greatest(F.col("_s") - F.col("_nr"), zero)
            + F.when(admit, F.col("_na")).otherwise(zero)
        ).alias("_cnt"),
        ((F.col("_na") > 0) & ~admit).cast("int").alias("_rej"),
    )
    ranked = counts.select(
        *keys,
        "val_scaled",
        "_cnt",
        "_inc",
        (F.sum("_cnt").over(by_rank) - F.col("_cnt")).alias("_above"),
        F.sum("_cnt").over(wk).alias("_total"),
        F.max("_rej").over(wk).alias("_rej"),
    )
    # post-batch incompleteness: an unknown region existed before, or a
    # rejected add just created one, or the trim cuts rows
    incomplete = (
        (F.col("_inc") == 1) | (F.col("_rej") == 1) | (F.col("_total") > m)
    )
    # incomplete keys squeezed below k can no longer prove their top-k
    # — including keys whose stored rows were ALL removed
    squeezed = incomplete & (F.least(F.col("_total"), F.lit(m)) < k)
    kept = F.least(
        F.col("_cnt"), F.greatest(F.lit(m) - F.col("_above"), zero)
    ).cast("int")
    safe = ranked.filter(~squeezed & (kept > 0)).select(
        *keys,
        F.explode(F.array_repeat("val_scaled", kept)).alias("val_scaled"),
        incomplete.alias("incomplete"),
    )
    squeezed_keys = F.broadcast(ranked.filter(squeezed).select(*keys))
    rescan = build_topk_state(
        _ns_join(fact_final, squeezed_keys, keys, "left_semi"),
        keys,
        val,
        k,
        buffer,
        scale,
    )
    return safe.unionByName(rescan)


def topk_rows(stored: DataFrame, keys: list[str], k: int) -> DataFrame:
    """(keys..., pos, val_scaled) — the top-k leaderboard view of the
    maintained state."""
    w = Window.partitionBy(*keys).orderBy(F.col("val_scaled").desc())
    return (
        stored.withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= k)
        .select(*keys, "pos", "val_scaled")
    )
