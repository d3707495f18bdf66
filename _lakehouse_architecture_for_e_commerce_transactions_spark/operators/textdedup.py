"""Content-based document deduplication at corpus scale.

Four families, all shuffle-disciplined for 100 TB corpora:

* **exact** — group by md5(content): one shuffle on a 32-byte key, map-side
  partial aggregation collapses most duplicates before the exchange.
* **n-gram Jaccard** — token-shingle inverted index self-join restricted to a
  blocking key; exact similarity on candidate pairs only.
* **MinHash + LSH** — k salted-md5 min-hashes per doc, computed per row
  from its shingle array (no shuffle), band keys, bucket self-join:
  near-dup candidates without the quadratic join. Candidates are verified
  with true Jaccard.
* **SimHash** — per-bit majority over token hashes; Hamming-near signatures
  bucket by band of bits.

Everything is expression-level (no UDFs): md5-based hashing keeps results
engine-portable for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from _lakehouse_architecture_for_e_commerce_transactions_spark.functions import (
    hashing as H,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.functions import (
    text as T,
)
from _lakehouse_architecture_for_e_commerce_transactions_spark.operators.util import (
    spread,
)


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One surviving id per distinct content: (fingerprint, keeper, copies).

    Keeper = min id → deterministic (SURVEY.md §4.3-4 discipline applied to
    content dedup)."""
    return (
        df.groupBy(T.fingerprint(F.col(text_col)).alias("fp"))
        .agg(
            F.min(F.col(id_col)).alias("keeper"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc, sh) — the per-doc DISTINCT word-n-gram array (``T.shingles``
    already dedups within a doc), the one shingle substrate of MinHash
    dedup and decontamination.

    Docs with no shingles (shorter than ``n`` tokens, or NULL text) are
    dropped, exactly as ``explode`` would drop them from a (doc, shingle)
    row form, so every per-doc aggregate agrees with that form row for
    row.

    Shuffle-free by design (guide §2.4): a min-hash signature is a
    per-doc reduction, so computing it as ``array_min(transform(sh, …))``
    in the row's own projection needs neither an explode (corpus ×
    shingles row expansion through the hash stage) nor a groupBy
    exchange, and the exact-Jaccard verification set is just
    ``sort_array(sh)``. The input is spread across the cluster first:
    the per-row work (tokenize + k hashes per shingle) is the dominant
    cost and must not run on 1-2 input splits.
    """
    return (
        spread(df)
        .select(
            F.col(id_col).alias("doc"),
            T.shingles(F.col(text_col), n).alias("sh"),
        )
        .filter(F.size("sh") > 0)
    )


def _sig_from_arrays(arrays: DataFrame, k: int) -> DataFrame:
    """(doc, mh0..mh{k-1}) from per-doc shingle ARRAYS — no explode, no
    exchange: each signature slot is ``array_min`` over a per-element
    transform, evaluated in the row's own projection.

    Value-identical to ``groupBy(doc).agg(*H.minhash_aggs(...))`` over the
    exploded (doc, shingle) rows: the min of the same hash multiset
    (duplicates cannot change a min), string comparison is the same
    binary ordering in both forms, and docs with empty shingle sets are
    absent from both. Cheaper than the aggregate form even per-element:
    the salted digests are materialized ONCE per shingle into
    ``k/4``-wide digest arrays and the k chunk-mins slice them, where the
    aggregate form re-hashes the shingle for every one of the k aggregate
    expressions (4× fewer md5 calls at k=8)."""
    per_digest = 32 // H.CHUNK_HEX
    n_digests = (k + per_digest - 1) // per_digest

    # closure factories, NOT default-arg lambdas: F.transform passes the
    # array INDEX as the second argument to any two-parameter lambda, so
    # `lambda s, _d=d: ...` would silently receive the index as `_d`
    def _digest(d: int):
        return F.transform(F.col("sh"), lambda s: H.salted_md5(s, d))

    def _chunk_min(i: int):
        return F.array_min(
            F.transform(
                F.col(f"_dig{i // per_digest}"),
                lambda x: F.substring(
                    x, (i % per_digest) * H.CHUNK_HEX + 1, H.CHUNK_HEX
                ),
            )
        )

    base = arrays.select(
        "doc", *[_digest(d).alias(f"_dig{d}") for d in range(n_digests)]
    )
    return base.select(
        "doc", *[_chunk_min(i).alias(f"mh{i}") for i in range(k)]
    )


def _melt_bands(sig: DataFrame, band_cols: list[Column]) -> DataFrame:
    """(doc, band_id, bkey): one row per LSH band (``band{b}`` columns)
    of each signature."""
    bands = sig.select(F.col("doc"), *band_cols)
    n_bands = len(band_cols)
    stack_args = ", ".join(f"{b}, band{b}" for b in range(n_bands))
    return bands.select(
        "doc", F.expr(f"stack({n_bands}, {stack_args}) AS (band_id, bkey)")
    )


def _band_pairs(melted: DataFrame) -> DataFrame:
    """(doc1, doc2), doc1 < doc2: docs sharing ≥1 band key, from one
    self-equi-join of the melted band rows on (band_id, bkey)."""
    # The per-row signature pipeline has NO exchange of its own, so the
    # self-join's two sides would each recompute tokenize+hash
    # (ReuseExchange shares subtrees only at exchange boundaries). One
    # narrow shuffle of the melted rows (k/rows_per_band per doc) on the
    # join key IS that boundary: upstream runs once, and the join reads
    # both sides from the same shuffle output.
    melted = melted.repartition("band_id", "bkey")
    a = melted.select(F.col("doc").alias("doc1"), "band_id", "bkey")
    c = melted.select(F.col("doc").alias("doc2"), "band_id", "bkey")
    return (
        a.join(c, ["band_id", "bkey"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs from the inverted index.

    The self-join explodes on shingles shared across docs, so at corpus scale
    a ``block_col`` (language, source bucket, length band …) bounds the join
    fan-out; frequent-shingle skew is the classic LSH motivation — prefer
    ``minhash_lsh_pairs`` when no natural blocking key exists.

    Returns (doc1, doc2, inter, union_size, jaccard) with doc1 < doc2.
    """
    cols = [F.col(id_col).alias("doc"), T.shingles(F.col(text_col), n).alias("sh")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    base = spread(df).select(*cols).withColumn("n_sh", F.size("sh"))
    idx = base.select(
        "doc", "n_sh", *(["blk"] if block_col else []), F.explode("sh").alias("shingle")
    )
    left = idx.alias("a")
    right = idx.alias("b")
    join_cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc") < F.col("b.doc")
    )
    if block_col:
        join_cond = join_cond & (F.col("a.blk") == F.col("b.blk"))
    inter = (
        left.join(right, join_cond)
        .groupBy(
            F.col("a.doc").alias("doc1"),
            F.col("b.doc").alias("doc2"),
            F.col("a.n_sh").alias("n1"),
            F.col("b.n_sh").alias("n2"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn("union_size", F.col("n1") + F.col("n2") - F.col("inter"))
        .withColumn(
            "jaccard", F.round(F.col("inter") / F.col("union_size"), 6)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "inter", "union_size", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """(doc, mh0..mh{k-1}) — signatures are 32-char hex-chunk strings
    (lexicographic min-hash), computed per row from the doc's shingle
    array: zero exchanges, no explode (see ``_sig_from_arrays``).
    ``arrays`` supplies a prebuilt/cached (doc, sh) frame
    (``shingle_arrays``) when several stages share the tokenization
    pass."""
    if arrays is None:
        arrays = shingle_arrays(df, id_col, text_col, n)
    return _sig_from_arrays(arrays, k)


def melted_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """(doc, band_id, bkey) LSH band rows — the storable/joinable index
    form of a MinHash signature (k/rows_per_band rows per document)."""
    sig = minhash_signatures(df, id_col, text_col, n, k, arrays=arrays)
    return _melt_bands(sig, H.band_keys(k, rows_per_band))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band (doc1 < doc2).

    Plan: per-doc shingle arrays → k per-row min-hashes (zero exchanges,
    see ``_sig_from_arrays``) → band keys → *melt* the bands to
    (doc, band_id, key) rows → one self-equi-join on (band_id, key) →
    distinct pairs. Melting instead of a per-band join loop matters twice:
    the signature computation runs once (both join sides read one
    shuffle) instead of once per band per side, and bucket fan-out is
    bounded per band key, so cost is Σ bucket² — the point of LSH vs the
    quadratic join.
    """
    return _band_pairs(
        melted_band_keys(
            df, id_col, text_col, n, k, rows_per_band, arrays=arrays
        )
    )


def minhash_lsh_pairs_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """xxhash64 twin of ``minhash_lsh_pairs``: same plan shape, ~3× less
    hashing cost (one JVM intrinsic vs an md5 digest + hex string per salt).

    Candidate sets differ from the md5 variant only through hash-family
    randomness — detection quality is equivalent (both are uniform min-hash
    families). Use this at scale; use the md5 variant when results must be
    reproducible by other engines (xxhash64 seeds are Spark-specific).
    """
    if arrays is None:
        arrays = shingle_arrays(df, id_col, text_col, n)

    # per-row long-min over the shingle array, as in _sig_from_arrays
    def _mh(i: int):  # closure factory: see _sig_from_arrays note
        return F.array_min(
            F.transform(F.col("sh"), lambda s: F.xxhash64(F.lit(i), s))
        )

    sig = arrays.select("doc", *[_mh(i).alias(f"mh{i}") for i in range(k)])
    band_cols = [
        F.xxhash64(
            *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band{b}")
        for b in range(k // rows_per_band)
    ]
    return _band_pairs(_melt_bands(sig, band_cols))


def minhash_dedup_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    fast: bool = False,
    arrays: DataFrame | None = None,
    verify_filter_threshold: int = 100_000,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard (the standard two-phase
    near-dup pipeline): returns (doc1, doc2, jaccard) above threshold.

    ``fast=True`` draws candidates from the xxhash64 family instead of
    md5. Near-threshold results then differ only through hash-family
    randomness — but at ``threshold=1.0`` the output is provably
    hash-family INDEPENDENT: jaccard 1 means identical shingle sets,
    which give identical min-hashes under any family, hence identical
    band keys, hence candidacy with probability 1. That makes the fast
    path's exact-duplicate output cross-engine verifiable even though
    xxhash64 itself is Spark-specific.

    ONE per-doc shingle-array pass (``shingle_arrays``, lazily
    checkpointed) feeds both stages — signatures are per-row
    ``array_min`` reductions and the verification set is
    ``sort_array(sh)``, so the tokenize pass runs once with no explode
    and no groupBy exchange (guide §2.4). ``arrays`` supplies a prebuilt
    (doc, sh) frame — pass a CACHED one (the curation job does) when
    other stages share the tokenization."""
    base = (
        arrays
        if arrays is not None
        else shingle_arrays(df, id_col, text_col, n).localCheckpoint(
            eager=False
        )
    )
    pairs_of = minhash_lsh_pairs_fast if fast else minhash_lsh_pairs
    cand = pairs_of(df, id_col, text_col, n, k, rows_per_band, arrays=base)
    # Materialize the candidate pairs once: they are consumed by several
    # branches below (the intersection join, and in the sparse regime two
    # array semi-filters), and un-materialized each branch would re-run
    # the signature computation + band self-join. Candidate count is
    # bounded by Σ bucket² (the LSH guarantee), so the checkpoint is
    # dup-scale, never corpus-scale. LAZY + count (r14): the count action
    # below materializes the checkpoint inside its own job, so the
    # candidate pipeline runs once in ONE job instead of a dedicated
    # eager-checkpoint job followed by a count job.
    cand = cand.localCheckpoint(eager=False)
    # Adaptive verification plan, keyed on the (now cheap) candidate
    # count. Sparse regime — the 100 TB norm, few near-dups in a huge
    # corpus: semi-filter the arrays to candidate docs first, so the
    # candidate-doc set broadcasts under AQE and the full substrate is
    # never shuffled to verify a handful of pairs. Dense regime —
    # candidates cover much of the corpus (adversarial dup-heavy
    # corpora): the filter removes little but adds an extra pass, so
    # join the full substrate directly.
    sparse = cand.count() <= verify_filter_threshold
    vsrc = base
    if sparse:
        cdocs = (
            cand.select(F.col("doc1").alias("doc"))
            .unionByName(cand.select(F.col("doc2").alias("doc")))
            .distinct()
        )
        vsrc = base.join(cdocs, "doc", "left_semi")
    # Verification over per-doc shingle-SET ARRAYS: candidates join two
    # array lookups on doc. Rows shuffled = |docs| + 2|cand|, never
    # |docs| × |shingles|. The r12 form — an intersect sort-merge join on
    # exploded (doc, shingle) rows — sorted the FULL exploded corpus in
    # the dense regime: the r13 sf10 probe (dup-dense 1.5M-doc corpus,
    # 225M exploded rows) measured it spilling >72 GiB and dying ENOSPC,
    # a cluster-killer shape at 100 TB (TUNING.md r13). The canonical set
    # is sort_array(sh) per row (sh is already distinct).
    sets = vsrc.select("doc", F.sort_array("sh").alias("shset"))
    pairs = cand.join(
        sets.select(F.col("doc").alias("doc1"), F.col("shset").alias("sh_a")),
        "doc1",
    ).join(
        sets.select(F.col("doc").alias("doc2"), F.col("shset").alias("sh_b")),
        "doc2",
    )
    if threshold >= 1.0:
        # jaccard = 1 ⟺ identical shingle sets: equality on the
        # canonical arrays, no intersect computation at all — and the
        # output stays provably hash-family independent (docstring).
        return pairs.filter(F.col("sh_a") == F.col("sh_b")).select(
            "doc1", "doc2", F.lit(1.0).alias("jaccard")
        )
    return (
        pairs.withColumn(
            "inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn("n1", F.size("sh_a").cast("long"))
        .withColumn("n2", F.size("sh_b").cast("long"))
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")), 6),
        )
        # threshold on the EXACT rational (inter >= t·union), never the
        # rounded display value: a rounded filter would admit jaccard
        # 0.9999995 as an "exact duplicate" at threshold=1.0, breaking
        # the identical-shingle-sets guarantee the fast-path oracle
        # relies on
        .filter(
            F.col("inter")
            >= F.lit(threshold)
            * (F.col("n1") + F.col("n2") - F.col("inter"))
        )
        .select("doc1", "doc2", "jaccard")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 2,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT Jaccard-similarity self-join via prefix filtering (the
    AllPairs/PPJoin family) — no LSH false negatives, no blocking key
    needed, never an all-pairs join.

    Order every doc's shingle set by ascending global frequency (rarest
    first, shingle string as tie-break — a total order). For threshold
    t = num/den, a doc with s shingles keeps a *prefix* of its
    ``s - ceil(t*s) + 1`` rarest shingles. Guarantee: if J(A,B) >= t,
    the globally-smallest shared shingle x has at most ``|A| - |A∩B|``
    A-only shingles before it, and ``|A∩B| >= ceil(t*|A|)`` (union >=
    |A|), so x sits inside A's prefix — and symmetrically inside B's.
    Candidates therefore come from an equi-join on PREFIX shingles only,
    and each candidate is verified with exact set intersection, so the
    output equals the brute-force all-pairs join exactly (what the
    oracle checks).

    Scale shape: frequency table is vocabulary-sized (one groupBy on
    shingle); the per-doc ranking window partitions by doc (bounded
    partitions); the candidate join's fan-out is Σ bucket² over *prefix*
    buckets — and prefix shingles are by construction the rarest, so the
    hot-shingle buckets that blow up a full inverted-index self-join
    never enter the join. Verification joins candidate pairs (bounded)
    to per-doc shingle arrays (row-sized). All integer/exact arithmetic:
    the threshold compare is the exact rational den*inter >= num*union.

    Returns (doc1, doc2, inter, union_size, jaccard) with doc1 < doc2,
    the ``ngram_jaccard_pairs`` contract.
    """
    # share the tokenize+shingle pass: base feeds SIX plan branches
    # below (freq, ranked, both sides of the candidate self-join, both
    # verification set joins) and unshared each would re-run the regex
    # tokenization — the dominant per-doc cost. A LAZY localCheckpoint:
    # plan-only callers pay nothing (no eager job), the blocks are
    # reclaimed by the ContextCleaner once the result frame is dropped
    # (a persist() here would pin a CacheManager entry per call with no
    # unpersist hook), and lineage truncation is acceptable because the
    # checkpoint materializes inside the consuming action itself.
    base = spread(df).select(
        F.col(id_col).alias("doc"),
        T.shingles(F.col(text_col), n).alias("sh"),
    ).withColumn("n_sh", F.size("sh")).localCheckpoint(eager=False)
    idx = base.select("doc", "n_sh", F.explode("sh").alias("shingle"))
    freq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("gf"))
    ranked = idx.join(freq, "shingle").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("doc").orderBy(
                F.col("gf").asc(), F.col("shingle").asc()
            )
        ),
    )
    # prefix length = s - ceil(t*s) + 1, exact: ceil(num*s/den) via
    # integer (num*s + den - 1) div den
    plen = (
        F.col("n_sh")
        - F.floor(
            (F.lit(threshold_num) * F.col("n_sh") + F.lit(threshold_den - 1))
            / F.lit(threshold_den)
        )
        + 1
    )
    prefix = ranked.filter(F.col("pos") <= plen).select("doc", "shingle")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2")
        )
        .distinct()
    )
    sets = base.select("doc", "sh", "n_sh")
    verified = (
        cand.join(
            sets.select(
                F.col("doc").alias("doc1"),
                F.col("sh").alias("sh1"),
                F.col("n_sh").alias("n1"),
            ),
            "doc1",
        )
        .join(
            sets.select(
                F.col("doc").alias("doc2"),
                F.col("sh").alias("sh2"),
                F.col("n_sh").alias("n2"),
            ),
            "doc2",
        )
        .withColumn("inter", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn("union_size", F.col("n1") + F.col("n2") - F.col("inter"))
        .filter(
            F.lit(threshold_den) * F.col("inter")
            >= F.lit(threshold_num) * F.col("union_size")
        )
    )
    return verified.select(
        "doc1",
        "doc2",
        F.col("inter").cast("long").alias("inter"),
        F.col("union_size").cast("long").alias("union_size"),
        F.round(F.col("inter") / F.col("union_size"), 6).alias("jaccard"),
    )


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_bits: int = 16
) -> DataFrame:
    """(doc, simhash bit columns b0..b{n-1}, simhash int) via per-bit
    majority vote over the doc's distinct tokens."""
    toks = spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(T.tokens(F.col(text_col)))).alias("token"),
    )
    sig = toks.groupBy("doc").agg(*H.simhash_bits("token", n_bits))
    # bitwise fold, not an arithmetic Σ bit·2^pos: 2^63 overflows the
    # signed-long literal, so the arithmetic form caps n_bits at 63.
    # shiftleft|or wraps bit 0 into the sign bit at n_bits=64 — the
    # value differs only in SIGN interpretation, and every consumer is
    # bitwise (bit_count(xor) hamming; band extraction masks away the
    # arithmetic shiftright's sign-extension). For n_bits < 64 the two
    # forms are bit-identical, so oracle parity is unchanged.
    value = F.lit(0).cast("long")
    for i in range(n_bits):
        value = F.shiftleft(value, 1).bitwiseOR(
            F.col(f"b{i}").cast("long")
        )
    return sig.withColumn("simhash", value)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs: (doc1, doc2, hamming ≤ max_hamming).

    Scale path: each signature is exploded into ``n_bands`` bit-bands and
    candidates come from an equi-join on (band_id, band_value) — never a
    quadratic self-join. With ``max_hamming < n_bands`` the blocking is
    *lossless* by pigeonhole (a pair differing in < n_bands bits must agree
    on at least one whole band), so the result equals the brute-force
    all-pairs computation exactly — which is what the oracle checks.

    Size ``n_bits`` to the corpus: at fixed width the RANDOM-collision
    floor grows ~N² (independent docs land within ``max_hamming`` by
    chance — P ≈ 1.3e-6 per pair at 32 bits vs ~2e-15 at 64, and
    signature *clusters* multiply each hit; the r13 10x probe measured
    24.3M cross-replica pairs between unrelated sub-corpora at
    n_bits=32, TUNING.md). The catalog leg pins 32 bits for the oracle
    at test scales; at 100 TB use ``n_bits=64`` (fits the long-typed
    ``simhash`` column as-is).
    """
    if max_hamming >= n_bands:
        raise ValueError("lossless banding requires max_hamming < n_bands")
    if n_bits % n_bands:
        raise ValueError("n_bits must divide evenly into n_bands")
    width = n_bits // n_bands
    mask = (1 << width) - 1
    sig = simhash_signatures(df, id_col, text_col, n_bits).select("doc", "simhash")
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.shiftright(F.col("simhash"), (n_bands - 1 - j) * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for j in range(n_bands)
        ]
    )
    e = sig.select("doc", "simhash", F.explode(bands).alias("b")).select(
        "doc", "simhash", "b.band_id", "b.band_val"
    )
    a = e.select(
        F.col("doc").alias("doc1"), F.col("simhash").alias("sh1"),
        "band_id", "band_val",
    )
    b = e.select(
        F.col("doc").alias("doc2"), F.col("simhash").alias("sh2"),
        "band_id", "band_val",
    )
    return (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select(
            "doc1",
            "doc2",
            F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can match in several bands
    )


def duplicate_span_pairs(
    df: DataFrame,
    span_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_span_docs: int = 1000,
) -> DataFrame:
    """Substring-level duplicate evidence: document pairs sharing at least
    one identical ``span_tokens``-token window, with the count of distinct
    shared spans (the span-dedup signal of Lee et al., *Deduplicating
    Training Data Makes Language Models Better* — their suffix-array
    substring match, re-expressed as a sliding-window equi-join).

    Plan: per-doc distinct span keys (pure per-row array work), ONE
    shuffle grouping span keys into buckets (map-side combine on a
    16-byte key), then expression-level pair expansion per bucket — cost
    is Σ |span bucket|², never all-pairs, with no self-join and no second
    scan of the corpus. ``max_span_docs`` drops spans shared by more
    documents than the cap (boilerplate headers/footers): at 100 TB a
    viral span would otherwise create a quadratic bucket, and a span in
    >cap documents is boilerplate to *remove*, not pair evidence. Keys
    are md5 of the window text: bounded width, engine-portable (a
    production run would use xxhash64 for speed; md5 keeps the DuckDB
    oracle bit-identical).

    Output: (doc_a, doc_b, n_shared_spans), doc_a < doc_b.
    """
    from _lakehouse_architecture_for_e_commerce_transactions_spark.functions import (
        text as T,
    )

    # Lazy localCheckpoint (the jaccard_prefix_pairs discipline): the
    # span rows feed TWO aggregation branches below (the viral-key
    # count and the capped collect), and unshared each would re-run
    # the tokenize+window+md5 explode over the whole corpus — the
    # dominant per-doc cost (measured: recompute made the two-pass
    # form ~1.4× the single-pass one at a 50k-doc dense corpus; the
    # checkpoint brings it back to parity, TUNING r13).
    spans = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.array_distinct(T.ngram_list(F.col(text_col), span_tokens))
        ).alias("span"),
    ).select("doc", F.md5("span").alias("span_key")).localCheckpoint(
        eager=False
    )
    # Cap ENFORCED BEFORE collect_list: counting first (fixed-size
    # aggregation state) and semi-filtering the span rows means no
    # aggregation buffer ever holds more than ``max_span_docs`` ids.
    # Filtering on size(docs) AFTER collect_list — the previous form —
    # still materialized a viral span's full doc list in ONE buffer
    # before dropping it: a header shared by 10M docs is a
    # multi-hundred-MB aggregation row at 100 TB, executor-OOM of the
    # same dense-regime class as the r13 minhash ENOSPC (sort-based
    # aggregation fallback spills across KEYS, not within one key's
    # buffer, so no Spark config saves a viral key). The count rows
    # are per-doc-distinct, so count(1) equals the old size(docs)
    # exactly.
    keep = (
        spans.groupBy("span_key")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= max_span_docs))
        .select("span_key")
    )
    buckets = (
        spans.join(keep, "span_key")
        .groupBy("span_key")
        .agg(F.array_sort(F.collect_list("doc")).alias("docs"))
        .select("docs")
    )
    ds = F.col("docs")
    pairs = F.flatten(
        F.transform(
            ds,
            lambda a, i: F.transform(
                F.slice(ds, i + 2, F.greatest(F.size(ds) - i - 1, F.lit(0))),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_spans"))
    )
