"""Exact and exact-Jaccard deduplication.

- ``exact_duplicates``: hash-groupBy on the content digest. Reference
  analogue: SHA-1 repIDs + ON-CONFLICT frequency upsert
  (/root/reference/code/blocking/code/make_representations_v3.py:47-49,76).
  Spark's partial/final hash aggregation does the two-phase merge natively;
  no shuffle beyond the one groupBy.
- ``collapse_exact``: the scale-critical pre-pass — collapse byte-identical
  texts to one representative before any pairwise detector runs (SURVEY.md
  §4 "frequency pre-aggregation"). On web data exact dups dominate, so this
  turns the hottest LSH bands into single rows.
- ``jaccard_pairs``: exact shingle-Jaccard pair join via the exploded
  inverted index — the relational form of the reference's CSR dot products
  (/root/reference/code/common.py:265-312): explode distinct shingles,
  self-join on shingle, groupBy(pair).count() = intersection size, then
  the Jaccard identity |A∩B| / (|A|+|B|−|A∩B|). Used as the brute-force
  oracle for MinHash and as a first-class operator for small-N exact mode.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import spread_small_input
from ..functions.text import word_shingles


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per text occurring more than once: digest, freq, member ids,
    canonical (minimum) id."""
    digest = F.sha2(F.col(text_col), 256).alias("text_sha")
    return (
        df.select(digest, F.col(id_col))
        .groupBy("text_sha")
        .agg(
            F.count("*").alias("freq"),
            F.min(id_col).alias("canonical_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .where(F.col("freq") > 1)
    )


def collapse_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(representatives, membership).

    representatives: one row per distinct text — (rep_id, text, freq) where
    rep_id is the minimum member id. membership: (id, rep_id) for every row.
    Detectors run on representatives only; results expand back via membership.
    """
    digest = F.sha2(F.col(text_col), 256).alias("text_sha")
    keyed = df.select(F.col(id_col).alias("id"), digest, F.col(text_col))
    reps = (
        keyed.groupBy("text_sha")
        .agg(
            F.min("id").alias("rep_id"),
            F.first(text_col).alias(text_col),
            F.count("*").alias("freq"),
        )
        .select("rep_id", text_col, "freq", "text_sha")
    )
    membership = keyed.join(
        reps.select("text_sha", "rep_id"), "text_sha"
    ).select("id", "rep_id")
    return reps, membership


def with_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out_col: str = "shingles"
) -> DataFrame:
    return df.withColumn(out_col, word_shingles(text_col, n))


def jaccard_condition(inter: Column, s1: Column, s2: Column, threshold: float) -> Column:
    """inter/(s1+s2-inter) >= threshold, in exact integer arithmetic.

    threshold is interpreted as a ratio num/den with den = 10^6 to avoid
    float comparison drift between engines.
    """
    num = int(round(threshold * 10**6))
    return inter * 10**6 >= (s1 + s2 - inter) * num


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = 25000,
) -> DataFrame:
    """(id1, id2, inter_size, union_size) for all pairs with exact
    word-n-shingle Jaccard ≥ threshold; id1 < id2. See
    ``jaccard_pairs_with_drops`` for the hot-shingle guard semantics."""
    pairs, _drops = jaccard_pairs_with_drops(
        df, id_col=id_col, text_col=text_col, n=n, threshold=threshold,
        max_bucket_size=max_bucket_size,
    )
    return pairs


def jaccard_pairs_with_drops(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = 25000,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped_shingles).

    ``max_bucket_size`` is the reference's 25000-doc group guard
    (code/common.py:96) applied to the shingle inverted index: a shingle
    shared by more docs than the cap (a stop-phrase) is excluded from pair
    generation and accounted for in ``dropped_shingles`` (shingle,
    bucket_size) — never silently. The guard is conservative: per-doc set
    sizes keep counting dropped shingles, so a surviving pair's Jaccard is
    under-, never over-stated (precision preserved; recall loss = pairs
    whose overlap rode only on dropped shingles, bounded by the drops
    table). With no bucket over the cap the output is exactly the uncapped
    all-pairs result.

    Dataflow (r6 single-pass redesign): one shuffle builds the inverted
    index as grouped posting LISTS — ``groupBy(shingle)`` with
    ``collect_list`` — which yields bucket size, the cap filter, and the
    pair generator from ONE aggregation instead of the former
    checkpoint + two bucket-size aggregations + self-join (3 exchanges,
    4 scans of the exploded table). Pairs are generated inside the bucket
    row via a two-step explode (posexplode, then a tail-slice explode) so
    no intermediate array ever exceeds the bucket cap in size — the
    quadratic pair stream is produced row-at-a-time in codegen exactly
    like the former join's output, then partially aggregated map-side
    before the only other exchange (by pair). sort_array orders members
    by id; the explicit ``id1 < id2`` filter drops the self-pairs a
    repeated id would otherwise emit.

    Precondition: ``id_col`` is unique. A repeated id is not a supported
    input — its rows are never paired with each other, but each copy still
    posts its shingles, so pairs with that id overstate ``inter_size``.
    """
    base = spread_small_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), key="id"
    )
    sh = base.select(F.col("id"), word_shingles("text", n).alias("sh"))
    ex = sh.select(
        "id", F.size("sh").alias("sz"), F.explode("sh").alias("shingle")
    )
    # the pairs branch groups on xxhash64(shingle) — 8 bytes through the
    # shuffle and the aggregation hash table instead of the ~25-byte
    # shingle string (§2.3 narrower types). A 64-bit collision merging two
    # distinct shingles could overstate one pair's intersection by 1
    # (P ≈ pairs·2⁻⁶⁴ — the same accepted risk class as MinHash's
    # hashed-shingle verification, which is oracled against the string
    # semantics and matches). The drops branch below accounts hot buckets
    # on the REAL strings, lazily — it only computes when a caller
    # consumes the drops side.
    exh = ex.select("id", "sz", F.xxhash64("shingle").alias("h"))
    buckets = exh.groupBy("h").agg(
        F.sort_array(F.collect_list(F.struct("id", "sz"))).alias("members"),
        F.count("*").alias("bucket_size"),
    )
    if max_bucket_size is not None:
        drops = (
            ex.groupBy("shingle")
            .agg(F.count("*").alias("bucket_size"))
            .where(F.col("bucket_size") > max_bucket_size)
        )
        kept = buckets.where(F.col("bucket_size") <= max_bucket_size)
    else:
        drops = (
            ex.select("shingle").limit(0).withColumn("bucket_size", F.lit(0).cast("long"))
        )
        kept = buckets
    # two-step pair expansion: row memory stays O(bucket), never O(bucket²)
    lhs = kept.select(
        F.posexplode("members").alias("i", "m1"), F.col("members")
    )
    pairs_raw = lhs.select(
        F.col("m1.id").alias("id1"),
        F.col("m1.sz").alias("sz1"),
        F.explode(
            F.slice("members", F.col("i") + 2, F.size("members"))
        ).alias("m2"),
    ).where(F.col("id1") < F.col("m2.id"))
    inter = pairs_raw.groupBy(
        "id1",
        F.col("m2.id").alias("id2"),
        "sz1",
        F.col("m2.sz").alias("sz2"),
    ).agg(F.count("*").alias("inter_size"))
    pairs = (
        inter.where(
            jaccard_condition(F.col("inter_size"), F.col("sz1"), F.col("sz2"), threshold)
        )
        .select(
            "id1",
            "id2",
            F.col("inter_size").cast("long").alias("inter_size"),
            (F.col("sz1") + F.col("sz2") - F.col("inter_size")).cast("long").alias("union_size"),
        )
    )
    return pairs, drops
