"""Candidate-pair generation: the one band join every detector uses.

The LSH band equi-join (SURVEY.md §2.3; reference analogue: the lexsort
adjacency scan in /root/reference/code/blocking/code/
simhash_components_disk_v3.py:258-275) groups a postings DataFrame
``(id, key...)`` into per-key member lists in ONE shuffle — bucket
size, the cap filter, and pair generation (posexplode + tail-slice
explode, row memory O(bucket)) all derive from that single aggregation
(r6; formerly a bucket-size aggregation + broadcast anti-join + a
two-sided self-join that shuffled the postings twice). Hot keys (a band
shared by an exact-dup cluster, a ubiquitous fingerprint) still make
all-pairs generation quadratic in the bucket size, so the cap is
explicit — the reference's analogue is its hard 25000-doc group guard
(/root/reference/code/common.py:96): buckets above ``max_bucket_size``
are excluded from pair generation and *accounted for* in a drops
DataFrame (north_rule: documented drop counters, never silent
truncation). ``_capped_buckets`` is that policy, shared with the fused
simhash join (operators/simhash.simhash_verified_pairs).

Pairs are ordered (id1 < id2) and distinct.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class PairGenResult:
    pairs: DataFrame  # (id1, id2) distinct, id1 < id2
    drops: DataFrame  # (key..., bucket_size) buckets excluded by the cap


def _capped_buckets(
    postings: DataFrame,
    key_cols: list[str],
    member: Column,
    max_bucket_size: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(kept, drops): ``postings`` grouped per key into sorted ``members``
    lists of ``member`` plus ``bucket_size``, split at the cap. ``kept``
    holds (key..., members, bucket_size) for buckets within the cap (all
    of them when ``max_bucket_size`` is None); ``drops`` holds (key...,
    bucket_size) for the buckets excluded from pair generation (empty
    when uncapped)."""
    grouped = postings.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list(member)).alias("members"),
        F.count("*").alias("bucket_size"),
    )
    if max_bucket_size is None:
        drops = (
            postings.select(*key_cols)
            .limit(0)
            .withColumn("bucket_size", F.lit(0).cast("long"))
        )
        return grouped, drops
    drops = grouped.where(F.col("bucket_size") > max_bucket_size).select(
        *key_cols, "bucket_size"
    )
    return grouped.where(F.col("bucket_size") <= max_bucket_size), drops


def band_candidate_pairs(
    postings: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    max_bucket_size: int | None = None,
    probe_left: DataFrame | None = None,
    probe_unique: bool = False,
) -> PairGenResult:
    """All distinct ordered id pairs co-occurring under any key.

    ``postings`` rows: (id, key...). Multiple keys per id are expected
    (bands, fingerprints); the output is distinct across keys.

    ``probe_left``: optional EXPANDED postings (same schema) joined
    against the original table instead of a plain self-join — the
    multi-probe pattern (e.g. 1-bit simhash band flips). Bucket sizes and
    the cap are always measured on the ORIGINAL postings; dropped keys are
    excluded from both sides.

    ``probe_unique``: set when ``probe_left`` posts at most ONE row per
    id (e.g. the substring detector's global-min fingerprint probe) — a
    pair is then generated at most once per probe orientation (≤2 total,
    exactly when each side carries the other's min in its posting set),
    so the trailing distinct exchange is skipped and deduplication is
    deferred to the caller's verification (which already ends in a
    distinct). Only valid for callers whose downstream dedups.
    """
    keyed = postings.select(id_col, *key_cols)
    kept, drops = _capped_buckets(keyed, key_cols, F.col(id_col), max_bucket_size)

    if probe_left is not None:
        # asymmetric probe join: probe rows hit the grouped index bucket
        # and fan out over its members. A dropped key is absent from
        # `kept`, so the inner join excludes it from both sides — the cap
        # is still measured on the ORIGINAL postings only. A ≤1-bit
        # flipped band matches in BOTH probe directions (XOR symmetric),
        # so least/greatest normalization keeps exactly one orientation.
        probe = probe_left.select(F.col(id_col).alias("_pid"), *key_cols)
        pairs = (
            probe.join(kept.select(*key_cols, "members"), on=key_cols)
            .select("_pid", F.explode("members").alias("_mid"))
            .where(F.col("_pid") != F.col("_mid"))
            .select(
                F.least("_pid", "_mid").alias("id1"),
                F.greatest("_pid", "_mid").alias("id2"),
            )
        )
        if probe_unique:
            return PairGenResult(pairs.select("id1", "id2"), drops)
    else:
        # two-step pair expansion (posexplode + tail-slice explode): row
        # memory stays O(bucket), never O(bucket²); sort_array orders
        # members so emitted pairs satisfy id1 < id2 by construction
        lhs = kept.select(F.posexplode("members").alias("i", "id1"), F.col("members"))
        pairs = lhs.select(
            "id1",
            F.explode(F.slice("members", F.col("i") + 2, F.size("members"))).alias(
                "id2"
            ),
        ).where(F.col("id1") < F.col("id2"))
    # plain distinct: map-side partial dedup collapses the (band-count ×)
    # duplicate factor before the shuffle. Reducer parallelism for these
    # byte-small/CPU-heavy shuffles is protected by the session's
    # adaptive.coalescePartitions.minPartitionSize setting (session.py).
    return PairGenResult(pairs.select("id1", "id2").distinct(), drops)

