"""64-bit SimHash detector with pigeonhole byte-block candidates.

Algorithmic parity with the reference's simhash pass
(/root/reference/code/blocking/code/simhash_components_disk_v3.py):

- per-feature 64-bit hashes → bit-majority fold into one 64-bit signature
  (feats2docint, :182-187),
- candidate generation: with the signature split into 8 byte-blocks and
  Hamming radius k=7, any pair within radius must agree on ≥1 whole block
  (pigeonhole; the reference realizes this as 8 lexsort orderings,
  :258-275 — here it is a plain equi-join on (block_idx, block_value)),
- verification: popcount(sig1 XOR sig2) ≤ k (dif, :179-180) — in Spark a
  built-in: bit_count(xor) (SURVEY.md §2.3).

The hash family is the pipeline sign stage's wordhash kernel (and the
``dedup_simhash`` DuckDB oracle's): each word is FNV-1a-hashed once and
word n-gram hashes derive from the word hashes by vector arithmetic
(functions/hashing.hash_shingles_from_word_hashes). Signature values
therefore differ from the reference's string-FNV over gram strings
(:159-177); the Hamming structure is the same (equal word sequences ⇒
equal feature hashes).

Scale note (10^12 docs): 8-bit block keys collide at rate 1/256, so the
naive candidate join is quadratic at web scale. Controls, in order:
(1) collapse exact dups first (operators/dedup.collapse_exact),
(2) ``max_bucket_size`` cap with drop counters (reference guard analogue,
    /root/reference/code/common.py:96),
(3) the ``bits_per_band=16`` configuration (4 blocks, exact for k ≤ 3;
    exact for k ≤ 7 with ``multi_probe``) whose keys collide at 1/65536 —
    the recommended web-scale setting.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import (
    fnv1a64_strings,
    hash_shingles_from_word_hashes,
    simhash64,
)
from ..functions.partitioning import spread_small_input
from ..functions.text import py_words
from .joins import PairGenResult, _capped_buckets, band_candidate_pairs


@dataclass
class SimHashConfig:
    # word BIgrams by default: unigram sets collapse on narrow vocabularies
    # (every doc ≈ the whole vocab ⇒ hamming ≈ 0 between unrelated docs),
    # while bigrams keep near-dup pairs ≤ k and random pairs far above it
    gram_n: int = 2
    hamming_k: int = 7
    bits_per_band: int = 8  # 8 → 8 blocks (exact for k ≤ 7); 16 → 4 blocks (k ≤ 3)
    # 1-bit multi-probe: the query side of the band join also posts every
    # single-bit flip of each band value. Pigeonhole: if every band of a
    # pair differs in ≥2 bits, hamming ≥ 2·bands — so probing recovers
    # EXACTNESS for k ≤ 2·bands−1. The web-scale setting is
    # bits_per_band=16 + multi_probe (exact k ≤ 7 with 16-bit keys whose
    # random-collision rate is 17/65536 per band ≈ 30× below 8-bit blocks);
    # plain 16-bit banding is exact only to k ≤ 3 and leaves the 4..7 tail
    # probabilistic.
    multi_probe: bool = False
    max_bucket_size: int | None = 25000

    @property
    def bands(self) -> int:
        return 64 // self.bits_per_band

    def exactness_holds(self) -> bool:
        """Pigeonhole guarantee: plain banding is exact when some block
        must be untouched (k < bands); 1-bit multi-probe is exact when
        some block must carry ≤1 flipped bit (k ≤ 2·bands−1)."""
        if self.multi_probe:
            return self.hamming_k <= 2 * self.bands - 1
        return self.hamming_k < self.bands


def add_simhash(
    df: DataFrame, cfg: SimHashConfig, text_col: str = "text", out_col: str = "simhash"
) -> DataFrame:
    """Append the 64-bit signature of each text's distinct word
    ``gram_n``-grams. Word features, as the reference's simhash hashes
    word/field features rather than raw character windows
    (simhash_components_disk_v3.py hashes representation feature strings);
    on narrow-vocabulary text the char-gram *set* of unrelated documents
    largely coincides, which makes char-gram simhash collide at k=7."""
    n = cfg.gram_n

    @F.pandas_udf(T.LongType())
    def sign_wordhash(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=np.uint64)
        for i, t in enumerate(texts):
            wh = fnv1a64_strings(py_words(t))
            out[i] = simhash64(hash_shingles_from_word_hashes(wh, n))
        return pd.Series(out.view(np.int64))

    return df.withColumn(out_col, sign_wordhash(F.col(text_col)))


def block_postings(
    df: DataFrame,
    cfg: SimHashConfig,
    id_col: str = "id",
    sig_col: str = "simhash",
    keep_sig: bool = False,
) -> DataFrame:
    """(id, band_key): band_key = the band's bits of the signature with the
    band INDEX folded into the high bits (value | band_idx << w) — one flat
    long key per posting instead of a two-column (band_idx, band_key) join
    key; grouping semantics are identical since the fold is injective.

    Pure JVM bit ops: shiftrightunsigned + mask — no UDF. ``keep_sig``
    carries the full signature through (8 bytes/posting) so the band join
    can verify Hamming distance in-join (``simhash_pairs`` fused path)."""
    w = cfg.bits_per_band
    mask = (1 << w) - 1
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col(sig_col), bi * w)
            .bitwiseAND(F.lit(mask))
            .bitwiseOR(F.lit(bi << w))
            for bi in range(cfg.bands)
        ]
    )
    extra = [F.col(sig_col).alias("sig")] if keep_sig else []
    return df.select(
        F.col(id_col).alias("id"), *extra, F.explode(bands).alias("band_key")
    )


def hamming(col1, col2):
    return F.bit_count(col1.bitwiseXOR(col2))


def simhash_pairs(
    df: DataFrame,
    cfg: SimHashConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(verified_pairs, dropped_buckets).

    verified_pairs: (id1, id2, hamming_dist), id1 < id2, Hamming ≤ k over
    the 64-bit signatures. With the default 8×8 block config (or 16-bit
    bands + multi-probe) this is the EXACT set of ≤k pairs (pigeonhole) up
    to bucket-cap drops. Uses the fused join-verify
    (``simhash_verified_pairs``): no candidate materialization.
    """
    cfg = cfg or SimHashConfig()
    # spread: the signing UDF's parallelism is capped by the scan's
    # partition count (one-file tables sign on ONE core); no-op at scale
    base = spread_small_input(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")), key="id"
    )
    signed = add_simhash(base, cfg, text_col="text").select("id", "simhash")
    if cfg.multi_probe:
        # multi-probe consumes `signed` twice (index + probe sides);
        # materialize so the signing UDF runs once. The default grouped
        # path is a single linear chain — no checkpoint needed.
        signed = signed.localCheckpoint(eager=True)
    return simhash_verified_pairs(signed, cfg, id_col="id")


def simhash_verified_pairs(
    signed: DataFrame, cfg: SimHashConfig, id_col: str = "id", sig_col: str = "simhash"
) -> tuple[DataFrame, DataFrame]:
    """Band join and Hamming verification FUSED into one operator:
    (verified_pairs, dropped_buckets).

    The postings carry the 8-byte signature, so the band equi-join's output
    rows are filtered by ``bit_count(sig1 xor sig2) ≤ k`` inside whole-stage
    codegen BEFORE anything materializes. Versus the candidates-then-verify
    composition (``simhash_candidate_pairs`` + ``hamming_verify``) this
    removes the candidate-pair distinct shuffle and two signature
    join-backs — at multi-probe candidate volumes (n²·(w+1)/2^w per band on
    uniform signatures) those dominate the detector: measured 65.7M
    candidate rows → 231s at 8 cores for 400k docs, vs the same exact
    output through this path with the only shuffle being the postings
    exchange (+8 bytes/row). The surviving pair set is tiny (verified
    pairs), so the final distinct is cheap.

    Multi-probe orientation note: a ≤1-bit-flipped band matches in BOTH
    probe directions (XOR is symmetric — probe(a) hits band(b) iff
    probe(b) hits band(a)), so the plain ``id1 < id2`` predicate keeps
    exactly one instance of every pair; no double-orientation pass needed.
    """
    # grouped single-pass form (r6): ONE shuffle groups the index postings
    # into per-bucket member lists — bucket size, the cap filter, and pair
    # generation come from the same aggregation (joins._capped_buckets,
    # shared with band_candidate_pairs). The Hamming filter runs inside
    # whole-stage codegen directly on the explode output, so no candidate
    # set ever materializes.
    postings = block_postings(signed, cfg, id_col=id_col, sig_col=sig_col, keep_sig=True)
    kept, drops = _capped_buckets(
        postings, ["band_key"], F.struct("id", "sig"), cfg.max_bucket_size
    )
    if cfg.multi_probe:
        # a ≤1-bit flipped band matches in BOTH probe directions (XOR is
        # symmetric), so least/greatest keeps exactly one instance
        probe = probe_block_postings(
            signed, cfg, id_col=id_col, sig_col=sig_col, keep_sig=True
        )
        hits = (
            probe.join(kept.select("band_key", "members"), "band_key")
            .select(
                F.col("id").alias("_pid"),
                F.col("sig").alias("_psig"),
                F.explode("members").alias("m"),
            )
            .where(F.col("_pid") != F.col("m.id"))
            .withColumn(
                "hamming_dist", hamming(F.col("_psig"), F.col("m.sig")).cast("int")
            )
            .where(F.col("hamming_dist") <= cfg.hamming_k)
            .select(
                F.least("_pid", F.col("m.id")).alias("id1"),
                F.greatest("_pid", F.col("m.id")).alias("id2"),
                "hamming_dist",
            )
        )
    else:
        lhs = kept.select(F.posexplode("members").alias("i", "m1"), F.col("members"))
        hits = (
            lhs.select(
                F.col("m1.id").alias("id1"),
                F.col("m1.sig").alias("sig1"),
                F.explode(
                    F.slice("members", F.col("i") + 2, F.size("members"))
                ).alias("m2"),
            )
            .where(F.col("id1") < F.col("m2.id"))
            .withColumn(
                "hamming_dist", hamming(F.col("sig1"), F.col("m2.sig")).cast("int")
            )
            .where(F.col("hamming_dist") <= cfg.hamming_k)
            .select("id1", F.col("m2.id").alias("id2"), "hamming_dist")
        )
    return hits.distinct(), drops


def probe_block_postings(
    df: DataFrame,
    cfg: SimHashConfig,
    id_col: str = "id",
    sig_col: str = "simhash",
    keep_sig: bool = False,
) -> DataFrame:
    """Query-side postings for 1-bit multi-probe: every band value plus its
    ``bits_per_band`` single-bit flips — pure JVM bit ops; band_idx folds
    into the key exactly as in ``block_postings``."""
    w = cfg.bits_per_band
    mask = (1 << w) - 1
    entries = []
    for bi in range(cfg.bands):
        block = F.shiftrightunsigned(F.col(sig_col), bi * w).bitwiseAND(F.lit(mask))
        variants = [block] + [block.bitwiseXOR(F.lit(1 << j)) for j in range(w)]
        entries += [v.bitwiseOR(F.lit(bi << w)) for v in variants]
    extra = [F.col(sig_col).alias("sig")] if keep_sig else []
    return df.select(
        F.col(id_col).alias("id"), *extra, F.explode(F.array(*entries)).alias("band_key")
    )


def simhash_candidate_pairs(
    signed: DataFrame, cfg: SimHashConfig, id_col: str = "id", sig_col: str = "simhash"
) -> PairGenResult:
    postings = block_postings(signed, cfg, id_col=id_col, sig_col=sig_col)
    probe = (
        probe_block_postings(signed, cfg, id_col=id_col, sig_col=sig_col)
        if cfg.multi_probe
        else None
    )
    return band_candidate_pairs(
        postings,
        key_cols=["band_key"],
        id_col="id",
        max_bucket_size=cfg.max_bucket_size,
        probe_left=probe,
    )


def hamming_verify(
    pairs: DataFrame, signed: DataFrame, cfg: SimHashConfig, sig_col: str = "simhash"
) -> DataFrame:
    """popcount(xor) ≤ k verification of candidate pairs against
    (id, simhash) signatures."""
    s1 = signed.select(F.col("id").alias("id1"), F.col(sig_col).alias("sig1"))
    s2 = signed.select(F.col("id").alias("id2"), F.col(sig_col).alias("sig2"))
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("hamming_dist", hamming(F.col("sig1"), F.col("sig2")).cast("int"))
        .where(F.col("hamming_dist") <= cfg.hamming_k)
        .select("id1", "id2", "hamming_dist")
    )
