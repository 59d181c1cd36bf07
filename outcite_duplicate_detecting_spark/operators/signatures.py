"""Unified one-pass signature stage for the pipeline's three detectors.

Standalone, each detector (minhash.py / simhash.py / substring.py) runs its
own Arrow-batched UDF over the text column — three text transfers, two
word-shingle passes, three stage barriers, three eager checkpoints. In the
pipeline all three run over the SAME collapsed representatives, so this
module computes every signature in one UDF pass per row:

    text ──► words ─ FNV(word) ─► 3-gram hash combos ─► minhash signature
                              └─► 2-gram hash combos ─► simhash fold
         └──────────► k-gram rolling hashes ──► winnowed fingerprints

One Arrow transfer in (text), one out (4 numpy arrays — no Python list
boxing), ONE checkpoint feeding all three candidate joins. Words are
hashed once and shingle hashes derive from word hashes by vectorized
arithmetic (``hash_shingles_from_word_hashes``) instead of re-hashing
every shingle string — measured 2.2 → 1.3 ms/doc-core vs the per-detector
UDF chains. This is the scale path (10^12 docs: the signature pass is the
dominant map-side cost).

Semantics: shingle *identity* (and hence exact-Jaccard verification,
minhash banding, simhash folding) is preserved — equal word sequences map
to equal hashes. The kernels and hash family are the standalone
detectors' own (minhash.add_signature, simhash.add_simhash,
substring.fingerprint_udf), so for the same config each signature equals
its standalone counterpart.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import (
    fnv1a64_strings,
    hash_shingles_from_word_hashes,
    minhash_params,
    minhash_signature,
    simhash64,
    to_i64,
    winnow,
)
from ..functions.text import py_words
from .minhash import MinHashConfig
from .simhash import SimHashConfig
from .substring import SubstringConfig

SIG_SCHEMA = T.StructType(
    [
        T.StructField("shingle_hashes", T.ArrayType(T.LongType())),
        T.StructField("minhash_sig", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
        T.StructField("fingerprints", T.ArrayType(T.LongType())),
    ]
)


def unified_signature_udf(
    mh: MinHashConfig, sh: SimHashConfig, sub: SubstringConfig
):
    a, b = minhash_params(mh.num_perm, mh.seed)
    mh_n, sh_n = mh.shingle_n, sh.gram_n
    k, w = sub.k, sub.w

    @F.pandas_udf(SIG_SCHEMA)
    def sign_all(texts: pd.Series) -> pd.DataFrame:
        sh_hashes, mh_sigs, sh_sigs, fps = [], [], [], []
        for t in texts:
            wh = fnv1a64_strings(py_words(t))
            tri_h = hash_shingles_from_word_hashes(wh, mh_n)
            sh_hashes.append(to_i64(tri_h))
            mh_sigs.append(to_i64(minhash_signature(tri_h, a, b)))
            bi_h = hash_shingles_from_word_hashes(wh, sh_n)
            sh_sigs.append(np.int64(np.uint64(simhash64(bi_h))))
            fps.append(to_i64(winnow(t if t is not None else "", k, w)))
        return pd.DataFrame(
            {
                "shingle_hashes": sh_hashes,
                "minhash_sig": mh_sigs,
                "simhash": sh_sigs,
                "fingerprints": fps,
            }
        )

    return sign_all


def add_all_signatures(
    df: DataFrame,
    mh: MinHashConfig,
    sh: SimHashConfig,
    sub: SubstringConfig,
    text_col: str = "text",
) -> DataFrame:
    packed = df.withColumn("_sig", unified_signature_udf(mh, sh, sub)(F.col(text_col)))
    return packed.select(
        "*",
        F.col("_sig.shingle_hashes").alias("shingle_hashes"),
        F.col("_sig.minhash_sig").alias("minhash_sig"),
        F.col("_sig.simhash").alias("simhash"),
        F.col("_sig.fingerprints").alias("fingerprints"),
    ).drop("_sig")
