"""Per-layer measurement from outside the package.

- ``Tracer`` wraps public functions (``plans.pipeline.run_stage``, the
  operator pair generators) for one traced pipeline call: a span per call
  (name, start, end, thread, parent) and, for stages, a Spark job
  description ``perfbench:<stage>`` set in the calling thread, so the
  event log can be folded per stage.
- ``fold_event_log`` sums Spark's TaskEnd metrics per job description.
- ``count_joins`` re-runs the three candidate generators over the sign
  checkpoint through their public functions, for the candidate counts,
  bucket-size quantiles and cap drops the pipeline does not keep.
- ``kernel_us_per_doc`` times the signing kernels in process, no Spark.
"""

from __future__ import annotations

import functools
import glob
import json
import statistics
import threading
import time
from collections import defaultdict

DESC_PREFIX = "perfbench:"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self.root: int | None = None  # parent of spans opened on other threads
        self.own_s = 0.0  # seconds spent in span bookkeeping, summed over threads

    def span(self, name: str, fn, *args, describe: bool = False, root: bool = False, **kwargs):
        """Call ``fn`` inside a span. A ``root`` span also parents the
        spans that other threads open while it runs."""
        t_enter = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None if root else self.root,
                "thread": threading.current_thread().name,
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
            if root:
                self.root = sid
        sc = self.spark.sparkContext
        if describe:
            prev = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(DESC_PREFIX + name)
        stack.append(sid)
        t_call = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            rec["end"] = t_return = time.perf_counter()
            if describe:
                sc.setJobDescription(prev)
            if root:
                self.root = None
            with self._lock:
                self.own_s += t_call - t_enter + time.perf_counter() - t_return

    def wrap(self, module, attr: str, name_of=None, describe: bool = False) -> None:
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            name = name_of(args, kwargs) if name_of else attr
            return self.span(name, orig, *args, describe=describe, **kwargs)

        self._restore.append((module, attr, orig))
        setattr(module, attr, traced)

    def unwrap_all(self) -> None:
        while self._restore:
            module, attr, orig = self._restore.pop()
            setattr(module, attr, orig)

    def install_pipeline(self) -> None:
        from outcite_duplicate_detecting_spark.operators import (
            joins,
            minhash,
            simhash,
            substring,
        )
        from outcite_duplicate_detecting_spark.plans import pipeline

        def stage_name(args, kwargs):
            return kwargs["stage"] if "stage" in kwargs else args[2]

        self.wrap(pipeline, "run_stage", stage_name, describe=True)
        self.wrap(pipeline, "connected_components")
        self.wrap(minhash, "minhash_candidate_pairs")
        self.wrap(minhash, "verify_jaccard")
        self.wrap(simhash, "simhash_verified_pairs")
        self.wrap(joins, "band_candidate_pairs")
        self.wrap(substring, "containment_verify")


def interval_union(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


_FOLDED = tuple(
    f'{{"Event":"SparkListener{k}"'
    for k in ("JobStart", "StageSubmitted", "TaskEnd")
)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Job description -> {jobs, task_s, shuffle_write_mb, spill_mb,
    task_skew}. task_skew is max / median executor run time over the tasks
    of the description's heaviest Spark stage."""
    (path,) = glob.glob(f"{log_dir}/*")
    stage_desc: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            # most of the log's bytes are SQL plan events, not read here
            if not line.startswith(_FOLDED):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc:
                    jobs[desc] += 1
            elif kind == "SparkListenerStageSubmitted":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc:
                    stage_desc[ev["Stage Info"]["Stage ID"]] = desc
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks[ev["Stage ID"]].append(
                    (
                        m.get("Executor Run Time", 0),
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        m.get("Disk Bytes Spilled", 0),
                    )
                )
    out: dict[str, dict] = {}
    for desc in set(stage_desc.values()) | set(jobs):
        sids = [s for s, d in stage_desc.items() if d == desc]
        runs = [t for s in sids for t in tasks.get(s, [])]
        heavy = max(
            (tasks.get(s, []) for s in sids),
            key=lambda ts: sum(t[0] for t in ts),
            default=[],
        )
        skew = 0.0
        if heavy:
            times = [t[0] for t in heavy]
            skew = max(times) / max(statistics.median(times), 1.0)
        out[desc] = {
            "jobs": jobs.get(desc, 0),
            "task_s": sum(t[0] for t in runs) / 1e3,
            "shuffle_write_mb": sum(t[1] for t in runs) / 2**20,
            "spill_mb": sum(t[2] for t in runs) / 2**20,
            "task_skew": skew,
        }
    return out


def _bucket_stats(postings, key_cols: list[str]) -> dict:
    """Exact p99 / max bucket size and sum of C(b, 2) over all buckets,
    from a histogram of bucket sizes (one small collect)."""
    from pyspark.sql import functions as F

    hist = sorted(
        (r[0], r[1])
        for r in postings.groupBy(*key_cols)
        .agg(F.count("*").alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    n = sum(c for _b, c in hist)
    rank, seen, p99 = 0.99 * n, 0, 0
    for b, c in hist:
        seen += c
        if seen >= rank:
            p99 = b
            break
    return {
        "bucket_p99": float(p99),
        "bucket_max": float(hist[-1][0] if hist else 0),
        "pair_fanout": float(sum(b * (b - 1) // 2 * c for b, c in hist)),
    }


def count_joins(spark, tracer: Tracer, sign_dir: str, cfg, verified: dict[str, int]) -> dict:
    """joins.<d>.{candidates, verify_yield, cap_drops, bucket_p99,
    bucket_max, pair_fanout} for the three detectors, computed the way the
    pipeline builds its candidates, over its own sign checkpoint.
    ``verified`` is each detector stage's output row count."""
    from pyspark.sql import functions as F

    from outcite_duplicate_detecting_spark.operators.joins import band_candidate_pairs
    from outcite_duplicate_detecting_spark.operators.minhash import (
        band_postings,
        minhash_candidate_pairs,
    )
    from outcite_duplicate_detecting_spark.operators.simhash import (
        block_postings,
        simhash_candidate_pairs,
    )

    signed = spark.read.parquet(sign_dir).withColumnRenamed("rep_id", "id")
    spark.sparkContext.setJobDescription(DESC_PREFIX + "count")
    fps = signed.select("id", F.explode("fingerprints").alias("fp"))
    minfp = (
        signed.where(F.col("n_chars") >= cfg.substring.min_len)
        .select("id", F.array_min("fingerprints").alias("fp"))
        .where(F.col("fp").isNotNull())
    )
    # the pipeline's simhash stage filters by Hamming distance inside its
    # band join; simhash_candidate_pairs is the same band + probe join
    # without that filter, so its pairs are the ones the stage scores
    plans = {
        "minhash": (
            lambda: minhash_candidate_pairs(signed, cfg.minhash, id_col="id"),
            band_postings(signed, cfg.minhash),
            ["band_key"],
        ),
        "simhash": (
            lambda: simhash_candidate_pairs(signed, cfg.simhash, id_col="id"),
            block_postings(signed, cfg.simhash),
            ["band_key"],
        ),
        "substring": (
            lambda: band_candidate_pairs(
                fps,
                key_cols=["fp"],
                id_col="id",
                max_bucket_size=cfg.substring.max_fingerprint_df,
                probe_left=minfp,
                probe_unique=True,
            ),
            fps,
            ["fp"],
        ),
    }
    out = {}
    try:
        for d, (make, postings, keys) in plans.items():
            res = tracer.span(f"count.{d}", make)
            candidates = tracer.span(f"count.{d}.pairs", res.pairs.distinct().count)
            out[d] = {
                "candidates": float(candidates),
                "verify_yield": verified[d] / max(candidates, 1),
                "cap_drops": float(res.drops.count()),
                **_bucket_stats(postings, keys),
            }
    finally:
        spark.sparkContext.setJobDescription(None)
    return out


def kernel_us_per_doc(texts: list[str], cfg, reps: int = 3) -> dict[str, float]:
    """Median µs per document of each signing kernel and of the whole
    unified signature UDF body, over ``reps`` passes of ``texts``."""
    import pandas as pd

    from outcite_duplicate_detecting_spark.functions.hashing import (
        fnv1a64_strings,
        hash_shingles_from_word_hashes,
        minhash_params,
        minhash_signature,
        simhash64,
        winnow,
    )
    from outcite_duplicate_detecting_spark.functions.text import py_words
    from outcite_duplicate_detecting_spark.operators.signatures import (
        unified_signature_udf,
    )

    a, b = minhash_params(cfg.minhash.num_perm, cfg.minhash.seed)
    mh_n, sh_n = cfg.minhash.shingle_n, cfg.simhash.gram_n
    k, w = cfg.substring.k, cfg.substring.w
    words = [py_words(t) for t in texts]
    wh = [fnv1a64_strings(x) for x in words]
    tri = [hash_shingles_from_word_hashes(h, mh_n) for h in wh]
    bi = [hash_shingles_from_word_hashes(h, sh_n) for h in wh]
    sign_body = unified_signature_udf(cfg.minhash, cfg.simhash, cfg.substring).func
    series = pd.Series(texts)
    kernels = {
        "hashing.words_us_per_doc": lambda: [py_words(t) for t in texts],
        "hashing.fnv1a64_us_per_doc": lambda: [fnv1a64_strings(x) for x in words],
        "hashing.shingles_us_per_doc": lambda: [
            (hash_shingles_from_word_hashes(h, mh_n), hash_shingles_from_word_hashes(h, sh_n))
            for h in wh
        ],
        "hashing.minhash_us_per_doc": lambda: [minhash_signature(x, a, b) for x in tri],
        "hashing.simhash_us_per_doc": lambda: [simhash64(x) for x in bi],
        "hashing.winnow_us_per_doc": lambda: [winnow(t, k, w) for t in texts],
        "signatures.udf_us_per_doc": lambda: sign_body(series),
    }
    out = {}
    for name, fn in kernels.items():
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            samples.append((time.perf_counter() - t0) / len(texts) * 1e6)
        out[name] = statistics.median(samples)
    return out
