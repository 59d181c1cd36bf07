"""One benchmark process: set up, warm up, measure, check (see run.py).

Started by run.py under ``taskset``; writes its result object to ``--out``
and a detailed record (every iteration, the spans of a traced run) to
``.perfbench/results/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
from procs import TreeSampler  # noqa: E402

# input rows per workload: the pipeline's fixed cost per call (job
# scheduling, AQE re-plans, CC rounds) is most of a call at these sizes,
# and one run, with its JVM start and cold warm-up call, already takes
# 45-60 s on a busy 4-core host
ROWS = {"web_mixed": 1500, "dup_dense": 2000}
INPUT_BUILDS = 3  # set-up repeats whose median enters setup_s
# one checked, untimed full-size pipeline call before measuring: the
# first call of a JVM takes ~2x a warm one (JIT, generated-code
# compiles, Python worker start); the call after it is within ~10% of
# later ones, and a second warm-up would make each run a quarter longer
KERNEL_SAMPLE = 100  # distinct texts timed by the kernel microbench

STAGES = (
    "collapse",
    "membership",
    "sign",
    "minhash",
    "simhash",
    "substring",
    "components",
    "expand",
    "duplicates",
    "writeback",
)
DETECTORS = ("minhash", "simhash", "substring")
STAGE_FIELDS = {
    "wall_s": "s",
    "task_s": "s",
    "rows_out": "count",
    "shuffle_write_mb": "MiB",
    "spill_mb": "MiB",
    "task_skew": "ratio",
    "jobs": "count",
}
JOIN_FIELDS = {
    "candidates": "count",
    "verify_yield": "ratio",
    "cap_drops": "count",
    "bucket_p99": "count",
    "bucket_max": "count",
    "pair_fanout": "count",
}
END_TO_END = {
    "docs_per_sec": "docs/s",
    "wall_s": "s",
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
    "dup_pair_recall": "fraction",
    "dup_pair_precision": "fraction",
    "ok_rate": "fraction",
}


def per_layer_units() -> dict[str, str]:
    from queries import NAMES

    units = {
        f"stage.{s}.{f}": u for s in STAGES for f, u in STAGE_FIELDS.items()
    }
    units |= {f"joins.{d}.{f}": u for d in DETECTORS for f, u in JOIN_FIELDS.items()}
    units |= {
        f"hashing.{k}_us_per_doc": "us"
        for k in ("words", "fnv1a64", "shingles", "minhash", "simhash", "winnow")
    }
    units |= {
        "signatures.udf_us_per_doc": "us",
        "pipeline.critical_path_s": "s",
        "pipeline.span_gap_s": "s",
        "pipeline.core_busy_frac": "fraction",
        "manifest.checkpoint_mb": "MiB",
        "trace.overhead_s": "s",
    }
    units |= {f"query.{q}.wall_s": "s" for q in NAMES}
    return units


# ----------------------------------------------------------------- input


def build_input(workload: str, seed: int, path: str) -> tuple[list, str]:
    rows = gen.corpus(workload, seed, ROWS[workload]).rows()
    table = pa.table(
        {
            "url": [r.url for r in rows],
            "warc_ts": pa.array([r.warc_ts for r in rows], pa.timestamp("us", tz="UTC")),
            "html": [r.html for r in rows],
            "text": [r.text for r in rows],
            "lang": [r.lang for r in rows],
        }
    )
    pq.write_table(table, path)
    with open(path, "rb") as f:
        return rows, hashlib.sha256(f.read()).hexdigest()


# ----------------------------------------------------------------- checks


def _pairs(sizes) -> int:
    return sum(n * (n - 1) // 2 for n in sizes)


def check_outputs(workdir: str, rows: list) -> tuple[list[str], float, float]:
    """(problems, dup-pair recall, dup-pair precision) of one pipeline run,
    read from its expand and writeback checkpoints."""
    problems = []
    by_url = {r.url: r for r in rows}
    a = pq.read_table(os.path.join(workdir, "expand", "data")).to_pydict()
    urls = a["url"]
    if len(urls) != len(rows) or set(urls) != set(by_url):
        problems.append(f"{len(urls)} assignment rows for {len(rows)} input urls")
    members = defaultdict(list)
    for doc_id, cid in zip(a["doc_id"], a["cluster_id"]):
        members[cid].append(doc_id)
    if any(cid != min(ids) for cid, ids in members.items()):
        problems.append("a cluster_id is not the minimum doc_id of its cluster")
    if any(dup != (len(members[c]) > 1) for c, dup in zip(a["cluster_id"], a["is_duplicate"])):
        problems.append("is_duplicate disagrees with cluster size")

    w = pq.read_table(
        os.path.join(workdir, "writeback", "data"),
        columns=["url", "text", "text_original", "has_duplicate_ids"],
    ).to_pydict()
    if len(w["url"]) != len(rows) or set(w["url"]) != set(by_url):
        problems.append(f"{len(w['url'])} writeback rows for {len(rows)} input urls")
    dup_of = dict(zip(urls, a["is_duplicate"]))
    for url, text, orig, has in zip(w["url"], w["text"], w["text_original"], w["has_duplicate_ids"]):
        kept = orig if has else text
        if url in by_url and (kept != by_url[url].text or has != dup_of.get(url)):
            problems.append(f"writeback lost the original text of {url}")
            break

    pred = dict(zip(urls, a["cluster_id"]))
    both = Counter((pred.get(u), r.gold) for u, r in by_url.items())
    true_pos = _pairs(both.values())
    gold_pairs = _pairs(Counter(r.gold for r in rows).values())
    pred_pairs = _pairs(Counter(pred.values()).values())
    recall = true_pos / gold_pairs if gold_pairs else 1.0
    precision = true_pos / pred_pairs if pred_pairs else 1.0
    return problems, recall, precision


# ------------------------------------------------------------------- run


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    ) / 2**20


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


class Run:
    def __init__(self, args):
        self.args = args
        self.rundir = args.rundir
        self.iters: list[dict] = []
        self.attempted = 0
        self.passed = 0
        self.failures: list[str] = []
        self.spark = None
        self.rows: list = []

    def iteration(self, pages, rows, cfg, sampler, tracer=None, keep: bool = False) -> dict | None:
        """One checked pipeline call; None when it raised or failed a check."""
        from outcite_duplicate_detecting_spark.plans.pipeline import dedup_pipeline_full

        self.attempted += 1
        workdir = os.path.join(self.rundir, f"work{self.attempted}")
        sampler.begin()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                dedup_pipeline_full(self.spark, pages, cfg, workdir=workdir)
            else:
                tracer.span(
                    "pipeline", dedup_pipeline_full, self.spark, pages, cfg,
                    workdir=workdir, root=True,
                )
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            self.failures.append(traceback.format_exc())
            traceback.print_exc()
            return None
        wall = time.perf_counter() - t0
        cpu, rss = sampler.end()
        problems, recall, precision = check_outputs(workdir, rows)
        rec = {
            "wall_s": wall,
            "cpu_s": cpu,
            "peak_rss_mb": rss,
            "recall": recall,
            "precision": precision,
            "problems": problems,
            "workdir": workdir,
        }
        if not keep:
            shutil.rmtree(workdir, ignore_errors=True)
        if problems:
            self.failures.extend(problems)
            return None
        self.passed += 1
        return rec

    def main(self) -> dict:
        args = self.args
        t_start = args.t0
        os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
        from outcite_duplicate_detecting_spark.plans.pipeline import PipelineConfig
        from outcite_duplicate_detecting_spark.session import get_spark

        # the whole heap is committed and touched at start: left to grow on
        # demand, the committed heap of identical runs differs by up to 30%,
        # which would swamp any change in the memory the pipeline adds
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        conf = {"spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch"}
        if args.trace:
            log_dir = os.path.join(self.rundir, "eventlog")
            os.makedirs(log_dir)
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                # one plain JSON-lines file, readable without a zstd codec
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        self.spark = get_spark(cores=args.cores, extra_conf=conf)
        session_s = time.time() - t_start

        builds, shas = [], set()
        for i in range(INPUT_BUILDS):
            t0 = time.perf_counter()
            self.rows, sha = build_input(args.workload, args.seed, os.path.join(self.rundir, f"pages{i}.parquet"))
            builds.append(time.perf_counter() - t0)
            shas.add(sha)
        if len(shas) != 1:
            self.failures.append("the same seed built different input bytes")
        pages = self.spark.read.parquet(os.path.join(self.rundir, "pages0.parquet"))
        cfg = PipelineConfig()

        with TreeSampler() as sampler:
            warm = self.iteration(pages, self.rows, cfg, sampler)  # None if it failed
            # process start to here, with the input build counted once
            setup_s = time.time() - t_start - sum(builds) + _median(builds)

            detail = {
                "setup": {"session_s": session_s, "input_builds_s": builds, "warmup": warm},
            }
            if args.trace:
                metrics = self.traced(pages, cfg, sampler, detail)
            else:
                t_loop = time.perf_counter()
                while True:
                    rec = self.iteration(pages, self.rows, cfg, sampler)
                    if rec:
                        self.iters.append(rec)
                    if time.perf_counter() - t_loop >= args.seconds:
                        break
                if not self.iters:
                    raise RuntimeError("no pipeline run passed its checks")
                detail["iterations"] = self.iters
                walls = [r["wall_s"] for r in self.iters]
                metrics = {
                    "docs_per_sec": len(self.rows) / _median(walls),
                    "wall_s": _median(walls),
                    "setup_s": setup_s,
                    "cpu_s": _median([r["cpu_s"] for r in self.iters]),
                    "peak_rss_mb": _median([r["peak_rss_mb"] for r in self.iters]),
                    "dup_pair_recall": _median([r["recall"] for r in self.iters]),
                    "dup_pair_precision": _median([r["precision"] for r in self.iters]),
                    "ok_rate": self.passed / self.attempted,
                }
        units = per_layer_units() if args.trace else END_TO_END
        detail["failures"] = self.failures
        self._write_detail(detail, metrics)
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": self.attempted - self.passed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }

    def traced(self, pages, cfg, sampler, detail: dict) -> dict:
        import layers as tr
        from queries import run_queries

        tracer = tr.Tracer(self.spark)
        tracer.install_pipeline()
        try:
            rec = self.iteration(pages, self.rows, cfg, sampler, tracer=tracer, keep=True)
        finally:
            tracer.unwrap_all()
        if rec is None:
            raise RuntimeError("the traced pipeline run failed")
        # measured inside the tracer: a traced-minus-untraced difference of
        # two calls is call-to-call noise of a few seconds, around an
        # overhead of milliseconds, and costs another pipeline call
        overhead = tracer.own_s
        detail["iterations"] = [rec]
        workdir = rec["workdir"]
        spans = {s["name"]: s for s in tracer.spans}
        wall = rec["wall_s"]
        m: dict[str, float] = {}
        rows_out = {}
        for s in STAGES:
            with open(os.path.join(workdir, s, "manifest.json")) as f:
                rows_out[s] = json.load(f)["rows"]
            m[f"stage.{s}.wall_s"] = spans[s]["end"] - spans[s]["start"]
            m[f"stage.{s}.rows_out"] = rows_out[s]
        chain = ["collapse", "sign", "components", "expand", "duplicates", "writeback"]
        m["pipeline.critical_path_s"] = sum(m[f"stage.{s}.wall_s"] for s in chain) + max(
            m[f"stage.{d}.wall_s"] for d in DETECTORS
        )
        m["pipeline.span_gap_s"] = wall - tr.interval_union(
            [(spans[s]["start"], spans[s]["end"]) for s in STAGES]
        )
        m["manifest.checkpoint_mb"] = sum(_dir_mb(os.path.join(workdir, s, "data")) for s in STAGES)
        m["trace.overhead_s"] = overhead

        joins = tr.count_joins(
            self.spark, tracer, os.path.join(workdir, "sign", "data"), cfg,
            {d: rows_out[d] for d in DETECTORS},
        )
        for d, vals in joins.items():
            m |= {f"joins.{d}.{k}": v for k, v in vals.items()}
        shutil.rmtree(workdir, ignore_errors=True)

        t0 = time.perf_counter()
        texts = sorted({r.text for r in self.rows})
        sample = random.Random(self.args.seed).sample(texts, min(KERNEL_SAMPLE, len(texts)))
        m |= tr.kernel_us_per_doc(sample, cfg)
        detail["kernels_s"] = time.perf_counter() - t0

        qroot = os.path.join(self.rundir, "queries")
        walls, qfail = run_queries(self.spark, tracer, qroot, self.args.seed)
        self.failures.extend(qfail)
        m |= {f"query.{q}.wall_s": w for q, w in walls.items()}

        t0 = time.perf_counter()
        self.spark.stop()
        folded = tr.fold_event_log(os.path.join(self.rundir, "eventlog"))
        detail["stop_and_fold_s"] = time.perf_counter() - t0
        busy = 0.0
        for s in STAGES:
            f = folded.get(tr.DESC_PREFIX + s, {})
            for k in ("task_s", "shuffle_write_mb", "spill_mb", "task_skew", "jobs"):
                m[f"stage.{s}.{k}"] = f.get(k, 0.0)
            busy += f.get("task_s", 0.0)
        m["pipeline.core_busy_frac"] = busy / (wall * self.args.cores)
        detail["spans"] = tracer.spans
        detail["event_log"] = folded
        return m

    def _write_detail(self, detail: dict, metrics: dict) -> None:
        out_dir = os.path.join(ROOT, ".perfbench", "results")
        os.makedirs(out_dir, exist_ok=True)
        a = self.args
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump({"metrics": metrics, **detail}, f, indent=1, default=str)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(ROWS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--rundir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--t0", type=float, required=True)
    args = p.parse_args()
    run = Run(args)
    try:
        result = run.main()
    finally:
        if run.spark is not None:
            run.spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
