"""Benchmark of the near-duplicate pipeline, end to end and layer by layer.

    python3 perfbench/run.py --workload web_mixed --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Each invocation starts one fresh worker
process (perfbench/worker.py) pinned by ``taskset`` to the cores this
process may use, running Spark on ``local[<those cores>]`` with a 2 GiB
driver heap, its own work dir and its own Spark local dir under
``.perfbench/``; both are removed afterwards. The worker

1. starts the Spark session and builds the seeded input (``gen.py``)
   three times, checking the bytes match;
2. runs ``dedup_pipeline_full`` once as a warm-up, checked and
   discarded;
3. runs it again, checked each time, until ``--seconds`` have passed.

``setup_s`` is process start to the first timed call (session start,
input build, warm-up call), with the median of the three input builds
counted once.

``--trace 0`` prints the end-to-end metrics (medians over the runs of
step 3). ``--trace 1`` turns Spark's event log on and, in place of
step 3, makes one traced pipeline call, then a candidate-join counting
pass, the signing-kernel microbench and the nine registered standalone
queries, and prints the per-layer metrics. The last stdout line is the result object; every
iteration, span and folded event-log stage is kept in
``.perfbench/results/``.

Checks: one output row per input url, ``cluster_id`` = min ``doc_id`` of
its cluster, writeback keeps every original text byte-identical, and the
standalone queries (traced run) match their DuckDB oracles. Dup-pair
recall and precision against the generator's gold are reported as
measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("web_mixed", "dup_dense")
HEAP = "2g"
TIMEOUT_S = 168


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            state, _ppid, _pgrp, session = stat[stat.rfind(")") + 2 :].split()[:4]
            # a zombie holds nothing and cannot be killed; it waits for
            # its new parent to reap it
            if int(session) == sid and state != "Z":
                pids.append(int(name))
    return pids


def _reap(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM, the PySpark
    daemon and workers all share the worker's session), and wait for them."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    deadline = time.time() + 10
    while (left := _session_pids(proc.pid)) and time.time() < deadline:
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    pkg = os.path.join(ROOT, "outcite_duplicate_detecting_spark", "plans", "pipeline.py")
    if not os.path.isfile(pkg) or not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no dedup package next to {HERE}; run from a checkout", file=sys.stderr)
        return 2

    cpus = sorted(os.sched_getaffinity(0))
    rundir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(rundir, "spark-local"))
    out = os.path.join(rundir, "result.json")
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=os.path.join(rundir, "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        PYSPARK_PYTHON=sys.executable,
    )
    env.pop("SPARK_GRAFT_STAGE_TIMING", None)
    cmd = [
        "taskset", "-c", ",".join(map(str, cpus)),
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--cores", str(len(cpus)),
        "--rundir", rundir,
        "--out", out,
        "--t0", repr(time.time()),
    ]  # fmt: skip
    # a TERM stops the worker's whole session too, through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"worker still running after {TIMEOUT_S} s; stopped", file=sys.stderr)
        code = -1
    finally:
        _reap(proc)
    try:
        if code != 0 or not os.path.exists(out):
            print(f"worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
