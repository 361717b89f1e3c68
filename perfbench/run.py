#!/usr/bin/env python3
"""End-to-end benchmark of the extraction engine's public entry points.

    python3 perfbench/run.py --workload batch_fresh --seed 1 --seconds 10 \
        --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``batch_fresh``: ``plans.pipeline.run_extraction`` into an empty dir;
- ``incremental_delta``: ``streaming.extract_stream.run_incremental_curated``
  over a committed history run after the delta shards land;
- ``curate``: ``plans.curation.curate_corpus`` over extracted text.

Each run generates its inputs from ``--seed`` (cached under
``perfbench/.cache``), starts ``local[nproc]`` three times to time set-up,
makes untimed warm-up calls and then timed calls until ``--seconds`` have
passed (at least two). Every call's output is checked. With ``--trace 0``
the last stdout line holds the end-to-end metrics; with ``--trace 1`` it
holds the per-layer metrics of a separate traced session (``ledger.py``),
and the lines above it print the ledger.

The program must sit next to this directory (``pubscience_spark/``);
without it the benchmark exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CACHE = BENCH / ".cache"

# pages generated per workload (the generator adds ~8% planted duplicates)
# and shard counts; sized so a warm call takes seconds on 4 cores and all
# runs of all workloads fit the benchmark's time budget
BATCH_PAGES, BATCH_SHARDS = 3000, 32
INC_PAGES, INC_SHARDS = 4000, 32
CURATE_PAGES, CURATE_SHARDS = 6000, 32


def make_workload(name: str, seed: int):
    import workloads as w
    from harness import WORK
    from inputs import Corpus
    if name == "batch_fresh":
        return w.BatchFresh(WORK, Corpus(CACHE, seed, BATCH_PAGES,
                                         BATCH_SHARDS))
    if name == "incremental_delta":
        return w.IncrementalDelta(WORK, Corpus(CACHE, seed, INC_PAGES,
                                               INC_SHARDS))
    if name == "curate":
        return w.Curate(WORK, Corpus(CACHE, seed, CURATE_PAGES,
                                     CURATE_SHARDS), CURATE_SHARDS)
    raise SystemExit(f"unknown workload {name!r}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch_fresh", "incremental_delta", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (ROOT / "pubscience_spark" / "__init__.py").is_file():
        print(f"[perfbench] no pubscience_spark package next to {BENCH}",
              file=sys.stderr)
        return 2
    t_start = time.perf_counter()
    sys.path.insert(0, str(ROOT))
    from harness import (WORK, Calls, become_subreaper, end_descendants,
                         end_jvm, end_to_end, log, session_conf, set_up)
    # Python workers must import the package from any working directory;
    # Spark and Python temp files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # the spark-submit launcher JVM, like the driver JVM, keeps its temp
    # files in the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"

    become_subreaper()
    spark = None
    try:
        wl = make_workload(args.workload, args.seed)
        log(f"{args.workload}: {wl.input_rows} input rows, seed {args.seed}")
        spark, setup = set_up(session_conf())
        wl.prepare(spark)
        calls = Calls(spark, wl, t_start)
        for _ in range(wl.warmup_calls):
            calls.one(timed=False)
        calls.loop(args.seconds)
        if args.trace:
            import ledger
            metrics, traced = ledger.traced_run(spark, wl, calls, setup,
                                                args.seconds, t_start)
            spark = None                   # traced_run stopped it
            all_calls = [calls, traced]
        else:
            metrics = end_to_end(setup, calls, wl.input_rows)
            all_calls = [calls]
    finally:
        # on every way out: stop the session, end the JVM and wait for
        # every process the run started (Python workers included)
        try:
            if spark is not None:
                spark.stop()
        finally:
            end_jvm()
            end_descendants()
    print(json.dumps({
        "correct": all(c.failed == 0 and c.rows for c in all_calls),
        "attempted": sum(c.attempted for c in all_calls),
        "failed": sum(c.failed for c in all_calls),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)
    log(f"run took {time.perf_counter() - t_start:.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
