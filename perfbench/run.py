"""The repository benchmark: one named workload, seeded inputs, checked
outputs, one JSON line of metrics.

    python3 perfbench/run.py --workload tweet_graph --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.bench_work/`` (spec.json holds every generator parameter, the
pinned environment and the layer -> metric -> workload predictions),
the engine is imported from the checkout, and the last line of standard
output is ``{"correct", "attempted", "failed", "metrics"}``.

A run is one batch job with one client in a closed loop: set-up (timed
from process start, in this process and in fresh probe interpreters),
then one cold pass over the workload's operation list, each operation
starting when the previous one has returned. The pass is sized to take
longer than ``--seconds``; a run never adds warm passes, so every figure
keeps the meaning it has today.

- ``tweet_graph``: the paper's CLI. ``tvbigdataproject_spark.__main__``
  writes the word cloud, the full graph, the Power BI report and a 2-hop
  neighbourhood; each artifact is one operation. Every file is checked
  against reference.py.
- ``operator_mix``: registry queries from three operator families
  (relational/window SQL, LLM-data dedup, similarity and text, iterative
  graph) over generated parquet tables. Each result is collected and
  checked against the query's DuckDB oracle after the pass.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs
traced.py and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from harness import (
    ROOT, WORKLOADS, RssSampler, Runner, check_registry, load_spec, log,
    make_inputs, metric, pin_environment, set_up, setup_probe, stop_jvm,
)


def end_to_end(args, spec: dict, work: str) -> dict:
    # This process's own set-up comes first, before any input is made,
    # so it is timed like the probes: a fresh interpreter from its start.
    spark, phases = set_up(work)
    try:
        setups = [phases["total"]]
        setups += [setup_probe(work) for _ in range(spec["setup_runs"] - 1)]
        log(f"set-up {setups}")
        from reference import check_cli_outputs

        need = {"tweets"} if args.workload == "tweet_graph" else {"tables"}
        inputs = make_inputs(work, args.seed, spec, need)
        log("inputs ready")
        runner = Runner(spark, inputs)
        out = os.path.join(work, "out")
        with RssSampler() as rss:
            t0 = time.perf_counter()
            if args.workload == "tweet_graph":
                times = runner.tweet_pass(out)
            else:
                times, results = runner.registry_pass(collect=True)
            wall = time.perf_counter() - t0
        # the checks run outside the sampled window: the oracle and the
        # reference are not the program
        if args.workload == "tweet_graph":
            problems = check_cli_outputs(out, inputs["reference"], inputs["neighbourhood_seed"])
        else:
            problems = check_registry(results, inputs["tables"])
    finally:
        stop_jvm(spark)
    log(f"pass {wall:.2f}s {times}")
    correct = not problems and runner.failed == 0
    for line in runner.errors + problems:
        log(line)
    return {
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            "setup_s": metric(statistics.median(setups), "s"),
            "wall_s": metric(wall, "s"),
            "op_p50_s": metric(statistics.median(times.values()) if times else wall, "s"),
            "peak_rss_mb": metric(rss.peak_kb / 1024.0, "MB"),
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-probe", metavar="WORK_DIR", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.setup_probe:
        pin_environment(args.setup_probe)
        spark, phases = set_up(args.setup_probe)
        stop_jvm(spark)
        print(phases["total"])
        return 0
    if args.workload is None:
        ap.error("--workload is required")

    if not os.path.isdir(os.path.join(ROOT, "tvbigdataproject_spark")):
        sys.exit(f"the engine package tvbigdataproject_spark is not under {ROOT}")
    spec = load_spec()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    try:
        if args.trace:
            from traced import traced_run

            result = traced_run(args, spec, work)
        else:
            result = end_to_end(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
