"""Benchmark entry point.

    python3 perfbench/run.py --workload build_bulk --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) on local[4] in this process. With
--trace 0 it prints the end-to-end metrics; with --trace 1 it repeats the
timed build and query loop with spans around every engine layer and prints
the per-layer metrics. The last line of stdout is one compact JSON object
{correct, attempted, failed, metrics}; every sample and span goes to
perfbench/out/last_<workload>_trace<0|1>.json.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback

from harness import (cleanup_environment, engine_present, host_info,
                     prepare_environment, start_spark, stop_spark,
                     write_side_file)

def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build_bulk", "resume_half"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny = the self-test's smallest inputs")
    ap.add_argument("--drop-one-edge", action="store_true",
                    help="plant a corruption before the output check "
                         "(self-test only)")
    ap.add_argument("--cores", type=int, default=4,
                    help="local[N]; the self-test's 1-core build uses 1")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print("perfbench: the engine sources (llm_knowledge_graph_spark/, "
              "tools/run_pipeline.py) are not beside the benchmark",
              file=sys.stderr)
        return 2
    prepare_environment()
    from graphcheck import rows_digest
    from workloads import Run

    t0 = time.perf_counter()
    spark = start_spark(args.cores)
    session_s = time.perf_counter() - t0
    try:
        run = Run(spark, args.workload, args.seed, args.seconds, args.size,
                  args.drop_one_edge)
        run.setup()
        if args.trace:
            from layers import traced_metrics
            metrics = traced_metrics(run)
        else:
            metrics = run.measure()
        run.info["graph_digest"] = [rows_digest(run.wl.out_dir / t)
                                    for t in ("nodes", "edges")]
        side = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "size": args.size, "host": host_info(spark),
                "session_start_s": session_s, "failures": run.failures,
                "metrics": metrics, "detail": run.info}
    finally:
        stop_spark(spark)
        cleanup_environment()
    path = write_side_file(
        f"last_{args.workload}_trace{args.trace}.json", side)
    write_side_file(f"runs/{args.workload}_seed{args.seed}_"
                    f"trace{args.trace}.json", side)
    print(f"perfbench: {args.workload} seed={args.seed} "
          f"failed={run.failed}/{run.attempted}; detail in {path.name}",
          file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
