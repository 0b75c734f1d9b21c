"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, runs the engine on ``local[nproc]``, checks every output, prints
a run record and, as the last line, one JSON object with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``)."""

from __future__ import annotations

import argparse
import os
import sys

WORKLOADS = ("kg_build", "kg_update")
PACKAGE = "big_data___knowledge_graph_construction_with_llm_spark"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"error: {PACKAGE}/ not found under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    from perfbench.harness import Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if args.workload == "kg_build":
            from perfbench.wl_build import run_build as body
        else:
            from perfbench.wl_update import run_update as body
        e2e, layers = body(run)
        run.finish(e2e, layers)
    finally:
        run.stop_spark()
    return 0


if __name__ == "__main__":
    sys.exit(main())
