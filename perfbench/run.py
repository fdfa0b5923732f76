"""Benchmark entry point.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 15 --trace 0

Runs from any working directory against the checkout that holds this
file. Generates the seeded inputs under `.perfbench_work/` in it, runs one
workload on `local[<cores>]` as a single closed-loop client, checks every
output, deletes its working directory and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see BENCHMARK.json
and perfbench/DESIGN.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import harness


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("headline", "daily_increments"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    if not os.path.isfile(os.path.join(root, "f1_data_pipeline_spark", "__init__.py")):
        print(f"{root} holds no f1_data_pipeline_spark package: perfbench/ "
              "must sit in a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    run = harness.Run(root, args.workload, args.seed, args.seconds, bool(args.trace))
    harness.isolate(run)
    try:
        if args.workload == "headline":
            import headline as wl
        else:
            import daily as wl
        metrics = wl.run(run)
    finally:
        run.stop()
        os.chdir(root)
        shutil.rmtree(run.work, ignore_errors=True)
        parent = os.path.dirname(run.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    units = harness.PER_LAYER if args.trace else harness.END_TO_END
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
