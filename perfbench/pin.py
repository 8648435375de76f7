"""Pin the content hash of the analyst table for each pipeline workload
and seed into ``pins.json`` (run from the root of a checkout):

    python3 perfbench/pin.py 0 1 2 3
    python3 perfbench/pin.py --size 200 7     # at another entity count

Each output must first pass the reference replay in ``check.py``; a seed
already pinned must reproduce its pin.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.getcwd(), HERE]

import check  # noqa: E402
import run  # noqa: E402


def _save(pins: dict) -> None:
    with open(check._PINS, "w") as fh:
        json.dump(dict(sorted(pins.items())), fh, indent=1)
        fh.write("\n")


def main(seeds: list[int], size: int | None = None) -> int:
    pins = {}
    if os.path.exists(check._PINS):
        with open(check._PINS) as fh:
            pins = json.load(fh)
    first = None  # holds the one Spark session; its dirs hold its temp files
    try:
        for workload in ("pipeline_matched", "pipeline_feed_only"):
            for seed in seeds:
                bench = run.Bench(workload, seed, 0, False, size)
                bench.gen_repeats = 1
                first = first or bench
                bench.setup()
                bench.run_once("pin")
                if bench.failed or bench.problems:
                    print(f"FAIL  {workload} seed {seed}: {bench.problems[:2]}")
                    return 1
                key = f"{workload}/{seed}/{bench.cfg['entities']}"
                pins[key] = bench.hashes.pop()
                _save(pins)
                print(f"{key} {pins[key]}", flush=True)
                if bench is not first:
                    shutil.rmtree(bench.work, ignore_errors=True)
    finally:
        if first:
            first.shutdown()
            shutil.rmtree(first.work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    args = sys.argv[1:]
    size = None
    if args[:1] == ["--size"]:
        size, args = int(args[1]), args[2:]
    sys.exit(main([int(s) for s in args], size))
