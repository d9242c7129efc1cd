"""Pin the expected output digests of a workload for a range of seeds.

    python3 perfbench/pin.py --workload crawl_pipeline --seeds 0-19

One Spark session; for each seed: generate the input, make one pipeline
call, run the structural checks and record the digest of every output.
The digests are merged into ``perfbench/expected.json``; a timed run on a
pinned seed must reproduce them. Re-pin only when a change to the program
is meant to change its outputs, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 0-19")
    args = p.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    sys.path.insert(0, run.ROOT)
    w = run.WORKLOADS[args.workload]
    scratch = run.prepare_scratch(f"pin-{w.name}")
    pins = {}
    try:
        r = run.Run(w, lo, 0, 1, scratch)
        r.spark = run.start_session(scratch)
        for seed in range(lo, hi + 1):
            r.seed = seed
            r.gen()
            _wall, frames, wd = r.call(f"pin{seed}")
            problems, assignments = run.check_outputs(w, frames)
            if problems:
                raise RuntimeError(f"seed {seed}: {problems}")
            pins[str(seed)] = {k: run.digest(v) for k, v in frames.items()}
            recall, precision = run.quality(w, assignments)
            run.log(f"seed {seed}: recall {recall:.4f} precision {precision:.4f}")
            shutil.rmtree(wd)
    finally:
        run.stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
    expected = {}
    if os.path.exists(run.EXPECTED):
        with open(run.EXPECTED) as f:
            expected = json.load(f)
    expected.setdefault(w.name, {}).update(pins)
    with open(run.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
