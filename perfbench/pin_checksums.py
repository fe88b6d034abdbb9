"""Recompute ``pins.json``: the final FINAL-view checksums of one
``tracker_etl`` pass per seed.

    python3 perfbench/pin_checksums.py 0 31     # seeds 0..31 inclusive

Run it only on a commit whose ETL output is trusted; the pins then hold
every later commit to the same rows.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main() -> int:
    lo, hi = int(sys.argv[1]), int(sys.argv[2])
    run._environment()
    from tracker_etl import TrackerEtlWorkload

    path = os.path.join(run.HERE, "pins.json")
    with open(path) as fh:
        pins = json.load(fh)
    spark = run.start_session()
    try:
        for seed in range(lo, hi + 1):
            workload = TrackerEtlWorkload(seed, run.WORK)
            workload.pins = None  # recompute, do not check against old pins
            records = workload.run_pass(spark, 0)
            bad = [r for r in records if not r["ok"]]
            if bad:
                print(f"seed {seed}: {bad[0]['op']} failed: {bad[0]['error']}", file=sys.stderr)
                return 1
            pins[str(seed)] = dict(workload.checksums)
            with open(path, "w") as fh:
                json.dump(pins, fh, indent=1, sort_keys=True)
            print(f"seed {seed}: {pins[str(seed)]}", file=sys.stderr)
    finally:
        run.stop_session(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
