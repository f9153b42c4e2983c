"""Record the digests of the benchmark's generated feeds.

    python3 perfbench/pin_feeds.py

Run from the root of a checkout. Writes perfbench/feed_digests.json: for each
workload's feed shape, the digest (row count and order-independent hash) of
the feed each of the seeds 0-31 generates, plus the fixed probe seed that
stands in for seeds without a pin. ``run.py`` refuses to time a feed whose digest
differs, so a change to the generator cannot silently change the workloads.
Re-pin only in a change that means to change the workloads.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

PIN_SEEDS = range(32)


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    sys.path.insert(0, root)
    import checks
    import spans
    import workloads
    from harness import PROBE_SEED, Bench, make_work_dir

    work = make_work_dir(root, "pin")
    n_seg = workloads.stream_segments(seconds)
    shapes = {
        "upsert_cow": workloads.UPSERT,
        f"stream_live.{n_seg}": workloads.stream_feed(n_seg),
    }
    pins: dict[str, dict[str, str]] = {}
    b = Bench(work, 0, seconds, spans.NullRecorder(), traced=False)
    try:
        b.start_session()
        for key, shape in shapes.items():
            for seed in [*PIN_SEEDS, PROBE_SEED]:
                dirs = b.write_feed("feed", shape["events"], shape["segments"],
                                    seed, shape["files"])
                pins.setdefault(key, {})[str(seed)] = checks.feed_digest(dirs)
                shutil.rmtree(b.path("feed"))
                print(key, seed, pins[key][str(seed)], flush=True)
    finally:
        b.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    with open(checks.PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
