"""CDC engine benchmark driver.

    python3 perfbench/run.py --workload upsert_cow --seed 1 --seconds 16 --trace 0

Run from the root of a checkout (the directory holding ``etl_spark/`` and
``BENCHMARK.json``). Prints one line per metric with its unit, then, as the
last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json, or with ``--trace 1``
its per-layer metrics). Everything it writes stays under ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/`` (span dumps of traced runs).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "etl_spark", "__init__.py")):
        print("perfbench: no etl_spark/ package here; run from the root of a "
              "checkout of the engine", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, root)
    import spans
    import workloads
    from harness import Bench, make_work_dir

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = make_work_dir(root, args.workload)

    traced = bool(args.trace)
    if traced:
        from pyspark import SparkContext

        rec = spans.Recorder(lambda: SparkContext._active_spark_context)
        rec.install()
    else:
        rec = spans.NullRecorder()
    b = Bench(work, args.seed, args.seconds, rec, traced)
    try:
        e2e, layer, human = workloads.WORKLOADS[args.workload](b)
        b.stop_session()
        if traced:
            layer["bench.steal_frac"] = human["steal_frac"]
            layer["bench.ops_failed_frac"] = human["ops_failed_frac"]
            # the event log is complete once the session has stopped
            log = b.event_log()
            for name, metrics in spans.spark_layer_metrics(log, b.t_measure, b.per).items():
                for k, v in metrics.items():
                    layer[f"spark.{name}.{k}"] = v
    finally:
        b.stop_session()
        if traced:
            rec.uninstall()
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            rec.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = (layer if traced else e2e).get(m["name"], 0.0 if traced else None)
        if v is None or not math.isfinite(v):
            print(f"perfbench: metric {m['name']} missing or not finite", file=sys.stderr)
            return 1
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    b.notes["run_wall_s"] = time.perf_counter() - t_start
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, v in {**e2e, **human, **b.notes}.items():
        print(f"{args.workload} {name} = {v} {units.get(name, '')}".rstrip())
    if traced:
        for name, v in sorted(layer.items()):
            print(f"{args.workload} layer {name} = {v} {units.get(name, '')}".rstrip())
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
