"""OHLCV engine benchmark: one workload, one seed, one process.

Run from the root of a checkout:

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 10 --trace 0

Prints human-readable lines, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``.perfbench_out/trace-<workload>-<seed>.json``.
Exits non-zero without a result when the engine is not in the current
directory or the run fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import threading
import traceback

HARD_LIMIT_S = 170.0  # a run must end within 180 s


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "trade_data_collection_service_spark", "__init__.py")):
        print("perfbench: run from a checkout root holding trade_data_collection_service_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    def give_up():
        print(f"perfbench: no result within {HARD_LIMIT_S:.0f} s", file=sys.stderr)
        sys.stderr.flush()
        os._exit(3)  # the JVM exits on its own when our end of its stdin closes

    timer = threading.Timer(HARD_LIMIT_S, give_up)
    timer.daemon = True
    timer.start()

    h = workloads.Harness(root, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        h.start_spark()
        workloads.WORKLOADS[args.workload](h)
        h.e2e["peak_mem_mb"] = (h.peak_mem_mb(), "MB")
        if h.tracer.enabled:
            os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
            h.tracer.dump(
                os.path.join(root, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"),
                {"layer": h.layer, "detail": h.detail},
            )
            h.layer["trace.self_s"] = (h.tracer.self_s, "s")
        h.note("checks done")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            h.stop_spark()
        finally:
            h.cleanup()
            timer.cancel()
            h.note("stopped")

    chosen = h.layer if args.trace else h.e2e
    metrics = {}
    for name, (value, unit) in sorted(chosen.items()):
        if value is None or (isinstance(value, float) and math.isnan(value)):
            print(f"perfbench: metric {name} was not measured", file=sys.stderr)
            return 1
        metrics[name] = {"value": value, "unit": unit}
        print(f"{name} = {value:.6g} {unit}")
    share = h.failed / h.attempted if h.attempted else 1.0
    print(f"failed_op_share = {share:.4g} ({h.failed} of {h.attempted} ops)")
    for e in h.errors:
        print(f"error: {e}")
    print("detail " + json.dumps(h.detail, default=str))
    result = {
        "correct": h.failed == 0 and h.attempted > 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
