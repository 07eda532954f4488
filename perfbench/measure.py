"""One measured run of one workload (started by run.py, which owns the
environment, the time limit and process cleanup).

Writes the result object to --result and, when traced, the spans to
--spans.  Exit code 2 when the program under test cannot be imported
from the checkout."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
APP_NAME = "perfbench"


def log(msg: str) -> None:
    print(f"[perfbench +{time.monotonic() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--event-dir", default="")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import datasketches_server_spark
    except ImportError as ex:
        log(f"cannot import the program from {ROOT}: {ex}")
        return 2
    if not os.path.abspath(datasketches_server_spark.__file__).startswith(ROOT + os.sep):
        log(f"program imported from outside the checkout: {datasketches_server_spark.__file__}")
        return 2

    from common import (
        END_TO_END, PER_LAYER, Result, RssSampler, Tracer, layer_stage_metrics, median,
    )
    from dedup_workload import FullDedup
    from sketch_workload import SketchService
    from datasketches_server_spark.session import get_spark

    workloads = {"full_dedup": FullDedup, "sketch_service": SketchService}
    if args.workload not in workloads:
        log(f"unknown workload {args.workload!r}; known: {sorted(workloads)}")
        return 2
    res = Result(log)
    rss = RssSampler().start() if args.trace else None
    t0 = time.monotonic()
    spark = get_spark(APP_NAME)
    session_s = time.monotonic() - t0
    res.metrics["session.get_spark_s"] = session_s
    log(f"session up in {session_s:.2f} s ({time.monotonic() - T_START:.2f} s since start)")

    wl = workloads[args.workload](spark, args, res, log, args.work)
    inputs_s = wl.setup()
    res.metrics["setup_s"] = (t0 - T_START) + session_s + inputs_s
    res.metrics["warmup.passes"] = wl.warm()

    walls = wl.loop(args.seconds)
    log(f"timed op walls {[round(w, 3) for w in walls]}")
    op_s = wl.op_p50_s(walls)
    res.metrics["op_p50_ms"] = op_s * 1000.0
    # at the median op, not the mean: one op caught by a stall of the
    # shared host would otherwise move the throughput of the whole run
    res.metrics["records_per_s"] = wl.records_per_op / op_s if op_s else 0.0
    wl.checks()
    if args.trace:
        tracer = Tracer(spark.sparkContext)
        wl.traced(tracer, args.seconds, walls)
    spark.stop()
    if args.trace:
        res.metrics["session.peak_rss_mb"] = rss.stop()
        wl.layer_metrics(layer_stage_metrics(args.event_dir))
        tracer.dump(args.spans)

    names = PER_LAYER if args.trace else END_TO_END
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": float(res.metrics.get(k, 0.0)), "unit": u} for k, u in names.items()},
    }
    with open(args.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
