"""Benchmark entry point.

    python3 perfbench/run.py --workload full_dedup|sketch_service \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Starts perfbench/measure.py as one
child process group with a pinned environment, waits for it (killing the
group if it overruns), makes sure every process it started has ended,
and prints the result object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything the run writes stays under .perfbench/ in the checkout; the
spans of a traced run are kept there as spans-<workload>-<seed>.json."""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIMIT_S = 170.0
DRIVER_MEMORY = "3g"


def _group_alive(pgid: int) -> list[int]:
    alive = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group; zombies are gone
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(d))
    return alive


def _reap_group(pgid: int) -> None:
    """TERM, then KILL, every process left in the child's group, and wait
    until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while _group_alive(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "datasketches_server_spark", "__init__.py")):
        print(f"perfbench: no datasketches_server_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    tmp, events_dir = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    for d in (tmp, events_dir, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)

    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # the session's built-in warm-up costs ~20 s per process, twice a
        # workload's timed loop; each workload warms its own operations
        # until their wall stops falling instead
        "SPARK_GRAFT_WARMUP": "0",
        "TMPDIR": tmp,
        "PYTHONHASHSEED": "0",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
              "--conf", "spark.ui.showConsoleProgress=false"]
    if args.trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    print("# env " + json.dumps({k: v for k, v in sorted(env.items())
                                 if k.startswith(("SPARK_", "PYSPARK_"))}), flush=True)

    result = os.path.join(work, "result.json")
    spans = os.path.join(base, f"spans-{args.workload}-{args.seed}.json")
    cmd = [sys.executable, os.path.join(HERE, "measure.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result, "--spans", spans,
           "--event-dir", events_dir]
    child = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True,
                             stdout=sys.stderr)

    def stop(signum, _frame):
        _reap_group(child.pid)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = child.wait(timeout=max(1.0, LIMIT_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        code = -1
    _reap_group(child.pid)
    child.wait()
    out = None
    if code == 0 and os.path.isfile(result):
        with open(result) as f:
            out = f.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    if out is None:
        print(f"perfbench: measured run failed (exit {code})", file=sys.stderr)
        return 1
    print(out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
