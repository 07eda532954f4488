"""Shared pieces of the benchmark: result bookkeeping, spans, the
process-tree RSS sampler, the event-log parser and the per-layer metric
catalogue every workload reports."""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------- metrics

# End-to-end metrics, printed by every workload with --trace 0.
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "records_per_s": "1/s",
    "accuracy": "ratio",
}

# Per-layer metrics, printed by every workload with --trace 1.  A layer a
# workload does not call reports 0.
_OPERATORS = ("prefix", "exactsubstr", "ssjoin", "winnowing", "ann_cosine")
_FAMILIES = ("theta", "hll", "kll", "frequency", "reservoir", "varopt")
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.synth_s": "s",
    "sources.turns": "count",
    "warmup.passes": "count",
    "trace.overhead_s": "s",
    "signatures.wall_s": "s",
    "signatures.convs": "count",
    "signatures.shingles": "count",
    "signatures.task_s": "s",
    "signatures.shuffle_mb": "MB",
    "lsh.wall_s": "s",
    "lsh.band_rows": "count",
    "lsh.candidate_pairs": "count",
    "lsh.max_bucket": "count",
    "lsh.star_buckets": "count",
    "lsh.dropped_members": "count",
    "lsh.task_s": "s",
    "lsh.shuffle_mb": "MB",
    "lsh.task_skew": "ratio",
    "lsh.window_input_rows": "count",
    "verify.wall_s": "s",
    "verify.edges": "count",
    "verify.precision": "ratio",
    "verify.pruned": "count",
    "verify.task_s": "s",
    "verify.shuffle_mb": "MB",
    "components.wall_s": "s",
    "components.edges_in": "count",
    "components.clusters": "count",
    "components.contracted_edges": "count",
    "components.task_s": "s",
    "metrics.rollup_s": "s",
    "pass.spill_mb": "MB",
    "metrics.distinct_shingles_rel_err": "ratio",
    "band_index.read_s": "s",
    "band_index.append_s": "s",
    "band_index.rows": "count",
    "ingest.batch_s": "s",
    "ingest.dedup_s": "s",
    "ingest.absorb_s": "s",
    "ingest.new_edges": "count",
    "ingest.corpus_convs": "count",
    "ingest.window_rows_growth": "ratio",
    "ingest.corpus_growth": "ratio",
    **{f"{op}.{m}": u for op in _OPERATORS for m, u in (
        ("wall_s", "s"), ("task_s", "s"), ("shuffle_mb", "MB"), ("rows_out", "count"))},
    **{f"server.update_ms.{f}": "ms" for f in _FAMILIES},
    **{f"server.query_ms.{f}": "ms" for f in _FAMILIES},
    "server.merge_ms": "ms",
    "server.serialize_ms": "ms",
    "server.load_image_ms": "ms",
    "sketches.rel_err.theta": "ratio",
    "sketches.rel_err.hll": "ratio",
    "sketches.rank_err.kll": "ratio",
    "streaming.append_ms": "ms",
    "streaming.merged_view_ms": "ms",
    "streaming.compact_s": "s",
    "streaming.epoch_partitions": "count",
}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Result:
    """Counts attempted/failed operations and checks, and holds metrics."""

    def __init__(self, log):
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.log(f"check {'ok  ' if ok else 'FAIL'} {name} {detail}")
        return ok

    def op(self, fn):
        """Run one timed operation; returns (seconds, value) or (None, None)
        when it raised, which counts as a failed operation."""
        self.attempted += 1
        t0 = time.monotonic()
        try:
            out = fn()
        except Exception as ex:  # counted, reported, loop goes on
            self.failed += 1
            self.log(f"op FAIL {type(ex).__name__}: {str(ex)[:300]}")
            return None, None
        return time.monotonic() - t0, out


def timed(fn):
    t0 = time.monotonic()
    out = fn()
    return time.monotonic() - t0, out


def closed_loop(res: Result, seconds: float, op, min_ops: int, after=None) -> list[float]:
    """One client: call op() again only after the previous call returned,
    until `seconds` of wall have passed and at least `min_ops` calls were
    made.  after(value), if given, runs untimed after each successful
    call.  Returns the wall of every successful call."""
    walls: list[float] = []
    t_end = time.monotonic() + seconds
    calls = 0
    while time.monotonic() < t_end or calls < min_ops:
        calls += 1
        dt, val = res.op(op)
        if dt is None:
            continue
        walls.append(dt)
        if after is not None:
            after(val)
    return walls


def warm_up(run_round, rounds: int, log) -> int:
    """Untimed warm-up: run_round(), which returns the seconds its
    operations took, exactly `rounds` times.  Each workload fixes the
    count where its wall was measured to have fallen from the cold
    3-4x to within ~15% of flat; the median over the timed ops that
    follow is past the rest of the descent.  A stopping rule that
    compares one round with the next stops early on a noisy round and
    leaves the timed ops at varying points of the JIT's descent, which
    spreads the medians of runs far more than any timed-op noise."""
    walls = [run_round() for _ in range(rounds)]
    log(f"warm-up rounds {[round(w, 3) for w in walls]}")
    return len(walls)


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans (id, name, parent, start, end) kept in memory and written out
    when the run ends.  When `sc` is given, every span also becomes the
    Spark job description of the jobs it starts, so the event log can be
    attributed to the span's layer."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None and layer is not None:
            self.sc.setJobDescription(layer)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self.sc is not None and layer is not None:
                self.sc.setJobDescription(None)

    def walls(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------- memory


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo, page = 0, [root], os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled twice a second."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(0.5)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak / 2**20


# ---------------------------------------------------------------- event log


def layer_stage_metrics(event_dir: str) -> dict[str, dict[str, float]]:
    """Parse the Spark event log of this run and attribute every task to
    the job description (= layer) of the job that first ran its stage.
    Returns layer -> {task_s, shuffle_mb, spill_mb, task_skew}; task_skew
    is the largest max/median task run time over the layer's stages with
    at least two tasks."""
    files = [f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)]
    if not files:
        return {}
    stage_layer: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    acc: dict[str, dict[str, float]] = {}
    with open(max(files, key=os.path.getmtime)) as f:
        for raw in f:
            try:
                ev = json.loads(raw)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, desc)
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                layer = stage_layer.get(sid)
                if layer is None:
                    continue
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                run_ms = tm.get("Executor Run Time", 0)
                a = acc.setdefault(layer, {"task_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0})
                a["task_s"] += run_ms / 1000.0
                a["shuffle_mb"] += (sw.get("Shuffle Bytes Written", 0)) / 2**20
                a["spill_mb"] += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20
                stage_tasks.setdefault(sid, []).append(run_ms)
    for sid, runs in stage_tasks.items():
        if len(runs) < 2:
            continue
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0
        a = acc[stage_layer[sid]]
        a["task_skew"] = max(a.get("task_skew", 1.0), skew)
    return acc


# ---------------------------------------------------------------- oracles


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(rows, colnames) -> str:
    """Order-insensitive hash of a result, columns matched by name."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i].lower())
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
