"""sketch_service workload: one client drives a SketchTableServer built
from a reference-format config, round after round over micro-batches of
a seeded event stream: update and query every declared family, merge,
serialize -> load_image, append the batch to the streaming metrics log,
query its merged view, and compact the log.  One round is one op.

The traced run also runs the dedup operator queries (operator_queries.py)."""

from __future__ import annotations

import math
import os
import time

from pyspark.sql import functions as F

from common import closed_loop, median, timed, warm_up
from gen import events
from operator_queries import operator_layer_metrics, run_operator_queries

N_EVENTS = 100_000
N_USERS = 20_000
BATCH = 1000            # events per micro-batch (one round)
SETUP_REPEATS = 3
WARM_ROUNDS = 7         # see warm_up: the wall is within ~10% of flat by now
THETA_LG_K = HLL_LG_K = 12
KLL_K = 200
CONFIG = {
    "port": 8080,
    "sketches_stream": [
        {"name": "users_theta", "family": "theta", "k": THETA_LG_K, "type": "long"},
        {"name": "users_hll", "family": "hll", "k": HLL_LG_K, "type": "long"},
        {"name": "value_kll", "family": "kll", "k": KLL_K},
        {"name": "type_freq", "family": "frequency", "k": 16},
        {"name": "users_reservoir", "family": "reservoir", "k": 64},
        {"name": "users_varopt", "family": "varopt", "k": 64},
    ],
    "set_copies": {"family": "theta", "type": "long", "k": THETA_LG_K,
                   "names": ["users_theta_copy", "users_theta_rt"]},
}
# family -> (sketch name, column fed to it)
FEEDS = {
    "theta": ("users_theta", "user_id"),
    "hll": ("users_hll", "user_id"),
    "kll": ("value_kll", "value"),
    "frequency": ("type_freq", "event_type"),
    "reservoir": ("users_reservoir", "user_id"),
    "varopt": ("users_varopt", "user_id"),
}
# bounds the checks hold the estimates to: three analytic standard errors
THETA_BOUND = 3.0 / math.sqrt(2**THETA_LG_K - 1)
HLL_BOUND = 3.0 * 1.04 / math.sqrt(2**HLL_LG_K)
KLL_BOUND = 2.0 * 0.0165  # twice the k=200 single-sided normalized rank error
FRACTIONS = (0.1, 0.25, 0.5, 0.75, 0.9)


class SketchService:
    def __init__(self, spark, args, res, log, work):
        self.spark, self.args, self.res, self.log, self.work = spark, args, res, log, work
        self.metrics_path = os.path.join(work, "metrics_log")
        self.rounds = 0
        self.records_per_op = BATCH
        self.request_walls: dict[str, list[float]] = {}

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        """Build the event table SETUP_REPEATS times; returns the median wall."""
        from datasketches_server_spark.server import SketchTableServer, parse_config

        walls = []
        self.ev = None
        for _ in range(SETUP_REPEATS):
            if self.ev is not None:
                self.ev.unpersist()

            def build():
                self.ev = events(self.spark, N_EVENTS, self.args.seed, N_USERS).persist()
                self.ev.count()

            walls.append(timed(build)[0])
        self.srv = SketchTableServer(self.spark, parse_config(CONFIG))
        self.log(f"events {N_EVENTS}, micro-batch {BATCH}; builds {walls}")
        return median(walls)

    # ------------------------------------------------------------ ops
    def requests(self):
        """The requests of the next round, as (kind, layer, fn)."""
        from datasketches_server_spark.streaming.incremental import (
            append_metrics_batch, compact_metrics, merged_view,
        )

        r = self.rounds
        self.rounds += 1
        lo = (r % (N_EVENTS // BATCH)) * BATCH
        mb = self.ev.where((F.col("id") >= lo) & (F.col("id") < lo + BATCH))
        srv, spark, path = self.srv, self.spark, self.metrics_path
        reqs = []
        for fam, (name, col) in FEEDS.items():
            if fam == "varopt":
                batch = mb.select(F.col(col).alias("value"), F.col("value").alias("w"))
                fn = (lambda n=name, b=batch: srv.update(n, b, weight_col="w"))
            else:
                fn = (lambda n=name, b=mb.select(F.col(col).alias("value")): srv.update(n, b))
            reqs.append((f"server.update_ms.{fam}", "server", fn))
        for fam, (name, _) in FEEDS.items():
            kw = {"fractions": FRACTIONS} if fam == "kll" else {}
            reqs.append((f"server.query_ms.{fam}", "server",
                         lambda n=name, kw=kw: srv.query(n, **kw).collect()))
        image = {}
        return reqs + [
            ("server.serialize_ms", "server",
             lambda: image.__setitem__("x", srv.serialize("users_theta"))),
            ("server.load_image_ms", "server",
             lambda: srv.load_image("users_theta_copy", image["x"])),
            ("server.merge_ms", "server",
             lambda: srv.merge(None, ["users_theta", "users_theta_copy"]).collect()),
            ("streaming.append_ms", "streaming", lambda: append_metrics_batch(mb, r, path)),
            ("streaming.merged_view_ms", "streaming", lambda: merged_view(spark, path).collect()),
            ("streaming.compact_s", "streaming", lambda: compact_metrics(spark, path, r)),
        ]

    def one_round(self, tr=None) -> None:
        """One op: the round's requests in order, each issued after the
        previous one returned; traced, each request is a span."""
        for kind, layer, fn in self.requests():
            if tr is None:
                t0 = time.monotonic()
                fn()
                self.request_walls.setdefault(kind, []).append(time.monotonic() - t0)
            else:
                with tr.span(kind, layer):
                    fn()

    def warm(self) -> int:
        return warm_up(lambda: self.res.op(self.one_round)[0] or 0.0, WARM_ROUNDS, self.log)

    def loop(self, seconds: float, tr=None, min_ops: int = 3) -> list[float]:
        self.request_walls = {}
        return closed_loop(self.res, seconds, lambda: self.one_round(tr), min_ops=min_ops)

    def op_p50_s(self, walls: list[float]) -> float:
        """The median round: the sum over request kinds of each kind's
        median wall in the timed rounds, so that a stall of the shared
        host that hits one request of one round is not counted."""
        self.log(f"median round wall {median(walls):.3f} s")
        return sum(median(w) for w in self.request_walls.values())

    def checks(self) -> None:
        """Exact answers over every event fed so far, against the sketches."""
        from datasketches_server_spark.streaming.incremental import merged_view

        srv, m, check = self.srv, self.res.metrics, self.res.check
        n_fed = min(self.rounds, N_EVENTS // BATCH) * BATCH
        fed = self.ev.where(F.col("id") < n_fed)
        exact_users = fed.select(F.countDistinct("user_id")).collect()[0][0]
        theta = srv.query("users_theta").collect()[0]["estimate"]
        hll = srv.query("users_hll").collect()[0]["estimate"]
        m["sketches.rel_err.theta"] = abs(theta - exact_users) / exact_users
        m["sketches.rel_err.hll"] = abs(hll - exact_users) / exact_users
        check("theta within 3 RSE", m["sketches.rel_err.theta"] <= THETA_BOUND,
              f"{theta:.0f} vs {exact_users}")
        check("hll within 3 RSE", m["sketches.rel_err.hll"] <= HLL_BOUND,
              f"{hll:.0f} vs {exact_users}")
        qs = srv.query("value_kll", fractions=FRACTIONS).collect()[0]["quantiles"]
        ranks = fed.select(*[F.avg((F.col("value") <= float(q)).cast("double")) for q in qs]).collect()[0]
        m["sketches.rank_err.kll"] = max(abs(rk - f) for rk, f in zip(ranks, FRACTIONS))
        check("kll rank error within bound", m["sketches.rank_err.kll"] <= KLL_BOUND,
              f"{m['sketches.rank_err.kll']:.4f}")
        m["accuracy"] = 1.0 - (m["sketches.rel_err.theta"] + m["sketches.rel_err.hll"]
                               + m["sketches.rank_err.kll"]) / 3.0
        exact_types = {r[0]: r[1] for r in fed.groupBy("event_type").count().collect()}
        freq = {r["value"]: r["estimate"] for r in srv.query("type_freq", top_k=64).collect()}
        check("frequency exact", freq == exact_types, f"{len(freq)} items")
        view = {r["event_type"]: r["n_events"] for r in merged_view(self.spark, self.metrics_path).collect()}
        check("merged_view n_events exact", view == exact_types, f"{sum(view.values())} events")
        stream_n = [srv.query(n).collect()[0]["stream_n"] for n in ("users_reservoir", "users_varopt")]
        check("sample stream_n exact", stream_n == [n_fed, n_fed], f"{stream_n} vs {n_fed}")
        srv.reset("users_theta_rt")
        srv.load_image("users_theta_rt", srv.serialize("users_theta"))
        rt = srv.query("users_theta_rt").collect()[0]["estimate"]
        check("serialize -> load_image round trip", rt == theta, f"{rt} vs {theta}")
        m["streaming.epoch_partitions"] = sum(
            1 for d in os.listdir(self.metrics_path) if d.startswith("epoch_id="))

    # ------------------------------------------------------------ traced
    def traced(self, tr, seconds: float, untraced_walls: list[float]) -> None:
        # a fixed three rounds: the traced run must also fit the time limit
        walls = self.loop(0, tr, min_ops=3)
        m = self.res.metrics
        for kind in {s["name"] for s in tr.spans}:
            scale = 1.0 if kind.endswith("_s") else 1000.0
            m[kind] = median(tr.walls(kind)) * scale
        m["trace.overhead_s"] = median(walls) - median(untraced_walls)
        self.checks()
        run_operator_queries(self.spark, self.res, tr, self.work, self.args.seed + 4)

    def layer_metrics(self, stage: dict) -> None:
        operator_layer_metrics(self.res, stage)
