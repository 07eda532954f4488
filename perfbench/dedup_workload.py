"""full_dedup workload: closed loop of full near-duplicate passes over a
dup-dense transcripts table (read parquet -> dedup_pipeline -> clusters
and the metric rollup written to parquet).

The traced run adds, per layer: a staged pass with a forced
materialization at every layer boundary and an incremental-ingest chain
over the band index.  (The dedup operator queries run in the traced run
of sketch_service, see operator_queries.py.)"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from common import closed_loop, median, timed, warm_up

N_CONVS = 2000          # main corpus, half of it in families of 4
N_MEGA = 200            # id-prefixed slice in families of 200 -> star buckets
N_RECALL_FAMILIES = 60  # planted families whose members are checked against the oracle
N_CHAIN = 1200          # incremental chain corpus (base 25% + 2 x 15% of it)
SETUP_REPEATS = 3
WARM_PASSES = 5         # see warm_up: the wall is within ~15% of flat by now


def fingerprint(clusters) -> int:
    return clusters.select(
        F.expr("bit_xor(xxhash64(conv_id, cluster_id))").alias("f")
    ).collect()[0]["f"]


def corpus(spark, seed: int):
    from datasketches_server_spark.sources.synth import synth_transcripts

    main = synth_transcripts(spark, n_convs=N_CONVS, seed=seed, dup_fraction=0.5)
    mega = synth_transcripts(
        spark, n_convs=N_MEGA, seed=seed + 1, dup_fraction=1.0, avg_family_size=200
    ).withColumn("conv_id", F.concat(F.lit("mega-"), F.col("conv_id")))
    return main.unionByName(mega)


class FullDedup:
    def __init__(self, spark, args, res, log, work):
        from datasketches_server_spark.config import PipelineConfig

        self.spark, self.args, self.res, self.log, self.work = spark, args, res, log, work
        self.cfg = PipelineConfig()
        self.corpus_path = os.path.join(work, "corpus")
        self.out_dir = os.path.join(work, "out")
        self.fps: list[int] = []
        self.n_traced_passes = 1
        # conversations, not turns: the turn count varies with the seed
        # while a pass's wall barely does
        self.records_per_op = N_CONVS + N_MEGA

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        """Build the input table SETUP_REPEATS times; returns the median wall."""
        walls = []
        for _ in range(SETUP_REPEATS):
            walls.append(timed(lambda: corpus(self.spark, self.args.seed)
                               .write.mode("overwrite").parquet(self.corpus_path))[0])
        turns = self.spark.read.parquet(self.corpus_path).count()
        self.res.metrics["sources.synth_s"] = median(walls)
        self.res.metrics["sources.turns"] = turns
        self.log(f"corpus {N_CONVS}+{N_MEGA} convs, {turns} turns; builds {walls}")
        return median(walls)

    def recall_check(self, r) -> None:
        """Recall of a pass's pairs against the exact all-pairs oracle over
        every member of N_RECALL_FAMILIES planted families of the main
        corpus.  synth_transcripts puts conv c < n_dup into family
        c mod (n_dup / avg_family_size); the mega slice is left out."""
        from datasketches_server_spark.plans.oracle import oracle_pairs, pair_recall

        n_dup = N_CONVS // 2
        num = F.expr("try_cast(substring(conv_id, 6) AS INT)")  # NULL for the mega slice
        sub = r.conv_state.where((num < n_dup) & (num % (n_dup // 4) < N_RECALL_FAMILIES))
        oracle = oracle_pairs(sub, self.cfg).persist()
        recall = pair_recall(r.edges, oracle)
        n_pairs = oracle.count()
        oracle.unpersist()
        self.res.metrics["accuracy"] = recall
        self.res.check("pair_recall>=0.99", recall >= 0.99 and n_pairs > 0,
                       f"{recall:.4f} over {n_pairs} oracle pairs")

    def warm(self) -> int:
        def one_pass():
            dt, r = self.res.op(self.full_pass)
            if r is None:
                return 0.0
            self._finish(r)
            return dt

        return warm_up(one_pass, WARM_PASSES, self.log)

    # ------------------------------------------------------------ ops
    def full_pass(self):
        from datasketches_server_spark.plans.metrics import (
            cluster_metrics, global_rollup, shingle_metrics, simscore_metrics,
        )
        from datasketches_server_spark.plans.pipeline import dedup_pipeline

        t = self.spark.read.parquet(self.corpus_path)
        r = dedup_pipeline(t, self.cfg)
        r.clusters.write.mode("overwrite").parquet(os.path.join(self.out_dir, "clusters"))
        global_rollup(
            shingle_metrics(r.conv_state, self.cfg),
            simscore_metrics(r.edges, self.cfg),
            cluster_metrics(r.clusters, self.cfg),
            self.cfg,
        ).write.mode("overwrite").parquet(os.path.join(self.out_dir, "rollup"))
        return r

    def _finish(self, r) -> None:
        self.fps.append(fingerprint(r.clusters))
        if "accuracy" not in self.res.metrics:
            self.recall_check(r)
        r.unpersist()

    def loop(self, seconds: float) -> list[float]:
        return closed_loop(self.res, seconds, self.full_pass, min_ops=4, after=self._finish)

    def op_p50_s(self, walls: list[float]) -> float:
        return median(walls)

    def checks(self) -> None:
        self.res.check("fingerprint stable across passes", len(set(self.fps)) == 1,
                       f"{len(self.fps)} passes")

    # ------------------------------------------------------------ traced
    def traced_pass(self, tr) -> dict:
        """The full pass split at each layer boundary, every boundary a
        span and a forced materialization.  Returns the persisted
        relations and the boundary counts."""
        from datasketches_server_spark.operators.components import (
            attach_singletons, connected_components,
        )
        from datasketches_server_spark.operators.lsh import (
            band_buckets, candidate_pairs, verify_pairs,
        )
        from datasketches_server_spark.plans.metrics import (
            cluster_metrics, global_rollup, shingle_metrics, simscore_metrics,
        )
        from datasketches_server_spark.plans.pipeline import conv_signatures

        cfg, h = self.cfg, {"held": [], "ranked": []}
        with tr.span("pass"):
            t = self.spark.read.parquet(self.corpus_path)
            with tr.span("signatures", "signatures"):
                h["state"] = conv_signatures(t, cfg).persist()
                h["n_convs"] = h["state"].count()
            with tr.span("lsh", "lsh"):
                h["buckets"] = band_buckets(h["state"], cfg.lsh)
                h["cands"] = candidate_pairs(
                    h["buckets"], cfg.lsh, resources=h["held"], ranked_out=h["ranked"]
                ).persist()
                h["n_cands"] = h["cands"].count()
            with tr.span("verify", "verify"):
                h["edges"] = verify_pairs(h["cands"], h["state"], cfg.lsh, tier="exact").persist()
                h["n_edges"] = h["edges"].count()
            with tr.span("components", "components"):
                h["clusters"] = attach_singletons(
                    connected_components(h["edges"]), h["state"]).persist()
                h["n_clusters"] = h["clusters"].select("cluster_id").distinct().count()
            with tr.span("metrics", "metrics"):
                h["clusters"].write.mode("overwrite").parquet(os.path.join(self.out_dir, "clusters"))
                h["rollup"] = global_rollup(
                    shingle_metrics(h["state"], cfg), simscore_metrics(h["edges"], cfg),
                    cluster_metrics(h["clusters"], cfg), cfg,
                ).localCheckpoint(eager=True)
                h["rollup"].write.mode("overwrite").parquet(os.path.join(self.out_dir, "rollup"))
        return h

    def counters(self, h: dict) -> dict:
        """Work counters of one staged pass (untimed)."""
        from datasketches_server_spark.operators.lsh import bucket_stats_from_ranked

        rep = bucket_stats_from_ranked(h["ranked"][0], self.cfg.lsh).collect()[0]
        exact_sh = h["state"].select(F.explode("shingles")).distinct().count()
        n_cands, n_edges = h["n_cands"], h["n_edges"]
        return {
            "signatures.convs": h["n_convs"],
            "signatures.shingles": h["state"].agg(F.sum("n_shingles")).collect()[0][0],
            "lsh.band_rows": h["buckets"].count(),
            "lsh.candidate_pairs": n_cands,
            "lsh.max_bucket": rep["max_bucket"] or 0,
            "lsh.star_buckets": rep["star_buckets"] or 0,
            "lsh.dropped_members": rep["dropped_members"] or 0,
            "verify.edges": n_edges,
            "verify.precision": n_edges / max(n_cands, 1),
            "verify.pruned": n_cands - n_edges,
            "components.edges_in": n_edges,
            "components.clusters": h["n_clusters"],
            "metrics.distinct_shingles_rel_err":
                abs(h["rollup"].collect()[0]["distinct_shingles"] - exact_sh) / max(exact_sh, 1),
        }

    def traced(self, tr, seconds: float, untraced_walls: list[float]) -> None:
        m = self.res.metrics
        fps = []

        def finish(h):
            fps.append(fingerprint(h["clusters"]))
            if len(fps) == 1:
                m.update(self.counters(h))
            for df in (h["state"], h["cands"], h["edges"], h["clusters"], *h["held"]):
                df.unpersist()

        # a fixed three passes: the traced run must also fit the time limit
        walls = closed_loop(self.res, 0, lambda: self.traced_pass(tr), min_ops=3, after=finish)
        for layer in ("signatures", "lsh", "verify", "components"):
            m[f"{layer}.wall_s"] = median(tr.walls(layer))
        m["metrics.rollup_s"] = median(tr.walls("metrics"))
        m["trace.overhead_s"] = median(walls) - median(untraced_walls)
        self.res.check("traced fingerprint == untraced", set(fps) == set(self.fps[:1]),
                       f"{fps[:1]} vs {self.fps[:1]}")
        self.n_traced_passes = len(walls)
        self.chain(tr)

    def chain(self, tr) -> None:
        """Incremental ingest: a 25% base of one corpus, then two 15%
        batches absorbed through the band index (the corpus grows 1.6x
        between them); the final labeling must equal a full recompute
        over base plus batches."""
        from datasketches_server_spark.plans.band_index import (
            append_band_index, read_band_index, write_band_index,
        )
        from datasketches_server_spark.plans.pipeline import (
            conv_signatures, dedup_pipeline, incremental_dedup,
        )
        from datasketches_server_spark.sources.synth import synth_transcripts

        spark, cfg, m = self.spark, self.cfg, self.res.metrics
        wd = os.path.join(self.work, "chain")

        def p(name):
            return os.path.join(wd, name)

        full_t = synth_transcripts(spark, n_convs=N_CHAIN, seed=self.args.seed + 3)
        slot = F.pmod(F.xxhash64("conv_id"), F.lit(20))
        base = dedup_pipeline(full_t.where(slot >= 15), cfg)
        base.conv_state.write.parquet(p("state_base"))
        base.edges.write.parquet(p("edges_base"))
        base.clusters.write.parquet(p("clusters_base"))
        write_band_index(base.conv_state, wd, cfg, input_fp="base")
        base.unpersist()
        states, edges, fps = [p("state_base")], [p("edges_base")], ["base"]
        clusters_dir = p("clusters_base")
        rec = {k: [] for k in ("read", "append", "dedup", "absorb", "batch", "win",
                               "cc", "new_edges", "corpus", "rows")}
        fp_last = None

        def union(dirs):
            out = None
            for d in dirs:
                df = spark.read.parquet(d)
                out = df if out is None else out.unionByName(df)
            return out

        for i in range(2):
            new_t = full_t.where((slot >= 3 * i) & (slot < 3 * i + 3))
            old_clusters = spark.read.parquet(clusters_dir)
            with tr.span("band_index.read", "band_index") as s_read:
                old_buckets = read_band_index(spark, wd, cfg, input_fp=fps)
                n_rows = old_buckets.count()
            win: list = []
            cc: list = []
            with tr.span("ingest.batch") as s_batch:
                with tr.span("ingest.dedup", "ingest") as s_dedup:
                    r = incremental_dedup(
                        union(states), union(edges), new_t, cfg,
                        old_buckets=old_buckets, old_clusters=old_clusters,
                        window_input_out=win, contracted_out=cc,
                    )
                    fp_last = fingerprint(r.clusters)
                with tr.span("ingest.absorb", "ingest") as s_absorb:
                    conv_signatures(new_t, cfg).write.parquet(p(f"state_b{i}"))
                    r.new_edges.write.parquet(p(f"edges_b{i}"))
                    r.clusters.write.parquet(p(f"clusters_b{i}"))
                    with tr.span("band_index.append", "band_index") as s_app:
                        append_band_index(spark.read.parquet(p(f"state_b{i}")), wd, cfg,
                                          batch_fp=f"b{i}")
            # untimed work counters; read before the next batch replaces the inputs
            counts = (win[0].count(), cc[0].count(), r.new_edges.count(), old_clusters.count())
            r.unpersist()
            states.append(p(f"state_b{i}"))
            edges.append(p(f"edges_b{i}"))
            fps.append(f"b{i}")
            clusters_dir = p(f"clusters_b{i}")
            for key, s in (("read", s_read), ("append", s_app), ("dedup", s_dedup),
                           ("absorb", s_absorb), ("batch", s_batch)):
                rec[key].append(s["end"] - s["start"])
            for key, v in zip(("win", "cc", "new_edges", "corpus"), counts):
                rec[key].append(v)
            rec["rows"].append(n_rows)
        self.log(f"chain window rows {rec['win']} corpus {rec['corpus']}")
        full = dedup_pipeline(full_t.where((slot >= 15) | (slot < 6)), cfg)
        fp_full = fingerprint(full.clusters)
        full.unpersist()
        self.res.check("chain fingerprint == full recompute", fp_full == fp_last,
                       f"{fp_last} vs {fp_full}")
        m.update({
            "band_index.read_s": median(rec["read"]),
            "band_index.append_s": median(rec["append"]),
            "band_index.rows": rec["rows"][-1],
            "ingest.batch_s": median(rec["batch"]),
            "ingest.dedup_s": median(rec["dedup"]),
            "ingest.absorb_s": median(rec["absorb"]),
            "ingest.new_edges": sum(rec["new_edges"]),
            "ingest.corpus_convs": rec["corpus"][-1],
            "lsh.window_input_rows": rec["win"][-1],
            "components.contracted_edges": rec["cc"][-1],
            "ingest.window_rows_growth": rec["win"][-1] / max(rec["win"][0], 1),
            "ingest.corpus_growth": rec["corpus"][-1] / max(rec["corpus"][0], 1),
        })

    def layer_metrics(self, stage: dict) -> None:
        m, n = self.res.metrics, self.n_traced_passes
        for layer in ("signatures", "lsh", "verify", "components"):
            a = stage.get(layer, {})
            m[f"{layer}.task_s"] = a.get("task_s", 0.0) / n
            m[f"{layer}.shuffle_mb"] = a.get("shuffle_mb", 0.0) / n
        m["pass.spill_mb"] = sum(stage.get(layer, {}).get("spill_mb", 0.0) for layer in (
            "signatures", "lsh", "verify", "components", "metrics")) / n
        m["lsh.task_skew"] = stage.get("lsh", {}).get("task_skew", 1.0)
