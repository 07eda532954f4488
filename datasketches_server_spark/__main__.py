"""spark-submit entry point: the full resumable dedup job.

Absolute imports so this file can be passed directly to spark-submit
(with --py-files providing the package); `python -m` works too.

    spark-submit --master local[N] --py-files dss.zip \
        datasketches_server_spark/__main__.py \
        --input  /path/to/transcripts_parquet_or_table \
        --workdir /path/to/checkpoints \
        [--config config.json] [--synth-convs 100000]

Re-running the same command after a kill resumes from the lineage
manifest (plans/lineage.py): completed buckets are skipped, outputs are
byte-identical.  --config accepts a JSON object with shingle/minhash/
lsh/sketch overrides (our engine config, not the reference's sketch
declarations -- for those see server.py:parse_config).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import SparkSession

from datasketches_server_spark.config import LshConfig, MinHashConfig, PipelineConfig, ShingleConfig, SketchConfig
from datasketches_server_spark.plans.lineage import LineageRunner
from datasketches_server_spark.plans.metrics import cluster_metrics, global_rollup, shingle_metrics, simscore_metrics
from datasketches_server_spark.sources.io import path_fingerprint
from datasketches_server_spark.sources.synth import synth_transcripts


def load_config(path: str | None) -> PipelineConfig:
    if not path:
        return PipelineConfig()
    with open(path) as f:
        raw = json.load(f)
    return PipelineConfig(
        shingle=ShingleConfig(**raw.get("shingle", {})),
        minhash=MinHashConfig(**raw.get("minhash", {})),
        lsh=LshConfig(**raw.get("lsh", {})),
        sketch=SketchConfig(**raw.get("sketch", {})),
        num_buckets=raw.get("num_buckets", 32),
    )


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    # spark: pass an existing session (tests, notebooks) and main() will
    # neither create nor stop one; spark-submit owns its own session.
    ap = argparse.ArgumentParser(prog="datasketches_server_spark")
    ap.add_argument("--input", help="transcripts parquet dir or table name")
    ap.add_argument("--workdir", required=True, help="checkpoint/lineage root")
    ap.add_argument("--config", help="engine config JSON")
    ap.add_argument(
        "--threshold", type=float,
        help="target Jaccard threshold: derives (bands, rows) via the "
        "recall-floor rule (functions/lsh_planner.py, catch probability "
        ">= 0.99 at the threshold) instead of the shipped default -- "
        "equivalent to hand-writing the planned lsh block in --config, "
        "and rejected if --config also sets lsh (one source of truth)",
    )
    ap.add_argument("--synth-convs", type=int, help="generate a planted corpus instead of --input")
    ap.add_argument("--metrics", action="store_true", help="also emit sketch metric tables")
    ap.add_argument(
        "--batch-input",
        help="NEW-batch transcripts parquet: absorb incrementally against the "
        "completed runs named by --base-fps (daily-ingest mode; per-batch "
        "work scales with the batch via the persisted band index)",
    )
    ap.add_argument(
        "--base-fps",
        help="comma-separated input fingerprints of the completed base runs, "
        "oldest first (a full run prints its input_fp in the summary)",
    )
    ap.add_argument(
        "--batch-fp",
        help="fingerprint recorded for this batch (default: snapshot of --batch-input)",
    )
    ap.add_argument(
        "--compact",
        action="store_true",
        help="maintenance mode: fold the incremental chain named by "
        "--base-fps (oldest first) into ONE consolidated snapshot named "
        "--compact-fp; later --batch-input runs pass --base-fps "
        "<compact-fp> and read one stage per store instead of the chain. "
        "Periodic, heavyweight (rewrites O(corpus) once), idempotent.",
    )
    ap.add_argument(
        "--compact-fp",
        default="compacted_1",
        help="snapshot name the compacted chain is written under (must be "
        "a FRESH name, not a member of --base-fps; rotate compacted_1 -> "
        "compacted_2 -> ... on later compactions)",
    )
    ap.add_argument(
        "--compact-windows",
        action="store_true",
        help="maintenance mode: fold the ExactSubstr window-index delta "
        "chain (--base-fps, oldest first; 'base' for the bootstrap) under "
        "--workdir into one snapshot named --compact-fp "
        "(plans/window_index.compact_window_chain)",
    )
    ap.add_argument(
        "--window", type=int, default=8,
        help="token window size of the index being compacted",
    )
    ap.add_argument(
        "--retract-input",
        help="maintenance mode: parquet with a conv_id column naming "
        "conversations to REMOVE from the chain given by --base-fps; the "
        "retracted state (signatures, edges, band index, clusters with "
        "affected components re-solved) is folded into one snapshot named "
        "--compact-fp.  Source-pulled / erasure path; never rewrites the "
        "chain dirs in place (plans/retract.py)",
    )
    ap.add_argument(
        "--decontam-input",
        help="EVAL-suite transcripts parquet: report every near-dup pair "
        "between the indexed corpus chain named by --base-fps (train "
        "side) and this eval set, at the run's own shingle/signature "
        "config.  Zero recompute of the indexed corpus (persisted "
        "signatures + band index probed, eval band rows broadcast); "
        "pairs are written under <workdir>/decontam/ and summarized",
    )
    ap.add_argument(
        "--retract-windows",
        action="store_true",
        help="with --retract-input: retract from the ExactSubstr window-"
        "index chain (--base-fps, --window) instead of the dedup stores; "
        "folds the chain minus the removed docs into --compact-fp by "
        "rebuilding from stored token arrays (requires a chain written "
        "with store_tokens=True; plans/window_index.retract_window_chain)",
    )
    ap.add_argument(
        "--compact-metrics",
        help="maintenance mode: fold the sketch-metrics append log at this "
        "path through --through-epoch into one base row per key "
        "(streaming/incremental.compact_metrics)",
    )
    ap.add_argument(
        "--through-epoch", type=int,
        help="highest epoch folded by --compact-metrics",
    )
    ap.add_argument(
        "--bloom-build",
        action="store_true",
        help="maintenance mode: build the exact-dedup Bloom membership "
        "index (plans/bloom_index) over --input's conversations "
        "(fingerprint = md5 of the normalized assembled text) and persist "
        "it plus the fingerprint table under <workdir>/bloom/; "
        "--seen-input batches then probe it without touching the corpus",
    )
    ap.add_argument(
        "--seen-input",
        help="BATCH transcripts parquet: exact seen-before verdict per "
        "conversation against the persisted Bloom index built by "
        "--bloom-build (O(batch) hashing + survivors-only verify; "
        "verdicts written under <workdir>/bloom/verdicts/)",
    )
    ap.add_argument(
        "--export",
        help="documents parquet (doc_id, text, ...) to export as "
        "deterministic token-balanced shards: partitioned parquet under "
        "<workdir>/export/shards + per-shard manifest (the training "
        "loader's last mile; operators/export.py)",
    )
    ap.add_argument(
        "--export-target-tokens", type=int, default=1 << 20,
        help="greedy shard cut size in normalized tokens (default 2^20)",
    )
    args = ap.parse_args(argv)

    owns_session = spark is None
    if owns_session:
        spark = SparkSession.builder.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
    cfg = load_config(args.config)
    if args.threshold is not None:
        import dataclasses

        from datasketches_server_spark.functions.lsh_planner import planned_lsh_config

        if args.config:
            with open(args.config) as f:
                if "lsh" in json.load(f):
                    ap.error("--threshold and a --config lsh block both set "
                             "the band plan; pick one")
        cfg = dataclasses.replace(cfg, lsh=planned_lsh_config(args.threshold))

    if args.compact_windows:
        if not args.base_fps:
            ap.error("--compact-windows requires --base-fps (the chain to fold)")
        from datasketches_server_spark.plans.window_index import compact_window_chain

        fps = args.base_fps.split(",")
        if args.compact_fp in fps:
            ap.error("--compact-fp must be a fresh snapshot name, not a chain member")
        out_fp = compact_window_chain(
            spark, args.workdir, window=args.window, chain=fps, out_fp=args.compact_fp
        )
        print(json.dumps({"mode": "compact-windows", "chain": fps, "input_fp": out_fp}))
        if owns_session:
            spark.stop()
        return 0

    if args.export:
        from datasketches_server_spark.operators.export import write_shards

        docs = spark.read.parquet(args.export)
        out = f"{args.workdir}/export"
        manifest = write_shards(docs, out, target_tokens=args.export_target_tokens)
        rows = manifest.collect()  # bounded: one row per shard
        print(
            json.dumps(
                {
                    "mode": "export",
                    "out": out,
                    "n_shards": len(rows),
                    "n_docs": sum(r["n_docs"] for r in rows),
                    "n_tokens": sum(r["n_tokens"] for r in rows),
                    "target_tokens": args.export_target_tokens,
                }
            )
        )
        if owns_session:
            spark.stop()
        return 0

    if args.compact_metrics:
        if args.through_epoch is None:
            ap.error("--compact-metrics requires --through-epoch")
        from datasketches_server_spark.streaming.incremental import compact_metrics

        stats = compact_metrics(spark, args.compact_metrics, args.through_epoch)
        print(json.dumps({"mode": "compact-metrics", **stats}))
        if owns_session:
            spark.stop()
        return 0

    if args.bloom_build or args.seen_input:
        from datasketches_server_spark.functions.text import assemble_conversations, tokens
        from datasketches_server_spark.plans.bloom_index import (
            BloomConfig,
            build_bloom_index,
            read_bloom_index,
            seen_filter,
            write_bloom_index,
        )
        from pyspark.sql import functions as F

        bcfg = BloomConfig()
        idx_path = os.path.join(args.workdir, "bloom", f"{bcfg.config_hash()}_index")
        fps_path = os.path.join(args.workdir, "bloom", f"{bcfg.config_hash()}_fps")

        def _conv_fps(df):
            conv = assemble_conversations(df)
            return conv.select(
                "conv_id",
                F.md5(F.concat_ws(" ", tokens(F.col("full_text")))).alias("fp"),
            )

        if args.bloom_build:
            if not args.input:
                ap.error("--bloom-build requires --input (the corpus)")
            fps = _conv_fps(spark.read.parquet(args.input))
            fps.write.mode("overwrite").parquet(fps_path)
            fps = spark.read.parquet(fps_path)
            write_bloom_index(build_bloom_index(fps, "fp", bcfg), idx_path)
            n = spark.read.parquet(idx_path).agg(F.sum("n_rows")).first()[0]
            print(json.dumps({"mode": "bloom-build", "n_fingerprints": int(n or 0),
                              "index_path": idx_path}))
        else:
            idx = read_bloom_index(spark, idx_path)
            base_fps = spark.read.parquet(fps_path)
            batch = _conv_fps(spark.read.parquet(args.seen_input))
            verdicts = seen_filter(idx, base_fps, batch, "conv_id", "fp", bcfg)
            batch_fp = path_fingerprint(args.seen_input)
            out = os.path.join(args.workdir, "bloom", "verdicts", batch_fp)
            verdicts.withColumnRenamed("id", "conv_id").write.mode("overwrite").parquet(out)
            v = spark.read.parquet(out)
            print(json.dumps({
                "mode": "seen-filter", "batch_fp": batch_fp,
                "n_convs": v.count(),
                "n_seen": v.where("seen_before").count(),
                "verdicts_path": out,
            }))
        if owns_session:
            spark.stop()
        return 0

    if args.decontam_input:
        if not args.base_fps:
            ap.error("--decontam-input requires --base-fps (the indexed chain)")
        fps = args.base_fps.split(",")
        eval_t = spark.read.parquet(args.decontam_input)
        eval_fp = path_fingerprint(args.decontam_input)
        runner = LineageRunner(spark, args.workdir, cfg)
        pairs = runner.decontam_eval(eval_t, fps)
        out_path = os.path.join(
            args.workdir, "decontam", f"{cfg.config_hash()}_{eval_fp}"
        )
        pairs.write.mode("overwrite").parquet(out_path)
        pairs = spark.read.parquet(out_path)
        n_pairs = pairs.count()
        n_eval = eval_t.select("conv_id").distinct().count()
        n_contaminated = pairs.select("eval_conv_id").distinct().count()
        print(
            json.dumps(
                {
                    "mode": "decontam",
                    "config_hash": cfg.config_hash(),
                    "chain": fps,
                    "eval_fp": eval_fp,
                    "n_eval_convs": n_eval,
                    "n_pairs": n_pairs,
                    "n_contaminated_eval_convs": n_contaminated,
                    "pairs_path": out_path,
                }
            )
        )
        if owns_session:
            spark.stop()
        return 0

    if args.retract_windows:
        if not args.retract_input:
            ap.error("--retract-windows requires --retract-input (ids to remove)")
        if not args.base_fps:
            ap.error("--retract-windows requires --base-fps (the chain to retract from)")
        from datasketches_server_spark.plans.window_index import retract_window_chain

        fps = args.base_fps.split(",")
        if args.compact_fp in fps:
            ap.error("--compact-fp must be a fresh snapshot name, not a chain member")
        removed = spark.read.parquet(args.retract_input)
        stats = retract_window_chain(
            spark, args.workdir, removed, window=args.window,
            chain=fps, out_fp=args.compact_fp,
        )
        print(
            json.dumps(
                {
                    "mode": "retract-windows",
                    "chain": fps,
                    "window": args.window,
                    # pass as --base-fps to later absorbs
                    "input_fp": args.compact_fp,
                    "window_rows": stats["window_rows"],
                }
            )
        )
        if owns_session:
            spark.stop()
        return 0

    if args.retract_input:
        if not args.base_fps:
            ap.error("--retract-input requires --base-fps (the chain to retract from)")
        fps = args.base_fps.split(",")
        if args.compact_fp in fps:
            ap.error("--compact-fp must be a fresh snapshot name, not a chain member")
        removed = spark.read.parquet(args.retract_input).select("conv_id")
        runner = LineageRunner(spark, args.workdir, cfg)
        counts = runner.retract_chain(fps, removed, args.compact_fp)
        print(
            json.dumps(
                {
                    "mode": "retract",
                    "config_hash": cfg.config_hash(),
                    "chain": fps,
                    # pass as --base-fps to later --batch-input runs
                    "input_fp": args.compact_fp,
                    "counts": counts,
                }
            )
        )
        if owns_session:
            spark.stop()
        return 0

    if args.compact:
        if not args.base_fps:
            ap.error("--compact requires --base-fps (the chain to fold)")
        fps = args.base_fps.split(",")
        if args.compact_fp in fps:
            ap.error("--compact-fp must be a fresh snapshot name, not a chain member")
        runner = LineageRunner(spark, args.workdir, cfg)
        counts = runner.compact_chain(fps, args.compact_fp)
        print(
            json.dumps(
                {
                    "mode": "compact",
                    "config_hash": cfg.config_hash(),
                    "chain": fps,
                    # pass as --base-fps to later --batch-input runs
                    "input_fp": args.compact_fp,
                    "counts": counts,
                }
            )
        )
        if owns_session:
            spark.stop()
        return 0

    if args.batch_input:
        if not args.base_fps:
            ap.error("--batch-input requires --base-fps")
        batch = spark.read.parquet(args.batch_input)
        batch_fp = args.batch_fp or path_fingerprint(args.batch_input)
        runner = LineageRunner(spark, args.workdir, cfg)
        out, stats = runner.run_incremental(
            batch, input_fp=batch_fp, base_fps=args.base_fps.split(",")
        )
        print(
            json.dumps(
                {
                    "mode": "incremental",
                    "config_hash": cfg.config_hash(),
                    "input_fp": batch_fp,
                    "computed": stats.computed,
                    "skipped": stats.skipped,
                    "n_batch_convs": batch.select("conv_id").distinct().count(),
                    "n_convs_total": out["conv_state"].count(),
                    "n_clusters": out["clusters"].select("cluster_id").distinct().count(),
                }
            )
        )
        if owns_session:
            spark.stop()
        return 0

    if args.synth_convs:
        transcripts = synth_transcripts(spark, n_convs=args.synth_convs, seed=cfg.minhash.seed)
        input_fp = f"synth:{args.synth_convs}:{cfg.minhash.seed}"
    elif args.input:
        # an existing path is parquet; anything else names a catalog
        # table.  The path is made absolute here because the JVM
        # resolves relative paths against its own start directory.
        if os.path.exists(args.input):
            transcripts = spark.read.parquet(os.path.abspath(args.input))
            input_fp = path_fingerprint(args.input)
        else:
            transcripts = spark.read.table(args.input)
            input_fp = args.input
    else:
        ap.error("--input or --synth-convs required")

    runner = LineageRunner(spark, args.workdir, cfg)
    out, stats = runner.run(transcripts, input_fp=input_fp)
    summary = {
        "config_hash": cfg.config_hash(),
        "input_fp": input_fp,  # pass as --base-fps to later --batch-input runs
        "computed": stats.computed,
        "skipped": stats.skipped,
        # skew observability (no-silent-caps): star_buckets fell back to
        # O(m) star edges; dropped_members were truncated past bucket_cap
        "bucket_stats": stats.bucket_stats,
        "n_convs": out["conv_state"].count(),
        "n_edges": out["edges"].count(),
        "n_clusters": out["clusters"].select("cluster_id").distinct().count(),
    }
    if args.metrics:
        row = global_rollup(
            shingle_metrics(out["conv_state"], cfg),
            simscore_metrics(out["edges"], cfg),
            cluster_metrics(out["clusters"], cfg),
            cfg,
        ).collect()[0]
        summary["metrics"] = {
            "distinct_shingles": int(row["distinct_shingles"]),
            "jaccard_quantiles": [float(x) for x in (row["jaccard_quantiles"] or [])],
            "approx_clusters": int(row["approx_clusters"]),
        }
    print(json.dumps(summary))
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
