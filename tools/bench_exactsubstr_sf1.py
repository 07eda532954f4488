"""ExactSubstr full-tier amplification probe at sf1-equivalent scale
(verdict r4 #6).

The window-explode tier (operators/dedup.cross_doc_duplicate_coverage,
exact=False) emits one narrow (wkey:int64, id:int64, pos:int32) row per
token position -- O(tokens) rows.  The question at sf>=1 is whether that
amplification dominates.  This probe synthesizes a deterministic
documents corpus ~10x the sf0.1 driver table (one doc per planted-corpus
conversation: same duplicate structure ExactSubstr exists to find -- no
external data), runs the identical operator at sf0.1 scale and at
sf1-equivalent scale on local[32], and reports walls, tokens/sec, and
the scale ratio.  Probe-gated: cpu_ceiling markers before
and after bracket the measurement so a noisy epoch is visible in the
artifact.

Writes BENCH_exactsubstr_sf1.json; summarized in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=50_000,
                    help="docs in the sf1-equivalent corpus (sf0.1 has 5,000)")
    ap.add_argument("--window", type=int, default=8)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--workdir", default="/tmp/exactsubstr_sf1")
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    from cpu_ceiling import probe as ceiling_probe

    from pyspark.sql import functions as F

    from datasketches_server_spark.operators.dedup import cross_doc_duplicate_coverage
    from datasketches_server_spark.session import get_spark
    from datasketches_server_spark.sources.synth import synth_transcripts

    spark = get_spark("exactsubstr-sf1", cores=32, shuffle_partitions=64)

    corpus = os.path.join(args.workdir, f"documents_{args.convs}")
    if not os.path.isdir(corpus):
        # one doc per conversation, text = turns concatenated in stable
        # (conv_id, turn_idx) order -- the planted dup families become
        # cross-document duplicate substrings, exactly ExactSubstr's prey
        t = synth_transcripts(spark, n_convs=args.convs, seed=42)
        docs = (
            t.groupBy("conv_id")
            .agg(
                F.concat_ws(
                    " ", F.transform(F.array_sort(F.collect_list(F.struct("turn_idx", "text"))), lambda s: s["text"])
                ).alias("text")
            )
            .select(F.col("conv_id").alias("doc_id"), "text")
        )
        docs.repartition(64).write.mode("overwrite").parquet(corpus)

    def measure(docs_df, label: str) -> dict:
        walls = []
        agg = None
        for _ in range(args.repeats):
            t0 = time.monotonic()
            r = (
                cross_doc_duplicate_coverage(docs_df, window=args.window, exact=False)
                .agg(
                    F.sum("dup_tokens").alias("d"),
                    F.sum("n_tokens").alias("n"),
                    F.count("*").alias("docs"),
                )
                .collect()[0]
            )
            walls.append(round(time.monotonic() - t0, 2))
            agg = r
        best = min(walls)
        return {
            "label": label,
            "walls": walls,
            "wall_best": best,
            "n_docs": int(agg["docs"]),
            "total_tokens": int(agg["n"]),
            "dup_tokens": int(agg["d"]),
            "tokens_per_sec": round(int(agg["n"]) / best, 1),
        }

    probe_before = ceiling_probe(levels=(2, 8), secs_per_rep=1.2, repeats=1)
    small = measure(
        spark.read.parquet(os.path.join(args.sf_dir, "documents.parquet")), "sf0.1"
    )
    big = measure(spark.read.parquet(corpus), "sf1_equiv")
    probe_after = ceiling_probe(levels=(2, 8), secs_per_rep=1.2, repeats=1)

    scale = big["total_tokens"] / max(small["total_tokens"], 1)
    out = {
        "metric": "exactsubstr_fulltier_sf1_amplification",
        "window": args.window,
        "small": small,
        "big": big,
        "token_scale_ratio": round(scale, 2),
        "wall_scale_ratio": round(big["wall_best"] / small["wall_best"], 2),
        # < token ratio => sublinear in practice (fixed overhead amortizes);
        # >> token ratio => amplification dominates, suffix-array tier needed
        "ceiling_before": probe_before["efficiency_ceiling_2to8"],
        "ceiling_after": probe_after["efficiency_ceiling_2to8"],
        "marker_before": probe_before.get("abs_wall_per_krep"),
        "marker_after": probe_after.get("abs_wall_per_krep"),
        "cores": 32,
    }
    print(json.dumps(out))
    with open(os.path.join(REPO, "BENCH_exactsubstr_sf1.json"), "w") as f:
        json.dump(out, f, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
