"""Kill/resume semantics: a re-run recomputes nothing; a partially
killed run recomputes only missing units -- per signature bucket AND
per edge unit (band-bucket range); results are identical."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from datasketches_server_spark.config import PipelineConfig
from datasketches_server_spark.plans.lineage import LineageRunner
from datasketches_server_spark.sources.synth import synth_transcripts

FULL = {"signatures": 8, "edges": 8, "labels": 1, "clusters": 1}
NONE = {"signatures": 0, "edges": 0, "labels": 0, "clusters": 0}


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "lineage")


def _fingerprint(df):
    return df.select(F.expr("bit_xor(xxhash64(conv_id, cluster_id))").alias("f")).collect()[0]["f"]


def test_full_run_then_noop_resume(spark, workdir):
    cfg = PipelineConfig(num_buckets=8)
    t = synth_transcripts(spark, n_convs=200, seed=11)
    runner = LineageRunner(spark, workdir, cfg)

    out1, s1 = runner.run(t)
    assert s1.computed == FULL
    # skew observability surfaced on the computing run (task: no silent caps)
    assert s1.bucket_stats["n_buckets"] > 0
    assert "dropped_members" in s1.bucket_stats and "star_buckets" in s1.bucket_stats
    f1 = _fingerprint(out1["clusters"])
    # the runner composes the pipeline's own stages: same clustering
    from datasketches_server_spark.plans.pipeline import dedup_pipeline

    api = dedup_pipeline(t, cfg)
    assert _fingerprint(api.clusters) == f1
    api.unpersist()

    out2, s2 = runner.run(t)
    assert s2.computed == NONE
    assert s2.skipped == FULL
    assert s2.bucket_stats == {}  # nothing recomputed -> nothing measured
    assert _fingerprint(out2["clusters"]) == f1


def test_kill_and_resume_recomputes_only_missing(spark, workdir):
    cfg = PipelineConfig(num_buckets=8)
    t = synth_transcripts(spark, n_convs=200, seed=11)
    runner = LineageRunner(spark, workdir, cfg)
    out1, _ = runner.run(t)
    f1 = _fingerprint(out1["clusters"])

    # simulate a crash that lost two signature buckets and everything after
    shutil.rmtree(runner._unit_path("signatures", 3))
    shutil.rmtree(runner._unit_path("signatures", 5))
    shutil.rmtree(runner._stage_dir("edges", "static"))
    shutil.rmtree(runner._stage_dir("labels", "static"))
    shutil.rmtree(runner._stage_dir("clusters", "static"))

    out2, s2 = runner.run(t)
    assert s2.computed["signatures"] == 2  # only the lost buckets
    assert s2.skipped["signatures"] == 6
    assert s2.computed["edges"] == 8
    assert s2.computed["labels"] == 1 and s2.computed["clusters"] == 1
    assert _fingerprint(out2["clusters"]) == f1


def test_kill_at_edge_stage_midpoint_recomputes_only_pending_units(spark, workdir):
    """Round-3 task #5: the edge stage is bucketized by band-bucket
    range -- a kill mid-verify must recompute only the lost units, and
    the resumed result must be identical."""
    cfg = PipelineConfig(num_buckets=4)
    t = synth_transcripts(spark, n_convs=300, seed=13)
    runner = LineageRunner(spark, workdir, cfg, edge_units=8)
    out1, s1 = runner.run(t)
    assert s1.computed["edges"] == 8
    f1 = _fingerprint(out1["clusters"])
    n_edges1 = out1["edges"].count()

    # crash at stage-2 midpoint: units 2 and 5 lost, later stages lost
    shutil.rmtree(runner._unit_path("edges", 2))
    shutil.rmtree(runner._unit_path("edges", 5))
    shutil.rmtree(runner._stage_dir("labels", "static"))
    shutil.rmtree(runner._stage_dir("clusters", "static"))

    out2, s2 = runner.run(t)
    assert s2.computed["signatures"] == 0
    assert s2.computed["edges"] == 2 and s2.skipped["edges"] == 6
    assert out2["edges"].count() == n_edges1
    assert _fingerprint(out2["clusters"]) == f1


def test_kill_between_labels_and_clusters_resumes_from_labels(spark, workdir):
    """Stage 3 is split: losing only the singleton-attach output must
    NOT re-run the connected-components fixpoint."""
    cfg = PipelineConfig(num_buckets=4)
    t = synth_transcripts(spark, n_convs=200, seed=11)
    runner = LineageRunner(spark, workdir, cfg)
    out1, _ = runner.run(t)
    f1 = _fingerprint(out1["clusters"])

    shutil.rmtree(runner._stage_dir("clusters", "static"))
    out2, s2 = runner.run(t)
    assert s2.computed == {"signatures": 0, "edges": 0, "labels": 0, "clusters": 1}
    assert _fingerprint(out2["clusters"]) == f1


def test_empty_corpus_runs_clean(spark, workdir):
    """ADVICE fix: a pending set that produces ZERO rows (empty corpus)
    leaves no parquet files under the stage dir; the runner must fall
    back to empty DataFrames with the right schema instead of throwing."""
    t = synth_transcripts(spark, n_convs=50, seed=11).where(F.lit(False))
    runner = LineageRunner(spark, workdir, PipelineConfig(num_buckets=4))
    out, s = runner.run(t)
    assert out["conv_state"].count() == 0
    assert out["edges"].count() == 0
    assert out["clusters"].count() == 0
    assert s.computed["signatures"] == 4
    # resume over the empty outputs is also clean
    out2, s2 = runner.run(t)
    assert s2.computed["signatures"] == 0
    assert out2["clusters"].count() == 0


def test_corrupt_stage_file_raises_instead_of_empty_fallback(spark, workdir):
    """ADVICE r3 (medium): the empty-stage fallback must be NARROW -- a
    stage dir that DOES contain parquet files but fails to read (corrupt
    footer here) must raise, never silently serve an empty stage."""
    import os

    cfg = PipelineConfig(num_buckets=4)
    t = synth_transcripts(spark, n_convs=100, seed=11)
    runner = LineageRunner(spark, workdir, cfg)
    runner.run(t)

    # corrupt every signature data file, then force a resume that reads
    # the stage (drop the downstream stages so they recompute from it)
    sig_dir = runner._stage_dir("signatures", "static")
    n_corrupted = 0
    for root, _dirs, files in os.walk(sig_dir):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"not a parquet file")
                n_corrupted += 1
    assert n_corrupted > 0
    shutil.rmtree(runner._stage_dir("edges", "static"))
    shutil.rmtree(runner._stage_dir("labels", "static"))
    shutil.rmtree(runner._stage_dir("clusters", "static"))

    with pytest.raises(Exception):
        out, _ = runner.run(t)
        # reads are lazy; force materialization of the resumed pipeline
        out["clusters"].count()


def test_config_change_invalidates(spark, workdir):
    t = synth_transcripts(spark, n_convs=100, seed=11)
    r1 = LineageRunner(spark, workdir, PipelineConfig(num_buckets=4))
    r1.run(t)
    # different shingle k -> different config hash -> full recompute
    from datasketches_server_spark.config import ShingleConfig

    r2 = LineageRunner(spark, workdir, PipelineConfig(num_buckets=4, shingle=ShingleConfig(k=5)))
    _, s2 = r2.run(t)
    assert s2.computed["signatures"] == 4


def test_config_roundtrip_serves_own_outputs(spark, workdir):
    """ADVICE fix: run config A, then config B, then A again -- A must
    resume from A's OWN outputs (paths are keyed by config hash), never
    serve B's results under A's name."""
    from datasketches_server_spark.config import ShingleConfig

    t = synth_transcripts(spark, n_convs=100, seed=11)
    cfg_a = PipelineConfig(num_buckets=4)
    cfg_b = PipelineConfig(num_buckets=4, shingle=ShingleConfig(k=5))

    out_a, _ = LineageRunner(spark, workdir, cfg_a).run(t)
    f_a = _fingerprint(out_a["clusters"])
    LineageRunner(spark, workdir, cfg_b).run(t)

    out_a2, s = LineageRunner(spark, workdir, cfg_a).run(t)
    assert s.computed == NONE
    assert _fingerprint(out_a2["clusters"]) == f_a


def test_incremental_batch_kill_resume_and_chain(spark, workdir):
    """Round-4 task #8: incremental batches run THROUGH the manifest --
    a batch killed mid-verify recomputes only pending edge units; the
    resumed clusters equal both the uninterrupted incremental run and a
    full recompute of the combined corpus; and a SECOND batch chains on
    the first's outputs."""
    cfg = PipelineConfig(num_buckets=8)
    full_t = synth_transcripts(spark, n_convs=400, seed=23)
    b1 = F.pmod(F.xxhash64("conv_id"), F.lit(5)) == 0   # ~20% batch 1
    b2 = F.pmod(F.xxhash64("conv_id"), F.lit(5)) == 1   # ~20% batch 2
    base_t = full_t.where(~b1 & ~b2)
    runner = LineageRunner(spark, workdir, cfg, edge_units=8)
    runner.run(base_t, input_fp="base")

    out1, s1 = runner.run_incremental(full_t.where(b1), "batch1", ["base"])
    assert s1.computed["signatures"] > 0 and s1.computed["edges"] == 8
    assert s1.bucket_stats["n_buckets"] > 0  # skew observability carried over
    # the clusters stage stores only the DELTA (changed + new rows),
    # not the whole corpus labeling
    n_batch1 = full_t.where(b1).select("conv_id").distinct().count()
    n_corpus = full_t.select("conv_id").distinct().count()
    assert s1.computed["clusters_delta_rows"] < n_corpus // 2
    assert s1.computed["clusters_delta_rows"] >= n_batch1
    f1 = _fingerprint(out1["clusters"])

    # kill mid-verify: lose two edge units + the downstream stage
    shutil.rmtree(runner._unit_path("edges", 1, "batch1"))
    shutil.rmtree(runner._unit_path("edges", 6, "batch1"))
    shutil.rmtree(runner._stage_dir("clusters", "batch1"))
    out2, s2 = runner.run_incremental(full_t.where(b1), "batch1", ["base"])
    assert s2.computed["signatures"] == 0          # batch signatures kept
    assert s2.computed["edges"] == 2 and s2.skipped["edges"] == 6
    assert _fingerprint(out2["clusters"]) == f1

    # second batch chains on base + batch1
    out3, s3 = runner.run_incremental(full_t.where(b2), "batch2", ["base", "batch1"])
    assert s3.computed["edges"] == 8

    # ground truth: full recompute over everything
    from datasketches_server_spark.plans.pipeline import dedup_pipeline

    want = {r["conv_id"]: r["cluster_id"]
            for r in dedup_pipeline(full_t, cfg).clusters.collect()}
    got = {r["conv_id"]: r["cluster_id"] for r in out3["clusters"].collect()}
    assert got == want

    # resume of the chained batch is a no-op
    out4, s4 = runner.run_incremental(full_t.where(b2), "batch2", ["base", "batch1"])
    assert s4.computed == {"signatures": 0, "edges": 0, "clusters": 0}
    assert _fingerprint(out4["clusters"]) == _fingerprint(out3["clusters"])


def test_compact_chain_equals_uncompacted(spark, workdir):
    """Folding base + batch1 into one snapshot must leave a third batch
    indistinguishable: run_incremental against [compacted] produces the
    identical clustering to the same batch against [base, batch1]."""
    cfg = PipelineConfig(num_buckets=8)
    full_t = synth_transcripts(spark, n_convs=300, seed=29)
    b1 = F.pmod(F.xxhash64("conv_id"), F.lit(4)) == 0
    b2 = F.pmod(F.xxhash64("conv_id"), F.lit(4)) == 1
    runner = LineageRunner(spark, workdir, cfg)
    runner.run(full_t.where(~b1 & ~b2), input_fp="base")
    runner.run_incremental(full_t.where(b1), "batch1", ["base"])

    counts = runner.compact_chain(["base", "batch1"], "cmp1")
    n_all = full_t.where(~b2).select("conv_id").distinct().count()
    assert counts["signatures"] == n_all and counts["clusters"] == n_all

    out_c, s_c = runner.run_incremental(full_t.where(b2), "batch2c", ["cmp1"])
    out_u, _ = runner.run_incremental(full_t.where(b2), "batch2u", ["base", "batch1"])
    assert _fingerprint(out_c["clusters"]) == _fingerprint(out_u["clusters"])

    # compaction is idempotent
    counts2 = runner.compact_chain(["base", "batch1"], "cmp1")
    assert counts2 == counts


def test_reset_before_any_run_is_safe(spark, workdir):
    runner = LineageRunner(spark, workdir, PipelineConfig(num_buckets=4))
    runner.reset_stage("clusters")  # ADVICE fix: no manifest yet -> no-op


def test_reset_stage(spark, workdir):
    cfg = PipelineConfig(num_buckets=4)
    t = synth_transcripts(spark, n_convs=100, seed=11)
    runner = LineageRunner(spark, workdir, cfg)
    runner.run(t)
    runner.reset_stage("clusters")
    _, s = runner.run(t)
    assert s.computed == {"signatures": 0, "edges": 0, "labels": 0, "clusters": 1}


def test_cli_full_then_incremental_batch(spark, tmp_path, monkeypatch):
    """__main__.main drives full-run + --batch-input incremental absorb
    end-to-end: the batch summary reports batch-scaled conv counts and
    the composed labeling covers the whole corpus.  The full run's
    --input is a RELATIVE path containing a dot: an existing path is
    read as parquet, never as a catalog table name."""
    import json
    from contextlib import redirect_stdout
    from io import StringIO

    from datasketches_server_spark.__main__ import main
    from datasketches_server_spark.sources.synth import synth_transcripts

    base = synth_transcripts(spark, n_convs=120, seed=5)
    batch = synth_transcripts(spark, n_convs=30, seed=99)
    base_p, batch_p = str(tmp_path / "data" / "base.parquet"), str(tmp_path / "batch")
    base.write.parquet(base_p)
    # distinct conv ids so the batch is genuinely new
    batch.selectExpr(
        "concat('nb-', conv_id) conv_id", "turn_idx", "role", "text", "tool", "ts"
    ).write.parquet(batch_p)
    wd = str(tmp_path / "wd")

    def run(argv):
        buf = StringIO()
        with redirect_stdout(buf):
            assert main(argv, spark=spark) == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    monkeypatch.chdir(tmp_path)
    full = run(["--input", "data/base.parquet", "--workdir", wd])
    assert full["n_convs"] == 120
    inc = run(
        ["--batch-input", batch_p, "--workdir", wd,
         "--base-fps", full["input_fp"], "--batch-fp", "day1"]
    )
    assert inc["mode"] == "incremental"
    assert inc["n_batch_convs"] == 30
    assert inc["n_convs_total"] == 150       # composed state covers all
    # the new batch's signature stage computed units (batch was banded)
    assert any(k.startswith("sig") and v > 0 for k, v in inc["computed"].items()), inc
    assert inc["n_clusters"] >= full["n_clusters"]  # labeling covers all


def test_cli_compact_mode_chain_then_absorb(spark, tmp_path):
    """Verdict r4 #4: the CLI maintenance mode.  Chain 3 snapshots via
    the CLI (full + 2 batches), --compact them into one snapshot, absorb
    2 MORE batches against the compacted fp -- the final composed
    labeling must fingerprint-equal a full recompute over all 5 corpora."""
    import json
    from contextlib import redirect_stdout
    from io import StringIO

    from datasketches_server_spark.__main__ import main
    from datasketches_server_spark.plans.pipeline import dedup_pipeline

    cfg = PipelineConfig(num_buckets=8)
    full_t = synth_transcripts(spark, n_convs=250, seed=31)
    part = F.pmod(F.xxhash64("conv_id"), F.lit(5))
    pieces = [full_t.where(part == i) for i in range(5)]
    paths = []
    for i, piece in enumerate(pieces):
        p = str(tmp_path / f"piece{i}")
        piece.write.parquet(p)
        paths.append(p)
    wd = str(tmp_path / "wd")
    cfg_p = str(tmp_path / "cfg.json")
    with open(cfg_p, "w") as f:
        json.dump({"num_buckets": 8}, f)

    def run(argv):
        buf = StringIO()
        with redirect_stdout(buf):
            assert main(argv + ["--workdir", wd, "--config", cfg_p], spark=spark) == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    run(["--input", paths[0]])
    fp0 = run(["--input", paths[0]])["input_fp"]  # resume no-op, same fp
    run(["--batch-input", paths[1], "--base-fps", fp0, "--batch-fp", "d1"])
    run(["--batch-input", paths[2], "--base-fps", f"{fp0},d1", "--batch-fp", "d2"])

    cmp_out = run(["--compact", "--base-fps", f"{fp0},d1,d2"])
    assert cmp_out["mode"] == "compact" and cmp_out["input_fp"] == "compacted_1"

    run(["--batch-input", paths[3], "--base-fps", "compacted_1", "--batch-fp", "d3"])
    inc = run(
        ["--batch-input", paths[4], "--base-fps", "compacted_1,d3", "--batch-fp", "d4"]
    )
    assert inc["n_convs_total"] == full_t.select("conv_id").distinct().count()

    runner = LineageRunner(spark, wd, cfg)
    full = dedup_pipeline(full_t, cfg)
    want = _fingerprint(full.clusters)
    got = _fingerprint(
        runner.read_clusters(
            ["compacted_1", "d3", "d4"],
            fallback=full.clusters.limit(0),
        )
    )
    full.unpersist()
    assert got == want


def test_cli_threshold_plans_bands(spark, tmp_path):
    """--threshold derives (bands, rows) via the recall-floor planner;
    conflicting --config lsh blocks are rejected (one source of truth)."""
    import json
    from contextlib import redirect_stdout
    from io import StringIO

    from datasketches_server_spark.__main__ import main
    from datasketches_server_spark.functions.lsh_planner import plan_bands

    t = synth_transcripts(spark, n_convs=80, seed=7)
    inp = str(tmp_path / "in")
    t.write.parquet(inp)

    buf = StringIO()
    with redirect_stdout(buf):
        assert main(
            ["--input", inp, "--workdir", str(tmp_path / "wd"),
             "--threshold", "0.9"],
            spark=spark,
        ) == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    # config_hash reflects the planned band plan, not the default
    from datasketches_server_spark.config import LshConfig, PipelineConfig
    b, r = plan_bands(0.9, mode="recall")
    assert (b, r) == (16, 8)  # not the (32, 4) default
    want = PipelineConfig(
        lsh=LshConfig(bands=b, rows_per_band=r, jaccard_threshold=0.9)
    ).config_hash()
    assert out["config_hash"] == want

    cfg_p = str(tmp_path / "cfg.json")
    with open(cfg_p, "w") as f:
        json.dump({"lsh": {"bands": 32, "rows_per_band": 4}}, f)
    with pytest.raises(SystemExit):
        main(
            ["--input", inp, "--workdir", str(tmp_path / "wd2"),
             "--threshold", "0.9", "--config", cfg_p],
            spark=spark,
        )
