"""End-to-end dedup: planted corpus -> clusters, judged against the exact
brute-force oracle at the identical shingle/signature config
(BASELINE.json: dup-pair recall >= 0.99)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datasketches_server_spark.config import DEFAULT_CONFIG
from datasketches_server_spark.plans.oracle import (
    oracle_pairs,
    pair_recall,
    union_find_clusters,
)
from datasketches_server_spark.plans.pipeline import dedup_pipeline
from datasketches_server_spark.sources.synth import synth_transcripts


def test_recall_and_precision_vs_oracle(spark):
    cfg = DEFAULT_CONFIG
    transcripts = synth_transcripts(spark, n_convs=600, seed=42)
    result = dedup_pipeline(transcripts, cfg)

    oracle = oracle_pairs(result.conv_state, cfg).persist()
    found = result.edges.persist()

    recall = pair_recall(found, oracle)
    assert recall >= 0.99, f"dup-pair recall {recall} < 0.99"

    # exact verification tier => zero false positives
    fp = found.join(oracle.select("a", "b"), ["a", "b"], "left_anti").count()
    assert fp == 0, f"{fp} false-positive pairs"


def test_clusters_match_oracle_clusters(spark):
    cfg = DEFAULT_CONFIG
    transcripts = synth_transcripts(spark, n_convs=400, seed=7)
    result = dedup_pipeline(transcripts, cfg)

    opairs = [(r["a"], r["b"]) for r in oracle_pairs(result.conv_state, cfg).collect()]
    want = union_find_clusters(opairs)
    got = {r["conv_id"]: r["cluster_id"] for r in result.clusters.collect()}

    all_ids = [r["conv_id"] for r in result.conv_state.select("conv_id").collect()]
    mismatch = [
        c for c in all_ids if got[c] != want.get(c, c)
    ]
    # recall >= 0.99 allows a sliver of divergence; demand <= 1% of convs
    assert len(mismatch) <= max(1, len(all_ids) // 100), mismatch[:10]


def test_exact_duplicates_always_cluster(spark):
    """Planted exact copies (mutation level 0 slots) must land in one
    cluster -- exact dups survive any LSH banding."""
    cfg = DEFAULT_CONFIG
    transcripts = synth_transcripts(spark, n_convs=300, seed=3)
    result = dedup_pipeline(transcripts, cfg)
    state = result.conv_state.select(
        "conv_id", F.xxhash64(F.concat_ws(" ", "shingles")).alias("fp")
    )
    joined = state.join(result.clusters, "conv_id")
    # same shingle fingerprint => same cluster id
    n_bad = (
        joined.groupBy("fp")
        .agg(F.countDistinct("cluster_id").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert n_bad == 0


def test_incremental_dedup_equals_full_recompute(spark, tmp_path):
    """incremental_dedup(old, new) must produce the identical clustering
    to a full recompute on the combined corpus: signatures and bucket
    hashes are deterministic and cluster_id = min conv_id, so the
    assignments match row for row (uncapped-bucket regime).  All four
    modes must agree: derived banding fallback, persisted band index,
    and band index + incremental connected components from a complete
    or a singleton-free old labeling (old singletons must not drop)."""
    from pyspark.sql import functions as F

    from datasketches_server_spark.config import PipelineConfig
    from datasketches_server_spark.operators.components import connected_components
    from datasketches_server_spark.plans.band_index import (
        read_band_index,
        write_band_index,
    )
    from datasketches_server_spark.plans.pipeline import dedup_pipeline, incremental_dedup
    from datasketches_server_spark.sources.synth import synth_transcripts

    cfg = PipelineConfig()
    full_t = synth_transcripts(spark, n_convs=500, seed=23)
    # split by conv hash: ~80% "old" corpus, ~20% "new" batch -- cuts
    # ACROSS dup families, so some new convs must join old clusters
    is_new = F.pmod(F.xxhash64("conv_id"), F.lit(5)) == 0
    old_t, new_t = full_t.where(~is_new), full_t.where(is_new)

    old = dedup_pipeline(old_t, cfg)
    write_band_index(old.conv_state, str(tmp_path), cfg)
    index = read_band_index(spark, str(tmp_path), cfg)

    full = dedup_pipeline(full_t, cfg)
    want = {r["conv_id"]: r["cluster_id"] for r in full.clusters.collect()}
    # connected_components output: the old labeling minus its singletons
    partial = connected_components(old.edges.select("a", "b"))
    assert partial.count() < old.conv_state.count()
    # materialize the caller's own cached labeling up front, so the
    # persisted-RDD count below sees only what incremental_dedup holds
    old.clusters.count()
    jsc = spark.sparkContext._jsc

    for kwargs in (
        {},  # derived banding fallback + full CC over edge union
        {"old_buckets": index},
        {"old_buckets": index, "old_clusters": old.clusters},
        {"old_buckets": index, "old_clusters": partial},
    ):
        n_rdds = jsc.getPersistentRDDs().size()
        inc = incremental_dedup(old.conv_state, old.edges, new_t, cfg, **kwargs)
        incremental = {r["conv_id"]: r["cluster_id"] for r in inc.clusters.collect()}
        assert incremental == want, f"mode {list(kwargs)} diverged"
        assert inc.clusters.count() == len(want)  # each conv labeled once
        assert inc.conv_state.count() == full.conv_state.count()
        inc.unpersist()
        # every persist and localCheckpoint of the call is released
        assert jsc.getPersistentRDDs().size() == n_rdds, f"mode {list(kwargs)} leaked"

    n_new = new_t.select("conv_id").distinct().count()
    assert n_new > 0
    old.unpersist()
    full.unpersist()


def test_incremental_dedup_work_scales_with_batch(spark, tmp_path):
    """Round-4 task #1/#2 counters: with the persisted band index and
    incremental CC, the window-sort input scales with the NEW batch (not
    the corpus) and the CC input scales with the delta edges."""
    from pyspark.sql import functions as F

    from datasketches_server_spark.config import PipelineConfig
    from datasketches_server_spark.plans.band_index import (
        read_band_index,
        write_band_index,
    )
    from datasketches_server_spark.plans.pipeline import dedup_pipeline, incremental_dedup
    from datasketches_server_spark.sources.synth import synth_transcripts

    cfg = PipelineConfig()
    full_t = synth_transcripts(spark, n_convs=2000, seed=31)
    is_new = F.pmod(F.xxhash64("conv_id"), F.lit(50)) == 0  # ~2% batch
    old_t, new_t = full_t.where(~is_new), full_t.where(is_new)

    old = dedup_pipeline(old_t, cfg)
    write_band_index(old.conv_state, str(tmp_path), cfg)
    index = read_band_index(spark, str(tmp_path), cfg)

    win_holder: list = []
    cc_holder: list = []
    inc = incremental_dedup(
        old.conv_state,
        old.edges,
        new_t,
        cfg,
        old_buckets=index,
        old_clusters=old.clusters,
        window_input_out=win_holder,
        contracted_out=cc_holder,
    )
    inc.clusters.count()  # materialize the run

    n_old = old.conv_state.count()
    n_new = inc.conv_state.count() - n_old
    bands = cfg.lsh.bands
    assert n_new > 0 and n_new < n_old // 10

    # window input = new band rows + old members of touched buckets;
    # with ~avg_family_size dup families this is a small multiple of the
    # batch's band rows and far below the corpus's
    window_rows = win_holder[0].count()
    old_band_rows = n_old * bands
    new_band_rows = n_new * bands
    assert window_rows < old_band_rows // 4, (window_rows, old_band_rows)
    assert window_rows <= new_band_rows * (1 + cfg.lsh.bucket_cap), window_rows

    # CC ran over the contracted delta graph, not the accumulated edges
    contracted_edges = cc_holder[0].count()
    old_edge_count = old.edges.count()
    new_edge_count = inc.edges.count() - old_edge_count
    assert contracted_edges <= max(new_edge_count, 1), (
        contracted_edges,
        new_edge_count,
    )
    assert old_edge_count > contracted_edges  # the settled edges stayed out
    inc.unpersist()
    old.unpersist()


def test_incremental_components_bridges_and_relabels(spark):
    """New edges that bridge two existing clusters must merge them to
    the global-min label; untouched clusters keep their labels; new
    nodes get the merged component's label."""
    from datasketches_server_spark.operators.components import incremental_components

    old_clusters = spark.createDataFrame(
        [
            ("a1", "a1"), ("a2", "a1"),          # cluster A
            ("b1", "b1"), ("b2", "b1"),          # cluster B
            ("c1", "c1"),                         # untouched singleton
            ("d1", "d1"),                         # singleton gaining a new partner
        ],
        "conv_id string, cluster_id string",
    )
    new_edges = spark.createDataFrame(
        [
            ("a2", "b2"),   # bridges A and B -> min label a1
            ("n1", "d1"),   # new conv joins singleton d1 -> min label d1
            ("a1", "a2"),   # inside one old cluster -> self-loop, no-op
        ],
        "a string, b string",
    )
    got = {
        r["conv_id"]: r["cluster_id"]
        for r in incremental_components(old_clusters, new_edges).collect()
    }
    assert got == {
        "a1": "a1", "a2": "a1", "b1": "a1", "b2": "a1",
        "c1": "c1", "d1": "d1", "n1": "d1",
    }


def test_incremental_equivalence_property(spark):
    """Hypothesis sweep: for random corpora and random batch split
    fractions, incremental (band-probe + delta CC) must equal the full
    recompute row-for-row in the uncapped regime -- not just on the
    hand-picked seeds of the targeted tests."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from datasketches_server_spark.config import PipelineConfig
    from datasketches_server_spark.operators.lsh import band_buckets
    from datasketches_server_spark.plans.pipeline import dedup_pipeline, incremental_dedup
    from datasketches_server_spark.sources.synth import synth_transcripts

    cfg = PipelineConfig()

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(seed=st.integers(0, 10_000), mod=st.integers(2, 10))
    def check(seed: int, mod: int):
        full_t = synth_transcripts(spark, n_convs=160, seed=seed)
        is_new = F.pmod(F.xxhash64("conv_id"), F.lit(mod)) == 0
        old = dedup_pipeline(full_t.where(~is_new), cfg)
        inc = incremental_dedup(
            old.conv_state, old.edges, full_t.where(is_new), cfg,
            old_buckets=band_buckets(old.conv_state, cfg.lsh),
            old_clusters=old.clusters,
        )
        got = {r["conv_id"]: r["cluster_id"] for r in inc.clusters.collect()}
        full = dedup_pipeline(full_t, cfg)
        want = {r["conv_id"]: r["cluster_id"] for r in full.clusters.collect()}
        inc.unpersist()
        old.unpersist()
        full.unpersist()
        assert got == want, (seed, mod)

    check()


def test_incremental_dedup_empty_batch_is_identity(spark, tmp_path):
    """An empty incremental batch must leave the clustering unchanged
    (and not crash on empty windows / empty contracted graphs)."""
    from pyspark.sql import functions as F

    from datasketches_server_spark.config import PipelineConfig
    from datasketches_server_spark.plans.band_index import (
        read_band_index,
        write_band_index,
    )
    from datasketches_server_spark.plans.pipeline import dedup_pipeline, incremental_dedup
    from datasketches_server_spark.sources.synth import synth_transcripts

    cfg = PipelineConfig()
    t = synth_transcripts(spark, n_convs=120, seed=3)
    old = dedup_pipeline(t, cfg)
    write_band_index(old.conv_state, str(tmp_path), cfg)
    want = {r["conv_id"]: r["cluster_id"] for r in old.clusters.collect()}

    inc = incremental_dedup(
        old.conv_state,
        old.edges,
        t.where(F.lit(False)),
        cfg,
        old_buckets=read_band_index(spark, str(tmp_path), cfg),
        old_clusters=old.clusters,
    )
    got = {r["conv_id"]: r["cluster_id"] for r in inc.clusters.collect()}
    assert got == want
    inc.unpersist()
    old.unpersist()


def test_incremental_components_no_edges_keeps_labels(spark):
    from datasketches_server_spark.operators.components import incremental_components

    old = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c")], "conv_id string, cluster_id string"
    )
    empty = spark.createDataFrame([], "a string, b string")
    got = {r["conv_id"]: r["cluster_id"]
           for r in incremental_components(old, empty).collect()}
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_band_index_append_absorbs_batch(spark, tmp_path):
    """append_band_index is the accumulator merge: after absorbing the
    batch, the index equals a from-scratch index over the combined
    corpus (same rows), without rewriting old rows."""
    from pyspark.sql import functions as F

    from datasketches_server_spark.config import PipelineConfig
    from datasketches_server_spark.plans.band_index import (
        append_band_index,
        read_band_index,
        write_band_index,
    )
    from datasketches_server_spark.plans.pipeline import conv_signatures
    from datasketches_server_spark.sources.synth import synth_transcripts

    cfg = PipelineConfig()
    full_t = synth_transcripts(spark, n_convs=300, seed=9)
    is_new = F.pmod(F.xxhash64("conv_id"), F.lit(5)) == 0
    old_s = conv_signatures(full_t.where(~is_new), cfg)
    new_s = conv_signatures(full_t.where(is_new), cfg)

    write_band_index(old_s, str(tmp_path), cfg, input_fp="base")
    append_band_index(new_s, str(tmp_path), cfg, batch_fp="b1")
    # crash-rerun of the same batch: overwrite semantics, NO duplicate
    # rows (code-review r4: duplicates would consume cap slots)
    append_band_index(new_s, str(tmp_path), cfg, batch_fp="b1")
    got = read_band_index(spark, str(tmp_path), cfg, ["base", "b1"])

    scratch = str(tmp_path / "scratch")
    write_band_index(conv_signatures(full_t, cfg), scratch, cfg)
    want = read_band_index(spark, scratch, cfg)

    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_incremental_new_edges_is_the_exact_delta(spark):
    """DedupResult.new_edges (the per-batch delta a caller persists)
    must be disjoint from old_edges and union with it to exactly
    res.edges -- so absorb steps never need a corpus-scaled anti-join."""
    from pyspark.sql import functions as F

    from datasketches_server_spark.config import PipelineConfig
    from datasketches_server_spark.plans.pipeline import (
        dedup_pipeline,
        incremental_dedup,
    )
    from datasketches_server_spark.sources.synth import synth_transcripts

    cfg = PipelineConfig()
    full_t = synth_transcripts(spark, n_convs=400, seed=29)
    is_new = F.pmod(F.xxhash64("conv_id"), F.lit(4)) == 0
    old = dedup_pipeline(full_t.where(~is_new), cfg)
    inc = incremental_dedup(old.conv_state, old.edges, full_t.where(is_new), cfg)

    cols = [c for c in old.edges.columns if c in inc.new_edges.columns]
    old_e = old.edges.select(*cols)
    new_e = inc.new_edges.select(*cols)
    assert new_e.count() > 0  # the batch cuts across planted dup families
    # disjoint: every new edge touches >= 1 new conv, old edges none
    assert new_e.join(old_e, ["a", "b"], "left_semi").count() == 0
    # union is exactly the result's combined edge set
    both = old_e.unionByName(new_e)
    assert both.exceptAll(inc.edges.select(*cols)).count() == 0
    assert inc.edges.select(*cols).exceptAll(both).count() == 0
    inc.unpersist()
    old.unpersist()


def test_threshold_sweep_matches_bruteforce(spark, sf_dir):
    """q55's sweep rows equal a driver-side brute-force over the same
    verified edge set: monotone non-increasing counts, and every
    (n_pairs, n_dup_docs, sum_j_e4) triple recomputed from the raw
    edges matches."""
    from datasketches_server_spark.config import PipelineConfig, ShingleConfig
    from datasketches_server_spark.plans.pipeline import dedup_pipeline
    from datasketches_server_spark.plans.queries import (
        SWEEP_THRESHOLDS,
        q55_jaccard_threshold_sweep,
    )
    from datasketches_server_spark.sources.synth import transcripts_from_documents

    rows = {r["threshold"]: r for r in q55_jaccard_threshold_sweep(spark, sf_dir).collect()}
    assert set(rows) == {round(t, 2) for t in SWEEP_THRESHOLDS}

    cfg = PipelineConfig(shingle=ShingleConfig(k=3))
    res = dedup_pipeline(transcripts_from_documents(spark, sf_dir), cfg)
    edges = [(r["a"], r["b"], r["jaccard"]) for r in res.edges.collect()]
    res.unpersist()
    prev_pairs = None
    for t in SWEEP_THRESHOLDS:
        keep = [(a, b, j) for a, b, j in edges if j >= t]
        want_docs = len({x for a, b, _ in keep for x in (a, b)})
        r = rows[round(t, 2)]
        assert r["n_pairs"] == len(keep)
        assert r["n_dup_docs"] == want_docs
        assert r["sum_j_e4"] == sum(round(j * 10000) for _, _, j in keep)
        if prev_pairs is not None:
            assert r["n_pairs"] <= prev_pairs
        prev_pairs = r["n_pairs"]


def test_cross_source_leakage_planted(spark, tmp_path):
    """A corpus with a planted cross-source dup and a same-source dup
    yields exactly the two expected matrix cells, sources unordered."""
    import pyspark.sql.functions as F  # noqa: F811

    from datasketches_server_spark.plans.queries import q56_cross_source_leakage

    text_a = "the quick brown fox jumps over the lazy dog again and again today"
    text_b = "completely different content about spark shuffles and partitions here now"
    docs = spark.createDataFrame(
        [
            (0, "web", text_a),
            (1, "forum", text_a),        # cross-source dup pair (0,1)
            (2, "web", text_b),
            (3, "web", text_b),          # same-source dup pair (2,3)
            (4, "wiki", "a singleton document with nothing in common at all whatsoever"),
        ],
        ["doc_id", "source", "text"],
    )
    d = str(tmp_path / "sf")
    docs.write.parquet(f"{d}/documents.parquet")
    got = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in q56_cross_source_leakage(spark, d).collect()
    }
    assert got == {("forum", "web"): 1, ("web", "web"): 1}
