"""Stage orchestration: transcripts -> conv state -> LSH -> clusters.

The whole pipeline is declarative DataFrame composition; Catalyst plans
each stage (partial aggregation for the groupBys, AQE for skew).  The
only Python on the data path is the fused MinHash/SimHash pandas UDF.

Stage layout:

  1. assemble   -- turns -> conversations (stable turn order)
  2. signatures -- shingles + MinHash-128 + SimHash-64 per conv
  3. lsh        -- band buckets -> skew-capped candidate pairs
  4. verify     -- exact-jaccard edge verification (+ simhash hamming)
  5. components -- large-star/small-star fixpoint -> cluster labels

This module owns the stage functions: ``conv_signatures``, and the two
edge stages ``full_edges`` (stages 3-4 over a whole corpus) and
``batch_edges`` (stages 3-4 for a new batch against a band index).
``dedup_pipeline`` and ``incremental_dedup`` compose them in memory;
plans/lineage.LineageRunner composes the SAME functions, adding only
the manifest, the resume units and a write per stage.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..functions.signatures import text_signature_udf
from ..functions.text import assemble_conversations
from ..operators.components import (
    _release_local_checkpoint,
    attach_singletons,
    connected_components,
    incremental_components,
)
from ..operators.lsh import (
    band_buckets,
    bucket_stats_from_ranked,
    candidate_pairs,
    incremental_candidate_pairs,
    verify_pairs,
)

# prune_verify="auto" skips its member probe below this corpus size
PROBE_MIN_CONVS = 20_000
# member sets up to this size prune fat state by pushed-down literal
# filter (member_pushdown_state); larger ones semi-join
MEMBER_PUSHDOWN_THRESHOLD = 20_000


def conv_signatures(transcripts: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """(conv_id, turn_idx, text, ...) -> one row per conv:
    (conv_id, n_turns, n_shingles, shingles, minhash, simhash).

    One fused pandas UDF computes shingles + both signatures (the only
    Python on the path); everything around it is native."""
    convs = assemble_conversations(transcripts)
    sig = text_signature_udf(
        cfg.shingle.k,
        cfg.minhash,
        token_pattern=cfg.shingle.token_pattern,
        lowercase=cfg.shingle.lowercase,
    )
    convs = convs.withColumn("_sig", sig(F.col("full_text")))
    return convs.select(
        "conv_id",
        "n_turns",
        F.size("_sig.shingles").cast("long").alias("n_shingles"),
        F.col("_sig.shingles").alias("shingles"),
        F.col("_sig.minhash").alias("minhash"),
        F.col("_sig.simhash").alias("simhash"),
    )


@dataclass
class DedupResult:
    conv_state: DataFrame   # per-conv signatures
    edges: DataFrame        # verified dup pairs (a, b, jaccard, hamming)
    clusters: DataFrame     # (conv_id, cluster_id) covering every conv
    # skew observability (no-silent-caps rule): lazy one-row DataFrame
    # from operators.lsh.bucket_stats_from_ranked -- n_buckets (multi-
    # member only) / max_bucket / star_buckets (fell back to O(m) star
    # edges) / dropped_members (lower bound past the salted pre-cap).
    # Derived from the pair pass's persisted post-cap relation, so
    # materializing it costs no extra scan of band generation;
    # LineageRunner surfaces the same numbers in RunStats.
    bucket_report: DataFrame | None = None
    # what the prune_verify="auto" heuristic decided (None = forced mode)
    pruned_verify: bool | None = None
    # incremental runs only: the batch's newly discovered edges -- the
    # DELTA a caller should persist per batch (``edges`` is old UNION
    # new; re-deriving the delta from it would cost a corpus-scaled
    # anti-join, defeating the batch-scaled absorb)
    new_edges: DataFrame | None = None
    resources: list = field(default_factory=list)  # persisted relations
    checkpoints: list = field(default_factory=list)  # eager localCheckpoints

    def unpersist(self) -> None:
        """Release every relation the pipeline persisted or checkpointed.
        Call after the last consumer of edges/clusters has materialized
        (written or collected); repeated pipeline invocations in one
        session otherwise accumulate cached blocks."""
        release(self.resources, self.checkpoints)


def release(resources: list, checkpoints: list) -> None:
    """Unpersist ``resources`` and free the blocks of the eager
    localCheckpoints in ``checkpoints``; empties both lists.  A
    checkpoint has no lineage to recompute from, so nothing may read it
    afterwards."""
    for df in resources:
        df.unpersist()
    for df in checkpoints:
        _release_local_checkpoint(df)
    resources.clear()
    checkpoints.clear()


def _unit_rows(
    buckets: DataFrame, units: int | None, pending: list[int] | None
) -> DataFrame:
    """Band rows tagged with their resume unit ``_unit = pmod(bucket,
    units)`` and restricted to the ``pending`` units (plans/lineage.py's
    edge stage); unchanged when ``units`` is None.  A band bucket lies
    wholly inside one unit, so per-unit pair generation is complete."""
    if units is None:
        return buckets
    tagged = buckets.withColumn("_unit", F.pmod(F.col("bucket"), F.lit(units)).cast("int"))
    if pending is None or len(pending) >= units:
        return tagged
    return tagged.where(F.col("_unit").isin(pending))


def full_edges(
    state: DataFrame,
    cfg: PipelineConfig,
    n_convs: int | None,
    resources: list[DataFrame],
    prune_verify: bool | str = "auto",
    probe_min_convs: int = PROBE_MIN_CONVS,
    units: int | None = None,
    pending: list[int] | None = None,
) -> tuple[DataFrame, DataFrame, bool]:
    """Stages 3-4 over a whole corpus: band ``state``, build capped
    candidate pairs, decide the verify plan, verify.  Returns (lazy
    verified edges, lazy bucket report, whether verify pruned).

    n_convs: the corpus size, or None when unknown (then no prune).
    resources: receives every relation this persists; the caller
    unpersists them after its last consumer of the edges.
    units / pending: resume units (see _unit_rows) -- the edges then
    carry ``_unit`` for a partitioned write.

    prune_verify: semi-join the fat signature state down to candidate
    members before the verify joins.  True/False force it; "auto"
    decides from measured counts -- pruning wins when pair members are
    a small fraction of the corpus (real-world sparse dedup) and loses
    on dup-dense corpora where members ~= corpus (the planted bench
    corpus), so the heuristic counts DISTINCT pair members (not the
    2*pairs proxy, which overshoots on mega-clusters)."""
    # singleton prefilter stays ON at every measured scale: even when
    # the multi-bucket list exceeds broadcast size (22M-turn corpus),
    # the narrow count-aggregate + join costs less than the ~80% extra
    # rows the two window sorts would otherwise process (certified A/B:
    # 185 s without vs <=154 s with, 8 executors, quiet epoch)
    ranked_holder: list[DataFrame] = []
    cands = candidate_pairs(
        _unit_rows(band_buckets(state, cfg.lsh), units, pending),
        cfg.lsh,
        resources=resources,
        unit_col="_unit" if units is not None else None,
        ranked_out=ranked_holder,
    )
    ranked = ranked_holder[0]
    if prune_verify != "auto":
        prune = bool(prune_verify)
    elif n_convs is None or n_convs < probe_min_convs:
        # below the floor both verify plans are trivially cheap and the
        # probe itself (pair materialization + member count, two extra
        # driver round-trips) costs more than it can save -- skip it and
        # take the no-extra-pass plan.  The decision only picks a plan;
        # edges are identical either way (test_prune_verify_modes_agree).
        prune = False
    else:
        # measure DISTINCT pair members directly rather than the 2*pairs
        # proxy: a few mega-clusters make members << 2*pairs, and the
        # proxy would skip a profitable prune.  The count runs on the
        # persisted post-cap RANKED relation -- every ranked row in a
        # multi-member bucket is a pair member by construction (small
        # buckets emit all pairs, large buckets star onto the root), so
        # it equals the distinct member count of the pair list; the agg
        # materializes the window pass into its cache (which verify's
        # pair build then reuses), so the probe costs no separate pair
        # materialization action.
        n_members = ranked.agg(F.countDistinct("conv_id").alias("n")).collect()[0]["n"]
        # pruning pays when pair members are a SMALL fraction of the
        # corpus (each fat verify shuffle shrinks accordingly); the
        # prune itself costs one extra shuffle of the fat state, so the
        # break-even is well under 1/2 -- measured on the planted bench
        # corpus (members ~43% of convs), pruning added ~10 s to a 63 s
        # 8-exec wall, hence the 1/4 threshold
        prune = n_members < n_convs // 4
    if prune:
        # member pruning references the pair list twice -- materialize
        # it once (count also fails fast on a pair explosion)
        cands = cands.persist()
        cands.count()
        resources.append(cands)
    edges = verify_pairs(
        cands, state, cfg.lsh, prune_members=prune,
        carry_cols=("_unit",) if units is not None else (),
    )
    return edges, bucket_stats_from_ranked(ranked, cfg.lsh), prune


def batch_edges(
    old_buckets: DataFrame,
    new_state: DataFrame,
    state: DataFrame,
    cfg: PipelineConfig,
    resources: list[DataFrame],
    checkpoints: list[DataFrame],
    units: int | None = None,
    pending: list[int] | None = None,
    window_input_out: list[DataFrame] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Stages 3-4 for a new batch: band ``new_state``, probe
    ``old_buckets`` (the old corpus's band membership) for the buckets
    it touches, build new-touching candidate pairs, prune ``state``
    (old UNION new signatures) to the pair members, verify.  Returns
    (lazy verified new edges, lazy bucket report).

    resources / checkpoints: receive the relations this persists and the
    eager localCheckpoint it takes; free both with :func:`release`.
    units / pending: resume units, as for :func:`full_edges`.
    window_input_out: observability hook forwarded to
    operators/lsh.incremental_candidate_pairs."""
    ranked_holder: list[DataFrame] = []
    cands = incremental_candidate_pairs(
        _unit_rows(old_buckets, units, pending),
        _unit_rows(band_buckets(new_state, cfg.lsh), units, pending),
        cfg.lsh,
        resources=resources,
        ranked_out=ranked_holder,
        window_input_out=window_input_out,
        unit_col="_unit" if units is not None else None,
    )
    # the member prune references the pair list twice -- materialize once
    cands = cands.persist()
    cands.count()
    resources.append(cands)
    # incremental pairs are a small fraction of the corpus by
    # construction -- member pruning always pays here (it shrinks the
    # fat shingle shuffle from O(corpus) to O(batch members)).  HOW we
    # prune matters at 100 TB: a semi-join still SCANS the whole fat
    # state to probe it, so when the member set is small enough to ship
    # as a literal (<= MEMBER_PUSHDOWN_THRESHOLD), collect it and prune
    # with an isin() filter instead -- Catalyst pushes the In down to
    # the parquet scan, so row groups without members are skipped and
    # the fat-state READ itself becomes batch-scaled (plan-asserted in
    # tests/test_plan_quality.py).  Larger member sets fall back to the
    # semi-join (a 10^6-literal In bloats the plan and beats nothing).
    state_v, pushed = member_pushdown_state(cands, state, MEMBER_PUSHDOWN_THRESHOLD)
    if pushed:
        # the pushed-down member state is batch-sized (pair members only)
        # but still carries the old corpus's full plan tree; verify
        # references it twice.  Materialize the few thousand fat rows
        # once -- the In() pushdown already made the scan cheap, and the
        # checkpoint makes BOTH verify joins read a leaf instead of
        # re-planning (and re-scanning) the corpus-sized tree.
        state_v = state_v.localCheckpoint(eager=True)
        checkpoints.append(state_v)
    new_edges = verify_pairs(
        cands, state_v, cfg.lsh, prune_members=not pushed,
        carry_cols=("_unit",) if units is not None else (),
    )
    return new_edges, bucket_stats_from_ranked(ranked_holder[0], cfg.lsh)


def dedup_pipeline(
    transcripts: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    cache_state: bool = True,
    prune_verify: bool | str = "auto",
    probe_min_convs: int = PROBE_MIN_CONVS,
) -> DedupResult:
    """Full dedup of ``transcripts``: signatures, :func:`full_edges`,
    connected components, singleton attach.

    prune_verify / probe_min_convs: see :func:`full_edges`.  Auto
    requires cache_state (it uses the corpus count that materialization
    already produces)."""
    resources: list[DataFrame] = []
    n_convs: int | None = None
    state = conv_signatures(transcripts, cfg)
    if cache_state:
        # Reused by banding AND verification -- one materialization.
        # Materialize EAGERLY: downstream fans out into several AQE
        # stages that would otherwise race to compute the same cached
        # partitions, and a pandas-UDF-computed partition with
        # concurrent cache-lock waiters can deadlock the Python runner's
        # socket flow control in local mode (observed: both directions'
        # buffers full, worker blocked in write, JVM parked in select).
        # Sequential materialization also costs nothing: the fan-out
        # stages would all wait on the first computation anyway.
        state = state.persist()
        n_convs = state.count()
        resources.append(state)
    edges, report, prune = full_edges(
        state, cfg, n_convs, resources, prune_verify, probe_min_convs
    )
    # persist: connected components materializes the verify join anyway
    # (its edge count), and downstream consumers (metric tables' KLL
    # over jaccard, cluster diagnostics) re-reference edges -- without
    # the cache each of them re-runs the fat verify join (measured ~2.4 s
    # per re-run at 100k convs inside sketch_rollup)
    edges = edges.persist()
    resources.append(edges)
    labels = connected_components(edges)
    # persist: the caller's first action (a cluster count/write)
    # materializes this join once; every further consumer -- metric
    # tables, keeper policies, and ESPECIALLY incremental_components,
    # which references old_clusters four times (both contraction sides,
    # the relabel join, the new-label anti-join) -- would otherwise
    # re-run the labels-onto-state join per reference
    clusters = attach_singletons(labels, state).persist()
    resources.append(clusters)
    return DedupResult(
        conv_state=state, edges=edges, clusters=clusters,
        bucket_report=report,
        pruned_verify=prune if prune_verify == "auto" else None,
        resources=resources,
    )


def member_pushdown_state(
    pairs: DataFrame, state: DataFrame, threshold: int
) -> tuple[DataFrame, bool]:
    """Prune fat per-conv state to candidate-pair members BY LITERAL
    FILTER when the member set is small enough to ship (<= threshold):
    Catalyst pushes the resulting In() down to the parquet scan, so row
    groups without members are skipped and the fat-state READ itself is
    batch-scaled -- a semi-join, by contrast, still scans the whole
    state to probe it.  Falls back to (state, False) = caller should
    semi-join, when the member set is larger (a 10^6-literal In bloats
    the plan for no win).

    `pairs` must be persisted+materialized (both callers do): the
    member probe here is a narrow distinct over the cache, so the
    limit-collect touches cached rows, not the candidate computation.
    Returns (pruned_or_original_state, pushed?).
    """
    members = (
        pairs.select(F.col("a").alias("m"))
        .union(pairs.select(F.col("b").alias("m")))
        .distinct()
    )
    rows = members.limit(threshold + 1).collect()
    if len(rows) <= threshold:
        return state.where(F.col("conv_id").isin([r["m"] for r in rows])), True
    return state, False


def incremental_dedup(
    old_state: DataFrame,
    old_edges: DataFrame,
    new_transcripts: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    old_buckets: DataFrame | None = None,
    old_clusters: DataFrame | None = None,
    window_input_out: list[DataFrame] | None = None,
    contracted_out: list[DataFrame] | None = None,
) -> DedupResult:
    """Dedup a NEW batch of transcripts against an existing corpus
    without recomputing the old corpus -- the 100 TB daily-ingest shape.
    EVERY per-batch stage scales with the batch, not the corpus:

    * signatures (the pandas-UDF pass) run only on the new batch;
    * banding + the capping window sorts run only on new band rows plus
      old members of buckets the batch touches
      (operators/lsh.incremental_candidate_pairs probes ``old_buckets``
      -- the persisted band index, plans/band_index.py -- with a
      broadcast semi join: ONE scan of the index, no re-band, no
      full-corpus sort; old-old pairs are dropped in the pair builder,
      not by post-hoc semi-joins);
    * verify joins only new-touching pairs against member-pruned state;
    * connected components contract onto ``old_clusters`` and solve only
      the delta graph (operators/components.incremental_components)
      when old_clusters is provided; otherwise the fixpoint runs over
      old_edges UNION new edges (correct, but O(|all edges|) per batch).

    The reference's accumulator pattern is the model
    (/root/reference/README.md:377-379): merge absorbs new state into
    old state, never re-derives old.  After a successful run, absorb the
    batch with band_index.append_band_index(new_state, ...) so the next
    batch probes an up-to-date index.

    old_state: per-conv signatures of the existing corpus (DedupResult
    .conv_state or LineageRunner's persisted signatures stage).
    old_edges: its verified edges (a, b, jaccard[, hamming]).
    old_buckets: persisted band membership (band_index.read_band_index).
    None falls back to banding old_state on the fly -- no signature UDF,
    but an O(corpus) band explode; pass the index at scale.
    old_clusters: the existing labeling (DedupResult.clusters) enabling
    delta-sized connected components.  It may omit singletons
    (connected_components output): every conv in old_state and the
    batch is labeled either way.

    Equivalence: identical clusters to a full recompute on the combined
    corpus whenever no band bucket crosses ALL_PAIRS_CAP or bucket_cap
    (signatures and bucket hashes are deterministic and cluster_id =
    min conv_id is label-stable).  Past ALL_PAIRS_CAP the full run's
    star topology and the old run's settled all-pairs edges can differ:
    incremental keeps a SUPERSET of the full run's connectivity (it
    never loses edges), so clusters may be coarser in the (ALL_PAIRS_CAP,
    bucket_cap] regime; past bucket_cap the capped member choice itself
    can differ -- the same observable, bounded drop the batch pipeline
    reports via bucket_stats.

    window_input_out / contracted_out: observability hooks forwarded to
    the candidate and CC operators (row counts must scale with |new|).
    """
    resources: list[DataFrame] = []
    checkpoints: list[DataFrame] = []
    new_state = conv_signatures(new_transcripts, cfg).persist()
    new_state.count()  # eager, for the same cache-race reason as dedup_pipeline
    resources.append(new_state)
    # Truncate the old labeling's LOGICAL plan (r6): old_clusters arrives
    # carrying the entire previous pipeline's plan tree, and the
    # incremental path references it four times (both contraction sides,
    # the relabel join, the new-label anti-join) -- every action
    # re-analyzes that corpus-sized tree on the driver (event-log
    # measured: ~3 s of the ~7 s batch wall was inter-job driver gaps).
    # The relation itself is small (one narrow row per conv, reading
    # straight from the caller's cache), so an eager localCheckpoint
    # costs one ~0.1 s job and makes it a leaf.
    # Intra-invocation only; blocks are freed with the result.
    if old_clusters is not None:
        old_clusters = old_clusters.select(
            "conv_id", "cluster_id"
        ).localCheckpoint(eager=True)
        checkpoints.append(old_clusters)
    state = old_state.unionByName(new_state, allowMissingColumns=False)

    if old_buckets is None:
        old_buckets = band_buckets(old_state, cfg.lsh)
    new_edges, report = batch_edges(
        old_buckets, new_state, state, cfg, resources, checkpoints,
        window_input_out=window_input_out,
    )
    # referenced by the delta CC contraction, the edges union, and the
    # returned new_edges delta -- one verify materialization, not three
    new_edges = new_edges.persist()
    resources.append(new_edges)

    edge_cols = [c for c in old_edges.columns if c in new_edges.columns]
    edges = old_edges.select(*edge_cols).unionByName(new_edges.select(*edge_cols))
    if old_clusters is not None:
        labels = incremental_components(
            old_clusters, new_edges, contracted_out=contracted_out
        )
    else:
        labels = connected_components(edges)
    # singleton attach over every old and new conv.  The node set comes
    # from the signature state, not old_clusters: a partial labeling
    # (connected_components output without its singletons) would
    # otherwise drop the old singletons from the result.
    clusters = attach_singletons(labels, state.select("conv_id")).persist()
    resources.append(clusters)
    return DedupResult(
        conv_state=state, edges=edges, clusters=clusters,
        bucket_report=report,
        new_edges=new_edges.select(*edge_cols),
        resources=resources,
        checkpoints=checkpoints,
    )


def cluster_summary(clusters: DataFrame) -> DataFrame:
    """cluster_id -> size, ordered; the flagship dedup report."""
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("cluster_size"))
        .orderBy(F.desc("cluster_size"), "cluster_id")
    )


def cross_corpus_near_dups(
    train_t: DataFrame | None,
    eval_t: DataFrame | None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    bucket_cap: int | None = None,
    train_state: DataFrame | None = None,
    train_buckets: DataFrame | None = None,
    eval_state: DataFrame | None = None,
) -> DataFrame:
    """Signature-level decontamination BETWEEN corpora: verified near-dup
    pairs (train_conv_id, eval_conv_id, jaccard, hamming) at the
    pipeline's threshold.

    operators/curation.decontaminate catches EXACT n-gram overlap with an
    eval set; this catches paraphrased / lightly-edited contamination the
    same way the dedup pipeline catches near-dups -- and only CROSS-side
    pairs, never train x train or eval x eval (the within-corpus job
    belongs to dedup_pipeline).

    Shape at 100 TB -- the eval side is small by definition, so every
    stage is eval-scaled except one pass over the train side, and even
    that pass disappears against an indexed corpus:

    * ``train_state`` (per-conv signatures: DedupResult.conv_state or
      the lineage signatures stage) skips the train signature UDF;
      ``train_buckets`` (band_index.read_band_index) additionally skips
      the band explode -- the decontam probe then reuses the SAME
      accumulator incremental_dedup probes, and nothing about the train
      corpus is recomputed.  With neither, ``train_t`` is signed and
      banded once on the fly (the derived fallback).
    * the eval side's band rows (|eval| x bands) broadcast into one
      equi-join against train band rows -- no shuffle of the train
      corpus, no cartesian.
    * the verify join prunes fat state to candidate-pair members; when
      the member set fits ``MEMBER_PUSHDOWN_THRESHOLD`` the prune ships
      as an In() literal pushed to the parquet scan
      (member_pushdown_state), so the fat-state READ is eval-scaled too.

    ``bucket_cap`` (optional) drops buckets whose TRAIN membership
    exceeds the cap before the join -- the boilerplate-opener guard;
    like containment's df_cap a dropped bucket can only lower recall,
    never create a false pair, because survivors still verify on exact
    shingle jaccard.

    Ids are namespaced internally ('t|'/'e|') so corpora sharing conv_ids
    (an eval suite carved FROM the train corpus) never alias.
    """
    if train_state is not None:
        pre_t = train_state
    elif train_t is not None:
        pre_t = conv_signatures(train_t, cfg)
    else:
        raise ValueError("need train_t or train_state")
    pre_t = pre_t.withColumn("conv_id", F.concat(F.lit("t|"), "conv_id"))
    # eval_state: precomputed eval signatures (conv_signatures output) --
    # the per-epoch streaming path signs the fixed eval suite ONCE, not
    # once per micro-batch
    if eval_state is None and eval_t is None:
        raise ValueError("need eval_t or eval_state")
    pre_e = (eval_state if eval_state is not None else conv_signatures(eval_t, cfg))
    pre_e = pre_e.withColumn(
        "conv_id", F.concat(F.lit("e|"), "conv_id")
    ).persist()  # small; banded AND verified -- one UDF pass
    if train_buckets is not None:
        bt = train_buckets.select(
            F.concat(F.lit("t|"), "conv_id").alias("a"), "bucket"
        )
    else:
        bt = band_buckets(pre_t, cfg.lsh).select(F.col("conv_id").alias("a"), "bucket")
    if bucket_cap is not None:
        hot = (
            bt.groupBy("bucket")
            .agg(F.count("*").alias("n"))
            .where(F.col("n") > bucket_cap)
            .select("bucket")
        )
        bt = bt.join(F.broadcast(hot), "bucket", "left_anti")
    be = band_buckets(pre_e, cfg.lsh).select(F.col("conv_id").alias("b"), "bucket")
    cand = (
        bt.join(F.broadcast(be), "bucket").select("a", "b").distinct().persist()
    )
    cand.count()  # materialize: the member probe below must hit cache
    state = pre_t.unionByName(pre_e)
    state_v, pushed = member_pushdown_state(cand, state, MEMBER_PUSHDOWN_THRESHOLD)
    verified = verify_pairs(
        cand, state_v, cfg.lsh, tier="exact", prune_members=not pushed
    )
    out = verified.select(
        F.expr("substring(a, 3)").alias("train_conv_id"),
        F.expr("substring(b, 3)").alias("eval_conv_id"),
        "jaccard",
        *(["hamming"] if "hamming" in verified.columns else []),
    ).localCheckpoint(eager=True)
    cand.unpersist()
    pre_e.unpersist()
    return out
