"""LSH banding, skew-hardened candidate generation, pair verification.

Loose analog in the reference: merge-compatibility grouping by family
(MergeHandler.java:156-158) -- items that *may* combine are routed to the
same key.  Here the keys are LSH band buckets over MinHash signatures.

Scale design (the part that must survive 100 TB):

* Band explosion is narrow -- only (conv_id, bucket) leaves the row, not
  signatures or shingles.
* Candidate generation is Tungsten-pure: windowed rank per bucket
  (binary sort, no per-group object buffers), then small buckets
  (<= all_pairs_cap) emit all pairs via a sort-merge self-join that
  reuses the window's partitioning; larger buckets emit *star edges*
  to the bucket's minimum member -- O(m) edges that preserve exactly
  what connected components needs (connectivity) instead of the O(m^2)
  blowup a giant near-duplicate family would cause.  This is the
  explicit skew handling demanded by the north rule: a pathological
  template family of 10^6 members costs 10^6 edges, not 10^12 pairs.
* Buckets beyond bucket_cap are truncated deterministically (salted
  pre-cap bounds any single sort; global rank keeps the bucket_cap
  minimum members) and the drop is observable in the returned stats.
* Verification is a fan-in join of the pair list back to per-conv state:
  cheap tier joins 128-long MinHash signatures (estimate), exact tier
  joins shingle arrays (no false positives).  AQE skew-join splitting
  stays on for the residual skew.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import LshConfig
from ..functions.signatures import exact_jaccard, minhash_jaccard, simhash_hamming

ALL_PAIRS_CAP = 64


def band_buckets(sigs: DataFrame, cfg: LshConfig = LshConfig()) -> DataFrame:
    """(conv_id, minhash) -> (conv_id, band_idx, bucket) one row per band.

    bucket = xxhash64(band_idx, r-slice of the signature); including
    band_idx in the hash means one global bucket keyspace, no composite
    join keys downstream.
    """
    r = cfg.rows_per_band
    band_idx = F.posexplode(F.sequence(F.lit(0), F.lit(cfg.bands - 1)))
    return sigs.select(
        "conv_id", band_idx.alias("_p", "band_idx"), F.col("minhash")
    ).select(
        "conv_id",
        "band_idx",
        F.xxhash64(F.col("band_idx"), F.slice(F.col("minhash"), F.col("band_idx") * r + 1, r)).alias("bucket"),
    )


def candidate_pairs(
    buckets: DataFrame,
    cfg: LshConfig = LshConfig(),
    resources: list[DataFrame] | None = None,
    unit_col: str | None = None,
    singleton_prefilter: bool = True,
    ranked_out: list[DataFrame] | None = None,
) -> DataFrame:
    """bucket memberships -> distinct candidate (a, b) pairs, a < b.

    Tungsten-pure formulation (no collect_set / object aggregation
    buffers: per-group object arrays thrashed the shared heap/LLC and
    tripled per-CPU cost under 8-way concurrency -- event-log measured
    53 -> 188 CPU-s on 7M band rows):

    1. salted pre-cap (the north rule's salted band-key repartitioning):
       ``row_number`` per (bucket, salt(conv_id)) bounds ANY bucket --
       a 10^7-member duplicate mega-family costs salt_buckets sorted
       sub-groups, never one straggler sort -- keeping at most
       salt_buckets x bucket_cap members;
    2. global rank per bucket (window, binary sort) caps at bucket_cap
       and yields deterministic sorted member order;
    3. small buckets (post-cap size <= ALL_PAIRS_CAP) emit all pairs via
       a sort-merge self-join on the bucket key -- the window's
       partitioning and sort order are reused, so no extra shuffle;
       larger buckets emit O(m) star edges to the bucket's minimum
       member, which preserves exactly the connectivity clustering
       needs instead of the O(m^2) blowup.

    Every operator is a native window / join / filter over Tungsten
    rows; no Python, no per-group buffers.

    unit_col: optional resume-unit column carried on the bucket rows
    (plans/lineage.py partitions the edge stage by band-bucket range).
    A bucket lies wholly inside one unit, so per-bucket completeness is
    preserved; pairs keep their unit for the partitioned checkpoint
    write, and the same (a, b) found in buckets of two different units
    is deduplicated at read time (lineage's dropDuplicates).
    """
    # singleton buckets (the overwhelming majority of band buckets) can
    # never emit a pair; a codegen count-aggregate (map-side combined,
    # so the shuffle is narrow (bucket, count) rows) finds the
    # multi-member ones and drops ~80% of rows before the window sorts.
    # Certified A/B at 22M turns / 8 executors: removing this prefilter
    # RAISED the e2e wall from <=154 s to 185 s even though the multi
    # list exceeds broadcast size there -- the extra sorted rows in both
    # windows cost more than the join pass.  The knob stays for plan
    # experiments.
    #
    # r6: the prefilter aggregate now RETURNS the bucket size instead of
    # discarding it, and the salted pre-cap window (w1) runs only on HOT
    # buckets (> hot_bucket_threshold members).  w1 exists solely to
    # bound a mega-bucket's single sort; for a bucket of <= threshold
    # members it provably drops nothing (the per-(bucket,salt) cap is
    # bucket_cap >= threshold), so cold rows -- in practice ~all of them
    # -- skip one full shuffle+sort and go straight to the global rank
    # window (guide 2.4: remove shuffles outright).  The hot tier keeps
    # the exact two-phase path, and both tiers merge BEFORE the rank
    # window, so `ranked` stays one window chain whose bucket
    # partitioning the pair self-join reuses, and rn/sz semantics are
    # bit-identical to the two-window formulation.
    unit = [unit_col] if unit_col else []
    sizes = buckets.groupBy("bucket").agg(F.count("*").alias("_sz0"))
    if singleton_prefilter:
        sizes = sizes.where(F.col("_sz0") >= 2)
    hot_thr = min(cfg.hot_bucket_threshold, cfg.bucket_cap)
    rows = buckets.join(sizes, "bucket").select("bucket", "conv_id", "_sz0", *unit)
    cold = rows.where(F.col("_sz0") <= hot_thr).select("bucket", "conv_id", *unit)
    salt = F.pmod(F.xxhash64("conv_id"), F.lit(cfg.salt_buckets))
    w1 = Window.partitionBy("bucket", "_salt").orderBy("conv_id")
    capped_hot = (
        rows.where(F.col("_sz0") > hot_thr)
        .withColumn("_salt", salt)
        .withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= cfg.bucket_cap)
        .select("bucket", "conv_id", *unit)
    )
    capped = cold.unionByName(capped_hot)
    w2 = Window.partitionBy("bucket").orderBy("conv_id")
    ranked = (
        capped.withColumn("rn", F.row_number().over(w2))
        .withColumn("sz", F.count("*").over(Window.partitionBy("bucket")))
        .where((F.col("rn") <= cfg.bucket_cap) & (F.col("sz") >= 2))
    )
    # four downstream references (self-join sides, star members, roots);
    # AQE does not reuse the window exchanges across them, so persist the
    # small post-filter relation (multi-member band rows only) rather
    # than recompute the two window sorts 4x (event-log measured ~200
    # wasted CPU-s on 32M band rows).  The cache's lifetime belongs to
    # the CALLER (the pair list is re-evaluated by every downstream
    # action): pass `resources` and unpersist after the last consumer
    # materializes (DedupResult.unpersist() does this for the pipeline).
    ranked = ranked.persist()
    if resources is not None:
        resources.append(ranked)
    if ranked_out is not None:
        # expose the persisted post-cap relation so callers can derive
        # skew stats from it (bucket_stats_from_ranked) without an
        # extra scan of band generation
        ranked_out.append(ranked)
    small = ranked.where(F.col("sz") <= ALL_PAIRS_CAP)
    left = small.select("bucket", F.col("conv_id").alias("a"), F.col("rn").alias("_ra"), *unit)
    right = small.select("bucket", F.col("conv_id").alias("b"), F.col("rn").alias("_rb"))
    pairs_small = (
        left.join(right, "bucket").where(F.col("_ra") < F.col("_rb")).select("a", "b", *unit)
    )
    large = ranked.where(F.col("sz") > ALL_PAIRS_CAP)
    roots = large.where(F.col("rn") == 1).select("bucket", F.col("conv_id").alias("a"), *unit)
    pairs_large = (
        large.where(F.col("rn") > 1)
        .select("bucket", F.col("conv_id").alias("b"))
        .join(roots, "bucket")
        .select("a", "b", *unit)
    )
    return pairs_small.unionByName(pairs_large).distinct()


def incremental_candidate_pairs(
    old_buckets: DataFrame,
    new_buckets: DataFrame,
    cfg: LshConfig = LshConfig(),
    resources: list[DataFrame] | None = None,
    ranked_out: list[DataFrame] | None = None,
    window_input_out: list[DataFrame] | None = None,
    unit_col: str | None = None,
) -> DataFrame:
    """Candidate pairs for an incremental batch WITHOUT re-banding or
    re-sorting the old corpus: every window sort's input scales with the
    NEW batch (plus the old members sharing its buckets), never with the
    corpus.

    The reference's accumulator pattern is the analog
    (/root/reference/README.md:377-379 -- merge absorbs new state into
    old, never re-derives old): ``old_buckets`` is the persisted
    band-bucket membership of the existing corpus (plans/band_index.py,
    or ``band_buckets(old_state)`` as a derived fallback), probed -- not
    rebuilt -- per batch.

    Plan shape (the 100 TB daily-ingest path):

    1. ``touched`` = distinct buckets of the new batch (|new| x bands
       keys) -- the old index is filtered with a broadcast semi join:
       ONE scan, no shuffle of the corpus index.
    2. old members of touched buckets + all new band rows run through
       the same salted pre-cap / global rank / ALL_PAIRS_CAP topology as
       :func:`candidate_pairs` -- identical deterministic member order,
       so in the uncapped regime the per-bucket pair topology matches a
       full recompute exactly.
    3. pairs are emitted with a per-side origin flag and old-old pairs
       are dropped IN the pair builder (``_na | _nb``) -- no post-hoc
       semi-joins + distinct over the pair list.

    Equivalence to a full recompute (caveat also on incremental_dedup):
    exact whenever no touched bucket crosses ALL_PAIRS_CAP or
    bucket_cap; past ALL_PAIRS_CAP the full run's star topology and the
    old run's settled edges can differ (incremental keeps a superset of
    old connectivity -- it never loses edges).

    window_input_out: test/observability hook -- receives the lazy
    combined relation feeding the windows, so callers can assert its
    row count scales with |new|, not |corpus|.
    unit_col: optional resume-unit column carried on BOTH bucket-row
    inputs (plans/lineage.py's incremental edge stage) -- same contract
    as candidate_pairs: a bucket lies wholly inside one unit, so
    per-unit pair generation is complete.
    """
    unit = [unit_col] if unit_col else []
    touched = F.broadcast(new_buckets.select("bucket").distinct())
    old_t = (
        old_buckets.select("bucket", "conv_id", *unit)
        .join(touched, "bucket", "left_semi")
        .withColumn("_new", F.lit(False))
    )
    comb = (
        new_buckets.select("bucket", "conv_id", *unit)
        .withColumn("_new", F.lit(True))
        .unionByName(old_t)
    )
    if window_input_out is not None:
        window_input_out.append(comb)
    # NOTE: candidate_pairs' r6 hot/cold split is deliberately NOT
    # applied here -- deriving bucket sizes would re-evaluate `comb`,
    # i.e. scan the persisted band index twice per batch, breaking the
    # one-scan contract this function exists for; the window input is
    # batch-scaled already, so the second window sort it would save is
    # O(|new|), not O(corpus).
    salt = F.pmod(F.xxhash64("conv_id"), F.lit(cfg.salt_buckets))
    w1 = Window.partitionBy("bucket", "_salt").orderBy("conv_id")
    capped = (
        comb.withColumn("_salt", salt)
        .withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= cfg.bucket_cap)
        .select("bucket", "conv_id", "_new", *unit)
    )
    w2 = Window.partitionBy("bucket").orderBy("conv_id")
    ranked = (
        capped.withColumn("rn", F.row_number().over(w2))
        .withColumn("sz", F.count("*").over(Window.partitionBy("bucket")))
        .where((F.col("rn") <= cfg.bucket_cap) & (F.col("sz") >= 2))
    )
    ranked = ranked.persist()
    if resources is not None:
        resources.append(ranked)
    if ranked_out is not None:
        ranked_out.append(ranked)
    small = ranked.where(F.col("sz") <= ALL_PAIRS_CAP)
    left = small.select(
        "bucket",
        F.col("conv_id").alias("a"),
        F.col("rn").alias("_ra"),
        F.col("_new").alias("_na"),
        *unit,
    )
    right = small.select(
        "bucket",
        F.col("conv_id").alias("b"),
        F.col("rn").alias("_rb"),
        F.col("_new").alias("_nb"),
    )
    pairs_small = (
        left.join(right, "bucket")
        .where((F.col("_ra") < F.col("_rb")) & (F.col("_na") | F.col("_nb")))
        .select("a", "b", *unit)
    )
    large = ranked.where(F.col("sz") > ALL_PAIRS_CAP)
    roots = large.where(F.col("rn") == 1).select(
        "bucket", F.col("conv_id").alias("a"), F.col("_new").alias("_na"), *unit
    )
    pairs_large = (
        large.where(F.col("rn") > 1)
        .select("bucket", F.col("conv_id").alias("b"), F.col("_new").alias("_nb"))
        .join(roots, "bucket")
        .where(F.col("_na") | F.col("_nb"))
        .select("a", "b", *unit)
    )
    return pairs_small.unionByName(pairs_large).distinct()


def bucket_stats_from_ranked(ranked: DataFrame, cfg: LshConfig = LshConfig()) -> DataFrame:
    """Skew histogram derived from the persisted post-cap ``ranked``
    relation candidate_pairs already builds (pass ``ranked_out``) --
    zero extra scans of band generation, unlike :func:`bucket_stats`
    which re-reads stage input (a whole additional pass at 100 TB).

    Scope differences vs the full scan, both bounded: only multi-member
    buckets are counted (singletons can never emit a pair), and
    ``dropped_members`` is a LOWER BOUND -- rows removed by the salted
    pre-cap (buckets beyond ~salt_buckets*bucket_cap members) are not
    visible post-cap.  ``max_bucket`` saturates at the same point."""
    sizes = ranked.groupBy("bucket").agg(
        F.max("sz").alias("sz"), F.count("*").alias("kept")
    )
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
        F.sum(F.when(F.col("sz") > ALL_PAIRS_CAP, 1).otherwise(0)).alias("star_buckets"),
        F.sum(F.greatest(F.col("sz") - F.col("kept"), F.lit(0))).alias("dropped_members"),
    )


def bucket_stats(buckets: DataFrame, cfg: LshConfig = LshConfig()) -> DataFrame:
    """Observability for skew handling: bucket-size histogram + drops.

    This is the FULL-SCAN variant (re-reads band generation: parquet
    scan + explode + two aggregations); prefer
    :func:`bucket_stats_from_ranked` when a candidate_pairs run is
    already in flight."""
    sizes = buckets.groupBy("bucket").agg(F.countDistinct("conv_id").alias("sz"))
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("sz").alias("max_bucket"),
        F.sum(F.when(F.col("sz") > ALL_PAIRS_CAP, 1).otherwise(0)).alias("star_buckets"),
        F.sum(F.when(F.col("sz") > cfg.bucket_cap, F.col("sz") - cfg.bucket_cap).otherwise(0)).alias("dropped_members"),
    )


def verify_pairs(
    pairs: DataFrame,
    conv_state: DataFrame,
    cfg: LshConfig = LshConfig(),
    tier: str = "exact",
    prune_members: bool = False,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Attach similarity evidence to candidate pairs; keep those at/above
    the jaccard threshold.

    conv_state: (conv_id, shingles?, minhash?, simhash?).  tier:
      * "exact"   -- exact jaccard on shingle arrays (no false positives;
                     default, and the config the oracle replays)
      * "minhash" -- signature-agreement estimate (cheap at extreme scale)

    prune_members: semi-join the fat state down to pair members before
    the verify joins.  Wins when candidates are a small fraction of the
    corpus (real-world dedup: a few percent) by shrinking both fat
    shuffles; loses on dup-dense corpora (the planted bench corpus is
    50% duplicates, where members ~= corpus and the extra semi-join
    shuffle is pure cost) -- hence opt-in.  CALLER must persist `pairs`
    when enabling this: the pair list is referenced twice.
    """
    cols = ["conv_id"]
    if tier == "exact":
        cols.append("shingles")
    else:
        cols.append("minhash")
    if "simhash" in conv_state.columns:
        cols.append("simhash")
    state = conv_state.select(*cols)

    if prune_members:
        member_ids = (
            pairs.select(F.col("a").alias("conv_id"))
            .union(pairs.select(F.col("b").alias("conv_id")))
            .distinct()
        )
        state = state.join(member_ids, "conv_id", "left_semi")

    a_state = state.select([F.col(c).alias(f"{c}_a") for c in state.columns])
    b_state = state.select([F.col(c).alias(f"{c}_b") for c in state.columns])
    joined = (
        pairs.join(a_state, pairs.a == a_state.conv_id_a)
        .join(b_state, pairs.b == b_state.conv_id_b)
    )
    if tier == "exact":
        sim = exact_jaccard(F.col("shingles_a"), F.col("shingles_b"))
    else:
        sim = minhash_jaccard(F.col("minhash_a"), F.col("minhash_b"))
    out = joined.select(
        "a",
        "b",
        *carry_cols,
        sim.alias("jaccard"),
        *(
            [simhash_hamming(F.col("simhash_a"), F.col("simhash_b")).alias("hamming")]
            if "simhash" in conv_state.columns
            else []
        ),
    )
    return out.where(F.col("jaccard") >= cfg.jaccard_threshold)
