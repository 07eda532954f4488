"""Persisted embedding-LSH bucket index: the SEMANTIC-dedup accumulator.

The embedding-side twin of plans/band_index.py (same reference
accumulator analog: /root/reference/README.md:377-379 merges new state
into old state, never re-derives old).  The corpus's sign-LSH bucket
membership -- (vec_id, table_idx, code), one row per (vector, table) --
is materialized once; every incremental batch PROBES it: the codes UDF
runs on the batch only, the old corpus is filtered down to touched
buckets with one broadcast semi join, and candidate generation + the
exact-cosine rerank scale with the batch.  Without it each daily batch
re-encodes and re-buckets the ENTIRE corpus (O(corpus) Arrow UDF work
per increment), the same shape as the round-3 shingle-side scale-killer
that band_index fixed.

Directionality under multi-probe: a full recompute surfaces (x, y) when
probe(x) hits y's capped bucket OR probe(y) hits x's capped bucket.  The
probe neighborhood is a Hamming ball (operators/similarity._probe: self
+ bit flips), which is SYMMETRIC -- code(y) in ball(code(x)) iff code(x)
in ball(code(y)) -- so both directions reduce to one join of the BATCH
probes against the combined membership, with the cap-survivor condition
applied per direction:

  (i)  probe(new) hits a cap-surviving member  -> partner survived
  (ii) partner's probe hits new's capped bucket -> NEW side survived

Old-old pairs never regenerate (the probe side is always the batch).

Equivalence contract (same caveat as the shingle-side
incremental_candidate_pairs, operators/lsh.py:200-204): exact whenever
no touched bucket crosses bucket_cap in the combined corpus; past the
cap the incremental path keeps a superset of old connectivity while a
full recompute may evict previously settled members.

Layout mirrors band_index: one dir per (params, input_fp) snapshot so a
config change or a different input snapshot can never serve a stale
index; rows hash-partitioned into ``units`` dirs to bound file sizes;
``append_embedding_index`` absorbs each batch O(|batch| x tables) with
overwrite-on-replay idempotence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.portable import u01
from ..operators.similarity import _bucketize, _probe, cosine

EMB_STAGE = "embedding_index"


def embedding_index_dir(
    workdir: str,
    n_tables: int = 24,
    n_bits: int = 6,
    seed: int = 42,
    input_fp: str = "static",
) -> str:
    return os.path.join(workdir, EMB_STAGE, f"t{n_tables}_b{n_bits}_s{seed}_{input_fp}")


def write_embedding_index(
    data: DataFrame,
    workdir: str,
    n_tables: int = 24,
    n_bits: int = 6,
    seed: int = 42,
    input_fp: str = "static",
    units: int = 8,
) -> str:
    """Materialize the corpus's sign-LSH bucket membership (overwrite).
    data: (vec_id, embedding).  The codes UDF runs exactly once per
    vector; the index is UNCAPPED membership (caps are a probe-time
    topology decision, and capping at write would bake one bucket_cap
    into the accumulator)."""
    path = embedding_index_dir(workdir, n_tables, n_bits, seed, input_fp)
    (
        _bucketize(data, "vec_id", n_tables, n_bits, seed)
        .withColumn(
            "_unit", F.pmod(F.xxhash64("table_idx", "code"), F.lit(units)).cast("int")
        )
        .write.mode("overwrite")
        .partitionBy("_unit")
        .parquet(path)
    )
    return path


def append_embedding_index(
    new_data: DataFrame,
    workdir: str,
    n_tables: int = 24,
    n_bits: int = 6,
    seed: int = 42,
    batch_fp: str = "static",
    units: int = 8,
) -> str:
    """Absorb a batch: O(|batch| x tables), own dir keyed by batch_fp,
    overwrite semantics so a crash-replay replaces rather than
    duplicates (duplicate membership rows would consume cap slots, the
    r4 band-index lesson)."""
    return write_embedding_index(
        new_data, workdir, n_tables, n_bits, seed, batch_fp, units
    )


def read_embedding_index(
    spark: SparkSession,
    workdir: str,
    n_tables: int = 24,
    n_bits: int = 6,
    seed: int = 42,
    input_fp: str | list[str] = "static",
) -> DataFrame:
    """(vec_id, table_idx, code) membership; pass the fp chain (base +
    absorbed batches, any order) to read an accumulated corpus."""
    fps = [input_fp] if isinstance(input_fp, str) else list(input_fp)
    out = None
    for fp in fps:
        df = spark.read.parquet(
            embedding_index_dir(workdir, n_tables, n_bits, seed, fp)
        ).select("vec_id", "table_idx", "code")
        out = df if out is None else out.unionByName(df)
    return out


def incremental_embedding_pairs(
    old_index: DataFrame,
    new_data: DataFrame,
    all_embeddings: DataFrame,
    threshold: float = 0.95,
    n_tables: int = 24,
    n_bits: int = 6,
    seed: int = 42,
    bucket_cap: int = 128,
    probe_radius: int = 1,
    window_input_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Near-dup pairs with >= 1 batch-side member, probing the persisted
    index -- zero old-corpus re-encoding.

    old_index: (vec_id, table_idx, code) from read_embedding_index.
    new_data: (vec_id, embedding) batch.
    all_embeddings: (vec_id, embedding) covering every id that can
    appear in a candidate (old corpus + batch); only candidate ids are
    gathered from it (semi-join pushdown -- at 100 TB this is the
    bucketed point-lookup join shape, the corpus never shuffles).

    Plan: batch codes (one Arrow UDF pass over the batch) -> multi-probe
    ball -> broadcast the touched (table, code) keys -> semi-join the
    index -> one combined cap window over touched buckets only (same
    u01 ranking key as a full run's _cap_buckets, so member order is
    identical) -> candidates via the symmetric-ball join with per
    direction survivor checks -> exact cosine rerank.

    window_input_out: observability hook -- receives the lazy combined
    relation feeding the cap window, so tests can assert its size scales
    with the batch (plus touched-bucket members), not the corpus.
    """
    nb = _bucketize(new_data, "vec_id", n_tables, n_bits, seed)
    probes = _probe(nb, n_bits, probe_radius).withColumnRenamed("vec_id", "pid")
    touched = F.broadcast(probes.select("table_idx", "code").distinct())
    old_t = (
        old_index.select("vec_id", "table_idx", "code")
        .join(touched, ["table_idx", "code"], "left_semi")
        .withColumn("_new", F.lit(False))
    )
    comb = nb.withColumn("_new", F.lit(True)).unionByName(old_t)
    if window_input_out is not None:
        window_input_out.append(comb)
    w = Window.partitionBy("table_idx", "code").orderBy("_capkey", "vec_id")
    flagged = (
        comb.withColumn("_capkey", u01(F.col("vec_id"), salt="cap|"))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_surv", F.col("_rn") <= bucket_cap)
        .select("vec_id", "table_idx", "code", "_new", "_surv")
    )
    # per-(batch vector, table) survival in its OWN bucket (direction ii)
    surv_new = flagged.where(F.col("_new") & F.col("_surv")).select(
        F.col("vec_id").alias("pid"), "table_idx", F.lit(True).alias("_psurv")
    )
    cands = (
        probes.join(surv_new, ["pid", "table_idx"], "left")
        .join(flagged.drop("_new"), ["table_idx", "code"])
        .where(F.col("pid") != F.col("vec_id"))
        # direction i: partner survived; direction ii: the probing batch
        # vector survived its own bucket (ball symmetry)
        .where(F.col("_surv") | F.coalesce(F.col("_psurv"), F.lit(False)))
        .select(
            F.least("pid", "vec_id").alias("a"),
            F.greatest("pid", "vec_id").alias("b"),
        )
        .distinct()
    )
    ids = cands.select(F.col("a").alias("vec_id")).unionByName(
        cands.select(F.col("b").alias("vec_id"))
    ).distinct()
    emb = all_embeddings.select("vec_id", "embedding").join(ids, "vec_id", "left_semi")
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("emb_b"))
    return (
        cands.join(ea, "a")
        .join(eb, "b")
        .select("a", "b", cosine(F.col("emb_a"), F.col("emb_b")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def incremental_semantic_dedup(
    old_labels: DataFrame,
    new_pairs: DataFrame,
    new_nodes: DataFrame,
) -> DataFrame:
    """Fold a batch's near-dup pairs into an existing semantic labeling:
    contract onto old labels, solve the delta graph
    (operators/components.incremental_components), attach batch
    singletons, and re-emit the semantic_dedup_clusters shape
    (vec_id, cluster_id, cluster_size, is_keeper; clustered rows only).

    old_labels: COMPLETE labeling of the existing corpus (cluster_id =
    min vec_id; singletons included) under conv_id/cluster_id column
    names.  new_nodes: the batch's (vec_id) rows."""
    from ..operators.components import attach_singletons, incremental_components

    edges = new_pairs.select("a", "b")
    updated = incremental_components(old_labels, edges)
    labels = attach_singletons(
        updated, new_nodes.select(F.col("vec_id").alias("conv_id"))
        .unionByName(old_labels.select("conv_id"))
        .distinct(),
    ).select(F.col("conv_id").alias("vec_id"), "cluster_id")
    return clusters_view(labels)


def clusters_view(labels: DataFrame) -> DataFrame:
    """(vec_id, cluster_id) full labeling -> the semantic_dedup_clusters
    output shape: clustered rows only, with sizes and the min-id keeper
    flag."""
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "cluster_id")
        .where(F.col("cluster_size") >= 2)
        .select(
            "vec_id",
            "cluster_id",
            "cluster_size",
            (F.col("vec_id") == F.col("cluster_id")).alias("is_keeper"),
        )
    )


def retract_semantic(
    labels: DataFrame, edges: DataFrame, removed: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The accumulator's DELETE half: (edges', labels') with ``removed``
    vec_ids gone.  Removal can SPLIT a cluster (the removed vector may be
    the chain link), so affected clusters re-solve from their surviving
    edges while every untouched label passes through verbatim -- this is
    plans/retract.retract_convs' algorithm applied to the semantic
    labeling (vec_id columns aliased onto its conv_id contract; the
    conv_state slot carries the label ids and its anti-joined return is
    discarded).  Same exactness contract: equals a full recompute over
    survivors whenever the original run was uncapped; under caps the
    retained edges are a subset and clusters are exactly their
    components (observable-drop semantics)."""
    from .retract import retract_convs

    lab = labels.select(F.col("vec_id").alias("conv_id"), "cluster_id")
    rm = removed.select(F.col("vec_id").alias("conv_id"))
    _, edges2, labels2 = retract_convs(lab.select("conv_id"), edges, lab, rm)
    return edges2, labels2.select(F.col("conv_id").alias("vec_id"), "cluster_id")


def retract_embedding_index(
    spark: SparkSession,
    workdir: str,
    removed: DataFrame,
    new_fp: str,
    n_tables: int = 24,
    n_bits: int = 6,
    seed: int = 42,
    chain: str | list[str] = "static",
    units: int = 8,
) -> str:
    """Fold an index chain minus ``removed`` vec_ids into ONE new
    snapshot dir (plans/retract.retract_band_index's convention: a NEW
    snapshot key, never an in-place rewrite -- a crash mid-write leaves
    every existing chain dir intact; the caller flips its chain to
    [new_fp] only after this returns).  One broadcast anti-join scan;
    rows stay (vec_id, table_idx, code), so future batches probe the
    retracted index exactly like any other snapshot."""
    rm = removed.select("vec_id").distinct()
    idx = read_embedding_index(spark, workdir, n_tables, n_bits, seed, chain)
    kept = idx.join(F.broadcast(rm), "vec_id", "left_anti")
    path = embedding_index_dir(workdir, n_tables, n_bits, seed, new_fp)
    (
        kept.withColumn(
            "_unit", F.pmod(F.xxhash64("table_idx", "code"), F.lit(units)).cast("int")
        )
        .write.mode("overwrite")
        .partitionBy("_unit")
        .parquet(path)
    )
    return path
