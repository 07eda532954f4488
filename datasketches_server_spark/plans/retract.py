"""Retraction: remove conversations from accumulated dedup state without
full recompute -- the third leg of the accumulator lifecycle (absorb in
plans/band_index.py + operators/lsh.py, compact in plans/lineage.py,
retract here).

The ops scenario at 100 TB: a source is pulled (license change, GDPR
erasure, contamination discovery) and the standing dedup state --
signatures, verified edges, cluster labels, the persisted band index --
must become exactly what a full run over (corpus minus removed) would
produce, without touching the 99.9% of state the removal does not reach.
The reference's accumulator contract (never re-derive old state;
/root/reference/README.md:377-379, MergeHandler.java:82-138) has no
delete half because its sketches are not invertible; the dedup state IS
invertible, because every piece is keyed by conv_id.

Scale shape:

* Signatures / band index / edges: broadcast anti-joins against the
  (small) removal set -- narrow scans, no shuffle, no UDF.
* Clusters: removal can SPLIT a cluster (the removed conv may be the
  bridge holding two halves together), so labels cannot be anti-joined.
  But components are disjoint: only clusters CONTAINING a removed conv
  can change, so connected components re-runs on the surviving edges of
  AFFECTED clusters only -- a subgraph bounded by the removal's blast
  radius, not the corpus.  Unaffected clusters keep their labels
  verbatim, and because cluster_id = min(conv_id) is deterministic per
  component, the stitched result is bit-identical to a full CC over all
  surviving edges.

Scope note -- the ExactSubstr window index (plans/window_index.py) has
NO incremental delete, by design: its absorb optimization stores per
window key only (nd, singleton-doc positions iff nd == 1), discarding
exactly the membership information deletion would need (which surviving
doc's windows drop from duplicated to unique when a sharer is removed
is unrecoverable once nd >= 2).  Deleting from that store is a rebuild:
``write_window_index`` over the surviving corpus under a fresh fp --
one O(survivor-tokens) pass, the same cost as its original bootstrap.

Exactness contract: retraction preserves the VERIFIED-EDGE set
restricted to survivors.  In uncapped regimes that equals a full
recompute over the filtered corpus (asserted by fingerprint in tests and
by the q70 DuckDB oracle).  In capped regimes (bucket_cap /
ALL_PAIRS_CAP dropped candidates in the original run) a recompute over
the SMALLER corpus may discover pairs the capped original never
materialized; retraction never resurrects those -- retracted edges are
always a subset of recompute edges, and the clusters are exactly the
components of the retained edges.  This is the same observable-drop
semantics the capped pipeline already documents (operators/lsh.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.components import attach_singletons, connected_components
from .band_index import band_index_dir, read_band_index

__all__ = ["retract_convs", "retract_band_index"]


def _rm_set(removed: DataFrame) -> DataFrame:
    return removed.select("conv_id").distinct()


def retract_convs(
    conv_state: DataFrame,
    edges: DataFrame,
    clusters: DataFrame,
    removed: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(conv_state', edges', clusters') with ``removed`` conv_ids gone.

    conv_state: per-conv signature rows (DedupResult.conv_state or the
    lineage signatures stage).  edges: verified pairs (a, b, ...).
    clusters: (conv_id, cluster_id) covering every conv.  removed: any
    DataFrame with a conv_id column; it is deduplicated and broadcast,
    so removal sets are assumed small relative to the corpus (a source,
    a user, a contamination list -- not half the table; for that, rerun
    the pipeline).

    Clusters whose membership intersects the removal set are re-solved
    from their surviving edges (split detection); all other labels pass
    through untouched.  Surviving members of an affected cluster that
    lose all their edges become singletons (own conv_id), matching what
    attach_singletons produces in a full run.
    """
    rm = _rm_set(removed)
    state2 = conv_state.join(F.broadcast(rm), "conv_id", "left_anti")
    edges2 = edges.join(
        F.broadcast(rm.select(F.col("conv_id").alias("a"))), "a", "left_anti"
    ).join(F.broadcast(rm.select(F.col("conv_id").alias("b"))), "b", "left_anti")

    affected = (
        clusters.join(F.broadcast(rm), "conv_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    untouched = clusters.join(F.broadcast(affected), "cluster_id", "left_anti")
    survivors = (
        clusters.join(F.broadcast(affected), "cluster_id", "left_semi")
        .join(F.broadcast(rm), "conv_id", "left_anti")
        .select("conv_id")
    )
    # edges2 restricted to affected clusters: label the 'a' endpoint (an
    # edge never crosses clusters, so one endpoint suffices)
    lab_a = clusters.select(F.col("conv_id").alias("a"), "cluster_id")
    sub_edges = (
        edges2.select("a", "b")
        .join(lab_a, "a")
        .join(F.broadcast(affected), "cluster_id", "left_semi")
        .select("a", "b")
    )
    relabeled = attach_singletons(
        connected_components(sub_edges), survivors
    )
    clusters2 = untouched.unionByName(relabeled)
    return state2, edges2, clusters2


def retract_band_index(
    spark: SparkSession,
    workdir: str,
    removed: DataFrame,
    new_fp: str,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    chain: str | list[str] = "static",
    units: int = 8,
) -> str:
    """Fold a band-index chain minus ``removed`` into ONE new snapshot dir.

    Follows the compact_chain convention (plans/lineage.py): the result
    is written under (config_hash, new_fp) -- a NEW snapshot key, never
    an in-place rewrite, so a crash mid-write leaves every existing
    chain dir intact and the caller flips its chain to [new_fp] only
    after this returns.  One broadcast anti-join scan of the chain; rows
    stay (conv_id, bucket, _unit), so future absorbs probe the retracted
    index exactly like any other snapshot.
    """
    rm = _rm_set(removed)
    idx = read_band_index(spark, workdir, cfg, chain)
    kept = idx.join(F.broadcast(rm), "conv_id", "left_anti")
    path = band_index_dir(workdir, cfg, new_fp)
    (
        kept.withColumn("_unit", F.pmod(F.xxhash64("bucket"), F.lit(units)).cast("int"))
        .write.mode("overwrite")
        .partitionBy("_unit")
        .parquet(path)
    )
    return path
