"""Connected components over an edge DataFrame: alternating
large-star / small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond") with a driver fixpoint loop.

The reference's loose analog is the transitive "merge into target"
accumulator pattern (MergeHandler.java:82-138; README.md:377-379): state
absorbs state until one summary remains.  Here the state is the edge set
and the fixpoint is a forest of depth-1 stars, each child pointing at its
component's minimum node id.

Catalyst has no iterative operator, so the loop lives in the driver with
``localCheckpoint()`` per round to truncate lineage (SURVEY.md section 4
custom work #2).  Rounds are O(log^2 n) worst case; near-clique duplicate
clusters converge in 2-3 rounds.  Node ids stay strings end-to-end -- no
64-bit relabeling, so no birthday-collision risk at 10^12 nodes.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("mv", "u").alias("m"))
    out = (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )
    return out.where(F.col("a") != F.col("b")).distinct()


def _small_star(e: DataFrame) -> DataFrame:
    t = e.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")).where(
        F.col("u") != F.col("v")
    )
    mins = t.groupBy("u").agg(F.min("v").alias("m"))
    out = t.join(mins, "u").select(F.col("v").alias("a"), F.col("m").alias("b")).union(
        mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    )
    return out.where(F.col("a") != F.col("b")).distinct()


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a consumed localCheckpoint's storage blocks NOW instead of at
    GC: the checkpointed RDD is pinned in getPersistentRDDs until the
    context cleaner notices the DataFrame is unreachable, and callers
    that run many pipelines per session (the unpersist-contract test,
    the 127-query sweep) must not accumulate blocks.  Only safe once the
    DataFrame will never be read again -- a checkpointed RDD has no
    lineage to recompute from."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except (AttributeError, Py4JError):
        # best-effort: the plan is not a LogicalRDD or there is no JVM
        # handle; the context cleaner remains the backstop
        log.debug("localCheckpoint release failed", exc_info=True)


def _fingerprint(e: DataFrame) -> tuple[int, int]:
    row = e.select(F.xxhash64("a", "b").alias("h")).agg(
        F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x")
    ).collect()[0]
    return (row["n"], row["x"] if row["x"] is not None else 0)


def _driver_union_find(edges_pdf, spark, id_type: str) -> DataFrame:
    """Small-graph fast path: union-find over a collected edge list
    (pandas frame -- Arrow both ways, ~10x cheaper than Row lists at
    10^5-10^6 edges), returning the identical min-id labeling the
    distributed loop produces.  The star loop costs ~5 driver
    round-trips of shuffles regardless of size -- pure latency tax when
    the edge set fits trivially in driver memory."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for ra, rb in zip(edges_pdf["a"].values, edges_pdf["b"].values):
        ra, rb = find(ra), find(rb)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    keys = list(parent)
    labels = pd.DataFrame({"conv_id": keys, "cluster_id": [find(x) for x in keys]})
    return spark.createDataFrame(labels, f"conv_id {id_type}, cluster_id {id_type}")


def connected_components(
    edges: DataFrame, max_iter: int = 30, driver_threshold: int = 2_000_000
) -> DataFrame:
    """edges (a, b) -> labels (conv_id, cluster_id); any orderable id type.

    cluster_id is the minimum conv_id of the component (deterministic
    tie-breaking).  Only nodes appearing in an edge are returned;
    callers attach singletons with a left join + coalesce.

    Hybrid execution: the edge set is persisted and counted with ONE
    fully-parallel job (never `limit().toPandas()` -- CollectLimitExec
    executes partitions incrementally (1, then 4x more, ...), which
    funnels the expensive upstream verify join through a near-serial
    path; event-log measured 21-145 s of wall on the same input at 8
    executors depending on how AQE happened to stage it).  If the graph
    fits under driver_threshold, union-find on the driver collects from
    the cache; otherwise the alternating star loop runs fully
    distributed on the checkpointed edge set.  Both paths produce the
    identical labeling, and the threshold is deterministic in the input.

    Each distributed round is ONE Spark job: a LAZY localCheckpoint
    truncates the plan at the DataFrame level immediately (each star
    round references its input ~5x, so without per-round truncation the
    plan tree grows ~5^rounds and listener plan-serialization alone
    burns CPU-minutes), while the materialization itself rides on the
    fingerprint action.
    """
    id_type = dict(edges.dtypes)["a"]
    # eager localCheckpoint = ONE fully-parallel materialization of
    # verify+dedup (never `limit().toPandas()` -- see docstring) that
    # ALSO truncates the logical plan: the edge set's tree is the whole
    # verify pipeline, and count + toPandas each re-analyzed it on the
    # driver (event-log job accounting: ~half the small-corpus pipeline
    # wall was inter-job planning gaps).  After the checkpoint both
    # actions plan a leaf.  Blocks are freed by the context cleaner when
    # the DataFrame drops (same lifecycle the star loop already relies
    # on).
    e0 = (
        edges.select("a", "b")
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e0.count()  # leaf scan of the checkpointed partitions
    if n_edges <= driver_threshold:
        head = e0.toPandas()  # straight from the checkpoint
        out = _driver_union_find(head, edges.sparkSession, id_type)
        _release_local_checkpoint(e0)
        return out
    e = e0
    prev = _fingerprint(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _fingerprint(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # fixpoint edges are (child, root) stars; roots label themselves
    labels = e.select(F.col("a").alias("conv_id"), F.col("b").alias("cluster_id")).union(
        e.select(F.col("b").alias("conv_id"), F.col("b").alias("cluster_id"))
    )
    return labels.groupBy("conv_id").agg(F.min("cluster_id").alias("cluster_id"))


def _contracted_components(
    old_clusters: DataFrame,
    new_edges: DataFrame,
    driver_threshold: int,
    contracted_out: list[DataFrame] | None,
) -> DataFrame:
    """Contract every endpoint of new_edges to its old cluster label (new
    convs keep their own id) and solve connected components on that
    delta-sized graph.  Returns the remap (conv_id = old label or new
    conv id, cluster_id = merged component's min id)."""
    lab_a = old_clusters.select(
        F.col("conv_id").alias("a"), F.col("cluster_id").alias("_la")
    )
    lab_b = old_clusters.select(
        F.col("conv_id").alias("b"), F.col("cluster_id").alias("_lb")
    )
    contracted = (
        new_edges.select("a", "b")
        .join(lab_a, "a", "left")
        .join(lab_b, "b", "left")
        .select(
            F.coalesce(F.col("_la"), F.col("a")).alias("a"),
            F.coalesce(F.col("_lb"), F.col("b")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    if contracted_out is not None:
        contracted_out.append(contracted)
    return connected_components(contracted, driver_threshold=driver_threshold)


def incremental_components(
    old_clusters: DataFrame,
    new_edges: DataFrame,
    driver_threshold: int = 2_000_000,
    contracted_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Update a labeling with a batch of NEW edges without re-running the
    fixpoint over the historical edge set: contract every endpoint to
    its existing cluster label and solve connected components on the
    contracted graph, whose size scales with |new_edges| -- the delta --
    not with the corpus's accumulated edges.

    old_clusters: complete labeling of the existing corpus, cluster_id =
    min conv_id of the component (connected_components +
    attach_singletons output -- singletons included).
    new_edges: (a, b) pairs; endpoints may be old convs, new convs, or a
    mix.  Old-old edges contract onto their labels (bridging two old
    clusters merges them); edges inside one old cluster become
    self-loops and vanish.

    Correctness of the min-label convention: contracted node ids are old
    cluster labels (each the min conv_id of its old component) plus new
    conv ids, so the contracted component's min node id IS the merged
    component's global min conv_id -- identical to what a full recompute
    labels it.

    Returns labels covering every old conv (relabeled only where a new
    edge merged components) plus every new conv that appears in an edge;
    attach remaining new singletons with :func:`attach_singletons`.

    contracted_out: test/observability hook -- receives the lazy
    contracted edge relation, so callers can assert the CC input scales
    with the delta.
    """
    remap = _contracted_components(
        old_clusters, new_edges, driver_threshold, contracted_out
    )

    # old side: relabel only clusters whose LABEL appears in the
    # contracted graph (a broadcast-friendly join -- remap scales with
    # the delta, old_clusters with the corpus)
    old_remap = remap.select(
        F.col("conv_id").alias("_l"), F.col("cluster_id").alias("_nl")
    )
    relabeled_old = (
        old_clusters.join(
            old_remap, old_clusters.cluster_id == old_remap._l, "left"
        )
        .select(
            "conv_id",
            F.coalesce(F.col("_nl"), F.col("cluster_id")).alias("cluster_id"),
        )
    )
    # new side: contracted nodes that are NOT old cluster labels are new
    # conv ids (conv ids are globally unique, so the sets are disjoint)
    new_labels = remap.join(
        old_clusters.select(F.col("cluster_id").alias("conv_id")).distinct(),
        "conv_id",
        "left_anti",
    )
    return relabeled_old.unionByName(new_labels)


def incremental_components_delta(
    old_clusters: DataFrame,
    new_edges: DataFrame,
    new_nodes: DataFrame,
    driver_threshold: int = 2_000_000,
    contracted_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Like :func:`incremental_components`, but returns ONLY the rows a
    batch needs to WRITE: old convs whose label changed (members of
    merged clusters), plus every new conv (edge-labeled or singleton).
    At 10^12 convs, writing the full labeling per daily batch is
    terabytes of unchanged rows; the delta scales with the batch and
    the clusters it touched.  Readers compose base + deltas latest-wins
    (plans/lineage.LineageRunner reads chains this way).

    new_nodes: (conv_id) of every conv in the new batch -- singletons
    get self-labels in the delta so composition covers the whole
    corpus.
    """
    remap = _contracted_components(
        old_clusters, new_edges, driver_threshold, contracted_out
    )

    old_remap = remap.select(
        F.col("conv_id").alias("_l"), F.col("cluster_id").alias("_nl")
    )
    # old members whose cluster's LABEL was remapped to a new value --
    # an inner join against the (delta-sized) remap, so this scales
    # with the touched clusters, not the corpus
    changed_old = (
        old_clusters.join(old_remap, old_clusters.cluster_id == old_remap._l)
        .where(F.col("_nl") != F.col("cluster_id"))
        .select("conv_id", F.col("_nl").alias("cluster_id"))
    )
    # every new conv: remap label if it had an edge, else itself
    new_labels = (
        new_nodes.select("conv_id")
        .join(remap, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce(F.col("cluster_id"), F.col("conv_id")).alias("cluster_id"),
        )
    )
    return changed_old.unionByName(new_labels)


def attach_singletons(labels: DataFrame, all_nodes: DataFrame) -> DataFrame:
    """all_nodes (conv_id) left-join labels; unlabeled nodes are their own
    cluster.  Broadcast-friendly when the label side is small relative to
    the corpus (the usual case: most docs are unique)."""
    return (
        all_nodes.select("conv_id")
        .join(labels, "conv_id", "left")
        .select(
            "conv_id",
            F.coalesce(F.col("cluster_id"), F.col("conv_id")).alias("cluster_id"),
        )
    )
