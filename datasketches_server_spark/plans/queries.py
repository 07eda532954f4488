"""Registered queries for the driver's correctness gate and the bench.

Each function takes (spark, sf_dir) and returns a DataFrame; the matching
DuckDB oracle SQL lives in __spark_entry__.py.  Column names and rounding
are aligned on both sides (the driver hashes values after sorting columns
by name).  Doubles are rounded so association-order float noise cannot
flip the hash.

Coverage map (SURVEY.md section 2): relational OLAP (scan/filter/join/
agg/window/sort/limit), sketch parity ops #2-18 (theta/hll/kll/frequency/
sampling, update+merge+query), and the training-data operators
(dedup family, text analysis, similarity search).
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig, ShingleConfig, SketchConfig
from ..functions import text as TXT
from ..functions.sketches import (
    query_distinct,
    query_frequency,
    query_quantiles,
    query_sampling,
    sketch_update,
)
from ..sources.synth import transcripts_from_documents

log = logging.getLogger(__name__)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _td(spark: SparkSession, sf_dir: str, name: str, *key: str) -> DataFrame:
    """Table scan + spread: single-row-group test files make every scan
    ONE task (guide 2.5 input skew), so queries whose pre-shuffle work is
    per-row heavy (gram explosion, vector math) repartition the scan
    first.  No-op on already-parallel inputs."""
    from ..sources.io import spread_scan

    return spread_scan(_t(spark, sf_dir, name), *key)


# ------------------------------------------------ dedup-pipeline memo
# Seven registered queries (q24/q37/q38/q55/q56/q61/q62) are diagnostics
# over the SAME signatures->LSH->verify->CC pass at the same config; each
# rebuilding it made a correctness sweep (or a real diagnostic session)
# pay the pipeline ~7x.  The memo is session-scoped -- keyed by Spark
# applicationId + corpus dir + subset + config hash -- and bounded: stale
# applications are dropped, and past _DEDUP_MEMO_MAX entries the oldest
# DedupResult is explicitly unpersisted before eviction.  Per query the
# plan is unchanged (the first caller builds exactly what it always
# built); only repeat invocations in one session are free.

_DEDUP_MEMO: dict = {}
_DEDUP_MEMO_BUILDS: int = 0  # pipeline executions; asserted by tests
_DEDUP_MEMO_MAX = 4


def documents_dedup_result(spark: SparkSession, sf_dir: str, subset: str | None = None):
    """Memoized full LSH+CC dedup over documents-as-transcripts.

    subset=None: the whole corpus (q24 family).  subset='old80': the
    ~80% conv-id-hash split q37 bootstraps its incremental batch against.
    """
    global _DEDUP_MEMO_BUILDS
    from .pipeline import dedup_pipeline

    cfg = PipelineConfig(shingle=ShingleConfig(k=3))
    import os

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        subset,
        cfg.config_hash(),
    )
    res = _DEDUP_MEMO.get(key)
    if res is not None:
        return res
    t = transcripts_from_documents(spark, sf_dir)
    if subset == "old80":
        t = t.where(~(F.pmod(F.xxhash64("conv_id"), F.lit(5)) == 0))
    elif subset == "mod5base":
        # q83's oracle-replayable split (doc_id % 5 != 0): unlike old80's
        # hash split, DuckDB can replay this one, so the OLD labels can
        # appear in a hashed result column.
        t = t.where(F.pmod(F.col("conv_id").cast("long"), F.lit(5)) != 0)
    elif subset is not None:
        raise ValueError(f"unknown subset {subset!r}")
    res = dedup_pipeline(t, cfg)
    _DEDUP_MEMO_BUILDS += 1
    for k in [k for k in _DEDUP_MEMO if k[0] != key[0]]:
        _DEDUP_MEMO.pop(k)  # dead session: its persisted blocks are gone
    while len(_DEDUP_MEMO) >= _DEDUP_MEMO_MAX:
        oldest = next(iter(_DEDUP_MEMO))
        _release(_DEDUP_MEMO.pop(oldest))
    _DEDUP_MEMO[key] = res
    return res


# ------------------------------------------------ intra-query scratch cache
# Several postings-join queries (q111/q112/q127/q128) reference one
# expensive derived relation (tokenize -> n-gram explode) 4-6 times in a
# single plan; Catalyst has no common-subexpression reuse across join
# subtrees, so without a cache the gram explosion recomputes per
# reference (measured: q111 re-derived it 6x, ~4.6 s per pass at sf0.1).
# _scratch persists such a relation for the DURATION OF ONE QUERY BUILD:
# the next query that asks for scratch space (different tag) unpersists
# the previous query's blocks first, so at most one query's scratch is
# ever resident.  This is intra-action reuse -- every invocation still
# computes from the parquet inputs (nothing is keyed on the corpus dir
# or shared across invocations; re-running the same query re-populates
# the cache from scratch because the tag changes identity per call).

_SCRATCH_DFS: list = []
_SCRATCH_TAG: object = None


def _release(cached) -> None:
    """Best-effort unpersist of a memoized DedupResult or scratch
    DataFrame: its session may already be gone (a stopped JVM raises
    Py4JError), in which case there are no blocks left to free."""
    try:
        cached.unpersist()
    except Py4JError:
        log.debug("unpersist failed", exc_info=True)


def _scratch(df: DataFrame, tag: object) -> DataFrame:
    """Persist an intermediate referenced several times inside one query
    plan.  ``tag`` identifies the building query invocation; a new tag
    releases the previous invocation's scratch blocks (recompute-safe:
    an unpersisted DataFrame still computes correctly)."""
    global _SCRATCH_TAG
    if tag is not _SCRATCH_TAG:
        for old in _SCRATCH_DFS:
            _release(old)
        _SCRATCH_DFS.clear()
        _SCRATCH_TAG = tag
    df = df.persist()
    _SCRATCH_DFS.append(df)
    return df


def clear_dedup_memo() -> None:
    """Unpersist and drop every memoized DedupResult (sweep teardown),
    plus any scratch blocks the last query build persisted."""
    for res in _DEDUP_MEMO.values():
        _release(res)
    _DEDUP_MEMO.clear()
    global _SCRATCH_TAG
    for old in _SCRATCH_DFS:
        _release(old)
    _SCRATCH_DFS.clear()
    _SCRATCH_TAG = None


# --------------------------------------------------------------- relational

def q01_pricing_summary(spark, sf_dir):
    """TPC-H Q1 flavor: scan + filter pushdown + 2-key agg + sort."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q02_top_revenue_customers(spark, sf_dir):
    """3-way join (broadcast-able dims) + agg + top-k."""
    li, o, c = (_t(spark, sf_dir, n) for n in ("lineitem", "orders", "customer"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q03_region_rollup(spark, sf_dir):
    """Star join region-nation-customer + agg."""
    r, n, c = (_t(spark, sf_dir, x) for x in ("region", "nation", "customer"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_acctbal"),
        )
        .orderBy("r_name")
    )


def q04_window_running_revenue(spark, sf_dir):
    """Window function: per-customer running order total."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") <= 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    ).orderBy("o_custkey", "o_orderkey")


def q05_events_hourly(spark, sf_dir):
    """Event-time tumbling window (batch form of the streaming agg)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("hour", "event_type")
    )


def q06_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap sessions per user (lag + cumsum)."""
    e = _t(spark, sf_dir, "events")
    e = e.withColumn("_ts", F.col("ts").cast("timestamp").cast("long"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("_ts") - F.lag("_ts").over(w)
    marked = e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = marked.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------------------------ sketch parity

def q10_theta_distinct_parts(spark, sf_dir):
    """op #2+#10: theta distinct l_partkey per returnflag; exact regime
    (2000 < 2^12 nominal) so the estimate equals COUNT(DISTINCT)."""
    li = _t(spark, sf_dir, "lineitem")
    state = sketch_update(li, ["l_returnflag"], "l_partkey", "theta")
    return (
        query_distinct(state, "theta")
        .select("l_returnflag", F.col("estimate").cast("long").alias("distinct_parts"))
        .orderBy("l_returnflag")
    )


def q11_theta_union_global(spark, sf_dir):
    """op #15: merge of per-group theta sketches == global distinct."""
    li = _t(spark, sf_dir, "lineitem")
    state = sketch_update(li, ["l_returnflag"], "l_partkey", "theta")
    return state.agg(
        F.theta_sketch_estimate(F.theta_union_agg("sketch", 12)).cast("long").alias("distinct_parts_global")
    )


def q12_theta_setops_custsegments(spark, sf_dir):
    """theta intersection/difference (exceeds reference parity,
    SURVEY.md 2.2): customers ordering URGENT vs LOW priority."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT").agg(
        F.theta_sketch_agg("o_custkey", 12).alias("s")
    )
    b = o.where(F.col("o_orderpriority") == "5-LOW").agg(
        F.theta_sketch_agg("o_custkey", 12).alias("s")
    )
    j = a.crossJoin(b.select(F.col("s").alias("s2")))
    return j.select(
        F.theta_sketch_estimate(F.theta_union("s", "s2")).cast("long").alias("n_union"),
        F.theta_sketch_estimate(F.theta_intersection("s", "s2")).cast("long").alias("n_both"),
        F.theta_sketch_estimate(F.theta_difference("s", "s2")).cast("long").alias("n_urgent_only"),
    )


def q13_frequency_topk_events(spark, sf_dir):
    """op #6+#12: heavy hitters, exact tier."""
    e = _t(spark, sf_dir, "events")
    state = sketch_update(e, [], "event_type", "frequency")
    return query_frequency(state, top_k=5).select(
        "event_type",
        F.col("estimate").cast("long").alias("estimate"),
        F.col("rank").cast("long").alias("rank"),
    )


def q14_exact_percentiles(spark, sf_dir):
    """Exact percentiles (native F.percentile) per event_type -- the
    exact tier beside the KLL approximate tier (q16)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        )
        .orderBy("event_type")
    )


def q15_hll_distinct_users(spark, sf_dir):
    """op #4+#10: hll distinct as a WITHIN-BOUNDS CONTRACT.  The HLL
    estimate itself is library-internal (unreplayable by any other
    engine), but its contract is checkable: Spark computes the estimate
    AND the exact count, and emits whether the exact value falls inside
    the reported 3-sigma bounds (query_distinct's analytic tier).
    DuckDB replays the exact side and expects `true`, turning the
    approximate family into a hash-green row.  The +-2 absolute slack
    covers exact-mode coupon rounding (a ~2^-27-probability coupon
    collision shifts the coupon estimate by 1)."""
    e = _t(spark, sf_dir, "events")
    state = sketch_update(e, ["event_type"], "user_id", "hll")
    est = query_distinct(state, "hll")
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                (F.col("exact_users") >= F.col("lb_3") - 2)
                & (F.col("exact_users") <= F.col("ub_3") + 2)
            ).alias("within_3sigma"),
        )
        .orderBy("event_type")
    )


def q16_kll_value_quantiles(spark, sf_dir):
    """op #5+#11: KLL quantiles as a WITHIN-BOUNDS CONTRACT.  The
    quantile estimates are library-approximate, but (a) KLL's min/max
    and stream length are EXACT (replayable values), and (b) the exact
    rank of each estimated quantile must sit within the published
    normalized rank error (~1.65% at 99% confidence for k=200; 0.02
    adds margin).  Spark computes the estimates and their exact ranks
    over the raw data; DuckDB replays min/max/length and the expected
    `true` booleans."""
    eps = 0.02
    e = _t(spark, sf_dir, "events")
    state = sketch_update(e, [], "value", "kll")
    q = query_quantiles(state, (0.5, 0.9)).select(
        F.element_at("quantiles", 1).cast("double").alias("q50"),
        F.element_at("quantiles", 2).cast("double").alias("q90"),
        "stream_length",
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )
    return e.crossJoin(F.broadcast(q)).agg(
        F.first("stream_length").alias("stream_length"),
        F.round(F.first("min_value"), 2).alias("min_value"),
        F.round(F.first("max_value"), 2).alias("max_value"),
        (
            F.abs(F.sum((F.col("value") <= F.col("q50")).cast("long")) / F.count("*") - 0.5)
            <= eps
        ).alias("rank50_ok"),
        (
            F.abs(F.sum((F.col("value") <= F.col("q90")).cast("long")) / F.count("*") - 0.9)
            <= eps
        ).alias("rank90_ok"),
    )


def q34_kll_cdf_pmf_contract(spark, sf_dir):
    """op #11 CDF/PMF lane as a WITHIN-BOUNDS CONTRACT (q16 covers the
    quantile lane): Spark computes the KLL estimatedCDF/PMF over fixed
    split points AND the exact CDF from the raw data, and emits the
    exact values plus |cdf_est - cdf_exact| <= eps booleans per split
    (eps = the published normalized rank error for k=200 with margin).
    The PMF check rides the same bound (first differences of the CDF
    telescope, DataQueryHandler.java:238-256).  DuckDB replays the
    exact CDF and the expected `true`s."""
    eps = 0.02
    splits = (50.0, 100.0, 200.0)
    e = _t(spark, sf_dir, "events")
    state = sketch_update(e, [], "value", "kll")
    q = query_quantiles(state, (0.5,), splits, "pmf").select(
        *[F.element_at("cdf", i + 1).cast("double").alias(f"cdf_est_{i}") for i in range(len(splits))],
        F.element_at("pmf", -1).cast("double").alias("pmf_tail_est"),
    )
    agg_cols = []
    for i, sp in enumerate(splits):
        exact = F.sum((F.col("value") <= sp).cast("long")) / F.count("*")
        agg_cols.append(F.round(exact, 4).alias(f"cdf_exact_{i}"))
        agg_cols.append(
            (F.abs(exact - F.first(f"cdf_est_{i}")) <= eps).alias(f"cdf_ok_{i}")
        )
    tail_exact = F.sum((F.col("value") > splits[-1]).cast("long")) / F.count("*")
    agg_cols.append(
        (F.abs(tail_exact - F.first("pmf_tail_est")) <= eps).alias("pmf_tail_ok")
    )
    return e.crossJoin(F.broadcast(q)).agg(F.count("*").alias("n"), *agg_cols)


def q35_theta_jaccard_segments(spark, sf_dir):
    """Theta set-op tier beyond reference parity (SURVEY.md 2.2): pairwise
    Jaccard similarity of customer sets between order priorities, from
    theta union/intersection estimates.  At sf<=0.1 the per-priority
    customer sets sit in theta's exact regime (< 2^12 nominal), so the
    sketch Jaccard equals the exact Jaccard and DuckDB replays it
    bit-for-bit (rounded)."""
    o = _t(spark, sf_dir, "orders")
    # lg_k=16 keeps every per-priority customer set in the exact regime
    # up to 65k distinct (covers sf<=1); beyond that the same query runs
    # in estimation mode and the within-bounds contract of q15 applies
    sk = o.groupBy("o_orderpriority").agg(
        F.theta_sketch_agg("o_custkey", 16).alias("s")
    )
    a = sk.select(F.col("o_orderpriority").alias("pa"), F.col("s").alias("sa"))
    b = sk.select(F.col("o_orderpriority").alias("pb"), F.col("s").alias("sb"))
    inter = F.theta_sketch_estimate(F.theta_intersection("sa", "sb"))
    # theta_union takes its own lgNomEntries (defaults to 12): pass the
    # sketch's k or the union silently downsamples back to 4096 nominal
    uni = F.theta_sketch_estimate(F.theta_union("sa", "sb", 16))
    return (
        a.join(b, F.col("pa") < F.col("pb"))
        .select(
            "pa", "pb",
            inter.cast("long").alias("n_both"),
            uni.cast("long").alias("n_either"),
            F.round(inter / uni, 4).alias("jaccard"),
        )
        .orderBy("pa", "pb")
    )


def q36_theta_jaccard_contract(spark, sf_dir):
    """Round-4 task #7: q35's sketch Jaccard as a WITHIN-BOUNDS CONTRACT
    that survives the ESTIMATION regime.  q35 is bit-exact only while
    every per-priority customer set stays under 2^lg_k nominal; scaling
    the fixture past that would silently break its oracle.  This variant
    follows the q15 pattern instead: Spark emits the exact pairwise set
    sizes (replayable by DuckDB) plus booleans asserting the sketch
    estimates fall within 3-sigma of them -- true in both regimes.

    lg_k is deliberately 12 (not q35's 16), so sf0.1 already pushes the
    per-priority sets (~10-15k distinct custkeys) past 4096 nominal and
    the contract genuinely exercises estimation mode.

    Bound: theta union/intersection estimates err relative to the UNION
    cardinality (published theta analysis: intersection error is
    bounded by the union's sampling error, not the intersection's), RSE
    <= 1/sqrt(2^lg_k - 1); the +-2 absolute slack covers exact-mode
    rounding."""
    import math

    lg_k = 12
    tol = 3.0 / math.sqrt(2 ** lg_k - 1)
    o = _t(spark, sf_dir, "orders")
    sk = o.groupBy("o_orderpriority").agg(
        F.theta_sketch_agg("o_custkey", lg_k).alias("s")
    )
    a = sk.select(F.col("o_orderpriority").alias("pa"), F.col("s").alias("sa"))
    b = sk.select(F.col("o_orderpriority").alias("pb"), F.col("s").alias("sb"))
    est = a.join(b, F.col("pa") < F.col("pb")).select(
        "pa",
        "pb",
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb")).alias("both_est"),
        # pass lg_k or theta_union silently downsamples to 4096 nominal
        F.theta_sketch_estimate(F.theta_union("sa", "sb", lg_k)).alias("either_est"),
    )
    # exact pairwise set algebra, all native: distinct + sizes + an
    # equi-join intersection count (5 priorities -> 10 pairs; the join
    # shuffles narrow (priority, custkey) rows)
    s = o.select(
        F.col("o_orderpriority").alias("p"), F.col("o_custkey").alias("c")
    ).distinct()
    sizes = s.groupBy("p").agg(F.count("*").alias("n"))
    inter = (
        s.alias("x")
        .join(s.alias("y"), (F.col("x.c") == F.col("y.c")) & (F.col("x.p") < F.col("y.p")))
        .groupBy(F.col("x.p").alias("pa"), F.col("y.p").alias("pb"))
        .agg(F.count("*").alias("n_both"))
    )
    pairs = sizes.select(F.col("p").alias("pa"), F.col("n").alias("na")).join(
        sizes.select(F.col("p").alias("pb"), F.col("n").alias("nb")),
        F.col("pa") < F.col("pb"),
    )
    exact = pairs.join(inter, ["pa", "pb"], "left").select(
        "pa",
        "pb",
        F.coalesce("n_both", F.lit(0)).cast("long").alias("n_both"),
        (F.col("na") + F.col("nb") - F.coalesce("n_both", F.lit(0)))
        .cast("long")
        .alias("n_either"),
    )
    return (
        exact.join(est, ["pa", "pb"])
        .select(
            "pa",
            "pb",
            "n_both",
            "n_either",
            (F.abs(F.col("both_est") - F.col("n_both")) <= F.col("n_either") * tol + 2)
            .alias("both_ok"),
            (F.abs(F.col("either_est") - F.col("n_either")) <= F.col("n_either") * tol + 2)
            .alias("either_ok"),
        )
        .orderBy("pa", "pb")
    )


def q63_theta_setops_contract(spark, sf_dir):
    """Round-5 (verdict r4 #5): q12's theta intersection/difference as a
    WITHIN-BOUNDS CONTRACT that survives the estimation regime.  q12's
    oracle is exact only while both priority segments stay sub-nominal
    (< 2^12); scaling the fixture past that would silently break it.
    Following the q36 pattern, Spark emits the exact set algebra
    (replayable by DuckDB) plus booleans asserting each sketch estimate
    -- union, intersection, AND difference -- lands within 3 sigma.

    Bound: theta intersection/difference estimates err relative to the
    UNION cardinality (their retained samples are drawn at the union's
    theta), RSE <= 1/sqrt(2^lg_k - 1); +-2 absolute slack covers
    exact-regime rounding.  lg_k=12 so the contract genuinely exercises
    estimation mode once a segment passes 4096 distinct customers."""
    import math

    lg_k = 12
    tol = 3.0 / math.sqrt(2**lg_k - 1)
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderpriority") == "1-URGENT").agg(
        F.theta_sketch_agg("o_custkey", lg_k).alias("s")
    )
    b = o.where(F.col("o_orderpriority") == "5-LOW").agg(
        F.theta_sketch_agg("o_custkey", lg_k).alias("s2")
    )
    est = a.crossJoin(b).select(
        # pass lg_k or theta_union silently downsamples to 4096 nominal
        F.theta_sketch_estimate(F.theta_union("s", "s2", lg_k)).alias("union_est"),
        F.theta_sketch_estimate(F.theta_intersection("s", "s2")).alias("both_est"),
        F.theta_sketch_estimate(F.theta_difference("s", "s2")).alias("diff_est"),
    )
    # exact set algebra, all native narrow (priority, custkey) rows
    s = (
        o.where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(F.col("o_orderpriority").alias("p"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    exact = s.agg(
        F.countDistinct(F.when(F.col("p") == "1-URGENT", F.col("c"))).alias("n_urgent"),
        F.countDistinct(F.when(F.col("p") == "5-LOW", F.col("c"))).alias("n_low"),
        (F.count("*") - F.countDistinct("c")).cast("long").alias("n_both"),
        F.countDistinct("c").cast("long").alias("n_union"),
    ).select(
        "n_urgent",
        "n_low",
        "n_both",
        "n_union",
        (F.col("n_urgent") - F.col("n_both")).cast("long").alias("n_urgent_only"),
    )
    return exact.crossJoin(est).select(
        "n_urgent",
        "n_low",
        "n_both",
        "n_union",
        "n_urgent_only",
        (F.abs(F.col("union_est") - F.col("n_union")) <= F.col("n_union") * tol + 2)
        .alias("union_ok"),
        (F.abs(F.col("both_est") - F.col("n_both")) <= F.col("n_union") * tol + 2)
        .alias("both_ok"),
        (F.abs(F.col("diff_est") - F.col("n_urgent_only")) <= F.col("n_union") * tol + 2)
        .alias("diff_ok"),
    )


def q17_reservoir_sample(spark, sf_dir):
    """op #7+#13: uniform sample with occurrence semantics (row key =
    event_id).  Oracle-able: the sample key is portable md5 arithmetic
    (functions/portable.py) that DuckDB replays bit-identically, so the
    oracle reproduces the exact sampled rows."""
    e = _t(spark, sf_dir, "events")
    state = sketch_update(
        e, ["event_type"], "user_id", "reservoir", SketchConfig(sample_k=8),
        row_key_col="event_id",
    )
    return (
        query_sampling(state, "reservoir", 8)
        .select("event_type", F.col("item").alias("sampled_user"), "stream_n")
        .orderBy("event_type", "sampled_user")
    )


def q18_varopt_sample(spark, sf_dir):
    """op #8+#13: weighted sample via Duffield-Lund-Thorup priority
    sampling (the varopt analog): priorities w/u, threshold tau,
    subset-sum weights max(w, tau).  Exactly-rounded IEEE ops only
    (division/comparison/max -- no ln), so the DuckDB oracle replays
    the sample AND the estimator weights bit-identically."""
    e = _t(spark, sf_dir, "events")
    state = sketch_update(
        e, [], "event_type", "varopt", SketchConfig(sample_k=8),
        weight_col="value", row_key_col="event_id",
    )
    out = query_sampling(state, "varopt", 8)
    return out.select(
        F.col("item").alias("event_type"),
        F.round("weight", 2).alias("weight"),
        F.round("adjusted_weight", 4).alias("adjusted_weight"),
        F.round("tau", 4).alias("tau"),
        F.round("stream_weight", 2).alias("stream_weight"),
        "stream_n",
    ).orderBy("event_type", "weight")


def q19_cms_heavy_hitters(spark, sf_dir):
    """Sketched frequency tier (op #6/#12, approximate lane): Count-Min
    cells over user_id, probed for the exact top-10 users.  CMS
    estimates are deterministic upper bounds; the hashes are portable,
    so the DuckDB oracle replays estimate AND bound behavior exactly."""
    from ..functions.cms import cms_estimate, cms_update

    e = _t(spark, sf_dir, "events")
    depth, width = 4, 256
    cells = cms_update(e, "user_id", depth=depth, width=width)
    exact = (
        e.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(10)
    )
    est = cms_estimate(cells, exact.select("user_id"), "user_id", depth, width)
    return (
        exact.join(est, "user_id")
        .select("user_id", "exact_n", "cms_estimate")
        .orderBy(F.desc("exact_n"), "user_id")
    )


# ------------------------------------------------------- text / dedup family

def q20_token_stats(spark, sf_dir):
    """Text analysis: token + BPE-ish piece counts, stopword ratio."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TXT.token_count(F.col("text")).alias("n_tokens"),
        TXT.bpe_ish_piece_count(F.col("text")).alias("n_pieces"),
        F.round(TXT.stopword_ratio(F.col("text")), 4).alias("stop_ratio"),
    ).orderBy("doc_id")


def q21_exact_dedup_fingerprint(spark, sf_dir):
    """Exact dedup: md5 over normalized text; duplicate-group summary."""
    d = _t(spark, sf_dir, "documents")
    norm = F.concat_ws(" ", TXT.tokens(F.col("text")))
    return (
        d.select(F.md5(norm).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc"))
        .agg(
            F.count("*").alias("n_unique_docs"),
            F.sum(F.col("n_docs") - 1).alias("n_exact_dupes"),
        )
    )


def q22_ngram_jaccard_pairs(spark, sf_dir):
    """Near-dup pairs by word-trigram jaccard >= 0.8 (brute-force tier;
    the LSH tier q24 is the scale path)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
        )
    )
    g = d.select(F.col("doc_id"), grams.alias("grams"))
    a = g.select(F.col("doc_id").alias("a"), F.col("grams").alias("ga"))
    b = g.select(F.col("doc_id").alias("b"), F.col("grams").alias("gb"))
    inter = F.size(F.array_intersect("ga", "gb"))
    uni = F.size(F.array_union("ga", "gb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.round(inter / uni, 4).alias("jaccard"))
        .where(F.col("jaccard") >= 0.8)
        .orderBy("a", "b")
    )


def q23_lang_quality(spark, sf_dir):
    """Language-ID heuristic + quality score, aggregated per source."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("source", TXT.lang_id(F.col("text")).alias("lang"),
                 TXT.quality_score(F.col("text")).alias("q"))
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n_docs"), F.round(F.avg("q"), 4).alias("avg_quality"))
        .orderBy("source", "lang")
    )


def q24_dedup_clusters_documents(spark, sf_dir):
    """Full LSH+CC dedup over documents-as-transcripts (rows-only: LSH
    banding + iterative connected components are not one-shot SQL)."""
    from .pipeline import cluster_summary

    res = documents_dedup_result(spark, sf_dir)
    return cluster_summary(res.clusters).where(F.col("cluster_size") > 1)


def q37_incremental_dedup_documents(spark, sf_dir):
    """Round-4: the incremental-batch path under the SAME exact oracle
    as q24.  Documents-as-transcripts are split ~80/20 by conv-id hash;
    the 80% corpus is clustered, then incremental_dedup folds the 20%
    batch in (old band membership probed, old-old pairs dropped in the
    pair builder, delta connected components against the old labeling).
    The result must hash-match DuckDB's full recursive >=0.7-jaccard
    closure of the WHOLE corpus -- proving incremental == full == exact
    transitive closure on driver data, not just on pytest fixtures."""
    from ..operators.lsh import band_buckets
    from .pipeline import cluster_summary, incremental_dedup

    cfg = PipelineConfig(shingle=ShingleConfig(k=3))
    t = transcripts_from_documents(spark, sf_dir)
    is_new = F.pmod(F.xxhash64("conv_id"), F.lit(5)) == 0
    old = documents_dedup_result(spark, sf_dir, subset="old80")
    inc = incremental_dedup(
        old.conv_state,
        old.edges,
        t.where(is_new),
        cfg,
        old_buckets=band_buckets(old.conv_state, cfg.lsh),
        old_clusters=old.clusters,
    )
    return cluster_summary(inc.clusters).where(F.col("cluster_size") > 1)


def q38_cluster_keeper_policy(spark, sf_dir):
    """Near-dup REMOVAL policy (the step after detection in a training-
    data pipeline): within each multi-member near-dup cluster keep the
    highest-quality document -- quality from the replayable q23 formula,
    ties broken by smallest id -- and flag the rest as dropped.  The
    deduplicated corpus = keepers + singletons.  Keeper ordering uses
    the ROUNDED quality so Spark and the oracle can never diverge on a
    1e-17 float tie; the oracle replays q24's exact closure + q23's
    quality formula + the same argmax."""
    res = documents_dedup_result(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.round(TXT.quality_score(F.col("text")), 4).alias("quality"),
    )
    members = (
        res.clusters.join(d, "conv_id")
        .withColumn("sz", F.count("*").over(Window.partitionBy("cluster_id")))
        .where(F.col("sz") > 1)
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), "conv_id")
    ranked = members.withColumn("rk", F.row_number().over(w))
    keepers = ranked.where(F.col("rk") == 1).select(
        "cluster_id", F.col("conv_id").alias("keeper_id")
    )
    return (
        ranked.join(keepers, "cluster_id")
        .select(
            "cluster_id",
            "conv_id",
            "quality",
            "keeper_id",
            (F.col("conv_id") != F.col("keeper_id")).alias("dropped"),
        )
        .orderBy("cluster_id", "conv_id")
    )


def q25_simhash_near_dups(spark, sf_dir):
    """SimHash near-dup doc pairs at hamming <= 6: portable 48-bit
    fingerprints (md5 gram hashes, bit votes) + banded candidate join
    (8 bands of 6 bits: pigeonhole-complete at radius 6, so the banded
    result EQUALS brute force).  Oracle: DuckDB recomputes fingerprints
    and brute-forces all pairs -- hash equality proves both the
    fingerprint arithmetic and the banding's completeness."""
    from ..operators.dedup import portable_simhash_fingerprints, simhash_dedup_pairs

    d = _t(spark, sf_dir, "documents")
    fps = portable_simhash_fingerprints(d, n=3, bits=48)
    state = fps.select(F.col("id").alias("conv_id"), F.col("fingerprint").alias("simhash"))
    return (
        simhash_dedup_pairs(state, max_hamming=6, n_bands=8, bits=48)
        .orderBy("a", "b")
    )


def q26_dup_spans(spark, sf_dir):
    """Suffix-array longest-duplicate-span (token unit) on verified
    pairs (SA+LCP in a mapInPandas kernel).  Oracle-able: the longest
    common token run equals the max shared token n-gram, which DuckDB
    computes by brute force over the (small) verified pair set; the
    pair list itself is the LSH pipeline's, proven exact by q24."""
    from ..operators.suffixarray import attach_dup_spans
    from ..functions.text import assemble_conversations
    res = documents_dedup_result(spark, sf_dir)
    convs = assemble_conversations(transcripts_from_documents(spark, sf_dir))
    return (
        attach_dup_spans(res.edges.select("a", "b", "jaccard"), convs, unit="token")
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"), "span_len",
                F.round("span_frac", 4).alias("span_frac"))
        .orderBy("a", "b")
    )


def q28_exact_dedup_assignments(spark, sf_dir):
    """Exact dedup with keeper assignment per doc (oracle-able)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.md5(F.concat_ws(" ", TXT.tokens(F.col("text"))))
    fp = d.select("doc_id", norm.alias("fp"))
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("keeper_doc"))
    return (
        fp.join(keep, "fp")
        .select("doc_id", "keeper_doc", (F.col("doc_id") != F.col("keeper_doc")).alias("is_duplicate"))
        .orderBy("doc_id")
    )


def q29_multimodal_features(spark, sf_dir):
    """Multimodal plumbing over a documents-derived media table: binary
    payload column -> mapInPandas stub decode -> feature stats.  The
    stub decoder is md5-portable, so the DuckDB oracle replays the
    aggregate features from the same bytes (the Spark side genuinely
    reads the BINARY payload in the kernel)."""
    from ..operators.multimodal import extract_features, media_from_documents

    media = media_from_documents(spark, sf_dir)
    feats = extract_features(media, dim=16)
    return (
        feats.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(F.element_at("feature", 1)), 4).alias("mean_f0"),
            F.round(F.avg("n_bytes"), 2).alias("avg_bytes"),
        )
        .orderBy("kind")
    )


def q27_transcript_turn_equality(spark, sf_dir):
    """Per-row invariant (BASELINE.json input_hint): reassembling turns in
    stable (conv_id, turn_idx) order restores the source text exactly."""
    t = transcripts_from_documents(spark, sf_dir)
    convs = TXT.assemble_conversations(t)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), "text"
    )
    return (
        convs.join(docs, "conv_id")
        .select(
            "conv_id",
            "n_turns",
            (F.col("full_text") == F.col("text")).alias("text_equal"),
        )
        .orderBy(F.col("conv_id").cast("long"))
    )


def q32_bow_cosine_near_dups(spark, sf_dir):
    """Embedding-cosine near-dup pairs over documents: hashed
    bag-of-words vectors, exact sparse cosine (oracle-able: the dim
    hash is portable arithmetic and dot/norms are integer sums)."""
    from ..operators.dedup import hashed_bow_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    return hashed_bow_near_dup_pairs(d, dim=64, threshold=0.9).orderBy("a", "b")


def q33_embedding_lsh_near_dups(spark, sf_dir):
    """Dense-embedding near-dup pairs via sign-projection LSH (multi-
    probe, capped buckets) + exact cosine rerank.  The quantized codes
    are exact integer arithmetic, so the DuckDB oracle replays buckets,
    probes, caps, and the rerank bit-identically (q31 likewise)."""
    from ..operators.similarity import embedding_near_dup_pairs

    e = _t(spark, sf_dir, "embeddings")
    return (
        embedding_near_dup_pairs(
            e, threshold=0.4, n_tables=24, n_bits=6, bucket_cap=128, probe_radius=1
        )
        .select("a", "b", F.round("cosine", 4).alias("cosine"))
        .orderBy("a", "b")
    )


# ------------------------------------------------------------- similarity

def q30_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 embedding -- native
    zip_with/aggregate dot product, no UDF."""
    e = _td(spark, sf_dir, "embeddings", "vec_id").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    from ..operators.similarity import cosine

    sim = cosine(F.col("embedding"), F.col("qe"))
    return (
        e.crossJoin(F.broadcast(qv))
        .where(F.col("vec_id") != 0)
        .select("vec_id", F.round(sim, 4).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


def q31_ann_lsh_cosine(spark, sf_dir):
    """ANN tier: sign-projection LSH with multi-probe queries and
    capped buckets, exact rerank.  Recall vs exact (q30) asserted in
    pytest; buckets/probes/caps replayed exactly by the DuckDB oracle
    (quantized integer codes -- see operators/similarity.py)."""
    from ..operators.similarity import ann_topk

    e = _td(spark, sf_dir, "embeddings", "vec_id")
    q = e.where(F.col("vec_id") == 0)
    return ann_topk(
        e.where(F.col("vec_id") != 0), q, k=10,
        n_tables=24, n_bits=6, bucket_cap=128, probe_radius=1,
    ).select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"))


def q64_ivf_recall_contract(spark, sf_dir):
    """IVF ANN tier (r5) as a RECALL CONTRACT: queries = vec_id % 25 == 0,
    IVF top-10 (16 lists, nprobe 12, 2 Lloyd iterations, hash-seeded
    deterministic centroids) vs the exact cosine top-10, per-query recall
    aggregated.  IVF assignments are float-argmax-dependent and so not
    SQL-replayable; the oracle replays the exact counting (n_queries,
    k) and asserts the recall booleans TRUE -- same contract style as
    q36/q63.

    Parameter honesty: the synthetic embeddings are ~ISOTROPIC
    (within-label cosine 0.0016 vs 0.0003 across -- measured), the
    coarse-quantizer worst case, so recall ~= nprobe/n_lists and the
    contract must probe 12 of 16 lists to clear 0.85 mean (measured on
    this implementation: mean 0.94, min 0.7 at sf0.01).  On clustered
    real-corpus embeddings (the 100 TB case IVF exists for) nprobe <<
    n_lists; both knobs are exposed and the LSH tier (q31) remains the
    isotropic-data scale path."""
    from ..operators.similarity import cosine_topk, ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 25 == 0)
    exact = cosine_topk(e, q, k=10).select("query_id", "vec_id")
    approx = ivf_topk(e, q, k=10, n_lists=16, nprobe=12, n_iters=2).select(
        "query_id", F.col("vec_id").alias("vec_id_a")
    )
    per_q = (
        exact.join(
            approx,
            (exact["query_id"] == approx["query_id"])
            & (exact["vec_id"] == approx["vec_id_a"]),
            "left",
        )
        .groupBy(exact["query_id"])
        .agg(
            F.count("*").alias("k"),
            F.count("vec_id_a").alias("hits"),
        )
    )
    return per_q.agg(
        F.count("*").alias("n_queries"),
        F.min("k").cast("long").alias("k"),
        (F.avg(F.col("hits") / F.col("k")) >= 0.85).alias("mean_recall_ok"),
        (F.min(F.col("hits") / F.col("k")) >= 0.5).alias("min_recall_ok"),
    )


def q65_lsh_band_planner(spark, sf_dir):
    """LSH band-plan selection (r5, functions/lsh_planner.py): for each
    target Jaccard threshold, choose (bands, rows) among the (b, r)
    factorizations of the 128-perm signature under BOTH published rules
    -- balanced (S-curve midpoint s50=(1/b)^(1/r) closest to the
    threshold) and recall-first (largest rows whose catch probability
    1-(1-t^r)^b still clears 0.99; fewest candidates = cheapest verify).
    Closed-form S-curve arithmetic (MMDS ch.3), computed declaratively
    over a literal 8x5 factorization x threshold grid, so the DuckDB
    oracle replays it exactly.  At threshold 0.7 the recall rule derives
    (32, 4) -- the engine's shipped default, proven optimal among the
    128-perm factorizations rather than hand-chosen.  Planning cost is
    independent of corpus size: only the chosen LshConfig ships to the
    100 TB job."""
    from ..functions.lsh_planner import factorizations

    f = spark.createDataFrame(factorizations(128), "bands int, nrows int")
    t = spark.createDataFrame(
        [(x,) for x in (0.5, 0.6, 0.7, 0.8, 0.9)], "threshold double"
    )
    g = (
        f.crossJoin(t)  # 8 x 5 literal rows: a config grid, not data
        .withColumn(
            "s50", F.pow(F.lit(1.0) / F.col("bands"), F.lit(1.0) / F.col("nrows"))
        )
        .withColumn(
            "p_catch",
            F.lit(1.0)
            - F.pow(F.lit(1.0) - F.pow("threshold", F.col("nrows")), F.col("bands")),
        )
    )
    w_bal = Window.partitionBy("threshold").orderBy(
        F.abs(F.col("s50") - F.col("threshold")), "nrows"
    )
    bal = (
        g.withColumn("_rn", F.row_number().over(w_bal))
        .where(F.col("_rn") == 1)
        .select(
            "threshold",
            F.col("bands").cast("long").alias("bal_bands"),
            F.col("nrows").cast("long").alias("bal_rows"),
            F.round(F.col("s50") * 10000).cast("long").alias("bal_s50_e4"),
        )
    )
    w_rec = Window.partitionBy("threshold").orderBy(F.desc("nrows"))
    rec = (
        g.where(F.col("p_catch") >= 0.99)
        .withColumn("_rn", F.row_number().over(w_rec))
        .where(F.col("_rn") == 1)
        .select(
            "threshold",
            F.col("bands").cast("long").alias("rec_bands"),
            F.col("nrows").cast("long").alias("rec_rows"),
            F.round(F.col("p_catch") * 10000).cast("long").alias("rec_catch_e4"),
        )
    )
    return (
        bal.join(rec, "threshold")
        .select(
            F.round(F.col("threshold") * 100).cast("long").alias("threshold_e2"),
            "bal_bands",
            "bal_rows",
            "bal_s50_e4",
            "rec_bands",
            "rec_rows",
            "rec_catch_e4",
        )
        .orderBy("threshold_e2")
    )


# ------------------------------------------------------- curation family

def q39_decontamination(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 17 == 3 play the
    eval suite; every other doc reports the fraction of its distinct
    word 4-grams that appear anywhere in the eval set.  The eval gram
    set is broadcast, so the training side never shuffles text
    (operators/curation.decontaminate).  Only contaminated docs are
    returned (zero-hit rows carry no information and the row count
    stays stable as the corpus grows)."""
    from ..operators.curation import decontaminate

    d = _t(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 17 == 3
    return (
        decontaminate(d.where(~is_eval), d.where(is_eval), n=4)
        .where(F.col("n_contaminated") > 0)
        .orderBy("doc_id")
    )


def q40_repetition_scores(spark, sf_dir):
    """Intra-doc repetition quality gate: duplicate-trigram fraction +
    max single-gram multiplicity per document (operators/curation
    .repetition_scores; explode + two map-side-combined aggregates,
    no window)."""
    from ..operators.curation import repetition_scores

    d = _t(spark, sf_dir, "documents")
    return repetition_scores(d, n=3).orderBy("doc_id")


def q41_stratified_sample(spark, sf_dir):
    """Deterministic 5-per-language sample ranked by the portable u01
    hash (ties by doc_id).  Two-phase top-k (operators/curation
    .stratified_sample): partial ranks inside salt buckets bound the
    final per-stratum sort at k x buckets rows regardless of corpus
    size; the oracle replays the same hash with one plain window."""
    from ..operators.curation import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(d, ["lang"], k=5).orderBy("lang", "rk")


def q42_sequence_packing(spark, sf_dir):
    """Greedy token packing into 256-token bins per source stratum
    (operators/curation.pack_sequences): running token sum in id order,
    bin = floor(preceding-total / capacity).  Sequential within a
    stratum by definition, parallel across strata; only
    (stratum, id, n_tok) rows reach the window."""
    from ..operators.curation import pack_sequences

    d = _t(spark, sf_dir, "documents")
    return pack_sequences(d, capacity=256, strata_cols=["source"]).orderBy(
        "source", "bin"
    )


def q43_curation_funnel(spark, sf_dir):
    """The end-to-end curation funnel a training-data pipeline runs --
    every training doc gets ONE verdict, by precedence:

      dup           -- near-dup cluster member that lost the keeper
                       argmax (q24 clusters x q38 policy)
      contaminated  -- >= 50% of its 4-grams appear in the eval set
                       (q39 decontamination, eval = doc_id % 17 == 3)
      repetitive    -- duplicate-trigram fraction >= 0.05 (q40)
      low_quality   -- replayable quality score < 0.9 (q23 formula)
      kept          -- survives every gate

    Composes the dedup pipeline with all four curation operators in one
    DataFrame plan; the oracle replays the exact closure + the same
    gates.  Every per-doc signal is narrow (doc_id, value) before the
    joins, which all hash on the near-unique doc id."""
    from ..operators.curation import decontaminate, repetition_scores
    from .pipeline import dedup_pipeline

    cfg = PipelineConfig(shingle=ShingleConfig(k=3))
    d = _t(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 17 == 3
    train = d.where(~is_eval)
    t = transcripts_from_documents(spark, sf_dir).where(
        F.col("conv_id").cast("long") % 17 != 3
    )
    res = dedup_pipeline(t, cfg)
    qual = train.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.round(TXT.quality_score(F.col("text")), 4).alias("quality"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), "conv_id")
    flags = (
        res.clusters.join(qual, "conv_id")
        .withColumn("rk", F.row_number().over(w))
        .withColumn("sz", F.count("*").over(Window.partitionBy("cluster_id")))
        .select(
            F.col("conv_id").cast("long").alias("doc_id"),
            ((F.col("sz") > 1) & (F.col("rk") > 1)).alias("is_dup"),
            "quality",
        )
    )
    cont = decontaminate(train, d.where(is_eval), n=4).select(
        "doc_id", "contamination"
    )
    rep = repetition_scores(train, n=3).select("doc_id", "rep_ratio")
    return (
        flags.join(cont, "doc_id")
        .join(rep, "doc_id")
        .select(
            "doc_id",
            F.when(F.col("is_dup"), F.lit("dup"))
            .when(F.col("contamination") >= 0.5, F.lit("contaminated"))
            .when(F.col("rep_ratio") >= 0.05, F.lit("repetitive"))
            .when(F.col("quality") < 0.9, F.lit("low_quality"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


def q44_prefix_containment_pairs(spark, sf_dir):
    """Turn-aligned prefix/containment duplicates over the transcripts
    table: resumed/retried sessions whose turns are exactly the first k
    turns of a longer conversation, plus whole-conv exact duplicates
    (mutual prefixes, emitted once).  Candidates come from one narrow
    equi-join on (first-turn hash, running 60-bit prefix hash,
    position); every emitted pair is re-verified against the actual
    turn texts (operators/prefix.py).  The oracle recomputes the pairs
    the direct way -- ordered turn-list slice equality."""
    from ..operators.prefix import turn_prefix_pairs

    t = transcripts_from_documents(spark, sf_dir)
    return (
        turn_prefix_pairs(t, verify=True)
        .select(
            "prefix_conv_id",
            "super_conv_id",
            F.col("prefix_turns").cast("int").alias("prefix_turns"),
            F.col("super_turns").cast("int").alias("super_turns"),
            "relation",
        )
        .orderBy("prefix_conv_id", "super_conv_id")
    )


def q45_semantic_dedup_clusters(spark, sf_dir):
    """SemDeDup-style semantic duplicate clusters: LSH-bucketed cosine
    pairs at the q33 config -> connected components -> per-vector
    cluster assignment with keeper flag (min vec_id).  The oracle
    replays the LSH edge set bit-identically (exact integer codes, as
    q33) and closes it with a recursive min-label CTE (as q24)."""
    from ..operators.similarity import semantic_dedup_clusters

    e = _t(spark, sf_dir, "embeddings")
    return (
        semantic_dedup_clusters(
            e, threshold=0.4, n_tables=24, n_bits=6, bucket_cap=128, probe_radius=1
        )
        .select("vec_id", "cluster_id", "cluster_size", "is_keeper")
        .orderBy("cluster_id", "vec_id")
    )


def q46_prefix_dedup_assignments(spark, sf_dir):
    """The actionable half of q44: one verdict per conversation --
    'prefix_dup' (a proper prefix of another conv), 'exact_dup' (a
    whole-conv twin that lost the min-id tie-break), or 'kept'.  One
    narrow aggregate over the verified pair set joined back to the conv
    list; the oracle recomputes the pair set directly (turn-list slice
    equality) and applies the same precedence."""
    from ..operators.prefix import prefix_dedup_assignments

    t = transcripts_from_documents(spark, sf_dir)
    return (
        prefix_dedup_assignments(t)
        .select(
            "conv_id",
            F.col("n_turns").cast("int").alias("n_turns"),
            "verdict",
        )
        .orderBy(F.col("conv_id").cast("long"))
    )


def q47_exactsubstr_coverage(spark, sf_dir):
    """ExactSubstr-style cross-document duplicate coverage (Lee et al.,
    'Deduplicating Training Data Makes Language Models Better'): per
    document, the token-position mass covered by 8-token runs that also
    appear in >= 2 distinct documents -- corpus-wide, not per-pair like
    q26.  Exact tier (windows keyed by their string) so the DuckDB
    oracle replays it verbatim; the scale tier (exact=False) keys the
    same relation by xxhash64 so only narrow longs shuffle."""
    from ..operators.dedup import cross_doc_duplicate_coverage

    d = _t(spark, sf_dir, "documents")
    return (
        cross_doc_duplicate_coverage(d, window=8, exact=True)
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            "dup_tokens",
            "dup_frac",
        )
        .orderBy("doc_id")
    )


def q48_exactsubstr_removal(spark, sf_dir):
    """ExactSubstr removal policy: keep exactly one occurrence (min
    doc_id, then min position) of every duplicated 8-token run and
    schedule the rest for removal; per doc, the removed-token mass
    (interval union, overlaps not double-counted) and the surviving
    token budget.  Same keeper rule in the oracle via two grouped mins
    -- no float, no tie ambiguity."""
    from ..operators.dedup import exactsubstr_removal_plan

    d = _t(spark, sf_dir, "documents")
    return (
        exactsubstr_removal_plan(d, window=8, exact=True)
        .select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            "removed_tokens",
            "kept_tokens",
        )
        .orderBy("doc_id")
    )


def q49_exactsubstr_spans(spark, sf_dir):
    """The actionable duplicated intervals behind q47: one row per
    maximal cross-document duplicated token run (merged overlapping
    8-token windows), [span_start, span_end) per doc.  A trim job
    rewrites exactly these slices.  Oracle: same window replay +
    gaps-and-islands, materializing the islands instead of summing."""
    from ..operators.dedup import cross_doc_duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return (
        cross_doc_duplicate_spans(d, window=8, exact=True)
        .select(
            F.col("id").alias("doc_id"),
            "span_start",
            "span_end",
            "span_tokens",
        )
        .orderBy("doc_id", "span_start")
    )


def q50_turn_template_dedup(spark, sf_dir):
    """Turn-level template detection over the transcript shape
    (BASELINE.json input_hint): turns whose exact text recurs in >= 2
    distinct conversations -- the boilerplate/template-response mass a
    transcript-curation pipeline strips before training.  One row per
    template fingerprint with its conversation spread, total occurrence
    count, and a deterministic exemplar.

    md5 is engine-portable (DuckDB replays it verbatim -- same
    convention as q21's exact-dedup fingerprint); scale notes on the
    operator (operators/curation.py)."""
    from ..operators.curation import turn_templates

    return turn_templates(transcripts_from_documents(spark, sf_dir))


def q51_turn_template_contamination(spark, sf_dir):
    """Per-conversation template contamination: the fraction of a
    conversation's turns whose exact text also appears in some OTHER
    conversation (q50's template set) -- the per-conv gate a curation
    funnel thresholds on, complementing doc-level q47 coverage with
    turn-granularity semantics (a turn is boilerplate only if shared
    ACROSS conversations; repeats inside one conversation don't count).

    Scale notes on the operator (operators/curation.py)."""
    from ..operators.curation import template_contamination

    return template_contamination(transcripts_from_documents(spark, sf_dir))


def q52_incremental_exactsubstr_coverage(spark, sf_dir):
    """Round-4: the incremental ExactSubstr path under the SAME oracle
    as q47.  Documents are split ~80/20 by doc-id hash; the 80% corpus
    bootstraps the persisted window index (its LAST full pass), then
    absorb_batch folds the 20% in -- batch-only window explode,
    broadcast key probe against the stored index, woken singletons,
    per-batch span deltas.  The chain read must hash-match DuckDB's
    full-corpus window replay -- proving incremental == full recompute
    on driver data, not just on pytest fixtures.  (Scale tier: wkey =
    xxhash64; collision-free at any testable corpus size, and both the
    incremental and full paths share collision behavior by design.)"""
    import shutil
    import tempfile

    from . import window_index as WI

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    is_new = F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(5)) == 0
    # registry queries must be side-effect-free: build the index in a
    # temp dir, materialize the result off it (localCheckpoint truncates
    # the plan's parquet dependency), then remove the dir before return.
    wd = tempfile.mkdtemp(prefix="q52_windex_")
    try:
        WI.write_window_index(docs.where(~is_new), wd)
        WI.absorb_batch(spark, docs.where(is_new), wd, chain=["base"], batch_fp="b1")
        return (
            WI.read_coverage(spark, wd, chain=["base", "b1"])
            .select(F.col("id").alias("doc_id"), "n_tokens", "dup_tokens", "dup_frac")
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def q53_gopher_quality(spark, sf_dir):
    """Gopher quality-rule gates (Rae et al. 2021 A1.1) per source: how
    much of each source survives the standard pre-training heuristic
    filter, plus the average per-rule measurements.  One scan + one
    projection (all seven rules are one codegen'd struct) + one 2-key
    agg -- at 100 TB this is a map-side-combined pass, no extra shuffle
    beyond the final per-source reduce."""
    d = _t(spark, sf_dir, "documents")
    g = d.select("source", TXT.gopher_flags(F.col("text")).alias("g"))
    return (
        g.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("g.passes_gopher").cast("long")).alias("n_pass"),
            F.sum((~F.col("g.n_words").between(50, 100_000)).cast("long")).alias("n_fail_words"),
            F.sum((F.col("g.stop_hits") < 2).cast("long")).alias("n_fail_stops"),
            F.round(F.avg("g.n_words"), 4).alias("avg_words"),
            F.round(F.avg("g.mean_word_len"), 4).alias("avg_word_len"),
            F.round(F.avg("g.alpha_word_frac"), 4).alias("avg_alpha_frac"),
            F.round(F.avg("g.stop_hits"), 4).alias("avg_stop_hits"),
        )
        .orderBy("source")
    )


def q54_pii_scan(spark, sf_dir):
    """PII scan + redaction proof.  Matches are planted deterministically
    from driver data (docs with doc_id % 7 == 0 get an email + phone +
    IP built from their own columns -- the SAME derivation the DuckDB
    oracle applies), then the scan counts per-kind matches and the
    redaction is proven byte-for-byte by hashing the redacted text.
    Native regexp_extract_all / regexp_replace in the RE2-and-Java
    common subset; one scan, no shuffle before the final agg."""
    d = _t(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact "),
                F.col("source"),
                F.lit("@example.com or 555-867-5309 from 10.0.0."),
                (F.col("doc_id") % 200).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    p = planted.select(
        "source",
        TXT.pii_counts(F.col("text")).alias("p"),
        F.md5(TXT.redact_pii(F.col("text"))).alias("redacted_fp"),
    )
    return (
        p.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("p.n_email").alias("n_email"),
            F.sum("p.n_phone").alias("n_phone"),
            F.sum("p.n_ipv4").alias("n_ipv4"),
            F.md5(F.expr("listagg(redacted_fp, '|') within group (order by redacted_fp)")).alias(
                "redaction_proof"
            ),
        )
        .orderBy("source")
    )


SWEEP_THRESHOLDS = [0.7, 0.75, 0.8, 0.85, 0.9, 0.95]


def q55_jaccard_threshold_sweep(spark, sf_dir):
    """Threshold-sensitivity sweep: how many near-dup pairs / affected
    docs survive at each jaccard cutoff >= the LSH design threshold --
    the number an operator looks at before committing a dedup config.
    ONE banding + exact-verify pass produces scored edges; the sweep is
    an explode over a constant 6-element array on the (small) verified
    pair set, so at 100 TB the sweep costs nothing beyond q24's
    pipeline.  Sweeping only ABOVE the design threshold keeps candidate
    recall 1.0 (every >=0.7 pair is a candidate; higher cutoffs are
    subsets), which is what lets the exact all-pairs oracle hash-match.
    sum_j_e4 accumulates round(jaccard*1e4) as an integer so the hash
    can never be flipped by float association order."""
    res = documents_dedup_result(spark, sf_dir)
    th = F.explode(F.array(*[F.lit(x) for x in SWEEP_THRESHOLDS])).alias("threshold")
    e = res.edges.select(
        F.col("a"), F.col("b"), F.col("jaccard"), th
    ).where(F.col("jaccard") >= F.col("threshold"))
    pairs = e.groupBy("threshold").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.round(F.col("jaccard") * 10000).cast("long")).alias("sum_j_e4"),
    )
    docs = (
        e.select("threshold", F.explode(F.array("a", "b")).alias("id"))
        .groupBy("threshold")
        .agg(F.countDistinct("id").alias("n_dup_docs"))
    )
    return (
        pairs.join(docs, "threshold")
        .select(F.round("threshold", 2).alias("threshold"), "n_pairs", "n_dup_docs", "sum_j_e4")
        .orderBy("threshold")
    )


def q56_cross_source_leakage(spark, sf_dir):
    """Cross-source near-dup leakage matrix: verified >=0.7-jaccard
    pairs bucketed by the (unordered) source pair -- the table that
    shows which corpus sources duplicate INTO each other (train/eval
    contamination risk, redundant-crawl detection).  Reuses the scored
    edges from one pipeline pass; the (doc_id -> source) dim is tiny
    relative to the corpus and is broadcast to both sides of the pair
    join, so the only shuffle is the final 2-key agg."""
    res = documents_dedup_result(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "source"
    )
    e = (
        res.edges.select("a", "b")
        .join(F.broadcast(src.withColumnRenamed("source", "sa")), F.col("a") == F.col("id"))
        .drop("id")
        .join(F.broadcast(src.withColumnRenamed("source", "sb")), F.col("b") == F.col("id"))
        .drop("id")
    )
    return (
        e.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


def q57_agent_loop_detection(spark, sf_dir):
    """Agent-loop detector over the transcript shape: conversations
    where the same (role, text) turn repeats consecutively (a stuck
    tool-retry loop).  Loops are planted deterministically from driver
    data -- convs with conv_id % 11 == 0 get turns 2..5 overwritten
    with one constant assistant retry line, the SAME rewrite the DuckDB
    oracle applies -- then operators/curation.agent_loop_scores runs
    conv-partitioned windows over (role|md5(text)) rows: state bounded
    by the longest conversation, never the corpus."""
    from ..operators.curation import agent_loop_scores

    t = transcripts_from_documents(spark, sf_dir)
    cid = F.col("conv_id").cast("long")
    looped = (cid % 11 == 0) & F.col("turn_idx").between(2, 5)
    planted = t.select(
        "conv_id",
        "turn_idx",
        F.when(looped, F.lit("assistant")).otherwise(F.col("role")).alias("role"),
        F.when(looped, F.lit("i will retry the same action now"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return agent_loop_scores(planted).orderBy("conv_id")


def q58_transcript_structure_audit(spark, sf_dir):
    """Structural validation of transcript conversations (the gate
    BEFORE dedup: malformed turn order poisons shingling silently).
    Corruption is planted deterministically from the rows themselves --
    (conv*31+idx) % 13 == 0 turns dropped (index gaps), (conv+idx) %
    17 == 0 roles forced to 'user' (alternation violations), (conv+idx)
    % 19 == 0 texts blanked -- and the oracle replays the identical
    plant.  operators/curation.structure_audit: one conv-partitioned
    window + one map-side-combined groupBy, no UDFs."""
    from ..operators.curation import structure_audit

    t = transcripts_from_documents(spark, sf_dir)
    cid = F.col("conv_id").cast("long")
    idx = F.col("turn_idx")
    planted = t.where((cid * 31 + idx) % 13 != 0).select(
        "conv_id",
        "turn_idx",
        F.when((cid + idx) % 17 == 0, F.lit("user")).otherwise(F.col("role")).alias("role"),
        F.when((cid + idx) % 19 == 0, F.lit("")).otherwise(F.col("text")).alias("text"),
    )
    return structure_audit(planted).orderBy("conv_id")


def q59_tool_latency(spark, sf_dir):
    """Tool-call analytics over the transcript shape (the role/tool/ts
    columns of the contract schema): per planted tool, call volume,
    distinct conversations, and EXACT interpolated p50/p95 of the
    latency between a tool-bearing assistant turn and the next turn.
    Tool names and timestamp jitter are planted deterministically from
    the rows themselves (the oracle replays both).  One conv-partitioned
    lead() window + one groupBy; percentile() is Spark's exact
    interpolated definition, which is DuckDB's quantile_cont."""
    t = transcripts_from_documents(spark, sf_dir)
    cid = F.col("conv_id").cast("long")
    idx = F.col("turn_idx")
    has_tool = (F.col("role") == "assistant") & ((cid + idx) % 5 == 0)
    tool = F.when(
        has_tool,
        F.element_at(
            F.array(F.lit("search"), F.lit("python"), F.lit("browser")),
            F.pmod(cid + idx, F.lit(3)).cast("int") + 1,
        ),
    )
    jitter = F.make_interval(secs=F.pmod(cid * 31 + idx, F.lit(9)).cast("double"))
    planted = t.select(
        "conv_id", "turn_idx", tool.alias("tool"), (F.col("ts") + jitter).alias("ts")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lat = planted.withColumn(
        "latency_s",
        (F.lead("ts").over(w).cast("double") - F.col("ts").cast("double")),
    ).where(F.col("tool").isNotNull() & F.col("latency_s").isNotNull())
    return (
        lat.groupBy("tool")
        .agg(
            F.count("*").alias("n_calls"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.round(F.expr("percentile(latency_s, 0.5)"), 4).alias("p50_latency_s"),
            F.round(F.expr("percentile(latency_s, 0.95)"), 4).alias("p95_latency_s"),
            F.round(F.avg("latency_s"), 4).alias("avg_latency_s"),
        )
        .orderBy("tool")
    )


def q60_temperature_mix(spark, sf_dir):
    """Temperature-based source mixing (n^alpha allocation, alpha=0.5,
    20% global budget): the per-source accept rates and realized sample
    counts a pre-training mix job would apply.  Rates are rounded to
    6dp on BOTH engines before the u01 accept gate, so normalizer
    float-sum ULP drift can never flip a decision (same determinism
    discipline as the portable sampling family)."""
    from ..operators.curation import temperature_mix

    d = _t(spark, sf_dir, "documents")
    return temperature_mix(d, budget_frac=0.2, alpha=0.5).orderBy("source")


def q61_cluster_cohesion(spark, sf_dir):
    """Per-cluster cohesion diagnostics for the dedup clusters: size,
    verified-edge count, edge density, and the weakest/average edge
    jaccard (integer e4 sums so hashes cannot float-drift).  This is
    the chain-linking detector: transitive closure happily merges A-B-C
    where jaccard(A,C) < threshold, and a cluster whose min edge rides
    the threshold with density << 1 is a chain, not a clique -- the
    diagnostic a curation operator reads before trusting keeper
    removal on a mega-cluster.  One pipeline pass; edges are labeled by
    a broadcast join against the (conv_id, cluster_id) map and reduced
    per cluster -- nothing corpus-scaled shuffles beyond the pipeline
    itself."""
    res = documents_dedup_result(spark, sf_dir)
    lab = res.clusters.select(F.col("conv_id").alias("a"), "cluster_id")
    e = res.edges.select("a", "b", F.round(F.col("jaccard") * 10000).cast("long").alias("j_e4"))
    edges_labeled = e.join(F.broadcast(lab), "a")
    per_edge = edges_labeled.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_edges"),
        F.min("j_e4").alias("min_j_e4"),
        F.sum("j_e4").alias("sum_j_e4"),
    )
    sizes = (
        res.clusters.groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("cluster_size"))
        .where(F.col("cluster_size") > 1)
    )
    return (
        sizes.join(per_edge, "cluster_id")
        .select(
            "cluster_id",
            "cluster_size",
            "n_edges",
            F.round(
                F.col("n_edges")
                / (F.col("cluster_size") * (F.col("cluster_size") - 1) / 2.0),
                4,
            ).alias("edge_density"),
            "min_j_e4",
            "sum_j_e4",
        )
        .orderBy("cluster_id")
    )


def q62_temporal_leakage(spark, sf_dir):
    """Temporal near-dup leakage: verified >=0.7-jaccard pairs bucketed
    by the day distance between the two conversations' start timestamps
    (same_day = retry/duplicate ingest; within_week = recrawl;
    later = long-range template reuse).  The ts policy question a
    dedup-window operator answers before deciding how much history each
    incremental batch must be banded against.  Conv start days reduce
    to a narrow (conv_id, day) dim broadcast onto the pair list; integer
    day-diff sums keep the hash float-free."""
    res = documents_dedup_result(spark, sf_dir)
    t = transcripts_from_documents(spark, sf_dir)
    days = t.groupBy("conv_id").agg(F.to_date(F.min("ts")).alias("day"))
    e = (
        res.edges.select("a", "b")
        .join(
            F.broadcast(days.select(F.col("conv_id").alias("a"), F.col("day").alias("day_a"))),
            "a",
        )
        .join(
            F.broadcast(days.select(F.col("conv_id").alias("b"), F.col("day").alias("day_b"))),
            "b",
        )
        .withColumn("day_diff", F.abs(F.datediff("day_a", "day_b")).cast("long"))
    )
    bucket = (
        F.when(F.col("day_diff") == 0, "same_day")
        .when(F.col("day_diff") <= 7, "within_week")
        .otherwise("later")
    )
    return (
        e.groupBy(bucket.alias("window"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("day_diff").alias("sum_day_diff"),
            F.max("day_diff").alias("max_day_diff"),
        )
        .orderBy("window")
    )


def q66_cluster_safe_split(spark, sf_dir):
    """Leakage-safe train/eval split (operators/curation.
    cluster_safe_split): near-dup clusters are the atomic split unit, so
    no verified dup pair can straddle train and eval -- the q39/q56
    contamination this split makes impossible by construction.  The
    split draw is the portable u01 hash of the cluster label (the same
    label q24 hash-proves against the exact closure), so the DuckDB
    oracle replays the assignment bit-identically.  One pipeline pass
    (memoized) + one doc-id join."""
    from ..operators.curation import cluster_safe_split

    res = documents_dedup_result(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    return cluster_safe_split(d, res.clusters, eval_frac=0.1).orderBy("conv_id")


def q67_containment_dedup(spark, sf_dir):
    """Asymmetric near-superset detection (operators/dedup.
    containment_pairs): containment |A∩B| / min(|A|,|B|) >= 0.9 over
    distinct word 3-grams catches a short doc pasted inside a longer
    one, which jaccard-LSH structurally misses (jaccard ~ |A|/|B|).
    Containers are planted deterministically from the table itself --
    every doc_id % 23 == 0 gets a shadow doc (id + 10^6) whose text is
    its own text concatenated with the NEXT doc's text, the identical
    plant the oracle replays -- so the query proves the operator finds
    exactly the planted containments plus the corpus's own near-dup
    families.  Inverted-index join, not a cartesian; df_cap is the
    at-scale skew guard (exercised in tests, off here so the oracle is
    exact)."""
    from ..operators.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    nxt = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("next_text")
    )
    containers = (
        d.where(F.col("doc_id") % 23 == 0)
        .join(nxt, "doc_id")
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat_ws(" ", "text", "next_text").alias("text"),
        )
    )
    planted = d.unionByName(containers)
    return containment_pairs(planted, threshold=0.9).orderBy("contained", "container")


def q68_token_budget_select(spark, sf_dir):
    """Quality-greedy selection under a global token budget (operators/
    curation.token_budget_select): the "best 25% of tokens" cut a
    fixed-budget training run makes after gating.  The plan never runs
    a global-order window: quality rounds to 4dp, per-bucket totals
    prefix-sum in a <=10^4-row window, whole under-budget buckets admit
    wholesale, and only the single boundary bucket runs a per-doc
    running sum -- doc-for-doc equal to the naive global window the
    oracle replays."""
    from ..operators.curation import token_budget_select

    d = _t(spark, sf_dir, "documents")
    return token_budget_select(d, budget_frac=0.25).orderBy(
        F.col("quality").desc(), "doc_id"
    )


def q69_chunk_documents(spark, sf_dir):
    """Overlapping fixed-token chunking for embedding/RAG prep
    (operators/curation.chunk_documents): 64-token windows every 48
    tokens, final window covers the tail, chunk text reassembled from
    the normalized tokens.  Pure per-row explode -- zero shuffle until
    a consumer aggregates; the oracle replays the identical stride
    arithmetic and list slicing."""
    from ..operators.curation import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=64, stride=48).orderBy("doc_id", "chunk_idx")


def q70_retract_dedup(spark, sf_dir):
    """Retraction (plans/retract.retract_convs): remove every doc with
    doc_id % 13 == 0 from the ACCUMULATED dedup state -- the
    source-pulled / GDPR-erasure ops path -- and return the surviving
    cluster assignment.  Only clusters containing a removed doc are
    re-solved (surviving edges of the affected subgraph; splits and
    singleton wakes handled); every other label passes through
    untouched.  The oracle recomputes the exact >=0.7-jaccard transitive
    closure over the FILTERED corpus from scratch, so a hash match
    proves retract == full recompute on driver data (the uncapped-regime
    equality contract in plans/retract.py)."""
    from .retract import retract_convs

    res = documents_dedup_result(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    rm = d.where(F.col("doc_id") % 13 == 0).select(
        F.col("doc_id").cast("string").alias("conv_id")
    )
    _, _, clusters2 = retract_convs(res.conv_state, res.edges, res.clusters, rm)
    return clusters2.orderBy("conv_id")


def q71_cross_corpus_decontam(spark, sf_dir):
    """Signature-level decontamination BETWEEN corpora (plans/pipeline.
    cross_corpus_near_dups): documents split train/eval on doc_id % 17,
    then every verified cross-side near-dup pair at the pipeline's 0.7
    jaccard threshold -- the paraphrase-contamination check q39's exact
    n-gram overlap cannot make.  Train side banded once, eval band rows
    broadcast, exact-jaccard verify; the oracle replays ALL >=0.7 pairs
    between the two sides exactly, so a hash match proves cross-corpus
    recall 1.0 on driver data (same banding as q24, which is
    hash-proven recall 1.0 on this corpus)."""
    from .pipeline import cross_corpus_near_dups

    cfg = PipelineConfig(shingle=ShingleConfig(k=3))
    t = transcripts_from_documents(spark, sf_dir)
    is_eval = F.col("conv_id").cast("long") % 17 == 0
    pairs = cross_corpus_near_dups(t.where(~is_eval), t.where(is_eval), cfg)
    return pairs.select(
        "train_conv_id",
        "eval_conv_id",
        F.round("jaccard", 4).alias("jaccard"),
    ).orderBy("train_conv_id", "eval_conv_id")


def q72_dedup_impact_by_source(spark, sf_dir):
    """Per-source dedup impact report (the diagnostic a curation team
    reads after q38's keeper policy): for each source, how many docs and
    tokens the near-dup removal keeps vs drops.  Composes the memoized
    q24 pipeline pass + q38's exact keeper rule (rounded quality argmax,
    ties by id) + q20's token counts, then ONE map-side-combined
    per-source agg -- at 100 TB the only added cost over q38 is that
    final small reduce.  The oracle replays the exact closure + the same
    keeper + the same rollup."""
    from pyspark.sql import Window

    res = documents_dedup_result(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        "source",
        TXT.token_count(F.col("text")).alias("n_tokens"),
        F.round(TXT.quality_score(F.col("text")), 4).alias("quality"),
    )
    m = res.clusters.join(d, "conv_id")
    m = m.withColumn("sz", F.count("*").over(Window.partitionBy("cluster_id")))
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), "conv_id")
    m = m.withColumn(
        "dropped", (F.col("sz") > 1) & (F.row_number().over(w) > 1)
    )
    return (
        m.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("dropped").cast("long")).cast("long").alias("n_dropped"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum(F.when(~F.col("dropped"), F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tokens_kept"),
        )
        .withColumn("drop_rate", F.round(F.col("n_dropped") / F.col("n_docs"), 4))
        .orderBy("source")
    )


def q73_decontam_removal_verdict(spark, sf_dir):
    """The actionable half of q71: which TRAIN documents must be removed
    because they near-duplicate an eval-suite document, with the
    strongest offending eval match as evidence.  One small agg over the
    q71 pair list (eval-scaled by construction) -- the removal join
    against the corpus is a broadcast anti-join at 100 TB."""
    from .pipeline import cross_corpus_near_dups

    cfg = PipelineConfig(shingle=ShingleConfig(k=3))
    t = transcripts_from_documents(spark, sf_dir)
    is_eval = F.col("conv_id").cast("long") % 17 == 0
    pairs = cross_corpus_near_dups(t.where(~is_eval), t.where(is_eval), cfg)
    return (
        pairs.groupBy("train_conv_id")
        .agg(
            F.count("*").cast("long").alias("n_eval_matches"),
            F.round(F.max("jaccard"), 4).alias("max_jaccard"),
            F.min(
                F.struct((-F.round("jaccard", 4)).alias("nj"), "eval_conv_id")
            )["eval_conv_id"].alias("worst_eval_conv"),
        )
        .orderBy("train_conv_id")
    )


def q74_boilerplate_ngrams(spark, sf_dir):
    """Corpus-level boilerplate report: the 8-grams shared by the most
    DOCUMENTS (distinct per doc, so a gram looping inside one doc can't
    fake corpus-wide spread), with total occurrence counts as evidence.
    The cross-doc companion to q40's intra-doc repetition gate -- this
    is how a curation team finds the license header / chatbot preamble
    to strip.  Shape at 100 TB: explode distinct grams (O(tokens) narrow
    rows), ONE map-side-combined count agg, then a bounded top-k sort --
    no window over the exploded rows, no join."""
    from ..functions.portable import word_grams_all

    d = _t(spark, sf_dir, "documents")
    toks = TXT.tokens(F.col("text"))
    allg = d.select("doc_id", F.explode(word_grams_all(toks, 8)).alias("gram"))
    return (
        allg.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 3)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), "gram")
        .limit(20)
    )


def q75_semantic_cross_decontam(spark, sf_dir):
    """Semantic (embedding-space) cross-corpus decontamination
    (operators/similarity.cross_corpus_embedding_near_dups): embeddings
    split train/eval on vec_id % 7, then every cross-side pair at
    cosine >= 0.4 the sign-LSH multi-probe banding surfaces -- catches
    re-worded leaks q71's shingle jaccard cannot.  Train side bucketized
    + capped once, eval probes broadcast; the oracle replays planes,
    quantization, caps, probes, and rerank bit-identically (q33's
    scaffolding restricted per side)."""
    from ..operators.similarity import cross_corpus_embedding_near_dups

    e = _t(spark, sf_dir, "embeddings")
    is_eval = F.col("vec_id") % 7 == 0
    pairs = cross_corpus_embedding_near_dups(
        e.where(~is_eval), e.where(is_eval),
        threshold=0.4, n_tables=24, n_bits=6, bucket_cap=128, probe_radius=1,
    )
    return pairs.select(
        F.col("a").alias("train_vec_id"),
        F.col("b").alias("eval_vec_id"),
        F.round("cosine", 4).alias("cosine"),
    ).orderBy("train_vec_id", "eval_vec_id")


def _c4_planted_pages(d):
    """Deterministic multi-line web-ish pages built from each document's
    own columns (the q54 planting pattern): every C4 rule is exercised
    on a doc_id-arithmetic schedule the DuckDB oracle rebuilds
    byte-identically.  The raw corpus has no newlines, so planting is
    what gives the oracle discriminative power over every rule."""
    did = F.col("doc_id")
    page = F.concat(
        F.lit("The quick brown fox jumps over the lazy dog near "),
        F.col("source"),
        F.lit("."),
        F.when(did % 3 == 0, F.lit("\nenable javascript to view this content properly today.")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("\ntoo short line.")).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit("\nthis website uses cookies and has a privacy policy.")).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit("\nlorem ipsum dolor sit amet consectetur adipiscing elit.")).otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit("\nfunction f() { return 1; }")).otherwise(F.lit("")),
        F.when(did % 2 == 0, F.lit("\nHere is another well formed sentence for the corpus.")).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit("\nAnd a third complete sentence closes the page nicely.")).otherwise(F.lit("")),
        F.lit("\n"),
        F.substring(F.col("text"), 1, 100),
    )
    return d.select("doc_id", "source", page.alias("text"))


def q76_c4_filters(spark, sf_dir):
    """C4 web-text cleaning rules (Raffel et al. 2020 SS2.2) per source:
    line-level keeps (terminal punctuation, >= 5 words, no javascript /
    policy boilerplate) and page-level drops (< 3 sentences after line
    filtering, lorem ipsum, curly brace).  One scan + one codegen'd
    struct projection + one per-source agg -- map-side-combined at
    100 TB, no extra shuffle.  Complements q53's Gopher gates."""
    d = _t(spark, sf_dir, "documents")
    g = _c4_planted_pages(d).select("source", TXT.c4_flags(F.col("text")).alias("c"))
    return (
        g.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("c.passes_c4").cast("long")).alias("n_pass"),
            F.sum((F.col("c.n_sentences") < 3).cast("long")).alias("n_fail_sentences"),
            F.sum(F.col("c.has_lorem_ipsum").cast("long")).alias("n_lorem"),
            F.sum(F.col("c.has_curly_brace").cast("long")).alias("n_brace"),
            F.sum("c.n_lines").alias("sum_lines"),
            F.sum("c.n_kept_lines").alias("sum_kept_lines"),
            F.round(F.avg("c.kept_line_frac"), 4).alias("avg_kept_frac"),
            F.round(F.avg("c.n_sentences"), 4).alias("avg_sentences"),
        )
        .orderBy("source")
    )


def q77_duplicate_chunks(spark, sf_dir):
    """Chunk-level dedup for RAG / embedding prep: after q69's
    overlapping 64-token chunking, which chunks recur across >= 2
    distinct documents, rolled up per doc (n_chunks, duplicated chunks,
    dup fraction).  The spread agg and the flag join both key on
    md5(chunk_text) -- a narrow 32-hex key shuffles, never the 64-token
    string -- and the join is the canonical big-big equi-join AQE
    handles; no window over a global order anywhere.  The oracle groups
    by chunk_text itself: identical equivalence classes, so the doc
    rollups hash-match."""
    from ..operators.curation import chunk_documents

    d = _t(spark, sf_dir, "documents")
    ch = chunk_documents(d, chunk_tokens=64, stride=48).select(
        "doc_id", F.md5(F.col("chunk_text")).alias("fp")
    )
    spread = ch.groupBy("fp").agg(F.count_distinct("doc_id").alias("nd"))
    flagged = ch.join(spread, "fp").select(
        "doc_id", (F.col("nd") >= 2).cast("long").alias("is_dup")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("is_dup").alias("n_dup_chunks"),
            F.round(F.sum("is_dup") / F.count("*"), 4).alias("dup_chunk_frac"),
        )
        .orderBy("doc_id")
    )


def q78_encoding_hygiene(spark, sf_dir):
    """Encoding-hygiene gate (mojibake detection): U+FFFD replacement
    characters and stray C0 control bytes per document, rolled up per
    source.  Bad bytes are planted deterministically (doc_id % 9 gets
    replacement chars, % 10 a BEL control -- the oracle rebuilds the
    same corruption), then one codegen'd struct projection + one
    map-side-combined agg.  The gate real crawl pipelines run before
    any tokenizer sees the bytes."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    corrupted = F.concat(
        F.col("text"),
        F.when(did % 9 == 0, F.lit("�� broken decode �")).otherwise(F.lit("")),
        F.when(did % 10 == 0, F.lit("\x07\x07 raw control bytes")).otherwise(F.lit("")),
    )
    g = d.select("source", TXT.encoding_flags(corrupted).alias("e"))
    return (
        g.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((~F.col("e.passes_encoding")).cast("long")).alias("n_fail"),
            F.sum("e.n_replacement").alias("sum_replacement"),
            F.sum("e.n_control").alias("sum_control"),
            F.round(F.avg("e.replacement_frac"), 4).alias("avg_repl_frac"),
            F.round(F.avg("e.control_frac"), 4).alias("avg_ctrl_frac"),
        )
        .orderBy("source")
    )


def q79_vocabulary_profile(spark, sf_dir):
    """Per-source vocabulary profile (Heap's-law corpus profiling):
    exact vocabulary size, type-token ratio, and hapax-legomena rate.
    The (source, token) counts are ONE partial-aggregated shuffle --
    Catalyst's two-level distinct agg -- and the per-source rollup plus
    the 20-row docs dim are broadcast-sized.  At 100 TB the exact tier
    is the heavy-but-canonical shape; the sketched alternative is
    hll_sketch_agg over tokens (q15's machinery), traded here for
    oracle-exact replay."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(TXT.tokens(F.col("text"))).alias("tok"))
    tc = tok.groupBy("source", "tok").agg(F.count("*").alias("c"))
    prof = tc.groupBy("source").agg(
        F.sum("c").alias("total_tokens"),
        F.count("*").alias("vocab_size"),
        F.sum((F.col("c") == 1).cast("long")).alias("hapax_count"),
    )
    n_docs = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    return (
        prof.join(F.broadcast(n_docs), "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "vocab_size",
            "hapax_count",
            F.round(F.col("vocab_size") / F.col("total_tokens"), 4).alias("ttr"),
            F.round(F.col("hapax_count") / F.col("vocab_size"), 4).alias("hapax_frac"),
        )
        .orderBy("source")
    )


def q80_incremental_semantic_dedup(spark, sf_dir):
    """Round-5: q45's semantic dedup computed INCREMENTALLY -- the
    embedding-side accumulator (plans/semantic_index.py).  Embeddings
    split ~90/10 on vec_id % 10; the 90% corpus bootstraps the persisted
    embedding-LSH index and its labeling, then the 10% batch probes the
    index (codes UDF on the batch only, broadcast touched buckets,
    combined cap with the full run's exact member order, symmetric-ball
    direction recovery) and folds its pairs in via delta connected
    components.  Must hash-match q45's FULL-corpus oracle -- proving
    incremental == full recompute on driver data at the q45 config
    (sf0.01 buckets stay under cap 128, the exact-equivalence regime)."""
    import shutil
    import tempfile

    from ..operators.components import attach_singletons, connected_components
    from ..operators.similarity import embedding_near_dup_pairs
    from . import semantic_index as SI

    e = _t(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 10 == 0
    old, batch = e.where(~is_new), e.where(is_new)
    params = dict(threshold=0.4, n_tables=24, n_bits=6, bucket_cap=128, probe_radius=1)

    old_edges = embedding_near_dup_pairs(old, **params).select("a", "b")
    old_labels = attach_singletons(
        connected_components(old_edges), old.select(F.col("vec_id").alias("conv_id"))
    )
    wd = tempfile.mkdtemp(prefix="q80_embidx_")
    try:
        SI.write_embedding_index(old, wd)
        idx = SI.read_embedding_index(spark, wd)
        new_pairs = SI.incremental_embedding_pairs(idx, batch, e, **params)
        return (
            SI.incremental_semantic_dedup(old_labels, new_pairs, batch.select("vec_id"))
            .orderBy("cluster_id", "vec_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def q81_retract_semantic_dedup(spark, sf_dir):
    """The semantic accumulator's delete half under the full-recompute
    oracle: standing state (labels + verified cosine edges over ALL
    embeddings) retracts vec_id % 13 == 0, and the result must equal
    q45's pipeline run over the survivors -- chain-link removals split
    clusters exactly as a recompute would, untouched labels pass through
    verbatim (plans/semantic_index.retract_semantic).  Blast radius at
    100 TB: broadcast anti-joins on the edge set + CC over affected
    clusters' surviving edges only."""
    from ..operators.components import attach_singletons, connected_components
    from ..operators.similarity import embedding_near_dup_pairs
    from . import semantic_index as SI

    e = _t(spark, sf_dir, "embeddings")
    params = dict(threshold=0.4, n_tables=24, n_bits=6, bucket_cap=128, probe_radius=1)
    edges = embedding_near_dup_pairs(e, **params)
    labels = attach_singletons(
        connected_components(edges.select("a", "b")),
        e.select(F.col("vec_id").alias("conv_id")),
    ).select(F.col("conv_id").alias("vec_id"), "cluster_id")
    removed = e.select("vec_id").where(F.col("vec_id") % 13 == 0)
    _, labels2 = SI.retract_semantic(labels, edges, removed)
    return SI.clusters_view(labels2).orderBy("cluster_id", "vec_id")


def q82_bloom_seen_filter(spark, sf_dir):
    """Bloom-gated exact-dedup membership: "has this exact (normalized)
    text been ingested before?" answered for a daily batch WITHOUT
    joining the batch against the historical fingerprint table.  Corpus
    = documents with doc_id % 5 != 0; the batch is the % 5 == 0 docs
    plus a deterministic re-crawl plant (base docs with doc_id % 10 == 1
    arrive again under fresh ids -- retries/recrawls, the case this gate
    exists for).  The per-bucket Bloom index (plans/bloom_index) is
    built over the base once; the batch probes it cogrouped by bucket
    and only maybe-seen survivors reach the exact verify join, so the
    answer is EXACT (no false negatives by construction, false
    positives killed by verify) and the oracle is a plain semi-join.
    At 10^12 turns the index is the broadcast-sized accumulator state;
    the per-batch cost is O(batch) hashing + a survivor-sized join."""
    from .bloom_index import BloomConfig, build_bloom_index, seen_filter

    d = _t(spark, sf_dir, "documents")
    norm = F.concat_ws(" ", TXT.tokens(F.col("text")))
    fps = d.select("doc_id", F.md5(norm).alias("fp"))
    base = fps.where(F.col("doc_id") % 5 != 0)
    batch = fps.where(F.col("doc_id") % 5 == 0).unionAll(
        fps.where(F.col("doc_id") % 10 == 1).select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "fp"
        )
    )
    cfg = BloomConfig()
    idx = build_bloom_index(base, "fp", cfg)
    out = seen_filter(
        idx, base, batch.select(F.col("doc_id").cast("string").alias("id"), "fp"), cfg=cfg
    )
    return out.select(
        F.col("id").cast("long").alias("doc_id"), "seen_before"
    ).orderBy("doc_id")


def q83_absorb_impact_report(spark, sf_dir):
    """Cluster-drift report after a daily absorb -- the monitoring view
    an ops team reads after each incremental_dedup run: for every final
    near-dup cluster (size >= 2), how many docs are new, how many OLD
    clusters merged into it, and a verdict (new / grown / merged /
    stable).  'merged' is the alarm: a batch doc bridged two previously
    separate clusters, exactly the chain-link risk q61 scores.  The
    split is doc_id % 5 (oracle-replayable); old labels come from the
    base-only closure, final labels from the whole-corpus closure --
    engine-side both label sets are one memoized pipeline pass each,
    and the classification itself is a broadcast-sized label join."""
    res = documents_dedup_result(spark, sf_dir)
    old = documents_dedup_result(spark, sf_dir, subset="mod5base")
    is_new = F.pmod(F.col("conv_id").cast("long"), F.lit(5)) == 0
    members = res.clusters.withColumn("is_new", is_new)
    sz = members.groupBy("cluster_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("is_new").cast("int")).cast("long").alias("n_new"),
    ).where(F.col("n_docs") > 1)
    old_parts = (
        members.where(~F.col("is_new"))
        .join(old.clusters.withColumnRenamed("cluster_id", "old_cluster"), "conv_id")
        .groupBy("cluster_id")
        .agg(F.countDistinct("old_cluster").alias("n_old_parts"))
    )
    return (
        sz.join(old_parts, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_docs",
            "n_new",
            F.coalesce("n_old_parts", F.lit(0)).alias("n_old_parts"),
            F.when(F.col("n_new") == F.col("n_docs"), F.lit("new"))
            .when(F.coalesce("n_old_parts", F.lit(0)) > 1, F.lit("merged"))
            .when(F.col("n_new") > 0, F.lit("grown"))
            .otherwise(F.lit("stable"))
            .alias("verdict"),
        )
        .orderBy("cluster_id")
    )


# q84's self-join is O(size^2) per cluster; the cap bounds the worst
# mega-cluster (drops are observable: capped clusters simply have no
# row, and q24's summary says which clusters exceed the cap).
DIAMETER_CAP = 64


def q84_cluster_diameter_audit(spark, sf_dir):
    """Cluster PURITY audit over ALL intra-cluster pairs -- q61 scores
    only the verified LSH edges (the spanning evidence); this measures
    the transitive drift those edges imply: exact 3-gram jaccard for
    every member pair of every cluster (size 2..DIAMETER_CAP), so a
    chain cluster whose endpoints share almost nothing shows up as
    min_j_e4 near 0 even when every EDGE cleared 0.7.  The member join
    is broadcast-sized (labels x grams); the pair explosion is bounded
    by the size cap, which the oracle replays.  Integer j_e4 keeps the
    hash float-drift-proof (q55's convention)."""
    from ..functions.portable import word_grams

    res = documents_dedup_result(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        word_grams(TXT.tokens(F.col("text")), 3).alias("grams"),
    )
    members = res.clusters.join(d, "conv_id")
    sized = members.withColumn(
        "sz", F.count("*").over(Window.partitionBy("cluster_id"))
    ).where((F.col("sz") >= 2) & (F.col("sz") <= DIAMETER_CAP))
    a = sized.select("cluster_id", F.col("conv_id").alias("a"), F.col("grams").alias("ga"), "sz")
    b = sized.select("cluster_id", F.col("conv_id").alias("b"), F.col("grams").alias("gb"))
    pairs = a.join(b, "cluster_id").where(F.col("a") < F.col("b"))
    inter = F.size(F.array_intersect("ga", "gb"))
    uni = F.size("ga") + F.size("gb") - inter
    j_e4 = F.round(inter / uni * 10000).cast("long")
    return (
        pairs.select("cluster_id", F.col("sz").cast("long").alias("n_members"), j_e4.alias("j_e4"))
        .groupBy("cluster_id", "n_members")
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("j_e4").alias("min_j_e4"),
            F.sum("j_e4").alias("sum_j_e4"),
        )
        .orderBy("cluster_id")
    )


def q85_sessionize(spark, sf_dir):
    """Sessionization of agent transcripts: split each conversation into
    sessions at inactivity gaps > 30 min -- the pre-processing step that
    decides what a 'training example' even is for long-running agent
    logs.  Gaps are planted deterministically (every (cid*17+idx) % 7 ==
    0 turn past the first opens one after a 45-min pause, shifting ALL
    later turns so ts stays monotone -- the oracle replays the shift
    arithmetic).  One conv-partitioned window chain: cumulative shift ->
    lag diff -> boundary flag -> running session id -> per-session
    sizes; per conv we report n_sessions and the largest/mean session.
    At 100 TB this is one narrow shuffle by conv_id, state bounded by
    the longest conversation (same contract as agent_loop_scores)."""
    t = transcripts_from_documents(spark, sf_dir)
    cid = F.col("conv_id").cast("long")
    idx = F.col("turn_idx")
    is_gap = (F.pmod(cid * 17 + idx, F.lit(7)) == 0) & (idx > 0)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    shifted = t.select(
        "conv_id", "turn_idx",
        (
            F.col("ts").cast("double")
            + F.sum(is_gap.cast("int")).over(w) * F.lit(2700.0)
        ).alias("ts2"),
    )
    bounded = shifted.withColumn(
        "new_sess",
        (F.col("ts2") - F.lag("ts2").over(w) > 1800.0).cast("int"),
    ).withColumn(
        "session_id", F.coalesce(F.sum("new_sess").over(w), F.lit(0)) + F.lit(1)
    )
    sess = bounded.groupBy("conv_id", "session_id").agg(F.count("*").alias("n_turns"))
    return (
        sess.groupBy("conv_id")
        .agg(
            F.sum("n_turns").alias("total_turns"),
            F.max("session_id").cast("long").alias("n_sessions"),
            F.max("n_turns").alias("max_session_turns"),
            F.round(F.avg("n_turns"), 4).alias("avg_session_turns"),
        )
        .orderBy(F.col("conv_id").cast("long"))
    )


def q86_role_transitions(spark, sf_dir):
    """Role-transition profile per source: the (from_role -> to_role)
    matrix of the user/assistant/tool state machine, with share-of-
    source as integer e4 -- the fingerprint that separates chat-shaped
    sources from agent-loop-shaped ones before mixing.  Tool turns are
    planted on the contract's role column deterministically (every
    (cid+idx) % 11 == 0 assistant turn acted as a tool step; the oracle
    replays the plant).  One lead() window + one 3-key agg; the
    (conv -> source) dim is broadcast (q56's shape)."""
    t = transcripts_from_documents(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), "source"
    )
    cid = F.col("conv_id").cast("long")
    role3 = F.when(
        (F.col("role") == "assistant") & (F.pmod(cid + F.col("turn_idx"), F.lit(11)) == 0),
        F.lit("tool"),
    ).otherwise(F.col("role"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    steps = (
        t.select("conv_id", "turn_idx", role3.alias("from_role"))
        .withColumn("to_role", F.lead("from_role").over(w))
        .where(F.col("to_role").isNotNull())
        .join(F.broadcast(src), "conv_id")
    )
    tot = Window.partitionBy("source")
    return (
        steps.groupBy("source", "from_role", "to_role")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "share_e4",
            F.round(F.col("n") / F.sum("n").over(tot) * 10000).cast("long"),
        )
        .orderBy("source", "from_role", "to_role")
    )


def q87_shard_manifest(spark, sf_dir):
    """Training-data shard export manifest: the kept corpus laid out in
    the canonical lexicographic doc_id order and cut greedily into
    ~20k-token shards (a doc belongs to shard floor(tokens_before /
    target)); per shard we report docs, tokens, and the boundary ids --
    what a training loader consumes (operators/export.shard_assign).
    Deterministic by construction: same input => same membership at any
    parallelism.  At 100 TB the global running sum never becomes a
    global window: per-id-prefix bucket totals prefix-sum in one tiny
    window and broadcast back; per-doc cumsums run inside bucket-local
    window partitions."""
    from ..operators.export import shard_assign, shard_manifest

    d = _t(spark, sf_dir, "documents")
    return shard_manifest(shard_assign(d, target_tokens=20000))


def q88_source_overlap_matrix(spark, sf_dir):
    """Inter-source vocabulary-overlap matrix: exact word-trigram
    Jaccard between every pair of sources' distinct gram sets -- the
    mixing-table companion to q56's doc-level leakage matrix (how much
    raw n-gram mass two corpus sources share BEFORE any dedup removes
    it).  Plan: one distinct over narrow (source, gram) rows, then one
    gram-keyed grouping that collects the (tiny, bounded-by-#sources)
    source set per gram and double-explodes it into ordered pairs --
    a gram appearing in EVERY document still contributes at most
    S*(S-1)/2 pair rows, so hot grams cannot skew the shuffle the way
    a doc-level self-join would.  Per-source vocabulary sizes are a
    broadcast dim.  At 100 TB this is the same gram-keyed shuffle the
    dedup pipeline already pays, with an O(S^2) result."""
    from ..functions.portable import word_grams

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != "")
    g = d.select(
        F.col("source"), F.explode(word_grams(toks, 3)).alias("gram")
    ).distinct()
    sz = g.groupBy("source").agg(F.count("*").alias("n"))
    pairs = (
        g.groupBy("gram")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .select(F.explode("ss").alias("src_a"), F.col("ss"))
        .select("src_a", F.explode("ss").alias("src_b"))
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 4
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


def q89_vocab_growth(spark, sf_dir):
    """Vocabulary-growth / novelty curve over ingest batches (batch =
    floor(doc_id / 100), the ingest-day proxy): per batch, the distinct
    word-trigram count, how many of those grams are NEW (first seen in
    this batch), the cumulative vocabulary, and the novelty share in
    e4 -- the saturation signal a curation pipeline reads to decide
    whether a source is still contributing novel text or re-crawling
    itself (Heaps-law audit).  Plan: narrow (batch, gram) distinct +
    min(batch)-per-gram, both served by ONE gram-keyed shuffle; the
    rollup and the running vocabulary sum act on O(#batches) rows, so
    the unpartitioned window is over the tiny aggregate, never the
    corpus.  At 100 TB batch = ingest day; novelty per day is the
    metric the band/window/Bloom accumulators' absorb reports pair
    with."""
    from ..functions.portable import word_grams

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != "")
    e = d.select(
        F.floor(F.col("doc_id") / 100).cast("long").alias("batch"),
        F.explode(word_grams(toks, 3)).alias("gram"),
    ).distinct()
    per_batch = e.groupBy("batch").agg(F.count("*").alias("n_grams"))
    news = (
        e.groupBy("gram")
        .agg(F.min("batch").alias("batch"))
        .groupBy("batch")
        .agg(F.count("*").alias("n_new"))
    )
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_batch.join(news, "batch", "left")
        .withColumn("n_new", F.coalesce("n_new", F.lit(0)))
        .withColumn("cum_vocab", F.sum("n_new").over(w))
        .withColumn(
            "novelty_e4",
            F.round(F.col("n_new") / F.col("n_grams") * 10000).cast("long"),
        )
        .select("batch", "n_grams", "n_new", "cum_vocab", "novelty_e4")
        .orderBy("batch")
    )


def q90_tool_motifs(spark, sf_dir):
    """Tool-call sequence motifs per source: the frequent trigrams of
    consecutive tool invocations inside a conversation -- the
    agent-behavior fingerprint that tells a curation pipeline whether a
    source's agent loops explore (diverse motifs) or thrash (one motif
    dominating; q57's loop gate is the per-conv cousin of this corpus
    view).  Tool steps and names are planted deterministically from the
    rows themselves (every assistant turn acts as one tool step --
    dense enough that short transcripts still yield trigrams -- with
    names planted by (cid*7+idx) % 5; the oracle replays both).  Plan:
    filter FIRST to the assistant half, then one conv-partitioned
    lead() window over that subset, one broadcast (conv -> source)
    dim join, one 2-key agg; motif space is bounded (5^3 per source), so
    the final rollup is tiny at any corpus size."""
    t = transcripts_from_documents(spark, sf_dir)
    cid = F.col("conv_id").cast("long")
    idx = F.col("turn_idx")
    is_tool_step = F.col("role") == "assistant"
    tool = F.element_at(
        F.array(
            F.lit("browser"), F.lit("calc"), F.lit("python"), F.lit("search"), F.lit("sql")
        ),
        F.pmod(cid * 7 + idx, F.lit(5)).cast("int") + 1,
    )
    calls = t.where(is_tool_step).select("conv_id", "turn_idx", tool.alias("tool"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    motifs = (
        calls.withColumn("t2", F.lead("tool", 1).over(w))
        .withColumn("t3", F.lead("tool", 2).over(w))
        .where(F.col("t3").isNotNull())
        .select("conv_id", F.concat_ws(">", "tool", "t2", "t3").alias("motif"))
    )
    src = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), "source"
    )
    tot = Window.partitionBy("source")
    return (
        motifs.join(F.broadcast(src), "conv_id")
        .groupBy("source", "motif")
        .agg(F.count("*").alias("n"), F.countDistinct("conv_id").alias("n_convs"))
        .withColumn(
            "share_e4", F.round(F.col("n") / F.sum("n").over(tot) * 10000).cast("long")
        )
        .orderBy("source", "motif")
    )


def q91_dialog_balance(spark, sf_dir):
    """Per-source dialog balance profile: the distribution (exact
    interpolated p05/p50/p95, same percentile == quantile_cont contract
    as q59) of each conversation's assistant token share, plus average
    turn count -- the mixing-table signal that separates assistant-heavy
    sources (completions, monologues) from balanced chat before
    temperature mixing (q60) allocates budget.  Plan: one conv-keyed agg
    over narrow (conv, role, n_tok) rows, one broadcast source dim, one
    per-source agg; at 100 TB both aggs map-side combine and the only
    shuffle key is conv_id, which the transcript layout already
    clusters."""
    t = transcripts_from_documents(spark, sf_dir)
    n_tok = F.size(F.split(F.col("text"), " "))
    per_conv = (
        t.groupBy("conv_id")
        .agg(
            F.sum(F.when(F.col("role") == "assistant", n_tok).otherwise(F.lit(0))).alias(
                "asst_toks"
            ),
            F.sum(n_tok).alias("all_toks"),
            F.count("*").alias("n_turns"),
        )
        .withColumn("asst_share", F.col("asst_toks") / F.col("all_toks"))
    )
    src = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), "source"
    )
    return (
        per_conv.join(F.broadcast(src), "conv_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_convs"),
            F.round(F.expr("percentile(asst_share, 0.05)"), 4).alias("p05_asst_share"),
            F.round(F.expr("percentile(asst_share, 0.5)"), 4).alias("p50_asst_share"),
            F.round(F.expr("percentile(asst_share, 0.95)"), 4).alias("p95_asst_share"),
            F.round(F.avg("n_turns"), 4).alias("avg_turns"),
        )
        .orderBy("source")
    )


def q92_dedup_shard_manifest(spark, sf_dir):
    """End-to-end export composition: detection (q24's memoized
    signatures->LSH->verify->CC pass) -> removal policy (q38's
    highest-quality-keeper argmax) -> deterministic token-balanced
    shard layout (q87's bucket-decomposed cumsum) over the SURVIVING
    corpus only -- the manifest a training loader actually consumes
    after dedup, not the raw-corpus one.  The dropped set is the small
    side (non-keepers of multi-member clusters) and broadcasts into a
    left-anti join; everything downstream is q87's plan over fewer
    rows.  The oracle replays the exact closure + keeper + naive
    global-window shard math end to end."""
    from ..operators.export import shard_assign, shard_manifest

    dropped = (
        q38_cluster_keeper_policy(spark, sf_dir)
        .where(F.col("dropped"))
        .select(F.col("conv_id").alias("doc_id_s"))
    )
    d = _t(spark, sf_dir, "documents")
    survivors = d.join(
        F.broadcast(dropped),
        d["doc_id"].cast("string") == dropped["doc_id_s"],
        "left_anti",
    )
    return shard_manifest(shard_assign(survivors, target_tokens=20000))


def q93_embedding_hygiene(spark, sf_dir):
    """Embedding-hygiene gate: the audit a pipeline runs BEFORE any
    ANN / semantic-dedup stage trusts a vector column -- per label:
    vector count, dimension profile (a ragged dim breaks every LSH
    bucketer downstream), non-finite count (NaN/Inf poisons dot
    products silently), zero-norm count (cosine undefined), and the
    exact interpolated p05/p50/p95 of the L2 norm (collapsed or
    exploding norms flag a bad encoder run).  All native: one
    F.aggregate left-fold per row (no UDF), one map-side-combined agg.
    Norms fold in double after per-element double casts and round to
    6dp before the quantiles so Spark and the DuckDB oracle interpolate
    the IDENTICAL multiset (q30's cast contract)."""
    e = _t(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    bad = F.exists(
        "embedding", lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    v = e.select(
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sumsq), 6).alias("norm"),
        bad.alias("bad"),
    )
    return (
        v.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.countDistinct("dim").alias("n_dims"),
            F.min("dim").alias("dim_min"),
            F.max("dim").alias("dim_max"),
            F.sum(F.col("bad").cast("long")).alias("n_nonfinite"),
            F.sum((F.col("norm") < 1e-6).cast("long")).alias("n_zero_norm"),
            F.round(F.expr("percentile(norm, 0.05)"), 4).alias("p05_norm"),
            F.round(F.expr("percentile(norm, 0.5)"), 4).alias("p50_norm"),
            F.round(F.expr("percentile(norm, 0.95)"), 4).alias("p95_norm"),
        )
        .orderBy("label")
    )


def q94_dup_rate_timeseries(spark, sf_dir):
    """Near-dup ingest rate per day: for each conversation-start day, how
    many of that day's new conversations near-duplicate (verified
    >=0.7-jaccard edge) an EARLIER conversation -- the operational trend
    an ingest pipeline watches to catch a recrawl loop or an upstream
    retry storm the moment it starts, where q62 buckets pair AGE, this
    series answers "is today's batch dirtier than yesterday's".  A pair
    is oriented by numeric conv id (ts is monotone in id by
    construction, which the oracle replays); the later side counts once
    per conv.  Plan: the edge list is the small memoized q24 output; per
    -day totals are one agg over a narrow (conv, day) dim; the running
    sum is a window over O(#days) rows, never the corpus."""
    res = documents_dedup_result(spark, sf_dir)
    t = transcripts_from_documents(spark, sf_dir)
    days = t.groupBy("conv_id").agg(F.to_date(F.min("ts")).alias("day"))
    late = F.greatest(F.col("a").cast("long"), F.col("b").cast("long"))
    dup_convs = res.edges.select(late.cast("string").alias("conv_id")).distinct()
    per_day = days.groupBy("day").agg(F.count("*").alias("n_convs"))
    dup_day = (
        dup_convs.join(days, "conv_id").groupBy("day").agg(F.count("*").alias("n_dup"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.join(dup_day, "day", "left")
        .withColumn("n_dup_ingested", F.coalesce(F.col("n_dup"), F.lit(0)))
        .withColumn(
            "dup_rate_e4",
            F.round(F.col("n_dup_ingested") / F.col("n_convs") * 10000).cast("long"),
        )
        .withColumn("cum_dup", F.sum("n_dup_ingested").over(w))
        .select(
            F.col("day").cast("string").alias("day"),
            "n_convs",
            "n_dup_ingested",
            "dup_rate_e4",
            "cum_dup",
        )
        .orderBy("day")
    )


def q95_turn_position_dup_profile(spark, sf_dir):
    """Where inside conversations does boilerplate live: per relative-
    position decile (floor(turn_idx*10 / n_turns)), the count of turns
    whose EXACT text recurs in >= 2 distinct conversations (q50's
    template convention) -- opening-heavy template mass means system-
    prompt/greeting boilerplate, closing-heavy means sign-off templates,
    and the profile decides whether a turn-level dedup pass should be
    position-scoped.  Plan: one conv-partitioned count window for
    n_turns, one fp-keyed agg for the template dim, one fp-keyed join
    back, one bounded (10-row) rollup; at 100 TB the fp shuffle is the
    same key q50's template dedup already pays."""
    t = transcripts_from_documents(spark, sf_dir)
    n = Window.partitionBy("conv_id")
    turns = t.select(
        "conv_id", "turn_idx", F.md5(F.col("text")).alias("fp")
    ).withColumn("n_turns", F.count("*").over(n))
    tpl = turns.groupBy("fp").agg(F.countDistinct("conv_id").alias("n_convs_fp"))
    pos_decile = F.floor(F.col("turn_idx") * 10 / F.col("n_turns")).cast("long")
    return (
        turns.join(tpl, "fp")
        .groupBy(pos_decile.alias("pos_decile"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum((F.col("n_convs_fp") >= 2).cast("long")).alias("n_template_turns"),
        )
        .withColumn(
            "template_rate_e4",
            F.round(F.col("n_template_turns") / F.col("n_turns") * 10000).cast("long"),
        )
        .orderBy("pos_decile")
    )


def q96_prompt_response_divergence(spark, sf_dir):
    """Label-noise gate for instruction data: user prompts that recur
    across conversations, bucketed by how consistently the assistant
    answered them -- 'consistent' (one distinct response everywhere) is
    template traffic a dedup pass can safely collapse; 'all_distinct'
    (every use answered differently) is either healthy paraphrase
    diversity or contradictory supervision, the thing an SFT curator
    must eyeball before training on repeated prompts.  Plan: one conv-
    partitioned lead() pairs each user turn with its reply, one
    prompt-fp agg, one bounded (3-row) rollup; no joins at all."""
    t = transcripts_from_documents(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    paired = (
        t.withColumn("resp", F.lead("text", 1).over(w))
        .withColumn("resp_role", F.lead("role", 1).over(w))
        .where((F.col("role") == "user") & (F.col("resp_role") == "assistant"))
        .select(
            "conv_id",
            F.md5(F.col("text")).alias("pfp"),
            F.md5(F.col("resp")).alias("rfp"),
        )
    )
    g = (
        paired.groupBy("pfp")
        .agg(
            F.count("*").alias("n_uses"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.countDistinct("rfp").alias("n_resps"),
        )
        .where(F.col("n_convs") >= 2)
    )
    bucket = (
        F.when(F.col("n_resps") == 1, "consistent")
        .when(F.col("n_resps") < F.col("n_uses"), "partial")
        .otherwise("all_distinct")
    )
    return (
        g.groupBy(bucket.alias("divergence"))
        .agg(
            F.count("*").alias("n_prompts"),
            F.sum("n_uses").alias("n_uses"),
            F.max("n_resps").alias("max_distinct_resps"),
        )
        .orderBy("divergence")
    )


def q97_cross_source_substr_leakage(spark, sf_dir):
    """Verbatim-substring leakage matrix between sources: for every
    source pair, the count of distinct 8-token windows (ExactSubstr's
    unit, q47's normalization) present in BOTH, plus containment_e4 =
    shared / min(per-source distinct windows) -- q56 scores doc-level
    near-dup leakage and q88 vocabulary (3-gram) overlap; this is the
    span-level view that catches one crawl verbatim-quoting another even
    when whole docs stay below the jaccard threshold.  Plan: the
    (source, window) relation is deduped BEFORE the pair join, so a
    window shared by S sources contributes at most S(S-1)/2 pair rows
    (q88's bound); per-source totals broadcast.  This is the exact
    (string-keyed) tier for oracle fidelity; at corpus scale the q47
    hash tier (xxhash64 window keys, 16-byte rows) swaps in via
    _token_windows(exact=False)."""
    from ..operators.dedup import _token_windows

    d = _t(spark, sf_dir, "documents")
    _, wins = _token_windows(d, 8, "doc_id", "text", exact=True)
    src = d.select(F.col("doc_id").alias("id"), "source")
    sw = (
        wins.select("id", "wkey")
        .distinct()
        .join(F.broadcast(src), "id")
        .select("source", "wkey")
        .distinct()
    )
    tot = sw.groupBy("source").agg(F.count("*").alias("n_wins"))
    a = sw.select(F.col("source").alias("src_a"), "wkey")
    b = sw.select(F.col("source").alias("src_b"), "wkey")
    pairs = (
        a.join(b, "wkey")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared_wins"))
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("n_wins").alias("wins_a"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("n_wins").alias("wins_b"))
    return (
        pairs.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .withColumn(
            "containment_e4",
            F.round(
                F.col("n_shared_wins") / F.least("wins_a", "wins_b") * 10000
            ).cast("long"),
        )
        .select("src_a", "src_b", "n_shared_wins", "wins_a", "wins_b", "containment_e4")
        .orderBy("src_a", "src_b")
    )


def q98_unigram_surprisal(spark, sf_dir):
    """Perplexity-filter profile per source: mean log10-bucketed unigram
    surprisal (operators/curation.unigram_surprisal -- the CCNet filter,
    self-trained, libm-free) rolled up per source with a relative flag
    (doc score > corpus mean + 0.05 bucket = rare-token-heavy, what a
    perplexity filter drops).  The flag threshold is RELATIVE to the
    corpus mean so it holds across scales; the corpus mean is exact
    integer sums with one IEEE divide.  Plan: one explode, one broadcast
    vocab join, one doc agg, one bounded source rollup."""
    from ..operators.curation import unigram_surprisal

    d = _t(spark, sf_dir, "documents")
    per_doc = unigram_surprisal(d)
    corp = per_doc.agg(
        F.round(F.sum(F.col("ppl_bucket_e4") * F.col("n_toks")) / F.sum("n_toks"))
        .cast("long")
        .alias("corp_e4")
    )
    src = d.select(F.col("doc_id"), "source")
    return (
        per_doc.join(F.broadcast(src), "doc_id")
        .crossJoin(F.broadcast(corp))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_toks"),
            F.round(F.avg("ppl_bucket_e4")).cast("long").alias("avg_ppl_e4"),
            F.max("ppl_bucket_e4").alias("max_ppl_e4"),
            F.sum(
                (F.col("ppl_bucket_e4") > F.col("corp_e4") + 500).cast("long")
            ).alias("n_flagged"),
        )
        .orderBy("source")
    )


def q99_dsir_importance(spark, sf_dir):
    """DSIR importance-resampling profile: per non-target source, the
    distribution of log10-bucketed importance weights toward target
    domain src0 (operators/curation.dsir_importance) and the count a
    weight>0 selection keeps -- the 'which raw sources look most like my
    target' table a data-mixing run reads before setting sampling
    temperatures (q60's upstream).  Plan: two gram dims (map-side
    combined), target + shift broadcast, one doc agg, bounded rollup."""
    from ..operators.curation import dsir_importance

    d = _t(spark, sf_dir, "documents")
    w = dsir_importance(d, target_source="src0")
    return (
        w.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("wt_per_gram_e4")).cast("long").alias("avg_wpg_e4"),
            F.max("wt_per_gram_e4").alias("max_wpg_e4"),
            F.sum((F.col("wt_per_gram_e4") > 0).cast("long")).alias("n_selected"),
        )
        .orderBy("source")
    )


def q100_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per source: BPE-ish pieces per whitespace
    token and chars per token (functions/text.bpe_ish_piece_count /
    token_count, q20's per-doc units aggregated corpus-wide) -- the
    table a budget planner reads to convert corpus bytes into training
    tokens per source before q60 allocates mixing rates.  Exact integer
    sums, one IEEE divide per ratio.  Plan: one codegen'd projection,
    one map-side-combined rollup; no joins, no UDFs."""
    from ..functions.text import bpe_ish_piece_count, token_count

    d = _t(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        token_count(F.col("text")).alias("n_toks"),
        bpe_ish_piece_count(F.col("text")).alias("n_pieces"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("n_toks"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum("n_chars").alias("n_chars"),
            F.round(F.sum("n_pieces") / F.sum("n_toks") * 10000)
            .cast("long")
            .alias("fertility_e4"),
            F.round(F.sum("n_chars") / F.sum("n_toks") * 10000)
            .cast("long")
            .alias("chars_per_tok_e4"),
        )
        .orderBy("source")
    )


def q101_role_pii_exposure(spark, sf_dir):
    """Role-conditional PII exposure over transcripts: which SIDE of the
    dialog leaks -- users paste their own emails/phones, assistants echo
    them back; a redaction pass that treats both roles identically
    over-scrubs tool output, so the scrubber reads this table first.
    PII is planted deterministically from driver data (q54's derivation,
    made role-aware: user turns of conv%5==0 gain an email, assistant
    turns of conv%11==0 gain a phone + IP, both replayed by the oracle).
    Plan: the transcript derivation explodes docs into turns (narrow),
    the scan is one codegen'd regexp projection, the rollup is 2 rows;
    no joins."""
    from ..functions import text as TXT

    t = transcripts_from_documents(spark, sf_dir)
    conv = F.col("conv_id").cast("long")
    planted = t.select(
        "role",
        F.when(
            (F.col("role") == "user") & (conv % 5 == 0),
            F.concat(F.col("text"), F.lit(" reach me at user"), conv.cast("string"), F.lit("@mail.test")),
        )
        .when(
            (F.col("role") == "assistant") & (conv % 11 == 0),
            F.concat(
                F.col("text"),
                F.lit(" noted 555-000-"),
                F.lpad((conv % 10000).cast("string"), 4, "0"),
                F.lit(" at 192.168.0."),
                (conv % 200).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    p = planted.select("role", TXT.pii_counts(F.col("text")).alias("p"))
    n_pii = F.col("p.n_email") + F.col("p.n_phone") + F.col("p.n_ipv4")
    return (
        p.groupBy("role")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("p.n_email").alias("n_email"),
            F.sum("p.n_phone").alias("n_phone"),
            F.sum("p.n_ipv4").alias("n_ipv4"),
            F.sum((n_pii > 0).cast("long")).alias("n_pii_turns"),
            F.round(F.sum((n_pii > 0).cast("long")) / F.count("*") * 10000)
            .cast("long")
            .alias("pii_turn_rate_e4"),
        )
        .orderBy("role")
    )


def q102_source_cluster_concentration(spark, sf_dir):
    """Per-source duplicate-mass concentration: is a source's dup mass a
    few mega-families (recrawl of one page: cap the family, keep the
    source) or spread thin (systemic boilerplate: gate the source)?
    Per source: docs, docs in >=2-size clusters, dup share, distinct
    families touched, and the largest family seen -- every statistic is
    LABEL-INVARIANT (sizes and counts only), so Spark's hash labels and
    the oracle's min-id closure labels agree bit-for-bit.  Plan: the
    memoized q24 pipeline pass; sizes agg on the narrow clusters
    relation; broadcast (doc -> source) dim."""
    res = documents_dedup_result(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), "source"
    )
    sizes = res.clusters.groupBy("cluster_id").agg(F.count("*").alias("csize"))
    m = (
        res.clusters.join(sizes, "cluster_id")
        .join(F.broadcast(d), "conv_id")
    )
    return (
        m.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("csize") >= 2).cast("long")).alias("n_dup_docs"),
            F.round(
                F.sum((F.col("csize") >= 2).cast("long")) / F.count("*") * 10000
            ).cast("long").alias("dup_share_e4"),
            F.countDistinct(
                F.when(F.col("csize") >= 2, F.col("cluster_id"))
            ).alias("n_families"),
            F.max("csize").alias("max_family"),
        )
        .orderBy("source")
    )


def q103_gram_frequency_spectrum(spark, sf_dir):
    """Corpus 3-gram frequency spectrum (the Good-Turing head table +
    Zipf tail in one): how many distinct grams occur exactly 1-4 times
    (N1..N4 drive Good-Turing smoothing and are the standard
    contamination-sensitivity denominator) and, above that, per
    decimal-digit bucket -- the count-of-counts histogram that tells a
    curator whether the corpus is hapax-heavy (diverse or noisy) or
    head-heavy (templated).  Buckets are exact integers / digit counts,
    so both engines agree without logs.  Plan: one explode (grams WITH
    multiplicity), one map-side-combined gram agg, one bounded rollup."""
    from ..functions.portable import word_grams_all
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    grams = d.select(
        F.explode(word_grams_all(tokens(F.col("text")), 3)).alias("gram")
    )
    counts = grams.groupBy("gram").agg(F.count("*").alias("c"))
    bucket = (
        F.when(F.col("c") <= 4, F.lpad(F.col("c").cast("string"), 2, "0"))
        .otherwise(F.concat(F.lit("d"), F.length(F.col("c").cast("string"))))
    )
    tot = counts.agg(
        F.count("*").alias("tot_grams"), F.sum("c").alias("tot_occ")
    )
    return (
        counts.groupBy(bucket.alias("freq_class"))
        .agg(
            F.count("*").alias("n_grams"),
            F.sum("c").alias("n_occurrences"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "freq_class",
            "n_grams",
            "n_occurrences",
            F.round(F.col("n_grams") / F.col("tot_grams") * 10000)
            .cast("long")
            .alias("gram_share_e4"),
            F.round(F.col("n_occurrences") / F.col("tot_occ") * 10000)
            .cast("long")
            .alias("occ_share_e4"),
        )
        .orderBy("freq_class")
    )


def q104_conv_echo_rate(spark, sf_dir):
    """Within-conversation echo rate: how much of each ASSISTANT turn's
    distinct 3-gram mass already appeared in an EARLIER turn of the SAME
    conversation -- the quote-back / parrot signal.  q96 scores retry
    trees (same prefix, divergent continuation) and q97 cross-source
    span leakage; this is the intra-dialog view: an assistant that
    re-emits the user's words verbatim contributes near-zero training
    signal, and a high per-source echo share flags templated agent
    scaffolds.  Per source: assistant turns, distinct-gram mass, echoed
    mass, echo share, and turns with >=half their grams echoed.  Plan:
    the gram join carries conv_id in the key, so candidates never cross
    conversations -- co-partitioned by conv_id it is ONE shuffle and the
    per-conv work is bounded by turn count x grams/turn (turns are
    8-token slices here, <=6 distinct 3-grams each); the source dim is a
    broadcast.  At 10^12 turns nothing in the plan is corpus-quadratic."""
    from ..functions.portable import word_grams

    t = transcripts_from_documents(spark, sf_dir)
    g = t.select(
        "conv_id",
        "turn_idx",
        "role",
        F.explode(word_grams(F.split(F.col("text"), " "), 3)).alias("gram"),
    )
    probe = g.where(F.col("role") == "assistant").select(
        "conv_id", "turn_idx", "gram"
    )
    ref = g.select("conv_id", F.col("turn_idx").alias("ref_idx"), "gram")
    echoed = (
        probe.join(ref, ["conv_id", "gram"])
        .where(F.col("ref_idx") < F.col("turn_idx"))
        .select("conv_id", "turn_idx", "gram")
        .distinct()
        .groupBy("conv_id", "turn_idx")
        .agg(F.count("*").alias("n_echoed"))
    )
    per_turn = (
        probe.groupBy("conv_id", "turn_idx")
        .agg(F.count("*").alias("n_grams"))
        .join(echoed, ["conv_id", "turn_idx"], "left")
        .withColumn("n_echoed", F.coalesce("n_echoed", F.lit(0)))
    )
    src = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), "source"
    )
    return (
        per_turn.join(F.broadcast(src), "conv_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_ast_turns"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_echoed").cast("long").alias("n_echoed"),
            F.round(F.sum("n_echoed") / F.sum("n_grams") * 10000)
            .cast("long")
            .alias("echo_share_e4"),
            F.sum((F.col("n_echoed") * 2 >= F.col("n_grams")).cast("long"))
            .cast("long")
            .alias("n_heavy_turns"),
        )
        .orderBy("source")
    )


def q105_containment_dedup(spark, sf_dir):
    """Full-containment dedup: documents whose distinct 3-gram set is
    >=95% inside ONE other (larger, ties by id) document's set -- the
    asymmetric duplicates Jaccard misses (a snippet quoted in full
    inside a long page has tiny jaccard but containment ~1).  Per
    source: docs, contained docs, contained share, and contained docs
    whose container lives in ANOTHER source (cross-crawl quoting, the
    removal candidates q73's decontam logic would act on).  Plan: exact
    gram-postings join generates candidates, then the verify step is
    the exact i/|A| ratio -- at corpus scale the candidate join swaps to
    q47-style hashed window postings with a document-frequency cap
    (a gram shared by thousands of docs does not discriminate
    containment), verification unchanged; this registered tier is the
    string-keyed exact plan for oracle fidelity."""
    from ..functions.portable import word_grams
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    g = d.select(
        F.col("doc_id").alias("id"),
        F.explode(word_grams(tokens(F.col("text")), 3)).alias("gram"),
    )
    sz = g.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        g.select(F.col("id").alias("ida"), "gram")
        .join(g.select(F.col("id").alias("idb"), "gram"), "gram")
        .where(F.col("ida") != F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("i"))
    )
    sa = sz.select(F.col("id").alias("ida"), F.col("n").alias("na"))
    sb = sz.select(F.col("id").alias("idb"), F.col("n").alias("nb"))
    cont = (
        inter.join(sa, "ida")
        .join(sb, "idb")
        .where(
            (F.col("i") >= 0.95 * F.col("na"))
            & (
                (F.col("nb") > F.col("na"))
                | ((F.col("nb") == F.col("na")) & (F.col("idb") < F.col("ida")))
            )
        )
    )
    srcs = d.select("doc_id", "source")
    da = srcs.select(F.col("doc_id").alias("ida"), F.col("source").alias("src_a"))
    db = srcs.select(F.col("doc_id").alias("idb"), F.col("source").alias("src_b"))
    contained = (
        cont.join(F.broadcast(da), "ida")
        .join(F.broadcast(db), "idb")
        .groupBy("ida")
        .agg(
            F.max((F.col("src_b") != F.col("src_a")).cast("long")).alias("x_src")
        )
    )
    return (
        d.select("doc_id", "source")
        .join(contained, d["doc_id"] == contained["ida"], "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count("ida").cast("long").alias("n_contained"),
            F.round(F.count("ida") / F.count("*") * 10000)
            .cast("long")
            .alias("contained_share_e4"),
            F.coalesce(F.sum("x_src"), F.lit(0))
            .cast("long")
            .alias("n_cross_source"),
        )
        .orderBy("source")
    )


def q106_dup_pair_age(spark, sf_dir):
    """Near-dup pair AGE: the ingest-time gap (minutes between the two
    conversations' start timestamps) for every verified >=0.7-jaccard
    pair, per source of the LATER member.  This is the number that
    sizes the incremental band-index retention horizon at 10^12 turns:
    q37's accumulator can only drop index entries older than H if no
    pair it must catch spans more than H -- p50/p90/max gap plus the
    share of pairs an H=1h horizon would MISS answers exactly that
    (q62 buckets pair age coarsely for leakage; this is the retention
    -sizing quantile view).  Plan: the edge list is the small memoized
    q24 output; start times are one conv-keyed agg; the source dim is
    a broadcast; quantiles run per source over O(#pairs) rows, never
    the corpus."""
    res = documents_dedup_result(spark, sf_dir)
    t = transcripts_from_documents(spark, sf_dir)
    start = t.groupBy("conv_id").agg(F.min("ts").alias("t0"))
    pairs = res.edges.select(
        F.least(F.col("a").cast("long"), F.col("b").cast("long")).alias("early"),
        F.greatest(F.col("a").cast("long"), F.col("b").cast("long")).alias("late"),
    )
    se = start.select(
        F.col("conv_id").cast("long").alias("early"),
        F.unix_timestamp("t0").alias("sec_early"),
    )
    sl = start.select(
        F.col("conv_id").cast("long").alias("late"),
        F.unix_timestamp("t0").alias("sec_late"),
    )
    src = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("late"), "source"
    )
    gaps = (
        pairs.join(se, "early")
        .join(sl, "late")
        .join(F.broadcast(src), "late")
        .withColumn(
            "gap_min",
            F.floor((F.col("sec_late") - F.col("sec_early")) / 60).cast("long"),
        )
    )
    return (
        gaps.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.expr("percentile(gap_min, 0.5)"), 4).alias("p50_gap_min"),
            F.round(F.expr("percentile(gap_min, 0.9)"), 4).alias("p90_gap_min"),
            F.max("gap_min").cast("long").alias("max_gap_min"),
            F.sum((F.col("gap_min") > 60).cast("long"))
            .cast("long")
            .alias("n_beyond_1h"),
            F.round(
                F.sum((F.col("gap_min") > 60).cast("long")) / F.count("*") * 10000
            )
            .cast("long")
            .alias("miss_share_e4"),
        )
        .orderBy("source")
    )


def q107_source_centroid_similarity(spark, sf_dir):
    """Source-level semantic redundancy: pairwise cosine similarity
    between per-label embedding CENTROIDS -- two labels whose centroids
    sit near cosine 1 are the same distribution crawled twice, which a
    mixing policy (q60) should treat as ONE source and a semantic-dedup
    pass (q45) will collapse hardest.  Centroid components are rounded
    to 6dp on both engines before the cosine so the only cross-engine
    noise left is 64-term association order (~1e-16), killed by the
    5dp output round.  Plan: posexplode is a narrow (label, pos, v)
    stream with a map-side-combined avg -- ONE shuffle of |labels| x
    dim cells; the pairwise stage is |labels|^2 x dim rows, trivially
    broadcastable at any corpus scale because labels number in the
    hundreds while vectors number in the billions."""
    e = _t(spark, sf_dir, "embeddings")
    comp = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = comp.groupBy("label", "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), 6).alias("c")
    )
    n = e.groupBy("label").agg(F.count("*").alias("n"))
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "pos", F.col("c").alias("cb"))
    pair = (
        a.join(b, "pos")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            (
                F.sum(F.col("ca") * F.col("cb"))
                / (
                    F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                    * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                )
            ).alias("raw_cos")
        )
    )
    na = n.select(F.col("label").alias("label_a"), F.col("n").alias("n_a"))
    nb = n.select(F.col("label").alias("label_b"), F.col("n").alias("n_b"))
    return (
        pair.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            F.col("label_a").cast("long").alias("label_a"),
            F.col("label_b").cast("long").alias("label_b"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round("raw_cos", 5).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


def q108_prompt_diversity(spark, sf_dir):
    """Instruction diversity per source: how many DISTINCT opening
    prompts (the turn-0 user text, md5-keyed) a source contributes
    relative to its conversation count, and how much of the source one
    single template prompt owns.  A source with diversity 0.05 and a
    60% top prompt is a scripted agent harness replaying one seed --
    worth one exemplar in an SFT mix, not its full token mass; q50
    templates ALL turns and q95 locates them by position, while this
    is the mix-design view of the opening turn only.  Plan: the turn-0
    filter prunes the explode to one row per conv before any shuffle;
    one (source, fp) agg then an O(|sources| x |templates|) rollup;
    the (conv -> source) dim is a broadcast."""
    t = transcripts_from_documents(spark, sf_dir)
    first = t.where(F.col("turn_idx") == 0).select(
        "conv_id", F.md5(F.col("text")).alias("fp")
    )
    src = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), "source"
    )
    per_fp = (
        first.join(F.broadcast(src), "conv_id")
        .groupBy("source", "fp")
        .agg(F.count("*").alias("n"))
    )
    return (
        per_fp.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_convs"),
            F.count("*").cast("long").alias("n_prompts"),
            F.round(F.count("*") / F.sum("n") * 10000)
            .cast("long")
            .alias("diversity_e4"),
            F.round(F.max("n") / F.sum("n") * 10000)
            .cast("long")
            .alias("top_prompt_share_e4"),
        )
        .orderBy("source")
    )


def q109_minhash_calibration(spark, sf_dir):
    """MinHash estimator calibration: for every gram-sharing doc pair,
    the 16-lane portable-MinHash estimate vs the exact 3-gram jaccard,
    bucketed by exact-jaccard decile band -- the empirical
    check that q65's analytic b x r planning rests on (lane-match
    probability == jaccard is the MinHash identity; this measures the
    k=16 sampling error the production k=128 kernel shrinks ~3x).
    Lane hashes are the portable md5 tier so DuckDB replays them bit
    for bit; every mean is integer-summed (est_e4 = matches*625 exactly,
    exact_e4 rounded per pair) so no float association order can touch
    the hash.  Plan: the lane explode is x16 on the gram stream but
    rows are (id, p, h) -- narrow, map-side-combined min; the pair join
    reuses the gram-postings shape q105 already pays; at corpus scale
    the calibration runs on a u01 pair SAMPLE, never the full closure."""
    from ..functions.portable import md5_long60, word_grams
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    g = d.select(
        F.col("doc_id").alias("id"),
        F.explode(word_grams(tokens(F.col("text")), 3)).alias("gram"),
    )
    lanes = g.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda p: md5_long60(
                    F.concat(F.col("gram"), F.lit("|"), p.cast("string"))
                ),
            )
        ).alias("p", "h"),
    )
    sig = lanes.groupBy("id", "p").agg(F.min("h").alias("h"))
    sz = g.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        g.select(F.col("id").alias("ida"), "gram")
        .join(g.select(F.col("id").alias("idb"), "gram"), "gram")
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("i"))
    )
    pairs = (
        inter.join(sz.select(F.col("id").alias("ida"), F.col("n").alias("na")), "ida")
        .join(sz.select(F.col("id").alias("idb"), F.col("n").alias("nb")), "idb")
        .withColumn(
            "exact_j", F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))
        )
    )
    sa = sig.select(F.col("id").alias("ida"), "p", F.col("h").alias("ha"))
    sb = sig.select(F.col("id").alias("idb"), "p", F.col("h").alias("hb"))
    est = (
        pairs.select("ida", "idb")
        .join(sa, "ida")
        .join(sb, ["idb", "p"])
        .groupBy("ida", "idb")
        .agg(F.sum((F.col("ha") == F.col("hb")).cast("long")).alias("m"))
    )
    scored = (
        pairs.join(est, ["ida", "idb"])
        .select(
            F.floor(F.col("exact_j") * 10).cast("long").alias("band"),
            (F.col("m") * 625).alias("est_e4"),
            F.round(F.col("exact_j") * 10000).cast("long").alias("exact_e4"),
        )
        .withColumn("abs_err_e4", F.abs(F.col("est_e4") - F.col("exact_e4")))
    )
    return (
        scored.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.avg("exact_e4")).cast("long").alias("mean_exact_e4"),
            F.round(F.avg("est_e4")).cast("long").alias("mean_est_e4"),
            F.round(F.avg("abs_err_e4")).cast("long").alias("mean_abs_err_e4"),
            F.round(F.expr("percentile(abs_err_e4, 0.9)"), 4).alias("p90_abs_err_e4"),
        )
        .orderBy("band")
    )


def q110_keeper_similarity_floor(spark, sf_dir):
    """Keeper-collapse information loss: when q38's policy keeps one
    doc per near-dup family, how similar was everything it dropped to
    the keeper?  Per family-size bucket (2, 3, 4, 5+): dropped members'
    DIRECT keeper-edge jaccard quantiles, plus the count of dropped
    members with NO direct keeper edge (chain-linked text q84's
    diameter audit flags -- those are removed on transitivity alone,
    the riskiest deletions a dedup pipeline makes).  Plan: everything
    runs on the memoized q24 output -- edges and clusters are the small
    derived tables, the quality dim is one broadcast-sized projection;
    nothing rescans the corpus."""
    res = documents_dedup_result(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.round(TXT.quality_score(F.col("text")), 4).alias("quality"),
    )
    members = (
        res.clusters.join(d, "conv_id")
        .withColumn("sz", F.count("*").over(Window.partitionBy("cluster_id")))
        .where(F.col("sz") > 1)
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), "conv_id")
    ranked = members.withColumn("rk", F.row_number().over(w))
    keepers = ranked.where(F.col("rk") == 1).select(
        "cluster_id", F.col("conv_id").alias("keeper_id")
    )
    dropped = ranked.where(F.col("rk") > 1).select(
        "cluster_id", "conv_id", "sz"
    ).join(keepers, "cluster_id")
    sym = res.edges.select("a", "b", "jaccard").union(
        res.edges.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "jaccard"
        )
    )
    ke = sym.select(
        F.col("a").alias("conv_id"),
        F.col("b").alias("keeper_id"),
        F.col("jaccard").alias("keeper_j"),
    )
    scored = dropped.join(ke, ["conv_id", "keeper_id"], "left")
    return (
        scored.groupBy(F.least(F.col("sz"), F.lit(5)).cast("long").alias("size_bucket"))
        .agg(
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
            F.count("*").cast("long").alias("n_dropped"),
            F.sum(F.col("keeper_j").isNull().cast("long"))
            .cast("long")
            .alias("n_unscored"),
            F.round(F.expr("percentile(keeper_j, 0.5)"), 4).alias("p50_keeper_j"),
            F.round(F.min("keeper_j"), 4).alias("min_keeper_j"),
        )
        .orderBy("size_bucket")
    )


def q111_allpairs_ssjoin(spark, sf_dir):
    """Exact all-pairs similarity self-join via prefix filtering (the
    AllPairs/PPJoin family; MapReduce formulation per Vernica et al.,
    SIGMOD'10): every document pair with 3-gram-SET jaccard >= 0.5,
    found without the quadratic postings self-join.  Each doc indexes
    only its (n - ceil(0.5 n) + 1) globally-RAREST grams -- pigeonhole:
    a pair at theta shares >= ceil(theta * na) grams, and A's prefix
    omits only ceil(theta * na) - 1 of A's grams, so at least one
    shared gram lands in the prefix -- candidates probe the full
    postings, and a verify join recomputes the exact intersection.
    This is the recall-1.0-BY-CONSTRUCTION complement to q24's LSH
    tier: identical output contract to an exact closure, but the
    candidate stream is driven by rare grams instead of band
    collisions, so it needs no b x r tuning and cannot miss a pair.
    All jaccard math is integer ((20000 i + u) div 2u == half-up e4)
    so no float can touch the driver hash.  Plan (r6 shape): ONE
    tokenize+gram pass builds the per-doc distinct-gram ARRAY (cached
    per invocation -- Catalyst has no cross-subtree CSE, and the plan
    references the grams five times); postings derive from it by a
    cheap explode; candidates come from the narrow prefix->postings
    equi-join; verification is the LSH pipeline's fan-in shape
    (verify_pairs): the pair list joins the per-doc gram arrays and
    computes |intersection| NATIVELY with array_intersect -- measured
    32.6M-row postings fan-out replaced by 2 array joins (the arrays
    broadcast at this scale; at corpus scale the same join sort-merges
    on the id key, still Sum(pair degree) not Sum(na) rows).  At corpus
    scale the global gram order ships as a broadcast df sketch and
    prefix postings get a df cap (a gram in thousands of docs never
    survives to a 0.5-jaccard prefix)."""
    from ..functions.portable import word_grams
    from ..functions.text import tokens

    d = _td(spark, sf_dir, "documents", "doc_id")
    _q111_tag = object()
    garr = _scratch(
        d.select(
            F.col("doc_id").alias("id"),
            word_grams(tokens(F.col("text")), 3).alias("grams"),
        ),
        tag=_q111_tag,
    )
    g = garr.select("id", F.explode("grams").alias("gram"))
    dfreq = g.groupBy("gram").agg(F.count("*").alias("df"))
    sz = garr.select("id", F.size("grams").cast("long").alias("n"))
    wrk = Window.partitionBy("id").orderBy("df", "gram")
    ranked = g.join(dfreq, "gram").withColumn("rnk", F.row_number().over(wrk))
    prefix = (
        ranked.join(sz, "id")
        .where(F.col("rnk") <= F.col("n") - F.expr("(n + 1) div 2") + 1)
        .select("id", "gram")
    )
    cand = (
        prefix.select(F.col("id").alias("pid"), "gram")
        .join(g.select(F.col("id").alias("qid"), "gram"), "gram")
        .where(F.col("pid") != F.col("qid"))
        .select(
            F.least("pid", "qid").alias("ida"),
            F.greatest("pid", "qid").alias("idb"),
        )
        .distinct()
    )
    verified = (
        cand.join(
            garr.select(F.col("id").alias("ida"), F.col("grams").alias("_ga")), "ida"
        )
        .join(
            garr.select(F.col("id").alias("idb"), F.col("grams").alias("_gb")), "idb"
        )
        .select(
            "ida",
            "idb",
            F.size(F.array_intersect("_ga", "_gb")).cast("long").alias("i"),
            F.size("_ga").cast("long").alias("na"),
            F.size("_gb").cast("long").alias("nb"),
        )
    )
    out = verified.where(3 * F.col("i") >= F.col("na") + F.col("nb")).select(
        "ida",
        "idb",
        F.expr("(20000 * i + (na + nb - i)) div (2 * (na + nb - i))")
        .cast("long")
        .alias("jacc_e4"),
    )
    # scratch the (tiny) final pair set before the global sort: a range
    # exchange SAMPLES its child to pick boundaries, so without the cache
    # the whole verify pipeline executes twice (SQL-metrics-verified: the
    # verify join emitted exactly 2x its rows)
    return _scratch(out, tag=_q111_tag).orderBy("ida", "idb")


def q112_weighted_jaccard_dedup(spark, sf_dir):
    """Weighted (multiset) jaccard near-dup pairs over 3-gram term
    FREQUENCIES: sum(min(tf_a, tf_b)) / sum(max(tf_a, tf_b)) >= 0.5.
    Set-jaccard (q24/q111) flattens repetition -- a doc that pastes the
    same paragraph five times has the SAME gram set as one that pastes
    it once, so the pair scores 1.0 under sets while only ~1/5 of its
    mass actually matches; the weighted score is the one that respects
    how much text is duplicated, which is what a token-budget curator
    removes by.  Identity used: sum(max) = T_a + T_b - sum(min), so
    only the min-sum needs the pair join and the threshold test is the
    integer 3*m >= T_a + T_b.  Integer half-up e4 for the hash.  Plan:
    tf build is one map-side-combined agg; the pair join runs on (gram,
    tf) postings -- at corpus scale the same rarest-gram prefix filter
    as q111 bounds it (prefix length from the weighted bound ceil(theta
    * T_a) over tf-ordered grams), verification unchanged."""
    from ..functions.portable import word_grams_all
    from ..functions.text import tokens

    d = _td(spark, sf_dir, "documents", "doc_id")
    x = d.select(
        F.col("doc_id").alias("id"),
        F.explode(word_grams_all(tokens(F.col("text")), 3)).alias("gram"),
    )
    # tf postings feed the doc totals and BOTH sides of the pair join --
    # scratch them so tokenize+gram explode+tf agg runs once
    _q112_tag = object()
    tf = _scratch(x.groupBy("id", "gram").agg(F.count("*").alias("w")), tag=_q112_tag)
    tot = tf.groupBy("id").agg(F.sum("w").alias("t"))
    mn = (
        tf.select(F.col("id").alias("ida"), "gram", F.col("w").alias("wa"))
        .join(
            tf.select(F.col("id").alias("idb"), "gram", F.col("w").alias("wb")),
            "gram",
        )
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.sum(F.least("wa", "wb")).alias("m"))
    )
    out = (
        mn.join(tot.select(F.col("id").alias("ida"), F.col("t").alias("ta")), "ida")
        .join(tot.select(F.col("id").alias("idb"), F.col("t").alias("tb")), "idb")
        .where(3 * F.col("m") >= F.col("ta") + F.col("tb"))
        .select(
            "ida",
            "idb",
            F.expr("(20000 * m + (ta + tb - m)) div (2 * (ta + tb - m))")
            .cast("long")
            .alias("wj_e4"),
        )
    )
    # tiny pre-sort scratch: the range exchange's sampling pass would
    # otherwise execute the pair join twice (see q111)
    return _scratch(out, tag=_q112_tag).orderBy("ida", "idb")


def q113_gram_rank_decay(spark, sf_dir):
    """Per-source 3-gram frequency head decay -- the Zipf profile
    WITHOUT logs (cross-engine libm log is not bit-stable, so the
    decade ratios c10/c1 and c100/c10 stand in for the slope): a
    templated source decays slowly (c10 ~ c1, the same boilerplate
    grams dominate), a diverse one decays fast.  Ranks are made
    deterministic by the (count desc, gram asc) total order; ratios
    are integer half-up e4.  Complements q103 (corpus-wide
    count-of-counts) with the per-source head shape a mixing policy
    (q116) reads.  Plan: one gram agg, one tiny per-source top-100
    window over pre-aggregated counts."""
    from ..functions.portable import word_grams_all
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    x = d.select(
        "source",
        F.explode(word_grams_all(tokens(F.col("text")), 3)).alias("gram"),
    )
    counts = x.groupBy("source", "gram").agg(F.count("*").alias("c"))
    w = Window.partitionBy("source").orderBy(F.desc("c"), "gram")
    picked = (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk").isin(1, 10, 100))
        .groupBy("source")
        .agg(
            F.max(F.when(F.col("rnk") == 1, F.col("c"))).alias("c1"),
            F.max(F.when(F.col("rnk") == 10, F.col("c"))).alias("c10"),
            F.max(F.when(F.col("rnk") == 100, F.col("c"))).alias("c100"),
        )
    )
    return picked.select(
        "source",
        F.col("c1").cast("long").alias("c1"),
        F.col("c10").cast("long").alias("c10"),
        F.col("c100").cast("long").alias("c100"),
        F.expr("(20000 * c10 + c1) div (2 * c1)").cast("long").alias("decay_1_10_e4"),
        F.expr("(20000 * c100 + c10) div (2 * c10)")
        .cast("long")
        .alias("decay_10_100_e4"),
    ).orderBy("source")


def q114_edit_distance_audit(spark, sf_dir):
    """Edit-distance audit of verified near-dup pairs: for every exact
    3-gram-jaccard >= 0.7 pair (q24's edge contract), the levenshtein
    distance between the two texts, classified into exact / near (<=5%
    of the longer text) / moderate (<=20%) / far.  This is the
    second-opinion check on the gram tier: a 'near-dup' pair whose
    texts are far in edit space is a shingling artifact (reordered
    boilerplate), while an exact-0 pair that survived exact dedup
    (q21) means normalization dropped real bytes.  levenshtein is the
    same integer DP in Spark and DuckDB, and the normalized distance is
    integer half-up e4, so the hash is float-free.  Plan: the pair set
    is the small verified edge list; only it pays the O(len^2) DP --
    never the corpus; at scale the DP runs on length-capped prefixes
    exactly like the reference exact-substr verify."""
    from ..functions.portable import word_grams
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    g = d.select(
        F.col("doc_id").alias("id"),
        F.explode(word_grams(tokens(F.col("text")), 3)).alias("gram"),
    )
    sz = g.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        g.select(F.col("id").alias("ida"), "gram")
        .join(g.select(F.col("id").alias("idb"), "gram"), "gram")
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("i"))
    )
    pairs = (
        inter.join(sz.select(F.col("id").alias("ida"), F.col("n").alias("na")), "ida")
        .join(sz.select(F.col("id").alias("idb"), F.col("n").alias("nb")), "idb")
        .where(10 * F.col("i") >= 7 * (F.col("na") + F.col("nb") - F.col("i")))
        .select("ida", "idb")
    )
    ta = d.select(F.col("doc_id").alias("ida"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("idb"), F.col("text").alias("text_b"))
    scored = (
        pairs.join(ta, "ida")
        .join(tb, "idb")
        .select(
            F.levenshtein("text_a", "text_b").alias("lev"),
            F.greatest(F.length("text_a"), F.length("text_b"), F.lit(1)).alias("mx"),
        )
        .withColumn(
            "nld_e4", F.expr("(20000 * lev + mx) div (2 * mx)").cast("long")
        )
        .withColumn(
            "edit_class",
            F.when(F.col("lev") == 0, "exact")
            .when(F.col("nld_e4") <= 500, "near")
            .when(F.col("nld_e4") <= 2000, "moderate")
            .otherwise("far"),
        )
    )
    return (
        scored.groupBy("edit_class")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("(2 * sum(lev) + count(*)) div (2 * count(*))")
            .cast("long")
            .alias("mean_lev"),
            F.expr("(2 * sum(nld_e4) + count(*)) div (2 * count(*))")
            .cast("long")
            .alias("mean_nld_e4"),
            F.max("lev").cast("long").alias("max_lev"),
        )
        .orderBy("edit_class")
    )


def q115_bbit_minhash_contract(spark, sf_dir):
    """1-bit MinHash contract (Li & Konig '10): keep only the LOWEST
    bit of each of the 16 portable MinHash lanes and estimate jaccard
    from the bit-match rate r via J_hat = 2r - 1 (for b=1 the match
    probability is J + (1-J)/2), clamped at 0.  Against q109 (full
    60-bit lanes, same pairs, same seeds) this measures exactly what
    the 60x storage cut costs in accuracy -- the contract a signature-
    store sizing decision reads.  Per-pair estimate is the integer
    (m - 8) * 1250, means are integer half-up, so the hash is
    float-free.  Plan: same narrow lane explode and map-side-combined
    min as q109; the bit compare replaces the 60-bit compare; at
    corpus scale the pair stream is a u01 sample, never the closure."""
    from ..functions.portable import md5_long60, word_grams
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    g = d.select(
        F.col("doc_id").alias("id"),
        F.explode(word_grams(tokens(F.col("text")), 3)).alias("gram"),
    )
    lanes = g.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda p: md5_long60(
                    F.concat(F.col("gram"), F.lit("|"), p.cast("string"))
                ),
            )
        ).alias("p", "h"),
    )
    sig = lanes.groupBy("id", "p").agg(F.min("h").alias("h"))
    sz = g.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        g.select(F.col("id").alias("ida"), "gram")
        .join(g.select(F.col("id").alias("idb"), "gram"), "gram")
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("i"))
    )
    pairs = (
        inter.join(sz.select(F.col("id").alias("ida"), F.col("n").alias("na")), "ida")
        .join(sz.select(F.col("id").alias("idb"), F.col("n").alias("nb")), "idb")
        .withColumn("u", F.col("na") + F.col("nb") - F.col("i"))
    )
    sa = sig.select(F.col("id").alias("ida"), "p", F.col("h").alias("ha"))
    sb = sig.select(F.col("id").alias("idb"), "p", F.col("h").alias("hb"))
    est = (
        pairs.select("ida", "idb")
        .join(sa, "ida")
        .join(sb, ["idb", "p"])
        .groupBy("ida", "idb")
        .agg(
            F.sum(((F.col("ha") % 2) == (F.col("hb") % 2)).cast("long")).alias("m")
        )
    )
    scored = (
        pairs.join(est, ["ida", "idb"])
        .select(
            F.expr("(10 * i) div u").cast("long").alias("band"),
            F.greatest(
                (F.col("m") - F.lit(8)) * F.lit(1250), F.lit(0)
            ).cast("long").alias("est_e4"),
            F.expr("(20000 * i + u) div (2 * u)").cast("long").alias("exact_e4"),
        )
        .withColumn("abs_err_e4", F.abs(F.col("est_e4") - F.col("exact_e4")))
    )
    return (
        scored.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("(2 * sum(exact_e4) + count(*)) div (2 * count(*))")
            .cast("long")
            .alias("mean_exact_e4"),
            F.expr("(2 * sum(est_e4) + count(*)) div (2 * count(*))")
            .cast("long")
            .alias("mean_est_e4"),
            F.expr("(2 * sum(abs_err_e4) + count(*)) div (2 * count(*))")
            .cast("long")
            .alias("mean_abs_err_e4"),
        )
        .orderBy("band")
    )


def q116_source_mix_weights(spark, sf_dir):
    """Temperature-scaled source mixing weights (the alpha = 0.5
    multilingual-sampling rule): w_s proportional to sqrt(token_s),
    versus the raw token share, plus the effective epoch count each
    source would run at a 1B-token training budget (epochs > 1 means
    the scaler repeats that source; the over-repetition signal a data
    recipe balances against q72's dup mass).  sqrt is IEEE
    correctly-rounded so both engines produce the identical double; it
    is immediately quantized to an e2 integer per source and every
    share/epoch after that is integer half-up arithmetic -- no float
    sum ever reaches the hash.  Plan: one map-side-combined per-source
    agg over token counts; the share normalization is a broadcast of a
    handful of rows."""
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("n_tokens"),
    )
    per = per.withColumn(
        "s_e2", F.round(F.sqrt(F.col("n_tokens")) * 100).cast("long")
    )
    tot = per.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("s_e2").alias("tot_s")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("(20000 * n_tokens + tot_tokens) div (2 * tot_tokens)")
            .cast("long")
            .alias("raw_share_e4"),
            F.expr("(20000 * s_e2 + tot_s) div (2 * tot_s)")
            .cast("long")
            .alias("temp_share_e4"),
        )
        .withColumn(
            "epochs_e4",
            F.expr(
                "(2 * temp_share_e4 * 1000000000 + n_tokens)"
                " div (2 * n_tokens)"
            ).cast("long"),
        )
        .orderBy("source")
    )


def q117_turn_near_dup(spark, sf_dir):
    """Near-duplicate TURNS across conversations: turn pairs from
    DIFFERENT convs whose 3-gram-set jaccard >= 0.7, rolled up per
    role.  q50 catches byte-identical template turns; this tier
    catches the shifted ones -- when a conv-level near-dup inserts or
    drops a word, every later turn boundary slides and exact turn
    dedup goes blind, but gram jaccard stays high (a one-token shift
    of an 8-token turn scores exactly 5/7 ~ 0.714, which is why the
    threshold sits at the pipeline's 0.7, not higher).  Integer
    threshold (17i >= 7(na+nb) <=> i/u >= 0.7); pairs oriented by conv_id and
    counted under the a-side role; dup-turn counts are side-symmetric
    distinct.  Plan: turn-gram postings join (turns are ~8 tokens, so
    postings are tiny per turn); at 10^12 turns the candidate stream
    swaps to the q24 LSH banding machinery over turn signatures with a
    gram-df cap -- verification unchanged."""
    from ..functions.portable import word_grams

    tr = transcripts_from_documents(spark, sf_dir)
    g = tr.select(
        "conv_id",
        "turn_idx",
        "role",
        F.explode(word_grams(F.split(F.col("text"), " "), 3)).alias("gram"),
    )
    sz = g.groupBy("conv_id", "turn_idx", "role").agg(F.count("*").alias("n"))
    a = g.select(
        F.col("conv_id").alias("ca"), F.col("turn_idx").alias("ta"), "gram"
    )
    b = g.select(
        F.col("conv_id").alias("cb"), F.col("turn_idx").alias("tb"), "gram"
    )
    inter = (
        a.join(b, "gram")
        .where(F.col("ca") < F.col("cb"))
        .groupBy("ca", "ta", "cb", "tb")
        .agg(F.count("*").alias("i"))
    )
    sa = sz.select(
        F.col("conv_id").alias("ca"),
        F.col("turn_idx").alias("ta"),
        F.col("role").alias("ra"),
        F.col("n").alias("na"),
    )
    sb = sz.select(
        F.col("conv_id").alias("cb"),
        F.col("turn_idx").alias("tb"),
        F.col("role").alias("rb"),
        F.col("n").alias("nb"),
    )
    pairs = (
        inter.join(sa, ["ca", "ta"])
        .join(sb, ["cb", "tb"])
        .where(17 * F.col("i") >= 7 * (F.col("na") + F.col("nb")))
    )
    dup_turns = (
        pairs.select(
            F.col("ca").alias("conv_id"),
            F.col("ta").alias("turn_idx"),
            F.col("ra").alias("role"),
        )
        .union(
            pairs.select(
                F.col("cb").alias("conv_id"),
                F.col("tb").alias("turn_idx"),
                F.col("rb").alias("role"),
            )
        )
        .distinct()
        .groupBy("role")
        .agg(F.count("*").alias("n_dup_turns"))
    )
    n_pairs = pairs.groupBy(F.col("ra").alias("role")).agg(
        F.count("*").alias("n_pairs")
    )
    total = sz.groupBy("role").agg(F.count("*").alias("n_turns"))
    return (
        total.join(dup_turns, "role", "left")
        .join(n_pairs, "role", "left")
        .select(
            "role",
            F.col("n_turns").cast("long").alias("n_turns"),
            F.coalesce(F.col("n_dup_turns"), F.lit(0))
            .cast("long")
            .alias("n_dup_turns"),
            F.expr(
                "(20000 * coalesce(n_dup_turns, 0) + n_turns) div (2 * n_turns)"
            )
            .cast("long")
            .alias("dup_rate_e4"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
        )
        .orderBy("role")
    )


def q118_template_continuation_spread(spark, sf_dir):
    """Continuation spread under repeated opening prompts: for every
    turn-0 user prompt used by >= 3 conversations, how long and how
    varied the rest of the conversation is -- identical prompts with
    ONE distinct next turn and tight continuation lengths are scripted
    harness runs (dedup candidates q108 flags at source granularity;
    this is the per-prompt evidence), while wide spreads mean the
    prompt is a genuine task prefix worth keeping.  Plan: turn-0
    projection prunes to one row per conv before any shuffle; the
    continuation agg is map-side-combined per conv; the prompt rollup
    shuffles only conv-count rows."""
    tr = transcripts_from_documents(spark, sf_dir)
    prompts = tr.where(F.col("turn_idx") == 0).select(
        "conv_id", F.col("text").alias("prompt")
    )
    cont = (
        tr.where(F.col("turn_idx") >= 1)
        .groupBy("conv_id")
        .agg(F.sum(F.size(F.split(F.col("text"), " "))).alias("n_cont_toks"))
    )
    nxt = tr.where(F.col("turn_idx") == 1).select(
        "conv_id", F.col("text").alias("resp")
    )
    j = prompts.join(cont, "conv_id").join(nxt, "conv_id")
    return (
        j.groupBy("prompt")
        .agg(
            F.count("*").cast("long").alias("n_uses"),
            F.countDistinct("resp").cast("long").alias("n_distinct_next"),
            F.min("n_cont_toks").cast("long").alias("min_cont_toks"),
            F.round(F.expr("percentile(n_cont_toks, 0.5)"), 4).alias(
                "p50_cont_toks"
            ),
            F.max("n_cont_toks").cast("long").alias("max_cont_toks"),
        )
        .where(F.col("n_uses") >= 3)
        .orderBy("prompt")
    )


def q119_template_cluster_overlap(spark, sf_dir):
    """Reconciliation between turn-level and conv-level dedup: for each
    template turn text shared by >= 2 conversations, do its convs all
    sit in ONE conv-level near-dup cluster (the template is explained
    -- conv dedup already removes it) or does it SPAN clusters (shared
    boilerplate that survives conv-level dedup and needs q50's turn
    tier)?  Per conv-count bucket (2, 3, 4, 5+): templates, explained,
    spanning, spanning rate.  Singleton convs count as their own
    effective cluster (coalesce to conv_id -- labels ARE min member
    ids on both engines).  Plan: runs on the memoized q24 clusters +
    one distinct turn-text projection; the label join is a broadcast
    of the cluster table."""
    res = documents_dedup_result(spark, sf_dir)
    tr = transcripts_from_documents(spark, sf_dir)
    tt = tr.select("text", "conv_id").distinct()
    lab = tt.join(F.broadcast(res.clusters), "conv_id", "left").select(
        "text",
        "conv_id",
        F.coalesce(F.col("cluster_id"), F.col("conv_id")).alias("eff"),
    )
    per = (
        lab.groupBy("text")
        .agg(
            F.countDistinct("conv_id").alias("n_convs"),
            F.countDistinct("eff").alias("n_eff"),
        )
        .where(F.col("n_convs") >= 2)
    )
    return (
        per.groupBy(F.least(F.col("n_convs"), F.lit(5)).cast("long").alias("conv_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_templates"),
            F.sum((F.col("n_eff") == 1).cast("long"))
            .cast("long")
            .alias("n_explained"),
            F.sum((F.col("n_eff") > 1).cast("long"))
            .cast("long")
            .alias("n_spanning"),
        )
        .withColumn(
            "spanning_rate_e4",
            F.expr("(20000 * n_spanning + n_templates) div (2 * n_templates)")
            .cast("long"),
        )
        .orderBy("conv_bucket")
    )


def q120_conv_code_switch(spark, sf_dir):
    """Per-conversation language-switch profile: runs the q23 LID gate
    (en/und English-likelihood -- documented substitution, see
    functions/text.py:lang_id) on every TURN, then counts adjacent-turn
    lang flips per conv and rolls up per source -- a conv that flips
    repeatedly is either code-switching or (in this gate's terms)
    oscillating between prose and non-prose payload (logs, code,
    base64), both of which a curator samples differently from clean
    monolingual dialog.  Plan: the lang column is one codegen'd
    expression per turn; the flip count is a lag window inside the conv
    partition (narrow, no extra shuffle past the conv repartition);
    source dim broadcast."""
    tr = transcripts_from_documents(spark, sf_dir)
    lang = tr.select(
        "conv_id", "turn_idx", TXT.lang_id(F.col("text")).alias("lang")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flips = (
        lang.withColumn("prev", F.lag("lang").over(w))
        .withColumn(
            "flip",
            (F.col("prev").isNotNull() & (F.col("lang") != F.col("prev"))).cast(
                "long"
            ),
        )
        .groupBy("conv_id")
        .agg(F.sum("flip").alias("n_flips"), F.count("*").alias("n_turns"))
    )
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), "source"
    )
    return (
        flips.join(F.broadcast(d), "conv_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_convs"),
            F.sum((F.col("n_flips") > 0).cast("long"))
            .cast("long")
            .alias("n_switching"),
            F.sum("n_flips").cast("long").alias("n_flips"),
            F.sum("n_turns").cast("long").alias("n_turns"),
        )
        .withColumn(
            "switch_rate_e4",
            F.expr("(20000 * n_switching + n_convs) div (2 * n_convs)")
            .cast("long"),
        )
        .orderBy("source")
    )


def q121_quality_dup_correlation(spark, sf_dir):
    """Quality-decile x duplication cross-tab: per q23 quality-score
    decile, the share of documents living in a near-dup family (>= 2
    members, q24 contract) -- the empirical answer to 'is duplicated
    text disproportionately LOW quality?', which decides whether dedup
    and quality filtering are redundant gates (drop one pass at 100 TB)
    or orthogonal ones (keep both).  Quality is rounded to 4dp BEFORE
    the decile cut on both engines, and the decile is the only float
    arithmetic in the output.  Plan: memoized clusters + one broadcast
    cluster-size dim; the corpus pays one codegen'd quality projection,
    no new pair work."""
    res = documents_dedup_result(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.round(TXT.quality_score(F.col("text")), 4).alias("quality"),
    )
    fam = (
        res.clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("sz"))
        .where(F.col("sz") >= 2)
    )
    dup = res.clusters.join(F.broadcast(fam), "cluster_id").select(
        "conv_id", F.lit(1).alias("is_dup")
    )
    flagged = d.join(dup, "conv_id", "left")
    return (
        flagged.groupBy(
            F.least(F.floor(F.col("quality") * 10), F.lit(9))
            .cast("long")
            .alias("quality_decile")
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum("is_dup"), F.lit(0)).cast("long").alias("n_dup"),
        )
        .withColumn(
            "dup_rate_e4",
            F.expr("(20000 * n_dup + n_docs) div (2 * n_docs)").cast("long"),
        )
        .orderBy("quality_decile")
    )


def q122_dup_mass_concentration(spark, sf_dir):
    """Dup-mass Lorenz head: how much of the corpus's duplicated-doc
    mass sits in the single biggest near-dup family and in the top 10
    (ties broken by cluster_id so both engines pick the same ten) --
    the giant-component early-warning that sizes the CC solver's skew
    risk at 10^12 turns: a flat profile parallelizes cleanly, a
    one-mega-cluster profile needs the salted-star path and keeper
    batching.  Single-row output; integer shares.  Plan: runs entirely
    on the memoized cluster-size dim (O(#clusters) rows); the top-10
    window sorts a pre-aggregated table, never members."""
    res = documents_dedup_result(spark, sf_dir)
    fam = (
        res.clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("sz"))
        .where(F.col("sz") >= 2)
    )
    w = Window.orderBy(F.desc("sz"), "cluster_id")
    ranked = fam.withColumn("rk", F.row_number().over(w))
    return ranked.agg(
        F.count("*").cast("long").alias("n_families"),
        F.sum("sz").cast("long").alias("n_dup_docs"),
        F.max("sz").cast("long").alias("max_family"),
        F.round(F.expr("percentile(sz, 0.5)"), 4).alias("p50_family"),
        F.sum(F.when(F.col("rk") <= 1, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("top1_docs"),
        F.sum(F.when(F.col("rk") <= 10, F.col("sz")).otherwise(0))
        .cast("long")
        .alias("top10_docs"),
    ).select(
        "n_families",
        "n_dup_docs",
        "max_family",
        "p50_family",
        F.expr("(20000 * top1_docs + n_dup_docs) div (2 * n_dup_docs)")
        .cast("long")
        .alias("top1_share_e4"),
        F.expr("(20000 * top10_docs + n_dup_docs) div (2 * n_dup_docs)")
        .cast("long")
        .alias("top10_share_e4"),
    )


def q123_shingle_k_ablation(spark, sf_dir):
    """Shingle-width ablation at the pipeline threshold: verified
    >= 0.7-jaccard pair count and mean jaccard at k = 2, 3, 5 word
    shingles -- the evidence under the config pin (BASELINE: cluster
    parity holds only 'under the identical shingle/signature config'):
    k=2 admits looser pairs (recall up, precision down), k=5 demands
    longer verbatim runs; the k=3 row must reproduce q24's edge count.
    Integer jaccard and means.  Plan: three postings joins over
    progressively rarer gram keys; at corpus scale each k is one
    signature config of the same LSH machinery, so the ablation runs
    as three banded passes, never three closures."""
    from ..functions.portable import word_grams
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")

    def tier(k):
        g = d.select(
            F.col("doc_id").alias("id"),
            F.explode(word_grams(tokens(F.col("text")), k)).alias("gram"),
        )
        sz = g.groupBy("id").agg(F.count("*").alias("n"))
        inter = (
            g.select(F.col("id").alias("ida"), "gram")
            .join(g.select(F.col("id").alias("idb"), "gram"), "gram")
            .where(F.col("ida") < F.col("idb"))
            .groupBy("ida", "idb")
            .agg(F.count("*").alias("i"))
        )
        pairs = (
            inter.join(
                sz.select(F.col("id").alias("ida"), F.col("n").alias("na")), "ida"
            )
            .join(sz.select(F.col("id").alias("idb"), F.col("n").alias("nb")), "idb")
            .where(17 * F.col("i") >= 7 * (F.col("na") + F.col("nb")))
            .withColumn(
                "j_e4",
                F.expr("(20000 * i + (na + nb - i)) div (2 * (na + nb - i))"),
            )
        )
        return pairs.agg(
            F.lit(k).cast("long").alias("k"),
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "CASE WHEN count(*) = 0 THEN 0"
                " ELSE (2 * sum(j_e4) + count(*)) div (2 * count(*)) END"
            )
            .cast("long")
            .alias("mean_jacc_e4"),
        )

    return tier(2).union(tier(3)).union(tier(5)).orderBy("k")


def q124_band_collision_profile(spark, sf_dir):
    """Empirical LSH S-curve for the portable 16-lane MinHash cut into
    b=4 bands x r=4 rows: per exact-jaccard decile, the mean number of
    fully-colliding bands and the share of pairs with >= 1 collision
    (the actual candidate probability the band index realizes).
    Theory says P(candidate) = 1 - (1 - J^4)^4; this measures it on
    real signatures so q65's analytic planning has an empirical anchor
    at the production band shape, not just per-lane calibration (q109).
    Integer throughout (collide fraction = bands * 2500).  Plan: same
    lane explode as q109; the band rollup is two map-side-combined
    aggs over (pair, band) rows; pair stream is u01-sampled at corpus
    scale."""
    from ..functions.portable import md5_long60, word_grams
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    g = d.select(
        F.col("doc_id").alias("id"),
        F.explode(word_grams(tokens(F.col("text")), 3)).alias("gram"),
    )
    lanes = g.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda p: md5_long60(
                    F.concat(F.col("gram"), F.lit("|"), p.cast("string"))
                ),
            )
        ).alias("p", "h"),
    )
    sig = lanes.groupBy("id", "p").agg(F.min("h").alias("h"))
    sz = g.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        g.select(F.col("id").alias("ida"), "gram")
        .join(g.select(F.col("id").alias("idb"), "gram"), "gram")
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("i"))
    )
    pairs = (
        inter.join(sz.select(F.col("id").alias("ida"), F.col("n").alias("na")), "ida")
        .join(sz.select(F.col("id").alias("idb"), F.col("n").alias("nb")), "idb")
        .withColumn("u", F.col("na") + F.col("nb") - F.col("i"))
    )
    sa = sig.select(F.col("id").alias("ida"), "p", F.col("h").alias("ha"))
    sb = sig.select(F.col("id").alias("idb"), "p", F.col("h").alias("hb"))
    perband = (
        pairs.select("ida", "idb")
        .join(sa, "ida")
        .join(sb, ["idb", "p"])
        .groupBy("ida", "idb", F.expr("p div 4").alias("band"))
        .agg(F.sum((F.col("ha") == F.col("hb")).cast("long")).alias("meq"))
    )
    perpair = perband.groupBy("ida", "idb").agg(
        F.sum((F.col("meq") == 4).cast("long")).alias("cb")
    )
    scored = pairs.join(perpair, ["ida", "idb"]).select(
        F.expr("(10 * i) div u").cast("long").alias("decile"),
        F.col("cb"),
        (F.col("cb") >= 1).cast("long").alias("hit"),
        F.expr("(20000 * i + u) div (2 * u)").alias("exact_e4"),
    )
    return (
        scored.groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("(2 * sum(exact_e4) + count(*)) div (2 * count(*))")
            .cast("long")
            .alias("mean_exact_e4"),
            F.expr("(2 * sum(cb * 2500) + count(*)) div (2 * count(*))")
            .cast("long")
            .alias("mean_collide_e4"),
            F.expr("(20000 * sum(hit) + count(*)) div (2 * count(*))")
            .cast("long")
            .alias("hit_rate_e4"),
        )
        .orderBy("decile")
    )


def q125_role_gram_divergence(spark, sf_dir):
    """User-vs-assistant vocabulary split per source: distinct 3-gram
    counts on each side of the role boundary, their jaccard, and the
    share of user grams the assistant never utters -- a high exclusive
    share means the roles carry genuinely different content (keep
    both), a near-1.0 jaccard means the assistant mostly replays the
    user (q104's echo at corpus granularity, and an SFT-mix red flag).
    One-pass plan: group by (source, gram) with boolean role flags --
    no self-join, one shuffle of distinct-gram rows."""
    from ..functions.portable import word_grams

    tr = transcripts_from_documents(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("conv_id"), "source"
    )
    g = (
        tr.join(F.broadcast(d), "conv_id")
        .select(
            "source",
            "role",
            F.explode(word_grams(F.split(F.col("text"), " "), 3)).alias("gram"),
        )
        .groupBy("source", "gram")
        .agg(
            F.max((F.col("role") == "user").cast("long")).alias("in_user"),
            F.max((F.col("role") == "assistant").cast("long")).alias("in_ast"),
        )
    )
    return (
        g.groupBy("source")
        .agg(
            F.sum("in_user").cast("long").alias("n_user_grams"),
            F.sum("in_ast").cast("long").alias("n_ast_grams"),
            F.sum(F.col("in_user") * F.col("in_ast")).cast("long").alias("n_shared"),
        )
        .select(
            "source",
            "n_user_grams",
            "n_ast_grams",
            "n_shared",
            F.expr(
                "(20000 * n_shared + (n_user_grams + n_ast_grams - n_shared))"
                " div (2 * (n_user_grams + n_ast_grams - n_shared))"
            )
            .cast("long")
            .alias("jaccard_e4"),
            F.expr(
                "(20000 * (n_user_grams - n_shared) + n_user_grams)"
                " div (2 * n_user_grams)"
            )
            .cast("long")
            .alias("user_excl_share_e4"),
        )
        .orderBy("source")
    )


def q126_conv_dup_by_length(spark, sf_dir):
    """Dup rate by conversation length: share of convs in a >= 2-member
    near-dup family per turn-count bucket (1, 2, ..., 6+) -- short
    scripted exchanges duplicate far more than long organic ones, and
    this cross-tab is what justifies length-stratified dedup budgets
    (spend the band index's memory on the short-conv strata where dup
    mass lives).  Plan: memoized clusters + one per-conv turn count;
    the family dim broadcasts."""
    res = documents_dedup_result(spark, sf_dir)
    tr = transcripts_from_documents(spark, sf_dir)
    lens = tr.groupBy("conv_id").agg(F.count("*").alias("n_turns"))
    fam = (
        res.clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("sz"))
        .where(F.col("sz") >= 2)
    )
    dup = res.clusters.join(F.broadcast(fam), "cluster_id").select(
        "conv_id", F.lit(1).alias("is_dup")
    )
    return (
        lens.join(dup, "conv_id", "left")
        .groupBy(F.least(F.col("n_turns"), F.lit(6)).cast("long").alias("turn_bucket"))
        .agg(
            F.count("*").cast("long").alias("n_convs"),
            F.coalesce(F.sum("is_dup"), F.lit(0)).cast("long").alias("n_dup"),
        )
        .withColumn(
            "dup_rate_e4",
            F.expr("(20000 * n_dup + n_convs) div (2 * n_convs)").cast("long"),
        )
        .orderBy("turn_bucket")
    )


def q127_winnowing_pairs(spark, sf_dir):
    """Winnowing-fingerprint near-dup pairs (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 -- the MOSS algorithm): hash every 3-gram, slide a w=4
    window over the hash sequence, keep each window's MINIMUM hash; the
    distinct kept hashes are the doc's fingerprints, and the guarantee
    is positional -- any shared token run spanning w+2 grams MUST
    contribute a shared fingerprint, regardless of where it sits in
    either doc.  That makes this the third, position-robust member of
    the dedup family: q24/q111 compare whole-doc gram sets, q47
    compares fixed-stride windows, winnowing selects ~1/w of the gram
    mass adaptively and still cannot miss a long shared run.  Pairs
    at fingerprint-set jaccard >= 0.5 (integer form).  Plan: one
    posexplode + a rows-between-(0,3) running min inside the doc
    partition (no shuffle past the doc repartition), distinct, then
    the same postings-join shape as q111 -- at corpus scale the
    fingerprint postings ARE the band index keys (each fingerprint a
    bucket), so candidate generation is a bucket join, never a
    closure."""
    from ..functions.portable import md5_long60, word_grams_all
    from ..functions.text import tokens

    d = _td(spark, sf_dir, "documents", "doc_id")
    _tag = object()
    # gram hashes feed the last-pos agg AND the window pass; fingerprints
    # feed the sizes agg AND both self-join sides -- scratch both so the
    # tokenize+gram+md5 pass and the window run once per invocation
    hashed = _scratch(
        d.select(
            F.col("doc_id").alias("id"),
            F.posexplode(word_grams_all(tokens(F.col("text")), 3)).alias("pos", "gram"),
        ).select("id", "pos", md5_long60(F.col("gram")).alias("h")),
        tag=_tag,
    )
    m = hashed.groupBy("id").agg(F.max("pos").alias("last_pos"))
    w = Window.partitionBy("id").orderBy("pos").rowsBetween(0, 3)
    fps = _scratch(
        hashed.withColumn("wmin", F.min("h").over(w))
        .join(m, "id")
        .where(F.col("pos") <= F.col("last_pos") - 3)
        .select("id", F.col("wmin").alias("fp"))
        .distinct(),
        tag=_tag,
    )
    sz = fps.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        fps.select(F.col("id").alias("ida"), "fp")
        .join(fps.select(F.col("id").alias("idb"), "fp"), "fp")
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("i"))
    )
    out = (
        inter.join(sz.select(F.col("id").alias("ida"), F.col("n").alias("na")), "ida")
        .join(sz.select(F.col("id").alias("idb"), F.col("n").alias("nb")), "idb")
        .where(3 * F.col("i") >= F.col("na") + F.col("nb"))
        .select(
            "ida",
            "idb",
            F.expr("(20000 * i + (na + nb - i)) div (2 * (na + nb - i))")
            .cast("long")
            .alias("fp_jacc_e4"),
        )
    )
    # tiny pre-sort scratch: avoid the range-sampling double execution
    return _scratch(out, tag=_tag).orderBy("ida", "idb")


def q128_idf_weighted_pairs(spark, sf_dir):
    """IDF-weighted jaccard near-dup pairs: every distinct 3-gram
    carries the global integer weight 1000000 div df, so two docs
    sharing RARE content score high even when their common boilerplate
    is diluted, and boilerplate-only pairs (every gram in hundreds of
    docs, weight ~0) drop out -- the inverse failure mode of q112's
    tf weighting and the pair-level answer to q74's boilerplate-gram
    inventory.  Because the weight is a GLOBAL per-gram constant, the
    intersection weight is a plain postings-join sum and every number
    is an integer (no logs, no floats).  Threshold 0.5 in the integer
    form 3*iw >= wa + wb.  Plan: one df agg (broadcast as the weight
    dim), weighted postings join; at corpus scale the q111 prefix
    filter applies verbatim with weight-descending gram order."""
    from ..functions.portable import word_grams
    from ..functions.text import tokens

    d = _td(spark, sf_dir, "documents", "doc_id")
    _tag = object()
    g = _scratch(
        d.select(
            F.col("doc_id").alias("id"),
            F.explode(word_grams(tokens(F.col("text")), 3)).alias("gram"),
        ),
        tag=_tag,
    )
    wts = g.groupBy("gram").agg(
        F.expr("1000000 div count(*)").cast("long").alias("wt")
    )
    # weighted postings feed the doc totals and BOTH pair-join sides
    gw = _scratch(g.join(wts, "gram"), tag=_tag)
    docw = gw.groupBy("id").agg(F.sum("wt").alias("tw"))
    inter = (
        gw.select(F.col("id").alias("ida"), "gram", "wt")
        .join(gw.select(F.col("id").alias("idb"), "gram"), ["gram"])
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.sum("wt").alias("iw"))
    )
    out = (
        inter.join(docw.select(F.col("id").alias("ida"), F.col("tw").alias("wa")), "ida")
        .join(docw.select(F.col("id").alias("idb"), F.col("tw").alias("wb")), "idb")
        .where(3 * F.col("iw") >= F.col("wa") + F.col("wb"))
        .select(
            "ida",
            "idb",
            F.expr("(20000 * iw + (wa + wb - iw)) div (2 * (wa + wb - iw))")
            .cast("long")
            .alias("idf_jacc_e4"),
        )
    )
    # tiny pre-sort scratch: avoid the range-sampling double execution
    return _scratch(out, tag=_tag).orderBy("ida", "idb")


def q129_minhash_k_error(spark, sf_dir):
    """Signature-width error ablation: mean |MinHash estimate - exact
    jaccard| over the verified >= 0.7 pair set at k = 4, 8, 16 lanes of
    the portable MinHash -- the third leg of the sketch-accuracy suite
    (q109: per-decile calibration at k=16; q115: 1-bit quantization;
    q124: band-shape S-curve) and the direct cost curve behind 'how
    many lanes can an index shed before verify-stage precision moves'.
    The k-lane estimate reuses PREFIXES of the same 16 lanes (lane p <
    k), so the three tiers share one signature build and the ablation
    isolates width, not seeds.  Integer math: est_e4 = m * (10000
    div k) with k dividing 10000 exactly at 4/8/16... (2500/1250/625).
    Plan: one lane explode; three conditional aggs over the same
    (pair, lane) rows -- no extra joins per tier."""
    from ..functions.portable import md5_long60, word_grams
    from ..functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    g = d.select(
        F.col("doc_id").alias("id"),
        F.explode(word_grams(tokens(F.col("text")), 3)).alias("gram"),
    )
    lanes = g.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda p: md5_long60(
                    F.concat(F.col("gram"), F.lit("|"), p.cast("string"))
                ),
            )
        ).alias("p", "h"),
    )
    sig = lanes.groupBy("id", "p").agg(F.min("h").alias("h"))
    sz = g.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        g.select(F.col("id").alias("ida"), "gram")
        .join(g.select(F.col("id").alias("idb"), "gram"), "gram")
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count("*").alias("i"))
    )
    pairs = (
        inter.join(sz.select(F.col("id").alias("ida"), F.col("n").alias("na")), "ida")
        .join(sz.select(F.col("id").alias("idb"), F.col("n").alias("nb")), "idb")
        .where(17 * F.col("i") >= 7 * (F.col("na") + F.col("nb")))
        .withColumn("u", F.col("na") + F.col("nb") - F.col("i"))
    )
    sa = sig.select(F.col("id").alias("ida"), "p", F.col("h").alias("ha"))
    sb = sig.select(F.col("id").alias("idb"), "p", F.col("h").alias("hb"))
    perpair = (
        pairs.select("ida", "idb", "i", "u")
        .join(sa, "ida")
        .join(sb, ["idb", "p"])
        .groupBy("ida", "idb", "i", "u")
        .agg(
            F.sum(((F.col("ha") == F.col("hb")) & (F.col("p") < 4)).cast("long")).alias("m4"),
            F.sum(((F.col("ha") == F.col("hb")) & (F.col("p") < 8)).cast("long")).alias("m8"),
            F.sum((F.col("ha") == F.col("hb")).cast("long")).alias("m16"),
        )
        .withColumn("exact_e4", F.expr("(20000 * i + u) div (2 * u)"))
    )

    stats = perpair.agg(
        F.count("*").alias("np"),
        F.coalesce(F.sum(F.expr("abs(m4 * 2500 - exact_e4)")), F.lit(0)).alias("s4"),
        F.coalesce(F.max(F.expr("abs(m4 * 2500 - exact_e4)")), F.lit(0)).alias("x4"),
        F.coalesce(F.sum(F.expr("abs(m8 * 1250 - exact_e4)")), F.lit(0)).alias("s8"),
        F.coalesce(F.max(F.expr("abs(m8 * 1250 - exact_e4)")), F.lit(0)).alias("x8"),
        F.coalesce(F.sum(F.expr("abs(m16 * 625 - exact_e4)")), F.lit(0)).alias("s16"),
        F.coalesce(F.max(F.expr("abs(m16 * 625 - exact_e4)")), F.lit(0)).alias("x16"),
    )
    return (
        stats.selectExpr(
            "stack(3,"
            " 4, np, CASE WHEN np = 0 THEN 0 ELSE (2 * s4 + np) div (2 * np) END, x4,"
            " 8, np, CASE WHEN np = 0 THEN 0 ELSE (2 * s8 + np) div (2 * np) END, x8,"
            " 16, np, CASE WHEN np = 0 THEN 0 ELSE (2 * s16 + np) div (2 * np) END, x16"
            ") AS (k, n_pairs, mean_abs_err_e4, max_abs_err_e4)"
        )
        .selectExpr(
            "CAST(k AS BIGINT) AS k",
            "CAST(n_pairs AS BIGINT) AS n_pairs",
            "CAST(mean_abs_err_e4 AS BIGINT) AS mean_abs_err_e4",
            "CAST(max_abs_err_e4 AS BIGINT) AS max_abs_err_e4",
        )
        .orderBy("k")
    )


def q130_turn_dedup_savings(spark, sf_dir):
    """Token budget the turn tier would recover: total tokens sitting
    in cross-conv near-dup turns (q117 contract) per role, as count and
    corpus share -- q117 reports turn COUNTS, this prices them in the
    unit a curator budgets (tokens), the number that decides whether
    turn-granular dedup is worth its index at 10^12 turns.  A dup turn
    is counted once regardless of partner multiplicity.  Plan: q117's
    postings join reused; token sizes ride the turn key, one final
    rollup."""
    from ..functions.portable import word_grams

    tr = transcripts_from_documents(spark, sf_dir)
    base = tr.select(
        "conv_id",
        "turn_idx",
        "role",
        F.size(F.split(F.col("text"), " ")).alias("n_toks"),
    )
    g = tr.select(
        "conv_id",
        "turn_idx",
        F.explode(word_grams(F.split(F.col("text"), " "), 3)).alias("gram"),
    )
    sz = g.groupBy("conv_id", "turn_idx").agg(F.count("*").alias("n"))
    a = g.select(F.col("conv_id").alias("ca"), F.col("turn_idx").alias("ta"), "gram")
    b = g.select(F.col("conv_id").alias("cb"), F.col("turn_idx").alias("tb"), "gram")
    inter = (
        a.join(b, "gram")
        .where(F.col("ca") < F.col("cb"))
        .groupBy("ca", "ta", "cb", "tb")
        .agg(F.count("*").alias("i"))
    )
    qual = (
        inter.join(
            sz.select(
                F.col("conv_id").alias("ca"),
                F.col("turn_idx").alias("ta"),
                F.col("n").alias("na"),
            ),
            ["ca", "ta"],
        )
        .join(
            sz.select(
                F.col("conv_id").alias("cb"),
                F.col("turn_idx").alias("tb"),
                F.col("n").alias("nb"),
            ),
            ["cb", "tb"],
        )
        .where(17 * F.col("i") >= 7 * (F.col("na") + F.col("nb")))
    )
    dup_turns = (
        qual.select(F.col("ca").alias("conv_id"), F.col("ta").alias("turn_idx"))
        .union(qual.select(F.col("cb").alias("conv_id"), F.col("tb").alias("turn_idx")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        base.join(dup_turns, ["conv_id", "turn_idx"], "left")
        .groupBy("role")
        .agg(
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.coalesce(F.sum(F.col("n_toks") * F.col("is_dup")), F.lit(0))
            .cast("long")
            .alias("n_dup_tokens"),
        )
        .withColumn(
            "dup_token_share_e4",
            F.expr("(20000 * n_dup_tokens + n_tokens) div (2 * n_tokens)")
            .cast("long"),
        )
        .orderBy("role")
    )
