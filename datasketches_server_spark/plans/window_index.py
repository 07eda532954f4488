"""Persisted window-occurrence index: incremental ExactSubstr.

The band index (plans/band_index.py) gave MinHash dedup its accumulator;
this module gives the ExactSubstr family the same property: a daily
batch must never re-window the old corpus.  The reference's accumulator
rule again (/root/reference/README.md:377-379): merge new state into old
state, never re-derive old state.

Key insight that makes the increment exact: cross-document duplicate
COVERAGE IS MONOTONE.  Documents are immutable, so an old document's
covered set can only GROW, and it grows in exactly one way -- a window
that used to be a single-document orphan gets matched by a new batch
("woken").  Therefore the index stores, per distinct window key:

  * ``nd``   -- distinct docs seen so far
  * ``sid`` / ``spositions`` -- iff nd == 1, the one doc and ALL its
    positions for that window (so waking it covers every occurrence,
    matching the full recompute)

and the per-doc coverage state is the q49 span list (maximal merged
intervals), written as per-batch DELTAS: a batch writes spans only for
docs it touched (new docs + woken old docs); readers take the latest
delta per doc (coverage monotonicity means latest-wins is exact, no
tombstones possible).

Per-batch cost: window-explode runs over the BATCH only; the index is
probed with a broadcast of the batch's window keys (no shuffle of the
index); the span merge re-islands only touched docs.  Nothing scales
with the corpus except sequential columnar scans of the index -- the
same contract the band index certifies in artifacts/BENCH_incremental.json.

Scale tier only (wkey = xxhash64 of the window string): the narrow-row
shape.  Equality with a full recompute is asserted against the same
hash tier so both sides share collision behavior (collisions at 64 bits
are negligible and identical on both paths).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WINDEX_STAGE = "windex"
SPANS_STAGE = "wspans"
BASE_STAGE = "wbase"


def _dir(workdir: str, stage: str, window: int, fp: str) -> str:
    return os.path.join(workdir, stage, f"w{window}_{fp}")


def _wins(
    docs: DataFrame,
    window: int,
    id_col: str,
    text_col: str,
    with_toks: bool = False,
):
    """(base, wins) as operators/dedup._token_windows produces them.
    ``with_toks=True`` keeps the normalized token array on the base
    relation (the deletability opt-in: retract_window_chain can then
    rebuild the stores without the original text, at the price of
    storing a normalized copy of the corpus in the base stage)."""
    from ..operators.dedup import _token_windows

    if not with_toks:
        return _token_windows(docs, window, id_col, text_col, exact=False)
    from ..functions.text import tokens

    base = (
        docs.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
        .withColumn("n_tokens", F.size("toks").cast("long"))
        .where(F.col("n_tokens") >= window)
    )
    return base, _wins_of_base(base, window)


def _chain_windex_latest(
    spark: SparkSession,
    workdir: str,
    window: int,
    chain: list[str],
    probe: DataFrame | None = None,
) -> DataFrame:
    """Latest-wins window-index row per wkey across a delta chain
    (later fp supersedes earlier; one row per wkey within each delta).
    ``probe`` (a small wkey relation) broadcast-filters every delta
    before the union so only the probed subset shuffles."""
    from pyspark.sql import Window as W

    wix = None
    for seq, fp in enumerate(chain):
        d = spark.read.parquet(_dir(workdir, WINDEX_STAGE, window, fp))
        if probe is not None:
            d = d.join(F.broadcast(probe), "wkey")
        d = d.select("wkey", "nd", "sid", "spositions", F.lit(seq).alias("_seq"))
        wix = d if wix is None else wix.unionByName(d)
    return (
        wix.withColumn(
            "_rk", F.row_number().over(W.partitionBy("wkey").orderBy(F.desc("_seq")))
        )
        .where(F.col("_rk") == 1)
        .drop("_rk", "_seq")
    )


def _chain_spans_latest(
    spark: SparkSession,
    workdir: str,
    window: int,
    chain: list[str],
    probe: DataFrame | None = None,
) -> DataFrame:
    """Latest-wins span rows per doc across a delta chain (a delta
    rewrites ALL spans of every doc it touches, so the newest delta
    holding a doc is that doc's complete span set).  ``probe`` (a small
    id relation) broadcast-filters every delta before the union."""
    from pyspark.sql import Window as W

    spans = None
    for seq, fp in enumerate(chain):
        d = spark.read.parquet(_dir(workdir, SPANS_STAGE, window, fp))
        if probe is not None:
            d = d.join(F.broadcast(probe), "id")
        d = d.withColumn("_seq", F.lit(seq))
        spans = d if spans is None else spans.unionByName(d)
    return (
        spans.withColumn("_mx", F.max("_seq").over(W.partitionBy("id")))
        .where(F.col("_seq") == F.col("_mx"))
        .select("id", "span_start", "span_end")
    )


def _chain_base(spark: SparkSession, workdir: str, window: int, chain: list[str]) -> DataFrame:
    # allowMissingColumns: deltas written with store_tokens=True carry a
    # toks column older deltas lack; mixed chains read with NULL toks
    # (retract_window_chain rejects those explicitly)
    base = None
    for fp in chain:
        b = spark.read.parquet(_dir(workdir, BASE_STAGE, window, fp))
        base = b if base is None else base.unionByName(b, allowMissingColumns=True)
    return base


def _merge_intervals(iv: DataFrame) -> DataFrame:
    """(id, start, end) arbitrary overlapping intervals -> maximal
    merged islands per id.  Same gaps-and-islands shape as
    operators/dedup._interval_union_tokens but for variable-length
    intervals: an island starts where start clears the running max end
    of every earlier interval (ordered by start)."""
    from pyspark.sql import Window as W

    w_seq = W.partitionBy("id").orderBy("start", "end")
    prev_end = F.max("end").over(w_seq.rowsBetween(W.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_isl",
        F.when(prev_end.isNull() | (F.col("start") > prev_end), 1).otherwise(0),
    )
    return (
        marked.withColumn("island", F.sum("new_isl").over(w_seq))
        .groupBy("id", "island")
        .agg(F.min("start").alias("span_start"), F.max("end").alias("span_end"))
        .select("id", "span_start", "span_end")
    )


def _wins_of_base(base: DataFrame, window: int) -> DataFrame:
    """Re-derive window rows from a stored base (id, toks, n_tokens) --
    the same explode + xxhash64 keying _token_windows produces, so a
    rebuild from stored token arrays is bit-identical to one from the
    original text."""
    win_str = lambda s: F.concat_ws(" ", F.slice("toks", s + 1, window))  # noqa: E731
    return base.select(
        "id",
        "n_tokens",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_tokens").cast("int") - window),
                lambda s: F.xxhash64(win_str(s)),
            )
        ).alias("pos", "wkey"),
    )


def _write_stores(
    base: DataFrame,
    wins: DataFrame,
    workdir: str,
    window: int,
    out_fp: str,
    units: int,
) -> dict:
    """Derive + write all three stores (windex, spans, base) for one
    snapshot fp from a (base, wins) pair.  Shared by the bootstrap
    (write_window_index) and the erasure fold (retract_window_chain) so
    the two paths can never diverge."""
    wins = wins.persist()
    nd = wins.groupBy("wkey").agg(F.count_distinct("id").alias("nd"))
    singles = (
        wins.join(nd.where(F.col("nd") == 1).select("wkey"), "wkey", "leftsemi")
        .groupBy("wkey")
        .agg(
            F.min("id").alias("sid"),
            F.sort_array(F.collect_list("pos")).alias("spositions"),
        )
    )
    windex = (
        nd.join(singles, "wkey", "left")
        .withColumn("_unit", F.pmod(F.col("wkey"), F.lit(units)).cast("int"))
    )
    windex.write.mode("overwrite").partitionBy("_unit").parquet(
        _dir(workdir, WINDEX_STAGE, window, out_fp)
    )
    flagged = nd.where(F.col("nd") >= 2).select("wkey")
    occ = wins.join(flagged, "wkey", "leftsemi").select(
        "id", F.col("pos").alias("start"), (F.col("pos") + window).alias("end")
    )
    _merge_intervals(occ).write.mode("overwrite").parquet(
        _dir(workdir, SPANS_STAGE, window, out_fp)
    )
    base.write.mode("overwrite").parquet(_dir(workdir, BASE_STAGE, window, out_fp))
    n_rows = wins.count()
    wins.unpersist()
    return {"window_rows": n_rows}


def write_window_index(
    docs: DataFrame,
    workdir: str,
    window: int = 8,
    input_fp: str = "base",
    id_col: str = "doc_id",
    text_col: str = "text",
    units: int = 8,
    store_tokens: bool = False,
) -> dict:
    """Bootstrap the index from an existing corpus (one full pass --
    the LAST full pass this corpus ever needs).  ``store_tokens=True``
    keeps each doc's normalized token array in the base stage: the
    deletability opt-in that lets retract_window_chain rebuild the
    stores without the original text, for a normalized-corpus-sized
    storage cost."""
    base, wins = _wins(docs, window, id_col, text_col, with_toks=store_tokens)
    return _write_stores(base, wins, workdir, window, input_fp, units)


def absorb_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    workdir: str,
    window: int = 8,
    chain: list[str] | None = None,
    batch_fp: str = "b1",
    id_col: str = "doc_id",
    text_col: str = "text",
    units: int = 8,
    store_tokens: bool = False,
) -> dict:
    """Fold a new batch into the index.  Windows ONLY the batch; probes
    the stored index via a broadcast of the batch's window keys; writes
    per-batch deltas (index rows for keys the batch created or changed,
    spans for docs the batch touched).  Returns work counters so tests
    can pin the O(|batch|) contract.

    chain: ordered fps already absorbed (base first).  Batches must
    carry ids unseen in the chain (immutable corpus, the same contract
    incremental_dedup documents)."""
    chain = chain or ["base"]
    base, bwins = _wins(new_docs, window, id_col, text_col, with_toks=store_tokens)
    bwins = bwins.persist()
    batch_window_rows = bwins.count()

    # current index rows for keys present in the batch: probe each delta
    # with a broadcast join, then latest-wins (later fp in the chain
    # supersedes earlier) on the batch-scaled matched subset only
    bkeys = bwins.select("wkey").distinct()
    latest = _chain_windex_latest(spark, workdir, window, chain, probe=bkeys).persist()

    joined = bwins.join(latest, "wkey", "left").persist()
    # batch positions covered: key already known to the corpus (nd>=1:
    # the batch occurrence collides with at least one other doc), or
    # key shared by >=2 distinct batch docs
    batch_flagged_new = (
        joined.where(F.col("nd").isNull())
        .select("wkey", "id")
        .distinct()
        .groupBy("wkey")
        .agg(F.count("*").alias("bnd"))
        .where(F.col("bnd") >= 2)
        .select("wkey")
    )
    covered_batch = joined.where(F.col("nd").isNotNull()).select("id", "pos").unionByName(
        joined.join(F.broadcast(batch_flagged_new), "wkey", "leftsemi").select("id", "pos")
    )
    # woken old singletons: nd==1 keys the batch matched -> every stored
    # position of the one old doc becomes covered
    woken = (
        joined.where(F.col("nd") == 1)
        .select("wkey", "sid", "spositions")
        .distinct()
        .select(F.col("sid").alias("id"), F.explode("spositions").alias("pos"))
        .distinct()
    )
    n_woken = woken.count()

    new_intervals = covered_batch.unionByName(woken).select(
        "id", F.col("pos").alias("start"), (F.col("pos") + window).alias("end")
    )
    touched = new_intervals.select("id").distinct()
    n_touched = touched.count()

    # old spans of touched docs (latest delta per doc, batch-scaled via
    # broadcast probe), merged with the new intervals
    latest_spans = _chain_spans_latest(
        spark, workdir, window, chain, probe=touched
    ).select("id", F.col("span_start").alias("start"), F.col("span_end").alias("end"))
    merged = _merge_intervals(latest_spans.unionByName(new_intervals))
    merged.write.mode("overwrite").parquet(_dir(workdir, SPANS_STAGE, window, batch_fp))

    # index delta: every key the batch touched gets a fresh row --
    # updated nd (old nd + newly-contributed distinct batch docs); keys
    # no longer singletons drop their stored positions
    batch_nd = bwins.select("wkey", "id").distinct().groupBy("wkey").agg(
        F.count("*").alias("bnd")
    )
    new_singles = (
        bwins.join(F.broadcast(batch_nd.where(F.col("bnd") == 1).select("wkey")), "wkey", "leftsemi")
        .join(F.broadcast(latest.select("wkey")), "wkey", "left_anti")
        .groupBy("wkey")
        .agg(
            F.min("id").alias("sid"),
            F.sort_array(F.collect_list("pos")).alias("spositions"),
        )
    )
    delta = (
        batch_nd.join(latest, "wkey", "left")
        .select(
            "wkey",
            (F.coalesce(F.col("nd"), F.lit(0)) + F.col("bnd")).alias("nd"),
        )
        .join(new_singles, "wkey", "left")
        # a previously-unknown key held by ONE batch doc stays a singleton
        .withColumn(
            "nd",
            F.when(F.col("sid").isNotNull(), F.lit(1)).otherwise(F.col("nd")),
        )
        .withColumn("_unit", F.pmod(F.col("wkey"), F.lit(units)).cast("int"))
    )
    delta.write.mode("overwrite").partitionBy("_unit").parquet(
        _dir(workdir, WINDEX_STAGE, window, batch_fp)
    )
    base.write.mode("overwrite").parquet(_dir(workdir, BASE_STAGE, window, batch_fp))

    joined.unpersist()
    latest.unpersist()
    bwins.unpersist()
    return {
        "batch_window_rows": batch_window_rows,
        "woken_singleton_positions": n_woken,
        "touched_docs": n_touched,
    }


def read_coverage(
    spark: SparkSession, workdir: str, window: int = 8, chain: list[str] | None = None
) -> DataFrame:
    """(id, n_tokens, dup_tokens, dup_frac) of the whole indexed corpus:
    latest span delta per doc, summed, left-joined onto the base docs --
    the incremental equivalent of cross_doc_duplicate_coverage."""
    chain = chain or ["base"]
    latest = _chain_spans_latest(spark, workdir, window, chain)
    base = _chain_base(spark, workdir, window, chain)
    cov = latest.groupBy("id").agg(
        F.sum(F.col("span_end") - F.col("span_start")).cast("long").alias("covered")
    )
    return base.join(cov, "id", "left").select(
        "id",
        "n_tokens",
        F.coalesce(F.col("covered"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.round(
            F.coalesce(F.col("covered"), F.lit(0)) / F.col("n_tokens").cast("double"), 4
        ).alias("dup_frac"),
    )


def read_spans(
    spark: SparkSession, workdir: str, window: int = 8, chain: list[str] | None = None
) -> DataFrame:
    """(id, span_start, span_end) latest per doc -- the incremental
    equivalent of cross_doc_duplicate_spans."""
    chain = chain or ["base"]
    return _chain_spans_latest(spark, workdir, window, chain).select(
        "id",
        "span_start",
        "span_end",
        (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
    )


def compact_window_chain(
    spark: SparkSession,
    workdir: str,
    window: int = 8,
    chain: list[str] | None = None,
    out_fp: str = "compacted",
    units: int = 8,
) -> str:
    """Fold a delta chain into one consolidated snapshot (the same
    periodic-compaction contract as lineage.compact_chain and the
    streaming metrics epoch compaction): latest-wins per window key /
    per doc materialized once, so reads stop paying the per-delta union
    and the next absorb probes a single dir.  Idempotent: overwrite
    semantics, re-runnable after a crash; readers keep using the old
    chain until the new dir exists.

    ``out_fp`` must be a FRESH snapshot name, not a member of ``chain``:
    Spark cannot overwrite a path it is lazily reading from, so periodic
    compaction rotates names (compacted_1 -> compacted_2 -> ...) and
    deletes superseded dirs once the new snapshot lands."""
    chain = chain or ["base"]
    if out_fp in chain:
        raise ValueError(
            f"out_fp {out_fp!r} is in the chain being compacted; "
            "rotate snapshot names (cannot overwrite a path being read)"
        )
    _chain_windex_latest(spark, workdir, window, chain).withColumn(
        "_unit", F.pmod(F.col("wkey"), F.lit(units)).cast("int")
    ).write.mode("overwrite").partitionBy("_unit").parquet(
        _dir(workdir, WINDEX_STAGE, window, out_fp)
    )
    _chain_spans_latest(spark, workdir, window, chain).write.mode("overwrite").parquet(
        _dir(workdir, SPANS_STAGE, window, out_fp)
    )
    _chain_base(spark, workdir, window, chain).write.mode("overwrite").parquet(
        _dir(workdir, BASE_STAGE, window, out_fp)
    )
    return out_fp


def retract_window_chain(
    spark: SparkSession,
    workdir: str,
    removed: DataFrame,
    window: int = 8,
    chain: list[str] | None = None,
    out_fp: str = "retracted_1",
    units: int = 8,
) -> dict:
    """The ExactSubstr accumulator's delete half (source-pulled /
    erasure path, the window-index analog of lineage.retract_chain):
    fold the chain MINUS the removed docs into one fresh snapshot.

    Deletion is NOT monotone -- removing a doc can demote a shared
    window back to a singleton (shrinking a survivor's spans) or orphan
    it entirely -- so the absorb path's woken-singleton arithmetic
    cannot run in reverse over the compressed (nd, singleton) rows.
    Instead the fold REBUILDS the stores from the chain's base stage,
    which holds every doc's token array: anti-join the removal set,
    re-derive windows with the identical explode + hash
    (:func:`_wins_of_base`), and write all three stores under
    ``out_fp`` via the same :func:`_write_stores` the bootstrap uses --
    the result is bit-identical to indexing the surviving corpus from
    scratch, with no access to the original text needed.

    Cost: O(corpus) once, the same heavyweight-periodic contract as
    ``compact_window_chain`` (erasure batches are rare and batchable);
    never rewrites the chain dirs in place.  The removal set may name
    unknown or sub-window-length ids -- both are no-ops.
    """
    chain = chain or ["base"]
    if out_fp in chain:
        raise ValueError(
            f"out_fp {out_fp!r} is in the chain being retracted from; "
            "rotate snapshot names (cannot overwrite a path being read)"
        )
    rm = removed.select(F.col(removed.columns[0]).alias("id")).distinct()
    base = _chain_base(spark, workdir, window, chain).join(
        F.broadcast(rm), "id", "left_anti"
    )
    if "toks" not in base.columns:
        raise ValueError(
            "chain has no stored token arrays; write it with "
            "store_tokens=True to make the index deletable"
        )
    if base.where(F.col("toks").isNull()).limit(1).count() > 0:
        raise ValueError(
            "chain mixes store_tokens=True and =False deltas; surviving "
            "docs without stored tokens cannot be re-windowed -- "
            "re-bootstrap those batches with store_tokens=True"
        )
    stats = _write_stores(
        base, _wins_of_base(base, window), workdir, window, out_fp, units
    )
    stats["out_fp"] = out_fp
    return stats
