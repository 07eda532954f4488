"""Per-partition lineage checkpointing + resume.

The reference has none of this (server state is volatile; SURVEY.md
section 2.3 'must exceed').  Contract (BASELINE.json north_star): every
stage checkpoints per-partition lineage (partition id, input snapshot,
signature config hash, row counts) so a killed job resumes without
recomputation.

Design:

* The runner holds no dedup logic of its own: each stage calls the
  stage functions of plans/pipeline.py (``conv_signatures``,
  ``full_edges``, ``batch_edges``) that ``dedup_pipeline`` and
  ``incremental_dedup`` compose in memory, plus the connected-components
  operators, and adds only the manifest, the work units and one write
  per stage.  The runner and the API therefore compute the same result.
* Work units: hash buckets of conv_id (``pmod(xxhash64(conv_id), B)``)
  for the per-conversation stage (signatures -- the expensive one);
  band-bucket ranges (``pmod(bucket_hash, edge_units)``) for the edge
  stage -- an LSH band bucket lies wholly inside one unit, so per-unit
  candidate generation + verify is complete, and a kill mid-verify
  recomputes only pending units (the same pair surfacing in buckets of
  two units is deduplicated at read time); single ALL units for the CC
  label fixpoint and the singleton attach (checkpointed separately so a
  kill between them resumes from the labeled-edges output).
* Stage outputs land under ``{workdir}/{stage}/{config_hash}_{input_fp}/
  _bucket=<i>`` -- the output path is KEYED by config hash and input
  fingerprint, so two configs (or two input snapshots) can never serve
  each other's outputs (a config change writes to a fresh keyspace and
  the old outputs stay valid for the old config).
* Stage 1 writes ALL pending buckets in ONE ``partitionBy("_bucket")``
  job (dynamic partition overwrite: re-running a crashed subset replaces
  only those buckets) followed by ONE bulk manifest append -- at 10^4-
  10^5 buckets a per-bucket write loop would be a driver-side bottleneck
  (one Spark job per bucket).
* The manifest (``{workdir}/_lineage`` parquet) gains one row per
  completed unit: (stage, partition_id, config_hash, input_fingerprint,
  row_count, finished_at).  It is append-only; the newest row per key
  wins.  Resume = anti-join of the unit list against manifest rows whose
  (config_hash, input_fingerprint) match -- a config change or new input
  snapshot invalidates exactly the affected stages.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.components import (
    attach_singletons,
    connected_components,
    incremental_components_delta,
)
from .pipeline import batch_edges, conv_signatures, full_edges, release

MANIFEST = "_lineage"


@dataclass
class RunStats:
    computed: dict[str, int] = field(default_factory=dict)  # stage -> units computed
    skipped: dict[str, int] = field(default_factory=dict)
    # skew observability (no-silent-caps rule): the edge stage's bucket
    # report (DedupResult.bucket_report), filled whenever the edge stage
    # actually computes -- n_buckets / max_bucket / star_buckets /
    # dropped_members, so capped-bucket drops are visible in the run
    # summary instead of silently shaping recall.
    bucket_stats: dict[str, int] = field(default_factory=dict)


def _report_dict(report: DataFrame) -> dict[str, int]:
    return {k: int(v or 0) for k, v in report.collect()[0].asDict().items()}


class LineageRunner:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: PipelineConfig = DEFAULT_CONFIG,
        edge_units: int = 8,
    ):
        """edge_units: resume granularity for the edge stage -- band
        buckets are range-partitioned into this many units (pmod of the
        bucket hash), each checkpointed independently, so a kill during
        verify recomputes only pending units instead of the whole stage.
        An execution knob, NOT part of PipelineConfig (tuning it must not
        invalidate lineage, and the edges are the same for any value);
        at 100 TB size it so one unit's verify fits a re-run budget
        (10^2-10^3)."""
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg
        self.edge_units = edge_units
        self.config_hash = cfg.config_hash()
        os.makedirs(workdir, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.workdir, MANIFEST)

    def manifest(self) -> DataFrame:
        p = self._manifest_path()
        schema = "stage string, partition_id int, config_hash string, input_fingerprint string, row_count long, finished_at double"
        if not os.path.isdir(p):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(p)

    def _record_bulk(self, stage: str, counts: dict[int, int], input_fp: str) -> None:
        """ONE manifest append for any number of completed units."""
        now = time.time()
        rows = [
            (stage, int(pid), self.config_hash, input_fp, int(n), now)
            for pid, n in counts.items()
        ]
        df = self.spark.createDataFrame(
            rows,
            "stage string, partition_id int, config_hash string, input_fingerprint string, row_count long, finished_at double",
        )
        df.coalesce(1).write.mode("append").parquet(self._manifest_path())

    def done_units(self, stage: str, input_fp: str) -> dict[int, int]:
        """Completed unit -> its recorded row count (the newest manifest
        row per unit wins)."""
        rows = (
            self.manifest()
            .where(
                (F.col("stage") == stage)
                & (F.col("config_hash") == self.config_hash)
                & (F.col("input_fingerprint") == input_fp)
            )
            .select("partition_id", "row_count", "finished_at")
            .collect()
        )
        counts = {}
        for r in sorted(rows, key=lambda r: r["finished_at"]):
            # trust manifest only if the output dir actually exists
            if os.path.isdir(self._unit_path(stage, r["partition_id"], input_fp)):
                counts[r["partition_id"]] = r["row_count"]
        return counts

    def _stage_key(self, input_fp: str) -> str:
        return f"{self.config_hash}_{input_fp}"

    def _stage_dir(self, stage: str, input_fp: str) -> str:
        return os.path.join(self.workdir, stage, self._stage_key(input_fp))

    def _unit_path(self, stage: str, partition_id: int, input_fp: str = "static") -> str:
        return os.path.join(self._stage_dir(stage, input_fp), f"_bucket={partition_id}")

    @staticmethod
    def _has_parquet_files(path: str) -> bool:
        """True iff the dir holds COMMITTED parquet data files.  Files
        under in-flight committer dirs (`_temporary`, dot-prefixed
        staging) do not count -- a killed write must read as absent so
        resume/backfill heals it, never as complete (Spark itself
        ignores `_`/`.`-prefixed paths at read; partition dirs like
        `_bucket=3` are NOT filtered because their own path component
        carries the `=`)."""
        for root, dirs, files in os.walk(path):
            dirs[:] = [
                d for d in dirs
                if "=" in d or not (d.startswith("_") or d.startswith("."))
            ]
            if any(f.endswith(".parquet") and not f.startswith(".") for f in files):
                return True
        return False

    def _stage_df(self, stage: str, input_fp: str, fallback: DataFrame) -> DataFrame:
        """Read a stage's output; an all-empty stage (empty corpus, or
        every bucket produced zero rows) leaves only empty `_bucket=`
        dirs with no parquet files, where a bare read would throw --
        fall back to an empty DataFrame with the stage's schema (taken
        from `fallback`, a lazily-built plan: .schema runs no job).

        The fallback is NARROW by design: it applies only when the stage
        dir verifiably holds no parquet data files.  Any other read
        failure (corrupt footer, transient FS error, permissions)
        re-raises -- silently serving an empty stage would let
        downstream stages compute from nothing and record themselves
        done in the manifest, so a later resume would serve wrong
        results with no error."""
        path = self._stage_dir(stage, input_fp)
        if not self._has_parquet_files(path):
            return self.spark.createDataFrame([], fallback.schema)
        return self.spark.read.parquet(path).drop("_bucket")

    # -- pipeline ----------------------------------------------------------
    def _signatures_stage(
        self, transcripts: DataFrame, input_fp: str, stats: RunStats
    ) -> tuple[DataFrame, int]:
        """Stage 1, shared by run() and run_incremental(): per-bucket
        signatures, ONE partitioned write for all pending buckets + ONE
        bulk manifest append (see module docstring).  Returns the stage
        and its conv count, summed from the recorded unit row counts."""
        B = self.cfg.num_buckets
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(B)).cast("int")
        empty_state = conv_signatures(transcripts.limit(0), self.cfg)
        done, pending = self._plan_units("signatures", input_fp, B, stats)
        if pending:
            src = transcripts.withColumn("_bucket", bucket)
            pend = (
                src.where(F.col("_bucket").isin(pending))
                if len(pending) < B
                else src
            )
            sigs = conv_signatures(pend.drop("_bucket"), self.cfg).withColumn(
                "_bucket", bucket
            )
            done.update(self._write_units(sigs, "signatures", input_fp, pending))
        state = self._stage_df("signatures", input_fp, fallback=empty_state)
        return state, sum(done.values())

    def _plan_units(
        self, stage: str, input_fp: str, n_units: int, stats: RunStats
    ) -> tuple[dict[int, int], list[int]]:
        """(done unit -> row count, pending units) of a stage of
        ``n_units`` units, recorded in ``stats``."""
        done = self.done_units(stage, input_fp)
        pending = [i for i in range(n_units) if i not in done]
        stats.skipped[stage] = len(done)
        stats.computed[stage] = len(pending)
        return done, pending

    def _write_units(
        self, df: DataFrame, stage: str, input_fp: str, pending: list[int]
    ) -> dict[int, int]:
        """ONE write of ``df`` partitioned by its ``_bucket`` unit column
        (dynamic partition overwrite: re-running a crashed subset
        replaces only those units), then :meth:`_commit_units`."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(self._stage_dir(stage, input_fp))
        )
        return self._commit_units(stage, input_fp, pending)

    def _commit_units(self, stage: str, input_fp: str, units: list[int]) -> dict[int, int]:
        """Record freshly written units in ONE manifest append; returns
        unit -> row count.  An all-empty write leaves no parquet files
        (same narrow-fallback rule as _stage_df: anything but a
        verified-empty dir raises)."""
        path = self._stage_dir(stage, input_fp)
        written = {}
        if self._has_parquet_files(path):
            rows = (
                self.spark.read.parquet(path)
                .where(F.col("_bucket").isin(units))
                .groupBy("_bucket").agg(F.count("*").alias("n")).collect()
            )
            written = {r["_bucket"]: r["n"] for r in rows}
        # units that received no row still count as completed
        counts = {i: written.get(i, 0) for i in units}
        self._record_bulk(stage, counts, input_fp)
        # empty units produce no directory; materialize an empty one so
        # done_units' existence check passes on resume
        for i in units:
            os.makedirs(self._unit_path(stage, i, input_fp), exist_ok=True)
        return counts

    def _write_single(self, df: DataFrame, stage: str, input_fp: str) -> int:
        """Write a single-unit stage (unit 0) and record it; returns its
        row count."""
        path = self._unit_path(stage, 0, input_fp)
        df.write.mode("overwrite").parquet(path)
        n = self.spark.read.parquet(path).count() if self._has_parquet_files(path) else 0
        self._record_bulk(stage, {0: n}, input_fp)
        return n

    def _empty_relations(self, empty_state: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Schema donors for empty-stage fallbacks (lazy, no job): the
        full-pass edges of an empty state, and labels of their id type."""
        held: list[DataFrame] = []
        empty_edges = full_edges(empty_state, self.cfg, 0, held)[0]
        release(held, [])
        id_type = dict(empty_edges.dtypes)["a"]
        empty_labels = self.spark.createDataFrame(
            [], f"conv_id {id_type}, cluster_id {id_type}"
        )
        return empty_edges, empty_labels

    def read_clusters(self, fps: list[str], fallback: DataFrame) -> DataFrame:
        """Compose a clusters chain: a full labeling written by run()
        followed by per-batch DELTAS written by run_incremental (old
        convs whose label changed + new convs).  The LATEST fp that
        labels a conv wins -- one narrow window over base + deltas,
        paid only when the composition is materialized (emitting the
        full labeling is inherently O(corpus); STORING it per batch is
        not, which is the point of the deltas)."""
        from pyspark.sql import Window

        parts = [
            self._stage_df("clusters", fp, fallback=fallback).withColumn(
                "_pri", F.lit(i)
            )
            for i, fp in enumerate(fps)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        w = Window.partitionBy("conv_id").orderBy(F.desc("_pri"))
        return (
            out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("conv_id", "cluster_id")
        )

    def ensure_band_index(self, input_fp: str) -> None:
        """Backfill the persisted band-bucket index for a COMPLETED
        signatures stage (plans/band_index.py): one O(|stage|) banding
        write keyed by (config_hash, input_fp), no signature UDF.
        No-op when the index already exists -- the rolling convention is
        one index dir per input snapshot, so incremental chains read the
        union of their ancestors' dirs and each batch is banded exactly
        once, ever."""
        from .band_index import band_index_dir, write_band_index

        path = band_index_dir(self.workdir, self.cfg, input_fp)
        if self._has_parquet_files(path):
            return
        sig_dir = self._stage_dir("signatures", input_fp)
        if not self._has_parquet_files(sig_dir):
            raise ValueError(
                f"no completed signatures stage for input_fp={input_fp!r}; "
                "run() or run_incremental() it first"
            )
        state = self.spark.read.parquet(sig_dir).drop("_bucket")
        write_band_index(state, self.workdir, self.cfg, input_fp)

    def decontam_eval(self, eval_t: DataFrame, fps: list[str]) -> DataFrame:
        """Cross-corpus decontamination against the INDEXED chain: every
        verified near-dup pair between the chain's corpus (train side)
        and ``eval_t`` (an eval-suite transcripts DataFrame), at the
        run's own shingle/signature config.

        Nothing about the indexed corpus recomputes: the train side is
        the persisted signatures stages + band-index dirs (backfilled
        once if a base predates the index convention), probed exactly
        the way run_incremental probes them
        (plans/pipeline.cross_corpus_near_dups indexed path -- eval band
        rows broadcast, candidate members pushed down to the signature
        scan)."""
        from functools import reduce

        from .band_index import read_band_index
        from .pipeline import cross_corpus_near_dups

        if not fps:
            raise ValueError("fps must name the indexed chain to probe")
        sigs = reduce(
            lambda a, b: a.unionByName(b),
            [
                self.spark.read.parquet(self._stage_dir("signatures", fp)).drop("_bucket")
                for fp in fps
            ],
        )
        for fp in fps:
            self.ensure_band_index(fp)
        idx = reduce(
            lambda a, b: a.unionByName(b),
            [read_band_index(self.spark, self.workdir, self.cfg, fp) for fp in fps],
        )
        return cross_corpus_near_dups(
            None, eval_t, self.cfg, train_state=sigs, train_buckets=idx
        )

    def compact_chain(self, fps: list[str], out_fp: str) -> dict:
        """Fold an incremental chain (a run() base + run_incremental
        batches, oldest first) into ONE consolidated snapshot under
        out_fp: signatures, verified edges, the band index, and the
        composed full clusters are each rewritten once.  The dedup
        stores' analog of the metrics append-log compaction: afterwards
        ``run_incremental(..., base_fps=[out_fp])`` reads one stage per
        store instead of len(chain), and read_clusters composes one
        full labeling instead of base + N deltas.

        Deliberately heavyweight (rewrites O(corpus) once) -- periodic
        maintenance, like a table format's rewrite/expire, NOT per
        batch.  Idempotent: every write overwrites out_fp's keyspace.
        Returns row counts per store."""
        sigs, edges, idx, full = self._read_chain_relations(fps)
        return self._write_snapshot(sigs, edges, idx, full, out_fp)

    def _read_chain_relations(self, fps: list[str]):
        """The four dedup stores of an incremental chain, composed:
        (signatures union, deduped verified-edge union, band-index
        union, latest-wins full cluster labeling)."""
        from functools import reduce

        from .band_index import read_band_index

        if not fps:
            raise ValueError("fps must name the chain to fold")
        donor_t = self.spark.createDataFrame(
            [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
        )
        empty_state = conv_signatures(donor_t, self.cfg)
        empty_edges, empty_labels = self._empty_relations(empty_state)
        sigs = reduce(
            lambda a, b: a.unionByName(b),
            [self._stage_df("signatures", fp, fallback=empty_state) for fp in fps],
        )
        # per-batch edge sets are disjoint (old-old pairs are never
        # re-emitted), the dropDuplicates is crash-replay belt-and-braces
        edges = reduce(
            lambda a, b: a.unionByName(b),
            [
                self._stage_df("edges", fp, fallback=empty_edges).dropDuplicates(["a", "b"])
                for fp in fps
            ],
        ).dropDuplicates(["a", "b"])
        for fp in fps:
            # a base that never took an incremental batch has no band
            # dir yet; backfill is a no-op when it exists
            self.ensure_band_index(fp)
        idx = reduce(
            lambda a, b: a.unionByName(b),
            [read_band_index(self.spark, self.workdir, self.cfg, fp) for fp in fps],
        )
        full = self.read_clusters(fps, fallback=empty_labels)
        return sigs, edges, idx, full

    def _write_snapshot(self, sigs, edges, idx, clusters, out_fp: str) -> dict:
        """Write the four stores under ONE snapshot fp in the exact
        layouts run() produces (bucket-partitioned signatures, unit-
        partitioned edges and band index, single full clusters stage),
        recording manifest rows so later runs resume against it."""
        from .band_index import band_index_dir

        B, E = self.cfg.num_buckets, self.edge_units
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(B)).cast("int")
        (
            sigs.withColumn("_bucket", bucket)
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(self._stage_dir("signatures", out_fp))
        )
        sig_counts = self._commit_units("signatures", out_fp, list(range(B)))

        (
            edges.withColumn("_bucket", F.pmod(F.xxhash64("a", "b"), F.lit(E)).cast("int"))
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(self._stage_dir("edges", out_fp))
        )
        edge_counts = self._commit_units("edges", out_fp, list(range(E)))

        (
            idx.withColumn("_unit", F.pmod(F.col("bucket"), F.lit(8)).cast("int"))
            .write.mode("overwrite")
            .partitionBy("_unit")
            .parquet(band_index_dir(self.workdir, self.cfg, out_fp))
        )

        n_clusters = self._write_single(clusters, "clusters", out_fp)

        return {
            "signatures": int(sum(sig_counts.values())),
            "edges": int(sum(edge_counts.values())),
            "clusters": n_clusters,
        }

    def retract_chain(self, fps: list[str], removed: DataFrame, out_fp: str) -> dict:
        """Remove conversations from an incremental chain and fold the
        result into ONE snapshot under out_fp -- compaction's delete
        half (plans/retract.py semantics: broadcast anti-joins on the
        stores; affected clusters re-solved from surviving edges so a
        removed bridge conv splits its cluster exactly as a recompute
        would).  Like compact_chain it is periodic maintenance, never
        an in-place rewrite: a crash leaves every chain dir intact and
        the caller flips --base-fps to [out_fp] only on success.
        Returns row counts per store."""
        from .retract import retract_convs

        sigs, edges, idx, full = self._read_chain_relations(fps)
        rm = removed.select("conv_id").distinct()
        sigs2, edges2, clusters2 = retract_convs(sigs, edges, full, rm)
        idx2 = idx.join(F.broadcast(rm), "conv_id", "left_anti")
        return self._write_snapshot(sigs2, edges2, idx2, clusters2, out_fp)

    def run_incremental(
        self,
        new_transcripts: DataFrame,
        input_fp: str,
        base_fps: list[str],
    ) -> tuple[dict[str, DataFrame], RunStats]:
        """Incremental-batch dedup THROUGH the lineage manifest: the
        new batch's signature buckets and edge units checkpoint exactly
        like run()'s, so a batch killed mid-verify resumes recomputing
        only pending units -- and every per-batch stage still scales
        with the batch (the same pipeline.batch_edges that
        incremental_dedup runs: persisted band index probe, member
        pushdown; then delta-sized connected components).

        base_fps: the input fingerprints of the COMPLETED runs this
        batch builds on, oldest first -- e.g. ["base"] for the first
        increment, ["base", "day1"] for the next (old state/edges are
        the union of those stages; the labeling is the latest-wins
        COMPOSITION of the chain's clusters stages -- run() writes a
        full labeling, each batch writes only its DELTA of changed/new
        rows, so per-batch cluster storage scales with the batch, not
        the corpus).  Each base fp's band index is backfilled once if
        missing (ensure_band_index); this batch's own index is written
        at the end, making it a valid base for the next batch.
        """
        from functools import reduce

        from .band_index import read_band_index

        if not base_fps:
            raise ValueError("base_fps must name at least one completed run")
        stats = RunStats()
        E = self.edge_units
        empty_state = conv_signatures(new_transcripts.limit(0), self.cfg)
        empty_edges, empty_labels = self._empty_relations(empty_state)

        # stage 1: signatures for the NEW batch only (same bucketized
        # path as run(); keyed by this batch's input_fp)
        new_state, _ = self._signatures_stage(new_transcripts, input_fp, stats)
        old_state = reduce(
            lambda a, b: a.unionByName(b),
            [self._stage_df("signatures", fp, fallback=empty_state) for fp in base_fps],
        )
        for fp in base_fps:
            self.ensure_band_index(fp)
        old_buckets = reduce(
            lambda a, b: a.unionByName(b),
            [read_band_index(self.spark, self.workdir, self.cfg, fp) for fp in base_fps],
        )
        state = old_state.unionByName(new_state)

        # stage 2: incremental edges, bucketized by band-bucket unit --
        # identical resume granularity to run()'s edge stage
        _, pending_e = self._plan_units("edges", input_fp, E, stats)
        if pending_e:
            held: list[DataFrame] = []
            ckpts: list[DataFrame] = []
            edges_w, report = batch_edges(
                old_buckets, new_state, state, self.cfg, held, ckpts,
                units=E, pending=pending_e,
            )
            self._write_units(
                edges_w.withColumnRenamed("_unit", "_bucket"), "edges", input_fp, pending_e
            )
            stats.bucket_stats = _report_dict(report)
            release(held, ckpts)  # cache lifetime ends at the write
        new_edges = self._stage_df("edges", input_fp, fallback=empty_edges).dropDuplicates(["a", "b"])

        # stage 3: DELTA clusters -- write only rows that change: old
        # convs whose cluster label was remapped (merged clusters) plus
        # every new conv.  Writing the full labeling per batch would be
        # O(corpus) bytes per daily ingest (terabytes of unchanged rows
        # at 10^12 convs); the delta scales with the batch.  Readers
        # compose base + deltas latest-wins (read_clusters).
        if self._plan_units("clusters", input_fp, 1, stats)[1]:
            # the base labeling = composition of the whole chain so far
            old_clusters = self.read_clusters(base_fps, fallback=empty_labels)
            delta = incremental_components_delta(
                old_clusters, new_edges, new_state.select("conv_id")
            )
            # observability: the write scales with the batch, not the
            # corpus -- surfaced so tests/operators can assert it
            stats.computed["clusters_delta_rows"] = self._write_single(
                delta, "clusters", input_fp
            )
        clusters = self.read_clusters(base_fps + [input_fp], fallback=empty_labels)

        # absorb: band this batch once so future increments probe it
        self.ensure_band_index(input_fp)

        old_edges = reduce(
            lambda a, b: a.unionByName(b),
            [
                self._stage_df("edges", fp, fallback=empty_edges).dropDuplicates(["a", "b"])
                for fp in base_fps
            ],
        )
        edges = old_edges.unionByName(new_edges)
        return {"conv_state": state, "edges": edges, "clusters": clusters}, stats

    def run(
        self,
        transcripts: DataFrame,
        input_fp: str = "static",
    ) -> tuple[dict[str, DataFrame], RunStats]:
        """Run (or resume) the full dedup pipeline with checkpointing:
        dedup_pipeline's stages, each written per unit.

        input_fp identifies the input snapshot (Iceberg snapshot id /
        parquet fingerprint via sources.io.TableIO.snapshot_fingerprint).
        """
        stats = RunStats()
        E = self.edge_units
        empty_edges, empty_labels = self._empty_relations(
            conv_signatures(transcripts.limit(0), self.cfg)
        )

        # stage 1: per-bucket signatures -- ONE partitioned write for all
        # pending buckets + ONE bulk manifest append (see module docstring)
        state, n_convs = self._signatures_stage(transcripts, input_fp, stats)

        # stage 2: pipeline.full_edges, bucketized by band-bucket range --
        # band buckets hash into `edge_units` resume units (a bucket lies
        # wholly in one unit, so per-bucket candidate generation is
        # complete per unit); ONE partitioned write covers all pending
        # units, so a kill mid-verify recomputes only what's missing.
        # The verify plan is decided as in dedup_pipeline, from the conv
        # count stage 1 recorded (no extra job).
        _, pending_e = self._plan_units("edges", input_fp, E, stats)
        if pending_e:
            held: list[DataFrame] = []
            edges_w, report, _ = full_edges(
                state, self.cfg, n_convs, held, units=E, pending=pending_e
            )
            self._write_units(
                edges_w.withColumnRenamed("_unit", "_bucket"), "edges", input_fp, pending_e
            )
            # the bucket report reads the persisted post-cap relation the
            # write just materialized -- no extra scan of band generation
            stats.bucket_stats = _report_dict(report)
            release(held, [])  # cache lifetime ends at the write
        # the same (a, b) pair found in buckets of two units appears once
        # per unit; its jaccard/hamming are identical, so key-dedup here
        edges = self._stage_df("edges", input_fp, fallback=empty_edges).dropDuplicates(["a", "b"])

        # stage 3a: connected-component labels (checkpointed separately
        # from the singleton attach, so a kill between them resumes from
        # the labeled-edges output instead of re-running the CC fixpoint)
        if self._plan_units("labels", input_fp, 1, stats)[1]:
            self._write_single(connected_components(edges), "labels", input_fp)
        labels = self._stage_df("labels", input_fp, fallback=empty_labels)

        # stage 3b: clusters = labels + singletons
        if self._plan_units("clusters", input_fp, 1, stats)[1]:
            self._write_single(attach_singletons(labels, state), "clusters", input_fp)
        clusters = self._stage_df("clusters", input_fp, fallback=empty_labels)

        return {"conv_state": state, "edges": edges, "clusters": clusters}, stats

    def reset_stage(self, stage: str) -> None:
        """The /reset analog (ResetHandler.java:43-83): drop a stage's
        outputs + manifest entries; the next run recomputes it (sketch
        state is always recomputable from data -- never mutated)."""
        import shutil

        p = os.path.join(self.workdir, stage)
        if os.path.isdir(p):
            shutil.rmtree(p)
        if not os.path.isdir(self._manifest_path()):
            return  # nothing recorded yet (guarded: reset before any run)
        m = self.manifest().where(F.col("stage") != stage)
        tmp = self._manifest_path() + ".tmp"
        m.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(self._manifest_path())
        os.rename(tmp, self._manifest_path())
