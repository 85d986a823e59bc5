"""The workloads: inputs, one timed pass, its output check, and the traced
per-layer decomposition.

A pass is what a user of the engine calls; only the call is timed. The
output check after each pass and the release of the pass's blocks are not.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import checks, corpus
from perfbench.eventlog import Tracer


@dataclass
class Ctx:
    spark: object
    work: str  # this workload's directory under perfbench/_work
    seed: int
    tracer: Tracer
    info: dict = field(default_factory=dict)  # goes into the report line


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _data_files(path: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime ns) of the data files under path, without
    Spark's marker and checksum files."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                st = os.stat(os.path.join(root, f))
                out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


class SuiteFull:
    """runner.run_suite with every check on, at local[4]."""

    name = "suite_full"
    min_passes = 1
    # one corpus write costs ~10 s at SUITE_DOCS; the run's time goes to
    # corpus size instead of repeated set-ups
    setup_reps = 1

    def __init__(self) -> None:
        from datachecker_spark.runner import SuiteConfig

        self.n_docs = corpus.SUITE_DOCS
        self.cfg = SuiteConfig(
            timestamp_now=corpus.SUITE_NOW, max_age_days=corpus.SUITE_MAX_AGE_DAYS
        )

    def generate(self, ctx: Ctx) -> None:
        corpus.write_suite(ctx.spark, ctx.seed, self._path(ctx), self.n_docs)

    def _path(self, ctx: Ctx) -> str:
        return os.path.join(ctx.work, "suite_corpus")

    def materialize_inputs(self, ctx: Ctx) -> None:
        """Read the corpus back and materialize the media catalog and the
        expected fingerprints (both derived from the seed)."""
        from datachecker_spark import cache, datagen

        for held in ("media", "expected"):
            cache.release(getattr(self, held, None))
        self.docs = ctx.spark.read.parquet(self._path(ctx))
        self.media = datagen.generate_media_catalog(ctx.spark, seed=ctx.seed).localCheckpoint(
            eager=True
        )
        self.expected = datagen.generate_expected_fingerprints(
            self.docs, seed=ctx.seed
        ).localCheckpoint(eager=True)

    def prepare(self, ctx: Ctx) -> None:
        self.truth = checks.suite_truth(
            ctx.spark, self.docs, corpus.SUITE_NOW, corpus.SUITE_MAX_AGE_DAYS
        )
        ctx.info["corpus_digest"] = corpus.spark_digest(self.docs)
        ctx.info["truth_counts"] = {c: len(t) for c, t in self.truth.items()}

    def run_pass(self, ctx: Ctx, timings: dict | None = None):
        from datachecker_spark.runner import run_suite

        return run_suite(
            self.docs,
            media_catalog=self.media,
            expected_fingerprints=self.expected,
            config=self.cfg,
            timings=timings,
        )

    def check(self, ctx: Ctx, res) -> tuple[list[str], int]:
        flags = checks.engine_flags(res.violations, self.truth.keys())
        v = checks.compare(self.truth, flags)
        ctx.info["check_counts"] = v.counts
        return v.problems, v.null_misses

    def release(self, res) -> None:
        res.release(blocking=True)

    def layers(self, ctx: Ctx) -> dict[str, float]:
        """run_suite once with timings, a resume through run_with_lineage
        (see _resume), then each family's public function standalone over
        one annotated, persisted frame, to the noop sink. The traced run has
        no warm-up pass: the resume's half-done set-up runs first and warms
        the engine's code paths for run_suite."""
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        from datachecker_spark import cache
        from datachecker_spark.constraints import (
            confidential, diraggs, drift, duplicates, fused, integrity,
            referential, stats, uniqueness,
        )
        from datachecker_spark.contract import metrics_from_violations
        from datachecker_spark.fingerprint import annotate

        layer, cfg, out = ctx.tracer.layer, self.cfg, {}
        start_rdds = _persistent_rdd_ids(ctx.spark)
        resume_dir = self._resume_setup(ctx)
        t: dict = {}
        t0 = time.perf_counter()
        with layer("runner"):
            res = self.run_pass(ctx, timings=t)
        out["session.traced_pass_s"] = time.perf_counter() - t0
        for key, name in (
            ("cache_fill", "runner.cache_fill_s"), ("union_mat", "runner.union_mat_s"),
            ("drift_total", "runner.drift_s"), ("profile_total", "runner.profile_s"),
            ("integrity_total", "runner.integrity_s"), ("metrics_mat", "runner.metrics_mat_s"),
        ):
            out[name] = float(t.get(key, 0.0))
        with layer("bench"):
            problems, misses = self.check(ctx, res)
        ctx.info["traced_check"] = problems

        # run_suite's result blocks are still held: only the annotated
        # frame below is new
        held_rdds = _persistent_rdd_ids(ctx.spark)
        with layer("fingerprint"):
            a = annotate(self.docs).drop("spans").persist(StorageLevel.MEMORY_AND_DISK)
            a.count()
        info = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        out["fingerprint.cached_mb"] = sum(
            (r.memSize() + r.diskSize()) for r in info if r.id() not in held_rdds
        ) / 2**20

        with layer("contract"):
            _noop(metrics_from_violations(res.violations, a, cfg.enabled_checks()))
        out.update(self._resume(ctx, res, resume_dir))
        out["contract.null_misses"] += misses

        fused_frames = [
            fused.fused_doc_checks(
                a, timestamps=True, now=cfg.timestamp_now, max_age_days=cfg.max_age_days,
                patterns=cfg.confidential_patterns,
            ),
            fused.fused_ref_checks(a),
            fused.fused_span_checks(a),
        ]
        with layer("fused"):
            for df in fused_frames:
                _noop(df)
        with layer("confidential"):
            _noop(confidential.check_confidential(a, patterns=cfg.confidential_patterns))
        with layer("duplicates"):
            _noop(duplicates.check_duplicates(a, n_salts=cfg.n_salts))
        with layer("uniqueness"):
            _noop(uniqueness.check_unique_ids(a, n_salts=cfg.n_salts))
        with layer("drift"):
            d = drift.check_drift(
                a, categorical=(F.col("n_media") > 0).cast("int"), numeric=F.col("size"),
                alpha=cfg.drift_alpha, psi=cfg.drift_psi, psi_threshold=cfg.psi_threshold,
                psi_per_octave=cfg.psi_per_octave,
            )
            _noop(d)
        with layer("diraggs"):
            _noop(diraggs.check_partition_sizes(a, max_items=cfg.max_items_per_partition))
        with layer("referential"):
            _noop(referential.check_media_refs(a, self.media))
        with layer("integrity"):
            v, wb = integrity.verify_integrity(a, self.expected, include_missing=False)
            _noop(v)
            _noop(wb)
            _noop(integrity.check_missing_expectations(a, self.expected))
        with layer("stats"):
            _noop(stats.partition_profile(a))

        with layer("bench"):
            out["fused.violations"] = sum(df.count() for df in fused_frames)
            out["duplicates.groups"] = duplicates.duplicate_groups(a, n_salts=cfg.n_salts).count()
        with layer("cache"):
            cache.release(d, v, wb)
            res.release(blocking=True)
            a.unpersist(blocking=True)
        out["cache.live_rdds_after"] = len(_persistent_rdd_ids(ctx.spark) - start_rdds)
        return out

    def _resume_kw(self) -> dict:
        return dict(media_catalog=self.media, expected_fingerprints=self.expected, config=self.cfg)

    def _resume_setup(self, ctx: Ctx) -> str:
        """The half-done output a resume starts from: run_with_lineage over
        the first half of the parts (set-up, tagged `bench`)."""
        from pyspark.sql import functions as F

        from datachecker_spark.runner import run_with_lineage

        out_dir = os.path.join(ctx.work, "resume")
        shutil.rmtree(out_dir, ignore_errors=True)
        with ctx.tracer.layer("bench"):
            parts = sorted(
                r[0] for r in self.docs.select("part").distinct().collect() if r[0] is not None
            )
            first = self.docs.where(
                F.col("part").isin(parts[: len(parts) // 2]) | F.col("part").isNull()
            )
            run_with_lineage(first, out_dir, run_id="first_half", **self._resume_kw())
        return out_dir

    def _resume(self, ctx: Ctx, res, out_dir: str) -> dict[str, float]:
        """runner.run_with_lineage resuming from _resume_setup's output after
        the second half of the parts lands, tagged `resume` (not a reported
        layer, so runner.* stays run_suite alone; its wall is
        runner.resume_s) with every io.write_table call tagged `io`. The
        resumed verdicts must equal the one-shot run_suite result `res`;
        extra verdicts on null-part rows (the anti-join on part never
        matches NULL, so those rows are never marked done) are counted as
        misses."""
        from datachecker_spark import io as tio
        from datachecker_spark.runner import run_with_lineage

        layer = ctx.tracer.layer
        before = _data_files(out_dir)
        write_table = tio.write_table

        def traced_write(*a, **k):
            with layer("io"):
                return write_table(*a, **k)

        tio.write_table = traced_write
        t0 = time.perf_counter()
        try:
            with layer("resume"):
                run_with_lineage(self.docs, out_dir, run_id="resume", **self._resume_kw())
        finally:
            tio.write_table = write_table
        resume_s = time.perf_counter() - t0
        after = _data_files(out_dir)
        written = [after[p][0] for p in after if before.get(p) != after[p]]
        with layer("bench"):
            resumed = ctx.spark.read.parquet(f"{out_dir}/violations").unionByName(
                ctx.spark.read.parquet(f"{out_dir}/violations_global")
            )
            diff = checks.compare_verdicts(resumed, res.violations)
        ctx.info["resume_diff"] = diff
        if diff["extra"] or diff["missing"]:
            ctx.info.setdefault("traced_check", []).append(f"resume differs from one-shot: {diff}")
        return {
            "runner.resume_s": resume_s,
            "io.bytes_written": sum(written),
            "io.files_written": len(written),
            "contract.null_misses": diff["null_part_repeats"],
        }

    def layer_counts(self, log, tracer) -> dict[str, float]:
        return {
            "confidential.py_rows": log.sql_metric(
                "confidential", "ArrowEvalPython", "number of output rows", tracer
            )
        }


class DedupNear:
    """Near-duplicate pipeline on flattened span text: prefix-filtered exact
    Jaccard pairs -> connected components -> keep one per cluster."""

    name = "dedup_near"
    # a dedup pass is short and made of many small jobs, so one host stall
    # moves it far: time three and report the median
    min_passes = 3
    setup_reps = 3

    def __init__(self) -> None:
        self.n_docs = corpus.DEDUP_DOCS

    def generate(self, ctx: Ctx) -> None:
        self.rows, self.chains = corpus.dedup_corpus(ctx.seed, self.n_docs)
        corpus.write_rows(self.rows, self._path(ctx))

    def _path(self, ctx: Ctx) -> str:
        return os.path.join(ctx.work, "dedup_corpus")

    def materialize_inputs(self, ctx: Ctx) -> None:
        self.docs = ctx.spark.read.parquet(self._path(ctx))
        self.docs.count()

    def prepare(self, ctx: Ctx) -> None:
        pairs = checks.reference_pairs(
            self.rows, corpus.DEDUP_THRESHOLD, corpus.DEDUP_MAX_DF
        )
        self.expected = checks.clusters_of(pairs)
        ctx.info["corpus_digest"] = corpus.rows_digest(self.rows)
        ctx.info["reference_pairs"] = len(pairs)
        ctx.info["reference_clusters"] = len(set(self.expected.values()))

    def _pairs(self):
        from datachecker_spark import textops
        from datachecker_spark.fingerprint import flattened_text

        flat = self.docs.select("doc_id", flattened_text("spans").alias("text"))
        return textops.ngram_jaccard_pairs(
            flat, candidates="prefix", hash_shingles=True,
            threshold=corpus.DEDUP_THRESHOLD, max_df=corpus.DEDUP_MAX_DF,
        )

    def run_pass(self, ctx: Ctx):
        from datachecker_spark import graph

        pairs = self._pairs()
        clusters = graph.dedup_clusters(pairs)
        kept = graph.keep_canonical(self.docs, clusters).count()
        return pairs, clusters, kept

    def check(self, ctx: Ctx, out) -> tuple[list[str], int]:
        _, clusters, kept = out
        got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
        return checks.check_dedup(self.expected, got, self.chains, kept, self.n_docs), 0

    def release(self, out) -> None:
        from datachecker_spark import cache

        cache.release(out[0], out[1], blocking=True)

    def layers(self, ctx: Ctx) -> dict[str, float]:
        """The pipeline with its pairs materialized at the textops/graph
        boundary, so each layer's jobs are its own. Fixpoint checks are
        counted by wrapping graph's star-forest test for this call only:
        rounds = checks - 1 (the last check confirms convergence)."""
        from pyspark.sql import functions as F

        from datachecker_spark import cache, graph, textops
        from datachecker_spark.fingerprint import flattened_text

        layer, out = ctx.tracer.layer, {}
        baseline_rdds = _persistent_rdd_ids(ctx.spark)
        t0 = time.perf_counter()
        with layer("textops"):
            raw = self._pairs()
            pairs = raw.localCheckpoint(eager=True)
        checks_run = [0]
        star_test = graph._is_star_forest

        def counted(edges):
            checks_run[0] += 1
            return star_test(edges)

        graph._is_star_forest = counted
        try:
            with layer("graph"):
                clusters = graph.dedup_clusters(pairs)
                kept = graph.keep_canonical(self.docs, clusters).count()
        finally:
            graph._is_star_forest = star_test
        out["session.traced_pass_s"] = time.perf_counter() - t0
        out["graph.rounds"] = max(checks_run[0] - 1, 0)
        with layer("bench"):
            flat = self.docs.select("doc_id", flattened_text("spans").alias("text"))
            out["textops.shingle_rows"] = textops.shingle_sets(flat).agg(
                F.sum(F.size("sh"))
            ).first()[0]
            out["textops.pairs"] = out["graph.edges_in"] = self.traced_pairs = pairs.count()
            problems, _ = self.check(ctx, (pairs, clusters, kept))
            out["graph.clustered_docs"] = clusters.count()
        ctx.info["traced_check"] = problems
        out["contract.null_misses"] = 0
        with layer("cache"):
            # raw's plan reaches the operator's internal checkpoints, which
            # the boundary checkpoint above cut off from pairs' plan
            cache.release(clusters, pairs, raw, blocking=True)
        out["cache.live_rdds_after"] = len(_persistent_rdd_ids(ctx.spark) - baseline_rdds)
        return out

    def layer_counts(self, log, tracer) -> dict[str, float]:
        """pair_yield = verified pairs / candidate pairs, the candidates read
        from the SQL metrics of the prefix join's final dropDuplicates."""
        cand = log.topmost_rows("textops", "HashAggregate(keys=[id_a#", tracer)
        return {"textops.pair_yield": self.traced_pairs / cand if cand else 0.0}


WORKLOADS = {w.name: w for w in (SuiteFull, DedupNear)}
