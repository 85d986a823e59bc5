"""The benchmark's workloads and metrics: the single source of BENCHMARK.json.

`python3 perfbench/run.py --emit-spec` writes BENCHMARK.json from this
module; tests/test_spec.py checks that the committed file matches it and
that every name a run emits is defined here.
"""

from __future__ import annotations

import json
import re

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
# One measured window per run, plus a per-workload floor on timed passes
# (workloads.*.min_passes). Once warm, a suite_full pass takes 8-13 s and a
# dedup_near pass 7-10 s at local[4], so suite_full times one pass and
# dedup_near three. Each run also pays a ~7 s JVM start, input set-up and a
# 12-20 s warm-up pass, and a full campaign of about fifty runs has to fit
# in under an hour: that budget keeps the window and the workload count
# small.
RUN_SECONDS = 5

WORKLOADS = {
    "suite_full": (
        "runner.run_suite with every check on over a seeded 64-part parquet "
        "corpus: the per-partition verdict job itself; never touches textops "
        "or graph"
    ),
    "dedup_near": (
        "textops prefix-filtered Jaccard pairs, graph.dedup_clusters and "
        "keep_canonical over a Zipf corpus with planted mutation chains; "
        "bypasses every suite check"
    ),
}

# name -> (unit, better, bound). bound = the share of the parent's median by
# which the metric may worsen before a change is rejected. Run-to-run spread
# on this shared 4-core host is ~0.1 for the timings (the host probe itself
# swings 1.5x between windows, and two timed passes still sit on the JIT
# warm-up slope), so the timing bounds take the 0.25 ceiling.
END_TO_END = {
    "docs_per_s": ("docs/s", "higher", 0.25),
    "cpu_s_per_mdoc": ("cpu-s/Mdoc", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.2),
}

# Layers are engine module names; each gets the generic measures below
# from the traced run's event log (cpu/gc/shuffle/tasks) and the
# benchmark's own span timers (wall = span time not covered by child
# spans). `session` is the whole Spark application of the traced run.
# A layer a workload bypasses reports zeros.
LAYERS = (
    "fingerprint", "fused", "confidential", "duplicates", "uniqueness",
    "drift", "diraggs", "referential", "integrity", "stats", "contract",
    "runner", "io", "textops", "graph", "cache", "session",
)
# cpu_s: executor CPU of the layer's tasks; gc_s: their JVM GC time;
# shuffle_mb: shuffle bytes they wrote; core_util = cpu_s / (wall_s x 4).
GENERIC = {
    "wall_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_mb": ("MB", "lower"),
    "tasks": ("count", "lower"),
    "core_util": ("ratio", "higher"),
}
# Layer-specific counts. Counts fixed by the corpus (violations, groups,
# pairs, clustered docs) must not move at all; their direction is nominal.
EXTRA = {
    "fingerprint.cached_mb": ("MB", "lower"),
    "fused.violations": ("count", "lower"),
    "confidential.py_rows": ("count", "lower"),
    "duplicates.groups": ("count", "lower"),
    "runner.cache_fill_s": ("s", "lower"),
    "runner.union_mat_s": ("s", "lower"),
    "runner.drift_s": ("s", "lower"),
    "runner.profile_s": ("s", "lower"),
    "runner.integrity_s": ("s", "lower"),
    "runner.metrics_mat_s": ("s", "lower"),
    "runner.resume_s": ("s", "lower"),
    "io.bytes_written": ("B", "lower"),
    "io.files_written": ("count", "lower"),
    "textops.shingle_rows": ("count", "lower"),
    "textops.pairs": ("count", "lower"),
    "textops.pair_yield": ("ratio", "higher"),
    "graph.rounds": ("count", "lower"),
    "graph.edges_in": ("count", "lower"),
    "graph.clustered_docs": ("count", "lower"),
    "cache.live_rdds_after": ("count", "lower"),
    "contract.null_misses": ("count", "lower"),
    "session.jobs": ("count", "lower"),
    "session.failed_tasks": ("count", "lower"),
    "session.traced_pass_s": ("s", "lower"),
}


def per_layer() -> dict[str, tuple[str, str]]:
    out = {
        f"{layer}.{m}": unit_better
        for layer in LAYERS
        for m, unit_better in GENERIC.items()
    }
    out.update(EXTRA)
    return out


NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, (u, b) in per_layer().items()
        ],
    }


def render() -> str:
    return json.dumps(benchmark_json(), indent=2) + "\n"
