"""Structured Streaming validation: the stateless constraint subset applied
incrementally, plus watermarked windowed per-partition verdict counts.

The reference is batch-only (one snapshot walk); the engine adds streaming
because an ingestion pipeline validates documents as they arrive. Design:

* Row-local checks (size and name rules, ref tags, kind consistency, JSON
  validity, confidential scan, timestamps) are pure column expressions /
  Arrow UDFs — they apply unchanged to a streaming DataFrame.
  `stream_violations` runs the SAME three fused scans as the batch suite
  (constraints/fused.py), so it emits every row check run_suite does.
* Per-partition rolling verdicts: event-time window + watermark over the
  violation stream (late data beyond the watermark is dropped, the Spark
  contract for state cleanup).
* Global checks (dedup, drift) are NOT streamed — they need the whole corpus
  and belong to the batch/lineage path; streaming state for exact global
  dedup at 10^12 docs would be unbounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datachecker_spark.constraints import fused, stats


def stream_violations(
    docs: DataFrame, *, large_doc_size: int = stats.DEFAULT_LARGE_DOC_SIZE,
    patterns: list[str] | None = None,
    timestamp_now: str | None = None,
) -> DataFrame:
    """Apply the stateless checks to a (streaming or batch) docs frame.
    Returns the violations contract; works on readStream inputs because
    every constraint here is a stateless projection/filter.

    timestamp_now: fixed 'now' literal for the future/stale timestamp checks
    (the reference samples now once at startup); passing it keeps the
    predicate deterministic across micro-batches and query restarts.
    Omitted → the timestamp checks are skipped."""
    doc_level = fused.fused_doc_checks(
        docs, large_doc_size=large_doc_size, patterns=patterns,
        timestamps=timestamp_now is not None, now=timestamp_now,
    )
    return doc_level.unionByName(fused.fused_ref_checks(docs)).unionByName(
        fused.fused_span_checks(docs)
    )


_WIN_SEP = "\x1f"  # cannot appear in real partition names


def windowed_verdicts(
    docs_with_ts: DataFrame,
    *,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    large_doc_size: int = stats.DEFAULT_LARGE_DOC_SIZE,
    patterns: list[str] | None = None,
    timestamp_now: str | None = None,
) -> DataFrame:
    """Watermarked per-(window, part) counts over a doc stream carrying a
    `ts` event-time column: the streaming analog of the metrics table.

    `violations` counts the violation ROWS emitted by the FULL stateless
    check set (stream_violations — the same constraint functions as batch,
    nothing re-implemented), so one document can contribute several rows,
    exactly like the batch metrics table. The plumbing trick that keeps the
    checks untouched: every check carries `part` through its contract
    projection, so the doc's tumbling-window bucket is encoded INTO `part`
    before the checks run and decoded after — no stream-stream join, no
    second implementation of any predicate. Tumbling windows only (the
    bucket is computed per doc); doc arrivals and violation rows are
    self-unioned and aggregated in ONE watermarked groupBy.
    """
    win_start = F.window("ts", window)["start"]
    enc = docs_with_ts.withColumn(
        "part",
        F.concat_ws(
            _WIN_SEP,
            F.col("part"),
            F.unix_timestamp(win_start).cast("string"),
        ),
    )
    v = stream_violations(
        enc,
        large_doc_size=large_doc_size,
        patterns=patterns,
        timestamp_now=timestamp_now,
    )
    dec = F.split(F.col("part"), _WIN_SEP)
    v_rows = v.select(
        dec.getItem(0).alias("part"),
        F.timestamp_seconds(dec.getItem(1).cast("long")).alias("bucket_ts"),
        F.lit(0).alias("is_doc"),
        F.lit(1).alias("is_violation"),
    )
    d_rows = docs_with_ts.select(
        "part",
        win_start.alias("bucket_ts"),
        F.lit(1).alias("is_doc"),
        F.lit(0).alias("is_violation"),
    )
    u = d_rows.unionByName(v_rows).withWatermark("bucket_ts", watermark)
    return (
        u.groupBy(F.window("bucket_ts", window).alias("win"), "part")
        .agg(
            F.sum("is_doc").alias("docs_seen"),
            F.sum("is_violation").alias("violations"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "part",
            "docs_seen",
            "violations",
        )
    )


def stream_dedup(
    docs: DataFrame, *, ts_col: str = "ts", horizon: str = "10 minutes"
) -> DataFrame:
    """Streaming duplicate suppression on the canonical content fingerprint —
    the flagship batch dedup (§2.2, constraints/duplicates.py) re-expressed
    with BOUNDED state for ingestion pipelines.

    Keeps the first arrival of each fingerprint and drops re-arrivals whose
    event time lands within the watermark horizon
    (`dropDuplicatesWithinWatermark`: a key's state is reclaimed once the
    watermark passes its event time, so state is O(unique fingerprints per
    horizon), not O(corpus) — the property that makes dedup streamable at
    all; exact all-history dedup stays on the batch/lineage path, see module
    docstring). This is the ingestion-time guard against duplicate storms
    (replayed feeds, double-submitted batches): duplicates are stopped at
    the door instead of being found by the next batch pass.

    The fingerprint is the same canonical offset-ordered xxhash64 the batch
    path groups on (fingerprint.py), so a doc admitted here and scanned
    later joins the same duplicate groups. Reference analog: the duplicate
    pipeline's hash stage (/root/reference/src/modules/duplicate_files/
    parallel.zig:83-138), minus its byte-exact confirm — within-horizon
    streaming dedup accepts the 64-bit-collision false-drop odds
    (~n²/2⁶⁵ per horizon) that the batch path removes via exact
    span-sequence confirmation."""
    from datachecker_spark.fingerprint import fingerprint

    d = docs.withColumn("fp", fingerprint("spans")).withWatermark(
        ts_col, horizon
    )
    return d.dropDuplicatesWithinWatermark(["fp"])


def stats_doc_size_indicator(large_doc_size: int):
    """Stateless violation indicator usable inside streaming aggregations
    (empty-or-oversized documents)."""
    from datachecker_spark.fingerprint import doc_size

    size = doc_size("spans")
    return (size == 0) | (size > large_doc_size)


RUNNING_RATE_SCHEMA = (
    "part string, batch_docs long, total_docs long, "
    "total_violations long, violation_rate double"
)
_RATE_STATE_SCHEMA = "total_docs long, total_violations long"


def running_violation_rates(
    docs: DataFrame, *, large_doc_size: int = stats.DEFAULT_LARGE_DOC_SIZE
) -> DataFrame:
    """CUSTOM STATEFUL streaming operator (applyInPandasWithState): per-part
    cumulative violation rate across micro-batches — the incremental analog
    of the metrics table's per-partition verdict counts, for partitions that
    arrive over many batches.

    State per part = (total_docs, total_violations); each micro-batch folds
    its Arrow batches into the running totals and emits one row with the
    batch delta and lifetime rate. State size is O(n_parts) — bounded, so no
    timeout/TTL is needed (the unbounded-state ops, exact global dedup and
    drift, deliberately stay on the batch/lineage path; see module
    docstring). Works identically on a static frame (one 'batch')."""
    import pandas as pd

    flagged = docs.select(
        "part",
        stats_doc_size_indicator(large_doc_size).cast("int").alias("is_violation"),
    )

    def update(key, pdfs, state):
        (part,) = key
        total_docs, total_viol = state.get if state.exists else (0, 0)
        batch_docs = 0
        batch_viol = 0
        for pdf in pdfs:
            batch_docs += len(pdf)
            batch_viol += int(pdf["is_violation"].fillna(0).sum())
        total_docs += batch_docs
        total_viol += batch_viol
        state.update((total_docs, total_viol))
        yield pd.DataFrame(
            [
                {
                    "part": part,
                    "batch_docs": batch_docs,
                    "total_docs": total_docs,
                    "total_violations": total_viol,
                    "violation_rate": (total_viol / total_docs) if total_docs else 0.0,
                }
            ]
        )

    return flagged.groupBy("part").applyInPandasWithState(
        update,
        outputStructType=RUNNING_RATE_SCHEMA,
        stateStructType=_RATE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )
