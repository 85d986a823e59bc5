"""Per-column / per-partition statistics block (SURVEY.md §2.11) plus the
reference's per-item size predicates (§2.5: empty files stats.zig:143-151,
large files stats.zig:154-162).

One groupBy("part") pass computes the whole profile — the analog of the
reference's stat cache amortizing a single walk across all checks: Catalyst
evaluates every aggregate in a single partial+final hash aggregation over one
scan, with column pruning keeping untouched span fields out of the read.

The check_* functions are one rule each of the fused doc scan
(constraints/fused.py, imported lazily: it imports this module), where
their conditions are defined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datachecker_spark.fingerprint import annotate

CHECK_EMPTY = "empty_doc"
CHECK_LARGE = "large_doc"
CHECK_STALE = "stale_doc"
CHECK_FUTURE = "future_timestamp"
DEFAULT_LARGE_DOC_SIZE = 1_000_000  # chars; analog of LARGE_FILE_SIZE (config.zig:61)
DEFAULT_MAX_AGE_DAYS = 365  # analog of LAST_ACCESS_TIME (~1y, config.zig:63)


def partition_profile(docs: DataFrame) -> DataFrame:
    """Per-partition column statistics: counts, null rates, min/max,
    HLL cardinality sketches (approx_count_distinct = HyperLogLog++)."""
    a = annotate(docs).select(
        "doc_id", "part", "size", "n_spans", "fp", "n_text_spans",
        F.col("n_media").alias("n_media_spans"), "n_null_text", "n_null_ref",
    )
    return a.groupBy("part").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("size") == 0).cast("long")).alias("n_empty_docs"),
        F.min("size").alias("min_size"),
        F.max("size").alias("max_size"),
        F.round(F.avg("size"), 4).alias("avg_size"),
        F.min("n_spans").alias("min_spans"),
        F.max("n_spans").alias("max_spans"),
        F.sum("n_text_spans").alias("n_text_spans"),
        F.sum("n_media_spans").alias("n_media_spans"),
        F.round(
            F.sum("n_null_text") / F.greatest(F.sum("n_text_spans"), F.lit(1)), 6
        ).alias("null_text_rate"),
        F.round(
            F.sum("n_null_ref") / F.greatest(F.sum("n_media_spans"), F.lit(1)), 6
        ).alias("null_ref_rate"),
        F.approx_count_distinct("fp").alias("approx_distinct_content"),
        F.countDistinct("doc_id").alias("distinct_doc_ids"),
    )


def check_empty_docs(docs: DataFrame) -> DataFrame:
    """WARNING per document with no text content: size 0, no spans, or a
    NULL spans array."""
    from datachecker_spark.constraints import fused

    return fused.only(docs, "empty_docs")


def check_large_docs(
    docs: DataFrame, threshold: int = DEFAULT_LARGE_DOC_SIZE
) -> DataFrame:
    """WARNING per document whose total text length exceeds the threshold."""
    from datachecker_spark.constraints import fused

    return fused.only(docs, "large_docs", large_doc_size=threshold)


def check_timestamps(
    docs: DataFrame, *, now=None, max_age_days: int = DEFAULT_MAX_AGE_DAYS
) -> DataFrame:
    """Timestamp sanity over the doc model's optional ts columns
    (ingest_ts, modified_ts).

    Reference analogs (/root/reference/src/modules/stats.zig):
      * last-access age — entry untouched for > LAST_ACCESS_TIME (~1y)
        → WARNING (:165-174); here: newest of the ts columns older than
        max_age_days;
      * wrong dates — any of atime/ctime/mtime in the FUTURE vs a 'now'
        sampled once at startup (:177-187, src/main.zig:399-403) → ERROR;
        here: any ts column beyond `now`.

    `now` is a plan literal (string/py datetime), matching the reference's
    sample-once semantics and keeping reruns deterministic; None samples
    the wall clock once, as a literal. Columns absent from the schema are
    skipped (the ts columns are optional in the input_hint model).
    """
    from datachecker_spark.constraints import fused

    return fused.only(docs, "timestamps", now=now, max_age_days=max_age_days)
