"""Physical-plan audits (north_rule: no per-row Python; filters reach the
parquet scan; the ANN hot path is Arrow-vectorized)."""

from __future__ import annotations

import re

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_entry_queries_no_row_python(spark):
    """Every driver-contract query compiles to JVM expressions or
    Arrow-vectorized Python — BatchEvalPython (row-at-a-time pickling)
    never appears."""
    import __spark_entry__ as E

    for name, fn in E.queries().items():
        plan = _plan(fn(spark, SF))
        assert "BatchEvalPython" not in plan, name


def test_q1_filter_pushdown(spark):
    """The scan-side filter reaches the parquet reader and only the needed
    columns are read (column pruning)."""
    from datachecker_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # projection is 7 columns of lineitem's 16 — shipdate + groupers + aggs
    assert "l_comment" not in plan


def test_ann_topk_is_vectorized(spark):
    from datachecker_spark.entry_queries import QUERIES

    plan = _plan(QUERIES["ann_cosine_topk"](spark, SF))
    assert "MapInPandas" in plan  # one GEMM per Arrow batch
    assert "BatchEvalPython" not in plan


def test_suite_plan_no_row_python(spark):
    """The full constraint-suite violations plan is free of row-at-a-time
    Python (Arrow nodes allowed)."""
    from datachecker_spark.datagen import (
        generate_documents,
        generate_expected_fingerprints,
        generate_media_catalog,
    )
    from datachecker_spark.runner import SuiteConfig, run_suite

    docs = generate_documents(spark, 500, n_parts=4)
    res = run_suite(
        docs,
        media_catalog=generate_media_catalog(spark),
        expected_fingerprints=generate_expected_fingerprints(docs),
        config=SuiteConfig(timestamp_now="2024-06-01 00:00:00"),
    )
    # violations is checkpointed; audit the metrics plan + a fresh branch
    from datachecker_spark.constraints.duplicates import check_duplicates

    plan = _plan(check_duplicates(docs))
    assert "BatchEvalPython" not in plan
    assert _plan(res.metrics).count("BatchEvalPython") == 0


def test_ref_checks_prune_spans_from_cache(spark):
    """The ref-level checks and the referential anti-join must read the
    cached `refs` derived column, never re-decompress the spans payload —
    the InMemoryTableScan's column list is the contract (bandwidth demand:
    one spans read per suite pass, by the span-level checks only)."""
    from datachecker_spark.constraints import fused, referential
    from datachecker_spark.datagen import generate_documents
    from datachecker_spark.fingerprint import annotate

    docs = annotate(generate_documents(spark, 300, seed=3)).persist()
    docs.count()
    try:
        cat = spark.createDataFrame([("m1",)], ["media_ref"])
        for df in (
            fused.fused_ref_checks(docs),
            referential.check_media_refs(docs, cat, broadcast_catalog=True),
        ):
            scans = [
                line
                for line in _plan(df).splitlines()
                if "InMemoryTableScan" in line
            ]
            assert scans, "expected a cache scan in the plan"
            for s in scans:
                assert "spans" not in s, s
                assert "refs" in s
    finally:
        docs.unpersist()


def test_row_checks_run_without_spans(spark):
    """Every public row-check function runs over an annotated cache with
    the spans payload dropped (run_suite's cache): none reads `spans`, and
    the legacy lookup is a map literal, not a broadcast join."""
    from datachecker_spark.constraints import confidential, predicates, stats
    from datachecker_spark.datagen import generate_documents
    from datachecker_spark.fingerprint import annotate

    docs = annotate(generate_documents(spark, 300, seed=5)).drop("spans").persist()
    docs.count()
    try:
        checks = {
            "check_empty_docs": stats.check_empty_docs(docs),
            "check_large_docs": stats.check_large_docs(docs),
            "check_timestamps": stats.check_timestamps(docs, now="2024-06-01"),
            "check_doc_names": predicates.check_doc_names(docs),
            "check_name_length": predicates.check_name_length(docs),
            "check_ref_path_length": predicates.check_ref_path_length(docs),
            "check_temp_refs": predicates.check_temp_refs(docs),
            "check_legacy_refs": predicates.check_legacy_refs(docs),
            "check_kind_consistency": predicates.check_kind_consistency(docs),
            "check_json_spans": predicates.check_json_spans(docs),
            "check_confidential": confidential.check_confidential(docs),
        }
        for name, df in checks.items():
            df.count()
            scans = [
                line for line in _plan(df).splitlines() if "InMemoryTableScan" in line
            ]
            assert scans, name
            assert not any(re.search(r"\bspans#", line) for line in scans), name
        assert "BroadcastHashJoin" not in _plan(checks["check_legacy_refs"])
    finally:
        docs.unpersist()


def _lambda_bodies(plan: str) -> list[str]:
    """The parenthesized text of every `lambdafunction(` in a plan string
    (nested lambdas appear both on their own and inside their parent)."""
    bodies = []
    start = plan.find("lambdafunction(")
    while start != -1:
        i = j = start + len("lambdafunction(")
        depth = 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        bodies.append(plan[i : j - 1])
        start = plan.find("lambdafunction(", i)
    return bodies


def test_shingling_tokenizes_once_per_doc(spark):
    """shingle_sets over fingerprint.flattened_text: span flattening and
    tokenization never run inside a per-element lambda (which re-evaluates
    them once per shingle), and the short-doc filter is not pushed below
    the token projection (which evaluates them a second time): `split(`
    appears exactly once in the optimized plan."""
    from datachecker_spark.datagen import make_docs
    from datachecker_spark.fingerprint import flattened_text
    from datachecker_spark.textops import shingle_sets

    docs = make_docs(
        spark, [("a", [("text", "b c", None, 1), ("text", "a ", None, 0)], "p0")]
    )
    flat = docs.select("doc_id", flattened_text("spans").alias("text"))
    for k in (1, 2, 3):
        sets = shingle_sets(flat, shingle_k=k)
        plan = sets._jdf.queryExecution().optimizedPlan().toString()
        bodies = _lambda_bodies(plan)
        assert bodies, plan
        for body in bodies:
            assert "split(" not in body and "array_sort(" not in body, body
        assert plan.count("split(") == 1, plan
        assert sets.collect()[0]["sh"] == [["a", "b", "c"], ["a b", "b c"], ["a b c"]][k - 1]
