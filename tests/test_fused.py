"""Fused row-level passes (constraints/fused.py), the one definition of
every row check.

A golden test pins the exact rows each doc/ref/span rule emits on a
handcrafted corpus. The public per-check functions run one rule of a fused
scan each, so the all-rules scan must equal the union of the per-check
functions (toggle isolation: no rule leaks into or drops out of another's
output), and run_suite, stream_violations and the per-check functions must
agree on the row checks they emit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datachecker_spark.constraints import confidential, fused, predicates, stats
from datachecker_spark.datagen import generate_documents
from datachecker_spark.fingerprint import annotate

_NOW = "2024-06-01 00:00:00"
_KEY = ["check", "severity", "doc_id", "part", "detail"]


def _corpus(spark, n=4000):
    # high violation rates so every fused branch has planted offenders
    return annotate(
        generate_documents(
            spark, n, dup_rate=0.1, dangling_rate=0.05, conf_rate=0.05, seed=7
        )
    ).localCheckpoint(eager=True)


def _same_multiset(a, b):
    ga = a.groupBy(_KEY).count()
    gb = b.groupBy(_KEY).count()
    assert ga.exceptAll(gb).count() == 0 and gb.exceptAll(ga).count() == 0


def test_fused_doc_checks_match_standalone(spark):
    docs = _corpus(spark)
    fused_df = fused.fused_doc_checks(docs, now=_NOW)
    singles = (
        stats.check_empty_docs(docs)
        .unionByName(stats.check_large_docs(docs))
        .unionByName(predicates.check_doc_names(docs))
        .unionByName(predicates.check_name_length(docs))
        .unionByName(stats.check_timestamps(docs, now=_NOW))
        .unionByName(confidential.check_confidential(docs))
    )
    assert fused_df.count() > 0
    _same_multiset(fused_df, singles)


def _planted(spark):
    """Handcrafted docs hitting every doc-, ref- and span-level rule (the
    generator plants none of the ref/span ones): temp ext, legacy ext,
    over-long ref, temp+legacy in one doc, unknown kind, binary-in-text,
    media-with-text, text-with-ref, invalid JSON, NULL spans, a large
    future-dated doc carrying the pattern 'secret', a doubled-char long
    name, and a stale doc."""
    from datetime import datetime

    rows = [
        ("d_temp", [("media", None, "a/b/cache.tmp", 0)], "p0"),
        ("d_leg", [("media", None, "x/report.wpd", 0)], "p0"),
        ("d_long", [("media", None, "m/" + "a" * 1100 + ".png", 0)], "p1"),
        ("d_both", [("media", None, "y/old.dbf", 0),
                    ("media", None, "z/core.swp", 1)], "p1"),
        ("d_kinds", [("blob", "x", None, 0), ("text", "%PDF-1.4 junk", None, 1),
                     ("media", "inline!", "ok.png", 2), ("text", "hi", "ref.png", 3)],
         "p2"),
        ("d_json", [("json", "{not valid", None, 0), ("text", "{also bad", None, 1)],
         "p2"),
        ("d_ok", [("text", "plain", None, 0), ("media", None, "fine.png", 1)], "p3"),
        ("d_null", None, "p3"),
        ("d_big", [("text", "top secret " + "x" * 30, None, 0)], "p3"),
        ("d__double", [("text", "x", None, 0)], "p3"),
    ]
    fresh = datetime(2024, 5, 1)
    ts = {"d_ok": datetime(2022, 1, 1), "d_big": datetime(2025, 1, 1)}
    return annotate(
        spark.createDataFrame(
            [
                (d, sp and [tuple(x) for x in sp], p, ts.get(d, fresh), ts.get(d, fresh))
                for d, sp, p in rows
            ],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>, part string, "
            "ingest_ts timestamp, modified_ts timestamp",
        )
    )


def test_fused_ref_checks_match_standalone(spark):
    for docs in (_corpus(spark), _planted(spark)):
        fused_df = fused.fused_ref_checks(docs)
        singles = (
            predicates.check_ref_path_length(docs)
            .unionByName(predicates.check_temp_refs(docs))
            .unionByName(predicates.check_legacy_refs(docs))
        )
        _same_multiset(fused_df, singles)
    # the planted corpus trips every rule, including two checks on one ref
    checks = {r["check"] for r in fused_df.select("check").distinct().collect()}
    assert checks == {
        predicates.CHECK_REF_LEN, predicates.CHECK_TEMP, predicates.CHECK_LEGACY
    }


def test_fused_span_checks_match_standalone(spark):
    for docs in (_corpus(spark), _planted(spark)):
        fused_df = fused.fused_span_checks(docs)
        singles = predicates.check_kind_consistency(docs).unionByName(
            predicates.check_json_spans(docs)
        )
        _same_multiset(fused_df, singles)
    checks = {r["check"] for r in fused_df.select("check").distinct().collect()}
    assert checks == {predicates.CHECK_KIND, predicates.CHECK_JSON}


def test_fused_toggles(spark):
    docs = _corpus(spark, n=500)
    only_empty = fused.fused_doc_checks(
        docs, large_docs=False, name_rules=False, name_length=False,
        timestamps=False, confidential=False, now=_NOW,
    )
    checks = {r["check"] for r in only_empty.select("check").distinct().collect()}
    assert checks <= {stats.CHECK_EMPTY}
    assert (
        fused.fused_doc_checks(
            docs, empty_docs=False, large_docs=False, name_rules=False,
            name_length=False, timestamps=False, confidential=False,
        )
        is None
    )
    assert fused.fused_ref_checks(
        docs, ref_path_length=False, temp_refs=False, legacy_refs=False
    ) is None
    assert fused.fused_span_checks(
        docs, kind_consistency=False, json_spans=False
    ) is None


_ROW_CHECKS = {
    stats.CHECK_EMPTY, stats.CHECK_LARGE, stats.CHECK_FUTURE, stats.CHECK_STALE,
    predicates.CHECK_NAME_RULES, predicates.CHECK_NAME_LEN,
    predicates.CHECK_REF_LEN, predicates.CHECK_TEMP, predicates.CHECK_LEGACY,
    predicates.CHECK_KIND, predicates.CHECK_JSON, confidential.CHECK_NAME,
}


def _per_check_union(docs):
    out = stats.check_empty_docs(docs)
    for df in (
        stats.check_large_docs(docs),
        stats.check_timestamps(docs, now=_NOW),
        predicates.check_doc_names(docs),
        predicates.check_name_length(docs),
        predicates.check_ref_path_length(docs),
        predicates.check_temp_refs(docs),
        predicates.check_legacy_refs(docs),
        predicates.check_kind_consistency(docs),
        predicates.check_json_spans(docs),
        confidential.check_confidential(docs),
    ):
        out = out.unionByName(df)
    return out


def test_suite_row_checks_equal_per_check_union(spark):
    """run_suite's row-check verdicts are exactly the union of the eleven
    public per-check functions over the same documents."""
    from datachecker_spark.datagen import (
        generate_expected_fingerprints,
        generate_media_catalog,
    )
    from datachecker_spark.runner import SuiteConfig, run_suite

    raw = generate_documents(
        spark, 1500, dup_rate=0.1, dangling_rate=0.03, conf_rate=0.02, seed=42
    ).localCheckpoint(eager=True)
    catalog = generate_media_catalog(spark)
    expected = generate_expected_fingerprints(raw).localCheckpoint(eager=True)
    res = run_suite(
        raw, media_catalog=catalog, expected_fingerprints=expected,
        config=SuiteConfig(timestamp_now=_NOW),
    )
    suite_rows = res.violations.where(F.col("check").isin(*_ROW_CHECKS))
    assert suite_rows.count() > 0
    _same_multiset(suite_rows, _per_check_union(raw))


def test_golden_rows_on_planted(spark):
    """Every doc, ref and span rule's exact (check, severity, doc_id,
    detail) rows on the handcrafted corpus, written out by hand from the
    rule definitions — an expectation independent of the code under test."""
    long_ref = "m/" + "a" * 1100 + ".png"
    no_text = "document has no text content"
    expected = {
        # media-only documents have size 0
        ("empty_doc", "WARNING", "d_temp", no_text),
        ("empty_doc", "WARNING", "d_leg", no_text),
        ("empty_doc", "WARNING", "d_long", no_text),
        ("empty_doc", "WARNING", "d_both", no_text),
        # NULL spans: no content either
        ("empty_doc", "WARNING", "d_null", no_text),
        ("large_doc", "WARNING", "d_big", "size=41 exceeds threshold=30"),
        ("name_rules", "WARNING", "d__double", "name rule: doubled_chars"),
        ("name_length", "WARNING", "d__double", "name length 9 > 7"),
        ("future_timestamp", "ERROR", "d_big", "timestamp in the future"),
        ("stale_doc", "WARNING", "d_ok", "not modified in over 365 days"),
        ("confidential", "WARNING", "d_big", "matched confidential pattern"),
        ("temp_refs", "WARNING", "d_temp", "temp/useless ref: a/b/cache.tmp"),
        ("legacy_refs", "WARNING", "d_leg",
         "legacy format .wpd (WordPerfect Document): x/report.wpd"),
        ("ref_path_length", "WARNING", "d_long",
         f"ref path length 1106 > 1024: {long_ref}"),
        ("legacy_refs", "WARNING", "d_both",
         "legacy format .dbf (dBASE database file): y/old.dbf"),
        ("temp_refs", "WARNING", "d_both", "temp/useless ref: z/core.swp"),
        ("kind_consistency", "ERROR", "d_kinds", "span 0: unknown kind 'blob'"),
        ("kind_consistency", "ERROR", "d_kinds",
         "span 1: declared text but content is pdf"),
        ("kind_consistency", "ERROR", "d_kinds",
         "span 2: media span carries inline text"),
        ("kind_consistency", "ERROR", "d_kinds",
         "span 3: text span carries media_ref"),
        ("json_validity", "ERROR", "d_json", "span 0: invalid JSON payload"),
        ("json_validity", "ERROR", "d_json", "span 1: invalid JSON payload"),
    }
    docs = _planted(spark)
    got = (
        fused.fused_doc_checks(
            docs, large_doc_size=30, max_name_len=7, now=_NOW,
            patterns=["secret"],
        )
        .unionByName(fused.fused_ref_checks(docs))
        .unionByName(fused.fused_span_checks(docs))
        .collect()
    )
    rows = [(r["check"], r["severity"], r["doc_id"], r["detail"]) for r in got]
    assert len(rows) == len(set(rows))
    assert set(rows) == expected


def test_stream_violations_emit_the_suite_row_checks(spark):
    """stream_violations runs the same fused scans as run_suite, so over the
    planted corpus (which trips every ref/span rule) it emits the same set
    of row checks — ref_path_length included."""
    from datachecker_spark.runner import SuiteConfig, run_suite
    from datachecker_spark.streaming import stream_violations

    docs = _planted(spark)
    res = run_suite(docs, config=SuiteConfig(timestamp_now=_NOW))
    suite = {
        r["check"]
        for r in res.violations.select("check").distinct().collect()
        if r["check"] in _ROW_CHECKS
    }
    streamed = {
        r["check"]
        for r in stream_violations(docs, timestamp_now=_NOW)
        .select("check").distinct().collect()
    }
    assert predicates.CHECK_REF_LEN in suite
    assert streamed == suite
    res.release()


def test_fused_now_pinned_to_literal(spark):
    """now=None must sample the wall clock ONCE at plan build (a literal),
    never compile to current_timestamp() — which is re-evaluated per batch,
    so two batches of one fused plan could disagree on the future/stale
    cutoff (VERDICT r3 #10). The literal makes batch agreement structural."""
    docs = _corpus(spark, n=200)
    for df in (
        fused.fused_doc_checks(docs, now=None, confidential=False),
        stats.check_timestamps(docs),
    ):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "current_timestamp" not in analyzed
        # and the sampled literal actually gates: the generator's 2024-epoch
        # timestamps all read stale against the real (2026+) wall clock
        assert df.where(F.col("check") == stats.CHECK_STALE).count() > 0


def test_fused_plan_is_single_scan(spark):
    """The fused ref/span passes stay whole-stage-codegen with no Python and
    exactly one scan of the corpus each."""
    docs = _corpus(spark, n=500)
    for df in (fused.fused_ref_checks(docs), fused.fused_span_checks(docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "EvalPython" not in plan
        assert plan.count("Scan ExistingRDD") + plan.count("TableCacheQueryStage") <= 1
