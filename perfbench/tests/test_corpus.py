"""Seeded inputs: the same seed gives a byte-identical corpus, another does not."""

import pytest

from perfbench import checks, corpus


def test_dedup_corpus_digest_is_seeded():
    a, chains = corpus.dedup_corpus(7, 400)
    assert corpus.rows_digest(a) == corpus.rows_digest(corpus.dedup_corpus(7, 400)[0])
    assert corpus.rows_digest(a) != corpus.rows_digest(corpus.dedup_corpus(8, 400)[0])
    assert len(a) == 400 and [len(c) for c in chains] == [corpus.DEDUP_CHAIN_LEN] * 5


def test_write_rows_round_trips(tmp_path):
    import pyarrow.parquet as pq

    rows, _ = corpus.dedup_corpus(7, 90)
    corpus.write_rows(rows, str(tmp_path / "c"))
    got = pq.read_table(str(tmp_path / "c")).to_pylist()
    assert len(got) == 90 and len(list((tmp_path / "c").iterdir())) == 4
    first = got[0]
    assert (first["doc_id"], first["part"]) == (rows[0][0], rows[0][2])
    assert [tuple(s.values()) for s in first["spans"]] == [tuple(s) for s in rows[0][1]]


def test_planted_chains_link_above_and_end_below_threshold():
    rows, chains = corpus.dedup_corpus(3, 600)
    text = {r[0]: checks.bigrams(checks.flat_text(r[1])) for r in rows}

    def jac(a, b):
        return len(text[a] & text[b]) / len(text[a] | text[b])

    # uncapped universe: the boilerplate span (on ~30% of docs) still counts
    # here, so links sit lower than the engine's capped Jaccard
    for c in chains:
        assert min(jac(a, b) for a, b in zip(c, c[1:])) >= 0.6
        assert jac(c[0], c[-1]) < corpus.DEDUP_THRESHOLD


def test_reference_pairs_match_brute_force():
    rows, _ = corpus.dedup_corpus(5, 300)
    max_df = 6
    sets = {r[0]: checks.bigrams(checks.flat_text(r[1])) for r in rows}
    df = {}
    for s in sets.values():
        for x in s:
            df[x] = df.get(x, 0) + 1
    capped = {k: {x for x in s if df[x] <= max_df} for k, s in sets.items()}
    want = set()
    ids = sorted(capped)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(capped[a] & capped[b])
            if inter and round(inter / len(capped[a] | capped[b]), 6) >= 0.5:
                want.add((a, b))
    got = {(a, b) for a, b, _ in checks.reference_pairs(rows, 0.5, max_df)}
    assert got == want and got


def test_compare_counts_null_misses_and_fails_real_misses():
    truth = {"empty_doc": {"d1": False, "d2": True}, "null_key": {"<null>": True}}
    ok = checks.compare(truth, {"empty_doc": {"d1"}})
    assert not ok.problems and ok.null_misses == 2
    bad = checks.compare(truth, {"empty_doc": {"d2", "d3"}})
    assert len(bad.problems) == 1


def test_clusters_of_takes_component_minimum():
    assert checks.clusters_of([("b", "c", 1), ("a", "b", 1), ("x", "y", 1)]) == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
    }


@pytest.fixture(scope="module")
def spark():
    from datachecker_spark.session import get_spark

    import os

    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    return get_spark(cores=2, shuffle_partitions=2, app_name="perfbench-tests")


def test_suite_corpus_digest_is_seeded(spark):
    d7 = corpus.spark_digest(corpus.suite_docs(spark, 7, 400))
    assert d7 == corpus.spark_digest(corpus.suite_docs(spark, 7, 400))
    assert d7 != corpus.spark_digest(corpus.suite_docs(spark, 8, 400))


def test_suite_corpus_plants_null_cases(spark):
    from pyspark.sql import functions as F

    docs = corpus.suite_docs(spark, 7, 400)
    row = docs.agg(
        F.sum(F.col("doc_id").isNull().cast("int")).alias("null_id"),
        F.sum(F.col("part").isNull().cast("int")).alias("null_part"),
        F.sum(F.col("spans").isNull().cast("int")).alias("null_spans"),
        F.countDistinct("doc_id").alias("ids"),
    ).first()
    assert (row["null_id"], row["null_part"], row["null_spans"]) == (2, 2, 2)
    assert row["ids"] == 400 - 2 - corpus.REPEATED_IDS
