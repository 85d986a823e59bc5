"""Every cache the engine takes must drain back to zero (VERDICT r2 #7).

Why explicit release exists at all: the documented Spark path — drop the
Dataset, ContextCleaner reclaims the checkpoint blocks via weak refs — is
DEAD from PySpark.  Repro (pyspark 4.1, ClientServer gateway): create
`spark.range(100).localCheckpoint(eager=True)`, drop every Python
reference, then run 15 rounds of paired `gc.collect()` +
`jvm.System.gc()` — the block never drains.  So in a long-lived session
(the 10^12-doc deployment mode: a resume loop re-entering run_suite per
partition batch) each pass would pin one more generation of blocks until
executors OOM.  The engine therefore releases deterministically
(datachecker_spark/cache.py), and these tests assert exact block
accounting at each lifecycle point — no GC, no polling, no timeouts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datachecker_spark import cache
from datachecker_spark import textops as X
from datachecker_spark.datagen import generate_documents
from datachecker_spark.fingerprint import annotate
from datachecker_spark.graph import dedup_clusters
from datachecker_spark.runner import SuiteConfig, run_suite
from datachecker_spark.similarity import cosine_near_dup_pairs
from datachecker_spark.textops import minhash_near_dup_pairs


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_run_suite_releases_to_zero(spark):
    cache.release_all(spark)  # drop other tests' dangling blocks: exact accounting needs a clean base
    docs = generate_documents(spark, 400, dup_rate=0.1, seed=7)
    base = _n_persistent(spark)

    res = run_suite(docs, config=SuiteConfig(referential=False, integrity=False))
    # while the caller holds the results, ONLY the result blocks are
    # resident: violations (main block + drift block inside the union),
    # metrics, profile. The corpus persist and drift's obs/counts
    # intermediates must already be gone — run_suite freed them itself.
    held = _n_persistent(spark) - base
    assert held == 4, f"expected 4 result blocks resident, got {held}"

    # consume the results the way a caller would, then dispose
    res.violations.count()
    res.metrics.count()
    res.profile.count()
    n = res.release()
    assert n == 4, f"release() freed {n} blocks, expected 4"
    assert _n_persistent(spark) == base

    # idempotent: a second release is a no-op
    assert res.release() == 0


def test_run_suite_no_drift_releases_to_zero(spark):
    cache.release_all(spark)  # drop other tests' dangling blocks: exact accounting needs a clean base
    docs = generate_documents(spark, 300, dup_rate=0.1, seed=3)
    base = _n_persistent(spark)
    res = run_suite(
        docs,
        config=SuiteConfig(referential=False, integrity=False, drift=False),
    )
    res.violations.count()
    held = _n_persistent(spark) - base
    assert held == 3, f"expected 3 result blocks (no drift), got {held}"
    res.release()
    assert _n_persistent(spark) == base


def test_minhash_releases_shingle_checkpoint(spark):
    cache.release_all(spark)  # drop other tests' dangling blocks: exact accounting needs a clean base
    flat = annotate(generate_documents(spark, 300, dup_rate=0.2, seed=11)).select(
        "doc_id", F.col("_flat").alias("text")
    )
    base = _n_persistent(spark)
    pairs = minhash_near_dup_pairs(flat, threshold=0.6)
    pairs.count()
    # the lazy localCheckpoint of the shingle sets is now materialized and
    # reachable as a LogicalRDD leaf of the returned plan
    assert _n_persistent(spark) - base == 1
    n = cache.release(pairs)
    assert n == 1
    assert _n_persistent(spark) == base


def _flat(spark):
    return annotate(generate_documents(spark, 300, dup_rate=0.2, seed=11)).select(
        "doc_id", F.col("_flat").alias("text")
    )


def _edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], ["id_a", "id_b"]
    )


def _vectors(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(40)]
    rows.append((99, rows[0][1]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _drift(spark):
    from datachecker_spark.constraints.drift import check_drift

    docs = annotate(generate_documents(spark, 400, seed=5))
    return (check_drift(docs, categorical=(F.col("n_media") > 0).cast("int"),
                        numeric=F.col("size"), psi=True),)


def _integrity(spark):
    from datachecker_spark.constraints.integrity import verify_integrity
    from datachecker_spark.datagen import generate_expected_fingerprints

    docs = generate_documents(spark, 300, seed=13)
    return verify_integrity(docs, generate_expected_fingerprints(docs, seed=13))


# name -> (build the operator's outputs, blocks held right after the call:
# None for operators whose result is a plan over their blocks)
_OPERATORS = {
    "minhash": (lambda s: (X.minhash_near_dup_pairs(_flat(s), threshold=0.6),), None),
    "ngram_prefix": (
        lambda s: (X.ngram_jaccard_pairs(_flat(s), threshold=0.2, candidates="prefix"),),
        None,
    ),
    "ngram_hashed": (
        lambda s: (X.ngram_jaccard_pairs(_flat(s), threshold=0.2, hash_shingles=True),),
        None,
    ),
    "ngram_max_df": (
        lambda s: (X.ngram_jaccard_pairs(_flat(s), threshold=0.2, max_df=3),), None
    ),
    "dedup_clusters": (lambda s: (dedup_clusters(_edges(s)),), None),
    "cosine": (
        lambda s: (cosine_near_dup_pairs(_vectors(s), threshold=0.99, dim=16),), None
    ),
    "check_drift": (_drift, 1),
    "verify_integrity": (_integrity, 2),
}


@pytest.mark.parametrize("name", list(_OPERATORS))
def test_operator_blocks_release_to_base(spark, name):
    """The ownership rule (cache.py): an operator's blocks are exactly what
    cache.release(result...) reaches. check_drift and verify_integrity
    return materialized results and have released their intermediates
    before returning."""
    build, held_after_call = _OPERATORS[name]
    cache.release_all(spark)
    base = _n_persistent(spark)
    outs = build(spark)
    if held_after_call is not None:
        assert _n_persistent(spark) - base == held_after_call
    for o in outs:
        o.count()
    cache.release(*outs)
    assert _n_persistent(spark) == base


def _bad_catalog(spark):
    # a media catalog without `media_ref`: the referential join cannot resolve
    return dict(media_catalog=spark.createDataFrame([("x",)], "other string"))


def _bad_expectations(spark):
    # an expectation table without `expected_hash`: the integrity job fails
    # on its background thread, after the drift, profile and violations
    # blocks exist
    return dict(
        expected_fingerprints=spark.createDataFrame(
            [("d1", "sha256")], "doc_id string, algo string"
        )
    )


@pytest.mark.parametrize("entry", ["run_suite", "run_with_lineage"])
@pytest.mark.parametrize("bad_input", [_bad_catalog, _bad_expectations])
def test_failed_run_releases_its_blocks(spark, tmp_path, entry, bad_input):
    """Failure paths release the blocks they hold: a run that raises leaves
    the persistent-RDD count at its base (the corpus cache, finished
    background jobs' blocks and the violations block included)."""
    from pyspark.errors import AnalysisException

    from datachecker_spark.runner import run_with_lineage

    cache.release_all(spark)
    docs = generate_documents(spark, 300, dup_rate=0.1, seed=17)
    kw = bad_input(spark)
    base = _n_persistent(spark)
    with pytest.raises(AnalysisException):
        if entry == "run_suite":
            run_suite(docs, **kw)
        else:
            run_with_lineage(docs, str(tmp_path / "out"), run_id="r", **kw)
    assert _n_persistent(spark) == base
