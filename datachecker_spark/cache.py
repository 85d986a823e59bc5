"""The engine's one materialization primitive and its deterministic release.

``materialize(df)`` is the only place the engine checkpoints.  It writes
the blocks eagerly, so every later read of the result scans them instead
of recomputing the plan.  A lazy checkpoint cuts nothing until its first
action, and a plan that reads it twice inside that action computes the
upstream twice (measured +8 s on dedup_e2e at sf0.1).  When the
SparkContext has a checkpoint dir (the ``spark.checkpoint.dir`` conf or
``setCheckpointDir``) the checkpoint is reliable, so blocks survive
executor loss on a cluster; otherwise it is local and executor-resident.
Which one is a deployment setting, not an engine option.

The Spark story is that a checkpoint block is reclaimed by the JVM
ContextCleaner once the checkpointed RDD becomes weakly reachable — drop
the Dataset, GC runs, blocks drain.  Measured on this engine (pyspark 4.1,
ClientServer gateway), that path is DEAD from Python: a localCheckpoint
block survives 15 rounds of paired ``gc.collect()`` + ``System.gc()``
after every Python reference is dropped (see tests/test_persist_release.py
docstring for the repro).  In a long-lived session — exactly the
10^12-doc deployment mode, a resume loop re-entering ``run_suite`` per
partition batch — each pass would pin one more generation of blocks until
executors OOM.

So the engine never relies on GC.  One ownership rule covers every
operator: it either returns a plan whose ``LogicalRDD`` leaves are its
blocks (textops, graph, similarity — the caller disposes with
``release(result)``), or it materializes its own result and releases its
intermediates before returning (``check_drift``, ``verify_integrity``).
``run_suite`` frees its corpus cache before returning, also when it
raises, and hands the caller a ``SuiteResult.release()`` for the result
blocks.

Analog in the reference engine: arena deallocation at the end of each
module's run (src/modules/core.zig — allocator passed in, freed by the
caller); same contract, the producer does not leak what the consumer
cannot see.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """df's rows written to blocks now; the returned plan is one LogicalRDD
    leaf over them (reliable under a context checkpoint dir, else local)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def checkpoint_rdds(df: DataFrame) -> list:
    """JVM RDD handles for every LogicalRDD leaf of df's analyzed plan.

    Covers local and reliable checkpoints (both wrap the materialized RDD
    in a LogicalRDD); plain persisted Datasets don't appear here — their
    release is ``df.unpersist()``, which ``release`` below also applies.
    """
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [
        leaves.apply(i).rdd()
        for i in range(leaves.length())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    ]


def release(*dfs: DataFrame | None, blocking: bool = False) -> int:
    """Unpersist every cache block reachable from the given DataFrames.

    Handles a Dataset-level persist (``df.unpersist()``) and checkpoint
    blocks (LogicalRDD leaves).  Blocks not actually persisted
    (reliable-checkpoint leaves, already-released blocks) are skipped.
    Returns the number of RDDs unpersisted.  Safe to call twice; None
    entries are ignored.
    """
    n = 0
    for df in dfs:
        if df is None:
            continue
        sl = df.storageLevel
        if sl.useMemory or sl.useDisk:
            df.unpersist(blocking)
            n += 1
        for rdd in checkpoint_rdds(df):
            jsl = rdd.getStorageLevel()
            if jsl.useMemory() or jsl.useDisk():
                rdd.unpersist(blocking)
                n += 1
    return n


def release_all(spark, blocking: bool = False) -> int:
    """Unpersist EVERY persistent RDD in the context (bench/test hygiene).

    For harnesses that run many independent queries in one session
    (bench.py, the driver's oracle gate): between queries nothing is
    legitimately cached, so drop whatever the last query materialized —
    including checkpoint blocks that no DataFrame handle reaches anymore.
    Not for use inside the engine (it would drop concurrent jobs' blocks).
    """
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.entrySet().iterator()
    n = 0
    while it.hasNext():
        it.next().getValue().unpersist(blocking)
        n += 1
    spark.catalog.clearCache()
    return n
