"""Driver-plan hygiene for iterative DataFrame loops.

Iterative algorithms that rebuild a frame from itself each round grow the
LOGICAL plan with round count — linearly when the previous frame is
referenced once (the self-edge discipline, CLAUDE.md), 2^n when it is
referenced twice. Catalyst's driver-side cost grows super-linearly with
that plan even in the single-reference case: measured on the
component-propagation loop, 12 rounds took 68 s (analysis-dominated) and
16 rounds OOM'd an 8 g driver during plan handling, independent of data
size (BENCH.md "deep-loop robustness"). Deep loops therefore need
periodic LINEAGE TRUNCATION — the standard iterative-graph pattern
(GraphFrames checkpoints the same way).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Eagerly write ``df`` to the checkpoint dir; return a frame rooted at
    a ``LogicalRDD`` over those files, independent of ``df``'s lineage.

    Reliable ``checkpoint()``, never ``localCheckpoint()``: the local form
    keeps its blocks in the block manager (an extra persisted RDD, lost
    with its executor), while reliable checkpoint files leave the
    caller-owned cache pins (getPersistentRDDs) untouched, and an evicted
    cache partition built on the result recomputes from them. With
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` (session.py
    default) Spark's ContextCleaner deletes the files once no frame
    references them. On a cluster set ``spark.checkpoint.dir`` to a path
    every executor reaches; without one, a driver-local temp dir is used
    and removed at process exit."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        base = tempfile.mkdtemp(prefix="sparklead_checkpoint_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        sc.setCheckpointDir(base)
    return df.checkpoint()
