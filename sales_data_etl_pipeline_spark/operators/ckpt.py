"""Deterministic lifecycle for ``localCheckpoint`` storage blocks.

Iterative operators (k-core peeling, connected components, PageRank,
label propagation) cut their per-round lineage with ``localCheckpoint``
— necessary, or the unresolved plan doubles per round — but Spark only
frees those MEMORY_AND_DISK blocks when the JVM-side RDD reference is
garbage collected AND the async ContextCleaner gets around to the
unpersist. Under a long suite (149 bench queries) or repeated runs of
one iterative query, superseded round blocks pile up faster than two
garbage collectors drain them; the storage-memory eviction churn shows
up as multi-second ``jvmGcTime`` stragglers (the r11 ``graph_kcore``
[2.53, 12.06] band, reproduced ISOLATED by ``tools/variance_probe.py``
at 4.72× with 5.6 s stage GC on the slow pass and 0 on the fast ones).

:func:`release` frees a checkpoint's blocks the moment the loop
supersedes it, bounding an N-round operator's storage residue to ~2
rounds instead of N (plus the edge table). At cluster scale the same
discipline bounds executor storage memory: a 30-round peel on 100 TB
would otherwise hold 30 copies of the node table in block storage.

``plans.pipeline.run_pipeline`` is a caller too: it checkpoints each
cleaned table once so the sinks and the report queries share the rows,
releases them if a later step raises, and otherwise hands them to its
caller, which releases them once its last query has run (the pipeline
CLI does so after the PDF report).

Contract: pass the EXACT DataFrame returned by ``localCheckpoint``
(its analyzed plan is the ``LogicalRDD`` wrapping the persisted RDD —
a derived ``select``/``filter`` is not it, and :func:`release` raises
rather than silently unpersisting nothing). After release the blocks
are gone and the lineage is already truncated, so any plan still
reading them fails loudly with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND —
misuse is an error, never a silent recompute. Releasing upstream
checkpoints does NOT reduce the fault tolerance of a downstream
eager checkpoint: local checkpoints can never recompute from lineage
anyway, so only the blocks the returned plan actually reads matter.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame

#: The two concrete RDD classes whose instance loggers emit the
#: per-unpersist lineage-truncation WARN.
_RDD_LOGGER_CLASSES = (
    "org.apache.spark.rdd.MapPartitionsRDD",
    "org.apache.spark.rdd.ParallelCollectionRDD",
)

#: Reentrancy depth for _lineage_warning_silenced. Only the OUTERMOST
#: context captures and restores logger levels: a nested entry would
#: otherwise snapshot the already-demoted ERROR as the "prior" level
#: and its exit would pin the RDD loggers at ERROR permanently —
#: silently reinstating the session-wide suppression this context was
#: written to remove. Same-thread nesting only (Spark driver-side
#: release calls are single-threaded here); a lock is deliberately not
#: taken around the py4j calls.
_silence_depth = 0


@contextlib.contextmanager
def _lineage_warning_silenced(spark):
    """``RDD.unpersist`` on a locally-checkpointed RDD logs a one-line
    WARN ("lineage has been truncated and cannot be recomputed") every
    call. Here that is the DESIGN — deterministic release of blocks the
    plan will never read again — so the warning is pure noise storming
    the stderr tail the driver captures (the r7 silencing convention:
    keep the tail as signal for the next REAL warning). Demoted only
    for the duration of the unpersist calls, then restored to the prior
    effective level — a genuine WARN from those RDD classes outside the
    release window still reaches the log (the session-wide demotion the
    r12 form used would have hidden it forever).
    """
    global _silence_depth
    _silence_depth += 1
    if _silence_depth > 1:
        # already silenced by an enclosing release(): capturing levels
        # here would snapshot ERROR as "prior" and re-pin it on exit
        try:
            yield
        finally:
            _silence_depth -= 1
        return
    jvm = spark.sparkContext._jvm
    configurator = jvm.org.apache.logging.log4j.core.config.Configurator
    log_manager = jvm.org.apache.logging.log4j.LogManager
    # log4j2 core Loggers always report an effective level (inherited
    # from root when no explicit config exists), so restoring to it
    # preserves observable behavior even though it pins a LoggerConfig
    prior = [log_manager.getLogger(c).getLevel() for c in _RDD_LOGGER_CLASSES]
    for cls in _RDD_LOGGER_CLASSES:
        configurator.setLevel(cls, jvm.org.apache.logging.log4j.Level.ERROR)
    try:
        yield
    finally:
        for cls, lvl in zip(_RDD_LOGGER_CLASSES, prior):
            configurator.setLevel(cls, lvl)
        _silence_depth -= 1


def release(*dfs: DataFrame | None) -> None:
    """Unpersist the storage blocks behind DataFrames returned by
    ``localCheckpoint``. ``None`` entries are skipped (loop-carried
    "previous round" slots start empty). Non-blocking: the removal is
    async, which is fine — the point is that it is REQUESTED at
    supersession time instead of after two garbage-collector passes.
    """
    plans = []
    for df in dfs:
        if df is None:
            continue
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            raise ValueError(
                "release() takes the exact DataFrame returned by "
                "localCheckpoint (analyzed plan = LogicalRDD), got "
                f"{plan.getClass().getSimpleName()} — release the "
                "checkpointed frame itself, not a derived projection"
            )
        plans.append((df.sparkSession, plan))
    if not plans:
        return
    with _lineage_warning_silenced(plans[0][0]):
        for _, plan in plans:
            plan.rdd().unpersist(False)
