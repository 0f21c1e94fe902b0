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

Ownership contract — this module is the ONLY caller of
``localCheckpoint`` in the package and the only place that decides when
blocks are freed:

- :func:`checkpoint` takes the checkpoint (eager or lazy, the call
  site's choice under the r16/r17 ABBA-deadlock rule) and registers it
  with the innermost open :func:`scope` of the calling thread. With no
  scope open the checkpoint is unowned and the ContextCleaner frees it
  once the frame is dropped.
- :func:`scope` releases everything registered in it on exit, normal
  or raising. Scopes nest per thread (``foreachBatch`` runs on a py4j
  callback thread, so a micro-batch's scope is its own). An operator
  whose whole body is one scope uses it as a decorator,
  ``@ckpt.scope()`` (the iterative graph loops).
- :func:`keep` hands checkpoints from the innermost scope to the
  enclosing one: an operator opens a scope for its working tables and
  keeps only its result, which then belongs to the CALLER's scope (a
  test, the pipeline CLI around ``plans.pipeline.run_pipeline``).
  A lazy checkpoint an operator returns unread (the range pins of
  ``rank``/``corpus``, BPE's last fold cut) is simply left registered
  in the caller's scope.
- :func:`release` frees a checkpoint the moment a loop supersedes it,
  bounding an N-round operator's storage residue to ~2 rounds instead
  of N (plus the edge table). At cluster scale the same discipline
  bounds executor storage memory: a 30-round peel on 100 TB would
  otherwise hold 30 copies of the node table in block storage.

Contract: pass the EXACT DataFrame returned by :func:`checkpoint`
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
import threading

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


#: Per-thread stack of open scopes, innermost last; each scope is the
#: list of checkpoints it owns.
_scopes = threading.local()


def _stack() -> list[list[DataFrame]]:
    return _scopes.__dict__.setdefault("stack", [])


def checkpoint(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, owned by the innermost open scope
    (unowned — left to the ContextCleaner — when none is open)."""
    cut = df.localCheckpoint(eager)
    stack = _stack()
    if stack:
        stack[-1].append(cut)
    return cut


@contextlib.contextmanager
def scope():
    """Release every checkpoint registered inside on exit, normal or
    raising."""
    owned: list[DataFrame] = []
    _stack().append(owned)
    try:
        yield
    finally:
        _stack().pop()
        release(*owned)


def keep(*dfs: DataFrame) -> None:
    """Move ``dfs`` (matched by identity) from the innermost open scope
    to the enclosing one — unowned when there is no enclosing scope.
    Frames the innermost scope does not own are ignored."""
    stack = _stack()
    ids = {id(df) for df in dfs}
    moved = [f for f in stack[-1] if id(f) in ids]
    stack[-1][:] = [f for f in stack[-1] if id(f) not in ids]
    if len(stack) > 1:
        stack[-2].extend(moved)
