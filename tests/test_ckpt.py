"""Checkpoint ownership and release (operators/ckpt.py).

Pins the contract edges: (1) release() actually frees the persisted
blocks (the r11 graph_kcore GC-straggler fix depends on it), (2)
misuse — a derived projection instead of the checkpointed frame —
raises instead of silently unpersisting nothing, (3) ``ckpt.scope()``
frees what it owns on every exit and ``ckpt.keep`` hands frames to the
enclosing scope, (4) every checkpointing operator leaves no block
behind once its caller's scope exits, and (5) no module but
``operators/ckpt.py`` calls ``localCheckpoint``.
"""

from __future__ import annotations

import ast
import pathlib
import threading
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sales_data_etl_pipeline_spark.operators import (
    ckpt,
    corpus,
    dedup,
    rank,
    text,
)

PACKAGE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "sales_data_etl_pipeline_spark"
)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_release_frees_blocks(spark):
    base = _n_persistent(spark)
    ck = spark.range(10_000).selectExpr("id", "id * 2 as x").localCheckpoint(
        eager=True
    )
    assert _n_persistent(spark) == base + 1
    # capture THIS checkpoint's RDD id before release so the poll below
    # is scoped to it — requiring a globally empty block store would
    # spin on unrelated session residue (e.g. rank.py's documented
    # retained ranked-slice blocks) or any persisted frame another test
    # left behind
    rdd_id = ck._jdf.queryExecution().analyzed().rdd().id()
    # the poll below filters getRDDStorageInfo() by this id, which is
    # vacuously true if the analyzed().rdd() convention ever stops
    # matching the persisted storage id (e.g. across a Spark upgrade) —
    # so first assert the captured id IS a currently-cached RDD, making
    # a convention drift fail loudly here instead of passing vacuously
    # (r14 ADVICE)
    assert any(
        info.id() == rdd_id and info.numCachedPartitions() > 0
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ), f"captured rdd_id {rdd_id} is not a cached RDD - convention drift"
    ckpt.release(ck)
    assert _n_persistent(spark) == base
    # released blocks are gone and lineage is truncated: reading the
    # frame again must FAIL (misuse detected), never silently recompute.
    # release() requests removal NON-blocking, so poll the storage view
    # until the blocks are actually dropped before asserting — a fast
    # re-read racing the async removal could still find them
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if all(
            info.numCachedPartitions() == 0
            for info in infos
            if info.id() == rdd_id
        ):
            break
        time.sleep(0.05)
    else:
        pytest.fail("released blocks never dropped from block storage")
    with pytest.raises(Exception):
        ck.count()


def test_release_rejects_derived_frames(spark):
    ck = spark.range(100).localCheckpoint(eager=True)
    derived = ck.select((F.col("id") + 1).alias("y"))
    with pytest.raises(ValueError, match="LogicalRDD"):
        ckpt.release(derived)
    ckpt.release(ck)


def test_release_skips_none(spark):
    ckpt.release(None)  # loop-carried "previous round" slot starts empty


def test_lineage_silence_is_reentrant(spark):
    """Nested _lineage_warning_silenced contexts must restore the
    PRE-silence logger level on full unwind — a naive nested capture
    would snapshot the demoted ERROR as 'prior' and pin the RDD
    loggers at ERROR permanently (r13 ADVICE)."""
    jvm = spark.sparkContext._jvm
    log_manager = jvm.org.apache.logging.log4j.LogManager
    cls = ckpt._RDD_LOGGER_CLASSES[0]
    before = log_manager.getLogger(cls).getLevel().toString()
    error = jvm.org.apache.logging.log4j.Level.ERROR.toString()
    with ckpt._lineage_warning_silenced(spark):
        assert log_manager.getLogger(cls).getLevel().toString() == error
        with ckpt._lineage_warning_silenced(spark):
            assert log_manager.getLogger(cls).getLevel().toString() == error
        # inner exit must NOT restore early or re-pin ERROR as prior
        assert log_manager.getLogger(cls).getLevel().toString() == error
    assert log_manager.getLogger(cls).getLevel().toString() == before
    assert ckpt._silence_depth == 0


def test_scope_releases_on_raise(spark):
    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with ckpt.scope():
            ck = ckpt.checkpoint(spark.range(100))
            assert _rdd_id(ck) in _persistent_ids(spark)
            raise RuntimeError("boom")
    assert _persistent_ids(spark) <= before


def test_keep_hands_frame_to_enclosing_scope(spark):
    before = _persistent_ids(spark)
    with ckpt.scope():
        with ckpt.scope():
            kept = ckpt.checkpoint(spark.range(100))
            dropped = ckpt.checkpoint(spark.range(50))
            ckpt.keep(kept)
        ids = _persistent_ids(spark)
        assert _rdd_id(kept) in ids and _rdd_id(dropped) not in ids
        assert kept.count() == 100
    assert _persistent_ids(spark) <= before


def test_checkpoint_outside_scope_is_unowned(spark):
    ck = ckpt.checkpoint(spark.range(100))
    with ckpt.scope():
        ckpt.checkpoint(spark.range(10))
    assert _rdd_id(ck) in _persistent_ids(spark)
    ckpt.release(ck)


def test_scopes_are_per_thread(spark):
    """``foreachBatch`` runs on a py4j callback thread: a checkpoint
    taken there is not owned by a scope another thread holds open."""
    taken = []

    def worker():
        taken.append(ckpt.checkpoint(spark.range(10)))

    with ckpt.scope():
        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=60)
        assert not t.is_alive() and len(taken) == 1
    assert _rdd_id(taken[0]) in _persistent_ids(spark)
    ckpt.release(taken[0])


@pytest.mark.parametrize(
    "op",
    [dedup.connected_components, dedup.kcore_decompose],
    ids=["connected_components", "kcore_decompose"],
)
def test_unconverged_graph_op_raises_and_frees_everything(spark, op):
    """A 12-node chain needs more rounds than ``max_iterations=1``
    allows: the operator raises, and its scope frees every block it
    took on the way out."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        op(pairs, max_iterations=1)
    assert _persistent_ids(spark) <= before


def test_iterative_graph_ops_leave_bounded_residue(spark):
    """Every operator that checkpoints — the four iterative graph loops
    (also at zero rounds), BPE train/apply/apply-OOV (``fold_batch=1``,
    so the mid-chain cut is taken), the range-pinned global rank and
    the token-budget shard scan — leaves nothing persisted once the
    caller's scope exits. Ids, not the count: the ContextCleaner may
    free unrelated blocks meanwhile, which only removes ids."""
    pairs = spark.createDataFrame(
        # one 3-clique (survives 2-core) + a chain (peeled away)
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        "id_a string, id_b string",
    ).localCheckpoint(eager=True)  # keep the input out of the comparison
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the theme of the thesis theme themes"),
            Row(doc_id=2, text="these themes are the same theme thesis"),
            Row(doc_id=3, text="aaa abba banana bananas cabana"),
        ]
    )
    eval_docs = spark.createDataFrame(
        [Row(doc_id=100, text="theme park thesis bananas")]
    )
    sized = docs.withColumn("n_tokens", F.size(text.tokens("text")))
    before = _persistent_ids(spark)
    with ckpt.scope():
        core = dedup.kcore_decompose(pairs, k=2, max_iterations=4)
        assert {r["doc_id"] for r in core.collect()} == {"a", "b", "c"}
        assert dedup.connected_components(pairs, max_iterations=6).count() == 5
        for iterations in (0, 3):
            assert dedup.pagerank(pairs, iterations=iterations).count() == 5
            assert (
                dedup.label_propagation(pairs, iterations=iterations).count()
                == 5
            )
        assert text.bpe_train_merges(docs, n_merges=3).count() == 3
        assert text.bpe_apply_token_counts(docs, n_merges=3).count() == 3
        assert (
            text.bpe_apply_oov_token_counts(
                docs, eval_docs, n_merges=3, fold_batch=1
            ).count()
            == 1
        )
        ranked, n = rank.distributed_row_number(sized, [F.col("doc_id").asc()])
        assert n == 3 and ranked.count() == 3
        assert corpus.shard_by_token_budget(sized, 8).count() == 3
        assert _persistent_ids(spark) - before  # the scope owns blocks
    assert _persistent_ids(spark) <= before
    ckpt.release(pairs)


def test_only_ckpt_module_calls_local_checkpoint():
    """``operators/ckpt.py`` is the single owner of checkpoint lifetimes:
    any other ``.localCheckpoint(...)`` call would take blocks no scope
    frees. Mentions in comments and docstrings do not count."""
    owner = PACKAGE / "operators" / "ckpt.py"
    offenders = [
        f"{path.relative_to(PACKAGE)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != owner
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]
    assert offenders == []
    assert len(list(PACKAGE.rglob("*.py"))) > 20  # the walk found the package
