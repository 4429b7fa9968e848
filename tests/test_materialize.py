"""Scale-safe materialization primitive (r10 verdict items 2 & 5):
both modes must produce bit-identical frames, the partitioned form
must actually preserve its partitioning into the materialized scan
(that is the whole point), and the byte-based broadcast bound must
price row width, not just row count."""

import contextlib
import re

import pytest
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.operators import materialize as M


@pytest.fixture()
def frame(spark):
    return spark.range(500).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("v")
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


@contextlib.contextmanager
def _checkpoint_dir(spark, path):
    """Set the SparkContext checkpoint dir for the block and restore
    the prior setting (usually none) after it, so later tests still
    see ``reliable`` fail loudly without one."""
    jsc = spark.sparkContext._jsc.sc()
    prior = jsc.checkpointDir()
    spark.sparkContext.setCheckpointDir(str(path))
    try:
        yield
    finally:
        getattr(jsc, "checkpointDir_$eq")(prior)


def test_modes_bit_identical(spark, frame, tmp_path):
    base = _rows(frame)
    assert _rows(M.materialize(frame)) == base
    assert _rows(M.materialize(frame, partition_by=("k",))) == base
    assert _rows(M.materialize(frame, eager=False)) == base
    spark.conf.set(M.MATERIALIZE_MODE_CONF, "reliable")
    try:
        # reliable requires a checkpoint dir: loud failure without one…
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            M.materialize(frame)
        # …and bit-identical frames with one
        with _checkpoint_dir(spark, tmp_path / "ckpt"):
            assert _rows(M.materialize(frame)) == base
            assert _rows(M.materialize(frame, partition_by=("k",))) == base
        # the dir is unset again, so the loud failure is back
        with pytest.raises(RuntimeError, match="setCheckpointDir"):
            M.materialize(frame)
    finally:
        spark.conf.set(M.MATERIALIZE_MODE_CONF, "local")


def test_mode_conf_validated(spark, frame):
    spark.conf.set(M.MATERIALIZE_MODE_CONF, "bogus")
    try:
        with pytest.raises(ValueError, match=re.escape("must be local|reliable,")):
            M.materialize(frame)
    finally:
        spark.conf.set(M.MATERIALIZE_MODE_CONF, "local")


def test_partitioned_materialization_kills_downstream_exchange(spark, frame):
    """groupBy/join on the partition key over a partitioned
    materialization must need NO new Exchange — the loop operators
    rely on this to run their per-iteration joins exchange-free."""
    ck = M.materialize(frame, partition_by=("k",))
    agg_plan = (
        ck.groupBy("k")
        .agg(F.sum("v"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in agg_plan


def test_operators_route_through_materialize_modes(spark, tmp_path):
    """r10 verdict item 2: the edge-sized truncation sites in the graph
    and dedup operators must go through :func:`materialize`, so that a
    cluster can switch them to reliable checkpoints by conf alone.
    Forcing ``reliable`` end-to-end proves the wiring: a bare
    ``localCheckpoint()`` would not touch the checkpoint dir, and results
    must be bit-identical across modes."""
    from query_refinement_dsit_databases_2021_spark.operators import (
        dedup,
        graph,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 7)],
        "src long, dst long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 13), (11, 12)],
        "doc_a long, doc_b long",
    )

    def run():
        return {
            "pagerank": _rows(graph.pagerank(edges, 3)),
            "triangles": _rows(graph.triangle_count(edges)),
            "components": _rows(dedup.neardup_components(pairs)),
        }

    base = run()
    ckpt_dir = tmp_path / "ckpt"
    with _checkpoint_dir(spark, ckpt_dir):
        spark.conf.set(M.MATERIALIZE_MODE_CONF, "reliable")
        try:
            assert run() == base
        finally:
            spark.conf.set(M.MATERIALIZE_MODE_CONF, "local")
    # the reliable pass must have actually written checkpoint data
    files = list(ckpt_dir.rglob("*"))
    assert files, "reliable mode wrote nothing to the checkpoint dir"


def test_broadcast_ok_prices_row_width(spark):
    narrow = spark.range(1).select(F.col("id").alias("node"))
    wide = spark.range(1).select(
        *[F.col("id").alias(f"c{i}") for i in range(10)]
    )
    limit_rows_narrow = M.BROADCAST_MAX_BYTES // M.est_row_bytes(narrow)
    limit_rows_wide = M.BROADCAST_MAX_BYTES // M.est_row_bytes(wide)
    assert limit_rows_wide < limit_rows_narrow
    assert M.broadcast_ok(limit_rows_narrow, narrow)
    assert not M.broadcast_ok(limit_rows_narrow + 1, narrow)
    assert not M.broadcast_ok(limit_rows_narrow, wide)
