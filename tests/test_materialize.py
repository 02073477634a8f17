"""The shared materialization policy (`_index_common.materialize`).

Every operator that pins a per-call intermediate (pair-generator
signatures, CC edge iterations, CDC resolution, validation folds)
routes through this one helper, so its two modes — `local`
(localCheckpoint, the bench/test default) and `reliable`
(Dataset.checkpoint, the dynamic-allocation cluster mode) — must both
materialize correctly, and `eager_stats`' Observation fold must fire
under both.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from parq_tools_spark.operators._index_common import eager_stats, materialize

MODE_KEY = "spark.parq_tools.materialize.mode"


@pytest.fixture()
def reliable_mode(spark, tmp_path):
    """Switch the session to reliable-checkpoint materialization for
    one test, restoring the default afterwards."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    spark.conf.set(MODE_KEY, "reliable")
    yield spark
    spark.conf.set(MODE_KEY, "local")


def test_reliable_mode_requires_checkpoint_dir(spark):
    # must run BEFORE any test that sets the shared session's
    # checkpoint dir (a context-level set cannot be undone)
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir already set on the shared session")
    spark.conf.set(MODE_KEY, "reliable")
    try:
        with pytest.raises(ValueError, match="checkpoint directory"):
            materialize(spark.range(5))
    finally:
        spark.conf.set(MODE_KEY, "local")


def test_local_default_truncates_lineage(spark):
    df = spark.range(50).withColumn("v", F.col("id") * 3)
    out = materialize(df)
    assert out.count() == 50
    assert sorted(r.v for r in out.collect()) == sorted(
        r.v for r in df.collect()
    )
    # lineage is cut: the served plan scans the checkpointed RDD
    assert "ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()


def test_reliable_mode_materializes_identically(reliable_mode):
    spark = reliable_mode
    df = spark.range(50).withColumn("v", F.col("id") * 3)
    out = materialize(df)
    assert sorted(r.v for r in out.collect()) == [i * 3 for i in range(50)]


def test_bad_mode_raises(spark):
    spark.conf.set(MODE_KEY, "bogus")
    try:
        with pytest.raises(ValueError, match="must be 'local' or 'reliable'"):
            materialize(spark.range(5))
    finally:
        spark.conf.set(MODE_KEY, "local")


def test_eager_stats_observation_fires_in_both_modes(spark, tmp_path):
    df = spark.range(100)
    out, stats = eager_stats(df, n=F.count(F.lit(1)), s=F.sum("id"))
    assert (stats["n"], stats["s"]) == (100, 4950)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck2"))
    spark.conf.set(MODE_KEY, "reliable")
    try:
        out2, stats2 = eager_stats(df, n=F.count(F.lit(1)), s=F.sum("id"))
        assert (stats2["n"], stats2["s"]) == (100, 4950)
        assert out2.count() == 100
    finally:
        spark.conf.set(MODE_KEY, "local")


def test_operator_under_reliable_mode_matches_local(reliable_mode, sf_dir):
    """An end-to-end operator that leans on materialize (the ngram
    pair generator with pruning, which checkpoints the shingle stream)
    produces identical pairs under both modes."""
    import os

    from parq_tools_spark.operators.dedup import ngram_jaccard_pairs

    spark = reliable_mode
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    rel = sorted(
        map(tuple, ngram_jaccard_pairs(docs, threshold=0.5).collect())
    )
    spark.conf.set(MODE_KEY, "local")
    loc = sorted(
        map(tuple, ngram_jaccard_pairs(docs, threshold=0.5).collect())
    )
    assert rel == loc


def test_failing_mode_conf_read_propagates():
    """A conf read that raises must surface, never silently fall back
    to ``local`` (that would quietly drop a ``reliable`` session's
    fault tolerance)."""
    from types import SimpleNamespace

    class _BrokenConf:
        def get(self, key, default=None):
            raise RuntimeError("conf store unavailable")

    df = SimpleNamespace(sparkSession=SimpleNamespace(conf=_BrokenConf()))
    with pytest.raises(RuntimeError, match="conf store unavailable"):
        materialize(df)


def test_session_cleans_reliable_checkpoints_by_default(spark):
    """``get_spark`` defaults the ContextCleaner to delete reliable
    checkpoint files once their DataFrame is garbage-collected."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"
