"""The unified open_index facade (operators/index_facade.py): family
sniffing via the manifest marker, the shared 9-op surface dispatching
to the family functions verbatim, and the zero/ambiguous-family
errors."""

import os

import pytest

from pyspark.sql import functions as F

from parq_tools_spark.operators.index_facade import (
    INDEX_MARKERS,
    open_index,
)


@pytest.fixture()
def docs(spark, sf_dir):
    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )


@pytest.fixture()
def emb(spark, sf_dir):
    return spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")


def test_open_index_resolves_all_four_families(
    spark, docs, emb, tmp_path
):
    from parq_tools_spark.operators.ann_index import ann_index_build
    from parq_tools_spark.operators.dedup import minhash_index_write
    from parq_tools_spark.operators.search import bm25_index_build
    from parq_tools_spark.operators.simhash_index import (
        simhash_index_write,
    )

    paths = {
        "ann": str(tmp_path / "ann"),
        "bm25": str(tmp_path / "bm25"),
        "minhash": str(tmp_path / "mh"),
        "simhash": str(tmp_path / "sh"),
    }
    ann_index_build(emb, paths["ann"], n_cells=4, m=8, n_codes=16)
    bm25_index_build(docs, paths["bm25"], n_buckets=8)
    minhash_index_write(docs, paths["minhash"], num_hashes=32, bands=8)
    simhash_index_write(docs, paths["simhash"])
    for fam, path in paths.items():
        h = open_index(spark, path)
        assert h.family == fam
        st = h.stats()
        assert st["version"] == 1 and st["n_segments"] == 1
        assert h.versions() == [1]


def test_facade_query_equals_direct_call(spark, docs, emb, tmp_path):
    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_topk,
    )
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
    )

    ap = str(tmp_path / "ann")
    ann_index_build(emb, ap, n_cells=4, m=8, n_codes=16)
    qs = emb.filter(F.col("vec_id") < 3)
    via_facade = sorted(
        map(tuple, open_index(spark, ap).query(qs, k=5, nprobe=2)
            .select("query_id", "vec_id", "pq_score").collect())
    )
    direct = sorted(
        map(tuple, ann_index_topk(spark, ap, qs, k=5, nprobe=2)
            .select("query_id", "vec_id", "pq_score").collect())
    )
    assert via_facade == direct and len(direct) == 15

    bp = str(tmp_path / "bm25")
    bm25_index_build(docs, bp, n_buckets=8)
    got = sorted(
        map(tuple, open_index(spark, bp)
            .query("customer value table", k=5)
            .select("doc_id", "score").collect())
    )
    want = sorted(
        map(tuple, bm25_index_topk(
            spark, bp, "customer value table", k=5)
            .select("doc_id", "score").collect())
    )
    assert got == want


def test_facade_maintenance_lifecycle_and_time_travel(
    spark, docs, tmp_path
):
    """add -> delete -> maybe_compact -> versions/time-travel through
    ONE handle, on the simhash family (band-row index, cheapest)."""
    from parq_tools_spark.operators.simhash_index import (
        simhash_index_write,
    )

    path = str(tmp_path / "sh")
    simhash_index_write(
        docs.filter(F.col("doc_id") % 2 == 0), path, keep_versions=4
    )
    h = open_index(spark, path)
    h.add(docs.filter(F.col("doc_id") % 2 == 1))
    assert h.stats()["n_segments"] == 2
    assert h.delete([0, 2])["deleted"] == 2
    assert h.stats()["pending_delete_batches"] == 1
    assert h.maybe_compact(max_segments=1, max_delete_batches=0) is True
    assert h.stats()["n_segments"] == 1
    assert h.stats()["pending_delete_batches"] == 0
    vers = h.versions()
    assert len(vers) >= 2  # history retained: time travel works
    old = h.stats(version=vers[0])
    assert old["version"] == vers[0]
    probe = docs.filter(F.col("doc_id") < 6)
    got = {
        r.id_indexed
        for r in h.query(
            probe, max_hamming=3, exclude_same_id=False
        ).collect()
    }
    assert 0 not in got and 2 not in got


def test_facade_retrain_dispatch(spark, docs, emb, tmp_path):
    from parq_tools_spark.operators.search import bm25_index_build
    from parq_tools_spark.operators.ann_index import ann_index_build

    ap = str(tmp_path / "ann")
    ann_index_build(
        emb, ap, n_cells=4, m=8, n_codes=16, store_vectors=True
    )
    h = open_index(spark, ap)
    v0 = h.stats()["version"]
    h.retrain()
    assert h.stats()["version"] == v0 + 1

    bp = str(tmp_path / "bm25")
    bm25_index_build(docs, bp, n_buckets=8)
    with pytest.raises(ValueError, match="ann-family"):
        open_index(spark, bp).retrain()


def test_open_index_errors(spark, docs, tmp_path):
    from parq_tools_spark.operators.search import bm25_index_build
    from parq_tools_spark.operators.simhash_index import (
        simhash_index_write,
    )

    with pytest.raises(ValueError, match="no committed index"):
        open_index(spark, str(tmp_path / "empty"))
    both = str(tmp_path / "both")
    bm25_index_build(docs, both, n_buckets=8)
    simhash_index_write(docs, both)
    with pytest.raises(ValueError, match="ambiguous"):
        open_index(spark, both)
    assert set(INDEX_MARKERS) == {"ann", "bm25", "minhash", "simhash"}


def test_family_markers_come_from_index_markers(spark, tmp_path):
    """Each family commits under the marker the facade sniffs for, read
    from the one table in the protocol module."""
    from parq_tools_spark.operators import _band_index, _index_common, dedup, simhash_index
    from parq_tools_spark.operators.ann_index import _ann_vs
    from parq_tools_spark.operators.search import _bm25_vs

    path = str(tmp_path / "idx")
    got = {
        "ann": _ann_vs(spark, path).marker_name,
        "bm25": _bm25_vs(spark, path).marker_name,
        "minhash": _band_index._vs(dedup.BAND_FAMILY, spark, path).marker_name,
        "simhash": _band_index._vs(simhash_index.BAND_FAMILY, spark, path).marker_name,
    }
    assert got == INDEX_MARKERS
    assert INDEX_MARKERS is _index_common.INDEX_MARKERS


def test_facade_query_passes_filtered_retrieval_kwargs(
    spark, sf_dir, tmp_path
):
    """The handle passes where=/allowed_ids= through verbatim, so
    filtered retrieval needs no family-specific code path at the
    facade layer."""
    import os

    from pyspark.sql import functions as F

    from parq_tools_spark.operators.index_facade import open_index
    from parq_tools_spark.operators.search import bm25_index_build

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "lang")
    path = str(tmp_path / "bm")
    bm25_index_build(docs, path, n_buckets=4, store_cols=["lang"])
    h = open_index(spark, path)
    lang = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    got = h.query("stream merge window", k=5, where="lang == 'en'").collect()
    assert got and all(lang[r.doc_id] == "en" for r in got)
    got2 = h.query(
        "stream merge window", k=5,
        allowed_ids=docs.filter(F.col("doc_id") % 2 == 0).select("doc_id"),
    ).collect()
    assert got2 and all(r.doc_id % 2 == 0 for r in got2)
