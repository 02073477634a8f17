"""Metadata-ONLY index updates (``ann_index_update_metadata`` /
``bm25_index_update_metadata``): flip stored ``store_cols`` values
without re-encoding codes or re-tokenizing postings — one new segment
of rewritten rows plus a version-scoped tombstone, committed
atomically.

The contract under test: (1) post-update serving — including
``where=`` — EQUALS a from-scratch build over the flipped corpus
(scores and ranks, so BM25 statistics are provably untouched);
(2) the existing code/posting files are never rewritten (pure
append); (3) guards are loud (missing ids, non-metadata columns,
duplicate ids, store_cols-less indexes); (4) maintenance
(compaction) folds the update like any other generation."""

import glob
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def emb(spark, sf_dir):
    return spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )


@pytest.fixture()
def docs(spark, sf_dir):
    return spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "lang")


def test_ann_update_metadata_equals_fresh_build(spark, emb, tmp_path):
    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_compact,
        ann_index_stats,
        ann_index_topk,
        ann_index_update_metadata,
    )

    path = str(tmp_path / "ann")
    fresh = str(tmp_path / "fresh")
    ann_index_build(
        emb, path, n_cells=8, m=8, n_codes=16, store_cols=["label"]
    )
    before = set(glob.glob(path + "/seg-*/cell=*/*.parquet"))
    flip = [
        r.vec_id
        for r in emb.filter(F.col("label") == 1).limit(10).collect()
    ]
    res = ann_index_update_metadata(
        spark, path,
        spark.createDataFrame(
            [(i, 0) for i in flip], "vec_id long, label int"
        ),
    )
    assert res["updated"] == len(flip)
    # pure append: every pre-update code file still on disk untouched
    assert before <= set(glob.glob(path + "/seg-*/cell=*/*.parquet"))
    # n_vecs unchanged: same vectors, new metadata
    assert (
        ann_index_stats(spark, path)["n_vecs"]
        == ann_index_stats(spark, path, version=1)["n_vecs"]
    )

    flipped = emb.withColumn(
        "label",
        F.when(F.col("vec_id").isin(flip), F.lit(0)).otherwise(
            F.col("label")
        ),
    )
    ann_index_build(
        flipped, fresh, n_cells=8, m=8, n_codes=16,
        store_cols=["label"],
    )
    qs = emb.filter(F.col("vec_id") < 3)

    def served(p, **kw):
        return sorted(
            (r.query_id, r.vec_id, r.pq_score, r.rank)
            for r in ann_index_topk(
                spark, p, qs, k=5, nprobe=2, **kw
            ).collect()
        )

    assert served(path, where="label == 0") == served(
        fresh, where="label == 0"
    )
    assert served(path) == served(fresh)
    # compaction folds the update generation like any other
    ann_index_compact(spark, path, force=True)
    assert served(path, where="label == 0") == served(
        fresh, where="label == 0"
    )


def test_ann_update_metadata_guards(spark, emb, tmp_path):
    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_update_metadata,
    )

    bare = str(tmp_path / "bare")
    ann_index_build(
        emb.select("vec_id", "embedding"), bare,
        n_cells=4, m=8, n_codes=16,
    )
    upd = spark.createDataFrame([(0, 1)], "vec_id long, label int")
    with pytest.raises(ValueError, match="store_cols"):
        ann_index_update_metadata(spark, bare, upd)

    path = str(tmp_path / "meta")
    ann_index_build(
        emb, path, n_cells=4, m=8, n_codes=16, store_cols=["label"]
    )
    with pytest.raises(ValueError, match="not visible"):
        ann_index_update_metadata(
            spark, path,
            spark.createDataFrame(
                [(10**9, 1)], "vec_id long, label int"
            ),
        )
    with pytest.raises(ValueError, match="not stored"):
        ann_index_update_metadata(
            spark, path,
            spark.createDataFrame(
                [(0, [0.5])], "vec_id long, embedding array<double>"
            ),
        )
    with pytest.raises(ValueError, match="duplicate"):
        ann_index_update_metadata(
            spark, path,
            spark.createDataFrame(
                [(0, 1), (0, 2)], "vec_id long, label int"
            ),
        )
    with pytest.raises(ValueError, match="nothing to update"):
        ann_index_update_metadata(
            spark, path,
            spark.createDataFrame([(0,)], "vec_id long"),
        )
    with pytest.raises(ValueError, match="id column"):
        ann_index_update_metadata(
            spark, path,
            spark.createDataFrame([(1,)], "label int"),
        )
    # type-incompatible id column: loud, not silently-empty
    with pytest.raises(ValueError, match="join-compatible"):
        ann_index_update_metadata(
            spark, path,
            spark.createDataFrame(
                [("a", 1)], "vec_id string, label int"
            ),
        )


def test_bm25_update_metadata_equals_fresh_build(spark, docs, tmp_path):
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_stats,
        bm25_index_topk,
        bm25_index_update_metadata,
    )

    path = str(tmp_path / "bm")
    fresh = str(tmp_path / "fresh")
    bm25_index_build(docs, path, n_buckets=8, store_cols=["lang"])
    q = "stream merge window"
    pre = {
        r.doc_id
        for r in bm25_index_topk(
            spark, path, q, k=10, where="lang == 'en'"
        ).collect()
    }
    victim = sorted(pre)[0]
    before = set(glob.glob(path + "/seg-*/tbucket=*/*.parquet"))
    res = bm25_index_update_metadata(
        spark, path,
        spark.createDataFrame(
            [(victim, "zz")], "doc_id long, lang string"
        ),
    )
    assert res["updated"] == 1
    assert before <= set(glob.glob(path + "/seg-*/tbucket=*/*.parquet"))
    # statistics untouched by construction
    st, st0 = (
        bm25_index_stats(spark, path),
        bm25_index_stats(spark, path, version=1),
    )
    assert (st["n_docs"], st["sum_dl"]) == (st0["n_docs"], st0["sum_dl"])

    flipped = docs.withColumn(
        "lang",
        F.when(F.col("doc_id") == victim, F.lit("zz")).otherwise(
            F.col("lang")
        ),
    )
    bm25_index_build(flipped, fresh, n_buckets=8, store_cols=["lang"])

    def served(p, **kw):
        return sorted(
            (r.doc_id, r.score, r.rank)
            for r in bm25_index_topk(spark, p, q, k=10, **kw).collect()
        )

    assert served(path, where="lang == 'en'") == served(
        fresh, where="lang == 'en'"
    )
    assert served(path, where="lang == 'zz'") == served(
        fresh, where="lang == 'zz'"
    )
    assert served(path) == served(fresh)


def test_bm25_update_metadata_partial_cols_and_zero_token(
    spark, docs, tmp_path
):
    """Updating a SUBSET of store_cols keeps the untouched columns'
    stored values; a zero-token document updates cleanly (it has a
    doc row but no postings)."""
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
        bm25_index_update_metadata,
        bm25_index_upsert,
    )

    path = str(tmp_path / "bm2")
    two = docs.withColumn(
        "grade", (F.col("doc_id") % 3).cast("int")
    )
    bm25_index_build(
        two, path, n_buckets=8, store_cols=["lang", "grade"]
    )
    # a zero-token doc in the index
    bm25_index_upsert(
        spark.createDataFrame(
            [(10**6, None, "en", 0)],
            "doc_id long, text string, lang string, grade int",
        ),
        path,
    )
    q = "stream merge window"
    pre = {
        r.doc_id
        for r in bm25_index_topk(
            spark, path, q, k=10, where="lang == 'en' and grade == 0"
        ).collect()
    }
    victim = sorted(pre)[0]
    # flip lang only; grade must survive from the stored rows
    bm25_index_update_metadata(
        spark, path,
        spark.createDataFrame(
            [(victim, "zz"), (10**6, "zz")],
            "doc_id long, lang string",
        ),
    )
    after = {
        r.doc_id
        for r in bm25_index_topk(
            spark, path, q, k=1_000_000,
            where="lang == 'zz' and grade == 0",
        ).collect()
    }
    assert victim in after and victim % 3 == 0
    assert victim not in {
        r.doc_id
        for r in bm25_index_topk(
            spark, path, q, k=1_000_000, where="lang == 'en'"
        ).collect()
    }


def test_update_metadata_facade_dispatch(spark, docs, tmp_path):
    from parq_tools_spark.operators.dedup import minhash_index_write
    from parq_tools_spark.operators.index_facade import open_index
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
    )

    bp = str(tmp_path / "bm")
    bm25_index_build(docs, bp, n_buckets=8, store_cols=["lang"])
    h = open_index(spark, bp)
    some = bm25_index_topk(
        spark, bp, "stream merge window", k=1
    ).first().doc_id
    out = h.update_metadata(
        spark.createDataFrame([(some, "xx")], "doc_id long, lang string")
    )
    assert out["updated"] == 1

    # band families dispatch too (shared _band_index.update_metadata); a
    # store_cols-less index stays a loud error through the facade
    mh = str(tmp_path / "mh")
    minhash_index_write(
        docs.select("doc_id", "text").limit(50), mh,
        num_hashes=32, bands=8,
    )
    with pytest.raises(ValueError, match="store_cols"):
        open_index(spark, mh).update_metadata(
            spark.createDataFrame([(1, "x")], "doc_id long, lang string")
        )
    mh2 = str(tmp_path / "mh2")
    minhash_index_write(
        docs.limit(50), mh2, num_hashes=32, bands=8,
        store_cols=["lang"],
    )
    vic = docs.limit(1).first().doc_id
    out2 = open_index(spark, mh2).update_metadata(
        spark.createDataFrame([(vic, "xx")], "doc_id long, lang string")
    )
    assert out2["updated"] == 1


def test_band_update_metadata_equals_fresh_build(spark, docs, tmp_path):
    """MinHash/SimHash metadata-only updates (the shared
    _band_index.update_metadata): post-update where= pairs equal an index
    built over the flipped corpus; band-row signatures/fingerprints
    are never recomputed (old segment files untouched)."""
    from parq_tools_spark.operators.dedup import (
        minhash_index_query,
        minhash_index_update_metadata,
        minhash_index_write,
    )
    from parq_tools_spark.operators.simhash_index import (
        simhash_index_query,
        simhash_index_update_metadata,
        simhash_index_write,
    )

    k = F.col("doc_id")
    seed = docs.filter(k % 2 == 0)
    batch = docs.filter(k % 2 == 1).select("doc_id", "text")

    for fam, write, query, update, kw in [
        (
            "minhash", minhash_index_write, minhash_index_query,
            minhash_index_update_metadata,
            {"threshold": 0.5},
        ),
        (
            "simhash", simhash_index_write, simhash_index_query,
            simhash_index_update_metadata,
            {"max_hamming": 7},
        ),
    ]:
        path = str(tmp_path / fam)
        fresh = str(tmp_path / (fam + "f"))
        extra = (
            {"num_hashes": 32, "bands": 8}
            if fam == "minhash"
            else {"n_bands": 8}
        )
        write(seed, path, store_cols=["lang"], **extra)
        before = set(glob.glob(path + "/seg-*/band=*/*.parquet"))
        full = sorted(
            (r.id_indexed, r.id_new)
            for r in query(
                spark, path, batch, exclude_same_id=False,
                where="lang == 'en'", **kw,
            ).collect()
        )
        assert full
        victim = full[0][0]
        res = update(
            spark, path,
            spark.createDataFrame(
                [(victim, "zz")], "doc_id long, lang string"
            ),
        )
        assert res["updated"] == 1
        assert before <= set(
            glob.glob(path + "/seg-*/band=*/*.parquet")
        )
        flipped = seed.withColumn(
            "lang",
            F.when(F.col("doc_id") == victim, F.lit("zz")).otherwise(
                F.col("lang")
            ),
        )
        write(flipped, fresh, store_cols=["lang"], **extra)
        for w in ("lang == 'en'", "lang == 'zz'"):
            a = sorted(
                (r.id_indexed, r.id_new)
                for r in query(
                    spark, path, batch, exclude_same_id=False,
                    where=w, **kw,
                ).collect()
            )
            b = sorted(
                (r.id_indexed, r.id_new)
                for r in query(
                    spark, fresh, batch, exclude_same_id=False,
                    where=w, **kw,
                ).collect()
            )
            assert a == b, (fam, w)
