"""The r17 evolution-leg extensions: (1) MULTI-COLUMN
``*_index_add_metadata_col`` — k new columns land in ONE
compaction-shaped commit and ONE new segment (the O(index) rewrite is
the entire cost of evolution, so a k-column quality table must never
pay it k times), with per-column ``default=`` dicts and per-row
coverage; (2) ``*_index_drop_metadata_col`` — the PRUNE leg, the
inverse rewrite shrinking ``params.store_cols`` atomically, down to
store_cols-less.

The contracts mirror tests/test_metadata_lifecycle.py: post-evolution
serving equals a fresh build with the target store_cols; existing
segment files are never rewritten in place (pure-append IO); guards
are loud and up-front."""

import glob
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def emb(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


@pytest.fixture()
def docs(spark, sf_dir):
    return spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "lang")


# ---------------------------------------------------------------------
# multi-column add_metadata_col
# ---------------------------------------------------------------------


def test_ann_two_col_backfill_one_commit(spark, emb, tmp_path):
    """TWO new columns in ONE call: one new segment directory (not
    two), one version bump, and where= over BOTH columns equals a
    fresh two-column build."""
    from parq_tools_spark.operators.ann_index import (
        ann_index_add_metadata_col,
        ann_index_build,
        ann_index_stats,
        ann_index_topk,
    )

    path = str(tmp_path / "ann")
    fresh = str(tmp_path / "fresh")
    ann_index_build(
        emb.select("vec_id", "embedding"), path,
        n_cells=8, m=8, n_codes=16,  # bare: no store_cols, no vectors
    )
    segs_before = set(glob.glob(path + "/seg-*"))
    files_before = set(glob.glob(path + "/seg-*/cell=*/*.parquet"))
    vals = emb.select(
        "vec_id", "label",
        (F.col("vec_id") % 3).cast("int").alias("grade"),
    )
    res = ann_index_add_metadata_col(spark, path, vals)
    assert res["added"] == ["label", "grade"]
    # ONE new segment directory — k columns, one O(index) rewrite
    segs_after = set(glob.glob(path + "/seg-*"))
    assert len(segs_after - segs_before) == 1
    # pure-append: old code files byte-identical on disk
    assert files_before <= set(glob.glob(path + "/seg-*/cell=*/*.parquet"))
    st = ann_index_stats(spark, path)
    assert st["params"]["store_cols"] == ["label", "grade"]
    assert st["version"] == 2

    ann_index_build(
        emb.withColumn(
            "grade", (F.col("vec_id") % 3).cast("int")
        ),
        fresh, n_cells=8, m=8, n_codes=16,
        store_cols=["label", "grade"],
    )
    qs = emb.filter(F.col("vec_id") < 3)

    def served(p, **kw):
        return sorted(
            (r.query_id, r.vec_id, r.pq_score, r.rank)
            for r in ann_index_topk(
                spark, p, qs, k=5, nprobe=2, **kw
            ).collect()
        )

    for w in ("label == 1", "grade == 0", "label == 1 and grade != 2"):
        assert served(path, where=w) == served(fresh, where=w), w
    assert served(path) == served(fresh)


def test_bm25_multi_col_per_column_defaults(spark, docs, tmp_path):
    """The ``default=`` dict: a shared scalar fills every new column;
    a dict fills per column, and a column ABSENT from the dict has no
    default — an id without a values row raises for it. Coverage is
    per values ROW, so one full-coverage values frame satisfies every
    no-default column."""
    from parq_tools_spark.operators.search import (
        bm25_index_add_metadata_col,
        bm25_index_build,
        bm25_index_topk,
    )

    path = str(tmp_path / "bm")
    bm25_index_build(docs.select("doc_id", "text"), path, n_buckets=8)
    two = docs.select(
        "doc_id",
        (F.col("doc_id") % 3).cast("int").alias("g1"),
        F.col("lang").alias("g2"),
    )
    # partial coverage + a dict missing g2: loud, nothing written
    with pytest.raises(ValueError, match="no value"):
        bm25_index_add_metadata_col(
            spark, path, two.filter("doc_id % 2 = 0"),
            default={"g1": 0},
        )
    # full coverage: the no-default column is satisfied row-by-row
    res = bm25_index_add_metadata_col(
        spark, path, two, default={"g1": 99}
    )
    assert res["added"] == ["g1", "g2"]
    top = bm25_index_topk(
        spark, path, "stream merge window", k=10,
        where="g1 == 0 and g2 == 'en'",
    )
    assert top.count() > 0
    # the g1=99 default never fired — every id had a values row
    assert (
        bm25_index_topk(
            spark, path, "stream merge window", k=1_000_000,
            where="g1 == 99",
        ).count() == 0
    )


def test_band_two_col_backfill_scalar_default(spark, docs, tmp_path):
    """Band families (shared _band_index.add_metadata_col): two columns in
    one call with a SHARED scalar default filling uncovered ids in
    both; one new segment; where= over both == fresh build."""
    from parq_tools_spark.operators.dedup import (
        minhash_index_add_metadata_col,
        minhash_index_query,
        minhash_index_write,
    )
    from parq_tools_spark.operators.simhash_index import (
        simhash_index_add_metadata_col,
        simhash_index_query,
        simhash_index_write,
    )

    seed = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    derived = seed.withColumn(
        "grade",
        F.when(
            F.col("doc_id") % 4 == 0, (F.col("doc_id") % 3).cast("int")
        ).otherwise(F.lit(7).cast("int")),
    ).withColumn(
        "lang2",
        F.when(F.col("doc_id") % 4 == 0, F.col("lang")).otherwise(
            F.lit("7")
        ),
    )
    vals = derived.filter("doc_id % 4 = 0").select(
        "doc_id",
        F.col("grade").cast("int").alias("grade"),
        F.col("lang2"),
    )
    for fam, write, query, add_col, kw, extra in [
        (
            "minhash", minhash_index_write, minhash_index_query,
            minhash_index_add_metadata_col, {"threshold": 0.5},
            {"num_hashes": 32, "bands": 8},
        ),
        (
            "simhash", simhash_index_write, simhash_index_query,
            simhash_index_add_metadata_col, {"max_hamming": 7},
            {"n_bands": 8},
        ),
    ]:
        path = str(tmp_path / fam)
        fresh = str(tmp_path / (fam + "f"))
        write(seed.select("doc_id", "text"), path, **extra)  # bare
        segs_before = set(glob.glob(path + "/seg-*"))
        res = add_col(spark, path, vals, default="7")
        assert res["added"] == ["grade", "lang2"], fam
        assert len(set(glob.glob(path + "/seg-*")) - segs_before) == 1
        # grade's string default cast to int → 7; lang2's stays "7"
        write(
            derived.select("doc_id", "text", "grade", "lang2"), fresh,
            store_cols=["grade", "lang2"], **extra,
        )
        for w in ("grade == 7", "grade != 7 and lang2 == 'en'"):
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


def test_explicit_null_survives_default(spark, emb, tmp_path):
    """A deliberate NULL in ``values`` is a value, not a gap: it must
    survive even when a non-NULL default is given (presence-marker
    semantics, not coalesce)."""
    from parq_tools_spark.operators.ann_index import (
        ann_index_add_metadata_col,
        ann_index_build,
        ann_index_topk,
    )

    path = str(tmp_path / "ann")
    ann_index_build(
        emb, path, n_cells=4, m=8, n_codes=16,
    )
    vals = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, F.lit(None)).otherwise(
            F.lit(1)
        ).cast("int").alias("flag"),
    ).filter("vec_id % 3 != 0")  # ids %3==0 take the default
    ann_index_add_metadata_col(spark, path, vals, default=5)
    qs = emb.filter(F.col("vec_id") < 2)
    got = {
        int(r.vec_id)
        for r in ann_index_topk(
            spark, path, qs, k=1_000_000, nprobe=4, where="flag == 5"
        ).collect()
    }
    assert got and all(v % 3 == 0 for v in got)
    ones = {
        int(r.vec_id)
        for r in ann_index_topk(
            spark, path, qs, k=1_000_000, nprobe=4, where="flag == 1"
        ).collect()
    }
    assert ones and all(v % 2 == 1 and v % 3 != 0 for v in ones)
    # everything else served the explicit NULL (the default never
    # overwrote it): no flag value matches them under the ternary
    # where= semantics, so they appear only unfiltered
    everyone = {
        int(r.vec_id)
        for r in ann_index_topk(
            spark, path, qs, k=1_000_000, nprobe=4
        ).collect()
    }
    nulls = everyone - got - ones
    assert nulls and all(v % 2 == 0 and v % 3 != 0 for v in nulls)


# ---------------------------------------------------------------------
# drop_metadata_col — the prune leg
# ---------------------------------------------------------------------


def test_bm25_drop_equals_fresh_build(spark, docs, tmp_path):
    """Dropping one of two stored columns serves identically to a
    fresh build that never had it; the rewrite is pure-append; the
    dropped column's where= fails with the standard unknown-column
    error."""
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_drop_metadata_col,
        bm25_index_stats,
        bm25_index_topk,
    )

    path = str(tmp_path / "bm")
    fresh = str(tmp_path / "fresh")
    two = docs.withColumn(
        "grade", (F.col("doc_id") % 3).cast("int")
    )
    bm25_index_build(two, path, n_buckets=8, store_cols=["lang", "grade"])
    files_before = set(glob.glob(path + "/seg-*/tbucket=*/*.parquet"))
    res = bm25_index_drop_metadata_col(spark, path, "grade")
    assert res["dropped"] == ["grade"]
    assert files_before <= set(
        glob.glob(path + "/seg-*/tbucket=*/*.parquet")
    )
    st = bm25_index_stats(spark, path)
    assert st["params"]["store_cols"] == ["lang"]

    bm25_index_build(docs, fresh, n_buckets=8, store_cols=["lang"])
    q = "stream merge window"

    def served(p, **kw):
        return sorted(
            (r.doc_id, r.score, r.rank)
            for r in bm25_index_topk(spark, p, q, k=10, **kw).collect()
        )

    assert served(path, where="lang == 'en'") == served(
        fresh, where="lang == 'en'"
    )
    assert served(path) == served(fresh)
    with pytest.raises(ValueError, match="missing"):
        bm25_index_topk(spark, path, q, k=5, where="grade == 0")


def test_ann_drop_to_bare_and_guards(spark, emb, tmp_path):
    """Dropping the LAST stored column is legal — the index reverts
    to store_cols-less and keeps serving unfiltered; guards: unknown
    column, duplicates, empty list."""
    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_drop_metadata_col,
        ann_index_stats,
        ann_index_topk,
    )

    path = str(tmp_path / "ann")
    bare = str(tmp_path / "bare")
    ann_index_build(
        emb, path, n_cells=8, m=8, n_codes=16, store_cols=["label"]
    )
    ann_index_build(
        emb.select("vec_id", "embedding"), bare,
        n_cells=8, m=8, n_codes=16,
    )
    with pytest.raises(ValueError, match="not stored"):
        ann_index_drop_metadata_col(spark, path, "nope")
    with pytest.raises(ValueError, match="duplicate"):
        ann_index_drop_metadata_col(spark, path, ["label", "label"])
    with pytest.raises(ValueError, match="no columns"):
        ann_index_drop_metadata_col(spark, path, [])
    res = ann_index_drop_metadata_col(spark, path, ["label"])
    assert res["dropped"] == ["label"]
    assert ann_index_stats(spark, path)["params"]["store_cols"] == []
    qs = emb.filter(F.col("vec_id") < 3)

    def served(p):
        return sorted(
            (r.query_id, r.vec_id, r.pq_score, r.rank)
            for r in ann_index_topk(
                spark, p, qs, k=5, nprobe=2
            ).collect()
        )

    assert served(path) == served(bare)
    with pytest.raises(ValueError, match="store_cols"):
        ann_index_topk(spark, path, qs, k=5, where="label == 1")


def test_band_drop_metadata_col(spark, docs, tmp_path):
    """MinHash/SimHash (shared _band_index.drop_metadata_col): dropping one
    of two columns == fresh one-column build; the dropped column's
    where= raises."""
    from parq_tools_spark.operators.dedup import (
        minhash_index_drop_metadata_col,
        minhash_index_query,
        minhash_index_write,
    )
    from parq_tools_spark.operators.simhash_index import (
        simhash_index_drop_metadata_col,
        simhash_index_query,
        simhash_index_write,
    )

    seed = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "grade", (F.col("doc_id") % 3).cast("int")
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    for fam, write, query, drop_col, kw, extra in [
        (
            "minhash", minhash_index_write, minhash_index_query,
            minhash_index_drop_metadata_col, {"threshold": 0.5},
            {"num_hashes": 32, "bands": 8},
        ),
        (
            "simhash", simhash_index_write, simhash_index_query,
            simhash_index_drop_metadata_col, {"max_hamming": 7},
            {"n_bands": 8},
        ),
    ]:
        path = str(tmp_path / fam)
        fresh = str(tmp_path / (fam + "f"))
        write(seed, path, store_cols=["lang", "grade"], **extra)
        res = drop_col(spark, path, "grade")
        assert res["dropped"] == ["grade"], fam
        write(
            seed.drop("grade"), fresh, store_cols=["lang"], **extra,
        )
        a = sorted(
            (r.id_indexed, r.id_new)
            for r in query(
                spark, path, batch, exclude_same_id=False,
                where="lang == 'en'", **kw,
            ).collect()
        )
        b = sorted(
            (r.id_indexed, r.id_new)
            for r in query(
                spark, fresh, batch, exclude_same_id=False,
                where="lang == 'en'", **kw,
            ).collect()
        )
        assert a == b, fam
        with pytest.raises(ValueError, match="missing"):
            query(spark, path, batch, where="grade == 0", **kw)


def test_drop_facade_dispatch_and_roundtrip(spark, docs, tmp_path):
    """The facade's drop_metadata_col dispatches per family, and an
    add → drop round-trip restores the pre-add serving behavior."""
    from parq_tools_spark.operators.index_facade import open_index
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
    )

    path = str(tmp_path / "bm")
    bm25_index_build(docs.select("doc_id", "text"), path, n_buckets=8)
    q = "stream merge window"
    before = sorted(
        (r.doc_id, r.score, r.rank)
        for r in bm25_index_topk(spark, path, q, k=10).collect()
    )
    h = open_index(spark, path)
    h.add_metadata_col(docs.select("doc_id", "lang"))
    out = h.drop_metadata_col("lang")
    assert out["dropped"] == ["lang"]
    after = sorted(
        (r.doc_id, r.score, r.rank)
        for r in bm25_index_topk(spark, path, q, k=10).collect()
    )
    assert before == after


def test_text_col_is_reserved_everywhere(spark, docs, tmp_path):
    """The index's own text column can never become a metadata
    column: an unprojected values frame (doc_id, text, lang) would
    otherwise silently replicate the raw text onto every posting /
    band row — tokens-per-doc (or bands) copies of the document.
    Reserved at build AND at backfill, all three text families."""
    from parq_tools_spark.operators.dedup import (
        minhash_index_add_metadata_col,
        minhash_index_write,
    )
    from parq_tools_spark.operators.search import (
        bm25_index_add_metadata_col,
        bm25_index_build,
    )
    from parq_tools_spark.operators.simhash_index import (
        simhash_index_add_metadata_col,
        simhash_index_write,
    )

    # build-time: explicit but almost surely a mistake
    with pytest.raises(ValueError, match="reserved"):
        bm25_index_build(
            docs, str(tmp_path / "b0"), n_buckets=4,
            store_cols=["text"],
        )
    with pytest.raises(ValueError, match="reserved"):
        minhash_index_write(
            docs, str(tmp_path / "m0"), num_hashes=32, bands=8,
            store_cols=["text"],
        )
    with pytest.raises(ValueError, match="reserved"):
        simhash_index_write(
            docs, str(tmp_path / "s0"), store_cols=["text"]
        )
    # backfill-time: the silent path — multi-column made a bare
    # `add_metadata_col(spark, path, docs)` legal, so text must trip
    # the reserved guard, not quietly land in store_cols
    bp = str(tmp_path / "bm")
    bm25_index_build(docs.select("doc_id", "text"), bp, n_buckets=4)
    with pytest.raises(ValueError, match="reserved"):
        bm25_index_add_metadata_col(spark, bp, docs)
    mp = str(tmp_path / "mh")
    minhash_index_write(
        docs.select("doc_id", "text"), mp, num_hashes=32, bands=8
    )
    with pytest.raises(ValueError, match="reserved"):
        minhash_index_add_metadata_col(spark, mp, docs)
    sp = str(tmp_path / "sh")
    simhash_index_write(docs.select("doc_id", "text"), sp)
    with pytest.raises(ValueError, match="reserved"):
        simhash_index_add_metadata_col(spark, sp, docs)
