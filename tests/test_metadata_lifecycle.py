"""The r16 metadata-lifecycle surface: (1) ``*_index_add_metadata_col``
— backfill a NEW ``store_cols`` column over all four index families
(the evolution leg: store → where= → update_metadata → evolve), one
compaction-shaped commit extending ``params.store_cols`` atomically,
codes/postings/signatures/fingerprints carried, never recomputed;
(2) CDC 'M' (metadata-only) ops folding into ``update_metadata``
through every family's ``apply_cdc`` and the streaming sinks;
(3) the stats-driven compaction trigger consulted after
``update_metadata`` commits, closing the metadata-churn fragmentation
loop.

The contracts under test mirror tests/test_update_metadata.py:
post-evolution serving equals a fresh build with the extended
store_cols; existing segment files are never rewritten in place;
guards are loud and up-front."""

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
# add_metadata_col
# ---------------------------------------------------------------------


def test_ann_add_metadata_col_equals_fresh_build(spark, emb, tmp_path):
    """Backfilling the FIRST metadata column onto a bare,
    store_vectors=False index serves where= identically to a fresh
    build with store_cols — and the fact it works WITHOUT stored
    vectors is the proof nothing re-encodes."""
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
        n_cells=8, m=8, n_codes=16,  # no store_cols, no vectors
    )
    before = set(glob.glob(path + "/seg-*/cell=*/*.parquet"))
    res = ann_index_add_metadata_col(
        spark, path, emb.select("vec_id", "label")
    )
    assert res["added"] == ["label"]
    # old code files untouched on disk (compaction-shaped commit:
    # superseded segments keep their reader-grace cycle)
    assert before <= set(glob.glob(path + "/seg-*/cell=*/*.parquet"))
    st = ann_index_stats(spark, path)
    assert st["params"]["store_cols"] == ["label"]
    assert st["n_vecs"] == ann_index_stats(spark, path, version=1)["n_vecs"]

    ann_index_build(
        emb, fresh, n_cells=8, m=8, n_codes=16, store_cols=["label"]
    )
    qs = emb.filter(F.col("vec_id") < 3)

    def served(p, **kw):
        return sorted(
            (r.query_id, r.vec_id, r.pq_score, r.rank)
            for r in ann_index_topk(
                spark, p, qs, k=5, nprobe=2, **kw
            ).collect()
        )

    assert served(path, where="label == 1") == served(
        fresh, where="label == 1"
    )
    assert served(path) == served(fresh)


def test_bm25_add_metadata_col_default_fill_and_extension(
    spark, docs, tmp_path
):
    """Adding a SECOND column to a store_cols index: partial values +
    default= fills uncovered ids; post-backfill where= over BOTH
    columns equals a fresh build whose corpus carries the same
    derived column."""
    from parq_tools_spark.operators.search import (
        bm25_index_add_metadata_col,
        bm25_index_build,
        bm25_index_stats,
        bm25_index_topk,
    )

    path = str(tmp_path / "bm")
    fresh = str(tmp_path / "fresh")
    bm25_index_build(docs, path, n_buckets=8, store_cols=["lang"])
    # values cover only the even ids; odds take the default
    vals = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", (F.col("doc_id") % 3).cast("int").alias("grade")
    )
    res = bm25_index_add_metadata_col(spark, path, vals, default=9)
    assert res["added"] == ["grade"]
    st = bm25_index_stats(spark, path)
    assert st["params"]["store_cols"] == ["lang", "grade"]
    # statistics untouched by construction
    st0 = bm25_index_stats(spark, path, version=1)
    assert (st["n_docs"], st["sum_dl"]) == (st0["n_docs"], st0["sum_dl"])

    derived = docs.withColumn(
        "grade",
        F.when(
            F.col("doc_id") % 2 == 0, (F.col("doc_id") % 3).cast("int")
        ).otherwise(F.lit(9).cast("int")),
    )
    bm25_index_build(
        derived, fresh, n_buckets=8, store_cols=["lang", "grade"]
    )
    q = "stream merge window"

    def served(p, **kw):
        return sorted(
            (r.doc_id, r.score, r.rank)
            for r in bm25_index_topk(spark, p, q, k=10, **kw).collect()
        )

    for w in ("grade == 9", "lang == 'en' and grade == 0"):
        assert served(path, where=w) == served(fresh, where=w), w
    assert served(path) == served(fresh)


def test_band_add_metadata_col_equals_fresh_build(spark, docs, tmp_path):
    """MinHash/SimHash (shared _band_index.add_metadata_col): first-column
    backfill onto bare indexes == fresh store_cols build; band-row
    signatures/fingerprints carried (old files untouched)."""
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
        before = set(glob.glob(path + "/seg-*/band=*/*.parquet"))
        res = add_col(spark, path, docs.select("doc_id", "lang"))
        assert res["added"] == ["lang"], fam
        assert before <= set(
            glob.glob(path + "/seg-*/band=*/*.parquet")
        ), fam
        write(seed, fresh, store_cols=["lang"], **extra)
        for w in ("lang == 'en'", "lang != 'en'"):
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
            assert a or w == "lang != 'en'", (fam, w)


def test_add_metadata_col_after_delete_covers_only_visible(
    spark, docs, tmp_path
):
    """Coverage is judged against VISIBLE ids: values need not cover
    tombstoned documents, and the backfill folds pending tombstones
    (compaction-shaped commit clears the delete list)."""
    from parq_tools_spark.operators.search import (
        bm25_index_add_metadata_col,
        bm25_index_build,
        bm25_index_delete,
        bm25_index_stats,
        bm25_index_topk,
    )

    path = str(tmp_path / "bm")
    bm25_index_build(docs.select("doc_id", "text"), path, n_buckets=8)
    gone = [r.doc_id for r in docs.limit(3).collect()]
    bm25_index_delete(spark, path, gone)
    # values EXCLUDE the deleted ids — still fully covered
    bm25_index_add_metadata_col(
        spark, path,
        docs.filter(~F.col("doc_id").isin(gone)).select("doc_id", "lang"),
    )
    st = bm25_index_stats(spark, path)
    assert st["pending_delete_batches"] == 0  # folded
    got = {
        r.doc_id
        for r in bm25_index_topk(
            spark, path, "stream merge window", k=1_000_000,
            where="lang == 'en'",
        ).collect()
    }
    assert not (got & set(gone))


def test_add_metadata_col_guards(spark, emb, docs, tmp_path):
    from parq_tools_spark.operators.ann_index import (
        ann_index_add_metadata_col,
        ann_index_build,
    )
    from parq_tools_spark.operators.search import (
        bm25_index_add_metadata_col,
        bm25_index_build,
    )

    path = str(tmp_path / "ann")
    ann_index_build(
        emb, path, n_cells=4, m=8, n_codes=16, store_cols=["label"]
    )
    # already stored -> update_metadata's job
    with pytest.raises(ValueError, match="already a stored"):
        ann_index_add_metadata_col(
            spark, path, emb.select("vec_id", F.lit(1).alias("label"))
        )
    # reserved segment column
    with pytest.raises(ValueError, match="reserved"):
        ann_index_add_metadata_col(
            spark, path, emb.select("vec_id", F.lit(1).alias("cell"))
        )
    # duplicate NEW column names in one multi-column backfill
    with pytest.raises(ValueError, match="duplicate column names"):
        ann_index_add_metadata_col(
            spark, path,
            emb.select(
                "vec_id", F.lit(1).alias("g1"), F.lit(2).alias("g1")
            ),
        )
    # a default= dict key naming no new column is a typo, not a fill
    with pytest.raises(ValueError, match="default="):
        ann_index_add_metadata_col(
            spark, path,
            emb.select("vec_id", F.lit(1).alias("g1")),
            default={"g2": 0},
        )
    # id column required
    with pytest.raises(ValueError, match="id column"):
        ann_index_add_metadata_col(
            spark, path, emb.select(F.lit(1).alias("g1"))
        )
    # duplicate value ids
    with pytest.raises(ValueError, match="duplicate"):
        ann_index_add_metadata_col(
            spark, path,
            spark.createDataFrame(
                [(0, 1), (0, 2)], "vec_id long, g long"
            ).unionByName(
                emb.filter("vec_id > 0").select(
                    "vec_id", F.lit(0).cast("long").alias("g")
                )
            ),
        )
    # uncovered ids with no default: loud BEFORE anything is written
    v_before = len(glob.glob(path + "/seg-*"))
    with pytest.raises(ValueError, match="no value"):
        ann_index_add_metadata_col(
            spark, path,
            emb.filter("vec_id % 2 = 0").select(
                "vec_id", F.lit(1).alias("g")
            ),
        )
    assert len(glob.glob(path + "/seg-*")) == v_before
    # join-incompatible id type: loud, not silently-empty
    with pytest.raises(ValueError, match="join-compatible"):
        ann_index_add_metadata_col(
            spark, path,
            spark.createDataFrame([("a", 1)], "vec_id string, g int"),
        )
    # the backfill join's helper names can't become metadata columns
    # (the final drop would silently remove the just-added column)
    with pytest.raises(ValueError, match="helper columns"):
        ann_index_add_metadata_col(
            spark, path, emb.select("vec_id", F.lit(1).alias("_has"))
        )
    # an EMPTY index has nothing to backfill
    bare = str(tmp_path / "bm_empty")
    bm25_index_build(
        docs.select("doc_id", "text").limit(0), bare, n_buckets=4
    )
    with pytest.raises(ValueError, match="no visible"):
        bm25_index_add_metadata_col(
            spark, bare, docs.select("doc_id", "lang")
        )
    # an ALL-TOMBSTONED index too: committing the rewrite would make
    # a data-less directory the sole segment and break later queries
    from parq_tools_spark.operators.ann_index import (
        ann_index_delete,
        ann_index_topk,
    )

    tomb = str(tmp_path / "ann_tomb")
    small = emb.filter("vec_id < 20")
    ann_index_build(small, tomb, n_cells=4, m=8, n_codes=16)
    ann_index_delete(spark, tomb, [int(r.vec_id) for r in small.collect()])
    with pytest.raises(ValueError, match="no visible"):
        ann_index_add_metadata_col(
            spark, tomb, emb.select("vec_id", "label")
        )
    # queries still serve (empty) — the failed backfill wrote nothing
    assert (
        ann_index_topk(
            spark, tomb, emb.filter("vec_id < 1"), k=3, nprobe=4
        ).count() == 0
    )


def test_cdc_meta_fully_superseded_on_bare_index(spark, docs, tmp_path):
    """A store_cols-less index receiving a batch whose every 'M' is
    superseded by a same-batch U must apply cleanly (superseded M's
    vanish uncounted) — a raise here would wedge a foreachBatch
    stream AFTER its upserts already committed."""
    from parq_tools_spark.operators.search import (
        bm25_index_apply_cdc,
        bm25_index_build,
    )

    path = str(tmp_path / "bm")
    bm25_index_build(
        docs.select("doc_id", "text").filter("doc_id < 50"), path,
        n_buckets=4,
    )
    ch = spark.createDataFrame(
        [
            (7, None, "M", 1),
            (7, "corrective full update text", "U", 2),
        ],
        "doc_id long, text string, op string, seq long",
    )
    out = bm25_index_apply_cdc(spark, path, ch, seq_col="seq")
    assert out["updated"] == 1
    assert (out["meta_updated"], out["meta_noops"]) == (0, 0)


def test_add_metadata_col_facade_dispatch(spark, docs, tmp_path):
    from parq_tools_spark.operators.index_facade import open_index
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
    )

    path = str(tmp_path / "bm")
    bm25_index_build(docs.select("doc_id", "text"), path, n_buckets=8)
    h = open_index(spark, path)
    out = h.add_metadata_col(docs.select("doc_id", "lang"))
    assert out["added"] == ["lang"]
    assert bm25_index_topk(
        spark, path, "stream merge window", k=5, where="lang == 'en'"
    ).count() == 5


# ---------------------------------------------------------------------
# CDC 'M' ops
# ---------------------------------------------------------------------


def test_cdc_meta_batch_semantics(spark, docs, tmp_path):
    """The full 'M' contract through bm25_index_apply_cdc: applies
    after same-batch inserts, superseded by later U/D, no-op on
    unknown ids, U-then-M re-grades the fresh row."""
    from parq_tools_spark.operators.search import (
        bm25_index_apply_cdc,
        bm25_index_build,
        bm25_index_topk,
    )

    path = str(tmp_path / "bm")
    bm25_index_build(
        docs.filter("doc_id < 400"), path, n_buckets=8,
        store_cols=["lang"],
    )
    rows = [
        # I then M at a later seq: the insert lands, then re-grades
        (10**6, "fresh document text stream merge", "en", "I", 1),
        (10**6, None, "zz", "M", 2),
        # plain re-grade of an existing doc
        (5, None, "zz", "M", 1),
        # M for an id never indexed: counted no-op
        (999999999, None, "zz", "M", 1),
        # M then D: the delete supersedes the re-grade
        (7, None, "zz", "M", 1),
        (7, None, None, "D", 2),
        # M then U: the upsert's metadata is authoritative
        (11, None, "qq", "M", 1),
        (11, "replaced text for eleven", "en", "U", 2),
    ]
    ch = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, op string, seq int"
    )
    out = bm25_index_apply_cdc(spark, path, ch, seq_col="seq")
    assert out["meta_updated"] == 2  # 10**6 and 5
    assert out["meta_noops"] == 1  # 999999999
    assert (out["deleted"], out["inserted"], out["updated"]) == (1, 1, 1)

    def ids(q, w):
        return {
            r.doc_id
            for r in bm25_index_topk(
                spark, path, q, k=1_000_000, where=w
            ).collect()
        }

    zz = ids("fresh document stream merge", "lang == 'zz'")
    assert 10**6 in zz and 7 not in zz and 11 not in zz
    # doc 5's re-grade: probe with its own leading words
    probe5 = " ".join(
        docs.filter("doc_id = 5").first().text.split()[:4]
    )
    assert 5 in ids(probe5, "lang == 'zz'")
    assert 5 not in ids(probe5, "lang == 'en'")
    assert 11 in ids("replaced text eleven", "lang == 'en'")


def test_cdc_meta_band_and_ann_families(spark, docs, emb, tmp_path):
    """'M' folds through the band families and the vector index too —
    one change-log convention across all four."""
    from parq_tools_spark.operators.ann_index import (
        ann_index_apply_cdc,
        ann_index_build,
    )
    from parq_tools_spark.operators.dedup import (
        minhash_index_apply_cdc,
        minhash_index_write,
    )
    from parq_tools_spark.operators.simhash_index import (
        simhash_index_apply_cdc,
        simhash_index_write,
    )

    ch = spark.createDataFrame(
        [(0, None, "zz", "M")],
        "doc_id long, text string, lang string, op string",
    )
    mp = str(tmp_path / "mh")
    minhash_index_write(
        docs.filter("doc_id % 2 = 0"), mp, num_hashes=32, bands=8,
        store_cols=["lang"],
    )
    assert minhash_index_apply_cdc(spark, mp, ch)["meta_updated"] == 1
    sp = str(tmp_path / "sh")
    simhash_index_write(
        docs.filter("doc_id % 2 = 0"), sp, store_cols=["lang"]
    )
    assert simhash_index_apply_cdc(spark, sp, ch)["meta_updated"] == 1

    ap = str(tmp_path / "ann")
    ann_index_build(
        emb, ap, n_cells=8, m=8, n_codes=16, store_cols=["label"]
    )
    ch3 = spark.createDataFrame(
        [(0, 99)], "vec_id long, label int"
    ).withColumn("op", F.lit("M"))
    assert ann_index_apply_cdc(spark, ap, ch3)["meta_updated"] == 1

    # 'M' against a store_cols-less index is loud (misconfiguration)
    bare = str(tmp_path / "bare")
    minhash_index_write(
        docs.select("doc_id", "text").filter("doc_id % 2 = 0"), bare,
        num_hashes=32, bands=8,
    )
    with pytest.raises(ValueError, match="store_cols"):
        minhash_index_apply_cdc(spark, bare, ch)


def test_cdc_meta_stream_equals_batch(spark, docs, tmp_path):
    """A mixed upsert/delete/meta stream through
    start_bm25_index_stream equals the batch-applied apply_cdc result
    on an identical pre-built store_cols index."""
    from parq_tools_spark.operators.search import (
        bm25_index_apply_cdc,
        bm25_index_build,
        bm25_index_topk,
    )
    from parq_tools_spark.streaming.index_sink import (
        start_bm25_index_stream,
    )

    schema = "doc_id long, text string, lang string, op string, seq long"
    base = docs.filter("doc_id < 300")
    sidx = str(tmp_path / "sidx")
    bidx = str(tmp_path / "bidx")
    bm25_index_build(base, sidx, n_buckets=8, store_cols=["lang"])
    bm25_index_build(base, bidx, n_buckets=8, store_cols=["lang"])

    b0 = [(10**6, "a new stream merge document", "en", "I", 0)]
    b1 = [(1, None, "zz", "M", 1), (10**6, None, "zz", "M", 1)]
    b2 = [(2, None, None, "D", 2), (3, "rewritten stream text", "en", "U", 2)]
    src = tmp_path / "cdc"
    src.mkdir()
    for i, rows in enumerate([b0, b1, b2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = start_bm25_index_stream(
        stream, sidx, str(tmp_path / "ck"), seq_col="seq"
    )
    assert q.awaitTermination(180), "stream did not drain in 180s"

    out = bm25_index_apply_cdc(
        spark, bidx,
        spark.createDataFrame(b0 + b1 + b2, schema), seq_col="seq",
    )
    assert out["meta_updated"] == 2

    def served(p, **kw):
        return sorted(
            (r.doc_id, r.score, r.rank)
            for r in bm25_index_topk(
                spark, p, "stream merge document", k=50, **kw
            ).collect()
        )

    for w in (None, "lang == 'zz'", "lang == 'en'"):
        kw = {} if w is None else {"where": w}
        assert served(sidx, **kw) == served(bidx, **kw), w


def test_sink_bootstraps_store_cols_index(spark, tmp_path):
    """store_cols= on the sinks: the stream's own bootstrap builds a
    metadata-carrying index, so re-grades need no out-of-band
    pre-build — I batches carry the columns, a later 'M' batch flips
    them, and serving filters on the result."""
    from parq_tools_spark.operators.search import (
        bm25_index_stats,
        bm25_index_topk,
    )
    from parq_tools_spark.streaming.index_sink import (
        start_bm25_index_stream,
    )

    schema = "doc_id long, text string, lang string, op string, seq long"
    b0 = [
        (0, "stream merge windows and watermarks", "en", "I", 0),
        (1, "broadcast joins avoid shuffling", "de", "I", 0),
    ]
    b1 = [(0, None, "zz", "M", 1)]
    src = tmp_path / "cdc"
    src.mkdir()
    for i, rows in enumerate([b0, b1]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    idx = str(tmp_path / "idx")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = start_bm25_index_stream(
        stream, idx, str(tmp_path / "ck"), seq_col="seq",
        store_cols=["lang"],
    )
    assert q.awaitTermination(180), "stream did not drain in 180s"
    assert bm25_index_stats(spark, idx)["params"]["store_cols"] == ["lang"]
    got = {
        r.doc_id
        for r in bm25_index_topk(
            spark, idx, "stream merge", k=10, where="lang == 'zz'"
        ).collect()
    }
    assert got == {0}


def test_ann_sink_bootstraps_store_cols_index(spark, emb, tmp_path):
    """The ANN twin: the model-training bootstrap batch seeds a
    store_cols index (a same-batch I+M pair seeds the I — the 'M'
    must never displace the content row from the seed — and the 'M'
    then FOLDS right after the build, matching what a replayed
    batch 0 would do through apply_cdc), and a later 'M' batch
    re-grades without vectors."""
    from parq_tools_spark.operators.ann_index import (
        ann_index_stats,
        ann_index_topk,
    )
    from parq_tools_spark.streaming.index_sink import (
        start_ann_index_stream,
    )

    rows = [
        (int(r.vec_id), list(r.embedding), int(r.label), "I", 0)
        for r in emb.filter("vec_id < 40").collect()
    ]
    # same-batch U + M for one id in the BOOTSTRAP batch: the U's
    # vector must seed the build (the M is a no-op pre-index)
    b0 = rows + [(0, None, 7, "M", 1)]
    b1 = [(1, None, 9, "M", 2)]
    schema = (
        "vec_id long, embedding array<double>, label int, "
        "op string, seq long"
    )
    src = tmp_path / "cdc"
    src.mkdir()
    for i, batch in enumerate([b0, b1]):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(src / f"f{i}")
        )
    idx = str(tmp_path / "idx")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = start_ann_index_stream(
        stream, idx, str(tmp_path / "ck"), seq_col="seq",
        n_cells=4, m=8, n_codes=16, store_cols=["label"],
    )
    assert q.awaitTermination(180), "stream did not drain in 180s"
    st = ann_index_stats(spark, idx)
    assert st["params"]["store_cols"] == ["label"]
    assert st["n_vecs"] == 40  # the bootstrap 'M' didn't eat vec 0

    def ids_where(w):
        return {
            r.vec_id
            for r in ann_index_topk(
                spark, idx, emb.filter("vec_id == 2"), k=40, nprobe=4,
                where=w, exclude_self=False,
            ).collect()
        }

    assert 1 in ids_where("label == 9")
    # the bootstrap batch's own 'M' applied after the build
    assert 0 in ids_where("label == 7")


# ---------------------------------------------------------------------
# update_metadata consults the compaction trigger
# ---------------------------------------------------------------------


def test_update_metadata_auto_compact(spark, docs, tmp_path):
    """N successive update_metadata calls past max_segments trigger a
    fold (mirroring the sinks' stats trigger); results unchanged."""
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_stats,
        bm25_index_topk,
        bm25_index_update_metadata,
    )

    path = str(tmp_path / "bm")
    bm25_index_build(
        docs.filter("doc_id < 300"), path, n_buckets=8,
        store_cols=["lang"],
    )
    langs = ["aa", "bb", "cc", "dd"]
    for i, lang in enumerate(langs):
        bm25_index_update_metadata(
            spark, path,
            spark.createDataFrame(
                [(i, lang)], "doc_id long, lang string"
            ),
            max_segments=2,
        )
        # never more than the bound + the one segment the breaching
        # call itself added (the trigger folds right after commit)
        assert bm25_index_stats(spark, path)["n_segments"] <= 3
    st = bm25_index_stats(spark, path)
    assert st["pending_delete_batches"] <= 2
    got = {
        r.doc_id: None
        for r in bm25_index_topk(
            spark, path, "stream merge window", k=1_000_000,
            where="lang == 'dd'",
        ).collect()
    }
    assert set(got) <= {3}

    # band family trigger (shared shape): minhash folds on the
    # delete-batch bound
    from parq_tools_spark.operators.dedup import (
        minhash_index_stats,
        minhash_index_update_metadata,
        minhash_index_write,
    )

    mp = str(tmp_path / "mh")
    minhash_index_write(
        docs.filter("doc_id % 2 = 0"), mp, num_hashes=32, bands=8,
        store_cols=["lang"],
    )
    for i, lang in enumerate(langs):
        minhash_index_update_metadata(
            spark, mp,
            spark.createDataFrame(
                [(2 * i, lang)], "doc_id long, lang string"
            ),
            max_delete_batches=1,
        )
        assert (
            minhash_index_stats(spark, mp)["pending_delete_batches"] <= 2
        )


def test_bm25_topk_batch_max_queries_guard(spark, docs, tmp_path):
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk_batch,
    )

    path = str(tmp_path / "bm")
    bm25_index_build(
        docs.select("doc_id", "text").filter("doc_id < 100"), path,
        n_buckets=4,
    )
    qdf = spark.createDataFrame(
        [(i, "stream merge") for i in range(5)],
        "query_id long, query string",
    )
    with pytest.raises(ValueError, match="max_queries"):
        bm25_index_topk_batch(spark, path, qdf, k=3, max_queries=2)
    # at the cap it serves normally
    assert (
        bm25_index_topk_batch(spark, path, qdf, k=3, max_queries=5)
        .count() == 15
    )
