"""Count Spark JOBS (and wall time) per index-maintenance operation.

Job counts are deterministic — immune to box noise — so old-vs-new
job counts are the primary evidence that a "fold two passes into one"
optimization actually removed a pass. Wall times are secondary
(same-window A/B only).

Usage:
    SPARK_GRAFT_CPUS=8 python tools/count_jobs.py [sf_dir] [op ...]

Runs each named op (default: all) against a scratch index built from
$sf_dir (default /root/testdata/sf0.01) and prints one line per op:
    <op>  jobs=<n>  wall=<sec>
The op itself runs inside a unique job group; jobs are counted via
StatusTracker.getJobIdsForGroup, so setup/teardown jobs outside the
timed region are excluded. Jobs an op submits from its own worker
threads (compaction's overlapped per-partition rewrites) carry no job
group, so the ungrouped jobs that appear during the op count too.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def main() -> int:
    from pyspark.sql import functions as F

    from parq_tools_spark import get_spark

    spark = get_spark("count-jobs")
    sc = spark.sparkContext

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).select(
        "doc_id", "text", "lang"
    )
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))

    def measure(name, fn):
        if ONLY and name not in ONLY:
            return
        group = f"cj_{name}_{time.monotonic_ns()}"
        tracker = sc.statusTracker()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        jobs = set(tracker.getJobIdsForGroup(group))
        jobs |= set(tracker.getJobIdsForGroup(None)) - ungrouped
        print(f"RESULT {name} jobs={len(jobs)} wall={wall:.3f}", flush=True)

    tmp = tempfile.mkdtemp(prefix="count_jobs_")
    try:
        # ---------------- BM25 ----------------
        from parq_tools_spark.operators.search import (
            bm25_index_add,
            bm25_index_apply_cdc,
            bm25_index_build,
            bm25_index_delete,
            bm25_index_update_metadata,
            bm25_index_upsert,
        )

        bm = os.path.join(tmp, "bm")
        measure(
            "bm25_build",
            lambda: bm25_index_build(
                docs, bm, n_buckets=8, store_cols=["lang"]
            ),
        )
        batch = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 10_000_000
        )
        measure("bm25_add", lambda: bm25_index_add(batch, bm))
        ups = docs.filter(F.col("doc_id") % 13 == 0).withColumn(
            "text", F.concat(F.col("text"), F.lit(" upd"))
        )
        measure("bm25_upsert", lambda: bm25_index_upsert(ups, bm))
        dels = docs.filter(F.col("doc_id") % 17 == 0).select("doc_id")
        measure("bm25_delete", lambda: bm25_index_delete(spark, bm, dels))
        cdc = (
            docs.filter(F.col("doc_id") % 19 == 0)
            .select(
                "doc_id",
                "text",
                "lang",
                F.when(F.col("doc_id") % 38 == 0, "D")
                .otherwise("U")
                .alias("op"),
            )
        )
        measure(
            "bm25_apply_cdc",
            lambda: bm25_index_apply_cdc(spark, bm, cdc, op_col="op"),
        )
        # flips restricted to ids untouched by the deletes above
        flips = docs.filter(
            (F.col("doc_id") % 23 == 0)
            & (F.col("doc_id") % 17 != 0)
            & (F.col("doc_id") % 19 != 0)
        ).select("doc_id", F.lit("zz").alias("lang"))
        measure(
            "bm25_update_metadata",
            lambda: bm25_index_update_metadata(spark, bm, flips),
        )

        # ---------------- ANN ----------------
        from parq_tools_spark.operators.ann_index import (
            ann_index_add,
            ann_index_add_metadata_col,
            ann_index_apply_cdc,
            ann_index_build,
            ann_index_compact,
            ann_index_delete,
            ann_index_drop_metadata_col,
            ann_index_update_metadata,
            ann_index_upsert,
        )

        ann = os.path.join(tmp, "ann")
        measure(
            "ann_build",
            lambda: ann_index_build(
                emb, ann, n_cells=8, m=8, n_codes=16, store_cols=["label"]
            ),
        )
        abatch = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
            "vec_id", F.col("vec_id") + 10_000_000
        )
        measure("ann_add", lambda: ann_index_add(abatch, ann))
        aups = emb.filter(F.col("vec_id") % 13 == 0)
        measure("ann_upsert", lambda: ann_index_upsert(aups, ann))
        adels = emb.filter(F.col("vec_id") % 17 == 0).select("vec_id")
        measure("ann_delete", lambda: ann_index_delete(spark, ann, adels))
        acdc = emb.filter(F.col("vec_id") % 19 == 0).select(
            "vec_id",
            "embedding",
            "label",
            F.when(F.col("vec_id") % 38 == 0, "D").otherwise("U").alias("op"),
        )
        measure(
            "ann_apply_cdc",
            lambda: ann_index_apply_cdc(spark, ann, acdc, op_col="op"),
        )
        aflips = emb.filter(
            (F.col("vec_id") % 23 == 0)
            & (F.col("vec_id") % 17 != 0)
            & (F.col("vec_id") % 19 != 0)
        ).select("vec_id", F.lit(0).cast(emb.schema["label"].dataType).alias("label"))
        measure(
            "ann_update_metadata",
            lambda: ann_index_update_metadata(spark, ann, aflips),
        )
        # tombstones from the delete, CDC, upsert and metadata ops above
        # are still pending, so compaction folds them (not a no-op)
        measure("ann_compact", lambda: ann_index_compact(spark, ann))
        ascores = emb.select(
            "vec_id", (F.col("vec_id") % 7).cast("int").alias("score")
        )
        measure(
            "ann_add_metadata_col",
            lambda: ann_index_add_metadata_col(
                spark, ann, ascores, default=0
            ),
        )
        measure(
            "ann_drop_metadata_col",
            lambda: ann_index_drop_metadata_col(spark, ann, "score"),
        )

        # ---------------- MinHash ----------------
        from parq_tools_spark.operators.dedup import (
            minhash_index_apply_cdc,
            minhash_index_delete,
            minhash_index_upsert,
            minhash_index_write,
        )

        mh = os.path.join(tmp, "mh")
        measure(
            "minhash_build",
            lambda: minhash_index_write(
                docs.select("doc_id", "text"), mh, num_hashes=64, bands=16
            ),
        )
        measure(
            "minhash_upsert",
            lambda: minhash_index_upsert(
                docs.filter(F.col("doc_id") % 13 == 0).select(
                    "doc_id", "text"
                ),
                mh,
            ),
        )
        measure(
            "minhash_delete",
            lambda: minhash_index_delete(
                spark, mh, docs.filter(F.col("doc_id") % 17 == 0).select("doc_id")
            ),
        )
        mcdc = docs.filter(F.col("doc_id") % 19 == 0).select(
            "doc_id",
            "text",
            F.when(F.col("doc_id") % 38 == 0, "D").otherwise("U").alias("op"),
        )
        measure(
            "minhash_apply_cdc",
            lambda: minhash_index_apply_cdc(spark, mh, mcdc, op_col="op"),
        )

        # ---------------- SimHash ----------------
        from parq_tools_spark.operators.simhash_index import (
            simhash_index_apply_cdc,
            simhash_index_delete,
            simhash_index_upsert,
            simhash_index_write,
        )

        sh = os.path.join(tmp, "sh")
        measure(
            "simhash_build",
            lambda: simhash_index_write(
                docs.select("doc_id", "text"), sh
            ),
        )
        measure(
            "simhash_upsert",
            lambda: simhash_index_upsert(
                docs.filter(F.col("doc_id") % 13 == 0).select(
                    "doc_id", "text"
                ),
                sh,
            ),
        )
        measure(
            "simhash_delete",
            lambda: simhash_index_delete(
                spark, sh, docs.filter(F.col("doc_id") % 17 == 0).select("doc_id")
            ),
        )
        scdc = docs.filter(F.col("doc_id") % 19 == 0).select(
            "doc_id",
            "text",
            F.when(F.col("doc_id") % 38 == 0, "D").otherwise("U").alias("op"),
        )
        measure(
            "simhash_apply_cdc",
            lambda: simhash_index_apply_cdc(spark, sh, scdc, op_col="op"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
