"""Physical-plan regression tests: the properties that make queries
scale (pushdown, broadcast dimension joins, bounded exchange counts)
are asserted here so a refactor that silently degrades a plan fails CI,
not a 100 TB run. Plans come from explain('formatted') at sf0.001."""

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def _plan(spark, name, sf_dir):
    df = entry.queries()[name](spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _count(plan, op):
    return len(re.findall(rf"\(\d+\) {re.escape(op)}\b", plan))


def test_filter_dsl_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, "filter_dsl", sf_dir)
    assert "GreaterThan(l_quantity" in plan  # predicate reached the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_extendedprice" not in m.group(1)  # projection pruned


def test_tpch_q5_snowflake_is_all_broadcast_one_exchange(spark, sf_dir):
    plan = _plan(spark, "tpch_q5", sf_dir)
    assert _count(plan, "BroadcastHashJoin") == 5
    assert _count(plan, "SortMergeJoin") == 0
    # a single real (aggregation) exchange
    assert _count(plan, "Exchange") == 1


def test_tpch_q8_dimension_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, "tpch_q8", sf_dir)
    assert _count(plan, "BroadcastHashJoin") == 7
    assert _count(plan, "Exchange") == 1
    assert "EqualTo(p_type,ECONOMY)" in plan  # dim filter pushed


def test_tpch_q1_single_agg_exchange(spark, sf_dir):
    plan = _plan(spark, "tpch_q1", sf_dir)
    assert _count(plan, "Exchange") == 1
    assert _count(plan, "HashAggregate") == 2  # partial + final


def test_pipeline_e2e_single_shuffle(spark, sf_dir):
    """quality gate + clean + split are fused map stages; the only
    exchange is the dedup window, with partial top-1 before it."""
    plan = _plan(spark, "pipeline_e2e", sf_dir)
    assert _count(plan, "Exchange") == 1
    assert _count(plan, "Scan parquet") == 1
    assert _count(plan, "WindowGroupLimit") == 2  # map-side + reduce-side


def test_ann_topk_corpus_never_shuffles(spark, sf_dir):
    plan = _plan(spark, "ann_topk", sf_dir)
    # queries are broadcast; the only exchange partitions the tiny
    # (query, candidate) result for the per-query window
    assert _count(plan, "BroadcastExchange") >= 1
    assert _count(plan, "SortMergeJoin") == 0


def test_text_stats_is_map_only(spark, sf_dir):
    plan = _plan(spark, "text_stats", sf_dir)
    assert _count(plan, "Exchange") == 0
    assert _count(plan, "BroadcastExchange") == 0


def test_ivf_cell_layout_partition_pruning(spark, sf_dir, tmp_path):
    """The IVF layout property the persisted ann index builds on: a
    cell-partitioned write makes a probe's cell filter prune
    partitions at PLANNING time (PartitionFilters in the scan),
    reading ~nprobe/n_cells of the corpus."""
    from parq_tools_spark.operators.similarity import ivf_build

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    assigned, centroids = ivf_build(emb, n_cells=4)
    path = str(tmp_path / "ivf_index")
    assigned.write.partitionBy("cell").parquet(path)

    corpus = spark.read.parquet(path)
    assert len(centroids) == 4
    probed = corpus.filter("cell IN (0, 1)")
    plan = probed._sc._jvm.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    assert re.search(r"PartitionFilters: \[.*cell.*IN.*\]", plan) or "cell#" in plan
    # only the probed partitions' rows come back
    total = corpus.count()
    sub = probed.count()
    assert 0 < sub < total


def test_pii_redact_is_map_only(spark, sf_dir):
    """PII scrub must stay a fused scan->project pipeline: zero
    exchanges, zero Python stages (pure built-in regexps)."""
    plan = _plan(spark, "pii_redact", sf_dir)
    assert _count(plan, "Exchange") == 0
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_pack_shards_has_no_global_window(spark, sf_dir):
    """The corpus-wide prefix sum must be the two-pass decomposition:
    per-partition windows keyed on _pid, never one unpartitioned Window
    over the full data (which executes in a single task)."""
    plan = _plan(spark, "pack_shards", sf_dir)
    # data-sized window runs over the range exchange, partitioned by
    # _pid; the data side must therefore carry a range repartition
    assert "rangepartitioning" in plan.lower()
    # offsets come back as a broadcast join, not another data shuffle
    assert _count(plan, "BroadcastHashJoin") == 1
    data_windows = _count(plan, "Window")
    assert data_windows == 2  # local cumsum + the tiny offsets cumsum


def test_zorder_cells_single_stats_pass(spark, sf_dir):
    """Grid stats are ONE tiny aggregate broadcast to the row side —
    the Morton computation itself is a pure Project (no shuffle of the
    fact table)."""
    plan = _plan(spark, "zorder_cells", sf_dir)
    assert _count(plan, "BroadcastNestedLoopJoin") == 1
    # the only exchanges feed the single-row stats aggregate
    assert _count(plan, "SortMergeJoin") == 0


def test_brute_force_default_is_blocked_grid(spark, sf_dir):
    """The default all-pairs path must be the grid decomposition: a
    grouped Pandas stage after ONE hash exchange — and no driver-side
    collect can appear in a lazy plan at all (building the plan must
    not execute anything)."""
    plan = _plan(spark, "embedding_sim_pairs", sf_dir)
    assert "FlatMapGroupsInPandas" in plan
    assert _count(plan, "Exchange") == 1


def test_word_repetition_is_map_only(spark, sf_dir):
    plan = _plan(spark, "word_repetition", sf_dir)
    assert _count(plan, "Exchange") == 0
    assert "MapInPandas" not in plan  # pure array expressions


def test_repetition_ngram_is_map_only(spark, sf_dir):
    """Sorted gram array + linear folds per document: no explode, no
    exchange, no join."""
    plan = _plan(spark, "repetition_ngram", sf_dir)
    assert _count(plan, "Exchange") == 0
    assert _count(plan, "SortMergeJoin") == 0


def test_paragraph_dedupe_no_corpus_wide_key(spark, sf_dir):
    """First-occurrence window keys on paragraph text, rebuild keys on
    doc id; the doc restore join must broadcast."""
    plan = _plan(spark, "paragraph_dedupe", sf_dir)
    assert _count(plan, "Exchange") == 2
    assert _count(plan, "BroadcastHashJoin") == 1
    assert _count(plan, "SortMergeJoin") == 0


def test_cdc_apply_log_window_is_group_limited(spark, sf_dir):
    """Latest-wins must pre-prune map-side (WindowGroupLimit) and the
    snapshot must ride broadcast joins only."""
    plan = _plan(spark, "cdc_apply", sf_dir)
    assert _count(plan, "WindowGroupLimit") >= 2
    assert _count(plan, "SortMergeJoin") == 0


def test_ann_pq_topk_single_ranking_exchange(spark, sf_dir):
    """Encode and ADC are map-only Pandas passes; the only exchange
    ranks (query, id, score) triples, group-limited map-side."""
    plan = _plan(spark, "ann_pq_topk", sf_dir)
    assert _count(plan, "MapInPandas") == 2  # encode + score
    assert _count(plan, "Exchange") == 1
    assert _count(plan, "WindowGroupLimit") == 2


def test_chunk_sentences_reuses_doc_partitioning(spark, sf_dir):
    """The (doc, chunk) aggregation must reuse the window's doc_id
    hash partitioning: exactly ONE exchange in the whole plan."""
    plan = _plan(spark, "chunk_sentences", sf_dir)
    assert _count(plan, "Exchange") == 1


def test_group_overlap_joins_only_sketch_rows(spark, sf_dir):
    """The pairwise join runs over per-group SKETCH rows (broadcast
    nested loop over G one-row-per-group frames is deliberate), never
    over the corpus: the scan feeds one partial theta aggregation and
    the join consumes the aggregated frame."""
    plan = _plan(spark, "group_overlap", sf_dir)
    assert _count(plan, "BroadcastNestedLoopJoin") == 1
    assert plan.count("theta_sketch_agg") >= 2  # partial + final
    assert _count(plan, "CartesianProduct") == 0


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """Top-n selection must be TakeOrderedAndProject (per-task local
    n, k rows per partition to the merge) — never a global sort or a
    single-partition window over the corpus."""
    plan = _plan(spark, "weighted_sample", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert _count(plan, "Sort") == 0  # no global sort node
    assert _count(plan, "Window") == 0


def test_bm25_search_is_map_only(spark, sf_dir):
    """BM25 single-query plan: per-term tf computed as array
    expressions IN the scan — zero exchanges, zero explodes; the only
    cross-partition movement is the TakeOrderedAndProject top-k."""
    plan = _plan(spark, "bm25_search", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert _count(plan, "Exchange") == 0
    assert _count(plan, "Generate") == 0
    assert _count(plan, "CartesianProduct") == 0


def test_bm25_batch_broadcast_fanout(spark, sf_dir):
    """Batch BM25: the (query, term, idf) fan-out joins as a
    BROADCAST (the corpus-side postings never shuffle for it); the
    per-query rank window is partitioned (no single-partition
    window)."""
    plan = _plan(spark, "bm25_batch", sf_dir)
    assert _count(plan, "BroadcastHashJoin") == 1
    assert _count(plan, "SortMergeJoin") == 0
    assert "partitionBy(qid)" in plan.replace(" ", "") or _count(
        plan, "Window"
    ) == 1
    assert _count(plan, "CartesianProduct") == 0


def test_incremental_merge_is_equi_join(spark, sf_dir, tmp_path):
    """The null-safe state merge must stay an EQUI join (SortMergeJoin
    or broadcast hash on the <=> keys) — a naive null-safe condition
    that degrades to BroadcastNestedLoopJoin would be quadratic in
    groups."""
    import os as _os

    from pyspark.sql import functions as F

    from parq_tools_spark.operators.incremental_agg import (
        _merge_state_partial,
        _normalize_measures,
        _partial_aggs,
        incremental_aggregate,
    )

    li = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    inp, state = str(tmp_path / "in"), str(tmp_path / "st")
    li.limit(200).write.parquet(_os.path.join(inp, "b0"))
    meas = _normalize_measures([("sum", "l_quantity", "decimal(27,2)")])
    st = incremental_aggregate(
        spark, inp, state, ["l_returnflag"], [("sum", "l_quantity", "decimal(27,2)")]
    )
    partial = li.limit(500).groupBy("l_returnflag").agg(*_partial_aggs(meas))
    merged = _merge_state_partial(st, partial, ["l_returnflag"], meas)
    plan = merged._sc._jvm.PythonSQLUtils.explainString(
        merged._jdf.queryExecution(), "formatted"
    )
    assert _count(plan, "BroadcastNestedLoopJoin") == 0
    assert _count(plan, "CartesianProduct") == 0
    assert (
        _count(plan, "SortMergeJoin") + _count(plan, "BroadcastHashJoin")
        >= 1
    )


def test_hybrid_rrf_two_scans_legs_top_n(spark, sf_dir):
    """Each fusion leg reads its table exactly once (no duplicated
    subplans) and enters the fusion join as a TakeOrderedAndProject
    top-n — the one SortMergeJoin is the full-outer fusion of two
    <=n_candidates-row legs (full outer cannot broadcast), which is
    O(k), not O(corpus)."""
    plan = _plan(spark, "hybrid_rrf_topk", sf_dir)
    assert _count(plan, "Scan parquet") == 2  # documents + embeddings
    assert _count(plan, "SortMergeJoin") <= 1
    assert _count(plan, "TakeOrderedAndProject") >= 2  # both legs top-n


def test_hybrid_wsum_single_scan_per_leg(spark, sf_dir):
    """wsum's min-max stats come from window aggregates over the
    joined candidates — a separate .agg() branch would re-execute the
    corpus and embeddings scans (the round-9 review finding)."""
    plan = _plan(spark, "hybrid_wsum_topk", sf_dir)
    assert _count(plan, "Scan parquet") == 2


def test_hybrid_batch_vector_leg_two_phase(spark, sf_dir):
    """The batch vector leg pre-ranks within (query, input-partition)
    slices (spark_partition_id in the plan) so no single task ever
    sorts one query's whole corpus of sim triples."""
    plan = _plan(spark, "hybrid_batch_rrf", sf_dir)
    assert "SPARK_PARTITION_ID" in plan.upper()
    assert _count(plan, "SortMergeJoin") == 0


def test_hybrid_from_index_never_scans_corpus(spark, sf_dir, tmp_path):
    """Index-served hybrid must read ONLY the two indexes: postings
    partition-pruned to the query terms' buckets, codes pruned to the
    probed cells — never documents.parquet / embeddings.parquet."""
    from parq_tools_spark.operators.ann_index import ann_index_build
    from parq_tools_spark.operators.hybrid import hybrid_index_topk
    from parq_tools_spark.operators.search import bm25_index_build

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    bp = str(tmp_path / "bm25")
    ap = str(tmp_path / "ann")
    bm25_index_build(docs, bp)
    ann_index_build(emb, ap, n_cells=4, m=4, n_codes=8)
    qvec = [float(x) for x in emb.first()["embedding"]]
    df = hybrid_index_topk(
        spark, bp, ap, "stream merge window", qvec, k=5, nprobe=2
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "documents.parquet" not in plan
    assert "embeddings.parquet" not in plan
    assert re.search(r"PartitionFilters: \[.*tbucket.*\]", plan)
    assert re.search(r"PartitionFilters: \[.*cell.*\]", plan)


def test_hybrid_index_batch_never_scans_corpus(spark, sf_dir, tmp_path):
    """Batched index-served hybrid (the offline-retrieval shape) must
    read ONLY the two indexes: one bucket-pruned postings read for
    every text leg, one cell-pruned codes read for every vector leg —
    never documents.parquet / embeddings.parquet."""
    from parq_tools_spark.operators.ann_index import ann_index_build
    from parq_tools_spark.operators.hybrid import hybrid_index_topk_batch
    from parq_tools_spark.operators.search import bm25_index_build

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    bp = str(tmp_path / "bm25")
    ap = str(tmp_path / "ann")
    bm25_index_build(docs, bp)
    ann_index_build(emb, ap, n_cells=4, m=4, n_codes=8)
    qvecs = [
        [float(x) for x in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(2).collect()
    ]
    queries = spark.createDataFrame(
        [
            (1, "stream merge window", qvecs[0]),
            (2, "customer value table", qvecs[1]),
        ],
        "query_id long, query string, query_vec array<double>",
    )
    df = hybrid_index_topk_batch(
        spark, bp, ap, queries, k=5, nprobe=2
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "documents.parquet" not in plan
    assert "embeddings.parquet" not in plan
    assert re.search(r"PartitionFilters: \[.*tbucket.*\]", plan)
    assert re.search(r"PartitionFilters: \[.*cell.*\]", plan)


def test_ann_refine_plan_pruned_and_broadcast(spark, sf_dir, tmp_path):
    """The exact re-rank must stay index-local: stored-vector rows
    read only from the probed cell= directories (PartitionFilters),
    the O(R x queries) candidate id set broadcast into them (no
    shuffle of the vector rows), and the source embeddings parquet
    never scanned."""
    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_topk,
    )

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    path = str(tmp_path / "annref")
    ann_index_build(
        emb, path, n_cells=8, m=8, n_codes=16, store_vectors=True
    )
    qs = emb.filter("vec_id < 3")
    df = ann_index_topk(spark, path, qs, k=5, nprobe=2, refine=50)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "embeddings.parquet" not in plan
    assert re.search(r"PartitionFilters: \[.*cell.*\]", plan)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_gopher_full_filter_single_scan_no_shuffle(spark, sf_dir):
    """The composite Gopher filter (quality + all Table-A1 repetition
    signals) must stay ONE map-only scan: zero exchanges — the n-gram
    counts are linear folds over materialized sorted arrays, never an
    explode + groupBy."""
    plan = _plan(spark, "gopher_full_filter", sf_dir)
    assert "Exchange" not in plan


def test_ann_filtered_topk_list_pushes_to_segment_scan(
    spark, sf_dir, tmp_path
):
    """allowed_ids as a literal id list must reach the segments'
    parquet scans as a PUSHED data filter (planning-time, zero joins)
    alongside the probed-cell PartitionFilters — i.e. the candidate
    filter lands BEFORE ranking, at the scan itself, and the source
    corpus is never read."""
    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_topk,
    )

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    path = str(tmp_path / "annflt")
    ann_index_build(emb, path, n_cells=8, m=8, n_codes=16)
    qs = emb.filter("vec_id < 3")
    df = ann_index_topk(
        spark, path, qs, k=5, nprobe=2,
        allowed_ids=[0, 3, 6, 9, 12, 15, 18, 21],
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "embeddings.parquet" not in plan
    assert re.search(r"PartitionFilters: \[.*cell.*\]", plan)
    assert re.search(r"PushedFilters: \[.*In\(vec_id", plan)


def test_ann_filtered_topk_dataframe_semi_joins_before_rank(
    spark, sf_dir, tmp_path
):
    """allowed_ids as a DataFrame must become a LEFT-SEMI join on the
    candidate rows (strategy left to Catalyst/AQE), placed before the
    per-query ranking window — and the allowed-set source must never
    be collected into the plan as literals."""
    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_topk,
    )

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    path = str(tmp_path / "annfltdf")
    ann_index_build(emb, path, n_cells=8, m=8, n_codes=16)
    qs = emb.filter("vec_id < 3")
    df = ann_index_topk(
        spark, path, qs, k=5, nprobe=2,
        allowed_ids=emb.filter("vec_id % 3 = 0").select("vec_id"),
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # the semi join exists, the segment scans stay cell-pruned, and
    # the ranking window is still present above it (pre-rank ordering
    # itself is pinned semantically by test_filtered_topk.py: the
    # returned k is correct under the filter, which post-filtering
    # could not produce)
    assert "LeftSemi" in plan
    assert re.search(r"PartitionFilters: \[.*cell.*\]", plan)
    assert re.search(r"\(\d+\) Window", plan)


def test_bm25_filtered_topk_list_pushes_to_postings_scan(
    spark, sf_dir, tmp_path
):
    """allowed_ids as a literal id list must reach the postings
    parquet scans as a PUSHED doc_id filter alongside the term-bucket
    PartitionFilters — disallowed documents never enter the score
    aggregation, and the corpus is never read."""
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    path = str(tmp_path / "bmflt")
    bm25_index_build(docs, path, n_buckets=8)
    df = bm25_index_topk(
        spark, path, "stream merge window", k=10,
        allowed_ids=[0, 2, 4, 6, 8, 10],
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "documents.parquet" not in plan
    assert re.search(r"PartitionFilters: \[.*tbucket.*\]", plan)
    assert re.search(r"PushedFilters: \[.*In\(doc_id", plan)


def test_ann_where_predicate_pushes_to_segment_scan(
    spark, sf_dir, tmp_path
):
    """where= over store_cols must reach the segments' parquet scans
    as a PUSHED data filter on the stored metadata column, alongside
    the probed-cell PartitionFilters — the metadata never lives in a
    separate table, so the filter costs planning time, not a join."""
    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_topk,
    )

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    path = str(tmp_path / "annwhere")
    ann_index_build(
        emb, path, n_cells=8, m=8, n_codes=16, store_cols=["label"]
    )
    qs = emb.filter("vec_id < 3")
    df = ann_index_topk(
        spark, path, qs, k=5, nprobe=2, where="label == 0"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "embeddings.parquet" not in plan
    assert re.search(r"PartitionFilters: \[.*cell.*\]", plan)
    assert re.search(r"PushedFilters: \[.*EqualTo\(label,0\)", plan)
    # no semi-join shape: the predicate IS the filter, no id set ever
    # materializes
    assert "LeftSemi" not in plan


def test_bm25_where_predicate_pushes_to_postings_scan(
    spark, sf_dir, tmp_path
):
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "lang")
    path = str(tmp_path / "bmwhere")
    bm25_index_build(docs, path, n_buckets=8, store_cols=["lang"])
    df = bm25_index_topk(
        spark, path, "stream merge window", k=10, where="lang == 'en'"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "documents.parquet" not in plan
    assert re.search(r"PartitionFilters: \[.*tbucket.*\]", plan)
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,en\)", plan)


def test_minhash_where_predicate_pushes_to_band_scan(
    spark, sf_dir, tmp_path
):
    """where= over a store_cols MinHash index must reach the band-row
    segment scans as a PUSHED data filter — in-row metadata, no
    semi-join, no id set materialized. (The batch side legitimately
    scans its own source, so only the absence of a join shape and the
    pushed EqualTo are asserted.)"""
    from parq_tools_spark.operators.dedup import (
        minhash_index_query,
        minhash_index_write,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "lang")
    path = str(tmp_path / "mhwhere")
    minhash_index_write(
        docs, path, num_hashes=32, bands=8, store_cols=["lang"]
    )
    batch = docs.filter("doc_id < 5").select("doc_id", "text")
    df = minhash_index_query(
        spark, path, batch, threshold=0.5, where="lang == 'en'"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,en\)", plan)
    assert "LeftSemi" not in plan


def test_simhash_where_predicate_pushes_to_band_scan(
    spark, sf_dir, tmp_path
):
    from parq_tools_spark.operators.simhash_index import (
        simhash_index_query,
        simhash_index_write,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "lang")
    path = str(tmp_path / "shwhere")
    simhash_index_write(docs, path, n_bands=8, store_cols=["lang"])
    batch = docs.filter("doc_id < 5").select("doc_id", "text")
    df = simhash_index_query(
        spark, path, batch, max_hamming=7, where="lang == 'en'"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,en\)", plan)
    assert "LeftSemi" not in plan


def test_contamination_from_index_never_scans_corpus(
    spark, sf_dir, tmp_path
):
    """Index-served decontamination must read ONLY the eval terms'
    bucket-pruned postings: no corpus parquet anywhere in the plan
    (the eval grams are checkpointed), tbucket partition filters and
    the pushed term In() on the postings scans, and no re-scan of the
    eval source either."""
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        contamination_from_index,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    path = str(tmp_path / "cfiplan")
    bm25_index_build(docs, path, n_buckets=8, store_positions=True)
    ev = docs.filter("doc_id % 25 = 0").limit(5).selectExpr(
        "doc_id AS eval_id", "text"
    )
    df = contamination_from_index(spark, path, ev, k=3, threshold=0.6)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "documents.parquet" not in plan
    assert re.search(r"PartitionFilters: \[.*tbucket.*\]", plan)
    assert re.search(r"PushedFilters: \[.*In\(term", plan)


def test_semantic_admission_where_pushes_to_segment_scan(
    spark, sf_dir, tmp_path
):
    """where= on semantic admission reaches the cell-pruned
    stored-vector scans as a pushed EqualTo — the metadata scope
    costs planning time, not a join."""
    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        semantic_dedupe_incremental,
    )

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    path = str(tmp_path / "semwhere")
    ann_index_build(
        emb, path, n_cells=4, m=8, n_codes=16,
        store_vectors=True, store_cols=["label"],
    )
    batch = emb.limit(3).selectExpr(
        "vec_id + 100000 AS vec_id", "embedding", "label"
    )
    df = semantic_dedupe_incremental(
        spark, path, batch, threshold=0.95, where="label == 0"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PushedFilters: \[.*EqualTo\(label,0\)", plan)
    assert re.search(r"PartitionFilters: \[.*cell.*\]", plan)
    assert "SortMergeJoin" not in plan


def test_multi_col_backfill_serves_both_pushed(spark, sf_dir, tmp_path):
    """r17 multi-column evolution: after a TWO-column single-commit
    backfill, a where= conjunction over BOTH backfilled columns
    reaches the cell-pruned segment scans as pushed data filters —
    the same plan shape as a fresh two-column build, no join, no id
    set."""
    from pyspark.sql import functions as F

    from parq_tools_spark.operators.ann_index import (
        ann_index_add_metadata_col,
        ann_index_build,
        ann_index_topk,
    )

    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    )
    path = str(tmp_path / "annmc2")
    ann_index_build(
        emb.select("vec_id", "embedding"), path,
        n_cells=8, m=8, n_codes=16,
    )
    ann_index_add_metadata_col(
        spark, path,
        emb.select(
            "vec_id", "label",
            (F.col("vec_id") % 2).cast("int").alias("par"),
        ),
    )
    qs = emb.filter("vec_id < 3")
    df = ann_index_topk(
        spark, path, qs, k=5, nprobe=2,
        where="label == 0 and par == 1",
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PartitionFilters: \[.*cell.*\]", plan)
    assert re.search(r"PushedFilters: \[.*EqualTo\(label,0\)", plan)
    assert re.search(r"PushedFilters: \[.*EqualTo\(par,1\)", plan)
    assert "LeftSemi" not in plan


def test_post_drop_serving_keeps_pushdown(spark, sf_dir, tmp_path):
    """r17 prune leg: after dropping one of two stored columns, the
    surviving column's where= still pushes into the bucket-pruned
    postings scans — the rewrite changed the stored schema, not the
    serving plan shape."""
    from pyspark.sql import functions as F

    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_drop_metadata_col,
        bm25_index_topk,
    )

    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select(
        "doc_id", "text", "lang",
        (F.col("doc_id") % 3).cast("int").alias("grade"),
    )
    path = str(tmp_path / "bmdrop")
    bm25_index_build(
        docs, path, n_buckets=8, store_cols=["lang", "grade"]
    )
    bm25_index_drop_metadata_col(spark, path, "grade")
    df = bm25_index_topk(
        spark, path, "stream merge window", k=10, where="lang == 'en'"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "documents.parquet" not in plan
    assert re.search(r"PartitionFilters: \[.*tbucket.*\]", plan)
    assert re.search(r"PushedFilters: \[.*EqualTo\(lang,en\)", plan)
