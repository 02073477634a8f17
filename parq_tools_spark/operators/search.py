"""Keyword search over a document corpus: BM25 ranking and corpus
term statistics (beyond-reference; the reference has no text search —
this rounds out the training-data surface where `operators/dedup.py`
finds near-duplicates and `operators/text.py` scores quality:
retrieving the documents that MATCH a query is the remaining
primitive an LLM-data pipeline needs, e.g. for decontamination
spot-checks, corpus exploration, and targeted sampling).

Spark-first shape (Robertson/Sparck-Jones BM25, the Lucene
``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf variant that never goes
negative):

- **tokenization** is one codegen'd expression (lower + regexp split
  + filter) shared verbatim with the DuckDB oracle;
- **corpus statistics** (per-term document frequency, per-document
  length, average length) are plain aggregations — and for a query
  only the HANDFUL of query-term df rows are needed, so scoring never
  materializes a full inverted index;
- **scoring** filters the exploded postings to the query terms FIRST
  (map-side, before any shuffle), aggregates term frequencies per
  (doc, term), broadcast-joins the tiny idf table, and reduces to one
  score row per matching document. The only shuffle carries postings
  that match the query — at 100 TB that is O(matching docs x query
  terms), not O(corpus tokens).

Scores are rounded to the registry's 1e-6 grid and ranked by
``(score desc, doc_id asc)`` — the portable total order every ANN
operator here uses, so results are bit-stable across engines.
"""

from __future__ import annotations

import math
import re
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parq_tools_spark.operators._index_common import INDEX_MARKERS

__all__ = [
    "tokenize",
    "term_stats",
    "bm25_topk",
    "bm25_topk_batch",
    "bm25_index_build",
    "bm25_index_add",
    "bm25_index_delete",
    "bm25_index_upsert",
    "bm25_index_update_metadata",
    "bm25_index_add_metadata_col",
    "bm25_index_drop_metadata_col",
    "bm25_index_apply_cdc",
    "bm25_index_compact",
    "bm25_index_maybe_compact",
    "bm25_index_stats",
    "bm25_index_topk",
    "bm25_index_topk_batch",
    "contamination_from_index",
    "decontaminate_from_index",
]

_TOKEN_SPLIT = "[^a-z0-9]+"


def tokenize(text: Union[str, Column]) -> Column:
    """Lowercased alphanumeric terms of a string column, in order,
    empty strings dropped. One codegen'd expression; the DuckDB
    oracle spells the identical ``list_filter(string_split_regex(
    lower(x), '[^a-z0-9]+'), t -> t <> '')``."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(F.lower(col), _TOKEN_SPLIT), lambda t: t != ""
    )


def term_stats(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Per-term corpus statistics: ``(term, df)`` — the number of
    DISTINCT ``id_col`` documents containing the term at least once
    (a corpus carrying duplicate rows for one document id counts it
    once, so the signature's id parameter is honored, not decorative).
    With ``terms`` given, the explode is filtered to those terms
    map-side first (the scoring path); without it this is the full
    vocabulary scan (one shuffle keyed by term — the classic
    build-an-index pass).
    """
    toks = F.array_distinct(
        tokenize(F.coalesce(F.col(text_col), F.lit("")))
    )
    if terms is not None:
        toks = F.array_intersect(
            toks, F.array(*[F.lit(t) for t in terms])
        )
    return (
        corpus.select(F.col(id_col).alias("_id"), F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.countDistinct("_id").alias("df"))
    )


def _query_terms(query: Union[str, Sequence[str]]) -> list:
    """Sorted distinct terms, TOKENIZED the same way as the corpus in
    both forms: a list element like ``'data-base'`` splits into
    ``data``/``base`` exactly like the string form would — otherwise
    a term carrying any non-alphanumeric character could never match
    a corpus token and would silently contribute nothing."""
    parts = [query] if isinstance(query, str) else [str(t) for t in query]
    terms = sorted(
        {
            t
            for p in parts
            for t in re.split(_TOKEN_SPLIT, p.lower())
            if t != ""
        }
    )
    if not terms:
        raise ValueError("empty query")
    return terms


def _corpus_stats(corpus: DataFrame, text_col: str, terms: list):
    """``(n_docs, avgdl, {term: idf})`` in ONE corpus pass: count,
    average length and every query term's document frequency ride the
    same aggregate, so the stats cost one tokenization scan instead
    of two. NULL text counts as a zero-length document (the oracle's
    ``sum(len)/count(*)`` semantics — the row stays in N and in the
    avgdl denominator, contributes no tokens and no df).

    ID-UNIQUE CORPUS CONTRACT: every scoring path counts ROWS (one
    row = one document), the same contract the persisted index
    enforces on append. On a corpus carrying duplicate rows for one
    document id these df/N counts would diverge from
    :func:`term_stats` (which counts DISTINCT ids) — dedupe first
    (e.g. ``dedupe_keep_first``) if ids can repeat."""
    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    aggs = [F.count(F.lit(1)), F.avg(F.size(toks))] + [
        F.sum(F.array_contains(toks, t).cast("int")).alias(f"_df{i}")
        for i, t in enumerate(terms)
    ]
    row = corpus.select(*aggs).first()
    n_docs = row[0]
    if not n_docs:
        raise ValueError("empty corpus")
    avgdl = float(row[1]) or 1.0
    # Lucene-style idf: strictly positive, smooth at df in {0, N}
    idf = {
        t: math.log(
            1.0
            + (n_docs - (row[i + 2] or 0) + 0.5) / ((row[i + 2] or 0) + 0.5)
        )
        for i, t in enumerate(terms)
    }
    return n_docs, avgdl, idf


def _det_contrib_sum(contrib: Column) -> Column:
    """Aggregate per-term BM25 contributions in SORTED-TERM order —
    the exact left-to-right order :func:`bm25_topk`'s expression
    chain adds them in — by collecting ``(term, contrib)`` structs,
    sorting, and folding. An unordered ``F.sum`` can differ from the
    scan path by 1 ulp on 3+-term queries, which the 1e-6 floor
    rounding can flip; this makes every aggregate-form score
    bit-identical to the scan form, not merely ulp-close. The
    collected list is at most |query terms| elements per group."""
    return F.aggregate(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("term").alias("t"), contrib.alias("c"))
            )
        ),
        F.lit(0.0),
        lambda acc, s: acc + s["c"],
    )


def _phrase_tokens(phrase: Union[str, Sequence[str]]) -> list:
    """Phrase tokens IN ORDER (unlike :func:`_query_terms`, no sort,
    no dedup — a phrase is a sequence)."""
    parts = (
        [phrase] if isinstance(phrase, str) else [str(t) for t in phrase]
    )
    toks = [
        t
        for p in parts
        for t in re.split(_TOKEN_SPLIT, p.lower())
        if t != ""
    ]
    if not toks:
        raise ValueError("empty phrase")
    return toks


def _phrase_match(toks: Column, phrase_toks: list) -> Column:
    """True when the token array contains ``phrase_toks`` as a
    CONTIGUOUS subsequence — an array expression (slice-compare at
    every feasible offset), evaluated inside the scan like the tf
    expressions: no explode, no shuffle, no Python."""
    n = len(phrase_toks)
    target = F.array(*[F.lit(t) for t in phrase_toks])
    return F.when(
        F.size(toks) >= n,
        F.exists(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.slice(toks, i, n) == target,
        ),
    ).otherwise(F.lit(False))


def bm25_topk(
    corpus: DataFrame,
    query: Union[str, Sequence[str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    mode: str = "any",
    phrase: Optional[Union[str, Sequence[str]]] = None,
) -> DataFrame:
    """Top-``k`` documents for ``query`` by BM25.

    ``query`` is a string or a term list — both tokenized exactly like
    the corpus; duplicate query terms count once (bag-of-terms query,
    the standard formulation). NULL-text documents count as
    zero-length (in N and avgdl, never matching). Returns
    ``(doc_id, score, rank)``, rank 1 = best, ties broken by
    ascending id.

    ``mode="all"`` keeps only documents containing EVERY query term
    (conjunctive retrieval); ``phrase=`` additionally requires the
    given token sequence to appear contiguously (ranking stays plain
    BM25 over the query terms). Both are extra map-side predicates on
    the same scan — the plan shape below is unchanged.

    Cost shape: ONE tiny driver-side aggregate (N + avgdl + the query
    terms' dfs in a single pass — O(|query|) columns, not
    O(vocabulary)) and ONE map-only scoring pass: each row's per-term
    frequency is an array expression (``size(filter(toks, = term))``),
    so the score is computed IN the scan with no explode and NO
    shuffle at all — the only cross-partition movement is the top-k
    merge (``TakeOrderedAndProject``, k rows per task). The
    explode+aggregate shape lives in :func:`bm25_topk_batch`, where
    many queries amortize it.
    """
    if mode not in ("any", "all"):
        raise ValueError("mode must be 'any' or 'all'")
    terms = _query_terms(query)
    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    n_docs, avgdl, idf = _corpus_stats(corpus, text_col, terms)
    scale = float(10**round_to)
    dl = F.size(toks)
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
    # per-term tf as an array expression: |terms| linear passes over
    # the token array inside the scan — no explode, no shuffle. Terms
    # are sorted, so the left-to-right sum order is deterministic.
    total = F.lit(0.0)
    any_match = F.lit(False)
    all_match = F.lit(True)
    for t in terms:
        tf_t = F.size(F.filter(toks, lambda x: x == F.lit(t))).cast(
            "double"
        )
        any_match = any_match | (tf_t > 0)
        all_match = all_match & (tf_t > 0)
        total = total + F.when(
            tf_t > 0,
            F.lit(idf[t]) * (tf_t * F.lit(k1 + 1.0)) / (tf_t + norm),
        ).otherwise(F.lit(0.0))
    keep = any_match if mode == "any" else all_match
    if phrase is not None:
        keep = keep & _phrase_match(toks, _phrase_tokens(phrase))
    scored = (
        corpus.select(
            F.col(id_col),
            (
                F.floor(total * F.lit(scale) + F.lit(0.5)) / F.lit(scale)
            ).alias("score"),
            keep.alias("_m"),
        )
        # matched docs stay even if their tiny score rounds to 0.0
        # (what the explode-form and the SQL oracle both produce)
        .filter(F.col("_m"))
        .drop("_m")
    )
    # orderBy().limit(k) plans as TakeOrderedAndProject — each task
    # keeps its local top-k and only k rows per partition reach the
    # driver-side merge. A global rank window here would instead drag
    # EVERY matching document into one partition; the row_number runs
    # after the limit, over at most k rows.
    topk = scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return topk.withColumn("rank", F.row_number().over(w)).select(
        id_col, "score", "rank"
    )


def bm25_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """Top-``k`` per query for a whole QUERIES DataFrame — the
    many-queries form: ONE corpus pass serves every query instead of
    a rescan per query. Returns ``(query_id, doc_id, score, rank)``.

    Shape: queries are collected (they are the small side, like every
    ANN query set here), their term UNION drives one map-side postings
    filter + one (doc, term) aggregation, a broadcast (query, term,
    idf) table fans each posting out to the queries containing its
    term, and a per-query window ranks — partitioned by query, so
    top-k never funnels into a single task. At 100 TB the one corpus
    scan amortizes across the full query batch; everything else is
    O(matching postings x queries-per-term).
    """
    q_rows = queries.select(
        F.col(query_id_col).alias("qid"), F.col(query_col).alias("q")
    ).collect()
    if not q_rows:
        raise ValueError("no queries")
    q_terms = {}
    for r in q_rows:
        if r.qid in q_terms:
            raise ValueError(
                f"duplicate {query_id_col}={r.qid!r} in queries — ids "
                "must be unique (a later row would silently shadow the "
                "earlier query)"
            )
        try:
            q_terms[r.qid] = _query_terms(str(r.q))
        except ValueError:
            raise ValueError(
                f"empty query for {query_id_col}={r.qid!r}"
            ) from None
    all_terms = sorted({t for ts in q_terms.values() for t in ts})

    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    n_docs, avgdl, idf = _corpus_stats(corpus, text_col, all_terms)
    spark = corpus.sparkSession
    qt = spark.createDataFrame(
        [
            (qid, t, idf[t])
            for qid, ts in q_terms.items()
            for t in ts
        ],
        ["qid", "term", "idf"],
    )

    scale = float(10**round_to)
    postings = corpus.select(
        F.col(id_col),
        F.size(toks).alias("_dl"),
        F.explode(F.filter(toks, lambda t: t.isin(*all_terms))).alias(
            "term"
        ),
    )
    tf = postings.groupBy(id_col, "_dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.lit(avgdl)
    )
    contrib = (
        F.col("idf") * (F.col("tf") * F.lit(k1 + 1.0)) / (F.col("tf") + norm)
    )
    scored = (
        tf.join(F.broadcast(qt), on="term")
        .groupBy("qid", id_col)
        .agg(
            (
                F.floor(_det_contrib_sum(contrib) * F.lit(scale) + F.lit(0.5))
                / F.lit(scale)
            ).alias("score")
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id_col), id_col, "score", "rank")
    )


# =====================================================================
# Persisted BM25 index (versioned-manifest protocol, statefs)
# =====================================================================
#
# Repeated queries must not pay a full corpus rescan each call (the
# scan paths above are O(corpus) per invocation — right for one-shot
# sweeps, wrong for a serving surface at 100 TB). The index persists
# exactly the statistics scoring needs:
#
#   path/
#     v=<n>/_bm25_manifest.json   commit marker (created exclusively,
#                                 LAST): n_docs, sum_dl (exact int),
#                                 params, the segment list and the
#                                 terms snapshot for this version
#     terms-<n>-<tag>/            (term, df) parquet — the vocabulary,
#                                 range-partitioned+sorted by term so
#                                 a query's handful of df lookups
#                                 prune to a few files
#     seg-<n>-<tag>/tbucket=<b>/  postings (doc_id, dl, term, tf),
#                                 bucketed by crc32(term) so a query
#                                 partition-prunes to its terms'
#                                 buckets, term-sorted within files
#                                 for row-group skipping
#
# Same lifecycle as the MinHash band index (operators/dedup.py):
# appends commit new immutable segments plus a merged vocabulary
# snapshot (O(vocab), never O(corpus)); compaction rewrites postings
# segments into one and commits; a crashed or in-flight operation is
# an orphan directory no manifest references — readers never raise,
# nothing renames live data, object-store-clean.
#
# Staleness contract: a query scores with the statistics of the
# manifest version it resolved (idf, avgdl, postings all from ONE
# committed version — never a torn mix), and stamps that version in
# the output's ``index_version`` column.


def _bm25_vs(spark, path: str):
    from parq_tools_spark.sources.statefs import VersionedState

    return VersionedState(spark, path, INDEX_MARKERS["bm25"])


def _bm25_manifest(spark, path: str, version=None):
    vs = _bm25_vs(spark, path)
    cur, m = _resolve_manifest(
        vs,
        path,
        version,
        what="bm25 index",
        build_hint="; build one with bm25_index_build",
    )
    return vs, cur, m


from parq_tools_spark.operators._index_common import (  # noqa: E402
    NO_DEFAULT as _NO_DEFAULT,
    id_field as _id_field_impl,
    materialize as _mat,
    id_field_json as _id_field_json_impl,
    read_committed as _read_committed,
    resolve_manifest as _resolve_manifest,
    retention as _retention,
    tag as _tag,
)


def _tbucket_col(n_buckets: int) -> Column:
    # crc32: computable engine-side AND in plain Python (zlib.crc32),
    # so the query plans its partition pruning without a Spark job
    return F.pmod(
        F.crc32(F.encode(F.col("term"), "UTF-8")), F.lit(n_buckets)
    ).cast("int")


def _tbucket_py(term: str, n_buckets: int) -> int:
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _postings(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    store_positions: bool = False,
    meta_cols=(),
) -> DataFrame:
    """(doc_id, dl, term, tf[, positions]) — one row per distinct
    (document, term). Duplicate corpus rows for one id are NOT merged
    (the id-unique corpus contract every index here shares); NULL
    text yields no postings (zero-length doc — present only in
    n_docs/sum_dl). With ``store_positions`` each row also carries
    the term's sorted 0-based token offsets — what turns the index
    into a phrase/proximity-capable one (tf stays the array length,
    so scoring is unchanged; postings grow by one int per token).
    ``meta_cols`` (``store_cols`` indexes) ride each posting row like
    ``dl`` does — doc-constant, so the grouping is unchanged — which
    is what lets a ``where=`` predicate push into the postings scan
    at serve time instead of joining a doc table."""
    meta_cols = list(meta_cols)
    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    if not store_positions:
        return (
            corpus.select(
                F.col(id_col).alias("doc_id"),
                F.size(toks).alias("dl"),
                F.explode(toks).alias("term"),
                *meta_cols,
            )
            .groupBy("doc_id", "dl", "term", *meta_cols)
            .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        )
    return (
        corpus.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).alias("dl"),
            F.posexplode(toks).alias("pos", "term"),
            *meta_cols,
        )
        .groupBy("doc_id", "dl", "term", *meta_cols)
        .agg(
            F.count(F.lit(1)).cast("int").alias("tf"),
            F.sort_array(F.collect_list(F.col("pos").cast("int"))).alias(
                "positions"
            ),
        )
    )


def _write_postings_segment(
    postings: DataFrame, seg_path: str, n_buckets: int,
    bucket_task_splits: int = 1,
) -> None:
    """One postings-segment write, shuffled by the term bucket.
    ``bucket_task_splits > 1`` additionally salts the shuffle with a
    deterministic doc-id hash so a HOT bucket (the one holding a
    stop-word-frequency term) splits across that many write tasks —
    ``repartition("tbucket")`` alone never splits a bucket — the
    BM25 instance of the shared
    :func:`~parq_tools_spark.operators._index_common.
    write_salted_segment` (row-group pruning on term intact:
    every file stays (term, doc_id)-sorted within itself)."""
    from parq_tools_spark.operators._index_common import (
        write_salted_segment,
    )

    write_salted_segment(
        postings.withColumn("tbucket", _tbucket_col(n_buckets)),
        seg_path,
        "tbucket",
        ["term", "doc_id"],
        "doc_id",
        bucket_task_splits,
    )


def _write_terms(terms: DataFrame, terms_path: str) -> None:
    # range-partitioned + sorted: a df lookup for a handful of terms
    # prunes to few files, then to few row groups
    (
        terms.repartitionByRange(8, "term")
        .sortWithinPartitions("term")
        .write.mode("errorifexists")
        .parquet(terms_path)
    )


def _empty_terms(spark) -> DataFrame:
    from pyspark.sql import types as T

    return spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("term", T.StringType()),
                T.StructField("df", T.LongType()),
            ]
        ),
    )


def _segment_terms(spark, path: str, seg: str) -> DataFrame:
    """(term, df) of one postings segment. A segment written from a
    batch of only zero-token documents holds no data files (just
    _SUCCESS) — reading it back would raise UNABLE_TO_INFER_SCHEMA,
    so such segments read as an empty typed relation: the batch still
    contributes to n_docs/sum_dl, just no postings."""
    from parq_tools_spark.sources.statefs import StateFS

    if not StateFS(spark, path).list_files(f"{path}/{seg}"):
        return _empty_terms(spark)
    return (
        _read_committed(spark, f"{path}/{seg}")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )


def _read_terms(spark, path: str, m: dict) -> DataFrame:
    """The manifest's vocabulary snapshot; empty typed relation when
    the snapshot has no data files (an all-zero-token corpus)."""
    from parq_tools_spark.sources.statefs import StateFS

    if not StateFS(spark, path).list_files(f"{path}/{m['terms']}"):
        return _empty_terms(spark)
    return _read_committed(spark, f"{path}/{m['terms']}")


def _id_field_json(corpus: DataFrame, id_col: str) -> str:
    return _id_field_json_impl(corpus, id_col)


def bm25_index_build(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 32,
    store_positions: bool = False,
    keep_versions: int = 1,
    bucket_task_splits=1,
    store_cols=(),
) -> None:
    """Build a persistent BM25 index over ``corpus`` at ``path``.

    Two corpus passes (a count/length aggregate and the postings
    aggregation — both one shuffle, keyed small), then the manifest
    commits. ``k1``/``b`` are query-time knobs, not index state.

    ``keep_versions`` pins how many committed manifest versions every
    maintenance sweep retains (default 1 = current only, plus the
    one-cycle grace). Retained versions stay fully servable — the
    ``version=`` parameter on the query paths reads the index exactly
    as it was at that commit (its statistics, segments AND tombstone
    scope), the same time-travel contract as the rollup state.

    ``bucket_task_splits`` bounds write-task skew exactly like the
    ANN index's ``cell_task_splits``: the postings shuffle keys on
    the term bucket alone, so one hot bucket is one task; a value >
    1 salts it with a doc-id hash (layout-only change, results
    bit-identical, stored in the manifest so ``add``/``upsert``/CDC
    ingests inherit it). ``"auto"`` measures the batch's hottest
    bucket instead of guessing (:func:`~parq_tools_spark.operators.
    _index_common.auto_task_splits`, one extra aggregation pass);
    stored verbatim, so every later ingest re-measures its own
    batch.

    ``store_cols`` persists the named corpus metadata columns (e.g.
    ``lang``) on every posting row — doc-constant like ``dl``, so
    scoring and grouping are untouched — enabling
    :func:`bm25_index_topk`'s ``where=`` DSL predicate to push into
    the bucket-pruned postings scans at serve time (no doc-table
    join). Every subsequent ingest must carry the columns (validated
    loudly); compaction rewrites posting rows, so it carries them
    forward.

    Rebuilding over an existing index is NON-DESTRUCTIVE: the new
    generation's segment and vocabulary snapshot are built alongside
    the live state and a new manifest version (listing ONLY the new
    segment) commits last — in-flight readers of the previous
    manifest keep their files for one maintenance cycle (the same
    ``clean_stale`` grace adds and compaction give), and a crash
    anywhere mid-rebuild leaves the OLD index fully committed with
    the half-built data as an invisible orphan."""
    import json

    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    if bucket_task_splits != "auto" and (
        isinstance(bucket_task_splits, bool)
        or not isinstance(bucket_task_splits, int)
        or bucket_task_splits < 1
    ):
        raise ValueError(
            "bucket_task_splits must be a positive int or 'auto'"
        )
    store_cols = list(store_cols)
    # text_col reserved: the raw text replicated onto every posting
    # row (tokens-per-doc copies) is silent, catastrophic bloat
    reserved = {"doc_id", "dl", "term", "tf", "positions", "tbucket",
                id_col, text_col}
    bad = [c for c in store_cols if c in reserved]
    if bad:
        raise ValueError(
            f"store_cols {bad} collide with the postings schema's "
            f"reserved columns ({sorted(reserved)})"
        )
    from parq_tools_spark.operators._index_common import (
        check_store_cols,
    )

    check_store_cols(corpus, store_cols, "bm25_index_build")
    spark = corpus.sparkSession
    vs = _bm25_vs(spark, path)
    cur = vs.current()
    if cur is not None:
        # sweep at cycle START (the rollup-state pattern): state
        # superseded LAST cycle goes now, never the live generation —
        # honoring the PREVIOUS generation's retention (this rebuild's
        # keep_versions only governs from its own commit forward)
        vs.clean_stale(
            cur, keep_versions=_retention(json.loads(vs.read_marker(cur)))
        )
        _bm25_sweep_orphans(vs, path)
    new = (cur or 0) + 1

    post = _postings(
        corpus, id_col, text_col, store_positions, store_cols
    )
    from parq_tools_spark.operators._index_common import (
        cached_for_auto,
        resolve_task_splits,
    )

    seg = _tag(new, "seg")
    with cached_for_auto(post, bucket_task_splits) as post_c:
        _write_postings_segment(
            post_c, f"{path}/{seg}", n_buckets,
            resolve_task_splits(
                bucket_task_splits,
                post_c.withColumn("tbucket", _tbucket_col(n_buckets)),
                "tbucket",
                "bucket_task_splits",
            ),
        )
    n_docs, sum_dl = _write_segment_docs(
        corpus, id_col, text_col, f"{path}/{seg}"
    )
    terms_dir = _tag(new, "terms")
    # (doc, term) is unique after the postings aggregate, so df is a
    # plain count — no second distinct pass over the corpus
    _write_terms(_segment_terms(spark, path, seg), f"{path}/{terms_dir}")
    vs.commit(
        new,
        json.dumps(
            {
                "version": new,
                "params": {
                    "id_col": id_col,
                    "text_col": text_col,
                    "n_buckets": n_buckets,
                    "store_positions": store_positions,
                    "keep_versions": keep_versions,
                    "bucket_task_splits": bucket_task_splits,
                    "store_cols": store_cols,
                },
                "id_type": _id_field_json(corpus, id_col),
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                "segments": [seg],
                "terms": terms_dir,
            }
        ),
    )


def bm25_index_add(new_docs: DataFrame, path: str) -> None:
    """Fold a new batch into the index: one new postings segment, a
    merged vocabulary snapshot (old terms UNION batch terms, summed —
    O(vocab), the corpus is never rescanned), updated counts, one
    manifest commit. Ids must be new to the index (the same
    id-unique contract as minhash_index_add); a concurrent committer
    fails loudly on the exclusive marker."""
    import json

    spark = new_docs.sparkSession
    vs, cur, m = _bm25_manifest(spark, path)
    vs.clean_stale(cur, keep_versions=_retention(m))
    _bm25_sweep_orphans(vs, path)
    p = m["params"]

    # re-adding a TOMBSTONED id is legal and immediately visible: the
    # batch's postings land in segment version cur+1, beyond every
    # pending tombstone's upto (= the version it was committed at) —
    # the version-scoped visibility that makes upserts O(batch)
    from parq_tools_spark.operators._index_common import (
        check_store_cols,
    )

    check_store_cols(
        new_docs, p.get("store_cols", []), "bm25_index_add"
    )
    post = _postings(
        new_docs,
        p["id_col"],
        p["text_col"],
        p.get("store_positions", False),
        p.get("store_cols", []),
    )
    from parq_tools_spark.operators._index_common import (
        cached_for_auto,
        resolve_task_splits,
    )

    seg = _tag(cur + 1, "seg")
    with cached_for_auto(
        post, p.get("bucket_task_splits", 1)
    ) as post_c:
        _write_postings_segment(
            post_c, f"{path}/{seg}", p["n_buckets"],
            resolve_task_splits(
                p.get("bucket_task_splits", 1),
                post_c.withColumn(
                    "tbucket", _tbucket_col(p["n_buckets"])
                ),
                "tbucket",
                "bucket_task_splits",
            ),
        )
    n_new, dl_new = _write_segment_docs(
        new_docs, p["id_col"], p["text_col"], f"{path}/{seg}"
    )
    batch_terms = _segment_terms(spark, path, seg)
    terms_dir = _tag(cur + 1, "terms")
    _write_terms(
        _read_terms(spark, path, m)
        .unionByName(batch_terms)
        .groupBy("term")
        .agg(F.sum("df").alias("df")),
        f"{path}/{terms_dir}",
    )
    # {**m} carries every untouched manifest field forward — params,
    # id_type AND the pending "deletes" list (dropping the latter
    # would resurrect tombstoned docs while stats still exclude them)
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                "id_type": m.get(
                    "id_type", _id_field_json(new_docs, p["id_col"])
                ),
                "n_docs": m["n_docs"] + n_new,
                "sum_dl": m["sum_dl"] + dl_new,
                "segments": m["segments"] + [seg],
                "terms": terms_dir,
            }
        ),
    )


def _bm25_sweep_orphans(vs, path: str) -> None:
    """Drop seg-/terms-/del- directories no surviving manifest
    references (crashed operations, superseded versions past reader
    grace)."""
    import json

    referenced = set()
    for n, committed in vs.versions():
        if committed:
            m = json.loads(vs.read_marker(n))
            referenced.update(m["segments"])
            referenced.add(m["terms"])
            referenced.update(e["dir"] for e in _delete_entries(m))
    for entry, is_dir, _ in vs.fs.list_status(path):
        if (
            is_dir
            and entry.startswith(("seg-", "terms-", "del-"))
            and entry not in referenced
        ):
            vs.fs.delete(f"{path}/{entry}")


from parq_tools_spark.operators._index_common import (  # noqa: E402
    delete_batches as _delete_batches_impl,
    delete_entries as _delete_entries,
    visible_scan as _visible_scan_impl,
)


def _delete_batches(spark, path: str, m: dict) -> list:
    """Pending tombstones, version-scoped — see
    :func:`~parq_tools_spark.operators._index_common.delete_batches`
    (ONE shared definition across the index families)."""
    return _delete_batches_impl(spark, path, m)


def _visible_scan(spark, path: str, seg: str, batches: list) -> DataFrame:
    return _visible_scan_impl(spark, path, seg, batches, "doc_id")


def _write_segment_docs(
    corpus: DataFrame, id_col: str, text_col: str, seg_path: str
) -> None:
    """Write the segment's DOC-LEVEL sidecar ``<seg>/_docs`` —
    ``(doc_id, dl)`` for EVERY batch document, including zero-token
    ones (NULL/empty text), which have no postings and would
    otherwise be invisible to membership probes. The underscore
    prefix keeps Spark's partition discovery from mixing it into the
    postings reads; only maintenance paths (delete/upsert guards and
    stats) touch it.

    Returns ``(n_docs, sum_dl)`` for the batch, observed DURING the
    write — the former separate ``_corpus_counts`` job (a full
    corpus scan + tokenize per build/add) rides this pass for free
    (r17 optimization, guide §1.2: one fewer corpus pass)."""
    from parq_tools_spark.operators._index_common import write_stats

    toks = tokenize(F.coalesce(F.col(text_col), F.lit("")))
    stats = write_stats(
        lambda df: df.write.mode("errorifexists").parquet(
            f"{seg_path}/_docs"
        ),
        corpus.select(
            F.col(id_col).alias("doc_id"), F.size(toks).alias("dl")
        ),
        n=F.count(F.lit(1)),
        s=F.coalesce(F.sum("dl"), F.lit(0)),
    )
    return int(stats["n"]), int(stats["s"])


def _segment_docs(spark, path: str, seg: str) -> Optional[DataFrame]:
    """One segment's ``(doc_id, dl)`` doc table: the ``_docs``
    sidecar when present, else (legacy segments written before the
    sidecar existed) the distinct doc rows of its postings — exact
    except that legacy zero-token docs are invisible, the documented
    ``allow_missing`` escape."""
    from parq_tools_spark.sources.statefs import StateFS

    fs = StateFS(spark, path)
    files = fs.list_files(f"{path}/{seg}/_docs")
    if files:
        # the part-files are passed EXPLICITLY: handing Spark the
        # `_docs` directory itself trips the hidden-path filter (an
        # "All paths were ignored" warning and behavior that only
        # works by accident); explicit leaf files bypass it cleanly
        return _read_committed(
            spark, files=[f"{path}/{seg}/_docs/{f}" for f in files]
        )
    if fs.list_files(f"{path}/{seg}"):
        return (
            _read_committed(spark, f"{path}/{seg}")
            .select("doc_id", "dl")
            .distinct()
        )
    return None


def _visible_docs(spark, path: str, m: dict) -> Optional[DataFrame]:
    """All VISIBLE documents ``(doc_id, dl)`` across the manifest's
    segments (per-segment version-scoped tombstone anti-joins) — the
    exact membership relation the delete guard and the upsert probe
    key on."""
    from functools import reduce

    from parq_tools_spark.operators._index_common import seg_version

    batches = _delete_batches(spark, path, m)
    parts = []
    for seg in m["segments"]:
        docs = _segment_docs(spark, path, seg)
        if docs is None:
            continue
        applicable = [
            df for upto, df in batches if upto >= seg_version(seg)
        ]
        if applicable:
            dels = reduce(DataFrame.unionByName, applicable)
            docs = docs.join(F.broadcast(dels), on="doc_id", how="left_anti")
        parts.append(docs)
    if not parts:
        return None
    return reduce(DataFrame.unionByName, parts)


def bm25_index_delete(
    spark, path: str, ids, allow_missing: bool = False,
    _verified_docs: bool = False,
) -> dict:
    """Delete documents from the index by id — the CDC-shaped
    maintenance path (``streaming/cdc.py`` upserts become delete +
    :func:`bm25_index_add`).

    Tombstone design — VERSION-SCOPED (LSM semantics): the ids land
    in an immutable ``del-`` directory the new manifest references
    together with the version it was committed at (``upto``); query
    paths anti-join each segment against only the tombstones whose
    ``upto`` covers that segment's version. A later
    :func:`bm25_index_add` of the SAME id is therefore immediately
    visible (its postings live in a newer segment the tombstone does
    not reach) — delete + re-add needs NO compaction in between,
    which is what keeps a CDC upsert stream O(batch) instead of
    O(index rewrite) per batch. The next :func:`bm25_index_compact`
    still folds pending tombstones into the rewritten postings and
    clears the list (bounding the anti-join side). Statistics
    (``n_docs``, ``sum_dl``, the vocabulary's per-term df) are
    decremented AT DELETE TIME from the deleted docs' own VISIBLE
    postings — one segment scan filtered to the ids (a maintenance
    cost, not a query cost) — so post-delete scores are EXACTLY what
    a from-scratch build over the surviving corpus produces.

    ``ids`` is a sequence of ids or a one-column DataFrame. Every id
    MUST be a currently-VISIBLE document — ``n_docs`` decrements by
    the requested count, so a never-indexed (or already-deleted) id
    would skew every later idf/avgdl. The guard keys on the
    per-segment ``_docs`` doc table, which records ZERO-TOKEN
    documents too, so it is exact: missing ids raise by default (the
    typo and double-delete cases are loud). ``allow_missing=True``
    exists only for LEGACY segments written before the sidecar
    (there a zero-token doc has no doc row and is invisible to the
    probe); when every live segment carries the sidecar the probe is
    exact, so the flag is IGNORED and missing ids still raise — a
    blanket escape would let genuinely-never-indexed ids skew the
    statistics.

    Returns ``{"deleted": n, "version": v}``."""
    import json
    from functools import reduce

    from pyspark.sql import types as T

    vs, cur, m = _bm25_manifest(spark, path)
    vs.clean_stale(cur, keep_versions=_retention(m))
    _bm25_sweep_orphans(vs, path)

    from parq_tools_spark.operators._index_common import eager_stats

    fs = vs.fs
    if _verified_docs:
        # upsert/apply_cdc fast path: the caller just derived ``ids``
        # FROM the visible doc table as CHECKPOINTED (doc_id, dl)
        # rows, so the membership probe below would read the _docs
        # sidecars a second time per batch — one cheap aggregate over
        # the caller's checkpoint replaces it; visibility is known by
        # construction
        row = ids.agg(
            F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
        ).first()
        n_del = int(row[0])
        if n_del == 0:
            return {"deleted": 0, "version": cur}
        dl_del, n_found = int(row[1]), n_del
        ids_df = ids.select("doc_id")
    else:
        if isinstance(ids, DataFrame):
            ids_df = ids.select(
                F.col(ids.columns[0]).alias("doc_id")
            ).distinct()
        else:
            id_type = _id_field(m).dataType
            ids_df = spark.createDataFrame(
                [(i,) for i in ids],
                T.StructType([T.StructField("doc_id", id_type)]),
            ).distinct()
        # materialized once: the same id set drives the stats
        # decrements, the tombstone write and the count (which rides
        # the checkpoint job as an Observation — one job, not two)
        ids_df, _st = eager_stats(ids_df, n=F.count(F.lit(1)))
        n_del = int(_st["n"])
        if n_del == 0:
            return {"deleted": 0, "version": cur}

        # membership + dl from the VISIBLE doc table (the _docs
        # sidecar sees zero-token docs too, so the guard is exact on
        # segments written since it exists); a tombstoned-then-not-
        # re-added id is not visible and trips the guard
        vdocs = _visible_docs(spark, path, m)
        if vdocs is not None:
            # one aggregate job; `found` is only re-derived on the
            # error path below (recompute cost irrelevant there)
            found = vdocs.join(
                F.broadcast(ids_df), on="doc_id"
            ).distinct()
            row = found.agg(
                F.coalesce(F.sum("dl"), F.lit(0)), F.count(F.lit(1))
            ).first()
            dl_del, n_found = int(row[0]), int(row[1])
        else:
            dl_del, n_found = 0, 0
    if n_found < n_del and allow_missing:
        # allow_missing exists ONLY for legacy segments written before
        # the _docs sidecar (their zero-token docs are invisible to
        # the probe). If every live segment HAS the sidecar, the probe
        # is exact and the missing ids are genuinely not in the index
        # — honoring the escape would decrement n_docs/sum_dl for
        # docs that never existed, silently corrupting idf/avgdl.
        has_legacy = any(
            fs.list_files(f"{path}/{s}")
            and not fs.list_files(f"{path}/{s}/_docs")
            for s in m["segments"]
        )
        if not has_legacy:
            allow_missing = False
    if n_found < n_del and not allow_missing:
        missing = (
            ids_df.join(
                found.select("doc_id"), "doc_id", "left_anti"
            ).limit(5).collect()
            if vdocs is not None
            else ids_df.limit(5).collect()
        )
        raise ValueError(
            f"bm25_index_delete: {n_del - n_found} of {n_del} requested "
            f"id(s) are not VISIBLE in the index (first few: "
            f"{[r['doc_id'] for r in missing]}). Each is a typo, never "
            "indexed, or already deleted — deleting it would corrupt "
            "n_docs and every later idf/avgdl. (On LEGACY segments "
            "written before the _docs sidecar, a zero-token document "
            "is also invisible here — pass allow_missing=True only "
            "for that case; it is IGNORED when every live segment "
            "carries the sidecar, because the probe is then exact.)"
        )
    # per-term df decrements from the deleted docs' visible postings
    live = [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]
    batches = _delete_batches(spark, path, m)
    if live:
        # checkpointed: the terms write below range-partitions its
        # input, whose SAMPLING pass would otherwise re-run this
        # postings scan a second time (dec itself is O(affected
        # terms) — tiny next to the scan it saves)
        dec = _mat(
            reduce(
                DataFrame.unionByName,
                [_visible_scan(spark, path, s, batches) for s in live],
            )
            .join(F.broadcast(ids_df), on="doc_id")
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("_dec"))
        )
    else:
        dec = None

    terms_dir = _tag(cur + 1, "terms")
    old_terms = _read_terms(spark, path, m)
    if dec is not None:
        new_terms = (
            old_terms.join(dec, on="term", how="left")
            .select(
                "term",
                (F.col("df") - F.coalesce(F.col("_dec"), F.lit(0))).alias(
                    "df"
                ),
            )
            .filter(F.col("df") > 0)
        )
    else:
        new_terms = old_terms
    _write_terms(new_terms, f"{path}/{terms_dir}")

    del_dir = _tag(cur + 1, "del")
    ids_df.write.mode("errorifexists").parquet(f"{path}/{del_dir}")
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                "n_docs": m["n_docs"] - n_del,
                "sum_dl": m["sum_dl"] - dl_del,
                "terms": terms_dir,
                # upto = cur: every live segment has version <= cur,
                # and any LATER add lands outside this tombstone's
                # reach — the scoping that makes re-adds legal
                "deletes": m.get("deletes", [])
                + [{"dir": del_dir, "upto": cur}],
            }
        ),
    )
    return {"deleted": n_del, "version": cur + 1}


def bm25_index_upsert(new_docs: DataFrame, path: str) -> dict:
    """Insert-or-replace a batch of documents: ids already VISIBLE in
    the index are tombstoned (one :func:`bm25_index_delete` commit),
    then the whole batch appends as one new segment
    (:func:`bm25_index_add`) — immediately visible past the
    tombstone's version scope, so the whole operation is O(batch +
    doc-table scan), never an index rewrite. This is the primitive a
    CDC 'U' op maps onto (:func:`bm25_index_apply_cdc`).

    The probe keys on the ``_docs`` doc table, which records
    zero-token documents too — replacing a NULL-text doc works and
    counts as an update. Batch ids must be UNIQUE (one text per id;
    duplicate rows would double-count statistics and raise here).

    Returns ``{"updated": u, "inserted": i, "version": v}``."""
    spark = new_docs.sparkSession
    vs, cur, m = _bm25_manifest(spark, path)
    p = m["params"]
    # batch size + id-uniqueness in ONE aggregate job (was two)
    row = new_docs.agg(
        F.count(F.lit(1)), F.countDistinct(F.col(p["id_col"]))
    ).first()
    n_rows, n_batch = int(row[0]), int(row[1])
    ids_df = new_docs.select(
        F.col(p["id_col"]).alias("doc_id")
    ).distinct()
    if n_batch < n_rows:
        raise ValueError(
            f"bm25_index_upsert: batch carries {n_rows - n_batch} "
            f"duplicate {p['id_col']} row(s) — one text per id (a "
            "duplicate would append twice and corrupt n_docs/df)"
        )

    vdocs = _visible_docs(spark, path, m)
    updated = 0
    if vdocs is not None:
        from parq_tools_spark.operators._index_common import eager_stats

        # checkpoint + count in one job (the count rides the
        # checkpoint materialization as an Observation); dl carried
        # through so the delete skips its own _docs membership scan
        existing, st = eager_stats(
            vdocs.select("doc_id", "dl")
            .join(F.broadcast(ids_df), on="doc_id")
            .distinct(),
            n=F.count(F.lit(1)),
        )
        updated = int(st["n"])
        if updated:
            bm25_index_delete(spark, path, existing, _verified_docs=True)
    bm25_index_add(new_docs, path)
    new_version = _bm25_vs(spark, path).current()
    return {
        "updated": updated,
        "inserted": n_batch - updated,
        "version": new_version,
    }


def bm25_index_update_metadata(
    spark,
    path: str,
    updates: DataFrame,
    max_segments: int = 0,
    max_tombstone_frac: float = 0.0,
) -> dict:
    """Metadata-ONLY update for ``store_cols`` indexes — the BM25
    twin of :func:`~parq_tools_spark.operators.ann_index.
    ann_index_update_metadata`: flip stored metadata values without
    re-tokenizing anything. The affected documents' visible posting
    rows are read back, their metadata columns replaced, and the
    rewritten rows committed as ONE new segment together with a
    version-scoped tombstone hiding the old rows. A full
    :func:`bm25_index_upsert` would re-run the tokenize/posting
    aggregation per document and needs the raw text, which the index
    does not store outside the postings.

    ``updates`` carries ``doc_id`` (the index id column) plus ANY
    SUBSET of the index's ``store_cols``; exactly one row per id,
    every id currently visible (the guard keys on the exact ``_docs``
    doc table, so zero-token documents update cleanly — they move
    only their doc row; they have no postings to carry metadata).

    Statistics are untouched BY CONSTRUCTION: the documents' terms
    did not change, so the tombstoned rows' per-term df decrements
    would exactly cancel the new segment's increments — the manifest
    keeps the SAME vocabulary snapshot, ``n_docs`` and ``sum_dl``
    (post-update scores provably equal a fresh build over the
    flipped corpus). The commit is atomic: segment + ``_docs``
    sidecar + tombstone written first, one manifest commit last; a
    crash leaves invisible orphans and the old metadata fully
    served. Returns ``{"updated": n, "version": v}``.

    ``max_segments`` / ``max_tombstone_frac`` arm the shared
    stats-driven compaction trigger AFTER the commit
    (:func:`bm25_index_maybe_compact`, the sinks' bounds): every
    update adds one segment + one tombstone, so a metadata-churn-only
    maintenance loop would otherwise fragment the manifest unboundedly
    until the next ingest. Both default OFF (0)."""
    import json
    from functools import reduce

    vs, cur, m = _bm25_manifest(spark, path)
    p = m["params"]
    store = p.get("store_cols", [])
    from parq_tools_spark.operators._index_common import (
        check_metadata_updates,
        check_self_exclusion_types,
    )

    upd_cols = check_metadata_updates(
        updates, "doc_id", store, "bm25_index_update_metadata"
    )

    check_self_exclusion_types(
        updates.schema["doc_id"].dataType,
        _id_field(m).dataType,
        "bm25_index_update_metadata: updates",
        remedy="Cast the update id column to the indexed id type.",
    )
    vs.clean_stale(cur, keep_versions=_retention(m))
    _bm25_sweep_orphans(vs, path)

    from parq_tools_spark.operators._index_common import eager_stats

    upd, _st = eager_stats(
        updates.select(
            "doc_id", *[F.col(c).alias(f"_upd_{c}") for c in upd_cols]
        ),
        n=F.count(F.lit(1)),
    )
    n_upd = int(_st["n"])
    if n_upd == 0:
        return {"updated": 0, "version": cur}
    if upd.select("doc_id").distinct().count() < n_upd:
        raise ValueError(
            "bm25_index_update_metadata: duplicate doc_id row(s) in "
            "updates — one metadata row per id"
        )

    # exact visibility guard on the _docs doc table (sees zero-token
    # docs); its affected slice also becomes the new segment's _docs
    vdocs = _visible_docs(spark, path, m)
    if vdocs is not None:
        affected_docs, _fst = eager_stats(
            vdocs.join(upd.select("doc_id"), on="doc_id").distinct(),
            n=F.count(F.lit(1)),
        )
        n_found = int(_fst["n"])
    else:
        affected_docs, n_found = None, 0
    if n_found < n_upd:
        raise ValueError(
            f"bm25_index_update_metadata: {n_upd - n_found} of "
            f"{n_upd} requested id(s) are not visible in the index "
            "(typo, never indexed, or deleted) — refusing a partial "
            "update"
        )

    fs = vs.fs
    live = [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]
    batches = _delete_batches(spark, path, m)
    seg = _tag(cur + 1, "seg")
    if live:
        rows = reduce(
            DataFrame.unionByName,
            [_visible_scan(spark, path, s, batches) for s in live],
        ).drop("tbucket")  # recomputed by the segment writer
        affected = rows.join(upd, on="doc_id")
        # cast to the stored column types so the new segment's schema
        # cannot drift from its siblings'
        out_cols = [
            F.col(f"_upd_{c}").cast(rows.schema[c].dataType).alias(c)
            if c in upd_cols
            else F.col(c)
            for c in rows.columns
        ]
        new_rows = affected.select(*out_cols)
        from parq_tools_spark.operators._index_common import (
            cached_for_auto,
            resolve_task_splits,
        )

        with cached_for_auto(
            new_rows, p.get("bucket_task_splits", 1)
        ) as new_c:
            _write_postings_segment(
                new_c, f"{path}/{seg}", p["n_buckets"],
                resolve_task_splits(
                    p.get("bucket_task_splits", 1),
                    new_c.withColumn(
                        "tbucket", _tbucket_col(p["n_buckets"])
                    ),
                    "tbucket",
                    "bucket_task_splits",
                ),
            )
    # the affected docs' (doc_id, dl) rows move to the new segment's
    # sidecar so membership probes keep seeing them there
    affected_docs.write.mode("errorifexists").parquet(
        f"{path}/{seg}/_docs"
    )
    del_dir = _tag(cur + 1, "del")
    upd.select("doc_id").write.mode("errorifexists").parquet(
        f"{path}/{del_dir}"
    )
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                "segments": m["segments"] + [seg],
                # n_docs / sum_dl / terms unchanged: same documents,
                # same tokens, new metadata
                "deletes": m.get("deletes", [])
                + [{"dir": del_dir, "upto": cur}],
            }
        ),
    )
    if max_segments or max_tombstone_frac:
        bm25_index_maybe_compact(
            spark,
            path,
            max_segments=max_segments,
            max_tombstone_frac=max_tombstone_frac,
        )
    return {"updated": n_upd, "version": cur + 1}


def _bm25_visible_rows_for_rewrite(spark, path, vs, m, fn):
    """Every VISIBLE posting row, tombstones folded and ``tbucket``
    dropped (the segment writer recomputes it) — the read side both
    evolution legs (backfill / prune) share. Raises when nothing is
    visible: committing a rewrite of zero rows would make a data-less
    directory the SOLE segment and break schema inference for every
    later query."""
    from functools import reduce

    fs = vs.fs
    live = [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]
    batches = _delete_batches(spark, path, m)
    rows = (
        reduce(
            DataFrame.unionByName,
            [_visible_scan(spark, path, s, batches) for s in live],
        ).drop("tbucket")  # recomputed by the segment writer
        if live
        else None
    )
    if rows is None or not rows.take(1):
        raise ValueError(
            f"{fn}: the index holds no visible postings — nothing to "
            "rewrite"
        )
    return rows


def _bm25_commit_rewrite(spark, out, path, *, vs, cur, m, p, store_cols):
    """Write rewritten posting rows as ONE fresh segment (the
    ``_docs`` sidecar carried forward tombstone-folded, like
    compaction) and commit a COMPACTION-shaped manifest
    (``segments=[new]``, ``deletes=[]``) whose ``params.store_cols``
    becomes ``store_cols`` in the SAME atomic commit — the shared
    tail of the BM25 evolution legs (backfill extends the list, prune
    shrinks it). ``n_docs``/``sum_dl``/the terms snapshot are
    untouched — no token changed. Returns the new version."""
    import json

    from parq_tools_spark.operators._index_common import (
        cached_for_auto,
        resolve_task_splits,
    )

    seg = _tag(cur + 1, "seg")
    with cached_for_auto(out, p.get("bucket_task_splits", 1)) as out_c:
        _write_postings_segment(
            out_c, f"{path}/{seg}", p["n_buckets"],
            resolve_task_splits(
                p.get("bucket_task_splits", 1),
                out_c.withColumn("tbucket", _tbucket_col(p["n_buckets"])),
                "tbucket",
                "bucket_task_splits",
            ),
        )
    vdocs = _visible_docs(spark, path, m)
    if vdocs is not None:
        vdocs.write.mode("errorifexists").parquet(f"{path}/{seg}/_docs")
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                "segments": [seg],
                "deletes": [],
                # n_docs/sum_dl/terms unchanged: same tokens,
                # different metadata columns on every posting row
                "params": {**p, "store_cols": store_cols},
            }
        ),
    )
    return cur + 1


def bm25_index_add_metadata_col(
    spark, path: str, values: DataFrame, default=_NO_DEFAULT
) -> dict:
    """Backfill NEW metadata column(s) over the BM25 index — the
    evolution leg of the ``store_cols`` lifecycle (store → ``where=``
    → ``update_metadata`` → **evolve** → prune), the postings twin of
    :func:`~parq_tools_spark.operators.ann_index.
    ann_index_add_metadata_col`: a license grade computed after the
    build becomes a served, filterable column without re-tokenizing a
    single document. Every visible posting row is read back, the new
    column(s) attached (``values`` looked up by doc id; ids absent
    from ``values`` take ``default`` — omit it and an uncovered id
    raises before anything is written; extra ids are ignored), and
    the rewritten postings committed as ONE fresh segment whose
    manifest extends ``params.store_cols`` in the SAME atomic commit.
    ``values`` may carry k new columns — they land in ONE O(index)
    rewrite (``default`` a shared fill or a per-column dict), because
    the rewrite is the entire cost of evolution and must never be
    paid per column. Works on a store_cols-less index (adding the
    first metadata column).

    Metadata rides POSTING rows (the ``where=`` serving contract), so
    coverage is judged against documents that have postings —
    zero-token documents carry no metadata rows before OR after the
    backfill, exactly as at build time. The ``_docs`` sidecar carries
    forward tombstone-folded (membership probes stay exact);
    ``n_docs``/``sum_dl``/the terms snapshot are untouched BY
    CONSTRUCTION — no token changed — so post-backfill scores equal a
    fresh build over the corpus-with-columns. The commit is
    COMPACTION-shaped (``segments=[new]``, ``deletes=[]``): a
    backfill touches every row, and a whole-index tombstone would tax
    every query until the next fold. Cost at 100 TB: one id-lookup
    join plus the tbucket-keyed segment write every ingest already
    pays — O(index) once. Returns ``{"added": [cols],
    "version": v}``."""
    from parq_tools_spark.operators._index_common import (
        backfill_metadata_rows,
        check_add_metadata_col,
    )

    vs, cur, m = _bm25_manifest(spark, path)
    p = m["params"]
    store = list(p.get("store_cols", []))
    reserved = {
        "doc_id", "dl", "term", "tf", "positions", "tbucket",
        p["id_col"],
        # the index's own text column: an unprojected values frame
        # must not silently replicate the raw text onto every
        # posting row (older manifests always carry the key)
        p.get("text_col", "text"),
    }
    new_cols = check_add_metadata_col(
        values, p["id_col"], store, reserved,
        "bm25_index_add_metadata_col", default=default,
    )
    # values key on the SOURCE id column name; postings store doc_id
    vals = values.select(
        F.col(p["id_col"]).alias("doc_id"), *new_cols
    )
    vs.clean_stale(cur, keep_versions=_retention(m))
    _bm25_sweep_orphans(vs, path)
    rows = _bm25_visible_rows_for_rewrite(
        spark, path, vs, m, "bm25_index_add_metadata_col"
    )
    out, _ = backfill_metadata_rows(
        rows, vals, "doc_id", new_cols, default,
        "bm25_index_add_metadata_col",
    )
    v = _bm25_commit_rewrite(
        spark, out, path, vs=vs, cur=cur, m=m, p=p,
        store_cols=store + new_cols,
    )
    return {"added": new_cols, "version": v}


def bm25_index_drop_metadata_col(spark, path: str, cols) -> dict:
    """Drop stored metadata column(s) from the BM25 index — the PRUNE
    leg of the metadata lifecycle, the inverse of
    :func:`bm25_index_add_metadata_col`: every visible posting row is
    rewritten WITHOUT the column(s) (tokens/positions carried,
    nothing re-tokenized) and committed as ONE compaction-shaped
    segment whose manifest shrinks ``params.store_cols`` atomically.
    Until this runs, a mistakenly added or superseded column pays its
    bytes on every postings scan forever. ``cols`` is one name or a
    list; dropping the last stored column reverts the index to
    store_cols-less — serving ``where=`` against a dropped column
    then fails with the standard unknown-column error. Returns
    ``{"dropped": [cols], "version": v}``."""
    from parq_tools_spark.operators._index_common import (
        check_drop_metadata_cols,
    )

    vs, cur, m = _bm25_manifest(spark, path)
    p = m["params"]
    store = list(p.get("store_cols", []))
    cols = check_drop_metadata_cols(
        cols, store, "bm25_index_drop_metadata_col"
    )
    vs.clean_stale(cur, keep_versions=_retention(m))
    _bm25_sweep_orphans(vs, path)
    rows = _bm25_visible_rows_for_rewrite(
        spark, path, vs, m, "bm25_index_drop_metadata_col"
    )
    v = _bm25_commit_rewrite(
        spark, rows.drop(*cols), path, vs=vs, cur=cur, m=m, p=p,
        store_cols=[c for c in store if c not in cols],
    )
    return {"dropped": cols, "version": v}


def bm25_index_apply_cdc(
    spark,
    path: str,
    changes: DataFrame,
    op_col: str = "op",
    seq_col: Optional[str] = None,
) -> dict:
    """Apply a CDC batch (the ``streaming/cdc.py`` convention:
    ``op_col`` in 'I'/'U'/'D'/'M', optional ``seq_col`` ordering
    multiple ops per id) to the index: the LAST op per id wins —
    ordered by ``(seq desc, op desc)``, the same tiebreak as
    ``operators/merge.py``'s ``apply_cdc`` (a same-sequence 'U' beats
    'D'), so index state and snapshot state cannot diverge on an
    identical change log. Final 'D' ids that are currently visible
    are tombstoned — a 'D' for an id not in the index (e.g. the
    I-then-D short-lived-row pattern resolving to 'D') is a NO-OP,
    never an error, matching ``merge.apply_cdc``; final 'I'/'U' rows
    upsert. Two commits, O(batch + doc-table scan) total, no
    compaction required.

    'M' (metadata-only) ops fold into
    :func:`bm25_index_update_metadata` AFTER the deletes and upserts
    (shared :func:`~parq_tools_spark.operators._index_common.
    resolve_cdc_with_meta` semantics): a license re-grade rides the
    SAME change stream as content updates without forcing a
    re-tokenize upsert — O(affected) metadata rewrite instead of
    O(batch-tokens), and it needs no raw text on the 'M' rows. An 'M'
    row carries the id plus ALL the index's ``store_cols`` (the full
    metadata record, like a 'U' row); an 'M' whose id is not visible
    once the batch applied is a no-op (the 'D'-of-missing precedent —
    replay convergence for the streaming sinks), counted in
    ``meta_noops``; an 'M' superseded by a same-batch 'U'/'D' at an
    equal-or-later seq simply vanishes, like a superseded 'U'.

    Returns ``{"deleted": d, "delete_noops": n, "updated": u,
    "inserted": i, "meta_updated": mu, "meta_noops": mn,
    "version": v}``."""
    from parq_tools_spark.operators._index_common import (
        resolve_cdc_with_meta,
    )

    _, _, m = _bm25_manifest(spark, path)
    p = m["params"]
    id_col = p["id_col"]

    final, metas = resolve_cdc_with_meta(changes, id_col, op_col, seq_col)

    deletes = final.filter(F.col(op_col) == "D").select(id_col).distinct()
    upserts = final.filter(F.col(op_col).isin("I", "U")).drop(op_col)
    if seq_col is not None and seq_col in upserts.columns:
        upserts = upserts.drop(seq_col)

    # one aggregate job over the (checkpointed) resolved batch sizes
    # BOTH branches — resolve_cdc leaves at most one row per id, so
    # the 'D' row count IS the distinct delete-id count
    sizes = final.agg(
        F.count(F.when(F.col(op_col) == "D", 1)),
        F.count(F.when(F.col(op_col).isin("I", "U"), 1)),
    ).first()
    n_d, n_up = int(sizes[0]), int(sizes[1])

    n_deleted, n_noop = 0, 0
    if n_d:
        # D of an id not in the index is a no-op (the I-then-D
        # short-lived-row pattern), never an error — only visible
        # ids reach the delete's strict guard
        vdocs = _visible_docs(spark, path, m)
        if vdocs is not None:
            from parq_tools_spark.operators._index_common import (
                eager_stats,
            )

            # dl carried through so the delete skips its own _docs
            # membership scan (_verified_docs fast path)
            visible_d, _vst = eager_stats(
                vdocs.select("doc_id", "dl")
                .join(
                    F.broadcast(
                        deletes.withColumnRenamed(id_col, "doc_id")
                    ),
                    on="doc_id",
                )
                .distinct(),
                n=F.count(F.lit(1)),
            )
            n_vis = int(_vst["n"])
            if n_vis:
                n_deleted = bm25_index_delete(
                    spark, path, visible_d, _verified_docs=True
                )["deleted"]
            n_noop = n_d - n_vis
        else:
            n_noop = n_d
    out = {"deleted": n_deleted, "delete_noops": n_noop,
           "updated": 0, "inserted": 0}
    if n_up:
        res = bm25_index_upsert(upserts, path)
        out.update(
            {"updated": res["updated"], "inserted": res["inserted"]}
        )
    out.update({"meta_updated": 0, "meta_noops": 0})
    if metas is not None:
        from parq_tools_spark.operators._index_common import (
            apply_cdc_meta,
        )

        # visibility resolves POST-upsert (fresh manifest): an 'M'
        # for an id this very batch inserted must apply
        _, _, m2 = _bm25_manifest(spark, path)
        vdocs = _visible_docs(spark, path, m2)
        out.update(
            apply_cdc_meta(
                metas,
                store=p.get("store_cols", []),
                src_id_col=id_col,
                dst_id_col="doc_id",
                visible_ids=(
                    vdocs.select("doc_id") if vdocs is not None else None
                ),
                update_fn=lambda upd: bm25_index_update_metadata(
                    spark, path, upd
                ),
                fn="bm25_index_apply_cdc",
            )
        )
    out["version"] = _bm25_vs(spark, path).current()
    return out


def bm25_index_compact(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    min_files_per_bucket: int = 8,
    force: bool = False,
) -> dict:
    """Rewrite the manifest's postings segments into one (per-bucket
    read + coalesce, no shuffle — the bucket is the directory) when
    any bucket's file count exceeds both ``min_files_per_bucket`` and
    its byte-target, then commit. Crash-safe with no repair path for
    the same reason as ``minhash_index_compact``: readers only ever
    see committed manifests. Returns ``{tbucket: (files_before,
    files_after)}`` for buckets whose file count dropped."""
    import json
    import math

    vs, cur, m = _bm25_manifest(spark, path)
    vs.clean_stale(cur, keep_versions=_retention(m))
    _bm25_sweep_orphans(vs, path)
    fs = vs.fs

    per_bucket: dict = {}
    for seg in m["segments"]:
        for entry, is_dir, _ in fs.list_status(f"{path}/{seg}"):
            if not (is_dir and entry.startswith("tbucket=")):
                continue
            b = int(entry.split("=", 1)[1])
            files = [
                size
                for n_, d, size in fs.list_status(f"{path}/{seg}/{entry}")
                if not d and n_.endswith(".parquet")
            ]
            cnt, tot = per_bucket.get(b, (0, 0))
            per_bucket[b] = (cnt + len(files), tot + sum(files))
    targets = {
        b: max(1, math.ceil(tot / target_file_bytes))
        for b, (cnt, tot) in per_bucket.items()
    }
    # pending tombstones force a rewrite regardless of file counts —
    # folding them into the postings (and clearing the list) is the
    # point of the delete protocol's compaction step
    batches = _delete_batches(spark, path, m)
    if not force and not batches and not any(
        cnt > min_files_per_bucket and cnt > targets[b]
        for b, (cnt, tot) in per_bucket.items()
    ):
        return {}

    from functools import reduce

    new_seg = _tag(cur + 1, "seg")

    def _rewrite_bucket(b) -> None:
        if not batches:
            # no pending tombstones: one multi-path read of the
            # bucket subdirectories (the cheap pre-delete shape —
            # per-segment plans exist only to scope anti-joins)
            srcs = [
                f"{path}/{seg}/tbucket={b}"
                for seg in m["segments"]
                if fs.exists(f"{path}/{seg}/tbucket={b}")
            ]
            if not srcs:
                return
            bucket = _read_committed(spark, *srcs)
        else:
            # per-segment reads so each segment folds only the
            # tombstones whose upto covers its version (broadcast
            # anti-joins — the per-bucket rewrite stays map-only:
            # the bucket is the directory, no shuffle)
            parts = [
                _visible_scan(spark, path, seg, batches).filter(
                    F.col("tbucket") == b
                )
                for seg in m["segments"]
                if fs.exists(f"{path}/{seg}/tbucket={b}")
            ]
            if not parts:
                return
            bucket = reduce(DataFrame.unionByName, parts).drop("tbucket")
        (
            bucket.coalesce(targets[b])
            .write.mode("errorifexists")
            .parquet(f"{path}/{new_seg}/tbucket={b}")
        )

    # independent per-bucket rewrites overlap from a small thread
    # pool (guide §2.6): each bucket is a separate directory and a
    # separate Spark job, so running them serially left the cluster
    # idle on every job's tail; any failure propagates BEFORE the
    # commit, leaving only an invisible orphan (unchanged semantics)
    from parq_tools_spark.operators._index_common import run_overlapped

    run_overlapped(_rewrite_bucket, sorted(per_bucket))
    # carry the doc table forward (tombstones folded), so membership
    # probes stay exact across compactions
    vdocs = _visible_docs(spark, path, m)
    if vdocs is not None:
        vdocs.write.mode("errorifexists").parquet(
            f"{path}/{new_seg}/_docs"
        )
    vs.commit(
        cur + 1,
        json.dumps(
            {**m, "version": cur + 1, "segments": [new_seg], "deletes": []}
        ),
    )

    compacted = {}
    for b, (cnt, tot) in per_bucket.items():
        n_after = sum(
            1
            for n_, d, _ in fs.list_status(f"{path}/{new_seg}/tbucket={b}")
            if not d and n_.endswith(".parquet")
        )
        if n_after < cnt:
            compacted[b] = (cnt, n_after)
    return compacted


def bm25_index_maybe_compact(
    spark,
    path: str,
    max_segments: int = 16,
    max_tombstone_frac: float = 0.2,
) -> bool:
    """Stats-driven :func:`bm25_index_compact` (the shared
    :func:`~parq_tools_spark.operators._index_common.maybe_compact`
    trigger): fold postings segments/tombstones only when the live
    manifest references more than ``max_segments`` segments or
    pending tombstoned ids exceed ``max_tombstone_frac`` of
    ``n_docs`` — otherwise O(manifest) and do nothing. When
    triggered, compaction runs with ``force=True`` so the
    breach actually folds the segment list instead of re-triggering
    every batch. Returns True iff a compaction ran."""
    from parq_tools_spark.operators._index_common import maybe_compact

    return maybe_compact(
        spark,
        path,
        INDEX_MARKERS["bm25"],
        lambda: bm25_index_compact(spark, path, force=True),
        max_segments=max_segments,
        max_tombstone_frac=max_tombstone_frac,
        rows_key="n_docs",
    )


def bm25_index_stats(
    spark, path: str, version: Optional[int] = None
) -> dict:
    """The resolved manifest's statistics — ``version``, ``n_docs``,
    ``sum_dl``, ``avgdl``, ``params`` — the staleness contract's
    inspection point (compare ``version`` against a query result's
    ``index_version`` column). ``version=`` inspects a retained
    historical version (see :func:`bm25_index_build`'s
    ``keep_versions``)."""
    _, cur, m = _bm25_manifest(spark, path, version)
    return {
        "version": cur,
        "n_docs": m["n_docs"],
        "sum_dl": m["sum_dl"],
        "avgdl": (m["sum_dl"] / m["n_docs"]) if m["n_docs"] else 0.0,
        "params": m["params"],
        "n_segments": len(m["segments"]),
        "pending_delete_batches": len(m.get("deletes", [])),
    }


def _read_postings(spark, path: str, m: dict, terms: list) -> DataFrame:
    """The query terms' VISIBLE postings across the manifest's
    segments: bucket-pruned, term-filter pushed, and per-segment
    version-scoped tombstone anti-joins applied (so every serving
    path shares one visibility definition)."""
    from functools import reduce

    from parq_tools_spark.sources.statefs import StateFS

    fs = StateFS(spark, path)
    n_buckets = m["params"]["n_buckets"]
    buckets = sorted({_tbucket_py(t, n_buckets) for t in terms})
    live = [
        s for s in m["segments"] if fs.list_files(f"{path}/{s}")
    ]
    if not live:
        return None
    batches = _delete_batches(spark, path, m)
    scans = [
        _visible_scan(spark, path, s, batches).filter(
            F.col("tbucket").isin(buckets) & F.col("term").isin(terms)
        )
        for s in live
    ]
    return reduce(DataFrame.unionByName, scans)


def _id_field(m: dict):
    return _id_field_impl(m)


def _empty_topk(spark, m: dict, qid_field=None):
    """Typed empty result. ``qid_field`` (batch paths) is the
    caller's query-id StructField — derived from the queries
    DataFrame, never hardcoded, so string query ids keep their type
    across index states exactly like the manifest's ``id_type``
    mechanism keeps the doc-id column's."""
    from pyspark.sql import types as T

    fields = [
        _id_field(m),
        T.StructField("score", T.DoubleType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("index_version", T.IntegerType()),
    ]
    if qid_field is not None:
        fields.insert(0, qid_field)
    return spark.createDataFrame([], T.StructType(fields))


def _phrase_docs_from_positions(
    post: DataFrame, phrase_toks: list
) -> DataFrame:
    """Documents whose stored positional postings contain
    ``phrase_toks`` as a CONTIGUOUS token sequence: the phrase terms'
    position arrays fold into one per-document map
    (``map_from_entries`` over the distinct (term, positions) rows),
    then a single JVM array expression checks offset adjacency —
    ``exists p in pos(t0): pos(t_i) contains p+i for every i``.
    Repeated phrase tokens need no special case (one map entry serves
    every offset). No explode, no Python; the input is the already
    bucket-pruned postings read, so cost is O(phrase-term postings)."""
    from functools import reduce as _reduce

    n = len(phrase_toks)
    pset = sorted(set(phrase_toks))
    pmap = (
        post.filter(F.col("term").isin(pset))
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("_pm")
        )
    )

    def pos_of(t: str):
        return F.coalesce(
            F.col("_pm")[F.lit(t)], F.array().cast("array<int>")
        )

    match = F.exists(
        pos_of(phrase_toks[0]),
        lambda p: _reduce(
            lambda acc, i: acc
            & F.array_contains(pos_of(phrase_toks[i]), p + F.lit(i)),
            range(1, n),
            F.lit(True),
        ),
    )
    return pmap.filter(match).select("doc_id")


def _compile_where(where: str, m: dict, path: str):
    """Validate and compile a serving-time ``where=`` DSL predicate
    against the index's stored metadata columns (a predicate on a
    column the index never stored fails loudly — whether or not the
    index holds any postings — it never silently drops every
    candidate). The returned Column reaches the postings parquet
    scans as PushedFilters."""
    from parq_tools_spark.plans.query_parser import (
        build_filter_expression,
    )

    stored = m["params"].get("store_cols", [])
    if not stored:
        raise ValueError(
            f"bm25 index at {path} stores no metadata columns; "
            "where= needs an index built with "
            "bm25_index_build(..., store_cols=[...])"
        )
    return build_filter_expression(where, columns=stored)


def bm25_index_topk(
    spark,
    path: str,
    query: Union[str, Sequence[str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    mode: str = "any",
    phrase: Optional[Union[str, Sequence[str]]] = None,
    version: Optional[int] = None,
    allowed_ids=None,
    where: Optional[str] = None,
) -> DataFrame:
    """Top-``k`` by BM25 served FROM the index — no corpus scan, no
    tokenization: the plan reads the query terms' df rows from the
    vocabulary snapshot (file-pruned) and their postings from the
    term-bucketed segments (partition-pruned to the terms' buckets,
    term filter pushed into the parquet scan), aggregates one score
    row per matching document and top-k-merges. Cost is O(postings of
    the query's terms) — at 100 TB that is the difference between a
    serving call and a batch job.

    ``version=`` time-travels: the query serves from that RETAINED
    manifest exactly as committed — its statistics, segment list and
    tombstone scope — so build -> add -> delete histories replay
    faithfully (retention is the ``keep_versions`` build parameter).

    Scores are IDENTICAL to :func:`bm25_topk` over the same corpus at
    the index's current version — same idf/avgdl/tf arithmetic, same
    rounding, and the SAME float summation order
    (:func:`_det_contrib_sum` folds contributions in sorted-term
    order, matching the scan path's expression chain bit-for-bit). ``mode="all"`` keeps only documents matching EVERY
    query term (conjunctive retrieval — a post-aggregation filter on
    the matched-term count; no new shuffle shape). Output carries
    ``index_version`` (see :func:`bm25_index_stats`).

    ``phrase=`` (needs an index built with ``store_positions=True``)
    additionally requires the given token sequence to appear
    contiguously, exactly like the scan path's ``bm25_topk(phrase=)``
    — served from the stored positions: per candidate document the
    phrase terms' position arrays fold into a map and one JVM array
    expression checks offset adjacency (``exists p in pos(t0):
    p+i in pos(t_i)``). No corpus access, no tokenization — the
    postings read widens to the phrase's terms (still bucket-pruned)
    and ranking stays plain BM25 over the query terms.

    ``allowed_ids`` (sequence of ids, or a DataFrame of ids — see
    :func:`~parq_tools_spark.operators._index_common.
    apply_allowed_ids`) restricts CANDIDATE documents before scoring
    and ranking, so the returned ``k`` is correct under the filter.
    Applied to the postings read itself (a literal list reaches the
    parquet scans as a pushed filter), so disallowed documents never
    enter the aggregation. Statistics stay index-wide: idf/avgdl are
    the index's, exactly like every filtered-search engine — the
    filter scopes candidates, not the corpus model.

    ``where`` filters candidate documents by a DSL predicate over the
    index's STORED metadata columns (``bm25_index_build(
    store_cols=...)``), e.g. ``where="lang == 'en'"`` — the predicate
    rides the posting rows, so Catalyst pushes it into the
    bucket-pruned postings scans (no doc-table join). Composes with
    ``allowed_ids``."""
    if mode not in ("any", "all"):
        raise ValueError("mode must be 'any' or 'all'")
    terms = _query_terms(query)
    vs, cur, m = _bm25_manifest(spark, path, version)
    id_col = m["params"]["id_col"]
    phrase_toks = None
    if phrase is not None:
        if not m["params"].get("store_positions", False):
            raise ValueError(
                f"bm25 index at {path} was built without "
                "store_positions=True; phrase queries serve from "
                "positional postings — rebuild with "
                "bm25_index_build(..., store_positions=True)"
            )
        phrase_toks = _phrase_tokens(phrase)
    n_docs = m["n_docs"]
    if not n_docs:
        raise ValueError("empty corpus")
    avgdl = (m["sum_dl"] / n_docs) or 1.0
    df_rows = (
        _read_terms(spark, path, m)
        .filter(F.col("term").isin(terms))
        .collect()
    )
    dfs = {r["term"]: r["df"] for r in df_rows}
    idf = {
        t: math.log(
            1.0 + (n_docs - dfs.get(t, 0) + 0.5) / (dfs.get(t, 0) + 0.5)
        )
        for t in terms
    }

    where_col = (
        _compile_where(where, m, path) if where is not None else None
    )
    read_terms = sorted(set(terms) | set(phrase_toks or []))
    post = _read_postings(spark, path, m, read_terms)
    if post is None:
        return _empty_topk(spark, m)
    if allowed_ids is not None:
        from parq_tools_spark.operators._index_common import (
            apply_allowed_ids,
        )

        # the caller thinks in the index's id_col name; postings key
        # on the internal doc_id — bridge a DataFrame's column first
        if isinstance(allowed_ids, DataFrame) and id_col in (
            allowed_ids.columns
        ):
            allowed_ids = allowed_ids.select(
                F.col(id_col).alias("doc_id")
            )
        post = apply_allowed_ids(
            post, "doc_id", allowed_ids, _id_field(m).dataType,
            "bm25_index_topk",
        )
    if where_col is not None:
        post = post.filter(where_col)
    scale = float(10**round_to)
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    idf_col = F.element_at(
        F.create_map(
            *[x for t in terms for x in (F.lit(t), F.lit(idf[t]))]
        ),
        F.col("term"),
    )
    contrib = idf_col * (F.col("tf") * F.lit(k1 + 1.0)) / (F.col("tf") + norm)
    score_post = (
        post if set(read_terms) == set(terms)
        else post.filter(F.col("term").isin(terms))
    )
    grouped = score_post.groupBy("doc_id").agg(
        (
            F.floor(_det_contrib_sum(contrib) * F.lit(scale) + F.lit(0.5))
            / F.lit(scale)
        ).alias("score"),
        F.count(F.lit(1)).alias("_nt"),
    )
    if mode == "all":
        grouped = grouped.filter(F.col("_nt") == len(terms))
    if phrase_toks is not None:
        grouped = grouped.join(
            _phrase_docs_from_positions(post, phrase_toks),
            on="doc_id",
            how="left_semi",
        )
    topk = (
        grouped.drop("_nt")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .withColumn("index_version", F.lit(cur))
        .withColumnRenamed("doc_id", id_col)
    )


def contamination_from_index(
    spark,
    path: str,
    eval_set: DataFrame,
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    k: int = 8,
    threshold: float = 0.8,
    version: Optional[int] = None,
    allowed_ids=None,
    where: Optional[str] = None,
    max_eval_terms: int = 200_000,
) -> DataFrame:
    """Benchmark decontamination served FROM the positional BM25
    index — no corpus scan, no corpus re-tokenization: the index's
    stored position arrays (``bm25_index_build(
    store_positions=True)``) already hold everything a contiguous
    k-gram containment check needs, so flagging a 100 TB corpus
    against a new benchmark costs O(postings of the eval set's
    terms), not a corpus pass. The scan-path twin is
    :func:`~parq_tools_spark.operators.dedup.contamination_overlap`;
    this one measures containment over the INDEX's tokenization
    (:func:`tokenize` — lowercased alphanumeric runs), the same
    normalization its phrase serving uses.

    For every (indexed doc, eval doc) pair: ``n_overlap`` = how many
    of the eval doc's DISTINCT k-token grams appear contiguously in
    the indexed doc, ``containment`` = n_overlap / |eval doc's gram
    set| (directional — a long training doc embedding a whole eval
    prompt scores 1.0). Returns pairs with containment >=
    ``threshold`` as ``(id_col, eval_id, n_overlap, containment)``.
    Eval docs shorter than ``k`` tokens contribute their whole token
    sequence as one gram, matched as a contiguous PHRASE — a long
    training doc embedding the short eval prompt still flags, which
    is deliberately stricter than the scan path's shingle-set
    membership (there a sub-k eval can only match an equal-length
    doc). Zero-token eval docs contribute nothing.

    Plan shape: the eval set's distinct terms (collected driver-side,
    capped at ``max_eval_terms`` — benchmarks are KBs by
    construction; raise the cap deliberately for giant suites) prune
    the postings read to their term buckets with the term filter
    pushed into the parquet scans. Candidate doc k-grams are
    RECONSTRUCTED from the stored positions — the eval terms'
    postings explode to (doc, pos, term) rows and m-1 co-partitioned
    (doc, pos) joins rebuild every contiguous gram over eval terms —
    then matched on the FULL gram string, so join selectivity
    survives even a stopword-heavy eval set or a tiny vocabulary
    (any single-term candidate plan fans out by term df).

    ``version=`` time-travels; ``allowed_ids`` / ``where`` scope
    WHICH INDEXED DOCUMENTS may be flagged (the shared
    filtered-retrieval contract — e.g. decontaminate only one
    tenant's slice), applied to the postings read itself."""
    from functools import reduce

    from pyspark.sql import types as T

    vs, cur, m = _bm25_manifest(spark, path, version)
    id_col = m["params"]["id_col"]
    if not m["params"].get("store_positions", False):
        raise ValueError(
            f"bm25 index at {path} was built without "
            "store_positions=True; contamination_from_index serves "
            "containment from positional postings — rebuild with "
            "bm25_index_build(..., store_positions=True), or use the "
            "scan-path contamination_overlap"
        )
    if k < 1:
        raise ValueError("k must be >= 1")
    if eval_id_col == id_col:
        raise ValueError(
            f"contamination_from_index: eval_id_col '{eval_id_col}' "
            f"collides with the index id column — the output carries "
            "both; rename the eval id column"
        )
    where_col = (
        _compile_where(where, m, path) if where is not None else None
    )
    # internal eval-id name: the pipeline's own columns (doc_id, term,
    # gram, _pm) must never be shadowed by a caller's eval_id_col —
    # renamed back in the final select
    _EID = "_cfi_eval_id"
    toks = tokenize(F.col(eval_text_col))
    n = F.size(toks)
    grams = (
        F.when(
            n >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(k - 1)),
                    lambda i: F.slice(toks, i, k),
                )
            ),
        )
        .when(n > 0, F.array(toks))
        .otherwise(F.array().cast("array<array<string>>"))
    )
    # materialized ONCE: the gram relation feeds three consumers (the
    # driver-side term collect, the per-eval sizes, the candidate
    # join) — benchmarks are small by construction, and the
    # checkpoint keeps the eval source out of the serving plan
    eval_grams = _mat(eval_set.select(
        F.col(eval_id_col).alias(_EID), F.explode(grams).alias("gram")
    ))
    esizes = eval_grams.groupBy(_EID).agg(
        F.count(F.lit(1)).alias("__esize")
    )

    term_rows = (
        eval_grams.select(F.explode("gram").alias("term"))
        .distinct()
        .limit(max_eval_terms + 1)
        .collect()
    )
    terms = sorted(r["term"] for r in term_rows)
    if len(terms) > max_eval_terms:
        raise ValueError(
            f"contamination_from_index prunes the postings read by "
            f"the eval set's distinct terms and caps at "
            f"max_eval_terms={max_eval_terms}; got more. Split the "
            "eval set or raise the cap deliberately."
        )

    def _empty():
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    _id_field(m),
                    eval_set.schema[eval_id_col],
                    T.StructField("n_overlap", T.LongType()),
                    T.StructField("containment", T.DoubleType()),
                ]
            ),
        )

    if not terms:
        return _empty()
    post = _read_postings(spark, path, m, terms)
    if post is None:
        return _empty()
    if allowed_ids is not None:
        from parq_tools_spark.operators._index_common import (
            apply_allowed_ids,
        )

        if isinstance(allowed_ids, DataFrame) and id_col in (
            allowed_ids.columns
        ):
            allowed_ids = allowed_ids.select(
                F.col(id_col).alias("doc_id")
            )
        post = apply_allowed_ids(
            post, "doc_id", allowed_ids, _id_field(m).dataType,
            "contamination_from_index",
        )
    if where_col is not None:
        post = post.filter(where_col)

    # Candidate doc k-grams RECONSTRUCTED from the stored positions:
    # explode the eval terms' postings to (doc, pos, term) rows and
    # chain m-1 co-partitioned (doc, pos) self-joins to rebuild every
    # contiguous m-gram a doc holds OVER EVAL TERMS ONLY (a chain
    # through a non-eval token breaks on the missing row — correct,
    # since such a gram can never equal an eval gram). One chain per
    # distinct eval-gram LENGTH — normally just {k}; sub-k whole-doc
    # grams add theirs. The final join key is the FULL gram string,
    # so selectivity survives even a degenerate tiny vocabulary
    # (single-term candidate plans — anchor or conjunctive — fan out
    # by term df and melt down when every term is hot; the scan path
    # joins whole shingles for the same reason). Volume is O(eval-
    # term token occurrences): tiny for a real benchmark's
    # vocabulary, and never worse than the corpus token count the
    # scan path pays.
    eg = eval_grams.select(
        _EID,
        F.concat_ws("\x1f", "gram").alias("_gk"),
        F.size("gram").alias("_glen"),
    )
    lengths = sorted(
        r["_glen"] for r in eg.select("_glen").distinct().collect()
    )
    tp = post.select(
        "doc_id", "term", F.explode("positions").alias("_p")
    )
    parts = []
    for mlen in lengths:
        g = tp.select(
            "doc_id", "_p", F.col("term").alias("_g0")
        )
        cols = [F.col("_g0")]
        for i in range(1, mlen):
            g = g.join(
                tp.select(
                    "doc_id",
                    (F.col("_p") - i).alias("_p"),
                    F.col("term").alias(f"_g{i}"),
                ),
                on=["doc_id", "_p"],
            )
            cols.append(F.col(f"_g{i}"))
        parts.append(
            g.select(
                "doc_id", F.concat_ws("\x1f", *cols).alias("_gk")
            )
        )
    doc_grams = reduce(DataFrame.unionByName, parts).distinct()
    hits = doc_grams.join(
        F.broadcast(eg.select(_EID, "_gk")), on="_gk"
    )
    overlap = hits.groupBy("doc_id", _EID).agg(
        F.count(F.lit(1)).alias("n_overlap")
    )
    return (
        overlap.join(F.broadcast(esizes), _EID)
        .withColumn(
            "containment",
            F.col("n_overlap").cast("double") / F.col("__esize"),
        )
        .filter(F.col("containment") >= threshold)
        .withColumnRenamed("doc_id", id_col)
        .withColumnRenamed(_EID, eval_id_col)
        .select(id_col, eval_id_col, "n_overlap", "containment")
    )


def decontaminate_from_index(
    spark,
    path: str,
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_id_col: Optional[str] = None,
    **kw,
) -> DataFrame:
    """Drop corpus rows flagged by :func:`contamination_from_index`
    (the index-served twin of :func:`~parq_tools_spark.operators.
    dedup.decontaminate`): the flagged-id set comes entirely from the
    positional index — the corpus DataFrame is touched only by the
    final anti-join, never tokenized or shingled. ``corpus_id_col``
    defaults to the index's id column; ``**kw`` passes through
    (``k``, ``threshold``, ``version``, ``allowed_ids``, ``where``,
    ...). The anti-join strategy is left to Catalyst/AQE: the
    contamination PAIRS are eval-bounded, but the flagged DISTINCT
    corpus-id set is bounded only by how widely the benchmark leaked
    — at 100 TB with a low threshold that can be millions of ids, and
    a forced broadcast would pin it on every executor (or fail)
    instead of letting AQE fall back to a shuffled anti-join."""
    # manifest resolved at the SAME version the contamination call
    # will serve (a rebuild can change id_col across versions)
    _, _, m = _bm25_manifest(spark, path, kw.get("version"))
    id_col = m["params"]["id_col"]
    corpus_id_col = corpus_id_col or id_col
    from parq_tools_spark.operators._index_common import (
        check_self_exclusion_types,
    )

    # the anti-join compares flagged INDEX ids against the corpus id
    # column; a type mismatch would cast to NULL under non-ANSI
    # semantics, match nothing, and silently KEEP every contaminated
    # row — fail loudly instead (the apply_allowed_ids guard)
    check_self_exclusion_types(
        corpus.schema[corpus_id_col].dataType,
        _id_field(m).dataType,
        "decontaminate_from_index: corpus id",
        remedy="Cast the corpus id column to the indexed id type.",
    )
    flagged = (
        contamination_from_index(spark, path, eval_set, **kw)
        .select(F.col(id_col).alias(corpus_id_col))
        .distinct()
    )
    return corpus.join(flagged, on=corpus_id_col, how="left_anti")


def bm25_index_topk_batch(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    query_col: str = "query",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
    mode: str = "any",
    version: Optional[int] = None,
    allowed_ids=None,
    where: Optional[str] = None,
    max_queries: int = 10_000,
) -> DataFrame:
    """Per-query top-``k`` for a whole queries DataFrame served from
    the index: ONE postings read covers the union of all query terms
    (still bucket-pruned), a broadcast (query, term, idf) table fans
    postings out, and a per-query window ranks. Like
    :func:`bm25_topk_batch` but with the corpus pass replaced by the
    index read — O(matching postings), not O(corpus tokens).

    ``allowed_ids`` restricts candidate documents for EVERY query in
    the batch before scoring (same contract as
    :func:`bm25_index_topk`: candidates, not statistics; each query's
    ``k`` is correct under the filter).

    The queries DataFrame is collected to the driver (per-query term
    lists plan the bucket pruning) and capped at ``max_queries`` —
    the same guard as ``ann_index_topk``'s: a mistakenly corpus-sized
    queries DataFrame must raise, not OOM the driver."""
    if mode not in ("any", "all"):
        raise ValueError("mode must be 'any' or 'all'")
    q_rows = queries.select(
        F.col(query_id_col).alias("qid"), F.col(query_col).alias("q")
    ).limit(max_queries + 1).collect()
    if not q_rows:
        raise ValueError("no queries")
    if len(q_rows) > max_queries:
        raise ValueError(
            "bm25_index_topk_batch collects the queries to the driver "
            "(their term lists plan the bucket-pruned postings read) "
            f"and caps at max_queries={max_queries}; got more. Batch "
            "through repeated calls or raise max_queries deliberately."
        )
    q_terms = {}
    for r in q_rows:
        if r.qid in q_terms:
            raise ValueError(
                f"duplicate {query_id_col}={r.qid!r} in queries"
            )
        try:
            q_terms[r.qid] = _query_terms(str(r.q))
        except ValueError:
            raise ValueError(
                f"empty query for {query_id_col}={r.qid!r}"
            ) from None
    all_terms = sorted({t for ts in q_terms.values() for t in ts})

    vs, cur, m = _bm25_manifest(spark, path, version)
    id_col = m["params"]["id_col"]
    n_docs = m["n_docs"]
    if not n_docs:
        raise ValueError("empty corpus")
    avgdl = (m["sum_dl"] / n_docs) or 1.0
    df_rows = (
        _read_terms(spark, path, m)
        .filter(F.col("term").isin(all_terms))
        .collect()
    )
    dfs = {r["term"]: r["df"] for r in df_rows}
    idf = {
        t: math.log(
            1.0 + (n_docs - dfs.get(t, 0) + 0.5) / (dfs.get(t, 0) + 0.5)
        )
        for t in all_terms
    }
    qt = spark.createDataFrame(
        [
            (qid, t, idf[t], len(ts))
            for qid, ts in q_terms.items()
            for t in ts
        ],
        ["qid", "term", "idf", "n_terms"],
    )

    where_col = (
        _compile_where(where, m, path) if where is not None else None
    )
    post = _read_postings(spark, path, m, all_terms)
    if post is None:
        from pyspark.sql import types as T

        return _empty_topk(
            spark,
            m,
            qid_field=T.StructField(
                query_id_col, queries.schema[query_id_col].dataType
            ),
        )
    if allowed_ids is not None:
        from parq_tools_spark.operators._index_common import (
            apply_allowed_ids,
        )

        if isinstance(allowed_ids, DataFrame) and id_col in (
            allowed_ids.columns
        ):
            allowed_ids = allowed_ids.select(
                F.col(id_col).alias("doc_id")
            )
        post = apply_allowed_ids(
            post, "doc_id", allowed_ids, _id_field(m).dataType,
            "bm25_index_topk_batch",
        )
    if where_col is not None:
        post = post.filter(where_col)
    scale = float(10**round_to)
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    )
    contrib = (
        F.col("idf") * (F.col("tf") * F.lit(k1 + 1.0)) / (F.col("tf") + norm)
    )
    grouped = (
        post.join(F.broadcast(qt), on="term")
        .groupBy("qid", "doc_id", "n_terms")
        .agg(
            (
                F.floor(_det_contrib_sum(contrib) * F.lit(scale) + F.lit(0.5))
                / F.lit(scale)
            ).alias("score"),
            F.count(F.lit(1)).alias("_nt"),
        )
    )
    if mode == "all":
        grouped = grouped.filter(F.col("_nt") == F.col("n_terms"))
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        grouped.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("doc_id").alias(id_col),
            "score",
            "rank",
            F.lit(cur).alias("index_version"),
        )
    )
