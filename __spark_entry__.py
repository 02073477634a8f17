"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 plus the LLM-pipeline operators; ``oracle_sql()`` gives
the DuckDB-equivalent SQL for every SQL-expressible query (the driver
hash-compares both at sf=0.01). Engine-portability rules used
throughout, so value hashes match bit-for-bit:

- money/qty aggregates: cast operands to DECIMAL before SUM (exact,
  partition-order independent), cast the final result to DOUBLE;
- averages: exact decimal sum divided by count, in double;
- timestamps: formatted to strings (`yyyy-MM-dd HH:mm:ss`) so tz
  presentation differences cannot leak into the hash;
- ranking: ties broken on rounded similarity then id, identically in
  both engines;
- every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


_PKG_SHIPPED = False


def _ensure_pkg_on_workers(spark: SparkSession) -> None:
    """Ship parq_tools_spark to executor Python workers.

    The driver process gets the package via the sys.path insert above,
    but executor workers deserializing Pandas-UDF closures import the
    package by name — addPyFile a zip of it so any session/cwd works.
    """
    global _PKG_SHIPPED
    # timestamp formatting must not depend on the host session's zone
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if _PKG_SHIPPED:
        return
    import shutil
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    archive = shutil.make_archive(
        os.path.join(tempfile.mkdtemp(), "parq_tools_spark_pkg"),
        "zip",
        root_dir=here,
        base_dir="parq_tools_spark",
    )
    spark.sparkContext.addPyFile(archive)
    _PKG_SHIPPED = True


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One base table. The schema is resolved from the file's own
    footer on the driver (pyarrow, fresh per call — nothing cached),
    because Spark 4's schema inference otherwise submits one Spark
    job per read CALL, a fixed ~0.5-1 s of scheduling overhead that
    every query here would pay per table before computing anything
    (guide §1.2). The data itself is read and computed from the
    parquet input on every call exactly as before; a footer Spark
    cannot resolve this way falls back to plain inference."""
    _ensure_pkg_on_workers(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.read
    try:
        import pyarrow.parquet as _pq
        from pyspark.sql.pandas.types import from_arrow_schema

        # prefer_timestamp_ntz mirrors Spark's own inference default
        # (tz-less parquet timestamps read as TIMESTAMP_NTZ), so the
        # resolved schema is bit-identical to the inferred one
        ntz = (
            spark.conf.get(
                "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
            )
            == "true"
        )
        reader = reader.schema(
            from_arrow_schema(
                _pq.read_schema(path), prefer_timestamp_ntz=ntz
            )
        )
    except Exception:
        pass
    return reader.parquet(path)


def _dec_sum(col, scale: int = 2):
    """Exact, order-independent sum of a double column -> double."""
    return F.sum(col.cast(f"decimal(27,{scale})")).cast("double")


def _plane_values(dim: int = 64, n_planes: int = 16, seed: int = 42) -> str:
    """Inline (plane, dim, val) VALUES rows for the LSH hyperplanes —
    repr() round-trips float64 exactly, so DuckDB parses the identical
    doubles Spark's expression tree uses."""
    from parq_tools_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    return ",\n".join(
        f"  ({p}, {d}, {v!r})"
        for p, row in enumerate(planes)
        for d, v in enumerate(row)
    )


def _seed_values(family: str, n: int) -> str:
    """Inline (seed, a, b) VALUES rows for the portable universal hash
    family — the same constants parq_tools_spark.operators.dedup uses."""
    from parq_tools_spark.operators.dedup import portable_hash_params

    return ",\n".join(
        f"  ({i}, {a}, {b})"
        for i, (a, b) in enumerate(portable_hash_params(n, family=family))
    )


def _pround(col, n: int = 6):
    """Engine-portable round-half-up: floor(x*10^n + 0.5)/10^n.

    Spark's ``round()`` rounds the shortest decimal string repr of the
    double (BigDecimal.valueOf) while DuckDB rounds the binary value —
    they disagree on boundary values. floor over identical doubles is
    bit-deterministic in both engines.
    """
    p = float(10**n)
    return F.floor(col * F.lit(p) + F.lit(0.5)) / F.lit(p)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with an exact epoch-micros column, whatever physical
    ``ts`` layout the fixture carries: TIMESTAMP(NANOS) parquet (which
    Spark's reader only decodes as raw long ns via the nanosAsLong
    escape hatch) or plain timestamp[us]. The dtype dispatch lives in
    parq_tools_spark.streaming.events.ts_micros_expr, shared with the
    streaming reader so batch and stream cannot diverge."""
    from parq_tools_spark.streaming.events import ts_micros_expr

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn("ts_micros", ts_micros_expr(dict(ev.dtypes)["ts"]))


# =====================================================================
# Parity queries (SURVEY §2)
# =====================================================================
def q_filter_dsl(spark, sf_dir):
    """P2/P3/P6: pandas-like DSL filter compiled to a pushed-down scan."""
    from parq_tools_spark.operators.filter import filter_dataframe

    li = _t(spark, sf_dir, "lineitem")
    return filter_dataframe(
        li,
        "l_quantity > 30.0 and l_discount <= 0.05 and l_returnflag == 'R'",
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_discount"],
    )


def q_filter_in_list(spark, sf_dir):
    """P2 in-list membership."""
    from parq_tools_spark.operators.filter import filter_dataframe

    orders = _t(spark, sf_dir, "orders")
    return filter_dataframe(
        orders,
        "o_orderpriority in ['1-URGENT', '2-HIGH'] and o_totalprice > 150000.0",
        columns=["o_orderkey", "o_custkey", "o_orderpriority"],
    )


def q_concat_tall(spark, sf_dir):
    """U1: union-by-name of per-source filtered reads (filter pushed per branch)."""
    from parq_tools_spark.operators.concat import concat_tall

    path = os.path.join(sf_dir, "orders.parquet")
    out = concat_tall(spark, [path, path], filter_query="o_totalprice > 250000.0")
    return out.select("o_orderkey", "o_custkey", "o_totalprice")


def q_concat_tall_schema_evolution(spark, sf_dir):
    """U1 with schema evolution: missing columns null-padded + type-promoted."""
    from parq_tools_spark.operators.concat import _conform, unify_schemas

    orders = _t(spark, sf_dir, "orders")
    a = orders.select("o_orderkey", "o_totalprice")
    b = orders.select("o_orderkey", "o_orderstatus")
    unified = unify_schemas([a.schema, b.schema])
    return _conform(a, unified).unionByName(_conform(b, unified))


def q_concat_wide(spark, sf_dir):
    """J1: wide concat = equi-join of column-subsets on the index column."""
    from parq_tools_spark.operators.concat import concat_with_dataframe

    cust = _t(spark, sf_dir, "customer")
    left = cust.select("c_custkey", "c_name", "c_acctbal")
    right = cust.select("c_custkey", "c_nationkey", "c_mktsegment")
    return left.join(right, on="c_custkey", how="inner")


def q_concat_with_dataframe(spark, sf_dir):
    """J2: broadcast left join of a small dimension onto a source."""
    from parq_tools_spark.operators.concat import concat_with_dataframe

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    out = concat_with_dataframe(cust, nation, ["c_nationkey"])
    return out.select("c_custkey", "c_name", "c_acctbal", "n_name")


def q_sort_multi(spark, sf_dir):
    """W1: global multi-column external sort."""
    from parq_tools_spark.operators.index_ops import sort_dataframe

    li = _t(spark, sf_dir, "lineitem")
    return sort_dataframe(
        li.select("l_orderkey", "l_linenumber", "l_quantity"),
        ["l_quantity", "l_orderkey"],
        ascending=[False, True],
    )


def q_reindex(spark, sf_dir):
    """J4: left-join a table onto a new index (null-padded misses)."""
    from parq_tools_spark.operators.index_ops import reindex_dataframe

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    new_index = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    return reindex_dataframe(cust, new_index, ["c_custkey"])


def q_dedupe_keep_first(spark, sf_dir):
    """A4: keep-first dedup with an explicit order (min linenumber per order)."""
    from parq_tools_spark.operators.index_ops import dedupe_keep_first

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    # order by every projected column: (orderkey, linenumber) is not
    # unique in the synthetic data, but rows tied on the full projection
    # are interchangeable, so the output is deterministic
    return dedupe_keep_first(
        li, ["l_orderkey"], order_columns=["l_linenumber", "l_quantity"]
    )


def q_dedupe_exact(spark, sf_dir):
    """A4/dropDuplicates: distinct combinations."""
    from parq_tools_spark.operators.index_ops import dedupe_exact

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    return dedupe_exact(li)


def q_profile(spark, sf_dir):
    """A1/A2: one-pass column profile (exact decimal mean/std)."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    n = F.count(F.lit(1))
    s = F.sum(q.cast("decimal(27,2)"))
    ssq = F.sum((q * q).cast("decimal(27,4)"))
    return li.agg(
        n.alias("n"),
        F.count(q).alias("n_present"),
        F.countDistinct(q).alias("n_distinct"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
        (s.cast("double") / n).alias("mean_qty"),
        F.sqrt(
            (ssq.cast("double") - s.cast("double") * s.cast("double") / n)
            / (n - F.lit(1))
        ).alias("std_qty"),
    )


def q_rename(spark, sf_dir):
    """F6: plan-level column rename."""
    from parq_tools_spark.operators.schema_tools import rename_columns

    return rename_columns(
        _t(spark, sf_dir, "region"),
        {"r_regionkey": "region_key", "r_name": "region_name"},
    )


def q_calculated_column(spark, sf_dir):
    """UD1/F5: expression-string calculated column (Catalyst fast path)."""
    from parq_tools_spark.functions.calculated_columns import (
        CalculatedColumn,
        with_calculated_columns,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    out = with_calculated_columns(
        li,
        [
            CalculatedColumn(
                "revenue",
                # portable round-half-up (see _pround)
                expr_sql=(
                    "floor(l_extendedprice * (1 - l_discount) * 100.0D + 0.5D)"
                    " / 100.0D"
                ),
            )
        ],
    )
    return out.select("l_orderkey", "l_linenumber", "revenue")


def q_blockmodel(spark, sf_dir):
    """S11: distributed demo block-model generator (pure arithmetic)."""
    from parq_tools_spark.sources.demo_data import create_demo_blockmodel

    return create_demo_blockmodel(spark, shape=(10, 10, 10))


# =====================================================================
# Analytics (TPC-H-style + events)
# =====================================================================
def q_tpch_q1(spark, sf_dir):
    """Pricing summary: the flagship aggregation (decimal-exact sums)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dec_sum(disc_price, 6).alias("sum_disc_price"),
            _dec_sum(charge, 8).alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast("decimal(27,2)")).cast("double") / n).alias(
                "avg_qty"
            ),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(27,2)")).cast("double")
                / n
            ).alias("avg_price"),
            (F.sum(F.col("l_discount").cast("decimal(27,2)")).cast("double") / n).alias(
                "avg_disc"
            ),
            n.alias("count_order"),
        )
    )


def q_tpch_q3(spark, sf_dir):
    """Shipping-priority style 3-way join + grouped revenue."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(_dec_sum(revenue, 6).alias("revenue"))
    )


def q_tpch_q5(spark, sf_dir):
    """Local-supplier-volume style snowflake join, revenue by nation."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dec_sum(revenue, 6).alias("revenue"))
    )


def q_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (batch form of the streaming window)."""
    ev = _events(spark, sf_dir)
    ts = F.timestamp_micros(F.col("ts_micros"))
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", ts), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), 6).alias("sum_value"),
        )
    )


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization via lag + running sum (30-min gap)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_micros", "event_id")
    # fractional-second epoch over exact micros, matching DuckDB epoch(ts)
    epoch = F.col("ts_micros").cast("double") / F.lit(1e6)
    new_sess = F.when(
        epoch - F.lag(epoch).over(w) > 1800, F.lit(1)
    ).otherwise(F.lit(0))
    sessions = ev.withColumn("_new", new_sess)
    return sessions.groupBy("user_id").agg(
        (F.sum("_new") + F.lit(1)).alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_events_json(spark, sf_dir):
    """JSON property extraction + grouped average."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        )
    )


# =====================================================================
# LLM-pipeline queries (beyond-reference)
# =====================================================================
def q_text_stats(spark, sf_dir):
    """Per-document text statistics (map-only, built-in functions)."""
    from parq_tools_spark.operators.text import with_text_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = with_text_stats(docs)
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _pround(F.col("avg_token_len")).alias("avg_token_len"),
        _pround(F.col("punct_ratio")).alias("punct_ratio"),
        _pround(F.col("digit_ratio")).alias("digit_ratio"),
        _pround(F.col("stopword_ratio")).alias("stopword_ratio"),
    )


def q_quality_score(spark, sf_dir):
    """Heuristic quality scoring."""
    from parq_tools_spark.operators.text import with_quality_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_quality_score(docs).select(
        "doc_id", _pround(F.col("quality_score")).alias("quality_score")
    )


def q_lang_id(spark, sf_dir):
    """Marker-word language identification."""
    from parq_tools_spark.operators.text import with_language_id

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_language_id(docs).select("doc_id", "lang_pred")


def q_fingerprint(spark, sf_dir):
    """md5 content fingerprint (engine-portable by construction)."""
    from parq_tools_spark.operators.text import with_fingerprint

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_fingerprint(docs).select("doc_id", "fingerprint")


def q_token_count_bpe(spark, sf_dir):
    """Whitespace vs BPE-ish pre-token counts per document (LLM token
    budget proxy; map-only, zero shuffle)."""
    from parq_tools_spark.operators.text import bpe_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens_ws"),
        bpe_token_count("text").alias("n_tokens_bpe"),
    )


def q_token_count_by_lang(spark, sf_dir):
    """Corpus token accounting grouped by language."""
    from parq_tools_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
    )


def q_dedupe_text_exact(spark, sf_dir):
    """Exact text dedup: min doc_id survives per normalized fingerprint."""
    from parq_tools_spark.operators.dedup import dedupe_exact_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return dedupe_exact_text(docs).select("doc_id", "lang")


def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-duplicate pairs (>= 0.5)."""
    from parq_tools_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # max_df=None: bit-exact Jaccard so the DuckDB oracle matches
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_df=None)
    return pairs.select("id1", "id2", _pround(F.col("jaccard")).alias("jaccard"))


def q_dedupe_pairwise(spark, sf_dir):
    """Near-dedup, pairwise-dominated semantics: drop any doc that is the
    larger id of a >= 0.5 Jaccard pair (SQL-oracle-able variant of the
    connected-components dedup). Runs with max_df=None (hot-shingle
    pruning OFF) so the oracle is bit-exact — and therefore bounds the
    corpus to even doc_ids: unpruned Jaccard is deliberately quadratic
    in hot shingles, and this is a correctness check, never the
    production path (that's near_dedupe_cc / minhash with pruning)."""
    from parq_tools_spark.operators.dedup import ngram_jaccard_pairs

    bounded = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    docs = bounded.select("doc_id", "lang")
    pairs = ngram_jaccard_pairs(bounded, k=3, threshold=0.5, max_df=None)
    losers = pairs.select(F.col("id2").alias("doc_id")).distinct()
    return docs.join(losers, "doc_id", "left_anti")


def q_embedding_sim_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (brute-force exact, >= 0.35 so
    the oracle compares hundreds of real values at sf0.01). Default path
    is the block-grid decomposition — no driver-side corpus collect at
    any N (the broadcast fast path is opt-in via max_driver_rows)."""
    from parq_tools_spark.operators.similarity import brute_force_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return brute_force_pairs(emb, threshold=0.35)


def q_embedding_sim_pairs_blocked(spark, sf_dir):
    """Same exact all-pairs cosine as embedding_sim_pairs, but via the
    block-matrix grid (no driver-side corpus broadcast) — the 100 TB
    path, value-checked against the same SQL oracle."""
    from parq_tools_spark.operators.similarity import brute_force_pairs_blocked

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return brute_force_pairs_blocked(emb, threshold=0.35, n_blocks=4)


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k (k=5) for query vectors vec_id < 3; ranking
    ties broken on rounded similarity then id, identically in SQL."""
    from parq_tools_spark.operators.similarity import cosine_similarity_col

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qvec")
    )
    sims = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _pround(cosine_similarity_col("embedding", "_qvec")).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def q_multimodal_frames(spark, sf_dir):
    """Multimodal plumbing: documents as fake video blobs -> frame rows.

    duration_ms is derived deterministically from n_chars; the frame
    fan-out (mapInPandas) is the real distributed shape. Frame blob
    content is stub-decoded, so only (id, idx, ts) are exposed for the
    oracle."""
    from parq_tools_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("blob"),
        F.struct(
            F.lit("video").alias("modality"),
            F.lit("fake").alias("format"),
            F.length("text").cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("n_chars") % 5000) * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    frames = sample_frames(media, every_ms=1000)
    return frames.select("media_id", "frame_idx", "ts_ms")


def q_multimodal_features(spark, sf_dir):
    """Multimodal feature extraction plumbing: byte accounting is exact
    and oracle-checkable; the 8-dim stub feature vector is exercised but
    exposed only as its dimensionality."""
    from parq_tools_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("blob")
    )
    feats = extract_features(media)
    return feats.select(
        "media_id", "n_bytes", F.size("features").alias("feature_dim")
    )


def q_multimodal_resize(spark, sf_dir):
    """Resize plumbing with the deterministic md5 stand-in: output blob
    hex is SQL-recomputable, so the batch pipeline is oracle-checked."""
    from parq_tools_spark.operators.multimodal import resize_media

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("blob")
    )
    out = resize_media(media, width=224, height=224)
    return out.select(
        "media_id",
        F.decode("blob", "utf-8").alias("blob_hex"),
        "width",
        "height",
        "n_bytes",
    )


def q_video_pipeline(spark, sf_dir):
    """REAL video decode path end-to-end, value-oracled: build one
    mono-Y4M container per document (frames are constant-valued, so
    every later stage is exactly SQL-recomputable), probe the REAL
    container header for duration, sample frames at 1s, decode each
    sampled PNG frame back to its pixel value.

    Per doc: n_frames = doc_id % 6 + 2 at 2 fps (500 ms/frame), frame
    k's pixels all equal (doc_id*7 + k*13) % 256; the frame covering
    ts = i*1000 is k = min(2*i, n_frames-1). Every byte travels the
    real encode -> Y4M -> header probe -> sample -> PNG -> decode
    pipeline inside executors."""
    import pandas as pd

    from parq_tools_spark.operators.multimodal import (
        attach_media_metadata,
        sample_frames,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )

    def build(batches):
        import numpy as np

        from parq_tools_spark.operators.video import encode_y4m

        for pdf in batches:
            blobs = []
            for mid in pdf["media_id"]:
                nf = int(mid) % 6 + 2
                frames = [
                    np.full((8, 8), (int(mid) * 7 + k * 13) % 256, dtype=np.uint8)
                    for k in range(nf)
                ]
                blobs.append(encode_y4m(frames, fps=(2, 1), colorspace="mono"))
            yield pd.DataFrame({"media_id": pdf["media_id"], "blob": blobs})

    media_raw = docs.mapInPandas(build, schema="media_id long, blob binary")
    media = attach_media_metadata(media_raw, probe=True)
    frames = sample_frames(media, every_ms=1000)

    def px(batches):
        from parq_tools_spark.operators.codecs import decode_png

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "ts_ms": pdf["ts_ms"],
                    "px": [
                        int(decode_png(bytes(b))[0, 0, 0])
                        for b in pdf["frame_blob"]
                    ],
                }
            )

    return frames.mapInPandas(
        px, schema="media_id long, frame_idx int, ts_ms long, px int"
    )


def q_tpch_q6(spark, sf_dir):
    """Forecast-revenue-change: the classic filter + global sum."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_tpch_q7(spark, sf_dir):
    """Volume-shipping: two-nation trade flow by year (snowflake join,
    both nation dims broadcast, one aggregation exchange)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") <= "1997-12-31")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_3")
                & (F.col("cust_nation") == "NATION_7")
            )
            | (
                (F.col("supp_nation") == "NATION_7")
                & (F.col("cust_nation") == "NATION_3")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_dec_sum(revenue, 6).alias("revenue"))
    )


def q_tpch_q8(spark, sf_dir):
    """Market-share: NATION_5's share of ECONOMY-part volume sold into
    ASIA, by order year (conditional aggregation over a ratio)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation_c = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    nation_s = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    vol_dec = F.col("_volume").cast("decimal(27,6)")
    nation_vol = F.when(F.col("supp_nation") == "NATION_5", vol_dec).otherwise(
        F.lit(0).cast("decimal(27,6)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation_c), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region), F.col("c_rk") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation_s), F.col("s_nationkey") == F.col("s_nk"))
        .withColumn("_volume", volume)
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(nation_vol).cast("double")
                / F.sum(vol_dec).cast("double")
            ).alias("_share")
        )
        .select("o_year", _pround(F.col("_share")).alias("mkt_share"))
    )


def q_tpch_q10(spark, sf_dir):
    """Returned-item revenue per customer (one quarter, R-flag only)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dec_sum(revenue, 6).alias("revenue"))
    )


def q_tpch_q13(spark, sf_dir):
    """Customer order-count distribution (outer join + double groupBy)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q_tpch_q14(spark, sf_dir):
    """Promo-revenue share over one month (conditional agg ratio)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    part = _t(spark, sf_dir, "part")
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(27,6)"
    )
    promo = F.when(F.col("p_type") == "PROMO", volume).otherwise(
        F.lit(0).cast("decimal(27,6)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(volume).cast("double")
            ).alias("_pr")
        )
        .select(_pround(F.col("_pr")).alias("promo_revenue_pct"))
    )


def q_tpch_q15(spark, sf_dir):
    """Top supplier(s) by quarterly revenue: scalar max subquery over a
    reused grouped intermediate (cached once, consumed twice)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
            ).alias("total_revenue")
        )
        .localCheckpoint(eager=False)
    )
    top = revenue.agg(F.max("total_revenue").alias("_max"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("_max"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_tpch_q17(spark, sf_dir):
    """Small-quantity-order revenue: correlated avg-quantity subquery,
    expressed as a per-part aggregate joined back (no correlated
    re-scan; the tiny per-part avg side is broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#13") & (F.col("p_type") == "SMALL")
    )
    matched = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    avg_qty = (
        matched.groupBy(F.col("p_partkey").alias("_pk"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("_limit"))
    )
    return (
        matched.join(F.broadcast(avg_qty), F.col("p_partkey") == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_limit"))
        .agg(
            (_dec_sum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly")
        )
    )


def q_tpch_q18(spark, sf_dir):
    """Large-volume orders: HAVING on a grouped sum, joined back to
    customer/orders detail."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("_ok"))
        .agg(_dec_sum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == F.col("_ok"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


def q_tpch_q19(spark, sf_dir):
    """Disjunctive brand/quantity/size predicates (OR-of-ANDs pushed
    into one broadcast hash join)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#13")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return joined.filter(cond).agg(
        _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_tpch_q22(spark, sf_dir):
    """Global-sales-opportunity shape: rich customers with no URGENT
    orders — scalar avg subquery + broadcast anti-join, grouped by a
    derived country code."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_ab")
    )
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_ab"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 10).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dec_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


def q_tpch_q2(spark, sf_dir):
    """Q2 shape adapted to the slimmer fixture (no partsupp table):
    min-per-group with join-back — per STANDARD/size-9 part, the
    supplier offering the lowest unit price across its lineitems
    (rounded-price then suppkey tie-break, identical in SQL)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    supp = _t(spark, sf_dir, "supplier")
    priced = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_partkey",
        "p_name",
        "l_suppkey",
        _pround(F.col("l_extendedprice") / F.col("l_quantity")).alias(
            "unit_price"
        ),
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("unit_price").asc(), F.col("l_suppkey").asc()
    )
    return (
        priced.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("p_partkey", "p_name", "s_name", "s_acctbal", "unit_price")
    )


def q_tpch_q4(spark, sf_dir):
    """Q4 shape (order-priority checking): correlated EXISTS as a
    LEFT SEMI join with a non-equi term — orders in 1996Q1 having at
    least one lineitem shipped >30 days after the order date (the
    fixture has no commit/receipt dates)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    slow = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 30 DAYS")),
        "left_semi",
    )
    return slow.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


def q_tpch_q9(spark, sf_dir):
    """Q9 shape (product-type profit): 5-way snowflake join + profit
    aggregation by supplier nation and order year. Without partsupp,
    supply cost is proxied as 0.5 * p_retailprice per unit (documented
    adaptation); name filter keeps the LIKE-driven part pruning."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_dec_sum(profit, 6).alias("sum_profit"))
    )


def q_tpch_q11(spark, sf_dir):
    """Q11 shape (important stock): grouped revenue with a HAVING
    against a global scalar fraction (broadcast single-row cross join,
    not a collected constant). Stock value is proxied by NATION_3
    suppliers' lineitem revenue (no partsupp in the fixture); both
    sides of the > come from exact decimal sums so the boundary cannot
    flip between engines."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    src = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey).join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    )
    per_part = src.groupBy("l_partkey").agg(
        _dec_sum(revenue, 6).alias("value")
    )
    # threshold = 2x the mean per-part value: selective at every SF
    # (a fixed fraction of the total would drift with part count)
    total = src.agg(
        (_dec_sum(revenue, 6) * F.lit(2.0) / F.countDistinct("l_partkey")).alias(
            "_thr"
        )
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("_thr"))
        .select("l_partkey", "value")
    )


def q_tpch_q12(spark, sf_dir):
    """Q12 shape (shipping-mode priority split): CASE bucketing + dual
    conditional counts. The fixture has no l_shipmode, so the bucket is
    derived from shipping latency (days between order and ship)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    speed = (
        F.when(lat <= 30, "FAST").when(lat <= 90, "MEDIUM").otherwise("SLOW")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(speed.alias("ship_speed"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


def q_tpch_q16(spark, sf_dir):
    """Q16 shape (supplier relationship count): NOT IN anti-join
    against a subquery (suppliers with negative balance) + count
    distinct per (brand, type, size) over an IN-list size filter.
    partsupp is proxied by the observed lineitem (part, supplier)
    pairs."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (~F.col("p_type").isin("PROMO", "ECONOMY"))
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp),
            li.l_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q20(spark, sf_dir):
    """Q20 shape (potential part promotion): IN-subquery over a grouped
    HAVING whose threshold is itself a scalar subquery (0.012 of the
    global PROMO quantity in 1996) — suppliers who shipped an
    above-average share. Exact decimal sums on both sides of the >."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    promo = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    shipped = li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey)
    per_supp = shipped.groupBy("l_suppkey").agg(
        _dec_sum(F.col("l_quantity")).alias("qty")
    )
    thr = shipped.agg((_dec_sum(F.col("l_quantity")) * F.lit(0.012)).alias("_thr"))
    big = (
        per_supp.crossJoin(F.broadcast(thr))
        .filter(F.col("qty") > F.col("_thr"))
        .select("l_suppkey")
    )
    return (
        supp.join(big, supp.s_suppkey == big.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


def q_tpch_q21(spark, sf_dir):
    """Q21 shape (suppliers who kept orders waiting): the
    EXISTS / NOT EXISTS pair expressed as per-order aggregates — the
    scalable plan (two grouped passes, no correlated rescans): a
    supplier is counted for each finished multi-supplier order where it
    was late (shipped >60 days after order) and no other supplier was.
    Lateness replaces the missing commit/receipt dates."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS"), 1
    ).otherwise(0)
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    per_o = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    return (
        per_os.join(per_o, "l_orderkey")
        .filter(
            (F.col("is_late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q_window_analytics(spark, sf_dir):
    """Analytic-window family: rank, dense_rank, lag, lead, ntile over
    per-customer order history (one window shuffle; deterministic via
    an orderkey tiebreak)."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_grouping_sets_revenue(spark, sf_dir):
    """GROUPING SETS: exactly the named aggregation levels (by flag, by
    status, grand total) in one expand + single agg exchange —
    completes the cube/rollup family."""
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            _dec_sum(revenue, 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_cube_revenue(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all 4 grouping combinations
    in one pass (expand + single agg exchange)."""
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(revenue, 6).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_salted_join(spark, sf_dir):
    """Skew-safe salted equi-join; result must be identical to the
    plain join (the oracle IS the plain join)."""
    from parq_tools_spark.operators.joins import salted_join

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # join orders (fact, possibly skewed by customer) to customer dim
    out = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        cust,
        on=["c_custkey"],
        how="inner",
        salt=8,
    )
    return out.select(
        "o_orderkey", "c_custkey", "c_mktsegment", "o_totalprice"
    )


def q_window_running(spark, sf_dir):
    """Analytic window functions: rank + running sum per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    running = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
        .over(running)
        .cast("double")
        .alias("running_total"),
    )


def q_pivot_events(spark, sf_dir):
    """Pivot: per-user event-type counts as columns."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .na.fill(0)
        .select(
            "user_id",
            F.col("click").alias("n_click"),
            F.col("view").alias("n_view"),
            F.col("purchase").alias("n_purchase"),
            F.col("signup").alias("n_signup"),
            F.col("error").alias("n_error"),
        )
    )


def q_rollup_revenue(spark, sf_dir):
    """Rollup (grouping sets): revenue by (returnflag, linestatus) with
    subtotals and a grand total; NULL grouping keys rendered as 'ALL'."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_extendedprice")).alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price",
            "n_rows",
        )
    )


def q_asof_join(spark, sf_dir):
    """As-of join (union + ordered-window carry): each event picks up the
    user's latest order at-or-before the event time. DuckDB's native
    ASOF JOIN is the oracle; both sides pre-dedupe right-time ties the
    same way, so the match is deterministic."""
    from parq_tools_spark.operators.joins import asof_join

    ev = _events(spark, sf_dir).select(
        "event_id", F.col("user_id").alias("k"),
        (F.col("ts_micros") / F.lit(1e6)).alias("t"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").cast("timestamp").cast("double").alias("t"),
        "o_orderkey",
    )
    out = asof_join(ev, orders, ["k"], "t", "t")
    return out.select(
        "event_id", F.col("k").alias("user_id"), "o_orderkey"
    )


def q_range_join(spark, sf_dir):
    """Binned interval self-join: event pairs of the same user within
    60 seconds of each other (no cross product — bucket equi-join)."""
    from parq_tools_spark.operators.joins import range_join

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", (F.col("ts_micros") / F.lit(1e6)).alias("t")
    )
    a = ev.select(
        F.col("event_id").alias("id1"), "user_id", F.col("t").alias("t1")
    )
    b = ev.select(
        F.col("event_id").alias("id2"), "user_id", F.col("t").alias("t2")
    )
    out = range_join(a, b, "t1", "t2", window=60, on=["user_id"])
    return (
        out.filter(F.col("id1") < F.col("id2"))
        .select("user_id", "id1", "id2")
    )


def q_part_stats(spark, sf_dir):
    """Dimension-table aggregation over part (brand-level pricing)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_type").alias("n_types"),
            _dec_sum(F.col("p_retailprice")).alias("sum_price"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
        )
    )


def q_ngram_freq(spark, sf_dir):
    """Top-ngram frequency table: explode 2-gram shingles, count, keep
    n-grams occurring >= 20 times (integer counts: no float risk)."""

    from parq_tools_spark.operators.dedup import exploded_shingles

    docs = _t(spark, sf_dir, "documents")
    grams = exploded_shingles(docs, "doc_id", "text", 2).select(
        F.col("shingle").alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 20)
    )


# ------------------------------------------------- rows-only (non-SQL) ops
def q_stratified_sample(spark, sf_dir):
    """Per-language deterministic sample (leakage-safe, RNG-free)."""
    from parq_tools_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs, "lang", {"en": 0.5, "de": 0.25, "fr": 1.0}, key="doc_id"
    )


def q_incremental_revenue(spark, sf_dir):
    """Incremental rollup maintenance == flat GROUP BY: lineitem
    arrives in two file batches (even order keys first); each
    `incremental_aggregate` fold reads ONLY the new files (manifest
    diff) and merges mergeable partials into the state, which the
    oracle checks against a one-shot aggregation of the whole table.
    The result is localCheckpoint'ed so the temp input/state dirs can
    be deleted before the driver collects."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.incremental_agg import (
        finalize_aggregate,
        incremental_aggregate,
    )

    work = tempfile.mkdtemp(prefix="increv_")
    inp = os.path.join(work, "in")
    state = os.path.join(work, "state")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        F.expr("l_extendedprice * (1 - l_discount)").alias("revenue"),
    )
    keys = ["l_returnflag", "l_linestatus"]
    measures = [
        ("sum", "l_quantity", "decimal(27,2)"),
        ("count", "l_quantity"),
        ("sum", "revenue", "decimal(27,6)"),
    ]
    li.filter(F.col("l_orderkey") % 2 == 0).write.parquet(
        os.path.join(inp, "b0")
    )
    incremental_aggregate(spark, inp, state, keys, measures)
    li.filter(F.col("l_orderkey") % 2 == 1).write.parquet(
        os.path.join(inp, "b1")
    )
    st = incremental_aggregate(spark, inp, state, keys, measures)
    out = (
        finalize_aggregate(st, averages=["l_quantity"])
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_rows",
            F.col("l_quantity_sum").cast("double").alias("sum_qty"),
            F.col("revenue_sum").cast("double").alias("sum_revenue"),
            F.col("l_quantity_avg").alias("avg_qty"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_incremental_retention(spark, sf_dir):
    """Rollup retention: a month-keyed state folded over time-ordered
    batches with a ``retain`` horizon prunes expired groups at fold
    time — state stays O(live groups) instead of growing with every
    time bucket ever seen. Under the watermark contract (batches
    arrive in month order, so pruned months get no late rows) the
    final state provably equals a flat GROUP BY over the retained
    months, which is what the oracle checks."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.incremental_agg import (
        incremental_aggregate,
    )

    work = tempfile.mkdtemp(prefix="incret_")
    inp = os.path.join(work, "in")
    state = os.path.join(work, "state")
    li = _t(spark, sf_dir, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        "l_quantity",
    )
    horizon = "ship_month >= '1995-07'"
    cuts = ["1994-01", "1996-01"]
    batches = [
        li.filter(F.col("ship_month") < cuts[0]),
        li.filter(
            (F.col("ship_month") >= cuts[0])
            & (F.col("ship_month") < cuts[1])
        ),
        li.filter(F.col("ship_month") >= cuts[1]),
    ]
    for i, b in enumerate(batches):
        b.write.parquet(os.path.join(inp, f"b{i}"))
        st = incremental_aggregate(
            spark,
            inp,
            state,
            ["ship_month"],
            [("sum", "l_quantity", "decimal(27,2)")],
            retain=horizon,
        )
    out = st.select(
        "ship_month",
        "n_rows",
        F.col("l_quantity_sum").cast("double").alias("sum_qty"),
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_search(spark, sf_dir):
    """BM25 keyword top-k over the documents table: postings filtered
    to the query terms BEFORE the one shuffle, broadcast idf map,
    TakeOrderedAndProject top-k (never a global sort). The oracle
    recomputes the identical Lucene-idf formula in SQL."""
    from parq_tools_spark.operators.search import bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, "stream merge window", k=10)


def q_bm25_batch(spark, sf_dir):
    """Many-queries BM25: one corpus pass + a broadcast
    (query, term, idf) fan-out serves all three queries; per-query
    top-5 via a query-partitioned rank window."""
    from parq_tools_spark.operators.search import bm25_topk_batch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qdf = spark.createDataFrame(
        [(1, "stream merge"), (2, "customer value table"), (3, "query window")],
        "query_id long, query string",
    )
    return bm25_topk_batch(docs, qdf, k=5)


def q_weighted_sample(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis
    exponential race, md5-deterministic): 50 documents with inclusion
    probability proportional to n_chars. Map-only score projection +
    TakeOrderedAndProject top-n; the oracle recomputes the identical
    formula in SQL."""
    from parq_tools_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", 50)


def q_mixture_sample(spark, sf_dir):
    """Corpus mixing: downsample sources to target proportions (one
    tiny count agg -> map-only hash filter; no data shuffle)."""
    from parq_tools_spark.operators.sampling import mixture_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_sample(
        docs, "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}, key="doc_id"
    )


def q_chunk_documents(spark, sf_dir):
    """Token-window chunking with overlap (split/sequence/explode/
    slice — all codegen'd, map-only)."""
    from parq_tools_spark.operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=32, overlap=8)


def q_group_overlap(spark, sf_dir):
    """Distinct-supplier overlap between return flags via theta
    sketches (exact below the 4096-hash retention, which covers the
    test scales — the oracle recomputes the set algebra exactly)."""
    from parq_tools_spark.operators.compare import group_overlap_report

    li = _t(spark, sf_dir, "lineitem")
    out = group_overlap_report(li, "l_returnflag", "l_suppkey")
    return out.select(
        "group_a",
        "group_b",
        "n_common_est",
        "n_union_est",
        _pround(F.col("jaccard_est")).alias("jaccard_est"),
    )


def q_chunk_sentences(spark, sf_dir):
    """Sentence-aware chunking (sentences intact, ~24-token tiling).
    The fixture text has no sentence terminators, so the query first
    derives them deterministically (a period after every 7-token run
    — non-overlapping left-to-right regex, identical in Java regex
    and RE2), making the multi-chunk tiling path real at every
    scale."""
    from parq_tools_spark.operators.text import chunk_by_sentences

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(
            F.col("text"), r"(\S+ \S+ \S+ \S+ \S+ \S+ \S+) ", "$1. "
        ),
    )
    return chunk_by_sentences(docs, max_tokens=24)


def q_bm25_from_index(spark, sf_dir):
    """BM25 served from the PERSISTED index (built on the even-id
    docs, extended with the odd-id batch — the incremental lifecycle)
    must equal a from-scratch corpus scoring exactly; index_version
    stamps the statistics snapshot (build=1, add=2) per the staleness
    contract."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_add,
        bm25_index_build,
        bm25_index_topk,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="bmidx_")
    path = os.path.join(work, "idx")
    bm25_index_build(docs.filter(F.col("doc_id") % 2 == 0), path)
    bm25_index_add(docs.filter(F.col("doc_id") % 2 == 1), path)
    out = bm25_index_topk(
        spark, path, "stream merge window", k=10
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_from_index_batch(spark, sf_dir):
    """The batch serving path from the persisted index: one bucketed
    postings read for the whole query set."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk_batch,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    qdf = spark.createDataFrame(
        [(1, "merge stream"), (2, "customer table value"), (3, "query window")],
        "query_id long, query string",
    )
    work = tempfile.mkdtemp(prefix="bmidxb_")
    path = os.path.join(work, "idx")
    bm25_index_build(docs, path)
    out = bm25_index_topk_batch(spark, path, qdf, k=5).localCheckpoint(
        eager=True
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_minhash_index_delete(spark, sf_dir):
    """Version-scoped tombstones on the persisted MinHash index:
    after deleting every doc_id%4==0, querying a probe batch must
    produce EXACTLY the pairs a fresh index over the surviving docs
    produces (same signatures, same bands) — deleted docs' band rows
    are invisible, so no new doc can be dropped as a duplicate of
    removed content. Returns the symmetric difference of the two
    pair sets; expected empty."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.dedup import (
        minhash_index_delete,
        minhash_index_query,
        minhash_index_write,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    probe = docs.filter(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    work = tempfile.mkdtemp(prefix="mhidxd_")
    p1, p2 = os.path.join(work, "full"), os.path.join(work, "surv")
    minhash_index_write(docs, p1, num_hashes=64, bands=16)
    minhash_index_delete(
        spark, p1, docs.filter(F.col("doc_id") % 4 == 0).select("doc_id")
    )
    minhash_index_write(
        docs.filter(F.col("doc_id") % 4 != 0), p2, num_hashes=64, bands=16
    )
    a = (
        minhash_index_query(spark, p1, probe, threshold=0.5)
        .select("id_indexed", "id_new")
        .localCheckpoint(eager=True)
    )
    b = (
        minhash_index_query(spark, p2, probe, threshold=0.5)
        .select("id_indexed", "id_new")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    only_a = a.join(b, ["id_indexed", "id_new"], "left_anti").withColumn(
        "side", F.lit("deleted_index_only")
    )
    only_b = b.join(a, ["id_indexed", "id_new"], "left_anti").withColumn(
        "side", F.lit("fresh_index_only")
    )
    return only_a.unionByName(only_b)


def q_bm25_index_phrase(spark, sf_dir):
    """Phrase retrieval SERVED FROM the persisted index's positional
    postings (store_positions=True, exercised across both the build
    and the add write path): offset-adjacency checked as one JVM
    array expression over the stored position arrays — no corpus
    access, no tokenization. Values equal the scan path's
    bm25_topk(phrase=) exactly."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_add,
        bm25_index_build,
        bm25_index_topk,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="bmidxp_")
    path = os.path.join(work, "idx")
    bm25_index_build(
        docs.filter(F.col("doc_id") % 2 == 0), path, store_positions=True
    )
    bm25_index_add(docs.filter(F.col("doc_id") % 2 == 1), path)
    out = bm25_index_topk(
        spark, path, "window join", k=10, phrase="window join"
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_index_delete(spark, sf_dir):
    """The CDC-shaped index maintenance path: build, tombstone-delete
    every doc_id divisible by 7, query — must equal a from-scratch
    BM25 over the surviving corpus exactly (the delete decrements
    n_docs/avgdl/df from the deleted docs' own postings, so the
    DuckDB oracle just filters the corpus)."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_delete,
        bm25_index_topk,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="bmidxd_")
    path = os.path.join(work, "idx")
    bm25_index_build(docs, path)
    bm25_index_delete(
        spark, path, docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    )
    out = bm25_index_topk(
        spark, path, "stream merge window", k=10
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_index_time_travel(spark, sf_dir):
    """Index time-travel: build on the even ids with keep_versions=3,
    add the odds (v2), tombstone-delete doc_id%10==0 (v3) — then the
    SAME index serves all three states via version=: each retained
    manifest replays its exact statistics, segment list and tombstone
    scope, so every historical top-k equals a from-scratch scoring of
    that version's corpus. Output = the three top-5s unioned,
    distinguished by the index_version stamp."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_add,
        bm25_index_build,
        bm25_index_delete,
        bm25_index_topk,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="bmidxtt_")
    path = os.path.join(work, "idx")
    bm25_index_build(
        docs.filter(F.col("doc_id") % 2 == 0), path, keep_versions=3
    )
    bm25_index_add(docs.filter(F.col("doc_id") % 2 == 1), path)
    bm25_index_delete(
        spark, path, docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    )
    q = "stream merge window"
    out = (
        bm25_index_topk(spark, path, q, k=5, version=1)
        .unionByName(bm25_index_topk(spark, path, q, k=5, version=2))
        .unionByName(bm25_index_topk(spark, path, q, k=5))
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_index_stream(spark, sf_dir):
    """Streaming index maintenance end-to-end: a 3-micro-batch CDC
    stream (insert evens, insert odds, then update %10==4 / delete
    %10==0) folds into the persisted BM25 index via foreachBatch +
    exactly-once markers; the final index must score exactly like a
    from-scratch scan over the CDC-resolved corpus."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import bm25_index_topk
    from parq_tools_spark.streaming.index_sink import (
        start_bm25_index_stream,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="bmstream_")
    src = os.path.join(work, "cdc")
    k = F.col("doc_id")
    b0 = docs.filter(k % 2 == 0).select(
        "doc_id", "text", F.lit("I").alias("op"), F.lit(0).alias("seq")
    )
    b1 = docs.filter(k % 2 == 1).select(
        "doc_id", "text", F.lit("I").alias("op"), F.lit(1).alias("seq")
    )
    b2 = docs.filter(k % 10 == 4).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" streamrefresh")).alias("text"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    ).unionByName(
        docs.filter(k % 10 == 0).select(
            "doc_id",
            F.lit(None).cast("string").alias("text"),
            F.lit("D").alias("op"),
            F.lit(2).alias("seq"),
        )
    )
    for i, b in enumerate([b0, b1, b2]):
        b.coalesce(1).write.parquet(os.path.join(src, f"f{i}"))
    index_path = os.path.join(work, "idx")
    stream = (
        spark.readStream.schema("doc_id long, text string, op string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = start_bm25_index_stream(
        stream, index_path, os.path.join(work, "ck"), seq_col="seq"
    )
    if not q.awaitTermination(300):
        # never read a half-fed index or rmtree a live query's source
        q.stop()
        raise TimeoutError("bm25 index stream did not drain in 300s")
    out = (
        bm25_index_topk(spark, index_path, "stream merge window", k=10)
        .drop("index_version")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_index_upsert(spark, sf_dir):
    """Version-scoped upsert: build the index over a corpus whose
    doc_id%5==0 rows carry WRONG text, then upsert the true rows —
    the tombstone hides only the old segments' postings while the
    re-added rows (newer segment) are immediately visible, no
    compaction in between, so the final index must score exactly as
    a from-scratch build over the true corpus. index_version stamps
    build=1, tombstone=2, append=3."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
        bm25_index_upsert,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("zzqq wrongtext filler "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    work = tempfile.mkdtemp(prefix="bmidxu_")
    path = os.path.join(work, "idx")
    bm25_index_build(mangled, path)
    bm25_index_upsert(docs.filter(F.col("doc_id") % 5 == 0), path)
    out = bm25_index_topk(
        spark, path, "stream merge window", k=10
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_ann_index_delete(spark, sf_dir):
    """Tombstone deletes on the persisted ANN index: build over the
    full corpus (the model freezes there), delete every vec_id%5==0,
    serve — the DuckDB oracle recomputes the full-corpus model and
    drops the deleted ids from the candidate set only (deletion never
    retrains). index_version stamps build=1, delete=2."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_delete,
        ann_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="annidxd_")
    path = os.path.join(work, "idx")
    ann_index_build(emb, path, n_cells=8, m=8, n_codes=16)
    ann_index_delete(
        spark,
        path,
        emb.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") >= 3))
        .select("vec_id"),
    )
    qs = emb.filter(F.col("vec_id") < 3)
    out = (
        ann_index_topk(spark, path, qs, k=5, nprobe=2)
        .select("query_id", "vec_id", "pq_score", "index_version")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_index_build(spark, sf_dir):
    """The index's vocabulary snapshot: per-term document frequency
    persisted at build time, value-checked against counting documents
    in SQL."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        _bm25_manifest,
        bm25_index_build,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="bmidxt_")
    path = os.path.join(work, "idx")
    bm25_index_build(docs, path)
    _, _, m = _bm25_manifest(spark, path)
    from parq_tools_spark.sources.parquet_io import read_parquet

    out = (
        read_parquet(spark, os.path.join(path, m["terms"]))
        .filter(
            F.col("term").isin("merge", "stream", "window", "customer", "data")
        )
        .select("term", "df")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_and_search(spark, sf_dir):
    """Conjunctive (AND) retrieval: only documents containing EVERY
    query term, still ranked by BM25 — a map-side predicate on the
    same zero-exchange scan as bm25_search."""
    from parq_tools_spark.operators.search import bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, "stream merge window", k=10, mode="all")


def q_bm25_phrase_search(spark, sf_dir):
    """Phrase-filtered retrieval: documents containing the contiguous
    token sequence, ranked by BM25 over the phrase's terms — the
    phrase test is an array expression inside the scan (no explode)."""
    from parq_tools_spark.operators.search import bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, "window join", k=10, phrase="window join")


def _query_vec(emb, vec_id: int):
    """One embedding row as the (tiny, driver-side) query vector —
    query acquisition, not data movement."""
    row = emb.filter(F.col("vec_id") == vec_id).first()
    return [float(x) for x in row["embedding"]]


def q_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid retrieval, Reciprocal Rank Fusion: BM25 top-50 over
    documents fused with cosine top-50 over embeddings (query vector =
    embedding of vec_id 0). Both legs are TakeOrderedAndProject top-N
    (no global sort, corpus never reshuffled); fusion is a full-outer
    join of 2x50 rows. The fused score is rank-arithmetic only
    (0.5/(60+r_text) + 0.5/(60+r_vec)), bit-reproducible in SQL."""
    from parq_tools_spark.operators.hybrid import hybrid_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return hybrid_topk(
        docs,
        "stream merge window",
        _query_vec(emb, 0),
        embeddings=emb,
        k=10,
        n_candidates=50,
    )


def q_hybrid_wsum_topk(spark, sf_dir):
    """Hybrid retrieval, weighted score fusion (CombSUM): each leg's
    scores min-max normalized over its own 50-candidate list, then
    0.5*bm25_norm + 0.5*cos_norm; docs missing from a leg contribute
    0 for it. Leg stats are two one-row aggregates broadcast back —
    never a window over the corpus."""
    from parq_tools_spark.operators.hybrid import hybrid_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return hybrid_topk(
        docs,
        "stream merge window",
        _query_vec(emb, 0),
        embeddings=emb,
        k=10,
        n_candidates=50,
        method="wsum",
    )


def q_hybrid_batch_rrf(spark, sf_dir):
    """Batched hybrid retrieval: ONE corpus pass serves both text legs
    (bm25_topk_batch), ONE embeddings pass both vector legs (queries
    broadcast), then RRF groups by query id — per-query cost is
    amortized exactly like the leg batch paths."""
    from parq_tools_spark.operators.hybrid import hybrid_topk_batch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qdf = spark.createDataFrame(
        [
            (1, "stream merge", _query_vec(emb, 0)),
            (2, "customer value table", _query_vec(emb, 1)),
        ],
        "query_id long, query string, query_vec array<double>",
    )
    return hybrid_topk_batch(docs, emb, qdf, k=5, n_candidates=20)


def q_hybrid_from_index(spark, sf_dir):
    """Hybrid retrieval served entirely from the PERSISTED indexes:
    the BM25 leg reads term-bucket-pruned postings, the ANN leg reads
    cell-pruned PQ codes — neither touches the corpus. Built lossless
    (full probe, identity codebook, OPQ rotation), the index-served
    vector ranks equal brute-force cosine ranks (the ann_index_equiv
    invariant), so the fused output is bit-identical to the scan-path
    hybrid and shares its from-scratch SQL oracle."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import ann_index_build
    from parq_tools_spark.operators.hybrid import hybrid_index_topk
    from parq_tools_spark.operators.search import bm25_index_build

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="hybidx_")
    bp = os.path.join(work, "bm25")
    ap = os.path.join(work, "ann")
    bm25_index_build(docs, bp)
    ann_index_build(
        emb, ap, n_cells=8, m=8, n_codes=None, opq=True, opq_sample=64
    )
    out = hybrid_index_topk(
        spark,
        bp,
        ap,
        "stream merge window",
        _query_vec(emb, 0),
        k=10,
        n_candidates=50,
        nprobe=8,
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_hybrid_index_wsum(spark, sf_dir):
    """Index-served hybrid with WEIGHTED SCORE fusion (CombSUM):
    both persisted legs emit scores (BM25's rounded score; the ANN
    index's pq_score, which under the lossless config IS the rounded
    cosine), min-max normalized per leg over the joined candidate
    relation — the identical _fuse_joined expression the scan path
    uses, so the result is bit-identical to hybrid_topk(method=
    'wsum') and shares its from-scratch SQL oracle. Neither leg
    touches the corpus (tbucket/cell partition pruning)."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import ann_index_build
    from parq_tools_spark.operators.hybrid import hybrid_index_topk
    from parq_tools_spark.operators.search import bm25_index_build

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="hybwsum_")
    bp = os.path.join(work, "bm25")
    ap = os.path.join(work, "ann")
    bm25_index_build(docs, bp)
    ann_index_build(
        emb, ap, n_cells=8, m=8, n_codes=None, opq=True, opq_sample=64
    )
    out = hybrid_index_topk(
        spark,
        bp,
        ap,
        "stream merge window",
        _query_vec(emb, 0),
        k=10,
        n_candidates=50,
        nprobe=8,
        method="wsum",
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_hybrid_index_batch(spark, sf_dir):
    """BATCHED hybrid retrieval served entirely from the persisted
    indexes — the offline-retrieval / RAG-eval shape: every text leg
    is one bucket-pruned postings read (bm25_index_topk_batch), every
    vector leg one cell-pruned codes read (ann_index_topk with a
    queries DataFrame, exclude_self=False), RRF fusion grouped by
    query id. Built lossless, bit-identical to the scan-path
    hybrid_topk_batch, so it shares that entry's SQL oracle; the
    plan-lock test proves neither corpus file is scanned."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import ann_index_build
    from parq_tools_spark.operators.hybrid import hybrid_index_topk_batch
    from parq_tools_spark.operators.search import bm25_index_build

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="hybbatch_")
    bp = os.path.join(work, "bm25")
    ap = os.path.join(work, "ann")
    bm25_index_build(docs, bp)
    ann_index_build(
        emb, ap, n_cells=8, m=8, n_codes=None, opq=True, opq_sample=64
    )
    qdf = spark.createDataFrame(
        [
            (1, "stream merge", _query_vec(emb, 0)),
            (2, "customer value table", _query_vec(emb, 1)),
        ],
        "query_id long, query string, query_vec array<double>",
    )
    out = hybrid_index_topk_batch(
        spark, bp, ap, qdf, k=5, n_candidates=20, nprobe=8
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_ann_refine_topk(spark, sf_dir):
    """ANN serving with EXACT re-rank (the standard IVF-PQ
    refinement): the index persists exact vectors next to the PQ
    codes (store_vectors=True), serving takes the top-R ADC
    candidates (cell-pruned, O(R) per query) and re-scores them with
    rounded exact cosine. Built LOSSY (16 codewords — ADC alone is
    provably wrong on this config, pinned by pytest) with full probe
    and R >= corpus, the refined result EQUALS exact cosine top-k,
    which is what the from-scratch SQL oracle computes."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="annref_")
    path = os.path.join(work, "idx")
    ann_index_build(
        emb, path, n_cells=8, m=8, n_codes=16, store_vectors=True
    )
    qs = emb.filter(F.col("vec_id") < 3)
    out = (
        ann_index_topk(
            spark, path, qs, k=5, nprobe=8, refine=2_000_000_000
        )
        .select("query_id", "vec_id", "cosine_sim", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_hybrid_refined_lossy(spark, sf_dir):
    """The compression headline: the ANN index here stores only a
    LOSSY 16-codeword PQ code per vector (ADC alone is provably wrong
    on this config — the ann_refine_topk gate), yet with refine= the
    vector leg exact-re-ranks against the stored vectors, so the
    fused hybrid output is bit-identical to the scan-path RRF hybrid
    and shares its from-scratch SQL oracle. Full probe + refine >=
    corpus makes the equality exact rather than approximate."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import ann_index_build
    from parq_tools_spark.operators.hybrid import hybrid_index_topk
    from parq_tools_spark.operators.search import bm25_index_build

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="hybref_")
    bp = os.path.join(work, "bm25")
    ap = os.path.join(work, "ann")
    bm25_index_build(docs, bp)
    ann_index_build(
        emb, ap, n_cells=8, m=8, n_codes=16, store_vectors=True
    )
    out = hybrid_index_topk(
        spark,
        bp,
        ap,
        "stream merge window",
        _query_vec(emb, 0),
        k=10,
        n_candidates=50,
        nprobe=8,
        refine=2_000_000_000,
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_gopher_filter(spark, sf_dir):
    """Gopher quality-rule filter (Rae et al. 2021 A1.1): per-rule
    signal columns + composite verdict, one map-only codegen'd pass.
    Every ratio divides two integer counts, so DuckDB reproduces the
    doubles bit-for-bit. The required-word rule is disabled here
    (min_required_words=0): the synthetic corpus has no English
    function words, so the paper's default would reject 100% of it —
    the unit tests pin the default-inventory behavior instead."""
    from parq_tools_spark.operators.text import with_gopher_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = with_gopher_filter(docs, min_required_words=0)
    return out.select(
        "doc_id",
        "n_words",
        _pround(F.col("mean_word_len")).alias("mean_word_len"),
        _pround(F.col("symbol_word_ratio")).alias("symbol_word_ratio"),
        _pround(F.col("bullet_line_ratio")).alias("bullet_line_ratio"),
        _pround(F.col("ellipsis_line_ratio")).alias("ellipsis_line_ratio"),
        _pround(F.col("alpha_word_ratio")).alias("alpha_word_ratio"),
        "n_required_words",
        "gopher_pass",
    )


def q_gopher_full_filter(spark, sf_dir):
    """The COMPLETE Gopher filter (Rae et al. 2021): A1.1 quality
    rules AND every Table-A1 repetition threshold, one map-only scan
    (zero shuffles — the n-gram counts come from linear folds over
    sorted gram arrays, not explode+groupBy). Line structure is
    derived deterministically (newline after every 3rd token, the
    repetition_lines chunking) because the fixture text is
    single-line; the required-word rule is disabled as in
    gopher_filter (the synthetic corpus has no English function
    words). Every ratio divides integer counts, so DuckDB reproduces
    the doubles bit-for-bit."""
    from parq_tools_spark.operators.text import gopher_full_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chunked = docs.withColumn(
        "text",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")),
            r"((?:\S+ ){2}\S+) ",
            "$1\n",
        ),
    )
    out = gopher_full_filter(chunked, min_required_words=0)
    rep_cols = [
        "dup_line_frac",
        "dup_line_char_frac",
        "dup_para_frac",
        "dup_para_char_frac",
        "top_2gram_char_frac",
        "top_3gram_char_frac",
        "top_4gram_char_frac",
        "dup_5gram_char_frac",
        "dup_6gram_char_frac",
        "dup_7gram_char_frac",
        "dup_8gram_char_frac",
        "dup_9gram_char_frac",
        "dup_10gram_char_frac",
    ]
    return out.select(
        "doc_id",
        "n_words",
        _pround(F.col("mean_word_len")).alias("mean_word_len"),
        _pround(F.col("symbol_word_ratio")).alias("symbol_word_ratio"),
        _pround(F.col("bullet_line_ratio")).alias("bullet_line_ratio"),
        _pround(F.col("ellipsis_line_ratio")).alias("ellipsis_line_ratio"),
        _pround(F.col("alpha_word_ratio")).alias("alpha_word_ratio"),
        *[_pround(F.col(c)).alias(c) for c in rep_cols],
        "gopher_pass",
        "gopher_full_pass",
    )


def q_c4_filter(spark, sf_dir):
    """C4-style page cleaning (Raffel et al. 2020 SS2.2): line-level
    retention (terminal punctuation, >=3 words, no javascript) plus
    the page verdict (>=3 sentences, no lorem ipsum / braces). The
    fixture text is single-line and unpunctuated, so the entry first
    derives a multi-line punctuated page deterministically (every
    ' line ' token becomes a sentence break — the identical transform
    in the SQL), then one map-only pass; the oracle reproduces the
    cleaned text and every count exactly."""
    from parq_tools_spark.operators.text import with_c4_filter

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.regexp_replace(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" line "),
                F.lit(".\n"),
            ),
            F.lit("."),
        ).alias("text"),
    )
    return with_c4_filter(docs, min_sentences=3).select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "n_sentences",
        "has_lorem",
        "has_brace",
        "c4_text",
        "c4_pass",
    )


def q_data_quality_checks(spark, sf_dir):
    """Declarative constraint checks in ONE aggregation pass."""
    from parq_tools_spark.operators.quality import (
        in_range,
        matches,
        not_null,
        run_checks,
        unique,
    )

    docs = _t(spark, sf_dir, "documents")
    return run_checks(
        docs,
        [
            not_null("text"),
            # exact so the DuckDB oracle comparison is deterministic;
            # the API default is approx=True (HLL, no Expand at scale)
            unique("doc_id", approx=False),
            in_range("n_chars", 0, 1_000_000),
            matches("lang", "^[a-z]{2}$"),
        ],
    )


def q_pipeline_e2e(spark, sf_dir):
    """End-to-end training-data pipeline in ONE lazy plan: quality
    gate -> C4-style clean -> exact dedup on normalized content ->
    deterministic train/val/test split -> per-doc token budget.

    The whole composition stays a single Catalyst plan (map-only
    stages fused; the only shuffle is the dedup window) — at 100 TB
    this is the shape a real corpus build takes, and every stage is
    SQL-recomputable so the full pipeline is oracle-checked.
    """
    from parq_tools_spark.operators.dedup import dedupe_exact_text
    from parq_tools_spark.operators.sampling import hash_split
    from parq_tools_spark.operators.text import (
        bpe_token_count,
        with_clean_text,
        with_quality_score,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = with_quality_score(docs).filter(F.col("quality_score") > 0.75)
    cleaned = with_clean_text(scored)
    deduped = dedupe_exact_text(cleaned)
    split = hash_split(
        deduped, "doc_id", [0.8, 0.1, 0.1], names=["train", "val", "test"]
    )
    return split.select(
        "doc_id",
        "lang",
        _pround(F.col("quality_score")).alias("quality_score"),
        bpe_token_count("clean_text").alias("n_tokens_bpe"),
        "split",
    )


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split by key hash (md5 — the same
    rows land in the same split in every engine and partitioning)."""
    from parq_tools_spark.operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(
        docs, "doc_id", [0.8, 0.1, 0.1], names=["train", "val", "test"]
    )


def q_deterministic_sample(spark, sf_dir):
    """Hash-based 10% sample — partitioning-independent, reproducible."""
    from parq_tools_spark.operators.sampling import deterministic_sample

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    return deterministic_sample(
        li.withColumn(
            "k", F.concat_ws("_", "l_orderkey", "l_linenumber")
        ),
        "k",
        0.1,
    ).select("l_orderkey", "l_linenumber")


def q_clean_text(spark, sf_dir):
    """C4-style text normalization (control chars out, whitespace
    collapsed)."""
    from parq_tools_spark.operators.text import with_clean_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return with_clean_text(docs).select(
        "doc_id", F.length("clean_text").alias("clean_len"), "clean_text"
    )


def q_pii_redact(spark, sf_dir):
    """PII redaction (training-data hygiene): the corpus carries no
    natural PII, so the query plants deterministic emails / phone
    numbers / IPv4 literals derived from doc_id (identically in the
    oracle), then redacts and counts them — the regexes are genuinely
    exercised, not vacuously matched against nothing."""
    from parq_tools_spark.operators.text import with_pii_redacted

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-01"),
            F.lpad(F.pmod(F.col("doc_id"), 100).cast("string"), 2, "0"),
            F.lit(" from 10.0."),
            F.pmod(F.col("doc_id"), 256).cast("string"),
            F.lit(".7"),
        ),
    )
    out = with_pii_redacted(planted)
    return out.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ipv4",
        F.md5(F.col("redacted_text")).alias("redacted_md5"),
    )


def q_key_skew(spark, sf_dir):
    """Join-key skew diagnostic: heaviest values + row share for two
    candidate shuffle keys on lineitem (evidence for choosing plain vs
    salted vs AQE-skew joins). TakeOrdered top-N per key — no global
    sort over the per-key count table."""
    from parq_tools_spark.operators.skew import key_skew_report

    li = _t(spark, sf_dir, "lineitem")
    out = key_skew_report(li, ["l_returnflag", "l_suppkey"], top_n=5)
    return out.select(
        "column", "value", "n_rows", _pround(F.col("share")).alias("share")
    )


def q_contamination(spark, sf_dir):
    """Benchmark decontamination: training docs containing >= 60% of an
    eval doc's 3-gram set (directional containment; the eval side is
    broadcast — the corpus side never shuffles). Eval set = every 25th
    document, so true positives (the eval docs themselves, containment
    1.0) are guaranteed and the oracle checks real matches."""
    from parq_tools_spark.operators.dedup import contamination_overlap

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    out = contamination_overlap(docs, ev, k=3, threshold=0.6)
    return out.select(
        "doc_id",
        "eval_id",
        "n_overlap",
        _pround(F.col("containment")).alias("containment"),
    )


def q_pack_shards(spark, sf_dir):
    """Token-budget corpus sharding: deterministic streaming pack via
    one window cumsum (shard = floor(exclusive prefix tokens / budget))
    — the op that turns a cleaned corpus into ~equal-token training
    files, auditable in plain SQL."""
    from parq_tools_spark.operators.sampling import pack_token_shards
    from parq_tools_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    return pack_token_shards(docs, "n_tokens", budget=2000).select(
        "doc_id", "n_tokens", "shard"
    )


def q_zorder_cells(spark, sf_dir):
    """Morton (Z-order) cell assignment for clustered writes: grid
    scaling from a broadcast single-row min/max aggregate (no collect)
    + pure shift/mask bit interleave — the exact layout computation
    write_zordered clusters 100 TB by, value-checked bit-for-bit
    against DuckDB's integer bit operators."""
    from parq_tools_spark.sources.zorder import zorder_column

    bits, cells = 10, 1 << 10
    orders = _t(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min(F.col("o_custkey").cast("double")).alias("mn1"),
        F.max(F.col("o_custkey").cast("double")).alias("mx1"),
        F.min(F.col("o_totalprice").cast("double")).alias("mn2"),
        F.max(F.col("o_totalprice").cast("double")).alias("mx2"),
    )

    def scale(c, mn, mx):
        span = F.when(F.col(mx) != F.col(mn), F.col(mx) - F.col(mn)).otherwise(
            F.lit(1.0)
        )
        raw = F.floor((F.col(c).cast("double") - F.col(mn)) / span * cells)
        return F.least(F.lit(cells - 1), F.greatest(F.lit(0), raw)).cast("long")

    return orders.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        zorder_column(
            [scale("o_custkey", "mn1", "mx1"), scale("o_totalprice", "mn2", "mx2")],
            bits,
        ).alias("zcell"),
    )


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs. The portable universal-hash family
    (one md5-derived base per shingle, (a*x+b) mod 2^31-1 permutations)
    makes the WHOLE pipeline — shingles, signatures, banding, candidate
    join, estimated Jaccard — bit-exactly recomputable in DuckDB SQL."""
    from parq_tools_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_lsh_pairs(docs, num_hashes=64, bands=16, threshold=0.5).select(
        "id1", "id2", _pround(F.col("est_jaccard")).alias("est_jaccard")
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash Hamming-distance near-dup pairs. Portable per-bit
    universal hashes make fingerprints and pairs SQL-recomputable."""
    from parq_tools_spark.operators.dedup import simhash_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_pairs(docs, max_hamming=6)


def q_simhash_index_query(spark, sf_dir):
    """Index-served SimHash near-dup pairs: the even-id half of the
    corpus is persisted as a banded fingerprint index (the fourth
    index family — same versioned-manifest protocol as BM25/MinHash/
    ANN), then the odd-id half queries it: the batch's banded keys
    broadcast into the index's band rows, candidates verified with
    bit_count(xor). The corpus half is fingerprinted ONCE at build —
    the batch never re-reads it. Portable per-bit hashes make the
    whole result SQL-recomputable (the simhash_pairs oracle family),
    and max_hamming < n_bands makes the banded candidates EXACTLY
    the cross pairs within the bound."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.simhash_index import (
        simhash_index_query,
        simhash_index_write,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="shidx_")
    path = os.path.join(work, "idx")
    simhash_index_write(docs.filter("doc_id % 2 = 0"), path)
    out = simhash_index_query(
        spark, path, docs.filter("doc_id % 2 = 1"), max_hamming=3
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_near_dedupe_cc(spark, sf_dir):
    """Connected-components near-dedup (iterative; no SQL oracle)."""
    from parq_tools_spark.operators.dedup import (
        dedupe_near_duplicates,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_df=None)
    return dedupe_near_duplicates(docs, pairs).select("doc_id", "lang")


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-k. FULLY oracle-checked: the
    hyperplane dot-product signs are bit-identical in DuckDB (the
    plane floats are inlined as literals; an ordered aggregate
    reproduces Spark's sequential fold), so signatures, banded
    candidates, and the rounded-cosine ranking all recompute in SQL.
    The operator generates candidates; ranking uses the portable
    rounded similarity with id tie-break (same contract as ann_topk)."""
    from pyspark.sql import Window
    from parq_tools_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    cands = lsh_topk(
        emb, queries, k=1_000_000_000, n_planes=16, n_bands=8
    ).select("query_id", "vec_id", _pround(F.col("cosine_sim")).alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        cands.withColumn("_rnk", F.row_number().over(w))
        .filter(F.col("_rnk") <= 5)
        .drop("_rnk")
    )


def q_ann_ivf_hash_topk(spark, sf_dir):
    """IVF top-k with deterministic hash-seeded centroids — the whole
    index (centroid choice, assignment, probing, ranking) recomputes
    bit-exactly in SQL, so unlike the trained-KMeans variant this one
    is FULLY oracle-checked."""
    from parq_tools_spark.operators.similarity import ivf_hashseed_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    return ivf_hashseed_topk(emb, queries, k=5, n_cells=8, nprobe=2)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF top-k through the trained-KMeans quantizer at FULL probe
    (nprobe = n_cells): the whole pipeline — distributed KMeans fit,
    cell assignment, per-query centroid ranking, probe explode, cell
    equi-join, exact rank — executes, and probing every cell makes the
    result exactly the brute-force top-k whatever centroids training
    produced, so this trained variant gets a bit-exact SQL oracle.
    Partial-probe approximation is value-checked by ann_ivf_hash_topk
    (deterministic cells) and ann_ivf_fullprobe_equiv (IVF == brute
    force property)."""
    from parq_tools_spark.operators.similarity import ivf_build, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, n_cells=8)
    queries = emb.filter(F.col("vec_id") < 3)
    # keep every candidate (k=inf), then round + re-rank so ties break
    # on the ROUNDED similarity identically in both engines
    cands = ivf_topk(
        assigned, centroids, queries, k=1_000_000_000, nprobe=8
    ).select(
        "query_id", "vec_id", _pround(F.col("cosine_sim")).alias("cosine_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def q_compare_tables(spark, sf_dir):
    """U2/A6: logical comparison report as a single-row DataFrame."""
    from parq_tools_spark.operators.compare import compare_dataframes

    cust = _t(spark, sf_dir, "customer")
    report = compare_dataframes(cust, cust.select(*cust.columns))
    return spark.createDataFrame(
        [
            (
                report["row_counts"][0],
                report["row_counts"][1],
                bool(report["schema_match"]),
                bool(report["content_match"]),
            )
        ],
        "rows_1 long, rows_2 long, schema_match boolean, content_match boolean",
    )


def q_memory_report(spark, sf_dir):
    """A5: per-column compressed/decompressed size accounting."""
    from parq_tools_spark.operators.memory import memory_report

    return memory_report(spark, os.path.join(sf_dir, "lineitem.parquet"))


# ---------------------------------------------------------------------
# Property checks: sketch/approximate operators whose values are not
# SQL-expressible (seeded xxhash64 signatures, KMeans cells) get
# *invariant* queries instead — each returns the VIOLATIONS of a
# property that must hold, so the expected result is empty and the
# DuckDB oracle is a typed empty relation. Margins are wide (measured
# at sf0.001/0.01/0.1: minhash est-vs-exact gap <= 0.081 vs 0.35
# allowed; simhash token-jaccard >= 0.238 vs 0.1 floor; LSH recall@5
# = 1.0 vs 0.6 floor) so the checks are stable, not tuned-to-pass.
# ---------------------------------------------------------------------
def q_minhash_precision_check(spark, sf_dir):
    """Every MinHash-LSH pair (est >= 0.5) must be a true near-dup:
    exact 3-gram Jaccard >= 0.3 and |estimate - exact| <= 0.35.
    Returns violations; expected empty."""
    from parq_tools_spark.operators.dedup import (
        exact_jaccard_for_pairs,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # pairs are reused (id projections + verification join):
    # localCheckpoint materializes the sketch pipeline once
    mh = minhash_lsh_pairs(
        docs, num_hashes=64, bands=16, threshold=0.5
    ).localCheckpoint(eager=True)
    # exact ground truth per candidate PAIR — work bounded by the pair
    # list and its shingle overlap, not an all-pairs self-join
    exact = exact_jaccard_for_pairs(docs, mh, k=3)
    joined = mh.join(exact, ["id1", "id2"], "left").select(
        "id1",
        "id2",
        "est_jaccard",
        F.coalesce("jaccard", F.lit(0.0)).alias("exact_jaccard"),
    )
    return joined.filter(
        (F.col("exact_jaccard") < 0.3)
        | (F.abs(F.col("est_jaccard") - F.col("exact_jaccard")) > 0.35)
    )


def q_simhash_precision_check(spark, sf_dir):
    """Every SimHash pair within Hamming 6 must share token vocabulary:
    unigram Jaccard >= 0.1 (SimHash is bag-of-words, so the invariant
    is token-level, not shingle-level). Returns violations; expected
    empty."""
    from parq_tools_spark.operators.dedup import (
        exact_jaccard_for_pairs,
        simhash_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = simhash_pairs(docs, max_hamming=6).localCheckpoint(eager=True)
    exact1 = exact_jaccard_for_pairs(docs, sh, k=1)
    joined = sh.join(exact1, ["id1", "id2"], "left").select(
        "id1",
        "id2",
        "hamming",
        F.coalesce("jaccard", F.lit(0.0)).alias("token_jaccard"),
    )
    return joined.filter(F.col("token_jaccard") < 0.1)


def q_ann_lsh_recall_check(spark, sf_dir):
    """LSH top-k recall floor vs the brute-force baseline (which has
    its own value-level DuckDB oracle, ann_topk): recall@5 >= 0.6 for
    every query. Returns violations; expected empty."""
    from parq_tools_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    bf = brute_force_topk(emb, qs, k=5).select("query_id", "vec_id")
    lsh = lsh_topk(emb, qs, k=5, n_planes=16, n_bands=8).select(
        "query_id", "vec_id"
    )
    recall = (
        bf.join(lsh, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg((F.count(F.lit(1)) / F.lit(5.0)).alias("recall"))
        .join(bf.select("query_id").distinct(), ["query_id"], "right")
        .select("query_id", F.coalesce("recall", F.lit(0.0)).alias("recall"))
    )
    return recall.filter(F.col("recall") < 0.6)


def q_ann_ivf_fullprobe_equiv(spark, sf_dir):
    """IVF with nprobe == n_cells probes every cell, so it must equal
    the brute-force baseline EXACTLY regardless of how KMeans split
    the corpus (the candidate set is the whole corpus either way).
    Returns the symmetric difference of the two top-5 sets; expected
    empty."""
    from parq_tools_spark.operators.similarity import (
        brute_force_topk,
        ivf_build,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, n_cells=8)
    qs = emb.filter(F.col("vec_id") < 3)
    bf = brute_force_topk(emb, qs, k=5).select("query_id", "vec_id")
    ivf = ivf_topk(assigned, centroids, qs, k=5, nprobe=8).select(
        "query_id", "vec_id"
    )
    only_bf = bf.join(ivf, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("brute_force_only")
    )
    only_ivf = ivf.join(bf, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("ivf_only")
    )
    return only_bf.unionByName(only_ivf)


# ---------------------------------------------------------------------
# Round-5 LLM-pipeline additions: repetition quality signals,
# paragraph-level corpus dedup, keyed merge/CDC, product quantization,
# semantic dedup.
# ---------------------------------------------------------------------
def q_word_repetition(spark, sf_dir):
    """Gopher-style word repetition signals (map-only, zero shuffle)."""
    from parq_tools_spark.operators.repetition import with_word_repetition_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = with_word_repetition_stats(docs)
    return out.select(
        "doc_id",
        "n_words",
        "n_unique_words",
        _pround(F.col("frac_unique_words")).alias("frac_unique_words"),
        _pround(F.col("frac_dup_words")).alias("frac_dup_words"),
    )


def q_repetition_ngram(spark, sf_dir):
    """Top/duplicate 2-gram character fractions per document (the
    Gopher Table A1 repetition filters)."""
    from parq_tools_spark.operators.repetition import ngram_repetition_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = ngram_repetition_stats(docs, n=2)
    return out.select(
        "doc_id",
        "top_ngram",
        "top_ngram_count",
        _pround(F.col("top_ngram_char_frac")).alias("top_ngram_char_frac"),
        _pround(F.col("dup_ngram_char_frac")).alias("dup_ngram_char_frac"),
        "truncated",
    )


def q_paragraph_dedupe(spark, sf_dir):
    """Corpus-wide paragraph dedup (C4/RefinedWeb boilerplate pass).

    The fixture has single-line documents, so the query derives a
    deterministic paragraph structure first: a newline after every
    3rd token (same regexp in both engines), then keeps only the
    corpus-first occurrence of each paragraph."""
    from parq_tools_spark.operators.dedup import dedupe_paragraphs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chunked = docs.withColumn(
        "text", F.regexp_replace("text", r"((?:\S+ ){2}\S+) ", "$1\n")
    )
    return dedupe_paragraphs(chunked, sep="\n")


def q_merge_upsert(spark, sf_dir):
    """MERGE INTO semantics on plain parquet: a derived change set
    (updates for custkey%10==0, inserts for %37==5 shifted by 1e6,
    deletes for %100==7) applied to the customer snapshot."""
    from parq_tools_spark.operators.merge import merge_upsert

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upd = cust.filter(k % 10 == 0).select(
        k.alias("c_custkey"),
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(1000.0)).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
        F.lit(False).alias("_del"),
    )
    ins = cust.filter(k % 37 == 5).select(
        (k + F.lit(1000000)).alias("c_custkey"),
        F.concat(F.lit("NEW-"), k.cast("string")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit(False).alias("_del"),
    )
    dels = cust.filter(k % 100 == 7).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit(True).alias("_del"),
    )
    src = upd.unionByName(ins).unionByName(dels)
    merged = merge_upsert(
        cust, src, ["c_custkey"], delete_col="_del", broadcast_source=True
    )
    return merged.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        _pround(F.col("c_acctbal")).alias("c_acctbal"),
        "c_mktsegment",
    )


def q_cdc_apply(spark, sf_dir):
    """CDC log apply with latest-wins per key: seq-1 updates for
    custkey%10==0, seq-2 deletes for %20==0 (delete beats the earlier
    update), seq-1 inserts for %37==5. The oracle derives the expected
    final state independently — it never re-implements the merge."""
    from parq_tools_spark.operators.merge import apply_cdc

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    upd = cust.filter(k % 10 == 0).select(
        "c_custkey",
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
        "c_name",
        "c_nationkey",
        (F.col("c_acctbal") + F.lit(1000.0)).alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
    )
    dels = cust.filter(k % 20 == 0).select(
        "c_custkey",
        F.lit("D").alias("op"),
        F.lit(2).alias("seq"),
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    ins = cust.filter(k % 37 == 5).select(
        (k + F.lit(1000000)).alias("c_custkey"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
        F.concat(F.lit("NEW-"), k.cast("string")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    changes = upd.unionByName(dels).unionByName(ins)
    out = apply_cdc(cust, changes, ["c_custkey"], broadcast_source=True)
    return out.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        _pround(F.col("c_acctbal")).alias("c_acctbal"),
        "c_mktsegment",
    )


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantized ANN top-5 by asymmetric distance. The whole
    pipeline (hash-seeded codebooks, argmin-L2 encoding, ADC scoring)
    is closed-form, so DuckDB recomputes it value-for-value."""
    from parq_tools_spark.operators.similarity import pq_build, pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    codes, cbs = pq_build(emb, m=8, n_codes=16)
    qs = emb.filter(F.col("vec_id") < 3)
    return pq_topk(codes, cbs, qs, k=5).select("query_id", "vec_id", "pq_score")


def q_ann_pq_exact_equiv(spark, sf_dir):
    """With the identity codebook (every corpus row a seed) PQ encoding
    is lossless, so ADC top-k must equal the brute-force baseline
    EXACTLY. Returns the symmetric difference; expected empty."""
    from parq_tools_spark.operators.similarity import (
        brute_force_topk,
        pq_build,
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codes, cbs = pq_build(emb, m=8, n_codes=None)
    qs = emb.filter(F.col("vec_id") < 3)
    pq = pq_topk(codes, cbs, qs, k=5).select("query_id", "vec_id")
    bf = brute_force_topk(emb, qs, k=5).select("query_id", "vec_id")
    only_pq = pq.join(bf, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("pq_only")
    )
    only_bf = bf.join(pq, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("brute_force_only")
    )
    return only_pq.unionByName(only_bf)


def q_ann_opq_exact_equiv(spark, sf_dir):
    """OPQ invariant: under a LOSSLESS codebook (every corpus row a
    seed) any orthogonal rotation preserves dot products exactly, so
    OPQ-rotated ADC top-k must equal the brute-force baseline — which
    checks the rotation is orthogonal, applied consistently to seeds,
    corpus and queries, and round-trips the code path end to end.
    Returns the symmetric difference; expected empty."""
    from parq_tools_spark.operators.similarity import (
        brute_force_topk,
        opq_rotation,
        pq_build,
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    rot = opq_rotation(emb, m=8, sample=64)
    codes, cbs = pq_build(emb, m=8, n_codes=None, rotation=rot)
    qs = emb.filter(F.col("vec_id") < 3)
    pq = pq_topk(codes, cbs, qs, k=5, rotation=rot).select(
        "query_id", "vec_id"
    )
    bf = brute_force_topk(emb, qs, k=5).select("query_id", "vec_id")
    only_pq = pq.join(bf, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("opq_only")
    )
    only_bf = bf.join(pq, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("brute_force_only")
    )
    return only_pq.unionByName(only_bf)


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ layered ANN top-5: hash-seeded cells prune, PQ codes
    score by ADC — the full pipeline recomputed value-for-value by
    the DuckDB oracle."""
    from parq_tools_spark.operators.similarity import ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    return ivf_pq_topk(
        emb, qs, k=5, n_cells=8, nprobe=2, m=8, n_codes=16
    ).select("query_id", "vec_id", "pq_score")


def q_ann_ivfpq_equiv(spark, sf_dir):
    """Degenerate IVF-PQ (probe every cell, identity codebook) must
    equal the brute-force baseline exactly — the composition of the
    full-probe and lossless-encoding invariants. Returns the
    symmetric difference; expected empty."""
    from parq_tools_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    ivfpq = ivf_pq_topk(
        emb, qs, k=5, n_cells=8, nprobe=8, m=8, n_codes=None
    ).select("query_id", "vec_id")
    bf = brute_force_topk(emb, qs, k=5).select("query_id", "vec_id")
    only_a = ivfpq.join(bf, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("ivfpq_only")
    )
    only_b = bf.join(ivfpq, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("brute_force_only")
    )
    return only_a.unionByName(only_b)


def q_ann_opq_ivfpq_equiv(spark, sf_dir):
    """OPQ composed with the layered IVF-PQ index: under full probe
    (nprobe=n_cells) and a lossless codebook (n_codes=None), an
    orthogonal OPQ rotation must leave IVF-PQ top-k exactly equal to
    brute force — the composition of the full-probe, lossless-encoding
    and rotation-invariance oracles, exercising rotation end to end
    through pq_build, the query ADC tables and the cell-probe join.
    Returns the symmetric difference; expected empty."""
    from parq_tools_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        opq_rotation,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3)
    rot = opq_rotation(emb, m=8, sample=64)
    ivfpq = ivf_pq_topk(
        emb, qs, k=5, n_cells=8, nprobe=8, m=8, n_codes=None, rotation=rot
    ).select("query_id", "vec_id")
    bf = brute_force_topk(emb, qs, k=5).select("query_id", "vec_id")
    only_a = ivfpq.join(bf, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("opq_ivfpq_only")
    )
    only_b = bf.join(ivfpq, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("brute_force_only")
    )
    return only_a.unionByName(only_b)


def q_ann_from_index(spark, sf_dir):
    """ANN served from the PERSISTED IVF-PQ index through its full
    lifecycle (built on the even-id vectors — the model freezes
    there — then extended with the odd-id batch under the frozen
    model): the DuckDB oracle re-derives the entire pipeline with
    centroid/codebook seeds ranked from the EVEN ids only, encoding
    and probing over the full corpus; index_version stamps the
    statistics snapshot (build=1, add=2)."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_add,
        ann_index_build,
        ann_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="annidx_")
    path = os.path.join(work, "idx")
    ann_index_build(
        emb.filter(F.col("vec_id") % 2 == 0), path, n_cells=8, m=8, n_codes=16
    )
    ann_index_add(emb.filter(F.col("vec_id") % 2 == 1), path)
    qs = emb.filter(F.col("vec_id") < 3)
    out = (
        ann_index_topk(spark, path, qs, k=5, nprobe=2)
        .select("query_id", "vec_id", "pq_score", "index_version")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_ann_index_equiv(spark, sf_dir):
    """The persisted index's equivalence gate: under full probe
    (nprobe=n_cells), a lossless identity codebook (n_codes=None) and
    an OPQ rotation, index-SERVED top-k must equal brute-force cosine
    top-k exactly — the same invariant stack as ann_opq_ivfpq_equiv,
    but exercised through the on-disk model (JSON round-trip of
    centroids/codebooks/rotation) and the partition-pruned codes
    read. Returns the symmetric difference; expected empty."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_topk,
    )
    from parq_tools_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="annidxeq_")
    path = os.path.join(work, "idx")
    ann_index_build(
        emb, path, n_cells=8, m=8, n_codes=None, opq=True, opq_sample=64
    )
    qs = emb.filter(F.col("vec_id") < 3)
    idx = (
        ann_index_topk(spark, path, qs, k=5, nprobe=8)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    bf = brute_force_topk(emb, qs, k=5).select("query_id", "vec_id")
    only_a = idx.join(bf, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("index_only")
    )
    only_b = bf.join(idx, ["query_id", "vec_id"], "left_anti").withColumn(
        "side", F.lit("brute_force_only")
    )
    return only_a.unionByName(only_b)


def q_ann_filtered_topk(spark, sf_dir):
    """Filtered ANN top-k served from the persisted index through the
    same build+add lifecycle as ann_from_index, with an allowed-id
    set (vec_id % 3 == 0, passed as a LITERAL list so the predicate
    pushes into the segments' parquet scans) applied to CANDIDATES
    before ranking — the returned k is the top-k AMONG the allowed
    ids under the index-wide model. The DuckDB oracle re-derives the
    full IVF-PQ pipeline and injects the same predicate into its
    candidate set before its ranking window."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_add,
        ann_index_build,
        ann_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="annflt_")
    path = os.path.join(work, "idx")
    ann_index_build(
        emb.filter(F.col("vec_id") % 2 == 0), path, n_cells=8, m=8, n_codes=16
    )
    ann_index_add(emb.filter(F.col("vec_id") % 2 == 1), path)
    qs = emb.filter(F.col("vec_id") < 3)
    allowed = sorted(
        r.vec_id
        for r in emb.filter(F.col("vec_id") % 3 == 0)
        .select("vec_id")
        .collect()
    )
    out = (
        ann_index_topk(
            spark, path, qs, k=5, nprobe=2, allowed_ids=allowed
        )
        .select("query_id", "vec_id", "pq_score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_filtered_topk(spark, sf_dir):
    """Filtered BM25 top-k served from the persisted index, with an
    allowed-id DataFrame (doc_id % 3 == 0 — the semi-join physical
    shape) restricting CANDIDATE documents before scoring and
    ranking. Statistics stay index-wide (idf/avgdl over the full
    corpus) — the filter scopes candidates, exactly like every
    filtered-search engine — so the oracle computes full-corpus BM25
    and filters its candidate set before the ranking window."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="bmflt_")
    path = os.path.join(work, "idx")
    bm25_index_build(docs, path, n_buckets=8)
    out = (
        bm25_index_topk(
            spark, path, "stream merge window", k=10,
            allowed_ids=docs.filter(F.col("doc_id") % 3 == 0).select(
                "doc_id"
            ),
        )
        .select("doc_id", "score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_ann_where_topk(spark, sf_dir):
    """Metadata-filtered ANN top-k: the index is built with
    store_cols=['label'] (the metadata rides each row's codes through
    the encoder — no id re-join), and serving filters candidates with
    the engine's DSL predicate where="label in [0, 2, 4]", which
    Catalyst pushes into the cell-pruned segment scans. The oracle
    re-derives the IVF-PQ pipeline and scopes its candidate set with
    the same predicate via the embeddings table."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="annwhere_")
    path = os.path.join(work, "idx")
    ann_index_build(
        emb.filter(F.col("vec_id") % 2 == 0), path,
        n_cells=8, m=8, n_codes=16, store_cols=["label"],
    )
    from parq_tools_spark.operators.ann_index import ann_index_add

    ann_index_add(emb.filter(F.col("vec_id") % 2 == 1), path)
    qs = emb.filter(F.col("vec_id") < 3)
    out = (
        ann_index_topk(
            spark, path, qs, k=5, nprobe=2,
            where="label in [0, 2, 4]",
        )
        .select("query_id", "vec_id", "pq_score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_where_topk(spark, sf_dir):
    """Metadata-filtered BM25 top-k: the index stores lang on every
    posting row (store_cols=['lang'] — doc-constant like dl, scoring
    untouched), and serving filters candidates with the DSL predicate
    where="lang == 'en'" pushed into the bucket-pruned postings
    scans. Statistics stay index-wide; the oracle computes
    full-corpus BM25 and scopes candidates by the documents table's
    lang before its ranking window."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    work = tempfile.mkdtemp(prefix="bmwhere_")
    path = os.path.join(work, "idx")
    bm25_index_build(docs, path, n_buckets=8, store_cols=["lang"])
    out = (
        bm25_index_topk(
            spark, path, "stream merge window", k=10,
            where="lang == 'en'",
        )
        .select("doc_id", "score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_minhash_where_query(spark, sf_dir):
    """Metadata-filtered MinHash dedup (r15: completes filtered
    retrieval across all four index families): the index stores lang
    ON every band row (store_cols=['lang'], carried through the
    signature aggregation's group key — zero extra shuffle), and
    serving scopes the INDEXED side with the DSL predicate
    where="lang == 'en'" pushed into the band-row scans — no metadata
    table join, no id set materialized. The oracle re-derives the
    portable MinHash pipeline in SQL and scopes its candidate pairs
    by the documents table's lang."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.dedup import (
        minhash_index_query,
        minhash_index_write,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    work = tempfile.mkdtemp(prefix="mhwhere_")
    path = os.path.join(work, "idx")
    minhash_index_write(
        docs.filter("doc_id % 2 = 0"), path,
        num_hashes=64, bands=16, store_cols=["lang"],
    )
    out = (
        minhash_index_query(
            spark, path, docs.filter("doc_id % 2 = 1"),
            threshold=0.5, where="lang == 'en'",
        )
        .select(
            "id_indexed",
            "id_new",
            _pround(F.col("est_jaccard")).alias("est_jaccard"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_simhash_where_query(spark, sf_dir):
    """The SimHash mirror of minhash_where_query: band rows carry
    lang (joined onto the fingerprints once at ingest), and
    where="lang == 'en'" pushes into the band-row scans at serving
    time. Oracle: the SQL-recomputed fingerprint pipeline with the
    same lang scope on the indexed side."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.simhash_index import (
        simhash_index_query,
        simhash_index_write,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    work = tempfile.mkdtemp(prefix="shwhere_")
    path = os.path.join(work, "idx")
    simhash_index_write(
        docs.filter("doc_id % 2 = 0"), path, store_cols=["lang"]
    )
    out = simhash_index_query(
        spark, path, docs.filter("doc_id % 2 = 1"),
        max_hamming=3, where="lang == 'en'",
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_contamination_from_index(spark, sf_dir):
    """Decontamination served FROM the positional BM25 index (r15):
    eval n-gram containment with NO corpus scan — the eval set's
    terms prune the postings read to their buckets, candidates come
    from a conjunctive broadcast join, and contiguity verifies
    against the stored position arrays (the phrase machinery,
    data-driven). Eval set = every 25th document, so true positives
    (containment 1.0 self-pairs) are guaranteed. The oracle
    recomputes containment from text with the index's tokenization
    (lowercased alphanumeric runs)."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_build,
        contamination_from_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="cfi_")
    path = os.path.join(work, "idx")
    bm25_index_build(docs, path, n_buckets=8, store_positions=True)
    ev = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    out = (
        contamination_from_index(spark, path, ev, k=3, threshold=0.6)
        .select(
            "doc_id",
            "eval_id",
            "n_overlap",
            _pround(F.col("containment")).alias("containment"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_ann_update_metadata(spark, sf_dir):
    """Metadata-ONLY update (r15): the same build as ann_where_topk
    (store_cols=['label'], evens built + odds added), then
    ann_index_update_metadata flips label->0 for every vec with
    label=1 and vec_id%3=0 — rewriting ONLY those rows' metadata (one
    new segment + version-scoped tombstone; codes never re-encoded,
    n_vecs untouched) — and serving filters on the flipped metadata.
    The oracle is the ann_where_topk pipeline with the flip applied
    in SQL, so the driver proves post-update results equal a fresh
    view of the flipped corpus value-for-value."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_add,
        ann_index_build,
        ann_index_topk,
        ann_index_update_metadata,
    )

    emb = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="annupd_")
    path = os.path.join(work, "idx")
    ann_index_build(
        emb.filter(F.col("vec_id") % 2 == 0), path,
        n_cells=8, m=8, n_codes=16, store_cols=["label"],
    )
    ann_index_add(emb.filter(F.col("vec_id") % 2 == 1), path)
    flips = emb.filter(
        (F.col("label") == 1) & (F.col("vec_id") % 3 == 0)
    ).select("vec_id", F.lit(0).cast("int").alias("label"))
    ann_index_update_metadata(spark, path, flips)
    qs = emb.filter(F.col("vec_id") < 3)
    out = (
        ann_index_topk(
            spark, path, qs, k=5, nprobe=2,
            where="label in [0, 2, 4]",
        )
        .select("query_id", "vec_id", "pq_score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_update_metadata(spark, sf_dir):
    """The BM25 metadata-only update twin: flip lang->'zz' for every
    English doc with doc_id%7=0 via bm25_index_update_metadata (one
    new postings segment + tombstone; postings never re-tokenized,
    n_docs/sum_dl/terms untouched BY CONSTRUCTION), then serve
    where="lang == 'en'". Oracle: full-corpus BM25 with the flip
    applied to the candidate scope — statistics stay full-corpus,
    proving the update changed metadata and nothing else."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
        bm25_index_update_metadata,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    work = tempfile.mkdtemp(prefix="bmupd_")
    path = os.path.join(work, "idx")
    bm25_index_build(docs, path, n_buckets=8, store_cols=["lang"])
    flips = docs.filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 7 == 0)
    ).select("doc_id", F.lit("zz").alias("lang"))
    bm25_index_update_metadata(spark, path, flips)
    out = (
        bm25_index_topk(
            spark, path, "stream merge window", k=10,
            where="lang == 'en'",
        )
        .select("doc_id", "score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_ann_add_metadata_col(spark, sf_dir):
    """store_cols EVOLUTION (r16): the same even-build + odd-add
    lifecycle as ann_where_topk but the index starts BARE (no
    store_cols, no stored vectors), and ann_index_add_metadata_col
    backfills label afterwards — every visible code row rewritten
    with the new column (codes carried as bytes; with
    store_vectors=False a re-encode is impossible, which is the
    proof), one compaction-shaped commit extending params.store_cols
    atomically. Serving where="label in [0, 2, 4]" must then equal
    the fresh store_cols build value-for-value, so the oracle is
    ann_where_topk's SQL verbatim."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_add,
        ann_index_add_metadata_col,
        ann_index_build,
        ann_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="annamc_")
    path = os.path.join(work, "idx")
    ann_index_build(
        emb.filter(F.col("vec_id") % 2 == 0).select(
            "vec_id", "embedding"
        ),
        path, n_cells=8, m=8, n_codes=16,
    )
    ann_index_add(
        emb.filter(F.col("vec_id") % 2 == 1).select(
            "vec_id", "embedding"
        ),
        path,
    )
    ann_index_add_metadata_col(spark, path, emb.select("vec_id", "label"))
    qs = emb.filter(F.col("vec_id") < 3)
    out = (
        ann_index_topk(
            spark, path, qs, k=5, nprobe=2,
            where="label in [0, 2, 4]",
        )
        .select("query_id", "vec_id", "pq_score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_add_metadata_col(spark, sf_dir):
    """The BM25 evolution twin: a bare index (no store_cols) gets
    lang backfilled by bm25_index_add_metadata_col — every visible
    posting row rewritten with the new column (nothing re-tokenized;
    n_docs/sum_dl/terms untouched BY CONSTRUCTION), params.store_cols
    extended in the same atomic commit — then serves
    where="lang == 'en'". Must equal a fresh store_cols build, so the
    oracle is bm25_where_topk's SQL verbatim."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_add_metadata_col,
        bm25_index_build,
        bm25_index_topk,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    work = tempfile.mkdtemp(prefix="bmamc_")
    path = os.path.join(work, "idx")
    bm25_index_build(docs.select("doc_id", "text"), path, n_buckets=8)
    bm25_index_add_metadata_col(
        spark, path, docs.select("doc_id", "lang")
    )
    out = (
        bm25_index_topk(
            spark, path, "stream merge window", k=10,
            where="lang == 'en'",
        )
        .select("doc_id", "score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_minhash_add_metadata_col(spark, sf_dir):
    """MinHash evolution (shared _band_index.add_metadata_col): the bare
    even-id index gets lang backfilled onto every band row
    (signatures carried, nothing re-shingled), then serves the same
    where="lang == 'en'" query as minhash_where_query — equality with
    that entry's fresh store_cols build is the gate, so the oracle is
    its SQL verbatim."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.dedup import (
        minhash_index_add_metadata_col,
        minhash_index_query,
        minhash_index_write,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    work = tempfile.mkdtemp(prefix="mhamc_")
    path = os.path.join(work, "idx")
    minhash_index_write(
        docs.filter("doc_id % 2 = 0").select("doc_id", "text"), path,
        num_hashes=64, bands=16,
    )
    minhash_index_add_metadata_col(
        spark, path, docs.select("doc_id", "lang")
    )
    out = (
        minhash_index_query(
            spark, path, docs.filter("doc_id % 2 = 1"),
            threshold=0.5, where="lang == 'en'",
        )
        .select(
            "id_indexed",
            "id_new",
            _pround(F.col("est_jaccard")).alias("est_jaccard"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_simhash_add_metadata_col(spark, sf_dir):
    """SimHash evolution: bare even-id index, lang backfilled onto
    the band rows (fingerprints carried), served with
    where="lang == 'en'" — simhash_where_query's oracle verbatim."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.simhash_index import (
        simhash_index_add_metadata_col,
        simhash_index_query,
        simhash_index_write,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    work = tempfile.mkdtemp(prefix="shamc_")
    path = os.path.join(work, "idx")
    simhash_index_write(
        docs.filter("doc_id % 2 = 0").select("doc_id", "text"), path
    )
    simhash_index_add_metadata_col(
        spark, path, docs.select("doc_id", "lang")
    )
    out = simhash_index_query(
        spark, path, docs.filter("doc_id % 2 = 1"),
        max_hamming=3, where="lang == 'en'",
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_meta_cdc_stream(spark, sf_dir):
    """Op-typed metadata updates on the CHANGE STREAM (r16): a mixed
    upsert/delete/meta CDC stream drains through
    start_bm25_index_stream into a pre-built store_cols index — 'U'
    rows re-supply existing docs' own text (tombstone + re-add fully
    exercised, logical corpus unchanged by them), 'M' rows re-grade
    every English doc with doc_id%11=0 to 'zz' WITHOUT re-tokenizing
    (folded into bm25_index_update_metadata inside apply_cdc), 'D'
    rows drop doc_id%13=0. Serving where="lang == 'en'" afterwards
    must equal DuckDB's full BM25 over the post-stream corpus
    (deletes removed, flips applied, statistics recomputed over the
    survivors). Stream==batch parity is pytest-gated
    (tests/test_metadata_lifecycle.py)."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
    )
    from parq_tools_spark.streaming.index_sink import (
        start_bm25_index_stream,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    work = tempfile.mkdtemp(prefix="bmmcdc_")
    path = os.path.join(work, "idx")
    bm25_index_build(docs, path, n_buckets=8, store_cols=["lang"])

    schema = "doc_id long, text string, lang string, op string, seq long"
    b0 = docs.filter(F.col("doc_id") % 17 == 0).select(
        "doc_id", "text", "lang",
        F.lit("U").alias("op"), F.lit(1).cast("long").alias("seq"),
    )
    b1 = docs.filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 11 == 0)
    ).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("zz").alias("lang"),
        F.lit("M").alias("op"), F.lit(2).cast("long").alias("seq"),
    )
    b2 = docs.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit("D").alias("op"), F.lit(3).cast("long").alias("seq"),
    )
    src = os.path.join(work, "cdc")
    for i, b in enumerate([b0, b1, b2]):
        d = os.path.join(src, f"f{i}")
        b.coalesce(1).write.parquet(d)
        # FileStreamSource orders by mtime: coarse clock granularity
        # could tie the sequentially-written files and make batch
        # order timing-dependent, so stamp strictly increasing mtimes
        import glob as _g
        import time as _time

        now = _time.time()
        for f in _g.glob(os.path.join(d, "*.parquet")):
            os.utime(f, (now + i * 10, now + i * 10))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = start_bm25_index_stream(
        stream, path, os.path.join(work, "ck"), seq_col="seq"
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("meta CDC stream did not drain in 600s")
    out = (
        bm25_index_topk(
            spark, path, "stream merge window", k=10,
            where="lang == 'en'",
        )
        .select("doc_id", "score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def _band_meta_cdc_src(spark, sf_dir, work):
    """Four ordered CDC micro-batch files shared by the band-family
    CDC-sink entries (the r17 sinks): I everything, U the %17==0 docs
    with their own text (tombstone + re-add exercised, logical corpus
    unchanged), M re-grading every English %11==0 doc to 'zz', D
    dropping %13==0. Strictly increasing mtimes pin FileStreamSource
    batch order (the bm25_meta_cdc_stream fix)."""
    import glob as _g
    import time as _time

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    k = F.col("doc_id")
    b0 = docs.select(
        "doc_id", "text", "lang",
        F.lit("I").alias("op"), F.lit(0).cast("long").alias("seq"),
    )
    b1 = docs.filter(k % 17 == 0).select(
        "doc_id", "text", "lang",
        F.lit("U").alias("op"), F.lit(1).cast("long").alias("seq"),
    )
    b2 = docs.filter((F.col("lang") == "en") & (k % 11 == 0)).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("zz").alias("lang"),
        F.lit("M").alias("op"), F.lit(2).cast("long").alias("seq"),
    )
    b3 = docs.filter(k % 13 == 0).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit("D").alias("op"), F.lit(3).cast("long").alias("seq"),
    )
    src = os.path.join(work, "cdc")
    for i, b in enumerate([b0, b1, b2, b3]):
        d = os.path.join(src, f"f{i}")
        b.coalesce(1).write.parquet(d)
        now = _time.time()
        for f in _g.glob(os.path.join(d, "*.parquet")):
            os.utime(f, (now + i * 10, now + i * 10))
    return src, docs


def q_minhash_meta_cdc_stream(spark, sf_dir):
    """The r17 band-family CDC sink, MinHash: a mixed I/U/M/D change
    stream COLD-starts start_minhash_index_stream (the sink's
    store_cols=['lang'] bootstrap — no out-of-band pre-build), and
    post-stream serving with where="lang == 'en'" must equal DuckDB's
    full portable-MinHash pipeline over the post-stream corpus
    (deletes removed, 'M' flips applied — flipped docs leave the
    scope without re-shingling). Probe ids shift +1,000,000 so the
    pairing is index-vs-new only. Stream==batch parity is
    pytest-gated (tests/test_index_sink.py)."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.dedup import minhash_index_query
    from parq_tools_spark.streaming.index_sink import (
        start_minhash_index_stream,
    )

    work = tempfile.mkdtemp(prefix="mhmcdc_")
    src, docs = _band_meta_cdc_src(spark, sf_dir, work)
    path = os.path.join(work, "idx")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, op string, seq long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = start_minhash_index_stream(
        stream, path, os.path.join(work, "ck"),
        seq_col="seq", num_hashes=64, bands=16,
        store_cols=["lang"],
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("minhash meta CDC stream did not drain")
    probe = docs.filter("doc_id % 7 = 1").select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    out = (
        minhash_index_query(
            spark, path, probe, threshold=0.5, where="lang == 'en'"
        )
        .select(
            "id_indexed",
            "id_new",
            _pround(F.col("est_jaccard")).alias("est_jaccard"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_simhash_meta_cdc_stream(spark, sf_dir):
    """The SimHash twin of minhash_meta_cdc_stream: the same mixed
    I/U/M/D stream through start_simhash_index_stream's cold
    store_cols bootstrap, served with where="lang == 'en'" against
    DuckDB's recomputed fingerprint pipeline over the post-stream
    corpus."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.simhash_index import (
        simhash_index_query,
    )
    from parq_tools_spark.streaming.index_sink import (
        start_simhash_index_stream,
    )

    work = tempfile.mkdtemp(prefix="shmcdc_")
    src, docs = _band_meta_cdc_src(spark, sf_dir, work)
    path = os.path.join(work, "idx")
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, op string, seq long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = start_simhash_index_stream(
        stream, path, os.path.join(work, "ck"),
        seq_col="seq", store_cols=["lang"],
    )
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("simhash meta CDC stream did not drain")
    probe = docs.filter("doc_id % 7 = 1").select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    out = simhash_index_query(
        spark, path, probe, max_hamming=3, where="lang == 'en'"
    ).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_ann_add_metadata_cols2(spark, sf_dir):
    """MULTI-COLUMN evolution (r17): the ann_add_metadata_col
    lifecycle but TWO new columns (label + par := vec_id % 2) land in
    ONE add_metadata_col call — one O(index) rewrite, one
    compaction-shaped commit, ONE new segment (the IO lock is
    pytest-gated in tests/test_metadata_evolution.py) — and serving
    where= over BOTH columns must equal the fresh two-column build,
    i.e. the ann_where_topk oracle with the parity conjunct added to
    its candidate scope."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_add,
        ann_index_add_metadata_col,
        ann_index_build,
        ann_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="annamc2_")
    path = os.path.join(work, "idx")
    ann_index_build(
        emb.filter(F.col("vec_id") % 2 == 0).select(
            "vec_id", "embedding"
        ),
        path, n_cells=8, m=8, n_codes=16,
    )
    ann_index_add(
        emb.filter(F.col("vec_id") % 2 == 1).select(
            "vec_id", "embedding"
        ),
        path,
    )
    ann_index_add_metadata_col(
        spark, path,
        emb.select(
            "vec_id", "label",
            (F.col("vec_id") % 2).cast("int").alias("par"),
        ),
    )
    qs = emb.filter(F.col("vec_id") < 3)
    out = (
        ann_index_topk(
            spark, path, qs, k=5, nprobe=2,
            where="label in [0, 2, 4] and par == 1",
        )
        .select("query_id", "vec_id", "pq_score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_bm25_drop_metadata_col(spark, sf_dir):
    """The PRUNE leg (r17): build the bm25_where_topk index with an
    EXTRA stored column (grade := doc_id % 3), then
    bm25_index_drop_metadata_col removes it — every visible posting
    row rewritten without the column, one compaction-shaped commit
    shrinking params.store_cols. Serving where="lang == 'en'"
    afterwards must equal the build that never had grade, so the
    oracle is bm25_where_topk's SQL verbatim."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_drop_metadata_col,
        bm25_index_topk,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang",
        (F.col("doc_id") % 3).cast("int").alias("grade"),
    )
    work = tempfile.mkdtemp(prefix="bmdrop_")
    path = os.path.join(work, "idx")
    bm25_index_build(
        docs, path, n_buckets=8, store_cols=["lang", "grade"]
    )
    bm25_index_drop_metadata_col(spark, path, "grade")
    out = (
        bm25_index_topk(
            spark, path, "stream merge window", k=10,
            where="lang == 'en'",
        )
        .select("doc_id", "score", "rank")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_minhash_drop_metadata_col(spark, sf_dir):
    """The band-family prune leg (r17): the minhash_where_query index
    built with an extra grade column, dropped via
    minhash_index_drop_metadata_col (shared _band_index.drop_metadata_col —
    signatures carried, nothing re-shingled); post-drop where serving
    equals the build that never stored grade, so the oracle is
    minhash_where_query's SQL verbatim."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.dedup import (
        minhash_index_drop_metadata_col,
        minhash_index_query,
        minhash_index_write,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang",
        (F.col("doc_id") % 3).cast("int").alias("grade"),
    )
    work = tempfile.mkdtemp(prefix="mhdrop_")
    path = os.path.join(work, "idx")
    minhash_index_write(
        docs.filter("doc_id % 2 = 0"), path,
        num_hashes=64, bands=16, store_cols=["lang", "grade"],
    )
    minhash_index_drop_metadata_col(spark, path, "grade")
    out = (
        minhash_index_query(
            spark, path, docs.filter("doc_id % 2 = 1"),
            threshold=0.5, where="lang == 'en'",
        )
        .select(
            "id_indexed",
            "id_new",
            _pround(F.col("est_jaccard")).alias("est_jaccard"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_ann_retrain_equiv(spark, sf_dir):
    """Retrain-from-stored-vectors gate: grow an index far past its
    training corpus (build on the even ids, add the odds under the
    FROZEN model), then ann_index_retrain — the refit model and
    re-encoded codes must serve BIT-IDENTICALLY (scores and ranks)
    to a from-scratch ann_index_build over the full corpus:
    hash-seeded centroids/codebooks depend only on ids and float64
    vector values, and the stored vectors are exact. Returns the
    symmetric difference; expected empty."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_add,
        ann_index_build,
        ann_index_retrain,
        ann_index_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="annrt_")
    k = F.col("vec_id")
    grown, fresh = os.path.join(work, "grown"), os.path.join(work, "fresh")
    ann_index_build(
        emb.filter(k % 2 == 0), grown,
        n_cells=8, m=8, n_codes=16, store_vectors=True,
    )
    ann_index_add(emb.filter(k % 2 == 1), grown)
    ann_index_retrain(spark, grown)
    ann_index_build(
        emb, fresh, n_cells=8, m=8, n_codes=16, store_vectors=True,
    )
    qs = emb.filter(k < 3)
    cols = ["query_id", "vec_id", "pq_score", "rank"]
    a = (
        ann_index_topk(spark, grown, qs, k=5, nprobe=2)
        .select(*cols)
        .localCheckpoint(eager=True)
    )
    b = (
        ann_index_topk(spark, fresh, qs, k=5, nprobe=2)
        .select(*cols)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    only_a = a.join(b, cols, "left_anti").withColumn(
        "side", F.lit("retrained_only")
    )
    only_b = b.join(a, cols, "left_anti").withColumn(
        "side", F.lit("fresh_only")
    )
    return only_a.unionByName(only_b)


def _facade_sym(via, direct, cols, fam):
    """Symmetric difference of a facade-served vs directly-served
    result — the shared tail of the per-family facade gates. Any row
    is a dispatch bug; expected empty."""
    out = via.join(direct, cols, "left_anti").select(
        F.lit(fam).alias("family"),
        F.col(cols[0]).cast("long").alias("probe_id"),
        F.lit("facade_only").alias("side"),
    )
    back = direct.join(via, cols, "left_anti").select(
        F.lit(fam).alias("family"),
        F.col(cols[0]).cast("long").alias("probe_id"),
        F.lit("direct_only").alias("side"),
    )
    return out.unionByName(back)


def q_facade_dispatch_ann(spark, sf_dir):
    """open_index facade gate, ANN family (r17: the 12-job/4-build
    facade_dispatch_equiv bundle split per family so each entry has
    a small fixed cost and a regression localizes): the
    family-agnostic handle must serve BIT-IDENTICALLY to
    ann_index_topk on the same prebuilt index. Expected empty."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_build,
        ann_index_topk,
    )
    from parq_tools_spark.operators.index_facade import open_index

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="facade_a_")
    ap = os.path.join(work, "ann")
    ann_index_build(emb, ap, n_cells=8, m=8, n_codes=16)
    qs = emb.filter(F.col("vec_id") < 3)
    cols = ["query_id", "vec_id", "pq_score", "rank"]
    via = (
        open_index(spark, ap).query(qs, k=5, nprobe=2)
        .select(*cols).localCheckpoint(eager=True)
    )
    direct = (
        ann_index_topk(spark, ap, qs, k=5, nprobe=2)
        .select(*cols).localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return _facade_sym(via, direct, cols, "ann")


def q_facade_dispatch_bm25(spark, sf_dir):
    """open_index facade gate, BM25 family — facade handle vs
    bm25_index_topk on the same prebuilt index. Expected empty."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.index_facade import open_index
    from parq_tools_spark.operators.search import (
        bm25_index_build,
        bm25_index_topk,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="facade_b_")
    bp = os.path.join(work, "bm25")
    bm25_index_build(docs, bp, n_buckets=8)
    cols = ["doc_id", "score", "rank"]
    via = (
        open_index(spark, bp).query("stream merge window", k=10)
        .select(*cols).localCheckpoint(eager=True)
    )
    direct = (
        bm25_index_topk(spark, bp, "stream merge window", k=10)
        .select(*cols).localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return _facade_sym(via, direct, cols, "bm25")


def q_facade_dispatch_minhash(spark, sf_dir):
    """open_index facade gate, MinHash family — facade handle vs
    minhash_index_query on the same prebuilt index. Expected
    empty."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.dedup import (
        minhash_index_query,
        minhash_index_write,
    )
    from parq_tools_spark.operators.index_facade import open_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="facade_m_")
    mp = os.path.join(work, "mh")
    seed = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    minhash_index_write(seed, mp, num_hashes=32, bands=8)
    cols = ["id_indexed", "id_new", "est_jaccard"]
    via = (
        open_index(spark, mp).query(batch, threshold=0.5)
        .select(*cols).localCheckpoint(eager=True)
    )
    direct = (
        minhash_index_query(spark, mp, batch, threshold=0.5)
        .select(*cols).localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return _facade_sym(via, direct, cols, "minhash")


def q_facade_dispatch_simhash(spark, sf_dir):
    """open_index facade gate, SimHash family — facade handle vs
    simhash_index_query on the same prebuilt index. Expected
    empty."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.index_facade import open_index
    from parq_tools_spark.operators.simhash_index import (
        simhash_index_query,
        simhash_index_write,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="facade_s_")
    sp = os.path.join(work, "sh")
    seed = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    simhash_index_write(seed, sp)
    cols = ["id_indexed", "id_new", "hamming"]
    via = (
        open_index(spark, sp).query(batch, max_hamming=3)
        .select(*cols).localCheckpoint(eager=True)
    )
    direct = (
        simhash_index_query(spark, sp, batch, max_hamming=3)
        .select(*cols).localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return _facade_sym(via, direct, cols, "simhash")



def q_auto_compact_equiv(spark, sf_dir):
    """Stats-driven auto-compaction gate: grow a BM25 index in three
    appends plus a tombstone batch, let bm25_index_maybe_compact fold
    on the breached segment bound (force-path: per-bucket file counts
    sit BELOW min_files_per_bucket, so only the stats trigger can
    fold), and compare serving against a from-scratch build over the
    resolved corpus. The maybe_compact call must return True, fold to
    ONE segment, clear the tombstones, and change NOTHING about
    scores. Returns the symmetric difference; expected empty."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.search import (
        bm25_index_add,
        bm25_index_build,
        bm25_index_delete,
        bm25_index_maybe_compact,
        bm25_index_stats,
        bm25_index_topk,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="autocompact_")
    grown, fresh = os.path.join(work, "grown"), os.path.join(work, "f")
    k = F.col("doc_id")
    bm25_index_build(docs.filter(k % 3 == 0), grown, n_buckets=8)
    for i in (1, 2):
        bm25_index_add(docs.filter(k % 3 == i), grown)
    dead = [r.doc_id for r in docs.filter(k % 10 == 0).collect()]
    bm25_index_delete(spark, grown, dead)
    folded = bm25_index_maybe_compact(
        spark, grown, max_segments=2, max_tombstone_frac=0.0
    )
    st = bm25_index_stats(spark, grown)
    if not folded or st["n_segments"] != 1 or st["pending_delete_batches"]:
        raise AssertionError(
            f"auto-compaction did not fold: ran={folded}, stats={st}"
        )
    bm25_index_build(docs.filter(k % 10 != 0), fresh, n_buckets=8)
    cols = ["doc_id", "score", "rank"]
    a = (
        bm25_index_topk(spark, grown, "customer value table", k=10)
        .select(*cols).localCheckpoint(eager=True)
    )
    b = (
        bm25_index_topk(spark, fresh, "customer value table", k=10)
        .select(*cols).localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    only_a = a.join(b, cols, "left_anti").withColumn(
        "side", F.lit("compacted_only")
    )
    only_b = b.join(a, cols, "left_anti").withColumn(
        "side", F.lit("fresh_only")
    )
    return only_a.unionByName(only_b)


def q_ann_index_stream_equiv(spark, sf_dir):
    """Streaming ANN index maintenance gate: a 3-micro-batch CDC
    stream (bootstrap-build on the even ids' inserts, insert odds,
    then update %10==4 / delete %10==0) must leave an index serving
    BIT-IDENTICALLY to the batch path (ann_index_build on the same
    seed + ann_index_apply_cdc of the same changes) — same bootstrap
    corpus => same frozen hash-seeded model => same codes, scores and
    ranks. Returns the symmetric difference of the two served top-k
    result sets; expected empty."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.ann_index import (
        ann_index_apply_cdc,
        ann_index_build,
        ann_index_topk,
    )
    from parq_tools_spark.streaming.index_sink import (
        start_ann_index_stream,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    k = F.col("vec_id")
    schema = "vec_id long, embedding array<double>, op string, seq long"
    b0 = emb.filter(k % 2 == 0).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.lit("I").alias("op"),
        F.lit(0).alias("seq"),
    )
    b1 = emb.filter(k % 2 == 1).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    b2 = emb.filter(k % 10 == 4).select(
        "vec_id",
        F.reverse(F.col("embedding").cast("array<double>")).alias(
            "embedding"
        ),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    ).unionByName(
        emb.filter(k % 10 == 0).select(
            "vec_id",
            F.lit(None).cast("array<double>").alias("embedding"),
            F.lit("D").alias("op"),
            F.lit(2).alias("seq"),
        )
    )
    work = tempfile.mkdtemp(prefix="annstream_")
    src = os.path.join(work, "cdc")
    for i, b in enumerate([b0, b1, b2]):
        b.coalesce(1).write.parquet(os.path.join(src, f"f{i}"))

    stream_idx = os.path.join(work, "sidx")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q = start_ann_index_stream(
        stream,
        stream_idx,
        os.path.join(work, "ck"),
        seq_col="seq",
        n_cells=8,
        m=8,
        n_codes=16,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("ann index stream did not drain in 300s")

    from parq_tools_spark.sources.parquet_io import read_parquet

    batch_idx = os.path.join(work, "bidx")
    ann_index_build(
        read_parquet(spark, os.path.join(src, "f0")).select(
            "vec_id", "embedding"
        ),
        batch_idx,
        n_cells=8,
        m=8,
        n_codes=16,
    )
    for f in ("f1", "f2"):
        ann_index_apply_cdc(
            spark,
            batch_idx,
            read_parquet(spark, os.path.join(src, f)),
            seq_col="seq",
        )
    qs = emb.filter(k < 3)
    cols = ["query_id", "vec_id", "pq_score", "rank"]
    a = (
        ann_index_topk(spark, stream_idx, qs, k=5, nprobe=2)
        .select(*cols)
        .localCheckpoint(eager=True)
    )
    b = (
        ann_index_topk(spark, batch_idx, qs, k=5, nprobe=2)
        .select(*cols)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    only_a = a.join(b, cols, "left_anti").withColumn(
        "side", F.lit("stream_only")
    )
    only_b = b.join(a, cols, "left_anti").withColumn(
        "side", F.lit("batch_only")
    )
    return only_a.unionByName(only_b)


def q_semantic_dedupe(spark, sf_dir):
    """SemDeDup-style semantic dedup: within hash-seeded cells, drop
    every vector with a lower-id neighbor at rounded cosine >= 0.35
    (threshold chosen so the sf0.01 fixture actually drops rows)."""
    from parq_tools_spark.operators.similarity import semantic_dedupe

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedupe(emb, threshold=0.35, n_cells=8).select("vec_id")


def q_semantic_stream_dedup(spark, sf_dir):
    """Streaming semantic admission replayed deterministically: the
    embeddings table arrives as three micro-batches (vec_id % 3).
    Batch 0 BOOTSTRAPS the persisted ANN index — model frozen on the
    full batch, within-batch lower-id rule under it, only survivors
    committed in one atomic manifest commit
    (semantic_dedupe_bootstrap, the exact first-non-empty-batch path
    of streaming.near_dedup.start_semantic_dedupe_stream) — then
    batches 1 and 2 admit against previously ADMITTED survivors only
    (semantic_dedupe_incremental, update_index=True, served from the
    index's cell-pruned stored vectors; the corpus is never re-read).
    Returns the admitted set stamped with its admission batch. The
    oracle replicates the frozen hash-seeded batch-0 centroids and
    folds the per-batch admission rule in static SQL."""
    import shutil
    import tempfile
    from functools import reduce

    from parq_tools_spark.operators.ann_index import (
        semantic_dedupe_bootstrap,
        semantic_dedupe_incremental,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    work = tempfile.mkdtemp(prefix="semstream_")
    idx = os.path.join(work, "idx")
    k = F.col("vec_id") % 3
    s0 = semantic_dedupe_bootstrap(
        emb.filter(k == 0), idx, threshold=0.35, n_cells=8
    )
    admitted = [s0.select("vec_id").withColumn("batch", F.lit(0))]
    for i in (1, 2):
        s = semantic_dedupe_incremental(
            spark, idx, emb.filter(k == i), threshold=0.35,
            update_index=True,
        )
        admitted.append(
            s.select("vec_id").withColumn("batch", F.lit(i))
        )
    out = reduce(DataFrame.unionByName, admitted).localCheckpoint(
        eager=True
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def q_repetition_lines(spark, sf_dir):
    """C4-style line repetition signals over the derived line
    structure (newline after every 3rd token, the same chunking the
    paragraph-dedup query uses)."""
    from parq_tools_spark.operators.repetition import (
        with_line_repetition_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chunked = docs.withColumn(
        "text", F.regexp_replace("text", r"((?:\S+ ){2}\S+) ", "$1\n")
    )
    out = with_line_repetition_stats(chunked, sep="\n")
    return out.select(
        "doc_id",
        "n_lines",
        _pround(F.col("frac_dup_lines")).alias("frac_dup_lines"),
        _pround(F.col("frac_bullet_lines")).alias("frac_bullet_lines"),
        _pround(F.col("frac_ellipsis_lines")).alias("frac_ellipsis_lines"),
    )


def q_minhash_index_cdc(spark, sf_dir):
    """CDC symmetry gate for the MinHash index: build over a corpus
    where the %10==4 docs carry corrupted text and the odd ids are
    missing, then apply ONE change log (U the corrupted, D the
    %10==0, I the odds) via minhash_index_apply_cdc — the maintained
    index must answer a probe batch EXACTLY like a from-scratch index
    on the resolved corpus (signatures are deterministic md5, so row
    equality, not just set overlap). Returns the symmetric
    difference; expected empty."""
    import shutil
    import tempfile

    from parq_tools_spark.operators.dedup import (
        minhash_index_apply_cdc,
        minhash_index_query,
        minhash_index_write,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    corrupted = docs.filter(k % 2 == 0).select(
        "doc_id",
        F.when(
            k % 10 == 4, F.concat(F.lit("zz zz zz "), F.col("text"))
        ).otherwise(F.col("text")).alias("text"),
    )
    changes = (
        docs.filter(k % 10 == 4).select(
            "doc_id", "text", F.lit("U").alias("op"), F.lit(1).alias("seq")
        )
        .unionByName(
            docs.filter(k % 10 == 0).select(
                "doc_id",
                F.lit(None).cast("string").alias("text"),
                F.lit("D").alias("op"),
                F.lit(1).alias("seq"),
            )
        )
        .unionByName(
            docs.filter(k % 2 == 1).select(
                "doc_id", "text", F.lit("I").alias("op"), F.lit(1).alias("seq")
            )
        )
    )
    resolved = docs.filter(k % 10 != 0)
    probe = docs.filter(k % 7 == 1).select(
        (k + F.lit(1000000)).alias("doc_id"), "text"
    )

    work = tempfile.mkdtemp(prefix="mhcdc_")
    maintained = os.path.join(work, "cdc_idx")
    fresh = os.path.join(work, "fresh_idx")
    minhash_index_write(corrupted, maintained, num_hashes=64, bands=16)
    minhash_index_apply_cdc(spark, maintained, changes, seq_col="seq")
    minhash_index_write(resolved, fresh, num_hashes=64, bands=16)

    def q(path):
        return minhash_index_query(
            spark, path, probe, threshold=0.8
        ).select(
            "id_indexed",
            "id_new",
            _pround(F.col("est_jaccard")).alias("est_jaccard"),
        )

    cols = ["id_indexed", "id_new", "est_jaccard"]
    a = q(maintained).localCheckpoint(eager=True)
    b = q(fresh).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    only_a = a.join(b, cols, "left_anti").withColumn(
        "side", F.lit("cdc_only")
    )
    only_b = b.join(a, cols, "left_anti").withColumn(
        "side", F.lit("fresh_only")
    )
    return only_a.unionByName(only_b)


def q_minhash_incremental(spark, sf_dir):
    """Incremental dedup primitive: MinHash pairs BETWEEN an indexed
    corpus (even doc_ids) and a new batch (odd doc_ids) — the indexed
    side's band rows come precomputed from the persistent index in
    production (minhash_index_write/query), so a new batch dedupes
    against the corpus without re-shingling it."""
    from parq_tools_spark.operators.dedup import minhash_pairs_between

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    indexed = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    out = minhash_pairs_between(
        indexed, new, num_hashes=64, bands=16, threshold=0.5
    )
    return out.select(
        "id_indexed",
        "id_new",
        _pround(F.col("est_jaccard")).alias("est_jaccard"),
    )


# =====================================================================
# Contract
# =====================================================================
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_tpch_q1(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordered so the driver's 50-row check window covers the queries
    with the least accumulated driver evidence first: the NINE entries
    NEW in round 17 (band-family CDC sinks with cold store_cols
    bootstrap, multi-column backfill, the drop_metadata_col prune leg,
    and the facade gate split per family so each has a small fixed
    cost — the old 4-build facade_dispatch_equiv bundle is retired,
    fully subsumed by the splits), then every entry whose code changed
    this round (the shared backfill helpers behind all four
    add_metadata_col paths, merge.apply_cdc's 'M' support behind
    cdc_apply, the admission/CDC sinks, the bm25_meta_cdc_stream
    mtime fix), then the entries whose last DIRECT driver row is
    oldest (the r11-r13-era ANN equivalence/PQ family, hybrid,
    chunk/pack/sampling and zorder tail). Everything past position 50
    was driver-checked green in recent rounds on code unchanged
    since, and the whole registry is re-proven by the at-HEAD sf0.1
    oracle sweep each round.
    """
    return {
        # --- positions 1-50 = the driver check window for r17 ---
        # 1-9: NEW this round (band CDC sinks, multi-col backfill,
        # the prune leg, the per-family facade gates)
        "minhash_meta_cdc_stream": q_minhash_meta_cdc_stream,
        "simhash_meta_cdc_stream": q_simhash_meta_cdc_stream,
        "ann_add_metadata_cols2": q_ann_add_metadata_cols2,
        "bm25_drop_metadata_col": q_bm25_drop_metadata_col,
        "minhash_drop_metadata_col": q_minhash_drop_metadata_col,
        "facade_dispatch_ann": q_facade_dispatch_ann,
        "facade_dispatch_bm25": q_facade_dispatch_bm25,
        "facade_dispatch_minhash": q_facade_dispatch_minhash,
        "facade_dispatch_simhash": q_facade_dispatch_simhash,
        # 10-19: code changed this round (shared backfill helpers,
        # merge.apply_cdc 'M' fold, admission/CDC sink bootstrap,
        # ordered-mtime CDC files)
        "ann_add_metadata_col": q_ann_add_metadata_col,
        "bm25_add_metadata_col": q_bm25_add_metadata_col,
        "minhash_add_metadata_col": q_minhash_add_metadata_col,
        "simhash_add_metadata_col": q_simhash_add_metadata_col,
        "bm25_meta_cdc_stream": q_bm25_meta_cdc_stream,
        "cdc_apply": q_cdc_apply,
        "semantic_stream_dedup": q_semantic_stream_dedup,
        "bm25_index_stream": q_bm25_index_stream,
        "ann_index_stream_equiv": q_ann_index_stream_equiv,
        "minhash_index_cdc": q_minhash_index_cdc,
        # 20-50: stalest direct driver evidence (the r11-r13-era
        # ANN equivalence/PQ family, hybrid, chunk/pack/sampling,
        # zorder)
        "ann_index_equiv": q_ann_index_equiv,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_pq_exact_equiv": q_ann_pq_exact_equiv,
        "ann_opq_exact_equiv": q_ann_opq_exact_equiv,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "ann_ivfpq_equiv": q_ann_ivfpq_equiv,
        "ann_opq_ivfpq_equiv": q_ann_opq_ivfpq_equiv,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_hash_topk": q_ann_ivf_hash_topk,
        "ann_ivf_fullprobe_equiv": q_ann_ivf_fullprobe_equiv,
        "ann_refine_topk": q_ann_refine_topk,
        "hybrid_from_index": q_hybrid_from_index,
        "hybrid_index_wsum": q_hybrid_index_wsum,
        "hybrid_index_batch": q_hybrid_index_batch,
        "hybrid_refined_lossy": q_hybrid_refined_lossy,
        "hybrid_rrf_topk": q_hybrid_rrf_topk,
        "hybrid_wsum_topk": q_hybrid_wsum_topk,
        "hybrid_batch_rrf": q_hybrid_batch_rrf,
        "chunk_sentences": q_chunk_sentences,
        "chunk_documents": q_chunk_documents,
        "pack_shards": q_pack_shards,
        "zorder_cells": q_zorder_cells,
        "weighted_sample": q_weighted_sample,
        "stratified_sample": q_stratified_sample,
        "mixture_sample": q_mixture_sample,
        "deterministic_sample": q_deterministic_sample,
        "hash_split": q_hash_split,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_lsh_recall_check": q_ann_lsh_recall_check,
        "ann_topk": q_ann_topk,
        "semantic_dedupe": q_semantic_dedupe,
        # --- past the window: driver-checked green in recent
        # rounds on code unchanged since (the at-HEAD sf0.1 sweep
        # covers every entry each round) ---
        "ann_update_metadata": q_ann_update_metadata,
        "bm25_update_metadata": q_bm25_update_metadata,
        "contamination_from_index": q_contamination_from_index,
        "minhash_where_query": q_minhash_where_query,
        "simhash_where_query": q_simhash_where_query,
        "bm25_from_index_batch": q_bm25_from_index_batch,
        "auto_compact_equiv": q_auto_compact_equiv,
        "bm25_index_upsert": q_bm25_index_upsert,
        "bm25_index_delete": q_bm25_index_delete,
        "ann_index_delete": q_ann_index_delete,
        "minhash_index_delete": q_minhash_index_delete,
        "minhash_incremental": q_minhash_incremental,
        "ann_where_topk": q_ann_where_topk,
        "bm25_where_topk": q_bm25_where_topk,
        "ann_filtered_topk": q_ann_filtered_topk,
        "bm25_filtered_topk": q_bm25_filtered_topk,
        "ann_from_index": q_ann_from_index,
        "bm25_index_build": q_bm25_index_build,
        "simhash_index_query": q_simhash_index_query,
        "minhash_pairs": q_minhash_pairs,
        "bm25_index_time_travel": q_bm25_index_time_travel,
        "filter_dsl": q_filter_dsl,
        "filter_in_list": q_filter_in_list,
        "concat_tall": q_concat_tall,
        "concat_tall_schema_evolution": q_concat_tall_schema_evolution,
        "concat_wide": q_concat_wide,
        "concat_with_dataframe": q_concat_with_dataframe,
        "sort_multi": q_sort_multi,
        "reindex": q_reindex,
        "dedupe_keep_first": q_dedupe_keep_first,
        "dedupe_exact": q_dedupe_exact,
        "profile": q_profile,
        "rename": q_rename,
        "calculated_column": q_calculated_column,
        "blockmodel": q_blockmodel,
        "compare_tables": q_compare_tables,
        "memory_report": q_memory_report,
        "near_dedupe_cc": q_near_dedupe_cc,
        "dedupe_pairwise": q_dedupe_pairwise,
        "dedupe_text_exact": q_dedupe_text_exact,
        "token_count_bpe": q_token_count_bpe,
        "minhash_precision_check": q_minhash_precision_check,
        "ngram_jaccard": q_ngram_jaccard,
        "contamination": q_contamination,
        "simhash_pairs": q_simhash_pairs,
        "events_hourly": q_events_hourly,
        "events_sessionize": q_events_sessionize,
        "events_json": q_events_json,
        "pivot_events": q_pivot_events,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "incremental_revenue": q_incremental_revenue,
        "incremental_retention": q_incremental_retention,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_features": q_multimodal_features,
        "multimodal_resize": q_multimodal_resize,
        "video_pipeline": q_video_pipeline,
        "pii_redact": q_pii_redact,
        "clean_text": q_clean_text,
        "group_overlap": q_group_overlap,
        "ann_retrain_equiv": q_ann_retrain_equiv,
        "bm25_from_index": q_bm25_from_index,
        "bm25_index_phrase": q_bm25_index_phrase,
        "paragraph_dedupe": q_paragraph_dedupe,
        "merge_upsert": q_merge_upsert,
        "salted_join": q_salted_join,
        "key_skew": q_key_skew,
        "data_quality_checks": q_data_quality_checks,
        "gopher_full_filter": q_gopher_full_filter,
        "word_repetition": q_word_repetition,
        "repetition_lines": q_repetition_lines,
        "repetition_ngram": q_repetition_ngram,
        "gopher_filter": q_gopher_filter,
        "text_stats": q_text_stats,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "bm25_search": q_bm25_search,
        "bm25_and_search": q_bm25_and_search,
        "bm25_phrase_search": q_bm25_phrase_search,
        "tpch_q2": q_tpch_q2,
        "tpch_q4": q_tpch_q4,
        "tpch_q9": q_tpch_q9,
        "tpch_q11": q_tpch_q11,
        "tpch_q12": q_tpch_q12,
        "tpch_q16": q_tpch_q16,
        "tpch_q20": q_tpch_q20,
        "tpch_q21": q_tpch_q21,
        "window_running": q_window_running,
        "cube_revenue": q_cube_revenue,
        "rollup_revenue": q_rollup_revenue,
        "part_stats": q_part_stats,
        "c4_filter": q_c4_filter,
        "bm25_batch": q_bm25_batch,
        "tpch_q1": q_tpch_q1,
        "tpch_q5": q_tpch_q5,
        "window_analytics": q_window_analytics,
        "grouping_sets_revenue": q_grouping_sets_revenue,
        "pipeline_e2e": q_pipeline_e2e,
        "embedding_sim_pairs": q_embedding_sim_pairs,
        "embedding_sim_pairs_blocked": q_embedding_sim_pairs_blocked,
        "simhash_precision_check": q_simhash_precision_check,
        "tpch_q3": q_tpch_q3,
        "tpch_q6": q_tpch_q6,
        "tpch_q7": q_tpch_q7,
        "tpch_q8": q_tpch_q8,
        "tpch_q10": q_tpch_q10,
        "tpch_q13": q_tpch_q13,
        "tpch_q14": q_tpch_q14,
        "tpch_q15": q_tpch_q15,
        "tpch_q17": q_tpch_q17,
        "tpch_q18": q_tpch_q18,
        "tpch_q19": q_tpch_q19,
        "tpch_q22": q_tpch_q22,
        "ngram_freq": q_ngram_freq,
        "token_count_by_lang": q_token_count_by_lang,
    }


_STOP_RE = r"\b(the|and|of|to|in|a|is|that|for|it)\b"
_SHINGLES_CTE = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
         ELSE [array_to_string(t, ' ')] END)) AS shingle
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jac AS (
  SELECT id1, id2,
         CAST(n_inter AS DOUBLE) / (s1.n_sh + s2.n_sh - n_inter) AS j
  FROM inter
  JOIN sizes s1 ON s1.doc_id = id1
  JOIN sizes s2 ON s2.doc_id = id2
)
"""


def _gopher_full_sql() -> str:
    """The gopher_full_filter oracle: quality half (the gopher_filter
    expressions over the line-chunked text) + every Table-A1
    repetition signal. The dup-char signals mirror the Spark side's
    linear sorted-neighbor lambdas (DuckDB indexed list_filter is
    1-based where Spark's is 0-based); the three top-n-gram counts
    use unnest + groupBy + rank, whose (count desc, gram asc) order
    equals the Spark fold's first-max-in-sorted-order tie-break."""

    def dup_cond(arr: str) -> str:
        return (
            f"(i > 1 AND {arr}[i-1] = x) OR "
            f"(i < len({arr}) AND {arr}[i+1] = x)"
        )

    def dup_count(arr: str) -> str:
        return f"len(list_filter({arr}, (x, i) -> {dup_cond(arr)}))"

    def dup_chars(arr: str) -> str:
        return (
            f"coalesce(list_sum(list_transform(list_filter({arr}, "
            f"(x, i) -> {dup_cond(arr)}), x -> length(x))), 0)"
        )

    def all_chars(arr: str) -> str:
        return (
            f"coalesce(list_sum(list_transform({arr}, "
            f"x -> length(x))), 0)"
        )

    def dup_frac_expr(arr: str, alias: str) -> str:
        return (
            f"CASE WHEN {all_chars(arr)} > 0 THEN "
            f"CAST({dup_chars(arr)} AS DOUBLE) / "
            f"CAST({all_chars(arr)} AS DOUBLE) ELSE 0.0 END AS {alias}"
        )

    gram_ctes = []
    for n in range(2, 11):
        terms = " || ' ' || ".join(
            "toks[i]" if j == 0 else f"toks[i+{j}]" for j in range(n)
        )
        gram_ctes.append(
            f"g{n} AS (SELECT doc_id, CASE WHEN len(toks) >= {n} THEN"
            f" list_sort([{terms} FOR i IN"
            f" range(1, len(toks) - {n - 2})])"
            f" ELSE CAST([] AS VARCHAR[]) END AS s FROM base)"
        )
    top_ctes = []
    for n in (2, 3, 4):
        top_ctes.append(
            f"e{n} AS (SELECT doc_id, unnest(s) AS gram FROM g{n}),\n"
            f"c{n} AS (SELECT doc_id, gram, count(*) AS c FROM e{n}"
            f" GROUP BY 1, 2),\n"
            f"r{n} AS (SELECT doc_id, c * length(gram) AS tc,"
            f" row_number() OVER (PARTITION BY doc_id"
            f" ORDER BY c DESC, gram ASC) AS rn FROM c{n}),\n"
            f"t{n} AS (SELECT doc_id, max(tc) FILTER (rn = 1)"
            f" AS topchars FROM r{n} GROUP BY doc_id)"
        )
    dup_ctes = [
        f"d{n} AS (SELECT doc_id, "
        + dup_frac_expr("s", f"dup_{n}gram_char_frac")
        + f" FROM g{n})"
        for n in (5, 6, 7, 8, 9, 10)
    ]
    req = " + ".join(
        f"CAST(regexp_matches(low, '\\b{w}\\b') AS INT)"
        for w in (
            "the", "be", "to", "of", "and", "that", "have", "with",
        )
    )
    rep_bounds = [
        ("dup_line_frac", 0.30),
        ("dup_para_frac", 0.30),
        ("dup_line_char_frac", 0.20),
        ("dup_para_char_frac", 0.20),
        ("top_2gram_char_frac", 0.20),
        ("top_3gram_char_frac", 0.18),
        ("top_4gram_char_frac", 0.16),
        ("dup_5gram_char_frac", 0.15),
        ("dup_6gram_char_frac", 0.14),
        ("dup_7gram_char_frac", 0.13),
        ("dup_8gram_char_frac", 0.12),
        ("dup_9gram_char_frac", 0.11),
        ("dup_10gram_char_frac", 0.10),
    ]
    rep_pass = " AND ".join(f"{c} <= {b}" for c, b in rep_bounds)
    rep_names = [c for c, _ in rep_bounds]
    ratio_cols = [
        "mean_word_len", "symbol_word_ratio", "bullet_line_ratio",
        "ellipsis_line_ratio", "alpha_word_ratio",
    ]
    rounded = ",\n       ".join(
        f"floor({c} * 1e6 + 0.5) / 1e6 AS {c}"
        for c in ratio_cols
        + [
            "dup_line_frac", "dup_line_char_frac",
            "dup_para_frac", "dup_para_char_frac",
        ]
        + [f"top_{n}gram_char_frac" for n in (2, 3, 4)]
        + [f"dup_{n}gram_char_frac" for n in (5, 6, 7, 8, 9, 10)]
    )
    return f"""
WITH chunked AS (
  SELECT doc_id,
         regexp_replace(coalesce(text, ''), '((?:\\S+ ){{2}}\\S+) ',
             '\\1' || chr(10), 'g') AS t
  FROM documents
),
base AS (
  SELECT doc_id, t,
         greatest(length(t), 1) AS nc,
         CASE WHEN trim(t) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(t), '\\s+') END AS toks,
         list_filter(string_split_regex(t, '\\s+'),
             x -> x <> '') AS words,
         list_filter(string_split(t, chr(10)), x -> x <> '') AS lines,
         list_filter(string_split_regex(t, '\\n{{2,}}'),
             x -> x <> '') AS paras,
         lower(t) AS low
  FROM chunked
),
q AS (
  SELECT doc_id,
         len(words) AS n_words,
         CAST(coalesce(list_sum(list_transform(words,
              x -> length(x))), 0) AS DOUBLE)
           / greatest(len(words), 1) AS mean_word_len,
         CAST(len(regexp_extract_all(t, '#'))
              + len(regexp_extract_all(t, '\\.\\.\\.')) AS DOUBLE)
           / greatest(len(words), 1) AS symbol_word_ratio,
         CAST(len(list_filter(lines, l ->
              regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE)
           / greatest(len(lines), 1) AS bullet_line_ratio,
         CAST(len(list_filter(lines, l ->
              regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE)
           / greatest(len(lines), 1) AS ellipsis_line_ratio,
         CAST(len(list_filter(words, x ->
              regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
           / greatest(len(words), 1) AS alpha_word_ratio,
         {req} AS n_required_words
  FROM base
),
lp0 AS (
  SELECT doc_id,
         list_sort(lines) AS sl, len(lines) AS nl,
         list_sort(paras) AS sp, len(paras) AS np
  FROM base
),
lpm AS (
  SELECT doc_id,
         CAST({dup_count('sl')} AS DOUBLE)
           / greatest(nl, 1) AS dup_line_frac,
         {dup_frac_expr('sl', 'dup_line_char_frac')},
         CAST({dup_count('sp')} AS DOUBLE)
           / greatest(np, 1) AS dup_para_frac,
         {dup_frac_expr('sp', 'dup_para_char_frac')}
  FROM lp0
),
{','.join(gram_ctes)},
{','.join(top_ctes)},
{','.join(dup_ctes)},
vals AS (
  SELECT b.doc_id, q.n_words, q.mean_word_len, q.symbol_word_ratio,
         q.bullet_line_ratio, q.ellipsis_line_ratio,
         q.alpha_word_ratio, q.n_required_words,
         lpm.dup_line_frac, lpm.dup_line_char_frac,
         lpm.dup_para_frac, lpm.dup_para_char_frac,
         coalesce(CAST(t2.topchars AS DOUBLE) / b.nc, 0.0)
           AS top_2gram_char_frac,
         coalesce(CAST(t3.topchars AS DOUBLE) / b.nc, 0.0)
           AS top_3gram_char_frac,
         coalesce(CAST(t4.topchars AS DOUBLE) / b.nc, 0.0)
           AS top_4gram_char_frac,
         d5.dup_5gram_char_frac, d6.dup_6gram_char_frac,
         d7.dup_7gram_char_frac, d8.dup_8gram_char_frac,
         d9.dup_9gram_char_frac, d10.dup_10gram_char_frac
  FROM base b
  JOIN q USING (doc_id)
  JOIN lpm USING (doc_id)
  JOIN d5 USING (doc_id) JOIN d6 USING (doc_id)
  JOIN d7 USING (doc_id) JOIN d8 USING (doc_id)
  JOIN d9 USING (doc_id) JOIN d10 USING (doc_id)
  LEFT JOIN t2 USING (doc_id)
  LEFT JOIN t3 USING (doc_id)
  LEFT JOIN t4 USING (doc_id)
),
flags AS (
  SELECT *,
         (n_words >= 50 AND n_words <= 100000
          AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
          AND symbol_word_ratio <= 0.1
          AND bullet_line_ratio <= 0.9
          AND ellipsis_line_ratio <= 0.3
          AND alpha_word_ratio >= 0.8
          AND n_required_words >= 0) AS gopher_pass
  FROM vals
)
SELECT doc_id, n_words,
       {rounded},
       gopher_pass,
       (gopher_pass AND {rep_pass}) AS gopher_full_pass
FROM flags
"""


def oracle_sql() -> dict[str, str]:
    langs = {
        "de": r"\b(der|die|und|ist|das)\b",
        "en": r"\b(the|and|of|is|that)\b",
        "es": r"\b(el|la|de|que|los)\b",
        "fr": r"\b(le|la|les|des|est)\b",
    }
    lang_scores = ", ".join(
        f"len(regexp_extract_all(lower(text), '{pat}')) AS s_{lang}"
        for lang, pat in langs.items()
    )
    best = "greatest(s_de, s_en, s_es, s_fr)"
    lang_case = (
        f"CASE WHEN {best} = 0 THEN 'und' "
        + " ".join(
            f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in ["de", "en", "es", "fr"]
        )
        + " ELSE 'und' END"
    )
    out = {
        "filter_dsl": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount
            FROM lineitem
            WHERE l_quantity > 30.0 AND l_discount <= 0.05 AND l_returnflag = 'R'
        """,
        "filter_in_list": """
            SELECT o_orderkey, o_custkey, o_orderpriority
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
              AND o_totalprice > 150000.0
        """,
        "concat_tall": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_totalprice > 250000.0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_totalprice > 250000.0
        """,
        "concat_tall_schema_evolution": """
            SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
            FROM orders
            UNION ALL
            SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice, o_orderstatus
            FROM orders
        """,
        "concat_wide": """
            SELECT a.c_custkey, a.c_name, a.c_acctbal, b.c_nationkey, b.c_mktsegment
            FROM (SELECT c_custkey, c_name, c_acctbal FROM customer) a
            JOIN (SELECT c_custkey, c_nationkey, c_mktsegment FROM customer) b
              ON a.c_custkey = b.c_custkey
        """,
        "concat_with_dataframe": """
            SELECT c_custkey, c_name, c_acctbal, n_name
            FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        """,
        "sort_multi": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            ORDER BY l_quantity DESC, l_orderkey
        """,
        "reindex": """
            SELECT i.c_custkey, c.c_name, c.c_acctbal
            FROM (SELECT DISTINCT o_custkey AS c_custkey FROM orders) i
            LEFT JOIN customer c ON i.c_custkey = c.c_custkey
        """,
        "dedupe_keep_first": """
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            QUALIFY row_number() OVER (
                PARTITION BY l_orderkey
                ORDER BY l_linenumber, l_quantity) = 1
        """,
        "dedupe_exact": """
            SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        """,
        "profile": """
            SELECT count(*) AS n,
                   count(l_quantity) AS n_present,
                   count(DISTINCT l_quantity) AS n_distinct,
                   min(l_quantity) AS min_qty,
                   max(l_quantity) AS max_qty,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) / count(*)
                       AS mean_qty,
                   sqrt((CAST(CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(27,4))) AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE)
                           * CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE)
                           / count(*))
                        / (count(*) - 1)) AS std_qty
            FROM lineitem
        """,
        "rename": """
            SELECT r_regionkey AS region_key, r_name AS region_name FROM region
        """,
        "calculated_column": """
            SELECT l_orderkey, l_linenumber,
                   floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5)
                       / 100.0 AS revenue
            FROM lineitem
        """,
        "blockmodel": """
            SELECT 0.5 + CAST(i // 100 AS DOUBLE) AS x,
                   0.5 + CAST((i // 10) % 10 AS DOUBLE) AS y,
                   0.5 + CAST(i % 10 AS DOUBLE) AS z,
                   i AS c_order_xyz,
                   (i % 10) * 100 + ((i // 10) % 10) * 10 + (i // 100) AS f_order_zyx,
                   10.0 - (0.5 + CAST(i % 10 AS DOUBLE)) AS depth
            FROM range(1000) t(i)
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) AS sum_qty,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE)
                       AS sum_base_price,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                                 AS DECIMAL(27,8))) AS VARCHAR) AS DOUBLE) AS sum_charge,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) / count(*)
                       AS avg_qty,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE)
                       / count(*) AS avg_price,
                   CAST(CAST(sum(CAST(l_discount AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) / count(*)
                       AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY 1, 2, 3
        """,
        "tpch_q5": """
            SELECT n_name,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
            GROUP BY n_name
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type,
                   count(*) AS n_events,
                   CAST(CAST(sum(CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH flagged AS (
              SELECT user_id,
                     CASE WHEN epoch(ts)
                               - lag(epoch(ts)) OVER (
                                   PARTITION BY user_id ORDER BY ts, event_id)
                               > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
            )
            SELECT user_id,
                   CAST(sum(new_sess) + 1 AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM flagged GROUP BY user_id
        """,
        "events_json": """
            SELECT event_type,
                   count(CAST(props->>'k' AS BIGINT)) AS n,
                   CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(sum(CAST(props->>'k' AS BIGINT)) AS DOUBLE)
                       / count(CAST(props->>'k' AS BIGINT)) AS avg_k
            FROM events GROUP BY event_type
        """,
        "tpch_q6": """
            SELECT CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "window_analytics": """
            SELECT o_custkey, o_orderkey,
                   CAST(rank() OVER w AS INT) AS rnk,
                   CAST(dense_rank() OVER w AS INT) AS drnk,
                   lag(o_totalprice, 1) OVER w AS prev_price,
                   lead(o_totalprice, 1) OVER w AS next_price,
                   CAST(ntile(4) OVER w AS INT) AS quartile
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate ASC, o_orderkey ASC)
        """,
        "grouping_sets_revenue": """
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        "cube_revenue": """
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "salted_join": """
            SELECT o_orderkey, o_custkey AS c_custkey, c_mktsegment,
                   o_totalprice
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "multimodal_resize": """
            SELECT doc_id AS media_id,
                   md5(encode(text) || ':224x224') AS blob_hex,
                   CAST(224 AS INT) AS width,
                   CAST(224 AS INT) AS height,
                   CAST(32 AS BIGINT) AS n_bytes
            FROM documents
        """,
        "tpch_q7": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                 AND TIMESTAMP '1997-12-31 00:00:00'
              AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
                   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
            GROUP BY 1, 2, 3
        """,
        "tpch_q8": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   floor(CAST(CAST(sum(CASE WHEN n2.n_name = 'NATION_5'
                                       THEN CAST(l_extendedprice * (1 - l_discount)
                                                 AS DECIMAL(27,6))
                                       ELSE CAST(0 AS DECIMAL(27,6)) END) AS VARCHAR) AS DOUBLE)
                         / CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                         AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
                         * 1000000.0 + 0.5) / 1000000.0 AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
            GROUP BY 1
        """,
        "tpch_q10": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY 1, 2, 3, 4
        """,
        "tpch_q13": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer
              LEFT JOIN orders ON c_custkey = o_custkey
                              AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey
            ) GROUP BY c_count
        """,
        "tpch_q14": """
            SELECT floor(100.0
                         * CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                                         THEN CAST(l_extendedprice * (1 - l_discount)
                                                   AS DECIMAL(27,6))
                                         ELSE CAST(0 AS DECIMAL(27,6)) END) AS VARCHAR) AS DOUBLE)
                         / CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                         AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
                         * 1000000.0 + 0.5) / 1000000.0 AS promo_revenue_pct
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
        """,
        "tpch_q15": """
            WITH revenue AS (
              SELECT l_suppkey AS supplier_no,
                     CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM supplier JOIN revenue ON s_suppkey = supplier_no
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        """,
        "tpch_q17": """
            WITH matched AS (
              SELECT l_quantity, l_extendedprice, p_partkey
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#13' AND p_type = 'SMALL'
            ), lim AS (
              SELECT p_partkey AS pk, 0.2 * avg(l_quantity) AS q_limit
              FROM matched GROUP BY p_partkey
            )
            SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly
            FROM matched JOIN lim ON p_partkey = pk
            WHERE l_quantity < q_limit
        """,
        "tpch_q18": """
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_totalprice, sum_qty
            FROM (
              SELECT l_orderkey,
                     CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE)
                         AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum_qty > 300
            )
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "tpch_q19": """
            SELECT CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS revenue,
                   count(*) AS n_rows
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#13' AND l_quantity BETWEEN 1 AND 11
                   AND p_size BETWEEN 1 AND 5)
               OR (p_brand = 'Brand#19' AND l_quantity BETWEEN 10 AND 20
                   AND p_size BETWEEN 1 AND 10)
               OR (p_brand = 'Brand#5' AND l_quantity BETWEEN 20 AND 30
                   AND p_size BETWEEN 1 AND 15)
        """,
        "tpch_q2": """
            WITH priced AS (
              SELECT p_partkey, p_name, l_suppkey,
                     floor(l_extendedprice / l_quantity * 1000000.0 + 0.5)
                         / 1000000.0 AS unit_price
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_type = 'STANDARD' AND p_size <= 10
            ), ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY p_partkey
                       ORDER BY unit_price ASC, l_suppkey ASC) AS rn
              FROM priced
            )
            SELECT p_partkey, p_name, s_name, s_acctbal, unit_price
            FROM ranked JOIN supplier ON l_suppkey = s_suppkey
            WHERE rn = 1
        """,
        "tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
            GROUP BY o_orderpriority
        """,
        "tpch_q9": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 - 0.5 * p_retailprice * l_quantity
                                 AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2
        """,
        "tpch_q11": """
            WITH src AS (
              SELECT l_partkey, l_extendedprice, l_discount
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_3'
            )
            SELECT l_partkey,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS value
            FROM src
            GROUP BY l_partkey
            HAVING value > (SELECT CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                                               AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
                                   * 2.0 / count(DISTINCT l_partkey)
                            FROM src)
        """,
        "tpch_q12": """
            SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
                        THEN 'FAST'
                        WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
                        THEN 'MEDIUM'
                        ELSE 'SLOW' END AS ship_speed,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1
        """,
        "tpch_q16": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#3'
              AND p_type NOT IN ('PROMO', 'ECONOMY')
              AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
        """,
        "tpch_q20": """
            WITH shipped AS (
              SELECT l_suppkey, l_quantity
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_type = 'PROMO'
                AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            )
            SELECT s_suppkey, s_name
            FROM supplier
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM shipped
              GROUP BY l_suppkey
              HAVING CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE)
                     > (SELECT CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE) * 0.012
                        FROM shipped))
        """,
        "tpch_q21": """
            WITH per_os AS (
              SELECT l_orderkey, l_suppkey,
                     max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                              THEN 1 ELSE 0 END) AS is_late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
              GROUP BY 1, 2
            ), per_o AS (
              SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late
              FROM per_os GROUP BY 1
            )
            SELECT s_name, count(*) AS numwait
            FROM per_os
            JOIN per_o USING (l_orderkey)
            JOIN supplier ON s_suppkey = l_suppkey
            WHERE is_late = 1 AND n_supp > 1 AND n_late = 1
            GROUP BY s_name
        """,
        "tpch_q22": """
            SELECT c_nationkey % 10 AS cntrycode, count(*) AS numcust,
                   CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE)
                       AS totacctbal
            FROM customer
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                               WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderpriority = '1-URGENT')
            GROUP BY 1
        """,
        "window_running": """
            SELECT o_custkey, o_orderkey,
                   row_number() OVER (
                     PARTITION BY o_custkey ORDER BY o_orderkey) AS order_seq,
                   CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderkey
                     ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) AS running_total
            FROM orders
        """,
        "pivot_events": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS n_click,
                   count(*) FILTER (event_type = 'view') AS n_view,
                   count(*) FILTER (event_type = 'purchase') AS n_purchase,
                   count(*) FILTER (event_type = 'signup') AS n_signup,
                   count(*) FILTER (event_type = 'error') AS n_error
            FROM events GROUP BY user_id
        """,
        "rollup_revenue": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE)
                       AS sum_price,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "asof_join": """
            WITH ded AS (
              SELECT o_custkey AS k, epoch(o_orderdate) AS t, o_orderkey
              FROM orders
              QUALIFY row_number() OVER (
                PARTITION BY o_custkey, epoch(o_orderdate)
                ORDER BY o_orderkey DESC) = 1
            ), ev AS (
              SELECT event_id, user_id AS k, epoch(ts) AS t FROM events
            )
            SELECT ev.event_id, ev.k AS user_id, ded.o_orderkey
            FROM ev ASOF LEFT JOIN ded
              ON ev.k = ded.k AND ev.t >= ded.t
        """,
        "range_join": """
            SELECT a.user_id, a.event_id AS id1, b.event_id AS id2
            FROM events a JOIN events b
              ON a.user_id = b.user_id
             AND a.event_id < b.event_id
             AND epoch(b.ts) - epoch(a.ts) <= 60
             AND epoch(a.ts) - epoch(b.ts) <= 60
        """,
        "part_stats": """
            SELECT p_brand,
                   count(*) AS n_parts,
                   count(DISTINCT p_type) AS n_types,
                   CAST(CAST(sum(CAST(p_retailprice AS DECIMAL(27,2))) AS VARCHAR) AS DOUBLE)
                       AS sum_price,
                   min(p_size) AS min_size,
                   max(p_size) AS max_size
            FROM part GROUP BY p_brand
        """,
        "ngram_freq": r"""
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents
            ), grams AS (
              SELECT unnest(list_distinct(
                CASE WHEN len(t) >= 2
                     THEN [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
                     ELSE [array_to_string(t, ' ')] END)) AS ngram
              FROM toks
            )
            SELECT ngram, count(*) AS n_docs
            FROM grams GROUP BY ngram HAVING count(*) >= 20
        """,
        "text_stats": rf"""
            SELECT doc_id,
                   length(text) AS n_chars,
                   CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
                   floor(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
                         / greatest(len(regexp_extract_all(text, '\S+')), 1)
                         * 1000000.0 + 0.5) / 1000000.0
                       AS avg_token_len,
                   floor(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                         / greatest(length(text), 1) * 1000000.0 + 0.5)
                       / 1000000.0 AS punct_ratio,
                   floor(CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                         / greatest(length(text), 1) * 1000000.0 + 0.5)
                       / 1000000.0 AS digit_ratio,
                   floor(CAST(len(regexp_extract_all(lower(text), '{_STOP_RE}'))
                              AS DOUBLE)
                         / greatest(len(regexp_extract_all(text, '\S+')), 1)
                         * 1000000.0 + 0.5) / 1000000.0
                       AS stopword_ratio
            FROM documents
        """,
        "quality_score": rf"""
            WITH stats AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len(regexp_extract_all(text, '\S+')) AS n_tokens,
                     CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
                       / greatest(len(regexp_extract_all(text, '\S+')), 1)
                       AS avg_token_len,
                     CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                       / greatest(length(text), 1) AS punct_ratio,
                     CAST(len(regexp_extract_all(lower(text), '{_STOP_RE}'))
                          AS DOUBLE)
                       / greatest(len(regexp_extract_all(text, '\S+')), 1)
                       AS stopword_ratio
              FROM documents
            )
            SELECT doc_id,
                   floor((
                     CAST(n_chars BETWEEN 50 AND 100000 AS INT) * 0.25
                     + CAST(avg_token_len BETWEEN 2.0 AND 12.0 AS INT) * 0.25
                     + CAST(stopword_ratio > 0.0 AS INT) * 0.25
                     + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.25)
                     * 1000000.0 + 0.5) / 1000000.0 AS quality_score
            FROM stats
        """,
        "lang_id": f"""
            SELECT doc_id, {lang_case} AS lang_pred
            FROM (SELECT doc_id, {lang_scores} FROM documents)
        """,
        "fingerprint": r"""
            SELECT doc_id,
                   md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                       AS fingerprint
            FROM documents
        """,
        "token_count_bpe": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '\S+')) AS n_tokens_ws,
                   len(regexp_extract_all(text,'''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
                       AS n_tokens_bpe
            FROM documents
        """,
        "token_count_by_lang": r"""
            SELECT lang,
                   count(*) AS n_docs,
                   CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
                       AS total_tokens,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang
        """,
        "dedupe_text_exact": r"""
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY
                         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                       ORDER BY doc_id) AS rn
              FROM documents) WHERE rn = 1
        """,
        "ngram_jaccard": _SHINGLES_CTE
        + """
            SELECT id1, id2, floor(j * 1000000.0 + 0.5) / 1000000.0 AS jaccard
            FROM jac WHERE j >= 0.5
        """,
        # same bounded corpus (even doc_ids) as the Spark side: unpruned
        # Jaccard is the oracle-only check, kept off the full corpus
        "dedupe_pairwise": _SHINGLES_CTE.replace(
            "FROM documents\n", "FROM documents WHERE doc_id % 2 = 0\n", 1
        )
        + """
            SELECT d.doc_id, d.lang FROM documents d
            WHERE d.doc_id % 2 = 0
              AND d.doc_id NOT IN (SELECT id2 FROM jac WHERE j >= 0.5)
        """,
        "embedding_sim_pairs": """
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                         * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                        * 1000000.0 + 0.5) / 1000000.0 >= 0.35
        """,
        "embedding_sim_pairs_blocked": """
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                         * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                        * 1000000.0 + 0.5) / 1000000.0 >= 0.35
        """,
        "ann_topk": """
            SELECT query_id, vec_id, cosine_sim, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     floor(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                           * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY floor(list_cosine_similarity(
                                  CAST(c.embedding AS DOUBLE[]),
                                  CAST(q.embedding AS DOUBLE[]))
                                  * 1000000.0 + 0.5) / 1000000.0 DESC,
                                c.vec_id) AS rank
              FROM embeddings c
              JOIN embeddings q ON q.vec_id < 3 AND c.vec_id <> q.vec_id)
            WHERE rank <= 5
        """,
        # full probe (nprobe = n_cells) makes IVF exact: the probed set
        # is the whole corpus, so the trained-quantizer result equals
        # brute-force top-k independent of the learned centroids
        "ann_ivf_topk": """
            SELECT query_id, vec_id, cosine_sim, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     floor(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
                           * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY floor(list_cosine_similarity(
                                  CAST(c.embedding AS DOUBLE[]),
                                  CAST(q.embedding AS DOUBLE[]))
                                  * 1000000.0 + 0.5) / 1000000.0 DESC,
                                c.vec_id) AS rank
              FROM embeddings c
              JOIN embeddings q ON q.vec_id < 3 AND c.vec_id <> q.vec_id)
            WHERE rank <= 5
        """,
        "ann_lsh_topk": """
WITH planes(plane, dim, val) AS (VALUES {PLANES}
), dots AS (
  SELECT vec_id, plane,
         sum(CAST(embedding[dim + 1] AS DOUBLE) * val ORDER BY dim) AS dot
  FROM embeddings CROSS JOIN planes
  GROUP BY vec_id, plane
), sigs AS (
  SELECT vec_id,
         sum(CASE WHEN dot > 0 THEN (1::BIGINT << plane) ELSE 0 END) AS sig
  FROM dots GROUP BY vec_id
), bands(band) AS (
  VALUES (0), (1), (2), (3), (4), (5), (6), (7)
), banded AS (
  SELECT vec_id, band, (sig >> (band * 2)) & 3 AS bval
  FROM sigs CROSS JOIN bands
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
  FROM banded c
  JOIN banded q ON c.band = q.band AND c.bval = q.bval
  WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id
), scored AS (
  SELECT cand.query_id, cand.vec_id,
         floor(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                      CAST(qe.embedding AS DOUBLE[]))
               * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim
  FROM cand
  JOIN embeddings ce ON ce.vec_id = cand.vec_id
  JOIN embeddings qe ON qe.vec_id = cand.query_id
)
SELECT query_id, vec_id, cosine_sim FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
  FROM scored)
WHERE rnk <= 5
        """.replace("{PLANES}", _plane_values()),
        # --- round-5 additions -----------------------------------------
        "word_repetition": r"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS t
  FROM documents
)
SELECT doc_id,
       len(t) AS n_words,
       len(list_distinct(t)) AS n_unique_words,
       CASE WHEN len(t) = 0 THEN 1.0
            ELSE floor(CAST(len(list_distinct(t)) AS DOUBLE)
                       / greatest(len(t), 1) * 1000000.0 + 0.5) / 1000000.0
       END AS frac_unique_words,
       floor(CAST(len(list_filter(t,
                 x -> len(list_filter(t, y -> y = x)) >= 2)) AS DOUBLE)
             / greatest(len(t), 1) * 1000000.0 + 0.5) / 1000000.0
         AS frac_dup_words
FROM toks
        """,
        "repetition_ngram": r"""
WITH toks AS (
  SELECT doc_id, length(text) AS nc,
         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\s+') END AS t
  FROM documents
), grams AS (
  SELECT doc_id, nc,
         CASE WHEN len(t) >= 2
              THEN [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
              ELSE CAST([] AS VARCHAR[]) END AS g
  FROM toks
), e AS (
  SELECT doc_id, nc, unnest(g) AS gram FROM grams
), counts AS (
  SELECT doc_id, nc, gram, count(*) AS c FROM e GROUP BY 1, 2, 3
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
  FROM counts
), agg AS (
  SELECT doc_id,
         max(gram) FILTER (rn = 1) AS top_ngram,
         max(c) FILTER (rn = 1) AS top_ngram_count,
         max(CAST(c * length(gram) AS DOUBLE)
             / greatest(nc, 1)) FILTER (rn = 1) AS top_frac,
         sum(CAST(c * length(gram) AS DOUBLE)) FILTER (c >= 2)
           / sum(CAST(c * length(gram) AS DOUBLE)) AS dup_frac
  FROM ranked GROUP BY doc_id
)
SELECT d.doc_id,
       a.top_ngram,
       coalesce(a.top_ngram_count, 0) AS top_ngram_count,
       floor(coalesce(a.top_frac, 0.0) * 1000000.0 + 0.5) / 1000000.0
         AS top_ngram_char_frac,
       floor(coalesce(a.dup_frac, 0.0) * 1000000.0 + 0.5) / 1000000.0
         AS dup_ngram_char_frac,
       FALSE AS truncated
FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "paragraph_dedupe": r"""
WITH chunked AS (
  SELECT doc_id,
         regexp_replace(text, '((?:\S+ ){2}\S+) ', '\1' || chr(10), 'g') AS t
  FROM documents
), e AS (
  SELECT doc_id,
         unnest(list_transform(string_split(t, chr(10)),
                               (s, i) -> {'para': s, 'pos': i})) AS u
  FROM chunked
), p AS (
  SELECT doc_id, u.para AS para, u.pos AS pos FROM e
), k AS (
  SELECT doc_id, para, pos, row_number() OVER (
    PARTITION BY para ORDER BY doc_id, pos) AS rn
  FROM p
), rebuilt AS (
  SELECT doc_id,
         string_agg(para, chr(10) ORDER BY pos) AS dedup_text,
         count(*) AS n_paras_kept
  FROM k WHERE rn = 1 GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(r.dedup_text, '') AS dedup_text,
       CAST(coalesce(r.n_paras_kept, 0) AS BIGINT) AS n_paras_kept
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        """,
        "repetition_lines": r"""
WITH chunked AS (
  SELECT doc_id,
         regexp_replace(text, '((?:\S+ ){2}\S+) ', '\1' || chr(10), 'g') AS t
  FROM documents
), lines AS (
  SELECT doc_id, string_split(t, chr(10)) AS l FROM chunked
)
SELECT doc_id,
       len(l) AS n_lines,
       floor(CAST(len(list_filter(l,
                 x -> len(list_filter(l, y -> y = x)) >= 2)) AS DOUBLE)
             / greatest(len(l), 1) * 1000000.0 + 0.5) / 1000000.0
         AS frac_dup_lines,
       floor(CAST(len(list_filter(l, x ->
                 starts_with(x, '- ') OR starts_with(x, '* ')
                 OR starts_with(x, chr(8226) || ' '))) AS DOUBLE)
             / greatest(len(l), 1) * 1000000.0 + 0.5) / 1000000.0
         AS frac_bullet_lines,
       floor(CAST(len(list_filter(l, x ->
                 x LIKE '%...' OR x LIKE '%' || chr(8230))) AS DOUBLE)
             / greatest(len(l), 1) * 1000000.0 + 0.5) / 1000000.0
         AS frac_ellipsis_lines
FROM lines
        """,
        "merge_upsert": """
WITH src AS (
  SELECT c_custkey, c_name, c_nationkey,
         c_acctbal + 1000.0 AS c_acctbal,
         'UPDATED' AS c_mktsegment, FALSE AS _del
  FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEW-' || CAST(c_custkey AS VARCHAR),
         c_nationkey, 0.0, 'NEW', FALSE
  FROM customer WHERE c_custkey % 37 = 5
  UNION ALL
  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, TRUE
  FROM customer WHERE c_custkey % 100 = 7
), merged AS (
  SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
         CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
              ELSE t.c_name END AS c_name,
         CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
              ELSE t.c_nationkey END AS c_nationkey,
         CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
              ELSE t.c_acctbal END AS c_acctbal,
         CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
              ELSE t.c_mktsegment END AS c_mktsegment
  FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
  WHERE NOT coalesce(s._del, FALSE)
)
SELECT c_custkey, c_name, c_nationkey,
       floor(c_acctbal * 1000000.0 + 0.5) / 1000000.0 AS c_acctbal,
       c_mktsegment
FROM merged
        """,
        # cdc_apply's oracle derives the expected FINAL STATE from the
        # change rules directly (deletes win at seq 2; updates apply to
        # the %10 keys not deleted; inserts add shifted keys) — it does
        # not re-implement the merge, so a merge bug cannot self-verify.
        "cdc_apply": """
SELECT c_custkey, c_name, c_nationkey,
       floor(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000.0
                  ELSE c_acctbal END * 1000000.0 + 0.5) / 1000000.0
         AS c_acctbal,
       CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED'
            ELSE c_mktsegment END AS c_mktsegment
FROM customer WHERE c_custkey % 20 <> 0
UNION ALL
SELECT c_custkey + 1000000, 'NEW-' || CAST(c_custkey AS VARCHAR),
       c_nationkey, 0.0, 'NEW'
FROM customer WHERE c_custkey % 37 = 5
        """,
        # ann_pq_topk: the full PQ pipeline recomputed in SQL — seed
        # rows by md5 rank -> L2-normalize -> per-subspace argmin-L2
        # codes -> ADC = sum of subspace inner products, rounded like
        # every similarity in the registry.
        "ann_pq_topk": """
WITH ranked_ids AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                    vec_id) - 1 AS ridx
  FROM embeddings
), norm AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))) AS v
  FROM embeddings
), seeds AS (
  SELECT r.ridx AS code, n.v
  FROM ranked_ids r JOIN norm n ON n.vec_id = r.vec_id
  WHERE r.ridx < 16
), subs AS (
  SELECT CAST(unnest(range(0, 8)) AS INT) AS j
), xsub AS (
  SELECT n.vec_id, s.j, n.v[1 + s.j * 8 : (s.j + 1) * 8] AS xs
  FROM norm n CROSS JOIN subs s
), csub AS (
  SELECT c.code, s.j, c.v[1 + s.j * 8 : (s.j + 1) * 8] AS cs
  FROM seeds c CROSS JOIN subs s
), enc AS (
  SELECT vec_id, j, code FROM (
    SELECT x.vec_id, x.j, c.code,
           row_number() OVER (PARTITION BY x.vec_id, x.j
             ORDER BY floor((list_inner_product(x.xs, x.xs)
                      - 2 * list_inner_product(x.xs, c.cs)
                      + list_inner_product(c.cs, c.cs))
                      * 1000000.0 + 0.5) / 1000000.0 ASC,
                      c.code ASC) AS rn
    FROM xsub x JOIN csub c ON c.j = x.j)
  WHERE rn = 1
), qsub AS (
  SELECT vec_id AS query_id, j, xs FROM xsub WHERE vec_id < 3
), scored AS (
  SELECT q.query_id, e.vec_id,
         floor(sum(list_inner_product(q.xs, c.cs)) * 1000000.0 + 0.5)
           / 1000000.0 AS pq_score
  FROM enc e
  JOIN csub c ON c.j = e.j AND c.code = e.code
  JOIN qsub q ON q.j = e.j
  WHERE e.vec_id <> q.query_id
  GROUP BY q.query_id, e.vec_id
)
SELECT query_id, vec_id, pq_score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY pq_score DESC, vec_id) AS rnk
  FROM scored)
WHERE rnk <= 5
        """,
        "ann_pq_exact_equiv": """
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "ann_opq_exact_equiv": """
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        # ann_ivfpq_topk: the layered index recomputed in SQL — one
        # md5-ranked seed ordering feeds BOTH the 8 coarse centroids
        # and the 16 PQ codebook rows; cells prune the candidate set,
        # ADC scores it.
        "ann_ivfpq_topk": """
WITH ranked_ids AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                    vec_id) - 1 AS ridx
  FROM embeddings
), cents AS (
  SELECT ridx AS cidx, embedding FROM ranked_ids WHERE ridx < 8
), asim AS (
  SELECT e.vec_id, c.cidx,
         floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))
               * 1000000.0 + 0.5) / 1000000.0 AS s
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim WHERE vec_id < 3) WHERE rn <= 2
), norm AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))) AS v
  FROM embeddings
), seeds AS (
  SELECT r.ridx AS code, n.v
  FROM ranked_ids r JOIN norm n ON n.vec_id = r.vec_id
  WHERE r.ridx < 16
), subs AS (
  SELECT CAST(unnest(range(0, 8)) AS INT) AS j
), xsub AS (
  SELECT n.vec_id, s.j, n.v[1 + s.j * 8 : (s.j + 1) * 8] AS xs
  FROM norm n CROSS JOIN subs s
), csub AS (
  SELECT c.code, s.j, c.v[1 + s.j * 8 : (s.j + 1) * 8] AS cs
  FROM seeds c CROSS JOIN subs s
), enc AS (
  SELECT vec_id, j, code FROM (
    SELECT x.vec_id, x.j, c.code,
           row_number() OVER (PARTITION BY x.vec_id, x.j
             ORDER BY floor((list_inner_product(x.xs, x.xs)
                      - 2 * list_inner_product(x.xs, c.cs)
                      + list_inner_product(c.cs, c.cs))
                      * 1000000.0 + 0.5) / 1000000.0 ASC,
                      c.code ASC) AS rn
    FROM xsub x JOIN csub c ON c.j = x.j)
  WHERE rn = 1
), qsub AS (
  SELECT vec_id AS query_id, j, xs FROM xsub WHERE vec_id < 3
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
), scored AS (
  SELECT c.query_id, c.vec_id,
         floor(sum(list_inner_product(q.xs, cs.cs)) * 1000000.0 + 0.5)
           / 1000000.0 AS pq_score
  FROM cand c
  JOIN enc e ON e.vec_id = c.vec_id
  JOIN csub cs ON cs.j = e.j AND cs.code = e.code
  JOIN qsub q ON q.query_id = c.query_id AND q.j = e.j
  GROUP BY c.query_id, c.vec_id
)
SELECT query_id, vec_id, pq_score FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY pq_score DESC, vec_id) AS rnk
  FROM scored)
WHERE rnk <= 5
        """,
        "ann_ivfpq_equiv": """
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "ann_opq_ivfpq_equiv": """
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        # ann_from_index: the persisted-index lifecycle (build on even
        # ids, add odd ids under the frozen model) — identical to the
        # ann_ivfpq_topk recompute except the seed ranking draws from
        # the EVEN ids only (the build corpus froze the model), and
        # the result carries the index_version stamp (build=1, add=2).
        "ann_where_topk": """
WITH ranked_ids AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                    vec_id) - 1 AS ridx
  FROM embeddings WHERE vec_id % 2 = 0
), cents AS (
  SELECT ridx AS cidx, embedding FROM ranked_ids WHERE ridx < 8
), asim AS (
  SELECT e.vec_id, c.cidx,
         floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))
               * 1000000.0 + 0.5) / 1000000.0 AS s
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim WHERE vec_id < 3) WHERE rn <= 2
), norm AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))) AS v
  FROM embeddings
), seeds AS (
  SELECT r.ridx AS code, n.v
  FROM ranked_ids r JOIN norm n ON n.vec_id = r.vec_id
  WHERE r.ridx < 16
), subs AS (
  SELECT CAST(unnest(range(0, 8)) AS INT) AS j
), xsub AS (
  SELECT n.vec_id, s.j, n.v[1 + s.j * 8 : (s.j + 1) * 8] AS xs
  FROM norm n CROSS JOIN subs s
), csub AS (
  SELECT c.code, s.j, c.v[1 + s.j * 8 : (s.j + 1) * 8] AS cs
  FROM seeds c CROSS JOIN subs s
), enc AS (
  SELECT vec_id, j, code FROM (
    SELECT x.vec_id, x.j, c.code,
           row_number() OVER (PARTITION BY x.vec_id, x.j
             ORDER BY floor((list_inner_product(x.xs, x.xs)
                      - 2 * list_inner_product(x.xs, c.cs)
                      + list_inner_product(c.cs, c.cs))
                      * 1000000.0 + 0.5) / 1000000.0 ASC,
                      c.code ASC) AS rn
    FROM xsub x JOIN csub c ON c.j = x.j)
  WHERE rn = 1
), qsub AS (
  SELECT vec_id AS query_id, j, xs FROM xsub WHERE vec_id < 3
), cand AS (
  -- the stored-metadata predicate scopes CANDIDATES before
  -- ranking; model/probes stay index-wide
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE label IN (0, 2, 4))
), scored AS (
  SELECT c.query_id, c.vec_id,
         floor(sum(list_inner_product(q.xs, cs.cs)) * 1000000.0 + 0.5)
           / 1000000.0 AS pq_score
  FROM cand c
  JOIN enc e ON e.vec_id = c.vec_id
  JOIN csub cs ON cs.j = e.j AND cs.code = e.code
  JOIN qsub q ON q.query_id = c.query_id AND q.j = e.j
  GROUP BY c.query_id, c.vec_id
)
SELECT query_id, vec_id, pq_score, CAST(rnk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY pq_score DESC, vec_id) AS rnk
  FROM scored)
WHERE rnk <= 5
        """,
        "ann_filtered_topk": """
WITH ranked_ids AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                    vec_id) - 1 AS ridx
  FROM embeddings WHERE vec_id % 2 = 0
), cents AS (
  SELECT ridx AS cidx, embedding FROM ranked_ids WHERE ridx < 8
), asim AS (
  SELECT e.vec_id, c.cidx,
         floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))
               * 1000000.0 + 0.5) / 1000000.0 AS s
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim WHERE vec_id < 3) WHERE rn <= 2
), norm AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))) AS v
  FROM embeddings
), seeds AS (
  SELECT r.ridx AS code, n.v
  FROM ranked_ids r JOIN norm n ON n.vec_id = r.vec_id
  WHERE r.ridx < 16
), subs AS (
  SELECT CAST(unnest(range(0, 8)) AS INT) AS j
), xsub AS (
  SELECT n.vec_id, s.j, n.v[1 + s.j * 8 : (s.j + 1) * 8] AS xs
  FROM norm n CROSS JOIN subs s
), csub AS (
  SELECT c.code, s.j, c.v[1 + s.j * 8 : (s.j + 1) * 8] AS cs
  FROM seeds c CROSS JOIN subs s
), enc AS (
  SELECT vec_id, j, code FROM (
    SELECT x.vec_id, x.j, c.code,
           row_number() OVER (PARTITION BY x.vec_id, x.j
             ORDER BY floor((list_inner_product(x.xs, x.xs)
                      - 2 * list_inner_product(x.xs, c.cs)
                      + list_inner_product(c.cs, c.cs))
                      * 1000000.0 + 0.5) / 1000000.0 ASC,
                      c.code ASC) AS rn
    FROM xsub x JOIN csub c ON c.j = x.j)
  WHERE rn = 1
), qsub AS (
  SELECT vec_id AS query_id, j, xs FROM xsub WHERE vec_id < 3
), cand AS (
  -- the filtered-search contract: the allowed-id predicate scopes
  -- CANDIDATES before ranking; model/probes stay index-wide
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id AND a.vec_id % 3 = 0
), scored AS (
  SELECT c.query_id, c.vec_id,
         floor(sum(list_inner_product(q.xs, cs.cs)) * 1000000.0 + 0.5)
           / 1000000.0 AS pq_score
  FROM cand c
  JOIN enc e ON e.vec_id = c.vec_id
  JOIN csub cs ON cs.j = e.j AND cs.code = e.code
  JOIN qsub q ON q.query_id = c.query_id AND q.j = e.j
  GROUP BY c.query_id, c.vec_id
)
SELECT query_id, vec_id, pq_score, CAST(rnk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY pq_score DESC, vec_id) AS rnk
  FROM scored)
WHERE rnk <= 5
        """,
        "bm25_where_topk": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
                -- candidate filter BEFORE scoring/ranking; idf and
                -- avgdl above stay full-corpus (index-wide stats)
                AND doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS INT) AS rank
            FROM scored
            ORDER BY rank
            LIMIT 10
        """,
        "bm25_filtered_topk": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
                -- candidate filter BEFORE scoring/ranking; idf and
                -- avgdl above stay full-corpus (index-wide stats)
                AND doc_id % 3 = 0
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS INT) AS rank
            FROM scored
            ORDER BY rank
            LIMIT 10
        """,
        "ann_from_index": """
WITH ranked_ids AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                    vec_id) - 1 AS ridx
  FROM embeddings WHERE vec_id % 2 = 0
), cents AS (
  SELECT ridx AS cidx, embedding FROM ranked_ids WHERE ridx < 8
), asim AS (
  SELECT e.vec_id, c.cidx,
         floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))
               * 1000000.0 + 0.5) / 1000000.0 AS s
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim WHERE vec_id < 3) WHERE rn <= 2
), norm AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))) AS v
  FROM embeddings
), seeds AS (
  SELECT r.ridx AS code, n.v
  FROM ranked_ids r JOIN norm n ON n.vec_id = r.vec_id
  WHERE r.ridx < 16
), subs AS (
  SELECT CAST(unnest(range(0, 8)) AS INT) AS j
), xsub AS (
  SELECT n.vec_id, s.j, n.v[1 + s.j * 8 : (s.j + 1) * 8] AS xs
  FROM norm n CROSS JOIN subs s
), csub AS (
  SELECT c.code, s.j, c.v[1 + s.j * 8 : (s.j + 1) * 8] AS cs
  FROM seeds c CROSS JOIN subs s
), enc AS (
  SELECT vec_id, j, code FROM (
    SELECT x.vec_id, x.j, c.code,
           row_number() OVER (PARTITION BY x.vec_id, x.j
             ORDER BY floor((list_inner_product(x.xs, x.xs)
                      - 2 * list_inner_product(x.xs, c.cs)
                      + list_inner_product(c.cs, c.cs))
                      * 1000000.0 + 0.5) / 1000000.0 ASC,
                      c.code ASC) AS rn
    FROM xsub x JOIN csub c ON c.j = x.j)
  WHERE rn = 1
), qsub AS (
  SELECT vec_id AS query_id, j, xs FROM xsub WHERE vec_id < 3
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
), scored AS (
  SELECT c.query_id, c.vec_id,
         floor(sum(list_inner_product(q.xs, cs.cs)) * 1000000.0 + 0.5)
           / 1000000.0 AS pq_score
  FROM cand c
  JOIN enc e ON e.vec_id = c.vec_id
  JOIN csub cs ON cs.j = e.j AND cs.code = e.code
  JOIN qsub q ON q.query_id = c.query_id AND q.j = e.j
  GROUP BY c.query_id, c.vec_id
)
SELECT query_id, vec_id, pq_score, CAST(2 AS INT) AS index_version
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY pq_score DESC, vec_id) AS rnk
  FROM scored)
WHERE rnk <= 5
        """,
        "ann_index_equiv": """
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "facade_dispatch_ann": """
            SELECT CAST(NULL AS VARCHAR) AS family,
                   CAST(NULL AS BIGINT) AS probe_id,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "facade_dispatch_bm25": """
            SELECT CAST(NULL AS VARCHAR) AS family,
                   CAST(NULL AS BIGINT) AS probe_id,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "facade_dispatch_minhash": """
            SELECT CAST(NULL AS VARCHAR) AS family,
                   CAST(NULL AS BIGINT) AS probe_id,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "facade_dispatch_simhash": """
            SELECT CAST(NULL AS VARCHAR) AS family,
                   CAST(NULL AS BIGINT) AS probe_id,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "auto_compact_equiv": """
            SELECT CAST(NULL AS BIGINT) AS doc_id,
                   CAST(NULL AS DOUBLE) AS score,
                   CAST(NULL AS INT) AS rank,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "ann_retrain_equiv": """
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS DOUBLE) AS pq_score,
                   CAST(NULL AS INT) AS rank,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "ann_index_stream_equiv": """
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS DOUBLE) AS pq_score,
                   CAST(NULL AS INT) AS rank,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "minhash_index_cdc": """
            SELECT CAST(NULL AS BIGINT) AS id_indexed,
                   CAST(NULL AS BIGINT) AS id_new,
                   CAST(NULL AS DOUBLE) AS est_jaccard,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        "minhash_index_delete": """
            SELECT CAST(NULL AS BIGINT) AS id_indexed,
                   CAST(NULL AS BIGINT) AS id_new,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        # ann_index_delete: full-corpus model (deletion never
        # retrains), deleted ids dropped from the CANDIDATE set only.
        "ann_index_delete": """
WITH ranked_ids AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                    vec_id) - 1 AS ridx
  FROM embeddings
), cents AS (
  SELECT ridx AS cidx, embedding FROM ranked_ids WHERE ridx < 8
), asim AS (
  SELECT e.vec_id, c.cidx,
         floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))
               * 1000000.0 + 0.5) / 1000000.0 AS s
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim WHERE vec_id < 3) WHERE rn <= 2
), norm AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))) AS v
  FROM embeddings
), seeds AS (
  SELECT r.ridx AS code, n.v
  FROM ranked_ids r JOIN norm n ON n.vec_id = r.vec_id
  WHERE r.ridx < 16
), subs AS (
  SELECT CAST(unnest(range(0, 8)) AS INT) AS j
), xsub AS (
  SELECT n.vec_id, s.j, n.v[1 + s.j * 8 : (s.j + 1) * 8] AS xs
  FROM norm n CROSS JOIN subs s
), csub AS (
  SELECT c.code, s.j, c.v[1 + s.j * 8 : (s.j + 1) * 8] AS cs
  FROM seeds c CROSS JOIN subs s
), enc AS (
  SELECT vec_id, j, code FROM (
    SELECT x.vec_id, x.j, c.code,
           row_number() OVER (PARTITION BY x.vec_id, x.j
             ORDER BY floor((list_inner_product(x.xs, x.xs)
                      - 2 * list_inner_product(x.xs, c.cs)
                      + list_inner_product(c.cs, c.cs))
                      * 1000000.0 + 0.5) / 1000000.0 ASC,
                      c.code ASC) AS rn
    FROM xsub x JOIN csub c ON c.j = x.j)
  WHERE rn = 1
), qsub AS (
  SELECT vec_id AS query_id, j, xs FROM xsub WHERE vec_id < 3
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
    AND NOT (a.vec_id % 5 = 0 AND a.vec_id >= 3)
), scored AS (
  SELECT c.query_id, c.vec_id,
         floor(sum(list_inner_product(q.xs, cs.cs)) * 1000000.0 + 0.5)
           / 1000000.0 AS pq_score
  FROM cand c
  JOIN enc e ON e.vec_id = c.vec_id
  JOIN csub cs ON cs.j = e.j AND cs.code = e.code
  JOIN qsub q ON q.query_id = c.query_id AND q.j = e.j
  GROUP BY c.query_id, c.vec_id
)
SELECT query_id, vec_id, pq_score, CAST(2 AS INT) AS index_version
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY pq_score DESC, vec_id) AS rnk
  FROM scored)
WHERE rnk <= 5
        """,
        # semantic_dedupe: survivors after the within-cell lower-id
        # drop rule, cells from the same hash-seeded assignment the
        # ann_ivf_hash_topk oracle recomputes.
        "semantic_dedupe": """
WITH ranked_ids AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                    vec_id) - 1 AS cidx
  FROM embeddings
), cents AS (
  SELECT cidx, embedding FROM ranked_ids WHERE cidx < 8
), asim AS (
  SELECT e.vec_id, c.cidx,
         floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))
               * 1000000.0 + 0.5) / 1000000.0 AS s
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim) WHERE rn = 1
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE floor(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[]))
              * 1000000.0 + 0.5) / 1000000.0 >= 0.35
)
SELECT e.vec_id FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)
        """,
        # Streaming semantic admission, replayed in static SQL: the
        # cell model freezes on batch 0 (hash-seeded centroids FROM
        # batch-0 vectors — the semantic_dedupe oracle's derivation,
        # restricted to vec_id % 3 = 0), every vector is assigned its
        # frozen cell, and admission folds batch by batch: batch 0
        # drops on the strict lower-id within-batch rule; batches 1/2
        # drop on (a) ANY previously-ADMITTED same-cell neighbor or
        # (b) a lower-id same-cell sibling of the SAME batch, all at
        # rounded cosine >= 0.35. `dup` holds every same-cell
        # near-pair once (id1 < id2), so rule (a) picks the batch-N
        # end of any pair whose other end is admitted, and rule (b)
        # keeps the strict direction.
        "semantic_stream_dedup": """
WITH b0 AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0
), ranked_ids AS (
  SELECT vec_id, embedding,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                    vec_id) - 1 AS cidx
  FROM b0
), cents AS (
  SELECT cidx, embedding FROM ranked_ids WHERE cidx < 8
), asim AS (
  SELECT e.vec_id, c.cidx,
         floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))
               * 1000000.0 + 0.5) / 1000000.0 AS s
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cell, vec_id % 3 AS b FROM (
    SELECT vec_id, cidx AS cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim) WHERE rn = 1
), dup AS (
  SELECT a.vec_id AS id1, a.b AS b1, x.vec_id AS id2, x.b AS b2
  FROM assigned a JOIN assigned x
    ON a.cell = x.cell AND a.vec_id < x.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings ex ON ex.vec_id = x.vec_id
  WHERE floor(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(ex.embedding AS DOUBLE[]))
              * 1000000.0 + 0.5) / 1000000.0 >= 0.35
), adm0 AS (
  SELECT vec_id FROM assigned WHERE b = 0 AND vec_id NOT IN (
    SELECT id2 FROM dup WHERE b1 = 0 AND b2 = 0)
), adm1 AS (
  SELECT vec_id FROM assigned WHERE b = 1
  AND vec_id NOT IN (
    SELECT d.id2 FROM dup d JOIN adm0 a ON a.vec_id = d.id1 WHERE d.b2 = 1
    UNION ALL
    SELECT d.id1 FROM dup d JOIN adm0 a ON a.vec_id = d.id2 WHERE d.b1 = 1)
  AND vec_id NOT IN (
    SELECT id2 FROM dup WHERE b1 = 1 AND b2 = 1)
), adm01 AS (
  SELECT vec_id FROM adm0 UNION ALL SELECT vec_id FROM adm1
), adm2 AS (
  SELECT vec_id FROM assigned WHERE b = 2
  AND vec_id NOT IN (
    SELECT d.id2 FROM dup d JOIN adm01 a ON a.vec_id = d.id1 WHERE d.b2 = 2
    UNION ALL
    SELECT d.id1 FROM dup d JOIN adm01 a ON a.vec_id = d.id2 WHERE d.b1 = 2)
  AND vec_id NOT IN (
    SELECT id2 FROM dup WHERE b1 = 2 AND b2 = 2)
)
SELECT vec_id, CAST(0 AS INTEGER) AS batch FROM adm0
UNION ALL SELECT vec_id, CAST(1 AS INTEGER) AS batch FROM adm1
UNION ALL SELECT vec_id, CAST(2 AS INTEGER) AS batch FROM adm2
        """,
        "ann_ivf_hash_topk": """
WITH ranked_ids AS (
  SELECT embedding,
         row_number() OVER (
           ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT,
                    vec_id) - 1 AS cidx
  FROM embeddings
), cents AS (
  SELECT cidx, embedding FROM ranked_ids WHERE cidx < 8
), asim AS (
  SELECT e.vec_id, c.cidx,
         floor(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[]))
               * 1000000.0 + 0.5) / 1000000.0 AS s
  FROM embeddings e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim) WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cidx AS cell FROM (
    SELECT vec_id, cidx,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cidx) AS rn
    FROM asim WHERE vec_id < 3) WHERE rn <= 2
), cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
), scored AS (
  SELECT cand.query_id, cand.vec_id,
         floor(list_cosine_similarity(CAST(ce.embedding AS DOUBLE[]),
                                      CAST(qe.embedding AS DOUBLE[]))
               * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim
  FROM cand
  JOIN embeddings ce ON ce.vec_id = cand.vec_id
  JOIN embeddings qe ON qe.vec_id = cand.query_id
)
SELECT query_id, vec_id, cosine_sim FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rnk
  FROM scored)
WHERE rnk <= 5
        """,
        "multimodal_frames": r"""
            SELECT doc_id AS media_id,
                   CAST(unnest(range(0, greatest(
                       (n_chars % 5000) * 10 // 1000, 1))) AS INT) AS frame_idx,
                   CAST(unnest(range(0, greatest(
                       (n_chars % 5000) * 10 // 1000, 1))) * 1000 AS BIGINT) AS ts_ms
            FROM documents
        """,
        "video_pipeline": """
            SELECT d.doc_id AS media_id,
                   CAST(g.i AS INTEGER) AS frame_idx,
                   CAST(g.i AS BIGINT) * 1000 AS ts_ms,
                   CAST((d.doc_id * 7 + LEAST(2 * g.i, d.nf - 1) * 13) % 256
                        AS INTEGER) AS px
            FROM (SELECT doc_id, doc_id % 6 + 2 AS nf FROM documents) d
            CROSS JOIN LATERAL (
                SELECT unnest(range(GREATEST(1, d.nf // 2))) AS i
            ) g
        """,
        "minhash_pairs": """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
         ELSE [array_to_string(t, ' ')] END)) AS shingle
  FROM toks
), bh AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS base FROM sh
), seeds(seed, a, b) AS (VALUES {MINHASH_SEEDS}
), h AS (
  SELECT doc_id, seed, min((a * base + b) % 2147483647) AS mh
  FROM bh CROSS JOIN seeds GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY seed) AS bkey
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
), est AS (
  SELECT c.id1, c.id2,
         sum(CASE WHEN h1.mh = h2.mh THEN 1 ELSE 0 END) / 64.0 AS e
  FROM cand c
  JOIN h h1 ON h1.doc_id = c.id1
  JOIN h h2 ON h2.doc_id = c.id2 AND h2.seed = h1.seed
  GROUP BY c.id1, c.id2
)
SELECT id1, id2, floor(e * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard
FROM est WHERE e >= 0.5
        """.replace("{MINHASH_SEEDS}", _seed_values("minhash", 64)),
        # minhash_incremental: identical pipeline, but candidates are
        # CROSS-parity (even = indexed corpus, odd = new batch) with no
        # id ordering constraint — the incremental-dedup orientation.
        "minhash_incremental": """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
         ELSE [array_to_string(t, ' ')] END)) AS shingle
  FROM toks
), bh AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS base FROM sh
), seeds(seed, a, b) AS (VALUES {MINHASH_SEEDS}
), h AS (
  SELECT doc_id, seed, min((a * base + b) % 2147483647) AS mh
  FROM bh CROSS JOIN seeds GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY seed) AS bkey
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_indexed, b.doc_id AS id_new
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
), est AS (
  SELECT c.id_indexed, c.id_new,
         sum(CASE WHEN h1.mh = h2.mh THEN 1 ELSE 0 END) / 64.0 AS e
  FROM cand c
  JOIN h h1 ON h1.doc_id = c.id_indexed
  JOIN h h2 ON h2.doc_id = c.id_new AND h2.seed = h1.seed
  GROUP BY c.id_indexed, c.id_new
)
SELECT id_indexed, id_new,
       floor(e * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard
FROM est WHERE e >= 0.5
        """.replace("{MINHASH_SEEDS}", _seed_values("minhash", 64)),
        "simhash_pairs": """
WITH tk AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), cnt AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS base,
         count(*) AS c
  FROM tk GROUP BY 1, 2
), seeds(seed, a, b) AS (VALUES {SIMHASH_SEEDS}
), bitsum AS (
  SELECT doc_id, seed,
         sum(c * (2 * (((a * base + b) % 2147483647) & 1) - 1)) AS sgn
  FROM cnt CROSS JOIN seeds GROUP BY doc_id, seed
), fp AS (
  SELECT doc_id,
         sum(CASE WHEN sgn > 0 THEN (1::BIGINT << seed) ELSE 0 END) AS simhash
  FROM bitsum GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 16)) & 65535 AS bval
  FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) AS bb(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)
SELECT id1, id2, hamming FROM cand WHERE hamming <= 6
        """.replace("{SIMHASH_SEEDS}", _seed_values("simhash", 63)),
        "near_dedupe_cc": _SHINGLES_CTE.replace("WITH toks", "WITH RECURSIVE toks")
        + """
            , edges AS (
              SELECT id1 AS src, id2 AS dst FROM jac WHERE j >= 0.5
              UNION ALL
              SELECT id2, id1 FROM jac WHERE j >= 0.5
            ), reach(id, comp) AS (
              SELECT src, src FROM edges
              UNION
              SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id
            ), comps AS (
              SELECT id, min(comp) AS component FROM reach GROUP BY id
            )
            SELECT d.doc_id, d.lang FROM documents d
            LEFT JOIN comps c ON d.doc_id = c.id
            WHERE c.id IS NULL OR c.component = d.doc_id
        """,
        "compare_tables": """
            SELECT count(*) AS rows_1, count(*) AS rows_2,
                   CAST(1 AS BOOLEAN) AS schema_match,
                   CAST(1 AS BOOLEAN) AS content_match
            FROM customer
        """,
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 8))::BIGINT
                  < CASE lang
                      WHEN 'en' THEN CAST(floor(0.5 * 4294967296) AS BIGINT)
                      WHEN 'de' THEN CAST(floor(0.25 * 4294967296) AS BIGINT)
                      WHEN 'fr' THEN CAST(floor(1.0 * 4294967296) AS BIGINT)
                      ELSE 0 END
        """,
        "group_overlap": """
            WITH s AS (
              SELECT DISTINCT l_returnflag AS g, l_suppkey AS k
              FROM lineitem WHERE l_returnflag IS NOT NULL
            ), cnt AS (
              SELECT g, count(*) AS c FROM s GROUP BY g
            ), pairs AS (
              -- the FULL pair grid: zero-overlap pairs must appear
              -- with n_common_est = 0, matching the engine's output
              SELECT ca.g AS group_a, cb.g AS group_b,
                     ca.c AS c_a, cb.c AS c_b
              FROM cnt ca JOIN cnt cb ON ca.g < cb.g
            ), common AS (
              SELECT a.g AS group_a, b.g AS group_b,
                     CAST(count(*) AS BIGINT) AS n_common
              FROM s a JOIN s b ON a.k = b.k AND a.g < b.g
              GROUP BY 1, 2
            )
            SELECT p.group_a, p.group_b,
                   COALESCE(c.n_common, 0) AS n_common_est,
                   CAST(p.c_a + p.c_b - COALESCE(c.n_common, 0) AS BIGINT)
                       AS n_union_est,
                   floor(COALESCE(c.n_common, 0) /
                         CAST(p.c_a + p.c_b - COALESCE(c.n_common, 0)
                              AS DOUBLE)
                         * 1000000 + 0.5) / 1000000 AS jaccard_est
            FROM pairs p
            LEFT JOIN common c
              ON c.group_a = p.group_a AND c.group_b = p.group_b
        """,
        "chunk_sentences": r"""
            WITH documents2 AS (
              SELECT doc_id,
                     regexp_replace(text,
                       '(\S+ \S+ \S+ \S+ \S+ \S+ \S+) ', '\1. ',
                       'g') AS text
              FROM documents
            ), sent AS (
              SELECT doc_id, u.s AS sentence, u.i - 1 AS idx
              FROM documents2, LATERAL (
                SELECT unnest(string_split(regexp_replace(text,
                         '([.!?])\s+', '\1' || chr(30), 'g'), chr(30))) AS s,
                       generate_subscripts(string_split(regexp_replace(text,
                         '([.!?])\s+', '\1' || chr(30), 'g'), chr(30)), 1) AS i
              ) u
            ), tok AS (
              SELECT doc_id, idx, sentence,
                     len(regexp_extract_all(sentence, '\S+')) AS n_tok,
                     COALESCE(SUM(len(regexp_extract_all(sentence, '\S+')))
                       OVER (PARTITION BY doc_id ORDER BY idx
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS cum_before
              FROM sent
            )
            SELECT doc_id, CAST(cum_before // 24 AS INT) AS chunk_idx,
                   CAST(count(*) AS INT) AS n_sentences,
                   CAST(SUM(n_tok) AS INT) AS n_tokens,
                   string_agg(sentence, ' ' ORDER BY idx) AS chunk_text,
                   FALSE AS truncated
            FROM tok GROUP BY 1, 2
        """,
        "bm25_search": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS INT) AS rank
            FROM scored
            ORDER BY rank
            LIMIT 10
        """,
        # bm25_from_index: the index persists exactly the statistics a
        # scan would compute (build on evens + add of odds = the whole
        # corpus), so the oracle is the from-scratch scoring plus the
        # deterministic version stamp (build=1, add=2)
        "bm25_from_index": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS INT) AS rank,
                   CAST(2 AS INT) AS index_version
            FROM scored
            ORDER BY rank
            LIMIT 10
        """,
        "bm25_from_index_batch": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(query_id, term) AS (
              VALUES (1, 'merge'), (1, 'stream'),
                     (2, 'customer'), (2, 'table'), (2, 'value'),
                     (3, 'query'), (3, 'window')
            ),
            dfs AS (
              SELECT DISTINCT term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, term)) AS df
              FROM qterms
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT q.query_id, tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf
              JOIN idf USING (term)
              JOIN qterms q USING (term)
              CROSS JOIN stats
              GROUP BY q.query_id, tf.doc_id
            )
            SELECT query_id, doc_id, score, rank,
                   CAST(1 AS INT) AS index_version
            FROM (
              SELECT query_id, doc_id, score,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id ASC) AS INT) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        # bm25_index_upsert: after replacing the mangled rows with the
        # true ones, the index must score exactly as a from-scratch
        # build over the TRUE corpus — the oracle is the plain BM25
        # recompute; only the version stamp differs (build=1,
        # tombstone=2, append=3).
        "bm25_index_upsert": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS INT) AS rank,
                   CAST(3 AS INT) AS index_version
            FROM scored
            ORDER BY rank
            LIMIT 10
        """,
        # bm25_index_delete: the tombstone path must score EXACTLY as
        # a from-scratch BM25 over the surviving corpus — the oracle
        # is the bm25_from_index recompute with the deleted ids
        # filtered out at the source (stats included).
        "bm25_index_delete": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
              WHERE doc_id % 7 <> 0
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS INT) AS rank,
                   CAST(2 AS INT) AS index_version
            FROM scored
            ORDER BY rank
            LIMIT 10
        """,
        # streaming CDC maintenance: the final index equals a
        # from-scratch scoring over the CDC-resolved corpus (all docs,
        # %10==4 refreshed, %10==0 deleted)
        "bm25_index_stream": r"""
            WITH corpus AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 = 4
                          THEN text || ' streamrefresh'
                          ELSE text END AS text
              FROM documents
              WHERE doc_id % 10 <> 0
            ),
            tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM corpus
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS INT) AS rank
            FROM scored
            ORDER BY rank
            LIMIT 10
        """,
        # time-travel: each retained version must score exactly like a
        # from-scratch BM25 over THAT version's corpus (v1 = evens,
        # v2 = all, v3 = all minus the tombstoned %10 ids)
        "bm25_index_time_travel": r"""
            WITH
            tok1 AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents WHERE doc_id % 2 = 0
            ),
            stats1 AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok1
            ),
            tok2 AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats2 AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok2
            ),
            tok3 AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents WHERE doc_id % 10 <> 0
            ),
            stats3 AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok3
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            idf1 AS (
              SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM (SELECT q.term,
                           (SELECT count(*) FROM tok1
                            WHERE list_contains(toks, q.term)) AS df
                    FROM qterms q) CROSS JOIN stats1
            ),
            idf2 AS (
              SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM (SELECT q.term,
                           (SELECT count(*) FROM tok2
                            WHERE list_contains(toks, q.term)) AS df
                    FROM qterms q) CROSS JOIN stats2
            ),
            idf3 AS (
              SELECT term, ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM (SELECT q.term,
                           (SELECT count(*) FROM tok3
                            WHERE list_contains(toks, q.term)) AS df
                    FROM qterms q) CROSS JOIN stats3
            ),
            tf1 AS (
              SELECT doc_id, dl, term, count(*) AS tf FROM (
                SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
                FROM tok1)
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            tf2 AS (
              SELECT doc_id, dl, term, count(*) AS tf FROM (
                SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
                FROM tok2)
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            tf3 AS (
              SELECT doc_id, dl, term, count(*) AS tf FROM (
                SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
                FROM tok3)
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            top1 AS (
              SELECT doc_id, score,
                     CAST(row_number() OVER (ORDER BY score DESC,
                          doc_id ASC) AS INT) AS rank,
                     CAST(1 AS INT) AS index_version
              FROM (
                SELECT tf1.doc_id,
                       floor(sum(idf1.idf * (tf1.tf * 2.2)
                             / (tf1.tf + 1.2 * (0.25 + 0.75 * tf1.dl
                                / stats1.avgdl)))
                             * 1e6 + 0.5) / 1e6 AS score
                FROM tf1 JOIN idf1 USING (term) CROSS JOIN stats1
                GROUP BY tf1.doc_id
              ) ORDER BY rank LIMIT 5
            ),
            top2 AS (
              SELECT doc_id, score,
                     CAST(row_number() OVER (ORDER BY score DESC,
                          doc_id ASC) AS INT) AS rank,
                     CAST(2 AS INT) AS index_version
              FROM (
                SELECT tf2.doc_id,
                       floor(sum(idf2.idf * (tf2.tf * 2.2)
                             / (tf2.tf + 1.2 * (0.25 + 0.75 * tf2.dl
                                / stats2.avgdl)))
                             * 1e6 + 0.5) / 1e6 AS score
                FROM tf2 JOIN idf2 USING (term) CROSS JOIN stats2
                GROUP BY tf2.doc_id
              ) ORDER BY rank LIMIT 5
            ),
            top3 AS (
              SELECT doc_id, score,
                     CAST(row_number() OVER (ORDER BY score DESC,
                          doc_id ASC) AS INT) AS rank,
                     CAST(3 AS INT) AS index_version
              FROM (
                SELECT tf3.doc_id,
                       floor(sum(idf3.idf * (tf3.tf * 2.2)
                             / (tf3.tf + 1.2 * (0.25 + 0.75 * tf3.dl
                                / stats3.avgdl)))
                             * 1e6 + 0.5) / 1e6 AS score
                FROM tf3 JOIN idf3 USING (term) CROSS JOIN stats3
                GROUP BY tf3.doc_id
              ) ORDER BY rank LIMIT 5
            )
            SELECT * FROM top1
            UNION ALL SELECT * FROM top2
            UNION ALL SELECT * FROM top3
        """,
        "bm25_index_build": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            q(term) AS (
              VALUES ('merge'), ('stream'), ('window'),
                     ('customer'), ('data')
            )
            SELECT term, df FROM (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM q
            ) WHERE df > 0
        """,
        "bm25_and_search": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
              HAVING count(*) = 3
            )
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                        AS INT) AS rank
            FROM scored
            ORDER BY rank
            LIMIT 10
        """,
        "bm25_phrase_search": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('join'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            ph AS (
              SELECT doc_id FROM tok
              WHERE len(toks) >= 2
                AND len(list_filter(range(1, len(toks)),
                        i -> toks[i] = 'window' AND toks[i+1] = 'join')) > 0
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            )
            SELECT s.doc_id, s.score,
                   CAST(row_number() OVER (ORDER BY s.score DESC,
                        s.doc_id ASC) AS INT) AS rank
            FROM scored s JOIN ph USING (doc_id)
            ORDER BY rank
            LIMIT 10
        """,
        # bm25_index_phrase: identical semantics to bm25_phrase_search
        # (the index path must equal the scan path bit-for-bit), plus
        # the staleness stamp (build=1, add=2).
        "bm25_index_phrase": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('join'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            ph AS (
              SELECT doc_id FROM tok
              WHERE len(toks) >= 2
                AND len(list_filter(range(1, len(toks)),
                        i -> toks[i] = 'window' AND toks[i+1] = 'join')) > 0
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            )
            SELECT s.doc_id, s.score,
                   CAST(row_number() OVER (ORDER BY s.score DESC,
                        s.doc_id ASC) AS INT) AS rank,
                   CAST(2 AS INT) AS index_version
            FROM scored s JOIN ph USING (doc_id)
            ORDER BY rank
            LIMIT 10
        """,
        "weighted_sample": """
            SELECT doc_id, n_chars, sample_score FROM (
              SELECT doc_id, n_chars,
                     floor((-ln((CAST(('0x' || substr(md5(COALESCE(
                           CAST(doc_id AS VARCHAR), '')), 1, 8)) AS BIGINT)
                           + 0.5) / 4294967296.0)
                           / CAST(n_chars AS DOUBLE)) * 1e9 + 0.5) / 1e9
                         AS sample_score
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            ORDER BY sample_score ASC, doc_id ASC
            LIMIT 50
        """,
        "bm25_batch": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(query_id, term) AS (
              VALUES (1, 'merge'), (1, 'stream'),
                     (2, 'customer'), (2, 'table'), (2, 'value'),
                     (3, 'query'), (3, 'window')
            ),
            dfs AS (
              SELECT DISTINCT term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, term)) AS df
              FROM qterms
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            scored AS (
              SELECT q.query_id, tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf
              JOIN idf USING (term)
              JOIN qterms q USING (term)
              CROSS JOIN stats
              GROUP BY q.query_id, tf.doc_id
            )
            SELECT query_id, doc_id, score, rank FROM (
              SELECT query_id, doc_id, score,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id ASC) AS INT) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        # hybrid fusion: both legs re-derived exactly as their own
        # oracles do (rounded-score ranks, id tie-breaks), then the
        # fused score is pure rank arithmetic (RRF) or a division of
        # already-rounded doubles (wsum) — identical IEEE ops in the
        # same order on both engines
        "c4_filter": r"""
            WITH pages AS (
              SELECT doc_id,
                     regexp_replace(coalesce(text, ''), ' line ',
                         '.' || chr(10), 'g') || '.' AS text
              FROM documents
            ),
            base AS (
              SELECT doc_id,
                     text AS t,
                     list_filter(string_split(text, chr(10)),
                         x -> x <> '') AS lines
              FROM pages
            ),
            k AS (
              SELECT doc_id, t, lines,
                     list_filter(lines, l ->
                         regexp_matches(l, '[.!?"]\s*$')
                         AND len(list_filter(string_split_regex(l,
                             '\s+'), w -> w <> '')) >= 3
                         AND NOT regexp_matches(lower(l),
                             '\bjavascript\b')) AS kept
              FROM base
            ),
            s AS (
              SELECT doc_id,
                     len(lines) AS n_lines,
                     len(kept) AS n_kept_lines,
                     coalesce(array_to_string(kept, chr(10)), '')
                       AS c4_text,
                     contains(lower(t), 'lorem ipsum') AS has_lorem,
                     contains(t, '{') AS has_brace
              FROM k
            )
            SELECT doc_id, n_lines, n_kept_lines,
                   len(regexp_extract_all(c4_text, '[.!?]'))
                     AS n_sentences,
                   has_lorem, has_brace, c4_text,
                   (len(regexp_extract_all(c4_text, '[.!?]')) >= 3
                    AND NOT has_lorem AND NOT has_brace) AS c4_pass
            FROM s
        """,
        "gopher_filter": r"""
            WITH base AS (
              SELECT doc_id,
                     list_filter(string_split_regex(coalesce(text, ''),
                         '\s+'), x -> x <> '') AS words,
                     list_filter(string_split(coalesce(text, ''),
                         chr(10)), x -> x <> '') AS lines,
                     lower(coalesce(text, '')) AS low,
                     coalesce(text, '') AS t
              FROM documents
            ),
            s AS (
              SELECT doc_id,
                     len(words) AS n_words,
                     CAST(coalesce(list_sum(list_transform(words,
                          x -> length(x))), 0) AS DOUBLE)
                       / greatest(len(words), 1) AS mean_word_len,
                     CAST(len(regexp_extract_all(t, '#'))
                          + len(regexp_extract_all(t, '\.\.\.')) AS DOUBLE)
                       / greatest(len(words), 1) AS symbol_word_ratio,
                     CAST(len(list_filter(lines, l ->
                          regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
                       / greatest(len(lines), 1) AS bullet_line_ratio,
                     CAST(len(list_filter(lines, l ->
                          regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
                       / greatest(len(lines), 1) AS ellipsis_line_ratio,
                     CAST(len(list_filter(words, x ->
                          regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                       / greatest(len(words), 1) AS alpha_word_ratio,
                     CAST(regexp_matches(low, '\bthe\b') AS INT)
                     + CAST(regexp_matches(low, '\bbe\b') AS INT)
                     + CAST(regexp_matches(low, '\bto\b') AS INT)
                     + CAST(regexp_matches(low, '\bof\b') AS INT)
                     + CAST(regexp_matches(low, '\band\b') AS INT)
                     + CAST(regexp_matches(low, '\bthat\b') AS INT)
                     + CAST(regexp_matches(low, '\bhave\b') AS INT)
                     + CAST(regexp_matches(low, '\bwith\b') AS INT) AS n_required_words
              FROM base
            )
            SELECT doc_id, n_words,
                   floor(mean_word_len * 1e6 + 0.5) / 1e6 AS mean_word_len,
                   floor(symbol_word_ratio * 1e6 + 0.5) / 1e6
                     AS symbol_word_ratio,
                   floor(bullet_line_ratio * 1e6 + 0.5) / 1e6
                     AS bullet_line_ratio,
                   floor(ellipsis_line_ratio * 1e6 + 0.5) / 1e6
                     AS ellipsis_line_ratio,
                   floor(alpha_word_ratio * 1e6 + 0.5) / 1e6
                     AS alpha_word_ratio,
                   n_required_words,
                   (n_words >= 50 AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND symbol_word_ratio <= 0.1
                    AND bullet_line_ratio <= 0.9
                    AND ellipsis_line_ratio <= 0.3
                    AND alpha_word_ratio >= 0.8
                    AND n_required_words >= 0) AS gopher_pass
            FROM s
        """,
        "hybrid_rrf_topk": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            tscored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            ),
            tleg AS (
              SELECT doc_id, text_rank FROM (
                SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY score DESC,
                            doc_id ASC) AS INT) AS text_rank
                FROM tscored
              ) WHERE text_rank <= 50
            ),
            qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            vscored AS (
              SELECT c.vec_id AS doc_id,
                     floor(list_cosine_similarity(
                           CAST(c.embedding AS DOUBLE[]),
                           CAST(q.embedding AS DOUBLE[]))
                           * 1e6 + 0.5) / 1e6 AS sim
              FROM embeddings c CROSS JOIN qv q
            ),
            vleg AS (
              SELECT doc_id, vec_rank FROM (
                SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY sim DESC,
                            doc_id ASC) AS INT) AS vec_rank
                FROM vscored
              ) WHERE vec_rank <= 50
            ),
            fused AS (
              SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
                     t.text_rank, v.vec_rank,
                     floor((COALESCE(0.5 / (60.0 + t.text_rank), 0.0)
                          + COALESCE(0.5 / (60.0 + v.vec_rank), 0.0))
                          * 1e9 + 0.5) / 1e9 AS score
              FROM tleg t FULL OUTER JOIN vleg v ON t.doc_id = v.doc_id
            )
            SELECT doc_id, text_rank, vec_rank, score,
                   CAST(row_number() OVER (ORDER BY score DESC,
                        doc_id ASC) AS INT) AS rank
            FROM fused
            ORDER BY score DESC, doc_id ASC
            LIMIT 10
        """,
        # index-served hybrid: lossless ANN config makes the
        # vector ranks equal brute-force cosine ranks, so the oracle
        # is the identical from-scratch fusion the scan path uses
        "hybrid_from_index": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            tscored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            ),
            tleg AS (
              SELECT doc_id, text_rank FROM (
                SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY score DESC,
                            doc_id ASC) AS INT) AS text_rank
                FROM tscored
              ) WHERE text_rank <= 50
            ),
            qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            vscored AS (
              SELECT c.vec_id AS doc_id,
                     floor(list_cosine_similarity(
                           CAST(c.embedding AS DOUBLE[]),
                           CAST(q.embedding AS DOUBLE[]))
                           * 1e6 + 0.5) / 1e6 AS sim
              FROM embeddings c CROSS JOIN qv q
            ),
            vleg AS (
              SELECT doc_id, vec_rank FROM (
                SELECT doc_id,
                       CAST(row_number() OVER (ORDER BY sim DESC,
                            doc_id ASC) AS INT) AS vec_rank
                FROM vscored
              ) WHERE vec_rank <= 50
            ),
            fused AS (
              SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
                     t.text_rank, v.vec_rank,
                     floor((COALESCE(0.5 / (60.0 + t.text_rank), 0.0)
                          + COALESCE(0.5 / (60.0 + v.vec_rank), 0.0))
                          * 1e9 + 0.5) / 1e9 AS score
              FROM tleg t FULL OUTER JOIN vleg v ON t.doc_id = v.doc_id
            )
            SELECT doc_id, text_rank, vec_rank, score,
                   CAST(row_number() OVER (ORDER BY score DESC,
                        doc_id ASC) AS INT) AS rank
            FROM fused
            ORDER BY score DESC, doc_id ASC
            LIMIT 10
        """,
        "hybrid_wsum_topk": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(term) AS (
              VALUES ('merge'), ('stream'), ('window')
            ),
            dfs AS (
              SELECT q.term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, q.term)) AS df
              FROM qterms q
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            tscored AS (
              SELECT tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf JOIN idf USING (term) CROSS JOIN stats
              GROUP BY tf.doc_id
            ),
            tleg AS (
              SELECT doc_id, score AS tscore, text_rank FROM (
                SELECT doc_id, score,
                       CAST(row_number() OVER (ORDER BY score DESC,
                            doc_id ASC) AS INT) AS text_rank
                FROM tscored
              ) WHERE text_rank <= 50
            ),
            qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
            vscored AS (
              SELECT c.vec_id AS doc_id,
                     floor(list_cosine_similarity(
                           CAST(c.embedding AS DOUBLE[]),
                           CAST(q.embedding AS DOUBLE[]))
                           * 1e6 + 0.5) / 1e6 AS sim
              FROM embeddings c CROSS JOIN qv q
            ),
            vleg AS (
              SELECT doc_id, sim AS vscore, vec_rank FROM (
                SELECT doc_id, sim,
                       CAST(row_number() OVER (ORDER BY sim DESC,
                            doc_id ASC) AS INT) AS vec_rank
                FROM vscored
              ) WHERE vec_rank <= 50
            ),
            tstats AS (SELECT min(tscore) AS tlo, max(tscore) AS thi
                       FROM tleg),
            vstats AS (SELECT min(vscore) AS vlo, max(vscore) AS vhi
                       FROM vleg),
            fused AS (
              SELECT COALESCE(t.doc_id, v.doc_id) AS doc_id,
                     t.text_rank, v.vec_rank,
                     floor((COALESCE(0.5 * (CASE
                              WHEN t.tscore IS NULL THEN NULL
                              WHEN thi > tlo THEN (t.tscore - tlo) / (thi - tlo)
                              ELSE 1.0 END), 0.0)
                          + COALESCE(0.5 * (CASE
                              WHEN v.vscore IS NULL THEN NULL
                              WHEN vhi > vlo THEN (v.vscore - vlo) / (vhi - vlo)
                              ELSE 1.0 END), 0.0))
                          * 1e9 + 0.5) / 1e9 AS score
              FROM tleg t
              FULL OUTER JOIN vleg v ON t.doc_id = v.doc_id
              CROSS JOIN tstats CROSS JOIN vstats
            )
            SELECT doc_id, text_rank, vec_rank, score,
                   CAST(row_number() OVER (ORDER BY score DESC,
                        doc_id ASC) AS INT) AS rank
            FROM fused
            ORDER BY score DESC, doc_id ASC
            LIMIT 10
        """,
        "hybrid_batch_rrf": r"""
            WITH tok AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS toks
              FROM documents
            ),
            stats AS (
              SELECT count(*) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM tok
            ),
            qterms(query_id, term) AS (
              VALUES (1, 'merge'), (1, 'stream'),
                     (2, 'customer'), (2, 'table'), (2, 'value')
            ),
            dfs AS (
              SELECT DISTINCT term,
                     (SELECT count(*) FROM tok
                      WHERE list_contains(toks, term)) AS df
              FROM qterms
            ),
            idf AS (
              SELECT term,
                     ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
              FROM dfs CROSS JOIN stats
            ),
            postings AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
              FROM tok
            ),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM postings
              WHERE term IN (SELECT term FROM qterms)
              GROUP BY doc_id, dl, term
            ),
            tscored AS (
              SELECT q.query_id, tf.doc_id,
                     floor(sum(idf.idf * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                           * 1e6 + 0.5) / 1e6 AS score
              FROM tf
              JOIN idf USING (term)
              JOIN qterms q USING (term)
              CROSS JOIN stats
              GROUP BY q.query_id, tf.doc_id
            ),
            tleg AS (
              SELECT query_id, doc_id, trank FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS trank
                FROM tscored
              ) WHERE trank <= 20
            ),
            qv AS (
              SELECT 1 AS query_id, embedding FROM embeddings
              WHERE vec_id = 0
              UNION ALL
              SELECT 2 AS query_id, embedding FROM embeddings
              WHERE vec_id = 1
            ),
            vscored AS (
              SELECT q.query_id, c.vec_id AS doc_id,
                     floor(list_cosine_similarity(
                           CAST(c.embedding AS DOUBLE[]),
                           CAST(q.embedding AS DOUBLE[]))
                           * 1e6 + 0.5) / 1e6 AS sim
              FROM embeddings c CROSS JOIN qv q
            ),
            vleg AS (
              SELECT query_id, doc_id, vrank FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, doc_id ASC) AS vrank
                FROM vscored
              ) WHERE vrank <= 20
            ),
            fused AS (
              SELECT COALESCE(t.query_id, v.query_id) AS query_id,
                     COALESCE(t.doc_id, v.doc_id) AS doc_id,
                     floor((COALESCE(0.5 / (60.0 + t.trank), 0.0)
                          + COALESCE(0.5 / (60.0 + v.vrank), 0.0))
                          * 1e9 + 0.5) / 1e9 AS score
              FROM tleg t FULL OUTER JOIN vleg v
                ON t.query_id = v.query_id AND t.doc_id = v.doc_id
            )
            SELECT query_id, doc_id, score, rank FROM (
              SELECT query_id, doc_id, score,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY score DESC, doc_id ASC) AS INT) AS rank
              FROM fused
            ) WHERE rank <= 5
        """,
        "incremental_retention": """
            SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
                   count(*) AS n_rows,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2)))
                        AS VARCHAR) AS DOUBLE) AS sum_qty
            FROM lineitem
            WHERE strftime(l_shipdate, '%Y-%m') >= '1995-07'
            GROUP BY 1
        """,
        "incremental_revenue": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n_rows,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2)))
                        AS VARCHAR) AS DOUBLE) AS sum_qty,
                   CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
                       AS sum_revenue,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(27,2)))
                        AS VARCHAR) AS DOUBLE) / count(l_quantity)
                       AS avg_qty
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        """,
        "mixture_sample": """
            WITH w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.3),
                                          ('src2', 0.2)),
            cnt AS (SELECT source, count(*) AS c FROM documents
                    GROUP BY source),
            sc AS (SELECT min(c / wt) AS k FROM cnt JOIN w USING (source)
                   WHERE wt > 0),
            fr AS (SELECT source,
                          floor(least(1.0, wt * k / c) * 1e9) / 1e9 AS f
                   FROM cnt JOIN w USING (source) CROSS JOIN sc
                   WHERE wt > 0 AND c > 0)
            SELECT d.doc_id, d.source
            FROM documents d JOIN fr USING (source)
            WHERE ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 8))::BIGINT
                  < CAST(floor(f * 4294967296) AS BIGINT)
        """,
        "chunk_documents": r"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN trim(coalesce(text, '')) = ''
                          THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(trim(coalesce(text, '')), '\s+')
                     END AS w,
                     CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                          ELSE len(string_split_regex(trim(coalesce(text, '')), '\s+'))
                     END AS n
              FROM documents
            ), idx AS (
              SELECT doc_id, w, unnest(range(0,
                  1 + CASE WHEN n <= 32 THEN 0
                           ELSE CAST(ceil((n - 32) / 24.0) AS INT) END
              )) AS chunk_idx
              FROM t
            )
            SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                   CAST(len(w[chunk_idx*24+1 : chunk_idx*24+32]) AS INT)
                       AS n_tokens,
                   array_to_string(w[chunk_idx*24+1 : chunk_idx*24+32], ' ')
                       AS chunk_text
            FROM idx
        """,
        "data_quality_checks": """
            WITH agg AS (
              SELECT count(CASE WHEN text IS NULL THEN 1 END) AS c0,
                     count(doc_id) - count(DISTINCT doc_id) AS c1,
                     count(CASE WHEN n_chars IS NOT NULL
                                 AND (n_chars < 0 OR n_chars > 1000000)
                                THEN 1 END) AS c2,
                     count(CASE WHEN lang IS NOT NULL
                                 AND NOT regexp_matches(lang, '^[a-z]{2}$')
                                THEN 1 END) AS c3
              FROM documents
            )
            SELECT 'not_null(text)' AS check, CAST(c0 AS BIGINT) AS n_violations,
                   c0 = 0 AS passed FROM agg
            UNION ALL
            SELECT 'unique(doc_id)', CAST(c1 AS BIGINT), c1 = 0 FROM agg
            UNION ALL
            SELECT 'in_range(n_chars,0,1000000)', CAST(c2 AS BIGINT), c2 = 0 FROM agg
            UNION ALL
            SELECT 'matches(lang)', CAST(c3 AS BIGINT), c3 = 0 FROM agg
        """,
        "pipeline_e2e": r"""
            WITH stats AS (
              SELECT *,
                     length(text) AS n_chars,
                     CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
                       / greatest(len(regexp_extract_all(text, '\S+')), 1)
                       AS avg_token_len,
                     CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                       / greatest(length(text), 1) AS punct_ratio,
                     CAST(len(regexp_extract_all(lower(text),
                          '\b(the|and|of|to|in|a|is|that|for|it)\b')) AS DOUBLE)
                       / greatest(len(regexp_extract_all(text, '\S+')), 1)
                       AS stopword_ratio
              FROM documents
            ), scored AS (
              SELECT *,
                     CAST(n_chars BETWEEN 50 AND 100000 AS INT) * 0.25
                     + CAST(avg_token_len BETWEEN 2.0 AND 12.0 AS INT) * 0.25
                     + CAST(stopword_ratio > 0.0 AS INT) * 0.25
                     + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.25 AS q
              FROM stats
            ), kept AS (
              SELECT *, trim(regexp_replace(
                       regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
                       '\s+', ' ', 'g')) AS clean_text
              FROM scored WHERE q > 0.75
            ), deduped AS (
              SELECT * FROM (
                SELECT *,
                       row_number() OVER (
                         PARTITION BY
                           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                         ORDER BY doc_id) AS rn
                FROM kept) WHERE rn = 1
            )
            SELECT doc_id, lang,
                   floor(q * 1000000.0 + 0.5) / 1000000.0 AS quality_score,
                   len(regexp_extract_all(clean_text, '{BPE_RX}'))
                       AS n_tokens_bpe,
                   CASE
                     WHEN CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 8))
                               AS BIGINT) < CAST(floor(0.8 * 4294967296) AS BIGINT)
                       THEN 'train'
                     WHEN CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 8))
                               AS BIGINT) < CAST(floor(0.9 * 4294967296) AS BIGINT)
                       THEN 'val'
                     ELSE 'test'
                   END AS split
            FROM deduped
        """.replace(
            # SQL string literal: the regex's leading apostrophe is doubled
            "{BPE_RX}", r"''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
        ),
        "hash_split": """
            SELECT doc_id, lang,
                   CASE
                     WHEN CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 8))
                               AS BIGINT) < CAST(floor(0.8 * 4294967296) AS BIGINT)
                       THEN 'train'
                     WHEN CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')), 1, 8))
                               AS BIGINT) < CAST(floor(0.9 * 4294967296) AS BIGINT)
                       THEN 'val'
                     ELSE 'test'
                   END AS split
            FROM documents
        """,
        "deterministic_sample": """
            SELECT l_orderkey, l_linenumber FROM lineitem
            WHERE CAST(('0x' || substr(md5(COALESCE(
                    CAST(l_orderkey AS VARCHAR) || '_'
                    || CAST(l_linenumber AS VARCHAR), '')), 1, 8)) AS BIGINT)
                  < CAST(floor(0.1 * 4294967296) AS BIGINT)
        """,
        "clean_text": r"""
            SELECT doc_id,
                   length(trim(regexp_replace(
                     regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
                     '\s+', ' ', 'g'))) AS clean_len,
                   trim(regexp_replace(
                     regexp_replace(text, '[\x00-\x1f\x7f]', ' ', 'g'),
                     '\s+', ' ', 'g')) AS clean_text
            FROM documents
        """,
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   8 AS feature_dim
            FROM documents
        """,
        "key_skew": """
            WITH totals AS (SELECT count(*) AS total FROM lineitem),
            rf AS (
              SELECT 'l_returnflag' AS "column",
                     CAST(l_returnflag AS VARCHAR) AS value,
                     count(*) AS n_rows
              FROM lineitem GROUP BY 2
              ORDER BY n_rows DESC, value ASC LIMIT 5
            ), sk AS (
              SELECT 'l_suppkey' AS "column",
                     CAST(l_suppkey AS VARCHAR) AS value,
                     count(*) AS n_rows
              FROM lineitem GROUP BY 2
              ORDER BY n_rows DESC, value ASC LIMIT 5
            )
            SELECT "column", value, n_rows,
                   floor(CAST(n_rows AS DOUBLE) / total * 1000000.0 + 0.5)
                       / 1000000.0 AS share
            FROM (SELECT * FROM rf UNION ALL SELECT * FROM sk), totals
        """,
        "contamination": r"""
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
              FROM documents
            ), csh AS (
              SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(t) >= 3
                     THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           FOR i IN range(1, len(t) - 1)]
                     ELSE [array_to_string(t, ' ')] END)) AS shingle
              FROM toks
            ), esh AS (
              SELECT doc_id AS eval_id, shingle FROM csh
              WHERE doc_id % 25 = 0
            ), esize AS (
              SELECT eval_id, count(*) AS es FROM esh GROUP BY eval_id
            ), ov AS (
              SELECT c.doc_id, e.eval_id, count(*) AS n_overlap
              FROM csh c JOIN esh e USING (shingle)
              GROUP BY 1, 2
            )
            SELECT doc_id, eval_id, n_overlap,
                   floor(CAST(n_overlap AS DOUBLE) / es * 1000000.0 + 0.5)
                       / 1000000.0 AS containment
            FROM ov JOIN esize USING (eval_id)
            WHERE CAST(n_overlap AS DOUBLE) / es >= 0.6
        """,
        "pack_shards": r"""
            WITH toks AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
                         AS n_tokens
              FROM documents
            )
            SELECT doc_id, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens)
                              / 2000) AS BIGINT) AS shard
            FROM toks
        """,
        "zorder_cells": """
            WITH s AS (
              SELECT min(CAST(o_custkey AS DOUBLE)) AS mn1,
                     max(CAST(o_custkey AS DOUBLE)) AS mx1,
                     min(CAST(o_totalprice AS DOUBLE)) AS mn2,
                     max(CAST(o_totalprice AS DOUBLE)) AS mx2
              FROM orders
            ), g AS (
              SELECT o_orderkey,
                     CAST(least(1023, greatest(0,
                       floor((CAST(o_custkey AS DOUBLE) - mn1)
                             / (CASE WHEN mx1 <> mn1 THEN mx1 - mn1
                                     ELSE 1.0 END) * 1024)))
                       AS BIGINT) AS x,
                     CAST(least(1023, greatest(0,
                       floor((CAST(o_totalprice AS DOUBLE) - mn2)
                             / (CASE WHEN mx2 <> mn2 THEN mx2 - mn2
                                     ELSE 1.0 END) * 1024)))
                       AS BIGINT) AS y
              FROM orders, s
            )
            SELECT o_orderkey, {ZTERMS} AS zcell FROM g
        """.replace(
            "{ZTERMS}",
            " + ".join(
                f"((({c} >> {b}) & 1) << {b * 2 + i})"
                for b in range(10)
                for i, c in enumerate(("x", "y"))
            ),
        ),
        "pii_redact": r"""
            WITH planted AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com or +1-555-01'
                          || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                          || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.7' AS text
              FROM documents
            )
            , r1 AS (
              SELECT doc_id, text,
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
              FROM planted
            ), r2 AS (
              SELECT doc_id, text, t1,
                     regexp_replace(t1,
                       '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}(?:[-. ][0-9]{3,4})?',
                       '<PHONE>', 'g') AS t2
              FROM r1
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(t1,
                     '\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}(?:[-. ][0-9]{3,4})?'))
                     AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(t2,
                     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
                     AS BIGINT) AS n_ipv4,
                   md5(regexp_replace(t2,
                     '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                     '<IP>', 'g')) AS redacted_md5
            FROM r2
        """,
        # property checks: the Spark query returns invariant VIOLATIONS,
        # so the oracle is a typed empty relation of the same shape.
        "minhash_precision_check": """
            SELECT CAST(NULL AS BIGINT) AS id1, CAST(NULL AS BIGINT) AS id2,
                   CAST(NULL AS DOUBLE) AS est_jaccard,
                   CAST(NULL AS DOUBLE) AS exact_jaccard
            WHERE FALSE
        """,
        "simhash_precision_check": """
            SELECT CAST(NULL AS BIGINT) AS id1, CAST(NULL AS BIGINT) AS id2,
                   CAST(NULL AS INTEGER) AS hamming,
                   CAST(NULL AS DOUBLE) AS token_jaccard
            WHERE FALSE
        """,
        "ann_lsh_recall_check": """
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS DOUBLE) AS recall
            WHERE FALSE
        """,
        "ann_ivf_fullprobe_equiv": """
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS vec_id,
                   CAST(NULL AS VARCHAR) AS side
            WHERE FALSE
        """,
        # memory_report: DuckDB reads the same footers via
        # parquet_metadata() and recomputes the in-memory estimate with
        # the same typed-width rules (fixed width x rows; characters for
        # strings). The oracle SQL is a static string but the harness may
        # run it at any scale factor, so the footer path is self-locating:
        # glob every sf dir and keep the file whose num_rows equals the
        # registered `lineitem` view's count — i.e. the very file the view
        # (and the Spark side) is reading.
        "memory_report": """
            WITH target AS (
              SELECT file_name FROM parquet_file_metadata(
                '/root/testdata/sf*/lineitem.parquet')
              WHERE num_rows = (SELECT count(*) FROM lineitem)
              LIMIT 1
            ), footer AS (
              SELECT path_in_schema AS "column",
                     CAST(SUM(total_compressed_size) AS BIGINT)
                       AS compressed_bytes,
                     CAST(SUM(total_uncompressed_size) AS BIGINT)
                       AS uncompressed_bytes
              FROM parquet_metadata(
                '/root/testdata/sf*/lineitem.parquet')
              WHERE file_name = (SELECT file_name FROM target)
              GROUP BY 1
            ), mem AS (
              SELECT * FROM (VALUES
                ('l_orderkey',      (SELECT count(*) * 8 FROM lineitem)),
                ('l_partkey',       (SELECT count(*) * 8 FROM lineitem)),
                ('l_suppkey',       (SELECT count(*) * 8 FROM lineitem)),
                ('l_linenumber',    (SELECT count(*) * 4 FROM lineitem)),
                ('l_quantity',      (SELECT count(*) * 8 FROM lineitem)),
                ('l_extendedprice', (SELECT count(*) * 8 FROM lineitem)),
                ('l_discount',      (SELECT count(*) * 8 FROM lineitem)),
                ('l_tax',           (SELECT count(*) * 8 FROM lineitem)),
                ('l_returnflag',
                 (SELECT SUM(length(l_returnflag)) FROM lineitem)),
                ('l_linestatus',
                 (SELECT SUM(length(l_linestatus)) FROM lineitem)),
                ('l_shipdate',      (SELECT count(*) * 8 FROM lineitem))
              ) AS t("column", in_memory_bytes)
            )
            SELECT f."column", f.compressed_bytes, f.uncompressed_bytes,
                   CAST(m.in_memory_bytes AS BIGINT) AS in_memory_bytes
            FROM footer f JOIN mem m USING ("column")
        """,
    }
    # index-served variants are value-identical to their scan-path
    # twins under the lossless ANN config (the ann_index_equiv
    # invariant); ONE SQL definition serves both so the oracles
    # cannot drift
    out["hybrid_index_wsum"] = out["hybrid_wsum_topk"]
    out["hybrid_index_batch"] = out["hybrid_batch_rrf"]
    # lossy index + exact refine == the scan-path hybrid (full probe,
    # refine >= corpus) — same SQL, different (compressed) serving
    out["hybrid_refined_lossy"] = out["hybrid_rrf_topk"]
    out["gopher_full_filter"] = _gopher_full_sql()
    # index-served SimHash: same fingerprint/band/verify pipeline as
    # the simhash_pairs oracle, restricted to (even corpus, odd batch)
    # cross pairs — the index changes WHERE the band rows live, not
    # what they are
    out["simhash_index_query"] = """
WITH tk AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), cnt AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS base,
         count(*) AS c
  FROM tk GROUP BY 1, 2
), seeds(seed, a, b) AS (VALUES {SIMHASH_SEEDS}
), bitsum AS (
  SELECT doc_id, seed,
         sum(c * (2 * (((a * base + b) % 2147483647) & 1) - 1)) AS sgn
  FROM cnt CROSS JOIN seeds GROUP BY doc_id, seed
), fp AS (
  SELECT doc_id,
         sum(CASE WHEN sgn > 0 THEN (1::BIGINT << seed) ELSE 0 END) AS simhash
  FROM bitsum GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 16)) & 65535 AS bval
  FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) AS bb(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_indexed, b.doc_id AS id_new,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval
   AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
)
SELECT id_indexed, id_new, hamming FROM cand WHERE hamming <= 3
    """.replace("{SIMHASH_SEEDS}", _seed_values("simhash", 63))
    # the same pipeline with the indexed side scoped by the stored
    # metadata predicate (where="lang == 'en'") — the index serves it
    # from in-row metadata; the oracle joins the documents table
    out["simhash_where_query"] = """
WITH tk AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), cnt AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS base,
         count(*) AS c
  FROM tk GROUP BY 1, 2
), seeds(seed, a, b) AS (VALUES {SIMHASH_SEEDS}
), bitsum AS (
  SELECT doc_id, seed,
         sum(c * (2 * (((a * base + b) % 2147483647) & 1) - 1)) AS sgn
  FROM cnt CROSS JOIN seeds GROUP BY doc_id, seed
), fp AS (
  SELECT doc_id,
         sum(CASE WHEN sgn > 0 THEN (1::BIGINT << seed) ELSE 0 END) AS simhash
  FROM bitsum GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 16)) & 65535 AS bval
  FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) AS bb(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_indexed, b.doc_id AS id_new,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval
  JOIN documents d ON d.doc_id = a.doc_id
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 AND d.lang = 'en'
)
SELECT id_indexed, id_new, hamming FROM cand WHERE hamming <= 3
    """.replace("{SIMHASH_SEEDS}", _seed_values("simhash", 63))
    out["minhash_where_query"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
         ELSE [array_to_string(t, ' ')] END)) AS shingle
  FROM toks
), bh AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS base FROM sh
), seeds(seed, a, b) AS (VALUES {MINHASH_SEEDS}
), h AS (
  SELECT doc_id, seed, min((a * base + b) % 2147483647) AS mh
  FROM bh CROSS JOIN seeds GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY seed) AS bkey
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_indexed, b.doc_id AS id_new
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey
  JOIN documents d ON d.doc_id = a.doc_id
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 AND d.lang = 'en'
), est AS (
  SELECT c.id_indexed, c.id_new,
         sum(CASE WHEN h1.mh = h2.mh THEN 1 ELSE 0 END) / 64.0 AS e
  FROM cand c
  JOIN h h1 ON h1.doc_id = c.id_indexed
  JOIN h h2 ON h2.doc_id = c.id_new AND h2.seed = h1.seed
  GROUP BY c.id_indexed, c.id_new
)
SELECT id_indexed, id_new,
       floor(e * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard
FROM est WHERE e >= 0.5
    """.replace("{MINHASH_SEEDS}", _seed_values("minhash", 64))
    # band-family CDC sinks (r17): the sinks cold-bootstrap
    # store_cols indexes and drain an ordered I/U/M/D stream; the
    # oracles recompute the band pipelines over the POST-STREAM
    # corpus (deletes removed, 'M' lang flips applied — the U ops
    # re-supply identical text, so the logical corpus ignores them)
    # with the probe side id-shifted exactly like the Spark entries
    out["minhash_meta_cdc_stream"] = """
WITH corpus AS (
  SELECT doc_id, text,
         CASE WHEN lang = 'en' AND doc_id % 11 = 0
              THEN 'zz' ELSE lang END AS lang
  FROM documents
  WHERE doc_id % 13 <> 0
), alld AS (
  SELECT doc_id, text FROM corpus
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM documents WHERE doc_id % 7 = 1
), toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM alld
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 3
         THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
         ELSE [array_to_string(t, ' ')] END)) AS shingle
  FROM toks
), bh AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS base FROM sh
), seeds(seed, a, b) AS (VALUES {MINHASH_SEEDS}
), h AS (
  SELECT doc_id, seed, min((a * base + b) % 2147483647) AS mh
  FROM bh CROSS JOIN seeds GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY seed) AS bkey
  FROM h GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_indexed, b.doc_id AS id_new
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey
  JOIN corpus c ON c.doc_id = a.doc_id
  WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000 AND c.lang = 'en'
), est AS (
  SELECT c.id_indexed, c.id_new,
         sum(CASE WHEN h1.mh = h2.mh THEN 1 ELSE 0 END) / 64.0 AS e
  FROM cand c
  JOIN h h1 ON h1.doc_id = c.id_indexed
  JOIN h h2 ON h2.doc_id = c.id_new AND h2.seed = h1.seed
  GROUP BY c.id_indexed, c.id_new
)
SELECT id_indexed, id_new,
       floor(e * 1000000.0 + 0.5) / 1000000.0 AS est_jaccard
FROM est WHERE e >= 0.5
    """.replace("{MINHASH_SEEDS}", _seed_values("minhash", 64))
    out["simhash_meta_cdc_stream"] = """
WITH corpus AS (
  SELECT doc_id, text,
         CASE WHEN lang = 'en' AND doc_id % 11 = 0
              THEN 'zz' ELSE lang END AS lang
  FROM documents
  WHERE doc_id % 13 <> 0
), alld AS (
  SELECT doc_id, text FROM corpus
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text
  FROM documents WHERE doc_id % 7 = 1
), tk AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM alld
), cnt AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 7))::BIGINT AS base,
         count(*) AS c
  FROM tk GROUP BY 1, 2
), seeds(seed, a, b) AS (VALUES {SIMHASH_SEEDS}
), bitsum AS (
  SELECT doc_id, seed,
         sum(c * (2 * (((a * base + b) % 2147483647) & 1) - 1)) AS sgn
  FROM cnt CROSS JOIN seeds GROUP BY doc_id, seed
), fp AS (
  SELECT doc_id,
         sum(CASE WHEN sgn > 0 THEN (1::BIGINT << seed) ELSE 0 END) AS simhash
  FROM bitsum GROUP BY doc_id
), banded AS (
  SELECT doc_id, simhash, band, (simhash >> (band * 16)) & 65535 AS bval
  FROM fp CROSS JOIN (VALUES (0), (1), (2), (3)) AS bb(band)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_indexed, b.doc_id AS id_new,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval
  JOIN corpus c ON c.doc_id = a.doc_id
  WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000 AND c.lang = 'en'
)
SELECT id_indexed, id_new, hamming FROM cand WHERE hamming <= 3
    """.replace("{SIMHASH_SEEDS}", _seed_values("simhash", 63))
    # metadata-only updates: the where-serving oracles with the FLIP
    # applied in SQL — derived from the verified base pipelines so
    # the only difference under test is the flipped candidate scope
    out["ann_update_metadata"] = out["ann_where_topk"].replace(
        "WHERE label IN (0, 2, 4)",
        "WHERE (CASE WHEN label = 1 AND vec_id % 3 = 0 "
        "THEN 0 ELSE label END) IN (0, 2, 4)",
    )
    out["bm25_update_metadata"] = out["bm25_where_topk"].replace(
        "WHERE lang = 'en')",
        "WHERE lang = 'en' AND doc_id % 7 <> 0)",
    )
    # store_cols EVOLUTION (r16): backfilling the metadata column onto
    # a bare index must serve where= identically to the fresh
    # store_cols build each *_where_* entry already verifies — the
    # oracles are those entries' SQL VERBATIM, so the only thing under
    # test is the backfill path itself
    out["ann_add_metadata_col"] = out["ann_where_topk"]
    out["bm25_add_metadata_col"] = out["bm25_where_topk"]
    out["minhash_add_metadata_col"] = out["minhash_where_query"]
    out["simhash_add_metadata_col"] = out["simhash_where_query"]
    # MULTI-COLUMN evolution (r17): two columns in ONE backfill must
    # serve like the fresh two-column build — ann_where_topk's SQL
    # with the second column's conjunct (par := vec_id % 2) added to
    # the same candidate scope
    out["ann_add_metadata_cols2"] = out["ann_where_topk"].replace(
        "WHERE label IN (0, 2, 4)",
        "WHERE label IN (0, 2, 4) AND vec_id % 2 = 1",
    )
    # the PRUNE leg (r17): dropping the extra stored column must
    # serve exactly like the build that never had it — the verified
    # where-serving SQL verbatim
    out["bm25_drop_metadata_col"] = out["bm25_where_topk"]
    out["minhash_drop_metadata_col"] = out["minhash_where_query"]
    # mixed U/D/M CDC stream: full BM25 recomputed over the
    # post-stream corpus — doc_id%13 deleted, every English
    # doc_id%11 re-graded to 'zz' (metadata-only — the 'U' rows
    # re-supplied their own text, so the token corpus is documents
    # minus the deletes), statistics over the survivors
    out["bm25_meta_cdc_stream"] = r"""
        WITH corpus AS (
          SELECT doc_id, text,
                 CASE WHEN lang = 'en' AND doc_id % 11 = 0
                      THEN 'zz' ELSE lang END AS lang
          FROM documents
          WHERE doc_id % 13 <> 0
        ),
        tok AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text),
                     '[^a-z0-9]+'), x -> x <> '') AS toks
          FROM corpus
        ),
        stats AS (
          SELECT count(*) AS n,
                 CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
          FROM tok
        ),
        qterms(term) AS (
          VALUES ('merge'), ('stream'), ('window')
        ),
        dfs AS (
          SELECT q.term,
                 (SELECT count(*) FROM tok
                  WHERE list_contains(toks, q.term)) AS df
          FROM qterms q
        ),
        idf AS (
          SELECT term,
                 ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf
          FROM dfs CROSS JOIN stats
        ),
        postings AS (
          SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
          FROM tok
        ),
        tf AS (
          SELECT doc_id, dl, term, count(*) AS tf
          FROM postings
          WHERE term IN (SELECT term FROM qterms)
            AND doc_id IN (SELECT doc_id FROM corpus WHERE lang = 'en')
          GROUP BY doc_id, dl, term
        ),
        scored AS (
          SELECT tf.doc_id,
                 floor(sum(idf.idf * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))
                       * 1e6 + 0.5) / 1e6 AS score
          FROM tf JOIN idf USING (term) CROSS JOIN stats
          GROUP BY tf.doc_id
        )
        SELECT doc_id, score,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                    AS INT) AS rank
        FROM scored
        ORDER BY rank
        LIMIT 10
    """
    # index-served decontamination: containment recomputed from text
    # with the INDEX's tokenization (every testdata doc has >= k
    # tokens, so k-gram set membership == the operator's phrase
    # semantics here)
    out["contamination_from_index"] = r"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text),
                     '[^a-z0-9]+'), x -> x <> '') AS t
          FROM documents
        ), csh AS (
          SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       FOR i IN range(1, len(t) - 1)]
                 WHEN len(t) > 0 THEN [array_to_string(t, ' ')]
                 ELSE [] END)) AS shingle
          FROM toks
        ), esh AS (
          SELECT doc_id AS eval_id, shingle FROM csh
          WHERE doc_id % 25 = 0
        ), esize AS (
          SELECT eval_id, count(*) AS es FROM esh GROUP BY eval_id
        ), ov AS (
          SELECT c.doc_id, e.eval_id, count(*) AS n_overlap
          FROM csh c JOIN esh e USING (shingle)
          GROUP BY 1, 2
        )
        SELECT doc_id, eval_id, n_overlap,
               floor(CAST(n_overlap AS DOUBLE) / es * 1000000.0 + 0.5)
                   / 1000000.0 AS containment
        FROM ov JOIN esize USING (eval_id)
        WHERE CAST(n_overlap AS DOUBLE) / es >= 0.6
    """
    # lossy PQ + full probe + refine >= corpus: the exact re-rank
    # provably equals exact rounded cosine top-k (excluding self)
    out["ann_refine_topk"] = r"""
        WITH q AS (
          SELECT vec_id AS query_id, embedding
          FROM embeddings WHERE vec_id < 3
        ),
        sc AS (
          SELECT q.query_id, c.vec_id,
                 floor(list_cosine_similarity(
                       CAST(c.embedding AS DOUBLE[]),
                       CAST(q.embedding AS DOUBLE[]))
                       * 1e6 + 0.5) / 1e6 AS cosine_sim
          FROM embeddings c CROSS JOIN q
          WHERE c.vec_id <> q.query_id
        )
        SELECT query_id, vec_id, cosine_sim, rank FROM (
          SELECT query_id, vec_id, cosine_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine_sim DESC, vec_id ASC) AS INT)
                   AS rank
          FROM sc
        ) WHERE rank <= 5
    """
    return out
