"""Deduplication at scale (beyond-reference, BASELINE.json north star).

Exact and near-duplicate detection over a document corpus, designed
for the 100 TB regime:

- exact: hash-groupBy on a normalized content fingerprint — one
  shuffle, map-side partial aggregation.
- MinHash + LSH: shingle -> seeded-hash signatures -> banded buckets
  -> candidate pairs -> signature-estimated Jaccard. Cost is
  O(docs x shingles) map side plus joins on band keys; no quadratic
  all-pairs stage ever materializes.
- SimHash: 63-bit weighted token fingerprint; banded Hamming
  candidates verified with ``bit_count(xor)``.
- n-gram Jaccard: exact set similarity via a shingle self-join —
  the verification oracle for the sketch-based paths (SQL-expressible).
- connected components: one-task numpy union-find once the edge list
  fits a partition, after large-star/small-star rounds for larger
  graphs (never a driver-side graph).

Built-in ``pyspark.sql.functions`` everywhere except the SimHash
bit-sum and the component union-find, which run as vectorized numpy
passes inside ``mapInPandas`` (Arrow-batched; the 63-sum JVM
expression tree is correct but codegen-hostile, and a join per
propagation round pays a job per hop). xxhash64 with per-index seed
columns stands in for a min-wise independent hash family (the same
construction datasketch and Spark ML's MinHashLSH use).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parq_tools_spark.operators import _band_index as _BI
from parq_tools_spark.operators._index_common import INDEX_MARKERS
from parq_tools_spark.operators._index_common import materialize as _mat

__all__ = [
    "word_shingles",
    "exploded_shingles",
    "dedupe_exact_text",
    "contamination_overlap",
    "decontaminate",
    "ngram_jaccard_pairs",
    "exact_jaccard_for_pairs",
    "MERSENNE_P",
    "portable_hash_params",
    "portable_base_hash",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_pairs",
    "hamming_pairs",
    "connected_components",
    "connected_components_alternating",
    "dedupe_near_duplicates",
    "dedupe_paragraphs",
    "banded_minhash",
    "minhash_pairs_between",
    "minhash_index_write",
    "minhash_index_delete",
    "minhash_index_add",
    "minhash_index_upsert",
    "minhash_index_apply_cdc",
    "minhash_index_query",
    "minhash_index_compact",
    "minhash_index_maybe_compact",
    "minhash_index_stats",
    "minhash_index_update_metadata",
    "minhash_index_add_metadata_col",
    "minhash_index_drop_metadata_col",
    "incremental_dedupe",
]


def word_shingles(text_col, k: int = 3):
    """Array of k-word shingles (space-joined); whole text if < k tokens.

    Built as a chain of shifted ``zip_with``s — k-1 linear passes —
    instead of slicing the whole token array once per position
    (O(L*k) interpreted work in the HOF evaluator); the produced
    strings are identical.
    """
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.split(F.trim(F.lower(col)), r"\s+")
    n = F.size(tokens)
    m = n - F.lit(k - 1)
    shingled = F.slice(tokens, 1, m)
    for i in range(1, k):
        shingled = F.zip_with(
            shingled,
            F.slice(tokens, i + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(
        F.when(n >= k, shingled).otherwise(F.array(F.concat_ws(" ", tokens)))
    )


def _spread(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound per-row work parallelizes.

    A small input file scans as ONE partition (below
    ``maxPartitionBytes``), which serializes the expensive
    shingle/token expressions onto a single core no matter how many
    are available. One cheap round-robin repartition up to the default
    parallelism fixes that; inputs that already split are untouched.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exploded_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    hashed: bool = False,
    carry_cols=(),
) -> DataFrame:
    """(id, shingle) rows, distinct per document.

    ``hashed=True`` replaces the shingle string with its xxhash64 —
    8-byte join/shuffle keys instead of ~20-byte strings. Collisions
    (~n^2/2^65) are negligible for set-similarity purposes; use the
    string form when shingle text must be surfaced.

    ``carry_cols`` rides extra per-document columns through the
    explode (they repeat per shingle INSIDE the codegen stage, never
    materialized) so a downstream aggregation can keep them in its
    group key — how the MinHash index stores metadata columns with
    zero extra shuffle.
    """
    shingle = F.explode(word_shingles(text_col, k)).alias("shingle")
    out = _spread(df).select(
        F.col(id_col), *[F.col(c) for c in carry_cols], shingle
    )
    if hashed:
        out = out.select(
            id_col, *carry_cols, F.xxhash64("shingle").alias("shingle")
        )
    return out


# ------------------------------------------------------------------- exact
def dedupe_exact_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized content: keep the min-id row per
    fingerprint. One hash-shuffle; survivor choice is deterministic."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    keyed = df.withColumn("_fp", F.md5(norm))
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).asc())
    return (
        keyed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_fp")
    )


# --------------------------------------------------------- decontamination
def contamination_overlap(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    k: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Benchmark-decontamination scan: training documents that contain
    too much of an eval document's k-gram set.

    For every (corpus doc, eval doc) pair sharing at least one k-word
    shingle: ``n_overlap`` distinct shared shingles and ``containment``
    = n_overlap / |eval doc's shingle set| (the standard directional
    decontamination measure — a 100-page training doc that embeds a
    whole eval prompt scores 1.0 even though its Jaccard is tiny).
    Returns pairs with containment >= ``threshold``.

    Scale shape: the eval set is small by construction (benchmarks are
    KBs, corpora are TBs), so its exploded shingles ride a BROADCAST
    join against the corpus shingles — the 100 TB side is never
    shuffled; per-pair counting is one map-side-combined aggregation.
    """
    corpus_sh = exploded_shingles(corpus, id_col, text_col, k)
    # materialized ONCE: the eval shingle set feeds two independent
    # broadcasts (the overlap join and the per-eval-doc sizes), and
    # each would otherwise re-derive it from eval_set — which is
    # often a FILTER over the corpus relation, so every extra
    # evaluation is another full corpus scan. The set is small by
    # construction (benchmarks are KBs).
    eval_sh = (
        eval_set.select(
            F.col(eval_id_col), F.col(eval_text_col).alias("__etext")
        )
        .select(
            eval_id_col,
            F.explode(word_shingles("__etext", k)).alias("shingle"),
        )
        .distinct()
    )
    eval_sh = _mat(eval_sh)
    eval_sizes = eval_sh.groupBy(eval_id_col).agg(
        F.count(F.lit(1)).alias("__esize")
    )
    overlap = (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy(id_col, eval_id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        overlap.join(F.broadcast(eval_sizes), eval_id_col)
        .withColumn(
            "containment",
            F.col("n_overlap").cast("double") / F.col("__esize"),
        )
        .filter(F.col("containment") >= threshold)
        .select(id_col, eval_id_col, "n_overlap", "containment")
    )


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
    k: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Drop training documents flagged by :func:`contamination_overlap`
    (broadcast anti-join on the flagged ids)."""
    flagged = (
        contamination_overlap(
            corpus,
            eval_set,
            id_col,
            text_col,
            eval_id_col,
            eval_text_col,
            k,
            threshold,
        )
        .select(id_col)
        .distinct()
    )
    return corpus.join(F.broadcast(flagged), id_col, "left_anti")


# ----------------------------------------------------------- exact jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_df: Optional[int | str] = "auto",
    auto_min_df: int = 16,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1 shingle.

    Classic shingle self-join: pairs that share nothing never meet, so
    the quadratic blowup is bounded by shingle co-occurrence. Returns
    (id1, id2, jaccard) with id1 < id2 and jaccard >= threshold.

    Skewed hot shingles (stopword runs, boilerplate) are the hazard at
    scale: a shingle present in *d* documents contributes ~d^2/2 join
    rows with near-zero Jaccard signal. ``max_df="auto"`` (the
    default) derives a pruning threshold from the corpus itself — the
    p99.9 of the shingle document-frequency distribution, floored at
    ``auto_min_df`` so benign small corpora are never pruned — and
    drops shingles hotter than that. ``max_df=<int>`` sets the
    threshold explicitly; ``max_df=None`` disables pruning entirely
    (bit-exact Jaccard; what the oracle queries check). Pruning
    happens AFTER per-document set sizes are computed, so denominators
    stay exact and intersections become a lower bound — results are
    conservative (never a false pair, possibly a missed one near the
    threshold).
    """
    sh = exploded_shingles(df, id_col, text_col, k, hashed=True)
    if max_df is not None:
        # pruning adds a third and fourth consumer of the shingle
        # stream (the document-frequency aggregation and the
        # anti-join's probe side) on top of the two self-join sides —
        # materialize it once so the corpus is tokenized exactly once,
        # and derive the sizes from the materialized stream.
        sh = _mat(sh)
        sizes_src = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    else:
        # the shingle stream is deliberately NOT materialized here: the
        # relation is token-count-sized — its eager write costs more
        # than the one re-shingle it saves at bench scale (driver r17:
        # 0.803x) and is a spill hazard at 100 TB — while the two
        # self-join sides share one exchange under the sort-merge plan
        # (ReusedExchange) or re-run one map-only explode under a
        # broadcast plan. The per-document set size doesn't need the
        # stream at all: ``word_shingles`` is already per-row distinct,
        # so |shingles(doc)| == size(word_shingles(text)) — a map-only
        # expression with NO explode and NO shingle-stream shuffle; the
        # per-id sum keeps duplicate-id inputs aggregating exactly as
        # the exploded count did.
        per_row = _spread(df).select(
            F.col(id_col), F.size(word_shingles(text_col, k)).alias("_n")
        )
        sizes_src = per_row.groupBy(id_col).agg(
            F.sum("_n").cast("long").alias("n_sh")
        )
    # one row per document, consumed twice (n1 and n2 attach) — the
    # sizes aggregation must not run per consumer
    sizes = _mat(sizes_src)
    if max_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        if max_df == "auto":
            # the document-frequency aggregation feeds the quantile
            # action AND the hot-shingle anti-join side: cache it so the
            # shuffle runs once
            dfreq = dfreq.cache()
            # signals, tightest wins but floored so pruning never cuts
            # into legitimately shared phrases: the p99.9 of the df
            # distribution (tail outliers), capped by half the corpus
            # (a shingle in >50% of documents is definitionally
            # signal-free — covers tiny vocabularies where the p99.9 IS
            # the hot shingle). The floor is the LARGER of auto_min_df
            # and 1% of the corpus: in a 1M-doc corpus the df
            # distribution's p99.9 is tiny (most shingles appear once),
            # and without the relative floor everything shared by >16
            # documents would be pruned.
            q = dfreq.approxQuantile("_df", [0.999], 0.001)
            p999 = q[0] if q else 0  # empty corpus -> no pruning
            n_docs = df.select(id_col).distinct().count()
            floor_df = max(auto_min_df, -(-n_docs // 100))
            max_df = max(min(int(p999), int(n_docs * 0.5)), floor_df)
        hot = dfreq.filter(F.col("_df") > max_df).select("shingle")
        sh = sh.join(hot, "shingle", "left_anti")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col(f"a.shingle") == F.col(f"b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id1"), F.col(f"b.{id_col}").alias("id2")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes1 = sizes.withColumnRenamed(id_col, "id1").withColumnRenamed("n_sh", "n1")
    sizes2 = sizes.withColumnRenamed(id_col, "id2").withColumnRenamed("n_sh", "n2")
    return (
        inter.join(sizes1, "id1")
        .join(sizes2, "id2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def exact_jaccard_for_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Exact k-gram Jaccard for a GIVEN (id1, id2) pair list.

    Verification companion to the sketch operators: instead of the
    all-pairs self-join, work is bounded by the pair list itself —
    each pair costs its two shingle sets plus their overlap. Used by
    the precision property checks, where ground truth is only needed
    for the candidates a sketch produced. Returns one row per input
    pair with ``jaccard`` (0.0 when the pair shares no shingle).
    """
    keys = pairs.select("id1", "id2")
    ids = (
        keys.select(F.col("id1").alias(id_col))
        .union(keys.select(F.col("id2").alias(id_col)))
        .distinct()
    )
    cand = df.join(F.broadcast(ids), id_col, "left_semi")
    sh = exploded_shingles(cand, id_col, text_col, k, hashed=True)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    s1 = sh.select(F.col(id_col).alias("id1"), "shingle")
    s2 = sh.select(F.col(id_col).alias("id2"), "shingle")
    inter = (
        keys.join(s1, "id1")
        .join(s2, ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    n_inter = F.coalesce("n_inter", F.lit(0))
    return (
        keys.join(inter, ["id1", "id2"], "left")
        .join(
            sizes.withColumnRenamed(id_col, "id1").withColumnRenamed("n_sh", "n1"),
            "id1",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id2").withColumnRenamed("n_sh", "n2"),
            "id2",
        )
        .select(
            "id1",
            "id2",
            (
                n_inter.cast("double")
                / (F.col("n1") + F.col("n2") - n_inter).cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------- minhash
#: Modulus of the portable universal hash family: the Mersenne prime
#: 2^31 - 1. Together with a 28-bit base hash, a*x + b < 2^59 — no
#: overflow in any engine's signed 64-bit arithmetic.
MERSENNE_P = (1 << 31) - 1


def portable_hash_params(n: int, family: str = "minhash") -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for the universal hash family
    ``h_i(x) = (a_i * x + b_i) mod (2^31 - 1)``.

    Derived from md5 of the (family, index) pair so every engine,
    process, and round generates the identical family — these constants
    are inlined into the DuckDB oracle SQL as literals.
    """
    import hashlib

    params = []
    for i in range(n):
        a = int(
            hashlib.md5(f"{family}-a-{i}".encode()).hexdigest()[:7], 16
        ) % MERSENNE_P
        b = int(
            hashlib.md5(f"{family}-b-{i}".encode()).hexdigest()[:7], 16
        ) % MERSENNE_P
        params.append((a or 1, b))
    return params


def portable_base_hash(col) -> Column:
    """28-bit engine-portable base hash of a string.

    Spark: ``conv(substr(md5(x), 1, 7), 16, 10)::long``; the identical
    DuckDB spelling is ``('0x' || substr(md5(x), 1, 7))::BIGINT``. 28
    bits keeps ``a * base + b`` under 2^59 for the universal family.
    """
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    k: int = 3,
    hash_family: str = "portable",
    carry_cols=(),
) -> DataFrame:
    """Per-document MinHash signature: array of ``num_hashes`` longs.

    ``hash_family="portable"`` (default) is the classic construction:
    ONE strong base hash per shingle (md5-derived, 28-bit) permuted by
    ``num_hashes`` universal hashes ``(a_i*x + b_i) mod 2^31-1`` —
    cheaper than ``num_hashes`` full hashes per shingle AND bit-exactly
    recomputable in ANSI SQL, so the whole MinHash+LSH pipeline is
    oracle-checkable. ``hash_family="xxhash64"`` uses seeded xxhash64
    per signature slot instead (Spark-only hash, 63-bit space).

    Either way: sig[i] = min over shingles, computed as ``num_hashes``
    min-aggregations in ONE groupBy pass (map-side partial mins make
    the shuffle tiny: num_hashes longs per doc per partition).

    ``carry_cols`` keeps extra per-document columns (functionally
    dependent on the id) on the output rows by widening the groupBy
    KEY — the partial-aggregate shuffle rows gain only those values
    per (partition, doc), so the index's ``store_cols`` metadata
    rides the signature pass with zero extra shuffle or join.
    """
    carry_cols = list(carry_cols)
    if hash_family == "portable":
        sh = exploded_shingles(
            df, id_col, text_col, k, hashed=False, carry_cols=carry_cols
        ).select(
            id_col,
            *carry_cols,
            portable_base_hash(F.col("shingle")).alias("bh"),
        )
        # F.expr strings: one py4j round-trip per aggregation instead of
        # ~5 (lit/mul/add/mod/alias) — plan construction drops from
        # seconds to milliseconds at num_hashes=128
        mins = [
            F.expr(f"min(({a} * bh + {b}) % {MERSENNE_P}) AS _h{i}")
            for i, (a, b) in enumerate(portable_hash_params(num_hashes))
        ]
    elif hash_family == "xxhash64":
        sh = exploded_shingles(
            df, id_col, text_col, k, hashed=True, carry_cols=carry_cols
        )
        mins = [
            F.expr(f"min(xxhash64(shingle, {i})) AS _h{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    agg = sh.groupBy(id_col, *carry_cols).agg(*mins)
    return agg.select(
        id_col,
        *carry_cols,
        F.array(*[f"_h{i}" for i in range(num_hashes)]).alias("signature"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.7,
    hash_family: str = "portable",
    _banded: Optional[DataFrame] = None,
) -> DataFrame:
    """MinHash/LSH near-duplicate pairs.

    Signatures -> ``bands`` band-hashes -> explode -> equi-join on
    (band index, band hash) for candidates -> Jaccard estimated as the
    fraction of equal signature components; keep >= threshold.
    Collision probability for a pair with true Jaccard s is
    1-(1-s^r)^b with r = num_hashes/bands rows per band. With the
    default portable ``hash_family`` the whole pipeline is
    recomputable in ANSI SQL (see :func:`minhash_signatures`).

    ``_banded`` (internal): a precomputed, already-materialized band
    relation for ``df`` (the :func:`banded_minhash` shape) — lets
    :func:`incremental_dedupe` band its batch once for both the
    vs-index and the in-batch rule.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    if _banded is not None:
        banded = _banded
    else:
        # materialized ONCE: the candidate self-join evaluates each
        # side independently when the planner picks a broadcast join
        # (there is no exchange to reuse), which would re-tokenize the
        # corpus and re-run the whole signature aggregation — its
        # shuffle is the dominant cost of this operator — a second
        # time. The checkpoint is one (id, signature) row per
        # document, far smaller than the shingle stream it replaces;
        # both join sides then re-derive the map-only band explode
        # from it.
        sigs = _mat(minhash_signatures(
            df, id_col, text_col, num_hashes, k, hash_family
        ))
        banded = _band_explode(
            sigs, id_col, [], bands, num_hashes // bands
        )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            F.col("a.signature").alias("sig1"),
            F.col("b.signature").alias("sig2"),
        )
        .dropDuplicates(["id1", "id2"])
    )
    est = F.aggregate(
        F.zip_with("sig1", "sig2", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(float(num_hashes))
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id1", "id2", "est_jaccard")
    )


# ---------------------------------------------------------------- simhash
def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 63,
    hash_family: str = "portable",
) -> DataFrame:
    """63-bit SimHash fingerprint per document (token-frequency weighted).

    For each token hash h and bit b the contribution is
    count * (2*bit(h,b) - 1); the fingerprint sets bit b iff the sum
    is positive. 63 bits keeps the fingerprint a non-negative BIGINT
    (bit 63 would overflow the sign under ANSI mode).

    Pipeline: tokenize + per-(doc, token) counts stay JVM-side (one
    shuffle with map-side partial aggregation), then the per-document
    bit sums run as a single vectorized numpy pass in ``mapInPandas``
    after a hash repartition on the doc id. The equivalent pure-JVM
    formulation (``bits`` sum-aggregations + a ``bits``-term
    fingerprint sum) produces a codegen-hostile expression tree whose
    compilation dominates runtime; one (n_rows x bits) numpy matrix op
    per Arrow batch is both faster and flat in plan size. Shuffle
    volume is (doc, token-hash, count) triples — the same order as
    MinHash's shingle shuffle.
    """
    if not 0 < bits <= 63:
        raise ValueError("bits must be in (0, 63]")
    id_field = df.schema[id_col]
    if hash_family == "portable":
        # one md5-derived 28-bit base per token; bit b of the sketch
        # comes from the universal hash ((a_b*base + b_b) mod 2^31-1)
        # parity — same family as MinHash, so the whole fingerprint is
        # recomputable in ANSI SQL for oracle checks
        token_hash = portable_base_hash(F.col("tok"))
    elif hash_family == "xxhash64":
        token_hash = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    tokens = _spread(df).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    ).select(F.col(id_col), token_hash.alias("th"))
    counted = tokens.groupBy(id_col, "th").agg(F.count(F.lit(1)).alias("cnt"))

    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )
    shifts = np.arange(bits, dtype=np.int64)
    if hash_family == "portable":
        params = portable_hash_params(bits, family="simhash")
        pa = np.array([a for a, _ in params], dtype=np.int64)
        pb = np.array([b for _, b in params], dtype=np.int64)

    def _bit_sums(batches):
        import pandas as pd

        partials = []
        for b in batches:
            th = b["th"].to_numpy(dtype=np.int64)
            cnt = b["cnt"].to_numpy(dtype=np.int64)
            if hash_family == "portable":
                # a < 2^31, base < 2^28 -> product < 2^59: int64-safe
                bitvals = ((th[:, None] * pa[None, :] + pb[None, :]) % MERSENNE_P) & 1
            else:
                bitvals = (th[:, None] >> shifts[None, :]) & 1
            signs = (bitvals * 2 - 1) * cnt[:, None]
            pdf = pd.DataFrame(signs)
            pdf.insert(0, "_id", b[id_col].to_numpy())
            partials.append(pdf.groupby("_id", sort=False).sum())
        if not partials:
            return
        # same doc can span batches within the partition: combine partials
        sums = pd.concat(partials).groupby(level=0, sort=False).sum()
        fp = ((sums.to_numpy() > 0).astype(np.int64) << shifts[None, :]).sum(axis=1)
        yield pd.DataFrame({id_col: sums.index.to_numpy(), "simhash": fp})

    return counted.repartition(id_col).mapInPandas(_bit_sums, schema=out_schema)


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    hash_family: str = "portable",
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance.

    Pigeonhole: any pair within ``max_hamming < n_bands`` bits agrees
    exactly on at least one of ``n_bands`` disjoint bit-bands, so
    candidates come from equi-joins on band values; each candidate is
    verified with ``bit_count(xor) <= max_hamming``.
    """
    fps = simhash(df, id_col, text_col, hash_family=hash_family)
    return hamming_pairs(
        fps, "simhash", id_col, max_hamming=max_hamming, n_bands=n_bands
    )


def hamming_pairs(
    df: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 63,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits on an integer-signature
    column: ``(id1, id2, hamming)`` with ``id1 < id2``.

    The banded-candidate core shared by :func:`simhash_pairs` (text)
    and ``multimodal.image_near_duplicate_pairs`` (perceptual hash):
    any pair within ``max_hamming < n_bands`` bits agrees exactly on
    at least one of ``n_bands`` disjoint bit-bands (pigeonhole), so
    candidates come from equi-joins on band values and each candidate
    verifies with ``bit_count(xor)``. One shuffle keyed by (band,
    value) — never all-pairs.
    """
    width = (bits - 1) // n_bands + 1
    mask = (1 << width) - 1
    # materialized ONCE: every caller feeds a computed signature
    # relation (SimHash fingerprints, perceptual hashes — each a full
    # corpus/blob pass through the Python boundary), and the banded
    # self-join below evaluates each side independently when the
    # planner picks a broadcast join. The checkpoint is one
    # (id, int64) row per document — re-running the fingerprint
    # pipeline per join side costs orders of magnitude more.
    df = _mat(df)
    banded = df.select(
        id_col,
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(sig_col, bi * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, sig_col, "bk.band", "bk.bval")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            F.bit_count(
                F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id1", "id2"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------ components / dedup
#: Edge lists up to this size finish in ONE task (partition-local
#: union-find); larger ones first shrink through large-star/small-star
#: rounds until they fit or converge.
_CC_LOCAL_EDGES = 500_000


def connected_components(
    pairs: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of an (id1, id2) edge list -> (id, component)
    with component = min id of the component. Every id in ``pairs``
    appears once, a self-loop pair ``(a, a)`` included (it labels
    itself); the id type is the pair columns' type.

    Sized to the graph, not the corpus. One pass normalizes the edges
    (``u = least, v = greatest``, distinct) and counts them. An edge
    list of at most ``_CC_LOCAL_EDGES`` edges is labelled by ONE
    partition-local numpy union-find in ``mapInPandas``: one job and
    one task, whatever the cluster diameter. Larger graphs first run
    alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14: O(log n)
    rounds regardless of diameter), each materialized and counted in
    one job, until the edge list fits one task — or converges, when
    every component is a star rooted at its min id and the labels read
    straight off the edges. Running out of ``max_iter`` rounds before
    either raises instead of returning unconverged labels.
    """
    from parq_tools_spark.operators._index_common import eager_stats

    def _counted(e: DataFrame):
        # count + order-insensitive fingerprint of the edge set, in the
        # job that materializes it; bit_xor cannot overflow under ANSI
        # mode and edges are distinct, so nothing self-cancels
        e, st = eager_stats(
            e, n=F.count(F.lit(1)), h=F.expr("bit_xor(xxhash64(u, v))")
        )
        return e, (int(st["n"]), st["h"])

    edges, fp = _counted(
        pairs.select(
            F.least("id1", "id2").alias("u"), F.greatest("id1", "id2").alias("v")
        )
        .filter(F.col("u").isNotNull())
        .distinct()
    )
    rounds = 0
    while fp[0] > _CC_LOCAL_EDGES:
        if rounds == max_iter:
            raise RuntimeError(
                f"connected_components: {max_iter} large-star/small-star "
                f"rounds left {fp[0]} edges (one-task limit "
                f"{_CC_LOCAL_EDGES}) and the graph had not converged; "
                "raise max_iter"
            )
        edges, nxt = _counted(_small_star(_large_star(edges)))
        if nxt == fp:
            # converged: every component is a star (root u = min id);
            # a root's self-loop (u, u) survives the rounds, so
            # self-loop-only ids keep their row
            return edges.select(
                F.explode(F.array("u", "v")).alias("id"),
                F.col("u").alias("component"),
            ).distinct()
        fp, rounds = nxt, rounds + 1
    id_type = edges.schema["u"].dataType
    out_schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("component", id_type)]
    )

    def _union_find(batches):
        import pandas as pd

        parts = list(batches)
        if not parts:
            return
        e = pd.concat(parts, ignore_index=True)
        # dense codes in id order, so a smaller code is a smaller id
        codes, ids = pd.factorize(
            pd.concat([e["u"], e["v"]], ignore_index=True), sort=True
        )
        u, v = codes[: len(e)], codes[len(e):]
        parent = np.arange(len(ids))
        while True:
            # every node points at its root (parent[x] <= x throughout);
            # hook each crossing edge's larger root under the smaller
            pu, pv = parent[u], parent[v]
            live = pu != pv
            if not live.any():
                break
            pu, pv = pu[live], pv[live]
            np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
            while True:  # pointer jumping until every node sees its root
                pp = parent[parent]
                if np.array_equal(pp, parent):
                    break
                parent = pp
        ids = np.asarray(ids)
        yield pd.DataFrame({"id": ids, "component": ids[parent]})

    # at most 2 x _CC_LOCAL_EDGES ids: joins against the labels
    # broadcast them instead of shuffling the other side
    return F.broadcast(
        edges.coalesce(1).mapInPandas(_union_find, schema=out_schema)
    )


#: The same function: the name stays for callers that asked for the
#: O(log n) large-star/small-star variant explicitly.
connected_components_alternating = connected_components


def _large_star(e: DataFrame) -> DataFrame:
    """Hang every neighbor larger than a node off the minimum of its
    neighborhood. A self-loop (u, u) stays only on a local minimum."""
    nb = e.select("u", "v").union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        nb.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("_mv", F.col("u")).alias("m"))
    )
    return (
        nb.join(mins, "u")
        .filter(F.col("v") >= F.col("u"))
        .select(F.col("m").alias("u"), F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Re-point each node's smaller neighbors (and the node) at the
    minimum of them; a node whose only edge is its self-loop keeps it."""
    nb = e.select(F.greatest("u", "v").alias("x"), F.least("u", "v").alias("y"))
    mins = nb.groupBy("x").agg(F.min("y").alias("m"))
    relinked = (
        nb.join(mins, "x")
        .filter(F.col("y") != F.col("m"))
        .select(F.col("m").alias("u"), F.col("y").alias("v"))
    )
    roots = mins.select(F.col("m").alias("u"), F.col("x").alias("v"))
    return relinked.union(roots).distinct()


def dedupe_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    cc_algorithm: str = "propagation",
) -> DataFrame:
    """Drop near-duplicates: within each connected component of
    ``pairs``, keep only the min-id document; rows in no component are
    kept untouched (left-anti join against the non-representative set).

    ``cc_algorithm`` accepts "propagation" and "alternating"; both name
    the one :func:`connected_components` implementation.
    """
    if cc_algorithm not in ("propagation", "alternating"):
        raise ValueError(
            f"unknown cc_algorithm {cc_algorithm!r}; "
            "expected 'propagation' or 'alternating'"
        )
    comps = connected_components(pairs)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# ------------------------------------------------------- paragraph dedup
def dedupe_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 0,
    out_col: str = "dedup_text",
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the C4/RefinedWeb
    boilerplate pass): split every document on ``sep``, keep only the
    FIRST occurrence of each exact paragraph across the whole corpus
    (first = smallest ``(id, position)``), and reassemble documents
    from their surviving paragraphs in original order.

    Beyond-reference operator (the reference has no text stack).

    Returns ``(id_col, out_col, n_paras_kept)`` — one row per input
    document; a document whose every paragraph was seen earlier comes
    back with an empty string and ``n_paras_kept = 0``.

    ``min_chars``: paragraphs shorter than this are exempt from
    dedup (always kept) — short connective lines ("Introduction",
    "---") would otherwise be stripped from every document but the
    corpus-first one. ``0`` dedupes everything exactly (what the SQL
    oracle checks).

    Scale shape: one ``posexplode`` (map-only), ONE exchange keyed by
    paragraph text for the first-occurrence window, one exchange keyed
    by document for reassembly. Paragraph keys distribute by content
    hash — hot paragraphs (the reason this pass exists) each collapse
    to a single window partition whose size is the duplicate count,
    never the corpus; ``row_number`` over (id, pos) is a total order,
    so survivor choice is deterministic and engine-portable.
    """
    import re

    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(sep), -1)).alias(
            "_pos", "_para"
        ),
    )
    w = Window.partitionBy("_para").orderBy(
        F.col(id_col).asc(), F.col("_pos").asc()
    )
    exempt = F.length("_para") < min_chars
    kept = (
        paras.withColumn(
            "_rn", F.when(exempt, F.lit(1)).otherwise(F.row_number().over(w))
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_pos", "_para"))
                ),
                lambda s: s["_para"],
            ),
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_paras_kept"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(out_col, F.lit("")).alias(out_col),
            F.coalesce("n_paras_kept", F.lit(0)).alias("n_paras_kept"),
        )
    )


# ----------------------------------------------------- incremental minhash
def banded_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    k: int = 3,
    hash_family: str = "portable",
    meta_cols=(),
) -> DataFrame:
    """(id, signature, band, bhash) rows — the LSH bucket keys of every
    document, ``bands`` rows per document. The shared banding step of
    :func:`minhash_lsh_pairs`, :func:`minhash_pairs_between` and the
    persistent index. ``meta_cols`` appends per-document metadata
    columns to every band row (carried through the signature
    aggregation's group key — zero extra shuffle), the storage shape
    behind ``minhash_index_write(store_cols=...)``."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    meta_cols = list(meta_cols)
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, k, hash_family,
        carry_cols=meta_cols,
    )
    return _band_explode(sigs, id_col, meta_cols, bands, num_hashes // bands)


def _band_explode(
    sigs: DataFrame, id_col: str, meta_cols, bands: int, r: int
) -> DataFrame:
    """The map-only banding projection of :func:`banded_minhash`,
    split out so :func:`minhash_lsh_pairs` can apply it to an
    already-materialized signature table."""
    return sigs.select(
        F.col(id_col),
        *[F.col(c) for c in meta_cols],
        F.col("signature"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.slice(F.col("signature"), bi * r + 1, r), F.lit(bi)
                        ).alias("bhash"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, *meta_cols, "signature", "bk.band", "bk.bhash")


def minhash_pairs_between(
    indexed: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    k: int = 3,
    threshold: float = 0.7,
    hash_family: str = "portable",
    indexed_banded: Optional[DataFrame] = None,
    exclude_same_id: bool = False,
    new_banded: Optional[DataFrame] = None,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora (the incremental-dedup
    primitive): ``(id_indexed, id_new, est_jaccard)`` for every new
    document colliding with an indexed one in >= 1 LSH band at
    estimated Jaccard >= threshold.

    The two sides' id spaces are treated as independent: a pair whose
    ids happen to coincide is still reported (it may be a genuine
    cross-corpus duplicate). Pass ``exclude_same_id=True`` only when
    both sides share ONE id space with ids unique across the union —
    then an equal-id pair means "the same row seen twice" and is
    suppressed (what :func:`minhash_index_query` does, since an index
    and its batches share the id space by construction).

    Unlike the self-join in :func:`minhash_lsh_pairs`, the indexed
    side's signatures are never recomputed when ``indexed_banded`` is
    supplied (the persistent index) — the cost of deduping a new batch
    against a 100 TB corpus is banding the BATCH plus one broadcast
    join; the corpus side is a scan of precomputed band rows that
    never shuffles. ``new_banded`` is the batch-side twin: a caller
    that already banded the batch (``incremental_dedupe`` shares one
    banding between the vs-index and in-batch rules) passes it here
    so the batch is not re-shingled either.
    """
    if indexed_banded is None:
        indexed_banded = banded_minhash(
            indexed, id_col, text_col, num_hashes, bands, k, hash_family
        )
    if new_banded is None:
        new_banded = banded_minhash(
            new_docs, id_col, text_col, num_hashes, bands, k, hash_family
        )
    a = indexed_banded.select(
        F.col(id_col).alias("id_indexed"),
        F.col("signature").alias("_sig_a"),
        "band",
        "bhash",
    )
    b = new_banded.select(
        F.col(id_col).alias("id_new"),
        F.col("signature").alias("_sig_b"),
        "band",
        "bhash",
    )
    cand = a.join(F.broadcast(b), on=["band", "bhash"])
    if exclude_same_id:
        cand = cand.filter(F.col("id_indexed") != F.col("id_new"))
    cand = cand.dropDuplicates(["id_indexed", "id_new"])
    est = F.aggregate(
        F.zip_with("_sig_a", "_sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(float(num_hashes))
    return (
        cand.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_indexed", "id_new", "est_jaccard")
    )


_PARAMS_FILE = "_minhash_params.json"


def _minhash_band_rows(df, p: dict, text_col: str, _model) -> DataFrame:
    return banded_minhash(
        df, p["id_col"], text_col, p["num_hashes"], p["bands"], p["k"],
        p["hash_family"], meta_cols=p.get("store_cols", []),
    )


def _minhash_manifest_params(spark, path: str, vs, m) -> dict:
    """The MinHash params resolver. Params ride IN the manifest since
    round 9 (atomic with the segment list); indexes written earlier
    fall back to the params sidecar (safe there — the sidecar was
    written once at build and never changed).

    With nothing committed (``m is None``), a pre-manifest LEGACY
    layout (``band=`` directories at the root, written by the old
    rename-in-place protocol) is refused LOUDLY — silently ignoring
    those rows would let every past document's near-duplicates
    through; rebuild with :func:`minhash_index_write` over the
    original corpus to migrate."""
    import json

    if m is None:
        if any(
            is_dir and name.startswith("band=")
            for name, is_dir, _ in vs.fs.list_status(path)
        ):
            raise ValueError(
                f"minhash index at {path} uses the legacy band-directory "
                "layout (no committed manifest); rebuild it with "
                "minhash_index_write to migrate"
            )
        return None
    if "params" in m:
        return m["params"]
    return json.loads(vs.fs.read_text(f"{path}/{_PARAMS_FILE}"))


#: The MinHash band-row family: ``(id, *store_cols, signature, band,
#: bhash)`` rows under ``_index_manifest.json`` commits.
BAND_FAMILY = _BI.IndexFamily(
    family="minhash",
    module=__name__,
    marker=INDEX_MARKERS["minhash"],
    reserved=("signature", "band", "bhash"),
    encode=_minhash_band_rows,
    params=_minhash_manifest_params,
    dup_note=" (a duplicate would append two signature sets for one id)",
)


def _index_manifest_full(spark, path: str, version=None):
    """``(vs, current_version, manifest_dict)`` of the MinHash index
    (``version=`` resolves a retained historical manifest)."""
    return _BI.manifest(BAND_FAMILY, spark, path, version)


def _index_manifest(spark, path: str):
    """``(vs, current_version, segments)`` — only COMMITTED manifests
    are visible; a legacy pre-manifest layout is refused loudly."""
    vs, cur, m = _index_manifest_full(spark, path)
    return vs, cur, list(m["segments"])


def _minhash_index_params(spark, path: str) -> dict:
    return _BI.resolve(BAND_FAMILY, spark, path)[3]


def minhash_index_is_committed(spark, path: str) -> bool:
    """True iff ``path`` holds a committed index manifest — the
    bootstrap gate (a params sidecar alone proves nothing: a crash
    between the sidecar write and the manifest commit must read as
    "no index yet" so the writer retries, never as a wedge)."""
    return _BI.committed(BAND_FAMILY, spark, path)


def minhash_index_write(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    bands: int = 32,
    k: int = 3,
    hash_family: str = "portable",
    keep_versions: int = 1,
    store_cols=(),
) -> None:
    """Persist a corpus's banded MinHash index so future batches
    dedupe against the corpus WITHOUT recomputing its signatures.
    Index size is ``bands`` small rows per document — for 100 TB of
    text, a few hundred GB of longs.

    On-disk protocol (``sources/statefs.py`` — the same
    versioned-manifest commit the rollup state and CDC snapshots
    use, so the index lives equally on ``file:``, ``hdfs:`` or
    ``s3a:``; the lifecycle ops are shared with the SimHash family,
    ``operators/_band_index.py``):

    - band rows land in immutable SEGMENT directories
      (``seg-<version>-<tag>/band=<b>/...``), one per write/add;
    - a committed manifest (``v=<n>/_index_manifest.json``, marker
      created exclusively and LAST) lists exactly the segments a
      reader may see — data of a crashed or in-flight operation is
      invisible, never half-read, and nothing ever renames data in
      place (object-store-clean: the commit is one marker PUT);
    - a params sidecar pins the signature scheme for pre-round-9
      readers.

    ``store_cols`` persists the named per-document metadata columns
    (e.g. ``lang``, ``license``) ON every band row — carried through
    the signature aggregation's group key, zero extra shuffle — so
    :func:`minhash_index_query`'s ``where=`` predicates push straight
    into the band-row scans (no metadata table join, no id set
    materialized). Every subsequent ingest batch must supply the same
    columns; updates stay correct for free because the version-scoped
    tombstones hide whole rows and compaction/rebuild rewrite whole
    rows.

    Rebuilding over an existing index is NON-DESTRUCTIVE: the new
    generation's segment is built alongside the live state and a new
    manifest version (listing ONLY it, carrying the new params)
    commits last — readers of the previous manifest keep their files
    for one maintenance cycle, and a crash mid-rebuild leaves the old
    index fully committed with the half-built data as an invisible
    orphan. Only the pre-manifest LEGACY ``band=`` layout (nothing
    committed under this protocol) is still reset in place.
    """
    import json

    def _reset_legacy(vs) -> None:
        # legacy band= dirs from the pre-manifest layout: no manifest
        # ever committed them, so the rebuild-migration resets them
        # (markers like the streaming checkpoint sidecar are left)
        for entry, is_dir, _ in vs.fs.list_status(path):
            if is_dir and entry.startswith("band="):
                vs.fs.delete(f"{path}/{entry}")

    params = {
        "id_col": id_col,
        "text_col": text_col,
        "num_hashes": num_hashes,
        "bands": bands,
        "k": k,
        "hash_family": hash_family,
        "keep_versions": keep_versions,
        "store_cols": list(store_cols),
    }
    _BI.write(BAND_FAMILY, df, path, params, on_fresh=_reset_legacy)
    # sidecar kept for pre-round-9 readers, written AFTER the commit:
    # the manifest copy is authoritative (atomic with the segment
    # list), and on a LEGACY index (old manifest without params, read
    # through the sidecar fallback) overwriting the sidecar before
    # the new manifest lands would hand the old generation's readers
    # the NEW signature params — garbage matches with no error. A
    # crash in between leaves the sidecar stale, which no reader of a
    # params-carrying manifest ever consults.
    from parq_tools_spark.sources.statefs import StateFS

    StateFS(df.sparkSession, path).write_text(
        f"{path}/{_PARAMS_FILE}", json.dumps(params)
    )


minhash_index_add = _BI.alias(BAND_FAMILY, "add")
minhash_index_delete = _BI.alias(BAND_FAMILY, "delete")
minhash_index_upsert = _BI.alias(BAND_FAMILY, "upsert")
minhash_index_apply_cdc = _BI.alias(BAND_FAMILY, "apply_cdc")
minhash_index_compact = _BI.alias(BAND_FAMILY, "compact")
minhash_index_maybe_compact = _BI.alias(BAND_FAMILY, "maybe_compact")
minhash_index_stats = _BI.alias(BAND_FAMILY, "stats")
minhash_index_update_metadata = _BI.alias(BAND_FAMILY, "update_metadata")
minhash_index_add_metadata_col = _BI.alias(BAND_FAMILY, "add_metadata_col")
minhash_index_drop_metadata_col = _BI.alias(
    BAND_FAMILY, "drop_metadata_col"
)


def minhash_index_query(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.7,
    exclude_same_id: bool = True,
    version: Optional[int] = None,
    allowed_ids=None,
    where: Optional[str] = None,
    _new_banded: Optional[DataFrame] = None,
) -> DataFrame:
    """Pairs between an on-disk index and a new batch:
    ``(id_indexed, id_new, est_jaccard)``. The index side is read as
    precomputed band rows and joined against a BROADCAST of the new
    batch's keys — the corpus never shuffles and its text is never
    re-shingled.

    The index and its batches share one id space by construction
    (:func:`minhash_index_add` appends batch ids as-is), so equal-id
    collisions mean "this exact row is already indexed" and are
    suppressed by default; pass ``exclude_same_id=False`` to surface
    them (e.g. to detect re-submissions).

    Readers see exactly the segments the resolved manifest lists — an
    in-flight or crashed add/compact is invisible, so this never
    raises on maintenance state and never serves a partial band.
    Deleted docs' band rows are hidden by per-segment version-scoped
    tombstone anti-joins, so a new doc can never be dropped as a
    duplicate of removed content.

    ``allowed_ids`` (sequence or DataFrame of ids — the shared
    :func:`~parq_tools_spark.operators._index_common.
    apply_allowed_ids` filter) scopes WHICH INDEXED DOCUMENTS may
    pair: a literal list pushes into the band-row scans, a DataFrame
    semi-joins — so one physical index serves per-tenant /
    per-language dedup without per-scope copies.

    ``where`` scopes the indexed side by a DSL predicate over the
    index's STORED metadata columns
    (``minhash_index_write(store_cols=...)``) — e.g.
    ``where="lang == 'en'"`` — compiled by the engine's own filter
    parser (:func:`~parq_tools_spark.plans.query_parser.
    build_filter_expression`) and pushed by Catalyst into the
    band-row scans: no metadata table join, no id set materialized.
    Composes with ``allowed_ids`` (both apply)."""
    _, _, m, p = _BI.resolve(BAND_FAMILY, spark, path, version)
    indexed_banded = _BI.serve_rows(
        BAND_FAMILY, spark, path, m, p, where=where, allowed_ids=allowed_ids
    )
    if indexed_banded is None:
        # freshly-bootstrapped index (zero band rows): nothing can
        # match — a typed empty relation keeps callers
        # (incremental_dedupe, the streaming admitter) branch-free
        id_type = new_docs.schema[p["id_col"]].dataType
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("id_indexed", id_type),
                    T.StructField("id_new", id_type),
                    T.StructField("est_jaccard", T.DoubleType()),
                ]
            ),
        )
    return minhash_pairs_between(
        None,
        new_docs,
        id_col=p["id_col"],
        text_col=text_col,
        num_hashes=p["num_hashes"],
        bands=p["bands"],
        k=p["k"],
        threshold=threshold,
        hash_family=p["hash_family"],
        indexed_banded=indexed_banded,
        exclude_same_id=exclude_same_id,
        new_banded=_new_banded,
    )


def incremental_dedupe(
    spark,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.7,
    update_index: bool = False,
    allowed_ids=None,
    where: Optional[str] = None,
) -> DataFrame:
    """The full incremental-ingest dedup step: drop new documents that
    near-duplicate (a) anything in the persistent index or (b) a
    lower-id document within the same batch, and optionally append the
    survivors' band rows to the index.

    Returns the surviving rows of ``new_docs``. With
    ``update_index=True`` the survivors are materialized (one action)
    before their signatures are appended, so the returned DataFrame is
    a simple scan of what the index now covers.

    Cost shape at 100 TB corpus / small batch: banding the batch, one
    broadcast join against the index band rows (corpus unshuffled),
    one in-batch LSH self-join bounded by batch size.

    ``allowed_ids`` scopes admission exactly like
    :func:`~parq_tools_spark.operators.ann_index.
    semantic_dedupe_incremental`: only allowed INDEX entries may
    block a new document (per-tenant dedup over one index); the
    in-batch lower-id rule is deliberately unscoped, and
    ``update_index=True`` still appends every survivor. ``where``
    scopes the blocking set the same way, by a DSL predicate over
    the index's stored metadata columns (pushed into the band-row
    scans — see :func:`minhash_index_query`).
    """
    p = _minhash_index_params(spark, index_path)
    id_col = p["id_col"]
    # the batch is banded ONCE (signatures checkpointed, map-only
    # explode on top) and shared by both rules — without this the
    # vs-index probe and the in-batch self-join each re-shingled and
    # re-signature-aggregated the batch from scratch
    sigs = _mat(minhash_signatures(
        new_docs, id_col, text_col, p["num_hashes"], p["k"],
        p["hash_family"],
    ))
    banded = _band_explode(
        sigs, id_col, [], p["bands"], p["num_hashes"] // p["bands"]
    )
    vs_index = minhash_index_query(
        spark, index_path, new_docs, text_col=text_col,
        threshold=threshold, allowed_ids=allowed_ids, where=where,
        _new_banded=banded,
    )
    dup_vs_index = vs_index.select(
        F.col("id_new").alias(id_col)
    ).distinct()
    in_batch = minhash_lsh_pairs(
        new_docs,
        id_col,
        text_col,
        num_hashes=p["num_hashes"],
        bands=p["bands"],
        k=p["k"],
        threshold=threshold,
        hash_family=p["hash_family"],
        _banded=banded,
    )
    # within the batch, keep the min-id member of each duplicate pair
    dup_in_batch = in_batch.select(F.col("id2").alias(id_col)).distinct()
    survivors = new_docs.join(
        dup_vs_index.unionByName(dup_in_batch).distinct(),
        on=id_col,
        how="left_anti",
    )
    if update_index:
        survivors = _mat(survivors)
        minhash_index_add(survivors, index_path, text_col=text_col)
    return survivors
