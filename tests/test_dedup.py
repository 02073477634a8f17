"""Dedup operator tests (exact, MinHash-LSH, SimHash, Jaccard, components)."""

import pytest

from pyspark.sql import functions as F

from parq_tools_spark.operators.dedup import (
    connected_components,
    dedupe_exact_text,
    dedupe_near_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
    word_shingles,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the morning sun with great interest today"
)
NEAR = BASE.replace("morning", "evening")  # one token differs
FAR = (
    "completely different content about spark dataframes and parquet files "
    "with partitions shuffles and broadcast joins at massive scale"
)


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [(0, BASE), (1, BASE), (2, NEAR), (3, FAR)], "doc_id long, text string"
    )


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    row = df.select(word_shingles("text", 3).alias("s")).collect()[0]
    assert row.s == ["a b c", "b c d"]
    short = spark.createDataFrame([("a b",)], "text string")
    assert short.select(word_shingles("text", 3).alias("s")).collect()[0].s == ["a b"]


def test_dedupe_exact_text(spark):
    df = spark.createDataFrame(
        [(10, "Same  Text"), (5, "same text"), (7, "other")],
        "doc_id long, text string",
    )
    out = dedupe_exact_text(df)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [5, 7]  # min id survives the normalized-equal pair


def test_ngram_jaccard_pairs(corpus):
    pairs = ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    got = {(r.id1, r.id2): r.jaccard for r in pairs}
    assert got[(0, 1)] == 1.0  # identical
    assert (0, 2) in got and 0.5 <= got[(0, 2)] < 1.0  # near-dup
    assert not any(3 in p for p in got)  # FAR is not similar to anything


def test_minhash_signature_properties(corpus):
    sigs = {r.doc_id: r.signature for r in minhash_signatures(corpus, num_hashes=64).collect()}
    assert sigs[0] == sigs[1]  # identical docs -> identical signatures
    agree_near = sum(a == b for a, b in zip(sigs[0], sigs[2])) / 64
    agree_far = sum(a == b for a, b in zip(sigs[0], sigs[3])) / 64
    assert agree_near > 0.5 > agree_far


def test_minhash_lsh_pairs(corpus):
    pairs = minhash_lsh_pairs(corpus, num_hashes=64, bands=16, threshold=0.5)
    got = {(r.id1, r.id2): r.est_jaccard for r in pairs.collect()}
    assert got[(0, 1)] == 1.0
    assert (0, 2) in got
    assert not any(3 in pair for pair in got)


def test_simhash_hamming(corpus):
    fps = {r.doc_id: r.simhash for r in simhash(corpus).collect()}
    assert fps[0] == fps[1]
    ham_near = bin(fps[0] ^ fps[2]).count("1")
    ham_far = bin(fps[0] ^ fps[3]).count("1")
    assert ham_near < ham_far
    assert all(v >= 0 for v in fps.values())  # 63-bit: no sign overflow


def test_simhash_pairs(corpus):
    pairs = simhash_pairs(corpus, max_hamming=10)
    got = {(r.id1, r.id2) for r in pairs.collect()}
    assert (0, 1) in got
    assert not any(3 in pair for pair in got)


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id1 long, id2 long",
    )
    comps = {r.id: r.component for r in connected_components(pairs).collect()}
    assert comps[1] == comps[2] == comps[3] == 1
    assert comps[10] == comps[11] == 10
    assert comps[20] == comps[21] == comps[22] == comps[23] == 20


def test_connected_components_alternating_matches_propagation(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id1 long, id2 long",
    )
    from parq_tools_spark.operators.dedup import connected_components_alternating

    want = {(r.id, r.component) for r in connected_components(pairs).collect()}
    got = {
        (r.id, r.component)
        for r in connected_components_alternating(pairs).collect()
    }
    assert want == got


def test_connected_components_alternating_deep_chain(spark):
    """A 64-node path has diameter 63; alternating CC must solve it in
    far fewer rounds than min-label propagation would need."""
    from parq_tools_spark.operators.dedup import connected_components_alternating

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id1 long, id2 long"
    )
    comps = connected_components_alternating(chain, max_iter=10).collect()
    assert len(comps) == 64
    assert all(r.component == 0 for r in comps)


def test_dedupe_near_duplicates(spark, corpus):
    pairs = ngram_jaccard_pairs(corpus, threshold=0.5)
    out = dedupe_near_duplicates(corpus, pairs)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 3]  # 1 and 2 fold into 0's component
    out2 = dedupe_near_duplicates(corpus, pairs, cc_algorithm="alternating")
    assert sorted(r.doc_id for r in out2.collect()) == [0, 3]


def test_minhash_estimate_tracks_exact_jaccard(spark):
    # statistical sanity: estimate within 0.2 of exact on a near pair
    df = spark.createDataFrame([(0, BASE), (2, NEAR)], "doc_id long, text string")
    exact = ngram_jaccard_pairs(df, threshold=0.0).collect()[0].jaccard
    est_rows = minhash_lsh_pairs(df, num_hashes=128, bands=32, threshold=0.0).collect()
    assert est_rows, "LSH should surface the near pair"
    assert abs(est_rows[0].est_jaccard - exact) < 0.2


def test_ngram_jaccard_max_df_prunes_conservatively(corpus):
    all_pairs = {(r.id1, r.id2) for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()}
    pruned = {(r.id1, r.id2) for r in ngram_jaccard_pairs(corpus, threshold=0.5, max_df=3).collect()}
    assert pruned <= all_pairs  # pruning only removes pairs, never invents
    # shingles shared by <= max_df docs are kept, so the identical pair survives
    assert (0, 1) in pruned
    # aggressive pruning on a corpus where everything is shared removes all pairs
    assert ngram_jaccard_pairs(corpus, threshold=0.5, max_df=1).count() == 0


def test_ngram_jaccard_auto_max_df_adversarial(spark):
    """Adversarial corpus: one shingle in EVERY doc. auto max_df prunes it
    (df=60 >> p99.9 floor), killing the d^2 join blowup; genuinely similar
    pairs still surface, and results stay conservative (subset of exact)."""
    docs = []
    for i in range(60):
        docs.append((i, f"spam spam spam spam u{i}a u{i}b u{i}c u{i}d"))
    # one true near-dup pair sharing non-hot shingles
    docs.append((100, "alpha beta gamma delta epsilon zeta"))
    docs.append((101, "alpha beta gamma delta epsilon eta"))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    exact = {
        (r.id1, r.id2)
        for r in ngram_jaccard_pairs(df, threshold=0.0, max_df=None).collect()
    }
    auto = {
        (r.id1, r.id2)
        for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    assert auto <= exact  # conservative: never invents a pair
    # the hot-shingle clique (~60^2/2 pairs) is gone
    assert len(auto) < len(exact) / 10
    # the true near-dup pair survives pruning
    assert (100, 101) in auto


def test_ngram_jaccard_auto_noop_on_benign_corpus(corpus):
    """auto pruning must not fire when every shingle df <= auto_min_df."""
    exact = {
        (r.id1, r.id2, r.jaccard)
        for r in ngram_jaccard_pairs(corpus, threshold=0.5, max_df=None).collect()
    }
    auto = {
        (r.id1, r.id2, r.jaccard)
        for r in ngram_jaccard_pairs(corpus, threshold=0.5).collect()
    }
    assert auto == exact


def test_connected_components_nonconvergence_fallback(spark):
    """A 30-hop chain with max_iter=3 would take 30 propagation rounds;
    the labels must still be one component, not split components."""
    from parq_tools_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id1 long, id2 long"
    )
    labels = connected_components(chain, max_iter=3).collect()
    comps = {r.component for r in labels}
    assert comps == {0}  # one component, min-id label
    assert len(labels) == 31


def _union_find_labels(edges):
    """Reference labels: a plain Python union-find, min id per component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


@pytest.fixture()
def random_graph(spark):
    import random

    rng = random.Random(20261019)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    # a 30-clique (435 edges) shrinks to 29 under star rounds, so a
    # 300-edge limit takes one round and then the union-find task;
    # self-loops label themselves
    edges += [(1000 + i, 1000 + j) for i in range(30) for j in range(i + 1, 30)]
    edges += [(2000, 2000), (2001, 2001), (5, 5), (2001, 2001)]
    return edges, spark.createDataFrame(edges, "id1 long, id2 long")


@pytest.mark.parametrize("local_edges", [None, 0, 300])
def test_connected_components_matches_union_find(
    spark, random_graph, monkeypatch, local_edges
):
    """One-task union-find (default limit), star rounds to convergence
    (limit 0) and star rounds then union-find (limit 300) all give the
    reference labels, with the input's id type."""
    from parq_tools_spark.operators import dedup

    if local_edges is not None:
        monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES", local_edges)
    edges, pairs = random_graph
    out = dedup.connected_components(pairs)
    assert out.schema["id"].dataType.simpleString() == "bigint"
    assert out.schema["component"].dataType.simpleString() == "bigint"
    rows = out.collect()
    got = {r.id: r.component for r in rows}
    assert len(got) == len(rows)  # one row per id
    want = _union_find_labels(edges)
    assert got == want
    assert got[2000] == 2000 and got[2001] == 2001


def test_connected_components_star_rounds_exhausted_raise(spark, monkeypatch):
    """Star rounds that run out before the graph converges or fits one
    task must raise, not return unconverged labels."""
    from parq_tools_spark.operators import dedup

    monkeypatch.setattr(dedup, "_CC_LOCAL_EDGES", 0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id1 long, id2 long"
    )
    with pytest.raises(RuntimeError, match="max_iter"):
        dedup.connected_components(chain, max_iter=1)
    comps = dedup.connected_components(chain, max_iter=20).collect()
    assert len(comps) == 64
    assert all(r.component == 0 for r in comps)


def test_dedupe_near_duplicates_job_count(spark, corpus):
    """A small graph finishes in a handful of jobs: the edge pass, one
    union-find task and the anti-join, not a job per propagation round."""
    import time

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 3)], "id1 long, id2 long"
    ).localCheckpoint(eager=True)
    group = f"cc_jobs_{time.monotonic_ns()}"
    sc.setJobGroup(group, "dedupe_near_duplicates job count")
    try:
        ids = sorted(r.doc_id for r in dedupe_near_duplicates(corpus, pairs).collect())
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc._jsc.clearJobGroup()
    assert ids == [0, 3]
    assert 0 < len(jobs) <= 6


def test_portable_minhash_matches_duckdb(spark, corpus):
    """The portable universal-hash family must be bit-identical across
    engines: recompute signatures in DuckDB SQL and compare elementwise."""
    import duckdb

    from parq_tools_spark.operators.dedup import (
        minhash_signatures,
        portable_hash_params,
    )

    sigs = {
        r.doc_id: list(r.signature)
        for r in minhash_signatures(corpus, num_hashes=8).collect()
    }
    con = duckdb.connect()
    con.register("documents", corpus.toPandas())
    seeds = ",\n".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in enumerate(portable_hash_params(8))
    )
    rows = con.execute(f"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents
        ), sh AS (
          SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       FOR i IN range(1, len(t) - 1)]
                 ELSE [array_to_string(t, ' ')] END)) AS shingle
          FROM toks
        ), bh AS (
          SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS base
          FROM sh
        ), seeds(seed, a, b) AS (VALUES {seeds})
        SELECT doc_id, seed, min((a * base + b) % 2147483647) AS mh
        FROM bh CROSS JOIN seeds GROUP BY doc_id, seed
    """).fetchall()
    for doc_id, seed, mh in rows:
        assert sigs[doc_id][seed] == mh, (doc_id, seed)


def test_dedup_operators_on_empty_corpus(spark):
    """Empty inputs must not crash: sketches/jaccard return empty frames."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert ngram_jaccard_pairs(empty, threshold=0.5).count() == 0
    from parq_tools_spark.operators.dedup import (
        dedupe_exact_text,
        minhash_lsh_pairs,
        simhash_pairs,
    )

    assert minhash_lsh_pairs(empty, num_hashes=8, bands=4).count() == 0
    assert simhash_pairs(empty).count() == 0
    assert dedupe_exact_text(empty).count() == 0


def test_contamination_overlap_and_decontaminate(spark):
    from parq_tools_spark.operators.dedup import (
        contamination_overlap,
        decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about spark execution plans"),
            (3, "prefix words then the quick brown fox jumps over the lazy dog tonight and more"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "eval_id long, text string",
    )
    out = contamination_overlap(corpus, evals, k=3, threshold=0.9).collect()
    flagged = {r.doc_id: r.containment for r in out}
    # doc 1 IS the eval text (containment 1.0); doc 3 embeds it fully
    assert flagged[1] == 1.0
    assert flagged[3] == 1.0
    assert 2 not in flagged
    clean = decontaminate(corpus, evals, k=3, threshold=0.9)
    assert {r.doc_id for r in clean.collect()} == {2}


# ------------------------------------------------- incremental minhash
def test_minhash_index_roundtrip_matches_direct(spark, sf_dir, tmp_path):
    """Querying a persisted index must give the same pairs as banding
    the indexed corpus inline."""
    from parq_tools_spark.operators.dedup import (
        minhash_index_query,
        minhash_index_write,
        minhash_pairs_between,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    indexed = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "mh_index")
    minhash_index_write(indexed, path, num_hashes=64, bands=16)

    direct = minhash_pairs_between(
        indexed, new, num_hashes=64, bands=16, threshold=0.5
    )
    via_index = minhash_index_query(spark, path, new, threshold=0.5)
    d = sorted((r.id_indexed, r.id_new) for r in direct.collect())
    v = sorted((r.id_indexed, r.id_new) for r in via_index.collect())
    assert d == v and len(d) > 0


def test_minhash_index_add_extends_coverage(spark, sf_dir, tmp_path):
    """After appending a batch, its documents are findable as indexed
    matches for subsequent batches."""
    from parq_tools_spark.operators.dedup import (
        minhash_index_add,
        minhash_index_query,
        minhash_index_write,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    first = docs.filter(F.col("doc_id") < 10)
    second = docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20))
    path = str(tmp_path / "mh_index")
    minhash_index_write(first, path, num_hashes=64, bands=16)
    minhash_index_add(second, path)
    # the same texts under fresh ids must collide with the appended
    # batch at est 1.0 (same-id pairs are excluded by design)
    probe = second.select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    hits = minhash_index_query(spark, path, probe, threshold=0.99)
    got = {(r.id_indexed, r.id_new) for r in hits.collect()}
    assert all((i, i + 10000) in got for i in range(10, 20)), got


def test_minhash_index_query_plan_broadcasts_batch(spark, sf_dir, tmp_path):
    """The index side must join against a BROADCAST of the new batch —
    no sort-merge join of the corpus band rows."""
    from parq_tools_spark.operators.dedup import (
        minhash_index_query,
        minhash_index_write,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "mh_index")
    minhash_index_write(docs.filter(F.col("doc_id") % 2 == 0), path,
                        num_hashes=64, bands=16)
    q = minhash_index_query(
        spark, path, docs.filter(F.col("doc_id") % 2 == 1), threshold=0.5
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedupe_end_to_end(spark, tmp_path):
    from parq_tools_spark.operators.dedup import (
        incremental_dedupe,
        minhash_index_query,
        minhash_index_write,
    )

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "an entirely different document about spark physical plans")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    minhash_index_write(corpus, path, num_hashes=64, bands=16)

    batch = spark.createDataFrame(
        [
            # near-dup of indexed doc 1 -> dropped
            (10, "the quick brown fox jumps over the lazy dog again and again"),
            # two in-batch duplicates -> lower id survives
            (11, "fresh content about training data pipelines at scale"),
            (12, "fresh content about training data pipelines at scale"),
            # unique -> survives
            (13, "completely novel text mentioning nothing seen before"),
        ],
        "doc_id long, text string",
    )
    out = incremental_dedupe(
        spark, path, batch, threshold=0.7, update_index=True
    )
    assert sorted(r.doc_id for r in out.collect()) == [11, 13]
    # survivors are now indexed: re-probing the same texts under new
    # ids must hit them
    reprobe = batch.filter("doc_id = 11").select(
        (batch.doc_id + 100).alias("doc_id"), "text"
    )
    hits = minhash_index_query(spark, path, reprobe, threshold=0.99)
    assert {(r.id_indexed, r.id_new) for r in hits.collect()} == {(11, 111)}


def test_minhash_pairs_between_independent_id_spaces(spark):
    """Cross-corpus duplicates whose ids coincide are reported by
    default; exclude_same_id=True suppresses them (shared-id-space
    mode, what minhash_index_query uses)."""
    from parq_tools_spark.operators.dedup import minhash_pairs_between

    text = "the quick brown fox jumps over the lazy dog again and again"
    indexed = spark.createDataFrame(
        [(1, text), (2, "completely different words entirely here")],
        "doc_id long, text string",
    )
    # new corpus has its OWN id space; its doc 1 is a genuine dup of
    # the indexed corpus's doc 1 despite the id collision
    new = spark.createDataFrame([(1, text)], "doc_id long, text string")

    got = minhash_pairs_between(
        indexed, new, num_hashes=32, bands=8, threshold=0.5
    ).collect()
    assert {(r.id_indexed, r.id_new) for r in got} == {(1, 1)}

    none = minhash_pairs_between(
        indexed, new, num_hashes=32, bands=8, threshold=0.5,
        exclude_same_id=True,
    ).collect()
    assert none == []


def _index_band_files(spark, path):
    """{band: parquet-file-count} across the committed manifest's
    segments — the reader-visible file inventory."""
    import os

    from parq_tools_spark.operators.dedup import _index_manifest

    _, _, segments = _index_manifest(spark, path)
    counts = {}
    for seg in segments:
        sp = os.path.join(path, seg)
        for e in os.listdir(sp):
            if e.startswith("band="):
                n = len(
                    [
                        f
                        for f in os.listdir(os.path.join(sp, e))
                        if f.endswith(".parquet")
                    ]
                )
                counts[e] = counts.get(e, 0) + n
    return counts


def test_minhash_index_compact_preserves_queries(spark, sf_dir, tmp_path):
    """Compaction rewrites the manifest's segments into one fresh
    segment with identical content: query results must be
    byte-identical, file counts must drop, and superseded segments
    are swept on the NEXT maintenance cycle (reader grace)."""
    import os

    from parq_tools_spark.operators.dedup import (
        minhash_index_add,
        minhash_index_compact,
        minhash_index_query,
        minhash_index_write,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "mh_index")
    minhash_index_write(
        docs.filter(F.col("doc_id") % 5 == 0), path, num_hashes=32, bands=8
    )
    # four appends -> one small segment each
    for m in range(1, 5):
        minhash_index_add(docs.filter(F.col("doc_id") % 5 == m), path)
    assert len([e for e in os.listdir(path) if e.startswith("seg-")]) == 5

    probe = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    before_files = _index_band_files(spark, path)
    before = sorted(
        (r.id_indexed, r.id_new, r.est_jaccard)
        for r in minhash_index_query(spark, path, probe, threshold=0.5).collect()
    )
    assert len(before) > 0

    compacted = minhash_index_compact(path=path, spark=spark, min_files_per_band=2)
    assert compacted, "no band qualified for compaction"
    after_files = _index_band_files(spark, path)
    for band, (n_before, n_after) in compacted.items():
        assert n_after < n_before
        assert after_files[f"band={band}"] == n_after
    assert sum(after_files.values()) < sum(before_files.values())

    after = sorted(
        (r.id_indexed, r.id_new, r.est_jaccard)
        for r in minhash_index_query(spark, path, probe, threshold=0.5).collect()
    )
    assert after == before

    # superseded segments survive one cycle (readers mid-flight), then
    # the next maintenance pass sweeps them and the index still serves
    assert len([e for e in os.listdir(path) if e.startswith("seg-")]) == 6
    assert minhash_index_compact(path=path, spark=spark) == {}
    assert len([e for e in os.listdir(path) if e.startswith("seg-")]) == 1
    again = sorted(
        (r.id_indexed, r.id_new, r.est_jaccard)
        for r in minhash_index_query(spark, path, probe, threshold=0.5).collect()
    )
    assert again == before


def test_minhash_index_interrupted_compact_is_invisible(spark, sf_dir, tmp_path):
    """A compaction (or add) that dies before its manifest commit
    leaves only an orphan segment directory: queries NEVER raise and
    keep serving the committed manifest unchanged; the next
    maintenance pass sweeps the orphan. (The old rename-in-place
    protocol needed a repair path and a read-path guard; the
    versioned manifest needs neither.)"""
    import os

    from pyspark.sql import functions as F

    from parq_tools_spark.operators.dedup import (
        _index_manifest,
        minhash_index_compact,
        minhash_index_query,
        minhash_index_write,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    path = str(tmp_path / "mh_index")
    minhash_index_write(docs, path, num_hashes=32, bands=8)
    probe = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    before = sorted(
        (r.id_indexed, r.id_new)
        for r in minhash_index_query(spark, path, probe, threshold=0.5).collect()
    )

    # simulate the crash: a half-written new segment, no commit
    orphan = os.path.join(path, "seg-000002-deadbeef")
    docs.limit(5).write.parquet(os.path.join(orphan, "band=0"))

    # reads: no raise, identical results, orphan invisible
    after = sorted(
        (r.id_indexed, r.id_new)
        for r in minhash_index_query(spark, path, probe, threshold=0.5).collect()
    )
    assert after == before
    _, _, segments = _index_manifest(spark, path)
    assert "seg-000002-deadbeef" not in segments

    # maintenance sweeps the orphan without touching live data
    minhash_index_compact(spark, path)
    assert not os.path.exists(orphan)
    assert sorted(
        (r.id_indexed, r.id_new)
        for r in minhash_index_query(spark, path, probe, threshold=0.5).collect()
    ) == before


def test_minhash_index_legacy_layout_refused_and_rebuildable(spark, tmp_path):
    """A pre-manifest index (band= dirs at the root, params sidecar,
    no committed manifest) must be refused LOUDLY — silently ignoring
    its rows would admit every past document's near-duplicates — and a
    rebuild must clear the legacy dirs."""
    import json
    import os

    import pytest as _pytest

    from parq_tools_spark.operators.dedup import (
        _index_manifest,
        minhash_index_is_committed,
        minhash_index_query,
        minhash_index_write,
    )
    from parq_tools_spark.sources.statefs import StateFS

    path = str(tmp_path / "legacy_idx")
    docs = spark.createDataFrame(
        [(1, "some text here"), (2, "other text there")],
        "doc_id long, text string",
    )
    # fabricate the legacy layout: band dirs + params, NO manifest
    spark.createDataFrame(
        [(1, [1, 2], 3)], "doc_id long, signature array<long>, bhash long"
    ).write.parquet(os.path.join(path, "band=0"))
    StateFS(spark, path).write_text(
        os.path.join(path, "_minhash_params.json"),
        json.dumps({"id_col": "doc_id", "num_hashes": 32, "bands": 8,
                    "k": 3, "hash_family": "portable"}),
    )
    assert not minhash_index_is_committed(spark, path)
    with _pytest.raises(ValueError, match="legacy band-directory layout"):
        _index_manifest(spark, path)
    with _pytest.raises(ValueError, match="legacy band-directory layout"):
        minhash_index_query(spark, path, docs)

    # the documented migration: rebuild clears the legacy dirs
    minhash_index_write(docs, path, num_hashes=32, bands=8)
    assert minhash_index_is_committed(spark, path)
    assert not os.path.exists(os.path.join(path, "band=0"))
    probe = docs.withColumn("doc_id", docs.doc_id + 100)
    assert minhash_index_query(spark, path, probe, threshold=0.99).count() == 2


def test_minhash_index_rebuild_nondestructive_params_in_manifest(
    spark, tmp_path
):
    """A rebuild over a live index commits a NEW version (new params
    carried IN the manifest, atomic with its segment list): a crash at
    the commit point leaves the old index serving with its old params;
    a completed rebuild serves the new params; the superseded
    generation survives one maintenance cycle."""
    import os

    from parq_tools_spark.operators.dedup import (
        _minhash_index_params,
        minhash_index_compact,
        minhash_index_query,
        minhash_index_write,
    )
    from parq_tools_spark.sources import statefs

    path = str(tmp_path / "mhidx")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    minhash_index_write(docs, path, num_hashes=32, bands=8)
    assert _minhash_index_params(spark, path)["num_hashes"] == 32
    probe = docs.withColumn("doc_id", docs.doc_id + 100)
    before = minhash_index_query(spark, path, probe, threshold=0.99).count()
    assert before == 2

    # crash injection at the commit point: old index unharmed
    real_commit = statefs.VersionedState.commit

    def boom(self, n, text):
        raise RuntimeError("injected crash before commit")

    statefs.VersionedState.commit = boom
    try:
        import pytest as _pytest

        with _pytest.raises(RuntimeError, match="injected"):
            minhash_index_write(docs, path, num_hashes=64, bands=16)
    finally:
        statefs.VersionedState.commit = real_commit
    assert _minhash_index_params(spark, path)["num_hashes"] == 32
    assert (
        minhash_index_query(spark, path, probe, threshold=0.99).count() == 2
    )

    # completed rebuild: new params live, old generation graced
    minhash_index_write(docs, path, num_hashes=64, bands=16)
    assert _minhash_index_params(spark, path)["num_hashes"] == 64
    assert os.path.exists(os.path.join(path, "v=1"))
    assert (
        minhash_index_query(spark, path, probe, threshold=0.99).count() == 2
    )
    # next maintenance cycle sweeps the superseded generation
    minhash_index_compact(spark, path)
    assert not os.path.exists(os.path.join(path, "v=1"))


def test_minhash_index_delete_tombstones(spark, tmp_path):
    """Version-scoped tombstones on the MinHash index: deleted docs'
    band rows stop matching (a new doc can no longer be dropped as a
    duplicate of removed content), re-adding the id works without
    compaction, compaction folds the tombstones, and results equal a
    fresh index over the survivors."""
    from parq_tools_spark.operators.dedup import (
        minhash_index_add,
        minhash_index_compact,
        minhash_index_delete,
        minhash_index_query,
        minhash_index_write,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different content about spark and parquet"),
            (3, "another unrelated sentence mentioning window joins"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "mhidx")
    minhash_index_write(docs, path, num_hashes=64, bands=16)

    probe = docs.filter("doc_id = 1").withColumn(
        "doc_id", F.col("doc_id") + 100
    )
    assert {
        r.id_indexed
        for r in minhash_index_query(
            spark, path, probe, threshold=0.9
        ).collect()
    } == {1}

    out = minhash_index_delete(spark, path, [1])
    assert out["deleted"] == 1
    # the removed doc no longer captures near-duplicates
    assert (
        minhash_index_query(spark, path, probe, threshold=0.9).count() == 0
    )
    # double delete and unknown ids are loud
    with pytest.raises(ValueError, match="not visible"):
        minhash_index_delete(spark, path, [1])
    with pytest.raises(ValueError, match="not visible"):
        minhash_index_delete(spark, path, [999])

    # re-add the id (new content) WITHOUT compaction: visible at once
    minhash_index_add(
        spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string",
        ),
        path,
    )
    assert {
        r.id_indexed
        for r in minhash_index_query(
            spark, path, probe, threshold=0.9
        ).collect()
    } == {1}

    # compaction folds the tombstone; results unchanged; a fresh
    # index over the equivalent corpus agrees
    minhash_index_compact(spark, path)
    assert {
        r.id_indexed
        for r in minhash_index_query(
            spark, path, probe, threshold=0.9
        ).collect()
    } == {1}
    import os

    from parq_tools_spark.operators.dedup import _index_manifest_full

    _, _, m = _index_manifest_full(spark, path)
    assert m.get("deletes") == []
    # the folded tombstone dir survives one reader-grace cycle (the
    # old manifest still references it), then the next maintenance
    # cycle sweeps it
    minhash_index_compact(spark, path)
    assert [e for e in os.listdir(path) if e.startswith("del-")] == []
