"""text_pipeline: the LLM-data cleaning chain over an in-memory corpus.

The data fits in memory; cost comes from the Python boundary and the
many-job iterative operators (connected components, LSH banding,
n-gram explode). Outputs are checked against the generator's planted
duplicates and against numpy, outside the timed region.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen

N_DOCS = 400
N_QUERIES = 20
PAIR_THRESHOLD = 0.95
# A planted near-duplicate differs from its source by two words. On a
# short document that can pull its word-3-shingle Jaccard below the 0.7
# LSH threshold, so recall is checked over the planted pairs whose true
# Jaccard is clearly above it; LSH must find nearly all of those.
CLEAR_JACCARD = 0.85
MIN_RECALL = 0.9


class TextPipeline:
    name = "text_pipeline"

    def __init__(self, work: str, seed: int):
        self.corpus = gen.make_corpus(seed, N_DOCS)
        self.docs = os.path.join(work, "docs.parquet")
        self.vecs = os.path.join(work, "vecs.parquet")
        pq.write_table(gen.corpus_table(self.corpus), self.docs, row_group_size=250)
        pq.write_table(gen.embedding_table(self.corpus), self.vecs, row_group_size=250)
        self.out = os.path.join(work, "out")
        self.rows_per_pass = N_DOCS
        info = gen.describe([self.docs, self.vecs])
        self.inputs = {
            **info,
            "docs": N_DOCS,
            "vocabulary": self.corpus.vocab_size,
            "words_used": len({w for t in self.corpus.texts for w in t.split()}),
            "exact_dup_share": len(self.corpus.exact_dups) / N_DOCS,
            "near_dup_share": len(self.corpus.near_dups) / N_DOCS,
            "embedding_dim": gen.EMBED_DIM,
        }
        v = self.corpus.vectors
        sims = v @ v.T
        i, j = np.nonzero(np.triu(sims >= PAIR_THRESHOLD, k=1))
        self.ref_pairs = {(int(self.corpus.ids[a]), int(self.corpus.ids[b])) for a, b in zip(i, j)}
        self.ref_distinct_texts = len(set(self.corpus.texts))
        texts = self.corpus.texts  # doc_id == position
        self.planted = {
            d: s
            for d, s in self.corpus.near_dups.items()
            if s not in self.corpus.exact_dups and _jaccard(texts[d], texts[s]) >= CLEAR_JACCARD
        }
        self.inputs["clear_near_dups"] = len(self.planted)

    def run_pass(self, spark, rec, k) -> dict:
        from pyspark.sql import functions as F

        from parq_tools_spark import (
            brute_force_pairs,
            dedupe_exact_text,
            dedupe_near_duplicates,
            ivf_pq_topk,
            minhash_lsh_pairs,
            ngram_repetition_stats,
            simhash_pairs,
            with_clean_text,
            with_language_id,
            with_quality_score,
        )
        from parq_tools_spark.operators.quality import in_range, not_null, run_checks, unique
        from parq_tools_spark.sources.parquet_io import read_parquet, write_parquet

        out = os.path.join(self.out, str(k))
        o = lambda name: os.path.join(out, name)  # noqa: E731
        res: dict = {}

        def annotate():
            df = with_clean_text(read_parquet(spark, self.docs))
            write_parquet(with_quality_score(with_language_id(df)), o("annotated"))

        rec.call("operators.text", "annotate", annotate)
        res["checks"] = rec.call(
            "operators.quality", "run_checks",
            lambda: run_checks(
                read_parquet(spark, o("annotated")),
                [not_null("text"), unique("doc_id", approx=False), in_range("quality_score", 0.0, 1.0)],
            ).collect(),
        )
        rec.call(
            "operators.dedup", "dedupe_exact_text",
            lambda: write_parquet(dedupe_exact_text(read_parquet(spark, o("annotated"))), o("exact")),
        )
        exact = read_parquet(spark, o("exact"), columns=["doc_id", "text"])
        res["lsh"] = rec.call("operators.dedup", "minhash_lsh_pairs", lambda: minhash_lsh_pairs(exact).collect())
        _note_pairs(rec, len(res["lsh"] or []))
        pairs = spark.createDataFrame(
            [(r["id1"], r["id2"]) for r in res["lsh"] or []], "id1 long, id2 long"
        )
        rec.call(
            "operators.dedup", "dedupe_near_duplicates",
            lambda: write_parquet(dedupe_near_duplicates(exact, pairs), o("survivors")),
        )
        res["simhash"] = rec.call("operators.dedup", "simhash_pairs", lambda: simhash_pairs(exact).count())
        _note_pairs(rec, res["simhash"] or 0)
        rec.call(
            "operators.repetition", "ngram_repetition_stats",
            lambda: ngram_repetition_stats(exact).write.format("noop").mode("overwrite").save(),
        )
        vecs = read_parquet(spark, self.vecs)
        res["pairs"] = rec.call(
            "operators.similarity", "brute_force_pairs",
            lambda: brute_force_pairs(vecs, threshold=PAIR_THRESHOLD).collect(),
        )
        queries = vecs.filter(F.col("vec_id") < N_QUERIES)
        res["ann"] = rec.call(
            "operators.similarity", "ivf_pq_topk",
            lambda: ivf_pq_topk(vecs, queries, k=5).collect(),
        )
        return res

    def check_pass(self, k, res: dict) -> list:
        out = os.path.join(self.out, str(k))
        bad = []
        checks = res.get("checks")
        if not checks or not all(r["passed"] for r in checks):
            bad.append("run_checks")
        try:
            exact = pq.read_table(os.path.join(out, "exact"), columns=["text"])
            if exact.num_rows != self.ref_distinct_texts:
                bad.append("dedupe_exact_text")
            kept = set(pq.read_table(os.path.join(out, "survivors"), columns=["doc_id"])["doc_id"].to_pylist())
        except (OSError, ValueError):
            bad += ["dedupe_exact_text", "dedupe_near_duplicates"]
            kept = None
        lsh = res.get("lsh")
        planted = self.planted
        if lsh is None or _recall(planted, {(r["id1"], r["id2"]) for r in lsh}) < MIN_RECALL:
            bad.append("minhash_lsh_pairs")
        if kept is not None:
            dropped = sum(1 for d in planted if d not in kept)
            if not planted or dropped / len(planted) < MIN_RECALL:
                bad.append("dedupe_near_duplicates")
        if not res.get("simhash"):
            bad.append("simhash_pairs")
        got = res.get("pairs")
        if got is None or {(r[0], r[1]) for r in got} != self.ref_pairs:
            bad.append("brute_force_pairs")
        ann = res.get("ann")
        if ann is None or len(ann) != N_QUERIES * 5:
            bad.append("ivf_pq_topk")
        shutil.rmtree(out, ignore_errors=True)
        return bad


def _note_pairs(rec, verified: int) -> None:
    """Candidate pairs are the rows out of the call's largest join (the
    band join); verified pairs are the rows the call returned."""
    if rec.traced:
        rec.note(verified_pairs=verified, candidate_pairs=rec.spans[-1].counters["max_join_rows"])


def _jaccard(a: str, b: str, k: int = 3) -> float:
    """Jaccard similarity of the word k-shingle sets, as MinHash estimates it."""
    sa, sb = (
        {tuple(w[i : i + k]) for i in range(len(w) - k + 1)} for w in (a.split(), b.split())
    )
    return len(sa & sb) / len(sa | sb)


def _recall(planted: dict, pairs: set) -> float:
    """Share of planted (copy, source) pairs found, in either order."""
    if not planted:
        return 0.0
    hit = sum(1 for a, b in planted.items() if (a, b) in pairs or (b, a) in pairs)
    return hit / len(planted)
