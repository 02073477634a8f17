"""Seeded input generator for the benchmark.

Everything here is plain numpy + pyarrow, so generation never touches
Spark and sits outside every timer. The same seed gives byte-identical
files; another seed gives different ones (``perfbench/tests``).

Two input families:

- ``lineitem``: a TPC-H-lineitem-shaped table split across several
  files, each with several row groups, so a scan has more than one
  non-empty partition.
- ``corpus``: documents over a Zipf vocabulary of thousands of
  synthetic words, with planted exact and near duplicates whose ids
  the generator returns, plus one embedding per document (planted
  near-duplicate documents get near-duplicate vectors).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_ROWS = 40_000
LINEITEM_FILES = 4
LINEITEM_ROW_GROUP = 2_500

VOCAB = 5_000
ZIPF_A = 1.15
DOC_WORDS = (30, 150)
EXACT_DUP_SHARE = 0.03
NEAR_DUP_SHARE = 0.10
NEAR_DUP_EDITS = 2
EMBED_DIM = 32

_CONS = list("bcdfghjklmnprstvwz")
_VOWS = list("aeiou")


@dataclass
class Corpus:
    """Documents plus the planted-duplicate ground truth."""

    ids: np.ndarray
    texts: list
    vectors: np.ndarray
    exact_dups: dict = field(default_factory=dict)  # copy id -> source id
    near_dups: dict = field(default_factory=dict)  # copy id -> source id
    vocab_size: int = 0


def vocabulary(rng: np.random.Generator, size: int = VOCAB) -> list:
    """``size`` distinct pronounceable words of 2-4 syllables."""
    words: list = []
    seen: set = set()
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(
            _CONS[int(rng.integers(len(_CONS)))] + _VOWS[int(rng.integers(len(_VOWS)))]
            for _ in range(n)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_ranks(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """``n`` draws of word ranks in ``[0, size)`` with P(r) ~ 1/(r+1)^a."""
    p = 1.0 / np.arange(1, size + 1) ** ZIPF_A
    return rng.choice(size, size=n, p=p / p.sum())


def make_corpus(seed: int, n_docs: int) -> Corpus:
    rng = np.random.default_rng([seed, 1])
    words = vocabulary(rng)
    ids = np.arange(n_docs, dtype=np.int64)
    texts: list = []
    vectors = rng.standard_normal((n_docs, EMBED_DIM)).astype(np.float32)
    exact: dict = {}
    near: dict = {}
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if i > 10 and kind[i] < EXACT_DUP_SHARE:
            src = int(rng.integers(i))
            texts.append(texts[src])
            vectors[i] = vectors[src]
            exact[int(ids[i])] = int(ids[src])
            continue
        if i > 10 and kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = int(rng.integers(i))
            toks = texts[src].split(" ")
            for pos in rng.integers(len(toks), size=NEAR_DUP_EDITS):
                toks[int(pos)] = words[int(rng.integers(len(words)))]
            texts.append(" ".join(toks))
            vectors[i] = vectors[src] + 0.01 * rng.standard_normal(EMBED_DIM)
            near[int(ids[i])] = int(ids[src])
            continue
        n = int(rng.integers(*DOC_WORDS))
        texts.append(" ".join(words[r] for r in zipf_ranks(rng, n, len(words))))
    vectors /= np.linalg.norm(vectors, axis=1, keepdims=True)
    return Corpus(ids, texts, vectors, exact, near, len(words))


def corpus_table(c: Corpus) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(c.ids, pa.int64()),
            "text": pa.array(c.texts, pa.string()),
        }
    )


def embedding_table(c: Corpus) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(c.ids, pa.int64()),
            "embedding": pa.array(list(c.vectors), pa.list_(pa.float32())),
        }
    )


def lineitem_table(seed: int, rows: int = LINEITEM_ROWS) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    # 1-7 lines per order, like TPC-H; (orderkey, linenumber) is unique.
    per_order = rng.integers(1, 8, size=rows)
    orderkey = np.repeat(np.arange(1, rows + 1, dtype=np.int64), per_order)[:rows]
    linenumber = np.concatenate([np.arange(1, k + 1) for k in per_order])[:rows]
    qty = rng.integers(1, 51, size=rows).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, size=rows), 2)
    ship = np.datetime64("1992-01-01") + rng.integers(0, 2500, size=rows).astype(
        "timedelta64[D]"
    )
    comments = np.array(
        [f"c{int(x):06d} pending deposits wake carefully" for x in rng.integers(10**6, size=rows)]
    )
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(1, 20_001, size=rows),
            "l_suppkey": rng.integers(1, 1_001, size=rows),
            "l_linenumber": linenumber.astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, size=rows) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=rows) / 100.0, 2),
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), size=rows),
            "l_linestatus": rng.choice(np.array(["F", "O"]), size=rows),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
            "l_comment": comments,
        }
    )


def write_split(table: pa.Table, out_dir: str, n_files: int, row_group: int) -> list:
    """Write ``table`` as ``n_files`` contiguous parquet files of
    ``row_group``-row groups; returns the file paths."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            path,
            row_group_size=row_group,
            compression="snappy",
        )
        paths.append(path)
    return paths


def describe(paths: list) -> dict:
    """Input sizes recorded with every result: rows, bytes, files and
    row groups over ``paths``."""
    rows = groups = size = 0
    for p in paths:
        md = pq.ParquetFile(p).metadata
        rows += md.num_rows
        groups += md.num_row_groups
        size += os.path.getsize(p)
    return {"rows": rows, "bytes": size, "files": len(paths), "row_groups": groups}
