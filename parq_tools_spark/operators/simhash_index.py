"""Persisted SimHash band index under the versioned-manifest commit
protocol — the fourth index family (BM25 `operators/search.py`,
MinHash `operators/dedup.py`, vector-ANN `operators/ann_index.py`),
sharing their lifecycle machinery (`operators/_index_common.py`) so
one change log and one maintenance discipline serve all of them. The
MinHash and SimHash families share one data model (band rows), so
every lifecycle op beyond encoding and serving is ONE implementation,
`operators/_band_index.py`, bound to this module's :data:`BAND_FAMILY`.

Beyond-reference surface: the reference (elphick/parq-tools) has no
dedup stack; this gives the Hamming-distance near-dup path
(`dedup.simhash_pairs`) the same serving-shaped index the MinHash
family already has, so streaming admission / incremental dedupe can
use SimHash without re-fingerprinting the corpus per batch.

On-disk layout (the MinHash index's, bit for bit the same protocol):

- ``path/v=<n>/_simhash_manifest.json`` — commit marker (created
  exclusively, LAST): params, id type, the segment list, pending
  tombstones;
- ``path/seg-<n>-<tag>/band=<b>/`` — ``(id, simhash, bval)`` rows
  partitioned by band: 63-bit fingerprints banded into ``n_bands``
  disjoint bit-slices (pigeonhole: any pair within ``max_hamming <
  n_bands`` bits agrees exactly on at least one band, so candidate
  generation is an equi-join on (band, bval) — never all-pairs);
- ``path/del-<n>-<tag>/`` — version-scoped tombstones (LSM
  semantics shared with the other families: a tombstone hides an
  id's rows only in segments committed at or before its ``upto``,
  so delete + re-add needs no compaction in between).

Scale shape: the index is ``n_bands`` small rows per document; a
query batch computes ITS fingerprints (one shuffle of (doc,
token-hash, count) triples), broadcasts its banded keys into the
index's band rows, and verifies candidates with ``bit_count(xor)`` —
the corpus text is never re-read, never re-fingerprinted, never
shuffled. At 100 TB the per-batch cost is O(batch + matching band
rows).

Determinism: the "portable" hash family makes fingerprints (and
therefore pairs) recomputable in ANSI SQL — the driver's DuckDB
oracle re-derives the index-served result value-for-value.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "simhash_index_write",
    "simhash_index_add",
    "simhash_index_delete",
    "simhash_index_upsert",
    "simhash_index_apply_cdc",
    "simhash_index_compact",
    "simhash_index_maybe_compact",
    "simhash_index_stats",
    "simhash_index_query",
    "simhash_incremental_dedupe",
    "simhash_index_update_metadata",
    "simhash_index_add_metadata_col",
    "simhash_index_drop_metadata_col",
]

from parq_tools_spark.operators import _band_index as _BI  # noqa: E402
from parq_tools_spark.operators._index_common import INDEX_MARKERS  # noqa: E402
from parq_tools_spark.operators._index_common import (  # noqa: E402
    check_self_exclusion_types as _check_excl_types,
    id_field as _id_field,
    id_field_json as _id_field_json,
    materialize as _mat,
)


def _banded_simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int,
    n_bands: int,
    hash_family: str,
    meta_cols=(),
    _fps: Optional[DataFrame] = None,
) -> DataFrame:
    """``(id, simhash, band, bval)`` rows — the fingerprint
    (:func:`~parq_tools_spark.operators.dedup.simhash`) exploded into
    the SAME disjoint bit-bands ``hamming_pairs`` uses (``width =
    (bits-1)//n_bands + 1``, low band first), so index-served pairs
    and the batch path can never disagree on candidates.

    ``meta_cols`` appends per-document metadata to every band row
    (``store_cols`` storage): the fingerprint relation comes out of a
    ``mapInPandas`` aggregation, so metadata joins back on the id —
    one id-keyed join of two one-row-per-document relations at
    INGEST time only, small next to the (doc, token, count) shuffle
    the fingerprint pass already pays; serving never joins."""
    from parq_tools_spark.operators.dedup import simhash

    meta_cols = list(meta_cols)
    # ``_fps``: a precomputed (id, simhash) relation for ``df`` —
    # the incremental admitter fingerprints its batch once and bands
    # here without a second mapInPandas pass
    fps = (
        _fps
        if _fps is not None
        else simhash(
            df, id_col, text_col, bits=bits, hash_family=hash_family
        )
    )
    if meta_cols:
        fps = fps.join(df.select(id_col, *meta_cols), on=id_col)
    width = (bits - 1) // n_bands + 1
    mask = (1 << width) - 1
    return fps.select(
        id_col,
        *meta_cols,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright("simhash", bi * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, *meta_cols, "simhash", "bk.band", "bk.bval")


def _simhash_band_rows(df, p: dict, text_col: str, _model) -> DataFrame:
    return _banded_simhash(
        df, p["id_col"], text_col, p["bits"], p["n_bands"],
        p["hash_family"], meta_cols=p.get("store_cols", []),
    )


#: The SimHash band-row family: ``(id, *store_cols, simhash, band,
#: bval)`` rows under ``_simhash_manifest.json`` commits.
BAND_FAMILY = _BI.IndexFamily(
    family="simhash",
    module=__name__,
    marker=INDEX_MARKERS["simhash"],
    reserved=("simhash", "band", "bval"),
    encode=_simhash_band_rows,
)


def simhash_index_write(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 63,
    n_bands: int = 4,
    hash_family: str = "portable",
    keep_versions: int = 1,
    store_cols=(),
) -> None:
    """Build (or non-destructively REBUILD) the persisted SimHash
    index: one fingerprint pass over the corpus, band rows written to
    an immutable segment, one manifest commit. Readers of a previous
    generation keep their files for one maintenance cycle; a crash
    mid-rebuild leaves the old index fully committed (the new data is
    an invisible orphan). ``keep_versions`` pins how many committed
    versions the maintenance sweeps retain — retained versions stay
    servable via ``version=`` on :func:`simhash_index_query` /
    :func:`simhash_index_stats` (the shared time-travel contract).

    ``store_cols`` persists the named per-document metadata columns
    ON every band row (joined back onto the fingerprints once at
    ingest), so :func:`simhash_index_query`'s ``where=`` predicates
    push straight into the band-row scans — no metadata table join
    at serving time. Every subsequent ingest batch must supply the
    same columns; tombstones hide whole rows and compaction rewrites
    whole rows, so updates stay correct for free."""
    if not 0 < bits <= 63:
        raise ValueError("bits must be in (0, 63]")
    if not 1 <= n_bands <= bits:
        # n_bands > bits makes the high bands' bval a constant 0 for
        # EVERY document (shiftright past the fingerprint width), so
        # those bands pair every doc with every doc — cross-product
        # candidate generation — and the max_hamming < n_bands
        # pigeonhole check in simhash_index_query becomes vacuous
        # for max_hamming > bits.
        raise ValueError(
            f"n_bands={n_bands} must be in [1, bits={bits}]: bands "
            "beyond the fingerprint width are constant-zero keys "
            "that pair every document with every document"
        )
    _BI.write(
        BAND_FAMILY,
        df,
        path,
        {
            "id_col": id_col,
            "text_col": text_col,
            "bits": bits,
            "n_bands": n_bands,
            "hash_family": hash_family,
            "keep_versions": keep_versions,
            "store_cols": list(store_cols),
        },
        extra={"id_type": _id_field_json(df, id_col)},
    )


simhash_index_add = _BI.alias(BAND_FAMILY, "add")
simhash_index_delete = _BI.alias(BAND_FAMILY, "delete")
simhash_index_upsert = _BI.alias(BAND_FAMILY, "upsert")
simhash_index_apply_cdc = _BI.alias(BAND_FAMILY, "apply_cdc")
simhash_index_compact = _BI.alias(BAND_FAMILY, "compact")
simhash_index_maybe_compact = _BI.alias(BAND_FAMILY, "maybe_compact")
simhash_index_stats = _BI.alias(BAND_FAMILY, "stats")
simhash_index_update_metadata = _BI.alias(BAND_FAMILY, "update_metadata")
simhash_index_add_metadata_col = _BI.alias(BAND_FAMILY, "add_metadata_col")
simhash_index_drop_metadata_col = _BI.alias(
    BAND_FAMILY, "drop_metadata_col"
)


def simhash_index_query(
    spark,
    path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    exclude_same_id: bool = True,
    version: Optional[int] = None,
    allowed_ids=None,
    where: Optional[str] = None,
    _fresh_banded: Optional[DataFrame] = None,
) -> DataFrame:
    """Hamming near-dup pairs between the on-disk index and a new
    batch: ``(id_indexed, id_new, hamming)``. The batch's
    fingerprints are computed once, its banded keys BROADCAST into
    the index's visible band rows (per-segment version-scoped
    tombstone anti-joins), candidates verified with
    ``bit_count(xor) <= max_hamming`` — the corpus is never re-read
    or re-fingerprinted, and the pigeonhole guarantee makes the
    result EXACTLY the set of cross pairs within ``max_hamming``
    (``max_hamming < n_bands``), identical to running
    :func:`~parq_tools_spark.operators.dedup.hamming_pairs` over the
    union (the ``simhash_index_equiv`` gate).

    ``exclude_same_id=True`` suppresses equal-id collisions (index
    and batches share one id space by construction); ``version=``
    time-travels to a retained manifest. ``allowed_ids`` (sequence or
    DataFrame — the shared :func:`~parq_tools_spark.operators.
    _index_common.apply_allowed_ids` filter) scopes WHICH INDEXED
    documents may pair — per-tenant / per-language dedup over one
    physical index. ``where`` scopes the indexed side by a DSL
    predicate over the index's STORED metadata columns
    (``simhash_index_write(store_cols=...)``), compiled by the
    engine's filter parser and pushed by Catalyst into the band-row
    scans — no metadata join, no id set materialized; composes with
    ``allowed_ids`` (both apply)."""
    from pyspark.sql import types as T

    _, _, m, p = _BI.resolve(BAND_FAMILY, spark, path, version)
    id_col = p["id_col"]
    indexed = _BI.serve_rows(
        BAND_FAMILY, spark, path, m, p, where=where, allowed_ids=allowed_ids
    )
    if exclude_same_id:
        _check_excl_types(
            new_docs.schema[id_col].dataType,
            _id_field(m).dataType,
            "simhash_index_query: exclude_same_id=True",
        )
    if max_hamming >= p["n_bands"]:
        raise ValueError(
            f"max_hamming={max_hamming} needs more bands: the "
            f"pigeonhole guarantee requires max_hamming < n_bands "
            f"(index built with n_bands={p['n_bands']})"
        )
    if indexed is None:
        id_type = new_docs.schema[id_col].dataType
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("id_indexed", _id_field(m).dataType),
                    T.StructField("id_new", id_type),
                    T.StructField("hamming", T.IntegerType()),
                ]
            ),
        )
    if _fresh_banded is not None:
        # caller already fingerprinted + banded the batch (the
        # incremental admitter shares one fingerprint pass between
        # the vs-index and in-batch rules)
        fresh = _fresh_banded
    else:
        fresh = _banded_simhash(
            new_docs, id_col, text_col, p["bits"], p["n_bands"],
            p["hash_family"],
        )
    a = indexed.alias("a")
    b = fresh.alias("b")
    cond = (F.col("a.band") == F.col("b.band")) & (
        F.col("a.bval") == F.col("b.bval")
    )
    if exclude_same_id:
        cond = cond & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
    return (
        a.join(F.broadcast(b), cond)
        .select(
            F.col(f"a.{id_col}").alias("id_indexed"),
            F.col(f"b.{id_col}").alias("id_new"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["id_indexed", "id_new"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_incremental_dedupe(
    spark,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    update_index: bool = False,
    allowed_ids=None,
    where: Optional[str] = None,
) -> DataFrame:
    """The SimHash incremental-ingest admission step — the
    Hamming-distance twin of :func:`~parq_tools_spark.operators.
    dedup.incremental_dedupe`: drop new documents that are within
    ``max_hamming`` bits of (a) anything in the persistent index or
    (b) a LOWER-ID document within the same batch, and optionally
    append the survivors' band rows to the index.

    Returns the surviving rows of ``new_docs``. With
    ``update_index=True`` the survivors are materialized (one action)
    before their band rows are appended.

    Cost shape at 100 TB corpus / small batch: fingerprinting the
    batch (one (doc, token, count) shuffle), one broadcast join of
    its banded keys into the index's band rows (the corpus never
    re-fingerprints, never shuffles), plus one in-batch banded
    self-join bounded by batch size. The in-batch rule runs under the
    INDEX's frozen params (bits/n_bands/hash_family), so admission
    and index serving can never disagree on candidates.

    ``allowed_ids`` / ``where`` scope ADMISSION exactly like the
    MinHash and semantic admitters: only allowed (or
    predicate-matching, over the index's ``store_cols`` metadata)
    INDEX entries may block a new document — per-tenant /
    per-language admission over one physical index. The in-batch
    lower-id rule is deliberately unscoped, and ``update_index=True``
    still appends every survivor.
    """
    from parq_tools_spark.operators.dedup import hamming_pairs, simhash

    p = _BI.resolve(BAND_FAMILY, spark, index_path)[3]
    id_col = p["id_col"]
    # the batch is fingerprinted ONCE (checkpointed) and shared by
    # both rules — without this the vs-index probe and the in-batch
    # self-join each ran the whole tokenize -> (doc, token, count)
    # shuffle -> mapInPandas fingerprint pipeline on the batch
    fps = _mat(simhash(
        new_docs, id_col, text_col,
        bits=p["bits"], hash_family=p["hash_family"],
    ))
    banded = _banded_simhash(
        new_docs, id_col, text_col, p["bits"], p["n_bands"],
        p["hash_family"], _fps=fps,
    )
    vs_index = simhash_index_query(
        spark, index_path, new_docs, text_col=text_col,
        max_hamming=max_hamming, allowed_ids=allowed_ids, where=where,
        _fresh_banded=banded,
    )
    dup_vs_index = vs_index.select(
        F.col("id_new").alias(id_col)
    ).distinct()
    in_batch = hamming_pairs(
        fps, "simhash", id_col,
        max_hamming=max_hamming, n_bands=p["n_bands"], bits=p["bits"],
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
        simhash_index_add(survivors, index_path, text_col=text_col)
    return survivors
