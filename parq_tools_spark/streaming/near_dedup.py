"""Streaming near-duplicate filtering over the persistent MinHash
index (beyond-reference; the reference has no streaming surface at
all — parq_tools covers only static parquet files).

Why ``foreachBatch`` + the on-disk band index instead of
``applyInPandasWithState``: near-dedup state is the signature set of
EVERY document ever admitted — at 100 TB of corpus that is hundreds
of GB of longs, far beyond what a streaming state store should hold,
and it must outlive any one query anyway (batch jobs dedupe against
the same corpus). So the stream reuses the exact batch primitives
(``operators/dedup.py``: ``incremental_dedupe`` /
``minhash_index_add`` / ``minhash_index_compact``): each micro-batch
bands its documents, broadcast-joins them against the index's
precomputed band rows (the corpus side never shuffles, never
re-shingles), drops near-duplicates of the index or of a lower-id
in-batch sibling, appends the survivors to both the output and the
index.

Recovery contract (foreachBatch is at-least-once; each side effect is
made idempotent separately):

- **output**: survivors land in ``output_path/batch=<id>/`` with
  overwrite — a replayed batch rewrites the same directory, so the
  output is exactly-once (readers see ``batch`` as a partition
  column: free provenance).
- **index**: replayed appends duplicate band rows; candidates are
  ``dropDuplicates``-ed before scoring (`dedup.py`
  minhash_pairs_between), so duplicates cost bytes, never
  correctness — and compaction folds them away.
- **survivor set**: recomputation after a partial apply is stable,
  because the index query suppresses equal-id collisions
  (``exclude_same_id=True``): a half-indexed batch does not shadow
  itself on replay.
- **marker**: ``_stream_last_batch.<ckpt>.<n>`` files in the index
  dir short-circuit fully-applied batches — scoped to ONE query's
  checkpoint (batch ids are only meaningful relative to a
  checkpoint; a fresh-checkpoint restart renumbers batches, so
  markers carrying another checkpoint's identity are ignored and the
  idempotent side effects above carry the safety). Markers are
  VERSIONED, never overwritten: each commit creates a brand-new file
  (name = checkpoint digest + batch id, so no two commits ever share
  a name) and sweeps older ones only AFTER the new one is durable.
  An overwrite-in-place marker would have a crash window on HDFS
  (rename refuses an existing destination, so overwrite = delete +
  rename; dying between the two erases history and replays an
  already-applied batch — duplicate band rows in the index); with
  versioned files the worst crash outcome is a stale EXTRA marker,
  and reads take the max batch id for the checkpoint.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "start_near_dedupe_stream",
    "start_semantic_dedupe_stream",
    "start_simhash_dedupe_stream",
]

# the checkpoint-scoped versioned marker protocol lives in
# streaming/_markers.py — ONE implementation shared with the BM25
# index sink (streaming/index_sink.py); the invariants derived here
# (versioned files, strict reads, checkpoint identity) are documented
# there and must not fork
from parq_tools_spark.streaming._markers import (  # noqa: E402
    commit_marker as _commit_marker,
    last_applied as _last_applied,
    start_foreach_batch as _start_foreach_batch,
)


def _start_band_admission_stream(
    spec,
    admit,
    rule: dict,
    build_params: dict,
    fn: str,
    docs: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_dir: str,
    *,
    id_col: str,
    text_col: str,
    compact_every: int,
    max_segments: int,
    max_delete_batches: int,
    available_now: bool,
    query_name: Optional[str],
    allowed_ids,
    where: Optional[str],
    store_cols,
):
    """The ONE admission body of the band-row families (MinHash /
    SimHash, ``operators/_band_index.py``): per micro-batch, bootstrap
    an EMPTY index when nothing is committed (``build_params`` are the
    family's encode params), run the family's incremental admitter
    ``admit`` (``rule`` carries its threshold) with
    ``update_index=True``, write the survivors, commit the marker, then
    compact best-effort."""
    from parq_tools_spark.operators import _band_index as _BI

    if not docs.isStreaming:
        raise ValueError(
            f"{fn} needs a streaming DataFrame; use operators."
            f"{admit.__module__.rsplit('.', 1)[1]}.{admit.__name__} for "
            "batch ingests"
        )
    from parq_tools_spark.operators._index_common import (
        normalize_allowed_ids,
    )

    # materialized ONCE, up front: the same allowed set is consumed
    # by EVERY micro-batch — a one-shot iterable would be exhausted
    # by batch 1 and hand every later batch an empty (valid!) filter
    # that silently admits all duplicates
    allowed_ids = normalize_allowed_ids(allowed_ids)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # no crash-repair step needed: the index's versioned-manifest
        # protocol leaves a crashed add/compact as an invisible orphan
        # segment (swept by the next compaction), never as state a
        # read path could refuse
        if batch_id <= _last_applied(spark, index_path, checkpoint_dir):
            return  # replay of a batch this query already applied
        if not batch_df.take(1):
            _commit_marker(spark, index_path, checkpoint_dir, batch_id)
            return
        if not _BI.committed(spec, spark, index_path):
            from parq_tools_spark.operators._index_common import (
                check_store_cols,
            )

            # validate here for the clear message — the bare select
            # would throw UNRESOLVED_COLUMN before write's own check
            check_store_cols(batch_df, list(store_cols), fn)
            # bootstrap an EMPTY index (committed manifest, zero band
            # rows — the index query returns a typed empty relation
            # for it), so every batch, including the first, takes the
            # one admission path. The gate is the COMMITTED MANIFEST,
            # not a params sidecar: a writer crash before the manifest
            # commit must re-enter this bootstrap, not wedge every
            # later batch on "no committed index"
            _BI.public(spec, "write")(
                batch_df.limit(0).select(id_col, text_col, *store_cols),
                index_path,
                id_col=id_col,
                text_col=text_col,
                store_cols=store_cols,
                **build_params,
            )
        survivors = admit(
            spark,
            index_path,
            batch_df,
            text_col=text_col,
            update_index=True,
            allowed_ids=allowed_ids,
            where=where,
            **rule,
        )
        survivors.write.mode("overwrite").parquet(
            f"{output_path}/batch={batch_id}"
        )
        _commit_marker(spark, index_path, checkpoint_dir, batch_id)
        if compact_every and (batch_id + 1) % compact_every == 0:
            _BI.compact(spec, spark, index_path)
        elif max_segments or max_delete_batches:
            _BI.maybe_compact(
                spec,
                spark,
                index_path,
                max_segments=max_segments,
                max_delete_batches=max_delete_batches,
            )

    return _start_foreach_batch(
        docs, _process, checkpoint_dir, query_name, available_now
    )


def start_near_dedupe_stream(
    docs: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 128,
    bands: int = 32,
    k: int = 3,
    hash_family: str = "portable",
    compact_every: int = 0,
    max_segments: int = 0,
    max_delete_batches: int = 0,
    available_now: bool = True,
    query_name: Optional[str] = None,
    allowed_ids=None,
    where: Optional[str] = None,
    store_cols=(),
):
    """Start a streaming query admitting only documents that are not
    near-duplicates of anything previously admitted.

    ``allowed_ids`` / ``where`` SCOPE admission (threaded into
    :func:`~parq_tools_spark.operators.dedup.incremental_dedupe`
    every batch): only allowed — or, for ``where``, metadata-matching
    over the index's ``store_cols`` — INDEX entries may block a new
    document, so one physical index serves per-tenant / per-language
    admission streams. The in-batch lower-id rule stays unscoped and
    survivors still append unconditionally. A ``where`` scope needs
    an index carrying ``store_cols`` — either pre-built, or
    bootstrapped by THIS sink via ``store_cols=`` (the zero-row
    bootstrap then stores those columns from batch 0, so a
    cold-started scoped admission stream needs no out-of-band
    pre-build; each ingest batch must carry the columns or the batch
    fails loudly).

    If ``index_path`` holds an existing MinHash index
    (:func:`~parq_tools_spark.operators.dedup.minhash_index_write`),
    its stored parameters govern and the stream dedupes against that
    corpus from the first batch (``id_col``..``hash_family`` are
    ignored). Otherwise the first non-empty batch bootstraps a fresh
    index with the given parameters.

    ``compact_every=N`` runs
    :func:`~parq_tools_spark.operators.dedup.minhash_index_compact`
    after every Nth batch — per-band listing-triggered rewrites, no
    shuffle — so steady-state query cost doesn't creep with file
    count. ``max_segments`` / ``max_delete_batches`` arm the
    STATS-driven trigger instead (:func:`~parq_tools_spark.operators.
    dedup.minhash_index_maybe_compact`, consulted after each batch the
    count-based cadence didn't already compact): the index compacts
    exactly when its own manifest says fragmentation crossed the
    bound. ``available_now=True`` drains the backlog and stops (the
    testing / catch-up trigger); pass ``False`` for continuous.

    Returns the started ``StreamingQuery``; admitted documents are at
    ``output_path`` (partitioned by ``batch``).
    """
    from parq_tools_spark.operators.dedup import (
        BAND_FAMILY,
        incremental_dedupe,
    )

    return _start_band_admission_stream(
        BAND_FAMILY,
        incremental_dedupe,
        dict(threshold=threshold),
        dict(num_hashes=num_hashes, bands=bands, k=k,
             hash_family=hash_family),
        "start_near_dedupe_stream",
        docs, index_path, output_path, checkpoint_dir,
        id_col=id_col, text_col=text_col, compact_every=compact_every,
        max_segments=max_segments, max_delete_batches=max_delete_batches,
        available_now=available_now, query_name=query_name,
        allowed_ids=allowed_ids, where=where, store_cols=store_cols,
    )


def start_semantic_dedupe_stream(
    vecs: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int = 8,
    m: int = 8,
    n_codes: Optional[int] = 16,
    opq: bool = False,
    keep_versions: int = 1,
    compact_every: int = 0,
    max_segments: int = 0,
    max_tombstone_frac: float = 0.0,
    max_batch_rows: int = 100_000,
    available_now: bool = True,
    query_name: Optional[str] = None,
    allowed_ids=None,
    where: Optional[str] = None,
    store_cols=(),
):
    """Streaming SEMANTIC admission: admit only vectors that are not
    SemDeDup duplicates (rounded exact cosine >= ``threshold`` within
    the same frozen cell) of anything previously admitted — the
    embedding-based twin of :func:`start_near_dedupe_stream`, served
    from the persisted ANN index so the admitted corpus is never
    re-read or re-encoded (each micro-batch pays one cell-pruned
    stored-vector read + a broadcast of the batch; see
    :func:`~parq_tools_spark.operators.ann_index.
    semantic_dedupe_incremental` for the exact rule and scale shape).

    If ``index_path`` holds an existing ANN index it must have been
    built with ``store_vectors=True``; its stored parameters govern
    and the stream admits against that corpus from the first batch
    (``id_col``..``keep_versions`` are ignored). Otherwise the first
    non-empty batch BOOTSTRAPS the index: an IVF-PQ model cannot
    train on zero rows (centroids/codebooks are hash-seeded FROM
    corpus vectors — the :func:`~parq_tools_spark.streaming.
    index_sink.start_ann_index_stream` rationale), so the model
    freezes on the full first batch and the within-batch lower-id
    rule runs under that model BEFORE anything is committed — only
    the batch's survivors are encoded into segment v1
    (``ann_index_build``'s ``train_corpus`` split), one atomic
    manifest commit with no tombstone step and therefore no partial
    state any crash can expose. To freeze the model on a better
    training sample, pre-build with
    :func:`~parq_tools_spark.operators.ann_index.ann_index_build`.

    ``max_batch_rows`` bounds each micro-batch (the batch rides a
    broadcast into the cell-pruned index read — see
    :func:`~parq_tools_spark.operators.ann_index.
    semantic_dedupe_incremental`); size your trigger so batches stay
    under it.

    Recovery is the :func:`start_near_dedupe_stream` contract:
    exactly-once output via per-batch directory overwrite, the
    checkpoint-scoped versioned markers of ``_markers.py``, survivor
    recomputation stable under replay (admitted survivors are
    pairwise non-duplicate and the index query drops equal-id
    collisions), and the index append an UPSERT so a replayed batch
    converges instead of double-inserting.

    ``allowed_ids`` / ``where`` SCOPE admission (threaded into
    :func:`~parq_tools_spark.operators.ann_index.
    semantic_dedupe_incremental` every batch): only allowed — or, for
    ``where``, metadata-matching over the index's ``store_cols`` —
    INDEX entries may block a new vector. The bootstrap batch has no
    index to scope (its within-batch rule runs unscoped), so
    pre-build the index when the first batch must already be scoped.
    A ``where`` scope needs an index carrying ``store_cols`` —
    pre-built, or bootstrapped by this sink via ``store_cols=`` (the
    model-freezing first batch then commits its survivors WITH those
    columns, so scoped admission serves from batch 1; ingest batches
    missing the columns fail loudly).

    Returns the started ``StreamingQuery``; admitted vectors are at
    ``output_path`` (partitioned by ``batch``).
    """
    if not vecs.isStreaming:
        raise ValueError(
            "start_semantic_dedupe_stream needs a streaming "
            "DataFrame; use operators.ann_index."
            "semantic_dedupe_incremental for batch ingests"
        )
    from parq_tools_spark.operators._index_common import (
        normalize_allowed_ids,
    )

    # one materialization for every micro-batch (see
    # start_near_dedupe_stream)
    allowed_ids = normalize_allowed_ids(allowed_ids)

    from parq_tools_spark.operators import _band_index as _BI
    from parq_tools_spark.operators.ann_index import (
        INDEX_FAMILY,
        semantic_dedupe_bootstrap,
        semantic_dedupe_incremental,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id <= _last_applied(spark, index_path, checkpoint_dir):
            return  # replay of a batch this query already applied
        if not batch_df.take(1):
            _commit_marker(spark, index_path, checkpoint_dir, batch_id)
            return
        if not _BI.committed(INDEX_FAMILY, spark, index_path):
            # first non-empty batch: freeze the model on the FULL
            # batch, within-batch lower-id rule under it, ONE atomic
            # manifest commit of only the survivors — the whole
            # crash-safety argument lives on semantic_dedupe_bootstrap
            survivors = semantic_dedupe_bootstrap(
                batch_df,
                index_path,
                store_cols=store_cols,
                threshold=threshold,
                n_cells=n_cells,
                m=m,
                n_codes=n_codes,
                id_col=id_col,
                vec_col=vec_col,
                opq=opq,
                keep_versions=keep_versions,
                max_batch_rows=max_batch_rows,
            )
        else:
            survivors = semantic_dedupe_incremental(
                spark,
                index_path,
                batch_df,
                threshold=threshold,
                update_index=True,
                max_batch_rows=max_batch_rows,
                allowed_ids=allowed_ids,
                where=where,
            )
        survivors.write.mode("overwrite").parquet(
            f"{output_path}/batch={batch_id}"
        )
        _commit_marker(spark, index_path, checkpoint_dir, batch_id)
        if compact_every and (batch_id + 1) % compact_every == 0:
            _BI.compact(INDEX_FAMILY, spark, index_path)
        elif max_segments or max_tombstone_frac:
            # stats-driven: compacts exactly when the manifest's own
            # fragmentation signals cross their bounds (see
            # ann_index_maybe_compact); best-effort after the marker,
            # the same rationale as compact_every here
            _BI.compact_when(
                INDEX_FAMILY,
                spark,
                index_path,
                max_segments=max_segments,
                max_tombstone_frac=max_tombstone_frac,
            )

    return _start_foreach_batch(
        vecs, _process, checkpoint_dir, query_name, available_now
    )


def start_simhash_dedupe_stream(
    docs: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 63,
    n_bands: int = 4,
    hash_family: str = "portable",
    compact_every: int = 0,
    max_segments: int = 0,
    max_delete_batches: int = 0,
    available_now: bool = True,
    query_name: Optional[str] = None,
    allowed_ids=None,
    where: Optional[str] = None,
    store_cols=(),
):
    """Streaming SimHash admission — the Hamming-distance sibling of
    :func:`start_near_dedupe_stream`, completing the streaming
    admission surface across the banded dedup families: admit only
    documents farther than ``max_hamming`` bits from anything
    previously admitted, served from the persisted SimHash index
    (:func:`~parq_tools_spark.operators.simhash_index.
    simhash_incremental_dedupe` per micro-batch; the admitted corpus
    is never re-fingerprinted).

    If ``index_path`` holds an existing SimHash index its stored
    params govern from the first batch (``id_col``..``hash_family``
    are ignored); otherwise the first non-empty batch bootstraps an
    EMPTY index with the given params (zero band rows — every batch
    takes the one ``simhash_incremental_dedupe`` path, gated on the
    COMMITTED MANIFEST exactly like the MinHash stream).

    ``allowed_ids`` / ``where`` scope ADMISSION per batch (only
    allowed / metadata-matching index entries may block a document;
    the in-batch lower-id rule stays unscoped, survivors append
    unconditionally). A ``where`` scope needs an index carrying
    ``store_cols`` — pre-built, or bootstrapped by this sink via
    ``store_cols=`` (stored from batch 0; ingest batches missing the
    columns fail loudly).

    Recovery is the :func:`start_near_dedupe_stream` contract
    verbatim: exactly-once output via per-batch directory overwrite,
    checkpoint-scoped versioned markers, replay-stable survivor
    recomputation (``exclude_same_id`` suppresses a half-indexed
    batch shadowing itself), idempotent-by-dedup index appends.

    Returns the started ``StreamingQuery``; admitted documents are at
    ``output_path`` (partitioned by ``batch``).
    """
    from parq_tools_spark.operators.simhash_index import (
        BAND_FAMILY,
        simhash_incremental_dedupe,
    )

    return _start_band_admission_stream(
        BAND_FAMILY,
        simhash_incremental_dedupe,
        dict(max_hamming=max_hamming),
        dict(bits=bits, n_bands=n_bands, hash_family=hash_family),
        "start_simhash_dedupe_stream",
        docs, index_path, output_path, checkpoint_dir,
        id_col=id_col, text_col=text_col, compact_every=compact_every,
        max_segments=max_segments, max_delete_batches=max_delete_batches,
        available_now=available_now, query_name=query_name,
        allowed_ids=allowed_ids, where=where, store_cols=store_cols,
    )
