"""Streaming maintenance of the persisted indexes: a CDC stream
(``op`` in 'I'/'U'/'D'/'M') keeps all four index families (BM25, ANN,
MinHash, SimHash) continuously fresh (beyond-reference; the reference
has neither a streaming surface nor any index). Change rows carry ``op`` in 'I'/'U'/'D'/'M' — 'M'
(metadata-only) ops fold into the family's ``update_metadata``
after the batch's deletes and upserts (shared
``resolve_cdc_with_meta`` semantics), so a license re-grade rides
the same stream as content changes without a re-encode/re-tokenize
upsert. 'M' replay is convergent too: a not-visible id is a counted
no-op, and re-applying an identical metadata flip rewrites the same
values.

Why ``foreachBatch`` + the on-disk index instead of streaming state:
the index IS the state — hundreds of GB of postings at 100 TB of
corpus, living in the versioned-manifest protocol so batch jobs and
serving queries share it. Each micro-batch reuses the exact batch
primitive (:func:`~parq_tools_spark.operators.search.
bm25_index_apply_cdc`): last-op-per-id resolution, version-scoped
tombstones for deletes, O(batch) upserts with no compaction in
between.

Recovery contract (foreachBatch is at-least-once):

- the checkpoint-scoped versioned markers of ``streaming/_markers.py``
  short-circuit fully-applied batches — the exactly-once fast path;
- a lost-marker replay (fresh checkpoint over an already-fed index)
  still CONVERGES: re-applying a CDC batch is final-state idempotent —
  an upsert of an id that already carries that text tombstones and
  re-adds the identical rows, a delete of an already-deleted id is the
  documented no-op. The cost of a replay is extra segment/tombstone
  churn (folded by compaction), never wrong state;
- a crash mid-apply leaves the index at some committed version with
  the half-applied batch's data as an invisible orphan — the next run
  re-applies the whole batch (no marker was committed).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from parq_tools_spark.streaming._markers import (
    commit_marker as _commit_marker,
    last_applied as _last_applied,
    start_foreach_batch as _start_foreach_batch,
)

__all__ = [
    "start_bm25_index_stream",
    "start_ann_index_stream",
    "start_minhash_index_stream",
    "start_simhash_index_stream",
]


def _run_index_stream(
    changes: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    process_batch,
    compact_fn,
    compact_every: int,
    available_now: bool,
    query_name: Optional[str],
    maybe_compact_fn=None,
):
    """The ONE foreachBatch recovery skeleton both sinks run (the
    _markers.py rationale, one layer up): marker short-circuit, empty
    batches marked and skipped, ``process_batch(spark, batch_df)``
    does the index fold, compaction BEFORE the marker — a compaction
    crash fails the batch un-marked so the restart re-applies the CDC
    batch (final-state idempotent, only segment churn) and RETRIES
    the fold; marker-first would permanently skip this trigger's
    compaction (unlike the near-dedup stream, whose replay appends
    duplicate band rows, so it commits marker-first and treats
    compaction as best-effort). ``maybe_compact_fn(spark)`` is the
    stats-driven trigger (the ``*_maybe_compact`` family): consulted
    EVERY batch — including ones where the count-based cadence ran,
    since the cadence's non-forced compact can no-op below the
    file-count triggers while a manifest bound is already breached —
    it compacts exactly when the manifest's own fragmentation
    signals cross their bounds."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id <= _last_applied(spark, index_path, checkpoint_dir):
            return  # replay of a batch this query already applied
        if not batch_df.take(1):
            _commit_marker(spark, index_path, checkpoint_dir, batch_id)
            return
        process_batch(spark, batch_df)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_fn(spark, index_path)
        # the stats trigger is consulted EVERY batch, including
        # cadence batches: the cadence runs the non-forced compact,
        # which can no-op below the per-bucket/per-cell file triggers
        # while a manifest bound (segment count, tombstone fraction)
        # is already breached — an elif here would delay that fold to
        # the next batch. If the cadence compact DID fold, the fresh
        # manifest is under every bound and this is one O(manifest)
        # read.
        if maybe_compact_fn is not None:
            maybe_compact_fn(spark)
        _commit_marker(spark, index_path, checkpoint_dir, batch_id)

    return _start_foreach_batch(
        changes, _process, checkpoint_dir, query_name, available_now
    )


def start_bm25_index_stream(
    changes: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "op",
    seq_col: Optional[str] = None,
    n_buckets: int = 32,
    store_positions: bool = False,
    store_cols=(),
    keep_versions: int = 1,
    compact_every: int = 0,
    max_segments: int = 0,
    max_tombstone_frac: float = 0.0,
    available_now: bool = True,
    query_name: Optional[str] = None,
):
    """Start a streaming query folding CDC rows into the BM25 index.

    If ``index_path`` holds an existing index
    (:func:`~parq_tools_spark.operators.search.bm25_index_build`), its
    stored parameters govern and the stream maintains that corpus from
    the first batch (``id_col``..``keep_versions`` are ignored).
    Otherwise the first batch bootstraps an EMPTY index with the given
    parameters — committed manifest, zero postings — so every batch,
    including the first, takes the one ``bm25_index_apply_cdc`` path
    (the bootstrap gate is the committed manifest, the same reasoning
    as the near-dedup stream's).

    ``compact_every=N`` runs
    :func:`~parq_tools_spark.operators.search.bm25_index_compact`
    after every Nth batch, folding accumulated segments and tombstones
    so steady-state query cost doesn't creep with batch count.
    ``max_segments`` / ``max_tombstone_frac`` arm the STATS-driven
    trigger instead (:func:`~parq_tools_spark.operators.search.
    bm25_index_maybe_compact`, consulted EVERY batch — even ones the
    count-based cadence visited, since the cadence's non-forced
    compact can no-op below the file triggers while a manifest bound
    is already breached): the index compacts exactly when
    its own manifest says fragmentation crossed the bound, not on a
    blind batch count. ``available_now=True`` drains the backlog and
    stops (the testing / catch-up trigger); pass ``False`` for
    continuous.

    'M' (metadata-only) rows fold into ``bm25_index_update_metadata``
    through the same ``apply_cdc`` call (they need the id plus ALL
    the index's ``store_cols``, no text). Pass ``store_cols=`` here
    (or pre-build with it) so the bootstrapped index can store what
    the re-grades ship — I/U rows must then carry the columns, and
    'M' ids not visible when their batch applies are counted no-ops,
    so replay converges. 'M' rows against a store_cols-LESS index
    raise loudly: a stream shipping re-grades nothing can store is a
    misconfiguration, not a replayable data condition.

    Returns the started ``StreamingQuery``. Query the index at any
    time with :func:`~parq_tools_spark.operators.search.
    bm25_index_topk` — readers always see some fully-committed
    version, never a torn batch.
    """
    if not changes.isStreaming:
        raise ValueError(
            "start_bm25_index_stream needs a streaming DataFrame; use "
            "operators.search.bm25_index_apply_cdc for batch CDC"
        )

    def _apply(spark, batch_df: DataFrame) -> None:
        from parq_tools_spark.operators.search import (
            _bm25_vs,
            bm25_index_apply_cdc,
            bm25_index_build,
        )

        if _bm25_vs(spark, index_path).current() is None:
            from parq_tools_spark.operators._index_common import (
                check_store_cols,
            )

            # validate here for the clear message — the bare select
            # would throw UNRESOLVED_COLUMN before build's own check
            check_store_cols(
                batch_df, list(store_cols), "start_bm25_index_stream"
            )
            bm25_index_build(
                batch_df.limit(0).select(
                    id_col, text_col, *store_cols
                ),
                index_path,
                id_col=id_col,
                text_col=text_col,
                n_buckets=n_buckets,
                store_positions=store_positions,
                store_cols=store_cols,
                keep_versions=keep_versions,
            )
        bm25_index_apply_cdc(
            spark, index_path, batch_df, op_col=op_col, seq_col=seq_col
        )

    def _compact(spark, path):
        from parq_tools_spark.operators.search import bm25_index_compact

        bm25_index_compact(spark, path)

    def _maybe(spark):
        from parq_tools_spark.operators.search import (
            bm25_index_maybe_compact,
        )

        # maybe_compact itself no-ops on an uncommitted index
        bm25_index_maybe_compact(
            spark,
            index_path,
            max_segments=max_segments,
            max_tombstone_frac=max_tombstone_frac,
        )

    return _run_index_stream(
        changes,
        index_path,
        checkpoint_dir,
        _apply,
        _compact,
        compact_every,
        available_now,
        query_name,
        maybe_compact_fn=(
            _maybe if (max_segments or max_tombstone_frac) else None
        ),
    )


def start_ann_index_stream(
    changes: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    op_col: str = "op",
    seq_col: Optional[str] = None,
    n_cells: int = 8,
    m: int = 8,
    n_codes: Optional[int] = 16,
    opq: bool = False,
    store_cols=(),
    keep_versions: int = 1,
    compact_every: int = 0,
    max_segments: int = 0,
    max_tombstone_frac: float = 0.0,
    available_now: bool = True,
    query_name: Optional[str] = None,
):
    """Start a streaming query folding CDC rows into the IVF-PQ vector
    index — the embedding-side twin of :func:`start_bm25_index_stream`
    (same markers, same replay convergence, same
    ``apply_cdc`` semantics via :func:`~parq_tools_spark.operators.
    ann_index.ann_index_apply_cdc`).

    Bootstrap differs in one forced way: an IVF-PQ model cannot train
    on zero rows (centroids/codebooks are hash-seeded FROM corpus
    vectors), so the first batch's resolved I/U rows BUILD the index —
    the model freezes on that batch, the standard train-on-sample
    IVF-PQ deployment. To train on a better sample, pre-build with
    :func:`~parq_tools_spark.operators.ann_index.ann_index_build`;
    an existing index's stored parameters then govern and
    ``id_col``..``keep_versions`` here are ignored. 'D' ops in the
    bootstrap batch resolve against an empty index — all no-ops.

    ``max_segments`` / ``max_tombstone_frac`` arm the STATS-driven
    compaction trigger (:func:`~parq_tools_spark.operators.ann_index.
    ann_index_maybe_compact`, consulted EVERY batch — even ones the
    count-based ``compact_every`` cadence visited, since the
    cadence's non-forced compact can no-op below the file triggers
    while a manifest bound is already breached).

    'M' (metadata-only) rows fold into ``ann_index_update_metadata``
    through the same ``apply_cdc`` call (id plus ALL ``store_cols``,
    no ``vec_col`` needed). Pass ``store_cols=`` here (or pre-build
    with it) so the bootstrapped index can store what the re-grades
    ship; only I/U rows seed the model-training bootstrap build, and
    the bootstrap batch's surviving 'M' rows fold in right after it
    (the seeded ids are visible by then — same semantics as a
    replayed batch). Not-visible 'M' ids are counted no-ops, so
    replay converges. 'M' rows against a store_cols-LESS index raise
    loudly (re-grades nothing can store are a misconfiguration).
    """
    if not changes.isStreaming:
        raise ValueError(
            "start_ann_index_stream needs a streaming DataFrame; use "
            "operators.ann_index.ann_index_apply_cdc for batch CDC"
        )

    from parq_tools_spark.operators import _band_index as _BI
    from parq_tools_spark.operators.ann_index import INDEX_FAMILY

    def _apply(spark, batch_df: DataFrame) -> None:
        from pyspark.sql import functions as F

        from parq_tools_spark.operators.ann_index import ann_index_build

        if not _BI.committed(INDEX_FAMILY, spark, index_path):
            from parq_tools_spark.operators._index_common import (
                check_store_cols,
                resolve_cdc_with_meta,
            )

            final, metas = resolve_cdc_with_meta(
                batch_df, id_col, op_col, seq_col
            )
            ups = final.filter(F.col(op_col).isin("I", "U"))
            # validate here for the clear message — the bare select
            # would throw UNRESOLVED_COLUMN before build's own check
            check_store_cols(
                ups, list(store_cols), "start_ann_index_stream"
            )
            seed = ups.select(id_col, vec_col, *store_cols)
            if not seed.take(1):
                # a delete-only (or meta-only) batch against no
                # index: all no-ops
                return
            ann_index_build(
                seed,
                index_path,
                n_cells=n_cells,
                m=m,
                n_codes=n_codes,
                id_col=id_col,
                vec_col=vec_col,
                opq=opq,
                store_cols=store_cols,
                keep_versions=keep_versions,
            )
            # fold the batch's SURVIVING 'M' rows like the
            # non-bootstrap path does: after the in-batch build the
            # seeded ids ARE visible, and a crash between the build
            # commit and the checkpoint marker replays batch 0
            # through apply_cdc where the 'M's would apply — dropping
            # them here would make final state depend on crash timing
            if metas is not None and metas.take(1):
                _BI.apply_cdc(
                    INDEX_FAMILY, spark, index_path, metas,
                    op_col=op_col, seq_col=seq_col,
                )
            return
        _BI.apply_cdc(
            INDEX_FAMILY, spark, index_path, batch_df,
            op_col=op_col, seq_col=seq_col,
        )

    def _compact(spark, path):
        # a delete-only bootstrap batch commits no index (all no-ops);
        # compacting nothing must be a no-op too, not a crash loop
        # (the batch would fail un-marked and replay forever)
        if _BI.committed(INDEX_FAMILY, spark, path):
            _BI.compact(INDEX_FAMILY, spark, path)

    def _maybe(spark):
        # the trigger itself no-ops on an uncommitted index
        _BI.compact_when(
            INDEX_FAMILY,
            spark,
            index_path,
            max_segments=max_segments,
            max_tombstone_frac=max_tombstone_frac,
        )

    return _run_index_stream(
        changes,
        index_path,
        checkpoint_dir,
        _apply,
        _compact,
        compact_every,
        available_now,
        query_name,
        maybe_compact_fn=(
            _maybe if (max_segments or max_tombstone_frac) else None
        ),
    )


def _start_band_index_stream(
    spec,
    build_params: dict,
    changes: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    *,
    id_col: str,
    text_col: str,
    op_col: str,
    seq_col: Optional[str],
    store_cols,
    keep_versions: int,
    compact_every: int,
    max_segments: int,
    max_delete_batches: int,
    available_now: bool,
    query_name: Optional[str],
):
    """The ONE CDC sink body of the band-row families (MinHash /
    SimHash, ``operators/_band_index.py``): bootstrap an EMPTY index
    (committed manifest, zero band rows, ``build_params`` are the
    family's encode params) when nothing is committed, then fold every
    batch through the family's ``apply_cdc`` inside
    :func:`_run_index_stream`."""
    from parq_tools_spark.operators import _band_index as _BI

    fn = f"start_{spec.family}_index_stream"
    if not changes.isStreaming:
        raise ValueError(
            f"{fn} needs a streaming DataFrame; use operators."
            f"{spec.module.rsplit('.', 1)[1]}.{spec.family}_index_apply_cdc"
            " for batch CDC"
        )

    def _apply(spark, batch_df: DataFrame) -> None:
        if not _BI.committed(spec, spark, index_path):
            from parq_tools_spark.operators._index_common import (
                check_store_cols,
            )

            # validate here for the clear message — the bare select
            # would throw UNRESOLVED_COLUMN before write's own check
            check_store_cols(batch_df, list(store_cols), fn)
            _BI.public(spec, "write")(
                batch_df.limit(0).select(id_col, text_col, *store_cols),
                index_path,
                id_col=id_col,
                text_col=text_col,
                keep_versions=keep_versions,
                store_cols=store_cols,
                **build_params,
            )
        _BI.apply_cdc(
            spec, spark, index_path, batch_df,
            op_col=op_col, seq_col=seq_col, text_col=text_col,
        )

    def _maybe(spark):
        _BI.maybe_compact(
            spec,
            spark,
            index_path,
            max_segments=max_segments,
            max_delete_batches=max_delete_batches,
        )

    return _run_index_stream(
        changes,
        index_path,
        checkpoint_dir,
        _apply,
        lambda spark, path: _BI.compact(spec, spark, path),
        compact_every,
        available_now,
        query_name,
        maybe_compact_fn=(
            _maybe if (max_segments or max_delete_batches) else None
        ),
    )


def start_minhash_index_stream(
    changes: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "op",
    seq_col: Optional[str] = None,
    num_hashes: int = 128,
    bands: int = 32,
    k: int = 3,
    hash_family: str = "portable",
    store_cols=(),
    keep_versions: int = 1,
    compact_every: int = 0,
    max_segments: int = 0,
    max_delete_batches: int = 0,
    available_now: bool = True,
    query_name: Optional[str] = None,
):
    """Start a streaming query folding CDC rows into the persisted
    MinHash index — the band-family sibling of
    :func:`start_bm25_index_stream` (same markers, same replay
    convergence, same ``apply_cdc`` semantics via
    :func:`~parq_tools_spark.operators.dedup.
    minhash_index_apply_cdc`), so the near-dup candidate index stays
    continuously fresh under the SAME change log that maintains the
    search/vector indexes and the snapshot — takedown 'D's, refresh
    'U's and re-grade 'M's all land without a rebuild.

    This differs from :func:`~parq_tools_spark.streaming.near_dedup.
    start_near_dedupe_stream` in WHAT the stream means: the admission
    sink filters documents and appends survivors; this sink REPLAYS
    an upstream change log verbatim (nothing is filtered, deletes
    actually delete).

    If ``index_path`` holds an existing index its stored parameters
    govern from the first batch (``id_col``..``keep_versions`` are
    ignored); otherwise the first batch bootstraps an EMPTY index
    with the given parameters — committed manifest, zero band rows —
    so every batch takes the one ``apply_cdc`` path (the committed-
    manifest gate of the admission sinks).

    'M' (metadata-only) rows fold into
    ``minhash_index_update_metadata`` through the same ``apply_cdc``
    call (id plus ALL ``store_cols``, no text). Pass ``store_cols=``
    here (or pre-build with it) so the bootstrapped index can store
    what the re-grades ship — I/U rows must then carry the columns,
    and 'M' ids not visible when their batch applies are counted
    no-ops, so replay converges. 'M' rows against a store_cols-LESS
    index raise loudly (a misconfiguration, not a replayable data
    condition).

    ``compact_every`` / ``max_segments`` / ``max_delete_batches``
    are the count-based cadence and the stats-driven trigger
    (:func:`~parq_tools_spark.operators.dedup.
    minhash_index_maybe_compact`), with the shared consult-every-
    batch rule of :func:`_run_index_stream`.
    """
    from parq_tools_spark.operators.dedup import BAND_FAMILY

    return _start_band_index_stream(
        BAND_FAMILY,
        dict(num_hashes=num_hashes, bands=bands, k=k,
             hash_family=hash_family),
        changes, index_path, checkpoint_dir,
        id_col=id_col, text_col=text_col, op_col=op_col, seq_col=seq_col,
        store_cols=store_cols, keep_versions=keep_versions,
        compact_every=compact_every, max_segments=max_segments,
        max_delete_batches=max_delete_batches,
        available_now=available_now, query_name=query_name,
    )


def start_simhash_index_stream(
    changes: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "op",
    seq_col: Optional[str] = None,
    bits: int = 63,
    n_bands: int = 4,
    hash_family: str = "portable",
    store_cols=(),
    keep_versions: int = 1,
    compact_every: int = 0,
    max_segments: int = 0,
    max_delete_batches: int = 0,
    available_now: bool = True,
    query_name: Optional[str] = None,
):
    """Start a streaming query folding CDC rows into the persisted
    SimHash index — :func:`start_minhash_index_stream`'s
    Hamming-distance twin, completing the CDC sink surface across
    all four index families (same markers, same replay convergence,
    same 'M'-fold semantics via :func:`~parq_tools_spark.operators.
    simhash_index.simhash_index_apply_cdc`; see the MinHash sink's
    docstring for the replay-a-change-log vs filter-an-ingest
    distinction and the ``store_cols=`` bootstrap contract)."""
    from parq_tools_spark.operators.simhash_index import BAND_FAMILY

    return _start_band_index_stream(
        BAND_FAMILY,
        dict(bits=bits, n_bands=n_bands, hash_family=hash_family),
        changes, index_path, checkpoint_dir,
        id_col=id_col, text_col=text_col, op_col=op_col, seq_col=seq_col,
        store_cols=store_cols, keep_versions=keep_versions,
        compact_every=compact_every, max_segments=max_segments,
        max_delete_batches=max_delete_batches,
        available_now=available_now, query_name=query_name,
    )
