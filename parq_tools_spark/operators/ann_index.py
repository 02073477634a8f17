"""Persisted IVF-PQ vector-ANN index under the versioned-manifest
commit protocol (beyond-reference; the reference has no vector
search — this gives the embedding surface the same serving-shaped
index the BM25 and MinHash families already have, so repeated ANN
queries over a 100 TB corpus stop paying a full re-encode per call,
which is what the per-call :func:`~parq_tools_spark.operators.
similarity.ivf_pq_topk` costs).

On-disk layout (``sources/statefs.py`` — the segment-index protocol
the MinHash and SimHash families share, ``operators/_band_index.py``):

- ``path/v=<n>/_ann_manifest.json`` — commit marker (created
  exclusively, LAST): params, the id column's type, ``n_vecs``, the
  model file and segment list of this version;
- ``path/model-<n>-<tag>.json`` — the frozen quantization model:
  coarse centroids, PQ codebooks, optional OPQ rotation. Written via
  ``StateFS.write_text`` BEFORE the commit, so it lives on the same
  filesystem as the data (``file:``/``hdfs:``/``s3a:`` alike — never
  the driver's local disk). Size is ``O(n_cells*dim + m*n_codes*sub
  + dim^2)`` floats — a few hundred KB at typical settings;
- ``path/seg-<n>-<tag>/cell=<c>/`` — ``(id, codes array<int>)``
  parquet partitioned by coarse cell, id-sorted within files. The
  partitioning is the scale payoff: a query's probed cells are known
  at PLANNING time (the probe list is computed driver-side against
  the broadcast-small centroid table), so the scan prunes to
  ~nprobe/n_cells of the index directories before reading a byte.

Lifecycle: ``build`` commits a fresh generation NON-destructively
alongside any live one (readers of the previous manifest get a
one-cycle grace); ``add`` encodes a new batch under the FROZEN model
(the standard IVF-PQ ingest — the quantization grid never moves
between rebuilds, so old and new codes score identically) and commits
one new immutable segment; ``compact`` rewrites the segment list per
cell with no shuffle; a crash anywhere is an invisible orphan no
manifest references — readers never raise, nothing renames live data,
object-store-clean. Every lifecycle op past build is the ONE shared
implementation in ``operators/_band_index.py``, bound to this
module's :data:`INDEX_FAMILY` (``cell`` partitions, one row per
vector, the ``n_vecs`` counter, the model file, salted cell writes);
this module keeps model I/O, build, encode, retrain, serving and
semantic dedupe.

Staleness contract: a query scores with ONE committed version's model
and segments (never a torn mix) and stamps that version in the
output's ``index_version`` column (see :func:`ann_index_stats`).

Equivalence contract: with matching params, :func:`ann_index_topk`
returns results BIT-IDENTICAL to the per-call
:func:`~parq_tools_spark.operators.similarity.ivf_pq_topk` — the
probe lists replicate ``_with_centroid_cells``'s rounded-cosine
stable ordering and scoring runs through the SHARED
:func:`~parq_tools_spark.operators.similarity.adc_score` pass — and
under the degenerate configuration (``nprobe = n_cells``, lossless
``n_codes=None`` codebook, any orthogonal OPQ rotation) both equal
the brute-force baseline exactly (the ``ann_index_equiv`` gate).
"""

from __future__ import annotations

import json
from typing import Optional

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parq_tools_spark.operators import _band_index as _BI
from parq_tools_spark.operators._index_common import (
    INDEX_MARKERS,
    NO_DEFAULT as _NO_DEFAULT,
    apply_allowed_ids,
    check_self_exclusion_types,
    check_store_cols,
    id_field as _id_field,
    id_field_json as _id_field_json,
    materialize as _mat,
    retention as _retention,
    tag as _tag,
)
from parq_tools_spark.operators.similarity import (
    DEFAULT_ROUND_TO,
    _hashseed_rows,
    _with_centroid_cells,
    adc_score,
    cosine_similarity_col,
    opq_rotation,
    pq_codebooks,
    pq_encode_with_cells,
)

__all__ = [
    "ann_index_build",
    "ann_index_add",
    "ann_index_delete",
    "ann_index_upsert",
    "ann_index_update_metadata",
    "ann_index_add_metadata_col",
    "ann_index_drop_metadata_col",
    "ann_index_retrain",
    "ann_index_apply_cdc",
    "ann_index_compact",
    "ann_index_maybe_compact",
    "ann_index_stats",
    "ann_index_topk",
    "semantic_dedupe_bootstrap",
    "semantic_dedupe_incremental",
]


def _write_model(fs, path: str, name: str, centroids, codebooks, rotation):
    fs.write_text(
        f"{path}/{name}",
        json.dumps(
            {
                "centroids": [[float(x) for x in c] for c in centroids],
                "codebooks": np.asarray(codebooks, dtype=np.float64).tolist(),
                "rotation": (
                    None
                    if rotation is None
                    else np.asarray(rotation, dtype=np.float64).tolist()
                ),
            }
        ),
    )


def _read_model(fs, path: str, m: dict):
    mdl = json.loads(fs.read_text(f"{path}/{m['model']}"))
    rot = mdl["rotation"]
    return (
        mdl["centroids"],
        np.asarray(mdl["codebooks"], dtype=np.float64),
        None if rot is None else np.asarray(rot, dtype=np.float64),
    )


def _encode(df: DataFrame, p: dict, vec_col: str, model) -> DataFrame:
    """ONE fused encode+assign pass over the embedding column under
    ``model`` (codes and cell share each Arrow batch, so no id-join
    glues them back). The segment schema is an index-wide invariant:
    every batch stores (or doesn't store) exact vectors and carries
    the ``store_cols`` exactly as the build did."""
    centroids, codebooks, rot = model
    return pq_encode_with_cells(
        df,
        centroids,
        codebooks,
        id_col=p["id_col"],
        vec_col=vec_col,
        round_to=p["round_to"],
        rotation=rot,
        keep_vec=bool(p.get("store_vectors")),
        meta_cols=p.get("store_cols", []),
    )


#: The vector-ANN family on the shared segment-index lifecycle:
#: ``(id, *store_cols, codes[, vec], cell)`` rows, one per vector,
#: under ``_ann_manifest.json`` commits that count ``n_vecs`` and name
#: the frozen model file.
INDEX_FAMILY = _BI.IndexFamily(
    family="ann",
    module=__name__,
    marker=INDEX_MARKERS["ann"],
    reserved=("codes", "cell", "vec"),
    encode=_encode,
    part="cell",
    build="build",
    query="topk",
    one_row_per_id=True,
    value_key="vec_col",
    rows_key="n_vecs",
    model=_read_model,
    splits_key="cell_task_splits",
    dup_note=" (a duplicate would append twice and corrupt n_vecs)",
)


def _ann_vs(spark, path: str):
    return _BI._vs(INDEX_FAMILY, spark, path)


def _ann_manifest(spark, path: str, version=None):
    return _BI.manifest(INDEX_FAMILY, spark, path, version)


def ann_index_build(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 8,
    n_codes: Optional[int] = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = DEFAULT_ROUND_TO,
    opq: bool = False,
    opq_sample: int = 256,
    keep_versions: int = 1,
    store_vectors: bool = False,
    train_corpus: Optional[DataFrame] = None,
    cell_task_splits=1,
    store_cols=(),
) -> None:
    """Build a persistent IVF-PQ index over an embedding column.

    The model is CLOSED-FORM deterministic (hash-seeded centroids and
    codebooks, the :func:`~parq_tools_spark.operators.similarity.
    ivf_pq_topk` scheme; ``opq=True`` additionally learns the
    deterministic PCA-based OPQ rotation), so the whole index is
    engine-recomputable — the driver's DuckDB oracle re-derives it
    value-for-value. ``n_codes=None`` uses every corpus row as a
    codeword (the lossless identity codebook, the equivalence-gate
    configuration).

    Cost shape: one ``O(n_cells + n_codes)`` seed collect, ONE fused
    map-only broadcast-matmul pass (assignment + encoding share each
    Arrow batch — :func:`~parq_tools_spark.operators.similarity.
    pq_encode_with_cells`), one segment write shuffled only by the
    cell key, one count aggregate, one model PUT, one manifest
    commit. The corpus' embeddings are read once and never shuffled.

    Rebuilding over a live index is NON-DESTRUCTIVE: the new
    generation commits alongside the old one, which survives one
    maintenance cycle for in-flight readers; a crash mid-rebuild
    leaves the old index fully committed (the new data is an
    invisible orphan).

    ``keep_versions`` pins how many committed versions the
    maintenance sweeps retain; retained versions stay fully servable
    via the ``version=`` parameter on :func:`ann_index_topk` /
    :func:`ann_index_stats` (the shared index time-travel
    contract).

    ``store_vectors=True`` additionally persists each vector's exact
    embedding (column ``vec``, ``array<double>``) alongside its PQ
    codes in the cell-partitioned segments — the standard
    IVF-PQ-with-refinement deployment: serving can then re-score the
    top ADC candidates against exact vectors
    (:func:`ann_index_topk`'s ``refine=``), lifting accuracy past the
    quantization ceiling without touching the source corpus. Cost:
    the index stores ``dim`` doubles per vector next to the ``m``
    code bytes (build-time segment shuffle carries them once;
    serving reads them only inside the probed cells).

    ``train_corpus`` (optional) decouples model fitting from segment
    content: centroids, codebooks and the OPQ rotation derive from
    ``train_corpus`` while only ``corpus`` rows are encoded into
    segment v1 — still ONE atomic manifest commit. This is how
    :func:`~parq_tools_spark.streaming.near_dedup.
    start_semantic_dedupe_stream` bootstraps replay-safely: the model
    freezes on the full first batch but only the batch's admitted
    survivors are committed, so no post-build tombstone (and no crash
    window between two commits) is ever needed.

    ``cell_task_splits`` bounds write-task skew: the segment shuffle
    keys on the cell alone, so ONE hot cell is ONE task — at corpus
    scale a skewed region (half the vectors near one centroid) makes
    that task write its entire share. A value > 1 salts the shuffle
    with a deterministic id-hash so each cell splits across that many
    tasks (more, smaller files per ``cell=`` directory — compaction's
    byte-targets merge them later); serving and results are
    bit-identical. Stored in the manifest so :func:`ann_index_add`
    ingests with the same discipline. ``"auto"`` measures the batch
    instead of guessing (:func:`~parq_tools_spark.operators.
    _index_common.auto_task_splits`: hottest cell's rows over a
    per-task row budget, one extra aggregation pass) — and because
    the manifest stores the literal ``"auto"``, every later ingest
    re-measures ITS OWN batch's skew.

    ``store_cols`` persists the named corpus metadata columns (e.g.
    ``lang``, a license flag) IN the segment rows, riding the same
    Arrow batch through the encoder — zero extra shuffle, no id
    re-join. Serving can then filter candidates with
    :func:`ann_index_topk`'s ``where=`` DSL predicate, which Catalyst
    pushes into the cell-pruned parquet scans (at 100 TB the filter
    costs planning time, not a metadata join). Every subsequent
    ingest must carry the columns (validated loudly); compaction and
    retraining carry them forward."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    if cell_task_splits != "auto" and (
        isinstance(cell_task_splits, bool)
        or not isinstance(cell_task_splits, int)
        or cell_task_splits < 1
    ):
        raise ValueError(
            "cell_task_splits must be a positive int or 'auto'"
        )
    store_cols = list(store_cols)
    reserved = {*INDEX_FAMILY.reserved, id_col, vec_col}
    bad = [c for c in store_cols if c in reserved]
    if bad:
        raise ValueError(
            f"store_cols {bad} collide with the segment schema's "
            f"reserved columns ({sorted(reserved)})"
        )
    check_store_cols(corpus, store_cols, "ann_index_build")
    spark = corpus.sparkSession
    vs = _ann_vs(spark, path)
    cur = vs.current()
    if cur is not None:
        # sweep at cycle START: state superseded LAST cycle goes now,
        # never the live generation (reader grace). Retention follows
        # the PREVIOUS generation's policy; this build's keep_versions
        # governs from its own commit forward.
        vs.clean_stale(
            cur, keep_versions=_retention(json.loads(vs.read_marker(cur)))
        )
        _BI.sweep_orphans(INDEX_FAMILY, vs, path)
    new = (cur or 0) + 1

    train = train_corpus if train_corpus is not None else corpus
    centroids = _hashseed_rows(train, n_cells, id_col, vec_col)
    rot = opq_rotation(train, m, id_col, vec_col, opq_sample) if opq else None
    codebooks = pq_codebooks(
        train, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col,
        rotation=rot,
    )
    params = {
        "n_cells": n_cells,
        "m": m,
        "n_codes": int(np.asarray(codebooks).shape[1]),
        # realized width above serves ADC sizing; the CONFIGURED value
        # (None = identity codebook) is what retrain must default to,
        # else an every-row-a-codeword index silently retrains into a
        # lossy fixed-width codebook
        "n_codes_configured": n_codes,
        "id_col": id_col,
        "vec_col": vec_col,
        "round_to": round_to,
        "opq": opq,
        "keep_versions": keep_versions,
        "store_vectors": store_vectors,
        # "auto" measures each batch's own cell skew (one extra
        # aggregation pass) instead of guessing a salt factor; stored
        # verbatim so every later ingest re-measures ITS batch
        "cell_task_splits": cell_task_splits,
        "store_cols": store_cols,
    }
    # n_vecs rides the segment write as an Observation (the encoder is
    # row-1:1, so count(coded) == count(corpus)) — no count pass
    seg, counter = _BI.write_segment(
        INDEX_FAMILY, vs, corpus, path, {}, params, vec_col, new,
        model=(centroids, codebooks, rot),
    )
    model = _tag(new, "model") + ".json"
    _write_model(vs.fs, path, model, centroids, codebooks, rot)
    vs.commit(
        new,
        json.dumps(
            {
                "version": new,
                "params": params,
                "id_type": _id_field_json(corpus, id_col),
                **counter,
                "model": model,
                "segments": [seg],
            }
        ),
    )


_INHERIT = object()  # sentinel: n_codes=None is meaningful (identity)


def ann_index_retrain(
    spark,
    path: str,
    n_cells: Optional[int] = None,
    m: Optional[int] = None,
    n_codes=_INHERIT,
    opq: Optional[bool] = None,
    opq_sample: int = 256,
    keep_versions: Optional[int] = None,
    store_vectors: bool = True,
    cell_task_splits: Optional[int] = None,
) -> None:
    """Refit the quantization model from the index's own STORED
    vectors and re-encode everything under it — the drift answer for
    an index grown far past its training corpus: :func:`ann_index_add`
    ingests under the FROZEN model (correct grid, but centroids and
    codebooks seeded only from the original build/train corpus), so
    after heavy growth the cells no longer partition the data well
    and ADC error concentrates where the corpus drifted. Retrain
    reads the currently-VISIBLE ``(id, vec)`` rows (tombstones
    honored, exact float64 stored vectors — the index must have been
    built with ``store_vectors=True``), re-derives the hash-seeded
    model from them, and commits ONE fresh generation via
    :func:`ann_index_build` — bit-identical to a from-scratch build
    over the same visible vectors (the ``ann_retrain_equiv`` gate:
    hash-seeding depends only on ids and vector values, and float32→
    float64 upcast is exact, so stored vectors reproduce the fresh
    build's model and codes exactly).

    Non-destructive and crash-safe exactly like a rebuild: the new
    generation commits alongside the live one (one-cycle reader
    grace — which is also why the lazy read of the live segments
    during the build is safe: the cycle-start sweep only removes
    state superseded in a PREVIOUS cycle, never the live
    generation's files); a crash leaves the old index fully
    committed and the partial new state an invisible orphan.

    Params default to the stored ones; pass ``n_cells``/``m``/
    ``n_codes``/``opq``/``keep_versions`` to change geometry while
    retraining. ``n_codes`` defaults to the CONFIGURED value the
    manifest recorded at build time (``n_codes_configured``), so an
    identity-codebook index (``n_codes=None``) retrains back into an
    identity codebook — geometry round-trips without the caller
    re-stating it. Manifests older than that field fall back to the
    realized codebook width (the historical behavior, documented
    here so the fallback is deliberate, not silent).
    ``store_vectors`` defaults to True: dropping the
    stored vectors would make the index unretrainable and disable
    exact refinement, so it must be chosen deliberately.

    Cost shape: one cell-pruned-free full read of the live segments'
    ``(id, vec)`` columns (column-pruned — codes are never read), the
    :func:`ann_index_build` seed collects, ONE fused encode+assign
    pass, one cell-shuffled segment write. The source corpus is never
    touched."""
    vs, cur, man = _ann_manifest(spark, path)
    p = man["params"]
    if not p.get("store_vectors"):
        raise ValueError(
            f"ann index at {path} was built without store_vectors="
            "True, so there are no stored vectors to retrain from — "
            "rebuild from the source corpus with ann_index_build"
        )
    id_col, vec_col = p["id_col"], p["vec_col"]
    missing = [
        s for s in man["segments"] if not vs.fs.list_files(f"{path}/{s}")
    ]
    if missing:
        # a committed manifest's segments must exist: retrain REWRITES
        # the index from what it can read, so silently skipping a
        # segment whose listing came back empty (transient FS fault,
        # external deletion) would commit the loss as the new truth —
        # unlike query paths, where a skipped segment is only a
        # transient incomplete result. Fail before touching anything.
        raise ValueError(
            f"ann index at {path}: manifest v{cur} references "
            f"segment(s) with no data files: {missing}. Refusing to "
            "retrain — a rebuilt generation would permanently drop "
            "whatever those segments held. If the files are truly "
            "gone, rebuild from the source corpus; if a segment was "
            "legitimately committed empty, compact first to fold it "
            "out of the manifest."
        )
    rows = _BI.visible_rows(spark, path, man, id_col)
    corpus = None if rows is None else rows.select(
        F.col(id_col), F.col("vec").alias(vec_col),
        *p.get("store_cols", []),
    )
    if corpus is None or not corpus.take(1):
        raise ValueError(
            f"ann index at {path} has no visible vectors to retrain "
            "from (everything deleted?) — rebuild with ann_index_build"
        )
    ann_index_build(
        corpus,
        path,
        n_cells=p["n_cells"] if n_cells is None else n_cells,
        m=p["m"] if m is None else m,
        # the CONFIGURED n_codes (None = identity codebook) round-trips;
        # pre-field manifests fall back to the realized width
        n_codes=(
            p.get("n_codes_configured", p["n_codes"])
            if n_codes is _INHERIT
            else n_codes
        ),
        id_col=id_col,
        vec_col=vec_col,
        round_to=p["round_to"],
        opq=p["opq"] if opq is None else opq,
        opq_sample=opq_sample,
        keep_versions=(
            p["keep_versions"] if keep_versions is None else keep_versions
        ),
        store_vectors=store_vectors,
        cell_task_splits=(
            p.get("cell_task_splits", 1)
            if cell_task_splits is None
            else cell_task_splits
        ),
        store_cols=p.get("store_cols", []),
    )


# ------------------------------------------------------------ lifecycle
# The shared segment-index ops (``operators/_band_index.py``) bound to
# INDEX_FAMILY; the wrappers keep ANN's own parameter names.
ann_index_delete = _BI.alias(INDEX_FAMILY, "delete")
ann_index_stats = _BI.alias(INDEX_FAMILY, "stats")


def ann_index_add(new_vecs: DataFrame, path: str) -> None:
    """Encode a new batch under the index's FROZEN model (centroids,
    codebooks and rotation are read back, never re-derived — the
    standard IVF-PQ ingest, so old and new codes live on one
    quantization grid and score identically) and commit it as one new
    immutable segment, ``n_vecs`` raised by the batch size. Ids must be
    new to the index (the id-unique contract every index here shares);
    a concurrent committer fails loudly on the exclusive marker."""
    _BI.add(INDEX_FAMILY, new_vecs, path)


def ann_index_upsert(
    new_vecs: DataFrame, path: str, _visible_ids=None
) -> dict:
    """Insert-or-replace a batch of vectors: ids already visible are
    tombstoned (one :func:`ann_index_delete` commit), then the whole
    batch encodes under the frozen model and appends
    (:func:`ann_index_add`) — O(batch + tombstone scan), never an
    index rewrite. One vector per id. ``_visible_ids`` is the
    apply_cdc fast path: a pre-materialized superset of the batch's
    visible ids, so the CDC path never scans the index twice per
    batch. Returns ``{"updated": u, "inserted": i, "version": v}``."""
    return _BI.upsert(INDEX_FAMILY, new_vecs, path, _visible_ids=_visible_ids)


def ann_index_apply_cdc(
    spark,
    path: str,
    changes: DataFrame,
    op_col: str = "op",
    seq_col: Optional[str] = None,
) -> dict:
    """Apply a CDC batch (``op_col`` in 'I'/'U'/'D'/'M', optional
    ``seq_col`` ordering multiple ops per id) to the vector index —
    the exact contract of :func:`~parq_tools_spark.operators.search.
    bm25_index_apply_cdc` so one change log can feed every index
    family identically: the LAST op per id wins, ordered by
    ``(seq desc, op desc)``; a final 'D' for an id not visible in the
    index is a NO-OP, never an error; final 'I'/'U' rows (id, the
    index's ``vec_col`` and its ``store_cols``) upsert under the
    frozen model. O(batch + one visible-id scan), no compaction
    required.

    'M' (metadata-only) ops fold into
    :func:`ann_index_update_metadata` AFTER the deletes and upserts: a
    re-grade rides the same change stream without a re-encode — no
    ``vec_col`` needed on the 'M' rows, which is also what makes
    re-grades possible on ``store_vectors=False`` indexes. An 'M' row
    carries the id plus ALL ``store_cols``; an 'M' whose id is not
    visible once the batch applied is a no-op counted in
    ``meta_noops``.

    Returns ``{"deleted": d, "delete_noops": n, "updated": u,
    "inserted": i, "meta_updated": mu, "meta_noops": mn,
    "version": v}``."""
    return _BI.apply_cdc(
        INDEX_FAMILY, spark, path, changes, op_col=op_col, seq_col=seq_col
    )


def ann_index_update_metadata(
    spark,
    path: str,
    updates: DataFrame,
    max_segments: int = 0,
    max_tombstone_frac: float = 0.0,
) -> dict:
    """Metadata-ONLY update for ``store_cols`` indexes: flip stored
    metadata values WITHOUT re-encoding anything — the affected rows'
    existing codes (and stored vectors) are read back, their metadata
    columns replaced, and the rewritten rows committed as one new
    segment together with a version-scoped tombstone hiding the old
    rows. A full :func:`ann_index_upsert` would re-run the encode per
    row and needs the raw vectors, which a ``store_vectors=False``
    index no longer has. The model, cell assignments, ``n_vecs`` and
    the probe lists are untouched (the vector didn't change), so
    serving plans — including pushed ``where=`` filters — keep their
    shape.

    ``updates`` carries the id column plus ANY SUBSET of the index's
    ``store_cols``; exactly one row per id, every id visible. Cost at
    100 TB: one id-join over the code rows plus a write of O(affected)
    rows; codes and vectors move bytes, never through Python.
    ``max_segments`` / ``max_tombstone_frac`` arm
    :func:`ann_index_maybe_compact` AFTER the commit, so a
    metadata-churn-only loop cannot fragment the manifest unboundedly;
    both default OFF (0). Returns ``{"updated": n, "version": v}``."""
    out = _BI.update_metadata(INDEX_FAMILY, spark, path, updates)
    if out["updated"] and (max_segments or max_tombstone_frac):
        ann_index_maybe_compact(
            spark,
            path,
            max_segments=max_segments,
            max_tombstone_frac=max_tombstone_frac,
        )
    return out


def ann_index_add_metadata_col(
    spark, path: str, values: DataFrame, default=_NO_DEFAULT
) -> dict:
    """Backfill NEW metadata column(s) over the index — a quality
    score computed AFTER the build becomes a served, filterable
    column without re-encoding a single vector: every visible code
    row is rewritten with the column(s) (``values`` looked up by the
    index id; ids absent from it take ``default`` — omit it and an
    uncovered id raises before anything is written) and committed as
    ONE compaction-shaped segment whose manifest extends
    ``params.store_cols`` atomically. ``values`` may carry k new
    columns, landed in ONE O(index) rewrite. Works on a
    store_cols-LESS index and on ``store_vectors=False`` indexes (the
    codes are carried as stored bytes). Pending tombstones fold in;
    the model, ``n_vecs`` and cell assignments are untouched; the
    rewrite uses the index's ``cell_task_splits``. Returns
    ``{"added": [cols], "version": v}``."""
    return _BI.add_metadata_col(
        INDEX_FAMILY, spark, path, values, default, task_splits=None
    )


def ann_index_drop_metadata_col(spark, path: str, cols) -> dict:
    """Drop stored metadata column(s) from the index — the inverse of
    :func:`ann_index_add_metadata_col`: every visible code row is
    rewritten WITHOUT the column(s) (nothing re-encoded) in ONE
    compaction-shaped commit that shrinks ``params.store_cols``
    atomically. ``cols`` is one name or a list; dropping the last
    stored column reverts the index to store_cols-less. Returns
    ``{"dropped": [cols], "version": v}``."""
    return _BI.drop_metadata_col(
        INDEX_FAMILY, spark, path, cols, task_splits=None
    )


def ann_index_compact(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    min_files_per_cell: int = 8,
    force: bool = False,
) -> dict:
    """Rewrite the manifest's segments into one (per-cell read +
    coalesce, no shuffle — the cell is the directory) when any cell's
    file count exceeds both ``min_files_per_cell`` and its
    byte-target, when tombstones are pending (they fold into the code
    rows), or when ``force``; then commit. Crash-safe with no repair
    path: readers only ever see committed manifests. Returns ``{cell:
    (files_before, files_after)}`` for cells whose count dropped."""
    return _BI.compact(
        INDEX_FAMILY, spark, path, target_file_bytes,
        min_files_per_cell, force,
    )


def ann_index_maybe_compact(
    spark,
    path: str,
    max_segments: int = 16,
    max_tombstone_frac: float = 0.2,
) -> bool:
    """Stats-driven :func:`ann_index_compact`: fold segments and
    tombstones only when the live manifest references more than
    ``max_segments`` segments or pending tombstoned ids exceed
    ``max_tombstone_frac`` of ``n_vecs`` — otherwise O(manifest) and do
    nothing. The streaming sinks consult this each batch when armed.
    Returns True iff a compaction ran."""
    return _BI.compact_when(
        INDEX_FAMILY, spark, path,
        max_segments=max_segments,
        max_tombstone_frac=max_tombstone_frac,
    )


def _probe_lists(q_mat, centroids, nprobe: int, round_to: int):
    """Per-query probed cells by ROUNDED cosine, replicating
    ``_with_centroid_cells``'s contract exactly (float64, portable
    floor rounding, stable argsort on negated sims → ties to the
    lower cell) — but driver-side: the queries were already collected
    for the ADC tables, and knowing the probed-cell union BEFORE the
    plan is built is what turns the cell filter into PLANNING-TIME
    partition pruning instead of a runtime join."""
    cmat = np.asarray(centroids, dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    vnorm = np.sqrt((q_mat * q_mat).sum(axis=1))
    scale = float(10**round_to)
    sims = (q_mat @ cmat.T) / (vnorm[:, None] * cnorm[None, :])
    sims = np.floor(sims * scale + 0.5) / scale
    order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    return [r.tolist() for r in order.astype(int)]


def ann_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    query_id_col: str = "vec_id",
    query_vec_col: Optional[str] = None,
    version: Optional[int] = None,
    exclude_self: bool = True,
    max_queries: int = 10_000,
    refine: Optional[int] = None,
    allowed_ids=None,
    where: Optional[str] = None,
) -> DataFrame:
    """ANN top-``k`` served FROM the index — no corpus access, no
    re-encoding: the model (centroids + codebooks + rotation) is read
    back, each query's probe list is computed against the
    broadcast-small centroid table, and the plan reads ONLY the
    probed ``cell=`` directories of the committed segments (static
    partition pruning — at 100 TB each query touches ~nprobe/n_cells
    of the index, which itself is ``m`` small ints per vector, not
    ``dim`` floats). ADC scoring is the shared
    :func:`~parq_tools_spark.operators.similarity.adc_score` pass;
    only (query, id, score) triples reach the per-query top-k window.

    Results are BIT-IDENTICAL to the per-call
    :func:`~parq_tools_spark.operators.similarity.ivf_pq_topk` with
    the same params over the same corpus (same rounded-cosine probes,
    same ADC arithmetic and rounding, same ``(score desc, id asc)``
    order). Returns ``(query_id, <id_col>, pq_score, rank,
    index_version)``.

    ``version=`` time-travels: serving reads that RETAINED manifest's
    model, segments and tombstone scope exactly as committed
    (retention is :func:`ann_index_build`'s ``keep_versions``).

    ``exclude_self=True`` (the default) drops candidates whose index
    id EQUALS the query id — the brute-force-parity convention for
    "query the corpus with its own vectors". It requires the query-id
    type to be join-compatible with the index's id column; callers
    whose query ids live in a DIFFERENT id space (e.g. the hybrid
    fusion layer) pass ``exclude_self=False`` and the predicate is
    skipped entirely — no sentinel ids, no cross-type comparison.

    Driver contract: this is a SERVING call — the queries DataFrame is
    collected to the driver (one ``(m, n_codes)`` float64 ADC table
    per query), bounded by ``max_queries`` (default 10,000 ≈ a few
    hundred MB of tables at typical settings). A larger offline job
    should batch through repeated calls or use the scan-path
    :func:`~parq_tools_spark.operators.similarity.ivf_pq_topk`.

    ``refine=R`` (needs an index built with ``store_vectors=True``)
    re-scores each query's top-``R`` ADC candidates against their
    EXACT stored vectors — rounded cosine, the standard IVF-PQ
    refinement step that recovers the accuracy the product
    quantizer's ADC approximation gives up. The candidates are
    already cell-pruned and O(R) per query, so the re-rank join
    broadcasts ``R x n_queries`` id pairs into the probed cells'
    vector rows — never a corpus or full-index scan. The output's
    score column is then ``cosine_sim`` (exact, rounded to the
    index's grid) instead of ``pq_score``; with ``R >= `` the probed
    candidate count the result EQUALS exact cosine top-k over the
    probed cells even under a lossy codebook.

    ``allowed_ids`` (a Python sequence of ids, or a DataFrame of
    ids — see :func:`~parq_tools_spark.operators._index_common.
    apply_allowed_ids`) restricts CANDIDATES before ranking, so the
    returned ``k`` is correct under the filter — the filtered-search
    call every real pipeline makes ("top-k among the English docs").
    A sequence becomes a literal predicate pushed into the segments'
    parquet scans; a DataFrame becomes a ``left_semi`` join whose
    strategy Catalyst/AQE picks. The filter never changes the model
    or the probe list (index statistics are index-wide), composes
    with ``exclude_self`` and ``refine`` (the exact re-rank draws
    from the already-filtered candidates), and an empty allowed set
    returns the typed empty result.

    ``where`` filters candidates by a DSL predicate over the index's
    STORED metadata columns (``ann_index_build(store_cols=...)``) —
    e.g. ``where="lang == 'en'"`` — compiled by the engine's own
    filter parser (:func:`~parq_tools_spark.plans.query_parser.
    build_filter_expression`) and pushed by Catalyst into the
    cell-pruned segment scans: no metadata table is joined, no id set
    is materialized. Composes with ``allowed_ids`` (both apply)."""
    vs, cur, m = _ann_manifest(spark, path, version)
    p = m["params"]
    id_col = p["id_col"]
    query_vec_col = query_vec_col or p["vec_col"]
    where_col = _BI.compile_where(INDEX_FAMILY, path, p, where)
    centroids, codebooks, rot = _read_model(vs.fs, path, m)
    m_, n_codes_, sub = codebooks.shape

    if refine is not None:
        if refine < k:
            raise ValueError(f"refine={refine} must be >= k={k}")
        if not p.get("store_vectors"):
            raise ValueError(
                f"ann index at {path} was built without "
                "store_vectors=True; exact re-ranking needs the "
                "stored vectors — rebuild with "
                "ann_index_build(..., store_vectors=True)"
            )
    if exclude_self:
        # exclude_self compares the query-id column against the index
        # id column: an incompatible pair fails loudly up front instead
        # of null-dropping every candidate (non-ANSI) or throwing
        # mid-job (ANSI)
        check_self_exclusion_types(
            queries.schema[query_id_col].dataType,
            _id_field(m).dataType,
            "ann_index_topk: exclude_self=True",
        )
    q_rows = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qvec"),
    ).limit(max_queries + 1).collect()
    if not q_rows:
        raise ValueError("no queries")
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ann_index_topk collects the queries to the driver (one "
            f"(m, n_codes) ADC table per query) and caps at "
            f"max_queries={max_queries}; got more. Batch through "
            "repeated calls, raise max_queries deliberately, or use "
            "the scan-path ivf_pq_topk for offline fan-out."
        )
    q_ids = [r["query_id"] for r in q_rows]
    if len(set(q_ids)) != len(q_ids):
        raise ValueError(
            f"duplicate {query_id_col} in queries — ids must be unique"
        )
    q_raw = np.asarray(
        [[float(x) for x in r["_qvec"]] for r in q_rows], dtype=np.float64
    )
    # probes rank by cosine of the RAW query (scale-invariant), ADC
    # tables use the normalized-and-rotated query — the exact split
    # ivf_pq_topk uses
    probes = _probe_lists(q_raw, centroids, nprobe, p["round_to"])
    q_mat = q_raw / np.sqrt((q_raw * q_raw).sum(axis=1, keepdims=True))
    if rot is not None:
        q_mat = q_mat @ rot.T
    tables = np.einsum(
        "qjs,jcs->qjc", q_mat.reshape(len(q_ids), m_, sub), codebooks
    )

    probed_cells = sorted({c for cells in probes for c in cells})
    coded = _BI.visible_rows(spark, path, m, id_col)
    id_field = _id_field(m)
    if coded is None:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(
                        "query_id", queries.schema[query_id_col].dataType
                    ),
                    id_field,
                    T.StructField(
                        "pq_score" if refine is None else "cosine_sim",
                        T.DoubleType(),
                    ),
                    T.StructField("rank", T.IntegerType()),
                    T.StructField("index_version", T.IntegerType()),
                ]
            ),
        )
    # the isin filter is a LITERAL predicate on the partition column,
    # pushed through the union and the per-segment tombstone
    # anti-joins, so every segment scan prunes to the probed
    # directories at planning time (PartitionFilters, locked by test)
    coded = coded.filter(F.col("cell").isin(probed_cells))
    if allowed_ids is not None:
        # BEFORE the probe join and ranking: a literal id list pushes
        # through the union into each segment's parquet scan
        # (PushedFilters); a DataFrame semi-joins. The refine path
        # below reads its exact vectors from this same filtered scan.
        coded = apply_allowed_ids(
            coded, id_col, allowed_ids, id_field.dataType,
            "ann_index_topk",
        )
    if where_col is not None:
        # predicate on stored columns only (validated above) — a
        # plain Column filter, so it reaches the parquet scans as
        # PushedFilters (planning-time work, zero joins)
        coded = coded.filter(where_col)

    probe_df = spark.createDataFrame(
        [(qid, c) for qid, cells in zip(q_ids, probes) for c in cells],
        schema=_probe_schema(queries, query_id_col),
    )
    join_cond = coded.cell == probe_df.cell
    if exclude_self:
        join_cond = join_cond & (F.col(id_col) != F.col("query_id"))
    cand = coded.join(F.broadcast(probe_df), join_cond).select(
        "query_id", id_col, "codes"
    )

    scored = adc_score(
        cand,
        q_ids,
        tables,
        id_col,
        id_field.dataType,
        p["round_to"],
        qid_type=queries.schema[query_id_col].dataType,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col(id_col).asc()
    )
    if refine is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .withColumn("index_version", F.lit(cur))
        )
    # exact re-rank: top-R ADC candidate ids (O(R) per query)
    # broadcast into the probed cells' stored-vector rows, rounded
    # exact cosine against the RAW query vector (cosine is
    # scale-invariant, matching brute_force_topk), re-ranked
    from pyspark.sql import types as T

    adc_top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= refine)
        .select("query_id", id_col)
    )
    qv_df = spark.createDataFrame(
        [(qid, vec.tolist()) for qid, vec in zip(q_ids, q_raw)],
        T.StructType(
            [
                T.StructField(
                    "query_id", queries.schema[query_id_col].dataType
                ),
                T.StructField("_qvec", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    scale = float(10 ** p["round_to"])
    exact = (
        coded.select(id_col, "vec")
        .join(F.broadcast(adc_top), on=id_col)
        .join(F.broadcast(qv_df), on="query_id")
        .select(
            "query_id",
            id_col,
            (
                F.floor(
                    cosine_similarity_col(F.col("vec"), F.col("_qvec"))
                    * F.lit(scale)
                    + F.lit(0.5)
                )
                / F.lit(scale)
            ).alias("cosine_sim"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .withColumn("index_version", F.lit(cur))
    )


def _probe_schema(queries: DataFrame, query_id_col: str):
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id_col].dataType),
            T.StructField("cell", T.IntegerType()),
        ]
    )


def _assign_frozen_cells(
    spark, path: str, vecs: DataFrame, m: dict
):
    """The batch's rows with their cell under THIS index's frozen
    model — the exact :func:`~parq_tools_spark.operators.similarity.
    _with_centroid_cells` arithmetic the segments were encoded with
    (same rounded cosine, same lower-cell ties), so a batch row and
    its indexed copy can never land in different cells."""
    p = m["params"]
    centroids, _, _ = _read_model(_ann_vs(spark, path).fs, path, m)
    return _with_centroid_cells(
        vecs.select(p["id_col"], p["vec_col"]),
        centroids,
        p["vec_col"],
        p["round_to"],
        None,
        "cell",
    )


def _check_batch_size(
    batch: DataFrame, max_batch_rows: int, fn: str
) -> None:
    """Both semantic-admission joins ride a broadcast of the batch
    (the self-join and the vs-index join) — cheap for micro-batches,
    a driver/executor OOM for a corpus-sized frame. Probe the first
    ``max_batch_rows + 1`` rows and fail loudly past the cap — the
    :func:`ann_index_topk` ``max_queries`` discipline. Callers run
    this on the RAW batch BEFORE the cell-assignment pass and its
    eager localCheckpoint: ``limit`` stops the source scan early, so
    an oversized (corpus-scale) ingest is rejected without paying a
    full materialization first."""
    if batch.limit(max_batch_rows + 1).count() > max_batch_rows:
        raise ValueError(
            f"{fn} broadcasts the batch into the cell-pruned index "
            f"read and caps it at max_batch_rows={max_batch_rows} "
            "(broadcast size is rows * (dim doubles + id)); got "
            "more. Split the ingest into smaller batches (streaming: "
            "size the trigger), raise max_batch_rows deliberately if "
            "the vectors are small, or run the offline corpus-scale "
            "path similarity.semantic_dedupe instead."
        )


def _semantic_in_batch_drops(
    assigned: DataFrame, id_col: str, vec_col: str, thr: float,
    scale: float,
) -> DataFrame:
    """SemDeDup's within-batch rule under a frozen cell model: drop a
    row iff a LOWER-id same-cell sibling has rounded cosine >=
    threshold — the sibling counts whether or not it is itself
    dropped (exactly :func:`~parq_tools_spark.operators.similarity.
    semantic_dedupe`'s lower-id rule, so rows ingested in ONE batch
    get the batch operator's drop set for that batch).
    Both sides are the micro-batch: a broadcast self-join on the cell
    key, never a shuffle of anything corpus-sized."""
    a = assigned.alias("a")
    b = assigned.alias("b")
    rounded = (
        F.floor(
            cosine_similarity_col(
                F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")
            )
            * F.lit(scale)
            + F.lit(0.5)
        )
        / F.lit(scale)
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(rounded >= F.lit(thr))
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )


def semantic_dedupe_bootstrap(
    batch: DataFrame,
    index_path: str,
    threshold: float = 0.95,
    n_cells: int = 8,
    m: int = 8,
    n_codes: Optional[int] = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = DEFAULT_ROUND_TO,
    opq: bool = False,
    keep_versions: int = 1,
    max_batch_rows: int = 100_000,
    store_cols=(),
) -> DataFrame:
    """Seed a semantic-admission index from its FIRST batch: freeze
    the IVF-PQ model on the full batch (an IVF-PQ model cannot train
    on zero rows — centroids/codebooks are hash-seeded FROM corpus
    vectors), apply SemDeDup's within-batch lower-id rule under that
    model, and commit ONLY the survivors into segment v1
    (:func:`ann_index_build`'s ``train_corpus`` split) — ONE atomic
    manifest commit, so a crash anywhere before it leaves no
    committed index and a replay re-runs this path from scratch,
    while a crash after it replays through
    :func:`semantic_dedupe_incremental` against a survivors-only
    index, which reproduces the same survivor set. (The earlier
    build-then-tombstone shape had a crash window between its two
    commits in which both members of every duplicate pair were live —
    the incremental replay then silently dropped a survivor via its
    own sibling's index copy.)

    Returns the survivor rows of ``batch`` (all original columns,
    eagerly checkpointed). This is the exact bootstrap
    :func:`~parq_tools_spark.streaming.near_dedup.
    start_semantic_dedupe_stream` runs on its first non-empty
    micro-batch, factored out so batch replays (and the driver's
    oracle) execute the byte-identical path.

    The batch must carry UNIQUE ids (one vector per id — the
    :func:`ann_index_upsert` contract; the within-batch strict
    lower-id rule never compares equal-id rows, so an exact
    duplicate pair sharing an id would otherwise BOTH survive and
    corrupt the index's id-unique invariant) and at most
    ``max_batch_rows`` rows (it rides a broadcast self-join; the
    :func:`semantic_dedupe_incremental` cap rationale). Fails loudly
    if an index already exists at ``index_path`` — bootstrapping
    over a live index would silently drop its admitted corpus from
    every future admission decision (rebuild deliberately with
    :func:`ann_index_build` instead)."""
    spark = batch.sparkSession
    if _BI.committed(INDEX_FAMILY, spark, index_path):
        raise ValueError(
            f"semantic_dedupe_bootstrap: an ann index already exists "
            f"at {index_path}; bootstrap seeds a NEW admission corpus "
            "and would silently drop the existing one from future "
            "decisions. Use semantic_dedupe_incremental to admit "
            "against it, or ann_index_build to rebuild deliberately."
        )
    # cap check FIRST, on the raw batch: limit() stops the source
    # scan early, so an oversized ingest fails before paying the
    # cell-assignment pass + eager checkpoint below
    _check_batch_size(batch, max_batch_rows, "semantic_dedupe_bootstrap")
    if store_cols:
        # metadata stored from batch 1, so a where=-scoped admission
        # stream can cold-start on this bootstrap with no pre-build
        check_store_cols(
            batch, list(store_cols), "semantic_dedupe_bootstrap"
        )
    seed = batch.select(id_col, vec_col)
    # one aggregate job for both counts (foreachBatch frames re-read
    # the source per action, so separate count()s would double-scan)
    n_rows, n_ids = seed.agg(
        F.count(F.lit(1)), F.count_distinct(F.col(id_col))
    ).first()
    if n_ids < n_rows:
        raise ValueError(
            f"semantic_dedupe_bootstrap: batch carries "
            f"{n_rows - n_ids} duplicate {id_col} row(s) — one vector "
            "per id (the within-batch rule never compares equal-id "
            "rows, so both copies would be committed and corrupt the "
            "index's id-unique contract)"
        )
    centroids = _hashseed_rows(seed, n_cells, id_col, vec_col)
    assigned = _mat(_with_centroid_cells(
        seed, centroids, vec_col, round_to, None, "cell"
    ))
    dropped = _mat(_semantic_in_batch_drops(
        assigned, id_col, vec_col, float(threshold), float(10**round_to)
    ))
    # dropped is bounded by the (capped) batch — broadcast the
    # anti-join, the semantic_dedupe_incremental survivor discipline
    survivors = _mat(batch.join(
        F.broadcast(dropped), on=id_col, how="left_anti"
    ))
    ann_index_build(
        survivors.select(id_col, vec_col, *store_cols),
        index_path,
        n_cells=n_cells,
        m=m,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
        round_to=round_to,
        opq=opq,
        keep_versions=keep_versions,
        store_vectors=True,
        store_cols=list(store_cols),
        train_corpus=seed,
    )
    return survivors


def semantic_dedupe_incremental(
    spark,
    index_path: str,
    new_vecs: DataFrame,
    threshold: float = 0.95,
    update_index: bool = False,
    max_batch_rows: int = 100_000,
    allowed_ids=None,
    where: Optional[str] = None,
) -> DataFrame:
    """Incremental SemDeDup admission served FROM the persisted ANN
    index (the embedding twin of :func:`~parq_tools_spark.operators.
    dedup.incremental_dedupe`): drop new vectors that have (a) an
    ADMITTED same-cell neighbor in the index or (b) a lower-id
    same-cell sibling within the batch, both at rounded exact cosine
    >= ``threshold`` under the index's FROZEN cell model; return the
    survivors, optionally appending them to the index.

    The cell-locality is SemDeDup's own tractability rule
    (:func:`~parq_tools_spark.operators.similarity.semantic_dedupe`):
    comparisons never cross cell boundaries, so per batch the work is
    exactly ``sum_cell |cell ∩ index| * |cell ∩ batch|``. Scale
    shape: the batch assigns cells map-side (centroids broadcast),
    the index side reads ONLY the stored-vector rows of the batch's
    touched ``cell=`` directories (planning-time partition pruning,
    the :func:`ann_index_topk` shape), the batch broadcasts into that
    pruned scan, and the corpus is never re-read or re-encoded.
    ``max_batch_rows`` caps that broadcast (rows * (dim doubles +
    id) must fit comfortably in executor memory) — oversized ingests
    fail loudly with guidance instead of OOMing mid-join.

    Equivalence scope: rows ingested in ONE batch get exactly
    :func:`~parq_tools_spark.operators.similarity.semantic_dedupe`'s
    drop set for that batch (under the index's frozen model).
    ACROSS batches, admission compares only against ADMITTED
    survivors — the batch operator's lower-id rule also counts
    dropped neighbors, so a duplicate chain split across batches can
    admit a row the one-shot operator would drop (1~2, 2~3, 1!~3
    ingested as [1,2] then [3]: the stream admits 3 because its only
    neighbor 2 was never admitted). This is a deliberate divergence:
    admitting a row whose every near-duplicate was itself rejected
    keeps exactly one representative per duplicate chain in the
    admitted corpus.

    Decisions use the EXACT stored vectors (the index must be built
    with ``store_vectors=True``), not the lossy ADC approximation —
    admission is a correctness decision, so it gets the rounded exact
    cosine (:func:`~parq_tools_spark.operators.similarity.
    cosine_similarity_col` with the index's rounding grid).

    ``allowed_ids`` SCOPES admission (the same pre-rank filter as
    :func:`ann_index_topk` — see :func:`~parq_tools_spark.operators.
    _index_common.apply_allowed_ids`): only index entries in the
    allowed set can block a new vector, so a per-language or
    per-license corpus dedups against its own scope while sharing one
    physical index — admission with ``allowed_ids=S`` over index
    ``I`` equals admission over an index holding only ``I ∩ S``
    (under the same frozen model; pinned by test). The IN-BATCH
    lower-id rule is deliberately NOT scoped — batch rows are not
    index entries, and a batch is one admission scope by definition.
    ``update_index=True`` still appends every survivor: the filter
    scopes who may BLOCK, not who may enter. ``where`` scopes the
    same way by a DSL predicate over the index's STORED metadata
    columns (``ann_index_build(store_cols=...)``) — pushed into the
    already cell-pruned stored-vector scans, no id set materialized;
    composes with ``allowed_ids`` (both apply).

    Replay contract (what the streaming sink leans on): the index
    query drops equal-id collisions, and admitted survivors are
    pairwise non-duplicate at the threshold, so recomputing a batch
    whose survivors were already appended (a crash between the append
    and the marker) reproduces the identical survivor set; with
    ``update_index=True`` the append is an
    :func:`ann_index_upsert` (tombstone-then-add), so the replayed
    append converges instead of double-inserting.
    """
    _, _, m = _ann_manifest(spark, index_path)
    p = m["params"]
    if not p.get("store_vectors"):
        raise ValueError(
            f"ann index at {index_path} was built without "
            "store_vectors=True; semantic admission decides on exact "
            "stored vectors — rebuild with "
            "ann_index_build(..., store_vectors=True)"
        )
    id_col, vec_col = p["id_col"], p["vec_col"]
    check_self_exclusion_types(
        new_vecs.schema[id_col].dataType,
        _id_field(m).dataType,
        "semantic_dedupe_incremental",
        remedy=(
            "Ingested batches must carry ids of the indexed id "
            "column's type — re-id the batch (or rebuild the index "
            "on the batch's id type)."
        ),
    )
    where_col = _BI.compile_where(INDEX_FAMILY, index_path, p, where)
    thr = float(threshold)
    scale = float(10 ** p["round_to"])

    # cap check FIRST, on the raw batch: limit() stops the source
    # scan early, so an oversized ingest fails before paying the
    # cell-assignment pass + eager checkpoint below
    _check_batch_size(
        new_vecs, max_batch_rows, "semantic_dedupe_incremental"
    )
    assigned = _mat(_assign_frozen_cells(
        spark, index_path, new_vecs, m
    ))
    touched = [
        r.cell for r in assigned.select("cell").distinct().collect()
    ]

    dup_ids = _semantic_in_batch_drops(
        assigned, id_col, vec_col, thr, scale
    )
    rows = (
        _BI.visible_rows(spark, index_path, m, id_col) if touched else None
    )
    if rows is not None:
        # literal cell predicate => planning-time partition pruning:
        # only the batch's touched cell= directories are read
        scan = rows.filter(F.col("cell").isin(touched))
        if where_col is not None:
            # metadata scope BEFORE the alias-select drops the stored
            # columns — pushed into the cell-pruned scans
            scan = scan.filter(where_col)
        idx = scan.select(
            F.col(id_col).alias("_idx_id"),
            F.col("cell").alias("_idx_cell"),
            F.col("vec").alias("_idx_vec"),
        )
        if allowed_ids is not None:
            # scope WHO MAY BLOCK, before the dup join: a literal
            # list pushes into the (already cell-pruned) segment
            # scans, a DataFrame semi-joins
            if isinstance(allowed_ids, DataFrame) and id_col in (
                allowed_ids.columns
            ):
                allowed_ids = allowed_ids.select(
                    F.col(id_col).alias("_idx_id")
                )
            idx = apply_allowed_ids(
                idx, "_idx_id", allowed_ids, _id_field(m).dataType,
                "semantic_dedupe_incremental",
            )
        rounded = (
            F.floor(
                cosine_similarity_col(F.col("_idx_vec"), F.col(vec_col))
                * F.lit(scale)
                + F.lit(0.5)
            )
            / F.lit(scale)
        )
        dup_vs_index = (
            idx.join(
                F.broadcast(assigned),
                (F.col("_idx_cell") == F.col("cell"))
                & (F.col("_idx_id") != F.col(id_col)),
            )
            .filter(rounded >= F.lit(thr))
            .select(id_col)
            .distinct()
        )
        dup_ids = dup_ids.unionByName(dup_vs_index).distinct()

    # dup_ids is bounded by the (capped) batch, so the survivor
    # anti-join broadcasts it — no Exchange/Sort on either side
    survivors = new_vecs.join(
        F.broadcast(dup_ids), on=id_col, how="left_anti"
    )
    if update_index:
        check_store_cols(
            survivors, p.get("store_cols", []),
            "semantic_dedupe_incremental(update_index=True)",
        )
        survivors = _mat(survivors)
        if survivors.take(1):
            ann_index_upsert(
                survivors.select(
                    id_col, vec_col, *p.get("store_cols", [])
                ),
                index_path,
            )
    return survivors
