"""Persisted IVF-PQ vector-ANN index under the versioned-manifest
commit protocol (beyond-reference; the reference has no vector
search — this gives the embedding surface the same serving-shaped
index the BM25 and MinHash families already have, so repeated ANN
queries over a 100 TB corpus stop paying a full re-encode per call,
which is what the per-call :func:`~parq_tools_spark.operators.
similarity.ivf_pq_topk` costs).

On-disk layout (``sources/statefs.py`` — the exact protocol of the
BM25 index, ``operators/search.py:362``):

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

Lifecycle (same semantics as the BM25 index): ``build`` commits a
fresh generation NON-destructively alongside any live one (readers
of the previous manifest get a one-cycle grace); ``add`` encodes a
new batch under the FROZEN model (the standard IVF-PQ ingest — the
quantization grid never moves between rebuilds, so old and new codes
score identically) and commits one new immutable segment; ``compact``
rewrites the segment list per cell with no shuffle; a crash anywhere
is an invisible orphan no manifest references — readers never raise,
nothing renames live data, object-store-clean.

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

from typing import Optional

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parq_tools_spark.operators._index_common import INDEX_MARKERS
from parq_tools_spark.operators.similarity import DEFAULT_ROUND_TO

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

def _ann_vs(spark, path: str):
    from parq_tools_spark.sources.statefs import VersionedState

    return VersionedState(spark, path, INDEX_MARKERS["ann"])


def _ann_manifest(spark, path: str, version=None):
    vs = _ann_vs(spark, path)
    cur, m = _resolve_manifest(
        vs,
        path,
        version,
        what="ann index",
        build_hint="; build one with ann_index_build",
    )
    return vs, cur, m


from parq_tools_spark.operators._index_common import (  # noqa: E402
    id_field as _id_field,
    id_field_json as _id_field_json,
    materialize as _mat,
    resolve_manifest as _resolve_manifest,
    retention as _retention,
    tag as _tag,
)


def _ann_sweep_orphans(vs, path: str) -> None:
    """Drop seg-/del-/model- entries no surviving manifest references
    (crashed operations, superseded generations past reader grace)."""
    import json

    referenced = set()
    for n, committed in vs.versions():
        if committed:
            m = json.loads(vs.read_marker(n))
            referenced.update(m["segments"])
            referenced.add(m["model"])
            referenced.update(e["dir"] for e in _delete_entries(m))
    for entry, is_dir, _ in vs.fs.list_status(path):
        if (
            entry.startswith(("seg-", "del-"))
            and is_dir
            and entry not in referenced
        ):
            vs.fs.delete(f"{path}/{entry}")
        if entry.startswith("model-") and not is_dir and entry not in referenced:
            vs.fs.delete(f"{path}/{entry}")


from parq_tools_spark.operators._index_common import (  # noqa: E402
    NO_DEFAULT as _NO_DEFAULT,
    delete_batches as _ann_delete_batches_impl,
    delete_entries as _delete_entries,
    read_committed as _read_committed,
    visible_scan as _ann_visible_scan,
)


def _ann_delete_batches(spark, path: str, m: dict, id_col: str) -> list:
    """Pending tombstones, version-scoped — ONE shared definition
    with the BM25 index (:func:`~parq_tools_spark.operators.
    _index_common.delete_batches`): a tombstone hides an id's code
    rows only in segments committed at or before its ``upto``
    version, so a later re-add/upsert is immediately visible with no
    compaction in between."""
    return _ann_delete_batches_impl(spark, path, m)


def _ann_visible_ids(spark, path: str, m: dict, id_col: str):
    """Visible vec ids (the ANN twin of the band families'
    ``_band_index.visible_ids``): union of tombstone-folded per-segment id
    scans, or None on an index with no live segment files. NOT
    de-duplicated — callers that join against a small batch first
    keep the distinct on the post-join (batch-sized) side."""
    from functools import reduce

    fs = _ann_vs(spark, path).fs
    live = [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]
    if not live:
        return None
    batches = _ann_delete_batches(spark, path, m, id_col)
    return reduce(
        DataFrame.unionByName,
        [
            _ann_visible_scan(spark, path, s, batches, id_col)
            .select(id_col)
            for s in live
        ],
    )


def _write_model(fs, path: str, name: str, centroids, codebooks, rotation):
    import json

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
    import json

    mdl = json.loads(fs.read_text(f"{path}/{m['model']}"))
    rot = mdl["rotation"]
    return (
        mdl["centroids"],
        np.asarray(mdl["codebooks"], dtype=np.float64),
        None if rot is None else np.asarray(rot, dtype=np.float64),
    )


def _write_codes_segment(
    coded: DataFrame, seg_path: str, id_col: str, cell_task_splits: int = 1
) -> None:
    """The ANN instance of the shared skew-bounded segment write
    (:func:`~parq_tools_spark.operators._index_common.
    write_salted_segment`): cell-keyed shuffle, id-sorted files,
    ``cell_task_splits`` salting for hot cells."""
    from parq_tools_spark.operators._index_common import (
        write_salted_segment,
    )

    write_salted_segment(
        coded, seg_path, "cell", [id_col], id_col, cell_task_splits
    )


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
    import json

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

    from parq_tools_spark.operators.similarity import (
        _hashseed_rows,
        opq_rotation,
        pq_codebooks,
        pq_encode_with_cells,
    )

    store_cols = list(store_cols)
    reserved = {"codes", "cell", "vec", id_col, vec_col}
    bad = [c for c in store_cols if c in reserved]
    if bad:
        raise ValueError(
            f"store_cols {bad} collide with the segment schema's "
            f"reserved columns ({sorted(reserved)})"
        )
    from parq_tools_spark.operators._index_common import (
        check_store_cols,
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
        _ann_sweep_orphans(vs, path)
    new = (cur or 0) + 1

    train = train_corpus if train_corpus is not None else corpus
    centroids = _hashseed_rows(train, n_cells, id_col, vec_col)
    rot = opq_rotation(train, m, id_col, vec_col, opq_sample) if opq else None
    codebooks = pq_codebooks(
        train, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col,
        rotation=rot,
    )
    # ONE fused encode+assign pass over the embedding column (codes
    # and cell share the batch, so no id-join glues them back)
    coded = pq_encode_with_cells(
        corpus,
        centroids,
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
        round_to=round_to,
        rotation=rot,
        keep_vec=store_vectors,
        meta_cols=store_cols,
    )
    # n_vecs rides the segment write as an Observation (the encoder
    # is row-1:1, so count(coded) == count(corpus)) — the former
    # separate corpus.count() pass is gone (r17 optimization)
    from pyspark.sql import Observation

    _obs = Observation()
    coded = coded.observe(_obs, F.count(F.lit(1)).alias("n"))

    from parq_tools_spark.operators._index_common import (
        resolve_task_splits,
    )

    # "auto" measures the batch's own cell skew (one extra
    # aggregation pass) instead of guessing a salt factor; stored in
    # the manifest verbatim so every subsequent ingest re-measures
    # ITS batch
    from parq_tools_spark.operators._index_common import cached_for_auto

    seg = _tag(new, "seg")
    with cached_for_auto(coded, cell_task_splits) as coded_c:
        splits = resolve_task_splits(
            cell_task_splits, coded_c, "cell", "cell_task_splits"
        )
        _write_codes_segment(
            coded_c, f"{path}/{seg}", id_col, splits
        )
    n_vecs = int(_obs.get["n"])
    model = _tag(new, "model") + ".json"
    _write_model(vs.fs, path, model, centroids, codebooks, rot)
    vs.commit(
        new,
        json.dumps(
            {
                "version": new,
                "params": {
                    "n_cells": n_cells,
                    "m": m,
                    "n_codes": int(np.asarray(codebooks).shape[1]),
                    # realized width above serves ADC sizing; the
                    # CONFIGURED value (None = identity codebook)
                    # is what retrain must default to, else an
                    # every-row-a-codeword index silently retrains
                    # into a lossy fixed-width codebook
                    "n_codes_configured": n_codes,
                    "id_col": id_col,
                    "vec_col": vec_col,
                    "round_to": round_to,
                    "opq": opq,
                    "keep_versions": keep_versions,
                    "store_vectors": store_vectors,
                    "cell_task_splits": cell_task_splits,
                    "store_cols": store_cols,
                },
                "id_type": _id_field_json(corpus, id_col),
                "n_vecs": n_vecs,
                "model": model,
                "segments": [seg],
            }
        ),
    )


def ann_index_add(new_vecs: DataFrame, path: str) -> None:
    """Encode a new batch under the index's FROZEN model (centroids,
    codebooks and rotation are read back, never re-derived — the
    standard IVF-PQ ingest, so old and new codes live on one
    quantization grid and score identically) and commit it as one new
    immutable segment. Ids must be new to the index (the id-unique
    contract every index here shares); a concurrent committer fails
    loudly on the exclusive marker."""
    import json

    from parq_tools_spark.operators.similarity import (
        pq_encode_with_cells,
    )

    spark = new_vecs.sparkSession
    vs, cur, m = _ann_manifest(spark, path)
    vs.clean_stale(cur, keep_versions=_retention(m))
    _ann_sweep_orphans(vs, path)
    p = m["params"]
    centroids, codebooks, rot = _read_model(vs.fs, path, m)

    # one fused encode+assign pass under the frozen model; the
    # segment schema is an index-wide invariant, so the batch stores
    # (or doesn't store) exact vectors exactly as the build did
    from parq_tools_spark.operators._index_common import (
        check_store_cols,
    )

    check_store_cols(new_vecs, p.get("store_cols", []), "ann_index_add")
    coded = pq_encode_with_cells(
        new_vecs,
        centroids,
        codebooks,
        id_col=p["id_col"],
        vec_col=p["vec_col"],
        round_to=p["round_to"],
        rotation=rot,
        keep_vec=bool(p.get("store_vectors")),
        meta_cols=p.get("store_cols", []),
    )
    # n_new rides the segment write as an Observation (the encoder
    # is row-1:1) — no separate batch count pass
    from pyspark.sql import Observation

    _obs = Observation()
    coded = coded.observe(_obs, F.count(F.lit(1)).alias("n"))

    from parq_tools_spark.operators._index_common import (
        cached_for_auto,
        resolve_task_splits,
    )

    seg = _tag(cur + 1, "seg")
    with cached_for_auto(coded, p.get("cell_task_splits", 1)) as coded_c:
        _write_codes_segment(
            coded_c, f"{path}/{seg}", p["id_col"],
            resolve_task_splits(
                p.get("cell_task_splits", 1), coded_c, "cell",
                "cell_task_splits",
            ),
        )
    n_new = int(_obs.get["n"])
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                "n_vecs": m["n_vecs"] + n_new,
                "segments": m["segments"] + [seg],
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
    from functools import reduce

    vs, cur, man = _ann_manifest(spark, path)
    p = man["params"]
    if not p.get("store_vectors"):
        raise ValueError(
            f"ann index at {path} was built without store_vectors="
            "True, so there are no stored vectors to retrain from — "
            "rebuild from the source corpus with ann_index_build"
        )
    id_col, vec_col = p["id_col"], p["vec_col"]
    fs = vs.fs
    live, missing = [], []
    for s in man["segments"]:
        (live if fs.list_files(f"{path}/{s}") else missing).append(s)
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
    batches = _ann_delete_batches(spark, path, man, id_col)
    segs = [
        _ann_visible_scan(spark, path, s, batches, id_col).select(
            F.col(id_col), F.col("vec").alias(vec_col),
            *p.get("store_cols", []),
        )
        for s in live
    ]
    corpus = reduce(DataFrame.unionByName, segs) if segs else None
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


def ann_index_delete(spark, path: str, ids, _verified: bool = False) -> dict:
    """Delete vectors from the index by id — VERSION-SCOPED
    tombstones, the same LSM semantics as ``bm25_index_delete``: the
    ids land in an immutable ``del-`` directory recorded with the
    version it was committed at; serving anti-joins each segment
    against only the tombstones covering its version, so a later
    :func:`ann_index_add` of the same id is immediately visible (no
    compaction needed — upserts stay O(batch)). The next
    :func:`ann_index_compact` folds pending tombstones into the code
    rows and clears the list. ``n_vecs`` decrements by the requested
    count; every id MUST be a currently-visible vector (every indexed
    vector has exactly one code row, so missing ids always raise —
    there is no zero-token analogue here).

    Returns ``{"deleted": n, "version": v}``."""
    import json
    from functools import reduce

    from pyspark.sql import types as T

    vs, cur, m = _ann_manifest(spark, path)
    vs.clean_stale(cur, keep_versions=_retention(m))
    _ann_sweep_orphans(vs, path)
    id_col = m["params"]["id_col"]

    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).alias(id_col)).distinct()
    else:
        ids_df = spark.createDataFrame(
            [(i,) for i in ids],
            T.StructType([_id_field(m)]),
        ).distinct()
    from parq_tools_spark.operators._index_common import eager_stats

    ids_df, _st = eager_stats(ids_df, n=F.count(F.lit(1)))
    n_del = int(_st["n"])
    if n_del == 0:
        return {"deleted": 0, "version": cur}

    if not _verified:
        # _verified=True is the upsert fast path: the caller just
        # derived ``ids`` FROM the visible rows, so re-scanning to
        # prove visibility would read the code rows twice per batch
        fs = vs.fs
        live = [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]
        batches = _ann_delete_batches(spark, path, m, id_col)
        n_found = 0
        if live:
            visible_ids = reduce(
                DataFrame.unionByName,
                [
                    _ann_visible_scan(
                        spark, path, s, batches, id_col
                    ).select(id_col)
                    for s in live
                ],
            ).join(F.broadcast(ids_df), on=id_col)
            n_found = visible_ids.distinct().count()
        if n_found < n_del:
            raise ValueError(
                f"ann_index_delete: {n_del - n_found} of {n_del} "
                "requested id(s) are not visible in the index (typo, "
                "never indexed, or already deleted) — deleting them "
                "would corrupt n_vecs"
            )

    del_dir = _tag(cur + 1, "del")
    ids_df.write.mode("errorifexists").parquet(f"{path}/{del_dir}")
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                "n_vecs": m["n_vecs"] - n_del,
                "deletes": m.get("deletes", [])
                + [{"dir": del_dir, "upto": cur}],
            }
        ),
    )
    return {"deleted": n_del, "version": cur + 1}


def ann_index_upsert(
    new_vecs: DataFrame, path: str, _visible_ids=None
) -> dict:
    """Insert-or-replace a batch of vectors: ids already visible are
    tombstoned (one :func:`ann_index_delete` commit), then the whole
    batch encodes under the frozen model and appends
    (:func:`ann_index_add`) — O(batch + tombstone scan), never an
    index rewrite. ``_visible_ids`` is the apply_cdc fast path: a
    pre-materialized superset of the batch's visible ids, so the CDC
    path never scans the index twice per batch. Returns
    ``{"updated": u, "inserted": i, "version": v}``."""
    spark = new_vecs.sparkSession
    vs, cur, m = _ann_manifest(spark, path)
    id_col = m["params"]["id_col"]
    # batch size + id-uniqueness in ONE aggregate job (was two)
    row = new_vecs.agg(
        F.count(F.lit(1)), F.countDistinct(F.col(id_col))
    ).first()
    n_rows, n_batch = int(row[0]), int(row[1])
    ids_df = new_vecs.select(F.col(id_col)).distinct()
    if n_batch < n_rows:
        raise ValueError(
            f"ann_index_upsert: batch carries {n_rows - n_batch} "
            f"duplicate {id_col} row(s) — one vector per id (a "
            "duplicate would append twice and corrupt n_vecs)"
        )

    fs = vs.fs
    live = [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]
    updated = 0
    if _visible_ids is not None or live:
        if _visible_ids is not None:
            visible = _visible_ids
        else:
            visible = _ann_visible_ids(spark, path, m, id_col)
        from parq_tools_spark.operators._index_common import (
            eager_stats,
        )

        existing, _est = eager_stats(
            visible.join(F.broadcast(ids_df), on=id_col).distinct(),
            n=F.count(F.lit(1)),
        )
        updated = int(_est["n"])
        if updated:
            # ids came FROM the visible rows — skip the re-scan
            ann_index_delete(spark, path, existing, _verified=True)
    ann_index_add(new_vecs, path)
    return {
        "updated": updated,
        "inserted": n_batch - updated,
        "version": _ann_vs(spark, path).current(),
    }


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
    ``(seq desc, op desc)`` (a same-sequence 'U' beats 'D', matching
    ``operators/merge.py``'s ``apply_cdc``); a final 'D' for an id not
    visible in the index is a NO-OP, never an error (the I-then-D
    short-lived-row pattern); final 'I'/'U' rows upsert under the
    frozen model. O(batch + one visible-id scan), no compaction
    required.

    'M' (metadata-only) ops fold into
    :func:`ann_index_update_metadata` AFTER the deletes and upserts
    (shared :func:`~parq_tools_spark.operators._index_common.
    resolve_cdc_with_meta` semantics): a re-grade rides the same
    change stream without a re-encode upsert — O(affected) metadata
    rewrite, no ``vec_col`` needed on the 'M' rows (which is also
    what makes re-grades possible on ``store_vectors=False``
    indexes). An 'M' row carries the id plus ALL ``store_cols``; an
    'M' whose id is not visible once the batch applied is a no-op
    (replay convergence), counted in ``meta_noops``; an 'M'
    superseded by a same-batch 'U'/'D' at an equal-or-later seq
    vanishes like a superseded 'U'.

    Returns ``{"deleted": d, "delete_noops": n, "updated": u,
    "inserted": i, "meta_updated": mu, "meta_noops": mn,
    "version": v}``."""
    from functools import reduce

    from parq_tools_spark.operators._index_common import (
        eager_stats,
        resolve_cdc_with_meta,
    )

    _, _, m = _ann_manifest(spark, path)
    p = m["params"]
    id_col, vec_col = p["id_col"], p["vec_col"]

    final, metas = resolve_cdc_with_meta(changes, id_col, op_col, seq_col)

    deletes = final.filter(F.col(op_col) == "D").select(id_col).distinct()
    # the value column is selected LAZILY: a delete-only change log
    # (no vec_col in its schema) must apply cleanly, exactly like the
    # BM25 contract — the column is only required if I/U rows exist
    ups_rows = final.filter(F.col(op_col).isin("I", "U"))
    # both branch sizes in ONE aggregate job over the (checkpointed)
    # resolved batch — resolve_cdc leaves at most one row per id
    sizes = final.agg(
        F.count(F.when(F.col(op_col) == "D", 1)),
        F.count(F.when(F.col(op_col).isin("I", "U"), 1)),
    ).first()
    has_ups = bool(int(sizes[1]))

    # ONE visible-id scan serves both the delete no-op filter and the
    # upsert's updated/inserted probe (their ids are disjoint after
    # resolve_cdc, and the tombstone commit between them cannot change
    # the upsert ids' visibility) — restricted to the batch's touched
    # ids before materializing, so the checkpoint is O(batch)
    n_d = int(sizes[0])
    visible_touched = None
    if n_d or has_ups:
        touched = deletes
        if has_ups:
            touched = touched.unionByName(
                ups_rows.select(id_col)
            ).distinct()
        fs = _ann_vs(spark, path).fs
        live = [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]
        if live:
            batches = _ann_delete_batches(spark, path, m, id_col)
            visible_touched = (
                reduce(
                    DataFrame.unionByName,
                    [
                        _ann_visible_scan(spark, path, s, batches, id_col)
                        .select(id_col)
                        for s in live
                    ],
                )
                .join(F.broadcast(touched), on=id_col)
                .distinct()
            )
            visible_touched = _mat(visible_touched)

    n_deleted, n_noop = 0, 0
    if n_d:
        n_vis = 0
        if visible_touched is not None:
            visible_d, _vst = eager_stats(
                visible_touched.join(F.broadcast(deletes), on=id_col),
                n=F.count(F.lit(1)),
            )
            n_vis = int(_vst["n"])
            if n_vis:
                # ids came FROM the visible rows — the delete's
                # visibility re-scan is redundant
                n_deleted = ann_index_delete(
                    spark, path, visible_d, _verified=True
                )["deleted"]
        n_noop = n_d - n_vis
    out = {
        "deleted": n_deleted,
        "delete_noops": n_noop,
        "updated": 0,
        "inserted": 0,
    }
    if has_ups:
        from parq_tools_spark.operators._index_common import (
            check_store_cols,
        )

        # validate here for the clear message — the bare select would
        # throw UNRESOLVED_COLUMN before add's own check runs
        check_store_cols(
            ups_rows, p.get("store_cols", []), "ann_index_apply_cdc"
        )
        res = ann_index_upsert(
            ups_rows.select(
                id_col, vec_col, *p.get("store_cols", [])
            ),
            path,
            _visible_ids=visible_touched,
        )
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
        _, _, m2 = _ann_manifest(spark, path)
        vis = _ann_visible_ids(spark, path, m2, id_col)
        out.update(
            apply_cdc_meta(
                metas,
                store=p.get("store_cols", []),
                src_id_col=id_col,
                dst_id_col=id_col,
                visible_ids=vis,
                update_fn=lambda upd: ann_index_update_metadata(
                    spark, path, upd
                ),
                fn="ann_index_apply_cdc",
            )
        )
    out["version"] = _ann_vs(spark, path).current()
    return out


def ann_index_update_metadata(
    spark,
    path: str,
    updates: DataFrame,
    max_segments: int = 0,
    max_tombstone_frac: float = 0.0,
) -> dict:
    """Metadata-ONLY update for ``store_cols`` indexes: flip stored
    metadata values (a license re-grade, a recomputed quality score)
    WITHOUT re-encoding anything — the affected rows' existing codes
    (and stored vectors) are read back from the visible segments,
    their metadata columns replaced, and the rewritten rows committed
    as one new segment together with a version-scoped tombstone
    hiding the old rows. A full :func:`ann_index_upsert` would
    re-run the encode ``mapInPandas`` per row; at corpus scale that
    makes ``where=`` unmaintainable, and it also needs the raw
    vectors, which a ``store_vectors=False`` index no longer has.

    ``updates`` carries the index id column plus ANY SUBSET of the
    index's ``store_cols`` (untouched metadata columns keep their
    stored values); exactly one row per id. Every id must be
    currently visible — a typo'd id raises rather than silently
    updating nothing. The quantization model, cell assignments,
    ``n_vecs`` and the probe lists are untouched (cells don't move:
    the vector didn't change), so serving plans — including the
    pushed ``where=`` filters — are byte-identical in shape.

    The commit is ATOMIC (segment dir + tombstone dir written first,
    one manifest commit last): a crash leaves invisible orphans and
    the old metadata fully served; there is no intermediate state
    where the vectors are deleted. Tombstone ``upto=cur`` hides the
    old rows in every existing segment while the new segment (version
    cur+1) stays out of reach — the same visibility trick upserts
    use. Returns ``{"updated": n, "version": v}``.

    Cost shape at 100 TB: one id-join over the code rows (Catalyst/
    AQE pick broadcast for request-sized updates, shuffled join for
    corpus-sized re-grades — the update set is never collected) plus
    a write of O(affected) rows; codes and vectors move bytes, never
    through Python.

    ``max_segments`` / ``max_tombstone_frac`` arm the shared
    stats-driven compaction trigger AFTER the commit (the sinks'
    :func:`ann_index_maybe_compact`, same bounds): every update adds
    one segment + one tombstone, so a metadata-churn-only maintenance
    loop (repeated re-grades with no ingest in between) would
    otherwise fragment the manifest unboundedly — ingest paths
    consult the trigger, and as of this round so does this one. Both
    default OFF (0), preserving the commit-and-return behavior."""
    import json
    from functools import reduce

    vs, cur, m = _ann_manifest(spark, path)
    p = m["params"]
    id_col = p["id_col"]
    store = p.get("store_cols", [])
    from parq_tools_spark.operators._index_common import (
        check_metadata_updates,
        check_self_exclusion_types,
    )

    upd_cols = check_metadata_updates(
        updates, id_col, store, "ann_index_update_metadata"
    )

    check_self_exclusion_types(
        updates.schema[id_col].dataType,
        _id_field(m).dataType,
        "ann_index_update_metadata: updates",
        remedy="Cast the update id column to the indexed id type.",
    )
    vs.clean_stale(cur, keep_versions=_retention(m))
    _ann_sweep_orphans(vs, path)

    from parq_tools_spark.operators._index_common import eager_stats

    upd, _st = eager_stats(
        updates.select(
            id_col, *[F.col(c).alias(f"_upd_{c}") for c in upd_cols]
        ),
        n=F.count(F.lit(1)),
    )
    n_upd = int(_st["n"])
    if n_upd == 0:
        return {"updated": 0, "version": cur}
    if upd.select(id_col).distinct().count() < n_upd:
        raise ValueError(
            f"ann_index_update_metadata: duplicate {id_col} row(s) in "
            "updates — one metadata row per id"
        )

    fs = vs.fs
    live = [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]
    batches = _ann_delete_batches(spark, path, m, id_col)
    rows = (
        reduce(
            DataFrame.unionByName,
            [
                _ann_visible_scan(spark, path, s, batches, id_col)
                for s in live
            ],
        )
        if live
        else None
    )
    affected = rows.join(upd, on=id_col) if rows is not None else None
    if affected is None:
        raise ValueError(
            f"ann_index_update_metadata: none of the {n_upd} id(s) "
            "are visible in the (empty) index"
        )
    # updated values are CAST to the stored column types: a wider
    # update type (int column, long updates) would otherwise commit a
    # segment whose metadata schema drifts from its siblings'
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

    seg = _tag(cur + 1, "seg")
    with cached_for_auto(
        new_rows, p.get("cell_task_splits", 1)
    ) as new_c:
        _write_codes_segment(
            new_c, f"{path}/{seg}", id_col,
            resolve_task_splits(
                p.get("cell_task_splits", 1), new_c, "cell",
                "cell_task_splits",
            ),
        )
    # visibility check from the WRITTEN segment (reads O(affected)
    # rows back, not the index again); a failure here leaves only an
    # invisible orphan the next maintenance pass sweeps. A no-match
    # join writes a fileless directory (just _SUCCESS) that cannot be
    # schema-inferred, so the listing gates the read.
    n_found = (
        _read_committed(spark, f"{path}/{seg}")
        .select(id_col)
        .distinct()
        .count()
        if fs.list_files(f"{path}/{seg}")
        else 0
    )
    if n_found < n_upd:
        raise ValueError(
            f"ann_index_update_metadata: {n_upd - n_found} of {n_upd} "
            "requested id(s) are not visible in the index (typo, "
            "never indexed, or deleted) — refusing a partial update"
        )
    del_dir = _tag(cur + 1, "del")
    upd.select(id_col).write.mode("errorifexists").parquet(
        f"{path}/{del_dir}"
    )
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                "segments": m["segments"] + [seg],
                # n_vecs unchanged: the same vectors, new metadata
                "deletes": m.get("deletes", [])
                + [{"dir": del_dir, "upto": cur}],
            }
        ),
    )
    if max_segments or max_tombstone_frac:
        ann_index_maybe_compact(
            spark,
            path,
            max_segments=max_segments,
            max_tombstone_frac=max_tombstone_frac,
        )
    return {"updated": n_upd, "version": cur + 1}


def _ann_visible_rows_for_rewrite(spark, path, vs, m, id_col, fn):
    """Every VISIBLE code row, tombstones folded — the read side both
    evolution legs (backfill / prune) share. Raises when nothing is
    visible: committing a rewrite of zero rows would make a data-less
    directory the SOLE segment and break schema inference for every
    later query."""
    from functools import reduce

    fs = vs.fs
    live = [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]
    if not live:
        raise ValueError(
            f"{fn}: the index holds no visible rows — nothing to "
            "rewrite"
        )
    batches = _ann_delete_batches(spark, path, m, id_col)
    rows = reduce(
        DataFrame.unionByName,
        [_ann_visible_scan(spark, path, s, batches, id_col) for s in live],
    )
    if not rows.take(1):
        raise ValueError(
            f"{fn}: the index holds no visible rows — nothing to "
            "rewrite"
        )
    return rows


def _ann_commit_rewrite(out, path, *, vs, cur, m, p, id_col, store_cols):
    """Write rewritten code rows as ONE fresh segment and commit a
    COMPACTION-shaped manifest (``segments=[new]``, ``deletes=[]``)
    whose ``params.store_cols`` becomes ``store_cols`` in the SAME
    atomic commit — the shared tail of the ANN evolution legs
    (backfill extends the list, prune shrinks it). The model,
    ``n_vecs`` and cell assignments are untouched (the vectors didn't
    change). Returns the new version."""
    import json

    from parq_tools_spark.operators._index_common import (
        cached_for_auto,
        resolve_task_splits,
    )

    seg = _tag(cur + 1, "seg")
    with cached_for_auto(out, p.get("cell_task_splits", 1)) as out_c:
        _write_codes_segment(
            out_c, f"{path}/{seg}", id_col,
            resolve_task_splits(
                p.get("cell_task_splits", 1), out_c, "cell",
                "cell_task_splits",
            ),
        )
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                "segments": [seg],
                "deletes": [],
                # n_vecs/model unchanged: same vectors, different
                # metadata columns on every row
                "params": {**p, "store_cols": store_cols},
            }
        ),
    )
    return cur + 1


def ann_index_add_metadata_col(
    spark, path: str, values: DataFrame, default=_NO_DEFAULT
) -> dict:
    """Backfill NEW metadata column(s) over the index — the evolution
    leg of the ``store_cols`` lifecycle (store → ``where=``
    filter → ``update_metadata`` → **evolve** → prune): a quality
    score computed AFTER the build becomes a served, filterable
    column without re-encoding a single vector. Every visible code
    row is read back, the new column(s) attached (``values`` looked
    up by the index id; ids absent from ``values`` take ``default`` —
    omit it and an uncovered id raises before anything is written;
    extra ids in ``values`` are ignored), and the rewritten rows
    committed as ONE fresh segment whose manifest extends
    ``params.store_cols`` in the SAME atomic commit — serving-time
    ``where=`` validation and every subsequent ingest's
    ``check_store_cols`` see the new columns the instant they are
    queryable, never before. ``values`` may carry k new columns —
    they land in ONE O(index) rewrite (``default`` a shared fill or a
    per-column dict), because the rewrite is the entire cost of
    evolution and must never be paid per column. Works on a
    store_cols-LESS index (adding the first metadata column) and on
    ``store_vectors=False`` indexes — the codes are carried as
    stored bytes, which is the proof nothing re-encodes.

    The commit is COMPACTION-shaped (``segments=[new]``,
    ``deletes=[]``): a backfill touches every row by definition, and
    the update path's whole-index tombstone would bolt a full-index
    anti-join onto every query until the next fold. Pending
    tombstones fold into the rewrite; the model, ``n_vecs`` and cell
    assignments are untouched (the vectors didn't change). Cost at
    100 TB: one id-lookup join (AQE picks broadcast for small values,
    shuffle for corpus-sized scores) plus the cell-keyed segment
    write every ingest already pays — O(index) once, the irreducible
    price of schema evolution. Returns ``{"added": [cols],
    "version": v}``."""
    from parq_tools_spark.operators._index_common import (
        backfill_metadata_rows,
        check_add_metadata_col,
    )

    vs, cur, m = _ann_manifest(spark, path)
    p = m["params"]
    id_col = p["id_col"]
    store = list(p.get("store_cols", []))
    reserved = {"codes", "cell", "vec", id_col, p["vec_col"]}
    new_cols = check_add_metadata_col(
        values, id_col, store, reserved, "ann_index_add_metadata_col",
        default=default,
    )
    vs.clean_stale(cur, keep_versions=_retention(m))
    _ann_sweep_orphans(vs, path)
    rows = _ann_visible_rows_for_rewrite(
        spark, path, vs, m, id_col, "ann_index_add_metadata_col"
    )
    out, _ = backfill_metadata_rows(
        rows, values, id_col, new_cols, default,
        "ann_index_add_metadata_col",
    )
    v = _ann_commit_rewrite(
        out, path, vs=vs, cur=cur, m=m, p=p, id_col=id_col,
        store_cols=store + new_cols,
    )
    return {"added": new_cols, "version": v}


def ann_index_drop_metadata_col(spark, path: str, cols) -> dict:
    """Drop stored metadata column(s) from the index — the PRUNE leg
    of the metadata lifecycle, the inverse of
    :func:`ann_index_add_metadata_col`: every visible code row is
    rewritten WITHOUT the column(s) (codes carried as stored bytes,
    nothing re-encoded) and committed as ONE compaction-shaped
    segment whose manifest shrinks ``params.store_cols`` atomically.
    Until this runs, a mistakenly added or superseded column pays its
    bytes on every cell scan forever. ``cols`` is one name or a
    list; dropping the last stored column reverts the index to
    store_cols-less — serving ``where=`` against a dropped column
    then fails with the standard unknown-column error. Returns
    ``{"dropped": [cols], "version": v}``."""
    from parq_tools_spark.operators._index_common import (
        check_drop_metadata_cols,
    )

    vs, cur, m = _ann_manifest(spark, path)
    p = m["params"]
    id_col = p["id_col"]
    store = list(p.get("store_cols", []))
    cols = check_drop_metadata_cols(
        cols, store, "ann_index_drop_metadata_col"
    )
    vs.clean_stale(cur, keep_versions=_retention(m))
    _ann_sweep_orphans(vs, path)
    rows = _ann_visible_rows_for_rewrite(
        spark, path, vs, m, id_col, "ann_index_drop_metadata_col"
    )
    v = _ann_commit_rewrite(
        rows.drop(*cols), path, vs=vs, cur=cur, m=m, p=p,
        id_col=id_col,
        store_cols=[c for c in store if c not in cols],
    )
    return {"dropped": cols, "version": v}


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
    byte-target, then commit. Crash-safe with no repair path: readers
    only ever see committed manifests. ``force=True`` rewrites
    regardless of the file-count triggers (the stats-driven
    ``maybe_compact`` path: a breached SEGMENT bound must fold even
    when every per-cell file already sits at its byte target — output
    files still coalesce to the byte targets). Returns ``{cell:
    (files_before, files_after)}`` for cells whose count dropped."""
    import json
    import math

    vs, cur, m = _ann_manifest(spark, path)
    vs.clean_stale(cur, keep_versions=_retention(m))
    _ann_sweep_orphans(vs, path)
    fs = vs.fs

    per_cell: dict = {}
    for seg in m["segments"]:
        for entry, is_dir, _ in fs.list_status(f"{path}/{seg}"):
            if not (is_dir and entry.startswith("cell=")):
                continue
            c = int(entry.split("=", 1)[1])
            files = [
                size
                for n_, d, size in fs.list_status(f"{path}/{seg}/{entry}")
                if not d and n_.endswith(".parquet")
            ]
            cnt, tot = per_cell.get(c, (0, 0))
            per_cell[c] = (cnt + len(files), tot + sum(files))
    targets = {
        c: max(1, math.ceil(tot / target_file_bytes))
        for c, (cnt, tot) in per_cell.items()
    }
    # pending tombstones force a rewrite regardless of file counts —
    # folding them into the code rows (and clearing the list) bounds
    # the serving-time anti-join side
    id_col = m["params"]["id_col"]
    batches = _ann_delete_batches(spark, path, m, id_col)
    if not force and not batches and not any(
        cnt > min_files_per_cell and cnt > targets[c]
        for c, (cnt, tot) in per_cell.items()
    ):
        return {}

    from functools import reduce

    new_seg = _tag(cur + 1, "seg")

    def _rewrite_cell(c) -> None:
        if not batches:
            # no pending tombstones: one multi-path read of the cell
            # subdirectories (per-segment plans exist only to scope
            # anti-joins)
            srcs = [
                f"{path}/{seg}/cell={c}"
                for seg in m["segments"]
                if fs.exists(f"{path}/{seg}/cell={c}")
            ]
            if not srcs:
                return
            cell_df = _read_committed(spark, *srcs)
        else:
            # per-segment reads so each segment folds only the
            # tombstones whose upto covers its version; the cell
            # filter is partition pruning, so the rewrite stays
            # map-only per cell
            parts = [
                _ann_visible_scan(spark, path, seg, batches, id_col).filter(
                    F.col("cell") == c
                )
                for seg in m["segments"]
                if fs.exists(f"{path}/{seg}/cell={c}")
            ]
            if not parts:
                return
            cell_df = reduce(DataFrame.unionByName, parts).drop("cell")
        (
            cell_df.coalesce(targets[c])
            .write.mode("errorifexists")
            .parquet(f"{path}/{new_seg}/cell={c}")
        )

    # independent per-cell rewrites overlap from a small thread pool
    # (guide §2.6); failures propagate BEFORE the commit
    from parq_tools_spark.operators._index_common import run_overlapped

    run_overlapped(_rewrite_cell, sorted(per_cell))
    vs.commit(
        cur + 1,
        json.dumps(
            {**m, "version": cur + 1, "segments": [new_seg], "deletes": []}
        ),
    )

    compacted = {}
    for c, (cnt, tot) in per_cell.items():
        n_after = sum(
            1
            for n_, d, _ in fs.list_status(f"{path}/{new_seg}/cell={c}")
            if not d and n_.endswith(".parquet")
        )
        if n_after < cnt:
            compacted[c] = (cnt, n_after)
    return compacted


def ann_index_maybe_compact(
    spark,
    path: str,
    max_segments: int = 16,
    max_tombstone_frac: float = 0.2,
) -> bool:
    """Stats-driven :func:`ann_index_compact` (the shared
    :func:`~parq_tools_spark.operators._index_common.maybe_compact`
    trigger): fold segments/tombstones only when the live manifest
    references more than ``max_segments`` segments or pending
    tombstoned ids exceed ``max_tombstone_frac`` of ``n_vecs`` —
    otherwise O(manifest) and do nothing. The streaming sinks consult
    this each batch when armed, replacing blind every-N-batches
    compaction with compact-exactly-when-fragmented. When triggered,
    compaction runs with ``force=True`` so the breach
    actually folds the segment list instead of re-triggering every
    batch. Returns True iff a compaction ran."""
    from parq_tools_spark.operators._index_common import maybe_compact

    return maybe_compact(
        spark,
        path,
        INDEX_MARKERS["ann"],
        lambda: ann_index_compact(spark, path, force=True),
        max_segments=max_segments,
        max_tombstone_frac=max_tombstone_frac,
        rows_key="n_vecs",
    )


def ann_index_stats(
    spark, path: str, version: Optional[int] = None
) -> dict:
    """The resolved manifest's statistics — ``version``, ``n_vecs``,
    ``params`` — the staleness contract's inspection point (compare
    ``version`` against a query result's ``index_version``).
    ``version=`` inspects a retained historical version (see
    :func:`ann_index_build`'s ``keep_versions``)."""
    _, cur, m = _ann_manifest(spark, path, version)
    return {
        "version": cur,
        "n_vecs": m["n_vecs"],
        "params": m["params"],
        "n_segments": len(m["segments"]),
        "pending_delete_batches": len(m.get("deletes", [])),
    }


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
    from functools import reduce

    from parq_tools_spark.operators.similarity import adc_score

    vs, cur, m = _ann_manifest(spark, path, version)
    p = m["params"]
    id_col = p["id_col"]
    query_vec_col = query_vec_col or p["vec_col"]
    # validate (and compile) the where predicate UP FRONT, so a bad
    # predicate or a store_cols-less index fails identically whether
    # the index is empty or not
    where_col = None
    if where is not None:
        from parq_tools_spark.plans.query_parser import (
            build_filter_expression,
        )

        stored = p.get("store_cols", [])
        if not stored:
            raise ValueError(
                f"ann index at {path} stores no metadata columns; "
                "where= needs an index built with "
                "ann_index_build(..., store_cols=[...])"
            )
        where_col = build_filter_expression(where, columns=stored)
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
        _check_self_exclusion_types(
            queries.schema[query_id_col].dataType, _id_field(m).dataType
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
    fs = vs.fs
    live = [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]
    id_field = _id_field(m)
    if not live:
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
    # so every segment scan prunes to the probed directories at
    # planning time (PartitionFilters, locked by test); pending
    # tombstones apply per segment (version-scoped, broadcast)
    batches = _ann_delete_batches(spark, path, m, id_col)
    scans = [
        _ann_visible_scan(spark, path, s, batches, id_col).filter(
            F.col("cell").isin(probed_cells)
        )
        for s in live
    ]
    coded = reduce(DataFrame.unionByName, scans)
    if allowed_ids is not None:
        # BEFORE the probe join and ranking: a literal id list pushes
        # through the union into each segment's parquet scan
        # (PushedFilters); a DataFrame semi-joins. The refine path
        # below reads its exact vectors from this same filtered scan.
        from parq_tools_spark.operators._index_common import (
            apply_allowed_ids,
        )

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

    from parq_tools_spark.operators.similarity import (
        cosine_similarity_col,
    )

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


def _check_self_exclusion_types(query_type, index_type) -> None:
    """Shared guard (see :func:`_index_common.check_self_exclusion_types`):
    exclude_self compares the query-id column against the index id
    column — incompatible pairs fail loudly up front instead of
    silently null-dropping every candidate (non-ANSI) or throwing
    mid-job (ANSI)."""
    from parq_tools_spark.operators._index_common import (
        check_self_exclusion_types,
    )

    check_self_exclusion_types(
        query_type, index_type, "ann_index_topk: exclude_self=True"
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
    from parq_tools_spark.operators.similarity import (
        _with_centroid_cells,
    )

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
    from parq_tools_spark.operators.similarity import (
        cosine_similarity_col,
    )

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
    from parq_tools_spark.operators.similarity import (
        _hashseed_rows,
        _with_centroid_cells,
    )

    spark = batch.sparkSession
    if _ann_vs(spark, index_path).current() is not None:
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
        from parq_tools_spark.operators._index_common import (
            check_store_cols,
        )

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
    from functools import reduce

    from parq_tools_spark.operators.similarity import (
        cosine_similarity_col,
    )

    vs, cur, m = _ann_manifest(spark, index_path)
    p = m["params"]
    if not p.get("store_vectors"):
        raise ValueError(
            f"ann index at {index_path} was built without "
            "store_vectors=True; semantic admission decides on exact "
            "stored vectors — rebuild with "
            "ann_index_build(..., store_vectors=True)"
        )
    id_col, vec_col = p["id_col"], p["vec_col"]
    from parq_tools_spark.operators._index_common import (
        check_self_exclusion_types,
    )

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
    # validate/compile the where predicate UP FRONT (the shared
    # where= contract: identical errors on empty and non-empty
    # indexes, loud on a store_cols-less index)
    where_col = None
    if where is not None:
        from parq_tools_spark.plans.query_parser import (
            build_filter_expression,
        )

        stored = p.get("store_cols", [])
        if not stored:
            raise ValueError(
                f"ann index at {index_path} stores no metadata "
                "columns; where= needs an index built with "
                "ann_index_build(..., store_cols=[...])"
            )
        where_col = build_filter_expression(where, columns=stored)
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

    fs = vs.fs
    live = [
        s for s in m["segments"] if fs.list_files(f"{index_path}/{s}")
    ]
    dup_ids = _semantic_in_batch_drops(
        assigned, id_col, vec_col, thr, scale
    )
    if live and touched:
        batches = _ann_delete_batches(spark, index_path, m, id_col)
        # literal cell predicate => planning-time partition pruning:
        # only the batch's touched cell= directories are read
        def _seg_scan(s):
            scan = _ann_visible_scan(
                spark, index_path, s, batches, id_col
            ).filter(F.col("cell").isin(touched))
            if where_col is not None:
                # metadata scope BEFORE the alias-select drops the
                # stored columns — pushed into the cell-pruned scan
                scan = scan.filter(where_col)
            return scan.select(
                F.col(id_col).alias("_idx_id"),
                F.col("cell").alias("_idx_cell"),
                F.col("vec").alias("_idx_vec"),
            )

        idx = reduce(
            DataFrame.unionByName, [_seg_scan(s) for s in live]
        )
        if allowed_ids is not None:
            # scope WHO MAY BLOCK, before the dup join: a literal
            # list pushes into the (already cell-pruned) segment
            # scans, a DataFrame semi-joins
            from parq_tools_spark.operators._index_common import (
                apply_allowed_ids,
            )

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
        from parq_tools_spark.operators._index_common import (
            check_store_cols,
        )

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
