"""One lifecycle for the band-row index families (MinHash
``operators/dedup.py``, SimHash ``operators/simhash_index.py``).

Both families persist the same data model: per document, one row per
LSH band carrying ``(id, *store_cols, <payload>, band, <key>)`` in
``band=``-partitioned immutable segments, under the versioned-manifest
commit protocol of ``_index_common`` (generation tags, version-scoped
tombstones, one-cycle reader grace). They differ only in how a batch
is encoded into band rows and how a probe batch is served, so each
family declares a frozen :class:`BandFamily` spec and every lifecycle
op — manifest resolution, orphan sweep, visible ids, add, delete,
upsert, apply_cdc, compact, maybe_compact, stats and the three
metadata ops — exists ONCE here. The public ``<family>_index_<op>``
names are :func:`alias` bindings of these ops to the family's spec.
"""

from __future__ import annotations

import inspect
import json
from dataclasses import dataclass
from functools import reduce
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parq_tools_spark.operators._index_common import (
    NO_DEFAULT,
    apply_allowed_ids,
    apply_cdc_meta,
    backfill_metadata_rows,
    cached_for_auto,
    check_add_metadata_col,
    check_drop_metadata_cols,
    check_metadata_updates,
    check_self_exclusion_types,
    check_store_cols,
    delete_batches,
    delete_entries,
    eager_stats,
    id_field,
    materialize,
    maybe_compact as _maybe_compact_trigger,
    read_committed,
    resolve_cdc_with_meta,
    resolve_manifest,
    resolve_task_splits,
    retention,
    run_overlapped,
    tag,
    visible_scan,
    write_salted_segment,
)

__all__ = ["BandFamily", "alias", "public", "op_table", "write", "serve_rows"]


def manifest_params(spark, path: str, vs, m: Optional[dict]):
    """The default params resolver: params ride IN the manifest.
    ``m is None`` (nothing committed) has nothing to refuse."""
    return None if m is None else m["params"]


@dataclass(frozen=True)
class BandFamily:
    """What distinguishes one band-row family from the other — a
    module constant, never user-settable.

    - ``family``: the public-name prefix (``<family>_index_<op>``);
      ``module``: the module that defines those names.
    - ``marker``: the manifest marker file its VersionedState commits.
    - ``reserved``: band-row columns a metadata column may not shadow
      (the payload, ``band`` and the band key; the id and text columns
      are added from the params).
    - ``band_rows(df, params, text_col, meta_cols)``: encode a batch
      into band rows under the index's params.
    - ``params(spark, path, vs, m)``: the manifest's params; called
      with ``m=None`` when nothing is committed, so a family can refuse
      a pre-manifest layout with a specific message before the generic
      "no committed index" error.
    - ``dup_note``: the family's explanation appended to the upsert
      duplicate-id error."""

    family: str
    module: str
    marker: str
    reserved: tuple
    band_rows: Callable
    params: Callable = manifest_params
    dup_note: str = ""

    @property
    def what(self) -> str:
        return f"{self.family} index"

    @property
    def build_hint(self) -> str:
        return f"; build one with {self.family}_index_write"


# ------------------------------------------------------------- plumbing
def _vs(spec: BandFamily, spark, path: str):
    from parq_tools_spark.sources.statefs import VersionedState

    return VersionedState(spark, path, spec.marker)


def committed(spec: BandFamily, spark, path: str) -> bool:
    """True iff ``path`` holds a committed manifest of this family —
    the streaming sinks' bootstrap gate."""
    return _vs(spec, spark, path).current() is not None


def manifest(spec: BandFamily, spark, path: str, version=None):
    """``(vs, version, manifest_dict)`` — ONE marker read resolves
    params and segments together (resolving them separately could
    tear across a concurrent rebuild-with-new-params commit).
    ``version=`` resolves a retained historical manifest (the shared
    time-travel contract)."""
    vs = _vs(spec, spark, path)
    try:
        cur, m = resolve_manifest(
            vs, path, version, what=spec.what, build_hint=spec.build_hint
        )
    except ValueError:
        if version is None:
            spec.params(spark, path, vs, None)
        raise
    return vs, cur, m


def resolve(spec: BandFamily, spark, path: str, version=None):
    """:func:`manifest` plus the family's resolved params:
    ``(vs, version, manifest_dict, params)``."""
    vs, cur, m = manifest(spec, spark, path, version)
    return vs, cur, m, spec.params(spark, path, vs, m)


def sweep_orphans(vs, path: str) -> None:
    """Delete ``seg-``/``del-`` directories no SURVIVING manifest
    references — leftovers of crashed writes/adds/compactions and of
    superseded versions past their reader grace. Mirrors
    ``clean_stale``'s one-cycle grace: the directories of any
    still-present committed version are kept."""
    referenced = set()
    for n, ok in vs.versions():
        if ok:
            mm = json.loads(vs.read_marker(n))
            referenced.update(mm["segments"])
            referenced.update(e["dir"] for e in delete_entries(mm))
    for entry, is_dir, _ in vs.fs.list_status(path):
        if (
            is_dir
            and entry.startswith(("seg-", "del-"))
            and entry not in referenced
        ):
            vs.fs.delete(f"{path}/{entry}")


def _maintain(vs, path: str, cur: int, m: dict) -> None:
    # sweep at cycle START: state superseded LAST cycle goes now, so
    # in-flight readers of the previous manifest get a full cycle
    vs.clean_stale(cur, keep_versions=retention(m))
    sweep_orphans(vs, path)


def _live(spark, path: str, m: dict) -> list:
    from parq_tools_spark.sources.statefs import StateFS

    fs = StateFS(spark, path)
    return [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]


def _visible_rows(spark, path: str, m: dict, id_col: str):
    """Every visible band row: each live segment anti-joined against
    only the tombstones covering its version. None when no segment
    holds data."""
    live = _live(spark, path, m)
    if not live:
        return None
    batches = delete_batches(spark, path, m)
    return reduce(
        DataFrame.unionByName,
        [visible_scan(spark, path, s, batches, id_col) for s in live],
    )


def _band0_ids(spark, path: str, m: dict, id_col: str):
    """Visible ids read from band 0 only (NOT distinct): every indexed
    doc has exactly one row per band, so one partition-pruned band
    directory per segment gives exact membership at 1/bands of the
    scan. None when no segment holds data."""
    rows = _visible_rows(spark, path, m, id_col)
    return None if rows is None else (
        rows.filter(F.col("band") == 0).select(id_col)
    )


def visible_ids(spark, path: str, m: dict, id_col: str):
    """DISTINCT visible doc ids (band 0 only), or None for an index
    with no data — the relation the upsert probe, the CDC visibility
    scan and the 'M'-op fold key on."""
    ids = _band0_ids(spark, path, m, id_col)
    return None if ids is None else ids.distinct()


def _id_field(spark, path: str, m: dict, id_col: str, rows=None):
    """The indexed id column's StructField: the manifest's ``id_type``
    when it carries one (SimHash), else the band-row schema (MinHash
    manifests carry no id type; an empty index defaults to bigint)."""
    from pyspark.sql import types as T

    if "id_type" in m:
        return id_field(m)
    if rows is None:
        live = _live(spark, path, m)
        if not live:
            return T.StructField(id_col, T.LongType())
        rows = read_committed(spark, f"{path}/{live[0]}")
    return T.StructField(id_col, rows.schema[id_col].dataType)


def _write_segment(spec, df, path: str, p: dict, text_col: str,
                   version: int) -> str:
    seg = tag(version, "seg")
    spec.band_rows(df, p, text_col, p.get("store_cols", [])).write.mode(
        "errorifexists"
    ).partitionBy("band").parquet(f"{path}/{seg}")
    return seg


# ---------------------------------------------------------- encode side
def write(spec: BandFamily, df: DataFrame, path: str, params: dict,
          extra: Optional[dict] = None, on_fresh=None) -> None:
    """The shared tail of ``<family>_index_write``: validate the
    common build params, band ``df`` into a fresh segment and commit a
    NEW manifest version listing only it (``extra`` adds manifest
    fields). A rebuild over a live index is NON-DESTRUCTIVE: readers of
    the previous manifest keep their files for one maintenance cycle,
    and a crash before the commit leaves the old index fully committed
    with the new data as an invisible orphan. ``on_fresh(vs)`` runs
    when nothing is committed yet (MinHash resets its legacy layout
    there)."""
    if params["keep_versions"] < 1:
        raise ValueError("keep_versions must be >= 1")
    store_cols = params["store_cols"]
    # text_col is reserved too: storing the raw document text on
    # EVERY band row is bands x text bytes of silent index bloat
    reserved = {*spec.reserved, params["id_col"], params["text_col"]}
    bad = [c for c in store_cols if c in reserved]
    if bad:
        raise ValueError(
            f"store_cols {bad} collide with the band-row schema's "
            f"reserved columns ({sorted(reserved)})"
        )
    check_store_cols(df, store_cols, f"{spec.family}_index_write")
    vs = _vs(spec, df.sparkSession, path)
    cur = vs.current()
    if cur is None:
        if on_fresh is not None:
            on_fresh(vs)
    else:
        # retention follows the PREVIOUS generation's policy; this
        # rebuild's keep_versions governs from its own commit forward
        vs.clean_stale(
            cur, keep_versions=retention(json.loads(vs.read_marker(cur)))
        )
        sweep_orphans(vs, path)
    new = (cur or 0) + 1
    seg = _write_segment(spec, df, path, params, params["text_col"], new)
    vs.commit(
        new,
        json.dumps(
            {"version": new, "params": params, **(extra or {}),
             "segments": [seg]}
        ),
    )


# ----------------------------------------------------------- serve side
def serve_rows(spec: BandFamily, spark, path: str, m: dict, p: dict,
               where: Optional[str] = None, allowed_ids=None):
    """The visible band rows a ``<family>_index_query`` probes: every
    live segment anti-joined against only the tombstones covering its
    version, scoped by ``where=`` (a DSL predicate over the stored
    metadata columns, compiled by the engine's filter parser and
    pushed by Catalyst into the band-row scans) and ``allowed_ids``
    (:func:`~parq_tools_spark.operators._index_common.
    apply_allowed_ids`). ``where`` is validated UP FRONT, so a bad
    predicate or a store_cols-less index fails identically whether the
    index is empty or not. Returns None for an index with no data."""
    id_col = p["id_col"]
    where_col = None
    if where is not None:
        from parq_tools_spark.plans.query_parser import (
            build_filter_expression,
        )

        stored = p.get("store_cols", [])
        if not stored:
            raise ValueError(
                f"{spec.what} at {path} stores no metadata columns; "
                "where= needs an index built with "
                f"{spec.family}_index_write(..., store_cols=[...])"
            )
        where_col = build_filter_expression(where, columns=stored)
    rows = _visible_rows(spark, path, m, id_col)
    if rows is None:
        return None
    if where_col is not None:
        rows = rows.filter(where_col)
    if allowed_ids is not None:
        rows = apply_allowed_ids(
            rows, id_col, allowed_ids,
            _id_field(spark, path, m, id_col, rows).dataType,
            f"{spec.family}_index_query",
        )
    return rows


# ------------------------------------------------------- lifecycle ops
def add(spec: BandFamily, df: DataFrame, path: str,
        text_col: str = "text") -> None:
    """Append a new batch's band rows as one immutable segment under
    the index's FROZEN params (ids must be new — the id-unique
    contract every index family shares; dedupe the batch with
    :func:`{family}_index_query` first).

    The append is ATOMIC: the band rows land in a fresh segment
    directory, then a new manifest version naming ``old segments +
    [new]`` commits via exclusive marker create. A crash mid-write
    leaves an invisible orphan (swept by the next maintenance cycle);
    a concurrent committer fails loudly instead of silently dropping
    either append."""
    spark = df.sparkSession
    vs, cur, m, p = resolve(spec, spark, path)
    vs.clean_stale(cur, keep_versions=retention(m))
    check_store_cols(
        df, p.get("store_cols", []), f"{spec.family}_index_add"
    )
    seg = _write_segment(spec, df, path, p, text_col, cur + 1)
    # {**m} carries every untouched manifest field forward — pending
    # tombstones included (dropping them would resurrect deleted
    # docs' band rows)
    vs.commit(
        cur + 1,
        json.dumps(
            {**m, "version": cur + 1,
             "segments": m["segments"] + [seg], "params": p}
        ),
    )


def delete(spec: BandFamily, spark, path: str, ids,
           _verified: bool = False) -> dict:
    """Delete documents' band rows by id — VERSION-SCOPED tombstones
    (the LSM protocol every index family shares): the ids land in an
    immutable ``del-`` directory recorded with the version it was
    committed at, :func:`{family}_index_query` anti-joins each segment
    against only the tombstones covering its version, so a later
    :func:`{family}_index_add` of the same id is immediately visible
    with no compaction in between. Compaction folds tombstones into
    the rewritten band rows and clears the list.

    Why this matters for dedup: a stale band row is not just wasted
    work — a new document colliding with a REMOVED document's bands
    would be dropped as a duplicate of content that no longer exists.

    ``ids`` is a sequence or a DataFrame (first column). Every id must
    be currently visible (membership via band 0 is exact); missing ids
    raise. ``_verified=True`` is the upsert/apply_cdc fast path whose
    ids were just derived FROM the visible band rows. Returns
    ``{"deleted": n, "version": v}``."""
    vs, cur, m, p = resolve(spec, spark, path)
    id_col = p["id_col"]
    _maintain(vs, path, cur, m)
    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).alias(id_col)).distinct()
    else:
        from pyspark.sql import types as T

        ids_df = spark.createDataFrame(
            [(i,) for i in ids],
            T.StructType([_id_field(spark, path, m, id_col)]),
        ).distinct()
    ids_df, st = eager_stats(ids_df, n=F.count(F.lit(1)))
    n_del = int(st["n"])
    if n_del == 0:
        return {"deleted": 0, "version": cur}
    if not _verified:
        band0 = _band0_ids(spark, path, m, id_col)
        n_found = (
            band0.join(F.broadcast(ids_df), on=id_col).distinct().count()
            if band0 is not None
            else 0
        )
        if n_found < n_del:
            raise ValueError(
                f"{spec.family}_index_delete: {n_del - n_found} of "
                f"{n_del} requested id(s) are not visible in the index "
                "(typo, never indexed, or already deleted)"
            )
    del_dir = tag(cur + 1, "del")
    ids_df.write.mode("errorifexists").parquet(f"{path}/{del_dir}")
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                "deletes": m.get("deletes", [])
                + [{"dir": del_dir, "upto": cur}],
            }
        ),
    )
    return {"deleted": n_del, "version": cur + 1}


def upsert(spec: BandFamily, df: DataFrame, path: str,
           text_col: str = "text", _visible_ids=None) -> dict:
    """Insert-or-replace a batch of documents: ids already visible
    are tombstoned (one :func:`{family}_index_delete` commit,
    visibility pre-verified from the band rows), then the whole
    batch's band rows append (:func:`{family}_index_add`) — the
    version-scoped tombstones make the re-added rows immediately
    visible, the O(batch) upsert contract every index family shares.
    ``_visible_ids`` is the apply_cdc fast path: a pre-materialized
    superset of the batch's visible ids, so a CDC batch never scans
    band 0 twice. Returns ``{"updated": u, "inserted": i, "version":
    v}``."""
    spark = df.sparkSession
    _, _, m, p = resolve(spec, spark, path)
    id_col = p["id_col"]
    # batch size + id-uniqueness in ONE aggregate job
    row = df.agg(
        F.count(F.lit(1)), F.countDistinct(F.col(id_col))
    ).first()
    n_rows, n_batch = int(row[0]), int(row[1])
    if n_batch < n_rows:
        raise ValueError(
            f"{spec.family}_index_upsert: batch carries "
            f"{n_rows - n_batch} duplicate {id_col} row(s) — one "
            f"document per id{spec.dup_note}"
        )
    ids_df = df.select(F.col(id_col)).distinct()
    visible = (
        _visible_ids
        if _visible_ids is not None
        else visible_ids(spark, path, m, id_col)
    )
    updated = 0
    if visible is not None:
        existing, st = eager_stats(
            visible.join(F.broadcast(ids_df), on=id_col).distinct(),
            n=F.count(F.lit(1)),
        )
        updated = int(st["n"])
        if updated:
            delete(spec, spark, path, existing, _verified=True)
    add(spec, df, path, text_col=text_col)
    return {
        "updated": updated,
        "inserted": n_batch - updated,
        "version": _vs(spec, spark, path).current(),
    }


def apply_cdc(spec: BandFamily, spark, path: str, changes: DataFrame,
              op_col: str = "op", seq_col: Optional[str] = None,
              text_col: str = "text") -> dict:
    """Apply a CDC batch (``op_col`` in 'I'/'U'/'D'/'M', optional
    ``seq_col``) — the exact contract of every index family's
    ``apply_cdc`` (shared ``_index_common.resolve_cdc``), so ONE change
    log keeps all of them in lockstep with a mutable corpus: last op
    per id wins, a final 'D' for an id not in the index is a NO-OP,
    final 'I'/'U' rows upsert. ONE band-0 visibility scan serves both
    the delete no-op filter and the upsert probe. 'M' (metadata-only)
    ops fold into :func:`{family}_index_update_metadata` AFTER the
    deletes and upserts (shared ``resolve_cdc_with_meta`` semantics:
    id plus ALL ``store_cols`` per 'M' row, not-visible ids are no-ops
    counted in ``meta_noops``, superseded 'M's vanish) — a re-grade
    never re-encodes. Returns ``{"deleted": d, "delete_noops": n,
    "updated": u, "inserted": i, "meta_updated": mu, "meta_noops": mn,
    "version": v}``."""
    fn = f"{spec.family}_index_apply_cdc"
    _, _, m, p = resolve(spec, spark, path)
    id_col = p["id_col"]
    store = p.get("store_cols", [])

    final, metas = resolve_cdc_with_meta(changes, id_col, op_col, seq_col)
    deletes = final.filter(F.col(op_col) == "D").select(id_col).distinct()
    # the text column is selected LAZILY: a delete-only change log
    # (no text_col in its schema) must apply cleanly
    ups_rows = final.filter(F.col(op_col).isin("I", "U"))
    # both branch sizes in ONE aggregate job over the (checkpointed)
    # resolved batch — resolve_cdc leaves at most one row per id
    sizes = final.agg(
        F.count(F.when(F.col(op_col) == "D", 1)),
        F.count(F.when(F.col(op_col).isin("I", "U"), 1)),
    ).first()
    n_d, has_ups = int(sizes[0]), bool(int(sizes[1]))

    # the delete and upsert ids are disjoint after resolve_cdc, so one
    # visibility scan restricted to the touched ids serves both, and
    # its checkpoint is O(batch)
    visible_touched = None
    if n_d or has_ups:
        touched = deletes
        if has_ups:
            touched = touched.unionByName(
                ups_rows.select(id_col)
            ).distinct()
        visible = visible_ids(spark, path, m, id_col)
        if visible is not None:
            visible_touched = materialize(
                visible.join(F.broadcast(touched), on=id_col).distinct()
            )

    n_deleted, n_noop = 0, 0
    if n_d:
        n_vis = 0
        if visible_touched is not None:
            visible_d, st = eager_stats(
                visible_touched.join(F.broadcast(deletes), on=id_col),
                n=F.count(F.lit(1)),
            )
            n_vis = int(st["n"])
            if n_vis:
                n_deleted = delete(
                    spec, spark, path, visible_d, _verified=True
                )["deleted"]
        n_noop = n_d - n_vis
    out = {
        "deleted": n_deleted,
        "delete_noops": n_noop,
        "updated": 0,
        "inserted": 0,
    }
    if has_ups:
        check_store_cols(ups_rows, store, fn)
        res = upsert(
            spec,
            ups_rows.select(id_col, text_col, *store),
            path,
            text_col=text_col,
            _visible_ids=visible_touched,
        )
        out.update({"updated": res["updated"], "inserted": res["inserted"]})
    out.update({"meta_updated": 0, "meta_noops": 0})
    if metas is not None:
        # visibility resolves POST-upsert (fresh manifest): an 'M' for
        # an id this very batch inserted must apply
        _, _, m2 = manifest(spec, spark, path)
        out.update(
            apply_cdc_meta(
                metas,
                store=store,
                src_id_col=id_col,
                dst_id_col=id_col,
                visible_ids=visible_ids(spark, path, m2, id_col),
                update_fn=lambda upd: update_metadata(
                    spec, spark, path, upd
                ),
                fn=fn,
            )
        )
    out["version"] = _vs(spec, spark, path).current()
    return out


def compact(spec: BandFamily, spark, path: str,
            target_file_bytes: int = 128 << 20,
            min_files_per_band: int = 8, force: bool = False) -> dict:
    """Compact the index after repeated appends: each add commits one
    small segment, so after K ingests query-scan cost creeps with file
    COUNT (task scheduling + footer reads), not data size. When any
    band's file count across the manifest's segments exceeds both
    ``min_files_per_band`` and its ``ceil(bytes / target_file_bytes)``
    target — or tombstones are pending, or ``force`` — the index is
    rewritten into ONE fresh segment: per band, a read of that band's
    files and a ``coalesce`` write (no shuffle: the band is the
    directory), the bands' rewrites overlapped from a small thread
    pool, then one manifest commit. Pending tombstones fold into the
    rewritten rows (each segment anti-joins only the batches covering
    its version) and the list clears, bounding the query-time
    anti-join side.

    Crash safety needs NO repair path: the rewrite goes into a new
    segment directory no reader can see until the manifest commit, so
    an interrupted compaction leaves only an orphan directory (swept
    next cycle) and queries keep serving the old manifest. Appends
    must not race compaction (the single maintenance-writer slot); a
    racing committer fails loudly on the exclusive marker.

    Returns ``{band: (files_before, files_after)}`` for bands whose
    file count dropped. ``{}`` with tombstones pending can still mean
    a rewrite committed (the fold is the point) — check the manifest
    version to detect a new generation."""
    import math

    vs, cur, m, p = resolve(spec, spark, path)
    _maintain(vs, path, cur, m)
    fs = vs.fs
    segments = m["segments"]

    # listing-only trigger: per-band file count + bytes across segments
    per_band: dict = {}
    for seg in segments:
        for entry, is_dir, _ in fs.list_status(f"{path}/{seg}"):
            if not (is_dir and entry.startswith("band=")):
                continue
            b = int(entry.split("=", 1)[1])
            files = [
                size
                for n, d, size in fs.list_status(f"{path}/{seg}/{entry}")
                if not d and n.endswith(".parquet")
            ]
            cnt, tot = per_band.get(b, (0, 0))
            per_band[b] = (cnt + len(files), tot + sum(files))
    targets = {
        b: max(1, math.ceil(tot / target_file_bytes))
        for b, (cnt, tot) in per_band.items()
    }
    batches = delete_batches(spark, path, m)
    if not force and not batches and not any(
        cnt > min_files_per_band and cnt > targets[b]
        for b, (cnt, tot) in per_band.items()
    ):
        return {}

    id_col = p["id_col"]
    new_seg = tag(cur + 1, "seg")

    def _rewrite_band(b) -> None:
        srcs = [s for s in segments if fs.exists(f"{path}/{s}/band={b}")]
        if not srcs:
            return
        if not batches:
            band_df = read_committed(
                spark, *[f"{path}/{s}/band={b}" for s in srcs]
            )
        else:
            band_df = reduce(
                DataFrame.unionByName,
                [
                    visible_scan(spark, path, s, batches, id_col).filter(
                        F.col("band") == b
                    )
                    for s in srcs
                ],
            ).drop("band")
        band_df.coalesce(targets[b]).write.mode("errorifexists").parquet(
            f"{path}/{new_seg}/band={b}"
        )

    # failures propagate BEFORE the commit (invisible orphans only)
    run_overlapped(_rewrite_band, sorted(per_band))
    vs.commit(
        cur + 1,
        json.dumps(
            {**m, "version": cur + 1, "segments": [new_seg], "deletes": []}
        ),
    )

    compacted = {}
    for b, (cnt, tot) in per_band.items():
        n_after = sum(
            1
            for n, d, _ in fs.list_status(f"{path}/{new_seg}/band={b}")
            if not d and n.endswith(".parquet")
        )
        if n_after < cnt:
            compacted[b] = (cnt, n_after)
    return compacted


def maybe_compact(spec: BandFamily, spark, path: str,
                  max_segments: int = 16,
                  max_delete_batches: int = 4) -> bool:
    """Stats-driven :func:`{family}_index_compact` (the shared
    :func:`~parq_tools_spark.operators._index_common.maybe_compact`
    trigger): rewrite only when the live manifest references more
    than ``max_segments`` segments or more than
    ``max_delete_batches`` tombstone batches are pending (each pending
    batch costs one anti-join per query; the band-row manifest carries
    no row counter, so the batch bound stands in for a tombstone
    fraction) — otherwise O(manifest) and do nothing. When triggered,
    compaction runs with ``force=True`` so the breach actually folds
    the segment list instead of re-triggering every batch. Returns
    True iff a compaction ran."""
    return _maybe_compact_trigger(
        spark,
        path,
        spec.marker,
        lambda: compact(spec, spark, path, force=True),
        max_segments=max_segments,
        max_delete_batches=max_delete_batches,
    )


def stats(spec: BandFamily, spark, path: str,
          version: Optional[int] = None) -> dict:
    """The resolved manifest's statistics — the staleness-contract
    inspection point every index family exposes; ``version=`` inspects
    a retained historical version (the shared time-travel contract).
    The band-row manifest carries no row counter (rows are
    per-document-per-band), so the dict reports structural signals
    only."""
    _, cur, m, p = resolve(spec, spark, path, version)
    return {
        "version": cur,
        "params": p,
        "n_segments": len(m["segments"]),
        "pending_delete_batches": len(m.get("deletes", [])),
    }


def update_metadata(spec: BandFamily, spark, path: str,
                    updates: DataFrame, max_segments: int = 0,
                    max_delete_batches: int = 0) -> dict:
    """Metadata-only update over ``store_cols`` — the band twin of
    ``ann_index_update_metadata``: the affected ids' visible band rows
    are read back (band payloads untouched, nothing re-encoded), their
    metadata columns replaced, and the rewritten rows committed as one
    new band-partitioned segment together with a version-scoped
    tombstone in a single atomic manifest commit. ``updates`` carries
    the index id column plus any subset of the index's ``store_cols``;
    one row per id, every id visible. ``max_segments`` /
    ``max_delete_batches`` arm the stats-driven compaction trigger
    AFTER the commit (:func:`{family}_index_maybe_compact`): a
    metadata-churn-only loop adds a segment + tombstone per call and
    would otherwise fragment the manifest until the next ingest. Both
    default OFF (0). Returns ``{"updated": n, "version": v}``."""
    fn = f"{spec.family}_index_update_metadata"
    vs, cur, m, p = resolve(spec, spark, path)
    _maintain(vs, path, cur, m)
    id_col = p["id_col"]
    upd_cols = check_metadata_updates(
        updates, id_col, p.get("store_cols", []), fn
    )
    upd, st = eager_stats(
        updates.select(
            id_col, *[F.col(c).alias(f"_upd_{c}") for c in upd_cols]
        ),
        n=F.count(F.lit(1)),
    )
    n_upd = int(st["n"])
    if n_upd == 0:
        return {"updated": 0, "version": cur}
    if upd.select(id_col).distinct().count() < n_upd:
        raise ValueError(
            f"{fn}: duplicate {id_col} row(s) in updates — one "
            "metadata row per id"
        )
    rows = _visible_rows(spark, path, m, id_col)
    if rows is None:
        raise ValueError(
            f"{fn}: none of the {n_upd} id(s) are visible in the "
            "(empty) index"
        )
    check_self_exclusion_types(
        updates.schema[id_col].dataType,
        rows.schema[id_col].dataType,
        f"{fn}: updates",
        remedy="Cast the update id column to the indexed id type.",
    )
    out_cols = [
        F.col(f"_upd_{c}").cast(rows.schema[c].dataType).alias(c)
        if c in upd_cols
        else F.col(c)
        for c in rows.columns
    ]
    seg = tag(cur + 1, "seg")
    rows.join(upd, on=id_col).select(*out_cols).write.mode(
        "errorifexists"
    ).partitionBy("band").parquet(f"{path}/{seg}")
    # visibility check from the WRITTEN segment's band-0 directory
    # (partition-pruned, O(affected)); failure leaves only an
    # invisible orphan
    n_found = (
        read_committed(spark, f"{path}/{seg}")
        .filter(F.col("band") == 0)
        .select(id_col)
        .distinct()
        .count()
        if vs.fs.list_files(f"{path}/{seg}")
        else 0
    )
    if n_found < n_upd:
        raise ValueError(
            f"{fn}: {n_upd - n_found} of {n_upd} requested id(s) are "
            "not visible in the index (typo, never indexed, or "
            "deleted) — refusing a partial update"
        )
    del_dir = tag(cur + 1, "del")
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
                "deletes": m.get("deletes", [])
                + [{"dir": del_dir, "upto": cur}],
            }
        ),
    )
    if max_segments or max_delete_batches:
        maybe_compact(
            spec, spark, path,
            max_segments=max_segments,
            max_delete_batches=max_delete_batches,
        )
    return {"updated": n_upd, "version": cur + 1}


def _rewrite_rows(spark, path: str, m: dict, id_col: str, fn: str):
    """Every VISIBLE band row, for the two evolution legs (backfill /
    prune). Raises when nothing is visible: committing a rewrite of
    zero rows would make a data-less directory the SOLE segment and
    break schema inference for every later query."""
    rows = _visible_rows(spark, path, m, id_col)
    if rows is None or not rows.take(1):
        raise ValueError(
            f"{fn}: the index holds no visible rows — nothing to "
            "rewrite"
        )
    return rows


def _commit_rewrite(out, path: str, vs, cur: int, m: dict, p: dict,
                    store_cols: list, task_splits) -> int:
    """Write rewritten band rows as ONE fresh segment and commit a
    COMPACTION-shaped manifest (``segments=[new]``, ``deletes=[]``)
    whose ``params.store_cols`` becomes ``store_cols`` in the SAME
    atomic commit: ``where=`` validation and every later ingest's
    ``check_store_cols`` see the new list the instant it is queryable,
    never before. Old segments stay on disk for the reader-grace cycle
    like any compaction. Returns the new version."""
    seg = tag(cur + 1, "seg")
    id_col = p["id_col"]
    with cached_for_auto(out, task_splits) as out_c:
        write_salted_segment(
            out_c, f"{path}/{seg}", "band", [id_col], id_col,
            resolve_task_splits(task_splits, out_c, "band", "task_splits"),
        )
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                "segments": [seg],
                "deletes": [],
                "params": {**p, "store_cols": store_cols},
            }
        ),
    )
    return cur + 1


def add_metadata_col(spec: BandFamily, spark, path: str,
                     values: DataFrame, default=NO_DEFAULT,
                     task_splits=1) -> dict:
    """Backfill NEW metadata column(s) over the index — the band twin
    of ``ann_index_add_metadata_col`` and the evolution leg of the
    metadata lifecycle: every VISIBLE band row is rewritten with the
    extra column(s) (band payloads carried as stored values, nothing
    re-encoded) and committed as ONE fresh segment whose manifest
    extends ``params.store_cols`` in the SAME atomic commit. ``values``
    may carry k new columns — ONE O(index) rewrite lands them all
    (``default`` a shared fill or a per-column dict). Works on a
    store_cols-less index (the first metadata columns); ids absent
    from ``values`` take ``default`` (omit it and an uncovered id
    raises before anything is written).

    The commit is COMPACTION-shaped, not the update path's
    segment+tombstone shape: a backfill touches every row, and
    tombstoning the whole index would bolt a full-index anti-join onto
    every query until the next fold. Pending tombstones fold into the
    rewrite. Cost: one id-lookup join plus one index-sized shuffle
    keyed by band (``task_splits`` salts it like the ingest writes).
    Returns ``{"added": [cols], "version": v}``."""
    fn = f"{spec.family}_index_add_metadata_col"
    vs, cur, m, p = resolve(spec, spark, path)
    _maintain(vs, path, cur, m)
    id_col = p["id_col"]
    store = list(p.get("store_cols", []))
    reserved = {
        *spec.reserved, id_col,
        # the index's own text column: an unprojected values frame
        # must not silently store the raw text on every band row
        # (older manifests lack the key: default name)
        p.get("text_col", "text"),
    }
    new_cols = check_add_metadata_col(
        values, id_col, store, reserved, fn, default=default
    )
    rows = _rewrite_rows(spark, path, m, id_col, fn)
    out, _ = backfill_metadata_rows(
        rows, values, id_col, new_cols, default, fn,
        # one row per id per band: band 0 alone is exact membership
        coverage_ids=rows.filter(F.col("band") == 0).select(id_col),
    )
    v = _commit_rewrite(
        out, path, vs, cur, m, p, store + new_cols, task_splits
    )
    return {"added": new_cols, "version": v}


def drop_metadata_col(spec: BandFamily, spark, path: str, cols,
                      task_splits=1) -> dict:
    """Drop stored metadata column(s) from the index — the PRUNE leg
    of the metadata lifecycle, the inverse of
    :func:`{family}_index_add_metadata_col`: every visible band row
    rewritten without the column(s), one compaction-shaped commit
    shrinking ``params.store_cols`` atomically. ``cols`` is one name
    or a list; dropping the last stored column reverts the index to
    store_cols-less, and serving ``where=`` against a dropped column
    then fails with the standard unknown-column error. Returns
    ``{"dropped": [cols], "version": v}``."""
    fn = f"{spec.family}_index_drop_metadata_col"
    vs, cur, m, p = resolve(spec, spark, path)
    _maintain(vs, path, cur, m)
    store = list(p.get("store_cols", []))
    cols = check_drop_metadata_cols(cols, store, fn)
    rows = _rewrite_rows(spark, path, m, p["id_col"], fn)
    v = _commit_rewrite(
        rows.drop(*cols), path, vs, cur, m, p,
        [c for c in store if c not in cols], task_splits,
    )
    return {"dropped": cols, "version": v}


#: The public lifecycle surface: ``<family>_index_<op>`` for each.
LIFECYCLE_OPS = (
    "add",
    "delete",
    "upsert",
    "apply_cdc",
    "compact",
    "maybe_compact",
    "stats",
    "update_metadata",
    "add_metadata_col",
    "drop_metadata_col",
)


def alias(spec: BandFamily, op: str):
    """The public ``<family>_index_<op>`` function: the shared op with
    ``spec`` bound, carrying its own name, module, docstring and the
    op's signature minus the spec — so ``help()`` and
    ``inspect.signature`` read exactly like a hand-written function."""
    impl = globals()[op]

    def bound(*args, **kwargs):
        return impl(spec, *args, **kwargs)

    sig = inspect.signature(impl)
    bound.__signature__ = sig.replace(
        parameters=list(sig.parameters.values())[1:]
    )
    bound.__name__ = bound.__qualname__ = f"{spec.family}_index_{op}"
    bound.__module__ = spec.module
    bound.__doc__ = impl.__doc__.replace("{family}", spec.family)
    return bound


def public(spec: BandFamily, op: str):
    """The family module's public ``<family>_index_<op>`` function."""
    import importlib

    return getattr(
        importlib.import_module(spec.module), f"{spec.family}_index_{op}"
    )


def op_table(spec: BandFamily) -> dict:
    """The family's ``open_index`` operation table: ``query`` plus
    every lifecycle op."""
    return {op: public(spec, op) for op in ("query", *LIFECYCLE_OPS)}
