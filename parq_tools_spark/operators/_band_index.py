"""One lifecycle for the segment-partitioned index families: the
band-row families (MinHash ``operators/dedup.py``, SimHash
``operators/simhash_index.py``) and the vector-ANN family
(``operators/ann_index.py``).

All three persist the same shape: per entry, rows carrying ``(id,
*store_cols, <payload>, <partition column>)`` in immutable segments
partitioned by one int column (``band=`` for the band families,
``cell=`` for ANN), under the versioned-manifest commit protocol of
``_index_common`` (generation tags, version-scoped tombstones,
one-cycle reader grace). They differ in how a batch is encoded into
index rows, how a probe batch is served, and a handful of layout
facts, so each family declares a frozen :class:`IndexFamily` spec and
every lifecycle op — manifest resolution, orphan sweep, visible ids,
add, delete, upsert, apply_cdc, compact, maybe_compact, stats and the
three metadata ops — exists ONCE here. The public
``<family>_index_<op>`` names are :func:`alias` bindings of these ops
to the family's spec, or short wrappers where a family keeps its own
parameter names (ANN's ``min_files_per_cell``,
``max_tombstone_frac``).
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

__all__ = ["IndexFamily", "alias", "public", "op_table", "write", "serve_rows"]


def manifest_params(spark, path: str, vs, m: Optional[dict]):
    """The default params resolver: params ride IN the manifest.
    ``m is None`` (nothing committed) has nothing to refuse."""
    return None if m is None else m["params"]


@dataclass(frozen=True)
class IndexFamily:
    """What distinguishes one index family from the others — a module
    constant, never user-settable.

    - ``family``: the public-name prefix (``<family>_index_<op>``);
      ``module``: the module that defines those names; ``build`` and
      ``query``: the ops that build and serve it (``write``/``query``
      for the band families, ``build``/``topk`` for ANN).
    - ``marker``: the manifest marker file its VersionedState commits.
    - ``reserved``: index-row columns a metadata column may not shadow
      (the payload and the partition column; the id and value columns
      are added from the params).
    - ``encode(df, params, value_col, model)``: encode a batch into
      index rows under the index's params (and frozen model).
    - ``part``: the int partition column of every segment.
    - ``one_row_per_id``: every index row is one entry (ANN). A band
      family writes one row per band, so membership reads band 0.
    - ``value_key``: the params key naming the encoded column when
      the index fixes it at build (ANN: ``vec_col``); None: the
      caller's ``text_col`` argument.
    - ``rows_key``: the manifest's live-entry counter (ANN:
      ``n_vecs``) — up on add, down on delete, the base of the
      ``max_tombstone_frac`` trigger; None: no counter.
    - ``model(fs, path, m)``: read the frozen model named by the
      manifest's ``model`` key, which ``encode`` gets; its ``model-*``
      files are swept with the segments once no manifest references
      them. None: the family has no trained model.
    - ``splits_key``: the params key of the stored segment-write salt
      (ANN: ``cell_task_splits``) — every segment is then written
      through the salted shuffle; None: plain ``partitionBy``.
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
    encode: Callable
    part: str = "band"
    build: str = "write"
    query: str = "query"
    one_row_per_id: bool = False
    value_key: Optional[str] = None
    rows_key: Optional[str] = None
    model: Optional[Callable] = None
    splits_key: Optional[str] = None
    params: Callable = manifest_params
    dup_note: str = ""

    @property
    def what(self) -> str:
        return f"{self.family} index"

    @property
    def build_hint(self) -> str:
        return f"; build one with {self.family}_index_{self.build}"


# ------------------------------------------------------------- plumbing
def _vs(spec: IndexFamily, spark, path: str):
    """The family's VersionedState at ``path``."""
    from parq_tools_spark.sources.statefs import VersionedState

    return VersionedState(spark, path, spec.marker)


def committed(spec: IndexFamily, spark, path: str) -> bool:
    """True iff ``path`` holds a committed manifest of this family —
    the streaming sinks' bootstrap gate."""
    return _vs(spec, spark, path).current() is not None


def manifest(spec: IndexFamily, spark, path: str, version=None):
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


def resolve(spec: IndexFamily, spark, path: str, version=None):
    """:func:`manifest` plus the family's resolved params:
    ``(vs, version, manifest_dict, params)``."""
    vs, cur, m = manifest(spec, spark, path, version)
    return vs, cur, m, spec.params(spark, path, vs, m)


def sweep_orphans(spec: IndexFamily, vs, path: str) -> None:
    """Delete ``seg-``/``del-`` directories (and ``model-`` files) no
    SURVIVING manifest references — leftovers of crashed
    writes/adds/compactions and of superseded versions past their
    reader grace. Mirrors ``clean_stale``'s one-cycle grace: the
    artifacts of any still-present committed version are kept."""
    referenced = set()
    for n, ok in vs.versions():
        if ok:
            mm = json.loads(vs.read_marker(n))
            referenced.update(mm["segments"])
            referenced.update(e["dir"] for e in delete_entries(mm))
            if spec.model is not None:
                referenced.add(mm["model"])
    files = ("model-",) if spec.model is not None else ()
    for entry, is_dir, _ in vs.fs.list_status(path):
        if entry in referenced:
            continue
        if entry.startswith(("seg-", "del-") if is_dir else files):
            vs.fs.delete(f"{path}/{entry}")


def _maintain(spec: IndexFamily, vs, path: str, cur: int, m: dict) -> None:
    # sweep at cycle START: state superseded LAST cycle goes now, so
    # in-flight readers of the previous manifest get a full cycle
    vs.clean_stale(cur, keep_versions=retention(m))
    sweep_orphans(spec, vs, path)


def _live(spark, path: str, m: dict) -> list:
    from parq_tools_spark.sources.statefs import StateFS

    fs = StateFS(spark, path)
    return [s for s in m["segments"] if fs.list_files(f"{path}/{s}")]


def visible_rows(spark, path: str, m: dict, id_col: str):
    """Every visible index row: each live segment anti-joined against
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


def _members(spec: IndexFamily, rows):
    """The rows holding each entry exactly once: every row of a
    one-row-per-id family, band 0 of a band family (one row per band,
    so one partition-pruned directory per segment is exact membership
    at 1/bands of the scan)."""
    return rows if spec.one_row_per_id else rows.filter(F.col(spec.part) == 0)


def visible_ids(spec: IndexFamily, spark, path: str, m: dict, id_col: str):
    """Visible entry ids, or None for an index with no data — the
    relation the delete check, the upsert probe, the CDC visibility
    scan and the 'M'-op fold key on. NOT de-duplicated: each caller
    joins it against a batch first and keeps the DISTINCT on that
    batch-sized side."""
    rows = visible_rows(spark, path, m, id_col)
    return None if rows is None else _members(spec, rows).select(id_col)


def _id_field(spark, path: str, m: dict, id_col: str, rows=None):
    """The indexed id column's StructField: the manifest's ``id_type``
    when it carries one (SimHash, ANN), else the index-row schema
    (MinHash manifests carry no id type; an empty index defaults to
    bigint)."""
    from pyspark.sql import types as T

    if "id_type" in m:
        return id_field(m)
    if rows is None:
        live = _live(spark, path, m)
        if not live:
            return T.StructField(id_col, T.LongType())
        rows = read_committed(spark, f"{path}/{live[0]}")
    return T.StructField(id_col, rows.schema[id_col].dataType)


def _value_col(spec: IndexFamily, p: dict, text_col: str) -> str:
    return text_col if spec.value_key is None else p[spec.value_key]


def write_rows(spec: IndexFamily, rows, seg_path: str, p: dict,
               task_splits=None) -> None:
    """Write index rows as ONE segment directory partitioned by
    ``spec.part``. ``task_splits`` (the metadata rewrites' argument),
    or else the index's stored ``spec.splits_key`` setting, routes the
    write through the shared salted shuffle
    (:func:`~parq_tools_spark.operators._index_common.
    write_salted_segment`: id-sorted files, hot partitions split
    across tasks, ``"auto"`` measured on a cached batch); with neither
    the rows go straight to a ``partitionBy`` write."""
    what = "task_splits"
    if task_splits is None and spec.splits_key is not None:
        task_splits, what = p.get(spec.splits_key, 1), spec.splits_key
    if task_splits is None:
        rows.write.mode("errorifexists").partitionBy(spec.part).parquet(
            seg_path
        )
        return
    id_col = p["id_col"]
    with cached_for_auto(rows, task_splits) as rows_c:
        write_salted_segment(
            rows_c, seg_path, spec.part, [id_col], id_col,
            resolve_task_splits(task_splits, rows_c, spec.part, what),
        )


def write_segment(spec: IndexFamily, vs, df, path: str, m: dict, p: dict,
                  text_col: str, version: int, model=None):
    """Encode ``df`` under the index's params and frozen model (read
    from the manifest unless a build passes the one it just trained)
    into a fresh segment. Returns ``(segment, counter)``: ``counter``
    is the manifest update of ``spec.rows_key`` (the encoded row count
    rides the write as an Observation — encoders are row-1:1 per
    entry, so no separate count pass), empty for families without a
    counter."""
    from pyspark.sql import Observation

    if model is None and spec.model is not None:
        model = spec.model(vs.fs, path, m)
    rows = spec.encode(df, p, _value_col(spec, p, text_col), model)
    obs = None
    if spec.rows_key is not None:
        obs = Observation()
        rows = rows.observe(obs, F.count(F.lit(1)).alias("n"))
    seg = tag(version, "seg")
    write_rows(spec, rows, f"{path}/{seg}", p)
    if obs is None:
        return seg, {}
    return seg, {spec.rows_key: m.get(spec.rows_key, 0) + int(obs.get["n"])}


def compile_where(spec: IndexFamily, path: str, p: dict,
                  where: Optional[str]):
    """``where=`` (a DSL predicate over the stored metadata columns)
    compiled by the engine's filter parser, or None. Validated UP
    FRONT by every serving path, so a bad predicate or a
    store_cols-less index fails identically whether the index is
    empty or not."""
    if where is None:
        return None
    from parq_tools_spark.plans.query_parser import build_filter_expression

    stored = p.get("store_cols", [])
    if not stored:
        raise ValueError(
            f"{spec.what} at {path} stores no metadata columns; "
            "where= needs an index built with "
            f"{spec.family}_index_{spec.build}(..., store_cols=[...])"
        )
    return build_filter_expression(where, columns=stored)


# ---------------------------------------------------------- encode side
def write(spec: IndexFamily, df: DataFrame, path: str, params: dict,
          extra: Optional[dict] = None, on_fresh=None) -> None:
    """The shared tail of a band family's ``<family>_index_write``:
    validate the common build params, band ``df`` into a fresh segment
    and commit a NEW manifest version listing only it (``extra`` adds
    manifest fields). A rebuild over a live index is NON-DESTRUCTIVE:
    readers of the previous manifest keep their files for one
    maintenance cycle, and a crash before the commit leaves the old
    index fully committed with the new data as an invisible orphan.
    ``on_fresh(vs)`` runs when nothing is committed yet (MinHash
    resets its legacy layout there)."""
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
        sweep_orphans(spec, vs, path)
    new = (cur or 0) + 1
    seg, _ = write_segment(
        spec, vs, df, path, {}, params, params["text_col"], new
    )
    vs.commit(
        new,
        json.dumps(
            {"version": new, "params": params, **(extra or {}),
             "segments": [seg]}
        ),
    )


# ----------------------------------------------------------- serve side
def serve_rows(spec: IndexFamily, spark, path: str, m: dict, p: dict,
               where: Optional[str] = None, allowed_ids=None):
    """The visible band rows a ``<family>_index_query`` probes: every
    live segment anti-joined against only the tombstones covering its
    version, scoped by ``where=`` (:func:`compile_where`, pushed by
    Catalyst into the band-row scans) and ``allowed_ids``
    (:func:`~parq_tools_spark.operators._index_common.
    apply_allowed_ids`). Returns None for an index with no data."""
    id_col = p["id_col"]
    where_col = compile_where(spec, path, p, where)
    rows = visible_rows(spark, path, m, id_col)
    if rows is None:
        return None
    if where_col is not None:
        rows = rows.filter(where_col)
    if allowed_ids is not None:
        rows = apply_allowed_ids(
            rows, id_col, allowed_ids,
            _id_field(spark, path, m, id_col, rows).dataType,
            f"{spec.family}_index_{spec.query}",
        )
    return rows


# ------------------------------------------------------- lifecycle ops
def add(spec: IndexFamily, df: DataFrame, path: str,
        text_col: str = "text") -> None:
    """Append a new batch's index rows as one immutable segment under
    the index's FROZEN params (and frozen model, for a trained index).
    Ids must be new — the id-unique contract every index family
    shares; dedupe the batch with :func:`{family}_index_query` first.

    The append is ATOMIC: the rows land in a fresh segment directory,
    then a new manifest version naming ``old segments + [new]``
    commits via exclusive marker create. A crash mid-write leaves an
    invisible orphan (swept by the next maintenance cycle, which this
    call also runs first); a concurrent committer fails loudly instead
    of silently dropping either append."""
    spark = df.sparkSession
    vs, cur, m, p = resolve(spec, spark, path)
    _maintain(spec, vs, path, cur, m)
    check_store_cols(
        df, p.get("store_cols", []), f"{spec.family}_index_add"
    )
    seg, counter = write_segment(spec, vs, df, path, m, p, text_col, cur + 1)
    # {**m} carries every untouched manifest field forward — pending
    # tombstones included (dropping them would resurrect deleted
    # entries' rows)
    vs.commit(
        cur + 1,
        json.dumps(
            {**m, "version": cur + 1, **counter,
             "segments": m["segments"] + [seg], "params": p}
        ),
    )


def delete(spec: IndexFamily, spark, path: str, ids,
           _verified: bool = False) -> dict:
    """Delete entries' index rows by id — VERSION-SCOPED tombstones
    (the LSM protocol every index family shares): the ids land in an
    immutable ``del-`` directory recorded with the version it was
    committed at, serving anti-joins each segment against only the
    tombstones covering its version, so a later
    :func:`{family}_index_add` of the same id is immediately visible
    with no compaction in between (upserts stay O(batch)). Compaction
    folds tombstones into the rewritten rows and clears the list.

    Why this matters for dedup: a stale row is not just wasted work —
    a new entry colliding with a REMOVED entry would be dropped as a
    duplicate of content that no longer exists.

    ``ids`` is a sequence or a DataFrame (first column). Every id must
    be currently visible; missing ids raise (a counted index would
    otherwise corrupt its live-entry counter). ``_verified=True`` is
    the upsert/apply_cdc fast path whose ids were just derived FROM
    the visible rows. Returns ``{"deleted": n, "version": v}``."""
    vs, cur, m, p = resolve(spec, spark, path)
    id_col = p["id_col"]
    _maintain(spec, vs, path, cur, m)
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
        visible = visible_ids(spec, spark, path, m, id_col)
        n_found = (
            visible.join(F.broadcast(ids_df), on=id_col).distinct().count()
            if visible is not None
            else 0
        )
        if n_found < n_del:
            raise ValueError(
                f"{spec.family}_index_delete: {n_del - n_found} of "
                f"{n_del} requested id(s) are not visible in the index "
                "(typo, never indexed, or already deleted)"
                + (
                    f" — deleting them would corrupt {spec.rows_key}"
                    if spec.rows_key
                    else ""
                )
            )
    del_dir = tag(cur + 1, "del")
    ids_df.write.mode("errorifexists").parquet(f"{path}/{del_dir}")
    counter = (
        {spec.rows_key: m[spec.rows_key] - n_del} if spec.rows_key else {}
    )
    vs.commit(
        cur + 1,
        json.dumps(
            {
                **m,
                "version": cur + 1,
                **counter,
                "deletes": m.get("deletes", [])
                + [{"dir": del_dir, "upto": cur}],
            }
        ),
    )
    return {"deleted": n_del, "version": cur + 1}


def upsert(spec: IndexFamily, df: DataFrame, path: str,
           text_col: str = "text", _visible_ids=None) -> dict:
    """Insert-or-replace a batch of entries: ids already visible are
    tombstoned (one :func:`{family}_index_delete` commit, visibility
    pre-verified from the index rows), then the whole batch encodes
    and appends (:func:`{family}_index_add`) — the version-scoped
    tombstones make the re-added rows immediately visible, the
    O(batch) upsert contract every index family shares, never an
    index rewrite. ``_visible_ids`` is the apply_cdc fast path: a
    pre-materialized superset of the batch's visible ids, so a CDC
    batch never scans the index twice. Returns ``{"updated": u,
    "inserted": i, "version": v}``."""
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
            f"entry per id{spec.dup_note}"
        )
    ids_df = df.select(F.col(id_col)).distinct()
    visible = (
        _visible_ids
        if _visible_ids is not None
        else visible_ids(spec, spark, path, m, id_col)
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


def apply_cdc(spec: IndexFamily, spark, path: str, changes: DataFrame,
              op_col: str = "op", seq_col: Optional[str] = None,
              text_col: str = "text") -> dict:
    """Apply a CDC batch (``op_col`` in 'I'/'U'/'D'/'M', optional
    ``seq_col``) — the exact contract of every index family's
    ``apply_cdc`` (shared ``_index_common.resolve_cdc``), so ONE change
    log keeps all of them in lockstep with a mutable corpus: the LAST
    op per id wins, ordered by ``(seq desc, op desc)`` (a
    same-sequence 'U' beats 'D'); a final 'D' for an id not in the
    index is a NO-OP (the I-then-D short-lived-row pattern); final
    'I'/'U' rows upsert. ONE visibility scan serves both the delete
    no-op filter and the upsert probe. 'M' (metadata-only) ops fold
    into :func:`{family}_index_update_metadata` AFTER the deletes and
    upserts (shared ``resolve_cdc_with_meta`` semantics: id plus ALL
    ``store_cols`` per 'M' row and no encoded column, not-visible ids
    are no-ops counted in ``meta_noops``, superseded 'M's vanish) — a
    re-grade never re-encodes. Returns ``{"deleted": d,
    "delete_noops": n, "updated": u, "inserted": i, "meta_updated":
    mu, "meta_noops": mn, "version": v}``."""
    fn = f"{spec.family}_index_apply_cdc"
    _, _, m, p = resolve(spec, spark, path)
    id_col = p["id_col"]
    store = p.get("store_cols", [])

    final, metas = resolve_cdc_with_meta(changes, id_col, op_col, seq_col)
    deletes = final.filter(F.col(op_col) == "D").select(id_col).distinct()
    # the encoded column is selected LAZILY: a delete-only change log
    # (no text/vector column in its schema) must apply cleanly
    ups_rows = final.filter(F.col(op_col).isin("I", "U"))
    # both branch sizes in ONE aggregate job over the (checkpointed)
    # resolved batch — resolve_cdc leaves at most one row per id
    sizes = final.agg(
        F.count(F.when(F.col(op_col) == "D", 1)),
        F.count(F.when(F.col(op_col).isin("I", "U"), 1)),
    ).first()
    n_d, has_ups = int(sizes[0]), bool(int(sizes[1]))

    # the delete and upsert ids are disjoint after resolve_cdc (and
    # the tombstone commit between them cannot change the upsert ids'
    # visibility), so one visibility scan restricted to the touched
    # ids serves both, and its checkpoint is O(batch)
    visible_touched = None
    if n_d or has_ups:
        touched = deletes
        if has_ups:
            touched = touched.unionByName(
                ups_rows.select(id_col)
            ).distinct()
        visible = visible_ids(spec, spark, path, m, id_col)
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
        # validate here for the clear message — the bare select would
        # throw UNRESOLVED_COLUMN before add's own check runs
        check_store_cols(ups_rows, store, fn)
        res = upsert(
            spec,
            ups_rows.select(id_col, _value_col(spec, p, text_col), *store),
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
                visible_ids=visible_ids(spec, spark, path, m2, id_col),
                update_fn=lambda upd: update_metadata(
                    spec, spark, path, upd
                ),
                fn=fn,
            )
        )
    out["version"] = _vs(spec, spark, path).current()
    return out


def compact(spec: IndexFamily, spark, path: str,
            target_file_bytes: int = 128 << 20,
            min_files_per_band: int = 8, force: bool = False) -> dict:
    """Compact the index after repeated appends: each add commits one
    small segment, so after K ingests query-scan cost creeps with file
    COUNT (task scheduling + footer reads), not data size. When any
    partition's file count across the manifest's segments exceeds
    both ``min_files_per_band`` and its ``ceil(bytes /
    target_file_bytes)`` target — or tombstones are pending, or
    ``force`` (the stats-driven ``maybe_compact`` path: a breached
    SEGMENT bound must fold even when every file already sits at its
    byte target) — the index is rewritten into ONE fresh segment: per
    partition, a read of that partition's files and a ``coalesce``
    write (no shuffle: the partition is the directory), the rewrites
    overlapped from a small thread pool, then one manifest commit.
    Pending tombstones fold into the rewritten rows (each segment
    anti-joins only the batches covering its version) and the list
    clears, bounding the query-time anti-join side.

    Crash safety needs NO repair path: the rewrite goes into a new
    segment directory no reader can see until the manifest commit, so
    an interrupted compaction leaves only an orphan directory (swept
    next cycle) and queries keep serving the old manifest. Appends
    must not race compaction (the single maintenance-writer slot); a
    racing committer fails loudly on the exclusive marker.

    Returns ``{partition: (files_before, files_after)}`` for
    partitions whose file count dropped. ``{}`` with tombstones
    pending can still mean a rewrite committed (the fold is the
    point) — check the manifest version to detect a new generation."""
    import math

    vs, cur, m, p = resolve(spec, spark, path)
    _maintain(spec, vs, path, cur, m)
    fs = vs.fs
    segments = m["segments"]
    prefix = f"{spec.part}="

    # listing-only trigger: per-partition file count + bytes
    per_part: dict = {}
    for seg in segments:
        for entry, is_dir, _ in fs.list_status(f"{path}/{seg}"):
            if not (is_dir and entry.startswith(prefix)):
                continue
            b = int(entry.split("=", 1)[1])
            files = [
                size
                for n, d, size in fs.list_status(f"{path}/{seg}/{entry}")
                if not d and n.endswith(".parquet")
            ]
            cnt, tot = per_part.get(b, (0, 0))
            per_part[b] = (cnt + len(files), tot + sum(files))
    targets = {
        b: max(1, math.ceil(tot / target_file_bytes))
        for b, (cnt, tot) in per_part.items()
    }
    batches = delete_batches(spark, path, m)
    if not force and not batches and not any(
        cnt > min_files_per_band and cnt > targets[b]
        for b, (cnt, tot) in per_part.items()
    ):
        return {}

    id_col = p["id_col"]
    new_seg = tag(cur + 1, "seg")

    def _rewrite(b) -> None:
        srcs = [s for s in segments if fs.exists(f"{path}/{s}/{prefix}{b}")]
        if not srcs:
            return
        if not batches:
            # one multi-path read (per-segment plans exist only to
            # scope tombstone anti-joins)
            part_df = read_committed(
                spark, *[f"{path}/{s}/{prefix}{b}" for s in srcs]
            )
        else:
            # the partition filter is pruning, so the rewrite stays
            # map-only per partition
            part_df = reduce(
                DataFrame.unionByName,
                [
                    visible_scan(spark, path, s, batches, id_col).filter(
                        F.col(spec.part) == b
                    )
                    for s in srcs
                ],
            ).drop(spec.part)
        part_df.coalesce(targets[b]).write.mode("errorifexists").parquet(
            f"{path}/{new_seg}/{prefix}{b}"
        )

    # failures propagate BEFORE the commit (invisible orphans only)
    run_overlapped(_rewrite, sorted(per_part))
    vs.commit(
        cur + 1,
        json.dumps(
            {**m, "version": cur + 1, "segments": [new_seg], "deletes": []}
        ),
    )

    compacted = {}
    for b, (cnt, tot) in per_part.items():
        n_after = sum(
            1
            for n, d, _ in fs.list_status(f"{path}/{new_seg}/{prefix}{b}")
            if not d and n.endswith(".parquet")
        )
        if n_after < cnt:
            compacted[b] = (cnt, n_after)
    return compacted


def compact_when(spec: IndexFamily, spark, path: str, **bounds) -> bool:
    """The shared stats-driven trigger
    (:func:`~parq_tools_spark.operators._index_common.maybe_compact`)
    over this family's manifest: ``bounds`` are its ``max_segments`` /
    ``max_delete_batches`` / ``max_tombstone_frac`` (the last against
    ``spec.rows_key``). A breach compacts with ``force=True``, so it
    actually folds the segment list instead of re-triggering every
    batch. No-op (False) on an uncommitted index."""
    return _maybe_compact_trigger(
        spark,
        path,
        spec.marker,
        lambda: compact(spec, spark, path, force=True),
        rows_key=spec.rows_key,
        **bounds,
    )


def maybe_compact(spec: IndexFamily, spark, path: str,
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
    return compact_when(
        spec, spark, path,
        max_segments=max_segments,
        max_delete_batches=max_delete_batches,
    )


def stats(spec: IndexFamily, spark, path: str,
          version: Optional[int] = None) -> dict:
    """The resolved manifest's statistics — the staleness-contract
    inspection point every index family exposes (compare ``version``
    against a served result's ``index_version``); ``version=``
    inspects a retained historical version (the shared time-travel
    contract). A family with a live-entry counter reports it (ANN's
    ``n_vecs``); band-row manifests carry none (rows are
    per-document-per-band), so theirs report structural signals
    only."""
    _, cur, m, p = resolve(spec, spark, path, version)
    counter = {spec.rows_key: m[spec.rows_key]} if spec.rows_key else {}
    return {
        "version": cur,
        **counter,
        "params": p,
        "n_segments": len(m["segments"]),
        "pending_delete_batches": len(m.get("deletes", [])),
    }


def update_metadata(spec: IndexFamily, spark, path: str,
                    updates: DataFrame, max_segments: int = 0,
                    max_delete_batches: int = 0) -> dict:
    """Metadata-ONLY update over ``store_cols``: flip stored metadata
    values (a license re-grade, a recomputed quality score) WITHOUT
    re-encoding anything — the affected ids' visible index rows are
    read back (payloads untouched), their metadata columns replaced,
    and the rewritten rows committed as one new segment together with
    a version-scoped tombstone hiding the old rows, in a single atomic
    manifest commit (a crash leaves invisible orphans and the old
    metadata fully served). ``updates`` carries the index id column
    plus any subset of the index's ``store_cols``; one row per id,
    every id visible (a typo'd id raises rather than silently updating
    nothing), id type join-compatible with the index's — all checked
    before any maintenance or Spark job. Updated values are CAST to
    the stored column types, so no segment's schema drifts from its
    siblings'. ``max_segments`` / ``max_delete_batches`` arm the
    stats-driven compaction trigger AFTER the commit
    (:func:`{family}_index_maybe_compact`): a metadata-churn-only loop
    adds a segment + tombstone per call and would otherwise fragment
    the manifest until the next ingest. Both default OFF (0). Returns
    ``{"updated": n, "version": v}``."""
    fn = f"{spec.family}_index_update_metadata"
    vs, cur, m, p = resolve(spec, spark, path)
    id_col = p["id_col"]
    upd_cols = check_metadata_updates(
        updates, id_col, p.get("store_cols", []), fn
    )
    check_self_exclusion_types(
        updates.schema[id_col].dataType,
        _id_field(spark, path, m, id_col).dataType,
        f"{fn}: updates",
        remedy="Cast the update id column to the indexed id type.",
    )
    _maintain(spec, vs, path, cur, m)
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
    rows = visible_rows(spark, path, m, id_col)
    if rows is None:
        raise ValueError(
            f"{fn}: none of the {n_upd} id(s) are visible in the "
            "(empty) index"
        )
    out_cols = [
        F.col(f"_upd_{c}").cast(rows.schema[c].dataType).alias(c)
        if c in upd_cols
        else F.col(c)
        for c in rows.columns
    ]
    seg = tag(cur + 1, "seg")
    write_rows(
        spec, rows.join(upd, on=id_col).select(*out_cols),
        f"{path}/{seg}", p,
    )
    # visibility check from the WRITTEN segment (O(affected) rows read
    # back, not the index again); a failure leaves only an invisible
    # orphan. A no-match join writes a fileless directory that cannot
    # be schema-inferred, so the listing gates the read.
    n_found = (
        _members(spec, read_committed(spark, f"{path}/{seg}"))
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
    """Every VISIBLE index row, for the two evolution legs (backfill /
    prune). Raises when nothing is visible: committing a rewrite of
    zero rows would make a data-less directory the SOLE segment and
    break schema inference for every later query."""
    rows = visible_rows(spark, path, m, id_col)
    if rows is None or not rows.take(1):
        raise ValueError(
            f"{fn}: the index holds no visible rows — nothing to "
            "rewrite"
        )
    return rows


def _commit_rewrite(spec: IndexFamily, out, path: str, vs, cur: int,
                    m: dict, p: dict, store_cols: list,
                    task_splits) -> int:
    """Write rewritten index rows as ONE fresh segment and commit a
    COMPACTION-shaped manifest (``segments=[new]``, ``deletes=[]``)
    whose ``params.store_cols`` becomes ``store_cols`` in the SAME
    atomic commit: ``where=`` validation and every later ingest's
    ``check_store_cols`` see the new list the instant it is queryable,
    never before. Every other manifest field (model, row counter)
    carries over — the payloads did not change. Old segments stay on
    disk for the reader-grace cycle like any compaction. Returns the
    new version."""
    seg = tag(cur + 1, "seg")
    write_rows(spec, out, f"{path}/{seg}", p, task_splits)
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


def add_metadata_col(spec: IndexFamily, spark, path: str,
                     values: DataFrame, default=NO_DEFAULT,
                     task_splits=1) -> dict:
    """Backfill NEW metadata column(s) over the index — the evolution
    leg of the ``store_cols`` lifecycle (store → ``where=`` filter →
    ``update_metadata`` → **evolve** → prune): a score computed AFTER
    the build becomes a served, filterable column without re-encoding
    anything. Every VISIBLE index row is rewritten with the extra
    column(s) (payloads carried as stored values) and committed as ONE
    fresh segment whose manifest extends ``params.store_cols`` in the
    SAME atomic commit. ``values`` may carry k new columns — ONE
    O(index) rewrite lands them all (``default`` a shared fill or a
    per-column dict). Works on a store_cols-less index (the first
    metadata columns); ids absent from ``values`` take ``default``
    (omit it and an uncovered id raises before anything is written;
    extra ids in ``values`` are ignored).

    The commit is COMPACTION-shaped, not the update path's
    segment+tombstone shape: a backfill touches every row, and
    tombstoning the whole index would bolt a full-index anti-join onto
    every query until the next fold. Pending tombstones fold into the
    rewrite. Cost: one id-lookup join plus one index-sized shuffle
    keyed by the partition column (``task_splits`` salts it like the
    ingest writes). Returns ``{"added": [cols], "version": v}``."""
    fn = f"{spec.family}_index_add_metadata_col"
    vs, cur, m, p = resolve(spec, spark, path)
    id_col = p["id_col"]
    store = list(p.get("store_cols", []))
    reserved = {
        *spec.reserved, id_col,
        # the index's own encoded column: an unprojected values frame
        # must not silently store the raw text/vector on every row
        # (older band manifests lack the text_col key: default name)
        p.get(spec.value_key or "text_col", "text"),
    }
    new_cols = check_add_metadata_col(
        values, id_col, store, reserved, fn, default=default
    )
    _maintain(spec, vs, path, cur, m)
    rows = _rewrite_rows(spark, path, m, id_col, fn)
    out, _ = backfill_metadata_rows(
        rows, values, id_col, new_cols, default, fn,
        coverage_ids=_members(spec, rows).select(id_col),
    )
    v = _commit_rewrite(
        spec, out, path, vs, cur, m, p, store + new_cols, task_splits
    )
    return {"added": new_cols, "version": v}


def drop_metadata_col(spec: IndexFamily, spark, path: str, cols,
                      task_splits=1) -> dict:
    """Drop stored metadata column(s) from the index — the PRUNE leg
    of the metadata lifecycle, the inverse of
    :func:`{family}_index_add_metadata_col`: every visible index row
    rewritten without the column(s) (nothing re-encoded), one
    compaction-shaped commit shrinking ``params.store_cols``
    atomically. Until this runs, a superseded column pays its bytes
    on every scan. ``cols`` is one name or a list; dropping the last
    stored column reverts the index to store_cols-less, and serving
    ``where=`` against a dropped column then fails with the standard
    unknown-column error. Returns ``{"dropped": [cols], "version":
    v}``."""
    fn = f"{spec.family}_index_drop_metadata_col"
    vs, cur, m, p = resolve(spec, spark, path)
    store = list(p.get("store_cols", []))
    cols = check_drop_metadata_cols(cols, store, fn)
    _maintain(spec, vs, path, cur, m)
    rows = _rewrite_rows(spark, path, m, p["id_col"], fn)
    v = _commit_rewrite(
        spec, rows.drop(*cols), path, vs, cur, m, p,
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


def alias(spec: IndexFamily, op: str):
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


def public(spec: IndexFamily, op: str):
    """The family module's public ``<family>_index_<op>`` function."""
    import importlib

    return getattr(
        importlib.import_module(spec.module), f"{spec.family}_index_{op}"
    )


def op_table(spec: IndexFamily) -> dict:
    """The family's ``open_index`` operation table: ``query`` (the
    family's serving op) plus every lifecycle op."""
    return {
        "query": public(spec, spec.query),
        **{op: public(spec, op) for op in LIFECYCLE_OPS},
    }
