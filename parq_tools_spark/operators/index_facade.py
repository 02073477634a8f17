"""One entry point over the four persisted-index families
(vector-ANN ``ann_index.py``, BM25 ``search.py``, MinHash
``dedup.py``, SimHash ``simhash_index.py``): ``open_index(spark,
path)`` sniffs which family's manifest marker the path holds and
returns a handle exposing the shared operation surface —
``query / stats / versions / add / delete / upsert / apply_cdc /
compact / maybe_compact / update_metadata / add_metadata_col /
drop_metadata_col`` — with the family's own public functions behind
it (same defaults, same semantics, nothing re-implemented here).

What the families share: every family follows one PROTOCOL
(``_index_common.py`` — generation tags, version-scoped tombstones,
manifest resolution, the CDC and metadata contracts). Three of them
— MinHash and SimHash (band rows) and ANN (PQ code rows plus a
model file) — also share one IMPLEMENTATION: their data models are
rows in int-partitioned segments (``band=``/``cell=``), so every
lifecycle op exists once in ``_band_index.py``, and each family's
public ``*_index_<op>`` names are that op bound to the family's spec
(ANN's through short wrappers that keep its own parameter names).
This facade takes their operation tables from those specs. BM25
(postings + term snapshots) still implements the lifecycle itself.

The facade is the read-side convenience for code that holds a path
and doesn't know — or care — which family wrote it: maintenance jobs
sweeping a directory of indexes, inspection tooling, REPL forensics.

The full per-family surface is tabulated in ``MIGRATION.md`` (the
per-family function names this dispatches to).
"""

from __future__ import annotations

from typing import Optional

# the one marker table lives with the protocol every family imports;
# re-exported here for callers that sniff paths
from parq_tools_spark.operators._index_common import INDEX_MARKERS

__all__ = ["open_index", "IndexHandle", "INDEX_MARKERS"]


def _ops(family: str) -> dict:
    """The family's function table, imported lazily (the facade must
    not drag all four modules in for one handle)."""
    from parq_tools_spark.operators._band_index import op_table

    if family == "ann":
        from parq_tools_spark.operators import ann_index as m

        return {**op_table(m.INDEX_FAMILY), "retrain": m.ann_index_retrain}
    if family == "bm25":
        from parq_tools_spark.operators import search as m

        return {
            "query": m.bm25_index_topk,
            "stats": m.bm25_index_stats,
            "add": m.bm25_index_add,
            "delete": m.bm25_index_delete,
            "upsert": m.bm25_index_upsert,
            "apply_cdc": m.bm25_index_apply_cdc,
            "compact": m.bm25_index_compact,
            "maybe_compact": m.bm25_index_maybe_compact,
            "update_metadata": m.bm25_index_update_metadata,
            "add_metadata_col": m.bm25_index_add_metadata_col,
            "drop_metadata_col": m.bm25_index_drop_metadata_col,
        }
    if family == "minhash":
        from parq_tools_spark.operators.dedup import BAND_FAMILY
    else:
        from parq_tools_spark.operators.simhash_index import BAND_FAMILY
    return op_table(BAND_FAMILY)


class IndexHandle:
    """A family-resolved index at one path. Methods bind ``(spark,
    path)`` and pass everything else through to the family function
    VERBATIM — consult that function's docstring for parameters
    (``handle.query`` takes the family's probe argument: a queries
    DataFrame for ann, a query string for bm25, a new-docs DataFrame
    for minhash/simhash)."""

    def __init__(self, spark, path: str, family: str):
        self.spark = spark
        self.path = path
        self.family = family
        self._ops = _ops(family)

    def __repr__(self) -> str:  # pragma: no cover - cosmetics
        return f"IndexHandle(family={self.family!r}, path={self.path!r})"

    # --- read side -------------------------------------------------
    def query(self, probe, **kw):
        """Serve the family query: ``*_index_topk`` (ann/bm25) or
        ``*_index_query`` (minhash/simhash). ``version=`` time-travels
        wherever the family supports it."""
        return self._ops["query"](self.spark, self.path, probe, **kw)

    def stats(self, version: Optional[int] = None) -> dict:
        """The resolved manifest's statistics (``*_index_stats``)."""
        return self._ops["stats"](self.spark, self.path, version=version)

    def versions(self) -> list:
        """Committed (servable) manifest versions, ascending — the
        time-travel inventory for ``query(version=)`` /
        ``stats(version=)``."""
        from parq_tools_spark.sources.statefs import VersionedState

        vs = VersionedState(
            self.spark, self.path, INDEX_MARKERS[self.family]
        )
        return sorted(n for n, committed in vs.versions() if committed)

    # --- maintenance side -------------------------------------------
    def add(self, df, **kw):
        return self._ops["add"](df, self.path, **kw)

    def delete(self, ids, **kw) -> dict:
        return self._ops["delete"](self.spark, self.path, ids, **kw)

    def upsert(self, df, **kw) -> dict:
        return self._ops["upsert"](df, self.path, **kw)

    def apply_cdc(self, changes, **kw) -> dict:
        return self._ops["apply_cdc"](
            self.spark, self.path, changes, **kw
        )

    def compact(self, **kw) -> dict:
        return self._ops["compact"](self.spark, self.path, **kw)

    def maybe_compact(self, **kw) -> bool:
        return self._ops["maybe_compact"](self.spark, self.path, **kw)

    def update_metadata(self, updates, **kw) -> dict:
        """Metadata-only update over ``store_cols``, all four
        families (``*_index_update_metadata``): rewrite affected
        rows' metadata columns; codes, postings, signatures and
        fingerprints are never recomputed."""
        return self._ops["update_metadata"](
            self.spark, self.path, updates, **kw
        )

    def add_metadata_col(self, values, **kw) -> dict:
        """Backfill a NEW metadata column over the index, all four
        families (``*_index_add_metadata_col``): the evolution leg of
        the store_cols lifecycle — one compaction-shaped commit that
        rewrites the visible rows with the extra column and extends
        ``params.store_cols`` atomically; codes, postings, signatures
        and fingerprints are never recomputed."""
        return self._ops["add_metadata_col"](
            self.spark, self.path, values, **kw
        )

    def drop_metadata_col(self, cols, **kw) -> dict:
        """Drop stored metadata column(s), all four families
        (``*_index_drop_metadata_col``): the prune leg of the
        store_cols lifecycle — one compaction-shaped commit that
        rewrites the visible rows without the column(s) and shrinks
        ``params.store_cols`` atomically; codes, postings, signatures
        and fingerprints are never recomputed."""
        return self._ops["drop_metadata_col"](
            self.spark, self.path, cols, **kw
        )

    def retrain(self, **kw):
        """Refit the model from stored vectors — ann only
        (:func:`~parq_tools_spark.operators.ann_index.
        ann_index_retrain`); the other families have no trained model
        to drift."""
        if "retrain" not in self._ops:
            raise ValueError(
                f"retrain is an ann-family operation; this is a "
                f"{self.family} index ({self.path})"
            )
        return self._ops["retrain"](self.spark, self.path, **kw)


def open_index(spark, path: str) -> IndexHandle:
    """Resolve which index family committed at ``path`` (by which
    manifest marker its versioned state holds) and return the
    family-bound :class:`IndexHandle`. Exactly one committed family
    must be present: zero raises with the four build entry points,
    more than one (two families written into one directory) raises
    rather than guessing."""
    from parq_tools_spark.sources.statefs import VersionedState

    found = [
        fam
        for fam, marker in INDEX_MARKERS.items()
        if VersionedState(spark, path, marker).current() is not None
    ]
    if not found:
        raise ValueError(
            f"no committed index of any family at {path}; build one "
            "with ann_index_build, bm25_index_build, "
            "minhash_index_write or simhash_index_write"
        )
    if len(found) > 1:
        raise ValueError(
            f"ambiguous index at {path}: multiple families committed "
            f"({', '.join(found)}) — one directory per index"
        )
    return IndexHandle(spark, path, found[0])
