"""API stability of the index families on the shared segment-index
lifecycle (MinHash / SimHash band rows, vector-ANN cell rows).

Their lifecycle ops exist once in ``operators/_band_index.py`` and the
public ``<family>_index_<op>`` names are bindings of those ops to the
family's spec (ANN's through wrappers keeping its own parameter
names); the band stream starters wrap one shared sink / admission
body. These pins keep every public name's signature and defaults
exactly as callers know them. No Spark session is needed.
"""

from __future__ import annotations

import inspect
import re

import pytest

from parq_tools_spark.operators import (
    _index_common,
    ann_index,
    dedup,
    simhash_index,
)
from parq_tools_spark.streaming import index_sink, near_dedup

_LIFECYCLE = {
    "add": "(df: 'DataFrame', path: 'str', text_col: 'str' = 'text')"
    " -> 'None'",
    "delete": "(spark, path: 'str', ids, _verified: 'bool' = False)"
    " -> 'dict'",
    "upsert": "(df: 'DataFrame', path: 'str', text_col: 'str' = 'text',"
    " _visible_ids=None) -> 'dict'",
    "apply_cdc": "(spark, path: 'str', changes: 'DataFrame',"
    " op_col: 'str' = 'op', seq_col: 'Optional[str]' = None,"
    " text_col: 'str' = 'text') -> 'dict'",
    "compact": "(spark, path: 'str', target_file_bytes: 'int' = 134217728,"
    " min_files_per_band: 'int' = 8, force: 'bool' = False) -> 'dict'",
    "maybe_compact": "(spark, path: 'str', max_segments: 'int' = 16,"
    " max_delete_batches: 'int' = 4) -> 'bool'",
    "stats": "(spark, path: 'str', version: 'Optional[int]' = None)"
    " -> 'dict'",
    "update_metadata": "(spark, path: 'str', updates: 'DataFrame',"
    " max_segments: 'int' = 0, max_delete_batches: 'int' = 0) -> 'dict'",
    "add_metadata_col": "(spark, path: 'str', values: 'DataFrame',"
    " default=NO_DEFAULT, task_splits=1) -> 'dict'",
    "drop_metadata_col": "(spark, path: 'str', cols, task_splits=1)"
    " -> 'dict'",
}

_WRITE = {
    "minhash": "(df: 'DataFrame', path: 'str', id_col: 'str' = 'doc_id',"
    " text_col: 'str' = 'text', num_hashes: 'int' = 128,"
    " bands: 'int' = 32, k: 'int' = 3, hash_family: 'str' = 'portable',"
    " keep_versions: 'int' = 1, store_cols=()) -> 'None'",
    "simhash": "(df: 'DataFrame', path: 'str', id_col: 'str' = 'doc_id',"
    " text_col: 'str' = 'text', bits: 'int' = 63, n_bands: 'int' = 4,"
    " hash_family: 'str' = 'portable', keep_versions: 'int' = 1,"
    " store_cols=()) -> 'None'",
}

_TAIL = (
    "store_cols=(), keep_versions: 'int' = 1, compact_every: 'int' = 0,"
    " max_segments: 'int' = 0, max_delete_batches: 'int' = 0,"
    " available_now: 'bool' = True, query_name: 'Optional[str]' = None)"
)
_ADMIT_TAIL = (
    "compact_every: 'int' = 0, max_segments: 'int' = 0,"
    " max_delete_batches: 'int' = 0, available_now: 'bool' = True,"
    " query_name: 'Optional[str]' = None, allowed_ids=None,"
    " where: 'Optional[str]' = None, store_cols=())"
)
_STREAMS = {
    (index_sink, "start_minhash_index_stream"): "(changes: 'DataFrame',"
    " index_path: 'str', checkpoint_dir: 'str', id_col: 'str' = 'doc_id',"
    " text_col: 'str' = 'text', op_col: 'str' = 'op',"
    " seq_col: 'Optional[str]' = None, num_hashes: 'int' = 128,"
    " bands: 'int' = 32, k: 'int' = 3, hash_family: 'str' = 'portable', "
    + _TAIL,
    (index_sink, "start_simhash_index_stream"): "(changes: 'DataFrame',"
    " index_path: 'str', checkpoint_dir: 'str', id_col: 'str' = 'doc_id',"
    " text_col: 'str' = 'text', op_col: 'str' = 'op',"
    " seq_col: 'Optional[str]' = None, bits: 'int' = 63,"
    " n_bands: 'int' = 4, hash_family: 'str' = 'portable', " + _TAIL,
    (near_dedup, "start_near_dedupe_stream"): "(docs: 'DataFrame',"
    " index_path: 'str', output_path: 'str', checkpoint_dir: 'str',"
    " id_col: 'str' = 'doc_id', text_col: 'str' = 'text',"
    " threshold: 'float' = 0.7, num_hashes: 'int' = 128,"
    " bands: 'int' = 32, k: 'int' = 3, hash_family: 'str' = 'portable', "
    + _ADMIT_TAIL,
    (near_dedup, "start_simhash_dedupe_stream"): "(docs: 'DataFrame',"
    " index_path: 'str', output_path: 'str', checkpoint_dir: 'str',"
    " id_col: 'str' = 'doc_id', text_col: 'str' = 'text',"
    " max_hamming: 'int' = 3, bits: 'int' = 63, n_bands: 'int' = 4,"
    " hash_family: 'str' = 'portable', " + _ADMIT_TAIL,
}

_MODULES = {"minhash": dedup, "simhash": simhash_index}


def _sig(fn) -> str:
    # the metadata backfill's sentinel default reprs with an address
    return re.sub(
        r"<object object at 0x[0-9a-f]+>", "NO_DEFAULT",
        str(inspect.signature(fn)),
    )


@pytest.mark.parametrize("family", sorted(_MODULES))
@pytest.mark.parametrize("op", sorted(_LIFECYCLE))
def test_band_lifecycle_signatures_pinned(family, op):
    fn = getattr(_MODULES[family], f"{family}_index_{op}")
    assert _sig(fn) == _LIFECYCLE[op]
    # a real public function: own name, home module, family docstring
    assert fn.__name__ == f"{family}_index_{op}"
    assert fn.__module__ == _MODULES[family].__name__
    assert fn.__doc__ and "{family}" not in fn.__doc__
    if op == "add_metadata_col":
        default = inspect.signature(fn).parameters["default"].default
        assert default is _index_common.NO_DEFAULT


@pytest.mark.parametrize("family", sorted(_MODULES))
def test_band_write_signatures_pinned(family):
    assert _sig(getattr(_MODULES[family], f"{family}_index_write")) == (
        _WRITE[family]
    )


@pytest.mark.parametrize(
    "mod,name", sorted(_STREAMS, key=lambda k: k[1])
)
def test_band_stream_starter_signatures_pinned(mod, name):
    assert _sig(getattr(mod, name)) == _STREAMS[(mod, name)]


def test_facade_tables_are_the_public_functions():
    from parq_tools_spark.operators.index_facade import _ops

    for family, mod in _MODULES.items():
        table = _ops(family)
        assert set(table) == {"query", *_LIFECYCLE}
        for op, fn in table.items():
            assert fn is getattr(mod, f"{family}_index_{op}")


# ----------------------------------------------------------------- ANN
# The vector-ANN family keeps its own parameter names (``new_vecs``,
# ``min_files_per_cell``, ``max_tombstone_frac``; no ``text_col``, no
# ``task_splits``) whatever implements its lifecycle.
_ANN = {
    "ann_index_build": "(corpus: 'DataFrame', path: 'str',"
    " n_cells: 'int' = 8, m: 'int' = 8, n_codes: 'Optional[int]' = 16,"
    " id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding',"
    " round_to: 'int' = 6, opq: 'bool' = False, opq_sample: 'int' = 256,"
    " keep_versions: 'int' = 1, store_vectors: 'bool' = False,"
    " train_corpus: 'Optional[DataFrame]' = None, cell_task_splits=1,"
    " store_cols=()) -> 'None'",
    "ann_index_add": "(new_vecs: 'DataFrame', path: 'str') -> 'None'",
    "ann_index_delete": "(spark, path: 'str', ids,"
    " _verified: 'bool' = False) -> 'dict'",
    "ann_index_upsert": "(new_vecs: 'DataFrame', path: 'str',"
    " _visible_ids=None) -> 'dict'",
    "ann_index_apply_cdc": "(spark, path: 'str', changes: 'DataFrame',"
    " op_col: 'str' = 'op', seq_col: 'Optional[str]' = None) -> 'dict'",
    "ann_index_compact": "(spark, path: 'str',"
    " target_file_bytes: 'int' = 134217728,"
    " min_files_per_cell: 'int' = 8, force: 'bool' = False) -> 'dict'",
    "ann_index_maybe_compact": "(spark, path: 'str',"
    " max_segments: 'int' = 16, max_tombstone_frac: 'float' = 0.2)"
    " -> 'bool'",
    "ann_index_stats": "(spark, path: 'str',"
    " version: 'Optional[int]' = None) -> 'dict'",
    "ann_index_update_metadata": "(spark, path: 'str',"
    " updates: 'DataFrame', max_segments: 'int' = 0,"
    " max_tombstone_frac: 'float' = 0.0) -> 'dict'",
    "ann_index_add_metadata_col": "(spark, path: 'str',"
    " values: 'DataFrame', default=NO_DEFAULT) -> 'dict'",
    "ann_index_drop_metadata_col": "(spark, path: 'str', cols)"
    " -> 'dict'",
    "ann_index_topk": "(spark, path: 'str', queries: 'DataFrame',"
    " k: 'int' = 10, nprobe: 'int' = 2, query_id_col: 'str' = 'vec_id',"
    " query_vec_col: 'Optional[str]' = None,"
    " version: 'Optional[int]' = None, exclude_self: 'bool' = True,"
    " max_queries: 'int' = 10000, refine: 'Optional[int]' = None,"
    " allowed_ids=None, where: 'Optional[str]' = None) -> 'DataFrame'",
    "ann_index_retrain": "(spark, path: 'str',"
    " n_cells: 'Optional[int]' = None, m: 'Optional[int]' = None,"
    " n_codes=NO_DEFAULT, opq: 'Optional[bool]' = None,"
    " opq_sample: 'int' = 256, keep_versions: 'Optional[int]' = None,"
    " store_vectors: 'bool' = True,"
    " cell_task_splits: 'Optional[int]' = None) -> 'None'",
    "semantic_dedupe_bootstrap": "(batch: 'DataFrame',"
    " index_path: 'str', threshold: 'float' = 0.95, n_cells: 'int' = 8,"
    " m: 'int' = 8, n_codes: 'Optional[int]' = 16,"
    " id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding',"
    " round_to: 'int' = 6, opq: 'bool' = False, keep_versions: 'int' = 1,"
    " max_batch_rows: 'int' = 100000, store_cols=()) -> 'DataFrame'",
    "semantic_dedupe_incremental": "(spark, index_path: 'str',"
    " new_vecs: 'DataFrame', threshold: 'float' = 0.95,"
    " update_index: 'bool' = False, max_batch_rows: 'int' = 100000,"
    " allowed_ids=None, where: 'Optional[str]' = None) -> 'DataFrame'",
}

_ANN_STREAMS = {
    (index_sink, "start_ann_index_stream"): "(changes: 'DataFrame',"
    " index_path: 'str', checkpoint_dir: 'str', id_col: 'str' = 'vec_id',"
    " vec_col: 'str' = 'embedding', op_col: 'str' = 'op',"
    " seq_col: 'Optional[str]' = None, n_cells: 'int' = 8, m: 'int' = 8,"
    " n_codes: 'Optional[int]' = 16, opq: 'bool' = False, store_cols=(),"
    " keep_versions: 'int' = 1, compact_every: 'int' = 0,"
    " max_segments: 'int' = 0, max_tombstone_frac: 'float' = 0.0,"
    " available_now: 'bool' = True, query_name: 'Optional[str]' = None)",
    (near_dedup, "start_semantic_dedupe_stream"): "(vecs: 'DataFrame',"
    " index_path: 'str', output_path: 'str', checkpoint_dir: 'str',"
    " id_col: 'str' = 'vec_id', vec_col: 'str' = 'embedding',"
    " threshold: 'float' = 0.95, n_cells: 'int' = 8, m: 'int' = 8,"
    " n_codes: 'Optional[int]' = 16, opq: 'bool' = False,"
    " keep_versions: 'int' = 1, compact_every: 'int' = 0,"
    " max_segments: 'int' = 0, max_tombstone_frac: 'float' = 0.0,"
    " max_batch_rows: 'int' = 100000, available_now: 'bool' = True,"
    " query_name: 'Optional[str]' = None, allowed_ids=None,"
    " where: 'Optional[str]' = None, store_cols=())",
}


@pytest.mark.parametrize("name", sorted(_ANN))
def test_ann_signatures_pinned(name):
    fn = getattr(ann_index, name)
    assert _sig(fn) == _ANN[name]
    assert fn.__name__ == name
    assert fn.__module__ == ann_index.__name__
    assert fn.__doc__ and "{family}" not in fn.__doc__
    if name == "ann_index_add_metadata_col":
        default = inspect.signature(fn).parameters["default"].default
        assert default is _index_common.NO_DEFAULT


@pytest.mark.parametrize(
    "mod,name", sorted(_ANN_STREAMS, key=lambda k: k[1])
)
def test_ann_stream_starter_signatures_pinned(mod, name):
    assert _sig(getattr(mod, name)) == _ANN_STREAMS[(mod, name)]


def test_facade_ann_table_is_the_public_functions():
    from parq_tools_spark.operators.index_facade import _ops

    table = _ops("ann")
    assert set(table) == {"query", "retrain", *_LIFECYCLE}
    for op, fn in table.items():
        public = {"query": "topk"}.get(op, op)
        assert fn is getattr(ann_index, f"ann_index_{public}")
