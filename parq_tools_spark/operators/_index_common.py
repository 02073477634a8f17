"""Helpers shared by the persisted-index families (BM25
``operators/search.py``, vector-ANN ``operators/ann_index.py``,
MinHash ``operators/dedup.py``, SimHash ``operators/simhash_index.py``)
so the pieces of the on-disk protocol that must stay in lockstep have
ONE definition. The two band-row families (MinHash, SimHash) also
share one lifecycle implementation on top of these helpers
(``operators/_band_index.py``); BM25 and ANN keep their
manifest/sweep/compact logic in their own modules — those differ in
real ways (terms snapshots, the model file) — but generation tags and
the id-type round-trip are protocol, not policy."""

from __future__ import annotations

from typing import Optional

__all__ = [
    "tag",
    "seg_version",
    "id_field_json",
    "id_field",
    "delete_entries",
    "delete_batches",
    "visible_scan",
    "resolve_manifest",
    "retention",
    "resolve_cdc",
    "maybe_compact",
    "write_salted_segment",
    "apply_allowed_ids",
    "normalize_allowed_ids",
    "auto_task_splits",
    "resolve_task_splits",
    "cached_for_auto",
    "check_store_cols",
    "check_metadata_updates",
    "NO_DEFAULT",
    "check_add_metadata_col",
    "check_drop_metadata_cols",
    "backfill_metadata_rows",
    "resolve_cdc_with_meta",
    "apply_cdc_meta",
    "read_committed",
    "INDEX_MARKERS",
]

#: family -> the manifest marker filename its VersionedState commits;
#: the one table of markers (each family module reads its own entry,
#: and ``index_facade`` sniffs paths for them).
INDEX_MARKERS = {
    "ann": "_ann_manifest.json",
    "bm25": "_bm25_manifest.json",
    "minhash": "_index_manifest.json",
    "simhash": "_simhash_manifest.json",
}

def _committed_schema(spark, path: str, files):
    """The exact Spark schema of a committed parquet artifact,
    resolved on the DRIVER from one footer (pyarrow, fresh per call —
    nothing cached) plus the ``name=value`` partition levels of the
    first data file's relative path — no Spark schema-inference job.
    Returns None when the footer cannot be resolved (caller falls
    back to inference)."""
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_schema

    from parq_tools_spark.sources.statefs import StateFS

    if files:
        first_rel, first_abs = None, files[0]
    else:
        rels = StateFS(spark, path).list_files(path)
        if not rels:
            return None
        first_rel, first_abs = rels[0], f"{path}/{rels[0]}"
    local = first_abs[5:] if first_abs.startswith("file:") else first_abs
    if "://" in local.split("/", 1)[0]:
        return None  # non-local scheme: let Spark infer
    # prefer_timestamp_ntz mirrors Spark's own inference default
    # (tz-less parquet timestamps read as TIMESTAMP_NTZ), so the
    # resolved schema is bit-identical to the inferred one
    ntz = (
        spark.conf.get(
            "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
        )
        == "true"
    )
    schema = from_arrow_schema(
        pq.read_schema(local), prefer_timestamp_ntz=ntz
    )
    fields = list(schema.fields)
    for seg in (first_rel or "").split("/")[:-1]:
        if "=" not in seg:
            return None  # unexpected layout: let Spark infer
        name, value = seg.split("=", 1)
        try:
            int(value)
            ftype = T.IntegerType()
        except ValueError:
            return None  # non-int partition value: let Spark infer
        fields.append(T.StructField(name, ftype))
    return T.StructType(fields)


def read_committed(spark, *paths, files=None):
    """``spark.read.parquet`` over COMMITTED index artifacts with the
    schema resolved on the driver (one parquet footer, fresh per
    call) instead of Spark's per-call footer-inference job.

    Guide §1.2/§6: the inference is one extra Spark job per read
    call site at bench scale (measured on this box: 1 job + ~1 s per
    call), and a remote-storage footer round trip per maintenance/
    serve call at 100 TB. Partition columns (``tbucket=``/``cell=``/
    ``band=`` directory levels) are reconstructed from the first
    data file's relative path with the same int typing Spark's own
    partition discovery infers, appended after the file columns in
    the same order inference yields. Any resolution surprise —
    unreachable footer, unexpected layout, non-int partition value —
    falls back to plain ``spark.read.parquet`` (identical behavior,
    just with the inference job).

    ``files=[...]`` reads an explicit leaf-file list (the ``_docs``
    sidecar pattern) instead of directories."""
    targets = list(files) if files is not None else list(paths)
    try:
        schema = _committed_schema(
            spark, paths[0] if paths else None, files
        )
    except Exception:
        schema = None
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*targets)


def resolve_cdc(changes, id_col: str, op_col: str, seq_col):
    """The LAST op per id of a CDC batch, materialized: ordered by
    ``(seq desc, op desc)`` — a same-sequence 'U' beats 'D', the exact
    tiebreak of ``operators/merge.py``'s ``apply_cdc``, so index state
    and snapshot state cannot diverge on an identical change log.
    Without ``seq_col`` the batch must carry at most one op per id
    (ambiguity raises instead of applying in arbitrary order). ONE
    definition shared by every index family's ``apply_cdc`` and the
    streaming sinks' bootstrap path."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if seq_col is not None:
        w = Window.partitionBy(id_col).orderBy(
            F.col(seq_col).desc(), F.col(op_col).desc()
        )
        final = (
            changes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        # checkpoint FIRST so the duplicate probe scans the
        # materialized batch, not the (possibly expensive) source
        # lineage a second time
        final = materialize(changes)
        dup = (
            final.groupBy(id_col)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                f"multiple ops per {id_col} in the CDC batch but no "
                "seq_col to order them — pass seq_col"
            )
        return final
    return materialize(final)

#: Legacy (pre-version-scoped) tombstones hid EVERY segment — an
#: upto above any real version reproduces that exactly.
_LEGACY_UPTO = 1 << 62


def resolve_manifest(vs, path: str, version=None, what: str = "index",
                     build_hint: str = ""):
    """Resolve a committed manifest: the NEWEST one (``version=None``,
    the serving default), or an explicit still-retained ``version`` —
    the time-travel read. Returns ``(version, manifest_dict)``.

    Time-travel contract (shared by every index family): a manifest
    version is readable for as long as it survives the maintenance
    sweeps — ``keep_versions`` (a build parameter, carried in the
    manifest and honored by every subsequent maintenance cycle's
    ``clean_stale``) pins how many committed versions each sweep
    retains; segment/terms/tombstone directories live exactly as long
    as some surviving manifest references them (the orphan sweeps keep
    anything referenced), so a retained manifest is always fully
    servable, never torn."""
    import json

    if version is None:
        cur = vs.current()
        if cur is None:
            raise ValueError(f"no committed {what} at {path}{build_hint}")
        return cur, json.loads(vs.read_marker(cur))
    committed = [n for n, ok in vs.versions() if ok]
    if version not in committed:
        raise ValueError(
            f"version {version} of the {what} at {path} is not committed"
            f" or no longer retained (committed: {committed or '[]'});"
            " version history is pinned by the keep_versions= build"
            " parameter"
        )
    return version, json.loads(vs.read_marker(version))


def retention(m: dict) -> int:
    """The index's version-retention policy: ``params.keep_versions``
    from the manifest (default 1 — only the current version, plus the
    implicit one-cycle grace the sweep timing gives its predecessor).
    Maintenance paths pass this to ``VersionedState.clean_stale`` so
    retention set at build time is honored for the index's life."""
    return int(m.get("params", {}).get("keep_versions", 1))


def delete_entries(m: dict) -> list:
    """The manifest's tombstone entries normalized to
    ``[{"dir", "upto"}, ...]``. Entries written by the brief
    pre-version-scoped format (plain directory-name strings, global
    scope) normalize to ``upto`` = +inf-like — under the old contract
    no re-add could land after such a tombstone, so hiding every
    segment reproduces its semantics; the next compaction folds and
    clears them into the new format."""
    out = []
    for e in m.get("deletes") or []:
        if isinstance(e, str):
            out.append({"dir": e, "upto": _LEGACY_UPTO})
        else:
            out.append(e)
    return out


def delete_batches(spark, path: str, m: dict) -> list:
    """Pending tombstones as ``[(upto, ids_df), ...]``.

    VERSION-SCOPED (LSM semantics): a tombstone hides an id's rows
    only in segments committed at or before the tombstone's ``upto``
    version — rows in LATER segments are visible. That is what makes
    upserts O(batch): delete + re-add needs no compaction in between
    (the re-added rows land in a newer segment the tombstone does
    not reach), so a CDC stream never pays an O(index) rewrite per
    batch. Compaction still folds tombstones into the rewritten rows
    and clears the list, which bounds the anti-join side between
    compactions. ONE definition shared by every index family — the
    visibility rule is protocol and must never fork."""
    from parq_tools_spark.sources.statefs import StateFS

    entries = delete_entries(m)
    if not entries:
        return []
    fs = StateFS(spark, path)
    return [
        (e["upto"], read_committed(spark, f"{path}/{e['dir']}"))
        for e in entries
        if fs.list_files(f"{path}/{e['dir']}")
    ]


def visible_scan(spark, path: str, seg: str, batches: list, id_col: str):
    """One segment's rows with every APPLICABLE tombstone batch
    anti-joined away (those whose ``upto`` >= the segment's version —
    later segments are out of a tombstone's reach). Broadcast
    anti-joins: map-only on the already-pruned scan."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    scan = read_committed(spark, f"{path}/{seg}")
    applicable = [df for upto, df in batches if upto >= seg_version(seg)]
    if not applicable:
        return scan
    dels = reduce(DataFrame.unionByName, applicable)
    return scan.join(F.broadcast(dels), on=id_col, how="left_anti")


def seg_version(name: str) -> int:
    """The committing version baked into a segment/tombstone name by
    :func:`tag` (``<prefix>-<version>-<random>``) — what the
    version-scoped tombstone visibility rule compares against."""
    return int(name.split("-")[1])


def tag(n: int, prefix: str) -> str:
    """A collision-free name for one generation's immutable artifact:
    ``<prefix>-<version>-<random>``. The version prefix makes ``ls``
    forensics readable; the uuid suffix means a retried operation
    never collides with its crashed predecessor's orphan."""
    import uuid

    return f"{prefix}-{n:06d}-{uuid.uuid4().hex[:8]}"


def id_field_json(df, col: str) -> str:
    """The id column's (name, type) serialized for the manifest — so
    every query path, including over an EMPTY index, reproduces the
    indexed schema exactly (no type flips between index states)."""
    from pyspark.sql import types as T

    return T.StructType([df.schema[col]]).json()


def id_field(m: dict):
    """The indexed id column's StructField recovered from a manifest
    written by :func:`id_field_json`."""
    import json

    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(m["id_type"])).fields[0]


def check_self_exclusion_types(
    query_type, index_type, fn: str, remedy: Optional[str] = None
) -> None:
    """Self/same-id exclusion predicates compare a caller-supplied id
    column against the index's persisted id column; an incompatible
    pair (string vs bigint) would throw CAST_INVALID_INPUT under ANSI
    mode — or, under non-ANSI, cast to NULL and silently drop EVERY
    candidate. Fail loudly up front instead. Numeric widths are
    mutually join-compatible (Spark widens); anything else must match
    exactly."""
    from pyspark.sql import types as T

    numeric = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType,
    )
    if query_type == index_type or (
        isinstance(query_type, numeric) and isinstance(index_type, numeric)
    ):
        return
    raise ValueError(
        f"{fn}: the supplied id column ({query_type.simpleString()}) "
        f"is compared against the index id column "
        f"({index_type.simpleString()}) for same-id exclusion, and "
        "the two are not join-compatible. "
        + (
            remedy
            if remedy is not None
            else "If the new ids are not corpus ids, disable the "
            "exclusion flag."
        )
    )


def maybe_compact(
    spark,
    path: str,
    marker: str,
    compact,
    max_segments: int = 0,
    max_tombstone_frac: float = 0.0,
    rows_key: Optional[str] = None,
    max_delete_batches: int = 0,
) -> bool:
    """Stats-driven compaction trigger shared by the four index
    families: consult the LIVE manifest's own fragmentation signals
    and run ``compact()`` only when one crosses its bound — the
    generalization of the sinks' count-based ``compact_every``
    (which compacts on a wall-clock-ish batch cadence whether or not
    the index fragmented; this compacts exactly when the manifest
    says query cost started creeping).

    Signals, all O(manifest) except the tombstone count (one read of
    each small pending ``del-`` directory, only taken when
    ``max_tombstone_frac`` is armed):

    - ``max_segments`` > 0: compact when the manifest references more
      than that many segments — each append commits one immutable
      segment, so steady-state scan cost creeps with SEGMENT count
      (task scheduling + footer reads), not data size.
    - ``max_tombstone_frac`` > 0 (needs ``rows_key``, the family's
      live-row counter — ``n_vecs``/``n_docs``): compact when pending
      tombstoned ids exceed that fraction of live rows — every query
      pays the tombstone anti-joins until a compaction folds them.
    - ``max_delete_batches`` > 0: compact when more than that many
      tombstone BATCHES are pending — the fraction signal for
      families whose manifest carries no row counter
      (MinHash/SimHash), where each pending batch costs one
      anti-join per query regardless of its size.

    All bounds default OFF (0); a sink arms the ones it wants.
    Returns True iff ``compact()`` ran. Never raises on an
    uncommitted index (returns False) — the sinks consult it before
    the bootstrap batch exists."""
    import json

    from parq_tools_spark.sources.statefs import VersionedState

    vs = VersionedState(spark, path, marker)
    cur = vs.current()
    if cur is None:
        return False
    m = json.loads(vs.read_marker(cur))
    dels = delete_entries(m)
    trigger = bool(max_segments) and len(m["segments"]) > max_segments
    if not trigger and max_delete_batches:
        trigger = len(dels) > max_delete_batches
    if not trigger and max_tombstone_frac and rows_key and dels:
        total = m.get(rows_key)
        if total:
            # delete_batches applies the fs-existence guard every
            # other consumer of these entries gets (a legacy entry
            # whose del- dir is gone must be skipped, not a crash
            # inside a streaming sink's foreachBatch). ONE action:
            # the pending batches union into a single distinct count,
            # so an id tombstoned in two batches counts once and the
            # probe cost stays flat as batches accumulate (N small
            # scans, one job) instead of one job per batch.
            from functools import reduce

            dfs = [df for _, df in delete_batches(spark, path, m)]
            if dfs:
                n_dead = (
                    reduce(lambda a, b: a.unionByName(b), dfs)
                    .distinct()
                    .count()
                )
                trigger = n_dead > max_tombstone_frac * total
    if trigger:
        compact()
    return trigger


def write_salted_segment(
    df,
    seg_path: str,
    part_col: str,
    sort_cols: list,
    salt_col: str,
    task_splits: int = 1,
) -> None:
    """ONE definition of the skew-bounded segment write shared by the
    directory-partitioned index families (ANN ``cell=``, BM25
    ``tbucket=``): shuffle by the partition key, optionally salted
    with a deterministic ``xxhash64(salt_col) % task_splits`` so a
    HOT key splits across that many write tasks (``repartition(key)``
    alone never splits a key — at corpus scale one skewed key becomes
    one task writing its entire share). The salt changes only
    task/file layout: the directory stays ``<part_col>=``, every file
    stays ``sort_cols``-sorted within itself, and serving reads whole
    key directories, so results are bit-identical (pinned by each
    family's test)."""
    from pyspark.sql import functions as F

    if task_splits > 1:
        out = df.repartition(
            F.col(part_col),
            F.pmod(F.xxhash64(F.col(salt_col)), F.lit(task_splits)),
        )
    else:
        out = df.repartition(part_col)
    (
        out.sortWithinPartitions(*sort_cols)
        .write.mode("errorifexists")
        .partitionBy(part_col)
        .parquet(seg_path)
    )


def apply_allowed_ids(df, id_name: str, allowed_ids, index_id_type, fn: str):
    """The shared pre-rank candidate filter behind every serving
    path's ``allowed_ids=`` parameter (``ann_index_topk``,
    ``bm25_index_topk``/``_batch``, the hybrid index paths, and
    ``semantic_dedupe_incremental``'s admission scope): restrict the
    CANDIDATE rows to an allowed-id set BEFORE any ranking, so the
    returned top-k is correct under the filter. Post-filtering a
    k-sized result under-returns (k shrinks after the filter); this
    is the standard filtered-search contract — the filter scopes
    candidates, never the index statistics (BM25 idf/avgdl and the
    ANN quantization model stay the index-wide ones).

    Two forms, two physical shapes:

    - a Python sequence of ids → a LITERAL ``isin`` predicate, which
      Catalyst pushes through the union into each segment's parquet
      scan (``PushedFilters`` — planning-time work, zero joins). The
      right form for request-sized sets (a user's collection, an
      explicit shortlist). An empty sequence yields the typed empty
      result, not an error.
    - a DataFrame of ids → a ``left_semi`` join against the candidate
      rows, with the join strategy left to Catalyst/AQE (broadcast
      when the set is small, shuffled semi-join when it is
      corpus-sized — at 100 TB an allowed set like "every English
      document" must never be collected or broadcast blindly). The
      right form for predicate-derived sets: compute
      ``metadata.filter("lang = 'en'").select("doc_id")`` and pass
      it; the metadata table itself is never scanned by the serving
      call.

    The DataFrame form resolves its id column by name (``id_name`` if
    present, else a single column), and its type is checked against
    the index's persisted id type up front — a mismatched pair would
    silently drop every candidate under non-ANSI semantics."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    if allowed_ids is None:
        return df
    if isinstance(allowed_ids, DataFrame):
        cols = allowed_ids.columns
        if id_name in cols:
            src = id_name
        elif len(cols) == 1:
            src = cols[0]
        else:
            raise ValueError(
                f"{fn}: allowed_ids DataFrame must carry the index id "
                f"column '{id_name}' or be single-column; got "
                f"columns {cols}"
            )
        check_self_exclusion_types(
            allowed_ids.schema[src].dataType,
            index_id_type,
            f"{fn}: allowed_ids",
            remedy=(
                "Cast the allowed-id column to the indexed id type "
                "before passing it."
            ),
        )
        allowed = allowed_ids.select(
            F.col(src).alias(id_name)
        ).distinct()
        return df.join(allowed, on=id_name, how="left_semi")
    ids = list(allowed_ids)
    if not ids:
        # an empty allowed set is a valid (if odd) filter: nothing
        # qualifies — the plan stays typed, the result is empty
        return df.filter(F.lit(False))
    lit_type = _literal_id_type(ids)
    if lit_type is not None:
        # the same loud-mismatch guard the DataFrame form runs: a
        # string list against a bigint index (or vice versa) would
        # cast to NULL under non-ANSI semantics and silently drop
        # every candidate instead of failing
        check_self_exclusion_types(
            lit_type,
            index_id_type,
            f"{fn}: allowed_ids",
            remedy=(
                "Pass literal ids of the indexed id type (or a "
                "DataFrame cast to it)."
            ),
        )
    return df.filter(F.col(id_name).isin(ids))


def _literal_id_type(ids):
    """Spark type of a literal allowed-id list's elements, inferred
    driver-side from the first non-None value — None for exotic
    element types, which fall through to Spark's own lit() handling
    (a loud error there beats a wrong guess here)."""
    import numbers

    from pyspark.sql import types as T

    for v in ids:
        if v is None or isinstance(v, bool):
            continue
        if isinstance(v, numbers.Integral):
            return T.LongType()
        if isinstance(v, numbers.Real):
            return T.DoubleType()
        if isinstance(v, str):
            return T.StringType()
        if isinstance(v, (bytes, bytearray)):
            return T.BinaryType()
        return None
    return None


def normalize_allowed_ids(allowed_ids):
    """Materialize a non-DataFrame ``allowed_ids`` into a list ONCE.
    Callers that thread one allowed set into multiple serving legs
    (the hybrid index paths) must call this first: a one-shot
    iterable (generator) would be exhausted by the first leg's
    ``list()`` and the second leg would see an empty set — which is a
    VALID filter value, so everything downstream silently drops every
    candidate instead of erroring."""
    from pyspark.sql import DataFrame

    if allowed_ids is None or isinstance(allowed_ids, DataFrame):
        return allowed_ids
    return list(allowed_ids)


#: Row budget per write task the ``"auto"`` task-split resolver
#: targets: the hottest key's row count divided by this gives the
#: salt factor. ~1M short index rows (an id + a few small columns)
#: per task keeps write tasks in the hundreds-of-MB range.
AUTO_ROWS_PER_TASK = 1_000_000

#: Upper bound for an auto-resolved salt factor — more, smaller files
#: per key directory is exactly what compaction's byte targets fold
#: later, but an unbounded factor would fragment a pathological batch
#: into confetti.
AUTO_MAX_TASK_SPLITS = 64


def auto_task_splits(
    df,
    key_col: str,
    rows_per_task: Optional[int] = None,
    max_splits: Optional[int] = None,
) -> int:
    """Resolve a ``task_splits="auto"`` request from the batch's OWN
    key skew: one aggregation pass (map-side partial combine, then
    one tiny reduce of n_keys rows) finds the hottest key's row
    count; the salt factor is that count over the per-task row
    budget, clamped to ``[1, max_splits]``. The stats-driven default
    for :func:`write_salted_segment` — at 100 TB an operator should
    not have to guess the salt factor per ingest, and a uniform batch
    resolves to 1 (no salting, no extra files).

    Cost: the aggregation re-evaluates the batch's lineage once (for
    the ANN family that is the encode pass; for BM25 the tokenize
    pass) — the price of measuring instead of guessing, paid only
    when the caller asks for ``"auto"``. Callers with a cheaper
    estimate pass an int."""
    import math

    from pyspark.sql import functions as F

    rpt = AUTO_ROWS_PER_TASK if rows_per_task is None else rows_per_task
    cap = AUTO_MAX_TASK_SPLITS if max_splits is None else max_splits
    row = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n"))
        .first()
    )
    mx = row[0] or 0
    return max(1, min(cap, math.ceil(mx / rpt)))


def resolve_task_splits(value, df, key_col: str, what: str) -> int:
    """Normalize a ``task_splits`` parameter: a positive int passes
    through, the string ``"auto"`` resolves via
    :func:`auto_task_splits` on the batch at hand. Anything else
    fails loudly."""
    if value == "auto":
        return auto_task_splits(df, key_col)
    if isinstance(value, bool) or not isinstance(value, int):
        raise ValueError(f"{what} must be a positive int or 'auto'")
    if value < 1:
        raise ValueError(f"{what} must be >= 1")
    return value


def cached_for_auto(df, task_splits):
    """Context manager caching ``df`` across the two passes an
    ``"auto"`` task-split ingest makes — the skew aggregation
    (:func:`auto_task_splits`) and the segment write would otherwise
    each re-evaluate the batch's lineage, and for the index families
    that lineage is the expensive pass (the ANN encode ``mapInPandas``,
    the BM25 tokenize): a silent double-encode on EVERY ingest of an
    'auto' index, including each streaming micro-batch through the
    sinks. With an int split the df passes through untouched (one
    pass, nothing to save). MEMORY_AND_DISK (persist's default), so an
    over-memory batch spills instead of failing; unpersist on exit."""
    from contextlib import contextmanager

    @contextmanager
    def _cm():
        if task_splits == "auto":
            df.persist()
            try:
                yield df
            finally:
                df.unpersist()
        else:
            yield df

    return _cm()


def run_overlapped(fn, items, max_workers: int = 8):
    """Run independent per-partition-directory Spark jobs (compaction
    bucket/band/cell rewrites) from a small thread pool so the next
    job's tasks back-fill executors freed by the current job's tail
    (guide §2.6) — serially, an index with 32 term buckets paid 32
    sequential job latencies per compaction. Results are unchanged:
    each item writes its own directory; any exception propagates (the
    caller commits only after every rewrite succeeded, so a failure
    leaves invisible orphans exactly as before)."""
    items = list(items)
    if not items:
        return
    if len(items) == 1:
        fn(items[0])
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(
        max_workers=min(max_workers, len(items))
    ) as pool:
        # list() drains the iterator so the first exception re-raises
        list(pool.map(fn, items))


def materialize(df):
    """Materialize an intermediate relation ONCE and truncate its
    lineage — the single policy point for every operator that must pin
    a per-call intermediate (pair-generator signature tables, CC edge
    iterations, CDC resolution, admission-batch bandings, validation
    folds). Mechanism is selected by
    ``spark.parq_tools.materialize.mode``:

    - ``local`` (default): ``localCheckpoint(eager=True)``. Blocks
      live on the executors that computed them — no disk round trip,
      no checkpoint dir needed. Right for local mode and
      static-allocation clusters; the trade is that a lost executor
      loses both the blocks and the (truncated) lineage, failing the
      query instead of recomputing it.
    - ``reliable``: ``Dataset.checkpoint(eager=True)`` to the
      session's checkpoint directory — survives executor loss, the
      correct mode under dynamic allocation / preemptible nodes
      (guide §5). Requires ``SparkContext.setCheckpointDir`` (or the
      ``spark.checkpoint.dir`` conf); raises with that instruction
      when unset rather than silently degrading fault tolerance.
      ``get_spark`` defaults
      ``spark.cleaner.referenceTracking.cleanCheckpoints=true``, so
      these per-call checkpoint files are deleted once their
      DataFrame is garbage-collected instead of piling up for the
      life of the application.

    A failing read of the mode conf propagates: swallowing it would
    drop a ``reliable`` session to ``local`` without a word.
    """
    mode = df.sparkSession.conf.get(
        "spark.parq_tools.materialize.mode", "local"
    )
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            ckdir = sc.getConf().get("spark.checkpoint.dir", None)
            if ckdir:
                sc.setCheckpointDir(ckdir)
            else:
                raise ValueError(
                    "spark.parq_tools.materialize.mode=reliable needs a "
                    "checkpoint directory: call "
                    "SparkContext.setCheckpointDir(...) or set "
                    "spark.checkpoint.dir"
                )
        return df.checkpoint(eager=True)
    if mode != "local":
        raise ValueError(
            "spark.parq_tools.materialize.mode must be 'local' or "
            f"'reliable', got {mode!r}"
        )
    return df.localCheckpoint(eager=True)


def eager_stats(df, **aggs):
    """:func:`materialize` plus named aggregates in ONE job: the
    ``Observation`` rides the checkpoint materialization, so the
    validation counts every maintenance path needs (batch size,
    visible-id count, ...) no longer cost a second pass over the
    batch (guide: measure/validate in the pass you already pay for).

    Returns ``(checkpointed_df, {name: value})``. Aggregates must be
    observation-legal (no distinct aggregates)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    out = materialize(
        df.observe(obs, *[expr.alias(name) for name, expr in aggs.items()])
    )
    return out, obs.get


def write_stats(writer_fn, df, **aggs):
    """Run ``writer_fn(df_with_observe)`` (a parquet/segment write)
    and return the named aggregates observed DURING that write — the
    ``eager_stats`` pattern for write passes: a separate count job
    over the same input becomes free."""
    from pyspark.sql import Observation

    obs = Observation()
    writer_fn(
        df.observe(obs, *[expr.alias(name) for name, expr in aggs.items()])
    )
    return obs.get


def check_store_cols(df, store_cols, fn: str) -> None:
    """Indexes built with ``store_cols=`` carry those metadata
    columns in every row they commit, so every ingest batch must
    supply them — a batch that silently dropped ``lang`` would poison
    the index's ``where=`` serving. Fail loudly, naming the columns."""
    missing = [c for c in store_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"{fn}: this index stores metadata columns "
            f"{list(store_cols)} with every row, but the batch is "
            f"missing {missing} — carry them through the ingest (or "
            "rebuild the index without store_cols)"
        )


def check_metadata_updates(updates, id_col: str, store, fn: str):
    """Shared up-front validation for every family's metadata-only
    update path (``*_index_update_metadata``): the index must store
    metadata, the updates must carry the id column plus a non-empty
    SUBSET of the stored columns. Returns the update columns. ONE
    definition so the four paths cannot drift on what counts as a
    valid update."""
    if not store:
        raise ValueError(
            f"{fn}: this index stores no metadata columns; "
            "update_metadata needs an index built with "
            "store_cols=[...]"
        )
    if id_col not in updates.columns:
        raise ValueError(
            f"{fn}: updates must carry the index id column "
            f"'{id_col}'; got columns {updates.columns}"
        )
    upd_cols = [c for c in updates.columns if c != id_col]
    bad = [c for c in upd_cols if c not in store]
    if bad:
        raise ValueError(
            f"{fn}: {bad} are not stored metadata columns of this "
            f"index (store_cols={list(store)}) — only stored "
            "metadata can be updated in place; changing content "
            "needs upsert"
        )
    if not upd_cols:
        raise ValueError(
            f"{fn}: updates carry only the id column — nothing to "
            "update"
        )
    return upd_cols


#: Sentinel distinguishing "no default supplied" from an explicit
#: ``default=None`` — NULL is a legitimate metadata value, and the
#: two must behave differently (no default + uncovered ids is a loud
#: error; an explicit None fills them with NULL on purpose).
NO_DEFAULT = object()


def check_add_metadata_col(values, id_col: str, store, reserved, fn: str,
                           default=None) -> list:
    """Shared up-front validation for every family's metadata-column
    BACKFILL path (``*_index_add_metadata_col`` — the evolution leg of
    the metadata lifecycle: store → filter → update → evolve → prune):
    ``values`` must carry the index id column plus one or more NEW
    columns, each neither already stored (flipping stored values is
    :func:`check_metadata_updates` / ``update_metadata``'s job) nor a
    reserved segment-schema column. Returns the new column names in
    ``values``' order. Multi-column is first-class: the O(index)
    rewrite is the entire cost of evolution, so shipping a k-column
    quality table (score, license, toxicity, …) must cost ONE rewrite,
    not k. A dict ``default`` is validated here too — a key naming no
    new column is a typo that would otherwise silently fill nothing.
    ONE definition so the four families cannot drift on what counts
    as a valid evolution."""
    if id_col not in values.columns:
        raise ValueError(
            f"{fn}: values must carry the index id column "
            f"'{id_col}'; got columns {values.columns}"
        )
    new_cols = [c for c in values.columns if c != id_col]
    if not new_cols:
        raise ValueError(
            f"{fn}: values must carry the id column plus at least one "
            f"new metadata column; got columns {values.columns}"
        )
    if len(set(new_cols)) != len(new_cols):
        raise ValueError(
            f"{fn}: duplicate column names in values "
            f"({values.columns}) — each new metadata column once"
        )
    for new_col in new_cols:
        if new_col == "_has":
            # the backfill join's own presence marker: the final
            # drop("_has") would silently remove the just-attached
            # column while store_cols gains it — bricking every
            # subsequent where=/ingest on a column no row carries
            raise ValueError(
                f"{fn}: '{new_col}' collides with the backfill join's "
                "helper columns — pick another name"
            )
        if new_col in store:
            raise ValueError(
                f"{fn}: '{new_col}' is already a stored metadata column "
                f"(store_cols={list(store)}) — flip stored values with "
                "update_metadata; add_metadata_col adds NEW columns"
            )
        if new_col in reserved:
            raise ValueError(
                f"{fn}: '{new_col}' collides with the segment schema's "
                f"reserved columns ({sorted(reserved)})"
            )
    if isinstance(default, dict):
        bad = [c for c in default if c not in new_cols]
        if bad:
            raise ValueError(
                f"{fn}: default= names column(s) {bad} that are not "
                f"among the new metadata columns {new_cols}"
            )
    return new_cols


def check_drop_metadata_cols(cols, store, fn: str) -> list:
    """Shared up-front validation for every family's metadata-column
    PRUNE path (``*_index_drop_metadata_col`` — the inverse of the
    backfill leg): ``cols`` (one name or a list) must each be a
    currently stored metadata column, named once. Dropping ALL stored
    columns is legal — the index reverts to store_cols-less, and any
    subsequent ``where=`` against a dropped column fails with the
    standard unknown-column error (whether a sink's admission scope
    still references it is undetectable here, so the contract is
    documented, not guessed). Returns the names as a list."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    if not cols:
        raise ValueError(f"{fn}: no columns to drop")
    if len(set(cols)) != len(cols):
        raise ValueError(f"{fn}: duplicate column names in {cols}")
    bad = [c for c in cols if c not in store]
    if bad:
        raise ValueError(
            f"{fn}: {bad} are not stored metadata columns of this "
            f"index (store_cols={list(store)}) — only stored metadata "
            "can be dropped"
        )
    return cols


def backfill_metadata_rows(
    rows, values, id_col: str, new_cols: list, default, fn: str,
    coverage_ids=None,
):
    """Attach NEW metadata column(s) to every visible index row:
    values looked up by id (extra ids in ``values`` are ignored — it
    is a lookup, not a command), ids absent from ``values`` filled
    with ``default``. Shared by the four families' backfill paths.

    ``new_cols`` is a LIST: k columns backfill in ONE pass and ONE
    commit — the O(index) rewrite is the whole cost of evolution, so
    a k-column quality table must never pay it k times. ``default``
    is either one value applied to every new column, or a dict
    ``{col: default}`` — columns absent from the dict have NO default
    (an uncovered id raises for them). Coverage is judged per ROW of
    ``values`` (one values row carries all k columns for its id), so
    one probe covers every no-default column.

    Loud-up-front guards: duplicate value ids raise; a join-
    incompatible id type raises (it would silently NULL-fill every
    row under non-ANSI semantics); and for any column with NO
    default, a visible id lacking a values row raises BEFORE anything
    is written — ``coverage_ids`` is the family's cheapest
    one-row-per-id relation (band 0 for the band families, the code
    rows for ANN, distinct posting doc ids for BM25), so the coverage
    probe is one column-pruned scan, never a second full-width pass.

    An explicit ``default=None`` is honored (NULL backfill); the
    missing-vs-explicit-NULL distinction rides a presence marker, not
    ``coalesce``, so a deliberate NULL in ``values`` survives even
    when a non-NULL default is given. Returns ``(rows_with_new_cols,
    n_values)``."""
    from pyspark.sql import functions as F

    if "_has" in rows.columns:
        raise ValueError(
            f"{fn}: the index stores column '_has', which collides "
            "with the backfill join's helper column — rename it"
        )
    defaults = (
        {c: default.get(c, NO_DEFAULT) for c in new_cols}
        if isinstance(default, dict)
        else {c: default for c in new_cols}
    )
    vals, _vst = eager_stats(
        values.select(id_col, *new_cols), n=F.count(F.lit(1))
    )
    n_vals = int(_vst["n"])
    if vals.select(id_col).distinct().count() < n_vals:
        raise ValueError(
            f"{fn}: duplicate {id_col} row(s) in values — one value "
            "per id"
        )
    check_self_exclusion_types(
        vals.schema[id_col].dataType,
        rows.schema[id_col].dataType,
        f"{fn}: values",
        remedy="Cast the values id column to the indexed id type.",
    )
    no_default = [c for c in new_cols if defaults[c] is NO_DEFAULT]
    if no_default:
        ids = coverage_ids if coverage_ids is not None else rows.select(id_col)
        n_missing = (
            ids.distinct()
            .join(vals.select(id_col), on=id_col, how="left_anti")
            .count()
        )
        if n_missing:
            raise ValueError(
                f"{fn}: {n_missing} visible id(s) have no value in "
                f"values and no default= was given for {no_default} — "
                "pass default= to fill the gap, or cover every "
                "visible id"
            )
    joined = rows.join(
        vals.withColumn("_has", F.lit(True)), on=id_col, how="left"
    )
    out = joined
    for c in new_cols:
        if defaults[c] is NO_DEFAULT:
            # coverage proven above (or no probe needed: every
            # visible id has a values row), so the joined value IS
            # the value — no marker logic, explicit NULLs included
            continue
        out = out.withColumn(
            c,
            F.when(F.col("_has").isNotNull(), F.col(c)).otherwise(
                F.lit(defaults[c]).cast(vals.schema[c].dataType)
            ),
        )
    out = out.drop("_has")
    return out, n_vals


def resolve_cdc_with_meta(changes, id_col: str, op_col: str, seq_col):
    """Split a CDC batch into the final non-meta ops (the unchanged
    :func:`resolve_cdc` semantics over 'I'/'U'/'D') and the final 'M'
    (metadata-only) ops that still apply AFTER the batch's upserts.
    Returns ``(final_others, final_metas)``; ``final_metas`` is None
    when the batch carries no 'M' rows at all — the fast path every
    existing change log takes, with zero extra jobs beyond one
    early-stopping ``take(1)`` probe.

    'M' resolution: the LAST 'M' per id, DROPPED when a non-meta op
    at an equal-or-later sequence supersedes it — a 'U' at-or-after
    the 'M' carries the full authoritative metadata record, and a 'D'
    at-or-after removes the row the 'M' would touch (superseded 'M's
    vanish exactly like superseded 'U's do today, uncounted). An 'M'
    that SURVIVES but whose id is not visible once the batch's
    deletes and upserts have applied is a no-op, never an error
    (counted by the caller) — the 'D'-of-missing precedent: CDC
    replay must converge, and a foreachBatch sink that raised on a
    re-graded-then-deleted id would wedge its stream permanently.

    Without ``seq_col`` the whole batch — BOTH classes together —
    must carry at most one op per id (the shared resolve_cdc guard),
    so a 'U'+'M' pair for one id can never apply in arbitrary
    order."""
    from pyspark.sql import functions as F

    metas_raw = changes.filter(F.col(op_col) == "M")
    if not metas_raw.take(1):
        return resolve_cdc(changes, id_col, op_col, seq_col), None
    if seq_col is None:
        final = resolve_cdc(changes, id_col, op_col, None)
        return (
            final.filter(F.col(op_col) != "M"),
            final.filter(F.col(op_col) == "M"),
        )
    others = resolve_cdc(
        changes.filter(F.col(op_col) != "M"), id_col, op_col, seq_col
    )
    metas = resolve_cdc(metas_raw, id_col, op_col, seq_col)
    sup = others.select(id_col, F.col(seq_col).alias("_other_seq"))
    metas = (
        metas.join(sup, on=id_col, how="left")
        .filter(
            F.col("_other_seq").isNull()
            | (F.col(seq_col) > F.col("_other_seq"))
        )
        .drop("_other_seq")
    )
    return others, metas


def apply_cdc_meta(
    metas, *, store, src_id_col: str, dst_id_col: str, visible_ids,
    update_fn, fn: str,
):
    """The shared 'M'-op fold every family's ``apply_cdc`` runs AFTER
    its deletes and upserts: project the surviving 'M' rows to
    ``(id, *store_cols)`` (an 'M' row is the full metadata record for
    its id, like a 'U' row — per-column partial updates don't exist
    on a change stream), drop ids not visible post-upsert (the no-op
    contract of :func:`resolve_cdc_with_meta`), and apply the
    family's metadata-only update — one segment + tombstone commit,
    nothing re-encoded. Returns ``{"meta_updated": u,
    "meta_noops": n}``.

    An 'M' op against an index built WITHOUT ``store_cols`` raises:
    that is a pipeline misconfiguration (the stream is shipping
    re-grades nothing can store), not a replayable data condition."""
    from pyspark.sql import functions as F

    if not metas.take(1):
        # every raw 'M' was superseded by a same-batch U/D —
        # superseded M's vanish uncounted like superseded U's, and
        # the store_cols misconfiguration guard below must not fire
        # for ops that no longer exist (a foreachBatch raise here
        # would wedge the stream on every replay AFTER the batch's
        # deletes/upserts already committed)
        return {"meta_updated": 0, "meta_noops": 0}
    if not store:
        raise ValueError(
            f"{fn}: the change batch carries 'M' (metadata-only) ops "
            "but this index stores no metadata columns — build with "
            "store_cols=[...] or keep re-grades off this stream"
        )
    check_store_cols(metas, store, fn)
    upd, _st = eager_stats(
        metas.select(F.col(src_id_col).alias(dst_id_col), *store),
        n=F.count(F.lit(1)),
    )
    n_meta = int(_st["n"])
    if visible_ids is None:
        return {"meta_updated": 0, "meta_noops": n_meta}
    check_self_exclusion_types(
        upd.schema[dst_id_col].dataType,
        visible_ids.schema[visible_ids.columns[0]].dataType,
        f"{fn}: 'M' rows",
        remedy="Cast the change stream's id column to the indexed id type.",
    )
    vis = visible_ids.select(
        F.col(visible_ids.columns[0]).alias(dst_id_col)
    ).distinct()
    visible_upd, _vst = eager_stats(
        upd.join(vis, on=dst_id_col, how="left_semi"),
        n=F.count(F.lit(1)),
    )
    n_vis = int(_vst["n"])
    if n_vis:
        update_fn(visible_upd)
    return {"meta_updated": n_vis, "meta_noops": n_meta - n_vis}
