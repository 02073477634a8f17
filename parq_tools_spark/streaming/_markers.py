"""Checkpoint-scoped, versioned batch markers shared by the streaming
index-maintenance sinks (``streaming/near_dedup.py``,
``streaming/index_sink.py``) — ONE implementation so the recovery
protocol cannot fork between them.

``foreachBatch`` is at-least-once; these markers make a sink's index
side effects exactly-once: a fully-applied batch commits a marker file
in the index directory and replays short-circuit on it.

Protocol (hard-won invariants, see the near-dedup module docstring
for the original derivation):

- markers are scoped to ONE query's checkpoint — batch ids are only
  meaningful relative to a checkpoint (a fresh-checkpoint restart
  renumbers batches), so each marker records the checkpoint's
  fully-qualified identity and is ignored for any other;
- markers are VERSIONED, never overwritten: each commit creates a
  brand-new file (name = checkpoint digest + batch id) and sweeps
  older ones only AFTER the new one is durable. An overwrite-in-place
  would have a delete+rename crash window on HDFS that erases history
  and replays an applied batch; with versioned files the worst crash
  outcome is a stale EXTRA marker, and reads take the max batch id;
- reads are STRICT: only a genuinely ABSENT marker reads as "nothing
  applied"; a marker that exists but fails to read or parse raises —
  treating a transient storage error as -1 would re-apply an applied
  batch.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

__all__ = ["MARKER", "last_applied", "commit_marker", "start_foreach_batch"]

MARKER = "_stream_last_batch"


def marker_identity(spark: SparkSession, checkpoint_dir: str) -> str:
    """The checkpoint's scheme-stable identity (fully-qualified URI
    via the Hadoop FileSystem — ``os.path.abspath`` only means
    something on ``file:``)."""
    from parq_tools_spark.sources.statefs import StateFS

    return StateFS(spark, checkpoint_dir).qualify(checkpoint_dir)


def ckpt_digest(identity: str) -> str:
    import hashlib

    return hashlib.md5(identity.encode("utf-8")).hexdigest()[:8]


def marker_files(fs, index_path: str):
    """``(name, batch_or_None)`` for every marker file present —
    numbered ``_stream_last_batch.<ckpt>.<n>`` plus the legacy
    unnumbered ``_stream_last_batch`` (pre-versioned protocol)."""
    out = []
    for name, is_dir, _ in fs.list_status(index_path):
        if is_dir or not name.startswith(MARKER):
            continue
        if name == MARKER:
            out.append((name, None))
            continue
        tail = name[len(MARKER) + 1 :].rsplit(".", 1)
        if len(tail) == 2 and tail[1].isdigit():
            out.append((name, int(tail[1])))
    return out


def last_applied(
    spark: SparkSession, index_path: str, checkpoint_dir: str
) -> int:
    """Last fully-applied batch id FOR THIS QUERY's checkpoint, -1 if
    none. Markers carrying another checkpoint's identity are ignored
    (their batches were a different query's numbering)."""
    import json

    from parq_tools_spark.sources.statefs import StateFS

    fs = StateFS(spark, index_path)
    ident = marker_identity(spark, checkpoint_dir)
    digest = ckpt_digest(ident)
    last = -1
    for name, batch in marker_files(fs, index_path):
        if batch is not None and f".{digest}." not in name:
            continue  # another checkpoint's marker — not ours
        m = json.loads(fs.read_text(f"{index_path}/{name}"))
        if m.get("checkpoint") != ident:
            continue
        last = max(last, int(m["batch"]))
    return last


def commit_marker(
    spark: SparkSession,
    index_path: str,
    checkpoint_dir: str,
    batch_id: int,
) -> None:
    """Create a NEW versioned marker file (atomic per scheme —
    ``statefs.write_text`` to a never-before-used name, so the
    delete+rename overwrite fallback can't run), then sweep older
    markers OF THIS CHECKPOINT ONLY. A crash after the create leaves
    extra stale markers — reads take the max for the checkpoint, so
    that is harmless.

    The sweep is digest-scoped: if two streaming queries with
    DISTINCT checkpoints maintain the same index path, each commit
    must leave the other query's progress marker untouched — a
    blanket sweep would erase it every batch and force that query
    into perpetual replays. The legacy unnumbered marker (pre-digest
    protocol) is swept only when its recorded checkpoint identity IS
    this checkpoint's."""
    import json

    from parq_tools_spark.sources.statefs import StateFS

    fs = StateFS(spark, index_path)
    fs.mkdirs(index_path)
    ident = marker_identity(spark, checkpoint_dir)
    digest = ckpt_digest(ident)
    new_name = f"{MARKER}.{digest}.{batch_id}"
    fs.write_text(
        f"{index_path}/{new_name}",
        json.dumps({"checkpoint": ident, "batch": batch_id}),
    )
    for name, batch in marker_files(fs, index_path):
        if name == new_name:
            continue
        if batch is not None and f".{digest}." not in name:
            continue  # another checkpoint's marker — not ours to sweep
        if batch is None:
            # legacy unnumbered marker: sweep only if it is provably
            # OURS. A failed read (swept concurrently by its owner, or
            # unreadable content) means ownership can't be proven —
            # skip it rather than crash the commit; leaving a foreign
            # file is always safe (the strict-read protocol surfaces
            # real corruption in the OWNER's last_applied, where a
            # wrong answer would actually replay a batch).
            try:
                m = json.loads(fs.read_text(f"{index_path}/{name}"))
            except Exception:
                continue
            if m.get("checkpoint") != ident:
                continue
        fs.delete(f"{index_path}/{name}")


def start_foreach_batch(df, process, checkpoint_dir: str, query_name,
                        available_now: bool):
    """Start ``df``'s ``foreachBatch(process)`` query — the one writer
    setup every marker-protected sink shares: checkpointed, optionally
    named, ``availableNow`` (drain the backlog and stop) or
    continuous."""
    writer = df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
