"""Structured Streaming tests: file-source events stream, batch/stream parity."""

import os
import shutil
import time

import pytest

from pyspark.sql import functions as F

from parq_tools_spark.streaming.events import (
    hourly_counts,
    read_events_stream,
    sessionize,
    start_to_memory,
)

# micros-precision JSON timestamps (default rendering is millis-only)
_JSON_TS_OPTS = {"timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"}


@pytest.fixture()
def events_dir(spark, sf_dir, tmp_path):
    # stream source dir = copy of the events file (file-source streams a dir)
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), d / "part-0.parquet")
    return str(d)


def _batch_events(spark, sf_dir):
    from parq_tools_spark.streaming.events import normalize_events

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    )


def test_streaming_hourly_matches_batch(spark, sf_dir, events_dir):
    stream = read_events_stream(spark, events_dir)
    assert stream.isStreaming
    q = start_to_memory(hourly_counts(stream), "hourly_test")
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM hourly_test").collect()
    }
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_counts(_batch_events(spark, sf_dir)).collect()
    }
    # append mode only emits windows the watermark has passed: the final
    # <=3 hour-windows per event type (2h watermark) stay in state when
    # the stream ends, so `got` is a prefix-subset of the batch result
    assert 0 < len(got) <= len(expected)
    assert len(got) >= len(expected) - 3 * 5  # 5 event types
    for k, (n, s) in got.items():
        assert expected[k][0] == n
        assert abs(expected[k][1] - s) < 1e-6


def test_streaming_sessionize_runs(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    q = start_to_memory(sessionize(stream), "sessions_test")
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT user_id, count(*) AS n FROM sessions_test GROUP BY user_id"
    ).collect()
    assert rows
    assert all(r.n >= 1 for r in rows)


def test_batch_sessionize_gap_semantics(spark, sf_dir):
    ev = _batch_events(spark, sf_dir)
    sess = sessionize(ev)
    one_user = sess.filter("user_id = 1").collect()
    # sessions for a user must not overlap and must be ordered
    spans = sorted((r.session_start, r.session_end) for r in one_user)
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert e1 <= s2


def test_running_user_totals_stateful(spark, sf_dir, events_dir):
    from parq_tools_spark.streaming.events import running_user_totals

    stream = read_events_stream(spark, events_dir)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # running_user_totals sets a processing-time state timeout, so the
    # query plans a no-data batch after every batch: neither availableNow
    # nor processAllAvailable() ever sees it finish. Its first no-data
    # batch means every available file was consumed; stop it there.
    try:
        deadline, seen_rows = time.monotonic() + 120, False
        while q.isActive:
            rows = [p["numInputRows"] for p in q.recentProgress]
            seen_rows = seen_rows or any(rows)
            if seen_rows and rows[-1] == 0:
                break
            assert time.monotonic() < deadline, "query never drained its input"
            time.sleep(0.2)
        got = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql(
                "SELECT user_id, max(n_events) n_events, max(total_value) total_value "
                "FROM running_totals GROUP BY user_id"
            ).collect()
        }
    finally:
        q.stop()
    expected = {
        r.user_id: (r.n, r.s)
        for r in _batch_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(expected)
    for uid, (n, s) in expected.items():
        assert got[uid][0] == n
        assert abs(got[uid][1] - s) < 1e-6


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    import os

    from parq_tools_spark.sources.bucketing import (
        bucketed_join_plan_is_shuffle_free,
        write_bucketed,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
            F.col("c_custkey").alias("o_custkey"), "c_name"
        )
        write_bucketed(orders, "b_orders", ["o_custkey"], 8, sort_keys=["o_custkey"])
        write_bucketed(cust, "b_cust", ["o_custkey"], 8, sort_keys=["o_custkey"])
        assert bucketed_join_plan_is_shuffle_free(
            spark, "b_orders", "b_cust", ["o_custkey"]
        )
        joined = spark.table("b_orders").join(spark.table("b_cust"), "o_custkey")
        assert joined.count() == orders.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_cust")


def test_parse_event_payloads_roundtrip(spark, sf_dir):
    """Kafka value decoder: events serialized to JSON strings decode
    back to the same typed rows (+ event_time), malformed rows -> nulls."""
    from parq_tools_spark.streaming.events import parse_event_payloads

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")).limit(50)
    )
    as_json = events.select(F.to_json(
            F.struct(*events.columns), _JSON_TS_OPTS
        ).alias("value"))
    decoded = parse_event_payloads(as_json)
    want = {tuple(r) for r in events.collect()}
    got = {tuple(r)[:-1] for r in decoded.collect()}  # drop event_time
    assert want == got
    bad = spark.createDataFrame([("not json",)], "value string")
    row = parse_event_payloads(bad).collect()[0]
    assert row.event_id is None and row.event_time is None


def test_read_events_kafka_raises_without_connector(spark):
    from parq_tools_spark.streaming.events import read_events_kafka

    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        read_events_kafka(spark, "localhost:9092", "events")


def test_kafka_shaped_decoder_pipeline_matches_batch(spark, sf_dir, tmp_path):
    """Integration-shaped Kafka emulation: JSON payload lines stream through
    the FILE source (same string-value shape a Kafka topic delivers, with
    malformed records interleaved), get decoded by parse_event_payloads,
    and aggregate via hourly_counts — output must equal the batch result on
    the same (valid) events."""
    from parq_tools_spark.streaming.events import (
        hourly_counts,
        parse_event_payloads,
        start_to_memory,
    )

    # deterministic subset: limit() may pick DIFFERENT rows when the
    # plan re-evaluates on multi-partition input (sf0.01+), which would
    # desync the serialized payloads from the batch reference below
    events = _batch_events(spark, sf_dir).drop("event_time").filter(
        "event_id < 400"
    )
    # time-order the emulated topic (like a Kafka partition): a second
    # source file carrying events >2h OLDER than the first file's max
    # would be dropped by the watermark after their window already
    # emitted, legitimately desyncing stream from batch
    payloads = events.orderBy("ts").select(F.to_json(
            F.struct(*events.columns), _JSON_TS_OPTS
        ).alias("value"))
    src = tmp_path / "topic"
    src.mkdir()
    lines = [r.value for r in payloads.collect()]
    # interleave malformed payloads the decoder must null out, not crash on
    lines.insert(0, "{broken json")
    lines.append("not even json")
    # two "partitions" of the emulated topic -> two source files
    (src / "part-0.txt").write_text("\n".join(lines[: len(lines) // 2]) + "\n")
    (src / "part-1.txt").write_text("\n".join(lines[len(lines) // 2 :]) + "\n")

    raw = (
        spark.readStream.format("text")
        .schema("value string")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    decoded = parse_event_payloads(raw).filter(F.col("event_id").isNotNull())
    q = start_to_memory(hourly_counts(decoded), "kafka_shaped", "append")
    q.awaitTermination(120)

    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("kafka_shaped").collect()
    }
    from parq_tools_spark.streaming.events import normalize_events

    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in hourly_counts(normalize_events(events)).collect()
    }
    # append mode holds back windows the watermark hasn't passed (final
    # <=3 hours per event type); everything emitted must match batch —
    # counts exactly, double sums to fp tolerance (stream state
    # accumulates in a different order than the batch aggregation)
    assert 0 < len(got) <= len(want)
    assert len(got) >= len(want) - 3 * 5  # 5 event types
    for k, (n, s) in got.items():
        assert want[k][0] == n, k
        assert abs(want[k][1] - s) < 1e-6, k


def test_streaming_dedupe_bounded_state(spark, sf_dir, tmp_path):
    """Duplicate events arriving twice (two source files) are emitted once;
    result matches batch dropDuplicates on the same ids."""
    import shutil

    from parq_tools_spark.streaming.events import (
        dedupe_stream,
        read_events_stream,
        start_to_memory,
    )

    d = tmp_path / "dup_stream"
    d.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), d / "part-0.parquet")
    shutil.copy(os.path.join(sf_dir, "events.parquet"), d / "part-1.parquet")

    stream = read_events_stream(spark, str(d))
    q = start_to_memory(dedupe_stream(stream), "dedup_stream_test")
    q.awaitTermination(120)
    got = spark.table("dedup_stream_test").count()
    want = _batch_events(spark, sf_dir).count()  # source has unique event_ids
    assert got == want

    # batch parity path
    b = _batch_events(spark, sf_dir)
    doubled = b.union(b)
    assert dedupe_stream(doubled).count() == want


def test_stream_static_join_matches_batch(spark, sf_dir, events_dir):
    """Stream-static enrichment join: the static dimension is joined into
    every microbatch (broadcast), then windowed — equals the batch plan."""
    from parq_tools_spark.streaming.events import hourly_counts, start_to_memory

    dim = spark.range(0, 1000).select(
        F.col("id").alias("user_id"), (F.col("id") % 3).alias("cohort")
    )
    stream = read_events_stream(spark, events_dir)
    enriched = stream.join(F.broadcast(dim), "user_id", "left")
    agg = (
        enriched.withWatermark("event_time", "2 hours")
        .groupBy(F.window("event_time", "1 hour").alias("win"), "cohort")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "cohort", "n")
    )
    q = start_to_memory(agg, "stream_static_join")
    q.awaitTermination(120)
    got = {(r.ws, r.cohort): r.n for r in spark.table("stream_static_join").collect()}

    batch = (
        _batch_events(spark, sf_dir)
        .join(F.broadcast(dim), "user_id", "left")
        .groupBy(F.window("event_time", "1 hour").alias("win"), "cohort")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "cohort", "n")
    )
    want = {(r.ws, r.cohort): r.n for r in batch.collect()}
    assert 0 < len(got) <= len(want)
    for k, v in got.items():  # watermark holds back the tail windows
        assert want[k] == v


def test_stream_stream_join_matches_batch(spark, sf_dir, events_dir):
    """Stream-stream interval join (clicks x purchases per user within
    10 minutes) must emit exactly the batch join's pairs once both
    file-source streams drain."""
    from parq_tools_spark.streaming.events import (
        join_events_within,
        start_to_memory,
    )

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", "event_id", "event_time"
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "event_id", "event_time"
        )
        return clicks, buys

    sc, sb = split(read_events_stream(spark, events_dir))
    q = start_to_memory(
        join_events_within(sc, sb, within="10 minutes"), "ss_join"
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in spark.table("ss_join").collect()
    }

    bc, bb = split(_batch_events(spark, sf_dir))
    want = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in join_events_within(bc, bb, within="10 minutes").collect()
    }
    assert got == want
    assert len(want) > 0


def test_streaming_cdc_apply_maintains_snapshot(spark, tmp_path):
    """A change stream folded into a parquet snapshot must reach the
    same final state as the batch apply_cdc of the full change log."""
    from parq_tools_spark.operators.merge import apply_cdc
    from parq_tools_spark.streaming.cdc import start_cdc_apply

    snap_path = str(tmp_path / "snapshot")
    chg_dir = tmp_path / "changes"
    chg_dir.mkdir()
    initial = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    initial.write.parquet(snap_path)

    chg_schema = "k long, op string, seq long, name string, v double"
    batch1 = [(2, "U", 1, "b2", 21.0), (4, "I", 1, "d", 40.0)]
    batch2 = [(2, "D", 2, None, None), (3, "U", 2, "c3", 33.0)]
    spark.createDataFrame(batch1, chg_schema).coalesce(1).write.parquet(
        str(chg_dir / "f1")
    )
    spark.createDataFrame(batch2, chg_schema).coalesce(1).write.parquet(
        str(chg_dir / "f2")
    )

    stream = (
        spark.readStream.schema(chg_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chg_dir / "*"))
    )
    q = start_cdc_apply(
        stream, snap_path, ["k"], str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    from parq_tools_spark.streaming.cdc import read_snapshot

    got = sorted(tuple(r) for r in read_snapshot(spark, snap_path).collect())
    expected_df = apply_cdc(
        initial,
        spark.createDataFrame(batch1 + batch2, chg_schema),
        ["k"],
    )
    expected = sorted(tuple(r) for r in expected_df.collect())
    assert got == expected
    assert got == [(1, "a", 10.0), (3, "c3", 33.0), (4, "d", 40.0)]
    # the raw snapshot carries the per-key applied-seq bookkeeping
    raw = read_snapshot(spark, snap_path, with_seq=True)
    assert "__cdc_seq" in raw.columns
    seqs = {r["k"]: r["__cdc_seq"] for r in raw.collect()}
    assert seqs == {1: None, 3: 2, 4: 1}


def test_streaming_cdc_stale_batch_does_not_overwrite(spark, tmp_path):
    """An out-of-order micro-batch carrying a LOWER seq than what the
    snapshot already applied must be a no-op (persisted-seq guard)."""
    from parq_tools_spark.streaming.cdc import read_snapshot, start_cdc_apply

    snap_path = str(tmp_path / "snapshot")
    chg_dir = tmp_path / "changes"
    chg_dir.mkdir()
    spark.createDataFrame(
        [(1, "a", 10.0)], "k long, name string, v double"
    ).write.parquet(snap_path)

    chg_schema = "k long, op string, seq long, name string, v double"
    # newer event arrives FIRST, stale event in a LATER micro-batch
    spark.createDataFrame(
        [(1, "U", 5, "new", 50.0)], chg_schema
    ).coalesce(1).write.parquet(str(chg_dir / "f1"))
    spark.createDataFrame(
        [(1, "U", 2, "stale", 20.0), (2, "I", 1, "b", 2.0)], chg_schema
    ).coalesce(1).write.parquet(str(chg_dir / "f2"))

    stream = (
        spark.readStream.schema(chg_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chg_dir / "*"))
    )
    q = start_cdc_apply(
        stream, snap_path, ["k"], str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)

    got = sorted(tuple(r) for r in read_snapshot(spark, snap_path).collect())
    # k=1 keeps the seq-5 state; the stale seq-2 update was skipped,
    # while the genuinely-new k=2 insert from the same batch landed
    assert got == [(1, "new", 50.0), (2, "b", 2.0)]


def test_cdc_aborted_batch_invisible_and_swept(spark, tmp_path):
    """A crash mid-batch leaves a v-dir without its _COMMITTED marker:
    readers must keep resolving the previous version, and the marker's
    appearance alone flips them to the new one. Old versions and the
    bootstrap files are swept once two newer commits exist."""
    import json
    import os

    from parq_tools_spark.streaming.cdc import read_snapshot

    snap = str(tmp_path / "snap")
    spark.range(5).write.parquet(snap)  # bootstrap = version 0

    # batch writes v=1 data but dies before the commit marker
    spark.range(9).write.parquet(os.path.join(snap, "v=1"))
    assert read_snapshot(spark, snap).count() == 5  # still bootstrap
    # the marker lands -> same files, new resolution
    with open(os.path.join(snap, "v=1", "_COMMITTED"), "w") as f:
        json.dump({"batch": 0, "checkpoint": "ck"}, f)
    assert read_snapshot(spark, snap).count() == 9

    # drive a real stream on top: its first batch becomes v=2, and the
    # NEXT batch's sweep removes v=1 and the bootstrap root files
    chg_dir = tmp_path / "chg"
    chg_dir.mkdir()
    chg_schema = "id long, op string, seq long"
    spark.createDataFrame([(100, "I", 1)], chg_schema).coalesce(
        1
    ).write.parquet(str(chg_dir / "f1"))
    spark.createDataFrame([(101, "I", 2)], chg_schema).coalesce(
        1
    ).write.parquet(str(chg_dir / "f2"))
    stream = (
        spark.readStream.schema(chg_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chg_dir / "*"))
    )
    from parq_tools_spark.streaming.cdc import start_cdc_apply

    q = start_cdc_apply(
        stream, snap, ["id"], str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(120)
    assert read_snapshot(spark, snap).count() == 11  # 9 + 2 inserts
    entries = sorted(os.listdir(snap))
    assert "v=1" not in entries and "v=3" in entries
    assert not any(e.endswith(".parquet") for e in entries)  # bootstrap swept


def test_streaming_cdc_apply_rejects_batch_input(spark, tmp_path):
    from parq_tools_spark.streaming.cdc import start_cdc_apply

    batch = spark.createDataFrame([(1, "U", 1)], "k long, op string, seq long")
    with pytest.raises(ValueError):
        start_cdc_apply(batch, str(tmp_path / "s"), ["k"], str(tmp_path / "c"))


# ------------------------------------------------ streaming near-dedup
def _dedup_docs_batches(spark, src_dir):
    """Three single-file micro-batches with known duplicate structure:
    3 near-dups 1, 5 near-dups 4, 6 exactly dups 2, 7 unique."""
    base_a = "the quick brown fox jumps over the lazy dog again and again " * 4
    base_b = "pack my box with five dozen liquor jugs for the long trip " * 4
    base_c = "sphinx of black quartz judge my vow said the museum curator " * 4
    batches = [
        [(1, base_a), (2, base_b)],
        [(3, base_a + "plus tail"), (4, base_c)],
        [
            (5, base_c + "edited end"),
            (6, base_b),
            (7, "completely unrelated short text about spark streaming"),
        ],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(os.path.join(src_dir, f"f{i}"))
    return batches


def _run_near_dedupe(spark, src_dir, index_path, out_path, ckpt):
    from parq_tools_spark.streaming.near_dedup import start_near_dedupe_stream

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src_dir, "*"))
    )
    q = start_near_dedupe_stream(
        stream,
        index_path,
        out_path,
        ckpt,
        threshold=0.7,
        num_hashes=64,
        bands=16,
        available_now=True,
    )
    q.awaitTermination(180)


def test_streaming_near_dedupe_admits_only_novel_docs(spark, tmp_path):
    """Cross-batch near-duplicates must be suppressed by the on-disk
    index; the admitted set matches the sequential batch ingest."""
    from parq_tools_spark.operators.dedup import (
        incremental_dedupe,
        minhash_index_write,
    )

    src = tmp_path / "docs"
    src.mkdir()
    batches = _dedup_docs_batches(spark, str(src))
    index_path = str(tmp_path / "index")
    out_path = str(tmp_path / "admitted")
    _run_near_dedupe(spark, str(src), index_path, out_path, str(tmp_path / "ck"))

    got = spark.read.parquet(out_path)
    assert set(got.columns) == {"doc_id", "text", "batch"}
    admitted = sorted(r.doc_id for r in got.collect())
    assert admitted == [1, 2, 4, 7]

    # parity: the same ingest as sequential batch incremental_dedupe
    batch_index = str(tmp_path / "batch_index")
    first = spark.createDataFrame(batches[0], "doc_id long, text string")
    minhash_index_write(first, batch_index, num_hashes=64, bands=16)
    expected = {1, 2}
    for rows in batches[1:]:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        surv = incremental_dedupe(
            spark, batch_index, df, threshold=0.7, update_index=True
        )
        expected |= {r.doc_id for r in surv.collect()}
    assert sorted(expected) == admitted


def test_streaming_near_dedupe_replay_is_idempotent(spark, tmp_path):
    """Replaying every batch against an already-populated index (a
    lost checkpoint + lost marker, the worst recovery case) must admit
    the same documents and leave the output without duplicates."""
    src = tmp_path / "docs"
    src.mkdir()
    _dedup_docs_batches(spark, str(src))
    index_path = str(tmp_path / "index")
    out_path = str(tmp_path / "admitted")
    _run_near_dedupe(spark, str(src), index_path, out_path, str(tmp_path / "ck1"))
    import json

    # versioned markers: a new file per commit, older ones swept after
    # the new one is durable — never an in-place overwrite (which would
    # have a delete+rename crash window on HDFS)
    markers = [
        os.path.join(index_path, f)
        for f in os.listdir(index_path)
        if f.startswith("_stream_last_batch.") and not f.endswith(".crc")
    ]
    assert len(markers) == 1
    marker = markers[0]
    assert marker.rsplit(".", 1)[1] == "2"
    assert json.load(open(marker))["batch"] == 2

    def index_files():
        return sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(index_path)
            for f in fs
            if f.endswith(".parquet")
        )

    files_before = index_files()

    # full replay: fresh checkpoint AND no marker -> every batch re-runs
    os.remove(marker)
    _run_near_dedupe(spark, str(src), index_path, out_path, str(tmp_path / "ck2"))
    got = spark.read.parquet(out_path)
    assert sorted(r.doc_id for r in got.collect()) == [1, 2, 4, 7]
    assert len(index_files()) > len(files_before)  # at-least-once appends...

    # ...which are correctness-neutral: a third corpus pass still
    # suppresses every distinct-id near-duplicate; the admitted docs
    # themselves pass as equal-id resubmissions (documented
    # exclude_same_id semantics in minhash_index_query)
    from parq_tools_spark.operators.dedup import incremental_dedupe

    all_docs = spark.read.parquet(os.path.join(str(src), "*"))
    surv = incremental_dedupe(spark, index_path, all_docs, threshold=0.7)
    assert sorted(r.doc_id for r in surv.collect()) == [1, 2, 4, 7]

    # same-checkpoint rerun: nothing is re-delivered / re-applied,
    # index untouched (a FRESH checkpoint instead reprocesses by
    # design — the marker is scoped to one query's checkpoint)
    files_mid = index_files()
    _run_near_dedupe(spark, str(src), index_path, out_path, str(tmp_path / "ck2"))
    assert index_files() == files_mid


def test_streaming_near_dedupe_fresh_checkpoint_sees_new_files(spark, tmp_path):
    """A restart with a LOST checkpoint renumbers micro-batches; the
    marker (scoped to the old checkpoint) must not short-circuit them,
    or files arriving after the first run would be silently skipped."""
    src = tmp_path / "docs"
    src.mkdir()
    _dedup_docs_batches(spark, str(src))
    index_path = str(tmp_path / "index")
    out_path = str(tmp_path / "admitted")
    _run_near_dedupe(spark, str(src), index_path, out_path, str(tmp_path / "ck1"))
    # new unique doc arrives; the old checkpoint is gone
    spark.createDataFrame(
        [(8, "an entirely fresh document observed after the restart")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(os.path.join(str(src), "f3"))
    _run_near_dedupe(spark, str(src), index_path, out_path, str(tmp_path / "ck2"))
    admitted = sorted(
        r.doc_id for r in spark.read.parquet(out_path).collect()
    )
    assert 8 in admitted  # the post-restart file was processed
    assert [d for d in admitted if d != 8] == [1, 2, 4, 7]


def test_streaming_near_dedupe_empty_first_batch(spark, tmp_path):
    """An empty micro-batch before the index exists must commit its
    marker cleanly (the index dir is created on demand), not crash."""
    src = tmp_path / "docs"
    src.mkdir()
    schema = "doc_id long, text string"
    spark.createDataFrame([], schema).coalesce(1).write.parquet(
        os.path.join(str(src), "f0")
    )
    spark.createDataFrame(
        [(1, "one real document arriving after the empty file")], schema
    ).coalesce(1).write.parquet(os.path.join(str(src), "f1"))
    index_path = str(tmp_path / "index")
    out_path = str(tmp_path / "admitted")
    _run_near_dedupe(spark, str(src), index_path, out_path, str(tmp_path / "ck"))
    assert [r.doc_id for r in spark.read.parquet(out_path).collect()] == [1]


def test_streaming_near_dedupe_ignores_crashed_maintenance(spark, tmp_path):
    """A stream restart after a crash mid-add/compaction (an orphan
    segment directory no manifest references) must proceed without any
    repair step: orphans are invisible to the versioned manifest, so
    batches keep admitting correctly and the orphan is swept by the
    next compaction. (The old rename-in-place protocol wedged the read
    path here until a repair ran.)"""
    src = tmp_path / "docs"
    src.mkdir()
    _dedup_docs_batches(spark, str(src))
    index_path = str(tmp_path / "index")
    out_path = str(tmp_path / "admitted")
    _run_near_dedupe(spark, str(src), index_path, out_path, str(tmp_path / "ck"))
    admitted = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert admitted == [1, 2, 4, 7]

    # simulate the crash: a half-written segment, never committed
    orphan = os.path.join(index_path, "seg-000099-deadbeef")
    spark.createDataFrame(
        [(0, "junk")], "doc_id long, text string"
    ).write.parquet(os.path.join(orphan, "band=0"))

    # new arrival + restart (same checkpoint): admits with no wedging
    spark.createDataFrame(
        [(9, "a genuinely new document about versioned state commits")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(os.path.join(str(src), "f9"))
    _run_near_dedupe(spark, str(src), index_path, out_path, str(tmp_path / "ck"))
    admitted2 = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert admitted2 == [1, 2, 4, 7, 9]

    # the orphan never entered the manifest; maintenance sweeps it
    from parq_tools_spark.operators.dedup import (
        _index_manifest,
        minhash_index_compact,
    )

    _, _, segments = _index_manifest(spark, index_path)
    assert "seg-000099-deadbeef" not in segments
    minhash_index_compact(spark, index_path)
    assert not os.path.exists(orphan)


def test_streaming_near_dedupe_rebootstraps_after_crashed_write(spark, tmp_path):
    """A writer crash between the params-sidecar write and the manifest
    commit leaves params but NO committed index. The bootstrap gate
    keys on the COMMITTED MANIFEST, so the stream re-enters bootstrap
    (which resets the partial state) instead of wedging every batch on
    'no committed minhash index' (review-found failure mode)."""
    import json

    from parq_tools_spark.sources.statefs import StateFS

    src = tmp_path / "docs"
    src.mkdir()
    _dedup_docs_batches(spark, str(src))
    index_path = str(tmp_path / "index")
    out_path = str(tmp_path / "admitted")
    # the crash artifact: params sidecar only
    fs = StateFS(spark, index_path)
    fs.mkdirs(index_path)
    fs.write_text(
        os.path.join(index_path, "_minhash_params.json"),
        json.dumps({"id_col": "doc_id", "num_hashes": 64, "bands": 16,
                    "k": 3, "hash_family": "portable"}),
    )
    _run_near_dedupe(spark, str(src), index_path, out_path, str(tmp_path / "ck"))
    admitted = sorted(r.doc_id for r in spark.read.parquet(out_path).collect())
    assert admitted == [1, 2, 4, 7]


def _run_simhash_dedupe(spark, src_dir, index_path, out_path, ckpt, **kw):
    from parq_tools_spark.streaming.near_dedup import (
        start_simhash_dedupe_stream,
    )

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src_dir, "*"))
    )
    q = start_simhash_dedupe_stream(
        stream,
        index_path,
        out_path,
        ckpt,
        max_hamming=3,
        n_bands=8,
        available_now=True,
        **kw,
    )
    q.awaitTermination(180)


def test_streaming_simhash_dedupe_matches_batch_path(spark, tmp_path):
    """The SimHash admission stream equals the sequential batch
    ingest through simhash_incremental_dedupe — same bootstrap, same
    frozen params, same in-batch lower-id rule."""
    from parq_tools_spark.operators.simhash_index import (
        simhash_incremental_dedupe,
        simhash_index_write,
    )

    src = tmp_path / "docs"
    src.mkdir()
    batches = _dedup_docs_batches(spark, str(src))
    index_path = str(tmp_path / "shindex")
    out_path = str(tmp_path / "admitted")
    _run_simhash_dedupe(
        spark, str(src), index_path, out_path, str(tmp_path / "ck")
    )
    got = spark.read.parquet(out_path)
    assert set(got.columns) == {"doc_id", "text", "batch"}
    admitted = sorted(r.doc_id for r in got.collect())

    batch_index = str(tmp_path / "batch_index")
    first = spark.createDataFrame(batches[0], "doc_id long, text string")
    simhash_index_write(first.limit(0), batch_index, n_bands=8)
    expected = set()
    for rows in batches:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        surv = simhash_incremental_dedupe(
            spark, batch_index, df, max_hamming=3, update_index=True
        )
        expected |= {r.doc_id for r in surv.collect()}
    assert sorted(expected) == admitted and admitted


def test_streaming_simhash_scoped_admission_equals_subset_index(
    spark, tmp_path, sf_dir
):
    """where= scope on the SimHash admission stream: only
    predicate-matching INDEX entries may block a document — the
    admitted set equals running the batch admitter against an index
    built on the predicate's subset (the test_filtered_topk
    contract, now through the streaming sink)."""
    import os as _os

    from parq_tools_spark.operators.simhash_index import (
        simhash_incremental_dedupe,
        simhash_index_query,
        simhash_index_write,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "lang")
    seed = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "lang"
    )

    scoped = str(tmp_path / "scoped")
    simhash_index_write(seed, scoped, n_bands=8, store_cols=["lang"])
    src = tmp_path / "src"
    src.mkdir()
    batch.coalesce(1).write.parquet(str(src / "b0"))
    out_path = str(tmp_path / "admitted")
    from parq_tools_spark.streaming.near_dedup import (
        start_simhash_dedupe_stream,
    )

    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .parquet(str(src / "*"))
    )
    q = start_simhash_dedupe_stream(
        stream, scoped, out_path, str(tmp_path / "ck"),
        max_hamming=7, n_bands=8, available_now=True,
        where="lang == 'en'",
    )
    q.awaitTermination(180)
    admitted = sorted(
        r.doc_id for r in spark.read.parquet(out_path).collect()
    )

    subset = str(tmp_path / "subset")
    simhash_index_write(
        seed.filter(F.col("lang") == "en"), subset, n_bands=8
    )
    want = sorted(
        r.doc_id
        for r in simhash_incremental_dedupe(
            spark, subset, batch.select("doc_id", "text"), max_hamming=7
        ).collect()
    )
    assert admitted == want
    # survivors were appended to the scoped index (store_cols intact:
    # a where= query over the grown index still serves)
    assert simhash_index_query(
        spark, scoped, batch.select("doc_id", "text").limit(5),
        max_hamming=7, where="lang == 'en'", exclude_same_id=False,
    ).count() >= 0


def test_streaming_minhash_scoped_admission(spark, tmp_path, sf_dir):
    """allowed_ids scope threads through the MinHash admission stream
    the same way: only allowed index entries block."""
    import os as _os

    from parq_tools_spark.operators.dedup import (
        incremental_dedupe,
        minhash_index_write,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") % 2 == 0)
    allowed = seed.filter(F.col("doc_id") % 4 == 0).select("doc_id")
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    scoped = str(tmp_path / "scoped")
    minhash_index_write(seed, scoped, num_hashes=32, bands=8)
    src = tmp_path / "src"
    src.mkdir()
    batch.coalesce(1).write.parquet(str(src / "b0"))
    out_path = str(tmp_path / "admitted")
    from parq_tools_spark.streaming.near_dedup import (
        start_near_dedupe_stream,
    )

    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(str(src / "*"))
    q = start_near_dedupe_stream(
        stream, scoped, out_path, str(tmp_path / "ck"),
        threshold=0.5, available_now=True, allowed_ids=allowed,
    )
    q.awaitTermination(180)
    admitted = sorted(
        r.doc_id for r in spark.read.parquet(out_path).collect()
    )

    subset = str(tmp_path / "subset")
    minhash_index_write(
        seed.filter(F.col("doc_id") % 4 == 0), subset,
        num_hashes=32, bands=8,
    )
    want = sorted(
        r.doc_id
        for r in incremental_dedupe(
            spark, subset, batch, threshold=0.5
        ).collect()
    )
    assert admitted == want


def test_streaming_scoped_admission_survives_multiple_batches(
    spark, tmp_path, sf_dir
):
    """A one-shot iterable allowed set must scope EVERY micro-batch,
    not just the first: the sinks normalize it to a list up front, so
    a generator gives the same admitted set as the equivalent list
    across a multi-batch run."""
    import os as _os

    from pyspark.sql import functions as F

    from parq_tools_spark.operators.dedup import minhash_index_write
    from parq_tools_spark.streaming.near_dedup import (
        start_near_dedupe_stream,
    )

    docs = spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") % 2 == 0)
    allowed = sorted(
        r.doc_id for r in seed.filter(F.col("doc_id") % 4 == 0).collect()
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1)

    def run(ids, tag):
        scoped = str(tmp_path / f"idx_{tag}")
        minhash_index_write(seed, scoped, num_hashes=32, bands=8)
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        # two files + maxFilesPerTrigger=1 => two micro-batches
        batch.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
            str(src / "b0")
        )
        batch.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
            str(src / "b1")
        )
        out = str(tmp_path / f"out_{tag}")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = start_near_dedupe_stream(
            stream, scoped, out, str(tmp_path / f"ck_{tag}"),
            threshold=0.5, available_now=True, allowed_ids=ids,
        )
        q.awaitTermination(180)
        got = spark.read.parquet(out)
        assert got.select("batch").distinct().count() == 2
        return sorted(r.doc_id for r in got.collect())

    assert run(iter(allowed), "gen") == run(list(allowed), "list")


def test_streaming_cdc_apply_with_meta_ops(spark, tmp_path):
    """'M' (metadata-only) ops through the streaming snapshot sink:
    with meta_cols= the re-grade lands without NULLing content, the
    stream reaches the batch apply_cdc state, and replay stays
    idempotent via the persisted seq."""
    from parq_tools_spark.operators.merge import apply_cdc
    from parq_tools_spark.streaming.cdc import (
        read_snapshot,
        start_cdc_apply,
    )

    snap_path = str(tmp_path / "snapshot")
    chg_dir = tmp_path / "changes"
    chg_dir.mkdir()
    initial = spark.createDataFrame(
        [(1, "body one", "en"), (2, "body two", "de")],
        "k long, body string, lang string",
    )
    initial.write.parquet(snap_path)

    chg_schema = "k long, op string, seq long, body string, lang string"
    batch1 = [(1, "U", 1, "body one v2", "fr"), (3, "I", 1, "body three", "en")]
    batch2 = [(1, "M", 2, None, "zz"), (2, "M", 2, None, "qq")]
    spark.createDataFrame(batch1, chg_schema).coalesce(1).write.parquet(
        str(chg_dir / "f1")
    )
    spark.createDataFrame(batch2, chg_schema).coalesce(1).write.parquet(
        str(chg_dir / "f2")
    )
    stream = (
        spark.readStream.schema(chg_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chg_dir / "*"))
    )
    q = start_cdc_apply(
        stream, snap_path, ["k"], str(tmp_path / "ckpt"),
        available_now=True, meta_cols=["lang"],
    )
    q.awaitTermination(120)

    got = sorted(
        tuple(r) for r in read_snapshot(spark, snap_path).collect()
    )
    expected = sorted(
        tuple(r)
        for r in apply_cdc(
            initial,
            spark.createDataFrame(batch1 + batch2, chg_schema),
            ["k"],
            meta_cols=["lang"],
        ).collect()
    )
    assert got == expected
    assert got == [
        (1, "body one v2", "zz"),  # U content kept, M re-grade on top
        (2, "body two", "qq"),     # content untouched by the pure M
        (3, "body three", "en"),
    ]


def test_streaming_cdc_meta_without_meta_cols_fails_batch(
    spark, tmp_path
):
    """A log carrying 'M' into a sink started WITHOUT meta_cols must
    fail the stream loudly (content columns would be NULLed), not
    commit a diverged snapshot."""
    from parq_tools_spark.streaming.cdc import start_cdc_apply

    snap_path = str(tmp_path / "snapshot")
    chg_dir = tmp_path / "changes"
    chg_dir.mkdir()
    spark.createDataFrame(
        [(1, "body", "en")], "k long, body string, lang string"
    ).write.parquet(snap_path)
    chg_schema = "k long, op string, seq long, body string, lang string"
    spark.createDataFrame(
        [(1, "M", 1, None, "zz")], chg_schema
    ).coalesce(1).write.parquet(str(chg_dir / "f1"))
    stream = spark.readStream.schema(chg_schema).parquet(str(chg_dir / "*"))
    q = start_cdc_apply(
        stream, snap_path, ["k"], str(tmp_path / "ckpt"),
        available_now=True,
    )
    import pyspark.errors

    with pytest.raises(pyspark.errors.StreamingQueryException):
        q.awaitTermination(120)


def test_streaming_near_dedupe_store_cols_bootstrap(
    spark, tmp_path, sf_dir
):
    """store_cols= on the MinHash admission sink: a COLD-started
    where=-scoped stream (no pre-built index) admits exactly what the
    pre-built-empty-index variant admits, and an ingest batch missing
    the stored column fails the stream loudly."""
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import (
        StreamingQueryException,
    )

    from parq_tools_spark.operators.dedup import (
        minhash_index_stats,
        minhash_index_write,
    )
    from parq_tools_spark.streaming.near_dedup import (
        start_near_dedupe_stream,
    )

    docs = spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "lang")
    src = tmp_path / "src"
    src.mkdir()
    docs.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        str(src / "b0")
    )
    docs.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        str(src / "b1")
    )

    def run(tag, prebuild, **kw):
        idx = str(tmp_path / f"idx_{tag}")
        if prebuild:
            minhash_index_write(
                docs.limit(0), idx, num_hashes=32, bands=8,
                store_cols=["lang"],
            )
        out = str(tmp_path / f"out_{tag}")
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = start_near_dedupe_stream(
            stream, idx, out, str(tmp_path / f"ck_{tag}"),
            threshold=0.5, num_hashes=32, bands=8,
            available_now=True, where="lang == 'en'", **kw,
        )
        assert q.awaitTermination(300)
        return idx, sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        )

    cold_idx, cold = run("cold", prebuild=False, store_cols=["lang"])
    _, pre = run("pre", prebuild=True)
    assert cold == pre and cold
    # the cold bootstrap really stored the column
    assert minhash_index_stats(spark, cold_idx)["params"][
        "store_cols"
    ] == ["lang"]

    # ingest missing the stored column: loud, names the column
    src2 = tmp_path / "src2"
    src2.mkdir()
    docs.select("doc_id", "text").limit(20).coalesce(1).write.parquet(
        str(src2 / "b0")
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src2 / "*")
    )
    q = start_near_dedupe_stream(
        stream, str(tmp_path / "idx_miss"), str(tmp_path / "out_miss"),
        str(tmp_path / "ck_miss"), threshold=0.5,
        available_now=True, store_cols=["lang"],
    )
    with pytest.raises(StreamingQueryException) as ei:
        q.awaitTermination(300)
    assert "lang" in str(ei.value)


def test_streaming_simhash_store_cols_bootstrap(spark, tmp_path, sf_dir):
    """store_cols= on the SimHash admission sink: cold-started
    where=-scoped admission == the pre-built-empty-index variant."""
    import os as _os

    from pyspark.sql import functions as F

    from parq_tools_spark.operators.simhash_index import (
        simhash_index_stats,
        simhash_index_write,
    )
    from parq_tools_spark.streaming.near_dedup import (
        start_simhash_dedupe_stream,
    )

    docs = spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text", "lang")
    src = tmp_path / "src"
    src.mkdir()
    docs.filter(F.col("doc_id") % 4 == 1).coalesce(1).write.parquet(
        str(src / "b0")
    )
    docs.filter(F.col("doc_id") % 4 == 3).coalesce(1).write.parquet(
        str(src / "b1")
    )

    def run(tag, prebuild, **kw):
        idx = str(tmp_path / f"idx_{tag}")
        if prebuild:
            simhash_index_write(
                docs.limit(0), idx, n_bands=8, store_cols=["lang"]
            )
        out = str(tmp_path / f"out_{tag}")
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = start_simhash_dedupe_stream(
            stream, idx, out, str(tmp_path / f"ck_{tag}"),
            max_hamming=7, n_bands=8,
            available_now=True, where="lang == 'en'", **kw,
        )
        assert q.awaitTermination(300)
        return idx, sorted(
            r.doc_id for r in spark.read.parquet(out).collect()
        )

    cold_idx, cold = run("cold", prebuild=False, store_cols=["lang"])
    _, pre = run("pre", prebuild=True)
    assert cold == pre and cold
    assert simhash_index_stats(spark, cold_idx)["params"][
        "store_cols"
    ] == ["lang"]
