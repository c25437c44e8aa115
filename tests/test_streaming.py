"""Semantics tests for the live Structured Streaming jobs."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_twist_spark.streaming.jobs import (
    QUEUE_SIZE,
    q_stream_dedup_watermark,
    q_stream_queue_ttl,
    q_stream_observe,
)


def test_streaming_dedup_restores_uniqueness(spark, sf_dir):
    out = q_stream_dedup_watermark(spark, sf_dir)
    total_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == total_events
    assert out.select("event_id").distinct().count() == total_events


def test_queue_accounting_conserves_events(spark, sf_dir):
    out = q_stream_queue_ttl(spark, sf_dir)
    # final cumulative counters per user = last non-expired row; take max
    # since counters are monotone
    final = out.groupBy("user_id").agg(
        F.max("msg_sent").alias("sent"), F.max("msg_lost").alias("lost")
    )
    totals = final.agg(F.sum("sent") + F.sum("lost")).collect()[0][0]
    total_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert totals == total_events
    # per batch, at most QUEUE_SIZE admitted
    over = out.filter(
        ~F.col("expired") & (F.col("batch_events") > QUEUE_SIZE)
    )
    assert over.filter(F.col("msg_lost") == 0).count() == 0
    # TTL fired: every user's state eventually expires in the replay
    assert out.filter("expired").count() > 0


def test_observe_metrics_cover_all_batches(spark, sf_dir):
    out = q_stream_observe(spark, sf_dir).collect()
    assert len(out) >= 2  # chunked replay → multiple micro-batches
    total_rows = sum(r.rows for r in out)
    assert total_rows == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_live_rate_source_decodes_continuously(spark):
    """A1/A2 beyond file replay: a genuinely live wall-clock `rate`
    source runs for several real micro-batches; every record that
    arrived must decode to the exact values implied by the generator."""
    import tempfile
    import time
    import uuid

    from iceberg_twist_spark.streaming.live import (
        _EPOCH_ANCHOR,
        read_live_rate_frames,
    )

    decoded = read_live_rate_frames(spark, rows_per_second=200)
    name = f"live_{uuid.uuid4().hex[:8]}"
    q = (
        decoded.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="itws_live_"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= 100:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.table(name).collect()
    assert len(rows) >= 100, f"live source produced only {len(rows)} rows in 60s"
    for r in rows:
        assert r.ts_sec == r.value + _EPOCH_ANCHOR
        assert r.s1 == r.value % 32768
        assert r.s2 == (r.value * 7) % 32768


def test_rate_micro_batch_query_is_deterministic(spark, sf_dir):
    """The registered generator-source query must be exactly repeatable
    (that is what lets it carry a hash oracle)."""
    from iceberg_twist_spark.registry import REGISTRY

    a = sorted(map(tuple, REGISTRY["q_stream_rate_frames"].builder(spark, sf_dir).collect()))
    b = sorted(map(tuple, REGISTRY["q_stream_rate_frames"].builder(spark, sf_dir).collect()))
    assert a == b
    assert len(a) == 500


def test_socket_source_feeds_frame_decoder(spark):
    """A1/A2 as a genuine byte stream over a socket: a local server
    writes hex telemetry frames; Spark's socket source reads them live
    and the Arrow frame decoder recovers every field exactly."""
    import socket
    import struct
    import tempfile
    import threading
    import time
    import uuid

    from pyspark.sql import functions as F

    from iceberg_twist_spark.ingest.frames import decode_frame_hex

    n_frames = 300
    frames = []
    for v in range(n_frames):
        raw = (
            b"\x00" * 6
            + struct.pack("<i", 1_700_000_000 + v)
            + struct.pack("<hh", v % 32768, (v * 3) % 32768)
        )
        frames.append(raw.hex())

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = srv.accept()
        with conn:
            for h in frames:
                conn.sendall((h + "\n").encode())
            done.wait(90)  # hold the connection open until the test stops

    threading.Thread(target=serve, daemon=True).start()

    lines = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1")
        .option("port", port)
        .load()
    )
    rec = decode_frame_hex(F.col("value"))
    decoded = lines.select(
        rec["ts_sec"].alias("ts_sec"), rec["s1"].alias("s1"), rec["s2"].alias("s2")
    )
    name = f"sock_{uuid.uuid4().hex[:8]}"
    q = (
        decoded.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="itws_sock_"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= n_frames:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        done.set()
        srv.close()
    rows = spark.table(name).collect()
    assert len(rows) == n_frames, f"socket source delivered {len(rows)}/{n_frames}"
    got = sorted((r.ts_sec, r.s1, r.s2) for r in rows)
    want = sorted(
        (1_700_000_000 + v, v % 32768, (v * 3) % 32768) for v in range(n_frames)
    )
    assert got == want


def test_queue_ttl_recovers_from_checkpoint_mid_replay(spark, sf_dir):
    """Failure injection: the stateful bounded-queue job is stopped
    after the first two replay chunks (the satellite link drops,
    reference analogue serial_streaming.lua:129-176) and a NEW query
    restarts from the SAME checkpoint once the remaining chunks
    arrive. The union of the two runs' update-mode output must equal
    the uninterrupted batch twin — cumulative counters, the event-time
    watermark, and pending TTL timers all live in the checkpointed
    state and must survive the restart exactly."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    from iceberg_twist_spark.streaming.jobs import (
        EVENT_SCHEMA,
        _QOUT,
        _QSTATE,
        _queue_fn,
        _state_partitions,
        _twin_queue_ttl,
        stage_replay_dir,
    )

    full = stage_replay_dir(spark, sf_dir, 4)
    chunks = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    assert len(chunks) == 4
    replay = tempfile.mkdtemp(prefix="itws_replay_cut_")
    ckpt = tempfile.mkdtemp(prefix="itws_ckpt_cut_")
    # memory sink refuses checkpoint recovery by design; the recovery
    # path a real deployment uses is a fault-tolerant file sink whose
    # _spark_metadata commit log is what makes the restart exactly-once
    out = tempfile.mkdtemp(prefix="itws_out_cut_") + "/sink"

    def arrive(names):
        for f in names:  # copy2 keeps the staged ascending mtimes
            shutil.copy2(os.path.join(full, f), os.path.join(replay, f))

    def run_once():
        s = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
            .withWatermark("ts", "10 minutes")
        )
        stats = s.groupBy("user_id").applyInPandasWithState(
            _queue_fn,
            outputStructType=_QOUT,
            stateStructType=_QSTATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        with _state_partitions(spark):
            q = (
                stats.writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # batch read honors the sink's _spark_metadata commit log, so
        # only exactly-once-committed files are visible
        return [tuple(r) for r in spark.read.parquet(out).collect()]

    try:
        arrive(chunks[:2])
        first = run_once()  # consumes chunks 0-1, commits state, stops
        arrive(chunks[2:])
        combined = run_once()  # SAME checkpoint: resumes at chunk 2
    finally:
        shutil.rmtree(replay, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    # the twin must model the cut: the stop's trailing no-data batch
    # fires timers that a continuous run would have suppressed for keys
    # with data in the next chunk (flush_after=(2,) = stop after 2 chunks)
    twin = sorted(
        tuple(r) for r in _twin_queue_ttl(spark, sf_dir, flush_after=(2,)).collect()
    )
    assert sorted(combined) == twin
    assert sorted(first) != twin  # the restart really contributed
    assert len(combined) > len(first), "resumed run emitted nothing"


def test_stream_join_recovers_from_checkpoint_mid_replay(spark, sf_dir):
    """Failure injection for the attribution join: stop after two
    replay chunks, restart from the SAME checkpoint when the rest
    arrive. The join buffers (unmatched clicks/purchases still inside
    the interval) and the watermark live in checkpointed state; the
    union of both runs' file-sink output must equal the uninterrupted
    batch interval join — cross-cut matches (a chunk-2 purchase hitting
    a chunk-1 click) only exist if the buffered state survived."""
    import shutil
    import tempfile

    from iceberg_twist_spark.streaming.jobs import (
        EVENT_SCHEMA,
        _state_partitions,
        _twin_stream_join,
        build_stream_join,
        stage_replay_dir,
    )

    full = stage_replay_dir(spark, sf_dir, 4)
    chunks = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    assert len(chunks) == 4
    replay = tempfile.mkdtemp(prefix="itws_replay_sj_")
    ckpt = tempfile.mkdtemp(prefix="itws_ckpt_sj_")
    out = tempfile.mkdtemp(prefix="itws_out_sj_") + "/sink"

    def arrive(names):
        for f in names:
            shutil.copy2(os.path.join(full, f), os.path.join(replay, f))

    def src():
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )

    def run_once():
        joined = build_stream_join(src(), src())
        with _state_partitions(spark):
            q = (
                joined.writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return [tuple(r) for r in spark.read.parquet(out).collect()]

    try:
        arrive(chunks[:2])
        first = run_once()
        arrive(chunks[2:])
        combined = run_once()  # SAME checkpoint: resumes at chunk 2
    finally:
        shutil.rmtree(replay, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    twin = sorted(tuple(r) for r in _twin_stream_join(spark, sf_dir).collect())
    assert sorted(combined) == twin
    assert len(first) < len(combined), "restart contributed nothing"
    # the restart must produce matches ACROSS the cut (purchase after,
    # click before) — the part only surviving join state can deliver
    first_purchases = {t[1] for t in first}
    resumed = [t for t in combined if t[1] not in first_purchases]
    assert resumed, "no post-cut purchases joined"


def test_upsert_sink_recovers_from_checkpoint_mid_replay(spark, sf_dir):
    """Failure injection for the foreachBatch CDC sink: the replay is
    cut after two chunks and restarted from the same checkpoint. The
    commit log must skip the already-merged batches (or n_events would
    double-count) and the resumed merges must land — the final store
    equals the uninterrupted latest-wins twin exactly."""
    import shutil
    import tempfile

    from iceberg_twist_spark.streaming.jobs import (
        EVENT_SCHEMA,
        UPSERT_STORE_SCHEMA,
        _state_partitions,
        _twin_upsert,
        make_upsert_merger,
        stage_replay_dir,
    )

    full = stage_replay_dir(spark, sf_dir, 4)
    chunks = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    replay = tempfile.mkdtemp(prefix="itws_replay_up_")
    ckpt = tempfile.mkdtemp(prefix="itws_ckpt_up_")
    store = tempfile.mkdtemp(prefix="itws_store_up_")
    merger = make_upsert_merger(store)

    def arrive(names):
        for f in names:
            shutil.copy2(os.path.join(full, f), os.path.join(replay, f))

    def run_once():
        s = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        with _state_partitions(spark):
            q = (
                s.writeStream.foreachBatch(merger)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        from iceberg_twist_spark.common import ts_str

        # render last_ts canonically — the twin (like the registered
        # query boundary) returns it as a formatted string
        return [
            tuple(r)
            for r in spark.read.schema(UPSERT_STORE_SCHEMA)
            .parquet(store)
            .select(
                "user_id", "last_value", "n_events",
                ts_str(F.col("last_ts")).alias("last_ts"),
            )
            .collect()
        ]

    try:
        arrive(chunks[:2])
        first = run_once()
        mid_counts = {t[0]: t[2] for t in first}
        arrive(chunks[2:])
        combined = run_once()
        # idempotence: a third start with nothing new must not re-merge
        again = run_once()
    finally:
        shutil.rmtree(replay, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)
    twin = sorted(tuple(r) for r in _twin_upsert(spark, sf_dir).collect())
    assert sorted(combined) == twin
    assert sorted(again) == twin, "restart with no new data re-merged batches"
    full_counts = {t[0]: t[2] for t in combined}
    assert any(
        full_counts[u] > c for u, c in mid_counts.items()
    ), "resumed run merged nothing new"


def test_dedup_watermark_recovers_from_checkpoint_mid_replay(spark, sf_dir):
    """Failure injection for streaming dedup: stop after two replay
    chunks, then re-arrive a DUPLICATE COPY of chunk 1 alongside the
    remaining chunks and restart from the SAME checkpoint. The two
    recovery semantics under test are exactly the ones the restart can
    lose: (a) the dedup state store — in-watermark duplicates are
    suppressed only if the seen-key state survived; (b) the watermark
    clock — older duplicates are dropped as late only if the restored
    clock still says they are late (a reset clock would re-admit and
    re-emit them). Union of both runs' file-sink output must equal the
    original events exactly once."""
    import shutil
    import tempfile

    from iceberg_twist_spark.streaming.jobs import (
        EVENT_SCHEMA,
        _state_partitions,
        _twin_dedup,
        stage_replay_dir,
    )

    full = stage_replay_dir(spark, sf_dir, 4)
    chunks = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    assert len(chunks) == 4
    replay = tempfile.mkdtemp(prefix="itws_replay_dd_")
    ckpt = tempfile.mkdtemp(prefix="itws_ckpt_dd_")
    out = tempfile.mkdtemp(prefix="itws_out_dd_") + "/sink"

    def arrive(src_name, dst_name, mtime):
        dst = os.path.join(replay, dst_name)
        shutil.copyfile(os.path.join(full, src_name), dst)
        os.utime(dst, (mtime, mtime))

    def run_once():
        s = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        deduped = s.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        with _state_partitions(spark):
            q = (
                deduped.writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        from iceberg_twist_spark.common import ts_str

        # the twin renders ts canonically (r9 oracle promotion)
        return [
            tuple(r)
            for r in spark.read.parquet(out)
            .select(
                "event_id", ts_str(F.col("ts")).alias("ts"),
                "user_id", "event_type", "value", "props",
            )
            .collect()
        ]

    base = 1_600_000_000
    try:
        arrive(chunks[0], "chunk_000.parquet", base)
        arrive(chunks[1], "chunk_001.parquet", base + 1)
        first = run_once()  # consumes chunks 0-1, commits state, stops
        # the duplicate copy replays FIRST after the restart (mtime
        # order), while the restored watermark still brackets chunk 1
        arrive(chunks[1], "chunk_001_dup.parquet", base + 2)
        arrive(chunks[2], "chunk_002.parquet", base + 3)
        arrive(chunks[3], "chunk_003.parquet", base + 4)
        combined = run_once()  # SAME checkpoint: resumes after chunk 1
    finally:
        shutil.rmtree(replay, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    twin = sorted(tuple(r) for r in _twin_dedup(spark, sf_dir).collect())
    assert sorted(combined) == twin, (
        "re-arrived duplicates leaked through the restart (state store "
        "or watermark clock did not survive)"
    )
    assert len(first) < len(combined), "restart contributed nothing"


def test_late_drop_recovers_from_checkpoint_mid_replay(spark, sf_dir):
    """Failure injection for the watermark clock: stop the append-mode
    windowed count after three of six replay chunks, then re-arrive a
    COPY of chunk 0 (days older than the committed watermark) before
    the remaining chunks and restart from the SAME checkpoint. A
    surviving clock drops every late row — closed windows stay closed
    and already-emitted counts are never re-emitted or inflated; a
    reset clock would re-open them. Union of both runs must equal the
    uninterrupted twin."""
    import shutil
    import tempfile

    from iceberg_twist_spark.streaming.jobs import (
        EVENT_SCHEMA,
        _state_partitions,
        _twin_late_drop,
        stage_replay_dir,
    )

    full = stage_replay_dir(spark, sf_dir, 6)
    chunks = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
    assert len(chunks) == 6
    replay = tempfile.mkdtemp(prefix="itws_replay_ld_")
    ckpt = tempfile.mkdtemp(prefix="itws_ckpt_ld_")
    out = tempfile.mkdtemp(prefix="itws_out_ld_") + "/sink"

    def arrive(src_name, dst_name, mtime):
        dst = os.path.join(replay, dst_name)
        shutil.copyfile(os.path.join(full, src_name), dst)
        os.utime(dst, (mtime, mtime))

    def run_once():
        s = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        from iceberg_twist_spark.common import ts_str

        counted = (
            s.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("cnt"))
            # the twin renders the start canonically (r9 promotion)
            .select(ts_str(F.col("w.start")).alias("window_start"), "cnt")
        )
        with _state_partitions(spark):
            q = (
                counted.writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return [tuple(r) for r in spark.read.parquet(out).collect()]

    base = 1_600_000_000
    try:
        for k in range(3):
            arrive(chunks[k], f"chunk_{k:03d}.parquet", base + k)
        first = run_once()
        # chunk 0 re-arrives ~10 event-days late: every row is behind
        # the restored watermark and must be dropped, not re-aggregated
        arrive(chunks[0], "chunk_000_late.parquet", base + 3)
        for k in range(3, 6):
            arrive(chunks[k], f"chunk_{k:03d}.parquet", base + k + 1)
        combined = run_once()
    finally:
        shutil.rmtree(replay, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    twin = sorted(tuple(r) for r in _twin_late_drop(spark, sf_dir).collect())
    assert sorted(combined) == twin, (
        "late re-arrival leaked into closed windows (watermark clock "
        "did not survive the restart)"
    )
    assert len(first) < len(combined), "restart contributed nothing"
    # windows emitted before the cut must not re-emit after it
    emitted_twice = [w for w in {t[0] for t in first} if
                     sum(1 for t in combined if t[0] == w) > 1]
    assert not emitted_twice, f"windows re-emitted after restart: {emitted_twice}"


def test_snapshot_tail_batches_align_with_commits(spark, tmp_path):
    """The snapshot-tail source advances exactly one commit per
    micro-batch (offsets = snapshot ids): per-batch input row counts
    equal the per-commit increments, and a non-append commit in the
    tailed range fails the stream instead of returning wrong rows."""
    import tempfile
    import uuid

    import pytest

    from iceberg_twist_spark.sources.snapshot_stream import (
        register_snapshot_tail,
    )
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    register_snapshot_tail(spark)
    tbl = SnapshotTable(spark, str(tmp_path / "tail"))
    tbl.create(spark.range(10).selectExpr("id", "id * 2 AS v"))
    tbl.append(spark.range(100, 105).selectExpr("id", "id * 2 AS v"))
    tbl.append(spark.range(200, 207).selectExpr("id", "id * 2 AS v"))

    def start(name):
        return (
            spark.readStream.format("itws_snaptail")
            .option("path", tbl.path)
            .option("schema_ddl", "id bigint, v bigint")
            .option("columns", "id,v")
            .option("snapshots_per_batch", "1")
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="itws_ck_"))
            .start()
        )

    name = f"tail_{uuid.uuid4().hex[:8]}"
    q = start(name)
    try:
        q.processAllAvailable()
        per_batch = [
            p["numInputRows"] for p in q.recentProgress if p["numInputRows"]
        ]
    finally:
        q.stop()
    assert per_batch == [10, 5, 7], per_batch
    assert spark.table(name).count() == 22
    # a mid-range overwrite breaks files-added ≡ rows-added → the
    # stream fails loudly rather than emitting wrong increments
    tbl.overwrite(spark.range(3).selectExpr("id", "id AS v"))
    tbl.append(spark.range(300, 302).selectExpr("id", "id * 2 AS v"))
    name2 = f"tail_{uuid.uuid4().hex[:8]}"
    q2 = start(name2)
    try:
        with pytest.raises(Exception, match="non-append|ancestor"):
            q2.processAllAvailable()
    finally:
        q2.stop()


def test_snapshot_tail_offsets_walk_committed_chain(spark, tmp_path):
    """r10 advice: snapshot ids are allocated to staged WAP snapshots
    and CAS orphans too, so advancing the tail offset by id arithmetic
    (lo + per_batch) can land ON a staged manifest — emitting
    unaudited rows, then wedging on 'not an ancestor'. Offsets must
    step along the COMMITTED parent chain, skipping off-chain ids."""
    from iceberg_twist_spark.sources.snapshot_stream import (
        _SnapshotTailReader,
        _committed_above,
    )
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "tailchain"))
    s1 = tbl.create(spark.range(5).selectExpr("id"))
    s2 = tbl.append(spark.range(5, 8).selectExpr("id"))
    # a staged (unpublished WAP) snapshot takes the next id but is
    # NOT on the committed chain
    staged = tbl.stage(spark.range(100, 104).selectExpr("id"))
    s3 = tbl.append(spark.range(8, 10).selectExpr("id"))
    chain = _committed_above(tbl.path, 0)
    assert staged not in chain
    assert chain == [s1, s2, s3]
    rdr = _SnapshotTailReader(
        {"path": tbl.path, "columns": "id", "snapshots_per_batch": "1"}
    )
    off = rdr.initialOffset()
    seen = []
    for _ in range(5):
        rows, off = rdr.read(off)
        n = len(list(rows))
        if n:
            seen.append((off["snapshot"], n))
    assert [s for s, _ in seen] == [s1, s2, s3], seen
    assert [n for _, n in seen] == [5, 3, 2], seen


@pytest.mark.parametrize("part", ["g", "flag", "day"])
def test_snapshot_tail_reads_partitioned_appends(spark, tmp_path, part):
    """Tailing from a partition-spec commit over appends to the
    partitioned table returns read_incremental's rows: identity
    partition values live in the directory layout, not the data files,
    and come back under the table's types."""
    from iceberg_twist_spark.sources.snapshot_stream import _SnapshotTailReader
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    cols = ["id", "id % 4 AS g", *_PART_COLS.values()]
    tbl = SnapshotTable(spark, str(tmp_path / "ptail"))
    tbl.create(spark.range(10).selectExpr(*cols))
    spec = tbl.set_partition_spec([part])
    tbl.append(spark.range(10, 20).selectExpr(*cols))
    last = tbl.append(spark.range(20, 26).selectExpr(*cols))
    names = ["id", "g", "flag", "day"]
    rdr = _SnapshotTailReader(
        {"path": tbl.path, "columns": ",".join(names), "from_snapshot": str(spec)}
    )
    off = rdr.initialOffset()
    streamed = []
    for _ in range(4):
        rows, off = rdr.read(off)
        streamed.extend(rows)
    assert off == {"snapshot": last}
    want = sorted(tuple(r) for r in tbl.read_incremental(spec, last).select(*names).collect())
    assert len(want) == 16
    assert sorted(streamed) == want


def test_stream_sources_execute_the_tables_plans():
    """Source guard: the stream sources hold no manifest reader, chain
    walk, delete bookkeeping or pandas of their own; changelog planning
    lives in ``SnapshotTable.changelog_plan`` alone, and the plan
    methods never touch the session (the readers run without one)."""
    import ast

    import iceberg_twist_spark.sources.snapshot_stream as stream_mod
    import iceberg_twist_spark.sources.snapshots as snap_mod

    with open(stream_mod.__file__, encoding="utf-8") as f:
        stream_src = f.read()
    for banned in ("version-hint", "v{", "parent_id", "_NO_CHANGE_OPS",
                   "eq_deletes", "pos_deletes", "import pandas"):
        assert banned not in stream_src, banned
    with open(snap_mod.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    cls = next(n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "SnapshotTable")
    defs = {n.name: ast.unparse(n) for n in cls.body if isinstance(n, ast.FunctionDef)}
    assert [name for name, src in defs.items() if "_NO_CHANGE_OPS" in src] == ["changelog_plan"]
    for name in ("_chain_segment", "added_files", "changelog_plan"):
        assert "self.spark" not in defs[name], name


def test_iceberg_sink_exactly_once_under_checkpoint_restart(spark, sf_dir, tmp_path):
    """r10 verdict #1: foreachBatch is at-least-once — a crash AFTER
    the snapshot commit but BEFORE the checkpoint's write-ahead record
    replays the same batch on restart, and a non-idempotent sink
    doubles those rows. snapshot_commit_batch records the batch id in
    the commit summary and skips replayed ids, so the killed-and-
    resumed run must hash-match the uninterrupted batch twin."""
    import tempfile

    from iceberg_twist_spark.sources.snapshots import SnapshotTable
    from iceberg_twist_spark.streaming.jobs import (
        EVENT_SCHEMA,
        snapshot_commit_batch,
        stage_replay_dir,
    )

    replay = stage_replay_dir(spark, sf_dir, 4)
    ckpt = str(tmp_path / "ckpt")
    tbl = SnapshotTable(spark, str(tmp_path / "tbl"))
    inner = snapshot_commit_batch(tbl)
    crash = {"armed": True}

    def crashing(batch_df, batch_id):
        inner(batch_df, batch_id)
        # die after the table commit, before Spark checkpoints the
        # batch — the exact window that produces a replay
        if crash["armed"] and batch_id == 1:
            crash["armed"] = False
            raise RuntimeError("injected crash after commit")

    def run(fn):
        q = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
            .writeStream.foreachBatch(fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    import pytest

    with pytest.raises(Exception, match="injected crash"):
        run(crashing)
    committed_mid = tbl.last_streaming_batch_id()
    assert committed_mid == 1, "crash landed after batch 1's commit"
    run(inner)  # restart from the SAME checkpoint: batch 1 replays
    # exactly-once: every event exactly once, equal to the batch twin
    twin = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert tbl.read().count() == twin.count()
    dups = (
        tbl.read().groupBy("event_id").count().filter("count > 1").count()
    )
    assert dups == 0, "replayed micro-batch was committed twice"
    # one commit per micro-batch, none duplicated
    batch_ids = [
        m.get("summary", {}).get("streaming-batch-id")
        for m in tbl.snapshots()
    ]
    assert batch_ids == sorted(set(batch_ids)), batch_ids


# identity partition columns whose values the hive layout stores as
# strings: a tail must restore them under the table's types
_PART_COLS = {
    "flag": "id % 2 = 0 AS flag",
    "day": "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS day",
}


@pytest.mark.parametrize("part", ["unpartitioned", "flag", "day"])
def test_changelog_tail_matches_batch_scan_all_commit_shapes(spark, tmp_path, part):
    """The streaming CDC source must return the batch read_changelog's
    rows across EVERY commit shape — append, eq-delete, position
    delete, rewrite (no rows), CoW delete; on a boolean or date
    identity partition also a spec change with an append and a CoW
    delete after it — and its readBetweenOffsets replay must be
    deterministic (checkpoint recovery recomputes identical change
    rows)."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshot_stream import _ChangelogTailReader
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    cols = ["id", "id % 4 AS g"] + ([_PART_COLS[part]] if part in _PART_COLS else [])
    tbl = SnapshotTable(spark, str(tmp_path / "cdct"))
    s1 = tbl.create(spark.range(24).selectExpr(*cols))
    tbl.append(spark.range(24, 30).selectExpr(*cols))
    tbl.delete_keys(spark.createDataFrame([(2,), (25,)], "id long"), "id")
    tbl.delete_where_positional(F.col("id") % 9 == 0)
    tbl.rewrite_data_files()  # changelog-silent commit
    if part in _PART_COLS:
        tbl.set_partition_spec([part])
        tbl.append(spark.range(30, 40).selectExpr(*cols))
        tbl.delete_where(F.col("id") % 5 == 1)
    last = tbl.delete_where(F.col("g") == 3)
    names = [c.split(" AS ")[-1] for c in cols]

    rdr = _ChangelogTailReader(
        {"path": tbl.path, "columns": ",".join(names), "from_snapshot": str(s1)}
    )
    off = rdr.initialOffset()
    streamed = []
    for _ in range(10):
        rows, off = rdr.read(off)
        streamed.extend(rows)
    assert off == {"snapshot": last}
    batch = sorted(
        tuple(r)
        for r in tbl.read_changelog(s1, last)
        .select(*names, "_change_type", "_commit_snapshot_id")
        .collect()
    )
    assert sorted(streamed) == batch
    # replay determinism: recomputing the whole range yields the same rows
    replay = list(
        rdr.readBetweenOffsets({"snapshot": s1}, {"snapshot": last})
    )
    assert sorted(replay) == batch


def test_changelog_tail_replays_across_a_rename(spark, tmp_path):
    """A stream started after ``g`` was renamed to ``grp`` replays
    commits written before the rename: every micro-batch reads the
    column by field id, and the rows equal the batch read_changelog's."""
    from pyspark.sql import functions as F

    from iceberg_twist_spark.sources.snapshot_stream import _ChangelogTailReader
    from iceberg_twist_spark.sources.snapshots import SnapshotTable

    tbl = SnapshotTable(spark, str(tmp_path / "cdcr"))
    s1 = tbl.create(spark.range(20).selectExpr("id", "id % 4 AS g"))
    tbl.append(spark.range(20, 26).selectExpr("id", "id % 4 AS g"))
    tbl.delete_where(F.col("id") % 5 == 0)
    tbl.rename_column("g", "grp")
    tbl.append(spark.range(26, 30).selectExpr("id", "id % 4 AS grp"))
    last = tbl.delete_keys(spark.createDataFrame([(21,)], "id long"), "id")

    rdr = _ChangelogTailReader(
        {"path": tbl.path, "columns": "id,grp", "from_snapshot": str(s1)}
    )
    off = rdr.initialOffset()
    streamed = []
    for _ in range(8):
        rows, off = rdr.read(off)
        streamed.extend(rows)
    assert off == {"snapshot": last}
    batch = sorted(
        tuple(r)
        for r in tbl.read_changelog(s1, last)
        .select("id", "grp", "_change_type", "_commit_snapshot_id")
        .collect()
    )
    assert len(batch) == 17
    assert sorted(streamed) == batch
