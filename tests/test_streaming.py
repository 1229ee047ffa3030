"""Structured Streaming tests: windowed agg equals the batch oracle;
incremental foreachBatch OCR is exactly-once across restarts."""

import duckdb

from pyspark.sql import functions as F

from ocrs_spark.ops.relational import ORACLE_TUMBLING, events_sessionize
from ocrs_spark.streaming import (
    file_stream,
    stream_events_tumbling,
    stream_ocr_to_iceberg,
    stream_sessionize_events,
)

from .corpus import corpus_to_spark, generate_corpus

SF_DIR = "/root/testdata/sf0.001"


def test_stream_tumbling_matches_batch_oracle(spark, tmp_path):
    # The file stream source requires a directory; stage the table.
    events_dir = str(tmp_path / "events")
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.parquet(events_dir)
    stream_events_tumbling(
        spark,
        events_dir,
        str(tmp_path / "ckpt"),
        "stream_tumbling_out",
    )
    got = sorted(tuple(r) for r in spark.table("stream_tumbling_out").collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    want = sorted(tuple(r) for r in con.sql(ORACLE_TUMBLING).fetchall())
    assert got == want


def test_stream_sessionize_matches_batch_closed_sessions(spark, tmp_path):
    """The stateful streaming sessionizer must produce exactly the batch
    sessionization result minus each user's trailing (still-open)
    session."""
    events_dir = str(tmp_path / "events")
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.parquet(events_dir)
    stream_sessionize_events(
        spark, events_dir, str(tmp_path / "ckpt"), "stream_sessions_out"
    )
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in spark.table("stream_sessions_out").collect()
    }
    batch = events_sessionize(spark, SF_DIR).collect()
    last_idx = {}
    for r in batch:
        last_idx[r["user_id"]] = max(last_idx.get(r["user_id"], -1), r["session_idx"])
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in batch
        if r["session_idx"] != last_idx[r["user_id"]]
    }
    assert got == want and len(want) > 0


def test_stream_ocr_iceberg_incremental_exactly_once(spark, tmp_path):
    """The transactional Iceberg sink: new files arriving between
    restarts land as new snapshots, each stamped with its streaming
    epoch; nothing committed is reprocessed and the woven output is
    span-exact."""
    from ocrs_spark.iceberg import IcebergTable

    corpus = generate_corpus(n_docs=8, seed=11)
    docs, media, expected = corpus_to_spark(spark, corpus)
    in_dir = str(tmp_path / "in")
    loc = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    half1 = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    half2 = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)

    half1.write.mode("append").parquet(in_dir)
    stream_ocr_to_iceberg(file_stream(spark, in_dir), media, ckpt, loc)
    table = IcebergTable.load(loc)
    assert table.scan(spark).count() == half1.count()

    half2.write.mode("append").parquet(in_dir)
    stream_ocr_to_iceberg(file_stream(spark, in_dir), media, ckpt, loc)
    table = IcebergTable.load(loc)
    result = table.scan(spark)
    assert result.count() == docs.count()
    assert result.groupBy("doc_id").count().filter("count > 1").count() == 0

    # Every snapshot carries its epoch stamp under one stable query id.
    stamps = [
        (s["summary"]["streaming-query-id"], int(s["summary"]["streaming-batch-id"]))
        for s in table.snapshots()
    ]
    assert len({q for q, _ in stamps}) == 1
    assert sorted(b for _, b in stamps) == [0, 1]

    woven = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in result.collect()
    }
    want = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in expected.collect()
    }
    assert woven == want


def test_stream_ocr_iceberg_crash_replay_skips_committed_epoch(spark, tmp_path):
    """Simulate the at-least-once crash window: the Iceberg commit
    succeeded but the streaming commit log entry was lost, so restart
    replays the epoch with the same batch id. The sink must recognize
    the epoch in the snapshot summaries and skip — the table stays
    duplicate-free with no extra snapshot."""
    import os

    from ocrs_spark.iceberg import IcebergTable

    corpus = generate_corpus(n_docs=4, seed=13)
    docs, media, _ = corpus_to_spark(spark, corpus)
    in_dir = str(tmp_path / "in")
    loc = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    docs.write.parquet(in_dir)

    stream_ocr_to_iceberg(file_stream(spark, in_dir), media, ckpt, loc)
    n_snaps = len(IcebergTable.load(loc).snapshots())
    # Erase the streaming commit record for epoch 0 (and its checksum
    # sidecar, which would fail the rewrite's rename); offsets/metadata
    # survive, so the restart re-runs batch 0 under the same query id.
    os.remove(os.path.join(ckpt, "commits", "0"))
    os.remove(os.path.join(ckpt, "commits", ".0.crc"))
    stream_ocr_to_iceberg(file_stream(spark, in_dir), media, ckpt, loc)

    table = IcebergTable.load(loc)
    assert len(table.snapshots()) == n_snaps
    result = table.scan(spark)
    assert result.count() == docs.count()
    assert result.groupBy("doc_id").count().filter("count > 1").count() == 0

    # A FRESH checkpoint is a new streaming query (new query id): its
    # epochs are not dedup-able against the old query's — same contract
    # as Iceberg's real Spark sink, where the skip scope is exactly the
    # checkpoint's replay scope.
    stream_ocr_to_iceberg(file_stream(spark, in_dir), media, str(tmp_path / "ckpt2"), loc)
    table = IcebergTable.load(loc)
    assert table.scan(spark).count() == 2 * docs.count()
    assert len({
        s["summary"]["streaming-query-id"] for s in table.snapshots()
    }) == 2


def test_stream_ocr_iceberg_to_iceberg_end_to_end(spark, tmp_path):
    """The full loop on Iceberg at both ends: documents stream out of
    the source table by snapshot sequence number, are OCR'd by the
    batch pipeline, and land as epoch-stamped snapshots of the results
    table — incremental across restarts, span-exact, duplicate-free."""
    from ocrs_spark.iceberg import IcebergTable
    from ocrs_spark.iceberg_source import IcebergDataSource

    spark.dataSource.register(IcebergDataSource)

    def run():
        source = spark.readStream.format("ocrs_iceberg").load(src_loc)
        stream_ocr_to_iceberg(source, media, ckpt, sink_loc)

    corpus = generate_corpus(n_docs=8, seed=21)
    docs, media, expected = corpus_to_spark(spark, corpus)
    src_loc = str(tmp_path / "src")
    sink_loc = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    half1 = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0)
    half2 = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 1)
    src = IcebergTable.create(src_loc, docs.schema)
    src.append(half1)

    run()
    assert IcebergTable.load(sink_loc).scan(spark).count() == half1.count()

    IcebergTable.load(src_loc).append(half2)
    run()
    result = IcebergTable.load(sink_loc).scan(spark)
    assert result.count() == docs.count()
    assert result.groupBy("doc_id").count().filter("count > 1").count() == 0

    woven = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in result.collect()
    }
    want = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in expected.collect()
    }
    assert woven == want

    # idle restart: no new source snapshots -> no new sink snapshots
    n = len(IcebergTable.load(sink_loc).snapshots())
    run()
    assert len(IcebergTable.load(sink_loc).snapshots()) == n


def test_stream_sink_inline_manifest_maintenance(spark, tmp_path, monkeypatch):
    """A long-lived stream appends one manifest per epoch; past the
    threshold the sink folds them (metadata-only) and re-stamps the
    epoch so the replay high-water mark survives snapshot expiry."""
    import json
    import os

    from ocrs_spark.avro_ocf import read_ocf
    from ocrs_spark.iceberg import IcebergTable
    from ocrs_spark import streaming

    corpus = generate_corpus(n_docs=12, seed=23)
    docs, media, expected = corpus_to_spark(spark, corpus)
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(ckpt)
    with open(os.path.join(ckpt, "metadata"), "w") as f:
        json.dump({"id": "test-query-1"}, f)
    loc = str(tmp_path / "tbl")

    monkeypatch.setattr(streaming, "MANIFEST_REWRITE_THRESHOLD", 3)
    process = streaming._ocr_epoch_sink(media, ckpt, loc, {"kind": "fake"})
    for epoch in range(6):
        process(
            docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(6)) == epoch), epoch
        )

    table = IcebergTable.load(loc)
    snap = next(
        s for s in table.snapshots() if s["snapshot-id"] == table.current_snapshot_id()
    )
    manifests, _ = read_ocf(snap["manifest-list"])
    n_data = sum(1 for m in manifests if m.get("content", 0) == 0)
    # without maintenance this would be 6; the fold keeps it bounded
    assert n_data <= 4
    assert any(
        s["summary"].get("operation") == "replace" for s in table.snapshots()
    )
    # replay high-water mark intact across the manifest rewrites
    assert table.last_streaming_batch("test-query-1") == 5
    # a replayed epoch is still skipped (no duplicate rows)
    process(docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(6)) == 5), 5)
    result = IcebergTable.load(loc).scan(spark)
    assert result.count() == docs.count()
    assert result.groupBy("doc_id").count().filter("count > 1").count() == 0


def test_stream_dedup_drops_redelivered_events(spark, tmp_path):
    """dropDuplicatesWithinWatermark: an at-least-once staging (2 full
    copies + a partial third) collapses to exactly the distinct events."""
    from ocrs_spark.streaming import stream_dedup_events

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    n = ev.count()
    staged = str(tmp_path / "events")
    ev.write.parquet(staged)
    ev.write.mode("append").parquet(staged)
    ev.where("event_id % 3 = 0").write.mode("append").parquet(staged)
    n_staged = spark.read.parquet(staged).count()
    assert n_staged > 2 * n  # duplicates really are planted

    stream_dedup_events(spark, staged, str(tmp_path / "ckpt"), "dedup_t")
    out = spark.table("dedup_t")
    assert out.count() == n
    assert out.select("event_id").distinct().count() == n
    # row contents survive (not just ids): compare to the source rows
    src = {tuple(r) for r in ev.select("event_id", "user_id", "event_type", "value").collect()}
    got = {tuple(r) for r in out.collect()}
    assert got == src


def test_stream_view_click_join_matches_batch_range_join(spark, tmp_path):
    """Watermarked stream-stream interval join across MULTIPLE
    micro-batches: stage the events as three ts-contiguous files and
    drain one file per trigger, so views buffered in batch k must
    survive in join state to meet clicks arriving in batch k+1, and
    the 2h watermarks must not evict anything still joinable. With
    ts-ordered arrival the result equals the exact batch range join."""
    import os

    from ocrs_spark.streaming import stream_view_click_join

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "_epoch", F.unix_timestamp(F.col("ts").cast("timestamp"))
    )
    bounds = ev.select(
        F.expr("percentile(_epoch, array(0.34, 0.67))")
    ).first()[0]
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    cuts = [None, *bounds, None]
    for i in range(3):
        lo, hi = cuts[i], cuts[i + 1]
        part = ev
        if lo is not None:
            part = part.where(F.col("_epoch") > lo)
        if hi is not None:
            part = part.where(F.col("_epoch") <= hi)
        part = part.drop("_epoch")
        part.orderBy("ts").coalesce(1).write.parquet(str(tmp_path / f"stage{i}"))
        (src,) = [
            p for p in (tmp_path / f"stage{i}").iterdir() if p.suffix == ".parquet"
        ]
        dst = events_dir / f"part-{i}.parquet"
        src.rename(dst)
        # FileStreamSource orders pending files by modification time;
        # pin strictly increasing mtimes so batch order == ts order.
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    ckpt = str(tmp_path / "ckpt")
    stream_view_click_join(
        spark, str(events_dir), ckpt, "click_attr_t", max_files_per_trigger=1
    )
    # one offsets file per micro-batch — prove the drain really split
    n_batches = len(os.listdir(os.path.join(ckpt, "offsets")))
    assert n_batches >= 3

    got = sorted(tuple(r) for r in spark.table("click_attr_t").collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    from ocrs_spark.ops.streamrows import ORACLE_CLICK_ATTRIBUTION

    want = sorted(tuple(r) for r in con.sql(ORACLE_CLICK_ATTRIBUTION).fetchall())
    assert got == want and len(want) > 0


def _oracle_value_alerts():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    from ocrs_spark.ops.streamrows import ORACLE_VALUE_ALERTS

    return sorted(tuple(r) for r in con.sql(ORACLE_VALUE_ALERTS).fetchall())


def test_stream_value_alerts_matches_batch_oracle(spark, tmp_path):
    """Single-drain run equals the batch first-crossing oracle, and the
    fixture is non-vacuous both ways: some users alert, some never do."""
    from ocrs_spark.streaming import stream_value_alerts

    events_dir = str(tmp_path / "events")
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.parquet(events_dir)
    stream_value_alerts(spark, events_dir, str(tmp_path / "ckpt"), "alerts_out")
    got = sorted(tuple(r) for r in spark.table("alerts_out").collect())
    want = _oracle_value_alerts()
    assert got == want and len(want) > 0
    n_users = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id"
    ).distinct().count()
    assert len(want) < n_users  # threshold actually filters someone out


def test_stream_value_alerts_state_survives_batches_and_restart(spark, tmp_path):
    """Stage the corpus as three ts-contiguous files, drain one file per
    trigger (cross-BATCH state), then kill/restart between drains with
    the same checkpoint (cross-RESTART state): the union of emitted
    alerts must still be exactly the batch oracle — each user's running
    total accumulates across batches and the fired latch prevents a
    second alert after restart."""
    import os

    from ocrs_spark.streaming import stream_value_alerts

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "_epoch", F.unix_timestamp(F.col("ts").cast("timestamp"))
    )
    bounds = ev.select(F.expr("percentile(_epoch, array(0.34, 0.67))")).first()[0]
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    cuts = [None, *bounds, None]
    for i in range(3):
        lo, hi = cuts[i], cuts[i + 1]
        part = ev
        if lo is not None:
            part = part.where(F.col("_epoch") > lo)
        if hi is not None:
            part = part.where(F.col("_epoch") <= hi)
        part.drop("_epoch").orderBy("ts").coalesce(1).write.parquet(
            str(tmp_path / f"stage{i}")
        )
        (src,) = [
            p for p in (tmp_path / f"stage{i}").iterdir() if p.suffix == ".parquet"
        ]
        dst = events_dir / f"part-{i}.parquet"
        src.rename(dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "alerts_sink")
    # Run 1 must stop after file 0, but availableNow drains everything
    # on disk — so hide files 1-2 for the first run and reveal them for
    # the restart. The sink is a durable parquet file sink: the memory
    # sink cannot recover from a checkpoint.
    hidden = [events_dir / f"part-{i}.parquet" for i in (1, 2)]
    stash = tmp_path / "stash"
    stash.mkdir()
    for p in hidden:
        p.rename(stash / p.name)
    stream_value_alerts(spark, str(events_dir), ckpt, "_", sink_path=sink)
    # Restart: reveal the remaining files, resume from the checkpoint
    # (same ckpt dir + sink, new query), one file per micro-batch.
    # FileStreamSource orders pending files by (mtime, listing order);
    # pin strictly increasing mtimes so batch order == ts order.
    for j, p in enumerate(hidden):
        (stash / p.name).rename(p)
        os.utime(p, (1_000_010 + j, 1_000_010 + j))
    stream_value_alerts(
        spark, str(events_dir), ckpt, "_",
        max_files_per_trigger=1, sink_path=sink,
    )
    n_batches = len(os.listdir(os.path.join(ckpt, "offsets")))
    assert n_batches >= 3  # the drain genuinely split
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    assert got == _oracle_value_alerts()


def test_stream_late_data_drops_is_nonvacuous(spark):
    """The staged out-of-order corpus must exercise all three watermark
    behaviors: in-grace late rows counted (part-1 rows appear in the
    output), past-grace late rows dropped (total emitted < total kept
    would be), and trailing windows held open (fewer windows than the
    full batch agg)."""
    from ocrs_spark.ops.streamrows import stream_late_data_drops

    SF = "/root/testdata/sf0.001"
    out = stream_late_data_drops(spark, SF)
    emitted_rows = out.agg(F.sum("n_events")).first()[0]
    emitted_windows = out.count()
    ev = spark.read.parquet(f"{SF}/events.parquet")
    (max_ts,) = ev.agg(F.max("ts")).first()
    old = F.col("ts") < F.lit(max_ts) - F.expr("INTERVAL 4 HOURS")
    n_total = ev.count()
    n_grace = ev.filter((F.col("event_id") % 10 == 0) & old).count()
    n_past = ev.filter((F.col("event_id") % 10 == 5) & old).count()
    n_held = ev.filter(
        F.col("ts") > F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
    ).count()
    assert n_grace > 0 and n_past > 0 and n_held > 0  # fixture shape
    # past-grace rows dropped, held rows not emitted, in-grace counted:
    assert emitted_rows == n_total - n_past - n_held
    full_windows = (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour"), "event_type"
        ).count().count()
    )
    assert emitted_windows < full_windows


def test_stream_update_upsert_reemits_changed_windows(spark, tmp_path):
    """Update mode must RE-emit a window when a later batch changes it,
    and the Iceberg upsert sink must replace the stale row by key:
    snapshots 2-3 carry equality deletes (proof of replacement, not
    blind append) and the final state equals the batch aggregation of
    the non-dropped rows."""
    import os

    import duckdb as _duck

    from ocrs_spark.iceberg import IcebergTable
    from ocrs_spark.ops.streamrows import ORACLE_LATE_UPDATE
    from ocrs_spark.streaming import stream_tumbling_update

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    (max_ts,) = ev.agg(F.max("ts")).first()
    old = F.col("ts") < F.lit(max_ts) - F.expr("INTERVAL 4 HOURS")
    parts = [
        ev.filter(~((F.col("event_id") % 10).isin(0, 5) & old)),
        ev.filter((F.col("event_id") % 10 == 0) & old),
        ev.filter((F.col("event_id") % 10 == 5) & old),
    ]
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(str(tmp_path / f"st{i}"))
        (src,) = [
            p for p in (tmp_path / f"st{i}").iterdir() if p.suffix == ".parquet"
        ]
        dst = events_dir / f"part-{i}.parquet"
        src.rename(dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))

    loc = str(tmp_path / "tbl")
    stream_tumbling_update(spark, str(events_dir), str(tmp_path / "ckpt"), loc)

    table = IcebergTable.load(loc)
    snaps = table.snapshots()
    assert len(snaps) >= 2  # batch 3's input is fully dropped -> no commit
    added = sum(int(s["summary"]["added-records"]) for s in snaps)

    got = sorted(tuple(r) for r in table.scan(spark).collect())
    # re-emission proof: later batches re-wrote windows batch 0 already
    # emitted, so more rows were appended than survive the merge-on-read
    assert added > len(got)
    con = _duck.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    want = sorted(tuple(r) for r in con.sql(ORACLE_LATE_UPDATE).fetchall())
    assert got == want and len(want) > 0

    # a restart on the same checkpoint and table resumes instead of
    # failing on the table's creation; the keyed upsert keeps one row
    # per window
    stream_tumbling_update(spark, str(events_dir), str(tmp_path / "ckpt"), loc)
    again = sorted(tuple(r) for r in IcebergTable.load(loc).scan(spark).collect())
    assert again == want
    assert len({(r[0], r[1]) for r in again}) == len(again)
