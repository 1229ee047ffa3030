"""Structured Streaming surfaces.

Every stream here runs with an availableNow trigger through ``drain``:
it processes the backlog its source holds when it starts, then stops.
The shapes:

- event streams over a staged events directory (``file_stream``): the
  hourly watermarked window aggregate (``hourly_windows``) in complete,
  append and update mode, watermarked dedup, a stream-stream interval
  join, and two ``applyInPandasWithState`` operators (sessionization,
  threshold alerts); ``ops/streamrows.py`` runs each as a driver row
  against a batch oracle;
- incremental OCR: ``stream_ocr_to_iceberg`` takes the documents as a
  streaming DataFrame (a parquet directory through ``file_stream``, or
  an Iceberg table through the ``ocrs_iceberg`` source), runs every
  micro-batch through the batch pipeline and commits it to one Iceberg
  results table as an epoch-stamped snapshot; a replayed epoch is
  skipped, so the sink is exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from .pipeline import ocr_documents

DRAIN_TIMEOUT_S = 900


def drain(writer: DataStreamWriter) -> None:
    """Start ``writer`` with an availableNow trigger and wait until the
    query has processed its backlog and stopped. The timeout only
    guards against a hang: a stuck micro-batch fails this query rather
    than stalling every query scheduled after it."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"stream {q.name or q.id}: backlog not drained in {DRAIN_TIMEOUT_S}s"
        )


def file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The parquet files of directory ``path`` as a stream, with the
    schema they have now (a file stream source needs one up front)."""
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def hourly_windows(events: DataFrame) -> DataFrame:
    """(window_start, event_type, n_events, sum_value) per hourly
    window of an events stream, under a 2-hour watermark.

    Watermarks require a zoned TIMESTAMP (EVENT_TIME_IS_NOT_ON_
    TIMESTAMP_TYPE on ntz), so the ntz wall time is cast here.
    get_spark pins spark.sql.session.timeZone=UTC, which makes the cast
    wall-time-preserving and the emitted epochs identical to the
    tz-independent batch query (ops.relational) and its oracle."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_events_tumbling(
    spark: SparkSession, events_path: str, checkpoint_dir: str, out_table: str
) -> None:
    """Run the hourly windowed count as an availableNow stream into an
    in-memory sink named ``out_table``. Watermark bounds state for true
    continuous runs; availableNow drains the backlog and stops."""
    drain(
        hourly_windows(file_stream(spark, events_path))
        .writeStream.format("memory")
        .queryName(out_table)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
    )


def stream_tumbling_late(
    spark: SparkSession, events_path: str, checkpoint_dir: str, out_table: str
) -> None:
    """The hourly windowed aggregation in APPEND mode over a staged
    out-of-order delivery — the row that proves the watermark's actual
    contract, which every other streaming row deliberately avoids:

    - late rows arriving while their window is still open (inside the
      grace interval) are COUNTED,
    - late rows arriving after the window was finalized are DROPPED
      row-for-row,
    - windows newer than (max event time - delay) stay open and are
      never emitted.

    Spark tracks two watermark values per micro-batch (the 3.4+ split):
    late-input filtering uses the watermark PLANNED FOR THE PREVIOUS
    batch, state eviction uses the CURRENT batch's. With the staged
    3-file corpus (on-time bulk carrying the global max event time,
    then two old-row re-deliveries) and one file per trigger, both
    values are pure functions of the data, so the exact drop set is
    reproducible in batch SQL (ORACLE_LATE_DROPS). Append mode is what
    a production pipeline writing finalized windows downstream uses —
    complete mode re-emits everything and never drops."""
    drain(
        hourly_windows(file_stream(spark, events_path, max_files_per_trigger=1))
        .writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )


def stream_tumbling_update(
    spark: SparkSession, events_dir: str, checkpoint_dir: str, table_loc: str
) -> None:
    """The hourly windowed aggregation in UPDATE mode, upserted into an
    Iceberg table — the third output mode, with the sink a real
    production shape: every micro-batch emits only the windows it
    CHANGED (open windows included), and ``foreachBatch`` MERGEs them
    into the table by (window_start, event_type) via the engine's
    equality-delete upsert. The final table therefore holds the latest
    state per window — and because the upsert is keyed, a replayed
    batch is idempotent, the same argument Iceberg's real streaming
    upsert sinks make.

    Late-row semantics are the same two-watermark rule as append mode
    (filter = previous batch's planned watermark, eviction = current),
    so over the staged out-of-order corpus the final state is exactly
    the batch aggregation of the non-dropped rows — including the
    still-open trailing windows append mode would withhold."""
    from .iceberg import IcebergTable

    stream = hourly_windows(file_stream(spark, events_dir, max_files_per_trigger=1))
    try:
        IcebergTable.load(table_loc)  # a restart: the replay upserts by key
    except FileNotFoundError:
        IcebergTable.create(table_loc, stream.schema)

    def _merge(batch_df, _batch_id):
        if batch_df.isEmpty():
            return
        IcebergTable.load(table_loc).upsert(
            batch_df.sparkSession,
            batch_df,
            ["window_start", "event_type"],
        )

    drain(
        stream.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )


def stream_dedup_events(
    spark: SparkSession, events_path: str, checkpoint_dir: str, out_table: str
) -> None:
    """Streaming ingest dedup: drop re-deliveries of the same event id
    within the watermark horizon (``dropDuplicatesWithinWatermark``) —
    the canonical shape for re-crawled URLs / at-least-once ingest
    queues, where the same record arrives again minutes-to-hours later.

    The watermark delay bounds the dedup state: ids older than
    (max event time - delay) are evicted, so state is O(events per
    horizon) no matter how long the stream runs — the property that
    makes this viable at web scale, vs. an unbounded ``distinct``.
    The staged test corpus re-delivers every event within the horizon,
    so the drained output is exactly the distinct event set and the
    batch oracle is a plain projection of the original table."""
    stream = (
        file_stream(spark, events_path)
        # zoned timestamp required for watermarks; UTC session tz makes
        # the cast wall-time-preserving (see hourly_windows).
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    drain(
        stream.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )


ATTRIBUTION_WINDOW_SEC = 2 * 60 * 60


def stream_view_click_join(
    spark: SparkSession,
    events_path: str,
    checkpoint_dir: str,
    out_table: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Watermarked stream-stream interval join — the one core
    Structured Streaming operator the other rows don't exercise:
    attribute each click to every view by the same user in the
    preceding two hours (view stream INNER JOIN click stream on
    user_id + a time-range predicate).

    The watermarks + the range condition are what make this viable as
    a continuous job: Spark derives a state-eviction bound from them
    (a buffered view can be dropped once the click-side watermark
    passes view_ts + window), so join state is O(events per horizon)
    instead of unbounded. availableNow drains the staged corpus —
    typically in one micro-batch, so nothing is dropped by the
    watermark and the batch range-join oracle is exact (the same
    argument stream_events_tumbling relies on).

    Both sides read the SAME file source (a stream self-join); output
    keys are the two event ids, so rows stay unique even where epoch
    truncation collides. UTC session tz makes the zoned cast
    wall-time-preserving (see hourly_windows).

    ``max_files_per_trigger`` splits the drain into several
    micro-batches (tests use it to prove cross-batch join state +
    watermark eviction behave); the driver row leaves it unset so the
    single-batch oracle-exactness argument above holds."""
    src = file_stream(spark, events_path, max_files_per_trigger).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    views = (
        src.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    clicks = (
        src.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = click_user_id AND click_ts >= view_ts "
            f"AND click_ts <= view_ts + interval {ATTRIBUTION_WINDOW_SEC} seconds"
        ),
    ).select(
        "user_id",
        "view_id",
        "click_id",
        F.unix_timestamp("view_ts").alias("view_epoch"),
        F.unix_timestamp("click_ts").alias("click_epoch"),
    )
    drain(
        joined.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )


ALERT_THRESHOLD_CENTS = 3000 * 100

_ALERT_OUT_SCHEMA = (
    "user_id bigint, alert_epoch bigint, cum_cents bigint, n_events bigint"
)
_ALERT_STATE_SCHEMA = "cum_cents bigint, n_events bigint, fired boolean"


def _alerts_group(key, pdfs, state):
    """applyInPandasWithState function: per-user running total in EXACT
    integer cents (floor(value*100) — float64 ops are bit-identical in
    Spark/DuckDB/numpy, so the crossing comparison can never flip on
    summation order), firing ONE alert row at the first event where the
    cumulative total crosses the threshold. State keeps accumulating
    after the alert so a restart replays to the same answer."""
    import numpy as np
    import pandas as pd

    (user_id,) = key
    ev = pd.concat(list(pdfs)).sort_values(["ts_epoch", "event_id"])
    if state.exists:
        cum, n, fired = state.get
        cum, n, fired = int(cum), int(n), bool(fired)
    else:
        cum, n, fired = 0, 0, False
    out = []
    cents = np.floor(ev["value"].to_numpy(np.float64) * 100).astype(np.int64)
    for es, c in zip(ev["ts_epoch"].to_numpy(np.int64), cents):
        cum += int(c)
        n += 1
        if not fired and cum >= ALERT_THRESHOLD_CENTS:
            fired = True
            out.append((user_id, int(es), cum, n))
    state.update((cum, n, fired))
    if out:
        yield pd.DataFrame(
            out, columns=["user_id", "alert_epoch", "cum_cents", "n_events"]
        )


def stream_value_alerts(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_table: str,
    max_files_per_trigger: int | None = None,
    sink_path: str | None = None,
) -> None:
    """Stateful threshold alerting: emit one row per user at the first
    event where the user's cumulative value crosses the threshold —
    the monitoring-rule shape (budget caps, abuse limits) that needs
    arbitrary cross-batch state, not a windowed aggregate. Runs on
    ``applyInPandasWithState``.

    ``max_files_per_trigger`` splits the drain into micro-batches so
    tests can prove the running total and the fired latch survive in
    state across batches. ``sink_path`` switches to a parquet file sink
    (the memory sink cannot recover from a checkpoint, so the restart
    test needs a durable sink — exactly what a production alert feed
    would use)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        file_stream(spark, events_dir, max_files_per_trigger)
        .withColumn(
            "ts_epoch",
            F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"),
        )
        .select("user_id", "event_id", "ts_epoch", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _alerts_group,
            outputStructType=_ALERT_OUT_SCHEMA,
            stateStructType=_ALERT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    writer = stream.writeStream.outputMode("append").option(
        "checkpointLocation", checkpoint_dir
    )
    if sink_path is not None:
        drain(writer.format("parquet").option("path", sink_path))
    else:
        drain(writer.format("memory").queryName(out_table))


SESSION_GAP_SEC = 30 * 60

_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start bigint, session_end bigint, "
    "n_events bigint, sum_value double"
)
_SESSION_STATE_SCHEMA = (
    "session_start bigint, session_end bigint, n_events bigint, sum_value double"
)


def _sessionize_group(key, pdfs, state):
    """applyInPandasWithState function: maintain the open session per
    user across micro-batches; emit a session whenever a gap larger
    than SESSION_GAP_SEC closes it. The trailing session stays in state
    (it would be flushed by a timeout in a continuous run)."""
    import pandas as pd

    (user_id,) = key
    events = pd.concat(list(pdfs)).sort_values(["ts_epoch", "event_id"])
    if state.exists:
        start, end, n, total = state.get
    else:
        start = end = None
        n, total = 0, 0.0

    closed = []
    for ts, value in zip(events["ts_epoch"], events["value"]):
        ts, value = int(ts), float(value)
        if start is None:
            start, end, n, total = ts, ts, 1, value
        elif ts - end > SESSION_GAP_SEC:
            closed.append((user_id, start, end, n, round(total, 2)))
            start, end, n, total = ts, ts, 1, value
        else:
            end, n, total = ts, n + 1, total + value
    state.update((start, end, n, total))
    if closed:
        yield pd.DataFrame(
            closed,
            columns=["user_id", "session_start", "session_end", "n_events", "sum_value"],
        )


def stream_sessionize_events(
    spark: SparkSession, events_dir: str, checkpoint_dir: str, out_table: str
) -> None:
    """Custom stateful streaming operator: gap-based sessionization per
    user via applyInPandasWithState (arbitrary state, not expressible as
    a windowed agg). availableNow drains the backlog; sessions closed by
    observed gaps are emitted, each user's open tail session remains in
    state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = (
        file_stream(spark, events_dir)
        # tz-independent epoch (see ops.relational.ntz_epoch_seconds): a
        # cast via TIMESTAMP would shift wall times by the session zone.
        .withColumn(
            "ts_epoch",
            F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"),
        )
        .select("user_id", "event_id", "ts_epoch", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=_SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drain(
        stream.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )


def stream_ocr_to_iceberg(
    documents: DataFrame,
    media: DataFrame,
    checkpoint_dir: str,
    table_location: str,
    engine_conf: dict | None = None,
) -> None:
    """Incremental OCR of a stream of documents with a transactional
    Iceberg sink — exactly-once end to end.

    foreachBatch alone is at-least-once: a crash after the sink write
    but before Spark records the epoch in the streaming commit log
    replays the whole micro-batch on restart. The sink is an
    append-only Iceberg table, so replays must be *detected*, not
    overwritten. Each commit stamps its snapshot summary with
    (streaming-query-id, streaming-batch-id); a replayed epoch finds
    its id at-or-below the table's high-water mark and skips before
    doing any work. The dedup key is Spark's own streaming query id
    (persisted in ``<checkpoint>/metadata``), so the skip scope is
    exactly the checkpoint's replay scope: restarting from the same
    checkpoint dedups, pointing a fresh checkpoint at the table is a
    new query that appends — the same contract as Iceberg's real Spark
    streaming sink. Snapshot commits go through the metadata CAS, so a
    kill mid-commit leaves the previous snapshot live and the epoch
    uncommitted on both sides.

    With ``spark.readStream.format("ocrs_iceberg").load(source)`` as
    ``documents`` this is the full incremental loop on Iceberg at both
    ends: offsets are snapshot sequence numbers, so each micro-batch
    reads exactly the documents appended to the source since the last
    committed offset, and their extracted spans land as one committed
    snapshot of the results table, resumable from the checkpoint alone.
    """
    drain(
        documents.writeStream.foreachBatch(
            _ocr_epoch_sink(
                media, checkpoint_dir, table_location, engine_conf or {"kind": "fake"}
            )
        ).option("checkpointLocation", checkpoint_dir)
    )


# Data manifests a streamed table may carry before the sink folds them.
MANIFEST_REWRITE_THRESHOLD = 8


def _ocr_epoch_sink(
    media: DataFrame,
    checkpoint_dir: str,
    table_location: str,
    engine_conf: dict,
):
    """foreachBatch function: OCR the micro-batch and commit it to the
    Iceberg table with an epoch stamp, skipping replayed epochs (see
    ``stream_ocr_to_iceberg``).

    Inline maintenance: every streaming epoch appends one manifest, and
    scan planning is O(manifests), so a long-lived stream slowly makes
    its own table expensive to read. Once the snapshot carries more
    than ``MANIFEST_REWRITE_THRESHOLD`` data manifests the sink folds
    them with ``rewrite_manifests`` — metadata-only (no data I/O), cost
    amortized O(1) per epoch, and crash-safe: it is a separate CAS
    commit after the epoch's own, so a kill between the two just leaves
    the consolidation for a later epoch."""
    import json
    import os

    from .iceberg import IcebergDocumentSink, IcebergTable

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Spark writes the query id to the checkpoint before the first
        # epoch runs; it is stable across restarts from this checkpoint.
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            query_id = json.load(f)["id"]
        try:
            last = IcebergTable.load(table_location).last_streaming_batch(query_id)
        except FileNotFoundError:
            last = -1  # the first epoch creates the table
        if last >= batch_id:
            return  # replayed epoch: already committed atomically
        woven = ocr_documents(batch_df, media, engine_conf=engine_conf)
        spark = batch_df.sparkSession
        table = IcebergDocumentSink(table_location, spark, woven.schema).table
        stamp = {"streaming-query-id": query_id, "streaming-batch-id": str(batch_id)}
        table.append(woven, extra_summary=stamp)
        if table.plan_scan()[2]["manifests_read"] > MANIFEST_REWRITE_THRESHOLD:
            # re-stamp the epoch on the consolidation snapshot, so the
            # head snapshot alone still names the replay high-water mark
            table.rewrite_manifests(extra_summary=stamp)

    return process_batch
