"""True Structured Streaming runtime operators (SURVEY.md §2 B.8:
st_watermark, st_dedup_wm, st_foreachbatch, st_trigger_availnow).

These run real streaming queries (file source -> memory/foreachBatch
sink) with temp checkpoints, so they are declared rows-only: the
runtime semantics (watermark drops, in-stream dedup, exactly-once
foreachBatch effects) aren't SQL-expressible, but each returns a
small deterministic summary DataFrame asserted by the engine's own
tests.

Re-expresses the reference's operational loop: scheduled catch-up
ingestion (A14 -> Trigger.AvailableNow), late/duplicate tolerance
(A5/A11 -> watermark + dropDuplicatesWithinWatermark), and the whole
pipeline as a foreachBatch body (A13).

The rows share one micro-batch harness: ``_land`` writes the fixture
batches and returns the file stream over them, the row adds its
streaming operator, and ``_drain`` runs the stream to its end into a
memory sink and returns the materialized result. st_watermark (lands a
batch between two triggers) and st_foreachbatch (foreachBatch sink) run
their own trigger loops.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from weather_etl_spark.incremental import run_incremental
from weather_etl_spark.io import normalize_events_ts, table_path
from weather_etl_spark.registry import register
from weather_etl_spark.session import ensure_engine_confs


@contextmanager
def _small_state(spark: SparkSession, n: int = 4):
    """Temporarily size shuffle/state-store partitions to the tiny
    runtime fixtures (each micro-batch otherwise spins up the full
    session partition count of state stores). Streaming checkpoints pin
    the partition count at first run, and every runtime op here uses a
    fresh checkpoint, so this is safe. At scale the same knob is sized
    to state volume, not left at the relational default."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

#: Raw parquet schema of the events table, ts dtype filled in per
#: runtime: the file stores TIMESTAMP(NANOS), which different PySpark
#: builds surface as bigint nanos (nanosAsLong honored), TIMESTAMP_NTZ,
#: or TIMESTAMP (see io.normalize_events_ts / ENVIRONMENT.md).
EVENTS_RAW_DDL = (
    "event_id long, ts {ts_dtype}, user_id long, event_type string, "
    "value double, props string"
)


def _stream_events(spark: SparkSession, in_dir: str) -> DataFrame:
    # readStream needs an explicit schema; probe how THIS runtime maps
    # the file's TIMESTAMP(NANOS) with a batch read of the same files so
    # the declared dtype matches (a hardcoded `ts long` silently reads
    # micros on builds where nanosAsLong is a no-op), then normalize to
    # tz-aware timestamp exactly like io.read_table.
    # An empty input directory is a legitimate state for a stream
    # awaiting its first files: fall back to the runtime's documented
    # batch-read dtype for TIMESTAMP(NANOS) instead of raising at
    # stream-definition time (the probe re-runs on the next define once
    # files exist, so a mid-stream runtime flip is still caught).
    try:
        ts_dtype = dict(spark.read.parquet(in_dir).dtypes)["ts"]
    except Exception:
        ts_dtype = "timestamp_ntz"
    return normalize_events_ts(
        spark.readStream.schema(EVENTS_RAW_DDL.format(ts_dtype=ts_dtype))
        .parquet(in_dir)
    )


def _land(spark: SparkSession, in_dir: str, *batches) -> DataFrame:
    """Land each batch of (event_id, ts_us, user_id, value) rows as one
    flat parquet file after those already in ``in_dir`` (the file stream
    source wants plain files in its input dir, ordered by mtime), and
    return the stream over ``in_dir`` that reads one file per
    micro-batch."""
    for rows in batches:
        staging = f"{in_dir}/_staging"
        spark.createDataFrame(
            rows, "event_id long, ts_us long, user_id long, value double"
        ).select(
            "event_id", F.timestamp_micros("ts_us").alias("ts"), "user_id", "value"
        ).coalesce(1).write.mode("overwrite").parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        batch_no = len(glob.glob(f"{in_dir}/b*.parquet")) + 1
        os.replace(part, f"{in_dir}/b{batch_no}.parquet")
        shutil.rmtree(staging, ignore_errors=True)
    return (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )


def _drain(stream_df: DataFrame, mode: str, tmp: str) -> DataFrame:
    """Run a bounded stream to its end (Trigger.AvailableNow) into a
    memory sink under ``_small_state`` and return the sink's rows as a
    local checkpoint. The sink's temp view is dropped once the rows are
    checkpointed, so a run leaves nothing in the session catalog."""
    spark = stream_df.sparkSession
    name = f"st_{uuid.uuid4().hex[:12]}"
    try:
        with _small_state(spark):
            (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", f"{tmp}/ckpt_{name}")
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        return spark.table(name).localCheckpoint()
    finally:
        spark.catalog.dropTempView(name)


@register(
    "st_trigger_availnow",
    oracle=None,  # runtime semantics; engine tests assert batch parity
    doc="[rows-only driver row; exact expected-output assertion: tests/test_streaming.py::test_availnow_parity_with_batch] Catch-up scheduled ingestion: Trigger.AvailableNow drains all "
    "pending files then stops — the reference's rate(5 minutes) cron "
    "re-expressed (A14, deploy.sh:36-37). Runs the tumbling aggregate "
    "as a real stream; parity with q_stream_tumbling asserted in tests.",
)
def st_trigger_availnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_engine_confs(spark)
    with tempfile.TemporaryDirectory(
        prefix="st_availnow_", ignore_cleanup_errors=True
    ) as tmp:
        in_dir = f"{tmp}/in"
        os.makedirs(in_dir)
        # The events table may be a single flat file (the driver
        # fixtures) or a Spark-written DIRECTORY of part files (any
        # real-scale dataset, and the sf1 synthetic fixture — the
        # full-width plan sweep caught shutil.copy failing on it).
        # The file-stream source wants plain files in its input dir,
        # so land the parts flat either way.
        src = table_path(sf_dir, "events")
        if os.path.isdir(src):
            # Recursive: a Hive-partitioned layout nests part files
            # under key=value subdirectories; a top-level-only glob
            # would silently feed the stream an EMPTY input dir
            # (r11 ADVICE).  Zero matches is a broken table — raise.
            parts = sorted(
                glob.glob(f"{src}/**/*.parquet", recursive=True)
            )
            if not parts:
                raise FileNotFoundError(
                    f"no part files under events table dir {src!r}"
                )
            for i, p in enumerate(parts):
                shutil.copy(p, f"{in_dir}/events_{i:05d}.parquet")
        else:
            shutil.copy(src, f"{in_dir}/events.parquet")
        agg = (
            _stream_events(spark, in_dir)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_micros("w.start").alias("ws_us"), "event_type", "n")
        )
        return _drain(agg, "complete", tmp)


_T0 = 1704103200_000_000  # 2024-01-01 10:00:00 UTC in epoch-us
_MIN = 60_000_000


@register(
    "st_watermark",
    oracle=None,  # watermark drops are runtime-only semantics
    doc="[rows-only driver row; exact expected-output assertion: tests/test_streaming.py::test_watermark_drops_late_rows] Watermark + late-data drop (FIXTURES.md late-events fixture): "
    "batch 2 contains a row older than watermark (dropped) and a fresh "
    "row (kept). Returns per-window final counts; the dropped row's "
    "window stays at its batch-1 count. Generalizes the reference's "
    "bounded-lateness overlap window (A5/A14).",
)
def st_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_engine_confs(spark)
    with tempfile.TemporaryDirectory(
        prefix="st_watermark_", ignore_cleanup_errors=True
    ) as tmp:
        in_dir = f"{tmp}/in"
        # Batch 1: 10:00..10:09 plus a head row at 11:00 that advances the
        # max event time, so the post-batch watermark is 10:50.
        batch1 = [(i, _T0 + i * _MIN, 1, 1.0) for i in range(10)]
        batch1.append((99, _T0 + 60 * _MIN, 1, 1.0))
        agg = (
            _land(spark, in_dir, batch1)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.unix_micros("w.start").alias("ws_us"), "n")
        )
        name = f"st_{uuid.uuid4().hex[:12]}"
        try:
            with _small_state(spark):
                q = (
                    agg.writeStream.format("memory")
                    .queryName(name)
                    .outputMode("update")
                    .option("checkpointLocation", f"{tmp}/ckpt")
                    .start()
                )
                q.processAllAvailable()
                # Batch 2: one row at 10:05 — its 5-min window
                # [10:05,10:10) ended before the 10:50 watermark =>
                # DROPPED; one row at 10:52 => kept.
                _land(
                    spark,
                    in_dir,
                    [(200, _T0 + 5 * _MIN, 1, 1.0), (201, _T0 + 52 * _MIN, 1, 1.0)],
                )
                q.processAllAvailable()
                q.stop()
            # Final state per window = the last update emitted for it.
            return (
                spark.table(name)
                .groupBy("ws_us")
                .agg(F.max("n").alias("n_final"))
                .localCheckpoint()
            )
        finally:
            spark.catalog.dropTempView(name)


@register(
    "st_dedup_wm",
    oracle=None,
    doc="[rows-only driver row; exact expected-output assertion: tests/test_streaming.py::test_stream_dedup_within_watermark] Streaming dedup by key within watermark "
    "(dropDuplicatesWithinWatermark) — the reference's ON CONFLICT key "
    "dedup applied in-stream (A11). Duplicate event_ids across two "
    "micro-batches collapse to one row each.",
)
def st_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_engine_confs(spark)
    with tempfile.TemporaryDirectory(
        prefix="st_dedup_", ignore_cleanup_errors=True
    ) as tmp:
        # 5 unique ids; ids 1 and 2 repeat within and across batches.
        stream = _land(
            spark,
            f"{tmp}/in",
            [(1, _T0, 1, 1.0), (2, _T0 + _MIN, 1, 1.0), (1, _T0 + 2 * _MIN, 1, 1.0)],
            [(2, _T0 + 3 * _MIN, 1, 1.0), (3, _T0 + 4 * _MIN, 1, 1.0),
             (4, _T0 + 5 * _MIN, 1, 1.0), (5, _T0 + 6 * _MIN, 1, 1.0)],
        )
        deduped = stream.withWatermark(
            "ts", "1 hour"
        ).dropDuplicatesWithinWatermark(["event_id"])
        return (
            _drain(deduped.select("event_id"), "append", tmp)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("event_id").alias("n_distinct"),
            )
            .localCheckpoint()
        )


@register(
    "st_foreachbatch",
    oracle=None,
    doc="[rows-only driver row; exact expected-output assertion: tests/test_streaming.py::test_foreachbatch_incremental_idempotent] The whole reference pipeline as a foreachBatch body (A11/A13/"
    "A14): each micro-batch goes through cursor -> filter -> anti-join "
    "-> idempotent append. Two overlapping batches converge to the "
    "distinct key set; second-batch overlap inserts 0 extra copies.",
)
def st_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_engine_confs(spark)
    with tempfile.TemporaryDirectory(
        prefix="st_feb_", ignore_cleanup_errors=True
    ) as tmp:
        sink = f"{tmp}/sink"
        # Overlapping micro-batches (the reference's past_days=1 overlap).
        stream = _land(
            spark,
            f"{tmp}/in",
            [(i, _T0 + i * _MIN, 1, 1.0) for i in range(0, 8)],
            [(i, _T0 + i * _MIN, 1, 1.0) for i in range(4, 12)],
        )
        inserted_counts: list[int] = []

        def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
            result = run_incremental(
                spark,
                batch_df,
                sink,
                key_cols=["event_id"],
                ts_col="ts",
                float_cols=["value"],
            )
            inserted_counts.append(result["records_inserted"])

        with _small_state(spark):
            q = (
                stream.writeStream.foreachBatch(handle_batch)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        total = spark.read.parquet(sink).count()
        distinct = (
            spark.read.parquet(sink).select("event_id").distinct().count()
        )
        return spark.createDataFrame(
            [(total, distinct, sum(inserted_counts))],
            "total_rows long, distinct_keys long, inserted_sum long",
        )


def sessionize(stream: DataFrame) -> DataFrame:
    """Per-user 30-minute-gap sessions of a ``(user_id, ts_us)`` stream:
    (user_id, session_start_us, n_events), emitted when a later event
    closes the session. The open session is one (start, last, count)
    state triple per user, so it survives micro-batch boundaries; each
    user's still-open tail session is never emitted."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = 30 * _MIN

    def step(key, pdf_iter, state: GroupState):
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        closed: list[tuple[int, int, int]] = []
        for pdf in pdf_iter:
            for ts_us in sorted(int(v) for v in pdf["ts_us"]):
                if start_us is None:
                    start_us, last_us, n = ts_us, ts_us, 1
                elif ts_us - last_us > gap_us:
                    closed.append((key[0], start_us, n))
                    start_us, last_us, n = ts_us, ts_us, 1
                else:
                    last_us, n = ts_us, n + 1
        state.update((start_us, last_us, n))
        yield pd.DataFrame(
            closed, columns=["user_id", "session_start_us", "n_events"]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        step,
        outputStructType="user_id long, session_start_us long, n_events long",
        stateStructType="start_us long, last_us long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "st_stateful_sessionizer",
    oracle=None,  # custom stateful operator; engine tests assert semantics
    doc="[rows-only driver row; exact expected-output assertion: tests/test_streaming.py::test_stateful_sessionizer_state_survives_batches] Custom stateful streaming operator (applyInPandasWithState): a "
    "per-user 30-minute-gap sessionizer whose open session survives "
    "micro-batch boundaries in the state store. Emits each session when "
    "a later event closes it (gap > 30min). The fixture splits one "
    "session across two micro-batches to prove state carry-over; the "
    "still-open tail session is deliberately unemitted — the streaming "
    "analogue of the reference's cursor that persists between runs "
    "(A6/A14, /root/reference/lambda_function.py:75-86).",
    scale_notes="State is one (start, last, count) triple per user key, "
    "partitioned by the grouping key across executors; Arrow-batched "
    "per-group processing, no driver involvement. At scale add an "
    "event-time timeout to flush idle sessions instead of holding them "
    "forever.",
)
def st_stateful_sessionizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_engine_confs(spark)
    with tempfile.TemporaryDirectory(
        prefix="st_sess_", ignore_cleanup_errors=True
    ) as tmp:
        # user 1: sessions [10:00,10:10], [11:00,11:05], open [12:00...]
        # user 2: session  [10:00], open [11:30...]
        # batch split lands INSIDE user 1's second session (11:00 in b1,
        # 11:05 in b2) => state must carry across micro-batches.
        stream = _land(
            spark,
            f"{tmp}/in",
            [(1, _T0, 1, 1.0), (2, _T0 + 10 * _MIN, 1, 1.0),
             (3, _T0 + 60 * _MIN, 1, 1.0), (4, _T0, 2, 1.0)],
            [(5, _T0 + 65 * _MIN, 1, 1.0), (6, _T0 + 120 * _MIN, 1, 1.0),
             (7, _T0 + 90 * _MIN, 2, 1.0)],
        ).select("user_id", F.unix_micros("ts").alias("ts_us"))
        return _drain(sessionize(stream), "append", tmp)


@register(
    "st_stream_stream_join",
    oracle=None,  # runtime semantics (watermark-bounded state)
    doc="[rows-only driver row; exact expected-output assertion: tests/test_streaming.py::test_stream_stream_join_interval_bounds] Stream-stream interval join: a 'view' stream joined to a "
    "'purchase' stream on user_id with purchase.ts in [view.ts, "
    "view.ts + 1h), both sides watermarked so join state is bounded "
    "and GC'd. The temporal-bound condition generalizes the "
    "reference's overlap-window semantics (A14) to two live inputs.",
    scale_notes="Watermarks bound both join-state buffers; without the "
    "time-range condition state would grow unboundedly. State is "
    "key-partitioned; the interval condition is evaluated post "
    "key-match, never as a cross product.",
)
def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_engine_confs(spark)
    with tempfile.TemporaryDirectory(
        prefix="st_ssj_", ignore_cleanup_errors=True
    ) as tmp:
        # views: u1@10:00, u2@10:30 | buys: u1@10:20 (in window),
        # u1@11:30 (outside 1h window), u2@10:45 (in window)
        views = (
            _land(spark, f"{tmp}/views",
                  [(1, _T0, 1, 1.0), (2, _T0 + 30 * _MIN, 2, 1.0)])
            .select(F.col("user_id").alias("v_user"),
                    F.col("ts").alias("v_ts"))
            .withWatermark("v_ts", "2 hours")
        )
        buys = (
            _land(spark, f"{tmp}/buys",
                  [(3, _T0 + 20 * _MIN, 1, 5.0),
                   (4, _T0 + 150 * _MIN, 1, 7.0),
                   (5, _T0 + 45 * _MIN, 2, 9.0)])
            .select(F.col("user_id").alias("b_user"),
                    F.col("ts").alias("b_ts"),
                    F.col("value").alias("amount"))
            .withWatermark("b_ts", "2 hours")
        )
        joined = views.join(
            buys,
            (F.col("v_user") == F.col("b_user"))
            & (F.col("b_ts") >= F.col("v_ts"))
            & (F.col("b_ts") < F.col("v_ts") + F.expr("interval 1 hour")),
        ).select(
            F.col("v_user").alias("user_id"),
            F.unix_micros("v_ts").alias("view_us"),
            F.unix_micros("b_ts").alias("buy_us"),
            "amount",
        )
        return _drain(joined, "append", tmp)


@register(
    "st_transform_with_state",
    oracle=None,  # runtime stateful semantics; batch parity in tests
    doc="[rows-only driver row; exact expected-output assertion: tests/test_streaming.py::test_transform_with_state_running_totals] Arbitrary stateful processing on the transformWithState API "
    "(the successor to applyInPandasWithState): a StatefulProcessor "
    "keeps one (n, max_ts_us) value-state per user — the streaming "
    "form of the reference's cursor state (A6/A8): max ts seen so far, "
    "surviving micro-batch boundaries in the state store. Emits the "
    "running totals per key per batch; the engine's tests assert the "
    "final per-key totals equal the batch groupBy answer. The TWS "
    "runtime needs google.protobuf (its state-server wire protocol), "
    "absent in this container — the operator feature-probes and falls "
    "back to applyInPandasWithState with IDENTICAL state/output "
    "semantics, so the declared behavior is tested either way.",
    scale_notes="Value state is a fixed-width pair per key, hash-"
    "partitioned across executors by the grouping key; rows reach the "
    "processor as Arrow batches. The new API adds typed state kinds "
    "(value/list/map), timers, and TTL — at scale prefer it over "
    "applyInPandasWithState for explicit state schemas and eviction.",
)
def st_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    ensure_engine_confs(spark)

    def advance(key, cursor, pdfs):
        """Fold one user's rows into its (n, max_ts_us) cursor (``None``
        before its first row); return the new cursor and its output row."""
        n, mx = cursor if cursor is not None else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            batch_mx = int(pdf["ts_us"].max())
            mx = batch_mx if mx is None or batch_mx > mx else mx
        out = pd.DataFrame({"user_id": [key[0]], "n_events": [n], "max_ts_us": [mx]})
        return (n, mx), out

    class CursorProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "cursor", "n long, max_ts_us long"
            )

        def handleInputRows(self, key, rows, timer_values):
            cursor, out = advance(key, self._state.get(), rows)
            self._state.update(cursor)
            yield out

        def close(self) -> None:
            pass

    with tempfile.TemporaryDirectory(
        prefix="st_tws_", ignore_cleanup_errors=True
    ) as tmp:
        # Two micro-batches; user 1 appears in both so its state must
        # carry (n: 2 then 3; max advances), user 2 only in batch 1.
        stream = _land(
            spark,
            f"{tmp}/in",
            [(1, _T0, 1, 1.0), (2, _T0 + 10 * _MIN, 1, 1.0),
             (3, _T0 + 5 * _MIN, 2, 1.0)],
            [(4, _T0 + 20 * _MIN, 1, 1.0)],
        ).select("user_id", F.unix_micros("ts").alias("ts_us"))
        out_ddl = "user_id long, n_events long, max_ts_us long"
        try:
            # TWS state server speaks protobuf from the python worker.
            from google.protobuf import descriptor  # noqa: F401

            totals = stream.groupBy("user_id").transformWithStateInPandas(
                CursorProcessor(),
                outputStructType=out_ddl,
                outputMode="append",
                timeMode="none",
            )
        except ImportError:
            from pyspark.sql.streaming.state import (
                GroupState,
                GroupStateTimeout,
            )

            def cursor_fn(key, pdf_iter, state: GroupState):
                cursor, out = advance(
                    key, state.get if state.exists else None, pdf_iter
                )
                state.update(cursor)
                yield out

            totals = stream.groupBy("user_id").applyInPandasWithState(
                cursor_fn,
                outputStructType=out_ddl,
                stateStructType="n long, max_ts_us long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        return _drain(totals, "append", tmp)
