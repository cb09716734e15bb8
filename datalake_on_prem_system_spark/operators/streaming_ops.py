"""Streaming operator queries: the CDC pipeline driven end-to-end through
Structured Streaming's file source (T1–T6, K5/K7, P1/P2/P12, F1).

Each query materializes real Debezium-style envelope JSON from the events
fixture, streams it through ``readStream → foreachBatch → MERGE`` with a
checkpoint, and returns the final table state — which the DuckDB oracle
reproduces as batch SQL. This checks parse, sniff, flatten, key
resurrection, dedup, merge, trigger and checkpoint in one pass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..lakehouse.table import LakeTable
from ..streaming.aggregate import windowed_event_agg
from ..streaming.cdc import run_cdc_file_stream
from ..streaming.join import interval_join_streams
from ._cache import derived, index_tempdir
from .common import t

_CUTOFF = "2024-01-15"
_ROW_DDL = "event_id bigint, user_id bigint, event_type string, value double, ts_us bigint"
_ROW_STRUCT = "struct<event_id:bigint,user_id:bigint,event_type:string,value:double,ts_us:bigint>"


def _changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-cutoff events as CDC change rows: op='d' for errors (delete),
    else 'u'."""
    ev = t(spark, sf_dir, "events")
    return ev.filter(F.col("ts") >= F.lit(_CUTOFF).cast("timestamp")).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        F.when(F.col("event_type") == "error", "d").otherwise("u").alias("op"),
    )


def _envelope_json(changes: DataFrame) -> DataFrame:
    """Render change rows as Debezium envelopes, mixing wrapped and flat
    formats per row (event_id parity) to exercise the distributed sniff.
    Delete events carry the row in ``before`` with ``after`` NULL (the real
    Debezium shape — key resurrection must kick in)."""
    row = F.struct("event_id", "user_id", "event_type", "value", "ts_us")
    null_row = F.lit(None).cast(_ROW_STRUCT)
    before = F.when(F.col("op") == "d", row).otherwise(null_row)
    after = F.when(F.col("op") != "d", row).otherwise(null_row)
    flat = F.struct(before.alias("before"), after.alias("after"), F.col("op").alias("op"))
    wrapped = F.struct(flat.alias("payload"))
    return changes.select(
        F.when(F.col("event_id") % 2 == 0, F.to_json(wrapped))
        .otherwise(F.to_json(flat))
        .alias("value")
    )


def _seed_target(spark: SparkSession, sf_dir: str, root: str) -> LakeTable:
    """v0 = latest pre-cutoff event per user (the table the CDC stream
    updates). Created pk-bucketed with merge-on-read writes: each CDC
    micro-batch commits O(batch) delta files (the Hudi MOR model for
    write-heavy streams); read-time resolution + threshold compaction are
    exercised by the correctness queries reading the final state."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    seed = (
        ev.filter(F.col("ts") < F.lit(_CUTOFF).cast("timestamp"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type", "value")
    )
    table = LakeTable(spark, root)
    table.create_or_replace(
        seed,
        properties={"write.merge.mode": "mor"},
        bucket_by=("user_id", 32),
    )
    return table


def _envelope_dir(spark: SparkSession, sf_dir: str, n_files: int, copies: int = 1) -> str:
    """Envelope corpus of the events fixture, built once per (fixture,
    n_files, copies): the stream under test is the consumer, not the
    generator. ``copies > 1`` replicates the change corpus with shifted key
    ranges (new users + new event ids per copy) — a larger
    sustained-throughput corpus for the bench; correctness queries use
    copies=1."""

    def build() -> str:
        src = os.path.join(index_tempdir("cdc_src_"), "events")
        changes = _changes(spark, sf_dir)
        if copies > 1:
            from functools import reduce as _reduce

            changes = _reduce(
                DataFrame.unionByName,
                [
                    changes.withColumn(
                        "user_id", F.col("user_id") + F.lit(i * 10_000_000)
                    ).withColumn(
                        "event_id", F.col("event_id") + F.lit(i * 1_000_000_000)
                    )
                    for i in range(copies)
                ],
            )
        if n_files == 1:
            _envelope_json(changes).write.mode("overwrite").text(src)
        else:
            # disjoint key ranges per file ⇒ merge order across micro-batches
            # cannot affect the final state (commutative batches).
            # coalesce(1): each write must emit exactly ONE file — a
            # multi-partition write would split one key range across files,
            # and maxFilesPerTrigger=1 would then put one user's changes in
            # different micro-batches in listing order, breaking the oracle
            for i in range(n_files):
                _envelope_json(
                    changes.filter(F.col("user_id") % n_files == i)
                ).coalesce(1).write.mode("append").text(src)
        return src

    return derived("cdc_envelopes", sf_dir, ("events",), build, (n_files, copies))


def _run_stream(spark: SparkSession, sf_dir: str, n_files: int, max_files: int | None) -> LakeTable:
    work = index_tempdir("cdc_stream_")
    src = _envelope_dir(spark, sf_dir, n_files)
    table = _seed_target(spark, sf_dir, os.path.join(work, "tbl"))
    run_cdc_file_stream(
        spark,
        table,
        pk="user_id",
        row_ddl=_ROW_DDL,
        src_dir=src,
        checkpoint_dir=os.path.join(work, "ckpt"),
        order_cols=["ts_us", "event_id"],
        drop_cols=["event_id", "ts_us"],
        max_files_per_trigger=max_files,
    )
    return table


def _dlq_envelope_dir(spark: SparkSession, sf_dir: str) -> str:
    """Envelope corpus with deterministic POISON rows injected:
    event_id % 7 == 3 → the line is prefixed with junk (unparseable
    JSON); event_id % 7 == 5 → a structurally valid envelope with the
    ``op`` field omitted. Everything else is the healthy mixed
    wrapped/flat corpus."""

    def build() -> str:
        src = os.path.join(index_tempdir("cdc_dlqsrc_"), "events")
        ch = _changes(spark, sf_dir)
        row = F.struct("event_id", "user_id", "event_type", "value", "ts_us")
        null_row = F.lit(None).cast(_ROW_STRUCT)
        before = F.when(F.col("op") == "d", row).otherwise(null_row)
        after = F.when(F.col("op") != "d", row).otherwise(null_row)
        flat = F.struct(
            before.alias("before"), after.alias("after"), F.col("op").alias("op")
        )
        wrapped = F.struct(flat.alias("payload"))
        healthy = (
            F.when(F.col("event_id") % 2 == 0, F.to_json(wrapped))
            .otherwise(F.to_json(flat))
        )
        opless = F.to_json(F.struct(before.alias("before"), after.alias("after")))
        value = (
            F.when(
                F.col("event_id") % 7 == 3, F.concat(F.lit("{poison"), healthy)
            )
            .when(F.col("event_id") % 7 == 5, opless)
            .otherwise(healthy)
        )
        ch.select(value.alias("value")).write.mode("overwrite").text(src)
        return src

    return derived("cdc_dlq_envelopes", sf_dir, ("events",), build)


_ROW_DDL_V2 = _ROW_DDL + ", channel string"
_ROW_STRUCT_V2 = _ROW_STRUCT[:-1] + ",channel:string>"


def st_cdc_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC SCHEMA DRIFT through the streaming merge — the day-2 operation
    every Debezium consumer eventually hits: the upstream table gains a
    column, the connector's registry bumps the envelope schema, and the
    redeployed consumer must keep merging WITHOUT a target rewrite. Phase
    1 streams even-user changes under the v1 row schema; the consumer is
    then 'redeployed' with a v2 schema (+``channel``) and phase 2 streams
    odd-user changes carrying it. The MERGE's union-schema evolution adds
    the column as metadata: pre-drift rows read ``channel`` as NULL, v2
    rows carry it, deletes keep working across the boundary — and the
    whole history is two ordinary streaming runs over the SAME
    merge-on-read table (delta segments of the two shapes coexist).

    Scale shape: identical to ``st_cdc_merge_stream`` per batch; the
    evolution itself is O(metadata) (no data rewrite — pinned by the
    lakehouse evolution tests).

    Oracle: the channel value derives from ``user_id % 3``, so DuckDB
    rebuilds the final evolved state from the events fixture alone."""
    work = index_tempdir("cdc_drift_")
    table = _seed_target(spark, sf_dir, os.path.join(work, "tbl"))
    kw = dict(
        pk="user_id",
        order_cols=["ts_us", "event_id"],
        drop_cols=["event_id", "ts_us"],
    )

    # the two source corpora are derived state of the fixture (bench runs
    # 2..N time the stream, not the fixture render)
    def build() -> tuple[str, str]:
        srcroot = index_tempdir("cdc_driftsrc_")
        ch = _changes(spark, sf_dir)
        # phase 1: the v1 consumer (no channel anywhere)
        src1 = os.path.join(srcroot, "src1")
        _envelope_json(ch.filter(F.col("user_id") % 2 == 0)).write.mode(
            "overwrite"
        ).text(src1)
        # phase 2: redeployed v2 consumer — envelopes carry `channel`
        ch2 = ch.filter(F.col("user_id") % 2 == 1).withColumn(
            "channel",
            F.element_at(
                F.array(F.lit("web"), F.lit("app"), F.lit("api")),
                (F.col("user_id") % 3 + 1).cast("int"),
            ),
        )
        row = F.struct(
            "event_id", "user_id", "event_type", "value", "ts_us", "channel"
        )
        null_row = F.lit(None).cast(_ROW_STRUCT_V2)
        before = F.when(F.col("op") == "d", row).otherwise(null_row)
        after = F.when(F.col("op") != "d", row).otherwise(null_row)
        flat = F.struct(
            before.alias("before"), after.alias("after"), F.col("op").alias("op")
        )
        wrapped = F.struct(flat.alias("payload"))
        src2 = os.path.join(srcroot, "src2")
        ch2.select(
            F.when(F.col("event_id") % 2 == 0, F.to_json(wrapped))
            .otherwise(F.to_json(flat))
            .alias("value")
        ).write.mode("overwrite").text(src2)
        return src1, src2

    src1, src2 = derived("cdc_drift_envelopes", sf_dir, ("events",), build)
    run_cdc_file_stream(
        spark, table, row_ddl=_ROW_DDL, src_dir=src1,
        checkpoint_dir=os.path.join(work, "ckpt1"), **kw,
    )
    run_cdc_file_stream(
        spark, table, row_ddl=_ROW_DDL_V2, src_dir=src2,
        checkpoint_dir=os.path.join(work, "ckpt2"), **kw,
    )
    return table.read().select(
        "user_id", "event_type", F.round("value", 6).alias("value"), "channel"
    )


def st_cdc_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC pipeline with a DEAD-LETTER QUEUE: the change corpus carries
    deterministic poison rows (unparseable lines, op-less envelopes);
    the stream routes them to a DLQ table with a reason instead of
    silently dropping them, while healthy rows merge exactly as in
    ``st_cdc_merge_stream``. Output: the applied-row count plus the DLQ
    census — the poison-message observability contract every production
    consumer needs (a growing DLQ is the page; a silent drop is the
    outage you find a quarter later).

    Scale shape: classification is one extra narrow projection per
    micro-batch (same superset ``from_json`` as the normalize path — no
    second code path to drift, pinned by ``dlq_classify``'s docstring
    contract); the DLQ write is an O(rejects) bucketless append."""
    work = index_tempdir("cdc_dlq_")
    src = _dlq_envelope_dir(spark, sf_dir)
    table = _seed_target(spark, sf_dir, os.path.join(work, "tbl"))
    dlq = LakeTable(spark, os.path.join(work, "dlq"))
    run_cdc_file_stream(
        spark,
        table,
        pk="user_id",
        row_ddl=_ROW_DDL,
        src_dir=src,
        checkpoint_dir=os.path.join(work, "ckpt"),
        order_cols=["ts_us", "event_id"],
        drop_cols=["event_id", "ts_us"],
        dlq_table=dlq,
    )
    counts = (
        dlq.read()
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(F.lit("dlq_"), F.col("reason")).alias("metric"), "n"
        )
    )
    applied = (
        table.read()
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("applied_rows").alias("metric"), "n")
    )
    return counts.unionByName(applied).orderBy("metric")


def st_cdc_merge_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CDC pipeline, one micro-batch: file stream of mixed
    wrapped/flat envelopes → sniff/flatten/dedup/MERGE → final state."""
    table = _run_stream(spark, sf_dir, n_files=1, max_files=None)
    return table.read().select(
        "user_id", "event_type", F.round("value", 6).alias("value")
    )


def st_cdc_multibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pipeline forced through 3 micro-batches (maxFilesPerTrigger=1,
    T3 admission control) with disjoint key ranges per batch — exercises
    trigger cadence, checkpoint advance and cross-batch merge composition."""
    table = _run_stream(spark, sf_dir, n_files=3, max_files=1)
    return table.read().select(
        "user_id", "event_type", F.round("value", 6).alias("value")
    )


def _events_json_dir(spark: SparkSession, sf_dir: str, copies: int = 1) -> str:
    """Events fixture as JSON-lines files; ``copies > 1`` writes the SAME
    rows into ``copies`` subdirectories (duplicate delivery of every
    event — the at-least-once corpus for the dedup query). Derived state
    shared by the non-CDC streaming queries: built once per fixture
    generation, not re-materialized per call. The JSON corpora below
    follow the same rule, so a fixture regenerated in place never replays
    stale JSON to the streaming tiers while the batch tiers read fresh
    parquet."""

    def build() -> str:
        src = os.path.join(index_tempdir("ev_json_"), "events")
        # 32 files per copy: the file count IS the scan parallelism of
        # every consumer's micro-batch (the events parquet fixture is one
        # split, so an unrepartitioned write produced ONE json file and
        # every streaming tier parsed the whole corpus on one core); all
        # consumers aggregate, so the row-to-file assignment is
        # result-irrelevant
        ev = t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value",
            F.unix_micros("ts").alias("ts_us"),
        ).repartition(32)
        for i in range(copies):
            ev.write.mode("overwrite").json(os.path.join(src, f"d{i}"))
        return src

    return derived("events_json", sf_dir, ("events",), build, (copies,))


def _events_stream(spark: SparkSession, src: str) -> DataFrame:
    return (
        spark.readStream.schema(_ROW_DDL)
        .option("recursiveFileLookup", "true")
        .json(src)
        .withColumn("ts", F.timestamp_micros("ts_us"))
    )


# last memory-sink name per prefix: the sink table pins a full result copy
# in driver memory, so each new invocation drops its predecessor — retention
# is capped at ONE result per query prefix instead of growing per call
# (st_dedup_stream's result is fact-sized, not a small aggregate)
_LAST_SINK: dict[str, str] = {}


def _run_to_memory(
    df: DataFrame,
    prefix: str,
    output_mode: str,
    expect_single_batch: bool = False,
) -> DataFrame:
    """Drain a streaming frame into a uniquely-named memory sink under an
    availableNow trigger and return the harvested table. The PREVIOUS
    invocation's sink for the same prefix is dropped (its returned frame is
    consumed by then — harnesses collect before re-invoking).

    ``expect_single_batch`` pins the assumption the watermarked append-mode
    queries' batch oracles rest on: if the file source ever splits the
    corpus across micro-batches (maxFilesPerTrigger set, or enough files),
    watermark advancement between batches starts dropping later-batch rows
    as late data and the result silently diverges from the batch SQL. The
    guard turns that silent order-dependence into a loud error."""
    import uuid

    spark = df.sparkSession
    prev = _LAST_SINK.get(prefix)
    if prev is not None:
        spark.catalog.dropTempView(prev)
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    _LAST_SINK[prefix] = sink
    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if expect_single_batch:
        data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(data_batches) != 1:
            raise RuntimeError(
                f"{prefix}: corpus drained in {len(data_batches)} micro-batches; "
                f"the batch oracle is only equivalent when all rows land in ONE "
                f"batch (cross-batch watermark advancement drops late rows)"
            )
    return spark.table(sink)


def st_watermark_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-day aggregate with watermark over the event
    stream (readStream on JSON rows → window agg → memory sink). Complete
    output mode for a deterministic harvest under availableNow; production
    uses append mode + the same watermark for state eviction."""
    stream = _events_stream(spark, _events_json_dir(spark, sf_dir))
    agg = windowed_event_agg(stream, ts_col="ts", window_size="1 day", watermark="1 day")
    return _run_to_memory(agg, "wm", "complete").select(
        F.col("w.start").alias("day"), "n_events", "sum_value"
    )


def st_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING-window aggregate (2-day window, 1-day slide) with
    a watermark — the overlapping-window tier between the tumbling
    ``st_watermark_window`` and the dynamic ``st_session_window``: every
    event lands in size/slide = 2 windows, the moving-aggregate shape
    every rate/trend dashboard reads. State per key is (size/slide)
    concurrent windows, evicted as the watermark passes each window end.

    Determinism: the value sum accumulates as integer CENTS (exact,
    order-independent) and divides once at the end — not a double sum —
    so the compare is exact, not rounded-into-agreement. Window starts
    are epoch-aligned multiples of the slide, which for a 1-day slide is
    exactly ``date_trunc('day')`` — the oracle assigns each event to its
    two enclosing windows by that rule."""
    stream = _events_stream(spark, _events_json_dir(spark, sf_dir))
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    return _run_to_memory(agg, "slw", "complete").select(
        F.col("w.start").alias("win_start"),
        F.col("w.end").alias("win_end"),
        "n_events",
        F.round(F.col("cents") / 100.0, 2).alias("sum_value"),
    )


def st_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user SESSION windows (30-min inactivity gap) via the
    native ``session_window`` operator — dynamic-length windows merged in
    the state store, the capability the reference's batch stack has no
    analog for (T6 beyond-parity, like st_watermark_window). Complete
    output mode for a deterministic harvest under availableNow. The oracle
    is the batch gaps-and-islands rewrite with the session_window boundary
    rule (a new session only when the silence STRICTLY exceeds the gap —
    an exactly-at-gap successor merges; edge-fixture-pinned)."""
    from ..streaming.aggregate import session_event_agg

    stream = _events_stream(spark, _events_json_dir(spark, sf_dir))
    agg = session_event_agg(stream, key_col="user_id", ts_col="ts", gap="30 minutes")
    return _run_to_memory(agg, "ssw", "complete").select(
        "user_id",
        F.unix_micros("sw.start").alias("session_start_us"),
        F.unix_micros("sw.end").alias("session_end_us"),
        "n_events",
        "session_value",
    )


def st_funnel_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming conversion funnel: per-user (stage, t) state advanced by
    ``applyInPandasWithState`` across micro-batches (`streaming/
    stateful.py::funnel_stage_stream`), then rolled up to the same
    (total, step1..step3) shape as the batch ``ev_funnel`` — whose oracle
    SQL this query shares verbatim. The custom-stateful-operator tier of
    the funnel: state is one tuple per user (not a collected event array),
    so an unbounded stream funnels in bounded memory."""
    from ..streaming.stateful import funnel_stage_stream
    from .analytics import funnel_rollup

    stream = _events_stream(spark, _events_json_dir(spark, sf_dir)).select(
        "user_id", "ts_us", "event_type"
    )
    staged = _run_to_memory(
        funnel_stage_stream(stream), "sfn", "update", expect_single_batch=True
    )
    return funnel_rollup(staged)


def st_ema_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user EMA: the recursive smoother maintained across
    micro-batches by ``applyInPandasWithState`` (two scalars of state per
    user), per-step arithmetic and rounding identical to the batch
    ``w_ema`` fold — whose oracle SQL this query shares verbatim. The
    streaming tier needs O(keys) state where the batch tier collects each
    user's full value history."""
    from ..streaming.stateful import ema_stream

    stream = _events_stream(spark, _events_json_dir(spark, sf_dir)).select(
        "user_id", "ts_us", "event_id", "value"
    )
    return _run_to_memory(
        ema_stream(stream), "sem", "update", expect_single_batch=True
    )


def st_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases within 1 hour of a click by
    the same user, both sides live streams (readStream × 2 → watermarked
    inner join → memory sink). State is bounded by the watermark + range
    condition (`streaming/join.py`); the oracle is the equivalent batch
    self-join."""
    src = _events_json_dir(spark, sf_dir)
    clicks = _events_stream(spark, src).filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    buys = _events_stream(spark, src).filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    joined = interval_join_streams(
        clicks,
        buys,
        left_ts="click_ts",
        right_ts="purchase_ts",
        equi_cond="c_user = user_id",
        max_delay="1 hour",
        watermark="1 hour",
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("delta_us"),
    )
    return _run_to_memory(joined, "ssj", "append", expect_single_batch=True)


def st_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark``: the
    at-least-once-delivery guard (T6) as a built-in stateful operator.
    The source is written TWICE (two copies of identical rows — a
    redelivery) and the stream must emit each event exactly once. State is
    keyed on event_id and evicted once the watermark passes the event's
    time — bounded by rate × watermark, not stream length. Oracle: batch
    DISTINCT."""
    stream = (
        _events_stream(spark, _events_json_dir(spark, sf_dir, copies=2))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", F.round("value", 6).alias("value"))
    )
    return _run_to_memory(stream, "sdd", "append", expect_single_batch=True)


def st_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the live event stream joined to a
    BATCH dimension (customer), then aggregated per segment. The canonical
    lookup-enrichment shape — the static side is re-resolved per
    micro-batch and no state store is involved (unlike stream-stream
    joins). Scale rule: the dimension carries NO broadcast hint, because
    customer grows linearly with SF — at 100 TB an explicit hint would
    re-broadcast a multi-hundred-GB side on EVERY micro-batch. The join is
    equi-keyed, so Spark shuffles the stream side when the dim is big and
    AQE still picks broadcast when it is genuinely small (fixture scale).
    Oracle: the equivalent batch join."""
    stream = _events_stream(spark, _events_json_dir(spark, sf_dir))
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream.join(dim, stream.user_id == dim.c_custkey)
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("sum_value"),
    )
    return _run_to_memory(agg, "sse", "complete")


# ------------------------------------------------------------ SCD2 stream


def st_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 maintained by a STREAMING dimension feed: the same two
    update batches as ``lh_scd2_history`` arrive as files on a watched
    directory, and each micro-batch closes/opens dimension rows via one
    atomic ``scd2_apply`` merge inside ``foreachBatch`` — so the oracle is
    the identical batch SQL (one contract, batch and streaming tiers).

    Ordering is STRUCTURAL, not incidental: SCD2 batches do not commute
    (batch 2's change detection compares against batch 1's current rows),
    so the source files get explicitly pinned, strictly increasing
    modification times (the file source admits oldest-first under
    maxFilesPerTrigger=1), and the batch fn REJECTS any micro-batch mixing
    effective dates — if admission ever coalesced or reordered the files
    this raises instead of silently diverging from the oracle (the
    st_dedup_stream single-batch-pinning rule)."""
    from ..lakehouse.scd import scd2_apply, scd2_init

    key, attrs = "c_custkey", ["c_mktsegment", "c_acctbal"]

    def build() -> str:
        work = index_tempdir("scd2_stream_")
        src = os.path.join(work, "src")
        cust = t(spark, sf_dir, "customer").select(key, *attrs)
        b1 = (
            cust.filter(F.col(key) % 7 == 0)
            .withColumn("c_mktsegment", F.lit("MACHINERY"))
            .withColumn("effective_from", F.lit("2024-01-01"))
        )
        b2 = cust.filter(F.col(key) % 5 == 0).select(
            key,
            F.when(F.col(key) % 7 == 0, "MACHINERY")
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
            F.lit("2024-02-01").alias("effective_from"),
        )
        for i, (name, b) in enumerate([("b1", b1), ("b2", b2)]):
            d = os.path.join(src, name)
            b.coalesce(1).write.mode("overwrite").json(d)
            for fn in os.listdir(d):  # pin strictly increasing mtimes
                mt = 1_700_000_000 + i * 1000
                os.utime(os.path.join(d, fn), (mt, mt))
        table = LakeTable(spark, os.path.join(work, "tbl"))
        table.create_or_replace(scd2_init(cust, "2020-01-01"))

        def apply_batch(bdf: DataFrame, _bid: int) -> None:
            effs = [
                r[0]
                for r in bdf.select("effective_from").distinct().collect()
            ]
            if not effs:
                return
            if len(effs) > 1:
                raise RuntimeError(
                    f"SCD2 micro-batch mixed effective dates {effs}: file "
                    f"admission must deliver one update batch per trigger"
                )
            scd2_apply(
                table, bdf.drop("effective_from"), key, attrs, effs[0]
            )

        q = (
            spark.readStream.schema(
                "c_custkey bigint, c_mktsegment string, "
                "c_acctbal double, effective_from string"
            )
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .json(src)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return os.path.join(work, "tbl")

    return LakeTable(spark, derived("st_scd2", sf_dir, ("customer",), build)).read()


def st_anomaly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly scoring against a BATCH-TRAINED robust baseline:
    the per-type med2/mad4 thresholds come from ``analytics.mad_baseline``
    (the exact frames ``ev_anomaly_mad`` aggregates, so the tiers share
    one contract), broadcast to the live event stream; each micro-batch
    flags events via the same all-integer 20000·dev2 > 44478·mad4 test —
    the streaming control chart every telemetry pipeline runs, with
    training offline and scoring online.

    Scale shape: the baseline is a vocabulary-sized broadcast (one row
    per event type — bounded at ANY corpus size, unlike a dimension
    table); the stream never shuffles for the join, only for the per-type
    rollup. Oracle: the identical batch SQL over the same corpus."""
    from .analytics import mad_baseline

    _dev, med, mad = mad_baseline(spark, sf_dir)
    baseline = med.join(mad, "event_type")
    stream = _events_stream(spark, _events_json_dir(spark, sf_dir)).withColumn(
        "c", F.floor(F.col("value") * 100).cast("long")
    )
    scored = stream.join(F.broadcast(baseline), "event_type").withColumn(
        "dev2", F.abs(2 * F.col("c") - F.col("med2"))
    )
    agg = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            (20000 * F.col("dev2") > 44478 * F.col("mad4")).cast("long")
        ).alias("n_outliers"),
    )
    return _run_to_memory(agg, "sam", "complete")


_DOCS_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _docs_json_dir(spark: SparkSession, sf_dir: str) -> str:
    """Documents fixture as JSON-lines files — the live-ingest shape of the
    corpus (crawler output landing as line-delimited JSON).

    32 files, not 1: the file count IS the micro-batch scan parallelism,
    and everything downstream of the scan that has no shuffle (the
    per-batch Arrow minhash kernel of ``st_neardup_stream``, the word
    explode of ``st_tokenize_stream``) inherits it — a single-file corpus
    ran those whole stages on ONE core."""

    def build() -> str:
        src = os.path.join(index_tempdir("doc_json_"), "documents")
        t(spark, sf_dir, "documents").repartition(32).write.mode(
            "overwrite"
        ).json(src)
        return src

    return derived("docs_json", sf_dir, ("documents",), build)


def st_tokenize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tier of the tokenizer report: the induced vocabulary is a
    BATCH-TRAINED artifact (``textops._word_subword_stats`` — the exact
    frames ``tx_tokenizer_stats`` consumes, so the tiers share one
    contract), broadcast-joined to a live document stream; per micro-batch
    the per-source word/subword/UNK totals roll up — the live token-budget
    meter an ingest pipeline runs while the crawl lands.

    Scale shape: the static side is the Heaps-bounded distinct-word stats
    (broadcast); the stream explodes to words and shuffles only for the
    n_sources-keyed rollup with map-side combine. Oracle: the identical
    batch SQL over the same corpus (integer columns of
    tx_tokenizer_stats)."""
    from .textops import _word_subword_stats

    ws = _word_subword_stats(spark, sf_dir)
    stream = (
        spark.readStream.schema(_DOCS_DDL)
        .option("recursiveFileLookup", "true")
        .json(_docs_json_dir(spark, sf_dir))
    )
    words = stream.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    ).filter(F.col("w") != "")
    agg = (
        words.join(F.broadcast(ws), "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_subwords"),
            F.sum("n_unk").cast("long").alias("n_unk"),
        )
    )
    return _run_to_memory(agg, "stk", "complete")


def st_drift_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tier of the PSI drift monitor: the REFERENCE window (the
    first half of the time range) is batch — its per-type [min, max] bin
    frame and bin distribution train offline — and the CURRENT window
    arrives as a live stream that bins against the broadcast reference
    frame per micro-batch; the harvested (type, bin) counts then join the
    reference distribution for the PSI terms. Exactly ``ev_drift_psi``'s
    arithmetic (midpoint, clamped equal-width bins, add-one smoothing,
    round-6 psi_term), so the batch SQL is the oracle — the
    between-ingest-batches drift gate, running WHILE the batch lands.

    Scale shape: the reference stats are a vocabulary-sized broadcast;
    the stream shuffles only for the (type, bin) rollup (vocab × 10
    groups); the PSI join runs over the harvested aggregate, never the
    stream."""
    ev = t(spark, sf_dir, "events").select("event_type", "ts", "value")
    span = ev.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    ).head()
    # python float arithmetic == the batch plan's (t0 + (t1 - t0) / 2)
    mid = F.lit(float(span.t0 + (span.t1 - span.t0) / 2))
    ref = ev.filter(F.unix_micros("ts") < mid)
    ref_stats = ref.groupBy("event_type").agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(10.0)
    bin_expr = F.when(F.col("vmax") == F.col("vmin"), F.lit(0)).otherwise(
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor((F.col("value") - F.col("vmin")) / width).cast("int"),
            ),
        )
    )
    n_ref = (
        ref.join(F.broadcast(ref_stats), "event_type")
        .withColumn("bin", bin_expr)
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    stream = _events_stream(spark, _events_json_dir(spark, sf_dir)).filter(
        ~(F.unix_micros("ts") < mid)
    )
    cur_agg = (
        stream.join(F.broadcast(ref_stats), "event_type")
        .withColumn("bin", bin_expr)
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    harvested = _run_to_memory(cur_agg, "sdr", "complete")
    scaffold = ref_stats.select(
        "event_type", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin")
    )
    filled = (
        scaffold.join(n_ref, ["event_type", "bin"], "left_outer")
        .join(harvested, ["event_type", "bin"], "left_outer")
        .fillna(0, ["n_ref", "n_cur"])
        .withColumn("tot_ref", F.sum("n_ref").over(Window.partitionBy("event_type")))
        .withColumn("tot_cur", F.sum("n_cur").over(Window.partitionBy("event_type")))
    )
    p = (F.col("n_ref") + 1.0) / (F.col("tot_ref") + 10.0)
    q = (F.col("n_cur") + 1.0) / (F.col("tot_cur") + 10.0)
    return filled.select(
        "event_type",
        "bin",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("p_cur"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


def st_ohlc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tier of the hourly OHLC rollup: the live event stream
    aggregates per (type, hour) with min_by/max_by over the (ts,
    event_id) total order — open/close resolve deterministically even
    across micro-batch boundaries because the order key travels with the
    value, not with arrival order. Identical arithmetic to
    ``ts_ohlc_resample`` (exact cents), so the batch SQL is the oracle —
    the live candle builder every metrics store runs next to its batch
    compactor.

    Scale shape: one streaming shuffle keyed on (type, hour) with partial
    aggregation; state is one row per open candle."""
    stream = _events_stream(spark, _events_json_dir(spark, sf_dir)).select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("c"),
    )
    order_key = F.struct("ts", "event_id")
    agg = (
        stream.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
                "hour"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("c", order_key).alias("open_c"),
            F.max("c").alias("high_c"),
            F.min("c").alias("low_c"),
            F.max_by("c", order_key).alias("close_c"),
            F.sum("c").alias("sum_c"),
        )
    )
    harvested = _run_to_memory(agg, "soh", "complete")
    return harvested.select(
        "event_type",
        "hour",
        "n_events",
        F.round(F.col("open_c") / 100.0, 6).alias("open"),
        F.round(F.col("high_c") / 100.0, 6).alias("high"),
        F.round(F.col("low_c") / 100.0, 6).alias("low"),
        F.round(F.col("close_c") / 100.0, 6).alias("close"),
        F.round(F.col("sum_c") / (100.0 * F.col("n_events")), 6).alias(
            "mean_value"
        ),
    )


def st_ltv_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tier of the cohort-LTV curves: the cohort assignment
    (user → first-purchase week) and the week anchor are BATCH-TRAINED
    (the dimension a growth stack refreshes nightly), broadcast to the
    live purchase stream; per micro-batch the (cohort, age) revenue cells
    roll up, and the harvested aggregate joins cohort sizes + cumulative
    windows for the LTV columns — ``ev_ltv_cohort``'s exact arithmetic,
    so the batch SQL is the oracle. The live revenue meter running while
    the nightly job sleeps.

    Scale shape: the cohort dimension is user-keyed (broadcast at fixture
    scale; at 100 TB it becomes a shuffle join on user_id — AQE decides);
    the stream shuffles only for the (cohort, age) rollup; cum windows
    run over the harvested weeks-sized aggregate."""
    buys = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.to_date("ts").alias("day"))
    )
    day0 = buys.agg(F.min("day")).head()[0]
    wk_of = lambda c: F.expr(f"datediff({c}, DATE'{day0}') div 7").cast("int")  # noqa: E731
    cohort = (
        buys.select("user_id", wk_of("day").alias("week"))
        .groupBy("user_id")
        .agg(F.min("week").alias("cohort_week"))
    )
    sizes = cohort.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_users"))
    stream = (
        _events_stream(spark, _events_json_dir(spark, sf_dir))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            wk_of("to_date(ts)").alias("week"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    cells = (
        stream.join(F.broadcast(cohort), "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("age_week"),
        )
        .agg(
            # COUNT(DISTINCT) is unsupported in streaming aggregations;
            # size(collect_set) is the supported equivalent (state bounded
            # by distinct buyers per cell)
            F.size(F.collect_set("user_id")).cast("long").alias("n_buyers"),
            F.sum("cents").alias("rev_cents"),
        )
    )
    harvested = _run_to_memory(cells, "slt", "complete")
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = harvested.withColumn("cum_rev_cents", F.sum("rev_cents").over(w))
    return cum.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "age_week",
        "n_users",
        "n_buyers",
        "rev_cents",
        "cum_rev_cents",
        F.round(F.col("cum_rev_cents") / (100.0 * F.col("n_users")), 6).alias(
            "ltv_per_user"
        ),
    )


def st_topk_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live top-k leaderboard: the event stream aggregates per-user event
    counts in complete mode (bounded state: one row per active user), and
    the harvested table ranks the top 10 — the real-time "most active
    users" widget next to the batch rollup. Oracle: the identical batch
    GROUP BY + rank.

    Scale shape: the streaming agg is a map-side-combined user-keyed
    rollup; the rank runs post-harvest as TakeOrderedAndProject over the
    aggregate, then a row_number over just the k retained rows — the full
    user table never sorts on one partition."""
    stream = _events_stream(spark, _events_json_dir(spark, sf_dir))
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    harvested = _run_to_memory(agg, "stt", "complete")
    top = harvested.orderBy(F.desc("n_events"), F.asc("user_id")).limit(10)
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "user_id", "n_events"
    )


def _orders_json_dir(spark: SparkSession, sf_dir: str) -> str:
    """Orders fixture as multi-file JSON-lines (forces a REAL multi-batch
    run under maxFilesPerTrigger)."""

    def build() -> str:
        src = os.path.join(index_tempdir("ord_json_"), "orders")
        # 64 files / 32 per trigger: two real micro-batches, each scanning
        # 32 input splits — the R-md5s-per-row weight kernel parallelizes
        # across ALL local cores (the former 16/8 split capped each batch
        # at 8 tasks, leaving 3/4 of the box idle during the dominant
        # weight-evaluation stage); the result is batch-split-invariant by
        # construction (per-row weights + additive sufficient statistics)
        t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
        ).repartition(64).write.mode("overwrite").json(src)
        return src

    return derived("orders_json", sf_dir, ("orders",), build)


def st_bootstrap_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tier of the Poisson bootstrap — the statistics family's
    last batch-only member gets its twin: order rows arrive as a live
    JSON stream FORCED through multiple micro-batches
    (maxFilesPerTrigger=32 over a 64-file corpus — two real micro-batches,
    each scanning 32 input splits), each batch contributes
    its per-replicate (Σw, Σw·c) sufficient-statistic partials to ONE
    complete-mode global aggregate (bounded state: a single 2R+2-column
    row), and the harvested totals feed the identical SE/CI fold as the
    batch tier. Correct under ANY batch split by construction: each
    row's weights depend only on (replicate, o_orderkey) — the shared
    ``boot_weight_array`` kernel — and the statistics are sums, so
    micro-batch partials compose exactly; the oracle is the batch SQL
    verbatim, and tier equality is pinned in tests.

    Scale shape: per batch O(batch) weight evaluation + a map-side
    combined global aggregate; nothing keyed, nothing fact-sized in
    state; the fold runs over the R-bounded harvested row."""
    from .analytics import boot_rep_aggs, boot_reps, boot_report, boot_weight_array

    stream = (
        spark.readStream.schema("o_orderkey long, c long")
        .option("maxFilesPerTrigger", "32")
        .json(_orders_json_dir(spark, sf_dir))
    )
    agg = (
        stream.select("c", boot_weight_array().alias("warr"))
        .groupBy()
        .agg(
            *boot_rep_aggs(),
            F.count(F.lit(1)).alias("nrows_"),
            F.sum(F.col("c").cast("decimal(38,0)")).alias("sumc_"),
        )
    )
    packed = _run_to_memory(agg, "stboot", "complete")
    point = F.broadcast(
        packed.select(
            F.col("nrows_").alias("n_rows"),
            (
                F.col("sumc_").cast("double")
                / F.col("nrows_").cast("double")
                / 100.0
            ).alias("point_mean"),
        )
    )
    return boot_report(boot_reps(packed), point)


def st_hll_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user sketch — the live tier of
    ``a_hll_distinct``: the event stream maintains per-event-type
    HyperLogLog sketches in ONE complete-mode aggregate (bounded state:
    one fixed-size sketch per type — the 100 TB replacement for exact
    streaming COUNT DISTINCT), and the harvested estimates are checked
    against the exact batch counts through the same 3σ error-bound
    contract column. Mergeability ACROSS micro-batches is the property
    under test: register-wise max makes any batch split produce the
    identical final sketch (the ``lh_analyze_incremental`` pin, live).

    Oracle: exact distinct counts + literal TRUE (the a_hll_distinct
    recipe — the estimate is engine-specific, its contract is not)."""
    from .relational import _HLL_REL_BOUND

    stream = _events_stream(spark, _events_json_dir(spark, sf_dir))
    agg = stream.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "approx_users"
        )
    )
    harvested = _run_to_memory(agg, "sthll", "complete")
    exact = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return harvested.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.greatest(
                F.lit(1.0), F.lit(_HLL_REL_BOUND) * F.col("exact_users")
            )
        ).alias("within_bound"),
    )


def _lineitem_json_dir(spark: SparkSession, sf_dir: str) -> str:
    """Lineitem change feed as multi-file JSON-lines (forces real
    multi-batch maintenance)."""

    def build() -> str:
        src = os.path.join(index_tempdir("li_json_"), "li")
        t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("long")
            .alias("cents"),
        ).repartition(4).write.mode("overwrite").json(src)
        return src

    return derived("lineitem_json", sf_dir, ("lineitem",), build)


def st_join_view_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the orders⋈lineitem revenue view — the
    live tier of ``lh_incremental_join_view`` (one side streams, the
    other is the static dimension — the Materialize/DLT stream-static
    join): lineitem changes arrive as a JSON stream FORCED through 4
    micro-batches (maxFilesPerTrigger=1 over a 4-file feed); every
    ``foreachBatch`` joins ITS batch against the static orders side,
    aggregates partials on the group key, and full-outer-merges them
    into the stored view table — per batch O(|Δ| + group keys), never a
    rescan of prior batches. Correct under ANY batch split: the join is
    row-local in lineitem and the aggregates are sums.

    Exactness: the ``lh_incremental_join_view`` recipe verbatim
    (integer-cent quantization, decimal(38,0) sums, one double division)
    — its full-recompute oracle IS this query's oracle.

    Scale shape: each micro-batch shuffles only itself (the static side
    broadcast or co-partitioned by AQE); view state is bounded by the
    group-key vocabulary; the merge is a metadata-cheap
    create_or_replace of a vocabulary-sized table."""
    from .lakehouse_ops import merge_view_state, view_revenue

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    view = LakeTable(spark, index_tempdir("lake_jvs_"))
    stream = (
        spark.readStream.schema("l_orderkey long, cents long")
        .option("maxFilesPerTrigger", "1")
        .json(_lineitem_json_dir(spark, sf_dir))
    )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        part = (
            orders.join(batch, orders.o_orderkey == batch.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("inc_n"),
                F.sum(F.col("cents").cast("decimal(38,0)")).alias(
                    "inc_cents"
                ),
            )
        )
        merge_view_state(view, part)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", index_tempdir("jvs_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return view_revenue(view)


def _orders_pri_json_dir(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        src = os.path.join(index_tempdir("ordp_json_"), "orders")
        t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        ).repartition(4).write.mode("overwrite").json(src)
        return src

    return derived("orders_pri_json", sf_dir, ("orders",), build)


def st_join_view_bidir_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the orders⋈lineitem revenue view with
    BOTH sides streaming — the completion of ``st_join_view_stream``
    (whose orders side was static): two file-source CDC feeds (orders
    keys+priorities, lineitem keys+cents, each forced through
    maxFilesPerTrigger=1 over a 4-file corpus) union into ONE tagged
    stream, and a single ``foreachBatch`` coordinator applies the same
    delta-join rule as the batch tier per micro-batch:

        Δ(O ⋈ L) = ΔO ⋈ L_state  ∪  O_state ⋈ ΔL  ∪  ΔO ⋈ ΔL

    where O_state/L_state are the PRE-batch accumulations of each feed
    (lake tables appended after the view merge forces the terms — write
    ordering, not snapshot pinning, keeps the lazy reads consistent).
    Correct under ANY interleaving of the two feeds: the three terms
    telescope to the full join whatever the batch split, and the
    aggregate partials are sums — pinned tier-equal to
    ``lh_incremental_join_view`` in tests.

    Exactness: the ``lh_incremental_join_view`` recipe verbatim
    (integer-cent quantization, decimal(38,0) sums, ONE double
    division); its full-recompute oracle IS this query's oracle.

    Scale shape: per batch two Δ-sized joins against pruned state scans
    (Δ sides broadcastable) plus the Δ×Δ term; state grows as the feeds'
    union (exactly what a two-sided streaming join must retain); view
    state stays group-key-bounded."""
    from .lakehouse_ops import merge_view_state, view_revenue

    o_stream = (
        spark.readStream.schema("o_orderkey long, o_orderpriority string")
        .option("maxFilesPerTrigger", "1")
        .json(_orders_pri_json_dir(spark, sf_dir))
        .select(
            F.lit("o").alias("side"),
            F.col("o_orderkey").alias("key"),
            F.col("o_orderpriority").alias("pri"),
            F.lit(None).cast("long").alias("cents"),
        )
    )
    l_stream = (
        spark.readStream.schema("l_orderkey long, cents long")
        .option("maxFilesPerTrigger", "1")
        .json(_lineitem_json_dir(spark, sf_dir))
        .select(
            F.lit("l").alias("side"),
            F.col("l_orderkey").alias("key"),
            F.lit(None).cast("string").alias("pri"),
            "cents",
        )
    )
    o_state = LakeTable(spark, index_tempdir("lake_jvb_o_"))
    l_state = LakeTable(spark, index_tempdir("lake_jvb_l_"))
    view = LakeTable(spark, index_tempdir("lake_jvb_v_"))

    def partial(joined: DataFrame) -> DataFrame:
        return joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("inc_n"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("inc_cents"),
        )

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            d_o = batch.filter(F.col("side") == "o").select(
                F.col("key").alias("o_orderkey"),
                F.col("pri").alias("o_orderpriority"),
            )
            d_l = batch.filter(F.col("side") == "l").select(
                F.col("key").alias("l_orderkey"), "cents"
            )
            terms = [partial(d_o.join(d_l, d_o.o_orderkey == d_l.l_orderkey))]
            if l_state.exists():
                l0 = l_state.read()
                terms.append(
                    partial(d_o.join(l0, d_o.o_orderkey == l0.l_orderkey))
                )
            if o_state.exists():
                o0 = o_state.read()
                terms.append(
                    partial(o0.join(d_l, o0.o_orderkey == d_l.l_orderkey))
                )
            part = terms[0]
            for x in terms[1:]:
                part = part.unionByName(x)
            part = part.groupBy("o_orderpriority").agg(
                F.sum("inc_n").alias("inc_n"),
                F.sum("inc_cents").alias("inc_cents"),
            )
            merge_view_state(view, part)
            # the view merge above already FORCED every term against the
            # pre-batch states — only now may the feeds land in state
            if o_state.exists():
                o_state.append(d_o)
            else:
                o_state.create_or_replace(d_o)
            if l_state.exists():
                l_state.append(d_l)
            else:
                l_state.create_or_replace(d_l)
        finally:
            batch.unpersist()

    q = (
        o_stream.unionByName(l_stream)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", index_tempdir("jvb_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return view_revenue(view)


def st_neardup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup GATE: new documents arrive as a live JSON stream
    and every micro-batch probes the corpus' PERSISTED MinHash band index
    (``dedup.build_minhash_index`` — trained once, offline) for near-dup
    matches, exact-jaccard-verified before emission. The ingest-time
    contamination check an LLM crawl pipeline runs while data lands:
    duplicates of the historical corpus are flagged BEFORE they reach the
    training set, without ever re-sketching the corpus.

    One contract across tiers: per micro-batch this runs the IDENTICAL
    probe + verify machinery as ``dd_minhash_incremental``'s corpus path
    (same ``_band_frame`` sketch, same probe join, same ``_verify_pairs``
    kernel), so the oracle is that operator's exact batch SQL restricted
    to corpus×batch pairs. Incremental-safe by construction: each doc's
    corpus probe is independent, so ANY micro-batch split of the stream
    appends the same total match set (no cross-batch state).

    Scale shape: per batch O(batch) sketching (the Arrow-vectorized
    numpy kernel), one (band, bh)-keyed probe join where the batch side
    broadcasts (index side never shuffles; at warehouse scale the index
    is bucketed on (band, bh)), and candidate-only verification — shingle
    arrays are computed for matched ids alone."""
    from .dedup import (
        _CORPUS_KEEP,
        _CORPUS_MOD,
        _SHINGLE_N,
        _band_frame,
        _shingles,
        _verify_pairs,
        build_minhash_index,
    )

    idx_path = build_minhash_index(spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    work = index_tempdir("neardup_stream_")
    out_dir = os.path.join(work, "matches")

    def _probe(batch_df: DataFrame, _batch_id: int) -> None:
        sess = batch_df.sparkSession
        b_sh = (
            batch_df.filter(F.size(F.split("text", " ")) >= _SHINGLE_N)
            .select("doc_id", _shingles().alias("sh"))
        )
        bands = _band_frame(b_sh).persist()
        try:
            pairs = (
                sess.read.parquet(idx_path)
                .alias("c")
                .join(F.broadcast(bands.alias("n")), ["band", "bh"])
                .select(
                    F.col("c.doc_id").alias("a_id"),
                    F.col("n.doc_id").alias("b_id"),
                )
                .distinct()
            )
            cand_ids = (
                pairs.select(F.col("a_id").alias("doc_id"))
                .unionByName(pairs.select(F.col("b_id").alias("doc_id")))
                .distinct()
            )
            sh = docs.join(F.broadcast(cand_ids), "doc_id", "left_semi").select(
                "doc_id", _shingles().alias("sh")
            )
            _verify_pairs(pairs, sh).write.mode("append").parquet(out_dir)
        finally:
            bands.unpersist()

    stream = (
        spark.readStream.schema(_DOCS_DDL)
        .option("recursiveFileLookup", "true")
        .json(_docs_json_dir(spark, sf_dir))
        .filter(F.col("doc_id") % _CORPUS_MOD >= _CORPUS_KEEP)
    )
    q = (
        stream.writeStream.foreachBatch(_probe)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not os.path.isdir(out_dir):
        return spark.createDataFrame(
            [],
            "a_id bigint, b_id bigint, inter int, size_a int, size_b int, "
            "jaccard double",
        )
    return spark.read.parquet(out_dir).select(
        "a_id", "b_id", "inter", "size_a", "size_b", "jaccard"
    )


QUERIES = {
    "st_anomaly_stream": st_anomaly_stream,
    "st_tokenize_stream": st_tokenize_stream,
    "st_drift_stream": st_drift_stream,
    "st_ohlc_stream": st_ohlc_stream,
    "st_ltv_stream": st_ltv_stream,
    "st_bootstrap_stream": st_bootstrap_stream,
    "st_join_view_stream": st_join_view_stream,
    "st_join_view_bidir_stream": st_join_view_bidir_stream,
    "st_hll_stream": st_hll_stream,
    "st_cdc_merge_stream": st_cdc_merge_stream,
    "st_scd2_stream": st_scd2_stream,
    "st_cdc_multibatch": st_cdc_multibatch,
    "st_cdc_dlq": st_cdc_dlq,
    "st_cdc_schema_drift": st_cdc_schema_drift,
    "st_watermark_window": st_watermark_window,
    "st_sliding_window": st_sliding_window,
    "st_session_window": st_session_window,
    "st_funnel_stream": st_funnel_stream,
    "st_ema_stream": st_ema_stream,
    "st_stream_interval_join": st_stream_interval_join,
    "st_dedup_stream": st_dedup_stream,
    "st_static_enrich": st_static_enrich,
    "st_neardup_stream": st_neardup_stream,
    "st_topk_stream": st_topk_stream,
}

_CDC_FINAL_SQL = """
        WITH ranked_before AS (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-15'
        ), target AS (
            SELECT user_id, event_type, round(value, 6) AS value
            FROM ranked_before WHERE rn = 1
        ), ranked_changes AS (
            SELECT *, CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts >= TIMESTAMP '2024-01-15'
        ), changes AS (
            SELECT * FROM ranked_changes WHERE rn = 1
        )
        SELECT user_id, event_type, round(value, 6) AS value
        FROM changes WHERE op != 'd'
        UNION ALL
        SELECT t.user_id, t.event_type, t.value FROM target t
        WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.user_id = t.user_id)
"""

ORACLE = {
    "st_cdc_merge_stream": _CDC_FINAL_SQL,
    "st_cdc_multibatch": _CDC_FINAL_SQL,
    # evolved final state: even users merged under v1 (channel NULL), odd
    # users under v2 (channel from user_id % 3), seed-only users NULL;
    # last-writer + delete semantics identical to _CDC_FINAL_SQL
    "st_cdc_schema_drift": """
        WITH ranked_before AS (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-15'
        ), target AS (
            SELECT user_id, event_type, round(value, 6) AS value
            FROM ranked_before WHERE rn = 1
        ), ranked_changes AS (
            SELECT *, CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts >= TIMESTAMP '2024-01-15'
        ), changes AS (
            SELECT * FROM ranked_changes WHERE rn = 1
        )
        SELECT user_id, event_type, round(value, 6) AS value,
               CASE WHEN user_id % 2 = 1
                    THEN ['web', 'app', 'api'][CAST(user_id % 3 + 1 AS INT)]
               END AS channel
        FROM changes WHERE op != 'd'
        UNION ALL
        SELECT t.user_id, t.event_type, t.value, NULL AS channel
        FROM target t
        WHERE NOT EXISTS (SELECT 1 FROM changes c WHERE c.user_id = t.user_id)
    """,
    # the merge-final count EXCLUDING the poison slices (they went to the
    # DLQ, not the table) plus the poison census by injection rule
    "st_cdc_dlq": """
        WITH ranked_before AS (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events WHERE ts < TIMESTAMP '2024-01-15'
        ), target AS (
            SELECT user_id FROM ranked_before WHERE rn = 1
        ), ranked_changes AS (
            SELECT *, CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END
                       AS op,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-15'
              AND event_id % 7 != 3 AND event_id % 7 != 5
        ), changes AS (
            SELECT * FROM ranked_changes WHERE rn = 1
        ), final AS (
            SELECT user_id FROM changes WHERE op != 'd'
            UNION ALL
            SELECT t.user_id FROM target t
            WHERE NOT EXISTS (SELECT 1 FROM changes c
                              WHERE c.user_id = t.user_id)
        ), post AS (
            SELECT event_id FROM events WHERE ts >= TIMESTAMP '2024-01-15'
        )
        SELECT 'applied_rows' AS metric, CAST(count(*) AS BIGINT) AS n
        FROM final
        UNION ALL
        SELECT 'dlq_missing_op', CAST(count(*) AS BIGINT)
        FROM post WHERE event_id % 7 = 5
        UNION ALL
        SELECT 'dlq_unparseable', CAST(count(*) AS BIGINT)
        FROM post WHERE event_id % 7 = 3
        ORDER BY metric
    """,
    "st_watermark_window": """
        SELECT date_trunc('day', ts) AS day, count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1
    """,
    # every event belongs to the 2 sliding windows starting at
    # date_trunc(day) and date_trunc(day) - 1 day (slide = 1 day aligns
    # window starts to day boundaries); cents sum mirrors the exact
    # integer accumulation
    "st_sliding_window": """
        WITH assigned AS (
            SELECT date_trunc('day', ts) - k * INTERVAL 1 DAY AS win_start,
                   value
            FROM events, (SELECT unnest([0, 1]) AS k)
        )
        SELECT win_start, win_start + INTERVAL 2 DAY AS win_end,
               count(*) AS n_events,
               round(sum(CAST(floor(value * 100) AS BIGINT)) / 100.0, 2)
                   AS sum_value
        FROM assigned GROUP BY 1
    """,
    "st_session_window": """
        WITH flagged AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
                   CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                > 1800000000
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts_us, value,
                   sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS sid
            FROM flagged
        )
        SELECT user_id, min(ts_us) AS session_start_us,
               max(ts_us) + 1800000000 AS session_end_us,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
                   AS session_value
        FROM sess GROUP BY user_id, sid
    """,
    "st_stream_interval_join": """
        SELECT b.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
               epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
        FROM events a JOIN events b ON a.user_id = b.user_id
        WHERE a.event_type = 'click' AND b.event_type = 'purchase'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
    "st_dedup_stream": """
        SELECT event_id, user_id, event_type, round(value, 6) AS value
        FROM events
    """,
    "st_static_enrich": """
        SELECT c_mktsegment, count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
                   AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
}

# the streaming funnel must equal the batch funnel on a drained stream —
# one oracle, two execution tiers (HOF fold vs state-store operator)
from .analytics import ORACLE as _ANALYTICS_ORACLE  # noqa: E402

ORACLE["st_funnel_stream"] = _ANALYTICS_ORACLE["ev_funnel"]
ORACLE["st_anomaly_stream"] = """
    WITH ev AS (
        SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c FROM events
    ), med AS (
        SELECT event_type, CAST(quantile_cont(c, 0.5) * 2 AS BIGINT) AS med2
        FROM ev GROUP BY event_type
    ), dev AS (
        SELECT ev.event_type, abs(2 * c - med2) AS dev2
        FROM ev JOIN med USING (event_type)
    ), mad AS (
        SELECT event_type, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
        FROM dev GROUP BY event_type
    )
    SELECT dev.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN 20000 * dev2 > 44478 * mad4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
"""
ORACLE["st_ema_stream"] = _ANALYTICS_ORACLE["w_ema"]


def _tokenize_stream_sql() -> str:
    # batch equivalence: the stream rollup must match the integer columns
    # of tx_tokenizer_stats computed over the same corpus
    from .textops import _SUBWORD_CTES

    return f"""
        WITH RECURSIVE {_SUBWORD_CTES}
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(s.n_tok) AS BIGINT) AS n_subwords,
               CAST(sum(s.n_unk) AS BIGINT) AS n_unk
        FROM doc_words dw
        JOIN word_stats s USING (w)
        JOIN documents d USING (doc_id)
        GROUP BY d.source
    """


ORACLE["st_tokenize_stream"] = _tokenize_stream_sql()
# streaming tier of the PSI monitor: same arithmetic, batch SQL is oracle
ORACLE["st_drift_stream"] = _ANALYTICS_ORACLE["ev_drift_psi"]
# streaming tier of the hourly candle rollup: batch SQL is the oracle
ORACLE["st_ohlc_stream"] = _ANALYTICS_ORACLE["ts_ohlc_resample"]
# streaming tier of the cohort-LTV curves: batch SQL is the oracle
ORACLE["st_ltv_stream"] = _ANALYTICS_ORACLE["ev_ltv_cohort"]
# one rule, two tiers: the streaming bootstrap is batch-SQL-equivalent
ORACLE["st_bootstrap_stream"] = _ANALYTICS_ORACLE["a_poisson_bootstrap"]
# stream-static join view == the batch incremental view's full recompute
from .lakehouse_ops import ORACLE as _LAKEHOUSE_ORACLE  # noqa: E402
ORACLE["st_join_view_stream"] = _LAKEHOUSE_ORACLE["lh_incremental_join_view"]
# both feeds partition their whole tables, so the two-sided view's final
# state is the same full-recompute ground truth
ORACLE["st_join_view_bidir_stream"] = _LAKEHOUSE_ORACLE[
    "lh_incremental_join_view"
]
# sketch contract is engine-side; the oracle checks exact counts + TRUE
from .relational import ORACLE as _RELATIONAL_ORACLE  # noqa: E402
ORACLE["st_hll_stream"] = _RELATIONAL_ORACLE["a_hll_distinct"]

# the streamed SCD2 dimension must equal the batch-maintained one — one
# oracle, two execution tiers (foreachBatch merges vs direct merges)
from .lakehouse_ops import _SCD2_SQL  # noqa: E402

ORACLE["st_scd2_stream"] = _SCD2_SQL

# the streaming near-dup gate emits exactly the corpus×batch half of
# dd_minhash_incremental (one verification contract across tiers) — the
# oracle is that operator's exact-pair SQL restricted to corpus pairs,
# without the pair_type tag column
ORACLE["st_topk_stream"] = """
    SELECT CAST(rnk AS INTEGER) AS rank, user_id, n_events
    FROM (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
               row_number() OVER (ORDER BY count(*) DESC, user_id ASC) AS rnk
        FROM events GROUP BY user_id
    )
    WHERE rnk <= 10
"""

ORACLE["st_neardup_stream"] = """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') w FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                              for i in range(1, len(w) - 1)]) s
        FROM toks WHERE len(w) >= 3
    ), sizes AS (
        SELECT doc_id, len(s) sz FROM sh
    ), ex AS (
        SELECT doc_id, unnest(s) shingle FROM sh
    ), cpairs AS (
        SELECT a.doc_id a_id, b.doc_id b_id, count(*) inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle
        WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
        GROUP BY 1, 2
    )
    SELECT a_id, b_id, inter,
           CAST(sa.sz AS INTEGER) AS size_a, CAST(sb.sz AS INTEGER) AS size_b,
           round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
    FROM cpairs
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE inter / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.8
"""
