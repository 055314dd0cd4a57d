"""Structured Streaming ingest (SURVEY.md §2.8 ST1 — and its idiomatic
superset).

The reference's entire streaming surface is a Kafka topic piped through
netcat into ``ssc.socketTextStream`` as ``DStream[String]``
(misc/KafkaProxy.scala:143-164) — no watermarks, no event-time windows, no
state. Structured Streaming gives all of that for free, so this module
exposes:

- sources: socket (the KafkaProxy twin), file/parquet (replayable), kafka
  (gated — not available in this container's Spark build without packages);
- ``merge_stream_into_table``: the reference's implied use — stream
  mutations into a keyed table via ``foreachBatch`` + KeyedTable.update
  (each micro-batch is one deterministic last-writer-wins merge, so the
  sink is idempotent under micro-batch replay: exactly-once table state);
- event-time tumbling/sliding windows with watermark late-data handling;
- session windows (gap-based), the canonical stateful aggregation.

At 100 TB/day the same topology holds: watermark bounds state, the window
aggregation is partial+final per micro-batch, and the table merge is a
keyed rewrite of only affected partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_on_hbase_spark.table import KeyedTable


def socket_stream(spark: SparkSession, host: str = "localhost", port: int = 9999) -> DataFrame:
    """ST1 — the KafkaProxy→netcat→socketTextStream twin: a stream of lines
    (misc/KafkaProxy.scala:143-164). Structured (value: string) instead of
    DStream[String]."""
    return (
        spark.readStream.format("socket").option("host", host).option("port", port).load()
    )


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """ST1 — the direct Kafka source the reference proxied through netcat
    (KafkaProxy pipes a console consumer into ``nc -lk`` and reads it back
    as socketTextStream, misc/KafkaProxy.scala:143-164 — losing offsets,
    partitioning, and replay). Structured Streaming's native source keeps
    all three: per-partition offsets are checkpointed (exactly-once with the
    idempotent merge sink), and one Spark task consumes each Kafka
    partition. Returns the reference's ``DStream[String]`` shape: (value:
    string) plus the offset metadata columns.

    Requires the spark-sql-kafka connector on the classpath (not bundled
    with a plain pyspark install — pass
    ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>``
    at submit time); raises the underlying missing-data-source error
    otherwise, which tests gate on. The record reshaping is split out as
    ``kafka_project`` so the part of this source that is OUR logic executes
    under test in a real micro-batch even where the connector jar cannot be
    provisioned (no-network container) — only the literal
    ``format("kafka")`` handshake stays jar-gated."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return kafka_project(raw)


# the connector's fixed output schema (Kafka source docs) — what
# kafka_project consumes; tests build a stream of this shape jar-free
KAFKA_RAW_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)


def kafka_project(raw: DataFrame) -> DataFrame:
    """Reshape the connector's raw (key/value binary + metadata) records to
    the reference's ``DStream[String]`` shape, keeping the offset metadata
    the netcat proxy lost (misc/KafkaProxy.scala:143-164)."""
    return raw.select(
        F.col("value").cast("string").alias("value"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("ts"),
    )


def file_stream(spark: SparkSession, path: str, schema, fmt: str = "parquet") -> DataFrame:
    """Replayable file-based stream — the testable ingest source; also the
    shape of a warehouse-landing-zone tail at scale (new files appear, each
    read exactly once)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def guard_id_for(checkpoint_dir: str) -> str:
    """Default guard namespace: a digest of the query's checkpoint dir.
    Batch ids are scoped to ONE streaming query's checkpoint — two queries
    writing the same table (merge + increment are both first-class on the
    same KeyedTable) each start at batch 0, and restarting with a fresh
    checkpoint resets ids to 0 — so the replay guard must never compare
    batch ids across queries. Namespacing by checkpoint digest keys the
    stamps to exactly the thing batch ids are scoped to."""
    import hashlib

    return hashlib.md5(checkpoint_dir.encode()).hexdigest()[:12]


def _applied_batch_guard(body, guard_id: str):
    """Shared foreachBatch replay guard, ATOMIC with the data: the
    (guard_id, batch_id) pair is the stamp of the batch's write, and a
    KeyedTable stamp commits in the same log swap as its delta layer and
    applies at most once — a replayed stamp writes nothing, compaction
    included (the table log keeps a stamp after its layer folds away).
    So there is no crash window between applying a batch and marking it
    applied, and no pre-check here. Empty batches write nothing and
    record nothing: a replayed batch re-reads the same checkpointed
    offsets, so a formerly-empty batch replays empty."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            body(batch_df, f"g{guard_id}_b{batch_id}")

    return apply


def _start(stream: DataFrame, body, checkpoint_dir: str, available_now: bool):
    """Start ``stream`` into the foreachBatch ``body``, checkpointed at
    ``checkpoint_dir``; ``available_now`` drains what is there and stops."""
    writer = stream.writeStream.foreachBatch(body).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def idempotent_upsert(table: KeyedTable, guard_id: str = "default"):
    """The foreachBatch body for ``merge_stream_into_table``, exposed for
    direct testing: applies a micro-batch as one last-writer-wins keyed
    merge whose delta layer commits with the (guard, batch) stamp —
    replaying an applied batch id is a strict no-op, and because stamp
    and data commit in one log swap there is no partial state to reason
    about. The last-writer-wins fold is already semantically
    idempotent, so for update the stamp is storage hygiene (no duplicate
    delta layers); it is the CORRECTNESS gate for the non-idempotent
    increment sink below. ``guard_id`` namespaces the stamps per streaming
    query (see guard_id_for) — one table can host many guarded writers."""
    return _applied_batch_guard(
        lambda b, stamp: table.update(b, stamp=stamp), guard_id
    )


def guarded_increment(
    table: KeyedTable, counter_col: str, delta_col: str = "delta",
    guard_id: str = "default",
):
    """The foreachBatch body for ``increment_stream_into_table``, exposed
    for direct testing (cf. ``idempotent_upsert``): applies a micro-batch
    of additive deltas with the (guard, batch) stamp committed alongside
    the delta layer — increment is NOT idempotent, and the atomic
    stamp+data commit makes it exactly-once even across a crash at any
    point (the round-5 marker-after-increment scheme left a double-count
    window between the two writes; stamping the layer closes it)."""
    return _applied_batch_guard(
        lambda b, stamp: table.increment(
            b, counter_col, delta_col=delta_col, stamp=stamp
        ),
        guard_id,
    )


def increment_stream_into_table(
    stream: DataFrame,
    table: KeyedTable,
    checkpoint_dir: str,
    counter_col: str,
    delta_col: str = "delta",
    available_now: bool = False,
):
    """Stream additive counter deltas into a KeyedTable (the streaming face
    of S7, HBaseTable.increment): every micro-batch pre-aggregates per key
    and appends ONE additive delta layer. Unlike the last-writer-wins
    merge, increment is NOT idempotent — a replayed micro-batch would
    double-count — so the (guard, batch) stamp of the layer's commit is
    the CORRECTNESS gate: stamp and data commit in one log swap, so a
    crash at ANY point either committed the batch (replay skipped) or
    didn't (replay applies) — exactly-once with no residual window.
    Stamps are namespaced by a digest of ``checkpoint_dir``, the scope
    batch ids actually live in.

    Returns the StreamingQuery (caller awaits/stops)."""
    body = guarded_increment(
        table, counter_col, delta_col, guard_id=guard_id_for(checkpoint_dir)
    )
    return _start(stream, body, checkpoint_dir, available_now)


def merge_stream_into_table(
    stream: DataFrame, table: KeyedTable, checkpoint_dir: str, available_now: bool = False
):
    """Stream mutations into a KeyedTable: every micro-batch applies one
    last-writer-wins keyed merge (KeyedTable.update) through the
    ``idempotent_upsert`` guard (stamps namespaced per checkpoint), so a
    micro-batch replayed after failure neither changes table state nor
    appends a duplicate delta layer.

    Returns the StreamingQuery (caller awaits/stops)."""
    body = idempotent_upsert(table, guard_id=guard_id_for(checkpoint_dir))
    return _start(stream, body, checkpoint_dir, available_now)


def indexed_upsert(idx, guard_id: str = "default"):
    """The foreachBatch body for ``merge_stream_into_indexed_table``,
    exposed for direct testing: applies a micro-batch THROUGH a
    SecondaryIndex as one stamped maintenance transaction
    (``SecondaryIndex.update(batch, stamp=)`` — base merge, then ONE index
    layer of new entries and tombstones, each write under its own layer
    stamp, which KeyedTable applies at most once). A replayed batch whose
    base merge committed but whose index layer did not writes only the
    index layer, rebuilt from the current base and index, and a replay of
    a fully applied batch writes none — Structured Streaming's replay IS
    the index's documented repair path, closing the stale window
    automatically at the next restart."""
    return _applied_batch_guard(
        lambda b, stamp: idx.update(b, stamp=stamp), guard_id
    )


def matview_maintained_upsert(mv, guard_id: str = "default"):
    """The foreachBatch body for ``merge_stream_into_matviewed_table``,
    exposed for direct testing: a guarded last-writer-wins upsert into the
    view's BASE table (``idempotent_upsert``) followed by an incremental
    view refresh (``MaterializedAgg.refresh`` — delta = agg(new) − agg(old)
    over the changed keys, applied as one stamped view layer). Each half
    commits its own idempotence stamp in the same table-log swap as its
    layer, so the composition is exactly-once under replay with NO
    coordination between them: a replayed batch's base write writes
    nothing (batch stamp applied) and refresh() no-ops (view already at
    the base's snapshot seq); a crash BETWEEN base write and refresh
    leaves the view merely behind, and the stream's own replay of that
    batch id — or any later batch — catches it up, because refresh always
    advances to the current snapshot, not to a per-batch target."""
    upsert = idempotent_upsert(mv.base, guard_id)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        upsert(batch_df, batch_id)
        mv.refresh()

    return apply


def merge_stream_into_matviewed_table(
    stream: DataFrame, mv, checkpoint_dir: str, available_now: bool = False
):
    """Stream mutations into a KeyedTable that carries an incrementally-
    maintained materialized aggregate (matview.MaterializedAgg): every
    micro-batch lands one stamped base layer and one stamped view-delta
    layer, so table AND rollup stay exactly-once consistent under
    micro-batch replay — the streaming face of the coprocessor-maintained
    summary tables HBase deployments pair with their primaries. Per batch
    the view work is O(batch): metadata-pruned changefeed, footer-pruned
    point reads of the changed keys, one view-layer append.
    Stamps are namespaced per checkpoint (see guard_id_for). Returns the
    StreamingQuery (caller awaits/stops)."""
    body = matview_maintained_upsert(mv, guard_id=guard_id_for(checkpoint_dir))
    return _start(stream, body, checkpoint_dir, available_now)


def merge_stream_into_indexed_table(
    stream: DataFrame, idx, checkpoint_dir: str, available_now: bool = False
):
    """Stream mutations into an INDEXED KeyedTable: every micro-batch runs
    the write-side index maintenance (``SecondaryIndex.update``) as a
    stamped retry-idempotent transaction, so the table AND its secondary
    index stay exactly-once consistent under micro-batch replay, and a
    crash between the maintenance jobs self-repairs on the stream's own
    replay of that batch id. Stamps are namespaced per checkpoint (see
    guard_id_for). Returns the StreamingQuery (caller awaits/stops)."""
    body = indexed_upsert(idx, guard_id=guard_id_for(checkpoint_dir))
    return _start(stream, body, checkpoint_dir, available_now)


def windowed_agg(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 day",
    slide: str | None = None,
    watermark: str = "1 day",
    group_cols: tuple = ("event_type",),
) -> DataFrame:
    """Event-time tumbling (or sliding) window counts+sums with a watermark:
    late rows beyond the watermark are dropped, bounding state — what the
    reference's DStream could never express."""
    win = (
        F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *group_cols)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            "n_events",
            "total_value",
        )
    )


def stateful_running_stats(
    stream: DataFrame,
    key_col: str = "key",
    value_col: str = "v",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (count, sum, max) maintained across micro-batches, one updated
    row emitted per key per batch.

    This is the engine's escape hatch for stateful logic Structured
    Streaming's built-ins can't express (the reference's incremental BSP
    state, HGraphTable.scala:144-228, is the motivating shape): state lives
    in the state store (checkpointed, partitioned by key — scales with
    distinct keys, not events), and the per-batch kernel is Arrow-batched
    pandas."""
    import pandas as pd  # local: keep module import light

    out_schema = (
        f"{key_col} string, n_events bigint, total double, max_value double"
    )
    state_schema = "n bigint, s double, m double"

    def update_fn(key, pdf_iter, state):
        n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdf_iter:
            n += len(pdf)
            s += float(pdf[value_col].sum())
            m = max(m, float(pdf[value_col].max()))
        state.update((n, s, m))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total": [s], "max_value": [m]}
        )

    return stream.groupBy(key_col).applyInPandasWithState(
        update_fn, out_schema, state_schema, "update", "NoTimeout"
    )


def sessionized_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 day",
    user_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per user — the canonical stateful
    streaming aggregation; state per open session, closed by the watermark."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), user_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            user_col,
            "n_events",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    delay: str = "10 minutes",
    within_watermark: bool = False,
) -> DataFrame:
    """Streaming exact deduplication: first-seen row per key wins, across
    micro-batches — the streaming twin of the batch ``dedup.exact_dup_groups``
    path and the front door of a training-data ingest pipeline (dedup by
    content fingerprint as documents land).

    Built on Structured Streaming's ``dropDuplicates`` state store: seen keys
    live in checkpointed state partitioned by key, so memory scales with
    distinct keys, not events. Give ``ts_col`` (event time) to bound that
    state with a watermark — without one, an unbounded key universe grows
    state forever, the classic 100 TB/day failure. ``within_watermark=True``
    uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+): duplicates are only
    suppressed while inside the watermark window, which is the right
    semantic when upstream retries land seconds apart and the key space is
    unbounded (state is evicted at the watermark instead of kept forever)."""
    if ts_col is not None:
        stream = stream.withWatermark(ts_col, delay)
        if within_watermark:
            return stream.dropDuplicatesWithinWatermark(keys)
    return stream.dropDuplicates(keys)


def stream_enrich(stream: DataFrame, dim: DataFrame, on: str | list, how: str = "left") -> DataFrame:
    """Stream-static enrichment join: every micro-batch of the stream joins
    against the CURRENT state of a batch dimension relation — the standard
    "attach user/document metadata as events land" step. The static side is
    broadcast (dimension-sized, re-planned per micro-batch, so a
    slowly-changing dimension's updates are picked up between batches
    without restarting the query); the stream side never shuffles. No
    watermark needed: stream-static joins are stateless."""
    return stream.join(F.broadcast(dim), on, how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    within: str = "10 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join — the attribution workhorse
    (e.g. each purchase joined to the same user's clicks from the preceding
    ``within`` interval). A join class entirely beyond the reference's
    DStream proxy, and the one where Structured Streaming's state-cleanup
    contract matters most: BOTH sides buffer in the state store, and only
    the conjunction of (a) a watermark on each side and (b) a time-range
    predicate tying the two event times lets Spark prove when a buffered
    row can never match again and evict it. Omit either and state grows
    without bound — the canonical 100 TB/day streaming failure. The range
    predicate here is ``right_ts in [left_ts - within, left_ts]``; state
    per side is bounded by (watermark + within) of history, partitioned by
    the join key. ``how`` may be 'inner' or the outer variants Spark
    supports for stream-stream joins ('leftOuter'/'rightOuter'/'fullOuter'
    — outer rows emit only once the watermark closes their match window)."""
    lt, rt, rk = f"__l_{left_ts}", f"__r_{right_ts}", f"__r_{on}"
    l = left.withColumnRenamed(left_ts, lt).withWatermark(lt, watermark)
    # de-collide EVERY shared payload column, not just the event time —
    # e.g. both streams carrying 'value' would otherwise emit two
    # identically-named output columns and break downstream by-name access
    shared = (set(left.columns) & set(right.columns)) - {on, left_ts, right_ts}
    renames = {c: f"{c}_right" for c in sorted(shared)}
    taken = (set(left.columns) | set(right.columns)) - shared
    bad = sorted(set(renames.values()) & taken)
    if bad:
        raise ValueError(
            f"cannot de-collide shared columns: suffixed names {bad} already exist"
        )
    r = (
        right.withColumnRenamed(right_ts, rt)
        .withColumnRenamed(on, rk)
        .withColumnsRenamed(renames)
        .withWatermark(rt, watermark)
    )
    cond = (
        (F.col(on) == F.col(rk))
        & (F.col(rt) >= F.col(lt) - F.expr(f"INTERVAL {within}"))
        & (F.col(rt) <= F.col(lt))
    )
    # outer variants: surface ONE key column regardless of which side
    # matched. When both sides use the same event-time name, the right
    # side's keeps a _right suffix — renaming both back would produce two
    # identically-named columns and break every downstream by-name access.
    right_ts_out = right_ts if right_ts != left_ts else f"{right_ts}_right"
    out = (
        l.join(r, cond, how)
        .withColumn(on, F.coalesce(F.col(on), F.col(rk)))
        .drop(rk)
        .withColumnsRenamed({lt: left_ts, rt: right_ts_out})
    )
    # catch-all for the exotic cross-named cases the rename map can't see
    # (e.g. a right payload column named exactly like the LEFT's event
    # time): fail at plan time, never emit duplicate output names
    if len(out.columns) != len(set(out.columns)):
        dupes = sorted({c for c in out.columns if out.columns.count(c) > 1})
        raise ValueError(f"stream-stream join output has duplicate columns: {dupes}")
    return out
