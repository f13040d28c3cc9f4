"""Structured Streaming surface (SURVEY.md §2.4 stretch — the
reference is batch-only; the ``events`` table is the natural stream).

``s_stream_tumbling`` runs a real micro-batch streaming query:
file-source ``readStream`` over the events parquet → event-time
watermark → tumbling 1-minute window counts → in-memory sink, drained
with ``processAllAvailable``.  At scale the same plan runs unchanged on
a Kafka source with checkpointing; the watermark bounds state store
size (late rows beyond 10 min are dropped instead of growing state).

Watermarks require TIMESTAMP (LTZ), so event time is carried as the
*instant* produced by ``tables.event_instant`` (dtype-agnostic: native
TIMESTAMP_NTZ or legacy raw-nanos LONG both map to the same epoch-µs
instant) — instants and 1-minute window boundaries are
timezone-independent (all UTC offsets are whole minutes) — and window
starts are converted to TIMESTAMP_NTZ via pure epoch-µs arithmetic only
at the output edge.

The result is batch-equivalent here (single file → single micro-batch,
nothing is ever late), so it's SQL-oracled against the equivalent
GROUP BY — a stronger check than rows-only.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import functions as F

from ema_bigdata_spark.registry import query
from ema_bigdata_spark.sources.tables import (
    event_epoch_us,
    event_instant,
    load_raw,
    sql_ts_domain,
    ts_domain_gate,
)

_WATERMARK = "10 minutes"
_WINDOW = "1 minute"


@contextlib.contextmanager
def _state_partitions(spark, n: int | None = None):
    """Pin the state-partition count for a stateful streaming query.

    Structured Streaming freezes ``spark.sql.shuffle.partitions`` into
    the checkpoint at query start, and every micro-batch pays a
    per-partition state-store open/commit/snapshot cost REGARDLESS of
    row volume — at 32 partitions that fixed cost dominates a local
    run (measured at sf0.1: the stream-stream join runs 5.9 s at 8
    state partitions, 4.6 s at 4, 6.1 s at 2 — the per-partition
    commit cost and the parallelism win cross between 2 and 8; every
    other streaming query is equal-or-faster at 4).  State
    partitioning should track key cardinality and throughput, not the
    batch-side shuffle width, so it gets its own knob
    (``SPARK_GRAFT_STREAM_PARTITIONS``; a production deploy sizes it
    to sustained keys/sec once — it cannot change after the
    checkpoint is created)."""
    if n is None:
        raw = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "4")
        try:
            n = int(raw)
        except ValueError:
            n = 0
        # validated before any conf.set, so a bad value leaves the
        # session untouched
        if n < 1:
            raise ValueError(
                "SPARK_GRAFT_STREAM_PARTITIONS must be a positive integer,"
                f" got {raw!r}"
            )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    # After the data batch drains, Spark schedules one extra NO-DATA
    # micro-batch purely to advance the watermark and evict state; it
    # emits nothing for every query in this module (complete/update
    # modes re-emit state, and the append-mode shapes — dropDuplicates,
    # stream-stream inner join — emit on arrival, never on watermark
    # advance), yet it re-pays query planning plus a state-store commit
    # per partition per store (measured ~0.9 s of s_stream_join's
    # 2.8 s: 4 stores × 4 partitions).  So these drains skip it: rows
    # are identical across all nine queries.  A deployment whose sink
    # DOES emit on watermark advance (append-mode windowed aggregation)
    # or that needs idle-time state eviction should leave the default
    # on — which is why this rides the per-query context, not the
    # session builder.
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", "false"
        )
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )


def _drain(stream, mode: str, stem: str):
    """Run ``stream`` to completion into a memory sink and return the
    sink's rows as a DataFrame.

    The memory sink registers its rows as a temporary view named after
    the query.  ``spark.table`` resolves that view's plan at once, so the
    view is dropped before returning: the session catalog is left as it
    was found, and the returned frame still holds the rows."""
    spark = stream.sparkSession
    sink = f"{stem}_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark):
        q = (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    drained = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return drained


def _configure_kafka(reader, table: str):
    """Apply the Kafka source configuration to a ``DataStreamReader``
    (or any object with the same fluent ``format``/``option`` API —
    which is what makes this testable without a broker).  Options come
    from the environment so a deploy retargets the SAME query code at
    a real cluster: ``SPARK_GRAFT_KAFKA_BOOTSTRAP`` (brokers) and
    ``SPARK_GRAFT_KAFKA_TOPIC_<TABLE>`` / default topic = table name."""
    bootstrap = os.environ.get(
        "SPARK_GRAFT_KAFKA_BOOTSTRAP", "localhost:9092"
    )
    topic = os.environ.get(
        f"SPARK_GRAFT_KAFKA_TOPIC_{table.upper()}", table
    )
    return (
        reader.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
    )


#: JSON wire format contract: event timestamps carry MICROsecond
#: precision (Spark's default to_json/from_json format truncates to
#: millis — caught by the round-trip test; a mixed-precision pipeline
#: would silently bucket events 1000× coarser than the batch path).
_KAFKA_JSON_OPTS = {
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
}


def _kafka_parse(df, schema):
    """Decode a Kafka wire frame (``value`` bytes = one JSON record)
    into the typed event columns — the same expression works on a
    batch DataFrame, which is how the unit test round-trips it without
    a broker.  ``_KAFKA_JSON_OPTS`` pins the µs-precision timestamp
    format; producers must emit it."""
    return df.select(
        F.from_json(
            F.col("value").cast("string"), schema, _KAFKA_JSON_OPTS
        ).alias("r")
    ).select("r.*")


#: declared Kafka wire schema per table — the producer contract, NOT
#: derived from any local file (a broker deploy has no testdata
#: parquet to sniff).  The file source still sniffs
#: its own parquet, which may legitimately differ (legacy raw-nanos
#: LONG ts) — downstream code is dtype-agnostic via event_instant().
_WIRE_SCHEMAS = {
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,"
        " event_type STRING, value DOUBLE, props STRING"
    ),
}


def stream_source(spark, sf_dir: str, table: str = "events"):
    """The physical-source seam for every streaming query: queries
    declare WHAT they consume (a typed ``events`` stream); this
    function decides WHERE it comes from.  No query touches
    ``sf_dir`` or sniffs a schema except through here, so retargeting
    really is config-only.

    Default is the file source over the testdata parquet (one file →
    one micro-batch, which is what makes the queries SQL-oracle-able).
    Setting ``SPARK_GRAFT_STREAM_SOURCE=kafka`` rebuilds the reader as
    a Kafka subscription with a JSON-decoded payload against the
    DECLARED wire schema (``_WIRE_SCHEMAS`` — no local files needed).
    (The kafka connector jar isn't in this container, so the branch is
    exercised by unit tests against the fluent-API contract and the
    batch-mode payload decoder, not end-to-end.)"""
    if os.environ.get("SPARK_GRAFT_STREAM_SOURCE", "files") == "kafka":
        if table not in _WIRE_SCHEMAS:
            raise ValueError(
                f"no declared Kafka wire schema for table {table!r}; "
                f"declared: {sorted(_WIRE_SCHEMAS)} (add an entry to "
                "_WIRE_SCHEMAS to stream this table over Kafka)"
            )
        raw = _configure_kafka(spark.readStream, table).load()
        stream = _kafka_parse(raw, _WIRE_SCHEMAS[table])
    else:
        stream = (
            spark.readStream.schema(load_raw(spark, sf_dir, table).schema)
            .option("pathGlobFilter", f"{table}.parquet")
            .parquet(sf_dir)
        )
    # event-time domain gate (tables.TS_DOMAIN_*): applied AT THE
    # SEAM so every streaming query inherits it — a NULL / year-0001 /
    # year-9999 event time crashes the stateful cores or emits window
    # bounds outside what the driver's collect() can represent.
    # Every oracle mirrors it via sql_ts_domain().
    if "ts" in stream.columns:
        stream = stream.where(ts_domain_gate(stream))
    return stream


#: LTZ instant → NTZ wall clock (UTC), session-timezone-independent
_START_NTZ = (
    "timestampadd(MICROSECOND, unix_micros(w.start),"
    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
)


#: session gap: events further apart than this start a new session
_SESSION_GAP_US = 30 * 60 * 1_000_000


def session_stream(stream):
    """Per-user stateful sessionizer over a ``(user_id, ts_us)``
    streaming DataFrame — the ``applyInPandasWithState`` core of
    ``s_stream_session``, factored out so a multi-batch test can drive
    it directly (the registered query's single-file run never hits the
    ``state.exists`` branch; the cross-batch merge is pinned by
    ``test_session_stream_state_carries_across_batches``).

    Each micro-batch merges the key's new events with the carried-over
    open session (start/end/count — three scalars, never the events),
    emits every session closed by a > gap, and both EMITS and STORES
    the still-open tail (so a stream that ends now has emitted its
    final state, and a stream that continues extends it next batch —
    later emissions supersede earlier ones for the same session
    start)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = _SESSION_GAP_US

    def sessionize(key, pdfs, state):
        if state.exists:
            open_start, open_end, open_n = state.get
        else:
            open_start = open_end = open_n = None
        # ts_us arrives as BIGINT µs (event_epoch_us projects it before
        # the groupBy), so the state fn never sees the physical encoding
        ts_us = sorted(
            int(t) for pdf in pdfs for t in pdf["ts_us"].tolist()
        )
        out = []
        for t in ts_us:
            if open_start is None:
                open_start, open_end, open_n = t, t, 1
            elif t - open_end > gap_us:
                out.append((key[0], open_start, open_end, open_n))
                open_start, open_end, open_n = t, t, 1
            else:
                open_end, open_n = t, open_n + 1
        if open_start is not None:
            out.append((key[0], open_start, open_end, open_n))
            state.update((open_start, open_end, open_n))
        yield pd.DataFrame(
            out, columns=["user_id", "start_us", "end_us", "n_events"]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        sessionize,
        outputStructType="user_id BIGINT, start_us BIGINT, end_us BIGINT,"
        " n_events BIGINT",
        stateStructType="start_us BIGINT, end_us BIGINT, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "s_stream_session",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL THEN 1
                  WHEN date_diff('microsecond', lag(ts) OVER w, ts)
                       > {_SESSION_GAP_US} THEN 1
                  ELSE 0 END AS is_new
      FROM events WHERE {sql_ts_domain()}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def s_stream_session(spark, sf_dir):
    """Custom stateful streaming operator: per-user sessionization via
    :func:`session_stream` — the pattern Structured Streaming's
    built-in windows can't express (data-driven session boundaries with
    arbitrary per-key state).  Here the single file = single batch and
    the stream end closes all sessions, so the result equals the batch
    gaps-and-islands sessionization and is SQL-oracled — a stronger
    check than rows-only; the multi-batch state-merge path is pinned
    by its own test.

    Scale: state per key is three scalars (not the events), the state
    store shuffles once on user_id, and the watermark-driven timeout
    (``GroupStateTimeout.EventTimeTimeout`` in production) bounds how
    long an open session can hold state."""
    stream = stream_source(spark, sf_dir)
    stream = stream.select(
        "user_id", event_epoch_us(stream).alias("ts_us")
    )
    sessions = session_stream(stream)
    drained = _drain(sessions, "update", "stream_session")
    us_to_ntz = "timestampadd(MICROSECOND, {}, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    return drained.select(
        "user_id",
        F.expr(us_to_ntz.format("start_us")).alias("session_start"),
        F.expr(us_to_ntz.format("end_us")).alias("session_end"),
        "n_events",
    )


@query(
    "s_stream_tumbling",
    oracle=f"""
    SELECT date_trunc('minute', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE {sql_ts_domain()}
    GROUP BY date_trunc('minute', ts)
    """,
)
def s_stream_tumbling(spark, sf_dir):
    stream = stream_source(spark, sf_dir)
    stream = stream.withColumn("ts", event_instant(stream))
    agg = (
        stream.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", _WINDOW).alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    drained = _drain(agg, "complete", "stream_tumbling")
    # exact distinct users per window from the batch side (stream keeps
    # counts) — demonstrates stream/batch unification on one API.  This
    # is a deliberate BATCH read of the same table, not part of the
    # stream source seam.
    batch = load_raw(spark, sf_dir, "events")
    exact_users = (
        batch
        .withColumn("ts", event_instant(batch))
        .groupBy(F.window("ts", _WINDOW).alias("w"))
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )
    stream_counts = drained.select("w", "n_events")
    return stream_counts.join(exact_users, "w").select(
        F.expr(_START_NTZ).alias("window_start"),
        "n_events",
        "n_users",
    )


@query(
    "s_stream_sliding",
    oracle=f"""
    SELECT ws AS window_start, CAST(count(*) AS BIGINT) AS n_events
    FROM (
      SELECT unnest([date_trunc('minute', ts) - INTERVAL 1 MINUTE,
                     date_trunc('minute', ts)]) AS ws
      FROM events WHERE {sql_ts_domain()}
    )
    GROUP BY ws
    """,
)
def s_stream_sliding(spark, sf_dir):
    """Sliding windows (2-minute length, 1-minute slide): every event
    lands in two overlapping windows.  Same watermarked streaming shape
    as ``s_stream_tumbling``; state size is bounded by
    (watermark / slide + length / slide) windows per key — the slide
    interval, not the data volume, controls state at 100 TB/day rates."""
    stream = stream_source(spark, sf_dir)
    stream = stream.withColumn("ts", event_instant(stream))
    agg = (
        stream.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "2 minutes", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    return _drain(agg, "complete", "stream_sliding").select(
        F.expr(_START_NTZ).alias("window_start"), "n_events"
    )


@query(
    "s_stream_dedup",
    oracle=f"""
    SELECT DISTINCT user_id, event_type FROM events
    WHERE {sql_ts_domain()}
    """,
)
def s_stream_dedup(spark, sf_dir):
    """Streaming deduplication — the data-quality workhorse for
    at-least-once sources: ``dropDuplicates`` on the key emits only
    first arrivals, with state bounded by the key cardinality (pair
    ``dropDuplicatesWithinWatermark`` with an event-time watermark when
    keys are unbounded, e.g. event ids at 100 TB/day).  Single-batch
    run = batch DISTINCT, so it's SQL-oracled."""
    stream = (
        stream_source(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return _drain(stream, "append", "stream_dedup")


@query(
    "s_stream_join",
    oracle=f"""
    SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.event_id > a.event_id
     AND b.ts >= a.ts
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    WHERE {sql_ts_domain('a.ts')} AND {sql_ts_domain('b.ts')}
    GROUP BY a.user_id
    """,
)
def s_stream_join(spark, sf_dir):
    """Stream-stream inner join — both sides unbounded: each side is
    watermarked and the time-range conjunct bounds how long a row can
    await matches, so the join state stays finite (Spark evicts rows
    older than watermark + range).  The equi key (user_id) drives the
    state lookup exactly like the batch range join (q_join_range).
    Single-batch run = the batch join, so it's SQL-oracled."""
    def side(alias):
        src = stream_source(spark, sf_dir)
        return (
            src.select(
                "user_id", "event_id", event_instant(src).alias("ts")
            )
            .withWatermark("ts", _WATERMARK)
            .alias(alias)
        )

    a, b = side("a"), side("b")
    joined = a.join(
        b,
        F.expr(
            """
            a.user_id = b.user_id
            AND b.event_id > a.event_id
            AND b.ts >= a.ts
            AND b.ts <= a.ts + INTERVAL 5 MINUTE
            """
        ),
    ).select(F.col("a.user_id").alias("user_id"))
    return (
        _drain(joined, "append", "stream_join")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


@query(
    "s_stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE {sql_ts_domain('e.ts')}
    GROUP BY c.c_mktsegment
    """,
)
def s_stream_static_join(spark, sf_dir):
    """Stream-static join — the streaming enrichment workhorse: an
    unbounded event stream joined per micro-batch against a static
    dimension snapshot (no state store needed on either side; the dim
    is re-broadcast per batch, so at 100 TB/day the join cost is the
    broadcast, not stream volume).  Aggregation runs on the enriched
    stream.  Single-batch run = the batch join, so it's SQL-oracled."""
    from ema_bigdata_spark.sources.tables import load_table

    stream = (
        stream_source(spark, sf_dir)
        .select("user_id")
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    enriched = stream.join(cust, "user_id")
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.approx_count_distinct("user_id").alias("_approx_users"),
    )
    drained = _drain(agg, "complete", "stream_static")
    # exact per-segment distinct users from the batch side (streaming
    # keeps approximate state); batch/stream share the one dim snapshot
    exact_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    )
    return (
        drained
        .join(exact_users, "c_mktsegment")
        .select("c_mktsegment", "n_events", "n_users")
    )


@query(
    "s_stream_upsert",
    oracle=f"""
    SELECT user_id, event_type, ts AS last_ts, value AS last_value
    FROM (
      SELECT user_id, event_type, ts, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE {sql_ts_domain()}
    ) WHERE rn = 1
    """,
)
def s_stream_upsert(spark, sf_dir):
    """Streaming CDC upsert — the incrementally-maintained
    keep-latest-per-key table (the streaming mirror of
    ``q_compact_latest``, the same pairing as q_sessionize /
    s_stream_session): a streaming ``max_by`` aggregation keyed by the
    logical key keeps exactly one (latest ts, unique event_id
    tie-break) row per key in the state store, updated per micro-batch.

    This is the declarative alternative to foreachBatch-MERGE: state is
    one row per key regardless of input volume, the memory sink in
    complete mode IS the compacted table, and at 100 TB/day rates the
    same plan runs off Kafka with RocksDB state — key cardinality, not
    event rate, bounds memory.  Recency ordering rides a (ts_us,
    event_id) struct so ties are impossible and the result is
    bit-stable.  Single-batch run equals the batch compaction, so it's
    SQL-oracled."""
    src = stream_source(spark, sf_dir)
    stream = src.select(
        "user_id",
        "event_type",
        event_epoch_us(src).alias("ts_us"),
        "event_id",
        "value",
    )
    agg = stream.groupBy("user_id", "event_type").agg(
        F.expr("max_by(value, struct(ts_us, event_id))").alias(
            "last_value"
        ),
        F.max(F.struct("ts_us", "event_id")).alias("m"),
    )
    drained = _drain(agg, "complete", "stream_upsert")
    us_to_ntz = (
        "timestampadd(MICROSECOND, m.ts_us,"
        " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
    )
    return drained.select(
        "user_id",
        "event_type",
        F.expr(us_to_ntz).alias("last_ts"),
        "last_value",
    )


# -- s_stream_anomaly: stateful running-stats anomaly detection -----------

#: gate: flag an arriving value once ≥ _ANOM_MIN_N PRIOR events exist
#: for the key and |v − mean| > 3σ of those priors.  Cross-multiplied
#: to exact integers on ×100 fixed-point (cents):
#: (n·vu − sx)² > 9·(n·sxx − sx²).  The Python state fn computes this
#: in arbitrary-precision int and the oracle in HUGEINT, so the gate
#: itself never wraps; what CAN wrap is the PERSISTED Σvu² — a
#: BIGINT state field overflows once Σvu² > 9.2e18 (a single
#: |value| ≥ ~3.04e7 row, or a long stream of moderate ones), and an
#: in-domain corrupt double would hard-kill the whole stream.  So
#: sx/sxx persist as DECIMAL(38,0) (round-trips the state store
#: exactly — probed), the oracle's window sums run in
#: HUGEINT, and the row gate is the value-domain |value| ≤
#: _ANOM_DOMAIN shared with q_value_outliers.  Exactness headroom at
#: the bound: vu ≤ 1e11, Σvu² ≤ n·1e22, and the gate's n·sxx ≤ n²·1e22
#: stays inside HUGEINT for n ≤ ~4e7 events per key; at realistic
#: magnitudes (|value| ~1e3) headroom is n ≤ ~4e13 — effectively
#: unbounded.  Pinned by test_adversarial_streaming's domain battery.
_ANOM_MIN_N = 10
_ANOM_DOMAIN = 1e9


def anomaly_stream(stream):
    """Per-key streaming anomaly detector over ``(user_id, ts_us,
    event_id, vu)``: Welford-style running (n, Σv, Σv²) state — three
    integers per key, never the events — with each arriving value
    gated against the statistics of the events BEFORE it.  The state
    fn is order-deterministic (sorts each batch by (ts_us, event_id),
    the same total order as the oracle's window), so a single-file
    run replays exactly as the batch running-window query.

    This is the monitoring-pipeline complement to
    :func:`session_stream`: same ``applyInPandasWithState`` machinery,
    but emission is PER-EVENT conditioned on state rather than
    per-aggregate — the shape of alerting/DQ gates on a live feed."""
    import decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    min_n = _ANOM_MIN_N

    def detect(key, pdfs, state):
        if state.exists:
            n, sx, sxx = (int(v) for v in state.get)
        else:
            n, sx, sxx = 0, 0, 0
        rows = sorted(
            (int(t), int(e), int(v), float(x))
            for pdf in pdfs
            for t, e, v, x in zip(
                pdf["ts_us"], pdf["event_id"], pdf["vu"], pdf["value"]
            )
        )
        out = []
        for _, event_id, vu, value in rows:
            if n >= min_n and (n * vu - sx) ** 2 > 9 * (n * sxx - sx * sx):
                out.append((key[0], event_id, value, n))
            n, sx, sxx = n + 1, sx + vu, sxx + vu * vu
        # sx/sxx persist as DECIMAL(38,0): Python's exact ints survive
        # the state-store round trip beyond int64 (_ANOM_DOMAIN note)
        state.update((n, decimal.Decimal(sx), decimal.Decimal(sxx)))
        yield pd.DataFrame(
            out, columns=["user_id", "event_id", "value", "n_prior"]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        detect,
        outputStructType="user_id BIGINT, event_id BIGINT, value DOUBLE,"
        " n_prior BIGINT",
        stateStructType="n BIGINT, sx DECIMAL(38,0), sxx DECIMAL(38,0)",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@query(
    "s_stream_anomaly",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, ts, value,
             CAST(round(value * 100) AS BIGINT) AS vu
      FROM events WHERE abs(value) <= {_ANOM_DOMAIN!r}
        AND event_id IS NOT NULL AND {sql_ts_domain()}
    ),
    run AS (
      SELECT user_id, event_id, value, vu,
             CAST(coalesce(count(*) OVER w, 0) AS BIGINT) AS n,
             coalesce(sum(CAST(vu AS HUGEINT)) OVER w, 0) AS sx,
             coalesce(sum(CAST(vu AS HUGEINT) * vu) OVER w, 0) AS sxx
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, value, n AS n_prior
    FROM run
    WHERE n >= {_ANOM_MIN_N}
      AND (CAST(n AS HUGEINT) * vu - sx) * (CAST(n AS HUGEINT) * vu - sx)
          > 9 * (CAST(n AS HUGEINT) * sxx - sx * sx)
    """,
)
def s_stream_anomaly(spark, sf_dir):
    """See :func:`anomaly_stream`.  Single-file run = single batch, so
    the emitted alerts equal the batch running-window replay (the
    oracle) — each event judged against the exact statistics of its
    predecessors in (ts, event_id) order.  value rides through
    untouched (the fixed-point ``vu`` is only the gate's arithmetic),
    so the output column is bit-identical to the input's.

    Scale: state is three integers per key; the state-store shuffle
    is keyed by user_id; at 100 TB the same code runs on the Kafka
    seam with a state TTL (``GroupStateTimeout.EventTimeTimeout``)
    evicting keys idle past the watermark.  Driver-mandated surface
    (SURVEY §2.4); no Main.scala counterpart."""
    src = stream_source(spark, sf_dir)
    # value-domain gate, not just IS NOT NULL (_ANOM_DOMAIN note): a
    # NaN/Inf would hard-error the snap, and a looser cast-safety
    # bound (9.2e16) lets an in-domain value overflow the accumulated
    # Σvu² and kill the STREAM, state and all; out-of-domain rows are
    # excluded like NULLs.  event_id gate: the state fn totally orders
    # each batch by (ts_us, event_id) and alerts BY event id — a NULL
    # id has no deterministic position (and int(None) would hard-kill
    # the stream)
    stream = src.where(
        (F.abs(F.col("value")) <= F.lit(_ANOM_DOMAIN))
        & F.col("event_id").isNotNull()
    ).select(
        "user_id",
        event_epoch_us(src).alias("ts_us"),
        "event_id",
        "value",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("vu"),
    )
    alerts = anomaly_stream(stream)
    return _drain(alerts, "update", "stream_anomaly").select(
        "user_id", "event_id", "value", "n_prior"
    )


@query(
    "s_stream_topk",
    oracle=f"""
    SELECT window_start, event_type, n, rk FROM (
      SELECT window_start, event_type, n,
             CAST(row_number() OVER (
                    PARTITION BY window_start
                    ORDER BY n DESC, event_type) AS BIGINT) AS rk
      FROM (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events WHERE {sql_ts_domain()} GROUP BY 1, 2
      )
    ) WHERE rk <= 3
    """,
)
def s_stream_topk(spark, sf_dir):
    """Streaming heavy-hitters: hourly windowed counts per event type
    on the stream, top-3 per window ranked downstream — the trending
    topics / top-sellers dashboard shape.  Ranking across keys is not
    expressible inside a streaming aggregation (it needs the whole
    window's key set), so the production pattern is exactly this
    split: the STREAM maintains the windowed counts (watermark-bounded
    state, incremental), and the rank runs downstream on each closed
    window (foreachBatch / the serving view) over ≤ |event types| rows
    per window — here on the drained sink, which is that view.

    Scale: stream state = windows × types scalars; the rank window is
    over the tiny aggregate, never events.  Window boundaries and the
    NTZ output edge are pure epoch-µs arithmetic (tz-independent, the
    s_stream_tumbling machinery).  Hour windows keep the demo's
    result set meaningful (top-3 of 5 types per hour)."""
    stream = stream_source(spark, sf_dir)
    stream = stream.withColumn("ts", event_instant(stream))
    agg = (
        stream.withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    drained = _drain(agg, "complete", "stream_topk")
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("w").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return (
        drained
        .withColumn("rk", rk.cast("long"))
        .where(F.col("rk") <= 3)
        .select(
            F.expr(_START_NTZ).alias("window_start"),
            "event_type",
            "n",
            "rk",
        )
    )
