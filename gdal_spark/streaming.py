"""Structured Streaming surface over the events table.

The reference has no streaming engine (SURVEY 1.3) — its closest
analogs are GDALAsyncReader progressive reads and gdal2tiles --resume
incremental batches. For a 100 TB ingest pipeline the engine still
needs the streaming shape, so this module defines the standard
windowed aggregation once, usable both as:

- a BATCH DataFrame stage (driver-oracle-checked: tumbling windows
  are pure epoch arithmetic), and
- a STREAM: ``readStream`` file source -> withWatermark -> the same
  aggregation -> sink, exercised with Trigger.AvailableNow in tests
  and asserted equal to the batch result (the batch/stream unification
  contract of Structured Streaming).

Timestamps are NTZ; windows are computed on epoch microseconds so the
arithmetic is integer-exact and timezone-free in every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

WINDOW_US = 3_600_000_000  # 1 hour tumbling


def windowed_event_stats(events: DataFrame) -> DataFrame:
    """Tumbling 1h window per event_type: count, distinct users, and
    integer-cent value sum. Works identically on batch and streaming
    DataFrames (except countDistinct, replaced by approx on streams)."""
    base = events.selectExpr(
        "event_type",
        "user_id",
        # floor-to-window via mod (pmod for pre-epoch safety): exact
        # integer arithmetic, matches DuckDB's floor-division `//`.
        f"unix_micros(cast(ts as timestamp)) - "
        f"pmod(unix_micros(cast(ts as timestamp)), {WINDOW_US}) "
        "AS win_start_us",
        "cast(floor(value * 100.0E0 + 0.5E0) as bigint) AS value_cents",
    )
    return base.groupBy("win_start_us", "event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value_cents").alias("value_cents_sum"),
    )


ORACLE_WINDOWED = (
    f"SELECT (epoch_us(ts) // {WINDOW_US}) * {WINDOW_US} AS win_start_us, "
    "event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users, "
    "cast(sum(cast(floor(value * 100.0E0 + 0.5E0) as bigint)) as bigint) "
    "AS value_cents_sum "
    "FROM events GROUP BY 1, 2"
)


DEDUP_BUCKET_US = 600_000_000  # 10-minute idempotency bucket


def dedup_events(events: DataFrame, bucket_us: int = DEDUP_BUCKET_US) -> DataFrame:
    """At-least-once ingestion dedup (the batch twin of
    dropDuplicates-within-watermark): within each (user_id,
    event_type, 10-min bucket) keep the earliest event by (ts,
    event_id). Output (user_id, event_type, bucket_us, first_us,
    first_event_id, n_dupes). One shuffle on the dedup key — the
    standard exactly-once repair of an at-least-once feed at any
    scale."""
    from pyspark.sql import Window

    base = events.selectExpr(
        "user_id",
        "event_type",
        "event_id",
        "unix_micros(cast(ts as timestamp)) AS us",
    ).selectExpr(
        "user_id", "event_type", "event_id", "us",
        f"us - pmod(us, {bucket_us}) AS bucket_us",
    )
    key = ["user_id", "event_type", "bucket_us"]
    rk = Window.partitionBy(*key).orderBy("us", "event_id")
    cnt = Window.partitionBy(*key)
    return (
        base.withColumn("rk", F.row_number().over(rk))
        .withColumn("n_dupes", F.count("*").over(cnt))
        .filter("rk = 1")
        .selectExpr(
            "user_id", "event_type", "bucket_us",
            "us AS first_us", "event_id AS first_event_id", "n_dupes",
        )
    )


ORACLE_DEDUP_EVENTS = (
    f"SELECT user_id, event_type, bucket_us, us AS first_us, "
    f"event_id AS first_event_id, cast(n_dupes as bigint) AS n_dupes FROM ("
    f"SELECT user_id, event_type, bucket_us, us, event_id, "
    f"row_number() OVER (PARTITION BY user_id, event_type, bucket_us "
    f"ORDER BY us, event_id) AS rk, "
    f"count(*) OVER (PARTITION BY user_id, event_type, bucket_us) AS n_dupes "
    f"FROM (SELECT user_id, event_type, event_id, epoch_us(ts) AS us, "
    f"(epoch_us(ts) // {DEDUP_BUCKET_US}) * {DEDUP_BUCKET_US} AS bucket_us "
    f"FROM events)) WHERE rk = 1"
)


def stream_dedup(spark: SparkSession, src_dir: str, schema,
                 bucket_us: int = DEDUP_BUCKET_US):
    """Streaming twin of dedup_events: per-key state = (earliest
    (us, event_id) so far, running count); each micro-batch emits the
    current state row, downstream keep-latest resolves the final
    answer. Min-merging state is order-independent, so the result is
    deterministic whatever the batch split — unlike raw
    dropDuplicates, which keeps the first-SEEN row."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(src_dir)
    ev = stream.selectExpr(
        "user_id",
        "event_type",
        "event_id",
        "unix_micros(cast(ts as timestamp)) AS us",
    ).selectExpr(
        "user_id", "event_type", "event_id", "us",
        f"us - pmod(us, {bucket_us}) AS bucket_us",
    )

    def fn(key, pdfs, state):
        user_id, event_type, bucket_us = key
        rows = pd.concat(list(pdfs))
        bus, beid = None, None
        for us, eid in zip(rows["us"], rows["event_id"]):
            us, eid = int(us), int(eid)
            if bus is None or (us, eid) < (bus, beid):
                bus, beid = us, eid
        n = len(rows)
        if state.exists:
            pus, peid, pn = state.get
            if (pus, peid) < (bus, beid):
                bus, beid = pus, peid
            n += pn
        state.update((bus, beid, n))
        yield pd.DataFrame(
            [(user_id, event_type, int(bucket_us), bus, beid, n)],
            columns=["user_id", "event_type", "bucket_us", "first_us",
                     "first_event_id", "n_dupes"],
        )

    return ev.groupBy("user_id", "event_type", "bucket_us").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, event_type string, bucket_us bigint, "
        "first_us bigint, first_event_id bigint, n_dupes bigint",
        stateStructType="us bigint, event_id bigint, n bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_GAP_US = 30 * 60 * 1_000_000


def stream_sessionize(spark: SparkSession, src_dir: str, schema):
    """Custom stateful streaming operator: gap-based sessionization
    with ``applyInPandasWithState`` (the applyInPandasWithState slot
    of SURVEY 2.12 / the north-star custom-operator tier). State per
    user = the open session; closed sessions emit as soon as the gap
    rule fires, the open session emits on timeout/end-of-stream.
    Semantics identical to the batch ogrsql.q_sessionize query."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(src_dir)
    ev = stream.selectExpr(
        "user_id",
        "event_id",
        "unix_micros(cast(ts as timestamp)) AS us",
    )

    def fn(key, pdfs, state):
        (user_id,) = key
        rows = pd.concat(list(pdfs)).sort_values(["us", "event_id"])
        if state.exists:
            start, last, n, idx = state.get
        else:
            start, last, n, idx = None, None, 0, 0
        out = []
        for us in rows["us"]:
            us = int(us)
            if last is None:
                idx += 1
                start, last, n = us, us, 1
            elif us - last > SESSION_GAP_US:
                out.append((user_id, idx, n, start, last, True))
                idx += 1
                start, last, n = us, us, 1
            else:
                last = us
                n += 1
        state.update((start, last, n, idx))
        # emit the open session as a partial row (closed=False);
        # downstream dedup keeps the latest per (user, session)
        out.append((user_id, idx, n, start, last, False))
        yield pd.DataFrame(
            out,
            columns=["user_id", "session_idx", "n_events", "start_us",
                     "end_us", "closed"],
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id bigint, session_idx bigint, n_events bigint, "
        "start_us bigint, end_us bigint, closed boolean",
        stateStructType="start_us bigint, end_us bigint, n bigint, idx bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_windowed_counts(
    spark: SparkSession, src_dir: str, schema, checkpoint: str
):
    """The streaming variant: file-source stream -> 10-minute
    watermark -> tumbling window counts (complete-output ready).
    Returns the streaming DataFrame; callers attach a sink and
    trigger (tests use Trigger.AvailableNow + memory sink)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    win = stream.withColumn(
        "ts2", F.expr("cast(ts as timestamp)")
    ).withWatermark("ts2", "10 minutes")
    return (
        win.groupBy(
            F.window("ts2", "1 hour").alias("win"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            F.expr(
                "sum(cast(floor(value * 100.0E0 + 0.5E0) as bigint))"
            ).alias("value_cents_sum"),
        )
        .selectExpr(
            "unix_micros(win.start) AS win_start_us",
            "event_type",
            "n_events",
            "value_cents_sum",
        )
    )


# ---------------------------------------------------------------------------
# stream-stream interval join: last-touch attribution (the canonical
# Structured Streaming join shape — two event streams joined on a key
# plus a time-range condition bounded by watermarks; Spark docs' "ad
# monetization" pattern)

ATTR_WINDOW_US = 1_800_000_000  # attribute purchases to views <= 30 min back


def attribute_purchases(
    events: DataFrame, window_us: int = ATTR_WINDOW_US
) -> DataFrame:
    """Last-touch attribution, batch form: for each 'purchase', the
    most recent 'view' by the same user within the window (ties on ts
    broken by view event_id desc — later id wins, matching the oracle).
    Output (purchase_event_id, user_id, view_event_id, lag_us,
    value_cents).

    One shuffle on user_id for the interval join (equi-key + range
    residual), one on purchase_event_id for the top-1 window — the
    same two-exchange plan at any scale; the range residual keeps the
    per-user pairing bounded by the window, not the history."""
    from pyspark.sql import Window

    base = events.selectExpr(
        "event_id", "user_id", "event_type",
        "unix_micros(cast(ts as timestamp)) AS us",
        "cast(floor(value * 100.0E0 + 0.5E0) as bigint) AS value_cents",
    )
    views = base.filter("event_type = 'view'").selectExpr(
        "user_id", "event_id AS view_event_id", "us AS view_us"
    )
    buys = base.filter("event_type = 'purchase'").selectExpr(
        "user_id", "event_id AS purchase_event_id", "us AS buy_us",
        "value_cents",
    )
    pairs = buys.join(views, "user_id").filter(
        (F.col("view_us") <= F.col("buy_us"))
        & (F.col("buy_us") - F.col("view_us") <= window_us)
    )
    rk = Window.partitionBy("purchase_event_id").orderBy(
        F.desc("view_us"), F.desc("view_event_id")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(rk))
        .filter("rk = 1")
        .selectExpr(
            "purchase_event_id", "user_id", "view_event_id",
            "buy_us - view_us AS lag_us", "value_cents",
        )
    )


ORACLE_ATTRIBUTION = (
    f"WITH base AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us, "
    f"cast(floor(value * 100.0E0 + 0.5E0) as bigint) AS value_cents "
    f"FROM events), "
    f"pairs AS (SELECT b.event_id AS purchase_event_id, b.user_id, "
    f"v.event_id AS view_event_id, b.us - v.us AS lag_us, b.value_cents, "
    f"row_number() OVER (PARTITION BY b.event_id "
    f"ORDER BY v.us DESC, v.event_id DESC) AS rk "
    f"FROM base b JOIN base v ON v.user_id = b.user_id "
    f"AND b.event_type = 'purchase' AND v.event_type = 'view' "
    f"AND v.us <= b.us AND b.us - v.us <= {ATTR_WINDOW_US}) "
    f"SELECT purchase_event_id, user_id, view_event_id, lag_us, value_cents "
    f"FROM pairs WHERE rk = 1"
)


def stream_attribute_pairs(spark: SparkSession, src_dir: str, schema):
    """The streaming twin: two file-source streams (views, purchases)
    of the SAME event feed, watermarked, inner-joined on user_id with
    the time-range condition. Emits ALL (view, purchase) pairs in the
    window — the last-touch top-1 is a downstream batch reduction
    (streaming row_number over an unbounded key is not expressible;
    production runs this exact split). Tests assert pair-set equality
    with the batch join."""
    def src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .withColumn("ts2", F.expr("cast(ts as timestamp)"))
        )

    views = (
        src().filter("event_type = 'view'")
        .withWatermark("ts2", "2 hours")
        .selectExpr("user_id AS v_user", "event_id AS view_event_id",
                    "ts2 AS view_ts")
    )
    buys = (
        src().filter("event_type = 'purchase'")
        .withWatermark("ts2", "2 hours")
        .selectExpr("user_id", "event_id AS purchase_event_id", "ts2 AS buy_ts")
    )
    return buys.join(
        views,
        F.expr(
            "v_user = user_id AND view_ts <= buy_ts "
            f"AND buy_ts <= view_ts + INTERVAL {ATTR_WINDOW_US // 1_000_000} "
            "SECONDS"
        ),
    ).selectExpr(
        "purchase_event_id", "user_id", "view_event_id",
        "unix_micros(buy_ts) - unix_micros(view_ts) AS lag_us",
    )


# ---------------------------------------------------------------------------
# sliding windows (Structured Streaming window(ts, "1 hour",
# "15 minutes") semantics): each event belongs to length/slide
# overlapping windows. Expressed as the explicit window explode in
# BOTH engines (identical integer arithmetic), which is exactly what
# Spark's window() lowers to; the x(L/S) row fan-out ahead of the
# shuffle is the documented cost of sliding windows at any scale.

SLIDE_US = 900_000_000  # 15 min slide; WINDOW_US / SLIDE_US = 4 windows


def sliding_event_stats(events: DataFrame) -> DataFrame:
    """Sliding 1h/15min window per event_type: count, distinct users,
    integer-cent value sum. Same output shape as the tumbling stats
    with win_start_us stepping by the slide."""
    k_max = WINDOW_US // SLIDE_US
    base = events.selectExpr(
        "event_type",
        "user_id",
        f"unix_micros(cast(ts as timestamp)) - "
        f"pmod(unix_micros(cast(ts as timestamp)), {SLIDE_US}) "
        "AS slide_start_us",
        "cast(floor(value * 100.0E0 + 0.5E0) as bigint) AS value_cents",
    ).selectExpr(
        "event_type", "user_id", "value_cents",
        f"explode(sequence(cast(0 as bigint), {k_max - 1})) AS k",
        "slide_start_us",
    ).selectExpr(
        "event_type", "user_id", "value_cents",
        f"slide_start_us - k * cast({SLIDE_US} as bigint) AS win_start_us",
    )
    return base.groupBy("win_start_us", "event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value_cents").alias("value_cents_sum"),
    )


ORACLE_SLIDING = (
    f"WITH e AS (SELECT event_type, user_id, "
    f"(epoch_us(ts) // {SLIDE_US}) * {SLIDE_US} AS slide_start_us, "
    f"cast(floor(value * 100.0E0 + 0.5E0) as bigint) AS value_cents "
    f"FROM events), "
    f"x AS (SELECT event_type, user_id, value_cents, "
    f"slide_start_us - unnest(range(0, {WINDOW_US // SLIDE_US})) "
    f"* {SLIDE_US} AS win_start_us FROM e) "
    f"SELECT win_start_us, event_type, count(*) AS n_events, "
    f"count(DISTINCT user_id) AS n_users, "
    f"cast(sum(value_cents) as bigint) AS value_cents_sum "
    f"FROM x GROUP BY 1, 2"
)


# ---------------------------------------------------------------------------
# incremental overview rollup — the streaming twin of the COG
# partial-refresh path (apps/gdaladdo.cpp --partial-refresh +
# gcore/overview.cpp): tile UPDATES arrive as a stream; each parent
# overview tile depends on its 4 children, so the rollup keeps
# per-parent state = best (seq, cks) per child quadrant and re-emits
# the parent summary whenever a child changes. Max-merge by seq is
# order-independent, so the result is deterministic under ANY batch
# split (the same contract dedup_events makes).

ROLLUP_NTX = 32
ROLLUP_NTY = 8


def rollup_updates_cte(n: int, dialect: str = "duckdb") -> str:
    """Deterministic synthetic tile-update log (seq, tx, ty, cks);
    seq is unique, tiles repeat so last-wins matters."""
    div = "div" if dialect == "spark" else "//"
    src = (
        f"(SELECT id AS i FROM range(0, {n}))"
        if dialect == "spark"
        else f"range(0, {n}) t(i)"
    )
    return (
        f"SELECT i AS seq, i % {ROLLUP_NTX} AS tx, "
        f"(i {div} {ROLLUP_NTX}) % {ROLLUP_NTY} AS ty, "
        f"(i * 131071 + 17) % 65536 AS cks FROM {src}"
    )


def rollup_updates(updates: DataFrame) -> DataFrame:
    """Batch semantics: last-wins per child tile (max seq), then the
    per-parent overview summary (ptx, pty, n_children, cks_sum,
    max_seq)."""
    from pyspark.sql import Window

    w = Window.partitionBy("tx", "ty").orderBy(F.desc("seq"))
    latest = (
        updates.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .selectExpr("tx div 2 AS ptx", "ty div 2 AS pty", "seq", "cks")
    )
    return latest.groupBy("ptx", "pty").agg(
        F.expr("cast(count(*) as bigint) AS n_children"),
        F.expr("cast(sum(cks) % 65536 as bigint) AS cks_sum"),
        F.expr("cast(max(seq) as bigint) AS max_seq"),
    )


def oracle_rollup_updates(n: int) -> str:
    return (
        f"WITH u AS ({rollup_updates_cte(n, 'duckdb')}), "
        f"latest AS (SELECT tx // 2 AS ptx, ty // 2 AS pty, seq, cks "
        f"FROM (SELECT *, row_number() OVER (PARTITION BY tx, ty "
        f"ORDER BY seq DESC) AS rk FROM u) WHERE rk = 1) "
        f"SELECT ptx, pty, cast(count(*) as bigint) AS n_children, "
        f"cast(sum(cks) % 65536 as bigint) AS cks_sum, "
        f"cast(max(seq) as bigint) AS max_seq "
        f"FROM latest GROUP BY 1, 2"
    )


def stream_rollup(spark: SparkSession, src_dir: str, schema):
    """Streaming twin: per-parent state = best (seq, cks) for each of
    the 4 child quadrants (max-merge by seq — order-independent);
    each micro-batch re-emits the parent summary, downstream
    keep-latest (max max_seq) resolves the final answer."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(src_dir)
    u = stream.selectExpr(
        "seq", "cks",
        "tx div 2 AS ptx", "ty div 2 AS pty",
        "cast((tx % 2) + 2 * (ty % 2) as int) AS q",
    )

    def fn(key, pdfs, state):
        ptx, pty = key
        best = list(state.get) if state.exists else [-1] * 8
        rows = pd.concat(list(pdfs))
        for seq, cks, q in zip(rows["seq"], rows["cks"], rows["q"]):
            seq, cks, q = int(seq), int(cks), int(q)
            if seq > best[2 * q]:
                best[2 * q], best[2 * q + 1] = seq, cks
        state.update(tuple(best))
        present = [q for q in range(4) if best[2 * q] >= 0]
        yield pd.DataFrame(
            [(
                int(ptx), int(pty), len(present),
                sum(best[2 * q + 1] for q in present) % 65536,
                max(best[2 * q] for q in present),
            )],
            columns=["ptx", "pty", "n_children", "cks_sum", "max_seq"],
        )

    return u.groupBy("ptx", "pty").applyInPandasWithState(
        fn,
        outputStructType="ptx bigint, pty bigint, n_children bigint, "
        "cks_sum bigint, max_seq bigint",
        stateStructType="s0 bigint, c0 bigint, s1 bigint, c1 bigint, "
        "s2 bigint, c2 bigint, s3 bigint, c3 bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
