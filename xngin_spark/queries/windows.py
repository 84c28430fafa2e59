"""Event-stream queries over the `events` table — tumbling, sliding and
session windows plus JSON prop extraction. Batch-first (these run and
oracle-check as batch queries); xngin_spark.streaming wires the same
window specs to Structured Streaming.

Spark windows are epoch-aligned, so the DuckDB oracles reproduce the
boundaries with date_trunc arithmetic. Session windows (gap-based) are
reproduced with the classic gaps-and-islands SQL (lag → break flag →
running sum → island id).

The reference has no streaming/window surface at all (SURVEY.md §2.5:
`// todo: window`, doradb-sql/src/ast.rs:1278) — this module is
beyond-reference capability.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xngin_spark.catalog import events_df
from xngin_spark.functions.aggregates import DEC, count_star, dsum, dsum_expr
from xngin_spark.queries import register


@register(
    "events_tumbling",
    f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum_expr("value", "total_value")}
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_tumbling(spark, sf_dir):
    e = events_df(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(count_star().alias("n_events"), dsum(F.col("value"), "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sliding",
    f"""
    WITH e AS (
      SELECT CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events
    ),
    w AS (
      SELECT date_trunc('hour', t)
               + to_seconds(1800 * CAST(floor(minute(t) / 30) AS BIGINT)) AS s1,
             event_type, value
      FROM e
    ),
    wboth AS (
      SELECT s1 AS window_start, event_type, value FROM w
      UNION ALL
      SELECT s1 - to_seconds(1800), event_type, value FROM w
    )
    SELECT window_start, event_type, COUNT(*) AS n_events,
           {dsum_expr("value", "total_value")}
    FROM wboth
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_sliding(spark, sf_dir):
    # 1-hour window sliding every 30 min: each event lands in exactly 2
    # windows; Spark's F.window(slide) materializes both assignments.
    e = events_df(spark, sf_dir)
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(count_star().alias("n_events"), dsum(F.col("value"), "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_session",
    f"""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events
    ),
    m AS (
      SELECT *, CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                          > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           MIN(t) AS session_start,
           MAX(t) AS session_end,
           COUNT(*) AS n_events,
           {dsum_expr("value", "total_value")}
    FROM s
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def events_session(spark, sf_dir):
    # F.session_window: gap-based stateful windowing, the batch twin of
    # the streaming session operator. Session bounds reported as
    # min/max event time (Spark's window.end is max+gap, so aggregate
    # the bounds explicitly to match the SQL definition).
    e = events_df(spark, sf_dir)
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            count_star().alias("n_events"),
            dsum(F.col("value"), "total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
        .orderBy("user_id", "session_start")
    )


@register(
    "events_json_props",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_json_props(spark, sf_dir):
    # semi-structured props column: JSON path extraction JVM-side
    # (get_json_object), no UDF.
    e = events_df(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            count_star().alias("n"),
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "events_variant",
    """
    WITH docs AS (
      SELECT event_type,
             concat('{"meta":{"type":"', event_type, '","k":',
                    COALESCE(json_extract_string(props, '$.k'), '0'),
                    '},"vals":[',
                    COALESCE(json_extract_string(props, '$.k'), '0'), ',',
                    CAST(2 * CAST(COALESCE(json_extract_string(props, '$.k'),
                                           '0') AS BIGINT)
                         AS VARCHAR), ']}') AS doc
      FROM events
    )
    SELECT json_extract_string(doc, '$.meta.type') AS vtype,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(doc, '$.meta.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(SUM(CAST(json_extract(doc, '$.vals[1]') AS BIGINT)) AS BIGINT)
             AS sum_v1,
           CAST(COUNT(CAST(json_extract(doc, '$.missing') AS BIGINT)) AS BIGINT)
             AS n_missing
    FROM docs
    GROUP BY 1 ORDER BY 1
    """,
)
def events_variant(spark, sf_dir):
    """Semi-structured processing through Spark 4's VARIANT type: build
    a nested JSON document per event, parse ONCE into the binary
    variant encoding, then extract typed fields by path — including a
    nested object member, a 0-based array index, and a missing path via
    try_variant_get (NULL, counted as 0). At 100 TB this is the shape
    that wins over repeated get_json_object calls: one parse per row
    into a columnar-shreddable binary, then O(1) typed path reads,
    all JVM-side. DuckDB oracles the same paths with json_extract over
    the identical document text (integer-only payload so the string
    round-trip is representation-exact)."""
    e = events_df(spark, sf_dir)
    # COALESCE on both engines: without it a props row missing $.k
    # diverges (Spark concat returns NULL on any NULL arg, DuckDB's
    # skips it and emits malformed JSON) — unreachable on current
    # testdata but testdata regenerates between rounds
    k = F.coalesce(F.get_json_object("props", "$.k"), F.lit("0"))
    doc = F.concat(
        F.lit('{"meta":{"type":"'), F.col("event_type"), F.lit('","k":'), k,
        F.lit('},"vals":['), k, F.lit(","),
        (k.cast("long") * 2).cast("string"), F.lit("]}"),
    )
    v = F.parse_json(doc)
    return (
        e.select(
            F.variant_get(v, "$.meta.type", "string").alias("vtype"),
            F.variant_get(v, "$.meta.k", "long").alias("k"),
            F.variant_get(v, "$.vals[1]", "long").alias("v1"),
            F.try_variant_get(v, "$.missing", "long").alias("missing"),
        )
        .groupBy("vtype")
        .agg(
            count_star().alias("n"),
            F.sum("k").alias("sum_k"),
            F.sum("v1").alias("sum_v1"),
            F.count("missing").alias("n_missing"),
        )
        .orderBy("vtype")
    )


@register(
    "events_rate_per_user",
    f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(COUNT(*) AS DOUBLE)
             / (CAST(date_diff('second', MIN(CAST(ts AS TIMESTAMP)),
                               MAX(CAST(ts AS TIMESTAMP))) AS DOUBLE) + 1.0)
             AS events_per_sec,
           {dsum_expr("value", "total_value")}
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_rate_per_user(spark, sf_dir):
    e = events_df(spark, sf_dir)
    span = F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
    return (
        e.groupBy("user_id")
        .agg(
            count_star().alias("n_events"),
            (count_star().cast("double") / (span.cast("double") + F.lit(1.0))).alias(
                "events_per_sec"
            ),
            dsum(F.col("value"), "total_value"),
        )
        .orderBy("user_id")
    )


@register(
    "events_stream_tumbling",
    f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum_expr("value", "total_value")}
    FROM events
    GROUP BY 1, 2
    """,
)
def events_stream_tumbling(spark, sf_dir):
    """The STREAMING tumbling window run to exhaustion (availableNow,
    complete mode) — proves the Structured Streaming path against the
    same DuckDB oracle as the batch twin: incremental execution must
    produce exactly the batch answer."""
    import os

    from xngin_spark.streaming import events_stream, run_available_now, stream_tumbling

    sdf = stream_tumbling(
        events_stream(spark, os.path.join(sf_dir, "events.parquet")), delay="2 hours"
    )
    name = "stream_tumbling_sink"
    return run_available_now(sdf, name, output_mode="complete")


@register(
    "events_topk_per_window",
    """
    WITH counts AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n, rnk FROM (
      SELECT window_start, event_type, n,
             CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                     ORDER BY n DESC, event_type)
                  AS BIGINT) AS rnk
      FROM counts
    ) WHERE rnk <= 3
    """,
)
def events_topk_per_window(spark, sf_dir):
    # top-k per window: one (window, type) count shuffle with map-side
    # combine, then a rank over the tiny per-window type counts — the
    # trending-items shape. The window function partitions by
    # window_start, so no single-partition global sort ever happens.
    e = events_df(spark, sf_dir)
    counts = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(count_star().alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    from pyspark.sql import Window as W

    rk = W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    return (
        counts.withColumn("rnk", F.row_number().over(rk).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("window_start", "event_type", "n", "rnk")
    )


@register(
    "events_asof_join",
    """
    WITH l AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS pval
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT l.event_id, l.user_id, l.ts, r.pval AS pval_r
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def events_asof_join(spark, sf_dir):
    """As-of join (point-in-time correctness): each click gets the most
    recent prior purchase value of the same user. Custom operator Spark
    lacks natively (operators/temporal.py asof_join: union + window
    forward-fill, one key shuffle); DuckDB's native ASOF JOIN is the
    oracle."""
    from xngin_spark.operators.temporal import asof_join

    e = events_df(spark, sf_dir)
    left = e.filter(F.col("event_type") == "click").select("event_id", "ts", "user_id")
    right = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    return asof_join(left, right, on="ts", by="user_id", value_cols=["pval"]).select(
        "event_id", "user_id", "ts", "pval_r"
    )


@register(
    "events_asof_tolerance",
    """
    WITH l AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, MAX(value) AS pval
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT l.event_id, l.user_id, l.ts,
           CASE WHEN l.ts <= r.ts + INTERVAL 600 SECOND THEN r.pval END
             AS pval_r
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def events_asof_tolerance(spark, sf_dir):
    """As-of join with a bounded lookback (pandas merge_asof
    ``tolerance``): a click only inherits a purchase value made within
    the previous 10 minutes; staler matches become NULL instead of
    leaking arbitrarily old state — the feature-store freshness rule.
    Same single-shuffle forward-fill as events_asof_join with the
    matched timestamp filled alongside the values and masked after."""
    from xngin_spark.operators.temporal import asof_join

    e = events_df(spark, sf_dir)
    left = e.filter(F.col("event_type") == "click").select("event_id", "ts", "user_id")
    right = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    return asof_join(
        left, right, on="ts", by="user_id", value_cols=["pval"],
        tolerance_sec=600,
    ).select("event_id", "user_id", "ts", "pval_r")


@register(
    "events_range_join",
    """
    SELECT l.event_id, r.event_id AS event_id_r
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP)
     AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP) + INTERVAL 300 SECOND
    """,
)
def events_range_join(spark, sf_dir):
    """Bounded range join: purchases within 5 minutes after a click by
    the same user. The raw theta join is per-key quadratic; the binned
    equi-join rewrite (operators/temporal.py range_join) bounds
    candidates to two adjacent 300s bins per row."""
    from xngin_spark.operators.temporal import range_join

    e = events_df(spark, sf_dir)
    left = e.filter(F.col("event_type") == "click").select("event_id", "ts", "user_id")
    right = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    return range_join(left, right, on="ts", by="user_id", lower=0, upper=300).select(
        "event_id", F.col("event_id_r")
    )


@register(
    "events_stream_dedup",
    """
    SELECT event_id, user_id, event_type
    FROM (
      SELECT event_id, user_id, event_type FROM events
      UNION ALL
      SELECT event_id, user_id, event_type FROM events
    )
    GROUP BY event_id, user_id, event_type
    """,
)
def events_stream_dedup(spark, sf_dir):
    """Streaming exactly-once dedup run to exhaustion: the event stream
    unioned with itself (every event delivered twice, the at-least-once
    failure mode) must collapse back to exactly the batch-distinct
    answer through dropDuplicatesWithinWatermark. Bounded state: the
    seen-key set lives only inside the watermark horizon."""
    import os

    from xngin_spark.streaming import events_stream, run_available_now, stream_dedup

    path = os.path.join(sf_dir, "events.parquet")
    doubled = events_stream(spark, path).unionAll(events_stream(spark, path))
    sdf = stream_dedup(doubled, keys=("event_id",), delay="2 hours")
    name = "stream_dedup_sink"
    out = run_available_now(sdf, name, output_mode="append")
    return out.select("event_id", "user_id", "event_type")


@register(
    "events_stream_join",
    """
    SELECT l.event_id, r.event_id AS event_id_r
    FROM (SELECT * FROM events WHERE event_type = 'click') l
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
      ON l.user_id = r.user_id
     AND CAST(r.ts AS TIMESTAMP) >= CAST(l.ts AS TIMESTAMP)
     AND CAST(r.ts AS TIMESTAMP) <= CAST(l.ts AS TIMESTAMP) + INTERVAL 300 SECOND
    """,
)
def events_stream_join(spark, sf_dir):
    """STREAM-STREAM interval join run to exhaustion — the streaming
    twin of events_range_join, against the identical DuckDB oracle: two
    live watermarked streams (clicks, purchases) joined per user within
    a 300s horizon must emit exactly the batch range-join pairs."""
    import os

    from xngin_spark.streaming import events_stream, run_available_now, stream_stream_join

    path = os.path.join(sf_dir, "events.parquet")
    clicks = events_stream(spark, path).filter(F.col("event_type") == "click")
    purchases = events_stream(spark, path).filter(F.col("event_type") == "purchase")
    sdf = stream_stream_join(clicks, purchases)
    name = "stream_join_sink"
    return run_available_now(sdf, name, output_mode="append")


@register(
    "events_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t_buy
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t_click
      GROUP BY e.user_id
    )
    SELECT 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
    UNION ALL
    SELECT 'view>click', CAST(COUNT(*) AS BIGINT) FROM c
    UNION ALL
    SELECT 'view>click>purchase', CAST(COUNT(*) AS BIGINT) FROM p
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered conversion funnel (view → click → purchase, each stage
    strictly after the previous): the canonical product-analytics
    sequence query. Three per-user MIN aggregations chained by joins —
    every shuffle is on the 8-byte user id, each stage's table shrinks,
    and the final stage counts are scalar. No window over the full
    event stream, no per-user sort."""
    e = events_df(spark, sf_dir)

    def first_after(etype, prev, prev_col, out_col):
        src = e.filter(F.col("event_type") == etype)
        if prev is not None:
            src = src.join(prev, "user_id").filter(F.col("ts") > F.col(prev_col))
        return src.groupBy("user_id").agg(F.min("ts").alias(out_col))

    v = first_after("view", None, None, "t_view")
    c = first_after("click", v, "t_view", "t_click")
    p = first_after("purchase", c, "t_click", "t_buy")
    # global (ungrouped) aggregates: exactly one row per stage even when
    # a stage is empty — matching the oracle's COUNT(*) which emits 0,
    # where a groupBy over unioned per-user rows would drop the stage
    counts = [
        v.agg(count_star().alias("n_users")).select(
            F.lit("view").alias("stage"), "n_users"
        ),
        c.agg(count_star().alias("n_users")).select(
            F.lit("view>click").alias("stage"), "n_users"
        ),
        p.agg(count_star().alias("n_users")).select(
            F.lit("view>click>purchase").alias("stage"), "n_users"
        ),
    ]
    return counts[0].unionAll(counts[1]).unionAll(counts[2])


@register(
    "events_sessionize",
    """
    WITH seq AS (
      SELECT user_id, event_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_no
    FROM seq
    """,
)
def events_sessionize(spark, sf_dir):
    """Gap-based session-ID assignment: a >30-min silence starts a new
    session; session_no = running count of session starts per user.
    This labels every EVENT with its session (the input to per-session
    feature extraction), where events_session only aggregates them.
    One user_id shuffle feeds both windows (lag + running sum share the
    same partitioning and sort, so Catalyst plans a single Window node
    chain with no extra exchange). Ties break on the unique event_id —
    deterministic in both engines."""
    from pyspark.sql import Window as W

    e = events_df(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    # interval arithmetic works uniformly on TIMESTAMP and NTZ; an
    # epoch cast would need tz adjustment on one of them
    is_start = (
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTES"))
    ).cast("int")
    cume = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        e.select("user_id", "event_id", "ts", is_start.alias("is_start"))
        .select(
            "user_id",
            "event_id",
            F.sum("is_start").over(cume).cast("long").alias("session_no"),
        )
    )


@register(
    "events_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE)
           / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS p
    FROM c
    """,
)
def events_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences (the session-path analysis shape): lead() within each
    user's time-ordered stream, then a (type, next_type) count and a
    per-source-type probability. Scale: the lead window shuffles once
    on user_id (same key as any sessionization), the count matrix is
    |types|² rows, and the probability window runs over that tiny
    matrix — no global sort anywhere. Ties in ts are broken by the
    unique event_id so LEAD is deterministic in both engines."""
    from pyspark.sql import Window as W

    e = events_df(spark, sf_dir)
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = e.select(
        "event_type", F.lead("event_type").over(seq).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = nxt.groupBy("event_type", "next_type").agg(count_star().alias("n"))
    tot = W.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        (
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
        ).alias("p"),
    )


@register(
    "events_stream_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type, next_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE)
           / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS p
    FROM c
    """,
)
def events_stream_transitions(spark, sf_dir):
    """STREAMING transition matrix via a custom stateful operator
    (value state = each user's last event type, bridging micro-batches),
    run to exhaustion against the identical oracle as the batch twin:
    incremental stateful execution must reproduce the batch lead-window
    answer exactly."""
    import os

    from xngin_spark.streaming import events_stream, run_available_now, stream_transitions

    sdf = stream_transitions(
        events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    name = "stream_transitions_sink"
    pairs = run_available_now(sdf, name, output_mode="append")
    counts = pairs.groupBy("event_type", "next_type").agg(count_star().alias("n"))
    from pyspark.sql import Window as W

    tot = W.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(tot).cast("double")).alias("p"),
    )


@register(
    "events_active_users_cume",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS first_hour
      FROM events GROUP BY user_id
    )
    SELECT first_hour, CAST(COUNT(*) AS BIGINT) AS new_users,
           CAST(SUM(COUNT(*)) OVER (ORDER BY first_hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cume_users
    FROM firsts GROUP BY first_hour
    """,
)
def events_active_users_cume(spark, sf_dir):
    """Cumulative distinct users by first-seen hour — the growth-curve
    query. A naive running COUNT(DISTINCT) over an expanding window
    rescans per period; instead each user collapses to their first-seen
    hour (one user_id shuffle), and the running sum of new-user counts
    IS the cumulative distinct count. The only ordered window runs over
    |hours| rows — period cardinality, not event volume — so the global
    orderBy never touches data size."""
    from pyspark.sql import Window as W

    e = events_df(spark, sf_dir)
    # min of the trunc, not trunc of the min, so the agg stays a plain
    # min over already-truncated values in both engines
    firsts = e.select(
        "user_id", F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("h")
    ).groupBy("user_id").agg(F.min("h").alias("first_hour"))
    daily = firsts.groupBy("first_hour").agg(count_star().alias("new_users"))
    w = W.orderBy("first_hour").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        "first_hour",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cume_users"),
    )


@register(
    "events_retention",
    """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, CAST(CAST(e.ts AS TIMESTAMP) AS DATE))
                AS BIGINT) AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM events e JOIN firsts USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention(spark, sf_dir):
    """Cohort retention triangle: users grouped by first-seen day,
    counted distinct on each later activity day. Two user-id shuffles
    (first-day agg + the fact-side join) and one (cohort, offset)
    count-distinct — the cohort table is per-user-small and broadcast.
    """
    e = events_df(spark, sf_dir)
    day = F.col("ts").cast("date")
    firsts = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    return (
        e.join(F.broadcast(firsts), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(day, F.col("cohort_day")).cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "events_gap_fill",
    """
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
             date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
      FROM events WHERE user_id < 50
    ),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour_start
      FROM bounds
    ),
    actual AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             COUNT(*) AS n
      FROM events WHERE user_id < 50 GROUP BY 1
    )
    SELECT g.hour_start,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_events,
           a.n IS NULL AS is_gap
    FROM grid g LEFT JOIN actual a ON g.hour_start = a.hour_start
    """,
)
def events_gap_fill(spark, sf_dir):
    """Time-series gap filling: a dense hour grid generated with
    ``sequence`` (JVM-side, no driver loop) left-joined to the sparse
    hourly counts, so silent-hour gaps surface as explicit zero rows —
    the step every downstream moving-average or anomaly check needs.
    The grid is one row per hour (driver-free, scale-constant); the
    count side is the usual windowed shuffle."""
    e = events_df(spark, sf_dir).filter(F.col("user_id") < 50)
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour_start")
    )
    actual = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(count_star().alias("n"))
    )
    return grid.join(actual, "hour_start", "left").select(
        "hour_start",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        F.col("n").isNull().alias("is_gap"),
    )


@register(
    "events_anomaly",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
             COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    scored AS (
      SELECT hour_start, CAST(n AS BIGINT) AS n_events,
             CAST(CAST(SUM(CAST(n AS DECIMAL(25,6)))
                  OVER (ORDER BY hour_start
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS STRING) AS DOUBLE)
               AS win_sum,
             CAST(CAST(SUM(CAST(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) AS DECIMAL(25,6)))
                  OVER (ORDER BY hour_start
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS STRING) AS DOUBLE)
               AS win_sumsq,
             CAST(COUNT(*)
                  OVER (ORDER BY hour_start
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT)
               AS win_n
      FROM hourly
    )
    SELECT hour_start, n_events,
           round((n_events - win_sum / win_n)
                 / sqrt(greatest((win_sumsq - win_sum * win_sum / win_n)
                                 / (win_n - 1), 1e-12)), 6) AS zscore
    FROM scored
    WHERE win_n >= 12
    """,
)
def events_anomaly(spark, sf_dir):
    """Trailing-window anomaly score: each hour's count against the
    mean/stddev of the PRECEDING 24 hours (excluding itself — no
    self-contamination), via the same exact decimal moment sums as
    agg_stats so both engines do identical IEEE math. The global
    time-ordered window runs over the post-aggregation hourly table
    (bounded by the time span, not the event count); on a cluster,
    partition the window by series key — per-metric streams make this
    embarrassingly parallel."""
    from pyspark.sql import Window

    e = events_df(spark, sf_dir)
    hourly = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(count_star().alias("n"))
    )
    w = Window.orderBy("hour_start").rowsBetween(-24, -1)
    nd = F.col("n").cast("double")
    scored = hourly.select(
        "hour_start",
        F.col("n").cast("long").alias("n_events"),
        F.sum(F.col("n").cast(DEC)).over(w).cast("double").alias("win_sum"),
        F.sum((nd * nd).cast(DEC)).over(w).cast("double").alias("win_sumsq"),
        F.count(F.lit(1)).over(w).cast("long").alias("win_n"),
    )
    mean = F.col("win_sum") / F.col("win_n")
    var = F.greatest(
        (F.col("win_sumsq") - F.col("win_sum") * F.col("win_sum") / F.col("win_n"))
        / (F.col("win_n") - 1),
        F.lit(1e-12),
    )
    return scored.filter(F.col("win_n") >= 12).select(
        "hour_start",
        "n_events",
        F.round((F.col("n_events") - mean) / F.sqrt(var), 6).alias("zscore"),
    )


@register(
    "events_stream_session",
    f"""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events
    ),
    m AS (
      SELECT *, CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                          > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           MIN(t) AS session_start,
           MAX(t) AS session_end,
           COUNT(*) AS n_events,
           {dsum_expr("value", "total_value")}
    FROM s
    GROUP BY user_id, sid
    """,
)
def events_stream_session(spark, sf_dir):
    """The STREAMING gap-session operator run to exhaustion — same
    DuckDB oracle as the batch twin (events_session): Spark's stateful
    session_window merging across micro-batches must land on exactly
    the gap-and-break sessions the SQL window formulation defines."""
    import os

    from xngin_spark.streaming import events_stream, run_available_now, stream_session

    sdf = stream_session(
        events_stream(spark, os.path.join(sf_dir, "events.parquet")),
        gap="30 minutes",
        delay="2 hours",
    )
    name = "stream_session_sink"
    return run_available_now(sdf, name, output_mode="complete")


@register(
    "events_rollup_multires",
    f"""
    WITH e AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
             value
      FROM events
    )
    SELECT day, hour,
           CAST(GROUPING(hour) AS BIGINT) AS g_hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {dsum_expr("value", "total_value")}
    FROM e
    GROUP BY ROLLUP (day, hour)
    """,
)
def events_rollup_multires(spark, sf_dir):
    """Hypertable-style multi-resolution rollup: hourly buckets, their
    daily rollups, and the grand total in ONE grouped pass (ROLLUP
    grouping sets) — the continuous-aggregate hierarchy time-series
    stores maintain, computed with a single shuffle instead of one
    aggregation job per resolution. GROUPING() marks the level, so a
    consumer reads any resolution with a filter."""
    e = events_df(spark, sf_dir)
    day = F.date_trunc("day", F.col("ts")).alias("day")
    hour = F.date_trunc("hour", F.col("ts")).alias("hour")
    return (
        e.select(day, hour, "value")
        .rollup("day", "hour")
        .agg(
            F.grouping("hour").cast("long").alias("g_hour"),
            count_star().alias("n_events"),
            dsum(F.col("value"), "total_value"),
        )
        .select("day", "hour", "g_hour", "n_events", "total_value")
    )


@register(
    "events_concurrent_sessions",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events
    ),
    m AS (
      SELECT *, CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                          > INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    ),
    sess AS (
      SELECT user_id, MIN(t) AS session_start, MAX(t) AS session_end
      FROM s GROUP BY user_id, sid
    ),
    hits AS (
      SELECT a.user_id, a.session_start,
             CAST(COUNT(*) AS BIGINT) AS n_concurrent
      FROM sess a JOIN sess b
        ON a.session_start <= b.session_end
       AND b.session_start <= a.session_end
       AND a.user_id <> b.user_id
      GROUP BY a.user_id, a.session_start
    )
    SELECT sess.user_id, sess.session_start, sess.session_end,
           CAST(coalesce(h.n_concurrent, 0) AS BIGINT) AS n_concurrent
    FROM sess LEFT JOIN hits h
      ON sess.user_id = h.user_id AND sess.session_start = h.session_start
    """,
)
def events_concurrent_sessions(spark, sf_dir):
    """Session concurrency: for every gap-session, how many OTHER
    users' sessions overlap it in time — the interval-overlap join
    (operators/temporal.interval_overlap_join: hour-bin equi-join with
    closed-form first-shared-bin dedup, never a cartesian), third
    member of the temporal-join family after as-of and bounded range.
    Per-bin candidates are bounded by true concurrency (the user
    base), not table size."""
    from xngin_spark.operators.temporal import interval_overlap_join

    e = events_df(spark, sf_dir)
    sess = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "session_start", "session_end")
        # sess feeds THREE consumers (both explode sides of the
        # overlap join + the final left join) and exchange reuse does
        # not dedupe the session-window agg across them — materialize
        # the #sessions-sized frame once (measured 20-30% interleaved,
        # hash-identical output)
        .localCheckpoint(eager=True)
    )
    # the checkpoint is part of the RETURNED plan: the query runner's
    # util.release_all drain frees its blocks after full materialization
    overlap = interval_overlap_join(
        sess, sess, start="session_start", end="session_end"
    ).filter(F.col("user_id") != F.col("user_id_r"))
    counts = overlap.groupBy("user_id", "session_start").agg(
        F.count(F.lit(1)).cast("long").alias("n_concurrent")
    )
    return (
        sess.join(counts, ["user_id", "session_start"], "left")
        .select(
            "user_id",
            "session_start",
            "session_end",
            F.coalesce("n_concurrent", F.lit(0)).cast("long").alias("n_concurrent"),
        )
    )


@register(
    "events_pattern_match",
    # Relational form of the original string_agg + regexp oracle: a
    # non-overlapping left-to-right scan for 'vc*p' finds exactly the
    # 'p' rows whose LAST NON-'c' predecessor is a 'v' (proved by
    # exhaustive equivalence to re.findall over every {c,v,p}-string to
    # length 12, tests/test_round11_ops.py, and pinned equal on real
    # data) — windows + hash aggregation SPILL in DuckDB where the
    # ordered string_agg + regexp_extract_all form held every per-user
    # sequence in memory and OOM'd the sf100 oracle at a 55 GB limit.
    """
    WITH r AS (
      SELECT user_id, substr(event_type, 1, 1) AS c,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    k AS (SELECT user_id, c, rn FROM r WHERE rn <= 512),
    w AS (
      SELECT user_id, c,
             last_value(CASE WHEN c <> 'c' THEN c END IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_nonc
      FROM k
    ),
    s AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS seq_len,
             CAST(COUNT(*) FILTER (WHERE c = 'p' AND prev_nonc = 'v')
                  AS BIGINT) AS n_matches
      FROM w GROUP BY user_id
    )
    SELECT user_id, seq_len, n_matches FROM s WHERE n_matches >= 1
    """,
)
def events_pattern_match(spark, sf_dir):
    """Sequence-pattern matching over per-user event chains — the
    MATCH_RECOGNIZE / complex-event-processing shape (Trino/Flink
    ship it as a SQL clause; the reference has no streaming/sequence
    surface at all): count non-overlapping occurrences of
    view → click* → purchase in each user's chronological event-type
    sequence.

    Each user's history collapses to a STRING of one-char event codes
    (ordered by (ts, event_id) — a total order, so the sequence is
    deterministic), and the pattern is a regex evaluated JVM-side —
    sequence matching becomes one groupBy(user) plus a codegen'd
    string function, no per-event self-joins and no Python. The
    sequence is capped at the first 512 events per user (the CEP
    state-bound discipline: unbounded per-key state is how streaming
    pattern matchers die at 100 TB; both engines apply the identical
    row_number cap, so the cap itself is value-checked). Ordered
    collapse uses the listagg_ordered recipe — collect_list is
    arrival-ordered, so sort (rn, code) structs before joining.

    Non-overlapping leftmost regex semantics agree between Java regex
    (Spark) and RE2 (DuckDB) for this pattern family; 'vc*p' has a
    unique match set either way.
    """
    from pyspark.sql import Window

    e = events_df(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.select(
            "user_id",
            F.substring("event_type", 1, 1).alias("c"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 512)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "c"))),
                    lambda x: x["c"],
                ),
                "",
            ).alias("seq")
        )
    )
    return (
        seq.select(
            "user_id",
            F.length("seq").cast("long").alias("seq_len"),
            F.regexp_count("seq", F.lit("vc*p")).cast("long").alias(
                "n_matches"
            ),
        )
        .filter(F.col("n_matches") >= 1)
    )


@register(
    "events_stream_pattern",
    """
    WITH r AS (
      SELECT user_id, substr(event_type, 1, 1) AS c,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    s AS (
      SELECT user_id, string_agg(c, '' ORDER BY rn) AS seq
      FROM r WHERE rn <= 512 GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'vc*p')) AS BIGINT) AS n_matches
    FROM s
    WHERE len(regexp_extract_all(seq, 'vc*p')) >= 1
    """,
)
def events_stream_pattern(spark, sf_dir):
    """STREAMING complex-event-processing twin of events_pattern_match,
    against the IDENTICAL batch-regex oracle: the v→c*→p pattern runs
    as an explicit DFA whose per-user state is 3 integers carried
    across micro-batches (streaming/stateful.stream_pattern_match —
    Flink CEP's pattern→automaton design), so the matcher's state is
    O(users), never O(events), and the 512-event cap is the same bound
    the batch twin applies via row_number. Counters are monotone per
    user, so the final answer is max() over the update-mode sink."""
    import os

    from xngin_spark.streaming import (
        events_stream,
        run_available_now,
        stream_pattern_match,
    )

    sdf = stream_pattern_match(
        events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    name = "stream_pattern_sink"
    rows = run_available_now(sdf, name, output_mode="update")
    return (
        rows.groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("seq_len"),
            F.max("n_matches").cast("long").alias("n_matches"),
        )
        .filter(F.col("n_matches") >= 1)
    )


_ATTRIBUTION_ORACLE = """
    WITH seq AS (
      SELECT event_type, value,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM events
    )
    SELECT COALESCE(touch, 'organic') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
             AS attributed_value
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1
    """


@register("events_attribution", _ATTRIBUTION_ORACLE)
def events_attribution(spark, sf_dir):
    """LAST-TOUCH revenue attribution — the marketing-analytics
    standard: each purchase is credited to the most recent PRECEDING
    click or view by the same user (strictly before — a purchase row
    can't attribute to itself even if re-typed), purchases with no
    prior touch land in the 'organic' bucket. One window over the
    per-user ordered stream (last non-null touch carried forward,
    shuffle on the 8-byte user id — the same partitioning every other
    sessionization query uses), then a 5-row aggregate; revenue is
    decimal-summed (the dsum discipline) so both engines hash-match
    bit-for-bit. Ties in ts break on event_id, total order."""
    from pyspark.sql import Window

    e = events_df(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type").isin("click", "view"), F.col("event_type")
        ),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("organic")).alias("touch_type"))
        .agg(
            count_star().alias("n_conversions"),
            dsum(F.col("value"), "attributed_value"),
        )
    )


@register("events_stream_attribution", _ATTRIBUTION_ORACLE)
def events_stream_attribution(spark, sf_dir):
    """STREAMING twin of events_attribution against the IDENTICAL
    batch-window oracle: last-touch state (one string per user) bridges
    micro-batches via applyInPandasWithState, each purchase row emitted
    exactly once in append mode with its UNTOUCHED input double, and
    the sink aggregate applies the same dsum discipline — so the
    incremental answer hash-matches the batch report bit-for-bit. The
    scaling contrast with the batch twin is the point: the batch window
    sorts every user's full history per run; the stream carries O(users)
    state and touches each event once, which is the shape a 100 TB
    continuous attribution pipeline actually runs.

    ORDERING PRECONDITION: micro-batch arrival order must follow event
    time (here trivially true — the parquet feed arrives as one
    availableNow batch; the multi-batch tests slice their feed by ts).
    The operator CHECKS it: each batch's min ts is asserted against
    the per-user high-watermark carried in state, so a violating
    source raises instead of silently mis-attributing (r9 ADVICE)."""
    import os

    from xngin_spark.streaming import (
        events_stream,
        run_available_now,
        stream_attribution,
    )

    sdf = stream_attribution(
        events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    name = "stream_attribution_sink"
    rows = run_available_now(sdf, name, output_mode="append")
    return rows.groupBy("touch_type").agg(
        count_star().alias("n_conversions"),
        dsum(F.col("value"), "attributed_value"),
    )


@register(
    "events_attribution_ushaped",
    """
    WITH seq AS (
      SELECT event_type, value,
             FIRST_VALUE(CASE WHEN event_type IN ('click', 'view')
                              THEN event_type END IGNORE NULLS)
               OVER w AS ft,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER w AS lt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    p AS (SELECT * FROM seq WHERE event_type = 'purchase'),
    credits AS (
      SELECT COALESCE(ft, 'organic') AS touch_type,
             CASE WHEN ft IS NULL THEN value ELSE value * 0.5 END AS credit
      FROM p
      UNION ALL
      SELECT lt, value * 0.5 FROM p WHERE lt IS NOT NULL
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(CAST(credit AS DECIMAL(25,6))) AS DOUBLE)
             AS attributed_value
    FROM credits GROUP BY 1
    """,
)
def events_attribution_ushaped(spark, sf_dir):
    """U-SHAPED (position-based) attribution — the second standard
    model beside last-touch: each purchase splits its value 50/50
    between the FIRST and the LAST preceding touch (a single touch
    earns both halves; no touch lands in 'organic' whole). Two window
    carries over the same user-id partitioning as the last-touch row,
    then an ARRAY-EXPLODE of per-purchase half-credits (not a
    two-branch union: a union re-evaluates the window — and re-shuffles
    events — once per branch; the explode keeps it ONE window pass,
    plan-pinned at 4 exchanges vs the union's 5) and the dsum
    discipline — value*0.5 is identical IEEE in both engines, the
    decimal sum is order-independent, so the report hash-matches
    bit-for-bit."""
    from pyspark.sql import Window

    e = events_df(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    p = (
        e.withColumn("ft", F.first(touch, ignorenulls=True).over(w))
        .withColumn("lt", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
    )
    half = (F.col("value") * 0.5).alias("credit")
    credits = F.when(
        F.col("ft").isNull(),
        F.array(F.struct(
            F.lit("organic").alias("touch_type"),
            F.col("value").alias("credit"),
        )),
    ).otherwise(F.array(
        F.struct(F.col("ft").alias("touch_type"), half),
        F.struct(F.col("lt").alias("touch_type"), half),
    ))
    return (
        p.select(F.explode(credits).alias("c"))
        .select("c.touch_type", "c.credit")
        .groupBy("touch_type")
        .agg(
            count_star().alias("n_credits"),
            dsum(F.col("credit"), "attributed_value"),
        )
    )


def _ratio_credit_report(p, c_col: str, v_col: str):
    """Shared tail of the ratio-credit models (linear / time-decay):
    per purchase, build the ARRAY of channel credits and explode —
    NOT a three-branch union, which would re-evaluate the window (and
    re-shuffle events) once per branch; this keeps the whole model at
    one window pass + one final aggregate. credit = value *
    (count_double / total_double) — exact integer-valued operand
    doubles, one rounding per op, the identical tree as the oracle
    SQL — then the micro-unit truncated sum."""
    tot_l = F.col(c_col) + F.col(v_col)
    totd = tot_l.cast("double")
    empty = F.array().cast(
        "array<struct<touch_type:string,credit:double>>"
    )

    def entry(t: str, cnt: str):
        return F.when(
            F.col(cnt) > 0,
            F.array(F.struct(
                F.lit(t).alias("touch_type"),
                (F.col("value") * (F.col(cnt).cast("double") / totd))
                .alias("credit"),
            )),
        ).otherwise(empty)

    credits = F.when(
        tot_l == 0,
        F.array(F.struct(
            F.lit("organic").alias("touch_type"),
            F.col("value").alias("credit"),
        )),
    ).otherwise(F.concat(entry("click", c_col), entry("view", v_col)))
    return (
        p.select(F.explode(credits).alias("c"))
        .select("c.touch_type", "c.credit")
        .groupBy("touch_type")
        .agg(
            count_star().alias("n_credits"),
            _credit_musum(),
        )
    )


def _credit_musum():
    """Deterministic credit sum for the ratio-credit models: each
    credit is truncated to integer MICRO-UNITS (floor(x*1e6) — floor is
    exact on doubles, the multiply is one IEEE op), summed as BIGINT,
    and divided back once. Ratio credits are non-exact doubles, so the
    dsum DECIMAL(25,6) cast would hit engine-specific rounding modes
    (Spark HALF_UP vs DuckDB HALF_EVEN — observed 1e-6 drift at
    sf0.01); integer truncation has no rounding mode."""
    return (
        F.sum(F.floor(F.col("credit") * 1000000.0).cast("long"))
        .cast("double") / 1000000.0
    ).alias("attributed_value")


@register(
    "events_attribution_linear",
    """
    WITH seq AS (
      SELECT event_type, value,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               OVER w AS nc,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER w AS nv
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    p AS (
      SELECT COALESCE(nc, 0) AS nc, COALESCE(nv, 0) AS nv, value
      FROM seq WHERE event_type = 'purchase'
    ),
    credits AS (
      SELECT 'click' AS touch_type,
             value * (CAST(nc AS DOUBLE) / CAST(nc + nv AS DOUBLE)) AS credit
      FROM p WHERE nc > 0
      UNION ALL
      SELECT 'view',
             value * (CAST(nv AS DOUBLE) / CAST(nc + nv AS DOUBLE))
      FROM p WHERE nv > 0
      UNION ALL
      SELECT 'organic', value FROM p WHERE nc + nv = 0
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(CAST(floor(credit * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS attributed_value
    FROM credits GROUP BY 1
    """,
)
def events_attribution_linear(spark, sf_dir):
    """LINEAR attribution — the third standard model: each purchase
    splits its value EQUALLY across every preceding touch by the same
    user (none -> 'organic' whole). Because there are exactly two touch
    channels, the per-touch explode collapses to two RUNNING COUNTS
    (clicks / views strictly before, same per-user window as
    last-touch), so the 100 TB shape is still one shuffle on user_id +
    a two-branch union — never a touches x purchases self-join. IEEE
    determinism: credit = value * (count_double / total_double),
    operand doubles exact (integer counts), one rounding per op in a
    fixed tree — both engines produce identical bits, then the dsum
    discipline seals the aggregate."""
    from pyspark.sql import Window

    e = events_df(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p = (
        e.withColumn(
            "nc",
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                ).over(w),
                F.lit(0),
            ),
        )
        .withColumn(
            "nv",
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "view", 1).otherwise(0)
                ).over(w),
                F.lit(0),
            ),
        )
        .filter(F.col("event_type") == "purchase")
    )
    return _ratio_credit_report(p, "nc", "nv")


#: time-decay model constants: credit halves every HALF_LIFE, touches
#: older than LOOKBACK earn nothing. Dyadic by construction — see
#: events_attribution_timedecay.
_TD_HALF_US = 7 * 86400 * 10**6
_TD_BUCKETS = 4  # lookback = 4 half-lives = 28 days


def _td_oracle() -> str:
    frames = "\n".join(
        f"             SUM(CASE WHEN event_type IN ('click','view') AND"
        f" event_type = '{t}' THEN 1 ELSE 0 END) OVER ("
        f"PARTITION BY user_id ORDER BY em RANGE BETWEEN"
        f" {k * _TD_HALF_US - 1} PRECEDING AND 1 PRECEDING) AS {t[0]}{k},"
        for t in ("click", "view")
        for k in range(1, _TD_BUCKETS + 1)
    ).rstrip(",")
    return f"""
    WITH e AS (
      SELECT event_type, value, user_id,
             epoch_us(ts) AS em, ts, event_id
      FROM events
    ),
    seq AS (
      SELECT event_type, value,
{frames}
      FROM e
    ),
    p AS (
      SELECT value,
             4 * COALESCE(c1, 0) + 2 * COALESCE(c2, 0)
               + COALESCE(c3, 0) + COALESCE(c4, 0) AS wc,
             4 * COALESCE(v1, 0) + 2 * COALESCE(v2, 0)
               + COALESCE(v3, 0) + COALESCE(v4, 0) AS wv
      FROM seq WHERE event_type = 'purchase'
    ),
    credits AS (
      SELECT 'click' AS touch_type,
             value * (CAST(wc AS DOUBLE) / CAST(wc + wv AS DOUBLE)) AS credit
      FROM p WHERE wc > 0
      UNION ALL
      SELECT 'view',
             value * (CAST(wv AS DOUBLE) / CAST(wc + wv AS DOUBLE))
      FROM p WHERE wv > 0
      UNION ALL
      SELECT 'organic', value FROM p WHERE wc + wv = 0
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(CAST(floor(credit * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS attributed_value
    FROM credits GROUP BY 1
    """


@register("events_attribution_timedecay", _td_oracle())
def events_attribution_timedecay(spark, sf_dir):
    """TIME-DECAY attribution — the fourth standard model: a touch's
    share of a purchase halves per 7-day half-life and zeroes past the
    28-day lookback (the industry-standard windowed exponential-decay
    model, stepped at half-life boundaries). The step form is chosen
    for BIT-EXACT cross-engine parity: a touch in half-life bucket k
    (k = 0..3) weighs 2^-k, so the per-type weight is the integer
    4*n7 + 2*n14 + n21 + n28 in eighths (nK = touches within the last
    K days) — NO transcendental pow/exp anywhere (the
    cooccurrence_lift discipline: libm drift can't leak into hashes).
    Each nK is one RANGE-frame running count over epoch-micros
    (strictly-before via the 1-microsecond upper bound), so the whole
    model is one shuffle on user_id + eight frame counts sharing one
    sort — at 100 TB it scales exactly like last-touch, never a
    touches x purchases join. credit = value * (w_double/tot_double)
    on exact integer-valued doubles, one rounding per op."""
    from pyspark.sql import Window

    from xngin_spark.operators.temporal import _epoch_micros

    e = events_df(spark, sf_dir)
    e = e.withColumn("em", _epoch_micros(dict(e.dtypes)["ts"], "ts"))
    cols = {}
    for t in ("click", "view"):
        for k in range(1, _TD_BUCKETS + 1):
            w = (
                Window.partitionBy("user_id")
                .orderBy("em")
                .rangeBetween(-(k * _TD_HALF_US - 1), -1)
            )
            cols[f"{t[0]}{k}"] = F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == t, 1).otherwise(0)
                ).over(w),
                F.lit(0),
            )
    p = e.withColumns(cols).filter(F.col("event_type") == "purchase")
    wc = (
        4 * F.col("c1") + 2 * F.col("c2") + F.col("c3") + F.col("c4")
    ).alias("wc")
    wv = (
        4 * F.col("v1") + 2 * F.col("v2") + F.col("v3") + F.col("v4")
    ).alias("wv")
    p = p.select("value", wc, wv)
    return _ratio_credit_report(p, "wc", "wv")


@register(
    "events_stream_pattern_custom",
    """
    WITH r AS (
      SELECT user_id, substr(event_type, 1, 1) AS c,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    s AS (
      SELECT user_id, string_agg(c, '' ORDER BY rn) AS seq
      FROM r WHERE rn <= 512 GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(regexp_extract_all(seq, 'cv*p')) AS BIGINT) AS n_matches
    FROM s
    WHERE len(regexp_extract_all(seq, 'cv*p')) >= 1
    """,
)
def events_stream_pattern_custom(spark, sf_dir):
    """The GENERALIZED CEP compiler as a registered oracle row: the
    click→view*→purchase funnel ('cv*p' — a DIFFERENT pattern than the
    hand-built v→c*→p matcher) compiled regex→NFA→DFA by
    streaming/cep.py and run with the same 3-int per-user state. The
    oracle is DuckDB's greedy regexp over the per-user code strings —
    valid because 'cv*p' is terminal-anchored (every match ends on the
    'p' the repeat class cannot absorb), where earliest-end ≡ leftmost-
    greedy counting (property-pinned for this family in
    tests/test_round10_ops.py). Proves arbitrary-pattern compilation is
    oracle-exact end-to-end, not just property-tested."""
    import os

    from xngin_spark.streaming import (
        events_stream,
        run_available_now,
        stream_pattern_match,
    )

    sdf = stream_pattern_match(
        events_stream(spark, os.path.join(sf_dir, "events.parquet")),
        pattern="cv*p",
    )
    name = "stream_pattern_custom_sink"
    rows = run_available_now(sdf, name, output_mode="update")
    return (
        rows.groupBy("user_id")
        .agg(
            F.max("n_events").cast("long").alias("seq_len"),
            F.max("n_matches").cast("long").alias("n_matches"),
        )
        .filter(F.col("n_matches") >= 1)
    )


@register(
    "events_stream_attribution_linear",
    """
    WITH seq AS (
      SELECT event_type, value,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               OVER w AS nc,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER w AS nv
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    p AS (
      SELECT COALESCE(nc, 0) AS nc, COALESCE(nv, 0) AS nv, value
      FROM seq WHERE event_type = 'purchase'
    ),
    credits AS (
      SELECT 'click' AS touch_type,
             value * (CAST(nc AS DOUBLE) / CAST(nc + nv AS DOUBLE)) AS credit
      FROM p WHERE nc > 0
      UNION ALL
      SELECT 'view',
             value * (CAST(nv AS DOUBLE) / CAST(nc + nv AS DOUBLE))
      FROM p WHERE nv > 0
      UNION ALL
      SELECT 'organic', value FROM p WHERE nc + nv = 0
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(CAST(floor(credit * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS attributed_value
    FROM credits GROUP BY 1
    """,
)
def events_stream_attribution_linear(spark, sf_dir):
    """STREAMING twin of events_attribution_linear against the
    IDENTICAL batch oracle: per-user state is THREE integers (running
    click/view counts + the event-time high-watermark that CHECKS the
    ordering precondition), each purchase's channel credits emitted
    once in append mode with the same IEEE operation tree as the batch
    window expression, and the sink aggregate applies the same
    micro-unit truncation — so the incremental report hash-matches the
    batch model bit-for-bit. Completes the streaming attribution pair
    (last-touch + linear); the batch twin re-sorts each user's full
    history per run, the stream touches each event once."""
    import os

    from xngin_spark.streaming import (
        events_stream,
        run_available_now,
        stream_attribution_linear,
    )

    sdf = stream_attribution_linear(
        events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    name = "stream_attribution_linear_sink"
    rows = run_available_now(sdf, name, output_mode="append")
    return rows.groupBy("touch_type").agg(
        count_star().alias("n_credits"),
        _credit_musum(),
    )


@register(
    "events_stream_attribution_ushaped",
    """
    WITH seq AS (
      SELECT event_type, value,
             FIRST_VALUE(CASE WHEN event_type IN ('click', 'view')
                              THEN event_type END IGNORE NULLS)
               OVER w AS ft,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER w AS lt
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    p AS (SELECT * FROM seq WHERE event_type = 'purchase'),
    credits AS (
      SELECT COALESCE(ft, 'organic') AS touch_type,
             CASE WHEN ft IS NULL THEN value ELSE value * 0.5 END AS credit
      FROM p
      UNION ALL
      SELECT lt, value * 0.5 FROM p WHERE lt IS NOT NULL
    )
    SELECT touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(CAST(credit AS DECIMAL(25,6))) AS DOUBLE)
             AS attributed_value
    FROM credits GROUP BY 1
    """,
)
def events_stream_attribution_ushaped(spark, sf_dir):
    """STREAMING twin of events_attribution_ushaped against the
    IDENTICAL batch oracle: the position-based model needs exactly TWO
    carried touches per user (first + most recent), so the state is two
    short strings + the checked high-watermark; each purchase's two
    half-credits (exact IEEE halving) emit once in append mode and the
    sink reapplies the dsum discipline — hash-matching the batch report
    bit-for-bit. With this and the linear/time-decay twins, EVERY
    registered attribution model has a bounded-state streaming twin."""
    import os

    from xngin_spark.streaming import (
        events_stream,
        run_available_now,
        stream_attribution_ushaped,
    )

    sdf = stream_attribution_ushaped(
        events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    name = "stream_attribution_ushaped_sink"
    rows = run_available_now(sdf, name, output_mode="append")
    return rows.groupBy("touch_type").agg(
        count_star().alias("n_credits"),
        dsum(F.col("credit"), "attributed_value"),
    )


@register("events_stream_attribution_timedecay", _td_oracle())
def events_stream_attribution_timedecay(spark, sf_dir):
    """STREAMING twin of events_attribution_timedecay against the
    IDENTICAL batch oracle: the state carries each user's in-lookback
    touch timestamps (pruned as the checked high-watermark advances —
    sound because Δ is monotone under the ordering precondition, so a
    touch past the 28-day lookback can never earn again), per purchase
    the scaled channel weights are the SAME integers the batch twin's
    RANGE-frame counts produce (stepped dyadic halving, no
    transcendentals), credits follow the same IEEE tree, and the sink
    applies the same micro-unit truncation. State is O(touches per
    lookback window) per user — bounded by data rate, never history."""
    import os

    from xngin_spark.streaming import (
        events_stream,
        run_available_now,
        stream_attribution_timedecay,
    )

    sdf = stream_attribution_timedecay(
        events_stream(spark, os.path.join(sf_dir, "events.parquet"))
    )
    name = "stream_attribution_timedecay_sink"
    rows = run_available_now(sdf, name, output_mode="append")
    return rows.groupBy("touch_type").agg(
        count_star().alias("n_credits"),
        _credit_musum(),
    )
