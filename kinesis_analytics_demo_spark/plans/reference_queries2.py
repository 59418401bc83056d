"""Streaming-replay battery, part 2 — split out of
``reference_queries.py`` in round 11 (the file sat at 1,445 lines
against the repo's 1,300-line module cap; same surgery as
similarity.py -> similarity2.py in round 9 and dedup.py ->
dedup_embedding.py earlier this round).

Contents (verbatim from the original tail): the left/cumulate/
full-outer/quantile/session-timeout join-and-window replays, the
KMV/CMS/HLL-rolling/space-saving sketch replays, the attribution and
dedup replays, and the batch ``cumulate_window_revenue`` twin that
anchors the cumulate replay's oracle. This module imports
``_replay_events_stream`` back from ``reference_queries``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_analytics_demo_spark.functions import hashing as _H
from kinesis_analytics_demo_spark.operators.analytics import ATTRIBUTION_ORACLE
from kinesis_analytics_demo_spark.plans.reference_queries import (
    _replay_events_stream,
)
from kinesis_analytics_demo_spark.plans.registry import register
from kinesis_analytics_demo_spark.session import read_table as tbl



@register(
    "streaming_left_join_replay",
    oracle="""
    WITH m AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'error'),
            (SELECT max(ts) FROM events WHERE event_type = 'click')
        ) AS wm_base
        FROM (VALUES (1))
    ),
    j AS (
        SELECT e.event_id AS incident_id,
               e.user_id,
               e.ts,
               c.event_id AS click_id,
               c.value AS click_value
        FROM events e LEFT JOIN events c
          ON c.user_id = e.user_id
         AND c.event_type = 'click'
         AND c.ts <= e.ts
         AND c.ts >= e.ts - INTERVAL 300 SECOND
        WHERE e.event_type = 'error'
    )
    SELECT incident_id, user_id, click_id, click_value
    FROM j, m
    WHERE click_id IS NOT NULL OR ts < wm_base - INTERVAL 20 SECOND
    """,
    doc="STREAM-STREAM LEFT OUTER interval join, value-checked on the "
    "streaming execution path: errors left-joined to clicks in the "
    "preceding 5 minutes; errors with NO qualifying click emit a "
    "null-padded row only once the watermark PROVES no match can "
    "arrive. The oracle encodes that semantic exactly: matched rows "
    "equal the batch left join everywhere, while unmatched rows "
    "appear only for errors older than the GLOBAL watermark — "
    "min(max event-time of the error stream, max of the click "
    "stream) - 20s under the default min multipleWatermarkPolicy "
    "(empirically pinned: the single held-back row at sf0.01 is the "
    "globally-latest error, which the watermark can never pass). "
    "Unmatched errors inside that horizon are, correctly per "
    "Structured Streaming semantics, still buffered when the replay "
    "ends. State stays bounded at watermark+lookback per key.",
)
def streaming_left_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.joins import interval_join

    def build(stream, name):
        errors = stream.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("incident_id"), "user_id", "ts"
        )
        clicks = stream.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
            F.col("ts").alias("c_ts"),
        )
        joined = interval_join(
            errors,
            clicks,
            on="user_id",
            left_ts="ts",
            right_ts="c_ts",
            lookback="300 seconds",
            watermark="20 seconds",
            how="left_outer",
        )
        return joined.select(
            "incident_id",
            "user_id",
            F.col("r_click_id").alias("click_id"),
            F.col("r_click_value").alias("click_value"),
        )

    return _replay_events_stream(
        spark, sf_dir, "ljoin", build, output_mode="append"
    )


_CUMULATE_ORACLE = """
WITH e AS (
    SELECT event_type,
           CAST(value AS DECIMAL(18,6)) AS v,
           CAST(floor(epoch(ts)/86400) AS BIGINT)*86400 AS bs,
           CAST(floor(epoch(ts)/21600) AS BIGINT)*21600 AS ss
    FROM events),
x AS (
    SELECT event_type, v, bs,
           unnest(generate_series(CAST((ss - bs)/21600 AS BIGINT) + 1, 4)) AS k
    FROM e)
SELECT event_type,
       TIMESTAMP '1970-01-01' + to_seconds(bs) AS window_start,
       TIMESTAMP '1970-01-01' + to_seconds(bs + k*21600) AS window_end,
       CAST(ROUND(SUM(v), 2) AS DOUBLE) AS sum_value
FROM x
GROUP BY 1, 2, 3
"""


@register(
    "cumulate_window_revenue",
    oracle=_CUMULATE_ORACLE,
    doc="CUMULATE windows — Flink's third windowing TVF (the "
    "reference's engine family: TUMBLE and HOP are covered by the "
    "two reference jobs, CUMULATE completes the set). Per "
    "event_type, daily base period, 6-hour step: expanding-prefix "
    "sums [day, day+6h), [day, day+12h), ..., [day, day+24h). "
    "Spark-first two-level decomposition (streaming/windows.py::"
    "cumulate_window_agg): per-step tumbling partials, then the "
    "prefix fan-out runs on O(keys x steps) aggregate rows — no raw-"
    "row amplification, both levels codegen'd HashAggregates. Sum in "
    "DECIMAL through both levels (associative, exact), rounded once.",
)
def cumulate_window_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.windows import cumulate_window_agg

    events = tbl(spark, sf_dir, "events").select(
        "event_type", "ts", F.col("value").cast("decimal(18,6)").alias("v")
    )
    out = cumulate_window_agg(
        events,
        ts_col="ts",
        key_col="event_type",
        value_col="v",
        max_size="1 day",
        step="6 hours",
        agg="sum",
    )
    return out.select(
        "event_type",
        "window_start",
        "window_end",
        F.round(F.col("p"), 2).cast("double").alias("sum_value"),
    )


@register(
    "streaming_cumulate_replay",
    oracle=_CUMULATE_ORACLE,
    doc="The cumulate-window aggregate as a TRUE STRUCTURED-STREAMING "
    "job: events replayed as a file micro-batch stream, complete "
    "mode into a memory sink. The streaming path explodes each raw "
    "row into its <= max_size/step prefix windows and aggregates "
    "once (chained stateful aggs only support window-on-window_time; "
    "docstring of cumulate_window_agg) — complete mode emits the "
    "full aggregate at stream end, equal to the batch/oracle result.",
)
def streaming_cumulate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.windows import cumulate_window_agg

    def build(stream, name):
        out = cumulate_window_agg(
            stream.select(
                "event_type",
                "ts",
                F.col("value").cast("decimal(18,6)").alias("v"),
            ),
            ts_col="ts",
            key_col="event_type",
            value_col="v",
            max_size="1 day",
            step="6 hours",
            agg="sum",
        )
        return out.select(
            "event_type",
            "window_start",
            "window_end",
            F.round(F.col("p"), 2).cast("double").alias("sum_value"),
        )

    return _replay_events_stream(spark, sf_dir, "cumulate", build)


@register(
    "streaming_full_outer_join_replay",
    oracle="""
    WITH m AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'error'),
            (SELECT max(ts) FROM events WHERE event_type = 'click')
        ) AS wm_base
        FROM (VALUES (1))
    ),
    matched AS (
        SELECT e.event_id AS incident_id,
               e.user_id,
               c.event_id AS click_id,
               c.value AS click_value
        FROM events e JOIN events c
          ON c.user_id = e.user_id
         AND c.event_type = 'click'
         AND c.ts <= e.ts
         AND c.ts >= e.ts - INTERVAL 300 SECOND
        WHERE e.event_type = 'error'
    ),
    unmatched_err AS (
        SELECT e.event_id AS incident_id,
               e.user_id,
               CAST(NULL AS BIGINT) AS click_id,
               CAST(NULL AS DOUBLE) AS click_value
        FROM events e, m
        WHERE e.event_type = 'error'
          AND e.ts < m.wm_base - INTERVAL 20 SECOND
          AND NOT EXISTS (
              SELECT 1 FROM events c
              WHERE c.event_type = 'click'
                AND c.user_id = e.user_id
                AND c.ts <= e.ts
                AND c.ts >= e.ts - INTERVAL 300 SECOND)
    ),
    unmatched_click AS (
        SELECT CAST(NULL AS BIGINT) AS incident_id,
               c.user_id,
               c.event_id AS click_id,
               c.value AS click_value
        FROM events c, m
        WHERE c.event_type = 'click'
          AND c.ts + INTERVAL 300 SECOND < m.wm_base - INTERVAL 20 SECOND
          AND NOT EXISTS (
              SELECT 1 FROM events e
              WHERE e.event_type = 'error'
                AND e.user_id = c.user_id
                AND c.ts <= e.ts
                AND c.ts >= e.ts - INTERVAL 300 SECOND)
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM unmatched_err
    UNION ALL SELECT * FROM unmatched_click
    """,
    doc="STREAM-STREAM FULL OUTER interval join — completes the "
    "streaming join-kind matrix (inner enrich, LEFT outer, FULL "
    "outer): errors x clicks-in-the-preceding-5-minutes; BOTH "
    "unmatched sides emit null-padded rows once the global watermark "
    "proves no partner can arrive — an unmatched error needs the "
    "watermark past its own timestamp, an unmatched click past its "
    "timestamp PLUS the lookback (it could still match a future "
    "error until then). The oracle encodes both horizons against "
    "min(max error ts, max click ts) - 20s. State bounded at "
    "watermark+lookback per side.",
)
def streaming_full_outer_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.joins import interval_join

    def build(stream, name):
        errors = stream.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("incident_id"), "user_id", "ts"
        )
        clicks = stream.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
            F.col("ts").alias("c_ts"),
            F.col("user_id").alias("cu"),
        )
        joined = interval_join(
            errors,
            clicks,
            on="user_id",
            left_ts="ts",
            right_ts="c_ts",
            lookback="300 seconds",
            watermark="20 seconds",
            how="full_outer",
        )
        return joined.select(
            "incident_id",
            F.coalesce(F.col("user_id"), F.col("r_cu")).alias("user_id"),
            F.col("r_click_id").alias("click_id"),
            F.col("r_click_value").alias("click_value"),
        )

    return _replay_events_stream(
        spark, sf_dir, "fjoin", build, output_mode="append"
    )


def _qh_oracle():
    from kinesis_analytics_demo_spark.operators.sketches import _QH_ORACLE

    return _QH_ORACLE


@register(
    "streaming_quantile_replay",
    oracle=_qh_oracle(),
    doc="The histogram quantile sketch on the STREAMING path — the "
    "stream-the-sketch pattern end-to-end: bin bounds calibrated "
    "once from history (two scalars; a second aggregation over the "
    "stream itself is not expressible), per-(key, bin) counts "
    "maintained as the single streaming aggregate (mergeable by "
    "integer addition, complete mode), and the p50/p90/p99 "
    "finalization runs downstream on the keys x 256 sketch table. "
    "Result equals the batch sketch and its oracle exactly because "
    "the sketch is a pure count table — no float state crosses the "
    "stream.",
)
def streaming_quantile_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.operators.sketches import (
        histogram_bin_counts,
        quantiles_from_histogram,
    )
    from kinesis_analytics_demo_spark.session import read_table

    # calibration: bounds from history (here: the same table batch-side)
    b = read_table(spark, sf_dir, "events").agg(
        F.min("value"), F.max("value")
    ).collect()[0]
    mn, mx = float(b[0]), float(b[1])

    def build(stream, name):
        return histogram_bin_counts(
            stream.select("event_type", "value"), mn=mn, mx=mx
        )

    sink = _replay_events_stream(spark, sf_dir, "qsketch", build)
    return quantiles_from_histogram(sink)


@register(
    "streaming_session_timeout_replay",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL 5 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events),
    s AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS sid
        FROM o),
    sess AS (
        SELECT user_id, sid, min(ts) AS st, max(ts) AS lt,
               count(*) AS n
        FROM s GROUP BY 1, 2),
    m AS (SELECT max(ts) AS mx FROM events),
    marked AS (
        SELECT sess.*,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY st DESC) = 1 AS is_last
        FROM sess)
    SELECT CAST(user_id AS BIGINT) AS key,
           st AS session_start,
           lt + INTERVAL 5 MINUTE AS session_end,
           CAST(n AS BIGINT) AS n_events
    FROM marked, m
    WHERE NOT is_last
       OR (lt + INTERVAL 5 MINUTE <= m.mx - INTERVAL 20 SECOND)
    """,
    doc="The timeout-closed stateful sessionizer as a value-checked "
    "STREAMING oracle row (the tenth): a session emits either when a "
    "later event data-closes it (every non-final session of a user) "
    "or when the event-time watermark passes its last_ts + gap "
    "(GroupStateTimeout.EventTimeTimeout). The oracle encodes both "
    "emission causes against the replay-end watermark max(ts) - 20s "
    "— empirically pinned exact at sf0.01 (9,918 sessions).",
)
def streaming_session_timeout_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.stateful import (
        sessionize_stateful,
    )

    def build(stream, name):
        return sessionize_stateful(
            stream, key_col="user_id", ts_col="ts", gap="5 minutes",
            watermark="20 seconds",
        )

    return _replay_events_stream(
        spark, sf_dir, "sessto", build, output_mode="append"
    )


@register(
    "streaming_kmv_replay",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               {_H.sql_md5_long('user_id::VARCHAR')} AS h
        FROM events
    ),
    ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h)
                   AS rn
        FROM h
    )
    SELECT event_type AS key,
           CAST(count(*) AS BIGINT) AS sketch_size,
           max(h) AS kth_min_hash,
           CASE WHEN count(*) < 256
                THEN CAST(count(*) AS DOUBLE)
                ELSE CAST(ROUND(255 * {1 << 60}.0 / max(h), 4) AS DOUBLE)
           END AS approx_distinct
    FROM ranked
    WHERE rn <= 256
    GROUP BY event_type
    """,
    doc="The KMV distinct sketch on the STREAMING path as a custom "
    "stateful operator (bottom-256 longs per key, set-union merge "
    "per batch). The bottom-k set is a pure function of the values "
    "seen, so the FINAL emission — recovered from the append log by "
    "the sketch's monotonicity (max sketch_size, then min "
    "kth_min_hash per key) — equals the batch KMV oracle exactly, "
    "regardless of micro-batch boundaries. Distinct users per "
    "event type.",
)
def streaming_kmv_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.functions import hashing as H
    from kinesis_analytics_demo_spark.streaming.stateful import (
        running_kmv_stateful,
    )

    def build(stream, name):
        hashed = stream.select(
            "event_type",
            H.md5_long(F.col("user_id").cast("string")).alias("uh"),
        )
        return running_kmv_stateful(
            hashed, key_col="event_type", hash_col="uh"
        )

    sink = _replay_events_stream(
        spark, sf_dir, "kmv", build, output_mode="append"
    )
    # final sketch per key out of the append log (monotone evolution)
    from pyspark.sql import Window as W

    w = W.partitionBy("key").orderBy(
        F.desc("sketch_size"), F.asc("kth_min_hash")
    )
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _cms_oracle():
    from kinesis_analytics_demo_spark.plans.registry import get_query

    return get_query("heavy_hitters_cms").oracle


@register(
    "streaming_cms_replay",
    oracle=_cms_oracle(),
    doc="The count-min heavy-hitters sketch on the STREAMING path: "
    "the (depth, bucket) counts ARE a single mergeable aggregate, so "
    "the sketch streams in complete mode exactly like the quantile "
    "histogram (bounded 4x64-integer state regardless of stream "
    "length); the exact-top-20 audit and min-over-rows estimates "
    "finalize downstream from the sink. Equals the batch CMS oracle "
    "exactly — counts are pure functions of the tokens seen.",
)
def streaming_cms_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.functions import hashing as H
    from kinesis_analytics_demo_spark.operators.analytics import (
        CMS_DEPTH,
        CMS_TOP_K,
        _bucket,
    )
    from kinesis_analytics_demo_spark.session import read_table

    def build(stream, name):
        th = stream.select(
            F.explode(H.words(F.col("text"))).alias("token")
        ).select((H.md5_long(F.col("token")) % H.MERSENNE_P).alias("h"))
        rows = th.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            _bucket(d, F.col("h")).alias("bucket"),
                        )
                        for d in range(CMS_DEPTH)
                    ]
                )
            ).alias("s")
        ).select("s.d", "s.bucket")
        return rows.groupBy("d", "bucket").agg(
            F.count(F.lit(1)).alias("cnt")
        )

    cms = _replay_events_stream(
        spark, sf_dir, "cms", build, table="documents"
    )
    # downstream finalization: exact top-k audit against the streamed
    # sketch (batch side, same as the quantile finalization stage)
    docs = read_table(spark, sf_dir, "documents")
    th = docs.select(
        F.explode(H.words(F.col("text"))).alias("token")
    ).select("token", (H.md5_long(F.col("token")) % H.MERSENNE_P).alias("h"))
    exact = (
        th.groupBy("token", "h")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.col("token"))
        .limit(CMS_TOP_K)
    )
    probes = exact.select(
        "token",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _bucket(d, F.col("h")).alias("bucket"),
                    )
                    for d in range(CMS_DEPTH)
                ]
            )
        ).alias("s"),
    ).select("token", "exact_count", "s.d", "s.bucket")
    est = (
        probes.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "token",
        "exact_count",
        "cms_estimate",
        (F.col("cms_estimate") >= F.col("exact_count")).alias(
            "never_underestimates"
        ),
    )


@register(
    "streaming_attribution_replay",
    # the streaming stateful operator must equal the batch window query
    # bit-for-bit, so it shares that query's oracle
    oracle=ATTRIBUTION_ORACLE,
    doc="Last-touch attribution on the STREAMING path (the sixteenth "
    "value-checked streaming oracle row): the events table replayed "
    "as a file micro-batch stream through the custom stateful "
    "operator streaming/stateful.py::attribution_stateful — state "
    "per user is ONE row (the latest view/click), each purchase "
    "emits its attribution in the batch it arrives, no watermark "
    "horizon. Equals the batch window query (shared oracle) exactly.",
)
def streaming_attribution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.stateful import (
        attribution_stateful,
    )

    def build(stream, name):
        return attribution_stateful(stream)

    return _replay_events_stream(
        spark, sf_dir, "attr", build, output_mode="append"
    )


@register(
    "streaming_dedup_replay",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="Streaming EXACTLY-ONCE dedup: the events table is fed to the "
    "stream TWICE (two staged copies, one file per micro-batch, so "
    "the duplicates arrive in a LATER batch than the originals) and "
    "dropDuplicates on event_id must collapse them across the batch "
    "boundary through the dedup state store. The per-type counts and "
    "DECIMAL-exact value sums then equal the single-copy batch "
    "aggregate exactly — double-counting would double them. The "
    "30-day watermark keeps every key's dedup state live for the "
    "whole replay (nothing is dropped as late); in production the "
    "delay bounds state size instead. This is the at-least-once -> "
    "exactly-once repair stage every streaming ingestion pipeline "
    "needs in front of an idempotent sink.",
)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    from kinesis_analytics_demo_spark.sinks.factory import write_stream
    from kinesis_analytics_demo_spark.sources.factory import (
        create_stream_source,
    )
    from kinesis_analytics_demo_spark.streaming.windows import (
        ensure_event_time,
    )

    name = f"dedup_{uuid.uuid4().hex[:8]}"
    tmp = tempfile.mkdtemp(prefix="kads_dedup_")
    try:
        stage = os.path.join(tmp, "events_stream")
        os.makedirs(stage)
        src = os.path.join(sf_dir, "events.parquet")
        # two copies of the SAME file: batch 1 delivers the original,
        # batch 2 the duplicate (maxFilesPerTrigger=1) — the dedup
        # state must carry across the micro-batch boundary
        os.symlink(src, os.path.join(stage, "events_a.parquet"))
        os.symlink(src, os.path.join(stage, "events_b.parquet"))
        stream = create_stream_source(
            spark, "file-parquet", path=stage, max_files_per_trigger=1
        )
        deduped = (
            ensure_event_time(stream, "ts")
            .withWatermark("ts", "30 days")
            .dropDuplicates(["event_id"])
        )
        result = deduped.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        q = write_stream(
            result,
            "memory",
            query_name=name,
            checkpoint=os.path.join(tmp, "ck"),
            output_mode="complete",
            trigger_available_now=True,
        )
        q.awaitTermination(600)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.table(name)


def _hll_roll_oracle() -> str:
    from kinesis_analytics_demo_spark.operators.sketches2 import (
        HLL_ROLL_ORACLE,
    )

    return HLL_ROLL_ORACLE


@register(
    "streaming_hll_rolling_replay",
    oracle=_hll_roll_oracle(),
    doc="The rolling-WAU HLL pipeline with its DAILY SKETCH stage run "
    "as a true streaming job: the events replay builds the per-day "
    "256-register table as a tumbling-window streaming aggregate "
    "(groupBy(window(ts, '1 day'), reg).max(rho) — constant state "
    "per day, no pane explosion), complete mode into a memory sink; "
    "the trailing-window register merge + estimate then runs on the "
    "sink table via the SAME hll_rolling_from_daily finalizer as the "
    "batch query. Register max is order- and batch-boundary-free, so "
    "the result equals hll_rolling_distinct_users exactly — this IS "
    "the production shape at 100 TB: stream daily sketches "
    "continuously, answer any trailing window from days x 256 rows.",
)
def streaming_hll_rolling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.operators.sketches2 import (
        hll_rolling_from_daily,
        hll_user_register_cols,
    )
    from kinesis_analytics_demo_spark.streaming.windows import (
        ensure_event_time,
    )

    def build(stream, name):
        s = ensure_event_time(stream, "ts")
        reg, rho = hll_user_register_cols()
        r = s.select(F.window("ts", "1 day").alias("win"), reg, rho)
        return r.groupBy("win", "reg").agg(F.max("rho").alias("mj"))

    sink = _replay_events_stream(
        spark, sf_dir, "hllroll", build, output_mode="complete"
    )
    daily = sink.select(
        F.to_date(F.col("win.start")).alias("day"), "reg", "mj"
    )
    ev = tbl(spark, sf_dir, "events")
    return hll_rolling_from_daily(daily, ev)


def _mg_oracle() -> str:
    from kinesis_analytics_demo_spark.operators.sketches2 import MG_ORACLE

    return MG_ORACLE


@register(
    "streaming_spacesaving_replay",
    oracle=_mg_oracle(),
    doc="The Misra-Gries heavy-hitter summary run as a TRUE stateful "
    "streaming job (applyInPandasWithState): the events replay feeds "
    "each user-hash bucket's (ts, event_id)-ordered items through a "
    "constant-size bit-packed summary carried in GroupState across "
    "micro-batches; every batch emits the bucket's current summary "
    "under a monotone upd counter and the reader takes each bucket's "
    "final (max-upd) rows. The finalizer (decode + exact-count join "
    "+ rank) and the DuckDB oracle are SHARED VERBATIM with the "
    "batch twin heavy_hitters_spacesaving — one sketch definition, "
    "batch + streaming readouts (the rolling-HLL pattern). At 100 TB "
    "this is the production shape: per-partition summaries stream "
    "continuously, the top-k is answered from 32 bounded sketches.",
)
def streaming_spacesaving_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from kinesis_analytics_demo_spark.operators.sketches2 import (
        MG_BUCKETS,
        MG_K,
        MG_SHIFT,
        mg_finalize,
    )
    from kinesis_analytics_demo_spark.streaming.stateful import (
        spacesaving_stateful,
    )

    def build(stream, name):
        b = stream.select(
            (F.col("user_id") % MG_BUCKETS).alias("bucket"),
            "ts",
            "event_id",
            "user_id",
        )
        return spacesaving_stateful(b, k=MG_K, shift=MG_SHIFT)

    sink = _replay_events_stream(
        spark, sf_dir, "mgreplay", build, output_mode="append"
    )
    latest = (
        sink.withColumn(
            "last_upd",
            F.max("upd").over(Window.partitionBy("bucket")),
        )
        .filter(F.col("upd") == F.col("last_upd"))
        .select("e")
    )
    ev = tbl(spark, sf_dir, "events")
    return mg_finalize(latest, ev)
