"""Batch-mode equivalents of the reference's query surface, expressed
on the driver's ``events`` table (schema: event_id BIGINT, ts
TIMESTAMP, user_id BIGINT, event_type VARCHAR, value DOUBLE, props
JSON-VARCHAR).

Mapping to the reference (events.ts = utc, events.event_type = ticker,
events.value = price):

- ``candlestick_tumbling``   — flink/tumbling_window.py:179-198
  (TUMBLE + FIRST/LAST/MIN/MAX + TUMBLE_START/END).
- ``sliding_window_min``     — flink/sliding_window.py:154-183
  (Slide.over.every + min + window-end rename).
- ``projection_rename``      — flink/sliding_window.py:176-181
  (Table-API select with aliases).
- ``select_star``            — flink/tumbling_window.py:286-291
  (INSERT INTO ... SELECT *).
- ``json_ingest_projection`` — the JSON source format + implicit
  column pruning (flink/tumbling_window.py:129-130; producer emits 8
  fields, table declares 3 — datagen/stock.py:24-33).

The same operators run in true streaming mode via
``kinesis_analytics_demo_spark.streaming`` — tested for
streaming/batch equivalence in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_analytics_demo_spark.functions import hashing as _H
from kinesis_analytics_demo_spark.plans.registry import register
from kinesis_analytics_demo_spark.session import read_table as tbl
from kinesis_analytics_demo_spark.streaming.windows import (
    sliding_window_agg,
    sliding_window_agg_twolevel,
    tumbling_candlestick,
)


_CANDLE_ORACLE_FAST = """
SELECT
    event_type,
    date_trunc('minute', ts) AS window_start,
    date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
    arg_min(value, ts) AS first_value,
    arg_max(value, ts) AS last_value,
    min(value) AS min_value,
    max(value) AS max_value
FROM events
GROUP BY 1, 2, 3
"""

_CANDLE_ORACLE_TIES = """
SELECT
    event_type,
    date_trunc('minute', ts) AS window_start,
    date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
    (min({'ts': ts, 'id': event_id, 'v': value})).v AS first_value,
    (max({'ts': ts, 'id': event_id, 'v': value})).v AS last_value,
    min(value) AS min_value,
    max(value) AS max_value
FROM events
GROUP BY 1, 2, 3
"""


@register(
    "candlestick_tumbling",
    oracle=_CANDLE_ORACLE_FAST,
    doc="Tumbling-window candlestick (reference flink/tumbling_window.py:179-198): "
    "per event_type, 1-minute tumble, open/close/low/high of value. "
    "min_by/max_by fast path (HashAggregate) — (key, ts) is unique in "
    "this data at every SF, so picks are well-defined.",
)
def candlestick_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = tbl(spark, sf_dir, "events")
    return tumbling_candlestick(
        events,
        ts_col="ts",
        key_col="event_type",
        value_col="value",
        window_duration="1 minute",
    )


@register(
    "candlestick_tumbling_tiebroken",
    oracle=_CANDLE_ORACLE_TIES,
    doc="Candlestick with explicit (ts, event_id) lexicographic tie-"
    "break: deterministic even under duplicate timestamps (struct-"
    "ordered min/max — SortAggregate tradeoff documented in "
    "streaming/windows.py).",
)
def candlestick_tumbling_tiebroken(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = tbl(spark, sf_dir, "events")
    return tumbling_candlestick(
        events,
        ts_col="ts",
        key_col="event_type",
        value_col="value",
        window_duration="1 minute",
        tiebreak_cols=["event_id"],
    )


_SLIDING_ORACLE = """
SELECT event_type, min(value) AS p, window_start + INTERVAL 2 MINUTE AS t
FROM (
    SELECT date_trunc('minute', ts) AS window_start, event_type, value FROM events
    UNION ALL
    SELECT date_trunc('minute', ts) - INTERVAL 1 MINUTE AS window_start, event_type, value
    FROM events
)
GROUP BY event_type, window_start
"""


@register(
    "sliding_window_min",
    oracle=_SLIDING_ORACLE,
    doc="Sliding(hopping)-window min (reference flink/sliding_window.py:154-183): "
    "per event_type, 2min-over/1min-every (README.md:122-123 run values), "
    "projected as (key, p, t=window.end).",
)
def sliding_window_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = tbl(spark, sf_dir, "events")
    return sliding_window_agg(
        events,
        ts_col="ts",
        key_col="event_type",
        value_col="value",
        over="2 minutes",
        every="1 minute",
        agg="min",
    )


@register(
    "sliding_window_min_fluent",
    oracle=_SLIDING_ORACLE,
    doc="The SAME sliding-min query built through the fluent Table-API "
    "front-end (reference flink/sliding_window.py:167-180: "
    "Slide.over().every().on().alias() + string expression DSL) — "
    "must produce results identical to the DataFrame/SQL forms, "
    "proving the two front-ends share one plan (SURVEY.md §3.3).",
)
def sliding_window_min_fluent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.plans.fluent import Slide, TableEnv

    env = TableEnv(spark)
    env.create_temporary_view("events_fluent", tbl(spark, sf_dir, "events"))
    return (
        env.from_path("events_fluent")
        .window(Slide.over("2.minutes").every("1.minutes").on("ts").alias("w"))
        .group_by("event_type, w")
        .select("event_type, value.min as p, w.end as t")
    )


def _replay_events_stream(
    spark: SparkSession, sf_dir: str, prefix: str, build_job,
    output_mode: str = "complete",
    table: str = "events",
) -> DataFrame:
    """Replay the events table as a file micro-batch stream through
    ``build_job(stream, name)``, complete mode into a memory sink;
    returns the sink table. The staging dir (checkpoint + symlink) is
    removed once the query terminates — the returned DataFrame reads
    the in-memory sink, not the files (ADVICE r2 item 5: the mkdtemp
    dirs used to leak on every registered-query iteration)."""
    import os
    import shutil
    import tempfile
    import uuid

    from kinesis_analytics_demo_spark.sinks.factory import write_stream
    from kinesis_analytics_demo_spark.sources.factory import create_stream_source

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    tmp = tempfile.mkdtemp(prefix=f"kads_{prefix}_")
    try:
        stage = os.path.join(tmp, f"{table}_stream")
        os.makedirs(stage)
        # file streams take a directory; stage the single-file table
        os.symlink(
            os.path.join(sf_dir, f"{table}.parquet"),
            os.path.join(stage, f"{table}.parquet"),
        )
        stream = create_stream_source(
            spark, "file-parquet", path=stage, max_files_per_trigger=1000
        )
        result = build_job(stream, name)
        q = write_stream(
            result,
            "memory",
            query_name=name,
            checkpoint=os.path.join(tmp, "ck"),
            output_mode=output_mode,
            trigger_available_now=True,
        )
        q.awaitTermination(600)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.table(name)


@register(
    "streaming_candlestick_replay",
    oracle=_CANDLE_ORACLE_FAST,
    doc="The tumbling candlestick run as a TRUE STRUCTURED-STREAMING "
    "job: the events table replayed as a file micro-batch stream "
    "through the SQL front-end, complete-output mode into a memory "
    "sink. Complete mode emits the full aggregate at stream end, so "
    "the result equals the batch candlestick exactly — giving the "
    "streaming execution path a value-checked CORRECTNESS row, not "
    "just pytest equivalence (VERDICT round-1 item 6).",
)
def streaming_candlestick_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.jobs import tumbling_window_job

    return _replay_events_stream(
        spark,
        sf_dir,
        "replay",
        lambda stream, name: tumbling_window_job(
            spark,
            stream,
            ts_col="ts",
            key_col="event_type",
            value_col="value",
            view_name=f"view_{name}",
        ),
    )


@register(
    "streaming_sliding_replay",
    oracle=_SLIDING_ORACLE,
    doc="The sliding(2m/1m)-min job as a true streaming replay "
    "(complete mode -> memory sink == the batch result exactly): the "
    "reference's SECOND job (flink/sliding_window.py) value-checked "
    "on the streaming execution path.",
)
def streaming_sliding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.jobs import sliding_window_job

    return _replay_events_stream(
        spark,
        sf_dir,
        "sreplay",
        lambda stream, name: sliding_window_job(
            spark,
            stream,
            ts_col="ts",
            key_col="event_type",
            value_col="value",
            over="2 minutes",
            every="1 minute",
        ),
    )


@register(
    "sliding_window_min_twolevel",
    oracle=_SLIDING_ORACLE,
    doc="The SAME sliding-min via two-level hop decomposition "
    "(aggregate per 1-minute hop, then merge hop aggregates per "
    "window) — no over/every pane explosion on raw rows, both "
    "aggregations codegen'd. Must equal sliding_window_min exactly; "
    "the scale fix for the reference's 8h/1m configuration (480 "
    "panes/event otherwise).",
)
def sliding_window_min_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = tbl(spark, sf_dir, "events")
    return sliding_window_agg_twolevel(
        events,
        ts_col="ts",
        key_col="event_type",
        value_col="value",
        over="2 minutes",
        every="1 minute",
        agg="min",
    )


@register(
    "projection_rename",
    oracle="SELECT event_type AS ticker, value AS p, ts AS t FROM events",
    doc="Projection + rename via expression DSL (reference "
    "flink/sliding_window.py:176-181).",
)
def projection_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = tbl(spark, sf_dir, "events")
    return events.select(
        F.col("event_type").alias("ticker"),
        F.col("value").alias("p"),
        F.col("ts").alias("t"),
    )


@register(
    "select_star",
    oracle="SELECT * FROM events",
    doc="Full-width SELECT * passthrough (reference "
    "flink/tumbling_window.py:286-291).",
)
def select_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "events").select("*")


@register(
    "json_ingest_projection",
    oracle="""
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
    doc="JSON deserialization with schema-driven column pruning "
    "(reference flink/tumbling_window.py:129-130 'format'='json'; the "
    "producer emits more fields than the table declares, "
    "datagen/stock.py:24-33 — undeclared fields are dropped).",
)
def json_ingest_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = tbl(spark, sf_dir, "events")
    # Narrow schema: any JSON keys beyond 'k' would be silently pruned,
    # matching the reference's implicit source-side projection.
    schema = T.StructType([T.StructField("k", T.LongType())])
    return events.select(
        "event_id", F.from_json(F.col("props"), schema).getField("k").alias("k")
    )


@register(
    "streaming_interval_join_replay",
    oracle="""
    SELECT e.event_id AS incident_id,
           e.user_id,
           c.event_id AS click_id,
           c.value AS click_value
    FROM events e JOIN events c
      ON c.user_id = e.user_id
     AND e.event_type = 'error' AND c.event_type = 'click'
     AND c.ts <= e.ts
     AND c.ts >= e.ts - INTERVAL 300 SECOND
    """,
    doc="STREAM-STREAM interval join, value-checked on the streaming "
    "execution path: the events table replayed as a stream, split "
    "into an error stream and a click stream, inner-joined on "
    "user_id with clicks in the 5 minutes PRECEDING each error "
    "(enrichment-by-recent-context). Both sides watermarked; the "
    "two-sided time bound keeps join state at watermark+lookback per "
    "key — finite on an unbounded feed (streaming/joins.py). "
    "Append-mode inner join emits exactly the matched pairs, so the "
    "replayed result equals the batch inequality join bit-for-bit.",
)
def streaming_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
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
        )
        return joined.select(
            "incident_id",
            "user_id",
            F.col("r_click_id").alias("click_id"),
            F.col("r_click_value").alias("click_value"),
        )

    return _replay_events_stream(
        spark, sf_dir, "ijoin", build, output_mode="append"
    )


@register(
    "streaming_sessionize_replay",
    oracle="""
    WITH o AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 5 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM events
    ),
    s AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM o
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 5 MINUTE AS session_end,
           count(*) AS n_events
    FROM s
    GROUP BY user_id, session_id
    """,
    doc="SESSION WINDOWS on the true streaming path, value-checked: "
    "the events table replayed as a micro-batch stream through "
    "session_window(ts, 5 min) per user (merging session state — the "
    "stateful operator Flink calls session windows), complete mode "
    "into a memory sink. Stream-end result equals the batch "
    "gaps-and-islands rewrite exactly — the streaming execution of "
    "the sessionize_events operator (operators/relational2.py:156).",
)
def streaming_sessionize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.operators.relational2 import SESSION_GAP

    def build(stream, name):
        return (
            stream.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
            )
        )

    return _replay_events_stream(spark, sf_dir, "sess", build)


@register(
    "streaming_ema_replay",
    oracle="""
    WITH RECURSIVE r AS (
        SELECT event_type, ts, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    f(event_type, rn, ema) AS (
        SELECT event_type, rn, value FROM r WHERE rn = 1
        UNION ALL
        SELECT r.event_type, r.rn, 0.3 * r.value + 0.7 * f.ema
        FROM f JOIN r ON r.event_type = f.event_type AND r.rn = f.rn + 1
    )
    SELECT r.event_type AS key, r.ts, r.value, f.ema
    FROM f JOIN r ON r.event_type = f.event_type AND r.rn = f.rn
    """,
    doc="CUSTOM STATEFUL OPERATOR (applyInPandasWithState) value-"
    "checked on the true streaming path: per-key recursive EMA "
    "(ema_i = 0.3*v_i + 0.7*ema_{i-1}) over the replayed events "
    "stream, carried GroupState = one double per key. The FULL "
    "per-row trace is compared against a DuckDB recursive-CTE fold "
    "in (ts, event_id) order — bit-exact f64 parity, not just the "
    "final state. The one operator family (W4) Spark's built-in "
    "windowed aggregations cannot express (SURVEY.md §2/§7).",
)
def streaming_ema_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.stateful import ema_stateful

    def build(stream, name):
        return ema_stateful(
            stream,
            key_col="event_type",
            ts_col="ts",
            value_col="value",
            tiebreak_col="event_id",
        )

    return _replay_events_stream(spark, sf_dir, "ema", build, output_mode="append")


@register(
    "streaming_cusum_replay",
    oracle="""
    WITH RECURSIVE r AS (
        SELECT event_type, ts, event_id, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    f(event_type, rn, s_pos, s_neg) AS (
        SELECT event_type, rn,
               greatest(0.0, 0.0 + ((value - 50.0) - 5.0)),
               greatest(0.0, 0.0 + ((50.0 - value) - 5.0))
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.event_type, r.rn,
               greatest(0.0, f.s_pos + ((r.value - 50.0) - 5.0)),
               greatest(0.0, f.s_neg + ((50.0 - r.value) - 5.0))
        FROM f JOIN r ON r.event_type = f.event_type AND r.rn = f.rn + 1
    )
    SELECT r.event_type AS key, r.ts, r.value, f.s_pos, f.s_neg,
           (f.s_pos > 200.0 OR f.s_neg > 200.0) AS alarm
    FROM f JOIN r ON r.event_type = f.event_type AND r.rn = f.rn
    """,
    doc="CUSTOM STATEFUL OPERATOR value-checked on the true streaming "
    "path — the ONLINE twin of cusum_changepoint_events: a two-sided "
    "Page CUSUM control chart (s+ = max(0, s+ + (x - target - "
    "slack)), alarm past the decision interval h) with CONSTANT "
    "per-key state (two doubles) via applyInPandasWithState. The "
    "full per-row (s+, s-, alarm) trace is compared against a DuckDB "
    "recursive-CTE fold in (ts, event_id) order — bit-exact f64 "
    "parity through the identical IEEE op sequence, the "
    "streaming_ema_replay discipline. The seventeenth value-checked "
    "streaming oracle row.",
)
def streaming_cusum_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.stateful import cusum_stateful

    def build(stream, name):
        return cusum_stateful(
            stream,
            key_col="event_type",
            ts_col="ts",
            value_col="value",
            tiebreak_col="event_id",
        )

    return _replay_events_stream(spark, sf_dir, "cusum", build, output_mode="append")


@register(
    "streaming_pagehinkley_replay",
    oracle="""
    WITH RECURSIVE r AS (
        SELECT event_type, ts, event_id, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    f(event_type, rn, mean, m, mmin) AS (
        SELECT event_type, rn,
               0.0 + ((value - 0.0) / rn),
               0.0 + ((value - (0.0 + ((value - 0.0) / rn))) - 0.5),
               least(0.0,
                     0.0 + ((value - (0.0 + ((value - 0.0) / rn))) - 0.5))
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.event_type, r.rn,
               f.mean + ((r.value - f.mean) / r.rn),
               f.m + ((r.value - (f.mean + ((r.value - f.mean) / r.rn)))
                      - 0.5),
               least(f.mmin,
                     f.m + ((r.value
                             - (f.mean + ((r.value - f.mean) / r.rn)))
                            - 0.5))
        FROM f JOIN r ON r.event_type = f.event_type AND r.rn = f.rn + 1
    )
    SELECT r.event_type AS key, r.ts, r.value,
           f.m AS m_stat, f.mmin AS m_min,
           ((f.m - f.mmin) > 50.0) AS alarm
    FROM f JOIN r ON r.event_type = f.event_type AND r.rn = f.rn
    """,
    doc="CUSTOM STATEFUL OPERATOR value-checked on the true streaming "
    "path: Page-Hinkley drift detection per key via "
    "applyInPandasWithState — m accumulates deviations of the value "
    "from its own RUNNING mean (minus tolerance delta = 0.5) and "
    "alarms when m exceeds its running minimum by lambda = 50; "
    "constant per-key state (n, mean, m, min m). Complements "
    "streaming_cusum_replay, which deviates from a FIXED target — "
    "Page-Hinkley self-calibrates, the concept-drift form used by "
    "streaming training-data monitors (Gama et al. 2014). The full "
    "per-row (m, min, alarm) trace is compared against a DuckDB "
    "recursive-CTE fold replaying the identical IEEE op sequence "
    "(including the running-mean division) in (ts, event_id) order.",
)
def streaming_pagehinkley_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.stateful import (
        pagehinkley_stateful,
    )

    def build(stream, name):
        return pagehinkley_stateful(
            stream,
            key_col="event_type",
            ts_col="ts",
            value_col="value",
            tiebreak_col="event_id",
        )

    return _replay_events_stream(
        spark, sf_dir, "ph", build, output_mode="append"
    )


from kinesis_analytics_demo_spark.operators.pipeline import (
    _sql_pipeline_ctes as _prep_ctes,
)


@register(
    "streaming_corpus_prep_replay",
    oracle=f"""
    WITH {_prep_ctes()}
    SELECT DISTINCT sig AS minhash_sig FROM sigs
    """,
    doc="The LLM corpus-prep pipeline on the TRUE STREAMING path, "
    "value-checked: documents replayed as a micro-batch stream "
    "through quality filter -> language filter -> row-local minhash "
    "signature -> watermarked first-arrival dedup "
    "(dropDuplicatesWithinWatermark). The surviving SIGNATURE SET is "
    "deterministic regardless of which in-batch duplicate wins, and "
    "equals the batch pipeline's pre-dedup signature universe "
    "(operators/pipeline.py sigs CTE) exactly — exact dedup upstream "
    "cannot change distinct-signature membership since identical "
    "texts share a signature.",
)
def streaming_corpus_prep_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.streaming.dedup import streaming_corpus_prep

    def build(stream, name):
        # documents carry no event time; synthesize a deterministic one
        # from doc_id (1s apart, offset into 2001) — replay order ==
        # event-time order, so first-arrival dedup is reproducible.
        # The offset matters: doc_id 0 at epoch 0 would equal the
        # stream's INITIAL watermark and be dropped as late.
        stream = stream.withColumn(
            "ts",
            F.timestamp_seconds(F.col("doc_id").cast("long") + F.lit(1_000_000_000)),
        )
        out = streaming_corpus_prep(stream, text_col="text", ts_col="ts")
        return out.select("minhash_sig")

    return _replay_events_stream(
        spark, sf_dir, "cprep", build, output_mode="append", table="documents"
    )


@register(
    "streaming_enrich_join_replay",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS w_start,
           c.c_mktsegment AS segment,
           count(*) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY date_trunc('hour', e.ts), c.c_mktsegment
    """,
    doc="Stream-static enrichment join as a TRUE streaming replay: "
    "the events stream broadcast-joins the static customer dimension "
    "(the per-micro-batch dim-lookup every production stream job "
    "does), then a 1h tumbling rollup per market segment; complete "
    "mode == the batch join exactly. Completes the value-checked "
    "streaming join story next to the stream-STREAM interval join. "
    "At scale: the static side broadcasts once per micro-batch "
    "(re-resolved on dim refresh), the stream side never shuffles "
    "before the windowed aggregate, and state is bounded by "
    "(windows x segments).",
)
def streaming_enrich_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kinesis_analytics_demo_spark.session import read_table

    def build(stream, name):
        dim = F.broadcast(
            read_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            )
        )
        joined = stream.join(dim, stream["user_id"] == dim["c_custkey"])
        return (
            joined.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("w_start"),
                F.col("c_mktsegment").alias("segment"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
                .cast("double")
                .alias("sum_value"),
            )
        )

    return _replay_events_stream(spark, sf_dir, "enrich", build)


# The streaming-replay battery tail (left/cumulate/full-outer/quantile/
# session-timeout replays, sketch replays, attribution/dedup replays,
# cumulate_window_revenue) lives in reference_queries2.py (round-11
# split).
