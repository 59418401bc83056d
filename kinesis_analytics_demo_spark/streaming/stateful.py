"""Custom stateful streaming operators via ``applyInPandasWithState``
— the escape hatch SURVEY.md §2/§7 prescribes for semantics Spark's
built-in windowed aggregations can't express (here: order-dependent
recursive state).

``ema_stateful`` computes a per-key exponential moving average
(ema_i = alpha*v_i + (1-alpha)*ema_{i-1}) across micro-batches: the
carried GroupState is the last EMA value, rows within each batch are
processed in (ts, tiebreak) order, so the stream result equals the
batch fold over the full history (tests assert this equivalence).

The batch twin ``ema_per_key`` (operators side, registered with a
DuckDB oracle) computes the same recursion as an ordered array fold —
``aggregate(collect_sorted_values)`` on Spark, ``list_reduce`` on
DuckDB — both left-to-right in f64, hence bit-identical.

Scale notes: state per key is ONE double + one timestamp (bounded);
the shuffle is the standard groupBy hash exchange; Arrow batches
stream through the pandas function without materializing a key's
whole history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EMA_ALPHA = 0.3

_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ema", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("last_ema", T.DoubleType())])


def _make_ema_fn(alpha: float, ts_col: str, value_col: str, tiebreak_col: str):
    """Closure (shipped by value to executors — no package import on
    workers) that folds each micro-batch's rows into the carried EMA."""

    def ema_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (k,) = key
        last = state.get[0] if state.exists else None
        # Concatenate the key's Arrow chunks BEFORE sorting: a per-chunk
        # sort would fold chunks in arrival order, making the result
        # depend on Arrow batch boundaries when a key spans chunks.
        # Memory is bounded by the key's rows in THIS micro-batch (not
        # its history) — the same bound a windowed aggregate carries.
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            state.update((last,))
            yield pd.DataFrame(columns=["key", "ts", "value", "ema"])
            return
        pdf = pd.concat(chunks).sort_values(
            [ts_col, tiebreak_col], kind="mergesort"
        )
        emas = []
        for v in pdf[value_col]:
            last = v if last is None else alpha * v + (1.0 - alpha) * last
            emas.append(last)
        state.update((last,))
        yield pd.DataFrame(
            {
                "key": k,
                "ts": pdf[ts_col],
                "value": pdf[value_col],
                "ema": emas,
            }
        )

    return ema_fn


def ema_stateful(
    df: DataFrame,
    key_col: str = "ticker",
    ts_col: str = "utc",
    value_col: str = "price",
    tiebreak_col: str | None = None,
    alpha: float = EMA_ALPHA,
    watermark: str | None = None,
) -> DataFrame:
    """Per-key EMA over a streaming (or batch-tested) DataFrame.

    NB: exact streaming/batch equivalence additionally requires event-
    time-ordered arrival across micro-batches (replay order); with
    out-of-order batches the EMA folds in arrival order within the
    watermark — the documented semantics of recursive state.
    """
    tiebreak = tiebreak_col or value_col
    if df.isStreaming:
        from kinesis_analytics_demo_spark.streaming.windows import ensure_event_time

        df = ensure_event_time(df, ts_col)
        if watermark is not None:
            df = df.withWatermark(ts_col, watermark)
    grouped = df.groupBy(key_col)
    return grouped.applyInPandasWithState(
        _make_ema_fn(alpha, ts_col, value_col, tiebreak),
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- CUSUM control chart
CUSUM_TARGET = 50.0  #: in-control process mean
CUSUM_SLACK = 5.0  #: allowance k (half the shift worth detecting)
CUSUM_H = 200.0  #: decision interval (alarm threshold)

_CUSUM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("s_pos", T.DoubleType()),
        T.StructField("s_neg", T.DoubleType()),
        T.StructField("alarm", T.BooleanType()),
    ]
)

_CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("s_pos", T.DoubleType()),
        T.StructField("s_neg", T.DoubleType()),
    ]
)


def _make_cusum_fn(
    target: float, slack: float, h: float, ts_col: str, value_col: str,
    tiebreak_col: str,
):
    """Closure (shipped by value — no package import on workers): the
    recursive two-sided Page CUSUM. Unlike the batch changepoint
    query (which needs the full trace for its argmax), the control-
    chart form carries CONSTANT state per key: two doubles."""

    def cusum_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (k,) = key
        s_pos, s_neg = state.get if state.exists else (0.0, 0.0)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            state.update((s_pos, s_neg))
            yield pd.DataFrame(
                columns=["key", "ts", "value", "s_pos", "s_neg", "alarm"]
            )
            return
        pdf = pd.concat(chunks).sort_values(
            [ts_col, tiebreak_col], kind="mergesort"
        )
        sp_l, sn_l, al_l = [], [], []
        for v in pdf[value_col]:
            v = float(v)
            # fixed IEEE op order, mirrored by the DuckDB oracle:
            # greatest(0, s + ((v - target) - slack))
            s_pos = max(0.0, s_pos + ((v - target) - slack))
            s_neg = max(0.0, s_neg + ((target - v) - slack))
            sp_l.append(s_pos)
            sn_l.append(s_neg)
            al_l.append(bool(s_pos > h or s_neg > h))
        state.update((s_pos, s_neg))
        yield pd.DataFrame(
            {
                "key": k,
                "ts": pdf[ts_col],
                "value": pdf[value_col],
                "s_pos": sp_l,
                "s_neg": sn_l,
                "alarm": al_l,
            }
        )

    return cusum_fn


def cusum_stateful(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    target: float = CUSUM_TARGET,
    slack: float = CUSUM_SLACK,
    h: float = CUSUM_H,
    watermark: str | None = None,
) -> DataFrame:
    """Two-sided Page CUSUM control chart per key (Page 1954): the
    streaming drift alarm whose state never grows —
    s+ = max(0, s+ + (x - target - slack)),
    s- = max(0, s- + (target - x - slack)), alarm when either exceeds
    h. The batch twin ``cusum_changepoint_events`` locates the
    changepoint retrospectively; this form detects it ONLINE with two
    doubles of state per key. Same streaming/batch-equivalence caveat
    as ema_stateful: replay order is event-time order."""
    tiebreak = tiebreak_col or value_col
    if df.isStreaming:
        from kinesis_analytics_demo_spark.streaming.windows import ensure_event_time

        df = ensure_event_time(df, ts_col)
        if watermark is not None:
            df = df.withWatermark(ts_col, watermark)
    return df.groupBy(key_col).applyInPandasWithState(
        _make_cusum_fn(target, slack, h, ts_col, value_col, tiebreak),
        outputStructType=_CUSUM_OUTPUT_SCHEMA,
        stateStructType=_CUSUM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- running candlestick
_OHLC_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("first_value", T.DoubleType()),
        T.StructField("last_value", T.DoubleType()),
        T.StructField("min_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_OHLC_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("first_v", T.DoubleType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("last_v", T.DoubleType()),
        T.StructField("min_v", T.DoubleType()),
        T.StructField("max_v", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _make_ohlc_fn(ts_col: str, value_col: str):
    def ohlc_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (k,) = key
        first_ts = first_v = last_ts = last_v = min_v = max_v = None
        n = 0
        if state.exists:
            first_ts, first_v, last_ts, last_v, min_v, max_v, n = state.get
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            ts, vals = pdf[ts_col], pdf[value_col]
            if first_ts is None or ts.iloc[0] < first_ts:
                first_ts, first_v = ts.iloc[0], float(vals.iloc[0])
            if last_ts is None or ts.iloc[-1] >= last_ts:
                last_ts, last_v = ts.iloc[-1], float(vals.iloc[-1])
            bmin, bmax = float(vals.min()), float(vals.max())
            min_v = bmin if min_v is None else min(min_v, bmin)
            max_v = bmax if max_v is None else max(max_v, bmax)
            n += len(pdf)
        state.update((first_ts, first_v, last_ts, last_v, min_v, max_v, n))
        yield pd.DataFrame(
            {
                "key": [k],
                "first_value": [first_v],
                "last_value": [last_v],
                "min_value": [min_v],
                "max_value": [max_v],
                "n_events": [n],
            }
        )

    return ohlc_fn


def running_candlestick_stateful(
    df: DataFrame,
    key_col: str = "ticker",
    ts_col: str = "utc",
    value_col: str = "price",
) -> DataFrame:
    """Cumulative per-key OHLC (open = value at earliest event time,
    close = at latest, plus min/max/count) across micro-batches — the
    unbounded-window candlestick (reference family,
    flink/tumbling_window.py:179-198) that built-in append-mode
    aggregation cannot emit mid-stream. One fixed-width state row per
    key; emits the updated aggregate for every touched key per batch."""
    return df.groupBy(key_col).applyInPandasWithState(
        _make_ohlc_fn(ts_col, value_col),
        outputStructType=_OHLC_OUTPUT_SCHEMA,
        stateStructType=_OHLC_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------------- running top-k
_TOPK_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("item_id", T.LongType()),
    ]
)

_TOPK_STATE_SCHEMA = T.StructType(
    [
        T.StructField("values", T.ArrayType(T.DoubleType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
    ]
)


def _make_topk_fn(k: int, value_col: str, id_col: str):
    def topk_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (key_val,) = key
        pairs: list[tuple[float, int]] = []
        if state.exists:
            vals, ids = state.get
            pairs = list(zip([float(v) for v in vals], [int(i) for i in ids]))
        for pdf in pdf_iter:
            pairs.extend(
                zip(
                    (float(v) for v in pdf[value_col]),
                    (int(i) for i in pdf[id_col]),
                )
            )
        # deterministic: value desc, id asc; ids are unique so the
        # kept set is a pure function of the data seen so far
        pairs.sort(key=lambda p: (-p[0], p[1]))
        pairs = pairs[:k]
        state.update(([p[0] for p in pairs], [p[1] for p in pairs]))
        yield pd.DataFrame(
            {
                "key": [key_val] * len(pairs),
                "rank": list(range(1, len(pairs) + 1)),
                "value": [p[0] for p in pairs],
                "item_id": [p[1] for p in pairs],
            }
        )

    return topk_fn


def running_topk_stateful(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    k: int = 5,
) -> DataFrame:
    """Per-key running top-k (value desc, id tiebreak) across
    micro-batches — streaming ranking, which Structured Streaming's
    declarative surface cannot express (no window functions on
    unbounded streams): a custom stateful operator in the W4 family
    (applyInPandasWithState) alongside the EMA and running-OHLC.

    State per key is EXACTLY k (value, id) pairs — O(keys x k)
    total, independent of stream length: each batch merges its rows
    into the kept k and re-emits the current ranking. The emitted
    rows per batch ARE the updated leaderboard (consumers upsert by
    (key, rank)).

    Determinism: unique ids make the kept set and order a pure
    function of the rows seen, regardless of batch boundaries —
    pinned against the batch window-function ranking in
    tests/test_streaming.py.
    """
    grouped = df.groupBy(key_col)
    return grouped.applyInPandasWithState(
        _make_topk_fn(k, value_col, id_col),
        outputStructType=_TOPK_OUTPUT_SCHEMA,
        stateStructType=_TOPK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------- timeout-closed sessions
_SESS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_SESS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("n", T.LongType()),
    ]
)


def _make_session_fn(gap_s: int, ts_col: str):
    def session_fn(key, pdf_iter, state: GroupState):
        import datetime

        import pandas as pd

        (key_val,) = key
        out_rows = []
        if state.hasTimedOut:
            # watermark passed last_ts + gap: the open session is
            # provably closed — emit and clear
            start_ts, last_ts, n = state.get
            out_rows.append((key_val, start_ts,
                             last_ts + datetime.timedelta(seconds=gap_s), n))
            state.remove()
        else:
            cur = state.get if state.exists else None
            ts_all = []
            for pdf in pdf_iter:
                ts_all.extend(pdf[ts_col])
            ts_all.sort()
            for ts in ts_all:
                ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                if cur is None:
                    cur = (ts, ts, 1)
                elif (ts - cur[1]).total_seconds() <= gap_s:
                    cur = (cur[0], max(cur[1], ts), cur[2] + 1)
                else:
                    out_rows.append(
                        (key_val, cur[0],
                         cur[1] + datetime.timedelta(seconds=gap_s), cur[2])
                    )
                    cur = (ts, ts, 1)
            if cur is not None:
                state.update(cur)
                # close the open session once the event-time watermark
                # passes last_ts + gap. last_ts is a tz-NAIVE datetime
                # holding wall-clock UTC (session tz is pinned UTC);
                # naive .timestamp() would interpret it in the OS local
                # zone and shift the timeout by the UTC-local delta on
                # any non-UTC host — anchor to UTC explicitly.
                last = cur[1]
                if last.tzinfo is None:
                    last = last.replace(tzinfo=datetime.timezone.utc)
                state.setTimeoutTimestamp(
                    int(last.timestamp() * 1000) + gap_s * 1000
                )
        yield pd.DataFrame(
            out_rows,
            columns=["key", "session_start", "session_end", "n_events"],
        )

    return session_fn


def sessionize_stateful(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "5 minutes",
    watermark: str = "20 seconds",
) -> DataFrame:
    """Gap-based sessionization as a CUSTOM stateful operator with
    EVENT-TIME TIMEOUTS (GroupStateTimeout.EventTimeTimeout) — the
    state-API capability the built-in ``session_window`` hides:
    a session closes and emits exactly when the watermark proves its
    gap can no longer be extended, not merely when the next batch
    happens to contain the key. Within a batch, rows fold in event-
    time order; across batches the open session lives in state
    ``(start, last_ts, n)`` — O(1) per key.

    Emits CLOSED sessions only (session_end = last event + gap, the
    session_window convention). Sessions still open when the stream
    ends stay in state — the same horizon semantics as the outer-join
    replays, pinned in tests/test_streaming.py.
    """
    from kinesis_analytics_demo_spark.config import duration_millis
    from kinesis_analytics_demo_spark.streaming.windows import ensure_event_time

    gap_ms = duration_millis(gap)
    if gap_ms % 1000:
        raise ValueError("gap must be whole seconds")
    if df.isStreaming:
        df = ensure_event_time(df, ts_col)
        df = df.withWatermark(ts_col, watermark)
    grouped = df.groupBy(key_col)
    return grouped.applyInPandasWithState(
        _make_session_fn(gap_ms // 1000, ts_col),
        outputStructType=_SESS_OUTPUT_SCHEMA,
        stateStructType=_SESS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ------------------------------------------------------ streaming KMV
_KMV_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("sketch_size", T.LongType()),
        T.StructField("kth_min_hash", T.LongType()),
        T.StructField("approx_distinct", T.DoubleType()),
    ]
)

_KMV_STATE_SCHEMA = T.StructType(
    [T.StructField("hashes", T.ArrayType(T.LongType()))]
)


def _make_kmv_fn(k: int, hash_space: int, hash_col: str):
    def kmv_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (key_val,) = key
        hs = set()
        if state.exists:
            (stored,) = state.get
            hs = set(int(h) for h in stored)
        for pdf in pdf_iter:
            hs.update(int(h) for h in pdf[hash_col])
        bottom = sorted(hs)[:k]
        state.update((bottom,))
        size = len(bottom)
        hk = bottom[-1] if bottom else None
        est = (
            float(size)
            if size < k
            else round((k - 1) * float(hash_space) / hk, 4)
        )
        yield pd.DataFrame(
            {
                "key": [key_val],
                "sketch_size": [size],
                "kth_min_hash": [hk],
                "approx_distinct": [est],
            }
        )

    return kmv_fn


def running_kmv_stateful(
    df: DataFrame,
    key_col: str,
    hash_col: str,
    k: int = 256,
    hash_space: int = 1 << 60,
) -> DataFrame:
    """Per-key KMV (bottom-k) distinct-count sketch across
    micro-batches — the streaming twin of
    ``operators/sketches.py::approx_distinct_kmv`` as a custom
    stateful operator: state per key is at most ``k`` longs, each
    batch merges its hashes and re-emits the sketch summary.

    The bottom-k set is a pure function of the VALUES seen (set
    union is order-free), so the final emission equals the batch KMV
    of the same data exactly — oracle-checkable despite arbitrary
    micro-batch boundaries. Sketch evolution is monotone
    (sketch_size nondecreasing, kth_min_hash nonincreasing once
    full), which is what lets a consumer pick the final row out of an
    append-mode emission log deterministically.
    """
    grouped = df.groupBy(key_col)
    return grouped.applyInPandasWithState(
        _make_kmv_fn(k, hash_space, hash_col),
        outputStructType=_KMV_OUTPUT_SCHEMA,
        stateStructType=_KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------ last-touch attribution
_ATTR_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conversion_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("touch_event_id", T.LongType()),
        T.StructField("touch_type", T.StringType()),
        T.StructField("seconds_to_convert", T.LongType()),
    ]
)

_ATTR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("touch_ts", T.TimestampType()),
        T.StructField("touch_id", T.LongType()),
        T.StructField("touch_type", T.StringType()),
    ]
)


def _make_attr_fn(window_s: int, ts_col: str, id_col: str, type_col: str,
                  touch_types: tuple, conv_type: str):
    def attr_fn(key, pdf_iter, state: GroupState):
        import datetime

        import pandas as pd

        epoch = datetime.datetime(1970, 1, 1)
        one_s = datetime.timedelta(seconds=1)

        def floor_s(ts):
            return (ts - epoch) // one_s

        (key_val,) = key
        cur = state.get if state.exists else None
        evs = []
        for pdf in pdf_iter:
            for ts, eid, etype in zip(
                pdf[ts_col], pdf[id_col], pdf[type_col]
            ):
                ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                evs.append((ts, int(eid), etype))
        evs.sort(key=lambda e: (e[0], e[1]))
        rows = []
        for ts, eid, etype in evs:
            if etype in touch_types:
                cur = (ts, eid, etype)
            elif etype == conv_type and cur is not None:
                # per-timestamp second-floor BEFORE subtracting — the
                # exact arithmetic of both the batch query's
                # cast-to-long and DuckDB's date_diff('second', ...)
                delta = floor_s(ts) - floor_s(cur[0])
                if delta <= window_s:
                    rows.append((eid, key_val, cur[1], cur[2], delta))
        if cur is not None:
            state.update(cur)
        yield pd.DataFrame(
            rows,
            columns=[
                "conversion_id", "user_id", "touch_event_id",
                "touch_type", "seconds_to_convert",
            ],
        )

    return attr_fn


def attribution_stateful(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    touch_types: tuple = ("view", "click"),
    conv_type: str = "purchase",
    window_s: int = 7 * 24 * 3600,
) -> DataFrame:
    """Streaming last-touch attribution as a custom stateful operator
    (the streaming twin of ``operators/analytics.py::
    attribution_last_touch``): state per user is ONE row — the most
    recent touch (ts, event_id, type) — and each conversion emits its
    attribution immediately in the micro-batch where it arrives, so
    output latency is one trigger, not a watermark horizon.

    Rows fold in event-time order within a batch; across batches the
    open touch lives in O(1) state per user. Attribution is a pure
    function of the per-user event sequence, so replaying the events
    table through this operator equals the batch window query exactly
    regardless of micro-batch boundaries (provided batches respect
    event-time order per user, which file replay of a time-ordered
    log gives)."""
    if df.isStreaming:
        from kinesis_analytics_demo_spark.streaming.windows import (
            ensure_event_time,
        )

        df = ensure_event_time(df, ts_col)
    grouped = df.groupBy(key_col)
    return grouped.applyInPandasWithState(
        _make_attr_fn(
            window_s, ts_col, id_col, type_col, touch_types, conv_type
        ),
        outputStructType=_ATTR_OUTPUT_SCHEMA,
        stateStructType=_ATTR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------- Misra-Gries summary (streaming)
_MG_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("e", T.LongType()),
        T.StructField("upd", T.LongType()),
    ]
)

_MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("entries", T.ArrayType(T.LongType())),
        T.StructField("upd", T.LongType()),
    ]
)


def _make_mg_fn(k: int, shift: int, ts_col: str, id_col: str, item_col: str):
    """Closure (pickled by value): per-bucket Misra-Gries fold over
    the (ts, id)-ordered items of each micro-batch, state carried
    across batches as the bit-packed entry list. Mirrors the batch
    fold in operators/sketches2.py exactly (same packing, same
    update order), so a single-batch replay equals the batch query
    and multi-batch replays equal the same fold split at batch
    boundaries."""

    def mg_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (bucket,) = key
        mask = (1 << shift) - 1
        if state.exists:
            entries, upd = state.get
            entries = list(entries)
        else:
            entries, upd = [], 0
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(
                [ts_col, id_col], kind="mergesort"
            )
            for x in pdf[item_col]:
                x = int(x)
                for i, e in enumerate(entries):
                    if (e >> shift) == x:
                        entries[i] = e + 1
                        break
                else:
                    if len(entries) < k:
                        entries.append((x << shift) | 1)
                    else:
                        entries = [e - 1 for e in entries]
                        entries = [e for e in entries if (e & mask) > 0]
        upd += 1
        state.update((entries, upd))
        yield pd.DataFrame(
            {
                "bucket": [bucket] * len(entries),
                "e": entries,
                "upd": [upd] * len(entries),
            }
        )

    return mg_fn


def spacesaving_stateful(
    df: DataFrame,
    k: int,
    shift: int,
    bucket_col: str = "bucket",
    ts_col: str = "ts",
    id_col: str = "event_id",
    item_col: str = "user_id",
) -> DataFrame:
    """Per-bucket Misra-Gries heavy-hitter summary as a stateful
    streaming operator: constant state (<= k bit-packed BIGINTs per
    bucket) carried across micro-batches; each batch emits the
    bucket's full current summary stamped with a monotone ``upd``
    counter, so the reader takes each bucket's max-``upd`` rows as
    the final sketch. The batch twin heavy_hitters_spacesaving
    (operators/sketches2.py) computes the identical fold as a JVM
    array aggregate with the same DuckDB oracle."""
    if df.isStreaming:
        from kinesis_analytics_demo_spark.streaming.windows import (
            ensure_event_time,
        )

        df = ensure_event_time(df, ts_col)
    return df.groupBy(bucket_col).applyInPandasWithState(
        _make_mg_fn(k, shift, ts_col, id_col, item_col),
        outputStructType=_MG_OUTPUT_SCHEMA,
        stateStructType=_MG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------- Page-Hinkley drift
PH_DELTA = 0.5  #: magnitude tolerance
PH_LAMBDA = 50.0  #: drift alarm threshold

_PH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("m_stat", T.DoubleType()),
        T.StructField("m_min", T.DoubleType()),
        T.StructField("alarm", T.BooleanType()),
    ]
)

_PH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("mean", T.DoubleType()),
        T.StructField("m", T.DoubleType()),
        T.StructField("mmin", T.DoubleType()),
    ]
)


def _make_ph_fn(
    delta: float, lam: float, ts_col: str, value_col: str, tiebreak_col: str
):
    """Closure (shipped by value): the Page-Hinkley mean-increase
    detector. State per key = (n, running mean, cumulative deviation
    m, running min of m) — four scalars, constant size."""

    def ph_fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (k,) = key
        n, mean, m, mmin = (
            state.get if state.exists else (0, 0.0, 0.0, 0.0)
        )
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            state.update((n, mean, m, mmin))
            yield pd.DataFrame(
                columns=["key", "ts", "value", "m_stat", "m_min", "alarm"]
            )
            return
        pdf = pd.concat(chunks).sort_values(
            [ts_col, tiebreak_col], kind="mergesort"
        )
        m_l, mm_l, al_l = [], [], []
        for v in pdf[value_col]:
            v = float(v)
            # fixed IEEE op order, mirrored by the DuckDB oracle:
            n = n + 1
            mean = mean + ((v - mean) / n)
            m = m + ((v - mean) - delta)
            mmin = min(mmin, m)
            m_l.append(m)
            mm_l.append(mmin)
            al_l.append(bool((m - mmin) > lam))
        state.update((n, mean, m, mmin))
        yield pd.DataFrame(
            {
                "key": k,
                "ts": pdf[ts_col],
                "value": pdf[value_col],
                "m_stat": m_l,
                "m_min": mm_l,
                "alarm": al_l,
            }
        )

    return ph_fn


def pagehinkley_stateful(
    df: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    delta: float = PH_DELTA,
    lam: float = PH_LAMBDA,
    watermark: str | None = None,
) -> DataFrame:
    """Page-Hinkley drift detector per key (Page 1954; the streaming
    concept-drift form of Gama et al., "A survey on concept drift
    adaptation", 2014): m accumulates deviations of x from its own
    RUNNING mean minus a tolerance delta, and an alarm fires when m
    rises more than lambda above its running minimum — an upward
    mean-shift detector whose state never grows (four scalars per
    key). Complements cusum_stateful, which tracks deviation from a
    FIXED target; Page-Hinkley self-calibrates to the stream. Same
    streaming/batch-equivalence caveat as ema_stateful: replay order
    is event-time order."""
    tiebreak = tiebreak_col or value_col
    if df.isStreaming:
        from kinesis_analytics_demo_spark.streaming.windows import ensure_event_time

        df = ensure_event_time(df, ts_col)
        if watermark is not None:
            df = df.withWatermark(ts_col, watermark)
    return df.groupBy(key_col).applyInPandasWithState(
        _make_ph_fn(delta, lam, ts_col, value_col, tiebreak),
        outputStructType=_PH_OUTPUT_SCHEMA,
        stateStructType=_PH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
