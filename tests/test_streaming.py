"""Streaming-path tests: streaming/batch equivalence for both
reference jobs, late-data (watermark) semantics, JSON ingest
tolerance, and the kinesis sink's batching — SURVEY.md §5 strategy 2/3.
"""

from __future__ import annotations

import json
import sys
import uuid
from datetime import datetime

import pytest

sys.path.insert(0, "/root/repo")

from datagen.stock import generate_to_dir, get_data
from kinesis_analytics_demo_spark.sinks.factory import KinesisBatchWriter, write_stream
from kinesis_analytics_demo_spark.sources.factory import (
    create_stream_source,
    parse_stock_json,
)
from kinesis_analytics_demo_spark.streaming.jobs import (
    sliding_window_job,
    tumbling_window_job,
)

BASE = datetime(2024, 6, 1, 12, 0, 0)


def _run_available_now(result_df, name, tmp_path, output_mode="append"):
    q = write_stream(
        result_df,
        "memory",
        query_name=name,
        checkpoint=str(tmp_path / f"ckpt-{name}-{uuid.uuid4().hex[:8]}"),
        trigger_available_now=True,
        output_mode=output_mode,
    )
    q.awaitTermination(120)
    assert not q.isActive


def test_tumbling_streaming_equals_batch(spark, tmp_path):
    """Replay datagen files as micro-batches; the streaming candlestick
    (append mode, 20s watermark) must equal the batch candlestick on
    the same rows, for every window the watermark closed."""
    src_dir = tmp_path / "ticks"
    # 5 files x 60 records x 2s step = 10 minutes of event time.
    generate_to_dir(
        str(src_dir), n_files=5, records_per_file=60, seed=7, base_time=BASE, step_s=2.0
    )
    stream = create_stream_source(spark, "file-json", path=str(src_dir))
    result = tumbling_window_job(spark, stream, view_name="ticks_stream")
    _run_available_now(result, "tumbling_stream", tmp_path)
    got = {
        tuple(r)
        for r in spark.table("tumbling_stream").collect()
    }

    batch_raw = spark.read.text(str(src_dir))
    batch = parse_stock_json(batch_raw, "value")
    expected_all = tumbling_window_job(spark, batch, view_name="ticks_batch")
    # append mode only emits windows closed by the final watermark
    # (max event time - 20s); the trailing window(s) stay in state.
    final_wm = max(r[0] for r in batch.select("utc").collect())
    expected = {
        tuple(r)
        for r in expected_all.collect()
        if (final_wm - r[2]).total_seconds() >= 20  # window_end <= wm-20s
    }
    assert got == expected
    assert len(got) >= 8 * 4 * 0.5  # sanity: several windows x tickers


def test_sliding_streaming_equals_batch(spark, tmp_path):
    src_dir = tmp_path / "sticks"
    generate_to_dir(
        str(src_dir), n_files=4, records_per_file=60, seed=11, base_time=BASE, step_s=2.0
    )
    stream = create_stream_source(spark, "file-json", path=str(src_dir))
    result = sliding_window_job(spark, stream, over="2 minutes", every="1 minute")
    _run_available_now(result, "sliding_stream", tmp_path)
    got = {tuple(r) for r in spark.table("sliding_stream").collect()}

    batch = parse_stock_json(spark.read.text(str(src_dir)), "value")
    expected_all = sliding_window_job(spark, batch, over="2 minutes", every="1 minute")
    final_wm = max(r[0] for r in batch.select("utc").collect())
    expected = {
        tuple(r)
        for r in expected_all.collect()
        if (final_wm - r[2]).total_seconds() >= 5  # t (=window end) <= wm-5s
    }
    assert got == expected
    assert len(got) > 0


def test_late_rows_dropped(spark, tmp_path):
    """A row later than the watermark must be dropped (reference
    WATERMARK ... - INTERVAL '20' SECOND, flink/tumbling_window.py:119)."""
    src_dir = tmp_path / "late"
    src_dir.mkdir()

    def write_file(name, records):
        p = src_dir / name
        tmp = str(p) + ".tmp"
        with open(tmp, "w") as fh:
            for r in records:
                fh.write(json.dumps(r) + "\n")
        import os

        os.rename(tmp, str(p))

    def tick(ts, price):
        return {"utc": ts.isoformat(), "ticker": "AAPL", "price": price}

    from datetime import timedelta

    t0 = BASE
    # file 1: window [t0, t0+1m) with prices 10, 20; then event time
    # advances to t0+5m -> watermark t0+5m-20s passes that window's end.
    write_file(
        "f1.json",
        [tick(t0, 10.0), tick(t0 + timedelta(seconds=30), 20.0),
         tick(t0 + timedelta(minutes=5), 99.0)],
    )
    # file 2: innocent row — its micro-batch runs with the advanced
    # watermark, EMITTING and EVICTING window [t0, t0+1m). (Spark
    # finalizes a window at the end of the batch *after* the watermark
    # passes it; a late row arriving in that same batch could still
    # merge — Spark only guarantees drops for rows later than the
    # delay, eviction timing is best-effort. The reference's Flink
    # semantics are the same one-way guarantee.)
    write_file("f2.json", [tick(t0 + timedelta(minutes=5, seconds=30), 60.0)])
    # file 3: LATE row for the now-evicted window — must be dropped.
    write_file("f3.json", [tick(t0 + timedelta(seconds=45), 1000.0)])
    # file 4: flush — advance watermark far so everything else emits.
    write_file("f4.json", [tick(t0 + timedelta(hours=2), 50.0)])

    stream = create_stream_source(spark, "file-json", path=str(src_dir))
    result = tumbling_window_job(spark, stream, view_name="late_stream")
    _run_available_now(result, "late_test", tmp_path)
    rows = {r["window_start"]: r for r in spark.table("late_test").collect()}
    w0 = rows[t0]
    assert w0["first_price"] == 10.0
    assert w0["last_price"] == 20.0
    assert w0["max_price"] == 20.0  # 1000.0 arrived late: dropped


def test_json_extra_fields_pruned_and_both_timestamp_standards(spark):
    """The producer emits 8 fields, the table declares 3 — extra fields
    are silently pruned (SURVEY.md §2 P4); both 'SQL' and 'ISO-8601'
    timestamp standards parse (§2 S2)."""
    rec = get_data(__import__("random").Random(3), now=BASE)
    assert len(rec) == 8
    rows = [
        (json.dumps(rec),),  # ISO-8601 'T' form
        (json.dumps({**rec, "utc": "2024-06-01 12:00:05.123456"}),),  # SQL form
        ('{"not": "a tick"}',),  # malformed/foreign: null columns, no failure
    ]
    df = parse_stock_json(spark.createDataFrame(rows, ["value"]), "value")
    out = df.collect()
    assert df.columns == ["ticker", "price", "utc"]
    assert out[0]["utc"] == BASE
    assert out[1]["utc"] == datetime(2024, 6, 1, 12, 0, 5, 123456)
    assert out[2]["ticker"] is None and out[2]["price"] is None


def test_rate_source_shapes(spark, tmp_path):
    """The rate source emulates the producer loop fully inside Spark."""
    stream = create_stream_source(spark, "rate", rows_per_second=500)
    assert stream.isStreaming
    assert stream.columns == ["ticker", "price", "utc"]
    q = write_stream(
        stream,
        "memory",
        query_name="rate_probe",
        checkpoint=str(tmp_path / "ckpt-rate"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("rate_probe").collect()
    if rows:  # rate source may emit 0 rows in a very short run
        tickers = {r["ticker"] for r in rows}
        assert tickers <= {"AAPL", "AMZN", "MSFT", "TSLA"}
        assert all(0 <= r["price"] < 100 for r in rows)


def test_kinesis_sink_batching(spark, tmp_path):
    """foreachBatch kinesis writer: 100-record batching (reference
    sink.producer.collection-max-count, flink/tumbling_window.py:128)
    and ticker partition keys (:121). The writer runs executor-side
    (separate python processes in local mode), so the fake client
    records its calls through the shared filesystem; the fake class is
    defined locally so cloudpickle ships it by value."""
    capture = tmp_path / "puts.jsonl"

    class FakeKinesisClient:
        def __init__(self, path):
            self.path = path

        def put_records(self, StreamName, Records):
            with open(self.path, "a") as fh:
                fh.write(json.dumps({"stream": StreamName, "records": Records}) + "\n")

    cap_path = str(capture)
    df = spark.range(250).selectExpr(
        "concat('T', cast(id % 4 as string)) AS ticker", "cast(id as double) AS price"
    ).coalesce(1)
    writer = KinesisBatchWriter(
        "out-stream",
        collection_max_count=100,
        client_factory=lambda: FakeKinesisClient(cap_path),
    )
    writer(df, batch_id=0)
    calls = [json.loads(line) for line in capture.read_text().splitlines()]
    assert sorted(len(c["records"]) for c in calls) == [50, 100, 100]
    rec = calls[0]["records"][0]
    assert calls[0]["stream"] == "out-stream"
    body = json.loads(rec["Data"])
    assert rec["PartitionKey"] == body["ticker"]


def test_kinesis_writer_retries_partial_failures(spark, tmp_path):
    """put_records does NOT raise on partial failure — a 200 response
    can carry FailedRecordCount > 0. The writer must retry exactly the
    failed records (ADVICE round 1: silent-drop regression vs the
    reference's raising per-record put_record), and raise once retries
    are exhausted."""
    capture = tmp_path / "retry_puts.jsonl"
    cap_path = str(capture)

    class FlakyClient:
        """Fails the LAST record of every first-attempt batch; retried
        batches (len 1) succeed. Counts attempts via the capture file."""

        def put_records(self, StreamName, Records):
            with open(cap_path, "a") as fh:
                fh.write(json.dumps({"n": len(Records)}) + "\n")
            if len(Records) > 1:
                results = [{"SequenceNumber": "1"} for _ in Records]
                results[-1] = {
                    "ErrorCode": "ProvisionedThroughputExceededException"
                }
                return {"FailedRecordCount": 1, "Records": results}
            return {"FailedRecordCount": 0, "Records": [{"SequenceNumber": "1"}]}

    df = spark.range(40).selectExpr(
        "concat('T', cast(id % 4 as string)) AS ticker", "cast(id as double) AS price"
    ).coalesce(1)
    writer = KinesisBatchWriter(
        "out-stream",
        collection_max_count=20,
        client_factory=lambda: FlakyClient(),
        backoff_base_s=0.01,
    )
    writer(df, batch_id=0)
    calls = [json.loads(line)["n"] for line in capture.read_text().splitlines()]
    # two 20-record batches, each retrying its single failed record
    assert sorted(calls) == [1, 1, 20, 20]

    class AlwaysFails:
        def put_records(self, StreamName, Records):
            return {
                "FailedRecordCount": len(Records),
                "Records": [{"ErrorCode": "InternalFailure"} for _ in Records],
            }

    hopeless = KinesisBatchWriter(
        "out-stream",
        collection_max_count=20,
        client_factory=lambda: AlwaysFails(),
        max_retries=2,
        backoff_base_s=0.0,
    )
    with pytest.raises(Exception, match="still\\s+failing|InternalFailure"):
        hopeless(df, batch_id=0)


def test_stateful_ema_streaming_equals_batch_fold(spark, tmp_path):
    """applyInPandasWithState: the per-key EMA carried across micro-
    batches must equal one batch fold over the full (event-time
    ordered) history."""
    from kinesis_analytics_demo_spark.streaming.stateful import ema_stateful

    src_dir = tmp_path / "eticks"
    generate_to_dir(
        str(src_dir), n_files=3, records_per_file=50, seed=21, base_time=BASE, step_s=2.0
    )
    stream = create_stream_source(spark, "file-json", path=str(src_dir))
    result = ema_stateful(stream, key_col="ticker", ts_col="utc", value_col="price")
    _run_available_now(result, "ema_stream", tmp_path)
    got = {
        (r.key, r.ts): r.ema for r in spark.table("ema_stream").collect()
    }

    batch = parse_stock_json(spark.read.text(str(src_dir)), "value")
    rows = sorted(
        ((r.ticker, r.utc, r.price) for r in batch.collect()), key=lambda t: (t[0], t[1])
    )
    alpha = 0.3
    expected = {}
    last: dict = {}
    for tick, ts, price in rows:
        prev = last.get(tick)
        ema = price if prev is None else alpha * price + (1 - alpha) * prev
        last[tick] = ema
        expected[(tick, ts)] = ema
    assert len(got) == len(expected) == 150
    assert got == expected  # bit-exact: same fold order, same f64 ops


def test_streaming_dedup_drop_duplicates(spark, tmp_path):
    """Streaming exact dedup: dropDuplicatesWithinWatermark on a
    replayed stream with duplicated records keeps one copy."""
    src_dir = tmp_path / "dupticks"
    src_dir.mkdir()
    from datetime import timedelta

    def tick(i, ts):
        return {"utc": ts.isoformat(), "ticker": f"T{i % 3}", "price": float(i)}

    rows1 = [tick(i, BASE + timedelta(seconds=2 * i)) for i in range(30)]
    with open(src_dir / "f1.json", "w") as fh:
        for r in rows1 + rows1[:10]:  # 10 dups within the same batch
            fh.write(json.dumps(r) + "\n")
    with open(src_dir / "f2.json", "w") as fh:
        for r in rows1[10:20]:  # 10 dups across batches
            fh.write(json.dumps(r) + "\n")

    stream = create_stream_source(spark, "file-json", path=str(src_dir))
    deduped = stream.withWatermark("utc", "10 minutes").dropDuplicatesWithinWatermark(
        ["ticker", "price", "utc"]
    )
    _run_available_now(deduped, "dedup_stream", tmp_path)
    out = spark.table("dedup_stream").collect()
    assert len(out) == 30  # every duplicate dropped, originals kept
    assert len({(r.ticker, r.price, r.utc) for r in out}) == 30


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: enrich the tick stream with a static
    dimension table (broadcast per micro-batch, no stream state)."""
    src_dir = tmp_path / "jticks"
    generate_to_dir(
        str(src_dir), n_files=2, records_per_file=40, seed=13, base_time=BASE, step_s=1.0
    )
    dim = spark.createDataFrame(
        [("AAPL", "tech"), ("AMZN", "retail"), ("MSFT", "tech"), ("TSLA", "auto")],
        ["ticker", "sector"],
    )
    stream = create_stream_source(spark, "file-json", path=str(src_dir))
    enriched = stream.join(dim, "ticker", "left")
    _run_available_now(enriched, "enrich_stream", tmp_path)
    out = spark.table("enrich_stream").collect()
    assert len(out) == 80
    assert all(r.sector is not None for r in out)


def test_partitioned_file_sink(spark, tmp_path):
    """S6: PARTITIONED BY (ticker) — streaming parquet sink writes
    ticker=... directories (reference flink/tumbling_window.py:121)."""
    src_dir = tmp_path / "pticks"
    generate_to_dir(
        str(src_dir), n_files=2, records_per_file=40, seed=3, base_time=BASE, step_s=1.0
    )
    stream = create_stream_source(spark, "file-json", path=str(src_dir))
    out = tmp_path / "out"
    q = write_stream(
        stream,
        "file",
        path=str(out),
        partition_by="ticker",
        query_name="part_sink",
        checkpoint=str(tmp_path / "ckpt-part"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    subdirs = {p.name for p in out.iterdir() if p.is_dir()}
    assert subdirs >= {"ticker=AAPL", "ticker=AMZN"}
    back = spark.read.parquet(str(out))
    assert back.count() == 80
    assert set(back.columns) == {"ticker", "price", "utc"}


def test_streaming_foreach_batch_kinesis(spark, tmp_path):
    """S3 end-to-end: a streaming query writing through the kinesis
    foreachBatch sink (fake client via shared filesystem)."""
    src_dir = tmp_path / "kticks"
    generate_to_dir(
        str(src_dir), n_files=2, records_per_file=30, seed=9, base_time=BASE, step_s=1.0
    )
    capture = tmp_path / "kputs.jsonl"
    cap_path = str(capture)

    class FakeClient:
        def put_records(self, StreamName, Records):
            with open(cap_path, "a") as fh:
                fh.write(json.dumps({"stream": StreamName, "n": len(Records)}) + "\n")

    writer = KinesisBatchWriter(
        "out-stream", collection_max_count=25, client_factory=lambda: FakeClient()
    )
    stream = create_stream_source(spark, "file-json", path=str(src_dir))
    q = write_stream(
        stream,
        "foreach_batch",
        foreach_batch=writer,
        query_name="kin_sink",
        checkpoint=str(tmp_path / "ckpt-kin"),
        trigger_available_now=True,
    )
    q.awaitTermination(120)
    calls = [json.loads(line) for line in capture.read_text().splitlines()]
    assert sum(c["n"] for c in calls) == 60
    assert all(c["n"] <= 25 for c in calls)
    assert {c["stream"] for c in calls} == {"out-stream"}


def test_streaming_session_window_equals_batch(spark, tmp_path):
    """session_window in streaming mode (merging session state +
    watermark) must equal the batch sessionization of the same rows
    for sessions the watermark closed."""
    src_dir = tmp_path / "sessticks"
    # 3 files, 4s step -> several per-ticker gaps > 30s session gap
    generate_to_dir(
        str(src_dir), n_files=3, records_per_file=30, seed=17, base_time=BASE,
        step_s=4.0,
    )
    gap = "30 seconds"

    def sessionize(df):
        from pyspark.sql import functions as F

        d = df.withWatermark("utc", "10 seconds") if df.isStreaming else df
        return (
            d.groupBy(F.session_window("utc", gap), "ticker")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                "ticker",
                F.col("session_window.start").alias("s"),
                F.col("session_window.end").alias("e"),
                "n",
            )
        )

    stream = create_stream_source(spark, "file-json", path=str(src_dir))
    _run_available_now(sessionize(stream), "sess_stream", tmp_path)
    got = {tuple(r) for r in spark.table("sess_stream").collect()}

    batch = parse_stock_json(spark.read.text(str(src_dir)), "value")
    final_wm = max(r[0] for r in batch.select("utc").collect())
    expected = {
        tuple(r)
        for r in sessionize(batch).collect()
        if (final_wm - r[2]).total_seconds() >= 10  # session end <= watermark
    }
    assert got == expected
    assert len(got) > 4


def test_streaming_minhash_dedup(spark, tmp_path):
    """Streaming near-exact document dedup: duplicate texts arriving
    later in the stream (same or later micro-batch, within the
    watermark) are suppressed; first arrival wins."""
    from kinesis_analytics_demo_spark.streaming.dedup import streaming_minhash_dedup

    src_dir = tmp_path / "docs_stream"
    src_dir.mkdir()
    from datetime import timedelta

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "spark structured streaming merges windows with event time state",
        "minhash signatures collapse near duplicate documents very well",
    ]

    def doc(i, text, minute):
        return {
            "doc_id": i,
            "text": text,
            "ts": (BASE + timedelta(minutes=minute)).isoformat(),
        }

    with open(src_dir / "b1.json", "w") as fh:
        fh.write(json.dumps(doc(0, texts[0], 0)) + "\n")
        fh.write(json.dumps(doc(1, texts[1], 1)) + "\n")
        fh.write(json.dumps(doc(2, texts[0], 2)) + "\n")  # dup in-batch
    with open(src_dir / "b2.json", "w") as fh:
        fh.write(json.dumps(doc(3, texts[2], 3)) + "\n")
        fh.write(json.dumps(doc(4, texts[1], 4)) + "\n")  # dup cross-batch

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.StringType()),
        ]
    )
    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(
        str(src_dir)
    )
    docs = raw.select(F.from_json("value", schema).alias("r")).select(
        "r.doc_id", "r.text", F.col("r.ts").cast("timestamp").alias("ts")
    )
    deduped = streaming_minhash_dedup(docs, text_col="text", ts_col="ts")
    _run_available_now(deduped, "mh_dedup_stream", tmp_path)
    kept = sorted(r.doc_id for r in spark.table("mh_dedup_stream").collect())
    assert kept == [0, 1, 3]  # first arrivals only; 2 and 4 suppressed


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Stop/restart semantics (the KDA/Flink checkpointing analog,
    SURVEY.md §2 W6): a restarted query resumes from the checkpoint and
    processes only NEW files — the file sink ends up with every input
    row exactly once."""
    src_dir = tmp_path / "rticks"
    out_dir = tmp_path / "rout"
    ckpt = str(tmp_path / "rckpt")
    generate_to_dir(
        str(src_dir), n_files=2, records_per_file=25, seed=31, base_time=BASE, step_s=1.0
    )

    def run_once():
        stream = create_stream_source(spark, "file-json", path=str(src_dir))
        q = write_stream(
            stream,
            "file",
            path=str(out_dir),
            query_name="recov",
            checkpoint=ckpt,
            trigger_available_now=True,
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(str(out_dir)).count() == 50
    # new data lands while the query is DOWN
    from datetime import timedelta

    generate_to_dir(
        str(src_dir),
        n_files=1,
        records_per_file=25,
        seed=32,
        base_time=BASE + timedelta(minutes=10),
        step_s=1.0,
        start_index=2,
    )
    # restart from the same checkpoint: only the new file is processed
    run_once()
    rows = spark.read.parquet(str(out_dir)).collect()
    assert len(rows) == 75  # 50 + 25, no reprocessing of old files
    assert len({(r.ticker, r.price, r.utc) for r in rows}) == 75


def test_positional_sink_binding(spark, tmp_path):
    """Flink-style positional sink binding: the sliding job's output
    (ticker, p, t) lands in a sink declared (ticker, price, utc) —
    reference flink/sliding_window.py:144-151 vs 176-179."""
    src_dir = tmp_path / "posticks"
    generate_to_dir(
        str(src_dir), n_files=2, records_per_file=30, seed=41, base_time=BASE,
        step_s=2.0,
    )
    stream = create_stream_source(spark, "file-json", path=str(src_dir))
    result = sliding_window_job(spark, stream, over="2 minutes", every="1 minute")
    assert result.columns == ["ticker", "p", "t"]
    q = write_stream(
        result,
        "memory",
        query_name="pos_sink",
        checkpoint=str(tmp_path / "ckpt-pos"),
        trigger_available_now=True,
        sink_columns=["ticker", "price", "utc"],  # declared sink schema
    )
    q.awaitTermination(120)
    out = spark.table("pos_sink")
    assert out.columns == ["ticker", "price", "utc"]

    with pytest.raises(ValueError, match="declares 2 columns"):
        write_stream(result, "memory", sink_columns=["a", "b"])


def test_noop_and_console_sinks(spark, tmp_path):
    """Blackhole (S5) and print (S4) sink analogs start and finish."""
    stream = create_stream_source(spark, "rate", rows_per_second=10)
    for kind in ("noop", "console"):
        q = write_stream(
            stream,
            kind,
            query_name=f"{kind}_probe",
            checkpoint=str(tmp_path / f"ckpt-{kind}"),
            trigger_available_now=True,
        )
        q.awaitTermination(60)
        assert not q.isActive


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join (both sides watermarked, two-sided
    time bound => finite state): results must equal the batch join of
    the same data."""
    from kinesis_analytics_demo_spark.streaming.joins import interval_join

    from datetime import timedelta

    clicks_dir = tmp_path / "clicks"
    views_dir = tmp_path / "views"
    clicks_dir.mkdir()
    views_dir.mkdir()

    def rec(uid, minute, val):
        return json.dumps(
            {"user_id": uid, "ts": (BASE + timedelta(minutes=minute)).isoformat(), "value": val}
        )

    # user 1: views at t=0,4; clicks at t=5 (matches both within 10m),
    # t=20 (matches nothing). user 2: view at t=3, click at t=5.
    (clicks_dir / "c1.json").write_text(
        rec(1, 5, 100.0) + "\n" + rec(2, 5, 200.0) + "\n"
    )
    (clicks_dir / "c2.json").write_text(rec(1, 20, 300.0) + "\n")
    (views_dir / "v1.json").write_text(
        rec(1, 0, 1.0) + "\n" + rec(1, 4, 2.0) + "\n" + rec(2, 3, 3.0) + "\n"
    )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def load(d, streaming):
        reader = spark.readStream if streaming else spark.read
        raw = reader.format("text").load(str(d))
        from pyspark.sql import functions as F

        return raw.select(F.from_json("value", schema).alias("r")).select(
            "r.user_id", F.col("r.ts").cast("timestamp").alias("ts"), "r.value"
        )

    joined = interval_join(
        load(clicks_dir, True),
        load(views_dir, True),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        lookback="10 minutes",
    )
    _run_available_now(joined, "ss_join", tmp_path)
    got = {
        (r.user_id, str(r.ts), r.value, str(r.r_ts), r.r_value)
        for r in spark.table("ss_join").collect()
    }
    # batch reference join, same semantics
    from pyspark.sql import functions as F

    lb, rb = load(clicks_dir, False), load(views_dir, False)
    rb = rb.select(
        F.col("user_id").alias("u2"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    expected = {
        (r.user_id, str(r.ts), r.value, str(r.r_ts), r.r_value)
        for r in lb.join(
            rb,
            (lb.user_id == rb.u2)
            & (rb.r_ts <= lb.ts)
            & (rb.r_ts >= lb.ts - F.expr("INTERVAL 10 minutes")),
        ).collect()
    }
    assert got == expected
    assert len(got) == 3  # (u1 t5)x2 views + (u2 t5)x1; t20 click unmatched


def test_running_candlestick_stateful(spark, tmp_path):
    """Custom stateful running candlestick (applyInPandasWithState):
    cumulative per-key OHLC across micro-batches; the last emission
    per key must equal the batch min_by/max_by/min/max aggregate over
    all replayed files."""
    from kinesis_analytics_demo_spark.streaming.stateful import (
        running_candlestick_stateful as running_candlestick,
    )

    src_dir = tmp_path / "ticks_v2"
    generate_to_dir(
        str(src_dir), n_files=3, records_per_file=40, seed=11, base_time=BASE, step_s=2.0
    )
    ticks = create_stream_source(spark, "file-json", path=str(src_dir))
    out = running_candlestick(ticks, key_col="ticker", ts_col="utc", value_col="price")
    _run_available_now(out, "ohlc_v2", tmp_path, output_mode="update")

    from pyspark.sql import functions as F

    # Update-mode memory sink appends every per-batch emission; the
    # latest row per key is the one with the highest (monotonic)
    # n_events count.
    emitted = spark.table("ohlc_v2").collect()
    final = {}
    for r in emitted:
        if r.key not in final or r.n_events > final[r.key].n_events:
            final[r.key] = r

    batch = parse_stock_json(spark.read.text(str(src_dir)))
    expected = {
        r.ticker: r
        for r in batch.groupBy("ticker")
        .agg(
            F.min_by("price", "utc").alias("first_value"),
            F.max_by("price", "utc").alias("last_value"),
            F.min("price").alias("min_value"),
            F.max("price").alias("max_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert set(final) == set(expected)
    for k, e in expected.items():
        g = final[k]
        assert (
            g.first_value,
            g.last_value,
            g.min_value,
            g.max_value,
            g.n_events,
        ) == (e.first_value, e.last_value, e.min_value, e.max_value, e.n_events), k


def test_streaming_corpus_prep(spark, tmp_path):
    """Streaming corpus prep: quality + language filters run before
    the watermarked dedup state, duplicates of surviving docs are
    suppressed (first arrival wins)."""
    from kinesis_analytics_demo_spark.streaming.dedup import streaming_corpus_prep

    from datetime import timedelta

    good0 = (
        "the quick brown fox jumps over a lazy dog while the keen red "
        "hen walks past a calm old barn and the wind turns for the mill "
        "as it spins on and on in the bright cold morning for hours"
    )
    good3 = (
        "a long train rolls down the valley and the river bends to the "
        "east while it carries small boats for trade and the town wakes "
        "to a slow warm light that is good for the fields in spring"
    )
    junk = "aaa aaa aaa aaa aaa"  # low diversity, no stopwords
    src_dir = tmp_path / "corpus_stream"
    src_dir.mkdir()

    def doc(i, text, minute):
        return json.dumps(
            {"doc_id": i, "text": text,
             "ts": (BASE + timedelta(minutes=minute)).isoformat()}
        )

    (src_dir / "b1.json").write_text(
        doc(0, good0, 0) + "\n" + doc(1, junk, 1) + "\n"
    )
    (src_dir / "b2.json").write_text(
        doc(2, good0, 2) + "\n" + doc(3, good3, 3) + "\n"  # 2 dups 0
    )

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.StringType()),
        ]
    )
    raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(
        str(src_dir)
    )
    docs = raw.select(F.from_json("value", schema).alias("r")).select(
        "r.doc_id", "r.text", F.col("r.ts").cast("timestamp").alias("ts")
    )
    out = streaming_corpus_prep(docs)
    _run_available_now(out, "corpus_prep_stream", tmp_path)
    kept = sorted(r.doc_id for r in spark.table("corpus_prep_stream").collect())
    assert kept == [0, 3]  # 1 fails quality, 2 is a near-exact dup of 0


def test_stateful_topk_streaming_equals_batch_ranking(spark, tmp_path):
    """Running top-k over a replayed events stream: the final emitted
    leaderboard per key must equal the batch window-function top-k of
    all data, regardless of micro-batch boundaries."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kinesis_analytics_demo_spark.session import read_table
    from kinesis_analytics_demo_spark.streaming.stateful import (
        running_topk_stateful,
    )
    from tests.conftest import SF_SMALL

    stage = tmp_path / "ev_stream"
    stage.mkdir()
    os.symlink(
        os.path.join(SF_SMALL, "events.parquet"),
        str(stage / "events.parquet"),
    )
    stream = create_stream_source(
        spark, "file-parquet", path=str(stage), max_files_per_trigger=1
    )
    out = running_topk_stateful(
        stream, key_col="event_type", value_col="value",
        id_col="event_id", k=5,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("topk_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = spark.table("topk_probe").collect()
    # last emission per (key, rank) is the final leaderboard
    final = {}
    for r in emitted:
        final[(r["key"], r["rank"])] = (r["value"], r["item_id"])
    ev = read_table(spark, SF_SMALL, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    exp = {
        (r["event_type"], r["rn"]): (r["value"], r["event_id"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    assert final == exp


def test_stateful_session_timeout_equals_batch_sessions(spark, tmp_path):
    """Timeout-closed sessions from the replayed stream must equal
    the batch gaps-and-islands sessions whose close horizon the final
    watermark passed; no session may be emitted twice."""
    import datetime
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kinesis_analytics_demo_spark.session import read_table
    from kinesis_analytics_demo_spark.streaming.stateful import (
        sessionize_stateful,
    )
    from tests.conftest import SF_SMALL

    stage = tmp_path / "ev_stream"
    stage.mkdir()
    os.symlink(
        os.path.join(SF_SMALL, "events.parquet"),
        str(stage / "events.parquet"),
    )
    stream = create_stream_source(
        spark, "file-parquet", path=str(stage), max_files_per_trigger=1
    )
    out = sessionize_stateful(
        stream, key_col="user_id", ts_col="ts", gap="5 minutes",
        watermark="20 seconds",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["key"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.table("sess_probe").collect()
    }
    assert len(got) == spark.table("sess_probe").count(), "duplicate emission"

    ev = read_table(spark, SF_SMALL, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.select("user_id", "ts", "event_id").withColumn(
        "is_new",
        (
            F.col("ts").cast("timestamp").cast("long")
            - F.lag(F.col("ts").cast("timestamp").cast("long")).over(w)
            > 300
        ).cast("int"),
    ).fillna(1, subset=["is_new"])
    sess = (
        lagged.withColumn(
            "sid",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    rows = sess.collect()
    wm = max(r["last_ts"] for r in rows) - datetime.timedelta(seconds=20)
    exp = {
        (
            r["user_id"],
            r["session_start"],
            r["last_ts"] + datetime.timedelta(seconds=300),
            r["n_events"],
        )
        for r in rows
        if r["last_ts"] + datetime.timedelta(seconds=300) <= wm
    }
    # every provably-closed batch session was emitted by the stream,
    # and the stream emitted nothing outside the batch session set
    all_batch = {
        (
            r["user_id"],
            r["session_start"],
            r["last_ts"] + datetime.timedelta(seconds=300),
            r["n_events"],
        )
        for r in rows
    }
    assert exp <= got, f"missing {len(exp - got)} closed sessions"
    assert got <= all_batch, "stream emitted a non-session"


def test_dimension_refresh_via_versioned_pointer(spark, tmp_path):
    """The broadcast-state analog done right: in-place overwrite of a
    parquet dimension RACES in-flight batches (the planned file list
    goes stale -> FILE_NOT_EXIST kills the query), so the refresh
    pattern is versioned dim directories published via an atomically
    renamed pointer file; foreachBatch resolves the pointer and loads
    that immutable version each batch."""
    import os
    import time

    from pyspark.sql import functions as F

    from kinesis_analytics_demo_spark.sources.pyds import register_stock_ticks

    register_stock_ticks(spark)
    root = str(tmp_path)
    out_path = os.path.join(root, "enriched")
    pointer = os.path.join(root, "dim_CURRENT")

    def publish_dim(version: str, rating: str):
        path = os.path.join(root, f"dim_{version}")
        spark.createDataFrame(
            [("AAPL", rating), ("AMZN", rating),
             ("MSFT", rating), ("TSLA", rating)],
            "ticker string, rating string",
        ).coalesce(1).write.mode("overwrite").parquet(path)
        with open(pointer + ".tmp", "w") as fh:
            fh.write(path)
        os.rename(pointer + ".tmp", pointer)  # atomic publish

    publish_dim("v1", "old")
    stream = (
        spark.readStream.format("stock_ticks")
        .option("rows_per_batch", 50)
        .load()
    )

    def enrich(batch_df, batch_id):
        with open(pointer) as fh:
            dim_path = fh.read().strip()
        dim = spark.read.parquet(dim_path)  # immutable version: no race
        (
            batch_df.join(F.broadcast(dim), "ticker")
            .select("ticker", "price", "rating")
            .write.mode("append")
            .parquet(out_path)
        )

    q = (
        stream.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", os.path.join(root, "ck"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 90

        def n_rows():
            try:
                return spark.read.parquet(out_path).count()
            except Exception:
                return 0

        while time.time() < deadline and n_rows() < 50:
            time.sleep(0.3)
        n_before = n_rows()
        publish_dim("v2", "new")  # refresh mid-stream, atomically
        while time.time() < deadline:
            try:
                if (
                    spark.read.parquet(out_path)
                    .filter(F.col("rating") == "new")
                    .count()
                    > 0
                ):
                    break
            except Exception:
                pass
            time.sleep(0.3)
    finally:
        q.stop()
    ratings = {
        r["rating"]
        for r in spark.read.parquet(out_path).select("rating").distinct().collect()
    }
    assert ratings == {"old", "new"}, ratings
    assert n_before > 0


def test_stateful_spacesaving_two_batch_equals_batch(spark, tmp_path):
    """Misra-Gries summary with the replay split into TWO time-ordered
    micro-batches: the carried GroupState must make the final summary
    equal the batch query's single fold over the whole history (the
    fold-splitting property fold(fold(s0, b1), b2) == fold(s0, b1+b2)
    for time-ordered halves)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from kinesis_analytics_demo_spark.caching import release_tracked
    from kinesis_analytics_demo_spark.operators.sketches2 import (
        MG_BUCKETS,
        MG_K,
        MG_SHIFT,
        mg_finalize,
    )
    from kinesis_analytics_demo_spark.plans.registry import get_query
    from kinesis_analytics_demo_spark.streaming.stateful import (
        spacesaving_stateful,
    )
    from tests.conftest import SF_SMALL

    pdf = pd.read_parquet(SF_SMALL + "/events.parquet").sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    stage = tmp_path / "ev_stream"
    stage.mkdir()
    half = len(pdf) // 2
    # names order the files: batch a (earlier half) replays first
    pq.write_table(
        pa.Table.from_pandas(pdf.iloc[:half]), str(stage / "events_a.parquet")
    )
    pq.write_table(
        pa.Table.from_pandas(pdf.iloc[half:]), str(stage / "events_b.parquet")
    )
    stream = create_stream_source(
        spark, "file-parquet", path=str(stage), max_files_per_trigger=1
    )
    b = stream.select(
        (F.col("user_id") % MG_BUCKETS).alias("bucket"),
        "ts",
        "event_id",
        "user_id",
    )
    out = spacesaving_stateful(b, k=MG_K, shift=MG_SHIFT)
    q = (
        out.writeStream.format("memory")
        .queryName("mg_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sink = spark.table("mg_probe")
    # two batches must actually have happened (upd reaches 2 somewhere)
    assert sink.agg(F.max("upd")).collect()[0][0] >= 2
    from pyspark.sql import Window

    latest = (
        sink.withColumn(
            "last_upd", F.max("upd").over(Window.partitionBy("bucket"))
        )
        .filter(F.col("upd") == F.col("last_upd"))
        .select("e")
    )
    from kinesis_analytics_demo_spark.session import read_table

    ev = read_table(spark, SF_SMALL, "events")
    try:
        got = sorted(
            tuple(r) for r in mg_finalize(latest, ev).collect()
        )
        exp = sorted(
            tuple(r)
            for r in get_query("heavy_hitters_spacesaving")
            .fn(spark, SF_SMALL)
            .collect()
        )
    finally:
        release_tracked()
    assert got == exp


def test_stateful_hll_rolling_two_batch_equals_batch(spark, tmp_path):
    """Rolling-HLL daily-sketch stage with the replay split into TWO
    time-ordered micro-batches: the streaming tumbling-day register
    aggregate (complete mode) must be batch-boundary-free — register
    max is associative/commutative — so the finalized trailing-window
    estimates equal the batch hll_rolling_distinct_users exactly.
    This is the pinned replay check for streaming_hll_rolling_replay
    (deferred from the round-7 driver rotation; its batch twin gets
    the driver row)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from kinesis_analytics_demo_spark.caching import release_tracked
    from kinesis_analytics_demo_spark.operators.sketches2 import (
        hll_rolling_from_daily,
        hll_user_register_cols,
    )
    from kinesis_analytics_demo_spark.plans.registry import get_query
    from kinesis_analytics_demo_spark.session import read_table
    from kinesis_analytics_demo_spark.streaming.windows import (
        ensure_event_time,
    )
    from tests.conftest import SF_SMALL

    pdf = pd.read_parquet(SF_SMALL + "/events.parquet").sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    stage = tmp_path / "ev_stream"
    stage.mkdir()
    half = len(pdf) // 2
    pq.write_table(
        pa.Table.from_pandas(pdf.iloc[:half]), str(stage / "events_a.parquet")
    )
    pq.write_table(
        pa.Table.from_pandas(pdf.iloc[half:]), str(stage / "events_b.parquet")
    )
    stream = create_stream_source(
        spark, "file-parquet", path=str(stage), max_files_per_trigger=1
    )
    s = ensure_event_time(stream, "ts")
    reg, rho = hll_user_register_cols()
    r = s.select(F.window("ts", "1 day").alias("win"), reg, rho)
    agg = r.groupBy("win", "reg").agg(F.max("rho").alias("mj"))
    q = (
        agg.writeStream.format("memory")
        .queryName("hllroll_probe")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 2, "replay must span at least two micro-batches"
    daily = spark.table("hllroll_probe").select(
        F.to_date(F.col("win.start")).alias("day"), "reg", "mj"
    )
    ev = read_table(spark, SF_SMALL, "events")
    try:
        got = sorted(
            tuple(r) for r in hll_rolling_from_daily(daily, ev).collect()
        )
        exp = sorted(
            tuple(r)
            for r in get_query("hll_rolling_distinct_users")
            .fn(spark, SF_SMALL)
            .collect()
        )
    finally:
        release_tracked()
    assert got == exp


def test_idle_input_watermark_stall_and_max_policy_mitigation(spark, tmp_path):
    """Reference W5 (flink/tumbling_window.py:50-60): the reference
    pins parallelism=1 because an idle Kinesis shard stalls Flink's
    watermark (global watermark = MIN over sources). Spark has the
    same hazard across multiple watermarked inputs — this test PROVES
    both halves of the streaming/windows.py module-doc note:

    - default ``multipleWatermarkPolicy=min``: a union with a stale
      input emits NOTHING (the stale input's watermark pins the
      global one before the first window's end);
    - the documented mitigation ``multipleWatermarkPolicy=max``: the
      same data emits the closed window, WITH the stale input's row
      merged in (only the watermark stalled, never the data).
    """
    import os
    from datetime import timedelta

    from pyspark.sql import functions as F

    def write_file(d, name, records):
        tmp = str(d / name) + ".tmp"
        with open(tmp, "w") as fh:
            for r in records:
                fh.write(json.dumps(r) + "\n")
        os.rename(tmp, str(d / name))

    def tick(ts, price):
        return {"utc": ts.isoformat(), "ticker": "AAPL", "price": price}

    t0 = BASE
    fresh = tmp_path / "fresh"
    stale = tmp_path / "stale"
    fresh.mkdir()
    stale.mkdir()
    # fresh input: window-0 data, then an event 10 minutes on that
    # advances THIS input's watermark far past window 0's end
    write_file(fresh, "a1.json", [tick(t0, 10.0),
                                  tick(t0 + timedelta(seconds=30), 20.0)])
    write_file(fresh, "a2.json", [tick(t0 + timedelta(minutes=10), 50.0)])
    # stale input: one event at t0, then idle forever — its watermark
    # never passes t0 - 20s
    write_file(stale, "b1.json", [tick(t0, 99.0)])

    def run(name):
        a = create_stream_source(spark, "file-json", path=str(fresh))
        b = create_stream_source(spark, "file-json", path=str(stale))
        u = a.withWatermark("utc", "20 seconds").unionByName(
            b.withWatermark("utc", "20 seconds")
        )
        agg = u.groupBy(F.window("utc", "1 minute")).agg(
            F.max("price").alias("max_price")
        ).select(F.col("window.start").alias("window_start"), "max_price")
        _run_available_now(agg, name, tmp_path)
        return spark.table(name).collect()

    policy_key = "spark.sql.streaming.multipleWatermarkPolicy"
    # default policy (min): the stale input stalls the global
    # watermark at t0 - 20s — no window closes, nothing emits
    assert run("wm_stall") == []
    try:
        spark.conf.set(policy_key, "max")
        rows = run("wm_max")
        assert len(rows) == 1
        assert rows[0]["window_start"] == t0
        # 99.0: the stale input's row IS in the result — the hazard
        # only ever stalled emission, never dropped data
        assert rows[0]["max_price"] == 99.0
    finally:
        spark.conf.unset(policy_key)
