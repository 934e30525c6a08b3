"""Structured Streaming tests: micro-batch flagship pipeline (per-batch dim
refresh, checkpointed, idempotent sink) and event-time windows/watermarks,
driven synchronously with availableNow + processAllAvailable."""

import tempfile

import pytest
from pyspark.sql import functions as F

from aws_vpc_flow_log_appender_spark import fixtures
from aws_vpc_flow_log_appender_spark.functions import round_half_up
from aws_vpc_flow_log_appender_spark.operators.registry import load
from aws_vpc_flow_log_appender_spark.streaming import (
    sessionized_stream,
    stream_decorate,
    tumbling_counts_stream,
)


@pytest.fixture(scope="module")
def events_parquet(spark, sf_dir, tmp_path_factory):
    """events with µs timestamps in a streamable location (the source file's
    TIMESTAMP(NANOS) can't be stream-read either — load() normalizes)."""
    out = str(tmp_path_factory.mktemp("events_us"))
    load(spark, sf_dir, "events").write.mode("overwrite").parquet(out)
    return out


def test_stream_decorate_end_to_end(spark, tmp_path):
    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    lines = fixtures.make_lines(100)
    (lines_dir / "part-0.txt").write_text("\n".join(lines[:50]) + "\n")
    (lines_dir / "part-1.txt").write_text("\n".join(lines[50:]) + "\n")

    refresh_count = {"n": 0}

    def eni_provider(s):
        refresh_count["n"] += 1  # proves per-batch dimension refresh
        return fixtures.eni_dim_df(s)

    out_dir = str(tmp_path / "out")
    q = stream_decorate(
        spark,
        str(lines_dir),
        eni_provider,
        fixtures.geo_dim_df(spark),
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_path=out_dir,
    )
    q.awaitTermination(120)

    result = spark.read.parquet(out_dir)
    assert result.count() == 100
    assert refresh_count["n"] >= 1
    by_result = {r["result"]: r["n"] for r in
                 result.groupBy("result").agg(F.count("*").alias("n")).collect()}
    assert by_result.get("Ok", 0) + by_result.get("ProcessingFailed", 0) == 100
    assert by_result.get("ProcessingFailed", 0) > 0

    # restart on the same checkpoint: no new input -> no duplicate output
    q2 = stream_decorate(
        spark, str(lines_dir), eni_provider, fixtures.geo_dim_df(spark),
        checkpoint_dir=str(tmp_path / "ckpt"), output_path=out_dir,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 100


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_window_stream_matches_batch(spark, sf_dir, events_parquet):
    batch_events = spark.read.parquet(events_parquet)
    stream_events = spark.readStream.schema(batch_events.schema).parquet(events_parquet)

    got = _run_stream(
        spark, tumbling_counts_stream(stream_events, watermark="0 seconds"),
        "tumbling_out",
    )
    expected = (
        batch_events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    # append mode withholds windows not yet past the watermark: the final
    # (max-ts) window may be missing. Everything emitted must match batch.
    got_rows = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()
    }
    exp_rows = {
        (r["window"]["start"], r["event_type"]): r["n_events"]
        for r in expected.collect()
    }
    assert got_rows
    for k, v in got_rows.items():
        assert exp_rows[k] == v
    missing = set(exp_rows) - set(got_rows)
    max_start = max(k[0] for k in exp_rows)
    assert all(k[0] == max_start for k in missing)


def test_session_window_stream(spark, events_parquet):
    batch_events = spark.read.parquet(events_parquet)
    stream_events = spark.readStream.schema(batch_events.schema).parquet(events_parquet)
    got = _run_stream(
        spark, sessionized_stream(stream_events, watermark="0 seconds"),
        "session_out",
    )
    rows = got.collect()
    assert rows
    # session invariants: start <= end, gap-merged (no zero/negative spans)
    assert all(r["session_start"] <= r["session_end"] for r in rows)
    assert all(r["n_events"] >= 1 for r in rows)


def test_watermark_drops_late_data(spark, tmp_path):
    """The enforceable watermark guarantee: once a window's state has been
    evicted (watermark passed its end and it was emitted), a late arrival for
    that window is dropped — the window is neither re-emitted nor mutated.

    (The converse is deliberately NOT asserted: Spark documents that data
    later than the watermark *may* still be aggregated if eviction hasn't
    happened yet — a late row landing one batch after its window can merge.)
    """
    from pyspark.sql import types as T
    import datetime as dt
    import time

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
    ])
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    h = dt.timedelta(hours=1)
    src = tmp_path / "late_src"
    src.mkdir()
    # batch 1: hours 0..3 (1 event each)
    b1 = [(base + i * h, "click", 1.0, i, 1) for i in range(4)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f1"))
    time.sleep(1.1)  # distinct mtimes: the file source orders batches by them
    # batch 2: hour 4 -> watermark firmly passes hour 0; hour-0 state evicted+emitted
    spark.createDataFrame(
        [(base + 4 * h, "click", 1.0, 5, 1)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    time.sleep(1.1)
    # batch 3: a LATE row for hour 0 (state long gone) + fresh hour 5
    spark.createDataFrame(
        [(base + dt.timedelta(minutes=30), "click", 1.0, 99, 1),
         (base + 5 * h, "click", 1.0, 6, 1)],
        schema,
    ).coalesce(1).write.parquet(str(src / "f3"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f*"))
    )
    got = _run_stream(
        spark, tumbling_counts_stream(stream, watermark="10 minutes"), "late_out"
    )
    hour0_rows = [r for r in got.collect() if r["window_start"] == base]
    # exactly one emission of hour 0, with exactly the on-time event count
    assert len(hour0_rows) == 1
    assert hour0_rows[0]["n_events"] == 1


def test_tumbling_window_file_sink_production_shape(spark, sf_dir,
                                                    events_parquet, tmp_path):
    """The production tumbling-window query (watermark + append mode +
    parquet sink + checkpoint): emitted windows must match batch exactly,
    only watermark-held trailing windows may be missing, and a restart on
    the same checkpoint with no new input must not duplicate output."""
    from aws_vpc_flow_log_appender_spark.streaming.queries import (
        stream_tumbling_window_to_files,
    )

    batch_events = spark.read.parquet(events_parquet)
    out = str(tmp_path / "win_out")
    ckpt = str(tmp_path / "win_ckpt")
    stream_tumbling_window_to_files(
        spark, events_parquet, batch_events.schema, out, ckpt,
        watermark="10 minutes",
    )

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got, "no windows emitted"
    exp = {
        (r["ws"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch_events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            round_half_up(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("ws"),
            "event_type", "n_events", "total_value",
        )
        .collect()
    }
    for k, v in got.items():
        assert exp[k] == v  # everything emitted matches batch exactly
    # only trailing windows (watermark not yet past their end) may be held
    held = set(exp) - set(got)
    if held:
        emitted_max = max(k[0] for k in got)
        assert all(k[0] > emitted_max for k in held)

    # exactly-once under restart: same checkpoint, no new input -> no dupes
    n_before = spark.read.parquet(out).count()
    stream_tumbling_window_to_files(
        spark, events_parquet, batch_events.schema, out, ckpt,
        watermark="10 minutes",
    )
    assert spark.read.parquet(out).count() == n_before


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (watermarks on both sides) must emit
    exactly the batch interval join's pairs when the whole input arrives
    within one micro-batch (single source file -> one batch, so no
    watermark eviction can drop matches)."""
    from aws_vpc_flow_log_appender_spark.streaming import (
        stream_stream_interval_join,
    )

    events = load(spark, sf_dir, "events")
    src = str(tmp_path / "events_one_file")
    events.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    got = _run_stream(
        spark, stream_stream_interval_join(stream), "ss_interval_out"
    )
    got_pairs = {
        (r["click_id"], r["purchase_id"], r["user_id"], r["gap_us"])
        for r in got.collect()
    }

    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id",
        F.unix_micros("ts").alias("c_us"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"), F.unix_micros("ts").alias("p_us"),
    )
    exp_pairs = {
        (r["click_id"], r["purchase_id"], r["user_id"], r["gap_us"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_us") > F.col("c_us"))
            & (F.col("p_us") <= F.col("c_us") + 3_600_000_000),
        ).select(
            "click_id", "purchase_id", "user_id",
            (F.col("p_us") - F.col("c_us")).alias("gap_us"),
        ).collect()
    }
    assert exp_pairs, "fixture has no qualifying pairs"
    assert got_pairs == exp_pairs


def test_session_window_watermark_boundary_emits_at_equality(spark, tmp_path):
    """Pins the emission boundary stream_session_window's oracle models: a
    session whose end (last event + gap) lands EXACTLY on the final
    watermark (max event time - delay) IS flushed in append mode — the
    oracle's holdback predicate is therefore `session_end <= watermark`,
    not strict less-than. If a Spark upgrade flips this to strict
    comparison, this test fails before the driver's hash gate does."""
    import uuid as _uuid

    rows = [(1, 1000), (2, 6400)]  # u1 session end=2800; watermark=6400-3600=2800
    df = spark.createDataFrame(rows, "user_id long, sec long").select(
        "user_id", F.timestamp_seconds("sec").alias("ts")
    )
    staging = str(tmp_path / "src")
    out = str(tmp_path / "out")
    df.write.mode("overwrite").parquet(staging)
    stream = spark.readStream.schema(df.schema).parquet(staging)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp("session_window.end").alias("end"), "user_id", "n"
        )
    )

    def write_epoch(d, _e):
        d.write.mode("append").parquet(out)

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(write_epoch)
        .queryName(f"sess_boundary_{_uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {(r.end, r.user_id, r.n) for r in spark.read.parquet(out).collect()}
    assert got == {(2800, 1, 1)}  # flushed at equality; user 2 still held back


def test_session_window_watermark_is_ms_truncated(spark, tmp_path):
    """Pins the sub-millisecond band (code-review r6): Spark tracks the max
    event time in MILLISECONDS, so the final watermark is
    (max_us // 1000) * 1000 - delay — a session ending within (truncated
    watermark, exact-us watermark] is HELD BACK even though an
    exact-microsecond model would flush it. stream_session_window's oracle
    must therefore truncate; this test fails first if a Spark upgrade
    starts tracking microseconds."""
    import uuid as _uuid

    gap = 30 * 60 * 1_000_000
    delay = 60 * 60 * 1_000_000
    x = 10_000_000_000_787  # max event time, 787 us past a ms boundary
    rows = [
        ("band", x - delay - 500 - gap),   # end 500us above truncated wm
        ("low", x - delay - 5_000_000 - gap),  # end clearly below
        ("maxer", x),
    ]
    df = spark.createDataFrame(rows, "user_id string, us long").select(
        "user_id", F.timestamp_micros(F.col("us")).alias("ts")
    )
    staging = str(tmp_path / "src")
    out = str(tmp_path / "out")
    df.write.mode("overwrite").parquet(staging)
    stream = spark.readStream.schema(df.schema).parquet(staging)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n"))
    )

    def write_epoch(d, _e):
        d.write.mode("append").parquet(out)

    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(write_epoch)
        .queryName(f"sess_msband_{_uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    emitted = sorted(
        r.user_id
        for r in spark.read.schema(agg.schema).parquet(out).collect()
    )
    assert emitted == ["low"]  # the band session is held back


# Lines for the stream-vs-batch parity files: every decorator branch the
# stream must treat exactly like the batch path.
_PARITY_EXTRA_LINES = [
    "",  # empty line
    "not a flow log line",
    # out-of-range octet: regex-valid, but no integer address -> geo miss
    "2 123456789010 eni-1854f949 1.2.3.300 172.31.16.21 1 2 6 1 40 1418530010 1418530070 ACCEPT OK",
    # int64-overflowing byte count: a NULL field, the record still flows
    "2 123456789010 eni-1854f949 72.21.196.65 172.31.16.21 1 2 6 1 "
    "99999999999999999999 1418530010 1418530070 ACCEPT OK",
    # int64-overflowing octet
    "2 123456789010 eni-miss0001 99999999999999999999.1.1.1 10.0.0.1 1 2 6 1 40 "
    "1418530010 1418530070 REJECT OK",
    # 127/8 is "private" in the reference's RFC1918 regex
    "2 123456789010 eni-2b64c38a 127.0.0.1 10.100.2.48 1 2 6 1 40 1418530010 1418530070 ACCEPT OK",
    # inside the nested /19 (Seattle) and only inside the /8 (country level)
    "2 123456789010 eni-1854f949 72.21.200.1 172.31.16.21 1 2 6 1 40 1418530010 1418530070 ACCEPT OK",
    "2 123456789010 eni-miss0002 72.9.9.9 172.31.16.21 1 2 6 1 40 1418530010 1418530070 ACCEPT OK",
]


def _parity_geo_dim(spark):
    """The fixture geo ranges plus a country-level /8 the Seattle range
    nests in (the most specific range must win)."""
    from aws_vpc_flow_log_appender_spark.schema import GEO_DIM_SCHEMA

    rows = [
        (fixtures._ip_to_int(s), fixtures._ip_to_int(e), cc, cn, rc, rn, city, lat, lon)
        for s, e, cc, cn, rc, rn, city, lat, lon in fixtures.GEO_ROWS
    ]
    rows.append((fixtures._ip_to_int("72.0.0.0"), fixtures._ip_to_int("72.255.255.255"),
                 "US", "United States", "", "", "", 37.0, -95.0))
    return spark.createDataFrame(rows, GEO_DIM_SCHEMA)


def _parity_files(tmp_path, n_files=3):
    """``n_files`` line files; each repeats some lines byte for byte."""
    lines = fixtures.make_lines(60, seed=7) + _PARITY_EXTRA_LINES
    files = []
    for i in range(n_files):
        part = lines[i::n_files]
        part = part + part[:4]  # byte-identical repeats
        path = tmp_path / f"batch-{i}.log"
        path.write_text("\n".join(part) + "\n")
        files.append(path)
    return files


def _comparable(rows):
    """{recordId: (result, payload)} with ``@timestamp`` removed from the
    decoded Ok payloads (it is the processing time)."""
    import base64
    import json

    out = {}
    for r in rows:
        data = r["data"]
        if r["result"] == "Ok":
            record = json.loads(base64.b64decode(data))
            record.pop("@timestamp")
            data = record
        out[r["recordId"]] = (r["result"], data)
    return out


@pytest.fixture(scope="module")
def three_batch_stream(spark, tmp_path_factory):
    """Run stream_decorate over 3 files, one micro-batch each, counting the
    Column constructors and ENI refreshes inside each micro-batch."""
    import os

    from aws_vpc_flow_log_appender_spark.streaming import flowlog

    tmp = tmp_path_factory.mktemp("parity")
    files = _parity_files(tmp)
    src = tmp / "in"
    src.mkdir()
    counted = ("split", "when", "col", "lit")
    calls = {name: 0 for name in counted}
    originals = {name: getattr(F, name) for name in counted}

    def counting(name):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return originals[name](*args, **kwargs)
        return wrapper

    refreshes = []

    def eni_provider(s):
        refreshes.append(dict(calls))  # constructor counts as the batch starts
        return fixtures.eni_dim_df(s)

    batch_ends = []
    mp = pytest.MonkeyPatch()
    for name in counted:
        mp.setattr(F, name, counting(name))
    try:
        q = flowlog.stream_decorate(
            spark, str(src), eni_provider, _parity_geo_dim(spark),
            checkpoint_dir=str(tmp / "ckpt"), output_path=str(tmp / "out"),
            available_now=False,
        )
        try:
            for f in files:
                os.rename(f, src / f.name)
                q.processAllAvailable()
                batch_ends.append(dict(calls))
        finally:
            q.stop()
    finally:
        mp.undo()
    return {"out": str(tmp / "out"), "files": [src / f.name for f in files],
            "calls": calls, "refreshes": refreshes, "batch_ends": batch_ends}


def test_stream_builds_decorator_once(three_batch_stream):
    """The decorator's expressions are built once per stream: the line and
    the source address are split once in total, and no micro-batch builds a
    Column — while the ENI provider still runs once per micro-batch."""
    run = three_batch_stream
    assert len(run["refreshes"]) == 3
    assert run["calls"]["split"] == 2
    for start, end in zip(run["refreshes"], run["batch_ends"]):
        assert start == end, (start, end)


def test_stream_matches_batch_decorate_lines(spark, three_batch_stream):
    """Each micro-batch's output equals decorate_lines(unique_ids=True,
    geo_dim_is_disjoint=True) over the same file: same recordIds, results
    and payloads (``@timestamp`` aside)."""
    from aws_vpc_flow_log_appender_spark.enrich import flatten_geo_dim
    from aws_vpc_flow_log_appender_spark.pipeline import decorate_lines

    run = three_batch_stream
    geo_flat = flatten_geo_dim(_parity_geo_dim(spark))
    for epoch, path in enumerate(run["files"]):
        streamed = spark.read.parquet(f"{run['out']}/epoch={epoch}").collect()
        batch = decorate_lines(
            spark.read.text(str(path)), fixtures.eni_dim_df(spark), geo_flat,
            unique_ids=True, geo_dim_is_disjoint=True,
        ).collect()
        n_lines = len(path.read_text().splitlines())
        assert len(streamed) == len(batch) == n_lines
        got, want = _comparable(streamed), _comparable(batch)
        assert len(got) == n_lines  # repeats keep distinct recordIds
        assert got == want
        results = {res for res, _ in got.values()}
        assert results == {"Ok", "ProcessingFailed"}
