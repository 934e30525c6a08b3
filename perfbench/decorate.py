"""The ``decorate_stream`` workload and the decorator-layer probes.

They drive the program only through its public layer functions
(``pipeline.decorate_lines``, ``parse.parse_lines``, ``enrich.join_eni`` /
``join_geo``, ``package.package_records``,
``observability.observed_decorate_metrics`` and
``streaming.flowlog.stream_decorate``) over inputs from ``flowgen``.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

import flowgen
from common import reset_dir
from tracing import ProgressListener, engine_metrics, execute_traced, scheduler_counts

STREAM_BATCH_LINES = 10_000
PREFIX_REPS = 2
STREAM_WARMUP_BATCHES = 1
STREAM_TRACE_BATCHES = 6
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets", "triggerExecution")
PROBE_FILES = 1
PREFIX_BATCHES = 2  # micro-batch files (20,000 lines) for the prefix split
PROBE_STREAM_BATCHES = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dims(spark, dims: flowgen.Dimensions):
    from aws_vpc_flow_log_appender_spark.schema import ENI_DIM_SCHEMA, GEO_DIM_SCHEMA

    return (spark.createDataFrame(dims.enis, ENI_DIM_SCHEMA),
            spark.createDataFrame(dims.geo, GEO_DIM_SCHEMA))


def _enrichment_counts(lines_df, eni_df, geo_df) -> dict:
    """Dead-letter, ENI-miss and geo probe/miss aggregates over the enriched
    rows, computed with the benchmark's own predicates."""
    from aws_vpc_flow_log_appender_spark.enrich import join_eni, join_geo
    from aws_vpc_flow_log_appender_spark.parse import parse_lines

    enriched = join_geo(join_eni(parse_lines(lines_df), eni_df), geo_df)
    ok = ~F.col("error")
    probe = ok & ~F.col("srcaddr").rlike(flowgen.RFC1918_RE.pattern)
    row = enriched.agg(
        F.count_if(F.col("error")).alias("failed"),
        F.count_if(ok & F.col("direction").isNull()).alias("eni_miss"),
        F.count_if(probe).alias("geo_probe"),
        F.count_if(probe & (F.col("source-country-code") == "")).alias("geo_miss"),
    ).first()
    return row.asDict()


def _decorate_counts(lines_df, eni_df, geo_df, **kw) -> dict:
    from aws_vpc_flow_log_appender_spark.observability import observed_decorate_metrics
    from aws_vpc_flow_log_appender_spark.pipeline import decorate_lines

    out, obs = observed_decorate_metrics(decorate_lines(lines_df, eni_df, geo_df, **kw))
    _noop(out)
    m = obs.get
    return {"records": m["n_records"], "ok": m["n_ok"], "failed": m["n_failed"]}


def _mismatches(expected: flowgen.Counts, got: dict) -> list[str]:
    exp = expected.as_dict()
    return [f"{k}: expected {exp[k]}, got {v}" for k, v in got.items() if exp[k] != v]


def _layer_self_times(lines_df, eni_df, geo_df, unique_ids: bool,
                      geo_disjoint: bool = False) -> dict:
    """Self time of each decorator layer as the increment between noop
    materializations of successive pipeline prefixes (best of reps)."""
    from aws_vpc_flow_log_appender_spark.enrich import join_eni, join_geo
    from aws_vpc_flow_log_appender_spark.package import package_records
    from aws_vpc_flow_log_appender_spark.parse import parse_lines

    def prefixes():
        parsed = parse_lines(lines_df, unique_ids=unique_ids)
        with_eni = join_eni(parsed, eni_df)
        enriched = join_geo(with_eni, geo_df, dim_is_disjoint=geo_disjoint)
        return [parsed, with_eni, enriched, package_records(enriched)]

    cum = [[] for _ in range(4)]
    for _ in range(PREFIX_REPS):
        for i, df in enumerate(prefixes()):
            t = time.perf_counter()
            _noop(df)
            cum[i].append(time.perf_counter() - t)
    c = [min(x) for x in cum]
    # signed: packaging can come out negative, because a noop write of the
    # enriched prefix materializes the dead-letter payload for every row,
    # while the packaged plan only computes it for failed rows
    return {
        "parse.self_s": c[0],
        "enrich.eni_self_s": c[1] - c[0],
        "enrich.geo_self_s": c[2] - c[1],
        "package.self_s": c[3] - c[2],
    }


def _layer_counts(lines_df, eni_df, geo_df) -> dict:
    e = _enrichment_counts(lines_df, eni_df, geo_df)
    d = _decorate_counts(lines_df, eni_df, geo_df)
    return {
        "parse.dead_letter_rows": e["failed"],
        "enrich.eni_miss_rows": e["eni_miss"],
        "enrich.geo_probe_rows": e["geo_probe"],
        "enrich.geo_miss_rows": e["geo_miss"],
        "package.ok_rows": d["ok"],
        "package.failed_rows": d["failed"],
    }


class DecorateStream:
    """``stream_decorate`` on a directory source; one Firehose-sized file is
    renamed in per micro-batch and the caller waits on
    ``processAllAvailable()`` before sending the next (closed loop)."""

    unit = "micro-batch"
    # each round is about 7 s (a fresh stream's first micro-batch is cold);
    # a third would push a full benchmark session past its time budget
    setup_rounds = 2
    # untimed micro-batches before the window: micro-batches keep getting
    # faster for about ten batches after the JVM starts (3.4 s down to
    # 1.9 s on a 4-vCPU VM) while the JIT compiles the decorator
    warm_ops = 3

    def setup(self, spark, seed: int, work: str, listener=None) -> None:
        from aws_vpc_flow_log_appender_spark.streaming.flowlog import stream_decorate

        self.spark = spark
        self.seed = seed
        self.dims = flowgen.make_dimensions(seed)
        self.src = reset_dir(os.path.join(work, "stream_in"))
        self.staging = reset_dir(os.path.join(work, "stream_staging"))
        self.out = os.path.join(work, "stream_out")
        ckpt = os.path.join(work, "stream_ckpt")
        reset_dir(self.out)
        reset_dir(ckpt)
        self.expected = flowgen.Counts()
        self.batches = 0
        self.eni_refresh: list[float] = []
        eni_df, self.geo_df = _dims(spark, self.dims)
        enis = self.dims.enis

        def eni_provider(s):
            from aws_vpc_flow_log_appender_spark.schema import ENI_DIM_SCHEMA

            t = time.perf_counter()
            df = s.createDataFrame(enis, ENI_DIM_SCHEMA)
            self.eni_refresh.append(time.perf_counter() - t)
            return df

        if listener is not None:
            spark.streams.addListener(listener)
        self.query = stream_decorate(spark, self.src, eni_provider, self.geo_df,
                                     ckpt, self.out, available_now=False)
        for _ in range(STREAM_WARMUP_BATCHES):
            self.op()

    def teardown(self) -> None:
        self.query.stop()

    def op(self) -> tuple[int, float]:
        """Send one file and wait until the stream has processed it:
        (records sent, seconds from rename to ``processAllAvailable``)."""
        name = f"batch-{self.batches:05d}.log"
        lines, counts = flowgen.make_file_lines(self.seed, self.batches,
                                                STREAM_BATCH_LINES, self.dims)
        staged = os.path.join(self.staging, name)
        flowgen.write_lines(staged, lines)
        self.expected.add(counts)
        self.batches += 1
        t = time.perf_counter()
        os.rename(staged, os.path.join(self.src, name))
        self.query.processAllAvailable()
        return counts.records, time.perf_counter() - t

    def gate(self) -> tuple[int, int, list[str]]:
        problems = []
        if self.query.exception() is not None:
            problems.append(f"stream failed: {self.query.exception()}")
        res = self.spark.read.parquet(self.out)
        got = res.agg(
            F.count(F.lit(1)).alias("records"),
            F.count_if(F.col("result") == "Ok").alias("ok"),
            F.count_if(F.col("result") == "ProcessingFailed").alias("failed"),
            F.countDistinct("epoch").alias("epochs"),
        ).first().asDict()
        epochs = got.pop("epochs")
        problems += _mismatches(self.expected, got)
        if epochs != self.batches:
            problems.append(f"epochs: expected {self.batches}, got {epochs}")
        dup = res.groupBy("epoch", "recordId").count().filter("count > 1").count()
        if dup:
            problems.append(f"{dup} recordIds repeat inside an epoch")
        return self.batches, int(bool(problems)), problems

    def streaming_layers(self, tracer, listener: ProgressListener,
                         batches: int = STREAM_TRACE_BATCHES,
                         with_plain: bool = False) -> dict:
        """Streaming phases, sink output, ENI refresh and scheduler counts of
        ``batches`` more micro-batches (medians per micro-batch).  With
        ``with_plain``, as many untraced micro-batches are interleaved with
        them (traced, plain, plain, traced, ...) so that warm-up favours
        neither side of the tracing overhead."""
        st = self.spark.sparkContext.statusTracker()
        group = str(self.query.runId)  # the stream runs its jobs in this group
        per_batch: dict[str, list] = {k: [] for k in
                                      ("jobs", "stages", "tasks", "bytes", "files")}
        traced_ids = []
        n_refresh = len(self.eni_refresh)
        self.traced_ops, self.plain_ops = [], []
        for i in range(batches):
            if with_plain and i % 2 == 1:
                self.plain_ops.append(self.op()[1])
            # a traced op is the micro-batch plus the accounting around it
            t = time.perf_counter()
            before = set(st.getJobIdsForGroup(group))
            accounting = time.perf_counter() - t
            with tracer.span("stream.micro_batch"):
                op_s = self.op()[1]
            t = time.perf_counter()
            # one file per micro-batch, so the batch id counts the files sent
            traced_ids.append(self.batches - 1)
            jobs = [j for j in st.getJobIdsForGroup(group) if j not in before]
            for k, v in scheduler_counts(self.spark, jobs).items():
                per_batch[k].append(v)
            epoch_dir = os.path.join(self.out, f"epoch={self.batches - 1}")
            files = [f for f in os.listdir(epoch_dir) if f.endswith(".parquet")]
            per_batch["files"].append(len(files))
            per_batch["bytes"].append(sum(os.path.getsize(os.path.join(epoch_dir, f))
                                          for f in files))
            self.traced_ops.append(op_s + accounting + time.perf_counter() - t)
            if with_plain and i % 2 == 0:
                self.plain_ops.append(self.op()[1])
        traced = listener.durations_of(traced_ids)
        out = {f"streaming.{p}_ms": statistics.median([b.get(p, 0) for b in traced])
               for p in STREAM_PHASES}
        out["streaming.eni_refresh_s"] = statistics.median(self.eni_refresh[n_refresh:])
        out["streaming.sink_bytes"] = statistics.median(per_batch["bytes"])
        out["streaming.sink_files"] = statistics.median(per_batch["files"])
        for k in ("jobs", "stages", "tasks"):
            out[f"scheduler.{k}"] = statistics.median(per_batch[k])
        return out

    def layers(self, tracer, listener: ProgressListener) -> dict:
        """Streaming layers, the decorator layers over the first files sent
        (one batch is too small for prefix increments to rise above noise),
        and the engine metrics of one micro-batch's plan built statically."""
        from aws_vpc_flow_log_appender_spark.enrich import flatten_geo_dim
        from aws_vpc_flow_log_appender_spark.pipeline import decorate_lines

        out = self.streaming_layers(tracer, listener, with_plain=True)
        eni_df, _ = _dims(self.spark, self.dims)
        geo_flat = flatten_geo_dim(self.geo_df).persist()
        sent = self.spark.read.text([os.path.join(self.src, f"batch-{i:05d}.log")
                                     for i in range(PREFIX_BATCHES)])
        with tracer.span("decorate.prefixes"):
            out.update(_layer_self_times(sent, eni_df, geo_flat, unique_ids=True,
                                         geo_disjoint=True))
        with tracer.span("decorate.counts"):
            out.update(_layer_counts(sent, eni_df, self.geo_df))
        one = self.spark.read.text(os.path.join(self.src, "batch-00000.log"))
        plan = decorate_lines(one, eni_df, geo_flat, unique_ids=True,
                              geo_dim_is_disjoint=True)
        out.update(engine_metrics(execute_traced(plan._jdf)))
        geo_flat.unpersist()
        return out


def decorate_probe(spark, seed: int, work: str, tracer) -> dict:
    """Decorator layer self times and counters over a fresh seeded input,
    for traced runs of workloads that do not decorate."""
    dims = flowgen.make_dimensions(seed)
    src = reset_dir(os.path.join(work, "probe_in"))
    for i in range(PROBE_FILES):
        lines, _ = flowgen.make_file_lines(seed, i, STREAM_BATCH_LINES, dims)
        flowgen.write_lines(os.path.join(src, f"part-{i:03d}.log"), lines)
    eni_df, geo_df = _dims(spark, dims)
    lines = spark.read.text(src)
    with tracer.span("decorate.prefixes"):
        out = _layer_self_times(lines, eni_df, geo_df, unique_ids=False)
    with tracer.span("decorate.counts"):
        out.update(_layer_counts(lines, eni_df, geo_df))
    return out


def stream_probe(spark, seed: int, work: str, tracer) -> dict:
    """Streaming layers of a short stream, for traced runs of workloads that
    do not stream."""
    listener = ProgressListener()
    ds = DecorateStream()
    ds.setup(spark, seed, work, listener=listener)
    try:
        out = ds.streaming_layers(tracer, listener, PROBE_STREAM_BATCHES)
    finally:
        ds.teardown()
        spark.streams.removeListener(listener)
    return {k: v for k, v in out.items() if k.startswith("streaming.")}
