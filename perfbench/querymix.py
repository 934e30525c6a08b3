"""The ``query_mix`` workload: 12 registered queries, construct + execute.

Construct-bound iterative queries (eager driver jobs while the builder
runs) sit beside execute-bound relational ones.  One operation is a pass
over all of them in a seed-shuffled order through
``__spark_entry__.queries()``: each query is built (construct) and its
result collected (execute); the pass latency is the sum over the queries.
The first pass of a run is a cold pass on a fresh session, and its results
are also the correctness check: every query's result must equal its
``__spark_entry__.oracle_sql()`` twin on DuckDB, compared the way
``tools/verify_local.py`` compares them (outside the timed region).
"""

from __future__ import annotations

import importlib.util
import os
import random
import statistics
import time

import common
import tablegen
from tracing import engine_metrics, execute_traced, job_group, plan_metrics

# ``corpus_curation_semantic`` is left out: its DuckDB oracle alone takes
# 17-26 s at 200-500 documents on a 4-vCPU VM, more than a run can afford
QUERIES = [
    "sim_ivfpq_rerank_topk", "dedup_paragraphs_near",
    "dedup_simhash_pair_stats", "multimodal_phash_dedup", "join_ip_longest_prefix",
    "flowlog_top_talkers", "tpch_q8_market_share", "join_multiway_star",
    "agg_pricing_summary", "window_topk_per_group", "text_bm25_search",
    "ts_sessionize",
]
WARMUP_QUERY = "agg_pricing_summary"


def _verify_local():
    path = os.path.join(common.ROOT, "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("perfbench_verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryMix:
    unit = "pass"
    setup_rounds = 4  # each round is about a second, so a few more are cheap
    warm_ops = 0  # the first, cold pass is the one measured

    def setup(self, spark, seed: int, work: str) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.sf_dir = common.reset_dir(os.path.join(work, "tables"))
        self.rows = tablegen.write_tables(self.sf_dir, seed)
        builders = entry.queries()
        self.builders = {q: builders[q] for q in QUERIES}
        self.oracles = entry.oracle_sql()
        self.rng = random.Random(f"mix-{seed}")
        self.samples: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.checked: tuple[int, int, list[str]] | None = None
        self.builders[WARMUP_QUERY](spark, self.sf_dir).toPandas()

    def teardown(self) -> None:
        pass

    def _plain(self, q: str) -> float:
        t = time.perf_counter()
        self.builders[q](self.spark, self.sf_dir).toPandas()
        return time.perf_counter() - t

    def op(self) -> tuple[int, float]:
        """One pass: (queries run, summed construct + collect seconds)."""
        order = QUERIES[:]
        self.rng.shuffle(order)
        results, total = {}, 0.0
        for q in order:
            t = time.perf_counter()
            results[q] = self.builders[q](self.spark, self.sf_dir).toPandas()
            dt = time.perf_counter() - t
            self.samples[q].append(dt)
            total += dt
        if self.checked is None:
            self.checked = self._check(results)
        return len(order), total

    def _check(self, results: dict) -> tuple[int, int, list[str]]:
        vl = _verify_local()
        con = vl.duck_connect(self.sf_dir)
        problems = []
        for q in QUERIES:
            try:
                ddf = con.sql(self.oracles[q]).df()
                hard = [p for p in vl.compare(q, results[q], ddf)
                        if not p.startswith("DTYPE")]
            except Exception as e:  # noqa: BLE001 - an oracle error fails the gate
                hard = [f"oracle error: {e}"[:300]]
            problems += [f"{q}: {p}" for p in hard]
        con.close()
        failed = len({p.split(":")[0] for p in problems})
        return len(QUERIES), failed, problems

    def gate(self) -> tuple[int, int, list[str]]:
        return self.checked

    def extra_info(self) -> dict:
        med = {q: statistics.median(v) for q, v in self.samples.items() if v}
        return {"query_median_s": med,
                "query_geomean_s": common.geomean(list(med.values())) if med else None,
                "table_rows": self.rows}

    def layers(self, tracer) -> dict:
        """``traced_pass`` with plain runs, after the run's cold plain pass
        (which is also the correctness check), plus the Python-worker
        traffic of ``multimodal_phash_dedup``'s kernels."""
        if self.checked is None:
            self.op()
        out = self.traced_pass(tracer, with_plain=True)
        # multimodal_phash_dedup runs its mapInPandas kernels in an eager
        # checkpoint while it is built, so its final plan holds no Python
        # node; read the Python-worker traffic from that kernel stage itself
        from aws_vpc_flow_log_appender_spark.ext.multimodal import (
            dhash_bmp, documents_as_bmp)

        with tracer.span("python_worker.multimodal_kernels"):
            kernels = execute_traced(dhash_bmp(documents_as_bmp(self.spark, self.sf_dir))._jdf)
        out["python_worker.rows"] = kernels["python_rows"]
        out["python_worker.bytes"] = kernels["python_bytes"]
        return out

    def traced_pass(self, tracer, with_plain: bool = False) -> dict:
        """Per query: construct vs execute time and eager (construct-time)
        jobs; summed over the mix: Catalyst phases, scheduler counts and
        shuffle bytes, read back from the QueryExecution the query's
        ``toPandas`` ran on.  With ``with_plain``, each query also runs
        untraced right before or after its traced run, alternating which
        goes first, so warm-up favours neither side of the tracing overhead;
        both sides collect with ``toPandas``."""
        out: dict[str, float] = {}
        totals: dict[str, float] = {}
        plain = traced = 0.0
        for i, q in enumerate(QUERIES):
            if with_plain and i % 2 == 1:
                plain += self._plain(q)
            start = time.perf_counter()
            with tracer.span(f"registry.{q}") as sp:
                with job_group(self.spark, f"construct-{q}") as built:
                    t = time.perf_counter()
                    df = self.builders[q](self.spark, self.sf_dir)
                    construct = time.perf_counter() - t
                with job_group(self.spark, f"execute-{q}") as ran:
                    t = time.perf_counter()
                    df.toPandas()
                    execute = time.perf_counter() - t
                engine = engine_metrics(plan_metrics(df._jdf.queryExecution()))
                sp["eager_jobs"] = built["jobs"]
            traced += time.perf_counter() - start
            if with_plain and i % 2 == 0:
                plain += self._plain(q)
            out[f"registry.construct_s.{q}"] = construct
            out[f"registry.execute_s.{q}"] = execute
            out[f"registry.eager_jobs.{q}"] = built["jobs"]
            for k in ("jobs", "stages", "tasks"):
                engine[f"scheduler.{k}"] = built[k] + ran[k]
            for k, v in engine.items():
                totals[k] = totals.get(k, 0) + v
        self.plain_ops, self.traced_ops = [plain], [traced]
        out.update(totals)
        return out


def registry_probe(spark, seed: int, work: str, tracer) -> dict:
    """Construct/execute split of every query in the mix on fresh tables,
    for traced runs of workloads that do not run the mix."""
    qm = QueryMix()
    qm.setup(spark, seed, work)
    out = qm.traced_pass(tracer)
    return {k: v for k, v in out.items() if k.startswith("registry.")}
