"""The benchmark's workloads.

Each workload is a closed loop with one client: a pass starts after
the previous pass completed. ``generate`` writes the seeded inputs,
``prepare`` loads what the program needs before its first pass, and
``run_pass`` runs one pass and checks what can be checked cheaply. A
pass with ``check=True`` keeps every output, and ``verify`` then
compares them with an independent reference; the run makes exactly one
such pass, first (the cold pass), followed by ``warm_passes`` untimed
ones, and verifies it before the timed passes start.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import gen

#: The registered queries of the ``query_mix`` workload, by family, in
#: pass order. ``analytics_sql`` runs entirely in JVM codegen (scan,
#: join, aggregate, window); ``corpus_prep`` runs the LLM-corpus
#: operators (text functions, Arrow/Python kernels, dedup, similarity,
#: multimodal, ``catalog.fan_out``).
QUERY_FAMILIES = {
    "analytics_sql": ["tpch_q12_priority_by_tier", "tpch_q21_waiting_suppliers"],
    "corpus_prep": ["dedup_minhash", "sim_ivf_topk", "mm_features"],
}
QUERIES = [q for family in QUERY_FAMILIES.values() for q in family]

#: Fixture tables whose rows count as the query workload's input.
INPUT_TABLES = ["customer", "supplier", "part", "orders", "lineitem",
                "documents", "embeddings"]

#: Input sizes. Fixture scale 1.0 = the sf0.1 fixture row counts; the
#: corpus tables get their own scale (half of sf0.1: the DuckDB oracle
#: of ``dedup_minhash`` alone takes ~8 s per run at full size).
FIXTURE_SCALE = 1.0
CORPUS_SCALE = 0.5
CDR_RECORDS = 300_000
CDR_FILES = 32
#: The stream backlog the CDR pass drains: one micro-batch per file.
STREAM_FILES = 3
STREAM_PER_FILE = 10_000
STREAM_WATERMARK = "10 minutes"
STREAM_TIMEOUT_S = 60


@dataclass
class PassResult:
    seconds: float
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    #: step name -> seconds (query workloads: build + run)
    steps: dict[str, float] = field(default_factory=dict)
    #: ``seconds`` scaled by the granted vCPU share (tracing.granted_seconds)
    granted_s: float = 0.0
    #: the stream step's ``StreamingQuery.recentProgress``, one per batch
    stream_progress: list[dict] = field(default_factory=list)


@dataclass
class Context:
    spark: object
    tracer: object


def _describe(ctx: Context, pass_id: str, step: str) -> None:
    """Attribute the Spark jobs and the spans that follow to this step."""
    ctx.spark.sparkContext.setJobDescription(f"{pass_id}:{step}")
    ctx.tracer.pass_id = pass_id


class CdrMediation:
    """Mediation and rating of kv wire files (the paper's core job):
    ``run_batch_pipeline`` parses, validates, promotes, rates and routes
    the records into a route-partitioned parquet sink; the pass then
    reads the sink back and rolls charges up per route × usage tier
    through ``range_join`` against the tariff. Last, it drains a landed
    backlog of kv micro-batch files through the checkpointed, routed
    stream: ``read_stream("kv_text")`` → ``spec.compile`` →
    ``dedup_within_watermark`` on ``s`` → ``start_routed_stream``,
    started under a ``PipelineManager``, and counts the committed rows
    per route."""

    name = "cdr_mediation"
    #: untimed passes after the checked one; from the third pass on a
    #: pass is within a few per cent of the later ones
    warm_passes = 1

    def __init__(self, records: int = CDR_RECORDS, files: int = CDR_FILES):
        self.records, self.files = records, files
        #: called with ("batch" | "stream", sink directory) between write
        #: and read-back (the self-test uses it to tamper with the output)
        self.tamper = None

    def generate(self, work: str, seed: int) -> int:
        self.in_dir = os.path.join(work, "cdr_in")
        self.out_dir = os.path.join(work, "cdr_out")
        self.expected = gen.write_cdr(self.in_dir, seed, self.records, self.files)
        self.input_bytes, _ = gen.dir_bytes(self.in_dir)
        self.stream_in = os.path.join(work, "stream_in")
        self.stream_work = os.path.join(work, "stream")
        self.stream_expected = gen.write_cdr_stream(
            self.stream_in, seed, STREAM_FILES, STREAM_PER_FILE)
        return self.records + STREAM_FILES * STREAM_PER_FILE

    def prepare(self, ctx: Context) -> None:
        import etl_work_flow_for_big_data_spark.operators.transforms  # noqa: F401  (registers ops)
        from etl_work_flow_for_big_data_spark.plans.spec import PipelineSpec

        stages = [
            ("filter_valid", {"required": "s"}),
            ("with_column", {"name": "amount", "expr": "cast(attrs['u'] as double)"}),
            ("with_column", {"name": "discount", "expr": "cast(attrs['d'] as double)"}),
            ("with_column", {"name": "tax", "expr": "cast(attrs['x'] as double)"}),
            ("rate", {"amount": "amount", "discount": "discount", "tax": "tax"}),
            ("route_by", {"key": "t"}),
            ("project", {"columns": ["s", "f", "route", "amount", "charge"]}),
        ]
        rows = [{"session_id": i + 1, "operator_name": op, "params": params,
                 "next_session_id": i + 2 if i + 1 < len(stages) else None}
                for i, (op, params) in enumerate(stages)]
        # the terminal route tag makes the runner partition the sink by route
        rows[-1]["next_component_type"] = "mediated"
        self.spec = PipelineSpec.from_rows("cdr_mediation", rows)
        self.tariff = ctx.spark.createDataFrame(
            list(gen.TARIFF), "lo double, hi double, tier string")
        stream_stages = [
            ("filter_valid", {"required": "s"}),
            ("with_column", {"name": "ts", "expr": "timestamp_seconds(cast(attrs['e'] as bigint))"}),
            ("route_by", {"key": "t"}),
            ("project", {"columns": ["s", "route", "ts"]}),
        ]
        self.stream_spec = PipelineSpec.from_rows("cdr_stream", [
            {"session_id": i + 1, "operator_name": op, "params": params,
             "next_session_id": i + 2 if i + 1 < len(stream_stages) else None}
            for i, (op, params) in enumerate(stream_stages)])

    def run_pass(self, ctx: Context, pass_id: str, check: bool) -> PassResult:
        from pyspark.sql import functions as F

        from etl_work_flow_for_big_data_spark.operators import joins
        from etl_work_flow_for_big_data_spark.plans import runner

        t0 = time.perf_counter()
        _describe(ctx, pass_id, "pipeline")
        runner.run_batch_pipeline(
            ctx.spark, self.spec,
            runner.IOBinding("kv_text", self.in_dir),
            runner.IOBinding("parquet", self.out_dir),
        )
        t1 = time.perf_counter()
        if self.tamper is not None:
            self.tamper("batch", self.out_dir)
        _describe(ctx, pass_id, "rollup")
        rated = joins.range_join(ctx.spark.read.parquet(self.out_dir), self.tariff, "amount")
        rows = (rated.groupBy("route", "tier")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("charge").alias("charge"))
                .collect())
        t2 = time.perf_counter()
        _describe(ctx, pass_id, "stream")
        with ctx.tracer.span("streaming.drain"):
            progress = self.drain_stream(ctx, pass_id)
        t3 = time.perf_counter()
        if self.tamper is not None:
            self.tamper("stream", self.stream_out)
        _describe(ctx, pass_id, "stream_readback")
        committed = ctx.spark.read.parquet(self.stream_out).groupBy("route").count().collect()
        t4 = time.perf_counter()
        res = PassResult(seconds=t4 - t0, attempted=2, stream_progress=progress,
                         steps={"pipeline": t1 - t0, "rollup": t2 - t1,
                                "stream": t3 - t2, "stream_readback": t4 - t3})
        for problem in (self.check_rollup(rows), self.check_stream(committed)):
            if problem:
                res.failed += 1
                res.errors.append(problem)
        return res

    def drain_stream(self, ctx: Context, pass_id: str) -> list[dict]:
        """Drain the landed backlog with a fresh checkpoint: the routed
        stream runs one micro-batch per file (``availableNow``) and
        stops when the backlog is committed."""
        from etl_work_flow_for_big_data_spark.sources.registry import DEFAULT as SOURCES
        from etl_work_flow_for_big_data_spark.streaming import engine, sinks, windows

        shutil.rmtree(self.stream_work, ignore_errors=True)
        work = os.path.join(self.stream_work, pass_id)
        self.stream_out = os.path.join(work, "out")
        started = []

        def build(spark):
            stream = SOURCES.read_stream(spark, "kv_text", self.stream_in, None,
                                         maxFilesPerTrigger=1)
            deduped = windows.dedup_within_watermark(
                self.stream_spec.compile(stream), keys=["s"], ts_col="ts",
                watermark=STREAM_WATERMARK)
            query = sinks.start_routed_stream(deduped, self.stream_out,
                                              os.path.join(work, "checkpoint"))
            started.append(query)
            return query

        manager = engine.PipelineManager(ctx.spark)
        manager.register("cdr_stream", build)
        manager.start("cdr_stream")
        query = started[0]
        try:
            if not query.awaitTermination(STREAM_TIMEOUT_S):
                raise TimeoutError(f"stream did not drain within {STREAM_TIMEOUT_S}s")
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
        finally:
            manager.stop("cdr_stream")
        return [p for p in query.recentProgress if p["numInputRows"] > 0]

    def check_stream(self, rows) -> str | None:
        """Committed rows per route must equal the generator's count of
        distinct records, after dedup on ``s``."""
        got = {r["route"]: r["count"] for r in rows}
        if got != self.stream_expected["by_route"]:
            diff = sorted(set(got.items()) ^ set(self.stream_expected["by_route"].items()))[:4]
            return f"stream committed rows per route differ: {diff}"
        return None

    def verify(self, res: PassResult) -> None:
        """Every pass already checked its roll-up and the stream's committed rows."""

    def check_rollup(self, rows) -> str | None:
        """Counts must match exactly and charge totals to the cent,
        per route × tier and per route."""
        got_tier = {f"{r['route']}|{r['tier']}": (r["n"], round(r["charge"] * 100)) for r in rows}
        want_tier = {k: tuple(v) for k, v in self.expected["by_route_tier"].items()}
        if got_tier != want_tier:
            diff = sorted(set(got_tier.items()) ^ set(want_tier.items()))[:4]
            return f"route x tier rollup differs: {diff}"
        by_route: dict[str, list[int]] = {}
        for key, (n, cents) in got_tier.items():
            acc = by_route.setdefault(key.split("|")[0], [0, 0])
            acc[0] += n
            acc[1] += cents
        if by_route != self.expected["by_route"]:
            return "per-route totals differ"
        return None

    def output_stats(self) -> tuple[int, int]:
        return gen.dir_bytes(self.out_dir)


class QueryMix:
    """Registered queries of both families over one seeded fixture
    directory, each built and then written through the ``noop`` sink.
    The check pass collects each result instead; ``verify`` compares it
    with the query's DuckDB oracle (``tests/parity.compare``)."""

    name = "query_mix"
    #: untimed passes after the checked one; the passes get faster up
    #: to the fifth (JIT of the generated and operator code of five
    #: different queries): two take the steep part, and the timed pass
    #: after them is within ~10 % of the later ones
    warm_passes = 2

    def __init__(self, queries: list[str] | None = None,
                 scale: float = FIXTURE_SCALE, corpus_scale: float = CORPUS_SCALE):
        self.queries = list(QUERIES if queries is None else queries)
        self.scale, self.corpus_scale = scale, corpus_scale
        #: called with (query name, arrow table) before the oracle
        #: compare; returns the table to compare (self-test tampering)
        self.tamper = None

    def generate(self, work: str, seed: int) -> int:
        self.fixture = os.path.join(work, "fixture")
        rows = gen.write_fixture(self.fixture, seed, self.scale, self.corpus_scale)
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.fixture, f"{t}.parquet"))
            for t in INPUT_TABLES)
        return sum(rows[t] for t in INPUT_TABLES)

    def prepare(self, ctx: Context) -> None:
        from etl_work_flow_for_big_data_spark.queries import load_all

        registry = load_all()
        self.specs = {q: registry[q] for q in self.queries}
        self.fetched = {}

    def run_pass(self, ctx: Context, pass_id: str, check: bool) -> PassResult:
        from etl_work_flow_for_big_data_spark.sources.registry import SINKS

        res = PassResult(seconds=0.0)
        t_pass = time.perf_counter()
        for q in self.queries:
            _describe(ctx, pass_id, q)
            res.attempted += 1
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span(f"queries.{q}.build"):
                    df = self.specs[q].fn(ctx.spark, self.fixture)
                t1 = time.perf_counter()
                with ctx.tracer.span(f"queries.{q}.run"):
                    if check:
                        self.fetched[q] = df.toArrow()
                    else:
                        SINKS.write("noop", df, "")
                t2 = time.perf_counter()
                res.steps[f"{q}.build"] = t1 - t0
                res.steps[f"{q}.run"] = t2 - t1
            except Exception as exc:  # noqa: BLE001 — a failed query is counted, the pass goes on
                res.failed += 1
                res.errors.append(f"{q}: {type(exc).__name__}: {str(exc)[:300]}")
        res.seconds = time.perf_counter() - t_pass
        return res

    def verify(self, res: PassResult) -> None:
        """Compare the results the check pass kept with the oracles."""
        import duckdb
        from parity import compare

        con = duckdb.connect()
        try:
            for t in os.listdir(self.fixture):
                view = t.removesuffix(".parquet")
                con.execute(f"CREATE VIEW {view} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.fixture, t)}')")
            for q, table in self.fetched.items():
                if self.tamper is not None:
                    table = self.tamper(q, table)
                try:
                    compare(_Fetched(table), con.sql(self.specs[q].oracle))
                except Exception as exc:  # noqa: BLE001 — mismatch or oracle error: the output is unverified
                    res.failed += 1
                    res.errors.append(f"{q} oracle: {type(exc).__name__}: {str(exc)[:300]}")
        finally:
            con.close()
            self.fetched = {}

    def output_stats(self) -> tuple[int, int]:
        return 0, 0


class _Fetched:
    """Adapter so ``parity.compare`` reuses an already collected result
    instead of running the query a second time."""

    def __init__(self, table):
        self._table = table

    def toArrow(self):  # noqa: N802 — mirrors DataFrame.toArrow
        return self._table


WORKLOADS = {"cdr_mediation": CdrMediation, "query_mix": QueryMix}
