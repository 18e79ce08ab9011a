"""The benchmark's two workloads.

Each is a closed loop run by one process: one pass at a time, the next
starting only when the previous one and its checks are done.

- ``ingest``: ``engine.run_ingest`` over two feeds per pass. The CSV feed
  loads generated CSV lines into a parquet sink plus the BatchStatus/BatchRun
  ledgers (scan, parse, route, sink, ledger; no HTTP). The REST feed loads
  generated fixed-width lines through the REST sink, which posts every
  parsed record to a loopback stub, plus the ledgers.
- ``query_mix``: registered queries through ``registry.QUERIES`` on
  generated tables, each checked against its DuckDB oracle.

A workload exposes ``prepare`` (inputs, stub, oracle: not part of set-up time),
``warmup`` (the smoke-size action every set-up round ends with),
``warm_pass`` (one untimed full-size pass), ``timed`` (one pass, the timed
region) and ``check`` (the pass's correctness checks, outside the timed
region). ``timed`` takes a ``Tracer`` on traced passes. ``tamper`` spoils
one expected count, for the smoke mode's self-test.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import pickle
import random
import shutil
import subprocess
import sys
import time
import urllib.request

import inputs
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
COUNT_KEYS = ("totalRecordCount", "successCount", "failureCount")

# Lines per pass, and the smoke size every set-up round warms up with.
CSV_LINES, CSV_SMOKE_LINES = 150_000, 2_000
FW_LINES, FW_SMOKE_LINES = 500, 200
# Query tables: scale 1.0 is 60,000 lineitem rows; the smoke tables are 0.1.
TABLE_SCALE, SMOKE_TABLE_SCALE = 1.0, 0.1
MICRO_SAMPLE = 100_000  # records per driver-side parse/coerce micro-timing

# Every query here has a DuckDB oracle (registry.ORACLE).
QUERY_MIX = (
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q18_large_volume_customers",
    "win_topk_orders_per_priority",
    "dedup_minhash_lsh",
    "multimodal_jpeg_decode",
    "graph_label_propagation",
    "stream_tumbling_counts",
)
SMOKE_QUERIES = ("q1_pricing_summary", "dedup_minhash_lsh")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


def timed_s(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


class Workload:
    name = ""
    exclude_pids: set[int] = frozenset()

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        self.work, self.seed, self.smoke = work, seed, smoke

    def ops_per_pass(self) -> int:
        return 1

    def tamper(self) -> None:
        raise NotImplementedError

    def begin(self, pass_id: int) -> None:
        """Called right before each timed pass, outside the timed region."""

    def warm_pass(self, spark) -> None:
        """One untimed full-size pass after set-up."""

    def probes(self, spark) -> dict[str, float]:
        """Isolated layer measurements for the traced run."""
        return {}

    def jobs_per_query(self, pass_id: int, jobs: list[dict]) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


# --- ingest -----------------------------------------------------------------

class Feed:
    """One input file and the ``IngestJob`` that loads it. The ``ingest``
    workload runs every feed once per pass; a feed keeps its files under
    its own directory of the work dir."""

    name = ""
    lines = smoke_lines = 0
    has_sink = False
    exclude_pids: set[int] = frozenset()

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        self.work, self.seed, self.smoke = os.path.join(work, self.name), seed, smoke
        os.makedirs(self.work, exist_ok=True)

    def prepare(self) -> None:
        self.path = os.path.join(self.work, "input.txt")
        self.warm_path = os.path.join(self.work, "warmup.txt")
        n = self.smoke_lines if self.smoke else self.lines
        self.expected = self.generate(self.path, n, self.seed)
        self.generate(self.warm_path, self.smoke_lines, self.seed + 1)
        self.records = n

    def pass_dir(self, pass_id: int) -> str:
        return os.path.join(self.work, f"pass{pass_id}")

    def begin(self, pass_id: int) -> None:
        pass

    def warmup(self, spark) -> None:
        run_ingest(spark, self.job(self.warm_path, os.path.join(self.work, "warmup")))
        shutil.rmtree(os.path.join(self.work, "warmup"), ignore_errors=True)

    def warm_pass(self, spark) -> None:
        self.begin(-1)
        run_ingest(spark, self.job(self.path, self.pass_dir(-1)))
        shutil.rmtree(self.pass_dir(-1), ignore_errors=True)

    def run(self, spark, pass_id: int):
        return run_ingest(spark, self.job(self.path, self.pass_dir(pass_id)))

    def check(self, pass_id: int, result) -> tuple[list[str], dict]:
        import pyarrow.parquet as pq

        exp = {k: self.expected[k] for k in COUNT_KEYS}
        errors = []
        if result.counts != exp:
            errors.append(f"counts {result.counts} != expected {exp}")
        pdir = self.pass_dir(pass_id)
        if self.has_sink and parquet_rows(os.path.join(pdir, "sink")) != exp["successCount"]:
            errors.append("sink rows != successCount")
        status_dir = os.path.join(pdir, "ledger", "batch_status")
        if parquet_rows(status_dir) != exp["totalRecordCount"]:
            errors.append("BatchStatus rows != totalRecordCount")
        runs = pq.read_table(os.path.join(pdir, "ledger", "batch_run")).to_pylist()
        if len(runs) != 1 or any(runs[0][k] != v for k, v in exp.items()):
            errors.append(f"BatchRun rows {runs} do not carry the counts")
        counters = self.check_more(status_dir, errors)
        shutil.rmtree(pdir, ignore_errors=True)
        return errors, counters

    def check_more(self, status_dir: str, errors: list[str]) -> dict:
        return {}

    def scan_probe(self, spark) -> float:
        from oe_batch_processing_spark.sources.line_scan import line_scan

        return timed_s(noop, line_scan(spark, self.path, True))

    def sample_lines(self) -> list[str]:
        with open(self.path) as f:
            lines = f.read().splitlines()
        size = len(lines) if self.smoke else MICRO_SAMPLE
        return (lines * -(-size // len(lines)))[:size]

    def close(self) -> None:
        pass


def run_ingest(spark, job):
    from oe_batch_processing_spark import engine

    return engine.run_ingest(spark, job)


def coerce_field_us(rows: list[list[tuple[str, str]]]) -> float:
    from oe_batch_processing_spark.functions.coercion import coerce_field

    pairs = [p for row in rows for p in row]
    t0 = time.perf_counter()
    for value, ty in pairs:
        coerce_field(value, ty)
    return (time.perf_counter() - t0) / len(pairs) * 1e6


class CsvFeed(Feed):
    """Delimited lines into a parquet sink plus the ledgers; no HTTP."""

    name = "csv"
    lines, smoke_lines = CSV_LINES, CSV_SMOKE_LINES
    has_sink = True
    generate = staticmethod(inputs.write_csv)

    def job(self, path: str, out_dir: str):
        from oe_batch_processing_spark.engine import IngestJob
        from oe_batch_processing_spark.sources.csv_source import CsvOptions

        return IngestJob(
            file_path=path,
            parser="csv",
            csv_options=CsvOptions(csv_headers=inputs.CSV_HEADERS,
                                   csv_header_data_types=inputs.CSV_TYPES),
            sink_path=os.path.join(out_dir, "sink"),
            ledger_dir=os.path.join(out_dir, "ledger"),
        )

    def probes(self, spark) -> tuple[dict[str, float], list]:
        """Isolated layer timings, plus the (value, type) rows of the
        driver-side sample for the coercion timing."""
        from oe_batch_processing_spark.sources import csv_source
        from oe_batch_processing_spark.sources.line_scan import line_scan

        opts = self.job(self.path, self.work).csv_options
        opts.resolve()
        scan_s = self.scan_probe(spark)
        prefix_s = timed_s(noop, csv_source.csv_parse(line_scan(spark, self.path, True), opts))
        sample = self.sample_lines()
        t0 = time.perf_counter()
        for rec in sample:
            csv_source.parse_record(rec, opts)
        parse_us = (time.perf_counter() - t0) / len(sample) * 1e6
        fields = [csv_source.csv_to_array(rec) for rec in sample]
        rows = [list(zip(f, opts.resolved_types)) for f in fields if f and len(f) == 4]
        return {
            "sources.line_scan.s": scan_s,
            "sources.csv_source.csv_parse.s": prefix_s - scan_s,
            "sources.csv_source.parse_record.us": parse_us,
        }, rows


class Stub:
    """The loopback REST app, run as a child process (see stub.py)."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "stub.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.url = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"

    def _call(self, path: str, body: bytes | None = None) -> dict:
        with urllib.request.urlopen(self.url + path, data=body, timeout=10) as resp:
            return json.loads(resp.read())

    def stats(self) -> dict:
        return self._call("/stats")

    def reset(self) -> None:
        self._call("/reset", b"")

    def stop(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


class RestFeed(Feed):
    """Fixed-width lines posted through the REST sink to the stub, plus the
    ledgers: the reference's data plane."""

    name = "rest"
    lines, smoke_lines = FW_LINES, FW_SMOKE_LINES
    generate = staticmethod(inputs.write_fixed_width)

    def prepare(self) -> None:
        super().prepare()
        self.stub = Stub()
        self.exclude_pids = {self.stub.proc.pid}

    def rest_options(self):
        from oe_batch_processing_spark.sinks.rest_sink import RestSinkOptions

        return RestSinkOptions(app_base_url=self.stub.url, model_api="api/records",
                               max_concurrent=4, min_time_ms=0, rate_domains=1)

    def job(self, path: str, out_dir: str):
        from oe_batch_processing_spark.engine import IngestJob

        return IngestJob(
            file_path=path,
            parser="fw",
            fw_layout=inputs.FW_LAYOUT,
            rest_options=self.rest_options(),
            ledger_dir=os.path.join(out_dir, "ledger"),
        )

    def begin(self, pass_id: int) -> None:
        self.stub.reset()

    def check_more(self, status_dir: str, errors: list[str]) -> dict:
        import pyarrow.parquet as pq

        stats = self.stub.stats()
        if stats["requests"] != self.expected["requests"]:
            errors.append(f"stub saw {stats['requests']} requests, "
                          f"{self.expected['requests']} records reached the sink")
        if stats["accepted"] != self.expected["successCount"]:
            errors.append("stub accepted != successCount")
        codes = pq.read_table(status_dir, columns=["statusCode"]).column(0).to_pylist()
        return {
            "sinks.rest_sink.requests": stats["requests"],
            "sinks.rest_sink.connections": stats["connections"],
            "sinks.rest_sink.requests_per_connection":
                stats["requests"] / max(stats["connections"], 1),
            "sinks.rest_sink.transport_errors": codes.count(0),
        }

    def probes(self, spark) -> tuple[dict[str, float], list]:
        from oe_batch_processing_spark.sinks.rest_sink import rest_write
        from oe_batch_processing_spark.sources import fixed_width, outcome
        from oe_batch_processing_spark.sources.line_scan import line_scan

        scan_s = self.scan_probe(spark)
        prefix_s = timed_s(noop, fixed_width.fw_parse(line_scan(spark, self.path, True),
                                                      inputs.FW_LAYOUT))
        parsed = fixed_width.fw_parse(line_scan(spark, self.path, True), inputs.FW_LAYOUT).persist()
        parsed.count()
        self.stub.reset()
        rest_s = timed_s(noop, rest_write(outcome.route(parsed).success, self.rest_options()))
        parsed.unpersist()
        self.stub.reset()
        layout = fixed_width.validate_layout(inputs.FW_LAYOUT)
        sample = self.sample_lines()
        t0 = time.perf_counter()
        for rec in sample:
            fixed_width.parse_record(rec, layout)
        parse_us = (time.perf_counter() - t0) / len(sample) * 1e6
        rows = [[(rec[f.start_position - 1:f.end_position], f.type) for f in layout]
                for rec in sample if len(rec) == inputs.FW_WIDTH]
        return {
            "sources.line_scan.s": scan_s,
            "sources.fixed_width.fw_parse.s": prefix_s - scan_s,
            "sinks.rest_sink.rest_write.s": rest_s,
            "sources.fixed_width.parse_record.us": parse_us,
        }, rows

    def close(self) -> None:
        if hasattr(self, "stub"):
            self.stub.stop()


class Ingest(Workload):
    """``engine.run_ingest`` over both feeds, one after the other, per pass:
    the CSV feed writes parquet and the REST feed writes to an external
    app, so a sink change that helps one and costs the other shows in the
    per-feed times (``feed.<name>.s``) and in the layer metrics."""

    name = "ingest"

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        super().__init__(work, seed, smoke)
        self.feeds = [CsvFeed(work, seed, smoke), RestFeed(work, seed, smoke)]

    def prepare(self) -> None:
        for feed in self.feeds:
            feed.prepare()
        self.records = sum(feed.records for feed in self.feeds)
        self.exclude_pids = set().union(*(feed.exclude_pids for feed in self.feeds))

    def ops_per_pass(self) -> int:
        return len(self.feeds)

    def tamper(self) -> None:
        csv = self.feeds[0]
        csv.expected = {**csv.expected, "successCount": csv.expected["successCount"] + 1}

    def begin(self, pass_id: int) -> None:
        for feed in self.feeds:
            feed.begin(pass_id)

    def warmup(self, spark) -> None:
        """A smoke-size REST-feed ingest: it spins up the Python workers and
        runs every ingest layer but the parquet sink. The CSV feed's first
        run is left to the warm pass, which keeps each set-up round short."""
        self.feeds[1].warmup(spark)

    def warm_pass(self, spark) -> None:
        for feed in self.feeds:
            feed.warm_pass(spark)

    def _run(self, spark, pass_id: int) -> list[tuple]:
        out = []
        for feed in self.feeds:
            t0 = time.perf_counter()
            result = feed.run(spark, pass_id)
            out.append((result, time.perf_counter() - t0))
        return out

    def timed(self, spark, pass_id: int, tracer=None) -> list[tuple]:
        """Run every feed once; returns ``[(IngestResult, wall seconds)]``."""
        if tracer is None:
            return self._run(spark, pass_id)
        with tracing.patched(*self.span_patches(tracer, pass_id)):
            with tracer.span("pass", pass_id):
                return self._run(spark, pass_id)

    def span_patches(self, tracer, pass_id: int) -> list[tuple]:
        """The layer calls ``run_ingest`` makes, each wrapped in a span.
        The lazy calls (scan, parse, route, rest_write) only plan work
        unless they run a job themselves (exact line numbering does); the
        actions (sink write, ledger writes, counts) run it."""
        from pyspark.sql.readwriter import DataFrameWriter

        from oe_batch_processing_spark import engine
        from oe_batch_processing_spark.sinks import ledger
        from oe_batch_processing_spark.sources import outcome

        def w(fn, name, **kw):
            return tracer.wrap(fn, name, pass_id, **kw)

        return [
            (engine, "line_scan", w(engine.line_scan, "pass.line_scan")),
            (engine, "csv_parse", w(engine.csv_parse, "pass.parse")),
            (engine, "fw_parse", w(engine.fw_parse, "pass.parse")),
            (outcome, "route", w(outcome.route, "pass.route")),
            (engine, "rest_write", w(engine.rest_write, "pass.rest_write")),
            (ledger, "write_status", w(ledger.write_status, "sinks.ledger.write_status")),
            (ledger, "write_run", w(ledger.write_run, "sinks.ledger.write_run")),
            (outcome.RoutedRecords, "counts",
             w(outcome.RoutedRecords.counts, "sources.outcome.counts")),
            # the success-channel write is the only parquet write made
            # directly under the pass; the ledger writes have their own spans
            (DataFrameWriter, "parquet",
             w(DataFrameWriter.parquet, "engine.sink_write", only_under="pass")),
        ]

    def check(self, spark, pass_id: int, results: list[tuple]) -> tuple[list[str], dict]:
        errors, counters = [], {}
        for feed, (result, wall) in zip(self.feeds, results):
            feed_errors, feed_counters = feed.check(pass_id, result)
            if feed_errors:  # one failed operation per feed
                errors.append(f"{feed.name} feed: " + "; ".join(feed_errors))
            counters.update(feed_counters)
            counters[f"feed.{feed.name}.s"] = wall
        return errors, counters

    def probes(self, spark) -> dict[str, float]:
        (csv, csv_rows), (rest, rest_rows) = (feed.probes(spark) for feed in self.feeds)
        return {
            **csv,
            **rest,
            # both feeds scan their file in every pass
            "sources.line_scan.s": csv["sources.line_scan.s"] + rest["sources.line_scan.s"],
            "functions.coercion.coerce_field.us": coerce_field_us(csv_rows + rest_rows),
        }

    def close(self) -> None:
        for feed in self.feeds:
            feed.close()


# --- queries ----------------------------------------------------------------

class QueryMix(Workload):
    name = "query_mix"

    def prepare(self) -> None:
        self.names = list(SMOKE_QUERIES if self.smoke else QUERY_MIX)
        random.Random(self.seed).shuffle(self.names)  # the seed fixes the order
        scale = SMOKE_TABLE_SCALE if self.smoke else TABLE_SCALE
        self.tables = os.path.join(self.work, "tables")
        self.smoke_tables = os.path.join(self.work, "smoke_tables")
        self.records = sum(inputs.write_tables(self.tables, scale, self.seed).values())
        inputs.write_tables(self.smoke_tables, SMOKE_TABLE_SCALE, self.seed + 2)
        self.query_jobs: dict[int, dict[str, int]] = {}
        # the DuckDB oracle runs to completion before the JVM starts, so it
        # competes with no timed or set-up work
        out = os.path.join(self.work, "oracle.pkl")
        oracle = subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"),
                                 self.tables, out, *self.names])
        if oracle.returncode != 0:
            raise RuntimeError("the DuckDB oracle failed")
        with open(out, "rb") as f:
            self.oracle = pickle.load(f)

    def ops_per_pass(self) -> int:
        return len(self.names)

    @staticmethod
    def queries() -> dict:
        import oe_batch_processing_spark.operators  # noqa: F401  (registers queries)
        import oe_batch_processing_spark.streaming  # noqa: F401
        from oe_batch_processing_spark import registry

        return registry.QUERIES

    def _run(self, spark, tables: str, names) -> None:
        queries = self.queries()
        for n in names:
            queries[n](spark, tables).toPandas()

    def warmup(self, spark) -> None:
        self._run(spark, self.smoke_tables, SMOKE_QUERIES)

    def warm_pass(self, spark) -> None:
        self._run(spark, self.tables, self.names)

    def timed(self, spark, pass_id: int, tracer=None) -> dict:
        """Run every query once; returns ``{query: (pandas result or the
        exception it raised, wall seconds)}``."""
        queries = self.queries()
        out: dict = {}
        first_job = self.query_jobs[pass_id] = {}
        with tracer.span("pass", pass_id) if tracer else contextlib.nullcontext():
            for n in self.names:
                if tracer:
                    first_job[n] = tracing.last_job_id(spark)
                with tracer.span(f"query.{n}", pass_id) if tracer else contextlib.nullcontext():
                    t0 = time.perf_counter()
                    try:
                        got = queries[n](spark, self.tables).toPandas()
                    except Exception as e:  # noqa: BLE001 — counted as a failed op
                        got = e
                    out[n] = (got, time.perf_counter() - t0)
        return out

    def check(self, spark, pass_id: int, results: dict) -> tuple[list[str], dict]:
        from oe_batch_processing_spark.testing import compare

        errors = []
        for n in self.names:
            got = results[n][0]
            if isinstance(got, Exception):
                errors.append(f"{n}: raised {got!r}")
            elif mismatch := compare(got, self.oracle[n]):
                errors.append(f"{n}: {mismatch}")
        return errors, {f"query.{n}.s": results[n][1] for n in self.names}

    def jobs_per_query(self, pass_id: int, jobs: list[dict]) -> dict[str, float]:
        first = self.query_jobs.get(pass_id)
        if not first:
            return {}
        bounds = [first[n] for n in self.names] + [max([j["id"] for j in jobs], default=0)]
        return {
            f"query.{n}.jobs": sum(1 for j in jobs if lo < j["id"] <= hi)
            for n, lo, hi in zip(self.names, bounds, bounds[1:])
        }


WORKLOADS = {w.name: w for w in (Ingest, QueryMix)}
