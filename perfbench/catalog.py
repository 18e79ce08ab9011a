"""Every metric the benchmark prints: name, unit, direction, and for each
per-layer metric the end-to-end metric and workload it should move.

``BENCHMARK.json`` at the repository root lists the same names and units;
``run.py --smoke`` checks that the two agree.
"""

from __future__ import annotations

from workloads import QUERY_MIX

# name: (unit, better, bound, meaning)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25,
                "median over 3 set-up rounds of session build + package ship + smoke-size "
                "warm-up; the first round also pays imports and the JVM launch"),
    "wall_s": ("s", "lower", 0.25, "median wall time of one pass"),
    "records_per_s": ("1/s", "higher", 0.25,
                      "input records (lines, or table rows for query_mix) / wall_s"),
    "cpu_s": ("s", "lower", 0.25,
              "median user+sys CPU per pass of driver, JVM and Python workers (/proc)"),
}

INGEST = "ingest (both feeds)"
CSV = "ingest (CSV feed)"
REST = "ingest (REST feed)"

# name: (unit, better, what it should move)
PER_LAYER = {
    # span self times of the median traced pass (they add up to its wall)
    "pass.line_scan.s": ("s", "lower", f"wall_s on {INGEST} (exact numbering runs a job here)"),
    "pass.parse.s": ("s", "lower", f"wall_s on {INGEST} (plan build only)"),
    "pass.route.s": ("s", "lower", f"wall_s on {INGEST} (plan build only)"),
    "pass.rest_write.s": ("s", "lower", f"wall_s on {REST} (plan build only)"),
    "engine.sink_write.s": ("s", "lower", f"wall_s on {CSV}; nothing on the REST feed"),
    "sinks.ledger.write_status.s": ("s", "lower", f"wall_s on {INGEST}"),
    "sources.outcome.counts.s": ("s", "lower", f"wall_s on {INGEST} (ROADMAP item 2)"),
    "sinks.ledger.write_run.s": ("s", "lower", f"wall_s on {INGEST}"),
    "pass.unexplained_s": ("s", "lower", "wall_s on the workload run (root span self time)"),
    "pass.traced_wall_s": ("s", "lower", "wall_s on the workload run (traced pass)"),
    "trace.overhead_s": ("s", "lower", "none: traced minus untraced pass wall"),
    # wall time of each feed's run_ingest call, per pass
    "feed.csv.s": ("s", "lower", f"wall_s, records_per_s on {CSV}"),
    "feed.rest.s": ("s", "lower", f"wall_s on {REST}"),
    # isolated probes after the traced passes (line_scan: both files)
    "sources.line_scan.s": ("s", "lower", f"wall_s, records_per_s on {INGEST}; nothing on query_mix"),
    "sources.csv_source.csv_parse.s": ("s", "lower", f"wall_s, cpu_s on {CSV}"),
    "sources.fixed_width.fw_parse.s": ("s", "lower", f"wall_s on {REST} (small share)"),
    "sinks.rest_sink.rest_write.s": ("s", "lower", f"wall_s on {REST}; nothing on the CSV feed"),
    "sources.csv_source.parse_record.us": ("us", "lower", f"cpu_s, wall_s on {CSV}"),
    "sources.fixed_width.parse_record.us": ("us", "lower", f"cpu_s on {REST}"),
    "functions.coercion.coerce_field.us": ("us", "lower", f"cpu_s, wall_s on {INGEST}"),
    # the REST stub's counters, per pass
    "sinks.rest_sink.requests": ("count", "lower", f"wall_s on {REST} (no re-POSTs)"),
    "sinks.rest_sink.connections": ("count", "lower", f"wall_s on {REST}"),
    "sinks.rest_sink.requests_per_connection": ("ratio", "higher", f"wall_s on {REST}"),
    "sinks.rest_sink.transport_errors": ("count", "lower", f"wall_s on {REST}"),
    # session hygiene after each pass, before the benchmark's own cleanup
    "registry.leftover_persisted_rdds": ("count", "lower", "peak_rss_mb on query_mix (ROADMAP item 3)"),
    "registry.cache_manager_nonempty": ("count", "lower", "peak_rss_mb on query_mix (ROADMAP item 3)"),
    "registry.changed_confs": ("count", "lower", "none (ROADMAP item 3)"),
    "engine.leftover_tmp_dirs": ("count", "lower", "none (ROADMAP item 3)"),
    # Spark's own counters for the jobs of one pass
    "spark.jobs": ("count", "lower", "wall_s on the workload run"),
    "spark.stages": ("count", "lower", "wall_s on the workload run"),
    "spark.tasks": ("count", "lower", "wall_s on the workload run"),
    "spark.executor_run_s": ("s", "lower", "cpu_s, wall_s on the workload run"),
    "spark.executor_cpu_s": ("s", "lower", "cpu_s on the workload run"),
    "spark.jvm_gc_s": ("s", "lower", "cpu_s, wall_s on the workload run"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "wall_s on the workload run"),
    "spark.spill_bytes": ("bytes", "lower", "wall_s, peak_rss_mb on the workload run"),
    "spark.input_bytes": ("bytes", "lower", "wall_s on the workload run"),
    "spark.output_bytes": ("bytes", "lower", f"wall_s on {INGEST}"),
    "spark.python_worker_s": ("s", "lower", "cpu_s on every workload (Python-worker CPU)"),
    "cpu.driver_s": ("s", "lower", "cpu_s on every workload"),
    "cpu.jvm_s": ("s", "lower", "cpu_s on every workload"),
    "driver.outside_jobs_s": ("s", "lower", "wall_s on query_mix (the floor-bound case)"),
    # invocation-level
    "op_fail_ratio": ("ratio", "lower", "none: failed / attempted operations, 0 today"),
    # per-layer, not end-to-end: the JVM's heap growth differs from run to
    # run on the same inputs (its peak ranged 0.8-1.5 GB), so this does not
    # repeat within a tenth
    "peak_rss_mb": ("MB", "lower",
                    "none: highest summed VmHWM of driver, JVM and Python workers"),
    "setup.cold_s": ("s", "lower", "setup_s (first set-up round)"),
    "setup.warm_pass_s": ("s", "lower", "none: the untimed full-size pass after set-up"),
    "window.loadavg_1m_start": ("load", "lower", "none: contention at the start"),
    "window.loadavg_1m_end": ("load", "lower", "none: contention at the end"),
    "window.calib_py_start_s": ("s", "lower", "none: pure-Python loop at the start"),
    "window.calib_py_end_s": ("s", "lower", "none: pure-Python loop at the end"),
    "window.calib_spark_start_s": ("s", "lower", "none: Spark range aggregate at the start"),
    "window.calib_spark_end_s": ("s", "lower", "none: Spark range aggregate at the end"),
}
for _q in QUERY_MIX:
    PER_LAYER[f"query.{_q}.s"] = ("s", "lower", "wall_s, cpu_s on query_mix; nothing on ingest")
    PER_LAYER[f"query.{_q}.jobs"] = ("count", "lower", "wall_s on query_mix")
