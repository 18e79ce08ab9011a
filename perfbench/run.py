"""Benchmark command for the ingestion engine and its query registry.

    python3 perfbench/run.py --workload ingest --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One invocation runs one workload (see
workloads.py) for ``--seconds`` seconds of passes and prints, as the last
line of stdout, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (catalog.py lists both). The line before
it is the window record: load average and two fixed calibration jobs,
sampled at the start and at the end of the invocation.

An invocation:
1. generates its inputs from ``--seed`` (for ``ingest`` it also starts the
   REST stub; for ``query_mix`` it computes the DuckDB oracle results);
2. sets up three times: build the session with ``session.get_spark``, ship
   the package to the Python workers, run a smoke-size warm-up. The first
   round also imports the engine and launches the JVM; ``setup_s`` is the
   median of the three rounds;
3. runs one untimed full-size warm pass, then timed passes until
   ``--seconds`` have passed. Each pass runs under its own Spark job group;
   after it, outside the timed region, its outputs are checked and the
   session's leftovers (persisted RDDs, cached plans, changed confs,
   ``oebp-*`` temp dirs) are counted, then cleared;
4. with ``--trace 1``: the first half of the passes is untraced, the second
   half records spans around each layer call, the event log is on, and
   isolated layer probes run at the end.

All scratch files (inputs, sinks, Spark local dirs, temp dirs, event log)
live under ``.perfbench_work/`` in the repository root and are removed at the
end; the results of each invocation are appended to
``.perfbench_work/results.jsonl``.

``--smoke`` runs every workload at smoke size (2,000 CSV lines and 200 REST
lines, 2 queries on 0.1-scale tables) in one process, checks that every
metric in BENCHMARK.json prints with its unit, and that a wrong expected
count is reported as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import sysprobe  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, timed_s  # noqa: E402

SETUP_ROUNDS = 3
# local[2]: the Python workers, the REST stub and the driver keep the other
# two of the four cores, so a pass does not wait on the OS scheduler
SPARK_CPUS = "2"
DRIVER_MEMORY = "2g"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def configure_process(work: str) -> str:
    """Point every scratch location of Spark, its Python workers and the
    engine at ``work``; returns the temp dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher's included
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=SPARK_CPUS,
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    tempfile.tempdir = None
    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp(suffix=None, prefix=None, dir=None):  # noqa: A002
        # the streaming operators root their checkpoints on /dev/shm
        return real_mkdtemp(suffix, prefix, tmp)

    tempfile.mkdtemp = mkdtemp
    return tmp


class Session:
    """Builds and rebuilds the SparkSession the way a user of the engine
    does, with every scratch dir inside the work dir."""

    def __init__(self, work: str, tmp: str, trace: bool) -> None:
        self.work, self.tmp, self.trace = work, tmp, trace
        self.spark = None
        self.zip_path = None
        self.eventlog_dir = os.path.join(work, "eventlog")

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }
        # options given to SparkSession carry over to later sessions of the process
        conf["spark.eventLog.enabled"] = "false"
        if self.trace:
            conf.update(tracing.eventlog_conf(self.eventlog_dir))
        return conf

    def start(self):
        from oe_batch_processing_spark import registry
        from oe_batch_processing_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self._ship(registry)
        return self.spark

    def _ship(self, registry) -> None:
        """``registry._ship_package``, with the zip kept in the work dir
        (the registry writes it to a fixed path under /tmp, shared by every
        checkout on the machine)."""
        pkg = os.path.join(ROOT, "oe_batch_processing_spark")
        if self.zip_path is None:
            self.zip_path = os.path.join(self.work, "oe_batch_processing_spark_pyfiles.zip")
            with zipfile.ZipFile(self.zip_path, "w") as zf:
                for base, _dirs, files in os.walk(pkg):
                    for f in files:
                        if f.endswith(".py"):
                            full = os.path.join(base, f)
                            zf.write(full, os.path.join("oe_batch_processing_spark",
                                                        os.path.relpath(full, pkg)))
        sc = self.spark.sparkContext
        sc.addPyFile(self.zip_path)
        registry._PYFILES_SENT.add(sc.applicationId)

    def stop(self) -> str | None:
        """Stop the session; returns its application id."""
        if self.spark is None:
            return None
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        return app_id



def shutdown_jvm() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def hygiene(spark, tmp: str, base_confs: dict) -> dict[str, int]:
    """Count what the pass left in the session, then clear it."""
    jsc = spark.sparkContext._jsc
    rdds = jsc.getPersistentRDDs()
    confs = dict(spark.conf.getAll)
    keys = set(confs) | set(base_confs)
    tmp_dirs = [d for d in os.listdir(tmp) if d.startswith("oebp-")]
    out = {
        "registry.leftover_persisted_rdds": len(rdds),
        "registry.cache_manager_nonempty":
            0 if spark._jsparkSession.sharedState().cacheManager().isEmpty() else 1,
        "registry.changed_confs": sum(1 for k in keys if confs.get(k) != base_confs.get(k)),
        "engine.leftover_tmp_dirs": len(tmp_dirs),
    }
    spark.catalog.clearCache()
    for rdd in list(rdds.values()):
        rdd.unpersist(False)
    for d in tmp_dirs:
        shutil.rmtree(os.path.join(tmp, d), ignore_errors=True)
    return out


def run_passes(spark, wl, tmp, base_confs, seconds, first_id, tracer):
    """Timed passes until ``seconds`` have passed (at least one)."""
    passes = []
    me = os.getpid()
    t_end = time.perf_counter() + seconds
    pass_id = first_id
    while True:
        wl.begin(pass_id)
        before = tracing.last_job_id(spark)
        spark.sparkContext.setJobGroup(f"perfbench-{wl.name}-{pass_id}", f"pass {pass_id}")
        cpu0 = sysprobe.tree_cpu(me, wl.exclude_pids)
        epoch0 = time.time() * 1000
        t0 = time.perf_counter()
        try:
            state, error = wl.timed(spark, pass_id, tracer), None
        except Exception as e:  # noqa: BLE001 — a pass that raised is a failed op
            state, error = None, e
        wall = time.perf_counter() - t0
        epoch1 = time.time() * 1000
        cpu1 = sysprobe.tree_cpu(me, wl.exclude_pids)
        if error is None:
            errors, counters = wl.check(spark, pass_id, state)
        else:
            errors, counters = [f"pass raised {error!r}"], {}
        jobs = tracing.jobs_after(spark, before)
        rec = {
            "id": pass_id,
            "traced": tracer is not None,
            "wall_s": wall,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu1},
            "ops": wl.ops_per_pass(),
            "failed": min(len(errors), wl.ops_per_pass()),
            "errors": errors,
            "jobs": (jobs[0]["id"], jobs[-1]["id"]) if jobs else None,
            "counters": {
                **counters,
                **hygiene(spark, tmp, base_confs),
                "spark.jobs": len(jobs),
                "spark.stages": sum(j["stages"] for j in jobs),
                "spark.tasks": sum(j["tasks"] for j in jobs),
                "driver.outside_jobs_s": wall - tracing.union_s(
                    [(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"]], epoch0, epoch1),
            },
        }
        if tracer is not None:
            self_times = tracer.self_times(pass_id)
            rec["self_times"] = self_times
            rec["counters"].update(wl.jobs_per_query(pass_id, jobs))
        for e in errors:
            print(f"[perfbench] {wl.name} pass {pass_id}: {e}", file=sys.stderr)
        rec["hwm_mb"] = sysprobe.tree_hwm_mb(me, wl.exclude_pids)
        passes.append(rec)
        pass_id += 1
        if time.perf_counter() >= t_end:
            return passes


def median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def layer_metrics(passes, probes, extra) -> dict[str, float]:
    """The per-layer metrics of one traced invocation (0 where the
    workload does not exercise the layer)."""
    import catalog

    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    out = dict.fromkeys(catalog.PER_LAYER, 0.0)
    counter_names = {k for p in passes for k in p["counters"]}
    for name in counter_names:
        out[name] = median(p["counters"][name] for p in passes if name in p["counters"])
    if traced:
        # self times of one pass (the median one by wall), so they add up
        # to its wall exactly
        rep = sorted(traced, key=lambda p: p["wall_s"])[(len(traced) - 1) // 2]
        for name, value in rep["self_times"].items():
            out["pass.unexplained_s" if name == "pass" else name + ".s"] = value
        out["pass.traced_wall_s"] = sum(rep["self_times"].values())
    out["trace.overhead_s"] = median(p["wall_s"] for p in traced) - median(
        p["wall_s"] for p in untraced)
    out["spark.python_worker_s"] = median(p["cpu"]["python_workers"] for p in passes)
    out["cpu.driver_s"] = median(p["cpu"]["driver"] for p in passes)
    out["cpu.jvm_s"] = median(p["cpu"]["jvm"] for p in passes)
    out.update(probes)
    out.update(extra)
    return {k: out[k] for k in catalog.PER_LAYER}


def run_workload(name: str, seed: int, seconds: float, trace: bool, smoke: bool,
                 work: str, tamper: bool = False, setup_rounds: int = SETUP_ROUNDS) -> dict:
    """One invocation; returns the result record (metrics of both kinds
    when ``trace``, end-to-end only otherwise)."""
    tmp = configure_process(work)
    wl = WORKLOADS[name](work, seed, smoke)
    session = Session(work, tmp, trace)
    marks = [("start", time.perf_counter())]
    try:
        wl.prepare()
        marks.append(("prepare", time.perf_counter()))
        if tamper:  # the smoke self-test: a wrong expectation must fail
            wl.tamper()
        window = {"start": sysprobe.window_sample()}
        setup = []
        for _ in range(setup_rounds):
            t0 = time.perf_counter()
            session.stop()
            spark = session.start()
            wl.warmup(spark)
            setup.append(time.perf_counter() - t0)
        marks.append(("setup", time.perf_counter()))
        window["start"]["calib_spark_s"] = sysprobe.spark_calibration_s(spark)
        hwm_mb = [sysprobe.tree_hwm_mb(os.getpid(), wl.exclude_pids)]
        warm_pass_s = timed_s(wl.warm_pass, spark)
        base_confs = dict(spark.conf.getAll)
        hygiene(spark, tmp, base_confs)
        marks.append(("warm_pass", time.perf_counter()))
        tracer = tracing.Tracer() if trace else None
        half = seconds / 2 if trace else seconds
        passes = run_passes(spark, wl, tmp, base_confs, half, 0, None)
        probes = {}
        if trace:
            passes += run_passes(spark, wl, tmp, base_confs, half, len(passes), tracer)
            probes = wl.probes(spark)
        marks.append(("passes", time.perf_counter()))
        window["end"] = sysprobe.window_sample(spark)
        hwm_mb.append(sysprobe.tree_hwm_mb(os.getpid(), wl.exclude_pids))
        app_id = session.stop()
    finally:
        session.stop()
        wl.close()
    marks.append(("end", time.perf_counter()))

    untraced = [p for p in passes if not p["traced"]]
    wall = median(p["wall_s"] for p in untraced)
    attempted = sum(p["ops"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    e2e = {
        "setup_s": median(setup),
        "wall_s": wall,
        "records_per_s": wl.records / wall,
        "cpu_s": median(p["cpu"]["total"] for p in untraced),
    }
    peak_rss_mb = max(hwm_mb + [p["hwm_mb"] for p in passes])
    record = {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "smoke": smoke, "attempted": attempted, "failed": failed,
        "window": window, "setup_rounds_s": setup, "warm_pass_s": warm_pass_s,
        # seconds each phase of the invocation took, in order
        "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
        "end_to_end": e2e, "peak_rss_mb": peak_rss_mb,
        "passes": [{k: v for k, v in p.items() if k != "cpu"} | {"cpu_s": p["cpu"]["total"]}
                   for p in passes],
    }
    if trace:
        ranges = {p["id"]: p["jobs"] for p in passes if p["traced"] and p["jobs"]}
        totals = tracing.eventlog_totals(session.eventlog_dir, app_id, ranges)
        extra = {
            "op_fail_ratio": failed / attempted,
            "peak_rss_mb": peak_rss_mb,
            "setup.cold_s": setup[0],
            "setup.warm_pass_s": warm_pass_s,
            "window.loadavg_1m_start": window["start"]["loadavg_1m"],
            "window.loadavg_1m_end": window["end"]["loadavg_1m"],
            "window.calib_py_start_s": window["start"]["calib_py_s"],
            "window.calib_py_end_s": window["end"]["calib_py_s"],
            "window.calib_spark_start_s": window["start"]["calib_spark_s"],
            "window.calib_spark_end_s": window["end"]["calib_spark_s"],
        }
        for metric in tracing.EVENTLOG_METRICS:
            extra[metric] = median(t[metric] for t in totals.values())
        record["per_layer"] = layer_metrics(passes, probes, extra)
    return record


def result_line(record: dict, trace: bool) -> dict:
    import catalog

    if trace:
        metrics = {k: {"value": v, "unit": catalog.PER_LAYER[k][0]}
                   for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": catalog.END_TO_END[k][0]}
                   for k, v in record["end_to_end"].items()}
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }


def new_work_dir() -> str:
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def smoke() -> int:
    """Every workload at smoke size, traced; then a run with a wrong
    expected count. Returns the number of problems found."""
    import catalog

    problems = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {m["name"]: (m["unit"], m["better"], m.get("bound"))
                for m in bench["end_to_end"] + bench["per_layer"]}
    ours = {k: v[:3] for k, v in catalog.END_TO_END.items()}
    ours.update({k: (*v[:2], None) for k, v in catalog.PER_LAYER.items()})
    if declared != ours:
        problems.append("BENCHMARK.json and catalog.py disagree on "
                        f"{sorted(set(declared.items()) ^ set(ours.items()))}")
    for name in WORKLOADS:
        work = new_work_dir()
        try:
            record = run_workload(name, 1, 1.0, True, True, work, setup_rounds=1)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        for trace in (False, True):
            line = result_line(record, trace)
            want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            if got != want:
                problems.append(f"{name}: printed metrics differ from BENCHMARK.json")
        if record["failed"]:
            problems.append(f"{name}: {record['failed']} failed operations")
        print(f"[smoke] {name}: {record['attempted']} ops, {record['failed']} failed, "
              f"wall_s={record['end_to_end']['wall_s']:.3f}", file=sys.stderr)
    work = new_work_dir()
    try:
        record = run_workload("ingest", 1, 1.0, False, True, work, tamper=True,
                              setup_rounds=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if record["failed"] == 0:
        problems.append("a wrong expected count did not raise op_fail_ratio")
    for p in problems:
        print(f"[smoke] PROBLEM: {p}", file=sys.stderr)
    print(json.dumps({"smoke_ok": not problems, "problems": problems}))
    return len(problems)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "oe_batch_processing_spark", "engine.py")):
        print("perfbench: oe_batch_processing_spark/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.smoke:
        try:
            return 1 if smoke() else 0
        finally:
            shutdown_jvm()
            sysprobe.stop_descendants(os.getpid())
    if args.workload is None:
        ap.error("--workload is required")
    work = new_work_dir()
    try:
        record = run_workload(args.workload, args.seed, args.seconds, bool(args.trace),
                              False, work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        sysprobe.stop_descendants(os.getpid())
    with open(os.path.join(WORK_ROOT, "results.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"window": record["window"]}))
    print(json.dumps(result_line(record, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
