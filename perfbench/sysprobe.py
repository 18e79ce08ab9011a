"""Process-tree CPU and memory read from /proc, and the window record.

The benchmark's process tree is the driver (this Python process), the JVM
it launches and the JVM's Python workers. The REST stub runs in the tree too
but is excluded by pid, so its CPU time is never charged to the engine.
"""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()  # fields from `state` onwards


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and every live process below it, minus the subtrees of
    ``exclude``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _role(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    cmd = _cmdline(pid)
    if "java" in cmd.split(" ", 1)[0]:
        return "jvm"
    if "pyspark" in cmd:
        return "python_workers"
    return "other"


def tree_cpu(root: int, exclude: set[int] = frozenset()) -> dict[str, float]:
    """CPU seconds (user+sys, reaped children included) per role and in
    total, for the live tree under ``root``."""
    out = {"driver": 0.0, "jvm": 0.0, "python_workers": 0.0, "other": 0.0}
    for pid in descendants(root, exclude):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[_role(pid, root)] += ticks / CLK_TCK
    out["total"] = sum(out.values())
    return out


def tree_hwm_mb(root: int, exclude: set[int] = frozenset()) -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the
    tree, in MiB."""
    total_kb = 0
    for pid in descendants(root, exclude):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def stop_descendants(root: int, timeout_s: float = 20.0) -> list[int]:
    """Terminate whatever still runs below ``root`` and wait until it has
    ended; returns the pids that had to be signalled."""
    left = [p for p in descendants(root) if p != root]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + timeout_s / 2
        while time.monotonic() < deadline:
            for pid in left:
                try:
                    os.waitpid(pid, os.WNOHANG)  # reap our own children
                except ChildProcessError:
                    pass
            if not any(_alive(p) for p in left):
                return left
            time.sleep(0.1)
    return left


def python_calibration_s() -> float:
    """Wall time of a fixed pure-Python loop: a contended window reads
    slower than an idle one."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def spark_calibration_s(spark) -> float:
    """Wall time of a fixed Spark aggregate with a shuffle (the second of
    two runs, so that code generation is not part of it)."""
    job = spark.range(0, 20_000_000, 1, 4).selectExpr("id % 1000 AS k", "hash(id) AS v")
    job = job.groupBy("k").agg({"v": "sum"})
    job.collect()
    t0 = time.perf_counter()
    job.collect()
    return time.perf_counter() - t0


def window_sample(spark=None) -> dict[str, float]:
    """Load average plus the calibration jobs, for the window record."""
    out = {"loadavg_1m": os.getloadavg()[0], "calib_py_s": python_calibration_s()}
    if spark is not None:
        out["calib_spark_s"] = spark_calibration_s(spark)
    return out
