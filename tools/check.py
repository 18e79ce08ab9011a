"""Local differential checker — mirrors the driver's DuckDB-oracle harness.

Usage:
    python tools/check.py [sf_dir] [query_name ...]

Note on scale factors: the correctness contract is sf0.01 (the driver's t2).
At sf0.1+ a handful of money-sum queries (q1 family) exceed the 2^53
decimal->double exactness bound (registry.py) and will show last-ULP
mismatches against DuckDB — that is a property of cross-engine comparison,
not of the engine; the pre-scaling pattern in stats_exact_moments is the
remedy if a larger-SF gate ever appears.

Session hygiene: after each query the checker prints
``LEAK <name>: confs=[...] scratch=[...]`` when the query changed a session
conf or left a new ``oebp-*`` entry in /dev/shm or the temp dir, then puts
the baseline confs back so later queries run on a clean session. LEAK
lines do not change the exit status.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

import oe_batch_processing_spark.operators  # noqa: F401
from oe_batch_processing_spark import registry
from oe_batch_processing_spark.session import get_spark
from oe_batch_processing_spark.testing import compare, duckdb_connection


def scratch_entries() -> set[str]:
    """``oebp-*`` entries of /dev/shm and the temp dir."""
    roots = {tempfile.gettempdir()} | ({"/dev/shm"} if os.path.isdir("/dev/shm") else set())
    return {os.path.join(r, n) for r in roots for n in os.listdir(r) if n.startswith("oebp-")}


def report_leak(spark, name: str, base_confs: dict[str, str], scratch: set[str]) -> bool:
    """Print a LEAK line if the query changed the session; restore the confs."""
    confs = dict(spark.conf.getAll)
    changed = sorted(k for k in set(confs) | set(base_confs) if confs.get(k) != base_confs.get(k))
    left = sorted(os.path.basename(p) for p in scratch_entries() - scratch)
    for k in changed:
        if k in base_confs:
            spark.conf.set(k, base_confs[k])
        else:
            spark.conf.unset(k)
    if changed or left:
        print(f"LEAK {name}: confs={changed} scratch={left}")
    return bool(changed or left)


def check_one(spark, con, sf_dir: str, name: str) -> bool:
    """Run one query against its oracle, print its line; True on success."""
    t0 = time.time()
    try:
        spdf = registry.QUERIES[name](spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: spark error: {e}")
        return False
    dt = time.time() - t0
    sql = registry.ORACLE.get(name)
    if sql is None:
        print(f"ok   {name}: rows-only, {len(spdf)} rows ({dt:.1f}s)")
        return True
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: oracle error: {e}")
        return False
    mismatch = compare(spdf, odf)
    if mismatch:
        print(f"FAIL {name}: {mismatch}")
        return False
    if len(spdf) == 0:
        # 0 == 0 proves nothing: any bug that yields an empty frame
        # would "pass" (round-6 verdict: the m=2^16 bloom prefilter
        # did exactly that). Mark it so the sweep guard can demand an
        # explicit allowlist justification.
        print(f"PASS {name}: 0 rows (VACUOUS) ({dt:.1f}s)")
    else:
        print(f"PASS {name}: {len(spdf)} rows ({dt:.1f}s)")
    return True


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and "/" in args[0]:
        sf_dir = args.pop(0)
    names = args or sorted(registry.QUERIES)

    con = duckdb_connection(sf_dir)
    spark = get_spark("check")

    registry.apply_runtime_confs(spark)
    base_confs = dict(spark.conf.getAll)
    n_fail = n_leak = 0
    for name in names:
        scratch = scratch_entries()
        n_fail += not check_one(spark, con, sf_dir, name)
        n_leak += report_leak(spark, name, base_confs, scratch)
    print(f"\n{len(names) - n_fail}/{len(names)} passed, {n_leak} LEAK")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
