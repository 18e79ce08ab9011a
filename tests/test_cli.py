"""CLI surface tests (subprocess — the real user entry point)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "oe_batch_processing_spark.cli", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=180,
    )


def test_cli_list():
    r = run_cli("list")
    assert r.returncode == 0
    assert "q1_pricing_summary  [oracle]" in r.stdout
    assert "dedup_minhash_lsh  [oracle]" in r.stdout
    assert "agg_approx_count_distinct  [rows-only]" in r.stdout


def test_cli_query_unknown():
    r = run_cli("query", "nope_not_a_query")
    assert r.returncode == 2
    assert "unknown query" in r.stderr


def test_cli_ingest_and_query(tmp_path):
    src = tmp_path / "b.csv"
    src.write_text('A1,"x,1"\nA2,bad,extra\n')
    r = run_cli(
        "ingest",
        "--file", str(src),
        "--csv-headers", "key, value",
        "--ledger", str(tmp_path / "ledger"),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["totalRecordCount"] == 2
    assert summary["successCount"] == 1
    assert summary["failureCount"] == 1
