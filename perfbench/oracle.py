"""DuckDB oracle results for the query-mix tables, computed in a child
process so DuckDB's memory never shows in the benchmark's process tree.

    python3 perfbench/oracle.py <tables_dir> <out.pkl> <query> [<query> ...]

Writes a pickle of ``{query: pandas.DataFrame}``, one entry per named
query; every one must have a registered oracle.
"""

from __future__ import annotations

import os
import pickle
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    tables_dir, out_path, *names = argv
    import oe_batch_processing_spark.operators  # noqa: F401  (registers queries)
    import oe_batch_processing_spark.streaming  # noqa: F401
    from oe_batch_processing_spark import registry
    from oe_batch_processing_spark.testing import duckdb_connection

    con = duckdb_connection(tables_dir)
    out = {n: con.execute(registry.ORACLE[n]).fetchdf() for n in names}
    con.close()
    with open(out_path, "wb") as f:
        pickle.dump(out, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
