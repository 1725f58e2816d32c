"""Rebuild ``expected.json``: row count and canonical-form md5 of each
registry query's DuckDB oracle (``__spark_entry__.oracle_sql()``) over
the bundled ``data/sf0.001`` tables. Spark is not involved, so the
hashes are an independent reference for the benchmark's checks.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from workloads import EXPECTED_PATH, REGISTRY_QUERIES, SF_DIR, canonical_hash  # noqa: E402


def main() -> int:
    import duckdb

    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(SF_DIR, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    out = {}
    for q in REGISTRY_QUERIES:
        t0 = time.time()
        rel = con.sql(oracles[q])
        rows = rel.fetchall()
        out[q] = {"rows": len(rows), "md5": canonical_hash(rows, rel.columns)}
        print(f"{q}: {len(rows)} rows [{time.time() - t0:.1f}s]", file=sys.stderr)
    with open(EXPECTED_PATH, "w") as f:
        json.dump({"source": "DuckDB oracle_sql() over data/sf0.001", "queries": out}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
