"""Input preparation, run in its own process so that neither the
generator's arrays nor DuckDB's memory show in the benchmark process's
RSS.

Writes the seeded tables (``datagen.write_tables``), then computes the
DuckDB oracle fingerprint of each named query that has one
(``hive_lineage_spark.operators.all_oracles``). It finishes before the
benchmark starts Spark, so it never overlaps a measurement. Prints one
JSON line ``{"rows": {...}, "oracle": {name: [nrows, cols, hash]},
"oracle_s": t}``.

Usage: ``python3 perfbench/inputs.py OUT_DIR SF SEED [QUERY ...]``
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    out_dir, sf, seed, names = argv[0], float(argv[1]), int(argv[2]), argv[3:]
    sys.path.insert(0, ROOT)
    import datagen  # this directory is on sys.path when run as a script

    rows = datagen.write_tables(out_dir, sf, seed)

    from hive_lineage_spark.operators import all_oracles
    from hive_lineage_spark.oracle import duckdb_connection, duckdb_fingerprint

    t0 = time.perf_counter()
    oracles = all_oracles()
    con = duckdb_connection(out_dir)
    fps = {n: list(duckdb_fingerprint(con, oracles[n])) for n in names if n in oracles}
    con.close()
    print(json.dumps({"rows": rows, "oracle": fps, "oracle_s": time.perf_counter() - t0}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
