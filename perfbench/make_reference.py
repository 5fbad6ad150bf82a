"""Regenerate ``perfbench/expected.json``: the DuckDB oracle digest of every
benchmarked read op over the committed sf0.1 data, and each read workload's
DuckDB reference geomean (one warm timing per op on the machine it runs on).

Run after changing the data, the op lists or an oracle:

    python3 perfbench/make_reference.py

The benchmark itself never runs DuckDB on read ops; it compares the engine's
result digests with this file.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from digest import frame_digest  # noqa: E402
from run import DATA, SF  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> None:
    from financedatabase_spark.plans.registry import ORACLE_SQL

    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM '{DATA}/{f}'")
    ops, geomeans = {}, {}
    for workload, spec in WORKLOADS.items():
        times = []
        for name in spec["reads"]:
            sql = ORACLE_SQL[name]
            pdf = con.execute(sql).fetchdf()  # warm
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = time.perf_counter() - t0
            rows, digest = frame_digest(pdf)
            ops[name] = {"rows": rows, "digest": digest, "duckdb_s": round(dt, 4)}
            times.append(dt)
            print(f"{workload} {name}: {rows} rows, duckdb {dt:.3f} s", flush=True)
        geomeans[workload] = round(math.exp(sum(map(math.log, times)) / len(times)), 4)
    out = {
        "sf": SF,
        "duckdb_version": duckdb.__version__,
        "duckdb_threads": int(con.execute("SELECT current_setting('threads')").fetchone()[0]),
        "duckdb_geomean_op_s": geomeans,
        "ops": ops,
    }
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
