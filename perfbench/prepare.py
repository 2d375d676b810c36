"""Make one run's inputs and the oracle's expected outputs.

    python3 perfbench/prepare.py <out_dir> <workload> <sf> <seed>

Runs as its own process, so that neither the generated tables nor DuckDB
count toward the memory of the process under test.  Writes the inputs
under <out_dir> and `<out_dir>/prepared.json`:
{"parquet_dir", "sql_path", "rows", "want"}.
"""

from __future__ import annotations

import json
import os
import sys


def main(argv: list[str]) -> int:
    out_dir, workload, sf, seed = argv[0], argv[1], float(argv[2]), int(argv[3])
    import gen
    import workloads as WL

    w = WL.WORKLOADS[workload]
    inputs = gen.generate(out_dir, sf, seed,
                          sql_dump=w.source == "sqltext")
    oracle = WL.source_oracle(inputs["parquet_dir"], gen.TABLES)
    try:
        want = WL.expected(w, oracle)
    finally:
        oracle.close()
    with open(os.path.join(out_dir, "prepared.json"), "w") as f:
        json.dump({"parquet_dir": inputs["parquet_dir"],
                   "sql_path": inputs["sql_path"], "rows": inputs["rows"],
                   "want": want}, f)
    return 0


if __name__ == "__main__":
    sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(
        __file__))), os.path.dirname(os.path.abspath(__file__))]
    sys.exit(main(sys.argv[1:]))
