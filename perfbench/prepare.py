"""Builds the query-mix inputs in a child process of the benchmark.

    python3 -m perfbench.prepare OUT_DIR SEED ROW [ROW ...]

Writes the seeded fixtures (``fixturegen``) to ``OUT_DIR/sf0.1`` and each
row's DuckDB oracle answer to ``OUT_DIR/oracles/<row>.pkl``, then
``OUT_DIR/prepared.json`` with the fixture generation time. Generating
600k lineitem rows and running the oracles (the exact-Jaccard join
among them) takes more memory than the engine's side of the measured
process; doing it here keeps it out of that process's peak resident
memory.
"""

from __future__ import annotations

import json
import os
import sys
import time

from perfbench import fixturegen


def prepare(out_dir: str, seed: int, rows: list[str]) -> None:
    from java_iceberg_table_spark.oracle import duck_connect
    from java_iceberg_table_spark.queries import load_all

    t0 = time.perf_counter()
    sf_dir = fixturegen.generate(os.path.join(out_dir, "sf0.1"), seed)
    fixtures_s = time.perf_counter() - t0
    registry = load_all()
    oracle_dir = os.path.join(out_dir, "oracles")
    os.makedirs(oracle_dir, exist_ok=True)
    con = duck_connect(sf_dir)
    con.execute("SET enable_progress_bar = false")
    try:
        for name in rows:
            con.execute(registry[name].oracle).df().to_pickle(os.path.join(oracle_dir, f"{name}.pkl"))
    finally:
        con.close()
    with open(os.path.join(out_dir, "prepared.json"), "w") as f:
        json.dump({"fixtures_s": fixtures_s}, f)


if __name__ == "__main__":
    prepare(sys.argv[1], int(sys.argv[2]), sys.argv[3:])
