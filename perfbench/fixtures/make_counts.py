#!/usr/bin/env python3
"""Regenerate sf0.1-counts.json: every declared query's row count at sf0.1,
computed by the DuckDB oracle from the queries' oracle SQL.

Usage, from the repository root:

    python3 perfbench/fixtures/make_counts.py

It builds the harness if needed (as perfbench/run.py does), has it write
SparkEntry.oracleSql as JSON, then runs each statement in DuckDB with the
working directory set to perfbench/data/sf0.1, where the statements'
relative 'table.parquet' references resolve. A statement DuckDB cannot
finish within the memory limit or the time limit gets no count; the
script lists those, and the benchmark reports such queries as unchecked.
"""
import json
import os
import subprocess
import sys
import threading

import duckdb

QUERY_TIMEOUT_S = 120
HERE = os.path.dirname(os.path.abspath(__file__))
HOME = os.path.dirname(HERE)
sys.path.insert(0, HOME)
import run  # noqa: E402  (the harness's build step and JVM options)


def main():
    run.build()
    cp = open(run.CLASSPATH).read().strip()
    oracle_path = os.path.join(HOME, "out", "oracle_sql.json")
    os.makedirs(os.path.dirname(oracle_path), exist_ok=True)
    opens = [a for p in run.JAVA_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    subprocess.run(["java"] + opens + ["-cp", cp, "graft.perfbench.Main",
                    "--dump-oracle", oracle_path], check=True)
    oracle = json.load(open(oracle_path))
    con = duckdb.connect()
    # bounded memory, spilling inside the checkout
    con.execute("SET memory_limit='4GB'")
    con.execute("SET threads=4")
    con.execute(f"SET temp_directory='{os.path.join(HOME, 'out', 'duckdb-tmp')}'")
    os.chdir(os.path.join(HOME, "data", "sf0.1"))
    counts, missing = {}, []
    for name in sorted(oracle):
        timer = threading.Timer(QUERY_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            counts[name] = len(con.execute(oracle[name]).fetchall())
        except duckdb.Error as e:
            missing.append(name)
            print(f"{name}: no count ({type(e).__name__})", file=sys.stderr, flush=True)
        finally:
            timer.cancel()
    out = os.path.join(HERE, "sf0.1-counts.json")
    with open(out, "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(counts)} counts written to {out} (duckdb {duckdb.__version__}); "
          f"no count for {len(missing)}: {', '.join(missing)}")


if __name__ == "__main__":
    main()
