"""Regenerate `golden.json`: run every headline query on the benchmark's
data, compare each result with its DuckDB oracle SQL under the strict rules
of the repository's `tools/compare.py`, and record row counts and content
hashes only if every comparison passes.

Usage (from the checkout root): python3 perfbench/make_golden.py
"""
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import build  # noqa: E402
from compare import TABLES, dtype_mismatches, frame_rows  # noqa: E402
from run import DATA, GOLDEN  # noqa: E402


def main():
    work = os.path.join(ROOT, ".bench_runs", "golden")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw_path = os.path.join(work, "raw.json")
    cmd = build.java_cmd(*build.build()) + [
        "perfbench.Harness", "--workload", "golden", "--seed", "0", "--seconds", "0",
        "--trace", "0", "--work", os.path.join(work, "out"), "--out", raw_path, "--data", DATA]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    with open(raw_path) as f:
        raw = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    bad = []
    for name in raw["headlines"]:
        sql = raw["oracle"].get(name)
        if sql is None:
            bad.append(f"{name}: no oracle SQL")
            continue
        stab = pq.read_table(os.path.join(work, "out", name))
        dtab = con.execute(sql).fetch_arrow_table()
        srows, scols = frame_rows(stab.to_pandas())
        drows, dcols = frame_rows(dtab.to_pandas())
        if scols != dcols or dtype_mismatches(stab, dtab) or srows != drows:
            bad.append(f"{name}: differs from its oracle")
        elif len(srows) != raw["hashes"][name]["rows"]:
            bad.append(f"{name}: hashed row count differs from the written result")
        else:
            print(f"PASS {name} ({len(srows)} rows)")
    if bad:
        raise SystemExit("\n".join(bad))
    with open(GOLDEN, "w") as f:
        json.dump({"data": os.path.relpath(DATA, ROOT), "headlines": raw["headlines"],
                   "hashes": raw["hashes"]}, f, indent=1)
    shutil.rmtree(work)
    print(f"wrote {GOLDEN}")


if __name__ == "__main__":
    main()
