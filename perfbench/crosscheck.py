#!/usr/bin/env python3
"""Vouch for the committed surface digests (perfbench/expected/digests.tsv).

    python3 perfbench/crosscheck.py

Run from the repository root. For every query of the surface_light
workload it writes the engine's sf0.1 result as parquet,
compares it cell by cell with the query's `SparkEntry.oracleSql` run by
DuckDB on the same tables (rows-only queries have no oracle and keep a row
count), and only when every comparison passes rewrites the digests file
from the same run. Run it once when a workload's query list or its data
changes; the benchmark itself only compares digests.
"""
import glob
import json
import math
import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events documents "
          "embeddings").split()


def norm(v):
    """Cells compare as strings; int 5 and float 5.0 stay different."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def compare(con, name, sql, out):
    files = glob.glob(os.path.join(out, name, "*.parquet"))
    got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf().to_dict("records")
    want = con.execute(sql).fetchdf().to_dict("records")
    if len(got) != len(want):
        return f"rows {len(got)} != oracle {len(want)}"
    cols = sorted(got[0]) if got else []
    if want and sorted(want[0]) != cols:
        return f"columns {cols} != oracle {sorted(want[0])}"
    bad = sum(1 for g, w in zip(got, want) for c in cols if norm(g[c]) != norm(w[c]))
    return f"{bad} cells differ" if bad else None


def main():
    import duckdb
    os.makedirs(run.WORK, exist_ok=True)
    run.build(os.path.join(run.WORK, "build.log"))
    sf = os.path.join(run.HERE, "data", "sf0.1")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({run.sql_str(p)})")
    lines, problems = [], []
    for wl in ("surface_light",):
        out = os.path.join(run.WORK, "crosscheck", wl)
        shutil.rmtree(out, ignore_errors=True)
        cmd = run.jvm_command(wl, seed=0, seconds=0, trace=0, data=os.path.join(run.HERE, "data"),
                              work=out, out=os.path.join(out, "unused.json"),
                              extra=["--crosscheck", out])
        with open(os.path.join(run.WORK, f"crosscheck-{wl}.log"), "w") as log:
            rc = run.run_child(cmd, timeout=1800, cwd=run.ROOT, stdout=log)
        if rc != 0:
            run.fail(f"crosscheck JVM for {wl} exited {rc}", 4)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = json.load(f)
        with open(os.path.join(out, "digests.tsv")) as f:
            for line in f.read().splitlines():
                name = line.split("\t")[0]
                verdict = compare(con, name, oracle[name], out) if name in oracle else None
                kind = "oracle" if name in oracle else "rows-only"
                print(f"{'FAIL' if verdict else 'PASS'} {wl} {name} ({kind}) {verdict or ''}")
                if verdict:
                    problems.append(name)
                lines.append(line)
    if problems:
        run.fail(f"{len(problems)} queries disagree with the oracle; digests left unchanged", 1)
    os.makedirs(os.path.join(run.HERE, "expected"), exist_ok=True)
    with open(os.path.join(run.HERE, "expected", "digests.tsv"), "w") as f:
        f.write("\n".join(sorted(lines)) + "\n")
    print(f"wrote {len(lines)} digests")


if __name__ == "__main__":
    main()
