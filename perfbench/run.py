#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload surface_light --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the engine and the
harness with the Scala compiler that ships in Spark's jars directory; later
runs reuse the build while the sources are unchanged. Workloads: surface_light, moodle_etl.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (names and units come from BENCHMARK.json). Every run also
writes a stamped result file, and a span file when traced, under
perfbench/out/.
"""
import argparse
import functools
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
BUILD = os.path.join(WORK, "build")
JAR = os.path.join(BUILD, "perfbench.jar")
STAMP = os.path.join(BUILD, "perfbench.sources")
WORKLOADS = ("surface_light", "moodle_etl")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
# Untimed plain passes after the prime pass, before the timed ones.
WARM_PASSES = 1

# Roster sizes of the moodle_etl workload: the timed pipeline and the
# set-up warm-up.
ROSTER_ROWS = 60_000
WARMUP_ROSTER_ROWS = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


@functools.lru_cache(maxsize=None)
def source_hash():
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


@functools.lru_cache(maxsize=None)
def spark_home():
    """SPARK_HOME, or the installation whose jars the engine's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            fail("no Spark installation: set SPARK_HOME")
        home = os.path.dirname(m.group(1).rstrip("/"))
    return home


def log_tail(path, lines=30):
    """Copy the end of a child's log to stderr, so a failure explains itself."""
    try:
        with open(path, errors="replace") as f:
            tail = f.readlines()[-lines:]
    except OSError:
        return
    sys.stderr.write("".join(tail))


def build(log):
    """Compile engine + harness into one jar unless it matches the sources.
    The compiler is the scala-compiler jar Spark ships (the Scala version the
    engine is built with), so the build needs no sbt, no dependency cache
    and nothing outside SPARK_HOME and this checkout."""
    want = source_hash()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-cp", os.path.join(spark_home(), "jars", "*"), "scala.tools.nsc.Main",
            "-usejavacp", "-d", classes] + sorted(source_files()))
    with open(log, "w") as out:
        rc = run_child(cmd, cwd=HERE, stdout=out, timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        log_tail(log)
        fail(f"build failed (exit {rc}); see {log}", 3)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    os.rename(JAR + ".tmp", JAR)
    shutil.rmtree(classes)
    shutil.rmtree(tmp)
    with open(STAMP, "w") as f:
        f.write(want + "\n")


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group
    and wait, so nothing it started outlives the benchmark."""
    p = subprocess.Popen(cmd, stderr=subprocess.STDOUT, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def gen_roster(path, rows, seed):
    """A customer-shaped table of `rows` distinct keys drawn from the seed;
    `graft.fixtures.Fixtures` projects it into the raw roster, with its
    fixed shares of null ruts/names, multi-email cells, accented names and
    (in the dirty variant) duplicate ruts. Plus an already-enrolled ledger
    over a fifth of the keys."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    if os.path.exists(os.path.join(path, "ROWS")):
        return
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    keys = rng.choice(np.arange(1, 10 * rows + 1, dtype=np.int64), size=rows, replace=False)
    names = [f"Customer#{k:09d}" for k in keys.tolist()]
    pq.write_table(pa.table({"c_custkey": pa.array(keys, pa.int64()),
                             "c_name": pa.array(names, pa.string())}),
                   os.path.join(tmp, "customer.parquet"))
    enrolled = rng.choice(keys, size=rows // 5, replace=False)
    pq.write_table(pa.table({"custkey": pa.array(enrolled, pa.int64()),
                             "course_id": pa.array(enrolled % 7, pa.int64())}),
                   os.path.join(tmp, "enrolments.parquet"))
    with open(os.path.join(tmp, "ROWS"), "w") as f:
        f.write(f"{rows}\n")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def moodle_inputs(seed):
    base = os.path.join(WORK, "inputs", f"moodle-seed{seed}-{ROSTER_ROWS}-{WARMUP_ROSTER_ROWS}")
    gen_roster(os.path.join(base, "roster"), ROSTER_ROWS, seed)
    gen_roster(os.path.join(base, "roster_small"), WARMUP_ROSTER_ROWS, seed)
    return base


def sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def check_moodle_csv(res, data):
    """`MoodleNormalize` on the generated roster, as written to the CSV,
    must equal `Duck.moodleNormalizeSql` run by DuckDB on the same input."""
    import duckdb
    csv = res["extra"]["csv"]
    con = duckdb.connect()
    con.execute("CREATE VIEW customer AS SELECT * FROM read_parquet(%s)"
                % sql_str(os.path.join(data, "roster", "customer.parquet")))
    con.execute(f"CREATE VIEW oracle AS SELECT * FROM ({res['extra']['oracle_sql']})")
    cols = [r[0] for r in con.execute("DESCRIBE oracle").fetchall()]
    con.execute("CREATE VIEW engine AS SELECT * FROM read_csv(%s, header=true, all_varchar=true)"
                % sql_str(csv))
    ecols = [r[0] for r in con.execute("DESCRIBE engine").fetchall()]
    if ecols != cols:
        return f"csv columns {ecols} != oracle {cols}"
    o = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    e = ", ".join(f'"{c}"' for c in cols)
    extra, missing = con.execute(
        f"SELECT (SELECT count(*) FROM (SELECT {e} FROM engine EXCEPT ALL SELECT {o} FROM oracle)),"
        f"       (SELECT count(*) FROM (SELECT {o} FROM oracle EXCEPT ALL SELECT {e} FROM engine))"
    ).fetchone()
    if extra or missing:
        return f"csv has {extra} rows the oracle lacks and lacks {missing} oracle rows"
    return None


def class_archive():
    """JVM option for the class-data archive of this build: the first run
    writes it at exit, later runs map it, which cuts JVM and Spark start-up
    by several seconds per run. A stale archive is ignored by the JVM."""
    jsa = os.path.join(WORK, "jvm", f"classes-{source_hash()[:16]}.jsa")
    if os.path.exists(jsa):
        return f"-XX:SharedArchiveFile={jsa}"
    shutil.rmtree(os.path.dirname(jsa), ignore_errors=True)
    os.makedirs(os.path.dirname(jsa))
    return f"-XX:ArchiveClassesAtExit={jsa}"


def jvm_command(workload, seed, seconds, trace, data, work, out, extra):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-XX:-UsePerfData", class_archive(), f"-Xms{HEAP}", f"-Xmx{HEAP}",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.codegen.cache.maxEntries=8192"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{JAR}:{os.path.join(spark_home(), 'jars')}/*", "perfbench.Main",
               "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", str(trace), "--warm-passes", str(WARM_PASSES),
               "--cores", str(len(os.sched_getaffinity(0))),
               "--data", data, "--work", work, "--out", out] + extra)


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    # a SIGTERM unwinds through run_child, which then kills the JVM's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    for d in (WORK, OUT):
        os.makedirs(d, exist_ok=True)
    build(os.path.join(WORK, "build.log"))

    if a.workload == "moodle_etl":
        data = moodle_inputs(a.seed)
    else:
        data = os.path.join(HERE, "data")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    jvm_out = os.path.join(run_dir, "result.json")
    cmd = jvm_command(a.workload, a.seed, a.seconds, a.trace, data, run_dir, jvm_out,
                      ["--expected", os.path.join(HERE, "expected", "digests.tsv")])
    t0 = time.monotonic()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        rc = run_child(cmd, timeout=JVM_TIMEOUT_S, cwd=ROOT, stdout=log)
    if rc != 0 or not os.path.exists(jvm_out):
        log_tail(os.path.join(run_dir, "jvm.log"))
        fail(f"benchmark JVM exited {rc}; see {os.path.join(run_dir, 'jvm.log')}", 4)
    with open(jvm_out) as f:
        res = json.load(f)

    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "moodle_etl":
        attempted += 1
        problem = check_moodle_csv(res, data)
        res["oracle_check"] = problem or "ok"
        if problem:
            print(f"perfbench: oracle check failed: {problem}", file=sys.stderr)
            failed += 1
    res["end_to_end"]["fail_ratio"] = failed / attempted
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    res["stamp"].update({
        "nproc": os.cpu_count(), "cores_used": cores,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "git_sha": git_sha(), "source_sha256": source_hash(),
        "jvm_wall_s": time.monotonic() - t0, "python": sys.version.split()[0],
    })
    res["attempted"], res["failed"] = attempted, failed
    spans = res.pop("spans", None)
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    if spans is not None:
        with open(os.path.join(OUT, f"{tag}.spans.json"), "w") as f:
            json.dump(spans, f)

    section = "per_layer" if a.trace else "end_to_end"
    got = res[section]
    metrics = {}
    for m in spec[section]:
        if m["name"] not in got or got[m["name"]] is None:
            fail(f"metric {m['name']} missing from the result", 5)
        metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
