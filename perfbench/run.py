#!/usr/bin/env python3
"""Pipeline benchmark for graft: snapshot writes, per-sink counts and
streaming micro-batches through the engine's public entry points.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload counts_hot6 --seed 1 --seconds 10 --trace 0

Steps: build graft and the harness (once per source state), make the
seed-independent base tables (once per scale factor), apply the seed
(once per workload and seed), run the workload in one fresh JVM, and print
one JSON result line as the last line of standard output. Every file it
writes is under .bench_build/ in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(BENCH, "harness")
BUILD = os.path.join(ROOT, ".bench_build")

# Each workload: scale factor of the generated events table (1 = 1M events),
# how its seeded input is laid out in files, and how many unmeasured
# operations follow the first (about 10 s of each). The input is one copy of
# the table, so it holds the generator's single hot conversation and the
# kernel stage's skew does not vary with the seed. Stream files hold 4,000
# turns, so a micro-batch carries enough kernel work to show next to its
# fixed overhead; sf 0.1 gives 25 of them.
WORKLOADS = {
    "counts_hot6": {"sf": 0.06, "files": 8, "settle_ops": 4},
    "stream_hot6": {"sf": 0.1, "batch_rows": 4000, "settle_ops": 5},
}

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the list Spark's launcher injects).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, env=None, timeout=RUN_TIMEOUT_S, logfile=None):
    """Run a command in its own process group; on timeout or interrupt the
    whole group is killed and reaped. Returns (exit code, output)."""
    out = open(logfile, "w") if logfile else subprocess.PIPE
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        stdout, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if logfile:
            out.close()
    if logfile:
        with open(logfile) as f:
            stdout = f.read()
    return p.returncode, stdout


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_classpath(cwd, env, logname):
    cmd = ["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile", "export Runtime/fullClasspath"]
    # every JVM the sbt launcher starts keeps its scratch files in the checkout
    env = dict(env, JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir()}")
    code, out = run_proc(cmd, cwd, env, BUILD_TIMEOUT_S, os.path.join(BUILD, "logs", logname))
    lines = [l for l in out.splitlines() if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not lines:
        raise SystemExit(f"build failed in {cwd}; see .bench_build/logs/{logname}")
    return lines[-1].strip()


def build():
    """Compile graft with its own build, then the harness against it."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building graft and the harness")
    graft_cp = sbt_classpath(ROOT, dict(os.environ), "build-graft.log")
    env = dict(os.environ, GRAFT_CLASSPATH=graft_cp)
    cp = sbt_classpath(HARNESS, env, "build-harness.log")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def nproc():
    return len(os.sched_getaffinity(0))


def tmp_dir():
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tmp


def java(cp, mode, args, logname, timeout):
    heap = os.environ.get("SPARK_DRIVER_MEM", "6g")
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir()}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", mode, "--nproc", str(nproc()),
            "--local-dir", os.path.join(BUILD, "spark-local")]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    code, _ = run_proc(cmd, ROOT, dict(os.environ), timeout, os.path.join(BUILD, "logs", logname))
    if code != 0:
        raise SystemExit(f"harness '{mode}' exited {code}; see .bench_build/logs/{logname}")


# ---------------------------------------------------------------- inputs

def events_sql(sf, path):
    """A deterministic events table shaped like the engine's test data:
    event ids 0..n-1, timestamps strictly increasing over January 2024,
    15,000 x sf users."""
    n = int(round(1_000_000 * sf))
    users = max(1, int(round(15_000 * sf)))
    step = 30 * 86_400 * 1_000_000 // n
    return f"""COPY (
  SELECT event_id,
    TIMESTAMP '2024-01-01 00:00:00' + to_microseconds(event_id * {step} + (event_id * 104729) % {step}) AS ts,
    (event_id * 48271 + 7) % {users} AS user_id,
    ['signup', 'click', 'error', 'view', 'purchase'][1 + (event_id * 31 + 3) % 5] AS event_type,
    ROUND(((event_id * 7919) % 56021) / 100.0, 2) AS value,
    '{{"k": ' || CAST((event_id * 13) % 100 AS VARCHAR) || '}}' AS props
  FROM range({n}) t(event_id)
) TO '{path}' (FORMAT PARQUET)"""


def base_tables(cp, sf):
    """events.parquet plus the 6-technology transcript table (made by
    graft's own generator) and the oracle counts for one scale factor;
    made once and reused."""
    import duckdb
    base = os.path.join(BUILD, "inputs", f"base_sf{sf}")
    done = os.path.join(base, "_DONE")
    if os.path.exists(done):
        return base
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    duckdb.connect().execute(events_sql(sf, os.path.join(base, "events.parquet")))
    log(f"making the base tables at sf {sf}")
    java(cp, "prep", {"events": base, "out": base}, f"prep_sf{sf}.log", BUILD_TIMEOUT_S)
    oracle_counts(base, os.path.join(base, "q05_counts.tsv"))
    open(done, "w").close()
    return base


def oracle_counts(base, out, max_event_id=None):
    """The engine's own q05 oracle SQL replayed by DuckDB over the events
    table (or its first events, which is what a stream prefix holds)."""
    import duckdb
    con = duckdb.connect()
    where = "" if max_event_id is None else f" WHERE event_id < {max_event_id}"
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{os.path.join(base, 'events.parquet')}'{where}")
    with open(os.path.join(base, "q05_sink_counts.sql")) as f:
        rows = con.execute(f.read()).fetchall()
    with open(out, "w") as f:
        for r in rows:
            f.write("\t".join("\\N" if v is None else str(v) for v in r) + "\n")


def stream_prefix_counts(base, batch_rows, nfiles):
    """Expected counts after each stream file: file k holds the turns of
    events [k * batch_rows, (k + 1) * batch_rows), as it is cut in ts order
    and timestamps increase with event_id."""
    d = os.path.join(base, f"stream_prefix_b{batch_rows}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        os.makedirs(d, exist_ok=True)
        for k in range(1, nfiles + 1):
            oracle_counts(base, os.path.join(d, f"prefix-{k}.tsv"), k * batch_rows)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def seeded_input(base, name, seed):
    """The workload's input for one seed. The seed renames every conversation
    (a seeded suffix) and reorders conversations across files; each
    conversation keeps its turns in turn_idx order and every per-(sink,
    technology) count is unchanged. Stream files are cut in ts order."""
    import duckdb
    w = WORKLOADS[name]
    d = os.path.join(BUILD, "inputs", f"{name}_sf{w['sf']}_seed{seed}")
    meta_file = os.path.join(d, "meta.json")
    con = duckdb.connect()
    if os.path.exists(meta_file):
        with open(meta_file) as f:
            meta = json.load(f)
        got = con.execute(f"SELECT count(*) FROM '{d}/data/*.parquet'").fetchone()[0]
        if got == meta["turns"]:
            return d, with_expected(base, w, meta)
        log(f"{d}: {got} rows on disk, {meta['turns']} recorded; regenerating")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "data"))
    con.execute(f"""CREATE TABLE t AS
      SELECT conv_id || '.' || substr(md5('{seed}/' || conv_id), 1, 8) AS conv_id,
             turn_idx, role, text, tool, ts, md5('{seed}|' || conv_id) AS conv_key
      FROM '{base}/hot6/*.parquet'""")
    turns = con.execute("SELECT count(*) FROM t").fetchone()[0]
    if "batch_rows" in w:
        con.execute(f"""CREATE TABLE f AS SELECT *,
          (ROW_NUMBER() OVER (ORDER BY ts, conv_key, turn_idx) - 1) // {w['batch_rows']} AS file_no FROM t""")
    else:
        con.execute(f"""CREATE TABLE f AS SELECT *,
          (DENSE_RANK() OVER (ORDER BY conv_key) - 1) % {w['files']} AS file_no FROM t""")
    nfiles = con.execute("SELECT max(file_no) + 1 FROM f").fetchone()[0]
    for i in range(nfiles):
        con.execute(f"""COPY (SELECT conv_id, turn_idx, role, text, tool, ts FROM f
          WHERE file_no = {i} ORDER BY conv_key, turn_idx)
          TO '{d}/data/part-{i:05d}.parquet' (FORMAT PARQUET)""")
    meta = {"turns": turns, "files": nfiles, "sf": w["sf"], "seed": seed}
    with open(meta_file, "w") as f:
        json.dump(meta, f)
    return d, with_expected(base, w, meta)


def with_expected(base, w, meta):
    """The counts to check against: the oracle over the whole table, or for a
    stream, checked after every batch, over the files fed so far."""
    if "batch_rows" in w:
        return dict(meta, expected=stream_prefix_counts(base, w["batch_rows"], meta["files"]))
    return dict(meta, expected=os.path.join(base, "q05_counts.tsv"))


# ---------------------------------------------------------------- main

def main():
    # a TERM becomes SystemExit, so run_proc still kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"no {need} here: run from the root of a graft checkout")
            return 2
    try:
        import duckdb  # noqa: F401  (the oracle and the input generator)
    except ImportError:
        log("python duckdb is required")
        return 2

    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    cp = build()
    w = WORKLOADS[a.workload]
    base = base_tables(cp, w["sf"])
    inp, meta = seeded_input(base, a.workload, a.seed)

    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(os.path.join(BUILD, "spark-local"), ignore_errors=True)
    result = os.path.join(BUILD, "results", f"{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    golden = os.path.join(BENCH, "golden", f"{a.workload}_sf{w['sf']}.tsv")
    java(cp, "run", {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "input": os.path.join(inp, "data"), "turns": meta["turns"],
        "expected": meta["expected"], "golden": golden,
        "batch-rows": w.get("batch_rows", 0), "settle-ops": w["settle_ops"],
        "work": work, "result": result},
         f"{tag}.log", RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    with open(result) as f:
        r = json.load(f)
    for fail in r["failures"]:
        log(f"check failed: {fail}")
    print(json.dumps({"context": r["context"], "ledger_file": os.path.relpath(result, ROOT)}))
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
