#!/usr/bin/env python3
"""Repository benchmark: runs one workload and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload metro|upkeep|corpus \
      [--seed N] [--seconds S] [--trace 0|1] [--oracle]

The first run builds the engine and the benchmark program from source
(sbt, offline) into perfbench/target. Each run then starts one JVM with a
local[4] Spark session, generates its inputs from the seed into a scratch
directory under perfbench/.runs (deleted afterwards), warms up, runs timed
rounds for --seconds, checks the outputs, and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics, measured by the tracer in a separate run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
CDS_ARCHIVE = os.path.join(TARGET, "app.jsa")
JVM_TIMEOUT_S = 160
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]
ROUND = 6


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source file the build reads (path, size, mtime)."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the engine sources (src/main/scala/graft) are not next to perfbench/; nothing to build")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        cp = open(CLASSPATH).read().strip()
        # the archive is only valid for the jars it was trained on
        jars = [j for j in cp.split(os.pathsep) if j.startswith(TARGET)]
        if os.path.exists(CDS_ARCHIVE) and all(
                os.path.getmtime(j) <= os.path.getmtime(CDS_ARCHIVE) for j in jars):
            return cp
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (sbt exit {rc}); log in {log}")
    cp = open(CLASSPATH).read().strip()
    train_cds(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def train_cds(cp):
    """Record a class-data-sharing archive of the classes one corpus run
    loads; later JVMs map it instead of loading those classes one by one,
    which takes seconds off every run's start. Without it runs still work."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.join(HERE, ".runs", f"cds-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run_jvm(cp, ["--workload", "corpus", "--seed", "0", "--seconds", "0", "--trace", "0"],
                work, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(cp, args, work, jvm_flags=None):
    """Run the benchmark JVM; returns its result dict or None."""
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"] + jvm_flags
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"]
           + args + ["--work", work, "--result", result])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-4000:])
        return None
    return json.load(open(result))


def canon(rows, colnames):
    """tools/selfcheck.py's canonical form: columns by name, doubles to 6
    places, rows sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, ROUND)
                if v == 0:
                    v = 0.0
            if isinstance(v, list):
                v = tuple(round(x, ROUND) if isinstance(x, float) else x for x in v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return sorted(colnames), out


def oracle_check(res, work):
    """Replay each corpus step's registered oracle SQL in DuckDB over the
    generated documents and compare with the step's written output."""
    import duckdb
    import pyarrow.parquet as pq
    oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
    con = duckdb.connect()
    docs = os.path.join(res["input"], "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    bad = []
    for name, sql in sorted(oracles.items()):
        t = pq.read_table(os.path.join(work, "out", name))
        srows = [tuple(r[c] for c in t.column_names) for r in t.to_pylist()]
        cur = con.execute(sql)
        ocols = [d[0] for d in cur.description]
        if canon(srows, t.column_names) != canon(cur.fetchall(), ocols):
            bad.append(f"{name} differs from its DuckDB oracle")
    con.close()
    return bad


def main():
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    pins = json.load(open(os.path.join(HERE, "pins.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(pins["digests"]))
    ap.add_argument("--seed", type=int, default=pins["default_seed"])
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--oracle", action="store_true",
                    help="corpus only: also replay the steps' oracle SQL in DuckDB (about 25 s)")
    a = ap.parse_args()
    if not os.path.exists(spec_path):
        die("BENCHMARK.json is missing")
    spec = json.load(open(spec_path))
    if a.seconds is None:
        a.seconds = spec["run_seconds"]
    if a.oracle and a.workload != "corpus":
        die("--oracle applies to the corpus workload only")

    cp = build()
    work = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace)], work)
        if res is None:
            die("the benchmark JVM failed")
        problems = list(res["violations"])
        if a.oracle:
            problems += oracle_check(res, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    pinned = pins["digests"][a.workload] if a.seed == pins["default_seed"] else None
    if pinned is not None and res["digest"] != pinned:
        problems.append(f"digest {res['digest']} != pinned {pinned}")
    attempted, failed = res["attempted"], res["failed"]
    if problems:
        failed = attempted  # a wrong output fails every operation of the run
    if res["first_error"]:
        print(f"first error: {res['first_error']}")
    for p in problems[:10]:
        print(f"check failed: {p}")
    su = res["setup"]
    print(f"workload {a.workload} seed {a.seed} digest {res['digest']} rounds {res['rounds']} "
          f"op={res['op_kind']} samples={res['op_samples']}")
    print(f"  setup: session {su['session_s']:.2f} s, generate "
          f"{' / '.join(f'{x:.2f}' for x in su['generate_s'])} s, warm-up {su['warmup_s']:.2f} s")
    for k, m in res["named"].items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(f"  fail_ratio = {failed / max(attempted, 1):.6g}")

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {n: {"value": res["per_layer"].get(n, 0.0), "unit": units[n]} for n in names}
    else:
        metrics = {m["name"]: res["metrics"][m["name"]] for m in spec["end_to_end"]}
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
