#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload per run.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the harness from source with sbt on first use
(perfbench/build.sbt depends on the repository's own build), runs one
JVM for the run, checks the outputs (in the JVM against plain-Scala
folds, stream-vs-batch oracles and pass-to-pass equality; here against
the DuckDB oracle SQL the library ships), and prints the result as the
last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full record (pass times, input shapes and digests, provenance, and
for a traced run every span) is saved under perfbench/work/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("fold_groupby", "curation_batch", "stream_ingest")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the repository's
# build.sbt passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: library and harness sources, build files."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        for base in (ROOT, HERE):
            p = os.path.join(base, f)
            if os.path.isfile(p):
                out.append(p)
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compile with sbt once per source state; returns the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "source_digest.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspathAsJars"]
    with open(log, "w") as lf:
        try:
            p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                               stderr=lf, stdin=subprocess.DEVNULL,
                               timeout=BUILD_TIMEOUT_S, text=True)
        except subprocess.TimeoutExpired:
            die(f"build timed out (log: {log})", 3)
        lf.write(p.stdout)
    if p.returncode != 0:
        die(f"build failed (log: {log})", 3)
    cps = [ln for ln in p.stdout.splitlines()
           if ".jar" in ln and not ln.startswith("[")]
    if not cps:
        die(f"build printed no classpath (log: {log})", 3)
    cp = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def load_1m():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    return int(ln.split()[1]) // 1024
    except OSError:
        pass
    return None


def git_commit():
    try:
        p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work, out):
    """One benchmark JVM; killed with its process group on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", *args, "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    return code, log


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---- DuckDB oracle, with the comparison rules of tools/check.py ----------

def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    return str(v)


def spark_cell(c):
    if c is None:
        return None
    tag, val = c[:2], c[2:]
    if tag == "d:":
        return float(val)
    if tag == "i:":
        return int(val)
    return val


def oracle_check(record, tables):
    """Compare each recorded Spark output with its oracle SQL in DuckDB."""
    fails = []
    oracles = record.get("oracles") or []
    if not oracles:
        return fails, 0
    import duckdb
    con = duckdb.connect()
    for t in sorted(os.listdir(tables)) if os.path.isdir(tables) else []:
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(tables, t)}/*.parquet'")
    for o in oracles:
        name, sp = o["name"], o["spark"]
        try:
            du = con.execute(o["sql"]).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the check
            fails.append(f"oracle {name}: {e}")
            continue
        sp_cols = sorted(sp["columns"])
        du_cols = sorted(du.column_names)
        if sp_cols != du_cols:
            fails.append(f"oracle {name}: columns spark={sp_cols} duck={du_cols}")
            continue
        idx = [sp["columns"].index(c) for c in sp_cols]
        sp_rows = sorted(tuple(norm(spark_cell(r[i])) for i in idx) for r in sp["rows"])
        du_rows = sorted(tuple(norm(du.column(c)[i].as_py()) for c in du_cols)
                         for i in range(du.num_rows))
        if sp_rows != du_rows:
            fails.append(f"oracle {name}: spark {len(sp_rows)} rows differ from "
                         f"duckdb {len(du_rows)} rows")
    return fails, len(oracles)


def declared_metrics(trace):
    """The metric names BENCHMARK.json declares for this mode, if present."""
    p = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(p):
        return None
    with open(p) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("the library sources (src/main/scala/graft, build.sbt) are not "
            "beside perfbench/; run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    digest = source_digest()
    cp = build(digest)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK, f"run-{tag}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    load_before = load_1m()
    t0 = time.time()
    args_jvm = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace)]
    code, log = run_jvm(cp, args_jvm, work, out)
    elapsed = time.time() - t0
    load_after = load_1m()
    if code != 0 or not os.path.isfile(out):
        sys.stderr.write(tail(log))
        shutil.rmtree(work, ignore_errors=True)
        die("benchmark JVM " + ("timed out" if code is None else f"exited {code}"), 4)
    with open(out) as f:
        record = json.load(f)

    fails, n_oracles = oracle_check(record, os.path.join(work, "tables"))
    attempted = int(record["attempted"]) + n_oracles
    failed = int(record["failed"]) + len(fails)
    record["failures"] = record.get("failures", []) + fails
    record["oracle_checks"] = n_oracles
    record["provenance"].update({
        "git_commit": git_commit(), "source_digest": digest,
        "nproc": os.cpu_count(), "mem_total_mb": mem_total_mb(),
        "load_1m_before_run": load_before, "load_1m_after_run": load_after,
        "run_elapsed_s": elapsed})
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f)
    shutil.rmtree(work, ignore_errors=True)

    for msg in record["failures"]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    summary = {k: record.get(k) for k in ("workload", "seed", "trace", "pass_count",
                                          "setup", "shape", "digests")}
    summary["provenance"] = record["provenance"]
    summary["error_rate"] = failed / attempted if attempted else 1.0
    print(json.dumps(summary))
    metrics = {k: {"value": v["value"], "unit": v["unit"]}
               for k, v in record["metrics"].items()}
    declared = declared_metrics(args.trace)
    if declared is not None and set(declared) != set(metrics):
        die(f"metrics {sorted(set(metrics) ^ set(declared))} differ between this run "
            "and BENCHMARK.json", 5)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
