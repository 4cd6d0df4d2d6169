#!/usr/bin/env python3
"""Benchmark entry point: build the program, make the inputs, run one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: domain_path, entry_rows (see perfbench/README.md). The program
is compiled from src/main/scala together with perfbench/src into
.bench_build/perfbench/build/perfbench.jar, once per source version.
Inputs are generated from --seed. The last stdout line is
the result: {"correct", "attempted", "failed", "metrics"}; the line before
it is the full record, which is also written under
.bench_build/perfbench/records/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["domain_path", "entry_rows"]
ENTRY_WORKLOADS = {"entry_rows"}
# every JVM of one invocation must end by then (the run's limit is 180 s)
DEADLINE_S = 170
# SPARK_GRAFT_* variables with no effect here: read only by the repo's own
# Bench/Verify mains, or (CPUS) by GraftSession.local's default core count,
# which the benchmark passes explicitly. Any other one tunes the program.
NO_EFFECT = {"SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BENCH_ROUND",
             "SPARK_GRAFT_BENCH_RUNS", "SPARK_GRAFT_BENCH_SELF",
             "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_VERIFY_ONLY", "SPARK_GRAFT_CPUS"}
E2E = [("setup_s", "s"), ("cpu_s", "s"), ("wall_s", "s")]
PER_LAYER = [("spark.planning_ms_per_op", "ms"), ("spark.jobs_per_op", "count"),
             ("spark.tasks_per_op", "count"), ("spark.task_ms_per_op", "ms"),
             ("spark.longest_task_ms", "ms"),
             ("spark.shuffle_write_bytes_per_op", "bytes"),
             ("spark.input_bytes_per_op", "bytes"),
             ("trace.program_self_ms_per_op", "ms"),
             ("trace.engine_call_ms_per_op", "ms"), ("trace.spans", "count"),
             ("trace.overhead_pct", "%")]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars of $SPARK_HOME, or those bundled with the pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        home = os.path.dirname(spec.origin) if spec and spec.origin else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars under {jars!r}; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        fail("program sources src/main/scala not found next to perfbench/")
    return prog + sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))


def build():
    """Compile program + benchmark with scalac into one jar, once per source
    version, and record a class-data-sharing archive of a session start so
    that each run's JVM loads Spark's classes from it."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(OUT, "build")
    jar = os.path.join(out, "perfbench.jar")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(out, ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return jar
        t0 = time.time()
        shutil.rmtree(out, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
                            "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                            "-d", classes, "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail("compile failed")
        shutil.copytree(os.path.join(ROOT, "src/main/resources"), classes, dirs_exist_ok=True)
        # class-data sharing needs a jar: it refuses directories on the class path
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for base, _, files in os.walk(classes):
                for f in files:
                    z.write(os.path.join(base, f), os.path.relpath(os.path.join(base, f), classes))
        shutil.rmtree(classes)
        work = os.path.join(out, "cds-run")
        os.makedirs(os.path.join(work, "tmp"))
        # best effort: without the archive the runs are slower to start, not wrong
        subprocess.run(java_cmd(jar, work, ["-XX:ArchiveClassesAtExit=" + os.path.join(out, "app.jsa")])
                       + ["--setup-only", "--work", work],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=ROOT,
                       env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp")),
                       timeout=DEADLINE_S)
        shutil.rmtree(work, ignore_errors=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        return jar


def java_cmd(jar, work, extra=()):
    """The benchmark JVM's command line up to its program arguments. No
    -XX perf-data file: the JVM would write it to the system temp directory."""
    cmd = ["java", "-XX:-UsePerfData"]
    cmd += [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += list(extra)
    archive = os.path.join(os.path.dirname(jar), "app.jsa")
    if not extra and os.path.exists(archive):
        cmd += ["-XX:SharedArchiveFile=" + archive, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    return cmd + ["-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
                  f"-Dspark.local.dir={work}/tmp", "-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  "-cp", f"{jar}{os.pathsep}{spark_jars()}", "perfbench.Main"]


def tables(seed):
    """Seeded batch/streaming tables, generated once per seed."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, BENCH)
    import gen_tables
    d = os.path.join(OUT, "tables", f"s{seed}")
    done = os.path.join(d, ".done")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.generate(seed, d)
        open(done, "w").close()
    return d


def jvm(jar, workload, seed, seconds, trace, work, out, table_dir, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(jar, work) + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--out", out]
    if table_dir:
        cmd += ["--tables", table_dir]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both
        # inside the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/tmp")
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT, env=env)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM ended with {rc}")
    with open(out) as f:
        return json.load(f)


def oracle_check(rec, table_dir):
    """Compare each SparkEntry row's output with its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    for t in glob.glob(os.path.join(table_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    bad = []
    for row, sql in sorted(rec["oracle_sql"].items()):
        path = rec["oracle_outputs"].get(row)
        if path is None:
            continue  # the op itself failed and is already counted
        files = glob.glob(os.path.join(path, "*.parquet"))
        exp = con.execute(sql).fetchdf()
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf() if files \
            else exp.iloc[0:0]
        exp = exp.reindex(sorted(exp.columns), axis=1)
        got = got.reindex(sorted(got.columns), axis=1)
        msg = None
        if list(exp.columns) != list(got.columns):
            msg = f"columns {list(got.columns)}, expected {list(exp.columns)}"
        elif len(exp) != len(got):
            msg = f"{len(got)} rows, expected {len(exp)}"
        else:
            for c in exp.columns:
                ev, gv = exp[c].reset_index(drop=True), got[c].reset_index(drop=True)
                try:
                    eq = (ev.isna() & gv.isna()) | (ev == gv)
                except Exception:
                    eq = ev.astype(str) == gv.astype(str)
                if not eq.all():
                    i = int((~eq).idxmax())
                    msg = f"column {c} row {i}: {gv[i]!r}, expected {ev[i]!r}"
                    break
        if msg:
            bad.append({"op": row, "class": "OracleMismatch", "message": msg})
    return bad


def run_once(jar, a, trace, deadline):
    table_dir = tables(a.seed) if a.workload in ENTRY_WORKLOADS else None
    work = os.path.join(OUT, "runs", f"{a.workload}-s{a.seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        rec = jvm(jar, a.workload, a.seed, a.seconds, trace, work,
                  os.path.join(work, "result.json"), table_dir, deadline)
        rec["jvm_s"] = time.time() - t0
        if a.workload in ENTRY_WORKLOADS:
            t0 = time.time()
            extra = oracle_check(rec, table_dir)
            rec["oracle_check_s"] = time.time() - t0
            rec["failures"] += extra
            rec["ops_failed"] += len(extra)
        for k in ("oracle_sql", "oracle_outputs", "row_ids", "files_read"):
            rec.pop(k, None)
        if trace:
            spans = os.path.join(work, "spans.jsonl")
            rec_dir = os.path.join(OUT, "records")
            os.makedirs(rec_dir, exist_ok=True)
            shutil.copy(spans, os.path.join(rec_dir, f"{a.workload}-s{a.seed}-spans.jsonl"))
        return rec
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    tuned = sorted(k for k in os.environ
                   if k.startswith("SPARK_GRAFT_") and k not in NO_EFFECT)
    if tuned:
        fail(f"refusing to run with program tuning variables set: {', '.join(tuned)}")

    jar = build()
    deadline = time.time() + DEADLINE_S
    if a.trace:
        # the overhead compares the traced run with an untraced one on the
        # same seed, made just before it
        base = run_once(jar, a, 0, deadline)["wall_s"]
        rec = run_once(jar, a, 1, deadline)
        rec["per_layer"]["trace.overhead_pct"] = 100.0 * (rec["wall_s"] / base - 1.0)
        rec["per_layer"]["trace.untraced_wall_s"] = base
        metrics = {n: {"value": rec["per_layer"][n], "unit": u} for n, u in PER_LAYER}
    else:
        rec = run_once(jar, a, 0, deadline)
        metrics = {n: {"value": rec[n], "unit": u} for n, u in E2E}

    rec_dir = os.path.join(OUT, "records")
    os.makedirs(rec_dir, exist_ok=True)
    line = json.dumps(rec, sort_keys=True)
    with open(os.path.join(rec_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        f.write(line + "\n")
    print(line)
    print(json.dumps({"correct": rec["ops_failed"] == 0, "attempted": rec["ops_total"],
                      "failed": rec["ops_failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
