#!/usr/bin/env python3
"""Run one graft benchmark workload with a seed and print its result.

    python3 perfbench/run.py --workload <etl_service|flow_dashboard>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles graft's main
sources plus the harness under `perfbench/src` into `.bench_build/`
(Scala compiler from the Spark distribution, no sbt); later runs reuse
that build while the sources are unchanged. Each run then

1. generates its inputs from the seed (`perfbench/gen.py`),
2. runs the workload in one JVM (`perfbench.Main`),
3. checks the outputs: the generator's manifest for the ETL parquet
   output, DuckDB over the oracle SQL for the dashboard results (the
   canonicalization of `tools/check.py`), and the checks the JVM made,
4. writes a record of the run to `.bench_build/records/` (never
   overwriting an earlier one) and prints one JSON line:
   `{"correct", "attempted", "failed", "metrics"}` — the end-to-end
   metrics with `--trace 0`, the per-layer metrics with `--trace 1`.

The exit code is 0 only if every output check passed.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_service", "flow_dashboard")
DEADLINE_S = 170  # a run must end within 180 s
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        sys.exit("perfbench: run from a graft checkout (src/main/scala is missing)")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build(jars):
    """Compile graft + harness once per source snapshot; return the class dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}")
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(files)} sources")
    t = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", cp] + files,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: compile failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    if os.path.isdir(out):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, out)
    # builds of earlier source snapshots are never used again
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    log(f"compiled in {time.time() - t:.1f}s")
    return out


def load_check_module():
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_dashboard(run_dir, result, checks):
    """Every dumped dashboard result must hash-equal its oracle SQL run
    in DuckDB over the generated tables (tools/check.py's compare)."""
    chk = load_check_module()
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{run_dir}/input/{t}.parquet')")
    oracle = json.load(open(f"{run_dir}/dash_out/oracle_sql.json"))
    chk._worker_con, chk._worker_oracle = con, oracle
    runs = result["detail"]["launcher.dash_runs"]
    failed = 0
    for q, n in sorted(runs.items()):
        d = f"{run_dir}/dash_out/{q}"
        verdict = (chk.check_one(d)[1] if q in oracle
                   else "NO_ORACLE_SQL")
        ok = verdict == "OK"
        checks.append({"name": f"dash.{q}.oracle", "ok": ok, "detail": verdict})
        if not ok:
            failed += n
    con.close()
    return failed


def check_etl(run_dir, result, checks):
    """Parquet written by each drain holds exactly the manifest's good
    rows and ibyt sum per watcher, with no duplicate (ra, sp) keys."""
    totals = json.load(open(f"{run_dir}/input/manifest.json"))["totals"]
    con = duckdb.connect()
    con.execute("SET threads=2")
    failed = 0
    for entry in result["detail"]["launcher.parquet"]:
        for out, key in zip(entry["out"], entry["expect"]):
            exp = totals[key]
            files = glob.glob(f"{run_dir}/{out}/**/*.parquet", recursive=True)
            if files:
                n, s, distinct = con.execute(
                    "SELECT count(*), coalesce(sum(ibyt), 0), "
                    "count(DISTINCT (ra, sp)) FROM read_parquet(?)",
                    [files]).fetchone()
            else:
                n, s, distinct = 0, 0, 0
            ok = n == exp["rows"] and s == exp["ibyt"] and distinct == n
            checks.append({"name": f"etl.parquet.{out}", "ok": ok,
                           "detail": f"rows {n}/{exp['rows']} ibyt {s}/{exp['ibyt']} "
                                     f"distinct {distinct}"})
            if not ok:
                failed += exp["files"]
    con.close()
    return failed


def record_path(workload, seed, cpus, trace):
    d = os.path.join(BUILD, "records")
    os.makedirs(d, exist_ok=True)
    base = f"{workload}_seed{seed}_c{cpus}_trace{trace}"
    i = 0
    while True:
        p = os.path.join(d, f"{base}_{i:03d}.json")
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            return p, fd
        except FileExistsError:
            i += 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    jars = spark_jars()
    classes = build(jars)
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    sys.path.insert(0, HERE)
    import gen
    t = time.time()
    gen.generate(args.workload, args.seed, os.path.join(run_dir, "input"))
    gen_s = time.time() - t

    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
            f"-Dspark.hadoop.hadoop.tmp.dir={run_dir}/tmp",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
            "perfbench.Main", args.workload, run_dir, str(args.seconds),
            str(args.trace), str(cpus), str(args.seed)]
    t = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both
        # inside the run dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                cwd=run_dir, env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            rc = "timeout"
    jvm_s = time.time() - t
    res_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: workload JVM failed ({rc}); run dir {run_dir}")
    result = json.load(open(res_file))

    checks = list(result["checks"])
    failed = result["failed"]
    if args.workload == "flow_dashboard":
        failed += check_dashboard(run_dir, result, checks)
    elif args.workload == "etl_service":
        failed += check_etl(run_dir, result, checks)
    attempted = max(1, result["attempted"])
    failed = min(failed, attempted)
    correct = failed == 0 and all(c["ok"] for c in checks)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = result["layers"] if args.trace else result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        sys.exit(f"perfbench: run produced no value for {missing}; run dir {run_dir}")
    line = {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                        for m in wanted}}

    path, fd = record_path(args.workload, args.seed, cpus, args.trace)
    record = dict(result, checks=checks, correct=correct, failed_frac=failed / attempted,
                  output=line, gen_s=gen_s, jvm_s=jvm_s,
                  wall_s=time.time() - t_start)
    with os.fdopen(fd, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    for c in checks:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")
    print(json.dumps(line))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
