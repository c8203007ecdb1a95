#!/usr/bin/env python3
"""Benchmark launcher: builds the program and harness, runs one workload in
a fresh JVM, checks its outputs and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The last line of standard output is one
JSON object with the keys `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`, exactly the names `BENCHMARK.json` declares. Everything the
run builds or writes stays under `.bench_build/` and `.bench_work/`.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
JVM_TIMEOUT_S = 170

WORKLOADS = ("catalog_loops", "kpi_recipe", "kpi_stream")
# Scale of the tables gen_tables.py makes for the workloads that read them;
# everything else about a workload is defined in harness/Workloads.scala.
TABLE_SCALE = {"catalog_loops": 0.01}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build():
    """Compiles the program's sources and the harness with scalac into a
    directory keyed by their content; a later run with the same sources
    reuses it."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                               recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not program or not harness:
        fail("program sources (src/main/scala) or harness sources not found")
    jars = sorted(glob.glob(os.path.join(JARS, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        fail(f"no Spark/Scala jars under {JARS}: set SPARK_HOME to the "
             "Spark install")
    h = hashlib.sha256()
    for f in program + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(program + harness))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(JARS, "*"),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
         "-classpath", os.pathsep.join(jars), "@" + argfile],
        capture_output=True, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed:\n" + (r.stdout + r.stderr)[-4000:])
    try:
        os.rename(tmp, out)  # atomic: `out` only ever holds a whole build
    except OSError:  # a concurrent run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def java(classes, work, main, args):
    """Runs `main` from the built classes in a JVM whose working, temp,
    Spark-local and stage directories all lie under `work`. Returns the
    exit code (None on timeout) and the JVM's output."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                          os.path.join(JARS, "*")])
    env = dict(os.environ,
               SPARK_GRAFT_STAGE_DIR=os.path.join(work, "stage"),
               SPARK_GRAFT_CPUS="4")
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                             stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    with open(log, errors="replace") as fh:
        return code, fh.read()


def run_harness(classes, work, args):
    code, out = java(classes, work, "perfbench.PerfBench", args)
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        fail(f"harness JVM exited with {code}:\n{out[-4000:]}", 1)
    with open(result) as fh:
        return json.load(fh)


def check_oracle(chk):
    """Each query's warm-up result against its DuckDB oracle SQL, by the
    repository's own comparison tool. Returns (attempted, failures)."""
    tool = os.path.join(ROOT, "tools/check_oracle.py")
    r = subprocess.run([sys.executable, tool, chk["data"], chk["out"]],
                       capture_output=True, text=True)
    ok = set(re.findall(r"^OK\s+(\S+):", r.stdout, re.M))
    failures = [f"oracle mismatch: {q}" for q in chk["queries"] if q not in ok]
    if r.returncode != 0 and not failures:
        failures.append("check_oracle.py: " + (r.stdout + r.stderr)[-300:])
    return len(chk["queries"]), failures


def check_kpi_recipe(chk):
    """The recipe's KPI CSV against DuckDB over the same JSONL, and the
    report's total against the generated row count."""
    import duckdb
    con = duckdb.connect()
    want = {(str(r[0]), r[1]): r[2:] for r in con.execute(f"""
        WITH b AS (
          SELECT CAST(strptime(timestamp_utc, '%Y-%m-%dT%H:%M:%SZ') AS DATE) AS d,
                 split_part(endpoint, '?', 1) AS e0,
                 TRY_CAST(status_code AS INTEGER) AS s,
                 TRY_CAST(elapsed_ms AS DOUBLE) AS ms, parse_result
          FROM read_json('{chk["jsonl"]}/*.json', format='newline_delimited',
               columns={{timestamp_utc: 'VARCHAR', endpoint: 'VARCHAR',
                         status_code: 'VARCHAR', elapsed_ms: 'VARCHAR',
                         parse_result: 'VARCHAR'}}))
        SELECT d, CASE WHEN e0 LIKE '/status/%' THEN '/status'
                       WHEN e0 LIKE '/basic-auth/%' THEN '/basic-auth'
                       ELSE e0 END AS e,
               count(*), count(*) FILTER (s BETWEEN 200 AND 299),
               count(*) FILTER (s BETWEEN 400 AND 499),
               count(*) FILTER (s BETWEEN 500 AND 599),
               count(*) FILTER (parse_result IS DISTINCT FROM 'ok'),
               avg(ms), quantile_cont(ms, 0.9)
        FROM b GROUP BY ALL""").fetchall()}
    got = {(str(r[0]), r[1]): r[2:] for r in con.execute(f"""
        SELECT * FROM read_csv('{chk["kpi_csv"]}/*.csv', header=true,
                               types={{'date_utc': 'DATE'}})""").fetchall()}
    failures = []
    if set(got) != set(want):
        failures.append(f"KPI groups differ: {sorted(set(got) ^ set(want))[:3]}")
    for k in set(got) & set(want):
        g, w = got[k], want[k]
        if tuple(g[:5]) != tuple(w[:5]) or abs(g[5] - w[5]) > 0.01 \
                or abs(g[6] - w[6]) > 0.01:
            failures.append(f"KPI row {k}: {g} vs {w}")
            break
    with open(chk["report"], encoding="utf-8") as fh:
        m = re.search(r"<h3>Total requests</h3><p>(\d+)</p>", fh.read())
    if not m or int(m.group(1)) != chk["rows"]:
        failures.append(f"report total {m and m.group(1)} != {chk['rows']}")
    return 2, failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = spec["per_layer" if a.trace else "end_to_end"]

    classes = build()
    t_start = time.time()
    work = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work]
        if a.workload in TABLE_SCALE:
            data = os.path.join(work, "data")
            os.makedirs(data)
            sys.path.insert(0, HERE)
            import gen_tables
            gen_tables.generate(data, a.seed, TABLE_SCALE[a.workload])
            args += ["--data", data]
        res = run_harness(classes, work, args)

        attempted, failures = res["attempted"], list(res["failures"])
        failed = res["failed"]
        for chk in res["external_checks"]:
            n, errs = {"oracle": check_oracle,
                       "kpi_recipe": check_kpi_recipe}[chk["kind"]](chk)
            attempted += n
            failed += len(errs)
            failures += errs

        if a.trace:
            values = res["layers"]
            if os.path.exists(os.path.join(work, "spans.jsonl")):
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                    WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
        else:
            values = {
                "setup_s": res["first_pass_ms"] / 1000.0 - t_start,
                "pass_s": statistics.median(res["passes_s"]),
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = [m["name"] for m in declared]
    if set(values) != set(names):
        fail(f"printed metrics {sorted(values)} != declared {sorted(names)}", 3)
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    print("timed passes: " + " ".join(f"{x:.3f}" for x in res["passes_s"]) +
          " s", file=sys.stderr)
    print(f"set-up: to session ready {res['session_ready_ms'] / 1000 - t_start:.2f} s; "
          "layer calls " + ", ".join(f"{k} {v:.2f} s" for k, v in
                                     res["setup_calls_s"].items()), file=sys.stderr)
    metrics = {}
    for m in declared:
        v = float(values[m["name"]])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        note = ""
        if m["name"].startswith("pass_"):
            note = f"  ({len(res['passes_s'])} passes)"
        print(f"{m['name']:<28} {v:>14.6g} {m['unit']}{note}")
    print(f"operations: {failed} failed of {attempted} attempted")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
