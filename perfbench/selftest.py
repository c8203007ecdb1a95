#!/usr/bin/env python3
"""Self-tests of the benchmark, run from the repository root:

    python3 perfbench/selftest.py

1. The layer listener counts known Spark jobs exactly (jobs, stages,
   tasks) and attributes them to the layer call that started them.
2. In both modes, every metric the benchmark prints is declared in
   BENCHMARK.json and every declared metric is printed, in the result
   line and in the human-readable lines before it.
Exits 1 on the first failed test.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def listener_test(classes):
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        code, out = run.java(classes, work, "perfbench.SelfTest", [])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or "listener selftest ok" not in out:
        sys.exit("listener self-test failed:\n" + out[-3000:])
    print("ok   listener counts and attributes known jobs")


def metric_names_test():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        declared = {m["name"] for m in spec[key]}
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "kpi_stream", "--seed", "1", "--seconds", "1",
             "--trace", str(trace)],
            cwd=run.ROOT, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.exit(f"run.py --trace {trace} failed:\n{r.stderr[-3000:]}")
        result = json.loads(lines[-1])
        printed = {ln.split()[0] for ln in lines[:-1]
                   if ln.strip() and not ln.startswith("operations:")}
        for what, names in (("result line", set(result["metrics"])),
                            ("printed lines", printed)):
            if names != declared:
                sys.exit(f"--trace {trace} {what}: undeclared "
                         f"{sorted(names - declared)}, missing "
                         f"{sorted(declared - names)}")
        print(f"ok   --trace {trace} prints exactly the declared {key} metrics")


def main():
    classes = run.build()
    listener_test(classes)
    metric_names_test()


if __name__ == "__main__":
    main()
