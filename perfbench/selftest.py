#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py [--full]

- the table generator is deterministic for a seed and differs across seeds;
- BENCHMARK.json declares each metric once, with the fields run.py needs;
- the JVM-side checks: the page generators are deterministic
  per seed, and a tiny traced pipeline assigns every job it starts to
  exactly one stage, in stage order;
- with --full, one run of every workload in both modes prints exactly
  the declared metrics and reports no failures.
Exits non-zero on the first failed check.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import tables  # noqa: E402


def ok(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        sys.exit(1)


def tables_digest(seed):
    with tempfile.TemporaryDirectory(dir=run.BUILD) as d:
        tables.write_tables(d, seed, 0.001)
        h = hashlib.sha256()
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()


def main():
    os.makedirs(run.BUILD, exist_ok=True)
    ok(tables_digest(5) == tables_digest(5), "tables: same seed gives identical files")
    ok(tables_digest(5) != tables_digest(6), "tables: another seed gives other files")

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    ok(len(names) == len(set(names)), f"BENCHMARK.json: {len(names)} metric names, each once")
    ok(any(m["name"] == "setup_s" for m in spec["end_to_end"]), "BENCHMARK.json: setup_s declared")

    classpath = run.build()
    work = run.new_work_dir("selftest")
    res = run.run_jvm(classpath, work, ["--workload", "selftest", "--seed", "1"])
    for e in res["errors"]:
        print("     " + e)
    ok(res["failed"] == 0, f"JVM self-checks: {res['attempted'] - res['failed']}"
       f"/{res['attempted']} passed (details in {work}/jvm.log)")

    if "--full" in sys.argv:
        for w in spec["workloads"]:
            for trace, declared in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
                out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                      "--workload", w["name"], "--seed", "1",
                                      "--seconds", str(spec["run_seconds"]), "--trace", trace],
                                     capture_output=True, text=True, cwd=run.ROOT)
                last = json.loads(out.stdout.strip().splitlines()[-1])
                ok(out.returncode == 0 and last["correct"] and last["failed"] == 0,
                   f"{w['name']} trace {trace}: correct, no failures")
                ok(set(last["metrics"]) == {m["name"] for m in declared},
                   f"{w['name']} trace {trace}: prints exactly the declared metrics")


if __name__ == "__main__":
    main()
