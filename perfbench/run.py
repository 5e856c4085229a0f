#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload kg|queries --seed N [--seconds S] --trace 0|1

Run from the repository root. Builds the engine and the benchmark program
from source on first use (sbt, `perfbench/build.sbt`), makes the
workload's inputs from the seed, runs the benchmark JVM at local[4], checks
the outputs, and prints one JSON line as the last line of stdout:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
Build outputs and run files stay in the checkout (`perfbench/target`,
`.bench_build/`).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TABLE_SCALE = 0.005
# JVM readings that feed a declared metric but are not one themselves
INTERNAL = {"setup.session_s"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[run] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building engine + benchmark program with sbt")
    out_path = os.path.join(BUILD, "sbt.log")
    with open(out_path, "w") as out:
        # sbt's home, boot jars, temp files and native libraries all go
        # under .bench_build, so a build writes only inside the checkout
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dsbt.global.base={BUILD}/sbt-global",
                        f"-Dsbt.boot.directory={BUILD}/sbt-boot",
                        "-Dsbt.server.autostart=false",
                        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                        "-J-XX:-UsePerfData",
                        "compile", "export Runtime/fullClasspath"],
                       timeout=840, cwd=HERE, stdout=out, stderr=subprocess.STDOUT)
    with open(out_path) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, fh)
    return cps[-1]


def heap_mb():
    """A quarter of the host's memory, at most 4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(1024, min(4096, kb // 4096))
    except (OSError, StopIteration, ValueError):
        return 2048


def run_jvm(classpath, work, args, timeout=170):
    """Run the benchmark JVM in `work`; returns its result.json."""
    cmd = (["java", f"-Xmx{heap_mb()}m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graftbench.Main", "--work", work] + args)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        rc = run_child(cmd, timeout=timeout, cwd=work, stdout=err, stderr=subprocess.STDOUT)
    result_path = os.path.join(work, "result.json")
    if not os.path.exists(result_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        raise SystemExit(f"benchmark JVM exited with {rc} and no result")
    with open(result_path) as fh:
        return json.load(fh)


def new_work_dir(name):
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def make_tables(work, seed):
    """Materialize the query tables three times; the median seconds."""
    sys.path.insert(0, HERE)
    import tables
    secs = []
    for i in range(3):
        d = os.path.join(work, f"tables_{i}")
        t0 = time.perf_counter()
        tables.write_tables(d, seed, TABLE_SCALE)
        secs.append(time.perf_counter() - t0)
    return os.path.join(work, "tables_0"), statistics.median(secs)


def norm(v):
    return round(v, 9) if isinstance(v, float) else v


def oracle_failures(tables_dir, work):
    """Queries whose Spark result differs from the DuckDB oracle."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = []
    for name, sql in sorted(oracle.items()):
        path = os.path.join(work, "results", name)
        try:
            got = pq.read_table(path).to_pandas()
            exp = con.execute(sql).df()
        except Exception as e:  # a missing or unreadable result is a failure
            log(f"oracle {name}: {e}")
            bad.append(name)
            continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        g = sorted(repr(tuple(norm(v) for v in r)) for r in got[gc].itertuples(index=False))
        e = sorted(repr(tuple(norm(v) for v in r)) for r in exp[ec].itertuples(index=False))
        if gc != ec or g != e:
            log(f"oracle {name}: MISMATCH ({len(g)} vs {len(e)} rows, columns {gc} vs {ec})")
            bad.append(name)
    log(f"oracle: {len(oracle) - len(bad)} ok, {len(bad)} bad")
    return bad


def check_fingerprint(workload, seed, fp):
    """The same seed must give the same entity_rank on every run of the
    same sources."""
    path = os.path.join(BUILD, "fingerprints.json")
    known = {}
    if os.path.exists(path):
        with open(path) as fh:
            known = json.load(fh)
    key = f"{workload}:{seed}:{source_stamp()[:16]}"
    if key in known and known[key] != fp:
        log(f"entity_rank fingerprint for seed {seed} changed: {known[key]} -> {fp}")
        return False
    known[key] = fp
    with open(path, "w") as fh:
        json.dump(known, fh)
    return True


def main():
    # a terminated run still stops the build or JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found: run from a full checkout")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {a.workload}")
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]

    classpath = build()
    work = new_work_dir(f"{a.workload}-{a.seed}-{a.trace}")

    extra_args, py_setup_s = [], 0.0
    if a.workload == "queries":
        tables_dir, py_setup_s = make_tables(work, a.seed)
        extra_args = ["--tables", tables_dir]

    res = run_jvm(classpath, work, ["--workload", a.workload, "--seed", str(a.seed),
                                       "--seconds", str(seconds), "--trace", str(a.trace)]
                     + extra_args)
    for e in res["errors"]:
        log(f"error: {e}")

    failed = res["failed"]
    if a.workload == "queries" and res["failed"] < res["attempted"]:
        bad = set(oracle_failures(tables_dir, work)) - set(res.get("failed_queries", []))
        failed += len(bad)
    fp = res.get("entity_rank_fingerprint")
    if fp and not check_fingerprint(a.workload, a.seed, fp):
        failed += 1
    failed = min(failed, res["attempted"])

    values = res["metrics"]
    if "setup_s" in values:
        values["setup_s"] += py_setup_s
    undeclared = set(values) - INTERNAL - {m["name"] for m in spec["per_layer"] + spec["end_to_end"]}
    if undeclared:
        raise SystemExit(f"benchmark JVM measured undeclared metrics: {sorted(undeclared)}")
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None or not math.isfinite(v):
            raise SystemExit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    log(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
        f"attempted {res['attempted']} failed {failed} host {res.get('host')}")
    print(json.dumps({"correct": failed == 0 and not res["errors"],
                      "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
