#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source,
runs one workload, checks its outputs and prints one JSON result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --workload all --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --record-reference   (rewrites perfbench/reference.json)

The last line of standard output is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The line before it carries the
workload's own metric names, the host record and fail_ratio. Per-query /
per-batch rows go to .bench_build/profiles/ (see summarize.py).
"""
import argparse
import gzip
import hashlib
import importlib.util
import json
import os
import platform
import re
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # importing scripts/check_oracle.py leaves no cache

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
X10_DIR = os.path.join(BUILD, "x10-mut")
ORACLE = os.path.join(ROOT, "scripts", "oracle_cache_sf01")
REFERENCE = os.path.join(HERE, "reference.json")
WORKLOADS = ["catalog-sf0.1", "catalog-x10", "cdc-push", "ingest-dedup"]
RUN_TIMEOUT = 170
X10_TABLES = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sys.exit("perfbench: SPARK_HOME must name the Spark distribution the engine builds against")
    return os.path.join(home, "jars")


def sf_dir():
    """The sf0.1 tables: PERFBENCH_SF_DIR, else the directory TESTDATA.md lists."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        for line in f:
            m = re.match(r"\|\s*0\.1\s*\|\s*`([^`]+)`", line)
            if m:
                return m.group(1).rstrip("/")
    sys.exit("perfbench: no sf0.1 directory in TESTDATA.md; set PERFBENCH_SF_DIR")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for d, _, fs in os.walk(os.path.join(ROOT, "src", "main", "resources")):
        files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(main_args, heap="5g"):
    cp = CLASSES + os.pathsep + os.path.join(spark_jars(), "*")
    props = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
             f"-Dderby.system.home={os.path.join(BUILD, 'tmp')}"]
    return ["java", *ADD_OPENS, *props, f"-Xmx{heap}", "-cp", cp,
            "graft.perfbench.Main", *main_args]


def run_proc(cmd, logpath, timeout, cwd=ROOT, env=None):
    """Run a child in its own process group; on timeout kill the group
    and wait for it, so no process outlives the benchmark."""
    with open(logpath, "ab") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compile engine + harness with sbt and copy the engine's resources
    next to the classes, when the sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources at src/main/scala — run from a full checkout")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    stamp_path = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    old = open(stamp_path).read().strip() if os.path.exists(stamp_path) else ""
    if old != stamp or not os.path.isdir(CLASSES):
        log("building engine and harness with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        logpath = os.path.join(BUILD, "build.log")
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "Compile / copyResources"],
                      logpath, 800, cwd=HERE, env=env)
        if rc != 0:
            sys.stderr.write(tail(logpath))
            sys.exit("perfbench: build failed")
        with open(stamp_path, "w") as f:
            f.write(stamp)


def materialize_x10():
    """The factor-10 replica, built once per checkout."""
    if not all(os.path.exists(os.path.join(X10_DIR, f"{t}.parquet", "_SUCCESS"))
               for t in X10_TABLES):
        log("materializing the factor-10 --mutate replica")
        logpath = os.path.join(BUILD, "x10.log")
        rc = run_proc(java_cmd(["--mode", "materialize", *common_args("catalog-x10", 0, 1, False,
                                                                        os.path.join(BUILD, "x10-run"))],
                               heap="6g"), logpath, 600)
        shutil.rmtree(os.path.join(BUILD, "x10-run"), ignore_errors=True)
        if rc != 0:
            sys.stderr.write(tail(logpath))
            sys.exit("perfbench: factor-10 materialization failed")


def common_args(workload, seed, seconds, trace, rundir):
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--dir", rundir, "--sf", sf_dir(),
            "--x10", X10_DIR, "--oracle", ORACLE, "--reference", REFERENCE]
    return args


def oracle_compare(checks):
    """Compare dumped query outputs with the cached DuckDB oracle results
    using check_oracle.py's canonical rule (sorted columns, sorted rows,
    canonical value repr). The cache is only read."""
    if not checks:
        return []
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    import duckdb
    con = duckdb.connect()
    bad = []
    for name, path in checks.items():
        with gzip.open(os.path.join(ORACLE, f"{name}.json.gz"), "rt") as f:
            d = json.load(f)
        ocols, orows = d["cols"], sorted(tuple(r) for r in d["rows"])
        scols, srows = co.frame_rows(con.sql(f"SELECT * FROM '{path}/*.parquet'"))
        if scols != ocols:
            bad.append(f"{name}: columns {scols} != oracle {ocols}")
        elif srows != orows:
            n = sum(1 for a, b in zip(srows, orows) if a != b)
            bad.append(f"{name}: {len(srows)} rows vs oracle {len(orows)}, {n} differ")
    con.close()
    return bad


def cpu_times():
    """(steal, total) jiffies from /proc/stat; zeros where unavailable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return (v[7] if len(v) > 7 else 0), sum(v)
    except (OSError, ValueError):
        return 0, 0


def host_record():
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    jv = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    return {"nproc": os.cpu_count(), "load_start": os.getloadavg()[0],
            "jvm": jv[0] if jv else "", "git_commit": commit or "none",
            "source_sha": open(os.path.join(BUILD, "stamp")).read().strip()[:16],
            "python": platform.python_version()}


def metric_names(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def run_one(workload, seed, seconds, trace):
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    rundir = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    host = host_record()
    steal0, total0 = cpu_times()
    logpath = os.path.join(rundir, "harness.log")
    try:
        rc = run_proc(java_cmd(common_args(workload, seed, seconds, trace, rundir)),
                      logpath, RUN_TIMEOUT)
        if rc != 0:
            sys.stderr.write(tail(logpath))
            sys.exit(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}")
        with open(os.path.join(rundir, "outcome.json")) as f:
            out = json.load(f)
        if out["invalid"]:
            sys.exit(f"perfbench: run invalid: {out['invalid']}")
        notes = list(out["notes"])
        bad = oracle_compare(out["oracle_checks"])
        notes += bad
        failed = out["failed"] + len(bad)
        attempted = max(1, out["attempted"])
        host["load_end"] = os.getloadavg()[0]
        steal1, total1 = cpu_times()
        host["cpu_steal"] = (steal1 - steal0) / max(1, total1 - total0)
        results = os.path.join(BUILD, "results")
        profiles = os.path.join(BUILD, "profiles")
        os.makedirs(results, exist_ok=True)
        os.makedirs(profiles, exist_ok=True)
        shutil.copy(os.path.join(rundir, "profile.jsonl"),
                    os.path.join(profiles, f"{workload}-s{seed}-t{int(trace)}.jsonl"))
        if trace:
            shutil.copy(os.path.join(rundir, "spans.jsonl"),
                        os.path.join(profiles, f"{workload}-s{seed}-spans.jsonl"))
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    e2e, layers = out["end_to_end"], dict(out["per_layer"])
    # tracing overhead: this traced run's latency minus that of the
    # untraced run of the same workload, seed and sources; missing (null)
    # when no such run is stored
    untraced_path = os.path.join(results, f"{workload}-s{seed}-{host['source_sha']}-t0.json")
    overhead = None
    if trace:
        traced = e2e["latency_ms"]["value"]
        layers["trace.latency_ms"] = {"value": traced, "unit": "ms"}
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                overhead = traced - json.load(f)["latency_ms"]["value"]
        else:
            notes.append("trace overhead missing: no untraced run of this workload, seed and sources")
    else:
        with open(untraced_path, "w") as f:
            json.dump(e2e, f)
    source = layers if trace else e2e
    metrics = {}
    for name, unit in metric_names("per_layer" if trace else "end_to_end"):
        v = source.get(name, {"value": 0, "unit": unit})
        metrics[name] = {"value": v["value"], "unit": unit}
    detail = {"workload": workload, "seed": seed, "trace": int(trace),
              "fail_ratio": failed / attempted, "named": out["named"], "host": host,
              **({"trace_overhead_ms": overhead} if trace else {}),
              "notes": notes[:20]}
    print(json.dumps(detail))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    # a terminated benchmark still stops its child (run_proc) and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-reference", action="store_true")
    a = ap.parse_args()
    build()
    if a.selftest or a.record_reference:
        rundir = os.path.join(BUILD, "runs", f"aux-{os.getpid()}")
        mode = "selftest" if a.selftest else "record"
        if a.record_reference:
            materialize_x10()
        cmd = java_cmd(common_args("catalog-sf0.1", 0, 1, False, rundir) + ["--mode", mode])
        rc = subprocess.run(cmd, cwd=ROOT).returncode
        shutil.rmtree(rundir, ignore_errors=True)
        sys.exit(rc)
    if not a.workload:
        sys.exit("perfbench: --workload is required")
    names = WORKLOADS if a.workload == "all" else [a.workload]
    for w in names:
        if w not in WORKLOADS:
            sys.exit(f"perfbench: unknown workload {w}")
        if w == "catalog-x10":
            materialize_x10()
        result = run_one(w, a.seed, a.seconds, bool(a.trace))
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
