#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the program and the benchmark from source with sbt
(the classpath is cached in .bench_build/ until a source file changes).
The workload runs in one JVM on local[N], N = min(4, nproc), with all its
files under .bench_work/. The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). Earlier lines print the host block, every
named metric with its unit, and the correctness verdict.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ["pos_stream", "cdc_merge", "history_scan", "query_panel"]
RUN_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, as paths relative to the checkout."""
    out = []
    for top in ["src/main", "project", "perfbench/src", "perfbench/project"]:
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    out += [f for f in ["build.sbt", "perfbench/build.sbt"]
            if os.path.exists(os.path.join(ROOT, f))]
    return out


def source_sha1():
    h = hashlib.sha1()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if a source changed since the last build; return the classpath."""
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.exists(os.path.join(ROOT, "build.sbt"))):
        fail("no program source here (src/main/scala, build.sbt); nothing to benchmark")
    sig = source_sha1()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("source_sha1") == sig:
            return s["classpath"], sig
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if l.startswith("/") and "perfbench" in l]
    if r.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    with open(stamp, "w") as fh:
        json.dump({"source_sha1": sig, "classpath": cp[-1]}, fh)
    return cp[-1], sig


def commit(sig):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha1:" + sig


def tmp_graft_dirs():
    """The program's scratch dirs (`graft-<family>-<jvm token>`) and
    streaming checkpoints under /tmp, which it names itself."""
    out = set()
    for base, pat in [("/tmp", r"graft-[a-z0-9]+-[0-9a-f]{8}"),
                      ("/tmp/graft-ckpt", r".+-[0-9]+")]:
        try:
            out |= {os.path.join(base, n) for n in os.listdir(base)
                    if re.fullmatch(pat, n)}
        except OSError:
            pass
    return out


def remove_new_tmp(before):
    """Remove what the run left under /tmp, if one JVM token made it all."""
    new = tmp_graft_dirs() - before
    tokens = {n.rsplit("-", 1)[1] for n in new if not n.startswith("/tmp/graft-ckpt/")}
    if len(tokens) <= 1:
        for d in new:
            shutil.rmtree(d, ignore_errors=True)


def java_cmd(cp, work, main_class):
    """The JVM command line: Spark's module opens, temp files under `work`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, main_class]


def run_jvm(cp, args, work, cpus):
    out = os.path.join(work, "result.json")
    cmd = java_cmd(cp, work, "perfbench.Main") + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--cpus", str(cpus)]
    before = tmp_graft_dirs()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s, see {work}/jvm.log")
    remove_new_tmp(before)
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"JVM exited {p.returncode}, see {work}/jvm.log")
    with open(out) as fh:
        return json.load(fh)


def check_panel(work):
    """Compare each panel result with its DuckDB oracle; return problems."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    try:
        co = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(co)
        import duckdb
    except Exception as e:  # no oracle means no verdict
        return [f"query_panel: DuckDB oracle unavailable: {e}"]
    res = os.path.join(work, "panel", "results")
    data = os.path.join(work, "panel", "data")
    with open(os.path.join(res, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in os.listdir(data):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"parquet_scan('{data}/{t}')")
    problems = []
    for name, sql in sorted(oracles.items()):
        if not sql:
            problems.append(f"query_panel: {name} has no oracle")
            continue
        try:
            s = con.execute(f"SELECT * FROM parquet_scan('{res}/{name}/*.parquet')")
            s_cols = [d[0] for d in s.description]
            s_rows = s.fetchall()
            o = con.execute(sql)
            o_cols = [d[0] for d in o.description]
            o_rows = o.fetchall()
        except Exception as e:
            problems.append(f"query_panel: {name}: {e}")
            continue
        s_rows, s_cols = co.norm(s_rows, s_cols)
        o_rows, o_cols = co.norm(o_rows, o_cols)
        if [c.lower() for c in s_cols] != [c.lower() for c in o_cols]:
            problems.append(f"query_panel: {name} columns {s_cols} vs {o_cols}")
        elif len(s_rows) != len(o_rows):
            problems.append(f"query_panel: {name} rows {len(s_rows)} vs {len(o_rows)}")
        elif not all(co.cell_eq(x, y) for a, b in zip(s_rows, o_rows)
                     for x, y in zip(a, b)):
            problems.append(f"query_panel: {name} values differ from the oracle")
    return problems


def trace_overhead(args, named):
    """Tracing overhead: the traced run's op_ms_p50 against the untraced
    run of the same workload and seed, or None if there is no such run."""
    same = os.path.join(WORK, "results", f"{args.workload}-{args.seed}-t0.json")
    traced = named.get("op_ms_p50", {}).get("value")
    if not traced or not os.path.exists(same):
        return None
    with open(same) as fh:
        base = json.load(fh)["metrics"]["op_ms_p50"]["value"]
    return traced / base - 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    cp, sig = classpath()

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ncpu = os.cpu_count() or 1
    cpus = min(4, ncpu)
    load_before = os.getloadavg()[0]
    r = run_jvm(cp, args, work, cpus)
    problems = list(r.get("problems", []))
    failed = int(r.get("failed", 0))
    if args.workload == "query_panel" and r.get("correct"):
        bad = check_panel(work)
        problems += bad
        failed += len(bad)
    correct = bool(r.get("correct")) and not problems

    host = dict(r.get("host", {}))
    host.update({"ncpu": ncpu, "local": f"local[{cpus}]", "load_before": load_before,
                 "commit": commit(sig), "hostname": os.uname().nodename})
    named = r.get("end_to_end", {})
    layers = r.get("per_layer", {})
    overhead = trace_overhead(args, named) if args.trace else None
    print("host " + json.dumps(host, sort_keys=True))
    for k, m in named.items():
        print(f"metric {k} {m['value']} {m['unit']}")
    if args.trace:
        for k in sorted(layers):
            print(f"layer {k} {layers[k]}")
        print(f"trace_overhead_frac {overhead} against the untraced run of seed {args.seed}"
              if overhead is not None else
              f"trace_overhead_frac not measured: no untraced run of seed {args.seed}")
        for k, v in sorted(r.get("self_ms", {}).items(), key=lambda kv: -kv[1]):
            print(f"self_ms {k} {v:.1f}")
    print("verdict " + ("correct" if correct else "INCORRECT"))
    for p in problems:
        print("problem " + p)

    if args.trace:
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0) or 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {}
        for m in spec["end_to_end"]:
            v = named.get(m["name"], {}).get("value")
            if v is None:
                correct = False
                v = 0.0
            metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    attempted = max(1, int(r.get("attempted", 1)))
    result = {"correct": correct, "attempted": attempted,
              "failed": min(failed, attempted), "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(dict(result, host=host, named=named, per_layer=layers,
                       self_ms=r.get("self_ms", {}), trace_overhead_frac=overhead,
                       problems=problems, seconds=args.seconds), fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
