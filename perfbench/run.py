#!/usr/bin/env python3
"""Benchmark front end for the graft library.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --self-test

Workloads: etl_lake, registry_mix (see perfbench/NOTES.md).

Builds the library and the benchmark's JVM side from source into
.bench_build/ (reused while the sources are unchanged), generates the
seeded inputs, runs one JVM per workload (one client thread, closed loop,
local[nproc]), checks every output, and prints a detailed report line
followed by the result line, which is always the last line of stdout.
Exits non-zero, without a result line, on any set-up error.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing beside the sources

WORKLOADS = ("etl_lake", "registry_mix")
ETL_KINDS = ("full_load", "day")
REGISTRY_SF = 0.01
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not m:
            die("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        d = m.group(1)
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        die(f"no Spark jars under {d} (set SPARK_HOME)")
    return d


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not lib:
        die("no library sources under src/main/scala: run from the repository root")
    if not bench:
        die("no benchmark sources under perfbench/src")
    return lib + bench


def build(root, jars):
    """Compile library + benchmark once per source content; returns the class dir."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("build failed:\n" + p.stdout[-4000:], 3)
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
        if old != out and ".tmp-" not in old:
            shutil.rmtree(old, ignore_errors=True)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def run_jvm(classes, jars, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dderby.stream.error.file={work}/derby.log",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM / ^C: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        die(f"benchmark JVM failed ({rc}):\n{tail}", 1)


ORDER_ITEM = re.compile(r"^(\w+)(\s+(ASC|DESC))?(\s+NULLS\s+(FIRST|LAST))?$", re.I)


def order_keys(sql):
    """The column names of a query's final ORDER BY, or None when it has
    none or orders by anything but plain columns."""
    at = sql.upper().rfind("ORDER BY")
    if at < 0:
        return None
    items = [i.strip() for i in sql[at + len("ORDER BY"):].strip().rstrip(";").split(",")]
    ms = [ORDER_ITEM.match(i) for i in items]
    return [m.group(1) for m in ms] if all(ms) else None


def canonical_hash(table, keys=None):
    """Hash of a result table: columns sorted by name, rows in order,
    values compared exactly (the registry's oracle contract). Given the
    ORDER BY columns, the sequence of their values is hashed in order and
    the rows as a sorted multiset: rows with equal keys may come in any
    order, which SQL leaves open."""
    table = table.select(sorted(table.column_names))
    cols = table.column_names
    rows = list(zip(*[table.column(c).to_pylist() for c in cols]))
    h = hashlib.sha256(repr(cols).encode())
    lower = [c.lower() for c in cols]
    if keys and all(k.lower() in lower for k in keys):
        idx = [lower.index(k.lower()) for k in keys]
        h.update(repr([tuple(r[i] for i in idx) for r in rows]).encode())
        rows = sorted(rows, key=repr)
    for row in rows:
        h.update(repr(row).encode())
    return table.num_rows, h.hexdigest()


def oracle_checks(data, work):
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    with open(os.path.join(work, "registry", "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    checks = []
    for q in sorted(os.listdir(os.path.join(work, "registry", "results"))):
        got = pq.read_table(os.path.join(work, "registry", "results", q))
        if q not in oracle:
            checks.append({"name": f"registry.{q}.rows", "ok": got.num_rows > 0,
                           "detail": f"rows={got.num_rows} (no oracle)"})
            continue
        keys = order_keys(oracle[q])
        g, w = canonical_hash(got, keys), canonical_hash(con.sql(oracle[q]).arrow(), keys)
        checks.append({"name": f"registry.{q}.oracle", "ok": g == w,
                       "detail": f"rows={g[0]} hash={g[1][:16]}" + ("" if g == w else f" want rows={w[0]} hash={w[1][:16]}")})
    return checks


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(workload, res, setup_s):
    """The BENCHMARK.json end-to-end metrics from one JVM result."""
    ops = [o for o in res["ops"] if o["error"] is None and o["kind"] != "injected"]
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["ms"])
    if workload == "etl_lake":
        # ops: the lake reads; pass: the ETL's full load plus its day
        op_ms = [o["ms"] for o in ops if o["kind"] not in ETL_KINDS]
        pass_kinds = {k: v for k, v in by_kind.items() if k in ETL_KINDS}
        if len(pass_kinds) != len(ETL_KINDS):
            return None, None
    else:
        op_ms = [o["ms"] for o in ops]
        pass_kinds = by_kind
    if not op_ms or not pass_kinds:
        return None, None
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (quantile(op_ms, 0.5), "ms"),
        "op_p90_ms": (quantile(op_ms, 0.9), "ms"),
        "pass_s": (sum(statistics.median(v) for v in pass_kinds.values()) / 1000.0, "s"),
    }
    samples = {"setup_s": 1, "op_p50_ms": len(op_ms), "op_p90_ms": len(op_ms),
               "pass_s": {k: len(v) for k, v in pass_kinds.items()}}
    return metrics, samples


def self_time_per_op(res):
    """Traced self time per layer span, per op of each kind, most first."""
    counts = {}
    for o in res["ops"]:
        if o["error"] is None:
            counts[o["kind"]] = counts.get(o["kind"], 0) + 1
    out = {}
    for e in res["self_time_ms"]:
        if e["op"] in counts:
            out.setdefault(e["op"], {})[e["span"]] = e["ms"] / counts[e["op"]]
    return {k: dict(sorted(v.items(), key=lambda kv: -kv[1])) for k, v in out.items()}


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(args):
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("src/main/scala/graft not found: run from the repository root")
    jars = spark_jars(root)
    t_start = time.time()
    classes = build(root, jars)

    # ---- set-up clock starts after the (cached) build ----
    t_setup0 = time.time()
    deadline = t_setup0 + JVM_TIMEOUT_S
    work = os.path.join(root, ".bench_build", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                    "--trace", str(args.trace), "--work", work, "--out", os.path.join(work, "result.json")]
        inputs = {}
        if args.workload == "registry_mix":
            import gen_registry
            data = os.path.join(work, "data")
            os.makedirs(data)
            inputs = gen_registry.main(data, args.seed, REGISTRY_SF)
            inputs["sf"] = REGISTRY_SF
            jvm_args += ["--data", data]
        if args.inject_failure:
            jvm_args.append("--inject-failure")
        run_jvm(classes, jars, work, jvm_args, deadline)
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
        setup_s = res["setup_end_epoch_ms"] / 1000.0 - t_setup0
        checks = res["checks"]
        if args.workload == "registry_mix":
            checks += oracle_checks(os.path.join(work, "data"), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(res["ops"])
    failures = [o for o in res["ops"] if o["error"] is not None]
    e2e, samples = end_to_end(args.workload, res, setup_s)
    if e2e is None:
        die("no successful timed op", 1)
    correct = bool(checks) and all(c["ok"] for c in checks)
    layer = {m["name"]: (m["value"], m["unit"]) for m in res["metrics"]}
    layer["harness.peak_rss_mb"] = layer.pop("peak_rss_mb")
    layer["harness.failed_ratio"] = (len(failures) / attempted, "ratio")
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": res["host"], "inputs": {**res["inputs"], **inputs},
        "wall_s": time.time() - t_start, "attempted": attempted, "failed": len(failures),
        "failures": [{"kind": f["kind"], "error": f["error"]} for f in failures],
        "checks": checks, "end_to_end": e2e, "samples": samples, "metrics": layer,
        "self_time_ms_per_op": self_time_per_op(res),
    }
    out_dir = os.path.join(root, ".bench_build", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({**report, "trace_events": res["trace_events"]}, fh)
    print(json.dumps({"report": report}))

    spec = bench_spec()
    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        # layers this workload does not exercise read 0
        metrics = {n: {"value": float(layer[n][0]) if n in layer and layer[n][0] is not None else 0.0,
                       "unit": u} for n, u in names}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in spec["end_to_end"]}
    return {"correct": correct, "attempted": attempted, "failed": len(failures), "metrics": metrics}


def self_test():
    """Inject one failing op into a short run and check it is counted
    as a failure and kept out of every timing."""
    args = argparse.Namespace(workload="registry_mix", seed=1, seconds=1, trace=0, inject_failure=True)
    out = run(args)
    ok = out["failed"] == 1 and out["attempted"] >= 2 and out["correct"]
    print(json.dumps({"self_test": "pass" if ok else "fail", "result": out}))
    return 0 if ok else 1


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        sys.exit(self_test())
    if not args.workload:
        die("--workload is required")
    print(json.dumps(run(args)))


if __name__ == "__main__":
    main()
