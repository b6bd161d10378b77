#!/usr/bin/env python3
"""graft's benchmark of record.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The script compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala
compiler that ships in Spark's jars, runs one workload in a fresh JVM,
checks its outputs, and prints one JSON object as the last line of
stdout. Workloads, metrics and what each layer metric should move are
described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

WORKLOADS = ("chain_etl", "curation")
HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 160
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Directory of the Spark distribution's jars (SPARK_HOME, else the
    jars bundled with the pyspark package)."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.submodule_search_locations:
        cands += [os.path.join(p, "jars") for p in spec.submodule_search_locations]
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not srcs:
        fail("engine sources (src/main/scala) not found: run from a graft checkout")
    return srcs + bench


def build(root, build_dir, jars):
    """Compile engine + benchmark into build_dir/classes unless the
    sources are unchanged since the last build."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", cp, "-d", tmp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-5000:], file=sys.stderr)
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def java(root, classes, jars, work, main_class, main_args, log_path):
    """Run a benchmark main class in a fresh JVM whose scratch files stay
    under `work`; returns its exit code (killed after JVM_TIMEOUT_S)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # nodelay: the loopback RPC server answers like a real node, without
    # Nagle's algorithm holding each response back for a delayed ACK
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dsun.net.httpserver.nodelay=true"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                                    os.path.join(jars, "*")]),
            main_class] + main_args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -9
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def run_jvm(root, classes, jars, work, args):
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    code = java(root, classes, jars, work, "perfbench.Main",
                ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--data", os.path.join(HERE, "data"), "--work", work, "--out", out],
                log)
    with open(log) as f:
        lines = f.read().splitlines()
    for line in lines:
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if code != 0 or not os.path.exists(out):
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"benchmark JVM exited with {code}")
    with open(out) as f:
        return json.load(f)


# ---- output checks -------------------------------------------------------

TABLES = ["documents", "embeddings", "events"]


def canon_digest(rel):
    """Order-insensitive digest: columns sorted by name, values by repr,
    rows sorted (the same canonical form as tools/selfcheck.py)."""
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(repr(r[i]) for i in order) for r in rel.fetchall())
    h = hashlib.sha256(json.dumps([[cols[i] for i in order], rows]).encode())
    return h.hexdigest(), len(rows)


def check_outputs(checks, build_dir):
    """Names of the outputs that differ from the engine's DuckDB oracle
    SQL, or that have none."""
    if not checks:
        return set()
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    data = os.path.join(HERE, "data")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    cache_dir = os.path.join(build_dir, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    bad = set()
    for name, c in sorted(checks.items()):
        try:
            got, n = canon_digest(con.sql(f"SELECT * FROM '{c['dir']}/*.parquet'"))
        except Exception as e:
            print(f"[perfbench] {name}: unreadable output: {e}", file=sys.stderr)
            bad.add(name)
            continue
        want = None
        if c["sql"] is not None:
            # the oracle's answer is fixed per SQL text and data set
            key = hashlib.sha256((c["sql"] + data).encode()).hexdigest()
            path = os.path.join(cache_dir, key + ".json")
            if os.path.exists(path):
                with open(path) as f:
                    want = json.load(f)["digest"]
            else:
                want, _ = canon_digest(con.sql(c["sql"]))
                with open(path, "w") as f:
                    json.dump({"name": name, "digest": want}, f)
        if got != want:
            print(f"[perfbench] {name}: output digest {got[:12]} ({n} rows) != expected "
                  f"{(want or 'none')[:12]}", file=sys.stderr)
            bad.add(name)
    return bad


# ---- metrics -------------------------------------------------------------

def e2e(res, part, bad):
    p = res[part]
    ok = [o["s"] for o in p["ops"] if o["ok"] and o.get("check") not in bad]
    if len(ok) < 20:
        # a median needs ten samples on either side; failed ops are
        # already reported through `failed`, so only a short run is fatal
        if len(ok) == len(p["ops"]):
            fail(f"{part}: {len(ok)} ops, need 20 for a median")
        ok = ok or [o["s"] for o in p["ops"]]
    return {
        "setup_s": res["setup_s"],
        "heap_retained_mb": p["heap_retained_mb"],
        # the median pass, so one pass slowed by a neighbour's burst of
        # CPU use does not set the figure
        "items_per_s": statistics.median(q["items"] / q["wall_s"] for q in p["passes"]),
        "op_p50_s": statistics.median(ok),
    }


def main():
    # a terminated run still stops its JVM (the `finally` in java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be positive")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "examples")):
        fail("examples/ not found: run from the root of a graft checkout")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes = build(root, build_dir, jars)

    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(root, classes, jars, work, args)
        bad = check_outputs(res["checks"], build_dir)
        for t in glob.glob(os.path.join(work, "trace-*.jsonl")):
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            shutil.move(t, os.path.join(build_dir, "traces", os.path.basename(t)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    parts = ["untraced"] + (["traced"] if args.trace else [])
    ops = [o for p in parts for o in res[p]["ops"]]
    failed = sum(1 for o in ops if not o["ok"] or o.get("check") in bad)
    base = e2e(res, "untraced", bad)
    if args.trace:
        traced = e2e(res, "traced", bad)
        metrics = dict(res["layers"])
        metrics["trace.overhead_items_per_s"] = base["items_per_s"] / traced["items_per_s"]
        metrics["trace.overhead_op_p50_s"] = traced["op_p50_s"] / base["op_p50_s"]
        report(res, base, traced)
    else:
        metrics = base
    listed = benchmark()["per_layer" if args.trace else "end_to_end"]
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in listed}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": out}))


def benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def report(res, base, traced):
    """Per-layer self time and the traced-vs-untraced delta, on stderr."""
    layers = res["layers"]
    wall = sum(q["wall_s"] for q in res["traced"]["passes"])
    print(f"[perfbench] trace report: {res['workload']} seed {res['seed']}", file=sys.stderr)
    for k in sorted(layers):
        if k.startswith("self.") or k.startswith("trace."):
            print(f"[perfbench]   {k:28s} {layers[k]:10.3f}", file=sys.stderr)
    print(f"[perfbench]   traced passes wall {wall:.3f} s", file=sys.stderr)
    for k in base:
        d = (traced[k] - base[k]) / base[k] if base[k] else 0.0
        print(f"[perfbench]   {k:20s} untraced {base[k]:10.4f} traced {traced[k]:10.4f} "
              f"({d:+.1%})", file=sys.stderr)


if __name__ == "__main__":
    main()
