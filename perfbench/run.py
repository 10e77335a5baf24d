#!/usr/bin/env python3
"""The repository's benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program
(src/main/scala) together with the benchmark's own JVM harness
(perfbench/src) with the Scala compiler shipped in the Spark jars, into
.bench_build/. The harness runs the workload at local[<cores>], checks
every op's output against a reference built outside the timed path, and
writes a record to .bench_out/records/. Generated inputs, Spark's local
and warehouse dirs, checkpoints and run logs live under .bench_tmp/ and
are deleted when the run ends.

The last stdout line is one JSON object: correct, attempted, failed and
the metrics (end-to-end with --trace 0, per-layer with --trace 1). The
line before it prints each metric by name and unit. The exit code is 0
only if every output was correct.

Workloads (see BENCHMARK.json for sizes):
  catalog        every 38th default-class declared query with a DuckDB
                 oracle over the sf0.1 tables ($PERFBENCH_SF_DIR, default
                 ~/testdata/sf0.1), one query per op in seeded order
  corpus_stream  Streams.corpusIngest with CorpusModule.graph() over a seeded
                 corpus landed as blocks, one op per micro-batch
  graph_rounds   connectedComponents + pageRank + labelPropagation +
                 bfsDistances over a seeded graph, one op per pass

Compare two sets of records with perfbench/compare.py.
"""
import argparse
import datetime
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
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
OUT_DIR = os.path.join(ROOT, ".bench_out")
TMP_DIR = os.path.join(ROOT, ".bench_tmp")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# fixed heap and nursery: G1's adaptive young-gen sizing is a noise source
HEAP, YOUNG = "3g", "1g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar dir the program builds against: build.sbt's unmanagedBase,
    or $SPARK_HOME/jars when that is set."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m and m.group(1)
    if not jars or not glob.glob(os.path.join(jars, "*.jar")):
        fail(f"no Spark jars found (in {jars}); set SPARK_HOME")
    return jars


def digest(paths, base):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not program:
        fail("no program sources under src/main/scala; run from a checkout")
    return program, sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                                     recursive=True))


def build(jars):
    """Compile program + harness once per source digest; return classes dir."""
    program, harness = sources()
    key = digest(program + harness, ROOT)[:16]
    out = os.path.join(BUILD_DIR, f"classes-{key}")
    if os.path.exists(os.path.join(out, "OK")):
        return out, key, False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(program + harness) + "\n")
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    open(os.path.join(out, "OK"), "w").close()
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out, key, True


def stamp(args, cores, sf_dir, src_key, result):
    git = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        git = r.stdout.strip() or None
    bench = sorted(glob.glob(os.path.join(HERE, "**/*.py"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    java = subprocess.run(["java", "-version"], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True).stdout.splitlines()
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "sf_dir": sf_dir,
        "commit": git, "src_digest": src_key,
        "bench_digest": digest(bench, ROOT)[:16],
        "java": java[0] if java else None, "heap": f"{HEAP}/{YOUNG}",
        "host_canary_ms": result["canary_ms"], "sizes": result["sizes"],
    }


def evaluate(args, result, setup_s, verdict):
    """Attempted and failed op counts, the end-to-end and per-layer metrics,
    the summary line's (name, value, unit) entries and the tagged ops."""
    attempted = failed = 0
    lat, tagged, good_items, timed = [], [], 0, 0.0
    lat_by_trace = {True: [], False: []}
    for c in result["calls"]:
        ok = c["ok"] and verdict.get(c["tag"]) is None
        n = len(c["ops"]) or result["ops_per_call"]
        attempted += n
        failed += 0 if ok else n
        timed += c["timed_s"]
        for latency, items in c["ops"]:
            lat.append(latency)
            tagged.append([c["tag"], latency])
            lat_by_trace[c["traced"]].append(latency)
            good_items += items if ok else 0
    if not lat:
        return attempted, max(failed, 1), {}, {}, [], []
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "items_per_s": good_items / timed,
        "peak_heap_mb": result["peak_heap_mb"],
    }
    name, unit = metrics.THROUGHPUT[args.workload]
    shown = [("setup_s", setup_s, "s"), ("op_p50_s", e2e["op_p50_s"], "s")]
    t = metrics.tail(lat)
    if t:
        shown.append(("op_tail_s", t[0], f"s (p{t[1]:.1f} of {t[2]} ops)"))
    shown += [(name, e2e["items_per_s"], unit),
              ("op_fail_ratio", failed / max(attempted, 1), "ratio"),
              ("peak_heap_mb", e2e["peak_heap_mb"], "MB")]
    layers = {}
    if args.trace:
        layers = {n: float(result["layers"].get(n, 0.0)) for n, *_ in metrics.PER_LAYER}
    if lat_by_trace[True] and lat_by_trace[False]:
        layers["trace_overhead"] = (statistics.median(lat_by_trace[True]) /
                                    statistics.median(lat_by_trace[False]) - 1.0)
    return attempted, failed, e2e, layers, shown, tagged


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    manifest = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(manifest):
        metrics.check_manifest(manifest)
    sf_dir = os.environ.get("PERFBENCH_SF_DIR",
                            os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    if args.workload == "catalog" and not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        fail(f"catalog needs the sf0.1 tables in {sf_dir} (set PERFBENCH_SF_DIR)")
    check_py = os.path.join(ROOT, "tools", "check.py")
    if args.workload == "catalog" and not os.path.exists(check_py):
        fail("catalog needs tools/check.py for the oracle rules")
    jars = spark_jars()
    classes, src_key, built = build(jars)
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tmp = os.path.join(TMP_DIR, run_id)
    for d in ("records", "logs", "traces"):
        os.makedirs(os.path.join(OUT_DIR, d), exist_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "java-tmp"))
    result_path = os.path.join(tmp, "result.json")
    trace_path = os.path.join(OUT_DIR, "traces", run_id + ".json")
    log_path = os.path.join(OUT_DIR, "logs", run_id + ".log")
    cmd = ["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss8m", f"-Djava.io.tmpdir={tmp}/java-tmp",
        f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", tmp, "--sf", sf_dir, "--cores", str(cores),
        "--out", result_path, "--trace-out", trace_path]
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t_start)
    t_launch = time.time()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=tmp)
            try:
                code = proc.wait(timeout=max(limit, 10))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                code = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                print(f.read()[-4000:], file=sys.stderr)
            fail(f"harness exited with {code}; log {os.path.relpath(log_path, ROOT)}")
        with open(result_path) as f:
            result = json.load(f)
        verdict = {}
        if args.workload == "catalog":
            verdict = oracle.check(check_py, sf_dir, result["catalog"])
            for q, why in sorted(verdict.items()):
                if why:
                    print(f"perfbench: {q} differs from its DuckDB oracle: {why}",
                          file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.isdir(TMP_DIR) and not os.listdir(TMP_DIR):
            os.rmdir(TMP_DIR)
    setup_s = result["first_op_epoch_ms"] / 1e3 - t_launch
    attempted, failed, e2e, layers, shown, ops = evaluate(args, result, setup_s, verdict)
    for c in result["calls"]:
        if c["error"]:
            print(f"perfbench: call {c['tag']} failed: {c['error']}", file=sys.stderr)
    correct = failed == 0 and bool(e2e)
    record = {
        "stamp": stamp(args, cores, sf_dir, src_key, result),
        "correct": correct, "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "per_layer": layers,
        "layer_totals": result["layer_totals"],
        "summary": {n: [v, u] for n, v, u in shown},
        "ops": ops,
    }
    when = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(OUT_DIR, "records", f"{run_id}-{when}.json"), "w") as f:
        json.dump(record, f, indent=1)
    units = {n: u for n, u, *_ in metrics.END_TO_END + metrics.PER_LAYER}
    out = {n: {"value": v, "unit": units[n]}
           for n, v in (layers.items() if args.trace else e2e.items())}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: " +
          ", ".join(f"{n}={v:.6g} {u}" for n, v, u in shown))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
