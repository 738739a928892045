#!/usr/bin/env python3
"""Benchmark of the k-means engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--smoke]

Run from the root of a checkout. The first run builds the program and
the benchmark JVM from source (`sbt writeClasspath` in perfbench/, outputs
under target/ and .bench_build/); later runs reuse the build while the
sources are unchanged. Inputs are made from --seed under
.bench_build/perfbench/work/<workload>. The benchmark JVM runs the workload
on local[<all cores>] with one closed-loop client; this script then
checks its outputs independently (checks.py) and prints, as the last
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. Lines
before it give the run's conditions and facts. Exits 1 on a wrong
output, 2 when the program's sources are missing or do not build.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha256")
WORKLOADS = ("kmeans_paper_e2e", "lloyd_large_k", "board_read", "lake_write")
HEAP = "3g"
# steal above this share of the run's CPU time marks the run contended
CONTENDED_STEAL_PCT = 5.0
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    digest = source_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and \
            open(STAMP).read().strip() == digest:
        return open(CLASSPATH).read().strip()
    log("building the program and the benchmark JVM (sbt writeClasspath)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=880)
    if p.returncode != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(2)
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return open(CLASSPATH).read().strip()


def cpu_jiffies():
    """(steal, total) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v[:8])
    except OSError:
        return 0, 0


def tree_digest(path):
    h = hashlib.sha256()
    for d, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            f = os.path.join(d, n)
            h.update(os.path.relpath(f, path).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def tail_at(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile). Below eleven samples no percentile has ten
    beyond it, and the maximum (p100) is the only tail the samples
    support."""
    s = sorted(xs)
    if len(s) < 11:
        return s[-1], 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources at {ROOT} (build.sbt, src/main/scala)")
        return 2
    e2e, per_layer = spec()["end_to_end"], spec()["per_layer"]
    cp = ensure_built()

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    steal0, total0 = cpu_jiffies()

    t_setup = time.time()
    py_gen = []
    for rep in range(3):
        t0 = time.perf_counter()
        gen.generate(a.workload, os.path.join(work, "inputs", f"rep{rep}"), a.seed, a.smoke)
        py_gen.append(time.perf_counter() - t0)
    reps = [tree_digest(os.path.join(work, "inputs", f"rep{r}")) for r in range(3)]
    py_identical = len(set(reps)) == 1

    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--smoke", "1" if a.smoke else "0"]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        try:
            env = dict(os.environ, GRAFT_SEED="42",
                       SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            p = subprocess.run(cmd, cwd=work, env=env, stdout=logf,
                               stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
            rc = p.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    steal1, total1 = cpu_jiffies()
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        log(f"benchmark JVM failed ({rc})")
        return 1
    with open(result_path) as f:
        r = json.load(f)

    t0 = time.perf_counter()
    try:
        fails, facts = checks.CHECKS[a.workload](work, a.seed, a.smoke)
    except Exception as e:  # a checker that cannot run is a failed check
        fails, facts = [f"check raised {type(e).__name__}: {e}"], {}
    check_s = time.perf_counter() - t0
    if not py_identical or not r["inputs_identical"]:
        fails.append("the same seed gave different input bytes")
    fails += r["errors"]

    ops = r["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    correct = not fails and failed == 0
    if not correct:
        failed = attempted  # every operation was compared with a wrong reference

    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    contended = steal_pct >= CONTENDED_STEAL_PCT
    op_s = [o["s"] for o in ops if not o["traced"]] or [0.0]
    passes = [x["s"] for x in r["passes"] if not x["traced"]]
    tail, tail_pct = tail_at(op_s)
    jvm_gen = r["gen_s"]
    setup_s = (r["first_op_ms"] / 1e3 - t_setup) \
        - (sum(py_gen) - statistics.median(py_gen)) - (sum(jvm_gen) - statistics.median(jvm_gen))

    print(f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}"
          f" smoke={int(a.smoke)}")
    print(f"conditions: nproc={r['cores']} heap_mb={r['heap_max_mb']:.0f}"
          f" empty_job_s={r['empty_job_s']:.4f} steal_pct={steal_pct:.1f}"
          f" contended={'yes' if contended else 'no'}")
    print(f"samples: ops={len(op_s)} passes={len(passes)} op_tail=p{tail_pct:.1f}"
          f" retained_heap_mb={max(r['retained_heap_mb']):.1f}"
          f" fail_frac={failed / max(1, attempted):.4f}"
          f" setup: session_s={r['session_s']:.2f} warm_s={r['warm_s']:.2f}"
          f" py_gen_s={statistics.median(py_gen):.2f}"
          f" jvm_gen_s={statistics.median(jvm_gen):.2f}")
    print(f"facts: {json.dumps(r['summary'])} check={json.dumps(facts)} check_s={check_s:.1f}")
    for f in fails:
        print(f"FAIL: {f}")

    if a.trace:
        layers = r["layers"]
        layers["host.steal_pct"] = {"value": steal_pct, "unit": "%"}
        layers["spark.retained_heap_mb"] = {"value": max(r["retained_heap_mb"]), "unit": "MB"}
        # a layer the workload does not touch reads 0
        metrics = {m["name"]: {"value": layers.get(m["name"], {}).get("value", 0.0),
                               "unit": m["unit"]} for m in per_layer}
        extra = sorted(set(layers) - set(metrics))
        if extra:
            print("unlisted layer metrics: " + ", ".join(
                f"{k}={layers[k]['value']:.6g} {layers[k]['unit']}" for k in extra))
        print(f"trace overhead: {layers.get('trace.overhead_pct', {}).get('value', 0.0):.1f}%")
    else:
        values = {"setup_s": setup_s, "pass_s": statistics.median(passes),
                  "op_p50_s": statistics.median(op_s), "op_tail_s": tail}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in e2e}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
