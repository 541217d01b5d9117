#!/usr/bin/env python3
"""graft benchmark: builds the engine and the benchmark from source, runs one
workload in a fresh JVM, and prints the result as one JSON line.

    python3 perfbench/run.py --workload ingest|query|curate \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run it from the root of a checkout. Builds go to .bench_build/ (reused while
the sources are unchanged); each run's scratch lives under .bench_build/run-*
and is deleted before and after the run. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 850
RUN_BUDGET_S = 175
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler among the Spark jars in {jars}")
    return os.path.join(jars, "*")


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
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


def compile_scala(jars, classpath, out, sources):
    os.makedirs(out, exist_ok=True)
    args = os.path.join(out, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + args]
    rc = run_group(cmd, BUILD_TIMEOUT_S, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        sys.exit(f"perfbench: compile failed ({'timeout' if rc is None else rc})")


def tree_hash(paths, *parts):
    h = hashlib.sha256()
    for part in parts:
        h.update(part.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build_once(out, step):
    """Run `step(tmpdir)` unless `out` already holds a finished build."""
    if os.path.exists(os.path.join(out, "ok")):
        return
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    step(tmp)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(jars):
    """Compile src/main, then perfbench/src against it, into .bench_build/;
    a finished build of the same sources is reused."""
    main_src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not main_src:
        sys.exit("perfbench: no engine sources under src/main/scala")
    t = time.time()
    main_key = tree_hash(main_src)
    main_out = os.path.join(BUILD, "main-" + main_key)
    build_once(main_out, lambda d: compile_scala(jars, jars, d, main_src))
    bench_out = os.path.join(BUILD, "bench-" + tree_hash(bench_src, main_key))
    build_once(bench_out, lambda d: compile_scala(jars, main_out + os.pathsep + jars, d, bench_src))
    if time.time() - t > 1:
        log(f"built in {time.time() - t:.1f} s")
    return main_out, bench_out


def java_cmd(jars, classes, tmp):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    main_out, bench_out = classes
    cp = os.pathsep.join([bench_out, main_out, jars])
    # no hsperfdata files outside the checkout; no -Xms, so the resident set
    # follows the heap the run needs rather than a preset size
    return (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    t0 = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    classes = build(jars)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    if a.self_test:
        rc = run_group(java_cmd(jars, classes, BUILD) + ["perfbench.SelfTest"], 120, env=env)
        sys.exit(1 if rc != 0 else 0)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        sys.exit(f"perfbench: --workload must be one of {names}")

    tmp = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(tmp, "result.json")
    try:
        cmd = java_cmd(jars, classes, tmp) + [
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", tmp,
            "--data", os.path.join(HERE, "data"), "--out", out]
        budget = max(30.0, RUN_BUDGET_S - (time.time() - t0))
        rc = run_group(cmd, budget, stdout=sys.stderr, stderr=sys.stderr, env=env)
        if rc != 0 or not os.path.exists(out):
            sys.exit(f"perfbench: workload run failed ({'timeout' if rc is None else rc})")
        with open(out) as f:
            res = json.load(f)
        if a.trace:
            spans = os.path.join(tmp, "spans.tsv")
            if os.path.exists(spans):
                keep = os.path.join(BUILD, f"spans-{a.workload}-{a.seed}.tsv")
                shutil.copyfile(spans, keep)
                log(f"spans written to {os.path.relpath(keep, ROOT)}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    got = res["metrics"]
    metrics = {}
    listed = spec["per_layer" if a.trace else "end_to_end"]
    for m in listed:
        v = got.get(m["name"])
        if v is None or v["value"] is None:
            if not a.trace:
                sys.exit(f"perfbench: workload {a.workload} did not measure {m['name']}")
            # a layer this workload never enters
            v = {"value": 0.0}
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    for n in res.get("notes", []):
        print(f"# {n}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
