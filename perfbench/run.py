#!/usr/bin/env python3
"""Sink benchmark launcher.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the harness in perfbench/ together with the library sources in
src/main/scala (once per source state; the build goes to $CARGO_TARGET_DIR,
default .bench_build), runs one workload in a fresh JVM below a per-run
directory that is removed afterwards, and prints the result object as the
last line of standard output. A traced run also writes its spans to
<build>/traces/ and prints the per-layer report of trace_report.py on
standard error. Exit status 0 means every correctness check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import trace_report  # noqa: E402

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(build_dir):
    """Compiles once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no library sources at src/main/scala: run from the root of a checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           f"-Dperfbench.build={build_dir}",
           f"-Dsbt.global.base={os.path.join(build_dir, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.splitlines()
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cps[-1].strip()


def spec(trace):
    """The workloads of BENCHMARK.json, and metric name → unit a run of
    one of them must print."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    names = {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}
    return [w["name"] for w in b["workloads"]], names


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper", choices=("manifest", "duplicate"),
                    help="damage the landed table before the checks (self-test)")
    ap.add_argument("--set", action="append", default=[], metavar="KEY=VALUE",
                    help="override a workload parameter (self-test scale)")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    benchmarked, names = spec(a.trace)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        wl = json.load(fh)
    if a.workload not in wl["workloads"]:
        fail(f"unknown workload {a.workload!r}; known: {', '.join(wl['workloads'])}")

    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    cp = build(build_dir)
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    params = dict(wl["workloads"][a.workload]["params"])
    for kv in a.set:
        k, v = kv.split("=", 1)
        params[k] = v

    run_root = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_root, "tmp")
    spans = os.path.join(build_dir, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(tmp)
    # -XX:-UsePerfData: the JVM would otherwise write to the system temp dir
    cmd = ["java", f"-Xmx{wl['jvm_heap']}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", run_root, "--nproc", str(nproc)]
    if a.trace:
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        cmd += ["--spans", spans]
    if a.tamper:
        cmd += ["--tamper", a.tamper]
    for k, v in sorted(params.items()):
        cmd += ["--param", f"{k}={v}"]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local")))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    try:
        leaked = [e for e in os.listdir(tmp) if e.startswith("graft_")]
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"harness exited with {proc.returncode} and no result line")
    if leaked:
        print(f"[perfbench] CHECK FAILED: left temp entries {leaked}", file=sys.stderr)
        result["attempted"] += 1
        result["failed"] += 1
        result["correct"] = False
    if a.trace:
        report = trace_report.summarize(spans)
        trace_report.print_report(report, a.workload, sys.stderr)
        result["metrics"]["trace.coverage"] = {"value": report["coverage"], "unit": "ratio"}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if a.workload in benchmarked and got != names:
        missing = sorted(set(names) - set(got))
        extra = sorted(set(got) - set(names))
        wrong = sorted(k for k in set(got) & set(names) if got[k] != names[k])
        fail(f"metrics differ from BENCHMARK.json: missing {missing}, extra {extra}, unit {wrong}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
