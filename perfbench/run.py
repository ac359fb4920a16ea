#!/usr/bin/env python3
"""End-to-end benchmark of the GitHub ETL and the operator query mix.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

The first form makes one run and prints, as its last stdout line, one
JSON object with the keys correct, attempted, failed and metrics (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
The second runs every workload untraced and traced and prints every
metric by name with its unit.

The program is compiled from src/main/scala, and the benchmark from
perfbench/src, with the Scala compiler shipped in $SPARK_HOME/jars, into
.bench_build; runs work in .bench_work. Both stay inside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)), ROOT)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
RUN_TIMEOUT_S = 170

# name -> how the run is driven; repos x prs is the simulated corpus.
# BENCHMARK.json lists the workloads of the standard set; the others run
# by name (see perfbench/README.md).
WORKLOADS = {
    "etl-stream": dict(mode="stream", repos=1, prs=100, delay_ms=0, auth="app"),
    "query-mix": dict(mode="queries"),
    "etl-fanout": dict(mode="dsv2", repos=4, prs=40, delay_ms=0, auth="app"),
    "etl-wan": dict(mode="plain", repos=1, prs=100, delay_ms=5, auth="token"),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jar_path():
    if not os.path.isdir(SPARK_JARS):
        fail(f"no Spark jars at {SPARK_JARS}")
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))


def sources(top, suffix=".scala"):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def compile_tree(name, srcs, classpath, extra_digest="", resources=None):
    """Compile srcs into .bench_build/<name>, plus a copy of the resources
    directory, unless the same inputs were built there already; returns
    the classes directory and the inputs' digest."""
    res = sources(resources, "") if resources and os.path.isdir(resources) else []
    h = hashlib.sha256(extra_digest.encode())
    for s in srcs + res:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = os.path.join(BUILD, name)
    stamp = os.path.join(out, ".digest")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out, digest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"{name}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    compiler = [os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                if j.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(classpath), "-d", tmp, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} {name} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compiling {name} failed")
    if res:
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".digest"), "w") as f:
        f.write(digest)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, digest


def build():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(ROOT, HERE, "src")
    if not os.path.isdir(main_src) or not sources(main_src):
        fail("no program sources under src/main/scala; run from the repository root")
    jars = jar_path()
    os.makedirs(BUILD, exist_ok=True)
    program, digest = compile_tree("program", sources(main_src), jars,
                                   resources=os.path.join(ROOT, "src", "main", "resources"))
    bench, _ = compile_tree("bench", sources(bench_src), [program] + jars, digest)
    return program, bench, jars


def stop(proc, stdin_close=False):
    if proc is None or proc.poll() is not None:
        return
    try:
        if stdin_close and proc.stdin:
            proc.stdin.close()
            proc.wait(timeout=5)
            return
    except subprocess.TimeoutExpired:
        pass
    proc.terminate()
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_once(workload, seed, seconds, trace, record=None):
    spec = WORKLOADS[workload]
    program, bench, jars = build()
    work = os.path.join(WORK, f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    scala_lib = [j for j in jars if os.path.basename(j).startswith("scala-library")]
    deadline = time.time() + RUN_TIMEOUT_S
    sim = prog = None
    log = open(os.path.join(work, "program.log"), "w")
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--mode", spec["mode"], "--work", work,
                "--out", os.path.join(work, "result.json")]
        if spec["mode"] == "queries":
            args += ["--data", os.path.join(ROOT, HERE, "data", "sf0.01"),
                     "--checksums", os.path.join(ROOT, HERE, "expected_checksums.json")]
        else:
            port_file = os.path.join(work, "sim.port")
            sim = subprocess.Popen(
                ["java", "-XX:-UsePerfData", "-Xmx256m", "-XX:TieredStopAtLevel=1",
                 "-Dsun.net.httpserver.nodelay=true",
                 "-cp", ":".join([bench] + scala_lib), "perfbench.Sim",
                 str(seed), str(spec["repos"]), str(spec["prs"]), str(spec["delay_ms"]), port_file],
                stdin=subprocess.PIPE, stdout=log, stderr=log)
            while not os.path.exists(port_file):
                if sim.poll() is not None or time.time() > deadline:
                    fail("simulator did not start; see " + log.name)
                time.sleep(0.02)
            port = open(port_file).read().strip()
            args += ["--sim-url", f"http://127.0.0.1:{port}", "--repos", str(spec["repos"]),
                     "--prs", str(spec["prs"]), "--auth", spec["auth"]]
        if record:
            args += ["--record", record]
        jvm = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            "-XX:-UsePerfData", "-Xmx3g", "-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", ":".join([bench, program] + jars), "perfbench.Main"]
        prog = subprocess.Popen(jvm + args, stdin=subprocess.DEVNULL, stdout=log, stderr=log)
        try:
            prog.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{workload} run exceeded {RUN_TIMEOUT_S} s; see {log.name}")
        if prog.returncode != 0:
            fail(f"{workload} run exited {prog.returncode}; see {log.name}")
    finally:
        stop(prog)
        stop(sim, stdin_close=True)
        log.close()
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def print_result(res, trace):
    b = spec()
    e2e, layers = b["end_to_end"], b["per_layer"]
    units = {m["name"]: m["unit"] for m in e2e + layers}
    shown = dict(res["end_to_end"])
    shown.update(res["extra"])
    if trace:
        shown.update(res["per_layer"])
    shown["failed_frac"] = res["failed"] / res["attempted"]
    for k, v in shown.items():
        print(f"{res['workload']:11s} {k:32s} {v:14.6g} {units.get(k, '')}")
    for e in res["errors"]:
        print(f"{res['workload']:11s} ERROR {e}")
    names = [m["name"] for m in (layers if trace else e2e)]
    source = res["per_layer"] if trace else res["end_to_end"]
    missing = [n for n in names if source.get(n) is None]
    if missing and res["correct"]:
        fail("metrics missing from the run: " + ", ".join(missing))
    # a failed run still reports, with what it measured
    return {"correct": bool(res["correct"]) and not missing, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {n: {"value": source.get(n) or 0.0, "unit": units[n]} for n in names}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true",
                    help="every BENCHMARK.json workload, untraced and traced")
    ap.add_argument("--record", help="write the query-mix checksums to this file instead of checking")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    if a.all:
        ok = True
        for w in [x["name"] for x in spec()["workloads"]]:
            for t in (0, 1):
                out = print_result(run_once(w, a.seed, a.seconds, t), t)
                ok = ok and out["correct"] and out["failed"] == 0
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload or --all is required")
    res = run_once(a.workload, a.seed, a.seconds, a.trace, a.record)
    print(json.dumps(print_result(res, a.trace)))


if __name__ == "__main__":
    main()
