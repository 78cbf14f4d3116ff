#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the program and the benchmark from
source with sbt (perfbench/build.sbt) and writes the runtime classpath;
later runs launch the JVM from that classpath directly. Generated inputs,
scratch data and records live under .bench_build/perfbench; a run's
scratch directory is removed when it ends.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end_to_end metrics of BENCHMARK.json, with --trace 1 its per_layer
metrics. The exit code is 0 only when every correctness check passed.

A traced run reports trace.overhead_ratio against an untraced run of the
same sources, workload, seed and length. An untraced run leaves that
figure in a record keyed by a hash of the sources; a traced run without
a matching record makes the untraced run first.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(HERE, "target", "runtime.classpath")
RECORDS = os.path.join(STATE, "work", "records")
RUN_LIMIT_S = 170
WORKLOADS = ("serve_mixed", "analytics_sf01", "stream_microbatch")

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
           os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt")]


def source_files():
    out = []
    for top in SOURCES:
        if os.path.isfile(top):
            out.append(top)
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the benchmark unless the classpath is fresh."""
    newest = max((os.path.getmtime(p) for p in source_files()), default=0.0)
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=840)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(proc.stdout.decode("utf-8", "replace")[-6000:])
        sys.exit("build failed")
    log(f"build took {time.time() - t0:.0f} s")


def analytics_data():
    out = os.path.join(STATE, "data", "sf0.1")
    done = os.path.join(out, "_complete")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gendata.py"), out], check=True)
        open(done, "w").close()
    return out


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(a, trace, data, deadline, baseline_ms=None):
    """One benchmark JVM; returns its exit code and its parsed result line."""
    work = os.path.join(STATE, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(trace), "--work", work, "--data", data, "--cpus", str(cpus()),
            "--expected", os.path.join(HERE, "expected")]
    if baseline_ms is not None:
        cmd += ["--baseline-ms", repr(baseline_ms)]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("run exceeded its time limit")
    shutil.rmtree(work, ignore_errors=True)

    lines = out.decode("utf-8", "replace").splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if not lines or not lines[-1].startswith("{"):
        sys.exit(f"the run printed no result (exit code {proc.returncode})")
    result = json.loads(lines[-1])
    names = metric_names(trace)
    if list(result["metrics"]) != names:
        missing = set(names) - set(result["metrics"])
        extra = set(result["metrics"]) - set(names)
        sys.exit(f"metrics differ from BENCHMARK.json: missing {sorted(missing)}, extra {sorted(extra)}")
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"not a checkout of the program: {need} is missing under {ROOT}")
    build()
    data = analytics_data() if a.workload == "analytics_sf01" else os.path.join(STATE, "data")
    deadline = time.time() + RUN_LIMIT_S  # the once-per-checkout build and data are not counted
    record = os.path.join(RECORDS, f"{a.workload}-seed{a.seed}-s{a.seconds}-{source_hash()}.json")

    def untraced():
        code, result = run_jvm(a, 0, data, deadline)
        if code == 0:
            os.makedirs(RECORDS, exist_ok=True)
            with open(record, "w") as f:
                json.dump({"op.latency_ms": result["metrics"]["op.latency_ms"]["value"]}, f)
        return code, result

    if not a.trace:
        code, result = untraced()
    else:
        if not os.path.exists(record):
            log("no untraced run of these sources and seed yet: running it first")
            code, _ = untraced()
            if code != 0:
                sys.exit(f"the untraced run for the overhead ratio failed (exit code {code})")
        with open(record) as f:
            baseline_ms = json.load(f)["op.latency_ms"]
        code, result = run_jvm(a, 1, data, deadline, baseline_ms)
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
