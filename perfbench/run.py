#!/usr/bin/env python3
"""Benchmark of the wafer pipeline and the catalog query mix.

Run from the repository root:

    python3 perfbench/run.py --workload wafer_etl --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source with the Scala compiler in
Spark's jars when the sources changed since the last build (output under
.bench_build/), then runs the workload in one JVM with local[N]
Spark, N = min(4, cores - 1). Everything the run writes goes under a private
directory in .bench_run/ that is removed when the run ends.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics, or with --trace 1 the per-layer
ones). The lines before it give every end-to-end metric with its unit,
the dispatch limits in effect and, when traced, every per-layer figure.
Exits non-zero when an output is wrong or the run cannot complete.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".bench_run")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_INPUTS = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# metric -> unit, in the order they are printed
END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("latency_p50_s", "s"),
              ("latency_tail_s", "s"), ("ops_per_s", "1/s"),
              ("failed_ratio", "ratio"), ("peak_rss_mb", "MB")]

# dispatch limits, as keys under spark.graft.
LIMITS = ["iqr.localLimit", "wafer.kmeansLocalLimit", "cc.localLimit"]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    for base in BUILD_INPUTS:
        if os.path.isfile(base):
            yield base
            continue
        for d, _, files in os.walk(base):
            for f in sorted(files):
                yield os.path.join(d, f)


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH
    (wrappers without a jars directory beside them are skipped), or the
    pyspark package of this Python, which ships Spark's jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    try:
        import pyspark
        home = os.path.dirname(pyspark.__file__)
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    except ImportError:
        pass
    fail("Spark not found: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if os.path.isfile(exe) else "java"


def build():
    """Compile the engine and the harness with the Scala compiler that ships
    in Spark's jars (no sbt, no dependency resolution) unless the sources
    hash to the last build's stamp; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    jars_dir = os.path.join(spark_home(), "jars")
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    cp = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[\d.]+\.jar$", j)]
    if len(compiler) != 3:
        fail(f"Scala compiler not found in {jars_dir}")
    shutil.rmtree(BUILD, ignore_errors=True)
    out = os.path.join(BUILD, "classes.tmp")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    srcs = os.path.join(BUILD, "sources.txt")
    with open(srcs, "w") as fh:
        for f in sorted(source_files()):
            if f.endswith(".scala"):
                fh.write(f + "\n")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn",
             "-classpath", os.pathsep.join(jars), "-d", out, "@" + srcs],
            cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write("\n".join(open(log, errors="replace").read().splitlines()[-40:]) + "\n")
        fail("build failed")
    os.rename(out, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def dispatch_limits():
    """The default of each dispatch limit, from the engine's reads of it
    (`conf.get("spark.graft.<key>", <default>)`; the benchmark sets none).
    A default that is a name is resolved to the number it is declared as.
    Fails when one key is read with different defaults."""
    texts = []
    for d, dirs, files in os.walk(ENGINE_SRC):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".scala"):
                texts.append(open(os.path.join(d, f), encoding="utf-8").read())
    text = "\n".join(texts)
    out = {}
    for key in LIMITS:
        found = set()
        for m in re.finditer(r'\.get\(\s*"spark\.graft\.%s"\s*,\s*([^)]*?)\s*\)' % re.escape(key), text):
            v = m.group(1).strip('"')
            if not v.isdigit():
                name = re.escape(v.split(".")[0])
                c = re.search(r"\b(?:val|def)\s+%s\b[^=]*=\s*(\d+)L?\b" % name, text)
                v = c.group(1) if c else "unknown"
            found.add(v)
        if len(found) > 1:
            fail(f"spark.graft.{key} is read with different defaults: {sorted(found)}")
        out[key] = found.pop() if found else "unknown"
    return out


def fmt(v):
    return repr(v) if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--trace-out", help="also write the trace spans to this file")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("run from the repository root: engine sources not found")
    data_dir = os.path.join(BENCH, "data", "catalog")
    if not os.path.isdir(data_dir):
        fail("catalog tables not found")
    seed = a.seed & ((1 << 63) - 1)  # the JVM takes the seed as a Long
    limits = dispatch_limits()
    cp = build()
    cores = max(1, min(4, len(os.sched_getaffinity(0)) - 1))

    os.makedirs(RUNS, exist_ok=True)
    run_dir = os.path.join(RUNS, f"{os.getpid()}_{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    proc = None

    def cleanup(*_):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass

    def on_signal(signum, _):
        cleanup()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        # measure the shipped defaults: no engine knob reaches the JVM
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        trace_out = os.path.abspath(a.trace_out) if a.trace_out else None
        cmd = ([java(), "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp"] +
               [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run-dir", run_dir, "--data-dir", data_dir,
                "--digests", os.path.join(BENCH, "query_digests.txt"), "--cores", str(cores)] +
               (["--trace-out", trace_out] if trace_out else []))
        log_path = os.path.join(run_dir, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                    stdout=log, stderr=subprocess.STDOUT)
            deadline = time.time() + RUN_TIMEOUT_S
            while True:
                pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    break
                if time.time() > deadline:
                    proc.kill()
                    pid, status, usage = os.wait4(proc.pid, 0)
                    break
                time.sleep(0.05)
            proc.returncode = os.waitstatus_to_exitcode(status)
        result_path = os.path.join(run_dir, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            lines = open(log_path, errors="replace").read().splitlines()
            sys.stderr.write("\n".join(lines[-60:]) + "\n")
            fail(f"run failed (exit {proc.returncode})")
        with open(log_path, errors="replace") as log:
            for line in log:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        res = json.load(open(result_path))
    finally:
        cleanup()

    e2e = res["end_to_end"]
    info = res["info"]
    e2e["peak_rss_mb"] = usage.ru_maxrss / 1024.0  # kilobytes on Linux
    print(f"perfbench workload={a.workload} seed={a.seed} cores={cores} trace={a.trace} "
          f"spark.graft confs set: none; dispatch limits (source defaults): " +
          " ".join(f"{k}={v}" for k, v in limits.items()))
    for name, unit in END_TO_END:
        extra = ""
        if name == "latency_tail_s":
            if info["latency_tail_beyond"] > 0:
                extra = (f"  (p{info['latency_tail_pct']:.1f}, "
                         f"{info['latency_tail_beyond']} samples beyond)")
            else:
                extra = f"  (undefined: {info['warm_ops']} warm ops, 11 needed)"
        print(f"  {name} = {fmt(e2e[name])} {unit}{extra}")
    facts = {k: v for k, v in info.items() if k not in ("problems",)}
    print("  info " + json.dumps(facts, sort_keys=True))
    for p in info["problems"]:
        print(f"  WRONG {p}")

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.trace:
        layers = res["layers"]
        print("  layers " + json.dumps(layers, sort_keys=True))
        names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        metrics = {n: {"value": layers.get(n, 0.0), "unit": u} for n, u in names}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": bool(info["correct"]), "attempted": int(info["attempted"]),
                      "failed": int(info["failed"]), "metrics": metrics}))
    sys.exit(0 if info["correct"] else 1)


if __name__ == "__main__":
    main()
