#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
harness from source (sbt, offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. Scratch files go to
.bench_out/, which also keeps each run's full report:

    .bench_out/<workload>-s<seed>-t<trace>.json         every metric, unit, samples
    .bench_out/<workload>-s<seed>-t<trace>.report.txt   the same, readable
    .bench_out/<workload>-s<seed>-t1.json.trace.json    spans and self times

With --trace 1 the report also gives the tracing overhead: the traced
end-to-end figures minus those of the untraced run of the same workload
and seed, when that run is in .bench_out/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("cdc", "llm")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark install whose jars the library compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("Spark not found: set SPARK_HOME")
    return home


def source_stamp(root):
    """Digest of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/src/main/scala"):
        for d, _, files in sorted(os.walk(os.path.join(root, base))):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("perfbench/build.sbt", "perfbench/project/build.properties"):
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, spark):
    classes = os.path.join(root, ".bench_build", "scala-2.13", "classes")
    stamp_file = os.path.join(root, ".bench_build", "stamp")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SPARK_HOME"] = spark
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    log = os.path.join(root, ".bench_out", "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=os.path.join(root, "perfbench"), env=env,
                           stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=800)
    if r.returncode != 0:
        die(f"build failed (see {log})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def write_report(path, res, overhead):
    lines = [f"workload {res['workload']}  seed {res['seed']}  trace {res['trace']}",
             f"attempted {res['attempted']}  failed {res['failed']}"]
    lines += [f"  failure: {f}" for f in res["failures"]]
    for section in ("end_to_end", "per_layer", "detail"):
        lines.append(f"[{section}]")
        for k, m in res[section].items():
            note = f"  ({m['note']})" if m["note"] else ""
            lines.append(f"  {k:34s} {fmt(m['value']):>14s} {m['unit']:6s} n={m['samples']}{note}")
    if overhead:
        lines.append("[tracing overhead: traced minus untraced, same workload and seed]")
        for k, (d, pct) in overhead.items():
            lines.append(f"  {k:34s} {fmt(d):>14s} ({fmt(pct)} %)")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the repository root: the library sources (src/main/scala) are missing")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    spark = spark_home()
    classes = build(root, spark)

    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    result_path = os.path.join(out_dir, tag + ".json")
    work = os.path.join(out_dir, f"work-{tag}-{os.getpid()}")
    for p in (result_path, result_path + ".trace.json"):
        if os.path.exists(p):
            os.remove(p)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{spark}/jars/*", "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--work", work,
              "--data", os.path.join(root, "perfbench", "data", "sf0.01"),
              "--out", result_path])
    log_path = os.path.join(out_dir, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=out_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            die(f"run exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
    shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(result_path):
        die(f"run produced no result, exit {proc.returncode} (log: {log_path})")
    with open(result_path) as fh:
        res = json.load(fh)

    overhead = {}
    if a.trace == 1:
        base = os.path.join(out_dir, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(base):
            with open(base) as fh:
                plain = json.load(fh)["end_to_end"]
            for k, m in res["end_to_end"].items():
                b = plain.get(k, {}).get("value")
                if m["value"] is not None and b:
                    overhead[k] = (m["value"] - b, 100.0 * (m["value"] - b) / b)
    lines = write_report(os.path.join(out_dir, tag + ".report.txt"), res, overhead)
    print("\n".join(lines), file=sys.stderr)

    key = "per_layer" if a.trace == 1 else "end_to_end"
    metrics = {}
    complete = True
    for m in spec[key]:
        got = res[key].get(m["name"])
        if got is None:
            # a per-layer figure of a module this workload never calls
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
            complete = complete and key == "per_layer"
        elif got["value"] is None or not math.isfinite(got["value"]):
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
            complete = False
        else:
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    correct = complete and res["failed"] == 0 and proc.returncode == 0
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
