#!/usr/bin/env python3
"""Run one benchmark workload with one seed and print its metrics.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The program is compiled from src/main/scala
(with the Scala compiler shipped in Spark's jars) into .bench_build/, the
inputs are generated from the seed into .bench_work/, and one Spark JVM
drives the workload. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from a traced
phase that follows an untraced one in the same session.
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
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
XMX = "3g"
DEADLINE_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def sources(d):
    out = []
    for dirpath, dirnames, files in os.walk(d):
        dirnames.sort()
        out += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".scala")]
    return out


def compile_once(name, srcs, classpath, jars):
    """Compile `srcs` into .bench_build/<name> unless a build of the same
    sources is already there; returns the class directory."""
    h = hashlib.sha256(classpath.encode())
    for p in srcs:
        with open(p, "rb") as f:
            h.update(p.encode() + hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*") + (":" + classpath if classpath else "")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compiling {name} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


def build(jars):
    program_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program_src):
        fail("run from the repository root: src/main/scala not found")
    program = compile_once("program", sources(program_src), "", jars)
    harness = compile_once("harness", sources(os.path.join(HERE, "scala")), program, jars)
    return program, harness


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(args, work, data, cpus, classpath, t_start):
    log_path = os.path.join(work, "jvm.log")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # A fixed-size heap and generation split make the resident set a
        # property of the workload rather than of adaptive heap sizing.
        "-XX:+UseParallelGC", f"-Xms{XMX}", f"-Xmx{XMX}", "-Xmn1g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
        "graft.perfbench.Harness", "--workload", args.workload, "--data", data,
        "--work", work, "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--seed", str(args.seed), "--cpus", str(cpus),
        "--out", os.path.join(work, "result.json")]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            fail(f"the workload did not finish in time (log: {log_path})")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail(f"the harness exited with {rc} (log: {log_path})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A termination request unwinds through the handlers that stop the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))

    jars = spark_jars()
    program, harness = build(jars)
    t_start = time.time()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # The name carries the key the harness uses to find the program's
    # /tmp layouts derived from this directory.
    data = os.path.join(work, "perfbench_data")
    load_before = loadavg()
    t0 = time.perf_counter()
    fp = gen.generate(args.workload, data, args.seed)
    gen_s = time.perf_counter() - t0

    res = run_jvm(args, work, data, cpus, ":".join([program, harness, os.path.join(jars, "*")]),
                  t_start)
    res["gen_s"] = gen_s
    verdict = checks.verify(args.workload, res, data)
    env = dict(res["env"], nproc=cpus, xmx=XMX, seed=args.seed, git_sha=git_sha(),
               data_fingerprint=fp, profile=gen.PROFILES[args.workload],
               profile_sources=gen.SOURCES[args.workload],
               loadavg_before=load_before, loadavg_after=loadavg(),
               phase_loadavg={k: [v["loadavg_before"], v["loadavg_after"]]
                              for k, v in res["phases"].items()},
               phase_cpu_steal_share={k: v["cpu_steal_share"] for k, v in res["phases"].items()})
    report = checks.report(args.workload, res, verdict, cpus, args.trace == 1)
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump({"env": env, "verdict": verdict, "report": report}, f, indent=1, default=str)
    # Keep the record, the log and the spans; drop generated data and outputs.
    for name in os.listdir(work):
        if name not in ("result.json", "report.json", "jvm.log"):
            p = os.path.join(work, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"env={json.dumps(env, sort_keys=True)}")
    for line in report["lines"]:
        print(line)
    for msg in verdict["problems"]:
        print(f"CHECK FAILED: {msg}")
    print(json.dumps({"correct": verdict["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": report["metrics"]}))


if __name__ == "__main__":
    main()
