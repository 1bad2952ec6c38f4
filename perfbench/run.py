#!/usr/bin/env python3
"""graft benchmark: one seeded workload against the compiled engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: batch_concurrent, lakehouse_pipeline (see perfbench/README.md).
The inputs are the sf0.1 fixture tables under perfbench/data/sf0.1. The
first run in a checkout compiles the engine from src/ together with the
harness (sbt, offline) and records a class-data archive; later runs reuse
both while the sources are unchanged. Each run starts one JVM, sets up, runs
the timed op stream, checks every answer, and prints the metrics with
their units. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. The full run record (environment, per-op timings, mismatches,
spans) is written under perfbench/out/.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("batch_concurrent", "lakehouse_pipeline")
TARGET = os.path.join(HERE, "target")
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
RUN_LIMIT_S = 170       # a run must end within 180 s
BUILD_LIMIT_S = 880     # the first run in a checkout may take 900 s

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: engine sources and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(deadline):
    """Compiles engine + harness when the sources changed; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {os.path.join(ROOT, 'src')}: run from a graft checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(TARGET, "perfbench.classpath")
    stamp_file = os.path.join(TARGET, "perfbench.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name the Spark installation whose jars the engine builds against")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    print("perfbench: compiling engine and harness (sbt)...", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(10, deadline - time.time()))
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    cp = class_archive(lines[-1].strip(), deadline)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def class_archive(cp, deadline):
    """Packs the compiled class directories into one jar and records a
    class-data archive of one lakehouse run, which every later run maps
    instead of loading and verifying Spark's classes again (JVM and
    session start fall from about 9 s to 4 s on a 4-core host). Returns
    the classpath with the jar in place of the directories."""
    entries = cp.split(os.pathsep)
    dirs = [e for e in entries if os.path.isdir(e)]
    jar = os.path.join(TARGET, "perfbench.jar")
    with zipfile.ZipFile(jar, "w") as z:
        seen = set()
        for c in dirs:
            for d, _, names in os.walk(c):
                for n in names:
                    f = os.path.join(d, n)
                    rel = os.path.relpath(f, c)
                    if rel not in seen:
                        seen.add(rel)
                        z.write(f, rel)
    cp = os.pathsep.join([jar] + [e for e in entries if e not in dirs])
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    print("perfbench: recording the class-data archive...", file=sys.stderr)
    work = os.path.join(HERE, "work", f"archive-{os.getpid()}")
    try:
        run_jvm(cp, ["--workload", "lakehouse_pipeline", "--seed", "0", "--seconds", "1",
                     "--trace", "0"], work, os.path.join(HERE, "out", "archive.json"),
                deadline, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return cp


def java_cmd(cp, work, jvm_opts=()):
    # a fixed heap and young generation: G1's adaptive sizing made the
    # peak resident set of one workload vary by 40% between runs
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-Xmn512m", "-XX:+UseG1GC",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    if not jvm_opts and os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd += list(jvm_opts)
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return cmd + ["-cp", cp, "perfbench.Main", "--work", work]


def heap():
    """A quarter of the machine's memory, between 2 and 6 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        return f"{max(2, min(6, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "3g"


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return p.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, args, work, out, deadline, jvm_opts=()):
    """Runs the benchmark JVM to its end; returns the path of its log."""
    cmd = java_cmd(cp, work, jvm_opts) + [
        "--out", out, "--fixtures", FIXTURES, "--expected", os.path.join(HERE, "expected.json")] + args
    os.makedirs(os.path.dirname(out), exist_ok=True)
    log = open(out + ".log", "w")
    # two malloc arenas: with one per thread, native allocations left the
    # peak resident set at one of two levels 30% apart from run to run
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log.close()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"run exceeded its time limit; log: {log.name}")
        raise
    log.close()
    if rc != 0 or not os.path.exists(out):
        with open(log.name) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc}; log: {log.name}")
    return log.name


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isfile(os.path.join(FIXTURES, "lineitem.parquet")):
        fail(f"no fixture tables under {FIXTURES}")
    cp = build(t0 + BUILD_LIMIT_S)
    built_s = time.time() - t0
    deadline = t0 + (BUILD_LIMIT_S if built_s > 30 else RUN_LIMIT_S)

    outdir = os.path.join(HERE, "out")
    os.makedirs(outdir, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(outdir, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    try:
        log = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace)],
                      work, out, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out) as fh:
        rec = json.load(fh)
    rec["env"]["git_commit"] = git_commit()
    rec["env"]["build_s"] = round(built_s, 3)
    rec["env"]["jvm_log"] = os.path.relpath(log, ROOT)
    with open(out, "w") as fh:
        json.dump(rec, fh, indent=1)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    # a traced run also carries its end-to-end readings (read_s_p90 and the
    # workload-specific ones) in its per-layer line
    values = {**rec["e2e"], **rec["layers"]} if a.trace else rec["e2e"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run record {out}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    e = rec["env"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{rec['attempted']} ops, {rec['failed']} failed, "
          f"reads {rec['samples']['read']}, writes {rec['samples']['write']}, "
          f"timed wall {rec['timed_wall_s']:.3f} s, host steal {rec['host_steal_s']:.2f} s")
    print(f"env: nproc {e['nproc']}, loadavg {e['loadavg_start']} -> {e['loadavg_end']}, "
          f"calibration {e['calibration_s_start']:.3f} s -> {e['calibration_s_end']:.3f} s, "
          f"commit {e['git_commit'][:12]}, {e['jvm']}, Spark {e['spark']}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    extra = {"failed_ratio": "1", "stored_bytes_per_user_byte": "1",
             "write_s_p50": "s", "write_s_p90": "s"}
    for k, v in sorted(rec["e2e"].items()):
        print(f"  {k:32s} {v:14.6g} {units.get(k, extra.get(k, ''))}")
    if a.trace:
        for k, v in sorted(rec["layers"].items()):
            print(f"  {k:32s} {v:14.6g} {units.get(k, '')}")
    for m in rec["mismatches"]:
        print(f"  MISMATCH {m['op']}: {m['reason']}")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
