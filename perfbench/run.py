#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload core7-blobs --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source (sbt, offline) and caches the classpath under
`.bench_build/` (or `$CARGO_TARGET_DIR`), keyed by a digest of the sources;
later runs launch the benchmark JVM directly. Every run writes a record with
the host state (load average, CPU steal, nproc) to `.bench_runs/`; the host
state is recorded, never gated on. A traced run also writes its span dump
there, which `perfbench/trace_report.py` reads.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("registry-warm", "core7-blobs")
JVM_TIMEOUT_S = 170
# the first run in a checkout also builds the read workloads' layouts
FIRST_RUN_TIMEOUT_S = 850
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads: engine and benchmark sources and build files."""
    md = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"), os.path.join(ROOT, "src"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        if os.path.isfile(top):
            files = [top]
        else:
            files = []
            for d, subdirs, names in os.walk(top):
                subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            if f.endswith((".scala", ".java", ".sbt", ".properties")):
                md.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    md.update(hashlib.sha256(fh.read()).digest())
    return md.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
                 + " -Dsbt.offline=true")
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Return the benchmark's runtime classpath, building it if the sources changed."""
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    stamp_file = os.path.join(out, "perfbench.stamp")
    cp_file = os.path.join(out, "perfbench.classpath")
    digest = source_digest()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    for f in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, f)):
            raise RuntimeError(f"no engine sources: {f} missing from {ROOT}")
    log("building engine and benchmark (sbt, offline)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = proc.stdout.splitlines()
    cps = [l.strip() for l in lines if ".jar" in l and not l.startswith("[") and " " not in l.strip()]
    if proc.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise RuntimeError(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.1f}s")
    return cps[-1]


def nproc():
    """Cores this process may run on, as `nproc` reports them."""
    return len(os.sched_getaffinity(0))


def host_state():
    """Load average, cumulative CPU jiffies (for steal) and core count."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"loadavg": load, "cpu_jiffies": cpu, "nproc": nproc()}


def steal_share(before, after):
    """Share of CPU time stolen by the hypervisor between two host states."""
    delta = [b - a for a, b in zip(before["cpu_jiffies"], after["cpu_jiffies"])]
    total = sum(delta)
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def run_jvm(args, classpath, trace_out, tmp):
    if args.record_digests:
        mode = ["--record-digests", os.path.abspath(args.record_digests)]
    else:
        mode = ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace)] + (["--trace-out", trace_out] if args.trace else [])
    # fixed heap and a stop-the-world collector: no heap resizing or
    # concurrent GC threads competing with the timed work
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--data", os.path.join(BENCH, "data"),
              "--state", os.path.join(BENCH, ".state")] + mode)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(nproc()),
               GRAFT_FIXTURES_DIR=os.path.join(ROOT, "fixtures"),
               SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_LAYOUT_DIR", None)
    first = not os.path.isdir(os.path.join(BENCH, ".state", "layouts-read"))
    timeout = None if args.record_digests else FIRST_RUN_TIMEOUT_S if first else JVM_TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"benchmark JVM exceeded {timeout}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--record-digests", metavar="TSV",
                    help="instead of a run, record every registry query's result digest on the corpus")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not args.record_digests and (args.workload is None or args.seed is None):
        ap.error("--workload and --seed are required")
    if not os.path.isdir(os.path.join(ROOT, "fixtures")):
        raise RuntimeError(f"no fixtures directory in {ROOT}")

    classpath = build()
    runs = os.path.join(ROOT, ".bench_runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    trace_out = os.path.join(runs, f"trace-{args.workload}-seed{args.seed}.jsonl")
    tmp = os.path.join(BENCH, ".state", f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    before = host_state()
    try:
        code, out = run_jvm(args, classpath, trace_out, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if args.record_digests:
        sys.exit(code)
    after = host_state()
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        raise RuntimeError(f"benchmark JVM exited {code} without a result")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise RuntimeError(f"malformed result line: {lines[-1]}")
    host = {"nproc": after["nproc"], "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
            "steal_share": steal_share(before, after)}
    with open(os.path.join(runs, f"{tag}.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "host": host, "result": result}, fh, indent=1)
    print("host " + json.dumps(host))
    print(json.dumps(result))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # no result line: a non-zero exit marks the run as failed
        log(f"error: {e}")
        sys.exit(1)
