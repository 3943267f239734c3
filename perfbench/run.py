#!/usr/bin/env python3
"""Build graft from this checkout and run one benchmark workload.

    python3 perfbench/run.py --workload batch|serve|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles graft and the
harness with sbt (offline) and snapshots the compiled classes under
perfbench/target/build-<hash>/, keyed by a hash of every build input, so
a later run of the same sources reuses them and a run of other sources
never picks them up. Each run then starts one JVM on `nproc` cores with a
heap of half of MemTotal (2-8 GiB), prints one `name value unit` line per
metric, writes a timestamped record of every sample under perfbench/runs/,
and ends stdout with one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ["batch", "serve"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file whose change needs a rebuild, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def cached_classpath(cache):
    """The classpath snapshotted in `cache`, or None if it is missing or
    names anything under the checkout outside the snapshot."""
    try:
        with open(os.path.join(cache, "classpath.txt")) as fh:
            entries = fh.read().strip().split(os.pathsep)
    except OSError:
        return None
    for e in entries:
        full = os.path.normpath(os.path.join(ROOT, e))
        inside = not os.path.relpath(full, ROOT).startswith("..")
        if not os.path.exists(full) or (
                inside and not full.startswith(cache + os.sep)):
            return None
    return os.pathsep.join(entries)


def build(stamp):
    """Compile with sbt once per source hash; return the runtime classpath.

    sbt compiles into class directories shared by every revision built in
    this tree, so they are copied into a directory of this hash, and the
    cached classpath names those copies (relative to the checkout root)
    and the external jars.
    """
    cache = os.path.join(BENCH, "target", f"build-{stamp[:16]}")
    classpath = cached_classpath(cache)
    if classpath is not None:
        return classpath
    if shutil.which("sbt") is None:
        log("sbt not found on PATH")
        sys.exit(3)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts + " -Dsbt.override.build.repos=true -Dsbt.offline=true"
    log("building graft and the harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        log(f"build failed (exit {p.returncode})")
        sys.exit(4)
    log(f"built in {time.time() - t0:.1f} s")
    tmp = cache + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            shutil.copytree(e, os.path.join(tmp, f"classes{i}"))
            e = os.path.relpath(os.path.join(cache, f"classes{i}"), ROOT)
        entries.append(e)
    with open(os.path.join(tmp, "classpath.txt"), "w") as fh:
        fh.write(os.pathsep.join(entries))
    shutil.rmtree(cache, ignore_errors=True)
    os.rename(tmp, cache)
    return os.pathsep.join(entries)


def heap_gib():
    """Half of MemTotal, clamped to 2-8 GiB (the tier-1 test sizing)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def git_rev():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none"
    p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    return p.stdout.strip() or "none"


def run_one(workload, args, classpath, stamp):
    """Run one workload in its own JVM; return its parsed result line."""
    cores = len(os.sched_getaffinity(0))
    stamp_utc = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    record = os.path.join(BENCH, "runs",
                          f"{stamp_utc}-{workload}-seed{args.seed}-trace{args.trace}.json")
    work = os.path.join(BENCH, ".work", f"{os.getpid()}-{workload}")
    os.makedirs(work, exist_ok=True)
    heap = heap_gib()
    cmd = (["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-Xmn1g", f"-Djava.io.tmpdir={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", os.path.join(BENCH, "data"),
              "--expected", os.path.join(BENCH, "expected", "digests.tsv"),
              "--record", record, "--cores", str(cores),
              "--rev", f"{git_rev()}+src.{stamp[:12]}"]
           )
    env = dict(os.environ, SPARK_LOCAL_DIRS=work)
    lines = []
    prefix = f"{workload}: " if args.workload == "all" else ""
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)

    def relay():
        for line in proc.stdout:
            sys.stdout.write(prefix + line)
            sys.stdout.flush()
            if line.strip():
                lines.append(line.strip())

    reader = threading.Thread(target=relay, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"{workload}: killed after {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        reader.join(timeout=5)
        shutil.rmtree(work, ignore_errors=True)
    last = lines[-1] if lines else None
    if proc.returncode != 0 or last is None:
        log(f"{workload}: JVM exited with {proc.returncode}")
        return None
    try:
        result = json.loads(last)
    except json.JSONDecodeError:
        return None
    log(f"{workload}: record {os.path.relpath(record, ROOT)}")
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                            "SparkEntry.scala"))):
        log("graft sources not found next to perfbench/; run from a graft checkout")
        sys.exit(2)
    stamp = source_hash()
    classpath = build(stamp)

    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = {w: run_one(w, args, classpath, stamp) for w in names}
    if any(r is None for r in results.values()):
        sys.exit(1)
    if args.workload == "all":
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()}}))


if __name__ == "__main__":
    main()
