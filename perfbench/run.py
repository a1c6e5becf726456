#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds graft's main sources
together with the benchmark runner (perfbench/build.sbt) into the build
directory ($CARGO_TARGET_DIR, else .bench_build); later calls reuse that
build while the sources are unchanged. Each run works in a fresh directory
under .bench_work, which is removed afterwards; traced runs keep their
span dump under .bench_work/traces.

The last line of standard output is the result as one JSON object. The
exit code is nonzero, and no result is printed, when the build or the run
fails.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
WORKLOADS = ("validate_catalog", "curation_fold")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
# Spark 4 on JDK 17 outside spark-submit needs these (as the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout or signal."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def ensure_built():
    """Return the runtime classpath, building first if the sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("graft's sources (src/main/scala) are not here; "
                           "run from the root of a graft checkout")
    out_dir = build_dir()
    cp_file = os.path.join(out_dir, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved.get("stamp") == stamp:
            return saved["classpath"]
    os.makedirs(out_dir, exist_ok=True)
    log(f"building into {out_dir}")
    t0 = time.time()
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"-Dperfbench.target={os.path.join(out_dir, 'sbt')}",
         "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=BENCH, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
        text=True)
    sys.stderr.write(out)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if code != 0 or not lines:
        raise RuntimeError(f"build failed (exit {code})")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def parse_result(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test uses a small one)")
    args = ap.parse_args()

    classpath = ensure_built()
    started = time.time()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    traces = os.path.join(ROOT, ".bench_work", "traces")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # Temporary files stay in the work directory (no /tmp hsperfdata).
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--scale", str(args.scale),
            "--spans", os.path.join(traces, f"{args.workload}-{args.seed}.jsonl")]
    try:
        code, out = run_child(cmd, RUN_LIMIT_S - (time.time() - started), cwd=work,
                              stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    parsed = parse_result(out)
    if code != 0 or parsed is None:
        sys.stderr.write(out)
        raise RuntimeError(f"workload {args.workload} failed (exit {code})")
    for line in parsed:
        print(line)


if __name__ == "__main__":
    # A terminated run still stops its child processes (see run_child).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(f"error: {e}")
        sys.exit(1)
    except KeyboardInterrupt:
        sys.exit(130)
