#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):

    python3 perfbench/run.py --workload corpus-ingest --seed 1 --seconds 10 --trace 0

Workloads: signals-live, corpus-ingest, query-suite (see perfbench/README.md).
The first run in a checkout compiles the library and the benchmark with sbt
(perfbench/build.sbt); later runs reuse the build while the sources are
unchanged. The benchmark JVM is launched directly with the root build's JVM
options. Extra modes:

    --overhead           run --trace 0 and --trace 1 with the same seed and
                         print the difference of every end-to-end metric
    --rate N             signals-live only: offer N signals/s instead of the
                         fixed rate (to find where the backlog starts to grow)
    --write-goldens      query-suite only: also write the observed digests to
                         perfbench/.work/goldens.tsv (how the goldens were taken)
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("signals-live", "corpus-ingest", "query-suite")
GOLDENS = os.path.join(HERE, "goldens", "query-suite-sf0.001.tsv")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources; return
    (classpath, jvm options) from the launch file sbt writes."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} not found")
    target = os.path.join(HERE, "target")
    os.makedirs(target, exist_ok=True)
    launch, stamp_file = os.path.join(target, "launch.txt"), os.path.join(target, "stamp.txt")
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
                 and open(stamp_file).read() == stamp)
        if not fresh:
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            if "SBT_OPTS" not in env:
                opts = ["-Dsbt.offline=true"]
                repos = os.path.expanduser("~/.sbt/repositories")
                if os.path.exists(repos):
                    opts = ["-Dsbt.override.build.repos=true",
                            f"-Dsbt.repository.config={repos}"] + opts
                env["SBT_OPTS"] = " ".join(opts)
            t0 = time.time()
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                               timeout=BUILD_TIMEOUT_S)
            if p.returncode != 0 or not os.path.exists(launch):
                fail(f"sbt build failed (exit {p.returncode})")
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
            print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    lines = open(launch).read().splitlines()
    opts = [o for o in lines[1:] if o and not o.startswith("-Xmx")]
    return lines[0], opts


def run_jvm(args, trace, cp, opts):
    """Launch the benchmark JVM; return (exit code, stdout lines)."""
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + opts + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--data", os.path.join(HERE, "data"), "--work", work, "--goldens", GOLDENS]
        + (["--rate", str(args.rate)] if args.rate else [])
        + (["--write-goldens", os.path.join(HERE, ".work", "goldens.tsv")]
           if args.write_goldens else []))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--rate", type=int)
    ap.add_argument("--write-goldens", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(HERE, "data")):
        fail("perfbench/data is missing")
    cp, opts = build()

    if args.overhead:
        ends = {}
        for trace in (0, 1):
            code, lines = run_jvm(args, trace, cp, opts)
            det = [json.loads(l)["details"] for l in lines if l.startswith('{"details"')]
            if code != 0 or not det:
                fail(f"--trace {trace} run failed (exit {code})", code or 3)
            ends[trace] = det[-1]["end_to_end"]
        for k, v0 in ends[0].items():
            v1 = ends[1][k]
            print(f"{k:18s} untraced {v0:12.4f}  traced {v1:12.4f}  "
                  f"overhead {v1 - v0:+12.4f} ({(v1 - v0) / v0 * 100 if v0 else 0:+.1f}%)")
        return

    code, lines = run_jvm(args, args.trace, cp, opts)
    for line in lines[:-1]:
        print(line)
    if code != 0:
        # a failed output check still shows its result line ("correct": false)
        if lines and lines[-1].startswith('{"correct"'):
            print(lines[-1])
        sys.stdout.flush()
        fail(f"the benchmark exited {code}: an output check failed or it crashed", code)
    try:
        result = json.loads(lines[-1])
        got = {k: v["unit"] for k, v in result["metrics"].items()}
    except (IndexError, ValueError, KeyError, AttributeError):
        fail("the benchmark printed no result line", 3)
    if got != expected_metrics(args.trace):
        fail("metrics differ from BENCHMARK.json", 3)
    print(lines[-1])


if __name__ == "__main__":
    main()
