#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload olap_point --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the
repository's main sources together with perfbench/src (perfbench/build.sh)
into $CARGO_TARGET_DIR (default .bench_build); later runs reuse the build
while the sources are unchanged. The last line of standard output is the
result object: {"correct", "attempted", "failed", "metrics"}. The line
before it is the run's record: seed, threads, nproc, heap, commit and the
end-to-end values. Traced runs (--trace 1) also write their spans to
<build>/traces/.
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
WORKLOADS = ("olap_point", "llm_dedup")
RUN_TIMEOUT_S = 170
# The heap is committed and touched at start, so peak RSS does not depend on
# when the collector chose to grow the heap: it is the heap plus what the
# program holds outside it.
HEAP = "2g"
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


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--threads", type=str, default=None,
                   help="Spark executor threads (local[N]); at most nproc, default min(4, nproc)")
    p.add_argument("--scale", choices=("full", "smoke"), default="full",
                   help="smoke: tiny inputs, for the self-test")
    a = p.parse_args(argv)
    nproc = os.cpu_count() or 1
    if a.threads is None:
        a.threads = min(4, nproc)
    elif not a.threads.isdigit() or not 1 <= int(a.threads) <= nproc:
        fail(f"--threads must be a whole number in [1, nproc = {nproc}], got {a.threads!r}")
    a.threads = int(a.threads)
    if not 1 <= a.seconds <= 600:
        fail("--seconds must be in [1, 600]")
    return a


def source_files():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            for n in sorted(names):
                yield os.path.join(d, n)
    yield os.path.join(BENCH, "build.sh")


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_commit():
    """HEAD of the checkout's own repository; None outside one."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def build(out, digest):
    stamp = os.path.join(out, "classes", ".source-sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return os.path.join(out, "classes")
    t0 = time.time()
    r = subprocess.run(["bash", os.path.join(BENCH, "build.sh"), ROOT, out],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return os.path.join(out, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("neither SPARK_HOME nor spark-submit found")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def run_java(cmd, cwd):
    """Runs the benchmark JVM in its own process group; kills the group
    and waits for it if it outlives the time limit."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"the run exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, out


def main(argv):
    a = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a source checkout")
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = out if os.path.isabs(out) else os.path.join(ROOT, out)
    digest = source_digest()
    classes = build(out, digest)

    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dgraftbench.work={work}",
              f"-Dgraftbench.traceDir={out}/traces",
              f"-Dgraftbench.commit={git_commit() or 'source-sha256:' + digest}",
              "-cp", f"{classes}:{spark_jars()}/*", "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--threads", str(a.threads), "--scale", a.scale])
    try:
        code, stdout = run_java(cmd, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        record = json.loads(lines[-2])["record"]
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, KeyError, AssertionError):
        sys.stderr.write(stdout)
        fail(f"the benchmark JVM exited with code {code} without a result")

    history = os.path.join(out, "results.jsonl")
    with open(history, "a") as fh:
        fh.write(json.dumps({"record": record, "source": digest}) + "\n")
    if a.trace:
        print(json.dumps({"tracing_overhead": overhead(history, record, digest)}))
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


def overhead(history, rec, digest):
    """Traced minus untraced end-to-end values, against the latest untraced
    run of the same sources, workload, seed, scale and threads; null when
    there is none yet."""
    base = None
    with open(history) as fh:
        for line in fh:
            h = json.loads(line)
            r = h["record"]
            if (h["source"] == digest and not r["trace"] and
                    all(r[k] == rec[k] for k in ("workload", "seed", "scale", "threads"))):
                base = r
    if base is None:
        return None
    return {k: v - base["end_to_end"][k] for k, v in rec["end_to_end"].items()}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
