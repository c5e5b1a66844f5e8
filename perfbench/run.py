#!/usr/bin/env python3
"""Pipeline benchmark: AtomicPipeline sync rounds over the five Bitcoin tables.

Run from the repository root:

    python3 perfbench/run.py --workload incr_merge --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all            # every workload, untraced then traced
    python3 perfbench/run.py --selftest       # the benchmark's own tests

The first call builds the repository's main sources together with the
benchmark code (sbt, in perfbench/); later calls reuse the build while
no source file changed. The last stdout line of a run is one JSON object:
{"correct", "attempted", "failed", "metrics"}; notes (round samples, the
tail percentile and its sample count, set-up phases, failures) go to
stderr as "#" lines. With --trace 1 the metrics are the per-layer ones
and the spans are written to perfbench/work/traces/.

Each run is one JVM: a single closed-loop client driving
graft.runner.AtomicPipeline on local[<cores>]. Set-up (session start,
payload generation, two seed syncs of which the median counts, one warm
round) is untimed except as setup_s; then a fixed number of sync rounds
are timed, each checked against the generator's expected warehouse and
followed by the analyst read set. A deep Transaction.fsck ends the run.
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
REPO = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
WORKLOADS = ["incr_merge", "small_sync"]
RUN_TIMEOUT = 170
JVM_OPTIONS = os.path.join(BENCH, "jvm.options")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, for the rebuild check."""
    roots = [os.path.join(BENCH, "src"), os.path.join(REPO, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    return env


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build():
    """Compiles once per source digest; returns the runtime classpath."""
    want = digest()
    stamp = CLASSPATH + ".digest"
    if os.path.exists(CLASSPATH) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == want:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    log("perfbench: building (sbt compile) ...")
    t = time.time()
    code, out, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        840, cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, text=True)
    if code != 0:
        log(out[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [l for l in out.splitlines() if "perfbench" in l and ":" in l
          and not l.startswith("[")][-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(want)
    log(f"perfbench: built in {time.time() - t:.0f}s")
    return cp


def jvm_options():
    """The JVM options shared with the sbt test fork."""
    with open(JVM_OPTIONS) as fh:
        return [l.strip() for l in fh
                if l.strip() and not l.lstrip().startswith("#")]


def run_once(cp, workload, seed, seconds, trace):
    """One benchmark run in a fresh work directory; returns stdout lines."""
    work = os.path.join(BENCH, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
           + jvm_options()
           + ["-cp", cp, "perfbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work])
    errlog = os.path.join(BENCH, "work", f"{workload}-{seed}.stderr.log")
    try:
        with open(errlog, "w") as err:
            code, out, _ = run_bounded(cmd, RUN_TIMEOUT, cwd=work,
                                       stdout=subprocess.PIPE, stderr=err, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(errlog) as fh:
            log(fh.read()[-6000:])
        raise SystemExit(f"perfbench: {workload} run exited with {code}")
    return out.splitlines()


def check_checkout():
    marker = os.path.join(REPO, "src", "main", "scala", "graft", "runner",
                          "AtomicPipeline.scala")
    if not os.path.exists(marker):
        raise SystemExit("perfbench: the repository's sources are missing "
                         f"({os.path.relpath(marker, REPO)}); run from a full checkout")


def summary(workloads, seed, seconds):
    """Runs each workload untraced, then traced; prints every metric."""
    cp = build()
    rows = []
    for w in workloads:
        for trace in (0, 1):
            lines = run_once(cp, w, seed, seconds, trace)
            for l in lines[:-1]:
                print(f"[{w} trace={trace}] {l}")
            res = json.loads(lines[-1])
            rows.append((w, trace, res))
    for w, trace, res in rows:
        print(f"== {w} (trace={trace}) correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              f"fail_ratio={res['failed'] / res['attempted']:.4f}")
        for name, m in res["metrics"].items():
            print(f"   {name:38s} {m['value']:>16.6g} {m['unit']}")
    for w in workloads:
        plain = next(r for x, t, r in rows if x == w and t == 0)
        traced = next(r for x, t, r in rows if x == w and t == 1)
        a = plain["metrics"]["round_p50_s"]["value"]
        b = traced["metrics"]["trace.round_p50_s"]["value"]
        print(f"== {w}: tracing overhead on round_p50_s {100 * (b - a) / a:+.1f}%"
              f" ({b:.4f}s traced vs {a:.4f}s untraced)")
    return all(r["correct"] for _, _, r in rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload untraced and traced, print a table")
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests")
    a = ap.parse_args()
    check_checkout()
    if a.selftest:
        code, _, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "test"],
                                 1200, cwd=BENCH, env=sbt_env())
        sys.exit(code)
    if a.all:
        sys.exit(0 if summary(WORKLOADS, a.seed, a.seconds) else 1)
    if not a.workload:
        ap.error("--workload is required (or --all / --selftest)")
    lines = run_once(build(), a.workload, a.seed, a.seconds, a.trace)
    for l in lines[:-1]:
        log(l)
    print(lines[-1])


if __name__ == "__main__":
    main()
