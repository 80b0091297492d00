#!/usr/bin/env python3
"""graft's benchmark: build graft and the harness from source, run one
workload in a fresh JVM, check its outputs and print its metrics.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds (sbt, offline)
and generates the sf0.1 tables with tools/restore_testdata.py; both are
cached under .bench_build/perfbench and redone when their inputs change.
The last line of stdout is the result JSON; see perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("analytics", "ingest")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft + harness with sbt; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no graft sources under src/main/scala/graft "
                         "— run from the root of a graft checkout")
    stamp = os.path.join(WORK, "build.stamp")
    cpfile = os.path.join(WORK, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cpfile):
        with open(stamp) as f, open(cpfile) as g:
            same, cp = f.read() == digest, g.read().strip()
        # reuse the build only while every classpath entry is still there
        if same and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    log("building graft and the harness with sbt (offline)")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800, stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cp = [ln.strip() for ln in p.stdout.splitlines()
          if os.path.join("perfbench", "target") in ln and ":" in ln and not ln.startswith("[")]
    if not cp:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: sbt printed no classpath")
    with open(cpfile, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1]


def data_dir():
    """The sf0.1 tables, generated deterministically inside the checkout."""
    out = os.path.join(WORK, "data", "sf0.1")
    done = os.path.join(out, "_DONE")
    gen = os.path.join(ROOT, "tools", "restore_testdata.py")
    if os.path.exists(done):
        return out
    if not os.path.exists(gen):
        raise SystemExit("perfbench: tools/restore_testdata.py is missing")
    log("generating the sf0.1 tables")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    subprocess.run([sys.executable, gen, "0.1", out], check=True,
                   stdout=subprocess.DEVNULL, timeout=300)
    open(done, "w").close()
    return out


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def run_jvm(classpath, workload, seed, seconds, trace, extra=(), timeout=RUN_TIMEOUT_S):
    """One fresh JVM running one workload; returns its raw record."""
    run_dir = os.path.join(WORK, "tmp", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "record.json")
    logf = os.path.join(WORK, "logs", f"{workload}-{seed}-{trace}.log")
    os.makedirs(os.path.dirname(logf), exist_ok=True)
    cmd = (["java", "-Xmx3g"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={run_dir}", "-Dspark.ui.enabled=false",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", classpath, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--cpus", str(cpus()),
              "--data", data_dir(), "--out", out,
              "--keys", os.path.join(HERE, "data", "keys.json"),
              "--fingerprints", os.path.join(HERE, "data", "fingerprints.json")]
           + list(extra))
    try:
        with open(logf, "w") as lf:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
            try:
                rc = p.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise SystemExit(f"perfbench: {workload} run exceeded {timeout} s (log {logf})")
        if rc != 0 or not os.path.exists(out):
            with open(logf) as lf:
                sys.stderr.write(lf.read()[-4000:])
            raise SystemExit(f"perfbench: {workload} JVM exited with {rc} (log {logf})")
        keep = os.path.join(WORK, "records", f"{workload}-{seed}-{trace}.json")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.copyfile(out, keep)
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def untraced_reference(workload, seed):
    """ops_per_s of untraced runs of the same workload, for
    trace.overhead: the same seed's earlier untraced run in this
    checkout, else the median over the workload's untraced runs here,
    else 0 (no reference). Never a run of its own, which would double
    the traced run's time."""
    hist = os.path.join(WORK, "history", f"{workload}.json")
    if not os.path.exists(hist):
        return 0.0
    with open(hist) as f:
        seen = json.load(f)
    return seen.get(str(seed), statistics.median(seen.values()) if seen else 0.0)


def remember(workload, seed, ops_per_s):
    hist = os.path.join(WORK, "history", f"{workload}.json")
    os.makedirs(os.path.dirname(hist), exist_ok=True)
    seen = {}
    if os.path.exists(hist):
        with open(hist) as f:
            seen = json.load(f)
    seen[str(seed)] = ops_per_s
    with open(hist, "w") as f:
        json.dump(seen, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    data_dir()
    raw = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace)
    if a.trace:
        ref = untraced_reference(a.workload, a.seed)
        result = metrics.traced(raw, ref)
    else:
        remember(a.workload, a.seed, metrics.ops_per_s(raw))
        result = metrics.untraced(raw)
    for line in metrics.failures(raw):
        log(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
