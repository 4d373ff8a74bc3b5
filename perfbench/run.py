#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload graph_query --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness (perfbench/build.sbt) once, then makes one untimed run of each
workload to dump the JVM's class-data sharing archive; every run then
generates its input tables from the seed, launches the harness JVM on the
generated requests, checks every answer, and prints one JSON line as its
last line of output: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1.
Everything a run writes goes under .perfbench/ in the checkout.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import evaluate  # noqa: E402
import gen_data  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = ("graph_query", "batch_pipeline")
HARNESS_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# JDK 17 module openings Spark needs outside spark-submit (graft's own
# build passes the same list to its forked JVMs)
ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jvm_heap():
    """Half the host's memory in GiB, clamped to [2, 8]: the heap graft's
    own test runs are given."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, f) for f in ("build.sbt", "project/build.properties")]
    for pattern in ("src/main/**/*", "perfbench/src/**/*", "perfbench/*.sbt", "perfbench/run.py",
                    "perfbench/project/*.properties"):
        files += glob.glob(os.path.join(root, pattern), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Compile graft and the harness with sbt (offline) once per source
    state; returns the runtime classpath."""
    out = os.path.join(work, "build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    want = source_stamp(root)
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.exists(cp_file):
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([os.environ.get("SBT_OPTS", "")] + opts).strip()
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
                stderr=lf, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    with open(log, "a") as lf:
        lf.write(p.stdout)
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    for f in glob.glob(os.path.join(out, "*.jsa")):
        os.remove(f)
    cp = ":".join(pack(e, os.path.join(out, "jars")) if os.path.isdir(e) else e
                  for e in lines[-1].strip().split(":"))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    return cp


def pack(classes, jars):
    """The class directory as a jar: the JVM's class-data sharing archive
    (see train) takes classes from jar files only."""
    os.makedirs(jars, exist_ok=True)
    jar = os.path.join(jars, hashlib.sha256(classes.encode()).hexdigest()[:12] + ".jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))
    return jar


def run_harness(cp, spec, run_dir, cds):
    """Run the harness JVM on `spec`; `cds` is the class-data sharing
    option (see train)."""
    os.makedirs(run_dir, exist_ok=True)
    spec_path, out_path = os.path.join(run_dir, "spec.json"), os.path.join(run_dir, "out.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{jvm_heap()}", cds, f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-cp", cp, "graftbench.Main", spec_path, out_path])
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out after {HARNESS_TIMEOUT_S} s; see {log}")
    if code != 0 or not os.path.exists(out_path):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        fail(f"harness exited {code}; see {log}")
    with open(out_path) as f:
        return json.load(f)


def prepare(root, work, workload, seed, seconds, trace, notes, tag):
    """Input tables, run directory and harness spec of one run."""
    data = gen_data.generate(os.path.join(work, "data", f"seed{seed}"), seed)
    run_dir = os.path.join(work, "runs", f"{workload}-s{seed}-t{trace}-{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    spec = workloads.spec(workload, seed, seconds, trace, notes["stages"])
    spec.update(cores=len(os.sched_getaffinity(0)), data=data, work=run_dir,
                corpus=os.path.join(root, "src", "test", "resources", "ref_query_corpus.json"),
                spans=os.path.join(run_dir, "spans.jsonl"))
    return spec, data, run_dir


def archive(work, workload):
    return os.path.join(work, "build", f"{workload}.jsa")


def train(root, work, cp, notes):
    """After a build, one untimed run of each workload on the default seed
    dumps the classes it loaded into that workload's archive. Every
    measured run maps it (class-data sharing), which takes the parsing
    and verification of the Spark, Scala and graft classes out of each
    JVM start. A missing or unusable archive only makes the JVM load
    classes the usual way."""
    for w in WORKLOADS:
        if not os.path.exists(archive(work, w)):
            spec, _, run_dir = prepare(root, work, w, notes["default_seed"], 0, 0, notes, "train")
            run_harness(cp, spec, run_dir, f"-XX:ArchiveClassesAtExit={archive(work, w)}")
            shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing")
    with open(os.path.join(HERE, "predictions.json")) as f:
        notes = json.load(f)
    seed = notes["default_seed"] if args.seed is None else args.seed
    work = os.path.join(root, ".perfbench")
    cp = build(root, work)
    train(root, work, cp, notes)

    spec, data, run_dir = prepare(root, work, args.workload, seed, args.seconds, args.trace,
                                  notes, os.getpid())
    t0 = time.time()
    result = run_harness(cp, spec, run_dir, f"-XX:SharedArchiveFile={archive(work, args.workload)}")
    report = evaluate.evaluate(args.workload, spec, result, data, bool(args.trace))
    for line in report.pop("notes"):
        print(line, file=sys.stderr)
    print(f"perfbench: {args.workload} seed {seed}: harness {time.time() - t0:.1f} s",
          file=sys.stderr)
    if args.trace:
        # the spans and the raw record outlive the run dir
        keep = os.path.join(work, "trace", f"{args.workload}-s{seed}")
        os.makedirs(keep, exist_ok=True)
        for f in ("spans.jsonl", "out.json"):
            os.replace(os.path.join(run_dir, f), os.path.join(keep, f))
        print(f"perfbench: spans in {os.path.relpath(keep, root)}/spans.jsonl", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
