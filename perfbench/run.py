#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_load|query_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the benchmark from
source with sbt (once per source state, into $CARGO_TARGET_DIR or
.bench_build), generates the seeded inputs, runs one JVM for the workload
and prints the result as the last line of standard output. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

WORKLOADS = ("etl_load", "query_mix")
HEAP = "3g"
# Loan book of etl_load, in TPC-H scale factors (sf0.1 = 150k loans).
BOOK_SF = 0.01
# A smaller book from the same seed warms the load path during set-up.
WARM_SF = 0.001
JVM_TIMEOUT_S = 165
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def source_stamp():
    """Hash of every file the build reads, so any source change rebuilds."""
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for dirpath, dirnames, names in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    files.append(os.path.join(HERE, "build.sbt"))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles program + benchmark; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to the benchmark (looked in {ROOT})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, f"classpath-{source_stamp()}.txt")
    if not os.path.isfile(cp_file):
        env = dict(os.environ, COURSIER_MODE="offline", CLASSPATH_OUT=cp_file + ".tmp")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0 or not os.path.isfile(cp_file + ".tmp"):
            fail("build failed")
        os.replace(cp_file + ".tmp", cp_file)
    with open(cp_file) as f:
        return f.read().strip()


def generator_stamp():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def inputs(workload, seed, data_root):
    """Generates (or reuses) the inputs; returns (data dir, sequence file)."""
    if workload == "etl_load":
        d = os.path.join(data_root, f"book-{generator_stamp()}-{seed}")
        for sub, sf in (("book", BOOK_SF), ("warm", WARM_SF)):
            if not os.path.isfile(os.path.join(d, sub, "_inputs.json")):
                gen.main(["loanbook", os.path.join(d, sub), "--seed", str(seed), "--sf", str(sf)])
        return os.path.join(d, "book"), None
    d = os.path.join(data_root, f"corpus-{generator_stamp()}")
    if not os.path.isfile(os.path.join(d, "_inputs.json")):
        gen.main(["corpus", d])
    seq = os.path.join(data_root, f"seq-{generator_stamp()}-{workload}-{seed}.txt")
    gen.main(["sequence", seq, "--seed", str(seed), "--workload", workload,
              "--pools", os.path.join(HERE, "pools.json")])
    return d, seq


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    cp = build()
    out = build_dir()
    data, seq = inputs(a.workload, a.seed, os.path.join(out, "data"))
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    os.makedirs(os.path.join(out, "results"), exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", f"-Xms{HEAP}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", cp, "perfbench.Main", "run",
           "--workload", a.workload, "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--work", work,
           "--pools", os.path.join(HERE, "pools.json"),
           "--expected", os.path.join(HERE, "expected", "digests.json"),
           "--result", result]
    if seq:
        cmd += ["--sequence", seq]
    else:
        cmd += ["--warm", os.path.join(os.path.dirname(data), "warm")]
    log = os.path.join(out, "logs", f"{a.workload}-{a.seed}-trace{a.trace}.log")
    try:
        with open(log, "w") as errf:
            r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stdout, stderr=errf,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
        if r.returncode != 0 or not os.path.isfile(result):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"workload JVM exited with {r.returncode}; log in {log}")
        with open(result) as f:
            res = json.load(f)
        for s in glob.glob(os.path.join(work, "spans-*.tsv")):
            kept = os.path.join(out, "results", f"spans-{a.workload}-{a.seed}.tsv")
            shutil.copy(s, kept)
            print(f"[perfbench] spans written to {kept}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if a.workload == "etl_load":
            shutil.rmtree(os.path.dirname(data), ignore_errors=True)
    with open(os.path.join(out, "results", f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f)
    other = os.path.join(out, "results", f"{a.workload}-{a.seed}-trace{1 - a.trace}.json")
    if os.path.isfile(other):
        with open(other) as f:
            o = json.load(f)
        traced, plain = (res, o) if a.trace else (o, res)
        t = traced["metrics"].get("trace.ops_per_s", {}).get("value")
        p = plain["metrics"].get("ops_per_s", {}).get("value")
        if t and p:
            print(f"[perfbench] tracing overhead: ops_per_s untraced {p:.4f} traced {t:.4f} "
                  f"(traced {100 * (t - p) / p:+.1f}%), same workload and seed")
    sys.stdout.flush()
    print(json.dumps(res))


if __name__ == "__main__":
    main(sys.argv[1:])
