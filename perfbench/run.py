#!/usr/bin/env python3
"""The benchmark: one workload in one JVM, checked, as one JSON line.

    python3 perfbench/run.py --workload etl|query|gates --seed N \\
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the benchmark
(`perfbench/build.sbt`: the checkout's main sources plus the runner in
`perfbench/src`) with sbt; later runs reuse the build while the sources
are unchanged. Inputs, the build and all scratch files live under
`.bench_build/` in the checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import corpus  # noqa: E402
import report  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175
TITLES = 4000          # titles of the synthetic corpus
WARMUP_TITLES = 200    # titles of the corpus of etl's warm-up
FIXED_SEED = 0         # the corpora of the served warehouse and the warm-up
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(deadline):
    """Compile with sbt once per source state; return the classpath and
    the hash of the sources."""
    os.makedirs(WORK, exist_ok=True)
    sources = source_hash()
    cp_file = os.path.join(WORK, "classpath-%s.txt" % sources)
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), sources
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" +
        os.path.expanduser(os.path.join("~", ".sbt", "repositories")),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Compile/fullClasspath"],
            HERE, env, out, deadline)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        fail("build failed (exit %s), see %s" % (code, log))
    # a private copy of the classes, so this classpath stays valid
    # after a rebuild of other sources
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    copy = os.path.join(WORK, "classes-" + sources)
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(classes, copy)
    classpath = os.pathsep.join(copy if e == classes else e
                                for e in lines[-1].split(os.pathsep))
    with open(cp_file, "w") as f:
        f.write(classpath)
    return classpath, sources


def run_bounded(cmd, cwd, env, out, deadline):
    """Run `cmd` in its own process group; kill the group at `deadline`.
    Returns the exit code, None if it was killed."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no sources to build: run from the root of a checkout")
    # a first run in a checkout also builds: give the build its own time
    classpath, sources = build(started + 880)
    deadline = time.time() + DEADLINE_S - 15

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    record_path = os.path.join(run_dir, "record.json")
    jvm_args = ["--workload", args.workload,
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--work", run_dir, "--out", record_path]
    cache = os.path.join(WORK, "corpus")
    corpus_dir, manifest = corpus.corpus(
        cache, args.seed if args.workload == "etl" else FIXED_SEED, TITLES)
    jvm_args += ["--corpus", corpus_dir]
    data_dir = os.path.join(HERE, "data", "sf0.01")
    gate_file = os.path.join(HERE, "gates.txt")
    served = os.path.join(WORK, "served-" + sources)
    mix = None
    if args.workload == "etl":
        warmup_dir, _ = corpus.corpus(cache, FIXED_SEED, WARMUP_TITLES)
        jvm_args += ["--warmup_corpus", warmup_dir]
    else:
        gates = gate_list(gate_file)
        mix = serve_mix(args.seed, gates)
        with open(os.path.join(run_dir, "mix.json"), "w") as f:
            json.dump(mix, f)
        jvm_args += ["--mix", os.path.join(run_dir, "mix.json"),
                     "--warehouse", served, "--data", data_dir]

    tmp = os.path.join(run_dir, "tmp")
    cmd = (["java", "-Xmx" + HEAP, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens",
                                                p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + jvm_args)
    log = os.path.join(WORK, "jvm-%s.log" % args.workload)
    with open(log, "w") as out:
        code = run_bounded(cmd, run_dir, os.environ, out, deadline)
    if code != 0 or not os.path.exists(record_path):
        fail("the run failed (exit %s), see %s" % (code, log))
    with open(record_path) as f:
        record = json.load(f)

    # checks, untimed
    if args.workload == "etl":
        attempted, failed, messages = checks.check_etl(record, manifest)
    else:
        attempted, failed, messages = checks.check_serve(
            record, mix, served, data_dir)
    for m in messages[:20]:
        print("check: " + m)

    passes = record["passes"]
    untraced = [p for p in passes if not p["traced"]] or passes
    e2e = report.end_to_end(record, untraced)
    detail = report.workload_detail(
        record, untraced, manifest["tsv_bytes"] / 1e6)
    detail["failed_frac"] = failed / attempted
    print("passes: " + " ".join(
        "%.3fs%s(probe %.3fs)" % (p["wall_s"], "*" if p["traced"] else "",
                                  p["probe_s"]) for p in passes))
    print("detail: " + json.dumps(detail, sort_keys=True))
    units = dict(report.END_TO_END)
    if args.trace:
        modules = gate_modules(gate_file)
        for name, calls, wall, own in report.span_table(record):
            print("span %-60s calls %4d wall %10.3f ms self %10.3f ms"
                  % (name, calls, wall, own))
        print("tracing overhead (traced pass - its untraced neighbours): "
              + json.dumps(report.tracing_overhead(record), sort_keys=True))
        values = report.per_layer(record, modules)
        units = dict(report.per_layer_names(modules))
    else:
        values = e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units},
    }
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


def gate_list(gate_file):
    """The frozen gate list: (gate, operator module) pairs."""
    with open(gate_file) as f:
        return [tuple(l.split()) for l in f if l.strip() and l[0] != "#"]


def gate_modules(gate_file):
    return sorted({m for _, m in gate_list(gate_file)})


def serve_mix(seed, gates):
    """Rounds of the six query kinds and the gates, each round in a
    seeded order. A `limit` without an order returns any rows, so the
    smoke query keeps its lines for a membership check."""
    queries = corpus.query_mix(seed, TITLES, rounds=200)
    rng = random.Random("serve-%d" % seed)
    mix = []
    for r in range(200):
        ops = queries[6 * r:6 * r + 6] + [{"kind": g, "module": m}
                                          for g, m in gates]
        rng.shuffle(ops)
        mix += ops
    for q in mix:
        if q["kind"] == "smoke":
            q.update(keep_lines=True, limit=10,
                     subset_sql="select * from TitleBasics")
    return mix


if __name__ == "__main__":
    main()
