#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Builds the program and this harness from the checkout's sources (sbt,
first run only), generates the workload's inputs from the seed, and
launches JVMs: two that only set up a Spark session, then one that sets
up, runs a cold pass whose outputs are kept for the check and then a
fixed number of timed passes. It checks the outputs against DuckDB and
prints one JSON line: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1 (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
import check  # noqa: E402
import gen  # noqa: E402

CPUS = 4
HEAP = "2g"
# Rows of each generated table, per workload: the row counts of the
# project's sf0.01 testdata (TESTDATA.md). README.md ("Inputs") says why
# not sf0.1.
WORKLOADS = {
    "etl_batch": {"customer": 1500, "events": 10000},
    "corpus_dedup": {"documents": 500, "embeddings": 500, "lineitem": 60000},
}
# Timed passes after the cold check pass, and cold set-ups (one JVM each,
# the last one the JVM that runs the passes) whose median is setup_s.
TIMED = 2
SETUPS = 3

JVM_OPTS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
    "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the compiled program and harness, all jars; runs sbt
    only when the sources changed since the last build in this checkout."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not "
             "next to this directory; run from a full checkout")
    stamp = os.path.join(BENCH, "target", "perfbench-build.json")
    digest = source_hash()
    try:
        with open(stamp) as f:
            s = json.load(f)
        if s["hash"] == digest:
            return s["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "writeClasspath"],
            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=700).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (sbt exit {rc}), log in {log}", 3)
    with open(os.path.join(BENCH, "target", "classpath.txt")) as f:
        cp = f.read().strip().split(os.pathsep)
    # The class-data archive (see cds_archive) takes only jars.
    jars = os.path.join(BENCH, "target", "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    for i, entry in enumerate(cp):
        if os.path.isdir(entry):
            cp[i] = os.path.join(jars, f"{i}.jar")
            with zipfile.ZipFile(cp[i], "w") as z:
                for d, _, fs in sorted(os.walk(entry)):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), entry))
    cp = os.pathsep.join(cp)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": cp}, f)
    return cp


def cds_archive(cp, workload, data):
    """The JVM options that load the classes of a set-up from an
    application class-data archive. The archive is part of the build: it
    is dumped once per build and workload by a JVM that sets up and exits,
    and it holds every class that set-up loaded."""
    jsa = os.path.join(BENCH, "target", "jars", f"{workload}.jsa")
    if not os.path.isfile(jsa):
        work = os.path.join(WORK, "cds")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        launch(cp, workload, data, work, trace=0, setup_only=True,
               opts=[f"-XX:ArchiveClassesAtExit={jsa}"])
        if not os.path.isfile(jsa):
            fail(f"no class-data archive was written, log in {work}/jvm.log", 3)
        shutil.rmtree(work)
    return [f"-XX:SharedArchiveFile={jsa}"]


def make_inputs(workload, seed):
    """Generate the workload's tables for this seed, once per checkout;
    other seeds' inputs are removed."""
    base = os.path.join(WORK, "data")
    name = f"{workload}-{seed}"
    data = os.path.join(base, name)
    if os.path.isfile(os.path.join(data, "_done")):
        return data
    if os.path.isdir(base):
        for d in os.listdir(base):
            shutil.rmtree(os.path.join(base, d))
    gen.generate(seed, data, WORKLOADS[workload])
    open(os.path.join(data, "_done"), "w").close()
    return data


def launch(cp, workload, data, work, trace, setup_only, opts, deadline=None):
    """Run one JVM of the harness and return its report. It is killed if
    it has not ended by `deadline` (time.time()), 150 s by default."""
    out = os.path.join(work, "report.json")
    jvm_args = {
        "workload": workload, "data": data, "work": work, "out": out, "cpus": CPUS,
        "timed": TIMED, "trace": trace, "setup-only": int(setup_only),
    }
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log4j = os.path.join(BENCH, "log4j2.properties")
    launch_ms = int(time.time() * 1000)
    cmd = ["java", *JVM_OPTS, *opts, f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={log4j}", "-cp", cp, "perfbench.Main",
           "--launch-ms", str(launch_ms)]
    for k, v in jvm_args.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(work, "jvm.log"), "a") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, (deadline or launch_ms / 1000 + 150) - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("the run did not finish in time", 4)
    if rc != 0 or not os.path.isfile(out):
        fail(f"JVM exit {rc}, log in {os.path.join(work, 'jvm.log')}", 4)
    with open(out) as f:
        rep = json.load(f)
    os.remove(out)
    return rep


def output_of(op):
    """The checked output an operation writes: stages.agent_turns_s -> agent_turns."""
    return op.split(".", 1)[1][:-2]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    # Accepted for the driver's interface; a run always makes TIMED passes.
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    data = make_inputs(args.workload, args.seed)
    cds = cds_archive(cp, args.workload, data)
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.time()
    deadline = t0 + 160
    setups = [launch(cp, args.workload, data, work, args.trace, True, cds, deadline)["setup_s"]
              for _ in range(SETUPS - 1)]
    rep = launch(cp, args.workload, data, work, args.trace, False, cds, deadline)
    setups.append(rep["setup_s"])
    rep["e2e"]["setup_s"] = statistics.median(setups)
    rep["setups_s"] = setups
    t1 = time.time()
    results = check.CHECKS[args.workload](data, os.path.join(work, "check"))
    rep["jvm_wall_s"], rep["check_wall_s"] = t1 - t0, time.time() - t1
    # An output whose check pass threw, or whose check misses, fails every
    # timed operation that wrote it. The outputs are correct if every
    # output that was written passes its check.
    attempted = sum(rep["attempted"].values())
    failed = sum(rep["failed"].values())
    correct = True
    for op, n in rep["attempted"].items():
        reason = results.get(output_of(op), "no check for this output")
        if op in rep["check_failed"]:
            reason = "its check pass threw"
        elif reason is not None:
            correct = False
        if reason is not None:
            print(f"perfbench: {op}: {reason}", file=sys.stderr)
            failed += n - rep["failed"][op]

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              **rep, "checks": results}
    with open(os.path.join(WORK, f"report-{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1)

    key, source = ("per_layer", rep["layers"]) if args.trace else ("end_to_end", rep["e2e"])
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[key]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
