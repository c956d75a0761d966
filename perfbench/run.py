#!/usr/bin/env python3
"""graft benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload lakehouse_txn --seed 1 --seconds 18 --trace 0

Builds the library and the JVM harness from source on first use (sbt,
offline), generates the workload's inputs from --seed, runs the harness
for --seconds of measured work, checks every output, prints a readable
report, and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("lakehouse_txn", "analytic_scan")
DEADLINE_S = 175.0          # a run ends within 180 s
BUILD_DEADLINE_S = 840.0    # the first run in a checkout builds

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def _sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        yield f


def build():
    """sbt build of the library plus harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the graft sources (../build.sbt, ../src) are missing")
    stamp = os.path.join(HERE, "target", "bench-classpath.txt")
    if os.path.isfile(stamp):
        built = os.path.getmtime(stamp)
        if all(os.path.getmtime(f) <= built for f in _sources() if os.path.exists(f)):
            return open(stamp).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log("perfbench: building (sbt writeClasspath) ...")
    t0 = time.monotonic()
    build_log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(build_log), exist_ok=True)
    with open(build_log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S)
    if r.returncode != 0 or not os.path.isfile(stamp):
        raise SystemExit(f"perfbench: build failed, see {build_log}")
    log(f"perfbench: built in {time.monotonic() - t0:.0f}s")
    return open(stamp).read().strip()


def make_inputs(workload, seed, seconds, inputs):
    """Generate the workload's inputs; returns data the checks need."""
    os.makedirs(inputs, exist_ok=True)
    if workload == "lakehouse_txn":
        init, ops = gen.lakehouse(seed, gen.lh_blocks(seconds))
        gen.write_lakehouse(inputs, init, ops)
        return {"init": init, "ops": ops}
    gen.write_analytic(os.path.join(inputs, "analytic"), seed)
    with open(os.path.join(inputs, "meta.json"), "w") as f:
        json.dump({"passes": gen.analytic_passes(seconds)}, f)
    return {}


def run_jvm(classpath, workload, work, trace, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", classpath, "graftbench.Main", workload, work, str(trace)])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=max(5.0, deadline))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {workload} exceeded its time limit, see {work}/jvm.log")
    res_file = os.path.join(work, "result.json")
    if r.returncode != 0 or not os.path.isfile(res_file):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.readlines()[-30:]
        log("".join(tail))
        raise SystemExit(f"perfbench: {workload} failed (exit {r.returncode}), see {work}/jvm.log")
    with open(res_file) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    classpath = build()
    t_run = time.monotonic()
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.monotonic()
    truth = make_inputs(args.workload, args.seed, args.seconds, os.path.join(work, "inputs"))
    gen_s = time.monotonic() - t0
    # the JVM gets what is left of the run's time limit, minus time for the checks
    budget = DEADLINE_S - (time.monotonic() - t_run) - 25.0
    t1 = time.monotonic()
    res = run_jvm(classpath, args.workload, work, args.trace, budget)
    t2 = time.monotonic()
    verdict = checks.check(args.workload, work, res, truth)
    log(f"perfbench: inputs {gen_s:.1f}s, jvm {t2 - t1:.1f}s, checks {time.monotonic() - t2:.1f}s")
    e2e = layers.end_to_end(args.workload, res, gen_s)
    report = dict(e2e)
    report.update(layers.workload_metrics(args.workload, res))
    report["error_rate"] = (verdict["failed"] / verdict["attempted"], "ratio")
    if args.trace:
        metrics = layers.per_layer(args.workload, work, res, truth)
    else:
        metrics = e2e

    print(f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cores={os.cpu_count()}")
    for name, (value, unit) in report.items():
        print(f"metric {name} = {value:.6g} {unit}")
    if args.trace:
        for name, (value, unit) in metrics.items():
            print(f"layer {name} = {value:.6g} {unit}")
    for line in verdict["notes"]:
        print(f"check {line}")
    print(f"correct={verdict['failed'] == 0} attempted={verdict['attempted']} failed={verdict['failed']}")
    print(json.dumps({
        "correct": verdict["failed"] == 0,
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
