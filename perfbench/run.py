"""Benchmark of the pandarallel-on-Spark engine.

    python3 perfbench/run.py --workload verbs_small --seed 1 --seconds 30 --trace 0

Builds the program from source (perfbench/build.py), runs one workload in
a fresh JVM on a local[nproc/2] session with one closed-loop caller thread,
checks every output against a sequential reference, prints each metric
by name with its unit and sample count, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

End-to-end timings are scaled to a nominal machine speed, measured by a
reference job timed next to every op and set-up (perfbench/stats.py);
the raw timings are printed beside them.

--trace 0 reports the end-to-end metrics; --trace 1 alternates untraced
and traced passes and reports the per-layer metrics, writing spans and
the per-op layer table to .bench_build/trace/. --workload all runs every
workload in turn. The exit code is 0 only when every check passed and no
op failed.

perfbench/workloads.json holds each workload's input sizes, planted
duplicate rates and check floors, the default seed, and a held-out seed
kept unused until it confirms a claimed gain.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170

# JVM settings of every run. C1 only, with room for its code: Spark's
# driver code keeps the C2 compiler busy for minutes on a 4-core machine
# (still ~2,000 C2 compiles per 5 s at 40 s into a run), so a short timed
# window measured JIT warm-up and moved 10-15% between runs; under C1 the
# pass time is flat after the warm-up. A fixed, pre-touched heap keeps
# heap growth and first-touch page faults out of the timed window.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xss8m", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=256m", "-XX:+AlwaysPreTouch"]

# Spark task slots, and the collector's threads: half the CPUs this
# process may use. The machine's other processes then get the other half
# instead of preempting a task that its stage is waiting for: with a
# task on every CPU, whole runs spread by a third or more on a shared
# 4-vCPU host.
SLOTS = max(1, len(os.sched_getaffinity(0)) // 2)
GC_FLAGS = [f"-XX:ParallelGCThreads={SLOTS}", "-XX:ConcGCThreads=1"]

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def run_workload(name, spec, seed, seconds, trace, cp):
    work = os.path.join(build.OUT, "work", f"{name}-{seed}-{trace}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    out = os.path.join(work, "record.json")
    log = os.path.join(build.OUT, "logs", f"{name}-{seed}-{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = (["java"] + JVM_FLAGS + GC_FLAGS + build.jvm_base_flags()
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--workload", name, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--slots", str(SLOTS), "--out", out, "--work", work]
           + [a for k, v in spec.items() for a in ("--param", f"{k}={v}")])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its temporary files in the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        tail = open(log, errors="replace").read()[-3000:]
        raise RuntimeError(f"{name}: JVM exited with {code}; log {log}:\n{tail}")
    with open(out) as f:
        rec = json.load(f)
    os.replace(out, log[:-len(".log")] + ".record.json")
    shutil.rmtree(work, ignore_errors=True)
    # write back this run's shuffle and index files now, not during the next run
    os.sync()
    return rec


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as f:
        conf = json.load(f)
    seed = conf["default_seed"] if a.seed is None else a.seed
    names = list(conf["workloads"]) if a.workload == "all" else [a.workload]
    unknown = [n for n in names if n not in conf["workloads"]]
    if unknown:
        print(f"unknown workload {unknown[0]}; have {', '.join(conf['workloads'])}", file=sys.stderr)
        return 2
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        return 2

    correct, attempted, failed, metrics = True, 0, 0, {}
    for name in names:
        load0 = loadavg()
        rec = run_workload(name, conf["workloads"][name], seed, a.seconds, a.trace, cp)
        load1 = loadavg()
        e2e, layer, report, trace_doc = stats.summarize(rec)
        ops = rec["ops"]
        bad = [o for o in ops if o["error"] is not None or o["wrong"] is not None]
        checks_ok = all(c["ok"] for c in rec["checks"])
        correct = correct and checks_ok and not bad
        attempted += len(ops)
        failed += len(bad)
        stamp = dict(rec["stamp"], seed=seed, loadavg_start=load0, loadavg_end=load1,
                     workload=name, trace=a.trace, passes=rec["passes"], timed_s=rec["timed_s"])
        print(f"== {name}  " + json.dumps(stamp))
        for c in rec["checks"]:
            if not c["ok"]:
                print(f"   CHECK FAILED {c['name']}: {c['detail']}")
        print(f"   checks: {sum(c['ok'] for c in rec['checks'])}/{len(rec['checks'])} passed; "
              f"ops: {len(ops)} attempted, {len(bad)} failed or wrong")
        for o in bad[:5]:
            print(f"   op {o['id']} {o['name']}/{o['group']}: {o['error'] or o['wrong']}")
        if a.trace == 0:
            for mname, value, unit, n in report:
                shown = "n/a (too few samples beyond it)" if value is None else f"{value:.6g}"
                print(f"   {mname:<24} {shown:>14} {unit:<6} n={n}")
        else:
            for mname, unit in stats.PER_LAYER:
                print(f"   {mname:<30} {layer[mname]:>14.6g} {unit}")
            tdir = os.path.join(build.OUT, "trace")
            os.makedirs(tdir, exist_ok=True)
            tfile = os.path.join(tdir, f"{name}-seed{seed}.json")
            with open(tfile, "w") as f:
                json.dump(dict(trace_doc or {}, stamp=stamp, per_layer=layer,
                               end_to_end_untraced=e2e), f)
            print(f"   spans and per-op layers: {os.path.relpath(tfile, build.ROOT)}")
        chosen = stats.END_TO_END if a.trace == 0 else stats.PER_LAYER
        prefix = "" if len(names) == 1 else name + "/"
        for mname, unit in chosen:
            metrics[prefix + mname] = {"value": (e2e if a.trace == 0 else layer)[mname], "unit": unit}

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
