#!/usr/bin/env python3
"""alertaspark benchmark: one run of one workload.

Usage (from the checkout root):
  python3 perfbench/run.py --workload cron|stream|ops --seed N \
      --seconds S --trace 0|1

Builds the program and harness (perfbench/build.py), generates the
run's inputs from the seed (perfbench/gen.py), runs the JVM harness
(perfbench/harness/BenchMain.scala) for S seconds of operations,
checks the outputs (perfbench/check.py) and prints, as its last
line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer
metrics (perfbench/layers.py) with --trace 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("cron", "stream", "ops")
SETUPS = 3
HEAP = "2g"
DEADLINE_S = 170.0
# the name each workload gives its operation time in the summary line
OP_METRIC = {"cron": "cron_tick_p50_s", "stream": "stream_drain_p50_s",
             "ops": "ops_total_s"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return 0, 0


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def jvm(classpath, sandbox, args, timeout):
    tmp = os.path.join(sandbox, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'log4j2.properties')}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(sandbox, 'warehouse')}",
           "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.BenchMain"] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    log_path = os.path.join(sandbox, "jvm.log")
    try:
        with open(log_path, "w") as log:
            subprocess.run(cmd, cwd=sandbox, env=env, stdout=log, stderr=log,
                           timeout=timeout, check=True)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        sys.exit(f"harness failed: {e}")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    root = os.getcwd()
    la0 = loadavg()
    nproc = os.cpu_count()

    phases = {}
    classpath = build.build(root)
    phases["build"] = time.monotonic() - started
    work = os.path.join(root, build.BUILD_DIR, "work")
    shutil.rmtree(work, ignore_errors=True)
    sandbox = os.path.join(work, f"{a.workload}-{a.seed}")
    desc = gen.generate(sandbox, a.workload, a.seed)
    with open(os.path.join(sandbox, "run.json"), "w") as f:
        json.dump(desc, f)

    phases["gen"] = time.monotonic() - started - sum(phases.values())
    steal0, total0 = cpu_ticks()
    jvm(classpath, sandbox,
        [a.workload, sandbox, str(a.seconds), str(a.trace), str(SETUPS)],
        timeout=DEADLINE_S - (time.monotonic() - started))
    with open(os.path.join(sandbox, "result.json")) as f:
        result = json.load(f)
    la1 = loadavg()
    steal1, total1 = cpu_ticks()
    # share of the VM's CPU time the host took while the JVM ran
    steal_pct = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
    phases["jvm"] = time.monotonic() - started - sum(phases.values())

    verdict = check.run(a.workload, sandbox, desc, result,
                        os.path.join(root, build.BUILD_DIR, "expect"))
    phases["check"] = time.monotonic() - started - sum(phases.values())
    attempted, failed = verdict["attempted"], verdict["failed"]
    # the first cron or stream operation is cold and counts only for
    # correctness
    timed = result["ops"] if a.workload == "ops" else result["ops"][1:]
    op_p50 = median([o["wall_s"] for o in timed])
    metrics = {
        "setup_s": (median(result["setup_s"]), "s"),
        "op_p50_s": (op_p50, "s"),
        "ok_share": (1.0 - failed / attempted, "share"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB"),
    }
    print(f"[perfbench] workload={a.workload} seed={a.seed} nproc={nproc} "
          f"loadavg {la0:.2f}->{la1:.2f} steal {steal_pct:.1f}% check={'ok' if verdict['correct'] else 'FAILED'}")
    for msg in verdict["messages"]:
        print(f"[perfbench] check: {msg}")
    print(f"[perfbench] {OP_METRIC[a.workload]}={op_p50:.4f} s (n={len(timed)}) "
          f"setup_s={metrics['setup_s'][0]:.4f} s "
          + (f"stream_events_per_s={sum(o['events'] for o in timed) / sum(o['wall_s'] for o in timed):.1f} 1/s "
             if a.workload == "stream" else "")
          + f"failed_share={failed / attempted:.4f} ({failed}/{attempted}) "
          f"peak_rss_mb={metrics['peak_rss_mb'][0]:.1f} MB")
    print("[perfbench] phases: " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items())
          + f" (in the JVM {result['jvm_s']:.1f}s: set-ups {sum(result['setup_s']):.1f}s, "
          f"operations {result['measured_s']:.1f}s)")
    for op in result["ops"]:
        print(f"[perfbench] {op['name']} {op['wall_s']:.3f} s {op.get('stdout', '')}")
        for q in op.get("queries", []):
            print(f"[perfbench]   {q['name']} {q['wall_s']:.3f} s")
    # a traced run's overhead is measured against the last untraced run
    last = os.path.join(root, build.BUILD_DIR, f"untraced-{a.workload}.json")
    if a.trace:
        untraced_p50 = None
        if os.path.exists(last):
            with open(last) as f:
                untraced_p50 = json.load(f)["op_p50_s"]
        metrics = layers.compute(sandbox, result, la0, la1, nproc, steal_pct,
                                 untraced_p50)
    else:
        with open(last, "w") as f:
            json.dump({"op_p50_s": op_p50}, f)
    print(json.dumps({
        "correct": verdict["correct"], "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
