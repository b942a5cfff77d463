#!/usr/bin/env python3
"""The repository benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload stream-replay --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --list      # every metric with its unit

It builds the engine and the benchmark driver from source (sbt, offline;
skipped when the sources are unchanged since the last build), derives the
workload's inputs from the seed, runs one benchmark JVM, applies the DuckDB
oracle gate to every query's output, and prints one JSON line last:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. A human-readable table goes to stderr.
Everything it writes stays under perfbench/.work/ in the checkout.
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

import geninput
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(BENCH, ".work")
DATA = os.path.join(BENCH, "data", "sf0.1")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
WORKLOADS = ["stream-replay", "stream-replay-10x", "analytics", "mixed"]
# Copies of events + customer the seeded generator writes, per workload;
# analytics reads the shipped sf0.1 tables as they are.
COPIES = {"stream-replay": 1, "stream-replay-10x": 10, "mixed": 1}
DEADLINE_S = 175
BUILD_DEADLINE_S = 850
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home():
    """$SPARK_HOME, else the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found: set SPARK_HOME")
    return home


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json not found: run from the root of a checkout")
    with open(path) as f:
        return json.load(f)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group if it
    outlives the timeout or this process is told to stop. Returns the exit
    code (None on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(started):
    """Compile engine + driver with sbt unless the sources are unchanged."""
    stamp = source_stamp()
    stamp_file = os.path.join(BENCH, "target", "perfbench.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return stamp, False
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g"
        + (" -Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
           if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else ""))
    os.makedirs(WORK, exist_ok=True)
    build_log = os.path.join(WORK, "build.log")
    log("building engine + driver (sbt compile)")
    with open(build_log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       BUILD_DEADLINE_S - (time.time() - started),
                       cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(build_log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (exit {rc})")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp, True


def commit_id(stamp):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "src-" + stamp[:12]


def driver_mem():
    """Half the machine's memory, clamped to [2, 8] GiB (the test-suite rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def prepare_data(workload, seed, run_dir):
    """Input tables for the workload: the shipped sf0.1 set, or events and
    customer from the seeded generator with the other tables copied beside
    them."""
    copies = COPIES.get(workload)
    if copies is None:
        return DATA
    out = os.path.join(run_dir, "data")
    digest = geninput.generate(DATA, out, seed, copies)
    bad = geninput.problems(out)
    if bad:
        die("generated input violates: " + "; ".join(bad))
    for name in os.listdir(DATA):
        if name not in ("events.parquet", "customer.parquet"):
            shutil.copyfile(os.path.join(DATA, name), os.path.join(out, name))
    log(f"input generated for seed {seed} ({copies}x): {digest}")
    return out


def run_jvm(args, data, run_dir, commit, started):
    cores = str(os.cpu_count() or 1)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores, SPARK_LOCAL_DIRS=local)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{driver_mem()}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--out", os.path.join(run_dir, "out"),
              "--commit", commit])
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as out:
        rc = run_group(cmd, DEADLINE_S - 15 - (time.time() - started),
                       cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-4000:])
        die("benchmark JVM timed out" if rc is None else f"benchmark JVM failed (exit {rc})")
    with open(os.path.join(run_dir, "out", "result.json")) as f:
        return json.load(f)


def list_metrics(s):
    for kind in ("end_to_end", "per_layer"):
        for m in s[kind]:
            print(f"{kind:<10}  {m['name']:<40} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--list", action="store_true", help="print every metric and its unit")
    args = ap.parse_args()
    started = time.time()
    s = spec()
    if args.list:
        list_metrics(s)
        return
    if not args.workload:
        die("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources (src/main/scala) not found: run from the root of a checkout")
    spark_home()

    stamp, built = build(started)
    if built:  # the build had its own deadline; the run gets the usual one
        started = time.time()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data = prepare_data(args.workload, args.seed, run_dir)
    res = run_jvm(args, data, run_dir, commit_id(stamp), started)

    verdicts = oracle.check(data, os.path.join(run_dir, "out", "outputs"), res["outputs"])
    errors = dict(res["errors"])
    errors.update({f"{q}@oracle": v for q, v in verdicts.items() if v != "OK"})
    attempted = res["attempted"]
    failed = res["failed"] + sum(v != "OK" for v in verdicts.values())
    for k, v in sorted(errors.items()):
        log(f"FAILED {k}: {v}")

    values = dict(res["per_layer"] if args.trace else res["end_to_end"])
    values["run.failed_frac"] = failed / attempted
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in s[kind]:
        if m["name"] not in values:
            die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    for name, v in metrics.items():
        log(f"{name:<40} {v['value']:>14.4f} {v['unit']}")
    ctx = res["context"]
    log(f"context: nproc={ctx['start']['nproc']} commit={ctx['start']['commit']} "
        f"heap_max_mb={ctx['start']['heap_max_mb']:.0f} canary_s="
        f"{ctx['start']['canary_s']:.3f}->{ctx['end']['canary_s']:.3f}")

    keep = os.path.join(WORK, f"{args.workload}-trace{args.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for name in ("result.json", "trace.json"):
        shutil.copyfile(os.path.join(run_dir, "out", name), os.path.join(keep, name))
    with open(os.path.join(keep, "oracle.json"), "w") as f:
        json.dump(verdicts, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
