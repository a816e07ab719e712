#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source (`perfbench/build.sbt`, sbt offline) and writes the fixed
sf0.1 input tables; later runs reuse both while the sources are unchanged.
Everything a run writes stays under `perfbench/.work/`.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the `end_to_end` metrics of BENCHMARK.json, with `--trace 1` its
`per_layer` metrics. The line before it is the harness's full run record
(host, passes, op-tail quantile, failures). The exit code is 0 only when a
result was printed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 850        # the first run in a checkout may take 900 s
HEAP = "2g"
WORKLOADS = ("analytics_sf01", "corpus_sf01", "etl_daily")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """The Spark installation the program builds and runs on: $SPARK_HOME,
    else the one whose spark-submit is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    return home


def cores():
    return len(os.sched_getaffinity(0))


def source_stamp():
    """Hash of every file the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, limit, env=None, stdout=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout or sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        log(f"timeout after {limit:.0f} s: {' '.join(cmd[:3])} ...")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile when the sources changed. Returns None on failure, else
    whether it compiled."""
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return False
    log("building program and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.forcestart=false", "compile"],
                   HERE, BUILD_LIMIT_S, env)
    if rc != 0:
        log(f"build failed (rc={rc})")
        return None
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def java(args, limit, stdout=None):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap: heap growth and first-touch page faults
    # would otherwise land in the first timed passes
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")] +
           opens +
           ["-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*",
            "perfbench.Harness"] + args)
    return run_child(cmd, ROOT, limit, stdout=stdout)


def ensure_tables(limit):
    """Write the fixed input tables once per checkout. Returns None on
    failure, else whether it wrote them."""
    data = os.path.join(WORK, "sf01")
    done = os.path.join(data, "_complete")
    if os.path.exists(done):
        return False
    log("writing the sf0.1 input tables")
    shutil.rmtree(data, ignore_errors=True)
    rc = java(["gen", "--cores", str(cores()), "--work", WORK, "--data", data],
              limit)
    if rc != 0:
        return None
    open(done, "w").close()
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    t_start = time.time()
    if a.workload not in WORKLOADS:
        log(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}")
        return 2
    if not spark_home():
        log("no Spark installation: set SPARK_HOME")
        return 2
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no program sources under {ROOT}/src/main/scala; run from a checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    built = build()
    if built is None:
        return 1
    wrote = ensure_tables(BUILD_LIMIT_S - (time.time() - t_start))
    if wrote is None:
        log("input table generation failed")
        return 1
    data = os.path.join(WORK, "sf01")
    # a run that built may use the first run's longer allowance
    deadline = t_start + (BUILD_LIMIT_S if built or wrote else RUN_LIMIT_S)

    # seeded inputs of the ETL workload (part of set-up time)
    inputgen_s = 0.0
    if a.workload == "etl_daily":
        sys.path.insert(0, HERE)
        import etlgen
        out = os.path.join(WORK, "etl-input")
        t0 = time.perf_counter()
        shutil.rmtree(out, ignore_errors=True)
        etlgen.generate(a.seed, out)
        inputgen_s = time.perf_counter() - t0

    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    rec_path = os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    if os.path.exists(rec_path):
        os.remove(rec_path)
    for d in ("spark-local", "warehouse", "etl-run", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    rc = java(["run", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", a.trace,
               "--cores", str(cores()), "--bench", HERE, "--work", WORK,
               "--data", data, "--inputgen-s", repr(inputgen_s),
               "--out", rec_path],
              max(1, deadline - time.time()))
    if rc != 0 or not os.path.exists(rec_path):
        log(f"harness failed (rc={rc}); no result")
        return 1
    with open(rec_path) as f:
        rec = json.load(f)

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = rec["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            log(f"metric {m['name']} missing or not finite: {v}")
            return 1
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps(rec, sort_keys=True))
    print(json.dumps({"correct": bool(rec["correct"]) and rec["failed"] == 0,
                      "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
