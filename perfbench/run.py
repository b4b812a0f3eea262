#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload enriched_backlog --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Builds the loader and the harness from
source on first use (sbt, offline), runs one workload in a fresh JVM and
prints, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (see BENCHMARK.json).
The full artifact of each run, spans included for traced runs, is kept
under `.bench_out/`. Everything the run writes stays inside the checkout.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
DEADLINE_S = 175
HEAP = "3g"

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """The Spark installation whose jars the loader builds and runs
    against: $SPARK_HOME, else the one whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return home


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile if the sources changed since the last build; True if it did."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return False
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]))
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], 850,
                   cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        fail(f"build failed (exit {rc})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def main():
    # a terminated run still stops its JVM (run_group's cleanup runs on exit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["enriched_backlog", "query_sweep"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "BENCHMARK.json")]:
        if not os.path.exists(need):
            fail(f"run from the root of a checkout: {os.path.relpath(need, ROOT)} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    start = time.time()
    deadline = start + (850 if build() else DEADLINE_S)

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=256m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--bench", BENCH, "--result", result]
    try:
        rc = run_group(cmd, max(10.0, deadline - time.time()), cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr)
        if rc != 0 or not os.path.isfile(result):
            fail(f"workload run failed (exit {rc})", 4)
        with open(result) as f:
            art = json.load(f)
        metrics = fill_metrics(art, wanted, a.trace)
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(art, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    line = {"correct": bool(art["correct"]), "attempted": int(art["attempted"]),
            "failed": int(art["failed"]), "metrics": metrics}
    print(json.dumps(line))


def fill_metrics(art, wanted, trace):
    """Name and unit every metric as BENCHMARK.json does. An end-to-end
    metric the run did not report is an error; a per-layer metric of a
    layer the workload does not exercise reads 0 and is listed in the
    artifact under `not_exercised`."""
    got = art["metrics"]
    names = [m["name"] for m in wanted]
    unknown = sorted(set(got) - set(names))
    missing = [n for n in names if n not in got]
    if unknown or (missing and not trace):
        fail(f"metrics differ from BENCHMARK.json: unknown {unknown}, missing {missing}", 5)
    bad = [n for n, v in got.items() if not isinstance(v, (int, float)) or v != v]
    if bad:
        fail(f"metrics without a numeric value: {bad}", 5)
    art["not_exercised"] = missing
    art["metrics"] = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                      for m in wanted}
    return art["metrics"]


if __name__ == "__main__":
    main()
