#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

The first run compiles the engine and the harness from source with the
Scala compiler in Spark's jars; later runs reuse the build until a source
file changes. Each run gets a fresh temporary directory inside the checkout
for java.io.tmpdir, SPARK_LOCAL_DIRS and the SQL warehouse, deleted
afterwards. Reports go to
perfbench/.work/results/<workload>-seed<n>-trace<t>/ (report.json, and
spans.jsonl for a traced run). The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "build.stamp")
CONFIG = os.path.join(HERE, "workloads.json")
DIGESTS = os.path.join(HERE, "digests_sf0.1.tsv")
DATA = os.path.join(HERE, "data", "sf0.1")
SOURCES = [os.path.join("src", "main", "scala"),
           os.path.join("perfbench", "src", "main", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
# As in build.sbt: Spark, and the Scala compiler and library, ship with
# the image.
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME") or "/opt/spark", "jars")

BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")

# Matches org.apache.spark.launcher.JavaModuleOptions, as in build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if os.path.isfile(exe) else "java"


def scala_sources():
    return sorted(os.path.join(d, f)
                  for rel in SOURCES for d, _, fs in os.walk(os.path.join(ROOT, rel))
                  for f in fs if f.endswith(".scala"))


def build():
    """Compile engine and harness unless the build is current.

    Calls the Scala compiler that ships in Spark's jars directly, rather
    than sbt: sbt needs a writable ~/.sbt and ~/.cache, and a run writes
    only inside its checkout. build.sbt describes the same package for
    working on the harness with sbt.
    """
    sources = scala_sources()
    listing = "\n".join(sources) + "\n"
    if (os.path.exists(STAMP) and os.path.isdir(CLASSES) and
            os.path.getmtime(STAMP) > max(map(os.path.getmtime, sources))):
        with open(STAMP) as f:
            if f.read() == listing:
                return
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail(f"no scala-compiler jar in {SPARK_JARS}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp = os.path.join(WORK, "build-tmp")
    os.makedirs(tmp, exist_ok=True)
    out = CLASSES + ".partial"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(WORK, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-d", out, "-classpath", ":".join(jars),
                           "-nowarn"] + sources) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "@" + args_file]
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=WORK, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=600)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write("\n".join(proc.stdout.splitlines()[-40:]) + "\n")
        fail("build failed")
    os.rename(out, CLASSES)
    with open(STAMP, "w") as f:
        f.write(listing)
    print(f"perfbench: built {len(sources)} sources in {time.time() - t0:.0f} s",
          file=sys.stderr)


def heap_size():
    """Half the machine's memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_harness(args, out_dir, record=False):
    run_dir = os.path.join(WORK, "runs", uuid.uuid4().hex[:12])
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    classpath = ":".join([CLASSES, RESOURCES]
                         + sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
    cmd = ([java()]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-XX:-UsePerfData",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}",
              f"-Xmx{heap_size()}", "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--config", CONFIG, "--data", DATA, "--digests", DIGESTS,
              "--out", os.path.join(out_dir, "report.json")]
           + (["--record", "1"] if record else []))
    log_path = os.path.join(out_dir, "jvm.log")
    proc = None
    code = -9
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                    stdin=subprocess.DEVNULL, stdout=log,
                                    stderr=subprocess.STDOUT)
            code = proc.wait(timeout=900 if record else 170)
    except subprocess.TimeoutExpired:
        pass
    finally:
        # Also reached on SIGTERM (see main): never leave the JVM behind.
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(log_path) as f:
        lines = f.readlines()
    sys.stderr.writelines(l for l in lines if l.startswith("[perfbench]"))
    if code != 0:
        sys.stderr.writelines(lines[-40:])
        fail(f"harness exited with {code}; see {log_path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="record the output digests of every workload key")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for rel in ("BENCHMARK.json",
                os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found in the checkout")
    with open(CONFIG) as f:
        workloads = json.load(f)["workloads"]
    if not args.record_digests and args.workload not in workloads:
        fail(f"unknown workload {args.workload!r}; have {sorted(workloads)}")

    build()
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out_dir = os.path.join(WORK, "results", name)
    os.makedirs(out_dir, exist_ok=True)
    run_harness(args, out_dir, record=args.record_digests)
    if args.record_digests:
        print(f"perfbench: recorded {DIGESTS}", file=sys.stderr)
        return

    with open(os.path.join(out_dir, "report.json")) as f:
        report = json.load(f)
    # The run reports every metric in report.json; the result line carries
    # the ones BENCHMARK.json lists, with its units.
    measured = report["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
               for m in listed_metrics(args.trace)}
    print(f"workload {args.workload}: {report['keys']} keys, seed {args.seed}, "
          f"{report['cpus']} cpus, {len(report['measured_passes'])} measured "
          f"passes, {report['query_samples']} query samples, tail = "
          f"p{report['query_tail_percentile']:.1f}, failed_frac = "
          f"{report['failed_frac']:.4f} ({report['failed']}/"
          f"{report['attempted']})")
    samples = report["end_to_end_samples"]
    for k, m in metrics.items():
        n = f"  n={samples[k]}" if k in samples else ""
        print(f"  {k:34s} {m['value']:>16.4f} {m['unit']:6s}{n}")
    print(json.dumps({"correct": report["failed"] == 0,
                      "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))


def listed_metrics(trace):
    with open(BENCHMARK) as f:
        return json.load(f)["per_layer" if trace else "end_to_end"]


if __name__ == "__main__":
    main()
