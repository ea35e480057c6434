#!/usr/bin/env python3
"""Linking-pipeline benchmark.

    python3 linkbench/run.py --workload pipeline_residue --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The script builds the program and the
benchmark from source (sbt, offline) when their sources changed, generates
the workloads' input pools in a separate JVM when they are missing (once per
build), samples the seed's input from its workload's pool (pyarrow), then
runs one measuring JVM. Everything it writes goes under .bench_build/linkbench/.
The last line of standard output is the result object; a run whose outputs
are wrong prints it with "correct": false and exits 1, and a run that cannot
produce a result prints none and exits 2.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

try:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
except ImportError:
    pa = None

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "linkbench")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main")
WORKLOADS = ("pipeline_dup", "pipeline_residue", "pair_scoring")
# the pools the first run of a build generates, whichever workload it runs,
# so that no later run pays for a pool
PREPARED_TOGETHER = ("pipeline_residue", "pair_scoring")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 175
PREPARE_TIMEOUT_S = 600
MASK64 = (1 << 64) - 1
SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"
HEAP = "3g"
YOUNG = "768m"

# Spark on JDK 17 outside spark-submit needs these (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("linkbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    for base in (PROGRAM_SOURCES, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build_stamp():
    h = hashlib.sha256(ROOT.encode())
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = build_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    sbt = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline")
    try:
        r = subprocess.run(sbt + ["compile", "writeClasspath"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    # pools and inputs come from the program's synthesizer: a new build
    # makes them again
    for d in ("pools", "inputs"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def java_cmd(classpath, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # fixed generation sizes, a small eden and survivors as large as eden:
    # young collections come often and job data dies young instead of being
    # promoted early, so the occupancy after each collection samples the
    # live data densely rather than the collector's sizing choices
    return (["java", "-cp", classpath, "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG,
             "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-XX:SurvivorRatio=1",
             "-XX:InitialTenuringThreshold=15", "-XX:MaxTenuringThreshold=15",
             "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
            + opens + ["linkbench.Main"] + args)


def splitmix64(seed, conv):
    z = (seed ^ (conv * 0x9E3779B97F4A7C15)) & MASK64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return z ^ (z >> 31)


def sample(pool, out, seed):
    """Write the seed's input: the pool's conversations with the smallest
    splitmix64(seed, conversation), input and gold rows alike, in the
    pool's Spark schema without the `_conv` tag."""
    with open(os.path.join(pool, "_READY")) as f:
        card = json.load(f)
    s = seed & MASK64
    picked = sorted(sorted(range(card["pool_convs"]), key=lambda c: splitmix64(s, c))[:card["convs"]])
    picked = pa.array(picked, pa.int64())
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for name in ("input", "gold"):
        t = pq.read_table(os.path.join(pool, name))
        t = t.filter(pc.is_in(t["_conv"], value_set=picked))
        order = "turn_idx" if "turn_idx" in t.column_names else "mention_id"
        t = t.sort_by([("_conv", "ascending"), (order, "ascending")]).drop(["_conv"])
        meta = dict(t.schema.metadata or {})
        if SPARK_SCHEMA in meta:
            schema = json.loads(meta[SPARK_SCHEMA])
            schema["fields"] = [x for x in schema["fields"] if x["name"] != "_conv"]
            meta[SPARK_SCHEMA] = json.dumps(schema).encode()
        t = t.replace_schema_metadata(meta)
        os.makedirs(os.path.join(tmp, name))
        n, k = t.num_rows, card["files"]
        for i in range(k):
            lo, hi = i * n // k, (i + 1) * n // k
            # INT96 timestamps, as Spark writes them
            pq.write_table(t.slice(lo, hi - lo), os.path.join(tmp, name, "part-%05d.parquet" % i),
                           compression="snappy", use_deprecated_int96_timestamps=True)
    with open(os.path.join(tmp, "_READY"), "w") as f:
        json.dump(dict(card, seed=seed), f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def run_jvm(cmd, deadline, capture):
    """Run one JVM to completion or kill it at the deadline."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
                         stderr=subprocess.PIPE)
    try:
        out, err = p.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.communicate()
        fail("run exceeded its time budget: " + " ".join(cmd[-8:]))
    return p.returncode, (out or b"").decode(errors="replace"), err.decode(errors="replace")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(PROGRAM_SOURCES, "resources", "pkel", "pk_kb.csv")) \
            or not os.path.isdir(os.path.join(PROGRAM_SOURCES, "scala", "pkel")):
        fail("program sources not found under src/main; run from the root of a checkout")

    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name the Spark installation to build against")

    if pa is None:
        fail("python3 needs pyarrow to sample the inputs")

    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    # leftovers of a killed run
    for d in ("runs", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    pools = os.path.join(WORK, "pools")
    missing = [w for w in dict.fromkeys(PREPARED_TOGETHER + (a.workload,))
               if not os.path.exists(os.path.join(pools, w, "_READY"))]
    if missing:
        code, _, err = run_jvm(java_cmd(classpath, [
            "--prepare", "--workloads", ",".join(missing), "--work", WORK]),
            time.time() + PREPARE_TIMEOUT_S, False)
        if code != 0:
            sys.stderr.write(err[-4000:])
            fail("input preparation failed")
    deadline = time.time() + RUN_BUDGET_S
    input_dir = os.path.join(WORK, "inputs", "%s-s%d" % (a.workload, a.seed))
    if not os.path.exists(os.path.join(input_dir, "_READY")):
        sample(os.path.join(pools, a.workload), input_dir, a.seed)

    launched_ms = int(time.time() * 1000)
    code, out, err = run_jvm(java_cmd(classpath, [
        "--workload", a.workload, "--seed", str(a.seed), "--input", input_dir, "--work", WORK,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--expected", os.path.join(HERE, "expected.json"),
        "--launched-ms", str(launched_ms)]), deadline, True)
    for d in ("runs", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    lines = [x for x in out.splitlines() if x.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stderr.write(err[-4000:])
        fail("the measuring JVM printed no result (exit code %d)" % code)
    sys.stderr.write("".join(l + "\n" for l in err.splitlines() if l.startswith("linkbench")))
    for x in lines[:-1]:
        print(x)
    print(json.dumps(result))
    sys.stdout.flush()
    if code != 0 or not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
