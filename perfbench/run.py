#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload ops_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt and keeps the classpath under perfbench/.work; later
runs start the JVM from it directly. --trace 1 reports the per-layer
metrics instead of the end-to-end ones. The sf0.1 tables are read from
$SPARK_GRAFT_SF_DIR, as graft.Bench reads them (default ~/testdata/sf0.1).
"""
import argparse
import glob
import hashlib
import json
import os
import random
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
EXPECTED = os.path.join(HERE, "expected", "expected.json")
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("ops_pipeline", "sql_lab", "estimator")
DATA = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
JVM_TIMEOUT_S = 165
# A fixed heap and young generation: with adaptive sizing the peak RSS of
# identical runs spread by a quarter, with these by a few percent.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
# The sql_lab sample: PER_STRATUM queries from each runtime stratum of
# the pool (reference buckets 0-2, 3-5 and 6-8), chosen with this fixed
# seed and labelled in this order in every run.
SAMPLE_SEED = 17
PER_STRATUM = 2
STRATA = ((0, 1, 2), (3, 4, 5), (6, 7, 8))

# Spark on JDK 17 needs these when a session is built outside spark-submit
# (the list of org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, relative to the repository root."""
    pats = ["build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
            "src/main/**/*",
            "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
            "perfbench/harness/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True) if os.path.isfile(f))
    return sorted(os.path.relpath(f, ROOT) for f in files)


def classpath():
    """The harness classpath, built with sbt once per source state."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not here")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    cp_file = os.path.join(WORK, "build", h.hexdigest()[:16] + ".classpath")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                           f"{repos} -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export harness/Runtime/fullClasspath"],
                          cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(args, out):
    """Run the harness main with `args`; its result is written to `out`."""
    cp = classpath()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *HEAP, f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.level=ERROR", "-cp", cp, "perfbench.Main",
        "--root", ROOT, "--data", DATA, "--cores", str(cores()), "--out", out] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    rc = None
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        # also on SIGTERM (SystemExit, see main): the JVM must not outlive the run
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc is None:
        fail(f"the harness did not finish within {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.isfile(out):
        fail(f"the harness exited with code {rc}")


def load_expected():
    if not os.path.isfile(EXPECTED):
        fail("no expected results: run python3 perfbench/expected.py")
    with open(EXPECTED) as fh:
        return json.load(fh)


def lab_pool(expected):
    """The pool's queries by bucket, in id order."""
    pool = {}
    for qid, e in sorted(expected["entries"].items()):
        if qid.startswith("band:"):
            pool.setdefault(e["bucket"], []).append(e)
    return pool


def lab_sample(pool, sample_seed=SAMPLE_SEED):
    """The sql_lab sample, light stratum first."""
    rng = random.Random(sample_seed)
    return [e for stratum in STRATA
            for e in rng.sample([e for b in stratum for e in pool.get(b, [])], PER_STRATUM)]


def check_outputs(path, expected):
    """(number of outputs, failed, wrong) against the DuckDB results."""
    import oracle
    entries = expected["entries"]
    n = failed = wrong = 0
    seen = set()
    with open(path) as fh:
        for line in fh:
            o = json.loads(line)
            n += 1
            e = entries.get(o["id"])
            why = None
            if e is None:
                why, bad = "has no expected result", False
            elif e["sql_sha"] != o["sql_sha"] or expected["fingerprint"] != o["fingerprint"]:
                why, bad = "has a stale expected result (run perfbench/expected.py)", False
            else:
                why, bad = oracle.compare(e["summary"], o["summary"]), True
            if why is not None:
                failed += 1
                wrong += bad
                if o["id"] not in seen:
                    print(f"[perfbench] {o['id']} {why}", file=sys.stderr)
                    seen.add(o["id"])
    return n, failed, wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    if not os.path.isfile(BENCHMARK):
        fail("no BENCHMARK.json at the repository root")
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    if not os.path.isdir(DATA):
        fail(f"no tables at {DATA}")
    expected = load_expected()
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    out = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}.json")
    for f in glob.glob(out + "*"):
        os.remove(f)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.workload == "sql_lab":
        sample = out + ".sample.tsv"
        with open(sample, "w") as fh:
            for e in lab_sample(lab_pool(expected)):
                fh.write(f"{e['seconds']}\t{e['sql']}\n")
        args += ["--sample", sample]
    jvm(args, out)
    with open(out) as fh:
        res = json.load(fh)
    _, failed, wrong = check_outputs(out + ".outputs.jsonl", expected)
    names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    if sorted(names) != sorted(res["metrics"]):
        fail(f"the run emitted {sorted(res['metrics'])}, BENCHMARK.json names {sorted(names)}")
    result = {"correct": bool(res["correct"]) and wrong == 0,
              "attempted": int(res["attempted"]),
              "failed": int(res["failed"]) + failed,
              "metrics": res["metrics"]}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
