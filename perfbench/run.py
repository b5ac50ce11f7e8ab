#!/usr/bin/env python3
"""Benchmark of the ride-event pipeline and the oracle-gated batch queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run builds the harness together
with the program's sources (sbt, offline) and checks every batch query's
result against its DuckDB oracle with tools/check.py; later runs reuse both
until a source file changes. Each run starts one JVM (`local[k]`, k = the
CPUs this process may use), measures one workload and prints, as its last
line, one JSON object: correct, attempted, failed, and the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json. A traced run also measures the tracing overhead against an
untraced pass of the same seed. Artifacts (result.json, spans.jsonl, the
JVM log) go under .bench_build/perfbench/. Exits non-zero without a result
line if the program's sources are missing or the build fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
SELF_TEST_SF_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_TIMEOUT_S = 170
# Layers a workload does not run through; their per-layer metrics read 0.
NOT_EXERCISED = {"batch_interactive": ("ingest.", "metrics.", "streaming.", "sources.", "sink.")}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, log=None):
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def source_hash():
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
        + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def cpus():
    return len(os.sched_getaffinity(0))


def spark_home():
    """SPARK_HOME, or the distribution that holds `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        fail("no Spark distribution: set SPARK_HOME")
    return home


def java(args, log, timeout):
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cp = ":".join([CLASSES] + sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar"))))
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
            f"-Dderby.system.home={OUT}",
            f"-Dderby.stream.error.file={os.path.join(OUT, 'derby.log')}"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    with open(log, "w") as out:
        try:
            p = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"JVM run timed out after {timeout} s", log)
    if p.returncode != 0:
        fail(f"JVM run failed with exit code {p.returncode}", log)


def oracle_verdicts(digest):
    """Per-query oracle verdicts for the batch queries, computed once per
    program source: every query's sf result is written by the JVM and
    compared with its DuckDB oracle SQL by tools/check.py."""
    path = os.path.join(OUT, f"oracle-{digest}.json")
    if not os.path.exists(path):
        work = os.path.join(OUT, "oracle-run")
        shutil.rmtree(work, ignore_errors=True)
        java(["--workload", "oracle_dump", "--seed", "0", "--seconds", "0", "--trace", "0",
              "--cpus", str(cpus()), "--out", work, "--sf", SF_DIR],
             os.path.join(OUT, "oracle-jvm.log"), 900)
        verdict = os.path.join(work, "check.json")
        with open(os.path.join(OUT, "oracle-check.log"), "w") as log:
            subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), SF_DIR,
                            os.path.join(work, "oracle"), "--json", verdict],
                           stdout=log, stderr=subprocess.STDOUT, cwd=work, timeout=900)
        if not os.path.exists(verdict):
            fail("oracle check wrote no verdict", os.path.join(OUT, "oracle-check.log"))
        with open(verdict) as f:
            queries = json.load(f)["queries"]
        with open(os.path.join(work, "result.json")) as f:
            produced_failures = {x["op"] for x in json.load(f)["failures"]}
        ok = {q: bool(r["hash_match"]) and q not in produced_failures
              for q, r in queries.items()}
        with open(path, "w") as f:
            json.dump(ok, f, indent=1, sort_keys=True)
        shutil.rmtree(work, ignore_errors=True)
    with open(path) as f:
        return json.load(f)


def build():
    """Compile the harness with the program's sources, once per source
    state, then take the oracle verdicts for that state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this directory")
    os.makedirs(OUT, exist_ok=True)
    digest = source_hash()
    stamp = os.path.join(OUT, "build.stamp")
    built = os.path.exists(stamp) and open(stamp).read() == digest
    if not built:
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(OUT, "build.log")
        with open(log, "w") as out:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                               cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=840)
        if p.returncode != 0:
            fail("build failed", log)
        with open(stamp, "w") as f:
            f.write(digest)
    return digest


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(workload, seed, seconds, trace):
    out = os.path.join(OUT, "runs", f"{workload}-{seed}-{'traced' if trace else 'plain'}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    java(["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
          "--trace", str(trace), "--cpus", str(cpus()), "--out", out, "--sf", SF_DIR],
         os.path.join(out, "jvm.log"), RUN_TIMEOUT_S)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    # Staged inputs and Spark scratch are large; the artifact is what stays.
    for d in glob.glob(os.path.join(out, "*")):
        if os.path.isdir(d):
            shutil.rmtree(d, ignore_errors=True)
    return res, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    spec = load_spec()
    digest = build()

    if a.self_test:
        out = os.path.join(OUT, "self-test")
        shutil.rmtree(out, ignore_errors=True)
        java(["--workload", "self_test", "--seed", "1", "--seconds", "1", "--trace", "1",
              "--cpus", str(cpus()), "--out", out, "--sf", SELF_TEST_SF_DIR],
             os.path.join(out + ".log"), RUN_TIMEOUT_S)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        with open(out + ".log") as f:
            sys.stdout.write("".join(l for l in f if l.startswith("[self-test]")))
        ok = res["wrong_results"] == 0
        print(json.dumps({"self_test": "ok" if ok else "FAIL", "attempted": res["attempted"],
                          "failed": res["failed"], "failures": res["failures"]}))
        sys.exit(0 if ok else 1)

    verdicts = oracle_verdicts(digest)
    res, out = run_workload(a.workload, a.seed, a.seconds, a.trace)
    m = dict(res["metrics"])
    wrong = res["wrong_results"]
    if a.workload == "batch_interactive":
        wrong += sum(1 for q in res["detail"]["order"] if not verdicts.get(q, False))

    if a.trace and "trace.overhead_pct" not in m:
        # The workload could not make an untraced pass in its own session
        # (a second pass of each batch query would run warm), so the
        # untraced run of the same seed and build runs right after it.
        base, _ = run_workload(a.workload, a.seed, a.seconds, 0)
        if "work_s" in m and "work_s" in base["metrics"]:
            m["trace.overhead_pct"] = 100.0 * (m["work_s"] / base["metrics"]["work_s"] - 1.0)

    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    if a.trace:
        for x in listed:
            if x["name"].startswith(NOT_EXERCISED.get(a.workload, ())):
                m.setdefault(x["name"], 0.0)
    missing = [x["name"] for x in listed if x["name"] not in m]
    if missing:
        fail(f"the run did not measure {missing}")
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(dict(res, wrong_results=wrong, metrics=m), f, indent=1, sort_keys=True)
    print(json.dumps({
        "correct": wrong == 0 and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {x["name"]: {"value": m[x["name"]], "unit": x["unit"]} for x in listed},
    }))


if __name__ == "__main__":
    main()
