"""Frontier benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt), packs the class
directories into jars and records a class-data-sharing archive of the
classes the workloads load, all under .bench_build/; later runs reuse
them while no source file has changed. The JVM runs the workload at
local[4] and prints its report; for curation_suite this script then
checks every query result against DuckDB. The last line of standard
output is the JSON result: every end-to-end metric of BENCHMARK.json with
--trace 0, every per-layer metric with --trace 1.

A traced run also prints a per-layer table, writes the spans as JSON lines
under .bench_build/trace/, reports the tracing overhead against the last
untraced run at the same seed, and compares its exact counts with the
last traced run at the same seed.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ARCHIVE = os.path.join(BUILD, "classes.jsa")
ARCHIVE_LIMIT_S = 240
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads from the checkout, sorted."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Returns the runtime classpath, building first if any source changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no engine sources next to the benchmark (expected build.sbt and src/main/scala)")
    os.makedirs(BUILD, exist_ok=True)
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath.json")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp):
            with open(stamp) as f:
                s = json.load(f)
            if s["digest"] == digest and all(os.path.exists(p) for p in s["classpath"]):
                return s["classpath"]
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline" not in opts:
            env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                text=True, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        classpath = lines[-1].strip().split(os.pathsep)
        if not any(c.endswith(os.path.join("perfbench", "target", "scala-2.13", "classes"))
                   for c in classpath):
            sys.stderr.write(p.stdout[-4000:])
            fail("build printed no classpath")
        classpath = jarred(classpath)
        archive_classes(classpath)
        with open(stamp, "w") as f:
            json.dump({"digest": digest, "classpath": classpath}, f)
        return classpath


def jarred(classpath):
    """The classpath with each class directory packed into a jar under
    .bench_build/jars/: a class-data-sharing archive accepts only jars."""
    out = []
    for i, entry in enumerate(classpath):
        if not os.path.isdir(entry):
            out.append(entry)
            continue
        jar = os.path.join(BUILD, "jars", f"{i}.jar")
        os.makedirs(os.path.dirname(jar), exist_ok=True)
        with zipfile.ZipFile(jar, "w") as z:
            for d, _, names in sorted(os.walk(entry)):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), entry))
        out.append(jar)
    return out


def archive_classes(classpath):
    """Records the classes the workloads load into a class-data-sharing
    archive (.bench_build/classes.jsa), once per build. A run's JVM maps
    them from it instead of loading them from the jars, which takes about
    8 s off each run's first set-up and warm-up on 4 vCPU. Without the
    archive a run still works, only slower."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "work-archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + JVM_OPTS + [f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                 "-cp", os.pathsep.join(classpath), "perfbench.Prepare", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    try:
        p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=ARCHIVE_LIMIT_S)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            print("perfbench: no class archive; runs load classes from the jars",
                  file=sys.stderr)
    except subprocess.TimeoutExpired:
        print("perfbench: the class archive timed out; runs load classes from the jars",
              file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(classpath, args, work, deadline):
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = ["java"] + JVM_OPTS + share + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                 "-cp", os.pathsep.join(classpath), "perfbench.Main",
                                 "--workload", args.workload, "--seed", str(args.seed),
                                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                                 "--work", work]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("the workload did not finish in time")
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)  # a failed run prints no result on stdout
        fail(f"the workload failed (exit code {proc.returncode})")
    for line in lines[:-1]:
        print(line)
    return json.loads(lines[-1])


def load(name):
    path = os.path.join(BUILD, "results", name + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def store(name, value):
    path = os.path.join(BUILD, "results", name + ".json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(value, f, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")

    classpath = build()
    deadline = max(deadline, time.time() + 150)  # a first build gets its own budget
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = run_jvm(classpath, args, work, deadline)
        failed = r["failed"]
        if args.workload == "curation_suite":
            sys.path.insert(0, HERE)
            import oracle_check
            verdicts = oracle_check.check(os.path.join(work, "curation", "data"),
                                          os.path.join(work, "curation", "out"))
            bad = sorted(n for n, v in verdicts.items() if not oracle_check.ok(v))
            for n in bad:
                print(f"curation_suite: oracle mismatch {n} {json.dumps(verdicts[n])}")
            print(f"curation_suite: oracle {len(verdicts) - len(bad)}/{len(verdicts)} "
                  "queries match DuckDB")
            # a query whose result is wrong fails in every timed pass
            failed += len(bad) * r["exact"]["passes"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = r["attempted"]
    print(f"{args.workload}: fail_frac {failed / max(1, attempted):.6f} "
          f"({failed} failed of {attempted} attempted)")
    key = f"{args.workload}-seed{args.seed}-s{args.seconds}"
    if args.trace:
        untraced = load(key + "-trace0")
        if untraced:
            for m in spec["end_to_end"]:
                n = m["name"]
                d = r["e2e"][n] - untraced[n]
                print(f"{args.workload}: tracing overhead {n} {d:+.6g} {m['unit']} "
                      f"({d / untraced[n]:+.1%} of untraced)")
        else:
            print(f"{args.workload}: tracing overhead: no untraced run at this seed yet")
        before = load(key + "-exact")
        store(key + "-exact", r["exact"])
        if before is None:
            print(f"{args.workload}: exact counts recorded for the next traced run")
        elif before == r["exact"]:
            print(f"{args.workload}: exact counts identical to the last traced run")
        else:
            diff = {k: (before.get(k), r["exact"].get(k))
                    for k in sorted(set(before) | set(r["exact"]))
                    if before.get(k) != r["exact"].get(k)}
            print(f"{args.workload}: EXACT COUNTS DIFFER from the last traced run: {diff}")
        chosen = {m["name"]: {"value": r["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                  for m in spec["per_layer"]}
    else:
        store(key + "-trace0", r["e2e"])
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in r["e2e"]]
        if missing:
            fail(f"the workload reported no {missing}")
        chosen = {m["name"]: {"value": r["e2e"][m["name"]], "unit": m["unit"]}
                  for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": chosen}))


if __name__ == "__main__":
    main()
