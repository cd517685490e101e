#!/usr/bin/env python3
"""Benchmark driver for whiteboxtoolsspark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 8 --trace 0

Builds the benchmark (its own sbt project in perfbench/, which compiles the
repository's main sources with the benchmark's) when the sources changed,
then runs one workload in a fresh JVM. The JVM prints a record line and, as
the last line, the JSON result. Everything the run writes goes under
.bench_data/ in the working directory; the sbt build writes under
perfbench/target and perfbench/project.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ["flagship", "headline"]
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
HEAP = "2g"


def sources_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, REPO).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamped build matches the sources.
    Returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "runtime-classpath.txt")
    stamp_file = os.path.join(target, "sources.sha256")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def check_result(line, trace):
    """The result line must carry exactly the metrics BENCHMARK.json names."""
    res = json.loads(line)
    spec_file = os.path.join(REPO, "BENCHMARK.json")
    if os.path.exists(spec_file):
        with open(spec_file) as f:
            spec = json.load(f)
        want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            sys.exit(f"perfbench: metrics differ from BENCHMARK.json: "
                     f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                     f"units {sorted(k for k in want if k in got and got[k] != want[k])}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--record", action="store_true",
                    help="print the result digests of the checked queries")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the repository's sources (src/main/scala/graft) are not here")
    classpath = build()

    data = os.path.join(os.getcwd(), ".bench_data")
    tmp = os.path.join(data, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--fixtures", os.path.join(HERE, "fixtures")] +
           (["--record"] if a.record else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run exceeded 170 s")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: benchmark JVM exited with {proc.returncode}")
    check_result(lines[-1], a.trace == "1")
    print(lines[-1])


if __name__ == "__main__":
    main()
