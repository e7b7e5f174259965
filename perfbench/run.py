#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 perfbench/run.py --workload <daily_ingest|asv_scan> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call compiles the library's
sources together with the benchmark's (perfbench/build.sbt, an sbt build of
its own; the root build is not used) and caches the runtime classpath in
perfbench/.build; later calls reuse it until a source file changes. The
workload then runs in one JVM on local[N], N = the CPUs this process may
use, with its data under perfbench/.work, which is removed afterwards.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (every end-to-end metric of BENCHMARK.json with --trace 0, every
per-layer metric with --trace 1). The JVM is started directly, not through
`sbt run`, so its output carries no `[info] ` prefix and no `[success]`
trailer; the result line is still searched for defensively.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, ".build")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "classpath.txt")
RUN_TIMEOUT_S = 170

JAVA_OPTS = [
    # Spark on JDK 17 outside spark-submit, as in the root build.sbt
    *[a for p in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ] for a in ("--add-opens", p + "=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    # the root build's bench JVM settings: a fixed, pre-touched heap and
    # ParallelGC, which kept GC pauses out of the per-query jitter there
    "-XX:+UseParallelGC",
    "-XX:+AlwaysPreTouch",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    for top in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile once per source change; return the runtime classpath."""
    newest = max(os.path.getmtime(f) for f in source_files())
    if os.path.isfile(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= newest:
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    cps = [ln.removeprefix("[info] ").strip() for ln in lines
           if os.pathsep in ln and "classes" in ln]
    if not cps:
        fail("sbt printed no classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def heap():
    """A quarter of physical memory, between 2 and 4 GiB."""
    try:
        gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (4 << 30)
    except (OSError, ValueError):
        gb = 2
    return f"{min(4, max(2, gb))}g"


def result_line(stdout):
    for ln in reversed(stdout.splitlines()):
        ln = ln.removeprefix("[info] ").strip()
        if ln.startswith("{"):
            try:
                return json.loads(ln)
            except ValueError:
                continue
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["daily_ingest", "asv_scan"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"no library sources at {LIB_SRC}: run from the root of a graft checkout")
    cp = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp", *JAVA_OPTS,
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work, "--cpus", str(cpus)]
    try:
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    res = result_line(p.stdout)
    if p.returncode != 0 or res is None:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"{a.workload} exited {p.returncode} without a result")

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.isfile(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if want != got:
            fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
                 f"extra {sorted(set(got) - set(want))}, "
                 f"unit changes {sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
