#!/usr/bin/env python3
"""Build graft and the benchmark from source, run one workload in a fresh
JVM, check its result and print it.

    python3 perfbench/run.py --workload graph_serve --seed 1 --seconds 20 --trace 0

The last line of stdout is the JSON result of the run. The build (a jar of
program + benchmark and a class-data archive trained on it) goes to
perfbench/.build and is reused while the sources are unchanged; each run
works in its own directory under perfbench/.work, removed when it ends.
Outputs the benchmark cannot derive itself are checked against the values
perfbench/expect.json records for the seed. Extra flags: --plant K (feed
the K-th measured op a wrong answer), --trace-out FILE (write the
per-op-type trace as JSON).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
BUILD = HERE / ".build"
ARCHIVE = BUILD / "classes.jsa"
WORK = HERE / ".work"
EXPECT = HERE / "expect.json"
HEAP = "3g"  # fixed driver heap for every workload
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
WORKLOADS = ("graph_serve", "graph_analytics", "llm_pipeline")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def jars_dir():
    """The Spark/Scala jar directory the program's own build compiles against."""
    sbt = REPO / "build.sbt"
    if not sbt.is_file():
        fail("build.sbt of the program under test not found")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not Path(m.group(1)).is_dir():
        fail("build.sbt names no usable unmanagedBase jar directory")
    return Path(m.group(1))


def sources():
    prog = sorted((REPO / "src" / "main" / "scala").rglob("*.scala"))
    if not prog:
        fail("no program sources under src/main/scala")
    return prog + sorted((HERE / "src").rglob("*.scala"))


def build(jars):
    """Compile program + benchmark with scalac; skipped when nothing changed."""
    srcs = sources()
    key = hashlib.sha256()
    for f in srcs:
        key.update(str(f.relative_to(REPO)).encode())
        key.update(f.read_bytes())
    key.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    digest = key.hexdigest()
    app_jar = BUILD / "perfbench.jar"
    stamp = BUILD / "key"
    if stamp.is_file() and stamp.read_text() == digest and app_jar.is_file():
        return app_jar
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = BUILD / "classes.tmp"
    tmp.mkdir(parents=True)
    compiler = [str(next(jars.glob(f"scala-{n}-2.13*.jar"), "")) for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        fail("scala compiler jars not found beside the Spark jars")
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-cp", str(jars / "*"), "-d", str(tmp), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compilation failed")
    res = REPO / "src" / "main" / "resources"
    if res.is_dir():  # data source registration (META-INF/services)
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    # one jar: a class-data archive covers jars, not class directories
    with zipfile.ZipFile(BUILD / "perfbench.jar.tmp", "w") as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    (BUILD / "perfbench.jar.tmp").rename(app_jar)
    train(jars, app_jar)
    stamp.write_text(digest)
    return app_jar


def train(jars, app_jar):
    """Class-data archive of the classes a run loads (JVM + Spark start-up
    is mostly class loading): one training JVM runs the set-up of every
    workload and dumps the archive at exit. Runs work without it."""
    work = WORK / f"train-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    print("perfbench: training the class-data archive", file=sys.stderr)
    try:
        subprocess.run(java_cmd(jars, app_jar, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
                       + ["graft.perfbench.Main", "--train", str(work / "data")],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        ARCHIVE.unlink(missing_ok=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def java_cmd(jars, app_jar, work, extra):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             # JVM warnings to stderr: stdout ends with the result line
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}"] + extra
            + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([str(app_jar), str(jars / "*")])])


def check_result(line):
    res = json.loads(line)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError("result keys")
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        raise ValueError("attempted")
    for name, m in res["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"metric {name}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", type=int, default=-1)
    ap.add_argument("--trace-out", default="")
    a = ap.parse_args()

    if not EXPECT.is_file():
        fail("perfbench/expect.json not found")
    jars = jars_dir()
    app_jar = build(jars)
    work = WORK / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.is_file() else []
    cmd = (java_cmd(jars, app_jar, work, cds)
           + ["graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work / "data"),
              "--plant", str(a.plant), "--expect", str(EXPECT)]
           + (["--trace-out", str(Path(a.trace_out).resolve())] if a.trace_out else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}")
    try:
        check_result(lines[-1])
    except (ValueError, KeyError) as e:
        sys.stdout.write(out)
        fail(f"malformed result line ({e})")
    sys.stdout.write(out if out.endswith("\n") else out + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
