#!/usr/bin/env python3
"""Benchmark entry point: builds the engine from source, makes the inputs,
runs one workload in a fresh JVM and prints its JSON result line last.

Usage (from the repository root):
    python3 graftbench/run.py --workload catalog|lakehouse \
        --seed N --seconds S --trace 0|1

Everything it makes lives under .bench_build/graftbench/ in the current
directory: the compiled classes (keyed by a hash of the sources), the
generated tables, per-run work directories (removed after the run) and the
per-op ledgers. See graftbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """Spark's jars: $SPARK_HOME/jars, else the build's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            cands.append(m.group(1))
    for d in cands:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any("scala-compiler" in os.path.basename(j) for j in jars):
            return jars
    fail("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def scalac(jars, classpath, sources, out, tmp):
    os.makedirs(out)
    args_file = os.path.join(tmp, f"{os.path.basename(out)}.args")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cp = ":".join(classpath)
    r = subprocess.run(
        [java_bin(), "-Xmx2g", "-Xss8m", "-cp", ":".join(jars),
         "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp,
         "@" + args_file], stdout=sys.stderr)
    if r.returncode != 0:
        fail(f"compiling into {out} failed")


def jvm(classpath, work, main):
    """A java command running `main` with its temp files under `work`.

    The heap is fixed and collected by the parallel collector: with G1 and
    a growing heap, op walls spread about a third wider on 4 cores. The
    metaspace starts large enough that the classes Spark generates never
    trigger a full collection in the middle of a pass."""
    cmd = [java_bin(), "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           "-XX:MetaspaceSize=512m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", ":".join(classpath), main]


def publish(tmp, out):
    """Moves a finished `tmp` to `out`; a concurrent run may have won."""
    try:
        os.rename(tmp, out)
    except OSError:
        if not os.path.isdir(out):
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def build(root, state, jars):
    """Compiles src/main/scala and the harness once per source hash."""
    main_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                                recursive=True))
    if not main_src:
        fail(f"no engine sources under {root}/src/main/scala")
    harness_src = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    key = digest(main_src + harness_src)
    out = os.path.join(state, f"build-{key}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.time()
        scalac(jars, jars, main_src, os.path.join(tmp, "main"), tmp)
        scalac(jars, jars + [os.path.join(tmp, "main")], harness_src,
               os.path.join(tmp, "harness"), tmp)
        publish(tmp, out)
        print(f"graftbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return [os.path.join(out, "main"), os.path.join(out, "harness")]


def tables(state, scale):
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(state, f"data-{scale}-{digest([gen])}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        r = subprocess.run([sys.executable, gen, tmp, scale], stdout=sys.stderr)
        if r.returncode != 0:
            fail("generating the input tables failed")
        publish(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["catalog", "lakehouse"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "tiny"], default="bench")
    ap.add_argument("--expected", help="digest file (default: the stored one)")
    ap.add_argument("--record", help="write the observed digests here")
    ap.add_argument("--ledger", help="per-op ledger path")
    a = ap.parse_args()

    root = os.getcwd()
    state = os.path.join(root, ".bench_build", "graftbench")
    os.makedirs(state, exist_ok=True)
    jars = spark_jars(root)
    classes = build(root, state, jars)
    data = tables(state, a.scale)
    expected = a.expected or os.path.join(HERE, "expected", f"{a.scale}.txt")
    ledger = a.ledger or os.path.join(
        state, "ledger", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(ledger)), exist_ok=True)

    work = os.path.join(state, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm(classes + jars, work, "graftbench.Harness") + [
            f"workload={a.workload}", f"seed={a.seed}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"data={data}",
            f"work={work}", f"expected={expected}", f"ledger={ledger}"]
    if a.record:
        cmd.append(f"record={os.path.abspath(a.record)}")
    # a SIGTERM becomes SystemExit, so the JVM below is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run stopped: interrupted or over {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"harness exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
