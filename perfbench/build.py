#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the bench, then
generates the batch fixture tables.

Everything lands under `.bench_build/` at the repository root:

  classes/   the engine (`src/main/scala`) and the bench
             (`perfbench/src`) compiled together by scalac, with Spark's
             jars as the only classpath, so no dependency resolution and
             no network access is ever needed;
  data/      the fixture tables the batch workloads read, written by the
             bench's own deterministic generator (`FixtureGen`).

Both steps are skipped when a stamp file shows their inputs unchanged.
Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
DATA = OUT / "data"
# The scale of the generated fixture (rows of lineitem = 6M x SF).
FIXTURE_SF = "0.01"

# Spark on JDK 17 needs these when a session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars shipped
    inside an installed pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            candidates.append(Path(spec.origin).parent / "jars")
    except (ImportError, ValueError):
        pass
    for c in candidates:
        if glob.glob(str(c / "spark-sql_*.jar")) and \
                glob.glob(str(c / "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    j = shutil.which("java")
    if not j:
        raise BuildError("no java on PATH")
    return j


def jvm_opts(tmp, heap="2g"):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp.mkdir(parents=True, exist_ok=True)
    # Only a heap limit, and the parallel collector: the heap grows with
    # what the program touches, so the peak resident set follows the
    # program's memory use. G1 sizes its heap from measured pause times,
    # which made the peak vary by a quarter between runs of the same input;
    # under the parallel collector it repeats within a few percent.
    # No hsperfdata file: the JVM would otherwise write one outside the
    # checkout.
    return opts + [
        "-XX:-UsePerfData",
        f"-Xmx{heap}", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={OUT / 'warehouse'}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
    ]


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def child_env():
    """The environment of every JVM the bench starts: no engine lever
    (SPARK_GRAFT_*) leaks in from the caller."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_")}


def sources():
    engine = sorted(glob.glob(str(ROOT / "src/main/scala/**/*.scala"),
                              recursive=True))
    bench = sorted(glob.glob(str(BENCH / "src/**/*.scala"), recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src/main/scala'}")
    if not bench:
        raise BuildError(f"no bench sources under {BENCH / 'src'}")
    return engine, bench


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(Path(p).read_bytes())
    return h.hexdigest()


def compile_all():
    engine, bench = sources()
    jars = spark_jars()
    stamp = CLASSES / ".stamp"
    want = digest(engine + bench, str(sorted(os.listdir(jars))))
    if stamp.exists() and stamp.read_text() == want:
        return
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(engine + bench) + "\n")
    cp = str(jars / "*")
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(CLASSES),
           "-classpath", cp, f"@{argfile}"]
    print(f"[build] compiling {len(engine)} engine + {len(bench)} bench "
          "sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       env=child_env(), timeout=450)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    stamp.write_text(want)


def generate_fixtures():
    gen = sorted(glob.glob(str(BENCH / "src/**/FixtureGen.scala"),
                           recursive=True))
    stamp = DATA / ".stamp"
    want = digest(gen, FIXTURE_SF)
    if stamp.exists() and stamp.read_text() == want:
        return
    if DATA.exists():
        shutil.rmtree(DATA)
    DATA.mkdir(parents=True)
    print(f"[build] generating the sf{FIXTURE_SF} fixture",
          file=sys.stderr, flush=True)
    cmd = [java_bin(), *jvm_opts(OUT / "tmp"), "-cp", classpath(),
           "graft.perfbench.FixtureGen", str(DATA), FIXTURE_SF]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       env=child_env(), cwd=ROOT, timeout=250)
    if r.returncode != 0:
        raise BuildError("fixture generation failed")
    stamp.write_text(want)


def build():
    compile_all()
    generate_fixtures()


if __name__ == "__main__":
    try:
        build()
    except (BuildError, subprocess.TimeoutExpired, OSError) as e:
        print(f"[build] error: {e}", file=sys.stderr)
        sys.exit(2)
