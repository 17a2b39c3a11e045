#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src/main/scala) with the Scala compiler that
ships in Spark's jars directory, into .bench_build/perfbench. A build is
skipped when no source changed since the last one.

A build also records the classes a run loads into a class-data-sharing
archive (a training run of both workloads on a small extract), so each
run's JVM maps them instead of loading and verifying them one by one.

    python3 perfbench/build.py          # build
    python3 perfbench/build.py test     # build, then run the benchmark's own tests

Needs SPARK_HOME (Spark 4.1 for Scala 2.13) and a JDK 17 `java`.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build" / "perfbench"
JAR = OUT / "perfbench.jar"
ARCHIVE = OUT / "perfbench.jsa"
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# program's own build passes to forked JVMs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    if exe and exe.exists():
        return str(exe)
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH and no JAVA_HOME")
    return found


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark install with a jars/ directory")
    return Path(home) / "jars"


def sources(*dirs: Path) -> list:
    for d in dirs:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def _stamp(files: list) -> str:
    h = hashlib.sha256()
    for jar in sorted(spark_jars().glob("scala-*.jar")):
        h.update(jar.name.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _scalac(files: list, classpath: str, dest: Path) -> None:
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    args_file = dest.parent / (dest.name + ".sources")
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(dest), "-classpath", classpath, f"@{args_file}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    args_file.unlink()
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError(f"scalac failed with exit code {r.returncode}")


def _build(name: str, files: list, classpath: str) -> Path:
    """Compile `files` into OUT/name unless its stamp shows them unchanged."""
    dest = OUT / name
    stamp = _stamp(files)
    stamp_file = OUT / f"{name}.stamp"
    if dest.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return dest
    stamp_file.unlink(missing_ok=True)
    tmp = OUT / f"{name}.tmp"
    _scalac(files, classpath, tmp)
    if dest.exists():
        shutil.rmtree(dest)
    tmp.rename(dest)
    stamp_file.write_text(stamp)
    return dest


def jvm_flags(work: Path) -> list:
    """Flags of every benchmark JVM; `work` holds its scratch files."""
    return [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-XX:-DontCompileHugeMethods", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}", *ADD_OPENS]


def _jar(classes: Path) -> None:
    tmp = OUT / (JAR.name + ".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    tmp.rename(JAR)


def _train(classpath: str) -> None:
    work = OUT / "train"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    tmp = OUT / (ARCHIVE.name + ".tmp")
    cmd = [java(), *jvm_flags(work), f"-XX:ArchiveClassesAtExit={tmp}",
           "-cp", classpath, "perfbench.PerfBench", "--train", "1", "--work", str(work)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, env=env)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not tmp.exists():
        sys.stderr.write(r.stdout[-5000:])
        raise BuildError(f"training run failed with exit code {r.returncode}")
    tmp.rename(ARCHIVE)


def build() -> str:
    """Compile, package and train if anything changed; return the
    runtime classpath. Runs pass -XX:SharedArchiveFile=ARCHIVE."""
    files = sources(PROGRAM_SRC, BENCH / "src" / "main" / "scala")
    OUT.mkdir(parents=True, exist_ok=True)
    jars = str(spark_jars() / "*")
    stamp_file = OUT / "classes.stamp"
    fresh = stamp_file.exists() and JAR.exists() and ARCHIVE.exists()
    old = stamp_file.read_text() if fresh else None
    classes = _build("classes", files, jars)
    classpath = os.pathsep.join([str(JAR), jars])
    if stamp_file.read_text() != old:
        JAR.unlink(missing_ok=True)
        ARCHIVE.unlink(missing_ok=True)
        _jar(classes)
        _train(classpath)
    return classpath


def test() -> int:
    """Compile and run the benchmark's own tests (perfbench/src/test/scala)."""
    cp = build()
    tests = _build("test-classes", sources(BENCH / "src" / "test" / "scala"), cp)
    cmd = [java(), "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}", *ADD_OPENS, "-cp",
           os.pathsep.join([str(tests), cp]), "perfbench.SelfTest"]
    return subprocess.run(cmd).returncode


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(test())
        elif sys.argv[1:]:
            sys.exit("usage: build.py [test]")
        build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
