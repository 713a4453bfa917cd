#!/usr/bin/env python3
"""Compile the program (src/main/scala) and the benchmark (perfbench/scala)
into one jar with the Scala compiler that ships in the Spark jars directory,
then record a class-data-sharing archive of every class a smoke run of all
workloads loads. The archive cuts JVM and Spark start-up (class loading)
from every later run. The output directory is named after a hash of every
source file, so an unchanged tree is not built again.

Usage: python3 perfbench/build.py    (prints the build directory)

Environment: CARGO_TARGET_DIR (default .bench_build) is the build directory,
relative to the checkout root; the Spark, Scala and compiler jars are read
from $SPARK_HOME/jars (SPARK_HOME defaults to the installation that holds
the spark-submit on PATH).
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def target_dir() -> Path:
    t = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return t if t.is_absolute() else ROOT / t


def jars_dir() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"build: no program sources at {program}")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))


def java_cmd(out: Path, archive_flag: str) -> list:
    """The benchmark JVM: a fixed 2 GiB heap, so G1 touches the same heap on
    every run and rss_peak_mb moves with the program's memory, not with heap
    resizing; the module opens Spark needs on JDK 17."""
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", archive_flag]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{out / 'perfbench.jar'}:{jars_dir()}/*", "perfbench.Main"]


def archive(out: Path) -> Path:
    return out / "classes.jsa"


def build() -> Path:
    files = sources()
    jars = jars_dir()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no scala-compiler jar in {jars}")
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = target_dir() / "perfbench" / f"build-{h.hexdigest()[:16]}"
    if (out / "BUILD_OK").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    classes = tmp / "classes"
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", str(classes), "-cp", cp] + [str(f) for f in files],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    # a class-data archive maps jars only, not directories
    with zipfile.ZipFile(tmp / "perfbench.jar", "w") as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    record_archive(out)
    (out / "BUILD_OK").write_text("ok\n")
    return out


def record_archive(out: Path) -> None:
    """One smoke run of every workload in one JVM, archiving the classes it
    loaded at exit. Without the archive the benchmark still runs, slower to
    start, so a failure here only warns."""
    work = out / "archive-run"
    work.mkdir()
    cmd = java_cmd(out, f"-XX:ArchiveClassesAtExit={archive(out)}") + [
        "--workload", "all", "--seed", "1", "--seconds", "0", "--trace", "0", "--smoke", "1",
        "--out", str(work / "result.json"), "--work", str(work),
        "--data", str(BENCH / "data" / "sf0.001")]
    with open(out / "archive.log", "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, timeout=600).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not archive(out).exists():
        archive(out).unlink(missing_ok=True)
        sys.stderr.write(f"build: no class-data archive (exit {rc}); see {out / 'archive.log'}\n")


if __name__ == "__main__":
    print(build())
