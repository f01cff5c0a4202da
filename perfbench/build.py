"""Build file of the benchmark: compiles the program's sources together
with the benchmark's own into `perfbench/.build/perfbench.jar`, with the
Scala compiler that ships in the Spark distribution (`$SPARK_HOME/jars`,
else the jars directory the repo's `build.sbt` compiles against), then
records a class-data-sharing archive of the classes one short dashboard
run loads, so that every benchmark JVM starts without re-parsing them.
A stamp of the source contents skips the build when nothing changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
OUT = BENCH / ".build"
JAR = OUT / "perfbench.jar"
ARCHIVE = OUT / "classes.jsa"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars() -> str:
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = re.search(r'unmanagedBase := file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not sbt:
        sys.exit("perfbench: set SPARK_HOME to a Spark distribution")
    return sbt.group(1)


def java(tmp, *args, archive="use"):
    """Command line of a benchmark JVM running `graft.perfbench.Main`.
    `archive` is "use" (start from the class-data archive when it
    exists) or "record" (write it at exit)."""
    share = ([f"-XX:SharedArchiveFile={ARCHIVE}"] if archive == "use" and ARCHIVE.is_file()
             else [f"-XX:ArchiveClassesAtExit={ARCHIVE}"] if archive == "record" else [])
    return (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + share
            + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{JAR}{os.pathsep}{spark_jars()}/*", "graft.perfbench.Main"]
            + list(args))


def sources():
    return sorted(p for d in (PROGRAM_SRC, BENCH_SRC) for p in d.rglob("*.scala"))


def stamp(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run(cmd, cwd, timeout, what):
    done = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=timeout)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-8000:])
        sys.exit(f"perfbench: {what} failed")


def record_archive() -> None:
    """One short dashboard run that writes the class-data archive."""
    import gen
    train = OUT / "train"
    (train / "tmp").mkdir(parents=True)
    gen.generate(str(train / "data"), 0, 0.05, 100)
    run(java(train / "tmp", "--workload", "dashboard", "--seed", "0", "--seconds", "1",
             "--trace", "0", "--data", str(train / "data"), archive="record"),
        train, 600, "recording the class-data archive")
    shutil.rmtree(train)


def build() -> None:
    if not PROGRAM_SRC.is_dir():
        sys.exit(f"perfbench: program sources not found at {PROGRAM_SRC}")
    files = sources()
    want = stamp(files)
    stamp_file = OUT / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return
    shutil.rmtree(OUT, ignore_errors=True)
    classes = OUT / "classes"
    classes.mkdir(parents=True)
    run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
         "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-cp", f"{spark_jars()}/*"] + [str(p) for p in files],
        OUT, 840, "compile")
    with zipfile.ZipFile(JAR, "w") as jar:
        for p in sorted(classes.rglob("*.class")):
            jar.write(p, p.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    record_archive()
    stamp_file.write_text(want)


if __name__ == "__main__":
    build()
