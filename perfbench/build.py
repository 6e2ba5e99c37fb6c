#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own sources with the Scala compiler that ships among the Spark
jars, without touching the program's build.sbt, packs them into
perfbench/.build/perfbench.jar, and records one class-data-sharing archive
per workload of BENCHMARK.json (a short training run of that workload), so
that each benchmark JVM starts without re-loading and re-verifying the same
few thousand Spark classes.

    python3 perfbench/build.py        # builds if needed

The Spark jar directory is $SPARK_HOME/jars, else the `unmanagedBase` that
the repo's build.sbt names. The build is skipped when a stamp over every
source file's path and bytes matches the last successful build. A JVM that
cannot use an archive runs without it.
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / ".build"
SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")
JAR = OUT / "perfbench.jar"
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or keep build.sbt's unmanagedBase")


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"program sources missing: {program}")
    files = sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no sources")
    return files


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256(str(jars).encode())
    h.update((ROOT / "BENCHMARK.json").read_bytes())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def archive(workload: str) -> Path:
    return OUT / f"{workload}.jsa"


def java_command(workload: str, seed: int, seconds: int, trace: int, work: Path,
                 cores: int, spans: Path, cds: str = "use") -> list:
    """The benchmark JVM's command line. `cds` is "use" (the workload's
    archive, when it exists) or "dump" (record it at exit, after a run that
    stops once set up)."""
    cp = f"{JAR}{os.pathsep}{spark_jars()}/*"
    share = []
    if cds == "dump":
        share = [f"-XX:ArchiveClassesAtExit={archive(workload)}"]
    elif cds == "use" and archive(workload).is_file():
        share = [f"-XX:SharedArchiveFile={archive(workload)}"]
    return (["java", f"-Xmx{JVM_HEAP}"] + share
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
               "-Dspark.ui.enabled=false",
               "-cp", cp, "perfbench.Main",
               "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace),
               "--work", str(work), "--cores", str(cores), "--spans", str(spans)]
            + (["--stop-after", "setup"] if cds == "dump" else []))


def compile_sources(jars: Path, files: list) -> None:
    compiler = []
    for name in SCALA_JARS:
        found = sorted(jars.glob(f"{name}-2.13.*.jar"))
        if not found:
            raise BuildError(f"{name} 2.13 jar not found in {jars}")
        compiler.append(str(found[-1]))
    classes = OUT / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args_file = OUT / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
           "-d", str(classes), f"@{args_file}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())
    shutil.rmtree(classes)


def train_archives() -> None:
    """One short run per workload (start, inputs, set-up), recording the
    classes it loads."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in (x["name"] for x in spec["workloads"]):
        work = OUT / "train" / w
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        print(f"perfbench: recording the class archive of {w}", file=sys.stderr, flush=True)
        cmd = java_command(w, 0, 1, 0, work, 1, work / "spans.jsonl", cds="dump")
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           cwd=ROOT, timeout=600)
        shutil.rmtree(OUT / "train", ignore_errors=True)
        if r.returncode != 0 or not archive(w).is_file():
            archive(w).unlink(missing_ok=True)
            print(f"perfbench: no class archive for {w}; its runs load classes "
                  f"from the jars", file=sys.stderr)


def build() -> None:
    """Compiles and records the archives if any source changed."""
    jars = spark_jars()
    files = sources()
    stamp_file = OUT / "stamp"
    want = stamp(files, jars)
    if stamp_file.is_file() and stamp_file.read_text() == want and JAR.is_file():
        return
    OUT.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    for old in OUT.glob("*.jsa"):
        old.unlink()
    compile_sources(jars, files)
    train_archives()
    stamp_file.write_text(want)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(1)
