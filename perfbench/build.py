"""Build file of the benchmark package.

Compiles the engine's sources (``src/main/scala`` of the checkout) and the
benchmark's own Scala sources (``perfbench/src``) with the Scala compiler
that ships in Spark's ``jars`` directory, against those jars, and packs
each into a jar. Everything it writes goes to ``.bench_build/`` in the
checkout. A step is skipped when a stamp shows its inputs are unchanged.

Run ``python3 perfbench/build.py`` to build; ``run.py`` builds on demand.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


# Spark 4 on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


class BuildError(Exception):
    pass


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_command(classpath: str, work: Path, args: list, cds: list) -> list:
    """The benchmark JVM: Spark's module opens, and every directory Spark or
    Hive would write to placed under `work`."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{HEAP}", "-Xss8m", *cds, *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Dderby.system.home={work / 'derby'}",
            "-cp", classpath, "graft.perfbench.Run", *args]


def jvm_env(work: Path) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CHECKPOINT_DIR=str(work / "checkpoint"))
    env.pop("SPARK_GRAFT_EXTRA_JAVA_OPTS", None)
    return env


def spark_jars() -> Path:
    """Spark's jars directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = str(Path(exe).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def _digest(files, extra=b"") -> str:
    h = hashlib.sha256(extra)
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(srcs, classpath, out: Path, jars: Path, log: Path) -> None:
    key = _digest(srcs, extra=(classpath + Path(__file__).read_text()).encode())
    stamp = out / ".stamp"
    if stamp.exists() and stamp.read_text() == key:
        return
    if not srcs:
        raise BuildError(f"no Scala sources for {out.name}")
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    compiler = [next(jars.glob(f"{name}-2.13*.jar"), None)
                for name in ("scala-compiler", "scala-library", "scala-reflect")]
    if None in compiler:
        raise BuildError(f"no Scala 2.13 compiler in {jars}")
    argfile = out.parent / f"{out.name}.args"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", classpath, "-d", str(out), f"@{argfile}"]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT).returncode
    if rc != 0:
        raise BuildError(f"compiling {out.name} failed (exit {rc}); see {log}")
    stamp.write_text(key)


def _jar(classes: Path, jar: Path) -> None:
    stamp = (classes / ".stamp").read_text()
    if jar.exists() and jar.with_suffix(".stamp").exists() and \
            jar.with_suffix(".stamp").read_text() == stamp:
        return
    tmp = jar.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    tmp.replace(jar)
    jar.with_suffix(".stamp").write_text(stamp)


def sizes(workload: str) -> dict:
    wl = json.loads((HERE / "workloads.json").read_text())
    return dict(wl["common_sizes"], **wl["workloads"][workload]["sizes"])


def _class_archive(jars: list) -> list:
    """JVM options for a class-data-sharing archive of the classes a run
    loads. The first run after a build dumps it at exit; later runs map it,
    which cuts JVM and Spark start-up. A new build gets a new archive."""
    key = _digest([], extra="".join(j.with_suffix(".stamp").read_text() for j in jars).encode())
    archive = BUILD / f"classes-{key[:16]}.jsa"
    if archive.exists():
        return [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    for old in BUILD.glob("classes-*.jsa"):
        old.unlink()
    return [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]


def build() -> tuple:
    """Build what changed; return (run classpath, class-archive JVM options)."""
    engine_src = ROOT / "src" / "main" / "scala"
    if not engine_src.is_dir():
        raise BuildError(f"engine sources not found at {engine_src}")
    jars = spark_jars()
    spark_cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    BUILD.mkdir(exist_ok=True)
    engine = BUILD / "engine-classes"
    bench = BUILD / "bench-classes"
    _compile(sorted(engine_src.rglob("*.scala")), spark_cp, engine, jars, BUILD / "engine-build.log")
    _compile(sorted((HERE / "src").rglob("*.scala")), os.pathsep.join([str(engine), spark_cp]),
             bench, jars, BUILD / "bench-build.log")
    built = [BUILD / "bench.jar", BUILD / "engine.jar"]
    _jar(bench, built[0])
    _jar(engine, built[1])
    classpath = os.pathsep.join([str(built[0]), str(built[1]), str(jars / "*")])
    return classpath, _class_archive(built)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
