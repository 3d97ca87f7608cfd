"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the harness (`bench/scala`) with the Scala compiler that ships in Spark's
jars, into a directory keyed by a hash of the sources, and gives the java
command line that runs them. A second call with unchanged sources reuses the
classes. `python3 bench/build.py` builds and prints the classes directory.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars():
    """Spark's jars, which also carry the Scala compiler: $SPARK_HOME/jars,
    else those of the installed pyspark package."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    try:
        import pyspark
    except ImportError:
        raise SystemExit("Spark's jars not found: set SPARK_HOME")
    return Path(pyspark.__file__).parent / "jars"


# Matches build.sbt: Spark on JDK 17 outside spark-submit needs these.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def sources(root, bench):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"no program sources under {main}")
    return sorted(main.rglob("*.scala")) + sorted((bench / "scala").glob("*.scala"))


def build(root, bench, work):
    srcs = sources(root, bench)
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    out = work / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    work.mkdir(parents=True, exist_ok=True)
    tmp = work / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    cp = f"{spark_jars()}/*"
    print(f"[bench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                    "scala.tools.nsc.Main",
                    "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(s) for s in srcs],
                   check=True, stdout=sys.stderr)
    resources = root / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".complete").touch()
    for old in work.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return out


def java_command(classes, tmpdir, heap="2g"):
    """The harness JVM: a fixed-size heap, so GC does not resize it mid-run,
    C1 only, so JIT work ends with the warm-up (bench/README.md), a code
    cache large enough for Spark's generated classes, and no perf-data file
    outside the checkout. C1 alone defaults to a 48 MB code cache; the
    month-close warm-up plus four closes fill it, and the JVM then flushes
    every compiled method and disables its compiler."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", *opens, f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{spark_jars()}/*"]


if __name__ == "__main__":
    here = Path(__file__).resolve().parent
    print(build(here.parent, here, here.parent / ".bench_build"))
