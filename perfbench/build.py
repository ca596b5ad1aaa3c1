"""Compile graft's main sources and the benchmark program.

Uses the Scala compiler that ships with Spark (``$SPARK_HOME/jars``), so no
build tool and no dependency resolution is involved. Output goes under
``$CARGO_TARGET_DIR`` (default ``.bench_build``): one jar for graft and one
for the benchmark, each keyed by a hash of its sources and reused while they
are unchanged. A short training run (a small ``serve``) then writes an
application class-data archive (JDK AppCDS) that later runs start from,
which takes several seconds of class loading off every run's start.

    python3 perfbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_jars():
    """Spark's jars: ``$SPARK_HOME/jars``, else the first ``jars`` directory
    beside a ``spark-submit`` on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    raise SystemExit("build: no Spark jars found; set SPARK_HOME")


def scala_files(d):
    if not os.path.isdir(d):
        raise SystemExit(f"build: source directory {d} not found")
    files = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"build: no Scala sources under {d}")
    return files


def out_base():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return base if os.path.isabs(base) else os.path.join(ROOT, base)


def java_cmd(classpath, *jvm_flags):
    """The JVM command line every benchmark JVM uses (Spark on JDK 17)."""
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
            + ["-Xmx3g", "-Xss4m", "-Dspark.ui.enabled=false"] + list(jvm_flags)
            + ["-cp", os.pathsep.join(classpath)])


def compile_once(name, files, classpath, salt=""):
    """Compile ``files`` into ``<name>.jar`` unless one for the same sources exists."""
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(out_base(), f"{name}-{h.hexdigest()[:16]}")
    jar = os.path.join(out, f"{name}.jar")
    if os.path.exists(jar):
        return jar
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", classes] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited with {r.returncode} on {name}")
    # AppCDS archives classes from jars only
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for f in sorted(glob.glob(os.path.join(classes, "**", "*"), recursive=True)):
            if os.path.isfile(f):
                z.write(f, os.path.relpath(f, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    return jar


def class_archive(classpath):
    """Write the class-data archive with a small serve run; None if it fails."""
    out = os.path.dirname(classpath[0])
    jsa = os.path.join(out, "app.jsa")
    failed = os.path.join(out, "app.jsa.failed")
    if os.path.exists(jsa):
        return jsa
    if os.path.exists(failed):
        return None
    work = os.path.join(out, "train")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(classpath, f"-XX:ArchiveClassesAtExit={jsa}.tmp",
                   f"-Djava.io.tmpdir={work}/tmp") + [
        "perfbench.PerfMain", "--workload", "serve", "--seed", "0", "--seconds", "1",
        "--trace", "1", "--docs", "100", "--work-dir", work]
    try:
        r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=600)
        ok = r.returncode == 0 and os.path.exists(jsa + ".tmp")
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok:
        open(failed, "w").close()
        sys.stderr.write("build: class-data archive not written; runs start without it\n")
        return None
    os.replace(jsa + ".tmp", jsa)
    return jsa


def build():
    """Compile what changed; return (run classpath, class-data archive or None)."""
    jars = spark_jars()
    graft = compile_once("graft", scala_files(os.path.join(ROOT, "src", "main", "scala")), jars)
    bench = compile_once("perfbench", scala_files(os.path.join(HERE, "src")),
                         jars + [graft], salt=graft)
    cp = [bench, graft] + jars
    return cp, class_archive(cp)


if __name__ == "__main__":
    cp, jsa = build()
    print(os.pathsep.join(cp))
    print(jsa or "no class-data archive")
