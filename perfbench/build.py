"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's own (perfbench/src) into perfbench/.build.

It calls the Scala compiler that ships in Spark's jar directory
($SPARK_HOME/jars), so it needs no build server and no network. The classes
are packed into one jar, and a training JVM records a class-data-sharing
archive of everything the harness loads, which cuts JVM start-up of every
later run by several seconds. A build is reused while no source changes.

    python3 perfbench/build.py      # builds if needed, prints the JVM command
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
JAR = os.path.join(OUT, "perfbench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")
HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 install (its jars/ holds "
                         "the Scala compiler and the Spark runtime)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def harness_command(tmp, archive_flag):
    """The harness JVM up to its main class: fixed heap, Spark's module
    opens, and the run's own temp dir."""
    cmd = [java(), "-XX:-UsePerfData", archive_flag, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{JAR}:{spark_jars()}/*"]


def harness_env():
    """The environment without inherited Spark scratch or engine settings, so
    a run uses only its own directories and the cores it is given."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT") and k != "SPARK_LOCAL_DIRS"}


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {ROOT}/src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + own


def _compile(jars, srcs, resources):
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))[0]
                        for m in ("compiler", "library", "reflect"))
    r = subprocess.run([java(), "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}", "-Xss8m",
                        "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
                        "-d", classes, "-classpath", f"{jars}/*", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    # class-data sharing reads classes from jars only
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def _train():
    """Runs every workload's warmup and first operation on small inputs once,
    recording the loaded classes into ARCHIVE."""
    import gen
    with tempfile.TemporaryDirectory(dir=OUT) as d:
        small = dict(gen.KNOBS, fda_backlog_pages=6, fda_ticks=2, pdf_batches=1,
                     pdf_files_per_batch=5, pdf_dim_rows=50)
        args = []
        for w, g in gen.GENERATORS.items():
            os.makedirs(os.path.join(d, w))
            g(os.path.join(d, w), 1, small)
            args.append(f"{w}={os.path.join(d, w)}")
        r = subprocess.run(harness_command(d, f"-XX:ArchiveClassesAtExit={ARCHIVE}") +
                           ["perfbench.Train", f"root={d}/state"] + args,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           cwd=d, env=harness_env(), timeout=600)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: recording the class-data archive failed")


def build():
    """Compiles and records the archive if any input changed; returns the
    JVM flag that loads the archive."""
    jars = spark_jars()
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)) + \
            [os.path.join(HERE, f) for f in ("build.py", "gen.py")]:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(OUT)
        _compile(jars, srcs, resources)
        _train()
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return f"-XX:SharedArchiveFile={ARCHIVE}"


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    print(" ".join(harness_command("<tmp>", build())))
