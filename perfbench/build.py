"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`) with the Scala compiler that ships
in Spark's `jars/` directory, into `<build dir>/classes`, and packs them
into `<build dir>/perfbench.jar` (a jar, not a directory, so the JVM's
class-data archive can cover them; see run.py). No sbt: one compiler JVM,
nothing written outside the checkout.

The build dir is `$CARGO_TARGET_DIR` when set, else `.bench_build` at the
root of the checkout. A stamp of every source's content skips the compile
when nothing changed.

    python3 perfbench/build.py        # prints the jar
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else next to the
    `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError("engine sources missing: %s" % ENGINE_SRC)
    out = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(ENGINE_SRC) for p in out):
        raise BuildError("no engine sources under %s" % ENGINE_SRC)
    return sorted(out)


def jar_path():
    return os.path.join(build_dir(), "perfbench.jar")


def stamp_path():
    return os.path.join(build_dir(), "classes.stamp")


def pack(classes, jar):
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(tmp, jar)


def build():
    """Compile and pack if needed; return the jar."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = stamp_path()
    if os.path.exists(jar_path()) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return jar_path()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % p for p in srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    sys.stderr.write("[perfbench] compiling %d sources\n" % len(srcs))
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed with code %d" % r.returncode)
    pack(out, jar_path())
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return jar_path()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write("[perfbench] build failed: %s\n" % e)
        sys.exit(2)
