"""Benchmark command.

    python3 perfbench/run.py --workload serve|ingest|offline --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in a single JVM (`perfbench.Main`, Spark `local[nproc]`), and
passes its output through. After each build, one JVM runs every workload
at tiny sizes and records a class-data archive (AppCDS) of the classes it
loaded; every run maps it, which takes ~3 s off JVM and Spark start and
~3 s off the first Spark jobs. When recording fails, runs go without it. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. The line before it
stamps host contention over the run (steal %, load1, CPU used by processes
other than the benchmark), so a polluted run is named.

Exits non-zero without a result when the build or the run fails.
"""
import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("serve", "ingest", "offline")
# A run still going after this is killed; runs are meant to end within 180 s.
JVM_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def proc_stat():
    """(busy, total, steal) jiffies over all CPUs from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        idle = v[3] + (v[4] if len(v) > 4 else 0)
        return sum(v) - idle, sum(v), (v[7] if len(v) > 7 else 0)
    except (OSError, ValueError, IndexError):
        return 0, 0, 0


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return -1.0


def children_cpu_s():
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def self_cpu_s():
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def jvm_command(jar, args, workdir, cds):
    """`cds`: JVM flags naming the class-data archive, or none."""
    jars = build.spark_jars()
    # the archive is valid only for this exact class path, so it is
    # spelled out in a fixed order instead of a `jars/*` wildcard
    cp = [jar] + sorted(os.path.join(jars, f) for f in os.listdir(jars)
                        if f.endswith(".jar"))
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        # fixed heap: peak RSS then tracks what the run touches, not how
        # the heap happened to grow
        "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
        "-XX:ReservedCodeCacheSize=512m", "-Xss4m",
        # JVM warnings (an archive that does not map, for one) go to
        # stderr, never into the result on stdout
        "-Xlog:disable", "-Xlog:all=warning:stderr"] + cds + [
        "-Djava.io.tmpdir=" + tmp,
        "-cp", os.pathsep.join(cp), "perfbench.Main"] + args +
        ["--workdir", workdir])


def class_archive(jar):
    """The class-data archive for this build, recorded if missing or
    stale; None when recording fails."""
    path = os.path.join(build.build_dir(), "perfbench.jsa")
    stamp_file = path + ".stamp"
    with open(build.stamp_path()) as f:
        stamp = f.read()
    if os.path.exists(path) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return path
    for p in (path, stamp_file):
        if os.path.exists(p):
            os.remove(p)
    workdir = os.path.join(build.build_dir(), "train-%d" % os.getpid())
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    sys.stderr.write("[perfbench] recording the class-data archive\n")
    try:
        code, result = run_jvm(jvm_command(
            jar, ["--train", "1"], workdir,
            ["-XX:ArchiveClassesAtExit=" + path + ".tmp"]), echo=False)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    ok = (code == 0 and result is not None and '"correct": true' in result
          and os.path.exists(path + ".tmp"))
    if not ok:
        sys.stderr.write("[perfbench] no class-data archive (exit %d); "
                         "runs start without it\n" % code)
        if os.path.exists(path + ".tmp"):
            os.remove(path + ".tmp")
        return None
    os.replace(path + ".tmp", path)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return path


def run_jvm(cmd, echo=True):
    """Run the JVM, echo its stdout (to stderr unless `echo`), return
    (exit code, last JSON line)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except OSError:
            pass

    old = {s: signal.signal(s, lambda *a: (kill(), sys.exit(130)))
           for s in (signal.SIGINT, signal.SIGTERM)}
    last_json = None
    timer = threading.Timer(JVM_TIMEOUT_S, kill)
    timer.daemon = True
    try:
        timer.start()
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last_json = line
            elif echo:
                print(line, flush=True)
            else:
                sys.stderr.write(line + "\n")
        code = proc.wait()
    finally:
        timer.cancel()
        kill()
        proc.wait()
        for s, h in old.items():
            signal.signal(s, h)
    return code, last_json


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="tiny-size self-tests of every workload and checker")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        jar = build.build()
    except (build.BuildError, OSError) as e:
        sys.stderr.write("[perfbench] build failed: %s\n" % e)
        return 2
    archive = class_archive(jar)
    cds = ["-XX:SharedArchiveFile=" + archive] if archive else []

    workdir = os.path.join(build.build_dir(), "run-%d" % os.getpid())
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    if a.selftest:
        args = ["--selftest", os.path.join(build.ROOT, "BENCHMARK.json")]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]

    busy0, total0, steal0 = proc_stat()
    cpu0, own0, load_start = children_cpu_s(), self_cpu_s(), load1()
    t0 = time.monotonic()
    try:
        code, result = run_jvm(jvm_command(jar, args, workdir, cds))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    wall = time.monotonic() - t0
    busy1, total1, steal1 = proc_stat()
    ours = (children_cpu_s() - cpu0) + (self_cpu_s() - own0)
    hz = os.sysconf("SC_CLK_TCK")
    ncpu = os.cpu_count() or 1
    span = max(1, total1 - total0)
    foreign = max(0.0, (busy1 - busy0 - (steal1 - steal0)) / hz - ours)
    stamp = {
        "wall_s": round(wall, 1),
        "steal_pct": round(100.0 * (steal1 - steal0) / span, 2),
        "load1": [load_start, load1()],
        "foreign_cpu_pct": round(100.0 * foreign / max(1e-9, wall * ncpu), 2),
    }
    stamp["polluted"] = stamp["steal_pct"] > 5 or stamp["foreign_cpu_pct"] > 10
    print("[perfbench] host " + json.dumps(stamp), flush=True)

    if code != 0 or result is None:
        sys.stderr.write("[perfbench] run failed (exit %d)\n" % code)
        return 1
    try:
        parsed = json.loads(result)
    except ValueError:
        sys.stderr.write("[perfbench] unparseable result line\n")
        return 1
    if a.selftest:
        return 0 if parsed.get("correct") else 1
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
