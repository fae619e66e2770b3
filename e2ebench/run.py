#!/usr/bin/env python3
"""End-to-end benchmark of the graft server and pipeline.

Usage (from the root of a checkout):

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine sources together with the
harness in e2ebench/src (sbt, offline), caches the classpath and dumps a
JVM class-data archive from a fixed training run; later runs start the JVM
directly and map that archive. Every run works in a fresh private
directory under .e2ebench_work/ (server state, NetCDF exports, Spark local
and warehouse dirs, generated inputs) and deletes it afterwards. Traced runs also write
their spans and per-layer self times to .e2ebench_out/.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. The line before it records host
gauges (nproc, heap setting, load average, CPU steal before and after) and
is never used to gate a run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["wf_interactive", "wf_batch", "wf_massive", "corpus_dedup"]
HEAP = "3g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 540
TRAIN_TIMEOUT_S = 300
STAMP = os.path.join(HERE, "target", "e2ebench-classpath.txt")
# Class-data archive (AppCDS) of the classes a fixed training run loads:
# every workload set up and warmed once on seed 0. The build dumps it, so
# every run maps the same archive whatever ran before it. JVM and Spark
# start-up take about half as long with it.
CDS = os.path.join(HERE, "target", "e2ebench.jsa")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[e2ebench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile once per checkout; rebuild when a source is newer."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to e2ebench/")
    if os.path.exists(STAMP) and os.path.exists(CDS):
        stamp = os.path.getmtime(STAMP)
        if all(os.path.getmtime(p) <= stamp for p in sources()):
            with open(STAMP) as f:
                return f.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"])
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    train(cp)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(cp + "\n")
    return cp


def jvm(cp, cds_flag, args, tmp):
    """The java command line every run and the training run share."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # JVM log lines (the archive dump warns per skipped class) go to
    # stderr: stdout must end with the result line
    cmd += [f"-Xmx{HEAP}", "-Xmn384m", "-XX:-UsePerfData", cds_flag,
            "-Xlog:disable", "-Xlog:all=warning:stderr",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main"]
    return cmd + args


def train(cp):
    """Dump the class-data archive from the fixed training run."""
    if os.path.exists(CDS):
        os.remove(CDS)
    work_root = os.path.join(ROOT, ".e2ebench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="train-", dir=work_root)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        p = subprocess.run(
            jvm(cp, f"-XX:ArchiveClassesAtExit={CDS}", ["--train", work], tmp),
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=TRAIN_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"training run failed: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(CDS):
        sys.stderr.write(p.stdout[-4000:])
        fail("training run failed")


def host_gauges():
    """Load average, CPU steal share since boot, memory; never gated."""
    g = {"nproc": os.cpu_count(), "heap": HEAP}
    try:
        g["nproc_available"] = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    try:
        g["loadavg"] = [float(x) for x in open("/proc/loadavg").read().split()[:3]]
        cpu = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        g["cpu_ticks_total"] = sum(cpu)
        g["cpu_ticks_steal"] = cpu[7] if len(cpu) > 7 else 0
        for line in open("/proc/meminfo"):
            if line.startswith("MemAvailable:"):
                g["mem_available_mb"] = int(line.split()[1]) // 1024
    except (OSError, ValueError, IndexError):
        pass
    return g


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cp = build()
    work_root = os.path.join(ROOT, ".e2ebench_work")
    out_dir = os.path.join(ROOT, ".e2ebench_out")
    os.makedirs(work_root, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=work_root)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    before = host_gauges()
    cmd = jvm(cp, f"-XX:SharedArchiveFile={CDS}",
              ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", work, "--out", out_dir], tmp)
    log = os.path.join(out_dir, f"jvm-{args.workload}-seed{args.seed}-trace{args.trace}.log")
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                    stderr=err, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {JVM_TIMEOUT_S}s; see {log}", 1)
        if proc.returncode != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"JVM exited with {proc.returncode}; see {log}", 1)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    after = host_gauges()
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-4000:])
        fail("no result line from the JVM", 1)
    dt = after.get("cpu_ticks_total", 0) - before.get("cpu_ticks_total", 0)
    ds = after.get("cpu_ticks_steal", 0) - before.get("cpu_ticks_steal", 0)
    host = {"host": {"before": before, "after": after,
                     "steal_share_during_run": (ds / dt) if dt > 0 else 0.0}}
    for l in lines[:-1]:
        print(l)
    print(json.dumps(host))
    print(json.dumps(result))
    sys.exit(0)


if __name__ == "__main__":
    main()
