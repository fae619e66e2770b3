#!/usr/bin/env python3
"""Summarise a JFR recording of a graft JVM as sample shares.

Usage:

    python3 tools/jfr_summary.py <recording.jfr> [--from S] [--to S]
        [--stack-depth N] [--top N] [--json] [--timeline]

Reads the recording's execution samples (jdk.ExecutionSample: a Java
thread running Java code, so idle threads blocked in native calls do not
count) with the JDK's `jfr` tool and prints, over a time window given in
seconds from the first sample:

  * samples per thread class (Spark task threads, workflow branches,
    the HTTP server pool, Spark driver threads, the benchmark's HTTP
    clients, ...);
  * samples per subsystem: the innermost Spark phase on the stack
    (analysis, optimiser, planning, AQE, codegen, Parquet, task serde,
    scheduler, shuffle/storage), else the innermost graft frame's
    package, else "jdk/other";
  * the two crossed, the most frequent innermost frames, and the most
    frequent innermost graft methods (lambda frames skipped).

JIT compiler and GC threads do not run Java code, so execution samples
never see them; their CPU is not in these shares.

Recording the end-to-end benchmark (run.py passes the environment to
the JVM, so nothing in e2ebench/ changes):

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/r.jfr,settings=profile" \\
        python3 e2ebench/run.py --workload wf_massive --seed 1 --seconds 10 --trace 0

Pitfalls:

  * `jfr print` prints 5 frames per stack unless `--stack-depth` is
    given; this script passes its own --stack-depth (default 64, the
    recorder's default depth), so innermost-frame shares are not
    cut short.
  * A recording taken with a deep stack (-XX:FlightRecorderOptions=
    stackdepth=256) slowed wf_massive's p50 to about 5 s: use a recorded
    run for shares only, never for the benchmark's timings.
  * run.py passes -Xlog:disable on the java command line, which
    overrides any -Xlog option given in JAVA_TOOL_OPTIONS (JFR's own
    log lines included).
  * JAVA_TOOL_OPTIONS reaches every JVM the command starts, sbt too:
    build the checkout once without it (a first run.py call builds).
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys

THREAD_CLASSES = [
    ("spark-task", re.compile(r"^Executor task launch worker")),
    ("workflow-branch", re.compile(r"^scala-execution-context-global")),
    ("http-pool", re.compile(r"^pool-\d+-thread-\d+|^HTTP-Dispatcher")),
    ("spark-driver", re.compile(
        r"^(dag-scheduler|spark-listener|task-result-getter|dispatcher-|"
        r"shuffle-|block-manager|map-output|executor-heartbeater|"
        r"driver-heartbeater|Spark Context Cleaner|broadcast-exchange|"
        r"subquery|rpc-|netty|QueryStageCreator|"
        r"Executor task reaper|SparkUI|element-tracking|files-client)")),
    ("http-client", re.compile(r"^HttpClient-\d+-")),
    ("jit", re.compile(r"CompilerThread")),
    ("gc/vm", re.compile(r"^(GC Thread|G1 |VM Thread|VM Periodic)")),
    ("jfr", re.compile(r"^JFR ")),
    ("main", re.compile(r"^main$")),
    ("bench-client", re.compile(r"^Thread-\d+$")),
]

# innermost match wins: a codegen compile under an AQE stage is codegen,
# an optimiser rule run by AQE's re-optimisation is the optimiser
PHASES = [
    ("codegen", ("org.apache.spark.sql.catalyst.expressions.codegen.",
                 "org.codehaus.janino.", "org.codehaus.commons.compiler.")),
    ("parquet", ("org.apache.parquet.",
                 "org.apache.spark.sql.execution.datasources.parquet.")),
    ("task-serde", ("org.apache.spark.serializer.", "java.io.ObjectInputStream",
                    "java.io.ObjectOutputStream")),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis.",)),
    ("optimiser", ("org.apache.spark.sql.catalyst.optimizer.",
                   "org.apache.spark.sql.execution.SparkOptimizer",
                   "org.apache.spark.sql.execution.adaptive.AQEOptimizer")),
    ("planning", ("org.apache.spark.sql.catalyst.planning.",
                  "org.apache.spark.sql.execution.SparkStrategies",
                  "org.apache.spark.sql.execution.SparkPlanner",
                  "org.apache.spark.sql.execution.QueryExecution$.prepare")),
    ("aqe", ("org.apache.spark.sql.execution.adaptive.",)),
    ("scheduler", ("org.apache.spark.scheduler.",)),
    ("shuffle/storage", ("org.apache.spark.shuffle.", "org.apache.spark.storage.",
                         "org.apache.spark.network.")),
]


def thread_class(name):
    for cls, rx in THREAD_CLASSES:
        if rx.search(name or ""):
            return cls
    return "other"


def frame_name(frame):
    m = frame.get("method") or {}
    # class names print in internal form (java/lang/String), hidden
    # classes (lambdas) dotted: normalise to dots
    t = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return f"{t}.{m.get('name', '?')}"


def subsystem(frames):
    """Innermost Spark phase, else the innermost graft package."""
    for fr in frames:
        name = frame_name(fr)
        for phase, prefixes in PHASES:
            if name.startswith(prefixes):
                return phase
    for fr in frames:
        name = frame_name(fr)
        if name.startswith("graft."):
            return "graft:" + ".".join(name.split(".")[:2])
    if any(frame_name(fr).startswith("org.apache.spark.") for fr in frames):
        return "spark-other (operators, RPC)"
    return "jdk/other"


def innermost_graft(frames):
    for fr in frames:
        name = frame_name(fr)
        if name.startswith(("graft.", "graftbench.")) and "$$Lambda" not in name:
            return name
    return None


def seconds(ts):
    """ISO-8601 instant (nanosecond fraction allowed) -> epoch seconds."""
    if isinstance(ts, (int, float)):
        return float(ts)
    m = re.match(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(\.(\d+))?(.*)$", ts)
    if not m:
        raise ValueError(f"unparsed timestamp {ts!r}")
    base = datetime.datetime.strptime(m.group(1), "%Y-%m-%dT%H:%M:%S")
    tz = m.group(4)
    if tz in ("", "Z"):
        base = base.replace(tzinfo=datetime.timezone.utc)
    else:
        base = datetime.datetime.fromisoformat(m.group(1) + tz)
    return base.timestamp() + float("0." + (m.group(3) or "0"))


def load(path, depth):
    """Execution samples (time, thread name, frames), sorted by time."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", str(depth), "--events",
         "jdk.ExecutionSample", path],
        stdout=subprocess.PIPE, check=True).stdout
    events = json.loads(out)["recording"]["events"]
    samples = []
    for ev in events:
        v = ev["values"]
        th = v.get("sampledThread") or {}
        name = th.get("javaName") or th.get("osName") or ""
        frames = (v.get("stackTrace") or {}).get("frames") or []
        samples.append((seconds(v["startTime"]), name, frames))
    samples.sort(key=lambda s: s[0])
    return samples


def share_table(counter, total, top=None):
    rows = counter.most_common(top)
    return [{"key": k, "samples": n, "share": round(n / total, 4) if total else 0.0}
            for k, n in rows]


def summarise(samples, t_from, t_to, top):
    t0 = samples[0][0] if samples else 0.0
    span = (samples[-1][0] - t0) if samples else 0.0
    window = [s for s in samples
              if t_from <= s[0] - t0 and (t_to is None or s[0] - t0 < t_to)]
    by_thread = collections.Counter()
    by_sub = collections.Counter()
    crossed = collections.Counter()
    graft_frames = collections.Counter()
    top_frames = collections.Counter()
    for _, name, frames in window:
        tc = thread_class(name)
        sub = subsystem(frames)
        by_thread[tc] += 1
        by_sub[sub] += 1
        crossed[f"{tc} / {sub}"] += 1
        g = innermost_graft(frames)
        if g:
            graft_frames[g] += 1
        if frames:
            top_frames[frame_name(frames[0])] += 1
    n = len(window)
    return {
        "recording_span_s": round(span, 3),
        "window_s": [t_from, t_to if t_to is not None else round(span, 3)],
        "samples": n,
        "thread_class": share_table(by_thread, n),
        "subsystem": share_table(by_sub, n),
        "thread_class_x_subsystem": share_table(crossed, n, top),
        "innermost_frame": share_table(top_frames, n, top),
        "innermost_graft_frame": share_table(graft_frames, n, top),
    }


def timeline(samples):
    """Samples per second of recording, per thread class."""
    if not samples:
        return ""
    t0 = samples[0][0]
    per = collections.defaultdict(collections.Counter)
    for t, name, _ in samples:
        per[int(t - t0)][thread_class(name)] += 1
    classes = sorted({c for cnt in per.values() for c in cnt})
    lines = ["| s | " + " | ".join(classes) + " |",
             "|---:|" + "---:|" * len(classes)]
    for sec in range(max(per) + 1):
        lines.append(f"| {sec} | " +
                     " | ".join(str(per[sec][c]) for c in classes) + " |")
    return "\n".join(lines)


def render(s):
    lines = [f"execution samples {s['samples']} over "
             f"[{s['window_s'][0]}, {s['window_s'][1]}] s of a "
             f"{s['recording_span_s']} s recording", ""]
    for key, title in [("thread_class", "Thread class"),
                       ("subsystem", "Subsystem (innermost Spark phase, else graft package)"),
                       ("thread_class_x_subsystem", "Thread class x subsystem"),
                       ("innermost_frame", "Innermost frame"),
                       ("innermost_graft_frame", "Innermost graft method")]:
        lines += [f"## {title}", "", "| | samples | share |", "|---|---:|---:|"]
        lines += [f"| {r['key']} | {r['samples']} | {100 * r['share']:.1f}% |"
                  for r in s[key]]
        lines.append("")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--from", dest="t_from", type=float, default=0.0,
                    help="window start, seconds after the first sample")
    ap.add_argument("--to", dest="t_to", type=float, default=None,
                    help="window end, seconds after the first sample")
    ap.add_argument("--stack-depth", type=int, default=64)
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--json", action="store_true")
    ap.add_argument("--timeline", action="store_true",
                    help="print samples per second per thread class, to pick "
                         "the window (the measured phase is where the "
                         "workload's worker threads are busy)")
    args = ap.parse_args()
    samples = load(args.recording, args.stack_depth)
    if args.timeline:
        print(timeline(samples))
        return
    s = summarise(samples, args.t_from, args.t_to, args.top)
    print(json.dumps(s, indent=1) if args.json else render(s))


if __name__ == "__main__":
    sys.exit(main())
