"""The repository benchmark: one seeded workload run, one JVM.

    python3 perfbench/run.py --workload chart_day --seed 1 --seconds 10 --trace 0

Workloads: chart_day, corpus_day, chart_queries (see BENCHMARK.json and
perfbench/design.json). Run from the repository root. The program is
compiled from source on first use (perfbench/build.py), the inputs are
generated from --seed (perfbench/inputs.py), every op's output is
checked, and the last stdout line is one bare JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full report (every metric, the tail percentile and its sample count,
the capped error list) and, when traced, the span sidecar are written to
.bench_out/.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402

JVM_TIMEOUT_S = 170
# The throughput collector with a fixed young generation: peak RSS then
# tracks what the program keeps alive, not G1's adaptive sizing (G1 read
# 1.6-2.0 GB across chart_day seeds on a 4-core box, this 1.28-1.35 GB).
# No perf-data file: the JVM would write it to the system temp directory.
JVM_FLAGS = ["-XX:+UseParallelGC", "-Xmx3g", "-Xmn512m", "-XX:-UsePerfData"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# the tail: the highest of these percentiles with at least 10 samples beyond it
TAIL_LADDER = [0.99, 0.95, 0.9, 0.8, 0.75, 0.5]


def java_cmd(classpath, work, main_args, share=None):
    """The workload JVM's command. `share` is the class-data sharing
    flag: by default the build's archive is used when it exists."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if share is None and os.path.exists(build.archive_path()):
        share = f"-XX:SharedArchiveFile={build.archive_path()}"
    return (["java", *JVM_FLAGS, *([share] if share else []),
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", *opens,
             "-cp", os.pathsep.join(classpath), "graft.perfbench.Main"] + main_args)


def ensure_archive(classpath):
    """Dump the class-data sharing archive of this build once, from a
    self-test JVM (Spark session, parquet writes and reads). Every later
    JVM maps the classes that run loaded instead of parsing them from
    ~290 jars, which takes several seconds off each JVM start. Without
    an archive the runs still work, only slower to start; a failed dump
    is not retried until the next build."""
    jsa = build.archive_path()
    if os.path.exists(jsa) or os.path.exists(jsa + ".failed"):
        return
    work = os.path.join(build.build_dir(), "archive-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code = run_jvm(java_cmd(classpath, work, ["--selftest", "1", "--work", work],
                                share=f"-XX:ArchiveClassesAtExit={jsa}.tmp"),
                       os.path.join(build.build_dir(), "archive.log"), work)
        if code == 0 and os.path.exists(jsa + ".tmp"):
            os.replace(jsa + ".tmp", jsa)
        else:
            open(jsa + ".failed", "w").close()
            print(f"[perfbench] no class-data archive (exit {code}); see "
                  f"{os.path.relpath(os.path.join(build.build_dir(), 'archive.log'), ROOT)}",
                  file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(jsa + ".tmp"):
            os.remove(jsa + ".tmp")


def run_jvm(cmd, log_path, cwd):
    """Run the JVM to completion, logging to a file. It is killed, and
    waited for, at the timeout or when this process is interrupted."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=cwd)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def cpu_times():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def percentile(xs, p):
    """Linear-interpolated percentile of a non-empty list."""
    s = sorted(xs)
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail(xs):
    for p in TAIL_LADDER:
        if len(xs) * (1 - p) >= 10:
            return p, percentile(xs, p)
    return 0.5, percentile(xs, 0.5)


def end_to_end(r):
    """The metrics a user waits on, and the report-only figures beside them."""
    lat = r["latencies_s"]
    p, t = tail(lat)
    return {
        "setup_s": (r["session_s"] + statistics.median(r["build_s"]) + r["warmup_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "ops_per_s": (len(lat) / r["timed_wall_s"], "1/s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }, {
        "op_tail_s": t,
        "op_tail_percentile": p,
        "op_tail_samples_beyond": sum(1 for x in lat if x > t),
        "error_rate": r["failed"] / max(r["attempted"], 1),
        "store_mb_per_op": r["store_bytes_growth"] / 1e6 / max(r["attempted"], 1),
    }


PER_LAYER = {
    # name: (source key in the JVM's per-op layer table, unit)
    "queries.construct_s": ("queries.construct.s", "s"),
    "queries.construct_jobs": ("queries.construct_jobs", "count"),
    "site.io.jobs": ("site.io.jobs", "count"),
    "site.io.s": ("site.io.s", "s"),
    "catalyst.analysis_s": ("catalyst.analysis_s", "s"),
    "catalyst.optimization_s": ("catalyst.optimization_s", "s"),
    "catalyst.planning_s": ("catalyst.planning_s", "s"),
    "exec.jobs": ("exec.jobs", "count"),
    "exec.stages": ("exec.stages", "count"),
    "exec.tasks": ("exec.tasks", "count"),
    "exec.slot_idle_share": ("exec.slot_idle_share", "ratio"),
    "exec.task_run_s": ("exec.task_run_s", "s"),
    "exec.task_cpu_s": ("exec.task_cpu_s", "s"),
    "exec.task_gc_s": ("exec.task_gc_s", "s"),
    "exec.shuffle_write_mb": ("exec.shuffle_write_mb", "MB"),
    "exec.shuffle_read_mb": ("exec.shuffle_read_mb", "MB"),
    "exec.spill_mb": ("exec.spill_mb", "MB"),
    "exec.input_mb": ("exec.input_mb", "MB"),
    "checkpoint.live_blocks": ("checkpoint.live_blocks", "count"),
    "checkpoint.live_mb": ("checkpoint.live_mb", "MB"),
    "etl.commit_calls": ("etl.commit.calls", "count"),
    "etl.commit_s": ("etl.commit.s", "s"),
    "etl.append_calls": ("etl.append.calls", "count"),
    "etl.append_s": ("etl.append.s", "s"),
    "etl.read_calls": ("etl.read.calls", "count"),
    "etl.read_s": ("etl.read.s", "s"),
    "etl.version_probes": ("etl.version_probe.calls", "count"),
    "etl.manifest_commit_s": ("etl.manifest_commit.s", "s"),
    "etl.bytes_written_mb": ("etl.bytes_written_mb", "MB"),
    "site.report.s": ("site.report.s", "s"),
    "ingest.fetch_calls": ("ingest.fetch.calls", "count"),
    "ingest.fetch_s": ("ingest.fetch.s", "s"),
    "jvm.gc_s": ("jvm.gc_s", "s"),
    "jvm.gc_count": ("jvm.gc_count", "count"),
    "trace.overhead_share": ("trace.overhead_share", "ratio"),
}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    try:
        classpath = build.ensure()
    except SystemExit as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    ensure_archive(classpath)
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(a, classpath, work, out_dir, tag)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, classpath, work, out_dir, tag):
    t_gen = time.time()
    inputs.GENERATORS[a.workload](a.seed, os.path.join(work, "inputs"))
    gen_s = time.time() - t_gen
    result_path = os.path.join(work, "result.json")
    cmd = java_cmd(classpath, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(len(os.sched_getaffinity(0))),
        "--inputs", os.path.join(work, "inputs"),
        "--work", work, "--out", result_path,
        "--goldens", os.path.join(HERE, "goldens.json")])
    log_path = os.path.join(out_dir, tag + ".log")
    steal0, total0 = cpu_times()
    code = run_jvm(cmd, log_path, work)
    steal1, total1 = cpu_times()
    if code != 0 or not os.path.exists(result_path):
        print(f"[perfbench] {a.workload} run failed (exit {code}); log: "
              f"{os.path.relpath(log_path, ROOT)}", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 3
    with open(result_path) as f:
        r = json.load(f)
    attempted, failed = int(r["attempted"]), int(r["failed"])
    if not r["latencies_s"]:
        print("[perfbench] no op passed its checks", file=sys.stderr)
    e2e, extra = end_to_end(r) if r["latencies_s"] else ({}, {})
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "input_gen_s": gen_s,
              # CPU time the hypervisor took from this machine during the run
              "box_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
              "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
              **extra, "errors": r["errors"], "errors_total": r["errors_total"],
              "build_s": r["build_s"], "session_s": r["session_s"], "warmup_s": r["warmup_s"],
              "latencies_s": r["latencies_s"], "cpus": r["cpus"]}
    if a.trace:
        layers = r["layers"]
        metrics = {k: {"value": float(layers.get(src, 0.0)), "unit": u}
                   for k, (src, u) in PER_LAYER.items()}
        report["per_layer"] = metrics
        report["layers_all"] = layers
        with open(os.path.join(out_dir, tag + ".spans.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "ops": r["spans"]}, f)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(out_dir, tag + ".report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for e in r["errors"]:
        print(f"[perfbench] check failed: {e}", file=sys.stderr)
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main(sys.argv[1:]))
