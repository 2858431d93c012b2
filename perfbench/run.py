#!/usr/bin/env python3
"""Benchmark of the guardian engine: two workloads, one command.

    python3 perfbench/run.py --workload <stream_backlog|batch_ops>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while no source file changed. Every JVM of a run works in a scratch
directory under .bench_run/ in the checkout, removed when the run ends.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The lines above it
repeat the workload's metrics in readable form. A traced run also writes
.bench_run/trace-<workload>-<seed>.json with the per-layer metrics, the
span list and the measured tracing overhead. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target", "perfbench-build")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_batch.json")

# stream_backlog input size per second of --seconds.
BACKLOG_TURNS_PER_SECOND = 10_000
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources; return
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a checkout root")
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def host():
    """Cores this process may run on, and a heap size from MemTotal."""
    cores = sorted(os.sched_getaffinity(0))
    mem_kb = 4 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 6))
    return cores, heap_mb


class Jvm:
    def __init__(self, cp, heap_mb, run_dir):
        self.cp, self.heap_mb, self.run_dir = cp, heap_mb, run_dir

    def run(self, role, cores, **opts):
        """Start one benchmark JVM pinned to `cores`; return its result."""
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = []
        if shutil.which("taskset"):
            cmd += ["taskset", "-c", ",".join(map(str, cores))]
        cmd += [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd += [f"-Xms{self.heap_mb}m", f"-Xmx{self.heap_mb}m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-cp", self.cp, "perfbench.Main", role,
                f"cpus={len(cores)}", f"run={self.run_dir}"]
        cmd += [f"{k}={v}" for k, v in opts.items()]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(self.run_dir, "spark-local"))
        launch_ms = time.time() * 1000
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True, env=env,
                                start_new_session=True)
        try:
            out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise RuntimeError(f"{role} JVM timed out after {JVM_TIMEOUT_S}s")
        with open(os.path.join(os.path.dirname(self.run_dir), f"last-{role}.err"), "w") as f:
            f.write(err)
        res = [l for l in out.splitlines() if l.startswith("PERFBENCH-RESULT ")]
        if proc.returncode != 0 or not res:
            sys.stderr.write(err[-4000:])
            raise RuntimeError(f"{role} JVM exited with {proc.returncode}")
        r = json.loads(res[-1][len("PERFBENCH-RESULT "):])
        r["start_s"] = (r["ready_ms"] - launch_ms) / 1000
        return r


def quantile(xs, q):
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def stream_backlog(jvm, cores, a):
    n = max(1, len(cores) // 4)
    r = jvm.run("backlog", cores, seed=a.seed, turns=BACKLOG_TURNS_PER_SECOND * a.seconds,
                lo_cpus=n, lo_cores=",".join(map(str, cores[:n])), trace=a.trace)
    fails = r["failures"] + r["lookups_failed"]
    attempted = r["epochs"] + len(r["lookup_ms"]) + len(r["lookups_failed"])
    failed = len(r["lookups_failed"]) + r["lookups_wrong"]
    if a.trace:
        return r, {}, fails, attempted, failed
    tps_hi, tps_lo = statistics.median(r["turns_per_s_hi"]), r["turns_per_s_lo"][0]
    eff = (tps_hi / tps_lo) / (len(cores) / n)
    setup = r["start_s"] + r["gen_s"] + r["warm_hi_s"] + r["warm_audit_s"] + r["warm_lo_s"]
    look = r["lookup_ms"]
    wall = statistics.median(r["wall_hi_s"])
    report = {
        "setup_s": (setup, "s"),
        "wall_s": (wall, "s"),
        "drain_n_s": (r["wall_lo_s"][0], "s"),
        "turns_per_s_4n": (tps_hi, "turns/s"),
        "turns_per_s_n": (tps_lo, "turns/s"),
        "scaling_efficiency": (eff, "ratio"),
        "sink_bytes_per_turn": (r["sink_bytes_per_turn"], "B/turn"),
        "commit_p50_ms": (statistics.median(r["commit_hi_ms"]), "ms"),
        "audit_lookup_p50_ms": (statistics.median(look), "ms"),
        "audit_lookup_p75_ms": (quantile(look, 0.75), "ms"),
        "monitor_read_s": (sum(r["monitor_ms"].values()) / 1000, "s"),
        "peak_live_mb": (r["live_mb"], "MB"),
        "dedup.dropped_dup": (r["dropped_dup"], "rows"),
        "dedup.dropped_late": (r["dropped_late"], "rows"),
    }
    e2e = {
        "setup_s": setup,
        "wall_s": wall,
        "op_latency_ms": statistics.mean(look),
        "peak_live_mb": r["live_mb"],
    }
    return r, (report, e2e), fails, attempted, failed


def batch_ops(jvm, cores, a):
    r = jvm.run("batch", cores, seed=a.seed, fixture=FIXTURE, expected=EXPECTED, trace=a.trace)
    if a.trace:
        return r, {}, r["failures"], r["attempted"], r["failed"]
    qs = list(r["query_s"].values())
    setup = r["start_s"] + r["warm_s"]
    report = {
        "setup_s": (setup, "s"),
        "batch_total_s": (sum(qs), "s"),
        "query_p50_ms": (statistics.median(qs) * 1000, "ms"),
        "peak_live_mb": (r["live_mb"], "MB"),
    }
    e2e = {
        "setup_s": setup,
        "wall_s": sum(qs),
        "op_latency_ms": statistics.median(qs) * 1000,
        "peak_live_mb": r["live_mb"],
    }
    return r, (report, e2e), r["failures"], r["attempted"], r["failed"]


WORKLOADS = {"stream_backlog": stream_backlog, "batch_ops": batch_ops}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    try:
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    except OSError:
        fail("BENCHMARK.json not found at the checkout root")
    cp = build()
    cores, heap_mb = host()
    run_root = os.path.join(ROOT, ".bench_run")
    run_dir = os.path.join(run_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result, measured, fails, attempted, failed = WORKLOADS[a.workload](
            Jvm(cp, heap_mb, run_dir), cores, a)
    except (RuntimeError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(run_root, f"last-{a.workload}.json"), "w") as f:
        json.dump({k: v for k, v in result.items() if k != "spans"}, f, indent=1)
    for f in fails:
        print(f"CHECK FAILED: {f}")
    if a.trace:
        layers = result.get("layers", {})
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        trace_file = os.path.join(run_root, f"trace-{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "layers": layers,
                       "tracing_overhead_frac": layers.get("trace.overhead_frac"),
                       "spans": result.get("spans", [])}, f)
        print(f"trace written to {os.path.relpath(trace_file, ROOT)}")
    else:
        report, e2e = measured
        for k, (v, unit) in report.items():
            print(f"{a.workload} {k} {v:.6g} {unit}")
        print(f"{a.workload} ops_failed_frac {failed / max(1, attempted):.6g} ratio")
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not fails and failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
