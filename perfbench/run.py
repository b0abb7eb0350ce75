"""Benchmark entry point: builds the engine and the benchmark program from the
checkout's sources, runs one workload at one seed, checks its outputs and
prints the result as the last line of stdout.

    python3 perfbench/run.py --workload <pipeline|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Everything the run writes stays under
`.perfbench_work/` there (build classpath, generated inputs, Spark scratch,
logs, the `pipeline` outputs each build first produced per seed, and one
JSON sidecar per run with host context and, for traced runs, the spans).
Exits non-zero without a result line when the build, the benchmark JVM or
the result is broken.

Workloads. `pipeline` runs the paper's `Pipeline.run` once in a fresh
driver (about 75-85 s on 4 vCPUs, whatever `--seconds` says). `query_mix`
runs registry queries, one pass per run. Traced `query_mix` runs also
drive a live-scoring stream (`StreamingInference` over an LSTM), whose
per-layer metrics they report: it has no listed workload of its own,
because with three workloads the benchmark's runs would overrun its time
budget.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("pipeline", "query_mix")
# per-layer metric prefixes each workload drives; the others it bypasses
OWNED = {
    "pipeline": ("bdb.",),
    "query_mix": ("queries.", "catalyst.", "storage.", "streaming.", "ml.",
                  "spark.jobs_per_tick", "spark.tasks_per_tick"),
}
SHARED = ("spark.shuffle_mb", "spark.gc_s", "spark.task_failures")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "4g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark with sbt (offline) once per source tree and
    returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    log_path = os.path.join(out, "sbt.log")
    with open(log_path, "w") as log:
        try:
            # the engine's SIMD kernel compiles against jdk.incubator.vector,
            # which sbt's own JVM must load to analyze it (as ../.sbtopts says)
            rc = subprocess.run(["sbt", "-J--add-modules=jdk.incubator.vector", "-batch",
                                 "-Dsbt.log.noformat=true", "compile",
                                 "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                                stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
    lines = [l.strip() for l in open(log_path) if l.strip()]
    if rc != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], stamp


def cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:]]


def steal_pct(before, after):
    """Host steal as a share of all CPU time between two /proc/stat reads."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0


def gen_tables(seed):
    """Writes the query_mix tables for this seed three times (the set-up
    stage is reported as its median) and returns (dir, median seconds)."""
    root = os.path.join(WORK, "tables")
    shutil.rmtree(root, ignore_errors=True)
    out = os.path.join(root, f"seed-{seed}")
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_tables.py"), out, str(seed)],
                       check=True)
        times.append(time.perf_counter() - t0)
    return out, statistics.median(times)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run takes its build or benchmark JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath, stamp = build()
    for d in ("tmp", "spark-local", "results", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    spans_path = os.path.join(WORK, "results", f"{tag}.spans.json")
    ref_base = os.path.join(WORK, "refs", stamp[:16], f"{args.workload}-seed{args.seed}")
    extra, gen_s = [], 0.0
    if args.workload == "query_mix":
        table_dir, gen_s = gen_tables(args.seed)
        extra = [table_dir]

    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["--add-modules=jdk.incubator.vector", f"-Xmx{JVM_HEAP}",
              f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
              args.workload, str(args.seed), str(args.seconds), str(args.trace), WORK, spans_path,
              ref_base]
           + extra)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    stat0 = cpu_times()
    launch_ms = time.time() * 1000
    log_path = os.path.join(WORK, "logs", f"{tag}.stderr.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    stat1 = cpu_times()
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited {proc.returncode} without a result; see {log_path}")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    jvm_start_s = (res["main_entry_ms"] - launch_ms) / 1000.0
    setup = dict(res["setup"], jvm_start=jvm_start_s)
    if gen_s:
        setup["inputs"] = gen_s
    setup_s = sum(setup.values())

    e2e = dict(res["e2e"], setup_s={"value": setup_s, "unit": "s"})
    if args.trace:
        metrics = {}
        for m in spec["per_layer"]:
            v = res["layers"].get(m["name"])
            owned = m["name"].startswith(OWNED[args.workload]) or m["name"] in SHARED
            if v is None and owned:
                fail(f"traced run did not report {m['name']}")
            metrics[m["name"]] = {"value": v["value"] if v else 0.0, "unit": m["unit"]}
        overhead = res["overhead"] or {
            "note": "not measurable: the traced op runs the phases one by one, each input "
                    "materialized first, so it does other work than the untraced op"}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        overhead = None

    named = dict(res["named"], setup_s={"value": setup_s, "unit": "s"})
    host = {"nproc": os.cpu_count(), "steal_pct": round(steal_pct(stat0, stat1), 3),
            "loadavg": list(os.getloadavg()), "jvm": res["versions"]["jvm"],
            "spark": res["versions"]["spark"], "scala": res["versions"]["scala"],
            "cores": res["cores"]}
    sidecar = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "host": host, "setup_stages_s": setup,
               "inputs": res["inputs"], "named": named, "metrics": metrics,
               "layers": res["layers"], "op_ms": res["op_ms"],
               "trace_overhead": overhead, "checks": res["checks"],
               "findings": res["findings"], "spans": spans_path if args.trace else None}
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(sidecar, f, indent=1)

    print(json.dumps({"workload": args.workload, "seed": args.seed, "named": named,
                      "inputs": res["inputs"], "host": host, "trace_overhead": overhead,
                      "checks": res["checks"], "findings": res["findings"]}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
