"""graft benchmark: one run of one workload.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload sna_community --seed 1 --seconds 10 --trace 0

Builds the program (perfbench/build.py), generates the seeded inputs
(perfbench/gen.py), runs the workload in its own JVM on local[<nproc>]
(perfbench/scala/PerfBench.scala), checks the outputs against reference
values computed apart from the program (perfbench/reference.py), and
prints one JSON object as the last line of standard output:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-span ones. A line starting with "# diagnostics" before it carries the
noise diagnostics (host steal %, JVM GC seconds, every pass's time and
job count). Everything the run writes stays under the build directory
($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("sna_community", "curation")
SPAN_METRICS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                ("driver_only_s", "s"), ("executor_cpu_s", "s"),
                ("shuffle_write_mb", "MB"), ("retained_mb", "MB")]
WARMUP_SCALE = 0.1
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cpu_sample():
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def inputs(work, workload, seed):
    """Generated inputs for (workload, seed), cached under the build dir
    together with their reference values; the cache key covers the
    generator, the reference code and the warm-up scale."""
    h = hashlib.sha256(str(WARMUP_SCALE).encode())
    for name in ("gen.py", "reference.py"):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    d = os.path.join(work, "inputs", f"{workload}-{seed}-{h.hexdigest()[:12]}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, os.path.join(d, "main"))
        gen.generate(workload, seed, os.path.join(d, "warm"), WARMUP_SCALE)
        open(os.path.join(d, "done"), "w").close()
    return os.path.join(d, "main"), os.path.join(d, "warm")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    work = os.path.join(build_dir, "perfbench")
    os.makedirs(work, exist_ok=True)
    classes = build.build(work)
    main_in, warm_in = inputs(work, a.workload, a.seed)

    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = os.cpu_count() or 4
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={run_dir}/tmp",
              "-cp", f"{classes}{os.pathsep}{os.path.join(build.SPARK_JARS, '*')}",
              "graft.perfbench.PerfBench", a.workload,
              os.path.join(main_in, "data"), os.path.join(warm_in, "data"),
              run_dir, str(a.seconds), str(a.trace), str(cpus)])
    steal0 = cpu_sample()
    log_path = os.path.join(run_dir, "jvm.log")
    t_launch = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    steal1 = cpu_sample()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-8000:])
        sys.stderr.write(f"benchmark JVM failed ({rc})\n")
        return 1
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    import reference  # after the JVM: keeps its imports out of the timed run
    passes = res["passes"]
    checks = reference.check(
        a.workload, main_in, os.path.join(run_dir, "check"), passes[0]["scalars"])
    failures = checks.failures
    # every pass computes the same scalars and runs the same jobs
    for i, p in enumerate(passes[1:], 1):
        if p["scalars"] != passes[0]["scalars"]:
            failures.append(f"CHECK FAILED pass.{i}.same_outputs: expected="
                            f"{passes[0]['scalars']} got={p['scalars']} tolerance=exact")
    jobs = [p["jobs"] for p in passes]
    if len(set(jobs)) != 1:
        failures.append(f"CHECK FAILED passes.same_job_count: expected={jobs[0]} "
                        f"got={jobs} tolerance=exact")
    for line in failures:
        sys.stderr.write(line + "\n")

    walls = [p["wall_s"] for p in passes]
    d_steal, d_total = steal1[0] - steal0[0], steal1[1] - steal0[1]
    diag = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "steal_pct": round(100.0 * d_steal / d_total, 3) if d_total else 0.0,
            "gc_s": res["gc_s"], "pass_s": walls, "jobs_per_pass": jobs,
            "retained_mb_per_pass": [p["retained_mb"] for p in passes],
            "checks": checks.count, "checks_failed": len(failures),
            "measured": checks.measured}
    print("# diagnostics " + json.dumps(diag))

    if a.trace:
        metrics = {}
        for span in passes[0]["spans"]:  # all 16, in the driver's order
            for m, unit in SPAN_METRICS:
                vals = [p["spans"][span][m] for p in passes]
                metrics[f"{span}.{m}"] = {"value": statistics.median(vals), "unit": unit}
    else:
        metrics = {
            "setup_s": {"value": res["ready_ms"] / 1000.0 - t_launch, "unit": "s"},
            "pass_s": {"value": statistics.median(walls), "unit": "s"},
            "retained_mb": {"value": statistics.median([p["retained_mb"] for p in passes]),
                            "unit": "MB"},
        }
    ops = len(res["spans_called"])
    print(json.dumps({"correct": not failures, "attempted": ops * len(passes),
                      "failed": 0, "metrics": metrics}))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
