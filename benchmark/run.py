"""Run one benchmark measurement and print its result as the last line.

    python3 benchmark/run.py --workload spec --seed 1 --seconds 12 --trace 0

Steps: build the program (cached), generate the seed's inputs and derive
their expected outcomes (cached), run the measuring JVM, then check every
recorded operation against the expectations. With `--trace 0` the result
carries the end-to-end metrics. With `--trace 1` it carries the per-layer
metrics of a traced run, whose spans are kept in `.bench_build/traces/`.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s"}
DEADLINE_S = 170.0


def per_layer_names():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def host_counters():
    """(steal seconds, 1-minute load average) from /proc; None where absent."""
    steal = load = None
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        steal = int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
    except (OSError, ValueError):
        pass
    return steal, load


def inputs(workload, seed):
    d = os.path.join(build.BUILD, "data", "%s-%d" % (workload, seed))
    if not os.path.exists(os.path.join(d, "expect", ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
        check.write_expectations(workload, d)
        open(os.path.join(d, "expect", ".done"), "w").close()
    return d


def jvm(classes, args, deadline):
    scratch = os.path.join(build.BUILD, "tmp")
    os.makedirs(scratch, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Djava.io.tmpdir=" + scratch,
           "-Dspark.local.dir=" + scratch,
           "-Dspark.sql.warehouse.dir=" + os.path.join(scratch, "warehouse")]
    for p in build.JAVA_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graftbench.UserBench", "--t0-ns", str(time.time_ns())] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise RuntimeError("benchmark JVM did not finish in time")
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise RuntimeError("benchmark JVM exited with code %d" % proc.returncode)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    data = inputs(a.workload, a.seed)
    deadline = time.monotonic() + DEADLINE_S
    steal0, load0 = host_counters()
    t0 = time.monotonic()
    results = os.path.join(build.BUILD, "runs", "%s-%d-%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(results, ignore_errors=True)
    os.makedirs(results)
    try:
        jvm(classes, ["--workload", a.workload, "--data", data, "--results", results,
                      "--seconds", str(a.seconds), "--trace", str(a.trace)], deadline)
        with open(os.path.join(results, "metrics.json")) as f:
            m = json.load(f)
        attempted, failed, wrong, problems = check.verify(a.workload, data, results)
        if a.trace:
            traces = os.path.join(build.BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(os.path.join(results, "spans.tsv"),
                        os.path.join(traces, "%s-%d-spans.tsv" % (a.workload, a.seed)))
    finally:
        shutil.rmtree(results, ignore_errors=True)
    steal1, load1 = host_counters()

    if a.trace == 0:
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        metrics = {k: {"value": m["layer:" + k], "unit": u} for k, u in per_layer_names().items()}
    diagnostics = {
        "steal_s": None if steal0 is None else round(steal1 - steal0, 2),
        "loadavg_start": load0, "loadavg_end": load1,
        "nproc": len(os.sched_getaffinity(0)), "wall_s": round(time.monotonic() - t0, 2),
        "java": m["java_version"], "spark": m["spark_version"],
        "warmup_passes": m["warmup_passes"],
        "measured_passes": m["measured_passes"], "pass_times": m["pass_times"],
        "first_pass_s": m["first_pass_s"], "pass_s": m["pass_s"], "problems": problems,
    }
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, OSError) as e:
        sys.exit("benchmark: %s" % e)
