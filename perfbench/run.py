"""Benchmark entry point.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: survey_pipeline, curation, query_floor (see perfbench/README.md).
Builds the program on first use (perfbench/build.py), generates the run's
inputs from the seed, runs one JVM (perfbench.Main), and prints a full
report line followed, as the last line, by
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
Exits non-zero without a result when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("survey_pipeline", "curation", "query_floor")
SURVEY_ROWS = (30_000, 6_000)  # online, offline responses
END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s",
                    "op_p90_s": "s", "cpu_s": "s", "retained_heap_mb": "MB"}
JVM_TIMEOUT_S = 170
STEAL_LIMIT = 0.02  # a run losing more CPU than this to steal is contended
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cpu_times():
    """Aggregate /proc/stat cpu counters (user nice system idle iowait irq
    softirq steal), or None where /proc is unavailable."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def snapshot():
    return {"cpu": cpu_times(), "load": loadavg()}


def host_context(before, after, cpus, jvm_args):
    """Where and under what contention the run happened. Steal is the share
    of the CPU time the guest wanted but the hypervisor gave to others."""
    nproc = len(os.sched_getaffinity(0))
    ctx = {"nproc": nproc, "cores_used": cpus, "jvm_args": jvm_args,
           "git_commit": git_commit(), "source_digest": build.digest(build.sources()),
           "loadavg_before": before["load"], "loadavg_after": after["load"]}
    reasons = []
    if before["cpu"] and after["cpu"]:
        delta = [a - b for a, b in zip(after["cpu"], before["cpu"])]
        busy = delta[0] + delta[1] + delta[2] + delta[5] + delta[6]
        ctx["steal_share"] = delta[7] / max(1, busy + delta[7])
        ctx["busy_share"] = busy / max(1, sum(delta))
        if ctx["steal_share"] > STEAL_LIMIT:
            reasons.append(f"CPU steal took {ctx['steal_share']:.1%} of the "
                           "CPU time the run wanted")
    ctx["contended"] = bool(reasons)
    ctx["contention"] = reasons
    return ctx


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, work, inputs):
    out = os.path.join(work, "record.json")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss4m",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--tables", build.TABLES, "--inputs", inputs,
              "--work", work, "--expected", os.path.join(HERE, "expected.json"),
              "--out", out])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"run: JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM running
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"run: JVM exited with {code}")
    with open(out) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))

    build.build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(build.OUT, "work", tag)
    results = os.path.join(build.OUT, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(results, exist_ok=True)
    inputs = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    if args.workload == "survey_pipeline":
        gen.write_survey(inputs, args.seed, *SURVEY_ROWS)
    else:
        os.makedirs(inputs)
    input_gen_s = time.perf_counter() - t0

    before = snapshot()
    record = run_jvm(args, work, inputs)
    after = snapshot()
    with open(os.path.join(results, tag + ".spans.json"), "w") as f:
        json.dump(record["spans"], f)
    shutil.rmtree(work, ignore_errors=True)

    e2e, op_samples = report.end_to_end(record, input_gen_s)
    failed = report.failed_ops(record)
    full = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "end_to_end": e2e, "op_samples": op_samples,
            "failed_ratio": failed / max(1, record["attempted"]),
            "setup_session_s": record["setup_session_s"],
            "retained_heap_end_mb": record["retained_heap_end_mb"],
            "warmup_s": record["warmup_s"], "input_gen_s": input_gen_s,
            "checks_run": len(record["checks"]),
            "checks_failed": sum(1 for c in record["checks"] if not c["ok"]),
            "failures": record["failures"],
            "host": host_context(before, after, record["cpus"], record["jvm_args"])}
    if args.trace:
        layers, split, unreconciled, overhead = report.per_layer(record)
        full.update(per_layer=layers, layer_split_s=split,
                    unreconciled_ops=unreconciled, trace_overhead_s=overhead)
        metrics = {k: {"value": layers[k], "unit": report.unit(k)}
                   for k in report.PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in e2e.items() if k != "op_p90_s"}
    with open(os.path.join(results, tag + ".report.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full))
    print(json.dumps({"correct": failed == 0, "attempted": record["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
