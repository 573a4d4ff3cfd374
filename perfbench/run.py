"""graft benchmark: one workload per run, one result line.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the library and the harness on first use
(perfbench/build.py), makes the workload's inputs from --seed, runs it in one
JVM at local[nproc] (fixed heap, ParallelGC), checks every output, and prints
as the last line of stdout:

    {"correct": …, "attempted": …, "failed": …, "metrics": {name: {value, unit}}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. Workloads, metrics and sizing are described in
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import corpus  # noqa: E402

WORKLOADS = ("crawl", "data_round")
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 150
FRONTIER_STEPS = ("functions.frontier_gen", "frontier.filter_new", "frontier.robots_gate",
                  "frontier.schedule", "validate.fetch_validate", "frontier.bloom_merge")


def jvm(classes, run_dir, cores, args, pin=False):
    """Run graftbench.Main in its own JVM; return its result.json."""
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={cores}",
        "-Xmn1g", "-XX:-UseAdaptiveSizePolicy",
        "-XX:+AlwaysPreTouch",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
        "-cp", f"{classes}:{build.jar_dir()}/*", "graftbench.Main"] + args
    if pin:
        cmd = ["taskset", "-c", ",".join(str(c) for c in sorted(os.sched_getaffinity(0))[:cores])] + cmd
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "ab") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, cwd=run_dir)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"bench: JVM for {args[0]} exceeded {JVM_TIMEOUT_S} s")
    sys.stdout.write(out.decode(errors="replace"))
    path = os.path.join(args[4], "result.json")
    if not os.path.isfile(path):
        raise SystemExit(f"bench: JVM for {args[0]} exited {p.returncode} without a result")
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build()
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build.build_dir(), f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.workload == "data_round":
            corpus.generate(os.path.join(run_dir, "data"), a.seed)
        res = jvm(classes, run_dir, cores,
                  [a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir, str(cores)])
        metrics = res["metrics"]
        errors = list(res["errors"])
        failed = res["failed"]
        if a.workload == "data_round":
            for q, err in corpus.check(os.path.join(run_dir, "data"), os.path.join(run_dir, "first"),
                                       os.path.join(run_dir, "oracle_sql.json")).items():
                if err:
                    failed += 1
                    errors.append(f"{q}: oracle mismatch: {err}")
        if a.trace and a.workload == "data_round" and cores > 1 and "frontier.schedule_s" in metrics:
            # single-core frontier round in its own pinned JVM, after the nproc JVM exits
            one_dir = os.path.join(run_dir, "one-core")
            one = jvm(classes, one_dir, 1,
                      [a.workload, str(a.seed), str(a.seconds), "0", one_dir, "1", "scaling"], pin=True)
            failed += one["failed"]
            errors += one["errors"]
            t1 = one["metrics"]["scaling_round_s"]["value"]
            tn = sum(metrics[f"{s}_s"]["value"] for s in FRONTIER_STEPS)
            metrics["frontier.scaling_eff"] = {"value": t1 / tn / cores, "unit": "ratio"}
    finally:
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.isfile(spans):  # the traced run's spans outlive its run directory
            shutil.copy(spans, os.path.join(build.build_dir(), f"spans-{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        name = m["name"]
        if name in metrics:
            out[name] = {"value": metrics[name]["value"], "unit": m["unit"]}
        elif a.trace:
            # a layer step this workload does not run did no work here
            out[name] = {"value": 0.0, "unit": m["unit"]}
        else:
            errors.append(f"metric {name} was not measured")
            failed += 1
    attempted = max(int(res["attempted"]), 1)
    for e in errors:
        print(f"FAILED: {e}", file=sys.stderr)
    if not a.trace:
        summary = {k: v["value"] for k, v in out.items()}
        summary["failed_share"] = failed / attempted
        print("summary " + a.workload + ": " + ", ".join(
            f"{k}={v:.4g}" for k, v in summary.items()))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
