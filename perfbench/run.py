"""Benchmark of the petasearch Spark port: one workload per run.

Usage, from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/scala/Main.scala for their shapes):
  search_homolog_rich  query batches against a DB rich in planted homologs
  search_sparse_large  query batches against a larger, mostly-decoy DB
Each run also builds its DB as set-up, appends a 10 % batch to it, checks
the Cas7-11 self-search against the golden hit set, and times a mix of the
generic operators' registry queries.

The run builds the program from source into .bench_build/ (reused while the
sources are unchanged), runs the workload in its own JVM and Spark session,
checks its outputs, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Lines before it give every
figure by name, with its unit. Traced runs also leave their spans in
.bench_build/spans/.
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
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["search_homolog_rich", "search_sparse_large"]
DEADLINE_S = 170  # every run must end within 180 s
FIRST_BUILD_DEADLINE_S = 880


def stop(signum, frame):
    # unwinds through the finally blocks that stop the JVM and clean up
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def metric_specs():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]], units)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, stop)
    e2e_names, layer_names, units = metric_specs()

    # a run that compiles may take the first run's allowance
    rebuilt = build.build()
    deadline = t_start + (FIRST_BUILD_DEADLINE_S if rebuilt else DEADLINE_S)

    work = os.path.abspath(os.path.join(
        build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = build.java_cmd(work) + [a.workload, str(a.seed), str(a.seconds),
                                  str(a.trace), work]
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(10.0, deadline - time.time() - 20))
        result_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(result_path):
            sys.exit(f"perfbench: the benchmark JVM failed (exit {proc.returncode})")
        with open(result_path) as f:
            res = json.load(f)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: the run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    e2e, layers, report = res["end_to_end"], res["per_layer"], res["report"]
    names = e2e_names if a.trace == 0 else layer_names
    source = e2e if a.trace == 0 else layers
    missing = [k for k in names if k not in source]
    if missing:
        failures.append(f"metrics not measured: {missing}")
        failed += 1
        attempted += 1
    report["error_rate"] = {"value": failed / max(attempted, 1), "unit": "share"}

    if res["spans"]:
        os.makedirs(os.path.join(build.OUT, "spans"), exist_ok=True)
        with open(os.path.join(build.OUT, "spans",
                               f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump(res["spans"], f, indent=1)

    for note in res["notes"]:
        print(f"# {note}")
    for f in failures:
        print(f"# FAILED: {f}")
    figures = {**e2e, **report} if a.trace == 0 else layers
    for k, v in figures.items():
        print(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    metrics = {k: source.get(k, {"value": 0.0, "unit": units[k]}) for k in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
