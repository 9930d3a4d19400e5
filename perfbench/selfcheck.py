#!/usr/bin/env python3
"""Self-check of the benchmark at smoke size.

    python3 perfbench/selfcheck.py

Runs every workload through run.py at --scale 0.05 (the same code path as
a full run, on small inputs) three times:

* clean: every failed operation must be one of the known program faults
  (`correct` true);
* with --corrupt-expected, which alters one expected value: the run must
  report exactly one failed operation more, and `correct` false, so a
  check cannot pass silently;
* traced: every per-layer metric is printed, and every stage the workload
  runs shows Spark jobs and wall time, so the job-to-span attribution is
  exercised on both workloads.

Exits 0 when all of that holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, WORKLOADS  # noqa: E402

PER_LAYER = [m["name"] for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]]


def run(workload, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--scale", "0.05", *extra],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} {extra}: exit {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
    return out


# the stages each workload runs (perfbench.Layers.AllStages)
STAGES = {
    "fhir_pipeline": ["etl.ingest", "etl.transform", "etl.assay", "etl.store",
                      "search.simple", "search.join", "search.count", "search.text"],
    "llm_curation": ["curation.quality", "curation.exact", "curation.lsh",
                     "curation.semdedup", "curation.admission"],
}


def main():
    problems = []
    for w in WORKLOADS:
        clean = run(w, "--trace", "0")
        bad = run(w, "--trace", "0", "--corrupt-expected")
        traced = run(w, "--trace", "1")
        print(f"{w}: clean {clean['failed']}/{clean['attempted']} failed (known faults), "
              f"corrupted {bad['failed']}/{bad['attempted']} failed")
        if set(clean["metrics"]) != set(END_TO_END):
            problems.append(f"{w}: end-to-end metrics {sorted(clean['metrics'])}")
        if not clean["correct"]:
            problems.append(f"{w}: the smoke run failed operations beyond the known faults")
        if bad["failed"] != clean["failed"] + 1 or bad["correct"]:
            problems.append(f"{w}: a corrupted expected value was not reported as one failure")
        m = traced["metrics"]
        missing = [k for k in PER_LAYER if k not in m]
        if missing:
            problems.append(f"{w}: traced run lacks {missing[:5]}")
        idle = [st for st in STAGES[w]
                if not (m.get(f"{st}.jobs", {}).get("value", 0) > 0 and
                        m.get(f"{st}.wall_s", {}).get("value", 0) > 0)]
        if idle:
            problems.append(f"{w}: traced run attributes no jobs or no time to {idle}")
    for p in problems:
        print("PROBLEM", p)
    print("self-check", "failed" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
