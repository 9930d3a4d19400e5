#!/usr/bin/env python3
"""End-to-end benchmark of the engine over two workloads.

    python3 perfbench/run.py --workload fhir_pipeline|llm_curation \
        --seed N --seconds S --trace 0|1 [--scale F] [--corrupt-expected]

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM program from source (sbt, offline) into perfbench/target;
later runs reuse that build while the sources are unchanged. Each run then

1. generates the workload's inputs from --seed (gen.py),
2. runs one JVM (perfbench.Main; it starts while the inputs are
   generated) that warms up, measures for --seconds, and checks every
   operation,
3. computes the expected results apart from the engine (expect.py) while
   the JVM warms up,
4. checks the curation outputs with Python/numpy (checks.py),

and prints, as its last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). Everything it writes lands under
.bench_build/perfbench in the checkout; the full JVM result (including
the workload-specific figures README.md tabulates) is kept there as
last_result.json, the trace spans as spans.jsonl.

--scale shrinks every input (the self-check's smoke size);
--corrupt-expected alters one expected value, so the run must report one
failed operation more.
"""
import time

T0_MS = int(time.time() * 1000)

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("fhir_pipeline", "llm_curation")
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "latency_ms": "ms"}
# run deadline: a run must end within 180 s (900 s when it builds)
RUN_LIMIT_S = 175

# input sizes at --scale 1
FHIR_SCALE = 0.25         # x the reference store's per-type counts
STORE_BATCHES, STORE_BATCH_SIZE = 3, 1000
CURATION_DOCS = 9000
# the Bloom fault needs ~3.2 K documents in the filter before the
# false-seen share passes 1 %: batch k sees 1.5 K + k x 1.25 K, so batches
# 0 and 1 stay below it and batches 2-5 pass it. The median of five
# steady-state batches was steadier over seeds than the mean of two.
ADMISSION_HISTORY, ADMISSION_SEGMENTS, ADMISSION_SEGMENT = 1500, 6, 1250
# the ETL and admission warm-ups run the same calls on inputs this much smaller
WARMUP_SHARE = 0.1

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(state):
    """Compile the engine and the benchmark program once per source state;
    return the runtime classpath and whether this call built."""
    stamp = os.path.join(state, "build.stamp")
    cp_file = os.path.join(state, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip(), False
    log("building the engine and perfbench (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [line for line in p.stdout.splitlines() if line and not line.startswith("[")][-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, True


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, scale, inputs):
    """Generate the workload's inputs (and the smaller warm-up inputs)
    and write the manifest the JVM drives them by. Returns a function
    that computes the expected results; the JVM warms up meanwhile."""
    import gen
    import expect
    os.makedirs(inputs)
    manifest = {}
    if workload == "fhir_pipeline":
        write_etl(gen, seed, WARMUP_SHARE * scale, os.path.join(inputs, "warmup"))
        corpus, recs, assay, batches = write_etl(gen, seed, scale, inputs)
        store = os.path.join(inputs, "store")
        gen.write_search_store(corpus, recs, assay, store, os.path.join(ROOT, "fixtures", "fhir"))
        patient = gen.pid(gen.rng(seed, "everything", 0).randrange(corpus.n["Patient"]))
        manifest = {"types": list(gen.REF_COUNTS),
                    "search": [{"class": c, "request": r, "kind": k}
                               for c, r, k in expect.search_mix(patient)]}

        def expected():
            return {**expect.etl_expected(recs, assay, batches),
                    "search": expect.search_expected(store, patient)}
    else:
        # the funnel warms up on the timed inputs; two admission segments
        # warm up both kinds of micro-batch (a stream's first, and a later one)
        write_admission(gen, WARMUP_SHARE * scale, os.path.join(inputs, "warmup", "admission"), 2)
        curation = write_curation(gen, seed, scale, inputs)

        def expected():   # checks.py reads them after the JVM has ended
            return {"curation": curation}
    with open(os.path.join(inputs, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return expected


def write_etl(gen, seed, scale, out):
    import expect
    corpus = gen.Corpus(seed, FHIR_SCALE * scale)
    recs = {t: corpus.records(t) for t in gen.REF_COUNTS}
    assay = expect.assay_replay(recs["DocumentReference"], recs["Group"], recs["Specimen"])
    gen.write_r5(corpus, os.path.join(out, "r5"), recs)
    batches = gen.write_store_batches(corpus, os.path.join(out, "batches"),
                                      STORE_BATCHES, max(10, round(STORE_BATCH_SIZE * scale)))
    return corpus, recs, assay, batches


def write_curation(gen, seed, scale, out):
    os.makedirs(out, exist_ok=True)
    docs = gen.documents(seed, max(200, round(CURATION_DOCS * scale)))
    gen.write_docs_parquet(os.path.join(out, "documents.parquet"), docs)
    ids = [d for d, _, _ in docs]
    mat, planted = gen.embeddings(seed, len(ids))
    gen.write_vecs_parquet(os.path.join(out, "embeddings.parquet"), ids, mat)
    hist, segs = write_admission(gen, scale, os.path.join(out, "admission"), ADMISSION_SEGMENTS)
    return {"docs": docs, "planted_vectors": planted, "vectors": mat,
            "vector_ids": ids, "history": hist, "segments": segs}


def write_admission(gen, scale, adm, segments):
    hist, segs = gen.admission_inputs(max(100, round(ADMISSION_HISTORY * scale)),
                                      segments, max(100, round(ADMISSION_SEGMENT * scale)))
    os.makedirs(adm)
    gen.write_lines(os.path.join(adm, "history.ndjson"),
                    [json.dumps({"doc_id": d, "text": t}) for d, t, _ in hist])
    for k, seg in enumerate(segs):
        gen.write_lines(os.path.join(adm, f"segment-{k:03d}.ndjson"),
                        [json.dumps({"doc_id": d, "text": t}) for d, t, _ in seg])
    return hist, segs


def corrupt(expected):
    """Alter one expected value that one operation per round checks (the
    self-check's planted mismatch)."""
    if "curation" in expected:
        expected["curation"]["corrupt"] = True
    else:
        expected["assays"] += 1


# -------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--corrupt-expected", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout", 2)
    state = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(state, exist_ok=True)
    cp, built = build(state)
    built_ms = int(time.time() * 1000)

    work = os.path.join(state, "run")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    cores = os.cpu_count() or 1
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", f"-XX:ErrorFile={work}/hs_err_%p.log",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--inputs", inputs, "--expected", os.path.join(work, "expected.json"),
            "--work", work, "--out", out,
            # set-up is timed from process start; a run that had to build
            # first times it from the end of the build
            "--t0-ms", str(built_ms if built else T0_MS), "--cores", str(cores)])
    # The JVM and Spark start while the inputs are generated. The JVM
    # warms up once inputs.ready exists, while the expected results are
    # computed; it waits for expected.ready only before its first timed
    # operation, and leaves that wait out of setup_s.
    jlog = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT)
    try:
        expected_of = make_inputs(a.workload, a.seed, a.scale, inputs)
        open(os.path.join(work, "inputs.ready"), "w").close()
        inputs_ms = time.time() * 1000
        expected = expected_of()
        if a.corrupt_expected:
            corrupt(expected)
        with open(os.path.join(work, "expected.json"), "w") as f:
            json.dump({k: v for k, v in expected.items() if k != "curation"}, f)
        open(os.path.join(work, "expected.ready"), "w").close()
        expected_ms = time.time() * 1000
        budget = RUN_LIMIT_S - (expected_ms - built_ms) / 1000
        proc.wait(timeout=max(30, budget))
    except subprocess.TimeoutExpired:
        fail(f"JVM exceeded the run's time limit; see {work}/jvm.log")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        jlog.close()
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited {proc.returncode}")
    with open(out) as f:
        res = json.load(f)

    failures = list(res["failures"])
    failed = res["failed"]
    res["detail"]["inputs_s"] = (inputs_ms - built_ms) / 1000
    res["detail"]["expected_s"] = (expected_ms - inputs_ms) / 1000
    log(f"inputs {(inputs_ms - built_ms) / 1000:.1f} s, expected results "
        f"{(expected_ms - inputs_ms) / 1000:.1f} s, JVM done "
        f"{time.time() - expected_ms / 1000:.1f} s later")
    if a.workload == "llm_curation":
        import checks
        t = time.time()
        extra = checks.check_curation(res["checks"], expected["curation"])
        log(f"curation checks {time.time() - t:.1f} s")
        failed += len(extra)
        failures += extra
    known = [m for m in failures if checks_known(m)]
    for m in failures[:10]:
        log("FAILED " + m)
    res["python_failures"] = failures
    with open(os.path.join(state, "last_result.json"), "w") as f:
        json.dump(res, f, indent=1)
    if a.trace:
        shutil.copyfile(os.path.join(work, "spans.jsonl"), os.path.join(state, "spans.jsonl"))
        metrics = res["layers"]
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": len(known) == len(failures),
                      "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


def checks_known(message):
    """A failure of one of the two program faults the benchmark counts
    (README.md, "The failures the benchmark keeps"): the NDJSON reader
    accepting single-quoted JSON, and the admission Bloom filter's
    false-seen share over its bound. A check names one of them only when
    it finds nothing else wrong with the operation."""
    return "known fault (" in message


if __name__ == "__main__":
    main()
