#!/usr/bin/env python3
"""The engine's drain benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the harness from source with sbt (`perfbench/build.sbt`); later runs reuse
the build while the sources are unchanged. Everything a run writes stays
under `.bench_build/` in the checkout.

Workloads (BatchSize 1000, the reference default):

  drain_append  sequential extractor, INSERT appends into an empty sink
  cdc_upsert    queue extractor over a skewed changelog of UPDATEs and
                REMOVEs, into a pre-loaded ~150k-row replica

A run generates its inputs from the seed (`gen.py`), starts one JVM with
`local[<cpus>]`, warms the drain loop up on copies of the inputs until
consecutive batch windows agree (or a cap of 22 s), then drives the
measured drain for `--seconds`. An untimed catch-up in large batches finishes the
input, and the destination and the tracking position are checked against
a reference computed without the engine.

`--trace 0` prints the end-to-end metrics. `--trace 1` interleaves
`Pipeline.runBatch` with traced batches that make the same calls inside
spans, and prints the per-layer metrics; the span tree goes to
`.bench_build/spans/`.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The line before it stamps the run: workload, seed, cpus, heap and commit.
A fuller report, with the input properties and set-up phases, goes to
`.bench_build/reports/`.
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

import numpy as np

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

WORKLOADS = ("drain_append", "cdc_upsert")
HEAP = "2g"
GEN_REPEATS = 3  # input generation is repeated; set-up counts the median
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600

# metric names and units, as BENCHMARK.json defines them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

# What spark-submit would add on JDK 17 (Spark's JavaModuleOptions).
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


def source_fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for tree in trees:
        for d, dirs, names in os.walk(tree):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(fingerprint):
    """Compile engine and harness; return the runtime classpath."""
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            done = json.load(f)
        if done.get("fingerprint") == fingerprint:
            return done["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    try:
        done = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not finish: {e}")
    lines = [l for l in done.stdout.splitlines() if l.strip()]
    if done.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fingerprint, "classpath": classpath}, f)
    return classpath


def git_commit():
    """HEAD of the checkout, when the checkout is itself a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode != 0 or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def run_jvm(classpath, args, work, cores):
    out = os.path.join(work, "harness.json")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main",
            "--cores", str(cores), "--out", out] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return None, f"harness exited with {rc}"
    with open(out) as f:
        return json.load(f), None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full",
                    help="input size; 'tiny' is for the smoke test")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE}; run from a full checkout")
    fingerprint = source_fingerprint()
    classpath = build(fingerprint)
    cores = len(os.sched_getaffinity(0))

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    inputs = os.path.join(work, "inputs")
    gen_times = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        expected, props = gen.generate(a.workload, a.seed, inputs, a.size)
        gen_times.append(time.perf_counter() - t0)
    gen_s = statistics.median(gen_times)

    spans = os.path.join(BUILD, "spans", f"{tag}.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    args = ["--workload", a.workload, "--input", inputs,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.trace:
        args += ["--spans", spans]
    res, error = run_jvm(classpath, args, work, cores)

    problems = [error] if error else []
    if res is not None:
        if res["error"]:
            problems.append(res["error"])
        if not res["caught_up"]:
            problems.append("the drain did not catch up")
        if not problems:
            problems += gen.check(a.workload, inputs, expected)
    correct = not problems
    attempted = max(1, res["attempted"] if res else 1)
    failed = res["failed"] if correct else attempted

    values = {}
    if res is not None:
        if a.trace:
            values = res["per_layer"]
        elif res["batch_ms"]:
            values = {
                "setup_s": gen_s + res["session_s"] + res["warmup_s"],
                "drain_rows_per_s": res["rows"] / res["wall_s"],
                "batch_ms_p50": statistics.median(res["batch_ms"]),
                "dest_bytes_per_row": res["dest_bytes"] / max(1, res["dest_rows"]),
                "peak_heap_mb": res["peak_heap_mb"],
            }
    wanted = PER_LAYER if a.trace else END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in wanted.items() if values.get(k) is not None}
    if correct and set(metrics) != set(wanted):
        problems.append(f"metrics missing: {sorted(set(wanted) - set(metrics))}")
        correct, failed = False, attempted

    stamp = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
             "size": a.size, "seconds": a.seconds, "cpus": cores,
             "heap": HEAP, "commit": git_commit(),
             "source_fingerprint": fingerprint[:16]}
    report = dict(stamp, correct=correct, attempted=attempted, failed=failed,
                  error_rate=failed / attempted, problems=problems,
                  input=props, metrics=metrics,
                  setup={"generate_s": gen_s, "generate_runs_s": gen_times,
                         **({k: res[k] for k in ("session_s", "warmup_s",
                                                 "warmup_batch_ms")}
                            if res else {})},
                  batches=dict(
                      {k: res[k] for k in ("batch_ms", "rows", "wall_s",
                                           "dest_rows", "dest_files")},
                      # too few samples lie above it for a bounded metric
                      batch_ms_p90=float(np.percentile(res["batch_ms"], 90))
                      if res["batch_ms"] else None)
                  if res else None)
    os.makedirs(os.path.join(BUILD, "reports"), exist_ok=True)
    with open(os.path.join(BUILD, "reports", f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    print("# " + " ".join(f"{k}={v}" for k, v in stamp.items()))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
