#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (into $CARGO_TARGET_DIR, default .bench_build);
later runs reuse the build while no source file changed. Each run is one
JVM on local[nproc]. The last line of stdout is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The full recording (stamps, spans, per-query records) is written to
perfbench/out/<workload>-seed<n>-trace<0|1>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("snapshot_topn1000", "batch_queries_sf0.1")
# per-layer metric prefixes of the layers each workload's traced run does
# not exercise; they read 0
NOT_EXERCISED = {
    "snapshot_topn1000": ("streaming.", "SparkEntry."),
    "batch_queries_sf0.1": ("SnapshotRunner.", "sources.", "functions.", "operators.",
                            "snapshot."),
}
FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")
FINGERPRINTS = os.path.join(HERE, "fingerprints.tsv")
HEAP = "4g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt unless the last build saw the same sources."""
    launch = os.path.join(build_dir, "perfbench", "launch.txt")
    stamp = os.path.join(build_dir, "perfbench", "sources.sha256")
    digest = source_digest()
    if os.path.isfile(launch) and os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return launch
    env = dict(os.environ, PERFBENCH_BUILD=build_dir, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "writeLaunch"]
    try:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if proc.returncode != 0 or not os.path.isfile(launch):
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}; run from the root of a checkout")
    if not os.path.isfile(os.path.join(FIXTURES, "lineitem.parquet")):
        fail(f"fixtures missing under {FIXTURES}")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    launch = build(build_dir)
    classpath, jvm_opts = "", []
    with open(launch) as fh:
        for line in fh.read().splitlines():
            key, _, value = line.partition("=")
            if key == "classpath":
                classpath = value
            elif key == "jvmopt" and not value.startswith(("-Xmx", "-Dderby")):
                jvm_opts.append(value)

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + jvm_opts +
           ["-cp", classpath, "perfbench.Run",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--fixtures", FIXTURES,
            "--fingerprints", FINGERPRINTS, "--out", out])
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, timeout=RUN_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(out):
        fail(f"run failed ({code})")
    with open(out) as fh:
        result = json.load(fh)["result"]
    print(json.dumps(with_declared_metrics(result, a.workload, a.trace)))


def with_declared_metrics(result, workload, trace):
    """The result with exactly the metrics BENCHMARK.json declares for this
    kind of run. A per-layer metric of a layer the workload does not
    exercise (streaming.* on a refresh, say) is 0; any other missing
    metric fails the run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if trace else "end_to_end"]
    measured = result["metrics"]
    names = {m["name"] for m in declared}
    if set(measured) - names:
        fail(f"undeclared metrics {sorted(set(measured) - names)}")
    metrics = {}
    for m in declared:
        v = measured.get(m["name"])
        if v is None:
            if not trace or not m["name"].startswith(NOT_EXERCISED[workload]):
                fail(f"missing metric {m['name']}")
            v = {"value": 0.0, "unit": m["unit"]}
        if v["unit"] != m["unit"]:
            fail(f"{m['name']}: unit {v['unit']}, declared {m['unit']}")
        metrics[m["name"]] = v
    return dict(result, metrics=metrics)


if __name__ == "__main__":
    main()
