#!/usr/bin/env python3
"""graft layered benchmark: one workload, one seed, one run.

usage (from the repository root):
  python3 perfbench/run.py --workload <olap_arrow|llm_pipeline|table_dml>
      --seed <n> --seconds <s> --trace <0|1>
      [--sf <scale>] [--expect <digests.json>] [--record <digests.json>]

Builds the engine and the harness from source with sbt on first use
(outputs under $CARGO_TARGET_DIR, default .bench_build), generates the
fixture tables for --sf, runs the workload in one JVM as a closed loop
with one client on a local[nproc] Spark session, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
its per-layer metrics (the traced run). Exits non-zero when a
correctness check fails or the run cannot complete.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DEFAULT_SF = "0.01"
# the run proper (data, JVM) must end within this; a first run's build
# comes on top of it
DEADLINE_S = 170
def fail(msg, code=2):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(code)


def source_fingerprint(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.*"), recursive=True))
    for f in files:
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, out):
    """Compile engine + harness once per source state; returns the
    runtime classpath and the root build's JVM options."""
    cp_file = os.path.join(out, "classpath.txt")
    opts_file = os.path.join(out, "java_options.txt")
    fp_file = os.path.join(out, "classpath.fingerprint")
    fp = source_fingerprint(root)
    if not (os.path.exists(cp_file) and os.path.exists(opts_file)
            and os.path.exists(fp_file) and open(fp_file).read() == fp):
        env = dict(os.environ)
        env["PERFBENCH_OUT"] = out
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        for f in (cp_file, opts_file, fp_file):
            if os.path.exists(f):
                os.remove(f)
        log = os.path.join(out, "build.log")
        with open(log, "w") as lf:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "perfbench/launchSpec"],
                cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                text=True, timeout=840)
        if p.returncode != 0 or not os.path.exists(cp_file) \
                or not os.path.exists(opts_file):
            sys.stderr.write(open(log, errors="replace").read()[-4000:])
            fail(f"build failed (see {log})")
        with open(fp_file, "w") as f:
            f.write(fp)
    cp = open(cp_file).read().strip()
    # the root build's options, less its heap size: the harness sets its own
    jvm = [o for o in open(opts_file).read().splitlines()
           if o and not o.startswith("-Xmx")]
    return cp, jvm


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", default=DEFAULT_SF)
    ap.add_argument("--expect")
    ap.add_argument("--record")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("run from the repository root (no BENCHMARK.json here)")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not (os.path.exists(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("the engine sources (build.sbt, src/main/scala/graft) are missing")

    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench")
    os.makedirs(out, exist_ok=True)
    cp, jvm_opts = build(root, out)
    t_start = time.time()

    data = os.path.join(out, "data", f"sf{a.sf}")
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), a.sf, data],
                   check=True)

    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--out", result]
    if a.workload == "llm_pipeline":
        if a.record:
            args += ["--record", os.path.abspath(a.record)]
        else:
            args += ["--expect", os.path.abspath(a.expect) if a.expect else
                     os.path.join(HERE, "expected", f"llm_sf{a.sf}.json")]
    cmd = (["java"] + jvm_opts
           + ["-Xmx3g", "-XX:+UseG1GC", "--enable-native-access=ALL-UNNAMED",
              "-Dio.netty.tryReflectionSetAccessible=true",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", cp, "perfbench.Main"] + args)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(DEADLINE_S - (time.time() - t_start), 10))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0 or not os.path.exists(result):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        fail("the benchmark JVM " + ("timed out" if code is None
                                     else f"exited with {code}"), 1)
    r = json.load(open(result))
    if a.trace:
        traces = os.path.join(out, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(traces, f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    for n in r["notes"]:
        print("NOTE " + n)
    if not r["metrics"]:
        fail("the run did not get past set-up (see the notes above)", 1)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = r["metrics"]
    metrics, absent = {}, []
    for m in wanted:
        if m["name"] in got:
            v = got[m["name"]]
        elif a.trace:
            v = 0.0  # layer not exercised by this workload
            absent.append(m["name"])
        else:
            fail(f"end-to-end metric {m['name']} was not measured", 1)
        if not math.isfinite(v):
            fail(f"metric {m['name']} is {v}", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print("WEATHER " + json.dumps(r["weather"]))
    if absent:
        print("NOT_EXERCISED " + json.dumps(absent))
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
