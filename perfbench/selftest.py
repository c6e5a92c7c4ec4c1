#!/usr/bin/env python3
"""Fast self-test of the benchmark, on the sf 0.001 fixtures.

usage (from the repository root): python3 perfbench/selftest.py

For every workload it makes one untraced and one traced run of a single
deck and checks that the last line is the result object, that every
metric BENCHMARK.json names is printed with its unit, and that a metric
the traced run leaves at 0 as "not exercised" belongs to a layer the
workload bypasses. Then it runs llm_pipeline against a deliberately
wrong expected digest and checks that the run fails. Exits non-zero on
the first check that does not hold.
"""
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SF = "0.001"
LLM_OPS = [k for k in json.load(open(os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "expected", f"llm_sf{SF}.json")))]
DML_KINDS = ["insert", "update", "delete", "merge", "point", "range_agg",
             "version_as_of", "change_feed", "ivm", "compact", "vacuum"]
# per-layer metrics each workload bypasses, so may leave unmeasured
BYPASSED = {
    "llm_pipeline": ("arrow.write.", "arrow.log.latest_epoch_ms",
                     "arrow.log.meta_", "arrow.log.maintenance_ms",
                     "arrow.dml.", "streaming.ivm_maintain_ms")
    + tuple(f"queries.{k}_p50_ms" for k in DML_KINDS),
    "table_dml": ("functions.", "operators.")
    + tuple(f"queries.{k}_p50_ms" for k in LLM_OPS),
}


def run(workload, trace, extra=()):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "0.5", "--trace", str(trace), "--sf", SF,
         *extra], cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def check(cond, msg):
    if not cond:
        sys.exit(f"selftest FAILED: {msg}")


def main():
    for w in [x["name"] for x in SPEC["workloads"]]:
        for trace in (0, 1):
            code, out, err = run(w, trace)
            check(code == 0, f"{w} trace={trace} exited {code}: {err[-2000:]}")
            r = json.loads(out[-1])
            check(set(r) == {"correct", "attempted", "failed", "metrics"},
                  f"{w}: result keys {sorted(r)}")
            check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                  f"{w} trace={trace}: {r['correct']} {r['attempted']} {r['failed']}")
            want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
            for m in want:
                got = r["metrics"].get(m["name"])
                check(got is not None and got["unit"] == m["unit"]
                      and isinstance(got["value"], (int, float)),
                      f"{w} trace={trace}: metric {m['name']} printed as {got}")
                if not trace:
                    check(got["value"] > 0, f"{w}: {m['name']} is {got['value']}")
            absent = next((json.loads(l[len("NOT_EXERCISED "):]) for l in out
                           if l.startswith("NOT_EXERCISED ")), [])
            stray = [n for n in absent if not n.startswith(BYPASSED[w])]
            check(not stray, f"{w}: layers it should measure are missing: {stray}")
            print(f"ok {w} trace={trace} ({r['attempted']} ops)")

    good = os.path.join(ROOT, "perfbench", "expected", f"llm_sf{SF}.json")
    digests = json.load(open(good))
    first = next(iter(digests))
    digests[first] = "0" * 24 + digests[first][24:]
    bad_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                           "perfbench", "selftest")
    os.makedirs(bad_dir, exist_ok=True)
    bad = os.path.join(bad_dir, "wrong_digest.json")
    json.dump(digests, open(bad, "w"))
    code, out, _ = run("llm_pipeline", 0, ["--expect", bad])
    check(code != 0, "a wrong expected digest did not fail the run")
    check(not out or not out[-1].startswith("{") or not json.loads(out[-1])["correct"],
          "a wrong expected digest was reported correct")
    print("ok wrong digest fails the run")


if __name__ == "__main__":
    main()
