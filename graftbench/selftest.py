#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the checkout root:

    python3 graftbench/selftest.py

1. A key made to throw is counted as failed and is not timed.
2. A key made to return a wrong row is counted as failed and not timed.
3. The traced and the untraced run cover the same keys, pass for pass.
4. Every span's self time is >= 0, and every metric BENCHMARK.json
   declares is reported.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD = "olap_read"


def run(seed, trace, inject=""):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           WORKLOAD, "--seed", str(seed), "--seconds", "1", "--trace",
           str(trace)]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"run failed ({p.returncode}):\n{p.stderr[-3000:]}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    stem = f"{WORKLOAD}-seed{seed}-trace{trace}"
    with open(os.path.join(".graftbench", "results", stem + ".json")) as f:
        rec = json.load(f)
    return last, rec, stem


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        check.failed = True


check.failed = False


def main():
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    keys = spec["workloads"][WORKLOAD]["keys"]

    # clean runs first: a key that fails its check there stays failed, and
    # the injected keys are chosen among the others
    out0, rec0, _ = run(8, 0)
    out1, rec1, stem1 = run(8, 1)
    natural = set(rec0["failed"])
    check(set(rec1["failed"]) == natural,
          f"the traced and untraced clean runs fail the same keys "
          f"({sorted(natural)})")
    thrower, wrong = [k for k in keys if k not in natural][:2]

    out, rec, _ = run(7, 0, f"{thrower}=throw,{wrong}=wrong")
    bad = {o["name"] for o in rec["ops"] if o["error"]}
    check(bad == natural | {thrower, wrong},
          f"exactly the injected and the clean-run failures failed: {bad}")
    n_bad = sum(1 for o in rec["ops"] if o["name"] in bad)
    check(out["failed"] == n_bad and not out["correct"],
          f"every run of a failing key counts as failed ({out['failed']})")
    check(out["attempted"] == len(rec["ops"]), "attempted counts every run")
    check("injected failure" in rec["failed"][thrower],
          "the thrower's error is recorded")
    check(rec["failed"][wrong].startswith("wrong result"),
          "the wrong row is caught by the output check")
    good = [o for o in rec["ops"] if not o["error"]]
    samples = [o for o in good if o["pass"] > 0]
    check(rec["query_samples"] == len(samples),
          "latency samples are the successful measured warm runs only")
    total = sum(o["total_s"] for o in good if o["pass"] == 0)
    check(abs(rec["end_to_end"]["first_pass_s"] - total) < 1e-9,
          "first_pass_s sums only successful keys")

    def per_pass(r):
        return {p: sorted(o["name"] for o in r["ops"] if o["pass"] == p)
                for p in {o["pass"] for o in r["ops"]}}
    p0, p1 = per_pass(rec0), per_pass(rec1)
    check(all(v == p0[0] for v in list(p0.values()) + list(p1.values())),
          "traced and untraced runs cover the same keys in every pass")
    check(set(out0["metrics"]) == {m["name"] for m in bench["end_to_end"]},
          "the untraced run reports every end-to-end metric")
    check(set(out1["metrics"]) == {m["name"] for m in bench["per_layer"]},
          "the traced run reports every per-layer metric")
    check(set(spec["moves"]) == {m["name"] for m in bench["per_layer"]},
          "workloads.json says what every per-layer metric moves")
    with open(os.path.join(".graftbench", "results",
                           stem1 + "-spans.json")) as f:
        spans = json.load(f)
    check(len(spans) > 0 and all(s["self_ms"] >= 0 for s in spans),
          f"all {len(spans)} spans have self time >= 0")
    layers = {s["layer"] for s in spans}
    check({"key", "build", "execute", "job", "stage"} <= layers,
          f"spans cover key, build, execute, job and stage ({sorted(layers)})")

    sys.exit(1 if check.failed else 0)


if __name__ == "__main__":
    main()
