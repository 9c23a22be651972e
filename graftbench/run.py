#!/usr/bin/env python3
"""graft benchmark: run one workload for one seed and print its metrics.

    python3 graftbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the library
and the benchmark's runner with sbt; later runs reuse the build while the
sources are unchanged. The parquet mixes read the project's fixed sf0.1
test tables (seed 42), committed unchanged under graftbench/data/sf0.1 and
checked against its SHA256SUMS on every run. Everything the benchmark
writes goes under `.graftbench/` in the checkout; each JVM gets a private
root there, emptied first (staging tmpdir, Spark local dir, warehouse,
corpus, results to check).

An untraced run first takes SETUP_SAMPLES - 1 set-up samples, each a
fresh JVM that starts a session, stages the families the mix reads and
exits. Then one JVM (graftbench.Runner) at local[nproc] does the same
set-up (the last sample; setup_s is the median), one cold pass over the
mix in the seed's order that writes every result as parquet, then whole
warm passes (noop sink) until --seconds have been measured, at least two.
A closed loop with one client: each key starts when the previous one has
finished. After the JVM exits, every result of the cold pass is checked
against the key's DuckDB twin (parquet mixes) or against the corpus
generator's expected values (etl_write). A throw or a wrong result is a
failed operation and its times are left out.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end metrics; with
--trace 1 they are the per-layer metrics, from a run that attaches Spark
listeners and does an untraced, a traced and an untraced warm pass (the
traced pass over the mean of the other two is the tracing overhead). Each
run also writes a result record with its provenance, and a traced run its
spans, under `.graftbench/results/`. Metric names and units come from
BENCHMARK.json; the mixes and what each layer metric moves, from
workloads.json.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402

SF_DIR = os.path.join(HERE, "data", "sf0.1")
XMX = "4g"
# set-up samples per untraced run, each from a fresh JVM; setup_s is their
# median. Each more adds ~15 s to an etl_write run.
SETUP_SAMPLES = 2
# all runner JVMs of one run, after the build, end within this many seconds
RUN_BUDGET_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


T0 = time.time()


def log(msg):
    print(f"[graftbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr,
          flush=True)


def sha(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
        h.update(b"\0")
    return h.hexdigest()


def tree_hash(root, rels):
    """Hash of every file under the given paths (relative to root)."""
    h = hashlib.sha256()
    for rel in rels:
        base = os.path.join(root, rel)
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_proc(cmd, cwd, env, timeout, log_path):
    """Run a child to completion (killed on timeout); its output goes to
    log_path. Returns the exit code."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            p.kill()
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---------------------------------------------------------------- build

def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt_classpath(cwd, log_path):
    code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], cwd, sbt_env(), 850,
                    log_path)
    if code != 0:
        raise BenchError(f"sbt build failed in {cwd}:\n{tail(log_path)}")
    with open(log_path) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if os.pathsep in ln and not ln.startswith("[")]
    if not cps:
        raise BenchError(f"no classpath in sbt output:\n{tail(log_path)}")
    return cps[-1]


def build(root, work):
    """Build the library and the runner unless the sources are unchanged.
    Returns the runner's classpath."""
    bench = os.path.relpath(HERE, root)
    src_hash = tree_hash(root, ["build.sbt", "project/build.properties",
                                "src/main", f"{bench}/build.sbt",
                                f"{bench}/project/build.properties",
                                f"{bench}/src"])
    bdir = os.path.join(work, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp = os.path.join(bdir, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("sources") == src_hash:
            return s["classpath"], src_hash
    log("building the library and the runner (first run in this checkout)")
    lib_cp = sbt_classpath(root, os.path.join(bdir, "lib-build.log"))
    with open(os.path.join(bdir, "lib.classpath"), "w") as f:
        f.write(lib_cp)
    cp = sbt_classpath(HERE, os.path.join(bdir, "runner-build.log"))
    with open(stamp, "w") as f:
        json.dump({"sources": src_hash, "classpath": cp}, f)
    return cp, src_hash


# ---------------------------------------------------------------- inputs

def tables():
    """Checks the committed sf0.1 tables against SHA256SUMS. Returns the
    table names and the hash of SHA256SUMS, which names their contents."""
    sums = os.path.join(SF_DIR, "SHA256SUMS")
    if not os.path.exists(sums):
        raise BenchError(f"missing {sums}")
    names = []
    with open(sums) as f:
        for line in f:
            want, fname = line.split()
            path = os.path.join(SF_DIR, fname)
            if not os.path.exists(path):
                raise BenchError(f"missing table {path}")
            with open(path, "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != want:
                    raise BenchError(f"{path} does not match SHA256SUMS")
            names.append(fname[:-len(".parquet")])
    with open(sums, "rb") as f:
        return names, hashlib.sha256(f.read()).hexdigest()


def oracle_rows(work, tables_hash, names, sql):
    """DuckDB result of a key's twin as a DataFrame, cached by
    (tables, sql)."""
    import duckdb
    import pandas as pd
    cdir = os.path.join(work, "oracle")
    os.makedirs(cdir, exist_ok=True)
    path = os.path.join(cdir, sha(tables_hash, sql)[:24] + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    for t in names:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    df = con.sql(sql).df()
    con.close()
    df.to_pickle(path)
    return df


# ---------------------------------------------------------------- checks
# Same normalisation and tolerance as scripts/check_oracle.py: columns
# sorted by name, rows in produced order, 1e-7 tolerance on floats,
# NaN and NULL equal.

def norm(v):
    import numpy as np
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, np.floating):
        v = float(v)
    if isinstance(v, np.integer):
        v = int(v)
    if isinstance(v, float):
        return round(v, 9)
    return v


def is_null(v):
    import pandas as pd
    if isinstance(v, (list, tuple)) or hasattr(v, "__len__") and \
            not isinstance(v, str):
        return False
    return v is None or bool(pd.isna(v))


def close(a, b):
    a, b = norm(a), norm(b)
    if is_null(a) or is_null(b):
        return is_null(a) and is_null(b)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-7,
                                abs_tol=1e-7)
        except (TypeError, ValueError):
            return a == b
    return a == b


def same_column(a, b):
    """Element-wise close() over two equally long Series; a vectorised
    pass for plain numeric columns, the cell-by-cell rule otherwise."""
    import numpy as np
    import pandas as pd
    if pd.api.types.is_integer_dtype(a) and pd.api.types.is_integer_dtype(b):
        bad = np.flatnonzero(a.to_numpy() != b.to_numpy())
        return int(bad[0]) if len(bad) else None
    if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
        x, y = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
        nx, ny = np.isnan(x), np.isnan(y)
        ok = (nx & ny) | (~nx & ~ny & np.isclose(
            np.round(x, 9), np.round(y, 9), rtol=1e-7, atol=1e-7))
        bad = np.flatnonzero(~ok)
        return int(bad[0]) if len(bad) else None
    for i, (u, v) in enumerate(zip(a.tolist(), b.tolist())):
        if not close(u, v):
            return i
    return None


def compare(expected, got_dir, ordered=True):
    """None when the parquet result in got_dir equals the expected
    DataFrame; else the first difference. Unordered results are compared
    after sorting both sides."""
    import duckdb
    if not os.path.isdir(got_dir):
        return "no result written"
    con = duckdb.connect()
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'").df()
    con.close()
    cols = sorted(expected.columns)
    if sorted(got.columns) != cols:
        return f"columns differ: expected {cols}, got {sorted(got.columns)}"
    if len(got) != len(expected):
        return f"rows differ: expected {len(expected)}, got {len(got)}"
    exp, got = expected[cols], got[cols]
    if not ordered:
        exp = exp.sort_values(cols).reset_index(drop=True)
        got = got.sort_values(cols).reset_index(drop=True)
    for c in cols:
        i = same_column(exp[c], got[c])
        if i is not None:
            return f"row {i} col {c}: expected {exp[c].iloc[i]!r}, " \
                   f"got {got[c].iloc[i]!r}"
    return None


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_runner(classpath, root, rdir, cfg, deadline):
    """One runner JVM in the private root rdir, emptied first, killed at
    the deadline. Returns its result record."""
    shutil.rmtree(rdir, ignore_errors=True)
    for sub in ["tmp", "local", "warehouse"]:
        os.makedirs(os.path.join(rdir, sub))
    cfg = dict(cfg, root=rdir, out=os.path.join(rdir, "result.json"))
    with open(os.path.join(rdir, "config.json"), "w") as f:
        json.dump(cfg, f)
    java = ["java"] + [a for p in ADD_OPENS
                       for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{XMX}", f"-Djava.io.tmpdir={rdir}/tmp",
        "-Dspark.ui.enabled=false", "-cp", classpath, "graftbench.Runner",
        os.path.join(rdir, "config.json")]
    jlog = os.path.join(rdir, "runner.log")
    code = run_proc(java, root, dict(os.environ),
                    max(1.0, deadline - time.time()), jlog)
    if code != 0 or not os.path.exists(cfg["out"]):
        raise BenchError(f"runner exited {code}:\n{tail(jlog)}")
    with open(cfg["out"]) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", default="",
                    help="self-test only: key=throw|wrong[,key=...]")
    args = ap.parse_args(argv)

    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "BENCHMARK.json"]:
        if not os.path.exists(os.path.join(root, need)):
            raise BenchError(f"not a graft source checkout: {need} missing "
                             f"under {root}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        raise BenchError(f"unknown workload {args.workload}")
    wl = spec["workloads"][args.workload]
    work = os.path.join(root, ".graftbench")

    classpath, src_hash = build(root, work)
    names, tables_hash = tables()
    deadline = time.time() + RUN_BUDGET_S
    log("inputs ready")

    rdir = os.path.join(work, "run", args.workload)
    keys = list(wl.get("keys", [])) + (
        ["etl_cities_count", "etl_revenue_by_filing"] if "corpus" in wl
        else [])
    random.Random(args.seed).shuffle(keys)
    manifest = cities = revenue = None
    if "corpus" in wl:
        # outside rdir, which each runner JVM empties
        cdir = os.path.join(work, "corpus", args.workload)
        shutil.rmtree(cdir, ignore_errors=True)
        cities, revenue = corpus.make_corpus(cdir, args.seed,
                                             wl["corpus"]["filings"])
        manifest = os.path.join(cdir, "manifest.txt")
    cores = os.cpu_count() or 1
    inject = dict(kv.split("=", 1) for kv in args.inject.split(",") if kv)
    cfg = {"workload": args.workload, "keys": keys,
           "stagers": wl.get("stagers", []), "sf_dir": SF_DIR,
           "seconds": args.seconds, "trace": bool(args.trace),
           "cores": cores, "inject": inject, "manifest": manifest}

    # set-up samples, each from a fresh JVM and an empty staging root; the
    # main run's own set-up is the last one
    setups = []
    if not args.trace:
        for i in range(SETUP_SAMPLES - 1):
            s = run_runner(classpath, root, f"{rdir}-setup", dict(
                cfg, setup_only=True), deadline)
            setups.append(s["setup_s"])
        shutil.rmtree(f"{rdir}-setup", ignore_errors=True)
        log(f"set-up samples: {setups}")
    res = run_runner(classpath, root, rdir, cfg, deadline)
    setups.append(res["setup_s"])
    log("runner done")

    # ---- correctness, outside every timed window ----
    wrong = {}
    for k in wl.get("keys", []):
        sql = res["oracle"].get(k)
        if sql is None:
            wrong[k] = "no DuckDB twin"
            continue
        try:
            diff = compare(oracle_rows(work, tables_hash, names, sql),
                           os.path.join(rdir, "check", k))
        except Exception as e:  # a broken twin is a failed check
            diff = f"oracle error: {e}"
        if diff:
            wrong[k] = diff
    if manifest:
        import pandas as pd
        exp = {"etl_cities_count": pd.DataFrame(
                   sorted(cities.items()), columns=["City", "Count"]),
               "etl_revenue_by_filing": pd.DataFrame(
                   sorted(revenue.items()), columns=["doc", "revenue"])}
        for k, e in exp.items():
            diff = compare(e, os.path.join(rdir, "check", k), ordered=False)
            if diff:
                wrong[k] = diff

    log("checks done")
    ops = res["ops"]
    for o in ops:
        if o["error"] is None and o["name"] in wrong:
            o["error"] = "wrong result: " + wrong[o["name"]]
    failed = [o for o in ops if o["error"]]
    for name in sorted({o["name"] for o in failed}):
        err = next(o["error"] for o in failed if o["name"] == name)
        log(f"FAILED {name}: {err}")
    good = [o for o in ops if not o["error"]]

    warm = [o for o in good if o["pass"] > 0 and not o["traced"]]
    by_key = {}
    for o in warm:
        by_key.setdefault(o["name"], []).append(o["total_s"])
    samples = [o["total_s"] for o in warm]
    e2e = {
        # session start plus staging of the mix's families, from an empty
        # staging root: the median of the run's set-up samples
        "setup_s": median(setups),
        # the cold pass over the mix, writing each result as parquet
        "first_pass_s": sum(o["total_s"] for o in good if o["pass"] == 0),
        # one warm pass: every key once, at its median warm time
        "total_s": sum(median(v) for v in by_key.values()),
        # per-key latency, call into the key function to the completed noop
        # write, pooled over the warm passes
        "query_p50_s": median(samples),
        # largest heap in use after the between-key GC
        "live_heap_mb": res["live_heap_mb"],
    }
    layers = {}
    if args.trace:
        layers = dict(res["layers"])

        def pass_s(p):
            return sum(o["total_s"] for o in good if o["pass"] == p)
        untraced = (pass_s(1) + pass_s(3)) / 2
        layers["trace.overhead_ratio"] = (
            pass_s(2) / untraced - 1 if untraced > 0 else float("nan"))
        layers["ops.fail_ratio"] = len(failed) / max(1, len(ops))
        etl_s = [o["total_s"] for o in good if o["pass"] == 2 and
                 o["name"].startswith("etl_")]
        n_f = wl.get("corpus", {}).get("filings", 0)
        layers["ingest.filings_per_s"] = (
            n_f / median(etl_s) if etl_s and n_f else 0.0)

    record = {
        "provenance": {
            "source_hash": src_hash, "git_commit": git_commit(root),
            "nproc": cores, "master": res["master"],
            "sf_dir": os.path.relpath(SF_DIR, root),
            "tables_sha256": tables_hash,
            "seed": args.seed, "mix_hash": sha(*wl.get("keys", []),
                                                json.dumps(wl.get("corpus")))
            [:16], "xmx": XMX, "spark_version": res["spark_version"],
            "workload": args.workload, "trace": args.trace,
            "seconds": args.seconds},
        "key_order": keys,
        # too few samples per run for a gated p75: it has only a quarter
        # of the samples beyond it
        "query_samples": len(samples),
        "query_p75_s": quantile(samples, 0.75) if samples else None,
        "setup_samples_s": setups,
        "staging_s": res["staging"], "session_start_s": res["session_start_s"],
        "failed": {o["name"]: o["error"] for o in failed},
        "end_to_end": e2e,
        "per_layer": layers,
        "ops": ops,
    }
    rout = os.path.join(work, "results")
    os.makedirs(rout, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(rout, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace and os.path.exists(os.path.join(rdir, "spans.json")):
        shutil.copy(os.path.join(rdir, "spans.json"),
                    os.path.join(rout, stem + "-spans.json"))

    values = layers if args.trace else e2e
    declared = bench["per_layer" if args.trace else "end_to_end"]
    print(f"provenance: {json.dumps(record['provenance'])}")
    print(f"query samples: {len(samples)} warm runs of {len(by_key)} keys, "
          f"p75 {record['query_p75_s']}")
    out = {"correct": not failed, "attempted": len(ops),
           "failed": len(failed),
           "metrics": {m["name"]: {"value": nan_none(values[m["name"]]),
                                   "unit": m["unit"]} for m in declared}}
    print(json.dumps(out), flush=True)


def nan_none(v):
    return None if math.isnan(v) else v


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True, timeout=10
                              ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    # a terminated run still stops and reaps its runner (see run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(2)
