#!/usr/bin/env python3
"""Diff two Bench outputs (bench_full.json or BENCH_r{N}.json).

Usage: bench_compare.py OLD NEW [--top N]

Accepts either the raw one-line Bench JSON ({"metric":"total",...,
"queries":{...},"failed":{...}}) or a BENCH_r{N}.json wrapper. A
wrapper's "parsed" field holds the full line intact and is read first.
When it has no "queries", the captured tail is read instead; a tail cut
short keeps only the queries it still holds whole, and such a side is
reported as partial, with totals over the keys both sides have.

Where either side carries per-key "cold" (rep-1 seconds) and "compiles"
(classes compiled per rep), the keys shown also get both sides' cold
seconds and compile counts; an output without them prints "-".

A key that crashed is listed under "failed" with its cause, not under
"queries". Such keys are printed as failed-old / failed-new (never as
only-old / only-new), and the exit status is 1 when NEW has a failure
that OLD does not.
"""
import json
import re
import sys


def tail_queries(tail):
    """Queries dict recovered from a wrapper's captured tail, and whether
    it is whole. The full line orders "queries" before "solo"; a tail that
    starts inside the queries dict keeps its whole "key":sec pairs."""
    m = re.search(r'"queries":(\{[^}]*\})', tail)
    if m:
        return json.loads(m.group(1)), True
    end = tail.find('},"solo":{')
    if end < 0:
        return None, False
    pairs = re.findall(r'(?<=[{,])"([^"]+)":(-?[0-9.]+(?:[eE][-+]?[0-9]+)?)',
                       tail[:end])
    return ({k: float(v) for k, v in pairs} or None), False


def whole_line(d):
    """(queries, failed, whole, cold, compiles) of a full Bench line."""
    return (d["queries"], d.get("failed", {}), True, d.get("cold", {}),
            d.get("compiles", {}))


def load(path):
    """(queries, failed, whole, cold, compiles) of one Bench output; failed
    maps key -> cause; whole is False when queries came from a truncated
    tail, which keeps no cold or compiles (they precede queries)."""
    with open(path) as f:
        d = json.load(f)
    if "queries" in d:
        return whole_line(d)
    # BENCH_r{N}.json wrapper: "parsed" holds the full line intact
    parsed = d.get("parsed") or {}
    if "queries" in parsed:
        return whole_line(parsed)
    tail = d.get("tail", "")
    queries, whole = tail_queries(tail)
    if queries is None:
        sys.exit(f"{path}: no queries dict found")
    failed = {}
    for line in tail.splitlines():
        line = line.strip()
        if line.startswith("{") and '"queries"' in line:
            try:
                failed = json.loads(line).get("failed", {})
            except ValueError:  # a truncated full line keeps only queries
                pass
    return queries, failed, whole, {}, {}


def main():
    top = 15
    args = []
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--top" or a.startswith("--top="):
            if "=" in a:
                top = int(a.split("=", 1)[1])
            else:
                i += 1
                if i >= len(argv):
                    sys.exit("--top requires a value")
                top = int(argv[i])
        elif a.startswith("--"):
            sys.exit(f"unknown flag {a}")
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    (old, old_failed, old_whole, old_cold, old_comp), \
        (new, new_failed, new_whole, new_cold, new_comp) = \
        load(args[0]), load(args[1])
    for path, q, whole in ((args[0], old, old_whole),
                           (args[1], new, new_whole)):
        if not whole:
            print(f"partial: {path}: {len(q)} queries recovered from a "
                  f"truncated tail")
    both = sorted(set(old) & set(new),
                  key=lambda k: abs(new[k] - old[k]), reverse=True)
    print(f"{'query':40s} {'old':>8s} {'new':>8s} {'delta':>8s}")
    for k in both[:top]:
        print(f"{k:40s} {old[k]:8.2f} {new[k]:8.2f} {new[k]-old[k]:+8.2f}")
    if old_cold or new_cold or old_comp or new_comp:
        def cold(c, k):
            return f"{c[k]:.2f}" if k in c else "-"

        def comp(c, k):
            return ",".join(str(n) for n in c[k]) if k in c else "-"
        print(f"{'query':40s} {'cold-old':>8s} {'cold-new':>8s} "
              f"{'compiles-old':>14s} {'compiles-new':>14s}")
        for k in both[:top]:
            print(f"{k:40s} {cold(old_cold, k):>8s} {cold(new_cold, k):>8s} "
                  f"{comp(old_comp, k):>14s} {comp(new_comp, k):>14s}")
    failed = set(old_failed) | set(new_failed)
    # a partial side lacks keys because its tail was cut, not its run
    for name, s in (("only-old", set(old) - set(new) - failed),
                    ("only-new", set(new) - set(old) - failed)):
        if s and old_whole and new_whole:
            print(f"{name}: {', '.join(sorted(s))}")
    for name, fails in (("failed-old", old_failed),
                        ("failed-new", new_failed)):
        for k in sorted(fails):
            print(f"{name}: {k}: {fails[k]}")
    if old_whole and new_whole:
        print(f"total: {sum(old.values()):.1f} -> {sum(new.values()):.1f} "
              f"({sum(new.values()) - sum(old.values()):+.1f}; "
              f"{len(old)} -> {len(new)} queries)")
    else:
        t_old, t_new = (sum(q[k] for k in both) for q in (old, new))
        print(f"total over {len(both)} common queries: {t_old:.1f} -> "
              f"{t_new:.1f} ({t_new - t_old:+.1f})")
    regressed = sorted(set(new_failed) - set(old_failed))
    if regressed:
        print(f"NEW fails where OLD did not: {', '.join(regressed)}")
        sys.exit(1)


if __name__ == "__main__":
    main()
