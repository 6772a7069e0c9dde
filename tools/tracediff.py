#!/usr/bin/env python3
"""Compare the Spark work of two traced perfbench runs, op by op.

    python3 tools/tracediff.py A/trace.json B/trace.json

Each argument is a `perfbench/work/<workload>/trace.json` written by
`perfbench/run.py --trace 1` (copy it aside between runs: every run
rewrites it). For every op, matched by name and by its occurrence among
ops of that name, the script compares the SQL executions, jobs and
stages the op ran and its jobs per module (the job span's name: the
program module whose frame started the job, or `spark`).

Two kinds of difference are reported apart:
  - count changes: an op ran a different number of executions, jobs or
    stages (the work itself changed);
  - module moves: per-module job counts differ (work moved between
    modules, or a count change landed in one module).

Exit status: 0 when no op's counts changed (module moves alone are
reported but do not fail), 1 otherwise, 2 on unreadable input.
"""
import argparse
import collections
import json
import sys

KINDS = ("execution", "job", "stage")


def load(path):
    """Per-op counts of one trace, keyed by (op name, occurrence)."""
    try:
        with open(path) as fh:
            spans = json.load(fh)["spans"]
    except (OSError, ValueError, KeyError) as e:
        print(f"tracediff: cannot read {path}: {e}", file=sys.stderr)
        sys.exit(2)
    seen = collections.Counter()
    keys = {}
    for s in sorted((s for s in spans if s["kind"] == "op"), key=lambda s: s["id"]):
        seen[s["name"]] += 1
        keys[s["op"]] = (s["name"], seen[s["name"]])
    ops = {k: {"counts": collections.Counter(), "modules": collections.Counter()}
           for k in keys.values()}
    for s in spans:
        key = keys.get(s["op"])
        if key is None or s["kind"] not in KINDS:
            continue
        ops[key]["counts"][s["kind"]] += 1
        if s["kind"] == "job":
            ops[key]["modules"][s["name"]] += 1
    return ops


def label(key):
    name, n = key
    return name if n == 1 else f"{name} #{n}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a", help="trace.json of the base run")
    ap.add_argument("b", help="trace.json of the compared run")
    args = ap.parse_args()
    a, b = load(args.a), load(args.b)

    total = {side: collections.Counter() for side in ("a", "b")}
    for side, ops in (("a", a), ("b", b)):
        for op in ops.values():
            total[side].update(op["counts"])
    print(f"ops: {len(a)} in A, {len(b)} in B")
    print("totals: " + ", ".join(
        f"{k}s {total['a'][k]} -> {total['b'][k]}" for k in KINDS))

    changed, moved = [], []
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            changed.append(f"  {label(key)}: only in {'A' if key in a else 'B'}")
            continue
        ca, cb = a[key]["counts"], b[key]["counts"]
        if any(ca[k] != cb[k] for k in KINDS):
            changed.append(f"  {label(key)}: " + ", ".join(
                f"{k}s {ca[k]} -> {cb[k]}" for k in KINDS if ca[k] != cb[k]))
        ma, mb = a[key]["modules"], b[key]["modules"]
        delta = {m: mb[m] - ma[m] for m in set(ma) | set(mb) if mb[m] != ma[m]}
        if delta:
            moved.append(f"  {label(key)}: " + ", ".join(
                f"{m} {d:+d}" for m, d in sorted(delta.items(), key=lambda kv: (kv[1], kv[0]))))

    print(f"\ncount changes ({len(changed)} ops):")
    print("\n".join(changed) if changed else "  none")
    print(f"\nmodule moves ({len(moved)} ops):")
    print("\n".join(moved) if moved else "  none")
    sys.exit(1 if changed else 0)


if __name__ == "__main__":
    main()
