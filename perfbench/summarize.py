#!/usr/bin/env python3
"""Summarise a traced benchmark run.

    python3 perfbench/summarize.py --workload crawl_batch --seed 1

Reads perfbench/results/<workload>-seed<n>-trace1.{result.json,spans.jsonl}
and prints every per-layer metric by name, the unattributed remainder of
each op (op wall time minus the self times of its spans), and the tracing
overhead: traced versus untraced end-to-end metrics on the same seed, when
an untraced run of that seed has been made (trace 0).
"""

import argparse
import json
import os

RESULTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")


def report(res, spans_path, untraced_path):
    print("per-layer metrics (mean per measured op; a bypassed layer reads 0):")
    for name, m in res["per_layer"].items():
        print(f"layer {name} {m['value']:.6g} {m['unit']}")

    ops, self_s = {}, {}
    for line in open(spans_path):
        rec = json.loads(line)
        if rec["type"] == "op":
            ops[rec["op"]] = rec["wall_s"]
        elif rec["op"] >= 0:
            self_s[rec["op"]] = self_s.get(rec["op"], 0.0) + rec["self_s"]
    print("per-op wall = span self times + unattributed remainder:")
    for op in sorted(o for o in ops if o >= 0):
        wall, spanned = ops[op], self_s.get(op, 0.0)
        print(f"op {op} wall_s {wall:.4f} span_self_s {spanned:.4f} "
              f"unattributed_s {wall - spanned:.4f} ({100 * (wall - spanned) / wall:.1f}%)")

    if os.path.isfile(untraced_path):
        base = json.load(open(untraced_path))
        print("tracing overhead (traced vs untraced, same seed):")
        for name, m in res["end_to_end"].items():
            b = base["end_to_end"][name]["value"]
            ratio = m["value"] / b if b else float("nan")
            print(f"overhead {name} traced {m['value']:.6g} untraced {b:.6g} "
                  f"{m['unit']} ratio {ratio:.3f}")
    else:
        print("tracing overhead: no untraced run of this seed yet "
              f"(run with --trace 0 to write {os.path.basename(untraced_path)})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    args = ap.parse_args()
    stem = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}")
    res = json.load(open(f"{stem}-trace1.result.json"))
    report(res, f"{stem}-trace1.spans.jsonl", f"{stem}-trace0.result.json")


if __name__ == "__main__":
    main()
