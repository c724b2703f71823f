#!/usr/bin/env python
"""Reproducible cross-round bench tables (VERDICT r13 item 7).

Every cross-round comparison divides each query's raw seconds by the
SAME record's control-query seconds, both sides read from committed
JSON records — never re-parsed by eye.  Two record shapes are accepted:

- driver records (BENCH_r*.json): {"n", "rc", "cpus", "sf", "tail",
  "parsed": {<bench line>}} — the bench line is taken from "parsed";
- raw bench lines (BENCH_LOCAL_FULL.json or a bench.py stdout capture):
  {"metric", "value", "queries", "control", ...}.

Usage:
    python tools/perf_tables.py BENCH_r13.json BENCH_LOCAL_FULL.json
    python tools/perf_tables.py --control-a pricing_summary A.json B.json

Prints a markdown table of raw and control-normalized seconds for every
query present in both records, the normalized speedup (>1 = B faster),
and geomean rows.  Exits non-zero if either record lacks a usable
control (missing, or 0 s) or the records share no query, so a
truncated record can never silently produce a table.
"""
from __future__ import annotations

import argparse
import json
import math
import sys


def load_bench(path: str) -> dict:
    with open(path) as fh:
        rec = json.load(fh)
    if "parsed" in rec and isinstance(rec["parsed"], dict):
        rec = rec["parsed"]
    if "queries" not in rec or not isinstance(rec["queries"], dict):
        raise SystemExit(f"{path}: no usable 'queries' dict (truncated record?)")
    return rec


def control_sec(rec: dict, path: str, override: str | None) -> float:
    if override is not None:
        if override not in rec["queries"]:
            raise SystemExit(f"{path}: control override {override!r} not in queries")
        sec = float(rec["queries"][override])
    else:
        ctl = rec.get("control")
        if not isinstance(ctl, dict) or "sec" not in ctl:
            raise SystemExit(
                f"{path}: no control block; pass --control-a/--control-b to pick a "
                "control query present in the record"
            )
        sec = float(ctl["sec"])
    if sec <= 0:
        raise SystemExit(f"{path}: control takes {sec} s; cannot normalise by it")
    return sec


def geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    if not xs:
        return float("nan")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("record_a", help="the BEFORE record (e.g. BENCH_r13.json)")
    ap.add_argument("record_b", help="the AFTER record")
    ap.add_argument("--control-a", default=None, help="control query name for A")
    ap.add_argument("--control-b", default=None, help="control query name for B")
    args = ap.parse_args()

    a, b = load_bench(args.record_a), load_bench(args.record_b)
    ca = control_sec(a, args.record_a, args.control_a)
    cb = control_sec(b, args.record_b, args.control_b)

    shared = sorted(set(a["queries"]) & set(b["queries"]))
    if not shared:
        raise SystemExit(f"{args.record_a} and {args.record_b} share no query")
    only_a = sorted(set(a["queries"]) - set(b["queries"]))
    only_b = sorted(set(b["queries"]) - set(a["queries"]))

    print(f"<!-- A={args.record_a} control={ca:.3f}s  "
          f"B={args.record_b} control={cb:.3f}s  shared={len(shared)} -->")
    print("| query | A raw s | B raw s | A norm | B norm | norm speedup (A/B) |")
    print("|---|---|---|---|---|---|")
    rows = []
    for q in shared:
        ra, rb = float(a["queries"][q]), float(b["queries"][q])
        na, nb = ra / ca, rb / cb
        rows.append((na / nb if nb > 0 else float("nan"), q, ra, rb, na, nb))
    for sp, q, ra, rb, na, nb in sorted(rows, reverse=True):
        print(f"| {q} | {ra:.3f} | {rb:.3f} | {na:.2f} | {nb:.2f} | {sp:.2f} |")
    tot_a = sum(r[2] for r in rows)
    tot_b = sum(r[3] for r in rows)
    print(f"| **total (shared)** | {tot_a:.2f} | {tot_b:.2f} | "
          f"{tot_a / ca:.1f} | {tot_b / cb:.1f} | "
          f"{(tot_a / ca) / (tot_b / cb):.2f} |")
    print(f"\nGeomean normalized speedup (A/B, >1 = B faster): "
          f"**{geomean([r[0] for r in rows]):.3f}**; "
          f"raw geomean {geomean([r[2] / r[3] for r in rows if r[3] > 0]):.3f}.")
    if only_a:
        print(f"\nOnly in A: {', '.join(only_a)}")
    if only_b:
        print(f"Only in B: {', '.join(only_b)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
