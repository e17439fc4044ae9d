#!/usr/bin/env python3
"""Plan-shape regression gate.

Compares a fresh plan snapshot (graft.PlanSnapshot output: {query:
{metric: value}}) against the committed PLAN_BASELINE.json and exits
non-zero on any STRUCTURAL regression. Plan shapes are deterministic for
a fixed corpus snapshot + conf, so unlike the bench gate there is no
noise margin: any regression is real.

A metric change is a REGRESSION when it moves in the bad direction:

  worse when HIGHER: shuffle_exchanges, sort_merge_joins,
      nested_loop_joins, cartesian_products, unsafe_bnlj
  worse when LOWER:  broadcast_hash_joins, pushed_filter_scans,
      codegen_eligible_nodes, topk_exec (a lost window -> TopKPerGroup
      rewrite)

Everything else (parquet_scans, broadcast_exchanges, scalar/bounded/
filtered bnlj counts) is informational: reported when it changes, never
fatal — e.g. trading a broadcast for a map-side prune is fine.

New queries (absent in the baseline) and removed queries are reported
but never fail the gate; refresh the baseline with
`runMain graft.PlanSnapshot` after reviewing the diff.

Usage:
    python3 tools/plan_diff.py NEW.json [BASELINE.json]
"""
import json
import os
import sys

WORSE_HIGHER = ["shuffle_exchanges", "sort_merge_joins", "nested_loop_joins",
                "cartesian_products", "unsafe_bnlj"]
WORSE_LOWER = ["broadcast_hash_joins", "pushed_filter_scans",
               "codegen_eligible_nodes", "topk_exec"]


def main():
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    new = json.load(open(sys.argv[1]))
    base_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(__file__), "..", "PLAN_BASELINE.json")
    if not os.path.exists(base_path):
        print("plan_diff: no PLAN_BASELINE.json; commit one with "
              "`runMain graft.PlanSnapshot`")
        return 0
    base = json.load(open(base_path))

    failures, notes = [], []
    for name in sorted(new):
        if name not in base:
            notes.append(f"  NEW   {name}")
            continue
        b, n = base[name], new[name]
        for m in WORSE_HIGHER:
            if n.get(m, 0) > b.get(m, 0):
                failures.append(
                    f"  WORSE {name}.{m}: {b.get(m, 0)} -> {n.get(m, 0)}")
        for m in WORSE_LOWER:
            if n.get(m, 0) < b.get(m, 0):
                failures.append(
                    f"  WORSE {name}.{m}: {b.get(m, 0)} -> {n.get(m, 0)}")
        for m in sorted(set(b) | set(n)):
            if m in WORSE_HIGHER or m in WORSE_LOWER:
                continue
            if b.get(m, 0) != n.get(m, 0):
                notes.append(
                    f"  INFO  {name}.{m}: {b.get(m, 0)} -> {n.get(m, 0)}")
    for name in sorted(set(base) - set(new)):
        notes.append(f"  GONE  {name}")

    print(f"plan_diff: {len(new)} plans vs baseline "
          f"{os.path.basename(base_path)} ({len(base)} plans)")
    for line in notes:
        print(line)
    if failures:
        print(f"plan_diff: FAIL — {len(failures)} structural regression(s):")
        for line in failures:
            print(line)
        return 1
    print("plan_diff: OK — no plan regressed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
