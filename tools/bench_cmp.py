#!/usr/bin/env python3
"""Per-query diff of two BENCH_LOCAL artifacts, anchor-normalized.

Usage: tools/bench_cmp.py OLD.json NEW.json [threshold_ratio]

Normalizes each query's ratio by its class anchor (t1 for compute, sh
for shuffle — the r13 two-anchor discipline) so host drift between the
two runs does not masquerade as code change.

An anchor ratio is used only when both artifacts carry that anchor;
otherwise its class compares raw walls, and the header says so.

Prints each artifact's `failed` list (queries that threw, never timed;
artifacts written before the field existed read as none), the queries
present in only one artifact, and exits 1 when NEW has a failed query
that OLD does not. A query missing from NEW that NEW's `failed` does not
name is flagged: a dropped entry, not a failure.
"""
import json
import sys

old = json.load(open(sys.argv[1]))
new = json.load(open(sys.argv[2]))
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.25
# older BENCH_LOCAL files may predate the anchor block (or its sh leg);
# a one-sided anchor is no host factor, so that class stays raw
oa, na = old.get("anchor", {}), new.get("anchor", {})


def anchor_ratio(key):
    return na[key] / oa[key] if oa.get(key) and na.get(key) else None


t1, sh = anchor_ratio("t1_sec"), anchor_ratio("sh_sec")
shown = "  ".join(f"{k} {r:.3f}" if r else f"{k} absent (raw)"
                  for k, r in (("t1", t1), ("sh", sh)))
print(f"total {old['total_sec']} -> {new['total_sec']}  anchor ratios: {shown}")
t1, sh = t1 or 1.0, sh or 1.0
failed = {}
for label, art in (("OLD", old), ("NEW", new)):
    failed[label] = {f["query"]: f["error"] for f in art.get("failed", [])}
    print(f"{label} failed: {len(failed[label])}")
    for q, err in sorted(failed[label].items()):
        print(f"  {q:44s} {err}")
rows = []
for q, nv in new["queries"].items():
    ov = old["queries"].get(q)
    # a 0.0 old time (sub-ms entry) has no meaningful ratio and would
    # divide by zero (r16 ADVICE) — skip it before the arithmetic
    if ov is None or ov <= 0:
        continue
    cls = new.get("classes", {}).get(q, "compute")
    norm = (nv / ov) / (t1 if cls == "compute" else sh)
    rows.append((norm, q, ov, nv, cls))
rows.sort()
print("\nfast-side movers (normalized ratio <= 1/thr):")
for norm, q, ov, nv, cls in rows:
    if norm <= 1 / thr and max(ov, nv) > 0.2:
        print(f"  {q:44s} {ov:7.3f} -> {nv:7.3f}  x{norm:.2f} [{cls}]")
print("slow-side movers (normalized ratio >= thr):")
for norm, q, ov, nv, cls in rows:
    if norm >= thr and max(ov, nv) > 0.2:
        print(f"  {q:44s} {ov:7.3f} -> {nv:7.3f}  x{norm:.2f} [{cls}]")
ncomp = sum(1 for r in rows if r[4] == "compute")
print(f"\n{len(rows)} common entries ({ncomp} compute)")
only_old = sorted(set(old["queries"]) - set(new["queries"]))
only_new = sorted(set(new["queries"]) - set(old["queries"]))
if only_old:
    print("only in OLD: " + ", ".join(only_old))
if only_new:
    print("only in NEW: " + ", ".join(only_new))
dropped = [q for q in only_old if q not in failed["NEW"]]
if dropped:
    print(f"MISSING from NEW and not in its failed list: {', '.join(dropped)}")
new_failures = sorted(set(failed["NEW"]) - set(failed["OLD"]))
if new_failures:
    print(f"FAIL: {len(new_failures)} queries fail in NEW but not in OLD: "
          + ", ".join(new_failures))
    sys.exit(1)
