#!/usr/bin/env python3
"""Do two sets of benchmark runs agree within BENCHMARK.json's bounds?

    python3 perfbench/agree.py SET_A SET_B

A set is a directory of run records, as `run.py --record-dir DIR`
writes them (one `<workload>-s<seed>-t0.json` per run). Per workload and
end-to-end metric it prints each set's median, quartiles and spread (the
interquartile range as a share of the median), and the shift of B's
median from A's in the metric's worse direction. The sets agree when
every spread except that of setup_s, and every worse shift, is within
the metric's bound. Exits 1 if they do not.

To make a set:
    for s in $(seq 1 10); do
      python3 perfbench/run.py --workload olap_dashboard --seed $s --record-dir DIR
    done
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(set_dir):
    """{workload: {metric: [values]}} over the untraced runs of a set."""
    out = {}
    for f in sorted(glob.glob(os.path.join(set_dir, "*-t0.json"))):
        rec = json.load(open(f))
        if not rec["result"]["correct"]:
            sys.exit(f"{f}: run was not correct: {rec['host']['failures'][:3]}")
        w = out.setdefault(rec["host"]["workload"], {})
        for name, m in rec["result"]["metrics"].items():
            w.setdefault(name, []).append(m["value"])
    return out


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = spec["end_to_end"]
    a, b = load(sys.argv[1]), load(sys.argv[2])
    ok = True
    print(f"{'workload':16} {'metric':12} {'n':>5} {'median A':>11} {'median B':>11} "
          f"{'spread A':>9} {'spread B':>9} {'worse':>7} {'bound':>6}  verdict")
    for w in sorted(set(a) | set(b)):
        for m in metrics:
            name, bound = m["name"], m["bound"]
            va, vb = a.get(w, {}).get(name, []), b.get(w, {}).get(name, [])
            if len(va) < 2 or len(vb) < 2:
                print(f"{w:16} {name:12} too few runs ({len(va)}, {len(vb)})")
                ok = False
                continue
            ma, _, _, sa = summary(va)
            mb, _, _, sb = summary(vb)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            spread_ok = name == "setup_s" or (sa <= bound and sb <= bound)
            agree = spread_ok and worse <= bound
            ok &= agree
            print(f"{w:16} {name:12} {len(va):>2}/{len(vb):<2} {ma:11.4g} {mb:11.4g} "
                  f"{sa:9.3f} {sb:9.3f} {worse:+7.3f} {bound:6.2f}  "
                  f"{'agree' if agree else 'DISAGREE'}")
    print("sets agree" if ok else "sets DISAGREE")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
