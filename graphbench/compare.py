#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

    python3 graphbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the JSON artifacts that run.py writes under
.bench_out/ (untraced runs only are read). Results over different corpora
are not comparable, so the comparison is refused when any two artifacts
carry different corpus hashes. For every end-to-end metric the table shows
each side's median and quartile spread and the change's shift against the
bound in BENCHMARK.json.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        a = json.load(open(p))
        if not a.get("trace"):
            runs.setdefault(a["workload"], []).append(a)
    return runs


def summary(values):
    med = statistics.median(values)
    if len(values) < 2:
        return med, float("nan")
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med if med else float("nan")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, change = load(sys.argv[1]), load(sys.argv[2])
    hashes = {a["corpus"]["sha256"] for side in (base, change)
              for runs in side.values() for a in runs}
    if len(hashes) != 1:
        sys.exit(f"refusing to compare: {len(hashes)} corpus hashes {sorted(hashes)}")
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    print(f"corpus {hashes.pop()}")
    for wl in sorted(set(base) & set(change)):
        print(f"\n{wl}: {len(base[wl])} base runs, {len(change[wl])} change runs")
        for m in spec["end_to_end"]:
            b = [a["result"]["metrics"][m["name"]]["value"] for a in base[wl]]
            c = [a["result"]["metrics"][m["name"]]["value"] for a in change[wl]]
            bm, bs = summary(b)
            cm, cs = summary(c)
            worse = (cm - bm) / bm if m["better"] == "lower" else (bm - cm) / bm
            flag = "REGRESSED" if worse > m["bound"] else ""
            print(f"  {m['name']:32s} base {bm:12.4f} (spread {bs:.3f})  "
                  f"change {cm:12.4f} (spread {cs:.3f})  worse by "
                  f"{worse:+.3f} of bound {m['bound']} {flag}")


if __name__ == "__main__":
    main()
