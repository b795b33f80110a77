"""Names the layer metrics that moved most between two sets of records.

    python3 perfbench/diff.py BEFORE AFTER [--top N]

BEFORE and AFTER are record files written by ``run.py`` (under
``.bench_build/records/``), directories of them, or quoted glob
patterns. Records are grouped by workload; where a side has several
records of a workload, each metric is their median. For every workload
present on both sides, the metrics are ranked by relative change, and
the top N are printed with both values. End-to-end metrics are listed
first when the records carry them. Standard library only.
"""
import argparse
import glob
import json
import os
import statistics


def load(path):
    pattern = os.path.join(path, "*.json") if os.path.isdir(path) else path
    files = sorted(glob.glob(pattern))
    by_wl = {}
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if "workload" in rec:
            by_wl.setdefault(rec["workload"], []).append(rec)
    return by_wl


def medians(recs, key):
    vals = {}
    for r in recs:
        for k, v in (r.get(key) or {}).items():
            if isinstance(v, (int, float)):
                vals.setdefault(k, []).append(float(v))
    return {k: statistics.median(v) for k, v in vals.items()}


def ranked(before, after, top):
    rows = []
    for k in sorted(set(before) & set(after)):
        a, b = before[k], after[k]
        scale = max(abs(a), abs(b))
        if scale == 0:
            continue
        rows.append((abs(b - a) / scale, k, a, b))
    rows.sort(reverse=True)
    return rows[:top]


def fmt(rows):
    out = []
    for rel, k, a, b in rows:
        sign = "+" if b >= a else "-"
        out.append(f"    {k:40s} {a:14.6g} -> {b:14.6g}  {sign}{rel * 100:.1f}%")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=8)
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    common = sorted(set(before) & set(after))
    if not common:
        raise SystemExit("no workload has records on both sides")
    for wl in common:
        print(f"{wl}  ({len(before[wl])} vs {len(after[wl])} records)")
        e2e = ranked(medians(before[wl], "metrics"), medians(after[wl], "metrics"), a.top)
        if e2e:
            print("  end to end:\n" + fmt(e2e))
        layers = ranked(medians(before[wl], "layers"), medians(after[wl], "layers"), a.top)
        if layers:
            print("  layers that moved most:\n" + fmt(layers))


if __name__ == "__main__":
    main()
