#!/usr/bin/env python3
"""Compares two result sets of the benchmark: parent and change.

Usage (from the repository root):

    python3 perfbench/compare.py <parent_results> <change_results>

Each result set is a directory as written by ``run.py --results DIR``: one
subdirectory per workload holding one JSON record per run. Only untraced
runs are read. Runs are paired in the order they were made (the i-th
parent run with the i-th change run), so make them alternately, parent
first in one pair and change first in the next.

For every workload and end-to-end metric of BENCHMARK.json it prints one
row with each side's median and quartiles and a verdict:

- ``improved``: at least 10 pairs, the change wins at least 9 in 10 of
  them (ties count for neither), and the medians differ by more than the
  parent's own quartile spread;
- ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound;
- ``unresolved``: the parent's quartile spread, as a share of its median,
  is wider than the bound and not every change run beats every parent run;
- ``unchanged``: none of these.

A ``fail_frac`` row per workload compares failed over attempted
operations; a change that fails more operations than the parent gets
``worse`` there, and its gains on that workload do not count.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PAIRS = 10
WIN_SHARE = 0.9


def load_set(root):
    """{workload: [record, ...]} of untraced runs, in the order made."""
    out = {}
    for d in sorted(glob.glob(os.path.join(root, "*"))):
        recs = []
        for f in glob.glob(os.path.join(d, "*-trace0-*.json")):
            with open(f) as fh:
                recs.append((int(f.rsplit("-", 1)[1].split(".")[0]),
                             json.load(fh)))
        if recs:
            out[os.path.basename(d)] = [r for _, r in sorted(
                recs, key=lambda t: t[0])]
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def verdict(parent, change, better, bound):
    """Verdict for one metric from the per-run values of both sides."""
    sign = 1.0 if better == "lower" else -1.0   # sign * (a - b) > 0: a worse
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    spread = q3 - q1
    pairs = list(zip(parent, change))
    wins = sum(sign * (p - c) > 0 for p, c in pairs)
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    gain = (len(pairs) >= MIN_PAIRS and wins >= WIN_SHARE * len(pairs)
            and sign * (mp - mc) > spread)
    if sign * (mc - mp) > bound * abs(mp):
        v = "regressed"
    elif spread > bound * abs(mp) and not all_better:
        v = "unresolved"
    elif gain:
        v = "improved"
    else:
        v = "unchanged"
    return {"verdict": v, "parent_median": mp, "change_median": mc,
            "parent_q": (q1, q3), "change_q": quartiles(change),
            "pairs": len(pairs), "wins": wins}


def compare(parent_set, change_set, bench):
    rows = []
    for wl in sorted(set(parent_set) | set(change_set)):
        p, c = parent_set.get(wl, []), change_set.get(wl, [])
        if not p or not c:
            rows.append((wl, "-", {"verdict": "missing runs"}))
            continue
        pf = (sum(r["failed"] for r in p), sum(r["attempted"] for r in p))
        cf = (sum(r["failed"] for r in c), sum(r["attempted"] for r in c))
        more_fail = cf[0] / cf[1] > pf[0] / pf[1]
        for m in bench["end_to_end"]:
            name = m["name"]
            r = verdict([x["end_to_end"][name] for x in p],
                        [x["end_to_end"][name] for x in c],
                        m["better"], m["bound"])
            if more_fail and r["verdict"] == "improved":
                r["verdict"] = "unchanged (more failures)"
            rows.append((wl, name, r))
        rows.append((wl, "fail_frac", {
            "verdict": "worse" if more_fail else "not worse",
            "parent": f"{pf[0]}/{pf[1]}", "change": f"{cf[0]}/{cf[1]}"}))
    return rows


def fmt(rows):
    out = [f"{'workload':16} {'metric':13} {'parent median [q1, q3]':30} "
           f"{'change median [q1, q3]':30} {'delta':>8} {'wins':>7}  verdict"]
    for wl, name, r in rows:
        if "parent_median" not in r:
            side = (f"{r.get('parent', ''):30} {r.get('change', ''):30}"
                    if "parent" in r else f"{'':30} {'':30}")
            out.append(f"{wl:16} {name:13} {side} {'':>8} {'':>7}  "
                       f"{r['verdict']}")
            continue
        mp, mc = r["parent_median"], r["change_median"]
        delta = (mc - mp) / mp * 100 if mp else float("nan")
        ps = f"{mp:.4g} [{r['parent_q'][0]:.4g}, {r['parent_q'][1]:.4g}]"
        cs = f"{mc:.4g} [{r['change_q'][0]:.4g}, {r['change_q'][1]:.4g}]"
        out.append(f"{wl:16} {name:13} {ps:30} {cs:30} {delta:+7.1f}% "
                   f"{r['wins']:>3}/{r['pairs']:<3}  {r['verdict']}")
    return "\n".join(out)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    print(fmt(compare(load_set(sys.argv[1]), load_set(sys.argv[2]), bench)))


if __name__ == "__main__":
    main()
