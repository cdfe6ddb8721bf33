#!/usr/bin/env python3
"""Compare two sets of benchmark results, metric by metric.

Each side is a directory of result lines: files whose last line is the
JSON object run.py prints (e.g. saved stdout of each run). A file is
matched to its workload by name: it must contain the workload's name.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR
    python3 perfbench/compare.py RUNS_DIR

With two directories it prints one row per workload and metric: the median and quartiles of each
side, then a verdict by the rules the benchmark uses to judge a change:

- better: the change wins at least 9 of every 10 pairs (ties count for
  neither side) and the medians differ by more than the parent's own
  interquartile range;
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- unresolved: neither, while the parent's interquartile range is wider
  than the bound (the data cannot tell);
- same: neither, and the spread is narrow enough to say so.

Pairs are formed in file-name order on each side, which is run order when
the runs alternate parent and change (name the files by run number).
Two runs of the same code should give no row marked better or worse.

With one directory it prints each end-to-end metric's spread, the
interquartile range as a share of the median, next to its bound; the
spread of every metric but setup_s must stay within the bound.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(d):
    """{workload: {metric: [values in file order]}} plus failure counts."""
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    out, bad = {}, {}
    for f in sorted(Path(d).iterdir()):
        if not f.is_file():
            continue
        w = next((n for n in names if n in f.name), None)
        lines = f.read_text().strip().splitlines()
        if w is None or not lines:
            continue
        try:
            r = json.loads(lines[-1])
        except json.JSONDecodeError:
            continue
        if not r.get("correct", False) or r.get("failed", 0):
            bad[w] = bad.get(w, 0) + 1
        for m, v in r["metrics"].items():
            out.setdefault(w, {}).setdefault(m, []).append(v["value"])
    return out, bad


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a, b, lower_better, bound):
    qa1, ma, qa3 = quartiles(a)
    _, mb, _ = quartiles(b)
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if (y < x if lower_better else y > x))
    worse_by = ((mb - ma) if lower_better else (ma - mb)) / abs(ma) if ma else 0.0
    iqr = qa3 - qa1
    if pairs and wins >= 0.9 * len(pairs) and abs(mb - ma) > iqr:
        return "better"
    if bound is not None and worse_by > bound:
        return "worse"
    if bound is not None and ma and iqr / abs(ma) > bound:
        return "unresolved"
    return "same"


def spread_report(runs, bad, spec):
    over = 0
    print(f"{'workload':16} {'metric':14} {'n':>3} {'q1/median/q3':>32} {'spread':>8} {'bound':>6}")
    for w in sorted(runs):
        for m in spec["end_to_end"]:
            xs = runs[w].get(m["name"], [])
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            sp = (q3 - q1) / abs(med) if med else 0.0
            flag = ""
            if m["name"] != "setup_s" and sp > m["bound"]:
                flag, over = "  OVER", over + 1
            print(f"{w:16} {m['name']:14} {len(xs):>3} {q1:>10.4g}/{med:>10.4g}/{q3:>10.4g} "
                  f"{sp:>8.4f} {m['bound']:>6}{flag}")
    for w, n in sorted(bad.items()):
        print(f"{w}: {n} runs not correct or with failures")
    return 1 if over or bad else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change", nargs="?")
    a = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    meta = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    pa, bad_a = load(a.parent)
    if a.change is None:
        sys.exit(spread_report(pa, bad_a, spec))
    pb, bad_b = load(a.change)
    print(f"{'workload':16} {'metric':34} {'n':>5} {'parent q1/med/q3':>30} {'change q1/med/q3':>30}  verdict")
    worst = 0
    for w in sorted(set(pa) | set(pb)):
        for m in sorted(set(pa.get(w, {})) | set(pb.get(w, {}))):
            xa, xb = pa.get(w, {}).get(m, []), pb.get(w, {}).get(m, [])
            if not xa or not xb:
                print(f"{w:16} {m:34} missing on one side")
                continue
            info = meta.get(m, {})
            v = verdict(xa, xb, info.get("better", "lower") == "lower", info.get("bound"))
            worst = max(worst, v == "worse")
            fa = "/".join(f"{x:.4g}" for x in quartiles(xa))
            fb = "/".join(f"{x:.4g}" for x in quartiles(xb))
            print(f"{w:16} {m:34} {len(xa):>2}/{len(xb):<2} {fa:>30} {fb:>30}  {v}")
    for w in sorted(set(bad_a) | set(bad_b)):
        print(f"{w}: runs not correct or with failures: parent {bad_a.get(w, 0)}, change {bad_b.get(w, 0)}")
    sys.exit(1 if worst or bad_b else 0)


if __name__ == "__main__":
    main()
