#!/usr/bin/env python3
"""Steadiness fold over benchmark records.

    python3 perfbench/fold.py [RECORD.json ...]

Reads full records (the next-to-last stdout line of perfbench/run.py, also
kept under <build>/records/; with no arguments, every record there). For
each workload and metric it prints the median, the first and third
quartiles (statistics.quantiles, n=4), the spread (q3 - q1) / median and,
for end-to-end metrics, that spread against the metric's bound in
BENCHMARK.json. It also prints the tracing overhead per workload: the
traced runs' median warm_s (trace.warm_s) minus the untraced runs'.
Exits 1 when any end-to-end spread exceeds its bound.
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402


def load(paths):
    if not paths:
        paths = sorted((build.build_dir() / "records").glob("*-t[01]-*.json"))
        paths = [p for p in paths if not p.name.endswith(".spans.json")]
    recs = []
    for p in paths:
        for line in Path(p).read_text().splitlines():
            line = line.strip()
            if line.startswith("{") and '"workload"' in line:
                recs.append(json.loads(line))
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main(argv):
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    recs = load(argv)
    if not recs:
        print("no records")
        return 1
    groups = {}
    for r in recs:
        groups.setdefault((r["workload"], r["trace"]), []).append(r)
    bad = []
    warm = {}
    for (w, t), rs in sorted(groups.items()):
        seeds = sorted({r["seed"] for r in rs})
        fails = sum(r["failed"] for r in rs)
        print(f"\n{w} trace={t}: {len(rs)} runs, seeds {seeds}, "
              f"failed attempts {fails}")
        print(f"  {'metric':28} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'spread':>8} {'bound':>6}")
        for name in rs[0]["metrics"]:
            xs = [r["metrics"][name]["value"] for r in rs]
            q1, q2, q3 = quartiles(xs)
            spread = (q3 - q1) / q2 if q2 else 0.0
            b = bounds.get(name)
            flag = ""
            if b is not None and spread > b:
                flag = "  OVER"
                bad.append((w, name, spread, b))
            elif b is not None and spread > b / 3:
                flag = "  >1/3"
            print(f"  {name:28} {q2:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:8.3f} {'' if b is None else b:>6}{flag}")
            if name in ("warm_s", "trace.warm_s"):
                warm[(w, t)] = q2
    print("\ntracing overhead on warm_s (traced median - untraced median):")
    for w in sorted({w for w, _ in groups}):
        if (w, 0) in warm and (w, 1) in warm:
            d = warm[(w, 1)] - warm[(w, 0)]
            print(f"  {w:10} {d:+.4f} s ({d / warm[(w, 0)]:+.1%})")
    for w, name, s, b in bad:
        print(f"spread of {name} on {w} is {s:.3f}, over its bound {b}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
