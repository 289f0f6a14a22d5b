#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark, in both orders.

    python3 tools/ab_perfbench.py DIR_A DIR_B WORKLOAD SEEDS [--seconds 12] [--trace 0] [--out FILE]

DIR_A and DIR_B are two checkouts (A = before, B = after); WORKLOAD is a
perfbench workload (serve_sync, gate_suite); SEEDS is a comma list or a
range such as 11-13. Each seed is one pair: perfbench/run.py runs in both
checkouts back to back, A first on odd pairs and B first on even ones, so a
load trend on the machine does not favour either side (the sibling
tools/ab_pairs.sh does the same for graft.Bench). Each checkout builds its
own program on its first run.

Prints every pair's metrics and, per metric, each side's median and
quartiles, the median B/A ratio over the pairs and how many pairs B won
(direction from BENCHMARK.json). "gain" marks a metric where B won at least
nine tenths of the pairs and the medians differ by more than A's
interquartile range. Each side's sync_reads_per_s, hot_p50_ms and
cold_p50_ms are shown beside the metrics, read from the summary of that
side's .bench_build/perfbench/results/<workload>-seed<N>-trace<T>.json when
the run wrote them: the sync reader is a closed loop, so its read rate moves
with serving latency and explains work_s moves. A run that fails or answers
wrong is reported and its pair left out. --out appends one JSON line per run. With --trace 1 each pair
is followed by perfbench/diff_counters.py over that seed's A and B result
files: the counters that do not depend on the machine, A -> B.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


# summary figures shown beside the metrics, never judged
SUMMARY = ("sync_reads_per_s", "hot_p50_ms", "cold_p50_ms")


def run(checkout, args, seed):
    result = os.path.join(checkout, ".bench_build", "perfbench", "results",
                          f"{args.workload}-seed{seed}-trace{args.trace}.json")
    if os.path.exists(result):
        os.remove(result)  # a failed run must not show an earlier run's summary
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = {"correct": False, "failed": None, "metrics": {},
               "error": (p.stderr or p.stdout)[-500:]}
    res["exit"] = p.returncode
    try:
        with open(result) as f:
            summary = json.load(f).get("summary", {})
    except (OSError, ValueError):
        summary = {}
    res["summary"] = {k: summary[k] for k in SUMMARY if isinstance(summary.get(k), (int, float))}
    return res


def values(res):
    """The run's metric values, then its shown summary figures."""
    return {**{k: v["value"] for k, v in res["metrics"].items()}, **res.get("summary", {})}


def diff_counters(dirs, workload, seed):
    result = os.path.join(".bench_build", "perfbench", "results", f"{workload}-seed{seed}-trace1.json")
    p = subprocess.run(
        [sys.executable, os.path.join(dirs["A"], "perfbench", "diff_counters.py"),
         os.path.join(dirs["A"], result), os.path.join(dirs["B"], result)],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    print(f"  counters A -> B:\n" + "".join(f"    {line}\n" for line in p.stdout.splitlines()), end="", flush=True)


def better(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("workload")
    ap.add_argument("seeds", type=seeds)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out")
    args = ap.parse_args()
    dirs = {"A": os.path.abspath(args.dir_a), "B": os.path.abspath(args.dir_b)}
    direction = better(dirs["A"])

    pairs = []
    for i, seed in enumerate(args.seeds):
        order = "AB" if i % 2 == 0 else "BA"
        got = {}
        for side in order:
            got[side] = run(dirs[side], args, seed)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, "order": order, **got[side]}) + "\n")
        bad = [s for s in "AB" if not got[s].get("correct") or got[s]["exit"] != 0]
        if bad:
            print(f"seed {seed} ({order}): left out, run {'/'.join(bad)} failed: "
                  + " | ".join(str(got[s].get("error") or f"{got[s].get('failed')} wrong") for s in bad))
            continue
        pairs.append(got)
        a, b = values(got["A"]), values(got["B"])
        shown = " ".join(f"{k}={a[k]:.4g}->{v:.4g}" for k, v in b.items() if k in a)
        print(f"seed {seed} ({order}): {shown}", flush=True)
        if args.trace:
            diff_counters(dirs, args.workload, seed)

    if not pairs:
        sys.exit("no complete pair")
    summarize(pairs, direction)


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, q2, q3


def summarize(pairs, direction):
    print(f"\n{len(pairs)} pairs; ratio = B/A, median over pairs; median [q1, q3] per side")
    vals = [(values(p["A"]), values(p["B"])) for p in pairs]
    for name in sorted(set.intersection(*(set(a) & set(b) for a, b in vals))):
        a = [va[name] for va, _ in vals]
        b = [vb[name] for _, vb in vals]
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        ratios = [y / x for x, y in zip(a, b) if x]
        line = (f"{name:34s} A={am:.4g} [{a1:.4g}, {a3:.4g}] B={bm:.4g} [{b1:.4g}, {b3:.4g}] "
                f"ratio={statistics.median(ratios) if ratios else float('nan'):.3f}")
        sense = direction.get(name)
        if sense:
            won = sum((y < x) if sense == "lower" else (y > x) for x, y in zip(a, b))
            gain = won >= 0.9 * len(pairs) and abs(bm - am) > a3 - a1
            line += f" B better in {won}/{len(pairs)}" + (" gain" if gain else "")
        print(line)


if __name__ == "__main__":
    main()
