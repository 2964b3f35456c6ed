#!/usr/bin/env python3
"""Interleaved A/B pairs of the graft benchmark: a parent checkout against a
change checkout.

    python3 tools/ab_pairs.py --parent <dir> --change <dir> \\
        --workload extract_commit --seeds 21-30 [--seconds 6] [--out pairs.jsonl]

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--trace 0 --seconds N` once in each checkout, alternating which side goes
first (even pair index: parent first). Every run's end-to-end metrics,
failure counts and `host.steal_ratio` are appended to --out as one JSON line
as soon as the run ends. At the end it prints, per end-to-end metric, each
side's median and quartiles, the wins per side and the gain verdict: the
change wins at least 9 of every 10 pairs (ties count for neither side) and
the gap between the medians, in the metric's better direction, is larger
than the parent's interquartile range. It also prints whether the change's
median stays within the metric's relative bound from BENCHMARK.json, or
`unresolved` when the parent's run-to-run spread (its interquartile range
over its median) is wider than that bound: such a spread cannot tell a
change within the bound from one beyond it, unless every run of the change
reads better than every run of the parent.
After the verdict over all pairs it prints the same verdict over the pairs
where both runs had `host.steal_ratio` below 0.04, with that subset's size;
CPU steal by co-tenants stretches a run's walls, so a loaded pair can hide
or fake a gain. No run is discarded: the all-pairs verdict comes first.

The tool only reads the benchmark; each checkout builds its own copy on its
first run. Exit status: 0 when every run succeeded, 1 otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


# A run whose host had at least this share of CPU time stolen is "loaded".
LOW_STEAL = 0.04


def parse_seeds(text):
    """'21-30' or '21,23,25' (or a mix) -> list of ints."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return seeds


def run_once(checkout, workload, seed, seconds):
    """One timed benchmark run; returns its parsed result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--trace", "0", "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    result = {"exit": proc.returncode, "metrics": {}, "attempted": None, "failed": None, "steal": None}
    for line in lines:
        if line.startswith("host.steal_ratio"):
            result["steal"] = float(line.split()[1])
    if lines and lines[-1].startswith("{"):
        last = json.loads(lines[-1])
        result.update(attempted=last["attempted"], failed=last["failed"],
                      metrics={k: v["value"] for k, v in last["metrics"].items()})
    if proc.returncode != 0:
        result["stderr_tail"] = proc.stderr.strip().splitlines()[-5:]
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs, spec):
    """Per-metric report lines over the pairs where both runs measured it."""
    specs = {m["name"]: m for m in spec["end_to_end"]}
    names = sorted({k for p in pairs for side in ("parent", "change") for k in p[side]["metrics"]})
    out = []
    for name in names:
        m = specs.get(name.split("/")[-1])
        if m is None:
            continue
        lower = m["better"] == "lower"
        both = [(p["parent"]["metrics"][name], p["change"]["metrics"][name]) for p in pairs
                if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
        if not both:
            continue
        par, chg = [a for a, _ in both], [b for _, b in both]
        p1, pm, p3 = quartiles(par)
        c1, cm, c3 = quartiles(chg)
        change_wins = sum(1 for a, b in both if (b < a if lower else b > a))
        parent_wins = sum(1 for a, b in both if (a < b if lower else a > b))
        gain = (pm - cm) if lower else (cm - pm)
        iqr = p3 - p1
        claim = change_wins >= 0.9 * len(both) and gain > iqr
        worse = -gain / abs(pm) if pm else 0.0  # relative, > 0 when the change is worse
        spread = iqr / abs(pm) if pm else 0.0
        all_better = (max(chg) < min(par)) if lower else (min(chg) > max(par))
        if spread > m["bound"] and not all_better:
            bound = "unresolved"
        else:
            bound = "within" if worse <= m["bound"] else "EXCEEDS"
        out.append(
            f"{name:<28} parent {pm:.4g} [{p1:.4g}, {p3:.4g}]  change {cm:.4g} [{c1:.4g}, {c3:.4g}]  "
            f"wins change/parent {change_wins}/{parent_wins} of {len(both)}  "
            f"gap {gain:+.4g} vs parent IQR {iqr:.4g}: gain {'MET' if claim else 'not met'}  "
            f"change worse by {worse:+.1%}, parent spread {spread:.1%}: {bound} bound {m['bound']:.0%}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 21,23,25")
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--out", help="append every run here as a JSON line")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    pairs, ok = [], True
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res = run_once(sides[side], args.workload, seed, args.seconds)
            pair[side] = res
            ok &= res["exit"] == 0
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"seed": seed, "side": side, "first": order[0], **res}) + "\n")
        pairs.append(pair)
        steal = " ".join(f"{s} steal {pair[s]['steal']}" for s in order)
        fails = " ".join(f"{s} {pair[s]['failed']}/{pair[s]['attempted']} failed" for s in order)
        print(f"pair {i + 1} seed {seed} ({order[0]} first): {steal}; {fails}", flush=True)
        for name in sorted(pair["parent"]["metrics"]):
            if name in pair["change"]["metrics"]:
                print(f"  {name:<28} parent {pair['parent']['metrics'][name]:.4g}  "
                      f"change {pair['change']['metrics'][name]:.4g}", flush=True)

    print(f"\n{args.workload}: {len(pairs)} pairs")
    for line in summarize(pairs, spec):
        print(line)
    calm = [p for p in pairs
            if all(p[side]["steal"] is not None and p[side]["steal"] < LOW_STEAL for side in ("parent", "change"))]
    print(f"\n{args.workload}: {len(calm)} of {len(pairs)} pairs with host.steal_ratio < {LOW_STEAL} on both runs")
    for line in summarize(calm, spec):
        print(line)
    for side in ("parent", "change"):
        att = sum(p[side]["attempted"] or 0 for p in pairs)
        fail = sum(p[side]["failed"] or 0 for p in pairs)
        print(f"{side}: {fail} of {att} operations failed")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
