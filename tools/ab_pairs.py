#!/usr/bin/env python3
"""A/B of two checkouts with the benchmark's alternating-pairs recipe.

Runs ``perfbench/run.py`` in the parent and the change checkout, pair by
pair: pair i uses seed ``--seed0 + i`` on both sides, and the side that
runs first alternates (parent first on odd pairs). Every result line is
kept, one file per run, under ``--out``; then one markdown table per
workload is printed, ready to paste into CHANGES.md. Per metric it
shows both medians, both min/max ranges, the median delta, the parent's
``metrics.quartile_spread`` and how many pairs the change won (the
direction of "better" comes from BENCHMARK.json).

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workloads pipe_bulk --pairs 10 --out ab_out
    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workloads pipe_bulk --pairs 10 --out ab_out --report-only

See perfbench/NOTES.md, "A/B of two commits", for when a gain may be
claimed: the change wins at least 9 of 10 pairs and the medians differ
by more than the parent's quartile spread.
"""
import argparse
import json
import os
import subprocess
import sys

SIDES = ("parent", "change")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--parent", required=True, help="checkout of the parent commit")
    p.add_argument("--change", required=True, help="checkout of the change")
    p.add_argument("--workloads", default="pipe_bulk,pipe_microbatch,suite_mix")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=100, help="pair i runs seed seed0 + i")
    p.add_argument("--seconds", type=float, default=14)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--out", required=True, help="directory for the result lines")
    p.add_argument("--report-only", action="store_true",
                   help="print the tables from the result lines already in --out")
    return p.parse_args(argv)


def result_path(out, workload, trace, side, i):
    return os.path.join(out, f"{workload}-trace{trace}-{side}-{i:02d}.json")


def run_one(checkout, workload, seed, seconds, trace):
    """The run's last stdout line as a dict, or None when it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def run_pairs(args, workload):
    dirs = {"parent": args.parent, "change": args.change}
    for i in range(1, args.pairs + 1):
        order = SIDES if i % 2 else SIDES[::-1]
        for side in order:
            res = run_one(dirs[side], workload, args.seed0 + i, args.seconds, args.trace)
            with open(result_path(args.out, workload, args.trace, side, i), "w") as f:
                json.dump(res, f)
            print(f"[ab] {workload} pair {i} {side}: "
                  f"{'no result line' if res is None else 'ok'}", file=sys.stderr)


def load(args, workload):
    """{side: [result or None per pair]} for the pairs found in --out."""
    runs = {s: [] for s in SIDES}
    i = 1
    while all(os.path.exists(result_path(args.out, workload, args.trace, s, i)) for s in SIDES):
        for s in SIDES:
            with open(result_path(args.out, workload, args.trace, s, i)) as f:
                runs[s].append(json.load(f))
        i += 1
    return runs


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def table(metrics, workload, runs, better):
    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"])
             if p is not None and c is not None]
    lost = sum(r is None for s in SIDES for r in runs[s])
    failed = {s: sum(r.get("failed", 0) for r in runs[s] if r) for s in SIDES}
    out = [f"**{workload}**: {len(pairs)} pairs, {lost} runs without a result line, "
           f"failed operations parent {failed['parent']} / change {failed['change']}",
           "",
           "| metric | parent median | change median | delta | parent spread "
           "| parent min–max | change min–max | change wins |",
           "|---|---|---|---|---|---|---|---|"]
    names = [n for n in better if all(n in p["metrics"] and n in c["metrics"]
                                      for p, c in pairs)]
    for name in names:
        pv = [p["metrics"][name]["value"] for p, _ in pairs]
        cv = [c["metrics"][name]["value"] for _, c in pairs]
        if any(v is None for v in pv + cv):
            continue
        pm, cm = metrics.median(pv), metrics.median(cv)
        delta = f"{(cm - pm) / pm:+.1%}" if pm else "n/a"
        spread = f"{metrics.quartile_spread(pv):.3f}" if len(pv) >= 2 and pm else "n/a"
        sign = -1 if better[name] == "lower" else 1
        wins = sum(sign * (c - p) > 0 for p, c in zip(pv, cv))
        out.append(f"| `{name}` | {pm:.4g} | {cm:.4g} | {delta} | {spread} "
                   f"| {min(pv):.4g}–{max(pv):.4g} | {min(cv):.4g}–{max(cv):.4g} "
                   f"| {wins}/{len(pairs)} |")
    return "\n".join(out)


def main(argv):
    args = parse(argv)
    sys.path.insert(0, os.path.join(os.path.abspath(args.change), "perfbench"))
    import metrics  # noqa: E402  (perfbench/metrics.py of the change)
    os.makedirs(args.out, exist_ok=True)
    better = directions(args.change)
    for workload in args.workloads.split(","):
        if not args.report_only:
            run_pairs(args, workload)
        print(table(metrics, workload, load(args, workload), better))
        print()


if __name__ == "__main__":
    main(sys.argv[1:])
