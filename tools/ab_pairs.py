#!/usr/bin/env python3
"""A/B of two checkouts with the benchmark's alternating-pairs recipe.

Runs ``perfbench/run.py`` in the parent and the change checkout, pair by
pair: pair i uses seed ``--seed0 + i`` on both sides, and the side that
runs first alternates (parent first on odd pairs). Every result line is
kept, one file per run, under ``--out`` (a run that printed none keeps
its exit code and the tail of its stderr instead); then one markdown table per
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


STDERR_TAIL = 40


def run_one(checkout, workload, seed, seconds, trace):
    """The run's last stdout line as a dict; for a run that printed none,
    its exit code and the last STDERR_TAIL lines of its stderr."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, errors="replace")
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        res = None
    if isinstance(res, dict) and "metrics" in res:
        return res
    return {"no_result": True, "exit_code": proc.returncode,
            "stderr_tail": proc.stderr.splitlines()[-STDERR_TAIL:]}


def has_result(run):
    """False for a run with no result line: stored as its exit code and
    stderr tail, or as null by older versions of this tool."""
    return isinstance(run, dict) and "metrics" in run


def run_pairs(args, workload):
    dirs = {"parent": args.parent, "change": args.change}
    for i in range(1, args.pairs + 1):
        order = SIDES if i % 2 else SIDES[::-1]
        for side in order:
            res = run_one(dirs[side], workload, args.seed0 + i, args.seconds, args.trace)
            with open(result_path(args.out, workload, args.trace, side, i), "w") as f:
                json.dump(res, f)
            status = "ok" if has_result(res) else f"no result line (exit {res['exit_code']})"
            print(f"[ab] {workload} pair {i} {side}: {status}", file=sys.stderr)


def load(args, workload):
    """{side: [run record per pair]} for the pairs found in --out."""
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
             if has_result(p) and has_result(c)]
    lost = {s: [r for r in runs[s] if not has_result(r)] for s in SIDES}
    codes = [str(r["exit_code"]) for s in SIDES for r in lost[s] if r]
    failed = {s: sum(r.get("failed", 0) for r in runs[s] if has_result(r)) for s in SIDES}
    out = [f"**{workload}**: {len(pairs)} pairs, runs without a result line "
           f"parent {len(lost['parent'])} / change {len(lost['change'])}"
           + (f" (exit codes {', '.join(codes)})" if codes else "")
           + f", failed operations parent {failed['parent']} / change {failed['change']}",
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
