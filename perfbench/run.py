#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipe_bulk|pipe_microbatch|suite_mix \\
        --seed N --seconds S --trace 0|1

The first run in a checkout builds the program and the harness
(``perfbench/build.py``). The run then measures for ``--seconds``,
checks every output, and prints one JSON object as its last stdout
line: ``correct``, ``attempted``, ``failed`` and the metrics (the
end-to-end set with ``--trace 0``, the per-layer set with ``--trace 1``).
Every artifact goes to
``.bench_build/runs/<workload>-seed<N>-c<cores>-trace<T>-<time>/``.
See perfbench/NOTES.md for what each workload and metric means.
"""
import argparse
import glob
import json
import os
import pickle
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["pipe_bulk", "pipe_microbatch", "suite_mix"]
RUN_LIMIT_S = 175      # a run exits well inside 180 s
BUILD_RUN_LIMIT_S = 880  # the first run in a checkout also builds


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def run_harness(cmd, cwd, log, timeout):
    """Run the harness JVM in its own process group; on timeout the whole
    group (the JVM and its stream children) is killed and reaped."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def suite_results(run_dir, names):
    """Canonical Spark results of the warm pass, read back with DuckDB."""
    import duckdb
    con = duckdb.connect()
    out = {}
    for name in names:
        files = glob.glob(os.path.join(run_dir, "verify", name, "*.parquet"))
        if not files:
            out[name] = None
            continue
        rel = con.execute("SELECT * FROM read_parquet(?)", [files])
        out[name] = checks.canon(rel.fetchall(), [d[0] for d in rel.description])
    return out


def main(argv):
    args = parse(argv)
    t_start = time.monotonic()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit("run from the repository root: src/main/scala not found")
    try:
        classes, suite_dir, oracle_file, built = build.ensure_built(root)
    except build.BuildError as e:
        sys.exit(str(e))

    cores = os.cpu_count()
    stamp = f"{args.workload}-seed{args.seed}-c{cores}-trace{args.trace}-{time.time_ns()}"
    run_dir = os.path.join(root, build.BUILD_DIR, "runs", stamp)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    if args.workload == "suite_mix":
        data_dir, expected = suite_dir, None
    else:
        data_dir, expected = build.bulk_data(root, args.seed)

    # keep every file the JVM and Spark write inside the run directory
    cmd = build.harness_cmd(classes, args.workload, str(args.seed),
                            str(args.seconds), str(args.trace), data_dir, run_dir)
    cmd[1:1] = [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
                f"-Dspark.sql.streaming.checkpointLocation={os.path.join(tmp, 'ckpt')}"]
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t_start)
    log = os.path.join(run_dir, "harness.log")
    rc = run_harness(cmd, run_dir, log, limit - 10)
    raw_file = os.path.join(run_dir, "raw.json")
    if rc != 0 or not os.path.exists(raw_file):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        sys.exit(f"harness {'timed out' if rc is None else f'exited {rc}'}; "
                 f"log {log}:\n{tail}")
    with open(raw_file) as f:
        raw = json.load(f)

    if args.workload == "pipe_bulk":
        attempted, failed, problems = checks.check_bulk(raw, expected)
    elif args.workload == "pipe_microbatch":
        attempted, failed, problems = checks.check_microbatch(raw)
    else:
        with open(oracle_file, "rb") as f:
            oracle = pickle.load(f)
        attempted, failed, problems = checks.check_suite(
            raw, suite_results(run_dir, oracle.keys()), oracle)
    a, f_, p = checks.check_leaks(raw)
    attempted, failed, problems = attempted + a, failed + f_, problems + p

    if args.trace:
        with open(os.path.join(run_dir, "spans.json")) as f:
            spans = json.load(f)
        values = metrics.per_layer(raw, spans)
        units = metrics.PER_LAYER
    else:
        values = metrics.end_to_end(raw)
        units = {k: u for k, (u, _) in metrics.END_TO_END.items()}

    line = metrics.result_line(failed == 0, attempted, failed, values, units)
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "cores": cores,
                   "session_cores": raw["cores"], "trace": args.trace,
                   "seconds": args.seconds, "problems": problems,
                   "result": json.loads(line)}, f, indent=1)
    for p in problems[:20]:
        print(f"INCORRECT: {p}", file=sys.stderr)
    for k in units:
        print(f"{k} {values[k]:.6g} {units[k]}")
    print(f"artifacts {os.path.relpath(run_dir, root)}")
    print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
