"""Statistics, span self time and the metric sets of the benchmark.

Everything here is a pure function of the harness's raw record
(``raw.json``) and span dump (``spans.json``), so it is unit-tested
without a JVM (see ``perfbench/tests``).
"""
import json
import math
import statistics
from collections import defaultdict

# name -> (unit, better); the order is the order of BENCHMARK.json
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_total_s": ("s", "lower"),
    "op_geomean_ms": ("ms", "lower"),
    "latency_p50_ms": ("ms", "lower"),
    "latency_p95_ms": ("ms", "lower"),
    "rss_peak_mb": ("MB", "lower"),
}

FORMATS = ["tsv", "tsv_agg", "arrow", "rdf"]
CODEC_FORMATS = ["tsv", "arrow", "rdf"]
BULK_KIND_FMT = {"tsv_echo": "tsv", "tsv_agg": "tsv_agg",
                 "arrow_echo": "arrow", "rdf_echo": "rdf"}
SUITE_QUERIES = [
    "q140_simhash64_capped", "q64_percentiles",
    "q01_agg", "q16_sessionize"]
LAYERS = ["codec", "child", "stream", "batch", "driver", "query"]


def _per_layer_spec():
    spec = {}
    for f in CODEC_FORMATS:
        spec[f"codec.{f}.encode_ns_per_row"] = "ns"
        spec[f"codec.{f}.decode_ns_per_row"] = "ns"
        spec[f"codec.{f}.bytes_per_row"] = "bytes"
    spec.update({
        "child.forks": "count", "child.reuses": "count",
        "child.spawn_ms.mawk": "ms", "child.spawn_ms.jvm": "ms",
        "child.turnaround_us_p50": "us", "child.turnaround_us_p99": "us",
        "child.leaked": "count", "child.rss_peak_mb": "MB"})
    for f in FORMATS:
        spec[f"stream.{f}.wall_s"] = "s"
        spec[f"stream.{f}.task_s"] = "s"
        spec[f"stream.{f}.rows_per_s"] = "1/s"
    spec.update({
        "stream.exchanges": "count", "stream.threads_started": "count",
        "stream.loop_us_per_exchange": "us",
        "batch.count": "count", "batch.rows_mean": "count",
        "batch.trigger_ms_p50": "ms", "batch.add_ms_p50": "ms",
        "batch.plan_ms_p50": "ms", "batch.get_ms_p50": "ms",
        "batch.wal_ms_p50": "ms", "batch.last_row_latency_ms_p50": "ms",
        "batch.backlog_rows_max": "count", "generator.late_ms_max": "ms",
        "driver.build_s": "s", "driver.plan_s": "s", "driver.exec_s": "s",
        "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
        "sched.task_s": "s", "sched.cpu_s": "s", "sched.delay_s": "s",
        "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "jvm.gc_s": "s"})
    for q in SUITE_QUERIES:
        spec[f"query.{q}.s"] = "s"
    for layer in LAYERS:
        spec[f"self_s.{layer}"] = "s"
    spec["trace.overhead_frac"] = "ratio"
    return spec


PER_LAYER = _per_layer_spec()


# ---- statistics ----------------------------------------------------------

def percentile(values, p):
    """Linear-interpolated percentile (p in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = (len(xs) - 1) * p / 100.0
    lo = math.floor(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def median(values):
    return percentile(values, 50)


def interquartile_mean(values):
    """Mean of the middle half: the lowest and highest quarter of the
    values (rounded down) are dropped. Unlike the median it moves
    smoothly when a run's samples come from a host that switches speed
    during the run, and unlike the mean it ignores a stray stall."""
    xs = sorted(values)
    if not xs:
        raise ValueError("mean of no values")
    cut = len(xs) // 4
    mid = xs[cut:len(xs) - cut]
    return sum(mid) / len(mid)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median, with the quartiles of ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def self_time(spans):
    """Seconds of each layer's spans not covered by their child spans.

    Spans are dicts with id, parent, layer, start and end (ns). A child's
    interval is clipped to its parent's, and overlapping children (on
    other threads) count once.
    """
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                             for c in children.get(s["id"], [])):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["layer"]] += (s["end"] - s["start"] - covered) / 1e9
    return dict(out)


# ---- end-to-end metrics ----------------------------------------------------

def _dur_ms(op):
    return (op["end"] - op["start"]) / 1e6


def _ok_ops(raw, traced):
    return [o for o in raw["ops"] if o["ok"] and o["traced"] == traced]


def _kind_means_ms(ops):
    by = defaultdict(list)
    for o in ops:
        by[o["kind"]].append(_dur_ms(o))
    return {k: interquartile_mean(v) for k, v in by.items()}


def microbatch_samples(raw, traced=False):
    """Per-row due-to-sink latencies (ms) and the post-warm-up batches.

    Row ``i`` is due at ``t0 + i / rate``; rows due before the warm-up
    ends are not samples. A batch holds a dense id range.
    """
    e = raw["extra"]
    t0, rate, warm = e["t0"], e["rate"], e["warmup_s"]
    first = int(math.ceil(warm * rate))
    lats, batches = [], []
    for b in e["batches"]:
        if b["traced"] != traced or b["id_hi"] < first:
            continue
        batches.append(b)
        end_ms = (b["end"] - t0) / 1e6
        for i in range(max(b["id_lo"], first), b["id_hi"] + 1):
            lats.append(end_ms - i * 1000.0 / rate)
    return lats, batches


def _progress_ms(raw, batches, key):
    ids = {b["id"] for b in batches}
    return [p[key] for p in raw["extra"]["progress"]
            if p["batch"] in ids and key in p]


def end_to_end(raw):
    """The end-to-end metric values of an untraced run."""
    w = raw["workload"]
    if w == "pipe_microbatch":
        lats, batches = microbatch_samples(raw)
        # Spark reports whole milliseconds: a mean keeps the digits a
        # median of them would lose
        batch_ms = interquartile_mean(_progress_ms(raw, batches, "triggerExecution"))
        m = {"op_total_s": batch_ms / 1e3, "op_geomean_ms": batch_ms,
             "latency_p50_ms": percentile(lats, 50),
             "latency_p95_ms": percentile(lats, 95)}
    else:
        ops = _ok_ops(raw, traced=False)
        kinds = _kind_means_ms(ops)
        durs = [_dur_ms(o) for o in ops]
        m = {"op_total_s": sum(kinds.values()) / 1e3,
             "op_geomean_ms": geomean(list(kinds.values())),
             "latency_p50_ms": percentile(durs, 50),
             "latency_p95_ms": percentile(durs, 95)}
    m["setup_s"] = median(raw["setup_s"])
    m["rss_peak_mb"] = raw["rss_peak_mb"]
    return {k: m[k] for k in END_TO_END}


# ---- per-layer metrics -----------------------------------------------------

def per_layer(raw, spans):
    """The per-layer metric values of a traced run; a layer the workload
    does not touch reports 0."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    w, e, c = raw["workload"], raw["extra"], raw["counters"]
    for k, v in c.items():
        if k in m:
            m[k] = float(v)
    turn = e.get("turnaround_us")
    if turn:
        m["child.turnaround_us_p50"] = percentile(turn, 50)
        m["child.turnaround_us_p99"] = percentile(turn, 99)
    leak = e.get("leak", {})
    m["child.leaked"] = float(leak.get("children", 0) + leak.get("watchdogs", 0))
    for layer, s in self_time(spans).items():
        if f"self_s.{layer}" in m:
            m[f"self_s.{layer}"] = s

    if w == "pipe_bulk":
        _bulk_layers(raw, m)
    elif w == "pipe_microbatch":
        _microbatch_layers(raw, spans, m)
    else:
        _suite_layers(raw, m)
    return m


def _overhead(untraced, traced):
    return traced / untraced - 1.0 if untraced > 0 and traced > 0 else 0.0


def _bulk_layers(raw, m):
    e = raw["extra"]
    parts = len(e["partition_rows"])
    traced, untraced = _ok_ops(raw, True), _ok_ops(raw, False)
    t_mean, u_mean = _kind_means_ms(traced), _kind_means_ms(untraced)
    by = defaultdict(list)
    for o in traced:
        by[o["kind"]].append(o)
    m["child.forks"] = float(sum(o["result"]["forks"] for o in traced))
    m["child.reuses"] = float(parts * len(traced) - m["child.forks"])
    loop_s, loop_ex = 0.0, 0
    turn_s = m["child.turnaround_us_p50"] / 1e6
    for kind, fmt in BULK_KIND_FMT.items():
        if kind in u_mean:
            m[f"stream.{fmt}.rows_per_s"] = untraced[0]["rows"] / (u_mean[kind] / 1e3)
        if kind not in by:
            continue
        m[f"stream.{fmt}.wall_s"] = t_mean[kind] / 1e3
        task_s = median([o["result"]["task_s"] for o in by[kind]])
        m[f"stream.{fmt}.task_s"] = task_s
        codec = "tsv" if fmt == "tsv_agg" else fmt
        per_row_ns = m[f"codec.{codec}.encode_ns_per_row"]
        if fmt != "tsv_agg":
            per_row_ns += m[f"codec.{codec}.decode_ns_per_row"]
        ex = e["exchanges"][kind]
        loop_s += task_s - by[kind][0]["rows"] * per_row_ns / 1e9 - ex * turn_s
        loop_ex += ex
    m["stream.exchanges"] = float(sum(e["exchanges"].values()))
    if loop_ex:
        m["stream.loop_us_per_exchange"] = loop_s / loop_ex * 1e6
    if traced:
        m["stream.threads_started"] = median(
            [o["result"]["threads_started"] for o in traced])
    m["trace.overhead_frac"] = _overhead(sum(u_mean.values()), sum(t_mean.values()))


def _microbatch_layers(raw, spans, m):
    e = raw["extra"]
    lat_u, _ = microbatch_samples(raw, traced=False)
    lat_t, traced = microbatch_samples(raw, traced=True)
    _, untraced = microbatch_samples(raw, traced=False)
    batches = untraced + traced
    m["child.forks"] = float(sum(b["forks"] for b in traced))
    parts = e["partitions"]
    m["child.reuses"] = float(max(0, parts * len(traced) - m["child.forks"]))
    stream_s = [(s["end"] - s["start"]) / 1e9 for s in spans
                if s["name"] == "stream.tsv" and s["pass"] >= 0]
    if stream_s:
        m["stream.tsv.wall_s"] = median(stream_s)
        m["stream.tsv.rows_per_s"] = sum(b["n"] for b in traced) / sum(stream_s)
    # one data exchange plus the end-of-data exchange per task
    m["stream.exchanges"] = float(2 * parts * len(traced))
    m["batch.count"] = float(len(batches))
    m["batch.rows_mean"] = sum(b["n"] for b in batches) / max(1, len(batches))
    for metric, key in [("trigger", "triggerExecution"), ("add", "addBatch"),
                        ("plan", "queryPlanning"), ("get", "getBatch"),
                        ("wal", "walCommit")]:
        xs = _progress_ms(raw, batches, key)
        if xs:
            m[f"batch.{metric}_ms_p50"] = median(xs)
    t0, rate = e["t0"], e["rate"]
    m["batch.last_row_latency_ms_p50"] = median(
        [(b["end"] - t0) / 1e6 - b["id_hi"] * 1000.0 / rate for b in batches])
    m["batch.backlog_rows_max"] = float(e["backlog_rows_max"])
    m["generator.late_ms_max"] = float(e["late_ms_max"])
    if lat_u and lat_t:
        m["trace.overhead_frac"] = _overhead(percentile(lat_u, 50), percentile(lat_t, 50))


def _suite_layers(raw, m):
    traced, untraced = _ok_ops(raw, True), _ok_ops(raw, False)
    for q, v in _kind_means_ms(untraced).items():
        if f"query.{q}.s" in m:
            m[f"query.{q}.s"] = v / 1e3
    passes = max(1, len({o["pass"] for o in traced}))
    sums = defaultdict(float)
    for o in traced:
        for k, v in o["result"].items():
            sums[k] += v
    for metric, key in [("driver.build_s", "build_s"), ("driver.plan_s", "plan_s"),
                        ("driver.exec_s", "exec_s"), ("sched.jobs", "jobs"),
                        ("sched.stages", "stages"), ("sched.tasks", "tasks"),
                        ("sched.task_s", "task_s"), ("sched.cpu_s", "cpu_s"),
                        ("sched.delay_s", "delay_s"),
                        ("shuffle.write_mb", "shuffle_write_mb"),
                        ("shuffle.read_mb", "shuffle_read_mb"),
                        ("jvm.gc_s", "jvm_gc_s")]:
        m[metric] = sums[key] / passes
    m["trace.overhead_frac"] = _overhead(
        sum(_kind_means_ms(untraced).values()), sum(_kind_means_ms(traced).values()))


# ---- the result line -------------------------------------------------------

def result_line(correct, attempted, failed, values, units):
    """The benchmark's last stdout line: compact JSON, every value as
    measured."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }, separators=(",", ":"))
