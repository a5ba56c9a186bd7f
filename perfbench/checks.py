"""Correctness checks of each workload, run after the timed region.

Each check returns ``(attempted, failed, problems)``: ``problems`` is a
list of one-line descriptions of what was wrong, for the run's artifact.
"""
import math

# ---- pipe_bulk -------------------------------------------------------------

BULK_EXPECTED_SQL = """
SELECT count(*) AS n, sum(l_orderkey) AS sum_orderkey,
       sum(l_quantity) AS sum_qty,
       sum(length(text)) AS sum_text_len,
       sum(length(text) + length(text) - length(replace(replace(replace(
           text, chr(9), ''), chr(10), ''), chr(92), ''))) AS sum_escaped_len
FROM read_parquet(?)
"""


def bulk_expected(con, parquet):
    """Direct aggregate of the pipe_bulk input, computed by DuckDB."""
    row = con.execute(BULK_EXPECTED_SQL, [parquet]).fetchone()
    n, key, qty, text, escaped = (float(x) for x in row)
    return {"n": n, "sum_orderkey": key, "sum_qty": qty,
            "sum_text_len": text, "sum_escaped_len": escaped}


def bulk_call_problem(kind, result, exp):
    """None when one call's proof matches the direct aggregate. The TSV
    echo is checked on escaped text (one extra character per tab,
    newline or backslash); the partial aggregate sums quantity only.
    Every proof value is a sum of whole numbers below 2**53, so it is
    exact in a double whatever the summation order."""
    if kind == "tsv_agg":
        want = {"sum_qty": exp["sum_qty"]}
    else:
        text = exp["sum_escaped_len"] if kind == "tsv_echo" else exp["sum_text_len"]
        want = {"n": exp["n"], "sum_orderkey": exp["sum_orderkey"],
                "sum_qty": exp["sum_qty"], "sum_text_len": text}
    for k, v in want.items():
        got = result.get(k)
        if got is None or abs(float(got) - v) >= 0.5:
            return f"{kind}: {k}={got} expected {v}"
    return None


def check_bulk(raw, exp):
    problems = []
    for op in raw["ops"]:
        if not op["ok"]:
            problems.append(f"{op['kind']} pass {op['pass']}: {op['error']}")
            continue
        p = bulk_call_problem(op["kind"], op["result"], exp)
        if p:
            problems.append(f"pass {op['pass']}: {p}")
    return len(raw["ops"]), len(problems), problems


# ---- pipe_microbatch ---------------------------------------------------------

def check_microbatch(raw):
    """Exactly-once accounting: every generated row reaches the sink
    exactly once, and each batch holds the dense id range it claims."""
    e = raw["extra"]
    generated = e["generated"]
    problems = []
    bad = e["missing"] + e["duplicated"] + e["out_of_range"]
    if e["missing"]:
        problems.append(f"{e['missing']} generated rows never reached the sink")
    if e["duplicated"]:
        problems.append(f"{e['duplicated']} rows reached the sink more than once")
    if e["out_of_range"]:
        problems.append(f"{e['out_of_range']} sunk ids were never generated")
    if e["sunk"] != generated or e["distinct"] != generated:
        problems.append(f"sunk {e['sunk']} rows ({e['distinct']} distinct) "
                        f"of {generated} generated")
        bad = max(bad, 1)
    for b in e["batches"]:
        lo, hi, n = b["id_lo"], b["id_hi"], b["n"]
        if n != hi - lo + 1 or b["id_sum"] != (lo + hi) * n // 2:
            problems.append(f"batch {b['id']} is not the dense range {lo}..{hi}")
            bad += n
    return generated, min(bad, generated), problems


# ---- suite_mix ---------------------------------------------------------------

def canon(rows, cols):
    """Columns sorted by name, then rows sorted; floats rounded to 9
    places and NaN made comparable (as the project's oracle check does)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return None
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 9)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    out = [tuple(norm(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in idx], out


def oracle_expected(con, oracle_sql):
    """Canonical DuckDB results of each query's oracle SQL."""
    out = {}
    for name, sql in oracle_sql.items():
        rel = con.execute(sql)
        out[name] = canon(rel.fetchall(), [d[0] for d in rel.description])
    return out


def query_problem(name, got, expected):
    """None when a canonical Spark result equals the oracle's."""
    (gc, gr), (ec, er) = got, expected
    if gc != ec:
        return f"{name}: columns {gc} expected {ec}"
    if gr != er:
        return f"{name}: {len(gr)} rows differ from the oracle's {len(er)}"
    return None


def check_suite(raw, results, expected):
    """``results`` maps query -> canonical Spark result of the warm
    pass (None when it could not be read); every timed pass must also
    reproduce the verified row count."""
    problems = []
    verified = raw["extra"]["verified_rows"]
    for name in expected:
        got = results.get(name)
        if got is None:
            err = raw["extra"].get(f"verify_error.{name}", "no result")
            problems.append(f"{name}: {err}")
            continue
        p = query_problem(name, got, expected[name])
        if p:
            problems.append(p)
    for op in raw["ops"]:
        if not op["ok"]:
            problems.append(f"{op['kind']} pass {op['pass']}: {op['error']}")
        elif op["result"]["rows"] != verified.get(op["kind"]):
            problems.append(f"{op['kind']} pass {op['pass']}: {op['result']['rows']} "
                            f"rows, verified {verified.get(op['kind'])}")
    return len(expected) + len(raw["ops"]), len(problems), problems


def check_leaks(raw):
    """Children or watchdog threads alive after the pool was drained."""
    leak = raw["extra"].get("leak", {})
    n = leak.get("children", 0) + leak.get("watchdogs", 0)
    return 1, int(n > 0), ([f"{n} children or watchdogs outlived the run"] if n else [])
