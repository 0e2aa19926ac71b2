"""Statistics, output checks and metric assembly for one benchmark run."""
import datetime
import decimal
import json
import math
import statistics

import duckdb
import pyarrow.parquet as pq

import fixtures
import workloads

MIN_BEYOND = 10   # a tail percentile needs this many samples above it


def nearest_rank(sorted_xs, pct):
    """The nearest-rank `pct` percentile of an ascending list."""
    k = max(1, math.ceil(pct / 100 * len(sorted_xs)))
    return sorted_xs[k - 1]


def tail(xs):
    """(percentile, value): the highest whole percentile that still has at
    least MIN_BEYOND samples above its nearest rank. Below 2 * MIN_BEYOND
    samples that percentile would fall under the median, so the maximum
    is reported instead, as percentile 100."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2 * MIN_BEYOND:
        return 100, xs[-1]
    pct = (100 * (n - MIN_BEYOND)) // n
    while n - math.ceil(pct / 100 * n) < MIN_BEYOND:
        pct -= 1
    return pct, nearest_rank(xs, pct)


def balanced(samples):
    """(median, ops per second) of `(label, ms)` samples in which every
    label weighs the same however often it ran, so a run that stops
    mid-pass (or mid-round of ingest batches) still times the workload's
    mix. The median is the geometric mean of the per-label medians: every
    label moves it, by its relative change, so one label's noise is
    averaged with the others' instead of deciding the figure alone.
    Throughput is that of one client running the mix in a closed loop:
    labels per second of summed mean latencies."""
    by = {}
    for label, ms in samples:
        by.setdefault(label, []).append(ms)
    median = statistics.geometric_mean(statistics.median(v) for v in by.values())
    return median, 1000 * len(by) / sum(statistics.mean(v) for v in by.values())


def fail_ratio(failed, attempted):
    """(failed operations + wrong results) / operations attempted."""
    return failed / attempted if attempted else 1.0


# ---------------------------------------------------------------- checks

def _canon(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v) if not isinstance(v, int) else v
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _canon(x)) for k, x in v.items()))
    return str(v)


def _sort_key(row):
    def k(v):
        if isinstance(v, float):
            return (1, float(f"{v:.6g}") if math.isfinite(v) else 0.0, "")
        if isinstance(v, int):
            return (1, float(v), "")
        return (0 if v is None else 2, 0.0, repr(v))
    return tuple(k(v) for v in row)


def _same(a, b):
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_rows(cols_a, rows_a, cols_b, rows_b):
    """None when two results hold the same rows (any order; columns
    matched by name; numbers to 1e-9), else a short reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} vs {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows vs {len(rows_b)}"
    order = sorted(range(len(cols_a)), key=lambda i: cols_a[i])
    idx_b = {c: i for i, c in enumerate(cols_b)}
    a = sorted((tuple(_canon(r[i]) for i in order) for r in rows_a), key=_sort_key)
    b = sorted((tuple(_canon(r[idx_b[cols_a[i]]]) for i in order) for r in rows_b),
               key=_sort_key)
    for n, (x, y) in enumerate(zip(a, b)):
        if not _same(x, y):
            return f"row {n}: {x} vs {y}"
    return None


def check_queries(checks, data_dir):
    """Compare every warm-up result with DuckDB running the gate's
    oracle SQL over the same parquet. Returns name -> None or reason."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET threads TO 2")
    for t in fixtures.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdict = {}
    for name, c in checks.items():
        if "error" in c:
            verdict[name] = "failed: " + c["error"]
        elif not c.get("oracle"):
            verdict[name] = "no oracle SQL"
        else:
            with open(c["rows_file"]) as f:
                got = json.load(f)
            try:
                cur = con.execute(c["oracle"])
                want = cur.fetchall()
            except duckdb.Error as e:
                verdict[name] = f"oracle SQL failed, result unchecked: {e}"
                continue
            verdict[name] = compare_rows(got["columns"], got["rows"],
                                         [d[0] for d in cur.description], want)
    con.close()
    return verdict


def check_ingest(result, batches, base):
    """Fold the batches the run executed and compare every
    read-after-write aggregate, the final table and the MV with it.
    Returns (batch index -> None or reason, final-state problems)."""
    ref = workloads.ReferenceTable(base)
    per_batch = {}
    for op in result["ops"]:
        i = op["batch"]
        ref.apply(batches[i])
        if "error" in op:
            per_batch[i] = "failed: " + op["error"]
            continue
        want = ref.aggregate()
        got = {int(g): (int(n), decimal.Decimal(str(s))) for g, n, s in op["read"]}
        exp = {g: (a[0], workloads.as_decimal(a[1])) for g, a in want.items()}
        per_batch[i] = None if got == exp else f"read {got} vs {exp}"
    problems = []
    t = pq.read_table(result["final_table"]).to_pydict()
    final = {k: (c, p, o) for k, c, p, o in zip(
        t["o_orderkey"], t["o_custkey"], t["o_totalprice"], t["o_orderpriority"])}
    if len(final) != len(t["o_orderkey"]):
        problems.append("final table has duplicate keys")
    if final != ref.rows:
        missing = len(ref.rows.keys() - final.keys())
        extra = len(final.keys() - ref.rows.keys())
        problems.append(f"final table differs: {missing} missing, {extra} extra keys")
    want = ref.aggregate()
    got_mv = {int(g): (int(n), decimal.Decimal(s), decimal.Decimal(mn), decimal.Decimal(mx))
              for g, n, s, mn, mx in result["mv"]}
    exp_mv = {g: (a[0], workloads.as_decimal(a[1]), workloads.as_decimal(a[2]),
                  workloads.as_decimal(a[3])) for g, a in want.items()}
    if got_mv != exp_mv:
        problems.append(f"MV differs from a full recompute: {got_mv} vs {exp_mv}")
    return per_batch, problems


# ---------------------------------------------------------------- metrics

def ops_of(result):
    """Timed client operations: queries, or ingest batches (a load with
    its maintenance, MV poll and read), labelled by query or batch kind."""
    return [s for s in result["spans"] if s["name"] == "op" and s["timed"]]


LOADS = ("lake.merge_mor", "lake.delete_mor", "lake.append")


def children(result):
    kids = {}
    for s in result["spans"]:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def subtree(kids, span):
    out = [span]
    for k in kids.get(span["id"], []):
        out.extend(subtree(kids, k))
    return out


def end_to_end(result, launch_s, fixture_ms):
    """The end-to-end metrics of one run plus what the record keeps."""
    ops = ops_of(result)
    pct, tail_ms = tail([s["ms"] for s in ops])
    median, per_s = balanced((s["label"], s["ms"]) for s in ops)
    window_s = (max(s["end_ms"] for s in ops) - min(s["start_ms"] for s in ops)) / 1000
    setup = result["ready_ms"] / 1000 - launch_s - fixture_ms / 1000
    metrics = {
        "setup_s": (setup, "s"),
        "op_p50_ms": (median, "ms"),
        "ops_per_s": (per_s, "1/s"),
    }
    return metrics, {"timed_ops": len(ops), "op_tail_ms": tail_ms, "tail_percentile": pct,
                     "window_s": window_s, "ops_per_window_s": len(ops) / window_s,
                     "peak_rss_mb": result["peak_rss_kb"] / 1024}


def ingest_extras(result):
    """Ingest figures a user sees, kept in the run record."""
    kids = children(result)
    ops = ops_of(result)
    by = {}
    for op in ops:
        for k in kids.get(op["id"], []):
            by.setdefault(k["name"], []).append(k["ms"])
    commits = [ms for name, v in by.items() if name in LOADS for ms in v]
    recs = [r for r in result["ops"] if r["timed"]]
    rows = sum(r["rows"] for r in recs)
    # loads plus maintenance plus refresh, so work moved into
    # maybeCompact or the MV poll still shows
    busy_ms = sum(commits) + sum(by.get("lake.maybe_compact", [])) + \
        sum(by.get("mv.maintain", []))
    return {
        "commit_p50_ms": statistics.median(commits),
        "commit_tail_ms": tail(commits)[1],
        "commit_tail_percentile": tail(commits)[0],
        "ingest_rows_per_s": rows / (busy_ms / 1000),
        "refresh_p50_ms": statistics.median(by["mv.maintain"]),
        "read_p50_ms": statistics.median(by["lake.read"]),
        "maybe_compact_p50_ms": statistics.median(by["lake.maybe_compact"]),
        "bytes_written_per_row": sum(r["bytes_written"] for r in recs) / max(rows, 1),
        "lake_op_ms": {k: statistics.median(v) for k, v in sorted(by.items())},
    }


COUNTERS = ["jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "analysis_ms",
            "optimization_ms", "planning_ms"]


def _sum_counters(spans):
    tot = dict.fromkeys(COUNTERS, 0)
    intervals = []
    for s in spans:
        c = s.get("counters", {})
        for k in COUNTERS:
            tot[k] += c.get(k, 0)
        intervals.extend(c.get("job_intervals", []))
    return tot, intervals


def _covered_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by at least one interval."""
    covered, cur = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        covered += b - max(a, cur)
        cur = b
    return covered


def per_layer(result, is_ingest):
    """Per-layer metrics of a traced run, named by the module they time."""
    kids = children(result)
    top = {s["name"]: s for s in result["spans"] if s["parent"] == -1}
    ops = ops_of(result)
    n = len(ops)
    per_op = [_sum_counters(subtree(kids, op)) for op in ops]
    tot = {k: sum(c[k] for c, _ in per_op) for k in COUNTERS}
    gaps = [max(0.0, op["ms"] - _covered_ms(iv, op["start_ms"], op["end_ms"]))
            for op, (_, iv) in zip(ops, per_op)]
    bodies = [s for op in ops for s in subtree(kids, op) if s["name"] == "queries.body"]
    body_jobs = [_sum_counters(subtree(kids, b))[0]["jobs"] for b in bodies]
    m = {
        "session.configure_ms": (top["session.configure"]["ms"], "ms"),
        "session.prepare_ms": (top["session.prepare"]["ms"], "ms"),
        "session.warmup_s": (top["session.warmup"]["ms"] / 1000, "s"),
        "queries.body_ms": (statistics.median(b["ms"] for b in bodies), "ms"),
        "queries.body_jobs": (sum(body_jobs) / len(body_jobs), "count"),
        "catalyst.analysis_ms": (tot["analysis_ms"] / n, "ms"),
        "catalyst.optimization_ms": (tot["optimization_ms"] / n, "ms"),
        "catalyst.planning_ms": (tot["planning_ms"] / n, "ms"),
        "exec.jobs": (tot["jobs"] / n, "count"),
        "exec.stages": (tot["stages"] / n, "count"),
        "exec.tasks": (tot["tasks"] / n, "count"),
        "exec.task_run_s": (tot["task_run_ms"] / 1000 / n, "s"),
        "exec.task_cpu_s": (tot["task_cpu_ns"] / 1e9 / n, "s"),
        "exec.cpu_per_run": (tot["task_cpu_ns"] / 1e6 / max(tot["task_run_ms"], 1), "ratio"),
        "exec.gc_s": (tot["gc_ms"] / 1000 / n, "s"),
        "exec.input_bytes": (tot["input_bytes"] / n, "B"),
        "exec.shuffle_read_bytes": (tot["shuffle_read_bytes"] / n, "B"),
        "exec.shuffle_write_bytes": (tot["shuffle_write_bytes"] / n, "B"),
        "exec.spill_bytes": (tot["spill_bytes"] / n, "B"),
        "exec.driver_gap_ms": (statistics.median(gaps), "ms"),
    }
    m.update(_lake_layers(result, kids, ops) if is_ingest else {
        k: (0, u) for k, u in LAKE_UNITS.items()})
    return m


LAKE_UNITS = {
    "lake.jobs_per_commit": "count", "lake.compactions": "count",
    "lake.files_written": "count", "lake.bytes_written": "B",
    "lake.bytes_written_per_row": "B/row", "lake.live_files": "count",
    "lake.pending_dv_files": "count", "mv.jobs_per_refresh": "count",
    "lake.commit_pct": "%", "lake.maybe_compact_pct": "%", "mv.maintain_pct": "%",
}


def _lake_layers(result, kids, ops):
    spans = {}
    for op in ops:
        for k in kids.get(op["id"], []):
            spans.setdefault(k["name"], []).append(k)
    commits = [s for n in LOADS for s in spans.get(n, [])]

    def jobs(ss):
        return sum(_sum_counters(subtree(kids, s))[0]["jobs"] for s in ss) / max(len(ss), 1)

    def pct(ss):
        return 100 * sum(s["ms"] for s in ss) / sum(op["ms"] for op in ops)

    recs = [r for r in result["ops"] if r["timed"]]
    rows = sum(r["rows"] for r in recs)
    n = len(recs)
    return {k: (v, LAKE_UNITS[k]) for k, v in {
        "lake.jobs_per_commit": jobs(commits),
        "lake.compactions": sum(1 for r in recs if r.get("compacted")) / n,
        "lake.files_written": sum(r["files_written"] for r in recs) / n,
        "lake.bytes_written": sum(r["bytes_written"] for r in recs) / n,
        "lake.bytes_written_per_row": sum(r["bytes_written"] for r in recs) / max(rows, 1),
        "lake.live_files": result["live_files"],
        "lake.pending_dv_files": result["pending_dv_files"],
        "mv.jobs_per_refresh": jobs(spans.get("mv.maintain", [])),
        "lake.commit_pct": pct(commits),
        "lake.maybe_compact_pct": pct(spans.get("lake.maybe_compact", [])),
        "mv.maintain_pct": pct(spans.get("mv.maintain", [])),
    }.items()}
