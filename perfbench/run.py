#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

    python3 perfbench/run.py --workload bi_sf01 --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the harness
(`perfbench/build.sbt`, which compiles graft from the checkout's own
sources) and the fixture data; later runs reuse both while their
fingerprints match. Everything a run writes stays under
`.bench_build/perfbench/` in the checkout.

Workloads (one client, closed loop, local[4]):
  bi_sf01      TPC-H, SSB and ClickBench gates over the scale-0.1 data
  lake_ingest  merge/delete/append batches into a primary-key Lake
               table, each followed by maintenance, an MV poll and a
               read-after-write aggregate

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
metrics of a traced run with `--trace 1`). The line before it is the
run record: commit, seed, host load, effective Spark conf and every
secondary figure.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import fixtures  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

CORES = "4"
HEAP = "4g"
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 780    # the first run, build included, must end within 900 s
WORKLOADS = ("bi_sf01", "lake_ingest")
# the module flags Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash(root):
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src"):
        files += sorted(os.path.relpath(p, root) for p in
                        glob.glob(os.path.join(root, base, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    for f in files:
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, state, want):
    """Compile graft and the harness unless sources hashing to `want`
    were built already; returns the runtime classpath."""
    stamp = os.path.join(state, "build.json")
    try:
        with open(stamp) as f:
            b = json.load(f)
        if b["hash"] == want and all(os.path.exists(p) for p in b["classpath"].split(":")[:2]):
            return b["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    log("building graft and the harness with sbt")
    log_path = os.path.join(state, "build.log")
    os.makedirs(state, exist_ok=True)
    with open(log_path, "w") as logf:
        rc = wait(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], os.path.join(root, "perfbench"), logf,
                  BUILD_TIMEOUT_S, env)
    with open(log_path) as f:
        out = f.read()
    lines = [ln for ln in out.splitlines() if "/classes:" in ln and ".jar" in ln]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise BenchError(f"build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"hash": want, "classpath": cp}, f)
    return cp


def wait(cmd, cwd, logf, timeout, env=None):
    """Run `cmd` in its own process group and wait for it; on timeout the
    whole group is killed and reaped, so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL, stdout=logf,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError(f"{cmd[0]} timed out after {timeout} s")


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def launch(cp, plan, run_dir):
    """Run the harness JVM on `plan`; returns (result, launch time)."""
    plan_path = os.path.join(run_dir, "plan.json")
    out_path = os.path.join(run_dir, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *ADD_OPENS, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
           "-XX:+UseCodeCacheFlushing", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
           "-Dspark.ui.enabled=false", "-Dspark.ui.showConsoleProgress=false",
           "-cp", cp, "graftbench.Harness", plan_path, out_path]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        launched = time.time()
        rc = wait(cmd, run_dir, logf, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"harness JVM exited with {rc}")
    with open(out_path) as f:
        return json.load(f), launched


def by_label(pairs):
    out = {}
    for label, ms in pairs:
        out.setdefault(label, []).append(ms)
    return dict(sorted(out.items()))


def load_avg():
    try:
        return list(os.getloadavg())
    except OSError:
        return None


def cpu_ticks():
    """Host-wide CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal), or None where /proc/stat is unavailable."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def host_cpu(before, after):
    """Shares of host CPU time over the run: busy, iowait and steal (time
    the hypervisor gave to other guests), to tell contention from a
    regression."""
    if not before or not after:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy_pct": 100 * (d[0] + d[1] + d[2] + d[5] + d[6]) / total,
            "iowait_pct": 100 * d[4] / total, "steal_pct": 100 * d[7] / total}


def trace_overhead(records, record, e2e):
    """Traced minus untraced end-to-end figures, against the median of the
    untraced runs of the same sources, workload and length recorded in
    this checkout."""
    base = {}
    for p in glob.glob(os.path.join(records, f"*-{record['workload']}-s*-t0.json")):
        with open(p) as f:
            r = json.load(f)
        if (r["source_hash"], r["seconds"]) == (record["source_hash"], record["seconds"]):
            for k, v in r["end_to_end"].items():
                base.setdefault(k, []).append(v)
    if not base:
        return None
    out = {"untraced_runs": len(base["setup_s"])}
    for k, (v, _) in e2e.items():
        med = statistics.median(base[k])
        out[k] = {"traced": v, "untraced_median": med, "change": v / med - 1}
    return out


def run(args, root):
    state = os.path.join(root, ".bench_build", "perfbench")
    src = source_hash(root)
    cp = build(root, state, src)
    data = fixtures.ensure(os.path.join(state, "data"))
    run_dir = os.path.join(state, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return measure(args, root, state, src, cp, data, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, root, state, src, cp, data, run_dir):
    plan = {"trace": bool(args.trace), "cores": CORES, "run_dir": run_dir,
            "seconds": args.seconds}
    batches = None
    if args.workload == "lake_ingest":
        base = workloads.write_base(os.path.join(data, "orders.parquet"), run_dir)
        keys = pq.read_table(base, columns=["o_orderkey"]).column(0).to_numpy()
        batches = workloads.ingest_batches(args.seed, keys)
        plan.update(mode="ingest", ingest=workloads.write_ingest_inputs(batches, base, run_dir))
    else:
        plan.update(mode="queries", data_dir=data,
                    **workloads.query_plan(workloads.BI_QUERIES, args.seed))

    load_start, ticks = load_avg(), cpu_ticks()
    result, launched = launch(cp, plan, run_dir)
    load_end, host = load_avg(), host_cpu(ticks, cpu_ticks())

    fixture_ms = sum(s["ms"] for s in result["spans"] if s["name"] == "fixture")
    e2e, info = metrics.end_to_end(result, launched, fixture_ms)
    if batches is not None:
        per_batch, final = metrics.check_ingest(result, batches, plan["ingest"]["base"])
        bad = {i: r for i, r in per_batch.items() if r}
        attempted = len(per_batch) + 2          # + final table and MV checks
        failed = len(bad) + len(final)
        problems = {"batches": bad, "final": final}
        extras = metrics.ingest_extras(result)
    else:
        verdict = metrics.check_queries(result["checks"], plan["data_dir"])
        wrong = {n: r for n, r in verdict.items() if r}
        timed_bad = [o for o in result["ops"]
                     if o["error"] or not o["same_result"] or o["name"] in wrong]
        attempted = len(verdict) + len(result["ops"])
        failed = len(wrong) + len(timed_bad)
        problems = {"queries": wrong,
                    "timed_failures": sorted({o["name"] for o in timed_bad})}
        extras = {}
    layer = metrics.per_layer(result, batches is not None) if args.trace else None

    ops = metrics.ops_of(result)
    record = {
        "record": "perfbench-run", "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": bool(args.trace), "commit": git_commit(root),
        "source_hash": src,
        "nproc": os.cpu_count(), "cores": CORES,
        "default_parallelism": result["env"]["default_parallelism"],
        "load_avg_start": load_start, "load_avg_end": load_end, "host_cpu": host,
        "op_fail_ratio": metrics.fail_ratio(failed, attempted),
        "problems": problems, **info, **extras,
        "op_ms_by_label": by_label((s["label"], s["ms"]) for s in ops),
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": {k: v for k, (v, _) in layer.items()} if layer else None,
        "env": result["env"],
    }
    if layer:
        record["exec.cpu_per_run"] = layer["exec.cpu_per_run"][0]
    records = os.path.join(state, "records")
    os.makedirs(records, exist_ok=True)
    if args.trace:
        record["trace_overhead"] = trace_overhead(records, record, e2e)
    with open(os.path.join(records, f"{int(time.time())}-{args.workload}-s{args.seed}-"
                                    f"t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    chosen = layer if args.trace else e2e
    return record, {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not all(os.path.exists(os.path.join(root, p)) for p in
               ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt")):
        log("run from the root of a graft checkout (build.sbt, src/main/scala/graft)")
        return 2
    try:
        record, result = run(args, root)
    except (BenchError, subprocess.SubprocessError, OSError) as e:
        log(f"run failed: {e}")
        return 1
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
