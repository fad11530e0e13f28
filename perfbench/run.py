#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), starts one JVM that
runs the workload through the engine's public entry points, checks every
output (perfbench/checks.py) and prints each metric by name with its unit.
The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the end-to-end
metrics of BENCHMARK.json; with --trace 1 the per-layer ones. The exit code
is 0 only when every operation and every check succeeded.

Closed loop, one client: the harness issues the next operation only after
the previous one returned, on a local[nproc] session.
"""
import argparse
import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
from stats import describe, median, self_times  # noqa: E402

ROOT = os.path.dirname(HERE)

# ETL corpus: 400 instruments trading in ~3% of minutes, 13 hourly files a
# day. The backfill covers BACKFILL_DAYS plus the lag day before them
# (>32 files, so Spark lists them with a parallel job); each increment reads
# two days (26 files, listed on the driver).
ETL_ISINS, ETL_DENSITY = 400, 0.03
ETL_FIRST = dt.date(2024, 3, 1)
BACKFILL_DAYS, MAX_INCREMENTS = 8, 40

# Registry queries of the mix, one per operator family. The first four are
# relational and statistics work with exact decimal sums and almost no
# session memo; the last four are LLM-data work on session memos,
# checkpoints, IVF assignment and codegen tokenizers, with no decimal sums.
# The tables are the engine's own sf0.01 test tables; --seed drives the
# query order of every pass.
MIX_DATA = os.path.join(HERE, "data", "sf0.01")
MIX = ["q1_pricing_summary", "q9_product_profit", "stats_moments_corr",
       "report1_daily_ohlcv", "ann_knn_join", "dedup_minhash_lsh",
       "curated_corpus", "text_bigram_quality"]
MODULES = ["CoreRelational", "TpchShapes", "StatsOps", "EventBars",
           "Similarity", "Dedup", "Curation", "TextOps"]
WORKLOADS = ["etl_incremental", "query_mix"]

# The heap starts small and may grow to HEAP_MAX, so the resident set
# follows what the workload needs.
HEAP_MIN, HEAP_MAX = "256m", "2g"

# A run must end within RUN_LIMIT_S of its start (the build excepted). The
# harness JVM gets what is left of it after generating the inputs, less
# CHECK_RESERVE_S for the output checks; a JVM that overruns is killed and
# the run exits with TIMEOUT_EXIT, which tells a run that was too slow from
# one that failed a check (exit 1).
RUN_LIMIT_S, CHECK_RESERVE_S, TIMEOUT_EXIT = 175, 20, 3

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]]

EXEC = ["jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
        "scheduler_delay_ms", "failed_tasks", "input_bytes",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"]


class Timeout(Exception):
    pass


def harness(classes, run_dir, mode, cpus, opts, deadline):
    """Run one harness JVM to completion, killing it at ``deadline`` (a
    time.monotonic() value); return its result.json and its output
    directory."""
    out = os.path.join(run_dir, mode)
    os.makedirs(os.path.join(out, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "tmp"))
    cmd = (["java"] + ADD_OPENS +
           [f"-Xms{HEAP_MIN}", f"-Xmx{HEAP_MAX}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={out}/tmp", "-cp",
            classes + ":" + os.path.join(build.SPARK_JARS, "*"),
            "perfbench.Harness", "--mode", mode, "--out", out,
            "--cpus", str(cpus), "--spawn-ms", str(int(time.time() * 1000))])
    for k, v in opts.items():
        cmd += [f"--{k}", str(v)]
    with open(os.path.join(out, "jvm.log"), "wb") as log:
        p = subprocess.Popen(cmd, cwd=out, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise Timeout(f"harness {mode} still running after "
                          f"{RUN_LIMIT_S - CHECK_RESERVE_S} s of the run")
    if rc != 0:
        with open(os.path.join(out, "jvm.log"), "rb") as log:
            sys.stderr.write(log.read()[-3000:].decode("utf-8", "replace"))
        raise RuntimeError(f"harness {mode} exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out


def tops(result, name):
    return [s for s in result["spans"]
            if s["parent"] == -1 and s["name"] == name]


def dur_s(span):
    return (span["end_ms"] - span["start_ms"]) / 1e3


def cpu_s(span):
    return span["cpu_ms"] / 1e3


def children(result, span):
    return [s for s in result["spans"] if s["parent"] == span["id"]]


def exec_layers(traced):
    """Per-layer listener counters: median per traced warm operation."""
    m = {f"exec.{k}": median([s["attrs"].get(f"exec.{k}", 0.0)
                              for s in traced]) for k in EXEC}
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = median(
            [s["attrs"].get(f"exec.{phase}_ms", 0.0) for s in traced])
    return m


def cold_layers(cold):
    return {k: cold["attrs"][k] for k in (
        "codegen.compiles", "codegen.compile_ms", "exec.storage_bytes",
        "exec.cached_rdds")}


# ---------------------------------------------------------------- ETL
def etl_inputs(run_dir, seed):
    source = os.path.join(run_dir, "xetra")
    ndays = 1 + BACKFILL_DAYS + MAX_INCREMENTS
    rows = gen.xetra_corpus(source, seed, ETL_FIRST, ndays, ETL_ISINS,
                            ETL_DENSITY)
    days = sorted(rows)
    first_date = days[1]  # days[0] is the lag day the backfill also reads
    backfill_end = days[BACKFILL_DAYS]
    return source, rows, first_date, backfill_end, days[BACKFILL_DAYS + 1:]


def etl(classes, run_dir, cpus, args, deadline):
    source, rows, first_date, backfill_end, increments = etl_inputs(
        run_dir, args.seed)
    r, out = harness(classes, run_dir, "etl", cpus, {
        "source": source, "first-date": first_date,
        "backfill-end": backfill_end, "increments": ",".join(increments),
        "seconds": args.seconds, "trace": args.trace, "seed": args.seed},
        deadline)
    (cold,), warm = tops(r, "cold"), tops(r, "warm")
    days = sorted(rows)
    # The schedule the job must follow: the backfill reads the lag day and
    # every day up to its clock and commits all but the lag day; each
    # increment reads the previous day and its own and commits its own.
    runs = [(backfill_end, days[:BACKFILL_DAYS + 1], first_date,
             days[1:BACKFILL_DAYS + 1], cold)]
    for s in warm:
        d = s["attrs"]["day"]
        prev = (dt.date.fromisoformat(d) - dt.timedelta(days=1)).isoformat()
        runs.append((d, [prev, d], d, [d], s))
    results = []
    for day, dates, extract_date, _, span in runs:
        a = span["attrs"]
        if "error" not in a and (a["extract_dates"] != dates or
                                 a["extract_date"] != extract_date):
            a["error"] = (f"pending dates {a['extract_dates']} from "
                          f"{a['extract_date']}, expected {dates} from "
                          f"{extract_date}")
        results.append((f"etl run {day}", a.get("error")))
    checked, meta_rows = checks.etl(
        [(d, ds, e, c, s["attrs"].get("error")) for d, ds, e, c, s in runs],
        source, out)
    results += checked

    cold_s = dur_s(cold)
    backfill_rows = sum(rows[d] for d in days[:BACKFILL_DAYS + 1])
    info = {"backfill rows/s": backfill_rows / cold_s,
            "backfill rows": backfill_rows, "backfill wall s": cold_s,
            "increments wall s": [round(dur_s(s), 3) for s in warm],
            "increments cpu s": [round(cpu_s(s), 3) for s in warm]}
    if not args.trace:
        return r, {"cold_cpu_s": cpu_s(cold),
                   "warm_cpu_s": median([cpu_s(s) for s in warm])}, \
            results, info
    traced = [s for s in warm if s["attrs"]["traced"]]
    plain = [s for s in warm if not s["attrs"]["traced"]]
    selfs = self_times(r["spans"])
    layers = exec_layers(traced)
    layers.update(cold_layers(cold))
    for name in ("jobs.extract", "jobs.transform", "jobs.load",
                 "meta.pending"):
        layers[f"{name}_ms"] = median(
            [sum(selfs[c["id"]] for c in children(r, s) if c["name"] == name)
             for s in traced])
    src, amp, files, size = [], [], [], []
    for s in traced:
        b = sum(os.path.getsize(os.path.join(source, d, f))
                for d in s["attrs"]["extract_dates"]
                for f in os.listdir(os.path.join(source, d)))
        src.append(b)
        amp.append(s["attrs"].get("exec.input_bytes", 0.0) / b)
        key = checks.report_key(out, s["attrs"]["day"])
        parts = [f for f in os.listdir(key) if f.startswith("part-")]
        files.append(len(parts))
        size.append(sum(os.path.getsize(os.path.join(key, f))
                        for f in parts))
    layers.update({f"ops.{m}.warm_s": 0.0 for m in MODULES})
    layers.update({
        "meta.file_rows": meta_rows, "io.source_bytes": median(src),
        "io.scan_amplification": median(amp),
        "io.output_files": median(files), "io.output_bytes": median(size),
        "memo.build_s": 0.0, "op.cold_wall_s": cold_s,
        "op.warm_wall_s": median([dur_s(s) for s in plain]),
        "trace.overhead_ratio": median([dur_s(s) for s in traced]) /
        median([dur_s(s) for s in plain])})
    return r, layers, results, info


# ---------------------------------------------------------------- mixes
def mix(classes, run_dir, cpus, args, deadline):
    r, out = harness(classes, run_dir, "mix", cpus, {
        "data": MIX_DATA, "queries": ",".join(MIX), "seconds": args.seconds,
        "trace": args.trace, "seed": args.seed}, deadline)
    (cold,), warm = tops(r, "cold"), tops(r, "warm")
    results = [(f"{p['name']} {q['attrs']['query']}", q["attrs"].get("error"))
               for p in [cold] + warm for q in children(r, p)]
    rows = {}
    for q in r["spans"]:
        if q["name"] == "query" and "rows" in q["attrs"]:
            rows.setdefault(q["attrs"]["query"], []).append(q["attrs"]["rows"])
    results += checks.oracle_gate(r["gate"], rows, MIX_DATA,
                                  os.path.join(out, "dump"))

    def per_query(passes, measure=dur_s):
        t = {}
        for p in passes:
            for q in children(r, p):
                t.setdefault(q["attrs"]["query"], []).append(measure(q))
        return t

    def pass_s(passes, measure=dur_s):
        return sum(median(v) for v in per_query(passes, measure).values())

    cold_s = sum(dur_s(q) for q in children(r, cold))
    warm_s = pass_s(warm)
    info = {"cold wall s": cold_s, "warm wall s": warm_s,
            "passes": [round(dur_s(p), 3) for p in warm],
            "gate_s": dur_s(tops(r, "gate")[0]),
            "stop_s": dur_s(tops(r, "stop")[0]),
            "cold": {q: v[0] for q, v in per_query([cold]).items()},
            "warm": {q: describe(v) for q, v in per_query(warm).items()}}
    if not args.trace:
        return r, {"cold_cpu_s": sum(cpu_s(q) for q in children(r, cold)),
                   "warm_cpu_s": pass_s(warm, cpu_s)}, results, info
    traced = [s for s in warm if s["attrs"]["traced"]]
    plain = [s for s in warm if not s["attrs"]["traced"]]
    layers = exec_layers(traced)
    layers.update(cold_layers(cold))
    module = {q["attrs"]["query"]: q["attrs"]["module"]
              for q in children(r, cold)}
    for m in MODULES:
        layers[f"ops.{m}.warm_s"] = sum(
            median(v) for q, v in per_query(traced).items()
            if module[q] == m)
    layers.update({n: 0.0 for n in (
        "jobs.extract_ms", "jobs.transform_ms", "jobs.load_ms",
        "meta.pending_ms", "meta.file_rows", "io.source_bytes",
        "io.scan_amplification", "io.output_files", "io.output_bytes")})
    layers["memo.build_s"] = cold_s - warm_s
    layers["op.cold_wall_s"] = cold_s
    layers["op.warm_wall_s"] = pass_s(plain)
    layers["trace.overhead_ratio"] = pass_s(traced) / pass_s(plain)
    return r, layers, results, info


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build()
    deadline = time.monotonic() + RUN_LIMIT_S - CHECK_RESERVE_S
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build.OUT, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        runner = etl if args.workload == "etl_incremental" else mix
        r, values, results, info = runner(classes, run_dir, cpus, args,
                                          deadline)
    except Timeout as e:
        sys.stderr.write(f"TIMEOUT: {e}\n")
        return TIMEOUT_EXIT
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.trace:
        declared = spec["per_layer"]
        values["op.setup_wall_s"] = r["setup_wall_s"]
        values["jvm.peak_rss_mb"] = r["peak_rss_mb"]
    else:
        declared = spec["end_to_end"]
        values.update(setup_s=r["setup_cpu_s"], live_heap_mb=r["live_heap_mb"])
    names = {m["name"] for m in declared}
    if set(values) != names:
        raise SystemExit(f"metrics {sorted(values)} do not match "
                         f"BENCHMARK.json {sorted(names)}")
    failed = [(what, err) for what, err in results if err]
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"local[{cpus}]  set-up wall {r['setup_wall_s']:.3f} s  "
          f"peak RSS {r['peak_rss_mb']:.0f} MB")
    print("  " + json.dumps(info, default=str))
    for m in declared:
        print(f"  {m['name']:28s} {values[m['name']]:>16.6g} {m['unit']}")
    print(f"  failed_ops_ratio {len(failed)}/{len(results)}")
    for what, err in failed:
        print(f"  FAILED {what}: {err}")
    print(json.dumps({
        "correct": not failed, "attempted": len(results),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in declared}}))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
