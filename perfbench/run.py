#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program if needed (build.py), generates the workload's inputs
from the seed (gen.py), runs the JVM half (one JVM, local[4], one client
thread in a closed loop) for S measured seconds, checks every timed
output (repeated executions in the JVM against the first, first results
and nightly partitions here against DuckDB), and prints a report
followed by one JSON line:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Workloads, metrics and the layer mapping: README.md.
"""
import argparse
import datetime as dt
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
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["etl_backfill", "warehouse_analytics", "corpus_curation"]
END_TO_END = [("setup_s", "s"), ("run_wall_s", "s"), ("op_geomean_ms", "ms")]
JVM_TIMEOUT_S = 165
ETL_DAYS = 45
WARM_DAYS = 20


def jvm_cmd(cp, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    flags = [f for p in opens for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
             "-Duser.language=en", "-Duser.country=US",
             f"-Djava.io.tmpdir={args['out']}/tmp"] + flags
            + ["-cp", cp, "graft.perfbench.Main"]
            + [x for k, v in args.items() for x in (f"--{k}", str(v))])


def make_inputs(workload, seed, data):
    if workload == "etl_backfill":
        # Warm-up days precede the measured window.
        days = gen.etl_days(seed, os.path.join(data, "raw"), WARM_DAYS + ETL_DAYS)
        for name, part in (("warm.txt", days[:WARM_DAYS]), ("days.txt", days[WARM_DAYS:])):
            with open(os.path.join(data, "raw", name), "w") as f:
                f.write("\n".join(str(d) for d in part) + "\n")
        return
    names = gen.RELATIONAL if workload == "warehouse_analytics" else gen.CORPUS
    gen.tables(seed, os.path.join(data, "tables"), names)


def _mk(*p):
    d = os.path.join(*p)
    os.makedirs(d, exist_ok=True)
    return d


def run_jvm(cp, args, log):
    with open(log, "w") as f:
        proc = subprocess.Popen(jvm_cmd(cp, args), stdout=f, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def checks(workload, res, data, out):
    """Marks ops whose output disagrees with a DuckDB oracle; returns the
    mismatch descriptions."""
    tmp = os.path.join(out, "duckdb-tmp")
    if workload == "etl_backfill":
        con = oracle.connect(tmp)
        alerts = {d["day"]: d["alerts"] for d in res["extra"]["days"]}
        bad = oracle.etl_days(con, os.path.join(data, "raw"), res["extra"]["warehouse"], alerts)
        con.close()
    else:
        bad = oracle.declared(tmp, os.path.join(build.OUT, "oracle-cache"),
                              os.path.join(data, "tables"), os.path.join(out, "check"))
    for op in res["ops"]:
        if op["name"] in bad:
            op["ok"] = False
    return [f"{k}: {why}" for k, why in bad.items()]


def end_to_end(workload, res, setup_s):
    """(contract metrics, report lines, attempted, failed)."""
    ops = [o for o in res["ops"] if o["kind"] != "replay"]
    walls = [r["wall_s"] for r in res["reps"]]
    e2e = {"setup_s": setup_s,
           "run_wall_s": statistics.median(walls),
           "op_geomean_ms": metrics.geomean([o["ms"] for o in ops])}
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    report = [(k, v, u) for k, u in END_TO_END for v in [e2e[k]]]
    if workload == "etl_backfill":
        day = [o["ms"] / 1e3 for o in ops]
        t, p, n = metrics.tail(day)
        report += [("day_p50_s", statistics.median(day), "s"),
                   ("day_tail_s", t, f"s (p{p:.1f} of n={n})"),
                   ("warehouse_bytes_per_input_byte", res["bytes_ratio"], "B/B")]
    else:
        per_q = {}
        for o in ops:
            if o["kind"] == "query":
                per_q.setdefault(o["name"], []).append(o["ms"] / 1e3)
        report.append(("query_geomean_s",
                       metrics.geomean([statistics.median(v) for v in per_q.values()]), "s"))
    report += [("store_resident_mb", res["reps"][-1]["resident_mb"], "MB"),
               ("error_ratio", failed / attempted, "ratio")]
    lines = [f"{k} = {v:.6g} {u}" for k, v, u in report]
    lines.append("store_resident_mb after each repetition: "
                 + " ".join(f"{r['resident_mb']:.1f}" for r in res["reps"]))
    lines.append("host stall s per repetition: "
                 + " ".join(f"{r['stall_s']:.2f}" for r in res["reps"]))
    lines.append("GC pause s per repetition: "
                 + " ".join(f"{r['gc_s']:.2f}" for r in res["reps"]))
    return e2e, lines, attempted, failed


def warehouse_bytes_ratio(res, data):
    """Parquet bytes the processed days left in the warehouse (both fact
    partitions, plus the dimension rewritten each day) per raw CSV byte
    those days read."""
    wh = res["extra"]["warehouse"]
    raw = os.path.join(data, "raw")

    def size(d):
        return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                   if f.endswith(".parquet")) if os.path.isdir(d) else 0
    out_b = in_b = 0
    dim = size(os.path.join(wh, "dim_products"))
    for d in (x["day"] for x in res["extra"]["days"]):
        prev = str(dt.date.fromisoformat(d) - dt.timedelta(days=1))
        out_b += dim + sum(size(os.path.join(wh, t, f"date_key={d}"))
                           for t in ("fact_daily_sales", "fact_inventory_reconciliation"))
        in_b += (size_csv(raw, "pos_sales", d) + size_csv(raw, "inventory", d)
                 + size_csv(raw, "inventory", prev))
    return out_b / in_b


def size_csv(raw, zone, day):
    d = os.path.join(raw, zone, f"date={day}")
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build.ensure()
    setup_start = time.time()
    out = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    data = _mk(out, "data")
    _mk(out, "tmp")
    try:
        make_inputs(a.workload, a.seed, data)
        rc = run_jvm(cp, {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                          "trace": a.trace, "data": data, "out": out},
                     os.path.join(out, "jvm.log"))
        result = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(result):
            with open(os.path.join(out, "jvm.log")) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(result) as f:
            res = json.load(f)
        setup_s = res["setup_end_epoch_ms"] / 1e3 - setup_start
        if a.workload == "etl_backfill":
            res["bytes_ratio"] = warehouse_bytes_ratio(res, data)
        notes = checks(a.workload, res, data, out)
        e2e, lines, attempted, failed = end_to_end(a.workload, res, setup_s)
        for err in res["errors"] + notes:
            print(f"FAILED {err}")
        for line in lines:
            print(line)
        if a.trace:
            layer = metrics.layer_metrics(res["trace"], res["reps"], res["ops"])
            out_metrics = {k: {"value": layer[k], "unit": u} for k, u in metrics.per_layer_names()}
        else:
            out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": out_metrics}))
    finally:
        # The last run's log and result stay for inspection.
        last = _mk(build.OUT, "last")
        for f in ("jvm.log", "result.json"):
            if os.path.exists(os.path.join(out, f)):
                shutil.copy(os.path.join(out, f), os.path.join(last, f"{a.workload}.{f}"))
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
