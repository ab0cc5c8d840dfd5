#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload bulk_migrate --seed 1 \\
        --seconds 12 --trace 0

Builds the program and the harness (perfbench/build.py), writes the
workload's inputs from the seed (perfbench/gen.py), runs the harness
JVM for `--seconds` of measured cycles, checks every operation's output
(perfbench/checks.py), and prints one JSON line last:

    {"correct": true, "attempted": 8, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics; with
`--trace 1` they are the per-layer metrics, and the spans, the
per-layer numbers and the tracing overhead are also written under
.bench_out/<workload>-s<seed>/. README.md defines every metric.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("bulk_migrate", "cdc_apply")

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s",
              "peak_mem_mb": "MB"}

# Spark counters recorded per operation family, averaged per operation
COUNTERS = {"exec_cpu_ms": "ms", "exec_run_ms": "ms", "gc_ms": "ms",
            "scan_records": "count", "scan_bytes": "bytes",
            "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
            "fetch_wait_ms": "ms", "spill_bytes": "bytes", "jobs": "count",
            "tasks": "count", "plan_ms": "ms"}
# family -> the harness span names it sums
FAMILIES = {"schema": ("schema.prepare", "schema.assess", "schema.reverse",
                       "schema.check"),
            "full": ("full",), "csv": ("csv",), "compare": ("compare",),
            "cdc_window": ("cdc.window",), "pipe4": ("curation.pipe4",),
            "d7": ("curation.d7",)}

PER_LAYER = {f"{fam}.{c}": u for fam in FAMILIES for c, u in COUNTERS.items()}
PER_LAYER.update({
    "driver.plan_ms": "ms", "driver.jobs": "count",
    "full.span_ms": "ms", "full.records_read_per_row": "ratio",
    "full.jdbc_write_ms": "ms",
    "compare.span_ms": "ms", "compare.records_read_per_row": "ratio",
    "compare.shuffle_bytes_per_row": "bytes/row",
    "csv.span_ms": "ms", "csv.bytes_per_row": "bytes/row",
    "csv.commit_ms": "ms",
    "schema.prepare_ms": "ms", "schema.assess_ms": "ms",
    "schema.reverse_ms": "ms", "schema.check_ms": "ms",
    "schema.jobs_per_op": "count",
    "cdc.reduce_ms": "ms", "cdc.sink_ms": "ms",
    "cdc.rows_per_change": "ratio", "cdc.jobs_per_window": "count",
    "curation.pipe4_ms": "ms", "curation.d7_ms": "ms",
    "host.cpu_probe_start_s": "s", "host.cpu_probe_end_s": "s",
    "trace.overhead_pct": "%",
    "bulk.schema_phase_s": "s", "bulk.full_rows_per_s": "rows/s",
    "bulk.csv_rows_per_s": "rows/s", "bulk.compare_rows_per_s": "rows/s",
    "cdc.changes_per_s": "changes/s", "cdc.window_p50_ms": "ms",
    "cdc.window_p90_ms": "ms", "curation.docs_per_s": "docs/s",
})

# JVM launches per run that time set-up (launch -> session ready -> cold
# cycle); `setup_s` is their median. A bulk_migrate set-up costs about
# 40 s, so it is timed once; a cdc_apply one costs about 11 s, and two
# are what a full pass of 48 runs within 3420 s allows.
SETUPS = {"bulk_migrate": 1, "cdc_apply": 2}

# every harness JVM of a run, together, after the build
JVM_BUDGET_S = 160


def p90(xs):
    return (statistics.quantiles(xs, n=10, method="inclusive")[-1]
            if len(xs) > 1 else xs[0])


def load_manifest(inp):
    with open(f"{inp}/manifest.json") as f:
        return json.load(f)


def judge(workload, inp, jvm, res):
    """Check every operation; returns (ops with a `good` flag and an
    `items` count, problems of the run's final state)."""
    manifest = load_manifest(inp)
    ops, final = res["ops"], []
    if workload == "bulk_migrate":
        exp = checks.BulkExpect(inp, manifest["knobs"],
                                manifest["csv_tables"])
        want = {}
        for q in ("pipe4", "d7"):
            with open(f"{jvm}/oracle_{q}.sql") as f:
                want[q] = checks.oracle(f"{inp}/source", f.read())
        for o in ops:
            if not o["ok"]:
                o["problems"] = [o["error"]]
            elif o["kind"].startswith("curation."):
                o["problems"] = checks.check_curation(o, want[o["label"]])
            else:
                o["problems"] = exp.check(o)
            o["items"] = exp.items(o["kind"])
        csvs = [o for o in ops if o["kind"] == "csv" and o["ok"]]
        if csvs:
            final += checks.check_csv_dir(csvs[-1]["obs"]["dir"],
                                          gen.CSV_TERMINATOR, exp.csv)
    else:
        m = manifest["sizes"]["changes_per_window"]
        for o in ops:
            o["problems"] = [] if o["ok"] else [o["error"]]
            if o["ok"] and o["label"] == "redelivery":
                o["problems"] += checks.check_redelivery(o)
            o["items"] = m
        n = res["extra"]["windows_applied"]
        want = checks.lww_state(f"{inp}/cdc_base.parquet",
                                f"{inp}/cdc_windows.parquet", n)
        with open(res["extra"]["final_file"]) as f:
            final += checks.check_cdc_state(checks.parse_state(f), want)
    for o in ops:
        o["good"] = not o["problems"]
    return ops, final


def user_ops(workload, measured):
    """(ms, good) per operation as a user sees it: a window or its
    redelivery on cdc_apply; on bulk_migrate the whole DBA sequence of
    one cycle (nine calls of different kinds, so no single call is a
    typical operation), good only if every call in it was."""
    if workload != "bulk_migrate":
        return [(o["ms"], o["good"]) for o in measured]
    cycles = {}
    for o in measured:
        c = cycles.setdefault(o["cycle"], [0.0, True])
        c[0] += o["ms"]
        c[1] = c[1] and o["good"]
    return [tuple(c) for c in cycles.values()]


def end_to_end(workload, res, ops, setups=()):
    """The metrics a user sees: set-up (median over the main launch and
    the set-up-only `setups`), per-operation latency (a failed
    operation counts as the whole measured window, never as fast),
    items per second of operation time, and peak memory."""
    measured = [o for o in ops if o["cycle"] >= 0]
    if not measured:
        raise SystemExit("perfbench: no operation was measured")
    worst = res["measure_s"] * 1000.0
    lat = [ms if good else worst for ms, good in user_ops(workload, measured)]
    busy_s = sum(o["ms"] for o in measured) / 1000.0
    items = sum(o["items"] for o in measured if o["good"])
    return {"setup_s": statistics.median(
                [res["setup"]["setup_s"]] + [r["setup"]["setup_s"]
                                             for r in setups]),
            "op_p50_ms": statistics.median(lat),
            "items_per_s": items / busy_s,
            "peak_mem_mb": res["memory"]["peak_mem_mb"]}


def per_layer(workload, inp, res, ops):
    """The per-layer metrics of a traced run (0 where the workload does
    not reach the layer), plus the tracing overhead."""
    fams = res["trace"]["families"]
    out = dict.fromkeys(PER_LAYER, 0.0)

    def fam(name):
        tot = {}
        for span in FAMILIES.get(name, (name,)):
            for k, v in fams.get(span, {}).items():
                tot[k] = tot.get(k, 0.0) + v
        return tot

    def per_op(f, k):
        return f.get(k, 0.0) / f["ops"] if f.get("ops") else 0.0

    all_ops = sum(f.get("ops", 0.0) for f in fams.values())
    if all_ops:
        out["driver.plan_ms"] = sum(f.get("plan_ms", 0.0)
                                    for f in fams.values()) / all_ops
        out["driver.jobs"] = sum(f.get("jobs", 0.0)
                                 for f in fams.values()) / all_ops
    for name in FAMILIES:
        f = fam(name)
        for c in COUNTERS:
            out[f"{name}.{c}"] = per_op(f, c)
    measured = [o for o in ops if o["cycle"] >= 0]

    def rate(kinds):
        sel = [o for o in measured if o["kind"] in kinds]
        ms = sum(o["ms"] for o in sel)
        return sum(o["items"] for o in sel if o["good"]) / ms * 1000 if ms else 0.0

    if workload == "bulk_migrate":
        keys = checks.column(f"{inp}/source/orders.parquet", "o_orderkey")
        n = len(keys)
        n_cmp = len(keys) + checks.target_rows(keys)
        full, csv, cmp_ = fam("full"), fam("csv"), fam("compare")
        csv_rows = sum(o["items"] for o in ops if o["kind"] == "csv") / max(
            1, sum(1 for o in ops if o["kind"] == "csv"))
        out.update({
            "full.span_ms": per_op(full, "span_ms"),
            "full.records_read_per_row": per_op(full, "scan_records") / n,
            "full.jdbc_write_ms": per_op(full, "jdbc_write_ms"),
            "compare.span_ms": per_op(cmp_, "span_ms"),
            "compare.records_read_per_row":
                per_op(cmp_, "scan_records") / n_cmp,
            "compare.shuffle_bytes_per_row":
                per_op(cmp_, "shuffle_write_bytes") / n_cmp,
            "csv.span_ms": per_op(csv, "span_ms"),
            "csv.bytes_per_row": per_op(csv, "output_bytes") / csv_rows,
            "csv.commit_ms": per_op(csv, "commit_ms"),
            "schema.jobs_per_op": per_op(fam("schema"), "jobs"),
            "bulk.schema_phase_s": sum(
                o["ms"] for o in measured if o["kind"].startswith("schema.")
            ) / 1000.0 / max(1, len({o["cycle"] for o in measured})),
            "bulk.full_rows_per_s": rate({"full"}),
            "bulk.csv_rows_per_s": rate({"csv"}),
            "bulk.compare_rows_per_s": rate({"compare"}),
            "curation.pipe4_ms": per_op(fam("pipe4"), "span_ms"),
            "curation.d7_ms": per_op(fam("d7"), "span_ms"),
            "curation.docs_per_s": rate({"curation.pipe4", "curation.d7"}),
        })
        for m in ("prepare", "assess", "reverse", "check"):
            out[f"schema.{m}_ms"] = per_op(fam(f"schema.{m}"), "span_ms")
    else:
        w = fam("cdc_window")
        lat = [o["ms"] for o in measured]
        out.update({
            "cdc.reduce_ms": per_op(w, "map_stage_ms"),
            "cdc.sink_ms": per_op(w, "result_stage_ms"),
            "cdc.rows_per_change": rows_per_change(
                inp, res["extra"]["windows_applied"]),
            "cdc.jobs_per_window": per_op(w, "jobs"),
            "cdc.changes_per_s": rate({"cdc.window"}),
            "cdc.window_p50_ms": statistics.median(lat),
            "cdc.window_p90_ms": p90(lat),
        })
    t = res["trace"]
    out["host.cpu_probe_start_s"] = t["probe_start_s"]
    out["host.cpu_probe_end_s"] = t["probe_end_s"]
    out["trace.overhead_pct"] = overhead_pct(measured)
    return out


def overhead_pct(measured):
    """Tracing overhead in percent: per kind of operation, the median
    traced latency and the median untraced latency; the sum of the
    first over the sum of the second, minus one. A traced run traces
    every other operation, in a checkerboard over cycles; the listeners
    stay registered throughout but drop every event outside a traced
    operation, and spans open only in traced operations."""
    by = {}
    for o in measured:
        by.setdefault((o["kind"], o["label"], o["traced"]), []).append(o["ms"])
    on = off = 0.0
    for (kind, label, traced), ms in by.items():
        if traced and (kind, label, False) in by:
            on += statistics.median(ms)
            off += statistics.median(by[kind, label, False])
    return (on / off - 1.0) * 100.0 if off else 0.0


def rows_per_change(inp, n_windows):
    """Rows the sink writes per change delivered: distinct keys of a
    window over its changes, averaged over the applied windows."""
    t = pq.read_table(f"{inp}/cdc_windows.parquet", columns=["window", "key"])
    per = {}
    for w, k in zip(t.column(0).to_pylist(), t.column(1).to_pylist()):
        if w < n_windows:
            s = per.setdefault(w, [set(), 0])
            s[0].add(k)
            s[1] += 1
    return statistics.mean(len(s) / n for s, n in per.values()) if per else 0.0


def run_jvm(cp, workload, inp, jvm, seconds, trace, deadline,
            setup_only=False):
    cores = max(1, min(4, os.cpu_count() or 1))
    os.makedirs(f"{jvm}/tmp", exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", "-Xms1g", "-Xmx1g",
            "-XX:+AlwaysPreTouch", "-Xss8m"] +
           build.ADD_OPENS +
           [f"-Djava.io.tmpdir={jvm}/tmp",
            f"-Dderby.stream.error.file={jvm}/derby.log",
            "-cp", cp, "graft.perfbench.Harness",
            "--workload", workload, "--input", inp, "--work", jvm,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--setup-only", str(int(setup_only)),
            "--t0-ms", str(int(time.time() * 1000))])
    with open(f"{jvm}.log", "w") as log:
        try:
            subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                           timeout=max(1.0, deadline - time.time()),
                           check=True, cwd=jvm)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness JVMs exceeded "
                             f"{JVM_BUDGET_S} s (log: {jvm}.log)")
        except subprocess.CalledProcessError as e:
            raise SystemExit(f"perfbench: harness failed ({e.returncode}); "
                             f"log: {jvm}.log")
    with open(f"{jvm}/result.json") as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cp = build.classpath()
    deadline = time.time() + JVM_BUDGET_S
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-s{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    inp, jvm = f"{work}/input", f"{work}/jvm"
    os.makedirs(jvm)
    gen.generate(a.workload, a.seed, inp)
    # set-up-only launches first; each one's cold cycle is checked too
    setups, attempted, failed = [], 0, 0
    for i in range(1, SETUPS[a.workload] if not a.trace else 1):
        d = f"{work}/setup{i}"
        os.makedirs(d)
        r = run_jvm(cp, a.workload, inp, d, 0, 0, deadline, setup_only=True)
        o, fin = judge(a.workload, inp, d, r)
        setups.append(r)
        attempted += len(o) + 1
        failed += sum(not x["good"] for x in o) + (1 if fin else 0)
        for p in fin:
            print(f"perfbench: set-up {i} final state: {p[:400]}",
                  file=sys.stderr)
    res = run_jvm(cp, a.workload, inp, jvm, a.seconds, a.trace, deadline)
    ops, final = judge(a.workload, inp, jvm, res)
    bad = [o for o in ops if not o["good"]]
    for o in bad[:5]:
        print(f"perfbench: {o['label']} (cycle {o['cycle']}): "
              f"{'; '.join(map(str, o['problems']))[:400]}", file=sys.stderr)
    for p in final:
        print(f"perfbench: final state: {p[:400]}", file=sys.stderr)
    print("perfbench: memory (MB): " + ", ".join(
        f"{k} {v:.1f}" for k, v in sorted(res["memory"].items())),
        file=sys.stderr)
    if a.trace:
        metrics = per_layer(a.workload, inp, res, ops)
        units = PER_LAYER
        out = os.path.join(ROOT, ".bench_out", f"{a.workload}-s{a.seed}")
        os.makedirs(out, exist_ok=True)
        shutil.copy(f"{jvm}/spans.jsonl", f"{out}/spans.jsonl")
        with open(f"{out}/per_layer.json", "w") as f:
            json.dump({"metrics": metrics, "families": res["trace"]["families"],
                       "tracing_overhead_pct": metrics["trace.overhead_pct"],
                       "listener_errors": res["trace"]["listener_errors"],
                       "memory": res["memory"]},
                      f, indent=1, sort_keys=True)
    else:
        metrics = end_to_end(a.workload, res, ops, setups)
        units = END_TO_END
    shutil.rmtree(work, ignore_errors=True)
    # every operation, plus the final-state check, of every launch
    attempted += len(ops) + 1
    failed += len(bad) + (1 if final else 0)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()}}))
    # the metrics are printed either way; a wrong run still fails
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
