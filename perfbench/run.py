#!/usr/bin/env python3
"""The repository benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload tsdb_reads --seed 1 --seconds 15 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the closed-loop
client perfbench.Harness in one JVM at local[nproc], checks every op
type's output against its DuckDB oracle (perfbench/oracle.py) and prints,
as the last stdout line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics of a traced run with --trace 1. The full artifact
(input sizes, per-op samples, oracle verdicts, per-op layer numbers,
spans) is written under .bench_build/perfbench/results/. See README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import launch  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS, input_table  # noqa: E402

# Warm-up stops once a pass changes by less than this share (tighter than
# every end-to-end bound in BENCHMARK.json), or after this many passes
# past the check pass; the artifact records which (`warmup_steady`).
# More passes were tried and did not narrow the run-to-run spread.
WARMUP_BOUND = 0.10
WARMUP_PASSES = 2
# A run ends within this many seconds after the build.
RUN_BUDGET_S = 170

END_TO_END = {  # name -> unit
    "setup_s": "s", "ops_per_s": "1/s", "rows_per_s": "rows/s",
    "latency_p50_s": "s", "latency_tail_s": "s", "peak_rss_mb": "MiB",
}
# per-layer metric -> (unit, how the workload total is formed)
PER_LAYER = {
    "construct.s": ("s", "sum"), "construct.jobs": ("count", "sum"),
    "construct.share": ("ratio", ("construct.s", "wall_s")),
    "construct.self_s": ("s", "sum"),
    "catalyst.analysis_s": ("s", "sum"), "catalyst.optimization_s": ("s", "sum"),
    "catalyst.planning_s": ("s", "sum"), "catalyst.plan_nodes": ("count", "sum"),
    "catalyst.self_s": ("s", "sum"),
    "exec.s": ("s", "sum"), "exec.self_s": ("s", "sum"),
    "exec.jobs": ("count", "sum"), "exec.stages": ("count", "sum"),
    "exec.tasks": ("count", "sum"),
    "exec.single_task_stage_share": ("ratio", ("exec.single_task_stages", "exec.stages")),
    "exec.slot_util": ("ratio", ("exec.run_s", "exec.slot_s")),
    "exec.task_cpu_s": ("s", "sum"), "exec.gc_s": ("s", "sum"),
    "exec.failed_tasks": ("count", "sum"),
    "scan.files": ("count", "sum"), "scan.splits": ("count", "sum"),
    "scan.bytes": ("bytes", "sum"), "scan.rows_read": ("count", "sum"),
    "scan.rows_kept_ratio": ("ratio", ("scan.rows_read", "scan.rows_in_files")),
    "shuffle.write_bytes": ("bytes", "sum"), "shuffle.read_bytes": ("bytes", "sum"),
    "shuffle.fetch_wait_s": ("s", "sum"), "spill.bytes": ("bytes", "sum"),
    "stream.batches": ("count", "sum"), "stream.batch_s": ("s", "sum"),
    "stream.add_batch_s": ("s", "sum"), "stream.wal_commit_s": ("s", "sum"),
    "stream.commit_offsets_s": ("s", "sum"),
    "stream.query_planning_s": ("s", "sum"),
    "stream.latest_offset_s": ("s", "sum"), "stream.input_rows": ("count", "sum"),
    "stream.state_rows": ("count", "sum"), "stream.state_mem_bytes": ("bytes", "sum"),
    "stream.state_commit_s": ("s", "sum"),
    "storage.mem_mb": ("MiB", "sum"), "storage.blocks": ("count", "sum"),
    "storage.scratch_mb": ("MiB", "sum"),
}


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def tail(values):
    """(value, pct, beyond): the highest percentile with at least 10
    samples beyond it. Below 21 samples that order statistic sits under
    the median, which is no tail, so the run reports its maximum."""
    s = sorted(values)
    if len(s) < 21:
        return s[-1], 100.0, 0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s), len(s) - 1 - k


def throughput(samples, table_rows):
    """(ops/s, rows/s) of the median pass: every pass runs the same op
    mix, so the median pass is robust to one pass hit by host noise."""
    passes = {}
    for x in samples:
        p = passes.setdefault(x["pass"], [0.0, 0, 0])
        p[0] += x["s"]
        p[1] += 1
        p[2] += table_rows[input_table(x["op"])]
    busy, ops, rows = sorted(passes.values())[(len(passes) - 1) // 2]
    return ops / busy, rows / busy


def end_to_end(samples, setup_s, rss_mb, table_rows):
    lat = [x["s"] for x in samples]
    ops_per_s, rows_per_s = throughput(samples, table_rows)
    t, pct, beyond = tail(lat)
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": ops_per_s,
        "rows_per_s": rows_per_s,
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": t,
        "peak_rss_mb": rss_mb,
    }
    return metrics, {"latency_tail_pct": pct, "latency_tail_beyond": beyond,
                     "latency_samples": len(lat)}


def per_layer(layers, cpus):
    for m in layers:
        m["exec.slot_s"] = m["exec.s"] * cpus
        m["exec.single_task_stage_share"] = (
            m["exec.single_task_stages"] / m["exec.stages"] if m["exec.stages"] else 0.0)
        m["exec.slot_util"] = m["exec.run_s"] / m["exec.slot_s"] if m["exec.slot_s"] else 0.0
        m["scan.rows_kept_ratio"] = (
            m["scan.rows_read"] / m["scan.rows_in_files"] if m["scan.rows_in_files"] else 0.0)
    out = {}
    for name, (_, total) in PER_LAYER.items():
        out[name] = statistics.median(m[name] for m in layers)
        if total == "sum":
            out[name + ".total"] = sum(m[name] for m in layers)
        else:
            num = sum(m[total[0]] for m in layers)
            den = sum(m[total[1]] for m in layers)
            out[name + ".total"] = num / den if den else 0.0
    return out


def unit_of(name):
    if name.startswith("trace."):
        return "1/s" if name == "trace.ops_per_s" else "ratio"
    return PER_LAYER[name.removesuffix(".total")][0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cpus = nproc()
    try:
        classpath, cds = build.build(cpus)
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")
    t_start = time.perf_counter()

    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    root = os.path.join(build.BUILD, "runs", f"{run_id}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    inputs, work = os.path.join(root, "inputs"), os.path.join(root, "work")
    tables = gen.generate(WORKLOADS[a.workload]["tables"], a.seed, inputs, cpus)
    gen_s = time.perf_counter() - t_start

    conf = {
        "inputs": inputs, "work": work, "cpus": cpus, "seconds": a.seconds,
        "trace": a.trace, "order_seed": a.seed,
        "ops": ",".join(WORKLOADS[a.workload]["ops"]),
        "warmup_bound": WARMUP_BOUND,
        "warmup_passes": WARMUP_PASSES,
        "out": os.path.join(root, "harness.json"),
    }
    conf.update({f"table.{t}.{k}": s[k] for t, s in tables.items() for k in ("rows", "files")})
    rc = launch.harness(classpath, conf, root, cds,
                        RUN_BUDGET_S - (time.perf_counter() - t_start) - 10)
    log_path = os.path.join(root, "jvm.log")
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        shutil.rmtree(root, ignore_errors=True)
        sys.exit(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}")
    with open(conf["out"]) as fh:
        h = json.load(fh)

    # ---- oracle check (untimed, once per op type) ---------------------------
    verdicts = oracle.check(inputs, os.path.join(work, "check"), h["oracle_sql"],
                            h["expected_rows"], tables)
    for op, err in h["check_errors"].items():
        verdicts[op] = f"FAILED {err}"
    wrong = {op for op, v in verdicts.items() if not v.startswith("OK")}

    table_rows = {n: st["rows"] for n, st in tables.items()}
    timed = h["timed"]
    failed = sum(1 for x in timed if not x["ok"] or x["op"] in wrong) + len(h["check_errors"])
    attempted = len(timed) + len(h["check_errors"])
    e2e, tail_info = end_to_end(timed, h["setup_s"], h["peak_rss_mb"], table_rows)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": cpus, "loop": "closed", "clients": 1,
        "inputs": tables, "gen_s": gen_s, "session_up_s": h["session_up_s"],
        "warmup_pass_s": h["warmup_pass_s"], "warmup_steady": h["warmup_steady"],
        "oracle": verdicts, "error_rate": failed / attempted, **tail_info,
        "end_to_end": e2e, "timed": timed,
    }
    if a.trace:
        traced = h["traced"]
        layers = per_layer(h["layers"], cpus)
        traced_ops_per_s = throughput(traced, table_rows)[0]
        walls = sum(m["wall_s"] for m in h["layers"])
        layers["trace.ops_per_s"] = traced_ops_per_s
        layers["trace.overhead_share"] = 1.0 - traced_ops_per_s / e2e["ops_per_s"]
        layers["trace.unattributed_share"] = (
            sum(m["trace.unattributed_s"] for m in h["layers"]) / walls)
        failed += sum(1 for x in traced if not x["ok"] or x["op"] in wrong)
        attempted += len(traced)
        artifact.update(per_layer=layers, per_op_layers=h["layers"],
                        spans=os.path.join(build.BUILD, "results", run_id + ".spans.jsonl"))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    art_path = os.path.join(results, run_id + ".json")
    with open(art_path, "w") as fh:
        json.dump(artifact, fh, indent=1)
    # keep the artifact, JVM log and spans; drop inputs, op dirs and scratch
    shutil.copy(log_path, os.path.join(results, run_id + ".log"))
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(results, run_id + ".spans.jsonl"))
    shutil.rmtree(root, ignore_errors=True)

    correct = not wrong and failed == 0
    for op, v in sorted(verdicts.items()):
        if op in wrong:
            print(f"oracle {op}: {v}")
    print(f"perfbench {run_id}: {len(timed)} ops, setup {h['setup_s']:.2f} s, "
          f"warm-up passes {[round(x, 2) for x in h['warmup_pass_s']]}, "
          f"oracle {len(verdicts) - len(wrong)}/{len(verdicts)} OK, artifact {art_path}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
