"""The repo benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload {serve,sync} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It builds nothing: the package is
imported from the checkout. Set-up (session start, seeded fixture
generation and the workload's own preparation) is timed apart from the
measured loop, whose length `--seconds` sets: whole cycles of the
workload's mix, so every run measures the same mix. Outputs are checked
after the loop, outside the timed region.

`--trace 0` reports the end-to-end metrics; `--trace 1` runs the same
workload with Spark's event log on and job groups set around every call
the benchmark makes, and reports the per-layer metrics instead. The last
line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Every sample is kept in .perfbench/results/<workload>-seed<N>-trace<T>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import core  # noqa: E402

CPUS = max(1, min(4, os.cpu_count() or 1))

# the metric names and units the benchmark reports, as BENCHMARK.json
# declares them
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

# what each generic metric is called on each workload (printed per run)
ALIASES = {
    "serve": {
        "throughput_per_s": ("serve_qps", "queries/s", 1.0),
        "op_p50_ms": ("serve_p50_ms", "ms", 1.0),
        "op_tail_ms": ("serve_tail_ms", "ms", 1.0),
        "read_p50_ms": ("serve_exec_p50_ms", "ms", 1.0),
    },
    "sync": {
        "throughput_per_s": ("sync_blocks_per_s", "blocks/s", 1.0),
        "op_p50_ms": ("sync_apply_p50_s", "s", 1e-3),
        "op_tail_ms": ("sync_apply_tail_s", "s", 1e-3),
        "read_p50_ms": ("sync_read_p50_s", "s", 1e-3),
    },
}


def _workload(name: str):
    from perfbench import serve, sync

    return {"serve": serve, "sync": sync}[name]


def _result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(core.RESULTS, f"{workload}-seed{seed}-trace{trace}.json")


def _untraced_reference(args) -> dict:
    """The result of an untraced run of the same workload, seed and
    length, measured now in a child process, before this run starts its
    own Spark; the traced run is set against it."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        check=True, stdout=subprocess.PIPE, text=True, timeout=150,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _measure(args, run_dir: str, ref: dict | None) -> tuple[dict, dict]:
    """One run: set-up, the measured loop, the checks and (traced) the
    per-layer figures, with `ref` the untraced reference. Returns the
    full record and the reported metrics."""
    trace = bool(args.trace)
    wl = _workload(args.workload)
    rec = core.Recorder(args.workload, trace)
    spark = None
    try:
        # set-up (setup_s): session start, seeded fixture generation and
        # the workload's own preparation
        t0 = time.perf_counter()
        with rec.span("session", "get_spark"):
            spark = core.start_spark(args.workload, CPUS, run_dir, trace)
        start_s = time.perf_counter() - t0
        rec.sc = spark.sparkContext
        env = wl.setup(spark, rec, args.seed, args.seconds, run_dir)
        setup_s = time.perf_counter() - t0
        with rec.span("bench", "measure"):
            res = wl.measure(spark, rec, env, args.seed, args.seconds)
        errors = wl.check(spark, env, res, run_dir)
        if ref is not None and not ref["correct"]:
            errors.append(f"untraced reference: {ref['failed']} of {ref['attempted']} failed")
        if trace and args.workload == "serve":
            wl.trace_ingest(spark, rec, env)
        rss = core.peak_rss_mb(core.jvm_pid())
    finally:
        if spark is not None:
            core.stop_spark(spark)

    op = rec.values("op_ms")
    tail_v, tail_label = core.tail(op)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": res["work_units"] / res["wall_s"],
        "op_p50_ms": core.median(op),
        "op_tail_ms": tail_v,
        "read_p50_ms": core.median(rec.values("read_ms")),
        "peak_rss_mb": rss,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": CPUS, "tail": tail_label,
        "attempted": res["attempted"], "failed": res["failed"] + len(errors),
        "errors": errors, "end_to_end": e2e, "samples": rec.samples,
    }
    if not trace:
        return record, {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}

    core.attribute(core.read_event_log(os.path.join(run_dir, "eventlog")), rec.spans)
    # a layer the workload does not touch reports 0
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update(wl.layer_metrics(rec, env))
    loop = rec.spans_of("bench", "measure")[-1]
    wall = loop["t1"] - loop["t0"]
    n_ops = max(len(op), 1)
    ref_p50 = ref["metrics"]["op_p50_ms"]["value"]
    layers.update({
        "session.start_s": start_s,
        "fixtures.gen_s": core.median(rec.values("fixtures.gen_s")),
        "spark.jobs_per_op": loop["jobs"] / n_ops,
        "spark.executor_run_s_per_op": loop["executor_run_s"] / n_ops,
        "spark.cpu_s_per_op": loop["cpu_s"] / n_ops,
        "spark.driver_floor_share": max(wall - loop["task_cover_s"], 0.0) / wall,
        "spark.gc_s": loop["gc_s"],
        "spark.shuffle_bytes_per_op": loop["shuffle_bytes"] / n_ops,
        "spark.spill_bytes": loop["spill_bytes"],
        "trace.op_p50_ms": e2e["op_p50_ms"],
        "trace.untraced_op_p50_ms": ref_p50,
        "trace.overhead_pct": 100.0 * (e2e["op_p50_ms"] / ref_p50 - 1.0) if ref_p50 else 0.0,
    })
    record.update(per_layer=layers, untraced_reference=ref, spans=rec.spans)
    return record, {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}


def _report(record: dict, metrics: dict) -> None:
    """Every metric by name with its unit and its samples' quartiles."""
    w, failed, attempted = record["workload"], record["failed"], record["attempted"]
    for e in record["errors"][:20]:
        print(f"check: {e}")
    print(f"workload {w} seed {record['seed']}: {attempted} attempted, {failed} failed, "
          f"error_rate {failed / max(attempted, 1):.4f} (fraction); "
          f"tail is {record['tail']}; local[{CPUS}]")
    samples = {"op_p50_ms": "op_ms", "read_p50_ms": "read_ms"}
    for k, v in record["end_to_end"].items():
        line = f"  {k} = {v:.6g} {END_TO_END[k]}"
        alias = ALIASES[w].get(k)
        if alias:
            line += f"  ({alias[0]} = {v * alias[2]:.6g} {alias[1]})"
        q = core.quartiles(record["samples"].get(samples.get(k, ""), []))
        if q["n"] > 1:
            line += f"  [n={q['n']} p25={q['p25']:.6g} p50={q['p50']:.6g} p75={q['p75']:.6g}]"
        print(line)
    if record["trace"]:
        for k in sorted(metrics):
            print(f"  {k} = {metrics[k]['value']:.6g} {metrics[k]['unit']}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "sync"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import ergo_uexplorer_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    ref = _untraced_reference(args) if args.trace else None
    run_dir = os.path.join(core.WORK, f"run-{os.getpid()}")
    core.clean(run_dir)
    core.prepare_env(run_dir)
    os.makedirs(core.RESULTS, exist_ok=True)
    try:
        record, metrics = _measure(args, run_dir, ref)
    finally:
        core.clean(run_dir)
    with open(_result_path(args.workload, args.seed, args.trace), "w") as f:
        json.dump(record, f, indent=1, default=str)
    _report(record, metrics)
    print(json.dumps({
        "correct": not record["errors"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
