"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload warehouse_mix --seed 1 --seconds 10 --trace 0

It generates the workload's inputs from ``--seed`` under ``.bench_work/``,
sets the program up cold (``setup_s``), checks the program's outputs
(which also warms it up), runs one client in a closed loop for
``--seconds`` and prints a report line and, last, one JSON object: the
end-to-end metrics of BENCHMARK.json, or with ``--trace 1`` its
per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# span-name prefixes whose self time is reported; "client" is the rest
LAYERS = ("client", "sources", "sinks", "plans.runner", "plans.jobs", "operators", "streaming")


def benchmark_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def end_to_end(out, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    from harness import tail_percentile

    ops = out.latencies
    return {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(ops),
        "op_s_tail": tail_percentile(ops)[1],
        "ops_per_min": 60 * (len(out.latencies) + len(out.traced)) / out.wall_s,
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(names: list[str], out, tracer, timings: dict, groups: dict) -> dict[str, float]:
    """Per-layer metrics, each normalized per traced operation (or per
    call, for a span's time); 0 where a layer has no work on this workload."""
    from collections import defaultdict

    from harness import tail_percentile

    spans, self_t, calls = tracer.totals(), tracer.self_times(), defaultdict(int)
    for s in tracer.spans:
        calls[s.name] += 1
    n_ops = max(1, len(tracer.op_module))  # traced operations
    ops_by_module = defaultdict(int)
    for mod in tracer.op_module.values():
        ops_by_module[mod] += 1
    by_module = defaultdict(lambda: defaultdict(float))
    for group, metrics in groups.items():
        if group.startswith("op-") and int(group[3:]) in tracer.op_module:
            for k, v in metrics.items():
                by_module[tracer.op_module[int(group[3:])]][k] += v
    traced_totals = defaultdict(float)
    for metrics in by_module.values():
        for k, v in metrics.items():
            traced_totals[k] += v

    def mean_span(name: str) -> float:
        return spans[name] / calls[name] if calls[name] else 0.0

    def layer_of(name: str) -> str:
        for prefix in LAYERS[1:]:
            if name.startswith(prefix + "."):
                return prefix
        return "client"

    self_by_layer = defaultdict(float)
    for name, secs in self_t.items():
        self_by_layer[layer_of(name)] += secs

    values = dict.fromkeys(names, 0.0)
    values |= {k: v for k, v in timings.items() if k != "setup_s"}
    values |= out.layers
    values |= {
        "sources.input_bytes": traced_totals["input_bytes"] / n_ops,
        "sources.input_rows": traced_totals["input_rows"] / n_ops,
        "sources.load_table_calls": tracer.counts["sources.load_table.calls"] / n_ops,
        "spark.gc_s": traced_totals["gc_ms"] / 1000 / n_ops,
        "sinks.merge_upsert_write_s": mean_span("sinks.merge_upsert_write"),
        "sinks.overwrite_s": mean_span("sinks.overwrite"),
        "sinks.bytes_written": tracer.counts["sinks.bytes_written"] / n_ops,
        "sinks.files": tracer.counts["sinks.files"] / n_ops,
        "trace.op_s_p50_untraced": statistics.median(out.latencies) if out.latencies else 0.0,
        "trace.op_s_p50_traced": statistics.median(out.traced) if out.traced else 0.0,
        "op.samples": len(out.latencies),
        "op.tail_percentile": tail_percentile(out.latencies)[0] if out.latencies else 0.0,
        "workload.error_rate": len(out.failures) / out.attempted,
    }
    values["trace.overhead_s"] = values["trace.op_s_p50_traced"] - values["trace.op_s_p50_untraced"]
    for layer in LAYERS:
        values[f"{layer}.self_s"] = self_by_layer[layer] / n_ops
    for k, v in out.extra.items():
        values[f"workload.{k}"] = v
    for mod, n in ops_by_module.items():
        m = by_module[mod]
        values[f"{mod}.plan_s"] = mean_span(f"{mod}.plan")
        values[f"{mod}.exec_s"] = mean_span(f"{mod}.exec")
        values[f"{mod}.spark_jobs"] = m["spark_jobs"] / n
        values[f"{mod}.shuffle_bytes"] = m["shuffle_bytes"] / n
        values[f"{mod}.spill_bytes"] = m["spill_bytes"] / n
    if "plans.jobs" in ops_by_module:
        # a tick's jobs persist through the sinks: their execution is the sink time
        values["plans.jobs.exec_s"] = (spans["sinks.merge_upsert_write"]
                                       + spans["sinks.overwrite"]) / max(1, calls["plans.jobs.plan"])
    return {k: values[k] for k in names}


def run(args, root: str) -> int:
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import harness
    import workloads
    from spark_setup import cold_setup, shutdown, spark_env
    from trace import Tracer, event_log_by_group

    bench = benchmark_spec(root)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        spark_env(work)
        info = workloads.generate(args.workload, args.seed, work)
        inputs = os.path.join(work, "inputs")
        extra_conf = {}
        log_dir = os.path.join(work, "eventlog")
        if args.trace:
            os.makedirs(log_dir)
            extra_conf = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                          "spark.eventLog.compress": "false"}
        spark, timings = cold_setup(inputs, work, extra_conf)
        workloads.log(f"set-up done in {timings['setup_s']:.1f}s")
        tracer = Tracer(spark)
        if args.trace:
            tracer.patch_layers()
        jvm = jvm_pid(spark)
        ctx = workloads.Ctx(spark, args.seed, args.seconds, bool(args.trace), work, tracer,
                            {"tables": info.pop("tables", None), "jvm_pid": jvm})
        out = workloads.WORKLOADS[args.workload](ctx)
        tracer.unpatch()
        peak = harness.vm_hwm_mb(jvm) + harness.vm_hwm_mb()
        shutdown(spark)
        spark = None
        if not out.latencies:
            out.fail("no operation completed")
        for failure in out.failures:
            workloads.log(f"FAILED {failure}")
        report = {"workload": args.workload, "seed": args.seed, "inputs": info,
                  "setup": timings, "notes": out.notes,
                  "failed": len(out.failures), "attempted": out.attempted,
                  "error_rate": len(out.failures) / out.attempted}
        if out.latencies:
            e2e = end_to_end(out, timings["setup_s"], peak)
            pct, _ = harness.tail_percentile(out.latencies)
            report |= {"metrics": e2e, "op_tail_percentile": pct,
                       "op_samples": len(out.latencies), **out.extra}
        print("REPORT " + json.dumps(report, default=str), flush=True)
        if not out.latencies:
            return 1
        if args.trace:
            names = [m["name"] for m in bench["per_layer"]]
            metrics = per_layer(names, out, tracer, timings, event_log_by_group(log_dir))
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            spans = os.path.join(root, ".bench_work", "traces",
                                 f"{args.workload}-{args.seed}-{os.getpid()}.jsonl")
            tracer.write(spans)
            workloads.log(f"{len(tracer.spans)} spans written to {spans}")
        else:
            metrics = e2e
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        print(json.dumps({
            "correct": not out.failures,
            "attempted": out.attempted,
            "failed": len(out.failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pitlapetl_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds pitlapetl_spark/",
              file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(root, "BENCHMARK.json")):
        print("perfbench: BENCHMARK.json not found in the working directory", file=sys.stderr)
        return 2
    return run(args, root)


if __name__ == "__main__":
    sys.exit(main())
