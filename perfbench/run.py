"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One process, Spark
``local[nproc]``, closed loop: every operation starts when the previous
one has finished. With ``--trace 0`` the last line of standard output
is the JSON result with the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics instead. The line before it is a JSON
detail record: run-hygiene markers and the workload's own named
figures. The workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback


def _process_start() -> float:
    """perf_counter() value at which this process was created."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - max(0.0, age)


T_PROCESS = _process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {
    "tutorial_concurrent": "wl_tutorial",
    "batch_scan_cards": "wl_batch",
}
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "pass_s": "s",
    "peak_mem_mb": "MB",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        layer_units = load_layer_units()
    except (OSError, ValueError, KeyError) as exc:
        print(f"perfbench: cannot read BENCHMARK.json ({exc})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)  # ahead of the checkout root
    try:
        import advent_of_code_flink_paimon_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here ({exc})", file=sys.stderr)
        return 2

    import common

    ctx = common.RunContext(ROOT, args.workload, args.seed, bool(args.trace))
    ctx.scoped_env()
    wl_mod = importlib.import_module(WORKLOADS[args.workload])
    try:
        result = run(ctx, wl_mod, args, layer_units)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.stop()
        ctx.cleanup()
    detail, metrics, correct, attempted, failed = result
    detail["markers"] = ctx.markers
    print(json.dumps({"detail": detail}, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def run(ctx, wl_mod, args, layer_units: dict[str, str]):
    import common

    cores = os.cpu_count() or 1
    ctx.start_spark(cores)
    wl = wl_mod.Workload(ctx)

    t0 = time.perf_counter()
    wl.build_inputs()
    t_build_end = time.perf_counter()
    wl.warm_up()
    t_first_op = time.perf_counter()
    setup_s = t_first_op - T_PROCESS

    common.reset_peaks(ctx.spark)
    up0 = common.jvm_uptime_ms(ctx.spark)
    ticks0 = common.cpu_ticks()
    cpu0 = common.py_cpu_s()
    passes = wl.measure(args.seconds)
    cpu1 = common.py_cpu_s()
    ticks1 = common.cpu_ticks()
    mem = {
        "python": common.vm_hwm_mb(),
        "jvm_heap_peak": common.jvm_heap_peak_mb(ctx.spark),
        "jvm_live_peak": common.gc_live_peak_mb(
            ctx.gc_log, up0, common.jvm_uptime_ms(ctx.spark)
        ),
    }
    # no collection in the loop: the pools' peak bounds what was live
    jvm_mb = mem["jvm_live_peak"] if mem["jvm_live_peak"] is not None else mem["jvm_heap_peak"]
    ops = wl.op_samples_ms(passes)
    pass_walls = [p["pass_s"] for p in passes]

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "setup": {
            "session_start_s": ctx.session_start_s,
            "input_build_s": t_build_end - t0,
            "warm_up_s": t_first_op - t_build_end,
        },
        "tail_pct": wl.tail_pct,
        "op_samples": len(ops),
        "op_samples_beyond_tail": common.samples_beyond(len(ops), wl.tail_pct),
        "passes": len(passes),
        "peak_mem_mb": mem,
        "steal_frac_timed": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
    }
    detail.update(wl.details(passes))

    layers = window = None
    if ctx.trace:
        layers, window = trace_phase(ctx, wl, args, common.p50(pass_walls), detail)
        layers["driver.py_cpu_s"] = cpu1 - cpu0  # of the untraced phase
        layers["session.start_s"] = ctx.session_start_s
    t_check = time.perf_counter()
    detail.update(wl.check())
    detail["check_s"] = time.perf_counter() - t_check
    detail["problems"] = wl.problems[:20]
    detail["failed_frac"] = wl.failed / max(1, wl.attempted)
    if ctx.jvm_pid is not None:
        detail["jvm_vm_hwm_mb"] = common.vm_hwm_mb(ctx.jvm_pid)
    ctx.stop()

    failed, attempted = wl.failed, max(1, wl.attempted)
    correct = failed == 0
    if ctx.trace:
        layers.update(common.event_log_summary(ctx.event_log_dir, *window, ctx.markers["local_n"]))
        unknown = sorted(set(layers) - set(layer_units))
        if unknown:
            print(f"perfbench: unlisted layer metrics dropped: {unknown}", file=sys.stderr)
        metrics = {
            k: {"value": layers.get(k, 0.0), "unit": unit} for k, unit in layer_units.items()
        }
    else:
        e2e = {
            "setup_s": setup_s,
            "op_p50_ms": common.p50(ops),
            "op_tail_ms": common.tail(ops, wl.tail_pct),
            "pass_s": common.p50(pass_walls),
            "peak_mem_mb": mem["python"] + jvm_mb,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    return detail, metrics, correct, attempted, failed


def trace_phase(ctx, wl, args, untraced_pass_s: float, detail: dict) -> tuple[dict, tuple]:
    """The per-layer run: the same timed loop again with spans on, then
    once more untraced. Returns the layer figures and the wall-clock
    window of the traced loop, whose Spark event log is summarised once
    Spark has stopped. The tracing overhead is the traced pass wall
    against the median of the untraced loops before and after it."""
    import common

    tracer = common.Tracer()
    tracer.install_engine()
    t0_ms = time.time() * 1000.0
    cpu0 = common.py_cpu_s()
    try:
        passes = wl.measure(args.seconds, tracer=tracer)
    finally:
        tracer.uninstall()
    t1_ms = time.time() * 1000.0
    cpu1 = common.py_cpu_s()
    layers = common.engine_layer_metrics(tracer)
    layers.update(wl.layers(passes, tracer))
    # untraced again after the traced loop, so warming does not bias
    # the comparison either way
    after = wl.measure(args.seconds)
    untraced = [untraced_pass_s, common.p50([p["pass_s"] for p in after])]
    layers["trace.pass_s"] = common.p50([p["pass_s"] for p in passes])
    layers["trace.overhead_frac"] = layers["trace.pass_s"] / common.p50(untraced) - 1.0
    detail["trace"] = {
        "untraced_pass_s": untraced,
        "traced_pass_s": [p["pass_s"] for p in passes],
    }
    layers["driver.py_cpu_traced_s"] = cpu1 - cpu0
    solo = getattr(wl, "solo", None)
    if solo is not None:
        for name, ms in solo().items():
            layers[f"streaming.solo_trigger_ms.{name}"] = ms
    out = os.path.join(HERE, ".out")
    os.makedirs(out, exist_ok=True)
    tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
    return layers, (t0_ms, t1_ms)


def load_layer_units() -> dict[str, str]:
    """Name -> unit of every per-layer metric listed in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
