"""Benchmark entry point.

    python3 perfbench/run.py --workload bridge --seed 1 \\
        --seconds 15 --trace 0

Runs one workload in a fresh Spark session from the checkout's own source,
checks its output, prints every metric by name with its unit, and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics with tracing off;
``--trace 1`` measures traced, then repeats the primary measurement
untraced, and reports the per-layer metrics, per-layer self time and the
tracing overhead. The workloads and metrics are described in
perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import core, session  # noqa: E402

# What the end-to-end metrics are on each workload, as the printed report
# names them.
E2E_NAMES = {
    "bridge": {"throughput_per_s": ("ingest_rows_per_s", "rows/s"),
               "latency_p50_s": ("freshness_p50_s", "s")},
    "analytics_mix": {"throughput_per_s": ("queries_per_s", "1/s"),
                      "latency_p50_s": ("analytics_pass_s", "s")},
}


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """``{name: unit}`` of the end-to-end and per-layer metrics
    BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[key]}
                 for key in ("end_to_end", "per_layer"))


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def make_workload(name: str):
    # imported here: the bridge imports the engine package, which a bare
    # benchmark directory does not have (main reports that first)
    from perfbench import analytics, bridge

    return {
        "bridge": bridge.BridgeWorkload,
        "analytics_mix": analytics.Mix,
    }[name]()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(E2E_NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import opc2mongodb_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the opc2mongodb_spark package is not in this "
              f"checkout ({exc})", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    workdir = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(workdir, exist_ok=True)
    session.configure_env(ROOT, workdir)
    try:
        return run(args, workdir, run_id)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, workdir: str, run_id: str) -> int:
    tracer = core.Tracer(bool(args.trace), run_id)
    workload = make_workload(args.workload)
    attempted, problems = 0, []
    t = time.perf_counter()
    with tracer.span("session.start"):
        spark = session.start_session(workdir)
    start_s = time.perf_counter() - t
    sampler = core.RssSampler(session.jvm_pid()).start()
    try:
        t = time.perf_counter()
        with tracer.span("inputs.generate"):
            workload.prepare(spark, workdir, args.seed)
        generate_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("session.warmup", phase=True):
            n, more = workload.warmup(tracer)
        warmup_s = time.perf_counter() - t
        attempted += n
        problems += more
        setup_s = process_age_s()

        if args.trace:
            measured = workload.measure(args.seconds, tracer)
            # the primary measurement once more, untraced and after the
            # traced one: the process is still warming, which can then only
            # overstate the tracing overhead
            again_s = workload.primary_s()
            probes, n, more = workload.layer_probes(spark, tracer)
            attempted += n
            problems += more
            tracer.write(os.path.join(ROOT, ".perfbench_work",
                                      f"trace-{run_id}.json"))
        else:
            measured = workload.measure(args.seconds,
                                        core.Tracer(False, run_id))
        attempted += measured["attempted"]
        problems += measured["problems"]
    finally:
        peak_mb = sampler.stop()
        session.stop_session(spark)

    failed = len(problems)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    e2e_units, layer_units = declared_metrics()
    print(f"workload {args.workload} seed {args.seed}: "
          f"{attempted} attempted, {failed} failed")
    if args.trace:
        selfs = core.self_times(tracer.spans)
        values = {
            **measured["layers"],
            **probes,
            **{key: sum(v for k, v in selfs.items()
                        if k.split(".")[0] == key.split(".", 1)[1])
               for key in layer_units if key.startswith("self_s.")},
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "inputs.generate_s": generate_s,
            "trace.overhead_s": measured["primary_s"] - again_s,
            "trace.overhead_ratio": measured["primary_s"] / again_s - 1,
            "run.error_rate": failed / attempted,
            "run.peak_rss_mb": peak_mb,
        }
        # layers a workload does not exercise read zero; what a workload
        # measures beyond the declared list is left out
        metrics = {k: (values.get(k, 0.0), u) for k, u in layer_units.items()}
        for key, (value, unit) in metrics.items():
            print(f"  {key:<40} {value:>16.4f} {unit}")
    else:
        values = {"setup_s": setup_s, **measured["e2e"]}
        metrics = {k: (values[k], u) for k, u in e2e_units.items()}
        names = E2E_NAMES[args.workload]
        for key, (value, unit) in metrics.items():
            label, shown_unit = names.get(key, (key, unit))
            print(f"  {label:<24} {value:>14.4f} {shown_unit}"
                  + (f"   ({key})" if label != key else ""))
        print(f"  {'error_rate':<24} {failed / attempted:>14.4f} ratio")
        print(f"  {'peak_rss_mb':<24} {peak_mb:>14.4f} MB")
        for note in measured.get("notes", []):
            print(f"  {note}")
    print(core.result_line(failed == 0, attempted, failed, metrics))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
