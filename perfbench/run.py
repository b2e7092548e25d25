"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,catalog_api,analytics}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON record: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A readable report with sample counts goes to standard
error; raw per-operation samples, the contention sentinel and (traced)
the spans go to ``.perfbench_out/`` in the checkout. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = time.perf_counter()


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(CHECKOUT, "geospatial_data_lake_spark")):
        print(f"perfbench: no program to measure under {CHECKOUT}", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)

    from perfbench import harness, layers, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    host = harness.Host(CHECKOUT, tag)
    wl = workloads.make(args.workload, args.seed, host.cpus)
    raw: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": host.cpus,
        "driver_memory": host.memory,
        "loadavg_start": os.getloadavg(),
    }
    try:
        # set-up = session start + the workload's fixture, built
        # SETUP_REPS times on fresh sessions (sharing the one JVM); the
        # last fixture is the one measured
        base = host.start_session()
        fixture_s = []
        for _ in range(harness.SETUP_REPS):
            t0 = time.perf_counter()
            spark = base.newSession()
            wl.setup(host, spark)
            fixture_s.append(time.perf_counter() - t0)
        setup_s = host.get_spark_s + harness.median(fixture_s)
        stages = {"setup": time.perf_counter() - T0}
        checked_ops = wl.prepare()
        calib_start = harness.calibrate(spark)
        stages["prepare"] = time.perf_counter() - T0
        tracer = None
        if args.trace:
            # first half untraced, second half traced: the difference is
            # the tracing overhead
            untraced = wl.measure(args.seconds / 2)
            tracer = Tracer(spark)
            wl.patch(tracer)
            catalog = getattr(wl, "catalog", None)
            gen0 = layers.catalog_generation(catalog) if catalog else 0
            try:
                segment = wl.measure(args.seconds / 2, tracer)
            finally:
                tracer.unpatch_all()
            commits = (layers.catalog_generation(catalog) - gen0) if catalog else 0
            tracer.resolve_spark_counts()
        else:
            segment = wl.measure(args.seconds)
        stages["measure"] = time.perf_counter() - T0
        calib_end = harness.calibrate(spark)
        retained_mb = host.retained_mb()  # before the checks' own allocations
        checked, check_errors = wl.finish_checks()
        peak_rss_mb = host.peak_rss_mb()
    finally:
        raw["loadavg_end"] = os.getloadavg()
        host.close()
    stages["close"] = time.perf_counter() - T0
    raw["stages_s"] = stages

    timed_ops = (untraced.ops if args.trace else []) + segment.ops
    ops = checked_ops + timed_ops
    errors = [f"{o.kind}: {o.error}" for o in ops if not o.ok] + check_errors
    attempted = len(ops) + checked
    failed = min(attempted, len(errors))
    e2e = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_latency_ms": {"value": segment.latency_s() * 1000.0, "unit": "ms"},
        "ops_per_s": {"value": segment.ops_per_s(), "unit": "1/s"},
        "retained_mb": {"value": retained_mb, "unit": "MB"},
    }
    named = {
        "setup_s": {"value": setup_s, "unit": "s", "samples": len(fixture_s)},
        "failed_share": {"value": failed / attempted, "unit": "share", "samples": attempted},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB", "samples": 1},
        "retained_mb": {"value": retained_mb, "unit": "MB", "samples": 1},
        **wl.named_metrics(segment),
    }
    drift = max(calib_start, calib_end) / max(min(calib_start, calib_end), 1e-9)
    raw.update(
        get_spark_s=host.get_spark_s,
        fixture_s=fixture_s,
        calibration={"start_s": calib_start, "end_s": calib_end, "drift": drift},
        samples=[
            {"kind": o.kind, "seconds": o.seconds, "ok": o.ok, "timed": timed}
            for timed, group in ((False, checked_ops), (True, timed_ops))
            for o in group
        ],
        named_metrics=named,
        errors=errors,
    )
    if args.trace:
        metrics = layers.per_layer(
            tracer, segment, untraced, host.get_spark_s, commits
        )
    else:
        metrics = e2e
    raw["metrics"] = metrics

    out_dir = os.path.join(CHECKOUT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(raw, fh, indent=1)
    if tracer is not None:
        tracer.dump(os.path.join(out_dir, f"{tag}.spans.json"))

    _report(args, host, named, metrics, raw, errors)
    record = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(record), flush=True)
    return 0 if not errors else 1


def _report(args, host, named, metrics, raw, errors) -> None:
    err = sys.stderr
    print(
        f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} cpus={host.cpus} driver_memory={host.memory}",
        file=err,
    )
    for name, m in named.items():
        print(f"  {name:32s} {m['value']:14.4f} {m['unit']:6s} n={m['samples']}", file=err)
    if args.trace:
        for name, m in metrics.items():
            print(f"  {name:48s} {m['value']:14.4f} {m['unit']}", file=err)
    cal = raw["calibration"]
    print(
        f"  sentinel: calibration {cal['start_s']:.4f}s -> {cal['end_s']:.4f}s "
        f"(drift {cal['drift']:.2f}), loadavg {raw['loadavg_start'][0]:.2f} -> "
        f"{raw['loadavg_end'][0]:.2f}",
        file=err,
    )
    for e in errors:
        print(f"  CHECK FAILED: {e}", file=err)


if __name__ == "__main__":
    sys.exit(main())
