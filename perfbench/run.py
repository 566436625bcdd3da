"""Benchmark entry point.

    python3 perfbench/run.py --workload pages_job --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Prints one line per metric (name, value,
unit), then the run's host record, then as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics, with --trace 1 the per-layer metrics. See
perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import harness  # noqa: E402

WORKLOADS = ("pages_job", "query_suite")


class Context:
    """What a workload reads (its arguments) and fills in (timings, counts,
    correctness tally)."""

    def __init__(self, seed: int, seconds: float, trace: bool) -> None:
        from gates import Tally
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spans = harness.Spans()
        self.sessions = harness.Sessions(T_PROCESS_START)
        self.rss = harness.RssSampler()
        self.tally = Tally()
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.info: dict[str, object] = {}


def _fmt(v):
    return v if isinstance(v, int) else float(v)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)):
        print(f"perfbench: no {harness.PACKAGE}/ next to perfbench/; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2

    import wl_pages
    import wl_queries
    workload = {"pages_job": wl_pages, "query_suite": wl_queries}[args.workload]
    host_before = harness.host_info()
    harness.prepare_env(host_before["ram_gb"], workload.JVM_C1_ONLY)
    sys.path.insert(0, harness.ROOT)

    ctx = Context(args.seed, args.seconds, bool(args.trace))
    try:
        workload.run(ctx)
    except Exception:  # noqa: BLE001 - report and exit without a result
        traceback.print_exc()
        return 1
    finally:
        ctx.sessions.close()
        ctx.rss.close()

    setups = ctx.sessions.setups
    ctx.e2e["setup_s"] = statistics.median(setups)
    # median over the measured calls of each call's peak
    ctx.e2e["peak_rss_mb"] = statistics.median(ctx.rss.peaks) / (1 << 20)
    ctx.layers["setup.cold_s"] = setups[0]
    ctx.layers["sources.stage_s"] = ctx.spans.total("sources.stage_s")
    if "trace.headline_s" in ctx.layers:
        # against the last untraced headline, the nearest in JVM warmth
        ctx.layers["trace.overhead_pct"] = 100.0 * (
            ctx.layers["trace.headline_s"] / ctx.info["last_untraced_s"] - 1.0)

    with open(os.path.join(harness.ROOT, "BENCHMARK.json"),
              encoding="utf-8") as f:
        spec = json.load(f)  # the metric names, units and directions
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    source = ctx.layers if args.trace else ctx.e2e
    metrics = {}
    for name, unit in ((m["name"], m["unit"]) for m in wanted):
        # a layer the workload does not enter reports 0
        value = _fmt(source.get(name, 0))
        metrics[name] = {"value": value, "unit": unit}
        print(f"metric {name} {value} {unit}")
    extra = {k: v for k, v in {**ctx.e2e, **ctx.layers}.items()
             if k not in metrics}
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host_before": host_before, "host_after": harness.host_info(),
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "cores": workload.CORES,
        "setups_s": setups, "info": ctx.info, "other": extra,
        "rss_peaks_mb": [round(p / (1 << 20), 1) for p in ctx.rss.peaks],
        "spans": {n: round(ctx.spans.total(n), 3)
                  for n in dict.fromkeys(r[0] for r in ctx.spans.records)},
        "failures": ctx.tally.notes[:20],
    }
    print("run " + json.dumps(record, default=str))
    with open(os.path.join(harness.WORK, "last_run.json"), "w") as f:
        json.dump({**record, "metrics": metrics}, f, indent=1, default=str)
    for note in ctx.tally.notes[:20]:
        print("failure " + note, file=sys.stderr)
    print(json.dumps({
        "correct": ctx.tally.failed == 0 and ctx.tally.attempted > 0,
        "attempted": max(1, ctx.tally.attempted),
        "failed": ctx.tally.failed,
        "metrics": metrics,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
