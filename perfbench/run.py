"""sketchlib benchmark: ``ingest``, ``serve`` and ``maintain`` workloads.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Spark runs at ``local[nproc]``; inputs
are generated from ``--seed`` and cached under ``.perfbench_cache/``;
each run works in its own ``.perfbench_scratch/`` directory and removes it.

``--trace 0`` starts the JVM, then sets up the workload three times
(``setup_s`` is the median),
runs it for ``--seconds`` and prints the end-to-end metrics.  ``--trace 1``
wraps the library's layers in spans and runs all three workloads, each
set up once and run for a third of ``--seconds`` with tracing switched on and
off on alternate steps, then ``ingest`` once more at ``local[1]``; it
prints the per-layer metrics and writes the spans and a report under
``.perfbench_out/``.

Every process the run starts (the JVM, Spark's Python workers, the input
generator) is stopped and waited for before it exits, on every path out.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "serve", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


@dataclass
class Context:
    seed: int
    cpus: int
    scratch: str
    rec: object
    guard: object
    checker: object
    spark: object = None
    lookup_ms: list = field(default_factory=list)

    def restart(self, cpus: int | None = None):
        import sparkstats

        if self.spark is not None:
            self.spark.stop()
        self.spark = sparkstats.start_session(ROOT, self.scratch, cpus or self.cpus)
        return self.spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)


def make_workload(ctx, name: str):
    import pyarrow.parquet as pq

    import inputs
    import workloads

    source = inputs.transcripts_path(ROOT, ctx.seed, workloads.CONVERSATIONS[name], 2 * ctx.cpus)
    truth = inputs.Truth(pq.read_table(source), ctx.seed)
    return workloads.WORKLOADS[name](ctx, source, truth)


def set_up(ctx, wl, reps: int) -> list[float]:
    """Restart the session and build the workload's state ``reps`` times;
    then warm the last session up, untimed.  A JVM start takes 3-5 s and
    varies by a second, so it is left out of the timing."""
    if ctx.spark is None:
        ctx.restart()
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        ctx.restart()
        wl.setup()
        times.append(time.perf_counter() - t)
    wl.warm_up()
    return times


def run_loop(ctx, wl, seconds: float, alternate: bool = False) -> list[tuple[bool, float]]:
    """Closed loop for ``seconds`` (at least ``min_steps`` steps).  With
    ``alternate``, tracing is on for even steps and off for odd ones."""
    steps: list[tuple[bool, float]] = []
    min_steps = max(wl.min_steps, 4) if alternate else wl.min_steps
    deadline = time.perf_counter() + seconds
    while len(steps) < min_steps or time.perf_counter() < deadline:
        if alternate:
            ctx.rec.enabled = len(steps) % 2 == 0
        t = time.perf_counter()
        if not wl.step():
            break
        steps.append((ctx.rec.enabled, time.perf_counter() - t))
    ctx.rec.enabled = alternate
    wl.finish()
    return steps


def run_untraced(ctx, name: str, seconds: float) -> tuple[dict, dict]:
    import sparkstats
    from workloads import percentile

    wl = make_workload(ctx, name)
    setup_s = set_up(ctx, wl, SETUP_REPS)
    run_loop(ctx, wl, seconds)
    lat = ctx.lookup_ms
    metrics = {
        "setup_s": statistics.median(setup_s),
        "op_s_p50": statistics.median(wl.op_s),
        "lookup_ms_p50": percentile(lat, 0.50),
        "lookup_ms_p90": percentile(lat, 0.90),
        "peak_rss_mb": sparkstats.peak_rss_mb(ctx.spark),
    }
    named = dict(wl.named_metrics())
    named["error_rate"] = (ctx.checker.error_rate, "ratio")
    named["lookup_ms_p99"] = (percentile(lat, 0.99), "ms")
    named["lookups"] = (float(len(lat)), "count")
    named["setup_reps"] = (float(len(setup_s)), "count")
    named["steps"] = (float(len(wl.op_s)), "count")
    named["rows"] = (float(wl.truth.rows), "turns")
    return metrics, named


def run_traced(ctx, first: str, seconds: float) -> tuple[dict, list[str]]:
    """All three workloads, traced; the requested one first."""
    import inputs
    import micro
    import sparkstats
    import workloads
    from metrics import SELF_TIME_LAYERS, WORKLOADS
    from sketchlib import testdata

    rec = ctx.rec
    rec.instrument()
    rec.enabled = True
    out: dict[str, float] = {}
    report: list[str] = []

    rec.workload = "testdata"
    with rec.span("testdata.run"):
        pdf = testdata.generate_transcripts(10_000, ctx.seed)
    out["testdata.generate_s"] = rec.median_duration("testdata.generate_transcripts")
    rec.workload = "micro"
    head = pdf.head(100_000)
    ts_sec = head["ts"].to_numpy().astype("datetime64[s]").astype("int64")
    out.update(micro.run(rec, head["text"].tolist(), ts_sec, testdata.BASE_TS))
    del pdf, head

    order = [first] + [w for w in WORKLOADS if w != first]
    build_s = {}
    for name in order:
        rec.workload = name
        rec.enabled = True
        wl = make_workload(ctx, name)
        set_up(ctx, wl, 1)
        counters = sparkstats.StageCounters(ctx.spark)
        before = counters.snapshot()
        steps = run_loop(ctx, wl, seconds / 3, alternate=True)
        for k, v in counters.delta(before, counters.snapshot()).items():
            out[f"spark.{k}.{name}"] = v
        on = [dt for traced, dt in steps if traced]
        off = [dt for traced, dt in steps if not traced]
        out[f"trace.overhead_pct.{name}"] = 100 * (statistics.median(on) / statistics.median(off) - 1)
        rec.enabled = False
        out.update(wl.layer_metrics())
        if name == "ingest":
            build_s = {p: statistics.median(t) for p, t in wl.build_s.items()}
        report.append(
            f"{name}: {len(steps)} steps, traced median {statistics.median(on):.3f} s, "
            f"untraced median {statistics.median(off):.3f} s, "
            f"tracing overhead {out[f'trace.overhead_pct.{name}']:+.1f}%"
        )
    out["session.start_s"] = rec.median_duration("session.get_spark")

    # N -> 4N scaling diagnostic: the same builds at local[1]
    rec.workload = "ingest@1"
    rec.enabled = True
    wl = make_workload(ctx, "ingest")
    ctx.restart(cpus=1)
    wl.setup()  # no warm-up: the JVM is warm from the sections above
    rec.enabled = False
    for path in build_s:
        t = time.perf_counter()
        wl.build(path)
        t1 = time.perf_counter() - t
        out[f"scaling.efficiency.{path}"] = t1 / build_s[path] / ctx.cpus
        report.append(f"scaling local[1]->local[{ctx.cpus}] {path}: {t1:.2f} s -> {build_s[path]:.2f} s")
    rec.uninstrument()

    selfs = rec.layer_self_time()
    for name in WORKLOADS:
        per = {}
        for layer, s in selfs.get(name, {}).items():
            key = "harness" if layer in WORKLOADS else layer
            per[key] = per.get(key, 0.0) + s
        for layer in SELF_TIME_LAYERS[name]:
            out[f"self_s.{name}.{layer}"] = per.get(layer, 0.0)
        report.append(
            f"self time, {name}: "
            + ", ".join(f"{layer} {s:.2f} s" for layer, s in sorted(per.items(), key=lambda kv: -kv[1]))
        )
    os.makedirs(os.path.join(ROOT, inputs.OUT_DIR), exist_ok=True)
    base = os.path.join(ROOT, inputs.OUT_DIR, f"trace-{first}-seed{ctx.seed}")
    rec.dump(base + ".spans.json")
    with open(base + ".report.txt", "w") as f:
        f.write("\n".join(report) + "\n")
    report.append(f"spans: {len(rec.spans)} written to {os.path.relpath(base, ROOT)}.spans.json")
    return out, report


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import sketchlib  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import inputs
    import procs
    from checks import Checker
    from metrics import END_TO_END, PER_LAYER
    from sparkstats import box_cpus
    from spans import SpanRecorder

    procs.adopt_orphans()
    # a SIGTERM unwinds through the clean-up below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = Context(
        seed=args.seed,
        cpus=box_cpus(),
        scratch=inputs.make_scratch(ROOT),
        rec=SpanRecorder(run_id=f"{args.workload}-{args.seed}-{os.getpid()}"),
        guard=inputs.FreshGuard(),
        checker=Checker(),
    )
    ctx.guard.install()
    try:
        if args.trace:
            values, report = run_traced(ctx, args.workload, args.seconds)
            for line in report:
                print(line)
            units = dict(PER_LAYER)
        else:
            values, named = run_untraced(ctx, args.workload, args.seconds)
            for name, (value, unit) in named.items():
                print(f"{name} {value:.6g} {unit}")
            units = {name: unit for name, unit, _, _ in END_TO_END}
        print(f"cores {ctx.cpus}, driver memory {os.environ.get('SKETCHLIB_DRIVER_MEM')}")
        for msg in ctx.checker.failures:
            print(f"FAILED: {msg}")
    except Exception:  # noqa: BLE001 — a crashed run prints no result
        traceback.print_exc()
        return 1
    finally:
        ctx.guard.uninstall()
        try:
            stop_spark(ctx.spark)
        finally:
            left = procs.stop_descendants()
            inputs.remove_scratch(ctx.scratch)
    if left:
        print(f"perfbench: processes still running: {left}", file=sys.stderr)
        return 1

    missing = [n for n in units if n not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    result = {
        "correct": ctx.checker.failed == 0,
        "attempted": ctx.checker.attempted,
        "failed": ctx.checker.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
