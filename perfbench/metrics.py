"""Every metric the benchmark prints, with its unit.  ``BENCHMARK.json``
lists the same metrics (``test_perfbench.py`` checks that they agree)."""

from __future__ import annotations

WORKLOADS = ("ingest", "serve", "maintain")

# name, unit, better, bound (share of the parent's median a change may lose)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_s_p50", "s", "lower", 0.25),
    ("lookup_ms_p50", "ms", "lower", 0.15),
    # the 99th percentile is printed but not gated: on a shared 4-vCPU box
    # its run-to-run spread (0.16-0.48 over ten seeds) exceeds any bound
    ("lookup_ms_p90", "ms", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.1),
]

KERNEL_KINDS = ("bloom", "hll", "cms", "tdbloom", "cbloom")

# layers whose self time each workload's traced section reports; "harness"
# is time in the benchmark's own code between layer calls
SELF_TIME_LAYERS = {
    "ingest": ("agg", "suite_sql", "kernels", "harness"),
    "serve": ("agg", "probe", "probe_join", "store", "rollup", "kernels", "harness"),
    "maintain": ("io", "agg", "suite_sql", "store", "rollup", "streaming", "kernels", "harness"),
}


def _per_layer() -> list[tuple[str, str]]:
    out = [
        ("session.start_s", "s"),
        ("testdata.generate_s", "s"),
        ("mmh3.hash_bytes_per_s", "B/s"),
        ("mmh3.positions_rows_per_s", "1/s"),
    ]
    for kind in KERNEL_KINDS:
        out += [
            (f"kernels.{kind}.update_rows_per_s", "1/s"),
            (f"kernels.{kind}.merge_ms", "ms"),
            (f"kernels.{kind}.serialize_ms", "ms"),
            (f"kernels.{kind}.deserialize_ms", "ms"),
            (f"kernels.{kind}.state_bytes", "B"),
            (f"kernels.{kind}.packed_bytes", "B"),
        ]
    out += [
        ("agg.build_many_s.mmh3", "s"),
        ("agg.build_many_s.prehash", "s"),
        ("agg.partials", "count"),
        ("agg.state_bytes", "B"),
        ("suite_sql.plan_s", "s"),
        ("suite_sql.build_s", "s"),
        ("suite_sql.cells", "count"),
        ("suite_sql.materialize_s", "s"),
        ("probe.column_s", "s"),
        ("probe.query_s", "s"),
        ("probe.fp_rate", "ratio"),
        ("probe.hit_rate", "ratio"),
        ("probe_join.build_states_s", "s"),
        ("probe_join.probe_s", "s"),
        ("probe_join.state_bytes", "B"),
        ("store.save_kernel_ms", "ms"),
        ("store.load_kernel_ms", "ms"),
        ("store.bytes_written_per_turn", "B"),
        ("rollup.sketch_rollup_s", "s"),
        ("rollup.merge_range_ms", "ms"),
        ("streaming.sketch_sink_s", "s"),
        ("streaming.cells_sink_s", "s"),
        ("streaming.rollup_sink_s", "s"),
        ("streaming.range_from_store_ms", "ms"),
        ("io.write_s", "s"),
        ("io.read_days_s", "s"),
        ("io.files_scanned", "count"),
    ]
    for w in WORKLOADS:
        out += [
            (f"spark.shuffle_write_bytes.{w}", "B"),
            (f"spark.task_retries.{w}", "count"),
            (f"spark.executor_run_s.{w}", "s"),
        ]
    for w in WORKLOADS:
        out += [(f"self_s.{w}.{layer}", "s") for layer in SELF_TIME_LAYERS[w]]
    out += [(f"trace.overhead_pct.{w}", "%") for w in WORKLOADS]
    out += [(f"scaling.efficiency.{p}", "ratio") for p in ("mmh3", "prehash", "sql")]
    return out


PER_LAYER = _per_layer()
