"""What the benchmark measures, and why: workloads, metrics, the mapping
from each layer metric to the end-to-end metric it should move, and the
known defects it counts instead of hiding.

``BENCHMARK.json`` at the repository root is generated from this file
(``python3 perfbench/run.py`` writes it after running every workload) and
holds only the keys the benchmark contract allows; the documentation
below is the rest.
"""

from __future__ import annotations

DEFAULT_SEED = 1
RUN_SECONDS = 10

# Input sizes. ``raw_*`` is the OpenAQ raw zone of aq_pipeline; ``sf`` is
# the scale of the generated star schema that registry_mix reads (sf 0.001
# = 6k lineitem rows, 1k events). At this scale a registry query or leg
# costs what its jobs, stages and triggers cost, which is what the
# workload is meant to show.
SIZES = {
    "default": {
        "raw_locations": 40,
        "raw_backfill_hours": 48,
        "raw_refresh_hours": 6,
        # Untimed refresh cycles before the timed ones (aq_pipeline).
        "warm_cycles": 5,
        "sf": 0.001,
        "mix_queries": 4,
        # Cold session starts per run (each ~10-14 s on a 4-core host).
        "setups": 2,
    },
    # The self-test size: every workload end to end in well under a minute.
    "tiny": {
        "raw_locations": 6,
        "raw_backfill_hours": 6,
        "raw_refresh_hours": 2,
        "warm_cycles": 1,
        "sf": 0.001,
        "mix_queries": 3,
        "setups": 2,
    },
}

WORKLOADS = {
    "aq_pipeline": {
        "why": "the reference's own job: backfill raw OpenAQ NDJSON to marts, "
        "then hourly refreshes each followed by dashboard SQL on the catalog table",
        "detail": "Big-scan throughput (backfill), small-job fixed cost "
        "(refresh, dashboards) and writes beside reads all run through the "
        "sources, pipeline, plans.marts, catalog and query layers, which only "
        "this workload exercises. A change that speeds one and slows another "
        "shows here.",
        "inputs": "seeded raw zone: raw_locations stations x 3-7 pollutants, "
        "one NDJSON file per hour; raw_backfill_hours hours of history plus "
        "raw_refresh_hours on the refresh day, all landed before timing. A "
        "refresh cycle re-lands the next refresh hour (same bytes) and "
        "refreshes the whole refresh day; a backfill reads the whole zone. "
        "The work of an operation does not depend on how fast earlier ones ran.",
    },
    "registry_mix": {
        "why": "ad-hoc analytics and streaming drains: sampled registry queries "
        "through the noop sink, interleaved with streaming legs",
        "detail": "Plan construction jobs (fits, bisection rounds, checkpoints), "
        "per-job fixed cost, micro-batch planning, state-store size and "
        "staging cost dominate here; pipeline and catalog do nothing. The "
        "query sample is stratified by registry tag family (relational, "
        "stats, llm, graph/iterative) in the registry's proportions, one "
        "query per family at the default size, and is drawn with "
        "SAMPLE_SEED, not --seed: across seeds, a sample this size varies "
        "the median query time by more than any useful bound.",
        "inputs": "seeded star schema at sf; mix_queries bench-tagged registry "
        "queries and the STREAM_LEGS streaming legs, order shuffled by --seed",
    },
}

# registry_mix draws its query sample with this seed (see WORKLOADS above).
SAMPLE_SEED = 20261017

# The streaming leg registry_mix runs: the marts kernel (watermarked
# dedup, windowed pivot, stream-static enrich), the streaming form of the
# reference's own job. Each leg costs ~3 s warm and ~5 s cold on a 4-core
# host; a pass over all 15 streaming legs takes ~45 s, more than a run can
# spend next to its cold session starts.
STREAM_LEGS = ("streaming_marts_kernel",)

# End-to-end metrics of the contract: every workload reports every one.
# ``what`` says what each one is on each workload. Every bound is the
# largest allowed: on a shared 4-core VM, whose speed shifts by up to ~30%
# between periods (host.speed_s and host.steal_share of each run record
# it), these metrics spread 0.04-0.27 across ten seeds. aq_pipeline's
# op_latency_s, made of small jobs bound by driver-side scheduling
# latency, spreads the most.
END_TO_END = [
    {
        "name": "setup_s",
        "unit": "s",
        "better": "lower",
        "bound": 0.25,
        "what": "setup_s on all workloads: median over `setups` cold starts, "
        "each in a fresh process (engine import, JVM launch, registry import, "
        "warm-up scans; input generation and interpreter start excluded)",
    },
    {
        "name": "op_latency_s",
        "unit": "s",
        "better": "lower",
        "bound": 0.25,
        "what": "cycle_p50_s, the median hourly cycle from file landed to "
        "validated table and every dashboard answered (aq_pipeline); op_gmean_s, the geometric mean over "
        "queries and legs of each one's median latency (registry_mix)",
    },
    {
        "name": "throughput_per_s",
        "unit": "1/s",
        "better": "higher",
        "bound": 0.25,
        "what": "backfill_rows_per_s, raw rows per second of a full backfill "
        "(aq_pipeline); ops_per_s, operations per second over one pass at "
        "median latencies (registry_mix)",
    },
    {
        "name": "rss_peak_mb",
        "unit": "MB",
        "better": "lower",
        "bound": 0.25,
        "what": "peak RSS of the driver JVM plus Python, all workloads",
    },
]

# Workload-specific end-to-end metrics, printed by name in the report.
REPORT_METRICS = {
    "common": {"setup_s": "s", "error_rate": "ratio", "rss_peak_mb": "MB"},
    "aq_pipeline": {
        "backfill_rows_per_s": "1/s",
        "cycle_p50_s": "s",
        "refresh_p50_s": "s",
        "dashboard_p50_s": "s",
        "dashboard_p90_s": "s",
    },
    "registry_mix": {
        "query_p50_s": "s",
        "query_p90_s": "s",
        "queries_per_min": "1/min",
        "stream_rows_per_s": "1/s",
        "stream_leg_p50_s": "s",
        "op_gmean_s": "s",
        "ops_per_s": "1/s",
    },
}

# A p90 is reported only when at least this many samples (ten beyond it)
# back it. At the default size a run times ~30 dashboards and ~10 queries,
# so dashboard_p90_s and query_p90_s print null with their sample count;
# the layers below therefore map to metrics that always have a value.
P90_MIN_SAMPLES = 100

# Every per-layer metric of the traced run: unit, the end-to-end metric it
# should move, and the workloads it shows on.
LAYER_METRICS = {
    "session.get_spark_s": ("s", "setup_s", "all"),
    "plans.registry_import_s": ("s", "setup_s", "all"),
    "session.storage_blocks_after": ("count", "query_p50_s, op_latency_s", "registry_mix; flat on aq_pipeline"),
    "session.storage_mb_after": ("MB", "query_p50_s, op_latency_s", "registry_mix; flat on aq_pipeline"),
    "plans.build_s": ("s", "query_p50_s, op_latency_s", "registry_mix"),
    "plans.driver_s": ("s", "query_p50_s", "registry_mix"),
    "plans.construct_s": ("s", "queries_per_min, throughput_per_s", "registry_mix"),
    "plans.construct_jobs": ("count", "queries_per_min, throughput_per_s", "registry_mix"),
    "plans.construct_stages": ("count", "queries_per_min, throughput_per_s", "registry_mix"),
    "plans.construct_tasks": ("count", "queries_per_min, throughput_per_s", "registry_mix"),
    "exec.s": ("s", "query_*; backfill_rows_per_s, refresh_p50_s", "registry_mix, aq_pipeline"),
    "exec.jobs": ("count", "query_*; backfill_rows_per_s, refresh_p50_s", "registry_mix, aq_pipeline"),
    "exec.stages": ("count", "query_*; backfill_rows_per_s, refresh_p50_s", "registry_mix, aq_pipeline"),
    "exec.tasks": ("count", "query_*; backfill_rows_per_s, refresh_p50_s", "registry_mix, aq_pipeline"),
    "exec.shuffle_write_bytes": ("bytes", "query_*; backfill_rows_per_s", "registry_mix, aq_pipeline"),
    "exec.shuffle_read_bytes": ("bytes", "query_*; backfill_rows_per_s", "registry_mix, aq_pipeline"),
    "exec.spill_bytes": ("bytes", "query_*; backfill_rows_per_s", "registry_mix, aq_pipeline"),
    "exec.input_bytes": ("bytes", "query_*; backfill_rows_per_s", "registry_mix, aq_pipeline"),
    "exec.gc_s": ("s", "query_*; backfill_rows_per_s", "registry_mix, aq_pipeline"),
    "exec.busy_ratio": ("ratio", "query_*; refresh_p50_s (fixed cost)", "registry_mix, aq_pipeline"),
    "pipeline.run_s": ("s", "backfill_rows_per_s", "aq_pipeline"),
    "pipeline.transform_raw_s": ("s", "backfill_rows_per_s", "aq_pipeline"),
    "sources.input_bytes_per_raw_byte": ("ratio", "backfill_rows_per_s", "aq_pipeline"),
    "plans.marts.write_marts_s": ("s", "backfill_rows_per_s, refresh_p50_s", "aq_pipeline"),
    "plans.marts.files_written": ("count", "backfill_rows_per_s, refresh_p50_s", "aq_pipeline"),
    "plans.marts.bytes_written_per_raw_byte": ("ratio", "backfill_rows_per_s, refresh_p50_s", "aq_pipeline"),
    "catalog.register_s": ("s", "refresh_p50_s", "aq_pipeline"),
    "catalog.count_s": ("s", "refresh_p50_s", "aq_pipeline"),
    "query.rows_scanned_per_result_row": ("ratio", "dashboard_p50_s", "aq_pipeline"),
    "query.files_scanned": ("count", "dashboard_p50_s", "aq_pipeline"),
    "streaming.stage_s": ("s", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
    "streaming.drain_s": ("s", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
    "streaming.readback_s": ("s", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
    "streaming.batches": ("count", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
    "streaming.add_batch_ms": ("ms", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
    "streaming.query_planning_ms": ("ms", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
    "streaming.get_batch_ms": ("ms", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
    "streaming.wal_commit_ms": ("ms", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
    "streaming.latest_offset_ms": ("ms", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
    "streaming.state_rows": ("count", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
    "streaming.state_mem_bytes": ("bytes", "stream_rows_per_s, stream_leg_p50_s", "registry_mix"),
}

# Time-valued layer metrics that are zero by construction on some
# workload (the layer is not on its path). They are printed by the traced
# run but left out of the contract's per-layer list, whose every time must
# be a measured, non-constant value on every workload.
_WORKLOAD_SPECIFIC_TIMES = {
    "plans.construct_s",
    "pipeline.run_s",
    "pipeline.transform_raw_s",
    "plans.marts.write_marts_s",
    "catalog.register_s",
    "catalog.count_s",
    "streaming.stage_s",
    "streaming.drain_s",
    "streaming.readback_s",
    "streaming.add_batch_ms",
    "streaming.query_planning_ms",
    "streaming.get_batch_ms",
    "streaming.wal_commit_ms",
    "streaming.latest_offset_ms",
}
CONTRACT_LAYER_METRICS = [m for m in LAYER_METRICS if m not in _WORKLOAD_SPECIFIC_TIMES]

# Failures the benchmark counts instead of hiding. The sampler never
# filters on these; if a run draws one and it fails, it is a failed
# operation in error_rate. Both pass under count(), which prunes the
# columns, and at sf0.01; neither is in the default sample at sf0.001.
KNOWN_DEFECTS = {
    "brown_forsythe_var": {
        "error": "ARITHMETIC_OVERFLOW: long overflow in an add (try_add)",
        "where": "noop sink on the sf0.1 testdata",
        "columns": "ssb_e6, ssw_e6, bf_f_stat: all read the BIGINT sums "
        "SUM(cnt * z) and SUM(cnt * z * z), which overflow before the cast "
        "to decimal(38,0)",
    },
    "mood_median_test": {
        "error": "ARITHMETIC_OVERFLOW: long overflow in a multiply (try_multiply)",
        "where": "noop sink on the sf0.1 testdata",
        "columns": "mood_chi2_e6: the BIGINT product n * (ad - bc)^2 * 1000000",
    },
}


def benchmark_json() -> dict:
    """The contract file, generated from the tables above."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w["why"]} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {k: m[k] for k in ("name", "unit", "better", "bound")} for m in END_TO_END
        ],
        "per_layer": [
            {"name": m, "unit": LAYER_METRICS[m][0], "better": _better(m)}
            for m in CONTRACT_LAYER_METRICS
        ],
    }


def _better(metric: str) -> str:
    return "higher" if metric == "exec.busy_ratio" else "lower"
