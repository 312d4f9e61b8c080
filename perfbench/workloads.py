"""The workloads: aq_pipeline and registry_mix.

Each workload runs in a process of its own with one closed-loop client:
the next operation starts only after the previous one has finished. A
workload generates its inputs from the seed, starts the session several
times (set-up), checks correctness in an untimed warm-up, then runs timed
operations for the requested seconds. Operations that raise or return a
wrong answer are failed operations; they are counted, never skipped.

With tracing on, every call into an engine layer is wrapped in a span and
the Spark jobs it starts are attributed to it through a job group.
"""

from __future__ import annotations

import datetime as dt
import glob
import itertools
import os
import random
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

import gen
import probe
from probe import Tracer
from spec import P90_MIN_SAMPLES, SAMPLE_SEED, STREAM_LEGS


@dataclass
class Outcome:
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    report: dict[str, object] = field(default_factory=dict)
    contract: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    sizes: dict[str, object] = field(default_factory=dict)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)


@dataclass
class Run:
    workload: str
    run_dir: str
    seed: int
    seconds: float
    size: dict
    tracer: Tracer
    spark: object = None
    setup_s: list[float] = field(default_factory=list)
    setups: list[dict] = field(default_factory=list)
    cold_start: object = None  # runs cold_setup in a child process
    out: Outcome = field(default_factory=Outcome)
    phases: dict[str, float] = field(default_factory=dict)
    jvm: int = 0  # driver JVM pid, set once the session is up
    _t: float = field(default_factory=time.perf_counter)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def phase(self, name: str) -> None:
        """Close the current phase as ``name`` (wall seconds since the last)."""
        now = time.perf_counter()
        self.phases[name] = now - self._t
        self._t = now


def percentile_report(samples: list[float]) -> dict:
    """Median, plus p90 only where at least ten samples lie beyond it."""
    n = len(samples)
    out = {"n": n, "p50": statistics.median(samples) if samples else None}
    out["p90"] = statistics.quantiles(samples, n=10)[8] if n >= P90_MIN_SAMPLES else None
    return out


# ------------------------------------------------------------------ set-up


def _warm_raw(run: Run, spark) -> None:
    from reddit_data_pipeline_engineering_spark.sources.raw_zone import read_raw_zone

    read_raw_zone(spark, run.path("raw")).count()


def _warm_tables(run: Run, spark) -> None:
    from reddit_data_pipeline_engineering_spark.sources.tables import load_table

    for t in ("lineitem", "events", "documents"):
        load_table(spark, run.path("tables"), t).count()


def cold_setup(run: Run) -> dict:
    """One cold session start in this process, which must not have started
    a JVM or imported the engine yet: engine import, ``get_spark`` (JVM
    launch), registry import and the workload's warm-up scans. Sets
    ``run.spark`` and returns the seconds of each part and of the whole."""
    tr = run.tracer
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.path('tmp')}",
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    t0 = time.perf_counter()
    with tr.span("session.get_spark"):
        from reddit_data_pipeline_engineering_spark.session import get_spark

        run.spark = get_spark(app_name=f"perfbench-{run.workload}", extra_conf=conf)
    tr.spark = run.spark
    t1 = time.perf_counter()
    with tr.span("plans.registry_import"):
        from reddit_data_pipeline_engineering_spark.plans.queries import queries

        queries()
    t2 = time.perf_counter()
    WARM[run.workload](run, run.spark)
    t3 = time.perf_counter()
    run.jvm = probe.jvm_pid(run.spark)
    return {"setup_s": t3 - t0, "get_spark_s": t1 - t0, "registry_import_s": t2 - t1}


def start_sessions(run: Run) -> None:
    """Set up ``size['setups']`` times, each a cold start in a fresh process:
    first in child processes that start, report and exit one after the
    other (``run.cold_start(run)`` runs one and returns its ``cold_setup``
    record), then in this process, whose session the workload keeps."""
    for _ in range(run.size["setups"] - 1):
        run.setups.append(run.cold_start(run))
    run.setups.append(cold_setup(run))
    run.setup_s = [s["setup_s"] for s in run.setups]


def setup_layers(run: Run) -> dict:
    """Median of each set-up part over every cold start of the run."""
    return {
        "session.get_spark_s": statistics.median(s["get_spark_s"] for s in run.setups),
        "plans.registry_import_s": statistics.median(
            s["registry_import_s"] for s in run.setups
        ),
    }


# ------------------------------------------------------- job attribution


class Attribution:
    """Per-operation layer counters, averaged over operations at the end."""

    def __init__(self, run: Run):
        self.run = run
        self.sums: dict[str, float] = defaultdict(float)
        self.ops = 0
        self.legs = 0
        self.exec_wall = 0.0
        self.exec_run_ms = 0.0
        self.extra: dict[str, float] = {}
        self.dash = {"records": 0, "rows": 0, "files": 0, "n": 0}
        self._sql_seen = 0

    def stats(self, groups: list[str]) -> dict:
        ids = [j for g in groups for j in probe.group_job_ids(self.run.spark, g)]
        return probe.job_stats(self.run.spark, ids)

    def add_exec(self, st: dict, wall: float) -> None:
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "input_bytes"):
            self.sums[f"exec.{k}"] += st[k]
        self.sums["exec.gc_s"] += st["gc_ms"] / 1e3
        self.sums["exec.s"] += wall
        self.exec_wall += wall
        self.exec_run_ms += st["run_ms"]

    def add_build(self, span: dict, st: dict) -> None:
        build = span["end"] - span["start"]
        construct = probe.union_seconds(st["intervals"], span["wall_start"], span["wall_end"])
        self.sums["plans.build_s"] += build
        self.sums["plans.construct_s"] += construct
        self.sums["plans.driver_s"] += max(0.0, build - construct)
        self.sums["plans.construct_jobs"] += st["jobs"]
        self.sums["plans.construct_stages"] += st["stages"]
        self.sums["plans.construct_tasks"] += st["tasks"]

    def storage(self, before, after) -> None:
        self.sums["session.storage_blocks_after"] += after[0] - before[0]
        self.sums["session.storage_mb_after"] += after[1] - before[1]

    def _sql_store(self):
        return self.run.spark._jsparkSession.sharedState().statusStore()

    def sql_mark(self) -> None:
        """Start counting SQL executions from now (see ``sql_files_read``)."""
        probe.wait_listener_bus(self.run.spark)
        self._sql_seen = self._sql_store().executionsCount()

    def sql_files_read(self) -> int:
        """'number of files read' summed over SQL executions since the mark."""
        store = self._sql_store()
        n = store.executionsCount()
        total = 0
        for ex in probe.seq_items(store.executionsList(self._sql_seen, n - self._sql_seen)):
            values = ex.metricValues()
            if values is None:
                continue
            # Keys are Scala Longs; iterate rather than look up with a
            # py4j-boxed Integer.
            by_id = {}
            for kv in probe.seq_items(values):
                by_id[kv._1()] = kv._2()
            for m in probe.seq_items(ex.metrics()):
                if m.name() == "number of files read" and m.accumulatorId() in by_id:
                    total += int(str(by_id[m.accumulatorId()]).replace(",", ""))
        self._sql_seen = n
        return total

    def means(self) -> dict:
        """Per-operation means; streaming counters are per streaming leg."""
        out = {
            k: v / max(1, self.legs if k.startswith("streaming.") else self.ops)
            for k, v in self.sums.items()
        }
        cores = self.run.spark.sparkContext.defaultParallelism
        out["exec.busy_ratio"] = (
            self.exec_run_ms / 1e3 / (self.exec_wall * cores) if self.exec_wall else 0.0
        )
        return out


# ------------------------------------------------------------ aq_pipeline


def aq_pipeline(run: Run) -> Outcome:
    """Backfill the raw zone, then hourly refresh cycles with dashboards.

    Warm-up is the cold backfill, checked against the DuckDB replay, and
    ``warm_cycles`` untimed refresh cycles. Then refresh cycles are timed
    for ``run.seconds``, followed by three timed backfills.

    Every input is fixed by the seed and the size, not by how fast the
    engine runs: the raw zone holds ``raw_backfill_hours`` of history and
    ``raw_refresh_hours`` more on the refresh day, all landed before
    timing. Each refresh cycle re-lands the next of those hours (the same
    bytes) and refreshes the whole refresh day; each timed backfill reads
    the whole zone."""
    import aq_oracle

    out, tr, size = run.out, run.tracer, run.size
    raw, marts = run.path("raw"), run.path("marts")
    locs = gen.locations(run.seed, size["raw_locations"])
    backfill_hours = size["raw_backfill_hours"]
    refresh_hours = list(range(backfill_hours, backfill_hours + size["raw_refresh_hours"]))
    hours = backfill_hours + len(refresh_hours)
    rows = nbytes = 0
    for h in range(hours):
        r, b = gen.write_raw_hour(raw, run.seed, h, locs)
        rows, nbytes = rows + r, nbytes + b
    day = gen.day_dir(raw, refresh_hours[0])
    assert day == gen.day_dir(raw, refresh_hours[-1]), "refresh hours span two days"
    day_files = glob.glob(os.path.join(day, "*", "*.json"))
    out.sizes.update(
        raw_rows=rows, raw_bytes=nbytes, raw_files=hours, locations=len(locs),
        refresh_day_files=len(day_files),
        refresh_day_bytes=sum(os.path.getsize(f) for f in day_files),
        dashboards=5,
    )
    run.phase("generate")
    start_sessions(run)
    run.phase("setup")
    from reddit_data_pipeline_engineering_spark import catalog, pipeline, query
    from reddit_data_pipeline_engineering_spark.config import LOCATION_CITY_MAP

    spark = run.spark
    undo = _instrument_pipeline(tr) if tr.enabled else list
    con = aq_oracle.connect()
    table = "marts"
    city_map = {int(k): v for k, v in LOCATION_CITY_MAP.items()}

    def run_pipeline(input_path: str, op: str):
        with tr.span("pipeline.run_pipeline", op=op, group=True):
            return pipeline.run_pipeline(spark, input_path, marts, table=table)

    def check_marts(what: str) -> None:
        files = [gen.hour_path(raw, h) for h in range(hours)]
        n, diff = aq_oracle.marts_mismatches(con, files, marts, city_map)
        count = catalog.get_table_count(spark, table)
        out.op(diff == 0 and count == n, f"{what}: {diff} rows differ, table {count} vs {n}")

    # Warm-up: the whole zone, cold, checked against the replay; then one
    # refresh of the refresh day.
    run_pipeline(raw, "warm-up")
    check_marts("backfill")
    run.phase("cold_backfill")
    run_pipeline(day, "warm-up refresh")
    t = gen.RAW_START + dt.timedelta(hours=refresh_hours[0])
    board = aq_oracle.dashboards(t.year, f"{t.month:02d}", f"{t.day:02d}")
    # Every refresh rewrites the same day from the same files, so each
    # dashboard has one right answer: DuckDB's over the parquet written now.
    # The final check_marts holds that parquet to the independent replay.
    duck = aq_oracle.connect()
    aq_oracle.marts_view(duck, marts)
    expected = {name: duck.execute(duck_sql).fetchall() for name, _, duck_sql in board}
    duck.close()

    def dashboards(cycle: str, timed: bool) -> list:
        """Every dashboard query on the table, each compared with its
        expected answer; returns (span, result rows) per query."""
        spans = []
        for name, sql, _ in board:
            t1 = time.perf_counter()
            try:
                op = f"dashboard-{name}-{cycle}"
                with tr.span("query.query_to_dataframe", op=op, group=True) as sp:
                    pdf = query.query_to_dataframe(spark, sql)
                took = time.perf_counter() - t1
                ok = aq_oracle.same_rows(pdf, expected[name])
                if sp is not None:
                    spans.append((sp, len(pdf)))
            except Exception as e:  # noqa: BLE001 - a failed query is a data point
                ok, name = False, f"{name}: {e!r}"[:200]
            out.op(ok, f"dashboard {name} cycle {cycle}")
            if ok and timed:
                out.samples["dashboard"].append(took)
        return spans

    attr = Attribution(run)

    def refresh_cycle(cycle: int, timed: bool) -> None:
        """Land the next refresh hour, refresh the day, answer every
        dashboard; timed cycles add samples (and, traced, attribution)."""
        hour = refresh_hours[cycle % len(refresh_hours)]
        gen.write_raw_hour(raw, run.seed, hour, locs)
        traced = timed and tr.enabled
        before = probe.cached_blocks(spark) if traced else None
        n_spans = len(tr.spans)
        n_failed = len(out.failures)
        t0 = time.perf_counter()
        try:
            res = run_pipeline(day, f"refresh-{cycle}")
            ok = res.rows_written > 0
        except Exception as e:  # noqa: BLE001 - a failed cycle is a data point
            ok, res = False, repr(e)[:200]
        refresh = time.perf_counter() - t0
        out.op(ok, f"refresh cycle {cycle}: {res}")
        if ok and timed:
            out.samples["refresh"].append(refresh)
        cycle_spans = tr.spans[n_spans:]
        if traced:
            attr.sql_mark()
        dash_spans = dashboards(str(cycle), timed=timed)
        if len(out.failures) == n_failed and timed:
            out.samples["cycle"].append(time.perf_counter() - t0)
        if traced:
            _attribute_cycle(run, attr, cycle_spans, dash_spans, day, marts, t, before)

    dashboards("warm-up", timed=False)
    # A cycle's first runs in a fresh JVM are up to 1.8x slower than later
    # ones (JIT, codegen cache); timing them made the median depend on how
    # far warm-up had got, so the timed cycles start after warm_cycles.
    warm = size["warm_cycles"]
    for cycle in range(warm):
        refresh_cycle(cycle, timed=False)
    run.phase("warmup")

    deadline = time.perf_counter() + run.seconds
    for cycle in itertools.count(warm):
        if time.perf_counter() >= deadline:
            break
        refresh_cycle(cycle, timed=True)
    run.phase("timed")
    # Timed backfills of the whole zone, last, when the JVM is warmest
    # (dynamic overwrite replaces every partition).
    for i in range(3):
        t0 = time.perf_counter()
        res = run_pipeline(raw, f"backfill-{i}")
        out.samples["backfill"].append(time.perf_counter() - t0)
        out.op(res.rows_written > 0, "backfill returned no rows")
    run.phase("backfills")
    check_marts("final marts")
    con.close()
    run.phase("checks")
    out.sizes["refresh_cycles"] = len(out.samples["refresh"])

    backfill = rows / statistics.median(out.samples["backfill"])
    cycle = percentile_report(out.samples["cycle"])
    refresh = percentile_report(out.samples["refresh"])
    dash = percentile_report(out.samples["dashboard"])
    out.report.update(
        backfill_rows_per_s=backfill,
        cycle_p50_s=cycle["p50"],
        cycle_n=cycle["n"],
        refresh_p50_s=refresh["p50"],
        refresh_n=refresh["n"],
        dashboard_p50_s=dash["p50"],
        dashboard_p90_s=dash["p90"],
        dashboard_n=dash["n"],
        backfill_runs_s=out.samples["backfill"],
        cycle_runs_s=out.samples["cycle"],
        refresh_runs_s=out.samples["refresh"],
    )
    # A cycle sums a refresh and five dashboards, so its median spreads
    # less across runs than the refresh's alone.
    out.contract.update(op_latency_s=cycle["p50"], throughput_per_s=backfill)
    undo()
    if tr.enabled:
        out.layers.update(attr.means())
        out.layers.update(attr.extra)
    return out


def _instrument_pipeline(tr: Tracer):
    """Wrap the module-level functions ``run_pipeline`` calls, so each call
    into sources, pipeline, plans.marts and catalog gets its own span.
    Returns a function that puts the originals back."""
    from reddit_data_pipeline_engineering_spark import catalog, pipeline

    originals = []

    def wrap(module, attr: str, span: str, group: bool):
        fn = getattr(module, attr)
        originals.append((module, attr, fn))

        def wrapped(*a, **k):
            with tr.span(span, group=group):
                return fn(*a, **k)

        setattr(module, attr, wrapped)

    wrap(pipeline, "read_raw_zone", "sources.read_raw_zone", False)
    wrap(pipeline, "transform_raw", "pipeline.transform_raw", False)
    wrap(pipeline, "write_marts", "plans.marts.write_marts", True)
    wrap(catalog, "register_parquet_table", "catalog.register_parquet_table", True)
    wrap(catalog, "get_table_count", "catalog.get_table_count", True)

    def undo():
        for module, attr, fn in originals:
            setattr(module, attr, fn)

    return undo


def _attribute_cycle(run, attr, cycle_spans, dash_spans, day, marts, t, before) -> None:
    spark = run.spark
    probe.wait_listener_bus(spark)
    attr.ops += 1
    attr.storage(before, probe.cached_blocks(spark))
    by_name = defaultdict(float)
    groups = []
    for s in cycle_spans:
        by_name[s["name"]] += s["end"] - s["start"]
        if s["group"] and s["name"] != "pipeline.run_pipeline":
            groups.append(s["group"])
    run_span = next(s for s in cycle_spans if s["name"] == "pipeline.run_pipeline")
    st = attr.stats(groups + [run_span["group"]])
    attr.add_exec(
        st,
        by_name["plans.marts.write_marts"]
        + by_name["catalog.register_parquet_table"]
        + by_name["catalog.get_table_count"],
    )
    attr.sums["pipeline.run_s"] += by_name["pipeline.run_pipeline"]
    attr.sums["pipeline.transform_raw_s"] += by_name["pipeline.transform_raw"]
    attr.sums["plans.build_s"] += by_name["pipeline.transform_raw"]
    attr.sums["plans.driver_s"] += by_name["pipeline.transform_raw"]
    attr.sums["plans.marts.write_marts_s"] += by_name["plans.marts.write_marts"]
    attr.sums["catalog.register_s"] += by_name["catalog.register_parquet_table"]
    attr.sums["catalog.count_s"] += by_name["catalog.get_table_count"]
    day_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(day, "*", "*.json")))
    write_group = [s["group"] for s in cycle_spans if s["name"] == "plans.marts.write_marts"]
    write = attr.stats(write_group)
    part = os.path.join(marts, f"year={t.year}", f"month={t.month:02d}", f"day={t.day:02d}")
    files = glob.glob(os.path.join(part, "*.parquet"))
    attr.sums["sources.input_bytes_per_raw_byte"] += write["input_bytes"] / day_bytes
    attr.sums["plans.marts.files_written"] += len(files)
    attr.sums["plans.marts.bytes_written_per_raw_byte"] += (
        sum(os.path.getsize(f) for f in files) / day_bytes
    )
    records = attr.stats([sp["group"] for sp, _ in dash_spans])["input_records"]
    # Dashboard counters are kept apart from the per-cycle sums and turned
    # into ratios over every dashboard query so far.
    q = attr.dash
    q["records"] += records
    q["rows"] += sum(n for _, n in dash_spans)
    q["files"] += attr.sql_files_read()
    q["n"] += len(dash_spans)
    attr.extra = {
        "query.rows_scanned_per_result_row": q["records"] / max(1, q["rows"]),
        "query.files_scanned": q["files"] / max(1, q["n"]),
    }


# ----------------------------------------------------------- registry_mix


def family(tags: tuple[str, ...]) -> str:
    """Registry tag family used as the sampling stratum."""
    if "graph" in tags or "iterative" in tags:
        return "graph"
    for f in ("llm", "stats"):
        if f in tags:
            return f
    return "relational"


def stratified_sample(registry: dict, k: int, seed: int) -> list[str]:
    """``k`` bench-tagged queries, each tag family in its registry share
    (at least one per family). Never filters on past failures."""
    strata: dict[str, list[str]] = defaultdict(list)
    for name, spec in sorted(registry.items()):
        if "bench" in spec.tags:
            strata[family(spec.tags)].append(name)
    total = sum(len(v) for v in strata.values())
    rng = random.Random(seed)
    picked = []
    for fam in sorted(strata):
        n = max(1, round(k * len(strata[fam]) / total))
        picked += rng.sample(strata[fam], min(n, len(strata[fam])))
    return picked


def registry_mix(run: Run) -> Outcome:
    """Sampled registry queries (noop sink) and streaming legs (stage,
    drain availableNow, read back), interleaved, in one closed loop."""
    out, tr = run.out, run.tracer
    tables = run.path("tables")
    out.sizes.update(sf=run.size["sf"], tables=gen.write_tables(tables, run.seed, run.size["sf"]))
    run.phase("generate")
    start_sessions(run)
    run.phase("setup")
    from reddit_data_pipeline_engineering_spark import oracle
    from reddit_data_pipeline_engineering_spark.plans import queries_streaming
    from reddit_data_pipeline_engineering_spark.plans.queries import REGISTRY

    spark = run.spark
    queries = stratified_sample(REGISTRY, run.size["mix_queries"], SAMPLE_SEED)
    ops = [("query", q) for q in queries] + [("leg", leg) for leg in STREAM_LEGS]
    random.Random(run.seed).shuffle(ops)
    out.sizes.update(queries=queries, legs=list(STREAM_LEGS))
    streams = probe.StreamProbe()
    spark.streams.addListener(streams.listener)
    drain_fn = queries_streaming.run_scaled_drain
    drains: list[tuple[float, float]] = []

    def timed_drain(*a, **k):
        t0 = time.perf_counter()
        try:
            with tr.span("streaming.drain"):
                return drain_fn(*a, **k)
        finally:
            drains.append((t0, time.perf_counter()))

    queries_streaming.run_scaled_drain = timed_drain
    con = oracle.duckdb_connection(tables, threads=2)
    expected = {}
    for leg in STREAM_LEGS:
        try:
            rel = con.sql(REGISTRY[leg].oracle)
            expected[leg] = (list(rel.columns), rel.fetchall())
        except Exception as e:  # noqa: BLE001 - a broken oracle fails its leg
            expected[leg] = e

    def check(name: str) -> None:
        """Untimed: run the operation once and compare it with its oracle."""
        spec = REGISTRY[name]
        try:
            r = oracle.compare(name, spark, tables, spec.fn, spec.oracle, con)
            out.op(r.ok, f"{name}: {r.detail}")
        except Exception as e:  # noqa: BLE001 - a failed operation is a data point
            out.op(False, f"{name}: {e!r}"[:300])
        streams.drain()

    def execute(kind: str, name: str) -> None:
        """One timed operation: a query through the noop sink, or a leg
        read back and checked against its oracle (outside the timing)."""
        before = probe.cached_blocks(spark) if tr.enabled else None
        drains.clear()
        t0 = time.perf_counter()
        try:
            with tr.span("plans.build", op=name, group=True) as b:
                df = REGISTRY[name].fn(spark, tables)
            t1 = time.perf_counter()
            layer = "streaming.readback" if kind == "leg" else "exec"
            with tr.span(layer, op=name, group=True) as x:
                if kind == "query":
                    df.write.format("noop").mode("overwrite").save()
                    got = None
                else:
                    got = df.collect()
            t2 = time.perf_counter()
            err = None
        except Exception as e:  # noqa: BLE001 - a failed operation is a data point
            err = repr(e)[:300]
        progress, runs = streams.drain() if kind == "leg" else ([], set())
        if err is None and got is not None:
            ok = _same_as_oracle(df, got, expected[name])
            err = None if ok else "differs from its oracle"
        out.op(err is None, f"{name}: {err}")
        if err is not None:
            return
        per_op[name].append(t2 - t0)
        if kind == "leg":
            rows_wall[0] += sum(p["rows"] for p in progress)
            rows_wall[1] += t2 - t0
        if tr.enabled:
            probe.wait_listener_bus(spark)
            attr.ops += 1
            attr.storage(before, probe.cached_blocks(spark))
            if kind == "query":
                attr.add_build(b, attr.stats([b["group"]]))
                attr.add_exec(attr.stats([x["group"]]), t2 - t1)
            else:
                _attribute_leg(run, attr, b, x, t1, t2, drains, progress, runs)

    attr = Attribution(run)
    per_op: dict[str, list[float]] = defaultdict(list)
    rows_wall = [0, 0.0]
    try:
        for _, name in ops:  # untimed pass: warm-up and correctness
            check(name)
        con.close()
        run.phase("warmup")
        deadline = time.perf_counter() + run.seconds
        # At least one whole pass, then until the deadline; medians per
        # operation make a partial last pass harmless.
        for i in itertools.count():
            if i >= len(ops) and time.perf_counter() >= deadline:
                break
            execute(*ops[i % len(ops)])
    finally:
        queries_streaming.run_scaled_drain = drain_fn
        spark.streams.removeListener(streams.listener)
    run.phase("timed")

    med = {k: statistics.median(v) for k, v in per_op.items()}
    out.sizes["op_median_s"] = med
    qs = [med[q] for q in queries if q in med]
    legs = [med[leg] for leg in STREAM_LEGS if leg in med]
    timed_queries = [t for q in queries for t in per_op.get(q, [])]
    q90 = percentile_report(timed_queries)
    out.report.update(
        query_p50_s=statistics.median(qs) if qs else None,
        query_p90_s=q90["p90"],
        query_n=q90["n"],
        # One pass over the sample at each query's median time, so a
        # partial last pass does not change the mix being measured.
        queries_per_min=60.0 * len(qs) / sum(qs) if qs else None,
        stream_leg_p50_s=statistics.median(legs) if legs else None,
        stream_leg_n=sum(len(per_op.get(leg, [])) for leg in STREAM_LEGS),
        stream_rows_per_s=rows_wall[0] / rows_wall[1] if rows_wall[1] else None,
    )
    out.report.update(
        # Geometric mean: every operation counts and none dominates by its
        # size; across seeds it spreads less than the median of six.
        op_gmean_s=statistics.geometric_mean(med.values()),
        ops_per_s=len(med) / sum(med.values()),
    )
    out.contract.update(
        op_latency_s=out.report["op_gmean_s"], throughput_per_s=out.report["ops_per_s"]
    )
    if tr.enabled:
        out.layers.update(attr.means())
    return out


def _same_as_oracle(df, got, expected) -> bool:
    if got is None or isinstance(expected, Exception):
        return False
    from reddit_data_pipeline_engineering_spark.oracle import _canon_rows

    ocols, orows = expected
    if sorted(df.columns) != sorted(ocols):
        return False
    return _canon_rows(df.columns, [tuple(r) for r in got]) == _canon_rows(ocols, orows)


_DURATIONS = {
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "getBatch": "streaming.get_batch_ms",
    "walCommit": "streaming.wal_commit_ms",
    "latestOffset": "streaming.latest_offset_ms",
}


def _attribute_leg(run, attr, b, rb, t1, t2, drains, progress, runs) -> None:
    attr.legs += 1
    drain_s = sum(e - s for s, e in drains)
    build = attr.stats([b["group"]])
    attr.add_build(b, build)
    # The drain runs inside the registry function; it is its own layer.
    attr.sums["plans.build_s"] -= drain_s
    attr.sums["plans.driver_s"] = max(0.0, attr.sums["plans.driver_s"] - drain_s)
    attr.sums["streaming.stage_s"] += (b["end"] - b["start"]) - drain_s
    attr.sums["streaming.drain_s"] += drain_s
    attr.sums["streaming.readback_s"] += t2 - t1
    attr.sums["streaming.batches"] += len(progress)
    for p in progress:
        for k, metric in _DURATIONS.items():
            attr.sums[metric] += p["duration_ms"].get(k, 0)
    attr.sums["streaming.state_rows"] += max((p["state_rows"] for p in progress), default=0)
    attr.sums["streaming.state_mem_bytes"] += max(
        (p["state_mem_bytes"] for p in progress), default=0
    )
    micro = attr.stats(list(runs))
    readback = attr.stats([rb["group"]])
    merged = {k: micro[k] + readback[k] for k in probe.EXEC_KEYS}
    attr.add_exec(merged, drain_s + (t2 - t1))


WORKLOADS = {
    "aq_pipeline": aq_pipeline,
    "registry_mix": registry_mix,
}
WARM = {
    "aq_pipeline": _warm_raw,
    "registry_mix": _warm_tables,
}
