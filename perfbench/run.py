#!/usr/bin/env python3
"""The repository benchmark: one command, every workload.

Run every workload, each in a fresh process, untraced and then traced,
and print every end-to-end and per-layer metric by name with its unit::

    python3 perfbench/run.py [--seed N] [--seconds S] [--size default|tiny]

Run one workload once; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``)::

    python3 perfbench/run.py --workload registry_mix --seed 3 --seconds 18 --trace 0

The benchmark reads and writes only inside the checkout it runs from: its
inputs, marts, checkpoints, temporary files and ``spark.local.dir`` live in
a per-run directory under ``.perfbench_runs/`` that is removed afterwards;
a run that leaves anything behind fails. Outside a checkout that holds the
engine package it exits with status 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "reddit_data_pipeline_engineering_spark"
RUNS_DIR = ".perfbench_runs"

import spec  # noqa: E402  (HERE is on sys.path: it is the script's directory)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="all", choices=["all", *spec.WORKLOADS])
    p.add_argument("--seed", type=int, default=spec.DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(spec.SIZES), default="default")
    # Internal: one cold session start over the inputs in RUN_DIR, then exit.
    p.add_argument("--cold-setup", metavar="RUN_DIR", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _isolate(run_dir: str) -> dict:
    """Point every temporary and spill location into ``run_dir``; returns
    what it replaced, for ``_restore``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "RDPE_SPARK_LOCAL_DIR": local,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "RDPE_DRIVER_MEMORY": "2g",
        "PYSPARK_PYTHON": sys.executable,
    }
    saved = {k: os.environ.get(k) for k in env}
    saved["tempfile.tempdir"] = tempfile.tempdir
    os.environ.update(env)
    tempfile.tempdir = tmp
    return saved


def _restore(saved: dict) -> None:
    tempfile.tempdir = saved.pop("tempfile.tempdir")
    for k, v in saved.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(name: str, seed: int, seconds: float, trace: bool, size: str):
    """Run one workload in this process; returns its Outcome, the Run, the
    host record and the (removed) run directory."""
    import probe
    import workloads

    os.makedirs(os.path.join(ROOT, RUNS_DIR), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{name}-", dir=os.path.join(ROOT, RUNS_DIR))
    saved = _isolate(run_dir)
    host = {"start": probe.host_snapshot()}
    run = workloads.Run(
        workload=name,
        run_dir=run_dir,
        seed=seed,
        seconds=seconds,
        size=spec.SIZES[size],
        tracer=probe.Tracer(trace),
        cold_start=_cold_start_child(size),
    )
    try:
        out = workloads.WORKLOADS[name](run)
        out.report["rss_peak_mb"] = probe.rss_peak_mb(run.jvm)
        host["jvm_cpu_s"] = probe.cpu_seconds(run.jvm)
        host["python_cpu_s"] = probe.cpu_seconds(os.getpid())
        host["end"] = probe.host_snapshot()
        host["steal_share"] = _steal_share(host["start"]["cpu_s"], host["end"]["cpu_s"])
        if trace:
            # A layer not on this workload's path reads zero.
            out.layers = {
                **dict.fromkeys(spec.LAYER_METRICS, 0.0),
                **out.layers,
                **workloads.setup_layers(run),
                "self_s": run.tracer.self_times(),
            }
    finally:
        _stop_spark(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        _restore(saved)
        run.phase("teardown")
    return out, run, host, run_dir


def _cold_start_child(size: str):
    """A function that runs one cold set-up of a run in a fresh process
    (``--cold-setup``), waits for it to exit and returns its record."""

    def cold_start(run) -> dict:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", run.workload,
            "--seed", str(run.seed), "--size", size, "--cold-setup", run.run_dir,
        ]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise RuntimeError(f"cold set-up exited with {proc.returncode}")
        return json.loads(proc.stdout.strip().splitlines()[-1])

    return cold_start


def main_cold_setup(args) -> int:
    """Child of ``_cold_start_child``: start cold, print the record, stop."""
    import probe
    import workloads

    run = workloads.Run(
        workload=args.workload,
        run_dir=args.cold_setup,
        seed=args.seed,
        seconds=0,
        size=spec.SIZES[args.size],
        tracer=probe.Tracer(False),
    )
    try:
        record = workloads.cold_setup(run)
    finally:
        _stop_spark(run.spark)
    print(json.dumps(record))
    return 0


def _steal_share(start: dict, end: dict) -> float:
    """Share of the host's CPU time taken by other machines during the run."""
    total = sum(end.values()) - sum(start.values())
    return (end["steal"] - start["steal"]) / total if total else 0.0


def _leftovers(run_dir: str, before: set[str]) -> list[str]:
    left = []
    if os.path.exists(run_dir):
        left.append(run_dir)
    runs = os.path.join(ROOT, RUNS_DIR)
    if os.path.isdir(runs) and not os.listdir(runs):
        os.rmdir(runs)
    left += sorted(set(os.listdir(ROOT)) - before - {RUNS_DIR})
    return left


def main_one(args) -> int:
    before = set(os.listdir(ROOT))
    out, run, host, run_dir = run_workload(
        args.workload, args.seed, args.seconds, bool(args.trace), args.size
    )
    left = _leftovers(run_dir, before)
    if left:
        print(f"run left files behind: {left}", file=sys.stderr)
        return 3

    setup_s = statistics.median(run.setup_s)
    failed = len(out.failures)
    out.report.update(
        setup_s=setup_s,
        setup_runs_s=run.setup_s,
        setup_parts_s=run.setups,
        error_rate=failed / out.attempted,
    )
    contract = {"setup_s": setup_s, "rss_peak_mb": out.report["rss_peak_mb"], **out.contract}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "report": out.report,
        "contract": contract,
        "sizes": out.sizes,
        "host": host,
        "phases_s": run.phases,
        "failures": out.failures[:20],
    }
    if args.trace:
        record["layers"] = out.layers
        record["spans"] = run.tracer.dump()
    units = {**spec.REPORT_METRICS["common"], **spec.REPORT_METRICS[args.workload]}
    for k, unit in units.items():
        print(f"{args.workload} {k} {out.report.get(k)} {unit}")
    for f in out.failures[:20]:
        print(f"{args.workload} FAILED {f}")
    print(json.dumps({"record": record}, default=str))
    if args.trace:
        metrics = {
            m: {"value": out.layers.get(m, 0.0), "unit": spec.LAYER_METRICS[m][0]}
            for m in spec.CONTRACT_LAYER_METRICS
        }
    else:
        metrics = {
            m["name"]: {"value": contract[m["name"]], "unit": m["unit"]}
            for m in spec.END_TO_END
        }
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": out.attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _child(workload: str, args, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace), "--size", args.size,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} (trace {trace}) exited with {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    record = json.loads(next(l for l in lines if l.startswith('{"record"')))["record"]
    record["result"] = json.loads(lines[-1])
    return record


def main_all(args) -> int:
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in spec.WORKLOADS:
        plain = _child(name, args, 0)
        traced = _child(name, args, 1)
        units = {**spec.REPORT_METRICS["common"], **spec.REPORT_METRICS[name]}
        print(f"== {name}: {spec.WORKLOADS[name]['why']}")
        print(f"   inputs: {json.dumps(plain['sizes'])}")
        print(f"   host: {json.dumps(plain['host'])}")
        for k, unit in units.items():
            v = plain["report"].get(k)
            n = plain["report"].get(k.rsplit("_p", 1)[0] + "_n") if "_p" in k else None
            extra = f" (n={n})" if n is not None else ""
            print(f"   {k} = {v} {unit}{extra}")
        for k, v in {**plain["report"], **plain["contract"]}.items():
            t = {**traced["report"], **traced["contract"]}.get(k)
            if isinstance(v, float) and isinstance(t, float) and v:
                print(f"   tracing overhead {k}: {t - v:+.4g} ({(t - v) / v:+.1%})")
        for k, v in sorted(traced["layers"].items()):
            if k == "self_s":
                continue
            unit, moves, _ = spec.LAYER_METRICS.get(k, ("", "", ""))
            print(f"   layer {k} = {v:.6g} {unit} -> {moves}")
        for k, v in sorted(traced["layers"]["self_s"].items()):
            print(f"   self time {k} = {v:.4f} s")
        for f in plain["failures"]:
            print(f"   FAILED {f}")
        res = plain["result"]
        summary["correct"] &= res["correct"] and traced["result"]["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
        for k, m in res["metrics"].items():
            summary["metrics"][f"{name}.{k}"] = m
    with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
        json.dump(spec.benchmark_json(), f, indent=2)
        f.write("\n")
    print(json.dumps(summary))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"{ENGINE} not found in {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return main_all(args)
    try:
        return main_cold_setup(args) if args.cold_setup else main_one(args)
    except Exception:  # noqa: BLE001 - report, print no result, fail the run
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    t0 = time.perf_counter()
    rc = main()
    print(f"wall {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(rc)
