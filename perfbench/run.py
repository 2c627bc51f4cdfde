#!/usr/bin/env python3
"""End-to-end benchmark of the engine, broken down by layer.

    python3 perfbench/run.py --workload boxoffice_daily --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. One process, one client, closed loop: each
op starts when the previous one has finished, on ``local[<cpus>]`` where
``<cpus>`` is the number of CPUs this process may run on.

Workloads (see ``workloads.py`` and README.md): ``boxoffice_daily``,
``catalog_read``, ``curation_daily``. Inputs are made from ``--seed``
(``gen.py``); set-up and warm-up are untimed; ops then run in whole units,
at least a workload's ``MIN_UNITS``, until ``--seconds`` have passed; the
program's outputs are checked outside the timed ops.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` enables Spark's UI/REST API through
``session.get_spark(extra_conf=...)``, records spans and reports the
per-layer metrics instead. The line before it is the run's environment
stamp. The full record (ops, spans, per-op Spark readings) is written to
``perfbench/results/<workload>-seed<N>-trace<T>.json``.

Every file the run writes, Spark's scratch space included, lives in a
temporary directory under ``perfbench/.work/`` that is removed at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from types import SimpleNamespace  # noqa: E402

import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Past a workload's MIN_UNITS, stop starting units once a run has been
# going this long, so every run ends inside three minutes under heavy load.
HARD_STOP_S = 120.0
# The tail percentile: the highest whose tail holds at least ten samples.
TAIL_SAMPLES = 10

SPAN_METRICS = {  # span name -> (seconds metric, jobs metric or None)
    "sources.write": ("sources.ingest_s", None),
    "functions.checks": ("functions.checks_s", "functions.checks_jobs"),
    "models": ("models.run_s", "models.jobs"),
    "plans.build": ("plans.build_s", "plans.build_jobs"),
    "plans.execute": ("plans.execute_s", "plans.execute_jobs"),
    "pipeline.daily": ("pipeline.daily_s", None),
    "pipeline.curate": ("pipeline.curate_s", "pipeline.curate_jobs"),
    "pipeline.fold": ("pipeline.fold_s", "pipeline.fold_jobs"),
}
SPARK_METRICS = (
    "jobs", "stages", "stages_skipped", "sched_wait_s", "task_s",
    "core_util", "shuffle_write_mb", "spill_mb", "codegen_compiles",
    "codegen_s", "failed_tasks", "gc_s",
)
QUERY_METRICS = (
    "plans.build_s", "plans.build_jobs", "plans.execute_s",
    "plans.execute_jobs", "driver.cpu_s", "driver.nojob_s",
    "driver.py4j_calls",
)


def _reset_peak(pid: int) -> None:
    """Restart a process's peak resident set (VmHWM) from its current
    resident set."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tail(lat: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p50/p75/p90/p95/p99 with at
    least ``TAIL_SAMPLES`` samples above it; the median when none has."""
    n = len(lat)
    pct = 50.0
    for p in (75.0, 90.0, 95.0, 99.0):
        if n * (1 - p / 100) >= TAIL_SAMPLES:
            pct = p
    s = sorted(lat)
    return pct, s[min(n - 1, int(pct / 100 * n))]


def _files_since(roots, since: float) -> tuple[int, int]:
    n = b = 0
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(d, f))
                if st.st_mtime >= since:
                    n += 1
                    b += st.st_size
    return n, b


def _stop(spark) -> None:
    """Stop Spark, then the JVM (it exits when its stdin closes), and wait
    for it to end."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layers(ctx, wl, ops: list[dict]) -> dict[str, float]:
    """Per-layer metrics from the traced run: per-op means over the timed
    ops, so runs with different op counts compare."""
    tr = ctx.tracer
    n = max(1, len(ops))
    by_op = {o["op"]: o for o in tr.ops}
    spans = tr.outer([s for s in tr.spans if s["op"] is not None])
    out: dict[str, float] = {
        "session.start_s": ctx.start_s,
        "session.warmup_s": ctx.warmup_s,
        "trace.latency_s.p50": statistics.median(o["lat"] for o in ops),
    }
    for name, (sec, jobs) in SPAN_METRICS.items():
        mine = [s for s in spans if s["name"] == name]
        out[sec] = sum(s["end"] - s["start"] for s in mine) / n
        if jobs:
            out[jobs] = sum(
                by_op[o["op"]]["jobs_in"].get(name, 0) for o in ops
            ) / n
    out["curate.self_s"] = sum(
        tr.self_time(s) for s in spans if s["name"] == "curate"
    ) / n
    out["sources.files_written"] = sum(o["files"] for o in ops) / n
    out["sources.bytes_written"] = sum(o["bytes"] for o in ops) / n
    op_spans = {s["op"]: s for s in spans if s["name"] == "op"}
    out["driver.cpu_s"] = sum(op_spans[o["op"]]["cpu"] for o in ops) / n
    out["driver.py4j_calls"] = sum(op_spans[o["op"]]["py4j"] for o in ops) / n
    out["driver.nojob_s"] = sum(by_op[o["op"]]["nojob_s"] for o in ops) / n
    for k in SPARK_METRICS:
        out[f"spark.{k}"] = sum(by_op[o["op"]][k] for o in ops) / n
    out["pipeline.kept_ratio"] = 0.0
    out.update(wl.extra_layers())
    # Per-query means for the catalog mix; 0 where a query did not run.
    for q in workloads.CatalogRead.MIX:
        mine = [o for o in ops if o["label"] == q]
        m = max(1, len(mine))
        kids = [s for s in spans if s["op"] in {o["op"] for o in mine}]
        vals = {
            "plans.build_s": sum(
                s["end"] - s["start"] for s in kids if s["name"] == "plans.build"
            ),
            "plans.build_jobs": sum(
                by_op[o["op"]]["jobs_in"].get("plans.build", 0) for o in mine
            ),
            "plans.execute_s": sum(
                s["end"] - s["start"] for s in kids
                if s["name"] == "plans.execute"
            ),
            "plans.execute_jobs": sum(
                by_op[o["op"]]["jobs_in"].get("plans.execute", 0) for o in mine
            ),
            "driver.cpu_s": sum(op_spans[o["op"]]["cpu"] for o in mine),
            "driver.nojob_s": sum(by_op[o["op"]]["nojob_s"] for o in mine),
            "driver.py4j_calls": sum(op_spans[o["op"]]["py4j"] for o in mine),
        }
        for k in QUERY_METRICS:
            out[f"{k}.{q}"] = vals[k] / m
    return out


def _stamp(ctx, spark, load_before) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "trace": ctx.trace,
        "nproc": os.cpu_count(),
        "cpus_allowed": ctx.cpus,
        "spark_cpus": sc.defaultParallelism,
        "loadavg_before": load_before,
        "loadavg_after": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def run(args) -> int:
    load_before = list(os.getloadavg())
    ctx = SimpleNamespace(
        workload=args.workload, seed=args.seed, trace=args.trace,
        cpus=len(os.sched_getaffinity(0)),
    )
    work_root = os.path.join(HERE, ".work")
    os.makedirs(work_root, exist_ok=True)
    ctx.work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root)
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark-local")
    # JVM scratch files stay in the run directory too: the launcher JVM
    # that spark-submit starts first, and (below) the driver JVM.
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    spark = None
    try:
        from spans import Tracer

        from data_pipeline_team5_spark.session import get_spark

        ctx.tracer = tr = Tracer(bool(args.trace))
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.driver.extraJavaOptions": jvm_opts,
        }
        if args.trace:
            conf.update({
                "spark.ui.enabled": "true",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            })
        ctx.spark = spark = get_spark(
            app_name=f"perfbench-{args.workload}", extra_conf=conf
        )
        ctx.start_s = time.perf_counter() - T0
        tr.attach(spark)
        if args.trace:
            from pyspark.sql.readwriter import DataFrameWriter

            from data_pipeline_team5_spark import pipeline
            from data_pipeline_team5_spark.functions import checks

            tr.wrap(DataFrameWriter, "parquet", "sources.write")
            tr.wrap(checks, "run_checks", "functions.checks")
            tr.wrap(pipeline, "curate_incremental_batch", "pipeline.curate")
            for fn in ("next_bin_offset", "build_signature_index",
                       "build_exact_key_index", "append_corpus_batch"):
                tr.wrap(pipeline, fn, "pipeline.fold")

        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - T0
        ctx.warmup_s = setup_s - ctx.start_s
        tr.mark()
        # The peak RSS covers the timed ops only, not the benchmark's own
        # input generation and oracles during set-up.
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        pids = [os.getpid()] + ([jvm.pid] if jvm is not None else [])
        gc.collect()
        for pid in pids:
            _reset_peak(pid)

        timed: list[dict] = []
        errors: set[int] = set()
        units = 0
        loop0 = time.perf_counter()
        while units < wl.MIN_UNITS or (
            time.perf_counter() - loop0 < args.seconds
            and time.perf_counter() - T0 < HARD_STOP_S
        ):
            unit = wl.next_unit()
            if unit is None:
                break
            units += 1
            for label, items, fn in unit:
                i = len(timed)
                tr.op = i
                t = time.time()
                with tr.span("op", label=label) as rec:
                    t0 = time.perf_counter()
                    try:
                        fn(i)
                    except Exception:
                        traceback.print_exc()
                        errors.add(i)
                    lat = time.perf_counter() - t0
                tr.op = None
                o = {"op": i, "label": label, "items": items, "lat": lat}
                if args.trace:
                    tr.collect_op(rec, ctx.cpus)
                    o["files"], o["bytes"] = _files_since(wl.store_roots, t)
                timed.append(o)
        wall = time.perf_counter() - loop0
        peak = sum(_rss_mb(pid) for pid in pids)

        errors |= wl.check()
        lat = [o["lat"] for o in timed]
        done = [o for o in timed if o["op"] not in errors]
        pct, tail = _tail(lat)
        if args.trace:
            metrics = _layers(ctx, wl, timed)
        else:
            metrics = {
                "setup_s": setup_s,
                "latency_s.p50": statistics.median(lat),
                "throughput_per_s": sum(o["items"] for o in done) / wall,
                "peak_rss_mb": peak,
                "space_amp": wl.space_amp(),
            }
        units = {
            "setup_s": "s", "latency_s.p50": "s", "throughput_per_s": "1/s",
            "peak_rss_mb": "MB", "space_amp": "ratio",
        }
        result = {
            "correct": not errors,
            "attempted": len(timed),
            "failed": len(errors),
            "metrics": {
                k: {"value": v, "unit": units.get(k) or _layer_unit(k)}
                for k, v in metrics.items()
            },
        }
        stamp = _stamp(ctx, spark, load_before)
        stamp.update(
            ops=len(timed), timed_wall_s=wall,
            run_wall_s=time.perf_counter() - T0,
            latency_s_tail=tail, tail_percentile=pct,
            error_rate=len(errors) / max(1, len(timed)),
        )
        out_dir = os.path.join(HERE, "results")
        os.makedirs(out_dir, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(
                {"env": stamp, "result": result, "ops": timed,
                 "spark_ops": tr.ops, "spans": tr.spans},
                f, indent=1, default=str,
            )
        print(json.dumps({"env": stamp}))
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                _stop(spark)
        finally:
            shutil.rmtree(ctx.work, ignore_errors=True)


def _layer_unit(name: str) -> str:
    if "jobs" in name or "calls" in name or name.endswith(
        ("stages", "stages_skipped", "failed_tasks", "compiles",
         "files_written")
    ):
        return "count"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "util")):
        return "ratio"
    return "s"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["boxoffice_daily", "catalog_read",
                             "curation_daily"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # Turn a kill into SystemExit so the run still stops Spark and removes
    # its temporary directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import data_pipeline_team5_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
