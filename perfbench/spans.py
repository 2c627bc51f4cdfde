"""Spans, counters and Spark REST readings for the traced run.

A span records name, start, end, parent span and op id. Spans live in
memory and are written out with the run's result file. Self time of a span
is its duration minus the time its direct children cover.

In a traced run the benchmark also

- wraps a few program entry points (parquet writes, the quality gate, the
  curation and fold steps) so their cost gets its own span;
- counts Py4J round trips by wrapping the gateway client's
  ``send_command``;
- reads Spark's REST API (``/jobs``, ``/stages``, ``/sql``,
  ``/metrics/json``) after each op and attributes jobs to spans by their
  submission time.

With tracing off every hook is a no-op and the program is not touched.
"""

from __future__ import annotations

import functools
import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


def _rest_time(s: str | None) -> float | None:
    """'2026-10-17T02:55:42.424GMT' -> epoch seconds."""
    if not s:
        return None
    dt = datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|min|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _metric_seconds(value: str) -> float:
    """Total of a SQL timing metric, e.g. 'total (min, med, max ...)\\n1.2 s
    (...)' or '345 ms'; 0 when the value holds no duration."""
    m = _DURATION.search(value.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op: int | None = None
        self.py4j_calls = 0
        self.ops: list[dict] = []  # per-op Spark readings (traced only)
        self._base = None
        self._last_job = -1
        self._last_sql = -1
        self._metrics0 = None

    # ------------------------------------------------------------- spans

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "start": time.time(),
            "end": None,
            "py4j": self.py4j_calls,
            "cpu": time.process_time(),
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        try:
            yield rec
        finally:
            self.stack.pop()
            rec["end"] = time.time()
            rec["py4j"] = self.py4j_calls - rec["py4j"]
            rec["cpu"] = time.process_time() - rec["cpu"]

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as a span ``name``."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **k):
            with self.span(name):
                return orig(*a, **k)

        setattr(owner, attr, traced)

    def outer(self, spans: list[dict]) -> list[dict]:
        """Drop spans nested in a span of the same name, so a wrapped
        function that calls itself is counted once."""
        names = {s["id"]: s["name"] for s in self.spans}
        return [s for s in spans if names.get(s["parent"]) != s["name"]]

    def self_time(self, rec: dict) -> float:
        kids = sum(
            s["end"] - s["start"] for s in self.spans
            if s["parent"] == rec["id"]
        )
        return rec["end"] - rec["start"] - kids

    # ----------------------------------------------------------- Spark side

    def attach(self, spark) -> None:
        """Count Py4J calls and remember the REST base URL."""
        if not self.enabled:
            return
        sc = spark.sparkContext
        client = sc._gateway._gateway_client
        send = client.send_command

        def counted(*a, **k):
            self.py4j_calls += 1
            return send(*a, **k)

        client.send_command = counted
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self._root = f"http://127.0.0.1:{port}"
        self._base = f"{self._root}/api/v1/applications/{sc.applicationId}"
        self.mark()

    def _get(self, url: str):
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def _codegen_gc(self) -> tuple[float, float, float]:
        m = self._get(f"{self._root}/metrics/json")
        cg = next(
            (v for k, v in m["histograms"].items()
             if k.endswith("CodeGenerator.compilationTime")),
            {"count": 0, "mean": 0.0},
        )
        gc = next(
            (v["count"] for k, v in m["counters"].items()
             if k.endswith("executor.jvmGCTime")),
            0,
        )
        # The histogram keeps a sample, so count x mean approximates the
        # total compile time; the count itself is exact.
        return cg["count"], cg["count"] * cg["mean"] / 1e3, gc / 1e3

    def mark(self) -> None:
        """Forget every job, SQL execution and metric seen so far."""
        if not self.enabled:
            return
        jobs = self._get(f"{self._base}/jobs")
        self._last_job = max((j["jobId"] for j in jobs), default=-1)
        sqls = self._get(f"{self._base}/sql?details=false")
        self._last_sql = max((q["id"] for q in sqls), default=-1)
        self._metrics0 = self._codegen_gc()

    def collect_op(self, op_rec: dict, cpus: int) -> dict:
        """Spark readings for the op whose span is ``op_rec``: its jobs and
        stages, the jobs inside each child span, codegen and GC deltas and
        the three slowest plan nodes."""
        if not self.enabled:
            return {}
        jobs = [
            j for j in self._get(f"{self._base}/jobs")
            if j["jobId"] > self._last_job
        ]
        self._last_job = max([j["jobId"] for j in jobs] + [self._last_job])
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        stages = [
            s for s in self._get(f"{self._base}/stages")
            if s["stageId"] in stage_ids
        ]
        run = [s for s in stages if s["status"] != "SKIPPED"]
        spans = self.outer([s for s in self.spans if s["op"] == op_rec["op"]])
        t0, t1 = op_rec["start"], op_rec["end"]
        intervals = []
        for j in jobs:
            j["_sub"] = _rest_time(j.get("submissionTime"))
            j["_end"] = _rest_time(j.get("completionTime")) or t1
            if j["_sub"] is not None:
                intervals.append((max(j["_sub"], t0), min(j["_end"], t1)))
        covered, edge = 0.0, t0
        for a, b in sorted(intervals):
            a = max(a, edge)
            if b > a:
                covered += b - a
                edge = b
        jobs_in = {}
        for s in spans:
            jobs_in.setdefault(s["name"], 0)
            jobs_in[s["name"]] += sum(
                1 for j in jobs
                if j["_sub"] is not None
                and s["start"] - 0.002 <= j["_sub"] < s["end"] + 0.002
            )
        cg_n, cg_s, gc_s = self._codegen_gc()
        cg0 = self._metrics0
        self._metrics0 = (cg_n, cg_s, gc_s)
        wall = t1 - t0
        task_s = sum(s["executorRunTime"] for s in run) / 1e3
        out = {
            "jobs": len(jobs),
            "jobs_in": jobs_in,
            "stages": len(run),
            "stages_skipped": len(stages) - len(run),
            "sched_wait_s": sum(
                (_rest_time(s.get("firstTaskLaunchedTime")) or 0)
                - (_rest_time(s.get("submissionTime")) or 0)
                for s in run
                if s.get("firstTaskLaunchedTime") and s.get("submissionTime")
            ),
            "task_s": task_s,
            "core_util": task_s / (wall * cpus) if wall > 0 else 0.0,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in run) / 1e6,
            "spill_mb": sum(s["diskBytesSpilled"] for s in run) / 1e6,
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "codegen_compiles": cg_n - cg0[0],
            "codegen_s": max(0.0, cg_s - cg0[1]),
            "gc_s": gc_s - cg0[2],
            "nojob_s": max(0.0, wall - covered),
            "plan_nodes_top3": self._top_nodes(),
        }
        self.ops.append({"op": op_rec["op"], **out})
        return out

    def _top_nodes(self) -> list[dict]:
        """The three plan nodes with the most summed timing metrics over
        the SQL executions since the last call (rows, time, spill)."""
        try:
            sqls = [
                q for q in self._get(f"{self._base}/sql?details=true")
                if q["id"] > self._last_sql
            ]
        except (OSError, ValueError):  # the SQL store is best effort
            return []
        self._last_sql = max([q["id"] for q in sqls] + [self._last_sql])
        nodes = []
        for q in sqls:
            for n in q.get("nodes", []):
                ms = {m["name"]: m["value"] for m in n.get("metrics", [])}
                t = sum(
                    _metric_seconds(v) for k, v in ms.items() if "time" in k
                )
                nodes.append(
                    {
                        "sql_id": q["id"],
                        "node": n["nodeName"],
                        "time_s": round(t, 4),
                        "rows": ms.get("number of output rows"),
                        "spill": ms.get("spill size"),
                    }
                )
        return sorted(nodes, key=lambda n: -n["time_s"])[:3]
