"""The benchmark's three workloads and their correctness checks.

Each workload seeds its inputs and warms up in ``setup`` (untimed), hands
out the timed ops one unit at a time in ``next_unit`` (a day, or a round of
the query mix), and checks the program's outputs in ``check`` after the
timed loop. Ops only call the program's public functions:
``pipeline.daily_pipeline``, ``models.run_model*``,
``plans.catalog.QUERIES[name].fn`` and ``curate.main``.
"""

from __future__ import annotations

import contextlib
import datetime
import io
import json
import math
import os
import random
import traceback

import pyarrow.parquet as pq

import gen


def dir_bytes(*roots: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for root in roots
        for d, _, files in os.walk(root)
        for f in files
    )


class Workload:
    name = ""
    store_roots: tuple[str, ...] = ()
    # Units every run times, however long they take.
    MIN_UNITS = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer

    def setup(self) -> None:
        raise NotImplementedError

    def next_unit(self):
        """The next unit of timed ops as ``[(label, items, fn), ...]``, or
        None when the inputs are used up."""
        raise NotImplementedError

    def check(self) -> set[int]:
        """Indices of timed ops whose outputs are wrong."""
        return set()

    def space_amp(self) -> float:
        raise NotImplementedError

    def extra_layers(self) -> dict[str, float]:
        return {}


# ------------------------------------------------------------- box office


class BoxOfficeDaily(Workload):
    """One op is one day of the reference's job: ingest that day's KOFIC
    JSON through ``pipeline.daily_pipeline`` into a growing warehouse, then
    run the incremental showrange model and the 9-day pivot model over it
    and collect both."""

    name = "boxoffice_daily"
    # The first days run slower while the JVM compiles the job's code.
    # Four timed days: the median then holds when a burst of load on the
    # machine slows one of them.
    WARMUP_DAYS = 2
    MIN_UNITS = 4
    MAX_DAYS = 120

    def setup(self) -> None:
        from data_pipeline_team5_spark import models, pipeline

        self.models, self.pipeline = models, pipeline
        self.days = gen.kofic_days(self.ctx.seed, self.MAX_DAYS)
        root = os.path.join(self.ctx.work, "warehouse")
        self.box = os.path.join(root, "box_office_daily")
        self.show = os.path.join(root, "box_office_showrange")
        self.store_roots = (self.box, self.show)
        self.results: dict[int, tuple] = {}  # op index -> outputs
        self.next_day = 0
        for _ in range(self.WARMUP_DAYS):
            self._day(self.next_day)
            self.next_day += 1

    def _day(self, d: int):
        from pyspark.sql import functions as F

        day, doc = self.days[d]
        with self.tr.span("pipeline.daily"):
            self.pipeline.daily_pipeline(self.spark, doc, self.box)
        with self.tr.span("models"):
            src = self.spark.read.parquet(self.box)
            dates = self.pipeline.last_n_days(
                datetime.date.fromisoformat(day), 9
            )
            self.models.run_model_incremental(
                self.spark, self.models.render_showrange, src, self.show, dates
            )
            show = (
                self.spark.read.parquet(self.show)
                .filter(
                    F.col("show_range").isin(
                        [datetime.date.fromisoformat(x) for x in dates]
                    )
                )
                .collect()
            )
            pivot = self.models.run_model(
                self.spark, self.models.render_data(dates), src
            ).collect()
        return d, dates, show, pivot

    def next_unit(self):
        if self.next_day >= self.MAX_DAYS:
            return None
        d = self.next_day
        self.next_day += 1
        rows = len(json.loads(self.days[d][1])["boxOfficeResult"]
                   ["dailyBoxOfficeList"])

        def op(i):
            self.results[i] = self._day(d)

        return [(self.days[d][0], rows, op)]

    def check(self) -> set[int]:
        """Recompute both models from the generated JSON in plain Python
        and compare exactly."""
        rows = {}  # iso day -> list of API row dicts
        for day, doc in self.days[: self.next_day]:
            rows[day] = json.loads(doc)["boxOfficeResult"][
                "dailyBoxOfficeList"
            ]
        bad = set()
        for i, (d, dates, show, pivot) in self.results.items():
            seen = [x for x in dates if x in rows and x <= self.days[d][0]]
            want_show = {
                x: tuple(
                    float(sum(int(r[k]) for r in rows[x]))
                    for k in ("salesAmt", "salesAcc", "audiCnt", "audiAcc",
                              "scrnCnt", "showCnt")
                )
                for x in seen
            }
            got_show = {
                r["show_range"].isoformat(): (
                    r["total_sales_sum"], r["acc_sales_sum"],
                    r["total_audience_sum"], r["acc_audience_sum"],
                    r["screen_num_sum"], r["screen_show_sum"],
                )
                for r in show
            }
            cells = {}
            for x in seen:
                for r in rows[x]:
                    key = (r["movieNm"], int(r["movieCd"]))
                    c = cells.setdefault(key, {})
                    ymd = x.replace("-", "")
                    for api, col in (("salesAmt", "sales"),
                                     ("salesAcc", "total_sales"),
                                     ("audiCnt", "audience_num"),
                                     ("audiAcc", "total_audience_num")):
                        c[f"{ymd}_{col}"] = float(int(r[api]))
            cols = [
                f"{x.replace('-', '')}_{m}"
                for m in ("sales", "total_sales", "audience_num",
                          "total_audience_num")
                for x in dates
            ]
            want_pivot = sorted(
                (t, c, tuple(v.get(k) for k in cols))
                for (t, c), v in cells.items()
            )
            got_pivot = sorted(
                (r["title"], r["code"], tuple(r[k] for k in cols))
                for r in pivot
            )
            if got_show != want_show or got_pivot != want_pivot:
                bad.add(i)
        return bad

    def space_amp(self) -> float:
        fed = sum(len(doc.encode()) for _, doc in self.days[: self.next_day])
        return dir_bytes(*self.store_roots) / fed


# ----------------------------------------------------------- catalog reads


def _norm_cell(v):
    """Order-insensitive, type-tagged cell normalization, as the engine's
    oracle tests compare Spark and DuckDB rows."""
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, "NaN") if math.isnan(v) else (1, "f", v)
    if isinstance(v, bool):
        return (1, "b", v)
    if isinstance(v, int):
        return (1, "i", v)
    if isinstance(v, datetime.datetime):
        return (1, v.isoformat(sep=" "))
    if isinstance(v, datetime.date):
        return (1, v.isoformat())
    if isinstance(v, (list, tuple)):
        return (1, tuple(_norm_cell(x) for x in v))
    return (1, v)


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows),
    )


class CatalogRead(Workload):
    """One op is one catalog query, built (``QUERIES[name].fn``) and run
    into a noop sink. Each unit is a round of the whole mix in a seeded
    order."""

    name = "catalog_read"
    # Driver-build-bound first, execute-bound second.
    MIX = (
        "embedding_kmeans", "quality_classifier_filter",
        "lm_perplexity_filter",
        "w2_w6_daily_movement", "ngram_jaccard_neardup",
    )

    def setup(self) -> None:
        from data_pipeline_team5_spark.plans.catalog import QUERIES

        self.queries = QUERIES
        self.data = os.path.join(self.ctx.work, "tables")
        os.makedirs(self.data)
        self.paths = gen.shuffled_tables(self.ctx.seed, self.data)
        self.store_roots = (self.data,)
        self.rng = random.Random(self.ctx.seed)
        self.wrong: set[str] = set()
        self.labels: dict[int, str] = {}
        # Warm-up doubles as the correctness check: each query runs once
        # with its rows collected and compared with its DuckDB oracle.
        # A query that raises here fails its timed ops, not the run.
        for q in self.MIX:
            try:
                ok = self._correct(q)
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                self.wrong.add(q)

    def _correct(self, name: str) -> bool:
        import duckdb

        q = self.queries[name]
        df = q.fn(self.spark, self.data)
        rows = [tuple(r) for r in df.collect()]
        if q.oracle is None:
            return len(rows) > 0
        with duckdb.connect() as con:
            for t, p in self.paths.items():
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
            res = con.execute(q.oracle)
            want = _normalize([d[0] for d in res.description], res.fetchall())
        return _normalize(df.columns, rows) == want

    def next_unit(self):
        order = list(self.MIX)
        self.rng.shuffle(order)
        return [(q, 1, self._op(q)) for q in order]

    def _op(self, name: str):
        fn = self.queries[name].fn

        def op(i):
            self.labels[i] = name
            with self.tr.span("plans.build"):
                df = fn(self.spark, self.data)
            with self.tr.span("plans.execute"):
                df.write.format("noop").mode("overwrite").save()

        return op

    def check(self) -> set[int]:
        return {i for i, q in self.labels.items() if q in self.wrong}

    def space_amp(self) -> float:
        """Not a write workload, and nothing the program does moves this:
        the on-disk parquet bytes of the shuffled input tables per byte of
        their in-memory Arrow columns. It is reported because every listed
        workload reports every end-to-end metric."""
        raw = sum(pq.read_table(p).nbytes for p in self.paths.values())
        return dir_bytes(self.data) / raw


# ----------------------------------------------------------- curation loop


class CurationDaily(Workload):
    """One op is one ``curate incremental --fold-batch-id dayN`` through
    ``curate.main``: curate the day's new documents against the stored
    indexes, then fold the survivors into corpus, signature index, key
    index and assignments."""

    name = "curation_daily"
    BASE_SHARE = 2 / 3
    PER_DAY = 40
    WARMUP_DAYS = 1

    def setup(self) -> None:
        from data_pipeline_team5_spark import curate

        self.curate = curate
        w = self.ctx.work
        self.inp = os.path.join(w, "in")
        os.makedirs(self.inp)
        docs = gen.read_table("documents")
        base, days = gen.split_documents(
            self.ctx.seed, docs, self.BASE_SHARE, self.PER_DAY
        )
        self.base = os.path.join(self.inp, "base.parquet")
        pq.write_table(base, self.base)
        self.day_files = []
        for k, t in enumerate(days):
            p = os.path.join(self.inp, f"day{k}.parquet")
            pq.write_table(t, p)
            self.day_files.append((p, t.num_rows))
        self.stores = {
            k: os.path.join(w, "stores", k)
            for k in ("corpus", "sig", "key", "out")
        }
        self.store_roots = tuple(self.stores.values())
        self.kept: dict[int, tuple[int, int, int]] = {}  # op -> (day, new, kept)
        s = self.stores
        self._main(["init-corpus", "--docs", self.base, "--corpus", s["corpus"]])
        self._main(["build-index", "--docs", s["corpus"], "--sig", s["sig"],
                    "--key", s["key"]])
        self.next_day = 0
        for _ in range(self.WARMUP_DAYS):
            self._fold(self.next_day)
            self.next_day += 1

    def _main(self, argv: list[str]) -> dict:
        out = io.StringIO()
        with self.tr.span("curate"), contextlib.redirect_stdout(out):
            rc = self.curate.main(argv)
        if rc != 0:
            raise RuntimeError(f"curate {argv[0]} exited {rc}")
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def _fold(self, k: int) -> int:
        s = self.stores
        r = self._main([
            "incremental", "--new", self.day_files[k][0],
            "--corpus", s["corpus"], "--sig", s["sig"], "--key", s["key"],
            "--out", s["out"], "--fold-batch-id", f"day{k}",
        ])
        return r["kept"]

    def next_unit(self):
        if self.next_day >= len(self.day_files):
            return None
        k = self.next_day
        self.next_day += 1
        new = self.day_files[k][1]

        def op(i):
            self.kept[i] = (k, new, self._fold(k))

        return [(f"day{k}", new, op)]

    def _rows(self, store: str, batch: str) -> int:
        part = os.path.join(self.stores[store], f"batch_id={batch}")
        if not os.path.isdir(part):
            return 0
        return sum(
            pq.read_metadata(os.path.join(part, f)).num_rows
            for f in os.listdir(part)
            if f.endswith(".parquet")
        )

    def check(self) -> set[int]:
        """Per day: kept <= new, the day's assignments partition holds
        exactly ``kept`` rows, and corpus, sig and key each grew by exactly
        ``kept``."""
        bad = set()
        for i, (k, new, kept) in self.kept.items():
            batch = f"day{k}"
            grew = [self._rows(st, batch)
                    for st in ("out", "corpus", "sig", "key")]
            if not (0 <= kept <= new and all(g == kept for g in grew)):
                bad.add(i)
        return bad

    def space_amp(self) -> float:
        fed = os.path.getsize(self.base) + sum(
            os.path.getsize(p) for p, _ in self.day_files[: self.next_day]
        )
        return dir_bytes(*self.store_roots) / fed

    def extra_layers(self) -> dict[str, float]:
        new = sum(n for _, n, _ in self.kept.values())
        kept = sum(k for _, _, k in self.kept.values())
        return {"pipeline.kept_ratio": kept / new if new else 0.0}


WORKLOADS = {w.name: w for w in (BoxOfficeDaily, CatalogRead, CurationDaily)}
