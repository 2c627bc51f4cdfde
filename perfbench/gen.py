"""Seeded inputs for the benchmark.

Every function takes the workload seed and returns (or writes) the same
bytes for the same seed. The program under test only ever sees the files
these functions produce.

- ``kofic_days``: KOFIC daily box-office JSON documents, one per day, ten
  rows each, drawn from a movie pool so films enter and leave the chart.
  Ranks are dense 1..10 per day and the cumulative columns (``salesAcc``,
  ``audiAcc``) equal the running sum of the daily columns per ``movieCd``.
- ``shuffled_tables``: the tables in ``data/`` (rows of the engine's sf0.1
  fixtures, see ``sample_data.py``) in a seeded row order, for the
  ``catalog_read`` query mix.
- ``split_documents``: the seeded base/day split of ``documents`` for the
  curation loop.
"""

from __future__ import annotations

import json
import os
import random
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("documents", "embeddings", "part", "lineitem")
START_DAY = date(2025, 1, 1)
CHART_SIZE = 10


# ---------------------------------------------------------------- KOFIC days


def _movie_pool(rng: random.Random, n_days: int) -> list[dict]:
    """Films with a release day, a run length and a popularity; one new
    film opens about every day, so the top ten turns over."""
    pool = []
    n_movies = n_days + 3 * CHART_SIZE
    for i in range(n_movies):
        opened = rng.randint(-2 * CHART_SIZE, n_days)
        pool.append(
            {
                "code": 20240000 + i * 7 + rng.randint(0, 6),
                "title": f"Movie {i:04d}, part {rng.randint(1, 3)}",
                "opened": opened,
                "run": rng.randint(2 * CHART_SIZE, 4 * CHART_SIZE),
                "pop": rng.uniform(0.2, 1.0),
            }
        )
    return pool


def kofic_days(seed: int, n_days: int) -> list[tuple[str, str]]:
    """``n_days`` consecutive KOFIC documents as ``(iso_day, json_text)``.

    Ten films chart each day: the ones on screen with the highest drawn
    sales. A film's first charting day is ``NEW``, later ones ``OLD``;
    ``rankInten`` and the ``*Inten``/``*Change`` columns compare with the
    film's previous charting day."""
    rng = random.Random(seed)
    pool = _movie_pool(rng, n_days)
    prev: dict[int, dict] = {}  # code -> last charted row values
    acc: dict[int, tuple[int, int]] = {}  # code -> (salesAcc, audiAcc)
    out = []
    for d in range(n_days):
        day = START_DAY + timedelta(days=d)
        showing = [
            m for m in pool if m["opened"] <= d < m["opened"] + m["run"]
        ]
        # Keep the chart full: pad with the longest-running films.
        if len(showing) < CHART_SIZE:
            rest = sorted(
                (m for m in pool if m not in showing),
                key=lambda m: (abs(m["opened"] - d), m["code"]),
            )
            showing += rest[: CHART_SIZE - len(showing)]
        drawn = []
        for m in showing:
            age = max(0, d - m["opened"])
            sales = int(
                m["pop"] * 4e8 * 0.93**age * rng.uniform(0.6, 1.4)
            ) + rng.randint(1, 999) * 10
            drawn.append((sales, m))
        drawn.sort(key=lambda t: (-t[0], t[1]["code"]))
        chart = drawn[:CHART_SIZE]
        total = sum(s for s, _ in chart)
        rows = []
        for rank, (sales, m) in enumerate(chart, start=1):
            code = m["code"]
            audi = sales // rng.randint(9000, 15000) + 1
            screens = rng.randint(50, 2500)
            p = prev.get(code)
            s_acc, a_acc = acc.get(code, (0, 0))
            s_acc, a_acc = s_acc + sales, a_acc + audi
            acc[code] = (s_acc, a_acc)
            rows.append(
                {
                    "rnum": str(rank),
                    "rank": str(rank),
                    "rankInten": str(p["rank"] - rank if p else 0),
                    "rankOldAndNew": "OLD" if p else "NEW",
                    "movieCd": str(code),
                    "movieNm": m["title"],
                    "openDt": (
                        START_DAY + timedelta(days=m["opened"])
                    ).isoformat(),
                    "salesAmt": str(sales),
                    "salesShare": f"{100.0 * sales / total:.1f}",
                    "salesInten": str(sales - p["sales"] if p else sales),
                    "salesChange": (
                        f"{100.0 * (sales - p['sales']) / p['sales']:.1f}"
                        if p
                        else "0"
                    ),
                    "salesAcc": str(s_acc),
                    "audiCnt": str(audi),
                    "audiInten": str(audi - p["audi"] if p else audi),
                    "audiChange": (
                        f"{100.0 * (audi - p['audi']) / p['audi']:.1f}"
                        if p
                        else "0"
                    ),
                    "audiAcc": str(a_acc),
                    "scrnCnt": str(screens),
                    "showCnt": str(screens * rng.randint(3, 6)),
                }
            )
            prev[code] = {"rank": rank, "sales": sales, "audi": audi}
        ymd = day.strftime("%Y%m%d")
        doc = {
            "boxOfficeResult": {
                "boxofficeType": "일별 박스오피스",
                "showRange": f"{ymd}~{ymd}",
                "dailyBoxOfficeList": rows,
            }
        }
        out.append((day.isoformat(), json.dumps(doc, ensure_ascii=False)))
    return out


# ------------------------------------------------------------- catalog data


def shuffled_tables(seed: int, out_dir: str) -> dict[str, str]:
    """Write the tables in ``data/`` to ``out_dir`` with their rows in an
    order drawn from ``seed``. Returns name -> path.

    The rows are the same for every seed, so every run does the same work
    on different files, and the DuckDB oracles still hold."""
    order = np.random.default_rng([seed, 4])
    paths = {}
    for name in TABLES:
        tbl = read_table(name)
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl.take(order.permutation(tbl.num_rows)), paths[name])
    return paths


def read_table(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DATA, f"{name}.parquet"))


# ------------------------------------------------------------ curation split


def split_documents(
    seed: int, docs: pa.Table, base_share: float, per_day: int
) -> tuple[pa.Table, list[pa.Table]]:
    """Seeded split of ``docs`` into a base corpus of ``base_share`` of the
    rows and daily batches of ``per_day`` rows from the rest."""
    cols = docs.select(["doc_id", "lang", "n_chars", "text"])
    order = np.random.default_rng([seed, 3]).permutation(cols.num_rows)
    n_base = int(cols.num_rows * base_share)
    base = cols.take(np.sort(order[:n_base]))
    rest = order[n_base:]
    days = [
        cols.take(np.sort(rest[i : i + per_day]))
        for i in range(0, len(rest) - per_day + 1, per_day)
    ]
    return base, days
