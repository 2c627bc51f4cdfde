"""Determinism of the benchmark's input generators: the same seed gives
identical input bytes, different seeds give different inputs, and the
KOFIC days keep their invariants.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _table_bytes(t: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return sink.getvalue().to_pybytes()


def test_kofic_days_deterministic():
    assert gen.kofic_days(7, 30) == gen.kofic_days(7, 30)
    assert gen.kofic_days(7, 30) != gen.kofic_days(8, 30)


def test_kofic_days_invariants():
    acc: dict[str, tuple[int, int]] = {}
    for _, doc in gen.kofic_days(3, 40):
        rows = json.loads(doc)["boxOfficeResult"]["dailyBoxOfficeList"]
        assert [int(r["rank"]) for r in rows] == list(range(1, 11))
        assert len({r["movieCd"] for r in rows}) == 10
        for r in rows:
            s, a = acc.get(r["movieCd"], (0, 0))
            s, a = s + int(r["salesAmt"]), a + int(r["audiCnt"])
            assert (int(r["salesAcc"]), int(r["audiAcc"])) == (s, a)
            assert r["rankOldAndNew"] == ("OLD" if r["movieCd"] in acc else "NEW")
            acc[r["movieCd"]] = (s, a)
    # films enter and leave the chart
    assert len(acc) > 20


def test_shuffled_tables_deterministic(tmp_path):
    paths = {}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        d = tmp_path / name
        d.mkdir()
        paths[name] = gen.shuffled_tables(seed, str(d))
    digest = {k: _digest(v.values()) for k, v in paths.items()}
    assert digest["a"] == digest["b"]
    assert digest["a"] != digest["c"]
    # another seed reorders the same rows
    for t in ("documents", "part"):
        rows = [
            sorted(pq.read_table(paths[k][t]).to_pylist(), key=repr)
            for k in ("a", "c")
        ]
        assert rows[0] == rows[1]


def test_documents_split_deterministic():
    docs = gen.read_table("documents")
    base, days = gen.split_documents(4, docs, 2 / 3, 40)
    again_base, again_days = gen.split_documents(
        4, gen.read_table("documents"), 2 / 3, 40
    )
    assert _table_bytes(base) == _table_bytes(again_base)
    assert [_table_bytes(t) for t in days] == [_table_bytes(t) for t in again_days]
    other, _ = gen.split_documents(9, docs, 2 / 3, 40)
    assert _table_bytes(other) != _table_bytes(base)
    ids = base.column("doc_id").to_pylist() + [
        i for t in days for i in t.column("doc_id").to_pylist()
    ]
    assert len(ids) == len(set(ids))
    assert base.num_rows == 1000 and all(t.num_rows == 40 for t in days)
