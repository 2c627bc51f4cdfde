#!/usr/bin/env python3
"""Make ``perfbench/data/`` from the engine's sf0.1 fixture tables.

    python3 perfbench/sample_data.py <sf0.1 fixture dir>

The benchmark reads only its own checkout, so it carries a fixed copy of
the rows the ``catalog_read`` and ``curation_daily`` workloads read:

- ``documents``, ``embeddings`` and ``part``: a fixed 0.3 row sample;
- ``lineitem``: the rows whose ``l_partkey`` is in that part sample (about
  0.3 of them), so every line item still joins its part.

The sample is fixed (seed 0); a run's ``--seed`` only shuffles the row
order of these files (``gen.shuffled_tables``).
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "data")
SHARE = 0.3


def main(src: str) -> None:
    rng = np.random.default_rng(0)

    def sample(t):
        keep = rng.choice(t.num_rows, int(t.num_rows * SHARE), replace=False)
        return t.take(np.sort(keep))

    os.makedirs(OUT, exist_ok=True)
    docs = sample(pq.read_table(os.path.join(src, "documents.parquet")))
    emb = sample(pq.read_table(os.path.join(src, "embeddings.parquet")))
    part = sample(pq.read_table(os.path.join(src, "part.parquet")))
    line = pq.read_table(os.path.join(src, "lineitem.parquet"))
    line = line.filter(pc.is_in(line["l_partkey"], part["p_partkey"]))
    for name, t in (("documents", docs), ("embeddings", emb),
                    ("part", part), ("lineitem", line)):
        pq.write_table(t.replace_schema_metadata(None),
                       os.path.join(OUT, f"{name}.parquet"))
        print(name, t.num_rows)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    main(sys.argv[1])
