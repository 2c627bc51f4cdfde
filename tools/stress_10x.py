"""10×-sf0.1 stress harness: measures headline queries two orders of
magnitude above the driver's correctness SF (SCALING.md's "100× spread"
section; VERDICT r4 #6 asked for the consolidated round-4 headliners).

Builds a 10×-replicated copy of the sf0.1 fixtures in /tmp (driver-side
pyarrow concat — no Spark job), then times the target queries at sf0.1 and
at 10×-sf0.1 with bench.py's methodology (noop sink, warmup, min-of-N
interleaved passes) and prints SCALING.md-ready table rows.

Replication semantics (chosen so each query's scaling shape is honest, not
fabricated):

- ``lineitem``/``orders``: plain 10× concat — group cardinality (brands,
  days, regions) unchanged, matching the round-2 stress method, so added
  input is pure map-side scan work.
- ``documents``: 10× with ``doc_id`` re-keyed per replica (offset by
  max+1) — preserves pack_bins' unique-order-key precondition and keeps
  split/sample hash work realistic — and with a per-replica tag token
  interleaved every 2 words. doc_shingles uses 3-gram shingles, so after
  interleaving EVERY shingle contains the replica tag: cross-replica
  Jaccard is exactly 0 (no fabricated quadratic pair stream), while exact
  within-replica duplicates keep Jaccard 1 (identical mutation). This is
  what makes near-dup/curation queries honestly measurable at 10×, which
  plain duplication cannot do (the round-2 stress excluded them for that
  reason). Token count inflates ~1.5× — stated with the numbers.
- ``events``: 10× with ``event_id``/``user_id`` re-keyed per replica —
  entity count scales 10×, so per-user session/window state stays bounded
  (the honest shape for sessionize/streaming; plain duplication would
  instead create 10 identical rows per timestamp per user).
- dims (region nation customer supplier part embeddings): copied as-is.

Usage: python tools/stress_10x.py [query ...]   (default: the round-4/5
consolidated headliners). Env: STRESS_DIR, SPARK_GRAFT_BENCH_PASSES.

``--incremental`` instead measures CORPUS-INDEPENDENCE of the daily batch
(VERDICT r5 #5): a FIXED new batch curated against a 1× vs a 10× retained
corpus, with the stored signature + key indexes prebuilt (index upkeep is
the amortized daily append, not part of the batch's critical path), next
to the recompute form as the contrast. The number that matters is the
indexed column's ratio: ~1× = daily cost independent of corpus size.
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SF_DIR = "/root/testdata/sf0.1"
STRESS_DIR = os.environ.get("STRESS_DIR", "/tmp/stress_10x_sf0.1")
REPLICAS = 10

DEFAULT_QUERIES = [
    "w2_w6_daily_movement",
    "text_doc_profile",
    "pack_training_sequences",
    "sessionize_batch",
    "ingest_kofic_roundtrip",
    "dash_movie_panel",
]

PLAIN_10X = ("lineitem", "orders")
REKEYED_10X = {"documents": ["doc_id"], "events": ["event_id", "user_id"]}
AS_IS = ("region", "nation", "customer", "supplier", "part", "embeddings")


def _tag_text(text: str, tag: str) -> str:
    w = text.split()
    out = []
    for i in range(0, len(w), 2):
        out.extend(w[i : i + 2])
        out.append(tag)
    return " ".join(out)


def _replicate(
    name: str,
    rekey: list[str] | None,
    out_dir: str = STRESS_DIR,
    replicas: int = REPLICAS,
) -> None:
    t = pq.read_table(f"{SF_DIR}/{name}.parquet")
    offsets = {c: pc.max(t[c]).as_py() + 1 for c in (rekey or [])}
    parts = []
    for r in range(replicas):
        part = t
        for c, off in offsets.items():
            idx = part.schema.get_field_index(c)
            part = part.set_column(
                idx, c, pc.add(part[c], pa.scalar(r * off, part[c].type))
            )
        if name == "documents":
            tag = f"xr{r}x"
            idx = part.schema.get_field_index("text")
            tagged = pa.array(
                [_tag_text(s, tag) for s in part["text"].to_pylist()]
            )
            part = part.set_column(idx, "text", tagged)
            if "n_chars" in part.schema.names:
                nci = part.schema.get_field_index("n_chars")
                lens = pc.utf8_length(tagged).cast(part["n_chars"].type)
                part = part.set_column(nci, "n_chars", lens)
        parts.append(part)
    pq.write_table(pa.concat_tables(parts), f"{out_dir}/{name}.parquet")


def build() -> None:
    if os.path.isdir(STRESS_DIR) and os.path.exists(
        f"{STRESS_DIR}/.complete"
    ):
        return
    os.makedirs(STRESS_DIR, exist_ok=True)
    for name in PLAIN_10X:
        _replicate(name, None)
    for name, keys in REKEYED_10X.items():
        _replicate(name, keys)
    for name in AS_IS:
        pq.write_table(
            pq.read_table(f"{SF_DIR}/{name}.parquet"),
            f"{STRESS_DIR}/{name}.parquet",
        )
    open(f"{STRESS_DIR}/.complete", "w").close()


STRESS_EMB_DIR = os.environ.get("STRESS_EMB_DIR", "/tmp/stress_10x_emb")


def build_10x_embeddings() -> None:
    """10×-replicated embeddings only, ``vec_id`` re-keyed per replica —
    the k-means stress input. Embeddings stay AS_IS in the main stress dir
    on purpose (they are the query/dim side of the knn_* and
    embedding_cosine_neardup stress shapes, and re-keying them there would
    silently misalign doc↔vec replicas); the clustering probe gets its own
    dir because it reads ONLY this table."""
    if os.path.exists(f"{STRESS_EMB_DIR}/.complete"):
        return
    os.makedirs(STRESS_EMB_DIR, exist_ok=True)
    _replicate("embeddings", ["vec_id"], STRESS_EMB_DIR)
    open(f"{STRESS_EMB_DIR}/.complete", "w").close()


EMB_QUERIES = [
    "embedding_kmeans",
    "semantic_dedup",
    "nearest_centroid_confusion",
]

STRESS_EMB_FRESH_DIR = os.environ.get(
    "STRESS_EMB_FRESH_DIR", "/tmp/stress_10x_emb_fresh"
)


def build_10x_embeddings_fresh() -> None:
    """10× embeddings where replicas 1-9 are NEW seeded unit vectors from
    the fixture's own regime (dim-64 standard normal, L2-normalized —
    the 'near-random' distribution COSINE_T=0.35 was calibrated against)
    instead of byte copies. Exact replication is the WRONG input for the
    derived-k claim: identical copies land in the same cell at ANY k, so
    every replica pair is a genuine τ-duplicate and the pair count truly
    grows ~replicas² — real work, not an algorithmic failure (measured:
    12.6× pairs/vector at 10× under derived k=80, r10). Growing the
    corpus with fresh points keeps duplicate DENSITY constant, which is
    the regime the k ∝ n posture actually promises constant
    pairs-per-vector in."""
    if os.path.exists(f"{STRESS_EMB_FRESH_DIR}/.complete"):
        return
    import numpy as np

    os.makedirs(STRESS_EMB_FRESH_DIR, exist_ok=True)
    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    n, dim = t.num_rows, len(t["embedding"][0])
    off = pc.max(t["vec_id"]).as_py() + 1
    labels = t["label"].to_pylist()
    parts = [t]
    for r in range(1, REPLICAS):
        rng = np.random.default_rng(1000 + r)
        v = rng.standard_normal((n, dim))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        part = pa.table(
            {
                "vec_id": pa.array(
                    [r * off + i for i in range(n)], pa.int64()
                ),
                "embedding": pa.array(
                    [row.astype(np.float32) for row in v],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(labels, pa.int32()),
            }
        )
        parts.append(part.cast(t.schema))
    pq.write_table(
        pa.concat_tables(parts), f"{STRESS_EMB_FRESH_DIR}/embeddings.parquet"
    )
    open(f"{STRESS_EMB_FRESH_DIR}/.complete", "w").close()


def _semantic_cell_pairs(
    spark, sf_dir: str, k: int | None = None
) -> tuple[int, int, int]:
    """(candidate cell-pair count, vector count, k used) for
    semantic_dedup's within-cell stage at this scale — the number behind
    the cell-blocking claim (pairs grow with within-cell density, never
    corpus²). Rebuilds the query's own intermediates; ``k=None`` uses
    the fixture constant, an explicit ``k`` exercises the production
    derived-k posture (plans/quality_family.py:semantic_k)."""
    from pyspark.sql import functions as F

    from data_pipeline_team5_spark.operators.dedup import (
        PRODUCTION_MAX_CELL,
        cosine_cell_pairs,
    )
    from data_pipeline_team5_spark.operators.similarity import kmeans_fit
    from data_pipeline_team5_spark.plans.dedup_family import COSINE_T
    from data_pipeline_team5_spark.plans.similarity_family import (
        KMEANS_ITERS,
        KMEANS_K,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    use_k = k if k is not None else KMEANS_K
    assigned, _ = kmeans_fit(emb, k=use_k, iters=KMEANS_ITERS, vec_col="v")
    cells = assigned.select(F.col("cluster").alias("cell"), "vec_id", "v")
    n_pairs = cosine_cell_pairs(
        cells, COSINE_T, max_cell=PRODUCTION_MAX_CELL
    ).count()
    return n_pairs, emb.count(), use_k


def main_semantic_derived() -> None:
    """semantic_dedup's PRODUCTION posture at 10× vectors (VERDICT r9
    #4): k derived from corpus size (plans/quality_family.py:semantic_k,
    the lsh_defaults/pq_shortlist discipline) instead of the fixture's
    fixed k=8, over a corpus grown with FRESH same-distribution points
    (see build_10x_embeddings_fresh — exact replication makes every
    replica pair a genuine τ-duplicate, so its pair growth is real work
    at any k). The claim under test: with k ∝ n and constant duplicate
    density, cell occupancy — and so the candidate pair count PER VECTOR
    — stays ~constant at 10×. Prints SCALING.md-ready rows."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from data_pipeline_team5_spark.plans.quality_family import (
        semantic_dedup_frame,
        semantic_k,
    )
    from data_pipeline_team5_spark.session import get_spark

    build_10x_embeddings_fresh()
    spark = get_spark(app_name="stress10x_semk")

    def run(d, k):
        semantic_dedup_frame(spark, d, k=k).write.format("noop").mode(
            "overwrite"
        ).save()

    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    rows = []
    for tag, d in (("sf0.1", SF_DIR), ("10x-fresh", STRESS_EMB_FRESH_DIR)):
        n = spark.read.parquet(f"{d}/embeddings.parquet").count()
        kd = semantic_k(n)
        run(d, kd)  # warmup at the same scale (codegen + k-dependent plan)
        wall = min(
            _timed(run, d, kd) for _ in range(passes)
        )
        pairs, n_vecs, _ = _semantic_cell_pairs(spark, d, k=kd)
        rows.append((tag, n_vecs, kd, pairs, pairs / n_vecs, wall))
    print("| scale | vectors | derived k | cell pairs | pairs/vector | wall (s) |")
    print("|---|---|---|---|---|---|")
    for tag, n_vecs, kd, pairs, ppv, wall in rows:
        print(
            f"| {tag} | {n_vecs} | {kd} | {pairs} | {ppv:.2f} | {wall:.2f} |"
        )
    base, ten = rows[0], rows[1]
    print(
        f"pairs/vector {base[4]:.2f} → {ten[4]:.2f} "
        f"({ten[4] / max(base[4], 1e-9):.2f}× at 10× vectors under "
        f"derived k; {ten[3] / max(base[3], 1):.1f}× total pairs this "
        f"run); wall {base[5]:.2f} → {ten[5]:.2f} s "
        f"({ten[5] / base[5]:.1f}×)"
    )


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def main_embeddings() -> None:
    """The embedding-side heavy entries at 1× vs 10× vectors (same
    distribution — replicas duplicate points, ids re-keyed so
    smallest-id init is unchanged): embedding_kmeans, semantic_dedup,
    nearest_centroid_confusion (VERDICT r7 #4). For semantic_dedup the
    candidate cell-pair count is reported alongside wall time — 10×
    copies of every point raise within-cell density ~10×, so the honest
    upper shape for the pair stage is ~100× pairs under the
    PRODUCTION_MAX_CELL cap, NOT corpus²; the published number shows
    where the cap actually lands."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from data_pipeline_team5_spark.plans.catalog import QUERIES
    from data_pipeline_team5_spark.session import get_spark

    build_10x_embeddings()
    spark = get_spark(app_name="stress10x_emb")
    names = sys.argv[2:] if len(sys.argv) > 2 else EMB_QUERIES

    def run(name, d):
        QUERIES[name].fn(spark, d).write.format("noop").mode(
            "overwrite"
        ).save()

    for n in names:  # warmup: prime JVM/codegen at tiny SF
        run(n, "/root/testdata/sf0.001")
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    raw: dict[tuple[str, str], list[float]] = {}
    for _ in range(passes):  # interleaved, same rationale as bench.py
        for n in names:
            for tag, d in (("sf0.1", SF_DIR), ("10x", STRESS_EMB_DIR)):
                t0 = time.perf_counter()
                run(n, d)
                raw.setdefault((n, tag), []).append(
                    time.perf_counter() - t0
                )
    print("| query | sf0.1 (s) | 10×-vectors (s) | ratio at 10× data |")
    print("|---|---|---|---|")
    for n in names:
        a = min(raw[(n, "sf0.1")])
        b = min(raw[(n, "10x")])
        print(f"| {n} | {a:.2f} | {b:.2f} | {b / a:.1f}× |")
    if "semantic_dedup" in names:
        p1, v1, _ = _semantic_cell_pairs(spark, SF_DIR)
        p10, v10, _ = _semantic_cell_pairs(spark, STRESS_EMB_DIR)
        print(
            f"semantic_dedup cell-pair stage: {p1} candidate pairs over "
            f"{v1} vectors at sf0.1 → {p10} over {v10} at 10× "
            f"({p10 / max(p1, 1):.1f}× pairs at 10× vectors; corpus² "
            f"would be {(v10 / v1) ** 2:.0f}×)"
        )


STRESS100_DIR = os.environ.get("STRESS100_DIR", "/tmp/stress_100x_docs")
REPLICAS_100X = 100


def build_100x_docs() -> None:
    """100×-replicated documents only (the corpus-independence probe needs
    no other table): same re-key + per-replica tag semantics as build()."""
    if os.path.exists(f"{STRESS100_DIR}/.complete"):
        return
    os.makedirs(STRESS100_DIR, exist_ok=True)
    _replicate("documents", ["doc_id"], STRESS100_DIR, REPLICAS_100X)
    open(f"{STRESS100_DIR}/.complete", "w").close()


def main_incremental() -> None:
    """Fixed daily batch vs growing corpus: the corpus-independence proof.

    Measures the INDEXED daily path at 1×/10×/100× retained corpus (the
    recompute contrast runs at 1×/10× only — it is corpus-linear by
    construction and 100× would just burn minutes proving it), and times
    the one-time index build per scale so the amortization claim has a
    number (VERDICT r6 #7)."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from pyspark.sql import functions as F

    from data_pipeline_team5_spark.pipeline import (
        build_exact_key_index,
        build_signature_index,
        curate_incremental_batch,
    )
    from data_pipeline_team5_spark.session import get_spark

    build()
    build_100x_docs()
    spark = get_spark(
        app_name="stress10x_inc",
        extra_conf={
            "spark.driver.memory": os.environ.get("STRESS_DRIVER_MEM", "48g")
        },
    )
    docs_1x = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs_10x = spark.read.parquet(f"{STRESS_DIR}/documents.parquet")
    docs_100x = spark.read.parquet(f"{STRESS100_DIR}/documents.parquet")
    # The batch is FIXED (the 1x fixture's doc_id % 3 == 0 third); corpora
    # use the complementary rule so batch ids never collide with corpus
    # ids at any scale (replica re-keying preserves id mod 3 ranges'
    # disjointness only through the shared % 3 filter, so apply it at all
    # scales — corpus_Nx is exactly Nx corpus_1x's row count in spirit).
    batch = docs_1x.filter(F.col("doc_id") % 3 == 0).localCheckpoint()
    corpora = {
        "1x": docs_1x.filter(F.col("doc_id") % 3 != 0).localCheckpoint(),
        "10x": docs_10x.filter(F.col("doc_id") % 3 != 0).localCheckpoint(),
        "100x": docs_100x.filter(F.col("doc_id") % 3 != 0).localCheckpoint(),
    }
    idx = {}
    build_secs: dict[str, float | None] = {}
    for tag, corpus in corpora.items():
        root = f"{STRESS_DIR}/inc_idx_{tag}"
        sig, key = f"{root}/sig", f"{root}/key"
        # reuse is keyed on a .complete sentinel, not the directory: a
        # crashed build leaves a partial index that a bare isdir check
        # would silently reuse, corrupting the published numbers
        # (ADVICE r6 #4)
        if os.path.exists(f"{root}/.complete"):
            build_secs[tag] = None  # cached — build cost not re-measured
        else:
            t0 = time.perf_counter()
            build_signature_index(corpus, sig)
            build_exact_key_index(corpus, key)
            build_secs[tag] = time.perf_counter() - t0
            open(f"{root}/.complete", "w").close()
        idx[tag] = (sig, key)

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    variants = {}
    for tag, corpus in corpora.items():
        sig, key = idx[tag]
        variants[("indexed", tag)] = lambda c=corpus, s=sig, k=key: run(
            curate_incremental_batch(batch, c, index_sig_path=s, key_index_path=k)
        )
        if tag != "100x":  # recompute contrast: corpus-linear, 1x/10x only
            variants[("recompute", tag)] = lambda c=corpus: run(
                curate_incremental_batch(batch, c)
            )
    for fn in variants.values():  # warmup/codegen
        fn()
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    raw: dict[tuple[str, str], list[float]] = {k: [] for k in variants}
    for _ in range(passes):
        for k, fn in variants.items():
            t0 = time.perf_counter()
            fn()
            raw[k].append(time.perf_counter() - t0)
    n_b = batch.count()
    sizes = {t: c.count() for t, c in corpora.items()}
    print(
        f"fixed batch = {n_b} docs; corpus sizes = "
        + ", ".join(f"{t}: {n}" for t, n in sizes.items())
    )
    bline = ", ".join(
        f"{t}: {s:.2f} s" if s is not None else f"{t}: cached"
        for t, s in build_secs.items()
    )
    print(f"one-time index build (sig + key) — {bline}")
    print("| form | " + " | ".join(f"{t} corpus (s)" for t in corpora)
          + " | ratio at 100x (indexed) / 10x (recompute) |")
    print("|---|" + "---|" * (len(corpora) + 1))
    for form in ("indexed", "recompute"):
        cells, last_ratio = [], None
        for tag in corpora:
            if (form, tag) not in raw:
                cells.append("—")
                continue
            v = min(raw[(form, tag)])
            cells.append(f"{v:.2f}")
            last_ratio = v / min(raw[(form, "1x")])
        print(f"| {form} | " + " | ".join(cells)
              + f" | {last_ratio:.1f}× |")


def _ensure_driver_heap() -> None:
    """local[NN] executors live in the driver JVM; a bare ``python``
    launch gets Spark's 1g default, which the 10× workloads (shingle
    self-joins; two overlapping select-k checkpoints during a forced
    re-exchange) can blow. ``spark.driver.memory`` via builder conf does
    NOT resize an in-process JVM — it must reach the launcher, so set
    PYSPARK_SUBMIT_ARGS before the first session is created (verified:
    Runtime.maxMemory reflects this, not the conf route)."""
    mem = os.environ.get("STRESS_DRIVER_MEM", "48g")
    existing = os.environ.get("PYSPARK_SUBMIT_ARGS")
    if existing is None:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {mem} pyspark-shell"
        )
    elif "--driver-memory" not in existing:
        # a pre-set PYSPARK_SUBMIT_ARGS (e.g. --packages) must not
        # silently drop the heap to Spark's 1g default — prepend ours
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {mem} {existing}"
        )
    # an existing --driver-memory is the user's explicit choice — keep it


def main_select_k() -> None:
    """--select-k (VERDICT r10 #1/#5): the exact-order-statistics
    operators at 1x and 10x data, reporting what the scale argument
    actually rests on — wall, derived partition width, realized max
    rows-per-partition (the n/P fetch-window bound), and the size of the
    per-partition counts collect (the only driver state). A second pass
    forces TARGET_ROWS_PER_PARTITION low enough (per op — the two input
    tables differ 100x in size) that the 10x frame exceeds the conf
    width, driving the derived re-exchange path at scale (the fixture
    sizes never trip it under the real 4M target)."""
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from pyspark.sql import functions as F

    from data_pipeline_team5_spark.operators import ranks
    from data_pipeline_team5_spark.plans.catalog import table
    from data_pipeline_team5_spark.plans.grouping_family import (
        QUANTILE_PCTS,
    )
    from data_pipeline_team5_spark.session import get_spark

    build()
    _ensure_driver_heap()
    spark = get_spark(app_name="stress_select_k")

    def run_global(sf_dir: str) -> dict:
        li = table(spark, sf_dir, "lineitem").select(
            F.col("l_extendedprice").alias("v"),
            "l_orderkey",
            "l_linenumber",
        )
        stats: dict = {}
        t0 = time.perf_counter()
        ranks.global_rank_select(
            li,
            ["v", "l_orderkey", "l_linenumber"],
            lambda m: [(m * p + 99) // 100 for p in QUANTILE_PCTS],
            stats=stats,
        )
        stats["wall"] = time.perf_counter() - t0
        return stats

    def run_grouped(sf_dir: str) -> dict:
        docs = table(spark, sf_dir, "documents").select(
            "lang", "n_chars", "doc_id"
        )
        stats: dict = {}
        t0 = time.perf_counter()
        ranks.grouped_rows_at_group_ranks(
            docs,
            ["lang"],
            ["n_chars", "doc_id"],
            lambda m: [(m * p + 99) // 100 for p in (50, 90, 99)],
            stats=stats,
        )
        stats["wall"] = time.perf_counter() - t0
        return stats

    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    # Per-op forced target, sized so the 10x frame ACTUALLY exceeds the
    # conf width and drives the re-exchange (one number can't serve both:
    # 10x lineitem is ~6M rows, 10x documents only ~50k — a 100k target
    # derives P=1 for the latter and the forced pass would measure
    # nothing).
    forced_targets = {
        "global": int(os.environ.get("STRESS_SELECT_K_TARGET", "100000")),
        "grouped": int(
            os.environ.get("STRESS_SELECT_K_TARGET_GROUPED", "1000")
        ),
    }
    print(
        "| op | data | target rows/part | wall (s) | P | max part rows "
        "| counts rows | re-exch |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for op, fn in (("global", run_global), ("grouped", run_grouped)):
        fn(SF_DIR)  # warmup
        for tag, d in (("sf0.1", SF_DIR), ("10x", STRESS_DIR)):
            for target in (
                ranks.TARGET_ROWS_PER_PARTITION,
                forced_targets[op],
            ):
                saved = ranks.TARGET_ROWS_PER_PARTITION
                ranks.TARGET_ROWS_PER_PARTITION = target
                try:
                    best = None
                    for _ in range(passes):
                        s = fn(d)
                        if best is None or s["wall"] < best["wall"]:
                            best = s
                finally:
                    ranks.TARGET_ROWS_PER_PARTITION = saved
                print(
                    f"| select-k {op} | {tag} | {target} "
                    f"| {best['wall']:.2f} | {best['num_partitions']} "
                    f"| {best['max_partition_rows']} "
                    f"| {best['counts_collected']} "
                    f"| {best['reexchanged']} |"
                )


def _exchange_metrics(df) -> list[dict]:
    """Per-ShuffleExchange {bytes, records, dataSize} of ``df``'s LAST
    executed plan — call AFTER an action on the SAME Dataset (collect;
    a .write spawns its own QueryExecution whose metrics this handle
    never sees — verified). Walks through AQE wrappers (AdaptiveSparkPlan
    → final plan, QueryStage → materialized plan, ReusedExchange →
    child)."""

    def walk(node):
        cls = node.getClass().getSimpleName()
        yield node, cls
        if "AdaptiveSparkPlan" in cls:
            yield from walk(node.executedPlan())
            return
        if "QueryStage" in cls:
            yield from walk(node.plan())
            return
        if "ReusedExchange" in cls:
            yield from walk(node.child())
            return
        ch = node.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    out = []
    seen = set()
    for node, cls in walk(df._jdf.queryExecution().executedPlan()):
        if "ShuffleExchange" in cls and node.id() not in seen:
            seen.add(node.id())
            it = node.metrics().iterator()
            vals = {}
            while it.hasNext():
                kv = it.next()
                vals[kv._1()] = kv._2().value()
            out.append(
                {
                    "bytes": vals.get("shuffleBytesWritten", 0),
                    "records": vals.get("shuffleRecordsWritten", 0),
                    "dataSize": vals.get("dataSize", 0),
                }
            )
    return out


def main_bloom() -> None:
    """--bloom (VERDICT r12 #1/#5): the Bloom prefilter's target regime,
    measured instead of computed. Two claims get numbers at sf0.1 and
    10x docs:

    1. APPLY strategies — the literal plan-embedded word array vs the
       past-the-cap broadcast-variable + Arrow-batch path
       (operators/bloom.py:bloom_prefilter with MAX_LITERAL_WORDS forced
       to 0 so the broadcast path runs on the REAL filter), wall time
       and surviving-row parity.
    2. VERIFY exchange — in the too-big-to-broadcast regime the exact
       verify is a SHUFFLE join; the prefilter's point is that the
       corpus side of that exchange carries only the sliver (true
       overlaps + ~fpp). Shuffle bytes/records are read from the
       executed plan's SQLMetrics (broadcast join disabled for BOTH
       variants so the exchange exists to measure), unprefiltered vs
       prefiltered — the '~100x exchange reduction' claim as measured
       bytes, not a sliver-fraction computation (SCALING.md r11 gap).
    """
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from pyspark.sql import functions as F

    from data_pipeline_team5_spark.operators import bloom
    from data_pipeline_team5_spark.operators.dedup import doc_shingles
    from data_pipeline_team5_spark.plans.text_family import (
        DECON_BENCH_MOD,
        DECON_N,
        _bloom_reference_grams,
    )
    from data_pipeline_team5_spark.session import get_spark

    build()
    _ensure_driver_heap()
    spark = get_spark(app_name="stress_bloom")
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    apply_rows = []
    verify_rows = []
    for tag, d in (("sf0.1", SF_DIR), ("10x", STRESS_DIR)):
        docs = spark.read.parquet(f"{d}/documents.parquet")
        sh = doc_shingles(docs, "doc_id", "text", n=DECON_N)
        is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
        grams = _bloom_reference_grams(spark, d).localCheckpoint()
        n_keys = grams.count()
        m_bits, k = bloom.bloom_parameters(n_keys, fpp=0.01)
        words = bloom.build_bloom_words(grams, "s", m_bits, k)
        train = sh.filter(~is_bench)

        def prefiltered(cap: int, mmap_min: int | None = None):
            saved = bloom.MAX_LITERAL_WORDS
            saved_mm = bloom.MMAP_MIN_WORDS
            bloom.MAX_LITERAL_WORDS = cap
            if mmap_min is not None:
                bloom.MMAP_MIN_WORDS = mmap_min
            try:
                return bloom.bloom_prefilter(train, "s", words, m_bits, k)
            finally:
                bloom.MAX_LITERAL_WORDS = saved
                bloom.MMAP_MIN_WORDS = saved_mm

        # 1. apply strategy walls (count() forces the full filter pass);
        # 'broadcast' = broadcast-variable transport, 'mmap' = the
        # addFile + page-cache transport forced onto the same filter
        strat = {
            "literal": lambda: prefiltered(len(words)).count(),
            "broadcast": lambda: prefiltered(0).count(),
            "mmap": lambda: prefiltered(0, mmap_min=0).count(),
        }
        survivors = {s: fn() for s, fn in strat.items()}  # warm + parity
        assert len(set(survivors.values())) == 1, survivors
        for s, fn in strat.items():
            wall = min(_timed(fn) for _ in range(passes))
            apply_rows.append(
                (tag, s, len(words), k, survivors[s], wall)
            )

        # 2. verify-exchange bytes, shuffle join forced on both variants.
        # The corpus-side exchange is identified by its RECORD count
        # (train rows / surviving rows) — max-by-records mislabels the
        # prefiltered variant, whose sliver is smaller than the
        # reference-side gram exchange.
        train_rows = train.count()
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            for form, corpus_side, expected in (
                ("unprefiltered", train, train_rows),
                ("bloom-prefiltered", prefiltered(0), survivors["literal"]),
            ):
                joined = (
                    corpus_side.join(grams, "s")
                    .groupBy()
                    .agg(F.count(F.lit(1)).alias("n_hits"))
                )
                hits = joined.collect()[0]["n_hits"]
                ex = _exchange_metrics(joined)
                matching = [e for e in ex if e["records"] == expected]
                corpus_ex = (
                    matching[0]
                    if matching
                    else max(ex, key=lambda e: e["records"])
                )
                verify_rows.append(
                    (
                        tag,
                        form,
                        hits,
                        corpus_ex["records"],
                        corpus_ex["bytes"],
                        sum(e["bytes"] for e in ex),
                    )
                )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    print(
        "| scale | apply strategy | filter words | k | survivors "
        "| wall (s) |"
    )
    print("|---|---|---|---|---|---|")
    for tag, s, w, k, n, wall in apply_rows:
        print(f"| {tag} | {s} | {w} | {k} | {n} | {wall:.2f} |")
    print()
    print(
        "| scale | verify form | exact hits | corpus-side exchange "
        "records | corpus-side exchange bytes | total shuffle bytes |"
    )
    print("|---|---|---|---|---|---|")
    for tag, form, hits, rec, byt, tot in verify_rows:
        print(f"| {tag} | {form} | {hits} | {rec} | {byt} | {tot} |")
    for tag in ("sf0.1", "10x"):
        pair = [r for r in verify_rows if r[0] == tag]
        if len(pair) == 2:
            un, pre = pair[0], pair[1]
            print(
                f"{tag}: corpus-side exchange {un[4]} → {pre[4]} bytes "
                f"({un[4] / max(pre[4], 1):.0f}× reduction measured; "
                f"records {un[3]} → {pre[3]})"
            )


def main_perceptual() -> None:
    """Round 15 (VERDICT r14 #1/#7): image dedup end-to-end and the
    incremental perceptual index, at sf0.1 and 10×.

    - `dedup (capped)`: the production form — perceptual_dedup with
      the default max_bucket cap (pairs → star components → survivors),
      the cluster-membership consumable the round-14 measurement said
      the pair list is not.
    - `probe (indexed)` vs `probe (recompute)`: the daily shape — 1/10
      of the docs as the new batch; indexed hashes only the batch and
      probes the stored 2-longs/doc table, recompute re-decodes and
      re-hashes the whole corpus then self-joins and filters to pairs
      touching the batch.
    """
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import tempfile

    from pyspark.sql import functions as F

    from data_pipeline_team5_spark.operators.multimodal import (
        attach_bmp_blob,
        perceptual_dedup,
        perceptual_hashes,
        perceptual_pairs,
        perceptual_pairs_against_index,
    )
    from data_pipeline_team5_spark.pipeline import build_hash_index
    from data_pipeline_team5_spark.session import get_spark

    build()
    _ensure_driver_heap()
    spark = get_spark(app_name="stress10x_perceptual")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    print("| path | sf0.1 (s) | 10×-sf0.1 (s) |")
    print("|---|---|---|")
    results = {}
    for tag, d in (("sf0.1", SF_DIR), ("10x", STRESS_DIR)):
        docs = spark.read.parquet(f"{d}/documents.parquet").select(
            "doc_id", "text"
        )
        blobs = attach_bmp_blob(docs)

        def full_dedup():
            h = perceptual_hashes(blobs, backend="bmp").localCheckpoint()
            noop(perceptual_dedup(h))

        t_dedup = min(_timed(full_dedup) for _ in range(2))

        new_blobs = attach_bmp_blob(
            docs.filter(F.col("doc_id") % 10 == 0)
        )
        corpus_blobs = attach_bmp_blob(
            docs.filter(F.col("doc_id") % 10 != 0)
        )
        with tempfile.TemporaryDirectory() as tmp:
            idx_path = f"{tmp}/phash"
            t_index_build = _timed(
                build_hash_index, corpus_blobs, idx_path, "image"
            )
            idx = spark.read.parquet(idx_path)

            def probe_indexed():
                nh = perceptual_hashes(
                    new_blobs, backend="bmp"
                ).localCheckpoint()
                noop(perceptual_pairs_against_index(nh, idx))

            def probe_recompute():
                h = perceptual_hashes(
                    new_blobs.unionByName(corpus_blobs), backend="bmp"
                ).localCheckpoint()
                new_ids = docs.filter(
                    F.col("doc_id") % 10 == 0
                ).select(F.col("doc_id").alias("_n"))
                p = perceptual_pairs(h, max_bucket=50)
                touching = p.join(
                    new_ids,
                    (p.doc_a == F.col("_n")) | (p.doc_b == F.col("_n")),
                    "left_semi",
                )
                noop(touching)

            t_probe = min(_timed(probe_indexed) for _ in range(2))
            t_reco = min(_timed(probe_recompute) for _ in range(2))
        results[tag] = (t_dedup, t_index_build, t_probe, t_reco)
    for label, i in (
        ("dedup end-to-end (capped)", 0),
        ("index build (one decode pass)", 1),
        ("daily probe (indexed)", 2),
        ("daily probe (recompute corpus)", 3),
    ):
        a, b = results["sf0.1"][i], results["10x"][i]
        print(f"| {label} | {a:.2f} | {b:.2f} |")


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import EXTRAS
    from data_pipeline_team5_spark.plans.catalog import QUERIES
    from data_pipeline_team5_spark.session import get_spark

    names = sys.argv[1:] or DEFAULT_QUERIES
    fns = {n: q.fn for n, q in QUERIES.items()}
    fns.update(EXTRAS)
    build()
    _ensure_driver_heap()
    spark = get_spark(app_name="stress10x")

    def run(fn, sf_dir):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    for n in names:  # warmup: prime JVM/codegen at tiny SF
        run(fns[n], "/root/testdata/sf0.001")

    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    raw: dict[tuple[str, str], list[float]] = {}
    for _ in range(passes):  # interleaved, same rationale as bench.py
        for n in names:
            for tag, d in (("sf0.1", SF_DIR), ("10x", STRESS_DIR)):
                t0 = time.perf_counter()
                run(fns[n], d)
                raw.setdefault((n, tag), []).append(
                    time.perf_counter() - t0
                )

    print("| query | sf0.1 (s) | 10×-sf0.1 (s) | ratio at 10× data |")
    print("|---|---|---|---|")
    for n in names:
        a = min(raw[(n, "sf0.1")])
        b = min(raw[(n, "10x")])
        print(f"| {n} | {a:.2f} | {b:.2f} | {b / a:.1f}× |")


if __name__ == "__main__":
    if "--bloom" in sys.argv:
        main_bloom()
    elif "--select-k" in sys.argv:
        main_select_k()
    elif "--incremental" in sys.argv:
        main_incremental()
    elif "--embeddings" in sys.argv:
        main_embeddings()
    elif "--semantic-derived" in sys.argv:
        main_semantic_derived()
    elif "--perceptual" in sys.argv:
        main_perceptual()
    else:
        main()
