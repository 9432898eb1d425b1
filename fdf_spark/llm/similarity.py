"""Similarity search over embedding columns (N3).

- **cosine_topk** — exact brute force: broadcast the (small) query
  set against the corpus, JVM-side fold for the dot product, rank
  window per query. The oracle-checkable baseline; at 100 TB it is
  one corpus scan per query batch — viable for offline joins, and the
  reference point every ANN variant is measured against.
- **lsh_ann_topk** — random-hyperplane LSH: signature per vector
  (sign of dot with R random planes), candidates = same bucket (or
  Hamming-adjacent probes), exact re-rank inside buckets. Corpus scan
  → bucketed join; never all-pairs. Recall is tested against the
  brute-force baseline in pytest (approximate ⇒ no driver oracle).
- **knn_predict** — majority label of the top-k (deterministic
  tie-break: higher count, then smaller label).

All float math: cast elements to double BEFORE multiplying, fold
sequentially — matches DuckDB's list arithmetic so cosines agree to
the last ulp (then rounded to 6 dp for rank stability).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fdf_spark.functions.kernels import arrow_kernel, vectors
from fdf_spark.functions.scalar import _round6_np, dsum_means, dsum_partials


def _lit_vec(xs) -> Column:
    """Literal double-array column in ONE py4j/parser round trip.

    ``F.array(*[F.lit(float(x)) for x in xs])`` costs one py4j call per
    element (~0.7 ms each on this stack) — a cells×dim centroid tree
    spends seconds of DRIVER time just constructing Column objects
    before Catalyst ever sees them (measured: 128 64-wide literal
    arrays = 5.9 s as per-element lits vs 0.4 s via one parsed
    ``array(…)`` expression). Values are bit-identical: ``repr`` of a
    Python float is the shortest decimal that round-trips, and Spark's
    ``1.5D`` double literal parses with ``Double.parseDouble`` —
    bitwise equality is asserted in test_llm.  Non-finite elements
    (``repr`` gives ``nan``/``inf``, which the SQL parser rejects as
    ``nanD``) fall back to the per-element ``F.lit`` path, which
    builds valid NaN/Infinity literals (ADVICE r14)."""
    vals = [float(x) for x in xs]
    if not all(math.isfinite(v) for v in vals):
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ",".join(repr(v) + "D" for v in vals) + ")")


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def _topk(cand: DataFrame, k: int) -> DataFrame:
    """Score ``(query_id, query_vec, vec_id, embedding)`` candidates by
    :func:`cosine`, a query never matching its own id, and keep each
    query's ``k`` best → (query_id, vec_id, cos_sim, rank)."""
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        cand.filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("cos_sim", cosine(F.col("query_vec"), F.col("embedding")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors of each ``(query_id, query_vec)``
    among the ``(vec_id, embedding)`` corpus → (query_id, vec_id,
    cos_sim, rank)."""
    return _topk(corpus.join(F.broadcast(queries)), k)


def knn_predict(topk: DataFrame, labels: DataFrame) -> DataFrame:
    """Majority ``label`` among each query's neighbors → (query_id, pred_label)."""
    counts = (
        topk.join(labels.select("vec_id", "label"), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )


def _centroids(cents, name: str):
    """``(ids, C, cn)`` of ``(id, vector)`` pairs in ascending-id order:
    the (k, d) float64 matrix ``C`` (:func:`vectors`, whose errors name
    the vectors ``name``) and its norms, the right-hand side of
    :func:`_cosines`."""
    import numpy as np
    import pyarrow as pa

    cents = sorted(cents, key=lambda c: c[0])
    ids = np.array([c[0] for c in cents], dtype=np.int64)
    C = vectors(pa.array([c[1] for c in cents], pa.list_(pa.float64())), name)
    return ids, C, _norms(C)


def _norms(x):
    """Row norms of a float64 matrix, accumulated SEQUENTIALLY over
    dimensions (== :func:`_norm`)."""
    import numpy as np

    xn = np.zeros(len(x))
    for i in range(x.shape[1]):
        xn += x[:, i] * x[:, i]
    return np.sqrt(xn)


def _cosines(x, C, cn):
    """(rows, k) cosines of the float64 rows ``x`` against ``C`` (norms
    ``cn``, :func:`_centroids`) under the :func:`cosine` contract: dot
    and norms accumulate SEQUENTIALLY over dimensions (one fused
    multiply-add per dim — IEEE-identical to the zip_with/aggregate
    left fold), the division is ``dot / (norm(x) * norm(c))``, and the
    result rounds 6 dp exactly like ``F.round`` (:func:`_round6_np`).
    Rows of another length than ``C``'s raise ``ValueError``."""
    import numpy as np

    if x.shape[1] != C.shape[1]:
        raise ValueError(f"vectors have {x.shape[1]} values; the centroids have {C.shape[1]}")
    dot = np.zeros((len(x), len(C)))
    for i in range(C.shape[1]):  # sequential fold == _dot
        dot += x[:, i : i + 1] * C[None, :, i]
    return _round6_np(dot / (_norms(x)[:, None] * cn[None, :]))


def _assign(corpus: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Arrow-batched nearest-centroid assignment → (vec_id, embedding, cell).

    Numeric contract (the one the SQL oracles replay): :func:`_cosines`,
    and argmax-first-occurrence over ascending-id centroids gives ties
    to the smaller centroid id."""
    import numpy as np

    ids, C, cn = _centroids(cents, "embedding")

    def assign(batch):
        cos = _cosines(vectors(batch["embedding"], "embedding"), C, cn)
        return {"cell": ids[np.argmax(cos, axis=1)]}

    return arrow_kernel(
        corpus.select("vec_id", "embedding"), assign, "vec_id, embedding, cell long"
    )


def all_pairs_cosine(
    corpus: DataFrame, threshold: float, max_rows: int = 1_000_000
) -> DataFrame:
    """Exact all-pairs cosine ≥ ``threshold`` over ``(vec_id,
    embedding)`` → (id_a, id_b, cos_sim), id_a < id_b — the
    oracle-checkable twin of the LSH/IVF candidate tiers.  It replaces
    a BroadcastNestedLoopJoin + per-pair HOF fold that evaluated three
    interpreted 64-element array passes per pair, cosine re-running in
    both the join condition and the projection: measured 187 s → 1.0 s
    at 2 k vectors / sf0.1 with bit-identical output.

    Numeric contract (the same one :func:`_assign` pins): elements
    widen to float64 exactly like the fold's per-element
    ``cast("double")``, then :func:`_cosines`.  Equality with the
    :func:`cosine` expression is pytest-pinned (test_llm).

    Scale shape: all-pairs is the EXACT tier — quadratic because the
    answer is (every qualifying pair must be scored); at 100 TB the
    pair stage is LSH (q75) / IVF (q73) / SemDeDup cells
    (:func:`semantic_dedup`) with this operator's survivor semantics.
    The corpus broadcast here is the same relation Spark's BNLJ
    broadcast built; each task scores its row block against it with
    one vectorized pass per dimension, blocked to bound the score
    matrix, and ships only qualifying pairs back.  Because the
    relation is COLLECTED to the driver before broadcasting,
    ``max_rows`` fails fast (one cheap count, before any vector bytes
    move) when the corpus outgrows the exact tier — rather than
    silently OOMing the driver on an input the LSH/IVF tiers should
    own.  Rounding caveat: the numpy half-away emulation
    (``floor(|x|·1e6+0.5)``) matches ``F.round``'s
    BigDecimal-on-shortest-repr semantics on every fixture and is
    pytest-pinned, but a value whose shortest decimal repr terminates
    exactly at a 7th-digit 5 could in principle round differently —
    see ``test_round6_half_boundary_parity``.
    """
    import numpy as np

    from fdf_spark.sources.tables import spread

    n = corpus.count()
    if n > max_rows:
        raise ValueError(
            f"all_pairs_cosine is the exact (quadratic, driver-collected) "
            f"tier: corpus has {n} rows > max_rows={max_rows}. Use the "
            f"LSH (lsh_ann_topk), IVF (ivf_ann_topk/ivf_pq_ann_topk) or "
            f"SemDeDup (semantic_dedup) candidate tiers at this scale, "
            f"or raise max_rows explicitly if the driver truly has the "
            f"memory."
        )
    rows = corpus.select("vec_id", "embedding").collect()
    bc = corpus.sparkSession.sparkContext.broadcast(_centroids(rows, "embedding"))
    # rows per score-matrix block: ~32 MB of float64 against the corpus
    blk = max(1, (4 << 20) // max(1, len(rows)))

    def gen(batch):
        ids_b, B, bn = bc.value
        X = vectors(batch["embedding"], "embedding")
        ida = batch["vec_id"].to_numpy(zero_copy_only=False).astype(np.int64)
        pairs = []
        for lo in range(0, len(X), blk):
            cos = _cosines(X[lo : lo + blk], B, bn)
            mask = (ida[lo : lo + blk, None] < ids_b[None, :]) & (cos >= threshold)
            ai, bi = np.nonzero(mask)
            pairs.append((ida[lo + ai], ids_b[bi], cos[ai, bi]))
        a, b, c = (np.concatenate(p) for p in zip(*pairs))
        return {"id_a": a, "id_b": b, "cos_sim": c}

    return arrow_kernel(
        spread(corpus.select("vec_id", "embedding")), gen, "id_a long, id_b long, cos_sim double"
    )


def ivf_assign(
    corpus: DataFrame, num_cells: int = 16
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """IVF index build over ``(vec_id, embedding)``: (centroids,
    corpus-with-cell).

    Centroids are the ``num_cells`` smallest-id corpus vectors —
    deterministic, so the whole index replays in a SQL oracle (a
    k-means refinement would drop in here at scale without changing
    the query shape). They are collected to the driver (tiny: cells ×
    dim floats) and shipped to the per-batch numpy argmin
    (:func:`_assign`) — the corpus is scanned once and NEVER shuffled
    (the join+window formulation would hash-exchange the whole corpus
    on row id just to run a per-row argmin).
    """
    cents = [
        (r[0], r[1])
        for r in corpus.orderBy("vec_id").limit(num_cells).select("vec_id", "embedding").collect()
    ]
    return cents, _assign(corpus, cents)


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k via an inverted-file (IVF) coarse quantizer.

    Each query probes its ``nprobe`` nearest cells and re-ranks
    exactly inside them, touching ~``nprobe/num_cells`` of the corpus
    instead of all of it. At 100 TB the assigned corpus is written
    partitioned by ``cell`` so a probe is a partition-pruned scan; in
    one plan (here) the probe set broadcasts onto an unshuffled corpus
    scan. Deterministic centroids ⇒ unlike LSH, this variant has a
    full DuckDB oracle (q73).
    """
    cents, assigned = ivf_assign(corpus, num_cells)
    probes = _probe_cells(queries, cents, nprobe, "query_id", "query_vec")
    return _topk(assigned.join(F.broadcast(probes), "cell"), k)


def semantic_dedup(
    corpus: DataFrame, num_cells: int = 16, threshold: float = 0.3
) -> DataFrame:
    """Embedding-level near-duplicate removal (N14) — SemDeDup,
    Abbas et al. 2023 (arXiv:2303.09540): cluster the corpus coarsely,
    call two documents semantic duplicates when their embeddings'
    cosine within a cluster reaches ``threshold``, keep one per
    duplicate group (smallest id — the same survivor rule as the
    text-level ``near_dedup``). Returns surviving (vec_id, cell).

    Scale shape: cell assignment reuses :func:`ivf_assign` (centroids
    on the driver, corpus scanned once, NO shuffle); the pairwise stage
    is an equi-join on ``cell`` — cluster-bounded Σ|cell|² work, never an
    all-pairs corpus join, exactly the trick that makes SemDeDup
    tractable where a global pairwise pass is not. At 100 TB,
    ``num_cells`` scales with the corpus so a cell stays ~constant
    (the paper uses k ≈ √N clusters); a skewed giant cell is split by
    recursing the same operator over that cell.
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    _, assigned = ivf_assign(corpus, num_cells)

    # Within-cell pairwise stage, vectorized: the old cell-keyed
    # self-join scored every within-cell pair with the interpreted HOF
    # cosine fold (3 × dim lambda passes per pair — measured 6.3 s of
    # the query's 6.6 s at sf0.1; 0.4 s vectorized, identical removed
    # set). Each cell's rows land in one pandas group and
    # :func:`_cosines` scores the pairwise matrix (the
    # :func:`all_pairs_cosine` contract) — equivalence to the join+fold
    # path is pytest-pinned. Same scale shape as before: work is
    # cluster-bounded Σ|cell|² either way, and the A-side is blocked so
    # a skewed giant cell bounds its score matrix instead of
    # materializing |cell|² at once.
    def cell_removed(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        X = vectors(pa.array(pdf["embedding"]), "embedding")
        n = _norms(X)
        blk = max(1, (4 << 20) // max(1, len(ids)))
        hit = np.zeros(len(ids), dtype=bool)
        for lo in range(0, len(ids), blk):
            cos = _cosines(X[lo : lo + blk], X, n)
            mask = (ids[lo : lo + blk, None] < ids[None, :]) & (cos >= threshold)
            hit |= mask.any(axis=0)
        return pd.DataFrame({"vec_id": ids[hit]})

    removed = (
        assigned.select("cell", "vec_id", "embedding")
        .groupBy("cell")
        .applyInPandas(cell_removed, schema="vec_id long")
    )  # ids are unique per cell and cells partition the corpus — no distinct needed
    return assigned.join(removed, "vec_id", "left_anti").select("vec_id", "cell")


def write_ivf_index(corpus: DataFrame, path: str, num_cells: int = 16) -> None:
    """Materialize the IVF index as a **cell-partitioned** parquet layout.

    ``<path>/corpus/cell=N/`` holds each inverted list as its own
    hive partition; ``<path>/centroids/`` is the tiny (cells × dim)
    sidecar the prober needs to route queries. This is the 100 TB
    layout SCALE.md describes: an ``nprobe`` query touches only the
    probed cells' files — a partition-pruned scan, not a corpus scan.
    """
    from fdf_spark.sources.tables import local_df

    cents, assigned = ivf_assign(corpus, num_cells)
    assigned.write.partitionBy("cell").mode("overwrite").parquet(f"{path}/corpus")
    spark = corpus.sparkSession
    # Arrow-backed local frame — coalesce(1) over the pickle-RDD
    # form computed its 32 parent partitions sequentially through
    # Python workers (~5 s for 16 rows, every build)
    local_df(
        spark,
        [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
        "cent_id long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_probe_pruned(
    spark, index_path: str, queries: DataFrame, k: int = 5, nprobe: int = 2
) -> DataFrame:
    """Probe a :func:`write_ivf_index` layout with static partition pruning.

    The probe-cell set is computed driver-side (tiny: ≤ |queries| ×
    ``nprobe`` ints — the one collect that converts the probe into a
    compile-time ``cell IN (...)`` predicate) and pushed into the scan
    as a partition filter, so Spark lists and reads ONLY the probed
    ``cell=N`` directories. Same result as :func:`ivf_ann_topk`;
    different physical shape — this is the scale path, and
    ``tests/test_sinks.py::test_ivf_index_partition_pruned_probe``
    pins both the equivalence and the pruned plan.
    """
    probes, cells = _ivf_index_probes(spark, index_path, queries, "query_id", "query_vec", nprobe)
    corpus = spark.read.parquet(f"{index_path}/corpus").filter(F.col("cell").isin(cells))
    return _topk(corpus.join(F.broadcast(probes), "cell"), k)


def _ivf_index_probes(
    spark, index_path: str, df: DataFrame, id_col: str, vec_col: str, nprobe: int
) -> tuple[DataFrame, list[int]]:
    """Shared probe construction over a :func:`write_ivf_index` layout:
    load the centroid sidecar, build the per-row (id, vec, cell) probe
    relation, and return it with the distinct probed-cell list.  The
    probe relation is materialized ONCE (localCheckpoint — tiny:
    |rows| × nprobe) so the collected cell set and any downstream join
    read the same evaluation, and the query pipeline never runs twice.
    Used by :func:`ivf_probe_pruned` and
    ``llm/decontam.semantic_decontaminate_indexed``."""
    cents = [
        (int(r["cent_id"]), list(r["centroid"]))
        for r in sorted(
            spark.read.parquet(f"{index_path}/centroids").collect(),
            key=lambda r: r["cent_id"],
        )
    ]
    probes = _probe_cells(df, cents, nprobe, id_col, vec_col).localCheckpoint()
    cells = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    return probes, cells


def embedding_quantize(corpus: DataFrame) -> DataFrame:
    """Per-dimension linear int8 quantization of the ``embedding``
    column → (vec_id, codes array<int>, mse double rounded to 10 dp).

    The standard storage/IO reduction for vector corpora (4 bytes →
    1 byte per dim): per-dim [min, max] over the corpus defines the
    scale, ``code = round((x − min)/(max − min)·255) − 128``, and the
    reconstruction MSE quantifies the loss.

    Scale shape: dims explode to (pos, x) and reduce to a 64-row
    min/max relation (map-side combine) that broadcast-joins back —
    the corpus shuffles only by (id) for the final re-pack; at 100 TB
    the stats pass is a cheap extra scan and the pack is map-local.
    """
    pos = corpus.select(
        F.col("vec_id"), F.posexplode(F.col("embedding")).alias("pos", "x")
    ).withColumn("x", F.col("x").cast("double"))
    stats = pos.groupBy("pos").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    q = pos.join(F.broadcast(stats), "pos").select(
        "vec_id",
        "pos",
        "x",
        (F.round((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255) - 128)
        .cast("int")
        .alias("code"),
        F.col("mn"),
        F.col("mx"),
    )
    deq = (F.col("code") + 128) / 255.0 * (F.col("mx") - F.col("mn")) + F.col("mn")
    per_el = q.withColumn("sqerr", (F.col("x") - deq) * (F.col("x") - deq))
    return (
        per_el.groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "code"))), lambda s: s["code"]
            ).alias("codes"),
            F.round(F.avg("sqerr"), 10).alias("mse"),
        )
    )


def lsh_planes(
    num_planes: int = 8, num_tables: int = 4, dim: int = 64, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic random-hyperplane tables for :func:`lsh_ann_topk`.

    Exposed so the DuckDB oracle can embed the identical constants as SQL
    literals (repr round-trips each double exactly) and replay the
    signature computation bit-for-bit.
    """
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]
        for _ in range(num_tables)
    ]


def _lsh_sig(df: DataFrame, tables, id_col: str, vec_col: str) -> DataFrame:
    """Per-(row, table) bucket relation of :func:`lsh_ann_topk` →
    (id, vec, __tbl, __b), one Arrow pass.  Each plane bit is a
    sequential per-dimension fold (``acc += x[i]·p[i]`` from 0.0, the
    :func:`_assign` convention) compared ``>= 0`` (IEEE: −0.0
    qualifies, as in the SQL replay); a signature is the exact integer
    sum of its bits.  A vector whose width is not the planes' ``dim``
    raises ``ValueError`` — folding only a prefix would hash unlike
    vectors together."""
    import numpy as np

    P = np.array(tables, dtype=np.float64)  # (tables, planes, dim)
    n_tables, n_planes, d = P.shape

    def gen(batch):
        x = vectors(batch[vec_col], vec_col)
        if len(x) and x.shape[1] != d:
            raise ValueError(f"{vec_col}: vectors have {x.shape[1]} values; dim is {d}")
        sigs = np.zeros((len(x), n_tables), dtype=np.int64)
        for t in range(n_tables):
            for j in range(n_planes):
                acc = np.zeros(len(x))
                for i in range(d):  # sequential fold == signature()
                    acc += x[:, i] * P[t, j, i]
                sigs[:, t] |= (acc >= 0).astype(np.int64) << j
        tbl = np.tile(np.arange(n_tables, dtype=np.int64), len(x))
        return {"__tbl": tbl, "__b": sigs.reshape(-1)}, np.repeat(np.arange(len(x)), n_tables)

    return arrow_kernel(
        df.select(id_col, vec_col), gen, f"{id_col}, {vec_col}, __tbl long, __b long"
    )


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    num_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    ``num_tables`` independent tables of ``num_planes`` sign bits each
    (planes generated driver-side by :func:`lsh_planes` and shipped to the
    Arrow signature kernel :func:`_lsh_sig` — tiny). Candidates share
    a full bucket in ANY table, or any 1-bit multiprobe flip of the
    query's bucket; exact cosine re-rank on the candidate set only.
    Recall/cost dial: more tables → higher recall, more candidates;
    fewer planes → bigger buckets.
    """
    tables = lsh_planes(num_planes, num_tables, dim)
    # only (id, vec) ever reach the output/re-rank — project early
    # (guide §2.3) so the opaque Arrow stage ships two columns
    c = _lsh_sig(corpus, tables, "vec_id", "embedding")
    qsig = _lsh_sig(queries, tables, "query_id", "query_vec")
    # query rows fan out to their bucket plus every 1-bit flip of it
    q = qsig.withColumn(
        "__b",
        F.explode(
            F.array(
                F.col("__b"),
                *[F.col("__b").bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)],
            )
        ),
    )
    cand = c.join(F.broadcast(q), ["__tbl", "__b"]).dropDuplicates(["query_id", "vec_id"])
    return _topk(cand, k)


def kmeans_refine(
    corpus: DataFrame, num_cells: int = 16, iters: int = 2
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Lloyd k-means refinement of the deterministic IVF seed centroids.

    Drop-in upgrade for :func:`ivf_assign`: same (centroids, assigned)
    contract, but the centroids are trained — ``iters`` rounds of
    (assign to nearest-by-cosine, recompute per-cell per-dim mean).
    Everything stays deterministic and engine-portable (a DuckDB oracle
    replays it bit-for-bit): seeds are the ``num_cells`` smallest-id
    vectors (no rand()), assignment rounds cosine to 6 dp with
    ties-to-smaller-centroid, and the mean update accumulates each
    dimension in exact decimal(25,6) before one double division, so the
    refined centroid doubles are identical regardless of partitioning.

    Scale shape (classic distributed Lloyd, what MLlib's KMeans also
    does): per iteration ONE corpus scan whose per-task partial sums
    (:func:`_cell_sums`) ride the collect — ≤ cells rows of (dim+1)
    accumulators per task, and the (cells × dim) model state on the
    driver is a few KB. The corpus is never shuffled and there is no
    per-dimension row fan-out. Empty cells drop out of the model,
    mirroring the SQL replay.
    """
    cents, assigned = ivf_assign(corpus, num_cells)
    for _ in range(iters):
        means = dsum_means(_cell_sums(assigned).collect())
        cents = sorted((c, v) for (c,), v in means.items())
        assigned = _assign(corpus, cents)
    return cents, assigned


def _cell_sums(assigned: DataFrame) -> DataFrame:
    """Exact per-task per-cell vector sums of ``assigned``
    (:func:`dsum_partials`), the k-means mean-update partials."""
    def batch(b):
        return [((b["cell"].to_numpy(),), vectors(b["embedding"], "embedding"))]

    return dsum_partials(assigned.select("cell", "embedding"), "cell long", batch)


def _l2(a: Column, b: Column, decimals: int | None = 6) -> Column:
    """Squared L2 distance, double-cast elements, sequential fold (the
    same evaluation-order contract as :func:`cosine` so a DuckDB
    ``list_sum`` replays it to the last ulp), rounded for rank
    stability."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))
    )
    d = F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)
    return F.round(d, decimals) if decimals is not None else d


def _pq_dists_np(x, books_np, name: str):
    """(rows, m, ks) squared distances of each row's ``m`` subvectors
    to every codeword: accumulated SEQUENTIALLY over the subvector (the
    ``list_sum`` fold order of the ``_l2_sql`` replay in
    ``queries/llm.py``) and rounded 6 dp like ``F.round``
    (:func:`_round6_np`; distances are ≥ 0, so half-away == half-up).
    Rows whose width is not the codebooks' ``m · sub`` raise
    ``ValueError`` naming the ``name`` column."""
    import numpy as np

    m, ks, sub = books_np.shape
    if x.shape[1] != m * sub:
        raise ValueError(
            f"{name} vectors have {x.shape[1]} values; the PQ codebooks cover {m * sub}"
        )
    out = np.empty((len(x), m, ks))
    for j in range(m):
        xj = x[:, j * sub : (j + 1) * sub]
        acc = np.zeros((len(x), ks))
        for i in range(sub):  # sequential i-order == _l2_sql's list_sum
            d = xj[:, i : i + 1] - books_np[j][None, :, i]
            acc += d * d
        out[:, j] = _round6_np(acc)
    return out


def pq_encode(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    corpus_vec: str = "embedding",
    keep: tuple[str, ...] = (),
    codebooks: list[list[list[float]]] | None = None,
) -> tuple[list[list[list[float]]], DataFrame]:
    """Product-quantization encode of ``(vec_id, corpus_vec)``: split
    each vector into ``m`` subvectors of ``width/m`` components;
    quantize each against a per-subspace codebook of ``ks`` centroids;
    a vector becomes ``m`` small integer codes (here ≤1 byte each — a
    64-float embedding compresses 32:1).  The width is the data's: the
    seed vectors' length, or ``m · len(codebooks[0][0])`` for supplied
    codebooks; a vector of another width raises ``ValueError``.

    Codebooks are deterministic (the ``ks`` smallest-id vectors'
    subvectors, same convention as :func:`ivf_assign` — no rand(), so
    the whole encode replays in a SQL oracle; :func:`train_pq_codebooks`
    applies the Lloyd step per subspace when trained codebooks are
    wanted and changes nothing structural). Returns ``(codebooks,
    codes)`` where ``codebooks[j][c]`` is centroid ``c`` of subspace
    ``j`` and ``codes`` has an ``array<int> code`` column of length
    ``m``; ``keep`` columns pass through.

    Scale: one Arrow-batched corpus scan — a code is the argmin of
    :func:`_pq_dists_np`, first occurrence, so ties go to the smaller
    ordinal — zero shuffles, output 100-1000x smaller than the
    embeddings (the ADC scan in :func:`pq_ann_topk` then reads codes
    instead of vectors).
    """
    import numpy as np

    if codebooks is not None:
        books = codebooks  # externally supplied (trained, or residual-seeded)
    else:
        books = _pq_seed_books(corpus, corpus_vec, m, ks)
    books_np = np.array(books)  # (m, ks, sub)
    cols = ("vec_id", corpus_vec, *keep)

    def encode(batch):
        x = vectors(batch[corpus_vec], corpus_vec)
        return {"code": np.argmin(_pq_dists_np(x, books_np, corpus_vec), axis=2).astype(np.int32)}

    return books, arrow_kernel(corpus.select(*cols), encode, ", ".join(cols) + ", code array<int>")


def _pq_seed_books(
    df: DataFrame, vec_col: str, m: int, ks: int, skip: int = 0
) -> list[list[list[float]]]:
    """Deterministic seed codebooks: the ``ks`` smallest-``vec_id``
    rows' subvectors, optionally skipping the first ``skip`` rows (the
    residual tier skips the IVF centroid rows, whose residuals are
    exactly zero — an all-zero codebook ties every distance).  The
    seeds' common width sets the subvector length ``width / m``; seeds
    of unequal widths, or a width ``m`` does not divide, raise
    ``ValueError``."""
    seeds = [
        list(r[vec_col])
        for r in df.orderBy("vec_id").limit(ks + skip).select(vec_col).collect()[skip:]
    ]
    widths = {len(v) for v in seeds}
    if len(widths) > 1 or (widths and next(iter(widths)) % m):
        raise ValueError(
            f"{vec_col} seed vectors have widths {sorted(widths)}; "
            f"need one width divisible by m={m}"
        )
    sub = next(iter(widths), 0) // m
    return [[[float(v[j * sub + i]) for i in range(sub)] for v in seeds] for j in range(m)]


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str,
    initial: list[list[list[float]]],
    iters: int = 2,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd training of PQ codebooks — what FAISS's
    ProductQuantizer::train does, in the engine's deterministic
    arithmetic (decimal(25,6) accumulation + one double division, the
    kmeans_refine recipe — partition-order independent, so the trained
    books replay in a SQL oracle).

    Scale shape: per iteration ONE Arrow pass over ``df`` — each batch
    encodes its rows like :func:`pq_encode`, and :func:`dsum_partials`
    turns the (subspace, codeword) subvectors into per-task partials
    (n, exact scaled-6-dp sums), which the driver combines with
    :func:`dsum_means`.  The corpus is never shuffled and there is no
    per-subspace row fan-out.  At 100 TB you train on a
    deterministic hash-sample (llm/hashing) — the FAISS convention too
    — so the scan is of the sample, not the corpus.  Empty codebook
    entries keep their previous value.

    Why this matters (measured, tests/test_llm.py): seed codebooks
    only resolve the structure the seeds happen to span; on residuals
    (``ivf_pq_ann_topk(by_residual=True)``) training tightens the
    codebook around the actual noise distribution and recall rises
    with no query-time cost.
    """
    import numpy as np

    # shape is the initial codebooks' shape — a separate m/ks that
    # disagreed would silently truncate or crash mid-aggregation
    m, ks, sub = len(initial), len(initial[0]), len(initial[0][0])
    books = [list(b) for b in initial]
    for _ in range(iters):
        books_np = np.array(books)  # (m, ks, sub)

        def batch(b):
            x = vectors(b[vec_col], vec_col)
            codes = np.argmin(_pq_dists_np(x, books_np, vec_col), axis=2)
            return [
                ((np.full(len(x), j), codes[:, j]), x[:, j * sub : (j + 1) * sub])
                for j in range(m)
            ]

        parts = dsum_partials(df.select(vec_col), "j int, c int", batch)
        means = dsum_means(parts.collect())
        books = [[means.get((j, c), books[j][c]) for c in range(ks)] for j in range(m)]
    return books


def pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    rerank: int = 0,
    exact_decimal: bool = True,
) -> DataFrame:
    """ANN top-k of each ``(query_id, query_vec)`` among the ``(vec_id,
    embedding)`` corpus by PQ asymmetric distance (ADC, ``m = 8``
    subspaces of ``ks = 16`` codewords): per query, a lookup table of
    (subspace, centroid) → partial distance is precomputed once, and
    scoring a corpus vector is ``m`` table lookups summed — no float
    vector math on the scan.  A query never matches its own id.

    Visibly eager on the queries: the build collects them (one job) and
    computes each LUT on the driver with :func:`_pq_dists_np`, the
    encoder's kernel; a bad query vector, or one whose width is not the
    corpus's, raises ``ValueError`` there.
    Scale shape: the LUTs (queries × m × ks doubles, KB) are broadcast;
    the corpus side reads the CODES relation (32x smaller than the
    embeddings), stays map-side through scoring, and only the
    per-query top-k window shuffles.
    ``rerank > 0`` re-scores the top ``rerank*k`` ADC candidates with
    exact distances on the (partition-pruned) embedding rows — the
    standard recall knob.

    Exactly replayable: partial distances round at 6 dp and, with
    ``exact_decimal=True`` (default), accumulate in decimal so the
    DuckDB oracle's SUM matches the fold here bit-for-bit (no
    float-order dependence).  ``exact_decimal=False`` folds in double —
    still deterministic WITHIN Spark (fixed j-order fold), just not
    oracle-bit-matched, and ~2x faster on the scan (decimal math is the
    hot cost at millions of rows; measured in tools/stress.py) — the
    production setting.
    """
    books, codes = pq_encode(corpus, 8, 16)
    scored = codes.join(F.broadcast(_query_luts(queries, books)))
    return _adc_score_topk(scored, queries, corpus, k, 8, rerank, exact_decimal)


def _query_luts(queries: DataFrame, books) -> DataFrame:
    """Per-query ADC lookup tables as a local ``(query_id, lut)``
    relation: the queries are collected once (the broadcast puts them on
    the driver anyway) and each LUT is :func:`_pq_dists_np` of the query
    vector.  A NULL vector, one whose length is not the codebooks'
    width, or a NULL or non-finite element raises ``ValueError`` naming
    the query id."""
    import numpy as np

    from fdf_spark.sources.tables import local_df

    books_np = np.array(books)  # (m, ks, sub)
    dim = books_np.shape[0] * books_np.shape[2]
    rows = queries.select("query_id", "query_vec").collect()
    x = np.full((len(rows), dim), np.nan)
    for i, (qid, v) in enumerate(rows):
        if v is not None and len(v) == dim:
            x[i] = np.asarray(v, dtype=np.float64)
        if not np.isfinite(x[i]).all():
            got = (
                "NULL" if v is None
                else f"length {len(v)}" if len(v) != dim
                else "a NULL or non-finite element"
            )
            raise ValueError(
                f"pq_ann_topk: query {qid!r} has query_vec {got}; expected {dim} finite values"
            )
    id_type = queries.schema["query_id"].dataType.simpleString()
    return local_df(
        queries.sparkSession,
        [(r[0], lut) for r, lut in zip(rows, _pq_dists_np(x, books_np, "query_vec").tolist())],
        f"query_id {id_type}, lut array<array<double>>",
    )


def _adc_score_topk(
    scored: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    m: int,
    rerank: int,
    exact_decimal: bool,
) -> DataFrame:
    """Shared ADC tail: drop each query's own id, fold the m LUT lookups
    into adist, take the per-query top-k, optionally re-rank exactly
    (pq_ann_topk and ivf_pq_ann_topk differ only in how candidates reach
    ``scored``)."""
    scored = scored.filter(F.col("query_id") != F.col("vec_id"))

    def lookup(j):
        return F.element_at(F.element_at("lut", j + 1), F.element_at("code", j + 1) + 1)

    if exact_decimal:
        adist = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0).cast("decimal(25,6)"),
            lambda acc, j: (acc + lookup(j).cast("decimal(25,6)")).cast("decimal(25,6)"),
        ).cast("double")
    else:
        adist = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0), lambda acc, j: acc + lookup(j)
        )
    # project down to 3 narrow columns BEFORE the top-k window: the
    # exchange must carry (qid, vid, adist), never the 1 KB lut / code /
    # vector payload (measured 4x on the 1M-vector stress run: 54->14 s)
    scored = scored.select("query_id", "vec_id", adist.alias("adist"))
    w = W.partitionBy("query_id").orderBy(F.col("adist").asc(), F.col("vec_id"))
    pool = max(k, rerank * k) if rerank else k
    top = scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= pool)
    if not rerank:
        return top.select("query_id", "vec_id", "adist", "rank")
    # exact re-rank: broadcast the tiny candidate pool back against the
    # corpus (BHJ — the corpus is scanned, never shuffled) and the
    # query vectors, then re-window inside the pool
    cand = top.select("query_id", "vec_id")
    exact = (
        corpus.select("vec_id", "embedding")
        .join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(queries.select("query_id", "query_vec")), "query_id")
        .withColumn("edist", _l2(F.col("query_vec"), F.col("embedding")))
    )
    w2 = W.partitionBy("query_id").orderBy(F.col("edist").asc(), F.col("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "edist", "rank")
    )


def _centroid_array(cents, cell_col: Column) -> Column:
    """Per-row centroid vector as a literal CASE chain on the cell id
    (cells × dim literal nodes; stays whole-stage codegen, no join)."""
    expr = None
    for cid, cvec in cents:
        arr = _lit_vec(cvec)
        cond = cell_col == int(cid)
        expr = F.when(cond, arr) if expr is None else expr.when(cond, arr)
    return expr


def _residual(vec: Column, cvec: Column) -> Column:
    """v − centroid, element-wise in double (exact float32→double
    widening both engines, so the oracle replays it bit-for-bit)."""
    return F.zip_with(vec, cvec, lambda a, b: a.cast("double") - b)


def ivf_pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 2,
    m: int = 8,
    ks: int = 16,
    rerank: int = 0,
    exact_decimal: bool = True,
    by_residual: bool = False,
    train_iters: int = 0,
) -> DataFrame:
    """IVF-PQ composition — the FAISS ``IVFx,PQy`` layout actually
    deployed at 100 TB: the coarse quantizer prunes WHICH vectors are
    scored (each query touches ~``nprobe/num_cells`` of the corpus,
    a partition-pruned scan once the codes land partitioned by
    ``cell``), and PQ compresses WHAT is read for scoring (the
    32:1-smaller codes relation; ADC = ``m`` lookups per candidate,
    no float vector math on the scan).  The two index structures
    multiply: IVF cuts candidate COUNT, PQ cuts candidate WIDTH —
    at 100 TB of embeddings neither alone keeps the scan I/O-bound.

    Composition of :func:`ivf_assign` (cells) + :func:`pq_encode`
    (codes, ``keep=cell``) + the shared ADC tail; ONE corpus scan
    builds both structures map-side (no shuffle).  Deterministic
    seed centroids and codebooks ⇒ fully SQL-replayable (q151's
    DuckDB oracle replays assignment, probing, encoding AND the
    decimal ADC fold); ``rerank`` re-scores top ``rerank*k``
    exactly — the recall knob, measured in tools/stress.py
    alongside a brute-force recall@10 with a CI floor.

    ``by_residual=True`` (FAISS's default) PQ-encodes the RESIDUAL
    ``v − centroid(cell)`` instead of the raw vector — the fix for
    PQ's tie-group failure on clustered data: raw-vector codebooks
    resolve inter-cluster structure only (every member of a tight
    cluster takes identical codes, so ADC cannot rank within the
    cluster and the rerank pool must swallow the whole tie group —
    measured in tests/test_llm.py), while residuals spread each
    cluster's noise ball around the origin where the codebook's
    resolution actually lands.  The LUT becomes per (query, probed
    cell) — q's residual differs per cell — which is the documented
    FAISS query-time cost of residual ADC; still KB-scale broadcast.
    Equally SQL-replayable: the residual is exact double arithmetic
    in both engines (q152's oracle).
    """
    cents, books, codes = _ivf_pq_build(corpus, num_cells, m, ks, by_residual, train_iters)
    probes = _ivf_pq_probes(queries, cents, books, nprobe, by_residual)
    scored = codes.join(F.broadcast(probes), "cell")
    return _adc_score_topk(scored, queries, corpus, k, m, rerank, exact_decimal)


def _residual_src(assigned: DataFrame, cents) -> DataFrame:
    """``(vec_id, __rvec, cell)``: each assigned vector minus its cell's
    centroid, the input residual PQ encodes."""
    rcol = _residual(F.col("embedding"), _centroid_array(cents, F.col("cell")))
    return assigned.select("vec_id", rcol.alias("__rvec"), "cell")


def _ivf_pq_build(
    corpus: DataFrame,
    num_cells: int,
    m: int,
    ks: int,
    by_residual: bool,
    train_iters: int,
) -> tuple[list, list, DataFrame]:
    """IVF-PQ index construction — (centroids, codebooks, codes with
    cell).  ONE corpus scan builds both structures map-side; shared by
    the inline query path (:func:`ivf_pq_ann_topk`) and the persisted
    index writer (:func:`write_ivf_pq_index`)."""
    cents, assigned = ivf_assign(corpus, num_cells)
    if by_residual:
        src, vcol = _residual_src(assigned, cents), "__rvec"
        seed_skip = num_cells  # the centroid rows' residuals are exactly zero
    else:
        src, vcol, seed_skip = assigned, "embedding", 0
    # Seed books need only the ks+skip smallest-id rows, and assignment/
    # residual are row-wise — so take the head off the RAW corpus scan
    # (TakeOrdered, no full-corpus assignment pass: collecting seeds
    # from ``src`` forced every row through cell assignment just to
    # keep 16-32 of them, measured as the dominant build job) and
    # transform just those rows. Identical rows, identical books.
    head = corpus.select("vec_id", "embedding").orderBy("vec_id").limit(ks + seed_skip)
    head_src = _residual_src(_assign(head, cents), cents) if by_residual else head
    books = _pq_seed_books(head_src, vcol, m, ks, skip=seed_skip)
    if train_iters:
        books = train_pq_codebooks(src, vcol, books, train_iters)
    books, codes = pq_encode(src, m, ks, vcol, keep=("cell",), codebooks=books)
    return cents, books, codes


def _probe_order(cos, nprobe: int):
    """Each row's ``nprobe`` best centroids, most similar first with
    ties to the smaller id (−0.0 and +0.0 order equal, as the rounded
    SQL cosine's do) → flat (row index, centroid index) arrays."""
    import numpy as np

    ties = np.broadcast_to(np.arange(cos.shape[1]), cos.shape)
    top = np.lexsort((ties, -cos), axis=1)[:, :nprobe]
    return np.repeat(np.arange(len(cos)), top.shape[1]), top.reshape(-1)


def _probe_cells(
    df: DataFrame,
    cents,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Cell router of the non-PQ IVF paths → (id, vec, cell), one row
    per probed cell: each row's ``nprobe`` nearest centroids by rounded
    cosine (:func:`_cosines`, :func:`_probe_order`)."""
    ids, C, cn = _centroids(cents, "centroid")

    def gen(batch):
        rows, ci = _probe_order(_cosines(vectors(batch[vec_col], vec_col), C, cn), nprobe)
        return {"cell": ids[ci]}, rows

    return arrow_kernel(df.select(id_col, vec_col), gen, f"{id_col}, {vec_col}, cell long")


def _ivf_pq_probes(queries: DataFrame, cents, books, nprobe: int, by_residual: bool) -> DataFrame:
    """Per-query probe relation (query_id, query_vec, cell, lut) —
    shared by the inline and persisted-index paths.

    Cells are routed like :func:`_probe_cells`; the LUT of each
    (query, probed cell) is :func:`_pq_dists_np` of the query — or of
    its residual ``q − centroid`` when ``by_residual``."""
    import numpy as np

    ids, C, cn = _centroids(cents, "centroid")
    books_np = np.array(books)  # (m, ks, sub)

    def gen(batch):
        x = vectors(batch["query_vec"], "query_vec")
        rows, ci = _probe_order(_cosines(x, C, cn), nprobe)
        src = x[rows] - C[ci] if by_residual else x[rows]
        return {"cell": ids[ci], "lut": _pq_dists_np(src, books_np, "query_vec")}, rows

    return arrow_kernel(
        queries.select("query_id", "query_vec"),
        gen,
        "query_id, query_vec, cell long, lut array<array<double>>",
    )


def write_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    num_cells: int = 16,
    m: int = 8,
    ks: int = 16,
    by_residual: bool = False,
) -> int:
    """Persist an IVF-PQ index as a VERSIONED TABLE — the build-once /
    probe-many contract every production ANN deployment runs (FAISS
    builds codes+codebooks once and serves thousands of probes; the
    reference's analog is the compile-once memoized catalog,
    factory.py:651,673-679).

    Layout: ONE versioned table at ``path`` whose rows are the PQ
    codes ``(vec_id, cell, code array<int>)`` of the ``(vec_id,
    embedding)`` corpus — range-clustered by
    ``cell`` so each data file covers ~one cell and the manifest's
    per-file [min, max] stats make a probe a partition-pruned scan
    (``read_version(prune=("cell", cells))`` hands Spark ONLY the
    probed cells' files).  The tiny model state — centroids, trained
    codebooks, every build parameter — rides in the manifest's
    ``meta`` (a few KB of JSON), so a prober needs ZERO Spark jobs to
    route queries, and time travel pins the exact index a training
    job probed.  Returns the committed version.

    The corpus itself is scanned once (cells + codes map-side, no
    shuffle) and the only exchange is the cell-clustering write — the
    LAST shuffle those codes ever pay.
    """
    from fdf_spark.sources.versioned import (
        commit_version,
        list_versions,
        partition_spec,
        set_partition_spec,
    )

    cents, books, codes = _ivf_pq_build(corpus, num_cells, m, ks, by_residual, 0)
    out = codes.select("vec_id", "cell", "code")
    # the layout rides the table's PARTITION SPEC: every writer — this
    # build, ivf_pq_add, or a plain commit_version — cell-clusters its
    # new files through commit_version's one spec mechanism.  Only a
    # path whose spec doesn't already say so needs the explicit
    # clustering + set-spec (a REBUILD on an indexed path would
    # otherwise range-shuffle the codes twice and append a duplicate
    # spec entry per rebuild).
    want = {"cols": ["cell"], "buckets": num_cells}
    has_spec = bool(list_versions(path)) and {
        k: partition_spec(path)[k] for k in ("cols", "buckets")
    } == want
    if not has_spec:
        out = out.repartitionByRange(num_cells, "cell").sortWithinPartitions("cell")
    meta = {
        "ivf_pq": {
            "cents": [[int(cid), [float(x) for x in vec]] for cid, vec in cents],
            "books": books,
            "params": {"num_cells": num_cells, "m": m, "ks": ks, "by_residual": by_residual},
        }
    }
    v = commit_version(out, path, mode="overwrite", meta=meta)
    if not has_spec:
        set_partition_spec(path, ["cell"], buckets=num_cells)
    return v


def read_ivf_pq_meta(path: str, version: int | None = None) -> dict:
    """The persisted index's model state (cents, books, params) in
    force at ``version`` (latest if None) — metadata only, zero Spark
    jobs.  Walks back to the nearest ancestor DATA commit carrying the
    model: metadata-only commits in the chain (set-spec at index
    creation, a later rename/optimize) don't re-state the model and
    must not break probes."""
    from fdf_spark.sources.versioned import _read_manifest, list_versions

    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no index versions at {path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    # walk back ONLY through commits that cannot have REPURPOSED the
    # table: metadata-only modes, OPTIMIZE (content-preserving), and
    # row DELETES (positional or equality — the sync path's masking
    # step removes code rows but the model still describes the rest).
    # A data commit without ivf_pq meta means the table was repurposed
    # — probing stale model state against unrelated rows must fail
    # loudly, not score garbage
    for cand in reversed([x for x in versions if x <= v]):
        m = _read_manifest(path, cand)
        meta = m["meta"].get("ivf_pq")
        if meta is not None:
            return {**meta, "version": v}
        if m.get("mode") not in (
            "rename", "drop", "widen", "set-spec", "optimize",
            "delete", "delete-eq", "analyze", "set-properties", "add_column",
        ):
            break
    raise ValueError(f"{path} v{v} is not an IVF-PQ index (no ivf_pq meta in chain)")


def ivf_pq_add(path: str, new_vectors: DataFrame) -> int:
    """Incrementally extend a persisted IVF-PQ index — FAISS ``add``:
    assign new ``(vec_id, embedding)`` vectors to the EXISTING cells, encode with the EXISTING
    codebooks, commit the new codes as an append.  No retraining, no
    rewrite of prior files; the appended files are cell-clustered like
    the originals so probes stay partition-pruned across commits, and
    the model meta is carried forward so a later ``ivf_pq_add`` /
    probe sees one consistent index.  Cost is one scan of the NEW
    vectors only.  Returns the committed version.
    """
    from fdf_spark.sources.versioned import commit_version

    idx = read_ivf_pq_meta(path)
    p = idx["params"]
    cents = [(cid, vec) for cid, vec in idx["cents"]]
    assigned = _assign(new_vectors, cents)
    if p["by_residual"]:
        src, vcol = _residual_src(assigned, cents), "__rvec"
    else:
        src, vcol = assigned, "embedding"
    _, codes = pq_encode(src, p["m"], p["ks"], vcol, keep=("cell",), codebooks=idx["books"])
    out = codes.select("vec_id", "cell", "code")
    # the index's PARTITION SPEC normally makes commit_version
    # range-cluster the new files by cell (one clustering contract for
    # every writer); an index persisted BEFORE the spec wiring has no
    # set-spec commit in its chain, so fall back to explicit
    # clustering — the partition-pruned-probe invariant must hold for
    # appends to any index vintage
    from fdf_spark.sources.versioned import partition_spec

    if partition_spec(path)["cols"] != ["cell"]:
        out = out.repartitionByRange(p["num_cells"], "cell").sortWithinPartitions("cell")
    # the model meta is re-stated so each data commit is
    # self-describing (read_ivf_pq_meta walks back to the nearest one)
    model = {kk: vv for kk, vv in idx.items() if kk != "version"}
    return commit_version(out, path, mode="append", meta={"ivf_pq": model})


def sync_ivf_pq_index(
    spark,
    corpus_path: str,
    index_path: str,
    consumer_id: str = "ivf-pq-sync",
) -> dict:
    """Keep a persisted IVF-PQ index FOLLOWING a versioned ``(vec_id,
    embedding)`` corpus via the change feed (the composition the 100 TB
    embedding pipeline actually runs: the corpus table takes
    appends/updates/deletes all day; the index must track it without
    rebuilds).

    One sync = one poll of the corpus's per-commit feed
    (:func:`fdf_spark.sources.versioned.poll_changes`, keyed on
    ``vec_id``), then:

    1. EVERY changed id is equality-deleted from the index — the key
       relation is the tombstone, zero index scan; the sequence rule
       scopes the mask to code files present NOW, so codes added in
       step 2 stay live;
    2. inserted/updated vectors append through :func:`ivf_pq_add`
       (assign to existing cells, encode with existing codebooks —
       FAISS ``add``, no retrain);
    3. the feed offset is acknowledged LAST.

    At-least-once safe BY ORDER: a crash anywhere before the ack
    re-delivers the batch, and because step 1 deletes every changed id
    (including plain inserts — a no-op mask on first delivery), a
    replay converges to ONE live code row per id; acks themselves are
    create-if-absent markers, so racing sync workers cannot rewind
    each other.  Probes see a consistent index at every point: both
    steps are atomic commits, and between them the index is merely
    missing the batch (the same state as before the sync).  Delete
    debt accumulates as equality entries until ``optimize`` folds them
    — ``plan_maintenance`` surfaces that.  Cost per sync is
    O(changed rows) + O(that commit range's touched corpus files) —
    never O(corpus), never O(index).

    Returns ``{"synced_through", "added", "deleted"}`` (deleted counts
    changed IDS masked, not code rows).
    """
    from fdf_spark.sources.versioned import ack_changes, delete_keys, poll_changes

    read_ivf_pq_meta(index_path)  # fails loudly unless index_path is an index
    feed, thru = poll_changes(spark, corpus_path, consumer_id, keys=["vec_id"])
    if feed is None:
        return {"synced_through": thru, "added": 0, "deleted": 0}
    feed = feed.persist()
    try:
        changed = feed.select("vec_id").distinct()
        n_changed = changed.count()
        if n_changed:
            delete_keys(spark, index_path, changed, ["vec_id"])
        # the poll may span MANY commits, so one id can appear several
        # times (inserted in one commit, updated in a later one): the
        # index gets each id's FINAL image only — the newest
        # insert/postimage, and nothing if the id's last change is a
        # delete.  O(changed rows) window, never O(corpus).
        last = (
            feed.filter(F.col("_change_type") != "update_preimage")
            .withColumn(
                "__rn",
                F.row_number().over(
                    W.partitionBy("vec_id").orderBy(
                        F.col("_commit_version").desc()
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
        )
        adds = last.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select("vec_id", "embedding")
        n_add = adds.count()
        if n_add:
            ivf_pq_add(index_path, adds)
    finally:
        feed.unpersist()  # own pin only
    ack_changes(corpus_path, consumer_id, thru)
    return {"synced_through": thru, "added": n_add, "deleted": n_changed}


def ivf_pq_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    version: int | None = None,
    rerank: int = 0,
    corpus: DataFrame | None = None,
    exact_decimal: bool = True,
) -> DataFrame:
    """Probe a persisted IVF-PQ index (:func:`write_ivf_pq_index`) —
    identical results to the inline :func:`ivf_pq_ann_topk` with the
    same parameters, but the build never runs: centroids + codebooks
    come from the manifest meta (zero Spark jobs) and the codes scan
    is PARTITION-PRUNED to the probed cells via the manifest's
    per-file stats (``read_version(prune=("cell", cells))`` — the
    probe lists only the probed cells' files; pinned by
    ``tests/test_llm.py::test_ivf_pq_persisted_probe_pruned``).
    This is the O(probe) vs O(index build) difference measured in
    tools/stress.py.  ``version`` pins a snapshot (time travel);
    ``rerank`` needs the raw ``corpus`` vectors passed explicitly —
    the index stores codes only (32:1 smaller by design).
    """
    from fdf_spark.sources.versioned import read_version

    idx = read_ivf_pq_meta(path, version)
    p = idx["params"]
    if rerank and corpus is None:
        raise ValueError("rerank re-scores exact distances; pass the raw corpus")
    cents = [(cid, vec) for cid, vec in idx["cents"]]
    # the probe relation is materialized ONCE (localCheckpoint — it is
    # |queries| × nprobe narrow rows): the probed-cell set collected
    # below and the broadcast join both read the same evaluation, so a
    # nondeterministic queries source can never route a query to a
    # cell whose files were pruned away, and the query pipeline is not
    # computed twice
    probes = _ivf_pq_probes(
        queries, cents, idx["books"], nprobe, p["by_residual"]
    ).localCheckpoint()
    # the probed-cell set (bounded: ≤ num_cells values) prunes the
    # manifest file list before Spark ever plans the codes scan
    cells = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    codes = read_version(spark, path, version, prune=("cell", cells)).filter(
        F.col("cell").isin(cells)
    )
    scored = codes.join(F.broadcast(probes), "cell")
    return _adc_score_topk(scored, queries, corpus, k, p["m"], rerank, exact_decimal)
