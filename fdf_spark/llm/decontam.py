"""Benchmark decontamination (N12): flag training documents whose
word n-grams overlap a held-out evaluation/benchmark set.

Reference parity: none (no reference counterpart); part of the
training-data-pipeline surface the build brief adds. This is the
standard "n-gram decontamination" pass run before LLM pretraining:
any training document sharing enough n-grams with a benchmark document
leaks eval data and must be dropped.

Scale design (100 TB corpus vs a ~MB benchmark set):

- The benchmark shingle set is tiny (benchmarks are thousands of
  documents, not billions), so it is the **broadcast** side of the
  join — the corpus is never shuffled for the probe.
- Corpus shingles join against the broadcast set map-side on the
  8-byte portable hash.
- Per-document shingle dedup is map-LOCAL: each document's distinct
  hashes come out of one Arrow pass (``dedup.gram_hash_rows``), so no
  (doc, shingle) relation is ever shuffled, and the operator's only
  corpus exchange is the final per-document aggregation, whose
  map-side partial reduces each task's output to one row per
  document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fdf_spark.llm.dedup import gram_hash_rows


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Per-document benchmark-overlap profile.

    Returns ``(doc_id, n_shingles, n_hits, contamination, contaminated)``
    where ``contamination = n_hits / n_shingles`` over the document's
    *distinct* ``n``-gram set and ``contaminated`` flags documents at or
    above ``threshold``. Documents with fewer than ``n`` words have no
    shingles and report a zero profile (never flagged).
    """
    # per-document dedup is MAP-LOCAL (gram_hash_rows, 8-byte hashes —
    # a 2^-60 collision is mirrored by the oracle's identical hashing,
    # never a mismatch), so the only corpus exchange in the operator is
    # the final per-document aggregation
    corpus_sh = gram_hash_rows(docs, n=n)
    bench_src = (
        benchmark
        if "doc_id" in benchmark.columns
        else benchmark.select(F.lit(0).cast("long").alias("doc_id"), F.col("text"))
    )
    bench_sh = (
        gram_hash_rows(bench_src, n=n)
        .select("sh")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    profile = (
        corpus_sh.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hits"),
        )
        .withColumn(
            "contamination", F.round(F.col("n_hits") / F.col("n_shingles"), 6)
        )
    )
    # documents too short to have any n-gram still get a row
    base = docs.select(F.col("doc_id")).join(profile, "doc_id", "left")
    return base.select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.coalesce("contamination", F.lit(0.0)).alias("contamination"),
        (F.coalesce("contamination", F.lit(0.0)) >= threshold).alias("contaminated"),
    )


def semantic_decontaminate_indexed(
    spark,
    index_path: str,
    benchmark: DataFrame,
    threshold: float = 0.9,
    nprobe: int = 2,
) -> DataFrame:
    """Semantic decontamination against a PERSISTED IVF index
    (``llm/similarity.write_ivf_index``'s cell-partitioned layout) —
    the no-corpus-scan tier: instead of scoring every corpus row
    against the broadcast benchmark (:func:`semantic_decontaminate`,
    one full scan of 100 TB of embeddings per decontamination run),
    each benchmark item probes its ``nprobe`` nearest cells of the
    index built ONCE over the corpus, so the run touches
    ~``|benchmark| × nprobe / num_cells`` of the corpus — a
    partition-pruned range query, not a scan.

    Returns ``(vec_id, best_bench, max_cos, contaminated=true)``
    for corpus rows whose cosine against some PROBED benchmark item
    reaches ``threshold`` (argmax over the probed pairs, ties to the
    smaller benchmark id).  ANN semantics: a within-threshold pair
    whose corpus row lives outside every probed cell is missed — the
    standard IVF recall trade, dialed by ``nprobe``; run the exact
    tier when the benchmark is small enough to broadcast.
    Deterministic and fully SQL-replayable (q157): seed centroids,
    6-dp cosine, relational argmax.
    """
    from pyspark.sql import functions as F

    from fdf_spark.llm.similarity import _ivf_index_probes, cosine

    probes, cells = _ivf_index_probes(
        spark, index_path, benchmark, "bench_id", "bench_vec", nprobe
    )
    corpus = spark.read.parquet(f"{index_path}/corpus").filter(F.col("cell").isin(cells))
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .withColumn("cos", cosine(F.col("embedding"), F.col("bench_vec")))
        .filter(F.col("cos") >= threshold)
    )
    best = scored.groupBy("vec_id").agg(
        F.max(F.struct(F.col("cos"), (-F.col("bench_id")).alias("nid"))).alias("b")
    )
    return best.select(
        "vec_id",
        (-F.col("b.nid")).cast("long").alias("best_bench"),
        F.col("b.cos").alias("max_cos"),
        F.lit(True).alias("contaminated"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-level decontamination — the SEMANTIC twin of the
    n-gram pass: a paraphrased or translated benchmark question shares
    few n-grams with its training-set leak but sits next to it in
    embedding space, so production pipelines run BOTH passes.

    Returns ``(vec_id, best_bench, max_cos, contaminated)`` — each
    corpus vector's nearest benchmark item by cosine (ties to the
    smaller benchmark id), flagged at ``max_cos >= threshold``.  EVERY
    corpus row gets exactly one verdict, duplicate ids included: a row
    with no finite cosine (a NULL corpus vector, an empty benchmark
    set, or NULL/NaN cosine against every benchmark vector) comes back
    ``(NULL, NULL, false)`` rather than silently vanishing — a
    decontamination pass that DROPS unmatched rows would discard the
    whole corpus on an empty benchmark.

    The benchmark is collected EAGERLY while the plan is built (one
    Spark job): it is thousands of items against a 100 TB corpus, so
    it ships to every task as a small matrix.  Scoring is one Arrow
    pass per corpus batch under the :func:`~fdf_spark.llm.similarity.cosine`
    contract (``similarity._cosines``: sequential dim accumulation,
    6-dp ``F.round``-exact rounding); argmax-first over
    ascending bench ids gives ties to the smaller id.  The corpus
    embeddings are scanned once and never shuffled — the operator has
    no exchange at all.
    For benchmark sets too big to collect, route through
    :func:`ivf_pq_ann_topk` with the benchmark as queries instead.
    Deterministic and oracle-replayable (q153).
    """
    import numpy as np
    import pyarrow as pa

    from fdf_spark.functions.kernels import arrow_kernel, vectors
    from fdf_spark.llm.similarity import _centroids, _cosines

    bench = [(r[0], r[1]) for r in benchmark.select("bench_id", "bench_vec").collect()]
    ids, C, cn = _centroids(bench, "bench_vec")  # ascending bench ids

    def score(batch):
        n = len(batch)
        best, top = np.zeros(n, dtype=np.int64), np.full(n, -np.inf)
        vec = batch["embedding"]
        ok = np.flatnonzero(vec.is_valid().to_numpy(zero_copy_only=False))  # NULL → no score
        if len(ids) and len(ok):
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = _cosines(vectors(vec.take(ok), "embedding"), C, cn)
            # non-finite scores never win; argmax takes the FIRST max
            # over ascending bench ids == ties to the smaller id
            masked = np.where(np.isfinite(cos), cos, -np.inf)
            j = np.argmax(masked, axis=1)
            best[ok], top[ok] = ids[j], masked[np.arange(len(ok)), j]
        miss = ~np.isfinite(top)  # no finite score → NULL, NULL, false
        return {"best_bench": pa.array(best, mask=miss), "max_cos": pa.array(top, mask=miss)}

    best = arrow_kernel(
        corpus.select("vec_id", "embedding"),
        score,
        "vec_id, best_bench long, max_cos double",
    )
    return best.withColumn(
        "contaminated", F.coalesce(F.col("max_cos") >= threshold, F.lit(False))
    )
