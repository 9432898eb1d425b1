"""Operator stress at 100-1000× bench scale on generated data.

``python tools/stress.py`` — generates synthetic inputs with
``spark.range`` (no fixture dependency), runs each core operator at a
row count chosen so the run finishes in tens of seconds on local[32],
and prints one line per operator: rows, wall seconds, Mrows/s.
Results are recorded in SCALE.md; the point is demonstrating the
row-count headroom of each plan shape, not absolute speed.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from fdf_spark.session import get_spark


def timed(name, rows, df):
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"{name:28s} {rows/1e6:8.1f} Mrows {dt:7.2f} s {rows/dt/1e6:8.1f} Mrows/s", flush=True)


def main() -> None:
    spark = get_spark("fdf_stress", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    # warm JVM + python-free paths
    spark.range(0, 1_000_000, 1, 32).groupBy((F.col("id") % 8).alias("k")).count().write.format(
        "noop"
    ).mode("overwrite").save()

    # 1) scan-filter-agg (q01 shape): 200M rows
    n = 200_000_000
    df = spark.range(0, n, 1, 64).select(
        (F.col("id") % 7).alias("flag"),
        (F.col("id") % 1000).cast("double").alias("qty"),
        ((F.col("id") * 37) % 10000).cast("double").alias("price"),
    )
    timed("filter+groupBy agg", n, df.filter(F.col("qty") < 900).groupBy("flag").agg(
        F.sum("qty"), F.avg("price"), F.count("*")))

    # 2) windowed baseline subtraction (A1 shape): 100M rows, 10k series
    n = 100_000_000
    sig = spark.range(0, n, 1, 64).select(
        (F.col("id") % 10_000).alias("series"),
        (F.col("id") / 10_000).cast("double").alias("t"),
        F.sin(F.col("id").cast("double")).alias("v"),
    )
    base = sig.filter(F.col("t") < 500).groupBy("series").agg(F.avg("v").alias("b"))
    timed("baseline subtract (A1)", n, sig.join(F.broadcast(base), "series").select(
        "series", "t", (F.col("v") - F.col("b")).alias("v0")))

    # 3) as-of join (J4 shape): 50M probes against 1M quotes, 1k keys
    from fdf_spark.operators.asof import asof_join

    probes = spark.range(0, 50_000_000, 1, 64).select(
        (F.col("id") % 1_000).alias("k"), (F.col("id") % 997_013).cast("double").alias("t"))
    quotes = spark.range(0, 1_000_000, 1, 32).select(
        (F.col("id") % 1_000).alias("k"), (F.col("id")).cast("double").alias("t"),
        (F.col("id") % 13).cast("double").alias("qv"))
    timed("as-of join (J4)", 50_000_000, asof_join(probes, quotes, on="t", by=["k"]))

    # 4) exact dedup (N1 shape): 50M short strings, ~10% dups
    n = 50_000_000
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"), F.sha2(F.conv((F.col("id") % (n // 10 * 9)).cast("string"), 10, 16), 256).alias("text"))
    from fdf_spark.llm.dedup import exact_dedup

    timed("exact dedup (N1)", n, exact_dedup(docs))

    # 5) minhash signatures (N2 shape): 2M synthetic 12-word docs
    n = 2_000_000
    words = F.transform(F.sequence(F.lit(0), F.lit(11)), lambda i: F.conv(((F.col("id") * 31 + i * 7) % 50_000).cast("string"), 10, 16))
    docs = spark.range(0, n, 1, 64).select(F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text"))
    from fdf_spark.llm.dedup import minhash_signatures

    timed("minhash 16 sigs (N2)", n, minhash_signatures(docs, num_hashes=16))

    # 5b) capped exact-Jaccard (N2): 500k docs that ALL share one
    # boilerplate trigram — uncapped, that one shingle alone would emit
    # 1.25e11 candidate pairs; the default doc-frequency cap drops it and
    # the join touches only the rare-shingle candidates
    n = 500_000
    uniq = F.transform(F.sequence(F.lit(0), F.lit(7)), lambda i: F.conv(((F.col("id") * 13 + i * 3) % 1_000_000).cast("string"), 10, 16))
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("terms of service apply "), F.array_join(uniq, " ")).alias("text"),
    )
    from fdf_spark.llm.dedup import ngram_jaccard_pairs

    timed("capped Jaccard pairs (N2)", n, ngram_jaccard_pairs(docs, threshold=0.2))

    # 5c) capped Jaccard under Zipf-like skew (N2): word w covers ranks
    # [w^2, (w+1)^2) of a 1M-slot draw, so word doc-frequency grows
    # linearly with w (a smooth long tail, not one planted trigram) —
    # every shingle past the 256-doc cap is dropped as one window pass;
    # worst surviving shingle still yields <= 256^2/2 candidate pairs
    n = 500_000
    zipfw = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.conv(
            F.floor(F.sqrt(((F.col("id") * 13 + i * 3) % 1_000_000).cast("double")))
            .cast("string"),
            10,
            16,
        ),
    )
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"), F.array_join(zipfw, " ").alias("text")
    )
    timed("capped Jaccard zipf-skew (N2)", n, ngram_jaccard_pairs(docs, threshold=0.2))

    # 6) CUBE multi-dim agg: 200M rows, 7x3 dims -> one Expand + one shuffle
    n = 200_000_000
    df = spark.range(0, n, 1, 64).select(
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 3).alias("b"),
        (F.col("id") % 1000).cast("double").alias("v"),
    )
    timed("CUBE 2-dim agg (q31)", n, df.cube("a", "b").agg(F.sum("v"), F.count("*")))

    # 7) explode + word count (q34 shape): 20M docs x 12 words
    n = 20_000_000
    words = F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda i: F.conv(((F.col("id") * 31 + i * 7) % 50_000).cast("string"), 10, 16),
    )
    docs = spark.range(0, n, 1, 64).select(F.explode(words).alias("word"))
    timed("explode+word topk (q34)", n * 12, docs.groupBy("word").count().orderBy(
        F.col("count").desc(), "word").limit(20))

    # 8) deterministic hash sample (q37 shape): 200M rows, md5 predicate
    from fdf_spark.llm.hashing import portable_hash60

    n = 200_000_000
    df = spark.range(0, n, 1, 64).select(
        (F.col("id") % 7).alias("flag"), F.col("id").cast("string").alias("k"),
        (F.col("id") % 1000).cast("double").alias("v"))
    timed("hash-Bernoulli 10% sample (q37)", n, df.filter(
        portable_hash60(F.col("k")) % 10 == 0).groupBy("flag").agg(F.sum("v"), F.count("*")))

    # 9) RANGE-frame trailing window (q33 shape): 100M rows, 10k series
    from pyspark.sql import Window as W

    n = 100_000_000
    sig = spark.range(0, n, 1, 64).select(
        (F.col("id") % 10_000).alias("series"),
        (F.col("id") / 10_000).cast("long").alias("t"),
        F.sin(F.col("id").cast("double")).alias("v"),
    )
    w = W.partitionBy("series").orderBy("t").rangeBetween(-30, W.currentRow)
    timed("trailing range window (q33)", n, sig.select(
        "series", "t", F.sum("v").over(w).alias("tr")))

    # 10) stream-stream interval join shape (q55, batch twin): 20M x 20M
    # events over 100k users; the equi-key (user) carries the shuffle,
    # the time bound prunes pairs — same plan a micro-batch executes.
    n = 20_000_000
    clicks = spark.range(0, n, 1, 64).select(
        (F.col("id") % 100_000).alias("u"), F.col("id").alias("cid"),
        (F.col("id") % 999_983).cast("long").alias("ct"))
    buys = spark.range(0, n, 1, 64).select(
        (F.col("id") % 100_000).alias("u"), F.col("id").alias("pid"),
        ((F.col("id") * 7) % 999_983).cast("long").alias("pt"))
    joined = clicks.join(buys, "u").filter(
        (F.col("pt") > F.col("ct")) & (F.col("pt") <= F.col("ct") + 30))
    timed("interval join 100k keys (ST4)", 2 * n, joined)

    # 11) non-uniform-grid gradient (A10): 100M samples, 10k series —
    # one window exchange per series key, all-JVM stencil
    from fdf_spark.operators.gradient import gradient

    n = 100_000_000
    sig = spark.range(0, n, 1, 64).select(
        (F.col("id") % 10_000).alias("series"),
        (F.col("id") / 10_000 + F.sin(F.col("id").cast("double")) * 1e-5).alias("t"),
        F.cos(F.col("id").cast("double")).alias("v"),
    )
    timed("gradient (A10)", n, gradient(sig, value="v", axis="t", by=("series",)))

    # 12) simhash fold (N2): 2M 12-word docs — one doc-level exchange,
    # 48 map-side-combining vote sums (never a posexplode x48)
    from fdf_spark.llm.dedup import simhash

    n = 2_000_000
    words = F.transform(F.sequence(F.lit(0), F.lit(11)), lambda i: F.conv(((F.col("id") * 31 + i * 7) % 50_000).cast("string"), 10, 16))
    docs = spark.range(0, n, 1, 64).select(F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text"))
    timed("simhash 48-bit (N2)", n, simhash(docs))

    # 13) PII redact (N13): 20M ~90-char docs — zero-shuffle codegen
    # regex chain, embarrassingly parallel
    from fdf_spark.llm.pii import detect_pii

    n = 20_000_000
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("lorem ipsum dolor sit amet user"), F.col("id").cast("string"),
            F.lit("@example.com via 10.0.0."), (F.col("id") % 250).cast("string"),
            F.lit(" call +1-555-000-"), F.lpad((F.col("id") % 10_000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    timed("pii detect+redact (N13)", n, detect_pii(docs))

    # 13b) HTML→text extraction (N4, r13): the regexp_replace chain +
    # line-level boilerplate filter — zero-shuffle whole-stage codegen,
    # same discipline as the PII chain above
    from fdf_spark.llm.htmltext import boilerplate_line_filter, html_to_text

    n = 5_000_000
    pages = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit('<html><head><style>p { color: #333; }</style>'
                  '<script>if (a < b && c > d) { track("x"); }</script></head>'
                  '<body>\n<div class="nav">home | about</div>\n<h1>Doc &amp; '),
            F.col("id").cast("string"),
            F.lit(" &lt;draft&gt;</h1>\n<p>lorem ipsum dolor sit amet consectetur "
                  "adipiscing elit sed do eiusmod tempor incididunt ut labore et "
                  "dolore magna aliqua ut enim ad minim veniam</p>\n"
                  "<div>&#39;footer&#39;&nbsp;links</div>\n</body></html>"),
        ).alias("html"),
    )
    timed(
        "html extract (N4)", n,
        pages.select(
            "doc_id",
            F.length(
                boilerplate_line_filter(html_to_text(F.col("html")), 4)
            ).alias("n_chars"),
        ),
    )

    # 14) decontamination (N12): 5M corpus docs probed against a 50k-doc
    # benchmark — benchmark shingles broadcast, corpus never join-shuffled
    from fdf_spark.llm.decontam import decontaminate

    n = 5_000_000
    words = F.transform(F.sequence(F.lit(0), F.lit(9)), lambda i: F.conv(((F.col("id") * 17 + i * 5) % 200_000).cast("string"), 10, 16))
    corpus = spark.range(0, n, 1, 64).select(F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text"))
    bench = corpus.filter(F.col("doc_id") % 100 == 0)
    timed("decontaminate (N12)", n, decontaminate(corpus, bench))

    # 15) span-level substring dedup (N2): 2M 24-word docs, every 100th
    # pair sharing a planted boilerplate run — linear gram count +
    # join-back + per-doc island merge
    from fdf_spark.llm.spans import dup_spans

    n = 2_000_000
    words = F.transform(
        F.sequence(F.lit(0), F.lit(23)),
        lambda i: F.conv(((F.col("id") / 100).cast("long") * 29 + i * 11).cast("string"), 10, 16),
    )
    corpus = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text"))
    timed("dup spans (N2)", n, dup_spans(corpus, n=8))

    # 16) mixture construction (N7): 50M docs over 100 sources — stats
    # agg + broadcast rates, corpus never shuffled
    from fdf_spark.llm.mixing import mix_corpus

    n = 50_000_000
    corpus = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 100).cast("string")).alias("source"),
        F.conv((F.col("id") % 99_991).cast("string"), 10, 16).alias("text"),
    )
    wts = {f"src{i}": (i % 10 + 1) / 10.0 for i in range(100)}
    timed("mixture sample (N7)", n, mix_corpus(corpus, wts, budget_tokens=10_000_000))

    # 16b) semantic dedup (N14): 50k 16-dim vectors over 64 cells —
    # pairwise work is cluster-bounded (~(n/cells)^2/2 * cells cosines,
    # here ~20M), never an all-pairs corpus join (~1.25B); cells scale
    # with the corpus so the per-cell bound holds at any size
    from fdf_spark.llm.similarity import semantic_dedup

    n = 50_000
    # id+1: id=0 would make every sin() term 0 — a zero-norm vector has
    # no cosine (ANSI divide-by-zero); garbage a validate() gate catches
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.sin((F.col("id") + 1).cast("double") * (i.cast("double") + 1.0)),
    )
    corpus = spark.range(0, n, 1, 64).select(F.col("id").alias("vec_id"), vec.alias("embedding"))
    timed("semantic dedup (N14)", n, semantic_dedup(corpus, num_cells=64, threshold=0.95))

    # 16c) CDC merge (N15): 100M-row base, 1M-row change batch (0.5%
    # updates + deletes + inserts) — broadcast joins: base is scanned
    # twice but NEVER shuffled; the only exchanges carry change-sized data
    from fdf_spark.operators.merge import merge_upsert

    n = 100_000_000
    base = spark.range(0, n, 1, 64).select(
        F.col("id").alias("k"), (F.col("id") % 9973).cast("double").alias("v"),
        (F.col("id") % 5).alias("status"))
    chg = spark.range(0, 1_000_000, 1, 8).select(
        (F.col("id") * 97 % n).alias("k"), (F.col("id") % 3).cast("double").alias("v"),
        (F.col("id") % 10 == 0).alias("deleted"))
    # assume_unique: chg keys are provably distinct (id*97, no wrap), and
    # the default eager uniqueness check would otherwise run an untimed
    # aggregation over the change batch during argument evaluation —
    # overstating the merge's own Mrows/s (the check is covered by
    # test_merge.py, not benched here)
    timed(
        "cdc merge (N15)", n,
        merge_upsert(base, chg, ["k"], ["v"], "deleted", on_duplicate_keys="assume_unique"),
    )

    # 16d) inverted index (N10): 5M 12-word docs over a 100k vocab with
    # a planted every-doc stop word — 32 segments keep the hot term's
    # postings build parallel; shuffle rows = (doc, distinct term), not
    # token occurrences
    from fdf_spark.llm.ranking import inverted_index

    n = 5_000_000
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("the"),
            *[F.conv(((F.col("id") * 31 + i) % 100_000).cast("string"), 10, 36) for i in range(11)],
        ).alias("text"),
    )
    timed("inverted index (N10)", n, inverted_index(docs, num_segments=32))

    # 16e) PQ encode + ADC search (N3): 1M 64-dim vectors -> 8 codes,
    # 8 queries — encode is map-side (zero shuffles), the ADC scan reads
    # codes (32x smaller than vectors); only the top-k window shuffles
    from fdf_spark.llm.similarity import pq_ann_topk

    n = 1_000_000
    vec64 = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.sin(F.col("id").cast("double") * (i.cast("double") + 1.0)).cast("float"),
    )
    corpus = spark.range(0, n, 1, 64).select(F.col("id").alias("vec_id"), vec64.alias("embedding"))
    pqq = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    timed("pq adc topk (N3)", n, pq_ann_topk(pqq, corpus, k=10, exact_decimal=False))

    # 16e1b) IVF ANN with MEASURED recall@10 (N3): 2M clustered 16-dim
    # vectors, 64 cells, default nprobe=2 — the probe plan touches
    # ~nprobe/num_cells of the corpus; recall@10 vs brute force over 16
    # sampled queries is computed alongside (brute force is the
    # yardstick, not the timed subject) and floored at 0.9 — the same
    # floor tests/test_llm.py::test_ivf_recall_at_10_floor pins in CI
    from fdf_spark.llm.similarity import cosine_topk, ivf_ann_topk

    n = 2_000_000
    n_cells = 64
    clustered = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: (
            F.sin(((F.col("id") % n_cells) + 1).cast("double") * 37.0 * (j.cast("double") + 1.0))
            + F.lit(0.15) * F.sin((F.col("id") + 1).cast("double") * (j.cast("double") + 3.7))
        ).cast("float"),
    )
    corpus = spark.range(0, n, 1, 64).select(
        F.col("id").alias("vec_id"), clustered.alias("embedding")
    )
    ann_q = corpus.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    t0 = time.perf_counter()
    ann_rows = ivf_ann_topk(ann_q, corpus, k=10, num_cells=n_cells, nprobe=2).collect()
    dt = time.perf_counter() - t0
    exact_rows = cosine_topk(ann_q, corpus, k=10).collect()
    ex, an = {}, {}
    for r in exact_rows:
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in ann_rows:
        an.setdefault(r["query_id"], set()).add(r["vec_id"])
    recall = sum(len(ex[q] & an.get(q, set())) / 10 for q in ex) / len(ex)
    assert recall >= 0.9, recall
    print(
        f"{'ivf ann recall@10 (N3)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s  recall@10={recall:.3f}",
        flush=True,
    )

    # 16e1c) IVF-PQ composition (N3, r8): the FAISS IVFx,PQy layout —
    # IVF prunes candidate COUNT (nprobe=4 of 64 cells), PQ prunes
    # candidate WIDTH (32:1 codes), RESIDUAL encoding (by_residual,
    # FAISS's default) ranks WITHIN the dense clusters, exact re-rank
    # of the top 12k pool. recall@10 vs brute force is measured
    # alongside and floored at 0.9 (raw-vector codes on this dense
    # fixture tie whole clusters and land ~0.2 at 2M — the measured
    # failure by_residual exists to fix; 500k calibration: raw 0.21-
    # 0.76 by fixture shape, residual 1.0). Same floor pinned in CI:
    # tests/test_llm.py::test_ivf_pq_recall_at_10_floor.
    from fdf_spark.llm.similarity import ivf_pq_ann_topk

    n = 2_000_000
    n_cells = 64
    spreadv = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (
            F.sin(((F.col("id") % n_cells) + 1).cast("double") * 37.0 * (j.cast("double") + 1.0))
            + F.lit(0.6) * F.sin((F.col("id") + 1).cast("double") * (j.cast("double") + 3.7))
        ).cast("float"),
    )
    corpus = spark.range(0, n, 1, 64).select(
        F.col("id").alias("vec_id"), spreadv.alias("embedding")
    )
    ann_q = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    t0 = time.perf_counter()
    ann_rows = ivf_pq_ann_topk(
        ann_q, corpus, k=10, num_cells=n_cells, nprobe=4, rerank=12,
        by_residual=True, exact_decimal=False,
    ).collect()
    dt = time.perf_counter() - t0
    exact_rows = cosine_topk(ann_q, corpus, k=10).collect()
    ex, an = {}, {}
    for r in exact_rows:
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in ann_rows:
        an.setdefault(r["query_id"], set()).add(r["vec_id"])
    recall = sum(len(ex[q] & an.get(q, set())) / 10 for q in ex) / len(ex)
    assert recall >= 0.9, recall
    print(
        f"{'ivf-pq topk (N3)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s  recall@10={recall:.3f}",
        flush=True,
    )

    # 16e1d) build-once / probe-many (N3/N17, r9): the inline row above
    # pays the FULL index build on every call; persisting codes +
    # codebooks as a versioned table moves that cost to a one-time
    # write, and each probe is then a manifest-pruned scan of ~nprobe/
    # num_cells of the code files with zero model recomputation — the
    # O(probe) vs O(build) gap every production ANN deployment banks on.
    import shutil
    import tempfile

    from fdf_spark.llm.similarity import ivf_pq_probe_index, write_ivf_pq_index

    d = tempfile.mkdtemp(prefix="stress_ivfpq_idx_")
    try:
        t0 = time.perf_counter()
        write_ivf_pq_index(corpus, d, num_cells=n_cells, by_residual=True)
        dtb = time.perf_counter() - t0
        print(
            f"{'ivf-pq index build (N17)':28s} {n/1e6:8.1f} Mrows {dtb:7.2f} s {n/dtb/1e6:8.1f} Mrows/s",
            flush=True,
        )
        t0 = time.perf_counter()
        probe_rows = ivf_pq_probe_index(
            spark, d, ann_q, k=10, nprobe=4, rerank=12, corpus=corpus,
            exact_decimal=False,
        ).collect()
        dtp = time.perf_counter() - t0
        pr = {}
        for r in probe_rows:
            pr.setdefault(r["query_id"], set()).add(r["vec_id"])
        recall_p = sum(len(ex[q] & pr.get(q, set())) / 10 for q in ex) / len(ex)
        assert recall_p >= 0.9, recall_p
        print(
            f"{'ivf-pq persisted probe (N3)':28s} {n/1e6:8.1f} Mrows {dtp:7.2f} s "
            f"{n/dtp/1e6:8.1f} Mrows/s  recall@10={recall_p:.3f} probe/inline={dtp/dt:.2f}",
            flush=True,
        )
        # the rerank=12 rows above share their dominant cost — the
        # exact re-rank's scan of the RAW 2M-vector corpus (the index
        # stores 32:1 codes only, by design) — so the pair understates
        # the build-once win.  This row is the probe WITHOUT rerank:
        # manifest-pruned codes scan + ADC only, i.e. what a
        # probe-many deployment pays per batch once recall tuning
        # moves into nprobe/codebook size instead of exact re-rank.
        t0 = time.perf_counter()
        adc_rows = ivf_pq_probe_index(
            spark, d, ann_q, k=10, nprobe=4, exact_decimal=False,
        ).collect()
        dta = time.perf_counter() - t0
        ar = {}
        for r in adc_rows:
            ar.setdefault(r["query_id"], set()).add(r["vec_id"])
        recall_a = sum(len(ex[q] & ar.get(q, set())) / 10 for q in ex) / len(ex)
        print(
            f"{'ivf-pq probe adc-only (N3)':28s} {n/1e6:8.1f} Mrows {dta:7.2f} s "
            f"{n/dta/1e6:8.1f} Mrows/s  recall@10={recall_a:.3f} probe/inline={dta/dt:.2f}",
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # 16e2) trained coarse quantizer (N3): 2 Lloyd iterations over 1M
    # 64-dim vectors, 32 cells — Arrow assignment, one per-batch
    # partial-sum pass per iteration
    from fdf_spark.llm.similarity import kmeans_refine

    n = 1_000_000
    vecp = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (F.sin((F.col("id") + 1).cast("double") * (i.cast("double") + 1.0)) + F.lit(2.0)).cast("float"),
    )
    corpus = spark.range(0, n, 1, 64).select(F.col("id").alias("vec_id"), vecp.alias("embedding"))
    t0 = time.perf_counter()
    _, asg = kmeans_refine(corpus, num_cells=32, iters=2)
    asg.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"{'kmeans 2 iters (N3)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s", flush=True)

    # 16e3) PageRank (N16): 100k-node graph, ~5M distinct edges, 3
    # power iterations — rank join + dst agg per round
    from fdf_spark.operators.graph import pagerank

    ne = 5_000_000
    edges = spark.range(0, ne, 1, 64).select(
        (F.col("id") % 100_000).alias("src"), ((F.col("id") * 31 + 7) % 100_000).alias("dst")
    ).distinct()
    timed("pagerank 3 iters (N16)", ne, pagerank(edges, iters=3))

    # 16f) vocab tokenization (N19): 5M 12-word docs, 50k-word vocab map
    # literal broadcast — encode is pure column algebra, zero shuffles
    from fdf_spark.llm.tokenize import tokenize_vocab

    n = 5_000_000
    words = F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda i: F.conv(((F.col("id") * 31 + i * 7) % 50_000).cast("string"), 10, 36),
    )
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )
    import string

    def b36(x):
        digits = string.digits + string.ascii_lowercase
        out = ""
        while True:
            x, r = divmod(x, 36)
            out = digits[r] + out
            if x == 0:
                return out

    vocab = {c: i + 1 for i, c in enumerate(string.ascii_lowercase + string.digits)}
    base = len(vocab) + 1
    # the 50k known words are the lowercase base-36 forms of 0..49999
    vocab.update({b36(w): base + w for w in range(50_000)})
    timed("vocab tokenize (N19)", n, tokenize_vocab(docs, vocab))

    # 17) streaming stateful dedup (ST5): 4 micro-batches x 1.25M rows,
    # 64 state buckets, 20% dups (hash = id % 4M, and 4M % 64 == 0 keeps
    # duplicate hashes in the same bucket) — the vectorized first-seen
    # filter in running_dedup; throughput is pandas-hash-table bound
    import shutil
    import tempfile

    from fdf_spark.streaming.stateful import running_dedup

    n = 5_000_000
    src = tempfile.mkdtemp(prefix="stress_stream_")
    try:
        docs = spark.range(0, n, 1, 32).select(
            (F.col("id") % 4).alias("part"),
            (F.col("id") % 64).cast("int").alias("bucket"),
            F.col("id").alias("doc_id"),
            F.sha2((F.col("id") % (n // 5 * 4)).cast("string"), 256).alias("content_hash"),
        )
        for i in range(4):  # one parquet file per micro-batch
            docs.filter(F.col("part") == i).drop("part").coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = (
            spark.readStream.schema("bucket int, doc_id long, content_hash string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = running_dedup(stream).writeStream.outputMode("append").format("noop").start()
        t0 = time.perf_counter()
        q.processAllAvailable()
        dt = time.perf_counter() - t0
        q.stop()
        print(
            f"{'streaming dedup (ST5)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)

    # 18) Count-Min sketch build (N20): 50M token occurrences over 1M
    # distinct tokens — 4 portable md5 hashes per occurrence fanned out
    # in-row; the shuffle is capped at 4x1024 cells per map partition
    from fdf_spark.llm.sketches import countmin_sketch

    n = 50_000_000
    toks = spark.range(0, n, 1, 64).select(
        F.conv(((F.col("id") * 31) % 1_000_000).cast("string"), 10, 36).alias("token")
    )
    timed("count-min sketch (N20)", n, countmin_sketch(toks))

    # 19) unigram-LM train + score (N21): 5M docs x 12 words (60M
    # tokens, 100k vocab) — train is one token-count groupBy + 1-row
    # totals broadcast; scoring joins the broadcast vocab against the
    # exploded stream and aggs one row per doc
    from fdf_spark.llm.lmscore import score_docs, train_unigram_lm

    n = 5_000_000
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("the"),
            *[F.conv(((F.col("id") * 31 + i) % 100_000).cast("string"), 10, 36) for i in range(11)],
        ).alias("text"),
    )
    lm = train_unigram_lm(docs).persist()
    timed("lm train+score (N21)", n, score_docs(docs, lm))
    lm.unpersist()

    # 20) blocked fuzzy matching (N22): 2M names over 65k blocks
    # (~30 rows/block -> ~29M within-block levenshtein comparisons) —
    # the equi-join on the block key is the only wide operation
    from fdf_spark.operators.linkage import blocked_fuzzy_pairs

    n = 2_000_000
    names = spark.range(0, n, 1, 64).select(
        F.col("id").alias("rid"),
        F.concat_ws(
            " ",
            F.conv((F.col("id") % 65_536).cast("string"), 10, 36),
            F.conv(((F.col("id") * 131) % 99_991).cast("string"), 10, 36),
            F.conv(((F.col("id") * 257) % 99_989).cast("string"), 10, 36),
        ).alias("name"),
    )
    timed(
        "blocked fuzzy ER (N22)",
        n,
        blocked_fuzzy_pairs(
            names, "rid", "name", F.split_part(F.col("name"), F.lit(" "), F.lit(1)), max_dist=3
        ),
    )

    # 21) incremental view refresh (N23): 100M-row base -> 10k-group
    # view, then a 1M-row signed delta folded in — the refresh join
    # touches |delta|+|view| rows only; timing includes the one-off
    # view build to show the full pipeline at base scale
    from fdf_spark.operators.ivm import agg_view, finish_view, incremental_refresh

    n = 100_000_000
    fact = spark.range(0, n, 1, 64).select(
        (F.col("id") % 10_000).cast("string").alias("k"),
        ((F.col("id") * 37) % 1000).cast("double").alias("v"),
    )
    view = agg_view(fact, ["k"], "v")
    delta = spark.range(0, 1_000_000, 1, 32).select(
        (F.col("id") % 10_000).cast("string").alias("k"),
        ((F.col("id") * 53) % 1000).cast("double").alias("v"),
        F.when(F.col("id") % 5 == 0, F.lit(-1)).otherwise(F.lit(1)).alias("sign"),
    )
    timed(
        "ivm refresh (N23)",
        n,
        finish_view(incremental_refresh(view, delta, ["k"], "v"), ["k"]),
    )

    # 22) training-shard assignment (N24): 20M docs -> 256 token-
    # balanced shards — the corpus-side cost is one bucketed window
    # cumsum; the prefix/total relations are 512/1 rows broadcast back
    from fdf_spark.llm.sharding import assign_token_shards

    n = 20_000_000
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.conv(((F.col("id") * 17 + i) % 50_000).cast("string"), 10, 36) for i in range(8)]
        ).alias("text"),
    )
    timed("shard assignment (N24)", n, assign_token_shards(docs, 256, bucket_docs=40_000))

    # 23) logistic-regression training (N25): 3 batch-GD epochs over
    # 20M x 8-dim features — each epoch ONE map-side-combining agg
    # scan of the persisted relation; gradient rows are 9 values
    from fdf_spark.llm.classifier import score_logreg, train_logreg

    n = 20_000_000
    feats = spark.range(0, n, 1, 64).select(
        *[F.sin((F.col("id") + 1).cast("double") * (j + 1)).alias(f"x{j}") for j in range(8)],
        (F.sin((F.col("id") + 1).cast("double")) + F.sin((F.col("id") + 1).cast("double") * 2.0)
         > 0).cast("double").alias("y"),
    ).persist()
    feats.count()  # materialize outside the timed window
    t0 = time.perf_counter()
    w, bias = train_logreg(feats, [f"x{j}" for j in range(8)], "y", iters=3, lr=0.5)
    dt = time.perf_counter() - t0
    print(
        f"{'logreg 3-epoch train (N25)':28s} {3 * n/1e6:8.1f} Mrows {dt:7.2f} s {3 * n/dt/1e6:8.1f} Mrows/s",
        flush=True,
    )
    timed("logreg score (N25)", n, score_logreg(feats, [f"x{j}" for j in range(8)], w, bias))
    feats.unpersist()

    # 24) COMPOSED pipeline (q125 shape at ~1000x driver scale): exact
    # dedup -> decontamination -> weighted mixture -> token-balanced
    # shard assignment over 5M docs in ONE plan. Stage verdicts persist
    # as doc_id-only relations (the q125 discipline); the whole chain
    # stays flat — no stage widens beyond its own shuffle.
    from fdf_spark.llm.decontam import decontaminate
    from fdf_spark.llm.dedup import exact_dedup as _xd
    from fdf_spark.llm.mixing import mix_corpus as _mx
    from fdf_spark.llm.sharding import assign_token_shards as _sh

    n = 5_000_000
    docs = spark.range(0, n, 1, 64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias("source"),
        F.concat_ws(
            " ",
            *[
                F.conv((((F.col("id") % (n // 10 * 9)) * 17 + i) % 50_000).cast("string"), 10, 36)
                for i in range(8)
            ],
        ).alias("text"),  # ~10% exact dups via the id fold
    )
    t0 = time.perf_counter()
    surv = _xd(docs).select("doc_id").persist()
    sdocs = docs.join(surv, "doc_id", "left_semi")
    bench = sdocs.filter(F.col("doc_id") % 97 == 0).limit(20_000)
    prof = decontaminate(sdocs, bench, n=3, threshold=0.2)
    clean_ids = prof.filter(~F.col("contaminated")).select("doc_id").persist()
    clean = sdocs.join(clean_ids, "doc_id", "left_semi")
    mixed = _mx(
        clean,
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
        budget_tokens=10_000_000,
    )
    shards = _sh(mixed, n_shards=64, tokens_col="n_tokens", bucket_docs=40_000)
    shards.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(
        f"{'pipeline dedup->shard (N24)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
        flush=True,
    )
    surv.unpersist()
    clean_ids.unpersist()

    # 25) real compressed-codec decode (N6): encode+decode inside ONE
    # Arrow-batched arrow_kernel — embarrassingly parallel, payload
    # bytes never shuffled. Row counts sized per codec cost (JPEG's
    # python huffman bit-loop is the slow one by design — it is the
    # correctness reference, not a SIMD library).
    from fdf_spark.llm.multimodal import (
        extract_features,
        synth_adpcm_assets,
        synth_gif_assets,
        synth_jpeg_assets,
        synth_png_assets,
    )

    # 26) webdataset tar-shard container (N24): 1M two-member samples
    # written by parallel shard writers then read back + regrouped —
    # shards are the parallelism unit, payload bytes never shuffle
    # until the sample regroup
    import shutil
    import tempfile

    from fdf_spark.llm.webdataset import group_samples, read_webdataset, write_webdataset

    n = 1_000_000
    wdocs = spark.range(0, n, 1, 64).select(
        F.format_string("%08d", F.col("id")).alias("key"),
        F.sha2(F.col("id").cast("string"), 256).alias("text"),
    )
    wmembers = (
        wdocs.select("key", F.lit("txt").alias("ext"), F.encode("text", "UTF-8").alias("payload"))
        .unionByName(
            wdocs.select("key", F.lit("cls").alias("ext"), F.encode(F.substring("text", 1, 2), "UTF-8").alias("payload"))
        )
        .repartition(64, "key")
        .sortWithinPartitions("key")
    )
    wpath = tempfile.mkdtemp(prefix="fdf_stress_wds_")
    t0 = time.perf_counter()
    write_webdataset(wmembers, wpath, shard_max_bytes=32 * 1024 * 1024).collect()
    group_samples(read_webdataset(spark, wpath)).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(
        f"{'webdataset write+read (N24)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
        flush=True,
    )
    shutil.rmtree(wpath, ignore_errors=True)

    ids = lambda n: spark.range(0, n, 1, 64).select(F.col("id").alias("doc_id"))
    timed("png decode (N6)", 100_000, extract_features(synth_png_assets(ids(100_000)), codec="png"))
    timed("jpeg decode (N6)", 20_000, extract_features(synth_jpeg_assets(ids(20_000)), codec="jpeg"))
    timed("gif decode (N6)", 100_000, extract_features(synth_gif_assets(ids(100_000)), codec="gif"))
    timed("adpcm decode (N6)", 100_000, extract_features(synth_adpcm_assets(ids(100_000)), codec="adpcm"))
    from fdf_spark.llm.multimodal import synth_flac_assets

    timed("flac decode (N6)", 50_000, extract_features(synth_flac_assets(ids(50_000)), codec="flac"))
    from fdf_spark.llm.multimodal import synth_mpeg1_assets

    timed("mpeg1 decode (N6)", 100_000, extract_features(synth_mpeg1_assets(ids(100_000)), codec="mpeg1"))
    from fdf_spark.llm.multimodal import resize_images

    # real resize = decode + resample + re-encode + decode (two full
    # codec passes around the resample) — same zero-shuffle shape
    timed(
        "png resize 5x3 (N6)",
        50_000,
        extract_features(
            resize_images(synth_png_assets(ids(50_000)), 5, 3, codec="png"),
            codec="png",
        ),
    )
    from fdf_spark.llm.multimodal import frame_sample_features, synth_gif_anim_assets

    # pruned frame sampling: container walk per asset (cheap byte
    # scan), LZW decode only for frames 0,2,4,… — cost ∝ sampled
    timed(
        "gif frame sample /2 (N6)",
        50_000,
        frame_sample_features(synth_gif_anim_assets(ids(50_000)), every_n=2),
    )
    from fdf_spark.llm.multimodal import scene_cuts, synth_gif_scene_assets

    # scene detection decodes every frame (deltas need both
    # neighbours) but sequentially — peak memory 2 frames/asset
    timed(
        "gif scene cuts (N6)",
        50_000,
        scene_cuts(synth_gif_scene_assets(ids(50_000)), threshold=40.0),
    )
    from fdf_spark.llm.multimodal import decode_audit, synth_mixed_assets

    # poison-safe ingestion: 5 rotating real formats + planted garbage
    # and truncations — quarantine rows, zero task failures
    timed(
        "decode audit mixed (N6)",
        100_000,
        decode_audit(synth_mixed_assets(ids(100_000))),
    )
    from fdf_spark.llm.multimodal import synth_wav_voice_assets, voice_segments

    # VAD segmentation: map-side window energies, island merge on
    # |windows| verdict rows — the exchanges never carry samples
    timed(
        "wav voice segments (N6)",
        100_000,
        voice_segments(synth_wav_voice_assets(ids(100_000)), win=16, threshold=50.0),
    )
    from fdf_spark.llm.multimodal import image_dhash, synth_png_dup_assets

    # perceptual dedup: decode+hash map-side; the dedup groupBy
    # shuffles 8-byte hashes, never pixels
    timed(
        "image dhash dedup (N6)",
        100_000,
        image_dhash(synth_png_dup_assets(ids(100_000)))
        .groupBy("dhash")
        .agg(F.count("*").alias("n")),
    )
    from fdf_spark.llm.dedup import hamming_near_dups
    from fdf_spark.llm.multimodal import synth_png_near_assets

    # near-dup sweep: decode+hash once (materialized), then the exact
    # band join — shuffles (hash, band) rows, never pixels; classes
    # scale with the corpus (20k classes of ~5) so the pair space is
    # Σ|class|², bounded, as in a real crawl
    near_hashes = image_dhash(
        synth_png_near_assets(ids(100_000), classes=20_000, textured=True)
    ).localCheckpoint()
    timed(
        "image hamming near-dup (N2)",
        100_000,
        hamming_near_dups(near_hashes, "dhash", "asset_id", max_dist=4, bands=7),
    )

    # 26b) the boilerplate shape (r9): 1M documents whose fingerprints
    # collapse to ~100k distinct values (10-member dup classes) plus
    # ONE 10k-member boilerplate group.  Uncollapsed, the band join
    # runs at DOCUMENT granularity — the boilerplate group alone is
    # bands × k² = 5e8 candidate rows, the class background ~5e9 —
    # while the collapse bands one narrow row per distinct fingerprint
    # (candidates ~|distinct fp| + bucket collisions ≈ 5e7) and only
    # the OUTPUT expansion is quadratic in group size, because the
    # answer is (~5.5e7 pairs, written to noop like every row here).
    boiler = spark.range(0, 1_000_000, 1, 32).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 100 == 0, F.lit(0x0F0F0F0F0F0F))
        .otherwise(F.pmod(F.xxhash64(F.col("id") % 100_000), F.lit(1 << 50)))
        .alias("fp"),
    ).localCheckpoint()
    n_distinct = boiler.select("fp").distinct().count()
    assert n_distinct < 110_000, n_distinct  # 1M docs -> ~100k distinct fps
    timed(
        "hamming boilerplate group (N2)",
        1_000_000,
        hamming_near_dups(boiler, "fp", "doc_id", max_dist=4, bands=5, band_bits=10),
    )

    # 27) bloom join-prune (N5): build over 1M keys, collect the dense
    # vector (m/32 longs — bounded metadata), prune a 100M-row probe
    # side as a PURE map-side expression (zero shuffle, zero join)
    from fdf_spark.llm.sketches import bloom_build, bloom_collect, bloom_prefilter

    m_bits = 1 << 24
    small = spark.range(0, 1_000_000, 1, 32).select(
        (F.col("id") * 97).cast("string").alias("key")
    )
    t0 = time.perf_counter()
    words = bloom_collect(bloom_build(small, m_bits=m_bits, k=5), m_bits=m_bits)
    n = 100_000_000
    big = spark.range(0, n, 1, 64).select(F.col("id").cast("string").alias("key"))
    bloom_prefilter(big, words, "key", m_bits=m_bits, k=5).write.format("noop").mode(
        "overwrite"
    ).save()
    dt = time.perf_counter() - t0
    print(
        f"{'bloom build+prefilter (N5)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
        flush=True,
    )

    # 28) HLL distinct sketch (N5): 200M rows, 20M distinct — one
    # map-side-combining register groupBy, shuffle bounded at 2^12 rows
    from fdf_spark.llm.sketches import hll_estimate, hll_sketch

    n = 200_000_000
    keys = spark.range(0, n, 1, 64).select(
        (F.col("id") % 20_000_000).cast("string").alias("k")
    )
    t0 = time.perf_counter()
    est = hll_estimate(hll_sketch(keys, "k")).collect()[0][0]
    dt = time.perf_counter() - t0
    print(
        f"{'hll distinct sketch (N5)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
        flush=True,
    )

    # 29) quantile sketch (N5): 100M rows sampled to k=1024 via ONE
    # TakeOrderedAndProject (each map task emits <= k rows) across 8
    # shard sketches merged exactly; estimation sorts <= k rows
    from fdf_spark.llm.sketches import (
        quantile_estimate,
        quantile_merge,
        quantile_sketch,
    )

    n = 100_000_000
    vals = spark.range(0, n, 1, 64).select(
        F.col("id").alias("rid"),
        ((F.col("id") * 2654435761) % 1_000_003).cast("double").alias("v"),
    )
    t0 = time.perf_counter()
    shards = [
        quantile_sketch(vals.filter(F.col("rid") % 8 == i), "v", "rid")
        for i in range(8)
    ]
    qs = quantile_estimate(quantile_merge(*shards), [0.25, 0.5, 0.99]).collect()
    dt = time.perf_counter() - t0
    med = next(r.est for r in qs if r.q == 0.5)
    # v is ~uniform on [0, 1e6): the sampled median must land well
    # inside the distribution (rank error ~1.6% at k=1024)
    assert 420_000 < med < 580_000, med
    print(
        f"{'quantile sketch x8 (N5)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
        flush=True,
    )

    # 30) versioned-table OPTIMIZE + Z-ORDER (N17): 20M rows landed as
    # 64 unclustered files, rewritten range-clustered on the Morton key
    # as a new snapshot — one scan + one range exchange of the rewritten
    # bytes; manifest pruning on a narrow x slice must skip most files
    import os
    import shutil
    import tempfile

    from fdf_spark.sources.versioned import (
        _read_manifest,
        commit_version,
        optimize,
    )

    d = tempfile.mkdtemp(prefix="stress_optimize_")
    try:
        p = os.path.join(d, "t")
        n = 20_000_000
        base = spark.range(0, n, 1, 64).select(
            (F.col("id") % 4096).alias("x"),
            (F.col("id") / 4096).cast("bigint").alias("y"),
            F.col("id").alias("payload"),
        )
        commit_version(base, p)
        t0 = time.perf_counter()
        # 4 MB targets -> ~32 z-ordered files, so the range split cuts
        # x on >= 2 interleaved bits (8 x 16 MB would cut x on only ONE
        # bit and a narrow x slice necessarily hits half the files)
        res = optimize(spark, p, zorder=["x", "y"], target_bytes=4 * 1024 * 1024)
        dt = time.perf_counter() - t0
        m = _read_manifest(p, res["version"])
        hit = sum(
            1
            for f in m["files"]
            if (st := m["stats"].get(f, {}).get("x")) is None
            or not (st[1] < 100 or st[0] > 130)
        )
        assert hit < len(m["files"]) / 2, (hit, len(m["files"]))
        print(
            f"{'optimize zorder (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # 30b) SCOPED optimize (r14): the same shape, but a WHERE predicate
    # bounds the rewrite to the hot tail of a range-clustered layout —
    # cost tracks the scoped bytes, the other files carry over
    d = tempfile.mkdtemp(prefix="stress_sopt_")
    try:
        p = os.path.join(d, "t")
        n = 20_000_000
        base = spark.range(0, n, 1, 64).select(
            F.col("id").alias("k"),
            ((F.col("id") * 13) % 97).cast("double").alias("v"),
        )
        commit_version(base.repartitionByRange(64, "k"), p)
        t0 = time.perf_counter()
        res = optimize(
            spark, p, zorder=["k", "v"], where=f"k >= {n * 15 // 16}",
            target_bytes=4 * 1024 * 1024,
        )
        dt = time.perf_counter() - t0
        print(
            f"{'optimize zorder scoped (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{n/dt/1e6:8.1f} Mrows/s rewritten={res['rewritten']} of 64",
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # 31) bucketed co-located fact-fact join (S10/q148): pay the
    # clustering write ONCE, then the repeated join runs with ZERO
    # Exchange — measured against the same join over plain parquet
    # (both sides shuffled), the layout's counterfactual
    from fdf_spark.operators.bucketed import bucketed_fact_join, write_bucketed

    d = tempfile.mkdtemp(prefix="stress_bucketed_")
    try:
        nl, nr = 40_000_000, 10_000_000
        li = spark.range(0, nl, 1, 64).select(
            (F.col("id") % nr).alias("lk"), ((F.col("id") * 13) % 97).cast("double").alias("lv")
        )
        orders = spark.range(0, nr, 1, 64).select(
            F.col("id").alias("rk"), (F.col("id") % 5).alias("pri")
        )
        li.write.parquet(os.path.join(d, "pl"))
        orders.write.parquet(os.path.join(d, "pr"))
        pl, pr = spark.read.parquet(os.path.join(d, "pl")), spark.read.parquet(os.path.join(d, "pr"))
        timed(
            "plain shuffled join (S10)",
            nl,
            pl.hint("merge").join(pr, pl["lk"] == pr["rk"]).groupBy("pri").agg(F.sum("lv")),
        )
        t0 = time.perf_counter()
        bl = write_bucketed(spark, li, "lk", 32, "stress_bkt_l", os.path.join(d, "bl"))
        br = write_bucketed(spark, orders, "rk", 32, "stress_bkt_r", os.path.join(d, "br"))
        dt = time.perf_counter() - t0
        print(
            f"{'bucketed write (S10)':28s} {(nl + nr)/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{(nl + nr)/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
        joined = bucketed_fact_join(bl, br, "lk", "rk")
        assert "Exchange" not in joined._jdf.queryExecution().executedPlan().toString()
        timed("bucketed join (S10)", nl, joined.groupBy("pri").agg(F.sum("lv")))

        # 31b) the layout's skew boundary (SCALE.md): bucketed SMJ has
        # no Exchange for AQE to split, so ONE hot key = one hot bucket
        # and the join's wall clock is that straggler bucket; the salted
        # fallback (operators/skew.py, q23's pattern) pre-splits the hot
        # key at the cost of re-introducing a (salted) shuffle — the
        # right trade exactly when a key's share outweighs the exchange
        hot = spark.range(0, nl, 1, 64).select(
            F.when(F.col("id") % 5 == 0, F.lit(7)).otherwise(F.col("id") % nr).alias("lk"),
            ((F.col("id") * 13) % 97).cast("double").alias("lv"),
        )
        bh = write_bucketed(spark, hot, "lk", 32, "stress_bkt_hot", os.path.join(d, "bh"))
        hot_joined = bucketed_fact_join(bh, br, "lk", "rk")
        assert "Exchange" not in hot_joined._jdf.queryExecution().executedPlan().toString()
        timed("bucketed join hot-key (S10)", nl, hot_joined.groupBy("pri").agg(F.sum("lv")))
        from fdf_spark.operators.skew import salted_join

        ph = spark.read.parquet(os.path.join(d, "bh"))
        timed(
            "salted join hot-key (S10)",
            nl,
            salted_join(ph, pr.withColumnRenamed("rk", "lk"), ["lk"], salt_n=16)
            .groupBy("pri")
            .agg(F.sum("lv")),
        )
    finally:
        # catalog entries must die WITH the scratch dir: a throw above
        # would otherwise leave tables pointing at deleted files and a
        # same-session re-run failing on saveAsTable (ADVICE r8)
        for t in ("stress_bkt_l", "stress_bkt_r", "stress_bkt_hot"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(d, ignore_errors=True)

    # 32) deletion-vector ledger (N15/N17, r10): the write-amplification
    # trade MEASURED.  A 1-row delete under copy-on-write rewrites the
    # touched files (here: the whole 20M-row table — merge_versioned is
    # an overwrite commit); the SAME delete as a deletion-vector commit
    # writes one tiny tombstone and rewrites nothing.  The read-side
    # price of the tombstone mask and the one-time OPTIMIZE fold that
    # repays it are measured alongside — the full MoR lifecycle.
    import os

    from fdf_spark.sources.versioned import (
        commit_version,
        delete_where,
        merge_versioned,
        read_version,
    )
    from fdf_spark.sources.versioned import optimize as vt_optimize

    d = tempfile.mkdtemp(prefix="stress_dv_")
    try:
        n = 20_000_000
        base = spark.range(0, n, 1, 64).select(
            F.col("id").alias("k"),
            ((F.col("id") * 13) % 97).cast("double").alias("v"),
            (F.col("id") % 1000).alias("g"),
        )
        p = os.path.join(d, "t")
        commit_version(base.repartition(8), p)
        ch = spark.createDataFrame(
            [(12345, None, None, True)], "k long, v double, g long, deleted boolean"
        )
        t0 = time.perf_counter()
        merge_versioned(spark, p, ch, ["k"], delete_flag="deleted")
        dt = time.perf_counter() - t0
        print(
            f"{'cow 1-row delete (N15)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
        t0 = time.perf_counter()
        delete_where(spark, p, "k = 54321")
        dt = time.perf_counter() - t0
        print(
            f"{'dv 1-row delete (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
        t0 = time.perf_counter()
        delete_where(spark, p, "k % 100 = 7")  # 1%, scattered — every file affected
        dt = time.perf_counter() - t0
        print(
            f"{'dv 1% scattered delete (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
        timed(
            "dv masked read (N17)", n,
            read_version(spark, p).groupBy("g").agg(F.sum("v")),
        )
        t0 = time.perf_counter()
        vt_optimize(spark, p, target_bytes=512 << 20, small_bytes=1)
        dt = time.perf_counter() - t0
        print(
            f"{'dv optimize fold (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
        timed(
            "dv folded read (N17)", n,
            read_version(spark, p).groupBy("g").agg(F.sum("v")),
        )

        # 32b) equality-delete tier (N17, r11): delete 100k KEYS with
        # ZERO base-table scan — delete_keys writes the key relation
        # itself (O(keys) bytes) and scopes it by footer stats; the
        # read side pays one broadcast anti-join on the key columns
        # until the next OPTIMIZE fold.  Run on the just-folded table
        # so the wall isolates the eq mask, not leftover positional DVs.
        from fdf_spark.sources.versioned import delete_keys

        keys = spark.range(0, 100_000, 1, 8).select((F.col("id") * 199 + 11).alias("k"))
        t0 = time.perf_counter()
        delete_keys(spark, p, keys, ["k"])
        dt = time.perf_counter() - t0
        print(
            f"{'eq-delete 100k keys (N17)':28s} {0.1:8.1f} Mrows {dt:7.2f} s {0.1/dt:8.1f} Mrows/s",
            flush=True,
        )
        timed(
            "eq masked read (N17)", n,
            read_version(spark, p).groupBy("g").agg(F.sum("v")),
        )

        # 32c) row-level UPDATE (N15/q167, r11): one matched row —
        # old image tombstoned, new image appended, ONE manifest; the
        # write is O(matched rows) while the CoW counterfactual above
        # rewrites the table.
        from fdf_spark.sources.versioned import update_where

        t0 = time.perf_counter()
        update_where(spark, p, "k = 424242", {"v": "v + 1.0"})
        dt = time.perf_counter() - t0
        print(
            f"{'mor 1-row update (N15)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )

        # 32c2) LOST-RACE rebase (N15, r13 — VERDICT r12 #8): a
        # merge_on_read losing the publish race to a BLIND APPEND.
        # Disjoint keys → the rebase is MANIFEST-ONLY (probes zero
        # files); an overlapping key → the rebase re-probes ONLY the
        # head-added files (never the table), tombstones the racer's
        # row and restages a corrected image.  Mode + probed_files
        # printed in-run; the uncontended rows above are the baseline.
        import fdf_spark.sources.versioned as V
        from fdf_spark.sources.versioned import merge_on_read

        # the UNCONTENDED twin first: the same 2-key merge with no race
        # — its wall is the merge's own masked match scans (this table
        # is unclustered, bloom-less and carries an eq mask by now), so
        # the race rows' delta below isolates the RECOVERY cost alone
        ch0 = spark.createDataFrame(
            [(555_555, 1.0, 1), (666_666, 2.0, 1)], "k long, v double, g long"
        )
        t0 = time.perf_counter()
        merge_on_read(spark, p, ch0, ["k"])
        dt = time.perf_counter() - t0
        print(
            f"{'mor merge uncontended (N15)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )

        def _merge_racing_append(label, appender, merge_keys):
            ch = spark.createDataFrame(
                [(k, float(k % 97), 1) for k in merge_keys],
                "k long, v double, g long",
            )
            orig = V._publish_manifest_atomic
            state = {"raced": False}

            def racing(staged, dst):
                if not state["raced"]:
                    state["raced"] = True
                    V._publish_manifest_atomic = orig  # racer publishes clean
                    appender()
                return orig(staged, dst)

            V._publish_manifest_atomic = racing
            try:
                t0 = time.perf_counter()
                v = merge_on_read(spark, p, ch, ["k"])
                dt = time.perf_counter() - t0
            finally:
                V._publish_manifest_atomic = orig
            rb = _read_manifest(p, v)["meta"]["merge_on_read"].get("rebase") or {}
            mode = "manifest-only" if rb.get("probed_files", 0) == 0 else "re-probe"
            print(
                f"{label:28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s "
                f"rebase={mode} probed_files={rb.get('probed_files', 0)}",
                flush=True,
            )

        from fdf_spark.sources.versioned import _read_manifest

        _merge_racing_append(
            "mor merge racing append (N15)",
            lambda: commit_version(
                spark.createDataFrame([(900_000_001, 1.0, 2)], "k long, v double, g long"),
                p, mode="append",
            ),
            [111_111, 222_222],
        )
        _merge_racing_append(
            "mor merge racing overlap (N15)",
            lambda: commit_version(
                spark.createDataFrame([(333_333, -1.0, 3)], "k long, v double, g long"),
                p, mode="append",
            ),
            [333_333, 444_444],
        )

        # 32d) write-audit-publish lifecycle (N17/q163, VERDICT r11 #8):
        # stage a 1M-row batch invisibly on the 20M-row table, audit-read
        # exactly the staged bytes, then fast-forward it into the chain.
        # The PUBLISH wall is the manifest-only claim, measured: it moves
        # zero data bytes regardless of batch or table size.
        from fdf_spark.sources.versioned import (
            publish_staged,
            read_staged,
            stage_commit,
        )

        nb = 1_000_000
        batch = spark.range(n, n + nb, 1, 16).select(
            F.col("id").alias("k"),
            ((F.col("id") * 13) % 97).cast("double").alias("v"),
            (F.col("id") % 1000).alias("g"),
        )
        t0 = time.perf_counter()
        stage_commit(batch, p, wap_id="stress-wap")
        dt = time.perf_counter() - t0
        print(
            f"{'wap stage 1M batch (N17)':28s} {nb/1e6:8.1f} Mrows {dt:7.2f} s {nb/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
        t0 = time.perf_counter()
        # the staged manifest is the FULL would-be snapshot (parent
        # files + batch) — the audit reads exactly what would land
        n_aud = read_staged(spark, p, "stress-wap").count()
        assert n_aud >= nb
        dt = time.perf_counter() - t0
        print(
            f"{'wap audit read (N17)':28s} {nb/1e6:8.1f} Mrows {dt:7.2f} s {nb/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
        t0 = time.perf_counter()
        publish_staged(spark, p, "stress-wap")
        dt = time.perf_counter() - t0
        print(
            f"{'wap publish manifest-only':28s} {nb/1e6:8.1f} Mrows {dt:7.2f} s {nb/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )

        # 32e) CHECK-constraint write overhead (N18/q168, VERDICT r11
        # #8): the same 5M-row append with zero vs THREE attached
        # constraints — the gate is one combined agg over the new rows,
        # so the delta between the two walls is the whole price.
        from fdf_spark.sources.versioned import add_check_constraint

        nc = 5_000_000

        def _batch(lo):
            return spark.range(lo, lo + nc, 1, 32).select(
                F.col("id").alias("k"),
                ((F.col("id") * 13) % 97).cast("double").alias("v"),
                (F.col("id") % 1000).alias("g"),
            )

        t0 = time.perf_counter()
        commit_version(_batch(100_000_000), p, mode="append")
        dt = time.perf_counter() - t0
        print(
            f"{'append 5M no constraints':28s} {nc/1e6:8.1f} Mrows {dt:7.2f} s {nc/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
        for cname, cexpr in (
            ("v_bounded", "v >= 0 AND v < 97"),
            ("k_present", "k IS NOT NULL"),
            ("g_range", "g BETWEEN 0 AND 999"),
        ):
            add_check_constraint(spark, p, cname, cexpr)
        t0 = time.perf_counter()
        commit_version(_batch(200_000_000), p, mode="append")
        dt = time.perf_counter() - t0
        print(
            f"{'append 5M, 3 constraints':28s} {nc/1e6:8.1f} Mrows {dt:7.2f} s {nc/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # 33) continuous-ingest near-dup cadence (N2/q158, VERDICT r9 #8):
    # 100k-doc ingests probing landed fingerprint indexes of 1M and 10M
    # — per-ingest cost is one scan of the INDEX (16 B fingerprints,
    # orders below corpus bytes) plus the batch fingerprint + the
    # asymmetric banded probe, never landed×landed.  Bands are sized to
    # the corpus (3×20-bit bands per word — ~10 landed rows per bucket
    # value at 10M; pigeonhole keeps dist<=5 exact), the tuning knob a
    # production deployment turns as the index grows.  The repeat row
    # pins the FLAT cadence: the second consecutive ingest against the
    # just-grown index costs the same.
    from fdf_spark.llm.dedup import incremental_near_dup

    d = tempfile.mkdtemp(prefix="stress_incr_")
    try:
        def synth_fps(lo: int, hi: int):
            w = lambda salt: F.pmod(  # noqa: E731
                F.xxhash64((F.col("id") + salt).cast("string")), F.lit(1 << 60)
            )
            return spark.range(lo, hi, 1, 64).select(
                F.col("id").alias("doc_id"), F.array(w(0), w(1_000_000_007)).alias("simhash")
            )

        def batch_docs(lo: int, hi: int):
            words = F.transform(
                F.sequence(F.lit(0), F.lit(11)),
                lambda i: F.conv(((F.col("id") * 31 + i * 7) % 5_000_000).cast("string"), 10, 16),
            )
            return spark.range(lo, hi, 1, 32).select(
                F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
            )

        kw = dict(max_dist=5, bands_per_word=3, band_bits=20)
        p1, p10 = os.path.join(d, "i1"), os.path.join(d, "i10")
        commit_version(synth_fps(0, 1_000_000), p1)
        commit_version(synth_fps(0, 10_000_000), p10)
        b = 100_000
        for label, path, lo in (
            ("incr near-dup vs 1M landed (N2)", p1, 100_000_000),
            ("incr near-dup vs 10M landed (N2)", p10, 100_000_000),
            ("incr near-dup repeat ingest (N2)", p10, 200_000_000),
        ):
            t0 = time.perf_counter()
            incremental_near_dup(batch_docs(lo, lo + b), path, **kw).write.format(
                "noop"
            ).mode("overwrite").save()
            dt = time.perf_counter() - t0
            print(
                f"{label:28s} {b/1e6:8.1f} Mrows {dt:7.2f} s {b/dt/1e6:8.1f} Mrows/s",
                flush=True,
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # 34) bucket-transform lookup ledger (N17/q165, r11): the lookup
    # shape range stats cannot prune.  A 20M-row table committed under
    # spec bucket(32, k) carries hidden derived-column stats, so a
    # 3-key point probe opens ~3/32 of the files; the SAME probe over
    # an unclustered copy must scan everything — the counterfactual.
    from fdf_spark.sources.versioned import set_partition_spec

    d = tempfile.mkdtemp(prefix="stress_bucket_")
    try:
        n = 20_000_000
        base = spark.range(0, n, 1, 64).select(
            (F.xxhash64(F.col("id").cast("string")) % n).alias("k"),
            ((F.col("id") * 13) % 97).cast("double").alias("v"),
        )
        pb, pp = os.path.join(d, "bkt"), os.path.join(d, "plain")
        commit_version(base.limit(0), pb)
        set_partition_spec(pb, ["bucket(32, k)"])
        t0 = time.perf_counter()
        commit_version(base, pb, mode="append")
        dt = time.perf_counter() - t0
        print(
            f"{'bucket(32) spec commit (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
        commit_version(base.repartition(32), pp)
        keys = [r.k for r in read_version(spark, pb).limit(3).collect()]
        for label, path in (
            ("bucket 3-key lookup (N17)", pb),
            ("plain 3-key lookup (N17)", pp),
        ):
            probe = read_version(spark, path, prune=("k", keys))
            n_read = len(probe.inputFiles())
            t0 = time.perf_counter()
            probe.filter(F.col("k").isin(keys)).groupBy().agg(
                F.count("*"), F.sum("v")
            ).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            print(
                f"{label:28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s "
                f"files_read={n_read}",
                flush=True,
            )

        # 34b) bloom-skip tier (r12): sidecars on the UNCLUSTERED copy
        # turn the same 3-key probe into a few-file read WITHOUT
        # re-clustering anything — the point-lookup answer for columns
        # the layout does not serve (sources/bloomskip.py / q171).
        from fdf_spark.sources.bloomskip import build_blooms

        t0 = time.perf_counter()
        build_blooms(spark, pp, ["k"])
        dt = time.perf_counter() - t0
        print(
            f"{'bloom sidecar build (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
        probe = read_version(spark, pp, prune=("k", keys))
        n_read = len(probe.inputFiles())
        t0 = time.perf_counter()
        probe.filter(F.col("k").isin(keys)).groupBy().agg(
            F.count("*"), F.sum("v")
        ).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        print(
            f"{'bloom 3-key lookup (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{n/dt/1e6:8.1f} Mrows/s files_read={n_read}",
            flush=True,
        )

        # 34c) bloom BACKFILL at 2× with BOUNDED DRIVER MEMORY (r13 —
        # VERDICT r12 #1): sidecars over a 40M-row/64-file corpus are
        # written EXECUTOR-SIDE (tmp + os.replace next to each data
        # file); the driver collect carries one (file, built) row per
        # file — peak-RSS delta printed in-run as the boundedness
        # evidence (the pre-r13 design collected every bitset).
        import resource

        p40 = os.path.join(d, "p40")
        n40 = 40_000_000
        commit_version(
            spark.range(0, n40, 1, 64).select(
                (F.xxhash64(F.col("id").cast("string")) % n40).alias("k"),
                ((F.col("id") * 13) % 97).cast("double").alias("v"),
            ).repartition(64),
            p40,
        )
        rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        t0 = time.perf_counter()
        res = build_blooms(spark, p40, ["k"])
        dt = time.perf_counter() - t0
        rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        print(
            f"{'bloom backfill 40M (N17)':28s} {n40/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{n40/dt/1e6:8.1f} Mrows/s files={res['built']} "
            f"driver_peak_rss_delta={(rss1 - rss0) / 1024:.0f} MB "
            f"(collect: 2 tiny cols/file)",
            flush=True,
        )
        keys40 = [r.k for r in read_version(spark, p40).limit(3).collect()]
        probe = read_version(spark, p40, prune=("k", keys40))
        n_read = len(probe.inputFiles())
        t0 = time.perf_counter()
        probe.filter(F.col("k").isin(keys40)).groupBy().agg(
            F.count("*"), F.sum("v")
        ).write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        print(
            f"{'bloom 3-key lookup 40M (N17)':28s} {n40/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{n40/dt/1e6:8.1f} Mrows/s files_read={n_read}",
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # 35) manifest-scaling ledger (N17, r11 delta manifests): commit
    # metadata must be O(changed files), never O(table files).  Build a
    # 512-file table (8 appends × 64 files), then append ONE more file:
    # the published delta manifest is KBs while the equivalent full
    # (checkpoint) form is the whole file list + stats — the difference
    # that at 1M files is ~100 MB vs KBs per commit.  RESTORE of the
    # same table is manifest-only: head resets to v1's exact state with
    # zero data bytes moved, at any table size.
    import json as _json

    from fdf_spark.sources.versioned import (
        _encode_manifest_delta,
        _read_manifest,
        list_versions,
        restore_table,
    )

    d = tempfile.mkdtemp(prefix="stress_manifest_")
    try:
        p = os.path.join(d, "t")
        for i in range(8):
            commit_version(
                spark.range(i * 1_000_000, (i + 1) * 1_000_000, 1, 64).select(
                    F.col("id").alias("k"), (F.col("id") % 97).alias("v")
                ),
                p,
                mode="append" if i else "overwrite",
            )
        head = list_versions(p)[-1]
        t0 = time.perf_counter()
        commit_version(
            spark.range(0, 1000, 1, 1).select(F.col("id").alias("k"), (F.col("id") % 97).alias("v")),
            p,
            mode="append",
        )
        dt = time.perf_counter() - t0
        m = _read_manifest(p, head + 1)
        delta_b = len(_json.dumps(_encode_manifest_delta(m, _read_manifest(p, head))))
        full_b = len(_json.dumps(m))
        print(
            f"{'1-file append to 512 files (N17)':28s} {0.001:8.1f} Mrows {dt:7.2f} s "
            f"{0.001/dt:8.1f} Mrows/s delta manifest {delta_b/1024:.1f} KB vs full {full_b/1024:.0f} KB "
            f"({full_b/delta_b:.0f}×)",
            flush=True,
        )
        # 35b) maintenance PLANNER over the 513-file table (r13 —
        # VERDICT r12 #6): one metadata-only relation recommending the
        # outstanding actions; wall is manifest decode + sidecar stats,
        # zero data reads at any table size.
        from fdf_spark.sources.metatables import plan_maintenance

        t0 = time.perf_counter()
        acts = plan_maintenance(spark, p, retain_last_s=0.0).collect()
        dt = time.perf_counter() - t0
        print(
            f"{'plan_maintenance 513 files':28s} {8.0:8.1f} Mrows {dt:7.2f} s "
            f"{8.0/dt:8.1f} Mrows/s actions={sorted(set(a.action for a in acts))}",
            flush=True,
        )
        t0 = time.perf_counter()
        restore_table(p, version=1)
        dt = time.perf_counter() - t0
        n = 8_000_000
        print(
            f"{'restore 8M-row head (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{n/dt/1e6:8.1f} Mrows/s",
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # 36) event-time RANGE scan through timestamp manifest stats (r14 —
    # VERDICT r13 #3/#4): a 40M-row table range-clustered on an event
    # timestamp carries exact epoch-micros [min, max] per file (the
    # engine writes TIMESTAMP_MICROS), so a ~6-day slice of a ~460-day
    # corpus opens ~1/64 of the files; the identical filter WITHOUT the
    # prune scans everything — the counterfactual pair, files_read
    # printed in-run.
    import datetime as _dt

    d = tempfile.mkdtemp(prefix="stress_tsrange_")
    try:
        p = os.path.join(d, "t")
        n = 40_000_000
        base = spark.range(0, n, 1, 64).select(
            F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id")).alias("ts"),
            ((F.col("id") * 13) % 97).cast("double").alias("v"),
        )
        commit_version(base.repartitionByRange(64, "ts"), p)
        lo = _dt.datetime.fromtimestamp(1_600_000_000 + 5 * n // 64, _dt.timezone.utc)
        hi = _dt.datetime.fromtimestamp(1_600_000_000 + 6 * n // 64, _dt.timezone.utc)
        flt = (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
        for label, probe in (
            ("ts-range scan unpruned", read_version(spark, p)),
            ("ts-range scan pruned (N17)", read_version(spark, p, prune=("ts", lo, hi))),
        ):
            n_read = len(probe.inputFiles())
            t0 = time.perf_counter()
            probe.filter(flt).groupBy().agg(F.count("*"), F.sum("v")).write.format(
                "noop"
            ).mode("overwrite").save()
            dt = time.perf_counter() - t0
            print(
                f"{label:28s} {n/1e6:8.1f} Mrows {dt:7.2f} s {n/dt/1e6:8.1f} Mrows/s "
                f"files_read={n_read}",
                flush=True,
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # 36b) string-hash crossover (r14 — VERDICT r13 #8): the bloom
    # build's vectorized two-basis FNV vs C md5, FULL path (hash + bit
    # sets) at key-sized and document-sized strings; _FNV_MAX_LEN=160
    # is the measured break-even, and the per-(column, file) `algo`
    # dispatch means both rows take their winning path in production.
    import hashlib

    import numpy as np
    import pyarrow as pa

    from fdf_spark.sources.bloomskip import _fnv_pair_vec, _params

    rng = np.random.default_rng(7)
    for label, L, n_str in (("fnv-vs-md5 64B keys (N5)", 64, 2_000_000),
                            ("fnv-vs-md5 1KB values (N5)", 1024, 200_000)):
        strs = ["".join(chr(97 + int(c)) for c in rng.integers(0, 26, L))
                for _ in range(50_000)]
        reps = n_str // 50_000
        arr = pa.array(strs, pa.large_string())
        off = np.frombuffer(arr.buffers()[1], dtype=np.int64)[: len(arr) + 1]
        starts, ends = off[:-1], off[1:]
        lens = ends - starts
        data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
        mbits, k = _params(len(strs), 0.01)
        t0 = time.perf_counter()
        for _ in range(reps):
            bits = np.zeros(mbits // 8, dtype=np.uint8)
            with np.errstate(over="ignore"):
                h1, h2 = _fnv_pair_vec(starts, lens, data)
                for i in range(k):
                    pos = (h1 + np.uint64(i) * h2) % np.uint64(mbits)
                    np.bitwise_or.at(
                        bits, (pos >> np.uint64(3)).astype(np.int64),
                        np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)),
                    )
        t_fnv = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(reps):
            bits2 = bytearray(mbits // 8)
            for s in strs:
                dg = hashlib.md5(s.encode("utf-8")).digest()
                h1s = int.from_bytes(dg[:8], "little")
                h2s = int.from_bytes(dg[8:], "little") | 1
                for i in range(k):
                    pos = ((h1s + i * h2s) & 0xFFFFFFFFFFFFFFFF) % mbits
                    bits2[pos >> 3] |= 1 << (pos & 7)
        t_md5 = time.perf_counter() - t0
        dt = min(t_fnv, t_md5)
        print(
            f"{label:28s} {n_str/1e6:8.1f} Mrows {dt:7.2f} s {n_str/dt/1e6:8.1f} Mrows/s "
            f"fnv={t_fnv:.2f}s md5={t_md5:.2f}s winner={'fnv' if t_fnv < t_md5 else 'md5'}",
            flush=True,
        )

    # 36c) clustering-drift planner (r14 — VERDICT r13 #6): 16 full-
    # range appends against a declared identity spec erode the layout;
    # plan_maintenance reads ONLY manifest stats, measures avg
    # files-per-point and recommends the Z-ORDER; after the rewrite the
    # same plan is silent — both walls printed (metadata-only: no data
    # pages read by the planner itself).
    from fdf_spark.sources.metatables import plan_maintenance
    from fdf_spark.sources.versioned import optimize, set_partition_spec

    d = tempfile.mkdtemp(prefix="stress_drift_")
    try:
        p = os.path.join(d, "t")
        n_app, per = 16, 1_000_000
        commit_version(
            spark.range(0, 1).select(F.col("id").alias("k"), F.lit(0.0).alias("v")), p
        )
        set_partition_spec(p, ["k"])
        for i in range(n_app):
            commit_version(
                spark.range(0, per, 1, 4).select(
                    ((F.col("id") * 37 + i) % (n_app * per)).alias("k"),
                    (F.col("id") % 97).cast("double").alias("v"),
                ),
                p,
            )
        nrows = n_app * per
        t0 = time.perf_counter()
        plan = plan_maintenance(spark, p).collect()
        dt = time.perf_counter() - t0
        rec = [r.target for r in plan if r.target.startswith("zorder:")]
        print(
            f"{'drift planner recommend':28s} {nrows/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{nrows/dt/1e6:8.1f} Mrows/s rec={rec[0] if rec else 'NONE'}",
            flush=True,
        )
        t0 = time.perf_counter()
        optimize(spark, p, zorder=["k"], target_bytes=8 << 20)
        dt = time.perf_counter() - t0
        plan2 = plan_maintenance(spark, p).collect()
        silent = not [r for r in plan2 if r.target.startswith("zorder:")]
        print(
            f"{'drift zorder rewrite+silent':28s} {nrows/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{nrows/dt/1e6:8.1f} Mrows/s replan_silent={silent}",
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # 37) per-commit change feed (r14): a 20 M-row / 64-file range-
    # clustered table takes ONE update commit touching a narrow key
    # range; table_changes(head, head) reads O(that commit's files) —
    # files_read printed vs the table's file count.  The full-history
    # replay row is the honest upper bound: catching up from v1 IS the
    # whole table (the v1 inserts), so feed cost tracks the commits'
    # touched bytes, never the table's age.
    from fdf_spark.sources.versioned import (
        list_versions,
        table_changes,
        update_where,
    )

    d = tempfile.mkdtemp(prefix="stress_cdf_")
    try:
        p = os.path.join(d, "t")
        n = 20_000_000
        base = spark.range(0, n, 1, 64).select(
            F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
        )
        commit_version(base.repartitionByRange(64, "k"), p)
        n_total = len(read_version(spark, p).inputFiles())
        update_where(spark, p, f"k >= {n - 100_000}", {"v": "v + 1"})
        head = list_versions(p)[-1]
        feed = table_changes(spark, p, head, head, keys=["k"])
        t0 = time.perf_counter()
        n_changes = feed.count()
        dt = time.perf_counter() - t0
        n_read = len(feed.inputFiles())
        print(
            f"{'cdf 1-commit feed (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{n/dt/1e6:8.1f} Mrows/s files_read={n_read} of {n_total} "
            f"changes={n_changes}",
            flush=True,
        )
        full = table_changes(spark, p, 1, head, keys=["k"])
        t0 = time.perf_counter()
        n_full = full.count()
        dt = time.perf_counter() - t0
        print(
            f"{'cdf full-history replay (N17)':28s} {n/1e6:8.1f} Mrows {dt:7.2f} s "
            f"{n/dt/1e6:8.1f} Mrows/s files_read={len(full.inputFiles())} "
            f"changes={n_full}",
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # 38) ANALYZE TABLE (r14): one-pass approx (HLL++) column stats vs
    # the exact counterfactual (count DISTINCT expands one projection
    # per distinct aggregate) on 40 M rows × 3 columns; NDV error
    # printed in-run.
    from fdf_spark.sources.versioned import analyze_table

    d = tempfile.mkdtemp(prefix="stress_an_")
    try:
        p = os.path.join(d, "t")
        n = 40_000_000
        commit_version(
            spark.range(0, n, 1, 64).select(
                F.col("id").alias("k"),
                (F.col("id") % 1000).alias("g"),
                F.conv((F.col("id") % (n // 2)).cast("string"), 10, 16).alias("s"),
            ),
            p,
        )
        t0 = time.perf_counter()
        st_a = analyze_table(spark, p, mode="approx")
        dt_a = time.perf_counter() - t0
        t0 = time.perf_counter()
        st_e = analyze_table(spark, p, mode="exact")
        dt_e = time.perf_counter() - t0
        err = abs(st_a["columns"]["s"]["ndv"] - st_e["columns"]["s"]["ndv"]) / st_e[
            "columns"
        ]["s"]["ndv"]
        print(
            f"{'analyze approx 1-pass (N17)':28s} {n/1e6:8.1f} Mrows {dt_a:7.2f} s "
            f"{n/dt_a/1e6:8.1f} Mrows/s exact={dt_e:.2f}s ndv_err={err:.3f}",
            flush=True,
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)

    spark.stop()


if __name__ == "__main__":
    main()
