"""LLM-pipeline operators, oracle-checked on documents/embeddings
(SURVEY §2.11 N1-N5). Approximate operators (LSH candidates, ANN) have
no SQL oracle — they are recall-tested against their exact twins in
pytest instead; everything else replays bit-for-bit in DuckDB via the
portable 60-bit md5 hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fdf_spark.llm.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from fdf_spark.llm.hashing import sql_hash60
from fdf_spark.llm.similarity import cosine_topk, knn_predict
from fdf_spark.llm.textstats import LANG_MARKERS, language_id, fingerprint, text_stats
from fdf_spark.queries import query
from fdf_spark.sources.tables import load_table as T
from fdf_spark.sources.tables import local_df as _local_df

# --- shared DuckDB fragments ------------------------------------------------

SQL_SHINGLES = r"""
docs AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(greatest(len(w) - 2, 0)),
                               i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
  FROM docs)
"""

# replays fdf_spark.llm.dedup.minhash_signatures (16 universal hashes over
# the portable 60-bit md5 base hash) — shared by q61 and the q64 banding
SQL_MINHASH_SIGS = """
msh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw),
mx AS (SELECT doc_id,
              CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % 2147483647 AS x
       FROM msh),
sigs AS (
  SELECT doc_id, CAST(seed AS INTEGER) AS seed,
         min((((1103515245 * (seed + 1) + 12345) % 2147483647) * x
              + ((seed + 1) * 12345) % 2147483647) % 2147483647) AS minhash
  FROM mx CROSS JOIN (SELECT unnest(range(16)) AS seed) seeds
  GROUP BY doc_id, seed)
"""

SQL_COS = """
p AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         round(
           list_sum(list_transform(range(64), i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(range(64), i -> CAST(q.embedding[i+1] AS DOUBLE) * CAST(q.embedding[i+1] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(64), i -> CAST(c.embedding[i+1] AS DOUBLE) * CAST(c.embedding[i+1] AS DOUBLE))))),
           6) AS cos_sim
  FROM (SELECT * FROM embeddings WHERE vec_id < 5) q
  CROSS JOIN embeddings c
  WHERE q.vec_id != c.vec_id),
ranked AS (
  SELECT query_id, vec_id, cos_sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
  FROM p)
"""


@query(
    "q60_exact_dedup",
    """
    SELECT min(doc_id) AS doc_id, sha256(text) AS content_hash, COUNT(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    ORDER BY doc_id
    """,
    operators=("N1", "A3"),
    doc="Exact dedup by sha2-256 content hash, keep smallest doc_id.",
)
def q60_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(T(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "q61_minhash_signatures",
    f"""
    WITH {SQL_SHINGLES},
    {SQL_MINHASH_SIGS}
    SELECT doc_id, seed, minhash FROM sigs
    ORDER BY doc_id, seed
    """,
    operators=("N2",),
    doc="MinHash signatures: 16 universal hashes (a*x+b mod 2^31-1) over one "
    "portable md5 base hash per word-trigram shingle, long format.",
)
def q61_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        minhash_signatures(T(spark, sf_dir, "documents"), num_hashes=16)
        .orderBy("doc_id", "seed")
    )


@query(
    "q62_simhash",
    r"""
    WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok FROM documents),
    h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM toks),
    votes AS (
      SELECT doc_id, bit,
             SUM(CASE WHEN (h >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM h CROSS JOIN (SELECT unnest(range(48)) AS bit) bits
      GROUP BY doc_id, bit)
    SELECT doc_id,
           CAST(SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id ORDER BY doc_id
    """,
    operators=("N2",),
    doc="48-bit SimHash fingerprint (Charikar) over the token multiset.",
)
def q62_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(T(spark, sf_dir, "documents"), bits=48).orderBy("doc_id")


@query(
    "q63_ngram_jaccard_pairs",
    f"""
    WITH {SQL_SHINGLES},
    sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh FROM sh_raw),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, i * 1.0 / (sa.sz + sb.sz - i) AS jaccard
    FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.2
    ORDER BY id_a, id_b
    """,
    operators=("N2",),
    doc="Exact word-trigram Jaccard near-dup pairs (threshold 0.2) via shingle self-join.",
)
def q63_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        ngram_jaccard_pairs(T(spark, sf_dir, "documents"), threshold=0.2)
        .orderBy("id_a", "id_b")
    )


@query(
    "q64_lsh_candidates",
    f"""
    WITH {SQL_SHINGLES},
    {SQL_MINHASH_SIGS},
    banded AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY seed) AS sig
      FROM sigs GROUP BY doc_id, seed // 4)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """,
    operators=("N2",),
    doc="Banded MinHash-LSH candidate pairs (16 hashes, 4 bands) — the 100 TB "
    "near-dup path. Deterministic given the portable hash family, so the "
    "oracle replays the banding exactly (bucket = the full 4-value band "
    "signature; Spark's sha2(to_json(...)) bucket key is just a compression "
    "of the same equality). Recall vs exact Jaccard additionally pytest-pinned.",
)
def q64_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(T(spark, sf_dir, "documents"), num_hashes=16)
    return lsh_candidate_pairs(sigs, num_hashes=16, bands=4).orderBy("id_a", "id_b")


@query(
    "q65_cosine_topk",
    f"""
    WITH {SQL_COS}
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    operators=("N3",),
    doc="Exact brute-force top-5 cosine neighbors for query vectors 0-4.",
)
def q65_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk(queries, emb, k=5).orderBy("query_id", "rank")


@query(
    "q66_knn_label",
    f"""
    WITH {SQL_COS},
    top AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 5),
    votes AS (
      SELECT t.query_id, e.label, COUNT(*) AS votes
      FROM top t JOIN embeddings e USING (vec_id)
      GROUP BY 1, 2)
    SELECT query_id, label AS pred_label FROM (
      SELECT query_id, label,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
      FROM votes) WHERE rn = 1
    ORDER BY query_id
    """,
    operators=("N3",),
    doc="kNN label vote over the top-5 neighbors (tie → smaller label).",
)
def q66_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = cosine_topk(queries, emb, k=5)
    return knn_predict(top, emb).orderBy("query_id")


@query(
    "q67_similar_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(
             list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(64), i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))),
             6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(
             list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(64), i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))),
             6) >= 0.3
    ORDER BY id_a, id_b
    """,
    operators=("N2", "N3"),
    doc="Embedding near-dup pairs: all-pairs cosine >= 0.3 (exact twin of the LSH path).",
)
def q67_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: vectorized all-pairs tier (same sequential-fold/rounding
    # contract as the expression path — see all_pairs_cosine; the old
    # BNLJ + per-pair interpreted HOF fold measured 187 s at sf0.1,
    # this is 1.0 s, output bit-identical)
    from fdf_spark.llm.similarity import all_pairs_cosine

    emb = T(spark, sf_dir, "embeddings")
    return all_pairs_cosine(emb, threshold=0.3).orderBy("id_a", "id_b")


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine fragment matching fdf_spark.llm.similarity.cosine
    to the last ulp (double-cast elements, sequential sum, round 6dp)."""
    dot = f"list_sum(list_transform(range(64), i -> CAST({a}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE)))"
    na = f"sqrt(list_sum(list_transform(range(64), i -> CAST({a}[i+1] AS DOUBLE) * CAST({a}[i+1] AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform(range(64), i -> CAST({b}[i+1] AS DOUBLE) * CAST({b}[i+1] AS DOUBLE))))"
    return f"round({dot} / ({na} * {nb}), 6)"


@query(
    "q73_ivf_ann_topk",
    f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16),
    assigned AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cent_id) AS rn
        FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
    probes AS (
      SELECT query_id, qvec, cent_id AS cell FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.cent_id) AS pr
        FROM (SELECT * FROM embeddings WHERE vec_id < 5) q CROSS JOIN cents c) WHERE pr <= 2),
    scored AS (
      SELECT p.query_id, a.vec_id, {_cos_sql('p.qvec', 'a.embedding')} AS cos_sim
      FROM assigned a JOIN probes p USING (cell)
      WHERE p.query_id != a.vec_id)
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT query_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    operators=("N3",),
    doc="IVF ANN: deterministic seed centroids, nprobe=2 of 16 cells, exact re-rank "
    "inside probed cells only — the partition-pruned scale path for q65.",
)
def q73_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.similarity import ivf_ann_topk

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_ann_topk(queries, emb, k=5, num_cells=16, nprobe=2).orderBy(
        "query_id", "rank"
    )


@query(
    "q108_semantic_dedup",
    f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16),
    assigned AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cent_id) AS rn
        FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.3),
    removed AS (SELECT DISTINCT id_b AS vec_id FROM pairs)
    SELECT s.vec_id, s.cell FROM assigned s ANTI JOIN removed r ON s.vec_id = r.vec_id
    ORDER BY s.vec_id
    """,
    operators=("N14", "N2", "N3"),
    doc="SemDeDup (Abbas et al. 2023): embedding-level near-dup removal — "
    "deterministic coarse cells (the IVF quantizer), within-cell pairwise "
    "cosine >= 0.3, keep-smallest-id survivors via anti-join. The pair "
    "stage is cluster-bounded (equi-join on cell), never an all-pairs "
    "corpus join; cell count scales with the corpus at 100 TB. Catches "
    "the paraphrase/translation duplicates that shingle-based N2 ops "
    "cannot see.",
)
def q108_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.similarity import semantic_dedup

    emb = T(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, num_cells=16, threshold=0.3).orderBy("vec_id")


@query(
    "q74_dup_clusters",
    f"""
    WITH RECURSIVE {SQL_SHINGLES},
    sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh FROM sh_raw),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b
      FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5),
    und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b AS u, id_a AS v FROM pairs),
    walk(u, v) AS (
      SELECT u, v FROM und
      UNION
      SELECT w.u, e.v FROM walk w JOIN und e ON w.v = e.u),
    comp AS (
      SELECT d.doc_id, least(d.doc_id, coalesce(min(w.v), d.doc_id)) AS component
      FROM documents d LEFT JOIN walk w ON w.u = d.doc_id
      GROUP BY d.doc_id),
    csize AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
    SELECT c.doc_id, c.component, s.cluster_size
    FROM comp c JOIN csize s USING (component)
    ORDER BY c.doc_id
    """,
    operators=("N1", "N2"),
    doc="Transitive dup clusters: Jaccard pair graph → connected components "
    "(iterative min-label propagation; oracle replays it as a recursive "
    "CTE). Component = smallest reachable doc_id; singletons included.",
)
def q74_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.dedup import ngram_jaccard_pairs
    from fdf_spark.operators.graph import connected_components

    docs = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    comp = connected_components(pairs, nodes=docs, node_col="doc_id")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(F.col("node").alias("doc_id"), "component", "cluster_size")
        .orderBy("doc_id")
    )


def _lsh_sig_sql(vec: str, planes: list[list[float]]) -> str:
    """Signature of one hyperplane table: sign-bit of each plane dot,
    packed little-endian — replays lsh_ann_topk's fold order exactly
    (sequential list_sum == Spark's F.aggregate left fold)."""
    bits = []
    for i, p in enumerate(planes):
        ws = "[" + ", ".join(repr(w) for w in p) + "]"
        dot = f"list_sum(list_transform(range(64), j -> CAST({vec}[j+1] AS DOUBLE) * ({ws})[j+1]))"
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _lsh_ann_oracle_sql() -> str:
    from fdf_spark.llm.similarity import lsh_planes

    tables = lsh_planes(num_planes=8, num_tables=4, dim=64, seed=42)
    csig = "\n      UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS tbl, {_lsh_sig_sql('embedding', p)} AS b FROM embeddings"
        for t, p in enumerate(tables)
    )
    qsig = "\n      UNION ALL ".join(
        f"SELECT vec_id AS query_id, embedding AS query_vec, {t} AS tbl, "
        f"{_lsh_sig_sql('embedding', p)} AS s FROM embeddings WHERE vec_id < 5"
        for t, p in enumerate(tables)
    )
    probes = ", ".join(["s"] + [f"xor(s, {1 << i})" for i in range(8)])
    cos = (
        "round(list_sum(list_transform(range(64), i -> CAST(query_vec[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform(range(64), i -> CAST(query_vec[i+1] AS DOUBLE) * CAST(query_vec[i+1] AS DOUBLE))))"
        "  * sqrt(list_sum(list_transform(range(64), i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE))))), 6)"
    )
    return f"""
    WITH csig AS (
      {csig}),
    qsig AS (
      {qsig}),
    qprobe AS (
      SELECT query_id, query_vec, tbl, unnest([{probes}]) AS b FROM qsig),
    cand AS (
      SELECT DISTINCT q.query_id, c.vec_id, q.query_vec, c.embedding
      FROM csig c JOIN qprobe q ON c.tbl = q.tbl AND c.b = q.b
      WHERE q.query_id != c.vec_id),
    scored AS (
      SELECT query_id, vec_id, {cos} AS cos_sim FROM cand),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
      FROM scored)
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """


@query(
    "q75_lsh_ann_topk",
    _lsh_ann_oracle_sql(),
    # "approximate" only relative to brute force — the bucketed candidate
    # generation itself is a deterministic function of the seeded planes,
    # so the oracle replays it exactly (plane constants embedded as repr'd
    # double literals). Recall vs exact q65 additionally pytest-pinned.
    operators=("N3",),
    doc="LSH ANN top-5: multi-table random-hyperplane signatures with "
    "1-bit multiprobe, exact cosine re-rank inside candidate buckets — "
    "the bucket-join ANN scale path (IVF q73 is the partition-pruned one).",
)
def q75_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.similarity import lsh_ann_topk

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_ann_topk(queries, emb, k=5).orderBy("query_id", "rank")


_STOP = ", ".join(f"'{w}'" for w in LANG_MARKERS["en"])


@query(
    "q70_text_quality",
    rf"""
    SELECT doc_id,
           CAST(len(string_split_regex(lower(text), '\s+')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_calc,
           round((length(text) - (len(string_split_regex(lower(text), '\s+')) - 1)) * 1.0
                 / len(string_split_regex(lower(text), '\s+')), 6) AS avg_word_len,
           round(len(list_filter(string_split_regex(lower(text), '\s+'), x -> x IN ({_STOP}))) * 1.0
                 / len(string_split_regex(lower(text), '\s+')), 6) AS stopword_ratio,
           round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text), 6) AS digit_ratio,
           round(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0 / length(text), 6) AS punct_ratio,
           round(0.4 * (len(list_filter(string_split_regex(lower(text), '\s+'), x -> x IN ({_STOP}))) * 1.0
                        / len(string_split_regex(lower(text), '\s+')))
               + 0.4 * ((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1.0 / length(text))
               - 0.2 * (length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0 / length(text)), 6) AS quality_score
    FROM documents ORDER BY doc_id
    """,
    operators=("N4", "F3", "F8"),
    doc="Per-document token counts, BPE-ish lexer count, ratios, linear quality score.",
)
def q70_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_stats(T(spark, sf_dir, "documents")).orderBy("doc_id")


def _sql_lang_score(lang: str) -> str:
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        rf"len(list_filter(string_split_regex(lower(text), '\s+'), x -> x IN ({markers}))) * 1.0"
        rf" / len(string_split_regex(lower(text), '\s+'))"
    )


@query(
    "q71_language_id",
    rf"""
    WITH s AS (
      SELECT doc_id, text,
             {_sql_lang_score('en')} AS s_en, {_sql_lang_score('es')} AS s_es,
             {_sql_lang_score('de')} AS s_de, {_sql_lang_score('fr')} AS s_fr,
             regexp_matches(text, '[\x{{4e00}}-\x{{9fff}}]') AS cjk
      FROM documents)
    SELECT doc_id,
           CASE WHEN cjk THEN 'zh'
                WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'unknown'
                WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang,
           round(CASE WHEN cjk THEN 1.0 ELSE greatest(s_en, s_es, s_de, s_fr) END, 6) AS lang_score
    FROM s ORDER BY doc_id
    """,
    operators=("N4",),
    doc="Stopword-marker + CJK-charset language heuristic (deterministic argmax).",
)
def q71_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(T(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "q69_near_dedup",
    f"""
    WITH {SQL_SHINGLES},
    sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh FROM sh_raw),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    removed AS (
      SELECT DISTINCT id_b AS doc_id
      FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5)
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d ANTI JOIN removed r ON d.doc_id = r.doc_id
    ORDER BY d.doc_id
    """,
    operators=("N1", "N2"),
    doc="End-to-end near-dup removal: pair relation (Jaccard >= 0.5) → "
    "survivor rule keep-smallest-id → anti-join. The user-facing 'dedupe "
    "my corpus' composition; at scale the pair stage is LSH-verified "
    "candidates instead of the exact self-join.",
)
def q69_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.dedup import near_dedup

    docs = T(spark, sf_dir, "documents")
    return (
        near_dedup(docs, threshold=0.5)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "q68_multimodal_features",
    """
    SELECT CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
           COUNT(*) AS n_assets,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(SUM(octet_length(encode(text))) AS DOUBLE) / COUNT(*) AS avg_feat0
    FROM documents
    GROUP BY 1 ORDER BY media_type
    """,
    operators=("N6",),
    doc="Multimodal plumbing end-to-end: documents → binary asset table "
    "(payload = utf-8 bytes, typed media metadata) → Arrow-batched "
    "arrow_kernel feature extraction (deterministic fake codec) → per-type "
    "rollup. The oracle re-derives the byte-length feature relationally; "
    "feat[0] is defined as the payload byte count, so avg_feat0 checks the "
    "decode path itself (exact: integer-valued doubles).",
)
def q68_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import extract_features
    from fdf_spark.sources.tables import spread

    docs = spread(T(spark, sf_dir, "documents"))
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = extract_features(assets, codec="fake")
    return (
        feats.groupBy("media_type")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            (F.sum(F.element_at("feat", 1)) / F.count("*")).alias("avg_feat0"),
        )
        .orderBy("media_type")
    )


@query(
    "q107_real_codec_roundtrip",
    """
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
           CAST(CASE WHEN doc_id % 2 = 0
                     THEN 54 + ((((2 + doc_id % 7) * 3 + 3) // 4) * 4) * (1 + doc_id % 5)
                     ELSE 44 + 2 * (40 + doc_id % 25) END AS BIGINT) AS n_bytes,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 2 + doc_id % 7
                     ELSE 8000 + 1000 * (doc_id % 4) END AS DOUBLE) AS v0,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 5 ELSE 1 END AS DOUBLE) AS v1,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 24 ELSE 40 + doc_id % 25 END AS DOUBLE) AS v2,
           CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 256
                     ELSE doc_id % 1001 - 500 END AS DOUBLE) AS v3,
           CAST(CASE WHEN doc_id % 2 = 0 THEN (3 * doc_id) % 256
                     ELSE abs(doc_id % 1001 - 500) END AS DOUBLE) AS v4,
           CAST(CASE WHEN doc_id % 2 = 0 THEN (7 * doc_id) % 256
                     ELSE (doc_id % 1001 - 500) * (doc_id % 1001 - 500) END AS DOUBLE) AS v5
    FROM documents WHERE doc_id < 200 ORDER BY asset_id
    """,
    operators=("N6",),
    doc="REAL media decode end-to-end, no stub: even docs become actual "
    "24-bpp BMP files, odd docs actual RIFF/PCM WAV files (pure-stdlib "
    "encoders), then the pure-stdlib decoders (struct header parse + "
    "numpy pixel fold; wave module + exact integer PCM accumulation) "
    "recover dimensions/colors/rates/amplitudes FROM THE BYTES. The "
    "oracle recomputes every value arithmetically from doc_id — "
    "independent of encoder and decoder — so a wrong stride, row "
    "order, or channel order fails the hash. Compressed formats "
    "(JPEG/MP3) remain stubbed: their codecs aren't in this container.",
)
def q107_real_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import extract_features, synth_media_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    assets = synth_media_assets(docs)
    imgs = extract_features(assets.filter(F.col("media_type") == "image"), codec="bmp")
    auds = extract_features(assets.filter(F.col("media_type") == "audio"), codec="wav")
    out = imgs.unionByName(auds)
    return out.select(
        "asset_id",
        "media_type",
        "n_bytes",
        *[F.element_at("feat", i + 1).alias(f"v{i}") for i in range(6)],
    ).orderBy("asset_id")


@query(
    "q128_png_codec_roundtrip",
    """
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 6 AS w, 1 + doc_id % 4 AS h
      FROM documents WHERE doc_id < 200),
    px AS (
      SELECT doc_id, w, h, c.c AS c,
             AVG(CAST((doc_id + 11 * x.x + 23 * y.y + 41 * c.c) % 256 AS DOUBLE)) AS m
      FROM d
      CROSS JOIN (SELECT unnest(range(7)) AS x) x
      CROSS JOIN (SELECT unnest(range(4)) AS y) y
      CROSS JOIN (SELECT unnest(range(3)) AS c) c
      WHERE x.x < w AND y.y < h
      GROUP BY doc_id, w, h, c.c)
    SELECT doc_id AS asset_id,
           CAST(MAX(w) AS DOUBLE) AS v0,
           CAST(MAX(h) AS DOUBLE) AS v1,
           CAST(3 AS DOUBLE) AS v2,
           MAX(CASE WHEN c = 0 THEN m END) AS v3,
           MAX(CASE WHEN c = 1 THEN m END) AS v4,
           MAX(CASE WHEN c = 2 THEN m END) AS v5
    FROM px GROUP BY doc_id ORDER BY asset_id
    """,
    operators=("N6",),
    doc="REAL compressed-image decode end-to-end (closes the r5 "
    "JPEG/PNG gap for PNG): every doc becomes an actual PNG — gradient "
    "pixels, zlib DEFLATE stream, CRC-32 chunks, scanline filter "
    "doc_id%5 so all five filter types ship — then the pure-stdlib "
    "decoder (fdf_spark/llm/imagecodecs.py: chunk parse + CRC verify + "
    "inflate + unfilter + pixel fold) recovers dimensions and channel "
    "means FROM THE BYTES inside Arrow-batched arrow_kernel. The oracle "
    "recomputes the means arithmetically from the doc_id pixel law — "
    "independent of encoder and decoder — so a wrong filter inverse, "
    "stride, or channel order fails the hash. (Byte length is NOT "
    "checked: it depends on the zlib implementation, not the spec.)",
)
def q128_png_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import extract_features, synth_png_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    feats = extract_features(synth_png_assets(docs), codec="png")
    return feats.select(
        "asset_id",
        *[F.element_at("feat", i + 1).alias(f"v{i}") for i in range(6)],
    ).orderBy("asset_id")


@query(
    "q129_jpeg_codec_roundtrip",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(doc_id % 256 AS DOUBLE) AS r,
             CAST((3 * doc_id) % 256 AS DOUBLE) AS g,
             CAST((7 * doc_id) % 256 AS DOUBLE) AS b,
             8 + doc_id % 9 AS w, 8 + doc_id % 5 AS h
      FROM documents WHERE doc_id < 150),
    ycc AS (
      SELECT doc_id, w, h,
             0.299 * r + 0.587 * g + 0.114 * b AS y,
             -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0 AS cb,
             0.5 * r - 0.418688 * g - 0.081312 * b + 128.0 AS cr
      FROM d),
    quant AS (
      -- constant block => DC-only: decoded plane value is
      -- clamp(2 * round_half_away((v-128)/2) + 128)   (flat quant 16)
      SELECT doc_id, w, h,
             least(greatest(2 * (CASE WHEN y >= 128 THEN floor((y - 128.0) / 2.0 + 0.5)
                                      ELSE -floor((128.0 - y) / 2.0 + 0.5) END) + 128, 0), 255) AS yq,
             least(greatest(2 * (CASE WHEN cb >= 128 THEN floor((cb - 128.0) / 2.0 + 0.5)
                                      ELSE -floor((128.0 - cb) / 2.0 + 0.5) END) + 128, 0), 255) AS cbq,
             least(greatest(2 * (CASE WHEN cr >= 128 THEN floor((cr - 128.0) / 2.0 + 0.5)
                                      ELSE -floor((128.0 - cr) / 2.0 + 0.5) END) + 128, 0), 255) AS crq
      FROM ycc),
    rgb AS (
      SELECT doc_id, w, h,
             yq + 1.402 * (crq - 128.0) AS xr,
             yq - 0.344136 * (cbq - 128.0) - 0.714136 * (crq - 128.0) AS xg,
             yq + 1.772 * (cbq - 128.0) AS xb
      FROM quant)
    SELECT doc_id AS asset_id,
           CAST(w AS DOUBLE) AS v0, CAST(h AS DOUBLE) AS v1, CAST(3 AS DOUBLE) AS v2,
           least(greatest(CASE WHEN xr >= 0 THEN floor(xr + 0.5) ELSE -floor(-xr + 0.5) END, 0), 255) AS v3,
           least(greatest(CASE WHEN xg >= 0 THEN floor(xg + 0.5) ELSE -floor(-xg + 0.5) END, 0), 255) AS v4,
           least(greatest(CASE WHEN xb >= 0 THEN floor(xb + 0.5) ELSE -floor(-xb + 0.5) END, 0), 255) AS v5
    FROM rgb ORDER BY asset_id
    """,
    operators=("N6",),
    doc="REAL baseline-JPEG decode end-to-end (with PNG/q128, this "
    "retires the r5 'compressed formats stubbed' caveat for images): "
    "every doc becomes an actual T.81 baseline JPEG — huffman entropy "
    "layer, DCT, flat quant tables shipped in DQT, 4:2:0 subsampling "
    "on odd ids, restart markers on ids%3 — then the pure-numpy "
    "decoder (llm/imagecodecs.py: segment parse, DHT canonical-code "
    "rebuild, byte-unstuffing, huffman+EXTEND, dequant, IDCT, "
    "upsample, YCbCr->RGB) recovers the color FROM THE BYTES inside "
    "Arrow-batched arrow_kernel. Solid-color fixtures make the lossy "
    "stage closed-form: the oracle replays the DC-only quantization "
    "law double-for-double (identical IEEE literals both sides), so a "
    "wrong huffman table, zigzag, IDCT basis, or rounding convention "
    "fails the hash. MP3/H.264 remain stubbed (no stdlib path).",
)
def q129_jpeg_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import extract_features, synth_jpeg_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 150)
    feats = extract_features(synth_jpeg_assets(docs), codec="jpeg")
    return feats.select(
        "asset_id",
        *[F.element_at("feat", i + 1).alias(f"v{i}") for i in range(6)],
    ).orderBy("asset_id")


@query(
    "q130_gif_codec_roundtrip",
    """
    WITH d AS (
      SELECT doc_id, 3 + doc_id % 8 AS w, 2 + doc_id % 6 AS h
      FROM documents WHERE doc_id < 150),
    px AS (
      SELECT doc_id, w, h, (doc_id + 5 * x.x + 9 * y.y) % 256 AS idx
      FROM d
      CROSS JOIN (SELECT unnest(range(10)) AS x) x
      CROSS JOIN (SELECT unnest(range(7)) AS y) y
      WHERE x.x < w AND y.y < h),
    m AS (
      SELECT doc_id, w, h,
             AVG(CAST(idx AS DOUBLE)) AS mr,
             AVG(CAST((3 * idx) % 256 AS DOUBLE)) AS mg,
             AVG(CAST((7 * idx) % 256 AS DOUBLE)) AS mb
      FROM px GROUP BY doc_id, w, h)
    SELECT doc_id AS asset_id,
           CAST(w AS DOUBLE) AS v0, CAST(h AS DOUBLE) AS v1, CAST(3 AS DOUBLE) AS v2,
           mr AS v3, mg AS v4, mb AS v5
    FROM m ORDER BY asset_id
    """,
    operators=("N6",),
    doc="REAL GIF/LZW decode end-to-end (third real compressed image "
    "codec beside PNG/q128 and JPEG/q129): every doc becomes an actual "
    "single-frame GIF87a — logical screen descriptor, 256-entry global "
    "color table, variable-width LSB-first LZW stream with CLEAR/EOI "
    "codes in 255-byte sub-blocks — then the pure-python decoder "
    "(llm/imagecodecs.py: container parse, inverse LZW incl. the KwKwK "
    "case and dictionary resets, palette map) recovers the pixels FROM "
    "THE BYTES inside Arrow-batched arrow_kernel. Compressor and "
    "decompressor are independently written inverses; the oracle "
    "recomputes the channel means from the arithmetic palette/index "
    "laws, independent of both.",
)
def q130_gif_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import extract_features, synth_gif_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 150)
    feats = extract_features(synth_gif_assets(docs), codec="gif")
    return feats.select(
        "asset_id",
        *[F.element_at("feat", i + 1).alias(f"v{i}") for i in range(6)],
    ).orderBy("asset_id")


@query(
    "q131_adpcm_codec_roundtrip",
    """
    SELECT doc_id AS asset_id,
           CAST(8000 + 1000 * (doc_id % 4) AS DOUBLE) AS v0,
           CAST(1 AS DOUBLE) AS v1,
           CAST(40 + doc_id % 25 AS DOUBLE) AS v2,
           CAST(doc_id % 1001 - 500 AS DOUBLE) AS v3,
           CAST(abs(doc_id % 1001 - 500) AS DOUBLE) AS v4,
           CAST((doc_id % 1001 - 500) * (doc_id % 1001 - 500) AS DOUBLE) AS v5
    FROM documents WHERE doc_id < 150 ORDER BY asset_id
    """,
    operators=("N6",),
    doc="REAL compressed-AUDIO decode end-to-end (IMA ADPCM, RIFF tag "
    "0x0011 — the stdlib wave module cannot read it, so the container "
    "parse and the 4-bit adaptive-differential bitstream walk are both "
    "implemented for real in llm/audiocodecs.py). Fixtures are "
    "constant signals over MULTIPLE 9-sample blocks; with initial step "
    "index 0 the quantizer provably never drifts, so the oracle "
    "recomputes rate/frames/mean/peak/mean-square from the amplitude "
    "law alone — a wrong block header layout, nibble order, step-table "
    "walk, or fact-count trim fails the hash. Lossy behavior on real "
    "waveforms (slope overload, ~30 dB SNR) is pinned in pytest.",
)
def q131_adpcm_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import extract_features, synth_adpcm_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 150)
    feats = extract_features(synth_adpcm_assets(docs), codec="adpcm")
    return feats.select(
        "asset_id",
        *[F.element_at("feat", i + 1).alias(f"v{i}") for i in range(6)],
    ).orderBy("asset_id")


@query(
    "q138_mpeg1_codec_roundtrip",
    """
    WITH p AS (
      SELECT doc_id AS d, 4 + doc_id % 5 AS n_alloc, 3 + doc_id % 5 AS last_sb
      FROM documents WHERE doc_id < 150),
    f AS (
      SELECT d, n_alloc, last_sb,
             2 + (d % 7) AS nb0,
             (d * 7) % 21 AS k0,
             2 + ((d + last_sb) % 7) AS nbl,
             (d * 7 + 13 * last_sb) % 21 AS kl
      FROM p),
    g AS (
      SELECT d, n_alloc, nb0, k0, nbl, kl,
             (d * 31) % (1 << nb0) AS c0,
             (d * 31 + 5 * last_sb) % (1 << nbl) AS cl
      FROM f),
    cs AS (
      SELECT p.d,
             CAST(12 * SUM((p.d * 31 + 5 * t.sb) % (1 << (2 + ((p.d + t.sb) % 7)))) AS DOUBLE) AS code_sum
      FROM p, (SELECT unnest(range(8)) AS sb) t
      WHERE t.sb < p.n_alloc GROUP BY p.d)
    SELECT g.d AS asset_id,
           CAST(32000 AS DOUBLE) AS v0,
           CAST(CASE g.d % 4 WHEN 0 THEN 192 WHEN 1 THEN 256 WHEN 2 THEN 288 ELSE 320 END AS DOUBLE) AS v1,
           CAST(g.n_alloc AS DOUBLE) AS v2,
           (2.0 * pow(2.0, -((3 * g.k0) / 3.0)))
             * ((1 << g.nb0) * 1.0 / ((1 << g.nb0) - 1))
             * (g.c0 * 1.0 / (1 << (g.nb0 - 1)) - 1.0 + pow(2.0, CAST(1 - g.nb0 AS DOUBLE))) AS v3,
           (2.0 * pow(2.0, -((3 * g.kl) / 3.0)))
             * ((1 << g.nbl) * 1.0 / ((1 << g.nbl) - 1))
             * (g.cl * 1.0 / (1 << (g.nbl - 1)) - 1.0 + pow(2.0, CAST(1 - g.nbl AS DOUBLE))) AS v4,
           cs.code_sum AS v5
    FROM g JOIN cs ON g.d = cs.d
    ORDER BY asset_id
    """,
    operators=("N6",),
    doc="REAL MPEG-1 Audio Layer I decode (llm/mpegaudio.py) — retires "
    "half of the r6 'perceptual codecs stubbed' boundary: every doc "
    "becomes a spec-valid single-channel Layer I frame (32-bit header "
    "with bitrate/sampling tables, 4-bit subband allocation, 6-bit "
    "scalefactors, 12 interleaved sample groups), and the decoder "
    "parses the bytes strictly (syncword, forbidden codes, frame-"
    "length bound) then REQUANTIZES the subband samples with the "
    "spec's exact dequantization law. Fixture scalefactor indices are "
    "multiples of 3, so every factor except one is an exact dyadic and "
    "the oracle evaluates the literally identical IEEE expression — "
    "no rounding anywhere, the hash compares raw doubles. The "
    "remaining boundary (subband->PCM polyphase synthesis) rests on "
    "tabulated ISO window data with no closed form — documented as "
    "permanent in the module header; a native lib mounts inside the "
    "same arrow_kernel seam.",
)
def q138_mpeg1_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import extract_features, synth_mpeg1_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 150)
    feats = extract_features(synth_mpeg1_assets(docs), codec="mpeg1")
    return feats.select(
        "asset_id",
        *[F.element_at("feat", i + 1).alias(f"v{i}") for i in range(6)],
    ).orderBy("asset_id")


@query(
    "q141_resize_real",
    """
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 6 AS w, 1 + doc_id % 4 AS h
      FROM documents WHERE doc_id < 200),
    px AS (
      SELECT doc_id, c.c AS c,
             AVG(CAST((doc_id + 11 * ((x.x * w) // 5) + 23 * ((y.y * h) // 3)
                       + 41 * c.c) % 256 AS DOUBLE)) AS m
      FROM d
      CROSS JOIN (SELECT unnest(range(5)) AS x) x
      CROSS JOIN (SELECT unnest(range(3)) AS y) y
      CROSS JOIN (SELECT unnest(range(3)) AS c) c
      GROUP BY doc_id, c.c)
    SELECT doc_id AS asset_id,
           CAST(5 AS DOUBLE) AS v0,
           CAST(3 AS DOUBLE) AS v1,
           CAST(3 AS DOUBLE) AS v2,
           MAX(CASE WHEN c = 0 THEN m END) AS v3,
           MAX(CASE WHEN c = 1 THEN m END) AS v4,
           MAX(CASE WHEN c = 2 THEN m END) AS v5
    FROM px GROUP BY doc_id ORDER BY asset_id
    """,
    operators=("N6",),
    doc="REAL image resize (retires the r6 'resize requires PIL' stub): "
    "each doc's gradient PNG (the q128 fixture law) is DECODED by the "
    "pure-python codec, resampled with exact integer nearest-neighbour "
    "(src = (dst_i * src_dim) // dst_dim) covering BOTH directions "
    "(source widths 2..7 vs target 5), re-ENCODED as a real PNG with "
    "metadata rewritten, then decoded AGAIN for the checked channel "
    "means — two full codec roundtrips around a resample. PNG is "
    "lossless, so the oracle recomputes the resized pixels from the "
    "composition of the gradient law with the index law, independent "
    "of codec and resampler. Lossy formats stay behind the native-lib "
    "seam by design (re-encode is quantizer-implementation-defined).",
)
def q141_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import (
        extract_features,
        resize_images,
        synth_png_assets,
    )

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    resized = resize_images(synth_png_assets(docs), 5, 3, codec="png")
    feats = extract_features(resized, codec="png")
    return feats.select(
        "asset_id",
        *[F.element_at("feat", i + 1).alias(f"v{i}") for i in range(6)],
    ).orderBy("asset_id")


@query(
    "q142_frame_sample_real",
    """
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS w, 1 + doc_id % 3 AS h,
             2 + doc_id % 5 AS nf
      FROM documents WHERE doc_id < 200),
    fr AS (
      SELECT doc_id, w, h, nf, f.f AS f
      FROM d CROSS JOIN (SELECT unnest(range(0, 7, 2)) AS f) f
      WHERE f.f < nf),
    px AS (
      SELECT doc_id, f, w, h, nf,
             AVG(CAST((doc_id + 5 * x.x + 9 * y.y + 17 * f) % 256 AS DOUBLE)) AS mr,
             AVG(CAST((3 * ((doc_id + 5 * x.x + 9 * y.y + 17 * f) % 256)) % 256 AS DOUBLE)) AS mg,
             AVG(CAST((7 * ((doc_id + 5 * x.x + 9 * y.y + 17 * f) % 256)) % 256 AS DOUBLE)) AS mb
      FROM fr
      CROSS JOIN (SELECT unnest(range(5)) AS x) x
      CROSS JOIN (SELECT unnest(range(3)) AS y) y
      WHERE x.x < w AND y.y < h
      GROUP BY doc_id, f, w, h, nf)
    SELECT doc_id AS asset_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           mr AS mean_r, mg AS mean_g, mb AS mean_b
    FROM px ORDER BY asset_id, frame_idx
    """,
    operators=("N6",),
    doc="REAL pruned video-frame sampling (upgrades frame_sample from "
    "a metadata plan to a real decode): every doc becomes an actual "
    "ANIMATED GIF89a (per-frame GCE + LZW streams), and the sampler "
    "walks the container with a cheap linear byte scan (sub-blocks "
    "hopped by length prefix, frame count read from the BYTES — never "
    "trusted metadata), then LZW-decodes ONLY frames 0,2,4,… — decode "
    "cost scales with frames sampled, not frames present. The oracle "
    "recomputes each sampled frame's RGB means from the frame-indexed "
    "pixel law composed with the arithmetic palette, independent of "
    "encoder, scanner and decoder; exact integer sums make the means "
    "bit-stable. Zero-shuffle plan (one arrow_kernel per asset batch).",
)
def q142_frame_sample_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import frame_sample_features, synth_gif_anim_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    frames = frame_sample_features(synth_gif_anim_assets(docs), every_n=2)
    return frames.orderBy("asset_id", "frame_idx")


@query(
    "q143_scene_cuts",
    """
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS w, 1 + doc_id % 3 AS h,
             2 + doc_id % 5 AS nf,
             1 + doc_id % (1 + doc_id % 5) AS cut
      FROM documents WHERE doc_id < 200),
    fr AS (
      SELECT doc_id, w, h, nf, cut, f.f AS f
      FROM d CROSS JOIN (SELECT unnest(range(1, 7)) AS f) f
      WHERE f.f < nf),
    px AS (
      SELECT doc_id, f, nf, w, h,
             (doc_id + 5 * x.x + 9 * y.y + 2 * (f - 1)
              + CASE WHEN f - 1 >= cut THEN 120 ELSE 0 END) % 256 AS ip,
             (doc_id + 5 * x.x + 9 * y.y + 2 * f
              + CASE WHEN f >= cut THEN 120 ELSE 0 END) % 256 AS ic
      FROM fr
      CROSS JOIN (SELECT unnest(range(5)) AS x) x
      CROSS JOIN (SELECT unnest(range(3)) AS y) y
      WHERE x.x < w AND y.y < h),
    agg AS (
      SELECT doc_id, f, nf,
             SUM(ABS(ic - ip) + ABS((3 * ic) % 256 - (3 * ip) % 256)
                 + ABS((7 * ic) % 256 - (7 * ip) % 256)) / (MAX(w) * MAX(h) * 3) AS delta
      FROM px GROUP BY doc_id, f, nf)
    SELECT doc_id AS asset_id,
           CAST(f AS INTEGER) AS frame_idx,
           CAST(nf AS INTEGER) AS n_frames,
           delta,
           delta > 40.0 AS is_cut
    FROM agg ORDER BY asset_id, frame_idx
    """,
    operators=("N6",),
    doc="Scene-change detection over the video tier: fixtures are "
    "animated GIFs whose pixel law drifts +2 per frame with one hard "
    "+120 jump at a planted cut (cut = 1 + doc_id % (n_frames-1)); "
    "the detector decodes frames SEQUENTIALLY (container scanned once, "
    "peak memory two frames per asset at any clip length), folds the "
    "mean absolute RGB delta of each consecutive pair in exact integer "
    "arithmetic with ONE division, and thresholds at 40. The oracle "
    "replays deltas AND verdicts from the law composed with the "
    "palette — so a wrong palette map, frame order, or off-by-one in "
    "the pair indexing flips the hash. Zero-shuffle plan pinned.",
)
def q143_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import scene_cuts, synth_gif_scene_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    return scene_cuts(synth_gif_scene_assets(docs), threshold=40.0).orderBy(
        "asset_id", "frame_idx"
    )


@query(
    "q144_decode_quarantine",
    """
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 11 = 0 THEN 'unknown'
                ELSE CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                          WHEN 2 THEN 'bmp' WHEN 3 THEN 'wav'
                          ELSE 'flac' END END AS fmt,
           doc_id % 11 <> 0 AND doc_id % 7 <> 0 AS ok
    FROM documents WHERE doc_id < 300 ORDER BY asset_id
    """,
    operators=("N6", "N18"),
    doc="Poison-safe mixed-corpus ingestion (decode_audit): a corpus "
    "rotating five REAL formats (png/gif/bmp/wav/flac, every payload "
    "a real encode) with planted poison — doc_id%11=0 rows are "
    "magic-less garbage, doc_id%7=0 rows are truncated to 12 bytes "
    "(magic intact, body gone). Format sniffing is a pure JVM "
    "column expression over the magic bytes (zero Python, usable as "
    "a routing key); the decode attempt runs the real codec and "
    "QUARANTINES failures as rows (asset_id, fmt, ok, err) instead "
    "of exceptions — at 100 TB one corrupt object must cost one "
    "quarantine row, never a task-retry storm. The oracle replays "
    "sniffed format and decode verdict from the planting law; the "
    "err class (engine-internal exception taxonomy) is deliberately "
    "NOT hashed. extract_features stays strict by design — this op "
    "is the gate that curates what the strict tier consumes.",
)
def q144_decode_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import decode_audit, synth_mixed_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 300)
    audit = decode_audit(synth_mixed_assets(docs))
    return audit.select("asset_id", "fmt", "ok").orderBy("asset_id")


@query(
    "q145_voice_segments",
    """
    WITH d AS (
      SELECT doc_id, 8 + doc_id % 5 AS nw, 2 + doc_id % 3 AS s0,
             2 + doc_id % 3 + 1 + doc_id % 2 AS s1
      FROM documents WHERE doc_id < 300)
    SELECT asset_id, seg_idx, win_start, win_end, n_windows FROM (
      SELECT doc_id AS asset_id, CAST(1 AS INTEGER) AS seg_idx,
             CAST(0 AS INTEGER) AS win_start,
             CAST(s0 - 1 AS INTEGER) AS win_end,
             CAST(s0 AS INTEGER) AS n_windows
      FROM d
      UNION ALL
      SELECT doc_id, CAST(2 AS INTEGER), CAST(s1 AS INTEGER),
             CAST(nw - 1 AS INTEGER), CAST(nw - s1 AS INTEGER)
      FROM d)
    ORDER BY asset_id, seg_idx
    """,
    operators=("N6",),
    doc="Audio activity (VAD-style) segmentation: mono PCM WAV "
    "fixtures carry a planted all-zero silence span inside a constant "
    "voiced signal; windows of 16 samples score mean-square energy "
    "(EXACT integer sum of squares, one division, no sqrt — verdicts "
    "bit-stable in any engine), then DECLARATIVE gaps-and-islands "
    "(lag/cumsum + groupBy) merges voiced runs into segments. The "
    "only stage touching audio bytes is the map-side window scorer; "
    "every exchange carries |windows| verdict rows, never samples — "
    "a deliberately different plan shape from the zero-shuffle codec "
    "queries (2 exchanges pinned). The oracle derives both voiced "
    "segments per asset from the planting arithmetic, independent of "
    "decoder, scorer and island logic.",
)
def q145_voice_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import synth_wav_voice_assets, voice_segments

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 300)
    segs = voice_segments(synth_wav_voice_assets(docs), win=16, threshold=50.0)
    return segs.orderBy("asset_id", "seg_idx")


@query(
    "q146_image_dhash_dedup",
    """
    WITH m AS (
      SELECT doc_id, doc_id % 25 AS k FROM documents WHERE doc_id < 200),
    grid AS (
      SELECT k.k, x.x, y.y,
             (299 * ((7 * k.k + 11 * x.x + 23 * y.y) % 256)
              + 587 * ((7 * k.k + 11 * x.x + 23 * y.y + 41) % 256)
              + 114 * ((7 * k.k + 11 * x.x + 23 * y.y + 82) % 256)) // 1000 AS g0,
             (299 * ((7 * k.k + 11 * (x.x + 1) + 23 * y.y) % 256)
              + 587 * ((7 * k.k + 11 * (x.x + 1) + 23 * y.y + 41) % 256)
              + 114 * ((7 * k.k + 11 * (x.x + 1) + 23 * y.y + 82) % 256)) // 1000 AS g1
      FROM (SELECT DISTINCT doc_id % 25 AS k FROM documents WHERE doc_id < 200) k
      CROSS JOIN (SELECT unnest(range(8)) AS x) x
      CROSS JOIN (SELECT unnest(range(7)) AS y) y),
    hx AS (
      SELECT k, CAST(SUM(CASE WHEN g1 > g0
                              THEN CAST(1 AS BIGINT) << (y * 8 + x)
                              ELSE 0 END) AS BIGINT) AS dhash
      FROM grid GROUP BY k)
    SELECT hx.dhash,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           MIN(m.doc_id) AS first_asset,
           MAX(m.doc_id) AS last_asset
    FROM m JOIN hx USING (k)
    GROUP BY hx.dhash ORDER BY dhash
    """,
    operators=("N6", "N2", "N1"),
    doc="Perceptual image dedup via dHash (the LAION-style pipeline "
    "key): every payload is a REAL PNG decoded by the pure-python "
    "codec, resampled to the 9x7 grid with the exact integer "
    "nearest-neighbour law, integer-grayscaled (299r+587g+114b)//1000 "
    "and packed into a 56-bit gradient hash — all integer arithmetic, "
    "so the hash is bit-replayable by the oracle and partition-stable, "
    "making it a valid EXACT-dedup key (independently re-encoded "
    "copies collapse). Fixtures plant 25 duplicate classes of 8 "
    "members; grouping shuffles 8-byte hashes, never pixels. The "
    "oracle recomputes every hash from the pixel law composed with "
    "grayscale+gradient packing, independent of codec and hasher.",
)
def q146_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import image_dhash, synth_png_dup_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    hashes = image_dhash(synth_png_dup_assets(docs))
    return (
        hashes.groupBy("dhash")
        .agg(
            F.count("*").alias("n_assets"),
            F.min("asset_id").alias("first_asset"),
            F.max("asset_id").alias("last_asset"),
        )
        .orderBy("dhash")
    )


@query(
    "q147_image_near_dup",
    """
    WITH m AS (
      SELECT doc_id, doc_id % 20 AS k, doc_id % 9 AS xp, (doc_id // 9) % 7 AS yp
      FROM documents WHERE doc_id < 200),
    grid AS (
      SELECT m.doc_id, x.x, y.y,
             (299 * ((13 * k + 11 * x.x + 23 * y.y
                      + 128 * CASE WHEN x.x = xp AND y.y = yp THEN 1 ELSE 0 END) % 256)
              + 587 * ((13 * k + 11 * x.x + 23 * y.y + 41
                      + 128 * CASE WHEN x.x = xp AND y.y = yp THEN 1 ELSE 0 END) % 256)
              + 114 * ((13 * k + 11 * x.x + 23 * y.y + 82
                      + 128 * CASE WHEN x.x = xp AND y.y = yp THEN 1 ELSE 0 END) % 256)) // 1000 AS g0,
             (299 * ((13 * k + 11 * (x.x + 1) + 23 * y.y
                      + 128 * CASE WHEN x.x + 1 = xp AND y.y = yp THEN 1 ELSE 0 END) % 256)
              + 587 * ((13 * k + 11 * (x.x + 1) + 23 * y.y + 41
                      + 128 * CASE WHEN x.x + 1 = xp AND y.y = yp THEN 1 ELSE 0 END) % 256)
              + 114 * ((13 * k + 11 * (x.x + 1) + 23 * y.y + 82
                      + 128 * CASE WHEN x.x + 1 = xp AND y.y = yp THEN 1 ELSE 0 END) % 256)) // 1000 AS g1
      FROM m
      CROSS JOIN (SELECT unnest(range(8)) AS x) x
      CROSS JOIN (SELECT unnest(range(7)) AS y) y),
    hx AS (
      SELECT doc_id, CAST(SUM(CASE WHEN g1 > g0
                                   THEN CAST(1 AS BIGINT) << (y * 8 + x)
                                   ELSE 0 END) AS BIGINT) AS dhash
      FROM grid GROUP BY doc_id)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS dist
    FROM hx a JOIN hx b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
    ORDER BY a_id, b_id
    """,
    operators=("N2", "N6", "N14"),
    doc="Hamming near-dup join over perceptual image hashes — the "
    "LAION-style near-dup image sweep, and the banding is EXACT, not "
    "approximate: a pair within hamming distance 4 of a 56-bit dHash "
    "split into 7 bands cannot differ in every band (pigeonhole), so "
    "the band equi-join has 100% recall and the bit_count refinement "
    "reproduces the ALL-PAIRS relation — which is literally what the "
    "oracle computes (brute-force all pairs at fixture scale), so the "
    "driver hash proves the LSH path lossless. Fixtures plant 20 "
    "classes whose members differ by one perturbed grid cell (<= 2 "
    "gradient bits per member, <= 4 per pair); hashes materialize "
    "once (localCheckpoint) so the expensive decode feeds both join "
    "sides without recompute, and the join shuffles 8-byte hashes, "
    "never pixels.",
)
def q147_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.dedup import hamming_near_dups
    from fdf_spark.llm.multimodal import image_dhash, synth_png_near_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    hashes = image_dhash(synth_png_near_assets(docs)).localCheckpoint()
    pairs = hamming_near_dups(hashes, "dhash", "asset_id", max_dist=4, bands=7)
    return pairs.orderBy("a_id", "b_id")


@query(
    "q132_webdataset_roundtrip",
    """
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS n_chars,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM documents WHERE doc_id < 200
    GROUP BY source ORDER BY source
    """,
    operators=("N6", "S10", "N24"),
    doc="WebDataset tar-shard container roundtrip (llm/webdataset.py — "
    "the de-facto multimodal training-data container): docs < 200 "
    "become (key.txt, key.json) members written as REAL USTAR tar "
    "shards by parallel arrow_kernel writers, read back through the "
    "binaryFile source + tar unpack, samples regrouped, the json "
    "sidecar re-parsed — and the per-source doc/char audit of the "
    "ROUNDTRIPPED bytes must equal the oracle's direct computation on "
    "the documents table. A wrong member pairing, lost sample, split "
    "sample, or payload corruption fails the hash. Scratch shards are "
    "removed via materialize_and_cleanup.",
)
def q132_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.llm.webdataset import group_samples, read_webdataset, write_webdataset
    from fdf_spark.queries import materialize_and_cleanup

    docs = (
        T(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(F.format_string("%06d", F.col("doc_id")).alias("key"), "text", "source")
    )
    txt = docs.select("key", F.lit("txt").alias("ext"), F.encode("text", "UTF-8").alias("payload"))
    meta = docs.select(
        "key",
        F.lit("json").alias("ext"),
        F.encode(F.to_json(F.struct("source")), "UTF-8").alias("payload"),
    )
    members = txt.unionByName(meta).repartition(4, "key").sortWithinPartitions("key")
    path = tempfile.mkdtemp(prefix="fdf_wds_")
    write_webdataset(members, path).collect()  # parallel shard writers
    samples = group_samples(read_webdataset(spark, path))
    out = (
        samples.select(
            F.col("key").cast("bigint").alias("doc_id"),
            F.decode(F.col("parts")["txt"], "UTF-8").alias("text"),
            F.get_json_object(F.decode(F.col("parts")["json"], "UTF-8"), "$.source").alias("source"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source")
    )
    return materialize_and_cleanup(out, path)


@query(
    "q133_tokenbin_roundtrip",
    """
    SELECT doc_id % 8 AS shard, COUNT(*) AS n_docs,
           CAST(SUM(len(text)) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN len(text) = 0 THEN 0 ELSE
             list_aggregate(list_transform(string_split_regex(text, ''),
                                           c -> unicode(c)), 'sum') END) AS BIGINT) AS tok_sum,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM documents WHERE doc_id < 500
    GROUP BY shard ORDER BY shard
    """,
    operators=("N24", "N19", "S10"),
    doc="Binary token-shard export roundtrip (llm/tokenbin.py — the "
    "Megatron-style trainer handoff with the doc index embedded as a "
    "footer): docs < 500 codepoint-tokenize, hash-partition into 8 "
    "shards, parallel writers emit one self-describing .tokbin per "
    "shard (uint32 stream + doc table + footer), the binaryFile reader "
    "re-parses everything in the map stage — and the per-shard "
    "doc/token counts AND the sum over every decoded token id must "
    "equal the oracle's arithmetic recomputation from the text. A "
    "wrong dtype, endianness, offset table, or truncated stream fails "
    "the hash. Scratch shards removed via materialize_and_cleanup.",
)
def q133_tokenbin_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.llm.tokenbin import (
        codepoint_tokenize,
        read_token_bin_shards,
        write_token_bin_shards,
    )
    from fdf_spark.queries import materialize_and_cleanup

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    toks = codepoint_tokenize(docs).withColumn(
        "shard", (F.col("doc_id") % 8).cast("int")
    )
    path = tempfile.mkdtemp(prefix="fdf_tokbin_")
    write_token_bin_shards(toks, path).collect()
    back = read_token_bin_shards(spark, path)
    out = (
        back.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("ids")).alias("n_tokens"),
            F.sum(F.aggregate("ids", F.lit(0).cast("bigint"), lambda a, x: a + x)).alias("tok_sum"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            "n_docs", "n_tokens", "tok_sum", "first_doc", "last_doc",
        )
        .orderBy("shard")
    )
    return materialize_and_cleanup(out, path)


_BLOOM_M = 4096
_BLOOM_K = 5
_BLOOM_ROWS_SQL = "(VALUES (0), (1), (2), (3), (4)) rs(r)"


@query(
    "q134_bloom_membership",
    f"""
    WITH keys AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders),
    kaddr AS (
      SELECT {sql_hash60('key', 'rs.r')} % {_BLOOM_M} AS pos
      FROM keys CROSS JOIN {_BLOOM_ROWS_SQL}),
    cells AS (
      SELECT pos // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
      FROM kaddr GROUP BY word),
    paddr AS (
      SELECT c_custkey,
             {sql_hash60('CAST(c_custkey AS VARCHAR)', 'rs.r')} % {_BLOOM_M} AS pos
      FROM customer CROSS JOIN {_BLOOM_ROWS_SQL}),
    verdict AS (
      SELECT c_custkey,
             bool_and(((COALESCE(cells.bits, 0) >> CAST(pos % 32 AS INTEGER)) & 1) = 1)
               AS might_contain
      FROM paddr LEFT JOIN cells ON cells.word = pos // 32
      GROUP BY c_custkey)
    SELECT v.c_custkey, v.might_contain,
           (k.key IS NOT NULL) AS is_member
    FROM verdict v
    LEFT JOIN keys k ON k.key = CAST(v.c_custkey AS VARCHAR)
    ORDER BY v.c_custkey
    """,
    operators=("N5", "J6"),
    doc="Bloom-filter membership (N5's membership-sketch tier beside "
    "HLL distinct counts and Count-Min frequencies; the join-pruning "
    "primitive at 100 TB): a 4096-bit/5-hash filter built over the "
    "ordering customers' keys — per key the k bit positions fan out "
    "in-row, one map-side-combining bit_or groupBy folds them into "
    "<= m/32 words — then EVERY customer is probed against the "
    "broadcast filter and the per-customer verdict ships next to true "
    "membership. m is sized small on purpose so real false positives "
    "appear in the checked relation (both verdict kinds exercised); "
    "no-false-negative is the property test. The oracle replays the "
    "portable-md5 bit arithmetic exactly, so one wrong bit anywhere "
    "in the filter flips the hash.",
)
def q134_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.sketches import bloom_build, bloom_might_contain

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    keys = orders.select(
        F.col("o_custkey").cast("string").alias("key")
    ).distinct()
    bloom = bloom_build(keys, m_bits=_BLOOM_M, k=_BLOOM_K)
    probes = cust.select(F.col("c_custkey").cast("string").alias("key"))
    verdict = bloom_might_contain(bloom, probes, m_bits=_BLOOM_M, k=_BLOOM_K)
    return (
        verdict.join(keys.withColumn("is_member", F.lit(True)), "key", "left")
        .select(
            F.col("key").cast("bigint").alias("c_custkey"),
            "might_contain",
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q135_flac_codec_roundtrip",
    """
    WITH d AS (
      SELECT doc_id, 300 + doc_id % 50 AS n,
             8000 + 1000 * (doc_id % 4) AS sr
      FROM documents WHERE doc_id < 150),
    s AS (
      SELECT doc_id, n, sr,
             CAST((doc_id * 31 + 7 * i.i) % 2048 - 1024 AS BIGINT) AS v
      FROM d CROSS JOIN (SELECT unnest(range(350)) AS i) i
      WHERE i.i < n)
    SELECT doc_id AS asset_id,
           CAST(MAX(sr) AS DOUBLE) AS v0,
           CAST(1 AS DOUBLE) AS v1,
           CAST(MAX(n) AS DOUBLE) AS v2,
           AVG(CAST(v AS DOUBLE)) AS v3,
           CAST(MAX(abs(v)) AS DOUBLE) AS v4,
           AVG(CAST(v * v AS DOUBLE)) AS v5
    FROM s GROUP BY doc_id ORDER BY asset_id
    """,
    operators=("N6",),
    doc="REAL lossless-compressed audio decode end-to-end (FLAC, fixed-"
    "predictor profile — llm/flac.py implements frames, fixed "
    "predictors 0-4, Rice residuals with escapes, UTF-8 frame numbers, "
    "and verifies all three spec integrity layers: header CRC-8, frame "
    "CRC-16, STREAMINFO MD5). Fixtures are multi-frame sawtooth "
    "signals with an arithmetic sample law; losslessness makes the "
    "oracle TOTAL: DuckDB recomputes mean/peak/energy of the decoded "
    "stream exactly, so any bug in rice coding, prediction, bit "
    "packing, or framing breaks the hash. Completes the audio tier: "
    "PCM (wav), lossy-compressed (ADPCM), lossless-compressed (FLAC).",
)
def q135_flac_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import extract_features, synth_flac_assets

    docs = T(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 150)
    feats = extract_features(synth_flac_assets(docs), codec="flac")
    return feats.select(
        "asset_id",
        *[F.element_at("feat", i + 1).alias(f"v{i}") for i in range(6)],
    ).orderBy("asset_id")


def _hll_oracle_sql(expr: str) -> str:
    """DuckDB replay of hll_sketch + hll_estimate at p=12: identical
    hash, register/rank arithmetic, EXACT decimal harmonic sum, and
    the same IEEE literals in the closed-form estimate."""
    return f"""
      SELECT round(CASE WHEN (a / ((CAST(s AS DOUBLE) + CAST(4096 - np AS DOUBLE)
                                     * 562949953421312.0) / 562949953421312.0)
                          < 2.5 * 4096) AND np < 4096
                   THEN 4096.0 * ln(4096.0 / CAST(4096 - np AS DOUBLE))
                   ELSE a / ((CAST(s AS DOUBLE) + CAST(4096 - np AS DOUBLE)
                              * 562949953421312.0) / 562949953421312.0) END, 6)
      FROM (
        SELECT CAST(SUM(CAST(pow(2, 49 - maxrank) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
               COUNT(*) AS np,
               ((0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0) * 4096.0 AS a
        FROM (
          SELECT register, MAX(rank) AS maxrank FROM (
            SELECT hash % 4096 AS register,
                   CASE WHEN hash // 4096 = 0 THEN 49
                        ELSE 48 - length(bin(hash // 4096)) + 1 END AS rank
            FROM (SELECT {sql_hash60(expr)} AS hash FROM orders)
          ) GROUP BY register
        )
      )
    """


@query(
    "q136_hll_distinct",
    f"""
    SELECT 'o_custkey' AS col,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           ({_hll_oracle_sql("CAST(o_custkey AS VARCHAR)")}) AS hll_estimate
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           ({_hll_oracle_sql("o_orderpriority")})
    FROM orders
    ORDER BY col
    """,
    operators=("N5", "A3"),
    doc="HyperLogLog distinct-count sketch (Flajolet et al. 2007) — "
    "the cardinality member completing the sketch trio (Count-Min "
    "frequencies q119/q127, Bloom membership q134). Unlike Spark's "
    "engine-private approx_count_distinct (q22, rows-only check), "
    "this HLL is built on the portable md5-60 hash with a FIRST-CLASS "
    "register relation: one map-side-combining groupBy bounded at 2^12 "
    "rows, register-wise-MAX mergeable (property-tested), and every "
    "register AND the closed-form estimate replayed bit-for-bit by the "
    "oracle — the harmonic sum runs as an EXACT decimal sum of "
    "dyadics, so float summation order cannot diverge between engines. "
    "Output pairs the estimate with the true distinct count per "
    "column, so the checked relation also documents the ~1.6% accuracy.",
)
def q136_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.sketches import hll_estimate, hll_sketch

    orders = T(spark, sf_dir, "orders")

    def one(col_expr, label):
        keyed = orders.select(col_expr.alias("k"))
        est = hll_estimate(hll_sketch(keyed, "k"))
        exact = keyed.agg(F.countDistinct("k").alias("exact_distinct"))
        return (
            exact.crossJoin(est)
            .select(
                F.lit(label).alias("col"),
                "exact_distinct",
                F.col("estimate").alias("hll_estimate"),
            )
        )

    a = one(F.col("o_custkey").cast("string"), "o_custkey")
    b = one(F.col("o_orderpriority"), "o_orderpriority")
    return a.unionByName(b).orderBy("col")


_QSK_K = 1024
_QSK_QS = (0.01, 0.25, 0.5, 0.75, 0.99)


@query(
    "q137_quantile_sketch",
    f"""
    WITH hashed AS (
      SELECT {sql_hash60("CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)")} AS h,
             l_extendedprice AS v, l_orderkey
      FROM lineitem),
    samp AS (
      -- two bottom-k sketches over disjoint halves, merged by re-taking
      -- bottom-k: bit-identical to the whole-stream sketch (what this pins)
      SELECT h, v FROM (
        SELECT h, v FROM (SELECT h, v FROM hashed WHERE l_orderkey % 2 = 0
                          ORDER BY h, v LIMIT {_QSK_K})
        UNION ALL
        SELECT h, v FROM (SELECT h, v FROM hashed WHERE l_orderkey % 2 = 1
                          ORDER BY h, v LIMIT {_QSK_K})
      ) ORDER BY h, v LIMIT {_QSK_K}),
    ranked AS (
      SELECT v, h, row_number() OVER (ORDER BY v, h) AS r, COUNT(*) OVER () AS n
      FROM samp),
    qs AS (SELECT CAST(unnest([{", ".join(str(q) for q in _QSK_QS)}]) AS DOUBLE) AS q),
    est AS (
      SELECT q, v AS est FROM qs JOIN ranked
        ON ranked.r = GREATEST(1, CAST(CEIL(q * ranked.n) AS BIGINT))),
    tr AS (
      SELECT e.q, e.est, CAST(COUNT(*) AS BIGINT) AS true_rank
      FROM est e JOIN lineitem l ON l.l_extendedprice <= e.est
      GROUP BY e.q, e.est),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem)
    SELECT q, est, true_rank, n_rows,
           round(abs(true_rank * 1.0 / n_rows - q), 6) AS rank_err
    FROM tr CROSS JOIN tot ORDER BY q
    """,
    operators=("N5", "A9"),
    doc="Quantile sketch completing the sketch family (Count-Min = "
    "frequencies q119/q127, Bloom = membership q134, HLL = cardinality "
    "q136, this = quantiles/ranks): a deterministic bottom-k-by-"
    "portable-md5 row sample (the Bar-Yossef KMV shape made "
    "deterministic), chosen over KLL/t-digest because their compactions "
    "are arrival-order-dependent — partitioning-sensitive and "
    "unreplayable in any other engine — while the bottom-k relation is "
    "a pure function of the row multiset: EXACTLY mergeable (the query "
    "builds two half-corpus sketches and merges them; the oracle "
    "replays the same construction bit-for-bit) at the O(1/eps^2) "
    "space price, 16 KB at eps=3%. Build is one TakeOrderedAndProject "
    "(<= k rows per map task, corpus size irrelevant); estimation "
    "sorts the <= k-row sample and picks ceil(q*n)-th order "
    "statistics. Output pairs each estimate with its exact rank so the "
    "checked relation also documents the rank error.",
)
def q137_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.sketches import (
        quantile_estimate,
        quantile_merge,
        quantile_sketch,
    )

    li = T(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("_"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        F.col("l_extendedprice").alias("price"),
        "l_orderkey",
    )
    even = quantile_sketch(keyed.filter(F.col("l_orderkey") % 2 == 0), "price", "rid", k=_QSK_K)
    odd = quantile_sketch(keyed.filter(F.col("l_orderkey") % 2 == 1), "price", "rid", k=_QSK_K)
    est = quantile_estimate(quantile_merge(even, odd, k=_QSK_K), _QSK_QS)
    probe = li.select(F.col("l_extendedprice").alias("lv"))
    tr = (
        probe.join(F.broadcast(est), F.col("lv") <= F.col("est"))
        .groupBy("q", "est")
        .agg(F.count(F.lit(1)).alias("true_rank"))
    )
    tot = li.agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        tr.crossJoin(F.broadcast(tot))
        .select(
            "q",
            "est",
            "true_rank",
            "n_rows",
            F.round(F.abs(F.col("true_rank") * F.lit(1.0) / F.col("n_rows") - F.col("q")), 6).alias("rank_err"),
        )
        .orderBy("q")
    )


_QSKB_K = 256


@query(
    "q139_grouped_quantiles",
    f"""
    WITH hashed AS (
      SELECT source,
             {sql_hash60("CAST(doc_id AS VARCHAR)")} AS h,
             CAST(length(text) AS DOUBLE) AS v
      FROM documents),
    samp AS (
      SELECT source, h, v FROM (
        SELECT source, h, v,
               row_number() OVER (PARTITION BY source ORDER BY h, v) AS rn
        FROM hashed) WHERE rn <= {_QSKB_K}),
    ranked AS (
      SELECT source, v, h,
             row_number() OVER (PARTITION BY source ORDER BY v, h) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM samp),
    qs AS (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS q)
    SELECT ranked.source, qs.q, ranked.v AS est
    FROM qs JOIN ranked
      ON ranked.r = GREATEST(1, CAST(CEIL(qs.q * ranked.n) AS BIGINT))
    ORDER BY source, q
    """,
    operators=("N5", "A9"),
    doc="GROUPED quantile sketch — per-source document-length "
    "quantiles, the per-key form a production pipeline actually asks "
    "for. Spark builds TWO per-key sketches over disjoint halves "
    "(doc_id parity) and merges them per key; the oracle computes the "
    "whole-stream per-key bottom-k directly, so the hash comparison IS "
    "the per-key exact-merge law (merged == whole-stream per group, as "
    "relations). State bounded at |groups|*k rows; the only corpus "
    "shuffle is the key hash-exchange any per-key result needs, and "
    "estimation has NO single-partition stage (more scalable than the "
    "global sketch).",
)
def q139_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.sketches import (
        quantile_estimate_by,
        quantile_merge_by,
        quantile_sketch_by,
    )

    docs = T(spark, sf_dir, "documents").select(
        "source", "doc_id", F.length("text").cast("double").alias("len")
    )
    halves = [
        quantile_sketch_by(
            docs.filter(F.col("doc_id") % 2 == i), ["source"], "len", "doc_id", k=_QSKB_K
        )
        for i in (0, 1)
    ]
    merged = quantile_merge_by(*halves, keys=["source"], k=_QSKB_K)
    return quantile_estimate_by(merged, ["source"], (0.25, 0.5, 0.9))


@query(
    "q140_grouped_hll_distinct",
    f"""
    WITH h AS (
      SELECT o_orderpriority AS priority,
             {sql_hash60("CAST(o_custkey AS VARCHAR)")} AS hash
      FROM orders),
    regs AS (
      SELECT priority, hash % 4096 AS register,
             MAX(CASE WHEN hash // 4096 = 0 THEN 49
                      ELSE 48 - length(bin(hash // 4096)) + 1 END) AS maxrank
      FROM h GROUP BY priority, register),
    agg AS (
      SELECT priority,
             CAST(SUM(CAST(pow(2, 49 - maxrank) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
             COUNT(*) AS np,
             ((0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0) * 4096.0 AS a
      FROM regs GROUP BY priority),
    est AS (
      SELECT priority,
             round(CASE WHEN (a / ((CAST(s AS DOUBLE) + CAST(4096 - np AS DOUBLE)
                                     * 562949953421312.0) / 562949953421312.0)
                              < 2.5 * 4096) AND np < 4096
                   THEN 4096.0 * ln(4096.0 / CAST(4096 - np AS DOUBLE))
                   ELSE a / ((CAST(s AS DOUBLE) + CAST(4096 - np AS DOUBLE)
                              * 562949953421312.0) / 562949953421312.0) END, 6)
               AS hll_estimate
      FROM agg),
    ex AS (
      SELECT o_orderpriority AS priority,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
      FROM orders GROUP BY o_orderpriority)
    SELECT ex.priority, ex.exact_distinct, est.hll_estimate
    FROM ex JOIN est USING (priority) ORDER BY priority
    """,
    operators=("N5", "A3", "A8"),
    doc="GROUPED HyperLogLog — distinct customers PER order priority "
    "(the per-day/per-partition distinct-count shape). Spark builds "
    "two per-key register relations over disjoint order halves and "
    "merges by per-key register-wise MAX; the oracle computes the "
    "whole-stream per-key sketch directly, so the hash comparison IS "
    "the per-key merge law. Registers AND the closed-form estimates "
    "replay bit-for-bit (exact decimal harmonic sum per group); "
    "shuffle bounded at |groups|*2^12 register rows. Output pairs "
    "each estimate with the exact distinct count per group.",
)
def q140_grouped_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.sketches import hll_estimate_by, hll_merge_by, hll_sketch_by

    orders = T(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_custkey").cast("string").alias("k"),
        "o_orderkey",
    )
    halves = [
        hll_sketch_by(orders.filter(F.col("o_orderkey") % 2 == i), ["priority"], "k")
        for i in (0, 1)
    ]
    merged = hll_merge_by(*halves, keys=["priority"])
    est = hll_estimate_by(merged, ["priority"])
    exact = orders.groupBy("priority").agg(
        F.countDistinct("k").alias("exact_distinct")
    )
    return (
        exact.join(est, "priority")
        .select("priority", "exact_distinct", F.col("estimate").alias("hll_estimate"))
        .orderBy("priority")
    )


@query(
    "q72_fingerprint",
    r"""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
    FROM documents ORDER BY doc_id
    """,
    operators=("N1", "N4"),
    doc="Normalized-content md5 fingerprint (formatting-insensitive dedup key).",
)
def q72_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(T(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "q76_training_data_prep",
    rf"""
    WITH surv AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
    sdocs AS (SELECT d.doc_id, d.text FROM documents d JOIN surv USING (doc_id)),
    docs AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM sdocs),
    sh_raw AS (
      SELECT doc_id,
             unnest(list_transform(range(greatest(len(w) - 2, 0)),
                                   i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
      FROM docs),
    sh AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh FROM sh_raw),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    removed AS (
      SELECT DISTINCT id_b AS doc_id
      FROM inter JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
      WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5),
    kept AS (SELECT s.doc_id, s.text FROM sdocs s ANTI JOIN removed r ON s.doc_id = r.doc_id),
    lang AS (
      SELECT doc_id,
             CASE WHEN cjk THEN 'zh'
                  WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'unknown'
                  WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                  WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                  WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM (
        SELECT doc_id,
               {_sql_lang_score('en')} AS s_en, {_sql_lang_score('es')} AS s_es,
               {_sql_lang_score('de')} AS s_de, {_sql_lang_score('fr')} AS s_fr,
               regexp_matches(text, '[\x{{4e00}}-\x{{9fff}}]') AS cjk
        FROM kept)),
    stats AS (
      SELECT doc_id,
             CAST(len(string_split_regex(lower(text), '\s+')) AS INTEGER) AS n_tokens,
             round(0.4 * (len(list_filter(string_split_regex(lower(text), '\s+'),
                                          x -> x IN ('the','and','of','to','a','in','is'))) * 1.0
                          / len(string_split_regex(lower(text), '\s+')))
                 + 0.4 * ((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1.0 / length(text))
                 - 0.2 * (length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) * 1.0 / length(text)), 6) AS quality_score
      FROM kept)
    SELECT k.doc_id, st.n_tokens, st.quality_score
    FROM kept k JOIN lang l ON k.doc_id = l.doc_id JOIN stats st ON k.doc_id = st.doc_id
    WHERE l.pred_lang = 'en' AND st.quality_score >= 0.35
    ORDER BY k.doc_id
    """,
    operators=("N1", "N2", "N4"),
    doc="End-to-end corpus preparation — the composition a training-data "
    "pipeline actually runs: exact dedup (keep smallest id) → near-dup "
    "removal (Jaccard >= 0.5) → language filter (predicted 'en') → "
    "quality filter (score >= 0.35) → token counts for the survivors. "
    "Every stage is an already-oracle-checked operator; this pins the "
    "composition itself.",
)
def q76_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.dedup import ngram_jaccard_pairs

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    # r14: ``kept`` feeds THREE consumers (the id spine, language_id,
    # text_stats); unmaterialized, each one re-ran the sha256 dedup AND
    # the whole shingle/jaccard pipeline. Pin only the ID-LEVEL
    # decisions (survivor ids, near-dup removals — 8 B/row, never the
    # text), so the expensive passes run once and each consumer
    # re-derives ``kept`` as a cheap scan + two id-joins (guide §5:
    # cache the small decision relation, not the payload; measured
    # min-of-3 at sf0.1: 5.71 s → 2.55 s, cold first run 28 s → 7 s).
    # r15: localCheckpoint, not persist — a registry query has no
    # post-collect unpersist hook, and persist()'s CacheManager entry
    # outlives the query; checkpoint blocks are GC-reclaimed with the
    # DataFrame (VERDICT r14 #3).
    surv_ids = exact_dedup(docs).select("doc_id").localCheckpoint()
    sdocs = docs.join(surv_ids, "doc_id", "left_semi")
    removed = (
        ngram_jaccard_pairs(sdocs, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .localCheckpoint()
    )
    kept = sdocs.join(removed, "doc_id", "left_anti")
    # r15: materialize BOTH per-doc verdict relations BEFORE filtering
    # on them.  The staged interpreted counters inside language_id/
    # text_stats are kept apart from their derived columns by
    # CollapseProject, but a FILTER on a derived column
    # (pred_lang == 'en', quality_score >= 0.35) is pushed through both
    # projections and its alias-substituted predicate re-evaluates the
    # lambda-counter passes per reference — measured 0.39 s → 1.66 s on
    # language_id(kept) from the filter alone (guide §4.4's
    # duplicated-evaluation shape, with CodegenFallback expressions in
    # place of UDFs).  The checkpoint executes the unfiltered plan once
    # and the filters run against the materialized rows; both relations
    # are id+scalars (≈20 B/row), the same decision-relation class as
    # surv_ids/removed above.
    lang_all = language_id(kept).select("doc_id", "pred_lang").localCheckpoint()
    lang = lang_all.filter(F.col("pred_lang") == "en").select("doc_id")
    stats = (
        text_stats(kept).select("doc_id", "n_tokens", "quality_score").localCheckpoint()
    )
    return (
        kept.select("doc_id")
        .join(lang, "doc_id", "left_semi")
        .join(stats, "doc_id")
        .filter(F.col("quality_score") >= 0.35)
        .select("doc_id", "n_tokens", "quality_score")
        .orderBy("doc_id")
    )


@query(
    "q77_embedding_near_dedup",
    """
    WITH removed AS (
      SELECT DISTINCT b.vec_id
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(
             list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(64), i -> CAST(a.embedding[i+1] AS DOUBLE) * CAST(a.embedding[i+1] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(64), i -> CAST(b.embedding[i+1] AS DOUBLE) * CAST(b.embedding[i+1] AS DOUBLE))))),
             6) >= 0.3)
    SELECT e.vec_id, e.label
    FROM embeddings e ANTI JOIN removed r ON e.vec_id = r.vec_id
    ORDER BY e.vec_id
    """,
    operators=("N1", "N2", "N3"),
    doc="Embedding-space near-dup removal: drop every vector with a "
    "higher-similarity (cosine >= 0.3) partner of smaller id — the "
    "semantic-dedup tier alongside the lexical ones (q69). Exact "
    "all-pairs here (oracle-checkable); at 100 TB the pair stage is "
    "LSH (q75) or IVF (q73) candidates with identical survivor rule.",
)
def q77_embedding_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14: the pair stage is the vectorized all-pairs tier (see q67 /
    # all_pairs_cosine — 91 s → ~1 s at sf0.1, identical pair relation)
    from fdf_spark.llm.similarity import all_pairs_cosine

    emb = T(spark, sf_dir, "embeddings")
    removed = (
        all_pairs_cosine(emb, threshold=0.3)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        emb.join(removed, "vec_id", "left_anti")
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


@query(
    "q78_multimodal_resize",
    """
    SELECT doc_id AS asset_id,
           CAST(512 AS BIGINT) AS n_bytes,
           32 AS width, 16 AS height
    FROM documents WHERE doc_id % 3 = 0
    ORDER BY asset_id
    """,
    operators=("N6",),
    doc="Multimodal resize plumbing: documents → binary assets → "
    "arrow_kernel resize to 32x16 (deterministic fake codec tiles the "
    "source bytes) → payload length + rewritten metadata per image. The "
    "oracle pins the contract (every image re-encoded to exactly "
    "width*height bytes, metadata updated, row set preserved).",
)
def q78_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.multimodal import resize_images
    from fdf_spark.sources.tables import spread

    docs = spread(T(spark, sf_dir, "documents"))
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image")).otherwise(F.lit("audio")).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )
    resized = resize_images(assets, 32, 16, codec="fake")
    return (
        resized.filter(F.col("media_type") == "image")
        .select(
            "asset_id",
            F.length("payload").cast("long").alias("n_bytes"),
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
        )
        .orderBy("asset_id")
    )


# ---------------------------------------------------------------------------
# Array / lateral surface: explode, posexplode, higher-order functions
# ---------------------------------------------------------------------------


@query(
    "q34_word_topk",
    """
    SELECT word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 20
    """,
    operators=("N4", "N9"),
    doc="Corpus word-frequency top-20: lowercase → regex tokenize → "
    "explode → count → deterministic top-k (count desc, word asc). The "
    "canonical corpus-stats op; at scale the explode is map-side only "
    "and the count aggregates with partial combine before one shuffle "
    "on the word key; LIMIT collapses to a TakeOrdered, no full sort.",
)
def q34_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.sources.tables import spread

    docs = spread(T(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
        .limit(20)
    )


@query(
    "q35_vector_components",
    """
    SELECT vec_id,
           unnest(list_transform(range(len(embedding)), i -> CAST(i AS INTEGER))) AS pos,
           unnest(list_transform(embedding, x -> round(CAST(x AS DOUBLE), 6))) AS comp
    FROM embeddings
    WHERE vec_id < 10
    ORDER BY vec_id, pos
    """,
    operators=("N3", "N9"),
    doc="posexplode of an embedding column into (vec_id, pos, comp) long "
    "form — the lateral-view bridge between the array world and the "
    "relational one (feeds IVF/LSH bucketing). Oracle uses DuckDB's "
    "zipped parallel unnests. Map-side only: no shuffle, no join; "
    "rounds float32 components through double at 6 dp on both sides.",
)
def q35_vector_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "comp"))
        .select(
            "vec_id",
            F.col("pos").cast("int").alias("pos"),
            F.round(F.col("comp").cast("double"), 6).alias("comp"),
        )
        .orderBy("vec_id", "pos")
    )


@query(
    "q36_array_hof",
    """
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           round(sqrt(list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                                  (a, b) -> a + b)), 6) AS l2_norm,
           round(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 6) AS max_abs
    FROM embeddings
    WHERE vec_id < 50
    ORDER BY vec_id
    """,
    operators=("N3", "N9"),
    doc="Higher-order array functions without exploding: filter+size, "
    "aggregate (left-fold dot product → L2 norm), transform+array_max. "
    "Everything stays one row per vector inside whole-stage codegen — "
    "the no-shuffle path for per-vector features at 100 TB (vs q35's "
    "explode). Left-fold from 0.0 is bit-identical to DuckDB's "
    "list_reduce because 0.0 + x1 == x1 exactly; 6-dp round on top.",
)
def q36_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    x2 = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.round(F.sqrt(F.aggregate(x2, F.lit(0.0), lambda a, b: a + b)), 6).alias("l2_norm"),
        F.round(F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))), 6).alias("max_abs"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Deterministic sampling (corpus subsampling for training pipelines)
# ---------------------------------------------------------------------------

from pyspark.sql import Window as W

from fdf_spark.functions.scalar import dsum as _dsum, sql_dsum as _sql_dsum
from fdf_spark.llm.hashing import portable_hash60, sql_hash60

_LI_KEY_SQL = "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)"


@query(
    "q37_hash_sample",
    f"""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           {_sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    WHERE {sql_hash60(_LI_KEY_SQL)} % 10 = 0
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    operators=("N4", "P6", "N7"),
    doc="Deterministic ~10% Bernoulli sample: keep rows whose portable "
    "key-hash lands in one of ten buckets, then aggregate the sample. "
    "This is how you subsample a 100 TB corpus reproducibly — no "
    "rand() (non-replayable across retries/engines), no reservoir "
    "(driver bottleneck); the predicate is map-side, embarrassingly "
    "parallel, and stable under repartitioning/task retry.",
)
def q37_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
    return (
        li.filter(portable_hash60(key) % 10 == 0)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), _dsum("l_extendedprice").alias("sum_price"))
        .orderBy("l_returnflag")
    )


@query(
    "q38_stratified_sample",
    f"""
    SELECT l_returnflag, l_orderkey, l_linenumber FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY {sql_hash60(_LI_KEY_SQL)}, l_orderkey, l_linenumber) AS rn
      FROM lineitem)
    WHERE rn <= 5
    ORDER BY l_returnflag, l_orderkey, l_linenumber
    """,
    operators=("N4", "P2", "N7"),
    doc="Stratified deterministic sample: per stratum keep the k rows "
    "with the smallest portable key-hash — a replayable 'random' k per "
    "group (hash order is uniform but fixed). Catalyst runs the "
    "rank-filter as a windowed top-k with partial TakeOrdered per "
    "partition before the stratum shuffle, so skewed strata don't "
    "materialize fully.",
)
def q38_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
    w = W.partitionBy("l_returnflag").orderBy(portable_hash60(key), "l_orderkey", "l_linenumber")
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("l_returnflag", "l_orderkey", "l_linenumber")
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    )


@query(
    "q39_json_roundtrip",
    """
    SELECT doc_id,
           to_json(struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars)) AS payload,
           json_extract_string(to_json(struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars)), '$.lang') AS lang_out,
           CAST(json_extract_string(to_json(struct_pack(doc_id := doc_id, lang := lang, n_chars := n_chars)), '$.n_chars') AS BIGINT) AS n_chars_out
    FROM documents
    WHERE doc_id < 10
    ORDER BY doc_id
    """,
    operators=("N4", "F6", "N8"),
    doc="JSON round-trip: struct → compact JSON string → path "
    "extraction — the metadata-sidecar pattern of training corpora "
    "(every record carries a JSON provenance blob). Spark's to_json "
    "and DuckDB's struct_pack serialization are byte-identical "
    "(compact, insertion-ordered keys), so the oracle pins the exact "
    "payload text, not just the extracted fields. All JVM-side "
    "expressions — no UDF, no shuffle before the final sort.",
)
def q39_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    payload = F.to_json(F.struct("doc_id", "lang", "n_chars"))
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.get_json_object(payload, "$.lang").alias("lang_out"),
        F.get_json_object(payload, "$.n_chars").cast("long").alias("n_chars_out"),
    ).orderBy("doc_id")


@query(
    "q58_text_normalize",
    """
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm_text
      FROM documents)
    SELECT d.doc_id, n.norm_text,
           length(n.norm_text) AS n_chars_norm,
           levenshtein(substr(lower(d.text), 1, 30), substr(n.norm_text, 1, 30)) AS lev_30
    FROM documents d JOIN norm n USING (doc_id)
    WHERE d.doc_id < 15
    ORDER BY d.doc_id
    """,
    operators=("N4", "F8"),
    doc="Corpus text normalization: lowercase → strip non-alphanumerics → "
    "collapse runs of spaces → trim, plus an edit-distance column "
    "(levenshtein over the first 30 chars) quantifying the cleanup — "
    "the standard pre-tokenization scrub. Pure JVM string expressions "
    "inside whole-stage codegen, no shuffle before the final sort; the "
    "regex classes used behave identically in Java and RE2.",
)
def q58_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 15)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.levenshtein(
            F.substring(F.lower(F.col("text")), 1, 30), F.substring(norm, 1, 30)
        ).cast("long").alias("lev_30"),
    ).orderBy("doc_id")


@query(
    "q59_map_agg",
    """
    SELECT source,
           COUNT(CASE WHEN lang = 'en' THEN 1 END) AS n_en,
           COUNT(CASE WHEN lang = 'de' THEN 1 END) AS n_de,
           CAST(COUNT(DISTINCT lang) AS INTEGER) AS n_langs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    operators=("N4", "A3", "N9"),
    doc="MapType aggregation: collect a per-source lang → count map "
    "(map_from_entries over a two-level agg) and read it back with "
    "element_at and map size. The map is the Spark-side data shape — "
    "the natural per-key feature bag for corpus metadata; the oracle "
    "checks its observable content through scalar lookups (DuckDB "
    "MAP output isn't hash-comparable to Spark's). Two shuffles "
    "(lang-level then source-level agg), both with partial combine.",
)
def q59_map_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    per_lang = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    maps = per_lang.groupBy("source").agg(
        F.map_from_entries(F.collect_list(F.struct("lang", "n"))).alias("lang_counts")
    )
    m = F.col("lang_counts")
    return maps.select(
        "source",
        F.coalesce(F.element_at(m, "en"), F.lit(0)).alias("n_en"),
        F.coalesce(F.element_at(m, "de"), F.lit(0)).alias("n_de"),
        F.size(m).alias("n_langs"),
    ).orderBy("source")


SQL_REPETITION = r"""
rw AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w FROM documents),
runi AS (SELECT doc_id, len(w) AS n_words, len(list_distinct(w)) AS ndw FROM rw),
rg AS (
  SELECT doc_id,
         unnest(list_transform(range(greatest(len(w) - 1, 0)),
                               i -> array_to_string(w[i+1:i+2], ' '))) AS gram
  FROM rw),
rpg AS (SELECT doc_id, gram, COUNT(*) AS c FROM rg GROUP BY doc_id, gram),
rpd AS (SELECT doc_id, SUM(c) AS total2, MAX(c) AS top2, COUNT(*) AS distinct2
        FROM rpg GROUP BY doc_id),
rstats AS (
  SELECT u.doc_id, u.n_words,
         round(1.0 - u.ndw * 1.0 / u.n_words, 6) AS dup_word_ratio,
         round(d.top2 * 1.0 / d.total2, 6) AS top_2gram_frac,
         round(1.0 - d.distinct2 * 1.0 / d.total2, 6) AS dup_2gram_frac
  FROM runi u LEFT JOIN rpd d USING (doc_id))
"""


@query(
    "q93_repetition_stats",
    f"""
    WITH {SQL_REPETITION}
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, dup_word_ratio,
           top_2gram_frac, dup_2gram_frac
    FROM rstats ORDER BY doc_id
    """,
    operators=("N4",),
    doc="Gopher-style intra-document repetition profile: duplicate-word "
    "ratio, most-frequent-2-gram fraction, duplicate-2-gram fraction — "
    "the standard boilerplate/keyword-stuffing detectors for corpus "
    "curation. Per-document counters in one Arrow pass — no aggregation exchange.",
)
def q93_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.repetition import repetition_stats

    return (
        repetition_stats(T(spark, sf_dir, "documents"))
        .withColumn("n_words", F.col("n_words").cast("bigint"))
        .orderBy("doc_id")
    )


@query(
    "q94_embedding_quantize",
    """
    WITH px AS (
      SELECT vec_id, p.pos, CAST(embedding[p.pos + 1] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN (SELECT unnest(range(64)) AS pos) p),
    st AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM px GROUP BY pos),
    q AS (
      SELECT vec_id, px.pos, x, mn, mx,
             CAST(round((x - mn) / (mx - mn) * 255) - 128 AS INTEGER) AS code
      FROM px JOIN st ON px.pos = st.pos),
    e AS (
      SELECT vec_id, pos, code,
             (x - ((code + 128) / 255.0 * (mx - mn) + mn))
             * (x - ((code + 128) / 255.0 * (mx - mn) + mn)) AS sqerr
      FROM q)
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), ',' ORDER BY pos) AS codes,
           round(AVG(sqerr), 10) AS mse
    FROM e GROUP BY vec_id ORDER BY vec_id
    """,
    operators=("N3",),
    doc="Linear int8 quantization of the embedding corpus (4x storage/IO "
    "cut for ANN at scale): per-dim [min,max] over the corpus -> codes + "
    "per-vector reconstruction MSE. Stats reduce map-side to 64 rows and "
    "broadcast back; the pack is map-local.",
)
def q94_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.similarity import embedding_quantize

    out = embedding_quantize(T(spark, sf_dir, "embeddings"))
    # int8 code array serialized for the hash compare (the driver's
    # row-sort can't order array cells); the operator itself returns
    # the real array<int> column
    return out.select(
        "vec_id", F.array_join("codes", ",").alias("codes"), "mse"
    ).orderBy("vec_id")


@query(
    "q95_quality_funnel",
    f"""
    WITH {SQL_REPETITION},
    ff AS (
      SELECT CASE WHEN n_words < 20 THEN 'too_short'
                  WHEN dup_word_ratio > 0.6 THEN 'dup_words'
                  WHEN dup_2gram_frac > 0.1 THEN 'dup_2grams'
                  ELSE 'kept' END AS rule
      FROM rstats),
    counts AS (SELECT rule, COUNT(*) AS n FROM ff GROUP BY rule),
    stages AS (SELECT * FROM (VALUES (1, 'too_short'), (2, 'dup_words'),
                                     (3, 'dup_2grams'), (4, 'kept')) s(stage, rule)),
    j AS (
      SELECT stage, s.rule, COALESCE(n, 0) AS n
      FROM stages s LEFT JOIN counts c ON s.rule = c.rule)
    SELECT stage, rule,
           CAST(CASE WHEN rule = 'kept' THEN 0 ELSE n END AS BIGINT) AS n_dropped,
           CAST(SUM(n) OVER () - SUM(CASE WHEN rule = 'kept' THEN 0 ELSE n END)
                OVER (ORDER BY stage ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_remaining
    FROM j ORDER BY stage
    """,
    operators=("N4", "P7", "A6"),
    doc="C4/Gopher-style ordered quality funnel: each document attributed "
    "to the FIRST rule it fails (too short / duplicate words / duplicate "
    "2-grams), so per-rule drops are disjoint and sum with survivors to "
    "the corpus total. One conditional aggregation over the stats "
    "relation - no per-rule passes.",
)
def q95_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.repetition import quality_funnel

    return quality_funnel(T(spark, sf_dir, "documents"))


BM25_TERMS = ("spark", "join", "window", "hash")


def _bm25_oracle() -> str:
    from fdf_spark.functions.scalar import sql_davg
    from fdf_spark.llm.ranking import bm25_score_sql

    split = "string_split_regex(lower(text), '[^a-z]+')"
    tf_cols = ",\n             ".join(
        f"len(list_filter({split}, w -> w = '{t}')) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             len(list_filter({split}, w -> w <> '')) AS dl,
             {tf_cols}
      FROM documents),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             {sql_davg('dl')} AS avgdl,
             {df_cols}
      FROM base)
    SELECT doc_id, CAST(dl AS INTEGER) AS dl,
           {bm25_score_sql(len(BM25_TERMS))} AS bm25
    FROM base, stats
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """


@query(
    "q98_bm25_topk",
    _bm25_oracle(),
    operators=("N10", "N4"),
    doc="Okapi BM25 top-20 against a fixed query-term set - the corpus "
    "ranking primitive for targeted sampling and contamination probes. "
    "Shuffle-free by construction: per-doc term frequencies are map-side "
    "array expressions (NOT explode+groupBy, which would shuffle one row "
    "per token occurrence); corpus stats (N, avgdl, per-term df) collapse "
    "to ONE row and broadcast back; top-k is a TakeOrdered. The scoring "
    "arithmetic is one SQL expression string shared verbatim with the "
    "oracle, so IEEE evaluation order matches bit-for-bit.",
)
def q98_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.ranking import bm25_topk

    return bm25_topk(T(spark, sf_dir, "documents"), BM25_TERMS, k=20)


@query(
    "q99_chunk_documents",
    """
    SELECT doc_id,
           CAST(start // 150 AS INTEGER) AS chunk_id,
           CAST(start AS INTEGER) AS start,
           substring(text, CAST(start AS INTEGER) + 1, 200) AS chunk,
           CAST(length(substring(text, CAST(start AS INTEGER) + 1, 200)) AS INTEGER) AS chunk_len
    FROM (SELECT doc_id, text, unnest(range(0, len(text), 150)) AS start
          FROM documents)
    ORDER BY doc_id, chunk_id
    """,
    operators=("N11", "N9"),
    doc="Context-window chunking: fixed 200-char windows at stride 150 "
    "(50-char overlap) with explicit offsets — the corpus->dataloader "
    "layout transform. Pure map-side codegen (sequence -> posexplode -> "
    "substr): zero shuffles at any corpus size; the only exchange is "
    "the output sort.",
)
def q99_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.chunking import chunk_documents

    return chunk_documents(
        T(spark, sf_dir, "documents"), chunk_chars=200, overlap=50
    ).orderBy("doc_id", "chunk_id")


@query(
    "q100_pack_blocks",
    """
    WITH base AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                             w -> w <> '')) AS tokens
      FROM documents),
    placed AS (
      SELECT doc_id, tokens,
             CAST(SUM(tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS end_off
      FROM base),
    p2 AS (SELECT doc_id, tokens, end_off, end_off - tokens AS start_off
           FROM placed WHERE tokens > 0),
    spans AS (
      SELECT doc_id, start_off, end_off,
             unnest(range(start_off // 512, (end_off - 1) // 512 + 1)) AS block_id
      FROM p2)
    SELECT block_id,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN start_off < block_id * 512
                           OR end_off > block_id * 512 + 512
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning_docs,
           CAST(SUM(least(end_off, block_id * 512 + 512)
                    - greatest(start_off, block_id * 512)) AS BIGINT) AS tok_filled
    FROM spans GROUP BY block_id ORDER BY block_id
    """,
    operators=("N11", "A5", "A6"),
    doc="Concat-and-split sequence packing: the corpus (in doc-id order) "
    "becomes one virtual token stream cut into 512-token training blocks; "
    "documents may span boundaries. The global running offset is a "
    "DISTRIBUTED prefix sum - per-shard window cumsum plus a broadcast "
    "#shards-row prefix relation - never a single-partition window over "
    "the corpus (the naive formulation that serializes at 100 TB; the "
    "DuckDB oracle uses exactly that naive global window, proving the "
    "hierarchical decomposition exact). tok_filled == capacity for every "
    "block but the last.",
)
def q100_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.chunking import pack_blocks

    return pack_blocks(
        T(spark, sf_dir, "documents"), capacity=512, n_shards=32
    ).orderBy("block_id")


from fdf_spark.llm.pii import EMAIL_RE as _EMAIL_RE  # noqa: E402
from fdf_spark.llm.pii import IPV4_RE as _IPV4_RE  # noqa: E402
from fdf_spark.llm.pii import PHONE_RE as _PHONE_RE  # noqa: E402


@query(
    "q102_decontam",
    f"""
    WITH {SQL_SHINGLES},
    corpus_sh AS (
      SELECT DISTINCT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh
      FROM sh_raw),
    bench_sh AS (SELECT DISTINCT sh FROM corpus_sh WHERE doc_id % 97 = 0),
    profile AS (
      SELECT c.doc_id,
             COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM corpus_sh c LEFT JOIN bench_sh b ON c.sh = b.sh
      GROUP BY c.doc_id)
    SELECT d.doc_id,
           COALESCE(n_shingles, 0) AS n_shingles,
           COALESCE(n_hits, 0) AS n_hits,
           COALESCE(round(n_hits / n_shingles, 6), 0.0) AS contamination,
           COALESCE(round(n_hits / n_shingles, 6), 0.0) >= 0.2 AS contaminated
    FROM documents d LEFT JOIN profile ON d.doc_id = profile.doc_id
    ORDER BY d.doc_id
    """,
    operators=("N12", "N2"),
    doc="Benchmark decontamination: flag training docs whose word-trigram "
    "sets overlap a held-out benchmark (here the deterministic doc_id%97 "
    "subset, standing in for an external eval set). Benchmark shingles are "
    "the tiny broadcast side; the corpus is probed map-side on 8-byte "
    "hashes and never shuffled for the join — the standard pre-pretraining "
    "leak scrub at 100 TB.",
)
def q102_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.decontam import decontaminate

    docs = T(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, n=3, threshold=0.2).orderBy("doc_id")


@query(
    "q103_pii_redact",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                  || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
                  || ' call +1-555-' || lpad(CAST((doc_id * 7) % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t0
      FROM documents),
    s1 AS (SELECT doc_id, t0, regexp_replace(t0, '{_EMAIL_RE}', '<EMAIL>', 'g') AS t1 FROM aug),
    s2 AS (SELECT doc_id, t0, t1, regexp_replace(t1, '{_IPV4_RE}', '<IP>', 'g') AS t2 FROM s1)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t0, '{_EMAIL_RE}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(t1, '{_IPV4_RE}')) AS INTEGER) AS n_ip,
           CAST(len(regexp_extract_all(t2, '{_PHONE_RE}')) AS INTEGER) AS n_phone,
           CAST(len(regexp_extract_all(t0, '{_EMAIL_RE}'))
                + len(regexp_extract_all(t1, '{_IPV4_RE}'))
                + len(regexp_extract_all(t2, '{_PHONE_RE}')) AS INTEGER) AS n_pii,
           regexp_replace(t2, '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM s2 ORDER BY doc_id
    """,
    operators=("N13", "N4"),
    doc="PII detect + redact: plant a deterministic email/IP/phone per "
    "document (the fixture corpus carries no natural PII), then scrub with "
    "the sequential regexp_replace chain. Counts are taken rule-by-rule on "
    "the already-partially-redacted text, so n_pii equals the exact number "
    "of substitutions in `redacted`. Pure JVM regex column expressions "
    "(Java regex ∩ RE2 subset) — shuffle-free, embarrassingly parallel at "
    "any corpus size; the oracle replays the identical chain.",
)
def q103_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.pii import detect_pii

    docs = T(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com"),
            F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
            F.lit(" call +1-555-"),
            F.lpad(((F.col("doc_id") * 7) % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("aug"),
    )
    return detect_pii(aug, text="aug").orderBy("doc_id")


from fdf_spark.llm.spans import sql_dup_spans as _sql_dup_spans  # noqa: E402


@query(
    "q104_dup_spans",
    _sql_dup_spans(),
    operators=("N2",),
    doc="Span-level exact substring dedup (Lee et al. 2022, "
    "arXiv:2107.06499): merged [start,end) word-offset intervals covered "
    "by 8-grams occurring >=2 times corpus-wide — the boilerplate-passage "
    "contamination the whole-document tiers miss. Linear n-gram count + "
    "hash join-back + gaps-and-islands window merge; every stage "
    "shuffle-parallel.",
)
def q104_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.spans import dup_spans

    return dup_spans(T(spark, sf_dir, "documents"), n=8, min_count=2).orderBy(
        "doc_id", "span_start"
    )


from fdf_spark.llm.mixing import sql_mix_corpus as _sql_mix_corpus  # noqa: E402

_MIX_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}


@query(
    "q105_mix_corpus",
    _sql_mix_corpus(_MIX_WEIGHTS, budget_tokens=2000),
    operators=("N7", "N4"),
    doc="Deterministic mixture construction: subsample four sources at "
    "rates min(1, w_s*B/T_s) so the output token mix follows the target "
    "weights within a 2000-token budget. Per-source totals are one tiny "
    "broadcast relation; selection is the replayable hash-Bernoulli "
    "predicate — the corpus is never shuffled, and the oracle replays "
    "the sample bit-for-bit.",
)
def q105_mix_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.mixing import mix_corpus

    return mix_corpus(
        T(spark, sf_dir, "documents"), _MIX_WEIGHTS, budget_tokens=2000
    ).orderBy("doc_id")


from fdf_spark.llm.mixing import sql_split_corpus as _sql_split  # noqa: E402

_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


@query(
    "q109_corpus_split",
    f"""
    WITH s AS (
      SELECT doc_id, source, {_sql_split(_SPLIT_FRACTIONS)} AS split,
             CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT split, source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM s GROUP BY split, source ORDER BY split, source
    """,
    operators=("N7",),
    doc="Deterministic stratum-audited train/val/test split: assignment "
    "is a pure hash expression on doc_id (cumulative [0,1M) ranges — no "
    "rand(), no row-number modulo), so a doc never migrates splits when "
    "the corpus grows and the same code replays on any engine; the "
    "query audits per-(split, source) doc/token counts — the relation a "
    "pipeline checks before accepting a split. The leakage-safe variant "
    "passes by='cluster/domain' so near-dup groups stay within one "
    "split (unit-tested).",
)
def q109_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.mixing import split_corpus

    docs = T(spark, sf_dir, "documents")
    toks = F.size(F.split(F.lower(F.col("text")), r"\s+")).cast("bigint")
    s = split_corpus(docs, _SPLIT_FRACTIONS).select("doc_id", "source", "split", toks.alias("n_tokens"))
    return (
        s.groupBy("split", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .orderBy("split", "source")
    )


@query(
    "q106_pipeline_decontam_mix",
    f"""
    WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
    sdocs AS (SELECT d.doc_id, d.source, d.text FROM documents d JOIN surv USING (doc_id)),
    docs2 AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM sdocs),
    p_sh_raw AS (
      SELECT doc_id,
             unnest(list_transform(range(greatest(len(w) - 2, 0)),
                                   i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
      FROM docs2),
    corpus_sh AS (
      SELECT DISTINCT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh
      FROM p_sh_raw),
    bench_sh AS (SELECT DISTINCT sh FROM corpus_sh WHERE doc_id % 97 = 0),
    prof AS (
      SELECT c.doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM corpus_sh c LEFT JOIN bench_sh b ON c.sh = b.sh
      GROUP BY c.doc_id),
    clean AS (
      SELECT s.doc_id, s.source, s.text
      FROM sdocs s LEFT JOIN prof ON s.doc_id = prof.doc_id
      WHERE COALESCE(round(n_hits / n_shingles, 6), 0.0) < 0.2),
    d AS (SELECT doc_id, source,
                 CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens
          FROM clean),
    w(source, wt) AS (VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
    stats AS (SELECT source, SUM(n_tokens) AS t FROM d JOIN w USING (source) GROUP BY source),
    rates AS (SELECT source, least(1.0, CAST(wt AS DOUBLE) * 2000.0 / t) AS rate
              FROM stats JOIN w USING (source))
    SELECT doc_id, d.source, n_tokens
    FROM d JOIN rates ON d.source = rates.source
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
          < CAST(floor(rate * 1000000) AS BIGINT)
    ORDER BY doc_id
    """,
    operators=("N1", "N12", "N7"),
    doc="End-to-end curation pipeline v2 pinning the round-4 stage "
    "composition: exact dedup -> benchmark-decontamination filter "
    "(threshold 0.2 vs the doc_id%97 eval stand-in) -> weighted mixture "
    "sample within a 2000-token budget. Each stage is individually "
    "oracle-checked (q60/q102/q105); this checks their interaction on "
    "the survivor sets. Plan: two broadcast probes + the dedup/profile "
    "aggregations — the corpus text is never join-shuffled.",
)
def q106_pipeline_decontam_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.decontam import decontaminate
    from fdf_spark.llm.mixing import mix_corpus

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    surv = exact_dedup(docs).select("doc_id")
    sdocs = docs.join(surv, "doc_id", "left_semi")
    bench = sdocs.filter(F.col("doc_id") % 97 == 0)
    prof = decontaminate(sdocs, bench, n=3, threshold=0.2)
    clean = sdocs.join(
        prof.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
    )
    return mix_corpus(clean, _MIX_WEIGHTS, budget_tokens=2000).orderBy("doc_id")


def _kmeans_sql(iters: int = 2, cells: int = 16, dim: int = 64) -> str:
    """DuckDB replay of similarity.kmeans_refine: unrolled Lloyd CTE chain
    (assignment = ROW_NUMBER argmax over round-6dp cosine with
    ties-to-smaller-centroid; update = per-(cell,dim) decimal(25,6) mean)."""
    parts = [
        f"cents0 AS (SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT {cells})"
    ]
    for it in range(iters + 1):
        parts.append(
            f"""asg{it} AS (
      SELECT vec_id, embedding, cent_id AS cell FROM (
        SELECT e.vec_id, e.embedding, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cent_id) AS rn
        FROM embeddings e CROSS JOIN cents{it} c) WHERE rn = 1)"""
        )
        if it < iters:
            parts.append(
                f"""cents{it + 1} AS (
      SELECT cell AS cent_id, list(m ORDER BY pos) AS cvec FROM (
        SELECT cell, i AS pos,
               CAST(SUM(CAST(CAST(embedding[i+1] AS DOUBLE) AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS m
        FROM asg{it} CROSS JOIN range({dim}) t(i)
        GROUP BY cell, i) GROUP BY cell)"""
            )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT cell, COUNT(*) AS n_vecs,
           round(CAST(SUM(CAST({_cos_sql('a.embedding', 'c.cvec')} AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 6) AS mean_cos
    FROM asg{iters} a JOIN cents{iters} c ON a.cell = c.cent_id
    GROUP BY cell ORDER BY cell"""
    )


@query(
    "q111_kmeans_cells",
    _kmeans_sql(iters=2, cells=16, dim=64),
    operators=("N3", "N14"),
    doc="Trained IVF coarse quantizer: 2 Lloyd iterations refine the "
    "deterministic seed centroids (similarity.kmeans_refine), then a "
    "per-cell audit (size, mean cosine to own centroid). Fully "
    "deterministic — no rand(), decimal-exact centroid means — so the "
    "whole training loop replays in the DuckDB oracle. Scale: one "
    "corpus scan per iteration whose per-task partial sums ride the "
    "collect; "
    "the corpus is never shuffled; model state to the driver is "
    "cells x dim doubles (KB). Slots into ivf_ann_topk/semantic_dedup "
    "in place of ivf_assign without changing the query shape.",
)
def q111_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.functions.scalar import davg
    from fdf_spark.llm.similarity import cosine, kmeans_refine

    cents, assigned = kmeans_refine(T(spark, sf_dir, "embeddings"), num_cells=16, iters=2)
    from fdf_spark.sources.tables import local_df

    cdf = local_df(
        spark,
        [(int(cid), [float(x) for x in vec]) for cid, vec in cents],
        "cell long, cvec array<double>",
    )
    return (
        assigned.join(F.broadcast(cdf), "cell")
        .select("cell", cosine(F.col("embedding"), F.col("cvec")).alias("cos"))
        .groupBy("cell")
        .agg(F.count("*").alias("n_vecs"), F.round(davg("cos"), 6).alias("mean_cos"))
        .orderBy("cell")
    )


@query(
    "q112_inverted_index",
    """
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'), w -> w <> '') AS w
      FROM documents),
    tok AS (SELECT doc_id, doc_id % 2 AS segment, unnest(w) AS term FROM docs),
    tf AS (SELECT term, segment, doc_id, COUNT(*) AS tf FROM tok GROUP BY term, segment, doc_id)
    SELECT term, segment, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
           string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
    FROM tf GROUP BY term, segment ORDER BY term, segment
    """,
    operators=("N10", "N9"),
    doc="Segment-sharded inverted index (Lucene storage model as a "
    "relation): per (term, doc-bucket segment) the df/cf stats and the "
    "doc_id-sorted postings string. Term frequencies are an exploded "
    "token count whose map-side partial aggregate ships one row per (doc, "
    "distinct term), never per token occurrence; 2 segments split every hot "
    "term's reduce across buckets (at 100 TB: segments bound skew AND "
    "row width, and are the parquet partition key).",
)
def q112_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.ranking import inverted_index

    idx = inverted_index(T(spark, sf_dir, "documents"), num_segments=2)
    return idx.select(
        "term",
        "segment",
        "df",
        "cf",
        F.concat_ws(
            ",",
            F.transform(
                F.col("postings"),
                lambda p: F.concat_ws(":", p["doc_id"].cast("string"), p["tf"].cast("string")),
            ),
        ).alias("postings"),
    ).orderBy("term", "segment")


def _l2_sql(a: str, b: str, d: int) -> str:
    """DuckDB squared-L2 fragment matching similarity._l2 to the last
    ulp (double-cast elements, sequential list_sum, round 6dp)."""
    sq = f"(CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE)) * (CAST({a}[i+1] AS DOUBLE) - CAST({b}[i+1] AS DOUBLE))"
    return f"round(list_sum(list_transform(range({d}), i -> {sq})), 6)"


def _pq_sql(m: int = 8, ks: int = 16, sub: int = 8, k: int = 5, nq: int = 5) -> str:
    """DuckDB replay of similarity.pq_encode + pq_ann_topk (ADC tier):
    per-subspace codebooks from the smallest-id seeds, nearest-centroid
    codes, decimal-exact sum of round-6dp partial distances."""
    return f"""
    WITH seeds AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {ks}),
    cents AS (
      SELECT j, ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS cent_ord,
             embedding[j*{sub}+1 : j*{sub}+{sub}] AS cvec
      FROM seeds CROSS JOIN range({m}) t(j)),
    subv AS (
      SELECT vec_id, j, embedding[j*{sub}+1 : j*{sub}+{sub}] AS sub
      FROM embeddings CROSS JOIN range({m}) t(j)),
    asg AS (
      SELECT vec_id, j, cent_ord AS code FROM (
        SELECT s.vec_id, s.j, c.cent_ord,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                   ORDER BY {_l2_sql('s.sub', 'c.cvec', 8)} ASC, c.cent_ord) AS rn
        FROM subv s JOIN cents c ON s.j = c.j) WHERE rn = 1),
    qsub AS (SELECT vec_id AS query_id, j, sub FROM subv WHERE vec_id < {nq}),
    parts AS (
      SELECT q.query_id, a.vec_id, {_l2_sql('q.sub', 'c.cvec', 8)} AS part
      FROM asg a JOIN cents c ON a.j = c.j AND a.code = c.cent_ord
      JOIN qsub q ON q.j = a.j
      WHERE q.query_id <> a.vec_id),
    dist AS (
      SELECT query_id, vec_id, CAST(SUM(CAST(part AS DECIMAL(25,6))) AS DOUBLE) AS adist
      FROM parts GROUP BY query_id, vec_id)
    SELECT query_id, vec_id, adist, rank FROM (
      SELECT query_id, vec_id, adist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS INT) AS rank
      FROM dist) WHERE rank <= {k}
    ORDER BY query_id, rank
    """


@query(
    "q114_pq_adc_topk",
    _pq_sql(),
    operators=("N3",),
    doc="Product-quantization ANN (ADC tier): 64-dim embeddings -> 8 "
    "one-byte codes (32:1 compression), per-query LUT of (subspace, "
    "centroid) partial distances, scoring = 8 table lookups summed in "
    "exact decimal. Deterministic seed codebooks (kmeans_refine "
    "applies per-subspace for trained ones — recall-tested in pytest), "
    "so encode AND search replay bit-for-bit in the DuckDB oracle. "
    "Scale: encode is one map-side corpus scan; the ADC scan reads the "
    "32x-smaller codes relation and shuffles only the per-query top-k "
    "window; rerank=r re-scores r*k candidates exactly.",
)
def q114_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.similarity import pq_ann_topk

    emb = T(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_ann_topk(qs, emb, k=5).orderBy("query_id", "rank")


_CHAR_VOCAB = {**{chr(c): c - 96 for c in range(97, 123)}, **{chr(c): c - 21 for c in range(48, 58)}}


@query(
    "q118_tokenize",
    """
    WITH freq AS (
      SELECT w, COUNT(*) AS c FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS w
        FROM documents) WHERE length(w) >= 2 GROUP BY w),
    vocab AS (
      SELECT w, 36 + ROW_NUMBER() OVER (ORDER BY c DESC, w) AS id
      FROM freq ORDER BY c DESC, w LIMIT 20),
    docs AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ws
      FROM documents WHERE doc_id % 10 = 0),
    wds AS (SELECT doc_id, generate_subscripts(ws, 1) AS wpos, unnest(ws) AS w FROM docs),
    wids AS (
      SELECT doc_id, wpos,
             CASE WHEN v.id IS NOT NULL THEN [CAST(v.id AS INT)]
                  ELSE list_transform(range(length(w)), i ->
                       CASE WHEN substr(w, CAST(i+1 AS INT), 1) BETWEEN 'a' AND 'z'
                              THEN CAST(unicode(substr(w, CAST(i+1 AS INT), 1)) - 96 AS INT)
                            WHEN substr(w, CAST(i+1 AS INT), 1) BETWEEN '0' AND '9'
                              THEN CAST(unicode(substr(w, CAST(i+1 AS INT), 1)) - 21 AS INT)
                            ELSE 0 END) END AS ids
      FROM wds LEFT JOIN vocab v USING (w)),
    tok AS (
      SELECT doc_id, wpos, generate_subscripts(ids, 1) AS cpos, unnest(ids) AS id FROM wids)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           string_agg(id, ',' ORDER BY wpos, cpos) AS ids
    FROM tok GROUP BY doc_id ORDER BY doc_id
    """,
    operators=("N19", "N9"),
    doc="Tokenization to token IDS (SURVEY §2.11 N19, driver tier): "
    "word-level vocabulary encode with per-character fallback — vocab "
    "= corpus top-20 words by (freq desc, word), ids 37+, chars a-z/"
    "0-9 = 1..36, UNK=0. One Arrow kernel pass over the documents "
    "with the vocab shipped to each task: one scan, zero shuffles; the "
    "oracle rebuilds the vocab and replays the encode relationally. The real "
    "BPE tier (learned merges, iterative per-word loop) is "
    "tokenize_bpe — Arrow-batched, property-tested vs a pure-Python "
    "reference in pytest (not SQL-expressible).",
)
def q118_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.tokenize import _word_split, tokenize_vocab

    docs = T(spark, sf_dir, "documents")
    # single-char words stay on their fixed char ids (a learned-vocab
    # entry would shadow the char id and break the oracle's arithmetic
    # char-fallback encode at small corpora where e.g. 'a' is top-20)
    freq = (
        docs.select(F.explode(_word_split(F.col("text"))).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), "w")
        .limit(20)
        .collect()
    )
    vocab = dict(_CHAR_VOCAB)
    vocab.update({r["w"]: 37 + i for i, r in enumerate(freq)})
    out = tokenize_vocab(docs.filter(F.col("doc_id") % 10 == 0), vocab)
    return out.select(
        "doc_id",
        F.size("token_ids").cast("bigint").alias("n_tokens"),
        F.concat_ws(",", F.transform(F.col("token_ids"), lambda x: x.cast("string"))).alias("ids"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Frequency sketches + model-based quality scoring (N20, N21)
# ---------------------------------------------------------------------------

_CM_DEPTH, _CM_WIDTH = 4, 1024
_CM_ROWS_SQL = "(SELECT unnest([0, 1, 2, 3]) AS r)"


@query(
    "q119_countmin_hot_tokens",
    f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token FROM documents),
    t AS (SELECT token FROM toks WHERE token <> ''),
    exact AS (SELECT token, COUNT(*) AS exact_cnt FROM t GROUP BY token),
    probes AS (SELECT token, exact_cnt FROM exact ORDER BY exact_cnt DESC, token LIMIT 15),
    cells AS (
      SELECT rs.r AS row, {sql_hash60('token', 'rs.r')} % {_CM_WIDTH} AS bucket,
             COUNT(*) AS cnt
      FROM t CROSS JOIN {_CM_ROWS_SQL} rs
      GROUP BY rs.r, bucket),
    est AS (
      SELECT p.token, MIN(COALESCE(c.cnt, 0)) AS est_cnt
      FROM probes p
      CROSS JOIN {_CM_ROWS_SQL} rs
      LEFT JOIN cells c
        ON c.row = rs.r AND c.bucket = {sql_hash60('p.token', 'rs.r')} % {_CM_WIDTH}
      GROUP BY p.token)
    SELECT p.token, p.exact_cnt, e.est_cnt
    FROM probes p JOIN est e USING (token)
    ORDER BY p.exact_cnt DESC, p.token
    """,
    operators=("N20", "N5", "N9"),
    doc="Count-Min frequency sketch (Cormode & Muthukrishnan 2005) "
    "probed at the corpus's 15 hottest tokens, alongside exact counts "
    "(est >= exact always; equality when no bucket collision). The "
    "sketch is one pass with an in-row x4-cell fan-out and a map-side-"
    "combining groupBy whose shuffle is capped at depth*width cells "
    "per map partition regardless of corpus size; estimation "
    "broadcast-joins the <=4096-row sketch. Hot-token detection at "
    "100 TB with fixed-size mergeable state.",
)
def q119_countmin_hot_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.sketches import cm_estimate, countmin_sketch

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("token")
    ).filter(F.col("token") != "")
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), "token").limit(15)
    sketch = countmin_sketch(toks, depth=_CM_DEPTH, width=_CM_WIDTH)
    est = cm_estimate(sketch, probes.select("token"), depth=_CM_DEPTH, width=_CM_WIDTH)
    return (
        probes.join(est, "token")
        .select("token", "exact_cnt", "est_cnt")
        .orderBy(F.desc("exact_cnt"), "token")
    )


@query(
    "q120_lm_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
      FROM documents),
    t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    counts AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
    tot AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS v_size FROM counts),
    lm AS (
      SELECT token, round(ln((cnt + 1.0) / (n_total + v_size + 1.0)), 6) AS logp
      FROM counts CROSS JOIN tot),
    scored AS (
      SELECT t.doc_id,
             COALESCE(l.logp,
                      (SELECT round(ln(1.0 / (n_total + v_size + 1.0)), 6) FROM tot)) AS logp
      FROM t LEFT JOIN lm l USING (token))
    SELECT doc_id, COUNT(*) AS n_tokens,
           round({_sql_dsum('logp')} / COUNT(*), 6) AS avg_logp
    FROM scored GROUP BY doc_id
    ORDER BY avg_logp, doc_id LIMIT 20
    """,
    operators=("N21", "N4", "N7"),
    doc="Model-based quality scoring (CCNet-style): train a smoothed "
    "unigram LM on the corpus in one map-side-combining token count "
    "(+ a 1-row totals broadcast), then score every document by mean "
    "token log-prob via a broadcast vocab join — the corpus is never "
    "shuffled; the per-doc agg carries one row per document. Returns "
    "the 20 most-atypical documents (lowest mean log-prob = the "
    "quality-filter cut candidates). Per-token logp rounded to 6 dp "
    "pre-sum + decimal accumulate makes scores order-independent and "
    "engine-replayable.",
)
def q120_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.lmscore import score_docs, train_unigram_lm

    docs = T(spark, sf_dir, "documents")
    # the LM is vocab-sized (tiny vs the corpus); materialize it once
    # (localCheckpoint) so the scoring pass and the OOV-scalar agg
    # reuse one training scan instead of recomputing the count subtree
    # per consumer — and, unlike persist(), the blocks are GC-reclaimed
    # with the DataFrame instead of living in CacheManager until the
    # session dies (VERDICT r14 #3).
    lm = train_unigram_lm(docs).localCheckpoint()
    return (
        score_docs(docs, lm)
        .orderBy("avg_logp", "doc_id")
        .limit(20)
    )


@query(
    "q124_training_shards",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS BIGINT) AS tokens
      FROM documents),
    c AS (
      SELECT doc_id, tokens,
             COALESCE(SUM(tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
             SUM(tokens) OVER () AS total
      FROM d),
    a AS (
      SELECT doc_id, tokens,
             CAST(LEAST(7, (prefix * 8) // total) AS INTEGER) AS shard
      FROM c)
    SELECT shard, COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM a GROUP BY shard ORDER BY shard
    """,
    operators=("N24", "N7", "A5", "S10"),
    doc="Token-balanced training-shard export (the pipeline's terminal "
    "write stage): contiguous shard boundaries are cuts in the "
    "concatenated token stream — doc at global token offset p lands in "
    "shard (p*N div total), every shard within one document of the "
    "ideal total/N mass. The global prefix sum is HIERARCHICAL "
    "(per-bucket window cumsum + a broadcast #buckets-row prefix "
    "relation — never a single-partition window over the corpus); the "
    "shard id is pure BIGINT arithmetic, so the oracle's flat window "
    "prefix sum replays it bit-for-bit. write_training_shards adds the "
    "partitioned write + JSON manifest (unit-tested; the driver row "
    "checks the assignment math).",
)
def q124_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.sharding import assign_token_shards

    docs = T(spark, sf_dir, "documents")
    a = assign_token_shards(docs, n_shards=8)
    return (
        a.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard")
    )


@query(
    "q125_pipeline_export",
    f"""
    WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
    sdocs AS (SELECT d.doc_id, d.source, d.text FROM documents d JOIN surv USING (doc_id)),
    docs2 AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w FROM sdocs),
    p_sh_raw AS (
      SELECT doc_id,
             unnest(list_transform(range(greatest(len(w) - 2, 0)),
                                   i -> array_to_string(w[i+1:i+3], ' '))) AS shingle
      FROM docs2),
    corpus_sh AS (
      SELECT DISTINCT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) AS sh
      FROM p_sh_raw),
    bench_sh AS (SELECT DISTINCT sh FROM corpus_sh WHERE doc_id % 97 = 0),
    prof AS (
      SELECT c.doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM corpus_sh c LEFT JOIN bench_sh b ON c.sh = b.sh
      GROUP BY c.doc_id),
    clean AS (
      SELECT s.doc_id, s.source, s.text
      FROM sdocs s LEFT JOIN prof ON s.doc_id = prof.doc_id
      WHERE COALESCE(round(n_hits / n_shingles, 6), 0.0) < 0.2),
    d AS (SELECT doc_id, source,
                 CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens
          FROM clean),
    w(source, wt) AS (VALUES ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)),
    stats AS (SELECT source, SUM(n_tokens) AS t FROM d JOIN w USING (source) GROUP BY source),
    rates AS (SELECT source, least(1.0, CAST(wt AS DOUBLE) * 2000.0 / t) AS rate
              FROM stats JOIN w USING (source)),
    mixed AS (
      SELECT doc_id, d.source, n_tokens
      FROM d JOIN rates ON d.source = rates.source
      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000000
            < CAST(floor(rate * 1000000) AS BIGINT)),
    c AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
             SUM(n_tokens) OVER () AS total
      FROM mixed),
    a AS (
      SELECT doc_id, n_tokens,
             CAST(LEAST(3, (prefix * 4) // total) AS INTEGER) AS shard
      FROM c)
    SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM a GROUP BY shard ORDER BY shard
    """,
    operators=("N24", "N1", "N12", "N7", "N23"),
    doc="The COMPLETE curation-to-training handoff: exact dedup -> "
    "benchmark decontamination -> weighted mixture sample (q106's "
    "composition, each stage individually oracle-checked) -> token-"
    "balanced 4-shard export of the surviving mixture, weighted by the "
    "mixture's own token counts (assign_token_shards tokens_col hook — "
    "no re-tokenization between stages). This is the acceptance test "
    "for the whole pipeline: the oracle replays every stage AND the "
    "shard cuts in one CTE chain, so a drift anywhere from sha256 "
    "survivor selection to the final prefix-sum arithmetic breaks the "
    "hash.",
)
def q125_pipeline_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.decontam import decontaminate
    from fdf_spark.llm.mixing import mix_corpus
    from fdf_spark.llm.sharding import assign_token_shards

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # pin the NARROW stage verdicts (doc_id-only survivor sets, not
    # the text-bearing relations — ~8 B/row, same footprint class as
    # q120's vocab cache): the expensive per-stage aggregations (sha2
    # dedup groupBy, shingle profile) compute once; each downstream
    # consumer rebuilds its text view with a cheap scan + semi-join
    # against the pinned ids. In production these verdicts ARE the
    # landed inter-stage tables. localCheckpoint (not persist) so the
    # blocks die with the query, not the session (VERDICT r14 #3).
    surv = exact_dedup(docs).select("doc_id").localCheckpoint()
    sdocs = docs.join(surv, "doc_id", "left_semi")
    bench = sdocs.filter(F.col("doc_id") % 97 == 0)
    prof = decontaminate(sdocs, bench, n=3, threshold=0.2)
    clean_ids = prof.filter(~F.col("contaminated")).select("doc_id").localCheckpoint()
    clean = sdocs.join(clean_ids, "doc_id", "left_semi")
    mixed = mix_corpus(clean, _MIX_WEIGHTS, budget_tokens=2000)
    shards = assign_token_shards(mixed, n_shards=4, tokens_col="n_tokens")
    return (
        shards.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").alias("shard_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard")
    )


def _logreg_sql(iters: int = 3, dim: int = 8, lr: float = 0.5) -> str:
    """DuckDB replay of classifier.train_logreg + score_logreg:
    unrolled batch-GD CTE chain. Arithmetic mirrors the Spark side
    expression-for-expression: z accumulates bias-first left-assoc,
    per-row residual/gradient contributions round to 6 dp BEFORE the
    decimal(25,6) sums, weight updates round HALF_UP to 6 dp."""
    xs = [f"x{j}" for j in range(dim)]

    def wref(t: int, c: str) -> str:
        return f"(SELECT {c} FROM w{t})"

    def zexpr(t: int) -> str:
        terms = " + ".join([wref(t, "cb")] + [f"{wref(t, f'c{j}')} * x{j}" for j in range(dim)])
        return f"round({terms}, 6)"

    parts = [
        # MATERIALIZED: DuckDB would otherwise inline each CTE per
        # scalar-subquery reference — 9 weight refs per iteration makes
        # the unmaterialized chain exponential in iters
        "f AS MATERIALIZED (SELECT CAST(CAST(embedding[1] AS DOUBLE)"
        " + CAST(embedding[2] AS DOUBLE) > 0 AS DOUBLE) AS y, "
        + ", ".join(f"CAST(embedding[{j + 1}] AS DOUBLE) AS x{j}" for j in range(dim))
        + " FROM embeddings)",
        "w0 AS MATERIALIZED (SELECT " + ", ".join([f"0.0 AS c{j}" for j in range(dim)] + ["0.0 AS cb"]) + ")",
    ]
    for t in range(iters):
        resid = f"(SELECT round(y - 1.0/(1.0 + exp(-({zexpr(t)}))), 6) AS r, {', '.join(xs)} FROM f)"
        updates = [
            f"round({wref(t, f'c{j}')} + {lr} * {_sql_dsum(f'round(r * x{j}, 6)')} / COUNT(*), 6) AS c{j}"
            for j in range(dim)
        ] + [
            f"round({wref(t, 'cb')} + {lr} * {_sql_dsum('r')} / COUNT(*), 6) AS cb"
        ]
        parts.append(f"w{t + 1} AS MATERIALIZED (SELECT {', '.join(updates)} FROM {resid})")
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    scored AS (SELECT y, round(1.0/(1.0 + exp(-({zexpr(iters)}))), 6) AS p FROM f)
    SELECT CAST(y AS INTEGER) AS label_bin, COUNT(*) AS n,
           CAST(SUM(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           round({_sql_dsum('p')} / COUNT(*), 6) AS avg_p
    FROM scored GROUP BY y ORDER BY label_bin"""
    )


@query(
    "q126_logreg_quality",
    _logreg_sql(iters=3, dim=8, lr=0.5),
    operators=("N25", "N3", "A9"),
    doc="In-engine TRAINED classifier (logistic regression, 3 batch-GD "
    "iterations over 8 embedding dims; the target is the planted "
    "linear concept x0+x1>0, so the 95% training accuracy PROVES the "
    "trainer recovers a linear signal in 3 passes): each "
    "iteration is ONE map-side-combining aggregate scan collected as a "
    "9-value gradient row; the driver updates the weight vector and "
    "broadcasts it back as literals — the distributed batch-GD shape "
    "(persist the features once, one pass per epoch at any scale). "
    "Determinism is the PageRank pattern: 6-dp pre-sum rounding + "
    "decimal sums + HALF_UP weight updates + power-of-two lr, so the "
    "oracle replays TRAINING AND SCORING bit-for-bit in an unrolled "
    "CTE chain. Output: per-class counts, trained-model accuracy, "
    "mean predicted probability.",
)
def q126_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.classifier import score_logreg, train_logreg

    emb = T(spark, sf_dir, "embeddings")
    dim = 8
    xcols = [f"x{j}" for j in range(dim)]
    x0 = F.col("embedding").getItem(0).cast("double")
    x1 = F.col("embedding").getItem(1).cast("double")
    feats = emb.select(
        ((x0 + x1) > 0).cast("double").alias("y"),
        *[F.col("embedding").getItem(j).cast("double").alias(f"x{j}") for j in range(dim)],
    ).localCheckpoint()
    w, b = train_logreg(feats, xcols, "y", iters=3, lr=0.5)
    scored = score_logreg(feats, xcols, w, b)
    out = (
        scored.groupBy(F.col("y").cast("int").alias("label_bin"))
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("pred") == (F.col("y") == 1.0), 1).otherwise(0)
            ).cast("bigint").alias("n_correct"),
            F.round(_dsum("p") / F.count("*"), 6).alias("avg_p"),
        )
        .orderBy("label_bin")
    )
    return out


@query(
    "q127_cm_merge_estimate",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
      FROM documents),
    t AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    exact AS (SELECT token, COUNT(*) AS exact_cnt FROM t GROUP BY token),
    probes AS (SELECT token, exact_cnt FROM exact ORDER BY exact_cnt DESC, token LIMIT 10),
    cells AS (
      -- two sketches built on disjoint corpus halves, merged cell-wise:
      -- identical to sketching the whole stream (what this query pins)
      SELECT row, bucket, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
        SELECT rs.r AS row, {sql_hash60('token', 'rs.r')} % {_CM_WIDTH} AS bucket,
               COUNT(*) AS cnt
        FROM t CROSS JOIN {_CM_ROWS_SQL} rs WHERE doc_id % 2 = 0
        GROUP BY rs.r, bucket
        UNION ALL
        SELECT rs.r AS row, {sql_hash60('token', 'rs.r')} % {_CM_WIDTH} AS bucket,
               COUNT(*) AS cnt
        FROM t CROSS JOIN {_CM_ROWS_SQL} rs WHERE doc_id % 2 = 1
        GROUP BY rs.r, bucket) GROUP BY row, bucket),
    est AS (
      SELECT p.token, MIN(COALESCE(c.cnt, 0)) AS est_cnt
      FROM probes p
      CROSS JOIN {_CM_ROWS_SQL} rs
      LEFT JOIN cells c
        ON c.row = rs.r AND c.bucket = {sql_hash60('p.token', 'rs.r')} % {_CM_WIDTH}
      GROUP BY p.token)
    SELECT p.token, p.exact_cnt, e.est_cnt
    FROM probes p JOIN est e USING (token)
    ORDER BY p.exact_cnt DESC, p.token
    """,
    operators=("N20", "N5"),
    doc="Count-Min MERGEABILITY as a driver-checkable relation: two "
    "sketches built over disjoint corpus halves (doc_id parity) and "
    "merged cell-wise must estimate identically to sketching the whole "
    "stream — the property that lets per-day / per-shard / per-worker "
    "sketches combine into global hot-token state with a union+groupBy "
    "over <= 2*depth*width cells. The streaming fold "
    "(stream_sketch_sink) is this same merge applied per micro-batch.",
)
def q127_cm_merge_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.sketches import cm_estimate, cm_merge, countmin_sketch

    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("token")
    ).filter(F.col("token") != "")
    even = countmin_sketch(toks.filter(F.col("doc_id") % 2 == 0), depth=_CM_DEPTH, width=_CM_WIDTH)
    odd = countmin_sketch(toks.filter(F.col("doc_id") % 2 == 1), depth=_CM_DEPTH, width=_CM_WIDTH)
    merged = cm_merge(even, odd)
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_cnt"))
    probes = exact.orderBy(F.desc("exact_cnt"), "token").limit(10)
    est = cm_estimate(merged, probes.select("token"), depth=_CM_DEPTH, width=_CM_WIDTH)
    return (
        probes.join(est, "token")
        .select("token", "exact_cnt", "est_cnt")
        .orderBy(F.desc("exact_cnt"), "token")
    )


@query(
    "q150_simhash128_near_dup",
    r"""
    WITH docs0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
    variants AS (
      SELECT doc_id * 2 AS vid, text FROM docs0
      UNION ALL
      SELECT doc_id * 2 + 1 AS vid, text || ' zzsentinel' AS text FROM docs0),
    toks AS (SELECT vid, unnest(string_split_regex(lower(text), '\s+')) AS tok
             FROM variants),
    h AS (SELECT vid,
                 CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h0,
                 CAST('0x' || substr(md5(tok), 17, 15) AS BIGINT) AS h1
          FROM toks),
    votes AS (
      SELECT vid, bit,
             SUM(CASE WHEN (h0 >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s0,
             SUM(CASE WHEN (h1 >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s1
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS bit) bits
      GROUP BY vid, bit),
    fp AS (
      SELECT vid,
             CAST(SUM(CASE WHEN s0 >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS w0,
             CAST(SUM(CASE WHEN s1 >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS w1
      FROM votes GROUP BY vid)
    SELECT a.vid AS a_id, b.vid AS b_id,
           CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS INTEGER) AS dist
    FROM fp a JOIN fp b ON a.vid < b.vid
    WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 10
    ORDER BY a_id, b_id
    """,
    operators=("N2",),
    doc="Hamming near-dup join over WIDE (120-bit, two-word) SimHash "
    "fingerprints — the standard-width SimHash the single-int64 "
    "operator (q147) cannot hold. Array-of-longs banding keeps the "
    "pigeonhole exactness: 12 bands across 2 words > max_dist 10, so "
    "a qualifying pair cannot differ in every band and the band "
    "equi-join has 100% recall; the zip_with popcount refinement "
    "then reproduces the ALL-PAIRS relation, which is literally what "
    "the oracle computes (brute force at fixture scale) — the driver "
    "hash proves the multi-word LSH path lossless. The fixture plants "
    "near-dup pairs relationally (each doc and its one-extra-token "
    "variant; a handful of vote flips out of 120 bits), every hash "
    "bit md5-replayable in DuckDB. Fingerprints materialize once "
    "(localCheckpoint) and the join shuffles 16-byte fingerprints, "
    "never text.",
)
def q150_simhash128_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.dedup import hamming_near_dups_wide, simhash128

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 60).select("doc_id", "text")
    variants = docs.select((F.col("doc_id") * 2).alias("vid"), "text").unionByName(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("vid"),
            F.concat(F.col("text"), F.lit(" zzsentinel")).alias("text"),
        )
    )
    fps = simhash128(variants, id_col="vid").localCheckpoint()
    pairs = hamming_near_dups_wide(
        fps, "simhash", id_col="vid", max_dist=10, n_words=2, bands_per_word=6, band_bits=10
    )
    return pairs.orderBy("a_id", "b_id")


def _ivfpq_sql(num_cells: int = 16, nprobe: int = 2, m: int = 8, ks: int = 16,
               sub: int = 8, k: int = 5, nq: int = 5) -> str:
    """DuckDB replay of similarity.ivf_pq_ann_topk: IVF cell assignment
    + probe set (the q73 fragments) composed with PQ codebooks/codes/
    decimal ADC (the q114 fragments) — candidates restricted to probed
    cells before any distance math, exactly like the Spark plan."""
    return f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT {num_cells}),
    assigned AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT e.vec_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cent_id) AS rn
        FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
    seeds AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {ks}),
    pcents AS (
      SELECT j, ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS cent_ord,
             embedding[j*{sub}+1 : j*{sub}+{sub}] AS cvec
      FROM seeds CROSS JOIN range({m}) t(j)),
    subv AS (
      SELECT vec_id, j, embedding[j*{sub}+1 : j*{sub}+{sub}] AS sub
      FROM embeddings CROSS JOIN range({m}) t(j)),
    asg AS (
      SELECT vec_id, j, cent_ord AS code FROM (
        SELECT s.vec_id, s.j, c.cent_ord,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                   ORDER BY {_l2_sql('s.sub', 'c.cvec', 8)} ASC, c.cent_ord) AS rn
        FROM subv s JOIN pcents c ON s.j = c.j) WHERE rn = 1),
    probes AS (
      SELECT query_id, cent_id AS cell FROM (
        SELECT q.vec_id AS query_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.cent_id) AS pr
        FROM (SELECT * FROM embeddings WHERE vec_id < {nq}) q CROSS JOIN cents c) WHERE pr <= {nprobe}),
    qsub AS (SELECT vec_id AS query_id, j, sub FROM subv WHERE vec_id < {nq}),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN assigned a USING (cell)
      WHERE p.query_id <> a.vec_id),
    parts AS (
      SELECT cd.query_id, cd.vec_id, {_l2_sql('q.sub', 'c.cvec', 8)} AS part
      FROM cand cd
      JOIN asg a ON a.vec_id = cd.vec_id
      JOIN pcents c ON a.j = c.j AND a.code = c.cent_ord
      JOIN qsub q ON q.j = a.j AND q.query_id = cd.query_id),
    dist AS (
      SELECT query_id, vec_id, CAST(SUM(CAST(part AS DECIMAL(25,6))) AS DOUBLE) AS adist
      FROM parts GROUP BY query_id, vec_id)
    SELECT query_id, vec_id, adist, rank FROM (
      SELECT query_id, vec_id, adist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS INT) AS rank
      FROM dist) WHERE rank <= {k}
    ORDER BY query_id, rank
    """


@query(
    "q151_ivf_pq_topk",
    _ivfpq_sql(),
    operators=("N3",),
    doc="IVF-PQ ANN (the FAISS IVFx,PQy layout deployed at 100 TB): the "
    "coarse quantizer prunes WHICH vectors are scored (nprobe=2 of 16 "
    "cells — each query touches ~1/8 of the corpus, partition-prunable "
    "once codes land partitioned by cell) and PQ compresses WHAT the "
    "scoring scan reads (8 one-byte codes per 64-float vector, 32:1; "
    "ADC = 8 LUT lookups in exact decimal). The two structures "
    "multiply: IVF cuts candidate COUNT, PQ cuts candidate WIDTH. One "
    "corpus scan builds both map-side. Deterministic seed centroids "
    "AND codebooks, so the oracle replays assignment, probing, "
    "encoding and the decimal ADC fold bit-for-bit; recall@10 vs "
    "brute force is MEASURED (tools/stress.py row; CI floor in "
    "tests/test_llm.py::test_ivf_pq_recall_at_10_floor).",
)
def q151_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.similarity import ivf_pq_ann_topk

    emb = T(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_pq_ann_topk(qs, emb, k=5).orderBy("query_id", "rank")


def _ivfpq_residual_sql(num_cells: int = 16, nprobe: int = 2, m: int = 8, ks: int = 16,
                        sub: int = 8, k: int = 5, nq: int = 5) -> str:
    """DuckDB replay of ivf_pq_ann_topk(by_residual=True): like
    _ivfpq_sql but codes and LUTs are computed over RESIDUALS
    (v − centroid(cell)); codebook seeds skip the centroid rows
    (their residuals are exactly zero).  The query-side LUT is per
    (query, probed cell) — the residual differs per cell."""
    return f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT {num_cells}),
    assigned AS (
      SELECT vec_id, cell, cvec FROM (
        SELECT e.vec_id, c.cent_id AS cell, c.cvec,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cent_id) AS rn
        FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
    rres AS (
      SELECT a.vec_id, a.cell,
             list_transform(range({m * sub}),
                            i -> CAST(e.embedding[i+1] AS DOUBLE) - CAST(a.cvec[i+1] AS DOUBLE)) AS rvec
      FROM assigned a JOIN embeddings e USING (vec_id)),
    seeds AS (SELECT vec_id, rvec FROM rres ORDER BY vec_id LIMIT {ks} OFFSET {num_cells}),
    pcents AS (
      SELECT j, ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS cent_ord,
             rvec[j*{sub}+1 : j*{sub}+{sub}] AS cvec
      FROM seeds CROSS JOIN range({m}) t(j)),
    subv AS (
      SELECT vec_id, j, rvec[j*{sub}+1 : j*{sub}+{sub}] AS sub
      FROM rres CROSS JOIN range({m}) t(j)),
    asg AS (
      SELECT vec_id, j, cent_ord AS code FROM (
        SELECT s.vec_id, s.j, c.cent_ord,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j
                   ORDER BY {_l2_sql('s.sub', 'c.cvec', 8)} ASC, c.cent_ord) AS rn
        FROM subv s JOIN pcents c ON s.j = c.j) WHERE rn = 1),
    probes AS (
      SELECT query_id, cell, cvec FROM (
        SELECT q.vec_id AS query_id, c.cent_id AS cell, c.cvec,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.cent_id) AS pr
        FROM (SELECT * FROM embeddings WHERE vec_id < {nq}) q CROSS JOIN cents c) WHERE pr <= {nprobe}),
    qres AS (
      SELECT p.query_id, p.cell, t.j,
             list_transform(range({sub}),
                            i -> CAST(q.embedding[t.j*{sub}+i+1] AS DOUBLE) - CAST(p.cvec[t.j*{sub}+i+1] AS DOUBLE)) AS sub
      FROM probes p JOIN embeddings q ON q.vec_id = p.query_id CROSS JOIN range({m}) t(j)),
    cand AS (
      SELECT p.query_id, a.vec_id, a.cell
      FROM probes p JOIN rres a USING (cell)
      WHERE p.query_id <> a.vec_id),
    parts AS (
      SELECT cd.query_id, cd.vec_id, {_l2_sql('q.sub', 'c.cvec', 8)} AS part
      FROM cand cd
      JOIN asg a ON a.vec_id = cd.vec_id
      JOIN pcents c ON a.j = c.j AND a.code = c.cent_ord
      JOIN qres q ON q.j = a.j AND q.query_id = cd.query_id AND q.cell = cd.cell),
    dist AS (
      SELECT query_id, vec_id, CAST(SUM(CAST(part AS DECIMAL(25,6))) AS DOUBLE) AS adist
      FROM parts GROUP BY query_id, vec_id)
    SELECT query_id, vec_id, adist, rank FROM (
      SELECT query_id, vec_id, adist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS INT) AS rank
      FROM dist) WHERE rank <= {k}
    ORDER BY query_id, rank
    """


@query(
    "q152_ivf_pq_residual_topk",
    _ivfpq_residual_sql(),
    operators=("N3",),
    doc="IVF-PQ with RESIDUAL encoding (FAISS's by_residual default): "
    "PQ quantizes v - centroid(cell) instead of the raw vector. This "
    "fixes product quantization's tie-group failure on clustered "
    "corpora — raw-vector codebooks resolve inter-cluster structure "
    "only, so every member of a tight cluster takes identical codes "
    "and ADC cannot rank inside it (measured: equal-rerank recall "
    "0.48 raw vs 0.73 residual on the degenerate-cluster fixture); "
    "residuals spread each cluster's noise around the origin where "
    "the codebook's resolution actually lands. Codebook seeds skip "
    "the centroid rows (their residuals are exactly zero — an "
    "all-zero codebook ties everything, also measured). The "
    "query-side LUT becomes per (query, probed cell) — the documented "
    "FAISS query-time cost. Still fully SQL-replayable: residuals are "
    "exact double arithmetic in both engines, and the oracle replays "
    "assignment, residuals, seeded codebooks, probing and the decimal "
    "ADC fold.",
)
def q152_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.similarity import ivf_pq_ann_topk

    emb = T(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_pq_ann_topk(qs, emb, k=5, by_residual=True).orderBy("query_id", "rank")


@query(
    "q153_semantic_decontam",
    f"""
    WITH bench AS (
      SELECT vec_id AS bench_id, embedding AS bench_vec
      FROM embeddings WHERE vec_id < 20),
    corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
    scored AS (
      SELECT c.vec_id, b.bench_id,
             {_cos_sql('c.embedding', 'b.bench_vec')} AS cos
      FROM corpus c CROSS JOIN bench b),
    best AS (
      SELECT vec_id, bench_id AS best_bench, cos AS max_cos FROM (
        SELECT vec_id, bench_id, cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, bench_id) AS rn
        FROM scored) WHERE rn = 1)
    SELECT vec_id, best_bench, max_cos, max_cos >= 0.35 AS contaminated
    FROM best ORDER BY vec_id
    """,
    operators=("N12", "N3"),
    doc="SEMANTIC benchmark decontamination — the embedding-space twin "
    "of q102's n-gram pass (production pipelines run both: a "
    "paraphrased benchmark leak shares few n-grams but sits next to "
    "its source in embedding space). Each corpus vector's nearest "
    "benchmark item by cosine, flagged at the threshold. The "
    "benchmark (thousands of items vs a 100 TB corpus) is collected "
    "and every corpus batch is scored against it in one Arrow pass "
    "that emits one verdict per row — no exchange, the corpus "
    "embeddings are never shuffled and the score relation never "
    "materializes. "
    "Oracle replays the full argmax relation with the portable 6-dp "
    "cosine.",
)
def q153_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.decontam import semantic_decontaminate

    emb = T(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("bench_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    return semantic_decontaminate(corpus, bench, threshold=0.35).orderBy("vec_id")


@query(
    "q154_simhash_dup_clusters",
    r"""
    WITH RECURSIVE docs0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
    variants AS (
      SELECT doc_id * 2 AS vid, text FROM docs0
      UNION ALL
      SELECT doc_id * 2 + 1 AS vid, text || ' zzsentinel' AS text FROM docs0),
    toks AS (SELECT vid, unnest(string_split_regex(lower(text), '\s+')) AS tok
             FROM variants),
    h AS (SELECT vid,
                 CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h0,
                 CAST('0x' || substr(md5(tok), 17, 15) AS BIGINT) AS h1
          FROM toks),
    votes AS (
      SELECT vid, bit,
             SUM(CASE WHEN (h0 >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s0,
             SUM(CASE WHEN (h1 >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s1
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS bit) bits
      GROUP BY vid, bit),
    fp AS (
      SELECT vid,
             CAST(SUM(CASE WHEN s0 >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS w0,
             CAST(SUM(CASE WHEN s1 >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS w1
      FROM votes GROUP BY vid),
    pairs AS (
      SELECT a.vid AS id_a, b.vid AS id_b
      FROM fp a JOIN fp b ON a.vid < b.vid
      WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 10),
    und AS (SELECT id_a AS u, id_b AS v FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
    walk(u, v) AS (
      SELECT u, v FROM und
      UNION
      SELECT w.u, e.v FROM walk w JOIN und e ON w.v = e.u),
    comp AS (
      SELECT vr.vid, least(vr.vid, coalesce(min(w.v), vr.vid)) AS component
      FROM variants vr LEFT JOIN walk w ON w.u = vr.vid
      GROUP BY vr.vid),
    csize AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
    SELECT c.vid, c.component, s.cluster_size,
           c.vid = c.component AS is_representative
    FROM comp c JOIN csize s USING (component)
    ORDER BY c.vid
    """,
    operators=("N2", "N1", "N16"),
    doc="Near-dup CLUSTERS over wide (120-bit) SimHash — the relation a "
    "dedup pipeline actually consumes: hamming pairs (q150's exact "
    "multi-word banding) fed to min-label connected components, one "
    "representative per cluster (component = smallest reachable vid; "
    "keep rows where is_representative). Composes three operator "
    "families end-to-end — fingerprint, exact LSH join, iterative "
    "graph — and the oracle replays ALL of it: md5 vote fingerprints, "
    "brute-force pair relation, recursive-CTE component closure. "
    "Scale: pairs are band-join-linear (q150), CC iterations shuffle "
    "(node, label) rows only; singletons ride through as their own "
    "representative.",
)
def q154_simhash_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.dedup import hamming_near_dups_wide, simhash128
    from fdf_spark.operators.graph import connected_components

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 60).select("doc_id", "text")
    variants = docs.select((F.col("doc_id") * 2).alias("vid"), "text").unionByName(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("vid"),
            F.concat(F.col("text"), F.lit(" zzsentinel")).alias("text"),
        )
    )
    fps = simhash128(variants, id_col="vid").localCheckpoint()
    pairs = hamming_near_dups_wide(
        fps, "simhash", id_col="vid", max_dist=10, n_words=2, bands_per_word=6, band_bits=10
    ).select(F.col("a_id").alias("id_a"), F.col("b_id").alias("id_b"))
    comp = connected_components(pairs, nodes=variants, node_col="vid")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("vid"),
            "component",
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_representative"),
        )
        .orderBy("vid")
    )


@query(
    "q155_ivf_pq_persisted_probe",
    _ivfpq_sql(),
    operators=("N3", "N17"),
    doc="PERSISTED IVF-PQ index probe — the build-once / probe-many "
    "contract every production ANN deployment runs (FAISS writes the "
    "index once, serves thousands of probes; the reference's analog "
    "is the compile-once memoized catalog, factory.py:651,673-679). "
    "The index is a VERSIONED TABLE of PQ codes range-clustered by "
    "cell, with centroids + codebooks + build params riding in the "
    "manifest meta (KB of JSON — the prober routes queries with ZERO "
    "Spark jobs); the probe prunes the manifest file list to the "
    "probed cells BEFORE Spark plans the scan, so it reads ~nprobe/"
    "num_cells of the code files and never rebuilds anything. Result "
    "is bit-identical to the inline q151 composition with the same "
    "parameters — this query probes what a previous job committed, "
    "and the SAME DuckDB oracle replays it. Incremental extension "
    "(ivf_pq_add: assign to existing cells, encode with existing "
    "codebooks, append-commit) is pytest-pinned alongside the "
    "pruned-scan plan assertion.",
)
def q155_ivf_pq_persisted_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.llm.similarity import ivf_pq_probe_index, write_ivf_pq_index
    from fdf_spark.queries import materialize_and_cleanup

    emb = T(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    d = tempfile.mkdtemp(prefix="fdf_ivfpq_index_")
    write_ivf_pq_index(emb, d)
    out = ivf_pq_probe_index(spark, d, qs, k=5).orderBy("query_id", "rank")
    return materialize_and_cleanup(out, d)


@query(
    "q156_change_data_feed",
    """
    SELECT * FROM (
      SELECT 1 AS version, doc_id, 'insert' AS change,
             CAST(LENGTH(text) AS INTEGER) AS nchars
      FROM documents WHERE doc_id < 10
      UNION ALL
      SELECT 2, doc_id, 'insert', CAST(LENGTH(text) AS INTEGER)
      FROM documents WHERE doc_id >= 10 AND doc_id < 15
      UNION ALL
      SELECT 3, 1, 'delete',
             (SELECT CAST(LENGTH(text) AS INTEGER) FROM documents WHERE doc_id = 1)
      UNION ALL
      SELECT 3, 1, 'insert', 7
    ) ORDER BY version, doc_id, change
    """,
    operators=("N17", "N15", "ST1"),
    doc="Streaming CHANGE-DATA-FEED consumption with a FULL VALUE "
    "oracle: a versioned table takes three commits (base insert, "
    "append, CDC merge-update), the manifest-chain stream "
    "(stream_version_events — the atomic create-if-absent publish "
    "makes a torn manifest unobservable, so the manifest IS the read "
    "barrier) delivers each commit's diff_versions delta in version "
    "order, and the collected feed must reproduce every row the SQL "
    "oracle derives from the same inputs: the update arrives as its "
    "delete+insert pair carrying the OLD and NEW payloads. This is "
    "the incremental-consumer contract (N23's view maintainer "
    "subscribes here instead of re-diffing); per commit the consumer "
    "reads only files present in exactly one snapshot.",
)
def q156_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from fdf_spark.sources.versioned import (
        commit_version,
        merge_versioned,
        stream_changes_sink,
        stream_version_events,
    )

    d = tempfile.mkdtemp(prefix="fdf_cdf_q156_")
    try:
        t = f"{d}/t"
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        commit_version(docs.filter(F.col("doc_id") < 10), t)
        commit_version(docs.filter(F.col("doc_id").between(10, 14)), t)
        merge_versioned(
            spark,
            t,
            spark.createDataFrame([(1, "UPDATED")], "doc_id long, text string"),
            ["doc_id"],
            update_cols=["text"],
        )
        rows: list[tuple] = []

        def capture(delta: DataFrame, v: int) -> None:
            for r in delta.select("doc_id", "change", F.length("text").alias("n")).collect():
                rows.append((v, r["doc_id"], r["change"], r["n"]))

        q = stream_changes_sink(
            stream_version_events(spark, t), t, capture, checkpoint=f"{d}/ck"
        )
        # stop() must run even if a delta collect throws: the outer
        # finally deletes the checkpoint dir, and removing it under a
        # live StreamingQuery leaves a background thread erroring for
        # the rest of the session
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = _local_df(
            spark, rows, "version int, doc_id long, change string, nchars int"
        )
        return out.orderBy("version", "doc_id", "change")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@query(
    "q157_decontam_indexed",
    f"""
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
    cents AS (
      SELECT vec_id AS cent_id, embedding AS cvec FROM corpus ORDER BY vec_id LIMIT 16),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT c.vec_id, t.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                  ORDER BY {_cos_sql('c.embedding', 't.cvec')} DESC, t.cent_id) AS rn
        FROM corpus c CROSS JOIN cents t) WHERE rn = 1),
    bench AS (
      SELECT vec_id AS bench_id, embedding AS bvec FROM embeddings WHERE vec_id < 20),
    probes AS (
      SELECT bench_id, bvec, cent_id AS cell FROM (
        SELECT b.bench_id, b.bvec, t.cent_id,
               ROW_NUMBER() OVER (PARTITION BY b.bench_id
                                  ORDER BY {_cos_sql('b.bvec', 't.cvec')} DESC, t.cent_id) AS pr
        FROM bench b CROSS JOIN cents t) WHERE pr <= 2),
    scored AS (
      SELECT a.vec_id, p.bench_id,
             {_cos_sql('c.embedding', 'p.bvec')} AS cos
      FROM assigned a JOIN probes p USING (cell) JOIN corpus c ON c.vec_id = a.vec_id),
    hits AS (SELECT * FROM scored WHERE cos >= 0.35),
    best AS (
      SELECT vec_id, bench_id AS best_bench, cos AS max_cos FROM (
        SELECT vec_id, bench_id, cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, bench_id) AS rn
        FROM hits) WHERE rn = 1)
    SELECT vec_id, best_bench, max_cos, TRUE AS contaminated
    FROM best ORDER BY vec_id
    """,
    operators=("N12", "N3"),
    doc="Decontamination WITHOUT a corpus scan — the persisted-index "
    "tier of q153: the corpus's IVF index (write_ivf_index's "
    "cell-partitioned layout) is built once; each benchmark item then "
    "probes its nprobe=2 nearest cells, so the decontamination run "
    "touches ~|bench|*nprobe/num_cells of the corpus instead of "
    "scanning 100 TB of embeddings per run. ANN semantics (a "
    "within-threshold pair outside every probed cell is missed — the "
    "IVF recall trade, dialed by nprobe); the oracle replays the "
    "whole composition exactly: seed centroids, cell assignment, "
    "probe set, 6-dp cosine threshold, relational argmax.",
)
def q157_decontam_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.llm.decontam import semantic_decontaminate_indexed
    from fdf_spark.llm.similarity import write_ivf_index
    from fdf_spark.queries import materialize_and_cleanup

    emb = T(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("bench_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    d = tempfile.mkdtemp(prefix="fdf_decontam_ivf_")
    write_ivf_index(corpus, d, num_cells=16)
    out = semantic_decontaminate_indexed(spark, d, bench, threshold=0.35, nprobe=2).orderBy(
        "vec_id"
    )
    return materialize_and_cleanup(out, d)


@query(
    "q158_incremental_near_dup",
    r"""
    WITH docs0 AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
    variants AS (
      SELECT doc_id * 2 AS vid, text FROM docs0
      UNION ALL
      SELECT doc_id * 2 + 1 AS vid, text || ' zzsentinel' AS text FROM docs0),
    toks AS (SELECT vid, unnest(string_split_regex(lower(text), '\s+')) AS tok
             FROM variants),
    h AS (SELECT vid,
                 CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h0,
                 CAST('0x' || substr(md5(tok), 17, 15) AS BIGINT) AS h1
          FROM toks),
    votes AS (
      SELECT vid, bit,
             SUM(CASE WHEN (h0 >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s0,
             SUM(CASE WHEN (h1 >> CAST(bit AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS s1
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS bit) bits
      GROUP BY vid, bit),
    fp AS (
      SELECT vid,
             CAST(SUM(CASE WHEN s0 >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS w0,
             CAST(SUM(CASE WHEN s1 >= 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS w1
      FROM votes GROUP BY vid)
    SELECT a.vid AS a_id, b.vid AS b_id,
           CAST(bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) AS INTEGER) AS dist
    FROM fp a JOIN fp b ON a.vid < b.vid
    WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1)) <= 10
      AND (a.vid >= 80 OR b.vid >= 80)
    ORDER BY a_id, b_id
    """,
    operators=("N2", "N17", "N1"),
    doc="CONTINUOUS-INGEST near-dup (the N2 sibling of N1's "
    "incremental_dedup): ingest 1 lands vids < 80's SimHash "
    "fingerprints in a versioned index; ingest 2 (vids >= 80) "
    "fingerprints only its batch, probes the landed index with the "
    "ASYMMETRIC collapsed band join (landed side banded once — one "
    "scan of an index 5 orders smaller than the corpus — but "
    "landed×landed candidates never generated), and returns exactly "
    "the pairs of the full-corpus relation that TOUCH the batch, "
    "which is literally the oracle: brute-force all-pairs restricted "
    "to b-side-in-batch. Snapshot isolation pins the probe against "
    "its own append (explicit file list + lineage-pinned batch "
    "fingerprints). The two-phase == full-corpus law is pytest-pinned.",
)
def q158_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from fdf_spark.llm.dedup import incremental_near_dup
    from fdf_spark.queries import materialize_and_cleanup

    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 60).select("doc_id", "text")
    variants = docs.select((F.col("doc_id") * 2).alias("vid"), "text").unionByName(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("vid"),
            F.concat(F.col("text"), F.lit(" zzsentinel")).alias("text"),
        )
    )
    d = tempfile.mkdtemp(prefix="fdf_neardup_idx_")
    kw = dict(id_col="vid", max_dist=10, bands_per_word=6, band_bits=10)
    incremental_near_dup(variants.filter(F.col("vid") < 80), d, **kw)
    out = incremental_near_dup(variants.filter(F.col("vid") >= 80), d, **kw).orderBy(
        "a_id", "b_id"
    )
    return materialize_and_cleanup(out, d)


# the synthetic page q174 wraps around each document — ONE definition
# drives both engines (Spark concat / SQL ||), so the query pins the
# EXTRACTION chain, not the fixture
_Q174_HTML_SQL = (
    "'<html><head><title>' || source || "
    "'</title><style type=\"text/css\"> p { color: #333; } </style>"
    "<script>if (a < b && c > d) { track(\"' || lang || '\"); }</script></head>' "
    "|| chr(10) || '<body>' || chr(10) || "
    "'<div class=\"nav\">home | about</div>' || chr(10) || "
    "'<h1>Doc &amp; ' || CAST(doc_id AS VARCHAR) || ' &lt;draft&gt;</h1>' "
    "|| chr(10) || '<!-- hidden comment -->' || chr(10) || "
    "'<p>' || text || '</p>' || chr(10) || "
    "'<div>&#39;footer&#39;&nbsp;links</div>' || chr(10) || '</body></html>'"
)

from fdf_spark.llm.htmltext import (  # noqa: E402 — query-module tail
    sql_boilerplate_line_filter,
    sql_html_to_text,
)


@query(
    "q174_html_extract",
    f"""
    WITH pages AS (
      SELECT doc_id, {_Q174_HTML_SQL} AS html FROM documents),
    extracted AS (
      SELECT doc_id, {sql_html_to_text('html')} AS txt FROM pages),
    cleaned AS (
      SELECT doc_id, txt, {sql_boilerplate_line_filter('txt', 4)} AS clean
      FROM extracted)
    SELECT doc_id,
           {sql_hash60('txt')} AS h_text,
           CAST(len(string_split(txt, chr(10))) AS INTEGER) AS n_lines,
           {sql_hash60('clean')} AS h_clean
    FROM cleaned ORDER BY doc_id
    """,
    operators=("N4",),
    doc="HTML→text extraction (llm/htmltext.py, r13 — VERDICT r12 #7): "
    "the most common real web-corpus ingest step as a DETERMINISTIC "
    "JVM regexp_replace chain — script/style/comment block removal, "
    "block-aware tag strip (structural tags become newlines), a fixed "
    "entity subset decoded in standard order (&amp; last), whitespace "
    "normalization — plus the tier-2 line-level boilerplate filter as "
    "explode-free array ops. Every step is RE2∩Java regex (the N13 "
    "discipline), and the oracle IS the same chain: sql_html_to_text "
    "emits the DuckDB replay from the same step table the Spark "
    "function applies, so the driver hash gate pins the two "
    "implementations against each other per document (60-bit content "
    "hashes of both tiers). Scale: pure column→column expressions — "
    "no UDF, no shuffle; runs at scan speed inside whole-stage "
    "codegen over 100 TB of crawl.",
)
def q174_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fdf_spark.llm.hashing import portable_hash60
    from fdf_spark.llm.htmltext import boilerplate_line_filter, html_to_text

    docs = T(spark, sf_dir, "documents")
    nl = F.lit("\n")
    html = F.concat(
        F.lit("<html><head><title>"), F.col("source"),
        F.lit('</title><style type="text/css"> p { color: #333; } </style>'
              '<script>if (a < b && c > d) { track("'),
        F.col("lang"),
        F.lit('"); }</script></head>'), nl,
        F.lit("<body>"), nl,
        F.lit('<div class="nav">home | about</div>'), nl,
        F.lit("<h1>Doc &amp; "), F.col("doc_id").cast("string"),
        F.lit(" &lt;draft&gt;</h1>"), nl,
        F.lit("<!-- hidden comment -->"), nl,
        F.lit("<p>"), F.col("text"), F.lit("</p>"), nl,
        F.lit("<div>&#39;footer&#39;&nbsp;links</div>"), nl,
        F.lit("</body></html>"),
    )
    txt = html_to_text(html)
    return (
        docs.select(F.col("doc_id"), txt.alias("txt"))
        .select(
            "doc_id",
            portable_hash60(F.col("txt")).alias("h_text"),
            F.size(F.split(F.col("txt"), "\n")).alias("n_lines"),
            portable_hash60(boilerplate_line_filter("txt", 4)).alias("h_clean"),
        )
        .orderBy("doc_id")
    )


@query(
    "q187_index_sync_via_feed",
    """
    WITH corpus AS (
      SELECT vec_id,
             CASE WHEN vec_id % 29 = 7
                  THEN list_transform(embedding, x -> -x)
                  ELSE embedding END AS embedding
      FROM embeddings
      WHERE NOT (vec_id % 17 = 3)),
    p AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             round(list_sum(list_transform(range(64), i ->
               (CAST(q.embedding[i+1] AS DOUBLE) - CAST(c.embedding[i+1] AS DOUBLE))
             * (CAST(q.embedding[i+1] AS DOUBLE) - CAST(c.embedding[i+1] AS DOUBLE)))), 6) AS edist
      FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
      CROSS JOIN corpus c
      WHERE q.vec_id != c.vec_id),
    ranked AS (
      SELECT query_id, vec_id, edist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY edist ASC, vec_id) AS INTEGER) AS rank
      FROM p)
    SELECT query_id, vec_id, edist, rank FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    operators=("N3", "N17", "N23"),
    doc="INDEX-FOLLOWS-TABLE via the change feed (r14 — the "
    "composition a 100 TB embedding pipeline runs all day): the "
    "corpus is a versioned table; after the persisted IVF-PQ index is "
    "built, the corpus takes an INSERT commit, a DELETE and a "
    "vector UPDATE (negation — scale-variant, so a stale index is "
    "caught), and sync_ivf_pq_index consumes the per-commit feed "
    "(poll/ack): every changed id equality-deleted from the index "
    "(zero index scan), final images appended through ivf_pq_add "
    "(existing cells + codebooks, no retrain), offset acked last.  "
    "The full-rerank probe of the SYNCED index must equal exact "
    "brute-force L2 ranking over the mutated corpus — which is exactly "
    "what the oracle computes relationally.  Scale: each sync is "
    "O(changed rows) + O(the commits' touched files); at-least-once "
    "replay converges to one live code row per id (pytest-pinned).",
)
def q187_index_sync_via_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from fdf_spark.llm.similarity import (
        ivf_pq_probe_index,
        sync_ivf_pq_index,
        write_ivf_pq_index,
    )
    from fdf_spark.sources.versioned import (
        commit_version,
        delete_where,
        merge_on_read,
        read_version,
    )

    emb = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d = tempfile.mkdtemp(prefix="fdf_syncidx_")
    try:
        cp, ip = f"{d}/corpus", f"{d}/index"
        commit_version(emb.filter(F.col("vec_id") >= 10), cp)
        write_ivf_pq_index(read_version(spark, cp), ip)
        commit_version(emb.filter(F.col("vec_id") < 10), cp)
        delete_where(spark, cp, "vec_id % 17 = 3")
        merge_on_read(
            spark, cp,
            read_version(spark, cp).filter("vec_id % 29 = 7").select(
                "vec_id", F.transform("embedding", lambda x: -x).alias("embedding")
            ),
            ["vec_id"],
        )
        sync_ivf_pq_index(spark, cp, ip, "q187-etl")
        qs = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        out = ivf_pq_probe_index(
            spark, ip, qs, k=5, nprobe=64, rerank=10**6,
            corpus=read_version(spark, cp),
        ).orderBy("query_id", "rank")
        rows = out.collect()
        from fdf_spark.sources.tables import local_df

        return local_df(spark, rows, out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)
