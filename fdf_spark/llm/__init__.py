"""LLM-data-pipeline operators (SURVEY §2.11 N1-N25) — the north-star
extension surface: dedup (exact / MinHash-LSH / SimHash / n-gram
Jaccard / span-level substring / embedding), similarity search
(brute-force + LSH/IVF/PQ-ADC ANN with a trainable coarse quantizer),
relevance ranking + inverted index, text analysis, tokenization
(vocab + learned BPE), benchmark decontamination, PII redaction,
chunking/sequence packing, deterministic sampling and mixture
construction, multimodal column plumbing, Count–Min frequency
sketching, unigram-LM and trained-classifier quality scoring, and
token-balanced training-shard export — all designed for 100 TB
document corpora.
"""

from fdf_spark.llm.classifier import score_logreg, train_logreg  # noqa: F401
from fdf_spark.llm.decontam import decontaminate  # noqa: F401
from fdf_spark.llm.dedup import (  # noqa: F401
    gram_hash_rows,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from fdf_spark.llm.lmscore import score_docs, train_unigram_lm  # noqa: F401
from fdf_spark.llm.mixing import mix_corpus  # noqa: F401
from fdf_spark.llm.pii import detect_pii, redact_text  # noqa: F401
from fdf_spark.llm.ranking import bm25_topk, inverted_index  # noqa: F401
from fdf_spark.llm.similarity import (  # noqa: F401
    cosine_topk,
    ivf_ann_topk,
    kmeans_refine,
    knn_predict,
    lsh_ann_topk,
    pq_ann_topk,
    pq_encode,
    semantic_dedup,
)
from fdf_spark.llm.audiocodecs import decode_adpcm_samples, encode_adpcm_wav  # noqa: F401
from fdf_spark.llm.flac import decode_flac_samples, encode_flac  # noqa: F401
from fdf_spark.llm.imagecodecs import (  # noqa: F401
    decode_gif_pixels,
    decode_jpeg_pixels,
    decode_png_pixels,
    encode_gif,
    encode_jpeg,
    encode_png,
)
from fdf_spark.llm.sharding import assign_token_shards, write_training_shards  # noqa: F401
from fdf_spark.llm.sketches import (  # noqa: F401
    bloom_build,
    bloom_collect,
    bloom_merge,
    bloom_might_contain,
    bloom_prefilter,
    cm_estimate,
    cm_merge,
    countmin_sketch,
    hll_estimate,
    hll_merge,
    hll_sketch,
)
from fdf_spark.llm.tokenbin import (  # noqa: F401
    codepoint_tokenize,
    read_token_bin_shards,
    write_token_bin_shards,
)
from fdf_spark.llm.webdataset import (  # noqa: F401
    group_samples,
    read_webdataset,
    write_webdataset,
)
from fdf_spark.llm.spans import dup_spans  # noqa: F401
from fdf_spark.llm.textstats import fingerprint, language_id, text_stats  # noqa: F401
from fdf_spark.llm.tokenize import learn_bpe, tokenize_bpe, tokenize_vocab  # noqa: F401
