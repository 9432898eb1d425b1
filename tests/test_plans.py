"""Physical-plan regression pinning (the scale contract, SCALE.md).

Correctness tests prove the queries RIGHT; these prove they stay
CHEAP: exchange counts, broadcast-vs-sort-merge choices, parquet
filter pushdown and the no-cartesian rule are asserted on the compiled
plans, so a refactor that silently adds a shuffle or demotes a
broadcast fails CI — at sf0.001 compile time, not at 100 TB runtime.
"""

from __future__ import annotations

import re

import pytest

from fdf_spark.queries import load_all
from tests.conftest import SMOKE_DIR

#: per-query plan expectations. max_exchanges counts `Exchange` nodes
#: (hash, range and broadcast alike) in the pre-execution plan; AQE can
#: only coalesce below that at runtime. bnl = BroadcastNestedLoopJoin,
#: allowed only where a tiny broadcast side makes the cross join the
#: intended plan (cosine/centroid fan-outs).
EXPECT: dict[str, dict] = {
    "q01_pricing_summary": dict(max_exchanges=2, pushed=True),
    "q02_filtered_revenue": dict(max_exchanges=1, pushed=True),
    "q03_revenue_by_nation": dict(max_exchanges=4, min_bhj=3, max_smj=1, pushed=True),
    "q04_top_orders": dict(max_exchanges=1),  # TakeOrderedAndProject, no full sort
    "q05_active_customers_by_segment": dict(min_bhj=1),
    "q10_topk_orders_per_customer": dict(max_exchanges=2),
    # r14: per-partkey avg is a window over ONE fact shuffle — the agg +
    # re-join plan (2 scans, broadcast, 3 exchanges) is gone
    "q15_small_quantity_parts": dict(max_exchanges=2, max_smj=0, max_scans=1),
    # r14: three single-column distinct subtrees (no Expand); every
    # exchange carries distinct values or a 1-row aggregate
    # (the 2 BNLs are the intended 1-row-side cross joins of the counts)
    "q21_distinct_counts": dict(max_exchanges=8, max_smj=0, max_bnl=2, absent=["Expand"]),
    "q40_nearest_event": dict(max_exchanges=2),
    "q41_asof_attribution": dict(max_exchanges=2),
    "q60_exact_dedup": dict(max_exchanges=2),
    "q65_cosine_topk": dict(max_bnl=1, max_exchanges=2),
    "q73_ivf_ann_topk": dict(absent=["hashpartitioning(vec_id"]),
    # IVF-PQ composition: one corpus scan builds cells+codes map-side
    # (+ one narrow scan for the 5-row query side); the probe set
    # broadcasts onto the corpus — which is never hash-shuffled (only
    # the narrow (qid,vid,adist) top-k window is)
    "q151_ivf_pq_topk": dict(absent=["hashpartitioning(vec_id"], max_smj=0, max_scans=2),
    # residual tier: same shape — the residual projection is map-side
    "q152_ivf_pq_residual_topk": dict(absent=["hashpartitioning(vec_id"], max_smj=0, max_scans=2),
    # semantic decontam: benchmark broadcasts (the BNL is the intended
    # tiny-side cross join); the argmax agg's map-side partial collapses
    # per-corpus-row scores collapse map-side; since r9 the output is
    # keyed by the CORPUS (unmatched rows come back contaminated=false
    # — ADVICE r8), which adds one narrow SMJ of corpus ids against the
    # argmax relation: the 3 exchanges all carry one narrow row per
    # corpus row (agg merge + id join + final sort) — the embeddings
    # themselves still never shuffle (the id re-scan reads ONE column)
    "q153_semantic_decontam": dict(max_exchanges=3, max_bnl=1, max_smj=1, max_scans=3),
    # multi-dim agg family: fact rows pre-aggregate to base cells, the
    # Expand multiplies only those (~9 rows); 3 exchanges all tiny
    "q31_cube_grouping": dict(max_exchanges=3),
    "q32_unpivot_status": dict(max_exchanges=3),
    # window families: one hash exchange on the partition key + final range sort
    "q33_trailing_spend_window": dict(max_exchanges=2),
    "q38_stratified_sample": dict(max_exchanges=2),
    # explode/HOF paths: map-side only until the final sort/limit
    "q34_word_topk": dict(max_exchanges=2),  # agg shuffle + TakeOrdered, no full sort
    "q35_vector_components": dict(max_exchanges=1),
    "q36_array_hof": dict(max_exchanges=1),
    "q37_hash_sample": dict(max_exchanges=2),
    # r15: q46 joined the pre-aggregate-then-Expand family (q19/q31) —
    # the 3 exchanges (base-cell agg, sets agg, final sort) are tiny
    "q46_grouping_sets": dict(max_exchanges=3),
    "q47_price_histogram": dict(max_exchanges=2),
    "q48_stats_moments": dict(max_exchanges=2),
    # spine side must broadcast; the fact side pre-aggregates to <=84 rows
    "q49_calendar_spine": dict(max_exchanges=2, min_bhj=1),
    # pure codegen string/JSON paths: no shuffle before the final sort
    "q39_json_roundtrip": dict(max_exchanges=1),
    "q58_text_normalize": dict(max_exchanges=1),
    # round-2 additions — no cartesian anywhere, dim-stats sides broadcast
    "q91_negative_slice": dict(max_exchanges=5, min_bhj=1, max_smj=0),
    "q92_signal_arithmetic": dict(max_exchanges=3, max_smj=1, pushed=True),
    "q93_repetition_stats": dict(max_exchanges=6, max_smj=0),
    "q94_embedding_quantize": dict(max_exchanges=4, min_bhj=1, max_smj=0),
    # interpolation is join-FREE: union + two directional windows
    "q96_resample_linear": dict(max_exchanges=3, max_smj=0, max_bnl=0),
    # BM25: map-side tf, ONE single-partition stats agg broadcast back
    # (the BNL is the intended 1-row IdentityBroadcast cross join),
    # TakeOrdered top-k — zero wide shuffles
    "q98_bm25_topk": dict(max_exchanges=1, max_bnl=1, max_smj=0),
    # round-4 additions
    # simhash: wide map-side vote fold — spread + ONE doc agg + final sort,
    # never a posexplode×bits shuffle
    "q62_simhash": dict(max_exchanges=3, max_smj=0),
    # gradient: tie-dedup window + per-series window + final sort
    "q101_gradient": dict(max_exchanges=3, max_smj=0),
    # decontam: per-doc gram dedup is map-local (array_distinct in-row),
    # benchmark set and profile both broadcast — the corpus's only
    # exchange is the per-doc aggregation (plus the final sort)
    "q102_decontam": dict(max_exchanges=5, min_bhj=2, max_smj=0),
    # pii: pure codegen regex chain — nothing but the final sort
    "q103_pii_redact": dict(max_exchanges=1, max_smj=0),
    # span dedup: spread + ONE window count on the gram hash (no
    # groupBy+join-back) + island window + final sort — join-free
    "q104_dup_spans": dict(max_exchanges=4, max_smj=0, min_bhj=0),
    # mixture sampling: stats agg + broadcast rates back — the corpus
    # relation itself is never hash-shuffled
    "q105_mix_corpus": dict(max_exchanges=2, min_bhj=1, max_smj=0),
    # minhash: ONE hash per shingle occurrence folded into ONE wide
    # doc-level groupBy (measured 3.8x faster than the in-row
    # array_min form, which recomputes the hash array per seed) —
    # spread + doc agg + final sort, nothing per (shingle, seed)
    "q61_minhash_signatures": dict(max_exchanges=3, max_smj=0),
    # round-5 additions
    # semantic dedup: cell assignment is map-side (centroid literals, no
    # corpus exchange before the pair join); pair stage is an equi-join
    # on cell (BHJ at fixture size, SMJ-on-cell at scale — bounded by
    # Σ|cell|², never cartesian); anti-join may sort-merge (removed set
    # is O(corpus), not broadcastable at scale)
    "q108_semantic_dedup": dict(max_exchanges=4, max_smj=2),
    # CDC merge, broadcast strategy: base never hash-partitioned — all
    # joins are BHJs (anti/inner/anti) + union; the 4 exchanges are the
    # change-SIZED matched-keys distinct (appears 2x, subtree unshared),
    # the audit agg and the final sort — none carries base-sized data
    "q110_upsert_merge": dict(max_exchanges=4, min_bhj=3, max_smj=0),
    # inverted index (r15: explode tf): the map-side HOF tf pass was
    # interpreted (distinct × filter-count per doc, no CSE — 2.35 s vs
    # 0.68 s at sf0.1), so tf now explodes tokens and counts via
    # groupBy whose map-side partial agg still collapses occurrences
    # before the wire; the 3 exchanges are the (term,seg,doc) tf agg,
    # the (term,segment) agg and the final sort — none per-occurrence
    "q112_inverted_index": dict(max_exchanges=3, max_smj=0),
    # PQ ADC: encode + LUT scoring are map-side over the broadcast query
    # rows (the one BNL is the intended tiny-side cross join, as q65);
    # only the per-query top-k window and final sort exchange
    "q114_pq_adc_topk": dict(max_exchanges=2, max_bnl=1, max_smj=0),
    # expectations audit: all row rules share ONE scan+agg (stack
    # unpivot, not a union of per-rule selects); the second scan is the
    # uniqueness groupBy — 2 scans, 3 exchanges total, regardless of
    # how many row rules are declared
    "q117_data_quality": dict(max_exchanges=3, max_smj=0, max_scans=2),
    # 3 unrolled power iterations: every join broadcasts the |V|-row
    # rank/deg side at fixture scale; no cartesian, no nested loop —
    # exchange count scales with iters (small relations), not corpus
    "q115_pagerank": dict(max_exchanges=27, max_smj=0),
    # vocab tokenizer: broadcast map literal, encode is pure map-side —
    # one scan, the only exchange is the final sort
    "q118_tokenize": dict(max_exchanges=1, max_smj=0, max_scans=1),
    # count-min sketch: in-row ×depth cell fan-out + ONE map-side-
    # combining cell agg (shuffle ≤ depth·width cells/partition); the
    # ≤4096-row sketch and the probe set both broadcast — never a
    # corpus-sized join side
    "q119_countmin_hot_tokens": dict(max_exchanges=3, min_bhj=1, max_smj=0, max_scans=3),
    # unigram-LM scoring: vocab-sized LM persisted + broadcast; the
    # BNLs are the intended 1-row totals/OOV cross joins (as q98); the
    # corpus-side token stream is never hash-shuffled before its
    # one-row-per-doc agg
    "q120_lm_quality": dict(max_exchanges=8, max_smj=0, max_bnl=3),
    # blocked ER: candidate pairs via self-EQUI-join on the block key
    # (broadcast at fixture scale, hash at corpus scale) — never a
    # CartesianProduct; top-k is TakeOrdered, no full sort
    # r14: +1 round-robin exchange from spread() — the one-file fixture
    # scan otherwise runs the whole ~2M-pair levenshtein stage in a
    # single task (the exchange carries 20k narrow rows; no-op on a
    # multi-split cluster scan). Still no fact shuffle: the join stays
    # a broadcast on the block key.
    "q121_fuzzy_match": dict(max_exchanges=2, min_bhj=1, max_smj=0, max_scans=2),
    # incremental view refresh: delta aggregates map-side to one row
    # per touched key; the one SMJ is the full-outer view⨝delta merge
    # (outer sides are |groups|-sized, not base-sized)
    "q122_incremental_view": dict(max_exchanges=4, max_smj=1, max_scans=3),
    # shard export: hierarchical prefix sum — per-bucket window (one
    # hash exchange on the corpus) + #buckets-row prefix/total
    # relations (the two SinglePartition exchanges + the BNL are those
    # tiny sides, broadcast back); corpus never single-partitioned
    "q124_training_shards": dict(max_exchanges=6, min_bhj=1, max_smj=0, max_bnl=1, max_scans=3),
    # full-pipeline acceptance: every stage's probe side broadcasts
    # (dedup survivors, benchmark shingles, decontam verdicts, mixture
    # rates) — no SMJ, no cartesian; the BNL is the 1-row mixture-
    # budget cross join. Stage boundaries are persisted (the printed
    # plan repeats cached subtrees; InMemoryTableScan nodes are the
    # runtime dedup), mirroring landed inter-stage tables in production
    "q125_pipeline_export": dict(max_smj=0, max_bnl=1),
    # Count-Min mergeability (in-window r6): two half-corpus sketches +
    # merge = union + ONE cell groupBy per sketch (cells ≤ depth·width);
    # the merged sketch and probe set broadcast — never a corpus join
    "q127_cm_merge_estimate": dict(max_exchanges=4, min_bhj=2, max_smj=0, max_scans=4),
    # real-codec roundtrips: encode+decode run INSIDE one Arrow-batched
    # arrow_kernel over a single scan; the only exchange is the final
    # sort — payload bytes never enter a shuffle
    "q128_png_codec_roundtrip": dict(max_exchanges=1, max_smj=0, max_scans=1),
    "q141_resize_real": dict(max_exchanges=1, max_smj=0, max_scans=1),
    "q142_frame_sample_real": dict(max_exchanges=1, max_smj=0, max_scans=1),
    "q143_scene_cuts": dict(max_exchanges=1, max_smj=0, max_scans=1),
    "q144_decode_quarantine": dict(max_exchanges=1, max_smj=0, max_scans=1),
    # decode is map-side; the 2 exchanges carry window-verdict rows
    # (asset hash for islands+agg+rank, final range sort) — never bytes
    "q145_voice_segments": dict(max_exchanges=2, max_smj=0, max_scans=1),
    # hashing is map-side; the exchanges carry 8-byte hashes (group
    # agg + final sort), never pixels
    "q146_image_dhash_dedup": dict(max_exchanges=2, max_smj=0, max_scans=1),
    # hashes materialize once (localCheckpoint) so the parquet scan +
    # decode never appears in the pair-join plan; band join + distinct
    # + sort shuffle 16-byte (hash, band) rows only
    "q147_image_near_dup": dict(max_smj=0, max_scans=0, max_bnl=0),
    "q129_jpeg_codec_roundtrip": dict(max_exchanges=1, max_smj=0, max_scans=1),
    "q130_gif_codec_roundtrip": dict(max_exchanges=1, max_smj=0, max_scans=1),
    "q131_adpcm_codec_roundtrip": dict(max_exchanges=1, max_smj=0, max_scans=1),
    "q135_flac_codec_roundtrip": dict(max_exchanges=1, max_smj=0, max_scans=1),
    "q138_mpeg1_codec_roundtrip": dict(max_exchanges=1, max_smj=0, max_scans=1),
    # grouped quantile sketch: the two half-sketch windows + the merge/
    # estimate windows all share ONE key hash-exchange shape (3 total
    # incl. the final sort); per-key bottom-k never single-partitions
    "q139_grouped_quantiles": dict(max_exchanges=3, max_smj=0, max_bnl=0, max_scans=2),
    # grouped HLL: per-half register groupBys (map-side combining,
    # <= |groups|*2^12 rows), merged groupBy, per-key estimate agg,
    # exact-distinct agg + final sort; the estimate side broadcasts
    "q140_grouped_hll_distinct": dict(max_exchanges=6, min_bhj=1, max_smj=0, max_scans=3),
    # bloom membership: the <= m/32-word filter and the key set both
    # broadcast back to the probe relation — never a corpus-side SMJ
    "q134_bloom_membership": dict(max_exchanges=5, min_bhj=2, max_smj=0, max_scans=3),
    # quantile sketch (in-window r7): each half-sketch is ONE
    # TakeOrderedAndProject (<= k rows per map task — never a full
    # sort); the merge re-takes bottom-k over 2k rows; the 3 BNLs are
    # the intended tiny-side theta joins (order-statistic pick, the
    # <=5-row est x corpus rank probe, the 1-row total) — the corpus is
    # never hash-shuffled; the 3 exchanges are the <=5-group rank agg,
    # the 1-row total agg and the final sort
    "q137_quantile_sketch": dict(max_exchanges=3, max_smj=0, max_bnl=3, max_scans=4),
    # trained classifier: scoring is pure map-side over the persisted
    # feature relation (weights are literals) — one cached scan, the
    # 2 exchanges are the per-class agg + final sort; training's
    # per-iteration gradient aggs ran at plan-build time, same shape
    "q126_logreg_quality": dict(max_exchanges=2, max_smj=0, max_bnl=0, max_scans=1),
}


@pytest.mark.parametrize("name", sorted(EXPECT), ids=sorted(EXPECT))
def test_plan_shape(spark, name):
    exp = EXPECT[name]
    df = load_all()[name].fn(spark, SMOKE_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()

    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    n_ex = len(re.findall(r"\bExchange ", plan))
    if "max_exchanges" in exp:
        assert n_ex <= exp["max_exchanges"], f"{name}: {n_ex} exchanges"
    if "min_bhj" in exp:
        assert plan.count("BroadcastHashJoin") >= exp["min_bhj"], f"{name}: dims not broadcast"
    if "max_smj" in exp:
        assert plan.count("SortMergeJoin") <= exp["max_smj"], f"{name}: extra sort-merge join"
    bnl = plan.count("BroadcastNestedLoopJoin")
    assert bnl <= exp.get("max_bnl", 0), f"{name}: unexpected nested-loop join"
    if exp.get("pushed"):
        assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan, (
            f"{name}: parquet filter pushdown missing"
        )
    if "max_scans" in exp:
        n_scans = plan.count("Scan parquet")
        assert n_scans <= exp["max_scans"], f"{name}: {n_scans} parquet scans"
    for frag in exp.get("absent", ()):
        assert frag not in plan, f"{name}: forbidden plan fragment {frag!r}"
