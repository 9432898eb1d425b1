"""Approximate-operator quality checks (no SQL oracle possible):
LSH candidate recall vs exact Jaccard, ANN recall vs brute force,
multimodal plumbing with the fake codec, simhash locality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fdf_spark.llm.dedup import lsh_candidate_pairs, minhash_signatures, ngram_jaccard_pairs, simhash
from fdf_spark.llm.multimodal import ASSET_SCHEMA, extract_features, frame_sample
from fdf_spark.llm.similarity import cosine_topk, ivf_ann_topk, lsh_ann_topk
from fdf_spark.sources.tables import load_table
from tests.conftest import SMOKE_DIR


def _digest(rows) -> str:
    """Order-free fingerprint of a relation: ``repr`` is exact for
    ints, floats (shortest round-trip) and bytes, so two digests agree
    only on bitwise-equal rows."""
    import hashlib

    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()[:16]


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SMOKE_DIR, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SMOKE_DIR, "embeddings")


def test_lsh_recall_vs_exact_jaccard(spark, docs):
    """Banded LSH candidates must cover the high-similarity pairs."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    sigs = minhash_signatures(docs, num_hashes=16)
    cand = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, num_hashes=16, bands=4).collect()}
    assert exact, "fixture should contain high-jaccard near-dups"
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_ann_recall_vs_bruteforce(spark):
    """LSH ANN on clustered vectors (its actual use case): recall@1 ≥ 0.8.

    (The fixture embeddings are near-random — cosine ≈ 0.03 for all
    pairs — where no locality hash can work; clustered data is the
    honest benchmark for ANN. Brute force on the fixture is covered by
    q65's oracle.)
    """
    import numpy as np

    rng = np.random.default_rng(11)
    dim, n_clusters, per = 16, 10, 40
    centers = rng.normal(size=(n_clusters, dim))
    rows = []
    for i in range(n_clusters * per):
        c = centers[i % n_clusters]
        v = c + rng.normal(scale=0.15, size=dim)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = (
        corpus.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    exact = cosine_topk(queries, corpus, k=1).collect()
    ann = lsh_ann_topk(queries, corpus, k=1, num_planes=8, num_tables=4, dim=dim).collect()
    exact_at1 = {r["query_id"]: r["vec_id"] for r in exact}
    ann_at1 = {r["query_id"]: r["vec_id"] for r in ann}
    hits = sum(1 for q, v in exact_at1.items() if ann_at1.get(q) == v)
    assert hits / len(exact_at1) >= 0.8, f"ANN top-1 recall {hits}/{len(exact_at1)}"


def test_ivf_recall_vs_bruteforce(spark):
    """IVF (nprobe=3 of 10 cells) on clustered vectors: recall@1 ≥ 0.8.

    Same honest-benchmark note as the LSH test above; the fixture
    corpus itself is covered bit-exactly by q73's DuckDB oracle.
    """
    import numpy as np

    rng = np.random.default_rng(12)
    dim, n_clusters, per = 16, 10, 40
    centers = rng.normal(size=(n_clusters, dim))
    rows = []
    for i in range(n_clusters * per):
        c = centers[i % n_clusters]
        v = c + rng.normal(scale=0.15, size=dim)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = (
        corpus.filter(F.col("vec_id") < 20)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    exact = cosine_topk(queries, corpus, k=1).collect()
    ann = ivf_ann_topk(queries, corpus, k=1, num_cells=10, nprobe=3).collect()
    exact_at1 = {r["query_id"]: r["vec_id"] for r in exact}
    ann_at1 = {r["query_id"]: r["vec_id"] for r in ann}
    hits = sum(1 for q, v in exact_at1.items() if ann_at1.get(q) == v)
    assert hits / len(exact_at1) >= 0.8, f"IVF top-1 recall {hits}/{len(exact_at1)}"


def test_ivf_recall_at_10_floor(spark):
    """recall@10 >= 0.9 at the default probe count (nprobe=2 of 16) —
    the floor the 2M-vector stress row measures at scale, pinned here
    so a regression in cell assignment or probe selection fails CI.
    Clustered fixture (ANN's honest benchmark, as above)."""
    import numpy as np

    rng = np.random.default_rng(13)
    dim, n_clusters, per = 16, 16, 60
    centers = rng.normal(size=(n_clusters, dim))
    rows = []
    for i in range(n_clusters * per):
        c = centers[i % n_clusters]
        v = c + rng.normal(scale=0.15, size=dim)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = (
        corpus.filter(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    k = 10
    exact = cosine_topk(queries, corpus, k=k).collect()
    ann = ivf_ann_topk(queries, corpus, k=k).collect()  # defaults: 16 cells, nprobe=2
    exact_sets: dict[int, set] = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    ann_sets: dict[int, set] = {}
    for r in ann:
        ann_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[q] & ann_sets.get(q, set())) / k for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"IVF recall@10 {mean_recall:.3f} ({recalls})"


def test_ivf_corpus_scan_unshuffled(spark, emb):
    """The 100 TB property of IVF: cell assignment is a pure per-row
    expression, so the corpus side reaches the candidate join with NO
    exchange on the corpus key (the join broadcasts the probe set).
    Only the per-query top-k window may shuffle (candidates only)."""
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    df = ivf_ann_topk(queries, emb, k=5, num_cells=16, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(vec_id" not in plan
    assert "BroadcastHashJoin" in plan


def test_connected_components_chain(spark):
    """A→B→C→D chain collapses to one component (transitivity that the
    pairwise keep-smallest rule alone cannot see); isolated node stays
    a singleton."""
    from fdf_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "doc_id long")
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, nodes=nodes, node_col="doc_id").collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_jaccard_shingle_freq_cap(spark):
    """The default doc-frequency cap drops ubiquitous shingles before the
    self-join: a boilerplate trigram shared by every doc must not pair
    otherwise-disjoint documents, while true near-dups still pair."""
    from fdf_spark.llm.dedup import DEFAULT_MAX_SHINGLE_FREQ, ngram_jaccard_pairs

    boiler = "terms of service apply"
    rows = [(i, f"{boiler} unique{i} filler{i} token{i}") for i in range(10)]
    rows += [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta zeta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(df, threshold=0.1, max_shingle_freq=5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in capped}
    assert (100, 101) in pairs  # rare-shingle near-dups survive
    assert all(a >= 100 for a, _ in pairs)  # boilerplate-only pairs gone

    # default cap is transparent when no shingle exceeds it
    uncapped = ngram_jaccard_pairs(df, threshold=0.1, max_shingle_freq=None).collect()
    assert DEFAULT_MAX_SHINGLE_FREQ > 12
    default = ngram_jaccard_pairs(df, threshold=0.1).collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, uncapped))


def test_connected_components_nonconvergence_raises(spark):
    """Exhausting max_iter with labels still moving must raise, not
    silently return split components (min-label propagation moves one
    hop per iteration, so a 6-node chain cannot finish in 2)."""
    import pytest as _pytest

    from fdf_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2).collect()


def test_simhash_locality(spark):
    """Near-identical docs → small Hamming distance; disjoint docs → large."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),  # 1 word off
        (3, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s = {r["doc_id"]: r["simhash"] for r in simhash(df, bits=48).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(s[1], s[2]) < ham(s[1], s[3])
    assert ham(s[1], s[2]) <= 12


def test_multimodal_fake_codec(spark):
    payloads = [
        (1, "image", bytearray(b"\x89PNG" + b"x" * 60), (8, 8, None, None)),
        (2, "audio", bytearray(b"RIFF" + b"y" * 100), (None, None, 16000, None)),
        (3, "video", bytearray(b"\x00\x00ftyp" + b"z" * 200), (64, 48, None, 25)),
    ]
    assets = spark.createDataFrame(payloads, ASSET_SCHEMA)
    out = extract_features(assets, codec="fake").collect()
    assert {r["asset_id"] for r in out} == {1, 2, 3}
    by_id = {r["asset_id"]: r for r in out}
    assert by_id[1]["n_bytes"] == 64
    assert len(by_id[1]["feat"]) == 8
    # deterministic: second run identical
    out2 = extract_features(assets, codec="fake").collect()
    assert sorted(map(str, out)) == sorted(map(str, out2))


def test_multimodal_stub_raises(spark):
    assets = spark.createDataFrame(
        [(1, "image", bytearray(b"abc"), (None, None, None, None))], ASSET_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|decoding requires"):
        extract_features(assets, codec="stub").collect()


def test_frame_sample_plan(spark):
    assets = spark.createDataFrame(
        [(7, "video", bytearray(b"v"), (None, None, None, 25))], ASSET_SCHEMA
    )
    frames = frame_sample(assets, every_n=10).collect()
    assert [(r["asset_id"], r["frame_idx"]) for r in frames] == [(7, 0), (7, 10), (7, 20)]


def test_resize_images_plumbing(spark):
    """Resize: image payloads re-encoded at the target size with
    metadata rewritten; non-image rows untouched; stub codec raises."""
    from fdf_spark.llm.multimodal import ASSET_SCHEMA, resize_images

    rows = [
        (1, "image", b"abcdef", {"width": 3, "height": 2, "sample_rate": None, "n_frames": None}),
        (2, "audio", b"xyz", {"width": None, "height": None, "sample_rate": 16000, "n_frames": None}),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    out = {r["asset_id"]: r for r in resize_images(assets, 4, 2, codec="fake").collect()}
    img = out[1]
    assert len(bytes(img["payload"])) == 8
    assert bytes(img["payload"]) == (b"abcdef" * 3)[:8]
    assert img["meta"]["width"] == 4 and img["meta"]["height"] == 2
    aud = out[2]
    assert bytes(aud["payload"]) == b"xyz" and aud["meta"]["sample_rate"] == 16000

    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|codec='png'"):
        resize_images(assets, 4, 2, codec="stub").collect()
    with _pytest.raises(ValueError, match="unknown resize codec"):
        resize_images(assets, 4, 2, codec="jpg")


def test_resize_images_real_png(spark):
    """REAL resize: decode → integer nearest-neighbour → re-encode.
    PNG is lossless, so the output payload must decode to EXACTLY
    arr[(y2*h)//H2][(x2*w)//W2] of the source pixels — checked per
    pixel for up- AND down-scaling, plus meta rewrite from the decode
    (input meta absent: the op must synthesize the column)."""
    import numpy as np

    from fdf_spark.llm.imagecodecs import decode_png_pixels, encode_png
    from fdf_spark.llm.multimodal import resize_images

    rng = np.random.RandomState(42)
    srcs = {1: rng.randint(0, 256, (2, 7, 3)), 2: rng.randint(0, 256, (5, 3, 3))}
    rows = [
        (aid, "image", bytearray(encode_png(a.astype(np.uint8), filter_type=aid)))
        for aid, a in srcs.items()
    ] + [(3, "audio", bytearray(b"xyz"))]
    assets = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary"
    )
    out = {r["asset_id"]: r for r in resize_images(assets, 4, 3, codec="png").collect()}
    for aid, a in srcs.items():
        got = decode_png_pixels(bytes(out[aid]["payload"]))
        h, w = a.shape[:2]
        ys = (np.arange(3) * h) // 3
        xs = (np.arange(4) * w) // 4
        assert (got == a[ys][:, xs]).all()
        assert out[aid]["meta"]["width"] == 4 and out[aid]["meta"]["height"] == 3
    assert bytes(out[3]["payload"]) == b"xyz"  # non-image passthrough


def test_pii_planted_strings(spark):
    """Known planted PII: exact counts, sequential (non-double-counted)
    semantics, and full scrub of every match in the redacted text."""
    from fdf_spark.llm.pii import detect_pii

    rows = [
        (1, "mail a.user+tag@sub.example.org now"),
        (2, "hosts 10.0.0.7 and 192.168.1.255, call +1-202-555-0142"),
        (3, "overlap a@1.2.3.4.net trailing"),  # email swallows the dotted quad
        (4, "clean text, no pii at all"),
        (5, "two mails x@y.io z@w.co and ip 8.8.8.8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in detect_pii(df).collect()}

    assert (got[1]["n_email"], got[1]["n_ip"], got[1]["n_phone"]) == (1, 0, 0)
    assert got[1]["redacted"] == "mail <EMAIL> now"
    assert (got[2]["n_email"], got[2]["n_ip"], got[2]["n_phone"]) == (0, 2, 1)
    assert got[2]["redacted"] == "hosts <IP> and <IP>, call <PHONE>"
    # sequential counting: the email rule consumes 'a@1.2.3.4.net' first,
    # so the ip rule sees no dotted quad — n_pii == substitutions made
    assert (got[3]["n_email"], got[3]["n_ip"]) == (1, 0)
    assert got[3]["redacted"] == "overlap <EMAIL> trailing"
    assert got[4]["n_pii"] == 0 and got[4]["redacted"] == rows[3][1]
    assert got[5]["n_pii"] == 3
    for r in got.values():
        assert r["n_pii"] == r["n_email"] + r["n_ip"] + r["n_phone"]


def test_decontaminate_overlap_profile(spark):
    """Hand-checkable contamination ratios: full copy, partial overlap,
    disjoint, and a too-short document."""
    from fdf_spark.llm.decontam import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # exact copy
            (2, "intro words then the quick brown fox jumps elsewhere"),
            (3, "completely different content with no shared trigrams here"),
            (4, "too short"),  # < 3 words: zero shingles, never flagged
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in decontaminate(docs, bench, n=3, threshold=0.2).collect()}

    assert got[1]["n_shingles"] == got[1]["n_hits"] == 7
    assert got[1]["contamination"] == 1.0 and got[1]["contaminated"]
    # doc 2: 7 trigrams, hits = {'the quick brown','quick brown fox','brown fox jumps'}
    assert (got[2]["n_shingles"], got[2]["n_hits"]) == (7, 3)
    assert got[2]["contaminated"]  # 3/7 >= 0.2
    assert got[3]["n_hits"] == 0 and not got[3]["contaminated"]
    assert got[4]["n_shingles"] == 0 and not got[4]["contaminated"]


def test_dup_spans_planted_boilerplate(spark):
    """Two docs sharing an 8-word license header + one with an internal
    repeat; overlapping gram hits must merge into single spans."""
    from fdf_spark.llm.spans import dup_spans

    header = "licensed under the apache license version two zero"  # 8 words
    rows = [
        (1, header + " alpha beta gamma delta epsilon"),
        (2, "intro words " + header + " tail content here"),
        (3, "totally unique body with no shared eight grams at all ok"),
        # internal repeat: the same 8-gram twice inside one document
        (4, "x1 x2 x3 x4 x5 x6 x7 x8 bridge x1 x2 x3 x4 x5 x6 x7 x8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in dup_spans(df, n=8, min_count=2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["n_grams"])
        )
    # doc 1: header at words [0, 8) — exactly one gram
    assert got[1] == [(0, 8, 1)]
    # doc 2: header at words [2, 10)
    assert got[2] == [(2, 10, 1)]
    assert 3 not in got
    # doc 4: grams at 0 and 9 both duplicated (same hash) — two islands
    assert sorted(got[4]) == [(0, 8, 1), (9, 17, 1)]


def test_mix_corpus_rates_and_determinism(spark, docs):
    """Mixture sampling: unlisted sources dropped, oversized weights keep
    whole sources, achieved token mix tracks the targets, and the sample
    is identical across runs (hash-Bernoulli, no rand)."""
    from fdf_spark.llm.mixing import mix_corpus

    weights = {"src0": 0.5, "src1": 0.1}
    out = mix_corpus(docs, weights, budget_tokens=10_000).collect()
    again = mix_corpus(docs, weights, budget_tokens=10_000).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))  # replayable

    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["n_tokens"])
    assert set(by_src) <= set(weights)  # unlisted sources dropped

    totals = {
        r["source"]: r["t"]
        for r in docs.groupBy("source").agg(F.sum(F.size(F.split(F.lower(F.col("text")), r"\s+"))).alias("t")).collect()
    }
    # src0 target = 5000 tokens > T_src0 (few hundred at smoke scale):
    # rate clamps to 1, the whole source is kept
    assert sum(by_src.get("src0", [])) == totals["src0"]
    # src1 target = 1000 tokens: rate < 1 → a strict subset survives
    assert 0 < sum(by_src.get("src1", [])) < totals["src1"]


def test_bmp_wav_codecs_roundtrip_pure_python():
    """Real-codec invariants without Spark: BMP stride padding (width=3
    → 9-byte rows padded to 12) must not leak pad bytes into channel
    means; WAV PCM stats are exact integer accumulations; non-BMP bytes
    are rejected loudly."""
    import pytest as _pytest

    from fdf_spark.llm.multimodal import decode_bmp, decode_wav, encode_bmp, encode_wav

    for w, h, rgb in [(3, 2, (10, 20, 30)), (1, 1, (255, 0, 128)), (7, 5, (1, 2, 3))]:
        width, height, bpp, mr, mg, mb = decode_bmp(encode_bmp(w, h, rgb))
        assert (width, height, bpp) == (w, h, 24.0)
        assert (mr, mg, mb) == tuple(float(c) for c in rgb)

    samples = [0, 100, -100, 32767, -32768, 5]
    sr, nch, nf, mean, peak, msq = decode_wav(encode_wav(44100, samples))
    assert (sr, nch, nf) == (44100.0, 1.0, float(len(samples)))
    assert mean == sum(samples) / len(samples)
    assert peak == 32768.0
    assert msq == sum(v * v for v in samples) / len(samples)

    with _pytest.raises(ValueError):
        decode_bmp(b"PNG....definitely-not-a-bmp")


def test_split_corpus_group_leakage_safe_and_stable(spark):
    """by=<group> puts every row of a group in ONE split (the near-dup
    contamination guard); assignment is invariant under repartitioning;
    fractions land near target on 3k keys."""
    from fdf_spark.llm.mixing import split_corpus

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 300).cast("string").alias("grp")
    )
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    by_grp = split_corpus(df, fr, by="grp")
    assert by_grp.groupBy("grp").agg(F.countDistinct("split").alias("n")).filter(
        F.col("n") > 1
    ).count() == 0
    a = {r["doc_id"]: r["split"] for r in split_corpus(df, fr).collect()}
    b = {r["doc_id"]: r["split"] for r in split_corpus(df.repartition(13), fr).collect()}
    assert a == b
    counts = {r["split"]: r["n"] for r in split_corpus(df, fr).groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["train"] / 3000 - 0.8) < 0.05
    assert set(counts) == {"train", "val", "test"}


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Continuous-ingest dedup: batch 2's repeats of batch 1 (and its own
    internal dups) are dropped without rescanning batch 1's rows; the
    landed index is a VERSIONED table (one commit per ingest) whose
    partition spec clusters by hash byte for membership-pruned probes."""
    from fdf_spark.llm.dedup import incremental_dedup
    from fdf_spark.sources.versioned import list_versions, partition_spec, read_version

    idx = str(tmp_path / "hash_index")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    out1 = incremental_dedup(spark, b1, idx)
    assert sorted(r["doc_id"] for r in out1.collect()) == [1, 2]  # 3 is an in-batch dup
    assert partition_spec(idx)["cols"] == ["hb"]  # bootstrap set the spec

    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    out2 = incremental_dedup(spark, b2, idx)
    assert sorted(r["doc_id"] for r in out2.collect()) == [11, 13]  # beta landed in b1

    index = read_version(spark, idx)
    assert index.count() == 4  # alpha beta gamma delta
    assert index.select("content_hash").distinct().count() == 4
    assert set(index.columns) == {"content_hash", "doc_id", "hb"}

    # replaying an already-landed batch yields nothing and leaves the index alone
    out3 = incremental_dedup(spark, b1, idx)
    assert out3.count() == 0
    assert read_version(spark, idx).count() == 4
    # one data commit per ingest (+ the bootstrap set-spec commit)
    assert len(list_versions(idx)) == 4


def test_incremental_dedup_crash_and_race_safety(spark, tmp_path, monkeypatch):
    """The index commit is atomic (VERDICT r9 #2): a crash mid-ingest
    leaves only invisible orphan files — the next probe sees none of
    them; a lost commit race RE-PROBES against the new head, so two
    concurrent ingests carrying the same hash land it exactly once."""
    import fdf_spark.sources.versioned as V
    from fdf_spark.llm.dedup import DuplicateIngestError, incremental_dedup
    from fdf_spark.sources.versioned import read_version

    idx = str(tmp_path / "hash_index")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    incremental_dedup(spark, b1, idx, ingest_id="b1")

    # crash simulation: the publish dies AFTER data files are staged
    real_publish = V._publish_manifest_atomic

    def crashing_publish(staged, dst):
        raise RuntimeError("simulated crash between stage and publish")

    monkeypatch.setattr(V, "_publish_manifest_atomic", crashing_publish)
    b2 = spark.createDataFrame([(10, "gamma")], "doc_id long, text string")
    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_dedup(spark, b2, idx)
    monkeypatch.undo()
    # the crashed ingest's rows are INVISIBLE: gamma is not in the index,
    # so re-running the ingest lands it (no silent duplicate admission)
    assert read_version(spark, idx).count() == 2
    out = incremental_dedup(spark, b2, idx, ingest_id="b2")
    assert [r["doc_id"] for r in out.collect()] == [10]

    # race: another ingest lands the SAME hash between probe and publish
    state = {"raced": False}

    def racing_publish(staged, dst):
        if not state["raced"]:
            state["raced"] = True
            incremental_dedup(
                spark,
                spark.createDataFrame([(20, "delta")], "doc_id long, text string"),
                idx,
            )
        real_publish(staged, dst)

    monkeypatch.setattr(V, "_publish_manifest_atomic", racing_publish)
    out = incremental_dedup(
        spark,
        spark.createDataFrame([(21, "delta"), (22, "eps")], "doc_id long, text string"),
        idx,
    )
    monkeypatch.undo()
    # the re-probe saw the racer's delta: only eps survives here
    assert sorted(r["doc_id"] for r in out.collect()) == [22]
    landed = read_version(spark, idx)
    assert landed.count() == 5  # alpha beta gamma delta eps — delta ONCE
    assert landed.select("content_hash").distinct().count() == 5

    # replay guard
    with pytest.raises(DuplicateIngestError, match="b2"):
        incremental_dedup(spark, b2, idx, ingest_id="b2")


def test_incremental_dedup_probe_to_commit_race(spark, tmp_path, monkeypatch):
    """expected_parent pin (VERDICT r10 #1): a racer landing BETWEEN the
    probe's localCheckpoint and the commit call — i.e. BEFORE
    commit_version's own head read, outside _publish_manifest_atomic —
    must trip ConcurrentCommitError and force a re-probe.  Without the
    pin the victim's commit slides in at the racer's head+1 with no
    conflict and the shared hash lands twice."""
    import fdf_spark.sources.versioned as V
    from fdf_spark.llm.dedup import incremental_dedup
    from fdf_spark.sources.versioned import list_versions, read_version

    idx = str(tmp_path / "hash_index")
    incremental_dedup(
        spark,
        spark.createDataFrame([(1, "alpha")], "doc_id long, text string"),
        idx,
    )

    real_commit = V.commit_version
    state = {"raced": False, "conflicts": 0}

    def racing_commit(df, path, **kw):
        if not state["raced"]:
            state["raced"] = True
            # the racer lands the SAME hash through the REAL path while
            # the victim sits between its probe and its publish
            monkeypatch.setattr(V, "commit_version", real_commit)
            try:
                incremental_dedup(
                    spark,
                    spark.createDataFrame(
                        [(20, "delta")], "doc_id long, text string"
                    ),
                    idx,
                )
            finally:
                monkeypatch.setattr(V, "commit_version", racing_commit)
        try:
            return real_commit(df, path, **kw)
        except V.ConcurrentCommitError:
            state["conflicts"] += 1
            raise

    monkeypatch.setattr(V, "commit_version", racing_commit)
    out = incremental_dedup(
        spark,
        spark.createDataFrame(
            [(21, "delta"), (22, "eps")], "doc_id long, text string"
        ),
        idx,
    )
    monkeypatch.undo()
    # the pin actually fired (this is the window the old code missed)
    assert state["conflicts"] >= 1
    # re-probe saw the racer's delta: only eps survives the victim ingest
    assert sorted(r["doc_id"] for r in out.collect()) == [22]
    landed = read_version(spark, idx)
    assert landed.count() == 3  # alpha delta eps — delta exactly ONCE
    assert landed.select("content_hash").distinct().count() == 3
    # v1 bootstrap data, v2 the bootstrap's hb spec commit, v3 racer,
    # v4 victim retry — the victim's FIRST (conflicted) attempt left no
    # version behind
    assert list_versions(idx) == [1, 2, 3, 4]


def test_incremental_near_dup_probe_to_commit_race(spark, tmp_path, monkeypatch):
    """The near-dup sibling of the probe-to-commit race: a racer landing
    fingerprints between the victim's probe and its commit forces a
    re-probe, so the returned pairs reflect the NEW head (the
    batch×racer pair is reported) and the batch's fingerprints land
    exactly once."""
    import fdf_spark.sources.versioned as V
    from fdf_spark.llm.dedup import incremental_near_dup
    from fdf_spark.sources.versioned import list_versions, read_version

    idx = str(tmp_path / "fpidx")
    base = "the quick brown fox jumps over the lazy dog again and again"
    kw = dict(id_col="vid", max_dist=10, bands_per_word=6, band_bits=10)
    incremental_near_dup(
        spark.createDataFrame([(1, base)], "vid long, text string"),
        idx, **kw,
    )

    real_commit = V.commit_version
    state = {"raced": False, "conflicts": 0}

    def racing_commit(df, path, **kw2):
        if not state["raced"]:
            state["raced"] = True
            monkeypatch.setattr(V, "commit_version", real_commit)
            try:
                # racer lands a near-dup of the victim's doc
                incremental_near_dup(
                    spark.createDataFrame(
                        [(20, base + " zz")], "vid long, text string"
                    ),
                    idx, **kw,
                )
            finally:
                monkeypatch.setattr(V, "commit_version", racing_commit)
        try:
            return real_commit(df, path, **kw2)
        except V.ConcurrentCommitError:
            state["conflicts"] += 1
            raise

    monkeypatch.setattr(V, "commit_version", racing_commit)
    pairs = incremental_near_dup(
        spark.createDataFrame([(30, base + " yy")], "vid long, text string"),
        idx, **kw,
    )
    got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
    monkeypatch.undo()
    assert state["conflicts"] >= 1  # the pin fired in the missed window
    # pairs were recomputed against the racer's head: both the original
    # doc AND the racer's near-dup pair with the victim's batch doc
    assert (1, 30) in got and (20, 30) in got
    # fingerprints landed exactly once each, one version per ingest+retry
    landed = read_version(spark, idx)
    assert sorted(r["vid"] for r in landed.collect()) == [1, 20, 30]
    assert list_versions(idx) == [1, 2, 3]


def test_kmeans_refine_improves_objective(spark):
    # spherical k-means: centroid=mean maximizes the within-cell cosine
    # sum, so 2 Lloyd rounds must not worsen the mean cosine-to-centroid
    from fdf_spark.llm.similarity import cosine, ivf_assign, kmeans_refine

    emb = spark.read.parquet(f"{SMOKE_DIR}/embeddings.parquet")

    def objective(cents, assigned):
        cdf = spark.createDataFrame(
            [(int(c), [float(x) for x in v]) for c, v in cents], "cell long, cvec array<double>"
        )
        return (
            assigned.join(F.broadcast(cdf), "cell")
            .agg(F.avg(cosine(F.col("embedding"), F.col("cvec"))))
            .first()[0]
        )

    seed = objective(*ivf_assign(emb, num_cells=8))
    trained = objective(*kmeans_refine(emb, num_cells=8, iters=2))
    assert trained >= seed - 1e-9, (seed, trained)


def test_inverted_index_segments_split_hot_terms(spark):
    # a term present in every doc must land in num_segments separate
    # postings rows, each bounded by ceil(corpus/num_segments) — the
    # skew/row-width bound the 100 TB design depends on
    from fdf_spark.llm.ranking import inverted_index

    docs = spark.read.parquet(f"{SMOKE_DIR}/documents.parquet")
    n_docs = docs.count()
    idx = inverted_index(docs, num_segments=4).cache()
    hot = idx.groupBy("term").agg(F.sum("df").alias("df")).orderBy(F.desc("df")).first()
    rows = idx.filter(F.col("term") == hot["term"]).collect()
    assert len(rows) == 4
    assert all(len(r["postings"]) <= -(-n_docs // 4) for r in rows)
    # postings are doc_id-sorted within each segment
    for r in rows:
        ids = [p["doc_id"] for p in r["postings"]]
        assert ids == sorted(ids)
    # df across segments sums to the unsegmented df
    one = inverted_index(docs, num_segments=1)
    assert (
        one.filter(F.col("term") == hot["term"]).first()["df"]
        == sum(r["df"] for r in rows)
    )
    idx.unpersist()


def test_pq_ann_recall_and_rerank(spark):
    # ADC with seed codebooks must beat random top-k by a wide margin,
    # and exact re-ranking of 4x candidates must not lower recall
    from pyspark.sql import Window as W

    from fdf_spark.llm.similarity import _l2, pq_ann_topk

    emb = spark.read.parquet(f"{SMOKE_DIR}/embeddings.parquet").cache()
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    k = 10
    exact = (
        emb.join(F.broadcast(qs))
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("edist", _l2(F.col("query_vec"), F.col("embedding")))
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.col("edist").asc(), F.col("vec_id"))
            ),
        )
        .filter(F.col("rank") <= k)
    )
    truth = {(r.query_id, r.vec_id) for r in exact.collect()}

    def recall(df):
        got = {(r.query_id, r.vec_id) for r in df.collect()}
        return len(got & truth) / len(truth)

    r_adc = recall(pq_ann_topk(qs, emb, k=k))
    r_rr = recall(pq_ann_topk(qs, emb, k=k, rerank=4))
    n = emb.count()
    random_recall = k / (n - 1)
    assert r_adc > 10 * random_recall, (r_adc, random_recall)
    assert r_rr >= r_adc, (r_rr, r_adc)
    emb.unpersist()


def test_pq_encode_modes_agree(spark):
    # the numpy encode must keep the codes the retired column-expression
    # encoder (per-subspace zip_with/aggregate fold, F.round 6 dp,
    # array_min ties to the smaller ordinal) produced on the fixture;
    # digest captured from that encoder
    from fdf_spark.llm.similarity import pq_encode

    emb = spark.read.parquet(f"{SMOKE_DIR}/embeddings.parquet")
    _, codes = pq_encode(emb)
    got = [(r.vec_id, tuple(r.code)) for r in codes.select("vec_id", "code").collect()]
    assert len(got) == 500 and _digest(got) == "aec3e1a98609fbd4"


def test_pq_query_luts_match_expression_lut(spark, emb):
    # the driver-side numpy LUTs must keep, bitwise, the values of the
    # retired expression LUT (literal codebooks + transform/zip_with/
    # aggregate fold, F.round 6 dp) at the q114 shape (m=8, ks=16) and
    # the codegen test's m=8/ks=8; digests captured from that tier
    import struct as _struct

    from fdf_spark.llm.similarity import _pq_seed_books, _query_luts

    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    want = {16: "38384dc0a088ac1d", 8: "a8b621866773faee"}
    for ks, digest in want.items():
        books = _pq_seed_books(emb, "embedding", 8, ks)
        rows = _query_luts(qs, books).collect()
        rel = [
            (r["query_id"], tuple(tuple(_struct.pack("<d", x) for x in s) for s in r["lut"]))
            for r in rows
        ]
        assert len(rel) == 10 and all(len(lut) == 8 and len(lut[0]) == ks for _, lut in rel)
        assert _digest(rel) == digest, f"ks={ks}"


def test_pq_ann_topk_rejects_bad_query_vectors(spark, emb):
    # a NULL query vector used to return k "neighbours" at adist NULL,
    # and a short one died with INVALID_ARRAY_INDEX inside the broadcast
    # job; both must raise at build time, naming the query and dim
    from fdf_spark.llm.similarity import pq_ann_topk

    v = [list(r.embedding) for r in emb.filter("vec_id < 2").orderBy("vec_id").collect()]
    vt = emb.schema["embedding"].dataType.simpleString()
    schema = f"query_id long, query_vec {vt}"
    cases = ((None, "NULL"), (v[1][:40], "length 40"), (v[1][:63] + [None], "a NULL or"))
    for bad, got in cases:
        qs = spark.createDataFrame([(0, v[0]), (1, bad)], schema)
        with pytest.raises(ValueError, match=f"query 1 has query_vec {got}.*expected 64"):
            pq_ann_topk(qs, emb, k=3)
    empty = pq_ann_topk(spark.createDataFrame([], schema), emb, k=3)
    assert empty.columns == ["query_id", "vec_id", "adist", "rank"]
    assert empty.collect() == []


def test_pq_width_is_the_data_width(spark):
    # 128-d vectors that agree on their first 64 components: only the
    # last 64 tell the rows apart, so PQ must encode all 128 (a fixed
    # 64-d width scores every candidate 0 and ranks them by id)
    import numpy as np

    from fdf_spark.llm.similarity import pq_ann_topk

    rng = np.random.default_rng(7)
    head = rng.normal(size=64)
    rows = []
    for j in range(8):  # row 2j+1 is a near copy of row 2j
        x = rng.normal(size=64)
        rows.append((2 * j, [float(v) for v in np.concatenate([head, x])]))
        y = x + 1e-3 * rng.normal(size=64)
        rows.append((2 * j + 1, [float(v) for v in np.concatenate([head, y])]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = corpus.filter(F.col("vec_id").isin(2, 4, 6)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = pq_ann_topk(qs, corpus, k=3).collect()
    assert len(got) == 9
    assert {r.query_id: r.vec_id for r in got if r.rank == 1} == {2: 3, 4: 5, 6: 7}


def test_pq_rejects_vectors_of_another_width(spark, emb):
    from fdf_spark.llm.similarity import pq_ann_topk, pq_encode

    qs = emb.filter("vec_id < 2").select(
        F.col("vec_id").alias("query_id"),
        F.concat("embedding", "embedding").alias("query_vec"),  # 128 wide
    )
    with pytest.raises(ValueError, match="query 0 has query_vec length 128; expected 64"):
        pq_ann_topk(qs, emb, k=3)
    narrow = emb.select("vec_id", F.slice("embedding", 1, 60).alias("embedding"))
    with pytest.raises(ValueError, match="widths \\[60\\]; need one width divisible by m=8"):
        pq_encode(narrow)


def test_pagerank_hub_and_mass(spark):
    # star graph: every leaf links to the hub — hub must dominate; total
    # mass stays within [1-d, 1] (dangling hub mass is dropped by design)
    from fdf_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(i, 0) for i in range(1, 9)], "src long, dst long")
    r = {row.node: row.rank for row in pagerank(edges, iters=5).collect()}
    assert r[0] == max(r.values()) and r[0] > 5 * r[1]
    assert len(set(r[i] for i in range(1, 9))) == 1  # leaves symmetric
    assert 0.15 - 1e-6 <= sum(r.values()) <= 1.0 + 1e-6


def test_bpe_roundtrip_and_reference_parity(spark, docs):
    # tokenize_bpe must (1) reproduce the pure-Python merge loop
    # word-for-word, (2) concatenate back to the original words, and
    # (3) compress vs raw characters once merges are learned
    from fdf_spark.llm.tokenize import (
        _bpe_encode_word,
        _py_word_split,
        learn_bpe,
        tokenize_bpe,
    )

    sample = docs.filter(F.col("doc_id") < 40).cache()
    merges = learn_bpe(sample, num_merges=30)
    assert len(merges) == 30 and len(set(map(tuple, merges))) == 30
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    got = {r.doc_id: list(r.pieces) for r in tokenize_bpe(sample, merges).collect()}
    texts = {r.doc_id: r.text for r in sample.select("doc_id", "text").collect()}
    n_pieces = n_chars = 0
    for did, t in texts.items():
        expected = [p for w in _py_word_split(t) for p in _bpe_encode_word(w, ranks)]
        assert got[did] == expected, did
        assert "".join(got[did]) == "".join(_py_word_split(t))  # lossless
        n_pieces += len(got[did])
        n_chars += sum(len(w) for w in _py_word_split(t))
    assert n_pieces < 0.7 * n_chars  # learned merges actually compress
    sample.unpersist()


def test_tokenize_vocab_char_fallback(spark):
    from fdf_spark.llm.tokenize import UNK_ID, tokenize_vocab

    df = spark.createDataFrame([(1, "cat zap c4t !")], "doc_id long, text string")
    vocab = {"cat": 100, "c": 3, "a": 1, "t": 20, "4": 30}
    ids = tokenize_vocab(df, vocab).first()["token_ids"]
    # "cat"->100; "zap" OOV -> z(UNK) a p(UNK); "c4t" OOV -> 3,30,20 ; "!" dropped by split
    assert ids == [100, UNK_ID, 1, UNK_ID, 3, 30, 20]


def test_assign_modes_agree_and_kmeans_arrow(spark, emb):
    # cell assignment must keep the retired expression argmin's answer
    # (sequential dot/norm order, half-away rounding, tie-to-smaller-id)
    # and the trained centroids must stay bitwise those it produced;
    # digests captured from the expression tier
    import struct

    from fdf_spark.llm.similarity import ivf_assign, kmeans_refine

    _, a = ivf_assign(emb, num_cells=8)
    assert _digest([(r.vec_id, r.cell) for r in a.collect()]) == "4a8ab5ebfc5cd021"
    cents, _ = kmeans_refine(emb, num_cells=8, iters=2)
    assert [c for c, _ in cents] == list(range(8))
    packed = [(c, tuple(struct.pack("<d", x) for x in v)) for c, v in cents]
    assert _digest(packed) == "56eefabfdf6fa5bf"


def test_all_pairs_cosine_matches_expression_path(spark, emb):
    # r14: the vectorized all-pairs tier must reproduce the per-pair
    # expression fold EXACTLY (sequential dot/norm accumulation,
    # norm(a)*norm(b) division order, 6-dp half-away rounding) — the
    # q67/q77 oracle replays the expression semantics
    from pyspark.sql import functions as F

    from fdf_spark.llm.similarity import all_pairs_cosine, cosine

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    expr = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", cosine(F.col("ea"), F.col("eb")))
        .filter(F.col("cos_sim") >= 0.3)
        .select("id_a", "id_b", "cos_sim")
    )
    want = {(r.id_a, r.id_b): r.cos_sim for r in expr.collect()}
    got = {(r.id_a, r.id_b): r.cos_sim for r in all_pairs_cosine(emb, threshold=0.3).collect()}
    assert want == got and len(got) > 0


def test_lit_vec_bitwise_identical(spark):
    # r14: the one-call parsed array literal must reproduce the
    # per-element F.lit array BITWISE (repr is shortest-round-trip and
    # the SQL double literal parses with Double.parseDouble)
    import struct

    from pyspark.sql import functions as F

    from fdf_spark.llm.similarity import _lit_vec

    vals = [0.1 + 0.2, -3.5e18, 1e-300, 1.0, -0.0, 123456789.123456789, 2.5e-7]
    r = (
        spark.range(1)
        .select(
            F.array(*[F.lit(float(x)) for x in vals]).alias("a"),
            _lit_vec(vals).alias("b"),
        )
        .first()
    )
    pack = lambda v: [struct.pack("<d", x) for x in v]
    assert pack(r.a) == pack(r.b)


def test_ivf_pq_probe_modes_agree(spark, emb):
    # the probe relation must stay EXACTLY what the retired expression
    # probe (cosine structs + a literal-codebook LUT over q or
    # q − centroid) produced —
    # same probed cells per query (rounded-cosine order, ties to smaller
    # cent_id) and bitwise-equal LUT entries — for both residual modes;
    # digests captured from the expression tier
    import struct as _struct

    from pyspark.sql import functions as F

    from fdf_spark.llm.similarity import _ivf_pq_build, _ivf_pq_probes

    qs = emb.filter(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cells = [(0, 0), (0, 1), (0, 3), (1, 1), (1, 4), (1, 7), (2, 2), (2, 5), (2, 6),
             (3, 0), (3, 3), (3, 5), (4, 1), (4, 4), (4, 7), (5, 2), (5, 3), (5, 5),
             (6, 2), (6, 6), (6, 7)]
    want = {False: "a2a4b9eed035f900", True: "1881fbb3e13daedd"}
    for by_residual in (False, True):
        cents, books, _ = _ivf_pq_build(emb, 8, 8, 8, by_residual, 0)
        rows = _ivf_pq_probes(qs, cents, books, 3, by_residual).collect()
        rel = [
            (
                r["query_id"],
                r["cell"],
                tuple(tuple(_struct.pack("<d", x) for x in sub) for sub in r["lut"]),
            )
            for r in rows
        ]
        assert sorted((q, c) for q, c, _ in rel) == cells, f"by_residual={by_residual}"
        assert _digest(rel) == want[by_residual], f"by_residual={by_residual}"


def test_cells_arrow_matches_expr_router(spark, emb):
    # the cell router must emit the (id, cell) probe relation the retired
    # explode(slice(array_sort(cosine structs), 1, n)) router produced;
    # literal captured from that router
    from pyspark.sql import functions as F

    from fdf_spark.llm.similarity import _probe_cells, ivf_assign

    cents, _ = ivf_assign(emb, num_cells=8)
    qs = emb.filter(F.col("vec_id") < 9).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    want = [(0, 0), (0, 1), (0, 3), (1, 1), (1, 4), (1, 7), (2, 2), (2, 5), (2, 6),
            (3, 0), (3, 3), (3, 5), (4, 1), (4, 4), (4, 7), (5, 2), (5, 3), (5, 5),
            (6, 2), (6, 6), (6, 7), (7, 2), (7, 4), (7, 7), (8, 2), (8, 6), (8, 7)]
    got = sorted(
        (r.qid, r.cell)
        for r in _probe_cells(qs, cents, 3, "qid", "qv").select("qid", "cell").collect()
    )
    assert got == want


def test_semantic_dedup_pair_stage_matches_join_fold(spark, emb):
    # r14: the vectorized within-cell pair stage must reproduce the old
    # cell-keyed self-join + interpreted cosine fold exactly — same
    # survivor set AND cells
    from pyspark.sql import functions as F

    from fdf_spark.llm.similarity import cosine, ivf_assign, semantic_dedup

    _, assigned = ivf_assign(emb, num_cells=8)
    a = assigned.select("cell", F.col("vec_id").alias("__ida"), F.col("embedding").alias("__va"))
    b = assigned.select("cell", F.col("vec_id").alias("__idb"), F.col("embedding").alias("__vb"))
    removed = (
        a.join(b, "cell")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(cosine(F.col("__va"), F.col("__vb")) >= 0.3)
        .select(F.col("__idb").alias("vec_id"))
        .distinct()
    )
    want = sorted(
        (r.vec_id, r.cell)
        for r in assigned.join(removed, "vec_id", "left_anti").select("vec_id", "cell").collect()
    )
    got = sorted(
        (r.vec_id, r.cell)
        for r in semantic_dedup(emb, num_cells=8, threshold=0.3).collect()
    )
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# round-5: blocked record linkage (N22) and unigram-LM scoring (N21)
# ---------------------------------------------------------------------------


def test_blocked_fuzzy_pairs_and_block_profile(spark):
    from pyspark.sql import functions as F

    from fdf_spark.operators.linkage import (
        block_profile,
        blocked_fuzzy_pairs,
        first_words_block,
    )

    rows = [
        (1, "maroon tan lace"),
        (2, "maroon tan face"),   # dist 1 from #1
        (3, "maroon dim steel"),  # same block, farther
        (4, "azure mint rose"),   # different block → never paired with 1-3
        (5, "azure mint rose"),   # exact dup of #4 → dist 0
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    block = first_words_block(F.col("name"), 1)
    pairs = blocked_fuzzy_pairs(df, "id", "name", block)
    got = {(r.a_id, r.b_id): r.dist for r in pairs.collect()}
    # pair space == sum of per-block n·(n−1)/2 from the audit
    prof = {r.block: r.n_pairs for r in block_profile(df, block).collect()}
    assert prof == {"maroon": 3, "azure": 1}
    assert len(got) == 4 and all(a < b for a, b in got)
    assert got[(4, 5)] == 0 and got[(1, 2)] == 1
    assert ("1", "4") not in got  # cross-block pairs never generated
    near = blocked_fuzzy_pairs(df, "id", "name", block, max_dist=1)
    assert {(r.a_id, r.b_id) for r in near.collect()} == {(1, 2), (4, 5)}


def test_lm_score_orders_typical_above_garbage(spark):
    from fdf_spark.llm.lmscore import score_docs, train_unigram_lm

    corpus = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    corpus.append((100, "zzzq xqzj vvkw qqqz"))  # all-OOV garbage
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    lm = train_unigram_lm(docs)
    scores = {r.doc_id: r.avg_logp for r in score_docs(docs, lm).collect()}
    assert all(v <= 0 for v in scores.values())
    # the garbage doc is strictly the most surprising
    assert scores[100] == min(scores.values())
    assert scores[100] < scores[0] - 1.0


def test_write_training_shards_balance_and_manifest(spark, tmp_path):
    """Shard export: contiguous boundaries, every shard within one doc
    of total/N tokens, manifest totals == corpus totals, partitioned
    layout readable back with the same per-shard membership."""
    import json
    import os

    from fdf_spark.llm.sharding import assign_token_shards, write_training_shards

    rows = [(i, " ".join(["tok"] * (5 + (i * 7) % 23))) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n = 8
    a = assign_token_shards(docs, n).collect()
    total = sum(r.tokens for r in a)
    per = {}
    spans = {}
    for r in a:
        per[r.shard] = per.get(r.shard, 0) + r.tokens
        lo, hi = spans.get(r.shard, (r.doc_id, r.doc_id))
        spans[r.shard] = (min(lo, r.doc_id), max(hi, r.doc_id))
    max_doc = max(r.tokens for r in a)
    for s, tok in per.items():
        assert tok <= total / n + max_doc  # balance bound
    # contiguity: doc-id ranges of distinct shards never interleave
    ordered = sorted(spans.values())
    for (l1, h1), (l2, h2) in zip(ordered, ordered[1:]):
        assert h1 < l2
    p = str(tmp_path / "shards")
    manifest = write_training_shards(docs, p, n)
    assert manifest["total_docs"] == 200 and manifest["total_tokens"] == total
    assert json.load(open(os.path.join(p, "manifest.json"))) == manifest
    back = spark.read.parquet(os.path.join(p, "data"))
    got = {r.doc_id: r.shard for r in back.collect()}
    assert got == {r.doc_id: r.shard for r in a}


# --- real compressed PNG codec (llm/imagecodecs.py, N6) ----------------------


def test_png_roundtrip_all_filters_pure_python():
    """encode (filter applied for real) → chunk parse → inflate →
    unfilter must be the identity for every filter type, channel count,
    and a spread of shapes — encoder filtering and decoder unfiltering
    are independently written inverses, so agreement is a cross-check."""
    import numpy as np

    from fdf_spark.llm.imagecodecs import decode_png_pixels, encode_png

    rng = np.random.RandomState(7)
    for shape in [(1, 1, 3), (5, 7, 3), (8, 3, 4), (4, 4, 1), (16, 16, 3), (3, 9, 2)]:
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        sq = img[:, :, 0] if shape[2] == 1 else img
        for ft in range(5):
            dec = decode_png_pixels(encode_png(sq, filter_type=ft))
            ref = sq[:, :, None] if sq.ndim == 2 else sq
            assert dec.shape == ref.shape and (dec == ref).all(), (shape, ft)


def test_png_spec_vector_and_crc_rejection():
    """A hand-assembled 1x1 red PNG (bytes written from the spec, not
    via encode_png) must decode to exactly red; flipping one byte must
    fail the CRC check loudly."""
    import struct
    import zlib

    from fdf_spark.llm.imagecodecs import decode_png, decode_png_pixels

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data)
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00\xff\x00\x00"))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png) == [1.0, 1.0, 3.0, 255.0, 0.0, 0.0]
    bad = bytearray(png)
    bad[20] ^= 0xFF
    try:
        decode_png_pixels(bytes(bad))
        raise AssertionError("corrupted CRC must be rejected")
    except ValueError as e:
        assert "CRC" in str(e)


def test_png_multi_idat_and_unsupported_profiles():
    import struct
    import zlib

    import numpy as np

    from fdf_spark.llm.imagecodecs import decode_png_pixels, encode_png

    # IDAT split across chunks: the zlib stream is their concatenation
    img = np.arange(60, dtype=np.uint8).reshape(4, 5, 3)
    full = encode_png(img, filter_type=2)
    sig, rest = full[:8], full[8:]
    chunks = []
    pos = 0
    while pos < len(rest):
        (ln,) = struct.unpack_from(">I", rest, pos)
        chunks.append((rest[pos + 4 : pos + 8], rest[pos + 8 : pos + 8 + ln]))
        pos += 12 + ln
    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data)
        )
    idat = dict(chunks)[b"IDAT"]
    split = sig + chunk(b"IHDR", dict(chunks)[b"IHDR"]) + chunk(
        b"IDAT", idat[:7]
    ) + chunk(b"IDAT", idat[7:]) + chunk(b"IEND", b"")
    assert (decode_png_pixels(split) == img).all()
    # 16-bit depth must raise, not mis-decode
    ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0)
    p16 = sig + chunk(b"IHDR", ihdr16) + chunk(
        b"IDAT", zlib.compress(b"\x00\x00\xff\x00\x00\x00\x00")
    ) + chunk(b"IEND", b"")
    try:
        decode_png_pixels(p16)
        raise AssertionError("16-bit profile must be rejected")
    except ValueError as e:
        assert "unsupported" in str(e)


def test_png_extract_features_distributed(spark):
    """The real PNG decode inside Arrow-batched arrow_kernel recovers
    the arithmetic pixel law of the synth fixtures for every filter
    type (doc ids 0..9 cover all five)."""
    from fdf_spark.llm.multimodal import extract_features, synth_png_assets

    docs = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    feats = {
        int(r.asset_id): r.feat
        for r in extract_features(synth_png_assets(docs), codec="png").collect()
    }
    import numpy as np

    for d in range(10):
        w, h = 2 + d % 6, 1 + d % 4
        yy, xx, cc = np.mgrid[0:h, 0:w, 0:3]
        img = (d + 11 * xx + 23 * yy + 41 * cc) % 256
        expect = [float(w), float(h), 3.0] + [
            img[:, :, c].sum() / (w * h) for c in range(3)
        ]
        assert feats[d] == expect, d


# --- real baseline JPEG codec (llm/imagecodecs.py, N6) -----------------------


def test_jpeg_entropy_layer_is_lossless():
    """The only lossy stage is quantization: huffman-decoding our own
    stream must recover the encoder's quantized coefficients EXACTLY
    (dequantized here, so compare against q * quant)."""
    import numpy as np

    from fdf_spark.llm.imagecodecs import (
        _DCT_A,
        _q_round,
        decode_jpeg_blocks,
        encode_jpeg,
    )

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (16, 24, 3), np.uint8)
    q = 16
    enc = encode_jpeg(img, quant=q)
    frame, blocks = decode_jpeg_blocks(enc)
    assert (frame["h"], frame["w"]) == (16, 24)
    # recompute the Y plane's quantized coefficients independently
    from fdf_spark.llm.imagecodecs import _rgb_to_ycbcr

    y = _rgb_to_ycbcr(img)[:, :, 0]
    for by in range(2):
        for bx in range(3):
            block = y[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            coef = _DCT_A @ block @ _DCT_A.T
            expect = _q_round(coef / q) * q
            assert (blocks[0][by, bx] == expect).all(), (by, bx)


def test_jpeg_roundtrip_quality_bounds():
    """quant=1 leaves only rounding error (<=3 through two color
    transforms); a smooth gradient at quant=4 stays within a few
    levels, with 4:2:0 subsampling and restart markers exercised."""
    import numpy as np

    from fdf_spark.llm.imagecodecs import decode_jpeg_pixels, encode_jpeg

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (24, 17, 3), np.uint8)
    err1 = np.abs(
        decode_jpeg_pixels(encode_jpeg(img, quant=1)).astype(int) - img.astype(int)
    ).max()
    assert err1 <= 3, err1
    yy, xx = np.mgrid[0:32, 0:40]
    smooth = np.stack(
        [(xx * 3 + yy * 2) % 200 + 20, (xx + yy) % 180 + 30, (xx * 2) % 160 + 40], -1
    ).astype(np.uint8)
    for sub in (False, True):
        for ri in (0, 2):
            dec = decode_jpeg_pixels(
                encode_jpeg(smooth, quant=4, subsample=sub, restart_interval=ri)
            )
            err = np.abs(dec.astype(int) - smooth.astype(int)).max()
            assert err <= 6, (sub, ri, err)


def test_jpeg_rejects_progressive_and_non_jpeg():
    from fdf_spark.llm.imagecodecs import decode_jpeg_pixels, encode_jpeg

    import numpy as np

    enc = bytearray(encode_jpeg(np.zeros((8, 8, 3), np.uint8)))
    i = enc.find(b"\xff\xc0")
    enc[i + 1] = 0xC2  # flip SOF0 -> SOF2 (progressive)
    try:
        decode_jpeg_pixels(bytes(enc))
        raise AssertionError("progressive must be rejected")
    except ValueError as e:
        assert "baseline" in str(e)
    try:
        decode_jpeg_pixels(b"\x00\x01")
        raise AssertionError("non-JPEG must be rejected")
    except ValueError as e:
        assert "JPEG" in str(e)


def test_jpeg_extract_features_distributed(spark):
    """Distributed real-JPEG decode recovers the closed-form DC
    quantization law for solid fixtures (both samplings, restart and
    non-restart ids)."""
    import math

    from fdf_spark.llm.multimodal import extract_features, synth_jpeg_assets

    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    feats = {
        int(r.asset_id): r.feat
        for r in extract_features(synth_jpeg_assets(docs), codec="jpeg").collect()
    }

    def rha(x):
        return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)

    for d in range(12):
        r, g, b = float(d % 256), float((3 * d) % 256), float((7 * d) % 256)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        yq, cbq, crq = (
            float(min(max(2 * rha((v - 128.0) / 2.0) + 128, 0), 255))
            for v in (y, cb, cr)
        )
        clamp = lambda x: float(min(max(x, 0), 255))
        expect = [
            float(8 + d % 9),
            float(8 + d % 5),
            3.0,
            clamp(rha(yq + 1.402 * (crq - 128.0))),
            clamp(rha(yq - 0.344136 * (cbq - 128.0) - 0.714136 * (crq - 128.0))),
            clamp(rha(yq + 1.772 * (cbq - 128.0))),
        ]
        assert feats[d] == expect, d


def test_jpeg_grayscale_single_component():
    """A 1-component luma-only JPEG decodes with NEUTRAL chroma: gray
    in, the same gray out (within DC quantization), never sent through
    the color matrix (the r6 review found Y stacked into Cb/Cr)."""
    import numpy as np

    from fdf_spark.llm.imagecodecs import decode_jpeg_pixels, encode_jpeg

    for v in (0, 77, 200, 255):
        gray = np.full((8, 8), v, np.uint8)
        dec = decode_jpeg_pixels(encode_jpeg(gray, quant=16))
        assert dec.shape == (8, 8, 3)
        assert (dec == dec[0, 0]).all()
        px = dec[0, 0]
        assert px[0] == px[1] == px[2], px  # stays gray
        assert abs(int(px[0]) - v) <= 2, (v, px)


def test_jpeg_truncated_stream_raises():
    import numpy as np

    from fdf_spark.llm.imagecodecs import decode_jpeg_pixels, encode_jpeg

    enc = encode_jpeg(np.arange(192, dtype=np.uint8).reshape(8, 8, 3), quant=4)
    # cut right after a 0xFF in the entropy data (the padded tail flush
    # guarantees one near the end)
    cut = enc.rfind(b"\xff", 0, len(enc) - 2)
    try:
        decode_jpeg_pixels(enc[: cut + 1])
        raise AssertionError("truncated stream must be rejected")
    except ValueError:
        pass


def test_extract_features_unknown_codec_raises(spark):
    from fdf_spark.llm.multimodal import extract_features, synth_png_assets

    docs = spark.range(0, 2).select(F.col("id").alias("doc_id"))
    assets = synth_png_assets(docs)
    try:
        extract_features(assets, codec="jpg")  # typo must not mean 'fake'
        raise AssertionError("unknown codec must raise")
    except ValueError as e:
        assert "unknown codec" in str(e)


# --- real GIF / LZW codec (llm/imagecodecs.py, N6) ---------------------------


def test_gif_lzw_roundtrip_and_dict_reset():
    import numpy as np

    from fdf_spark.llm.imagecodecs import decode_gif_pixels, encode_gif

    rng = np.random.RandomState(5)
    for shape in [(1, 1), (3, 7), (16, 16), (40, 33)]:
        idx = rng.randint(0, 256, shape).astype(np.uint8)
        dec = decode_gif_pixels(encode_gif(idx))
        expect = np.stack(
            [idx, (3 * idx.astype(int)) % 256, (7 * idx.astype(int)) % 256], -1
        )
        assert dec.shape == expect.shape and (dec == expect).all(), shape
    # > 4096 dictionary entries forces a mid-stream CLEAR + reset
    big = (np.arange(300 * 300) % 251).astype(np.uint8).reshape(300, 300)
    assert (decode_gif_pixels(encode_gif(big))[:, :, 0] == big).all()


def test_gif_rejects_malformed():
    import numpy as np

    from fdf_spark.llm.imagecodecs import decode_gif_pixels, encode_gif

    try:
        decode_gif_pixels(b"NOTGIF")
        raise AssertionError("non-GIF must be rejected")
    except ValueError as e:
        assert "GIF" in str(e)
    enc = bytearray(encode_gif(np.zeros((4, 4), np.uint8)))
    enc[10] &= 0x7F  # clear the global-color-table flag
    try:
        decode_gif_pixels(bytes(enc))
        raise AssertionError("missing palette must be rejected")
    except ValueError as e:
        assert "color table" in str(e)


def test_gif_anim_roundtrip_and_strictness():
    """Animated GIF: every frame LZW-roundtrips through the palette;
    the container scan reports real frame counts; malformed payloads
    (mismatched frame shapes, truncated streams) are rejected loudly."""
    import numpy as np
    import pytest as _pytest

    from fdf_spark.llm.imagecodecs import (
        _gif_palette,
        decode_gif_frame_pixels,
        decode_gif_pixels,
        encode_gif_anim,
        scan_gif_frames,
    )

    rng = np.random.RandomState(7)
    frames = [rng.randint(0, 256, (3, 5)).astype(np.uint8) for _ in range(4)]
    p = encode_gif_anim(frames, delay_cs=10)
    w, h, mc, streams = scan_gif_frames(p)
    assert (w, h, mc, len(streams)) == (5, 3, 8, 4)
    pal = np.frombuffer(_gif_palette(), np.uint8).reshape(256, 3)
    for f in range(4):
        assert (decode_gif_frame_pixels(p, f) == pal[frames[f]]).all()
    # frame 0 of an animation decodes through the single-frame reader too
    assert (decode_gif_pixels(p) == pal[frames[0]]).all()
    with _pytest.raises(ValueError, match="out of range"):
        decode_gif_frame_pixels(p, 4)
    with _pytest.raises(ValueError, match="share one"):
        encode_gif_anim([frames[0], frames[0][:2]])
    with _pytest.raises(ValueError, match="truncated|trailer"):
        scan_gif_frames(p[:-10])


def test_frame_sample_features_pruned(spark):
    """REAL frame sampling: every_n=2 output is exactly the even-frame
    subset of every_n=1 (pruned decode == full decode on the sampled
    frames); n_frames comes from the CONTAINER — a lying meta struct
    changes nothing; non-video rows are excluded."""
    from pyspark.sql import functions as F

    from fdf_spark.llm.multimodal import (
        frame_sample_features,
        synth_gif_anim_assets,
    )

    docs = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    assets = synth_gif_anim_assets(docs)
    # corrupt the metadata: claim n_frames=1 everywhere + a non-video row
    lying = assets.withColumn(
        "meta",
        F.named_struct(
            F.lit("width"), F.lit(1), F.lit("height"), F.lit(1),
            F.lit("sample_rate"), F.lit(None).cast("int"),
            F.lit("n_frames"), F.lit(1),
        ),
    ).withColumn(
        "media_type",
        F.when(F.col("asset_id") == 0, F.lit("image")).otherwise(F.col("media_type")),
    )
    full = {(r["asset_id"], r["frame_idx"]): r for r in frame_sample_features(lying, every_n=1).collect()}
    samp = frame_sample_features(lying, every_n=2).collect()
    assert 0 not in {r["asset_id"] for r in samp}  # non-video excluded
    assert {r["asset_id"] for r in samp} == set(range(1, 40))
    for r in samp:
        assert r["frame_idx"] % 2 == 0
        assert r["n_frames"] == 2 + r["asset_id"] % 5  # container, not meta
        fr = full[(r["asset_id"], r["frame_idx"])]
        assert (r["mean_r"], r["mean_g"], r["mean_b"]) == (fr["mean_r"], fr["mean_g"], fr["mean_b"])
    # the sampled set is exactly the even subset of the full set
    assert {k for k in full if k[1] % 2 == 0 and k[0] != 0} == {
        (r["asset_id"], r["frame_idx"]) for r in samp
    }
    import pytest as _pytest

    with _pytest.raises(ValueError, match="every_n"):
        frame_sample_features(lying, every_n=0)


def test_scene_cuts_recovers_planted(spark):
    """Scene detection on the planted-cut fixtures: recall is exactly
    1.0 (the +120 jump gives delta >= 122/3 > 40 on the R channel
    alone), and false positives — palette wraps under the +2 drift —
    stay under 5%. Also: one row per consecutive pair, sequential
    frame indices, deltas finite and non-negative."""
    from pyspark.sql import functions as F

    from fdf_spark.llm.multimodal import scene_cuts, synth_gif_scene_assets

    docs = spark.range(0, 120).select(F.col("id").alias("doc_id"))
    rows = scene_cuts(synth_gif_scene_assets(docs), threshold=40.0).collect()
    by_asset: dict[int, list] = {}
    for r in rows:
        by_asset.setdefault(r["asset_id"], []).append(r)
    assert set(by_asset) == set(range(120))
    found = {(r["asset_id"], r["frame_idx"]) for r in rows if r["is_cut"]}
    planted = set()
    for d in range(120):
        nf = 2 + d % 5
        planted.add((d, 1 + d % (nf - 1)))
        assert sorted(r["frame_idx"] for r in by_asset[d]) == list(range(1, nf))
        assert all(r["n_frames"] == nf and r["delta"] >= 0 for r in by_asset[d])
    assert planted <= found  # recall 1.0 — every planted cut detected
    fp = len(found - planted)
    assert fp / len(rows) < 0.05, f"{fp} false positives in {len(rows)} pairs"


def test_sniff_format_and_decode_audit(spark):
    """Format sniffing classifies every real codec's output by magic
    bytes alone (including jpeg and the ADPCM RIFF container, which
    shares 'wav' with PCM); decode_audit quarantines poison as rows —
    err set exactly on failures, never an exception to the driver."""
    from fdf_spark.llm.audiocodecs import encode_adpcm_wav
    from fdf_spark.llm.imagecodecs import encode_jpeg
    from fdf_spark.llm.multimodal import decode_audit, sniff_format, synth_mixed_assets

    import numpy as np

    from fdf_spark.llm.mpegaudio import encode_mpeg1_layer1

    jpg = encode_jpeg(np.full((8, 8, 3), 128, np.uint8))
    adp = encode_adpcm_wav(8000, [5] * 20, samples_per_block=9)
    mpg = encode_mpeg1_layer1([0] * 31 + [4], [0] * 32, [[1] * 12] * 32)
    extra = spark.createDataFrame(
        [
            (1000, "mixed", bytearray(jpg)),
            (1001, "mixed", bytearray(adp)),
            (1002, "mixed", bytearray(mpg)),
        ],
        "asset_id long, media_type string, payload binary",
    )
    sniffed = {
        r["asset_id"]: r["fmt"]
        for r in extra.select("asset_id", sniff_format(F.col("payload")).alias("fmt")).collect()
    }
    assert sniffed == {1000: "jpeg", 1001: "wav", 1002: "mpeg1"}
    # every engine-decodable format passes the audit — including ADPCM
    # (container sniffs 'wav', the fmt-chunk tag routes the codec) and
    # MPEG-1 Layer I (syncword sniff)
    audited = {r["asset_id"]: r for r in decode_audit(extra).collect()}
    assert all(r["ok"] and r["err"] is None for r in audited.values()), audited

    docs = spark.range(0, 80).select(F.col("id").alias("doc_id"))
    rows = decode_audit(synth_mixed_assets(docs)).collect()
    assert len(rows) == 80
    for r in rows:
        d = r["asset_id"]
        assert r["ok"] == (d % 11 != 0 and d % 7 != 0)
        assert (r["err"] is None) == r["ok"]
        if d % 11 == 0:
            assert r["err"] == "unknown_format"
    # the strict tier stays strict: truncated payloads must still raise
    import pytest as _pytest

    poisoned = synth_mixed_assets(
        spark.createDataFrame([(28,)], "doc_id long")  # 28%7==0, 28%5==3 -> truncated WAV
    )
    from fdf_spark.llm.multimodal import extract_features

    with _pytest.raises(Exception):
        extract_features(poisoned, codec="wav").collect()


def test_voice_segments_islands(spark):
    """Island merging on an ARBITRARY voiced/silent pattern (not the
    fixture law): segments computed by the operator equal a pure-
    python reference run over the same synthesized WAV — including
    voiced-at-start, voiced-at-end, single-window islands, and an
    all-silent asset that contributes no rows; a trailing partial
    window is dropped."""
    import numpy as np

    from fdf_spark.llm.multimodal import encode_wav, voice_segments

    win = 8
    patterns = {
        1: [1, 0, 1, 1, 0, 1],   # single-window islands + edges
        2: [0, 0, 0],            # all silent -> no rows
        3: [1, 1, 1],            # one full-span segment
    }
    rows = []
    for aid, pat in patterns.items():
        samples = []
        for v in pat:
            samples += [200 if v else 0] * win
        samples += [200] * 3  # trailing partial window: dropped
        rows.append((aid, "audio", bytearray(encode_wav(8000, samples))))
    assets = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary"
    )
    got = {
        (r["asset_id"], r["seg_idx"]): (r["win_start"], r["win_end"], r["n_windows"])
        for r in voice_segments(assets, win=win, threshold=50.0).collect()
    }

    def ref(pat):
        segs, start = [], None
        for i, v in enumerate(pat + [0]):
            if v and start is None:
                start = i
            elif not v and start is not None:
                segs.append((start, i - 1, i - start))
                start = None
        return segs

    want = {
        (aid, si + 1): seg
        for aid, pat in patterns.items()
        for si, seg in enumerate(ref(pat))
    }
    assert got == want
    assert not any(aid == 2 for aid, _ in got)


def test_image_dhash_invariances(spark):
    """What makes dHash a PERCEPTUAL key: (a) re-encoding the same
    pixels with a different PNG filter type changes nothing, (b) an
    integer 2x upscale changes nothing (floor(floor(2ih/7)/2) ==
    floor(ih/7) — nested-floor identity, so the 9x7 resample lands on
    identical source pixels), (c) a genuinely different image hashes
    differently, (d) non-image rows are excluded."""
    import numpy as np

    from fdf_spark.llm.imagecodecs import encode_png
    from fdf_spark.llm.multimodal import image_dhash

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (10, 14, 3)).astype(np.uint8)
    up = img.repeat(2, axis=0).repeat(2, axis=1)
    other = rng.randint(0, 256, (10, 14, 3)).astype(np.uint8)
    gray = rng.randint(0, 256, (10, 14)).astype(np.uint8)  # color type 0
    gray_rgb = np.repeat(gray[:, :, None], 3, axis=2)  # same image, RGB-coded
    rows = [
        (1, "image", bytearray(encode_png(img, filter_type=0))),
        (2, "image", bytearray(encode_png(img, filter_type=3))),
        (3, "image", bytearray(encode_png(up, filter_type=1))),
        (4, "image", bytearray(encode_png(other, filter_type=0))),
        (5, "audio", bytearray(b"not an image")),
        (6, "image", bytearray(encode_png(gray))),
        (7, "image", bytearray(encode_png(gray_rgb))),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary"
    )
    got = {r["asset_id"]: r["dhash"] for r in image_dhash(assets).collect()}
    assert set(got) == {1, 2, 3, 4, 6, 7}
    assert got[1] == got[2] == got[3]
    assert got[4] != got[1]
    # gray PNG and its RGB recode collapse: 299+587+114 = 1000, so the
    # integer luma of (g,g,g) is exactly g
    assert got[6] == got[7]
    assert all(0 <= h < (1 << 56) for h in got.values())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="62 bits"):
        image_dhash(assets, width=9, height=9)


def test_hamming_near_dups_exact(spark):
    """The pigeonhole exactness claim on ARBITRARY fingerprints: for
    random 56-bit hashes, band-LSH + bit_count refinement returns
    EXACTLY the brute-force all-pairs relation at max_dist < bands —
    including planted near pairs (1-2 bit flips) and excluding far
    ones; invalid parameters are rejected."""
    import numpy as np
    import pytest as _pytest

    from fdf_spark.llm.dedup import hamming_near_dups

    rng = np.random.RandomState(3)
    base = [int(x) for x in rng.randint(0, 1 << 56, 40, dtype=np.uint64)]
    hashes = list(base)
    hashes += [h ^ (1 << int(rng.randint(56))) for h in base[:10]]          # dist 1
    hashes += [h ^ (1 << 3) ^ (1 << 44) for h in base[10:20]]               # dist 2
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hashes)], "doc_id long, dhash long"
    )
    got = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in hamming_near_dups(df, "dhash", max_dist=4, bands=7).collect()
    }
    want = {}
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            d = bin(hashes[i] ^ hashes[j]).count("1")
            if d <= 4:
                want[(i, j)] = d
    assert got == want
    assert len(want) >= 20  # the planted near pairs are all in there
    with _pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_dups(df, "dhash", max_dist=7, bands=7)
    # bands past bit 63 would alias band 0 (JVM shift counts are mod
    # 64) — rejected rather than silently losing recall
    with _pytest.raises(ValueError, match="<= 64"):
        hamming_near_dups(df, "dhash", max_dist=8, bands=9, band_bits=8)


def test_gif_extract_features_distributed(spark):
    import numpy as np

    from fdf_spark.llm.multimodal import extract_features, synth_gif_assets

    docs = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    feats = {
        int(r.asset_id): r.feat
        for r in extract_features(synth_gif_assets(docs), codec="gif").collect()
    }
    for d in range(10):
        w, h = 3 + d % 8, 2 + d % 6
        yy, xx = np.mgrid[0:h, 0:w]
        idx = (d + 5 * xx + 9 * yy) % 256
        expect = [
            float(w), float(h), 3.0,
            idx.sum() / (w * h),
            ((3 * idx) % 256).sum() / (w * h),
            ((7 * idx) % 256).sum() / (w * h),
        ]
        assert feats[d] == expect, d


# --- real IMA-ADPCM compressed audio (llm/audiocodecs.py, N6) ----------------


def test_adpcm_constant_exact_multiblock():
    from fdf_spark.llm.audiocodecs import decode_adpcm_samples, encode_adpcm_wav

    for a in (-500, -1, 0, 3, 499):
        for n in (5, 9, 40, 64):
            sr, vals = decode_adpcm_samples(
                encode_adpcm_wav(8000, [a] * n, samples_per_block=9)
            )
            assert sr == 8000 and vals == [a] * n, (a, n)


def test_adpcm_lossy_reconstruction_bounds():
    import math

    import numpy as np

    from fdf_spark.llm.audiocodecs import decode_adpcm_samples, encode_adpcm_wav

    t = np.arange(2000)
    sig = (8000 * np.sin(2 * np.pi * t / 50)).astype(int).tolist()
    enc = encode_adpcm_wav(16000, sig)
    sr, vals = decode_adpcm_samples(enc)
    assert sr == 16000 and len(vals) == len(sig)
    rms = math.sqrt(sum((a - b) ** 2 for a, b in zip(sig, vals)) / len(sig))
    assert rms <= 400, rms  # ~30 dB SNR, authentic IMA ADPCM quality
    # steady state (past the attack transient) tracks closely
    tail = max(abs(a - b) for a, b in zip(sig[100:], vals[100:]))
    assert tail <= 1500, tail
    # ~4:1 compression vs 16-bit PCM
    assert len(enc) < 2 * len(sig) * 0.3


def test_adpcm_rejects_malformed():
    from fdf_spark.llm.audiocodecs import decode_adpcm_samples, encode_adpcm_wav
    from fdf_spark.llm.multimodal import encode_wav

    try:
        decode_adpcm_samples(b"RIFFxxxxNOPE")
        raise AssertionError("bad RIFF form must be rejected")
    except ValueError:
        pass
    # plain PCM WAV (tag 0x0001) must be rejected, not mis-decoded
    try:
        decode_adpcm_samples(encode_wav(8000, [1, 2, 3]))
        raise AssertionError("PCM must be rejected by the ADPCM decoder")
    except ValueError as e:
        assert "IMA ADPCM" in str(e) or "fact" in str(e)


def test_adpcm_extract_features_distributed(spark):
    from fdf_spark.llm.multimodal import extract_features, synth_adpcm_assets

    docs = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    feats = {
        int(r.asset_id): r.feat
        for r in extract_features(synth_adpcm_assets(docs), codec="adpcm").collect()
    }
    for d in range(8):
        a = d % 1001 - 500
        assert feats[d] == [
            float(8000 + 1000 * (d % 4)), 1.0, float(40 + d % 25),
            float(a), float(abs(a)), float(a * a),
        ], d


# --- Bloom filter (llm/sketches.py, N5 membership tier) ----------------------


def test_bloom_no_false_negatives_and_fp_rate(spark):
    import math

    from fdf_spark.llm.sketches import bloom_build, bloom_might_contain

    m, k, n = 8192, 5, 500
    keys = spark.range(0, n).select(F.concat(F.lit("key-"), F.col("id")).alias("key"))
    bloom = bloom_build(keys, m_bits=m, k=k)
    # every built key MUST return true — the guarantee join pruning needs
    built = bloom_might_contain(bloom, keys, m_bits=m, k=k)
    assert built.filter(~F.col("might_contain")).count() == 0
    # absent keys: observed fp rate within 3x of theory
    absent = spark.range(0, 2000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("key")
    )
    fp = (
        bloom_might_contain(bloom, absent, m_bits=m, k=k)
        .filter(F.col("might_contain"))
        .count()
    )
    theory = (1 - math.exp(-k * n / m)) ** k
    assert fp / 2000 <= 3 * theory + 0.01, (fp, theory)


def test_bloom_merge_equals_union_build(spark):
    from fdf_spark.llm.sketches import bloom_build, bloom_merge

    a = spark.range(0, 300).select(F.concat(F.lit("a-"), F.col("id")).alias("key"))
    b = spark.range(0, 300).select(F.concat(F.lit("b-"), F.col("id")).alias("key"))
    merged = bloom_merge(bloom_build(a), bloom_build(b))
    whole = bloom_build(a.unionByName(b))
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_bloom_prefilter_is_mapside_and_lossless(spark):
    from fdf_spark.llm.sketches import bloom_build, bloom_collect, bloom_prefilter

    m, k = 8192, 5
    small = spark.range(0, 200).select((F.col("id") * 7).cast("string").alias("key"))
    words = bloom_collect(bloom_build(small, m_bits=m, k=k), m_bits=m)
    big = spark.range(0, 20000).select(F.col("id").cast("string").alias("key"))
    pruned = bloom_prefilter(big, words, "key", m_bits=m, k=k)
    kept = {r.key for r in pruned.collect()}
    true_keys = {str(i * 7) for i in range(200)}
    assert true_keys <= kept            # no false negatives — lossless pruning
    assert len(kept) < 20000 * 0.2      # and it actually prunes hard
    # pure map-side: no exchange in the prefilter plan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# --- real FLAC lossless audio (llm/flac.py, N6) ------------------------------


def test_flac_lossless_roundtrip_shapes():
    import numpy as np

    from fdf_spark.llm.flac import decode_flac_samples, encode_flac

    rng = np.random.RandomState(9)
    for n in (1, 5, 100, 1000, 5000):
        sig = rng.randint(-32768, 32768, n).tolist()
        sr, vals = decode_flac_samples(encode_flac(12345, sig, block_size=512))
        assert sr == 12345 and vals == sig, n
    t = np.arange(20000)
    smooth = (8000 * np.sin(2 * np.pi * t / 400)).astype(int).tolist()
    enc = encode_flac(44100, smooth)
    assert decode_flac_samples(enc)[1] == smooth
    # fixed predictors + rice actually compress smooth audio
    assert len(enc) < 2 * len(smooth) * 0.3, len(enc)


def test_flac_integrity_layers_catch_corruption():
    import numpy as np

    from fdf_spark.llm.flac import decode_flac_samples, encode_flac

    t = np.arange(1000)
    sig = (8000 * np.sin(2 * np.pi * t / 400)).astype(int).tolist()
    enc = encode_flac(8000, sig)
    for frac in (0.2, 0.4, 0.5, 0.7, 0.9):
        bad = bytearray(enc)
        bad[int(len(bad) * frac)] ^= 0xFF
        try:
            decode_flac_samples(bytes(bad))
            raise AssertionError(f"corruption at {frac} not caught")
        except ValueError:
            pass  # CRC-8 / CRC-16 / MD5 / structural check fired


def test_flac_extract_features_distributed(spark):
    from fdf_spark.llm.multimodal import extract_features, synth_flac_assets

    docs = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    feats = {
        int(r.asset_id): r.feat
        for r in extract_features(synth_flac_assets(docs), codec="flac").collect()
    }
    for d in range(8):
        n = 300 + d % 50
        sig = [((d * 31 + 7 * i) % 2048) - 1024 for i in range(n)]
        expect = [
            float(8000 + 1000 * (d % 4)), 1.0, float(n),
            sum(sig) / n, float(max(abs(v) for v in sig)),
            sum(v * v for v in sig) / n,
        ]
        assert feats[d] == expect, d


def test_flac_many_frames_utf8_numbers():
    # frame numbers >= 2048 exercise the multi-byte UTF-8 coding (the
    # r6 review found a boundary bug that corrupted streams past 2048
    # frames); 3000 frames of 16 samples roundtrip losslessly
    from fdf_spark.llm.flac import decode_flac_samples, encode_flac

    sig = [((i * 37) % 509) - 254 for i in range(3000 * 16)]
    sr, vals = decode_flac_samples(encode_flac(8000, sig, block_size=16))
    assert vals == sig


def test_tokenbin_rejects_out_of_range_ids(spark, tmp_path):
    from fdf_spark.llm.tokenbin import write_token_bin_shards

    bad = spark.createDataFrame(
        [(0, 1, [1, -1, 2])], "shard int, doc_id long, ids array<long>"
    )
    try:
        write_token_bin_shards(bad, str(tmp_path / "t")).collect()
        raise AssertionError("negative token id must be rejected")
    except Exception as e:
        assert "outside uint32" in str(e)


def test_gif_truncation_raises_valueerror():
    import numpy as np

    from fdf_spark.llm.imagecodecs import decode_gif_pixels, encode_gif

    enc = encode_gif(np.arange(64, dtype=np.uint8).reshape(8, 8))
    for cut in (len(enc) - 3, len(enc) - 10, len(enc) // 2):
        try:
            decode_gif_pixels(enc[:cut])
            raise AssertionError(f"truncation at {cut} not rejected")
        except ValueError:
            pass


def test_hll_accuracy_and_merge_law(spark):
    from fdf_spark.llm.sketches import hll_estimate, hll_merge, hll_sketch

    for n in (100, 5000, 100_000):
        df = spark.range(0, n).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
        est = hll_estimate(hll_sketch(df, "k")).collect()[0][0]
        assert abs(est - n) / n < 0.05, (n, est)  # well inside 3 sigma at p=12
    # mergeability: per-half sketches merged == whole-stream sketch,
    # so the merged ESTIMATE equals the whole-stream estimate exactly
    whole = spark.range(0, 50_000).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    a = hll_sketch(whole.filter(F.col("id") % 2 == 0), "k")
    b = hll_sketch(whole.filter(F.col("id") % 2 == 1), "k")
    merged = hll_estimate(hll_merge(a, b)).collect()[0][0]
    direct = hll_estimate(hll_sketch(whole, "k")).collect()[0][0]
    assert merged == direct
    # duplicates are invisible to cardinality: 10x-duplicated stream,
    # identical sketch
    dup = whole.unionByName(whole).unionByName(whole)
    assert hll_estimate(hll_sketch(dup, "k")).collect()[0][0] == direct


def _mpeg1_frame(alloc_map: dict[int, int], sfi_map: dict[int, int],
                 code_map: dict[int, list[int]], bitrate: int = 256):
    from fdf_spark.llm.mpegaudio import encode_mpeg1_layer1

    alloc = [0] * 32
    sfi = [0] * 32
    codes = [[0] * 12 for _ in range(32)]
    for sb, nb in alloc_map.items():
        alloc[sb] = nb
        sfi[sb] = sfi_map[sb]
        codes[sb] = code_map[sb]
    return encode_mpeg1_layer1(alloc, sfi, codes, sample_rate=32000, bitrate_kbps=bitrate)


def test_mpeg1_layer1_roundtrip_parse_and_dequant():
    from fdf_spark.llm.mpegaudio import decode_mpeg1_layer1, dequantize, scalefactor

    # non-contiguous subbands, varied widths, varied per-sample codes
    alloc = {0: 2, 5: 7, 17: 4, 31: 15}
    sfi = {0: 0, 5: 21, 17: 40, 31: 62}
    codes = {
        0: [s % 4 for s in range(12)],
        5: [(s * 11) % 128 for s in range(12)],
        17: [(s * 5 + 3) % 16 for s in range(12)],
        31: [(s * 2731) % 32768 for s in range(12)],
    }
    d = decode_mpeg1_layer1(_mpeg1_frame(alloc, sfi, codes))
    assert d["sample_rate"] == 32000 and d["bitrate_kbps"] == 256
    assert {sb: a for sb, a in enumerate(d["alloc"]) if a} == alloc
    assert d["sf_idx"] == sfi
    assert d["codes"] == codes
    for sb in alloc:
        want = [dequantize(c, alloc[sb], scalefactor(sfi[sb])) for c in codes[sb]]
        assert d["subband"][sb] == want
        nb = alloc[sb]  # requantized range: |s''| <= 2^nb/(2^nb - 1)
        for s in d["subband"][sb]:
            assert abs(s) <= scalefactor(sfi[sb]) * ((1 << nb) / ((1 << nb) - 1)) * (1 + 1e-9)
    # dequant extremes: code 0 is most-negative, max code near +full scale
    assert dequantize(0, 4, 1.0) < 0 < dequantize(15, 4, 1.0)
    assert abs(dequantize(0, 4, 1.0)) > abs(dequantize(8, 4, 1.0))


def test_mpeg1_layer1_protected_frame_crc_slot():
    # protection_bit = 0 means a 16-bit CRC rides between header and
    # side info; the parser must skip it and land on the same fields
    from fdf_spark.llm.mpegaudio import decode_mpeg1_layer1

    alloc, sfi = {3: 5}, {3: 12}
    codes = {3: [(s * 7) % 32 for s in range(12)]}
    plain = _mpeg1_frame(alloc, sfi, codes)
    h = int.from_bytes(plain[:4], "big") & ~(1 << 16)  # set protected
    prot = h.to_bytes(4, "big") + b"\xbe\xef" + plain[4:-2]  # CRC slot in, pad out
    d = decode_mpeg1_layer1(prot)
    assert d["sf_idx"] == sfi and d["codes"] == codes


def test_mpeg1_layer1_rejects_malformed():
    from fdf_spark.llm.mpegaudio import decode_mpeg1_layer1, encode_mpeg1_layer1

    good = _mpeg1_frame({0: 3}, {0: 6}, {0: [1] * 12})

    def rejects(payload, why):
        try:
            decode_mpeg1_layer1(payload)
            raise AssertionError(f"not rejected: {why}")
        except ValueError:
            pass

    rejects(b"", "empty")
    rejects(good[: len(good) // 2], "truncated frame")
    bad_sync = b"\x00" + good[1:]
    rejects(bad_sync, "bad syncword")
    h = int.from_bytes(good[:4], "big")
    rejects(((h & ~(0b11 << 17)) | (0b01 << 17)).to_bytes(4, "big") + good[4:], "layer III code")
    rejects((h & ~(0xF << 12)).to_bytes(4, "big") + good[4:], "free-format bitrate")
    rejects((h | (0b11 << 10)).to_bytes(4, "big") + good[4:], "reserved fs index")
    rejects((h & ~(0b11 << 6)).to_bytes(4, "big") + good[4:], "stereo mode (profile)")
    forbidden_alloc = bytearray(good)
    forbidden_alloc[4] |= 0xF0  # subband 0 allocation code 15
    rejects(bytes(forbidden_alloc), "allocation code 15")
    forbidden_scf = bytearray(good)
    forbidden_scf[20] |= 0xFC  # subband 0 scalefactor index 63
    rejects(bytes(forbidden_scf), "scalefactor 63")
    # encoder-side contract errors
    for kwargs, why in [
        (dict(alloc_bits=[1] + [0] * 31, sf_indices=[0] * 32,
              codes=[[0] * 12] * 32), "1-bit allocation"),
        (dict(alloc_bits=[2] + [0] * 31, sf_indices=[63] + [0] * 31,
              codes=[[0] * 12] * 32), "scalefactor 63"),
        (dict(alloc_bits=[2] + [0] * 31, sf_indices=[0] * 32,
              codes=[[4] * 12] + [[0] * 12] * 31), "code exceeds width"),
    ]:
        try:
            encode_mpeg1_layer1(**kwargs)
            raise AssertionError(f"encoder accepted {why}")
        except ValueError:
            pass


def test_quantile_sketch_merge_law_and_rank_error(spark):
    from fdf_spark.llm.sketches import (
        quantile_estimate,
        quantile_merge,
        quantile_sketch,
    )

    n = 100_000
    df = spark.range(0, n).select(
        F.col("id").alias("rid"),
        ((F.col("id") * F.col("id")) % 9973).cast("double").alias("x"),
    )
    sk = quantile_sketch(df, "x", "rid")
    assert sk.count() == 1024  # bounded at k regardless of n
    # merge law is EXACT (stronger than KLL's within-eps): per-half
    # sketches merged == whole-stream sketch as relations
    a = quantile_sketch(df.filter(F.col("rid") % 2 == 0), "x", "rid")
    b = quantile_sketch(df.filter(F.col("rid") % 2 == 1), "x", "rid")
    merged = quantile_merge(a, b)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, sk.collect()))
    # three-way split merges identically too (associativity over shards)
    parts = [
        quantile_sketch(df.filter(F.col("rid") % 3 == i), "x", "rid")
        for i in range(3)
    ]
    assert sorted(map(tuple, quantile_merge(*parts).collect())) == sorted(
        map(tuple, sk.collect())
    )
    # rank error: estimated quantile's true rank within ~4 sigma of q
    # (sigma = sqrt(q(1-q)/k) <= 0.016 at k=1024); fixture is fixed so
    # this is deterministic, the margin is just honest slack
    xs = sorted(r.x for r in df.select("x").collect())
    import bisect

    for row in quantile_estimate(sk, [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]).collect():
        true_rank = bisect.bisect_right(xs, row.est)
        assert abs(true_rank / n - row.q) < 0.065, (row.q, row.est, true_rank / n)


def test_grouped_sketches_match_per_group_globals(spark):
    """The grouped tier is POINTWISE the global tier: for every key,
    the per-key sketch/merge/estimate equals the global sketch of that
    key's sub-frame — so every global contract (determinism, exact
    merge, NULL discipline, estimate law) transfers per group."""
    from fdf_spark.llm.sketches import (
        hll_estimate,
        hll_estimate_by,
        hll_merge_by,
        hll_sketch,
        hll_sketch_by,
        quantile_estimate,
        quantile_estimate_by,
        quantile_merge_by,
        quantile_sketch,
        quantile_sketch_by,
    )

    df = spark.range(0, 30_000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("rid"),
        ((F.col("id") * 17) % 4999).cast("double").alias("x"),
        F.concat(F.lit("k"), (F.col("id") % 1777).cast("string")).alias("k"),
    )
    # quantiles: grouped build-from-halves+merge vs per-group global
    halves = [
        quantile_sketch_by(df.filter(F.col("rid") % 2 == i), ["g"], "x", "rid", k=128)
        for i in (0, 1)
    ]
    merged = quantile_merge_by(*halves, keys=["g"], k=128)
    est_by = {
        (r.g, r.q): r.est
        for r in quantile_estimate_by(merged, ["g"], [0.25, 0.9]).collect()
    }
    for g in ("0", "1", "2"):
        sub = df.filter(F.col("g") == g)
        sk = quantile_sketch(sub, "x", "rid", k=128)
        assert sorted(map(tuple, merged.filter(F.col("g") == g).select("h", "v").collect())) \
            == sorted(map(tuple, sk.collect())), g
        for r in quantile_estimate(sk, [0.25, 0.9]).collect():
            assert est_by[(g, r.q)] == r.est, (g, r.q)
    # HLL: grouped merge of halves vs per-group global estimate
    hhalves = [
        hll_sketch_by(df.filter(F.col("rid") % 2 == i), ["g"], "k") for i in (0, 1)
    ]
    hmerged = hll_merge_by(*hhalves, keys=["g"])
    hest = {r.g: r.estimate for r in hll_estimate_by(hmerged, ["g"]).collect()}
    for g in ("0", "1", "2"):
        sub = df.filter(F.col("g") == g)
        assert hest[g] == hll_estimate(hll_sketch(sub, "k")).collect()[0][0], g


def test_quantile_sketch_null_discipline(spark):
    # NULL values are ignored (SQL aggregate semantics) and NULL ids
    # excluded with them — engines disagree on NULL sort order, so a
    # NULL hash entering the bottom-k would silently diverge from any
    # SQL replay (Spark NULLS FIRST vs DuckDB NULLS LAST)
    from fdf_spark.llm.sketches import quantile_sketch

    clean = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], schema="rid int, x double"
    )
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(None, 1.0), (None, 2.0), (999, None), (998, None)],
            schema="rid int, x double",
        )
    )
    want = sorted(map(tuple, quantile_sketch(clean, "x", "rid").collect()))
    got = sorted(map(tuple, quantile_sketch(dirty, "x", "rid").collect()))
    assert got == want and len(got) == 50


def test_quantile_sketch_small_input_and_duplicates(spark):
    from fdf_spark.llm.sketches import quantile_estimate, quantile_sketch

    # n < k: the sample IS the data, so estimates are EXACT order stats
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([5, 1, 4, 1, 3, 1, 2, 1])],
        schema="rid int, x double",
    )
    sk = quantile_sketch(df, "x", "rid")
    assert sk.count() == 8
    got = {r.q: r.est for r in quantile_estimate(sk, [0.5, 1.0]).collect()}
    # sorted values: 1,1,1,1,2,3,4,5 -> ceil(.5*8)=4th is 1.0; 8th is 5.0
    assert got == {0.5: 1.0, 1.0: 5.0}


def test_hll_rank_is_exact_integer_shift(spark):
    # the top 60-p bits must come from an EXACT shift: double division
    # rounds h for values >= 2^53 and can push w across a power-of-two
    # boundary, silently changing the rank vs the oracle's h // 2^p
    import hashlib

    from fdf_spark.llm.sketches import DEFAULT_HLL_P, hll_sketch

    keys = [f"k{i}" for i in range(4000)]
    df = spark.createDataFrame([(k,) for k in keys], schema="k string")
    got = {
        (r.register, r.maxrank)
        for r in hll_sketch(df, "k").collect()
    }
    # python exact replay (same md5-60 hash, exact // arithmetic)
    p, m, width = DEFAULT_HLL_P, 1 << DEFAULT_HLL_P, 60 - DEFAULT_HLL_P
    regs: dict[int, int] = {}
    for k in keys:
        h = int(hashlib.md5(k.encode()).hexdigest()[:15], 16)
        w = h >> p
        rank = width + 1 if w == 0 else width - w.bit_length() + 1
        reg = h % m
        regs[reg] = max(regs.get(reg, 0), rank)
    assert got == set(regs.items())


# --- native-codec seam contract (register_codec) ---------------------------

def _fake_native_decode(payload: bytes) -> list[float]:
    """Stands in for an ffmpeg binding: XMED magic + u32 header + bytes.
    Raises on truncation — the quarantine path must catch it.

    NOTE for executor routing tests: use the nested copy inside the
    test — a function at test-module level pickles BY REFERENCE and
    workers can't import test modules; a real native binding lives in
    an importable package so reference pickling is fine there."""
    if payload[:4] != b"XMED" or len(payload) < 9:
        raise ValueError("not a complete XMED payload")
    header = int.from_bytes(payload[4:8], "little")
    return [float(len(payload)), float(header)] + [float(b) for b in payload[8:]]


def test_registered_native_codec_routes_through_seam(spark):
    """The documented ffmpeg-mounts-here claim as a contract: an external
    decoder registered at runtime routes through extract_features,
    sniff_format AND decode_audit's quarantine with NO engine change —
    including across the executor-process boundary (the operators must
    snapshot the registry by value; a module-global lookup would see
    the pristine module in the worker)."""
    from fdf_spark.llm.multimodal import (
        decode_audit,
        extract_features,
        register_codec,
        unregister_codec,
    )

    def fake_native_decode(payload: bytes) -> list[float]:
        # nested on purpose: cloudpickle serializes it BY VALUE, like a
        # binding from a package the workers can import would resolve
        if payload[:4] != b"XMED" or len(payload) < 9:
            raise ValueError("not a complete XMED payload")
        header = int.from_bytes(payload[4:8], "little")
        return [float(len(payload)), float(header)] + [float(b) for b in payload[8:]]

    good = b"XMED" + (305419896).to_bytes(4, "little") + bytes([7, 11, 13])
    bad = b"XMED" + b"\x01\x02"  # magic intact, body truncated
    assets = spark.createDataFrame(
        [(1, "video", bytearray(good)), (2, "video", bytearray(bad))],
        "asset_id long, media_type string, payload binary",
    )
    try:
        with pytest.raises(ValueError, match="unknown codec"):
            extract_features(assets, codec="xmed")
        register_codec("xmed", fake_native_decode, magic=b"XMED")

        # extract_features: strict tier decodes through the mounted codec
        feats = {
            r["asset_id"]: (r["header_u32"], list(r["feat"]))
            for r in extract_features(
                assets.filter(F.col("asset_id") == 1), codec="xmed"
            ).collect()
        }
        assert feats[1] == (305419896, [11.0, 305419896.0, 7.0, 11.0, 13.0])

        # decode_audit: the sniff classifies the registered magic and the
        # quarantine catches the native decoder's failure as a row
        audit = {r["asset_id"]: (r["fmt"], r["ok"], r["err"]) for r in decode_audit(assets).collect()}
        assert audit[1] == ("xmed", True, None)
        assert audit[2] == ("xmed", False, "ValueError")
    finally:
        unregister_codec("xmed")
    with pytest.raises(ValueError, match="unknown codec"):
        extract_features(assets, codec="xmed")


def test_register_codec_validation(spark):
    from fdf_spark.llm.multimodal import REAL_CODECS, register_codec

    with pytest.raises(TypeError, match="callable"):
        register_codec("bogus", "not-a-function")
    with pytest.raises(ValueError, match="reserved"):
        register_codec("fake", _fake_native_decode)
    with pytest.raises(ValueError, match="non-empty"):
        register_codec("xm2", _fake_native_decode, magic=b"")
    with pytest.raises(TypeError):  # str magic (no encoding) — natural mistake
        register_codec("xm3", _fake_native_decode, magic="XMED")
    # EVERY failed registration must leave the registry untouched — a
    # half-registered codec poisons every later codec plan's snapshot
    assert not {"bogus", "fake2", "xm2", "xm3"} & set(REAL_CODECS)


def test_learn_bpe_min_count_prunes_junk_tail_only(spark, docs):
    """min_count is the driver-memory bound for web-scale junk tails:
    (1) on a corpus where every surviving word clears the threshold,
    pruned training == unpruned training on the junk-free corpus
    (identical merge lists); (2) min_count=1 is bit-identical to the
    historical unpruned trainer (same code path, no filter)."""
    from fdf_spark.llm.tokenize import learn_bpe

    clean = docs.filter(F.col("doc_id") < 30).select("doc_id", "text")
    # plant a once-only junk tail: unique tokens that appear exactly once
    junk = spark.createDataFrame(
        [(1000 + i, f"zq{i}xj{i * 7}v") for i in range(40)], "doc_id long, text string"
    )
    noisy = clean.unionByName(junk)

    base = learn_bpe(clean, num_merges=25)
    assert learn_bpe(clean, num_merges=25, min_count=1) == base  # default ≡ today
    # every junk word occurs exactly once -> min_count=2 must erase the
    # tail's influence entirely... provided no clean word is also unique.
    # The clean fixture's words repeat across docs EXCEPT possibly a few;
    # equality of merge lists is required only vs the same-pruned clean run.
    assert learn_bpe(noisy, num_merges=25, min_count=2) == learn_bpe(
        clean, num_merges=25, min_count=2
    )


def test_hamming_wide_pigeonhole_exactness(spark):
    """Adversarial multi-word banding: a pair at EXACTLY max_dist with
    its differing bits spread to hit as many bands as possible (and
    across both words) must still be found; max_dist+1 must not."""
    from fdf_spark.llm.dedup import hamming_near_dups_wide

    base0, base1 = 0x0123456789ABCDE, 0x7EDCBA987654321
    # 12 bands of 10 bits over 2 words; max_dist=10 -> flip 10 bits in
    # 10 DIFFERENT bands (5 per word, bands 0-5 at bit offsets 0,10,..,50)
    flips0 = [1 << (10 * b) for b in range(5)]
    flips1 = [1 << (10 * b + 9) for b in range(5)]
    w0 = base0
    for f in flips0:
        w0 ^= f
    w1 = base1
    for f in flips1:
        w1 ^= f
    # 11-bit pair: one more flip
    w0_far = w0 ^ (1 << 55)
    rows = [
        (1, [base0, base1]),
        (2, [w0, base1 ^ sum(flips1)]),        # dist 10 from id 1
        (3, [w0_far, base1 ^ sum(flips1)]),    # dist 11 from id 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, fp array<bigint>")
    got = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in hamming_near_dups_wide(
            df, "fp", max_dist=10, n_words=2, bands_per_word=6, band_bits=10
        ).collect()
    }
    assert got[(1, 2)] == 10
    assert (1, 3) not in got
    assert got[(2, 3)] == 1

    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_dups_wide(df, "fp", max_dist=12, n_words=2, bands_per_word=6)
    with pytest.raises(ValueError, match="per int64 word"):
        hamming_near_dups_wide(df, "fp", max_dist=5, n_words=2, bands_per_word=7, band_bits=10)
    # width is enforced INSIDE the plan now (ADVICE r8) — a declared
    # n_words that disagrees with the column fails at execution, loudly
    with pytest.raises(Exception, match="caller declared"):
        hamming_near_dups_wide(
            df, "fp", max_dist=5, n_words=3, bands_per_word=6, band_bits=10
        ).collect()


def test_hamming_wide_matches_bruteforce_random(spark):
    """Property sweep: on seeded-random 3-word fingerprints the banded
    join must equal python brute force exactly."""
    import random

    from fdf_spark.llm.dedup import hamming_near_dups_wide

    rng = random.Random(7)
    base = [rng.getrandbits(63) for _ in range(3)]
    rows = []
    for i in range(40):
        fp = list(base)
        # flip 0..14 random bits so pairs straddle the threshold
        for _ in range(rng.randrange(15)):
            w = rng.randrange(3)
            fp[w] ^= 1 << rng.randrange(63)
        rows.append((i, fp))
    df = spark.createDataFrame(rows, "doc_id long, fp array<bigint>")
    got = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in hamming_near_dups_wide(
            df, "fp", max_dist=9, n_words=3, bands_per_word=4, band_bits=16
        ).collect()
    }
    want = {}
    for i in range(40):
        for j in range(i + 1, 40):
            d = sum(bin(a ^ b).count("1") for a, b in zip(rows[i][1], rows[j][1]))
            if d <= 9:
                want[(i, j)] = d
    assert got == want and want  # non-vacuous


def test_ivf_pq_recall_at_10_floor(spark):
    """IVF-PQ composition recall@10 with exact re-rank >= 0.9 on the
    clustered fixture — the floor the stress row measures at scale.

    The rerank pool is sized to PQ's RESOLUTION, not a magic number:
    with 16 codebook entries per subspace, all 60 same-cluster members
    quantize to identical codes, so ADC ties the whole cluster and any
    pool smaller than the tie group selects by id, not distance
    (measured: rerank=3 -> recall 0.48 == pool/cluster). rerank=6
    (pool 60 >= cluster size) covers the tie group and the exact
    re-score then lands the true neighbors — the FAISS-deployment rule
    that the refinement pool must exceed the ADC tie/error scale."""
    import numpy as np

    from fdf_spark.llm.similarity import ivf_pq_ann_topk

    rng = np.random.default_rng(13)
    dim, n_clusters, per = 64, 16, 60
    centers = rng.normal(size=(n_clusters, dim))
    rows = []
    for i in range(n_clusters * per):
        c = centers[i % n_clusters]
        v = c + rng.normal(scale=0.15, size=dim)
        v = v / np.linalg.norm(v)  # unit norm: L2 order == cosine order,
        # so recall measures IVF pruning + PQ/rerank quality, not the
        # (intended) L2-vs-cosine metric difference of the two tiers
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = (
        corpus.filter(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    k = 10
    exact = cosine_topk(queries, corpus, k=k).collect()
    ann = ivf_pq_ann_topk(
        queries, corpus, k=k, num_cells=16, nprobe=2, rerank=6, exact_decimal=False
    ).collect()
    exact_sets: dict[int, set] = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    ann_sets: dict[int, set] = {}
    for r in ann:
        ann_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact_sets[q] & ann_sets.get(q, set())) / k for q in exact_sets]
    mean_recall = sum(recalls) / len(recalls)
    print(f"IVF-PQ recall@10 = {mean_recall:.3f}")
    assert mean_recall >= 0.9, f"IVF-PQ recall@10 {mean_recall:.3f} ({recalls})"


def test_ivf_pq_residual_beats_raw_on_clustered(spark):
    """The by_residual claim as a measured, deterministic fact: on the
    degenerate-cluster fixture (tight clusters -> raw-vector PQ codes
    tie every same-cluster member) residual encoding ranks WITHIN
    clusters and beats raw encoding at EQUAL rerank budget. The whole
    pipeline is deterministic, so these recalls are exact numbers, not
    statistics."""
    import numpy as np

    from fdf_spark.llm.similarity import ivf_pq_ann_topk

    rng = np.random.default_rng(13)
    dim, n_clusters, per = 64, 16, 60
    centers = rng.normal(size=(n_clusters, dim))
    rows = []
    for i in range(n_clusters * per):
        v = centers[i % n_clusters] + rng.normal(scale=0.15, size=dim)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = (
        corpus.filter(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )
    k = 10
    ex: dict[int, set] = {}
    for r in cosine_topk(queries, corpus, k=k).collect():
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])

    def recall(**kw):
        an: dict[int, set] = {}
        for r in ivf_pq_ann_topk(
            queries, corpus, k=k, num_cells=16, nprobe=2, rerank=3,
            exact_decimal=False, **kw,
        ).collect():
            an.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(ex[q] & an.get(q, set())) / k for q in ex) / len(ex)

    raw, res = recall(), recall(by_residual=True)
    assert res >= raw + 0.15, (raw, res)  # measured: 0.48 vs 0.73
    assert res >= 0.65, res


def test_train_pq_codebooks_reduces_quantization_error(spark):
    """Lloyd training, unit-level: on vectors whose subspace structure
    is a 1-D line (anisotropic — the shape real embeddings have and
    isotropic noise doesn't), trained codebooks spread along the line
    and cut mean quantization error vs the row-sampled seeds. Also
    pins determinism: training twice gives bit-identical books
    (decimal accumulation is partition-order independent)."""
    import numpy as np

    from fdf_spark.llm.similarity import _pq_seed_books, train_pq_codebooks

    m, ks, dim = 4, 8, 32
    sub = dim // m
    rng = np.random.default_rng(5)
    dirs = rng.normal(size=(m, sub))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    rows = []
    for i in range(240):
        t = (i % 80) / 80.0 * 4.0 - 2.0  # line parameter in [-2, 2)
        v = np.concatenate([t * dirs[j] for j in range(m)])
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    initial = _pq_seed_books(df, "embedding", m, ks)
    trained = train_pq_codebooks(df, "embedding", initial, iters=3)

    x = np.array([r[1] for r in rows])

    def qerr(books):
        total = 0.0
        for j in range(m):
            xj = x[:, j * sub : (j + 1) * sub]
            cb = np.array(books[j])
            d = ((xj[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            total += d.min(axis=1).sum()
        return total

    e0, e1 = qerr(initial), qerr(trained)
    assert e1 < 0.7 * e0, (e0, e1)
    # determinism: bit-identical on retrain
    again = train_pq_codebooks(df, "embedding", initial, iters=3)
    assert again == trained


def test_semantic_decontaminate_keyed_by_corpus(spark):
    """Every corpus row gets a verdict: an EMPTY benchmark yields all
    corpus rows back with contaminated=false (ADVICE r8 — the cross
    join alone would return an empty relation, silently 'dropping'
    the entire corpus), and a non-empty benchmark still keys the
    output by the corpus."""
    from fdf_spark.llm.decontam import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    empty_bench = spark.createDataFrame([], "bench_id long, bench_vec array<double>")
    out = semantic_decontaminate(corpus, empty_bench, threshold=0.5)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3}
    assert all(not r["contaminated"] for r in rows.values())
    assert all(r["best_bench"] is None and r["max_cos"] is None for r in rows.values())

    bench = spark.createDataFrame([(10, [1.0, 0.0])], "bench_id long, bench_vec array<double>")
    out2 = {r["vec_id"]: r for r in semantic_decontaminate(corpus, bench, threshold=0.9).collect()}
    assert set(out2) == {1, 2, 3}
    assert out2[1]["contaminated"] and out2[1]["best_bench"] == 10
    assert not out2[2]["contaminated"]


def test_unregister_codec_refuses_builtin(spark):
    """sniff_format's hardcoded branches still classify built-in
    formats, so removing their decoder would turn every such asset
    into a KeyError quarantine row; the registry refuses (ADVICE r8)."""
    from fdf_spark.llm.multimodal import REAL_CODECS, register_codec, unregister_codec

    with pytest.raises(ValueError, match="built-in"):
        unregister_codec("png")
    assert "png" in REAL_CODECS
    # and the mirror: a built-in cannot be silently REPLACED either —
    # the original decoder would be unrecoverable
    with pytest.raises(ValueError, match="built-in"):
        register_codec("png", lambda b: [0.0])
    assert REAL_CODECS["png"].__name__ == "_decode_png"
    unregister_codec("never_registered_name")  # external no-op stays fine


def test_materialize_and_cleanup_row_cap(spark, tmp_path):
    """The eager audit path refuses to drag a big relation through the
    driver (ADVICE r8) — and still removes the scratch dir."""
    from fdf_spark.queries import MATERIALIZE_ROW_CAP, materialize_and_cleanup

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    big = spark.range(MATERIALIZE_ROW_CAP + 1)
    with pytest.raises(ValueError, match="materialize_and_cleanup collected"):
        materialize_and_cleanup(big, str(scratch))
    assert not scratch.exists()


def test_hamming_collapse_identical_fingerprint_group(spark):
    """Identical-fingerprint collapse (VERDICT r8): a planted k=50
    identical-fingerprint boilerplate group must (a) still produce the
    exact brute-force all-pairs relation, and (b) reach the band join
    as ONE distinct-fingerprint row — candidate rows ~|distinct fp|,
    not |docs|^2."""
    import itertools

    from fdf_spark.llm.dedup import hamming_near_dups, hamming_near_dups_wide

    k = 50
    rows = [(i, 0x0F0F0F0F0F0F0F) for i in range(k)]        # the boilerplate group
    rows += [(100, 0x0F0F0F0F0F0F0E), (101, 0x70F0F0F0F0F0F0F ^ 0)]  # a near pair + an outlier
    df = spark.createDataFrame(rows, "doc_id long, dhash long")
    got = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in hamming_near_dups(df, "dhash", max_dist=4, bands=7).collect()
    }
    # brute force over all ids
    fps = dict(rows)
    want = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 4
    }
    assert got == want
    assert len([p for p in got if p[0] < k and p[1] < k]) == k * (k - 1) // 2

    # (b) the band join sees ONE row for the group: distinct fingerprints = 3
    groups = df.groupBy("dhash").count()
    assert groups.count() == 3

    # wide variant: same collapse, same exactness on a planted group
    wrows = [(i, [0x0123456789ABCDE, 0x7EDCBA987654321]) for i in range(k)]
    wrows += [(100, [0x0123456789ABCDF, 0x7EDCBA987654321])]  # dist 1 to the group
    wdf = spark.createDataFrame(wrows, "doc_id long, fp array<bigint>")
    wgot = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in hamming_near_dups_wide(
            wdf, "fp", max_dist=10, n_words=2, bands_per_word=6, band_bits=10
        ).collect()
    }
    assert len(wgot) == k * (k - 1) // 2 + k  # group square + each member x outlier
    assert wgot[(0, 100)] == 1 and wgot[(0, 1)] == 0


def test_hamming_wide_mixed_width_fails_loudly(spark):
    """A mixed-width fingerprint column (one row short) must FAIL the
    job, not silently drop pairs via NULL bands (ADVICE r8)."""
    from fdf_spark.llm.dedup import hamming_near_dups_wide

    df = spark.createDataFrame(
        [(1, [7, 9]), (2, [7, 9]), (3, [7])], "doc_id long, fp array<bigint>"
    )
    with pytest.raises(Exception, match="caller declared"):
        hamming_near_dups_wide(
            df, "fp", max_dist=10, n_words=2, bands_per_word=6, band_bits=10
        ).collect()


def test_ivf_pq_persisted_probe_pruned(spark, tmp_path):
    """Build-once / probe-many (VERDICT r9 item 1): the persisted
    probe (a) runs in a DIFFERENT session from the build, (b) returns
    bit-identical rows to the inline composition, and (c) scans ONLY
    the probed cells' files — the plan pin is the explicit file list
    (read_version hands Spark exactly the manifest-pruned files)."""
    from fdf_spark.llm.similarity import (
        ivf_pq_ann_topk,
        ivf_pq_probe_index,
        read_ivf_pq_meta,
        write_ivf_pq_index,
    )
    from fdf_spark.sources.versioned import _read_manifest, list_versions

    emb = load_table(spark, SMOKE_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    d = str(tmp_path / "idx")
    v = write_ivf_pq_index(emb, d, num_cells=8, m=8, ks=8)
    assert v == 1
    meta = read_ivf_pq_meta(d)
    assert meta["params"]["num_cells"] == 8 and len(meta["books"]) == 8

    inline = ivf_pq_ann_topk(qs, emb, k=5, num_cells=8, ks=8).orderBy(
        "query_id", "rank"
    ).collect()
    # probe from a FRESH session state: centroids/codebooks come from
    # the manifest, never from anything cached in the building session
    s2 = spark.newSession()
    probe = ivf_pq_probe_index(s2, d, qs, k=5)
    assert probe.orderBy("query_id", "rank").collect() == inline

    # pruned scan: a 1-query nprobe=1 probe touches ONE cell, so the
    # explicit file list read_version hands Spark is a strict subset
    # of the manifest — and every scanned file holds only probed cells
    from fdf_spark.llm.similarity import _ivf_pq_probes

    m = _read_manifest(d, list_versions(d)[-1])
    one_q = qs.filter(F.col("query_id") == 0)
    narrow = ivf_pq_probe_index(s2, d, one_q, k=3, nprobe=1)
    cents = [(cid, vec) for cid, vec in meta["cents"]]
    probes = _ivf_pq_probes(one_q, cents, meta["books"], 1, False)
    cells = {r["cell"] for r in probes.select("cell").distinct().collect()}
    # inputFiles covers the whole plan (the query side scans the
    # embeddings table too) — the pin is about the INDEX files
    scanned = [
        f.replace("file://", "") for f in narrow.inputFiles()
        if f.replace("file://", "").startswith(d)
    ]
    assert 0 < len(scanned) < len(m["files"]), (len(scanned), len(m["files"]))
    for f in scanned:
        lo, hi = m["stats"][f]["cell"]
        assert any(lo <= c <= hi for c in cells), (f, lo, hi, cells)


def test_ivf_pq_add_incremental(spark, tmp_path):
    """FAISS-style add: new vectors assign to EXISTING cells and encode
    with EXISTING codebooks as an append commit; the probe then sees
    the union, and time travel still probes the pre-add snapshot."""
    from fdf_spark.llm.similarity import (
        _adc_score_topk,
        _assign,
        _ivf_pq_probes,
        ivf_pq_add,
        ivf_pq_probe_index,
        pq_encode,
        read_ivf_pq_meta,
        write_ivf_pq_index,
    )

    emb = load_table(spark, SMOKE_DIR, "embeddings")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    d = str(tmp_path / "idx")
    v1 = write_ivf_pq_index(half, d, num_cells=8, m=8, ks=8)
    before = ivf_pq_probe_index(spark, d, qs, k=5).orderBy("query_id", "rank").collect()
    v2 = ivf_pq_add(d, rest)
    # v1 data, v2 = the index's partition spec (set-spec), v3 = the add
    assert (v1, v2) == (1, 3)
    # model meta resolves through the metadata commit unchanged
    assert read_ivf_pq_meta(d, 1)["books"] == read_ivf_pq_meta(d, v2)["books"]
    # the spec cell-clustered the ADDED files too (no explicit
    # repartition in ivf_pq_add — the one clustering contract)
    from fdf_spark.sources.versioned import _read_manifest, partition_spec

    assert partition_spec(d)["cols"] == ["cell"]
    m3 = _read_manifest(d, 3)
    added = [f for f in m3["files"] if m3["file_specs"].get(f, 0) == 1]
    assert added and all(
        m3["stats"][f]["cell"][0] == m3["stats"][f]["cell"][1]
        or m3["stats"][f]["cell"][1] - m3["stats"][f]["cell"][0] <= 2
        for f in added
    )

    got = ivf_pq_probe_index(spark, d, qs, k=5).orderBy("query_id", "rank").collect()
    # reference: the SAME model (built on half) scoring codes over all
    meta = read_ivf_pq_meta(d)
    cents = [(cid, vec) for cid, vec in meta["cents"]]
    books = meta["books"]
    a_half = _assign(half, cents)
    a_rest = _assign(rest, cents)
    codes = None
    for part in (a_half, a_rest):
        _, c = pq_encode(part, 8, 8, "embedding", keep=("cell",), codebooks=books)
        c = c.select("vec_id", "cell", "code")
        codes = c if codes is None else codes.unionByName(c)
    probes = _ivf_pq_probes(qs, cents, books, 2, False)
    ref = _adc_score_topk(
        codes.join(F.broadcast(probes), "cell"), qs, emb, 5, 8, 0, True
    ).orderBy("query_id", "rank").collect()
    assert got == ref
    assert got != before  # the add actually changed the answer set
    # time travel: probing v1 reproduces the pre-add result exactly
    pinned = ivf_pq_probe_index(spark, d, qs, k=5, version=1)
    assert pinned.orderBy("query_id", "rank").collect() == before


def test_bpe_pruned_vocab_collect_bound(spark):
    """SCALE.md's BPE driver-bound, mechanized (VERDICT r8 #8): on a
    junk-tail corpus the relation learn_bpe collects holds at most
    corpus_tokens / min_count rows — the caller-controlled bound that
    keeps a 100 TB junk tail off the driver — while min_count=1 would
    collect the full distinct vocabulary."""
    from fdf_spark.llm.tokenize import _pruned_vocab

    # 20 common words repeated + a junk tail of 5000 singletons
    # (unicode-soup stand-ins): distinct vocab 5020, tokens 9000
    common = spark.range(0, 200).select(
        F.concat(F.lit("w"), (F.col("id") % 20).cast("string")).alias("text")
    )
    junk = spark.range(0, 5000).select(
        F.concat(F.lit("junk_"), F.sha2(F.col("id").cast("string"), 256)).alias("text")
    )
    corpus = common.unionByName(junk)
    from fdf_spark.llm.tokenize import _word_split

    total_tokens = corpus.select(
        F.explode(_word_split(F.col("text"))).alias("w")
    ).count()

    full = _pruned_vocab(corpus, "text", 1).count()
    assert full >= 5000  # min_count=1: the whole junk tail reaches the driver

    for mc in (2, 5, 10):
        n = _pruned_vocab(corpus, "text", mc).count()
        assert n <= total_tokens / mc, (mc, n, total_tokens)
    assert _pruned_vocab(corpus, "text", 2).count() < 50  # junk tail gone


def test_hamming_wide_null_fingerprint_is_not_a_width_violation(spark):
    """A NULL fingerprint (upstream decode failure) was always the
    'no candidates' case; the in-plan width guard must not kill the
    job over it — only genuinely mis-sized arrays fail."""
    from fdf_spark.llm.dedup import hamming_near_dups_wide

    df = spark.createDataFrame(
        [(1, [7, 9]), (2, [7, 9]), (3, None)], "doc_id long, fp array<bigint>"
    )
    got = {
        (r["a_id"], r["b_id"]): r["dist"]
        for r in hamming_near_dups_wide(
            df, "fp", max_dist=10, n_words=2, bands_per_word=6, band_bits=10
        ).collect()
    }
    assert got == {(1, 2): 0}


def test_lsh_candidates_identical_signature_collapse(spark):
    """MinHash banding gets the same boilerplate discipline as the
    hamming tiers: a planted k=40 exact-duplicate group (identical
    signatures) reaches the bucket join as ONE distinct-signature row,
    and the pair relation still equals document-granularity banding."""
    from fdf_spark.llm.dedup import lsh_candidate_pairs, minhash_signatures

    k = 40
    rows = [(i, "the same boilerplate page text repeated verbatim") for i in range(k)]
    rows += [(100 + i, f"distinct document number {i} about topic {i*7}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, num_hashes=16, n=3)
    got = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs, num_hashes=16, bands=4).collect()}
    # every pair inside the boilerplate group is a candidate
    group_pairs = {(a, b) for a in range(k) for b in range(a + 1, k)}
    assert group_pairs <= got
    # the distinct-signature relation the bucket join runs over is tiny
    full = sigs.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seed", "minhash"))), lambda s: s["minhash"]
        ).alias("sig")
    )
    assert full.select("sig").distinct().count() <= 6  # 1 group + 5 singles
    # and no pair crosses from the group to an unrelated document
    assert not {(a, b) for a, b in got - group_pairs if a < k and b >= 100 and b < 103}


def test_decontam_indexed_subset_of_exact(spark, tmp_path):
    """The indexed tier's flags are a SUBSET of the exact broadcast
    tier's (IVF recall semantics — it can only miss, never invent),
    and every flagged row carries the same max_cos the exact tier
    reports for it when the winning benchmark item probed that cell."""
    from fdf_spark.llm.decontam import semantic_decontaminate, semantic_decontaminate_indexed
    from fdf_spark.llm.similarity import write_ivf_index

    emb = load_table(spark, SMOKE_DIR, "embeddings")
    bench = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("bench_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 20)
    d = str(tmp_path / "ivf")
    write_ivf_index(corpus, d, num_cells=8)
    idx = {r["vec_id"]: r for r in semantic_decontaminate_indexed(
        spark, d, bench, threshold=0.3, nprobe=2).collect()}
    exact = {r["vec_id"]: r for r in semantic_decontaminate(
        corpus, bench, threshold=0.3).collect() if r["contaminated"]}
    assert idx, "fixture should produce some hits"
    assert set(idx) <= set(exact)
    for v, r in idx.items():
        assert r["max_cos"] <= exact[v]["max_cos"] + 1e-12
    # with nprobe = num_cells the probe set covers every cell -> exact
    full = {r["vec_id"]: (r["best_bench"], r["max_cos"]) for r in
            semantic_decontaminate_indexed(spark, d, bench, threshold=0.3, nprobe=8).collect()}
    assert full == {v: (r["best_bench"], r["max_cos"]) for v, r in exact.items()}


def test_incremental_near_dup_two_phase_equals_full(spark, tmp_path):
    """Continuous-ingest near-dup (N2): ingest-1 pairs ∪ ingest-2 pairs
    == the full-corpus relation, ingest-2 never re-reports (or
    recomputes) landed×landed pairs, and the fingerprint index grows
    one version per ingest."""
    from fdf_spark.llm.dedup import (
        hamming_near_dups_wide,
        incremental_near_dup,
        simhash128,
    )
    from fdf_spark.sources.versioned import list_versions

    docs = load_table(spark, SMOKE_DIR, "documents").filter(F.col("doc_id") < 30)
    variants = docs.select((F.col("doc_id") * 2).alias("vid"), "text").unionByName(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("vid"),
            F.concat(F.col("text"), F.lit(" zzsentinel")).alias("text"),
        )
    )
    first = variants.filter(F.col("vid") < 40)
    second = variants.filter(F.col("vid") >= 40)
    idx = str(tmp_path / "fpidx")

    kw = dict(id_col="vid", max_dist=10, bands_per_word=6, band_bits=10)
    p1 = {(r["a_id"], r["b_id"]): r["dist"]
          for r in incremental_near_dup(first, idx, **kw).collect()}
    p2 = {(r["a_id"], r["b_id"]): r["dist"]
          for r in incremental_near_dup(second, idx, **kw).collect()}
    assert list_versions(idx) == [1, 2]

    fps = simhash128(variants, id_col="vid").localCheckpoint()
    full = {(r["a_id"], r["b_id"]): r["dist"]
            for r in hamming_near_dups_wide(
                fps, "simhash", id_col="vid", max_dist=10,
                n_words=2, bands_per_word=6, band_bits=10).collect()}
    assert p1 and p2
    # ingest-2 pairs all touch the second batch; none repeat ingest-1's
    assert all(a >= 40 or b >= 40 for a, b in p2)
    assert not (set(p1) & set(p2))
    merged = {**p1, **p2}
    assert merged == full


def test_lsh_partial_band_not_dropped(spark):
    """bands not dividing num_hashes: the trailing seeds form a PARTIAL
    band (seed // rows_per_band bucketing), never silently vanish — two
    docs agreeing only on the tail minhash must stay candidates."""
    from fdf_spark.llm.dedup import lsh_candidate_pairs

    rows = []
    for doc in (1, 2):
        for seed in range(16):
            # agree ONLY on seed 15 (the partial band when bands=5)
            rows.append((doc, seed, 999 if seed == 15 else doc * 100 + seed))
    sigs = spark.createDataFrame(rows, "doc_id long, seed int, minhash long")
    got = {(r["id_a"], r["id_b"]) for r in
           lsh_candidate_pairs(sigs, num_hashes=16, bands=5).collect()}
    assert (1, 2) in got
    # and full-band agreement still pairs under the divisible setting
    got4 = {(r["id_a"], r["id_b"]) for r in
            lsh_candidate_pairs(sigs, num_hashes=16, bands=4).collect()}
    assert (1, 2) not in got4  # no FULL 4-hash band agrees


def test_lsh_incomplete_signature_fails_loudly(spark):
    """Positional banding assumes the complete contiguous seed set —
    a signature missing a middle seed (or carrying extras) must kill
    the job in-plan, not silently band the wrong minhashes and lose
    candidates (ADVICE r9)."""
    from fdf_spark.llm.dedup import lsh_candidate_pairs

    rows = [
        (doc, seed, 999)
        for doc in (1, 2)
        for seed in range(16)
        if not (doc == 2 and seed == 5)  # doc 2 lacks seed 5
    ]
    sigs = spark.createDataFrame(rows, "doc_id long, seed int, minhash long")
    with pytest.raises(Exception, match="lsh_candidate_pairs"):
        lsh_candidate_pairs(sigs, num_hashes=16, bands=4).collect()
    # extra seeds beyond num_hashes are just as silent a mis-slice
    full = [(d, s, 999) for d in (1, 2) for s in range(17)]
    sigs17 = spark.createDataFrame(full, "doc_id long, seed int, minhash long")
    with pytest.raises(Exception, match="lsh_candidate_pairs"):
        lsh_candidate_pairs(sigs17, num_hashes=16, bands=4).collect()


def test_incremental_near_dup_replay_guard(spark, tmp_path):
    """A replayed batch (same ingest_id) raises BEFORE landing its
    fingerprints again — at-least-once callers get a loud signal
    instead of duplicate index rows (ADVICE r9)."""
    from fdf_spark.llm.dedup import DuplicateIngestError, incremental_near_dup
    from fdf_spark.sources.versioned import list_versions, read_version

    docs = load_table(spark, SMOKE_DIR, "documents").filter(F.col("doc_id") < 10)
    idx = str(tmp_path / "fpidx")
    incremental_near_dup(docs, idx, ingest_id="batch-1").collect()
    assert list_versions(idx) == [1]
    with pytest.raises(DuplicateIngestError, match="batch-1"):
        incremental_near_dup(docs, idx, ingest_id="batch-1")
    assert list_versions(idx) == [1]  # nothing re-landed
    n1 = read_version(spark, idx).count()
    incremental_near_dup(
        docs.select((F.col("doc_id") + 100).alias("doc_id"), "text"),
        idx, ingest_id="batch-2",
    ).collect()
    assert list_versions(idx) == [1, 2]
    assert read_version(spark, idx).count() == 2 * n1


def test_ivf_pq_meta_guards(spark, tmp_path):
    """Walk-back crosses metadata-only commits ONLY: a repurposing data
    commit (no ivf_pq meta) fails loudly instead of probing stale model
    state against unrelated rows; unknown versions raise."""
    from fdf_spark.llm.similarity import read_ivf_pq_meta, write_ivf_pq_index
    from fdf_spark.sources.versioned import (
        commit_version,
        rename_column,
        set_partition_spec,
    )

    emb = load_table(spark, SMOKE_DIR, "embeddings")
    d = str(tmp_path / "idx")
    write_ivf_pq_index(emb, d, num_cells=8, m=8, ks=8)
    rename_column(d, "code", "pq_code")                # metadata-only: fine
    assert read_ivf_pq_meta(d)["params"]["num_cells"] == 8
    with pytest.raises(FileNotFoundError, match="not in"):
        read_ivf_pq_meta(d, version=99)
    # repurpose the table: clear the spec (metadata-only — the
    # walk-back crosses it too), then land unrelated data
    set_partition_spec(d, [])
    assert read_ivf_pq_meta(d)["params"]["num_cells"] == 8  # still resolves
    commit_version(emb.limit(5), d, mode="overwrite")  # repurposed!
    with pytest.raises(ValueError, match="not an IVF-PQ index"):
        read_ivf_pq_meta(d)


def test_ivf_pq_rebuild_and_legacy_add_keep_clustering(spark, tmp_path):
    """(a) Rebuilding an index on the same path neither duplicates the
    partition spec nor changes results; (b) ivf_pq_add to a LEGACY
    index (no set-spec commit in its chain) still cell-clusters its
    appended files — the pruned-probe invariant holds for any vintage."""
    from fdf_spark.llm.similarity import (
        ivf_pq_add,
        ivf_pq_probe_index,
        read_ivf_pq_meta,
        write_ivf_pq_index,
    )
    from fdf_spark.sources.versioned import (
        _read_manifest,
        commit_version,
        list_versions,
        read_version,
    )

    emb = load_table(spark, SMOKE_DIR, "embeddings")
    half = emb.filter(F.col("vec_id") % 2 == 0)
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    d1 = str(tmp_path / "idx1")
    write_ivf_pq_index(half, d1, num_cells=8, m=8, ks=8)
    before = ivf_pq_probe_index(spark, d1, qs, k=3).orderBy("query_id", "rank").collect()
    write_ivf_pq_index(half, d1, num_cells=8, m=8, ks=8)  # rebuild
    m = _read_manifest(d1, list_versions(d1)[-1])
    assert len(m["partition_specs"]) == 2  # spec 0 + ONE cell spec, no dup
    after = ivf_pq_probe_index(spark, d1, qs, k=3).orderBy("query_id", "rank").collect()
    assert after == before

    # legacy index: data commit with meta, NO set-spec in the chain
    d2 = str(tmp_path / "idx2")
    codes = read_version(spark, d1)
    model = {k: v for k, v in read_ivf_pq_meta(d1).items() if k != "version"}
    commit_version(codes, d2, meta={"ivf_pq": model})
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    v = ivf_pq_add(d2, rest)
    m2 = _read_manifest(d2, v)
    added = sorted(set(m2["files"]) - set(_read_manifest(d2, 1)["files"]))
    assert added
    for f in added:  # appended files are cell-tight despite no spec
        lo, hi = m2["stats"][f]["cell"]
        assert hi - lo <= 2, (f, lo, hi)


def test_ivf_pq_index_optimize_compaction(spark, tmp_path):
    """Index maintenance completes the lifecycle: after several adds
    leave many small per-cell files, OPTIMIZE(zorder=['cell']) — the
    spec's own compaction — re-packs them into fewer files that KEEP
    the spec stamp and tight cell stats; probe results are unchanged
    and the pruned probe still scans a strict file subset."""
    from fdf_spark.llm.similarity import ivf_pq_add, ivf_pq_probe_index, write_ivf_pq_index
    from fdf_spark.sources.versioned import _read_manifest, list_versions, optimize

    emb = load_table(spark, SMOKE_DIR, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    d = str(tmp_path / "idx")
    write_ivf_pq_index(emb.filter(F.col("vec_id") % 4 == 0), d, num_cells=8, m=8, ks=8)
    for r in (1, 2, 3):
        ivf_pq_add(d, emb.filter(F.col("vec_id") % 4 == r))
    before = ivf_pq_probe_index(spark, d, qs, k=3).orderBy("query_id", "rank").collect()
    n_before = len(_read_manifest(d, list_versions(d)[-1])["files"])

    # small target so the fixture still produces several output files
    # (at the default 128 MB everything packs into one — correct, but
    # then per-file tightness is vacuous)
    res = optimize(spark, d, zorder=["cell"], target_bytes=16 * 1024)
    assert res["files_after"] < n_before
    m = _read_manifest(d, list_versions(d)[-1])
    assert len(m["files"]) >= 3
    # compacted files keep the spec stamp (zorder key == spec cols)
    # and stay cell-tight (cell ids here are the centroid vec_ids
    # 0,4,...,28 — a tight file spans one or two of them)
    spans = []
    for f in m["files"]:
        assert m["file_specs"][f] == 1, (f, m["file_specs"][f])
        lo, hi = m["stats"][f]["cell"]
        spans.append(hi - lo)
    assert sorted(spans)[len(spans) // 2] <= 8, spans  # median file ~1-2 cells
    after = ivf_pq_probe_index(spark, d, qs, k=3)
    assert after.orderBy("query_id", "rank").collect() == before
    scanned = [f for f in after.inputFiles() if f.replace("file://", "").startswith(d)]
    assert 0 < len(scanned) <= len(m["files"])


def test_pq_codegen_compiles_strict(spark):
    """Guard for VERDICT r10 #5: the decimal ADC fold must stay inside
    janino's 64 KB method limit (the LUTs are numpy-built data now, so
    the fold is the only generated ADC expression left) — a method
    past it compiles FINE as far as pytest can see (Spark silently
    falls back to interpreted eval) but loses whole-stage codegen on
    the hottest ANN column.  Running with
    ``spark.sql.codegen.fallback=false`` turns the silent cliff into
    a hard failure."""
    from fdf_spark.llm.similarity import ivf_pq_ann_topk, pq_ann_topk

    emb = spark.read.parquet(f"{SMOKE_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert pq_ann_topk(qs, emb, k=3).count() > 0
        assert (
            ivf_pq_ann_topk(qs, emb, k=3, num_cells=4, nprobe=2, m=8, ks=8).count() > 0
        )
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_incremental_ingests_release_caches_on_failure(spark, tmp_path, monkeypatch):
    """VERDICT r11 #5: a commit I/O failure (or a replayed-ingest raise)
    inside incremental_dedup / incremental_near_dup must not leave ANY
    cached RDD behind — neither the batch persist nor the probe's
    localCheckpoint pins — in the caller's long-lived ingest session."""
    import fdf_spark.sources.versioned as V
    from fdf_spark.llm.dedup import (
        _persistent_rdd_ids,
        incremental_dedup,
        incremental_near_dup,
    )

    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    b1 = spark.createDataFrame(
        [(1, "alpha bravo charlie delta echo"), (2, "foxtrot golf hotel india")],
        "doc_id long, text string",
    )

    def boom(staged, dst):
        raise OSError("object store rejected the publish")

    monkeypatch.setattr(V, "_publish_manifest_atomic", boom)
    with pytest.raises(OSError):
        incremental_dedup(spark, b1, str(tmp_path / "hash_idx"))
    # no NEW pin survives (older tests' pins may be GC-cleaned mid-test,
    # so subset — not equality — is the stable invariant)
    assert _persistent_rdd_ids(spark) <= before
    with pytest.raises(OSError):
        incremental_near_dup(b1, str(tmp_path / "fp_idx"))
    assert _persistent_rdd_ids(spark) <= before
    monkeypatch.undo()

    # success path still returns consumable results and spends the batch
    # cache (only the probe checkpoint backing the result may stay)
    out = incremental_dedup(spark, b1, str(tmp_path / "ok_idx"))
    assert out.count() == 2


def test_failing_ingest_spares_concurrent_pins(spark, tmp_path, monkeypatch):
    """ADVICE r12: the failure-path cleanup unpersists only the pins
    THIS call created — a concurrent ingest's localCheckpoint (whose
    lineage is truncated: the pin IS its only copy) must survive
    another ingest's failure in the same session."""
    import fdf_spark.sources.versioned as V
    from fdf_spark.llm.dedup import _checkpoint_rdd_id, incremental_dedup

    # stand-in for a concurrent ingest's mid-flight checkpoint
    other = spark.createDataFrame(
        [(9, "lineage truncated")], "doc_id long, text string"
    ).localCheckpoint(eager=True)
    other_id = _checkpoint_rdd_id(other)
    assert other_id is not None

    def boom(staged, dst):
        raise OSError("object store rejected the publish")

    monkeypatch.setattr(V, "_publish_manifest_atomic", boom)
    b1 = spark.createDataFrame([(1, "alpha bravo")], "doc_id long, text string")
    with pytest.raises(OSError):
        incremental_dedup(spark, b1, str(tmp_path / "idx"))
    monkeypatch.undo()
    # the concurrent pin is still registered AND still readable
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    live = set()
    while it.hasNext():
        live.add(it.next()._1())
    assert other_id in live
    assert other.count() == 1
    other.unpersist()


def test_sync_ivf_pq_index_follows_corpus_feed(spark, tmp_path):
    """r14: the index-follows-table composition — poll the corpus's
    change feed, equality-delete every changed id, append new codes,
    ack last.  Post-sync full-rerank probe == brute force over the
    mutated corpus; a crash between the index writes and the ack
    re-delivers and CONVERGES (one live code row per id)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fdf_spark.llm.similarity import (
        cosine_topk,
        ivf_pq_probe_index,
        sync_ivf_pq_index,
        write_ivf_pq_index,
    )
    from fdf_spark.sources import versioned as V

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cp, ip = str(tmp_path / "corpus"), str(tmp_path / "index")
    V.commit_version(
        emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding"), cp
    )
    write_ivf_pq_index(V.read_version(spark, cp), ip)
    # corpus mutates: insert, delete, update (negated vectors)
    V.commit_version(
        emb.filter(F.col("vec_id") < 10).select("vec_id", "embedding"), cp
    )
    V.delete_where(spark, cp, "vec_id % 17 = 3")
    V.merge_on_read(
        spark, cp,
        V.read_version(spark, cp).filter("vec_id % 29 = 7")
        .select("vec_id", F.transform("embedding", lambda x: -x).alias("embedding")),
        ["vec_id"],
    )
    # crash INSIDE the first sync: index writes land, the ack does not
    real_ack = V.ack_changes
    calls = {"n": 0}

    def flaky_ack(path, cid, thru):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("simulated crash before ack")
        return real_ack(path, cid, thru)

    import fdf_spark.sources.versioned as VV

    orig = VV.ack_changes
    VV.ack_changes = flaky_ack
    try:
        with _pytest.raises(OSError):
            sync_ivf_pq_index(spark, cp, ip, "etl")
        # replay: the unacked batch re-delivers and converges
        res = sync_ivf_pq_index(spark, cp, ip, "etl")
        assert res["added"] > 0 and res["deleted"] > 0
    finally:
        VV.ack_changes = orig
    # one live code row per id after the replayed double-apply
    live = V.read_version(spark, ip).groupBy("vec_id").count()
    assert live.agg(F.max("count")).first()[0] == 1
    # full-rerank probe == exact brute force over the corpus head
    corpus_now = V.read_version(spark, cp)
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = ivf_pq_probe_index(
        spark, ip, qs, k=5, nprobe=64, rerank=10**6, corpus=corpus_now
    )
    want = cosine_topk(qs, corpus_now, k=5)
    assert [
        (r.query_id, r.vec_id, r.rank)
        for r in got.orderBy("query_id", "rank").collect()
    ] == [
        (r.query_id, r.vec_id, r.rank)
        for r in want.orderBy("query_id", "rank").collect()
    ]
    # caught up: another sync is a no-op
    assert sync_ivf_pq_index(spark, cp, ip, "etl")["added"] == 0


def test_all_pairs_cosine_max_rows_guard(spark, emb):
    # r15 (VERDICT r14 #2): the exact tier collects the corpus to the
    # driver — an over-cap corpus must fail FAST with the tier pointer,
    # never silently OOM the driver
    from fdf_spark.llm.similarity import all_pairs_cosine

    with pytest.raises(ValueError, match="max_rows"):
        all_pairs_cosine(emb, threshold=0.3, max_rows=3)


def test_round6_half_boundary_parity(spark):
    # r15 (VERDICT r14 #8): adversarial values AT the x1e6 half-way
    # boundary — shortest decimal repr terminating in a 7th-digit 5 —
    # must round identically under the numpy half-away emulation
    # (floor(|x|*1e6+0.5)/1e6) and Spark's F.round (BigDecimal HALF_UP
    # on the shortest repr).  These are exactly the inputs the ADVICE
    # r14 note flagged as the emulation's possible divergence class.
    import numpy as np
    from pyspark.sql import functions as F

    from fdf_spark.functions.scalar import _round6_np

    vals = [
        0.0000005, 0.0000015, 0.0000025, 0.1234565, 0.9999995,
        -0.0000005, -0.1234565, -0.9999995, 0.5000005, 0.2500005,
        # values NEAR the boundary from binary arithmetic (not exactly
        # representable): the fold outputs the emulation actually sees
        1 / 3, 2 / 3, 0.1 + 0.2, 1 / 7, 355 / 113, -1 / 3,
        0.30000049999999997, 0.3000005000000001,
        # larger magnitudes: the float error band around the boundary
        # grows with |x|, so a fixed-width band misses these
        518.6913645, -67127.4725275, 8609245.0944085,
        # plus an ordinary spread, away from any boundary
        0.123456789, -0.987654321, 0.042, 17.5, -0.0,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r[0] for r in df.select(F.round("x", 6)).collect()]
    want = [float(x) for x in _round6_np(np.array(vals))]
    assert got == want


def test_lit_vec_nonfinite_fallback(spark):
    # r15 (ADVICE r14): nan/inf elements can't parse as `nanD` SQL
    # literals — _lit_vec must fall back to per-element lits
    import math

    from fdf_spark.llm.similarity import _lit_vec

    got = spark.range(1).select(_lit_vec([1.5, float("nan"), float("-inf")]).alias("v")).first()[0]
    assert got[0] == 1.5 and math.isnan(got[1]) and got[2] == float("-inf")


def test_lsh_sig_modes_agree(spark, emb):
    # the LSH signature kernel must keep the end-to-end top-k the
    # retired expression fold (zip_with/aggregate per plane) produced;
    # digest captured from that fold
    from fdf_spark.llm.similarity import lsh_ann_topk

    qs = emb.filter(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rel = [
        (r.query_id, r.vec_id, r.cos_sim, r.rank)
        for r in lsh_ann_topk(qs, emb, k=5).collect()
    ]
    assert len(rel) == 35 and _digest(rel) == "a836860743810f53"


def test_lsh_rejects_vectors_wider_than_dim(spark):
    # a 64-d query against a 128-d corpus whose rows agree on their first
    # 64 components: folding only that prefix gave every corpus row the
    # same signatures and returned rows; the kernel must refuse instead
    from pyspark.sql.utils import PythonException

    from fdf_spark.llm.similarity import lsh_ann_topk

    head = [float(i % 7) for i in range(64)]
    corpus = spark.createDataFrame(
        [(i, head + [float(i)] * 64) for i in range(6)], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(i, head) for i in range(3)], "query_id long, query_vec array<double>"
    )
    with pytest.raises(PythonException, match="ValueError: embedding: vectors have 128 values; dim is 64"):
        lsh_ann_topk(queries, corpus, k=3).collect()


def test_gram_hash_modes_agree_adversarial(spark):
    # the gram kernel must reproduce the retired interpreted
    # transform/array_distinct plan BIT-FOR-BIT, including the regex
    # envelope edges: Java's default \s is the ASCII class (NBSP is a
    # word char under re.ASCII too), split keeps leading/trailing
    # empties, lower() is Locale.ROOT, and array_distinct keeps first
    # occurrence. Null/short/empty docs yield no rows. The expected
    # (doc_id, sz, sh) rows were captured from the expression plan.
    from fdf_spark.llm.dedup import gram_hash_rows

    rows = [
        (1, None),
        (2, ""),
        (3, "   \t\n"),
        (4, "one two"),
        (5, "one two three"),
        (6, "  lead and trail words  "),
        (7, "tab\tsep\nnl\x0bvt\x0cff\rcr words"),
        (8, "UPPER Case MiXeD words HERE"),
        (9, "nbsp\xa0is not a separator here"),  # NBSP glues tokens on both engines
        (10, "dup dup dup dup dup dup"),
        (11, "café naïve Über straße wörter ok"),
        (12, "İstanbul Iı dotted capital words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = [
        (5, 1, 424743546561510878),
        (6, 4, 167105503613300670), (6, 4, 344842773752383380),
        (6, 4, 440083618781731449), (6, 4, 771289489930066954),
        (7, 5, 22335585116289888), (7, 5, 228381004027125445),
        (7, 5, 717443081023947323), (7, 5, 831509108048284190),
        (7, 5, 882248666489954331),
        (8, 3, 698605558566090997), (8, 3, 965722191376412235),
        (8, 3, 1124068414789507741),
        (9, 3, 553613897236631486), (9, 3, 843865202573499751),
        (9, 3, 1037386602323100294),
        (10, 1, 824130857548396971),
        (11, 4, 533204320426843255), (11, 4, 960609009597319502),
        (11, 4, 1077952207835526336), (11, 4, 1110413282161828850),
        (12, 3, 321952854152980022), (12, 3, 707431155404796878),
        (12, 3, 999056209682750955),
    ]
    got = sorted((r.doc_id, r.sz, r.sh) for r in gram_hash_rows(df, with_size=True).collect())
    assert got == want  # docs 1-4 are too short / null: no rows


def test_minhash_sig_modes_agree(spark, docs):
    # minhash (distinct-gram md5 in C + one int64 numpy modmul per
    # coefficient) must keep the (doc, seed, minhash) relation and the
    # column names/types of the retired expression fold; digest
    # captured from that fold
    from pyspark.sql.types import IntegerType, LongType

    d = minhash_signatures(docs, num_hashes=16)
    rel = [(r.doc_id, r.seed, r.minhash) for r in d.collect()]
    assert len(rel) == 8000 and _digest(rel) == "7dd5345096756a79"
    assert [(f.name, f.dataType) for f in d.schema.fields] == [
        ("doc_id", LongType()), ("seed", IntegerType()), ("minhash", LongType())
    ]


def test_ngram_and_decontam_gram_modes_agree(spark, docs):
    # end-to-end pin for the two gram-kernel consumers — the pair
    # relation and the contamination profile stay what the retired
    # expression gram plan gave; digests captured from that plan
    from fdf_spark.llm.decontam import decontaminate

    pairs = [
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    ]
    assert len(pairs) == 28 and _digest(pairs) == "ab1a071112fec57c"
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    prof = [tuple(r) for r in decontaminate(docs, bench).collect()]
    assert len(prof) == 500 and sum(r[4] for r in prof) == 8
    assert _digest(prof) == "8719914cfecbbfa7"


def test_kmeans_mean_modes_agree(spark, emb):
    # the mean-partials kernel (scaled-int64 partial sums, Decimal
    # scaleb + double division on the driver) must reproduce the retired
    # `cast(sum(cast(x as decimal(25,6))) as double)/count(*)` aggregate
    # BITWISE across Lloyd iterations; digest captured from it
    import struct

    from fdf_spark.llm.similarity import kmeans_refine

    cents, _ = kmeans_refine(emb, num_cells=8, iters=2)
    packed = [(c, tuple(struct.pack("<d", x) for x in v)) for c, v in cents]
    assert len(packed) == 8 and _digest(packed) == "56eefabfdf6fa5bf"


def test_kmeans_partials_one_row_per_cell_per_task(spark, emb):
    # the mean-update partials accumulate over every Arrow batch of a
    # task: small batches must not multiply the rows the driver collects,
    # and the centroids must not move
    import struct

    from fdf_spark.llm.similarity import _cell_sums, ivf_assign, kmeans_refine

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "50")
    try:
        _, assigned = ivf_assign(emb, 8)
        assert _cell_sums(assigned).count() <= 8 * emb.rdd.getNumPartitions()
        cents, _ = kmeans_refine(emb, num_cells=8, iters=2)
    finally:
        spark.conf.set(key, old)
    packed = [(c, tuple(struct.pack("<d", x) for x in v)) for c, v in cents]
    assert _digest(packed) == "56eefabfdf6fa5bf"


def test_kmeans_refine_large_magnitude_cell(spark):
    # twelve ~1e12 vectors of one cell in one batch: the scaled-6-dp sum
    # of a column (~1.2e19) is past int64, which decimal(25,6) holds; the
    # centroid must be the SQL aggregate's value over the same rows
    from fdf_spark.llm.similarity import ivf_assign, kmeans_refine

    big = [0, *range(2, 13)]  # ids 0 and 1 seed the two cells
    rows = [(i, [1e12 + 0.25 + i, 1e12 - 0.5 * i, 1e12 + 0.125]) for i in big]
    rows += [(i, [-1.0 - i, 2.0, -3.0 + 0.5 * i]) for i in (1, 13, 14)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    _, seeded = ivf_assign(corpus, 2)
    dsum_mean = lambda i: F.sum(F.col("embedding")[i].cast("decimal(25,6)")).cast("double") / F.count("*")
    agg = seeded.groupBy("cell").agg(
        F.count("*").alias("n"), *[dsum_mean(i).alias(f"m{i}") for i in range(3)]
    ).collect()
    assert sorted(r["n"] for r in agg) == [3, 12]
    cents, _ = kmeans_refine(corpus, num_cells=2, iters=1)
    assert dict(cents) == {r["cell"]: [r["m0"], r["m1"], r["m2"]] for r in agg}


def test_scaled6_int_matches_round6(spark):
    # the scaled-int kernel must agree with the pinned rounder on the
    # same adversarial half-boundary values test_round6 pins
    import numpy as np

    from fdf_spark.functions.scalar import _round6_np, _scaled6_int_np

    vals = np.array([5e-07, 1.5e-06, 2.5e-06, -5e-07, -1.5e-06, 0.1234565,
                     0.12345649999, -0.9999995, 1.0, 0.0, -0.0, 123.4567894999])
    assert np.array_equal(_scaled6_int_np(vals), np.rint(_round6_np(vals) * 1e6).astype(np.int64))


def test_scaled6_int_exact_past_2_53(spark):
    # |x|·1e6 >= 2^53: float64 cannot hold the odd scaled integer, so
    # the kernel must take it from the decimal repr — checked against
    # the unscaled integer of Spark's own cast(x AS decimal(38,6)),
    # together with half-boundary values whose float error band is wide
    import numpy as np

    from fdf_spark.functions.scalar import _scaled6_int_np

    vals = [9647665529.666325, 9301698347.849005, 9144872573.335085,
            10071764008.613379, -9647665529.666325, 0.5, 1e6,
            518.6913645, -67127.4725275]  # last two: half boundary past |x| ~ 100
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [
        int(r[0].scaleb(6)) for r in df.select(F.col("x").cast("decimal(38,6)")).collect()
    ]
    assert want[0] % 2 == 1  # the case float64 rounds away
    assert _scaled6_int_np(np.array(vals)).tolist() == want
    for bad in (1e13, float("inf"), float("nan")):  # past int64 / not finite
        with pytest.raises(ValueError, match="envelope"):
            _scaled6_int_np(np.array([1.0, bad]))


def test_llm_operators_have_no_tier_flags():
    # one implementation per operator: no public llm callable may grow
    # a `mode` / `*_mode` switch (a tier is picked from the input, as
    # tokenize_vocab does from the vocabulary size)
    import importlib
    import inspect
    import pkgutil

    import fdf_spark.llm as llm

    allowed = set()
    found = set()
    for info in pkgutil.iter_modules(llm.__path__):
        mod = importlib.import_module(f"fdf_spark.llm.{info.name}")
        for name, obj in vars(mod).items():
            if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                continue
            if not callable(obj):
                continue
            try:
                params = inspect.signature(obj).parameters
            except (TypeError, ValueError):
                continue
            found |= {(name, p) for p in params if p == "mode" or p.endswith("_mode")}
    assert found == allowed


def test_python_kernels_use_the_seam():
    # every row-wise Python kernel runs through functions/kernels.arrow_kernel:
    # no mapInPandas anywhere, mapInArrow only inside the seam, and grouped
    # Python only at the five sites listed here
    import ast
    from collections import Counter
    from pathlib import Path

    import fdf_spark

    root = Path(fdf_spark.__file__).parent
    names = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState", "pandas_udf"}
    found = Counter()
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in names:
                    found[(path.relative_to(root).as_posix(), name)] += 1
    assert found == Counter({
        ("functions/kernels.py", "mapInArrow"): 1,
        ("llm/similarity.py", "applyInPandas"): 1,
        ("operators/fft.py", "applyInPandas"): 1,
        ("operators/fft.py", "pandas_udf"): 1,
        ("streaming/stateful.py", "applyInPandasWithState"): 2,
    })


def test_vector_kernels_reject_null_and_ragged_vectors(spark):
    # a NULL or wrong-length embedding fails loudly with a ValueError that
    # names the column, in the executor kernels and in the driver collect;
    # so does a batch of vectors whose length is not the centroids'
    from pyspark.sql.utils import PythonException

    from fdf_spark.llm.similarity import _assign, _probe_cells, ivf_assign, pq_encode

    ddl = "vec_id long, embedding array<double>"
    good = [(i, [float(i), 1.0, 2.0]) for i in range(4)]
    cents = [(0, [0.0, 1.0, 2.0]), (1, [1.0, 1.0, 2.0])]
    books = [[[0.0, 0.0, 0.0], [1.0, 1.0, 1.0]]]
    for bad in ([1.0, 2.0], None):
        df = spark.createDataFrame(good + [(9, bad)], ddl).coalesce(1)
        for run in (
            lambda: _assign(df, cents),
            lambda: _probe_cells(df, cents, 1, "vec_id", "embedding"),
            lambda: pq_encode(df, m=1, ks=2, codebooks=books)[1],
        ):
            with pytest.raises(PythonException, match="ValueError: embedding: row 4"):
                run().collect()
    wide = spark.createDataFrame([(i, [1.0, 2.0, 3.0, 4.0]) for i in range(3)], ddl)
    with pytest.raises(PythonException, match="vectors have 4 values; the centroids have 3"):
        _assign(wide, cents).collect()
    seeds = spark.createDataFrame([(0, None)] + good[1:], ddl)
    with pytest.raises(ValueError, match="embedding: row 0 is a NULL vector"):
        ivf_assign(seeds, 2)


def test_semantic_decontaminate_null_vector_gets_a_verdict(spark):
    # every corpus row gets exactly one verdict: a NULL embedding comes
    # back (NULL, NULL, false) instead of failing the task
    from fdf_spark.llm.decontam import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0])], "vec_id long, embedding array<double>"
    ).coalesce(1)
    bench = spark.createDataFrame([(10, [1.0, 0.0])], "bench_id long, bench_vec array<double>")
    got = sorted(map(tuple, semantic_decontaminate(corpus, bench).collect()))
    assert got == [(1, 10, 1.0, True), (2, None, None, False), (3, 10, 0.0, False)]


def test_repetition_stats_modes_agree(spark, docs):
    # the counter pass must equal the retired explode+groupBy expression
    # plan exactly, incl. the <2-word / null-text null rows; expected
    # values captured from that plan
    from fdf_spark.llm.repetition import repetition_stats

    edge = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "one"), (9004, "a a a a"),
         (9005, " x\ty z "), (9006, "b c b c b")],
        "doc_id long, text string",
    )
    assert sorted(map(tuple, repetition_stats(edge).collect())) == [
        (9001, None, None, None, None),
        (9002, 1, 0.0, None, None),
        (9003, 1, 0.0, None, None),
        (9004, 4, 0.75, 1.0, 0.666667),
        (9005, 5, 0.2, 0.25, 0.0),
        (9006, 5, 0.6, 0.5, 0.5),
    ]
    rows = [tuple(r) for r in repetition_stats(docs).collect()]
    assert len(rows) == 500 and _digest(rows) == "1d68d3859849e844"


def test_semantic_decontaminate_score_modes_agree(spark, emb):
    # the score kernel (batch numpy cosine under the _assign conventions,
    # argmax-first over ascending bench ids) must reproduce the retired
    # broadcast-join + struct-max argmax exactly, incl. the every-row
    # verdict and empty-benchmark contract; digests captured from it
    from fdf_spark.llm.decontam import semantic_decontaminate

    bench = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("bench_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 6)
    empty = bench.filter(F.col("bench_id") < 0)
    for b, digest, flagged in (
        (bench, "547435481b5f2454", 23),
        (empty, "1768d720e00b0e2e", 0),
    ):
        rows = [tuple(r) for r in semantic_decontaminate(corpus, b, 0.3).collect()]
        assert len(rows) == 494 and sum(r[3] for r in rows) == flagged
        assert _digest(rows) == digest


def test_semantic_decontaminate_duplicate_ids(spark):
    """One verdict per corpus ROW: an id that appears three times gets
    exactly three rows (a join back onto the ids would give nine), with
    and without benchmark matches."""
    from fdf_spark.llm.decontam import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [0.0, 1.0]), (1, [1.0, 1.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    bench = spark.createDataFrame([(10, [1.0, 0.0])], "bench_id long, bench_vec array<double>")
    got = sorted(
        map(tuple, semantic_decontaminate(corpus, bench, threshold=0.9).collect()),
        key=repr,
    )
    assert got == sorted(
        [
            (1, 10, 1.0, True),
            (1, 10, 0.0, False),
            (1, 10, 0.707107, False),
            (2, None, None, False),  # zero vector: NaN cosine, no verdict
        ],
        key=repr,
    )
    empty = bench.filter(F.col("bench_id") < 0)
    rows = semantic_decontaminate(corpus, empty, threshold=0.9).collect()
    assert sorted(r["vec_id"] for r in rows) == [1, 1, 1, 2]
    assert all(r["best_bench"] is None and not r["contaminated"] for r in rows)


def test_train_pq_codebooks_modes_agree(spark, emb):
    # the training pass (numpy codes under the encode conventions +
    # scaled-int64 partial sums) must reproduce the retired
    # m*ks*(sub+1)-aggregate expression iteration BITWISE; digest of the
    # packed codebooks captured from that iteration
    import hashlib
    import struct

    from fdf_spark.llm.similarity import _pq_seed_books, train_pq_codebooks

    seeds = _pq_seed_books(emb, "embedding", 4, 8)
    books = train_pq_codebooks(emb, "embedding", seeds, iters=1)
    packed = [[tuple(struct.pack("<d", x) for x in c) for c in b] for b in books]
    assert hashlib.sha256(repr(packed).encode()).hexdigest()[:16] == "7c5011cfe596d4b0"
