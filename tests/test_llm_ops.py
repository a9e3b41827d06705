"""LLM-data operator tests with planted duplicates/neighbors —
the testdata corpus has no exact dups, so behavior is exercised on
synthetic docs/vectors where ground truth is known.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from zolo_spark.llm import corpus, dedup, multimodal, similarity, text

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bend today"),  # near dup of 0
    (3, "completely different content about spark query engines and columnar execution"),
    (4, "THE QUICK BROWN FOX jumps over the lazy dog near the river bank today!"),  # case/punct dup of 0
    (5, "short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_normalized(spark, docs):
    out = dedup.exact_dedup(docs).collect()
    groups = {r["keep_id"]: r["n_docs"] for r in out}
    # 0,1,4 collapse (case/punct-insensitive); 2,3,5 stand alone
    assert groups[0] == 3
    assert groups[2] == 1 and groups[3] == 1 and groups[5] == 1


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r["doc1"], r["doc2"]): r["jaccard"]
             for r in dedup.minhash_lsh_dedup(docs).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and 0.7 <= pairs[(0, 2)] < 1.0  # near dup
    assert all(3 not in p for p in pairs)  # unrelated doc never pairs


def test_incremental_dedup_equals_full_restricted(spark, docs):
    """Batch-vs-index incremental dedup == full-corpus LSH pairs
    restricted to pairs touching the batch (docs 3..5 arrive late)."""
    corpus = docs.filter(F.col("doc_id") < 3)
    batch = docs.filter(F.col("doc_id") >= 3)
    index = dedup.build_dedup_index(corpus)
    incr = {(r["doc1"], r["doc2"]): r["jaccard"]
            for r in dedup.incremental_minhash_dedup(batch, index).collect()}
    full = {(r["doc1"], r["doc2"]): r["jaccard"]
            for r in dedup.minhash_lsh_dedup(docs).collect()
            if r["doc1"] >= 3 or r["doc2"] >= 3}
    assert incr == full


def test_incremental_dedup_finds_cross_batch_dup(spark, docs):
    """A new doc that duplicates an indexed doc is caught (0↔1 exact
    dup split across index and batch)."""
    corpus = docs.filter(F.col("doc_id").isin([0, 3]))
    batch = docs.filter(F.col("doc_id").isin([1, 2, 5]))
    index = dedup.build_dedup_index(corpus)
    pairs = {(r["doc1"], r["doc2"]): r["jaccard"]
             for r in dedup.incremental_minhash_dedup(batch, index).collect()}
    assert pairs[(0, 1)] == 1.0          # batch doc dups an indexed doc
    assert (0, 2) in pairs               # near dup across the boundary
    assert all(3 not in p and 5 not in p for p in pairs)


def test_collapse_first_dedup_equals_pairwise(spark, docs):
    """The collapse-first (content-class representative) forms of
    MinHash-LSH and SimHash near-dup must be output-identical to the
    naive pairwise forms — rows AND schema — on a corpus that
    exercises every expansion rule: multi-clone families, a clone
    family of empty-shingle short docs (which MinHash must NOT pair —
    no signature, no bands), near-dups across families, and
    singletons. This pin is what licenses grading the collapse-first
    operators against the pairwise DuckDB oracles."""
    rows = list(DOCS) + [
        (6, DOCS[0][1]),       # third exact clone of 0/1
        (7, "short text"),     # clone of 5: 2 tokens -> no 3-shingles
        (8, "short text"),     # clone family of three
        (9, DOCS[2][1]),       # clone of the near-dup doc 2
        (10, "tiny"),          # singleton, no shingles
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    # clone_free=False pins the COLLAPSE plan explicitly (this corpus
    # is clone-dense so the adaptive default also picks it, but the
    # pin must not depend on the measuring heuristic)
    fast = dedup.minhash_lsh_dedup(corpus, clone_free=False)
    ref = dedup.minhash_lsh_dedup_pairwise(corpus)
    assert fast.schema == ref.schema
    fast_rows = {tuple(r) for r in fast.collect()}
    ref_rows = {tuple(r) for r in ref.collect()}
    assert fast_rows == ref_rows
    # the planted families actually exercised the expansion paths:
    assert (0, 6, 1.0) in {(a, b, j) for a, b, j in fast_rows}
    assert all(5 not in (a, b) and 7 not in (a, b) for a, b, _ in fast_rows)

    fast_s = dedup.simhash_neardup(corpus, clone_free=False)
    ref_s = dedup.simhash_neardup_pairwise(corpus)
    assert fast_s.schema == ref_s.schema
    assert ({tuple(r) for r in fast_s.collect()}
            == {tuple(r) for r in ref_s.collect()})

    # star-edge form: CC over (member→rep edges + rep pairs) must give
    # the same components AND labels as CC over the expanded pairs
    from zolo_spark.llm import corpus as corpus_mod
    cc_star = {(r["doc_id"], r["cluster_id"]) for r in corpus_mod.dup_clusters(
        dedup.minhash_lsh_cluster_edges(corpus)).collect()}
    cc_full = {(r["doc_id"], r["cluster_id"]) for r in corpus_mod.dup_clusters(
        ref.select("doc1", "doc2")).collect()}
    assert cc_star == cc_full


def test_clone_free_fast_path_routing(spark, docs, monkeypatch):
    """r9 VERDICT item 1: uncapped near-dup must skip the collapse
    machinery on clone-free corpora (measured or declared) and keep it
    on clone-dense ones and on every capped call — with identical
    output either way."""
    calls = []
    real = dedup._content_classes
    monkeypatch.setattr(dedup, "_content_classes",
                        lambda *a, **k: calls.append(1) or real(*a, **k))

    clone_free = spark.createDataFrame(
        [(i, f"wholly distinct document number {i} tail {i * 13}")
         for i in range(10)], "doc_id long, text string")
    clone_dense = clone_free.union(clone_free.withColumn(
        "doc_id", F.col("doc_id") + 100))  # every text twice

    out_fast = {tuple(r) for r in
                dedup.simhash_neardup(clone_free).collect()}
    assert not calls                      # measured clone-free -> pairwise
    dedup.minhash_lsh_dedup(clone_free).collect()
    assert not calls
    assert out_fast == {tuple(r) for r in dedup.simhash_neardup(
        clone_free, clone_free=False).collect()}
    assert len(calls) == 1                # explicit False -> collapse

    dedup.simhash_neardup(clone_dense).collect()
    assert len(calls) == 2                # measured clone-dense -> collapse
    dedup.simhash_neardup(clone_free, max_bucket=50).collect()
    assert len(calls) == 3                # capped -> always collapse
    dedup.minhash_lsh_dedup(clone_free, max_bucket=50).collect()
    assert len(calls) == 4                # capped, undeclared -> collapse
    # capped + DECLARED clone-free: doc-level and content-level bucket
    # widths coincide on a distinct corpus, so the capped pairwise
    # plan is taken (no collapse) with identical output
    want = {tuple(r) for r in dedup.minhash_lsh_dedup(
        clone_free, max_bucket=50).collect()}
    got = {tuple(r) for r in dedup.minhash_lsh_dedup(
        clone_free, max_bucket=50, clone_free=True).collect()}
    assert len(calls) == 5 and got == want


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {(r["doc1"], r["doc2"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert all(3 not in p for p in pairs)


def test_simhash_exact_group(spark, docs):
    out = {r["keep_id"]: r["n_docs"] for r in dedup.simhash_dedup(docs).collect()}
    # simhash is case-sensitive on tokens; lowered tokens of 0,1 match;
    # 4 differs only by trailing '!' token -> usually same signature too
    assert out[0] >= 2


def test_simhash_neardup_pigeonhole(spark, docs):
    pairs = {(r["doc1"], r["doc2"]): r["hamming"]
             for r in dedup.simhash_neardup(docs).collect()}
    assert pairs[(0, 1)] == 0                    # exact dup: distance 0
    assert all(h <= 2 for h in pairs.values())   # verify bound holds
    assert all(3 not in p for p in pairs)        # unrelated doc excluded


def test_text_stats_fields(spark, docs):
    row = {r["doc_id"]: r for r in text.text_stats(docs).collect()}
    r0 = row[0]
    assert r0["n_tokens_ws"] == 14
    assert r0["fingerprint"] == row[1]["fingerprint"] == row[4]["fingerprint"]
    assert r0["lang_guess"] == "en"
    assert 0.0 <= r0["quality"] <= 1.0
    assert row[5]["n_tokens_ws"] == 2


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=(20, 16)).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(20)]
    # 100: near-copy of vector 0 (tiny perturbation -> cosine ~0.999)
    rows.append((100, (base[0] + 0.01 * rng.normal(size=16).astype("float32")).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dup_finds_planted_pair(spark, vectors):
    pairs = {(r["id1"], r["id2"]) for r in
             dedup.embedding_near_dup(vectors, threshold=0.95).collect()}
    assert (0, 100) in pairs
    assert len(pairs) == 1  # random vectors don't near-dup


def test_brute_topk_exact(spark, vectors):
    out = similarity.brute_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=3)
    got = [(r["neighbor_id"], r["rank"]) for r in
           out.orderBy("rank").collect()]
    assert got[0] == (100, 1)  # planted near-copy is the top neighbor
    assert len(got) == 3


def test_ivf_matches_brute_top1(spark, vectors):
    sample = np.stack(vectors.toPandas()["embedding"].to_numpy())
    cents = similarity.train_centroids(sample, n_centroids=4)
    index = similarity.ivf_index(vectors, cents)
    out = similarity.ivf_topk(
        index, vectors.filter(F.col("vec_id") == 0), cents, k=3, nprobe=2
    ).orderBy("rank").collect()
    # the near-identical vector lands in the same cell -> rank 1
    assert out[0]["neighbor_id"] == 100


def test_ivf_recall_on_testdata(spark):
    """Recall gate on the real embeddings table (VERDICT r1 item 4):
    nprobe=3 of 8 cells keeps useful recall on a structure-free random
    corpus (the worst case for IVF), and probing ALL cells is exactly
    brute force — cells partition the corpus, so nprobe=C degrades to
    the exact scan."""
    from .conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20)
    brute = {(r["query_id"], r["neighbor_id"])
             for r in similarity.brute_topk(emb, qs, k=10).collect()}

    sample = np.stack(
        emb.orderBy(F.xxhash64("vec_id")).limit(2000)
        .toPandas()["embedding"].to_numpy()
    )
    cents = similarity.train_centroids(sample, n_centroids=8)
    index = similarity.ivf_index(emb, cents).persist()
    try:
        approx = {(r["query_id"], r["neighbor_id"]) for r in
                  similarity.ivf_topk(index, qs, cents, k=10, nprobe=3).collect()}
        assert len(brute & approx) / len(brute) >= 0.5

        exact = {(r["query_id"], r["neighbor_id"]) for r in
                 similarity.ivf_topk(index, qs, cents, k=10, nprobe=8).collect()}
        assert exact == brute
    finally:
        index.unpersist()


def test_pq_adc_recall_on_testdata(spark):
    """ANN-quality gate for the PQ family (VERDICT r5 item 5): the
    graded seeded-codebook configuration must actually RANK usefully,
    not just match its own oracle — a quantizer that is consistent but
    ranks poorly (bad codebook indexing, zeroed codewords) would pass
    the equivalence pins and fail here.

    Measured on the real (unit-norm ⇒ dot≡cosine) embeddings table:
    recall@10 = 0.325 for the seeded m=8×16 codebooks on 20 queries —
    structure-free random vectors are PQ's WORST case (4 bits per
    8-dim subspace of noise), so the bar is 0.25 (measured − margin);
    a broken quantizer scores ≈ k/N = 0.02.  Also pins IVF×PQ at
    nprobe=C to the plain-ADC ranking (cells partition the corpus, so
    probing every cell must degrade to exact ADC), and gives the
    nprobe=3 path its own measured floor."""
    from .conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20)
    brute = {(r["query_id"], r["neighbor_id"])
             for r in similarity.brute_topk(emb, qs, k=10).collect()}

    seed = np.stack([
        r[0] for r in emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id").select("embedding").collect()
    ]).astype(float)
    cb = similarity.pq_codebooks(seed, m=8, ksub=16)
    codes = similarity.pq_encode_np(emb, cb)
    adc = {(r["query_id"], r["neighbor_id"]) for r in
           similarity.pq_adc_topk(codes, qs, cb, k=10).collect()}
    r_adc = len(brute & adc) / len(brute)
    assert r_adc >= 0.25, f"ADC recall@10 {r_adc} (graded seeded config)"

    cents = np.stack([
        r[0] for r in emb.filter(F.col("vec_id") < 8)
        .orderBy("vec_id").select("embedding").collect()
    ]).astype(float)
    full = {(r["query_id"], r["neighbor_id"]) for r in
            similarity.ivfpq_topk(emb, qs, cents, cb, k=10, nprobe=8)
            .collect()}
    assert full == adc  # nprobe=C ≡ plain ADC

    probe3 = {(r["query_id"], r["neighbor_id"]) for r in
              similarity.ivfpq_topk(emb, qs, cents, cb, k=10, nprobe=3)
              .collect()}
    r_p3 = len(brute & probe3) / len(brute)
    assert r_p3 >= 0.12, f"IVFxPQ nprobe=3 recall@10 {r_p3}"


def test_quantize_int8_bounds_and_agreement(spark):
    """Quantization invariants on the real embeddings table: values in
    [-127, 127], reconstruction error within one quantization step
    (max|v|/127), and the quantized integer-dot ranking agrees with
    the float cosine brute force on most of the top-k (int8 keeps
    ~7 bits of precision — heavy overlap expected, not equality)."""
    from .conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = similarity.quantize_int8(emb)
    joined = q.join(emb, "vec_id").collect()
    for r in joined:
        v = np.asarray(r["embedding"], dtype=np.float64)
        qv = np.asarray(r["qvec"], dtype=np.int64)
        assert len(qv) == r["n_dims"] == len(v)
        assert qv.min() >= -127 and qv.max() <= 127
        m = np.abs(v).max()
        if m == 0:
            assert (qv == 0).all()
        else:
            # q = floor(v*127/m): reconstruction within one step
            assert np.abs(qv * m / 127 - v).max() <= m / 127 + 1e-12

    qs = emb.filter(F.col("vec_id") < 10)
    brute = {}
    for r in similarity.brute_topk(emb, qs, k=10).collect():
        brute.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    quant = {}
    for r in similarity.quantized_topk(q, similarity.quantize_int8(qs)).collect():
        quant.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    overlaps = [len(brute[k] & quant[k]) / len(brute[k]) for k in brute]
    assert sum(overlaps) / len(overlaps) >= 0.6


def test_multimodal_plumbing(spark):
    media = multimodal.synthetic_media(spark, n=16)
    feats = multimodal.extract_features(media, mode="fake")
    rows = feats.collect()
    assert len(rows) == 16
    assert all(len(r["feat"]) == multimodal.N_FEATURES for r in rows)
    # deterministic: same content -> same features across runs
    again = {r["media_id"]: r["feat"] for r in
             multimodal.extract_features(media, mode="fake").collect()}
    assert all(again[r["media_id"]] == r["feat"] for r in rows)
    # real mode decodes the genuine PNG bytes: width/height features
    # must match the metadata the encoder wrote
    real = multimodal.extract_features(media, mode="real").collect()
    assert len(real) == 16
    for r in real:
        w, h = 32 + r["media_id"] % 8, 32 + r["media_id"] % 4
        assert (int(r["feat"][0]), int(r["feat"][1])) == (w, h)
    # truncated JPEG fails loudly inside the real decoder
    jpeg = spark.createDataFrame(
        [(99, bytearray(b"\xff\xd8\xff"), ("image/jpeg", 1, 1, None))],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="SOF0|truncated|marker"):
        multimodal.extract_features(jpeg, mode="real").collect()
    # formats with no codec in this environment still fail at the seam
    mp4 = spark.createDataFrame(
        [(98, bytearray(b"\x00\x00\x00\x18ftypmp42"), ("video/mp4", 1, 1, None))],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="NotImplementedError|codec"):
        multimodal.extract_features(mp4, mode="real").collect()


def test_resize_area_box_downsample(spark):
    import numpy as np

    # 5x7 image with known pixels: crop to 4x6, 2x2 floor-mean blocks
    px = np.arange(35, dtype=np.uint8).reshape(5, 7)
    media = spark.createDataFrame(
        [(1, bytearray(multimodal.png_encode(px)),
          ("image/png", 7, 5, None))],
        multimodal.MEDIA_SCHEMA,
    )
    out = multimodal.resize_area(media, 2, 2).collect()[0]
    img = multimodal.png_decode(bytes(out["content"]))
    assert (img["width"], img["height"]) == (3, 2)
    expect = px[:4, :6].astype(int).reshape(2, 2, 3, 2).sum(axis=(1, 3)) // 4
    assert (img["pixels"] == expect).all()
    assert (out["meta"]["width"], out["meta"]["height"]) == (3, 2)
    # an image smaller than one block fails loudly
    tiny = spark.createDataFrame(
        [(2, bytearray(multimodal.png_encode(np.zeros((1, 3), np.uint8))),
          ("image/png", 3, 1, None))],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="smaller than"):
        multimodal.resize_area(tiny, 2, 2).collect()
    with pytest.raises(ValueError, match="factors"):
        multimodal.resize_area(media, 0, 2)


def test_zvid_round_trip_and_corruption():
    import numpy as np

    rng = np.random.default_rng(11)
    stack = rng.integers(0, 256, size=(4, 6, 9), dtype=np.uint8)
    data = multimodal.zvid_encode(stack, interval_ms=40)
    vid = multimodal.zvid_decode(data)
    assert (vid["n_frames"], vid["width"], vid["height"]) == (4, 9, 6)
    assert vid["interval_ms"] == 40
    assert (vid["frames"] == stack).all()
    with pytest.raises(ValueError, match="signature"):
        multimodal.zvid_decode(b"RIFF" + data[4:])
    with pytest.raises(ValueError, match="truncated"):
        multimodal.zvid_decode(data[:30])
    # flip a byte inside a frame payload: either the frame's own PNG
    # CRC or the container trailer must catch it
    corrupt = bytearray(data)
    corrupt[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC|truncated|signature"):
        multimodal.zvid_decode(bytes(corrupt))


def test_video_frame_stats_samples_every_nth(spark):
    import numpy as np

    stack = np.stack([
        np.full((3, 4), f * 10, np.uint8) for f in range(5)
    ])
    media = spark.createDataFrame(
        [(7, bytearray(multimodal.zvid_encode(stack, 40)),
          ("video/zvid", 4, 3, 200))],
        multimodal.MEDIA_SCHEMA,
    )
    rows = {r["frame_idx"]: r
            for r in multimodal.video_frame_stats(media, every_n=2).collect()}
    assert sorted(rows) == [0, 2, 4]
    for f, r in rows.items():
        assert r["t_ms"] == f * 40
        assert r["sum_px"] == f * 10 * 12
        assert (r["width"], r["height"]) == (4, 3)
    with pytest.raises(ValueError, match="every_n"):
        multimodal.video_frame_stats(media, every_n=0)


def test_png_round_trip_all_filters():
    import numpy as np

    rng = np.random.default_rng(7)
    # height 11 > 2 full filter cycles; odd width exercises edge cols
    px = rng.integers(0, 256, size=(11, 13), dtype=np.uint8)
    data = multimodal.png_encode(px)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    img = multimodal.png_decode(data)
    assert (img["width"], img["height"], img["bit_depth"]) == (13, 11, 8)
    assert (img["pixels"] == px).all()


def test_png_decode_rejects_corruption():
    import numpy as np

    px = np.zeros((4, 4), dtype=np.uint8)
    data = bytearray(multimodal.png_encode(px))
    with pytest.raises(ValueError, match="signature"):
        multimodal.png_decode(b"GIF89a" + bytes(data))
    flipped = bytearray(data)
    flipped[40] ^= 0xFF  # inside IDAT body -> CRC must catch it
    with pytest.raises(ValueError, match="CRC|truncated"):
        multimodal.png_decode(bytes(flipped))
    with pytest.raises(ValueError, match="truncated|missing"):
        multimodal.png_decode(bytes(data[:20]))


def test_gif_round_trip_plain_interlaced_and_lzw_reset():
    import numpy as np

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(13, 17), dtype=np.uint8)
    for interlace in (False, True):
        data = multimodal.gif_encode(px, interlace=interlace)
        assert data[:6] == b"GIF89a" and data[-1:] == b"\x3B"
        img = multimodal.gif_decode(data)
        assert (img["width"], img["height"]) == (17, 13)
        assert img["interlaced"] is interlace
        assert (img["pixels"] == px).all()
    # an incompressible image > 4096 distinct LZW phrases forces the
    # encoder's mid-stream table reset (CLEAR) + 9->12-bit code growth;
    # also spans many 255-byte sub-blocks
    big = rng.integers(0, 256, size=(120, 120), dtype=np.uint8)
    assert (multimodal.gif_decode(
        multimodal.gif_encode(big))["pixels"] == big).all()
    # extension blocks (GIF89a comment) are skipped, not fatal
    data = multimodal.gif_encode(px)
    head, tail = data[:13 + 768], data[13 + 768:]
    ext = b"\x21\xFE\x05hello\x00"
    assert (multimodal.gif_decode(head + ext + tail)["pixels"] == px).all()


def test_gif_decode_rejects_corruption():
    import numpy as np

    px = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3).astype(np.uint8)
    data = multimodal.gif_encode(px)
    with pytest.raises(ValueError, match="signature"):
        multimodal.gif_decode(b"\x89PNG\r\n\x1a\n" + data[8:])
    with pytest.raises(ValueError, match="truncated|missing"):
        multimodal.gif_decode(data[:20])
    # truncating inside the LZW stream must not return partial pixels
    with pytest.raises(ValueError, match="truncated"):
        multimodal.gif_decode(data[:len(data) - 12])
    # corrupt a byte mid-LZW: frontier/size/count checks must fire
    bad = bytearray(data)
    bad[13 + 768 + 9 + 1 + 1 + 3] ^= 0xFF  # inside first sub-block
    with pytest.raises(ValueError):
        multimodal.gif_decode(bytes(bad))
    # stream cut EXACTLY at an extension sub-block length byte: must
    # be the documented ValueError, not IndexError (r10 ADVICE)
    head = data[:13 + 768]
    with pytest.raises(ValueError, match="truncated extension"):
        multimodal.gif_decode(head + b"\x21\xFE\x05he")
    with pytest.raises(ValueError, match="truncated extension"):
        multimodal.gif_decode(head + b"\x21\xFE")


def test_gif_stats_matches_closed_form(spark):
    """documents_gif -> REAL LZW decode -> exact integer stats equal
    the closed-form pixel function, interlaced and plain alike."""
    docs = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    got = {r["media_id"]: r for r in multimodal.gif_stats(
        multimodal.documents_gif(docs)).collect()}
    import numpy as np
    for i in range(9):
        w, h = 8 + i % 7, 8 + i % 6
        j = np.arange(w * h, dtype=np.int64)
        p = (i * 11 + j * 17) % 256
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["interlaced"] == bool(i % 2)
        assert r["sum_px"] == int(p.sum())
        assert r["checksum"] == int((j * p).sum()) % 9973


def test_wav_round_trip_and_corruption():
    import numpy as np

    rng = np.random.default_rng(3)
    s = rng.integers(-32768, 32767, size=777, dtype=np.int16)
    data = multimodal.wav_encode(s, rate=16000)
    wav = multimodal.wav_decode(data)
    assert (wav["rate"], wav["n_samples"]) == (16000, 777)
    assert (wav["samples"] == s).all()
    with pytest.raises(ValueError, match="RIFF"):
        multimodal.wav_decode(b"OggS" + data[4:])
    with pytest.raises(ValueError, match="truncated"):
        multimodal.wav_decode(data[:30])
    # stereo / non-PCM rejected at the format seam
    bad = bytearray(data)
    bad[22] = 2  # channels field
    with pytest.raises(ValueError, match="unsupported"):
        multimodal.wav_decode(bytes(bad))


def test_audio_stats_matches_closed_form(spark):
    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    stats = {r["media_id"]: r for r in
             multimodal.audio_stats(multimodal.documents_wav(docs)).collect()}
    import math
    for i in range(7):
        n = 400 + (i % 5) * 100
        ss = [((i * 31 + j * 17) % 2048) - 1024 for j in range(n)]
        r = stats[i]
        assert (r["sample_rate"], r["n_samples"]) == (8000, n)
        assert r["duration_ms"] == n * 1000 / 8000
        assert r["rms"] == math.sqrt(sum(x * x for x in ss) / n)
        assert r["peak"] == max(abs(x) for x in ss)
        assert r["zero_crossings"] == sum(
            1 for a, b in zip(ss, ss[1:]) if a * b < 0
        )


def test_image_stats_matches_closed_form(spark):
    docs = spark.createDataFrame(
        [(i,) for i in range(12)], "doc_id long"
    )
    stats = {r["media_id"]: r for r in
             multimodal.image_stats(multimodal.documents_png(docs)).collect()}
    for i in range(12):
        w, h = 8 + i % 9, 8 + i % 5
        ps = [(i * 7 + j * 13) % 256 for j in range(w * h)]
        r = stats[i]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert r["sum_px"] == sum(ps)
        assert r["mean_px"] == sum(ps) / len(ps)
        assert (r["min_px"], r["max_px"]) == (min(ps), max(ps))
        assert r["checksum"] == sum(j * p for j, p in enumerate(ps)) % 9973


def test_frame_sample(spark):
    rows = [
        (1, None, ("video/mp4", None, None, 3000)),
        (2, None, ("image/png", 32, 32, None)),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = multimodal.frame_sample(media, every_ms=1000).collect()
    vid = sorted(r["frame_ms"] for r in out if r["media_id"] == 1)
    img = [r["frame_ms"] for r in out if r["media_id"] == 2]
    assert vid == [0, 1000, 2000, 3000]
    assert img == [0]


def test_dup_clusters_chain(spark):
    from zolo_spark.llm import corpus

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc1 long, doc2 long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in corpus.dup_clusters(pairs).collect()}
    # chain 1-2-3 collapses to min id 1; separate pair keeps min 10
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dup_clusters_clique_converges_fast(spark):
    """Clique-shaped dup graphs (the near-dup normal case) must
    converge in ≤2 propagation rounds — the bound that makes
    label-prop the right default at 100 TB."""
    from zolo_spark.llm import corpus

    pairs = spark.createDataFrame(
        [(i, j) for i in range(8) for j in range(i + 1, 8)]
        + [(20 + i, 20 + j) for i in range(5) for j in range(i + 1, 5)],
        "doc1 long, doc2 long",
    )
    stats: dict = {}
    got = {r["doc_id"]: r["cluster_id"]
           for r in corpus.dup_clusters(pairs, stats=stats).collect()}
    assert got == {**{i: 0 for i in range(8)}, **{20 + i: 20 for i in range(5)}}
    assert stats["converged"] and stats["rounds"] <= 2


def test_dup_clusters_star_matches_labelprop(spark):
    """large-star/small-star ≡ label propagation on a mixed graph,
    in O(log n) rounds (chain of 40 → ≤7 rounds, not 40)."""
    import random

    from zolo_spark.llm import corpus

    random.seed(5)
    rnd = [(random.randrange(0, 40), random.randrange(0, 40))
           for _ in range(60)]
    pairs_py = ([(a, b) for a, b in rnd if a != b]
                + [(100 + i, 100 + i + 1) for i in range(40)])
    pairs = spark.createDataFrame(pairs_py, "doc1 long, doc2 long")
    lab = {r["doc_id"]: r["cluster_id"]
           for r in corpus.dup_clusters(pairs, max_iter=100).collect()}
    stats: dict = {}
    star = {r["doc_id"]: r["cluster_id"]
            for r in corpus.dup_clusters_star(pairs, stats=stats).collect()}
    assert star == lab
    assert stats["converged"] and stats["star_rounds"] <= 7


def test_dup_clusters_deep_chain_falls_back_to_star(spark):
    """A chain longer than max_iter must NOT return half-propagated
    labels — label-prop detects non-convergence and reruns via the
    star algorithm."""
    from zolo_spark.llm import corpus

    chain = [(i, i + 1) for i in range(100, 130)]
    stats: dict = {}
    got = {r["doc_id"]: r["cluster_id"]
           for r in corpus.dup_clusters(
               spark.createDataFrame(chain, "doc1 long, doc2 long"),
               max_iter=4, stats=stats).collect()}
    assert got == {i: 100 for i in range(100, 131)}
    assert "star_rounds" in stats  # fallback actually engaged


def test_dedup_survivors(spark, docs):
    from zolo_spark.llm import corpus, dedup as dd

    pairs = dd.minhash_lsh_dedup(docs).select("doc1", "doc2")
    survivors = {r["doc_id"] for r in
                 corpus.dedup_survivors(docs, pairs).select("doc_id").collect()}
    # docs 0,1,2,4 are one near-dup cluster -> keep 0; 3 and 5 unpaired
    assert 0 in survivors and 3 in survivors and 5 in survivors
    assert 1 not in survivors and 2 not in survivors and 4 not in survivors


def test_simhash_neardup_wide_signature_and_bucket_cap(spark):
    # long docs: simhash vote margins grow with token count, so a
    # one-token edit stays within Hamming 2 at 48 bits (deterministic
    # md5 hashes — measured hamming for this pair is exactly 2)
    words = [f"w{i}" for i in range(60)]
    rows = [(i, "identical boilerplate text repeated everywhere always")
            for i in range(12)]
    rows += [(100, " ".join(words)),
             (101, " ".join(words[:-1] + ["zzz"])),
             (200, "unrelated " * 30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    wide = {(r["doc1"], r["doc2"])
            for r in dedup.simhash_neardup(docs, bits=48).collect()}
    assert (100, 101) in wide            # near-identical pair survives
    assert all(200 not in p for p in wide)
    assert {(i, j) for i in range(12) for j in range(i + 1, 12)} <= wide

    # collapse-first semantics: the 12-clone clique is ONE distinct
    # content, so it never forms a hot bucket — the cap keeps every
    # clone pair (linear cost via class expansion) and the near-dup
    capped = {(r["doc1"], r["doc2"]) for r in
              dedup.simhash_neardup(docs, bits=48, max_bucket=5).collect()}
    assert (100, 101) in capped
    assert {(i, j) for i in range(12) for j in range(i + 1, 12)} <= capped

    # what the cap now governs: hot buckets of DISTINCT near-identical
    # contents (one-token edits of shared boilerplate) — a tight cap
    # drops candidates from the shared-chunk bucket while pairs whose
    # buckets stay narrow survive (measured deterministic md5 layout)
    edits = [(300 + i, " ".join(words[:i] + [f"edit{i}"] + words[i + 1:]))
             for i in range(8)]
    docs2 = spark.createDataFrame(
        edits + [(100, " ".join(words)), (200, "unrelated " * 30)],
        "doc_id long, text string",
    )
    unc = {(r["doc1"], r["doc2"])
           for r in dedup.simhash_neardup(docs2, bits=48).collect()}
    tight = {(r["doc1"], r["doc2"])
             for r in dedup.simhash_neardup(docs2, bits=48,
                                            max_bucket=2).collect()}
    assert tight < unc                   # the cap dropped hot candidates
    assert (300, 307) in tight           # narrow-bucket pair survives


def test_repetition_stats_hand_computed(spark):
    from zolo_spark.llm import text as T

    docs = spark.createDataFrame(
        [(1, "a b a b a"),   # 5 tokens: a×3 b×2; bigrams ab,ba,ab,ba
         (2, "x x x x"),     # degenerate repetition
         (3, "one two three four five")],  # no repetition
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.repetition_stats(docs).collect()}
    r1 = out[1]
    assert r1["n_tokens"] == 5
    assert r1["uniq_token_ratio"] == 2 / 5
    assert r1["top_token_fraction"] == 3 / 5
    assert r1["top_bigram_fraction"] == 2 / 4   # 'a b' twice of 4
    assert r1["dup_trigram_fraction"] == (3 - 2) / 3  # aba,bab,aba
    r2 = out[2]
    assert r2["uniq_token_ratio"] == 1 / 4
    assert r2["top_token_fraction"] == 1.0
    assert r2["dup_trigram_fraction"] == 1 / 2
    r3 = out[3]
    assert r3["uniq_token_ratio"] == 1.0
    assert r3["top_bigram_fraction"] == 1 / 4
    assert r3["dup_trigram_fraction"] == 0.0


def test_pii_mask_and_counts(spark):
    from zolo_spark.llm import text as T

    docs = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.io or 10.0.0.1 then 555-1234 done"),
         (2, "clean text, no identifiers at all"),
         (3, "two mails p@q.org r@s.net and 999.1.2.3 odd ip")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.pii_redact(docs).collect()}
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 1, 1)
    assert out[1]["masked_text"] == "mail <EMAIL> or <IP> then <PHONE> done"
    assert (out[2]["n_emails"], out[2]["n_ips"], out[2]["n_phones"]) == (0, 0, 0)
    assert out[2]["masked_text"] == "clean text, no identifiers at all"
    assert out[3]["n_emails"] == 2 and out[3]["n_ips"] == 1


def test_decontaminate_finds_planted_leak(spark):
    from zolo_spark.llm import corpus

    # force split membership by searching ids whose hash_split buckets
    # land in train/test, then plant a shared 5-gram between them
    base = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    splits = {r["doc_id"]: r["split"]
              for r in corpus.hash_split(base).collect()}
    train_id = next(i for i, s in splits.items() if s == "train")
    test_id = next(i for i, s in splits.items() if s == "test")
    other_id = next(i for i, s in splits.items()
                    if s == "train" and i != train_id)
    leak = "alpha beta gamma delta epsilon zeta eta"  # 3 distinct 5-grams
    docs = spark.createDataFrame(
        [(train_id, "prefix words here " + leak),
         (test_id, leak + " suffix tail words"),
         (other_id, "totally unrelated content with many boring words")],
        "doc_id long, text string",
    )
    got = {(r["train_doc"], r["test_doc"]): r["n_shared"]
           for r in corpus.decontaminate(docs).collect()}
    assert got == {(train_id, test_id): 3}


def test_stratified_sample_deterministic_and_rate_accurate(spark):
    from zolo_spark.llm import corpus

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.5, "de": 0.1}
    a = {r["doc_id"] for r in
         corpus.stratified_sample(docs, rates).collect()}
    b = {r["doc_id"] for r in
         corpus.stratified_sample(docs, rates).collect()}
    assert a == b  # rerun-stable membership
    en = sum(1 for i in a if i % 2 == 0) / 1000
    de = sum(1 for i in a if i % 2 == 1) / 1000
    assert abs(en - 0.5) < 0.06 and abs(de - 0.1) < 0.04
    # re-weighting one stratum must not disturb the other's membership
    c = {r["doc_id"] for r in
         corpus.stratified_sample(docs, {"en": 0.5, "de": 0.9}).collect()}
    assert {i for i in a if i % 2 == 0} == {i for i in c if i % 2 == 0}
    assert {i for i in a if i % 2 == 1} <= {i for i in c if i % 2 == 1}


def test_hash_split_deterministic_and_partitioned(spark, docs):
    from zolo_spark.llm import corpus

    a = {r["doc_id"]: r["split"] for r in corpus.hash_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in corpus.hash_split(docs).collect()}
    assert a == b  # rerun-stable
    assert set(a.values()) <= {"train", "val", "test"}
    # different salt -> different (eventually) assignment, same keys
    c = {r["doc_id"]: r["split"]
         for r in corpus.hash_split(docs, salt="v2").collect()}
    assert set(c) == set(a)


def test_build_vocab_rank(spark, docs):
    from zolo_spark.llm import corpus

    out = corpus.build_vocab(docs, top_k=5, min_df=2).collect()
    assert len(out) <= 5
    by_rank = {r["rank"]: r for r in out}
    assert sorted(by_rank) == list(range(1, len(out) + 1))
    # df is DOCUMENT frequency: 'brown' and 'the' tie at df=4 (docs
    # 0,1,2,4), tiebreak is lexicographic
    assert by_rank[1]["token"] == "brown" and by_rank[1]["df"] == 4
    dfs = [by_rank[i]["df"] for i in sorted(by_rank)]
    assert dfs == sorted(dfs, reverse=True)


# ------------------------------------------- chunking / LM / source cap

def test_chunk_documents_windows(spark):
    from zolo_spark.llm import corpus

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y")], ["doc_id", "text"]
    )
    out = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in corpus.chunk_documents(df, size=3, overlap=1).collect()
    }
    # stride 2: doc 1 (5 tokens) -> ceil((5-3)/2)+1 = 2 chunks
    assert out == {
        (1, 0): ("a b c", 3),
        (1, 1): ("c d e", 3),
        (2, 0): ("x y", 2),  # shorter than size -> exactly one chunk
    }
    with pytest.raises(ValueError):
        corpus.chunk_documents(df, size=3, overlap=3)


def test_chunk_documents_no_shuffle(spark):
    from zolo_spark.llm import corpus

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    plan = (
        corpus.chunk_documents(df, size=3, overlap=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure per-row flatMap


def test_unigram_nll_hand_computed(spark):
    import math

    from zolo_spark.llm import lm

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b")], ["doc_id", "text"]
    )
    model = lm.unigram_lm(docs)
    probs = {r.token: (r.n, r.logp) for r in model.collect()}
    assert probs["a"][0] == 2 and probs["b"][0] == 2
    assert abs(probs["a"][1] - math.log(2 / 4)) < 1e-12

    scores = {r.doc_id: r for r in lm.doc_nll(docs, model).collect()}
    nll_half = round(-math.log(2 / 4), 6)
    assert scores[1].n_tokens == 3
    assert scores[1].mean_nll == pytest.approx(
        round(3 * nll_half / 3, 4), abs=1e-9
    )
    assert scores[2].mean_nll == pytest.approx(nll_half, abs=1e-4)


def test_perplexity_filter_keeps_typical_docs(spark):
    from zolo_spark.llm import lm

    rows = [(i, "the cat sat on the mat") for i in range(8)]
    rows.append((99, "zq xv qqq zzz pf pf"))  # rare vocabulary
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    model = lm.unigram_lm(docs)
    scores = {r.doc_id: r.mean_nll for r in lm.doc_nll(docs, model).collect()}
    cut = (scores[0] + scores[99]) / 2
    kept = {r.doc_id for r in
            lm.perplexity_filter(docs, model, cut).collect()}
    assert 99 not in kept and kept == set(range(8))


def test_source_cap_branches(spark):
    from zolo_spark.llm import corpus

    rows = [(i, "big", 1000 - i) for i in range(10)]  # over cap
    rows += [(100 + i, "small", 50 + i) for i in range(3)]  # under cap
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = corpus.source_cap(df, cap=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    # top-5 of "big" by n_chars desc = doc_ids 0..4; "small" untouched
    assert by_src == {"big": set(range(5)), "small": {100, 101, 102}}


def test_source_cap_null_source_is_a_real_group(spark):
    """NULL sources form ONE cappable group (SQL GROUP BY semantics) —
    equality joins never match NULL, so the naive routing let every
    NULL-source doc bypass the cap via the anti-join branch (r6
    ADVICE). NULL must also stay distinct from the empty string."""
    from zolo_spark.llm import corpus

    rows = [(i, None, 1000 - i) for i in range(10)]      # NULL, over cap
    rows += [(100 + i, "", 50 + i) for i in range(3)]    # '' source, under
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = corpus.source_cap(df, cap=5).collect()
    assert sorted(r.doc_id for r in out if r.source is None) == [0, 1, 2, 3, 4]
    assert sorted(r.doc_id for r in out if r.source == "") == [100, 101, 102]
    assert set(df.columns) == set(out[0].asDict())  # no helper col leaks


def test_kmeans_train_recovers_planted_clusters(spark):
    """Distributed Lloyd on 3 planted well-separated direction groups:
    centroids converge onto the group directions and every cell keeps
    its members; n_members sums to N."""
    import numpy as np

    rng = np.random.default_rng(7)
    dirs = np.eye(3)
    # seeds (the k lowest ids) must cover all groups: ids 0,1,2 get
    # one vector per group, then 9 more members each
    rows = []
    vid = 3
    for g in range(3):
        rows.append((g, [float(x) for x in dirs[g] + rng.normal(0, 0.05, 3)]))
    for g in range(3):
        for _ in range(9):
            rows.append((vid, [float(x) for x in dirs[g] + rng.normal(0, 0.05, 3)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.kmeans_train(df, k=3, iters=2).collect()
    assert len(out) == 9  # 3 cells x 3 dims
    members = {r["cell"]: r["n_members"] for r in out}
    assert sum(members.values()) * 3 == 9 * 10  # each dim row repeats count
    assert set(members) == {0, 1, 2}
    # centroid of cell g points along axis g (dominant dim = g)
    cent = {c: [0.0] * 3 for c in members}
    for r in out:
        cent[r["cell"]][r["dim"]] = r["centroid"]
    for g in range(3):
        assert int(np.argmax(cent[g])) == g
        assert cent[g][g] > 0.9  # tight cluster of unit-ish vectors


def test_semdedup_drops_higher_id_cellmates(spark):
    """SemDeDup keep/drop semantics on planted vectors: a near-dup of
    a lower-id vector in the SAME cell is dropped; near-dups split
    across cells survive (the documented approximation); everything
    else keeps."""
    cents = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    vecs = [
        (0, [1.0, 0.0, 0.0]),    # cell 0, keeps (lowest id)
        (1, [0.99, 0.1, 0.0]),   # cell 0, ~0.995 of id 0 → dropped
        (2, [0.0, 1.0, 0.0]),    # cell 1, keeps
        (3, [0.0, 0.98, 0.2]),   # cell 1, ~0.98 of id 2 → dropped
        (4, [0.6, 0.8, 0.0]),    # cell 1, cos 0.8 of id 2 → keeps
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["cell"], r["keep"])
           for r in similarity.semdedup(df, cents, threshold=0.9).collect()}
    assert out == {0: (0, True), 1: (0, False), 2: (1, True),
                   3: (1, False), 4: (1, True)}


def test_semdedup_blocking_is_pure_parallelization(spark):
    """The triangle-block pair decomposition must not change a single
    keep/drop decision: B=1 (plain cell self-join) == B=4 on a corpus
    dense enough that same-block and cross-block pairs both occur."""
    import numpy as np

    rng = np.random.default_rng(3)
    cents = np.eye(4)[:, :]
    rows = []
    for i in range(40):
        g = i % 4
        v = np.eye(4)[g] + rng.normal(0, 0.2, 4)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    plain = {(r["vec_id"], r["cell"], r["keep"]) for r in
             similarity.semdedup(df, cents, 0.9, pair_blocks=1).collect()}
    blocked = {(r["vec_id"], r["cell"], r["keep"]) for r in
               similarity.semdedup(df, cents, 0.9, pair_blocks=4).collect()}
    assert plain == blocked and len(plain) == 40
    assert any(not k for _, _, k in plain)  # some drops actually occur


def _ref_winnow(text: str, k: int, w: int) -> set[tuple[int, int]]:
    """Pure-Python winnowing (Schleimer et al. 2003, rightmost-min
    tie rule) — the semantic reference the Spark op is checked
    against."""
    import hashlib

    toks = text.lower().split(" ")
    if len(toks) < k:
        return set()
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:6], 16) for g in grams]
    sel = set()
    for s in range(len(hs) - w + 1):
        m = min(hs[s:s + w])
        p = max(i for i in range(s, s + w) if hs[i] == m)  # rightmost
        sel.add((p, hs[p]))
    return sel


def test_winnow_fingerprints_match_reference(spark):
    """Spark winnowing == the textbook sequential algorithm on docs
    engineered with repeated grams (tie positions), short docs (< k
    tokens → empty), and docs shorter than one window (< k+w-1)."""
    texts = [
        (0, "a b c d e f g h i j k l m n o p"),
        (1, "x y x y x y x y x y x y"),        # heavy hash ties
        (2, "t u v"),                           # < k tokens: no grams
        (3, "p q r s t u"),                     # grams but < one window
        (4, "m m m m m m m m"),                 # all-identical hashes
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got: dict[int, set] = {i: set() for i, _ in texts}
    for r in dedup.winnow_fingerprints(df, k=4, w=4).collect():
        got[r["doc_id"]].add((r["pos"], r["fp"]))
    for i, t in texts:
        assert got[i] == _ref_winnow(t, 4, 4), f"doc {i}"
    # density sanity: doc 0's 13 grams / 10 windows select ~2/(w+1)
    assert 2 <= len(got[0]) <= 10
    # guarantee: shared run of >= k+w-1 tokens => shared fingerprint
    pair = spark.createDataFrame(
        [(10, "zz qq ww ee rr tt yy uu vv"),
         (11, "aa bb ww ee rr tt yy uu cc dd")], ["doc_id", "text"])
    fps = {}
    for r in dedup.winnow_fingerprints(pair, k=3, w=3).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[10] & fps[11]  # 7 shared tokens >= k+w-1 = 5


def test_shingle_set_key_separator_unambiguous(spark):
    """Distinct shingle SETS whose '\\x01'-joined concatenations are
    byte-identical (the separator appears inside a shingle) must get
    DIFFERENT class keys — the old md5(concat_ws) key collided them
    into one class and emitted false jaccard-1.0 pairs (r6 ADVICE)."""
    a = ["a b c\x01d", "e f g"]   # sorted join: 'a b c\x01d\x01e f g'
    b = ["a b c", "d\x01e f g"]   # sorted join: identical bytes
    assert "\x01".join(sorted(a)) == "\x01".join(sorted(b))
    df = spark.createDataFrame([(1, a), (2, b), (3, list(reversed(a)))],
                               "doc_id long, sh array<string>")
    keys = {r.doc_id: r.k
            for r in df.select("doc_id",
                               dedup.shingle_set_key("sh").alias("k")).collect()}
    assert keys[1] != keys[2]   # ambiguous under concat_ws, distinct now
    assert keys[1] == keys[3]   # order-insensitive: same SET, same key


def test_bm25_ranks_term_dense_docs_first(spark):
    import math

    from zolo_spark.llm import retrieval

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark runs fast"),
            (2, "spark is here"),
            (3, "nothing relevant at all"),
            (4, "other words entirely present"),
        ],
        ["doc_id", "text"],
    )
    out = retrieval.bm25_topk(docs, ["spark"], k=10).collect()
    assert [r.doc_id for r in out] == [1, 2]  # non-matching docs absent
    assert out[0].score > out[1].score
    # hand-check doc 2: tf=1, dl=3, df=2, N=4, avgdl=16/4
    idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    expected = idf * (1 * 2.2) / (1 + 1.2 * (0.25 + 0.75 * 3 / (16 / 4)))
    assert out[1].score == pytest.approx(round(expected, 6), abs=1e-6)
    with pytest.raises(ValueError):
        retrieval.bm25_topk(docs, [], k=10)


def test_pack_chunks_greedy_running_sum(spark):
    from zolo_spark.llm import corpus

    chunks = spark.createDataFrame(
        [(1, 0, 32), (1, 1, 32), (1, 2, 32), (1, 3, 10), (2, 0, 5)],
        ["doc_id", "chunk_id", "n_tokens"],
    )
    out = {
        (r.doc_id, r.chunk_id): r.seq_id
        for r in corpus.pack_chunks(chunks, budget=64).collect()
    }
    # cumulative-before: 0,32,64,96 -> seqs 0,0,1,1; doc 2 alone -> 0
    assert out == {(1, 0): 0, (1, 1): 0, (1, 2): 1, (1, 3): 1, (2, 0): 0}


def test_pq_codegen_and_numpy_encoders_agree(spark):
    from zolo_spark.llm import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seed = np.stack([
        r[0] for r in emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id").select("embedding").collect()
    ]).astype(float)
    cb = similarity.pq_codebooks(seed, m=8, ksub=16)
    assert cb.shape == (8, 16, 8)
    a = {r.vec_id: r.codes for r in similarity.pq_encode(emb, cb).collect()}
    b = {r.vec_id: r.codes
         for r in similarity.pq_encode_np(emb, cb).collect()}
    assert a == b
    # seeds quantize to themselves in every subspace
    for i in range(16):
        assert a[i] == [i] * 8


def test_pq_adc_approximates_exact_ranking(spark):
    from zolo_spark.llm import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seed = np.stack([
        r[0] for r in emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id").select("embedding").collect()
    ]).astype(float)
    cb = similarity.pq_train(seed, m=8, ksub=16, iters=3)
    codes = similarity.pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") < 3)
    out = similarity.pq_adc_topk(codes, queries, cb, k=5).collect()
    assert len(out) == 15  # 3 queries x top-5
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.score))
    for q, rows in by_q.items():
        scores = [s for _, s in sorted(rows)]
        assert scores == sorted(scores, reverse=True)


def test_pq_train_rejects_bad_dims():
    from zolo_spark.llm import similarity

    with pytest.raises(ValueError):
        similarity.pq_codebooks(np.zeros((16, 63)), m=8)


def test_ivfpq_full_probe_equals_pq_adc(spark):
    """Probing every cell removes the IVF pruning, so IVF x PQ must
    rank exactly like plain PQ ADC — the composition's correctness
    anchor (same invariant as nprobe=C ≡ brute force for IVF-flat)."""
    from zolo_spark.llm import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    seed = np.stack([
        r[0] for r in emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id").select("embedding").collect()
    ]).astype(float)
    cb = similarity.pq_codebooks(seed, m=8, ksub=16)
    cents = seed[:8]
    queries = emb.filter(F.col("vec_id") < 3)

    full = similarity.ivfpq_topk(emb, queries, cents, cb, k=5, nprobe=8)
    plain = similarity.pq_adc_topk(
        similarity.pq_encode(emb, cb), queries, cb, k=5
    )
    got = {(r.query_id, r.rank): (r.neighbor_id, r.score)
           for r in full.collect()}
    want = {(r.query_id, r.rank): (r.neighbor_id, r.score)
            for r in plain.collect()}
    assert got == want

    pruned = similarity.ivfpq_topk(emb, queries, cents, cb, k=5, nprobe=2)
    assert pruned.count() == 15  # still fills top-5 per query


def test_minhash_lsh_hot_bucket_cap(spark):
    """Collapse-first cap semantics: a clone clique is ONE distinct
    content, so it survives any cap (its pairs cost linear expansion,
    not banded-join volume); what the cap drops is a hot bucket of
    DISTINCT near-identical contents (shared-shingle band bucket)."""
    rows = [(i, "aa bb cc dd ee ff gg hh") for i in range(12)]  # clone clique
    rows += [(100, "xx yy zz ww vv uu tt ss"),
             (101, "xx yy zz ww vv uu tt rr")]  # near-dup pair
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r.doc1, r.doc2)
              for r in dedup.minhash_lsh_dedup(docs, max_bucket=5).collect()}
    # clique pairs AND the near-dup pair all survive the cap now
    assert {(i, j) for i in range(12) for j in range(i + 1, 12)} <= capped
    assert (100, 101) in capped
    uncapped = dedup.minhash_lsh_dedup(docs)
    assert {(r.doc1, r.doc2) for r in uncapped.collect()} == capped

    # distinct-content hot bucket: 8 one-token-tail edits of a shared
    # base share band buckets; a tight cap prunes those candidates
    # (measured deterministic md5 band layout), an aggressive cap of 2
    # suppresses every wide bucket
    base = "xx yy zz ww vv uu tt ss rr qq pp oo nn mm"
    toks = base.split()
    rows2 = [(300 + i, " ".join(toks[:-1] + [f"v{i}"])) for i in range(8)]
    docs2 = spark.createDataFrame(
        rows2 + [(100, base)], "doc_id long, text string")
    unc = {(r.doc1, r.doc2)
           for r in dedup.minhash_lsh_dedup(docs2).collect()}
    mid = {(r.doc1, r.doc2)
           for r in dedup.minhash_lsh_dedup(docs2, max_bucket=3).collect()}
    assert mid < unc and (300, 304) in mid
    tight = {(r.doc1, r.doc2)
             for r in dedup.minhash_lsh_dedup(docs2, max_bucket=2).collect()}
    assert tight == set()


def test_duplicate_spans_planted_passage(spark):
    """Two docs share a 12-token passage -> each reports one merged
    span exactly covering it (three overlapping duplicated 10-grams
    merge into one interval); unique docs report nothing."""
    shared = "p q r s t u v w x y z0 z1"  # 12 tokens
    rows = [
        (1, f"a b c {shared} d e f"),      # passage at tokens 3..14
        (2, f"{shared} m n o p2 q2 r2"),   # passage at tokens 0..11
        (3, "entirely unique words only here nothing repeats at all ok fine sure"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.start_tok, r.end_tok, r.span_tokens)
           for r in dedup.duplicate_spans(docs).collect()}
    assert out == {1: (3, 14, 12), 2: (0, 11, 12)}

    short = spark.createDataFrame([(9, "too short")],
                                  "doc_id long, text string")
    assert dedup.duplicate_spans(short).count() == 0


def test_training_mix_composition(spark):
    """End-to-end pipeline semantics: the low-quality doc and the
    exact duplicate both drop out before chunking; survivors chunk
    and pack."""
    from zolo_spark.llm import corpus

    good = ("the cat sat on the mat and then the dog ran over the hill "
            "to find the ball it lost yesterday near the old barn door")
    rows = [
        (1, good, "en"),
        (2, good, "en"),          # exact dup of 1 -> dropped
        (3, "!!! ??? !!!", "en"),  # punct-heavy low quality -> dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = corpus.training_mix(
        docs, rates={"en": 1.0}, chunk_size=8, overlap=2, budget=16
    ).collect()
    assert {r.doc_id for r in out} == {1}
    seqs = {r.chunk_id: r.seq_id for r in out}
    assert seqs[0] == 0 and max(seqs.values()) >= 1  # packed into >1 seq


def test_kmeans_trained_ivf_recall(spark):
    """The distributed-Lloyd codebook must out-rank the driver-sample
    recipe on the real embeddings: measured recall@10 = 0.76 at
    nprobe=3/8 (vs the sample-trained gate's 0.5 bar); full probing
    stays exactly brute force. Guards codebook-training regressions
    that the hash gate (fixed seed, fixed k) cannot see."""
    import numpy as np

    from .conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 20)
    brute = {(r["query_id"], r["neighbor_id"])
             for r in similarity.brute_topk(emb, qs, k=10).collect()}
    rows = similarity.kmeans_train(emb, k=8, iters=2).collect()
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append((r["dim"], r["centroid"]))
    cents = np.stack([
        [v for _, v in sorted(by_cell[c])] for c in sorted(by_cell)
    ]).astype(float)
    index = similarity.ivf_index(emb, cents).persist()
    try:
        approx = {(r["query_id"], r["neighbor_id"]) for r in
                  similarity.ivf_topk(index, qs, cents, k=10, nprobe=3).collect()}
        assert len(brute & approx) / len(brute) >= 0.6
        exact = {(r["query_id"], r["neighbor_id"]) for r in
                 similarity.ivf_topk(index, qs, cents, k=10, nprobe=8).collect()}
        assert exact == brute
    finally:
        index.unpersist()


def test_corpus_pipeline_empty_and_unembedded(spark):
    """The pipeline must survive the two degenerate hand-offs: a fully
    empty corpus, and documents with NO matching embeddings (the
    semantic stage then passes survivors through untouched)."""
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long")
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert corpus.corpus_pipeline(docs, emb, cap=5).count() == 0

    docs2 = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", "s1", 22),
         (2, "alpha beta gamma delta", "en", "s1", 22),   # exact dup
         (3, "wholly different text here", "en", "s2", 26)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = corpus.corpus_pipeline(docs2, emb, cap=5,
                                 quality_min=0.0, min_tokens=1,
                                 max_punct=1.0)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 3}  # dup dropped, no embeddings -> semantic no-op


def test_corpus_pipeline_skips_exact_count_when_k_is_pinned(
        spark, monkeypatch, tmp_path):
    """r12 VERDICT item 7: at scales where Catalyst's free sizeInBytes
    upper bound proves the SemDeDup codebook k sits at its floor, the
    pipeline must not run the eager survivor count() — one fewer full
    job per capstone call. A 150-row slice sits COMFORTABLY under the
    floor boundary (n_hi×SAFETY ≤ 575), so NO DataFrame.count may
    fire during pipeline construction; the output must equal the
    counted path's. (Full sf0.001 no longer qualifies: its estimate
    lands at n_hi=553, inside the r13-ADVICE safety band, so it now
    correctly falls back to the exact count.)

    The patch targets the CLASSIC DataFrame subclass: it overrides
    ``count``, so patching the pyspark.sql.DataFrame base silently
    intercepts nothing (the pre-r14 version of this test was vacuous
    for exactly that reason)."""
    from pyspark.sql.classic.dataframe import DataFrame

    (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
     .orderBy("doc_id").limit(150).coalesce(1)
     .write.parquet(str(tmp_path / "docs")))
    (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
     .orderBy("vec_id").limit(150).coalesce(1)
     .write.parquet(str(tmp_path / "emb")))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    emb = spark.read.parquet(str(tmp_path / "emb"))
    expected = {r["doc_id"] for r in
                corpus.corpus_pipeline(docs, emb).collect()}

    real_count = DataFrame.count
    calls: list = []

    def tracked(self):
        calls.append(self)
        return real_count(self)

    monkeypatch.setattr(DataFrame, "count", tracked)
    out = corpus.corpus_pipeline(docs, emb)
    assert not calls, "eager count() ran despite a floor-pinned k"
    monkeypatch.setattr(DataFrame, "count", real_count)
    assert {r["doc_id"] for r in out.collect()} == expected


def test_semdedup_floor_pin_requires_safety_margin(spark, monkeypatch):
    """r13 ADVICE item 4: the count-skip must hold even if the real
    bytes/row is HALF the calibrated 350 lower bound. An estimate
    landing just inside the floor region (pin at 1× but not at 2×)
    must RUN the exact count; only a comfortably-inside estimate may
    skip it — otherwise a better-compressed corpus under-counts
    survivors and silently mis-sizes the codebook."""
    from pyspark.sql.classic.dataframe import DataFrame
    from zolo_spark.llm import dedup as _dedup
    from zolo_spark.llm.corpus import _SEMDEDUP_EST_MIN_ROW_BYTES

    docs = spark.createDataFrame(
        [(i, f"unique text {i} tail {i * 13}", "en", "s1", 30)
         for i in range(1, 6)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long")
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(1, 6)],
        "vec_id long, embedding array<double>")

    real_count = DataFrame.count
    calls: list = []

    def tracked(self):
        calls.append(self)
        return real_count(self)

    monkeypatch.setattr(DataFrame, "count", tracked)
    # n_hi = 400: inside the floor region at 1× (400*?//64 -> wait,
    # semdedup_k(400)=8) but OUT at 2× (semdedup_k(800)=12) -> count
    monkeypatch.setattr(_dedup, "_plan_size_estimate",
                        lambda df: 400 * _SEMDEDUP_EST_MIN_ROW_BYTES)
    corpus.corpus_pipeline(docs, emb)
    assert calls, "edge-of-floor estimate must fall back to count()"

    calls.clear()
    # n_hi = 200: still floor-pinned at 2× (semdedup_k(400)=8) -> skip
    monkeypatch.setattr(_dedup, "_plan_size_estimate",
                        lambda df: 200 * _SEMDEDUP_EST_MIN_ROW_BYTES)
    corpus.corpus_pipeline(docs, emb)
    assert not calls, "comfortably-floor-pinned estimate must skip"


def test_corpus_pipeline_partial_embedding_coverage(spark):
    """Round-8 ADVICE (high): docs WITHOUT an embedding row must pass
    through the semantic stage untouched. The old left-semi on the
    kept side silently discarded every unembedded doc — invisible at
    sf0.01 (100% coverage) but 60% of the corpus at sf0.1. SemDeDup
    must still drop embedded semantic dups."""
    docs = spark.createDataFrame(
        [(i, f"distinct text number {i} with unique tail {i * 7}",
          "en", "s1", 40) for i in range(1, 7)],
        "doc_id long, text string, lang string, source string, n_chars long")
    # docs 1 and 2 share an (identical) embedding -> cos 1.0 >= 0.85
    # -> higher id 2 drops; docs 3-4 orthogonal; 5-6 have NO rows.
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),
         (3, [0.0, 1.0, 0.0]), (4, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = corpus.corpus_pipeline(docs, emb, cap=10,
                                 quality_min=0.0, min_tokens=1,
                                 max_punct=1.0)
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 3, 4, 5, 6}  # 2 = semantic dup; 5,6 unembedded KEPT


def test_corpus_pipeline_caps_thread_through_and_are_loose_noops(spark):
    """r9 VERDICT item 3: the capped deployment configuration
    (max_bucket + max_k) must run through the SIGNATURE, no code
    edits, and caps looser than the data's bucket sizes must not
    change the output (the recall trade only bites on genuinely hot
    buckets)."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en", "s1", 22),
         (2, "alpha beta gamma delta", "en", "s1", 22),   # exact dup
         (3, "alpha beta gamma delta epsilon", "en", "s2", 30),  # near dup
         (4, "wholly different text body here", "en", "s2", 31)],
        "doc_id long, text string, lang string, source string, n_chars long")
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (3, [0.0, 1.0]), (4, [0.7, 0.7])],
        "vec_id long, embedding array<double>")
    kw = dict(cap=5, quality_min=0.0, min_tokens=1, max_punct=1.0)
    want = {tuple(r) for r in
            corpus.corpus_pipeline(docs, emb, **kw).collect()}
    got = {tuple(r) for r in corpus.corpus_pipeline(
        docs, emb, max_bucket=500, max_k=1024, **kw).collect()}
    assert got == want and len(got) > 0


def test_corpus_pipeline_capped_equals_uncapped_on_testdata(spark):
    """r10 VERDICT item 4: llm_corpus_pipeline_capped now shares the
    uncapped gate's value oracle, which is sound exactly because the
    loose deployment caps (max_bucket=500, max_k=1024) never bind at
    the graded scales — pin that over the REAL sf0.001 tables (the
    sf0.01 check is the driver's shared-oracle hash itself)."""
    from zolo_spark.parity_queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in
            REGISTRY["llm_corpus_pipeline"].fn(spark, sf).collect()}
    got = {tuple(r) for r in
           REGISTRY["llm_corpus_pipeline_capped"].fn(spark, sf).collect()}
    assert got == want and len(got) > 0


def test_kmeans_train_sparse_offset_ids(spark):
    """Round-8 ADVICE: seeding is rank-based (the k lowest ids), so an
    id space that is sparse/offset (no ids < k) still yields exactly k
    seeds. The old filter(vec_id < k) collected ZERO seeds here."""
    import numpy as np

    rng = np.random.default_rng(11)
    dirs = np.eye(3)
    rows = []
    for g in range(3):  # ids 1000, 2000, 3000, then members at +1..+5
        rows.append((1000 * (g + 1),
                     [float(x) for x in dirs[g] + rng.normal(0, 0.05, 3)]))
        for j in range(5):
            rows.append((1000 * (g + 1) + 1 + j,
                         [float(x) for x in dirs[g] + rng.normal(0, 0.05, 3)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.kmeans_train(df, k=3, iters=2).collect()
    assert len(out) == 9  # 3 cells x 3 dims — all three cells trained
    members = {r["cell"]: r["n_members"] for r in out}
    assert set(members) == {0, 1, 2} and sum(members.values()) == 18


def test_kmeans_train_identical_seeds_drop_cell(spark):
    """Two identical seed vectors: all mass assigns to the lower cell
    and the duplicate cell EMPTIES on the first update. It must drop
    from the output (as it vanishes from the SQL replay's GROUP BY),
    not raise; surviving cells keep their seed-rank labels."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]),       # identical seeds
         (2, [0.0, 1.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = similarity.kmeans_train(df, k=3, iters=2).collect()
    cells = {r["cell"] for r in out}
    assert cells == {0, 2}  # cell 1 (dup seed) dropped; labels stable
    members = {r["cell"]: r["n_members"] for r in out}
    assert members[0] == 2 and members[2] == 2


def test_kmeans_train_releases_cache(spark):
    """kmeans_train persists its normalized base internally and must
    unpersist it before returning (round-8: engine-side persist
    lifetime) — repeated training calls may not accumulate storage."""
    df = spark.createDataFrame(
        [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)])
         for i in range(12)],
        "vec_id long, embedding array<double>")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    similarity.kmeans_train(df, k=3, iters=1).collect()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before


def test_kmeans_train_empty_corpus_raises(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="empty corpus"):
        similarity.kmeans_train(df, k=3)


def test_generational_cache_release(spark):
    """Round-8 (r7 VERDICT #6): engine-persisted intermediates are
    tracked per operator scope — a REPEATED call releases the previous
    call's blocks (block-neutral loops), and cachereg.release() frees
    everything. The current call's result stays cache-backed."""
    from zolo_spark.llm import cachereg

    docs = spark.createDataFrame(
        [(i, f"some shared text body number {i % 4} tail {i}")
         for i in range(40)],
        "doc_id long, text string")
    jsc = spark.sparkContext._jsc

    def live_ids() -> set:
        return {int(k) for k in jsc.getPersistentRDDs().keySet()
                .toArray()}

    # Track RDD-ID SETS, not counts: earlier tests may leave
    # localCheckpoint RDDs that ContextCleaner collects mid-test on
    # GC timing — absolute counts drift, the id algebra does not.
    cachereg.release()  # start clean: earlier tests hold generations
    base_ids = live_ids()
    dedup.minhash_lsh_dedup(docs).count()
    gen1 = live_ids() - base_ids
    assert gen1  # the shingle index IS cached
    dedup.minhash_lsh_dedup(docs).count()
    gen2 = live_ids() - base_ids
    assert not (gen1 & gen2)        # generation swap: gen1 released
    assert len(gen2) == len(gen1)   # ... and replaced like for like
    emb = spark.createDataFrame(
        [(i, [float((i >> d) & 1) + 0.5 for d in range(16)])
         for i in range(20)],
        "vec_id long, embedding array<double>")
    dedup.embedding_near_dup(emb, threshold=0.1).count()
    grew = live_ids() - base_ids
    assert grew > gen2  # distinct scope tracks separately
    dedup.embedding_near_dup(emb, threshold=0.1).count()
    emb2 = live_ids() - base_ids
    assert len(emb2) == len(grew)   # embedding scope swapped in place
    assert gen2 <= emb2             # minhash generation untouched
    cachereg.release()
    assert not (live_ids() & (gen1 | gen2 | grew | emb2))


def test_cachereg_begin_checks_each_session_cache():
    """A scope tracking frames of two sessions must not skip the
    second session's unpersists because the FIRST frame's session has
    an empty cache manager (the check is per session)."""
    from zolo_spark.llm import cachereg

    class Session:
        def __init__(self, empty):
            cm = type("CM", (), {"isEmpty": lambda self: empty})()
            state = type("St", (), {"cacheManager": lambda self: cm})()
            self._jsparkSession = type(
                "J", (), {"sharedState": lambda self: state})()

    class Frame:
        def __init__(self, session):
            self.sparkSession, self.freed = session, False

        def persist(self):
            return self

        def unpersist(self):
            self.freed = True

    cleared, live = Session(empty=True), Session(empty=False)
    frames = [Frame(cleared), Frame(live), Frame(cleared), Frame(live)]
    for f in frames:
        cachereg.persist(f, "two-sessions")
    cachereg.begin("two-sessions")
    assert [f.freed for f in frames] == [False, True, False, True]


def test_incremental_dedup_digest_mode_equivalent(spark):
    """Round-8 (r7 VERDICT #7): class_key="digest" (one md5 per
    shingle) must produce the same pairs as the default chain key,
    including clone families split across the index/batch boundary
    and shingles that would trick separator-joined keys."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon"),      # clone in index
         (3, "totally different content here now"),
         (4, "x-y z a b c d e f g")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon"),     # clone of 1,2
         (11, "alpha beta gamma delta zeta"),        # near-dup
         (12, "x y-z a b c d e f g")],               # separator trick
        "doc_id long, text string")
    outs = {}
    for mode in ("chain", "digest"):
        idx = dedup.build_dedup_index(corpus, class_key=mode)
        out = dedup.incremental_minhash_dedup(batch, idx, class_key=mode)
        outs[mode] = {tuple(r) for r in out.collect()}
    assert outs["chain"] == outs["digest"]
    pairs = {(r[0], r[1]) for r in outs["chain"]}
    assert (1, 10) in pairs and (2, 10) in pairs   # cross-boundary clones
    assert not any(12 in p and 4 in p and False for p in pairs)
    # docs 4 and 12 have DIFFERENT shingle sets; neither key may merge
    # them into one class (they can still near-dup via genuine jaccard)
    cls4 = dedup.build_dedup_index(corpus.filter("doc_id=4"),
                                   class_key="digest").select("cls").first()[0]
    cls12 = dedup.build_dedup_index(batch.filter("doc_id=12"),
                                    class_key="digest").select("cls").first()[0]
    assert cls4 != cls12


def test_digest_components_are_independent(spark):
    """r8 ADVICE (medium): the digest's second component must be an
    INDEPENDENT hash, not a GF(2)-linear mix of the first — the old
    xor(mix(h)) equaled mix(xor(h)) identically for EVERY set, adding
    zero collision resistance. With independent md5 slices the
    relation xor2 == mix(xor1) holds only by 2^-60 accident."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string")
    cls = dedup.build_dedup_index(df, class_key="digest") \
        .select("cls").first()[0]
    size, xor1, xor2 = cls.split("-")
    assert size == "6"  # 8 tokens -> 6 trigram shingles
    v = int(xor1)
    mixed = ((v << 13) ^ (v >> 7)) & ((1 << 64) - 1)
    # normalize to signed 64-bit like Spark's long
    if mixed >= 1 << 63:
        mixed -= 1 << 64
    assert int(xor2) != mixed
    # and the two components genuinely differ from each other
    assert xor1 != xor2


def test_corpus_pipeline_codebook_is_bounded(spark, monkeypatch):
    """r7 VERDICT #1 done-criterion guard: the pipeline's only driver
    exchange is the kmeans codebook, and its k is capped at max_k —
    never linear in the corpus. Captured by intercepting the trainer."""
    from zolo_spark.llm import corpus as corpus_mod
    from zolo_spark.llm import similarity as sim_mod

    seen = {}
    real = sim_mod.kmeans_train

    def spy(df, k=8, iters=2, **kw):
        seen["k"] = k
        return real(df, k=k, iters=iters, **kw)

    monkeypatch.setattr(sim_mod, "kmeans_train", spy)
    docs = spark.createDataFrame(
        [(i, f"unique doc text number {i} tail {i*13}", "en", "s", 30)
         for i in range(1, 13)],
        "doc_id long, text string, lang string, source string, n_chars long")
    emb = spark.createDataFrame(
        [(i, [float((i >> d) & 1) + 0.1 * i for d in range(4)])
         for i in range(1, 13)],
        "vec_id long, embedding array<double>")
    corpus_mod.corpus_pipeline(docs, emb, cap=20, max_k=3,
                               quality_min=0.0, min_tokens=1,
                               max_punct=1.0).count()
    assert seen["k"] == 3  # min(max(8, 12//64), max_k=3) -> capped


def test_logreg_learns_separable_rule(spark):
    """The distributed trainer recovers a linearly separable rule from
    zero weights: y = 1 iff x1 > 0.5 on planted features."""
    from zolo_spark.llm import classifier

    rows = [(i, 1.0, (i % 10) / 10.0, 0.0, 0.0, 0.0, 0.0,
             1.0 if (i % 10) / 10.0 > 0.5 else 0.0) for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id long, x0 double, x1 double, x2 double, x3 double,"
              " x4 double, x5 double, label double")
    w = classifier.logreg_train(df, iters=60, lr=8.0)
    scored = classifier.classifier_scores(df, w)
    got = {r["doc_id"]: r["score"] for r in scored.collect()}
    acc = sum(
        ((got[i] >= 0.5) == ((i % 10) / 10.0 > 0.5)) for i in range(200)
    ) / 200
    assert acc >= 0.9
    assert w[1] > 0  # weight on the discriminative feature is positive


def test_logreg_gradient_step_matches_numpy(spark):
    """One GD step == the numpy reference with the same round-6 term
    discipline — pins the DECIMAL-sum gradient arithmetic."""
    import numpy as np

    from zolo_spark.llm import classifier

    rng = np.random.default_rng(5)
    X = rng.uniform(0, 1, size=(50, 6)); X[:, 0] = 1.0
    y = (X[:, 1] + 0.3 * X[:, 2] > 0.8).astype(float)
    rows = [(i, *[float(v) for v in X[i]], float(y[i])) for i in range(50)]
    df = spark.createDataFrame(
        rows, "doc_id long, x0 double, x1 double, x2 double, x3 double,"
              " x4 double, x5 double, label double")
    w = classifier.logreg_train(df, iters=1, lr=4.0)
    p = 1 / (1 + np.exp(-np.clip(X @ np.zeros(6), -30, 30)))
    g = np.array([np.sum(np.round((p - y) * X[:, j], 6)) for j in range(6)]) / 50
    expect = -4.0 * g
    assert np.allclose(w, expect, atol=1e-9)


def test_classifier_scoring_is_pure_codegen(spark):
    """No Python in the inference row path: the scoring plan carries
    no BatchEvalPython / ArrowEvalPython nodes."""
    from zolo_spark.llm import classifier, text

    docs = spark.createDataFrame(
        [(i, f"some text number {i}") for i in range(10)],
        "doc_id long, text string")
    out = classifier.classifier_quality_filter(
        text.text_stats(docs), [0.1] * 6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------- DSIR

def test_dsir_ranks_target_like_docs_first(spark):
    """Docs sharing the target sample's vocabulary must outrank docs
    with disjoint vocabulary, and weights must be monotone in rank."""
    from pyspark.sql import functions as F

    from zolo_spark.llm import dsir

    target_text = "quantum flux capacitor resonance chamber"
    noise_text = "banana apple orange pear grape melon"
    rows = (
        [(i, target_text) for i in range(5)]            # target sample
        + [(10 + i, target_text) for i in range(3)]     # target-like
        + [(20 + i, noise_text) for i in range(3)]      # off-domain
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id") < 5).select("doc_id")
    out = dsir.dsir_select(df, target, k=11).collect()
    ranked = [r["doc_id"] for r in out]
    # every target/target-like doc precedes every off-domain doc
    assert max(ranked.index(d) for d in [10, 11, 12]) < min(
        ranked.index(d) for d in [20, 21, 22])
    ws = [r["dsir_weight"] for r in out]
    assert ws == sorted(ws, reverse=True)


def test_dsir_target_duplicates_do_not_skew_ratios(spark):
    """r9 ADVICE (dsir.py): duplicate doc_ids in target_ids must not
    fan out the one-pass marginal's flag join — rc and tc (hence every
    log-ratio) must match the deduplicated call exactly."""
    from pyspark.sql import functions as F

    from zolo_spark.llm import dsir

    df = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i}") for i in range(8)],
        "doc_id long, text string")
    feats = dsir.hashed_ngram_features(df)
    clean = df.filter(F.col("doc_id") < 3).select("doc_id")
    dup = clean.union(clean).union(clean.limit(1))  # 3 → 7 rows
    want = {r["bucket"]: r["lr"]
            for r in dsir.dsir_log_ratios(feats, clean).collect()}
    got = {r["bucket"]: r["lr"]
           for r in dsir.dsir_log_ratios(feats, dup).collect()}
    assert got == want


def test_dsir_handles_empty_and_whitespace_docs(spark):
    """n=0 token arrays (empty / all-space text) must not break the
    bigram slice; such docs simply contribute no features."""
    from pyspark.sql import functions as F

    from zolo_spark.llm import dsir

    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "   "), (4, "solo")],
        "doc_id long, text string")
    feats = dsir.hashed_ngram_features(df).collect()
    ids = {r["doc_id"] for r in feats}
    assert ids == {1, 4}
    # doc 1: 2 unigrams + 1 bigram = 3 ngrams; doc 4: 1 unigram
    assert sum(r["c"] for r in feats if r["doc_id"] == 1) == 3
    assert sum(r["c"] for r in feats if r["doc_id"] == 4) == 1
    target = df.filter(F.col("doc_id") == 1).select("doc_id")
    out = dsir.dsir_select(df, target, k=10).collect()
    assert {r["doc_id"] for r in out} == {1, 4}


def test_logreg_ridge_update_matches_numpy(spark):
    """One L2 iteration: w = -lr*(g + λ*0) first step, then the ridge
    term bites on step two — replay both in numpy float64."""
    import numpy as np

    from zolo_spark.llm import classifier

    rng = np.random.RandomState(7)
    X = rng.uniform(0, 1, size=(40, 6)); X[:, 0] = 1.0
    y = (X[:, 1] > 0.5).astype(float)
    rows = [(i, *[float(v) for v in X[i]], float(y[i])) for i in range(40)]
    df = spark.createDataFrame(
        rows, "doc_id long, x0 double, x1 double, x2 double, x3 double,"
              " x4 double, x5 double, label double")
    got = classifier.logreg_train(df, iters=2, lr=4.0, l2=0.1)
    w = np.zeros(6)
    for _ in range(2):
        p = 1 / (1 + np.exp(-np.clip(X @ w, -30, 30)))
        g = np.array([np.sum(np.round((p - y) * X[:, j], 6))
                      for j in range(6)]) / 40
        w = np.array([w[j] - 4.0 * (g[j] + 0.1 * w[j]) for j in range(6)])
    assert np.allclose(got, w, atol=1e-12)


def test_ovr_predict_argmax_and_ties(spark):
    """Argmax on rounded scores; exact ties go to the lowest class."""
    from zolo_spark.llm import classifier

    # weights chosen so doc features produce controllable scores:
    # model c scores sigmoid(wc·x); with x=(1,0,...,0) score=sigmoid(w0)
    df = spark.createDataFrame(
        [(1, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0)],
        "doc_id long, x0 double, x1 double, x2 double, x3 double,"
        " x4 double, x5 double")
    zero = [0.0] * 6
    m_hi = [2.0] + [0.0] * 5
    # distinct winner: class 1
    out = classifier.ovr_predict(df, [zero, m_hi, zero]).collect()[0]
    assert out["pred_class"] == 1 and out["s1"] > out["s0"]
    # three-way tie -> class 0
    out = classifier.ovr_predict(df, [zero, zero, zero]).collect()[0]
    assert out["s0"] == out["s1"] == out["s2"] == 0.5
    assert out["pred_class"] == 0
    # tie between 1 and 2 beating 0 -> class 1
    out = classifier.ovr_predict(df, [zero, m_hi, m_hi]).collect()[0]
    assert out["pred_class"] == 1


def test_train_ovr_learns_separable_classes(spark):
    """Three linearly separable classes on x1 must be recovered with
    high accuracy by the one-vs-rest ensemble."""
    import numpy as np

    from pyspark.sql import functions as F

    from zolo_spark.llm import classifier

    rng = np.random.RandomState(3)
    rows = []
    for i in range(150):
        c = i % 3
        x = [0.1 + rng.uniform(-0.05, 0.05) for _ in range(3)]
        x[c] = 0.9 + rng.uniform(-0.05, 0.05)  # one-hot-ish clusters
        rows.append((i, 1.0, float(x[0]), float(x[1]), float(x[2]),
                     0.0, 0.0, c))
    df = spark.createDataFrame(
        rows, "doc_id long, x0 double, x1 double, x2 double, x3 double,"
              " x4 double, x5 double, cls int")
    models = classifier.train_ovr(df, 3, iters=25, lr=4.0, l2=0.01)
    pred = classifier.ovr_predict(df.drop("cls"), models)
    acc = (pred.join(df.select("doc_id", "cls"), "doc_id")
           .filter(F.col("pred_class") == F.col("cls")).count()) / 150
    assert acc >= 0.9, acc


def test_ccnet_buckets_tercile_semantics(spark):
    """Bucket sizes are ~N/3 with head = lowest NLL, and boundary
    rows (score == cut) land in the lower bucket."""
    from zolo_spark.llm import lm

    rows = [(i, float(i)) for i in range(9)]  # mean_nll 0..8
    scores = spark.createDataFrame(rows, "doc_id long, mean_nll double")
    out = {r["doc_id"]: r["bucket"]
           for r in lm.perplexity_buckets(scores).collect()}
    # terciles of 0..8: t1 = 8/3 ≈ 2.6667, t2 = 16/3 ≈ 5.3333
    assert [out[i] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3)


def test_ccnet_buckets_no_global_sort(spark):
    """The bucket assignment must not plan a corpus-wide sort or
    window — one aggregate + a broadcast join only."""
    from zolo_spark.llm import lm

    scores = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(50)],
        "doc_id long, mean_nll double")
    plan = lm.perplexity_buckets(scores)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Window" not in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_minibatch_schedule_is_id_pure_and_converges(spark):
    """The bucket schedule depends only on ids (stable under
    resharding), empty buckets produce zero updates, and the trainer
    still recovers a separable signal."""
    import numpy as np

    from pyspark.sql import functions as F

    from zolo_spark.llm import classifier

    rng = np.random.RandomState(5)
    X = rng.uniform(0, 1, size=(200, 6)); X[:, 0] = 1.0
    y = (X[:, 1] > 0.5).astype(float)
    rows = [(i, *[float(v) for v in X[i]], float(y[i])) for i in range(200)]
    schema = ("doc_id long, x0 double, x1 double, x2 double, x3 double,"
              " x4 double, x5 double, label double")
    df = spark.createDataFrame(rows, schema)
    w1 = classifier.logreg_train_minibatch(df, iters=40, lr=2.0)
    # resharded input -> identical weights (schedule is id-pure)
    w2 = classifier.logreg_train_minibatch(df.repartition(7), iters=40,
                                           lr=2.0)
    assert w1 == w2
    scored = classifier.classifier_scores(df, w1)
    acc = (scored.join(df.select("doc_id", "label"), "doc_id")
           .filter((F.col("score") >= 0.5).cast("double") == F.col("label"))
           .count()) / 200
    assert acc >= 0.8, acc
    # ids outside every bucket k%4 never happens, but an EMPTY batch
    # (iters beyond a tiny corpus's buckets) must not crash or NaN
    tiny = spark.createDataFrame(rows[:2], schema)
    w3 = classifier.logreg_train_minibatch(tiny, iters=8, lr=1.0)
    assert all(v == v for v in w3)  # no NaN


def test_quality_ensemble_audits_every_doc_and_conjunction(spark):
    """Every document gets a decision row; kept is the conjunction of
    all three signal families (a doc failing only the classifier—or
    only the bucket—must be dropped)."""
    from zolo_spark.llm import corpus

    good = ("the quick brown fox jumps over the lazy dog and then "
            "walks back home through the quiet evening streets " * 4)
    rows = ([(i, good + f" marker{i}") for i in range(8)]
            + [(100, "!!! ??? ,,, ;;; ###")]          # heuristic fail
            + [(101, "zz qq xx vv kk jj ww yy")])     # distributional odd
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus.quality_ensemble(df, iters=5)
           .collect()}
    assert len(out) == 10                       # full audit, not survivors
    assert out[100]["kept"] is False            # punct heuristic fails
    for r in out.values():                      # conjunction honored
        expect = (r["quality"] >= 0.5 and r["score"] >= 0.5
                  and r["bucket"] != "tail")
        # n_tokens/punct are folded into quality_filter thresholds the
        # gate re-applies; kept can only be True if all visible
        # signals pass
        if r["kept"]:
            assert expect


def test_temperature_mix_flattens_skew_deterministically(spark):
    """alpha=0.7 keeps the largest source at rate 1 and gives smaller
    sources HIGHER rates (flattening); alpha=1 keeps natural
    proportions (all rates 1); membership is id-pure."""
    from pyspark.sql import functions as F

    from zolo_spark.llm import corpus

    rows = ([(i, "a") for i in range(800)]
            + [(1000 + i, "b") for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = {r["lang"]: r for r in corpus.temperature_mix(df).collect()}
    # flattening = keep ALL of the smallest source, downsample the big
    assert out["b"]["rate"] == 1.0 and out["b"]["kept"] == 100
    assert out["a"]["rate"] < 1.0
    # expected a-rate: (800^0.7/800) / (100^0.7/100) = 8^-0.3
    assert abs(out["a"]["rate"] - 8 ** -0.3) < 1e-4
    # kept mix is less skewed than the natural 8:1
    assert out["a"]["kept"] / out["b"]["kept"] < 800 / 100
    # alpha=1 -> natural mix: every rate 1, everything kept
    nat = {r["lang"]: r for r in corpus.temperature_mix(df, alpha=1.0)
           .collect()}
    assert all(r["rate"] == 1.0 and r["kept"] == r["n"]
               for r in nat.values())
    # id-pure: resharding changes nothing
    again = {r["lang"]: r for r in corpus.temperature_mix(
        df.repartition(13)).collect()}
    assert {k: (v["kept"], v["rate"]) for k, v in again.items()} == \
           {k: (v["kept"], v["rate"]) for k, v in out.items()}


def test_semdedup_k_is_driver_bounded():
    """r8 VERDICT item 1: the SemDeDup codebook size scales as N/64
    but must cap at SEMDEDUP_MAX_K — everything k-sized (the seed
    collect, the broadcast centroid matrix, kmeans_train's k x d
    driver rows) is otherwise linear in the corpus. One shared
    definition feeds the standalone gate AND the capstone."""
    from zolo_spark.llm import similarity

    assert similarity.semdedup_k(500) == 8            # sf0.01 regime
    assert similarity.semdedup_k(64 * 100) == 100     # ~64 per cell
    # 1B vectors: N//64 ~ 15.6M; the cap holds it at 4096
    assert similarity.semdedup_k(1_000_000_000) == similarity.SEMDEDUP_MAX_K
    assert similarity.SEMDEDUP_MAX_K == 4096
    # the capstone's default max_k is the SAME constant (None -> cap)
    import inspect

    from zolo_spark.llm import corpus

    sig = inspect.signature(corpus.corpus_pipeline)
    assert sig.parameters["max_k"].default is None


def test_dsir_sample_is_seeded_weighted_and_reshard_stable(spark):
    """Gumbel-top-k DSIR: deterministic per (id, seed) — reruns and
    reshards agree exactly; different seeds draw different sets; the
    draw is weight-BIASED (target-like docs selected far above their
    count share) without being the deterministic argmax."""
    from pyspark.sql import functions as F

    from zolo_spark.llm import dsir

    target_like = [(i, "machine learning models train on data")
                   for i in range(20)]
    noise = [(100 + i, f"random text number {i} about nothing")
             for i in range(180)]
    df = spark.createDataFrame(target_like + noise,
                               "doc_id long, text string")
    target = df.filter(F.col("doc_id") < 5).select("doc_id")

    a = {r["doc_id"] for r in dsir.dsir_sample(df, target, k=30).collect()}
    b = {r["doc_id"] for r in dsir.dsir_sample(df, target, k=30).collect()}
    assert a == b  # rerun-stable
    c = {r["doc_id"] for r in dsir.dsir_sample(
        df.repartition(13), target, k=30).collect()}
    assert a == c  # reshard-stable (id-pure noise)
    d = {r["doc_id"] for r in dsir.dsir_sample(
        df, target, k=30, seed=99).collect()}
    assert a != d  # a different seed is a different draw
    # weighted: target-like docs are 10% of the corpus but must
    # dominate the draw (their log-w is far higher)
    assert len([i for i in a if i < 100]) >= 15
    # sampling, not argmax: the draw differs from deterministic top-k
    topk = {r["doc_id"] for r in dsir.dsir_select(df, target, k=30).collect()}
    assert a != topk


def test_dsir_domain_select_matches_single_domain_path(spark):
    """A one-domain dsir_domain_select must reproduce dsir_select
    exactly (same weights, same ranks) — the pivoted multi-domain
    ratio/weight machinery is a pure generalization; and with two
    domains each domain's scores are independent of the other's
    presence (the raw marginal is shared, the target marginals are
    per-domain)."""
    from pyspark.sql import functions as F

    from zolo_spark.llm import dsir

    t1 = "quantum flux capacitor resonance chamber"
    t2 = "banana apple orange pear grape melon"
    rows = ([(i, t1) for i in range(4)] + [(10 + i, t2) for i in range(4)]
            + [(20, t1 + " extra"), (21, t2 + " extra"),
               (22, "wholly unrelated words here")])
    df = spark.createDataFrame(rows, "doc_id long, text string")

    single = {(r["doc_id"], r["dsir_weight"], r["rank"])
              for r in dsir.dsir_select(
                  df, df.filter(F.col("doc_id") < 4).select("doc_id"),
                  k=11).collect()}
    tgt_a = (df.filter(F.col("doc_id") < 4)
             .select("doc_id", F.lit("a").alias("domain")))
    got_a = {(r["doc_id"], r["dsir_weight"], r["rank"])
             for r in dsir.dsir_domain_select(df, tgt_a, {"a": 11})
             .collect()}
    assert got_a == single

    # adding a second domain leaves domain a's scores untouched
    tgt_ab = tgt_a.unionByName(
        df.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 14))
        .select("doc_id", F.lit("b").alias("domain")))
    both = dsir.dsir_domain_select(df, tgt_ab, {"a": 11, "b": 3}).collect()
    got_a2 = {(r["doc_id"], r["dsir_weight"], r["rank"])
              for r in both if r["domain"] == "a"}
    assert got_a2 == single
    b_rows = [r for r in both if r["domain"] == "b"]
    assert len(b_rows) == 3  # quota respected per domain
    # domain b's top docs are the t2-vocabulary ones
    assert {r["doc_id"] for r in b_rows} <= {10, 11, 12, 13, 21}


def test_temperature_mix_members_matches_audit(spark):
    """temperature_mix_members keeps exactly the rows the audit
    counts (kept per source == count of member rows), and membership
    is a pure function of ids (stable across calls)."""
    from pyspark.sql import functions as F

    from zolo_spark.llm import corpus

    df = spark.createDataFrame(
        [(i, "en" if i % 4 else "de") for i in range(200)],
        "doc_id long, lang string")
    audit = corpus.temperature_mix(df)
    members = corpus.temperature_mix_members(df, audit)
    got = {r["lang"]: r["n"] for r in
           members.groupBy("lang").agg(
               F.count(F.lit(1)).alias("n")).collect()}
    want = {r["lang"]: r["kept"] for r in audit.collect()}
    assert got == {k: v for k, v in want.items() if v > 0}
    again = {tuple(r) for r in
             corpus.temperature_mix_members(df, audit).collect()}
    assert again == {tuple(r) for r in members.collect()}


def _lev(a: str, b: str) -> int:
    """Textbook Wagner–Fischer — the test's independent truth."""
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[n]


def test_edit_distance_pairs_matches_brute_force(spark):
    """PassJoin blocking must be EXHAUSTIVE: on a deterministic
    mixed-length corpus (substitutions, indels that shift every later
    segment, equal-length families, strings shorter than d+1 whose
    segments are zero-length), the blocked join equals the naive
    all-pairs definition exactly — ids AND distances."""
    base = ["spark engine", "spark engines", "spork engine",
            "spark  engine", "sparkengine", "a", "ab", "b",
            "data warehouse", "data warehoose", "dta warehouse",
            "completely different string", ""]
    rows = [(i, s) for i, s in enumerate(base)]
    for d in (1, 2, 3):
        want = {(i, j, _lev(a, b))
                for i, a in rows for j, b in rows
                if i < j and _lev(a, b) <= d}
        df = spark.createDataFrame(rows, "doc_id long, s string")
        got = {(r["doc1"], r["doc2"], r["dist"])
               for r in dedup.edit_distance_pairs(
                   df, str_col="s", max_dist=d).collect()}
        assert got == want, f"d={d}: {got ^ want}"


def test_edit_distance_pairs_null_and_types(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, None), (3, "abd")], "doc_id long, s string")
    out = dedup.edit_distance_pairs(df, str_col="s", max_dist=1)
    assert [f.simpleString() for f in out.schema.fields] == \
        ["doc1:bigint", "doc2:bigint", "dist:bigint"]
    assert [(r["doc1"], r["doc2"], r["dist"])
            for r in out.collect()] == [(1, 3, 1)]


def test_remove_duplicate_spans_splice(spark):
    """Planted shared passage: covered tokens cut, clean docs pass
    through byte-identical (original CASING preserved — spans are
    positions from the lowercased gram pass), fully-covered docs
    become '' but keep their row."""
    shared = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, f"Alpha {shared} tail"),
         (2, f"Beta {shared} coda"),
         (3, "Entirely Unique Document Content"),
         (4, shared.upper()),      # exact clone pair (5): fully covered
         (5, shared.upper())],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["text_clean"], r["n_removed_tokens"])
           for r in dedup.remove_duplicate_spans(df, n=10).collect()}
    assert got[1] == ("Alpha tail", 10)
    assert got[2] == ("Beta coda", 10)
    assert got[3] == ("Entirely Unique Document Content", 0)
    assert got[4] == ("", 10) and got[5] == ("", 10)
    # one row per input document, always
    assert set(got) == {1, 2, 3, 4, 5}


def test_edit_distance_collapse_equals_pairwise_on_clones(spark):
    """Collapse-first must be bit-identical to the pairwise PassJoin
    on a clone-dense corpus (the 10×-replica rehearsal shape): clone
    families expand to within-class distance-0 pairs, cross-class
    pairs inherit the rep distance."""
    rows = [(i, s) for i, s in enumerate(
        ["alpha beta", "alpha beta", "alpha beta",   # 3-clone family
         "alpha bets", "alpha bets",                 # 2-clone, dist 1
         "gamma delta", "", ""])]                    # empty-string clones
    df = spark.createDataFrame(rows, "doc_id long, s string")
    for d in (1, 2):
        pw = {(r["doc1"], r["doc2"], r["dist"]) for r in
              dedup.edit_distance_pairs_pairwise(
                  df, "s", max_dist=d).collect()}
        cf = {(r["doc1"], r["doc2"], r["dist"]) for r in
              dedup.edit_distance_pairs(df, "s", max_dist=d).collect()}
        assert cf == pw, f"d={d}: {cf ^ pw}"
        # sanity: the clone family is fully connected at distance 0
        assert {(0, 1, 0), (0, 2, 0), (1, 2, 0), (3, 4, 0)} <= cf


def test_epoch_mix_upsampling(spark):
    """epoch_mix: rate 2.4 = two full epochs + a deterministic 0.4
    pass; rate 1 (or absent) = exactly one epoch; rate < 1 downsamples
    with the SAME membership rule as temperature_mix_members; rate 0
    drops the source; output is reshard/rerun-stable."""
    docs = spark.createDataFrame(
        [(i, "wiki" if i < 100 else ("web" if i < 300 else "code"))
         for i in range(400)], "doc_id long, lang string")
    out = corpus.epoch_mix(docs, {"wiki": 2.4, "code": 0.5},
                           source_col="lang")
    per = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # wiki: 100 docs x (2 + ~0.4) epochs; hash fraction is exact-count
    # deterministic, bounded loosely here, pinned exactly below
    assert 200 < per["wiki"] < 280
    assert per["web"] == 200          # absent => natural, one epoch
    assert 30 < per["code"] < 70      # 100 docs x ~0.5
    # epochs are 0..reps-1 per doc: every wiki doc has epochs {0,1}
    # at least, and docs with the extra pass have {0,1,2}
    eps = {r["doc_id"]: r["n"] for r in
           out.filter(F.col("lang") == "wiki").groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(eps.values()) <= {2, 3} and len(eps) == 100
    # fractional membership == the downsampling family's rule: the
    # wiki docs granted a third epoch are EXACTLY the docs a 0.4-rate
    # downsample keeps
    third = {d for d, n in eps.items() if n == 3}
    kept04 = {r["doc_id"] for r in corpus.temperature_mix_members(
        docs.filter(F.col("lang") == "wiki"),
        spark.createDataFrame([("wiki", 0.4)], "lang string, rate double"),
        source_col="lang").collect()}
    assert third == kept04
    # reshard invariance
    out2 = corpus.epoch_mix(docs.repartition(13), {"wiki": 2.4, "code": 0.5},
                            source_col="lang")
    assert {(r["doc_id"], r["epoch"]) for r in out.collect()} == \
        {(r["doc_id"], r["epoch"]) for r in out2.collect()}
    # rate 0 drops; rate exactly 2 gives two full epochs, no fraction
    out3 = corpus.epoch_mix(docs, {"wiki": 0.0, "code": 2.0},
                            source_col="lang")
    per3 = {r["lang"]: r["n"] for r in
            out3.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "wiki" not in per3 and per3["code"] == 200
